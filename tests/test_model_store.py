"""Cross-session ANN model persistence (VERDICT r5 item 2): a fresh
session must serve the stored centroids/codebooks/codes bit-exactly
without refitting, and a stale store (data fingerprint mismatch) must
be ignored."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _vec(spark):
    from catalyst_spark.tables import load

    return load(spark, SF_DIR, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )


@pytest.fixture
def fresh_store(spark, tmp_path, monkeypatch):
    """Empty model store + empty session caches before AND after, so
    this test never leaks trained state into the session-scoped dir."""
    from catalyst_spark.queries.pipeline import reset_session_caches

    monkeypatch.setenv("CATALYST_ANN_MODEL_DIR", str(tmp_path / "models"))
    reset_session_caches(spark)
    yield tmp_path / "models"
    reset_session_caches(spark)


def test_fresh_session_reuses_stored_model_bit_exactly(
    spark, fresh_store, monkeypatch
):
    import catalyst_spark.queries.pipeline as P
    from catalyst_spark import model_store

    C_a, cids_a = P._kmeans_model(spark, SF_DIR)
    codes_a, _ = P._pq_model(spark, SF_DIR)
    rows_a = sorted(tuple(r) for r in codes_a.collect())
    topk_a = [tuple(r) for r in P.ann_pq_adc_topk(spark, SF_DIR).collect()]

    # "fresh session": drop every in-memory cache, then forbid training —
    # any refit or re-save proves the store was not used
    P.reset_session_caches(spark)

    def _no(*a, **k):
        raise AssertionError("model store miss: refit attempted")

    monkeypatch.setattr(P, "_kmeans_fit", _no)
    monkeypatch.setattr(model_store, "save_kmeans", _no)
    monkeypatch.setattr(model_store, "save_codes", _no)

    C_b, cids_b = P._kmeans_model(spark, SF_DIR)
    assert (C_a == C_b).all() and (cids_a == cids_b).all()  # bit-exact

    codes_b, _ = P._pq_model(spark, SF_DIR)
    assert sorted(tuple(r) for r in codes_b.collect()) == rows_a

    topk_b = [tuple(r) for r in P.ann_pq_adc_topk(spark, SF_DIR).collect()]
    assert topk_b == topk_a  # CORRECTNESS hashes unchanged by the store


def test_stale_fingerprint_is_ignored(spark, fresh_store):
    import catalyst_spark.queries.pipeline as P
    from catalyst_spark import model_store

    v = _vec(spark)
    fp = model_store.embeddings_fingerprint(v)
    P._kmeans_model(spark, SF_DIR)
    assert model_store.load_kmeans(SF_DIR, "full", fp) is not None
    stale = [fp[0] + 1, fp[1], fp[2]]  # regenerated-data fingerprint
    assert model_store.load_kmeans(SF_DIR, "full", stale) is None
    assert model_store.load_codes(spark, SF_DIR, stale) is None


def test_changed_train_params_invalidate_stored_model(
    spark, fresh_store, monkeypatch
):
    """The data fingerprint catches regenerated DATA; the params block
    must catch changed TRAINING CODE — a future bump to the Lloyd
    iteration count may never serve a model trained by the old code."""
    import catalyst_spark.queries.pipeline as P
    from catalyst_spark import model_store

    v = _vec(spark)
    fp = model_store.embeddings_fingerprint(v)
    P._kmeans_model(spark, SF_DIR)
    assert model_store.load_kmeans(SF_DIR, "full", fp) is not None
    monkeypatch.setattr(P, "_KMEANS_ITERS", P._KMEANS_ITERS + 1)
    assert model_store.load_kmeans(SF_DIR, "full", fp) is None
    assert model_store.load_codes(spark, SF_DIR, fp) is None


def test_kmeans_parquet_roundtrip_exact(tmp_path, monkeypatch):
    from catalyst_spark import model_store

    monkeypatch.setenv("CATALYST_ANN_MODEL_DIR", str(tmp_path))
    rng = np.random.default_rng(3)
    C = rng.standard_normal((7, 16))  # arbitrary doubles incl. tiny/huge
    C[0, 0], C[1, 1] = 1e-308, 1e17 + 0.123456789
    cids = np.array([0, 2, 3, 4, 5, 6, 7], dtype="i8")
    fp = [1, 2, 3]
    model_store.save_kmeans("/some/sf", "full", fp, C, cids)
    got = model_store.load_kmeans("/some/sf", "full", fp)
    assert got is not None
    C2, cids2 = got
    assert C2.shape == C.shape and (C2 == C).all()  # float64 bit-exact
    assert (cids2 == cids).all()
    # r12 GC race guard: a completed save leaves no in-flight sentinel
    assert not list((tmp_path / model_store._sf_tag("/some/sf"))
                    .glob("*.inflight"))
