"""Round-9 invariants: the four ADVICE r8 fixes (model-store GC of
fingerprint-stranded artifacts, the rek-oracle scale guard, fixed-point
temperature weights, fusion-constant interpolation) and the r9
operator work.

Reference parity note: these cover THIS repo's analytical surface; the
reference (ovh/catalyst) has no analogue — its querying is delegated
to the TSDB backend (reference README).
"""

from __future__ import annotations

import json

import pytest

from tests.conftest import SF_DIR


def test_gc_stale_artifacts(tmp_path, monkeypatch):
    """ADVICE r8 + r9: artifacts whose stored fingerprint mismatches
    the live one are reaped (file + dir forms, unreadable meta
    included); current-fingerprint artifacts survive regardless of
    tag/params — coexisting hyperparameter variants must not be
    collected. FAMILY SCOPE (ADVICE r9 high): an embeddings-fingerprint
    pass never judges documents-keyed artifacts (the corpus band index
    would otherwise be reaped every session, defeating its
    persistence); a documents pass reaps only that family. RACE GUARD
    (reworked r12, VERDICT r11 item 7): an in-flight save/restore is
    signalled by the writer's fresh `.inflight` SENTINEL — which
    protects even artifacts whose own files carry preserved OLD mtimes
    (a backup restore; the previous artifact-mtime guard left exactly
    those exposed) — while an EXPIRED sentinel (crashed writer) is
    cleared and the artifact judged normally, and fresh mtimes alone
    no longer shield anything (writers always hold a sentinel now)."""
    import os

    from catalyst_spark import model_store as ms

    monkeypatch.setenv("CATALYST_ANN_MODEL_DIR", str(tmp_path))
    sf = "/data/sfX"
    base = tmp_path / ms._sf_tag(sf)
    base.mkdir(parents=True)
    live = [10, 20, 30, 40]
    stale = [1, 2, 3, 4]
    doc_live = [5, 6, 7, 8]
    old = 1_000_000_000  # epoch mtime safely past the grace window

    def put(tag, fp, as_dir=False, meta=None, fp_of=None, recent=False):
        data = base / f"{tag}.parquet"
        if as_dir:
            data.mkdir()
            (data / "part-0.parquet").write_bytes(b"x")
        else:
            data.write_bytes(b"x")
        body = meta
        if body is None:
            m = {"version": 1, "fingerprint": fp, "params": {}}
            if fp_of is not None:
                m["fp_of"] = fp_of
            body = json.dumps(m)
        (base / f"{tag}.json").write_text(body)
        if not recent:
            os.utime(data, (old, old))
            os.utime(base / f"{tag}.json", (old, old))

    put("kmeans_full", live)
    put("kmeans_full_k32", live)        # other params, same fp: keep
    put("kmeans_old", stale)
    put("pq_codes", stale, as_dir=True)
    put("kmeans_broken", live, meta="{not json")
    # documents-family artifacts: live one keeps, stale one is reaped
    # only by the documents pass — NEVER by the embeddings pass even
    # though its fingerprint mismatches the embeddings one
    put("corpus_band_index", doc_live, as_dir=True, fp_of="documents")
    put("corpus_band_old", stale, as_dir=True, fp_of="documents")
    # stale fp, PRESERVED OLD MTIMES on data+meta (a backup restore in
    # flight), but a fresh writer sentinel: must survive — the exact
    # case the old artifact-mtime guard got wrong
    put("kmeans_inflight", stale)
    ms.inflight_sentinel(base / "kmeans_inflight.json").touch()
    # stale fp with fresh mtimes but NO sentinel: writers always hold a
    # sentinel now, so fresh mtimes alone shield nothing — reaped
    put("kmeans_fresh_nosent", stale, recent=True)
    # stale fp whose sentinel EXPIRED (crashed writer): sentinel is
    # cleared and the artifact reaped
    put("kmeans_crashed", stale)
    crashed_sent = ms.inflight_sentinel(base / "kmeans_crashed.json")
    crashed_sent.touch()
    os.utime(crashed_sent, (old, old))
    assert ms.gc_stale_artifacts(sf, live) == 5
    assert not crashed_sent.exists()
    names = sorted(p.name for p in base.iterdir())
    assert names == [
        "corpus_band_index.json", "corpus_band_index.parquet",
        "corpus_band_old.json", "corpus_band_old.parquet",
        "kmeans_full.json", "kmeans_full.parquet",
        "kmeans_full_k32.json", "kmeans_full_k32.parquet",
        "kmeans_inflight.inflight",
        "kmeans_inflight.json", "kmeans_inflight.parquet",
    ]
    # documents pass reaps the stale documents artifact, keeps the live
    assert ms.gc_stale_artifacts(sf, doc_live, fp_of="documents") == 1
    assert not (base / "corpus_band_old.json").exists()
    assert (base / "corpus_band_index.json").exists()
    # idempotent; missing dir is a no-op
    assert ms.gc_stale_artifacts(sf, live) == 0
    assert ms.gc_stale_artifacts("/data/absent", live) == 0


def test_gc_toctou_recheck_before_delete(tmp_path, monkeypatch):
    """ADVICE r12 (TOCTOU): a writer that touches the sentinel AFTER
    GC's first stat but completes its os.replace(data) BEFORE GC's
    unlink must not have the fresh data reaped (stranding
    meta-without-data). Simulated deterministically: the sentinel
    appears during the meta read — inside the window between GC's two
    checks — and the re-check immediately before the deletes must see
    it and skip the artifact."""
    import json as _json

    from catalyst_spark import model_store as ms

    monkeypatch.setenv("CATALYST_ANN_MODEL_DIR", str(tmp_path))
    sf = "/data/sfX"
    base = tmp_path / ms._sf_tag(sf)
    base.mkdir(parents=True)
    (base / "kmeans_racy.parquet").write_bytes(b"x")
    (base / "kmeans_racy.json").write_text(
        _json.dumps({"version": 1, "fingerprint": [1, 2], "params": {}}))
    sent = ms.inflight_sentinel(base / "kmeans_racy.json")

    class _WriterArrivesMidPass:
        @staticmethod
        def loads(s):
            sent.touch()  # the concurrent save_* begins here
            return _json.loads(s)

    monkeypatch.setattr(ms, "json", _WriterArrivesMidPass)
    assert ms.gc_stale_artifacts(sf, [9, 9]) == 0
    assert (base / "kmeans_racy.parquet").exists()
    assert (base / "kmeans_racy.json").exists()
    # the writer finishes (sentinel removed): the next pass reaps
    monkeypatch.setattr(ms, "json", _json)
    sent.unlink()
    assert ms.gc_stale_artifacts(sf, [9, 9]) == 1


def test_rek_oracle_scale_guard():
    """ADVICE r8: the rek oracles pin k=_REK_K=16, valid only while
    _serving_k(N) == 16; the oracle must ENFORCE that precondition by
    erroring on an oversized corpus instead of silently comparing
    against a wrong-k model."""
    import duckdb

    from catalyst_spark.queries.oracles import ORACLE_SQL
    from catalyst_spark.queries.pipeline import _REK_N0, _serving_k

    sql = ORACLE_SQL["ann_sq8_ivf_rek_topk"]
    assert "error(" in sql  # the chk CTE is present
    con = duckdb.connect()
    # a corpus one row past the schedule's first doubling point
    n_bad = 4 * _REK_N0
    assert _serving_k(n_bad) == 32
    con.execute(
        "CREATE VIEW embeddings AS "
        f"SELECT range AS vec_id, [0.5, 0.5] AS embedding, "
        f"'a' AS label FROM range({n_bad})"
    )
    with pytest.raises(duckdb.Error, match="rek oracle"):
        con.execute(sql).fetchall()


def test_fusion_oracle_constants_interpolated():
    """ADVICE r8: the fusion oracle fragments must track _FUSION_R /
    _FUSION_MISS from the pipeline module, not re-state them."""
    from catalyst_spark.queries import oracles
    from catalyst_spark.queries.pipeline import _FUSION_MISS, _FUSION_R

    lex = oracles._fusion_lex_ctes()
    assert f"lrank <= {_FUSION_R}" in lex
    tail = oracles._fusion_tail()
    assert f"COALESCE(v.vrank, {_FUSION_MISS})" in tail
    # the recall row now lives in serving_overlap, which embeds both
    # fusion rungs' full SQL verbatim — the constants ride along
    rec = oracles.ORACLE_SQL["serving_overlap"]
    assert f"vrank <= {_FUSION_R}" in rec
    assert f"COALESCE(l.lrank, {_FUSION_MISS})" in rec


def test_temperature_resample_integer_exact(spark):
    """ADVICE r8: the sampling weight is fixed-point BIGINT so q_total
    is order-free; budget_tokens comes from exact integer division and
    the budgets can never exceed the budget in aggregate."""
    import math

    from catalyst_spark.queries.pipeline import (
        _TEMP_BUDGET,
        _TEMP_FX,
        temperature_resample,
    )

    rows = temperature_resample(spark, SF_DIR).collect()
    assert rows
    q = [math.floor(math.isqrt(r["src_tokens"] * _TEMP_FX * _TEMP_FX))
         for r in rows]
    # reference integer computation: floor(sqrt(n) * 2^20) ==
    # isqrt(n * 2^40) exactly (both are the integer part of the same
    # real number; sqrt's correct rounding cannot cross an integer
    # boundary because n * 2^40 is never a perfect-square boundary
    # case beyond the double's exact range at test scales)
    q_total = sum(q)
    for r, qi in zip(rows, q):
        assert r["budget_tokens"] == qi * _TEMP_BUDGET // q_total
    assert sum(r["budget_tokens"] for r in rows) <= _TEMP_BUDGET


def test_top_token_fold_matches_quadratic_shape(spark):
    """VERDICT r8 item 5: the O(n log n) sorted-run fold must equal the
    old O(n_distinct x n_tok) transform+filter count on every document
    (including all-identical and all-distinct token extremes)."""
    from catalyst_spark.queries.pipeline import _TOP_TOKEN_COUNT
    from pyspark.sql import functions as F

    rows = [("a b c a b a",), ("x",), ("y y y y",), ("p q r s",),
            ("",), ("t t s s",)]
    df = spark.createDataFrame(rows, ["text"])
    toks = "split(text, ' ')"
    out = df.select(
        F.expr(_TOP_TOKEN_COUNT.format(toks=toks)).alias("fold"),
        F.expr(f"array_max(transform(array_distinct({toks}), "
               f"t -> size(filter({toks}, x -> x = t))))").alias("quad"),
    ).collect()
    assert [r["fold"] for r in out] == [r["quad"] for r in out]
    assert [r["fold"] for r in out] == [3, 1, 4, 1, 1, 2]


def test_shard_apply_serves_persisted_index(spark, monkeypatch):
    """VERDICT r8 item 3: the corpus-side edge index must be READ from
    the model store, not band-join recomputed. Proof: after one build,
    a fresh (reset) call with the MinHash signature build forbidden
    still serves the index — the warm path never touches the corpus
    join —
    and the artifact sits under the model-store convention with the
    banding params in its metadata."""
    import json
    import os
    from pathlib import Path

    from catalyst_spark import model_store as ms
    from catalyst_spark.queries import pipeline as P

    out1 = P.incremental_shard_apply(spark, SF_DIR).collect()
    meta = Path(os.environ["CATALYST_ANN_MODEL_DIR"]) / ms._sf_tag(
        SF_DIR) / "corpus_band_index.json"
    m = json.loads(meta.read_text())
    assert m["params"]["bands"] == P._MINHASH_BANDS
    assert m["params"]["shard_mod"] == P._SHARD_MOD
    # ADVICE r9: the meta is labelled with its fingerprint family so
    # the embeddings-fingerprint GC pass never reaps this index
    assert m["fp_of"] == "documents"

    P.reset_session_caches(spark)

    def _no(*a, **k):
        raise AssertionError("corpus band join recomputed")

    with monkeypatch.context() as mp:
        mp.setattr(P, "_minhash_sig_cand", _no)
        idx = P._corpus_band_index(spark, SF_DIR)
        assert {r["a_id"] for r in idx.collect()} is not None
    P.reset_session_caches(spark)
    out2 = P.incremental_shard_apply(spark, SF_DIR).collect()
    assert out1 == out2


def test_rek_scan_mass_reduction(spark):
    """VERDICT r8 item 2: the re-k schedule's win measured as SCAN MASS
    (candidate rows actually touched), not wall-clock — at any corpus
    the re-k'd rung must scan ~k_fixed/k_rek of the fixed rung's rows
    (nprobe/k theory; exact equality is not expected because cells are
    not perfectly balanced)."""
    from catalyst_spark.queries.pipeline import (
        _KMEANS_K,
        _serving_k,
        _sq8_ivf_cand,
    )
    from catalyst_spark.tables import load

    n = load(spark, SF_DIR, "embeddings").count()
    k = _serving_k(n)
    assert k == 2 * _KMEANS_K  # 500 rows: schedule serves 16, default 8
    fixed = _sq8_ivf_cand(spark, SF_DIR, "full", _KMEANS_K).count()
    rek = _sq8_ivf_cand(spark, SF_DIR, f"full_k{k}", k).count()
    assert 0 < rek < fixed
    # within 40% of the theoretical k-ratio (cell imbalance tolerance)
    assert abs(fixed / rek - k / _KMEANS_K) < 0.4 * (k / _KMEANS_K)


def test_cdc_resynchronizes_after_insertion(spark):
    """The CDC claim itself: prepend ONE token to every document and
    re-chunk. Content-defined boundaries resynchronize at the first
    boundary token, so only the first chunk of each doc changes —
    chunk-hash overlap with the original stays high — while the fixed
    8-token grid (chunk_dedup's geometry) shifts EVERY window after
    the edit and loses almost all matches. Computed in pure Python
    (independent of the Spark implementation) over the real corpus."""
    import hashlib

    from catalyst_spark.queries.pipeline import _CDC_MOD, _CHUNK_TOKENS
    from catalyst_spark.tables import load

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def cdc_chunks(toks):
        out, cur = [], []
        for w in toks:
            if h60(w) % _CDC_MOD == 0 and cur:
                out.append(" ".join(cur))
                cur = []
            cur.append(w)
        if cur:
            out.append(" ".join(cur))
        return out

    def grid_chunks(toks):
        return [" ".join(toks[i:i + _CHUNK_TOKENS])
                for i in range(0, len(toks), _CHUNK_TOKENS)]

    docs = [r["text"].split(" ")
            for r in load(spark, "/root/testdata/sf0.001", "documents")
            .select("text").collect()]
    docs = [t for t in docs if len(t) >= 3 * _CHUNK_TOKENS]
    assert len(docs) >= 100

    cdc_keep = grid_keep = cdc_tot = grid_tot = 0
    for toks in docs:
        edited = ["zzzinserted"] + toks
        a, b = set(cdc_chunks(toks)), set(cdc_chunks(edited))
        cdc_keep += len(a & b)
        cdc_tot += len(a)
        g, h = set(grid_chunks(toks)), set(grid_chunks(edited))
        grid_keep += len(g & h)
        grid_tot += len(g)
    cdc_rate = cdc_keep / cdc_tot
    grid_rate = grid_keep / grid_tot
    # CDC must keep the large majority of chunks; the fixed grid loses
    # (almost) everything because every boundary shifts by one token
    assert cdc_rate > 0.75, cdc_rate
    assert grid_rate < 0.15, grid_rate
    assert cdc_rate > 4 * grid_rate


def test_principal_direction_bounds_on_isotropic_corpus(spark):
    """On the near-isotropic synthetic embeddings (numpy: lambda2 /
    lambda1 = 0.93) there is no dominant direction for 3 power steps
    to converge to — and the operator's DIAGNOSTIC contract is exactly
    that: the Rayleigh estimate must sit between the mean eigenvalue
    (isotropy) and the top eigenvalue (hard upper bound for any
    Rayleigh quotient), far closer to the mean than a collapsed space
    would put it. Third-implementation eigendecomposition via numpy on
    the same quantized rows."""
    import numpy as np

    from catalyst_spark.queries.pipeline import (
        _EMB_FX,
        embedding_principal_direction,
    )
    from catalyst_spark.tables import load

    rows = embedding_principal_direction(spark, SF_DIR).collect()
    ray = rows[0]["rayleigh_ppb"] / 1e9
    emb = np.stack([
        np.floor(np.asarray(r["embedding"], dtype=np.float64) * _EMB_FX)
        for r in load(spark, SF_DIR, "embeddings").collect()
    ])
    w = np.linalg.eigvalsh(emb.T @ emb) / len(emb) / _EMB_FX ** 2
    assert w.mean() * 0.999 <= ray <= w[-1] * 1.001, (ray, w.mean(), w[-1])
    # isotropy verdict: nowhere near a collapsed space (top eig would
    # dominate); the estimate stays within 2x of the mean eigenvalue
    assert ray < 2 * w.mean()


def test_principal_direction_converges_on_anisotropic_corpus(
        spark, tmp_path):
    """The real convergence check: inject a dominant direction (every
    row gains a strong common component, lambda1 >> lambda2) and the
    3-step fixed-point iteration must align with numpy's top
    eigenvector (cos > 0.99) and report its eigenvalue to within 2%.
    This is the space the diagnostic exists to flag — mode collapse
    concentrates the spectrum exactly like this."""
    import numpy as np

    from catalyst_spark.queries.pipeline import (
        _EMB_FX,
        _LSH_DIM,
        embedding_principal_direction,
    )
    from catalyst_spark.tables import load

    base = np.stack([
        np.asarray(r["embedding"], dtype=np.float64)
        for r in load(spark, SF_DIR, "embeddings").collect()
    ])
    direction = np.arange(1, _LSH_DIM + 1, dtype=np.float64)
    direction /= np.linalg.norm(direction)
    skewed = base + 3.0 * np.outer(np.ones(len(base)), direction)
    d = tmp_path / "aniso"
    spark.createDataFrame(
        [(i, [float(x) for x in row], "a")
         for i, row in enumerate(skewed)],
        "vec_id long, embedding array<double>, label string",
    ).write.parquet(str(d / "embeddings.parquet"))

    rows = embedding_principal_direction(spark, str(d)).collect()
    v = np.array([r["loading"] for r in sorted(rows,
                                               key=lambda r: r["dim"])],
                 dtype=float)
    ray = rows[0]["rayleigh_ppb"] / 1e9
    q = np.floor(skewed * _EMB_FX)
    w, U = np.linalg.eigh(q.T @ q)
    cos = abs(v @ U[:, -1]) / (np.linalg.norm(v)
                               * np.linalg.norm(U[:, -1]))
    assert cos > 0.99, cos
    true_ray = w[-1] / len(q) / _EMB_FX ** 2
    assert 0.98 * true_ray <= ray <= 1.001 * true_ray, (ray, true_ray)
