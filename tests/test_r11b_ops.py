"""Round-11b invariants: the cluster-balanced data-pruning sampler
(SSL-prototypes/D4 shape), the Matryoshka dimension-truncation
recall sweep, and the per-source total-variation drift scalar.

Reference parity note: these cover THIS repo's analytical surface; the
reference (ovh/catalyst) has no analogue — its querying is delegated
to the TSDB backend (reference README).
"""

from __future__ import annotations

import math

from tests.conftest import SF_DIR


def test_cluster_balanced_sample_quota_arithmetic(spark):
    """Every cell keeps EXACTLY floor(sqrt(cell_size)) members (the
    concave quota — dominant clusters pruned hardest, singletons
    always survive), ranks run 1..quota, and the kept members are the
    cell's d2-largest under the (d2 DESC, vec_id) order."""
    from catalyst_spark.queries import pipeline as P
    from pyspark.sql import functions as F

    assign = P._coarse_assign(spark, SF_DIR)
    sizes = {r["c_id"]: r["n"] for r in
             assign.groupBy("c_id").agg(
                 F.count(F.lit(1)).alias("n")).collect()}

    rows = P.cluster_balanced_sample(spark, SF_DIR).collect()
    by_cell = {}
    for r in rows:
        by_cell.setdefault(r["c_id"], []).append(r)
    assert set(by_cell) == set(sizes)
    for c_id, members in by_cell.items():
        quota = int(math.floor(math.sqrt(sizes[c_id])))
        assert len(members) == quota, c_id
        ranks = sorted(r["rk"] for r in members)
        assert ranks == list(range(1, quota + 1)), c_id
        for r in members:
            assert r["n_vecs"] == sizes[c_id]
            assert r["quota"] == quota
        # the rounded display d2 is nonincreasing along the keep rank
        by_rank = sorted(members, key=lambda r: r["rk"])
        for a, b in zip(by_rank, by_rank[1:]):
            assert a["d2"] >= b["d2"] - 1e-9, c_id


def test_cluster_balanced_sample_keeps_least_prototypical(spark):
    """The keep policy is keep-hard: within each cell, every DROPPED
    vector's distance-to-centroid is <= every KEPT vector's (up to the
    vec_id tie at the boundary) — recomputed here from the cached
    model with numpy, independently of the operator's SQL fold."""
    import numpy as np

    from catalyst_spark.queries import pipeline as P
    from catalyst_spark.tables import load
    from pyspark.sql import functions as F

    emb = load(spark, SF_DIR, "embeddings")
    v = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e"))
    C, cids = P._kmeans_model(spark, SF_DIR)
    cent = {int(c): np.asarray(row) for c, row in zip(cids, C)}
    assign = {r["vec_id"]: r["c_id"]
              for r in P._coarse_assign(spark, SF_DIR).collect()}
    vecs = {r["vec_id"]: np.asarray(r["e"]) for r in v.collect()}
    kept = {r["vec_id"] for r in
            P.cluster_balanced_sample(spark, SF_DIR).collect()}

    d2 = {vid: float(((x - cent[assign[vid]]) ** 2).sum())
          for vid, x in vecs.items()}
    by_cell = {}
    for vid in vecs:
        by_cell.setdefault(assign[vid], []).append(vid)
    for c_id, vids in by_cell.items():
        kept_in = [v_ for v_ in vids if v_ in kept]
        dropped = [v_ for v_ in vids if v_ not in kept]
        if not dropped:
            continue
        # boundary tolerance: ranking ties break by vec_id and the SQL
        # fold differs from numpy by ~1e-13 relative at worst
        min_kept = min(d2[v_] for v_ in kept_in)
        max_dropped = max(d2[v_] for v_ in dropped)
        assert max_dropped <= min_kept + 1e-9, c_id


def test_dim_truncation_recall_self_check_and_bounds(spark):
    """The d=64 rung scans the exact baseline against itself and must
    read 1000 permille; every rung's n_pairs is 5 x |probe set| and
    hits never exceeds it; the hits column is reproduced by a hand
    intersection of the sliced-scan top-5 with the brute baseline."""
    from catalyst_spark.queries import pipeline as P

    rows = {r["dim_prefix"]: r for r in
            P.dim_truncation_recall(spark, SF_DIR).collect()}
    assert set(rows) == set(P._MRL_DIMS)
    brute = P.ann_brute_topk(spark, SF_DIR).collect()
    n_probes = len({r["q_id"] for r in brute})
    for d, r in rows.items():
        assert r["n_pairs"] == 5 * n_probes, d
        assert 0 <= r["hits"] <= r["n_pairs"], d
        assert r["recall_permille"] == (r["hits"] * 1000) // r["n_pairs"]
    assert rows[64]["hits"] == rows[64]["n_pairs"]
    assert rows[64]["recall_permille"] == 1000


def test_new_ops_have_oracles_and_clean_plans(spark):
    """Registry contract for the r11b additions: both ops are
    registered with oracle SQL, and their executed plans contain no
    CartesianProduct and no row-at-a-time Python (BatchEvalPython)."""
    from catalyst_spark.queries import ALL_QUERIES, ORACLE_SQL

    for name in ("cluster_balanced_sample", "dim_truncation_recall",
                 "source_token_tvd", "ann_mrl_rerank_topk"):
        assert name in ALL_QUERIES and name in ORACLE_SQL
        plan = (ALL_QUERIES[name](spark, SF_DIR)
                ._jdf.queryExecution().executedPlan().toString())
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name


def test_source_token_tvd_matches_python_recompute(spark):
    """The drift scalar is a true total-variation distance: bounded in
    [0, 1000] permille, and equal to an independent pure-python
    recomputation of 1/2 * sum_t |p_s(t) - p(t)| (cleared-denominator
    integer arithmetic) over the raw corpus."""
    from collections import Counter

    from catalyst_spark.queries import pipeline as P
    from catalyst_spark.tables import load

    docs = load(spark, SF_DIR, "documents").select(
        "source", "text").collect()
    corpus = Counter()
    per_src: dict[str, Counter] = {}
    for r in docs:
        toks = r["text"].split(" ")
        corpus.update(toks)
        per_src.setdefault(r["source"], Counter()).update(toks)
    n = sum(corpus.values())

    got = {r["source"]: r for r in
           P.source_token_tvd(spark, SF_DIR).collect()}
    assert set(got) == set(per_src)
    for src, cnt in per_src.items():
        n_s = sum(cnt.values())
        pre = sum(abs(c_s * n - corpus[t] * n_s)
                  for t, c_s in cnt.items())
        cov = sum(corpus[t] for t in cnt)
        want = ((pre + (n - cov) * n_s) * 1000) // (2 * n * n_s)
        row = got[src]
        assert row["n_tokens"] == n_s, src
        assert row["n_types"] == len(cnt), src
        assert row["tvd_permille"] == want, src
        assert 0 <= row["tvd_permille"] <= 1000, src


def test_ann_mrl_rerank_serves_from_probed_cells_only(spark):
    """The truncated-dim serving rung's contract: every returned
    neighbor is a member of one of the query's nprobe=2 probed cells
    (the index path never touches the rest of the corpus), ranks run
    1..5 per query under exact-cosine order, and the emitted cos is
    the true full-dim cosine (independently recomputed)."""
    import math

    from catalyst_spark.queries import pipeline as P
    from catalyst_spark.tables import load
    from pyspark.sql import functions as F

    emb = load(spark, SF_DIR, "embeddings")
    v = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e"))
    assign = {r["vec_id"]: r["c_id"]
              for r in P._coarse_assign(spark, SF_DIR).collect()}
    probed = {}
    for r in P._probe_top2(spark, SF_DIR, v).collect():
        probed.setdefault(r["q_id"], set()).add(r["c_id"])
    vecs = {r["vec_id"]: list(r["e"]) for r in v.collect()}

    def _cos(a, b):
        s = na = nb = 0.0
        for x, y in zip(a, b):
            s += x * y
        for x in a:
            na += x * x
        for y in b:
            nb += y * y
        return s / (math.sqrt(na) * math.sqrt(nb))

    rows = P.ann_mrl_rerank_topk(spark, SF_DIR).collect()
    assert rows
    by_q = {}
    for r in rows:
        by_q.setdefault(r["q_id"], []).append(r)
        assert assign[r["neighbor_id"]] in probed[r["q_id"]], r
        want = round(_cos(vecs[r["q_id"]], vecs[r["neighbor_id"]]), 2)
        assert abs(float(r["cos"]) - want) <= 0.01, r
    for q, rs in by_q.items():
        ranks = sorted(r["rank"] for r in rs)
        assert ranks == list(range(1, len(rs) + 1)), q
        by_rank = sorted(rs, key=lambda r: r["rank"])
        for a, b in zip(by_rank, by_rank[1:]):
            assert a["cos"] >= b["cos"] - 1e-9, q
