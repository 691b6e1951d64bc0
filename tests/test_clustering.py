"""K-means family: convergence, determinism, planted-cluster recovery,
and IVF-kmeans recall.

The fixture embeddings are isotropic (labels carry no geometric
signal -- measured: same-label mean cosine 0.0016 vs 0.0003 across),
so recovery/recall properties are asserted on PLANTED Gaussian
clusters built in-test; the fixture table exercises convergence and
determinism on realistic data.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from flink_ad_analytics_spark.operators.clustering import (
    hash_sampled_centroids,
    ivf_kmeans_topk,
    kmeans_fit,
    kmeans_predict,
)
from flink_ad_analytics_spark.operators.similarity import cosine_topk
from flink_ad_analytics_spark.sources.batch import load_table
from tests.conftest import SF_CORRECT


def _planted(spark, n_per=40, k=5, d=16, spread=0.05, seed=3):
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(k, d))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for c in range(k):
        pts = centers[c] + spread * rng.normal(size=(n_per, d))
        for i, p in enumerate(pts):
            rows.append((c * n_per + i, [float(x) for x in p], c))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def test_inertia_monotone_nonincreasing(spark):
    emb = load_table(spark, SF_CORRECT, "embeddings")
    _, hist = kmeans_fit(emb, k=8, max_iter=6)
    assert len(hist) >= 2
    assert all(b <= a + 1e-9 for a, b in zip(hist, hist[1:]))


def test_fit_deterministic(spark):
    emb = load_table(spark, SF_CORRECT, "embeddings").limit(300)
    c1, h1 = kmeans_fit(emb, k=6, max_iter=4)
    c2, h2 = kmeans_fit(emb, k=6, max_iter=4)
    assert np.array_equal(c1, c2)
    assert h1 == h2


def test_recovers_planted_clusters(spark):
    df = _planted(spark)
    cents, hist = kmeans_fit(df, k=5, max_iter=10, seed=11)
    pred = kmeans_predict(df, cents)
    joined = df.join(pred, "vec_id").groupBy("label", "cluster").count()
    per_label = {}
    for r in joined.collect():
        per_label.setdefault(r.label, []).append(r["count"])
    # each planted cluster maps overwhelmingly to one k-means cluster.
    # Lloyd's from a hash sample can land in a local optimum where one
    # planted cluster hosts two seeds (measured 0.945 here) -- the
    # bound asserts recovery, not global optimality.
    purity = sum(max(v) for v in per_label.values()) / 200
    assert purity >= 0.9, f"purity {purity}"


def test_ivf_kmeans_recall_on_clustered_data(spark):
    df = _planted(spark)
    cents, _ = kmeans_fit(df, k=5, max_iter=10, seed=11)
    qf = F.col("vec_id") % 40 == 0  # one query per planted cluster
    exact = cosine_topk(df, query_filter=qf, k=5)
    approx = ivf_kmeans_topk(df, cents, query_filter=qf, k=5, nprobe=1)
    truth = {(r.q_id, r.c_id) for r in exact.collect()}
    got = {(r.q_id, r.c_id) for r in approx.collect()}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.9, f"recall {recall}"


def test_hash_sampled_centroids_shape_and_determinism(spark):
    emb = load_table(spark, SF_CORRECT, "embeddings")
    a = hash_sampled_centroids(emb, 7).collect()
    b = hash_sampled_centroids(emb, 7).collect()
    assert [r.centroid_id for r in a] == list(range(7))
    assert [r.centroid for r in a] == [r.centroid for r in b]


def test_empty_cluster_keeps_old_centroid(spark):
    # k larger than distinct points: some clusters must go empty and
    # the fit must not NaN out
    rows = [(i, [float(i % 3), 0.0], 0) for i in range(12)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    cents, hist = kmeans_fit(df, k=8, max_iter=4)
    assert not np.isnan(cents).any()
    assert hist[-1] <= hist[0] + 1e-12


def test_update_stats_reproduce_first_iteration_centroids(spark):
    """The decimal-exact update statistics must agree with the fused
    Arrow pass: sum_x/n per (cluster, dim) == kmeans_fit's centroids
    after ONE iteration (same init, same assignment) within float
    tolerance -- tying the oracle bridge to the production path."""
    import numpy as np

    from flink_ad_analytics_spark.operators.clustering import (
        kmeans_fit,
        kmeans_update_stats,
    )
    from flink_ad_analytics_spark.sources.batch import load_table
    from tests.conftest import SF_CORRECT

    emb = load_table(spark, SF_CORRECT, "embeddings")
    k, seed = 6, 11
    cents_1iter, _ = kmeans_fit(emb, k=k, max_iter=1, seed=seed)
    stats = kmeans_update_stats(emb, k=k, seed=seed).collect()
    d = max(r["pos"] for r in stats) + 1
    got = np.zeros((k, d))
    for r in stats:
        got[r["centroid_id"], r["pos"]] = r["sum_x"] / r["n_vecs"]
    assert np.allclose(got, cents_1iter, atol=1e-9)


# -- product quantization --------------------------------------------------


def test_pq_codes_shape_and_determinism(spark):
    from flink_ad_analytics_spark.operators.clustering import pq_encode, pq_fit

    emb = load_table(spark, SF_CORRECT, "embeddings").limit(200)
    books = pq_fit(emb, m=8, k=16, max_iter=3)
    assert books.shape == (8, 16, 8)
    c1 = {r.vec_id: list(r.codes) for r in pq_encode(emb, books).collect()}
    c2 = {r.vec_id: list(r.codes) for r in pq_encode(emb, books).collect()}
    assert c1 == c2
    assert all(0 <= c < 16 for codes in c1.values() for c in codes)
    assert all(len(codes) == 8 for codes in c1.values())


def test_pq_recall_vs_exact_inner_product(spark):
    """ADC over PQ codes: the true top-5 inner-product neighbors must
    appear in the PQ top-20 (recall@R, the standard PQ criterion --
    within a tight cluster the quantized dot can't micro-rank
    near-identical neighbors, so recall@k=R is the honest gate), and
    every returned neighbor must come from the query's planted
    cluster (measured 0.92 / 1.00 here)."""
    from flink_ad_analytics_spark.operators.clustering import pq_fit, pq_topk

    df = _planted(spark, d=16)
    books = pq_fit(df, m=4, k=16, max_iter=6, seed=11)
    approx = pq_topk(
        df, books, query_filter=F.col("vec_id") % 40 == 0, k=20
    ).collect()

    rows = df.select("vec_id", "embedding", "label").collect()
    ids = np.array([r.vec_id for r in rows])
    x = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in rows])
    label = {r.vec_id: r.label for r in rows}
    hits = tot = pure = n_got = 0
    for q in ids[ids % 40 == 0]:
        qv = x[ids == q][0]
        scores = x @ qv
        scores[ids == q] = -np.inf
        truth = set(ids[np.argsort(-scores, kind="stable")[:5]])
        got = {r.c_id for r in approx if r.q_id == q}
        hits += len(truth & got)
        tot += 5
        pure += sum(1 for c in got if label[c] == label[q])
        n_got += len(got)
    assert hits / tot >= 0.8, f"PQ recall@20 {hits / tot}"
    assert pure / n_got >= 0.95, f"PQ label purity {pure / n_got}"


def test_pq_dims_not_divisible_raises(spark):
    from flink_ad_analytics_spark.operators.clustering import pq_fit

    emb = load_table(spark, SF_CORRECT, "embeddings").limit(50)
    with pytest.raises(ValueError):
        pq_fit(emb, m=7, k=4, max_iter=1)


@pytest.mark.parametrize("bad", [float("nan"), float("inf"), -float("inf")])
def test_dbl_arr_sql_rejects_non_finite(bad):
    """repr() spells non-finite doubles as bare identifiers (nan, inf):
    emitted into SQL they either fail to resolve or silently read a
    column of that name, so the literal builder must refuse them."""
    from flink_ad_analytics_spark.operators.clustering import _dbl_arr_sql

    assert _dbl_arr_sql([1.0, 0.5]) == "CAST(array(1.0,0.5) AS ARRAY<DOUBLE>)"
    with pytest.raises(ValueError, match=repr(bad)):
        _dbl_arr_sql([1.0, bad])


def test_pq_codes_stats_match_production_encoder(spark):
    """The decimal-exact SQL encoding (pq_codes_stats, the oracle
    bridge) must agree with the production numpy pq_encode given the
    SAME static codebooks -- tying the value-gated path to the fast
    path, as kmeans_update's bridge ties the Lloyd halves."""
    from flink_ad_analytics_spark.operators.clustering import (
        hash_sampled_centroids,
        pq_codes_stats,
        pq_encode,
    )

    emb = load_table(spark, SF_CORRECT, "embeddings")
    init = np.array(
        [
            r.centroid
            for r in sorted(
                hash_sampled_centroids(emb, 16, "vec_id", "embedding", 11).collect(),
                key=lambda r: r.centroid_id,
            )
        ],
        dtype=np.float64,
    )
    books = np.stack([init[:, j * 8 : (j + 1) * 8] for j in range(8)])
    fast = {
        r.vec_id: list(r.codes) for r in pq_encode(emb, books).collect()
    }
    exact = {}
    for r in pq_codes_stats(emb, m=8, k=16, seed=11).collect():
        exact.setdefault(r.vec_id, [0] * 8)[r.sub] = r.code
    assert fast == exact


def test_fixedpoint_kmeans_oracle_on_ties_and_empty_clusters(spark):
    """Adversarial fixture for the recursive oracle's corner paths:
    exact duplicate vectors (argmin TIES between equidistant
    centroids -> the lowest-cid rule must fire identically in both
    engines) and k larger than the number of DISTINCT points (some
    clusters go EMPTY and must carry their previous centroid)."""
    import duckdb
    import numpy as np
    import pandas as pd

    from flink_ad_analytics_spark.operators.clustering import (
        kmeans_fixedpoint,
        kmeans_fixedpoint_assign,
    )
    from flink_ad_analytics_spark.queries_pipeline import (
        KMEANS_CLUSTERS_SQL,
        _kmeans_fp_cte,
    )

    k, iters, seed = 6, 3, 11
    rng = np.random.default_rng(3)
    base = rng.normal(size=(4, 64)).astype(np.float32)  # only 4 distinct
    rows = []
    for i in range(24):
        rows.append(
            {
                "vec_id": i,
                "embedding": base[i % 4].tolist(),  # 6 exact copies each
                "label": i % 4,
            }
        )
    pdf = pd.DataFrame(rows)
    emb = spark.createDataFrame(
        pdf, "vec_id long, embedding array<float>, label int"
    )

    cent = kmeans_fixedpoint(emb, k=k, iters=iters, seed=seed)
    assigned = kmeans_fixedpoint_assign(emb, cent, extra=["label"])
    got = sorted(
        (r.vec_id, r.label, r.cluster, r.dist2) for r in assigned.collect()
    )

    con = duckdb.connect()
    con.register("embeddings", pdf)
    sql = (
        _kmeans_fp_cte(k, iters, seed)
        + f""",
assigned AS (
  SELECT v.vec_id, v.label, c.cid,
         list_sum(list_transform(generate_series(1, 64),
             i -> (v.q[i] - c.c[i]) * (v.q[i] - c.c[i]))) AS dist2
  FROM qv v, (SELECT * FROM cent WHERE it = {iters}) c
  QUALIFY ROW_NUMBER() OVER (
      PARTITION BY v.vec_id ORDER BY dist2, c.cid) = 1)
SELECT vec_id, label, CAST(cid AS BIGINT) AS cluster,
       CAST(dist2 AS BIGINT) AS dist2
FROM assigned"""
    )
    exp = sorted(tuple(r) for r in con.execute(sql).fetchall())
    assert got == exp
    # the fixture actually exercised both paths: with 4 distinct
    # points and k=6, at least two clusters must be empty (their
    # centroids carried), and duplicated points share assignments
    used = {c for _, _, c, _ in got}
    assert len(used) <= 4 < k
    by_vec = {v: c for v, _, c, _ in got}
    assert all(by_vec[i] == by_vec[i % 4] for i in range(24))


def test_fixedpoint_pq_oracle_on_duplicate_codewords(spark):
    """Duplicated vectors make the PQ codebook hold IDENTICAL
    codewords under different cids -- every encode is then a pure
    tie-break; both engines must pick the lowest cid everywhere."""
    import duckdb
    import numpy as np
    import pandas as pd

    from flink_ad_analytics_spark.operators.clustering import (
        pq_fixedpoint,
        pq_fixedpoint_topk,
    )
    from flink_ad_analytics_spark.queries_pipeline import (
        ANN_PQ_TOPK_SQL,
        _pq_fp_cte,
    )
    from pyspark.sql import functions as F

    m, k, iters, seed = 4, 8, 2, 11
    rng = np.random.default_rng(9)
    base = rng.normal(size=(3, 64)).astype(np.float32)
    pdf = pd.DataFrame(
        {
            "vec_id": range(18),
            "embedding": [base[i % 3].tolist() for i in range(18)],
            "label": [i % 3 for i in range(18)],
        }
    )
    emb = spark.createDataFrame(
        pdf, "vec_id long, embedding array<float>, label int"
    )
    cb = pq_fixedpoint(emb, m=m, k=k, iters=iters, seed=seed)
    got = sorted(
        (r.q_id, r.c_id, r.adc_dist2, r.rank)
        for r in pq_fixedpoint_topk(
            emb, cb, query_filter=F.col("vec_id") < 3, k=4, m=m
        ).collect()
    )
    con = duckdb.connect()
    con.register("embeddings", pdf)
    sql = ANN_PQ_TOPK_SQL.format(
        cte=_pq_fp_cte(m, k, iters, seed), iters=iters,
        dsub=64 // m, topk=4,
    ).replace("v.vec_id < 20", "v.vec_id < 3")
    exp = sorted(tuple(r) for r in con.execute(sql).fetchall())
    assert got == exp and len(got) == 12


def test_ivf_absorb_merged_lists_equal_full_assignment(spark):
    """The mergeability property ann_ivf_absorb rests on, asserted
    directly: assignment is pointwise in (vector, centroids), so
    standing lists + absorbed fresh shard == from-scratch assignment
    of the whole corpus under the SAME centroids -- list for list,
    quantized coordinate for coordinate. (The declared query's DuckDB
    oracle proves the end-to-end serve; this pins the algebra.)"""
    from pyspark.sql import functions as F

    from flink_ad_analytics_spark.operators.clustering import (
        ivf_fixedpoint_assign,
        kmeans_fixedpoint,
    )

    emb = load_table(spark, SF_CORRECT, "embeddings").limit(400)
    pred = F.substring(
        F.md5(F.concat(F.lit("absorb:"), F.col("vec_id").cast("string"))),
        1,
        1,
    ) == "0"
    cent = kmeans_fixedpoint(emb.filter(~pred), k=4, iters=2, seed=11)
    merged = ivf_fixedpoint_assign(emb.filter(~pred), cent).unionByName(
        ivf_fixedpoint_assign(emb.filter(pred), cent)
    )
    full = ivf_fixedpoint_assign(emb, cent)
    a = {(r["c_id"], r["bucket"], tuple(r["c_q"])) for r in merged.collect()}
    b = {(r["c_id"], r["bucket"], tuple(r["c_q"])) for r in full.collect()}
    assert a == b and len(a) == 400


def test_assign_prescreen_matches_reference(spark):
    """The r13 prescreened per-row argmin (`_assign_to_init`: double
    prescreen over literal centroids + exact decimal rescore of the
    margin survivors) is row- and value-identical to the preserved
    window form (`_assign_to_init_reference`: exact decimal fold for
    every (vector, centroid) pair + per-id rank window) -- on the
    fixture table AND on planted near-tie data where two centroids sit
    within the prescreen margin's deciding range."""
    from flink_ad_analytics_spark.operators.clustering import (
        _assign_to_init,
        _assign_to_init_reference,
    )

    emb = load_table(spark, SF_CORRECT, "embeddings")
    got = sorted(
        tuple(r) for r in _assign_to_init(emb, 10, "vec_id", "embedding", 11).collect()
    )
    ref = sorted(
        tuple(r)
        for r in _assign_to_init_reference(
            emb, 10, "vec_id", "embedding", 11
        ).collect()
    )
    assert got == ref and len(got) > 0

    # Near-tie stress: vectors equidistant (exactly, at 12dp) from two
    # sampled centroids must break to the LOWER centroid_id in both
    # forms; the duplicate-coordinate rows force exact-tie d2 values.
    rows = [
        (i, [float((i * 7 + j * 3) % 5) / 4.0 for j in range(8)])
        for i in range(40)
    ]
    rows += [(100 + i, rows[i][1]) for i in range(10)]  # exact duplicates
    tie = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got_t = sorted(
        tuple(r) for r in _assign_to_init(tie, 6, "vec_id", "embedding", 11).collect()
    )
    ref_t = sorted(
        tuple(r)
        for r in _assign_to_init_reference(
            tie, 6, "vec_id", "embedding", 11
        ).collect()
    )
    assert got_t == ref_t and len(got_t) == 50


def test_assign_decimal_domain_edge(spark):
    """The exact fold casts each squared coordinate difference to
    DECIMAL(20,16), so its domain is |x - y| < 100 per coordinate. At
    and past that edge, under the engine's ANSI conf, each form raises
    or returns the exact winner -- never a NULL-d2 row -- and the two
    agree whenever both answer. Without ANSI the overflow would be a
    NULL distance, so both forms refuse to run."""
    from flink_ad_analytics_spark.operators.clustering import (
        _assign_to_init,
        _assign_to_init_reference,
    )

    schema = "vec_id long, embedding array<float>"

    def run(assign, emb, k):
        try:
            rows = sorted(
                tuple(r) for r in assign(emb, k, "vec_id", "embedding", 11).collect()
            )
        except Exception as e:  # the JVM's ArithmeticException, via Py4J
            assert "NUMERIC_VALUE_OUT_OF_RANGE" in str(e), e
            return None
        assert rows and all(d2 is not None for _, _, d2 in rows), rows
        return rows

    def both(emb, k):
        return run(_assign_to_init, emb, k), run(_assign_to_init_reference, emb, k)

    # Just inside: 99.5^2 = 9900.25 fits, and the forms agree.
    inside = spark.createDataFrame([(0, [0.0, 0.0]), (1, [99.5, 0.0])], schema)
    got, ref = both(inside, 1)
    assert got == ref and [float(d2) for _, _, d2 in got] in ([0.0, 9900.25],
                                                             [9900.25, 0.0])
    # On the edge: a gap of exactly 100 overflows in both forms.
    edge = spark.createDataFrame([(0, [0.0, 0.0]), (1, [100.0, 0.0])], schema)
    assert both(edge, 1) == (None, None)
    # Two clusters 1,000 apart: every far pair is out of the domain.
    # k=2 samples both centroids from one cluster, so points of the other
    # overflow in both forms; at k=3 and k=4 every point has a centroid
    # in range, and the prescreen form answers where the reference form
    # (which scores every pair) raises.
    far = spark.createDataFrame(
        [(i, [float((i % 2) * 1000 + (i % 7) * 7), 1.0]) for i in range(20)], schema
    )
    for k in (2, 3, 4):
        got, ref = both(far, k)
        if got is not None and ref is not None:
            assert got == ref, k
    assert both(far, 3)[0] is not None

    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        for assign in (_assign_to_init, _assign_to_init_reference):
            with pytest.raises(ValueError, match="ansi"):
                assign(edge, 1, "vec_id", "embedding", 11)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)


def test_fp_assign_inline_matches_reference(spark):
    """The r13 literal-argmin fixed-point assignment (`_fp_assign`:
    one bound integer-distance array per row, array_position
    tie-break) is row- and value-identical to the preserved
    broadcast-join + rank-window reference on the fixture table.
    (`_pq_fp_assign` deliberately stays on the window form -- the CASE
    variant lost its A/B; see the operator docstring.)"""
    from flink_ad_analytics_spark.operators.clustering import (
        _fp_assign,
        _fp_assign_reference,
        _fp_quantize,
        kmeans_fixedpoint,
    )

    emb = load_table(spark, SF_CORRECT, "embeddings")
    cent = kmeans_fixedpoint(emb, k=10, iters=2, seed=11)
    qv = _fp_quantize(emb, "vec_id", "embedding")
    got = sorted(
        tuple(r)
        for r in _fp_assign(qv, cent, "vec_id")
        .select("vec_id", "cid", "dist2")
        .collect()
    )
    ref = sorted(
        tuple(r)
        for r in _fp_assign_reference(qv, cent, "vec_id")
        .select("vec_id", "cid", "dist2")
        .collect()
    )
    assert got == ref and len(got) > 0
