"""Similarity search over embedding columns (array<float>).

Three operators:

* ``cosine_topk``          -- brute-force exact top-k: every query
  vector against every candidate. The correctness baseline.
* ``ivf_topk``             -- IVF-style bucketed ANN: vectors coarsely
  quantized by the sign pattern of their leading dimensions; queries
  search only their own bucket.
* ``cosine_near_dup_pairs`` -- all same-bucket pairs above a cosine
  threshold (embedding-level near-duplicate detection).

Physical shape: the similarity join is a (broadcast) join of vector
ROWS with the dot product computed as an in-row ``zip_with`` +
``aggregate`` fold -- whole-stage-codegen, no positional explode, no
shuffle keyed on vector position (an explode-join shuffles |dims| x
|pairs| rows over only |dims| distinct keys -- pure skew). Buckets are
the shuffle key for the ANN variants, so the search is embarrassingly
parallel; at 100 TB the bucket count scales with the corpus while
per-bucket work stays bounded.

Determinism engineering (oracle = DuckDB): each dot-product term is
the exact double product of two floats, rounded once to DECIMAL(20,16)
(deterministic), and accumulated in DECIMAL(38,16) -- decimal addition
is exact, so the fold equals DuckDB's order-independent SUM of the
same terms. The sum is rounded to 12dp before the double cast (keeps
the conversion exact); sqrt/division are correctly-rounded IEEE ops;
ranking orders by the *rounded* cosine with vec_id tiebreak. At
production scale the decimal trick can be swapped for raw double
folds; it exists so correctness is *provable* against an independent
engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

# Exact decimal dot-product fold over two array<float> columns.
_DOT_FOLD = (
    "CAST(round(aggregate("
    "zip_with({a}, {b}, (x, y) -> "
    "CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) AS DECIMAL(20,16))), "
    "CAST(0 AS DECIMAL(38,16)), "
    # decimal addition widens precision by 1, so the merge result must
    # be cast back to the accumulator type (exact at our magnitudes)
    "(acc, t) -> CAST(acc + t AS DECIMAL(38,16))), 12) AS DOUBLE)"
)


def _dot(a: str, b: str) -> F.Column:
    return F.expr(_DOT_FOLD.format(a=a, b=b))


# Plain double fold: same terms, sequential IEEE adds. Not
# order-independent across engines (so never used for final scores),
# but within 64 dims its error vs the exact decimal fold is
# < dims * ulp -- orders of magnitude inside the 1e-5 prefilter margin.
_DOT_FAST = (
    "aggregate(zip_with({a}, {b}, (x, y) -> "
    "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
    "CAST(0 AS DOUBLE), (acc, t) -> acc + t)"
)


def _dot_fast(a: str, b: str) -> F.Column:
    return F.expr(_DOT_FAST.format(a=a, b=b))


def _norm(col: str) -> F.Column:
    return F.sqrt(_dot(col, col))


def vector_norms(embeddings: DataFrame) -> DataFrame:
    """(vec_id, nrm): deterministic L2 norm per vector."""
    return embeddings.select("vec_id", _norm("embedding").alias("nrm"))


def _scored_pairs(
    left: DataFrame, right: DataFrame, on: list[str] | None
) -> DataFrame:
    """Join vector rows and score with the in-row cosine fold. Both
    inputs carry (<id alias>, <emb alias>, <pre-computed norm>)."""
    joined = (
        left.crossJoin(right) if not on else left.join(right, on)
    )
    return joined.withColumn(
        "cosine",
        F.round(_dot("q_emb", "c_emb") / (F.col("qn") * F.col("cn")), 6),
    )


def cosine_topk(
    embeddings: DataFrame,
    *,
    query_filter,
    k: int = 10,
    candidate_filter=None,
) -> DataFrame:
    """Exact brute-force cosine top-k for the query subset.

    ``query_filter``: Column predicate choosing query vectors (they
    search against the full table, excluding self).
    ``candidate_filter``: optional metadata predicate restricting the
    SEARCH SET (filtered vector search). Applied BEFORE scoring --
    pre-filtering, pushed to the candidate scan -- so every query
    still gets k survivors; post-filtering an unfiltered top-k would
    under-fill k whenever matches are sparse.
    Output: (q_id, c_id, cosine, rank), rank 1..k per query.

    The exact decimal fold is interpreted (non-codegen) and so ~100x
    the cost of the double fold; running it on every pair dominated
    the whole bench. Instead every pair is scored with the codegen
    double fold, each query keeps only pairs within a margin of its
    k-th approximate score, and the decimal-exact cosine + norms run
    on those ~k survivors per query. Provably identical output: fold
    error < 1e-10 and 6dp rounding moves a score < 5e-7, so a pair
    filtered out (approx < kth_approx - 2e-6) has at least k pairs
    strictly above it in rounded cosine and cannot be in the exact
    top-k.

    r13 (guide §8: shuffle keys and metadata, not payloads): the
    pruning window's exchange used to carry BOTH embedding arrays for
    every (query, candidate) pair -- |candidates| x |queries| x vector
    bytes through one hash(q_id) shuffle, the dominant moved-bytes
    term at any real corpus size. The scored pair relation is now
    projected to (q_id, c_id, approx) BEFORE that exchange; the ~k
    surviving pairs per query then re-attach payloads by joining the
    (tiny, bounded by queries x ~k) survivor set back to the
    broadcast query relation and -- broadcast itself -- to a fresh
    candidate scan, so embedding bytes never cross a shuffle at all.
    One extra candidate-table scan buys the payload-free exchange;
    output is row-identical (the prune decides on exactly the same
    (q_id, c_id, approx) triples).
    """
    # zero-norm vectors have no defined cosine and, under ANSI mode
    # (this session's default), would abort the whole job with
    # DIVIDE_BY_ZERO -- excluded from both sides, like the quantized
    # path (where scale=0 quantizes to NULL)
    queries = F.broadcast(
        embeddings.filter(query_filter).select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_emb"),
            F.sqrt(_dot_fast("embedding", "embedding")).alias("qnf"),
        ).filter(F.col("qnf") > 0)
    )
    base = (
        embeddings.filter(candidate_filter)
        if candidate_filter is not None
        else embeddings
    )
    cands = base.select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("c_emb"),
        F.sqrt(_dot_fast("embedding", "embedding")).alias("cnf"),
    ).filter(F.col("cnf") > 0)
    pairs = (
        cands.crossJoin(queries)
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id",
            "c_id",
            (
                _dot_fast("q_emb", "c_emb") / (F.col("qnf") * F.col("cnf"))
            ).alias("approx"),
        )
    )
    wq = Window.partitionBy("q_id")
    wr = wq.orderBy(F.col("approx").desc())
    pruned = (
        pairs.withColumn("__ar", F.row_number().over(wr))
        .withColumn(
            "__kth", F.max(F.when(F.col("__ar") == k, F.col("approx"))).over(wq)
        )
        # __kth is NULL when a query has < k candidates: keep them all
        .filter(
            F.col("__kth").isNull()
            | (F.col("approx") >= F.col("__kth") - F.lit(2e-6))
        )
        .select("q_id", "c_id")
    )
    survivors = F.broadcast(
        pruned.join(queries.select("q_id", "q_emb"), "q_id")
    ).join(
        base.select(
            F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb")
        ),
        "c_id",
    )
    scored = survivors.withColumn(
        "cosine",
        F.round(_dot("q_emb", "c_emb") / (_norm("q_emb") * _norm("c_emb")), 6),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "c_id", "cosine", "rank")
    )


IVF_SIGN_DIMS = 4  # 2^4 = 16 coarse buckets


def sign_bucket(emb_col: str = "embedding", dims: int = IVF_SIGN_DIMS) -> F.Column:
    """Coarse quantizer: bitmask of sign bits of the leading dims."""
    total = None
    for i in range(dims):
        bit = F.when(F.element_at(F.col(emb_col), i + 1) > 0, 1 << i).otherwise(0)
        total = bit if total is None else total + bit
    return total.cast("int")


def ivf_topk(
    embeddings: DataFrame,
    *,
    query_filter,
    k: int = 5,
) -> DataFrame:
    """Bucketed ANN: search only the query's sign-pattern bucket.

    Recall < 1 by construction (neighbors in other buckets are
    unseen) -- deterministically so, in engine and oracle alike;
    cosine_topk is the exact reference. Output adds the bucket id.
    """
    bucketed = embeddings.withColumn("bucket", sign_bucket())
    # same two-stage scoring as cosine_topk: the exact decimal fold is
    # interpreted (~100x the codegen double fold), so every same-bucket
    # pair is first scored with the fast double cosine, each query
    # keeps pairs within the proven 2e-6 margin of its k-th approx
    # score, and the decimal-exact cosine runs on the ~k survivors.
    # Zero-norm vectors excluded (undefined cosine; ANSI div-by-zero).
    queries = bucketed.filter(query_filter).select(
        F.col("vec_id").alias("q_id"),
        F.col("bucket"),
        F.col("embedding").alias("q_emb"),
        F.sqrt(_dot_fast("embedding", "embedding")).alias("qnf"),
    ).filter(F.col("qnf") > 0)
    cands = bucketed.select(
        F.col("vec_id").alias("c_id"),
        F.col("bucket"),
        F.col("embedding").alias("c_emb"),
        F.sqrt(_dot_fast("embedding", "embedding")).alias("cnf"),
    ).filter(F.col("cnf") > 0)
    # r13 (guide §8, same as cosine_topk): the pruning exchange carries
    # (q_id, c_id, bucket, approx) only; the ~k survivors per query
    # re-attach payloads from the broadcast query relation and a fresh
    # candidate scan, so embedding bytes never cross a shuffle.
    pairs = (
        cands.join(F.broadcast(queries), ["bucket"])
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id",
            "c_id",
            "bucket",
            (
                _dot_fast("q_emb", "c_emb") / (F.col("qnf") * F.col("cnf"))
            ).alias("approx"),
        )
    )
    wq = Window.partitionBy("q_id")
    wr = wq.orderBy(F.col("approx").desc())
    pruned = (
        pairs.withColumn("__ar", F.row_number().over(wr))
        .withColumn(
            "__kth", F.max(F.when(F.col("__ar") == k, F.col("approx"))).over(wq)
        )
        .filter(
            F.col("__kth").isNull()
            | (F.col("approx") >= F.col("__kth") - F.lit(2e-6))
        )
        .select("q_id", "c_id", "bucket")
    )
    survivors = F.broadcast(
        pruned.join(queries.select("q_id", "q_emb"), "q_id")
    ).join(
        embeddings.select(
            F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb")
        ),
        "c_id",
    )
    scored = survivors.withColumn(
        "cosine",
        F.round(_dot("q_emb", "c_emb") / (_norm("q_emb") * _norm("c_emb")), 6),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "c_id", "bucket", "cosine", "rank")
    )


def cosine_topk_vectorized(
    embeddings: DataFrame,
    *,
    query_filter,
    k: int = 10,
    round_to: int | None = None,
    max_cosine: float | None = None,
) -> DataFrame:
    """Production-scale brute-force top-k: Arrow-batched NumPy matmul.

    The query set (a small explicit batch, as in any k-NN serving or
    eval workload) is collected and broadcast as a normalized matrix;
    candidates stream through ``mapInPandas``, each Arrow batch scored
    with one BLAS matmul. ~vector-width times faster than per-element
    SQL folds and the pattern that actually runs at 100 TB (the decimal
    ``cosine_topk`` stays as the oracle-provable reference; this one's
    float64 results agree to ~1e-12, asserted by tests).

    ``round_to``: round cosines to N decimals BEFORE ranking (ties
    then broken by c_id). With N=6 the output is comparable across
    engines -- float64 scoring noise (~1e-12) only shows if a value
    sits within it of a rounding boundary -- which is what lets this
    production path carry its own DuckDB oracle entry.
    """
    import numpy as np
    import pandas as pd

    rows = embeddings.filter(query_filter).select("vec_id", "embedding").collect()
    if not rows:
        spark = embeddings.sparkSession
        return spark.createDataFrame(
            [], "q_id long, c_id long, cosine double, rank long"
        )
    q_ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    q = np.array([r.embedding for r in rows], dtype=np.float64)
    # zero-norm queries have no defined cosine: numpy would emit NaN
    # rows (and Spark ranks NaN FIRST in desc order) -- drop them,
    # consistent with the SQL paths
    qnorm = np.linalg.norm(q, axis=1)
    keep = qnorm > 0
    q_ids, q, qnorm = q_ids[keep], q[keep], qnorm[keep]
    if len(q_ids) == 0:
        spark = embeddings.sparkSession
        return spark.createDataFrame(
            [], "q_id long, c_id long, cosine double, rank long"
        )
    qn = q / qnorm[:, None]
    bq = embeddings.sparkSession.sparkContext.broadcast((q_ids, qn))

    def score(batches):
        ids, qmat = bq.value
        for pdf in batches:
            cand = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            cnorm = np.linalg.norm(cand, axis=1)
            ok = cnorm > 0  # zero-norm candidates: cosine undefined, drop
            if not ok.all():
                cand, cnorm = cand[ok], cnorm[ok]
            if len(cand) == 0:
                continue
            cand /= cnorm[:, None]
            sims = qmat @ cand.T  # (n_queries, batch)
            c_ids = pdf["vec_id"].to_numpy()[ok]
            for qi, qid in enumerate(ids):
                yield pd.DataFrame(
                    {"q_id": qid, "c_id": c_ids, "cosine": sims[qi]}
                )

    scored = embeddings.select("vec_id", "embedding").mapInPandas(
        score, "q_id long, c_id long, cosine double"
    )
    if round_to is not None:
        scored = scored.withColumn("cosine", F.round(F.col("cosine"), round_to))
    if max_cosine is not None:
        # hard-negative mining (DPR, Karpukhin et al. 2020): the most
        # similar candidates that are NOT near-duplicates -- exclude
        # scores at/above the near-dup threshold BEFORE ranking, so
        # every query still fills k. Applied to the rounded score so
        # the DuckDB oracle's threshold comparison is bit-identical.
        scored = scored.filter(F.col("cosine") < F.lit(max_cosine))
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("c_id"))
    return (
        scored.filter(F.col("q_id") != F.col("c_id"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def cosine_near_dup_pairs(
    embeddings: DataFrame,
    *,
    threshold: float = 0.4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, sign-bucketed.

    All same-bucket vector pairs with rounded cosine >= threshold.
    The bucket restriction is the scale lever (candidates ~ n^2 / 2^k
    per bucket, shuffle key = bucket); recall is bucket-bounded and
    deterministic, with brute-force ``cosine_topk`` as the exact
    reference. Output: (vec_id_1, vec_id_2, bucket, cosine).
    """
    n_salts = 4
    n_part = 2 ** IVF_SIGN_DIMS * n_salts
    bucketed = embeddings.withColumn("bucket", sign_bucket())
    # Two scale levers on the candidate join:
    # * salting -- sign buckets are skewed (clustered corpora pile into
    #   few sign patterns), and a bucket's cost grows as n_b^2; the
    #   q-side scatters each bucket across n_salts deterministic
    #   sub-keys, the c-side replicates once per salt, so one hot
    #   bucket becomes n_salts tasks (pair set unchanged).
    # * explicit numPartitions pins the exchange: AQE sees a few-MB
    #   shuffle and would coalesce to one partition -- size-blind to
    #   the O(n_b^2) compute the join FANS OUT above it, which would
    #   serialize the scoring.
    a = bucketed.select(
        F.col("vec_id").alias("q_id"),
        F.col("bucket"),
        F.col("embedding").alias("q_emb"),
        _norm("embedding").alias("qn"),
        # pmod, not %: a signed id would salt outside [0, n_salts) and
        # silently skip the candidate side's {0..n_salts-1} replicas
        F.pmod(F.col("vec_id"), F.lit(n_salts)).cast("int").alias("__salt"),
    ).repartition(n_part, "bucket", "__salt")
    b = bucketed.select(
        F.col("vec_id").alias("c_id"),
        F.col("bucket"),
        F.col("embedding").alias("c_emb"),
        _norm("embedding").alias("cn"),
    ).withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    ).repartition(n_part, "bucket", "__salt")
    cand = (
        a.join(b, on=["bucket", "__salt"])
        .filter(F.col("q_id") < F.col("c_id"))
        .drop("__salt")
    )
    # Cheap double-precision prescreen: the exact (decimal-fold) score
    # is only computed for pairs within 1e-5 of the threshold; the
    # final filter re-applies the exact rounded cosine, so results are
    # bit-identical to the unprescreened plan. At near-dup thresholds
    # this removes the decimal arithmetic from ~all candidate pairs.
    approx = _dot_fast("q_emb", "c_emb") / (F.col("qn") * F.col("cn"))
    cand = cand.filter(approx >= F.lit(threshold - 1e-5))
    return (
        cand.withColumn(
            "cosine",
            F.round(_dot("q_emb", "c_emb") / (F.col("qn") * F.col("cn")), 6),
        )
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col("q_id").alias("vec_id_1"),
            F.col("c_id").alias("vec_id_2"),
            "bucket",
            "cosine",
        )
    )


def quantize_int8(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization.

    scale = max(|x_i|); q_i = floor(x_i / scale * 127 + 0.5). The
    form every vector store ships for 4x footprint reduction before
    ANN search. floor(x + 0.5) rather than round(): half-up floor is
    bit-identical across engines, while round() ties-to-even vs
    half-away differs between them.

    Returns (id, n_dims, scale, l1_q, q_csv): l1_q is the exact
    integer L1 norm of the quantized vector (pins every component
    into the oracle hash without float summation), q_csv the
    comma-joined components (arrays surface as strings -- list
    results reach pandas as unhashable arrays and break the driver's
    sort/hash gate).

    Pure per-row projection: no shuffle, no UDF; the float32->double
    casts are exact, / and * are IEEE-identical in both engines, and
    all outputs are integers except scale (an exactly-converted
    float32).

    Zero vectors (scale = 0) keep NULL q/l1 rather than dividing.
    """
    ax = _ABS_EXPR.format(v=vec_col)
    base = emb.select(
        F.col(id_col),
        F.size(vec_col).cast("long").alias("n_dims"),
        F.array_max(F.expr(ax)).alias("scale"),
        F.col(vec_col),
    )
    q = _QUANT_EXPR.format(v=vec_col)
    quant = base.select(
        id_col,
        "n_dims",
        "scale",
        F.when(F.col("scale") > 0, F.expr(q)).alias("q"),
    )
    return quant.select(
        id_col,
        "n_dims",
        "scale",
        F.expr("aggregate(q, 0L, (acc, x) -> acc + abs(x))").alias("l1_q"),
        F.array_join(F.col("q"), ",").alias("q_csv"),
    )


#: Integer dot product: every term and the fold are exact BIGINT math,
#: so the result is engine-independent by construction -- no decimal
#: tricks needed. (127*127*dims*|values| stays far inside int64.)
_IDOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0L, (acc, t) -> acc + t)"
)

#: Global floor-scale quantization: floor(x * scale) per component --
#: the integer-geometry basis shared by the kNN graph (dedup.knn_graph)
#: and the k-center family (sampling.kcenter_*). ONE definition so a
#: rule tweak cannot desynchronize the operators' geometry from each
#: other or from their oracles (which splice the same formula).
FLOOR_SCALE_QUANT = "transform({v}, x -> CAST(floor(x * {scale}) AS BIGINT))"


def floor_scale_quant(vec_col: str, scale: int) -> F.Column:
    """Column form of FLOOR_SCALE_QUANT."""
    return F.expr(FLOOR_SCALE_QUANT.format(v=vec_col, scale=scale))


def int_dot(a: str, b: str) -> F.Column:
    """Column form of the exact integer dot product fold."""
    return F.expr(_IDOT.format(a=a, b=b))


#: Shared quantization expressions -- ONE definition consumed by both
#: quantize_int8 (the audited projection) and quantized_vecs (the
#: search-side form), so a rounding-rule tweak cannot desynchronize
#: the audited output from the vectors actually searched.
_ABS_EXPR = "transform({v}, x -> abs(CAST(x AS DOUBLE)))"
_QUANT_EXPR = (
    "transform({v}, x -> CAST(floor(CAST(x AS DOUBLE) / scale * 127.0D"
    " + 0.5D) AS BIGINT))"
)


def quantized_vecs(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, scale, q array<bigint>, n2 bigint): int8-quantized vectors
    (see quantize_int8) kept as arrays for search-side use, with the
    exact integer self-dot precomputed ONCE per vector (recomputing it
    inside a pair expression would fold it |other side| times on the
    quadratic join)."""
    ax = _ABS_EXPR.format(v=vec_col)
    base = emb.select(
        F.col(id_col),
        F.array_max(F.expr(ax)).alias("scale"),
        F.col(vec_col),
    )
    q = _QUANT_EXPR.format(v=vec_col)
    qd = base.select(
        id_col, "scale", F.when(F.col("scale") > 0, F.expr(q)).alias("q")
    )
    return qd.withColumn("n2", F.expr(_IDOT.format(a="q", b="q")))


def quantized_topk(
    emb: DataFrame,
    *,
    query_filter,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force top-k over int8-quantized vectors.

    The production memory/IO shape: candidates are scored in their 4x
    smaller quantized form; cosine = int_dot / sqrt(int_norm_q *
    int_norm_c), exact integer arithmetic up to the final IEEE
    sqrt/divide -- deterministic across engines WITHOUT decimal folds,
    which is the whole trick: quantization buys both the bandwidth
    savings and cheap provability. Scores approximate the float
    cosine (recall vs the exact path asserted in tests), ranking by
    (rounded score desc, c_id).
    """
    # all-zero vectors quantize to NULL (scale=0 -> no otherwise
    # branch): cosine is undefined for them, so they are excluded from
    # BOTH sides -- matching the oracle, where a NULL q vanishes from
    # the unnest. Without this, a zero vector in the corpus emits
    # NULL-scored rank rows the oracle does not have.
    # query_filter applies to the RAW emb frame (before the quantized
    # projection drops metadata columns), so label/metadata predicates
    # work exactly as they do in cosine_topk's filtered search
    def _qv(frame):
        return quantized_vecs(frame, id_col, vec_col).filter(
            F.col("q").isNotNull()
        )

    queries = F.broadcast(
        _qv(emb.filter(query_filter)).select(
            F.col(id_col).alias("q_id"),
            F.col("q").alias("qq"),
            F.col("n2").alias("qn2"),
        )
    )
    cands = _qv(emb).select(
        F.col(id_col).alias("c_id"),
        F.col("q").alias("cq"),
        F.col("n2").alias("cn2"),
    )
    idot = _IDOT.format(a="qq", b="cq")
    scored = (
        cands.crossJoin(queries)
        .filter(F.col("q_id") != F.col("c_id"))
        .withColumn(
            "qcosine",
            F.round(
                F.expr(
                    f"CAST({idot} AS DOUBLE) / "
                    "(sqrt(CAST(qn2 AS DOUBLE)) * sqrt(CAST(cn2 AS DOUBLE)))"
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("qcosine").desc(), F.col("c_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("q_id", "c_id", "qcosine", "rank")
    )


def semantic_decontaminate(
    emb: DataFrame,
    eval_pred,
    *,
    threshold: int,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_eval: int = 200_000,
) -> DataFrame:
    """SEMANTIC decontamination: flag training vectors whose exact
    integer-lattice dot product with ANY eval-set vector reaches
    ``threshold`` -- the embedding-similarity complement of the n-gram
    decontamination (operators/dedup.py::decontaminate):
    n-grams catch verbatim leakage, this catches paraphrase-level
    leakage the way SemDeDup-style pipelines do before training.

    Exactness: both sides quantize to floor(x * scale) BIGINT lattice
    coordinates, so every dot is an exact integer and the flag set is
    engine-reproducible (full DuckDB oracle). The scoring matmul runs
    in float64 BLAS under a TWO-SIDED, per-batch certificate
    (dims * max|eval| * max|train_batch| < 2^53, and each operand
    < 2^53 itself) -- unlike dedup.knn_graph, whose one matrix serves
    both operands, the disjoint sides here must each be certified.
    Past that bound the batch falls back to int64 (exact while the
    dot bound fits 2^63); past THAT, it refuses -- numpy int64 matmul
    wraps silently, and a wrong flag set is worse than an error.

    Scale shape: the EVAL side is small by nature (benchmarks, held-out
    splits) -- it collects (cap enforced, fail-loud) and broadcasts as
    one matrix; the TRAIN corpus streams through mapInPandas in Arrow
    batches, one BLAS matmul per batch, emitting only flagged rows.
    No shuffle anywhere: a pure map over the corpus scan, embarrassing
    parallel at any corpus size. Ties for the best eval match break to
    the SMALLER eval id (argmax picks the first maximum over the
    id-ascending eval matrix).

    Output: (``id_col``, eval_id, dot) -- one row per flagged train
    vector, its best-matching eval vector, and their exact dot.
    """
    return semantic_decontaminate_against(
        emb.filter(~eval_pred),
        emb.filter(eval_pred),
        threshold=threshold,
        scale=scale,
        id_col=id_col,
        vec_col=vec_col,
        max_eval=max_eval,
    )


def semantic_decontaminate_against(
    train: DataFrame,
    eval_emb: DataFrame,
    *,
    threshold: int,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_eval: int = 200_000,
) -> DataFrame:
    """Core of semantic_decontaminate with the two sides explicit:
    ``eval_emb`` is a BATCH relation of raw (id, vector) rows (it is
    collected and broadcast); ``train`` may be a batch OR STREAMING
    frame (the gate is a stateless mapInPandas, so the same code is
    the streaming ingest twin -- streaming/jobs.py wraps it). BOTH
    sides are quantized HERE at the same ``scale`` -- taking a
    pre-quantized eval side invited silently mismatched lattices.
    Caller guarantees the sides are disjoint."""
    import numpy as np
    import pandas as pd

    eval_q = eval_emb.select(
        F.col(id_col), floor_scale_quant(vec_col, scale).alias("__q")
    )
    rows = eval_q.limit(max_eval + 1).collect()
    if len(rows) > max_eval:
        raise ValueError(
            f"semantic_decontaminate eval side exceeds max_eval="
            f"{max_eval}: eval splits are small by nature; for "
            "corpus-x-corpus similarity use the banded ANN family"
        )
    spark = eval_q.sparkSession
    if not rows:
        if train.isStreaming:
            raise ValueError(
                "semantic_decontaminate_against: empty eval side with a "
                "streaming train side -- an always-empty streaming gate "
                "is a misconfiguration, not a result"
            )
        return spark.createDataFrame(
            [], f"{id_col} long, eval_id long, dot long"
        )
    rows.sort(key=lambda r: r[id_col])
    e_ids = np.array([r[id_col] for r in rows], dtype=np.int64)
    e_mat = np.stack([np.asarray(r["__q"], dtype=np.int64) for r in rows])
    dims = e_mat.shape[1]
    e_qmax = int(np.abs(e_mat).max())
    bc = spark.sparkContext.broadcast(
        (e_ids, e_mat, e_mat.astype(np.float64), e_qmax)
    )

    def flag(batches):
        b_ids, b_mat, b_matf, b_eqmax = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[pdf.columns[0]].to_numpy()
            m = np.stack(
                [np.asarray(v, dtype=np.int64) for v in pdf["__q"]]
            )
            # TWO-SIDED exactness certificate, per batch: unlike
            # knn_graph (both operands from one collected matrix) the
            # sides here are disjoint, so the train batch's magnitudes
            # must be certified too -- |dot| <= dims * max|e| * max|m|
            # and every int64 operand must itself fit float64
            # (< 2^53). Falls back to exact int64 for the batch.
            m_qmax = int(np.abs(m).max()) if m.size else 0
            if dims * b_eqmax * m_qmax < 2**53 and m_qmax < 2**53:
                dots = (m.astype(np.float64) @ b_matf.T).astype(np.int64)
            elif dims * b_eqmax * m_qmax < 2**63:
                # int64 matmul is exact while |dot| fits the type
                dots = m @ b_mat.T
            else:
                # numpy int64 matmul WRAPS silently past 2^63 -- there
                # is no exact fixed-width path left, so refuse rather
                # than flag on corrupted dots (magnitudes this large
                # mean the quantization scale is wrong for the data)
                raise ValueError(
                    "semantic_decontaminate: lattice magnitudes "
                    f"(dims={dims}, max|eval|={b_eqmax}, "
                    f"max|train|={m_qmax}) exceed exact int64 range; "
                    "lower the quantization scale"
                )
            # no self-pair handling needed: the caller guarantees the
            # two sides are disjoint
            best = dots.argmax(axis=1)
            best_dot = dots[np.arange(len(ids)), best]
            keep = best_dot >= threshold
            yield pd.DataFrame(
                {
                    id_col: ids[keep],
                    "eval_id": b_ids[best[keep]],
                    "dot": best_dot[keep],
                }
            )

    tq = train.select(
        F.col(id_col), floor_scale_quant(vec_col, scale).alias("__q")
    )
    return tq.mapInPandas(
        flag, f"{id_col} long, eval_id long, dot long"
    )
