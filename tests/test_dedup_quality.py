"""Dedup-family quality tests: the approximate operators (MinHash-LSH,
SimHash) must actually FIND the corpus's planted near-duplicates, with
the exhaustive n-gram Jaccard operator as ground truth.

Oracle parity (tests/test_oracle_parity.py) proves determinism; these
prove usefulness -- an LSH that deterministically finds nothing would
pass parity.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_ad_analytics_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from tests.conftest import SF_CORRECT


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_CORRECT}/documents.parquet")


@pytest.fixture(scope="module")
def truth_pairs(docs):
    """Exhaustive exact-Jaccard near-dups (threshold 0.2): the planted
    duplicate pairs of the fixture corpus."""
    return {
        (r.doc_id_1, r.doc_id_2)
        for r in ngram_jaccard_pairs(docs, threshold=0.2).collect()
    }


def test_fixture_has_planted_near_dups(truth_pairs):
    assert len(truth_pairs) >= 10  # corpus ships ~25 planted pairs


def test_minhash_lsh_recall(docs, truth_pairs):
    """4x4 banding catches high-jaccard pairs with P~0.99; on the
    planted pairs (j >= ~0.8) recall must be 100%."""
    lsh = {
        (r.doc_id_1, r.doc_id_2)
        for r in minhash_lsh_pairs(docs, threshold=0.2).collect()
    }
    assert lsh == truth_pairs


def test_simhash_recall_and_precision(docs, truth_pairs):
    """Hamming <= 7 on the 60-bit shingle SimHash: all planted pairs,
    nothing else (background hamming starts at ~18 on this corpus)."""
    sim = {
        (r.doc_id_1, r.doc_id_2) for r in simhash_pairs(docs).collect()
    }
    assert sim == truth_pairs


def test_exact_dedup_identity(docs):
    """No exact duplicates are planted: every fingerprint is unique,
    and the keeper covers every doc."""
    res = exact_dedup(docs).collect()
    assert sum(r.n_docs for r in res) == docs.count()
    assert all(r.n_docs == 1 for r in res)


@pytest.mark.parametrize("algorithm", ["min_label", "star"])
def test_connected_components_chain_and_singletons(spark, algorithm):
    """Both algorithms must traverse a multi-hop chain and leave
    singletons alone."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        "doc_id_1 long, doc_id_2 long",
    )
    vertices = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 10, 11, 20, 21, 22, 99]], "doc_id long"
    )
    from flink_ad_analytics_spark.operators.dedup import connected_components

    got = {
        r.doc_id: r.cluster_id
        for r in connected_components(
            edges, vertices, algorithm=algorithm
        ).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20, 99: 99}


def test_star_long_chain_converges_in_log_rounds(spark):
    """The adversarial-diameter case the star algorithm exists for: a
    single chain 0-1-...-100 (diameter 100). large-star/small-star
    must fully converge within 8 alternation rounds (O(log^2 n) --
    log2(101) ~ 6.7), where min-label propagation moves the label one
    hop per round and provably CANNOT finish in 10, so it must raise."""
    from flink_ad_analytics_spark.operators.dedup import connected_components

    n = 101
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_id_1 long, doc_id_2 long"
    )
    vertices = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")

    star = {
        r.doc_id: r.cluster_id
        for r in connected_components(
            edges, vertices, algorithm="star", max_iter=8
        ).collect()
    }
    assert star == {i: 0 for i in range(n)}

    # contrast: the diameter-bound algorithm, capped at 10 rounds, has
    # not yet propagated label 0 to the chain's far end -- and says so
    # instead of returning partial labels
    with pytest.raises(ValueError, match="after 10 rounds"):
        connected_components(
            edges, vertices, algorithm="min_label", max_iter=10
        )


def test_stop_shingle_pruning_only_shrinks_scores(spark):
    """With max_shingle_df set, |A| and |B| come from the UNPRUNED
    sets, so pruning can only under-count the intersection: every
    surviving pair's jaccard must be <= its exact score and no pair
    absent from the exact result may appear (no false positives).
    The hot shingle here appears in every doc and is pruned."""
    from flink_ad_analytics_spark.operators.dedup import ngram_jaccard_pairs

    hot = "the quick fox"  # one shared 3-shingle across all docs
    docs = spark.createDataFrame(
        [
            (1, f"{hot} alpha beta gamma delta epsilon"),
            (2, f"{hot} alpha beta gamma delta zeta"),
            (3, f"{hot} one two three four five"),
            (4, f"{hot} uno dos tres cuatro cinco"),
        ],
        "doc_id long, text string",
    )
    exact = {
        (r.doc_id_1, r.doc_id_2): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.01).collect()
    }
    pruned = {
        (r.doc_id_1, r.doc_id_2): r.jaccard
        for r in ngram_jaccard_pairs(
            docs, threshold=0.01, max_shingle_df=3
        ).collect()
    }
    assert set(pruned) <= set(exact), "pruning must not create pairs"
    for pair, j in pruned.items():
        assert j <= exact[pair] + 1e-12, (pair, j, exact[pair])
    # the near-dup pair (1,2) shares real non-hot shingles and survives
    assert (1, 2) in pruned
    # pairs whose ONLY overlap was the pruned hot shingle disappear
    assert (3, 4) not in pruned and (3, 4) in exact


def test_span_dedup_removes_planted_boilerplate(spark):
    """A boilerplate span shared by two docs is dropped from BOTH,
    unique spans survive verbatim, and a doc-internal repeat (one doc
    only) is NOT corpus-duplicated."""
    from flink_ad_analytics_spark.operators.dedup import span_dedup

    boiler = " ".join(f"b{i}" for i in range(4))
    u1 = " ".join(f"u{i}" for i in range(4))
    u2 = " ".join(f"v{i}" for i in range(4))
    selfrep = " ".join(f"s{i}" for i in range(4))
    docs = spark.createDataFrame(
        [
            (1, f"{boiler} {u1}"),
            (2, f"{boiler} {u2}"),
            (3, f"{selfrep} {selfrep}"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in span_dedup(docs, span_tokens=4, min_docs=2).collect()
    }
    import hashlib

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    assert out[1].n_spans == 2 and out[1].n_dropped == 1
    assert out[1].clean_md5 == md5(u1) and out[1].clean_tokens == 4
    assert out[2].clean_md5 == md5(u2)
    # same-doc repetition is not cross-document duplication
    assert out[3].n_dropped == 0
    assert out[3].clean_md5 == md5(f"{selfrep} {selfrep}")


def test_span_dedup_fully_duplicated_doc_empties(spark):
    from flink_ad_analytics_spark.operators.dedup import span_dedup

    t = " ".join(f"w{i}" for i in range(8))
    docs = spark.createDataFrame(
        [(1, t), (2, t)], "doc_id long, text string"
    )
    out = span_dedup(docs, span_tokens=4, min_docs=2).collect()
    import hashlib

    empty_md5 = hashlib.md5(b"").hexdigest()
    for r in out:
        assert r.n_dropped == r.n_spans == 2
        assert r.clean_md5 == empty_md5
        assert r.clean_tokens == 0


def test_span_dedup_matches_bruteforce_reference(spark):
    """Property: span_dedup equals a 10-line single-process reference
    on randomized corpora (random vocab sizes drive collision rates
    from none to heavy). Hypothesis-style sweep with fixed seeds --
    the Spark round-trip is too slow for per-example @given runs."""
    import hashlib
    import random

    K = 4
    for seed in range(6):
        rng = random.Random(seed)
        vocab = [f"t{i}" for i in range(rng.choice([3, 10, 50]))]
        docs = [
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 20))))
            for i in range(rng.randint(2, 12))
        ]
        # reference: spans -> corpus-wide distinct-doc counts -> rebuild
        from collections import defaultdict

        span_docs = defaultdict(set)
        doc_spans = {}
        for did, text in docs:
            ws = text.split()
            spans = [
                " ".join(ws[s : s + K]) for s in range(0, len(ws), K)
            ]
            doc_spans[did] = spans
            for sp in spans:
                span_docs[sp].add(did)
        expected = {}
        for did, spans in doc_spans.items():
            kept = [sp for sp in spans if len(span_docs[sp]) < 2]
            expected[did] = (
                len(spans),
                sum(1 for sp in spans if len(span_docs[sp]) >= 2),
                hashlib.md5(" ".join(kept).encode()).hexdigest(),
                sum(len(sp.split()) for sp in kept),
            )

        from flink_ad_analytics_spark.operators.dedup import span_dedup

        sdf = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            r.doc_id: (r.n_spans, r.n_dropped, r.clean_md5, r.clean_tokens)
            for r in span_dedup(sdf, span_tokens=K).collect()
        }
        assert got == expected, f"seed={seed}"


def test_containment_catches_embedded_quote_jaccard_misses(spark):
    """A short doc fully embedded in a long one: containment(short in
    long) = 1.0 while symmetric Jaccard stays below any useful
    threshold -- the case this operator exists for. Direction matters:
    the long doc is NOT contained in the short one."""
    from flink_ad_analytics_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    quote = " ".join(f"q{i}" for i in range(10))
    filler = " ".join(f"f{i}" for i in range(80))
    docs = spark.createDataFrame(
        [(1, quote), (2, f"{filler} {quote}")],
        "doc_id long, text string",
    )
    out = {
        (r.inner_id, r.outer_id): r.containment
        for r in containment_pairs(docs, threshold=0.8).collect()
    }
    assert out == {(1, 2): 1.0}
    jac = ngram_jaccard_pairs(docs, threshold=0.2).collect()
    assert jac == []  # symmetric Jaccard misses the embedding entirely


def test_connected_components_random_graphs_match_union_find(spark):
    """Property: on random sparse pair-graphs (the near-dup shape,
    including isolated vertices and multi-edge chains), the iterative
    min-label propagation must agree with a driver-side union-find
    computing min-reachable-id per vertex."""
    from hypothesis import given, settings, strategies as st

    from flink_ad_analytics_spark.operators.dedup import connected_components

    @settings(max_examples=8, deadline=None)
    @given(
        st.lists(
            st.tuples(st.integers(0, 39), st.integers(0, 39)).filter(
                lambda p: p[0] != p[1]
            ),
            min_size=0,
            max_size=25,
        ),
        st.integers(40, 60),
    )
    def check(edge_list, n_vertices):
        parent = list(range(n_vertices))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edge_list:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        expected = {v: find(v) for v in range(n_vertices)}

        vertices = spark.createDataFrame(
            [(v,) for v in range(n_vertices)], ["doc_id"]
        )
        edges = spark.createDataFrame(
            edge_list or [(0, 0)], ["doc_id_1", "doc_id_2"]
        )
        if not edge_list:
            edges = edges.filter("doc_id_1 != doc_id_2")  # empty edge set
        for algorithm in ("min_label", "star"):
            got = {
                r.doc_id: r.cluster_id
                for r in connected_components(
                    edges, vertices, algorithm=algorithm
                ).collect()
            }
            assert got == expected, algorithm

    check()


def test_cross_corpus_incremental_dedup(spark):
    from flink_ad_analytics_spark.operators.dedup import (
        cross_corpus_minhash_dups,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    other = "one two three four five six seven eight nine ten " * 4
    corpus = spark.createDataFrame(
        [(0, base), (1, other), (2, "lambda mu nu xi omicron pi rho " * 5)],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [
            (10, base),                      # exact copy of corpus 0
            (11, base.replace("beta", "BETA2", 1)),  # near-dup of 0
            (12, "totally different words entirely here " * 5),
            (13, "totally different words entirely here " * 5),  # dup of 12,
            # but 12 is NEW: new-vs-new must NOT match
        ],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: (r.dup_of, r.jaccard)
        for r in cross_corpus_minhash_dups(new, corpus, threshold=0.2).collect()
    }
    assert got[10] == (0, 1.0), got
    assert got[11][0] == 0 and got[11][1] >= 0.5
    assert 12 not in got and 13 not in got, "new-vs-new pairs are out of scope"


def test_cross_corpus_best_match_tie_rules(spark):
    from flink_ad_analytics_spark.operators.dedup import (
        cross_corpus_minhash_dups,
    )

    t = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 " * 4
    corpus = spark.createDataFrame(
        [(0, t), (1, t), (2, t.replace("w5", "zz", 2))],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame([(10, t)], ["doc_id", "text"])
    got = cross_corpus_minhash_dups(new, corpus, threshold=0.2).collect()
    assert len(got) == 1
    # corpus 0 and 1 both score 1.0: the tie goes to the smaller id
    assert got[0].dup_of == 0 and got[0].jaccard == 1.0


def test_dedup_clusters_best_keeps_highest_quality(spark):
    """Keeper = max n_chars (id tie-break), exactly one per cluster,
    and clustering identical to dedup_clusters."""
    from flink_ad_analytics_spark.operators.dedup import (
        dedup_clusters,
        dedup_clusters_best,
    )

    a, b, c = "alpha beta gamma delta epsilon zeta", None, None
    b = a + " eta theta"          # near-dup of a, LONGER -> keeper
    c = "one two three four five six seven"  # unrelated singleton
    docs = spark.createDataFrame(
        [(1, a, len(a)), (2, b, len(b)), (3, c, len(c))],
        "doc_id long, text string, n_chars long",
    )
    best = {r.doc_id: r for r in dedup_clusters_best(docs, threshold=0.2).collect()}
    assert best[2].is_keeper and not best[1].is_keeper  # longer wins
    assert best[1].cluster_id == best[2].cluster_id == 1
    assert best[3].is_keeper and best[3].quality_rank == 1
    # one keeper per cluster; same clustering as the min-id form
    plain = {r.doc_id: r.cluster_id for r in dedup_clusters(docs, threshold=0.2).collect()}
    assert {d: r.cluster_id for d, r in best.items()} == plain
    # tie on quality -> smaller id wins
    t = spark.createDataFrame(
        [(5, a, 100), (6, a + " x", 100)],
        "doc_id long, text string, n_chars long",
    )
    tb = {r.doc_id: r for r in dedup_clusters_best(t, threshold=0.2).collect()}
    assert tb[5].is_keeper and not tb[6].is_keeper


def test_split_corpus_matches_cross_corpus(spark):
    """split_corpus_minhash_dups (round-9 shared-pipeline form, the
    standing-signature-index variant) must return exactly what
    cross_corpus_minhash_dups returns on the equivalent two-frame
    split -- same matches, same best-match tie rules, and new-vs-new
    pairs still out of scope."""
    from pyspark.sql import functions as F

    from flink_ad_analytics_spark.operators.dedup import (
        cross_corpus_minhash_dups,
        split_corpus_minhash_dups,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    rows = [
        (0, base),
        (1, "one two three four five six seven eight nine ten " * 4),
        (2, "lambda mu nu xi omicron pi rho " * 5),
        (10, base),
        (11, base.replace("beta", "BETA2", 1)),
        (12, "totally different words entirely here " * 5),
        (13, "totally different words entirely here " * 5),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    pred = F.col("doc_id") < 10  # corpus side
    got = {
        r.doc_id: (r.dup_of, r.jaccard)
        for r in split_corpus_minhash_dups(docs, pred, threshold=0.2).collect()
    }
    want = {
        r.doc_id: (r.dup_of, r.jaccard)
        for r in cross_corpus_minhash_dups(
            docs.filter(~pred), docs.filter(pred), threshold=0.2
        ).collect()
    }
    assert got == want
    assert got[10] == (0, 1.0)
    assert 12 not in got and 13 not in got


def test_split_corpus_set_grain_branch(spark):
    """Duplicate-heavy input (each text replicated 10x) drives
    split_corpus_minhash_dups down its SET-GRAIN branch (distinct
    ratio ~0.06 << 0.8): results must still equal the per-doc
    cross_corpus form -- same matches for every member of every
    duplicated group, same best-match and tie rules, jaccard values
    identical."""
    from pyspark.sql import functions as F

    from flink_ad_analytics_spark.operators.dedup import (
        _GRAIN_PROBE_CACHE,
        cross_corpus_minhash_dups,
        split_corpus_minhash_dups,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    near = base.replace("beta", "BETA2", 1)
    texts = [base, near,
             "one two three four five six seven eight nine ten " * 4,
             "lambda mu nu xi omicron pi rho sigma tau upsilon " * 4]
    rows = []
    for rep in range(10):
        for t_i, t in enumerate(texts):
            # ids interleave sides: even = corpus, odd = new
            rows.append((rep * 100 + t_i * 2, t))
            rows.append((rep * 100 + t_i * 2 + 1, t))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    pred = F.col("doc_id") % 2 == 0
    _GRAIN_PROBE_CACHE.clear()
    got = {
        r.doc_id: (r.dup_of, r.jaccard)
        for r in split_corpus_minhash_dups(docs, pred, threshold=0.2).collect()
    }
    want = {
        r.doc_id: (r.dup_of, r.jaccard)
        for r in cross_corpus_minhash_dups(
            docs.filter(~pred), docs.filter(pred), threshold=0.2
        ).collect()
    }
    assert got == want
    # every new doc of the duplicated base group matched corpus doc 0
    assert got[1] == (0, 1.0) and got[101] == (0, 1.0)


def test_split_corpus_setgrain_broadcast_guard(spark, monkeypatch):
    """VERDICT r9 item 2: the set-grain rep-table join must not
    explicitly broadcast above the absolute distinct-set bound. With
    the bound monkeypatched below the fixture's nd (ratio still <<
    0.8, so the set-grain branch runs), the logical plan must carry
    no broadcast hint for the rep table, and the degraded
    SHUFFLE_HASH path must stay value-equal to the per-doc
    cross-corpus form."""
    from pyspark.sql import functions as F

    from flink_ad_analytics_spark.operators import dedup as D

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    texts = [base, base.replace("beta", "BETA2", 1),
             "one two three four five six seven eight nine ten " * 4,
             "lambda mu nu xi omicron pi rho sigma tau upsilon " * 4]
    rows = []
    for rep in range(10):
        for t_i, t in enumerate(texts):
            rows.append((rep * 100 + t_i * 2, t))
            rows.append((rep * 100 + t_i * 2 + 1, t))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    pred = F.col("doc_id") % 2 == 0

    want = {
        r.doc_id: (r.dup_of, r.jaccard)
        for r in D.cross_corpus_minhash_dups(
            docs.filter(~pred), docs.filter(pred), threshold=0.2
        ).collect()
    }

    def run():
        D._GRAIN_PROBE_CACHE.clear()
        out = D.split_corpus_minhash_dups(docs, pred, threshold=0.2)
        plan = out._jdf.queryExecution().logical().toString()
        got = {r.doc_id: (r.dup_of, r.jaccard) for r in out.collect()}
        D.release_standing_indexes()
        return got, plan

    # default bound: small fixture -> explicit broadcast present
    got_bc, plan_bc = run()
    assert "broadcast" in plan_bc.lower()
    # bound below nd: hint must vanish, results identical
    monkeypatch.setattr(D, "_SETGRAIN_BROADCAST_MAX_SETS", 1)
    got_sh, plan_sh = run()
    assert "broadcast" not in plan_sh.lower()
    assert got_bc == want and got_sh == want


def test_release_standing_indexes_between_corpora(spark):
    """VERDICT r10 item 7: the many-corpora-one-session pattern.
    Build a standing index on corpus A, release, serve corpus B,
    release, then re-serve corpus A -- results must be identical to
    the first pass (release only drops caching, never correctness),
    and the registry must be empty after the final release."""
    from pyspark.sql import functions as F

    from flink_ad_analytics_spark.operators import dedup as D

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    docs_a = spark.createDataFrame(
        [(i, base if i % 2 else base.replace("beta", "BETA2", 1))
         for i in range(20)],
        ["doc_id", "text"],
    )
    docs_b = spark.createDataFrame(
        [(i, f"one two three four five six seven {i % 3} " * 4)
         for i in range(12)],
        ["doc_id", "text"],
    )
    pred = F.col("doc_id") % 2 == 0

    def run(docs):
        out = {
            (r.doc_id, r.dup_of, r.jaccard)
            for r in D.split_corpus_minhash_dups(
                docs, pred, threshold=0.2
            ).collect()
        }
        assert D._STANDING_INDEXES  # the run registered its indexes
        D.release_standing_indexes()
        assert not D._STANDING_INDEXES
        return out

    first_a = run(docs_a)
    run(docs_b)
    assert run(docs_a) == first_a
    assert first_a  # non-vacuous


def test_grain_probe_cache_bounded_and_clearable(spark):
    """ADVICE r9: the probe cache evicts other-application entries on
    insert, caps its size, and exposes clear()."""
    from pyspark.sql import functions as F

    from flink_ad_analytics_spark.operators import dedup as D

    D.clear_grain_probe_cache()
    assert D._GRAIN_PROBE_CACHE == {}
    # seed stale entries from a "previous" application + beyond cap
    for i in range(D._GRAIN_PROBE_CACHE_MAX + 5):
        D._GRAIN_PROBE_CACHE[("dead-app", i, "text")] = (1, 1)
    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j " * 4)], ["doc_id", "text"]
    )
    D.split_corpus_minhash_dups(
        docs, F.col("doc_id") < 0, threshold=0.2
    ).collect()
    D.release_standing_indexes()
    app = spark.sparkContext.applicationId
    assert all(k[0] == app for k in D._GRAIN_PROBE_CACHE)
    assert len(D._GRAIN_PROBE_CACHE) <= D._GRAIN_PROBE_CACHE_MAX
    D.clear_grain_probe_cache()
    assert D._GRAIN_PROBE_CACHE == {}


def test_grain_probe_reprobes_after_same_path_rewrite(spark, tmp_path):
    """VERDICT r10 item 6: the probe cache key fingerprints the input
    file listing (path, mtime, size), so rewriting files at the SAME
    path within one session must re-probe instead of serving the old
    (n, nd) -- the former documented staleness residual."""
    from flink_ad_analytics_spark.operators import dedup as D

    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, "alpha beta gamma") for i in range(4)], ["doc_id", "text"]
    ).coalesce(1).write.mode("overwrite").parquet(path)
    D.clear_grain_probe_cache()
    docs = spark.read.parquet(path)
    assert D._duplication_probe(docs, "text") == (4, 1)

    # rewrite the same path: 6 rows, all distinct texts
    spark.createDataFrame(
        [(i, f"delta epsilon {i}") for i in range(6)], ["doc_id", "text"]
    ).coalesce(1).write.mode("overwrite").parquet(path)
    docs2 = spark.read.parquet(path)
    assert D._duplication_probe(docs2, "text") == (6, 6)
    # and the probe IS cached within one (session, listing): same key
    # twice -> one entry per fingerprint, not a recompute per call
    keys = [k for k in D._GRAIN_PROBE_CACHE]
    assert D._duplication_probe(docs2, "text") == (6, 6)
    assert [k for k in D._GRAIN_PROBE_CACHE] == keys
    D.clear_grain_probe_cache()


def test_lsh_topk_grain_equivalence(spark):
    """lsh_topk_pairs' two execution grains must be output-identical.
    The replicated fixture (each text x10, distinct ratio ~0.06)
    drives the set-grain branch; the per-doc reference is forced by
    monkeypatching is unnecessary -- call the per-doc helper
    directly. Covers: >=k co-members (top-k all at jaccard 1.0),
    boundary docs filling from adjacent groups, singleton groups
    (pure cross-group candidates), and docs with no candidates at
    all (absent from both outputs)."""
    from pyspark.sql import functions as F

    from flink_ad_analytics_spark.operators import dedup as D

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    near = base.replace("beta", "BETA2", 1)
    texts = [base, near,
             "one two three four five six seven eight nine ten " * 4,
             "lambda mu nu xi omicron pi rho sigma tau upsilon " * 4]
    rows = []
    for rep in range(10):
        for t_i, t in enumerate(texts):
            rows.append((rep * 10 + t_i, t))
    # a singleton near-dup of base: its only candidates are
    # cross-group
    rows.append((990, base.replace("gamma", "GAMMA3", 1)))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    D.clear_grain_probe_cache()
    for k in (1, 3):
        got = {
            (r.doc_id_1, r.rank): (r.doc_id_2, r.jaccard)
            for r in D.lsh_topk_pairs(docs, threshold=0.2, k=k).collect()
        }
        want = {
            (r.doc_id_1, r.rank): (r.doc_id_2, r.jaccard)
            for r in D._lsh_topk_perdoc(
                docs, "doc_id", "text", 0.2, k
            ).collect()
        }
        assert got == want, f"k={k}: set-grain != per-doc"
        assert got  # non-vacuous
    D.release_standing_indexes()
    # duplicate-heavy: doc 0's top-3 must be its next co-members
    got3 = {
        (r.doc_id_1, r.rank): r.doc_id_2
        for r in D.lsh_topk_pairs(docs, threshold=0.2, k=3).collect()
    }
    assert got3[(0, 1)] == 10 and got3[(0, 2)] == 20 and got3[(0, 3)] == 30
    D.release_standing_indexes()


def test_editdist_topk_setgrain_kernel_matches_oracle(spark, tmp_path):
    """The full dedup_verify_editdist_topk query down its
    duplicate-heavy path (set-grain top-k + fingerprint-deduplicated
    levenshtein kernel) must be value-exact against the same DuckDB
    oracle the driver runs -- including identical-text pairs
    (distance 0 short-circuit) and cross-group near-dup pairs (real
    kernel rows joined back over fingerprints)."""
    import os

    import duckdb
    import pandas as pd

    from flink_ad_analytics_spark.operators import dedup as D
    from flink_ad_analytics_spark.queries_ext import (
        _editdist_topk_oracle,
        q_dedup_verify_editdist_topk,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    texts = [base, base.replace("beta", "BETA2", 1),
             "one two three four five six seven eight nine ten " * 4,
             "lambda mu nu xi omicron pi rho sigma tau upsilon " * 4]
    rows = []
    for rep in range(10):
        for t_i, t in enumerate(texts):
            rows.append((rep * 10 + t_i, t, "en", "web", len(t)))
    rows.append((990, base.replace("gamma", "GAMMA3", 1), "en", "web", 0))
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{sf}/documents.parquet")

    D.clear_grain_probe_cache()
    pdf = q_dedup_verify_editdist_topk(spark, sf).toPandas()
    D.release_standing_indexes()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{sf}/documents.parquet/*.parquet')"
    )
    odf = con.execute(_editdist_topk_oracle()).fetchdf()
    cols = sorted(pdf.columns)
    a = pdf[cols].sort_values(cols).reset_index(drop=True)
    b = odf[cols].sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)
    # non-vacuous: both the 0-distance (identical) and real-kernel
    # (near-dup) shapes are present
    assert (a.edit_distance == 0).any() and (a.edit_distance > 0).any()


def test_prefix_filter_pairs_equals_exhaustive(spark):
    """prefix_filter_pairs must equal ngram_jaccard_pairs exactly --
    same pairs, same jaccard doubles -- on a fixture with planted
    near-dups at and around the threshold, plus unrelated docs and a
    short-doc (empty shingle set) edge."""
    from flink_ad_analytics_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_filter_pairs,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    rows = [
        (1, base),
        (2, base.replace("beta", "BETA2", 1)),           # high overlap
        (3, base[: len(base) // 2]),                     # ~containment
        (4, "one two three four five six seven eight " * 3),
        (5, "one two three four five nine ten eleven " * 3),  # mid overlap
        (6, "totally different words entirely here now " * 3),
        (7, "xy"),                                       # no shingles
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    for t in (0.2, 0.5, 0.9):
        want = {
            (r.doc_id_1, r.doc_id_2): r.jaccard
            for r in ngram_jaccard_pairs(docs, threshold=t).collect()
        }
        got = {
            (r.doc_id_1, r.doc_id_2): r.jaccard
            for r in prefix_filter_pairs(docs, threshold=t).collect()
        }
        assert got == want, f"threshold {t}"
    assert want  # non-vacuous at the loosest threshold


def test_prefix_filter_regime_selector_plan_choice(spark, monkeypatch):
    """VERDICT r10 item 4: the measured regime is a PLAN RULE, not
    docstring advice. All four selector branches, detected from the
    built plan (the prefix core's array_intersect verify is absent
    from the exhaustive core): (1) below PREFIX_FILTER_MIN_T ->
    exhaustive on any corpus; (2) at/above MIN_T with small exhaustive
    candidate volume -> exhaustive; (3) candidate volume over the gate
    AND prefixes that prune -> prefix; (4) candidate volume over the
    gate but boilerplate-dominant prefixes that cannot prune ->
    verify-volume guard bails back to exhaustive. Output equality
    across branches is covered by the equality + hypothesis tests."""
    from flink_ad_analytics_spark.operators import dedup as D

    # unique-heavy + a hot run: prefixes are all df=1 (they prune)
    uniq = spark.createDataFrame(
        [(i, " ".join(f"u{i}x{j}" for j in range(12)) + " h1 h2 h3 h4 h5")
         for i in range(30)],
        ["doc_id", "text"],
    )
    # boilerplate-dominant: unique shingles run out before the prefix
    # does, so hot shingles leak into every prefix
    boiler = " ".join(f"c{j}" for j in range(30))
    hot = spark.createDataFrame(
        [(i, f"{boiler} t{i}a t{i}b") for i in range(30)],
        ["doc_id", "text"],
    )

    def used_prefix_core(df):
        return "array_intersect" in (
            df._jdf.queryExecution().optimizedPlan().toString()
        )

    D.clear_grain_probe_cache()
    D._EXH_CAND_CACHE.clear()
    t_hi = 0.8
    assert not used_prefix_core(
        D.prefix_filter_pairs(uniq, threshold=D.PREFIX_FILTER_MIN_T - 0.01)
    ), "below MIN_T must be exhaustive"
    assert not used_prefix_core(
        D.prefix_filter_pairs(uniq, threshold=t_hi)
    ), "small candidate volume must be exhaustive"

    monkeypatch.setattr(D, "_PREFIX_MIN_EXH_CANDIDATES", 0.0)
    D._EXH_CAND_CACHE.clear()
    assert used_prefix_core(
        D.prefix_filter_pairs(uniq, threshold=t_hi)
    ), "candidate explosion + pruning prefixes must be prefix core"
    assert not used_prefix_core(
        D.prefix_filter_pairs(hot, threshold=t_hi)
    ), "non-pruning prefixes must bail to exhaustive"
    D.release_standing_indexes()


def test_prefix_filter_candidate_reduction(spark):
    """The point of the filter: candidate volume must be strictly
    below the exhaustive inverted-index join's on a corpus with a
    hot common shingle (the keys the exhaustive join explodes on are
    exactly the ones prefixes drop)."""
    from pyspark.sql import functions as F

    from flink_ad_analytics_spark.operators.dedup import doc_shingles

    # 40 docs sharing a long common boilerplate (hot shingles) with
    # rare unique tails: exhaustive candidates ~ 40^2/2 PER hot key.
    # Pruning scales with the threshold (prefix ~= (1-t)*n + 1), so
    # measure at t=0.8 -- the near-dup regime where an exact join is
    # actually used.
    boiler = " ".join(f"common{j}" for j in range(40))
    rows = [
        (i, boiler + " " + " ".join(f"tail{i}x{j}" for j in range(8)))
        for i in range(40)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    sh = doc_shingles(docs, "doc_id", "text")
    posting = sh.select(
        "doc_id",
        F.size("shingles").alias("__n"),
        F.explode("shingles").alias("shingle"),
    )
    exhaustive = (
        posting.select(F.col("doc_id").alias("a"), "shingle")
        .join(posting.select(F.col("doc_id").alias("b"), "shingle"), "shingle")
        .filter(F.col("a") < F.col("b"))
        .count()
    )
    from pyspark.sql import Window

    df_tbl = posting.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("__df").asc(), F.col("shingle").asc()
    )
    t = 0.8
    pref = (
        posting.join(df_tbl, "shingle")
        .withColumn("__pos", F.row_number().over(w))
        .filter(
            F.col("__pos")
            <= F.col("__n") - F.floor(F.lit(t) * F.col("__n")).cast("int") + 1
        )
    )
    pruned = (
        pref.select(F.col("doc_id").alias("a"), "shingle")
        .join(pref.select(F.col("doc_id").alias("b"), "shingle"), "shingle")
        .filter(F.col("a") < F.col("b"))
        .count()
    )
    assert pruned < exhaustive / 5, (pruned, exhaustive)


from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_WORDS = [f"w{i}" for i in range(12)]  # tiny vocab -> dense overlaps

_doc_st = st.lists(
    st.sampled_from(_WORDS), min_size=0, max_size=12
).map(" ".join)
_corpus_st = st.lists(_doc_st, min_size=2, max_size=8)
_threshold_st = st.sampled_from([0.1, 0.2, 1 / 3, 0.5, 0.75, 0.9, 1.0])


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(texts=_corpus_st, threshold=_threshold_st)
def test_prefix_filter_full_recall_property(spark, texts, threshold):
    """Property: prefix_filter_pairs == ngram_jaccard_pairs for ANY
    corpus and ANY threshold -- the full-recall guarantee the prefix
    length formula provides, exercised over a dense-overlap vocab
    where pairs land exactly ON thresholds (ties included: 1/3, 1.0)
    and over empty/duplicate/short documents."""
    from flink_ad_analytics_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_filter_pairs,
    )

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    want = {
        (r.doc_id_1, r.doc_id_2): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=threshold).collect()
    }
    got = {
        (r.doc_id_1, r.doc_id_2): r.jaccard
        for r in prefix_filter_pairs(docs, threshold=threshold).collect()
    }
    assert got == want


def test_lsh_topk_setgrain_empty_shingle_docs(spark):
    """Round-10 edge bug: docs with EMPTY shingle sets (< 3 tokens)
    never pair in the per-doc grain (no postings, exhaustive jaccard
    is 0/0), so the set-grain branch must not co-member them at
    'jaccard 1.0'. Duplicate-heavy fixture with three shingle-less
    docs (two identical, one different -- both classes collapse to
    the same EMPTY set)."""
    from flink_ad_analytics_spark.operators import dedup as D

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    rows = []
    for rep in range(10):
        rows.append((rep * 10, base))
        rows.append((rep * 10 + 1, base))
    rows += [(900, "xy"), (901, "xy"), (902, "ab cd")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    D.clear_grain_probe_cache()
    got = {
        (r.doc_id_1, r.doc_id_2)
        for r in D.lsh_topk_pairs(docs, threshold=0.2, k=3).collect()
    }
    want = {
        (r.doc_id_1, r.doc_id_2)
        for r in D._lsh_topk_perdoc(docs, "doc_id", "text", 0.2, 3).collect()
    }
    D.release_standing_indexes()
    assert got == want
    assert not any(d1 >= 900 or d2 >= 900 for d1, d2 in got)


def test_prefix_filter_set_grain_branch(spark):
    """Duplicate-heavy corpus (each text x10, plus shingle-less docs)
    drives prefix_filter_pairs down its SET-GRAIN branch: output must
    equal the per-doc core exactly -- within-group pairs at jaccard
    1.0, cross-group near-dups with the rep pair's exact jaccard,
    empty-shingle docs absent, canonical doc_id_1 < doc_id_2."""
    from flink_ad_analytics_spark.operators import dedup as D

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    near = base.replace("beta", "BETA2", 1)
    texts = [base, near,
             "one two three four five six seven eight nine ten " * 4]
    rows = []
    for rep in range(10):
        for t_i, t in enumerate(texts):
            rows.append((rep * 10 + t_i, t))
    rows += [(900, "xy"), (901, "xy")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    for t in (0.2, 0.8):
        D.clear_grain_probe_cache()
        got = {
            (r.doc_id_1, r.doc_id_2): r.jaccard
            for r in D.prefix_filter_pairs(docs, threshold=t).collect()
        }
        D.release_standing_indexes()
        want = {
            (r.doc_id_1, r.doc_id_2): r.jaccard
            for r in D.ngram_jaccard_pairs(docs, threshold=t).collect()
        }
        assert got == want, f"threshold {t}"
        assert got
        assert not any(d1 >= 900 or d2 >= 900 for d1, d2 in got)
        assert all(d1 < d2 for d1, d2 in got)
