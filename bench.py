#!/usr/bin/env python3
"""Benchmark driver: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is materialized with a full-column checksum aggregate
(bit_xor(xxhash64(all output columns))), NOT .count(): count(1) lets
Catalyst prune every projection column, so projection-heavy queries
would bench as nearly free. The checksum forces every output column to
be computed while still collecting a single row to the driver.

A warmup pass on the smallest SF initializes JVM/codegen so measured
times reflect steady state, matching how a long-lived cluster session
behaves.

If a recorded DuckDB baseline exists for this SF
(.benchmarks/duckdb_sf{sf}.json, written by bench_duckdb.py), the
output also carries per-query and total ratios vs that baseline so the
"within 2x of DuckDB" criterion is checkable from artifacts alone.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from flink_ad_analytics_spark.session import build_session  # noqa: E402

def bench_queries() -> tuple[str, ...]:
    """Headline set = EVERY declared query, enumerated from the driver
    contract itself so the bench can never drift out of sync with
    `__spark_entry__.queries()` (a round-1 finding: four queries were
    silently absent from a hand-maintained list). Declaration order is
    preserved (dict order), so per-query timings stay comparable
    across rounds as new queries append."""
    import __spark_entry__ as entrymod

    return tuple(entrymod.queries())


def materialize(df) -> None:
    """Execute the full plan, pruning-proof.

    count(1) would let Catalyst drop every projection column; instead
    checksum all output columns so each one is actually computed. One
    aggregated row comes back to the driver. bit_xor (not sum): summing
    2^63-scale hashes overflows long under ANSI mode.
    """
    from pyspark.sql import functions as F

    df.select(F.bit_xor(F.xxhash64(*df.columns))).collect()


def main() -> None:
    # Run-condition provenance (VERDICT r11 item 3): a loaded host can
    # inflate the total ~2.5x (round 11: 159s idle vs 395s contended),
    # so the artifact records the 1-minute load average BEFORE the
    # session starts (external contention; anything >~1 on an
    # otherwise-idle box means another workload was draining) plus a
    # per-query sample (self-load included -- meaningful relative to
    # the ~cpus steady level the bench itself induces).
    try:
        load_before = round(os.getloadavg()[0], 2)
    except OSError:  # pragma: no cover -- non-unix
        load_before = None
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = build_session(
        app_name="fas-bench",
        cpus=cpus,
        shuffle_partitions=max(32, cpus),
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    # $SPARK_GRAFT_QUERIES="a,b,c" benches a subset (the sf1 headline
    # set); default is the full declared surface.
    subset = os.environ.get("SPARK_GRAFT_QUERIES")
    names = tuple(subset.split(",")) if subset else bench_queries()

    # Warmup: JVM + codegen + parquet footer caches on the tiny SF.
    for name in names:
        materialize(queries[name](spark, "/root/testdata/sf0.001"))

    # VERDICT r10 item 7: the warmup corpus (sf0.001) is retired once
    # the timed SF takes over -- release its standing signature/band
    # indexes so the timed run neither holds dead cached plans nor
    # competes with them for storage memory. This also exercises the
    # release path under the realistic many-corpora-one-session
    # pattern on every bench pass: the timed queries below rebuild
    # their own standing indexes from scratch and must still be
    # value-correct (the rehearsal gates that at sf0.01; a dedicated
    # two-corpora release test gates it in the suite).
    from flink_ad_analytics_spark.operators.dedup import (
        release_standing_indexes,
    )

    release_standing_indexes()

    # Attribute one-time persisted-fit builds to the query that
    # triggered them (VERDICT r7 #6: a FIT_ALGO_VERSION / corpus-stamp
    # change re-pays every fit, which read as a +5s regression in
    # BENCH_r07). refit_sec records that ingest-side cost per query so
    # cross-round diffs can compare serving paths alone.
    from flink_ad_analytics_spark import fitstore

    timings: dict[str, float] = {}
    refit_sec: dict[str, float] = {}
    query_load: dict[str, float] = {}
    for name in names:
        n_fit0 = len(fitstore.FIT_EVENTS)
        try:
            query_load[name] = round(os.getloadavg()[0], 2)
        except OSError:  # pragma: no cover
            pass
        t0 = time.perf_counter()
        materialize(queries[name](spark, sf_dir))
        timings[name] = round(time.perf_counter() - t0, 3)
        fits = fitstore.FIT_EVENTS[n_fit0:]
        if fits:
            refit_sec[name] = round(sum(s for _, _, s in fits), 3)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    bench_dir = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), ".benchmarks"
    )
    # VERDICT r9 finding #1: bench runs used to rewrite the COMMITTED
    # artifact .benchmarks/bench_sf{sf}.json in place, so any pass
    # (including the driver's own) left the tree with a mutated
    # artifact and the COVERAGE.md headline sync gate red. Default is
    # now a gitignored scratch path; the committed artifact is only
    # (re)pinned on an explicit `--pin` / SPARK_GRAFT_BENCH_PIN=1,
    # done deliberately on an idle host together with the COVERAGE.md
    # headline update (same commit -- the sync gate enforces it).
    pin = "--pin" in sys.argv or os.environ.get(
        "SPARK_GRAFT_BENCH_PIN", ""
    ) in ("1", "true")
    if pin:
        os.makedirs(bench_dir, exist_ok=True)
        full_path = os.path.join(bench_dir, f"bench_sf{sf}.json")
    else:
        scratch_dir = os.path.join(bench_dir, "scratch")
        os.makedirs(scratch_dir, exist_ok=True)
        full_path = os.path.join(scratch_dir, f"bench_sf{sf}.json")
    merged_from_subset = False
    if subset and not pin and not os.path.exists(full_path):
        # scratch subset rerun with no prior scratch pass: seed the
        # merge from the committed artifact so the scratch file still
        # carries a full-surface total to compare against
        committed = os.path.join(bench_dir, f"bench_sf{sf}.json")
        if os.path.exists(committed):
            import shutil

            shutil.copy(committed, full_path)
    if subset and os.path.exists(full_path):
        # subset rerun: merge into the existing artifact (same
        # incremental-refresh contract as bench_duckdb.py) so a
        # two-query retiming can't clobber the full record. A fresh
        # subset-created artifact (the sf>=1 headline-set flow) is
        # allowed but carries its provenance below -- n_queries /
        # merged_from_subset / subset_last_run disambiguate a partial
        # total from a full-surface run.
        with open(full_path) as f:
            prior = json.load(f)
        timings = {**prior.get("queries", {}), **timings}
        refit_sec = {
            **{
                k: v
                for k, v in prior.get("refit_sec", {}).items()
                if k not in names
            },
            **refit_sec,
        }
        query_load = {
            **{
                k: v
                for k, v in prior.get("query_load_1m", {}).items()
                if k not in names
            },
            **query_load,
        }
        merged_from_subset = True

    out = {
        "metric": "headline_query_set_runtime",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # provenance: total is a sum over n_queries timings; when
        # merged_from_subset is true, those timings come from more
        # than one run (incremental refresh), not one fresh session
        "n_queries": len(timings),
        # one-time persisted-fit builds paid INSIDE a timed query this
        # run (cache misses only); serving_value = value minus these.
        # Stable serving_value across a cache-tag change is the
        # invariant cross-round diffs should check.
        "refit_sec": refit_sec,
        "serving_value": round(
            sum(timings.values()) - sum(refit_sec.values()), 3
        ),
        "merged_from_subset": merged_from_subset,
        # true whenever this write involved a subset run -- including a
        # fresh subset-created artifact with no prior to merge into
        # (which merged_from_subset alone would misreport as a clean
        # full-surface run); a later full run rewrites every timing in
        # one session and correctly resets it
        "partial": bool(subset),
        "subset_last_run": sorted(names) if subset else None,
        "load_avg_1m_before": load_before,
        # load sampled at each timed query's start; full map in the
        # artifact, slowest-10 subset on stdout
        "query_load_1m": query_load,
    }

    baseline_path = os.path.join(bench_dir, f"duckdb_sf{sf}.json")
    if os.path.exists(baseline_path):
        with open(baseline_path) as f:
            base = json.load(f)
        base_q = base.get("queries", {})
        common = [n for n in timings if base_q.get(n)]
        if common:
            spark_total = sum(timings[n] for n in common)
            duck_total = sum(base_q[n] for n in common)
            out["duckdb_baseline_sec"] = round(duck_total, 3)
            out["ratio_vs_duckdb"] = round(spark_total / duck_total, 3)

    # Full per-query detail goes to a committed artifact; stdout gets a
    # COMPACT line. Round 2's 124-query single-line JSON outgrew the
    # driver's tail capture (BENCH_r02 "parsed": null), so the printed
    # "queries" map carries only the slowest 10 -- the headline shape
    # the driver parses stays identical, just bounded in size.
    with open(full_path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)

    slowest = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:10]
    )
    compact = dict(out)
    compact["queries"] = slowest
    compact["query_load_1m"] = {
        n: query_load[n] for n in slowest if n in query_load
    }
    compact["n_queries"] = len(timings)
    compact["full_results"] = full_path
    print(json.dumps(compact))
    spark.stop()


if __name__ == "__main__":
    main()
