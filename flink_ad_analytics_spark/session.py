"""SparkSession factory and per-session config contract.

Two concerns live here:

1. ``build_session`` -- the session our own tests/bench create, with
   AQE + shuffle sizing tuned for the local[N] harness but chosen so
   the same logical plans scale to a multi-executor cluster (AQE
   coalescing, skew-join handling, broadcast thresholds are
   cluster-side mechanisms, not local hacks).

2. ``ensure_engine_conf`` -- runtime confs every query entrypoint must
   set on *whatever* session it is handed (the correctness driver
   passes its own). These are runtime-settable SQL confs only:

   - ``spark.sql.legacy.parquet.nanosAsLong``: the fixture parquet
     stores ``events.ts`` as INT64 TIMESTAMP(NANOS), which Spark
     refuses by default (PARQUET_TYPE_ILLEGAL). With this conf the
     column surfaces as nanosecond BIGINT; sources/batch.py converts
     to a proper micros timestamp.
   - ``spark.sql.session.timeZone=UTC``: all event-time semantics
     (window alignment, epoch conversions) are defined in UTC so
     results are invariant to host timezone and match the DuckDB
     oracle (which treats naive timestamps as-is).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Runtime-settable confs required for correct reads/semantics on any session.
ENGINE_RUNTIME_CONF = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    # The two-level exact money aggregations (queries.py::_cents
    # family) sum raw longs per task and document ANSI as the raise-
    # never-wrap backstop for tasks past the structural bound. Spark 4
    # merely DEFAULTS ansi on -- a handed session with a legacy-compat
    # ansi=false global would wrap silently, so the engine pins it.
    "spark.sql.ansi.enabled": "true",
    # InferFiltersFromGenerate synthesizes `size(gen_input) > 0` filters
    # under every explode(); predicate pushdown then re-inlines the
    # generator's (expensive, lambda-bearing) defining expression into
    # the scan, where it evaluates once per row on the pre-shuffle
    # partitioning. For array-producing pipelines (shingling, token
    # explosion) this measured 3-4x the whole query's runtime; the
    # inferred filter only skips empty arrays, which explode() skips
    # anyway.
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
}

#: Defaults for sessions we create ourselves. All of these hold on a real
#: cluster; none are local-mode hacks.
ENGINE_BUILD_CONF = {
    # AQE: runtime partition coalescing + skew-join splitting. At 100 TB
    # the static shuffle-partition number is always wrong for some stage;
    # AQE re-plans from runtime statistics.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas_udf / toPandas path.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Byte-range split sizing: the 4 MB default models HDFS-era file-open
    # latency; on NVMe/object-store parquet an open is a footer read.
    # 1 MB lets small multi-row-group files split to row-group
    # granularity instead of lumping ~4 MB of groups per task (measured
    # at sf1: HLL profile 4.6->3.8s, sessionization 1.5->0.8s, Q8 2.2->
    # 1.9s, steady-state). At lake scale AQE coalescing absorbs any
    # over-split tail.
    "spark.sql.files.openCostInBytes": "1048576",
    # r12 (guide sections 2.2/9): let AQE coalesce post-shuffle
    # partitions toward the advisory byte size instead of padding
    # them out to default parallelism; cluster profiles where 128-256m
    # partitions amortize better override it through extra_conf.
    #
    # r13 (verdict item 1): the r12 change shipped withOUT a
    # parallelism floor, and byte-based coalescing serialized every
    # CPU-dense low-byte stage (levenshtein verify pairs, hopping pane
    # fan-out): interleaved same-session A/B, min-of-6 both orders, on
    # the quieter r13 host read dedup_verify_editdist 2.43s -> 3.98s,
    # _topk 2.06 -> 3.68, hopping_daily_actives 1.95 -> 4.16 under the
    # floorless conf -- while the r12 "tail wins" did NOT reproduce
    # (large_volume_customers min 1.30 A vs 1.59 B; semantic_dedup,
    # kmeans_step, pricing_summary ties): they were r12-host noise.
    # Fix: an explicit coalescing floor at the session's core count
    # (cluster parallelism at scale). Spark 4.1.2 honors an EXPLICIT
    # minPartitionNum regardless of parallelismFirst (the
    # parallelismFirst branch is only the unset fallback --
    # CoalesceShufflePartitions.$anonfun$apply$1), so large shuffles
    # still coalesce toward the advisory size while no stage drops
    # below one task per core. Set in build_session (needs the core
    # count); parallelismFirst stays false so the intent is explicit.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
    # Session windows / stateful ops off-heap state can stay default
    # locally; RocksDB provider is configured by streaming jobs that
    # need large state (see streaming/jobs.py).
    "spark.sql.shuffle.partitions": "32",
    # local-mode: driver == executor JVM; the 1g default heap dies on
    # any serious shuffle. (Cluster deployments size executors via
    # their own submit config -- this only affects sessions we build.)
    "spark.driver.memory": "12g",
    # A long-lived session serving many distinct queries (this engine's
    # whole surface is ~80) thrashes the default 100-entry generated-
    # class cache: late queries recompile every stage each execution --
    # measured 5x on the iterative k-means queries at the tail of the
    # bench. Size the cache to the workload, same as any resident
    # analytics service.
    "spark.sql.codegen.cache.maxEntries": "5000",
    # r13 (verdict item 6): split generated consume functions at 256
    # bytes of source instead of 1024 so HotSpot can JIT the pieces of
    # very wide aggregations -- numeric_profile's 25-moment aggregate
    # generated a consume function big enough to run interpreted
    # through its whole first pass: cold first run 23.7s -> 10.2s with
    # steady unchanged (2.9s). Interleaved A/B on six heavy queries
    # (pricing_summary, dedup_minhash_lsh, multimodal_phash, pq_codes,
    # numeric_profile, lineitem_cube): steady mins neutral-to-better
    # under 256. 128 over-splits (numeric_profile steady 2.9 -> 4.8s:
    # call overhead in the hot loop); 256 is the measured knee. A JVM
    # JIT property, not a local[32] artifact.
    "spark.sql.codegen.methodSplitThreshold": "256",
    # Streaming checkpoint I/O (state-store deltas and snapshots, the
    # offset and commit logs, the file sink's _spark_metadata log) goes
    # through the FileSystem API instead of Spark's FileContext default.
    # On a file: path the FileContext rename goes through Hadoop 3.4's
    # AbstractFileSystem.renameInternal -> RawLocalFileSystem.
    # getFileLinkStatus, which forks a `readlink` process per renamed
    # file when libhadoop is not loaded: 8 forks per state-store delta
    # commit (the delta, Spark's checksum sidecar and their .crc
    # files), on triggers with no input rows too. In a perfbench stream
    # replay on 4 vCPUs a stage-1 trigger's commit time, summed over the
    # query's 32 state-store instances, fell from 3.8 s to 0.2 s with
    # this manager (median of 14 triggers). The FileSystem rename is one
    # POSIX rename(2), as atomic as FileContext's check-then-rename on
    # LocalFs. Spark's checkpoint file checksums and Hadoop's .crc
    # files are still written.
    # Premise: sessions built here are always local[N], so their
    # checkpoints sit on a local file system. This is why the key is
    # set here and not in ENGINE_RUNTIME_CONF: a session handed to
    # ensure_engine_conf (on HDFS, say) keeps Spark's FileContext
    # default.
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    ),
}


def ensure_engine_conf(spark: SparkSession) -> SparkSession:
    """Apply required runtime confs to an externally-provided session."""
    for k, v in ENGINE_RUNTIME_CONF.items():
        spark.conf.set(k, v)
    return spark


def build_session(
    app_name: str = "flink-ad-analytics-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession with engine defaults.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all cores; shuffle
    partitions default to 32 (ENGINE_BUILD_CONF) -- at cluster scale
    this is instead sized so a shuffle partition is ~128-200 MB, with
    AQE coalescing handling the long tail.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or None
    master = f"local[{cpus}]" if cpus else "local[*]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(ENGINE_BUILD_CONF)
    # AQE coalescing floor = the session's parallelism (see the
    # ENGINE_BUILD_CONF comment; on a cluster this is the submit
    # config's total core count). extra_conf overrides it.
    conf["spark.sql.adaptive.coalescePartitions.minPartitionNum"] = str(
        cpus or os.cpu_count() or 1
    )
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    conf.update(ENGINE_RUNTIME_CONF)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ensure_engine_conf(spark)
    return spark
