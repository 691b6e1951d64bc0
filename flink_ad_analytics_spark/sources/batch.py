"""Batch parquet loaders for the driver tables.

Mirrors the reference's source layer (Kafka JSON scans with computed
event-time columns, ``flink/flink_job.sql:5-41``) for the batch track:
parquet scan + computed ``event_time`` column. Filters and projections
applied downstream of these loaders push into the parquet scan via
Catalyst (verify with ``df.explain``: PushedFilters / ReadSchema).

Scale notes: loaders never collect, never infer schemas row-wise, and
keep the raw scan lazy so partition pruning and column pruning apply.
At 100 TB the same code reads a partitioned table directory; nothing
here assumes single-file inputs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from ..functions.time import epoch_nanos_to_ts
from ..schemas import DRIVER_TABLES
from ..session import ensure_engine_conf


def content_stamp(path: str) -> str:
    """Content stamp of a parquet file OR directory: for a plain file,
    ``mtime_ns:size``; for a directory, a hash over the sorted
    (relpath, mtime_ns, size) triples of every regular file under it.
    Unlike a single os.stat of the directory inode, the walk changes
    when a part file is rewritten in place under the same name --
    directory mtime only moves on entry add/remove/rename, so a
    dir-level stat would let a cached layout/fit silently serve stale
    data after an in-place corpus rewrite."""
    import hashlib

    try:
        if os.path.isdir(path):
            entries = []
            for root, _dirs, files in os.walk(path):
                for fn in files:
                    fp = os.path.join(root, fn)
                    st = os.stat(fp)
                    entries.append(
                        f"{os.path.relpath(fp, path)}:"
                        f"{st.st_mtime_ns}:{st.st_size}"
                    )
            if not entries:
                return "emptydir"
            return hashlib.md5(
                "\n".join(sorted(entries)).encode()
            ).hexdigest()[:16]
        st = os.stat(path)
        return f"{st.st_mtime_ns}:{st.st_size}"
    except OSError as e:
        # ADVICE r6: a constant sentinel ("nostat") would give two
        # different unreadable corpora identical cache tags, and a
        # corpus appearing after a failed stat would keep serving the
        # layout/fit built while it was unreadable. The corpus must
        # exist to build or serve anything keyed on it -- fail loudly.
        # ADVICE r7: only a genuinely MISSING corpus maps to
        # FileNotFoundError; EACCES/ELOOP/EIO keep their real errno
        # class so callers and logs see what actually failed.
        import errno

        if e.errno == errno.ENOENT:
            raise FileNotFoundError(
                f"content_stamp: cannot stat corpus at {path!r}"
            ) from e
        raise


#: Scan-parallelism floor: sizing constant for one unit of scan work.
#: 1 MB of UNCOMPRESSED row-group bytes per slot (_parquet_layout sums
#: the footer's total_byte_size, which is the uncompressed figure) --
#: sized for the engine's most compute-dense scans (text feature
#: extraction runs ~100x the decode cost per byte), while tables whose
#: uncompressed size is under 1 MB (broadcast dims) skip the floor
#: entirely. Oversplitting a scan-bound query costs one cheap
#: exchange; undersplitting a compute-bound one serializes 32 cores.
_SCAN_TARGET_BYTES_PER_SLOT = 1024 * 1024


def _with_scan_parallelism(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Guarantee a compute-heavy scan is not serialized by file layout.

    Parquet parallelism is bounded by row groups: a file written as one
    giant row group produces ONE scan task no matter how many cores the
    cluster has (Spark assigns a row group to the task whose byte range
    holds its midpoint). The small-SF fixtures are written exactly that
    way, so text/vector feature extraction -- the most compute-bound
    queries in the engine -- ran single-threaded while 31 cores idled
    (measured 3-5x whole-query slowdowns at sf1).

    The floor: when the scan yields fewer partitions than the data
    volume warrants (one slot per ~1 MB uncompressed, capped at the session's core
    count), round-robin repartition after the scan. Catalyst still
    pushes filters and column pruning THROUGH the repartition into the
    scan (verified by tests/test_plan_quality.py's pushdown digests),
    so the only cost is one exchange of the pruned columns.

    At 100 TB this is a no-op by construction: any real lake layout has
    thousands of files/row groups, the scan already produces >= cores
    partitions, and no exchange is inserted. The floor exists for the
    degenerate single-row-group layout, the same mitigation any engine
    applies to pathological small-file or giant-row-group inputs.
    """
    size, row_groups = _parquet_layout(path)
    if size is None:
        return df
    cores = spark.sparkContext.defaultParallelism
    target = min(cores, max(1, size // _SCAN_TARGET_BYTES_PER_SLOT))
    # Engage only on SEVERE deficit (row-group parallelism below a
    # quarter of the cores). A scan already split ~cores/4 ways gains
    # little from going wider, and the exchange re-serializes rows the
    # columnar scan decoded in place -- measured a net LOSS on
    # multi-row-group relational tables (events/orders at sf1:
    # repartitioning them took the 24-query headline set 33.9s ->
    # 51.0s), vs a 3-6x win on single-row-group text/vector scans.
    #
    # Known approximation, kept deliberately: Spark sizes byte-range
    # splits from COMPRESSED bytes, so a small-compressed file with
    # many row groups can still scan as one task -- row_groups
    # overestimates its natural parallelism and the floor skips. That
    # shape doesn't occur in compute-dense inputs here (their many-
    # group form is also many-split), and an estimated-splits gate
    # that caught it re-engaged on the relational tables above and
    # regressed the measured headline set. Conservative beats clever.
    if target <= 1 or row_groups >= min(target, max(1, cores // 4)):
        return df
    return df.repartition(target)


#: path -> (mtime, (uncompressed size, row-group count)); footer
#: metadata only. Keyed by path with the mtime stored as a validity
#: stamp so a rewritten file REPLACES its entry instead of
#: accumulating one stale record per rewrite for the process lifetime.
_LAYOUT_CACHE: dict[str, tuple[float, tuple[int | None, int]]] = {}


def _parquet_layout(path: str) -> tuple[int | None, int]:
    """UNCOMPRESSED byte size + row-group count from the parquet footer
    (no data read, cached by mtime). Uncompressed size, not file size:
    downstream compute scales with decoded volume, and columnar text
    compresses 10-20x -- judging by file size would leave a 15M-char
    corpus in one task because it snappy-packs under 1 MB. Row groups
    are the true upper bound on single-file scan parallelism,
    regardless of split config."""
    try:
        mtime = os.path.getmtime(path)
    except OSError:
        return None, 0
    hit = _LAYOUT_CACHE.get(path)
    if hit is None or hit[0] != mtime:
        try:
            import pyarrow.parquet as pq

            meta = pq.ParquetFile(path).metadata
            layout = (
                sum(
                    meta.row_group(i).total_byte_size
                    for i in range(meta.num_row_groups)
                ),
                meta.num_row_groups,
            )
        except Exception:
            return None, 0
        _LAYOUT_CACHE[path] = (mtime, layout)
        return layout
    return hit[1]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver table; applies required runtime confs first."""
    ensure_engine_conf(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    return _with_scan_parallelism(spark, spark.read.parquet(path), path)


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load ``events`` with a proper event-time column.

    Adapts to the physical type of ``ts`` (driver regenerations have
    shipped both): INT64 TIMESTAMP(NANOS) arrives as nanosecond BIGINT
    under ``nanosAsLong`` and is floor-divided to microseconds
    (``DIV`` -- exact on int64, unlike float division which loses
    precision above 2^53); TIMESTAMP(MICROS) arrives as TIMESTAMP_NTZ
    and is cast to session-time (UTC) TIMESTAMP, preserving wall-clock
    values. Either way ``event_time`` is a microsecond TIMESTAMP --
    the analogue of the reference's computed column ``event_time AS
    TO_TIMESTAMP_LTZ(event_timestamp, 3)`` (flink_job.sql:14).
    """
    ev = load_table(spark, sf_dir, "events")
    ts_type = dict(ev.dtypes)["ts"]
    if ts_type in ("bigint", "long"):
        return ev.withColumn("event_time", epoch_nanos_to_ts("ts"))
    return ev.withColumn("event_time", F.col("ts").cast("timestamp"))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every driver table into a dict (events gains event_time)."""
    out: dict[str, DataFrame] = {}
    for name in DRIVER_TABLES:
        out[name] = (
            load_events(spark, sf_dir) if name == "events" else load_table(spark, sf_dir, name)
        )
    return out


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every driver table as a temp view for spark.sql use."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def load_evolving_table(
    spark: SparkSession, path: str, *, defaults: dict | None = None
) -> DataFrame:
    """Read a parquet directory whose files span SCHEMA VERSIONS
    (columns added over time -- the normal life of a lake table).

    ``mergeSchema`` unions the per-file footers (a metadata operation,
    not a data scan: each footer is read once, distributed); files
    missing a newer column yield NULL there, and ``defaults`` fills
    business defaults ONLY where the column is null -- old rows keep
    their semantics, new rows keep their values.

    At 100 TB: schema merge cost is O(#files) footer reads, so tables
    with millions of files should pin a table schema instead
    (spark.read.schema(...)); this loader is the discovery path.
    """
    ensure_engine_conf(spark)
    df = spark.read.option("mergeSchema", "true").parquet(path)
    for col, default in (defaults or {}).items():
        if col in df.columns:
            df = df.withColumn(col, F.coalesce(F.col(col), F.lit(default)))
        else:
            # column absent from EVERY file (directory predates it
            # entirely): add it as the default rather than silently
            # ignoring the caller's schema expectation -- downstream
            # select(col) would otherwise die on UNRESOLVED_COLUMN
            df = df.withColumn(col, F.lit(default))
    return df


def load_jsonl_corpus(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    *,
    drop_malformed: bool = True,
    required_col: str | None = None,
) -> DataFrame:
    """JSONL corpus reader: the wire format training corpora actually
    arrive in (one JSON document per line -- the Common Crawl / Dolma
    / RedPajama distribution shape) with lenient parsing.

    Parsing goes text -> ``from_json`` -- the SAME decode shape as the
    Kafka wire path (streaming/sources.py::decode_json_value), so one
    lenient-parse semantic serves both ingestion surfaces. This also
    sidesteps the native JSON source's corrupt-record-column trap:
    filtering on ``_corrupt_record`` breaks under column pruning
    (QUERY_ONLY_CORRUPT_RECORD_COLUMN on a plain ``.count()``), while
    a null ``from_json`` struct filters safely in any plan.
    ``drop_malformed`` removes unparseable lines (the batch analogue
    of `json.ignore-parse-errors`, flink_job.sql:22); ``required_col``
    additionally drops records that parsed but lack the field (e.g.
    text-less metadata lines). An explicit schema is REQUIRED: schema
    inference would re-read the corpus once just to guess types -- at
    100 TB that is a full extra scan.
    """
    ensure_engine_conf(spark)
    parsed = spark.read.text(path).select(
        F.from_json(F.col("value"), schema).alias("e")
    )
    if drop_malformed:
        # PERMISSIVE salvage yields an all-null STRUCT (not a null
        # struct) for some malformed shapes -- same behavior the Kafka
        # decode guards against (streaming/sources.py). An all-null
        # record is indistinguishable from garbage and drops with it.
        parsed = parsed.filter(
            F.col("e").isNotNull() & (F.to_json("e") != F.lit("{}"))
        )
    df = parsed.select("e.*")
    if required_col is not None:
        df = df.filter(F.col(required_col).isNotNull())
    return df


def load_csv_corpus(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    *,
    header: bool = True,
    drop_malformed: bool = True,
    required_col: str | None = None,
) -> DataFrame:
    """CSV corpus reader with the lenient-ingest contract of
    load_jsonl_corpus: explicit schema (inference would cost a full
    extra corpus scan at 100 TB), malformed rows handled declaratively,
    and an optional required column for records that parse but carry
    no payload. Spark's native CSV source handles quoting/escaping
    and the header line.

    Validation happens IN THE PLAN, not inside the parser, on purpose:
    Spark's mode=DROPMALFORMED only type-validates the columns a
    projection references once column pruning kicks in, so the SAME
    DataFrame returns different corpora for different projections --
    df.count() keeps a type-malformed row that df.collect() drops, and
    df.select('text') resurrects it (reproduced in test_csv_corpus;
    the columnPruning conf does not close it on this Spark). Here the
    scan reads every declared field as a string plus one overflow
    column, and the drop decisions are ordinary Column predicates, so
    corpus membership can never depend on which columns a downstream
    stage selects. try_cast (not cast) keeps the read ANSI-safe.

    The precise contract under ``drop_malformed=True``:

    * type-malformed rows (a non-null raw token that fails its cast)
      are DROPPED;
    * over-long rows (more tokens than schema fields -- the shifted-
      field shape unescaped delimiters produce) are DROPPED, detected
      by the overflow column;
    * SHORT rows are kept with nulls in the missing trailing fields
      (indistinguishable at parse level from legitimately empty
      fields, which must survive) -- enforce presence explicitly via
      ``required_col`` or a downstream NotNull rule where it matters.

    ``drop_malformed=False`` keeps every row PERMISSIVE-style with
    nulls in broken fields.
    """
    ensure_engine_conf(spark)
    overflow = "__csv_overflow"
    raw_schema = T.StructType(
        [T.StructField(f.name, T.StringType(), True) for f in schema.fields]
        + [T.StructField(overflow, T.StringType(), True)]
    )
    raw = (
        spark.read.schema(raw_schema)
        .option("header", str(header).lower())
        # RFC-4180 doubled-quote escaping ("" inside a quoted field);
        # Spark's default escape is backslash, which real CSV dumps
        # don't use
        .option("escape", '"')
        .option("mode", "PERMISSIVE")
        .csv(path)
    )
    typed_cols = []
    bad_any = F.col(overflow).isNotNull()
    for f in schema.fields:
        if isinstance(f.dataType, T.StringType):
            typed_cols.append(F.col(f.name))
            continue
        typed = F.expr(
            f"try_cast(`{f.name}` AS {f.dataType.simpleString()})"
        )
        bad_any = bad_any | (F.col(f.name).isNotNull() & typed.isNull())
        typed_cols.append(typed.alias(f.name))
    df = raw
    if drop_malformed:
        df = df.filter(~bad_any)
    df = df.select(*typed_cols)
    if required_col is not None:
        df = df.filter(F.col(required_col).isNotNull())
    return df
