"""State-store configuration: the analogue of the reference's RocksDB
state backend + checkpointing (`docker-compose.yml:74-79,96-100`).

Structured Streaming state (join buffers, window accumulators, dedup
sets, applyInPandasWithState state) lives in a pluggable state store.
The default HDFSBackedStateStoreProvider keeps state on the executor
heap -- fine for small keyspaces, fatal for 100 TB-scale retention.
``use_rocksdb`` switches to the RocksDB provider (bundled with Spark
since 3.2): state spills to local disk with changelog checkpointing to
the checkpoint location, bounding executor memory by working set, not
keyspace -- the same operational posture as Flink-on-RocksDB.

Checkpoint writes: both providers, the offset and commit logs and the
file sink's ``_spark_metadata`` log write through one
CheckpointFileManager. Sessions built by ``session.build_session``
(always ``local[N]``) use the FileSystem-based manager: Spark's
FileContext default forks a ``readlink`` process for every renamed
checkpoint file on a local file system, which cost about 100 ms per
state-store instance per trigger whatever the rows. A session handed to
the engine keeps Spark's default (``session.ENGINE_BUILD_CONF`` holds
the reason and the premise).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def use_rocksdb(spark: SparkSession, *, changelog_checkpointing: bool = True) -> None:
    """Route streaming state to RocksDB for queries started after this
    call (the provider is read at query start)."""
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
    spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true" if changelog_checkpointing else "false",
    )


def use_default_store(spark: SparkSession) -> None:
    spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
