"""SparkSession factory.

Re-expresses the reference's session trait (SparkSessionTrait.scala:6-40 —
lazy singleton session, overridable conf, local[*] default) as a plain
factory function with scale-oriented defaults:

- AQE + partition coalescing + skew-join handling enabled (runtime re-plan
  replaces hand-tuned shuffle partition counts at 100 TB),
- Arrow enabled for the Pandas-UDF slow path,
- UTC session timezone so timestamp semantics match the DuckDB oracle,
- shuffle partitions default to 32 for local[32] test runs; on a real
  cluster AQE coalescing makes the initial number non-critical.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from sparkstreaming_spark.compat import ensure_protobuf

# Before ANY JVM launch: make google.protobuf importable (vendored shim if
# the real wheel is absent) so transformWithState workers inherit it via
# PYTHONPATH. No-op when protobuf is installed. See compat.py.
ensure_protobuf()

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


def get_spark(
    app_name: str = "sparkstreaming_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Mirrors SparkSessionTrait.scala:24-39 (appName/master conf then
    getOrCreate) but parameterized instead of hard-coded.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python UDTFs on the Arrow path (ArrowEvalPythonUDTF) like every
        # other Python extension point. Round-5 re-A/B at sf0.1: pickle
        # is ~0.15s faster per call for the small-row sentence_split
        # fan-out, but it compiles to BatchEvalPythonUDTF — row-at-a-time
        # serialization, banned by the suite-wide plan invariant
        # (tests/test_plan_hygiene.py) because per-row pickling is the
        # 100 TB slow path even where it wins a sub-second microbench.
        .config("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # RocksDB state store (SURVEY §4: the at-scale config — state lives
        # off-heap/on-disk per executor instead of in JVM heap, so stateful
        # operators survive key counts that would OOM Spark's heap-backed
        # default provider).
        .config("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
        # Changelog checkpointing: commit writes only the batch's delta
        # to the checkpoint; full RocksDB snapshots move to background
        # maintenance. Without it every micro-batch pays a full
        # snapshot upload — measured 1.5-4x per-batch overhead on the
        # stream suite at sf0.1, and at 100 TB state it is the
        # difference between O(delta) and O(state) per commit.
        .config(
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled",
            "true",
        )
        # Row-count tracking makes every put/delete do a read-back get
        # purely for the numRowsTotal metric; disable on the hot path.
        .config(
            "spark.sql.streaming.stateStore.rocksdb."
            "trackTotalNumberOfRows",
            "false",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
