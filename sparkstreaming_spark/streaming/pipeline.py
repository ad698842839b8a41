"""Streaming KPI pipeline: N concurrent update-mode aggregations over one
source, each feeding an idempotent sink — the declarative re-expression of
the reference's Consumer (Consumer.scala:49-107).

Deltas from the reference (SURVEY §2.9):
- checkpointLocation is MANDATORY per query (T7 fix; the reference has
  none, so a crash replays the whole directory),
- queries are awaited with `awaitAnyTermination` semantics rather than
  the reference's sequential `awaitTermination()` chain (T6 fix),
- aggregation specs are data, not code: one `StreamingAggSpec` per KPI
  replaces a hand-written function per KPI,
- tests run with `trigger(availableNow=True)` + memory sink and assert
  streaming results == the batch plan on the same input (the Structured
  Streaming equivalence invariant, SURVEY §5.2).

State at scale (T3/T4): unwindowed update-mode aggregates keep one state
row per group key forever. Keys here are low-cardinality by design; for
high-cardinality keys use the event-time windowed ops (suite/events.py)
with watermarks, and configure the RocksDB state store provider
(spark.sql.streaming.stateStore.providerClass) — both documented engine
config, not code changes.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

STREAM_PARTITIONS_ENV = "SPARKSTREAMING_STREAM_PARTITIONS"


@contextmanager
def stream_state_partitions(spark: SparkSession, n: int | None = None):
    """Scope `spark.sql.shuffle.partitions` around a streaming query
    start — the knob that fixes the query's STATE partition count.

    Every stateful operator (agg, dedup, stream-stream join) keeps one
    state-store instance per shuffle partition and pays a per-partition
    commit (changelog/snapshot to the checkpoint) every micro-batch:
    fixed cost O(partitions x batches) regardless of data volume. So
    state partitions must be sized to state cardinality and arrival
    rate, NOT to the session's CPU-count default — at the local bench
    SF the default 32 made a 2-partition-sized stream-stream join pay
    32 RocksDB commits per batch per store (measured 3x: 8.4s -> 2.8s
    at 8 partitions), while a 1000-executor cluster with billions of
    keys wants thousands (set $SPARKSTREAMING_STREAM_PARTITIONS).

    Spark pins the count into the checkpoint at first start, so resume
    keeps working whatever the session conf says later. Batch plans
    after the drain run under the restored session value.
    """
    n = n or int(os.environ.get(STREAM_PARTITIONS_ENV, "8"))
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


@dataclass
class StreamingAggSpec:
    """One streaming KPI: group keys + aggregate expressions + a name."""

    name: str
    group_cols: list[str]
    aggs: Callable[[], list]  # thunk returning Column list (Columns aren't reusable)
    output_mode: str = "update"

    def apply(self, stream_df: DataFrame) -> DataFrame:
        return stream_df.groupBy(*self.group_cols).agg(*self.aggs())


def _checkpoint_dir(base: str | None, name: str) -> str:
    base = base or os.path.join(tempfile.gettempdir(), "sparkstreaming_ckpt")
    return os.path.join(base, f"{name}-{uuid.uuid4().hex[:8]}")


def start_kpi_queries(
    stream_df: DataFrame,
    specs: list[StreamingAggSpec],
    sink_factory: Callable[[StreamingAggSpec], Callable],
    checkpoint_base: str | None = None,
    trigger_available_now: bool = False,
    processing_time: str | None = None,
) -> list[StreamingQuery]:
    """Start one StreamingQuery per spec over a shared source DF —
    the reference's 5-concurrent-query topology (Consumer.scala:60-100),
    parameterized. `sink_factory(spec)` returns the foreachBatch callable
    (e.g. sinks.UpsertSink keyed on the spec's group columns)."""
    queries = []
    with stream_state_partitions(stream_df.sparkSession):
        for spec in specs:
            writer = (
                spec.apply(stream_df)
                .writeStream.outputMode(spec.output_mode)
                .queryName(spec.name)
                .option(
                    "checkpointLocation",
                    _checkpoint_dir(checkpoint_base, spec.name),
                )
                .foreachBatch(sink_factory(spec))
            )
            if trigger_available_now:
                writer = writer.trigger(availableNow=True)
            elif processing_time:
                writer = writer.trigger(processingTime=processing_time)
            queries.append(writer.start())
    return queries


def await_all(queries: list[StreamingQuery], timeout_sec: float | None = None) -> None:
    for q in queries:
        q.awaitTermination(timeout_sec) if timeout_sec else q.awaitTermination()


def run_available_now(
    stream_df: DataFrame,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    output_mode: str = "complete",
    query_name: str | None = None,
    checkpoint_base: str | None = None,
    timeout_sec: float = 300.0,
    state_partitions: int | None = None,
) -> DataFrame:
    """Run a streaming plan to completion over the currently-available
    input (availableNow trigger + memory sink) and return the final result
    as a batch DataFrame — the test/correctness harness for every
    streaming operator.

    The drain leaves nothing behind in the session: the memory sink's
    view is dropped once the result frame holds its plan, and a
    checkpoint dir made here (no `checkpoint_base`) is removed once the
    query has stopped. A caller-given `checkpoint_base` is the caller's
    to keep.

    `state_partitions` overrides the scoped state-partition default for
    queries whose state cardinality is known to the caller (see
    stream_state_partitions: size to state, not CPUs)."""
    spark = stream_df.sparkSession
    name = query_name or f"run_{uuid.uuid4().hex[:8]}"
    plan = transform(stream_df) if transform else stream_df
    ckpt = _checkpoint_dir(checkpoint_base, name)
    with stream_state_partitions(spark, state_partitions):
        q = (
            plan.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(timeout_sec)
        finally:
            if q.isActive:
                q.stop()
            if checkpoint_base is None:
                shutil.rmtree(ckpt, ignore_errors=True)
    result = spark.table(name)
    spark.catalog.dropTempView(name)
    return result
