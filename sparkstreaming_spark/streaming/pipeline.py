"""Streaming KPI pipeline: every KPI over one source as ONE stateless
micro-batch query, its per-batch deltas added into idempotent sinks — the
declarative re-expression of the reference's Consumer
(Consumer.scala:49-107).

The reference starts one update-mode query per KPI, so each KPI re-reads
the source and keeps its own aggregation state. Here the sink tables ARE
the state (Structured Streaming, SIGMOD 2018: exactly-once = a replayable
source + a sink idempotent per batch id):

- one append-mode query per source; its `foreachBatch` computes every
  spec's per-batch delta in one Spark action (`groupingSets` over the
  specs' key sets, each spec's aggregates aliased apart, told apart by
  `grouping_id()`), brings the small result to the driver once and hands
  each spec's rows to `sink_factory(spec)` as a local DataFrame;
- the sink adds the delta to the stored values and records the batch id
  in the same transaction (sinks/upsert.py), so a batch replayed after a
  crash is skipped and the table equals the aggregate over all input;
- there is no state store, so no per-batch state commit.

That works only for aggregates that add across batches: `count`, `sum`,
and `+`/`-`/cast combinations of them. `start_kpi_queries` checks each
spec's analyzed plan and refuses anything else (`avg`, `min`, `max`,
distinct counts) before a query starts. The delta is rolled up on the
driver, which suits the reference's low-cardinality KPIs; a micro-batch
whose delta exceeds `MAX_DELTA_ROWS` fails the query. High-cardinality
keys belong to a windowed aggregate with a watermark, drained through
`run_available_now` (as `q_stream_chained_windows` in
suite/streaming_suite.py does).

Deltas from the reference (SURVEY §2.9):
- checkpointLocation is MANDATORY (T7 fix; the reference has none, so a
  crash replays the whole directory); under a caller's
  `checkpoint_base` it is a fixed path, so a restart resumes;
- aggregation specs are data, not code: one `StreamingAggSpec` per KPI
  replaces a hand-written function per KPI;
- tests run with `trigger(availableNow=True)` and assert the sink tables
  == the batch plan on the same input (the Structured Streaming
  equivalence invariant, SURVEY §5.2).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass

import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
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


# Most rows one micro-batch's KPI delta may hold, over all specs: the
# delta is collected to the driver.
MAX_DELTA_ROWS = 100_000

# Aggregates whose per-batch values add up to the value over all batches,
# and the expressions that keep that true when they combine them.
_ADDITIVE_AGGS = {"Count", "Sum"}
_LINEAR = {"Alias", "Cast", "Add", "Subtract", "UnaryMinus"}
_GID = "_gid"


@dataclass
class StreamingAggSpec:
    """One streaming KPI: group keys + additive aggregates + a name."""

    name: str
    group_cols: list[str]
    aggs: Callable[[], list]  # thunk returning Column list (Columns aren't reusable)

    def apply(self, df: DataFrame) -> DataFrame:
        return df.groupBy(*map(_col, self.group_cols)).agg(*self.aggs())


def _col(name: str):
    return F.col("`" + name.replace("`", "``") + "`")


def _non_additive(expr) -> str | None:
    """SQL of the first part of an analyzed aggregate output expression
    that does not add across micro-batches, or None."""
    kind = expr.getClass().getSimpleName()
    if kind == "AggregateExpression":
        fn = expr.aggregateFunction().getClass().getSimpleName()
        return None if fn in _ADDITIVE_AGGS and not expr.isDistinct() else expr.sql()
    if kind not in _LINEAR:
        return expr.sql()
    kids = expr.children()
    return next(filter(None, (_non_additive(kids.apply(i)) for i in range(kids.size()))),
                None)


def _value_cols(stream_df: DataFrame, spec: StreamingAggSpec) -> list[str]:
    """The spec's aggregate column names; raises ValueError if one of
    them is not additive."""
    agg = spec.apply(stream_df)
    exprs = agg._jdf.queryExecution().analyzed().aggregateExpressions()
    for i in range(len(spec.group_cols), exprs.size()):
        bad = _non_additive(exprs.apply(i))
        if bad:
            raise ValueError(
                f"{spec.name}: {bad} does not add across micro-batches; "
                "start_kpi_queries takes count, sum and +/-/cast of them"
            )
    return agg.columns[len(spec.group_cols):]


@dataclass
class _KpiBatch:
    """foreachBatch body of start_kpi_queries: every spec's delta in one
    Spark action, then each spec's rows to its sink."""

    specs: list[StreamingAggSpec]
    value_cols: list[list[str]]
    sinks: list[Callable]

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        keys = list(dict.fromkeys(c for s in self.specs for c in s.group_cols))
        sets = list(dict.fromkeys(tuple(s.group_cols) for s in self.specs))
        aggs = [c.alias(f"_{i}_{j}") for i, s in enumerate(self.specs)
                for j, c in enumerate(s.aggs())]
        delta = (
            batch_df.groupingSets([list(map(_col, g)) for g in sets], *map(_col, keys))
            .agg(*aggs, F.grouping_id().alias(_GID))
            .toArrow()
        )
        if delta.num_rows > MAX_DELTA_ROWS:
            raise ValueError(
                f"micro-batch {batch_id}: {delta.num_rows} KPI delta rows exceed "
                f"MAX_DELTA_ROWS={MAX_DELTA_ROWS}; start_kpi_queries rolls KPIs up "
                "on the driver, so high-cardinality keys belong to a windowed "
                "aggregate with a watermark (run_available_now)"
            )
        spark = batch_df.sparkSession
        for i, (spec, names, sink) in enumerate(zip(self.specs, self.value_cols, self.sinks)):
            gid = sum(1 << (len(keys) - 1 - p) for p, c in enumerate(keys)
                      if c not in spec.group_cols)
            rows = (
                delta.filter(pc.equal(delta[_GID], gid))
                .select(spec.group_cols + [f"_{i}_{j}" for j in range(len(names))])
                .rename_columns(spec.group_cols + names)
            )
            sink(spark.createDataFrame(rows), batch_id)


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
    """Start ONE stateless append-mode query over `stream_df` that feeds
    every spec (the reference's 5-concurrent-query topology,
    Consumer.scala:60-100, fused) and return it in a list.
    `sink_factory(spec)` returns the callable that receives each
    micro-batch's delta for that spec as `(df, batch_id)` and must add it
    idempotently per batch id (sinks.UpsertSink keyed on the spec's group
    columns). Raises ValueError before starting if a spec's aggregate
    does not add across batches."""
    value_cols = [_value_cols(stream_df, s) for s in specs]
    name = "+".join(s.name for s in specs)
    ckpt = (os.path.join(checkpoint_base, name) if checkpoint_base
            else _checkpoint_dir(None, name))
    writer = (
        stream_df.writeStream.outputMode("append")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .foreachBatch(_KpiBatch(specs, value_cols, [sink_factory(s) for s in specs]))
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return [writer.start()]


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
