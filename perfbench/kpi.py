"""`kpi_stream`: the reference's topology end to end.

Seeded passenger CSV segments (produce_segments) land in a watched
directory; six update-mode KPI queries (StreamingAggSpec, started by
start_kpi_queries over stream_csv_dir) each upsert one sqlite table
(UpsertSink). Two phases:

- catch-up: a backlog of segments is in the directory before the queries
  start; timed until every KPI table holds all of it;
- live: a generator lands one segment every 1/RATE s, open loop,
  by renaming a staged file into the directory; each segment is timed
  from when it was due until every KPI table reflects it.
"""

from __future__ import annotations

import functools
import itertools
import os
import sqlite3
import time
from collections import Counter, defaultdict

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from sparkstreaming_spark.sinks.upsert import UpsertSink
from sparkstreaming_spark.sources.streaming import stream_csv_dir
from sparkstreaming_spark.streaming.pipeline import StreamingAggSpec, start_kpi_queries
from sparkstreaming_spark.streaming.producer import produce_segments

from . import checks, data, probe

# The reference's pacing: 1,000-row segments (SparkSessionTrait.scala:9),
# one per second (Producer.scala:46).
ROWS_PER_SEGMENT = 1_000
RATE = 1.0  # live segments landed per second
WARMUP_SEGMENTS = 4
BACKLOG_SEGMENTS = 120
DRAIN_TIMEOUT_S = 90.0


def _count():
    return [F.count(F.lit(1)).alias("cnt")]


def _loyalty():
    loyal = F.when(F.col("customer_type") == "Loyal Customer", 1).otherwise(0)
    return [
        F.sum(loyal).cast("int").alias("loyal"),
        (F.count("customer_type") - F.sum(loyal)).cast("int").alias("disloyal"),
    ]


# The reference's six KPIs (Consumer.scala:129-145). Column names are
# SQL-safe aliases of the CSV columns, because UpsertSink writes them
# into its SQL unquoted.
KPIS = [
    StreamingAggSpec("kpi_gender", ["gender"], _count),
    StreamingAggSpec("kpi_class_satisfaction", ["travel_class", "satisfaction"], _count),
    StreamingAggSpec("kpi_travel_type", ["travel_type"], _count),
    StreamingAggSpec("kpi_age", ["age"], _count),
    StreamingAggSpec("kpi_satisfaction", ["satisfaction"], _count),
    StreamingAggSpec("kpi_loyalty_by_age", ["age"], _loyalty),
]
SOURCE_COLUMNS = {
    "gender": "Gender",
    "customer_type": "Customer Type",
    "age": "Age",
    "travel_type": "Type of Travel",
    "travel_class": "Class",
    "satisfaction": "satisfaction",
}


def _val_cols(spec: StreamingAggSpec) -> list[str]:
    return ["loyal", "disloyal"] if spec.name == "kpi_loyalty_by_age" else ["cnt"]


def tally(table) -> dict[str, Counter]:
    """The generator's own count of every KPI over the rows it wrote, keyed
    like the sqlite tables (key tuple -> value tuple)."""
    cols = {k: table.column(v).to_pylist() for k, v in SOURCE_COLUMNS.items()}
    rows = list(zip(*(cols[k] for k in SOURCE_COLUMNS)))
    idx = {k: i for i, k in enumerate(SOURCE_COLUMNS)}
    out = {}
    for spec in KPIS:
        keys = [tuple(r[idx[c]] for c in spec.group_cols) for r in rows]
        if spec.name == "kpi_loyalty_by_age":
            acc: dict = defaultdict(lambda: [0, 0])
            for k, r in zip(keys, rows):
                acc[k][0 if r[idx["customer_type"]] == "Loyal Customer" else 1] += 1
            out[spec.name] = {k: tuple(v) for k, v in acc.items()}
        else:
            out[spec.name] = {k: (v,) for k, v in Counter(keys).items()}
    return out


def read_tables(db_dir: str) -> dict[str, dict]:
    out = {}
    for spec in KPIS:
        con = sqlite3.connect(os.path.join(db_dir, f"{spec.name}.db"))
        cols = spec.group_cols + _val_cols(spec)
        rows = con.execute(f"SELECT {', '.join(cols)} FROM {spec.name}").fetchall()
        con.close()
        k = len(spec.group_cols)
        out[spec.name] = {tuple(r[:k]): tuple(r[k:]) for r in rows}
    return out


class RecordingSink:
    """foreachBatch callable around an UpsertSink: times the call and then
    reads how many rows the table now reflects."""

    def __init__(self, sink: UpsertSink, db: str, total_sql: str, tracer, log):
        self.sink, self.db, self.total_sql = sink, db, total_sql
        self.tracer, self.log = tracer, log

    def __call__(self, batch_df, batch_id: int) -> None:
        t0 = time.perf_counter()
        with self.tracer.span("sinks.upsert.call", table=self.sink.table, batch=batch_id):
            self.sink(batch_df, batch_id)
        t1 = time.perf_counter()
        con = sqlite3.connect(self.db)
        total = con.execute(self.total_sql).fetchone()[0] or 0
        con.close()
        self.log.append((self.sink.table, t1, total, t1 - t0))


def _segment_files(staged: str) -> list[list[str]]:
    segs = sorted(
        (d for d in os.listdir(staged) if d.startswith("segment=")),
        key=lambda d: int(d.split("=")[1]),
    )
    return [
        sorted(os.path.join(staged, d, f) for f in os.listdir(os.path.join(staged, d))
               if f.endswith(".csv"))
        for d in segs
    ]


def _csv_rows(path: str) -> int:
    with open(path, "rb") as f:
        return sum(1 for _ in f) - 1  # one header line per file


def _land(files: list[str], watch: str, seg: int) -> None:
    for i, path in enumerate(files):
        os.rename(path, os.path.join(watch, f"seg{seg:05d}_{i}.csv"))


def _reflected_at(log, n_rows: int) -> float | None:
    """When every KPI table first reflected at least `n_rows` rows."""
    when = []
    for spec in KPIS:
        t = next((t for table, t, total, _ in log
                  if table == spec.name and total >= n_rows), None)
        if t is None:
            return None
        when.append(t)
    return max(when)


def _make_tables(db_dir: str) -> None:
    os.makedirs(db_dir)
    for spec in KPIS:
        con = sqlite3.connect(os.path.join(db_dir, f"{spec.name}.db"))
        con.execute("PRAGMA journal_mode=WAL")
        key = ", ".join(spec.group_cols)
        cols = [f"{c} {'INTEGER' if c == 'age' else 'TEXT'}" for c in spec.group_cols]
        cols += [f"{c} INTEGER" for c in _val_cols(spec)]
        con.execute(f"CREATE TABLE {spec.name} ({', '.join(cols)}, PRIMARY KEY ({key}))")
        con.commit()
        con.close()


def _sink_factory(db_dir: str, tracer, log: list):
    def factory(spec):
        db = os.path.join(db_dir, f"{spec.name}.db")
        total = "SELECT sum(loyal + disloyal)" if spec.name == "kpi_loyalty_by_age" \
            else "SELECT sum(cnt)"
        sink = UpsertSink(
            connect=functools.partial(sqlite3.connect, db, timeout=60),
            table=spec.name, key_cols=spec.group_cols, val_cols=_val_cols(spec),
        )
        return RecordingSink(sink, db, f"{total} FROM {spec.name}", tracer, log)

    return factory


def _start(spark, watch: str, db_dir: str, ckpt: str, tracer, log: list, **trigger):
    stream = stream_csv_dir(spark, watch, data.PASSENGER_DDL).select(
        *(F.col(f"`{c}`").alias(a) for a, c in SOURCE_COLUMNS.items())
    )
    return start_kpi_queries(
        stream, KPIS, _sink_factory(db_dir, tracer, log), checkpoint_base=ckpt, **trigger
    )


def setup(spark, run_dir: str, seed: int, seconds: int, tracer) -> dict:
    """Generate the rows and split them into segments, warm the six queries
    up on the first few segments (availableNow, own watched directory,
    checkpoints and tables), then stage the backlog."""
    n_live = int(round(RATE * seconds))
    n_segs = WARMUP_SEGMENTS + BACKLOG_SEGMENTS + n_live
    table = data.passengers(n_segs * ROWS_PER_SEGMENT, seed)
    src = os.path.join(run_dir, "passengers.parquet")
    pq.write_table(table, src)
    staged = os.path.join(run_dir, "staged")
    with tracer.span("streaming.producer.split"):
        t0 = time.perf_counter()
        produce_segments(spark.read.parquet(src), "id", staged, ROWS_PER_SEGMENT)
        split_s = time.perf_counter() - t0
    segs = _segment_files(staged)
    warm, segs = segs[:WARMUP_SEGMENTS], segs[WARMUP_SEGMENTS:]

    with tracer.span("streaming.warmup"):
        watch = os.path.join(run_dir, "warmup-watch")
        os.makedirs(watch)
        for k, files in enumerate(warm):
            _land(files, watch, k)
        db_dir = os.path.join(run_dir, "warmup-kpi")
        _make_tables(db_dir)
        queries = _start(spark, watch, db_dir, os.path.join(run_dir, "warmup-ckpt"),
                         tracer, [], trigger_available_now=True)
        for q in queries:
            q.awaitTermination(DRAIN_TIMEOUT_S)
            q.stop()

    rows = [sum(_csv_rows(f) for f in files) for files in segs]
    watch = os.path.join(run_dir, "watch")
    os.makedirs(watch)
    db_dir = os.path.join(run_dir, "kpi")
    _make_tables(db_dir)
    for k in range(BACKLOG_SEGMENTS):
        _land(segs[k], watch, k)
    # split_segments numbers segments in id order, so the measured rows
    # are the ids after the warm-up segments
    measured = table.slice(WARMUP_SEGMENTS * ROWS_PER_SEGMENT)
    return {
        "tally": tally(measured), "segs": segs, "rows": rows, "watch": watch,
        "db_dir": db_dir, "ckpt": os.path.join(run_dir, "checkpoints"),
        "split_s": split_s, "n_live": n_live,
    }


def _progress(queries, first_batch: dict) -> list[dict]:
    out = []
    for q in queries:
        for p in q.recentProgress:
            if p.batchId >= first_batch.get(q.name, 0) and p.numInputRows > 0:
                out.append(p)
    return out


def run(spark, st: dict, seconds: int, tracer, trace: bool) -> dict:
    log: list = []
    rows = st["rows"]
    backlog_rows = sum(rows[:BACKLOG_SEGMENTS])
    total_rows = sum(rows)

    def wait_for(n: int, deadline: float) -> float | None:
        while time.perf_counter() < deadline:
            t = _reflected_at(list(log), n)
            if t is not None:
                return t
            time.sleep(0.02)
        return None

    cpu0 = probe.tree_cpu_s()
    t_start = time.perf_counter()
    with tracer.span("streaming.pipeline.catchup"):
        queries = _start(spark, st["watch"], st["db_dir"], st["ckpt"], tracer, log)
        t_caught = wait_for(backlog_rows, t_start + DRAIN_TIMEOUT_S)
    catchup_s = None if t_caught is None else t_caught - t_start
    plan = defaultdict(float)
    if trace:  # the catch-up batch is each query's last execution so far
        for q in queries:
            execution = q._jsq.streamingQuery().lastExecution()
            if execution is not None:
                probe._plan_metrics(execution.executedPlan(), plan)
    live_first = {q.name: (q.lastProgress.batchId + 1 if q.lastProgress else 0)
                  for q in queries}

    # The generator: one staged segment renamed into the watched directory
    # every 1/RATE s, open loop; foreachBatch calls arrive on other threads.
    due: list[float] = []
    late = 0.0
    with tracer.span("streaming.pipeline.live"):
        t_live = time.perf_counter()
        for i in range(st["n_live"]):
            d = t_live + i / RATE
            time.sleep(max(0.0, d - time.perf_counter()))
            _land(st["segs"][BACKLOG_SEGMENTS + i], st["watch"], BACKLOG_SEGMENTS + i)
            late = max(late, time.perf_counter() - d)
            due.append(d)
        wait_for(total_rows, time.perf_counter() + DRAIN_TIMEOUT_S)
    cum = itertools.accumulate(rows[BACKLOG_SEGMENTS:], initial=backlog_rows)
    reflected = [_reflected_at(log, c) for c in list(cum)[1:]]
    latencies = [t - d for t, d in zip(reflected, due) if t is not None]
    # segments landed but not yet in every KPI table, at each landing
    backlog = [sum(1 for t in reflected[:i + 1] if t is None or t > d)
               for i, d in enumerate(due)]
    cpu1 = probe.tree_cpu_s()
    progress = _progress(queries, live_first) if trace else []
    counters = {}
    if trace:
        sc = spark.sparkContext
        jst = [probe.job_counts(sc, str(q.runId)) for q in queries]
        n_batches = sum(len([p for p in q.recentProgress if p.numInputRows > 0])
                        for q in queries)
        counters = {
            **{k: plan[k] for k in probe.PLAN_METRICS},
            "spark.jobs": sum(j[0] for j in jst) / max(n_batches, 1),
            "spark.stages": sum(j[1] for j in jst) / max(n_batches, 1),
            "spark.tasks": sum(j[2] for j in jst) / max(n_batches, 1),
        }
    for q in queries:
        q.stop()
    # A segment fails when no table state ever reflects it before the deadline.
    failed = (BACKLOG_SEGMENTS if t_caught is None else 0) + len(due) - len(latencies)
    got = read_tables(st["db_dir"])
    problems = checks.kpi_tables(got, st["tally"], total_rows)
    if failed:
        problems.append(f"{failed} segments not reflected within {DRAIN_TIMEOUT_S} s")
    return {
        "attempted": len(rows),
        "failed": failed,
        "problems": problems,
        "catchup_s": catchup_s,
        "catchup_rows_per_s": backlog_rows / catchup_s if catchup_s else None,
        "latencies": latencies,
        "lateness_max_s": late,
        "cpu_s": cpu1[0] - cpu0[0],
        "jit_cpu_s": cpu1[1] - cpu0[1],
        "sink_calls": [c for *_, c in log],
        "progress": progress,
        "counters": counters,
        "backlog": backlog,
    }


def stream_metrics(progress: list) -> dict[str, float]:
    """Per live micro-batch means of the phases and state-store figures."""
    sums: dict[str, float] = defaultdict(float)
    for p in progress:
        for name, key in (
            ("trigger_ms", "triggerExecution"), ("add_batch_ms", "addBatch"),
            ("planning_ms", "queryPlanning"), ("wal_commit_ms", "walCommit"),
            ("commit_offsets_ms", "commitOffsets"), ("latest_offset_ms", "latestOffset"),
        ):
            sums[f"streaming.{name}"] += float(p.durationMs.get(key, 0))
        for name, key in (
            ("state_commit_ms", "commitTimeMs"), ("state_rows_updated", "numRowsUpdated"),
            ("state_memory_bytes", "memoryUsedBytes"),
        ):
            sums[f"streaming.{name}"] += float(sum(getattr(s, key) for s in p.stateOperators))
    out = {k: v / len(progress) for k, v in sums.items()}
    out["streaming.batches"] = float(len(progress))
    return out
