"""The fused KPI pipeline (streaming/pipeline.py::start_kpi_queries into
sinks/upsert.py::UpsertSink) end to end: the reference's own column
names, exactly-once across a crash between tables, restarts and new
checkpoints, and loud failures for what it cannot do."""

from __future__ import annotations

import csv
import os
import random
import sqlite3

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from sparkstreaming_spark.sinks.upsert import UpsertSink
from sparkstreaming_spark.sources.streaming import stream_csv_dir
from sparkstreaming_spark.streaming import pipeline
from sparkstreaming_spark.streaming.pipeline import StreamingAggSpec, start_kpi_queries

# The reference's CSV headers, unaliased (Consumer.scala:22-46).
COLS = ["Gender", "Customer Type", "Age", "Type of Travel", "satisfaction"]
SCHEMA = "Gender string, `Customer Type` string, Age int, `Type of Travel` string, " \
         "satisfaction string"


def _count():
    return [F.count(F.lit(1)).alias("cnt")]


def _loyalty():
    loyal = F.when(F.col("`Customer Type`") == "Loyal Customer", 1).otherwise(0)
    return [
        F.sum(loyal).cast("int").alias("loyal"),
        (F.count("`Customer Type`") - F.sum(loyal)).cast("int").alias("disloyal"),
    ]


SPECS = [
    StreamingAggSpec("kpi_gender", ["Gender"], _count),
    StreamingAggSpec("kpi_travel", ["Type of Travel", "satisfaction"], _count),
    StreamingAggSpec("kpi_age", ["Age"], _count),
    StreamingAggSpec("kpi_loyalty_by_age", ["Age"], _loyalty),
]


def _val_cols(spec):
    return ["loyal", "disloyal"] if spec.name == "kpi_loyalty_by_age" else ["cnt"]


def _rows(seed: int, n: int = 40) -> list[tuple]:
    rnd = random.Random(seed)
    return [
        (rnd.choice(["Male", "Female"]),
         rnd.choice(["Loyal Customer", "disloyal Customer"]),
         rnd.randint(7, 12),
         rnd.choice(["Business travel", "Personal Travel"]),
         rnd.choice(["satisfied", "neutral or dissatisfied"]))
        for _ in range(n)
    ]


def _land(src, name: str, rows: list[tuple], mtime: int | None = None) -> None:
    """One CSV file; with `mtime`, the file source reads files in its order."""
    os.makedirs(src, exist_ok=True)
    path = os.path.join(src, name)
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(COLS)
        w.writerows(rows)
    if mtime is not None:
        os.utime(path, (mtime, mtime))


def _sink(db: str, spec: StreamingAggSpec) -> UpsertSink:
    return UpsertSink(connect=lambda: sqlite3.connect(db), table=spec.name,
                      key_cols=spec.group_cols, val_cols=_val_cols(spec))


def _make_tables(db: str, specs=SPECS) -> None:
    con = sqlite3.connect(db)
    for spec in specs:
        schema = {c: "INTEGER" if c == "Age" else "TEXT" for c in spec.group_cols}
        schema.update({c: "INTEGER" for c in _val_cols(spec)})
        con.execute(_sink(db, spec).create_table_sql(schema))
    con.commit()
    con.close()


def _read(db: str, spec: StreamingAggSpec) -> dict:
    con = sqlite3.connect(db)
    rows = con.execute(f'SELECT * FROM "{spec.name}"').fetchall()
    con.close()
    k = len(spec.group_cols)
    return {r[:k]: r[k:] for r in rows}


def _want(spark, spec: StreamingAggSpec, rows: list[tuple]) -> dict:
    """The batch plan of the spec over the same rows."""
    batch = spark.createDataFrame(rows, SCHEMA)
    k = len(spec.group_cols)
    return {tuple(r[:k]): tuple(r[k:]) for r in spec.apply(batch).collect()}


def _drain(spark, src, ckpt, factory, specs=SPECS):
    stream = stream_csv_dir(spark, str(src), SCHEMA, max_files_per_trigger=1)
    (q,) = start_kpi_queries(stream, specs, factory, checkpoint_base=str(ckpt),
                             trigger_available_now=True)
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    return q


def test_reference_column_names_upsert_unaliased(spark, tmp_path):
    """The reference's headers (`Type of Travel`, `Customer Type`) go
    from the CSV stream through one query into the sink tables as they
    are, and each table equals its batch aggregate."""
    src, db = tmp_path / "src", str(tmp_path / "kpi.db")
    rows = _rows(1) + _rows(2)
    _land(src, "a.csv", rows[:40])
    _land(src, "b.csv", rows[40:])
    _make_tables(db)
    q = _drain(spark, src, tmp_path / "ckpt", lambda spec: _sink(db, spec))
    assert sum(p["numInputRows"] for p in q.recentProgress) == len(rows)
    for spec in SPECS:
        assert _read(db, spec) == _want(spark, spec, rows), spec.name


def test_crash_between_tables_then_restart_is_exactly_once(spark, tmp_path):
    """The sink raises on batch 1 after 2 of the 4 tables committed it.
    A restart from the same checkpoint replays batch 1: the 2 tables
    that have it skip it by their ledger, the others add it, and every
    table equals the batch aggregate over all input."""
    src, db, ckpt = tmp_path / "src", str(tmp_path / "kpi.db"), tmp_path / "ckpt"
    parts = [_rows(s) for s in (3, 4, 5)]
    for i, part in enumerate(parts):
        _land(src, f"seg{i}.csv", part, mtime=1_700_000_000 + i)
    _make_tables(db)
    committed = []

    def crashing(spec):
        sink = _sink(db, spec)

        def call(df, batch_id):
            if batch_id == 1 and len(committed) == 2:
                raise RuntimeError("injected sink crash")
            sink(df, batch_id)
            if batch_id == 1:
                committed.append(spec.name)
        return call

    with pytest.raises(StreamingQueryException, match="injected sink crash"):
        _drain(spark, src, ckpt, crashing)
    assert committed == [s.name for s in SPECS[:2]]
    for spec in SPECS:
        seen = parts[0] + parts[1] if spec.name in committed else parts[0]
        assert _read(db, spec) == _want(spark, spec, seen), spec.name

    q = _drain(spark, src, ckpt, lambda spec: _sink(db, spec))
    assert [p["batchId"] for p in q.recentProgress] == [1, 2]
    for spec in SPECS:
        assert _read(db, spec) == _want(spark, spec, sum(parts, [])), spec.name


def test_sink_skips_a_replayed_batch_id(tmp_path):
    """A second write of the same batch id changes nothing, and neither
    does an older one; the next batch id adds."""
    db = str(tmp_path / "r.db")
    sink = UpsertSink(connect=lambda: sqlite3.connect(db), table="t",
                      key_cols=["k"], val_cols=["n"])
    con = sqlite3.connect(db)
    con.execute(sink.create_table_sql({"k": "TEXT", "n": "INTEGER"}))
    con.commit()
    con.close()
    assert sink.write([("a", 1), ("b", 2)], 0, "q")
    assert sink.write([("a", 10)], 1, "q")
    assert not sink.write([("a", 1), ("b", 2)], 1, "q")
    assert not sink.write([("b", 100)], 0, "q")
    con = sqlite3.connect(db)
    assert sorted(con.execute("SELECT k, n FROM t").fetchall()) == [("a", 11), ("b", 2)]
    con.close()


def test_new_checkpoint_is_not_skipped_as_a_replay(spark, tmp_path):
    """A second query from a NEW checkpoint numbers its batches from 0
    again; into the same tables they add, they are not taken for a
    replay of the first query's batches 0..n."""
    db = str(tmp_path / "kpi.db")
    first, second = _rows(6), _rows(7)
    _land(tmp_path / "src1", "a.csv", first)
    _land(tmp_path / "src2", "b.csv", second)
    _make_tables(db)
    factory = lambda spec: _sink(db, spec)  # noqa: E731
    _drain(spark, tmp_path / "src1", tmp_path / "ckpt1", factory)
    q = _drain(spark, tmp_path / "src2", tmp_path / "ckpt2", factory)
    assert [p["batchId"] for p in q.recentProgress] == [0]
    for spec in SPECS:
        assert _read(db, spec) == _want(spark, spec, first + second), spec.name


@pytest.mark.parametrize("agg", [
    lambda: F.avg("Age"),
    lambda: F.min("Age"),
    lambda: F.max("Age"),
    lambda: F.count_distinct("Age"),
    lambda: F.count(F.lit(1)) + F.lit(1),
], ids=["avg", "min", "max", "count_distinct", "count_plus_literal"])
def test_non_additive_aggregate_fails_before_start(spark, tmp_path, agg):
    """Per-batch values of these do not add up to the value over all
    input, so the pipeline refuses them before any query starts."""
    _land(tmp_path / "src", "a.csv", _rows(8))
    stream = stream_csv_dir(spark, str(tmp_path / "src"), SCHEMA)
    bad = StreamingAggSpec("kpi_bad", ["Gender"], lambda: [agg().alias("v")])
    active = len(spark.streams.active)
    with pytest.raises(ValueError, match="kpi_bad: .* does not add across micro-batches"):
        start_kpi_queries(stream, [SPECS[0], bad], lambda spec: None,
                          checkpoint_base=str(tmp_path / "ckpt"))
    assert len(spark.streams.active) == active


def test_delta_above_row_bound_fails_loudly(spark, tmp_path, monkeypatch):
    """A micro-batch whose KPI delta has more rows than MAX_DELTA_ROWS
    fails the query, naming the bound and the windowed alternative, and
    writes nothing."""
    monkeypatch.setattr(pipeline, "MAX_DELTA_ROWS", 3)
    db = str(tmp_path / "kpi.db")
    _land(tmp_path / "src", "a.csv", _rows(9))  # ages 7..12: 6 groups
    spec = SPECS[2]
    _make_tables(db, [spec])
    with pytest.raises(StreamingQueryException, match="MAX_DELTA_ROWS=3.*windowed"):
        _drain(spark, tmp_path / "src", tmp_path / "ckpt",
               lambda s: _sink(db, s), [spec])
    assert _read(db, spec) == {}
