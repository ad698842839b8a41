"""Streaming-semantics tests (SURVEY §5.2/§5.4): equivalence, idempotent
delivery, multi-query topology, producer partition property, text
reconstitution, watermark late-data handling."""

from __future__ import annotations

import os
import sqlite3
import tempfile
from types import SimpleNamespace

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sparkstreaming_spark.operators.relational import split_segments
from sparkstreaming_spark.sinks.upsert import UpsertSink
from sparkstreaming_spark.sources.batch import read_table
from sparkstreaming_spark.streaming import pipeline
from sparkstreaming_spark.streaming.pipeline import (
    StreamingAggSpec,
    await_all,
    run_available_now,
    start_kpi_queries,
)
from sparkstreaming_spark.streaming import producer
from sparkstreaming_spark.streaming.producer import (
    pace_segments,
    produce_segments,
)
from sparkstreaming_spark.streaming.reconstitution import reconstitute_text
from tests.conftest import SF_DIR_SMOKE


def _orders_stream(spark, sf_dir):
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    )
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "orders.parquet")
        .parquet(sf_dir)
    )


def test_multi_query_concurrency(spark):
    """The reference's concurrent KPI topology (T6), fused: N specs over
    one source run as ONE stateless query, each spec adding into its own
    table; every table must match the batch aggregate."""
    db = os.path.join(tempfile.mkdtemp(), "kpi.db")
    specs = [
        StreamingAggSpec(
            "by_status", ["o_orderstatus"], lambda: [F.count(F.lit(1)).alias("cnt")]
        ),
        StreamingAggSpec(
            "by_priority", ["o_orderpriority"], lambda: [F.count(F.lit(1)).alias("cnt")]
        ),
    ]
    con = sqlite3.connect(db)
    for s in specs:
        con.execute(
            f"CREATE TABLE {s.name} ({s.group_cols[0]} TEXT PRIMARY KEY, cnt INTEGER)"
        )
    con.commit()
    con.close()

    def sink_factory(spec):
        return UpsertSink(
            connect=lambda: sqlite3.connect(db),
            table=spec.name,
            key_cols=spec.group_cols,
            val_cols=["cnt"],
        )

    queries = start_kpi_queries(
        _orders_stream(spark, SF_DIR_SMOKE),
        specs,
        sink_factory,
        trigger_available_now=True,
    )
    await_all(queries, timeout_sec=300)

    batch = read_table(spark, SF_DIR_SMOKE, "orders")
    con = sqlite3.connect(db)
    for spec in specs:
        got = dict(con.execute(f"SELECT * FROM {spec.name}").fetchall())
        want = {
            r[0]: r[1]
            for r in batch.groupBy(spec.group_cols[0]).count().collect()
        }
        assert got == want, f"{spec.name}: {got} != {want}"
    con.close()


def test_upsert_idempotent(spark):
    """Replaying the same batch must not change the table (the delivery
    guarantee the reference relies on implicitly, T7)."""
    db = os.path.join(tempfile.mkdtemp(), "i.db")
    sink = UpsertSink(
        connect=lambda: sqlite3.connect(db),
        table="t",
        key_cols=["k"],
        val_cols=["v"],
    )
    con = sqlite3.connect(db)
    con.execute(sink.create_table_sql({"k": "TEXT", "v": "INTEGER"}))
    con.commit()
    con.close()
    batch = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
    sink(batch, 0)
    sink(batch, 0)  # replay
    con = sqlite3.connect(db)
    assert sorted(con.execute("SELECT k, v FROM t").fetchall()) == [("a", 1), ("b", 2)]
    con.close()


def test_upsert_quotes_identifiers(tmp_path):
    """Column names are the reference's CSV headers, spaces included
    (`Type of Travel`, Consumer.scala:22-46): the sink must quote them,
    and the second batch's value for a key must add to the first."""
    db = str(tmp_path / "q.db")
    sink = UpsertSink(
        connect=lambda: sqlite3.connect(db),
        table="kpi by travel",
        key_cols=["Type of Travel"],
        val_cols=['say "cnt"'],
    )
    con = sqlite3.connect(db)
    con.execute(sink.create_table_sql(
        {"Type of Travel": "TEXT", 'say "cnt"': "INTEGER"}))
    con.commit()
    con.close()
    for batch_id, cnt in enumerate((1, 5)):
        assert sink.write([("Business travel", cnt)], batch_id)
    con = sqlite3.connect(db)
    got = con.execute('SELECT * FROM "kpi by travel"').fetchall()
    con.close()
    assert got == [("Business travel", 6)]


def test_pace_segments_moves_files_in_numeric_order(tmp_path, monkeypatch):
    """Each staged CSV lands in the watched directory unchanged, by
    rename (nothing left behind to be half-copied), segment 2 before
    segment 10."""
    staged, watch = tmp_path / "staged", tmp_path / "watch"
    want = {}
    for seg in (10, 1, 2):
        d = staged / f"segment={seg}"
        d.mkdir(parents=True)
        body = "".join(f"{seg},{i}\n" for i in range(3))
        (d / "part-0.csv").write_text(body)
        (d / ".part-0.csv.crc").write_text("crc")
        want[f"segment_{seg}_part-0.csv"] = body
    landed_before_sleep = []
    monkeypatch.setattr(producer, "time", SimpleNamespace(
        sleep=lambda _s: landed_before_sleep.append(sorted(os.listdir(watch)))))

    assert pace_segments(str(staged), str(watch), sleep_sec=0) == 3

    assert {f: (watch / f).read_text() for f in os.listdir(watch)} == want
    assert not list(staged.glob("*/*.csv"))
    assert landed_before_sleep == [
        ["segment_1_part-0.csv"],
        ["segment_1_part-0.csv", "segment_2_part-0.csv"],
    ]


def test_producer_segments_partition_input(spark):
    """Segments are an exact partition of the input — the property the
    reference's off-by-one violates (Producer.scala:31-37)."""
    orders = read_table(spark, SF_DIR_SMOKE, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    seg = split_segments(orders, "o_orderkey", 100)
    sizes = [r.cnt for r in seg.groupBy("segment").agg(F.count(F.lit(1)).alias("cnt"))
             .orderBy("segment").collect()]
    total = orders.count()
    assert sum(sizes) == total
    assert all(s == 100 for s in sizes[:-1]) and 0 < sizes[-1] <= 100
    # no duplicated or dropped keys
    assert seg.select("o_orderkey").distinct().count() == total


def test_reconstitution_end_to_end(spark, tmp_path):
    """Text segments → cleaned, segment-ordered single output file
    (FileReconstitution semantics minus the races)."""
    watch = tmp_path / "watch"
    watch.mkdir()
    (watch / "segment_2.txt").write_text("World!!\nB-line.\n")
    (watch / "segment_1.txt").write_text("Hello, Harry.\nA-line?\n")
    out = tmp_path / "out.txt"
    q = reconstitute_text(
        spark, str(watch), str(out), checkpoint_base=str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(120)
    lines = out.read_text().strip().split("\n")
    assert lines == ["hello harry", "aline", "world", "bline"]


def test_watermark_drops_late_data(spark, tmp_path):
    """withWatermark + append-mode window: rows later than the watermark
    delay are dropped once the watermark passes (T4 — absent in the
    reference, mandatory at scale)."""
    import time

    src = tmp_path / "src"
    src.mkdir()
    rows1 = [("2024-01-01 10:%02d:00" % m, 1.0) for m in range(0, 30, 5)]
    spark.createDataFrame(rows1, "ts_s string, v double").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src / "batch1"))
    time.sleep(1.2)  # distinct mtimes → deterministic file-source batch order
    # watermark propagation lags one batch, so an intermediate batch lets
    # the batch1-derived watermark take effect before the late row arrives
    spark.createDataFrame(
        [("2024-01-01 10:30:00", 1.0)], "ts_s string, v double"
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "batch2"))
    time.sleep(1.2)
    late = [("2024-01-01 08:00:00", 100.0)]  # 2h late vs 10-min watermark
    spark.createDataFrame(late, "ts_s string, v double").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src / "batch3"))

    stream = (
        spark.readStream.schema("ts_s string, v double")
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
        .withColumn("ts", F.to_timestamp("ts_s"))
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes"))
        .agg(F.sum("v").alias("sv"))
    )
    result = run_available_now(stream, output_mode="append",
                               checkpoint_base=str(tmp_path / "ck"))
    values = {r.sv for r in result.collect()}
    assert 100.0 not in values, "late row leaked past the watermark"


def test_drains_leave_no_views_or_checkpoints(spark, tmp_path):
    """Back-to-back drains leave the session catalog and the default
    checkpoint root as they found them, and each result frame still
    collects after its view and checkpoint are gone."""
    src = str(tmp_path / "src")
    spark.createDataFrame([("a", 1), ("b", 2), ("a", 3)], "k string, v int") \
        .coalesce(1).write.parquet(src)
    root = os.path.join(tempfile.gettempdir(), "sparkstreaming_ckpt")

    def own_ckpts():
        names = os.listdir(root) if os.path.isdir(root) else []
        return [n for n in names if n.startswith("leak_probe_")]

    tables = sorted(t.name for t in spark.catalog.listTables())
    outs = [
        run_available_now(
            spark.readStream.schema("k string, v int").parquet(src),
            lambda df: df.groupBy("k").agg(F.sum("v").alias("s")),
            query_name=f"leak_probe_{i}",
        )
        for i in range(3)
    ]
    assert sorted(t.name for t in spark.catalog.listTables()) == tables
    assert own_ckpts() == []
    for out in outs:
        assert {(r.k, r.s) for r in out.collect()} == {("a", 4), ("b", 2)}


def test_append_text_file_guards_oversized_batch(spark, tmp_path):
    """The reconstitution sink is single-file/driver-bound by contract;
    a batch above max_rows must fail loudly, not OOM the driver."""
    import pytest

    from sparkstreaming_spark.sinks.files import append_text_file

    df = spark.range(100).selectExpr("cast(id as string) AS line")
    out = str(tmp_path / "out.txt")
    with pytest.raises(ValueError, match="driver-bound"):
        append_text_file(df, out, max_rows=10)
    append_text_file(df, out, max_rows=100)
    with open(out) as fh:
        assert len(fh.read().splitlines()) == 100
