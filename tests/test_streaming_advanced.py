"""Advanced streaming coverage: stream-stream joins with watermarks and
the RocksDB state-store provider (the at-scale state backend named in
SURVEY §4/§7)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sparkstreaming_spark.streaming.pipeline import run_available_now


def _write(spark, path, rows, schema):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(path)


def test_stream_stream_join_with_watermarks(spark, tmp_path):
    """Interval-bounded stream-stream inner join: impressions ⋈ clicks
    within 10 minutes — both sides watermarked (required for state
    cleanup in stream-stream joins)."""
    imp = str(tmp_path / "imp")
    clk = str(tmp_path / "clk")
    _write(
        spark, imp,
        [("ad1", "2024-01-01 10:00:00"), ("ad2", "2024-01-01 10:05:00"),
         ("ad3", "2024-01-01 11:00:00")],
        "ad string, ts_s string",
    )
    _write(
        spark, clk,
        [("ad1", "2024-01-01 10:04:00"),   # within 10 min -> joins
         ("ad3", "2024-01-01 11:30:00")],  # 30 min later -> dropped by bound
        "ad string, ts_s string",
    )
    imps = (
        spark.readStream.schema("ad string, ts_s string").parquet(imp)
        .withColumn("imp_ts", F.to_timestamp("ts_s")).drop("ts_s")
        .withWatermark("imp_ts", "1 minute")
    )
    clks = (
        spark.readStream.schema("ad string, ts_s string").parquet(clk)
        .withColumnRenamed("ad", "c_ad")
        .withColumn("clk_ts", F.to_timestamp("ts_s")).drop("ts_s")
        .withWatermark("clk_ts", "1 minute")
    )
    joined = imps.join(
        clks,
        (F.col("ad") == F.col("c_ad"))
        & (F.col("clk_ts") >= F.col("imp_ts"))
        & (F.col("clk_ts") <= F.col("imp_ts") + F.expr("INTERVAL 10 MINUTES")),
    ).select("ad", "imp_ts", "clk_ts")
    out = run_available_now(
        joined, output_mode="append", checkpoint_base=str(tmp_path / "ck")
    )
    ads = sorted(r.ad for r in out.collect())
    assert ads == ["ad1"], f"expected only ad1 within bound, got {ads}"


def test_rocksdb_state_store_provider(spark, tmp_path):
    """Streaming aggregation with the RocksDB state store (the 100 TB
    state backend) produces the same result as the default provider."""
    src = str(tmp_path / "src")
    _write(
        spark, src,
        [("a", 1.0), ("b", 2.0), ("a", 3.0), ("c", 4.0)],
        "k string, v double",
    )
    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = spark.readStream.schema("k string, v double").parquet(src)
        result = run_available_now(
            stream,
            lambda df: df.groupBy("k").agg(F.sum("v").alias("sv")),
            output_mode="complete",
            checkpoint_base=str(tmp_path / "ck"),
        )
        got = {r.k: r.sv for r in result.collect()}
        assert got == {"a": 4.0, "b": 2.0, "c": 4.0}
    finally:
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_rocksdb_is_session_default(spark):
    """The session factory sets RocksDB as the state store provider
    (SURVEY §4's at-scale backend), so every stateful streaming test in
    this suite already runs under it."""
    from sparkstreaming_spark.session import ROCKSDB_PROVIDER

    assert (
        spark.conf.get("spark.sql.streaming.stateStore.providerClass")
        == ROCKSDB_PROVIDER
    )


def test_json_source_roundtrip(spark, tmp_path):
    """JSON batch source with explicit schema (sources/batch.py::read_json)."""
    from sparkstreaming_spark.sources.batch import read_json

    p = str(tmp_path / "j")
    spark.createDataFrame(
        [(1, "x"), (2, "y")], "id bigint, name string"
    ).write.mode("overwrite").json(p)
    back = read_json(spark, p, "id bigint, name string")
    assert sorted((r.id, r.name) for r in back.collect()) == [(1, "x"), (2, "y")]


def test_streaming_topn_values_stateful_processor(spark):
    """Spark-4 stateful processor (transformWithStateInPandas): per-key
    running top-N equals batch top-N after an availableNow drain. Skips
    where the protobuf-based state protocol isn't installed."""
    import pytest

    pytest.importorskip("google.protobuf.descriptor")
    from pyspark.sql import functions as F

    from sparkstreaming_spark.streaming.pipeline import run_available_now
    from sparkstreaming_spark.streaming.stateful import streaming_topn_values

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    schema = (
        "event_id bigint, ts timestamp_ntz, user_id bigint, "
        "event_type string, value double, props string"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet("/root/testdata/sf0.001")
    )
    out = run_available_now(
        stream,
        lambda df: streaming_topn_values(df, "event_type", "value", n=3),
        output_mode="update",
    ).groupBy("key", "rk").agg(F.max("value").alias("value"))
    batch = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy(F.col("value").desc())
    expect = (
        batch.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(F.col("event_type").alias("key"), "rk", "value")
    )
    got = {(r.key, r.rk): r.value for r in out.collect()}
    want = {(r.key, r.rk): r.value for r in expect.collect()}
    assert got == want


def test_checkpoint_restart_resumes_not_reprocesses(spark, tmp_path):
    """T7 end to end: drain files with availableNow + checkpoint, add MORE
    files, restart the KPI pipeline from the SAME checkpoint — the second
    run must process only the new files, and the upserted table must
    equal the batch aggregate over everything (exactly-once effect via
    checkpoint replay + additive upsert idempotent per batch id)."""
    import os
    import sqlite3

    from sparkstreaming_spark.sinks.upsert import UpsertSink
    from sparkstreaming_spark.streaming.pipeline import (
        StreamingAggSpec,
        start_kpi_queries,
    )

    src = tmp_path / "src"
    src.mkdir()
    db = str(tmp_path / "kpi.db")
    ckpt = str(tmp_path / "ckpt")

    spec = StreamingAggSpec("counts", ["k"], lambda: [F.count(F.lit(1)).alias("cnt")])
    sink = UpsertSink(
        connect=lambda: sqlite3.connect(db),
        table="counts",
        key_cols=["k"],
        val_cols=["cnt"],
    )
    con = sqlite3.connect(db)
    con.execute(sink.create_table_sql({"k": "TEXT", "cnt": "INTEGER"}))
    con.commit()
    con.close()

    def write_batch(name: str, rows: list[tuple[str]]):
        with open(os.path.join(src, name), "w") as f:
            f.write("k\n" + "\n".join(r[0] for r in rows) + "\n")

    def drain():
        stream = (
            spark.readStream.option("header", "true")
            .schema("k string")
            .csv(str(src))
        )
        (q,) = start_kpi_queries(stream, [spec], lambda _spec: sink,
                                 checkpoint_base=ckpt, trigger_available_now=True)
        q.awaitTermination(120)
        return sum(p["numInputRows"] for p in q.recentProgress)

    write_batch("a.csv", [("x",), ("x",), ("y",)])
    drain()
    write_batch("b.csv", [("x",), ("z",)])
    rows_second_run = drain()
    # restart processed ONLY the new file's rows
    assert rows_second_run == 2, rows_second_run

    con = sqlite3.connect(db)
    got = dict(con.execute("SELECT k, cnt FROM counts").fetchall())
    con.close()
    assert got == {"x": 3, "y": 1, "z": 1}


def test_observe_metrics_on_stream(spark, tmp_path):
    """df.observe: per-batch data-quality metrics ride the
    StreamingQueryProgress (no second scan of the stream) — the ops
    hook for monitoring row counts / null rates in production."""
    import os

    from pyspark.sql import functions as F

    src = tmp_path / "obs_src"
    src.mkdir()
    with open(os.path.join(src, "a.csv"), "w") as f:
        # blank single-column lines are dropped by the CSV reader, so the
        # null rides a second column
        f.write("k,v\na,1\nb,\nc,3\nd,4\n")

    stream = (
        spark.readStream.option("header", "true")
        .schema("k string, v int")
        .csv(str(src))
        .observe(
            "quality",
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("v").isNull().cast("long")).alias("n_null"),
        )
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("obs_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    metrics = [
        p["observedMetrics"]["quality"]
        for p in q.recentProgress
        if p.get("observedMetrics") and "quality" in p["observedMetrics"]
    ]
    assert metrics, [p for p in q.recentProgress]
    assert sum(m["n_rows"] for m in metrics) == 4
    assert sum(m["n_null"] for m in metrics) == 1


def test_rate_source_throughput_harness(spark):
    """Unbounded rate-micro-batch source through the KPI aggregation
    shape: all requested batches arrive with exact per-batch row counts
    (the source is deterministic) and the harness reports sane
    throughput/latency numbers."""
    from sparkstreaming_spark.streaming.rate import measure_rate_throughput

    stats = measure_rate_throughput(spark, rows_per_batch=5000, n_batches=4)
    assert stats["rows"] == 4 * 5000
    assert stats["batches"] == 4
    assert stats["rows_per_sec"] > 0
    assert stats["batch_ms_max"] > 0
    assert stats["result_keys"] == 50


def test_welford_state_merges_across_micro_batches(spark, tmp_path):
    """Split the source into 4 files and force one file per micro-batch:
    the final per-key (n, mean, variance) must equal the batch
    aggregate, proving the Chan/Welford merge is associative across
    batch boundaries (not just a one-shot computation)."""
    from pyspark.sql import functions as F

    from sparkstreaming_spark.streaming.pipeline import run_available_now
    from sparkstreaming_spark.streaming.stateful import running_stats

    src = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    d = str(tmp_path / "ev4")
    src.repartition(4).write.parquet(d)

    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    drained = run_available_now(
        running_stats(stream, "event_type", "value"), output_mode="update"
    )
    # update mode emits one row per touched key per batch → 4 per key;
    # the final emission carries the full count
    final = {
        r.key: r
        for r in drained.groupBy("key")
        .agg(F.max_by(F.struct("n", "mean", "variance"), "n").alias("s"))
        .select("key", "s.n", "s.mean", "s.variance")
        .collect()
    }
    batch = {
        r.event_type: r
        for r in src.groupBy("event_type")
        .agg(
            F.count("value").alias("n"),
            F.avg("value").alias("mean"),
            F.var_samp("value").alias("variance"),
        )
        .collect()
    }
    assert set(final) == set(batch)
    n_updates = drained.count()
    assert n_updates > len(batch), "expected multiple update emissions"
    for k, b in batch.items():
        f = final[k]
        assert f.n == b.n
        assert abs(f.mean - b.mean) < 1e-9
        assert abs(f.variance - b.variance) < 1e-6


def test_stream_neardup_gate_inrow_signatures_match_batch(spark):
    # the streaming near-dup gate computes MinHash signatures IN-ROW
    # (array_min over HOF transforms — streaming-safe, zero state);
    # they must equal the batch explode+groupBy signatures bit-for-bit
    from pyspark.sql import functions as F

    from sparkstreaming_spark.dedup.minhash import (
        MERSENNE_P,
        minhash_params,
        minhash_signatures,
    )
    from sparkstreaming_spark.functions.text import (
        md5_64,
        shingles_from_tokens,
        tokenize,
    )
    from sparkstreaming_spark.sources.batch import read_table
    from tests.conftest import SF_DIR_CORRECT

    d = read_table(spark, SF_DIR_CORRECT, "documents").filter(
        F.col("doc_id") < 50
    )
    batch = {
        r["doc_id"]: tuple(r[f"mh{i}"] for i in range(16))
        for r in minhash_signatures(d, "doc_id", "text").collect()
    }
    staged = d.select(
        "doc_id", tokenize(F.col("text")).alias("toks")
    ).select(
        "doc_id",
        F.transform(
            F.array_distinct(shingles_from_tokens("toks", 2)),
            lambda s: md5_64(s) % F.lit(MERSENNE_P),
        ).alias("hs"),
    )

    def perm_min(a, b):
        return F.array_min(F.transform(
            "hs", lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MERSENNE_P)
        ))

    inrow = {
        r["doc_id"]: tuple(r[f"mh{i}"] for i in range(16))
        for r in staged.select(
            "doc_id",
            *[perm_min(a, b).alias(f"mh{i}")
              for i, (a, b) in enumerate(minhash_params(16))],
        ).collect()
    }
    assert set(batch) == {k for k, v in inrow.items() if v[0] is not None}
    for k, sig in batch.items():
        assert inrow[k] == sig, k


def test_stream_neardup_gate_drops_planted_exact_dup(spark, tmp_path):
    # plant an EXACT duplicate across the corpus/stream split: its 4
    # band keys are identical to the corpus doc's, and a Bloom filter
    # has no false negatives, so the gate MUST drop it; novel docs in
    # this fixture admit (verified against the same deterministic
    # hashes the oracle replays)
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sparkstreaming_spark.suite.streaming_suite import (
        q_stream_neardup_gate,
    )

    dup_text = "alpha beta gamma delta epsilon zeta eta theta " * 4
    novel = [
        "one unique stream document about spark shuffles and joins",
        "another novel page mentioning watermarks and state stores",
    ]
    rows = {
        "doc_id": [1, 2, 3, 4, 0, 5, 10],
        "text": [
            dup_text,
            "corpus filler page counting rows and columns quickly",
            "a second corpus page on parquet footers and row groups",
            "third corpus entry covering broadcast joins at scale",
            novel[0],
            dup_text,          # doc 5: exact dup of corpus doc 1
            novel[1],
        ],
        "lang": ["en"] * 7,
        "source": ["s0"] * 7,
        "n_chars": [len(dup_text), 52, 54, 52, len(novel[0]),
                    len(dup_text), len(novel[1])],
    }
    pq.write_table(pa.table(rows), str(tmp_path / "documents.parquet"))
    out = {
        (r["source"], bool(r["admitted"])): (r["n_docs"], r["id_sum"])
        for r in q_stream_neardup_gate(spark, str(tmp_path)).collect()
    }
    # incoming = ids 0, 5, 10; id 5 dropped, 0 and 10 admitted
    assert out[("s0", False)] == (1, 5)
    assert out[("s0", True)] == (2, 10)


def test_stream_image_gate_drops_planted_identical_image(spark, tmp_path):
    # seed = (base * 2654435761) % 1000003, so bases b and b + 1000003
    # synthesize IDENTICAL images: corpus id 16 (base 5, r 1) and crawl
    # id 3000025 (base 1000008, r 1) share every pHash bit, all 4 band
    # keys match, and a Bloom filter has no false negatives -> the gate
    # MUST drop the crawl copy. Crawl id 0 sits in a group excluded
    # from the corpus (base 0 % 4 == 0) -> admitted.
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sparkstreaming_spark.suite.platform_ops import phash_image_map
    from sparkstreaming_spark.suite.streaming_suite import (
        q_stream_image_gate,
    )

    hashes = {
        r["doc_id"]: r["phash"]
        for chunk in phash_image_map(
            [pd.DataFrame({"doc_id": [16, 3000025, 0]})]
        )
        for r in chunk.to_dict("records")
    }
    assert hashes[16] == hashes[3000025]  # the planted identical pair
    assert hashes[0] != hashes[16]

    ids = [16, 17, 0, 3000025]
    rows = {
        "doc_id": ids,
        "text": ["img"] * len(ids),
        "lang": ["en"] * len(ids),
        "source": ["s0"] * len(ids),
        "n_chars": [3] * len(ids),
    }
    pq.write_table(pa.table(rows), str(tmp_path / "documents.parquet"))
    out = {
        bool(r["admitted"]): (r["n_imgs"], r["id_sum"])
        for r in q_stream_image_gate(spark, str(tmp_path)).collect()
    }
    assert out[False] == (1, 3000025)
    assert out[True] == (1, 0)


def test_stream_audio_gate_drops_planted_identical_clip(spark, tmp_path):
    # same seed-wraparound plant as the image gate: bases b and
    # b + 1000003 synthesize IDENTICAL PCM, so corpus id 16 and crawl
    # id 3000025 share every fingerprint bit -> MUST drop; crawl id 0
    # (group excluded from the corpus) admits.
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sparkstreaming_spark.suite.platform_ops import afp_audio_map
    from sparkstreaming_spark.suite.streaming_suite import (
        q_stream_audio_gate,
    )

    hashes = {
        r["doc_id"]: r["afp"]
        for chunk in afp_audio_map([pd.DataFrame({"doc_id": [16, 3000025, 0]})])
        for r in chunk.to_dict("records")
    }
    assert hashes[16] == hashes[3000025]
    assert hashes[0] != hashes[16]

    ids = [16, 17, 0, 3000025]
    rows = {
        "doc_id": ids,
        "text": ["clip"] * len(ids),
        "lang": ["en"] * len(ids),
        "source": ["s0"] * len(ids),
        "n_chars": [4] * len(ids),
    }
    pq.write_table(pa.table(rows), str(tmp_path / "documents.parquet"))
    out = {
        bool(r["admitted"]): (r["n_clips"], r["id_sum"])
        for r in q_stream_audio_gate(spark, str(tmp_path)).collect()
    }
    assert out[False] == (1, 3000025)
    assert out[True] == (1, 0)


def test_stream_state_partitions_scoping(spark, tmp_path, monkeypatch):
    """The state-partition knob (pipeline.stream_state_partitions): a
    drained stateful query runs with the scoped partition count — one
    state-store directory per partition in the checkpoint — while the
    session's batch shuffle-partition conf is restored afterwards, and
    $SPARKSTREAMING_STREAM_PARTITIONS overrides the default."""
    import os

    from sparkstreaming_spark.streaming.pipeline import (
        STREAM_PARTITIONS_ENV,
        stream_state_partitions,
    )

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)

    src = str(tmp_path / "src")
    _write(
        spark, src,
        [("a", 1), ("b", 2), ("a", 3)],
        "k string, v int",
    )
    stream = spark.readStream.schema("k string, v int").parquet(src)
    monkeypatch.setenv(STREAM_PARTITIONS_ENV, "4")
    out = run_available_now(
        stream,
        lambda df: df.groupBy("k").agg(F.sum("v").alias("s")),
        checkpoint_base=str(tmp_path / "ck"),
        query_name="ssp_scope",
    )
    assert {(r.k, r.s) for r in out.collect()} == {("a", 4), ("b", 2)}
    # conf restored for batch plans after the drain
    assert spark.conf.get(key) == before
    # the aggregation's state operator committed exactly 4 partitions
    state_root = os.path.join(
        str(tmp_path / "ck"), os.listdir(str(tmp_path / "ck"))[0], "state", "0"
    )
    parts = sorted(d for d in os.listdir(state_root) if d.isdigit())
    assert parts == ["0", "1", "2", "3"], parts

    # exception inside the scope still restores the conf
    with pytest.raises(RuntimeError):
        with stream_state_partitions(spark, n=2):
            assert spark.conf.get(key) == "2"
            raise RuntimeError("boom")
    assert spark.conf.get(key) == before
