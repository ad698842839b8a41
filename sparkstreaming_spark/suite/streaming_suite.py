"""Streaming queries run through REAL Structured Streaming — file sources,
update/complete output modes, checkpoints, foreachBatch sinks — driven to
completion with trigger(availableNow=True) so each returns a batch-
comparable DataFrame. The DuckDB oracle is the batch semantics of the
same aggregation: these entries ARE the streaming/batch-equivalence
check (SURVEY §5.2), wired into the driver's correctness gate.

Covers the reference's streaming surface: S1 streaming scan with explicit
schema (Consumer.scala:49-52), T2 update mode + T3 running aggregates
(Consumer.scala:61,129-145), K1 foreachBatch + K2 idempotent upsert
(Consumer.scala:60-100,152-181), and the Producer→Consumer topology
(Producer.scala:20-53) end to end.
"""

from __future__ import annotations

import os
import sqlite3
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sinks.upsert import UpsertSink
from ..streaming.pipeline import (
    StreamingAggSpec,
    run_available_now,
    start_kpi_queries,
    stream_state_partitions,
)
from ..streaming.producer import produce_segments
from . import QuerySpec
from .events import ORACLE_SESSION as _ORACLE_SESSION


def stream_table_source(
    spark: SparkSession, sf_dir: str, table: str, schema
) -> DataFrame:
    """Streaming file source over testdata table `table` in EITHER
    layout: the driver testdata ships one FILE <sf_dir>/<table>.parquet
    (streaming sources need a directory, so glob it out of sf_dir),
    while the stress harness — and any real production table — is a
    DIRECTORY <table>.parquet/ of part files (point the source at it
    directly). Every stream twin must work against both; a 100 TB
    table is always the directory layout."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.isdir(path):
        return spark.readStream.schema(schema).parquet(path)
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", f"{table}.parquet")
        .parquet(sf_dir)
    )

ORDERS_SCHEMA = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
        T.StructField("o_orderdate", T.TimestampType()),
        T.StructField("o_orderpriority", T.StringType()),
    ]
)


def _orders_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 modernized: unbounded parquet table over the orders file with an
    explicit schema (required for streaming file sources, like the
    reference's hand-built StructType, Consumer.scala:22-46)."""
    return stream_table_source(spark, sf_dir, "orders", ORDERS_SCHEMA)


def q_stream_kpi_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 through a live stream: groupBy(status).count in complete mode."""
    return run_available_now(
        _orders_stream(spark, sf_dir),
        lambda df: df.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("cnt")),
        output_mode="complete",
    )


def q_stream_loyalty_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 (the reference's KPI6 shape) through a live stream."""
    from ..operators.aggregates import sum_flag_split

    return run_available_now(
        _orders_stream(spark, sf_dir),
        lambda df: sum_flag_split(
            df, "o_orderstatus", "o_orderpriority", "1-URGENT", "urgent_cnt", "other_cnt"
        ),
        output_mode="complete",
    )


def q_stream_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 event-time tumbling window (30 days on o_orderdate) via streaming."""
    return run_available_now(
        _orders_stream(spark, sf_dir),
        lambda df: df.groupBy(F.window("o_orderdate", "30 days").alias("w")).agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        ).select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "cnt",
            "sum_price",
        ),
        output_mode="complete",
    )


def q_stream_upsert_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1+K2 end to end: the KPI pipeline's one stateless query →
    foreachBatch → additive upsert, idempotent per batch id, into a
    relational store (sqlite as the portable stand-in for the reference's
    MySQL), then the table read back."""
    spec = StreamingAggSpec(
        "kpi_status_counts", ["o_orderstatus"], lambda: [F.count(F.lit(1)).alias("cnt")]
    )
    with tempfile.TemporaryDirectory(prefix="upsert_sink_") as tmp:
        db_path = os.path.join(tmp, "kpi.db")
        sink = UpsertSink(
            connect=lambda: sqlite3.connect(db_path),
            table=spec.name,
            key_cols=spec.group_cols,
            val_cols=["cnt"],
        )
        con = sqlite3.connect(db_path)
        con.execute(sink.create_table_sql({"o_orderstatus": "TEXT", "cnt": "INTEGER"}))
        con.commit()
        con.close()

        (q,) = start_kpi_queries(
            _orders_stream(spark, sf_dir), [spec], lambda _spec: sink,
            checkpoint_base=os.path.join(tmp, "ckpt"), trigger_available_now=True,
        )
        try:
            q.awaitTermination(300)
        finally:
            q.stop()

        con = sqlite3.connect(db_path)
        rows = con.execute("SELECT o_orderstatus, cnt FROM kpi_status_counts").fetchall()
        con.close()
    return spark.createDataFrame(
        [(r[0], int(r[1])) for r in rows], "o_orderstatus string, cnt bigint"
    )


def q_stream_producer_consumer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full topology: Producer splits the table into CSV
    segments (single-pass row_number splitter), Consumer streams the
    segment directory with an explicit schema (S1) and aggregates (A3) —
    result must equal the batch aggregate over the original table."""
    from ..sources.batch import read_table

    seg_dir = tempfile.mkdtemp(prefix="segments_")
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    # bounded segment count (see q_stream_matview): ~30 segments at any
    # corpus size keeps the micro-batch count an arrival-rate constant
    n_rows = orders.count()
    produce_segments(
        orders, "o_orderkey", seg_dir,
        rows_per_segment=max(500, -(-n_rows // 30)),
    )

    csv_schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    )
    stream = (
        spark.readStream.option("header", "true")
        .schema(csv_schema)
        .option("recursiveFileLookup", "true")
        .csv(seg_dir)
    )
    return run_available_now(
        stream,
        lambda df: df.groupBy("o_orderstatus", "o_orderpriority").agg(
            F.count(F.lit(1)).alias("cnt")
        ),
        output_mode="complete",
    )


def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: streaming orders ⋈ static (broadcast) customer
    dimension, aggregated per market segment — the standard streaming
    enrichment topology (static side re-read per micro-batch, broadcast
    because it's a dimension)."""
    from ..sources.batch import read_table

    cust = F.broadcast(
        read_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    )
    return run_available_now(
        _orders_stream(spark, sf_dir),
        lambda df: df.join(cust, df.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        ),
        output_mode="complete",
    )


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicates (stateful dedup by key) drained append-mode
    into memory, then counted per status in batch — streaming dedup's
    output must equal the batch distinct."""
    stream = _orders_stream(spark, sf_dir).dropDuplicates(["o_orderkey"])
    # State here is one row per orderkey EVER SEEN (the unbounded-state
    # anti-pattern this row demonstrates vs its watermarked twin), so
    # unlike the low-cardinality KPI drains it wants the session's full
    # parallelism for the per-key state writes, not the small default.
    deduped = run_available_now(
        stream,
        output_mode="append",
        state_partitions=spark.sparkContext.defaultParallelism,
    )
    return deduped.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("cnt"))


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbounded events table with real event time. The driver has shipped
    events.ts as both TIMESTAMP(MICROS) and TIMESTAMP(NANOS) across
    testdata regenerations; streaming needs an explicit schema, so probe
    the parquet footer (same tolerance the batch reader gets from its
    LongType check, sources/batch.py::read_table) and pick the matching
    schema + conversion: MICROS reads as timestamp_ntz then normalizes to
    session-TZ timestamp (UTC ⇒ same instant); NANOS reads as long via
    the legacy conf and rebuilds microsecond timestamps (truncation
    ≤ 999 ns, below every window granularity the suite uses)."""
    import os

    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(path):  # directory layout: probe any part file
        part = next(
            os.path.join(path, f)
            for f in sorted(os.listdir(path))
            if f.endswith(".parquet")
        )
        ts_field = pq.read_schema(part).field("ts")
    else:
        ts_field = pq.read_schema(path).field("ts")
    nanos = getattr(ts_field.type, "unit", None) == "ns"
    ts_decl = "ts bigint" if nanos else "ts timestamp_ntz"
    schema = (
        f"event_id bigint, {ts_decl}, user_id bigint, "
        "event_type string, value double, props string"
    )
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    stream = stream_table_source(spark, sf_dir, "events", schema)
    if nanos:
        return stream.withColumn(
            "ts", F.timestamp_micros((F.col("ts") / 1000).cast("long"))
        )
    return stream.withColumn("ts", F.col("ts").cast("timestamp"))


def q_stream_dedup_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state streaming dedup: dropDuplicatesWithinWatermark keyed
    on (user_id, event_type) over the watermarked events stream. Unlike
    plain dropDuplicates (stream_dedup), state for a key is EVICTED once
    the watermark passes it — the difference between state that grows
    with distinct-keys-ever and state bounded by keys-per-watermark-
    window; at 100 TB only the latter survives. Drained availableNow, so
    one batch ⇒ per-key exactly one survivor ⇒ the per-type row count
    equals the batch distinct-user count (deterministic even though
    WHICH row survives is not)."""
    stream = _events_stream(spark, sf_dir).withWatermark(
        "ts", "1 hour"
    ).dropDuplicatesWithinWatermark(["user_id", "event_type"])
    survivors = run_available_now(stream, output_mode="append")
    return survivors.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_users")
    )


def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with watermarks on BOTH sides and a time-
    range condition (view → purchase by the same user within 1 hour) —
    the canonical attribution topology. The range bound plus the
    watermarks is what makes join state evictable: without them, both
    sides buffer forever (T4's unbounded-state hazard applied to joins).
    Drained append-mode via availableNow, then reduced in batch to
    per-purchase-hour pair counts. Timestamps are µs on both engines
    (oracle casts TIMESTAMP_NS → TIMESTAMP) so boundary pairs agree."""
    views = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts"))
        .withWatermark("v_ts", "2 hours")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "2 hours")
    )
    joined = views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 1 HOUR")),
    )
    drained = run_available_now(joined, output_mode="append")
    return (
        drained.groupBy(
            F.date_format(F.date_trunc("hour", "p_ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "purchase_hour"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("p_user").alias("n_users"),
        )
    )


def q_stream_file_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ETL to files: stream → parquet file sink (append mode,
    exactly-once via the sink's commit manifest + checkpoint) → read the
    landed files back in batch and aggregate. The oracle aggregates the
    original table, so the landed data must be complete and
    duplicate-free — the file-sink delivery guarantee itself is what's
    under test."""
    import os
    import tempfile

    out_root = tempfile.mkdtemp(prefix="stream_sink_")
    q = (
        _orders_stream(spark, sf_dir)
        .writeStream.format("parquet")
        .option("path", os.path.join(out_root, "data"))
        .option("checkpointLocation", os.path.join(out_root, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    back = spark.read.parquet(os.path.join(out_root, "data"))
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


def q_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5's hardest variant through a live stream: session windows (5-min
    gap) per user. Session-window state MERGES adjacent windows as events
    arrive — the one windowed aggregation whose state shape changes with
    data, not just with time. Complete mode + availableNow ⇒ the drained
    result must equal the batch sessionization (shared oracle with
    evt_session_window)."""
    return run_available_now(
        _events_stream(spark, sf_dir),
        lambda df: df.groupBy(
            F.session_window("ts", "5 minutes").alias("w"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "n_events",
        ),
        output_mode="complete",
    )


def q_stream_events_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling window over the real events stream — explicit
    schema (streaming file sources require one), event time read natively
    as timestamp_ntz like the batch reader (sources/batch.py::read_table)."""
    stream = _events_stream(spark, sf_dir)
    return run_available_now(
        stream,
        lambda df: df.groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "cnt",
        ),
        output_mode="complete",
    )


def q_stream_matview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming materialized-view maintenance: the Producer splits orders
    into CSV segments, the stream processes them in MULTIPLE micro-batches
    (maxFilesPerTrigger), and each batch's update-mode aggregate rows are
    merged into a parquet snapshot via atomic directory swap
    (streaming/matview.py). The final snapshot must equal the batch
    aggregate over the whole table — incremental maintenance converges to
    the batch answer."""
    import tempfile

    from ..sources.batch import read_table
    from ..streaming.matview import ParquetViewSink
    from ..streaming.producer import produce_segments

    seg_dir = tempfile.mkdtemp(prefix="mv_segments_")
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    # bound the SEGMENT COUNT, not the segment size: micro-batch count is
    # an arrival-rate property, not a corpus-size property — a fixed
    # 400-row segment turned 10x data into ~940 micro-batches, each
    # paying a snapshot merge (O(batches x view) total). ~24 segments ->
    # 6 micro-batches at maxFilesPerTrigger=4, at any corpus size.
    n_rows = orders.count()
    produce_segments(
        orders, "o_orderkey", seg_dir,
        rows_per_segment=max(400, -(-n_rows // 24)),
    )

    csv_schema = "o_orderkey bigint, o_orderstatus string, o_totalprice double"
    stream = (
        spark.readStream.option("header", "true")
        .schema(csv_schema)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "4")
        .csv(seg_dir)
    )
    agg = stream.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )
    out_dir = tempfile.mkdtemp(prefix="mv_view_")
    sink = ParquetViewSink(out_dir, ["o_orderstatus"])
    with stream_state_partitions(spark):
        q = (
            agg.writeStream.outputMode("update")
            .option(
                "checkpointLocation",
                os.path.join(tempfile.mkdtemp(prefix="mv_ckpt_"), "q"),
            )
            .foreachBatch(sink)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    return sink.read(spark)


def q_stream_topn_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-4 arbitrary-stateful processing (transformWithStateInPandas +
    ValueState over the RocksDB provider, streaming/stateful.py): per-
    event-type running top-3 values through a real availableNow drain.
    Order-insensitive state update ⇒ the drained result equals the batch
    window top-3; ties contribute the same VALUE at each rank in both
    engines even when row identity differs, so the oracle is exact. The
    state protocol needs google.protobuf on the workers — satisfied by
    the vendored runtime (compat.ensure_protobuf_on_workers ships it via
    addPyFile when no real wheel exists)."""
    from ..streaming.stateful import streaming_topn_values

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        out = run_available_now(
            _events_stream(spark, sf_dir),
            lambda df: streaming_topn_values(df, "event_type", "value", n=3),
            output_mode="update",
        )
        return out.groupBy("key", "rk").agg(F.max("value").alias("value"))
    finally:
        if old is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, old)


ORACLE_STREAM_TOPN = """
SELECT event_type AS key, CAST(rk AS INT) AS rk, value FROM (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value DESC) AS rk
  FROM events
) WHERE rk <= 3
"""


def q_stream_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM-curation pipeline THROUGH a live stream: PII scrub →
    quality score + gate → stateful content dedup → per-lang corpus
    accounting, drained availableNow in complete mode. Dedup keys on
    (content_hash, lang) — not just the hash — so the surviving-row
    identity (first-seen, nondeterministic under streaming) can never
    leak into the aggregate: every output value is a function of the
    deduped (hash, lang) set, which batch SQL reproduces exactly. At
    scale the dedup state is bounded by distinct content hashes — the
    same state the batch window shuffle would materialize."""
    from ..functions.text import normalize_text
    from ..textstats.analysis import add_quality_scores
    from ..textstats.cleaning import redact_pii
    from .llm import QUALITY_MIN

    schema = "doc_id bigint, text string, lang string, source string, n_chars bigint"
    stream = stream_table_source(spark, sf_dir, "documents", schema)
    scrubbed = stream.select("doc_id", "lang", redact_pii("text").alias("text"))
    scored = add_quality_scores(scrubbed, "text").filter(
        F.col("quality_score") >= QUALITY_MIN
    )
    deduped = scored.withColumn(
        "__h", F.md5(normalize_text("text"))
    ).dropDuplicates(["__h", "lang"])
    return run_available_now(
        deduped,
        lambda df: df.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
        ),
        output_mode="complete",
    )


def _oracle_stream_curation() -> str:
    from ..textstats.cleaning import PII_PATTERNS
    from .llm import QUALITY_MIN, SQL_NORM, SQL_TOKS, STOPWORDS

    en = "[" + ", ".join(f"'{w}'" for w in STOPWORDS["en"]) + "]"
    clean = "text"
    for name, pat in PII_PATTERNS.items():
        clean = f"regexp_replace({clean}, '{pat}', '[{name.upper()}]', 'g')"
    return rf"""
WITH scrubbed AS (SELECT doc_id, lang, {clean} AS text FROM documents),
t AS (
  SELECT doc_id, lang, text, {SQL_TOKS} AS toks,
         length(text) AS n_chars,
         len({SQL_TOKS}) AS n_tokens,
         len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS punct_cnt
  FROM scrubbed
), r AS (
  SELECT doc_id, lang, text, n_tokens,
         CASE WHEN n_chars > 0 THEN punct_cnt * 1.0 / n_chars ELSE 0.0 END AS punct_ratio,
         CASE WHEN n_tokens > 0
              THEN len(list_filter(toks, x -> list_contains({en}, x))) * 1.0 / n_tokens
              ELSE 0.0 END AS stop_ratio
  FROM t
), scored AS (
  SELECT doc_id, lang, text, n_tokens
  FROM r
  WHERE round(0.4 * least(n_tokens / 100.0, 1.0)
            + 0.3 * (1.0 - least(punct_ratio * 5, 1.0))
            + 0.3 * least(stop_ratio * 3, 1.0), 6) >= {QUALITY_MIN}
), surv AS (
  SELECT md5({SQL_NORM}) AS h, lang, max(n_tokens) AS n_tokens
  FROM scored GROUP BY 1, 2
)
SELECT lang, count(*) AS n_docs, cast(sum(n_tokens) AS bigint) AS sum_tokens
FROM surv GROUP BY lang
"""


QUERIES: dict[str, QuerySpec] = {
    "stream_curation": QuerySpec(
        q_stream_curation,
        _oracle_stream_curation(),
        "streaming curation: scrub → quality gate → stateful dedup → accounting",
    ),
    "stream_topn_stateful": QuerySpec(
        q_stream_topn_stateful,
        ORACLE_STREAM_TOPN,
        "Spark-4 stateful processor (transformWithState) running top-N",
    ),
    "stream_matview": QuerySpec(
        q_stream_matview,
        "SELECT o_orderstatus, count(*) AS cnt, round(sum(o_totalprice), 2) AS revenue "
        "FROM orders GROUP BY o_orderstatus",
        "incremental parquet matview maintenance over micro-batches",
    ),
    "stream_stream_join": QuerySpec(
        q_stream_stream_join,
        "SELECT strftime(date_trunc('hour', cast(p.ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS purchase_hour, "
        "count(*) AS n_pairs, count(DISTINCT p.user_id) AS n_users "
        "FROM events v JOIN events p ON v.user_id = p.user_id "
        "AND v.event_type = 'view' AND p.event_type = 'purchase' "
        "AND cast(p.ts AS TIMESTAMP) >= cast(v.ts AS TIMESTAMP) "
        "AND cast(p.ts AS TIMESTAMP) <= cast(v.ts AS TIMESTAMP) + INTERVAL 1 HOUR "
        "GROUP BY 1",
        "watermarked stream-stream interval join (view→purchase attribution)",
    ),
    "stream_file_sink": QuerySpec(
        q_stream_file_sink,
        "SELECT o_orderstatus, count(*) AS cnt, round(sum(o_totalprice), 2) AS revenue "
        "FROM orders GROUP BY o_orderstatus",
        "streaming parquet file sink (exactly-once manifest), read back",
    ),
    "stream_session_window": QuerySpec(
        q_stream_session_window,
        _ORACLE_SESSION,  # shared with evt_session_window: batch equivalence
        "streaming session windows (merging state), batch-equivalent",
    ),
    "stream_events_windowed": QuerySpec(
        q_stream_events_windowed,
        "SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start, "
        "event_type, count(*) AS cnt FROM events GROUP BY 1, 2",
        "nanos events through a real stream + event-time window",
    ),
    "stream_dedup": QuerySpec(
        q_stream_dedup,
        "SELECT o_orderstatus, count(*) AS cnt FROM "
        "(SELECT DISTINCT ON (o_orderkey) o_orderstatus FROM orders ORDER BY o_orderkey) "
        "GROUP BY o_orderstatus",
        "streaming stateful dedup == batch distinct",
    ),
    "stream_dedup_watermarked": QuerySpec(
        q_stream_dedup_watermarked,
        "SELECT event_type, count(DISTINCT user_id) AS n_users "
        "FROM events GROUP BY event_type",
        "bounded-state dedup (dropDuplicatesWithinWatermark)",
    ),
    "stream_static_join": QuerySpec(
        q_stream_static_join,
        "SELECT c_mktsegment, count(*) AS cnt, round(sum(o_totalprice), 2) AS revenue "
        "FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY c_mktsegment",
        "stream-static broadcast enrichment join",
    ),
    "stream_kpi_counts": QuerySpec(
        q_stream_kpi_counts,
        "SELECT o_orderstatus, count(*) AS cnt FROM orders GROUP BY o_orderstatus",
        "A1 via streaming; batch oracle = equivalence check",
    ),
    "stream_loyalty_split": QuerySpec(
        q_stream_loyalty_split,
        "SELECT o_orderstatus, "
        "cast(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS int) AS urgent_cnt, "
        "cast(count(o_orderpriority) - sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS int) AS other_cnt "
        "FROM orders GROUP BY o_orderstatus",
        "A6 via streaming",
    ),
    "stream_windowed": QuerySpec(
        q_stream_windowed,
        "SELECT strftime(time_bucket(INTERVAL '30 days', o_orderdate, TIMESTAMP '1970-01-01'), "
        "'%Y-%m-%d %H:%M:%S') AS window_start, count(*) AS cnt, "
        "round(sum(o_totalprice), 2) AS sum_price FROM orders GROUP BY 1",
        "T5 streaming tumbling window",
    ),
    "stream_upsert_sink": QuerySpec(
        q_stream_upsert_sink,
        "SELECT o_orderstatus, count(*) AS cnt FROM orders GROUP BY o_orderstatus",
        "K1/K2 foreachBatch idempotent upsert, read back",
    ),
    "stream_producer_consumer": QuerySpec(
        q_stream_producer_consumer,
        "SELECT o_orderstatus, o_orderpriority, count(*) AS cnt FROM orders "
        "GROUP BY o_orderstatus, o_orderpriority",
        "Producer→Consumer topology end to end",
    ),
}


def q_stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join with watermarks: every view is
    attributed to a purchase by the same user within 1 hour, and views
    with NO purchase emit with NULLs once the watermark passes their
    join range — the outer-join state-eviction semantics inner joins
    never exercise.

    Determinism note: Spark only emits an unmatched left row after the
    GLOBAL watermark (min over both streams' max-event-time − 2 h)
    passes v_ts + 1 h. Rows near the end of a bounded drain are
    therefore emission-ambiguous, so BOTH this query and the batch twin
    restrict to v_ts ≤ min(max view ts, max purchase ts) − 4 h — one
    hour inside the guaranteed-emitted region; inside it, streamed
    output ≡ batch left join exactly. The bound is computed as a 1-row
    broadcast, not a driver collect."""
    views = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts"))
        .withWatermark("v_ts", "2 hours")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "2 hours")
    )
    joined = views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 1 HOUR")),
        "left_outer",
    )
    drained = run_available_now(joined, output_mode="append")
    from ..sources.batch import read_table

    ev = read_table(spark, sf_dir, "events")
    bound = (
        ev.filter(F.col("event_type").isin("view", "purchase"))
        .groupBy()
        .agg(
            (
                F.least(
                    F.max(F.when(F.col("event_type") == "view", F.col("ts"))),
                    F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
                )
                - F.expr("INTERVAL 4 HOURS")
            ).alias("cutoff")
        )
    )
    safe = drained.crossJoin(F.broadcast(bound)).filter(
        F.col("v_ts") <= F.col("cutoff")
    )
    return safe.groupBy(F.col("p_user").isNotNull().alias("matched")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("v_user").alias("n_view_users"),
    )


ORACLE_STREAM_STREAM_LEFT = """
WITH v AS (
  SELECT user_id AS v_user, ts AS v_ts FROM events WHERE event_type = 'view'
),
p AS (
  SELECT user_id AS p_user, ts AS p_ts FROM events WHERE event_type = 'purchase'
),
bound AS (
  SELECT least(
           (SELECT max(ts) FROM events WHERE event_type = 'view'),
           (SELECT max(ts) FROM events WHERE event_type = 'purchase')
         ) - INTERVAL 4 HOUR AS cutoff
),
j AS (
  SELECT v.v_user, v.v_ts, p.p_user
  FROM v LEFT JOIN p
    ON v.v_user = p.p_user
   AND p.p_ts >= v.v_ts
   AND p.p_ts <= v.v_ts + INTERVAL 1 HOUR
)
SELECT (p_user IS NOT NULL) AS matched,
       count(*) AS n_rows,
       count(DISTINCT v_user) AS n_view_users
FROM j, bound WHERE v_ts <= bound.cutoff
GROUP BY 1
"""


QUERIES["stream_stream_left_join"] = QuerySpec(
    q_stream_stream_left_join,
    ORACLE_STREAM_STREAM_LEFT,
    "LEFT OUTER stream-stream join: watermark eviction emits unmatched "
    "views (batch-twin oracle inside the guaranteed-emitted region)",
)


def q_stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental ingestion gate THROUGH a live stream (streaming
    twin of doc_incremental_dedup's exact level): incoming docs
    (doc_id % 10 == 0) stream in, are content-hashed, deduped WITHIN the
    stream (stateful dropDuplicates on (hash, lang) — bounded by distinct
    content), then classified against the STATIC corpus hash set via a
    stream-static left join, and accounted per (lang, status). The
    static side is a distinct-reduced batch table — Spark re-plans the
    join per micro-batch, so at scale it stays a hash join keyed on the
    32-byte hash, never a corpus broadcast. The shingle 'near' level
    stays in the batch gate (dedup/incremental.py) — streaming state for
    shingle sets would be unbounded per doc."""
    from ..functions.text import normalize_text
    from ..sources.batch import read_table

    schema = "doc_id bigint, text string, lang string, source string, n_chars bigint"
    stream = stream_table_source(spark, sf_dir, "documents", schema)
    incoming = (
        stream.filter(F.col("doc_id") % 10 == 0)
        .select("lang", F.md5(normalize_text("text")).alias("ch"))
        .dropDuplicates(["ch", "lang"])
    )
    corpus_hashes = (
        read_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 10 != 0)
        .select(F.md5(normalize_text("text")).alias("ch"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    classified = incoming.join(corpus_hashes, "ch", "left").select(
        "lang",
        F.when(F.col("__hit").isNotNull(), F.lit("exact"))
        .otherwise(F.lit("new"))
        .alias("status"),
    )
    return run_available_now(
        classified,
        lambda df: df.groupBy("lang", "status").agg(
            F.count(F.lit(1)).alias("n_docs")
        ),
        output_mode="complete",
    )


def _oracle_stream_incremental_dedup() -> str:
    from .llm import SQL_NORM

    return f"""
WITH inc AS (SELECT DISTINCT md5({SQL_NORM}) AS ch, lang
             FROM documents WHERE doc_id % 10 = 0),
corp AS (SELECT DISTINCT md5({SQL_NORM}) AS ch
         FROM documents WHERE doc_id % 10 != 0)
SELECT inc.lang,
       CASE WHEN corp.ch IS NOT NULL THEN 'exact' ELSE 'new' END AS status,
       count(*) AS n_docs
FROM inc LEFT JOIN corp ON inc.ch = corp.ch
GROUP BY 1, 2
"""


QUERIES["stream_incremental_dedup"] = QuerySpec(
    q_stream_incremental_dedup,
    _oracle_stream_incremental_dedup(),
    "streaming ingestion dedup gate: stateful in-stream dedup + "
    "stream-static hash join vs the corpus (batch-twin oracle)",
)


def q_stream_chained_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained stateful aggregations (Spark 4 multiple-stateful-operator
    support): a 15-minute tumbling count per event_type feeds a SECOND
    windowed aggregation that rolls the quarter-hour buckets up to hourly
    sum/max — two stateful operators in ONE streaming query, which
    pre-Spark-3.5 engines reject outright. Append mode end to end (the
    only mode chained aggs support): each 15-min window finalizes when
    the watermark passes its end, then flows into the hourly state.

    Determinism: hourly windows near the drain tail are
    emission-ambiguous (same argument as q_stream_stream_left_join), so
    both this query and the batch-twin oracle keep only hours whose end
    is ≥ 2 h inside max event time — every kept hour is provably
    finalized, and inside that region streamed ≡ batch exactly."""
    stream = _events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    s1 = stream.groupBy(
        F.window("ts", "15 minutes").alias("w1"), "event_type"
    ).agg(F.count(F.lit(1)).alias("cnt15"))
    s2 = s1.groupBy(F.window("w1", "1 hour").alias("w2"), "event_type").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum("cnt15").alias("sum_cnt"),
        F.max("cnt15").alias("max_cnt"),
    )
    drained = run_available_now(s2, output_mode="append")

    from ..sources.batch import read_table

    ev = read_table(spark, sf_dir, "events")
    bound = ev.agg(
        (F.max("ts") - F.expr("INTERVAL 2 HOURS")).alias("cutoff")
    )
    return (
        drained.crossJoin(F.broadcast(bound))
        .filter(F.col("w2.end") <= F.col("cutoff"))
        .select(
            F.date_format(F.col("w2.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n_buckets",
            "sum_cnt",
            "max_cnt",
        )
    )


ORACLE_STREAM_CHAINED = """
WITH b15 AS (
  SELECT time_bucket(INTERVAL '15 minutes', ts) AS b, event_type,
         count(*) AS cnt15
  FROM events GROUP BY 1, 2
),
hourly AS (
  SELECT time_bucket(INTERVAL '1 hour', b) AS h, event_type,
         count(*) AS n_buckets, cast(sum(cnt15) AS BIGINT) AS sum_cnt, max(cnt15) AS max_cnt
  FROM b15 GROUP BY 1, 2
)
SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
       n_buckets, sum_cnt, max_cnt
FROM hourly
WHERE h + INTERVAL 1 HOUR <= (SELECT max(ts) FROM events) - INTERVAL 2 HOUR
"""


QUERIES["stream_chained_windows"] = QuerySpec(
    q_stream_chained_windows,
    ORACLE_STREAM_CHAINED,
    "chained stateful aggs: 15-min window rolled to hourly in one query "
    "(Spark 4 multiple stateful operators; batch-twin oracle)",
)


def q_stream_running_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming statistics: per-type online
    mean/variance via Welford state (streaming/stateful.py::
    running_stats) — O(1) state per key where the built-in streaming agg
    would be fine for mean but this also carries the numerically-stable
    M2. Drained update-mode output keeps each key's LAST emission (the
    one with the full count), which must equal the batch avg/var_samp
    exactly (oracle)."""
    from ..streaming.stateful import running_stats

    drained = run_available_now(
        running_stats(_events_stream(spark, sf_dir), "event_type", "value"),
        output_mode="update",
    )
    final = drained.groupBy("key").agg(
        F.max_by(F.struct("n", "mean", "variance"), "n").alias("s")
    )
    return final.select(
        "key",
        F.col("s.n").alias("n"),
        F.round("s.mean", 4).alias("mean"),
        F.round("s.variance", 4).alias("variance"),
    )


ORACLE_STREAM_RUNNING_STATS = """
SELECT event_type AS key, count(value) AS n,
       round(avg(value), 4) AS mean,
       round(var_samp(value), 4) AS variance
FROM events
GROUP BY event_type
"""


QUERIES["stream_running_stats"] = QuerySpec(
    q_stream_running_stats,
    ORACLE_STREAM_RUNNING_STATS,
    "Welford online mean/variance per key (applyInPandasWithState; "
    "batch-exact after drain)",
)


_BROKER_PARTS = 4


def _broker_topic_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Publish the events table as a 4-partition topic once per sf_dir
    (keyed by user_id, offsets from the (ts, event_id) total order);
    reused across runs via the _SUCCESS marker."""
    import os

    from ..sources.broker import publish_topic

    base = os.path.basename(sf_dir.rstrip("/")) or "sf"
    topic = f"/tmp/broker_topic_{base}"
    if not os.path.exists(os.path.join(topic, "_SUCCESS")):
        ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        publish_topic(
            ev, topic, key_col="user_id", n_partitions=_BROKER_PARTS,
            order_cols=["ts", "event_id"],
        )
    return topic


def q_stream_broker_topic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kafka-class consumption end to end (sources/broker.py): publish
    events as a keyed 4-partition topic, then CONSUME it as a stream —
    checkpointed file source, availableNow drain — and account each
    partition's log: record count, max offset, distinct offsets, and
    distinct keys. The offset columns make the publish contract
    load-bearing: dense per-partition offsets mean max_offset =
    n_records − 1 and n_offsets = n_records, which the DuckDB oracle
    reproduces from the raw events with the same pmod/total-order
    arithmetic."""
    from ..sources.broker import read_topic_stream
    from ..streaming.pipeline import run_available_now

    topic = _broker_topic_fixture(spark, sf_dir)
    st = read_topic_stream(
        spark,
        topic,
        schema=(
            "event_id bigint, ts timestamp, user_id bigint,"
            " event_type string, value double, props string,"
            " offset bigint"
        ),
    )
    return run_available_now(
        st,
        lambda df: df.groupBy(F.col("part_id").cast("int").alias("part_id")).agg(
            F.count(F.lit(1)).alias("n_records"),
            F.max("offset").alias("max_offset"),
            F.sum("offset").alias("sum_offset"),
            F.bit_xor("user_id").alias("xor_keys"),
        ),
        output_mode="complete",
    )


ORACLE_BROKER_TOPIC = f"""
WITH t AS (
  SELECT CAST(user_id % {_BROKER_PARTS} AS INT) AS part_id, user_id
  FROM events
)
SELECT part_id, count(*) AS n_records,
       count(*) - 1 AS max_offset,
       count(*) * (count(*) - 1) // 2 AS sum_offset,
       bit_xor(user_id) AS xor_keys
FROM t GROUP BY part_id
"""


QUERIES["stream_broker_topic"] = QuerySpec(
    q_stream_broker_topic,
    ORACLE_BROKER_TOPIC,
    "partitioned-topic broker source: keyed publish, offset-dense consume",
)


def q_stream_broker_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ingestion composition a production topic feeds: broker
    partitioned-topic stream (sources/broker.py) → stream-static
    broadcast enrichment (user cohort from the events table's first-seen
    reduction — re-planned per micro-batch, broadcast because it's
    user-sized) → event-time tumbling daily window per cohort. One
    streaming aggregate; the static side never shuffles the stream."""
    from ..sources.broker import read_topic_stream
    from ..streaming.pipeline import run_available_now

    topic = _broker_topic_fixture(spark, sf_dir)
    st = read_topic_stream(
        spark,
        topic,
        schema=(
            "event_id bigint, ts timestamp, user_id bigint,"
            " event_type string, value double, props string,"
            " offset bigint"
        ),
    )
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cohort = ev.groupBy("user_id").agg(
        F.date_format(F.date_trunc("month", F.min("ts")), "yyyy-MM").alias(
            "cohort_month"
        )
    )

    def xform(df: DataFrame) -> DataFrame:
        return (
            df.join(F.broadcast(cohort), "user_id")
            .groupBy(
                "cohort_month",
                F.window("ts", "1 day").alias("w"),
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 2).alias("total_value"),
            )
            .select(
                "cohort_month",
                F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("day"),
                "n_events",
                "total_value",
            )
        )

    return run_available_now(st, xform, output_mode="complete")


ORACLE_BROKER_ENRICHED = """
WITH cohort AS (
  SELECT user_id, strftime(date_trunc('month', min(ts)), '%Y-%m')
           AS cohort_month
  FROM events GROUP BY 1
)
SELECT c.cohort_month, strftime(date_trunc('day', e.ts), '%Y-%m-%d') AS day,
       count(*) AS n_events, round(sum(e.value), 2) AS total_value
FROM events e JOIN cohort c USING (user_id)
GROUP BY 1, 2
"""


QUERIES["stream_broker_enriched"] = QuerySpec(
    q_stream_broker_enriched,
    ORACLE_BROKER_ENRICHED,
    "broker stream -> broadcast cohort enrichment -> daily windows per cohort",
)


QUOTA_PER_DAY = 3


def q_stream_quota_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion rate limiting THROUGH a live stream: the stateful
    per-(user, day) admission gate (streaming/stateful.py::quota_gate,
    quota 3) tags every event admitted/rejected; the drained result is
    accounted per day. Deterministic because admission follows the
    (ts, event_id) total order — so the batch twin (row_number ≤ quota
    per user-day) reproduces the exact admit set, not just counts."""
    from ..streaming.stateful import quota_gate

    gated = quota_gate(
        _events_stream(spark, sf_dir), "user_id", "ts", "event_id",
        quota=QUOTA_PER_DAY,
    )
    drained = run_available_now(gated, output_mode="append")
    return drained.groupBy("day").agg(
        F.sum(F.col("admitted").cast("int")).alias("n_admitted"),
        F.sum((~F.col("admitted")).cast("int")).alias("n_rejected"),
        F.bit_xor(
            F.when(F.col("admitted"), F.col("event_id")).otherwise(F.lit(0))
        ).alias("admitted_xor"),
    )


ORACLE_STREAM_QUOTA = f"""
WITH ranked AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_id,
         row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
                            ORDER BY ts, event_id) AS rk
  FROM events
)
SELECT day,
       cast(sum(CASE WHEN rk <= {QUOTA_PER_DAY} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_admitted,
       cast(sum(CASE WHEN rk > {QUOTA_PER_DAY} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_rejected,
       bit_xor(CASE WHEN rk <= {QUOTA_PER_DAY} THEN event_id ELSE 0 END)
         AS admitted_xor
FROM ranked GROUP BY day
"""


QUERIES["stream_quota_gate"] = QuerySpec(
    q_stream_quota_gate,
    ORACLE_STREAM_QUOTA,
    "stateful per-user-day admission quota; exact admit set via XOR",
)


def q_stream_gopher_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality rules (textstats/rules.py) applied ON A LIVE
    STREAM: docs stream in, every rule evaluates in-row (the operator
    is a pure projection, so it is streaming-safe with no state), the
    word-count rule gates admission, and the running per-(lang,
    stopword-verdict) corpus accounting drains availableNow in
    complete mode. This is the shape a 100 TB ingest actually uses —
    filter at the edge, account by rule verdicts — and the dedup-free
    pipeline keeps state bounded by the group-by cardinality
    (|langs| × 2), not the corpus."""
    from ..textstats.rules import gopher_quality_rules

    schema = "doc_id bigint, text string, lang string, source string, n_chars bigint"
    stream = stream_table_source(spark, sf_dir, "documents", schema)
    ruled = gopher_quality_rules(stream, "doc_id", "text", carry_cols=("lang",))
    gated = ruled.filter(F.col("ok_word_count"))
    return run_available_now(
        gated,
        lambda df: df.groupBy("lang", "ok_stopwords").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("sum_words"),
            F.round(F.avg("mean_word_len"), 6).alias("avg_word_len"),
        ),
        output_mode="complete",
    )


ORACLE_STREAM_GOPHER_GATE = r"""
WITH m AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(lower(text), '\s+'),
                     w -> w != '') AS words
  FROM documents
),
r AS (
  SELECT doc_id, lang, len(words) AS n_words,
         round(CASE WHEN len(words) > 0
               THEN list_sum(list_transform(words, w -> length(w)))
                    * 1.0 / len(words) ELSE 0.0 END, 6) AS mean_word_len,
         len(list_intersect(list_distinct(words),
             ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with']))
           AS stop_hits
  FROM m
)
SELECT lang, (stop_hits >= 2) AS ok_stopwords,
       count(*) AS n_docs,
       CAST(sum(n_words) AS BIGINT) AS sum_words,
       round(avg(mean_word_len), 6) AS avg_word_len
FROM r
WHERE n_words >= 50 AND n_words <= 100000
GROUP BY 1, 2
"""


QUERIES["stream_gopher_gate"] = QuerySpec(
    q_stream_gopher_gate,
    ORACLE_STREAM_GOPHER_GATE,
    "Gopher rules as a streaming admission gate with verdict accounting",
)


def q_stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained quality classifier SERVING ON A LIVE STREAM — the
    deploy-time split of every fastText-style curation gate: train
    OFFLINE on the batch corpus (textstats/quality_clf.py, dim=256,
    2 GD iterations, integer micro-unit exact), then score each
    streaming document IN-ROW with the frozen weights folded into the
    plan as a 256-entry map literal (z = mean of per-gram weights via
    higher-order aggregate — no per-doc stateful aggregation, so the
    scorer is streaming-safe with zero state) and account admissions
    per (lang, admitted) in complete mode. The oracle replays the
    training run in SQL (the unrolled-CTE builder shared with
    doc_quality_classifier) and restates the gate."""
    from ..functions.text import md5_64, shingles_from_tokens, tokenize
    from ..textstats.quality_clf import MICRO, train_quality_classifier

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    # offline-sample training (the CCNet pattern: the model is fit on a
    # curated sample, not the full firehose) — 20% deterministic slice
    wdf, bias = train_quality_classifier(
        d.filter(F.col("doc_id") % 5 == 0),
        "doc_id", "text", F.col("lang") == "en", dim=256, iters=2,
    )
    # DENSE array literal indexed by bucket (O(1) element_at; a map
    # literal lookup is a linear scan — 10x wall-clock on this query)
    dense = [0] * 256
    for row in wdf.collect():  # dim-bounded (<=256 rows)
        dense[int(row["b"])] = int(row["w_micro"])
    warr = F.array(*[F.lit(w).cast("bigint") for w in dense])

    schema = (
        "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint"
    )
    stream = stream_table_source(spark, sf_dir, "documents", schema)
    staged = stream.repartition(spark.sparkContext.defaultParallelism).select(
        "doc_id", "lang", tokenize(F.col("text")).alias("toks")
    ).withColumn(
        "feats", F.concat(F.col("toks"), shingles_from_tokens("toks", 2))
    )
    zs = F.aggregate(
        F.col("feats"),
        F.lit(0).cast("bigint"),
        lambda acc, f: acc
        + F.element_at(warr, F.pmod(md5_64(f), F.lit(256)).cast("int") + 1),
    )
    nf = F.size("feats").cast("bigint")
    zmean = F.when(nf > 0, ((zs - F.pmod(zs, nf)) / nf).cast("bigint")).otherwise(
        F.lit(0).cast("bigint")
    )
    zb = zmean + F.lit(int(bias))
    score = F.least(
        F.lit(MICRO),
        F.greatest(
            F.lit(0),
            F.lit(MICRO // 2) + ((zb - F.pmod(zb, F.lit(4))) / 4).cast("bigint"),
        ),
    ).cast("bigint")
    scored = staged.select(
        "doc_id",
        "lang",
        score.alias("score_micro"),
        (score >= 442000).alias("admitted"),
    )
    return run_available_now(
        scored,
        lambda df: df.groupBy("lang", "admitted").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("score_micro").alias("sum_score"),
        ),
        output_mode="complete",
    )


def _stream_quality_gate_oracle() -> str:
    from .llm import _quality_clf_cte, _sql_fdiv

    score = _sql_fdiv("coalesce(zf.z, 0) + bias2.bv", "4")
    return _quality_clf_cte(256, 2, train_where="id % 5 = 0") + rf"""
SELECT t2.lang,
       (least(1000000, greatest(0, 500000 + {score})) >= 442000)
         AS admitted,
       count(*) AS n_docs,
       CAST(sum(least(1000000, greatest(0, 500000 + {score})))
            AS BIGINT) AS sum_score
FROM (SELECT doc_id AS id, lang FROM documents) t2
LEFT JOIN zf ON t2.id = zf.id, bias2
GROUP BY 1, 2
"""


QUERIES["stream_quality_gate"] = QuerySpec(
    q_stream_quality_gate,
    _stream_quality_gate_oracle(),
    "offline-trained quality classifier gating a live stream, in-row scoring",
)


LM_GATE_BUCKETS = 1024
LM_GATE_THRESH = -6260000  # micro-nats/bigram, ~median of the corpus


def q_stream_lm_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM-perplexity gate SERVING ON A LIVE STREAM: the
    bigram LM is trained OFFLINE (textstats/lm.py::sketched_bigram_lm —
    hash-bucketed MLE so the whole model is a fixed 1024-int array),
    frozen into the streaming plan as a dense literal, and every
    streamed doc is scored IN-ROW (higher-order aggregate over its own
    bigrams, integer floor-division mean — zero per-doc state, so the
    scorer is streaming-safe), gated at the corpus-median threshold,
    and accounted per (lang, admitted) in complete mode. The same
    deploy-time split as stream_quality_gate, with a language model in
    the gate instead of a classifier; at 100 TB the model array is
    executor-resident like any broadcast, and the stream never
    shuffles before the bounded accounting aggregate."""
    from ..functions.text import md5_64, tokenize
    from ..textstats.lm import sketched_bigram_lm

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    weights, oov, _total = sketched_bigram_lm(d, "text", LM_GATE_BUCKETS)
    warr = F.array(*[F.lit(w).cast("bigint") for w in weights])

    schema = (
        "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint"
    )
    stream = stream_table_source(spark, sf_dir, "documents", schema)
    staged = stream.repartition(spark.sparkContext.defaultParallelism).select(
        "doc_id", "lang", tokenize(F.col("text")).alias("toks")
    )
    n = F.greatest(F.size("toks") - 1, F.lit(0))
    staged = staged.withColumn(
        "grams",
        F.zip_with(
            F.slice("toks", 1, n),
            F.slice(F.col("toks"), 2, n),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    )
    s = F.aggregate(
        F.col("grams"),
        F.lit(0).cast("bigint"),
        lambda acc, g: acc
        + F.element_at(
            warr,
            F.pmod(md5_64(g), F.lit(LM_GATE_BUCKETS)).cast("int") + 1,
        ),
    )
    nb = F.size("grams").cast("bigint")
    score = F.when(
        nb > 0, ((s - F.pmod(s, nb)) / nb).cast("bigint")
    ).otherwise(F.lit(int(oov)))
    scored = staged.select(
        "doc_id",
        "lang",
        score.alias("score_micro"),
        (score >= F.lit(LM_GATE_THRESH)).alias("admitted"),
    )
    return run_available_now(
        scored,
        lambda df: df.groupBy("lang", "admitted").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("score_micro").alias("sum_score"),
        ),
        output_mode="complete",
    )


def _stream_lm_gate_oracle() -> str:
    from .llm import _sql_fdiv
    from .scale_ops import _SQL_NORM, _SQL_TOKS

    fdiv = _sql_fdiv("sc.s", "sc.n")
    return rf"""
WITH t AS (
  SELECT doc_id, unnest({_SQL_TOKS}) AS w,
         unnest(generate_series(1, len({_SQL_TOKS}))) AS pos
  FROM documents WHERE {_SQL_NORM} != ''
),
bg AS (
  SELECT doc_id, w AS w1,
         lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
  FROM t
),
bk AS (
  SELECT doc_id,
         cast(('0x' || substr(md5(w1 || ' ' || w2), 1, 15)) AS bigint)
           % {LM_GATE_BUCKETS} AS bucket
  FROM bg WHERE w2 IS NOT NULL
),
bc AS (SELECT bucket, count(*) AS cnt FROM bk GROUP BY bucket),
tt AS (SELECT sum(cnt) AS T FROM bc),
model AS (
  SELECT bucket,
         CAST(round(ln(cnt / (T * 1.0)) * 1e6) AS BIGINT) AS lp
  FROM bc, tt
),
oov AS (SELECT min(lp) - 1000000 AS v FROM model),
sc AS (
  SELECT doc_id, count(*) AS n, sum(lp) AS s
  FROM bk JOIN model USING (bucket)
  GROUP BY doc_id
),
scored AS (
  SELECT d.lang,
         CASE WHEN sc.n > 0 THEN {fdiv} ELSE oov.v END AS score_micro
  FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id, oov
)
SELECT lang, (score_micro >= {LM_GATE_THRESH}) AS admitted,
       count(*) AS n_docs,
       CAST(sum(score_micro) AS BIGINT) AS sum_score
FROM scored
GROUP BY 1, 2
"""


QUERIES["stream_lm_gate"] = QuerySpec(
    q_stream_lm_gate,
    _stream_lm_gate_oracle(),
    "offline-trained sketched bigram LM gating a live stream at median ppl",
)


# ---------------------------------------------------------------------------
# Streaming NEAR-duplicate gate: MinHash-LSH bands of the incoming
# stream probed against a Bloom bitmap of the corpus bands.

NEARDUP_SPLIT = 5      # doc_id % 5 == 0 is the incoming crawl slice
NEARDUP_PERM = 16
NEARDUP_BANDS = 4
NEARDUP_M = 16384      # Bloom bits over the corpus band keys
NEARDUP_K = 3
NEARDUP_SALT = "ndgate"


def q_stream_neardup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental FUZZY dedup on a live stream — the crawl-ingest
    twin of doc_minhash_pairs: the corpus (doc_id % 5 != 0) is indexed
    OFFLINE as MinHash-LSH band keys (dedup/minhash.py — the same
    16-perm/4-band signatures the batch pair-finder uses) compressed
    into one 16384-bit Bloom bitmap (dedup/bloom.py), and each
    streaming document computes its own signature IN-ROW (shingle →
    md5 hash → per-permutation array_min, all higher-order
    expressions — no explode, no per-doc stateful aggregation, so the
    scorer is streaming-safe with zero state) and probes its 4 band
    keys against the bitmap folded into the plan as a literal. A doc
    whose ANY band hits is a near-dup suspect and is dropped; docs
    too short to shingle are admitted unconditionally. Bloom false
    positives drop at the designed ~1% rate — the oracle replays the
    exact bit positions, so even which docs false-positive is
    hash-checked. Accounting per (source, admitted) with an id_sum
    identity pin in complete mode.

    Scale shape: the index is one bounded (<= m distinct positions)
    aggregate no matter the corpus size; the probe side is pure
    projection. This is the 100 TB deploy shape for fuzzy
    crawl-vs-corpus dedup: the full band table never ships to the
    stream, only the fixed-size bitmap."""
    from ..dedup.bloom import bloom_build_words, bloom_positions
    from ..dedup.minhash import (
        MERSENNE_P,
        lsh_bands,
        minhash_params,
        minhash_signatures,
    )
    from ..functions.text import md5_64, shingles_from_tokens, tokenize

    # direct path (not a pathGlobFilter on sf_dir) so both layouts
    # work: the testdata single FILE documents.parquet and the stress
    # harness's documents.parquet/ DIRECTORY of part files
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = d.filter(F.col("doc_id") % NEARDUP_SPLIT != 0)
    cbands = lsh_bands(
        minhash_signatures(corpus, "doc_id", "text",
                           num_perm=NEARDUP_PERM, shingle_n=2),
        num_perm=NEARDUP_PERM, bands=NEARDUP_BANDS,
    )
    ckeys = cbands.select(
        F.concat_ws(":", F.col("band_id").cast("string"),
                    "band_hash").alias("bk")
    ).persist()
    # corpus-adaptive bitmap: ~10 bits per distinct band key holds the
    # false-positive rate at the designed ~1% at ANY corpus size — a
    # fixed m saturates to all-ones at ~10x corpus and drops every
    # incoming doc. NEARDUP_M stays the floor, so small-corpus (driver
    # testdata) results are unchanged.
    from ..dedup.bloom import adaptive_bits

    m = adaptive_bits(ckeys.distinct().count(), NEARDUP_M)
    words = bloom_build_words(ckeys, "bk", m=m, k=NEARDUP_K,
                              salt=NEARDUP_SALT)
    # both consumers (count + word aggregate) have collected — release
    # the cached band keys so multi-query sessions don't accumulate them
    ckeys.unpersist()
    # ONE hex-string literal (8 chars per 32-bit word): a per-word
    # F.array literal is rebuilt as an expression tree of m/32 nodes
    # referenced once per probe position — at the adaptive m it tripled
    # the gate's wall time in plan/codegen cost alone. The string is a
    # single plan node; bits extract with substring+conv per position.
    bitmap_hex = "".join(f"{w & 0xFFFFFFFF:08x}" for w in words)

    schema = (
        "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint"
    )
    # the streaming file source needs a DIRECTORY: point it at the
    # table directory when documents.parquet is one (stress layout),
    # else glob the single file out of sf_dir (testdata layout)
    rs = stream_table_source(spark, sf_dir, "documents", schema)
    staged = (
        rs.filter(F.col("doc_id") % NEARDUP_SPLIT == 0)
        .repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", "source", tokenize(F.col("text")).alias("toks"))
        .select(
            "doc_id", "source",
            F.array_distinct(shingles_from_tokens("toks", 2)).alias("sh"),
        )
        .select(
            "doc_id", "source", F.size("sh").alias("nsh"),
            F.transform(
                "sh", lambda s: md5_64(s) % F.lit(MERSENNE_P)
            ).alias("hs"),
        )
    )
    def perm_min(a: int, b: int):
        return F.array_min(F.transform(
            "hs",
            lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MERSENNE_P),
        ))

    sig = staged.select(
        "doc_id", "source", "nsh",
        *[
            perm_min(a, b).alias(f"mh{i}")
            for i, (a, b) in enumerate(minhash_params(NEARDUP_PERM))
        ],
    )
    rows_per = NEARDUP_PERM // NEARDUP_BANDS

    def band_hit(b: int):
        bh = F.md5(F.concat_ws(",", *[
            F.col(f"mh{b * rows_per + i}").cast("string")
            for i in range(rows_per)
        ]))
        bk = F.concat_ws(":", F.lit(str(b)), bh)
        hit = F.lit(True)
        for pos in bloom_positions(bk, m, NEARDUP_K,
                                   NEARDUP_SALT):
            start = (F.floor(pos / 32).cast("int") * 8 + 1).cast("int")
            word = F.conv(
                F.substring(F.col("__bm"), start, F.lit(8)), 16, 10
            ).cast("bigint")
            shifted = F.floor(
                word / F.pow(F.lit(2.0), F.pmod(pos, F.lit(32)))
            ).cast("bigint")
            hit = hit & (F.pmod(shifted, F.lit(2)) == 1)
        return hit

    any_hit = band_hit(0)
    for b in range(1, NEARDUP_BANDS):
        any_hit = any_hit | band_hit(b)
    sig = sig.withColumn("__bm", F.lit(bitmap_hex))
    scored = sig.select(
        "doc_id", "source",
        (~((F.col("nsh") > 0) & any_hit)).alias("admitted"),
    )
    return run_available_now(
        scored,
        lambda df: df.groupBy("source", "admitted").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").alias("id_sum"),
        ),
        output_mode="complete",
    )


def _stream_neardup_oracle() -> str:
    from ..dedup.minhash import MERSENNE_P, minhash_params
    from .llm import SQL_SHINGLES2, SQL_TOKS, _sql_md5_64

    mins = ",\n       ".join(
        f"min(({a} * h + {b}) % {MERSENNE_P}) AS mh{i}"
        for i, (a, b) in enumerate(minhash_params(NEARDUP_PERM))
    )
    rows_per = NEARDUP_PERM // NEARDUP_BANDS

    def band_rows(src: str) -> str:
        return "\nUNION ALL\n".join(
            f"SELECT doc_id, CAST({b} AS VARCHAR) || ':' || "
            "md5(concat_ws(',', "
            + ", ".join(f"mh{b * rows_per + i}" for i in range(rows_per))
            + f")) AS bk FROM {src}"
            for b in range(NEARDUP_BANDS)
        )

    def pos_sql(i: int, key: str) -> str:
        h1 = _sql_md5_64(f"'{NEARDUP_SALT}:1:' || {key}")
        h2 = _sql_md5_64(f"'{NEARDUP_SALT}:2:' || {key}")
        return f"(({h1}) + {i} * ({h2})) % (SELECT m FROM mx)"

    in_ref = " AND ".join(
        f"({pos_sql(i, 'bk')}) IN (SELECT p FROM refpos)"
        for i in range(NEARDUP_K)
    )
    ref_positions = ", ".join(
        pos_sql(i, "bk") for i in range(NEARDUP_K)
    )
    return rf"""
WITH t AS (SELECT doc_id, source, {SQL_TOKS} AS toks FROM documents),
shs AS (SELECT doc_id, source, list_distinct({SQL_SHINGLES2}) AS sh
        FROM t),
csh AS (SELECT doc_id, {_sql_md5_64('shingle')} % {MERSENNE_P} AS h
        FROM (SELECT doc_id, unnest(sh) AS shingle FROM shs
              WHERE doc_id % {NEARDUP_SPLIT} != 0)),
csig AS (SELECT doc_id, {mins} FROM csh GROUP BY doc_id),
cbands AS MATERIALIZED ({band_rows('csig')}),
nk AS (SELECT count(DISTINCT bk) AS c FROM cbands),
mx AS MATERIALIZED (
  SELECT ((greatest({NEARDUP_M}, 10 * c) + 31) // 32) * 32 AS m FROM nk),
refpos AS MATERIALIZED (
  SELECT DISTINCT unnest([{ref_positions}]) AS p
  FROM (SELECT DISTINCT bk FROM cbands)),
ish AS (SELECT doc_id, {_sql_md5_64('shingle')} % {MERSENNE_P} AS h
        FROM (SELECT doc_id, unnest(sh) AS shingle FROM shs
              WHERE doc_id % {NEARDUP_SPLIT} = 0)),
isig AS (SELECT doc_id, {mins} FROM ish GROUP BY doc_id),
ibands AS ({band_rows('isig')}),
ihits AS (SELECT doc_id, bool_or({in_ref}) AS near FROM ibands
          GROUP BY doc_id),
gated AS (
  SELECT s.doc_id, s.source,
         NOT (len(s.sh) > 0 AND coalesce(h.near, FALSE)) AS admitted
  FROM shs s LEFT JOIN ihits h USING (doc_id)
  WHERE s.doc_id % {NEARDUP_SPLIT} = 0
)
SELECT source, admitted, count(*) AS n_docs,
       CAST(sum(doc_id) AS BIGINT) AS id_sum
FROM gated GROUP BY source, admitted
"""


QUERIES["stream_neardup_gate"] = QuerySpec(
    q_stream_neardup_gate,
    _stream_neardup_oracle(),
    "streaming MinHash-LSH near-dup gate: corpus band index as a Bloom "
    "bitmap, in-row probe, zero state",
)


# ---------------------------------------------------------------------------
# streaming perceptual-image near-dup gate (crawl images vs corpus pHash)
# ---------------------------------------------------------------------------

IMGGATE_SPLIT = 5       # doc_id % 5 == 0 is the incoming crawl slice
IMGGATE_BANDS = 4       # 4 x 16-bit pHash bands
IMGGATE_M = 16384       # Bloom bits over the corpus band keys
IMGGATE_K = 3
IMGGATE_SALT = "imggate"


def q_stream_image_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental PERCEPTUAL image dedup on a live stream — the
    crawl-ingest twin of doc_image_neardup, and the image member of the
    streaming-gate family (text: stream_neardup_gate): the corpus
    (doc_id % 5 != 0) is hashed OFFLINE with the integer-exact 64-bit
    DCT pHash (each image decoded through the real GIF/LZW codec by the
    SAME shared worker the batch pass uses), its 4x16-bit band keys are
    compressed into one 16384-bit Bloom bitmap, and each streaming
    image is decoded + hashed by a STATELESS Arrow mapInPandas pass,
    then probes its 4 band keys against the bitmap folded into the plan
    as a literal. Any band hit -> near-dup suspect -> dropped. Bloom
    false positives drop at the designed ~1% rate; the oracle replays
    hash bits AND bloom positions exactly, so even which images
    false-positive is value-hash-checked. Accounting per (admitted,)
    with an id_sum identity pin in complete mode.

    Scale shape (100 TB crawl): the index is one bounded aggregate
    (<= m distinct positions) no matter the corpus size; the probe
    side is decode + projection with zero streaming state — the band
    table never ships to the stream, only the fixed-size bitmap."""
    from ..dedup.bloom import adaptive_bits, bloom_build_words, bloom_positions
    from .platform_ops import phash_image_map

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    par = spark.sparkContext.defaultParallelism
    # corpus: non-crawl ids, minus every 4th variant GROUP — those
    # groups' crawl images are genuinely novel and must be admitted,
    # so the gate exercises both outcomes
    corpus_fp = (
        d.filter(
            (F.col("doc_id") % IMGGATE_SPLIT != 0)
            & (F.expr("doc_id div 3") % 4 != 0)
        )
        .select("doc_id")
        .repartition(par)
        .mapInPandas(phash_image_map, "doc_id bigint, phash bigint, dhash bigint")
    )

    def band_key(b: int):
        return F.concat_ws(
            ":",
            F.lit(str(b)),
            F.shiftrightunsigned(F.col("phash"), b * 16)
            .bitwiseAND(F.lit(0xFFFF))
            .cast("string"),
        )

    ckeys = corpus_fp.select(
        F.explode(
            F.array(*[band_key(b) for b in range(IMGGATE_BANDS)])
        ).alias("bk")
    )
    ckeys = ckeys.persist()
    # corpus-adaptive bitmap (see stream_neardup_gate): ~10 bits per
    # distinct band key, floored at IMGGATE_M for small corpora
    m = adaptive_bits(ckeys.distinct().count(), IMGGATE_M)
    words = bloom_build_words(
        ckeys, "bk", m=m, k=IMGGATE_K, salt=IMGGATE_SALT
    )
    # both consumers (count + word aggregate) have collected — release
    # the cached band keys so multi-query sessions don't accumulate them
    ckeys.unpersist()
    # single hex-string bitmap literal (see stream_neardup_gate)
    bitmap_hex = "".join(f"{w & 0xFFFFFFFF:08x}" for w in words)

    schema = (
        "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint"
    )
    rs = stream_table_source(spark, sf_dir, "documents", schema)
    probe_fp = (
        rs.filter(F.col("doc_id") % IMGGATE_SPLIT == 0)
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
        .mapInPandas(phash_image_map, "doc_id bigint, phash bigint, dhash bigint")
    )

    def band_hit(b: int):
        bk = band_key(b)
        hit = F.lit(True)
        for pos in bloom_positions(bk, m, IMGGATE_K, IMGGATE_SALT):
            start = (F.floor(pos / 32).cast("int") * 8 + 1).cast("int")
            word = F.conv(
                F.substring(F.col("__bm"), start, F.lit(8)), 16, 10
            ).cast("bigint")
            shifted = F.floor(
                word / F.pow(F.lit(2.0), F.pmod(pos, F.lit(32)))
            ).cast("bigint")
            hit = hit & (F.pmod(shifted, F.lit(2)) == 1)
        return hit

    any_hit = band_hit(0)
    for b in range(1, IMGGATE_BANDS):
        any_hit = any_hit | band_hit(b)
    probe_fp = probe_fp.withColumn("__bm", F.lit(bitmap_hex))
    scored = probe_fp.select("doc_id", (~any_hit).alias("admitted"))
    return run_available_now(
        scored,
        lambda df: df.groupBy("admitted").agg(
            F.count(F.lit(1)).alias("n_imgs"),
            F.sum("doc_id").alias("id_sum"),
        ),
        output_mode="complete",
    )


def _stream_image_gate_oracle() -> str:
    from .llm import _sql_md5_64
    from .platform_ops import phash_bits_cte

    # pack the 64 bits into 4 16-bit band values: bit index 8u+v,
    # band k holds indices [16k, 16k+16)
    band_val = (
        "CAST(sum(CASE WHEN (8 * u + v) // 16 = {k} "
        "THEN b * CAST(pow(2, (8 * u + v) % 16) AS BIGINT) "
        "ELSE 0 END) AS BIGINT)"
    )
    band_rows = "\nUNION ALL\n".join(
        f"SELECT doc_id, CAST({k} AS VARCHAR) || ':' || "
        f"CAST({band_val.format(k=k)} AS VARCHAR) AS bk "
        f"FROM bits GROUP BY doc_id"
        for k in range(IMGGATE_BANDS)
    )

    def pos_sql(i: int, key: str) -> str:
        h1 = _sql_md5_64(f"'{IMGGATE_SALT}:1:' || {key}")
        h2 = _sql_md5_64(f"'{IMGGATE_SALT}:2:' || {key}")
        return f"(({h1}) + {i} * ({h2})) % (SELECT m FROM mx)"

    in_ref = " AND ".join(
        f"({pos_sql(i, 'bk')}) IN (SELECT p FROM refpos)"
        for i in range(IMGGATE_K)
    )
    ref_positions = ", ".join(pos_sql(i, "bk") for i in range(IMGGATE_K))
    return f"""
WITH {phash_bits_cte()},
allbands AS MATERIALIZED ({band_rows}),
nk AS (SELECT count(DISTINCT bk) AS c FROM allbands
       WHERE doc_id % {IMGGATE_SPLIT} != 0
         AND (doc_id // 3) % 4 != 0),
mx AS MATERIALIZED (
  SELECT ((greatest({IMGGATE_M}, 10 * c) + 31) // 32) * 32 AS m FROM nk),
refpos AS MATERIALIZED (
  SELECT DISTINCT unnest([{ref_positions}]) AS p
           FROM (SELECT DISTINCT bk FROM allbands
                 WHERE doc_id % {IMGGATE_SPLIT} != 0
                   AND (doc_id // 3) % 4 != 0)),
ihits AS (SELECT doc_id, bool_or({in_ref}) AS near
          FROM allbands WHERE doc_id % {IMGGATE_SPLIT} = 0
          GROUP BY doc_id)
SELECT NOT near AS admitted, count(*) AS n_imgs,
       CAST(sum(doc_id) AS BIGINT) AS id_sum
FROM ihits GROUP BY NOT near
"""


QUERIES["stream_image_gate"] = QuerySpec(
    q_stream_image_gate,
    _stream_image_gate_oracle(),
    "streaming perceptual-image near-dup gate: corpus pHash band index "
    "as a Bloom bitmap, stateless decode+hash probe",
)


# ---------------------------------------------------------------------------
# streaming acoustic near-dup gate (crawl audio vs corpus fingerprints)
# ---------------------------------------------------------------------------

AUDGATE_SALT = "audgate"


def q_stream_audio_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ACOUSTIC near-dup gate — the audio member of the
    streaming-gate triad (text: stream_neardup_gate, image:
    stream_image_gate): corpus clips (doc_id % 5 != 0, minus every 4th
    variant group so novel crawl audio exists) are FLAC-decoded and
    fingerprinted OFFLINE by the same shared worker doc_audio_neardup
    uses (dedup/audiofp.py), their 4x16-bit band keys compressed into
    one 16384-bit Bloom bitmap folded into the plan; each streaming
    clip decodes + fingerprints in a STATELESS Arrow mapInPandas pass
    and probes its band keys. Any hit -> dropped. The oracle replays
    fingerprint bits and bloom positions exactly (even false positives
    are value-hash-checked). Accounting per (admitted,) with id_sum.

    Scale shape: identical to the image gate — bounded index
    aggregate, stateless linear probe, no band table on the stream."""
    from ..dedup.bloom import adaptive_bits, bloom_build_words, bloom_positions
    from .platform_ops import afp_audio_map

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    par = spark.sparkContext.defaultParallelism
    corpus_fp = (
        d.filter(
            (F.col("doc_id") % IMGGATE_SPLIT != 0)
            & (F.expr("doc_id div 3") % 4 != 0)
        )
        .select("doc_id")
        .repartition(par)
        .mapInPandas(afp_audio_map, "doc_id bigint, afp bigint")
    )

    def band_key(b: int):
        return F.concat_ws(
            ":",
            F.lit(str(b)),
            F.shiftrightunsigned(F.col("afp"), b * 16)
            .bitwiseAND(F.lit(0xFFFF))
            .cast("string"),
        )

    ckeys = corpus_fp.select(
        F.explode(
            F.array(*[band_key(b) for b in range(IMGGATE_BANDS)])
        ).alias("bk")
    )
    ckeys = ckeys.persist()
    # corpus-adaptive bitmap (see stream_neardup_gate): ~10 bits per
    # distinct band key, floored at IMGGATE_M for small corpora
    m = adaptive_bits(ckeys.distinct().count(), IMGGATE_M)
    words = bloom_build_words(
        ckeys, "bk", m=m, k=IMGGATE_K, salt=AUDGATE_SALT
    )
    # both consumers have collected — release the cached band keys
    ckeys.unpersist()
    # single hex-string bitmap literal (see stream_neardup_gate)
    bitmap_hex = "".join(f"{w & 0xFFFFFFFF:08x}" for w in words)

    schema = (
        "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint"
    )
    rs = stream_table_source(spark, sf_dir, "documents", schema)
    probe_fp = (
        rs.filter(F.col("doc_id") % IMGGATE_SPLIT == 0)
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
        .mapInPandas(afp_audio_map, "doc_id bigint, afp bigint")
    )

    def band_hit(b: int):
        bk = band_key(b)
        hit = F.lit(True)
        for pos in bloom_positions(bk, m, IMGGATE_K, AUDGATE_SALT):
            start = (F.floor(pos / 32).cast("int") * 8 + 1).cast("int")
            word = F.conv(
                F.substring(F.col("__bm"), start, F.lit(8)), 16, 10
            ).cast("bigint")
            shifted = F.floor(
                word / F.pow(F.lit(2.0), F.pmod(pos, F.lit(32)))
            ).cast("bigint")
            hit = hit & (F.pmod(shifted, F.lit(2)) == 1)
        return hit

    any_hit = band_hit(0)
    for b in range(1, IMGGATE_BANDS):
        any_hit = any_hit | band_hit(b)
    probe_fp = probe_fp.withColumn("__bm", F.lit(bitmap_hex))
    scored = probe_fp.select("doc_id", (~any_hit).alias("admitted"))
    return run_available_now(
        scored,
        lambda df: df.groupBy("admitted").agg(
            F.count(F.lit(1)).alias("n_clips"),
            F.sum("doc_id").alias("id_sum"),
        ),
        output_mode="complete",
    )


def _stream_audio_gate_oracle() -> str:
    from .llm import _sql_md5_64
    from .platform_ops import afp_bits_cte

    # pack the 64 bits into 4 16-bit band values: bit index f*4+c,
    # band k holds indices [16k, 16k+16)
    band_val = (
        "CAST(sum(CASE WHEN (f * 4 + c) // 16 = {k} "
        "THEN bit * CAST(pow(2, (f * 4 + c) % 16) AS BIGINT) "
        "ELSE 0 END) AS BIGINT)"
    )
    band_rows = "\nUNION ALL\n".join(
        f"SELECT doc_id, CAST({k} AS VARCHAR) || ':' || "
        f"CAST({band_val.format(k=k)} AS VARCHAR) AS bk "
        f"FROM bits GROUP BY doc_id"
        for k in range(IMGGATE_BANDS)
    )

    def pos_sql(i: int, key: str) -> str:
        h1 = _sql_md5_64(f"'{AUDGATE_SALT}:1:' || {key}")
        h2 = _sql_md5_64(f"'{AUDGATE_SALT}:2:' || {key}")
        return f"(({h1}) + {i} * ({h2})) % (SELECT m FROM mx)"

    in_ref = " AND ".join(
        f"({pos_sql(i, 'bk')}) IN (SELECT p FROM refpos)"
        for i in range(IMGGATE_K)
    )
    ref_positions = ", ".join(pos_sql(i, "bk") for i in range(IMGGATE_K))
    return f"""
WITH {afp_bits_cte()},
allbands AS MATERIALIZED ({band_rows}),
nk AS (SELECT count(DISTINCT bk) AS c FROM allbands
       WHERE doc_id % {IMGGATE_SPLIT} != 0
         AND (doc_id // 3) % 4 != 0),
mx AS MATERIALIZED (
  SELECT ((greatest({IMGGATE_M}, 10 * c) + 31) // 32) * 32 AS m FROM nk),
refpos AS MATERIALIZED (
  SELECT DISTINCT unnest([{ref_positions}]) AS p
           FROM (SELECT DISTINCT bk FROM allbands
                 WHERE doc_id % {IMGGATE_SPLIT} != 0
                   AND (doc_id // 3) % 4 != 0)),
ihits AS (SELECT doc_id, bool_or({in_ref}) AS near
          FROM allbands WHERE doc_id % {IMGGATE_SPLIT} = 0
          GROUP BY doc_id)
SELECT NOT near AS admitted, count(*) AS n_clips,
       CAST(sum(doc_id) AS BIGINT) AS id_sum
FROM ihits GROUP BY NOT near
"""


QUERIES["stream_audio_gate"] = QuerySpec(
    q_stream_audio_gate,
    _stream_audio_gate_oracle(),
    "streaming acoustic near-dup gate: corpus fingerprint band index "
    "as a Bloom bitmap, stateless decode+fingerprint probe",
)
