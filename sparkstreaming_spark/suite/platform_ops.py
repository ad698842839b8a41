"""Data-platform operations suite: schema evolution across batches,
small-file compaction, behavioral typicality scoring, and a codec+FFT
verification probe. These are the table-maintenance / data-reliability
ops a 100 TB lakehouse runs daily; none exist in the reference (its
whole persistence story is overwrite-a-CSV, Producer.scala:44-49).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.batch import read_table
from . import QuerySpec

QUERIES: dict[str, QuerySpec] = {}


# ---------------------------------------------------------------------------
# schema evolution
# ---------------------------------------------------------------------------


def _evolution_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Two order batches with EVOLVED schemas in one dataset dir:
    batch=1 lacks the o_clerk-derived priority_flag column that batch=2
    adds — the additive-column migration every long-lived table hits."""
    base = os.path.basename(sf_dir.rstrip("/")) or "sf"
    out = f"/tmp/schema_evolution_{base}"
    if not os.path.exists(os.path.join(out, "batch=2", "_SUCCESS")):
        o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        old = o.filter(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        new = o.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            (F.col("o_orderpriority") == "1-URGENT").alias("urgent_flag"),
        )
        old.write.mode("overwrite").parquet(os.path.join(out, "batch=1"))
        new.write.mode("overwrite").parquet(os.path.join(out, "batch=2"))
    return out


def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive schema evolution read: two parquet batches written with
    different schemas (the second adds `urgent_flag`) are unioned by ONE
    `mergeSchema` scan; rows from the pre-migration batch surface the
    new column as NULL. The profile aggregates per batch: row count,
    revenue, nulls and trues of the evolved column — exactly what a
    migration-verification job asserts before flipping readers over.

    At 100 TB: mergeSchema's footer reconciliation is a metadata
    operation (per-file schemas union in the driver); the data read
    stays columnar and pruned. The batch column is hive-partitioned, so
    per-batch profiles partition-prune."""
    path = _evolution_fixture(spark, sf_dir)
    df = spark.read.option("mergeSchema", "true").parquet(path)
    return df.groupBy(F.col("batch").cast("int").alias("batch")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.sum(F.col("urgent_flag").isNull().cast("int")).alias("n_null_flag"),
        F.coalesce(
            F.sum((F.col("urgent_flag") == True).cast("int")),  # noqa: E712
            F.lit(0),
        ).alias("n_urgent"),
    )


ORACLE_SCHEMA_EVOLUTION = """
SELECT 1 AS batch, count(*) AS n_rows,
       round(sum(o_totalprice), 2) AS revenue,
       count(*) AS n_null_flag, 0 AS n_urgent
FROM orders WHERE o_orderkey % 2 = 0
UNION ALL
SELECT 2 AS batch, count(*) AS n_rows,
       round(sum(o_totalprice), 2) AS revenue,
       0 AS n_null_flag,
       cast(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_urgent
FROM orders WHERE o_orderkey % 2 = 1
"""


# ---------------------------------------------------------------------------
# small-file compaction
# ---------------------------------------------------------------------------

COMPACT_SMALL_FILES = 64
COMPACT_TARGET_FILES = 4


def q_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE-style small-file compaction with a self-verifying
    report — the daily hygiene job that keeps a streaming-ingested
    table scannable (64 tiny files → 4 right-sized ones; at 100 TB the
    small-file tax is listing latency + per-file open cost + starved
    scan parallelism granularity).

    The report row carries the before/after file counts from the
    `_metadata` hidden column (no filesystem listing in the query path)
    and two load-bearing booleans: `rows_preserved` (count equality) and
    `content_preserved` (order-independent XOR fingerprint equality —
    the same anti-entropy check as table_fingerprint_orders). The
    oracle states the expected counts and TRUE/TRUE."""
    base = os.path.basename(sf_dir.rstrip("/")) or "sf"
    small_dir = f"/tmp/compact_small_{base}"
    compact_dir = f"/tmp/compact_out_{base}"
    ev = read_table(spark, sf_dir, "events")
    if not os.path.exists(os.path.join(small_dir, "_SUCCESS")):
        ev.repartition(COMPACT_SMALL_FILES).write.mode("overwrite").parquet(
            small_dir
        )
    small = spark.read.parquet(small_dir)
    # the compaction itself: one shuffle down to the target file count
    small.repartition(COMPACT_TARGET_FILES).write.mode("overwrite").parquet(
        compact_dir
    )
    compacted = spark.read.parquet(compact_dir)

    def profile(df: DataFrame, tag: str) -> DataFrame:
        return df.agg(
            F.lit(tag).alias("stage"),
            F.count_distinct(F.col("_metadata.file_path")).alias("n_files"),
            F.count(F.lit(1)).alias("n_rows"),
            F.bit_xor(F.xxhash64("event_id", "user_id", "event_type")).alias(
                "fp"
            ),
        )

    b = profile(small, "before")
    a = profile(compacted, "after")
    return (
        b.crossJoin(
            a.select(
                F.col("n_files").alias("files_after"),
                F.col("n_rows").alias("rows_after"),
                F.col("fp").alias("fp_after"),
            )
        )
        .select(
            F.col("n_files").alias("files_before"),
            "files_after",
            F.col("n_rows").alias("n_rows"),
            (F.col("n_rows") == F.col("rows_after")).alias("rows_preserved"),
            (F.col("fp") == F.col("fp_after")).alias("content_preserved"),
        )
    )


ORACLE_COMPACT = f"""
SELECT {COMPACT_SMALL_FILES} AS files_before,
       {COMPACT_TARGET_FILES} AS files_after,
       count(*) AS n_rows,
       TRUE AS rows_preserved,
       TRUE AS content_preserved
FROM events
"""


# ---------------------------------------------------------------------------
# behavioral typicality
# ---------------------------------------------------------------------------

TYPICALITY_SAMPLE_IDS = 200  # bound the verified output; stats use ALL rows


def q_user_typicality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral typicality: cosine between each user's event-type
    count vector and the global type profile — the cheap "is this user
    shaped like the population?" score behind bot/outlier triage.

    Scale shape: one (user, type) aggregate (the only fact-table pass),
    the |types|-row global profile broadcast onto it, then per-user
    sums. No pivot, no dense vectors — the cosine decomposes into
    Σ c_ut·g_t / (‖c_u‖·‖g‖) over the sparse count frame. Intermediates
    round to 6 dp; output bounded to user_id < 200 for the oracle while
    the profile stays corpus-wide."""
    ev = read_table(spark, sf_dir, "events")
    ut = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    g = ut.groupBy("event_type").agg(F.sum("c").alias("gt"))
    gnorm = g.agg(F.sqrt(F.sum(F.col("gt") ** 2)).alias("gn"))
    scored = (
        ut.join(F.broadcast(g), "event_type")
        .groupBy("user_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_events"),
            F.sum(F.col("c") * F.col("gt")).alias("dot"),
            F.sqrt(F.sum(F.col("c") ** 2)).alias("un"),
        )
        .crossJoin(F.broadcast(gnorm))
    )
    return scored.filter(F.col("user_id") < TYPICALITY_SAMPLE_IDS).select(
        "user_id",
        "n_events",
        F.round(
            F.col("dot") / (F.col("un") * F.col("gn")), 6
        ).alias("typicality"),
    )


ORACLE_TYPICALITY = f"""
WITH ut AS (
  SELECT user_id, event_type, CAST(count(*) AS DOUBLE) AS c
  FROM events GROUP BY 1, 2
),
g AS (SELECT event_type, sum(c) AS gt FROM ut GROUP BY 1),
gn AS (SELECT sqrt(sum(gt * gt)) AS gn FROM g),
scored AS (
  SELECT ut.user_id,
         CAST(sum(ut.c) AS BIGINT) AS n_events,
         sum(ut.c * g.gt) AS dot,
         sqrt(sum(ut.c * ut.c)) AS un
  FROM ut JOIN g USING (event_type)
  GROUP BY 1
)
SELECT user_id, n_events, round(dot / (un * gn.gn), 6) AS typicality
FROM scored, gn
WHERE user_id < {TYPICALITY_SAMPLE_IDS}
"""


# ---------------------------------------------------------------------------
# codec + FFT verification probe
# ---------------------------------------------------------------------------

TONE_IDS = 64
TONE_RATE = 16_000
TONE_N_FFT = 256
TONE_FRAMES = 4
TONE_BANDS = 8


def q_audio_tone_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end compressed-audio verification, ORACLED (the audio twin
    of doc_png_features): per doc (doc_id < 64) the query synthesizes a
    pure tone centered in spectral band (doc_id mod 8), compresses it
    through the IMA-ADPCM codec, decodes it back, FFTs the decoded
    signal (multimodal/audio.py::audio_band_energy math), and reports
    which band dominates. ADPCM is lossy (~30 dB SNR) but a 30 dB-down
    error floor cannot move a tone's dominant band, so the DuckDB
    oracle states `dominant_band = doc_id % 8` outright — codec AND FFT
    are both load-bearing in the hash. One Arrow mapInPandas pass."""
    import numpy as np
    import pandas as pd

    from ..multimodal.audio import (
        decode_wav_ima_adpcm,
        encode_wav_ima_adpcm,
    )

    n_bins = TONE_N_FFT // 2 + 1
    edges = [round(i * n_bins / TONE_BANDS) for i in range(TONE_BANDS + 1)]
    d = read_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < TONE_IDS
    ).select("doc_id")

    def work(batches):
        n = TONE_N_FFT * TONE_FRAMES
        t = np.arange(n)
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                band = did % TONE_BANDS
                k = (edges[band] + edges[band + 1]) // 2  # center bin
                sig = (10000 * np.sin(2 * np.pi * k * t / TONE_N_FFT)).astype(
                    "int64"
                )
                dec, _rate = decode_wav_ima_adpcm(
                    encode_wav_ima_adpcm(sig, TONE_RATE)
                )
                frames = dec[:n].reshape(TONE_FRAMES, TONE_N_FFT)
                spec = (np.abs(np.fft.rfft(frames, axis=1)) ** 2).mean(axis=0)
                bands = [
                    float(spec[edges[b] : edges[b + 1]].mean())
                    for b in range(TONE_BANDS)
                ]
                rows.append(
                    {
                        "doc_id": did,
                        "n_samples": int(len(dec)),
                        "dominant_band": int(np.argmax(bands)),
                    }
                )
            yield pd.DataFrame(rows)

    return d.mapInPandas(
        work, "doc_id bigint, n_samples bigint, dominant_band int"
    )


ORACLE_TONE_DETECT = f"""
SELECT doc_id,
       CAST({TONE_N_FFT * TONE_FRAMES} AS BIGINT) AS n_samples,
       CAST(doc_id % {TONE_BANDS} AS INT) AS dominant_band
FROM documents WHERE doc_id < {TONE_IDS}
"""


QUERIES.update(
    {
        "src_schema_evolution": QuerySpec(
            q_schema_evolution,
            ORACLE_SCHEMA_EVOLUTION,
            "additive schema evolution via one mergeSchema scan, per-batch profile",
        ),
        "maint_compact_small_files": QuerySpec(
            q_compact_small_files,
            ORACLE_COMPACT,
            "small-file compaction with self-verified row/content preservation",
        ),
        "evt_user_typicality": QuerySpec(
            q_user_typicality,
            ORACLE_TYPICALITY,
            "cosine typicality of user behavior vs the global type profile",
        ),
        "doc_audio_tone_detect": QuerySpec(
            q_audio_tone_detect,
            ORACLE_TONE_DETECT,
            "ADPCM + FFT tone detection, oracled against the synthesis formula",
        ),
    }
)


# ---------------------------------------------------------------------------
# bucketed co-located join
# ---------------------------------------------------------------------------

BUCKETS = 8


def _bucketed_fixture(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Orders + lineitem saved as BUCKETED tables on the join key (8
    buckets, bucket-sorted). Bucketing is the ahead-of-time half of the
    shuffle bargain: pay one clustering write, then every future join or
    aggregate on the key reads co-located buckets with NO exchange."""
    import shutil

    base = (os.path.basename(sf_dir.rstrip("/")) or "sf").replace(".", "_")
    to_name, tl_name = f"orders_bkt_{base}", f"lineitem_bkt_{base}"
    existing = {t.name for t in spark.catalog.listTables()}
    warehouse = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    for name, src, key in (
        (to_name, "orders.parquet", "o_orderkey"),
        (tl_name, "lineitem.parquet", "l_orderkey"),
    ):
        if name in existing:
            continue
        # the in-memory catalog forgets tables across sessions while the
        # warehouse dir persists — clear the stale location and rebuild
        # (content is deterministic)
        shutil.rmtree(os.path.join(warehouse, name), ignore_errors=True)
        (
            spark.read.parquet(os.path.join(sf_dir, src))
            .write.bucketBy(BUCKETS, key)
            .sortBy(key)
            .mode("overwrite")
            .saveAsTable(name)
        )
    return to_name, tl_name


def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free fact-fact join via bucketing — the co-location
    pattern for the joins too big to broadcast either side: both tables
    are bucketed on the join key, so the SortMergeJoin consumes the
    bucketed scans DIRECTLY (zero Exchange on either input — pinned by
    tests/test_scale_patterns.py::test_bucketed_join_no_exchange). At
    100 TB this converts the dominant repeated-join shuffle into a
    one-time layout cost; the autoBroadcastJoinThreshold is disabled
    for this plan so the small test scale exercises the same
    SortMergeJoin shape production would."""
    to_name, tl_name = _bucketed_fixture(spark, sf_dir)
    o = spark.table(to_name).hint("merge")
    li = spark.table(tl_name).hint("merge")
    j = o.join(li, o.o_orderkey == li.l_orderkey)
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
    )


ORACLE_BUCKETED_JOIN = """
SELECT o.o_orderpriority, count(*) AS n_lines,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# differentially-private-style histogram release
# ---------------------------------------------------------------------------

DP_EPS = 1.0
DP_SALT = "dp-v1"


def q_dp_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace-mechanism histogram release (the privacy layer a shared
    corpus-stats dashboard publishes): per-lang doc counts plus
    Laplace(1/ε) noise, ε=1, via the inverse-CDF transform
    noise = −(1/ε)·sign(u−½)·ln(1−2|u−½|).

    The uniform draw u is NOT an RNG: it's the engine-wide deterministic
    md5 convention on (salt, lang) — so the release is reproducible,
    auditable, and the DuckDB oracle draws the IDENTICAL noise, making
    the mechanism itself hash-verified. (Production DP would use a
    sealed RNG; the mechanism arithmetic — sensitivity-1 counts, the
    Laplace transform — is exactly this.) One aggregate; noise math is
    per-group scalar arithmetic."""
    from ..functions.text import md5_64

    d = read_table(spark, sf_dir, "documents")
    per = d.groupBy("lang").agg(F.count(F.lit(1)).alias("true_count"))
    u = (
        F.pmod(md5_64(F.concat(F.lit(DP_SALT), F.col("lang"))), F.lit(10**9))
        / 1e9
    )
    noise = (
        -(1.0 / DP_EPS)
        * F.signum(u - 0.5)
        * F.log(1 - 2 * F.abs(u - 0.5))
    )
    return per.select(
        "lang",
        "true_count",
        F.round(noise, 6).alias("noise"),
        F.round(F.col("true_count") + noise, 4).alias("released_count"),
    )


ORACLE_DP_HISTOGRAM = f"""
WITH per AS (SELECT lang, count(*) AS true_count FROM documents GROUP BY 1),
n AS (
  SELECT lang, true_count,
         (cast(('0x' || substr(md5('{DP_SALT}' || lang), 1, 15)) AS bigint)
          % 1000000000) / 1e9 AS u
  FROM per
)
SELECT lang, true_count,
       round(-(1.0 / {DP_EPS}) * sign(u - 0.5) * ln(1 - 2 * abs(u - 0.5)), 6)
         AS noise,
       round(true_count
             + (-(1.0 / {DP_EPS}) * sign(u - 0.5) * ln(1 - 2 * abs(u - 0.5))),
             4) AS released_count
FROM n
"""


QUERIES.update(
    {
        "layout_bucketed_join": QuerySpec(
            q_bucketed_join,
            ORACLE_BUCKETED_JOIN,
            "shuffle-free fact-fact join via bucketed tables (zero-Exchange, plan-pinned)",
        ),
        "doc_dp_histogram": QuerySpec(
            q_dp_histogram,
            ORACLE_DP_HISTOGRAM,
            "Laplace-mechanism histogram release with deterministic auditable noise",
        ),
    }
)


# ---------------------------------------------------------------------------
# video demux probe (codec-verified, oracled)
# ---------------------------------------------------------------------------

VIDEO_IDS = 48
VIDEO_H, VIDEO_W = 8, 10
VIDEO_SAMPLES = 3


def q_video_frame_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end video verification, ORACLED (the video twin of the PNG
    and ADPCM contracts): per doc (doc_id < 48) the query synthesizes a
    (4 + doc_id%4)-frame clip with formula pixels, muxes it into a real
    uncompressed AVI (multimodal/video.py), DEMUXES it back (RIFF walk,
    DIB stride/flip/BGR reconstruction), uniform-samples 3 frames, and
    emits their R-channel stats. The container is lossless, so the
    DuckDB oracle states the expected stats straight from the pixel
    formula — a broken stride, row flip, or channel order flips the
    hash. One Arrow mapInPandas pass; 1→3 row fan-out."""
    import numpy as np
    import pandas as pd

    from ..multimodal.video import decode_avi_frames, encode_avi_rgb

    d = read_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < VIDEO_IDS
    ).select("doc_id")

    def work(batches):
        i = np.arange(VIDEO_H).reshape(-1, 1)
        j = np.arange(VIDEO_W).reshape(1, -1)
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                n = 4 + did % 4
                gray = np.stack(
                    [((did + 11 * f + 3 * i + 7 * j) % 256) for f in range(n)]
                ).astype("uint8")
                clip = np.repeat(gray[:, :, :, None], 3, axis=3)
                dec, _fps = decode_avi_frames(encode_avi_rgb(clip))
                for s in range(VIDEO_SAMPLES):
                    idx = s * n // VIDEO_SAMPLES
                    r = dec[idx][:, :, 0].astype("float64")
                    rows.append(
                        {
                            "doc_id": did,
                            "sample": s,
                            "frame_idx": idx,
                            "px_mean": round(float(r.mean()), 6),
                            "px_min": int(r.min()),
                            "px_max": int(r.max()),
                        }
                    )
            yield pd.DataFrame(rows)

    return d.mapInPandas(
        work,
        "doc_id bigint, sample int, frame_idx int, px_mean double,"
        " px_min int, px_max int",
    )


ORACLE_VIDEO_PROBE = f"""
WITH d AS (
  SELECT doc_id, 4 + doc_id % 4 AS n FROM documents
  WHERE doc_id < {VIDEO_IDS}
),
samples AS (
  SELECT d.doc_id, s.s AS sample,
         CAST(s.s * d.n // {VIDEO_SAMPLES} AS INT) AS frame_idx
  FROM d JOIN generate_series(0, {VIDEO_SAMPLES - 1}) AS s(s) ON TRUE
),
px AS (
  SELECT sm.doc_id, sm.sample, sm.frame_idx,
         (sm.doc_id + 11 * sm.frame_idx + 3 * i.i + 7 * j.j) % 256 AS v
  FROM samples sm
  JOIN generate_series(0, {VIDEO_H - 1}) AS i(i) ON TRUE
  JOIN generate_series(0, {VIDEO_W - 1}) AS j(j) ON TRUE
)
SELECT doc_id, sample, frame_idx, round(avg(v), 6) AS px_mean,
       CAST(min(v) AS INT) AS px_min, CAST(max(v) AS INT) AS px_max
FROM px GROUP BY 1, 2, 3
"""


QUERIES["doc_video_frame_probe"] = QuerySpec(
    q_video_frame_probe,
    ORACLE_VIDEO_PROBE,
    "AVI mux/demux + uniform frame sampling, oracled against the pixel formula",
)


MJPEG_IDS = 24
MJPEG_H, MJPEG_W = 16, 24
MJPEG_SAMPLES = 2


def q_mjpeg_frame_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPRESSED-video verification, oracled as a tolerance CONTRACT
    (the lossy sibling of doc_video_frame_probe): per doc (doc_id < 24)
    the query synthesizes a (3 + doc_id%3)-frame grayscale clip from a
    saturating pixel formula, muxes it into a REAL Motion-JPEG AVI
    (fourcc MJPG, per-frame baseline JPEG at q92 / 4:2:0 —
    multimodal/jpeg.py), demuxes + decodes it back, and uniform-samples
    2 frames. Emitted per sample: the EXACT formula mean (computable in
    SQL) plus two booleans from the decoded pixels — mean within 1.0
    and max abs error within 6 of the formula. A broken Huffman table,
    IDCT, upsample, or MCU walk blows the tolerance and flips the hash;
    the metadata columns (frame_idx) pin the container walk exactly.
    One Arrow mapInPandas pass; 1→2 row fan-out."""
    import numpy as np
    import pandas as pd

    from ..multimodal.video import decode_avi_frames, encode_avi_mjpeg

    d = read_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < MJPEG_IDS
    ).select("doc_id")

    def work(batches):
        i = np.arange(MJPEG_H).reshape(-1, 1)
        j = np.arange(MJPEG_W).reshape(1, -1)
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                n = 3 + did % 3
                gray = np.stack(
                    [
                        np.minimum(did + 5 * f + 3 * i + 4 * j, 255)
                        for f in range(n)
                    ]
                ).astype("uint8")
                clip = np.repeat(gray[:, :, :, None], 3, axis=3)
                dec, _fps = decode_avi_frames(
                    encode_avi_mjpeg(clip, quality=92)
                )
                for s in range(MJPEG_SAMPLES):
                    idx = s * n // MJPEG_SAMPLES
                    exp = gray[idx].astype("float64")
                    got = dec[idx][:, :, 0].astype("float64")
                    rows.append(
                        {
                            "doc_id": did,
                            "sample": s,
                            "frame_idx": idx,
                            "px_mean_expected": round(float(exp.mean()), 6),
                            "mean_ok": bool(
                                abs(got.mean() - exp.mean()) <= 1.0
                            ),
                            "max_err_ok": bool(
                                np.abs(got - exp).max() <= 6.0
                            ),
                        }
                    )
            yield pd.DataFrame(rows)

    return d.mapInPandas(
        work,
        "doc_id bigint, sample int, frame_idx int, px_mean_expected double,"
        " mean_ok boolean, max_err_ok boolean",
    )


ORACLE_MJPEG_PROBE = f"""
WITH d AS (
  SELECT doc_id, 3 + doc_id % 3 AS n FROM documents
  WHERE doc_id < {MJPEG_IDS}
),
samples AS (
  SELECT d.doc_id, s.s AS sample,
         CAST(s.s * d.n // {MJPEG_SAMPLES} AS INT) AS frame_idx
  FROM d JOIN generate_series(0, {MJPEG_SAMPLES - 1}) AS s(s) ON TRUE
),
px AS (
  SELECT sm.doc_id, sm.sample, sm.frame_idx,
         least(sm.doc_id + 5 * sm.frame_idx + 3 * i.i + 4 * j.j, 255) AS v
  FROM samples sm
  JOIN generate_series(0, {MJPEG_H - 1}) AS i(i) ON TRUE
  JOIN generate_series(0, {MJPEG_W - 1}) AS j(j) ON TRUE
)
SELECT doc_id, sample, frame_idx, round(avg(v), 6) AS px_mean_expected,
       TRUE AS mean_ok, TRUE AS max_err_ok
FROM px GROUP BY 1, 2, 3
"""


QUERIES["doc_mjpeg_frame_probe"] = QuerySpec(
    q_mjpeg_frame_probe,
    ORACLE_MJPEG_PROBE,
    "Motion-JPEG AVI mux/decode: exact container walk + lossy-codec "
    "tolerance contract against the pixel formula",
)


# ---------------------------------------------------------------------------
# point-in-time training-set assembly
# ---------------------------------------------------------------------------

PIT_SAMPLE_IDS = 100  # bound the verified label set; features use ALL rows


def q_pit_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-store-style point-in-time training-set assembly — the
    ML-ops join that turns event labels into leakage-free examples:
    for every `purchase` label at time t, attach (a) the user's prior
    event count and (b) previous event value from the event stream, and
    (c) the user's last order total from a second feature table — each
    STRICTLY before t (the label row's own timestamp never leaks into
    its features; the as-of probe runs at t − 1 µs).

    Scale shape: (a)/(b) are one user-partitioned window over events;
    (c) pre-reduces orders to one row per (customer, day) with
    `max_by` (making the as-of match deterministic under same-day
    orders) and then uses the engine's union-window as-of join — one
    shuffle keyed by user. No per-label subqueries, no repeated scans
    per feature."""
    from ..operators.asof import asof_join
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    hist = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        "value",
        (F.row_number().over(w) - 1).alias("prior_events"),
        F.lag("value").over(w).alias("prev_value"),
    )
    labels = hist.filter(
        (F.col("event_type") == "purchase")
        & (F.col("user_id") < PIT_SAMPLE_IDS)
    ).select(
        "user_id",
        "ts",
        "event_id",
        "prior_events",
        F.round("prev_value", 6).alias("prev_value"),
        F.expr("ts - INTERVAL 1 MICROSECOND").alias("probe_ts"),
    )
    daily_orders = (
        read_table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").cast("timestamp").alias("ots"),
        )
        .agg(F.max_by("o_totalprice", "o_orderkey").alias("order_price"))
    )
    joined = asof_join(
        labels,
        daily_orders,
        key="user_id",
        left_ts="probe_ts",
        right_ts="ots",
        right_cols=["order_price"],
    )
    return joined.select(
        "user_id",
        F.col("event_id").alias("label_event_id"),
        "prior_events",
        "prev_value",
        F.round("asof_order_price", 2).alias("last_order_price"),
    )


ORACLE_PIT_TRAINING_SET = f"""
WITH hist AS (
  SELECT user_id, ts, event_id, event_type, value,
         row_number() OVER w - 1 AS prior_events,
         lag(value) OVER w AS prev_value
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
labels AS (
  SELECT user_id, ts, event_id, prior_events,
         round(prev_value, 6) AS prev_value
  FROM hist
  WHERE event_type = 'purchase' AND user_id < {PIT_SAMPLE_IDS}
),
daily_orders AS (
  SELECT o_custkey AS user_id, CAST(o_orderdate AS TIMESTAMP) AS ots,
         arg_max(o_totalprice, o_orderkey) AS order_price
  FROM orders GROUP BY 1, 2
)
SELECT l.user_id, l.event_id AS label_event_id, l.prior_events,
       l.prev_value,
       round((SELECT d.order_price FROM daily_orders d
              WHERE d.user_id = l.user_id AND d.ots < l.ts
              ORDER BY d.ots DESC LIMIT 1), 2) AS last_order_price
FROM labels l
"""


QUERIES["ml_pit_training_set"] = QuerySpec(
    q_pit_training_set,
    ORACLE_PIT_TRAINING_SET,
    "leakage-free point-in-time training-set assembly (strict as-of features)",
)


# ---------------------------------------------------------------------------
# media-codec contracts: FLAC (lossless audio), G.711 (telephony audio),
# GIF (palettized images) — each roundtrips synthesized data through the
# clean-room codec and emits integer stats the oracle states directly
# from the generator formula (the PNG/ADPCM contract playbook).
# ---------------------------------------------------------------------------

FLAC_IDS = 120
G711_IDS = 150
GIF_IDS = 100


def q_flac_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOSSLESS-audio verification, oracled: per doc (doc_id < 120) the
    query synthesizes a triangle wave x[i] = |((doc_id+i) % 200) - 100|
    * 20 - 1000 (n = 600 + 50*(doc_id%7) samples), round-trips it
    through the pure-Python FLAC codec (multimodal/flac.py — fixed
    predictors + Rice coding, frame CRCs, STREAMINFO MD5) at blocksize
    256 (multi-frame coverage), and emits integer stats computed from
    the DECODED samples plus a `compressed` flag (stream < half raw
    PCM). FLAC is lossless, so the DuckDB oracle states the stats
    straight from the wave formula — any bit error in rice/fixed/CRC
    paths flips the hash.

    Spark shape: one Arrow mapInPandas pass, embarrassingly parallel;
    the id filter prunes at the scan."""
    import numpy as np
    import pandas as pd

    from ..multimodal.flac import decode_flac, encode_flac

    d = read_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < FLAC_IDS
    ).select("doc_id")

    def work(batches):
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                n = 600 + 50 * (did % 7)
                i = np.arange(n)
                x = (np.abs((did + i) % 200 - 100) * 20 - 1000).astype(np.int16)
                blob = encode_flac(x, 16000, blocksize=256)
                dec, rate = decode_flac(blob)
                rows.append(
                    {
                        "doc_id": did,
                        "n_samples": int(len(dec)),
                        "sum_amp": int(dec.astype(np.int64).sum()),
                        "min_amp": int(dec.min()),
                        "max_amp": int(dec.max()),
                        "lossless": bool(np.array_equal(dec, x)),
                        "compressed": bool(len(blob) < n),  # < half raw PCM
                    }
                )
            yield pd.DataFrame(rows)

    return d.mapInPandas(
        work,
        "doc_id bigint, n_samples bigint, sum_amp bigint, min_amp int,"
        " max_amp int, lossless boolean, compressed boolean",
    )


ORACLE_FLAC_PROBE = f"""
WITH d AS (
  SELECT doc_id, 600 + 50 * (doc_id % 7) AS n FROM documents
  WHERE doc_id < {FLAC_IDS}
),
px AS (
  SELECT d.doc_id, d.n,
         abs((d.doc_id + i.i) % 200 - 100) * 20 - 1000 AS v
  FROM d JOIN generate_series(0, 949) AS i(i) ON i.i < d.n
)
SELECT doc_id, count(*) AS n_samples, CAST(sum(v) AS BIGINT) AS sum_amp,
       CAST(min(v) AS INT) AS min_amp, CAST(max(v) AS INT) AS max_amp,
       TRUE AS lossless, TRUE AS compressed
FROM px GROUP BY doc_id
"""


QUERIES["doc_flac_probe"] = QuerySpec(
    q_flac_probe,
    ORACLE_FLAC_PROBE,
    "FLAC lossless roundtrip: rice/fixed-predictor/CRC paths vs the wave formula",
)


def q_g711_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G.711 μ-law/A-law verification, oracled EXACTLY: per doc
    (doc_id < 150) the query decodes the 256-byte code sequence
    c[i] = (doc_id*31 + i) % 256 (every code byte appears once, rotated
    per doc) with BOTH companding laws (multimodal/audio.py) and emits
    integer sums/extremes of the decoded int16 samples. The oracle
    re-states the ITU decode expansion in closed form in SQL —
    μ-law: u = 255-c; mag = ((u%16)*8+132) * 2^((u//16)%8) - 132;
    A-law: a = xor(c,85); t = (a%16)*16 (+8 / +264 / *2^(seg-1)) —
    so the two engines must agree on every segment/mantissa branch.

    Spark shape: one Arrow mapInPandas pass, no shuffle."""
    import numpy as np
    import pandas as pd

    from ..multimodal.audio import alaw_decode, ulaw_decode

    d = read_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < G711_IDS
    ).select("doc_id")

    def work(batches):
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                codes = ((did * 31 + np.arange(256)) % 256).astype(np.uint8)
                u = ulaw_decode(codes).astype(np.int64)
                a = alaw_decode(codes).astype(np.int64)
                rows.append(
                    {
                        "doc_id": did,
                        "ulaw_sum": int(u.sum()),
                        "ulaw_min": int(u.min()),
                        "ulaw_max": int(u.max()),
                        "alaw_sum": int(a.sum()),
                        "alaw_min": int(a.min()),
                        "alaw_max": int(a.max()),
                    }
                )
            yield pd.DataFrame(rows)

    return d.mapInPandas(
        work,
        "doc_id bigint, ulaw_sum bigint, ulaw_min bigint, ulaw_max bigint,"
        " alaw_sum bigint, alaw_min bigint, alaw_max bigint",
    )


ORACLE_G711_PROBE = f"""
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < {G711_IDS}),
codes AS (
  SELECT d.doc_id, (d.doc_id * 31 + i.i) % 256 AS c
  FROM d JOIN generate_series(0, 255) AS i(i) ON TRUE
),
dec AS (
  SELECT doc_id,
         -- u-law: invert, split segment/mantissa, expand, re-bias
         CASE WHEN (255 - c) >= 128
              THEN -((((255 - c) % 16) * 8 + 132) * (1 << (((255 - c) // 16) % 8)) - 132)
              ELSE  ((((255 - c) % 16) * 8 + 132) * (1 << (((255 - c) // 16) % 8)) - 132)
         END AS u_val,
         -- A-law: xor 0x55, segment-expand, sign (0x80 set = positive)
         CASE WHEN xor(c, 85) >= 128 THEN 1 ELSE -1 END *
         CASE ((xor(c, 85) // 16) % 8)
              WHEN 0 THEN (xor(c, 85) % 16) * 16 + 8
              WHEN 1 THEN (xor(c, 85) % 16) * 16 + 264
              ELSE ((xor(c, 85) % 16) * 16 + 264)
                   * (1 << (((xor(c, 85) // 16) % 8) - 1))
         END AS a_val
  FROM codes
)
SELECT doc_id, CAST(sum(u_val) AS BIGINT) AS ulaw_sum,
       min(u_val) AS ulaw_min, max(u_val) AS ulaw_max,
       CAST(sum(a_val) AS BIGINT) AS alaw_sum,
       min(a_val) AS alaw_min, max(a_val) AS alaw_max
FROM dec GROUP BY doc_id
"""


QUERIES["doc_g711_probe"] = QuerySpec(
    q_g711_probe,
    ORACLE_G711_PROBE,
    "G.711 u-law/A-law decode vs the ITU expansion restated in SQL",
)


def q_gif_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GIF/LZW verification, oracled: per doc (doc_id < 100) the query
    builds a palette image (idx[i,j] = (doc_id+5i+3j) % ncolors with a
    doc-derived RGB palette), round-trips it through the pure-Python
    GIF codec (multimodal/gif.py — variable-width LSB-first LZW), and
    emits per-channel pixel sums from the DECODED RGB. GIF is lossless,
    so the oracle states the sums from the index+palette formulas; a
    width-bump or dictionary-reset bug in LZW scrambles the indices and
    flips the hash.

    Spark shape: one Arrow mapInPandas pass, no shuffle."""
    import numpy as np
    import pandas as pd

    from ..multimodal.gif import decode_gif_rgb, encode_gif

    d = read_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < GIF_IDS
    ).select("doc_id")

    def work(batches):
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                nc = 4 + did % 13
                h, w = 9 + did % 6, 11 + did % 7
                i = np.arange(h).reshape(-1, 1)
                j = np.arange(w).reshape(1, -1)
                idx = ((did + 5 * i + 3 * j) % nc).astype(np.uint8)
                k = np.arange(nc)
                pal = np.stack(
                    [(k * 37 + did) % 256, (k * 59 + 1) % 256, (k * 83 + 7) % 256],
                    axis=1,
                ).astype(np.uint8)
                rgb = decode_gif_rgb(encode_gif(idx, pal)).astype(np.int64)
                rows.append(
                    {
                        "doc_id": did,
                        "width": w,
                        "height": h,
                        "sum_r": int(rgb[:, :, 0].sum()),
                        "sum_g": int(rgb[:, :, 1].sum()),
                        "sum_b": int(rgb[:, :, 2].sum()),
                    }
                )
            yield pd.DataFrame(rows)

    return d.mapInPandas(
        work,
        "doc_id bigint, width int, height int,"
        " sum_r bigint, sum_g bigint, sum_b bigint",
    )


ORACLE_GIF_PROBE = f"""
WITH d AS (
  SELECT doc_id, 4 + doc_id % 13 AS nc, 9 + doc_id % 6 AS h,
         11 + doc_id % 7 AS w
  FROM documents WHERE doc_id < {GIF_IDS}
),
px AS (
  SELECT d.doc_id, d.w, d.h,
         (d.doc_id + 5 * i.i + 3 * j.j) % d.nc AS k
  FROM d
  JOIN generate_series(0, 14) AS i(i) ON i.i < d.h
  JOIN generate_series(0, 17) AS j(j) ON j.j < d.w
)
SELECT doc_id, CAST(max(w) AS INT) AS width, CAST(max(h) AS INT) AS height,
       CAST(sum((k * 37 + doc_id) % 256) AS BIGINT) AS sum_r,
       CAST(sum((k * 59 + 1) % 256) AS BIGINT) AS sum_g,
       CAST(sum((k * 83 + 7) % 256) AS BIGINT) AS sum_b
FROM px GROUP BY doc_id
"""


QUERIES["doc_gif_probe"] = QuerySpec(
    q_gif_probe,
    ORACLE_GIF_PROBE,
    "GIF/LZW lossless roundtrip vs the index+palette formulas",
)


MEDIA_META_IDS = 180


def q_media_meta_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transform-coded-media TRIAGE, oracled: full decode of mp3/opus
    is a documented stub (multimodal/audio.py; h264 decode is real in
    h264.py for IDR I-frames only), but a
    100 TB crawl is triaged on header metadata — duration, bitrate,
    sample rate, resolution — which IS fully parseable. Per doc
    (doc_id < 180) this synthesizes a conformant stream of the kind
    doc_id%5 picks (mp3 frame chain / Ogg page chain / H.264 Annex-B
    SPS+IDR NALs / MP4 box tree / WebP VP8·VP8L·VP8X headers) with
    formula-derived parameters, then runs the REAL production probe
    (multimodal/mediameta.py::media_meta_probe — sync walk, ID3 skip,
    Ogg lacing, Exp-Golomb SPS parse incl. cropping, ISO-BMFF box walk,
    WebP chunk walk).
    The oracle states every output column from the generator formulas,
    so a table/offset/bit error in any parser flips the hash.

    Spark shape: two chained narrow Arrow passes (synthesize → probe),
    no shuffle, embarrassingly parallel."""
    import pandas as pd

    from ..multimodal.mediameta import (
        build_mp3_stream,
        build_mp4,
        build_ogg_stream,
        build_sps,
        build_webp,
        media_meta_probe,
    )

    d = read_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < MEDIA_META_IDS
    ).select("doc_id")

    def synthesize(batches):
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                kind = ["mp3", "ogg", "h264", "mp4", "webp"][did % 5]
                if kind == "mp3":
                    n = 5 + did % 7
                    blob = build_mp3_stream([1 + (did + i) % 14 for i in range(n)])
                elif kind == "ogg":
                    n = 3 + did % 5
                    step = 9600 * (1 + did % 4)
                    blob = build_ogg_stream(did, [(i + 1) * step for i in range(n)])
                elif kind == "h264":
                    w = 320 + 2 * (did % 341)
                    h = 240 + 2 * (did % 241)
                    blob = build_sps(w, h) + b"\x00\x00\x01\x65\xaa" * (did % 4)
                elif kind == "mp4":
                    w = 160 * (1 + did % 12)
                    h = 90 * (1 + did % 12)
                    blob = build_mp4(w, h, round((did % 600) / 10.0, 6),
                                     n_tracks=1 + did % 3)
                else:
                    w = 16 + did % 1000
                    h = 16 + did % 700
                    blob = build_webp(w, h,
                                      ["vp8", "vp8l", "vp8x"][did % 3])
                rows.append({"doc_id": did, "blob": blob, "kind": kind})
            yield pd.DataFrame(rows)

    blobs = d.mapInPandas(synthesize, "doc_id bigint, blob binary, kind string")
    return media_meta_probe(blobs, "doc_id", "blob", "kind").withColumnRenamed(
        "id", "doc_id"
    )


ORACLE_MEDIA_META = f"""
WITH d AS (
  SELECT doc_id,
         CASE doc_id % 5 WHEN 0 THEN 'mp3' WHEN 1 THEN 'ogg'
              WHEN 2 THEN 'h264' WHEN 3 THEN 'mp4'
              ELSE 'webp' END AS kind
  FROM documents WHERE doc_id < {MEDIA_META_IDS}
)
SELECT doc_id, kind, TRUE AS ok,
       CASE kind WHEN 'mp3' THEN 5 + doc_id % 7
                 WHEN 'ogg' THEN 3 + doc_id % 5
                 WHEN 'h264' THEN 1 + doc_id % 4
                 WHEN 'mp4' THEN 1 + doc_id % 3
                 ELSE 1 END AS n_units,
       CASE kind
            WHEN 'mp3' THEN round((5 + doc_id % 7) * 1152 / 44100.0, 6)
            WHEN 'ogg' THEN round((3 + doc_id % 5) * 9600
                                  * (1 + doc_id % 4) / 48000.0, 6)
            WHEN 'mp4' THEN round((doc_id % 600) / 10.0, 6)
            ELSE 0.0 END AS duration_s,
       CAST(CASE kind WHEN 'mp3' THEN 44100 WHEN 'ogg' THEN 48000
                 ELSE 0 END AS INT) AS rate,
       CAST(CASE kind WHEN 'h264' THEN 320 + 2 * (doc_id % 341)
                 WHEN 'mp4' THEN 160 * (1 + doc_id % 12)
                 WHEN 'webp' THEN 16 + doc_id % 1000
                 ELSE 0 END AS INT) AS width,
       CAST(CASE kind WHEN 'h264' THEN 240 + 2 * (doc_id % 241)
                 WHEN 'mp4' THEN 90 * (1 + doc_id % 12)
                 WHEN 'webp' THEN 16 + doc_id % 700
                 ELSE 0 END AS INT) AS height
FROM d
"""


QUERIES["doc_media_meta_probe"] = QuerySpec(
    q_media_meta_probe,
    ORACLE_MEDIA_META,
    "mp3/Ogg/H.264 header-metadata triage vs generator formulas",
)


MM_INGEST_IDS = 150


def q_multimodal_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END mixed-media ingest: per doc (doc_id < 150) synthesize
    a blob whose FORMAT rotates with doc_id%7 (PCM WAV tone / FLAC /
    GIF / PNG / MP4 / raw mp3 chain / H.264 I-frame elementary
    stream), then dispatch on the CONTENT —
    `sniff_mime` (multimodal/blobs.py) is the router, so a magic-table
    bug sends the blob to the wrong decoder and breaks the row — and
    decode with the real codec for that family. Emitted per doc:
    detected mime, unit count (samples / frames), exact integer
    amplitude or pixel sums for the lossless paths, resolution, and
    duration. The oracle states every column from the generator
    formulas.

    Spark shape: synth (Arrow pass) → codegen'd sniff projection →
    decode (Arrow pass); zero shuffles, scales by input splits."""
    import numpy as np
    import pandas as pd

    from ..multimodal.audio import decode_audio, encode_wav
    from ..multimodal.blobs import sniff_mime
    from ..multimodal.codecs import decode_png, encode_png
    from ..multimodal.flac import encode_flac
    from ..multimodal.gif import decode_gif_rgb, encode_gif
    from ..multimodal.h264 import decode_iframe, encode_iframe
    from ..multimodal.mediameta import (
        build_mp3_stream,
        build_mp4,
        mp3_probe,
        mp4_probe,
    )

    d = read_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < MM_INGEST_IDS
    ).select("doc_id")

    def synth(batches):
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                kind = did % 7
                if kind == 0:
                    i = np.arange(400)
                    x = ((did * 7 + i * 11) % 2001 - 1000).astype(np.int16)
                    blob = encode_wav(x, 8000)
                elif kind == 1:
                    i = np.arange(500)
                    x = ((did * 7 + i * 11) % 2001 - 1000).astype(np.int16)
                    blob = encode_flac(x, 16000)
                elif kind == 2:
                    nc = 4 + did % 9
                    h, w = 7 + did % 5, 9 + did % 6
                    i = np.arange(h).reshape(-1, 1)
                    j = np.arange(w).reshape(1, -1)
                    idx = ((did + i + j) % nc).astype(np.uint8)
                    k = np.arange(nc)
                    pal = np.stack(
                        [(k * 31 + did) % 256, k, k], axis=1
                    ).astype(np.uint8)
                    blob = encode_gif(idx, pal)
                elif kind == 3:
                    h, w = 5 + did % 4, 6 + did % 5
                    i = np.arange(h).reshape(-1, 1)
                    j = np.arange(w).reshape(1, -1)
                    gray = ((did + 2 * i + 5 * j) % 256).astype(np.uint8)
                    blob = encode_png(np.repeat(gray[:, :, None], 3, axis=2))
                elif kind == 4:
                    blob = build_mp4(
                        320 + 16 * (did % 20), 180 + 16 * (did % 20),
                        round((did % 100) / 4.0, 6),
                    )
                elif kind == 5:
                    blob = build_mp3_stream([1 + did % 14] * (4 + did % 5))
                else:
                    # flat 128 luma: the ONLY provably quant-exact flat
                    # value (DC prediction starts at 128, so residuals
                    # are zero everywhere) -> px_sum is an exact formula;
                    # pixel-level CAVLC stress lives in tests/test_h264.py
                    fh, fw = 16 * (1 + did % 2), 16 * (1 + did % 3)
                    blob = encode_iframe(
                        np.full((fh, fw), 128, np.uint8), qp=20
                    )
                rows.append({"doc_id": did, "blob": blob})
            yield pd.DataFrame(rows)

    blobs = d.mapInPandas(synth, "doc_id bigint, blob binary").withColumn(
        "mime", sniff_mime("blob")
    )

    def ingest(batches):
        for pdf in batches:
            rows = []
            for did, blob, mime in zip(pdf["doc_id"], pdf["blob"], pdf["mime"]):
                did, raw = int(did), bytes(blob)
                row = {"doc_id": did, "mime": mime, "n_units": 0,
                       "amp_sum": 0, "width": 0, "height": 0,
                       "px_sum": 0, "duration_s": 0.0}
                if mime in ("audio/wav", "audio/flac"):
                    samples, rate = decode_audio(raw)
                    row["n_units"] = len(samples)
                    row["amp_sum"] = int(round(float(samples.sum()) * 32768))
                    row["duration_s"] = round(len(samples) / rate, 6)
                elif mime == "image/gif":
                    rgb = decode_gif_rgb(raw).astype(np.int64)
                    row["height"], row["width"] = rgb.shape[0], rgb.shape[1]
                    row["n_units"] = 1
                    row["px_sum"] = int(rgb[:, :, 0].sum())
                elif mime == "image/png":
                    arr = decode_png(raw).astype(np.int64)
                    row["height"], row["width"] = arr.shape[0], arr.shape[1]
                    row["n_units"] = 1
                    row["px_sum"] = int(arr[:, :, 0].sum())
                elif mime == "video/mp4":
                    p = mp4_probe(raw)
                    row["n_units"] = p["n_tracks"]
                    row["width"], row["height"] = p["width"], p["height"]
                    row["duration_s"] = p["duration_s"]
                elif mime == "audio/mpeg":
                    p = mp3_probe(raw)
                    row["n_units"] = p["n_frames"]
                    row["duration_s"] = p["duration_s"]
                elif mime == "video/h264":
                    v = decode_iframe(raw)
                    row["n_units"] = v["n_mbs"]
                    row["width"], row["height"] = v["width"], v["height"]
                    row["px_sum"] = int(v["luma"].astype(np.int64).sum())
                rows.append(row)
            yield pd.DataFrame(rows)

    return blobs.mapInPandas(
        ingest,
        "doc_id bigint, mime string, n_units bigint, amp_sum bigint,"
        " width int, height int, px_sum bigint, duration_s double",
    )


ORACLE_MULTIMODAL_INGEST = f"""
WITH d AS (
  SELECT doc_id, doc_id % 7 AS kind FROM documents
  WHERE doc_id < {MM_INGEST_IDS}
),
audio AS (
  SELECT d.doc_id,
         CAST(sum((d.doc_id * 7 + i.i * 11) % 2001 - 1000) AS BIGINT) AS s
  FROM d JOIN generate_series(0, 499) AS i(i)
    ON i.i < CASE d.kind WHEN 0 THEN 400 ELSE 500 END
  WHERE d.kind IN (0, 1) GROUP BY d.doc_id
),
gifpx AS (
  SELECT d.doc_id,
         CAST(sum((((d.doc_id + i.i + j.j) % (4 + d.doc_id % 9)) * 31
                   + d.doc_id) % 256) AS BIGINT) AS s
  FROM d
  JOIN generate_series(0, 11) AS i(i) ON i.i < 7 + d.doc_id % 5
  JOIN generate_series(0, 14) AS j(j) ON j.j < 9 + d.doc_id % 6
  WHERE d.kind = 2 GROUP BY d.doc_id
),
pngpx AS (
  SELECT d.doc_id,
         CAST(sum((d.doc_id + 2 * i.i + 5 * j.j) % 256) AS BIGINT) AS s
  FROM d
  JOIN generate_series(0, 8) AS i(i) ON i.i < 5 + d.doc_id % 4
  JOIN generate_series(0, 10) AS j(j) ON j.j < 6 + d.doc_id % 5
  WHERE d.kind = 3 GROUP BY d.doc_id
)
SELECT d.doc_id,
       CASE d.kind WHEN 0 THEN 'audio/wav' WHEN 1 THEN 'audio/flac'
            WHEN 2 THEN 'image/gif' WHEN 3 THEN 'image/png'
            WHEN 4 THEN 'video/mp4' WHEN 5 THEN 'audio/mpeg'
            ELSE 'video/h264' END AS mime,
       CAST(CASE d.kind WHEN 0 THEN 400 WHEN 1 THEN 500
            WHEN 4 THEN 1 WHEN 5 THEN 4 + d.doc_id % 5
            WHEN 6 THEN (1 + d.doc_id % 2) * (1 + d.doc_id % 3)
            ELSE 1 END AS BIGINT) AS n_units,
       coalesce(a.s, 0) AS amp_sum,
       CAST(CASE d.kind WHEN 2 THEN 9 + d.doc_id % 6
            WHEN 3 THEN 6 + d.doc_id % 5
            WHEN 4 THEN 320 + 16 * (d.doc_id % 20)
            WHEN 6 THEN 16 * (1 + d.doc_id % 3) ELSE 0 END AS INT)
         AS width,
       CAST(CASE d.kind WHEN 2 THEN 7 + d.doc_id % 5
            WHEN 3 THEN 5 + d.doc_id % 4
            WHEN 4 THEN 180 + 16 * (d.doc_id % 20)
            WHEN 6 THEN 16 * (1 + d.doc_id % 2) ELSE 0 END AS INT)
         AS height,
       CASE WHEN d.kind = 6
            THEN CAST(128 * 16 * (1 + d.doc_id % 3)
                      * 16 * (1 + d.doc_id % 2) AS BIGINT)
            ELSE coalesce(g.s, p.s, 0) END AS px_sum,
       CASE d.kind WHEN 0 THEN 0.05 WHEN 1 THEN 0.03125
            WHEN 4 THEN round((d.doc_id % 100) / 4.0, 6)
            WHEN 5 THEN round((4 + d.doc_id % 5) * 1152 / 44100.0, 6)
            ELSE 0.0 END AS duration_s
FROM d
LEFT JOIN audio a USING (doc_id)
LEFT JOIN gifpx g USING (doc_id)
LEFT JOIN pngpx p USING (doc_id)
"""


QUERIES["doc_multimodal_ingest"] = QuerySpec(
    q_multimodal_ingest,
    ORACLE_MULTIMODAL_INGEST,
    "mixed-media ingest: sniff-routed decode across 6 formats vs generator formulas",
)


GIF_ANIM_IDS = 100


def q_gif_anim_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Animated-GIF contract, oracled: per doc (doc_id < 100) build a
    3-frame GIF89a animation with formula-derived content — frame 1
    fills the canvas (idx=(did+5i+3j)%nc), frame 2 draws a solid
    sub-rect with DISPOSAL 3 (restore-to-previous), frame 3 draws a
    patterned sub-rect with a TRANSPARENT index over the restored
    canvas — then round-trip through the pure-Python codec
    (multimodal/gif.py::encode_gif_animation / decode_gif_frames) and
    emit loop count, total duration and per-channel pixel sums of the
    COMPOSED frame-2 and frame-3 canvases. The oracle restates the
    composition arithmetic cell-by-cell in SQL, so an off-by-one in the
    sub-rect placement, a wrong disposal order, or a transparency mask
    bug flips the hash.

    Spark shape: one Arrow mapInPandas pass, no shuffle."""
    import numpy as np
    import pandas as pd

    from ..multimodal.gif import decode_gif_frames, encode_gif_animation

    d = read_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < GIF_ANIM_IDS
    ).select("doc_id")

    def work(batches):
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                nc = 4 + did % 13
                h, w = 9 + did % 6, 11 + did % 7
                i = np.arange(h).reshape(-1, 1)
                j = np.arange(w).reshape(1, -1)
                f1 = ((did + 5 * i + 3 * j) % nc).astype(np.uint8)
                t2, l2 = did % 4, did % 5
                ph2, pw2 = 3 + did % 3, 4 + did % 3
                f2 = np.full((ph2, pw2), did % nc, np.uint8)
                t3, l3 = 1 + did % 3, 2 + did % 4
                ph3, pw3 = 2 + did % 4, 3 + did % 4
                li = np.arange(ph3).reshape(-1, 1)
                lj = np.arange(pw3).reshape(1, -1)
                f3 = ((li + lj + did) % nc).astype(np.uint8)
                ti = (did + 1) % nc
                k = np.arange(nc)
                pal = np.stack(
                    [(k * 37 + did) % 256, (k * 59 + 1) % 256,
                     (k * 83 + 7) % 256],
                    axis=1,
                ).astype(np.uint8)
                blob = encode_gif_animation(
                    [f1, f2, f3], pal,
                    delays_cs=[5 + did % 7, 10, 3],
                    disposals=[1, 3, 1],
                    offsets=[(0, 0), (t2, l2), (t3, l3)],
                    transparents=[None, None, ti],
                    loop=did % 4,
                    screen=(w, h),
                )
                out = decode_gif_frames(blob)
                c2 = out["frames"][1]["rgb"].astype(np.int64)
                c3 = out["frames"][2]["rgb"].astype(np.int64)
                rows.append({
                    "doc_id": did,
                    "n_frames": len(out["frames"]),
                    "loop": out["loop"],
                    "duration_cs": sum(f["delay_cs"] for f in out["frames"]),
                    "f2_sum_r": int(c2[:, :, 0].sum()),
                    "f2_sum_g": int(c2[:, :, 1].sum()),
                    "f2_sum_b": int(c2[:, :, 2].sum()),
                    "f3_sum_r": int(c3[:, :, 0].sum()),
                    "f3_sum_g": int(c3[:, :, 1].sum()),
                    "f3_sum_b": int(c3[:, :, 2].sum()),
                })
            yield pd.DataFrame(rows)

    return d.mapInPandas(
        work,
        "doc_id bigint, n_frames int, loop int, duration_cs bigint,"
        " f2_sum_r bigint, f2_sum_g bigint, f2_sum_b bigint,"
        " f3_sum_r bigint, f3_sum_g bigint, f3_sum_b bigint",
    )


ORACLE_GIF_ANIM = f"""
WITH d AS (
  SELECT doc_id, 4 + doc_id % 13 AS nc, 9 + doc_id % 6 AS h,
         11 + doc_id % 7 AS w,
         doc_id % 4 AS t2, doc_id % 5 AS l2,
         3 + doc_id % 3 AS ph2, 4 + doc_id % 3 AS pw2,
         1 + doc_id % 3 AS t3, 2 + doc_id % 4 AS l3,
         2 + doc_id % 4 AS ph3, 3 + doc_id % 4 AS pw3
  FROM documents WHERE doc_id < {GIF_ANIM_IDS}
),
px AS (
  SELECT d.*, i.i, j.j,
         (d.doc_id + 5 * i.i + 3 * j.j) % d.nc AS k1,
         (i.i - d.t3 + j.j - d.l3 + d.doc_id) % d.nc AS k3
  FROM d
  JOIN generate_series(0, 14) AS i(i) ON i.i < d.h
  JOIN generate_series(0, 17) AS j(j) ON j.j < d.w
),
cells AS (
  SELECT doc_id, nc,
         CASE WHEN i BETWEEN t2 AND t2 + ph2 - 1
               AND j BETWEEN l2 AND l2 + pw2 - 1
              THEN doc_id % nc ELSE k1 END AS kf2,
         CASE WHEN i BETWEEN t3 AND t3 + ph3 - 1
               AND j BETWEEN l3 AND l3 + pw3 - 1
               AND k3 != (doc_id + 1) % nc
              THEN k3 ELSE k1 END AS kf3
  FROM px
)
SELECT doc_id,
       CAST(3 AS INT) AS n_frames,
       CAST(doc_id % 4 AS INT) AS loop,
       CAST(18 + doc_id % 7 AS BIGINT) AS duration_cs,
       CAST(sum((kf2 * 37 + doc_id) % 256) AS BIGINT) AS f2_sum_r,
       CAST(sum((kf2 * 59 + 1) % 256) AS BIGINT) AS f2_sum_g,
       CAST(sum((kf2 * 83 + 7) % 256) AS BIGINT) AS f2_sum_b,
       CAST(sum((kf3 * 37 + doc_id) % 256) AS BIGINT) AS f3_sum_r,
       CAST(sum((kf3 * 59 + 1) % 256) AS BIGINT) AS f3_sum_g,
       CAST(sum((kf3 * 83 + 7) % 256) AS BIGINT) AS f3_sum_b
FROM cells GROUP BY doc_id, nc
"""


QUERIES["doc_gif_anim_probe"] = QuerySpec(
    q_gif_anim_probe,
    ORACLE_GIF_ANIM,
    "animated GIF disposal-3 + transparency composition vs cell-formula oracle",
)


# ---------------------------------------------------------------------------
# image perceptual near-dup (pHash + Hamming band-join)
# ---------------------------------------------------------------------------

def phash_image_map(batches):
    """mapInPandas worker shared by doc_image_neardup and the streaming
    image gate: doc_id -> formula image -> REAL GIF/LZW round-trip ->
    integer-exact 64-bit pHash. Stateless, so it is streaming-safe."""
    import numpy as np
    import pandas as pd

    from ..dedup.phash import dhash64, phash64
    from ..multimodal.gif import decode_gif_rgb, encode_gif

    pal = np.stack([np.arange(256)] * 3, axis=1).astype(np.uint8)
    for pdf in batches:
        rows = []
        for did in pdf["doc_id"]:
            did = int(did)
            base, r = did // 3, did % 3
            # reduce mod 1000003 BEFORE the Knuth multiply: same value
            # (congruence), but the product stays < 2^63 so the DuckDB
            # oracle's BIGINT replay never diverges at extreme doc_id
            seed = ((base % 1000003) * 2654435761) % 1000003
            fi, fj = 3 + seed % 5, 2 + seed % 7
            k, k2 = 1 + seed % 3, 1 + (seed // 7) % 7
            i = np.arange(64).reshape(-1, 1)
            j = np.arange(64).reshape(1, -1)
            v = (
                seed % 251 + (i * fi) // 4 * 16 + (j * fj) // 4 * 8
                + (i * j * k) // 32 * 4 + (i * i * k2) // 64 * 4
            ) % 256
            tile = (i // 8) * 8 + (j // 8)
            v = np.where(tile == seed % 64, (v + 6 * r) % 256, v)
            rgb = decode_gif_rgb(encode_gif(v.astype(np.uint8), pal))
            rows.append(
                {
                    "doc_id": did,
                    "phash": phash64(rgb[:, :, 0]),
                    "dhash": dhash64(rgb[:, :, 0]),
                }
            )
        yield pd.DataFrame(rows)


def phash_bits_cte() -> str:
    """Shared oracle CTE chain: documents -> per-doc 64 pHash bits
    (d/px/m/coef/thr/bits), the formulas `phash_image_map` replays."""
    from ..dedup.phash import dct_table_sql

    return f"""d AS (
  SELECT doc_id, (((doc_id // 3) % 1000003) * 2654435761) % 1000003 AS seed,
         doc_id % 3 AS r
  FROM documents
),
px AS (
  SELECT d.doc_id, i.i AS i, j.j AS j,
         (d.seed % 251 + ((i.i * (3 + d.seed % 5)) // 4) * 16
          + ((j.j * (2 + d.seed % 7)) // 4) * 8
          + ((i.i * j.j * (1 + d.seed % 3)) // 32) * 4
          + ((i.i * i.i * (1 + (d.seed // 7) % 7)) // 64) * 4
          + CASE WHEN (i.i // 8) * 8 + (j.j // 8) = d.seed % 64
                 THEN 6 * d.r ELSE 0 END) % 256 AS v
  FROM d, generate_series(0, 63) AS i(i), generate_series(0, 63) AS j(j)
),
m AS (
  SELECT doc_id, i // 2 AS x, j // 2 AS y,
         CAST(sum(v) // 4 AS BIGINT) AS m
  FROM px GROUP BY doc_id, i // 2, j // 2
),
coef AS (
  SELECT m.doc_id, cu.u AS u, cv.u AS v,
         CAST(sum(m.m * cu.c * cv.c) AS BIGINT) AS coef
  FROM m
  JOIN {dct_table_sql("cu")} ON cu.x = m.x
  JOIN {dct_table_sql("cv")} ON cv.x = m.y
  GROUP BY m.doc_id, cu.u, cv.u
),
thr AS (
  SELECT doc_id, coef AS thr
  FROM (SELECT doc_id, coef,
               row_number() OVER (PARTITION BY doc_id ORDER BY coef) AS rn
        FROM coef)
  WHERE rn = 32
),
bits AS (
  SELECT c.doc_id, c.u, c.v,
         CASE WHEN c.coef > t.thr THEN 1 ELSE 0 END AS b
  FROM coef c JOIN thr t USING (doc_id)
)"""


def q_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAION/DataComp-style perceptual image dedup, fully oracled: per
    doc (the WHOLE documents table — the workload scales with the
    corpus, unlike the fixed-id codec probes; groups of 3 perturbed
    variants via base = doc_id//3) a 64x64 grayscale image
    is synthesized by formula — variants within a group differ only in
    one 8x8 tile — then round-tripped through the REAL GIF/LZW codec
    (multimodal/gif.py, identity gray palette so decoded R == pixel
    value; GIF is lossless, so an LZW width-bump/dictionary bug changes
    the decoded pixels and flips the hash). The decoded image feeds the
    integer-exact 64-bit DCT pHash (dedup/phash.py: 2x2 block mean ->
    fixed-point DCT -> 32nd-smallest threshold), and pairs within
    Hamming <= 3 surface via the 4x16-bit banding equi-join.

    Recall contract: the oracle replays pixel formula + DCT table +
    threshold bit-for-bit and compares ALL pairs brute-force, while the
    Spark side only examines band-sharing candidates — the pigeonhole
    guarantee (hamming <= bands-1 implies a shared band) makes the two
    result sets EQUAL, so the hash match IS the recall=1.0 proof.

    Spark shape / 100 TB: hashing is one narrow Arrow mapInPandas pass
    per blob (embarrassingly parallel, no shuffle); pairing shuffles 4
    16-bit-keyed rows per image (no O(n^2) anywhere)."""
    from ..dedup.phash import phash_near_dup_pairs

    d = read_table(spark, sf_dir, "documents").select("doc_id")
    par = spark.sparkContext.defaultParallelism
    fp = d.repartition(par).mapInPandas(
        phash_image_map, "doc_id bigint, phash bigint, dhash bigint"
    )
    return phash_near_dup_pairs(fp, "doc_id", "phash", max_hamming=3, bands=4)


def _oracle_image_neardup() -> str:
    return f"""
WITH {phash_bits_cte()}
SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
       CAST(sum(CASE WHEN a.b <> b2.b THEN 1 ELSE 0 END) AS INT) AS hamming
FROM bits a
JOIN bits b2 ON a.u = b2.u AND a.v = b2.v AND a.doc_id < b2.doc_id
GROUP BY 1, 2
HAVING sum(CASE WHEN a.b <> b2.b THEN 1 ELSE 0 END) <= 3
"""


QUERIES["doc_image_neardup"] = QuerySpec(
    q_image_neardup,
    _oracle_image_neardup(),
    "perceptual image near-dup: GIF roundtrip -> integer-exact 64-bit "
    "DCT pHash -> Hamming<=3 band-join with pigeonhole-exact recall",
)


def dhash_bits_cte() -> str:
    """dHash oracle CTEs (gq/dbits) — appended AFTER `phash_bits_cte()`
    (they reuse its 32x32 block-mean CTE `m`): 8x8 grid of 4x4 block
    sums, bit r*8+c = grid[r][c] > grid[r][(c+1) mod 8] — exactly
    dedup/phash.py::dhash64."""
    return """gq AS (
  SELECT doc_id, x // 4 AS r, y // 4 AS c, CAST(sum(m) AS BIGINT) AS s
  FROM m GROUP BY doc_id, x // 4, y // 4
),
dbits AS (
  SELECT a.doc_id, a.r, a.c,
         CASE WHEN a.s > b.s THEN 1 ELSE 0 END AS b
  FROM gq a JOIN gq b ON b.doc_id = a.doc_id AND b.r = a.r
                     AND b.c = (a.c + 1) % 8
)"""


def q_image_neardup_hq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-recall composite image near-dup — the production operating
    point the precision/recall ledger (doc_image_dedup_eval) selects:
    pHash Hamming <= 6 candidates via the band-PAIR equi-join
    (dedup/phash.py::banded_pair_candidates — 28 16-bit composite keys,
    pigeonhole-exact recall to Hamming <= 6 WITHOUT the 256-bucket
    O(n^2/256) blowup single 8-bit bands would cost at scale), then
    verified by the integer-exact gradient hash (dHash Hamming <= 2).
    On the planted fixture this lifts recall 0.675 -> 0.958 at
    precision 1.0 (the single-hash frontier tops out at 0.88/0.97 —
    see the eval ledger), because pHash's global DCT bits drift near
    the median under a local edit while dHash's local gradient bits
    move at most 2; conversely globally-similar impostors that leak
    through pHash <= 6 fail the gradient check.

    Spark shape / 100 TB: one Arrow decode+hash pass (both hashes from
    the same decoded frame — no second decode), explode to 28 rows per
    image keyed by 16-bit pairs, equi-join, in-row bit_count filters.
    The secondary hash rides the explode (carry=), so no corpus
    re-join. No O(n^2) anywhere."""
    from ..dedup.phash import banded_pair_candidates

    d = read_table(spark, sf_dir, "documents").select("doc_id")
    par = spark.sparkContext.defaultParallelism
    fp = d.repartition(par).mapInPandas(
        phash_image_map, "doc_id bigint, phash bigint, dhash bigint"
    )
    cand = banded_pair_candidates(
        fp, "doc_id", "phash", max_hamming=6, bands=8, carry=("dhash",)
    )
    return cand.select(
        "doc_a",
        "doc_b",
        F.col("hamming").alias("pham"),
        F.bit_count(F.col("dhash_a").bitwiseXOR(F.col("dhash_b")))
        .cast("int")
        .alias("dham"),
    ).filter(F.col("dham") <= 2)


def _oracle_image_neardup_hq() -> str:
    return f"""
WITH {phash_bits_cte()},
{dhash_bits_cte()},
p AS (
  SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
         CAST(sum(CASE WHEN a.b <> b2.b THEN 1 ELSE 0 END) AS INT) AS pham
  FROM bits a
  JOIN bits b2 ON a.u = b2.u AND a.v = b2.v AND a.doc_id < b2.doc_id
  GROUP BY 1, 2
  HAVING sum(CASE WHEN a.b <> b2.b THEN 1 ELSE 0 END) <= 6
),
dq AS (
  SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
         CAST(sum(CASE WHEN a.b <> b2.b THEN 1 ELSE 0 END) AS INT) AS dham
  FROM dbits a
  JOIN dbits b2 ON a.r = b2.r AND a.c = b2.c AND a.doc_id < b2.doc_id
  GROUP BY 1, 2
  HAVING sum(CASE WHEN a.b <> b2.b THEN 1 ELSE 0 END) <= 2
)
SELECT p.doc_a, p.doc_b, p.pham, dq.dham
FROM p JOIN dq USING (doc_a, doc_b)
"""


QUERIES["doc_image_neardup_hq"] = QuerySpec(
    q_image_neardup_hq,
    _oracle_image_neardup_hq(),
    "high-recall composite image near-dup: pHash<=6 via 16-bit band-"
    "pair join (pigeonhole-exact) verified by gradient-hash<=2",
)


# ---------------------------------------------------------------------------
# audio acoustic-fingerprint near-dup (completes the multimodal dedup triad)
# ---------------------------------------------------------------------------

def afp_audio_map(batches):
    """mapInPandas worker shared by doc_audio_neardup and the streaming
    audio gate: doc_id -> formula PCM -> REAL FLAC round-trip ->
    integer-exact 64-bit fingerprint. Stateless, streaming-safe."""
    import numpy as np
    import pandas as pd

    from ..dedup.audiofp import _COS, audio_fingerprint64
    from ..multimodal.flac import decode_flac, encode_flac

    for pdf in batches:
        rows = []
        for did in pdf["doc_id"]:
            did = int(did)
            base, r = did // 3, did % 3
            # mod-reduced pre-multiply (see phash_image_map): keeps the
            # oracle's int64 replay exact for arbitrarily large doc_id
            seed = ((base % 1000003) * 2654435761) % 1000003
            f = np.arange(16).reshape(-1, 1)
            b = np.arange(8).reshape(1, -1)
            cell = seed + b * 7919 + f * 104729
            h = (cell * cell % 1000003) * 2654435761 % 1000003
            a = 40 + h % 97 + r * ((b * 5 + seed) % 3 - 1)
            n = np.arange(128)
            noise = (n * n * (1 + seed % 5)) % 31
            raw = a @ _COS.T  # (16, 128)
            x = ((raw + (1 << 20)) // 16 - (1 << 16) + noise).astype(
                np.int16
            ).reshape(-1)
            # one 2048-sample frame per clip: FLAC is lossless at ANY
            # blocksize, so the decoded samples — and the fingerprint —
            # are bit-identical to the old blocksize=256 stream while the
            # per-frame codec overhead (headers, CRCs, rice partition
            # planning ×8 frames) drops ~2.2x per doc (7.8→3.5 ms
            # measured). Multi-frame encode/decode stays exercised by
            # doc_flac_probe and tests/test_flac.py.
            blob = encode_flac(x, 16000, blocksize=2048)
            dec, _rate = decode_flac(blob)
            rows.append({"doc_id": did, "afp": audio_fingerprint64(dec)})
        yield pd.DataFrame(rows)


def afp_bits_cte() -> str:
    """Shared oracle CTE chain: documents -> per-doc 64 fingerprint
    bits (d/amp/raw/pcm/er/bits), the formulas `afp_audio_map`
    replays."""
    from ..dedup.audiofp import afp_table_sql

    return f"""d AS (
  SELECT doc_id, (((doc_id // 3) % 1000003) * 2654435761) % 1000003 AS seed,
         doc_id % 3 AS r
  FROM documents
),
amp AS (
  SELECT d.doc_id, f.f, b.b,
         40 + (((d.seed + b.b * 7919 + f.f * 104729)
                * (d.seed + b.b * 7919 + f.f * 104729) % 1000003)
               * 2654435761 % 1000003) % 97
            + d.r * ((b.b * 5 + d.seed) % 3 - 1) AS a
  FROM d, generate_series(0, 15) AS f(f), generate_series(0, 7) AS b(b)
),
raw AS (
  SELECT a.doc_id, a.f, t.n, CAST(sum(a.a * t.c) AS BIGINT) AS s
  FROM amp a JOIN {afp_table_sql("t")} ON t.b = a.b
  GROUP BY a.doc_id, a.f, t.n
),
pcm AS (
  SELECT raw.doc_id, raw.f, raw.n,
         (raw.s + 1048576) // 16 - 65536
         + (raw.n * raw.n * (1 + d.seed % 5)) % 31 AS x
  FROM raw JOIN d ON d.doc_id = raw.doc_id
),
er AS (
  SELECT p.doc_id, p.f, t.b,
         CAST(sum(p.x * t.c) AS BIGINT) AS re,
         CAST(sum(p.x * t.s) AS BIGINT) AS im
  FROM pcm p JOIN {afp_table_sql("t")} ON t.n = p.n
  GROUP BY p.doc_id, p.f, t.b
),
bits AS (
  SELECT e1.doc_id, e1.f, e1.b // 2 AS c,
         CASE WHEN e1.re * e1.re + e1.im * e1.im
                   > e2.re * e2.re + e2.im * e2.im
              THEN 1 ELSE 0 END AS bit
  FROM er e1
  JOIN er e2 ON e2.doc_id = e1.doc_id AND e2.f = e1.f AND e2.b = e1.b + 1
  WHERE e1.b % 2 = 0
)"""


def q_audio_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acoustic-fingerprint near-dup, fully oracled: per doc (the
    WHOLE documents table — corpus-scaled workload; groups of 3
    variants via base = doc_id//3) a 2048-sample PCM clip is
    synthesized from an 8-band amplitude profile (per-frame amplitudes
    formula-derived from base = doc_id//3; the doc_id%3 variants nudge
    band amplitudes by at most +/-2 — a tiny remaster-style change),
    round-tripped through the REAL FLAC codec (multimodal/flac.py —
    lossless, so a rice/fixed-predictor/CRC bug changes the decoded
    samples and flips the fingerprint), then hashed with the
    integer-exact chromaprint-shaped fingerprint (dedup/audiofp.py).
    Pairs within Hamming <= 3 surface via the same 4x16-bit banding
    equi-join the image pass uses (dedup/phash.py).

    Recall contract: the oracle replays PCM formula + Goertzel tables +
    comparison bits exactly and brute-forces ALL pairs; pigeonhole
    makes the banded result EQUAL to it, so the value hash proves
    recall = 1.0.

    Spark shape / 100 TB: decode+fingerprint is one narrow Arrow
    mapInPandas pass per blob; pairing shuffles 4 16-bit-keyed rows
    per clip. No O(n^2) anywhere."""
    from ..dedup.phash import phash_near_dup_pairs

    d = read_table(spark, sf_dir, "documents").select("doc_id")
    par = spark.sparkContext.defaultParallelism
    fp = d.repartition(par).mapInPandas(
        afp_audio_map, "doc_id bigint, afp bigint"
    )
    return phash_near_dup_pairs(fp, "doc_id", "afp", max_hamming=3, bands=4)


def _oracle_audio_neardup() -> str:
    return f"""
WITH {afp_bits_cte()}
SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
       CAST(sum(CASE WHEN a.bit <> b2.bit THEN 1 ELSE 0 END) AS INT) AS hamming
FROM bits a
JOIN bits b2 ON a.f = b2.f AND a.c = b2.c AND a.doc_id < b2.doc_id
GROUP BY 1, 2
HAVING sum(CASE WHEN a.bit <> b2.bit THEN 1 ELSE 0 END) <= 3
"""


QUERIES["doc_audio_neardup"] = QuerySpec(
    q_audio_neardup,
    _oracle_audio_neardup(),
    "acoustic near-dup: FLAC roundtrip -> integer-exact chromaprint-"
    "shaped 64-bit fingerprint -> Hamming<=3 band-join, exact recall",
)


def q_image_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup pairs -> connected components -> one survivor per
    cluster — the LAION-style 'keep one copy per perceptual cluster'
    pass, composing doc_image_neardup's verified pHash pairing with the
    same min-label closure doc_dup_clusters uses for text
    (dedup/clusters.py). Every image gets (cluster_id, cluster_size,
    is_survivor); filtering is_survivor yields the deduplicated set.

    Scale shape: the components frame only holds images that appear in
    some pair (tiny vs the corpus), so both label and size joins
    broadcast; the closure iterates on a pair-sized frame with
    localCheckpoint lineage truncation."""
    from ..dedup.clusters import dup_clusters
    from ..dedup.phash import phash_near_dup_pairs

    d = read_table(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    fp = d.select("doc_id").repartition(par).mapInPandas(
        phash_image_map, "doc_id bigint, phash bigint, dhash bigint"
    )
    pairs = phash_near_dup_pairs(fp, "doc_id", "phash", max_hamming=3, bands=4)
    return dup_clusters(d, pairs, "doc_id")


def _oracle_image_dup_clusters() -> str:
    return f"""
WITH RECURSIVE {phash_bits_cte()},
pairs AS (
  SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b
  FROM bits a
  JOIN bits b2 ON a.u = b2.u AND a.v = b2.v AND a.doc_id < b2.doc_id
  GROUP BY 1, 2
  HAVING sum(CASE WHEN a.b <> b2.b THEN 1 ELSE 0 END) <= 3
),
edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
          UNION SELECT doc_b AS u, doc_a AS v FROM pairs),
reach(node, lbl) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.node
),
cc AS (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node),
labeled AS (SELECT d.doc_id, coalesce(cc.cluster_id, d.doc_id) AS cluster_id
            FROM documents d LEFT JOIN cc ON d.doc_id = cc.node),
sizes AS (SELECT cluster_id, count(*) AS cluster_size
          FROM labeled GROUP BY cluster_id)
SELECT l.doc_id, l.cluster_id, s.cluster_size,
       (l.doc_id = l.cluster_id) AS is_survivor
FROM labeled l JOIN sizes s USING (cluster_id)
"""


QUERIES["doc_image_dup_clusters"] = QuerySpec(
    q_image_dup_clusters,
    _oracle_image_dup_clusters(),
    "perceptual image dup clusters + survivor selection: pHash pairs "
    "-> min-label closure -> one representative per cluster",
)


# the image-dedup operating points the eval ledger scores: (name,
# max pHash hamming, max dHash hamming; 64 = no dHash constraint).
# baseline_h3 is doc_image_neardup's detector; composite_h6_d2 is
# doc_image_neardup_hq's — the frontier point with recall >= 0.9 at
# precision >= 0.95 on the planted truth.
IMG_EVAL_OPS: list[tuple[str, int, int]] = [
    ("baseline_h3", 3, 64),
    ("banded_h6", 6, 64),
    ("composite_h6_d2", 6, 2),
]


def q_image_dedup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine evaluating its own IMAGE dedup (the doc_dedup_eval
    twin for the perceptual modality) as a precision/recall FRONTIER:
    one row per operating point — the legacy single-hash detector
    (pHash<=3, recall-limited), the widened single-hash radius
    (pHash<=6, precision-limited), and the composite detector
    doc_image_neardup_hq ships (pHash<=6 AND dHash<=2) — each scored
    against the PLANTED ground truth (images in the same variant group,
    base = doc_id div 3, are true duplicates by construction). Columns:
    op/tp/fp/fn/precision/recall — the ledger that justifies WHICH
    operating point the production pass uses, not just that one works.
    The oracle replays both hash-bit chains AND group membership, so
    every confusion count is value-hash-checked.

    Scale shape: ONE Arrow decode+hash pass and ONE band-pair candidate
    join (exact for pHash<=6, superset of every scored point) feed all
    rows; truth is an equi-join on the group key; the ops table is a
    3-row broadcast literal; the confusion aggregate is 3 rows."""
    from ..dedup.phash import banded_pair_candidates

    d = read_table(spark, sf_dir, "documents").select("doc_id")
    par = spark.sparkContext.defaultParallelism
    fp = d.repartition(par).mapInPandas(
        phash_image_map, "doc_id bigint, phash bigint, dhash bigint"
    )
    cand = banded_pair_candidates(
        fp, "doc_id", "phash", max_hamming=6, bands=8, carry=("dhash",)
    ).select(
        "doc_a",
        "doc_b",
        F.col("hamming").alias("pham"),
        F.bit_count(F.col("dhash_a").bitwiseXOR(F.col("dhash_b")))
        .cast("int")
        .alias("dham"),
    )
    a = d.select(
        F.col("doc_id").alias("doc_a"),
        F.expr("doc_id div 3").alias("grp"),
    )
    b = d.select(
        F.col("doc_id").alias("doc_b"),
        F.expr("doc_id div 3").alias("grp"),
    )
    truth = (
        a.join(b, "grp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", F.lit(1).alias("t"))
    )
    j = truth.join(cand, ["doc_a", "doc_b"], "full_outer")
    ops = F.array(
        *[
            F.struct(
                F.lit(name).alias("op"),
                F.lit(mp).alias("mp"),
                F.lit(md).alias("md"),
            )
            for name, mp, md in IMG_EVAL_OPS
        ]
    )
    scored = j.select(
        F.col("t").isNotNull().alias("is_t"),
        "pham",
        "dham",
        F.explode(ops).alias("o"),
    ).select(
        "is_t",
        F.col("o.op").alias("op"),
        (
            F.col("pham").isNotNull()
            & (F.col("pham") <= F.col("o.mp"))
            & (F.col("dham") <= F.col("o.md"))
        ).alias("is_p"),
    )
    tp = F.sum(F.when(F.col("is_t") & F.col("is_p"), 1))
    zero = F.lit(0).cast("bigint")
    return scored.groupBy("op").agg(
        F.coalesce(tp, zero).alias("tp"),
        F.coalesce(F.sum(F.when(~F.col("is_t") & F.col("is_p"), 1)), zero)
        .alias("fp"),
        F.coalesce(F.sum(F.when(F.col("is_t") & ~F.col("is_p"), 1)), zero)
        .alias("fn"),
        F.round(tp / F.sum(F.when(F.col("is_p"), 1)), 6).alias("precision"),
        F.round(tp / F.sum(F.when(F.col("is_t"), 1)), 6).alias("recall"),
    )


def _oracle_image_dedup_eval() -> str:
    ops_values = ", ".join(
        f"('{name}', {mp}, {md})" for name, mp, md in IMG_EVAL_OPS
    )
    return f"""
WITH {phash_bits_cte()},
{dhash_bits_cte()},
p AS (
  SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
         CAST(sum(CASE WHEN a.b <> b2.b THEN 1 ELSE 0 END) AS INT) AS pham
  FROM bits a
  JOIN bits b2 ON a.u = b2.u AND a.v = b2.v AND a.doc_id < b2.doc_id
  GROUP BY 1, 2
  HAVING sum(CASE WHEN a.b <> b2.b THEN 1 ELSE 0 END) <= 6
),
dall AS (
  SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
         CAST(sum(CASE WHEN a.b <> b2.b THEN 1 ELSE 0 END) AS INT) AS dham
  FROM dbits a
  JOIN dbits b2 ON a.r = b2.r AND a.c = b2.c AND a.doc_id < b2.doc_id
  GROUP BY 1, 2
),
cand AS (
  SELECT p.doc_a, p.doc_b, p.pham, dall.dham
  FROM p JOIN dall USING (doc_a, doc_b)
),
truth AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM documents a JOIN documents b
    ON a.doc_id // 3 = b.doc_id // 3 AND a.doc_id < b.doc_id
),
j AS (
  SELECT t.doc_a IS NOT NULL AS is_t, c.pham, c.dham
  FROM truth t FULL OUTER JOIN cand c
    ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
),
ops(op, mp, md) AS (VALUES {ops_values}),
scored AS (
  SELECT j.is_t, ops.op,
         (j.pham IS NOT NULL AND j.pham <= ops.mp AND j.dham <= ops.md)
           AS is_p
  FROM j CROSS JOIN ops
)
SELECT op,
       CAST(coalesce(sum(CASE WHEN is_t AND is_p THEN 1 END), 0)
            AS BIGINT) AS tp,
       CAST(coalesce(sum(CASE WHEN NOT is_t AND is_p THEN 1 END), 0)
            AS BIGINT) AS fp,
       CAST(coalesce(sum(CASE WHEN is_t AND NOT is_p THEN 1 END), 0)
            AS BIGINT) AS fn,
       round(sum(CASE WHEN is_t AND is_p THEN 1 END)::DOUBLE
             / sum(CASE WHEN is_p THEN 1 END), 6) AS precision,
       round(sum(CASE WHEN is_t AND is_p THEN 1 END)::DOUBLE
             / sum(CASE WHEN is_t THEN 1 END), 6) AS recall
FROM scored GROUP BY op
"""


QUERIES["doc_image_dedup_eval"] = QuerySpec(
    q_image_dedup_eval,
    _oracle_image_dedup_eval(),
    "image-dedup precision/recall frontier: pHash<=3 / pHash<=6 / "
    "composite pHash<=6+dHash<=2 vs planted truth, exact tp/fp/fn",
)


# ---------------------------------------------------------------------------
# audio dedup family completion: clusters + survivor selection + quality
# ledger (the doc_image_dup_clusters / doc_image_dedup_eval twins)
# ---------------------------------------------------------------------------

def q_audio_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup pairs -> connected components -> one survivor per
    cluster — the acoustic member of the keep-one-per-cluster family
    (text: doc_dup_clusters, image: doc_image_dup_clusters), composing
    doc_audio_neardup's verified fingerprint pairing with the SAME
    min-label closure (dedup/clusters.py). Every clip gets
    (cluster_id, cluster_size, is_survivor); filtering is_survivor
    yields the deduplicated audio corpus.

    Scale shape: identical to the image twin — the components frame
    only holds clips that appear in some pair (tiny vs the corpus), so
    label and size joins broadcast; the closure iterates on a
    pair-sized frame with localCheckpoint lineage truncation."""
    from ..dedup.clusters import dup_clusters
    from ..dedup.phash import phash_near_dup_pairs

    d = read_table(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    fp = d.select("doc_id").repartition(par).mapInPandas(
        afp_audio_map, "doc_id bigint, afp bigint"
    )
    pairs = phash_near_dup_pairs(fp, "doc_id", "afp", max_hamming=3, bands=4)
    return dup_clusters(d, pairs, "doc_id")


def _oracle_audio_dup_clusters() -> str:
    return f"""
WITH RECURSIVE {afp_bits_cte()},
pairs AS (
  SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b
  FROM bits a
  JOIN bits b2 ON a.f = b2.f AND a.c = b2.c AND a.doc_id < b2.doc_id
  GROUP BY 1, 2
  HAVING sum(CASE WHEN a.bit <> b2.bit THEN 1 ELSE 0 END) <= 3
),
edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
          UNION SELECT doc_b AS u, doc_a AS v FROM pairs),
reach(node, lbl) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.node
),
cc AS (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node),
labeled AS (SELECT d.doc_id, coalesce(cc.cluster_id, d.doc_id) AS cluster_id
            FROM documents d LEFT JOIN cc ON d.doc_id = cc.node),
sizes AS (SELECT cluster_id, count(*) AS cluster_size
          FROM labeled GROUP BY cluster_id)
SELECT l.doc_id, l.cluster_id, s.cluster_size,
       (l.doc_id = l.cluster_id) AS is_survivor
FROM labeled l JOIN sizes s USING (cluster_id)
"""


QUERIES["doc_audio_dup_clusters"] = QuerySpec(
    q_audio_dup_clusters,
    _oracle_audio_dup_clusters(),
    "acoustic dup clusters + survivor selection: fingerprint pairs "
    "-> min-label closure -> one representative per cluster",
)


# audio-dedup operating points: (name, max fingerprint hamming). All are
# served by the same 4x16-bit banded candidate set (exact to hamming<=3).
AUD_EVAL_OPS: list[tuple[str, int]] = [
    ("exact_h0", 0),
    ("tight_h2", 2),
    ("production_h3", 3),
]


def q_audio_dedup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine evaluating its own AUDIO dedup (doc_image_dedup_eval's
    acoustic twin): the fingerprint detector scored against the PLANTED
    ground truth (clips in the same variant group, base = doc_id div 3,
    are true duplicates — remaster-style +/-2 band-amplitude nudges)
    at three Hamming radii. One row per operating point:
    op/tp/fp/fn/precision/recall. The production point (hamming<=3)
    demonstrates why no composite second hash is needed for audio —
    the fingerprint already separates the planted truth (precision 1.0)
    — while exact_h0 shows byte-identical matching alone is NOT enough
    (the remaster nudges flip bits), justifying the perceptual pass.
    The oracle replays fingerprint bits AND group membership exactly.

    Scale shape: one Arrow decode+fingerprint pass, one 4x16-bit banded
    candidate join (exact for hamming<=3, superset of all points),
    group-key equi-join truth, 3-row ops literal, 3-row aggregate."""
    from ..dedup.phash import phash_near_dup_pairs

    d = read_table(spark, sf_dir, "documents").select("doc_id")
    par = spark.sparkContext.defaultParallelism
    fp = d.repartition(par).mapInPandas(
        afp_audio_map, "doc_id bigint, afp bigint"
    )
    cand = phash_near_dup_pairs(
        fp, "doc_id", "afp", max_hamming=3, bands=4
    ).withColumnRenamed("hamming", "aham")
    a = d.select(
        F.col("doc_id").alias("doc_a"),
        F.expr("doc_id div 3").alias("grp"),
    )
    b = d.select(
        F.col("doc_id").alias("doc_b"),
        F.expr("doc_id div 3").alias("grp"),
    )
    truth = (
        a.join(b, "grp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", F.lit(1).alias("t"))
    )
    j = truth.join(cand, ["doc_a", "doc_b"], "full_outer")
    ops = F.array(
        *[
            F.struct(F.lit(name).alias("op"), F.lit(mh).alias("mh"))
            for name, mh in AUD_EVAL_OPS
        ]
    )
    scored = j.select(
        F.col("t").isNotNull().alias("is_t"),
        "aham",
        F.explode(ops).alias("o"),
    ).select(
        "is_t",
        F.col("o.op").alias("op"),
        (F.col("aham").isNotNull() & (F.col("aham") <= F.col("o.mh")))
        .alias("is_p"),
    )
    tp = F.sum(F.when(F.col("is_t") & F.col("is_p"), 1))
    zero = F.lit(0).cast("bigint")
    return scored.groupBy("op").agg(
        F.coalesce(tp, zero).alias("tp"),
        F.coalesce(F.sum(F.when(~F.col("is_t") & F.col("is_p"), 1)), zero)
        .alias("fp"),
        F.coalesce(F.sum(F.when(F.col("is_t") & ~F.col("is_p"), 1)), zero)
        .alias("fn"),
        F.round(tp / F.sum(F.when(F.col("is_p"), 1)), 6).alias("precision"),
        F.round(tp / F.sum(F.when(F.col("is_t"), 1)), 6).alias("recall"),
    )


def _oracle_audio_dedup_eval() -> str:
    ops_values = ", ".join(f"('{name}', {mh})" for name, mh in AUD_EVAL_OPS)
    return f"""
WITH {afp_bits_cte()},
cand AS (
  SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
         CAST(sum(CASE WHEN a.bit <> b2.bit THEN 1 ELSE 0 END) AS INT) AS aham
  FROM bits a
  JOIN bits b2 ON a.f = b2.f AND a.c = b2.c AND a.doc_id < b2.doc_id
  GROUP BY 1, 2
  HAVING sum(CASE WHEN a.bit <> b2.bit THEN 1 ELSE 0 END) <= 3
),
truth AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM documents a JOIN documents b
    ON a.doc_id // 3 = b.doc_id // 3 AND a.doc_id < b.doc_id
),
j AS (
  SELECT t.doc_a IS NOT NULL AS is_t, c.aham
  FROM truth t FULL OUTER JOIN cand c
    ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
),
ops(op, mh) AS (VALUES {ops_values}),
scored AS (
  SELECT j.is_t, ops.op,
         (j.aham IS NOT NULL AND j.aham <= ops.mh) AS is_p
  FROM j CROSS JOIN ops
)
SELECT op,
       CAST(coalesce(sum(CASE WHEN is_t AND is_p THEN 1 END), 0)
            AS BIGINT) AS tp,
       CAST(coalesce(sum(CASE WHEN NOT is_t AND is_p THEN 1 END), 0)
            AS BIGINT) AS fp,
       CAST(coalesce(sum(CASE WHEN is_t AND NOT is_p THEN 1 END), 0)
            AS BIGINT) AS fn,
       round(sum(CASE WHEN is_t AND is_p THEN 1 END)::DOUBLE
             / sum(CASE WHEN is_p THEN 1 END), 6) AS precision,
       round(sum(CASE WHEN is_t AND is_p THEN 1 END)::DOUBLE
             / sum(CASE WHEN is_t THEN 1 END), 6) AS recall
FROM scored GROUP BY op
"""


QUERIES["doc_audio_dedup_eval"] = QuerySpec(
    q_audio_dedup_eval,
    _oracle_audio_dedup_eval(),
    "audio-dedup quality ledger: fingerprint detector at 3 Hamming "
    "radii vs planted variant-group truth, exact tp/fp/fn",
)
