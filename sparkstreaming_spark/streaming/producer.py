"""Stream producer: split a bounded table into paced segment files —
the reference's Producer (Producer.scala:7-53) re-specified.

The reference loops on the driver, re-scanning the whole CSV once per
segment with `filter(col("_c0").between(lo, hi))` (string-typed bounds,
off-by-one at the first boundary — SURVEY §3 entry point 2). Here:

1. ONE pass assigns `segment = (row_number - 1) / rows_per_segment`
   over an explicit order column (operators/relational.py::split_segments),
2. ONE partitioned write emits every segment directory
   (sinks/files.py::write_csv_segments),
3. optional pacing renames each finished segment's files into the
   watched directory with a sleep — pacing is an I/O concern, not N
   Spark jobs.

Segments form an exact partition of the input (property-tested), unlike
the reference's duplicated/skipped boundary row.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame

from ..operators.relational import split_segments
from ..sinks.files import write_csv_segments


def produce_segments(
    df: DataFrame,
    order_col: str,
    out_dir: str,
    rows_per_segment: int = 1000,
) -> int:
    """Split + write in one job; returns the number of segments."""
    seg = split_segments(df, order_col, rows_per_segment)
    write_csv_segments(seg, out_dir)
    return sum(
        1 for d in os.listdir(out_dir) if d.startswith("segment=")
    )


def pace_segments(
    staged_dir: str, watch_dir: str, sleep_sec: float = 1.0
) -> int:
    """Move staged segments' CSV files into the consumer-watched directory,
    one segment per `sleep_sec` (the reference's Thread.sleep(1000)
    pacing, Producer.scala:46) — now decoupled from query execution.
    Each file lands by one atomic rename, so a file-stream listing never
    sees a partial CSV; `staged_dir` and `watch_dir` must therefore be on
    the same filesystem."""
    os.makedirs(watch_dir, exist_ok=True)
    segs = sorted(
        (d for d in os.listdir(staged_dir) if d.startswith("segment=")),
        key=lambda d: int(d.split("=")[1]),
    )
    for i, d in enumerate(segs):
        if i:
            time.sleep(sleep_sec)
        for f in os.listdir(os.path.join(staged_dir, d)):
            if f.endswith(".csv"):
                os.replace(
                    os.path.join(staged_dir, d, f),
                    os.path.join(watch_dir, f"{d.replace('=', '_')}_{f}"),
                )
    return len(segs)
