"""Seeded inputs for every workload; the same seed gives the same bytes.

`write_tables` writes the registry's `documents` and `embeddings` tables
with the column names and types of the repository's test tables, drawn
from the marginals that `tools/gen_sf1.py` measured on sf0.1, at 1,000
rows each.
`passengers` draws the reference's airline-passenger rows
(Consumer.scala:22-46) for the KPI stream.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {"documents": 1_000, "embeddings": 1_000}
VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.412, 0.150, 0.149, 0.148, 0.141]


def _documents(rng: np.random.Generator) -> pa.Table:
    n = SIZES["documents"]
    vocab = np.array(VOCAB)
    toks = [list(vocab[rng.integers(0, len(vocab), c)]) for c in rng.integers(8, 105, n)]
    # Near-duplicate clusters (rotations of one 60-token base) and exact
    # duplicate pairs at the sf0.1 rates, so the dedup operators find work.
    for row in rng.choice(n, size=(6 * n // 1000, 10), replace=False):
        base = vocab[rng.integers(0, len(vocab), 60)]
        for j, did in enumerate(row):
            toks[int(did)] = list(np.roll(base, 7 * j))
    for a, b in rng.choice(n, size=(max(1, 8 * n // 5000), 2), replace=False):
        toks[int(b)] = toks[int(a)]
    text = [" ".join(t) for t in toks]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": text,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": np.char.add("src", rng.integers(0, 20, n).astype(str)),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


def _embeddings(rng: np.random.Generator) -> pa.Table:
    n = SIZES["embeddings"]
    e = rng.standard_normal((n, 64)).astype(np.float32)
    e /= np.linalg.norm(e, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(e), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32), pa.int32()),
    })


def write_tables(out_dir: str, seed: int) -> None:
    """Write `documents.parquet` and `embeddings.parquet`."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    pq.write_table(_documents(rng), os.path.join(out_dir, "documents.parquet"))
    pq.write_table(_embeddings(rng), os.path.join(out_dir, "embeddings.parquet"))


# The reference's 24-column passenger schema (Consumer.scala:22-46).
RATINGS = [
    "Inflight wifi service", "Departure/Arrival time convenient",
    "Ease of Online booking", "Gate location", "Food and drink",
    "Online boarding", "Seat comfort", "Inflight entertainment",
    "On-board service", "Leg room service", "Baggage handling",
    "Checkin service", "Inflight service", "Cleanliness",
]
PASSENGER_DDL = ", ".join(
    ["id INT", "Gender STRING", "`Customer Type` STRING", "Age INT",
     "`Type of Travel` STRING", "Class STRING", "`Flight Distance` INT"]
    + [f"`{c}` INT" for c in RATINGS]
    + ["`Departure Delay in Minutes` INT", "`Arrival Delay in Minutes` DOUBLE",
       "satisfaction STRING"]
)


def passengers(n: int, seed: int) -> pa.Table:
    """`n` passenger rows with ids 0 .. n-1, columns in schema order."""
    rng = np.random.default_rng(seed)
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32), pa.int32())  # noqa: E731
    cols = {
        "id": i32(np.arange(n)),
        "Gender": rng.choice(["Male", "Female"], n),
        "Customer Type": rng.choice(
            ["Loyal Customer", "disloyal Customer"], n, p=[0.82, 0.18]
        ),
        "Age": i32(rng.integers(7, 86, n)),
        "Type of Travel": rng.choice(
            ["Business travel", "Personal Travel"], n, p=[0.69, 0.31]
        ),
        "Class": rng.choice(["Business", "Eco", "Eco Plus"], n, p=[0.48, 0.45, 0.07]),
        "Flight Distance": i32(rng.integers(31, 4984, n)),
    }
    for c in RATINGS:
        cols[c] = i32(rng.integers(0, 6, n))
    delay = rng.exponential(15.0, n).astype(np.int32)
    cols["Departure Delay in Minutes"] = i32(delay)
    cols["Arrival Delay in Minutes"] = (delay + rng.integers(-5, 6, n)).clip(0).astype(
        np.float64
    )
    cols["satisfaction"] = rng.choice(
        ["neutral or dissatisfied", "satisfied"], n, p=[0.57, 0.43]
    )
    return pa.table(cols)
