"""Generic idempotent key-upsert sink for streaming aggregates.

The reference implements EIGHT near-identical MySQL upsert functions
(kpi1..kpi_satisfaction_by_feature_process, Consumer.scala:152-431), each
opening a connection per partition and calling `executeUpdate` per row.
This module replaces all of them with ONE parameterized sink that fixes
the two scale anti-patterns (SURVEY §4):

- row-at-a-time execute → `executemany` batches,
- no delivery semantics → idempotent upsert keyed on the group key +
  mandatory checkpoint (wired in streaming/pipeline.py), giving
  effectively-once output on top of Spark's at-least-once replay.

The sink is DB-API-agnostic: callers pass a zero-arg `connect` factory
(sqlite3 in tests — MySQL's `INSERT ... ON DUPLICATE KEY UPDATE` from the
reference becomes the portable `INSERT ... ON CONFLICT DO UPDATE`).
Each executor partition opens its own connection exactly like the
reference (Consumer.scala:157), but writes in batches.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from dataclasses import dataclass

from pyspark.sql import DataFrame, Row


def _quote(name: str) -> str:
    """SQL-quoted identifier: the reference's own column names hold
    spaces (`Type of Travel`, Consumer.scala:22-46)."""
    return '"' + name.replace('"', '""') + '"'


def upsert_partition(
    rows: Iterator[Row],
    connect: Callable,
    table: str,
    key_cols: list[str],
    val_cols: list[str],
    batch_size: int = 1000,
) -> None:
    """Upsert one partition's rows over a fresh DB-API connection."""
    cols = key_cols + val_cols
    placeholders = ", ".join(["?"] * len(cols))
    updates = ", ".join(
        f"{_quote(c)} = excluded.{_quote(c)}" for c in val_cols)
    sql = (
        f"INSERT INTO {_quote(table)} ({', '.join(map(_quote, cols))}) "
        f"VALUES ({placeholders}) "
        f"ON CONFLICT ({', '.join(map(_quote, key_cols))}) "
        f"DO UPDATE SET {updates}"
    )
    con = connect()
    try:
        cur = con.cursor()
        batch: list[tuple] = []
        for row in rows:
            batch.append(tuple(row[c] for c in cols))
            if len(batch) >= batch_size:
                cur.executemany(sql, batch)
                batch.clear()
        if batch:
            cur.executemany(sql, batch)
        con.commit()
    finally:
        con.close()


@dataclass
class UpsertSink:
    """foreachBatch callback: `df.writeStream.foreachBatch(UpsertSink(...))`.

    One instance per logical output table (vs eight hand-copied functions
    in the reference). The callback body mirrors Consumer.scala:156's
    `batchDF.foreachPartition(...)` structure.
    """

    connect: Callable
    table: str
    key_cols: list[str]
    val_cols: list[str]
    batch_size: int = 1000

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        connect, table = self.connect, self.table
        key_cols, val_cols, bs = self.key_cols, self.val_cols, self.batch_size

        def _run(rows: Iterator[Row]) -> None:
            upsert_partition(rows, connect, table, key_cols, val_cols, bs)

        batch_df.foreachPartition(_run)

    def create_table_sql(self, schema: dict[str, str]) -> str:
        cols = ", ".join(f"{_quote(c)} {t}" for c, t in schema.items())
        keys = ", ".join(map(_quote, self.key_cols))
        return (
            f"CREATE TABLE IF NOT EXISTS {_quote(self.table)} "
            f"({cols}, PRIMARY KEY ({keys}))"
        )
