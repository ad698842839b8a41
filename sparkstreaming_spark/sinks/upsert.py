"""Generic additive key-upsert sink for streaming KPI deltas, idempotent
per micro-batch.

The reference implements EIGHT near-identical MySQL upsert functions
(kpi1..kpi_satisfaction_by_feature_process, Consumer.scala:152-431), each
opening a connection per partition and calling `executeUpdate` per row,
with no delivery semantics. This module replaces all of them with ONE
parameterized sink, and the sink table holds the KPI's running value:

- each micro-batch's delta is ADDED to the stored values
  (`"cnt" = "cnt" + excluded."cnt"`), so the streaming query keeps no
  aggregation state (streaming/pipeline.py);
- the delta is small (one row per group key), so the driver collects it
  and writes it with one `executemany` in ONE transaction per table per
  batch; there is no per-partition Spark job;
- the same transaction advances a ledger row keyed by (table, streaming
  query id) to the batch id; a batch id at or below it is a replay and
  is skipped whole. Spark's at-least-once replay of the last batch after
  a crash thus adds each batch exactly once. The query id is the stream's
  persistent id, so a query started from a NEW checkpoint (batch ids from
  0 again) is not mistaken for a replay of another query's batches.

The sink is DB-API-agnostic: callers pass a zero-arg `connect` factory
(sqlite3 in tests — MySQL's `INSERT ... ON DUPLICATE KEY UPDATE` from the
reference becomes the portable `INSERT ... ON CONFLICT DO UPDATE`).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame

# Local property Spark's stream execution thread sets to the query's id;
# foreachBatch runs on that thread.
QUERY_ID_KEY = "sql.streaming.queryId"
LEDGER = "upsert_ledger"


def _quote(name: str) -> str:
    """SQL-quoted identifier: the reference's own column names hold
    spaces (`Type of Travel`, Consumer.scala:22-46)."""
    return '"' + name.replace('"', '""') + '"'


@dataclass
class UpsertSink:
    """foreachBatch callable `(df, batch_id)` that adds `df`'s `val_cols`
    into `table` keyed on `key_cols`, once per batch id.

    One instance per logical output table (vs eight hand-copied functions
    in the reference). It takes per-batch deltas (start_kpi_queries), not
    the running totals an update-mode aggregate emits, which it would add
    twice. The table must exist; the sink creates its ledger table in the
    same database.
    """

    connect: Callable
    table: str
    key_cols: list[str]
    val_cols: list[str]

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        query_id = batch_df.sparkSession.sparkContext.getLocalProperty(QUERY_ID_KEY)
        cols = self.key_cols + self.val_cols
        rows = [tuple(r[c] for c in cols) for r in batch_df.collect()]
        self.write(rows, batch_id, query_id or "")

    def write(self, rows: list[tuple], batch_id: int, query_id: str = "") -> bool:
        """Add `rows` (key_cols + val_cols tuples) to the table and record
        `batch_id` in one transaction. Returns False, writing nothing, when
        the ledger already holds this batch id (or a later one) for this
        table and query."""
        cols = self.key_cols + self.val_cols
        adds = ", ".join(f"{_quote(c)} = {_quote(c)} + excluded.{_quote(c)}"
                         for c in self.val_cols)
        upsert = (
            f"INSERT INTO {_quote(self.table)} ({', '.join(map(_quote, cols))}) "
            f"VALUES ({', '.join(['?'] * len(cols))}) "
            f"ON CONFLICT ({', '.join(map(_quote, self.key_cols))}) "
            f"DO UPDATE SET {adds}"
        )
        con = self.connect()
        try:
            cur = con.cursor()
            cur.execute(
                f"CREATE TABLE IF NOT EXISTS {LEDGER} (tbl TEXT, query_id TEXT, "
                "batch_id INTEGER, PRIMARY KEY (tbl, query_id))"
            )
            cur.execute(
                f"INSERT INTO {LEDGER} (tbl, query_id, batch_id) VALUES (?, ?, ?) "
                "ON CONFLICT (tbl, query_id) DO UPDATE SET batch_id = excluded.batch_id "
                f"WHERE {LEDGER}.batch_id < excluded.batch_id",
                (self.table, query_id, batch_id),
            )
            if cur.rowcount == 0:
                con.rollback()
                return False
            cur.executemany(upsert, rows)
            con.commit()
            return True
        finally:
            con.close()

    def create_table_sql(self, schema: dict[str, str]) -> str:
        cols = ", ".join(f"{_quote(c)} {t}" for c, t in schema.items())
        keys = ", ".join(map(_quote, self.key_cols))
        return (
            f"CREATE TABLE IF NOT EXISTS {_quote(self.table)} "
            f"({cols}, PRIMARY KEY ({keys}))"
        )
