"""Correctness check for the indexer workloads, independent of the engine.

The reference answer is a DuckDB fold over the generated mutation log:
the last event by ``seq`` per row key, absent when that event is a row
delete, otherwise one document holding that event's put values. The
engine's output (the final index state, or the rebuilt shard set) is
flattened by the harness to the same columns and compared row for row.
"""
import duckdb

FIELDS = ("name", "nationkey", "acctbal", "mktsegment")


def reference_sql(log_glob):
    picks = ",\n  ".join(
        f"list_filter(cells, c -> c.cellType = 'put' AND c.family = 'info' "
        f"AND c.qualifier = '{f}')[1].value AS {f}" for f in FIELDS)
    return f"""
WITH last AS (
  SELECT rowKey, arg_max(cells, seq) AS cells
  FROM read_parquet('{log_glob}')
  GROUP BY rowKey)
SELECT rowKey AS id,
  {picks}
FROM last
WHERE len(list_filter(cells, c -> c.cellType = 'put')) > 0"""


def reference(log_glob):
    """Rows (id, name, nationkey, acctbal, mktsegment) sorted by id."""
    con = duckdb.connect()
    try:
        return con.sql(reference_sql(log_glob) + "\nORDER BY id").fetchall()
    finally:
        con.close()


def compare(log_glob, output_glob):
    """Return (mismatched rows, reference rows, output rows)."""
    con = duckdb.connect()
    try:
        con.sql(f"CREATE VIEW ref AS {reference_sql(log_glob)}")
        cols = ", ".join(("id",) + FIELDS)
        con.sql(f"CREATE VIEW out AS SELECT {cols} FROM read_parquet('{output_glob}')")
        missing = con.sql("SELECT count(*) FROM (SELECT * FROM ref EXCEPT ALL SELECT * FROM out)").fetchone()[0]
        extra = con.sql("SELECT count(*) FROM (SELECT * FROM out EXCEPT ALL SELECT * FROM ref)").fetchone()[0]
        n_ref = con.sql("SELECT count(*) FROM ref").fetchone()[0]
        n_out = con.sql("SELECT count(*) FROM out").fetchone()[0]
        return missing + extra, n_ref, n_out
    finally:
        con.close()
