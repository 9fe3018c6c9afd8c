"""Correctness gates, run outside every timed window.

* warehouse triples: the forced ``(count, sum of xxhash64)`` of a
  triples DataFrame must equal the same fingerprint of the independent
  pure-Python oracle ``kgpipe.golden.golden_triples``;
* ops: every operator's rows must equal its DuckDB ``oracle_sql`` rows
  over the same parquet files.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

TRIPLE_COLUMNS = ["subj", "pred", "obj"]


def fingerprint(df) -> tuple[int, int]:
    """Execute the whole plan once and reduce every column of every row
    to ``(row count, exact sum of xxhash64)``; the forcing step of every
    timed pass."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


def triples_fingerprint(spark, triples: set[tuple]) -> tuple[int, int]:
    """The same fingerprint over a Python set of (subj, pred, obj)."""
    df = spark.createDataFrame(sorted(triples), TRIPLE_COLUMNS)
    return fingerprint(df)


def _cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def normalize_rows(rows) -> list[tuple]:
    """Order-insensitive, full-precision comparison form of result rows."""
    return sorted(tuple(_cell(v) for v in r) for r in rows)


def oracle_rows(con, sql: str, columns: list[str]) -> list[tuple]:
    """A DuckDB query's rows in comparison form, columns matched by name."""
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    idx = [names.index(c) for c in columns]
    return normalize_rows([tuple(r[i] for i in idx) for r in cur.fetchall()])


def duckdb_over(table_dir: str, names):
    import duckdb

    con = duckdb.connect()
    for name in names:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{table_dir}/{name}.parquet')"
        )
    return con
