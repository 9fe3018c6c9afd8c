"""Compare the ops-suite's generated tables with reference tables.

Prints, per source, the figures the ops-suite operators' cost depends on:
row counts, document length, 5-char shingle diversity, LSH candidate
pairs, near-duplicates, language mix, embedding norms and a few result
sizes. A source is a directory of ``<table>.parquet`` files or
``gen:<seed>:<rows>`` for ``opsdata.generate_tables(seed, rows)``:

    python3 perfbench/fitcheck.py <sf0.01 dir> gen:1:60000 gen:2:60000

Generated tables are written to a temporary directory that is removed
at exit.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

TABLES = ["customer", "orders", "lineitem", "events", "documents", "embeddings",
          "nation", "region"]
SHINGLES = ("unnest([substr(text, i, 5) FOR i IN "
            "range(1, greatest(len(text) - 4, 1) + 1)]) AS s")
RESULT_ROWS = ["dedup_minhash_lsh", "edge_canonicalize_pairs", "window_topn_per_group",
               "window_dedup_latest", "dedup_exact"]


def figures(table_dir: str) -> dict:
    import duckdb

    from kgpipe.queries import ORACLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_dir}/{t}.parquet')")

    def one(sql):
        return con.execute(sql).fetchone()[0]

    n_docs = one("SELECT count(*) FROM documents")
    f = {"rows": {t: one(f"SELECT count(*) FROM {t}") for t in TABLES[:6]}}
    f["tokens_p10_p50_p90"] = [round(x) for x in one(
        "SELECT quantile_cont(len(string_split(text, ' ')), [0.1, 0.5, 0.9]) FROM documents")]
    f["chars_mean"] = round(one("SELECT avg(len(text)) FROM documents"), 1)
    f["shingles_per_doc_median"] = one(
        f"SELECT median(n) FROM (SELECT doc_id, count(DISTINCT s) AS n FROM "
        f"(SELECT doc_id, {SHINGLES} FROM documents) GROUP BY doc_id)")
    f["shingles_distinct"] = one(f"SELECT count(DISTINCT s) FROM (SELECT {SHINGLES} FROM documents)")
    for op in RESULT_ROWS:
        f[f"{op}_rows"] = len(con.execute(ORACLES[op]).fetchall())
    f["lsh_pairs_per_doc"] = round(f["dedup_minhash_lsh_rows"] / n_docs, 2)
    f["near_dup_docs"] = one("SELECT count(*) FROM documents WHERE text LIKE '% dup'")
    f["en_share"] = round(one("SELECT avg((lang = 'en')::INT) FROM documents"), 3)
    f["sources"] = one("SELECT count(DISTINCT source) FROM documents")
    f["embedding_norm_median"] = round(one(
        "SELECT median(sqrt(list_sum(list_transform(embedding, x -> x * x)))) FROM embeddings"), 4)
    f["embedding_element_sd"] = round(one(
        "SELECT stddev(x) FROM (SELECT unnest(embedding) AS x FROM embeddings)"), 4)
    f["event_value_mean"] = round(one("SELECT avg(value) FROM events"), 1)
    con.close()
    return f


def main(sources: list[str]) -> None:
    from opsdata import generate_tables, write_tables

    for src in sources:
        if src.startswith("gen:"):
            _, seed, rows = src.split(":")
            with tempfile.TemporaryDirectory() as tmp:
                write_tables(generate_tables(int(seed), int(rows)), tmp)
                print(src, json.dumps(figures(tmp)))
        else:
            print(src, json.dumps(figures(src)))


if __name__ == "__main__":
    main(sys.argv[1:])
