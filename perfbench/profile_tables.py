#!/usr/bin/env python3
"""Profiles the four tables the batch sweep reads, so the seeded tables
TableGen writes can be compared with a reference copy of the test data.

    python3 perfbench/profile_tables.py <dir> [<dir> ...]

Each <dir> holds lineitem/events/documents/embeddings as parquet (a file
or a directory of part files named <table>.parquet). Prints one column of
figures per directory; perfbench/README.md records the comparison.
"""
import os
import sys

import duckdb

QUERIES = {
    "lineitem": [
        ("rows", "count(*)"),
        ("distinct l_orderkey", "count(DISTINCT l_orderkey)"),
        ("distinct l_partkey", "count(DISTINCT l_partkey)"),
        ("distinct l_suppkey", "count(DISTINCT l_suppkey)"),
        ("l_quantity mean", "avg(l_quantity)"),
        ("l_extendedprice mean", "avg(l_extendedprice)"),
        ("l_extendedprice max", "max(l_extendedprice)"),
        ("l_discount distinct", "count(DISTINCT l_discount)"),
        ("l_returnflag='R' share", "avg(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)"),
        ("l_linestatus='O' share", "avg(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END)"),
        ("l_shipdate span days", "date_diff('day', min(l_shipdate), max(l_shipdate))"),
    ],
    "events": [
        ("rows", "count(*)"),
        ("distinct user_id", "count(DISTINCT user_id)"),
        ("event_type distinct", "count(DISTINCT event_type)"),
        ("event_type='click' share", "avg(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)"),
        ("value mean", "avg(value)"),
        ("value median", "median(value)"),
        ("value max", "max(value)"),
        ("ts span days", "date_diff('day', min(ts), max(ts))"),
        ("props distinct", "count(DISTINCT props)"),
    ],
    "documents": [
        ("rows", "count(*)"),
        ("words per doc mean", "avg(len(string_split(text, ' ')))"),
        ("words per doc min", "min(len(string_split(text, ' ')))"),
        ("words per doc max", "max(len(string_split(text, ' ')))"),
        ("n_chars mean", "avg(n_chars)"),
        ("n_chars max", "max(n_chars)"),
        ("distinct chars per doc mean", "avg(len(list_distinct(string_split(text, ''))))"),
        ("exact duplicate text share", "1 - count(DISTINCT text) / count(*)"),
        ("32-char prefix duplicate share", "1 - count(DISTINCT substr(text, 1, 32)) / count(*)"),
        ("lang distinct", "count(DISTINCT lang)"),
        ("lang='en' share", "avg(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)"),
        ("source distinct", "count(DISTINCT source)"),
    ],
    "embeddings": [
        ("rows", "count(*)"),
        ("dim", "max(len(embedding))"),
        ("label distinct", "count(DISTINCT label)"),
    ],
}

EXTRA = {
    "lineitem": [
        ("max lines per order", "SELECT max(c) FROM (SELECT count(*) c FROM t GROUP BY l_orderkey)"),
    ],
    "events": [
        ("max events per user / mean", "SELECT max(c) / avg(c) FROM (SELECT count(*) c FROM t GROUP BY user_id)"),
    ],
    "documents": [
        ("vocabulary size", "SELECT count(DISTINCT w) FROM (SELECT unnest(string_split(text, ' ')) w FROM t)"),
        ("top word share", "SELECT max(c) / sum(c) FROM (SELECT count(*) c FROM "
                           "(SELECT unnest(string_split(text, ' ')) w FROM t) GROUP BY w)"),
    ],
    "embeddings": [
        ("element mean", "SELECT avg(x) FROM (SELECT unnest(embedding) x FROM t)"),
        ("element stddev", "SELECT stddev(x) FROM (SELECT unnest(embedding) x FROM t)"),
        ("element min", "SELECT min(x) FROM (SELECT unnest(embedding) x FROM t)"),
        ("element max", "SELECT max(x) FROM (SELECT unnest(embedding) x FROM t)"),
    ],
}


def source(d, table):
    p = os.path.join(d, f"{table}.parquet")
    return f"read_parquet('{p}/*.parquet')" if os.path.isdir(p) else f"read_parquet('{p}')"


def profile(d):
    con = duckdb.connect()
    out = {}
    for table, qs in QUERIES.items():
        con.execute(f"CREATE OR REPLACE VIEW t AS SELECT * FROM {source(d, table)}")
        row = con.execute("SELECT " + ", ".join(e for _, e in qs) + " FROM t").fetchone()
        for (name, _), v in zip(qs, row):
            out[(table, name)] = v
        for name, sql in EXTRA[table]:
            out[(table, name)] = con.execute(sql).fetchone()[0]
    return out


def main():
    dirs = sys.argv[1:]
    if not dirs:
        sys.exit(__doc__)
    profs = [profile(d) for d in dirs]
    print("| table | figure | " + " | ".join(dirs) + " |")
    print("|---|---|" + "---|" * len(dirs))
    for key in profs[0]:
        cells = []
        for p in profs:
            v = p[key]
            cells.append(f"{v:.4g}" if isinstance(v, float) else str(v))
        print(f"| {key[0]} | {key[1]} | " + " | ".join(cells) + " |")


if __name__ == "__main__":
    main()
