#!/usr/bin/env python3
"""Seeded generator for the benchmark's star-schema inputs.

Writes the ten tables the catalog entries read (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings), one
parquet file each, with the column names, types, value domains and row
ratios of the harness datasets (sf0.1 = 150k orders, 600k lineitems).
Every value is a pure function of (seed, table, row, column) through
DuckDB's hash(), so output is identical for a seed regardless of thread
count.

Usage: python3 perfbench/datagen.py <dst_dir> <sf> [seed]
"""
import os
import sys

import duckdb

WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def lst(xs):
    return "[" + ", ".join(f"'{x}'" for x in xs) + "]"


def tables(sf, seed):
    n_cust = max(int(150000 * sf), 10)
    n_supp = max(int(10000 * sf), 5)
    n_part = max(int(200000 * sf), 10)
    n_ord = max(int(1500000 * sf), 20)
    n_li = 4 * n_ord
    n_ev = max(int(1000000 * sf), 100)
    n_users = max(int(15000 * sf), 10)
    n_doc = max(int(50000 * sf), 50)
    n_vec = max(int(20000 * sf), 20)

    # u(col) is a uniform integer in [0, 2^31) unique to (seed, table,
    # column, row); pick(list, col) chooses uniformly from a list.
    def u(t, c):
        return f"CAST(hash({seed}, '{t}', '{c}', i) % 2147483648 AS BIGINT)"

    def pick(t, c, xs):
        return f"({lst(xs)})[1 + {u(t, c)} % {len(xs)}]"

    def rng(n):
        return f"range(0, {n}) r(i)"

    words = lst(WORDS)
    yield "region", """SELECT * FROM (VALUES (0, 'AFRICA'), (1, 'AMERICA'),
        (2, 'ASIA'), (3, 'EUROPE'), (4, 'MIDDLE EAST'))
        v(r_regionkey, r_name)"""
    yield "nation", f"""SELECT CAST(i AS INTEGER) AS n_nationkey,
        'NATION_' || i AS n_name, CAST(i % 5 AS INTEGER) AS n_regionkey
        FROM {rng(25)}"""
    t = "customer"
    yield t, f"""SELECT i AS c_custkey, 'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0')
        AS c_name, CAST({u(t, 'n')} % 25 AS INTEGER) AS c_nationkey,
        ({u(t, 'b')} % 1099980 - 99985) / 100.0 AS c_acctbal,
        {pick(t, 's', SEGMENTS)} AS c_mktsegment FROM {rng(n_cust)}"""
    t = "supplier"
    yield t, f"""SELECT i AS s_suppkey, 'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0')
        AS s_name, CAST({u(t, 'n')} % 25 AS INTEGER) AS s_nationkey,
        ({u(t, 'b')} % 1099980 - 99985) / 100.0 AS s_acctbal FROM {rng(n_supp)}"""
    t = "part"
    yield t, f"""SELECT i AS p_partkey,
        {pick(t, 'a', ADJ)} || ' ' || {pick(t, 'o', NOUN)} AS p_name,
        'Brand#' || (1 + {u(t, 'b')} % 25) AS p_brand,
        {pick(t, 't', TYPES)} AS p_type,
        CAST(1 + {u(t, 's')} % 50 AS INTEGER) AS p_size,
        900.0 + (i % 1000) / 10.0 AS p_retailprice FROM {rng(n_part)}"""
    t = "orders"
    yield t, f"""SELECT i AS o_orderkey, {u(t, 'c')} % {n_cust} AS o_custkey,
        ['F', 'O', 'P'][1 + {u(t, 's')} % 3] AS o_orderstatus,
        (100191 + {u(t, 'p')} % 49880000) / 100.0 AS o_totalprice,
        TIMESTAMP '1995-01-01' + to_days(CAST({u(t, 'd')} % 2405 AS INTEGER))
          AS o_orderdate,
        {pick(t, 'y', PRIORITIES)} AS o_orderpriority FROM {rng(n_ord)}"""
    t = "lineitem"
    yield t, f"""SELECT {u(t, 'o')} % {n_ord} AS l_orderkey,
        {u(t, 'p')} % {n_part} AS l_partkey, {u(t, 's')} % {n_supp} AS l_suppkey,
        CAST(1 + {u(t, 'l')} % 7 AS INTEGER) AS l_linenumber,
        CAST(1 + {u(t, 'q')} % 50 AS DOUBLE) AS l_quantity,
        (90068 + {u(t, 'e')} % 10409923) / 100.0 AS l_extendedprice,
        ({u(t, 'd')} % 11) / 100.0 AS l_discount,
        ({u(t, 't')} % 9) / 100.0 AS l_tax,
        ['A', 'N', 'R'][1 + {u(t, 'r')} % 3] AS l_returnflag,
        ['F', 'O'][1 + {u(t, 'x')} % 2] AS l_linestatus,
        TIMESTAMP '1995-01-02' + to_days(CAST({u(t, 'h')} % 2499 AS INTEGER))
          AS l_shipdate FROM {rng(n_li)}"""
    t = "events"
    # ts rises with event_id over 30 days; value is roughly exponential
    # with mean 50 (-50 ln u), rounded to cents
    yield t, f"""SELECT i AS event_id,
        TIMESTAMP '2024-01-01' + to_microseconds(CAST(
          (i * 2592000000000 // {n_ev}) + {u(t, 'j')} % (2592000000000 // {n_ev})
          AS BIGINT)) AS ts,
        {u(t, 'u')} % {n_users} AS user_id,
        {pick(t, 'e', EVENT_TYPES)} AS event_type,
        round(-50.0 * ln(({u(t, 'v')} % 1000000 + 1) / 1000001.0), 2) AS value,
        '{{"k": ' || ({u(t, 'k')} % 100) || '}}' AS props FROM {rng(n_ev)}"""
    t = "documents"
    # ~5% of documents are a near-duplicate of an earlier one (its text
    # plus ' dup') and a few are exact copies, so dedup entries find work
    base = f"""SELECT i, list_aggregate(list_transform(
          range(0, CAST(10 + {u(t, 'n')} % 91 AS BIGINT)),
          w -> {words}[1 + CAST(hash({seed}, '{t}', i, w) % {len(WORDS)} AS BIGINT)]),
          'string_agg', ' ') AS text0, {u(t, 'k')} AS k,
          {u(t, 'src')} % greatest(i, 1) AS src,
          {pick(t, 'l', LANGS)} AS lang FROM {rng(n_doc)}"""
    yield t, f"""WITH b AS ({base})
        SELECT d.i AS doc_id,
          CASE WHEN d.k % 20 = 0 AND d.i > 0 THEN s.text0 || ' dup'
               WHEN d.k % 625 = 1 AND d.i > 0 THEN s.text0
               ELSE d.text0 END AS text,
          d.lang, 'src' || (d.i % 20) AS source
        FROM b d JOIN b s ON s.i = d.src"""
    t = "embeddings"
    # 64-dim vectors: a label centroid plus noise, as FLOAT[]
    yield t, f"""SELECT i AS vec_id, CAST(list_transform(range(0, 64), j ->
          (CAST(hash({seed}, 'c', i % 10, j) % 2000 AS BIGINT) / 10000.0 - 0.1)
          + (CAST(hash({seed}, '{t}', i, j) % 2000 AS BIGINT) / 10000.0 - 0.1))
          AS FLOAT[]) AS embedding,
          CAST(i % 10 AS INTEGER) AS label FROM {rng(n_vec)}"""


def main():
    dst, sf = sys.argv[1], float(sys.argv[2])
    seed = int(sys.argv[3]) if len(sys.argv) > 3 else 42
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    for name, sql in tables(sf, seed):
        if name == "documents":
            sql = f"SELECT doc_id, text, lang, source, " \
                  f"CAST(length(text) AS BIGINT) AS n_chars FROM ({sql})"
        order = "1" if name == "embeddings" else "ALL"  # vec_id is unique
        con.execute(f"COPY ({sql} ORDER BY {order}) TO '{dst}/{name}.parquet' "
                    f"(FORMAT parquet)")
    print(f"[datagen] sf={sf} seed={seed} -> {dst}")


if __name__ == "__main__":
    main()
