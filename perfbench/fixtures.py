"""Seeded input tables for the benchmark, written as parquet with DuckDB.

The tables have the column layout the engine's query functions read
(`orders`, `documents`, `events`), and at the sizes the benchmark asks for
the row counts and value distributions of the sf0.1 test tables: 5,000
documents of 8-96 words over a closed vocabulary in 20 sources and 5
languages (40% `en`), 100,000 events of 5 types by 1,500 users with
exponential values. Every value is a hash of the seed and
the row key, so the same seed writes the same bytes and no random-number
state is shared between threads.
"""
import os

import duckdb

# word list of the document generator: a small closed vocabulary, so that
# shingles, BM25 postings and repetition signals all have real overlap
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window index cache shard node plan task stage job "
    "block page"
).split()


def _copy(con, sql, path):
    # one row group per file, as a bulk export writes it
    con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET, ROW_GROUP_SIZE 10000000)")


def orders_sql(n_orders):
    # the turn generator reads o_orderkey only
    return f"SELECT i AS o_orderkey FROM range({n_orders}) t(i)"


def documents_sql(seed, n_docs):
    vocab = "[" + ",".join(f"'{w}'" for w in VOCAB) + "]"
    return f"""
      WITH d AS (
        SELECT i AS doc_id,
               array_to_string(list_transform(
                 range(8 + CAST(hash({seed}, i, -1) % 89 AS BIGINT)),
                 j -> {vocab}[1 + CAST(hash({seed}, i, j) % {len(VOCAB)} AS BIGINT)]),
                 ' ') AS text
        FROM range({n_docs}) t(i))
      SELECT doc_id, text,
             ['en','en','en','en','en','en','en','en',
              'de','de','de','es','es','es','fr','fr','fr','zh','zh','zh']
               [1 + CAST(hash({seed}, doc_id, -2) % 20 AS BIGINT)] AS lang,
             'src' || CAST(doc_id % 20 AS VARCHAR) AS source,
             CAST(length(text) AS BIGINT) AS n_chars
      FROM d ORDER BY doc_id"""


def events_sql(seed, n_events, n_users):
    types = "['signup','click','error','view','purchase']"
    # ts rises with event_id over 30 days; value is exponential with mean 50
    gap = 2592000000000 // n_events
    return f"""
      SELECT i AS event_id,
             TIMESTAMP '2024-01-01' + to_microseconds(
               CAST(i * {gap} + hash({seed}, i, 1) % {gap} AS BIGINT)) AS ts,
             CAST(hash({seed}, i, 2) % {n_users} AS BIGINT) AS user_id,
             {types}[1 + CAST(hash({seed}, i, 3) % 5 AS BIGINT)] AS event_type,
             round(-50 * ln(1 - (hash({seed}, i, 4) % 1000000) / 1000000.0), 2) AS value,
             '{{"k": ' || CAST(hash({seed}, i, 5) % 100 AS VARCHAR) || '}}' AS props
      FROM range({n_events}) t(i) ORDER BY event_id"""


def write(out_dir, seed, tables):
    """Write the named tables to `<out_dir>/<table>.parquet`.

    `tables` maps a table name to its size arguments, e.g.
    `{"orders": (15000,), "documents": (600,), "events": (10000, 1500)}`.
    """
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET enable_progress_bar = false")
    for name, size in tables.items():
        if name == "orders":
            sql = orders_sql(*size)
        elif name == "documents":
            sql = documents_sql(seed, *size)
        elif name == "events":
            sql = events_sql(seed, *size)
        else:
            raise ValueError(f"unknown table {name}")
        _copy(con, sql, os.path.join(out_dir, f"{name}.parquet"))
    con.close()
