"""Seeded generator for the sf0.1-shaped parquet corpus the dashboard and
curation-catalog workloads read.

The tables have the schemas, cardinalities and value distributions of the
engine's test corpus (TPC-H-ish star schema plus events, documents and
embeddings; see FIXTURES.md section B): every "random" column is a pure
function of (seed, salt, row id) through DuckDB's `hash`, so one seed always
gives the same bytes and another seed gives different data of the same shape.
Each table is written as one parquet file `<dir>/<table>.parquet`, the layout
`graft.sources.Tables` reads.

`scale` multiplies every row count except region and nation (1.0 gives the
sf0.1 cardinalities).

Usage: python3 perfbench/gen_corpus.py <out_dir> <seed> [scale]
"""
import os
import sys

import duckdb

VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
ADJ = ["blue", "old", "red", "small", "new", "large", "hot", "cold"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]

ROWS = {"customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
        "lineitem": 600000, "events": 100000, "documents": 5000,
        "embeddings": 2000}
DUP_DOCS = 250


def lst(xs):
    return "[" + ", ".join(f"'{x}'" for x in xs) + "]"


def tables(seed, scale=1.0):
    """SQL per table; `u(salt, id)` is a uniform [0,1) draw."""
    u = lambda salt, i: f"(hash({seed}, '{salt}', {i}) % 1000000) / 1e6"
    ui = lambda salt, i, lo, hi: f"({lo} + floor({u(salt, i)} * {hi - lo + 1}))::INTEGER"
    pick = lambda salt, i, xs: f"{lst(xs)}[1 + floor({u(salt, i)} * {len(xs)})::INTEGER]"
    money = lambda salt, i, lo, hi: f"round({lo} + {u(salt, i)} * {hi - lo}, 2)"
    day = lambda salt, i, start, ndays: (
        f"(DATE '{start}' + {ui(salt, i, 0, ndays - 1)})::TIMESTAMP")
    r = {t: max(1, round(n * scale)) for t, n in ROWS.items()}
    dups = round(DUP_DOCS * scale)
    return {
        "region": "SELECT i::INTEGER AS r_regionkey, "
                  f"{lst(['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'])}[i + 1] AS r_name "
                  "FROM range(5) t(i)",
        "nation": "SELECT i::INTEGER AS n_nationkey, 'NATION_' || i AS n_name, "
                  "(i % 5)::INTEGER AS n_regionkey FROM range(25) t(i)",
        "customer": f"""SELECT i::BIGINT AS c_custkey, printf('Customer#%09d', i) AS c_name,
              {ui('cnat', 'i', 0, 24)} AS c_nationkey,
              {money('cbal', 'i', -999.99, 9999.99)} AS c_acctbal,
              {pick('cseg', 'i', ['MACHINERY', 'AUTOMOBILE', 'FURNITURE', 'HOUSEHOLD', 'BUILDING'])} AS c_mktsegment
            FROM range({r['customer']}) t(i)""",
        "supplier": f"""SELECT i::BIGINT AS s_suppkey, printf('Supplier#%09d', i) AS s_name,
              {ui('snat', 'i', 0, 24)} AS s_nationkey,
              {money('sbal', 'i', -999.99, 9999.99)} AS s_acctbal
            FROM range({r['supplier']}) t(i)""",
        "part": f"""SELECT i::BIGINT AS p_partkey,
              {pick('padj', 'i', ADJ)} || ' ' || {pick('pnoun', 'i', NOUN)} AS p_name,
              'Brand#' || {ui('pbrand', 'i', 1, 25)} AS p_brand,
              {pick('ptype', 'i', ['LARGE', 'ECONOMY', 'STANDARD', 'SMALL', 'MEDIUM', 'PROMO'])} AS p_type,
              {ui('psize', 'i', 1, 50)} AS p_size,
              round(900 + (i % 1000) / 10, 1) AS p_retailprice
            FROM range({r['part']}) t(i)""",
        "orders": f"""SELECT i::BIGINT AS o_orderkey,
              {ui('ocust', 'i', 0, r['customer'] - 1)}::BIGINT AS o_custkey,
              {pick('ostat', 'i', ['O', 'P', 'F'])} AS o_orderstatus,
              {money('oprice', 'i', 1000, 500000)} AS o_totalprice,
              {day('odate', 'i', '1995-01-01', 2405)} AS o_orderdate,
              {pick('oprio', 'i', ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'])} AS o_orderpriority
            FROM range({r['orders']}) t(i)""",
        "lineitem": f"""SELECT {ui('lord', 'i', 0, r['orders'] - 1)}::BIGINT AS l_orderkey,
              {ui('lpart', 'i', 0, r['part'] - 1)}::BIGINT AS l_partkey,
              {ui('lsupp', 'i', 0, r['supplier'] - 1)}::BIGINT AS l_suppkey,
              {ui('lnum', 'i', 1, 7)} AS l_linenumber,
              {ui('lqty', 'i', 1, 50)}::DOUBLE AS l_quantity,
              {money('lprice', 'i', 900, 105000)} AS l_extendedprice,
              {ui('ldisc', 'i', 0, 10)} / 100.0 AS l_discount,
              {ui('ltax', 'i', 0, 8)} / 100.0 AS l_tax,
              {pick('lrf', 'i', ['A', 'N', 'R'])} AS l_returnflag,
              {pick('lls', 'i', ['O', 'F'])} AS l_linestatus,
              {day('lship', 'i', '1995-01-02', 2499)} AS l_shipdate
            FROM range({r['lineitem']}) t(i)""",
        # monotone event time: exponential inter-arrival gaps (mean ~26 s,
        # 30 days of traffic), prefix-summed in event_id order
        "events": f"""SELECT i::BIGINT AS event_id,
              TIMESTAMP '2024-01-01' + to_microseconds(
                (sum(-ln(1 - {u('egap', 'i')}) * 25.9e6) OVER (ORDER BY i))::BIGINT) AS ts,
              {ui('euser', 'i', 0, 1499)}::BIGINT AS user_id,
              {pick('etype', 'i', ['click', 'error', 'purchase', 'signup', 'view'])} AS event_type,
              round(-ln(1 - {u('eval', 'i')}) * 50, 2) AS value,
              '{{"k": ' || {ui('ek', 'i', 0, 99)} || '}}' AS props
            FROM range({r['events']}) t(i)""",
        # 10-100 tokens over a 30-word vocabulary; DUP_DOCS documents are a
        # verbatim copy of another document plus a trailing "dup" token
        "documents": f"""WITH base AS MATERIALIZED (
              SELECT i AS doc_id,
                string_agg({lst(VOCAB)}[1 + (hash({seed}, 'dw', i, j) % {len(VOCAB)})::INTEGER],
                  ' ' ORDER BY j) AS body,
                row_number() OVER (ORDER BY hash({seed}, 'ddup', i)) <= {dups} AS is_dup,
                ({ui('dsrc', 'i', 1, r['documents'] - 1)} + i) % {r['documents']} AS src
              FROM range({r['documents']}) t(i), range(100) w(j)
              WHERE j < {ui('dlen', 'i', 10, 100)}
              GROUP BY i
            ), texts AS (
              SELECT b.doc_id, CASE WHEN b.is_dup THEN s.body || ' dup' ELSE b.body END AS text
              FROM base b JOIN base s ON s.doc_id = b.src)
            SELECT doc_id::BIGINT AS doc_id, text,
              {pick('dlang', 'doc_id', ['en', 'en', 'en', 'de', 'es', 'fr', 'zh'])} AS lang,
              'src' || (doc_id % 20) AS source, length(text)::BIGINT AS n_chars
            FROM texts""",
        # unit vectors with Box-Muller normal coordinates; labels uniform
        "embeddings": f"""WITH raw AS (
              SELECT i, list_transform(range(64), j ->
                  sqrt(-2 * ln(1 - (hash({seed}, 'eu1', i, j) % 1000000) / 1e6))
                  * cos(2 * pi() * (hash({seed}, 'eu2', i, j) % 1000000) / 1e6)) AS v
              FROM range({r['embeddings']}) t(i))
            SELECT i::BIGINT AS vec_id,
              list_transform(v, x -> (x / sqrt(list_sum(list_transform(v, y -> y * y))))::FLOAT) AS embedding,
              {ui('elabel', 'i', 0, 9)} AS label
            FROM raw""",
    }


def generate(out_dir, seed, scale=1.0, threads=4):
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET threads = {int(threads)}")
    con.execute(f"SET temp_directory = '{os.path.join(out_dir, '.duckdb_tmp')}'")
    for name, sql in tables(int(seed), scale).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        order = "1" if name != "embeddings" else "vec_id"
        con.execute(f"COPY (SELECT * FROM ({sql}) ORDER BY {order}) TO '{path}' "
                    "(FORMAT PARQUET, ROW_GROUP_SIZE 1000000)")
    con.close()


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]) if len(sys.argv) > 3 else 1.0)
