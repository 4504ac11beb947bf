"""Deterministic input corpus for the benchmark.

Writes the ten star-schema, event and content tables the engine's
queries read (`region nation customer supplier part orders lineitem
events documents embeddings`, one parquet file each) with the same
schemas, key spaces and value distributions as the engine's scale-factor
fixtures: uniform keys and categories, Poisson(4) line items per order,
an exponential event value, a sorted 30-day event clock, a 31-token
document vocabulary with 5% planted " dup" near-duplicates, and unit
64-dimensional embeddings.

Every pseudo-random draw is DuckDB's `hash()` of (row, column salt,
seed), so one seed always yields byte-identical values whatever the
thread count. The scale factor and the seed are fixed: the benchmark's own
`--seed` reorders queries, it never changes the inputs.
"""
import os
import shutil

import duckdb

# bump when the generated content changes, so cached corpora are rebuilt
VERSION = 1
SCALE = 0.01        # lineitem rows = 6M x SCALE
SEED = 42

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "small", "green"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]


def sizes(sf):
    return {
        "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "users": max(15, int(15_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def tables_sql(sf, seed):
    n = sizes(sf)

    def u(col, row="i"):
        # uniform [0, 1) from a salted hash of the row number
        return f"(hash({row}, '{col}', {seed}) % 1000000007) / 1000000007.0"

    def pick(col, k, row="i"):
        return f"(hash({row}, '{col}', {seed}) % {k})::BIGINT"

    def lst(xs):
        return "[" + ",".join(f"'{x}'" for x in xs) + "]"

    day0, days_o, days_l = "DATE '1995-01-01'", 2404, 2499
    sec_30d = 30 * 86400
    return {
        "region": f"""
            SELECT i::INT AS r_regionkey,
                   {lst(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])}[i + 1] AS r_name
            FROM range(5) t(i)""",
        "nation": """
            SELECT i::INT AS n_nationkey, 'NATION_' || i AS n_name,
                   (i % 5)::INT AS n_regionkey
            FROM range(25) t(i)""",
        "customer": f"""
            SELECT i AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
                   {pick('cn', 25)}::INT AS c_nationkey,
                   round(-999.99 + {u('cb')} * 10999.98, 2) AS c_acctbal,
                   {lst(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])}[{pick('cs', 5)} + 1] AS c_mktsegment
            FROM range({n['customer']}) t(i)""",
        "supplier": f"""
            SELECT i AS s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
                   {pick('sn', 25)}::INT AS s_nationkey,
                   round(-999.99 + {u('sb')} * 10999.98, 2) AS s_acctbal
            FROM range({n['supplier']}) t(i)""",
        "part": f"""
            SELECT i AS p_partkey,
                   {lst(ADJ)}[{pick('pa', 8)} + 1] || ' ' || {lst(NOUN)}[{pick('pn', 8)} + 1] AS p_name,
                   'Brand#' || ({pick('pb', 25)} + 1) AS p_brand,
                   {lst(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])}[{pick('pt', 6)} + 1] AS p_type,
                   ({pick('ps', 50)} + 1)::INT AS p_size,
                   round(900.0 + (i % 1000) / 10.0, 1) AS p_retailprice
            FROM range({n['part']}) t(i)""",
        "orders": f"""
            SELECT i AS o_orderkey, {pick('oc', n['customer'])}::BIGINT AS o_custkey,
                   {lst(["F", "O", "P"])}[{pick('os', 3)} + 1] AS o_orderstatus,
                   round(1000.0 + {u('op')} * 499000.0, 2) AS o_totalprice,
                   ({day0} + {pick('od', days_o)}::INT)::TIMESTAMP AS o_orderdate,
                   {lst(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])}[{pick('oo', 5)} + 1] AS o_orderpriority
            FROM range({n['orders']}) t(i)""",
        "lineitem": f"""
            SELECT {pick('lo', n['orders'])}::BIGINT AS l_orderkey,
                   {pick('lp', n['part'])}::BIGINT AS l_partkey,
                   {pick('ls', n['supplier'])}::BIGINT AS l_suppkey,
                   ({pick('ln', 7)} + 1)::INT AS l_linenumber,
                   ({pick('lq', 50)} + 1)::DOUBLE AS l_quantity,
                   round(900.0 + {u('le')} * 104100.0, 2) AS l_extendedprice,
                   {pick('ld', 11)} / 100.0 AS l_discount,
                   {pick('lt', 9)} / 100.0 AS l_tax,
                   {lst(["A", "N", "R"])}[{pick('lr', 3)} + 1] AS l_returnflag,
                   {lst(["F", "O"])}[{pick('lx', 2)} + 1] AS l_linestatus,
                   (DATE '1995-01-02' + {pick('lh', days_l)}::INT)::TIMESTAMP AS l_shipdate
            FROM range({n['lineitem']}) t(i)""",
        # jittered grid: ids follow event time, as in the fixtures
        "events": f"""
            SELECT i AS event_id,
                   TIMESTAMP '2024-01-01' + to_microseconds(
                       floor((i + {u('et')}) * {sec_30d * 1_000_000} / {n['events']})::BIGINT) AS ts,
                   {pick('eu', n['users'])}::BIGINT AS user_id,
                   {lst(["click", "error", "purchase", "signup", "view"])}[{pick('ey', 5)} + 1] AS event_type,
                   round(-50.0 * ln(1.0 - {u('ev')}), 2) AS value,
                   '{{"k": ' || {pick('ek', 100)} || '}}' AS props
            FROM range({n['events']}) t(i)""",
        "documents": f"""
            WITH base AS (
              SELECT i, (10 + {pick('dn', 91)})::INT AS nt FROM range({n['documents']}) t(i)
            ), words AS (
              SELECT i, string_agg({lst(VOCAB)}[{pick('dw', len(VOCAB), 'i * 1000 + k')} + 1], ' ' ORDER BY k) AS txt
              FROM base, range(100) r(k) WHERE k < nt GROUP BY i
            ), planted AS (
              SELECT w.i, CASE WHEN {pick('dd', 20, 'w.i')} = 0
                               THEN s.txt || ' dup' ELSE w.txt END AS text
              FROM words w JOIN words s
                ON s.i = {pick('ds', n['documents'], 'w.i')}
            )
            SELECT i AS doc_id, text,
                   {lst(["en", "en", "en", "en", "en", "en", "en", "en",
                         "de", "de", "de", "es", "es", "es", "fr", "fr", "fr",
                         "zh", "zh", "zh"])}[{pick('dl', 20)} + 1] AS lang,
                   'src' || (i % 20) AS source, length(text)::BIGINT AS n_chars
            FROM planted ORDER BY i""",
        # Box-Muller normals, then scaled to unit length
        "embeddings": f"""
            WITH g AS (
              SELECT i, d, sqrt(-2 * ln(1.0 - {u('ga', 'i * 64 + d')}))
                           * cos(2 * pi() * {u('gb', 'i * 64 + d')}) AS x
              FROM range({n['embeddings']}) t(i), range(64) r(d)
            ), nrm AS (SELECT i, sqrt(sum(x * x)) AS l FROM g GROUP BY i)
            SELECT g.i AS vec_id, list((x / l)::FLOAT ORDER BY d) AS embedding,
                   {pick('el', 10, 'g.i')}::INT AS label
            FROM g JOIN nrm USING (i) GROUP BY g.i, l ORDER BY g.i""",
    }


def generate(out_dir):
    """Write the corpus into `out_dir` (replaced) and return it."""
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name, sql in tables_sql(SCALE, SEED).items():
        con.execute(f"COPY ({sql}) TO '{tmp}/{name}.parquet' "
                    "(FORMAT parquet, ROW_GROUP_SIZE 122880)")
    con.close()
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    return out_dir

