"""Seeded input generator for the benchmark (DuckDB, in-process).

Writes the TPC-H-shaped `customer`, `orders` and `lineitem` tables and the `documents`/`embeddings` corpus with
the column types `graft.SchemaGuard` pins, one parquet file per table. Every
value is derived from DuckDB's `hash(seed, row id, column tag)`, so one seed
always yields the same files and another seed yields other data of the same
shape. Shapes follow the repo's sf0.1 test data: 1..7 lineitems per order,
five market segments, 2-decimal money values, dates from 1995-01-01 on,
near-duplicate documents (so dedup finds pairs) and clustered 64-dim vectors
(so IVF cells fill unevenly, as real embeddings do).
"""
import os

import duckdb


def generate(out_dir, seed, tables, customers=0, suppliers=0, parts=0, orders=0,
             docs=0, vectors=0):
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 2")

    def h(tag, row="id"):
        return f"hash({seed}, {row}, '{tag}')"

    def pick(tag, n, row="id"):
        return f"CAST({h(tag, row)} % {n} AS INTEGER)"

    def unif(tag, row="id"):
        return f"(CAST({h(tag, row)} % 1000000 AS DOUBLE) / 1e6)"

    def elem(values, tag, row="id"):
        lst = ", ".join(f"'{v}'" for v in values)
        return f"[{lst}][{pick(tag, len(values), row)} + 1]"

    sql = {
        "customer": f"""SELECT id AS c_custkey,
            'Customer#' || lpad(CAST(id AS VARCHAR), 9, '0') AS c_name,
            {pick('cn', 25)} AS c_nationkey,
            round({unif('cb')} * 10999.99 - 999.99, 2) AS c_acctbal,
            {elem(['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'], 'cs')}
              AS c_mktsegment
            FROM (SELECT range AS id FROM range({customers}))""",
        "orders": f"""SELECT id AS o_orderkey,
            CAST({h('oc')} % {max(customers, 1)} AS BIGINT) AS o_custkey,
            {elem(['O', 'F', 'P'], 'os')} AS o_orderstatus,
            round({unif('op')} * 499000.0 + 1000.0, 2) AS o_totalprice,
            CAST(DATE '1995-01-01' + {pick('od', 2404)} AS TIMESTAMP) AS o_orderdate,
            {elem(['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'], 'oo')}
              AS o_orderpriority
            FROM (SELECT range AS id FROM range({orders}))""",
        # 1..7 lines per order (mean 4), shipped 1..121 days after the order
        "lineitem": f"""SELECT o AS l_orderkey,
            CAST({h('lp')} % {max(parts, 1)} AS BIGINT) AS l_partkey,
            CAST({h('ls')} % {max(suppliers, 1)} AS BIGINT) AS l_suppkey,
            CAST(ln AS INTEGER) AS l_linenumber,
            CAST({pick('lq', 50)} + 1 AS DOUBLE) AS l_quantity,
            round(({pick('lq', 50)} + 1) * (900 + {pick('lx', 1100)} / 10.0), 2)
              AS l_extendedprice,
            CAST({pick('ld', 11)} AS DOUBLE) / 100 AS l_discount,
            CAST({pick('lt', 9)} AS DOUBLE) / 100 AS l_tax,
            {elem(['A', 'N', 'R'], 'lr')} AS l_returnflag,
            {elem(['O', 'F'], 'lo')} AS l_linestatus,
            CAST(DATE '1995-01-01' + od + {pick('lw', 121)} + 1 AS TIMESTAMP) AS l_shipdate
            FROM (SELECT o, od, ln, o * 8 + ln AS id FROM (
              SELECT range AS o, {pick('od', 2404, 'range')} AS od,
                unnest(range(1, {pick('ol', 7, 'range')} + 2)) AS ln
              FROM range({orders})))""",
    }
    # documents: 20..90 words over a skewed 600-word vocabulary; one doc in
    # five copies an earlier doc with a tenth of its words replaced, which
    # gives minhash and the n-gram index near-duplicate pairs
    def word(row, pos):
        return (f"'w' || CAST(floor(600 * pow(CAST(hash({seed}, {row}, {pos}, 'tw') "
                f"% 1000000 AS DOUBLE) / 1e6, 2)) AS INTEGER)")

    sql["documents"] = f"""SELECT id AS doc_id, text,
        {elem(['en', 'de', 'fr', 'es', 'zh'], 'dl')} AS lang,
        'src' || {pick('ds', 20)} AS source,
        CAST(length(text) AS BIGINT) AS n_chars
        FROM (SELECT id, array_to_string(list_transform(range(n), p ->
            CASE WHEN hash({seed}, id, p, 'dm') % 10 = 0 THEN {word('id', 'p')}
            ELSE {word('src', 'p')} END), ' ') AS text
          FROM (SELECT id,
              CASE WHEN id > 0 AND {pick('dd', 5)} = 0
                THEN CAST(hash({seed}, id, 'db') % id AS BIGINT) ELSE id END AS src,
              {pick('dn', 71)} + 20 AS n
            FROM (SELECT range AS id FROM range({docs}))))"""
    # embeddings: ten label centres plus per-vector noise, 64 float dims
    sql["embeddings"] = f"""SELECT id AS vec_id,
        list_transform(range(64), d -> CAST(
          (CAST(hash({seed}, label, d, 'vc') % 2001 AS DOUBLE) / 1000 - 1) * 0.2 +
          (CAST(hash({seed}, id, d, 'vn') % 2001 AS DOUBLE) / 1000 - 1) * 0.08 AS FLOAT))
          AS embedding,
        label
        FROM (SELECT range AS id, {pick('vl', 10, 'range')} AS label FROM range({vectors}))"""

    for t in tables:
        con.execute(f"COPY ({sql[t]}) TO '{os.path.join(out_dir, t + '.parquet')}' (FORMAT PARQUET)")
    con.close()
