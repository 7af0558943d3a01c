#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Writes the ten parquet tables graft's queries read (TPC-H-ish star schema
plus the `events`, `documents` and `embeddings` corpus tables), with the
same column names, types and value domains as the project's reference
test data, but every value drawn from a hash of (row, column, seed): the
same seed gives byte-identical inputs, another seed gives another draw.

    gen.py tables <dir> <sf> <seed>
    gen.py feed   <tablesDir> <feedDir> <docFiles> <eventFiles> <seed>

`feed` cuts the documents and events of a table directory into
time-ordered parquet files for the file-stream workload; the seed moves
the cut points.
"""
import os
import sys

import duckdb

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
ADJ = "large hot red cold old new blue small".split()
NOUN = "ring plate gear anvil gizmo widget rod bolt".split()


def connect(seed):
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    con.sql("SET enable_progress_bar = false")
    con.sql("SET TimeZone = 'UTC'")
    # u(i, salt): uniform [0, 1) from a hash of (row, column salt, seed)
    con.sql(f"CREATE MACRO u(i, salt) AS "
            f"(hash(i, salt, {int(seed)}) >> 11) / 9007199254740992.0")
    con.sql("CREATE MACRO pick(xs, i, salt) AS "
            "xs[1 + CAST(floor(u(i, salt) * len(xs)) AS BIGINT)]")
    # standard normal by Box-Muller over two independent uniforms
    con.sql("CREATE MACRO gauss(i, salt) AS "
            "sqrt(-2 * ln(1 - u(i, salt || 'a'))) "
            "* cos(2 * pi() * u(i, salt || 'b'))")
    return con


def copy(con, sql, path):
    con.sql(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")


def tables(dst, sf, seed, rel_sf=None):
    """All ten tables at scale factor `sf`; the seven relational ones at
    `rel_sf` instead when given."""
    os.makedirs(dst, exist_ok=True)
    con = connect(seed)
    r = sf if rel_sf is None else rel_sf
    n_cust, n_supp = int(150000 * r), max(10, int(10000 * r))
    n_part, n_ord = int(200000 * r), int(1500000 * r)
    n_line = int(6000000 * r)
    n_ev, n_users = int(1000000 * sf), max(15, int(15000 * sf))
    n_docs, n_vecs = max(500, int(50000 * sf)), max(500, int(20000 * sf))

    copy(con, "SELECT CAST(i AS INTEGER) AS r_regionkey, r_name FROM "
         "(SELECT unnest(range(5)) AS i, unnest(['AFRICA', 'AMERICA', "
         "'ASIA', 'EUROPE', 'MIDDLE EAST']) AS r_name)", f"{dst}/region.parquet")
    copy(con, "SELECT CAST(i AS INTEGER) AS n_nationkey, 'NATION_' || i AS "
         "n_name, CAST(i % 5 AS INTEGER) AS n_regionkey FROM range(25) t(i)",
         f"{dst}/nation.parquet")
    copy(con, f"""SELECT i AS c_custkey,
        'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') AS c_name,
        CAST(floor(u(i, 'cn') * 25) AS INTEGER) AS c_nationkey,
        round(-999.99 + u(i, 'ca') * 10999.8, 2) AS c_acctbal,
        pick(['MACHINERY', 'AUTOMOBILE', 'BUILDING', 'HOUSEHOLD',
              'FURNITURE'], i, 'cm') AS c_mktsegment
        FROM range({n_cust}) t(i)""", f"{dst}/customer.parquet")
    copy(con, f"""SELECT i AS s_suppkey,
        'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0') AS s_name,
        CAST(floor(u(i, 'sn') * 25) AS INTEGER) AS s_nationkey,
        round(-999.99 + u(i, 'sa') * 10999.8, 2) AS s_acctbal
        FROM range({n_supp}) t(i)""", f"{dst}/supplier.parquet")
    copy(con, f"""SELECT i AS p_partkey,
        pick({ADJ}, i, 'pa') || ' ' || pick({NOUN}, i, 'pn') AS p_name,
        'Brand#' || CAST(1 + floor(u(i, 'pb') * 25) AS BIGINT) AS p_brand,
        pick(['PROMO', 'LARGE', 'ECONOMY', 'STANDARD', 'SMALL', 'MEDIUM'],
             i, 'pt') AS p_type,
        CAST(1 + floor(u(i, 'ps') * 50) AS INTEGER) AS p_size,
        round(900 + (i % 1000) * 0.1::DOUBLE, 1) AS p_retailprice
        FROM range({n_part}) t(i)""", f"{dst}/part.parquet")
    copy(con, f"""SELECT i AS o_orderkey,
        CAST(floor(u(i, 'oc') * {n_cust}) AS BIGINT) AS o_custkey,
        pick(['F', 'O', 'P'], i, 'os') AS o_orderstatus,
        round(1000 + u(i, 'op') * 499000, 2) AS o_totalprice,
        TIMESTAMP '1995-01-01' + to_days(CAST(floor(u(i, 'od') * 2404)
            AS INTEGER)) AS o_orderdate,
        pick(['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'],
             i, 'oo') AS o_orderpriority
        FROM range({n_ord}) t(i)""", f"{dst}/orders.parquet")
    copy(con, f"""SELECT
        CAST(floor(u(i, 'lo') * {n_ord}) AS BIGINT) AS l_orderkey,
        CAST(floor(u(i, 'lp') * {n_part}) AS BIGINT) AS l_partkey,
        CAST(floor(u(i, 'ls') * {n_supp}) AS BIGINT) AS l_suppkey,
        CAST(1 + floor(u(i, 'll') * 7) AS INTEGER) AS l_linenumber,
        CAST(1 + floor(u(i, 'lq') * 50) AS DOUBLE) AS l_quantity,
        round(900 + u(i, 'le') * 104100, 2) AS l_extendedprice,
        floor(u(i, 'ld') * 11) / 100 AS l_discount,
        floor(u(i, 'lt') * 9) / 100 AS l_tax,
        pick(['A', 'N', 'R'], i, 'lr') AS l_returnflag,
        pick(['F', 'O'], i, 'lx') AS l_linestatus,
        TIMESTAMP '1995-01-02' + to_days(CAST(floor(u(i, 'lh') * 2498)
            AS INTEGER)) AS l_shipdate
        FROM range({n_line}) t(i)""", f"{dst}/lineitem.parquet")
    # event_id follows ts: ids are handed out in arrival order
    copy(con, f"""SELECT i AS event_id,
        TIMESTAMP '2024-01-01' + to_microseconds(CAST(floor(
            (i + u(i, 'et')) * 2592000000000.0 / {n_ev}) AS BIGINT)) AS ts,
        CAST(floor(u(i, 'eu') * {n_users}) AS BIGINT) AS user_id,
        pick(['signup', 'click', 'error', 'view', 'purchase'], i, 'ey')
            AS event_type,
        round(-50 * ln(1 - u(i, 'ev')), 2) AS value,
        '{{"k": ' || CAST(floor(u(i, 'ek') * 100) AS BIGINT) || '}}' AS props
        FROM range({n_ev}) t(i)""", f"{dst}/events.parquet")
    # documents: random 10-100 word texts; ~5% are another document's text
    # plus " dup" (near duplicates), ~0.2% an exact copy of another's text
    con.sql(f"""CREATE TEMP TABLE base AS SELECT i AS doc_id,
        array_to_string(list_transform(
            range(CAST(10 + floor(u(i, 'dk') * 91) AS BIGINT)),
            j -> pick({VOCAB}, i * 1000 + j, 'dw')), ' ') AS text
        FROM range({n_docs}) t(i)""")
    copy(con, f"""SELECT b.doc_id,
        CASE WHEN u(b.doc_id, 'dd') < 0.05 THEN o.text || ' dup'
             WHEN u(b.doc_id, 'dd') < 0.052 THEN o.text
             ELSE b.text END AS text,
        CASE WHEN u(b.doc_id, 'dl') < 0.41 THEN 'en'
             ELSE pick(['zh', 'de', 'es', 'fr'], b.doc_id, 'dg') END AS lang,
        'src' || (b.doc_id % 20) AS source,
        CAST(length(CASE WHEN u(b.doc_id, 'dd') < 0.05 THEN o.text || ' dup'
             WHEN u(b.doc_id, 'dd') < 0.052 THEN o.text
             ELSE b.text END) AS BIGINT) AS n_chars
        FROM base b JOIN base o ON o.doc_id =
            (b.doc_id + 1 + CAST(floor(u(b.doc_id, 'do') * ({n_docs} - 1))
             AS BIGINT)) % {n_docs}
        ORDER BY b.doc_id""", f"{dst}/documents.parquet")
    # embeddings: unit-norm isotropic Gaussian vectors, 64 dims, 10 labels
    copy(con, f"""SELECT vec_id, list_transform(g, x -> CAST(x / sqrt(
            list_sum(list_transform(g, y -> y * y))) AS FLOAT)) AS embedding,
        label FROM (SELECT i AS vec_id,
            list_transform(range(64), j -> gauss(i * 64 + j, 'eg')) AS g,
            CAST(floor(u(i, 'el') * 10) AS INTEGER) AS label
        FROM range({n_vecs}) t(i)) ORDER BY vec_id""",
         f"{dst}/embeddings.parquet")


def feed(src, dst, files, seed):
    """Documents (doc_id order, with a 20-bit bucket of the text prefix)
    and events (ts order) cut into files["docs"] and files["events"]
    parquet files at seeded cut points. File modification times increase with the file index, so
    the file stream source takes them in time order."""
    con = connect(seed)
    specs = [("docs", "doc_id", f"""SELECT doc_id,
                 CAST(hash(substr(text, 1, 64)) % 1048576 AS BIGINT) AS bucket
                 FROM '{src}/documents.parquet'"""),
             # TIMESTAMPTZ, which Spark reads as its (UTC) TIMESTAMP type
             ("events", "event_id", f"""SELECT event_id,
                 CAST(ts AS TIMESTAMPTZ) AS ts, user_id,
                 event_type, props, value FROM '{src}/events.parquet'""")]
    t = 1_600_000_000
    for name, key, sql in specs:
        d = f"{dst}/{name}"
        os.makedirs(d, exist_ok=True)
        con.sql(f"CREATE OR REPLACE TEMP TABLE f AS SELECT *, row_number() "
                f"OVER (ORDER BY {key}) - 1 AS rn FROM ({sql})")
        n = con.sql("SELECT count(*) FROM f").fetchone()[0]
        # equal-width cuts, each moved by up to a quarter width
        m = files[name]
        w = n / m
        cuts = [0] + [int(w * (k + 0.5 * con.sql(
            f"SELECT u({k}, '{name}cut')").fetchone()[0] - 0.25))
            for k in range(1, m)] + [n]
        for k in range(m):
            p = f"{d}/part-{k:04d}.parquet"
            copy(con, f"SELECT * EXCLUDE (rn) FROM f WHERE rn >= {cuts[k]} "
                 f"AND rn < {cuts[k + 1]} ORDER BY rn", p)
            t += 10
            os.utime(p, (t, t))


def main():
    cmd, args = sys.argv[1], sys.argv[2:]
    if cmd == "tables":
        tables(args[0], float(args[1]), int(args[2]))
    elif cmd == "feed":
        feed(args[0], args[1], {"docs": int(args[2]),
                                "events": int(args[3])}, int(args[4]))
    else:
        sys.exit(f"unknown command {cmd}")


if __name__ == "__main__":
    main()
