"""Seeded input generator for the benchmark.

Writes one directory per seed in the testdata layout the registry closures
and the DuckDB oracles read (`<dir>/<table>.parquet`, same column names and
types). The base tables come from a fixed base seed at a tenth of the sf0.1
sizes; the run seed only perturbs them:

* `lineitem`: whole orders are kept when hash(seed, l_orderkey) falls in a
  ~90 % share.
* `documents`: every base document is kept; a seeded ~5 % get one shared
  ~200-character boilerplate passage appended (the hot n-gram case), then a
  seeded ~20 % get a near-duplicate copy with a few words dropped, under new
  `doc_id`s.

Only the tables the benchmark items read are written (`nation`, `region`,
`lineitem`, `documents`). As in the sf0.1 testdata, `l_suppkey` is drawn
independently of `l_partkey` (not by TPC-H's four-suppliers-per-part rule).
RATIONALE.md compares the generated graphs with sf0.1's.
"""
import hashlib
import os
import shutil
import time

import duckdb

BASE_SEED = 42
# Base sizes: a tenth of the sf0.1 testdata (lineitem 600k rows, 150k
# orders, 20k parts, 1k suppliers, 5k documents), so a whole run with its
# warm-ups fits the benchmark's time budget. Documents keep their sf0.1 length
# distribution (10..100 words from a 30-word vocabulary).
N_LINEITEM = 60_000
N_ORDERS = 15_000
N_PARTS = 2_000
N_SUPPLIERS = 100
N_DOCS = 500
KEEP_ORDER_PERMILLE = 900
DUP_PERCENT = 20
BOILERPLATE_PERCENT = 5
DROP_ONE_IN = 12

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
BOILERPLATE = ("all content on this page is provided as is without warranty of "
               "any kind and may be reproduced only under the terms of the "
               "site license reproduced in full at the bottom of every page")
TABLES = ("nation", "region", "lineitem", "documents")


def _copy(con, sql, path):
    con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")


def generate(seed, out_dir):
    """Write the tables for `seed` into `out_dir`; returns {table: rows}."""
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    # DuckDB's multi-argument hash() combines the argument hashes so that
    # their low bits stay correlated (hash(k, i, 'p') % 4 fixes
    # hash(k, i, 's') % 4, which split the part-supplier graph into four
    # components); hashing one joined string keeps the draws independent.
    con.execute("CREATE MACRO h(a, b, c) AS hash(concat_ws(':', a, b, c))")
    b, s = BASE_SEED, int(seed)
    _copy(con, """SELECT CAST(i AS INTEGER) AS n_nationkey,
                         'NATION_' || i AS n_name,
                         CAST(i % 5 AS INTEGER) AS n_regionkey
                  FROM range(25) t(i)""", f"{tmp}/nation.parquet")
    _copy(con, """SELECT CAST(i AS INTEGER) AS r_regionkey, 'REGION_' || i AS r_name
                  FROM range(5) t(i)""", f"{tmp}/region.parquet")
    _copy(con, f"""
        WITH base AS (
          SELECT i,
                 CAST(h({b}, i, 'o') % {N_ORDERS} AS BIGINT) AS l_orderkey,
                 CAST(h({b}, i, 'p') % {N_PARTS} AS BIGINT) AS l_partkey,
                 CAST(h({b}, i, 's') % {N_SUPPLIERS} AS BIGINT) AS l_suppkey,
                 CAST(1 + h({b}, i, 'n') % 7 AS INTEGER) AS l_linenumber,
                 CAST(1 + h({b}, i, 'q') % 50 AS DOUBLE) AS l_quantity,
                 CAST(h({b}, i, 'x') % 10000000 AS DOUBLE) / 100 AS l_extendedprice,
                 CAST(h({b}, i, 'd') % 11 AS DOUBLE) / 100 AS l_discount,
                 CAST(h({b}, i, 't') % 9 AS DOUBLE) / 100 AS l_tax,
                 ['A', 'N', 'R'][CAST(1 + h({b}, i, 'r') % 3 AS BIGINT)] AS l_returnflag,
                 ['F', 'O'][CAST(1 + h({b}, i, 'l') % 2 AS BIGINT)] AS l_linestatus,
                 TIMESTAMP '1992-01-01' + to_days(CAST(h({b}, i, 'ts') % 3650 AS INTEGER))
                   AS l_shipdate
          FROM range({N_LINEITEM}) t(i))
        SELECT * EXCLUDE (i) FROM base
        WHERE h({s}, l_orderkey, 'keep') % 1000 < {KEEP_ORDER_PERMILLE}
        ORDER BY i""", f"{tmp}/lineitem.parquet")
    vocab = "[" + ", ".join(f"'{w}'" for w in VOCAB) + "]"
    _copy(con, f"""
        WITH d AS (
          SELECT i AS doc_id, CAST(10 + h({b}, i, 'len') % 91 AS BIGINT) AS nw FROM range({N_DOCS}) t(i)),
        w AS (
          SELECT doc_id, p, {vocab}[CAST(1 + h({b}, doc_id, p) % {len(VOCAB)} AS BIGINT)] AS word
          FROM d, range(100) r(p) WHERE p < nw),
        base AS (
          SELECT doc_id,
                 string_agg(word, ' ' ORDER BY p) AS text0
          FROM w GROUP BY doc_id),
        marked AS (
          SELECT doc_id,
                 CASE WHEN h({s}, doc_id, 'bp') % 100 < {BOILERPLATE_PERCENT}
                      THEN text0 || ' {BOILERPLATE}' ELSE text0 END AS text
          FROM base),
        copies AS (
          SELECT m.doc_id + {N_DOCS} AS doc_id,
                 string_agg(string_split(m.text, ' ')[p + 1], ' ' ORDER BY p) AS text
          FROM marked m, range(200) r(p)
          WHERE p < len(string_split(m.text, ' '))
            AND h({s}, m.doc_id, 'dup') % 100 < {DUP_PERCENT}
            AND h({s}, m.doc_id, concat('drop', p)) % {DROP_ONE_IN} <> 0
          GROUP BY m.doc_id),
        alld AS (SELECT * FROM marked UNION ALL SELECT * FROM copies)
        SELECT CAST(doc_id AS BIGINT) AS doc_id, text,
               ['en', 'en', 'zh', 'de', 'fr', 'es'][CAST(1 + h({b}, doc_id % {N_DOCS}, 'lang') % 6 AS BIGINT)] AS lang,
               'src' || (doc_id % 20) AS source,
               CAST(length(text) AS BIGINT) AS n_chars
        FROM alld ORDER BY doc_id""", f"{tmp}/documents.parquet")
    rows = {t: con.execute(f"SELECT count(*) FROM '{tmp}/{t}.parquet'").fetchone()[0]
            for t in TABLES}
    con.close()
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    return rows


def ensure(seed, root):
    """Generate the inputs for `seed` under `root` unless they exist.

    The directory name carries a hash of this file, so a changed generator
    never reuses inputs (or the digests recorded for them) of an older one.
    Returns (directory, {table: rows}, seconds spent generating)."""
    with open(__file__, "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()[:12]
    out_dir = os.path.join(root, f"seed-{int(seed)}-{version}")
    t0 = time.time()
    if not all(os.path.exists(f"{out_dir}/{t}.parquet") for t in TABLES):
        generate(seed, out_dir)
    con = duckdb.connect()
    rows = {t: con.execute(f"SELECT count(*) FROM '{out_dir}/{t}.parquet'").fetchone()[0]
            for t in TABLES}
    con.close()
    return out_dir, rows, time.time() - t0
