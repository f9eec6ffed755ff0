"""Output checks against references computed outside Spark.

Every item's output is compared, order-insensitively and cell by cell, with
the result DuckDB computes from the item's `SparkEntry.oracleSql` entry on the
same generated tables (the route `tools/check_subset.py` takes). The graph
items make the same calls as q_components and q_pagerank and use their
oracles.
"""
import glob
import os

import duckdb

# item -> the SparkEntry.oracleSql entry whose query makes the same call
ORACLE = {"cc": "q_components", "pagerank": "q_pagerank"}


def oracle_name(item):
    return ORACLE.get(item, item)


def _connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _rows(df):
    df = df[sorted(df.columns)]
    return list(df.columns), sorted(df.itertuples(index=False, name=None), key=str)


def _compare(got, want):
    gcols, grows = _rows(got)
    wcols, wrows = _rows(want)
    if gcols != wcols:
        return f"columns: spark={gcols} reference={wcols}"
    if len(grows) != len(wrows):
        return f"rows: spark={len(grows)} reference={len(wrows)}"
    for i, (g, w) in enumerate(zip(grows, wrows)):
        for c, x, y in zip(gcols, g, w):
            if x != y and str(x) != str(y):
                return f"cell {c} of sorted row {i}: spark={x!r} reference={y!r}"
    return None


def verify(item, dump_dir, data_dir, oracle_sql):
    """None when the dumped output of `item` matches its reference, else why not."""
    files = sorted(glob.glob(os.path.join(dump_dir, "*.parquet")))
    if not files:
        return "no output written"
    con = _connect(data_dir)
    try:
        got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
        name = oracle_name(item)
        if name not in oracle_sql:
            return f"no oracle entry {name}"
        return _compare(got, con.execute(oracle_sql[name]).fetchdf())
    except Exception as e:  # an oracle that cannot run is a failed check
        return f"reference failed: {str(e).splitlines()[0][:200]}"
    finally:
        con.close()
