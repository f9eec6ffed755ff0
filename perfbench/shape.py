#!/usr/bin/env python3
"""Graph shape of the inputs of the benchmark's graph items.

    python3 perfbench/shape.py DIR [DIR ...]

For each directory in the testdata layout (the sf0.1 testdata, or one that
gen.py wrote), prints the shape of the two graphs the graph items read:
`Tables.partSupplierDirectedEdges` (PageRank's input: every lineitem as a
part -> supplier edge) and `Tables.partSupplierEdges` (connected components'
input: lineitems with l_quantity <= 2). PageRank's round count is that of
`PageRank.scoresFixedPointConvergent` at tolQ = 1e6, replayed here with the
same integer recurrence. RATIONALE.md records the output for sf0.1 and
generated seeds.
"""
import collections
import sys

import duckdb


def components(edges):
    """(number of connected components, size of the largest)."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    sizes = collections.Counter(find(x) for x in list(parent))
    return len(sizes), max(sizes.values())


def pagerank_rounds(pairs, scale=10**12, tol_q=10**6, max_iter=60):
    """Rounds until the integer L1 change drops below tol_q."""
    names = sorted({s for s, _, _ in pairs} | {d for _, d, _ in pairs})
    n = len(names)
    index = {x: i for i, x in enumerate(names)}
    outdeg = collections.Counter()
    for s, _, m in pairs:
        outdeg[s] += m
    es = [(index[s], index[d], m, outdeg[s]) for s, d, m in pairs]
    r, base = [scale // n] * n, 3 * scale // (20 * n)
    for it in range(1, max_iter + 1):
        nxt = [base] * n
        for s, d, m, od in es:
            nxt[d] += (17 * m * r[s]) // (20 * od)
        l1 = sum(abs(a - b) for a, b in zip(nxt, r))
        r = nxt
        if l1 < tol_q:
            return it
    return max_iter


def shape(data_dir):
    con = duckdb.connect()
    li = f"read_parquet('{data_dir}/lineitem.parquet')"
    pairs = con.execute(f"SELECT 'P' || l_partkey, 'S' || l_suppkey, count(*) "
                        f"FROM {li} GROUP BY 1, 2").fetchall()
    cc = con.execute(f"SELECT 'P' || l_partkey, 'S' || l_suppkey FROM {li} "
                     f"WHERE l_quantity <= 2").fetchall()
    con.close()
    parts = {s for s, _, _ in pairs}
    suppliers = {d for _, d, _ in pairs}
    n_comp, largest = components(cc)
    return {
        "pagerank.edges": sum(m for _, _, m in pairs),
        "pagerank.distinct_edges": len(pairs),
        "pagerank.parts": len(parts),
        "pagerank.suppliers": len(suppliers),
        "pagerank.suppliers_per_part": round(len(pairs) / len(parts), 1),
        "pagerank.parts_per_supplier": round(len(pairs) / len(suppliers), 1),
        "pagerank.rounds": pagerank_rounds(pairs),
        "cc.edges": len(cc),
        "cc.distinct_edges": len(set(cc)),
        "cc.nodes": len({a for a, _ in cc} | {b for _, b in cc}),
        "cc.components": n_comp,
        "cc.largest_component": largest,
    }


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    for d in sys.argv[1:]:
        print(d, " ".join(f"{k}={v}" for k, v in shape(d).items()))
