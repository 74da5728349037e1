"""SCAN clustering (graph.scan_clusters): pure-Python mirror of the
whole contract (P75-sigma eps pick, mu-core rule, 8 fixed min-label
rounds, border/hub/outlier) over randomized graphs plus a hand-built
two-community graph."""

import math
import random
from itertools import combinations

import pytest

from probability_of_buying_two_products_together_hadoop_project_spark.operators import graph


def py_scan(pairs, num=3, den=4, mu=3, rounds=8):
    edges = {tuple(sorted(p)) for p in pairs if p[0] != p[1]}
    nbrs = {}
    for a, b in edges:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    sig = {}
    for a, b in edges:
        common = len(nbrs[a] & nbrs[b]) + 2
        sig[(a, b)] = common / math.sqrt(
            (len(nbrs[a]) + 1) * (len(nbrs[b]) + 1)
        )
    m = len(edges)
    eps = sorted(sig.values())[(num * m + den - 1) // den - 1]
    eps_nbrs = {}
    for (a, b), s in sig.items():
        if s >= eps:
            eps_nbrs.setdefault(a, set()).add(b)
            eps_nbrs.setdefault(b, set()).add(a)
    cores = {v for v, ns in eps_nbrs.items() if len(ns) >= mu}
    lab = {v: v for v in cores}
    for _ in range(rounds):
        nxt = {}
        for v in cores:
            cands = [lab[v]] + [lab[u] for u in eps_nbrs[v] if u in cores]
            nxt[v] = min(cands)
        lab = nxt
    out = {}
    for v in nbrs:
        if v in cores:
            out[v] = (lab[v], "core")
        else:
            adj_core = [lab[u] for u in eps_nbrs.get(v, ()) if u in cores]
            if adj_core:
                out[v] = (min(adj_core), "border")
            else:
                raw_cl = {lab[u] for u in nbrs[v] if u in cores}
                out[v] = (None, "hub" if len(raw_cl) >= 2 else "outlier")
    return out


def _spark_scan_clusters(spark, pairs, **kw):
    df = spark.createDataFrame(sorted(pairs), "item string, neighbor string")
    rows = graph.scan_clusters(df, **kw).collect()
    return {r.node: (r.cluster_id, r.role) for r in rows}


def test_scan_clusters_two_communities(spark):
    # two 5-cliques bridged by one node of degree 2
    a = [f"a{i}" for i in range(5)]
    b = [f"b{i}" for i in range(5)]
    pairs = {(x, y) for grp in (a, b) for x, y in combinations(grp, 2)}
    pairs |= {("a0", "mid"), ("mid", "b0")}
    got = _spark_scan_clusters(spark, pairs)
    want = py_scan(pairs)
    assert got == want
    # the non-bridge clique members must share a cluster (a0/b0 carry
    # the bridge edge, which drags their sigma below the P75 eps)
    assert len({got[x][0] for x in a[1:]}) == 1
    assert len({got[x][0] for x in b[1:]}) == 1
    assert got["mid"][1] in ("border", "hub", "outlier")


def test_scan_clusters_matches_python_random(spark):
    rng = random.Random(31)
    nodes = [f"n{i:02d}" for i in range(20)]
    pairs = {
        (a, b) for a, b in combinations(nodes, 2) if rng.random() < 0.3
    }
    got = _spark_scan_clusters(spark, pairs)
    assert got == py_scan(pairs)


def test_scan_clusters_rejects_bad_params(spark):
    import pytest

    df = spark.createDataFrame([("a", "b")], "item string, neighbor string")
    with pytest.raises(ValueError):
        graph.scan_clusters(df, mu=0)


@pytest.mark.parametrize("num,den", [(4, 4), (5, 4), (0, 4)])
def test_scan_clusters_rejects_bad_eps_rank(spark, num, den):
    # an eps rank outside [1, den) names no order statistic; it must be
    # refused at entry, before any Spark job runs
    rng = random.Random(3)
    nodes = [f"n{i}" for i in range(6)]
    pairs = {(a, b) for a, b in combinations(nodes, 2) if rng.random() < 0.7}
    df = spark.createDataFrame(sorted(pairs), "item string, neighbor string")
    sc = spark.sparkContext
    group = f"scan-bad-eps-{num}-{den}"
    sc.setJobGroup(group, group)
    try:
        with pytest.raises(ValueError, match="1 <= eps_rank_num < eps_rank_den"):
            graph.scan_clusters(df, eps_rank_num=num, eps_rank_den=den)
    finally:
        sc.setJobGroup("", "")
    assert sc.statusTracker().getJobIdsForGroup(group) == []
