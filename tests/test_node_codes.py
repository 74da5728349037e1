"""The graph family's one node encoding (graph.node_codes): a dense,
order-preserving dictionary. Any string is an id — leading zeros, more
than 13 digits, non-numeric, non-ASCII — and code order is string order,
so the order-bearing outputs (the label-propagation community, BFS's
default seed, canonical sigma rows) come out as on the strings. Each
contract is checked against a pure-Python mirror, through the operators
and through the registry's lineitem graph queries."""

import os

import pytest
from pyspark.sql import functions as F

from probability_of_buying_two_products_together_hadoop_project_spark import registry
from probability_of_buying_two_products_together_hadoop_project_spark.operators import (
    basket,
    graph,
)

# ids a 13-digit numeric-string injection cannot carry, next to the ids
# they collide with or mis-order against
ODD_IDS = ["007", "7", "70", "12345678901234", "123456789012345", "a10",
           "a9", "b", "é", "ß", "日本", "01", "x9", ""]


def py_codes(ids):
    return {s: i for i, s in enumerate(sorted({s for s in ids if s is not None}))}


def _codes(spark, ids):
    df = spark.createDataFrame([(s,) for s in ids], "id string")
    return {r["node"]: r["code"] for r in graph.node_codes(df).collect()}


def test_node_codes_rank_in_string_order(spark):
    ids = ODD_IDS + ["7", "a10", None, None]  # duplicates and NULLs
    got = _codes(spark, ids)
    assert got == py_codes(ids)
    # code order is string order: "10" < "9" as strings, so as codes
    assert got["a10"] < got["a9"] and got["007"] < got["01"] < got["7"]


@pytest.mark.parametrize(
    "odd", ["12345678901234", "007", "01", "x9", "", None]
)
def test_node_codes_encode_ids_a_digit_injection_rejects(spark, odd):
    """These ids broke the old 13-digit string injection (truncation,
    leading zeros, non-numeric, empty, NULL). They encode next to their
    near-collisions and decode back unchanged; a NULL id drops."""
    ids = [odd, "7", "10", "9"]
    df = spark.createDataFrame([(s,) for s in ids], "id string")
    codes = graph.node_codes(df)
    enc = graph.encode_nodes(df, codes, "id")
    assert dict(enc.dtypes)["id"] == "int"
    back = [r["id"] for r in graph.decode_nodes(enc, codes, "id").collect()]
    assert sorted(back) == sorted(s for s in ids if s is not None)
    assert {r["id"] for r in enc.collect()} == set(py_codes(ids).values())


def test_node_codes_roundtrip_and_null_decode(spark):
    df = spark.createDataFrame([(s,) for s in ODD_IDS], "id string")
    codes = graph.node_codes(df)
    enc = graph.encode_nodes(df, codes, "id")
    back = graph.decode_nodes(enc, codes, "id")
    assert sorted(r["id"] for r in back.collect()) == sorted(ODD_IDS)
    # a NULL code (an unclustered SCAN node's cluster_id) stays NULL
    nulls = spark.createDataFrame([(0, None), (1, 0)], "a int, b int")
    got = graph.decode_nodes(nulls, codes, "a", "b").collect()
    first = sorted(ODD_IDS)[0]
    assert sorted((r["a"], r["b"]) for r in got) == sorted(
        [(first, None), (sorted(ODD_IDS)[1], first)]
    )


def test_node_codes_empty(spark):
    df = spark.createDataFrame([], "id string")
    assert graph.node_codes(df).collect() == []


def _coded_edges(spark, pairs):
    df = spark.createDataFrame(pairs, "item string, neighbor string")
    edges = graph.symmetric_edges(df)
    codes = graph.node_codes(edges.select("src"))
    return edges, codes, graph.encode_nodes(edges, codes, "src", "dst")


def _ring_pairs():
    # two triangles joined by a bridge plus a tail, over the odd ids
    return [("007", "7"), ("7", "a10"), ("007", "a10"), ("a10", "a9"),
            ("a9", "é"), ("é", "ß"), ("a9", "ß"), ("ß", "12345678901234"),
            ("", "01")]


def py_lpa(edges, iters=4):
    nbrs = {}
    for s, d in edges:
        nbrs.setdefault(s, []).append(d)
    labels = {v: v for v in nbrs}
    for _ in range(iters):
        nxt = {}
        for v, ns in nbrs.items():
            counts = {}
            for u in ns:
                counts[labels[u]] = counts.get(labels[u], 0) + 1
            nxt[v] = min(counts, key=lambda lb: (-counts[lb], lb))
        labels = nxt
    return labels


def py_bfs(edges, max_hops=4):
    nbrs = {}
    for s, d in edges:
        nbrs.setdefault(s, set()).add(d)
    if not nbrs:
        return {}
    dist = {min(nbrs): 0}
    frontier = {min(nbrs)}
    for h in range(1, max_hops + 1):
        frontier = {d for s in frontier for d in nbrs[s]} - set(dist)
        dist.update({v: h for v in frontier})
    return dist


def test_label_propagation_community_is_string_min_label(spark):
    edges, codes, coded = _coded_edges(spark, _ring_pairs())
    lab = graph.decode_nodes(
        graph.label_propagation(coded, iters=4), codes, "node", "community"
    )
    got = {r["node"]: r["community"] for r in lab.collect()}
    sym = [(r["src"], r["dst"]) for r in edges.collect()]
    assert got == py_lpa(sym)
    on_strings = graph.label_propagation(edges, iters=4).collect()
    assert got == {r["node"]: r["community"] for r in on_strings}


def test_bfs_default_seed_is_string_min_node(spark):
    edges, codes, coded = _coded_edges(spark, _ring_pairs())
    hops = graph.decode_nodes(graph.bfs_hops(coded, max_hops=4), codes, "node")
    got = {r["node"]: r["hops"] for r in hops.collect()}
    sym = [(r["src"], r["dst"]) for r in edges.collect()]
    assert got == py_bfs(sym)
    assert got[""] == 0  # "" sorts first: the string-min seed


def test_sigma_rows_canonical_in_string_order(spark):
    edges, codes, coded = _coded_edges(spark, _ring_pairs())
    sim = graph.decode_nodes(
        graph.scan_edge_similarity(coded, "src", "dst"), codes, "item_a", "item_b"
    )
    rows = sorted(map(tuple, sim.collect()))
    assert all(a < b for a, b, *_ in rows)
    on_strings = graph.scan_edge_similarity(edges, "src", "dst").collect()
    assert rows == sorted(map(tuple, on_strings))


def py_truss(pairs, rounds=3, num=3, den=4):
    cur = {tuple(sorted(p)) for p in pairs if p[0] != p[1]}

    def support(es):
        nb = {}
        for a, b in es:
            nb.setdefault(a, set()).add(b)
            nb.setdefault(b, set()).add(a)
        return {(a, b): len(nb[a] & nb[b]) for a, b in es}

    s0 = support(cur)
    if not s0:  # no edges: zero counts under a NULL threshold
        return [(r, 0, 0, None) for r in range(1, rounds + 1)]
    vals = sorted(s0.values())
    t = vals[(num * len(vals) + den - 1) // den - 1]
    out = []
    for r in range(1, rounds + 1):
        sup = support(cur)
        surv = {e for e, c in sup.items() if c >= t}
        out.append((r, len(cur), len(surv), t))
        cur = surv
    return out


def test_truss_peel_on_odd_ids_matches_mirror(spark):
    pairs = _ring_pairs() + [("007", "a9"), ("7", "a9"), ("b", "7"), ("b", "007")]
    df = spark.createDataFrame(pairs, "item string, neighbor string")
    got = [tuple(r) for r in graph.truss_peel(df, rounds=3).orderBy("round").collect()]
    assert got == py_truss(pairs)


def test_single_edge_and_empty_edge_set(spark):
    edges, codes, coded = _coded_edges(spark, [("b", "a")])
    sym = [("a", "b"), ("b", "a")]
    lab = graph.decode_nodes(graph.label_propagation(coded), codes, "node", "community")
    assert {r["node"]: r["community"] for r in lab.collect()} == py_lpa(sym)
    hops = graph.decode_nodes(graph.bfs_hops(coded), codes, "node")
    assert {r["node"]: r["hops"] for r in hops.collect()} == py_bfs(sym)
    one = spark.createDataFrame([("b", "a")], "item string, neighbor string")
    got = [tuple(r) for r in graph.truss_peel(one, rounds=2).orderBy("round").collect()]
    assert got == py_truss([("b", "a")], rounds=2)
    empty = spark.createDataFrame([], "item string, neighbor string")
    e_edges, e_codes, e_coded = _coded_edges(spark, [])
    assert e_codes.collect() == [] and e_coded.collect() == []
    assert graph.label_propagation(e_coded).collect() == []
    assert graph.bfs_hops(e_coded).collect() == []
    assert graph.truss_peel(empty, rounds=2).collect() == py_truss([], rounds=2)


# --- the registry's lineitem graph queries --------------------------------

GRAPH_QUERIES = [
    "pagerank_cooccurrence", "ppr_seeded_cooccurrence",
    "label_propagation_items", "bfs_hops_items", "kcore_peel_items",
    "triangle_count_sampled", "triangle_count_items",
    "scan_edge_similarity_items", "scan_clusters_items", "truss_peel_items",
    "clustering_coeff_items", "graph_transitivity_items",
]


def _string_build(spark, li, name):
    """Each query's result built directly on the item STRINGS (no node
    dictionary): the operators the registry runs, fed string edges."""
    pairs = basket.basket_pairs(basket.baskets_from_lineitem(li))
    edges = graph.symmetric_edges(pairs)
    canon = edges.filter(F.col("src") < F.col("dst"))
    sig = graph.scan_edge_similarity(pairs)
    if name == "pagerank_cooccurrence":
        return graph.pagerank(edges, iters=5)
    if name == "ppr_seeded_cooccurrence":
        return graph.personalized_pagerank(edges, registry._PPR_SEEDS, iters=5)
    if name == "label_propagation_items":
        return graph.label_propagation(edges, iters=4)
    if name == "bfs_hops_items":
        counts = basket.cooccurrence_counts(basket.baskets_from_lineitem(li))
        e2 = graph.symmetric_edges(counts.filter(F.col("pair_cnt") >= 2))
        return graph.bfs_hops(e2, max_hops=4)
    if name == "kcore_peel_items":
        return graph.kcore_peel(canon, k=80, rounds=4, a_col="src", b_col="dst",
                                pre_canonical=True)
    if name == "triangle_count_sampled":
        return graph.triangle_stats(canon, a_col="src", b_col="dst",
                                    edge_sample_pct=20, pre_canonical=True)
    if name in ("triangle_count_items", "graph_transitivity_items"):
        op = (graph.triangle_stats_from_similarity
              if name == "triangle_count_items" else graph.graph_transitivity)
        return op(sig)
    if name == "scan_edge_similarity_items":
        return sig
    if name == "scan_clusters_items":
        return graph.scan_clusters(pairs)
    if name == "truss_peel_items":
        return graph.truss_peel(pairs, rounds=3)
    return graph.local_clustering_coefficients(sig)


def _rowset(df):
    cols = sorted(df.columns)
    return sorted(repr(tuple(r[c] for c in cols)) for r in df.collect())


def _lineitem_dir(spark, tmp_path, rows):
    path = tmp_path / "lineitem.parquet"
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long, l_linenumber int"
    ).write.parquet(str(path))
    return str(tmp_path)


def _dense_orders(null_every=None):
    # 60 orders over 40 parts: dense enough for triangles, SCAN cores,
    # truss survivors and support-2 BFS edges; every null_every-th line
    # has a NULL partkey
    rows, n = [], 0
    for o in range(60):
        for ln in range(6):
            n += 1
            pk = None if null_every and n % null_every == 0 else (o * 7 + ln * 3) % 40 + 1
            rows.append((o, pk, ln + 1))
    return rows


@pytest.mark.parametrize(
    "case", ["null_partkeys", "no_pairs"]
)
def test_registry_graph_queries_equal_string_builds(spark, tmp_path, case):
    """NULL partkeys drop exactly as on the string build, and a lineitem
    without pairs (one item per order) gives the string build's empty or
    zero results, for all twelve graph queries."""
    rows = (
        _dense_orders(null_every=5)
        if case == "null_partkeys"
        else [(o, o % 9, 1) for o in range(30)] + [(99, None, 1), (99, 3, 2)]
    )
    sf_dir = _lineitem_dir(spark, tmp_path, rows)
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    for name in GRAPH_QUERIES:
        got = registry.REGISTRY[name].fn(spark, sf_dir)
        want = _string_build(spark, li, name)
        assert got.columns == want.columns, name
        assert _rowset(got) == _rowset(want), name
    if case == "null_partkeys":
        codes = registry._node_codes(spark, sf_dir).collect()
        want_ids = {str(pk) for _, pk, _ in rows if pk is not None}
        assert {r["node"] for r in codes} == want_ids
