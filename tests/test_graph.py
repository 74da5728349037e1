"""Tests for the fixed-point PageRank operator: an independent pure-Python
simulation of the integer contract drives randomized graphs, plus shape
assertions on a hand-built hub graph."""

import random

import pytest
from pyspark.sql import functions as F

from probability_of_buying_two_products_together_hadoop_project_spark.operators import graph

UNITS = graph.UNITS


def py_pagerank(edges, iters=5, damping_pct=85):
    """Pure-python mirror of the fixed-point contract (floor division)."""
    out = {}
    for s, d in edges:
        out.setdefault(s, set()).add(d)
    nodes = sorted(out)
    n = len(nodes)
    deg = {s: len(ds) for s, ds in out.items()}
    teleport = (100 - damping_pct) * UNITS // (100 * n)
    r = {v: UNITS // n for v in nodes}
    for _ in range(iters):
        sums = {v: 0 for v in nodes}
        for s, ds in out.items():
            c = r[s] // deg[s]
            for d in ds:
                sums[d] += c
        r = {v: teleport + (damping_pct * sums[v]) // 100 for v in nodes}
    return r


def _spark_pr(spark, edges, iters=5):
    df = spark.createDataFrame(sorted(set(edges)), "src string, dst string")
    got = graph.pagerank(df, iters=iters).collect()
    return {r.node: r.rank_units for r in got}, got


def test_pagerank_matches_python_reference_random(spark):
    rng = random.Random(7)
    nodes = [f"n{i}" for i in range(30)]
    pairs = {
        (a, b)
        for _ in range(120)
        for a, b in [rng.sample(nodes, 2)]
    }
    edges = sorted(pairs | {(b, a) for a, b in pairs})  # symmetric
    got, rows = _spark_pr(spark, edges)
    assert got == py_pagerank(edges)
    for r in rows:  # derived double is the exact unit division
        assert r.rank == r.rank_units / float(UNITS)


def test_pagerank_hub_ranks_highest(spark):
    # star: hub connected to 8 spokes (symmetric) -> hub rank dominates
    edges = [("hub", f"s{i}") for i in range(8)] + [
        (f"s{i}", "hub") for i in range(8)
    ]
    got, _ = _spark_pr(spark, edges)
    hub = got.pop("hub")
    assert all(hub > v for v in got.values())
    spoke_vals = set(got.values())
    assert len(spoke_vals) == 1  # symmetric spokes tie exactly
    # mass is conserved up to floor-division loss: total <= UNITS,
    # and the loss is bounded by one unit per node per round
    total = hub + sum(got.values())
    assert UNITS - 9 * 2 * 5 <= total <= UNITS


def test_symmetric_edges_dedup_and_no_self_loops(spark):
    pairs = spark.createDataFrame(
        [("a", "b"), ("a", "b"), ("b", "a"), ("c", "c")],
        "item string, neighbor string",
    )
    got = {(r.src, r.dst) for r in graph.symmetric_edges(pairs).collect()}
    assert got == {("a", "b"), ("b", "a")}


def test_pagerank_uniform_on_regular_graph(spark):
    # a 4-cycle (2-regular): uniform distribution is the fixed point
    cyc = ["a", "b", "c", "d"]
    edges = [(cyc[i], cyc[(i + 1) % 4]) for i in range(4)] + [
        (cyc[(i + 1) % 4], cyc[i]) for i in range(4)
    ]
    got, _ = _spark_pr(spark, edges)
    assert len(set(got.values())) == 1


def test_pagerank_bad_damping_raises(spark):
    df = spark.createDataFrame([("a", "b")], "src string, dst string")
    with pytest.raises(ValueError):
        graph.pagerank(df, damping_pct=101)


# ---------------------------------------------------------------------------
# triangle_stats
# ---------------------------------------------------------------------------


def py_triangles(edges):
    """Brute-force undirected triangle count + wedge count from a pair list
    (directions/duplicates/self-loops tolerated, like the operator)."""
    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    nodes = sorted(adj)
    tri = sum(
        1
        for i, x in enumerate(nodes)
        for y in nodes[i + 1 :]
        if y in adj[x]
        for z in nodes
        if z > y and z in adj[x] and z in adj[y]
    )
    wedges = sum(len(v) * (len(v) - 1) // 2 for v in adj.values())
    return len(nodes), len(und), wedges, tri


def _spark_tri(spark, edges):
    df = spark.createDataFrame(sorted(set(edges)), "item string, neighbor string")
    [row] = graph.triangle_stats(df).collect()
    return row


def test_triangle_k4_complete(spark):
    nodes = ["a", "b", "c", "d"]
    edges = [(x, y) for x in nodes for y in nodes if x != y]  # both dirs
    row = _spark_tri(spark, edges)
    assert (row.n_nodes, row.n_edges, row.n_wedges, row.n_triangles) == (4, 6, 12, 4)
    assert row.transitivity == 1.0


def test_triangle_path_has_none(spark):
    edges = [("a", "b"), ("b", "c"), ("c", "d")]
    row = _spark_tri(spark, edges)
    assert row.n_triangles == 0 and row.n_wedges == 2
    assert row.transitivity == 0.0


def test_triangle_matches_python_reference_random(spark):
    rng = random.Random(13)
    nodes = [f"v{i:02d}" for i in range(24)]
    for seed in range(3):
        rng.seed(seed * 101 + 7)
        edges = {
            tuple(rng.sample(nodes, 2))
            for _ in range(140)
        }
        row = _spark_tri(spark, sorted(edges))
        n, m, w, t = py_triangles(edges)
        assert (row.n_nodes, row.n_edges, row.n_wedges, row.n_triangles) == (
            n,
            m,
            w,
            t,
        )
        want = 0.0 if w == 0 else 3.0 * t / w
        assert row.transitivity == want


def test_triangle_hub_star_no_blowup_semantics(spark):
    # star graph: hub-deg 10, no triangles, wedges = C(10,2) at the hub
    edges = [("hub", f"s{i}") for i in range(10)]
    row = _spark_tri(spark, edges)
    assert row.n_triangles == 0
    assert row.n_wedges == 45


def test_triangle_edge_sampled_matches_python_doulion(spark):
    import hashlib

    rng = random.Random(99)
    nodes = [f"v{i:02d}" for i in range(30)]
    edges = sorted({tuple(rng.sample(nodes, 2)) for _ in range(260)})
    df = spark.createDataFrame(edges, "item string, neighbor string")
    pct = 50
    [row] = graph.triangle_stats(df, edge_sample_pct=pct).collect()
    # python mirror: same md5 draw over canonical edges, brute count after
    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}

    def keep(lo, hi):
        h = hashlib.md5(f"tri|{lo}|{hi}".encode()).hexdigest()[:8]
        return int(h, 16) % 100 < pct

    sampled = {e for e in und if keep(*e)}
    n, m, w, t = py_triangles(sampled)
    n_full, m_full, _, _ = py_triangles(und)
    assert row.n_nodes == n_full and row.n_edges == m_full
    assert row.n_edges_sampled == len(sampled)
    assert row.n_closed_sampled == t
    assert row.est_triangles == t * (100 // pct) ** 3


def test_triangle_edge_sample_pct_validation(spark):
    df = spark.createDataFrame([("a", "b")], "item string, neighbor string")
    for bad in (0, 101, 30, 7):
        with pytest.raises(ValueError):
            graph.triangle_stats(df, edge_sample_pct=bad)


# ---------------------------------------------------------------------------
# kcore_peel
# ---------------------------------------------------------------------------


def py_kcore_peel(edges, k, rounds):
    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    out = []
    for _ in range(rounds):
        deg = {}
        for a, b in und:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        keep = {n for n, d in deg.items() if d >= k}
        out.append((len(deg), len(keep)))
        und = {(a, b) for a, b in und if a in keep and b in keep}
    return out


def test_kcore_matches_python_reference_random(spark):
    rng = random.Random(31)
    nodes = [f"u{i:02d}" for i in range(26)]
    for seed in range(3):
        rng.seed(seed * 7 + 3)
        edges = sorted({tuple(rng.sample(nodes, 2)) for _ in range(120)})
        df = spark.createDataFrame(edges, "item string, neighbor string")
        got = [
            (r.round, r.n_nodes_before, r.n_survivors)
            for r in graph.kcore_peel(df, k=6, rounds=4)
            .orderBy("round")
            .collect()
        ]
        want = [
            (i + 1, nb, ns) for i, (nb, ns) in enumerate(py_kcore_peel(edges, 6, 4))
        ]
        assert got == want


def test_kcore_complete_graph_stable(spark):
    nodes = [f"c{i}" for i in range(6)]
    edges = [(x, y) for x in nodes for y in nodes if x < y]
    df = spark.createDataFrame(edges, "item string, neighbor string")
    got = [
        (r.n_nodes_before, r.n_survivors)
        for r in graph.kcore_peel(df, k=5, rounds=3).orderBy("round").collect()
    ]
    assert got == [(6, 6)] * 3  # K6 is its own 5-core: no-op rounds


def test_kcore_validation(spark):
    df = spark.createDataFrame([("a", "b")], "item string, neighbor string")
    with pytest.raises(ValueError):
        graph.kcore_peel(df, k=0)
    with pytest.raises(ValueError):
        graph.kcore_peel(df, k=2, rounds=0)
    with pytest.raises(ValueError):
        graph.kcore_peel(df, k=2, rounds=17)


def test_pagerank_broadcast_and_generic_paths_agree(spark):
    rng = random.Random(77)
    nodes = [f"p{i}" for i in range(24)]
    pairs = {tuple(rng.sample(nodes, 2)) for _ in range(90)}
    edges = sorted(pairs | {(b, a) for a, b in pairs})
    df = spark.createDataFrame(edges, "src string, dst string")
    fast = {r.node: r.rank_units for r in graph.pagerank(df, iters=4).collect()}
    slow = {
        r.node: r.rank_units
        for r in graph.pagerank(df, iters=4, broadcast_ranks=False).collect()
    }
    assert fast == slow == py_pagerank(edges, iters=4)


# ---------------------------------------------------------------------------
# bfs_hops
# ---------------------------------------------------------------------------


def _bfs_edges(spark, pairs):
    return spark.createDataFrame(sorted(set(pairs)), "src string, dst string")


def py_bfs(edges, seeds, max_hops):
    """Pure-python mirror: min hop distance within max_hops rounds."""
    adj = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
    dist = {v: 0 for v in seeds}
    frontier = set(seeds)
    for h in range(1, max_hops + 1):
        nxt = {d for s in frontier for d in adj.get(s, ())} - dist.keys()
        for v in nxt:
            dist[v] = h
        frontier = nxt
    return dist


def test_bfs_hops_chain_default_seed(spark):
    # chain a->b->c->d->e (symmetric) plus isolated pair x<->y: default
    # seed is min src = "a"; the x/y component is unreachable and absent.
    chain = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")]
    pairs = chain + [(d, s) for s, d in chain] + [("x", "y"), ("y", "x")]
    got = {
        r.node: r.hops
        for r in graph.bfs_hops(_bfs_edges(spark, pairs), max_hops=3).collect()
    }
    assert got == {"a": 0, "b": 1, "c": 2, "d": 3}  # e beyond horizon, x/y absent


def test_bfs_hops_matches_python_reference_random(spark):
    rng = random.Random(11)
    nodes = [f"n{i}" for i in range(40)]
    pairs = {(a, b) for _ in range(90) for a, b in [rng.sample(nodes, 2)]}
    pairs |= {(b, a) for a, b in pairs}
    edges = sorted(pairs)
    seed = min(s for s, _ in edges)
    want = py_bfs(edges, [seed], 4)
    got = {
        r.node: r.hops
        for r in graph.bfs_hops(_bfs_edges(spark, edges), max_hops=4).collect()
    }
    assert got == want


def test_bfs_hops_multi_seed_and_shuffle_variant_agree(spark):
    rng = random.Random(23)
    nodes = [f"m{i}" for i in range(25)]
    pairs = {(a, b) for _ in range(60) for a, b in [rng.sample(nodes, 2)]}
    edges = _bfs_edges(spark, sorted(pairs))
    seeds = spark.createDataFrame([("m0",), ("m7",)], "node string")
    want = py_bfs(sorted(pairs), ["m0", "m7"], 3)
    bc = {
        r.node: r.hops
        for r in graph.bfs_hops(edges, max_hops=3, seed=seeds).collect()
    }
    sh = {
        r.node: r.hops
        for r in graph.bfs_hops(
            edges, max_hops=3, seed=seeds, broadcast_frontier=False
        ).collect()
    }
    assert bc == want and sh == want


def test_bfs_hops_rejects_bad_horizon(spark):
    e = _bfs_edges(spark, [("a", "b")])
    with pytest.raises(ValueError):
        graph.bfs_hops(e, max_hops=0)
    with pytest.raises(ValueError):
        graph.bfs_hops(e, max_hops=17)


# ---------------------------------------------------------------------------
# HITS hubs & authorities
# ---------------------------------------------------------------------------


def py_hits(edges, iters=2):
    """Pure-python mirror of the fixed-point HITS contract: exact integer
    sums, L1 normalization as (raw * UNITS) // total (floor == trunc on
    non-negatives)."""
    srcs = sorted({s for s, _ in edges})
    h = {s: UNITS // len(srcs) for s in srcs}
    a = {}
    for _ in range(iters):
        raw_a = {}
        for s, d in edges:
            raw_a[d] = raw_a.get(d, 0) + h[s]
        ta = sum(raw_a.values())
        a = {d: (r * UNITS) // ta for d, r in raw_a.items()}
        raw_h = {}
        for s, d in edges:
            raw_h[s] = raw_h.get(s, 0) + a[d]
        th = sum(raw_h.values())
        h = {s: (r * UNITS) // th for s, r in raw_h.items()}
    return h, a


def _hits_edges(spark, pairs):
    return spark.createDataFrame(sorted(set(pairs)), "src string, dst string")


def test_hits_matches_python_reference_random(spark):
    rng = random.Random(23)
    pairs = {
        (f"u{rng.randint(0, 11)}", f"p{rng.randint(0, 15)}") for _ in range(80)
    }
    want_h, want_a = py_hits(sorted(pairs), iters=2)
    rows = graph.hits(_hits_edges(spark, pairs), iters=2).collect()
    got_h = {r.node: r.score_units for r in rows if r.side == "hub"}
    got_a = {r.node: r.score_units for r in rows if r.side == "authority"}
    assert got_h == want_h
    assert got_a == want_a
    for r in rows:
        assert r.score == r.score_units / float(UNITS)


def test_hits_star_authority_dominates(spark):
    """Every buyer points at p0 plus one private product: p0 must be the
    top authority and all hubs tie."""
    pairs = [(f"u{i}", "p0") for i in range(5)] + [
        (f"u{i}", f"q{i}") for i in range(5)
    ]
    rows = graph.hits(_hits_edges(spark, pairs), iters=2).collect()
    auths = {r.node: r.score_units for r in rows if r.side == "authority"}
    hubs = {r.node: r.score_units for r in rows if r.side == "hub"}
    assert max(auths, key=auths.get) == "p0"
    assert len(set(hubs.values())) == 1
    # L1 normalization: each side sums to ~UNITS (floor slack < n)
    assert UNITS - len(hubs) < sum(hubs.values()) <= UNITS
    assert UNITS - len(auths) < sum(auths.values()) <= UNITS


def test_hits_broadcast_and_generic_paths_agree(spark):
    rng = random.Random(5)
    pairs = {
        (f"u{rng.randint(0, 7)}", f"p{rng.randint(0, 9)}") for _ in range(40)
    }
    e = _hits_edges(spark, pairs)
    bc = {(r.side, r.node): r.score_units for r in graph.hits(e, iters=2).collect()}
    gen = {
        (r.side, r.node): r.score_units
        for r in graph.hits(e, iters=2, broadcast_scores=False).collect()
    }
    assert bc == gen


def test_hits_validation(spark):
    e = _hits_edges(spark, [("a", "b")])
    with pytest.raises(ValueError):
        graph.hits(e, iters=0)


# ---------------------------------------------------------------------------
# Markov stationary distribution (power method)
# ---------------------------------------------------------------------------


def py_markov(transitions, iters=4):
    """Pure-python mirror: product-first fixed-point power method."""
    rt = {}
    for s, _, n in transitions:
        rt[s] = rt.get(s, 0) + n
    states = sorted(rt)
    pi = {s: UNITS // len(states) for s in states}
    for _ in range(iters):
        nxt = {s: 0 for s in states}
        for s, d, n in transitions:
            if d in nxt:
                nxt[d] += (pi[s] * n) // rt[s]
            else:
                nxt[d] = nxt.get(d, 0) + (pi[s] * n) // rt[s]
        # only SOURCE states persist as chain states
        pi = {s: nxt.get(s, 0) for s in states}
    return pi


def test_markov_matches_python_reference(spark):
    rng = random.Random(31)
    trans = {}
    for _ in range(60):
        s, d = f"s{rng.randint(0, 4)}", f"s{rng.randint(0, 4)}"
        trans[(s, d)] = trans.get((s, d), 0) + rng.randint(1, 9)
    rows = [(s, d, n) for (s, d), n in sorted(trans.items())]
    df = spark.createDataFrame(rows, "src string, dst string, n bigint")
    got = {
        r.state: r.mass_units
        for r in graph.markov_stationary(df, iters=4).collect()
    }
    assert got == py_markov(rows, iters=4)
    for r in graph.markov_stationary(df, iters=4).collect():
        assert r.mass == r.mass_units / float(UNITS)


def test_markov_absorbing_cycle_concentrates_mass(spark):
    # a -> b -> a cycle plus c leaking into it: mass leaves c entirely
    rows = [("a", "b", 10), ("b", "a", 10), ("c", "a", 5)]
    df = spark.createDataFrame(rows, "src string, dst string, n bigint")
    got = {
        r.state: r.mass_units
        for r in graph.markov_stationary(df, iters=4).collect()
    }
    assert got["c"] == 0
    assert abs(got["a"] + got["b"] - UNITS) <= 16  # floor leakage only
    import pytest

    with pytest.raises(ValueError):
        graph.markov_stationary(df, iters=0)


def test_markov_broadcast_and_generic_paths_agree(spark):
    rows = [("a", "b", 3), ("b", "c", 2), ("c", "a", 4), ("b", "a", 1)]
    df = spark.createDataFrame(rows, "src string, dst string, n bigint")
    bc = {r.state: r.mass_units for r in graph.markov_stationary(df).collect()}
    gen = {
        r.state: r.mass_units
        for r in graph.markov_stationary(df, broadcast_state=False).collect()
    }
    assert bc == gen


def test_markov_expr_fold_equals_relational_rounds(spark, monkeypatch):
    """The small-chain single-expression fold must match the
    round-per-job relational path unit for unit — including a pure
    sink (mass into 'z' is discarded: states = distinct sources)."""
    rows = [
        ("a", "b", 3), ("b", "c", 2), ("c", "a", 4), ("b", "a", 1),
        ("a", "z", 5),
    ]
    df = spark.createDataFrame(rows, "src string, dst string, n bigint")
    fast = {
        r.state: (r.mass_units, r.mass)
        for r in graph.markov_stationary(df, iters=5).collect()
    }
    monkeypatch.setattr(graph, "_MARKOV_EXPR_STATES_MAX", 0)
    slow = {
        r.state: (r.mass_units, r.mass)
        for r in graph.markov_stationary(df, iters=5).collect()
    }
    assert fast == slow


def test_local_clustering_coefficients_known_graph(spark):
    # triangle a-b-c plus pendant d-a: t(a)=t(b)=t(c)=1, t(d)=0;
    # lcc(a)=2/(3*2)=1/3, lcc(b)=lcc(c)=1, lcc(d)=0 (deg<2 convention)
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("a", "d")],
        "item string, neighbor string",
    )
    sim = graph.scan_edge_similarity(pairs)
    got = {
        r.node: (r.deg, r.triangles, r.lcc)
        for r in graph.local_clustering_coefficients(sim).collect()
    }
    assert got == {
        "a": (3, 1, 1.0 / 3.0),
        "b": (2, 1, 1.0),
        "c": (2, 1, 1.0),
        "d": (1, 0, 0.0),
    }


def test_graph_transitivity_known_graph(spark):
    # same fixture: wedges = 3 + 1 + 1 + 0 = 5, triangles = 1 -> 3/5
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("a", "d")],
        "item string, neighbor string",
    )
    sim = graph.scan_edge_similarity(pairs)
    row = graph.graph_transitivity(sim).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_triangles, row.n_wedges) == (
        4, 4, 1, 5,
    )
    assert row.transitivity == 3.0 / 5.0


def test_graph_transitivity_wedge_free_graph(spark):
    # a single disjoint edge has no wedge: transitivity must be NULL
    pairs = spark.createDataFrame(
        [("x", "y")], "item string, neighbor string"
    )
    sim = graph.scan_edge_similarity(pairs)
    row = graph.graph_transitivity(sim).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_wedges) == (2, 1, 0)
    assert row.transitivity is None


def test_truss_peel_known_graph(spark):
    # K4 on {a,b,c,d} (every edge support 2) plus pendant-triangle edge
    # set {d-e, e-f, d-f} (support 1 each) and a bridge f-g (support 0).
    # Initial supports sorted: [0,1,1,1,2,2,2,2,2,2] (10 edges);
    # P75 rank = ceil(30/4) = 8 -> t = 2. Round 1 keeps exactly the K4
    # (the d-e/e-f/d-f triangle and the bridge die); K4 supports stay 2
    # on the induced subgraph, so rounds 2-3 are no-ops.
    edges = [
        ("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
        ("c", "d"), ("d", "e"), ("e", "f"), ("d", "f"), ("f", "g"),
    ]
    pairs = spark.createDataFrame(edges, "item string, neighbor string")
    rows = {r.round: r for r in graph.truss_peel(pairs, rounds=3).collect()}
    assert rows[1].support_threshold == 2
    assert (rows[1].n_edges_before, rows[1].n_survivors) == (10, 6)
    assert (rows[2].n_edges_before, rows[2].n_survivors) == (6, 6)
    assert (rows[3].n_edges_before, rows[3].n_survivors) == (6, 6)


def test_truss_peel_cascade(spark):
    # Two triangles sharing edge b-c, plus a third triangle hanging off
    # d via d-e/e-f/d-f: with a manually dense graph the peel CASCADES —
    # removing low-support edges lowers surviving supports next round.
    # Use rank 1/2 (median) to exercise a non-default threshold.
    edges = [
        ("a", "b"), ("a", "c"), ("b", "c"), ("b", "d"), ("c", "d"),
        ("d", "e"), ("e", "f"), ("d", "f"),
    ]
    pairs = spark.createDataFrame(edges, "item string, neighbor string")
    out = {r.round: r for r in graph.truss_peel(
        pairs, rounds=2, t_rank_num=1, t_rank_den=2
    ).collect()}
    # supports: ab1 ac1 bc2 bd1 cd1 de1 ef1 df1 -> sorted [1]*7+[2];
    # median rank ceil(8/2)=4 -> t=1: every edge in >=1 triangle stays
    assert out[1].support_threshold == 1
    assert (out[1].n_edges_before, out[1].n_survivors) == (8, 8)
    assert (out[2].n_edges_before, out[2].n_survivors) == (8, 8)


def test_truss_peel_sup0_path_equals_recompute(spark):
    # the registry feeds truss_peel the shared sigma relation's
    # support as sup0 — the fast path must be row-identical to the
    # self-computed round-1 support
    rows = [("u", str(i % 23), str((i * 7) % 23)) for i in range(300)]
    pairs = spark.createDataFrame(rows, "c string, item string, neighbor string")
    base = graph.truss_peel(pairs, rounds=3).collect()
    sig = graph.scan_edge_similarity(pairs)
    sup0 = sig.select(
        F.col("item_a").alias("lo"),
        F.col("item_b").alias("hi"),
        (F.col("common_closed") - 2).cast("long").alias("sup"),
    )
    fast = graph.truss_peel(pairs, rounds=3, sup0=sup0).collect()
    assert sorted(map(tuple, fast)) == sorted(map(tuple, base))
    # tri0 path: rounds >= 2 filter the pinned triangle list instead of
    # re-running the wedge join — must also be row-identical
    sig2, tri = graph.scan_edge_similarity(pairs, return_triangles=True)
    sup0b = sig2.select(
        F.col("item_a").alias("lo"),
        F.col("item_b").alias("hi"),
        (F.col("common_closed") - 2).cast("long").alias("sup"),
    )
    fastest = graph.truss_peel(pairs, rounds=3, sup0=sup0b, tri0=tri).collect()
    assert sorted(map(tuple, fastest)) == sorted(map(tuple, base))
    import pytest

    with pytest.raises(ValueError):
        graph.truss_peel(pairs, rounds=3, tri0=tri)


def test_truss_peel_packed_edge_keys_match_pair_loop(spark):
    # with integral ids in [0, 2^31) the tri0 round loop runs on packed
    # single-long edge keys (half the triangle-list shuffle); it must be
    # row-identical to the (lo, hi) pair loop, and ids outside the safe
    # range must fall back to the pair loop
    rows = [("u", str(i % 23), str((i * 7) % 23)) for i in range(300)]
    pairs = spark.createDataFrame(
        rows, "c string, item string, neighbor string"
    )
    sig, tri = graph.scan_edge_similarity(pairs, return_triangles=True)
    sup0_str = sig.select(
        F.col("item_a").alias("lo"),
        F.col("item_b").alias("hi"),
        (F.col("common_closed") - 2).cast("long").alias("sup"),
    )
    base = graph.truss_peel(
        pairs, rounds=3, sup0=sup0_str, tri0=tri
    ).collect()  # string ids: pair loop
    sup0_long = sup0_str.select(
        F.col("lo").cast("long").alias("lo"),
        F.col("hi").cast("long").alias("hi"),
        "sup",
    )
    tri_long = tri.select(
        *[F.col(c).cast("long").alias(c) for c in tri.columns]
    )
    packed = graph.truss_peel(
        pairs, rounds=3, sup0=sup0_long, tri0=tri_long
    ).collect()  # long ids < 2^31: packed loop
    assert sorted(map(tuple, packed)) == sorted(map(tuple, base))
    # shift every id past 2^31: the gate must refuse to pack and the
    # pair loop must still produce the same counts (+big preserves
    # lo < hi and all identities)
    big = 1 << 31
    sup0_big = sup0_long.select(
        (F.col("lo") + big).alias("lo"), (F.col("hi") + big).alias("hi"), "sup"
    )
    tri_big = tri_long.select(
        *[(F.col(c) + big).alias(c) for c in tri_long.columns]
    )
    fallback = graph.truss_peel(
        pairs, rounds=3, sup0=sup0_big, tri0=tri_big
    ).collect()
    assert sorted(map(tuple, fallback)) == sorted(map(tuple, base))


def test_triangle_stats_from_similarity_matches_self_contained(spark):
    # the registry derives triangle_count_items from the shared sigma;
    # the derived form must be row-identical to the wedge pipeline
    rows = [
        ("u", str(a), str(b))
        for a in range(9)
        for b in range(9)
        if a != b and (a + b) % 3 != 0
    ]
    pairs = spark.createDataFrame(rows, "c string, item string, neighbor string")
    base = graph.triangle_stats(pairs).collect()
    derived = graph.triangle_stats_from_similarity(
        graph.scan_edge_similarity(pairs)
    ).collect()
    assert [tuple(r) for r in derived] == [tuple(r) for r in base]
    assert derived[0]["n_triangles"] > 0


def test_truss_peel_validation(spark):
    pairs = spark.createDataFrame([("a", "b")], "item string, neighbor string")
    import pytest

    with pytest.raises(ValueError):
        graph.truss_peel(pairs, rounds=0)
    with pytest.raises(ValueError):
        graph.truss_peel(pairs, t_rank_num=4, t_rank_den=4)


def test_truss_peel_rejects_out_of_range_tri0_id(spark):
    # sup0's ids pass the packing gate, but a caller-supplied triangle
    # carrying an id >= 2^31 would alias another edge's packed key
    # ((0, 2^32) packs like (1, 0)): the pack must raise, not alias
    rows = [("u", str(i % 23), str((i * 7) % 23)) for i in range(300)]
    pairs = spark.createDataFrame(rows, "c string, item string, neighbor string")
    sig, tri = graph.scan_edge_similarity(pairs, return_triangles=True)
    sup0 = sig.select(
        F.col("item_a").cast("long").alias("lo"),
        F.col("item_b").cast("long").alias("hi"),
        (F.col("common_closed") - 2).cast("long").alias("sup"),
    )
    tri_long = tri.select(*[F.col(c).cast("long").alias(c) for c in tri.columns])
    bad = spark.createDataFrame(
        [(0, 1 << 32, 0, 2, 1, 2)],
        "lo1 long, hi1 long, lo2 long, hi2 long, lo3 long, hi3 long",
    )
    with pytest.raises(Exception, match="edge id outside"):
        graph.truss_peel(
            pairs, rounds=3, sup0=sup0, tri0=tri_long.unionByName(bad)
        ).collect()
