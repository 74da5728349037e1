"""Graph operators over pair evidence: fixed-iteration PageRank.

The engine's co-occurrence surface (reference semantics,
/root/reference/src/CrystalBallPair.java) produces exactly the pair
evidence a product graph is built from; PageRank over that graph is the
canonical "which item is central to the catalog" ranking — the natural
companion to the per-item conditional probabilities the reference
computes. ``near_dup_clusters`` (operators/dedup.py) covers the other
classic graph primitive (connected components); this module adds the
eigenvector-style one.

Design: FIXED iteration count, not run-to-convergence. That keeps the
operator a pure dataflow (5 deterministic rounds = 5 join+agg stages —
the same plan a Pregel superstep loop lowers to) and, unlike a
convergence test, keeps the whole computation expressible in ANSI SQL
(the DuckDB oracle unrolls the same rounds as chained CTEs), so the
driver hash-pins every rank bit cross-engine.

Determinism (the iterated-double trap): iterating float arithmetic and
rounding per stage is NOT enough — ranks divided by power-of-2/5 degrees
systematically produce exact decimal-half ties, where Spark (BigDecimal
HALF_UP over the shortest double repr) and DuckDB (scaled binary
rounding) disagree in the last digit (measured: 153/2000 nodes off by
1e-9 at sf0.01). So the operator uses FIXED-POINT INTEGER arithmetic
throughout: ranks live in 1e-12 units (bigint), every contribution is a
floor division ``rank_units div degree``, the damping multiply is
``(85 * sum) div 100`` — operations with a single well-defined result
in both engines. No float touches the iteration; the final ``rank``
double is one exact-input division at the very end.

Scale posture: state per iteration is one (node, rank) row per node —
16 bytes; edges are scanned once per iteration through a join on src.
On a cluster the edge table is partitioned by src ONCE (localCheckpoint
pins it); each round shuffles only the rank table (nodes, not edges)
plus the per-dst aggregation. Degenerate skew (a hub node) is the same
hot-key story as the flagship's marginal join — AQE skew-split applies.
With symmetric edges every node has degree >= 1, so there is no
dangling-mass redistribution term.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def symmetric_edges(
    pairs: DataFrame, a_col: str = "item", b_col: str = "neighbor"
) -> DataFrame:
    """Undirected edge list from pair evidence: both directions, distinct,
    self-loops dropped.

    The dedup runs on CANONICAL (least, greatest) pairs and only then
    expands to both directions inside an array expression — one distinct
    over N pair rows instead of one over the 2N-row symmetrized union
    (the distinct is this builder's whole cost; measured it halves the
    edge-build shuffle on the co-occurrence graph)."""
    a, b = F.col(a_col), F.col(b_col)
    canon = (
        pairs.filter(a != b)
        .select(F.least(a, b).alias("_lo"), F.greatest(a, b).alias("_hi"))
        .distinct()
    )
    both = F.array(
        F.struct(F.col("_lo").alias("src"), F.col("_hi").alias("dst")),
        F.struct(F.col("_hi").alias("src"), F.col("_lo").alias("dst")),
    )
    return canon.select(F.explode(both).alias("_e")).select("_e.src", "_e.dst")


UNITS = 10**12  # fixed-point scale: ranks in 1e-12 units

# How many min-label rounds chain inside one checkpointed job in
# scan_clusters: the self-loop round form consumes its state exactly
# once, so chaining changes NO results and recomputes NO subtrees —
# only the job-launch/checkpoint latency per round. 1 = the original
# round-per-job form. Measured at sf0.1 (8 rounds, 598k eps-edges):
# walls are host-noise-flat but the timed shuffle drops monotonically
# with chaining (175 / 132 / 111 MB at cadence 1 / 4 / 8 — AQE sees
# the label side's runtime size inside a chained job and broadcasts
# it, so the edge table stops re-shuffling every round). Env-
# overridable for A/B without code edits; result-invariant by
# construction.
try:
    _LABEL_CKPT_EVERY = max(
        1, int(os.environ.get("SPARK_GRAFT_LABEL_CKPT", "8"))
    )
except ValueError:  # malformed env (A/B typo) must not break import
    _LABEL_CKPT_EVERY = 8

# State-count gate for markov_stationary's single-expression fold: the
# folded power iteration is O(states x edges) expression work per
# round inside one task, which beats round-per-job latency while the
# chain is states-bounded (event-type chains: dozens at any corpus
# size) and would not on a genuinely large state space.
_MARKOV_EXPR_STATES_MAX = 512


def pagerank(
    edges: DataFrame,
    iters: int = 5,
    damping_pct: int = 85,
    broadcast_ranks: bool = True,
) -> DataFrame:
    """PageRank over a directed edge list (``src``, ``dst``) where every
    node appears as a source (guaranteed by :func:`symmetric_edges`).

    Returns (node, rank_units, rank) after ``iters`` rounds from the
    uniform start, in the fixed-point contract described in the module
    docstring (``damping_pct`` is the damping factor in percent so it
    stays an integer). The one driver-side action (node count, for the
    uniform prior and teleport term) is inherent to the algorithm — the
    same structure as MLlib's iterative fitters.

    ``broadcast_ranks`` (default True): the per-round (node, rank) and
    degree tables are 16-byte rows — broadcast-sized until the node
    count itself outgrows executor memory. Spark cannot auto-broadcast
    them because localCheckpoint erases size statistics (the plan
    reports the default huge sizeInBytes), so the hint is explicit.
    With ranks broadcast the edge table needs NO repartition at all —
    the broadcast joins pipeline over the scan partitioning and only
    per-partition PARTIAL aggregate rows (<= nodes per partition) cross
    the wire each round; a dst-repartition was measured and rejected
    (it shuffles the whole edge table to save exchanges that were
    already partial-agg-sized: +41 MB for nothing). Measured at sf0.1
    (1.2M edges): 14.1 s / 81.9 MB -> 7.7 s / 72.7 MB, identical
    results. Set False for billion-node graphs where the rank table no
    longer broadcasts: rounds fall back to src-partitioned shuffle
    joins (the generic path).
    """
    if not 0 <= damping_pct <= 100:
        raise ValueError(f"damping_pct must be in [0, 100], got {damping_pct}")

    def uniform(nodes: DataFrame):
        n = nodes.count()
        if n == 0:
            return None
        # python floor division == SQL `div` for the non-negative ints
        return (
            F.lit(UNITS // n),
            F.lit((100 - damping_pct) * UNITS // (100 * n)),
        )

    return _rank_rounds(edges, uniform, iters, damping_pct, broadcast_ranks)


def _rank_rounds(
    edges: DataFrame,
    prior: Callable[[DataFrame], tuple[Column, Column] | None],
    iters: int,
    damping_pct: int,
    broadcast_ranks: bool,
) -> DataFrame:
    """(internal) The one PageRank round loop, shared by
    :func:`pagerank` and :func:`personalized_pagerank`: pin the edges,
    the degrees and the node set, then ``iters`` rounds of
    ``rank_units div _deg`` on the node-sized relation, the broadcast
    join against the edges, the per-``dst`` sum and the damping step.

    ``prior(nodes)`` returns the (start rank, teleport) columns — both
    in 1e-12 units, evaluated per node — or None for an empty graph,
    which yields every node at rank 0."""
    maybe_bcast = F.broadcast if broadcast_ranks else (lambda df: df)
    if not broadcast_ranks:
        edges = edges.repartition("src")
    edges = edges.localCheckpoint(eager=True)
    # deg is static across rounds — pin it once instead of re-running
    # the degree aggregate inside every round's broadcast build
    deg = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("_deg"))
        .localCheckpoint(eager=True)
    )
    nodes = deg.select(F.col("src").alias("node")).localCheckpoint(eager=True)
    cols = prior(nodes)
    if cols is None:
        return nodes.select(
            "node",
            F.lit(0).cast("long").alias("rank_units"),
            F.lit(0.0).alias("rank"),
        )
    start, teleport = cols
    ranks = nodes.select(
        "node", start.cast("long").alias("rank_units")
    ).localCheckpoint(eager=True)
    for _ in range(iters):
        # rank_units div _deg is per-src constant: computing it in the
        # node-sized (broadcast) relation instead of per edge row makes
        # each round ONE hash join against the edge table, not two —
        # identical integers, the division just moves above the join
        per_src = (
            ranks.withColumnRenamed("node", "src")
            .join(deg, "src")
            .select("src", F.expr("rank_units div _deg").alias("_c"))
        )
        contribs = (
            edges.join(maybe_bcast(per_src), "src")
            .select(F.col("dst").alias("node"), "_c")
            .groupBy("node")
            .agg(F.sum("_c").alias("_s"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                (
                    teleport
                    + F.expr(f"({damping_pct} * coalesce(_s, 0L)) div 100")
                ).cast("long").alias("rank_units"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select(
        "node",
        "rank_units",
        (F.col("rank_units").cast("double") / F.lit(float(UNITS))).alias("rank"),
    )


def hits(
    edges: DataFrame,
    iters: int = 2,
    broadcast_scores: bool = True,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg, JACM 1999) over a DIRECTED
    edge list (``src``, ``dst``) — the mutual-reinforcement ranking:
    a good hub points at good authorities, a good authority is pointed
    at by good hubs. On a bipartite buyer→product graph (the registry
    fixture) hubs are broad, well-connected buyers and authorities the
    products such buyers concentrate on — signal the degree alone
    (plain count) cannot express.

    Fixed-point contract (the PageRank rules, normalization included):
    scores live in 1e-12 units; each half-step is an edge join + an
    exact DECIMAL(38,0) sum (in-scores reach indegree × UNITS — int64
    overflows at 100 TB indegrees, the roc_auc rule), then L1
    normalization as ONE integer operation ``(raw * UNITS) div total``
    — Spark's decimal ``div`` and DuckDB's HUGEINT ``//`` truncate
    identically (probed; operands non-negative, so floor == trunc).
    The float ``score`` is a single exact-input division at the end.
    No float ever iterates and no normalization ever rounds — every
    score bit is cross-engine reproducible by an unrolled-CTE oracle.

    Fixed ``iters`` rounds (authority half-step then hub half-step),
    uniform hub start. Per-round state is (node, units) — 16-byte rows,
    broadcast-sized (``broadcast_scores``: localCheckpoint erases size
    stats, so the hint must be explicit — the PageRank lesson); each
    half-step checkpoints so lineage never re-executes prior rounds
    (the k-core lesson). Output: one row per node and side —
    ``(side='hub'|'authority', node, score_units, score)``; src and dst
    live in separate ID spaces on bipartite graphs, so the side column
    is part of the key.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    maybe_bcast = F.broadcast if broadcast_scores else (lambda df: df)
    edges = edges.select("src", "dst").localCheckpoint(eager=True)
    srcs = edges.select("src").distinct().localCheckpoint(eager=True)
    n_src = srcs.count()
    dec = "decimal(38,0)"
    empty = srcs.select(
        F.lit("hub").alias("side"),
        F.col("src").alias("node"),
        F.lit(0).cast("long").alias("score_units"),
        F.lit(0.0).alias("score"),
    )
    if n_src == 0:
        return empty
    if UNITS // n_src == 0:
        raise ValueError("more sources than fixed-point units")

    def normalize(raw: DataFrame, key: str, out: str) -> DataFrame:
        # pin the RAW aggregate (the edge join + sum — the half-step's
        # real work): the L1 total and the normalized projection are
        # node-sized derivations every consumer recomputes in-place for
        # ~nothing, where pinning the PROJECTION instead made the total's
        # broadcast build re-run the whole half-step (raw evaluated
        # twice per round)
        raw = raw.localCheckpoint(eager=True)
        tot = raw.agg(F.sum("_raw").cast(dec).alias("_t"))
        return raw.crossJoin(F.broadcast(tot)).select(
            key,
            F.expr(
                f"CAST((CAST(_raw AS {dec}) * CAST({UNITS} AS {dec}))"
                f" div _t AS LONG)"
            ).alias(out),
        )

    hubs = srcs.select(
        "src", F.lit(UNITS // n_src).cast("long").alias("hu")
    ).localCheckpoint(eager=True)
    auths = None
    for _ in range(iters):
        a_raw = (
            edges.join(maybe_bcast(hubs), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("hu").cast(dec)).alias("_raw"))
        )
        auths = normalize(a_raw, "dst", "au")
        h_raw = (
            edges.join(maybe_bcast(auths), "dst")
            .groupBy("src")
            .agg(F.sum(F.col("au").cast(dec)).alias("_raw"))
        )
        hubs = normalize(h_raw, "src", "hu")
    as_score = lambda c: (c.cast("double") / F.lit(float(UNITS)))  # noqa: E731
    return hubs.select(
        F.lit("hub").alias("side"),
        F.col("src").alias("node"),
        F.col("hu").alias("score_units"),
        as_score(F.col("hu")).alias("score"),
    ).unionAll(
        auths.select(
            F.lit("authority").alias("side"),
            F.col("dst").alias("node"),
            F.col("au").alias("score_units"),
            as_score(F.col("au")).alias("score"),
        )
    )


def triangle_stats(
    pairs: DataFrame,
    a_col: str = "item",
    b_col: str = "neighbor",
    edge_sample_pct: int | None = None,
    pre_canonical: bool = False,
) -> DataFrame:
    """Exact triangle count + global clustering coefficient of the
    undirected graph induced by pair evidence — the standard
    graph-density summary (transitivity = 3*triangles / wedges) used to
    characterize a co-purchase graph before community/motif work.

    Algorithm: DEGREE-ORIENTED wedge counting (the MapReduce-era
    Suri-Vassilvitskii / Cohen scheme, the one that scales): orient each
    undirected edge from its lower-(degree, id) endpoint to the higher
    one — a DAG in which every out-neighborhood has size O(sqrt(m)) on
    graphs of bounded arboricity — then a triangle {x<y<z} (in that
    total order) is counted EXACTLY once, as the wedge (x->y, x->z)
    closed by the oriented edge y->z. A hub of degree d generates no
    wedges at the hub itself (its edges all point IN), which is what
    kills the d^2 blow-up a naive neighbor self-join suffers at 100 TB.

    Dataflow: one distinct over canonical (least, greatest) pairs, one
    endpoint-explode degree agg, a self-join on src (wedge build), and a
    semi-join closure check — every join on graph keys, shuffle
    proportional to edges + wedges, never nodes^2. All-integer counts;
    the single transitivity division is one exact-input double op (
    correctly rounded identically in both engines).

    ``edge_sample_pct``: on dense graphs the wedge set is the
    irreducible cost of EXACT counting (measured sf0.1 co-occurrence:
    20k nodes / 1.2M edges / 41M oriented wedges — orientation already
    3.6x below the raw 148M). The sampled mode is the 100 TB path:
    DOULION (Tsourakakis et al., KDD 2009) — keep each edge by a
    DETERMINISTIC md5 draw, count triangles in the sparsified graph,
    scale by (100/pct)^3. Sampling EDGES (not wedges) shrinks the
    self-join itself: wedges drop by (pct/100)^2 and every downstream
    stage shrinks with them, whereas a wedge-side draw still pays the
    full wedge enumeration (measured: no win — the closure join
    broadcasts, so wedges pipeline without shuffling and the draw is
    pure added CPU). Because the draw is content-hashed, both engines
    sparsify identically: the estimate is oracle-exact, not
    bounds-checked. ``pct`` must divide 100 so the inverse-probability
    scale-up stays integer-exact. Output switches to
    (n_edges_sampled, n_closed_sampled, est_triangles); n_nodes /
    n_edges keep describing the FULL graph.
    """
    a, b = F.col(a_col), F.col(b_col)
    if pre_canonical:
        # caller certifies pairs are already the DISTINCT canonical
        # (a < b) edge set — e.g. a pinned symmetric_edges relation
        # filtered to src < dst — so the canonicalize + distinct
        # shuffle is a no-op and gets skipped
        canon = pairs.select(a.alias("lo"), b.alias("hi"))
    else:
        canon = (
            pairs.filter(a != b)
            .select(F.least(a, b).alias("lo"), F.greatest(a, b).alias("hi"))
            .distinct()
        )
    full_edges = canon
    if edge_sample_pct is not None:
        if not (1 <= edge_sample_pct <= 100) or 100 % edge_sample_pct != 0:
            raise ValueError(
                "edge_sample_pct must be in [1, 100] and divide 100, got "
                f"{edge_sample_pct}"
            )
        draw = F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("|", F.lit("tri"), "lo", "hi")), 1, 8
                ),
                16,
                10,
            ).cast("long"),
            F.lit(100),
        )
        canon = canon.filter(draw < edge_sample_pct)
    deg = (
        canon.select(F.col("lo").alias("node"))
        .unionAll(canon.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    d_lo = deg.select(F.col("node").alias("lo"), F.col("deg").alias("_dlo"))
    d_hi = deg.select(F.col("node").alias("hi"), F.col("deg").alias("_dhi"))
    lo_first = F.col("_dlo") <= F.col("_dhi")  # lo < hi already: ties keep lo
    e = (
        canon.join(d_lo, "lo")
        .join(d_hi, "hi")
        .select(
            F.when(lo_first, F.col("lo")).otherwise(F.col("hi")).alias("src"),
            F.when(lo_first, F.col("hi")).otherwise(F.col("lo")).alias("dst"),
            F.when(lo_first, F.col("_dhi")).otherwise(F.col("_dlo")).alias("ddeg"),
        )
    )
    ea = e.select(
        F.col("src"), F.col("dst").alias("x"), F.col("ddeg").alias("dx")
    )
    eb = e.select(
        F.col("src"), F.col("dst").alias("y"), F.col("ddeg").alias("dy")
    )
    wedge = ea.join(eb, "src").filter(
        (F.col("dx") < F.col("dy"))
        | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y")))
    )
    closed = wedge.join(
        e.select(F.col("src").alias("x"), F.col("dst").alias("y")),
        ["x", "y"],
        "left_semi",
    )
    tri = closed.agg(F.count(F.lit(1)).alias("n_triangles"))
    wcnt = deg.agg(
        F.sum(F.expr("(deg * (deg - 1)) div 2")).cast("long").alias("n_wedges")
    )
    nn = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    mm = canon.agg(F.count(F.lit(1)).alias("n_edges"))
    if edge_sample_pct is not None:
        scale = (100 // edge_sample_pct) ** 3
        nn_full = (
            full_edges.select(F.col("lo").alias("node"))
            .unionAll(full_edges.select(F.col("hi").alias("node")))
            .distinct()
            .agg(F.count(F.lit(1)).alias("n_nodes"))
        )
        mm_full = full_edges.agg(F.count(F.lit(1)).alias("n_edges"))
        ms = canon.agg(F.count(F.lit(1)).alias("n_edges_sampled"))
        return (
            nn_full.crossJoin(mm_full)
            .crossJoin(ms)
            .crossJoin(tri)
            .select(
                "n_nodes",
                "n_edges",
                "n_edges_sampled",
                F.col("n_triangles").alias("n_closed_sampled"),
                # inverse-probability scale-up, integer-exact by construction
                (F.col("n_triangles") * F.lit(scale))
                .cast("long")
                .alias("est_triangles"),
            )
        )
    base = nn.crossJoin(mm).crossJoin(wcnt).crossJoin(tri)
    return base.select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.when(F.col("n_wedges") == 0, F.lit(0.0))
        .otherwise(
            F.lit(3.0)
            * F.col("n_triangles").cast("double")
            / F.col("n_wedges").cast("double")
        )
        .alias("transitivity"),
    )


def kcore_peel(
    pairs: DataFrame,
    k: int,
    rounds: int = 4,
    a_col: str = "item",
    b_col: str = "neighbor",
    pre_canonical: bool = False,
) -> DataFrame:
    """Fixed-round k-core peeling: repeatedly drop nodes of degree < k
    and take the induced subgraph — the classic "dense cohesive core"
    extraction (k-core decomposition, one fixed k) used to separate a
    graph's stable center from its sparse fringe. One row per round:
    (round, n_nodes_before, n_survivors).

    Fixed iteration count, not run-to-convergence — the PageRank design
    rule (operators/graph.py module docstring): a bounded unrolled
    dataflow stays pure ANSI SQL, so the DuckDB oracle replays the
    IDENTICAL rounds and the driver hash-pins every count. When the
    peel converges early the remaining rounds are no-ops (dropped = 0),
    which the output rows make visible.

    Dataflow per round: one endpoint-explode degree agg + two
    semi-joins to induce the surviving edge set — all keyed on node
    ids, shuffle ∝ current edges (monotonically shrinking). Isolated
    nodes leave the graph with their last edge, matching the induced-
    subgraph semantics. All-integer; deterministic at any k.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not (1 <= rounds <= 16):
        raise ValueError(f"rounds must be in [1, 16], got {rounds}")
    a, b = F.col(a_col), F.col(b_col)
    # localCheckpoint per round (the pagerank pattern): without it each
    # round's lazy lineage re-executes the whole upstream pair pipeline —
    # measured 27 s -> ~5 s at sf0.01 once rounds materialize exactly once
    # (the same materialization a Pregel superstep performs)
    if pre_canonical:
        # caller certifies pairs are already the DISTINCT canonical
        # (a < b) edge set (e.g. pinned symmetric_edges filtered to
        # src < dst): skip the canonicalize + distinct shuffle. Still
        # pinned — round 1 consumes it three times.
        edges = pairs.select(a.alias("lo"), b.alias("hi")).localCheckpoint(
            eager=True
        )
    else:
        edges = (
            pairs.filter(a != b)
            .select(F.least(a, b).alias("lo"), F.greatest(a, b).alias("hi"))
            .distinct()
            .localCheckpoint(eager=True)
        )
    out = None
    for r in range(1, rounds + 1):
        deg = (
            edges.select(F.col("lo").alias("node"))
            .unionAll(edges.select(F.col("hi").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        survivors = (
            deg.filter(F.col("deg") >= k)
            .select("node")
            .localCheckpoint(eager=True)  # reused 3x: count + two semi-joins
        )
        row = (
            deg.agg(F.count(F.lit(1)).alias("n_nodes_before"))
            .crossJoin(survivors.agg(F.count(F.lit(1)).alias("n_survivors")))
            .select(
                F.lit(r).cast("long").alias("round"),
                F.col("n_nodes_before").cast("long"),
                F.col("n_survivors").cast("long"),
            )
        )
        out = row if out is None else out.unionAll(row)
        # survivors is node-count-sized and checkpointed (stats erased, so
        # Spark can't see it's broadcast-sized — the pagerank lesson): the
        # explicit hint keeps both semi-joins edge-shuffle-free
        edges = (
            edges.join(
                F.broadcast(survivors.withColumnRenamed("node", "lo")),
                "lo",
                "left_semi",
            )
            .join(
                F.broadcast(survivors.withColumnRenamed("node", "hi")),
                "hi",
                "left_semi",
            )
            .localCheckpoint(eager=True)
        )
    return out


def bfs_hops(
    edges: DataFrame,
    max_hops: int = 4,
    seed: DataFrame | None = None,
    broadcast_frontier: bool = True,
) -> DataFrame:
    """Fixed-round multi-source BFS over a directed edge list (``src``,
    ``dst``): minimum hop distance from the seed set, for every node
    reached within ``max_hops`` rounds. Output (node, hops) — nodes the
    frontier never reached are absent (their distance is not known to
    be finite at this horizon), which keeps the output a pure function
    of the rounds actually run.

    The missing graph primitive next to PageRank (centrality),
    triangles (clustering), k-core (density) and ``near_dup_clusters``
    (components): DISTANCE — "how far does influence propagate from
    this item", recommendation-radius and reachability analysis over
    the co-occurrence graph.

    ``seed``: one-column (``node``) DataFrame; defaults to the single
    minimum-id node — an aggregate the SQL oracle states identically,
    so the default stays cross-engine deterministic. Multi-source BFS
    (a seed set) is the same dataflow with a wider round-0 frontier.

    Fixed iteration count, not run-to-convergence (the PageRank design
    rule): ``max_hops`` unrolled rounds = ``max_hops`` join+agg stages,
    expressible as chained ANSI-SQL CTEs for the oracle. An exhausted
    frontier makes the remaining rounds empty no-ops — no driver-side
    convergence test, no action per round.

    Dataflow per round: frontier ⋈ edges (on src) → distinct dst →
    anti-join against settled nodes → that's the next frontier. The
    frontier and settled tables are (node[, hops]) rows — broadcast-
    sized long after the edge table stops being so; localCheckpoint
    erases their size stats (the PageRank lesson), so the hint is
    explicit. With ``broadcast_frontier`` the edge table never
    shuffles: each round pipelines over the edge scan partitioning and
    only the distinct-dst aggregation's partial rows move. Set False
    for graphs whose per-round frontier outgrows executor memory —
    rounds fall back to src-keyed shuffle joins; the edge table is
    repartitioned by src ONCE and reused (checkpoint-pinned) across
    all rounds.
    """
    if not (1 <= max_hops <= 16):
        raise ValueError(f"max_hops must be in [1, 16], got {max_hops}")
    maybe_bcast = F.broadcast if broadcast_frontier else (lambda df: df)
    if not broadcast_frontier:
        edges = edges.repartition("src")
    edges = edges.localCheckpoint(eager=True)
    if seed is None:
        # symmetric edge lists carry every node as a src; the filter
        # drops the NULL row the aggregate produces on an EMPTY edge
        # list (no edges -> no seed -> empty output, not a null node)
        seed = edges.agg(F.min("src").alias("node")).filter(
            F.col("node").isNotNull()
        )
    settled = seed.select(
        "node", F.lit(0).cast("long").alias("hops")
    ).localCheckpoint(eager=True)
    frontier = settled.select("node")
    for h in range(1, max_hops + 1):
        frontier = (
            edges.join(
                maybe_bcast(frontier.withColumnRenamed("node", "src")), "src"
            )
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(maybe_bcast(settled.select("node")), "node", "left_anti")
            .localCheckpoint(eager=True)
        )
        settled = settled.unionAll(
            frontier.select("node", F.lit(h).cast("long").alias("hops"))
        ).localCheckpoint(eager=True)
    return settled


def markov_stationary(
    transitions: DataFrame,
    iters: int = 4,
    broadcast_state: bool = True,
) -> DataFrame:
    """Fixed-iteration power method over a weighted transition relation
    ``(src, dst, n)`` — the stationary ("where does the process spend
    its time?") distribution of the Markov chain whose row-stochastic
    matrix is ``P[i][j] = n_ij / n_i``. On the behavioral event-type
    chain this ranks states by long-run occupancy, the summary the raw
    transition counts can't give (a state can receive many edges yet
    lose all its mass next step).

    Fixed-point contract (PageRank/HITS rules): mass in 1e-12 units,
    each step's contribution is ``(pi_i * n_ij) div n_i`` — the product
    FIRST in DECIMAL(38,0) (pi*n reaches 1e24), then ONE truncating
    division (Spark decimal ``div`` == DuckDB HUGEINT ``//``), so no
    intermediate precision loss and every unit is oracle-reproducible.
    Floor leakage (< states*iters units) is deterministic and stays in
    the output; we pin the iters-round vector, not the asymptotic limit,
    so periodicity/reducibility need no damping hack.

    States = distinct sources (a pure sink would swallow mass; the
    behavioral chain is symmetric-support so every state emits).
    Scale: one aggregation builds the transition relation upstream;
    rounds run on (states, units) rows — broadcast-sized state
    (explicit hint: localCheckpoint erases size stats), checkpointed
    per round (lineage lesson).
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    maybe_bcast = F.broadcast if broadcast_state else (lambda df: df)
    dec = "decimal(38,0)"
    t = transitions.select("src", "dst", "n").localCheckpoint(eager=True)
    row_tot = t.groupBy("src").agg(F.sum("n").cast(dec).alias("_rt"))
    states = row_tot.select(F.col("src").alias("state")).localCheckpoint(
        eager=True
    )
    n_states = states.count()
    if n_states == 0:
        return states.select(
            "state",
            F.lit(0).cast("long").alias("mass_units"),
            F.lit(0.0).alias("mass"),
        )
    if n_states <= _MARKOV_EXPR_STATES_MAX:
        # Small-chain fast path (the markov_removal_attribution
        # lesson): the whole power iteration folds into higher-order
        # array expressions over ONE collected (src, row-total,
        # out-edges) row — a single job instead of iters checkpointed
        # rounds of pure stage latency. Identical integers: each
        # contribution is the same per-EDGE (mass * n) div row_total
        # in DECIMAL(38,0), summed per destination; zip_with pairs
        # each src row with its positional mass. Event-type chains are
        # states-bounded at any corpus size; a genuinely large state
        # space stays on the relational rounds below.
        per_src = t.groupBy("src").agg(
            F.sum("n").cast(dec).alias("_rt"),
            F.collect_list(
                F.struct(
                    F.col("dst").alias("dst"), F.col("n").cast(dec).alias("n")
                )
            ).alias("_out"),
        )
        one = per_src.agg(
            F.collect_list(F.struct("src", "_rt", "_out")).alias("_rows")
        ).select("_rows", F.expr("transform(_rows, r -> r.src)").alias("_states"))
        start = UNITS // n_states
        step = (
            "transform(_states, s -> CAST(aggregate("
            "zip_with(_rows, au, (r, m) -> "
            f"aggregate(filter(r._out, e -> e.dst = s), CAST(0 AS {dec}), "
            f"(acc, e) -> CAST(acc + (CAST(m AS {dec}) * e.n) div r._rt "
            f"AS {dec}))), "
            f"CAST(0 AS {dec}), (a2, c) -> CAST(a2 + c AS {dec})) AS BIGINT))"
        )
        fold = (
            f"aggregate(sequence(1, {iters}), "
            f"transform(_rows, r -> {start}L), "
            f"(au, k) -> {step})"
        )
        out = one.select(
            F.explode(
                F.expr(
                    f"zip_with(_states, {fold}, (s, m) -> "
                    "named_struct('state', s, 'mass_units', m))"
                )
            ).alias("_r")
        ).select("_r.state", "_r.mass_units")
        return out.select(
            "state",
            "mass_units",
            (F.col("mass_units").cast("double") / F.lit(float(UNITS))).alias(
                "mass"
            ),
        )
    pi = states.select(
        "state", F.lit(UNITS // n_states).cast("long").alias("mass_units")
    ).localCheckpoint(eager=True)
    for _ in range(iters):
        contribs = (
            t.join(maybe_bcast(pi.withColumnRenamed("state", "src")), "src")
            .join(maybe_bcast(row_tot), "src")
            .select(
                F.col("dst").alias("state"),
                F.expr(
                    f"(CAST(mass_units AS {dec}) * CAST(n AS {dec})) div _rt"
                ).alias("_c"),
            )
            .groupBy("state")
            .agg(F.sum("_c").cast("long").alias("mass_units"))
        )
        # states that receive nothing this round hold zero mass
        pi = (
            states.join(contribs, "state", "left")
            .select(
                "state",
                F.coalesce(F.col("mass_units"), F.lit(0))
                .cast("long")
                .alias("mass_units"),
            )
            .localCheckpoint(eager=True)
        )
    return pi.select(
        "state",
        "mass_units",
        (F.col("mass_units").cast("double") / F.lit(float(UNITS))).alias("mass"),
    )


def attribution_transitions(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
    conv_type: str = "purchase",
) -> DataFrame:
    """Build the Markov-attribution transition relation from an event
    log: per user, order events by (ts, id) and split the stream into
    EPISODES at each conversion — the classic customer-journey model.
    Within an episode the first touch draws a (START -> type) edge,
    consecutive touches (prev -> type), a conversion event absorbs into
    CONV, and a path that ends without converting absorbs into NULL
    from its last touch.

    An episode contains at most one conversion and only at its end by
    construction (the episode index counts STRICTLY-PRIOR conversions,
    so every event after a conversion starts a new episode).

    Contract (LOUD): event-type values must not collide with the
    START / CONV / NULL sentinel states — a literal 'CONV' touch type
    would alias the absorbing state. :func:`markov_removal_attribution`
    rejects sentinel-named channels; guaranteeing the event LOG is
    sentinel-free is the caller's contract (an operational constant,
    not worth a per-row scan here).

    Plan: ONE (user, episode) sort shared by the episode counter, the
    lag and the lead (same window spec — a single exchange), then a
    map-side-combined (src, dst) count. Output: (src, dst, n) with
    src in {START} ∪ touch types and dst in touch types ∪ {CONV, NULL}
    — a states²-bounded relation at any corpus size.
    """
    w_prior = (
        Window.partitionBy(user_col)
        .orderBy(ts_col, id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ep = F.count(F.when(F.col(type_col) == conv_type, 1)).over(w_prior)
    base = events.select(
        user_col, ts_col, id_col, type_col, ep.alias("_ep")
    )
    w = Window.partitionBy(user_col, "_ep").orderBy(ts_col, id_col)
    tr = base.select(
        F.coalesce(F.lag(type_col).over(w), F.lit("START")).alias("src"),
        F.when(F.col(type_col) == conv_type, F.lit("CONV"))
        .otherwise(F.col(type_col))
        .alias("dst"),
        (
            F.lead(type_col).over(w).isNull()
            & (F.col(type_col) != conv_type)
        ).alias("_tail"),
        F.col(type_col).alias("_ty"),
    )
    main = tr.select("src", "dst")
    tails = tr.filter(F.col("_tail")).select(
        F.col("_ty").alias("src"), F.lit("NULL").alias("dst")
    )
    return (
        main.unionByName(tails)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def markov_removal_attribution(
    transitions: DataFrame,
    channels: tuple[str, ...],
    iters: int = 4,
) -> DataFrame:
    """Markov-chain multi-touch attribution by REMOVAL EFFECT — the
    principled alternative to linear/last-touch credit (Anderl et al.
    2016): model journeys as a Markov chain over touchpoints with
    absorbing CONV/NULL states, compute the chain's conversion
    probability, then for each channel recompute it with that channel
    removed (every edge INTO the channel redirected to NULL — the
    redirect convention, so row totals and all other probabilities are
    untouched); the channel's credit is how much conversion drops
    without it: ``RE(c) = 1 - P_conv(-c) / P_conv``.

    Fixed-point contract (the PageRank/markov_stationary rules): the
    conversion probability is the K-round absorption value pinned at
    ``iters`` steps (not the asymptotic limit — the fixed-round rule
    that keeps the whole computation ANSI-unrollable), computed in
    1e-12 units: ``a_{k+1}(s) = (Σ_dst n(s,dst) · val_k(dst)) div
    tot(s)`` with val(CONV) = 1e12, val(NULL) = 0 — integer products
    in DECIMAL(38,0), one truncating division per state per round
    (== DuckDB HUGEINT ``//``). The removal ratio is one more integer
    cross-multiplication: ``re_units = 1e12 - (removed · 1e12) div
    base``. ``attributed_share`` normalizes the POSITIVE removal
    effects (a negative effect — removing the channel HELPS conversion,
    e.g. an error state — earns zero credit but is reported).

    Scale: the transition relation is states²-bounded; the whole
    fixed point — the base chain AND every removed chain, all
    ``iters`` rounds — runs as higher-order array expressions over ONE
    collected (src, row-total, out-edges) row, so the entire query is
    a single job (the relational round-per-job form cost 20 tiny
    checkpointed rounds of pure stage latency for the same ≤ states²
    rows). The one corpus-sized pass is upstream in
    :func:`attribution_transitions`.

    Output per channel: (channel, base_conv_units, removed_conv_units,
    removal_effect_units — exact integers, VARCHAR-transported — plus
    removal_effect and attributed_share doubles; NULL when the base
    chain never converts within ``iters`` steps).
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    sentinels = {"START", "CONV", "NULL"}
    bad = sentinels & set(channels)
    if bad:
        raise ValueError(f"channels collide with sentinel states: {sorted(bad)}")
    if len(set(channels)) != len(channels):
        raise ValueError("channels must be distinct")
    for c in channels:
        # names are interpolated into SQL string literals below: reject
        # the quote AND the escape character (a trailing backslash would
        # swallow the closing quote — ADVICE r12)
        if "'" in c or "\\" in c:
            raise ValueError(
                f"channel name contains a quote or backslash: {c!r}"
            )
    dec = "decimal(38,0)"
    # states²-bounded fold: one row per src with its exact row total
    # (kept across removals — the redirect convention) and out-edge
    # list; collect_list order is irrelevant (every consumer is a sum
    # or a positional lookup within the same row).
    per_src = transitions.groupBy("src").agg(
        F.sum("n").cast(dec).alias("_rt"),
        F.collect_list(
            F.struct(F.col("dst").alias("dst"), F.col("n").cast(dec).alias("n"))
        ).alias("_out"),
    )
    one = per_src.agg(
        F.collect_list(F.struct("src", "_rt", "_out")).alias("_rows")
    ).select("_rows", F.expr("transform(_rows, r -> r.src)").alias("_states"))

    def absorb_expr(removed: str | None) -> str:
        # K unrolled rounds: au_{k+1}[i] = (Σ_e n_e · val_k(e.dst)) div
        # rt_i, exactly the relational rounds' DECIMAL(38,0) products +
        # one truncating div per state per round (operands non-negative,
        # so floor == trunc == DuckDB HUGEINT //).
        edges = (
            "r._out"
            if removed is None
            else f"filter(r._out, e -> e.dst != '{removed}')"
        )
        val = (
            f"CASE WHEN e.dst = 'CONV' THEN CAST({UNITS} AS {dec}) "
            f"WHEN e.dst = 'NULL' THEN CAST(0 AS {dec}) "
            "ELSE CAST(coalesce(element_at(au, CAST(nullif("
            "array_position(_states, e.dst), 0) AS INT)), 0L) "
            f"AS {dec}) END"
        )
        return (
            f"aggregate(sequence(1, {iters}), "
            "transform(_rows, r -> 0L), "
            "(au, k) -> transform(_rows, r -> "
            f"CAST(aggregate({edges}, CAST(0 AS {dec}), "
            f"(acc, e) -> CAST(acc + e.n * ({val}) AS {dec})) "
            "div r._rt AS BIGINT)))"
        )

    start_of = (
        "coalesce(element_at({a}, CAST(nullif("
        "array_position(_states, 'START'), 0) AS INT)), 0L)"
    )
    joined = one.select(
        F.expr(start_of.format(a=absorb_expr(None))).alias("_base"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("channel"),
                        F.expr(start_of.format(a=absorb_expr(c))).alias(
                            "_removed"
                        ),
                    )
                    for c in channels
                ]
            )
        ).alias("_ch"),
    ).select(F.col("_ch.channel").alias("channel"), "_ch._removed", "_base")
    re_units = F.when(
        F.col("_base") > 0,
        (
            F.lit(UNITS).cast(dec)
            - F.expr(
                f"(CAST(_removed AS {dec}) * CAST({UNITS} AS {dec})) div "
                f"CAST(_base AS {dec})"
            )
        ).cast("long"),
    )
    scored = joined.select(
        "channel",
        F.col("_base").alias("_b"),
        F.col("_removed").alias("_r"),
        re_units.alias("_re"),
    )
    w_all = Window.partitionBy()
    pos = F.greatest(F.col("_re"), F.lit(0))
    tot_pos = F.sum(pos).over(w_all)
    return scored.select(
        "channel",
        F.col("_b").cast("string").alias("base_conv_units"),
        F.col("_r").cast("string").alias("removed_conv_units"),
        F.col("_re").cast("string").alias("removal_effect_units"),
        (F.col("_re").cast("double") / F.lit(float(UNITS))).alias(
            "removal_effect"
        ),
        F.when(
            tot_pos > 0, pos.cast("double") / tot_pos.cast("double")
        ).alias("attributed_share"),
    )


def label_propagation(
    edges: DataFrame,
    iters: int = 4,
    broadcast_labels: bool = True,
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan,
    Albert & Kumara 2007, Phys. Rev. E 76:036106) over an undirected
    edge list (``src``, ``dst``) where every node appears as a source
    (the :func:`symmetric_edges` guarantee).

    Each round every node adopts the MOST FREQUENT label among its
    neighbors, ties broken by the smallest label — the deterministic
    synchronous variant. The classic algorithm runs to convergence with
    random tie-breaks; like :func:`pagerank` this engine pins a FIXED
    round count and a total tie order instead, so the whole computation
    is a pure dataflow (round = join + count + argmax aggregate) that
    an ANSI-SQL oracle can unroll round-for-round and the driver can
    hash-pin bit-exact. Synchronous LPA can oscillate on bipartite
    structures rather than converge — with a fixed round budget the
    output is still a deterministic function of the graph, which is
    what a curation pipeline needs from a partitioner.

    Determinism: votes are exact integer counts; the argmax is
    ``min(struct(-count, label))`` — struct ordering compares count
    descending then label ascending, the same total order as the
    oracle's ``row_number() OVER (ORDER BY c DESC, label)``. No floats
    anywhere.

    Scale posture: per round the edge table is scanned once and joined
    to the (node, label) state — 2-string rows, broadcast-sized until
    the node count outgrows executor memory (``broadcast_labels=False``
    falls back to dst-partitioned shuffle joins). The vote count is a
    map-side partial aggregate on (src, label); state is
    localCheckpoint-pinned per round so lineage stays flat. Output adds
    ``community_size`` via one window over the node-sized result —
    partitioned by community, never single-partition.

    Output: (node, community, community_size), one row per node.
    """
    maybe_bcast = F.broadcast if broadcast_labels else (lambda df: df)
    if not broadcast_labels:
        edges = edges.repartition("dst")
    edges = edges.localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint(eager=True)
    )
    for _ in range(iters):
        votes = (
            edges.join(
                maybe_bcast(
                    labels.select(
                        F.col("node").alias("dst"), F.col("label").alias("_nl")
                    )
                ),
                "dst",
            )
            .groupBy("src", "_nl")
            .agg(F.count(F.lit(1)).alias("_c"))
        )
        labels = (
            votes.groupBy("src")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("_c")).alias("_neg"), F.col("_nl").alias("_l")
                    )
                ).alias("_m")
            )
            .select(F.col("src").alias("node"), F.col("_m._l").alias("label"))
            # NOTE: unlike scan_clusters' shuffle-state rounds, these
            # rounds BROADCAST the state — chaining them without the
            # per-round pin nests broadcast builds (round k's broadcast
            # subtree contains round k-1's broadcast), which measured
            # 6.2-13.6 s vs a flat ~5.6 s pinned (A/B, sf0.1): nested
            # builds serialize and replan badly. Keep the pin per round.
            .localCheckpoint(eager=True)
        )
    w_comm = Window.partitionBy("label")
    return labels.select(
        "node",
        F.col("label").alias("community"),
        F.count(F.lit(1)).over(w_comm).cast("long").alias("community_size"),
    )


def scan_edge_similarity(
    pairs: DataFrame,
    a_col: str = "item",
    b_col: str = "neighbor",
    return_triangles: bool = False,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """SCAN structural similarity per edge (Xu, Yuruk, Feng & Schweiger,
    KDD 2007): for every undirected edge (u, v),
    ``sigma = |Gamma(u) ∩ Gamma(v)| / sqrt(|Gamma(u)| * |Gamma(v)|)``
    over CLOSED neighborhoods (``Gamma(x) = N(x) ∪ {x}``) — the edge
    weight SCAN clusters on, and the embeddedness signal ("how much do
    this edge's endpoints share their circle") that separates
    community-internal edges from bridges before any clustering runs.

    The intersection size is the edge's TRIANGLE SUPPORT plus the two
    endpoints themselves; support comes from the same degree-oriented
    wedge scheme as :func:`triangle_stats` (orient each edge from its
    lower-(degree, id) endpoint — out-neighborhoods O(sqrt(m)), hubs
    generate no wedges, the d^2 blow-up dies), with every counted
    triangle exploded onto its THREE canonical edges (3 rows per
    triangle, a constant factor on the irreducible wedge cost).

    Determinism: counts and degrees are exact integers; sigma is
    ``(support + 2) / sqrt((deg_u + 1) * (deg_v + 1))`` — one exact
    integer product, one CORRECTLY-ROUNDED IEEE sqrt (the
    temperature_mix rule: sqrt is exact-rounded, unlike pow/exp), one
    correctly-rounded division — bit-identical cross-engine.

    Output: one row per canonical edge (item_a < item_b) —
    (item_a, item_b, deg_a, deg_b, common_closed, sigma); support-free
    edges appear with common_closed = 2. ``return_triangles=True``
    additionally returns the PINNED closed-triangle list (the wedge
    join's intermediate, :func:`edge_triangles`) as a second relation —
    callers that also need edge-subset supports (truss rounds >= 2)
    reuse it instead of re-running the wedge join; sigma itself is
    bit-identical either way (its support aggregate runs over the same
    triangle rows).
    """
    a, b = F.col(a_col), F.col(b_col)
    # canon feeds FOUR branches (deg, the oriented edge table, the final
    # join spine twice) and deg feeds three — pin both so the
    # pair-explode + distinct and the degree shuffle run once per call
    # instead of once per branch (the LESSONS.md branch-recomputation
    # rule, same pinning scan_clusters applies to sigma).
    canon = (
        pairs.filter(a != b)
        .select(F.least(a, b).alias("lo"), F.greatest(a, b).alias("hi"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    tri = None
    if return_triangles:
        tri = edge_triangles(canon).localCheckpoint(eager=True)
    annotated = _edge_support(canon, tri=tri)
    common = (F.col("sup") + 2).cast("long")
    sim = annotated.select(
        F.col("lo").alias("item_a"),
        F.col("hi").alias("item_b"),
        F.col("_dlo").cast("long").alias("deg_a"),
        F.col("_dhi").cast("long").alias("deg_b"),
        common.alias("common_closed"),
        (
            common.cast("double")
            / F.sqrt(
                ((F.col("_dlo") + 1) * (F.col("_dhi") + 1)).cast("double")
            )
        ).alias("sigma"),
    )
    return (sim, tri) if return_triangles else sim


def edge_triangles(canon: DataFrame, _deg: DataFrame | None = None) -> DataFrame:
    """Closed-wedge triangle LIST via the degree-oriented wedge scheme:
    ``canon`` must be the DISTINCT canonical edge table (lo < hi),
    already pinned by the caller. One row per triangle, carrying its
    THREE canonical edges — (lo1, hi1, lo2, hi2, lo3, hi3) — so
    downstream consumers (truss rounds >= 2) can re-derive per-edge
    support on any edge SUBSET with three semi-joins instead of a
    fresh wedge join. Same wedge cost as the count-only path (the
    list is the intermediate the count aggregates away). ``_deg`` lets
    :func:`_edge_support` share its pinned degree table.
    """
    deg = _deg if _deg is not None else (
        canon.select(F.col("lo").alias("node"))
        .unionAll(canon.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint(eager=True)
    )
    d_lo = deg.select(F.col("node").alias("lo"), F.col("deg").alias("_dlo"))
    d_hi = deg.select(F.col("node").alias("hi"), F.col("deg").alias("_dhi"))
    lo_first = F.col("_dlo") <= F.col("_dhi")  # the triangle_stats orientation
    e = (
        canon.join(d_lo, "lo")
        .join(d_hi, "hi")
        .select(
            F.when(lo_first, F.col("lo")).otherwise(F.col("hi")).alias("src"),
            F.when(lo_first, F.col("hi")).otherwise(F.col("lo")).alias("dst"),
            F.when(lo_first, F.col("_dhi")).otherwise(F.col("_dlo")).alias(
                "ddeg"
            ),
        )
    )
    ea = e.select(F.col("src"), F.col("dst").alias("x"), F.col("ddeg").alias("dx"))
    eb = e.select(F.col("src"), F.col("dst").alias("y"), F.col("ddeg").alias("dy"))
    wedge = ea.join(eb, "src").filter(
        (F.col("dx") < F.col("dy"))
        | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y")))
    )
    closed = wedge.join(
        e.select(F.col("src").alias("x"), F.col("dst").alias("y")),
        ["x", "y"],
        "left_semi",
    )
    return closed.select(
        F.least("src", "x").alias("lo1"),
        F.greatest("src", "x").alias("hi1"),
        F.least("src", "y").alias("lo2"),
        F.greatest("src", "y").alias("hi2"),
        F.least("x", "y").alias("lo3"),
        F.greatest("x", "y").alias("hi3"),
    )


def _triangle_edge_counts(tri: DataFrame) -> DataFrame:
    """(lo, hi, _sup) per canonical edge from a triangle list — each
    triangle exploded onto its 3 edges, then one hash aggregate."""
    tri_edge = F.explode(
        F.array(
            F.struct(F.col("lo1").alias("lo"), F.col("hi1").alias("hi")),
            F.struct(F.col("lo2").alias("lo"), F.col("hi2").alias("hi")),
            F.struct(F.col("lo3").alias("lo"), F.col("hi3").alias("hi")),
        )
    )
    return (
        tri.select(tri_edge.alias("_e"))
        .select("_e.lo", "_e.hi")
        .groupBy("lo", "hi")
        .agg(F.count(F.lit(1)).alias("_sup"))
    )


def _edge_support(canon: DataFrame, tri: DataFrame | None = None) -> DataFrame:
    """Per-edge triangle support via the degree-oriented wedge scheme
    (shared by :func:`scan_edge_similarity` and :func:`truss_peel`):
    ``canon`` must be the DISTINCT canonical edge table (lo < hi),
    already pinned by the caller. Returns one row per canonical edge —
    (lo, hi, _dlo, _dhi, sup) with sup = exact triangle count (0 for
    support-free edges). ``tri``, when given, is the already-computed
    triangle list for EXACTLY this edge set (:func:`edge_triangles`) —
    the wedge join is skipped and support is one explode + aggregate
    over it. The degree table is pinned here (the wedge path reads it
    from three branches); the wedge cost is the triangle_stats shape
    (hubs generate no wedges, the d^2 blow-up dies).
    """
    deg = (
        canon.select(F.col("lo").alias("node"))
        .unionAll(canon.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint(eager=True)
    )
    if tri is None:
        tri = edge_triangles(canon, _deg=deg)
    d_lo = deg.select(F.col("node").alias("lo"), F.col("deg").alias("_dlo"))
    d_hi = deg.select(F.col("node").alias("hi"), F.col("deg").alias("_dhi"))
    support = _triangle_edge_counts(tri)
    return (
        canon.join(d_lo, "lo")
        .join(d_hi, "hi")
        .join(support, ["lo", "hi"], "left")
        .select(
            "lo",
            "hi",
            "_dlo",
            "_dhi",
            F.coalesce(F.col("_sup"), F.lit(0)).cast("long").alias("sup"),
        )
    )


def scan_clusters(
    pairs: DataFrame,
    a_col: str = "item",
    b_col: str = "neighbor",
    eps_rank_num: int = 3,
    eps_rank_den: int = 4,
    mu: int = 3,
    label_rounds: int = 8,
    sim: DataFrame | None = None,
    broadcast_labels: bool = True,
) -> DataFrame:
    """Full SCAN structural clustering (Xu et al., KDD 2007) over pair
    evidence: cores / borders / hubs / outliers from the per-edge
    structural similarity of :func:`scan_edge_similarity`.

    Contract (each leg deterministic and oracle-expressible):

    - ``eps`` is the EXACT ``eps_rank_num/eps_rank_den`` order statistic
      of sigma over the canonical edges (a PICKED element at 1-based
      rank ``ceil(num/den * m)`` — the grouped_discrete_quantile rule;
      a fixed absolute threshold is meaningless across graph densities,
      the measured P75 sigma moves 0.55 -> 0.14 from sf0.001 to
      sf0.01).
    - A CORE has >= ``mu`` eps-similar neighbors, where the count
      EXCLUDES the node itself: Xu et al. state the rule over the
      closed eps-neighborhood (|N_eps(v)| >= mu with v ∈ N_eps(v)), so
      a mu calibrated from the SCAN paper is THIS mu plus one. The
      exclusive convention is deliberate ("mu genuine neighbors") and
      frozen — engine, oracle, and tests all use it. Core clusters are
      min-label propagation over core-core eps-edges for EXACTLY
      ``label_rounds`` synchronous rounds (the label_propagation /
      pagerank fixed-round rule: a pure dataflow the oracle unrolls
      round-for-round; components of min-label radius > label_rounds
      stay split — a documented bound, not a silent one; the engine's
      run-to-convergence twin is dedup.near_dup_clusters).
    - A BORDER is a non-core with an eps-edge to >= 1 core: it joins
      the minimum adjacent core cluster.
    - Remaining nodes: HUB if its raw neighbors include cores of >= 2
      distinct clusters, else OUTLIER (both unclustered).

    ``sim`` (optional): a precomputed :func:`scan_edge_similarity`
    relation over the SAME pair evidence, already pinned by the caller
    — lets a pipeline that also reads the sigma table build it once
    and share it (the registry's scan_* pair does exactly this); when
    omitted, sigma is built here and localCheckpoint-pinned.

    Scale: sigma build is the oriented-wedge cost (see
    scan_edge_similarity); everything after runs on the edge table —
    the eps pick is the bucketed order-statistics backbone (never a
    single-partition sort), each label round is one join + min
    aggregate with localCheckpoint-pinned state.

    Output: one row per node — (node, cluster_id nullable, role).
    """
    from .relational import grouped_discrete_quantile, grouped_value_cum

    if mu < 1 or label_rounds < 1:
        raise ValueError("mu and label_rounds must be >= 1")
    if not (1 <= eps_rank_num < eps_rank_den):
        raise ValueError(
            f"need 1 <= eps_rank_num < eps_rank_den, got {eps_rank_num}/{eps_rank_den}"
        )
    if sim is None:
        sim = scan_edge_similarity(pairs, a_col, b_col).localCheckpoint(
            eager=True
        )
    cum = grouped_value_cum(
        sim.select("sigma"),
        [],
        "sigma",
        bucket_expr=F.floor(F.col("sigma") * 100),
    )
    # pin the 1-row eps pick: both the eps-edge filter and the merged
    # role-assembly aggregate broadcast it — without the pin the cum
    # pipeline over the full sigma distribution re-executes per consumer
    eps_df = F.broadcast(
        grouped_discrete_quantile(
            cum, [], "sigma", eps_rank_num, eps_rank_den, out_col="_eps"
        ).localCheckpoint(eager=True)
    )
    bidir = sim.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("item_a").alias("node"),
                    F.col("item_b").alias("nbr"),
                    F.col("sigma").alias("sigma"),
                ),
                F.struct(
                    F.col("item_b").alias("node"),
                    F.col("item_a").alias("nbr"),
                    F.col("sigma").alias("sigma"),
                ),
            )
        ).alias("_e")
    ).select("_e.node", "_e.nbr", "_e.sigma")
    # (A/B r13: leaving e_eps lazy re-shuffles the explode subtree into
    # both consumers — 66.6 -> 112.6 MB, wall +1 s. The pin stays.)
    e_eps = (
        bidir.crossJoin(eps_df)
        .filter(F.col("sigma") >= F.col("_eps"))
        .select("node", "nbr")
        .localCheckpoint(eager=True)
    )
    cores = (
        e_eps.groupBy("node")
        .agg(F.count(F.lit(1)).alias("_ec"))
        .filter(F.col("_ec") >= mu)
        .select("node")
        .localCheckpoint(eager=True)
    )
    # core_edges has exactly one consumer (the self-loop union below):
    # keep it lazy and fold its computation into the edges_sl pin job
    core_edges = e_eps.join(cores, "node", "left_semi").join(
        cores.withColumnRenamed("node", "nbr"), "nbr", "left_semi"
    )
    # Self-loops appended once make each round ONE join + ONE min
    # aggregate over labels referenced a single time:
    # label_{k+1}(v) = min over N(v) ∪ {v} of label_k — identical to
    # the least(own, min-neighbor) form, but with labels consumed once
    # per round the rounds CHAIN inside one job without subtree
    # recomputation (Catalyst dedupes no common subplans), so the
    # checkpoint cadence is a latency knob, not a correctness one.
    # _LABEL_CKPT_EVERY=1 restores the round-per-job form; the measured
    # optimum at sf0.1 collapses 4 rounds per checkpointed job.
    # The pin is REPARTITIONED BY NODE first (VERDICT r12 item 3): a
    # localCheckpoint preserves physical partitioning, the per-round
    # broadcast label join preserves the streamed side's partitioning,
    # and the per-round vote aggregate groups by node — so with the
    # edge pin already hash(node)-partitioned every round's groupBy
    # reuses it and the per-round vote exchange disappears (measured
    # 5.1 -> 3.3 s for the 8 rounds at sf0.1).
    edges_sl = (
        core_edges.unionByName(
            cores.select("node", F.col("node").alias("nbr"))
        )
        .repartition("node")
        .localCheckpoint(eager=True)
    )
    labels = cores.select("node", F.col("node").alias("label")).localCheckpoint(
        eager=True
    )
    for r in range(1, label_rounds + 1):
        labels = (
            edges_sl.join(
                labels.select(
                    F.col("node").alias("nbr"), F.col("label").alias("label")
                ),
                "nbr",
            )
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        if r % _LABEL_CKPT_EVERY == 0 or r == label_rounds:
            labels = labels.localCheckpoint(eager=True)
    core_lab = labels.select("node", F.col("label").alias("cluster_id"))
    # The role-assembly tail joins NODE-sized relations (core labels,
    # border picks, hub counts — 16-byte rows) onto the edge-sized
    # bidir relation; checkpoints erase size stats, so without the hint
    # the tail join would sort-merge-shuffle the EDGE side (the
    # pagerank broadcast_ranks lesson). broadcast_labels mirrors that
    # contract: default on, escape hatch for graphs whose node catalog
    # outgrows executor memory.
    #
    # ONE pass over bidir computes everything the roles need (it was
    # three: a border aggregate over e_eps, a core-neighbor count over
    # bidir, and an allnodes distinct — all per-node aggregates over
    # the same exploded edge relation):
    # - the border pick min(neighbor core cluster WHERE the edge is
    #   eps-similar) — NULL exactly when no qualifying neighbor exists,
    #   matching the old inner-join + left-anti form (cores may get a
    #   value, but coalesce(_core_c, ...) and the role CASE order make
    #   it unreadable, exactly as before);
    # - the hub count countDistinct(neighbor core cluster) — distinct
    #   ignores NULLs, matching the old inner-join count (0 when no
    #   core neighbor, where the old left join gave NULL -> coalesce 0);
    # - the node set itself (allnodes was bidir.select(node).distinct()
    #   — the aggregate's grouping).
    mb = F.broadcast if broadcast_labels else (lambda df: df)
    per_node = (
        bidir.crossJoin(eps_df)
        .join(
            mb(
                core_lab.select(
                    F.col("node").alias("nbr"), F.col("cluster_id").alias("_rc")
                )
            ),
            "nbr",
            "left",
        )
        .groupBy("node")
        .agg(
            F.min(
                F.when(F.col("sigma") >= F.col("_eps"), F.col("_rc"))
            ).alias("_bord_c"),
            F.countDistinct("_rc").alias("_nc"),
        )
    )
    return per_node.join(
        mb(core_lab.withColumnRenamed("cluster_id", "_core_c")), "node", "left"
    ).select(
        "node",
        F.coalesce(F.col("_core_c"), F.col("_bord_c")).alias("cluster_id"),
        F.when(F.col("_core_c").isNotNull(), F.lit("core"))
        .when(F.col("_bord_c").isNotNull(), F.lit("border"))
        .when(F.coalesce(F.col("_nc"), F.lit(0)) >= 2, F.lit("hub"))
        .otherwise(F.lit("outlier"))
        .alias("role"),
    )


def truss_peel(
    pairs: DataFrame,
    rounds: int = 3,
    t_rank_num: int = 3,
    t_rank_den: int = 4,
    a_col: str = "item",
    b_col: str = "neighbor",
    sup0: DataFrame | None = None,
    tri0: DataFrame | None = None,
) -> DataFrame:
    """Fixed-round truss peeling (k-truss, Cohen 2008) with a
    DATA-ADAPTIVE support threshold: repeatedly drop every edge whose
    triangle support (recomputed on the surviving subgraph each round)
    falls below ``t``, where ``t`` is the EXACT
    ``t_rank_num/t_rank_den`` order statistic of the INITIAL support
    distribution — the SCAN eps precedent (scan_clusters): an absolute
    k is meaningless across graph densities (measured median support
    moves 42 -> 10 from sf0.001 to sf0.01 as the co-occurrence graph
    sparsifies), so the threshold is picked from the data once and
    FROZEN across rounds. ``t = support-P75`` with the defaults; the
    classical k-truss is this with a constant ``t = k - 2``.

    Fixed iteration count, not run-to-convergence (the PageRank design
    rule): a bounded unrolled dataflow stays pure ANSI SQL, the oracle
    replays identical rounds, and every count hash-pins. Converged
    rounds show dropped = 0.

    Dataflow per round: one degree-oriented wedge support computation
    on the CURRENT (monotonically shrinking) edge set — the
    triangle_stats cost shape, localCheckpoint-pinned per round — then
    a broadcast-threshold filter. The first round dominates; a P75 cut
    removes ~75% of edges before round 2. The threshold pick is the
    bucketed order-statistics backbone (grouped_value_cum +
    grouped_discrete_quantile), never a single-partition sort.

    ``sup0``, when given, is the round-1 support relation
    (lo, hi, sup) ALREADY computed for the same canonical edge set —
    e.g. ``scan_edge_similarity``'s output with
    ``sup = common_closed - 2`` — letting a caller that has the shared
    pinned sigma relation (the registry's `_scan_sigma` cache) skip the
    dominant round-1 wedge join entirely; ``pairs`` is then ignored.
    ``tri0`` (requires ``sup0``) is the matching closed-triangle list
    (:func:`edge_triangles` /
    ``scan_edge_similarity(return_triangles=True)``): with it, rounds
    >= 2 skip the wedge join TOO — a subgraph's triangles are exactly
    the original triangles whose three edges all survive, so each round
    is three semi-joins against the (monotonically shrinking) survivor
    set plus one explode + aggregate. Without ``tri0``, rounds >= 2
    recompute the wedge join on the surviving (~25% post-P75) edges.
    On the ``tri0`` path with integral node ids in [0, 2^31), the
    (lo, hi) pairs additionally pack into single-long edge keys for
    the round loop (guide §2.3 — half the triangle-list shuffle
    bytes); the pair loop is kept verbatim for any other id domain. A
    ``tri0`` id outside [0, 2^31) on the packed path raises when the
    triangle list is first read (round 2) instead of aliasing edges.
    Output is hash-identical along every path: round-1 support on the
    same edges IS the sigma support, filtered-triangle counts equal
    recomputed subgraph counts by definition, and packing is a
    bijection on the edge set feeding count-only outputs.

    Output: one row per round — (round, n_edges_before, n_survivors,
    support_threshold).
    """
    from .relational import grouped_discrete_quantile, grouped_value_cum

    if not (1 <= rounds <= 8):
        raise ValueError(f"rounds must be in [1, 8], got {rounds}")
    if not (1 <= t_rank_num < t_rank_den):
        raise ValueError(
            f"need 1 <= t_rank_num < t_rank_den, got {t_rank_num}/{t_rank_den}"
        )
    if tri0 is not None and sup0 is None:
        raise ValueError("tri0 requires sup0 (same precomputed edge set)")
    if sup0 is not None:
        sup = sup0.select(
            "lo", "hi", F.col("sup").cast("long").alias("sup")
        ).localCheckpoint(eager=True)
    else:
        a, b = F.col(a_col), F.col(b_col)
        edges = (
            pairs.filter(a != b)
            .select(F.least(a, b).alias("lo"), F.greatest(a, b).alias("hi"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        sup = _edge_support(edges).select("lo", "hi", "sup").localCheckpoint(
            eager=True
        )
    cum = grouped_value_cum(
        sup.select("sup"), [], "sup", bucket_expr=F.col("sup")
    )
    # pin the 1-row threshold pick: every round's survivor filter (and
    # each output row) broadcasts it — without the pin the cum pipeline
    # over the full support distribution re-executes once per consumer
    t_df = F.broadcast(
        grouped_discrete_quantile(
            cum, [], "sup", t_rank_num, t_rank_den, out_col="_t"
        ).localCheckpoint(eager=True)
    )
    tri = tri0
    # Edge-key packing (guide §2.3 "narrower types"): the output is
    # counts + a support-value threshold — after the t_df pick the
    # individual node ids are never read again on the triangle-list
    # path, only edge IDENTITY is joined on. For integral ids in
    # [0, 2^31) the pair packs injectively into ONE long
    # (lo * 2^32 + hi, no overflow), so the per-round semi-joins and
    # the support explode shuffle one 8-byte key instead of two — half
    # the triangle-list bytes. Gated by one bounded aggregate on the
    # PINNED sup relation (the fold-gate rule: actions on pins only);
    # non-integral or out-of-range ids keep the (lo, hi) pair loop
    # verbatim. Results are identical by construction: packing is a
    # bijection on the edge set and every downstream value is a count.
    packed = False
    if tri is not None:
        dts = dict(sup.dtypes)
        if dts.get("lo") in ("bigint", "int") and dts.get("hi") in (
            "bigint",
            "int",
        ):
            b = sup.agg(
                F.min(F.least("lo", "hi")).alias("mn"),
                F.max(F.greatest("lo", "hi")).alias("mx"),
            ).first()
            packed = (
                b["mn"] is not None and b["mn"] >= 0 and b["mx"] < (1 << 31)
            )
    if packed:
        _p = F.lit(1 << 32).cast("long")

        def _pk(lo: str, hi: str):
            # the gate bounded sup's ids only: a caller's tri0 id outside
            # [0, 2^31) would alias another edge's key ((0, 2^32) packs
            # like (1, 0)), so every pack checks its ids and fails loud
            # inside the jobs that already read them — no extra job
            top = (1 << 31) - 1
            ok = F.col(lo).between(0, top) & F.col(hi).between(0, top)
            msg = "truss_peel edge id outside [0, 2^31): (%s, %s)"
            return F.when(
                ~ok, F.raise_error(F.format_string(msg, lo, hi))
            ).otherwise(F.col(lo).cast("long") * _p + F.col(hi).cast("long"))

        keyed_sup = sup.select(_pk("lo", "hi").alias("e"), "sup")
        tri = tri.select(
            _pk("lo1", "hi1").alias("e1"),
            _pk("lo2", "hi2").alias("e2"),
            _pk("lo3", "hi3").alias("e3"),
        )
        keys = ["e"]
    else:
        keyed_sup = sup
        keys = ["lo", "hi"]
    cur_sup = keyed_sup
    out = None
    edges = None
    n_before = None
    for r in range(1, rounds + 1):
        if r > 1 and tri is not None:
            # subgraph triangles = original triangles whose 3 edges all
            # survive: three semi-joins against the shrinking survivor
            # set, then one explode + hash aggregate — no wedge join
            for i in (1, 2, 3):
                tri = tri.join(
                    edges.select(
                        *[F.col(k).alias(f"{k}{i}") for k in keys]
                    ),
                    [f"{k}{i}" for k in keys],
                    "left_semi",
                )
            if r < rounds:
                # next round's semi-joins re-read it; on the final
                # round the chain is linear into surv — stay lazy
                tri = tri.localCheckpoint(eager=True)
            if packed:
                counts = (
                    tri.select(F.explode(F.array("e1", "e2", "e3")).alias("e"))
                    .groupBy("e")
                    .agg(F.count(F.lit(1)).alias("_sup"))
                )
            else:
                counts = _triangle_edge_counts(tri)
            # single consumer (surv) — lazy, no per-round checkpoint:
            # the survivor job computes join + filter in one pass
            cur_sup = edges.join(counts, keys, "left").select(
                *keys,
                F.coalesce(F.col("_sup"), F.lit(0)).cast("long").alias("sup"),
            )
        elif r > 1:
            cur_sup = _edge_support(edges).select("lo", "hi", "sup")
        # persist (not localCheckpoint) the survivor set: an eagerly
        # materialized InMemoryRelation carries REAL size stats, so the
        # next round's three semi-joins broadcast it when it is small
        # and fall back to SMJ when it is not — the scale-adaptive
        # version of the broadcast_labels contract (a checkpoint erases
        # stats and forces SMJ: 3 sorts of the triangle list per round,
        # measured 2.8 -> 2.3 s/round at sf0.1). Lineage stays bounded:
        # the triangle chain is checkpointed per round either way.
        surv = (
            cur_sup.crossJoin(t_df)
            .filter(F.col("sup") >= F.col("_t"))
            .select(*keys)
            .persist()
        )
        # The materializing count IS the round's n_survivors (and the
        # next round's n_edges_before): carry both as literals so the
        # final action never re-aggregates a superseded survivor set,
        # which lets round r-1's cache be dropped as soon as round r is
        # materialized (persisted rounds otherwise accumulate across a
        # session — measured GC pressure under the bench's 3-execution
        # protocol). Counts stay exact: they are the same bounded
        # actions on the same pinned relations, taken once.
        n_surv = surv.count()
        if n_before is None:  # round 1: |sup| (the left join preserves
            n_before = sup.count()  # every edge), a pinned relation
        row = t_df.select(
            F.lit(r).cast("long").alias("round"),
            F.lit(n_before).cast("long").alias("n_edges_before"),
            F.lit(n_surv).cast("long").alias("n_survivors"),
            F.col("_t").cast("long").alias("support_threshold"),
        )
        out = row if out is None else out.unionAll(row)
        if edges is not None:
            edges.unpersist()
        edges = surv
        n_before = n_surv
    if edges is not None:
        # the output rows carry their counts as literals — the final
        # survivor cache has no remaining consumer
        edges.unpersist()
    return out


def local_clustering_coefficients(sim: DataFrame) -> DataFrame:
    """Per-node local clustering coefficient (Watts & Strogatz 1998)
    DERIVED from a :func:`scan_edge_similarity` relation — no new graph
    pass: each canonical edge already carries its triangle support
    (``common_closed - 2``) and both endpoint degrees, and a triangle
    {u, v, w} contributes support to exactly TWO edges incident to each
    of its corners, so ``t(v) = (sum of support over v's incident
    edges) / 2`` exactly (even by construction).

    ``lcc(v) = 2 t(v) / (deg(v) (deg(v) - 1))`` — one correctly-rounded
    IEEE division over exact integers (0.0 for deg < 2, the
    degenerate-denominator convention), bit-identical cross-engine.

    Scale: one explode (2 rows per edge) + one hash aggregate on node —
    linear in edges, no new wedge work; feed it the pinned/shared sigma
    relation (the registry's `_scan_sigma` cache) and the whole query
    is an aggregate over already-materialized blocks.

    Output: one row per node — (node, deg, triangles, lcc).
    """
    inc = sim.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("item_a").alias("node"),
                    F.col("deg_a").alias("deg"),
                    (F.col("common_closed") - 2).alias("sup"),
                ),
                F.struct(
                    F.col("item_b").alias("node"),
                    F.col("deg_b").alias("deg"),
                    (F.col("common_closed") - 2).alias("sup"),
                ),
            )
        ).alias("_e")
    ).select("_e.node", "_e.deg", "_e.sup")
    per = inc.groupBy("node").agg(
        F.max("deg").cast("long").alias("deg"),
        F.expr("sum(sup) div 2").cast("long").alias("triangles"),
    )
    return per.select(
        "node",
        "deg",
        "triangles",
        F.when(
            F.col("deg") >= 2,
            (2 * F.col("triangles")).cast("double")
            / (F.col("deg") * (F.col("deg") - 1)).cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("lcc"),
    )


def triangle_stats_from_similarity(sim: DataFrame) -> DataFrame:
    """:func:`triangle_stats`' exact output derived from a
    :func:`scan_edge_similarity` relation — zero wedge recomputation:
    every canonical edge already carries its triangle support
    (``common_closed - 2``, each triangle exploded onto its 3 edges by
    construction, so ``sum(support) = 3T`` exactly) and both endpoint
    degrees (recovered per node with a max — they repeat per incident
    edge). Same columns, same integer values, same one
    correctly-rounded transitivity division as the self-contained
    operator; feed it the registry's pinned shared sigma and the whole
    query is two tiny aggregates over already-materialized blocks.

    Output: one row — (n_nodes, n_edges, n_wedges, n_triangles,
    transitivity), bit-identical to ``triangle_stats(pairs)`` on the
    same graph.
    """
    deg = (
        sim.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("item_a").alias("node"),
                        F.col("deg_a").alias("deg"),
                    ),
                    F.struct(
                        F.col("item_b").alias("node"),
                        F.col("deg_b").alias("deg"),
                    ),
                )
            ).alias("_e")
        )
        .select("_e.node", "_e.deg")
        .groupBy("node")
        .agg(F.max("deg").alias("_d"))
    )
    nn_w = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.coalesce(
            F.sum(F.expr("(_d * (_d - 1)) div 2")), F.lit(0)
        )
        .cast("long")
        .alias("n_wedges"),
    )
    em = sim.agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.coalesce(F.expr("sum(common_closed - 2) div 3"), F.lit(0))
        .cast("long")
        .alias("n_triangles"),
    )
    return nn_w.crossJoin(em).select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.when(F.col("n_wedges") == 0, F.lit(0.0))
        .otherwise(
            F.lit(3.0)
            * F.col("n_triangles").cast("double")
            / F.col("n_wedges").cast("double")
        )
        .alias("transitivity"),
    )


def graph_transitivity(sim: DataFrame) -> DataFrame:
    """Global clustering coefficient (transitivity) from a
    :func:`scan_edge_similarity` relation: ``3 x triangles / wedges``
    with ``3T = sum(common_closed - 2)`` over canonical edges (each
    triangle exploded onto its 3 edges by construction) and
    ``wedges = sum_v deg(v) (deg(v) - 1) / 2`` over the per-node degree
    table recovered from the edge endpoints. All-integer numerators and
    denominators, one final correctly-rounded division (NULL if the
    graph has no wedge).

    One explode + two tiny aggregates over the (shared, pinned) sigma
    relation — no wedge recomputation at any scale.

    Output: one row — (n_nodes, n_edges, n_triangles, n_wedges,
    transitivity).
    """
    deg = (
        sim.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("item_a").alias("node"),
                        F.col("deg_a").alias("deg"),
                    ),
                    F.struct(
                        F.col("item_b").alias("node"),
                        F.col("deg_b").alias("deg"),
                    ),
                )
            ).alias("_e")
        )
        .select("_e.node", "_e.deg")
        .groupBy("node")
        .agg(F.max("deg").alias("_d"))
    )
    node_side = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.expr("sum(_d * (_d - 1) div 2)").cast("long").alias("n_wedges"),
    )
    edge_side = sim.agg(
        F.count(F.lit(1)).cast("long").alias("n_edges"),
        F.expr("sum(common_closed - 2) div 3").cast("long").alias(
            "n_triangles"
        ),
        F.sum(F.col("common_closed") - 2).cast("long").alias("_t3"),
    )
    return (
        edge_side.crossJoin(F.broadcast(node_side))
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            "n_wedges",
            F.when(
                F.col("n_wedges") > 0,
                F.col("_t3").cast("double") / F.col("n_wedges").cast("double"),
            ).alias("transitivity"),
        )
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: tuple[str, ...],
    iters: int = 5,
    damping_pct: int = 85,
    broadcast_ranks: bool = True,
) -> DataFrame:
    """Personalized (topic-sensitive) PageRank (Haveliwala, WWW 2002):
    the teleport mass returns to a SEED set instead of the uniform
    prior — "which items are central RELATIVE TO these seeds", the
    related-items ranking a recommender actually serves, where
    :func:`pagerank` answers the global-catalog question.

    Same fixed-point integer contract as :func:`pagerank` (1e-12-unit
    bigint ranks, floor divisions, fixed ``iters`` rounds, the unrolled
    SQL oracle): the start vector puts ``UNITS div |seeds|`` on each
    seed and 0 elsewhere, and each round adds
    ``(100-d)*UNITS div (100*|seeds|)`` teleport to seeds only. A seed
    absent from the graph simply never receives its share (total mass
    is then < 1 by that fraction — a loud property of the seed list,
    not silently renormalized). Same per-round dataflow and scale
    posture as pagerank; ``broadcast_ranks=False`` for rank tables past
    broadcast size.

    Output: (node, rank_units, rank) — rank mass concentrated around
    the seeds' neighborhoods.
    """
    if not seeds:
        raise ValueError("personalized_pagerank needs a non-empty seed set")
    if not 0 <= damping_pct <= 100:
        raise ValueError(f"damping_pct must be in [0, 100], got {damping_pct}")
    s = len(seeds)
    is_seed = F.col("node").isin(*seeds)
    teleport_units = (100 - damping_pct) * UNITS // (100 * s)
    return _rank_rounds(
        edges,
        lambda nodes: (
            F.when(is_seed, F.lit(UNITS // s)).otherwise(F.lit(0)),
            F.when(is_seed, F.lit(teleport_units)).otherwise(F.lit(0)),
        ),
        iters,
        damping_pct,
        broadcast_ranks,
    )
