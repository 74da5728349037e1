"""Fixed-point Lloyd k-means: independent pure-Python reference of the
same contract (md5 seed draw, integer distances, trunc-division
updates, smaller-cid tie-break, empty clusters keep position)."""

import hashlib

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from probability_of_buying_two_products_together_hadoop_project_spark.operators import similarity

UNIT = 10**6


def trunc_div(a: int, b: int) -> int:
    q = abs(a) // b
    return -q if a < 0 else q


def py_quantize(vecs: dict[int, list | None], unit: int = UNIT) -> dict[int, list[int]]:
    """floor(v * unit) on the double product, matching both engines.
    NULL and empty vectors have no positions, so they drop out."""
    import math

    return {
        i: [math.floor(float(v) * float(unit)) for v in vs]
        for i, vs in vecs.items()
        if vs
    }


def py_argmin(qv: list[int], cents: dict) -> tuple[int, int]:
    """(d2, cid) of the nearest centroid: squared differences over the
    positions both vectors have (p < min(len(v), len(c))), ties to the
    smaller cid."""
    return min(
        (sum((a - b) ** 2 for a, b in zip(qv, c)), cid)
        for cid, (c, _) in cents.items()
    )


def py_kmeans(vecs: dict[int, list | None], k: int, iters: int, unit: int = UNIT):
    """Reference implementation of kmeans_lloyd's documented contract,
    ragged vectors included. Returns {cid: (centroid_units, n_members)},
    both lists over the centroid's own positions.

    - seeds are the k ids with the smallest md5 draw, over every row; a
      drawn seed whose vector is NULL or empty yields no centroid;
    - a centroid keeps its seed's length; the update at position p
      averages the members that have position p, and ``n_members`` is
      counted per (cid, pos); a position no member reaches keeps its
      value with n_members = 0."""
    q = py_quantize(vecs, unit)
    draws = sorted(
        (hashlib.md5(f"km|{i}".encode()).hexdigest(), i) for i in vecs
    )
    cents = {
        cid: (list(q[i]), [0] * len(q[i]))
        for cid, (_, i) in enumerate(draws[:k])
        if i in q
    }
    for _ in range(iters):
        assign = {i: py_argmin(qv, cents)[1] for i, qv in q.items()} if cents else {}
        new = {}
        for cid, (c, _) in cents.items():
            members = [q[i] for i, a in assign.items() if a == cid]
            units, counts = [], []
            for p in range(len(c)):
                col = [m[p] for m in members if len(m) > p]
                units.append(trunc_div(sum(col), len(col)) if col else c[p])
                counts.append(len(col))
            new[cid] = (units, counts)
        cents = new
    return cents


def py_kmeans_assign(vecs, k: int, iters: int, unit: int = UNIT):
    """kmeans_assign's contract: train, then one more argmin pass.
    Returns {id: (cid, d2)} over the non-empty vectors."""
    cents = py_kmeans(vecs, k, iters, unit)
    if not cents:
        return {}
    return {
        i: py_argmin(qv, cents)[::-1]
        for i, qv in py_quantize(vecs, unit).items()
    }


vec = st.lists(
    st.floats(min_value=-1.0, max_value=1.0, allow_nan=False, width=32),
    min_size=4,
    max_size=4,
)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(vec, min_size=3, max_size=12, unique_by=lambda v: tuple(v)))
def test_kmeans_matches_python_reference(spark, vec_lists):
    k, iters = 3, 2
    vecs = dict(enumerate(vec_lists))
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()],
        "vec_id long, embedding array<float>",
    )
    got: dict[int, tuple[list, list]] = {}
    rows = similarity.kmeans_lloyd(df, k=min(k, len(vecs)), iters=iters).collect()
    for r in sorted(rows, key=lambda r: (r["cid"], r["pos"])):
        units, counts = got.setdefault(r["cid"], ([], []))
        assert r["pos"] == len(units)
        units.append(r["centroid_units"])
        counts.append(r["n_members"])
    # float32 -> double widening is exact, so the reference quantizes
    # the same doubles the engine's cast produces
    import numpy as np

    want = py_kmeans(
        {i: [float(np.float32(x)) for x in vecs[i]] for i in vecs},
        min(k, len(vecs)),
        iters,
    )
    assert got == want


def test_kmeans_empty_cluster_keeps_position(spark):
    """Two far seeds, all points at one of them: the starved centroid
    keeps its seed position with n_members = 0."""
    rows = [(0, [0.0, 0.0]), (1, [0.001, 0.0]), (2, [0.002, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.kmeans_lloyd(df, k=2, iters=2).collect()
    by_cid: dict[int, list] = {}
    for r in out:
        by_cid.setdefault(r["cid"], []).append(r)
    counts = {cid: rs[0]["n_members"] for cid, rs in by_cid.items()}
    assert sorted(counts.values()) in ([0, 3], [1, 2])
    total = sum(counts.values())
    assert total == 3
