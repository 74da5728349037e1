"""SemDeDup (`similarity.semantic_dedup`) tests: planted semantic
duplicates, the farthest-from-centroid keep rule, and full parity with
an independent pure-Python mirror of the documented contract (the
fixed-point k-means + quantized-cosine greedy screen the DuckDB oracle
also replays).
"""

import hashlib
import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from probability_of_buying_two_products_together_hadoop_project_spark.operators import similarity

UNIT = 10**6


def trunc_div(a: int, b: int) -> int:
    q = abs(a) // b
    return -q if a < 0 else q


def py_semantic_dedup(vecs: dict[int, list | None], k: int, iters: int, threshold: float):
    """Independent mirror: fixed-point Lloyd's, final integer argmin
    assignment, rank = (d2 DESC, id), drop iff an earlier-ranked member
    of the same cluster has quantized cosine >= threshold.

    Ragged contract: NULL and empty vectors drop out (a drawn seed with
    one yields no centroid); distances and centroid updates run over the
    positions both sides have; the cosine of two vectors of different
    lengths is NULL, so such a pair never screens."""
    import numpy as np

    # the embedding column is float32: quantize from the float32 value,
    # exactly as the engine's double cast of the stored float does
    q = {
        i: [math.floor(float(np.float32(v)) * float(UNIT)) for v in vs]
        for i, vs in vecs.items()
        if vs
    }
    draws = sorted((hashlib.md5(f"km|{i}".encode()).hexdigest(), i) for i in vecs)
    cents = {cid: list(q[i]) for cid, (_, i) in enumerate(draws[:k]) if i in q}
    if not cents:
        return {}

    def nearest(qv):
        return min(
            (sum((a - b) ** 2 for a, b in zip(qv, c)), cid)
            for cid, c in cents.items()
        )

    for _ in range(iters):
        assign = {i: nearest(qv) for i, qv in q.items()}
        for cid, c in list(cents.items()):
            members = [q[i] for i, (_, a) in assign.items() if a == cid]
            for p in range(len(c)):
                col = [m[p] for m in members if len(m) > p]
                if col:
                    c[p] = trunc_div(sum(col), len(col))
    # final assignment against the trained centroids
    assign = {i: nearest(qv) for i, qv in q.items()}
    out = {}
    by_cluster: dict[int, list[int]] = {}
    for i, (d2, cid) in assign.items():
        by_cluster.setdefault(cid, []).append(i)
    for cid, ids in by_cluster.items():
        ranked = sorted(ids, key=lambda i: (-assign[i][0], i))
        for pos, i in enumerate(ranked):
            best = None
            for j in ranked[:pos]:
                ni = sum(a * a for a in q[i])
                nj = sum(a * a for a in q[j])
                if ni == 0 or nj == 0 or len(q[i]) != len(q[j]):
                    continue  # zero norm or ragged pair: cosine NULL
                dot = sum(a * b for a, b in zip(q[i], q[j]))
                cos = float(dot) / (math.sqrt(float(ni)) * math.sqrt(float(nj)))
                best = cos if best is None else max(best, cos)
            out[i] = (cid, pos + 1, best, best is None or best < threshold)
    return out


def _run(spark, vecs, k=2, iters=2, threshold=0.9):
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id bigint, embedding array<float>"
    )
    return {
        r.vec_id: (r.cid, r.rk, r.max_prior_sim, r.kept)
        for r in similarity.semantic_dedup(
            df, k=k, iters=iters, threshold=threshold
        ).collect()
    }


def test_planted_duplicates_collapse_to_one(spark):
    """Three near-identical vectors + two orthogonal ones: exactly one
    of the near-identical group survives; the orthogonals all survive."""
    vecs = {
        0: [1.0, 0.0, 0.0, 0.0],
        1: [0.999, 0.001, 0.0, 0.0],
        2: [0.998, 0.0, 0.002, 0.0],
        3: [0.0, 1.0, 0.0, 0.0],
        4: [0.0, 0.0, 1.0, 0.0],
    }
    got = _run(spark, vecs, k=2, iters=2, threshold=0.95)
    dup_group = [i for i in (0, 1, 2)]
    kept_dups = [i for i in dup_group if got[i][3]]
    assert len(kept_dups) == 1
    assert got[3][3] and got[4][3]
    want = py_semantic_dedup(vecs, k=2, iters=2, threshold=0.95)
    assert got == want


def test_all_distinct_vectors_all_kept(spark):
    vecs = {
        0: [1.0, 0.0, 0.0, 0.0],
        1: [0.0, 1.0, 0.0, 0.0],
        2: [0.0, 0.0, 1.0, 0.0],
        3: [0.0, 0.0, 0.0, 1.0],
    }
    got = _run(spark, vecs, k=2, iters=2, threshold=0.9)
    assert all(v[3] for v in got.values())
    # rank-1 member of each cluster has NULL max_prior_sim
    for v in got.values():
        if v[1] == 1:
            assert v[2] is None


def test_keep_rule_prefers_farthest_from_centroid(spark):
    """Within a duplicate group the survivor must be the earliest in
    (d2 DESC, id) order — verified via the python mirror's rank."""
    vecs = {
        0: [0.9, 0.1, 0.0, 0.0],
        1: [0.905, 0.095, 0.0, 0.0],
        2: [0.7, 0.3, 0.0, 0.0],  # same direction-ish, farther out
        3: [0.0, 0.0, 1.0, 0.0],
    }
    got = _run(spark, vecs, k=2, iters=2, threshold=0.97)
    want = py_semantic_dedup(vecs, k=2, iters=2, threshold=0.97)
    assert got == want
    # dropped members must name a strictly earlier-ranked cause
    for i, (cid, rk, sim, kept) in got.items():
        if not kept:
            assert sim is not None and sim >= 0.97
            assert rk > 1


vec4 = st.lists(
    st.floats(min_value=-1.0, max_value=1.0, allow_nan=False, width=32),
    min_size=4,
    max_size=4,
)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(vec4, min_size=2, max_size=10, unique_by=lambda v: tuple(v)))
def test_semantic_dedup_matches_python_reference(spark, vec_lists):
    vecs = {i: v for i, v in enumerate(vec_lists)}
    got = _run(spark, vecs, k=2, iters=2, threshold=0.8)
    want = py_semantic_dedup(vecs, k=2, iters=2, threshold=0.8)
    assert got == want


def test_zero_quantized_norm_is_kept_and_never_screens(spark):
    """Pinned hypothesis find: a float32 subnormal quantizes to the zero
    vector — cosine undefined (NULL), member kept, others unaffected."""
    vecs = {
        0: [0.0, 0.0, 0.0, 1.0],
        1: [0.0, 0.0, 0.0, 1.401298464324817e-45],  # min float32 subnormal
        2: [0.0, 0.0, 0.0, -1.0],
    }
    got = _run(spark, vecs, k=2, iters=2, threshold=0.8)
    want = py_semantic_dedup(vecs, k=2, iters=2, threshold=0.8)
    assert got == want
    assert got[1][3] is True  # zero-norm member kept
    assert got[1][2] is None or got[1][1] == 1
