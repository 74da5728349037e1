"""The Arrow k-means kernel against independent mirrors of the public
contract: training (``kmeans_lloyd``), assignment (``kmeans_assign``)
and the SemDeDup screen (``semantic_dedup``).

"Relational" in the test names is the per-position contract the
relational explode/join loop defined before the kernel became the only
path: distances and updates over the positions both sides have, NULL
and empty vectors left out, a NULL cosine for a pair of different
lengths. The pure-Python mirrors in ``test_kmeans.py`` and
``test_semantic_dedup.py`` reproduce that contract; the numpy mirror
below does the same for inputs too large for them (k x dim past 65536
cells, a cluster past 4096 members)."""

import hashlib
import math

import numpy as np
import pytest
from test_kmeans import py_kmeans, py_kmeans_assign
from test_semantic_dedup import py_semantic_dedup

from probability_of_buying_two_products_together_hadoop_project_spark.operators import (
    similarity,
)


def _rows(ragged=False):
    rows = []
    for i in range(60):
        v = [((i * 7 + p * 13) % 29 - 14) / 7.0 for p in range(6)]
        if ragged and i % 11 == 0:
            v = v[: 3 + i % 3]  # ragged points: 3, 4 or 5 positions
        rows.append((i, v))
    rows.append((60, None))  # NULL vector: excluded from assignment
    rows.append((61, []))  # empty vector: excluded from assignment
    return rows


def _df(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _f32(rows):
    """The vectors as the float32 column stores them."""
    return {
        i: None if v is None else [float(np.float32(x)) for x in v]
        for i, v in rows
    }


def _centroids(df):
    got: dict[int, tuple[list, list]] = {}
    for r in sorted(df.collect(), key=lambda r: (r["cid"], r["pos"])):
        units, counts = got.setdefault(r["cid"], ([], []))
        assert r["pos"] == len(units)
        units.append(r["centroid_units"])
        counts.append(r["n_members"])
    return got


def _assignment(df):
    return {r["_id"]: (r["cid"], r["_d2"]) for r in df.collect()}


def _screen(df):
    return {
        r["vec_id"]: (r["cid"], r["rk"], r["max_prior_sim"], r["kept"])
        for r in df.collect()
    }


def np_kmeans_assign(vecs, k, iters, unit=10**6):
    """numpy mirror of kmeans_assign (ragged contract): per-position
    masks over a zero-padded (n, dim) matrix, a (n, k, dim) broadcast for
    the distances. Returns ({id: (cid, d2)}, {id: quantized vector})."""
    ids = [i for i, v in vecs.items() if v]
    lens = np.array([len(vecs[i]) for i in ids])
    dim = int(lens.max())
    Q = np.zeros((len(ids), dim), dtype=np.int64)
    for r, i in enumerate(ids):
        Q[r, : lens[r]] = np.floor(np.array(vecs[i], dtype=np.float64) * float(unit))
    row = {i: r for r, i in enumerate(ids)}
    draws = sorted((hashlib.md5(f"km|{i}".encode()).hexdigest(), i) for i in vecs)
    seeds = [(cid, row[i]) for cid, (_, i) in enumerate(draws[:k]) if i in row]
    cids = np.array([c for c, _ in seeds])
    C = Q[[r for _, r in seeds]].copy()
    clen = lens[[r for _, r in seeds]]
    pos = np.arange(dim)

    def nearest():
        both = pos[None, None, :] < np.minimum(lens[:, None], clen[None, :])[:, :, None]
        d2 = (((Q[:, None, :] - C[None, :, :]) ** 2) * both).sum(axis=2)
        a = np.argmin(d2, axis=1)  # first minimum = smaller cid
        return a, d2[np.arange(len(ids)), a]

    for _ in range(iters):
        a, _ = nearest()
        for j in range(len(cids)):
            has = pos[None, :] < lens[a == j][:, None]
            cnt = has.sum(axis=0)
            s = (Q[a == j] * has).sum(axis=0)
            upd = (cnt > 0) & (pos < clen[j])
            C[j, upd] = [
                -(-x // n) if x < 0 else x // n for x, n in zip(s[upd], cnt[upd])
            ]
    a, d2 = nearest()
    assign = {i: (int(cids[a[r]]), int(d2[r])) for r, i in enumerate(ids)}
    return assign, {i: Q[row[i], : lens[row[i]]] for i in ids}


def np_semantic_dedup(vecs, k, iters, threshold, unit=10**6):
    """numpy mirror of semantic_dedup: rank by (d2 DESC, id) per
    cluster; max cosine over every earlier-ranked member of the same
    length with a non-zero norm."""
    assign, q = np_kmeans_assign(vecs, k, iters, unit)
    out = {}
    by_cluster: dict[int, list[int]] = {}
    for i, (cid, _) in assign.items():
        by_cluster.setdefault(cid, []).append(i)
    for cid, members in by_cluster.items():
        ranked = sorted(members, key=lambda i: (-assign[i][1], i))
        seen: dict[int, list] = {}
        for rk, i in enumerate(ranked, 1):
            qi = q[i]
            ni = int(qi @ qi)
            prior = seen.setdefault(len(qi), [])
            best = None
            if ni > 0 and prior:
                P = np.array([p for p, _ in prior])
                nj = np.array([n for _, n in prior])
                cos = (P @ qi).astype(np.float64) / (
                    math.sqrt(float(ni)) * np.sqrt(nj.astype(np.float64))
                )
                best = float(cos.max())
            if ni > 0:
                prior.append((qi, ni))
            out[i] = (cid, rk, best, best is None or best < threshold)
    return out


def test_kernel_training_bit_equals_relational(spark):
    rows = _rows()
    got = _centroids(similarity.kmeans_lloyd(_df(spark, rows), k=4, iters=3))
    assert got == py_kmeans(_f32(rows), 4, 3)


def test_kernel_assign_bit_equals_relational(spark):
    rows = _rows(ragged=True)
    got = _assignment(similarity.kmeans_assign(_df(spark, rows), k=4, iters=2))
    assert got == py_kmeans_assign(_f32(rows), 4, 2)
    assert len(got) == 60


def test_kernel_semantic_dedup_bit_equals_relational(spark):
    rows = _rows()
    got = _screen(
        similarity.semantic_dedup(_df(spark, rows), k=4, iters=2, threshold=0.35)
    )
    assert got == py_semantic_dedup(_f32(rows), 4, 2, 0.35)


def test_kernel_semantic_dedup_ragged_equals_relational(spark):
    # clusters mix vector lengths: a ragged pair has a NULL cosine
    rows = _rows(ragged=True)
    got = _screen(
        similarity.semantic_dedup(_df(spark, rows), k=4, iters=2, threshold=0.35)
    )
    assert got == py_semantic_dedup(_f32(rows), 4, 2, 0.35)
    assert len(got) == 60


def test_ragged_seed_vectors_match_mirror(spark):
    # every vector ragged, so whichever ids the md5 draw picks, the
    # centroids have different lengths
    rows = [(i, [float(i % 5) - 2.0 + p / 8.0 for p in range(3 + i % 4)]) for i in range(20)]
    df, vecs = _df(spark, rows), _f32(rows)
    got = _centroids(similarity.kmeans_lloyd(df, k=4, iters=2))
    want = py_kmeans(vecs, 4, 2)
    assert got == want
    assert len({len(u) for u, _ in want.values()}) > 1
    assert _assignment(similarity.kmeans_assign(df, k=4, iters=2)) == (
        py_kmeans_assign(vecs, 4, 2)
    )
    assert _screen(similarity.semantic_dedup(df, k=4, iters=2, threshold=0.9)) == (
        py_semantic_dedup(vecs, 4, 2, 0.9)
    )


@pytest.mark.parametrize("empty", [None, []])
def test_null_or_empty_seed_yields_no_centroid(spark, empty):
    rows = _rows()
    first = min(range(62), key=lambda i: hashlib.md5(f"km|{i}".encode()).hexdigest())
    rows[first] = (first, empty)
    df, vecs = _df(spark, rows), _f32(rows)
    got = _centroids(similarity.kmeans_lloyd(df, k=4, iters=2))
    assert 0 not in got and len(got) == 3
    assert got == py_kmeans(vecs, 4, 2)
    assert _assignment(similarity.kmeans_assign(df, k=4, iters=2)) == (
        py_kmeans_assign(vecs, 4, 2)
    )


def test_large_k_times_dim_matches_numpy_mirror(spark):
    # k * dim = 66560 cells, past the 65536-cell cap the kernel once had
    rng = np.random.default_rng(7)
    rows = [(i, rng.uniform(-1, 1, 1024).astype(np.float32).tolist()) for i in range(100)]
    df, vecs = _df(spark, rows), _f32(rows)
    want, _ = np_kmeans_assign(vecs, 65, 2)
    assert _assignment(similarity.kmeans_assign(df, k=65, iters=2)) == want


def test_unit_1000_matches_mirror(spark):
    rows = _rows(ragged=True)
    df, vecs = _df(spark, rows), _f32(rows)
    got = _centroids(similarity.kmeans_lloyd(df, k=4, iters=3, unit=1000))
    assert got == py_kmeans(vecs, 4, 3, unit=1000)
    assert _assignment(similarity.kmeans_assign(df, k=4, iters=2, unit=1000)) == (
        py_kmeans_assign(vecs, 4, 2, unit=1000)
    )
    assert _screen(
        similarity.semantic_dedup(df, k=4, iters=2, threshold=0.35, unit=1000)
    ) == np_semantic_dedup(vecs, 4, 2, 0.35, unit=1000)


def test_semantic_dedup_cluster_past_4096_members(spark):
    # k = 1: one cluster of 4200 members, a tenth of them one position
    # shorter, on a coarse grid so that many pairs screen
    rng = np.random.default_rng(11)
    rows = []
    for i in range(4200):
        v = (rng.integers(-3, 4, 4) / 4.0).tolist()
        rows.append((i, v[:3] if i % 10 == 0 else v))
    df, vecs = _df(spark, rows), _f32(rows)
    got = _screen(similarity.semantic_dedup(df, k=1, iters=1, threshold=0.9))
    want = np_semantic_dedup(vecs, 1, 1, 0.9)
    assert got == want
    kept = sum(v[3] for v in got.values())
    assert 0 < kept < 4200


_ENTRY_POINTS = [
    similarity.kmeans_lloyd,
    similarity.kmeans_assign,
    similarity.semantic_dedup,
]


@pytest.mark.parametrize("fn", _ENTRY_POINTS, ids=lambda f: f.__name__)
def test_int64_overflow_raises(spark, fn):
    # components up to 4.4e6 quantize to 4.4e12: an 8-position squared
    # distance reaches ~6e26, past int64 — an error, never a wrapped d2
    rows = [
        (i, [((i * 7 + p * 13) % 29 - 14) / 14.0 * 4.4e6 for p in range(8)])
        for i in range(40)
    ]
    with pytest.raises(OverflowError, match=r"kmeans: vector \d+: .* exceed int64"):
        fn(_df(spark, rows).coalesce(1), k=4, iters=2).collect()


@pytest.mark.parametrize("fn", _ENTRY_POINTS, ids=lambda f: f.__name__)
def test_null_element_raises_naming_the_vector(spark, fn):
    rows = [
        (i, [(i % 5) / 5.0, None if i % 9 == 0 else 0.5, 0.25, -(i % 3) / 3.0])
        for i in range(40)
    ]
    # one partition: the failing task is the stage's only task, so no
    # sibling Python task is killed mid-read while the next test starts
    with pytest.raises(ValueError, match=r"kmeans: vector (\d+) has a NULL") as e:
        fn(_df(spark, rows).coalesce(1), k=4, iters=2).collect()
    assert int(str(e.value).split()[2]) % 9 == 0
