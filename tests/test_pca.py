"""PCA top-component (fixed-point power method) tests: a pure-python
integer mirror pins every loading bit; numpy's eigendecomposition
confirms convergence to the dominant direction; the sign pin and
degenerate inputs are exercised."""

import math
import random

import pytest
from pyspark.sql import functions as F

from probability_of_buying_two_products_together_hadoop_project_spark.operators import similarity

UNIT = 10**6


def _py_pca(vectors, iters=6, unit=UNIT):
    """Integer mirror of the fixed-point contract."""
    n = len(vectors)
    dim = len(vectors[0])
    q = [[math.floor(x * unit) for x in v] for v in vectors]

    # trunc division toward zero, matching Spark div / DuckDB //
    def trunc_div(a, b):
        qd = abs(a) // abs(b)
        return qd if (a >= 0) == (b >= 0) else -qd

    mu = [trunc_div(sum(r[i] for r in q), n) for i in range(dim)]
    dev = [[r[i] - mu[i] for i in range(dim)] for r in q]
    s_mat = [
        [sum(r[i] * r[j] for r in dev) for j in range(dim)] for i in range(dim)
    ]
    v = [unit] * dim
    for _ in range(iters):
        t = [sum(s_mat[i][j] * v[j] for j in range(dim)) for i in range(dim)]
        m = max(abs(x) for x in t)
        v = [0] * dim if m == 0 else [trunc_div(x * unit, m) for x in t]
    first_nz = next((x for x in v if x != 0), 1)
    if first_nz < 0:
        v = [-x for x in v]
    t = [sum(s_mat[i][j] * v[j] for j in range(dim)) for i in range(dim)]
    num = sum(t[i] * v[i] for i in range(dim))
    den = sum(x * x for x in v)
    lam = trunc_div(num, den) if den else 0
    tr = sum(s_mat[i][i] for i in range(dim))
    return v, lam, tr


def test_pca_matches_python_mirror_and_numpy(spark):
    import numpy as np

    rng = random.Random(7)
    # strong direction along (1, 1, 0, 0) + noise
    vecs = []
    for _ in range(200):
        a = rng.gauss(0, 3)
        vecs.append(
            [
                a + rng.gauss(0, 0.3),
                a + rng.gauss(0, 0.3),
                rng.gauss(0, 0.3),
                rng.gauss(0, 0.3),
            ]
        )
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id bigint, embedding array<float>",
    )
    # the engine quantizes the FLOAT32 storage of each component; the
    # mirror must read the same float32 values
    f32 = [[float(np.float32(x)) for x in v] for v in vecs]
    got = {
        r.pos: (r.loading_units, r.eigenvalue_str, r.var_ratio)
        for r in similarity.pca_top_component(df, iters=6).collect()
    }
    v, lam, tr = _py_pca(f32, iters=6)
    assert {p: u for p, (u, _, _) in got.items()} == dict(enumerate(v))
    assert got[0][1] == str(lam)
    assert got[0][2] == pytest.approx(lam / tr, rel=1e-12)
    # numpy ground truth: dominant direction ~ (1,1,0,0)/sqrt(2)
    arr = np.array(vecs)
    cov = np.cov(arr.T)
    w, ev = np.linalg.eigh(cov)
    top = ev[:, -1]
    top = top if top[0] > 0 else -top
    loadings = np.array([got[i][0] for i in range(4)], dtype=float)
    loadings /= np.linalg.norm(loadings)
    assert abs(float(np.dot(loadings, top))) > 0.999
    # explained ratio dominates for a rank-1-ish corpus
    assert got[0][2] > 0.9


def test_pca_sign_pin_flips_consistently(spark):
    # a corpus whose natural power-iteration direction is negative on
    # component 0 must come out positive after the pin
    vecs = [[-float(i % 7 + 1), float(i % 3)] for i in range(60)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id bigint, embedding array<float>",
    )
    rows = {r.pos: r.loading_units for r in similarity.pca_top_component(df, iters=5).collect()}
    first_nz = next(rows[p] for p in sorted(rows) if rows[p] != 0)
    assert first_nz > 0


def test_pca_validation_and_constant_input(spark):
    df = spark.createDataFrame(
        [(1, [2.0, 2.0]), (2, [2.0, 2.0])],
        "vec_id bigint, embedding array<float>",
    )
    with pytest.raises(ValueError):
        similarity.pca_top_component(df, iters=0)
    # constant corpus: zero scatter -> zero loadings, null ratio
    rows = similarity.pca_top_component(df, iters=3).collect()
    assert all(r.loading_units == 0 for r in rows)
    assert all(r.var_ratio is None for r in rows)


def test_pca_two_components_orthogonal_and_ordered(spark):
    import numpy as np

    rng = random.Random(3)
    # two planted directions with distinct strengths
    vecs = []
    for _ in range(300):
        a, b = rng.gauss(0, 4), rng.gauss(0, 2)
        vecs.append(
            [
                a + rng.gauss(0, 0.2),
                a - rng.gauss(0, 0.2),
                b + rng.gauss(0, 0.2),
                -b + rng.gauss(0, 0.2),
            ]
        )
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id bigint, embedding array<float>",
    )
    rows = similarity.pca_components(df, n_components=2, iters=8).collect()
    comps = {}
    lams = {}
    for r in rows:
        comps.setdefault(r.component, {})[r.pos] = r.loading_units
        lams[r.component] = int(r.eigenvalue_str)
    v0 = np.array([comps[0][i] for i in range(4)], dtype=float)
    v1 = np.array([comps[1][i] for i in range(4)], dtype=float)
    v0 /= np.linalg.norm(v0)
    v1 /= np.linalg.norm(v1)
    # eigenvalues ordered, near-orthogonal loadings, directions match
    # the planted structure
    assert lams[0] > lams[1] > 0
    assert abs(float(np.dot(v0, v1))) < 0.05
    assert abs(abs(v0[0]) - abs(v0[1])) < 0.1 and abs(v0[2]) < 0.2
    assert abs(abs(v1[2]) - abs(v1[3])) < 0.1 and abs(v1[0]) < 0.2
    # component 0 must equal the single-component operator bit-for-bit
    top = {
        r.pos: r.loading_units
        for r in similarity.pca_top_component(df, iters=8).collect()
    }
    assert comps[0] == top
    import pytest

    with pytest.raises(ValueError):
        similarity.pca_components(df, n_components=0)


def test_pca_fold_equals_relational_rounds(spark, monkeypatch):
    """The single-job expression fold must match the round-per-job
    relational path bit for bit: loadings, eigenvalue strings,
    ratios, across two deflated components on a random corpus."""
    rng = random.Random(7)
    vecs = [
        [rng.gauss(0, 3) + (1.5 if i % 2 else -1.5), rng.gauss(0, 1), rng.gauss(0, 0.3)]
        for i in range(80)
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id bigint, embedding array<float>",
    )

    def rowset(out):
        return sorted(
            (
                r.component,
                r.pos,
                r.loading_units,
                r.loading,
                r.eigenvalue_str,
                r.var_ratio,
                r.n_vecs,
            )
            for r in out.collect()
        )

    def top_rows(out):
        return sorted(
            (r.pos, r.loading_units, r.loading, r.eigenvalue_str,
             r.var_ratio, r.n_vecs)
            for r in out.collect()
        )

    def snap():
        top = similarity.pca_top_component(df, iters=5)
        one = similarity.pca_components(df, n_components=1, iters=5)
        assert top.columns == one.drop("component").columns
        # the top component IS pca_components(n=1) without `component`
        assert top_rows(top) == top_rows(one)
        return rowset(similarity.pca_components(df, n_components=2, iters=5))

    fast = snap()
    monkeypatch.setattr(similarity, "_PCA_EXPR_DIM_MAX", 0)
    slow = snap()
    assert fast == slow


@pytest.mark.parametrize("rows", [[], [(1, None), (2, [])]])
def test_pca_top_component_no_usable_vector(spark, rows):
    # no vector with a dimension: an empty frame with the documented
    # six-column schema, not an error
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = similarity.pca_top_component(df, iters=3)
    assert [(f.name, f.dataType.simpleString()) for f in out.schema] == [
        ("pos", "int"),
        ("loading_units", "bigint"),
        ("loading", "double"),
        ("eigenvalue_str", "string"),
        ("var_ratio", "double"),
        ("n_vecs", "bigint"),
    ]
    assert out.collect() == []
