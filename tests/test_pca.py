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


def _tdiv(a, b):
    """Truncating integer division (Spark/DuckDB ``div``), not ``//``."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def _py_scatter(vectors, unit=UNIT):
    """Integer mirror of ``pca_corpus_scatter``: (S, n_vecs) with S the
    dense D x D centered scatter. Vectors may be ragged or hold NULL
    elements: a NULL element counts toward its position's mean divisor
    (``count(1)``) and adds no deviation product."""
    q = [[None if x is None else math.floor(x * unit) for x in v] for v in vectors if v]
    dim = max(len(r) for r in q)
    n = [sum(1 for r in q if len(r) > i) for i in range(dim)]
    mu = [
        _tdiv(sum(r[i] for r in q if len(r) > i and r[i] is not None), n[i])
        for i in range(dim)
    ]
    dev = [[None if x is None else x - mu[i] for i, x in enumerate(r)] for r in q]
    s_mat = [
        [
            sum(
                r[i] * r[j]
                for r in dev
                if len(r) > max(i, j) and r[i] is not None and r[j] is not None
            )
            for j in range(dim)
        ]
        for i in range(dim)
    ]
    return s_mat, max(n)


def _py_pca_rows(vectors, n_components=1, iters=6, unit=UNIT):
    """Integer mirror of the whole fixed-point contract: the rows of
    ``pca_components`` as (component, pos, loading_units, loading,
    eigenvalue_str, var_ratio, n_vecs), power iteration with Hotelling
    deflation."""
    s_mat, n_vecs = _py_scatter(vectors, unit)
    dim = len(s_mat)
    tr = sum(s_mat[i][i] for i in range(dim))

    def matvec(v):
        return [sum(a * b for a, b in zip(row, v)) for row in s_mat]

    out = []
    for c in range(n_components):
        v = [unit] * dim
        for _ in range(iters):
            t = matvec(v)
            m = max(abs(x) for x in t)
            v = [0] * dim if m == 0 else [_tdiv(x * unit, m) for x in t]
        if next((x for x in v if x != 0), 1) < 0:
            v = [-x for x in v]
        vv = sum(x * x for x in v)
        if vv == 0:
            # a zero loading vector emits no rows and deflates nothing
            continue
        lam = _tdiv(sum(a * b for a, b in zip(matvec(v), v)), vv)
        ratio = float(lam) / float(tr) if tr else None
        out += [
            (c, p, u, float(u) / float(unit), str(lam), ratio, n_vecs)
            for p, u in enumerate(v)
        ]
        s_mat = [
            [s_mat[i][j] - _tdiv(lam * v[i] * v[j], vv) for j in range(dim)]
            for i in range(dim)
        ]
    return sorted(out)


def _rows(out):
    return sorted(tuple(r) for r in out.collect())


def _vec_df(spark, vecs):
    return spark.createDataFrame(
        list(enumerate(vecs)), "vec_id bigint, embedding array<float>"
    )


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
    top = similarity.pca_top_component(df, iters=6)
    assert _rows(top) == [r[1:] for r in _py_pca_rows(f32, 1, iters=6)]
    got = {
        r.pos: (r.loading_units, r.eigenvalue_str, r.var_ratio)
        for r in top.collect()
    }
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
    # constant corpus: zero scatter -> zero loading vectors, which emit
    # no rows (and deflate nothing) for every component
    assert similarity.pca_top_component(df, iters=3).collect() == []
    assert similarity.pca_components(df, n_components=2, iters=3).collect() == []


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


@pytest.mark.parametrize("dim,n", [(3, 80), (300, 24)], ids=["d3", "d300"])
def test_pca_components_match_integer_mirror(spark, dim, n):
    """Two deflated components equal the integer mirror bit for bit:
    loadings, eigenvalue strings, ratios; d=300 is past any small-d
    special case."""
    import numpy as np

    rng = random.Random(7)
    vecs = [
        [
            float(np.float32(
                rng.gauss(0, (3.0, 1.0, 0.3)[k % 3])
                + (0.0 if k else 1.5 if i % 2 else -1.5)
            ))
            for k in range(dim)
        ]
        for i in range(n)
    ]
    df = _vec_df(spark, vecs)
    top = similarity.pca_top_component(df, iters=5)
    one = similarity.pca_components(df, n_components=1, iters=5)
    assert top.columns == one.drop("component").columns
    # the top component IS pca_components(n=1) without `component`
    assert _rows(top) == [r[1:] for r in _rows(one)]
    want = _py_pca_rows(vecs, n_components=2, iters=5)
    assert len(want) == 2 * dim
    assert _rows(similarity.pca_components(df, n_components=2, iters=5)) == want


def test_pca_position_null_in_every_vector_raises(spark):
    df = _vec_df(spark, [[1.0, None, 2.0], [2.0, None, 0.5], [0.0, None, 1.0]])
    with pytest.raises(ValueError, match=r"cell \(\d+, \d+\) is NULL"):
        similarity.pca_components(df, n_components=2, iters=3)


def test_pca_overflow_is_declared():
    # an eigenvalue past BIGINT, then fixed-point products past
    # DECIMAL(38,0)
    for s, unit in (([[10**20, 0], [0, 1]], 10**6), ([[10**18, 0], [0, 1]], 10**10)):
        with pytest.raises(OverflowError):
            list(similarity._pca_power(s, 1, 3, unit))
    # a rank-one scatter deflates to zero: the second component is empty
    assert list(similarity._pca_power([[4, 0], [0, 0]], 2, 3, 10**6)) == [
        (0, [10**6, 0], 4)
    ]


@pytest.mark.parametrize("rows", [[], [(1, None), (2, [])]])
def test_pca_top_component_no_usable_vector(spark, rows):
    # no vector with a dimension: an empty frame with the documented
    # schema, not an error
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    two = similarity.pca_components(df, n_components=2, iters=3)
    assert [f.name for f in two.schema][:1] == ["component"]
    assert two.collect() == []
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


@pytest.mark.parametrize(
    "vecs",
    [
        # the first row is shorter than the rest
        [[1.0, 2.0, 0.5], [2.0, -1.0, 0.25, 3.0], [0.5, 0.5, -2.0, 1.0],
         [-1.5, 1.0, 1.0, -0.5], [3.0, 0.0, 0.75, 2.0]],
        # the first row is longer than the rest
        [[1.0, 2.0, 0.5, 4.0], [2.0, -1.0, 0.25], [0.5, 0.5, -2.0],
         [-1.5, 1.0, 1.0], [3.0, 0.0, 0.75]],
        # one NULL element is tolerated: it counts toward its position's
        # mean divisor and adds no deviation product
        [[1.0, 2.0, 0.5, 4.0], [2.0, None, 0.25, 3.0], [0.5, 0.5, -2.0, 1.0],
         [-1.5, 1.0, 1.0, -0.5], [3.0, 0.0, 0.75, 2.0]],
    ],
    ids=["first_shorter", "first_longer", "one_null_element"],
)
def test_pca_ragged_and_null_element_match_mirror(spark, vecs):
    df = _vec_df(spark, vecs)
    want = _py_pca_rows(vecs, n_components=2, iters=4)
    assert sorted({r[1] for r in want}) == [0, 1, 2, 3]
    assert _rows(similarity.pca_components(df, n_components=2, iters=4)) == want
    top = similarity.pca_top_component(df, iters=4)
    assert _rows(top) == [r[1:] for r in want if r[0] == 0]
