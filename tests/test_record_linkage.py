"""Fellegi-Sunter record linkage tests (`dedup.fellegi_sunter_link`,
`dedup.fs_weights`): weight math vs an independent mirror, NULL
agreement convention, classification thresholds, and fail-loud guards."""

import math
from decimal import ROUND_HALF_UP, Decimal

import pytest

from probability_of_buying_two_products_together_hadoop_project_spark.operators import dedup
from pyspark.sql import functions as F


def _q6(x):
    return Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)


def test_fs_weights_quantization():
    wa, wd = dedup.fs_weights(0.95, 0.01)
    assert Decimal(wa) == _q6(math.log2(0.95 / 0.01))
    assert Decimal(wd) == _q6(math.log2(0.05 / 0.99))
    with pytest.raises(ValueError):
        dedup.fs_weights(0.5, 0.5)
    with pytest.raises(ValueError):
        dedup.fs_weights(0.2, 0.4)


def _frames(spark):
    a = spark.createDataFrame(
        [(1, "ann", "x"), (2, "bob", "y"), (3, None, "x")],
        "a_id bigint, a_name string, a_blk string",
    )
    b = spark.createDataFrame(
        [(10, "ann", "x"), (11, "ann", "y"), (12, "zed", "x")],
        "b_id bigint, b_name string, b_blk string",
    )
    return a, b


def test_scores_match_python_mirror(spark):
    a, b = _frames(spark)
    out = dedup.fellegi_sunter_link(
        a, b,
        F.col("a_blk") == F.col("b_blk"),
        [("name", F.col("a_name") == F.col("b_name"), 0.9, 0.1)],
        lower=0.0, upper=3.0,
    )
    wa, wd = (Decimal(w) for w in dedup.fs_weights(0.9, 0.1))
    got = {
        (r.a_id, r.b_id): (r.agree_name, Decimal(str(r.score)), r.classification)
        for r in out.collect()
    }
    # block x: pairs (1,10),(1,12),(3,10),(3,12); block y: (2,11)
    want = {
        (1, 10): (True, wa, "match"),
        (1, 12): (False, wd, "non_match"),
        (3, 10): (False, wd, "non_match"),  # NULL name -> disagreement
        (3, 12): (False, wd, "non_match"),
        (2, 11): (False, wd, "non_match"),
    }
    assert got == want


def test_possible_band(spark):
    a, b = _frames(spark)
    out = dedup.fellegi_sunter_link(
        a, b,
        F.col("a_blk") == F.col("b_blk"),
        [("name", F.col("a_name") == F.col("b_name"), 0.9, 0.1)],
        lower=-10.0, upper=10.0,
    )
    assert {r.classification for r in out.collect()} == {"possible"}


def test_column_clash_raises(spark):
    a, _ = _frames(spark)
    with pytest.raises(ValueError, match="disjoint"):
        dedup.fellegi_sunter_link(
            a, a, F.lit(True), [("x", F.lit(True), 0.9, 0.1)], 0, 1
        )


# ---------------------------------------------------------------------------
# EM parameter estimation (fs_em)
# ---------------------------------------------------------------------------

P6, P12 = 10**6, 10**12


def _py_fs_em(pattern_counts, nf, iters=3, p0=100_000, m0=900_000, u0=100_000):
    """Pure-python mirror of the fixed-point EM contract: HUGEINT-style
    exact integers, floor division (non-negative, so trunc == floor),
    [1, 1e6-1] clamping."""
    clamp = lambda x: max(1, min(P6 - 1, x))  # noqa: E731
    p = p0
    m = [m0] * nf
    u = [u0] * nf
    for _ in range(iters):
        tw = tnw = nn = 0
        am = [0] * nf
        au = [0] * nf
        for g, n in pattern_counts.items():
            num_m = p
            num_u = P6 - p
            for i in range(nf):
                num_m *= m[i] if g[i] else P6 - m[i]
                num_u *= u[i] if g[i] else P6 - u[i]
            w = (num_m * P12) // (num_m + num_u)
            tw += n * w
            tnw += n * (P12 - w)
            nn += n
            for i in range(nf):
                if g[i]:
                    am[i] += n * w
                    au[i] += n * (P12 - w)
        p = clamp((tw * P6) // (nn * P12))
        m = [clamp((am[i] * P6) // tw) for i in range(nf)]
        u = [clamp((au[i] * P6) // tnw) for i in range(nf)]
    return p, m, u


def test_fs_em_matches_python_mirror(spark):
    import random

    rng = random.Random(3)
    # synthetic pairs: 10% true matches (agree with prob .9/.95), rest
    # non-matches (agree with prob .1/.2)
    rows = []
    for _ in range(2000):
        if rng.random() < 0.1:
            rows.append((rng.random() < 0.9, rng.random() < 0.95))
        else:
            rows.append((rng.random() < 0.1, rng.random() < 0.2))
    df = spark.createDataFrame(rows, "f1 boolean, f2 boolean")
    got = {
        r.field: (r.m_units, r.u_units, r.p_units)
        for r in dedup.fs_em(df, ["f1", "f2"], iters=3).collect()
    }
    from collections import Counter

    pc = Counter(rows)
    p, m, u = _py_fs_em(pc, nf=2, iters=3)
    assert got == {"f1": (m[0], u[0], p), "f2": (m[1], u[1], p)}
    # and the estimates separate the planted structure: m >> u
    assert got["f1"][0] > 500_000 > got["f1"][1]


def test_fs_em_recovers_separated_populations(spark):
    # perfectly separated: matches agree on everything, non-matches on
    # nothing -> m climbs toward 1, u toward 0, p toward the prevalence
    rows = [(True, True)] * 300 + [(False, False)] * 700
    df = spark.createDataFrame(rows, "a boolean, b boolean")
    out = {r.field: r for r in dedup.fs_em(df, ["a", "b"], iters=5).collect()}
    for f in ("a", "b"):
        assert out[f].m_units > 990_000
        assert out[f].u_units < 10_000
    assert abs(out["a"].p_units - 300_000) < 20_000
    assert out["a"].m == out["a"].m_units / 1e6


def test_fs_em_validation(spark):
    df = spark.createDataFrame([(True,)], "a boolean")
    with pytest.raises(ValueError):
        dedup.fs_em(df, [])
    with pytest.raises(ValueError):
        dedup.fs_em(df, ["a", "a", "a", "a"])
    with pytest.raises(ValueError):
        dedup.fs_em(df, ["a"], iters=0)
    with pytest.raises(ValueError):
        dedup.fs_em(df, ["a"], p0_units=0)


def test_fs_em_null_flags_count_as_disagreement_via_cast(spark):
    # null agreement casts to null boolean; groupBy treats null as its
    # own pattern — document the contract: callers coalesce upstream
    # (fellegi_sunter_link does); here we just pin that it runs.
    df = spark.createDataFrame(
        [(True,), (None,), (False,)], "a boolean"
    )
    out = dedup.fs_em(df.selectExpr("coalesce(a, false) AS a"), ["a"], iters=2)
    assert out.count() == 1


# ---------------------------------------------------------------------------
# sorted-neighborhood blocking
# ---------------------------------------------------------------------------


def _py_snm(rows, window):
    ranked = sorted(rows, key=lambda r: (r[1], r[0]))
    out = set()
    for i, (aid, ak) in enumerate(ranked):
        for j in range(i + 1, min(i + window + 1, len(ranked))):
            bid, bk = ranked[j]
            out.add((aid, bid, ak, bk, j - i))
    return out


def test_sorted_neighborhood_matches_python(spark):
    import random

    rng = random.Random(41)
    rows = [(i, f"name{rng.randint(0, 40):03d}") for i in range(120)]
    df = spark.createDataFrame(rows, "id bigint, key string")
    got = {
        (r.a_id, r.b_id, r.a_key, r.b_key, r.rank_gap)
        for r in dedup.sorted_neighborhood_pairs(df, "key", "id", window=3).collect()
    }
    assert got == _py_snm(rows, 3)
    # volume law: every row pairs with its next `window` neighbors
    assert len(got) == sum(min(3, 119 - i) for i in range(120))


def test_sorted_neighborhood_finds_adjacent_duplicates(spark):
    rows = [(1, "alpha"), (2, "alpha"), (3, "zeta"), (4, "beta")]
    df = spark.createDataFrame(rows, "id bigint, key string")
    pairs = {
        (r.a_id, r.b_id): r.rank_gap
        for r in dedup.sorted_neighborhood_pairs(df, "key", "id", window=1).collect()
    }
    assert pairs[(1, 2)] == 1  # exact dup names are rank-adjacent
    assert len(pairs) == 3  # strict window=1 chain
    import pytest

    with pytest.raises(ValueError):
        dedup.sorted_neighborhood_pairs(df, "key", "id", window=0)


def test_snm_null_keys_are_excluded_not_silently_lost(spark):
    # NULL sort keys are filtered by contract (ADVICE r07): they must
    # not occupy ranks (shifting everyone else's neighborhoods) nor
    # vanish only from the pair output
    rows = [(1, "alpha"), (2, "alpha"), (3, None), (4, "beta"), (5, None)]
    df = spark.createDataFrame(rows, "id bigint, key string")
    got = {
        (r.a_id, r.b_id, r.rank_gap)
        for r in dedup.sorted_neighborhood_pairs(df, "key", "id", window=2).collect()
    }
    clean = [(i, k) for i, k in rows if k is not None]
    want = {
        (a, b, g)
        for (a, b, _, _, g) in _py_snm(clean, 2)
    }
    assert got == want
    assert not any(3 in (a, b) or 5 in (a, b) for a, b, _ in got)


def test_snm_second_pass_blocks_on_shared_suffix(spark):
    """The reversed-key pass blocks on shared SUFFIXES: 'alpha_smith99'
    and 'beta_smith99' diverge at character 1 (forward sort scatters
    them) but share the long tail, so reversing makes them adjacent."""
    rows = [
        (1, "alpha_smith99"),
        (2, "beta_smith99"),
        (3, "zz_unrelated"),
        # separators that land between alpha... and beta... forwards
        (4, "april_other"),
        (5, "austin_other"),
        (6, "banana_other"),
    ]
    df = spark.createDataFrame(rows, "id bigint, key string")
    fwd = {
        (min(r.a_id, r.b_id), max(r.a_id, r.b_id))
        for r in dedup.sorted_neighborhood_pairs(df, "key", "id", window=1).collect()
    }
    assert (1, 2) not in fwd  # prefixes diverge at char 1; scattered
    rev = df.select("id", F.reverse(F.col("key")).alias("key"))
    back = {
        (min(r.a_id, r.b_id), max(r.a_id, r.b_id))
        for r in dedup.sorted_neighborhood_pairs(rev, "key", "id", window=1).collect()
    }
    assert (1, 2) in back  # shared suffix -> adjacent reversed


def test_fs_em_fit_reproduces_separated_mixture(spark):
    """On a cleanly separated 2-class corpus the fitted mixture must
    reproduce the observed pattern counts almost exactly, and the
    posterior must be ~1 on the all-agree pattern, ~0 on all-disagree."""
    rows = [(True, True)] * 300 + [(False, False)] * 700
    df = spark.createDataFrame(rows, "a boolean, b boolean")
    got = {r.pattern: r for r in dedup.fs_em_fit(df, ["a", "b"], iters=5).collect()}
    assert set(got) == {"11", "00"}
    assert got["11"].n_obs == 300 and got["00"].n_obs == 700
    for p in got.values():
        assert abs(p.residual) <= max(3, p.n_obs // 100)
    assert got["11"].match_post > 0.99
    assert got["00"].match_post < 0.01
    # expected counts conserve N up to floor slack
    assert abs(sum(p.expected_n for p in got.values()) - 1000) <= len(got) + 1


def test_fs_em_fit_flags_dependence(spark):
    """Two perfectly CORRELATED fields violate conditional independence:
    the mixed patterns ('10'/'01') are absent in the data but the
    independence model predicts them — visible as negative residuals on
    the observed patterns' complement."""
    import random

    rng = random.Random(5)
    rows = []
    for _ in range(1000):
        g = rng.random() < 0.3
        rows.append((g, g))  # fields always agree together
    df = spark.createDataFrame(rows, "a boolean, b boolean")
    got = {r.pattern: r for r in dedup.fs_em_fit(df, ["a", "b"], iters=3).collect()}
    # data has only 11/00; the model spreads mass onto 10/01 patterns
    # it never sees -> the observed patterns carry positive residuals
    assert set(got) == {"11", "00"}
    assert all(p.residual >= 0 for p in got.values())
    assert sum(p.expected_n for p in got.values()) < 1000  # mass leaked


def test_reciprocal_best_match_one_to_one(spark):
    rows = [
        # a1's best is b1 (5.0) and vice versa -> kept
        (1, 10, 5.0), (1, 11, 3.0),
        # a2's best is b1 (4.0) but b1 prefers a1 -> dropped; a2-b11 is
        # mutual second-best? a2's candidates ranked: b1(4) > b11(2);
        # b11's candidates: a2(2) > nothing else -> NOT mutual (a2's
        # rank-1 is b1), so a2 stays unmatched
        (2, 10, 4.0), (2, 11, 2.0),
        # tie on score: a3 ties b12/b13 at 1.0 -> smaller b wins both
        # sides -> (3, 12) kept
        (3, 12, 1.0), (3, 13, 1.0),
    ]
    df = spark.createDataFrame(rows, "a_id bigint, b_id bigint, score double")
    got = {
        (r.a_id, r.b_id)
        for r in dedup.reciprocal_best_match(df, "a_id", "b_id", "score").collect()
    }
    assert got == {(1, 10), (3, 12)}
    # one-to-one: no id repeats on either side
    assert len({a for a, _ in got}) == len(got)
    assert len({b for _, b in got}) == len(got)


def test_fs_em_and_fit_match_python_mirror_three_flags(spark):
    """fs_em's parameters and fs_em_fit's expected counts, residuals
    and posteriors equal the pure-Python mirror unit for unit on a
    random three-flag corpus (all 2^3 patterns present)."""
    import random
    from collections import Counter

    rng = random.Random(5)
    rows = [
        (rng.random() < 0.6, rng.random() < 0.3, rng.random() < 0.5)
        for _ in range(300)
    ]
    df = spark.createDataFrame(rows, "a boolean, b boolean, c boolean")
    flags = ["a", "b", "c"]
    em = sorted(
        (r.field, r.m_units, r.u_units, r.p_units)
        for r in dedup.fs_em(df, flags, iters=4).collect()
    )
    fit = sorted(
        (r.pattern, r.n_obs, r.expected_n, r.residual, r.match_post_units,
         r.match_post)
        for r in dedup.fs_em_fit(df, flags, iters=4).collect()
    )
    pc = Counter(rows)
    assert len(pc) == 8
    p, m, u = _py_fs_em(pc, nf=3, iters=4)
    assert em == sorted((f, m[i], u[i], p) for i, f in enumerate(flags))
    nn = len(rows)
    want = []
    for g, n in pc.items():
        num_m, num_u = p, P6 - p
        for i in range(3):
            num_m *= m[i] if g[i] else P6 - m[i]
            num_u *= u[i] if g[i] else P6 - u[i]
        expected = (nn * (num_m + num_u)) // P6**4
        post = (num_m * P12) // (num_m + num_u)
        pattern = "".join("1" if x else "0" for x in g)
        want.append((pattern, n, expected, n - expected, post, post / 1e12))
    assert fit == sorted(want)


def test_fs_em_empty_relation_contract(spark):
    """An empty pair relation has no pattern rows: every parameter
    clamps to the upper bound 1e6 - 1 (the M-step sums are empty), and
    the fit diagnostics have no pattern to report."""
    df = spark.createDataFrame([], "a boolean, b boolean")
    got = sorted(
        (r.field, r.m_units, r.u_units, r.p_units)
        for r in dedup.fs_em(df, ["a", "b"], iters=3).collect()
    )
    assert got == [("a", P6 - 1, P6 - 1, P6 - 1), ("b", P6 - 1, P6 - 1, P6 - 1)]
    assert dedup.fs_em_fit(df, ["a", "b"], iters=3).collect() == []
