"""Interest-measure battery: hand-computed values on a tiny basket set,
the symmetry/direction identities, and the exact-rule conviction NULL."""

import math

from probability_of_buying_two_products_together_hadoop_project_spark.operators import rules


def test_rule_measures_hand_values(spark):
    # 5 baskets: x always with y (exact rule x->y); z half the time
    baskets = [
        (["x", "y"],),
        (["x", "y", "z"],),
        (["y", "z"],),
        (["x", "y"],),
        (["y"],),
    ]
    df = spark.createDataFrame(baskets, "items array<string>")
    got = {
        (r.antecedent, r.consequent): r
        for r in rules.rule_interest_measures(df, min_support_count=2).collect()
    }
    n, cx, cy, cz, cxy, cyz = 5, 3, 5, 2, 3, 2
    r = got[("x", "y")]
    assert (r.pair_cnt, r.antecedent_cnt, r.consequent_cnt, r.n_baskets) == (
        cxy, cx, cy, n,
    )
    assert r.confidence == 1.0
    assert r.conviction is None  # exact rule -> infinite conviction
    assert abs(r.lift - (cxy * n) / (cx * cy)) < 1e-15
    assert abs(r.leverage - (cxy / n - (cx / n) * (cy / n))) < 1e-15
    assert abs(r.jaccard - cxy / (cx + cy - cxy)) < 1e-15
    assert abs(r.cosine - cxy / math.sqrt(cx * cy)) < 1e-15
    # reverse direction: y->x is NOT exact; conviction finite
    rv = got[("y", "x")]
    assert abs(rv.confidence - cxy / cy) < 1e-15
    assert rv.conviction is not None
    # symmetric measures agree across directions; directed ones differ
    for k in ("lift", "leverage", "jaccard", "cosine", "support"):
        assert abs(getattr(r, k) - getattr(rv, k)) < 1e-15
    # y->z present too (pair_cnt 2 >= min)
    assert got[("y", "z")].pair_cnt == cyz


def test_rule_measures_min_support_filter(spark):
    baskets = [(["a", "b"],), (["a", "c"],), (["a", "b"],)]
    df = spark.createDataFrame(baskets, "items array<string>")
    got = rules.rule_interest_measures(df, min_support_count=2).collect()
    pairs = {(r.antecedent, r.consequent) for r in got}
    assert ("a", "b") in pairs and ("b", "a") in pairs
    assert ("a", "c") not in pairs  # pair_cnt 1 < 2


def test_pair_support_confidence_pairs_and_null_items(spark):
    """Unordered co-present pairs, ``a < b``, each counted once per basket:
    duplicates collapse, a NULL item pairs with nothing (as the SQL
    ``a.item < b.item`` join), and empty or NULL baskets add nothing."""
    baskets = [
        (["c", "a", "b", "a"],),
        (["b", None, "a"],),
        (["a"],),
        ([],),
        (None,),
    ]
    df = spark.createDataFrame(baskets, "items array<string>")
    got = {
        (r.a, r.b): (r.pair_cnt, r.a_cnt)
        for r in rules.pair_support_confidence(df).collect()
    }
    assert got == {("a", "b"): (2, 3), ("a", "c"): (1, 3), ("b", "c"): (1, 2)}
