"""Property tests for the windowed co-occurrence semantics (SURVEY.md §2.2).

A plain-Python simulator of the reference mapper loop
(/root/reference/src/CrystalBallPair.java:42-63) is the oracle; randomized
baskets from hypothesis drive both it and the Spark pipeline.
"""

import math
from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from probability_of_buying_two_products_together_hadoop_project_spark.operators import basket


def simulate_pairs(items):
    """Reference mapper loop re-implemented independently (the SURVEY's
    verified semantics): last token never current; window stops before the
    next re-occurrence; multiplicity counted. SQL equality: a NULL item
    never recurs, so its window runs to the end; a NULL basket has no pairs."""
    out = Counter()
    K = len(items or [])
    for i in range(K - 1):  # last item never current
        p = items[i]
        for j in range(i + 1, K):
            if p is not None and items[j] == p:
                break
            out[(p, items[j])] += 1
    return out


item_ids = st.integers(min_value=10, max_value=25).map(str)
baskets_strategy = st.lists(
    st.lists(item_ids, min_size=0, max_size=12), min_size=1, max_size=8
)
# NULL elements and NULL baskets beside the well-formed ones
nullable_baskets_strategy = st.lists(
    st.none() | st.lists(st.none() | item_ids, min_size=0, max_size=12),
    min_size=1,
    max_size=8,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(nullable_baskets_strategy)
def test_pairs_match_simulator(spark, basket_lists):
    expected = Counter()
    for items in basket_lists:
        expected.update(simulate_pairs(items))

    df = spark.createDataFrame(
        [(items,) for items in basket_lists], "items: array<string>"
    )
    got = {
        (r["item"], r["neighbor"]): r["pair_cnt"]
        for r in basket.cooccurrence_counts(df).collect()
    }
    assert got == dict(expected)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(baskets_strategy)
def test_invariants(spark, basket_lists):
    df = spark.createDataFrame(
        [(items,) for items in basket_lists], "items: array<string>"
    )
    rows = basket.cooccurrence_pairs(df).collect()
    # no self-pairs
    assert all(r["item"] != r["neighbor"] for r in rows)
    # per-item probabilities sum to 1
    sums = Counter()
    for r in rows:
        sums[r["item"]] += r["prob"]
    for item, s in sums.items():
        assert math.isclose(s, 1.0, rel_tol=1e-9), (item, s)


def test_single_item_and_empty_baskets_emit_nothing(spark):
    df = spark.createDataFrame([(["7"],), ([],), (None,)], "items: array<string>")
    assert basket.cooccurrence_counts(df).count() == 0


def test_edge_baskets_pairs_match_simulator(spark):
    """Every occurrence, not just the counts: NULL elements (a NULL current
    item's window runs to the end; a NULL neighbor is a neighbor), a NULL
    basket, empty and single-item baskets, and a current item that recurs
    at the last position (its window stops just before it)."""
    basket_lists = [
        [None, "a", None, "a"],
        [None, None],
        None,
        [],
        ["7"],
        ["a", "b", "c", "a"],
        ["a", "b", "a", "b"],
        ["x", "x"],
    ]
    df = spark.createDataFrame(
        [(items,) for items in basket_lists], "items: array<string>"
    )
    got = Counter(
        (r["item"], r["neighbor"]) for r in basket.basket_pairs(df).collect()
    )
    expected = Counter()
    for items in basket_lists:
        expected.update(simulate_pairs(items))
    assert got == expected
    assert expected[("a", "b")] == 3 and expected[("a", "c")] == 1
    assert expected[(None, None)] == 2 and expected[("a", None)] == 1


def test_text_parsing_roundtrip(spark):
    df = spark.createDataFrame([("  Bob 1 2 2 3  ",), ("Ann 9",), ("Solo",)], ["value"])
    rows = {r["customer"]: r["items"] for r in basket.baskets_from_text(df).collect()}
    assert rows == {"Bob": ["1", "2", "2", "3"], "Ann": ["9"], "Solo": []}
