"""Association-rule generalization of the reference's co-occurrence query.

The reference computes P(n|p) under its window semantics — exactly the
confidence of singleton rules. MLlib's FPGrowth generalizes this to
arbitrary itemsets; we expose both:

- ``fp_growth_model``: full FPGrowth (freqItemsets + associationRules).
- ``pair_support_confidence``: the SQL-expressible core — supports of
  single items and unordered co-present pairs, plus confidence — which a
  DuckDB oracle can verify exactly (integer counts only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def basket_item_sets(baskets: DataFrame, items_col: str = "items") -> DataFrame:
    """Distinct items per basket (presence, not multiplicity — the
    FPGrowth/association-rules data model), in ascending order.

    ``sort_array``, not ``array_sort``: the latter's default comparator is
    a lambda Spark evaluates interpreted. ``sort_array`` puts a NULL item
    first, so it is the ``a`` side of its pairs and the inner join to the
    item counts drops it: no pair holds a NULL item, as in the SQL form
    ``a.item < b.item``."""
    return baskets.select(
        F.sort_array(F.array_distinct(F.col(items_col))).alias("items")
    ).filter(F.size("items") > 0)


def _set_pairs(sets: DataFrame) -> DataFrame:
    """(a, b) for every unordered pair of a sorted item set, ``a`` before
    ``b``: two generators, no lambda (``posexplode`` gives each item's
    0-based position ``i``; its partners are ``items[i+1..]``)."""
    return sets.select("items", F.posexplode("items").alias("_i", "a")).select(
        "a", F.explode(F.slice("items", F.col("_i") + 2, F.size("items"))).alias("b")
    )


def pair_support_confidence(baskets: DataFrame, min_support_count: int = 1) -> DataFrame:
    """Supports + confidence for 1 -> 1 rules over co-present pairs.

    All counts are exact integers; confidence is a deterministic double
    division. Pair generation is ``_set_pairs`` (all unordered pairs of
    the distinct item set), then one groupBy.
    """
    sets = basket_item_sets(baskets)
    # total basket count as a 1-row broadcast side, NOT a driver-side
    # .count(): keeps the whole computation one lazy plan (no extra job,
    # no collect in library code)
    n_baskets = sets.agg(F.count(F.lit(1)).alias("n_baskets"))
    item_cnt = (
        sets.select(F.explode("items").alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("item_cnt"))
    )
    pair_cnt = (
        _set_pairs(sets)
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("pair_cnt"))
        .filter(F.col("pair_cnt") >= min_support_count)
    )
    ia = item_cnt.select(F.col("item").alias("a"), F.col("item_cnt").alias("a_cnt"))
    return (
        pair_cnt.join(F.broadcast(ia), "a")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "a",
            "b",
            "pair_cnt",
            "a_cnt",
            (F.col("pair_cnt").cast("double") / F.col("a_cnt").cast("double")).alias(
                "confidence"
            ),
            (
                F.col("pair_cnt").cast("double") / F.col("n_baskets").cast("double")
            ).alias("support"),
        )
    )


def fp_growth_rules(
    baskets: DataFrame, min_support: float = 0.01, min_confidence: float = 0.1
):
    """Fit MLlib FPGrowth on basket item sets; returns (freqItemsets,
    associationRules) DataFrames."""
    from pyspark.ml.fpm import FPGrowth

    sets = basket_item_sets(baskets)
    model = FPGrowth(
        itemsCol="items", minSupport=min_support, minConfidence=min_confidence
    ).fit(sets)
    return model.freqItemsets, model.associationRules


def rule_interest_measures(
    baskets: DataFrame, min_support_count: int = 2
) -> DataFrame:
    """The classic interest-measure battery for 1 -> 1 association
    rules (Tan, Kumar & Srivastava, KDD 2002's survey set): beyond
    support/confidence — lift (independence ratio), leverage (additive
    independence gap), conviction (Brin et al. 1997's directed
    implication strength; NULL for exact rules, whose conviction is
    infinite), Jaccard (co-occurrence robustly normalized), and cosine
    (the null-invariant middle ground). One row per DIRECTED rule
    a -> b over pairs with ``pair_cnt >= min_support_count``.

    Determinism: the four counts (n, c_a, c_b, c_ab) are exact longs;
    every measure is a FIXED float expression over their exact double
    images, stated identically in the oracle (products of exact doubles
    and IEEE sqrt are correctly rounded — the temperature_mix rule), so
    all values are bit-exact cross-engine.

    Plan: the pair_support_confidence shape — ``_set_pairs``, one
    groupBy (map-side combined), item counts and the 1-row basket total
    broadcast back; both rule directions come from
    one canonical pair table (array explode, no second aggregation).
    """
    sets = basket_item_sets(baskets)
    n_baskets = sets.agg(F.count(F.lit(1)).alias("_n"))
    item_cnt = (
        sets.select(F.explode("items").alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("_ic"))
    )
    pair_cnt = (
        _set_pairs(sets)
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("_pc"))
        .filter(F.col("_pc") >= min_support_count)
    )
    directed = pair_cnt.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("a").alias("antecedent"),
                    F.col("b").alias("consequent"),
                    F.col("_pc"),
                ),
                F.struct(
                    F.col("b").alias("antecedent"),
                    F.col("a").alias("consequent"),
                    F.col("_pc"),
                ),
            )
        ).alias("_r")
    ).select("_r.antecedent", "_r.consequent", "_r._pc")
    ia = item_cnt.select(
        F.col("item").alias("antecedent"), F.col("_ic").alias("_ca")
    )
    ib = item_cnt.select(
        F.col("item").alias("consequent"), F.col("_ic").alias("_cb")
    )
    nf = F.col("_n").cast("double")
    ca, cb = F.col("_ca").cast("double"), F.col("_cb").cast("double")
    cab = F.col("_pc").cast("double")
    conf = cab / ca
    return (
        directed.join(F.broadcast(ia), "antecedent")
        .join(F.broadcast(ib), "consequent")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "antecedent",
            "consequent",
            F.col("_pc").cast("long").alias("pair_cnt"),
            F.col("_ca").cast("long").alias("antecedent_cnt"),
            F.col("_cb").cast("long").alias("consequent_cnt"),
            F.col("_n").cast("long").alias("n_baskets"),
            (cab / nf).alias("support"),
            conf.alias("confidence"),
            ((cab * nf) / (ca * cb)).alias("lift"),
            (cab / nf - (ca / nf) * (cb / nf)).alias("leverage"),
            F.when(
                F.col("_pc") != F.col("_ca"),
                (F.lit(1.0) - cb / nf) / (F.lit(1.0) - conf),
            ).alias("conviction"),
            (cab / (ca + cb - cab)).alias("jaccard"),
            (cab / F.sqrt(ca * cb)).alias("cosine"),
        )
    )
