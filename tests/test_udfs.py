"""UDF-surface tests: pandas_udf and UDTF cross-checks against the native
expression implementations they mirror."""

from pyspark.sql import functions as F

from probability_of_buying_two_products_together_hadoop_project_spark.functions import udfs
from probability_of_buying_two_products_together_hadoop_project_spark.operators import basket, text


def test_pandas_udf_token_count_matches_native(spark):
    docs = spark.createDataFrame(
        [(1, "a b  c"), (2, ""), (3, None), (4, "  x  ")], ["doc_id", "text"]
    )
    out = docs.select(
        "doc_id",
        udfs.token_count_vectorized("text").alias("n_udf"),
        text.token_count(F.col("text")).cast("double").alias("n_native"),
    ).collect()
    for r in out:
        if r["n_native"] is not None:
            assert r["n_udf"] == r["n_native"], r


def _udtf_and_native_counts(spark, baskets):
    spark.udtf.register("windowed_pairs", udfs.WindowedPairsUDTF)
    baskets.createOrReplaceTempView("b")
    got = (
        spark.sql("SELECT p.* FROM b, LATERAL windowed_pairs(items) p")
        .groupBy("item", "neighbor")
        .count()
        .collect()
    )
    want = basket.cooccurrence_counts(baskets).collect()
    return (
        {(r["item"], r["neighbor"]): r["count"] for r in got},
        {(r["item"], r["neighbor"]): r["pair_cnt"] for r in want},
    )


def test_udtf_pairs_match_native_expression(spark):
    lines = [
        "Mary 34 56 29 12 34 56 92 29 34 12",
        "Kelly 92 29 12 34 79 29 56 12 34 18",
        "Bob 1 2 1 2 1",
    ]
    df = spark.createDataFrame([(l,) for l in lines], ["value"])
    got, want = _udtf_and_native_counts(spark, basket.baskets_from_text(df))
    assert got == want


def test_udtf_pairs_match_native_on_edge_baskets(spark):
    """NULL elements, a NULL basket, empty and single-item baskets, and a
    current item recurring at the last position."""
    baskets = spark.createDataFrame(
        [
            ([None, "a", None, "a"],),
            (None,),
            ([],),
            (["7"],),
            (["a", "b", "c", "a"],),
        ],
        "items: array<string>",
    )
    got, want = _udtf_and_native_counts(spark, baskets)
    assert got == want
    assert want[(None, None)] == 1 and want[("a", "b")] == 1


def test_join_marginals_variant_equal(spark):
    lines = ["Mary 34 56 29 12 34 56 92 29 34 12", "Kelly 92 29 12 34 79 29 56 12 34 18"]
    df = spark.createDataFrame([(l,) for l in lines], ["value"])
    baskets = basket.baskets_from_text(df)
    a = {
        (r["item"], r["neighbor"]): (r["pair_cnt"], r["prob"])
        for r in basket.cooccurrence_pairs(baskets).collect()
    }
    b = {
        (r["item"], r["neighbor"]): (r["pair_cnt"], r["prob"])
        for r in basket.cooccurrence_pairs(baskets, join_marginals=True).collect()
    }
    assert a == b
