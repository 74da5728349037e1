"""Round-10 plan-shape guards: the single-partition-window tripwire
(plans.explain.unbounded_single_partition_exchanges) plus pins for the
two r9 scale fixes (brier rank via the bucketed prefix-sum, hybrid-RRF
coverage ranker via distributed TakeOrdered) and the shared-evidence
caches (SCAN sigma, near-dup jaccard/clusters)."""

import os

from pyspark.sql import Window
from pyspark.sql import functions as F

from probability_of_buying_two_products_together_hadoop_project_spark import registry
from probability_of_buying_two_products_together_hadoop_project_spark.operators import (
    graph,
    relational,
    text,
)
from probability_of_buying_two_products_together_hadoop_project_spark.plans import explain


def test_tripwire_flags_bare_global_window(spark):
    df = spark.range(1000).withColumn(
        "rk", F.row_number().over(Window.orderBy("id"))
    )
    assert explain.unbounded_single_partition_exchanges(df), (
        "a bare Window.orderBy over an unreduced scan must be flagged"
    )


def test_tripwire_accepts_bucketed_prefix_sum(spark):
    df = spark.range(1000).select(
        F.md5(F.col("id").cast("string")).alias("k"), F.lit(1).alias("v")
    )
    out = relational.global_prefix_sum(df, "k", "v")
    # the only SinglePartition hop feeds the <= n_buckets offsets
    # aggregate — bounded, so the tripwire stays silent
    assert explain.unbounded_single_partition_exchanges(out) == []


def test_tripwire_accepts_take_ordered(spark):
    df = spark.range(1000).orderBy("id").limit(5)
    assert explain.unbounded_single_partition_exchanges(df) == []


def test_brier_rank_never_single_partition(spark, sf_smoke):
    df = registry.REGISTRY["brier_decomposition_doclen"].fn(spark, sf_smoke)
    assert explain.unbounded_single_partition_exchanges(df) == []


def test_calibration_rank_score_never_single_partition(spark, sf_smoke):
    # rank_score was the tripwire's one hit on the full 299-query sweep
    # (PLANS.md unbounded-1p column); now the bucketed prefix-sum
    df = registry.REGISTRY["calibration_curve_doclen"].fn(spark, sf_smoke)
    assert explain.unbounded_single_partition_exchanges(df) == []


def test_hybrid_rrf_cov_ranker_is_take_ordered(spark, sf_smoke):
    docs = spark.read.parquet(os.path.join(sf_smoke, "documents.parquet"))
    df = text.hybrid_rrf_topk(docs, ["spark", "join", "window"], k=15, pool=50)
    plan = explain.formatted_plan(df)
    # the coverage candidates are cut to <= pool by a distributed
    # TakeOrderedAndProject BEFORE any global-order window runs
    assert "TakeOrderedAndProject" in plan
    assert explain.unbounded_single_partition_exchanges(df) == []


def test_scan_edge_similarity_pins_canon(spark):
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("a", "d")],
        "item string, neighbor string",
    )
    df = graph.scan_edge_similarity(pairs)
    plan = explain.formatted_plan(df)
    # canon + deg are localCheckpoint-pinned: every branch reads the
    # pinned RDDs, the pair-distinct never recomputes per branch
    assert "ExistingRDD" in plan
    assert explain.unbounded_single_partition_exchanges(df) == []


def _pin_names():
    return sorted(k[2] for k in registry._PIN_STORE)


def test_scan_sigma_cache_shared_between_pair(spark, sf_smoke):
    registry._PIN_STORE.clear()
    a = registry._scan_sigma(spark, sf_smoke)
    b = registry._scan_sigma(spark, sf_smoke)
    assert a is b
    # scan_clusters consumes the pinned sigma without rebuilding it
    assert _pin_names() == ["scan_sigma_tri"]
    registry.REGISTRY["scan_clusters_items"].fn(spark, sf_smoke)
    assert _pin_names() == ["scan_sigma_tri"]


def test_near_dup_evidence_cache_shared(spark, sf_smoke):
    registry._PIN_STORE.clear()
    p1 = registry._near_dup_pairs(spark, sf_smoke)
    c1 = registry._near_dup_clusters(spark, sf_smoke)
    assert registry._near_dup_pairs(spark, sf_smoke) is p1
    assert registry._near_dup_clusters(spark, sf_smoke) is c1
    # all four consumers resolve to the two pinned relations
    assert _pin_names() == ["near_dup_clusters", "near_dup_pairs"]
    registry.REGISTRY["golden_record_docs"].fn(spark, sf_smoke)
    registry.REGISTRY["dedup_cluster_canonical"].fn(spark, sf_smoke)
    assert _pin_names() == ["near_dup_clusters", "near_dup_pairs"]


def _rowset(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_near_dup_cache_equals_uncached(spark, sf_smoke):
    import os

    from probability_of_buying_two_products_together_hadoop_project_spark.operators import dedup

    docs = spark.read.parquet(os.path.join(sf_smoke, "documents.parquet"))
    fresh = dedup.jaccard_pairs(
        docs, block_col="source", shingle_n=1, threshold=0.3
    )
    cached = registry._near_dup_pairs(spark, sf_smoke)
    assert _rowset(cached) == _rowset(fresh)
    fresh_cl = dedup.near_dup_clusters(docs.select("doc_id"), fresh)
    cached_cl = registry._near_dup_clusters(spark, sf_smoke)
    assert _rowset(cached_cl) == _rowset(fresh_cl)


def test_scan_sigma_cache_equals_uncached(spark, sf_smoke):
    import os

    from probability_of_buying_two_products_together_hadoop_project_spark.operators import (
        basket,
        graph,
    )

    li = spark.read.parquet(os.path.join(sf_smoke, "lineitem.parquet"))
    baskets = basket.baskets_from_lineitem(li)
    fresh = graph.scan_edge_similarity(basket.basket_pairs(baskets))
    cached = registry._scan_sigma(spark, sf_smoke)
    assert _rowset(cached) == _rowset(fresh)
