"""Degenerate-input safety for the sixth-session operators: empty
frames and single-row frames must flow through every pipeline without
errors — window frames, folds, prefix sums, and sketch tournaments all
have edge behavior at n∈{0,1} that type errors love to hide in."""

from pyspark.sql import functions as F

from probability_of_buying_two_products_together_hadoop_project_spark.operators import (
    dedup,
    relational,
    sketches,
    timeseries,
)

EVENTS_SCHEMA = (
    "event_id bigint, user_id bigint, event_type string, "
    "ts timestamp, value double"
)


def _empty_events(spark):
    return spark.createDataFrame([], EVENTS_SCHEMA)


def _one_event(spark):
    return spark.createDataFrame(
        [(1, 1, "view", "2024-01-01 10:00:00", 2.5)],
        "event_id bigint, user_id bigint, event_type string, ts_s string, value double",
    ).select(
        "event_id", "user_id", "event_type",
        F.col("ts_s").cast("timestamp").alias("ts"), "value",
    )


def test_event_ops_empty_and_singleton(spark):
    for df, n in ((_empty_events(spark), 0), (_one_event(spark), 1)):
        assert timeseries.ewma_bounded(df).count() == n
        assert timeseries.debounce(df).count() == n
        assert timeseries.ohlc(df).count() == n
        assert timeseries.burst_detect(df).count() == n
        # a lone event has no consecutive-hour pair: no group row at all
        assert timeseries.autocorr_lag1(df).count() == 0
    one = timeseries.ewma_bounded(_one_event(spark)).collect()[0]
    assert one["ewma"] == 2.5  # single row: weight cancels exactly


def test_sketch_ops_empty(spark):
    df = spark.createDataFrame([], "grp string, key string")
    assert sketches.kmv_sample(df, "key", ["grp"]).count() == 0
    assert sketches.kmv_distinct(df, "key", ["grp"]).count() == 0
    assert (
        sketches.kmv_set_ops(
            df.withColumnRenamed("grp", "g"), "key", "g", "a", "b"
        ).count()
        == 0
    )


def test_order_stat_ops_empty_and_singleton(spark):
    empty = spark.createDataFrame([], "grp string, v double")
    assert relational.grouped_value_cum(empty, ["grp"], "v").count() == 0
    assert relational.mad_outlier_stats(empty, ["grp"], "v").count() == 0
    assert relational.quantile_bins(empty.select("v"), "v").count() == 0
    one = spark.createDataFrame([("g", 4.0)], "grp string, v double")
    mad = relational.mad_outlier_stats(one, ["grp"], "v").collect()[0]
    assert (mad["med"], mad["mad"], mad["n_outliers"]) == (4.0, 0.0, 0)
    bins = relational.quantile_bins(one.select("v"), "v").collect()
    assert [(r["bin"], r["n_rows"]) for r in bins] == [(1, 1)]


def test_skyline_empty_and_singleton(spark):
    empty = spark.createDataFrame([], "id bigint, x double, y double")
    assert relational.skyline_min2(empty, "x", "y").count() == 0
    one = spark.createDataFrame([(1, 2.0, 3.0)], "id bigint, x double, y double")
    assert relational.skyline_min2(one, "x", "y").count() == 1


def test_containment_empty_docs(spark):
    docs = spark.createDataFrame([], "doc_id bigint, text string, source string")
    assert dedup.containment_pairs(docs).count() == 0
    blank = spark.createDataFrame(
        [(1, "   ", "web"), (2, "", "web")],
        "doc_id bigint, text string, source string",
    )
    assert dedup.containment_pairs(blank).count() == 0


def test_seventh_session_ops_empty_and_singleton(spark):
    from probability_of_buying_two_products_together_hadoop_project_spark.operators import (
        evaluation,
        graph,
        text,
    )

    for df, n in ((_empty_events(spark), 0), (_one_event(spark), 1)):
        assert timeseries.seasonal_hourly(df).count() == n
        assert timeseries.activity_streaks(df).count() == n

    empty_subj = spark.createDataFrame([], "duration long, event int")
    assert evaluation.kaplan_meier(empty_subj).count() == 0
    one_subj = spark.createDataFrame([(3, 1)], "duration long, event int")
    [r] = evaluation.kaplan_meier(one_subj).collect()
    assert (r.n_risk, r.n_events, r.log_survival) == (1, 1, None)  # absorbed

    empty_scored = spark.createDataFrame([], "g string, y int, score int")
    assert evaluation.roc_auc(empty_scored, "y", "score", ("g",)).count() == 0
    one_scored = spark.createDataFrame([("a", 1, 5)], "g string, y int, score int")
    [r] = evaluation.roc_auc(one_scored, "y", "score", ("g",)).collect()
    assert r.auc is None

    empty_vals = spark.createDataFrame([], "g string, v decimal(18,4)")
    assert evaluation.gini_coefficient(empty_vals, "v", ("g",)).count() == 0

    empty_cat = spark.createDataFrame([], "cat string, v double")
    assert evaluation.target_encode(empty_cat, "cat", "v").count() == 0

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    assert text.pmi_collocations(empty_docs).count() == 0
    assert text.scrub_repeated_segments(empty_docs).count() == 0
    one_doc = spark.createDataFrame([(1, "")], "doc_id long, text string")
    [r] = text.scrub_repeated_segments(one_doc).collect()
    assert (r.n_segments, r.n_kept, r.clean_text) == (0, 0, "")

    empty_edges = spark.createDataFrame([], "src string, dst string")
    assert graph.bfs_hops(empty_edges, max_hops=2).count() == 0


def test_seventh_session_late_ops_empty(spark):
    from probability_of_buying_two_products_together_hadoop_project_spark.operators import (
        evaluation,  # noqa: F401
        multimodal,
        sketches,
        text,
    )

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    assert text.readability_scores(empty_docs).count() == 0

    empty_media = spark.createDataFrame([], "media_id long, payload binary")
    assert multimodal.resize_media(empty_media).count() == 0

    empty_rows = spark.createDataFrame([], "g string, id long, v double")
    assert sketches.hash_sample_quantiles(empty_rows, "id", "v", ["g"]).count() == 0
    one = spark.createDataFrame([("g", 1, 5.0)], "g string, id long, v double")
    [r] = sketches.hash_sample_quantiles(one, "id", "v", ["g"], k=4).collect()
    assert (r.n_sample, r.q_1_2) == (1, 5.0)
