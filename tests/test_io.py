"""Source/sink round-trip tests (reference O1/O13 generalized):
parquet (and its schema memo: a second open starts no job, a changed
file or inference conf infers again), CSV, TSV, JSON, partitioned layout,
and bucketed tables."""

import glob
import os
import uuid

import pytest
from pyspark.sql import functions as F

from probability_of_buying_two_products_together_hadoop_project_spark import registry
from probability_of_buying_two_products_together_hadoop_project_spark.sources import io
from probability_of_buying_two_products_together_hadoop_project_spark.operators import basket
from tests.test_basket_golden import golden_input_file
from tools.dump_plans import mask_ids

SMOKE_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _nation(spark, sf_smoke):
    return spark.read.parquet(os.path.join(sf_smoke, "nation.parquet"))


def _jobs(spark, fn):
    """``(fn(), number of Spark jobs fn started)``, counted in a job group
    of its own once the listener bus has delivered every job event."""
    sc = spark.sparkContext
    group = f"io-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group, False)
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "", False)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _plan(df):
    return mask_ids(df._jdf.queryExecution().executedPlan().toString())


def _write_single_file(df, path, tmp_path):
    """One Parquet file (not a directory) at ``path``, replacing any."""
    stage = str(tmp_path / f"stage-{uuid.uuid4().hex}")
    df.coalesce(1).write.parquet(stage)
    (part,) = glob.glob(os.path.join(stage, "part-*.parquet"))
    os.replace(part, path)


def test_parquet_roundtrip(spark, sf_smoke, tmp_path):
    df = _nation(spark, sf_smoke)
    path = str(tmp_path / "nation_pq")
    io.write_parquet(df, path)
    back, miss_jobs = _jobs(spark, lambda: io.read_parquet(spark, path))
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))
    # the first open infers the schema with a job (so the count is live);
    # a second open of the unchanged table reuses it and starts none
    hit, hit_jobs = _jobs(spark, lambda: io.read_parquet(spark, path))
    assert miss_jobs >= 1 and hit_jobs == 0
    assert hit.schema == back.schema


def test_partitioned_parquet_prunes(spark, sf_smoke, tmp_path):
    df = _nation(spark, sf_smoke)
    path = str(tmp_path / "nation_part")
    io.write_parquet(df, path, partition_by=["n_regionkey"])
    back = io.read_parquet(spark, path).filter(F.col("n_regionkey") == 1)
    plan = back._jdf.queryExecution().executedPlan().toString()
    want = df.filter(F.col("n_regionkey") == 1)
    assert {r["n_name"] for r in back.collect()} == {r["n_name"] for r in want.collect()}
    # directory-level partition pruning: only the matching partition is read
    assert "PartitionFilters: [isnotnull(n_regionkey" in plan
    # an open with the remembered schema plans exactly as an inferred one
    hit, jobs = _jobs(spark, lambda: io.read_parquet(spark, path))
    inferred = spark.read.parquet(path)
    assert jobs == 0 and hit.schema == inferred.schema
    hit_plan = _plan(hit.filter(F.col("n_regionkey") == 1))
    assert hit_plan == _plan(inferred.filter(F.col("n_regionkey") == 1))
    assert "PartitionFilters: [isnotnull(n_regionkey" in hit_plan


@pytest.mark.parametrize("table", SMOKE_TABLES)
def test_read_parquet_hit_equals_inferred_read(spark, sf_smoke, table):
    path = os.path.join(sf_smoke, f"{table}.parquet")
    io.read_parquet(spark, path)
    hit, jobs = _jobs(spark, lambda: io.read_parquet(spark, path))
    inferred = spark.read.parquet(path)
    assert jobs == 0
    assert hit.schema == inferred.schema
    assert _plan(hit) == _plan(inferred)


def test_read_parquet_rewritten_file_reinfers(spark, sf_smoke, tmp_path):
    path = str(tmp_path / "t.parquet")
    nation = _nation(spark, sf_smoke)
    _write_single_file(nation.select("n_nationkey"), path, tmp_path)
    assert io.read_parquet(spark, path).columns == ["n_nationkey"]
    _write_single_file(nation.select("n_nationkey", "n_name"), path, tmp_path)
    back = io.read_parquet(spark, path)
    assert back.columns == ["n_nationkey", "n_name"]
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, nation.select("n_nationkey", "n_name").collect())
    )


def test_read_parquet_directory_gaining_a_part_file_reinfers(
    spark, sf_smoke, tmp_path
):
    # with schema merging, a new part file carrying an extra column
    # changes the table's schema without touching the old files
    path = str(tmp_path / "grow")
    nation = _nation(spark, sf_smoke)
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try:
        io.write_parquet(nation.select("n_nationkey"), path)
        assert io.read_parquet(spark, path).columns == ["n_nationkey"]
        io.write_parquet(nation.select("n_nationkey", "n_name"), path, mode="append")
        back = io.read_parquet(spark, path)
        assert back.columns == ["n_nationkey", "n_name"]
        assert back.filter(F.col("n_name").isNotNull()).count() == nation.count()
    finally:
        spark.conf.unset("spark.sql.parquet.mergeSchema")


def test_read_parquet_binary_as_string_flip_reinfers(spark, tmp_path):
    # a file Spark did not write: Spark's own writes carry their schema in
    # the footer, which inference prefers over binaryAsString
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"n_name": pa.array([b"ALGERIA", b"CHINA"])}), path)
    assert dict(io.read_parquet(spark, path).dtypes)["n_name"] == "binary"
    spark.conf.set("spark.sql.parquet.binaryAsString", "true")
    try:
        assert dict(io.read_parquet(spark, path).dtypes)["n_name"] == "string"
    finally:
        spark.conf.unset("spark.sql.parquet.binaryAsString")
    assert dict(io.read_parquet(spark, path).dtypes)["n_name"] == "binary"


def test_read_parquet_memo_holds_one_entry_per_path(spark, sf_smoke, tmp_path):
    path = str(tmp_path / "t.parquet")
    nation = _nation(spark, sf_smoke)
    before = len(io._SCHEMAS)
    _write_single_file(nation.select("n_nationkey"), path, tmp_path)
    io.read_parquet(spark, path)
    _write_single_file(nation.select("n_name"), path, tmp_path)
    io.read_parquet(spark, path)
    spark.conf.set("spark.sql.parquet.binaryAsString", "true")
    try:
        io.read_parquet(spark, path)
    finally:
        spark.conf.unset("spark.sql.parquet.binaryAsString")
    assert len(io._SCHEMAS) == before + 1
    assert os.path.abspath(path) in io._SCHEMAS


def test_table_self_join_of_two_opens_resolves(spark, sf_smoke):
    # every open is its own relation: a memoized DataFrame would give both
    # sides one set of expression ids and make the join condition trivial
    a = registry._t(spark, sf_smoke, "nation")
    b, jobs = _jobs(spark, lambda: registry._t(spark, sf_smoke, "nation"))
    assert jobs == 0
    got = a.join(b, a.n_regionkey == b.n_regionkey).select(
        a.n_name.alias("x"), b.n_name.alias("y")
    )
    rows = [(r.n_name, r.n_regionkey) for r in a.collect()]
    want = sorted((x, y) for x, rx in rows for y, ry in rows if rx == ry)
    assert sorted(map(tuple, got.collect())) == want
    assert len(want) < len(rows) ** 2


def test_registry_rebuild_starts_no_job(spark, sf_smoke):
    # build floor: q5_region_revenue opens six tables; once their schemas
    # are known, building it again starts no Spark job at all
    build = registry.queries()["q5_region_revenue"]
    build(spark, sf_smoke)
    _, jobs = _jobs(spark, lambda: build(spark, sf_smoke))
    assert jobs == 0


def test_csv_roundtrip_with_schema(spark, sf_smoke, tmp_path):
    df = _nation(spark, sf_smoke).select("n_nationkey", "n_name", "n_regionkey")
    path = str(tmp_path / "nation_csv")
    df.write.option("header", True).csv(path)
    back = io.read_csv(
        spark, path, schema="n_nationkey bigint, n_name string, n_regionkey bigint"
    )
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_json_roundtrip(spark, sf_smoke, tmp_path):
    df = _nation(spark, sf_smoke).select("n_nationkey", "n_name")
    path = str(tmp_path / "nation_json")
    df.write.json(path)
    back = io.read_json(spark, path, schema="n_nationkey bigint, n_name string")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_tsv_golden_shape_sink(spark, tmp_path):
    lines = ["Mary 34 56 29", "Kelly 92 29 12"]
    df = spark.createDataFrame([(l,) for l in lines], ["value"])
    pairs = basket.cooccurrence_pairs(basket.baskets_from_text(df)).select(
        F.concat(F.lit("["), "item", F.lit(", "), "neighbor", F.lit("]")).alias("k"),
        F.col("prob").cast("string").alias("v"),
    )
    path = str(tmp_path / "tsv_out")
    io.write_tsv(pairs, path)
    got = spark.read.option("sep", "\t").csv(path).collect()
    assert len(got) == pairs.count()
    assert all(r["_c0"].startswith("[") and r["_c1"] for r in got)


def test_bucketed_table_join_skips_shuffle(spark, sf_smoke, tmp_path):
    """Bucketed-by-key tables joined on the bucket key: no Exchange on
    either side of the SortMergeJoin (the 100 TB co-located-join path)."""
    orders = spark.read.parquet(os.path.join(sf_smoke, "orders.parquet"))
    cust = spark.read.parquet(os.path.join(sf_smoke, "customer.parquet"))
    io.write_bucketed_table(
        orders, "orders_b", ["o_custkey"], 8, path=str(tmp_path / "orders_b")
    )
    io.write_bucketed_table(
        cust, "customer_b", ["c_custkey"], 8, path=str(tmp_path / "cust_b")
    )
    joined = (
        spark.table("orders_b")
        .join(
            spark.table("customer_b"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # disable broadcast so the join would otherwise shuffle both sides
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning(o_custkey" not in plan
        assert "Exchange hashpartitioning(c_custkey" not in plan
        n_joined = joined.agg(F.sum("n")).collect()[0][0]
        assert n_joined == orders.join(
            cust, orders.o_custkey == cust.c_custkey
        ).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS customer_b")


def test_basket_text_datasource_matches_text_parser(spark, tmp_path):
    """The Spark 4 Python DataSource must parse identically to the
    read.text + baskets_from_text path, including malformed lines, and
    parallelize one partition per file."""
    from probability_of_buying_two_products_together_hadoop_project_spark.operators import basket
    from probability_of_buying_two_products_together_hadoop_project_spark.sources import (
        basket_datasource,
    )

    d = tmp_path / "baskets"
    d.mkdir()
    (d / "part-0").write_text("Mary 34 56 29\n\n  Kelly\t92 29 12\n")
    (d / "part-1").write_text("Bob 1 2 1 2 1\n")

    via_ds = basket_datasource.read_baskets(spark, str(d))
    assert via_ds.rdd.getNumPartitions() == 2
    # the read.text path keeps blank lines as ("", []); the DataSource
    # drops them at parse time — align for the comparison
    via_text = basket.baskets_from_text(spark.read.text(str(d))).filter(
        F.col("customer") != ""
    )
    a = {(r["customer"], tuple(r["items"])) for r in via_ds.collect()}
    b = {(r["customer"], tuple(r["items"])) for r in via_text.collect()}
    assert a == b == {
        ("Mary", ("34", "56", "29")),
        ("Kelly", ("92", "29", "12")),
        ("Bob", ("1", "2", "1", "2", "1")),
    }
    # end-to-end: the flagship runs unchanged on the DataSource output
    got = {
        (r["item"], r["neighbor"]): r["pair_cnt"]
        for r in basket.cooccurrence_counts(via_ds).collect()
    }
    assert got[("1", "2")] == 2 and got[("2", "1")] == 2


def test_basket_text_datasource_write_roundtrip(spark, tmp_path):
    """write via the DataSource sink, read back via its reader: identical
    baskets (order-insensitive; the format has no row-order contract)."""
    from probability_of_buying_two_products_together_hadoop_project_spark.sources import (
        basket_datasource,
    )

    src = basket_datasource.read_baskets(spark, golden_input_file(tmp_path))
    out = str(tmp_path / "out")
    src.write.format("basket_text").option("path", out).mode("append").save()
    import os

    parts = [f for f in os.listdir(out) if f.startswith("part-")]
    assert parts and not [f for f in parts if f.endswith(".inprogress")]
    back = basket_datasource.read_baskets(spark, out)
    a = {(r["customer"], tuple(r["items"])) for r in src.collect()}
    b = {(r["customer"], tuple(r["items"])) for r in back.collect()}
    assert a == b


def test_basket_text_datasource_overwrite_and_stragglers(spark, tmp_path):
    """mode('overwrite') must REPLACE existing part files, not append to
    them; and stranded temp files from a zombie task attempt must stay
    invisible to the reader."""
    import os

    from probability_of_buying_two_products_together_hadoop_project_spark.sources import (
        basket_datasource,
    )

    out = str(tmp_path / "out")
    src = basket_datasource.read_baskets(spark, golden_input_file(tmp_path))
    src.write.format("basket_text").option("path", out).mode("append").save()
    n_first = len(os.listdir(out))
    assert n_first > 0
    # simulate a zombie task attempt's stranded temp file
    straggler = os.path.join(out, ".part-deadbeef.inprogress")
    with open(straggler, "w") as fh:
        fh.write("Ghost 1 2 3\n")
    src.write.format("basket_text").option("path", out).mode("overwrite").save()
    back = basket_datasource.read_baskets(spark, out)
    # row COUNT equality: a silent append would double the rows even
    # though the basket set is identical
    assert back.count() == src.count()
    a = {(r["customer"], tuple(r["items"])) for r in src.collect()}
    b = {(r["customer"], tuple(r["items"])) for r in back.collect()}
    assert a == b
    assert "Ghost" not in {r["customer"] for r in back.collect()}


def test_basket_text_stream_reader_offsets(tmp_path):
    """Offset algebra without Spark: read() consumes exactly the new
    files, readBetweenOffsets() replays exactly the delta, temps stay
    invisible — the determinism contract simple stream readers rely on
    for exactly-once recovery."""
    from probability_of_buying_two_products_together_hadoop_project_spark.sources import (
        basket_datasource,
    )

    d = tmp_path / "stream"
    d.mkdir()
    (d / "part-0").write_text("Mary 34 56\n")
    rdr = basket_datasource.BasketTextStreamReader({"path": str(d)})
    start = rdr.initialOffset()
    rows1, off1 = rdr.read(start)
    assert [r[0] for r in rows1] == ["Mary"]
    # no new files -> empty batch, offset unchanged
    rows_idle, off_idle = rdr.read(off1)
    assert list(rows_idle) == [] and off_idle == off1
    # new file + an uncommitted writer temp: only the committed file lands
    (d / "part-1").write_text("Bob 1 2\nKelly 9\n")
    (d / ".part-x.inprogress").write_text("Ghost 7 7\n")
    rows2, off2 = rdr.read(off1)
    assert sorted(r[0] for r in rows2) == ["Bob", "Kelly"]
    # replay of the failed-batch window returns exactly the same rows
    replay = list(rdr.readBetweenOffsets(off1, off2))
    assert sorted(r[0] for r in replay) == ["Bob", "Kelly"]
    assert "Ghost" not in {r[0] for r in replay}


def test_basket_text_stream_end_to_end(spark, tmp_path):
    """readStream over the custom source: two availableNow runs against a
    growing directory consume each basket exactly once, and the flagship
    co-occurrence aggregation composes on top of the stream."""
    import os

    from probability_of_buying_two_products_together_hadoop_project_spark.sources import (
        basket_datasource,
    )

    src_dir = tmp_path / "in"
    src_dir.mkdir()
    (src_dir / "part-0").write_text("Mary 34 56 29\nBob 1 2 1 2 1\n")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    basket_datasource.register(spark)

    def run_once():
        # parquet sink: supports checkpoint recovery across restarts (the
        # memory sink does not), so the second run resumes from the
        # committed offset instead of replaying file part-0
        q = (
            spark.readStream.format("basket_text")
            .option("path", str(src_dir))
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert not q.isActive

    run_once()
    first = {
        (r["customer"], tuple(r["items"]))
        for r in spark.read.parquet(sink).collect()
    }
    assert first == {("Mary", ("34", "56", "29")), ("Bob", ("1", "2", "1", "2", "1"))}
    # second file arrives; the restarted query picks up ONLY the delta
    # (sink accumulates old + new: a re-read of part-0 would double Mary)
    (src_dir / "part-1").write_text("Kelly 92 29\n")
    run_once()
    rows = spark.read.parquet(sink).collect()
    assert len(rows) == 3
    assert {r["customer"] for r in rows} == {"Mary", "Bob", "Kelly"}


def test_basket_text_stream_flagship_composes(spark, tmp_path):
    """The full pipeline story: stream the reference basket format
    through the custom source, aggregate with the streaming flagship
    (same pair expression as batch; running count state) in
    complete-mode, and land the same pair counts the batch path
    computes — streaming and batch share one logical plan."""
    from probability_of_buying_two_products_together_hadoop_project_spark.operators import basket
    from probability_of_buying_two_products_together_hadoop_project_spark.sources import (
        basket_datasource,
    )
    from probability_of_buying_two_products_together_hadoop_project_spark.streaming import streams

    src_dir = tmp_path / "in"
    src_dir.mkdir()
    (src_dir / "part-0").write_text("Mary 34 56 29\nBob 1 2 1 2 1\n")
    basket_datasource.register(spark)
    stream = (
        spark.readStream.format("basket_text")
        .option("path", str(src_dir))
        .load()
    )
    q = (
        streams.cooccurrence_stream(stream)
        .writeStream.format("memory")
        .queryName("stream_flagship")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["item"], r["neighbor"]): r["pair_cnt"]
        for r in spark.sql("SELECT * FROM stream_flagship").collect()
    }
    want = {
        (r["item"], r["neighbor"]): r["pair_cnt"]
        for r in basket.cooccurrence_counts(
            basket_datasource.read_baskets(spark, str(src_dir))
        ).collect()
    }
    assert got == want and got[("1", "2")] == 2
    spark.catalog.dropTempView("stream_flagship")


def test_events_loader_pins_utc_on_foreign_session(spark, sf_smoke):
    """A driver-owned session may carry a non-UTC timezone; the events
    loader must pin UTC before the NTZ->timestamp relabel, or every epoch
    shifts by the TZ offset and diverges from DuckDB's naive-as-UTC
    semantics (r04 ADVICE, medium)."""
    from probability_of_buying_two_products_together_hadoop_project_spark import registry

    before = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        df = registry._t(spark, sf_smoke, "events")
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        got = df.selectExpr("min(unix_micros(ts)) AS e").collect()[0]["e"]

        import duckdb

        want = duckdb.sql(
            "SELECT epoch_us(min(ts)) FROM "
            f"read_parquet('{sf_smoke}/events.parquet')"
        ).fetchone()[0]
        assert got == want
    finally:
        spark.conf.set("spark.sql.session.timeZone", before)


def test_basket_text_stream_writer_end_to_end(spark, tmp_path):
    """Stream baskets through BOTH custom-connector halves: basket_text
    stream reader -> basket_text stream writer; the written directory
    must batch-read back to exactly the source baskets, and the commit
    markers must name each batch."""
    from probability_of_buying_two_products_together_hadoop_project_spark.sources import (
        basket_datasource,
    )

    src = tmp_path / "bsw_src"
    src.mkdir()
    (src / "f0.txt").write_text("Mary 1 2 3\nBob 4 5\n")
    (src / "f1.txt").write_text("Eve 6 1\n")
    basket_datasource.register(spark)
    out = str(tmp_path / "bsw_out")
    q = (
        spark.readStream.format("basket_text")
        .option("path", str(src))
        .load()
        .writeStream.format("basket_text")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "bsw_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    back = sorted(
        (r.customer, tuple(r.items))
        for r in basket_datasource.read_baskets(spark, out).collect()
    )
    assert back == [
        ("Bob", ("4", "5")),
        ("Eve", ("6", "1")),
        ("Mary", ("1", "2", "3")),
    ]
    import os as _os

    names = set(_os.listdir(out))
    assert any(n.startswith("_batch-") and n.endswith(".committed") for n in names)
    assert not any(n.endswith(".inprogress") for n in names)


def test_basket_text_stream_writer_replay_is_noop(spark, tmp_path):
    """A replayed (already-committed) batch must not duplicate rows: the
    commit marker short-circuits and the replay's files are dropped."""
    from probability_of_buying_two_products_together_hadoop_project_spark.sources import (
        basket_datasource,
    )

    w = basket_datasource.BasketTextStreamWriter({"path": str(tmp_path / "o")})

    class Row:
        def __init__(self, c, i):
            self.customer, self.items = c, i

    m1 = w.write(iter([Row("A", ["1"])]))
    w.commit([m1], 7)
    # replay of batch 7
    m2 = w.write(iter([Row("A", ["1"])]))
    w.commit([m2], 7)
    import os as _os

    outs = [n for n in _os.listdir(tmp_path / "o") if n.startswith("part-")]
    assert len(outs) == 1


def test_synthetic_basket_generator_deterministic_and_partitioned(spark):
    """The generator source: same options -> identical corpus on any
    partitioning; rows are a pure function of (seed, basket_id)."""
    from probability_of_buying_two_products_together_hadoop_project_spark.sources import (
        basket_datasource,
    )

    a = basket_datasource.generate_baskets(
        spark, n_baskets=500, n_items=50, seed=7, n_partitions=4
    )
    b = basket_datasource.generate_baskets(
        spark, n_baskets=500, n_items=50, seed=7, n_partitions=13
    )
    rows_a = sorted((r.customer, tuple(r.items)) for r in a.collect())
    rows_b = sorted((r.customer, tuple(r.items)) for r in b.collect())
    assert rows_a == rows_b and len(rows_a) == 500
    # python mirror of the SplitMix64 contract for a spot basket
    rdr = basket_datasource.SyntheticBasketReader(
        {"n_baskets": "500", "n_items": "50", "seed": "7"}
    )
    [(cust, items)] = list(rdr.read(basket_datasource._GenPartition(123, 124)))
    assert (cust, tuple(items)) in rows_a
    # sizes respect the [min_items, max_items] contract
    sizes = {len(i) for _, i in rows_a}
    assert min(sizes) >= 2 and max(sizes) <= 12
    # different seed -> different corpus
    c = basket_datasource.generate_baskets(
        spark, n_baskets=500, n_items=50, seed=8, n_partitions=4
    )
    rows_c = sorted((r.customer, tuple(r.items)) for r in c.collect())
    assert rows_c != rows_a


def test_synthetic_baskets_feed_the_flagship(spark):
    from probability_of_buying_two_products_together_hadoop_project_spark.operators import basket
    from probability_of_buying_two_products_together_hadoop_project_spark.sources import (
        basket_datasource,
    )

    baskets = basket_datasource.generate_baskets(
        spark, n_baskets=300, n_items=20, seed=3, n_partitions=6
    )
    probs = basket.cooccurrence_pairs(baskets)
    rows = probs.collect()
    assert rows
    # per-item probabilities sum to 1 (the reference invariant)
    from collections import defaultdict

    sums = defaultdict(float)
    for r in rows:
        sums[r.item] += r.prob
    assert all(abs(s - 1.0) < 1e-9 for s in sums.values())
