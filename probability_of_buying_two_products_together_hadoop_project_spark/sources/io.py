"""Sources and sinks (reference O1 / O13, generalized).

The reference reads a text dir and writes TAB-separated part files
(/root/reference/src/CrystalBallPair.java:241,253 via TextInput/
TextOutputFormat). Here: Parquet is the native format; text/CSV/JSON are
compatibility sources; TSV sink exists for golden-output parity.

Scale notes: all readers go through Spark's FileSourceScanExec —
splittable files, partition pruning on directory layout, predicate
pushdown and column pruning for Parquet. ``write_parquet`` exposes
``partition_by`` (directory-level pruning) and ``bucket_by``
(co-located joins without a shuffle) because at 100 TB the table layout
IS the query plan.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def read_text(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.text(path)


def read_csv(
    spark: SparkSession, path: str, schema: str | None = None, sep: str = ",",
    header: bool = True,
) -> DataFrame:
    r = spark.read.option("sep", sep).option("header", header)
    # explicit schema > inference: inference is a full extra pass over data
    return (r.schema(schema) if schema else r.option("inferSchema", True)).csv(path)


def read_json(spark: SparkSession, path: str, schema: str | None = None) -> DataFrame:
    r = spark.read
    return (r.schema(schema) if schema else r).json(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: Sequence[str] = (),
    max_records_per_file: int | None = None,
) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    w.parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_cols: Sequence[str],
    num_buckets: int,
    sort_cols: Sequence[str] = (),
    path: str | None = None,
) -> None:
    """Bucketed managed table: joins/aggregations on ``bucket_cols`` skip
    the shuffle entirely when both sides share the bucketing."""
    w = df.write.mode("overwrite").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table_name)


def write_tsv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Golden-parity text sink (reference O13 output shape)."""
    df.write.mode(mode).option("sep", "\t").csv(path)


def write_reference_pairs_layout(pairs: DataFrame, out_dir: str) -> list[str]:
    """Reproduce the reference's EXACT Pairs output layout: three files
    partitioned by the static item ranges <30 / <60 / rest
    (/root/reference/src/CrystalBallPair.java:97-104, 3 reduce tasks
    :247), rows sorted by (item, neighbor) as strings
    (:215-224, wildcard rows excluded), each line formatted
    ``[item, neighbor]\\tprob`` (:132-133,210-212).

    ``prob.cast(string)`` is JVM ``Double.toString`` — the same routine
    the reference's TextOutputFormat used, so files are byte-equal to the
    committed goldens. Returns the three file paths (part-r-00000..2).

    The upstream plan runs once: every row carries its range id
    ``_part``, one global sort on (``_part``, item, neighbor) puts the
    rows in file order, one ``collect`` brings them back, and the driver
    splits them into the three files (all three are written, even when a
    range is empty). There is no ``coalesce(1)``: the ordered collect
    already yields file order, and a coalesce before the sort would
    funnel the marginal window through one task.

    Item ids go through ANSI ``cast("int")``, so a non-numeric or
    out-of-range id raises, as the reference's ``Integer.parseInt`` does
    (:100).

    This is a parity artifact, not a scale path: real output goes to
    Parquet.
    """
    import os

    rows = _reference_layout_query(pairs).collect()
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for idx in range(3):
        p = os.path.join(out_dir, f"part-r-{idx:05d}")
        with open(p, "w") as f:
            f.writelines(r["line"] + "\n" for r in rows if r["_part"] == idx)
        paths.append(p)
    return paths


def _reference_layout_query(pairs: DataFrame) -> DataFrame:
    """(``_part``, ``line``) rows of the reference layout, in file order."""
    from pyspark.sql import functions as F

    item_int = F.col("item").cast("int")
    part = F.when(item_int < 30, 0).when(item_int < 60, 1).otherwise(2).alias("_part")
    line = F.concat(
        F.lit("["), F.col("item"), F.lit(", "), F.col("neighbor"),
        F.lit("]\t"), F.col("prob").cast("string"),
    ).alias("line")
    return (
        pairs.select(part, "item", "neighbor", "prob")
        .orderBy("_part", "item", "neighbor")
        .select("_part", line)
    )


def write_zordered(
    df: DataFrame,
    path: str,
    dims: Sequence[str],
    n_files: int = 8,
    max_records_per_file: int | None = None,
    bits: int = 16,
) -> None:
    """Z-order-clustered parquet write: range-partition and sort by the
    Morton key of ``dims`` (``relational.zorder_key_n``), so parquet
    row-group min/max statistics prune scans on ANY of the dimensions —
    the write-path counterpart to the layout study in SCALING.md
    (single-column sort clusters only itself; the z-layout trades a
    little per-dim locality for locality on every dim).

    ``repartitionByRange`` on the key gives globally disjoint key ranges
    per file (directory-level pruning via file stats), and the
    within-partition sort gives row-group-level pruning inside each
    file. The key column itself is not persisted — it is derivable, and
    readers prune on the DIMENSION columns' stats. At 100 TB, size
    ``n_files``/``max_records_per_file`` so a row group ≈ the scan
    granularity you want to skip at.
    """
    from pyspark.sql import functions as F

    from ..operators.relational import zorder_key_n

    key = zorder_key_n(*[F.col(c) for c in dims], bits=bits)
    out = (
        df.withColumn("_zkey", key)
        .repartitionByRange(n_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
    )
    w = out.write.mode("overwrite")
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    w.parquet(path)


def export_jsonl_shards(
    docs: DataFrame,
    path: str,
    budget: int = 4096,
    text_col: str = "text",
    id_col: str = "doc_id",
    extra_cols: Sequence[str] = (),
) -> None:
    """Training-data export: write the corpus as sharded JSONL — one
    directory per token-budget shard (``shard_id=<n>/part-*.txt``, one
    JSON object per line), the layout data loaders consume. Shard
    assignment is :func:`operators.text.token_shards` (deterministic
    md5-order layout, parallel prefix-sum), so every rerun produces the
    IDENTICAL shard membership; within a shard, line order is not part
    of the contract (loaders shuffle anyway).

    The JSON encoding is an explicit ``to_json(struct(...))`` with a
    fixed field order — stable output, no schema inference on read-back.
    Writing goes through ``partitionBy(shard_id)``: each shard lands in
    its own directory, and at 100 TB the write parallelism is the
    upstream partitioning (repartition by shard first if shards must be
    single files).
    """
    from pyspark.sql import functions as F

    from ..operators.text import token_shards

    shards = token_shards(docs, budget=budget, text_col=text_col, id_col=id_col)
    joined = docs.join(
        shards.select(id_col, "shard_id", "n_tokens"), id_col
    )
    payload = F.to_json(
        F.struct(
            F.col(id_col),
            F.col("n_tokens"),
            *[F.col(c) for c in extra_cols],
            F.col(text_col),
        )
    )
    (
        joined.select(F.col("shard_id"), payload.alias("value"))
        .write.mode("overwrite")
        .partitionBy("shard_id")
        .text(path)
    )
