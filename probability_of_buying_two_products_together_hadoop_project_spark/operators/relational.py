"""Relational operator surface (SURVEY.md §2.3).

The reference has no joins, window functions, set ops, or SQL surface at
all — its only "relational" logic is token slicing
(/root/reference/src/CrystalBallPair.java:40-42). This module provides the
full surface as thin, composable wrappers over Spark built-ins so Catalyst
keeps every optimization (pushdown, pruning, join selection, AQE).

Scale notes baked into each helper:
- ``top_k_per_group`` uses a rank window, NOT a sort+limit per group; at
  1000 executors this is one hash exchange on the group key and a
  per-partition sort — no global sort.
- ``broadcast_dim`` marks dimension tables for broadcast-hash joins so fact
  scans never shuffle for small-dim joins (TPC-H style star schemas).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def broadcast_dim(df: DataFrame) -> DataFrame:
    """Mark a dimension table for broadcast (small side of star joins)."""
    return F.broadcast(df)


def top_k_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    k: int,
    rank_col: str = "rk",
) -> DataFrame:
    """Top-k rows per group via row_number window.

    ``order_by`` must be a total order (add a unique tiebreak column) or
    results are nondeterministic.
    """
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )


def deterministic_stratified_sample(
    df: DataFrame,
    strata_cols: Sequence[str],
    key_col: str,
    n_per_stratum: int,
) -> DataFrame:
    """Reproducible stratified sample: the first ``n_per_stratum`` rows of
    each stratum ordered by ``md5(key)`` — a deterministic, engine- and
    partitioning-independent pseudo-random order (any engine that computes
    md5 draws the IDENTICAL sample, unlike rand()-based TABLESAMPLE).

    The training-pipeline use case: carve a fixed eval/holdout slice per
    class/source/language that every rerun and every engine reproduces
    bit-for-bit. Plan shape is one hash exchange on the strata + in-
    partition rank — same as any top-k per group; no global sort.

    ``key_col`` must be unique per row (it is the total tiebreak).
    """
    h = F.md5(F.col(key_col).cast("string"))
    w = Window.partitionBy(*strata_cols).orderBy(h.asc(), F.col(key_col).asc())
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= n_per_stratum)
        .drop("_rk")
    )


def keep_latest(
    df: DataFrame,
    key_cols: Sequence[str],
    order_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Keep the newest row per key (CDC-style upsert compaction /
    "latest version wins" dedup): rank window ordered by
    (order desc, tiebreak desc), keep rank 1. One hash exchange on the
    key, no global sort — same plan family as top_k_per_group."""
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(order_col).desc(), F.col(tiebreak_col).desc()
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    salt_cols: Sequence[str],
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-robust equi-join: the left (large/skewed) side gets a
    deterministic salt in [0, n_salts) hashed from ``salt_cols`` (pass
    row-level columns, NOT the join key — same-key rows must spread
    across salts); the right side is replicated once per salt; the join
    runs on (key, salt). The result set is IDENTICAL to the plain join
    (the registry oracle checks exactly that) — only the shuffle layout
    changes: a hot key's rows land on n_salts reducers instead of one.

    This is the manual fallback when AQE's skew-join split cannot apply
    (joins feeding an aggregation in the same stage, disabled AQE).
    Deterministic salts (xxhash64, no rand()) keep reruns and retries
    bit-stable. Cost: the right side shuffles n_salts copies — use for
    genuinely small-ish right sides or pre-filtered dims.

    Only left-preserving joins are legal here: the right side is
    replicated once per salt, so right/full-outer shapes would emit each
    unmatched right row n_salts times (null-extended) — silently wrong.
    To salt a right-outer join, swap the sides; for full-outer, fall
    back to AQE's skew handling.
    """
    allowed = {
        "inner",
        "left", "left_outer", "leftouter",
        "left_semi", "leftsemi", "semi",
        "left_anti", "leftanti", "anti",
    }
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_join: how={how!r} is not left-preserving; the "
            "replicated right side would duplicate unmatched right rows "
            f"n_salts={n_salts} times. Allowed: {sorted(allowed)}"
        )
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in salt_cols]), F.lit(n_salts))
    lhs = left.withColumn("_lsalt", salt)
    rhs = right.withColumn(
        "_rsalt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    out = lhs.join(
        rhs,
        (F.col(left_key) == F.col(right_key)) & (F.col("_lsalt") == F.col("_rsalt")),
        how,
    )
    return out.drop("_lsalt", "_rsalt")


def running(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    aggs: dict[str, Column],
) -> DataFrame:
    """Running (cumulative) window aggregates with an explicit ROWS frame.

    The explicit ``rowsBetween`` matters: SQL's default frame is RANGE,
    which double-counts ties — always state the frame.
    """
    w = (
        Window.partitionBy(*partition_by)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = df
    for name, col in aggs.items():
        out = out.withColumn(name, col.over(w))
    return out


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_cols: dict[str, str],
    tie_break: str | None = None,
) -> DataFrame:
    """As-of join: for each left row, attach the most recent right row of
    the same key with ``right_ts <= left_ts`` (nulls if none).

    Spark has no native ASOF JOIN; a naive range join explodes to
    O(|left| x |right|) per key. This implementation is the scalable
    union-tag formulation: tag both sides, union, and carry the latest
    right values forward with a ``last_value(ignoreNulls)`` running
    window — ONE exchange on the key, a per-partition sort, zero row
    blow-up, works at any key cardinality or time skew.

    ``right_cols`` maps right column -> output name. ``tie_break``
    (an OUTPUT name from ``right_cols``) pins which right row wins when
    several share the exact as-of timestamp: the one with the GREATEST
    tie_break value. Without it the winner among equal-timestamp rows
    is whichever sorts last in the partition — stable within a run but
    not across engines or shuffles (surfaced at sf0.1, where same-day
    order ties are common; at sf0.01 no tie was ever hit). Pass it
    whenever the right side can carry duplicate timestamps per key.
    """
    # internal working columns and the output names land on the left frame;
    # a pre-existing column with any of those names would be silently
    # clobbered and corrupt results — fail loudly instead
    clash = {"_ts", "_side", "_rv", *right_cols.values()}.intersection(left.columns)
    if clash:
        raise ValueError(
            "asof_join: left columns collide with internal/output names: "
            f"{sorted(clash)}; rename them or choose different right_cols outputs"
        )
    lt = left.withColumn("_ts", F.col(left_ts)).withColumn("_side", F.lit(1))
    rt = (
        right.select(
            F.col(on),
            F.col(right_ts).alias("_ts"),
            # ONE struct per right row: the running last() then selects a
            # whole row atomically — per-column last() could mix columns
            # from different rows when the winning row carries nulls
            F.struct(
                *[F.col(c).alias(o) for c, o in right_cols.items()]
            ).alias("_rv"),
        )
        .withColumn("_side", F.lit(0))
    )
    lt = lt.withColumn("_rv", F.lit(None).cast(dict(rt.dtypes)["_rv"]))
    cols = [on, "_ts", "_side", "_rv"]
    extra = [c for c in lt.columns if c not in cols]
    u = lt.select(*cols, *extra).unionByName(
        rt.select(*cols, *[F.lit(None).cast(dict(lt.dtypes)[c]).alias(c) for c in extra])
    )
    # right rows sort before left rows at the same timestamp (_side 0 < 1),
    # so an exactly-equal right timestamp IS visible to the left row;
    # the ascending tie_break makes the greatest-valued right row the
    # last (winning) one among equal timestamps
    order = ["_ts", "_side"] + ([f"_rv.{tie_break}"] if tie_break else [])
    w = (
        Window.partitionBy(on)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    u = u.withColumn("_rv", F.last("_rv", ignorenulls=True).over(w))
    out = u.filter(F.col("_side") == 1)
    for o in right_cols.values():
        out = out.withColumn(o, F.col(f"_rv.{o}"))
    return out.drop("_side", "_ts", "_rv")


def hash_sample(
    df: DataFrame,
    key_cols: Sequence[str],
    fraction_permille: int,
    salt: str = "",
) -> DataFrame:
    """Deterministic uniform sample: keep rows where an md5-derived
    bucket of the key falls under ``fraction_permille``/1000. The right
    sampler at 100 TB: no rand() (rerun/retry bit-stable), no
    coordination (each task decides locally from row content), stable
    under repartitioning, and CONSISTENT across datasets — sampling two
    tables by the same join key keeps referential integrity (a kept
    order keeps all its lineitems when both sample on orderkey).
    Engine-independent (md5 + integer mod), so an ANSI-SQL oracle draws
    the identical rows; ``salt`` rotates the sample.

    Narrow filter, no shuffle; at the parquet scan it is a post-scan
    predicate (md5 is not pushable) but prunes before any exchange.
    """
    key = F.concat_ws("", F.lit(salt), *[F.col(c).cast("string") for c in key_cols])
    h = F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("bigint")
    return df.filter(F.pmod(h, F.lit(1000)) < fraction_permille)


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_key: str,
    interval_key: str,
    ts_col: str,
    start_col: str,
    end_col: str,
    max_interval_sec: int,
) -> DataFrame:
    """Point-in-interval equi+range join via time-bucket banding: match
    each point row to every same-key interval row with
    ``start <= ts < end`` — without the O(|points| x |intervals|)-per-key
    blow-up of a naive range join (open-source Spark plans a range
    predicate as a nested-loop filter inside the key join).

    Banding: with bucket width W = ``max_interval_sec`` and the caller's
    guarantee that ``end - start <= W``, a point at time t can only match
    intervals starting in bucket(t) or bucket(t) - 1 (since
    start in (t - W, t]). The POINT side is exploded x2 to probe both
    buckets, the interval side keeps one row per interval, and the join
    is a plain equi-join on (key, bucket) + exact range filter — shuffle
    linear in both inputs, each qualifying pair produced exactly once
    (an interval lives in one bucket, so the two probes never both hit).
    This is the standard banded range join; pick W as a tight bound on
    interval length — W x2 over-wide buckets just admit more false
    candidates for the exact filter to drop.

    Columns of both inputs are preserved (prefix-disambiguate before the
    call if names collide). An interval longer than W would be matched
    only partially (points more than 2 buckets past its start are never
    probed), which is silently-wrong territory — so the operator drops
    such intervals ENTIRELY (clean contract: "intervals longer than
    max_interval_sec do not participate"); callers needing them must
    split long intervals into W-sized pieces upstream.
    """
    w_us = max_interval_sec * 1_000_000
    pb = F.floor(F.unix_micros(F.col(ts_col)) / w_us)
    p2 = points.withColumn(
        "_pb", F.explode(F.array(pb.cast("long"), (pb - 1).cast("long")))
    )
    ib = F.floor(F.unix_micros(F.col(start_col)) / w_us).cast("long")
    i2 = intervals.filter(
        F.unix_micros(F.col(end_col)) - F.unix_micros(F.col(start_col)) <= w_us
    ).withColumn("_ib", ib)
    out = p2.join(
        i2,
        (F.col(point_key) == F.col(interval_key)) & (F.col("_pb") == F.col("_ib")),
    ).filter(
        (F.col(ts_col) >= F.col(start_col)) & (F.col(ts_col) < F.col(end_col))
    )
    return out.drop("_pb", "_ib")


def sessionize(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    gap_seconds: int,
    tiebreak_col: str,
) -> DataFrame:
    """Assign session ids: a new session starts when the gap to the
    previous event of the same user exceeds ``gap_seconds``.

    Classic lag + cumulative-sum formulation: two window passes over the
    same (user, ts) ordering — Catalyst plans a single exchange on user.
    """
    order = [F.col(ts_col), F.col(tiebreak_col)]
    w = Window.partitionBy(user_col).orderBy(*order)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ts_us = F.unix_micros(F.col(ts_col))
    is_new = (
        F.when(
            F.lag(ts_us).over(w).isNull()
            | ((ts_us - F.lag(ts_us).over(w)) > gap_seconds * 1_000_000),
            F.lit(1),
        ).otherwise(F.lit(0))
    )
    return df.withColumn("session_id", F.sum(is_new).over(run))


def salted_collect(
    df: DataFrame,
    key_cols: Sequence[str],
    value_col: str,
    n_salts: int = 8,
) -> DataFrame:
    """Two-phase salted collect_list for skewed HOLISTIC aggregation.

    Algebraic aggregates (sum/count/min/max) are skew-tolerant for free:
    Catalyst's partial aggregation combines map-side, so a hot key ships
    one partial row per task. ``collect_list`` is holistic — the naive
    plan ships EVERY value of a hot key to one reducer, the classic
    straggler at 100 TB. The fix mirrors salted_join: phase 1 groups by
    (key, salt) where ``salt = pmod(xxhash64(value), n_salts)`` — the
    hot key's values spread across ``n_salts`` reducers and collect into
    partial lists; phase 2 groups by key alone, but now each hot key
    contributes at most ``n_salts`` pre-collected rows, not one row per
    value. Deterministic salt (hash of the value, not rand()) keeps
    reruns identical and retries safe.

    Output: ``values`` = sort_array(flatten(partials)) — a canonical
    order, because two-phase collection (and ANY distributed collect)
    has no defensible arrival order; consumers that need one get it
    explicitly, cross-engine-reproducibly.
    """
    keys = [F.col(k) for k in key_cols]
    salt = F.pmod(F.xxhash64(F.col(value_col)), F.lit(n_salts))
    partial = (
        df.select(*keys, F.col(value_col), salt.alias("_salt"))
        .groupBy(*key_cols, "_salt")
        .agg(F.collect_list(value_col).alias("_part"))
    )
    return (
        partial.groupBy(*key_cols)
        .agg(F.sort_array(F.flatten(F.collect_list("_part"))).alias("values"))
    )


def global_prefix_sum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str = "cum",
    bucket_expr: Column | None = None,
) -> DataFrame:
    """Exact global running sum over ``order_col`` WITHOUT a
    single-partition window — the parallel prefix-sum.

    A bare ``Window.orderBy(...)`` funnels the entire relation through
    ONE task (Spark even warns); at 100 TB that is the difference
    between a plan and an outage. Instead: an order-consistent bucket
    key (default: the first two chars of ``order_col``) partitions the
    running-sum window — one full-data exchange; the per-bucket totals
    (<= n_buckets rows) get their own running offset through a TINY
    single-partition window whose input is bounded by the bucket count,
    not the data; the offsets broadcast back onto the bucket.

    Contract: ``bucket_expr`` must be order-consistent with
    ``order_col`` (x < y implies bucket(x) <= bucket(y) — true for any
    fixed-length prefix of the key itself) and ``order_col`` must be
    unique (a total order; otherwise the running sum at ties is
    engine-dependent). ``out_col`` is the INCLUSIVE running sum.

    NULL buckets are first-class: Spark's default ascending sort puts
    NULL first both in the window order and in the offsets window, and
    the offsets join-back is null-safe — so rows whose bucket evaluates
    to NULL (e.g. a NULL ``order_col`` under the default prefix bucket)
    form the FIRST bucket instead of being silently dropped by a plain
    equi-join. This matches NULL-first ordering of ``order_col`` itself,
    keeping the order-consistency contract for NULL keys.
    """
    b = (
        bucket_expr
        if bucket_expr is not None
        else F.substring(F.col(order_col), 1, 2)
    )
    d = df.withColumn("_psb", b)
    w = Window.partitionBy("_psb").orderBy(order_col)
    local = d.withColumn("_pslocal", F.sum(value_col).over(w))
    totals = d.groupBy("_psb").agg(F.sum(value_col).alias("_pst"))
    woff = Window.orderBy("_psb").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "_psb", F.coalesce(F.sum("_pst").over(woff), F.lit(0)).alias("_psoff")
    )
    offsets = offsets.withColumnRenamed("_psb", "_psb_off")
    return (
        local.join(
            F.broadcast(offsets),
            F.col("_psb").eqNullSafe(F.col("_psb_off")),
        )
        .withColumn(out_col, (F.col("_pslocal") + F.col("_psoff")).cast("long"))
        .drop("_psb", "_psb_off", "_pslocal", "_psoff")
    )


def mix_sources(
    df: DataFrame,
    weights_permille: dict[str, int],
    source_col: str = "source",
    key_col: str = "doc_id",
    default_permille: int = 0,
    salt: str = "",
) -> DataFrame:
    """Deterministic source-weighted dataset mixing — the sampling step
    that rebalances a multi-source corpus to target proportions (e.g.
    up-weight curated sources, down-sample crawl): keep each row iff its
    md5 bucket (same construction as :func:`hash_sample`, so mixes are
    rerun-stable, coordination-free, and composable with any other
    hash-keyed sample) falls under its SOURCE's permille weight.
    Unlisted sources get ``default_permille`` (0 = dropped). ``salt``
    rotates every source's draw together.

    Narrow filter, no shuffle, engine-independent — an ANSI-SQL oracle
    draws the identical mix. Expected output size is
    sum_s(n_s * w_s / 1000) with per-source binomial concentration; at
    100 TB each task decides locally from row content.
    """
    key = F.concat_ws("", F.lit(salt), F.col(key_col).cast("string"))
    h = F.pmod(
        F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("bigint"),
        F.lit(1000),
    )
    w = F.lit(default_permille)
    for s, p in sorted(weights_permille.items()):
        if not 0 <= p <= 1000:
            raise ValueError(f"mix_sources: weight for {s!r} not in [0, 1000]")
        w = F.when(F.col(source_col) == s, F.lit(p)).otherwise(w)
    return df.filter(h < w)


def scd2_history(
    df: DataFrame,
    key: str,
    ts_col: str,
    tracked: list[str],
    tiebreak: str | None = None,
) -> DataFrame:
    """Rebuild a type-2 slowly-changing-dimension history from a CDC-style
    change log (the warehouse-side MERGE pattern, reconstructed
    declaratively): per ``key``, order rows by (``ts_col``, ``tiebreak``),
    drop no-op updates (rows where every ``tracked`` column equals the
    previous row's, null-safe), then effective-date the survivors —
    ``valid_from`` = row ts, ``valid_to`` = next survivor's ts (NULL =
    open/current), ``version`` = 1-based change ordinal.

    Plan shape: ONE hash exchange on ``key``; the change-detection lag
    window and the effective-dating lead/row_number windows share the
    same (partition, order) so the sort is reused — at 100 TB the log
    shuffles once, however many tracked columns there are. ``tiebreak``
    makes same-timestamp orderings deterministic across engines (pass it
    whenever the log can carry duplicate (key, ts) rows).

    Output: key, tracked..., valid_from, valid_to, version, is_current.
    """
    order = [F.col(ts_col)] + ([F.col(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(key).orderBy(*order)
    changed = F.row_number().over(w) == 1
    for c in tracked:
        changed = changed | ~F.col(c).eqNullSafe(F.lag(F.col(c)).over(w))
    surv = df.withColumn("_chg", changed).filter(F.col("_chg"))
    w2 = Window.partitionBy(key).orderBy(*order)
    nxt = F.lead(F.col(ts_col)).over(w2)
    return surv.select(
        key,
        *tracked,
        F.col(ts_col).alias("valid_from"),
        nxt.alias("valid_to"),
        F.row_number().over(w2).cast("long").alias("version"),
        nxt.isNull().alias("is_current"),
    )


def zorder_key_n(*cols: Column, bits: int = 16) -> Column:
    """Morton key for 2-4 dimensions: bit ``i`` of column ``j`` lands at
    position ``i * d + j``. The general form pays ``bits`` shift/or
    terms per dimension (pure codegen integer ops — still cheap);
    :func:`zorder_key` remains the 5-step mask-spread fast path for the
    common 2-D case."""
    d = len(cols)
    if not 2 <= d <= 4:
        raise ValueError("zorder_key_n supports 2-4 dimensions")
    if not 1 <= bits * d <= 62:
        raise ValueError("bits * dims must stay within a signed long")
    out = F.lit(0).cast("long")
    for j, c in enumerate(cols):
        x = c.cast("long")
        for i in range(bits):
            out = out.bitwiseOR(
                F.shiftleft(
                    F.shiftright(x, i).bitwiseAND(F.lit(1)), i * d + j
                )
            )
    return out


def zorder_key(a: Column, b: Column) -> Column:
    """Morton (Z-order) key interleaving the low 16 bits of two
    non-negative dimension columns — the multi-dimensional LAYOUT lever:
    sorting/range-partitioning a table by this key clusters BOTH
    dimensions at once, so parquet row-group min/max stats prune scans
    on either predicate (single-column sort clusters only itself).

    Pure bit arithmetic via the classic mask-spread (5 shift/and steps
    per dimension), all JVM expressions, bit-identical in any engine —
    the SQL oracle replicates it literally. At 100 TB this is what you'd
    `repartitionByRange(zkey).sortWithinPartitions(zkey)` before the
    table write; the study in SCALING.md measures the row-group pruning
    both-dims effect with pyarrow statistics.
    """

    def spread(x: Column) -> Column:
        x = x.cast("long").bitwiseAND(F.lit(65535))
        x = x.bitwiseOR(F.shiftleft(x, 8)).bitwiseAND(F.lit(16711935))
        x = x.bitwiseOR(F.shiftleft(x, 4)).bitwiseAND(F.lit(252645135))
        x = x.bitwiseOR(F.shiftleft(x, 2)).bitwiseAND(F.lit(858993459))
        x = x.bitwiseOR(F.shiftleft(x, 1)).bitwiseAND(F.lit(1431655765))
        return x

    return spread(a).bitwiseOR(F.shiftleft(spread(b), 1))


def weighted_sample(
    df: DataFrame,
    key_cols: Sequence[str],
    weight_col: str,
    k: int,
    salt: str = "",
) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis-
    Spirakis A-ES, 2006): each row draws priority ``u^(1/w)`` from an
    md5-derived uniform ``u`` and the top-k priorities are the sample —
    every row's inclusion probability is proportional to its weight,
    exactly the draw a source-weighted corpus subset needs when
    :func:`mix_sources` (deterministic per-source QUOTAS) is too coarse
    and per-ITEM weights (quality, token count, price) must drive the
    draw.

    Determinism contract: ``u = (h + 0.5) / 2^32`` from the md5 prefix
    of the salted key — content-hashed like :func:`hash_sample`, so
    reruns, retries, and the SQL oracle draw the identical sample. The
    rank key is ``ln(u)/w`` (monotone in u^(1/w); avoids pow) with
    ``ln(u)`` QUANTIZED to a 6dp decimal before the one correctly-
    rounded division: raw ln is NOT cross-engine exact — measured r07,
    JVM Math.log and libm log disagree by 1 ulp on 351/5000 md5-dyadic
    uniforms — so an unquantized priority is hash-pinnable only by
    luck. 6dp keeps ~22M distinct levels over ln's (-22, 0) range;
    quantization collisions (and exact u collisions) break by the full
    key tuple carried in the ordering, so top-k stays reproducible.

    Scale: narrow projection + a k-row ORDER BY LIMIT (Spark's
    TakeOrderedAndProject — per-partition heaps, no full sort, no
    shuffle beyond k rows per partition).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    key = F.concat_ws("", F.lit(salt), *[F.col(c).cast("string") for c in key_cols])
    h = F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("bigint")
    u = (h.cast("double") + F.lit(0.5)) / F.lit(4294967296.0)
    lnu_q = F.round(F.log(u), 6).cast("decimal(18,6)").cast("double")
    priority = lnu_q / F.col(weight_col).cast("double")
    return (
        df.filter(F.col(weight_col).cast("double") > 0)
        .withColumn("_aes_priority", priority)
        .orderBy(
            F.col("_aes_priority").desc(),
            *[F.col(c) for c in key_cols],
        )
        .limit(k)
    )


def bloom_semi_prefilter(
    fact: DataFrame,
    keys: DataFrame,
    fact_key: str,
    keys_key: str | None = None,
    m_bits: int = 1 << 20,
    k_hashes: int = 5,
) -> DataFrame:
    """Runtime-filter-style join pruning: cut the big (fact) side of a
    shuffle join down BEFORE the exchange, using a bloom filter built
    from the (filtered) key side — the manual, cross-format counterpart
    of Spark's `spark.sql.optimizer.runtime.bloomFilter` injection, and
    the classic semi-join reduction of distributed query processing.

    The filter is a DataFrame AGGREGATION, not a driver-side bitmap
    (the `ngram_decontaminate_bloom` construction generalized to any
    join key): each distinct key sets ``k_hashes`` bits at positions
    ``pmod(xxhash64(seed_i, key), m_bits)``, folded into 64-bit words
    by ``bit_or`` — an (word_idx, bits) table of ``m_bits/64`` rows
    (128 KiB of longs at the 2^20 default) that broadcasts at ANY key
    count. Fact rows explode into their k probes, join the broadcast
    words, and survive iff every probed bit is set.

    Returns a SUPERSET of the matching fact rows (false positives at
    rate (1 - e^{-kn/m})^k; size m to the key count n), with row
    multiplicity EXACTLY preserved: the k probes apply as a chain of k
    broadcast hash joins + bit tests — all pipelined over the fact
    scan, ZERO exchanges on the fact side. The caller's exact join then
    discards the fps, so join RESULTS are identical — only its exchange
    shrinks: the fact side shuffles ∝ (true matches + fp fraction)
    instead of ∝ fact size. Worth it exactly when the key side is too
    big to broadcast as raw keys (else Spark's planner already avoids
    shuffling the fact) yet much smaller than the fact.
    """
    if k_hashes < 1:
        raise ValueError("bloom_semi_prefilter: k_hashes must be >= 1")
    if m_bits < 64:
        raise ValueError("bloom_semi_prefilter: m_bits must be >= 64")
    keys_key = keys_key or fact_key
    distinct_keys = keys.select(F.col(keys_key).alias("_k")).distinct()

    def position(key: Column, i: int) -> Column:
        return F.pmod(F.xxhash64(F.lit(i), key), F.lit(m_bits))

    bloom = (
        distinct_keys.select(
            F.explode(
                F.array(*[position(F.col("_k"), i) for i in range(k_hashes)])
            ).alias("_p")
        )
        .select(
            F.expr("_p div 64").alias("_word_idx"),
            F.expr("shiftleft(1L, CAST(_p % 64 AS INT))").alias("_m"),
        )
        .groupBy("_word_idx")
        .agg(F.bit_or("_m").alias("_bits"))
        .localCheckpoint(eager=True)  # build once, probe k times
    )
    out = fact
    for i in range(k_hashes):
        p = position(F.col(fact_key), i)
        out = (
            out.withColumn("_p", p)
            .withColumn("_word_idx", F.expr("_p div 64"))
            .withColumn("_m", F.expr("shiftleft(1L, CAST(_p % 64 AS INT))"))
            .join(F.broadcast(bloom), "_word_idx")
            .filter(F.col("_bits").bitwiseAND(F.col("_m")) == F.col("_m"))
            .drop("_p", "_word_idx", "_m", "_bits")
        )
    return out


def agg_state(
    df: DataFrame, keys: Sequence[str], measure_col: str, scale: int = 4
) -> DataFrame:
    """Per-key mergeable aggregate state — (keys..., n_rows,
    sum_dec) with the sum held as an EXACT decimal(18, scale), the
    repo's order-independent sum contract.  This is the persisted form
    of a maintained aggregate (materialized view): counts and decimal
    sums are abelian-group measures, so deltas apply by addition and
    deletions by signed subtraction with NO drift — which a double sum
    cannot promise (float subtraction does not exactly undo addition).
    """
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col(measure_col).cast(f"decimal(18,{scale})")).alias("sum_dec"),
    )


def apply_agg_delta(
    state: DataFrame,
    delta: DataFrame,
    keys: Sequence[str],
    measure_col: str,
    sign_col: str = "_sign",
    scale: int = 4,
) -> DataFrame:
    """Incremental view maintenance: apply a CDC delta (rows tagged
    ``sign_col`` = +1 insert / -1 delete) to a persisted
    :func:`agg_state` WITHOUT touching base rows — work per delivery is
    ∝ delta (one delta-sized partial aggregation) + state-sized merge,
    never a base-table rescan.  Keys whose count reaches zero drop out,
    so the maintained view equals the direct aggregate over the patched
    base relation bit-for-bit (decimal sums subtract exactly; the
    registry oracle states exactly that full recompute).

    Scale: the delta partial and the state merge share the key
    partitioning — at 100 TB, bucket the persisted state by key and the
    merge is a co-located one-exchange upsert (the streaming upsert
    sink's layout).
    """
    sgn = F.col(sign_col)
    partial = delta.groupBy(*keys).agg(
        F.sum(sgn).cast("long").alias("n_rows"),
        F.sum(
            sgn.cast(f"decimal(18,{scale})")
            * F.col(measure_col).cast(f"decimal(18,{scale})")
        ).cast(f"decimal(18,{scale})").alias("sum_dec"),
    )
    return (
        state.unionByName(partial)
        .groupBy(*keys)
        .agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.sum("sum_dec").cast(f"decimal(18,{scale})").alias("sum_dec"),
        )
        .filter(F.col("n_rows") > 0)
    )


def grouped_value_cum(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    bucket_expr: Column | None = None,
) -> DataFrame:
    """Distinct values per group with INCLUSIVE cumulative multiplicity
    counts — the order-statistics backbone for exact distributed
    medians / quantiles WITHOUT a per-group sort funnel.

    Output: ``(*group_cols, value_col, cc, n)`` where ``cc`` is the
    count of group rows with value <= this value and ``n`` the group
    total. Construction is the :func:`global_prefix_sum` shape applied
    per group: distinct-value counts, a running sum windowed by
    (group, order-consistent value bucket) — every window partition is
    bounded by one bucket's distinct values — then per-(group, bucket)
    totals offset through a window over the BUCKET LIST (rows ∝
    buckets, not data) and broadcast back. ``bucket_expr`` must be
    order-consistent with the value (x < y => bucket(x) <= bucket(y));
    the default ``floor(value)`` suits positive numeric measures.
    """
    b = bucket_expr if bucket_expr is not None else F.floor(F.col(value_col))
    dv = (
        df.groupBy(*group_cols, value_col)
        .agg(F.count(F.lit(1)).alias("_vc"))
        .withColumn("_vb", b)
    )
    w_local = (
        Window.partitionBy(*group_cols, "_vb")
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = dv.withColumn("_lcc", F.sum("_vc").over(w_local))
    totals = dv.groupBy(*group_cols, "_vb").agg(F.sum("_vc").alias("_bt"))
    w_off = (
        Window.partitionBy(*group_cols)
        .orderBy("_vb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_grp = Window.partitionBy(*group_cols)
    offsets = totals.select(
        *group_cols,
        "_vb",
        F.coalesce(F.sum("_bt").over(w_off), F.lit(0)).alias("_off"),
        F.sum("_bt").over(w_grp).alias("n"),
    )
    on = [*group_cols, "_vb"] if group_cols else ["_vb"]
    return (
        local.join(F.broadcast(offsets), on)
        .select(
            *group_cols,
            value_col,
            (F.col("_lcc") + F.col("_off")).cast("bigint").alias("cc"),
            F.col("n").cast("bigint").alias("n"),
        )
    )


def grouped_discrete_quantile(
    cum_df: DataFrame,
    group_cols: list[str],
    value_col: str,
    q_num: int,
    q_den: int,
    out_col: str = "q_value",
) -> DataFrame:
    """The exact q-th order statistic per group from a
    :func:`grouped_value_cum` table: the element at 1-based rank
    ``ceil(q_num/q_den * n)`` of the sorted multiset — a PICKED
    element, never an interpolated float, so the result is a value
    that exists in the data and is identical in any engine (the
    float-interpolating percentile definitions differ across engines
    at even counts; a discrete pick cannot). Integer ceiling division
    keeps the rank exact at any n.
    """
    t = cum_df.withColumn(
        "_tgt", F.expr(f"CAST(({q_num} * n + {q_den - 1}) DIV {q_den} AS BIGINT)")
    )
    picked = t.filter(F.col("cc") >= F.col("_tgt"))
    if group_cols:
        return picked.groupBy(*group_cols).agg(
            F.min(value_col).alias(out_col)
        )
    return picked.agg(F.min(value_col).alias(out_col))


def grouped_discrete_quantiles(
    cum_df: DataFrame,
    group_cols: list[str],
    value_col: str,
    quantiles: list[tuple[int, int, str]],
) -> DataFrame:
    """Several :func:`grouped_discrete_quantile` picks from the SAME
    cum table in ONE scan + one hash aggregate: each pick becomes a
    conditional aggregate ``min(value WHERE cc >= rank-target)`` —
    bit-identical values to the single-pick form (same rank targets,
    same min-over-qualifying-rows), but k picks stop costing k scans
    of the cum table glued by k-1 joins. ``quantiles`` is a list of
    (q_num, q_den, out_col). One contract difference, irrelevant when
    every target is reachable (targets are ≤ n and max(cc) = n by
    construction): a group none of whose rows qualify for some pick
    keeps its row with a NULL pick instead of dropping out.
    """
    aggs = [
        F.min(
            F.when(
                F.col("cc")
                >= F.expr(f"CAST(({num} * n + {den - 1}) DIV {den} AS BIGINT)"),
                F.col(value_col),
            )
        ).alias(out)
        for num, den, out in quantiles
    ]
    if group_cols:
        return cum_df.groupBy(*group_cols).agg(*aggs)
    return cum_df.agg(*aggs)


def mad_outlier_stats(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    c: float = 3.0,
    bucket_expr: Column | None = None,
) -> DataFrame:
    """Robust outlier screen via Median Absolute Deviation: per group
    the lower median ``med``, ``mad = median(|x - med|)``, and the
    count of rows with ``|x - med| > c * mad`` — the
    heavy-tail-immune counterpart of the z-score screen (one wild
    value shifts a mean/stddev fence arbitrarily; breaking a median
    fence needs half the data to be wild).

    Exactness contract: both medians are DISCRETE picks
    (:func:`grouped_discrete_quantile`), ``x - med`` is one correctly
    rounded IEEE subtraction, and ``c`` should be a small exact
    constant — every intermediate is then bit-identical cross-engine.
    Cost: two :func:`grouped_value_cum` passes (distinct-value sized)
    plus one broadcast of the per-group fences onto a final scan;
    never a per-group sort of raw rows.
    """
    med = grouped_discrete_quantile(
        grouped_value_cum(df, group_cols, value_col, bucket_expr),
        group_cols,
        value_col,
        1,
        2,
        out_col="med",
    )
    with_med = df.join(F.broadcast(med), group_cols)
    dev = with_med.withColumn("_adev", F.abs(F.col(value_col) - F.col("med")))
    mad = grouped_discrete_quantile(
        grouped_value_cum(dev, group_cols, "_adev", F.floor(F.col("_adev"))),
        group_cols,
        "_adev",
        1,
        2,
        out_col="mad",
    )
    fences = med.join(mad, group_cols)
    return (
        with_med.join(F.broadcast(fences.select(*group_cols, "mad")), group_cols)
        .groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.first("med").alias("med"),
            F.first("mad").alias("mad"),
            F.sum(
                (
                    F.abs(F.col(value_col) - F.col("med"))
                    > F.lit(c) * F.col("mad")
                ).cast("bigint")
            ).alias("n_outliers"),
        )
    )


def skyline_min2(
    df: DataFrame,
    x_col: str,
    y_col: str,
    bucket_expr: Column | None = None,
) -> DataFrame:
    """2-D Pareto frontier (skyline operator, Börzsönyi et al. ICDE
    2001) minimizing both ``x_col`` and ``y_col``: rows for which no
    other row is <= in both dimensions with at least one strict
    inequality. Duplicated (x, y) points do not dominate each other —
    all stay on the frontier.

    Sort-based 2-D skyline WITHOUT the global sort: a row survives iff
    (a) its y equals the minimum y at its exact x, and (b) the running
    min of y over all STRICTLY smaller x is > its y. The running min
    over distinct x values runs as a bucketed parallel prefix-min (the
    :func:`global_prefix_sum` shape with min instead of sum): window
    partitions bounded by one bucket's distinct x, per-bucket minima
    offset through a buckets-sized window, broadcast back. One
    distinct-x aggregation + one join back on x — no quadratic
    dominance test anywhere. ``bucket_expr`` must be order-consistent
    with x (default ``floor(x)``).
    """
    g = df.groupBy(x_col).agg(F.min(y_col).alias("_gy"))
    b = bucket_expr if bucket_expr is not None else F.floor(F.col(x_col))
    d = g.withColumn("_skb", b)
    w_local = (
        Window.partitionBy("_skb")
        .orderBy(x_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = d.withColumn("_lmin", F.min("_gy").over(w_local))
    totals = d.groupBy("_skb").agg(F.min("_gy").alias("_bt"))
    w_off = Window.orderBy("_skb").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select("_skb", F.min("_bt").over(w_off).alias("_omin"))
    pref = (
        local.join(F.broadcast(offsets), "_skb")
        .withColumn("_runlt", F.least("_lmin", "_omin"))
        .select(x_col, "_gy", "_runlt")
    )
    return (
        df.join(pref, x_col)
        .filter(
            (F.col(y_col) == F.col("_gy"))
            & (F.col("_runlt").isNull() | (F.col("_runlt") > F.col(y_col)))
        )
        .drop("_gy", "_runlt")
    )


def quantile_bins(
    df: DataFrame,
    value_col: str,
    n_bins: int = 10,
    bucket_expr: Column | None = None,
) -> DataFrame:
    """Equal-frequency discretization (the feature-engineering
    quantile binner): per bin 1..n_bins the row count, min, max — bin
    edges are the exact discrete (i/n_bins)-quantiles of the data.

    ``edge_i`` = element at 1-based rank ``ceil(i*n/n_bins)`` of the
    sorted multiset (:func:`grouped_discrete_quantile`); a value lands
    in ``bin = 1 + |{i : v > edge_i}|``. Heavy duplicate mass makes
    bins unequal (ties cannot straddle an edge) — inherent to any
    exact-quantile binning, and deterministic here. The n_bins-1
    edges broadcast as one array onto a single assignment scan; edge
    computation is distinct-value sized via the bucketed prefix-sum.
    """
    cum = grouped_value_cum(df, [], value_col, bucket_expr)
    n_total = cum.agg(F.max("n").alias("n"))
    targets = n_total.select(
        F.explode(F.sequence(F.lit(1), F.lit(n_bins - 1))).alias("i"), "n"
    ).select(
        "i",
        F.expr(f"CAST((i * n + {n_bins - 1}) DIV {n_bins} AS BIGINT)").alias(
            "tgt"
        ),
    )
    edges = (
        cum.join(F.broadcast(targets), F.col("cc") >= F.col("tgt"))
        .groupBy("i")
        .agg(F.min(value_col).alias("edge"))
    )
    edge_arr = edges.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("i"), F.col("edge")))
        ).alias("es")
    ).select(F.transform(F.col("es"), lambda s: s.edge).alias("edges"))
    binned = df.crossJoin(F.broadcast(edge_arr)).withColumn(
        "bin",
        (
            F.lit(1)
            + F.size(
                F.filter(F.col("edges"), lambda e: F.col(value_col) > e)
            )
        ).cast("bigint"),
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min(value_col).alias("lo"),
        F.max(value_col).alias("hi"),
    )


def temperature_mix(
    df: DataFrame,
    source_col: str = "source",
    key_col: str = "doc_id",
    budget_num: int = 1,
    budget_den: int = 2,
    salt: str = "tmix",
    sqrt_steps: int = 1,
) -> DataFrame:
    """Temperature-based source rebalancing at T = 2 (weights ∝
    sqrt(n_s) — the multilingual-LM standard for up-weighting
    low-resource sources without explicit per-source knobs; exponent
    1/2 is the canonical choice): sample each source with probability
    ``min(1, B * w_s / (W * n_s))`` where ``w_s = sqrt(n_s)``,
    ``W = Σ w_s``, and the row budget ``B = N * budget_num/budget_den``
    — in expectation the output has B rows distributed ∝ sqrt of
    source sizes.

    Why T = 2 specifically: IEEE-754 ``sqrt`` is CORRECTLY ROUNDED
    (unlike pow/exp/ln), so the weight of each source is one
    deterministic double; quantized to a 6dp decimal and exactly
    summed, every keep-probability is a fixed float expression over
    engine-identical operands, and the md5 dyadic draw then picks the
    identical rows in any engine. An arbitrary-T variant would need
    exp(alpha*ln n) — iterated transcendentals this repo's numerics
    rules forbid across oracle boundaries.

    Plan: one map-side-combined source-count aggregation (source-
    cardinality rows), broadcast back onto one narrow filter scan —
    rows decide locally from content, nothing data-sized shuffles.
    """
    if budget_num < 0 or budget_den < 1:
        raise ValueError("budget must be a non-negative rational")
    if not 1 <= sqrt_steps <= 4:
        raise ValueError(f"sqrt_steps must be in [1, 4], got {sqrt_steps}")
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("_n"))
    # sqrt_steps composes exact temperatures: 1 -> T=2 (w = n^(1/2)),
    # 2 -> T=4 (w = n^(1/4)), ... — each step is one correctly-rounded
    # IEEE sqrt, so any engine computes the identical weight; arbitrary
    # T would need pow/exp/ln, which are not correctly rounded
    w = F.col("_n").cast("double")
    for _ in range(sqrt_steps):
        w = F.sqrt(w)
    w6 = F.round(w, 6).cast("decimal(18,6)")
    weights = counts.select(source_col, "_n", w6.alias("_w"))
    tot = weights.agg(
        F.sum("_n").alias("_nn"), F.sum("_w").alias("_ww")
    )
    probs = weights.crossJoin(F.broadcast(tot)).select(
        source_col,
        F.least(
            F.lit(1.0),
            (
                F.expr(f"CAST(_nn * {budget_num} DIV {budget_den} AS BIGINT)")
                .cast("double")
                * F.col("_w").cast("double")
            )
            / (F.col("_ww").cast("double") * F.col("_n").cast("double")),
        ).alias("_keep_p"),
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "", F.lit(salt), F.col(key_col).cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        + F.lit(0.5)
    ) / F.lit(float(1 << 32))
    return (
        df.join(F.broadcast(probs), source_col)
        .filter(u < F.col("_keep_p"))
        .drop("_keep_p")
    )


def k_anonymity_audit(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    k: int = 5,
    l_div: int = 2,
) -> DataFrame:
    """k-anonymity / l-diversity privacy audit (Sweeney 2002; Machanavajjhala
    2007): group the relation by its QUASI-IDENTIFIER columns into
    equivalence classes and report, per class, its size (k-anonymity:
    every class must reach ``k`` rows or its members are re-identifiable
    by linking the quasi-identifiers to an external table) and the number
    of DISTINCT sensitive values (l-diversity: a class whose sensitive
    column is constant leaks the attribute even at size >= k — the
    homogeneity attack). The release gate is ``violates = NOT (size >= k
    AND distinct >= l)``; suppression drops violating classes.

    The relational complement of row-level ``pseudonymize``/``redact_pii``:
    those hide direct identifiers, this measures what the REMAINING
    columns still disclose jointly.

    Shape: ONE hash aggregation on the quasi-identifier key (distinct
    sensitive counted exactly via count(distinct) — two-phase partial
    agg, no window); at 100 TB the class key distributes like any
    group-by key. Returns one row per equivalence class.
    """
    if k < 1 or l_div < 1:
        raise ValueError(f"k_anonymity_audit: k and l must be >= 1 ({k=}, {l_div=})")
    return (
        df.groupBy(*quasi_cols)
        .agg(
            F.count(F.lit(1)).alias("class_size"),
            F.countDistinct(F.col(sensitive_col)).alias("n_sensitive_distinct"),
        )
        .select(
            *quasi_cols,
            "class_size",
            "n_sensitive_distinct",
            (F.col("class_size") < F.lit(k)).alias("k_violation"),
            (F.col("n_sensitive_distinct") < F.lit(l_div)).alias("l_violation"),
            (
                (F.col("class_size") < F.lit(k))
                | (F.col("n_sensitive_distinct") < F.lit(l_div))
            ).alias("violates"),
        )
    )


def k_anonymity_suppress(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    k: int = 5,
    l_div: int = 2,
) -> DataFrame:
    """Suppression release: keep only rows whose equivalence class passes
    the k-anonymity AND l-diversity gates of ``k_anonymity_audit``.
    Implemented as a broadcast-able semi join against the (small) audit
    relation restricted to passing classes — class count is bounded by
    the quasi-identifier domain, not the row count."""
    passing = (
        k_anonymity_audit(df, quasi_cols, sensitive_col, k=k, l_div=l_div)
        .filter(~F.col("violates"))
        .select(*quasi_cols)
    )
    return df.join(F.broadcast(passing), quasi_cols, "left_semi")


def row_digest_48(cols: list[str]) -> Column:
    """The content-fingerprint row digest: the 48-bit md5 prefix of the
    canonical '|'-joined column rendering as DECIMAL(38,0). NULL-
    propagating concat (SQL's ||): any NULL column nulls the digest in
    BOTH engines. Shared by the one-shot fingerprint and the CDC delta
    applier so base + delta arithmetic is guaranteed the same law."""
    parts: list[Column] = []
    for i, c in enumerate(cols):
        if i:
            parts.append(F.lit("|"))
        parts.append(F.col(c).cast("string"))
    return F.conv(
        F.substring(F.md5(F.concat(*parts)), 1, 12),
        16,
        10,
    ).cast("decimal(38,0)")


def content_fingerprint(
    df: DataFrame, cols: list[str], label: str
) -> DataFrame:
    """Content-addressed dataset fingerprint: one row (dataset, n_rows,
    content_hash) where content_hash is the EXACT decimal sum of each
    row's 48-bit md5 prefix over the canonical '|'-joined column
    rendering. Addition is commutative, so the digest is independent of
    row order, partitioning, and parallelism — the property that makes
    it a cheap full-content equality check between two copies of a
    100 TB table (one scan, map-side partials, a 1-row reduce; no
    shuffle of data). DECIMAL(38,0) accumulation is exact to ~10^24
    rows; a bigint sum would overflow and ANSI mode would raise.

    Columns must render identically across engines, so the caller
    passes integer/string/date-derived columns only (floats render
    engine-specifically — the snapshot_diff lesson); dates/timestamps
    should be pre-cast to epoch integers by the caller. NULL handling
    is null-PROPAGATING concat (SQL's ||, not concat_ws which silently
    drops the null and its separator — ('a', NULL) and (NULL, 'a')
    would collide AND diverge from the SQL twin): a row with any NULL
    column contributes nothing to the hash in BOTH engines; coalesce
    nullable columns first if they must count.
    """
    row_digest = row_digest_48(cols)
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(row_digest).cast("decimal(38,0)").alias("_h"),
    ).select(
        F.lit(label).alias("dataset"),
        "n_rows",
        # empty relation -> '0', not NULL, so fingerprints always compare
        F.coalesce(F.col("_h").cast("string"), F.lit("0")).alias("content_hash"),
    )


def cascade_forget(
    root_keys: DataFrame,
    key_col: str,
    levels: list[tuple[str, DataFrame, str, str | None]],
) -> tuple[DataFrame, dict[str, DataFrame]]:
    """Right-to-be-forgotten cascade (the GDPR/CCPA deletion pipeline):
    given a deletion-request key list, purge the root table and walk the
    foreign-key chain so every dependent row goes too — customer ->
    their orders -> those orders' line items. ``levels`` is the FK
    chain: (table_name, df, fk_col joining the PREVIOUS level's keys,
    this level's key col to cascade further or None at the leaf).

    Returns (summary, kept): one (table, rows_before, rows_purged,
    rows_after) summary row per level, plus each level's retained
    relation for the caller to write back.

    Shape: per level ONE left join against the (deduplicated) previous
    level's key set marks doomed rows — the mark feeds both the count
    aggregate and the kept/purged splits from a single pass, and the
    purged side's keys cascade down. Deletion-request lists are tiny
    (AQE broadcasts them); intermediate key sets (a deleted customer's
    order keys) can be arbitrarily large, so no forced broadcast —
    the join stays a plain equi-join that scales with the keys.
    """
    cur = root_keys.select(F.col(key_col).alias("_k")).distinct()
    summaries = []
    kept: dict[str, DataFrame] = {}
    for name, df, fk, next_key in levels:
        clash = {"_k", "_doomed"}.intersection(df.columns)
        if clash:
            raise ValueError(
                f"cascade_forget: table {name!r} uses the working column "
                f"names {sorted(clash)}; rename them first"
            )
        marked = df.join(
            cur.withColumn("_doomed", F.lit(True)),
            df[fk] == cur["_k"],
            "left",
        )
        summaries.append(
            marked.agg(
                F.count(F.lit(1)).alias("rows_before"),
                F.sum(F.when(F.col("_doomed"), 1).otherwise(0))
                .cast("bigint")
                .alias("rows_purged"),
            ).select(
                F.lit(name).alias("tbl"),
                "rows_before",
                "rows_purged",
                (F.col("rows_before") - F.col("rows_purged")).alias("rows_after"),
            )
        )
        kept[name] = marked.filter(F.col("_doomed").isNull()).drop("_k", "_doomed")
        if next_key is not None:
            cur = (
                marked.filter(F.col("_doomed"))
                .select(F.col(next_key).alias("_k"))
                .distinct()
            )
    summary = summaries[0]
    for s in summaries[1:]:
        summary = summary.unionByName(s)
    return summary, kept


def apply_fingerprint_delta(
    state: DataFrame,
    delta: DataFrame,
    cols: list[str],
    label: str,
    sign_col: str = "_sign",
) -> DataFrame:
    """Incremental fingerprint maintenance: the content hash is an
    ADDITIVE monoid — fp(base ∪ inserts minus deletes) = fp(base)
    + Σ digest(insert) - Σ digest(delete) — so a persisted
    (dataset, n_rows, content_hash) state absorbs a CDC delta with
    work ∝ delta, never a base rescan (the incremental_agg pattern
    applied to copy validation: a 100 TB table's full-content check
    stays current per delivery). DECIMAL(38,0) arithmetic is exact;
    deletes subtract exactly (doubles could not).

    ``delta`` carries ``sign_col`` = +1 (insert) / -1 (delete); the
    maintained output equals ``content_fingerprint`` over the patched
    base bit-for-bit (the registry oracle states exactly that).
    """
    d = delta.agg(
        F.sum(F.col(sign_col).cast("bigint")).alias("n_rows"),
        F.sum(
            row_digest_48(cols) * F.col(sign_col).cast("decimal(38,0)")
        ).alias("_h"),
    ).select(
        F.coalesce(F.col("n_rows"), F.lit(0)).cast("bigint").alias("n_rows"),
        F.coalesce(F.col("_h"), F.lit(0).cast("decimal(38,0)")).alias("_h"),
    )
    base = state.select(
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("content_hash").cast("decimal(38,0)").alias("_h"),
    )
    return (
        base.unionByName(d)
        .agg(
            F.sum("n_rows").alias("n_rows"),
            F.sum("_h").cast("decimal(38,0)").alias("_h"),
        )
        .select(
            F.lit(label).alias("dataset"),
            "n_rows",
            F.coalesce(F.col("_h").cast("string"), F.lit("0")).alias(
                "content_hash"
            ),
        )
    )


def dp_noisy_counts(
    df: DataFrame,
    group_cols: Sequence[str],
    epsilon_permille: int = 500,
    salt: str = "dp",
) -> DataFrame:
    """Laplace-mechanism histogram release — the third leg of the
    privacy family next to k-anonymity suppression and pseudonymization:
    per-group counts plus Laplace(b = 1/ε) noise (unit sensitivity: one
    individual moves one count by one), the textbook ε-differentially-
    private count release. ``epsilon_permille`` keeps ε an integer
    (500 = ε 0.5 → b = 2).

    Honest caveat, stated loudly: the noise here is DERIVED from an md5
    hash of the group key, because this engine's contract is
    reproducibility (reruns, retries, and the SQL oracle must agree
    bit-for-bit). Deterministic noise is NOT differential privacy — an
    adversary who knows the salt can subtract it. The operator's value
    is the exact MECHANISM: the inverse-CDF transform, the sensitivity
    accounting, and the one-scan release shape; swap the uniform source
    for real entropy (rand() per release) to get the real guarantee.

    Exactness: u is the md5-dyadic uniform; the Laplace inverse CDF
    ``-b·sign(u-½)·ln(1-2|u-½|)`` has an EXACTLY-representable argument
    (1-2|u-½| = |2h+1-2³²|/2³² is dyadic), the one transcendental
    quantizes to a 6dp decimal (the r07 transcendental rule), and the
    release ``count + b·lap_q`` is exact decimal arithmetic — b is the
    integer-exact 1000/ε_permille decimal. One group aggregation, one
    map-side expression; nothing else.
    """
    if not 0 < epsilon_permille <= 1000_000:
        raise ValueError(
            f"epsilon_permille must be in (0, 1e6], got {epsilon_permille}"
        )
    if not group_cols:
        raise ValueError("dp_noisy_counts needs at least one group column")
    clash = {"n_true", "noisy_count_q", "noisy_count_str", "noisy_count"} & set(
        group_cols
    )
    if clash:
        raise ValueError(
            f"dp_noisy_counts group_cols clash with working names: {sorted(clash)}"
        )
    from decimal import Decimal

    d6 = "decimal(18,6)"
    # b = 1000 / epsilon_permille as an exact 6dp decimal (raise if not
    # exactly representable, e.g. epsilon_permille = 3)
    b = Decimal(1000).scaleb(6) / Decimal(epsilon_permille)
    if b != b.to_integral_value():
        raise ValueError(
            f"1000/{epsilon_permille} is not exact at 6dp; pick a divisor "
            "of 10^9"
        )
    b6 = str(Decimal(b.to_integral_value()).scaleb(-6))
    cnt = df.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("n_true"))
    key = F.concat_ws(
        "|", F.lit(salt), *[F.col(c).cast("string") for c in group_cols]
    )
    h = F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("bigint")
    # 1 - 2|u - 1/2| = 1 - |2h + 1 - 2^32| / 2^32, exactly dyadic
    num = F.abs(2 * h + 1 - F.lit(4294967296).cast("bigint"))
    arg = F.lit(1.0) - num.cast("double") / F.lit(4294967296.0)
    sign = F.when(2 * h + 1 >= F.lit(4294967296).cast("bigint"), F.lit(1)).otherwise(
        F.lit(-1)
    )
    lap_q = F.round(F.log(arg), 6).cast(d6)  # <= 0
    noise = (-sign * lap_q) * F.lit(b6).cast(d6)
    # widen to scale 12, never round: a (28,6) cast would round the
    # 12-scale product and decimal-cast rounding modes differ between
    # engines at ties — widening is exact in both
    return cnt.select(
        *group_cols,
        (F.col("n_true").cast(d6) + noise).cast("decimal(30,12)").alias(
            "noisy_count_q"
        ),
    ).select(
        *group_cols,
        F.col("noisy_count_q").cast("string").alias("noisy_count_str"),
        F.col("noisy_count_q").cast("double").alias("noisy_count"),
    )


def join_size_report(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    top: int = 10,
) -> DataFrame:
    """EXACT join-size and skew forecast for an equi-join — the
    planning primitive behind salting/broadcast decisions: the join's
    output cardinality is exactly ``sum over matched keys of
    c_left(k) * c_right(k)``, computable from two key-count aggregates
    WITHOUT running the join. The report surfaces the ``top`` hottest
    keys (the ones a salted join would split) with each key's exact
    pair contribution and share of the total.

    Exactness: per-key products and their total accumulate in
    DECIMAL(38,0) (a single hot key can contribute c² pairs — far past
    int64 at corpus scale) and cross engines as VARCHAR; ``share`` is
    one correctly-rounded division of the pinned integers.

    Plan: two key-count aggregations (map-side combined), a key-table
    join, a 1-row totals aggregate broadcast back, and a
    TakeOrderedAndProject — the branch totals recompute the key tables
    (the ks_two_sample branch-recompute trade: the key relation is
    distinct-key-sized and must not be checkpointed at scale).
    Deterministic order: pair contribution DESC, key ASC.

    Output (top rows): key, left_rows, right_rows, pair_rows,
    total_pair_rows, matched_keys, left_keys, right_keys, share.
    """
    if top < 1:
        raise ValueError(f"top must be >= 1, got {top}")
    dec = "decimal(38,0)"
    a = left.groupBy(F.col(left_key).alias("_k")).agg(
        F.count(F.lit(1)).alias("_ca")
    )
    b = right.groupBy(F.col(right_key).alias("_k")).agg(
        F.count(F.lit(1)).alias("_cb")
    )
    per = a.join(b, "_k").select(
        "_k",
        "_ca",
        "_cb",
        (F.col("_ca").cast(dec) * F.col("_cb").cast(dec)).alias("_p"),
    )
    totals = per.agg(
        F.coalesce(F.sum("_p"), F.lit(0).cast(dec)).cast(dec).alias("_tp"),
        F.count(F.lit(1)).alias("_mk"),
    )
    lk = a.agg(F.count(F.lit(1)).alias("_lk"))
    rk = b.agg(F.count(F.lit(1)).alias("_rk"))
    tot = totals.crossJoin(lk).crossJoin(rk)
    scored = per.crossJoin(F.broadcast(tot))
    return (
        scored.orderBy(F.col("_p").desc(), F.col("_k").asc())
        .limit(top)
        .select(
            F.col("_k").alias("key"),
            F.col("_ca").cast("long").alias("left_rows"),
            F.col("_cb").cast("long").alias("right_rows"),
            F.col("_p").cast("string").alias("pair_rows"),
            F.col("_tp").cast("string").alias("total_pair_rows"),
            F.col("_mk").cast("long").alias("matched_keys"),
            F.col("_lk").cast("long").alias("left_keys"),
            F.col("_rk").cast("long").alias("right_keys"),
            (F.col("_p").cast("double") / F.col("_tp").cast("double")).alias(
                "share"
            ),
        )
    )


def fd_profile(
    df: DataFrame,
    determinant_cols: tuple[str, ...],
    dependent_col: str,
) -> DataFrame:
    """Approximate functional-dependency profile for X -> Y — the
    data-quality primitive behind schema discovery and dedup key
    selection: how close does ``determinant_cols -> dependent_col``
    come to holding, measured by the g3 error (Kivinen & Mannila 1995:
    the minimum FRACTION of rows to delete for the FD to hold exactly,
    ``1 - Σ_x max_y count(x,y) / n``).

    Plan: one map-side-combined count over (X, Y), one aggregate over
    the pair table to per-X (total, best) via ``max(struct(count,
    ...))``, one global reduce — shuffle bounded by DISTINCT (X, Y)
    pairs, never raw rows twice. NULL determinant or dependent values
    are regular values (groupBy semantics — a NULL Y that dominates a
    key is that key's majority, the window-partition convention).
    All-integer counts; g3_error is one final division.

    Output (one row): (n_rows, n_determinants, n_clean_determinants,
    n_violations, g3_error).
    """
    if not determinant_cols:
        raise ValueError("fd_profile needs at least one determinant column")
    pair_cnt = df.groupBy(*determinant_cols, dependent_col).agg(
        F.count(F.lit(1)).alias("_c")
    )
    per_x = pair_cnt.groupBy(*determinant_cols).agg(
        F.sum("_c").alias("_nx"), F.max("_c").alias("_best")
    )
    return per_x.agg(
        F.sum("_nx").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_determinants"),
        F.sum((F.col("_nx") == F.col("_best")).cast("long"))
        .cast("long")
        .alias("n_clean_determinants"),
        F.sum(F.col("_nx") - F.col("_best")).cast("long").alias("n_violations"),
        (
            F.sum(F.col("_nx") - F.col("_best")).cast("double")
            / F.sum("_nx").cast("double")
        ).alias("g3_error"),
    )


def rendezvous_shards(
    df: DataFrame,
    key_col: str = "doc_id",
    n_shards: int = 8,
    salt: str = "hrw",
) -> DataFrame:
    """Rendezvous (highest-random-weight) shard assignment (Thaler &
    Ravishankar 1998) — the sharding rule whose defining property is
    MINIMAL MOVEMENT: adding a shard reassigns only the keys the new
    shard now wins (~1/(n+1) of them), every other key stays put —
    unlike modulo hashing, which reshuffles almost everything. The
    right assignment for incrementally-maintained shard outputs
    (the dedup-index / token-shard family).

    Each key scores every shard with md5(salt|shard|key) and takes the
    argmax (ties broken by smaller shard id; md5 makes the draw
    rerun-stable and engine-portable — the repo's deterministic-
    sampling convention). ``n_shards`` is a small constant, so the
    score loop is ONE map-only expression per row — an aggregate over
    a literal shard array, zero exchanges at any corpus size.

    Output: input key column plus (shard, score_hex) — score_hex is
    the winning 8-hex-digit score, kept so the minimal-movement
    property is auditable (a key moves iff a NEW shard beats this
    recorded score).
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    key = F.col(key_col).cast("string")

    def score(i: int):
        return F.substring(
            F.md5(F.concat_ws("|", F.lit(salt), F.lit(str(i)), key)), 1, 8
        )

    # argmax by (score desc, shard asc): min over (~score, shard) structs
    # would need a bitwise not on strings — instead max over
    # (score, -shard) is wrong for ties, so compare explicitly via
    # array_max over (score, neg_shard) ... simplest exact form:
    # reduce over a literal array of (score, shard) structs.
    pairs = F.array(
        *[
            F.struct(
                score(i).alias("s"), F.lit(n_shards - 1 - i).alias("_negi")
            )
            for i in range(n_shards)
        ]
    )
    best = F.array_max(pairs)
    return df.select(
        key_col,
        (F.lit(n_shards - 1) - best["_negi"]).cast("int").alias("shard"),
        best["s"].alias("score_hex"),
    )
