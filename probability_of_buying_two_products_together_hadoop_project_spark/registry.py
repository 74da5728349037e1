"""Named query registry: every operator from SURVEY.md §2 as a
(spark_fn, oracle_sql) pair consumed by ``__spark_entry__.py``.

Contract (driver t2 gate): the Spark DataFrame and the DuckDB result of
``oracle`` must match on row count, schema, and order-insensitive value
hash at sf0.01. Rules applied throughout:

- Every computed column is aliased identically on both sides.
- Aggregated doubles go through exact decimal sums (functions.scalar.dsum)
  so the result is order-independent — see that module's docstring.
- Integer-ish outputs are cast to BIGINT on both sides (Spark's size/year
  return int, DuckDB's len/year return bigint).
- Window ranks always carry a unique tiebreak column.
- Queries whose engine-side hashing has no DuckDB equivalent (xxhash64
  MinHash/SimHash, FPGrowth, SRP-LSH) have oracle=None -> the driver
  records the weaker rows-only check.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ._evidence import NEWEST_GREEN
from .functions.scalar import davg, dsum
from .operators import (
    basket,
    dedup,
    evaluation,
    multimodal,
    relational,
    rules,
    similarity,
    sketches,
    text,
    timeseries,
)
from .sources import io as engine_io


@dataclass
class Query:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None, doc: str = ""):
    def deco(fn):
        REGISTRY[name] = Query(fn=fn, oracle=oracle, doc=doc)
        return fn

    return deco


_PIN_STORE: dict[tuple[str, str, str], object] = {}
_PINS: dict[str, Callable[[SparkSession, str], object]] = {}


def _pinned(name: str):
    """Shared evidence: a relation several queries consume, built once per
    (SparkContext, sf_dir) and returned as the same object on every later
    call. Each body pins the expensive relation it builds with
    ``localCheckpoint(eager=True)``, so the first call runs the corpus pass
    and a hit does no Spark work beyond the ``applicationId`` read. The result is the relation each consumer would
    build itself, so sharing it is result-invisible.

    Each call first drops entries of other applications: a stopped
    context's localCheckpoint blocks are gone, so a stale entry would
    raise on first use, and keeping it pins dead references for the
    process lifetime (ADVICE r10). A build that raises stores nothing.
    ``_PINS`` keeps definition order, which ``bench.py`` uses to time each
    pin's own marginal build (a pin that calls another is defined after
    it)."""

    def deco(build):
        def pin(spark: SparkSession, sf_dir: str):
            app = spark.sparkContext.applicationId
            for k in [k for k in _PIN_STORE if k[0] != app]:
                del _PIN_STORE[k]
            key = (app, sf_dir, name)
            if key not in _PIN_STORE:
                _PIN_STORE[key] = build(spark, sf_dir)
            return _PIN_STORE[key]

        _PINS[name] = pin
        return pin

    return deco


# canonical CSV/JSON copies for the source-reader queries, written at most
# once per (format, sf_dir) per process — re-invocations (oracle loops,
# bench repeats) reuse the cached path instead of leaking temp dirs
_SOURCE_EXPORT_CACHE: dict[tuple[str, str], str] = {}


def _export_once(kind: str, sf_dir: str, write_fn) -> str:
    import tempfile

    key = (kind, sf_dir)
    path = _SOURCE_EXPORT_CACHE.get(key)
    if path is None:
        path = tempfile.mkdtemp(prefix=f"{kind}_src_") + f"/{kind}"
        write_fn(path)
        _SOURCE_EXPORT_CACHE[key] = path
    return path


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # events.parquet's ts physical type has varied across testdata
        # generations: TIMESTAMP(NANOS) (vanilla Spark rejects it —
        # PARQUET_TYPE_ILLEGAL), and micros with isAdjustedToUTC=false
        # (Spark 4 infers TIMESTAMP_NTZ, which unix_micros/window reject).
        # Normalize every variant to a session-TZ timestamp; sessions here
        # run UTC (session.get_spark), so NTZ->LTZ is a lossless relabel
        # and matches DuckDB's naive-as-UTC TIMESTAMP semantics.
        # session.get_spark sets the nanos conf at build time; for sessions
        # we did not build (the driver's), set it once if absent — it cannot
        # be scoped-and-restored because the returned DataFrame reads the
        # conf lazily at scan planning, after this function returns.
        if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # The NTZ->LTZ relabel below (and window()/date_trunc in the events
        # queries) reads the SESSION timezone; a non-UTC driver session would
        # shift every epoch by the TZ offset and move window boundaries,
        # diverging from DuckDB's naive-as-UTC semantics. Pin it like the
        # nanos conf — same cannot-scope-and-restore reasoning applies.
        if spark.conf.get("spark.sql.session.timeZone", "") != "UTC":
            spark.conf.set("spark.sql.session.timeZone", "UTC")
        df = engine_io.read_parquet(spark, path)
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return engine_io.read_parquet(spark, path)


# ---------------------------------------------------------------------------
# Basket / co-occurrence (the reference's own query surface)
# ---------------------------------------------------------------------------

# Shared oracle CTE: lineitem -> ordered baskets -> windowed pairs,
# replicating /root/reference/src/CrystalBallPair.java:42-63 semantics.
_COOC_CTE = """
WITH pos AS (
  SELECT l_orderkey AS basket_id,
         CAST(l_partkey AS VARCHAR) AS item,
         row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS pos
  FROM lineitem
),
ext AS (
  SELECT basket_id, item, pos,
         count(*) OVER (PARTITION BY basket_id) AS n_items,
         min(pos) OVER (
           PARTITION BY basket_id, item ORDER BY pos
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
         ) AS next_same_pos
  FROM pos
),
pairs AS (
  SELECT c.item, n.item AS neighbor
  FROM ext c
  JOIN pos n ON n.basket_id = c.basket_id
            AND n.pos > c.pos
            AND n.pos < COALESCE(c.next_same_pos, 2147483647)
  WHERE c.pos < c.n_items
),
counts AS (
  SELECT item, neighbor, count(*) AS pair_cnt FROM pairs GROUP BY item, neighbor
),
cooc AS (
  SELECT item, neighbor, pair_cnt,
         CAST(pair_cnt AS DOUBLE)
           / CAST(sum(pair_cnt) OVER (PARTITION BY item) AS DOUBLE) AS prob
  FROM counts
)
"""


@register(
    "cooccurrence_pairs",
    _COOC_CTE + "SELECT item, neighbor, pair_cnt, prob FROM cooc",
    "Flagship Crystal Ball query on lineitem-derived baskets (ref O3+O9+O10)",
)
def q_cooccurrence_pairs(spark, sf_dir):
    baskets = basket.baskets_from_lineitem(_t(spark, sf_dir, "lineitem"))
    return basket.cooccurrence_pairs(baskets)


# one hot item absorbing ~30% of all lineitem rows (keys 0-9 uniform, so
# remapping residues 0-2 to item 0 makes it ~30% of every basket's items)
_SKEW_ITEM_SQL = "(CASE WHEN l_partkey % 10 < 3 THEN 0 ELSE l_partkey END)"


@register(
    "cooccurrence_pairs_skewed",
    _COOC_CTE.replace("l_partkey", _SKEW_ITEM_SQL)
    + "SELECT item, neighbor, pair_cnt, prob FROM cooc",
    "The flagship on a DELIBERATELY skewed item domain (one hot item in "
    "~30% of lineitem rows, built by a deterministic remap both engines "
    "state identically): exercises the join_marginals variant, whose "
    "marginal side partial-aggregates to one row per distinct item and "
    "BROADCASTS — the hot item never concentrates an exchange partition, "
    "unlike the default window variant whose partitionBy(item) puts every "
    "hot-item neighbor row in one sort partition (measured straggler "
    "crossover in SCALING.md round-5 section).",
)
def q_cooccurrence_skewed(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "l_partkey",
        F.when(F.col("l_partkey") % 10 < 3, F.lit(0)).otherwise(
            F.col("l_partkey")
        ),
    )
    baskets = basket.baskets_from_lineitem(li)
    return basket.cooccurrence_pairs(baskets, join_marginals=True)


@register(
    "cooccurrence_topk",
    _COOC_CTE
    + """
    SELECT item, neighbor, prob, CAST(rk AS BIGINT) AS rk FROM (
      SELECT item, neighbor, prob,
             row_number() OVER (PARTITION BY item ORDER BY prob DESC, neighbor) AS rk
      FROM cooc
    ) WHERE rk <= 3
    """,
    "Top-3 most-likely next products per item (rank window over flagship)",
)
def q_cooccurrence_topk(spark, sf_dir):
    baskets = basket.baskets_from_lineitem(_t(spark, sf_dir, "lineitem"))
    pairs = basket.cooccurrence_pairs(baskets).select("item", "neighbor", "prob")
    out = relational.top_k_per_group(
        pairs, ["item"], [F.col("prob").desc(), F.col("neighbor")], 3
    )
    return out.withColumn("rk", F.col("rk").cast("long"))


@register(
    "cooccurrence_stripes",
    _COOC_CTE
    + """
    SELECT item,
           string_agg(neighbor || ':' || format('{:.6f}', prob), ','
                      ORDER BY neighbor || ':' || format('{:.6f}', prob)) AS stripe,
           count(*) AS n_neighbors
    FROM cooc GROUP BY item
    """,
    "Stripes output shape (ref O6): per-item neighbor->prob map, encoded "
    "as a neighbor-sorted string so the map is oracle-checkable",
)
def q_cooccurrence_stripes(spark, sf_dir):
    baskets = basket.baskets_from_lineitem(_t(spark, sf_dir, "lineitem"))
    pairs = basket.cooccurrence_pairs(baskets)
    return pairs.groupBy("item").agg(
        F.array_join(
            F.array_sort(
                F.collect_list(
                    F.concat_ws(":", "neighbor", F.format_number(F.col("prob"), 6))
                )
            ),
            ",",
        ).alias("stripe"),
        F.count(F.lit(1)).alias("n_neighbors"),
    )


@register(
    "cooccurrence_pairs_joined",
    _COOC_CTE + "SELECT item, neighbor, pair_cnt, prob FROM cooc",
    "Flagship via the skew-robust marginal-join normalization "
    "(same oracle as the window formulation — results must be identical)",
)
def q_cooccurrence_pairs_joined(spark, sf_dir):
    baskets = basket.baskets_from_lineitem(_t(spark, sf_dir, "lineitem"))
    return basket.cooccurrence_pairs(baskets, join_marginals=True)


@register(
    "pair_rules",
    """
    WITH sets AS (
      SELECT l_orderkey, CAST(l_partkey AS VARCHAR) AS item
      FROM lineitem GROUP BY l_orderkey, l_partkey
    ),
    nb AS (SELECT count(DISTINCT l_orderkey) AS n FROM lineitem),
    ic AS (SELECT item, count(*) AS a_cnt FROM sets GROUP BY item),
    pc AS (
      SELECT a.item AS a, b.item AS b, count(*) AS pair_cnt
      FROM sets a JOIN sets b ON a.l_orderkey = b.l_orderkey AND a.item < b.item
      GROUP BY a.item, b.item
    )
    SELECT pc.a, pc.b, pair_cnt, a_cnt,
           CAST(pair_cnt AS DOUBLE) / CAST(a_cnt AS DOUBLE) AS confidence,
           CAST(pair_cnt AS DOUBLE) / CAST(n AS DOUBLE) AS support
    FROM pc JOIN ic ON ic.item = pc.a CROSS JOIN nb
    WHERE pair_cnt >= 2
    """,
    "Association-rule support/confidence for co-present pairs (SURVEY §7.4)",
)
def q_pair_rules(spark, sf_dir):
    baskets = basket.baskets_from_lineitem(_t(spark, sf_dir, "lineitem"))
    return rules.pair_support_confidence(baskets, min_support_count=2)


@register(
    "fpgrowth_itemsets",
    None,  # FPGrowth's FP-tree mining has no SQL equivalent; rows-only check
    "MLlib FPGrowth frequent itemsets over basket item sets",
)
def q_fpgrowth_itemsets(spark, sf_dir):
    baskets = basket.baskets_from_lineitem(_t(spark, sf_dir, "lineitem"))
    # min_support low enough to yield itemsets at every test SF (item
    # universe is large relative to basket count in the synthetic data)
    itemsets, _ = rules.fp_growth_rules(baskets, min_support=0.002, min_confidence=0.05)
    return itemsets.select(
        F.concat_ws(",", F.array_sort("items")).alias("itemset"), F.col("freq")
    )


@register(
    "fpgrowth_itemsets_pairs",
    """
    WITH sets AS (
      SELECT l_orderkey, CAST(l_partkey AS VARCHAR) AS item
      FROM lineitem GROUP BY l_orderkey, l_partkey
    ),
    mc AS (
      SELECT CAST(ceil(0.002 * count(DISTINCT l_orderkey)) AS BIGINT) AS min_count
      FROM lineitem
    ),
    ones AS (SELECT item AS itemset, count(*) AS freq FROM sets GROUP BY item),
    twos AS (
      SELECT a.item || ',' || b.item AS itemset, count(*) AS freq
      FROM sets a JOIN sets b ON a.l_orderkey = b.l_orderkey AND a.item < b.item
      GROUP BY 1
    )
    SELECT itemset, freq FROM ones, mc WHERE freq >= min_count
    UNION ALL
    SELECT itemset, freq FROM twos, mc WHERE freq >= min_count
    """,
    "FPGrowth frequent itemsets restricted to sizes 1-2: the restriction "
    "is SQL-expressible (item / co-present pair counts >= "
    "ceil(minSupport * n_baskets), MLlib's own minCount formula), so the "
    "FP-tree miner gets a hash-checked oracle row; the unrestricted miner "
    "stays rows-only in fpgrowth_itemsets",
)
def q_fpgrowth_pairs(spark, sf_dir):
    baskets = basket.baskets_from_lineitem(_t(spark, sf_dir, "lineitem"))
    itemsets, _ = rules.fp_growth_rules(baskets, min_support=0.002, min_confidence=0.05)
    return itemsets.filter(F.size("items") <= 2).select(
        F.concat_ws(",", F.array_sort("items")).alias("itemset"), F.col("freq")
    )


@register(
    "fpgrowth_rules_pairs",
    """
    WITH sets AS (
      SELECT l_orderkey, CAST(l_partkey AS VARCHAR) AS item
      FROM lineitem GROUP BY l_orderkey, l_partkey
    ),
    mc AS (
      SELECT CAST(ceil(0.0001 * count(DISTINCT l_orderkey)) AS BIGINT) AS min_count,
             count(DISTINCT l_orderkey) AS n
      FROM lineitem
    ),
    ic AS (SELECT item, count(*) AS cnt FROM sets GROUP BY item),
    fp AS (
      SELECT a.item AS a, b.item AS b, count(*) AS cnt
      FROM sets a JOIN sets b ON a.l_orderkey = b.l_orderkey AND a.item < b.item
      GROUP BY a.item, b.item
      HAVING count(*) >= (SELECT min_count FROM mc)
    ),
    bd AS (
      SELECT a AS antecedent, b AS consequent, cnt FROM fp
      UNION ALL
      SELECT b AS antecedent, a AS consequent, cnt FROM fp
    )
    SELECT bd.antecedent, bd.consequent,
           CAST(bd.cnt AS DOUBLE) / CAST(ia.cnt AS DOUBLE) AS confidence,
           (CAST(bd.cnt AS DOUBLE) / CAST(ia.cnt AS DOUBLE))
             / (CAST(ico.cnt AS DOUBLE) / CAST(mc.n AS DOUBLE)) AS lift,
           CAST(bd.cnt AS DOUBLE) / CAST(mc.n AS DOUBLE) AS support
    FROM bd
    JOIN ic ia ON ia.item = bd.antecedent
    JOIN ic ico ON ico.item = bd.consequent
    CROSS JOIN mc
    WHERE CAST(bd.cnt AS DOUBLE) / CAST(ia.cnt AS DOUBLE) >= 0.05
    """,
    "FPGrowth associationRules restricted to 1 -> 1 rules (exactly the "
    "rules arising from size-2 frequent itemsets): antecedent/consequent "
    "counts and MLlib's own confidence = freq(pair)/freq(antecedent), "
    "lift = confidence/(freq(consequent)/n), support = freq(pair)/n are "
    "all ANSI-SQL over co-present pair counts, so the rule miner's "
    "confidence side gets a hash-checked oracle (the reference's "
    "P(n|p) ~ rule confidence is the conceptual bridge, SURVEY §2.3 ML)",
)
def q_fpgrowth_rules_pairs(spark, sf_dir):
    baskets = basket.baskets_from_lineitem(_t(spark, sf_dir, "lineitem"))
    # min_support tuned so frequent PAIRS exist at the driver's sf0.01
    # (max co-presence count there is 5 over ~15k baskets)
    _, assoc = rules.fp_growth_rules(baskets, min_support=0.0001, min_confidence=0.05)
    return assoc.filter(
        (F.size("antecedent") == 1) & (F.size("consequent") == 1)
    ).select(
        F.col("antecedent")[0].alias("antecedent"),
        F.col("consequent")[0].alias("consequent"),
        "confidence",
        "lift",
        "support",
    )


# ---------------------------------------------------------------------------
# Relational surface (SURVEY §2.3): scans, joins, aggs, windows, set ops
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_qty,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1999-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    "TPC-H Q1 shape: scan + filter + hash agg with exact decimal sums",
)
def q_q1(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1999-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            # scale 6: disc_price/charge have true 6-dp decimal values
            # (2-dp price x 2-dp discount x 2-dp tax), so the double->
            # decimal(18,6) rounding is exact and engine-independent;
            # at 4 dp it lands on ties that HALF_UP vs HALF_EVEN break
            # differently.
            dsum(disc_price, scale=6).alias("sum_disc_price"),
            dsum(charge, scale=6).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q3_top_revenue_orders",
    """
    SELECT o_orderkey,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           epoch_us(o_orderdate) AS orderdate_us, o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY o_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
    "TPC-H Q3 shape: 3-way join + agg + global top-k",
)
def q_q3(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select(
            "o_orderkey",
            "revenue",
            # timestamps cross the oracle boundary as epoch micros: pandas
            # represents Spark results as datetime64[ns] but DuckDB as
            # datetime64[us], and a dtype-sensitive hash would mismatch
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("orderdate_us"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@register(
    "q5_region_revenue",
    """
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1999-01-01'
    GROUP BY n_name
    """,
    "TPC-H Q5 shape: star join with broadcast dims + agg",
)
def q_q5(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


@register(
    "join_left_customer_orders",
    """
    SELECT c_custkey, c_name,
           count(o_orderkey) AS n_orders,
           CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 0) AS DOUBLE) AS total_spent
    FROM customer LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY c_custkey, c_name
    """,
    "Left outer join preserving customers with zero orders",
)
def q_join_left(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(
                F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double"),
                F.lit(0.0),
            ).alias("total_spent"),
        )
    )


@register(
    "join_semi_customers",
    """
    SELECT c_custkey, c_name, c_acctbal FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
    """,
    "Left-semi join (EXISTS)",
)
def q_join_semi(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_acctbal")


@register(
    "join_anti_customers",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    "Left-anti join (NOT EXISTS)",
)
def q_join_anti(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@register(
    "join_full_outer_segments",
    """
    WITH b AS (SELECT c_nationkey, count(*) AS n_building FROM customer
               WHERE c_mktsegment = 'BUILDING' GROUP BY c_nationkey),
         m AS (SELECT c_nationkey, count(*) AS n_machinery FROM customer
               WHERE c_mktsegment = 'MACHINERY' GROUP BY c_nationkey)
    SELECT COALESCE(b.c_nationkey, m.c_nationkey) AS nationkey,
           COALESCE(n_building, 0) AS n_building,
           COALESCE(n_machinery, 0) AS n_machinery
    FROM b FULL OUTER JOIN m ON b.c_nationkey = m.c_nationkey
    """,
    "Full outer join preserving unmatched keys on both sides",
)
def q_join_full_outer(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    b = (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_building"))
    )
    m = (
        cust.filter(F.col("c_mktsegment") == "MACHINERY")
        .groupBy(F.col("c_nationkey").alias("m_nationkey"))
        .agg(F.count(F.lit(1)).alias("n_machinery"))
    )
    return b.join(m, b.c_nationkey == m.m_nationkey, "full_outer").select(
        F.coalesce("c_nationkey", "m_nationkey").alias("nationkey"),
        F.coalesce("n_building", F.lit(0)).alias("n_building"),
        F.coalesce("n_machinery", F.lit(0)).alias("n_machinery"),
    )


@register(
    "window_rank_variants",
    """
    SELECT o_custkey, o_orderkey,
           CAST(rank() OVER w AS BIGINT) AS rnk,
           CAST(dense_rank() OVER w AS BIGINT) AS drnk,
           CAST(ntile(4) OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS quartile,
           first_value(o_orderkey) OVER w AS top_order
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderpriority, o_orderkey)
    """,
    "rank / dense_rank / ntile / first_value window battery",
)
def q_window_ranks(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderpriority", "o_orderkey")
    wq = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.ntile(4).over(wq).cast("long").alias("quartile"),
        F.first("o_orderkey").over(w).alias("top_order"),
    )


@register(
    "scalar_map_funcs",
    """
    WITH m AS (
      SELECT c_nationkey,
             map_from_entries(list_sort(list(ROW(c_mktsegment, cnt)))) AS seg_map
      FROM (SELECT c_nationkey, c_mktsegment, count(*) AS cnt
            FROM customer GROUP BY c_nationkey, c_mktsegment)
      GROUP BY c_nationkey
    )
    SELECT c_nationkey,
           array_to_string(map_keys(seg_map), ',') AS segs,
           CAST(list_sum(map_values(seg_map)) AS BIGINT) AS total,
           CAST(len(map_keys(seg_map)) AS BIGINT) AS n_segs,
           COALESCE(CAST(map_extract(seg_map, 'BUILDING')[1] AS BIGINT), 0) AS n_building
    FROM m
    """,
    "Map function battery: map_from_entries/keys/values/element_at over "
    "a grouped segment->count map",
)
def q_scalar_map(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    per_seg = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    m = per_seg.groupBy("c_nationkey").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("c_mktsegment", "cnt")))
        ).alias("seg_map")
    )
    return m.select(
        "c_nationkey",
        F.array_join(F.map_keys("seg_map"), ",").alias("segs"),
        F.aggregate(
            F.map_values("seg_map"), F.lit(0).cast("long"), lambda a, v: a + v
        ).alias("total"),
        F.size(F.map_keys("seg_map")).cast("long").alias("n_segs"),
        F.coalesce(F.element_at(F.col("seg_map"), F.lit("BUILDING")), F.lit(0))
        .cast("long")
        .alias("n_building"),
    )


@register(
    "csv_source_nation_agg",
    """
    SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey,
           count(*) AS n_nations, min(n_name) AS first_name
    FROM nation GROUP BY n_regionkey
    """,
    "CSV reader in the oracle loop: write a canonical CSV copy, read it "
    "back with an explicit schema, aggregate — values must match parquet",
)
def q_csv_source(spark, sf_dir):
    nation = _t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    path = _export_once(
        "csv",
        sf_dir,
        lambda p: nation.coalesce(1)
        .write.mode("overwrite")
        .option("header", True)
        .csv(p),
    )
    back = engine_io.read_csv(
        spark, path, schema="n_nationkey bigint, n_name string, n_regionkey bigint"
    )
    return back.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).alias("n_nations"), F.min("n_name").alias("first_name")
    )


@register(
    "json_source_region_agg",
    """
    SELECT count(*) AS n_regions, min(r_name) AS first_region FROM region
    """,
    "JSON reader in the oracle loop: write JSON lines, read back with an "
    "explicit schema, aggregate",
)
def q_json_source(spark, sf_dir):
    region = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    path = _export_once(
        "json",
        sf_dir,
        lambda p: region.coalesce(1).write.mode("overwrite").json(p),
    )
    back = engine_io.read_json(spark, path, schema="r_regionkey bigint, r_name string")
    return back.agg(
        F.count(F.lit(1)).alias("n_regions"), F.min("r_name").alias("first_region")
    )


@register(
    "orc_source_supplier_agg",
    """
    SELECT CAST(s_nationkey AS BIGINT) AS s_nationkey,
           count(*) AS n_suppliers,
           CAST(SUM(CAST(s_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_bal
    FROM supplier GROUP BY s_nationkey
    """,
    "ORC reader in the oracle loop (the third Spark-native columnar/row "
    "format after parquet/CSV/JSON): write a canonical ORC copy, read it "
    "back, aggregate — values must match the parquet-derived oracle. "
    "ORC carries its own schema, so no explicit schema is supplied; the "
    "decimal-sum cast keeps the double total order-independent.",
)
def q_orc_source(spark, sf_dir):
    supplier = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey", "s_acctbal"
    )
    path = _export_once(
        "orc",
        sf_dir,
        lambda p: supplier.coalesce(1).write.mode("overwrite").orc(p),
    )
    back = spark.read.orc(path)
    return back.groupBy(F.col("s_nationkey").cast("long").alias("s_nationkey")).agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum(F.col("s_acctbal").cast("decimal(18,4)"))
        .cast("double")
        .alias("total_bal"),
    )


@register(
    "having_big_customers",
    """
    SELECT o_custkey, count(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
    FROM orders
    GROUP BY o_custkey
    HAVING count(*) >= 15
    """,
    "Group filter (HAVING) on aggregate results",
)
def q_having(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("total"),
        )
        .filter(F.col("n_orders") >= 15)
    )


@register(
    "fuzzy_customer_name_pairs",
    """
    SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
    FROM customer a JOIN customer b
      ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 2
    """,
    "Fuzzy string matching: same-nation pairs within Levenshtein <= 2. "
    "Candidates come from symmetric-delete (SymSpell) variant blocking — "
    "recall-lossless and linear in corpus size, so the oracle can state "
    "the plain quadratic definition while the engine never runs one "
    "(a fixed-cardinality block key like nation alone would be O(n^2)). "
    "prefix_block_len=9 exploits the constant 'Customer#' prefix: "
    "variants are generated over the 9-digit suffix only (46 keys/row "
    "vs 172) — lossless because a shared prefix strips off "
    "Levenshtein-exactly, and the oracle's full quadratic definition "
    "hash-checks that claim every round",
)
def q_fuzzy_names(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    out = dedup.edit_distance_pairs(
        cust,
        id_col="c_custkey",
        str_col="c_name",
        block_cols=("c_nationkey",),
        max_dist=2,
        prefix_block_len=9,
    )
    return out.select(
        F.col("id_a").alias("key_a"),
        F.col("id_b").alias("key_b"),
        F.col("dist").cast("long").alias("dist"),
    )


@register(
    "fuzzy_name_pairs_collapsed",
    """
    WITH cc AS (
      SELECT c_custkey * 2 AS id, c_name, c_nationkey FROM customer
      UNION ALL
      SELECT c_custkey * 2 + 1 AS id, c_name, c_nationkey FROM customer
    )
    SELECT a.id AS key_a, b.id AS key_b,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
    FROM cc a JOIN cc b
      ON a.c_nationkey = b.c_nationkey AND a.id < b.id
    WHERE levenshtein(a.c_name, b.c_name) <= 2
    """,
    "The dist-0-collapsed fuzzy matcher on a duplicate-heavy corpus "
    "(every name appears twice under distinct ids — built by self-union "
    "so the oracle can state the same construction): identical strings "
    "group to ONE representative before the symmetric-delete fan-out, "
    "dist-0 pairs are emitted from the group id arrays without "
    "verification, and each verified distinct-string pair expands to its "
    "id-pair product. Variant generation and the bucket shuffle scale "
    "with distinct strings, not rows — the duplicated corpus costs the "
    "same candidate work as the original. Oracle: the plain quadratic "
    "definition on the duplicated relation.",
)
def q_fuzzy_collapsed(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    dup = cust.select(
        (F.col("c_custkey") * 2).alias("id"), "c_name", "c_nationkey"
    ).unionByName(
        cust.select(
            (F.col("c_custkey") * 2 + 1).alias("id"), "c_name", "c_nationkey"
        )
    )
    out = dedup.edit_distance_pairs_collapsed(
        dup,
        id_col="id",
        str_col="c_name",
        block_cols=("c_nationkey",),
        max_dist=2,
        prefix_block_len=9,
    )
    return out.select(
        F.col("id_a").alias("key_a"),
        F.col("id_b").alias("key_b"),
        F.col("dist").cast("long").alias("dist"),
    )


@register(
    "agg_rollup_lineitem",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
           count(*) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    "ROLLUP hierarchy aggregation",
)
def q_rollup(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity").alias("sum_qty"), F.count(F.lit(1)).alias("n")
    )


@register(
    "agg_cube_orders",
    """
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    "CUBE aggregation over two dimensions",
)
def q_cube(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"), dsum("o_totalprice").alias("sum_price")
    )


@register(
    "agg_stats_returnflag",
    """
    SELECT l_returnflag,
           count(*) AS n,
           count(DISTINCT l_partkey) AS n_parts,
           min(l_quantity) AS min_qty,
           max(l_quantity) AS max_qty,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
             / CAST(count(l_quantity) AS DOUBLE) AS avg_qty,
           epoch_us(min(l_shipdate)) AS first_ship_us,
           epoch_us(max(l_shipdate)) AS last_ship_us
    FROM lineitem GROUP BY l_returnflag
    """,
    "Aggregate function battery: count/count-distinct/min/max/avg",
)
def q_agg_stats(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        davg("l_quantity").alias("avg_qty"),
        F.unix_micros(F.min("l_shipdate").cast("timestamp")).alias("first_ship_us"),
        F.unix_micros(F.max("l_shipdate").cast("timestamp")).alias("last_ship_us"),
    )


@register(
    "window_running_orders",
    """
    SELECT o_custkey, o_orderkey, epoch_us(o_orderdate) AS orderdate_us,
           CAST(row_number() OVER w AS BIGINT) AS rn,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS running_spent
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    "Running window aggregates with explicit ROWS frame",
)
def q_window_running(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    out = relational.running(
        orders,
        ["o_custkey"],
        [F.col("o_orderdate"), F.col("o_orderkey")],
        {
            "running_spent": F.sum(F.col("o_totalprice").cast("decimal(18,4)")),
        },
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return out.select(
        "o_custkey",
        "o_orderkey",
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("orderdate_us"),
        F.row_number().over(w).cast("long").alias("rn"),
        F.col("running_spent").cast("double").alias("running_spent"),
    )


@register(
    "window_lag_lead_events",
    """
    SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type,
           lag(event_type) OVER w AS prev_type,
           lead(event_type) OVER w AS next_type,
           epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap_us
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    "lag/lead navigation windows over an event stream",
)
def q_window_lag_lead(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
        F.lead("event_type").over(w).alias("next_type"),
        (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)).alias("gap_us"),
    )


@register(
    "topk_orders_per_customer",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, CAST(rk AS BIGINT) AS rk FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (
               PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
             ) AS rk
      FROM orders
    ) WHERE rk <= 3
    """,
    "Per-group top-k via rank window (no per-group sort+limit)",
)
def q_topk_per_group(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    out = relational.top_k_per_group(
        orders.select("o_custkey", "o_orderkey", "o_totalprice"),
        ["o_custkey"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        3,
    )
    return out.withColumn("rk", F.col("rk").cast("long"))


@register(
    "salted_join_revenue",
    """
    SELECT o_orderpriority,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
             AS revenue,
           count(*) AS n_items
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
    "Skew-robust salted equi-join (deterministic xxhash64 salts spread "
    "hot keys over 8 reducers; right side replicated per salt) — the "
    "oracle is the PLAIN join, proving the salted layout changes only "
    "the shuffle, never the result",
)
def q_salted_join(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    joined = relational.salted_join(
        li.select("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"),
        orders,
        "l_orderkey",
        "o_orderkey",
        salt_cols=("l_orderkey", "l_linenumber"),
        n_salts=8,
    )
    return joined.groupBy("o_orderpriority").agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "keep_latest_events",
    """
    SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us, value FROM (
      SELECT user_id, event_type, event_id, ts, value,
             row_number() OVER (
               PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC
             ) AS rk
      FROM events
    ) WHERE rk = 1
    """,
    "CDC-style latest-version-wins compaction: newest event per "
    "(user, type) via rank window (no global sort)",
)
def q_keep_latest(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = relational.keep_latest(
        ev.select("user_id", "event_type", "event_id", "ts", "value"),
        ["user_id", "event_type"],
        "ts",
        "event_id",
    )
    return out.select(
        "user_id",
        "event_type",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "value",
    )


@register(
    "unpivot_lineitem_measures",
    """
    SELECT l_returnflag, 'sum_qty' AS metric,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS val
    FROM lineitem GROUP BY l_returnflag
    UNION ALL
    SELECT l_returnflag, 'sum_base_price' AS metric,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS val
    FROM lineitem GROUP BY l_returnflag
    UNION ALL
    SELECT l_returnflag, 'sum_disc' AS metric,
           CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS val
    FROM lineitem GROUP BY l_returnflag
    """,
    "UNPIVOT (wide measures -> long rows) over an exact-decimal "
    "aggregate — the melt half of the pivot/unpivot pair",
)
def q_unpivot(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        dsum(F.col("l_quantity"), 4).alias("sum_qty"),
        dsum(F.col("l_extendedprice"), 4).alias("sum_base_price"),
        dsum(F.col("l_discount"), 4).alias("sum_disc"),
    )
    return wide.unpivot(
        ["l_returnflag"],
        ["sum_qty", "sum_base_price", "sum_disc"],
        "metric",
        "val",
    )


@register(
    "corpus_bigrams",
    """
    WITH toks AS (
      SELECT string_split_regex(
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), '\\s+') AS tk
      FROM documents
    )
    SELECT bigram, count(*) AS n FROM (
      SELECT unnest(list_transform(range(1, len(tk)),
                                   i -> tk[i] || ' ' || tk[i + 1])) AS bigram
      FROM toks WHERE len(tk) >= 2
    ) GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT 50
    """,
    "Corpus-level top-50 bigram counts (multiplicity kept, total-ordered "
    "limit) — corpus statistics for contamination/boilerplate screens",
)
def q_corpus_bigrams(spark, sf_dir):
    out = text.corpus_ngrams(_t(spark, sf_dir, "documents"), n=2, k=50)
    return out.withColumnRenamed("ngram", "bigram")


def _mh_oracle_parts(num_hashes: int, bands: int) -> tuple[str, str, str]:
    """DuckDB fragments for the md5-family MinHash: per-seed signature
    mins, band keys (num_hashes/bands sigs concatenated per band), and
    the quadratic band-match clause — parameterized so every md5-family
    operating point (verified 16/8, candidates 32/8, prefiltered 32/16)
    shares one generator."""
    rows = num_hashes // bands
    sigs = ",\n           ".join(
        f"list_min(list_transform(grams, x -> md5('{i}:' || x)))"
        for i in range(num_hashes)
    )
    band_keys = ",\n           ".join(
        "md5(" + " || ".join(f"s[{b * rows + r + 1}]" for r in range(rows)) + ")"
        for b in range(bands)
    )
    band_match = " OR ".join(
        f"a.bands[{b + 1}] = b.bands[{b + 1}]" for b in range(bands)
    )
    return sigs, band_keys, band_match


_MH_SIGS, _MH_BANDS, _MH_BAND_MATCH = _mh_oracle_parts(16, 8)
_MH_JACCARD = (
    "round(len(list_intersect(a.grams, b.grams)) * 1.0"
    " / len(list_distinct(a.grams || b.grams)), 4)"
)


def _uh_oracle_cte(num_hashes: int, bands: int) -> str:
    """Tokenize -> 3-gram -> universal-hash signature -> band CTE prefix
    of the FAST oracle-replicable MinHash family (md5 once per shingle,
    then exact-int64 ``(a_i * (h % P) + b_i) % P`` seed mins over the
    Mersenne prime P = 2^31 - 1; band key = md5 of ':'-joined mins) —
    mirrors dedup._universal_shingles_and_bands verbatim."""
    from .operators.dedup import _UH_P, _uh_consts

    rows = num_hashes // bands
    sigs = ",\n           ".join(
        "list_min(list_transform(hs, h -> (h * {a} + {b}) % {p}))".format(
            a=_uh_consts(i)[0], b=_uh_consts(i)[1], p=_UH_P
        )
        for i in range(num_hashes)
    )
    band_keys = ",\n           ".join(
        f"md5('{b}' || ':' || "
        + " || ':' || ".join(f"s[{b * rows + r + 1}]::VARCHAR" for r in range(rows))
        + ")"
        for b in range(bands)
    )
    return f"""
    WITH tk AS (
      SELECT doc_id,
             list_filter(string_split(
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
               x -> x != '') AS tk
      FROM documents
    ), g AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(tk) - 1),
               i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) AS grams
      FROM tk WHERE len(tk) >= 3
    ), hv AS (
      SELECT doc_id, grams,
             list_transform(grams,
               g -> ('0x' || substr(md5(g), 1, 15))::BIGINT % {_UH_P}) AS hs
      FROM g
    ), sig AS (
      SELECT doc_id, grams,
           [{sigs}] AS s
      FROM hv
    ), bke AS (
      SELECT doc_id, unnest([{band_keys}]) AS bk
      FROM sig
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bke a JOIN bke b ON a.bk = b.bk AND a.doc_id < b.doc_id
    )"""


def _mh_oracle_cte(num_hashes: int, bands: int) -> str:
    """Shared tokenize -> 3-gram -> signature -> band CTE prefix of the
    md5-family MinHash oracles."""
    sigs, band_keys, _ = _mh_oracle_parts(num_hashes, bands)
    return f"""
    WITH tk AS (
      SELECT doc_id,
             list_filter(string_split(
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
               x -> x != '') AS tk
      FROM documents
    ), g AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(tk) - 1),
               i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) AS grams
      FROM tk WHERE len(tk) >= 3
    ), sig AS (
      SELECT doc_id, grams,
           [{sigs}] AS s
      FROM g
    ), band AS (
      SELECT doc_id, grams,
           [{band_keys}] AS bands
      FROM sig
    )"""


@register(
    "minhash_near_dup_verified",
    f"""
    WITH tk AS (
      SELECT doc_id,
             list_filter(string_split(
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
               x -> x != '') AS tk
      FROM documents
    ), g AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(tk) - 1),
               i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) AS grams
      FROM tk WHERE len(tk) >= 3
    ), sig AS (
      SELECT doc_id, grams,
           [{_MH_SIGS}] AS s
      FROM g
    ), band AS (
      SELECT doc_id, grams,
           [{_MH_BANDS}] AS bands
      FROM sig
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           {_MH_JACCARD} AS jaccard
    FROM band a JOIN band b ON a.doc_id < b.doc_id
     AND ({_MH_BAND_MATCH})
    WHERE {_MH_JACCARD} >= 0.3
    """,
    "MinHash near-dup with an oracle-replicable md5 hash family: the "
    "DuckDB twin regenerates the exact 16 signatures, 8 band keys, "
    "candidate set, and Jaccard verdicts (its band-match OR clause is "
    "the quadratic statement of the same semantic), so the driver hash "
    "pins the whole MinHash pipeline cross-engine; the xxhash64 variant "
    "stays the fast path",
)
def q_minhash_verified(spark, sf_dir):
    return dedup.minhash_near_dup_verified(_t(spark, sf_dir, "documents"))


@register(
    "minhash_incremental_verified",
    f"""
    WITH tk AS (
      SELECT doc_id,
             list_filter(string_split(
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
               x -> x != '') AS tk
      FROM documents
    ), g AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(tk) - 1),
               i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) AS grams
      FROM tk WHERE len(tk) >= 3
    ), sig AS (
      SELECT doc_id, grams,
           [{_MH_SIGS}] AS s
      FROM g
    ), band AS (
      SELECT doc_id, grams,
           [{_MH_BANDS}] AS bands
      FROM sig
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           {_MH_JACCARD} AS jaccard
    FROM band a JOIN band b ON a.doc_id < b.doc_id
     AND ({_MH_BAND_MATCH})
    WHERE {_MH_JACCARD} >= 0.3
      AND NOT (a.doc_id % 5 = 0 AND b.doc_id % 5 = 0)
    """,
    "Incremental near-dup over the persisted LSH index (the md5 family, "
    "so the driver hash pins the whole pipeline): the doc_id % 5 == 0 "
    "slice bootstraps (band_index, shingle_store); the batch is banded "
    "alone and probes the stored index — band keys are per-document, so "
    "this finds EXACTLY the full-rerun pairs touching the batch "
    "(oracle: the full quadratic statement minus corpus-internal "
    "pairs); per-delivery work ∝ batch bands + candidates, never "
    "corpus-sized.",
)
def q_minhash_incremental(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 == 0)
    batch = docs.filter(F.col("doc_id") % 5 != 0)
    idx, store = dedup.minhash_index_verified(corpus)
    return dedup.minhash_incremental_verified(batch, idx, store)


@register(
    "repetition_screen",
    """
    WITH tk AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                  ELSE regexp_split_to_array(trim(text), '\\s+') END AS tk
      FROM documents
    ), tok AS (
      SELECT doc_id, unnest(tk) AS t FROM tk
    ), tcnt AS (
      SELECT doc_id, t, count(*) AS c FROM tok GROUP BY 1, 2
    ), tstat AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens, MAX(c) AS topc
      FROM tcnt GROUP BY 1
    ), bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(tk)),
                                   i -> tk[i] || chr(31) || tk[i + 1])) AS b
      FROM tk WHERE len(tk) >= 2
    ), bcnt AS (
      SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2
    ), bstat AS (
      SELECT doc_id, SUM(c) AS nb, count(*) AS db FROM bcnt GROUP BY 1
    )
    SELECT t.doc_id, t.n_tokens,
           round(topc / t.n_tokens, 4) AS top_token_frac,
           round(coalesce(1.0 - db / nb, 0.0), 4) AS dup_bigram_frac,
           (round(topc / t.n_tokens, 4) > 0.2
            OR round(coalesce(1.0 - db / nb, 0.0), 4) > 0.3) AS is_repetitive
    FROM tstat t LEFT JOIN bstat b ON t.doc_id = b.doc_id
    """,
    "Gopher-style repetition screen (top-token mass + duplicate-bigram "
    "fraction, Rae et al. 2021): explode + two hash aggs, linear in "
    "token volume — the degenerate-text filter of a training pipeline",
)
def q_repetition_screen(spark, sf_dir):
    return text.repetition_stats(_t(spark, sf_dir, "documents"))


@register(
    "pseudonymize_customers",
    """
    SELECT c_custkey,
           regexp_replace(c_name, '\\d+', '<ID>', 'g') AS redacted,
           sha256('pepper' || c_name) AS pseudonym,
           CAST(len(regexp_extract_all(c_name, '\\d+')) AS INT) AS n_masked_runs
    FROM customer
    """,
    "Identifier anonymization: digit runs masked, stable KEYED "
    "sha256(salt||value) surrogate (unkeyed md5 over low-entropy IDs is "
    "dictionary-reversible) kept so rows still join/dedup across datasets",
)
def q_pseudonymize(spark, sf_dir):
    return text.pseudonymize(
        _t(spark, sf_dir, "customer"), "c_custkey", "c_name"
    )


@register(
    "hash_sample_orders",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE ('0x' || substr(md5(o_orderkey::VARCHAR), 1, 8))::BIGINT % 1000 < 100
    """,
    "Deterministic uniform ~10% sample via md5-bucket of the key: no "
    "rand() (rerun-stable), no coordination, consistent across tables "
    "sharing the key — the oracle draws the IDENTICAL rows, which no "
    "rand()-based sampler can promise",
)
def q_hash_sample(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    return relational.hash_sample(orders, ["o_orderkey"], 100)


@register(
    "stratified_sample_orders",
    """
    SELECT o_orderpriority, o_orderkey, o_totalprice FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (
               PARTITION BY o_orderpriority
               ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey
             ) AS rk
      FROM orders
    ) WHERE rk <= 20
    """,
    "Deterministic stratified sampling: first 20 rows per priority in "
    "md5(key) order — a reproducible, engine-independent pseudo-random "
    "sample (DuckDB draws the IDENTICAL rows, which is the point; "
    "rand()-based TABLESAMPLE can never be oracle-checked)",
)
def q_stratified_sample(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    return relational.deterministic_stratified_sample(
        orders.select("o_orderpriority", "o_orderkey", "o_totalprice"),
        ["o_orderpriority"],
        "o_orderkey",
        20,
    )


@register(
    "set_ops_segments",
    """
    SELECT 'nations_building_and_auto' AS op, count(*) AS n FROM (
      SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
      INTERSECT
      SELECT c_nationkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE')
    UNION ALL
    SELECT 'nations_building_not_auto' AS op, count(*) AS n FROM (
      SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
      EXCEPT
      SELECT c_nationkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE')
    UNION ALL
    SELECT 'rich_or_bigspender' AS op, count(*) AS n FROM (
      SELECT c_custkey FROM customer WHERE c_acctbal > 5000
      UNION
      SELECT o_custkey FROM orders WHERE o_totalprice > 50000)
    """,
    "Set operations: INTERSECT / EXCEPT / UNION (distinct semantics)",
)
def q_set_ops(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    building = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_nationkey")
    auto = cust.filter(F.col("c_mktsegment") == "AUTOMOBILE").select("c_nationkey")
    rich = cust.filter(F.col("c_acctbal") > 5000).select(
        F.col("c_custkey").alias("k")
    )
    big = orders.filter(F.col("o_totalprice") > 50000).select(
        F.col("o_custkey").alias("k")
    )

    def one(op, df):
        return df.agg(F.count(F.lit(1)).alias("n")).select(
            F.lit(op).alias("op"), "n"
        )

    return (
        one("nations_building_and_auto", building.intersect(auto))
        .unionAll(one("nations_building_not_auto", building.subtract(auto)))
        .unionAll(one("rich_or_bigspender", rich.union(big).distinct()))
    )


@register(
    "scalar_string_math_funcs",
    """
    SELECT p_partkey,
           upper(p_name) AS name_upper,
           substr(p_type, 1, 3) AS type_prefix,
           CAST(length(p_name) AS BIGINT) AS name_len,
           concat_ws('|', p_brand, p_type) AS brand_type,
           replace(p_name, ' ', '_') AS name_snake,
           round(p_retailprice, 1) AS price_round,
           abs(p_size - 25) AS size_dev,
           p_size % 7 AS size_mod,
           CAST(sqrt(CAST(p_size AS DOUBLE)) AS DOUBLE) AS size_sqrt
    FROM part
    """,
    "Scalar string/math function battery (all JVM-side built-ins)",
)
def q_scalar_string_math(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.substring("p_type", 1, 3).alias("type_prefix"),
        F.length("p_name").cast("long").alias("name_len"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
        F.round("p_retailprice", 1).alias("price_round"),
        F.abs(F.col("p_size") - 25).alias("size_dev"),
        (F.col("p_size") % 7).alias("size_mod"),
        F.sqrt(F.col("p_size").cast("double")).alias("size_sqrt"),
    )


@register(
    "collation_case_insensitive",
    """
    WITH mixed AS (
      SELECT CASE WHEN c_custkey % 2 = 0 THEN upper(c_mktsegment)
                  ELSE lower(c_mktsegment) END AS seg
      FROM customer
    )
    SELECT count(*) AS n_rows,
           count(DISTINCT seg) AS n_binary_distinct,
           count(DISTINCT lower(seg)) AS n_lcase_distinct,
           CAST(SUM(CASE WHEN lower(seg) = 'building' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_building_ci
    FROM mixed
    """,
    "Spark 4 string collations: COUNT(DISTINCT x COLLATE UTF8_LCASE) and "
    "a collated equality filter over a deliberately case-mixed column — "
    "binary-distinct sees both case forms, the collated distinct "
    "collapses them; the oracle states the same semantics via lower() "
    "(equivalent for this ASCII fixture). Outputs are counts, never "
    "collated group representatives (engines may pick different "
    "representatives).",
)
def q_collation_ci(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    mixed = F.when(
        F.col("c_custkey") % 2 == 0, F.upper(F.col("c_mktsegment"))
    ).otherwise(F.lower(F.col("c_mktsegment")))
    m = cust.select(mixed.alias("seg"))
    ci = F.collate(F.col("seg"), "UTF8_LCASE")
    return m.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct(F.col("seg")).alias("n_binary_distinct"),
        F.count_distinct(ci).alias("n_lcase_distinct"),
        F.sum(F.when(ci == F.lit("building"), 1).otherwise(0))
        .cast("long")
        .alias("n_building_ci"),
    )


@register(
    "scalar_try_funcs",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(l_extendedprice / NULLIF(l_quantity - l_quantity, 0) AS DOUBLE)
             AS div_by_zero_null,
           TRY_CAST(l_returnflag AS BIGINT) AS flag_as_int,
           TRY_CAST(CAST(CAST(l_quantity AS BIGINT) AS VARCHAR) AS BIGINT)
             AS qty_as_int,
           CASE WHEN CAST(l_linenumber AS BIGINT)
                     <= CAST(len(string_split(
                          CAST(l_shipdate AS VARCHAR), '-')) AS BIGINT)
                THEN string_split(CAST(l_shipdate AS VARCHAR), '-')[l_linenumber]
                ELSE NULL END AS nth_date_part
    FROM lineitem
    """,
    "Error-safe (try_*) scalar battery — the ANSI-mode escape hatches a "
    "migrating SQL workload leans on: try_divide (NULL instead of "
    "DIVIDE_BY_ZERO), try_cast for non-numeric and numeric strings, "
    "try_element_at past the array end; the oracle states the same "
    "semantics with NULLIF/TRY_CAST/bounds-checked indexing.",
)
def q_scalar_try(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    words = F.split(F.col("l_shipdate").cast("string"), "-")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.try_divide(
            F.col("l_extendedprice"), F.col("l_quantity") - F.col("l_quantity")
        )
        .cast("double")
        .alias("div_by_zero_null"),
        F.try_to_number(F.col("l_returnflag"), F.lit("999"))
        .cast("bigint")
        .alias("flag_as_int"),
        F.col("l_quantity")
        .cast("bigint")
        .cast("string")
        .try_cast("bigint")
        .alias("qty_as_int"),
        F.try_element_at(words, F.col("l_linenumber").cast("int")).alias(
            "nth_date_part"
        ),
    )


@register(
    "scalar_conditional_funcs",
    """
    SELECT l_orderkey, l_linenumber,
           COALESCE(NULLIF(l_returnflag, 'N'), 'none') AS flag_or_none,
           CASE WHEN l_quantity < 10 THEN 'small'
                WHEN l_quantity < 40 THEN 'medium'
                ELSE 'large' END AS qty_band,
           CAST(l_extendedprice / NULLIF(l_quantity, 0) AS DOUBLE) AS unit_price,
           IF(l_discount > 0.05, 'discounted', 'full') AS price_class,
           GREATEST(l_tax, l_discount) AS max_rate,
           LEAST(l_tax, l_discount) AS min_rate
    FROM lineitem
    """,
    "Conditional/null-handling battery: coalesce/nullif/case/if/greatest",
)
def q_scalar_conditional(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.coalesce(
            F.nullif(F.col("l_returnflag"), F.lit("N")), F.lit("none")
        ).alias("flag_or_none"),
        F.when(F.col("l_quantity") < 10, "small")
        .when(F.col("l_quantity") < 40, "medium")
        .otherwise("large")
        .alias("qty_band"),
        (F.col("l_extendedprice") / F.nullif(F.col("l_quantity"), F.lit(0)))
        .cast("double")
        .alias("unit_price"),
        F.when(F.col("l_discount") > 0.05, "discounted")
        .otherwise("full")
        .alias("price_class"),
        F.greatest("l_tax", "l_discount").alias("max_rate"),
        F.least("l_tax", "l_discount").alias("min_rate"),
    )


@register(
    "scalar_regexp_funcs",
    """
    SELECT p_partkey,
           regexp_extract(p_name, '^([a-z]+) ', 1) AS first_word,
           regexp_matches(p_type, 'BRUSHED') AS is_brushed,
           CAST(len(regexp_extract_all(p_name, '[aeiou]+')) AS BIGINT) AS vowel_runs,
           regexp_replace(p_type, '[AEIOU]', '_', 'g') AS type_devoweled
    FROM part
    """,
    "Regexp battery: extract group / match test / extract-all / replace",
)
def q_scalar_regexp(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_name", r"^([a-z]+) ", 1).alias("first_word"),
        F.col("p_type").rlike("BRUSHED").alias("is_brushed"),
        F.size(F.regexp_extract_all("p_name", F.lit(r"[aeiou]+"), 0))
        .cast("long")
        .alias("vowel_runs"),
        F.regexp_replace("p_type", r"[AEIOU]", "_").alias("type_devoweled"),
    )


@register(
    "scalar_date_funcs",
    """
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS BIGINT) AS y,
           CAST(month(o_orderdate) AS BIGINT) AS m,
           CAST(day(o_orderdate) AS BIGINT) AS d,
           CAST(quarter(o_orderdate) AS BIGINT) AS q,
           epoch_us(date_trunc('month', o_orderdate)) AS month_start_us,
           CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since
    FROM orders
    """,
    "Date/time scalar functions",
)
def q_scalar_date(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("y"),
        F.month("o_orderdate").cast("long").alias("m"),
        F.dayofmonth("o_orderdate").cast("long").alias("d"),
        F.quarter("o_orderdate").cast("long").alias("q"),
        F.unix_micros(F.date_trunc("month", "o_orderdate").cast("timestamp")).alias("month_start_us"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")
        ).cast("long").alias("days_since"),
    )


@register(
    "json_extract_events",
    """
    SELECT event_id, event_type,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 = 0
    """,
    "JSON field extraction from a string column",
)
def q_json_extract(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.select("event_id", "event_type", k.alias("k")).filter(
        (F.col("k") % 10) == 0
    )


@register(
    "q6_forecast_revenue",
    """
    SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    "TPC-H Q6 shape via the spark.sql SQL surface (filter-heavy scan)",
)
def q_q6(spark, sf_dir):
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    # same text the oracle runs: exercises the SQL-entry surface
    return spark.sql(
        """
        SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
        """
    )


@register(
    "agg_grouping_sets",
    """
    SELECT l_returnflag, l_linestatus, count(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
    """,
    "Explicit GROUPING SETS (beyond cube/rollup) via the SQL surface",
)
def q_grouping_sets(spark, sf_dir):
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, count(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
        """
    )


@register(
    "pivot_order_status_by_year",
    """
    SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS F,
           count(*) FILTER (WHERE o_orderstatus = 'O') AS O,
           count(*) FILTER (WHERE o_orderstatus = 'P') AS P
    FROM orders GROUP BY year(o_orderdate)
    """,
    "Pivot (wide conditional aggregation) of order counts by status",
)
def q_pivot(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.withColumn("y", F.year("o_orderdate").cast("long"))
        .groupBy("y")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        # pivot leaves missing combinations null; oracle FILTER counts give 0
        .select(
            "y",
            F.coalesce("F", F.lit(0)).alias("F"),
            F.coalesce("O", F.lit(0)).alias("O"),
            F.coalesce("P", F.lit(0)).alias("P"),
        )
    )


@register(
    "agg_collect_sorted_orders",
    """
    SELECT o_custkey,
           string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey) AS order_keys,
           count(*) AS n_orders
    FROM orders GROUP BY o_custkey
    """,
    "Per-group sorted array aggregation (collect_list + array_sort), "
    "string-joined so the value hash is representation-independent",
)
def q_collect_sorted(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_custkey").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list("o_orderkey")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("order_keys"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "agg_stats_exact_formula",
    """
    WITH s AS (
      SELECT l_returnflag,
             count(l_quantity) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sxx
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           sx / CAST(n AS DOUBLE) AS mean_qty,
           sqrt((sxx - sx * sx / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE)) AS stddev_qty
    FROM s
    """,
    "Mean/stddev from exact decimal moment sums (engine-independent floats)",
)
def q_stats_exact(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity")
    base = li.groupBy("l_returnflag").agg(
        F.count("l_quantity").alias("n"),
        dsum(qty).alias("sx"),
        dsum(qty * qty).alias("sxx"),
    )
    n_d = F.col("n").cast("double")
    return base.select(
        "l_returnflag",
        "n",
        (F.col("sx") / n_d).alias("mean_qty"),
        F.sqrt(
            (F.col("sxx") - F.col("sx") * F.col("sx") / n_d)
            / (F.col("n") - 1).cast("double")
        ).alias("stddev_qty"),
    )


@register(
    "hll_sketch_partitioned_merge",
    """
    SELECT o_orderpriority,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_customers,
           TRUE AS within_5pct
    FROM orders GROUP BY o_orderpriority
    UNION ALL
    SELECT '__merged__' AS o_orderpriority,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_customers,
           TRUE AS within_5pct
    FROM orders
    """,
    "MERGEABLE distinct-count sketches (Apache DataSketches HLL): one "
    "sketch per group, then hll_union_agg folds the partials into the "
    "global estimate — the 100 TB pattern where per-partition/per-day "
    "sketches are stored once and any rollup is a cheap sketch union, "
    "never a re-scan. The sketch registers have no DuckDB twin, so the "
    "oracle contract is a PROPERTY BOUND carried in the hash: each row "
    "outputs the exact NDV (SQL-computable) plus within_5pct = "
    "|estimate - exact| <= 5% of exact, which the oracle states as a "
    "TRUE literal — a drifting sketch flips the boolean and fails the "
    "driver hash. Raw estimates + union-vs-direct equality stay pinned "
    "in tests/test_approx.py",
)
def q_hll_partitioned_merge(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    sk = orders.groupBy("o_orderpriority").agg(
        F.hll_sketch_agg("o_custkey").alias("sk"),
        F.countDistinct("o_custkey").alias("exact_customers"),
    )
    per = sk.select(
        "o_orderpriority",
        F.col("exact_customers").cast("long").alias("exact_customers"),
        (
            F.abs(
                F.hll_sketch_estimate("sk").cast("double")
                - F.col("exact_customers").cast("double")
            )
            <= 0.05 * F.col("exact_customers").cast("double")
        ).alias("within_5pct"),
    )
    direct = orders.agg(
        F.countDistinct("o_custkey").alias("exact_customers")
    )
    merged = (
        sk.agg(F.hll_union_agg("sk").alias("u"))
        .crossJoin(F.broadcast(direct))
        .select(
            F.lit("__merged__").alias("o_orderpriority"),
            F.col("exact_customers").cast("long").alias("exact_customers"),
            (
                F.abs(
                    F.hll_sketch_estimate("u").cast("double")
                    - F.col("exact_customers").cast("double")
                )
                <= 0.05 * F.col("exact_customers").cast("double")
            ).alias("within_5pct"),
        )
    )
    return per.unionByName(merged)


@register(
    "agg_approx_count_distinct",
    """
    SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           TRUE AS parts_within_5pct,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           TRUE AS orders_within_5pct
    FROM lineitem
    """,
    "approx_count_distinct (HyperLogLog++) vs exact cardinalities. "
    "Spark's HLL++ register layout has no SQL twin, so the oracle "
    "contract is a PROPERTY BOUND carried in the hash: the query "
    "outputs the exact NDVs plus per-column within-5%% booleans that "
    "the oracle states as TRUE literals — estimator drift flips the "
    "boolean and fails the driver hash. Raw estimates stay asserted "
    "in tests/test_approx.py, and the hash-exact mergeable-sketch "
    "siblings (kmv_incremental_verified, the KMV estimator IS "
    "oracle-exact) pin the sketch family's values directly",
)
def q_approx_distinct(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    # rsd=0.015 (1.5% std error) so the 5% bound is a >3-sigma margin —
    # the DEFAULT rsd is 5%, i.e. the bound would be a coin-flip
    # 1-sigma assertion (measured 6.4% error on l_orderkey at sf0.001)
    raw = li.agg(
        F.approx_count_distinct("l_partkey", 0.015).alias("ap"),
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.approx_count_distinct("l_orderkey", 0.015).alias("ao"),
        F.countDistinct("l_orderkey").alias("exact_orders"),
    )
    def _within(approx: str, exact: str) -> Column:
        return (
            F.abs(F.col(approx).cast("double") - F.col(exact).cast("double"))
            <= 0.05 * F.col(exact).cast("double")
        )
    return raw.select(
        F.col("exact_parts").cast("long").alias("exact_parts"),
        _within("ap", "exact_parts").alias("parts_within_5pct"),
        F.col("exact_orders").cast("long").alias("exact_orders"),
        _within("ao", "exact_orders").alias("orders_within_5pct"),
    )


@register(
    "approx_percentile_gk_bounds",
    """
    WITH r AS (
      SELECT l_returnflag AS rf, l_extendedprice AS v,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY l_extendedprice) AS rk,
             count(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem
    )
    SELECT rf AS l_returnflag, CAST(MAX(n) AS BIGINT) AS n,
           MIN(CASE WHEN rk >= (1 * n + 1) // 2 THEN v END) AS exact_p50,
           MIN(CASE WHEN rk >= (9 * n + 9) // 10 THEN v END) AS exact_p90,
           TRUE AS p50_within_2pct_rank,
           TRUE AS p90_within_2pct_rank
    FROM r GROUP BY rf
    """,
    "MERGEABLE approximate quantiles (Spark's Greenwald-Khanna "
    "percentile_approx, accuracy=100 => 1% rank error) with the rank "
    "bound carried IN the row hash — the quantile analog of the HLL "
    "property-bound pattern: each group outputs the exact discrete "
    "p50/p90 (integer-ceiling-rank picks via the order-statistics "
    "backbone, engine-identical) plus booleans asserting the GK "
    "estimate lands between the exact q±2% rank picks (a 2x margin "
    "over the sketch's guarantee); the oracle states the booleans as "
    "TRUE literals, so estimator drift fails the driver hash. The "
    "exact picks shuffle distinct-value counts (never a per-group "
    "sort funnel); the sketch side is one map-side-mergeable agg — "
    "the pair a 100 TB pipeline stores per shard and folds at read",
)
def q_approx_percentile_bounds(spark, sf_dir):
    from .operators.relational import (
        grouped_discrete_quantiles,
        grouped_value_cum,
    )

    li = _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    # all SIX quantile picks come out of one cum scan as conditional
    # aggregates (identical picked values), so the cum table has a
    # single consumer — no pin, no six-scan join ladder
    cum = grouped_value_cum(li, ["l_returnflag"], "l_extendedprice")
    bounds = grouped_discrete_quantiles(
        cum,
        ["l_returnflag"],
        "l_extendedprice",
        [
            (12, 25, "_p50_lo"),  # q = 0.48
            (1, 2, "exact_p50"),
            (13, 25, "_p50_hi"),  # q = 0.52
            (22, 25, "_p90_lo"),  # q = 0.88
            (9, 10, "exact_p90"),
            (23, 25, "_p90_hi"),  # q = 0.92
        ],
    )
    ap = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.percentile_approx("l_extendedprice", 0.5, 100).alias("_a50"),
        F.percentile_approx("l_extendedprice", 0.9, 100).alias("_a90"),
    )
    return ap.join(F.broadcast(bounds), "l_returnflag").select(
        "l_returnflag",
        "n",
        "exact_p50",
        "exact_p90",
        (
            (F.col("_a50") >= F.col("_p50_lo"))
            & (F.col("_a50") <= F.col("_p50_hi"))
        ).alias("p50_within_2pct_rank"),
        (
            (F.col("_a90") >= F.col("_p90_lo"))
            & (F.col("_a90") <= F.col("_p90_hi"))
        ).alias("p90_within_2pct_rank"),
    )


@register(
    "scalar_array_funcs",
    """
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk FROM documents
    )
    SELECT doc_id,
           CAST(len(tk) AS BIGINT) AS n_tok,
           array_to_string(tk[1:3], '|') AS first3,
           list_contains(tk, 'the') AS has_the,
           list_reverse(tk)[1] AS last_tok,
           CAST(len(list_distinct(tk)) AS BIGINT) AS n_uniq,
           list_sort(list_distinct(tk))[1] AS min_tok
    FROM t
    """,
    "Array function battery: slice/contains/reverse/distinct/sort",
)
def q_scalar_array(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    tk = F.split(F.trim(F.col("text")), r"\s+")
    return docs.select(
        "doc_id",
        F.size(tk).cast("long").alias("n_tok"),
        F.array_join(F.slice(tk, 1, 3), "|").alias("first3"),
        F.array_contains(tk, "the").alias("has_the"),
        F.element_at(F.reverse(tk), 1).alias("last_tok"),
        F.size(F.array_distinct(tk)).cast("long").alias("n_uniq"),
        F.element_at(F.array_sort(F.array_distinct(tk)), 1).alias("min_tok"),
    )


@register(
    "events_sliding_30m",
    """
    WITH b AS (
      SELECT event_type, ts,
             unnest([
               CAST(to_timestamp(floor(epoch(ts) / 1800) * 1800) AS TIMESTAMP),
               CAST(to_timestamp(floor(epoch(ts) / 1800) * 1800 - 1800) AS TIMESTAMP)
             ]) AS bucket
      FROM events
    )
    SELECT epoch_us(bucket) AS bucket_us, event_type, count(*) AS n
    FROM b
    WHERE ts < bucket + INTERVAL 1 HOUR
    GROUP BY bucket, event_type
    """,
    "Sliding 1h/30m window counts (batch twin of streaming.sliding_counts)",
)
def q_events_sliding(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.unix_micros(F.col("w.start")).alias("bucket_us"), "event_type", "n")
    )


@register(
    "interval_join_view_purchase",
    """
    SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id,
           epoch_us(v.ts) AS view_ts_us, epoch_us(p.ts) AS purchase_ts_us
    FROM events v JOIN events p
      ON v.user_id = p.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND v.ts >= p.ts - INTERVAL 30 MINUTE AND v.ts < p.ts
    """,
    "Point-in-interval range join (EVERY view in the 30 minutes before "
    "each purchase — attribution, not just the latest like as-of) via "
    "time-bucket banding: the oracle states the naive range join, the "
    "engine runs an equi-join on (user, 30-min bucket) with the point "
    "side exploded x2 — linear shuffle, no per-key nested-loop blow-up",
)
def q_interval_join(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id", "ts"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("win_end"),
        )
        .withColumn("win_start", F.col("win_end") - F.expr("INTERVAL 30 MINUTES"))
    )
    out = relational.interval_join(
        views, purchases, "user_id", "p_user", "ts", "win_start", "win_end",
        max_interval_sec=1800,
    )
    return out.select(
        "view_id",
        "purchase_id",
        "user_id",
        F.unix_micros("ts").alias("view_ts_us"),
        F.unix_micros("win_end").alias("purchase_ts_us"),
    )


@register(
    "asof_join_event_order",
    """
    SELECT event_id, user_id, ts_us, last_orderkey, last_orderprice
    FROM (
      SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
             o.o_orderkey AS last_orderkey,
             CAST(o.o_totalprice AS DOUBLE) AS last_orderprice,
             row_number() OVER (
               PARTITION BY e.event_id
               ORDER BY o.o_orderdate DESC, o.o_orderkey DESC
             ) AS rn
      FROM events e
      LEFT JOIN orders o
        ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
    ) WHERE rn = 1
    """,
    "As-of join: latest order at or before each event, TIES at the "
    "same order date resolved to the greatest orderkey (union-tag + "
    "last_value window with explicit tie-break; DuckDB's native ASOF "
    "leaves equal-timestamp winners unspecified, so the oracle states "
    "the deterministic contract via arg_max over a composite key — "
    "same-day ties are common at sf0.1, absent at sf0.01)",
)
def q_asof_join(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = _t(spark, sf_dir, "orders")
    out = relational.asof_join(
        ev,
        orders.select(
            F.col("o_custkey").alias("user_id"), "o_orderdate", "o_orderkey", "o_totalprice"
        ),
        on="user_id",
        left_ts="ts",
        right_ts="o_orderdate",
        right_cols={"o_orderkey": "last_orderkey", "o_totalprice": "last_orderprice"},
        tie_break="last_orderkey",
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "last_orderkey",
        F.col("last_orderprice").cast("double").alias("last_orderprice"),
    )


@register(
    "events_transition_counts",
    """
    WITH x AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM events
    )
    SELECT user_id, prev_type, event_type AS curr_type, count(*) AS n
    FROM x WHERE prev_type IS NOT NULL
    GROUP BY user_id, prev_type, event_type
    """,
    "Per-user event-type transition counts (batch twin of "
    "streaming.transition_counts_stateful)",
)
def q_transitions(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("user_id", "prev_type", F.col("event_type").alias("curr_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "events_view_purchase_join",
    """
    SELECT p.user_id, v.event_id AS view_id, epoch_us(v.ts) AS view_ts_us,
           p.event_id AS purchase_id, epoch_us(p.ts) AS purchase_ts_us,
           p.value AS purchase_value
    FROM events v JOIN events p
      ON p.user_id = v.user_id
     AND p.ts > v.ts
     AND p.ts <= v.ts + INTERVAL 30 MINUTE
    WHERE v.event_type = 'view' AND p.event_type = 'purchase'
    """,
    "View-to-purchase attribution interval join — the batch twin of the "
    "watermarked stream-stream join (streaming.view_purchase_join); the "
    "time-range condition is what lets streaming evict join state",
)
def q_events_view_purchase(spark, sf_dir):
    from .streaming import streams

    ev = _t(spark, sf_dir, "events")
    out = streams.view_purchase_join(ev)
    return out.select(
        "user_id",
        "view_id",
        F.unix_micros("view_ts").alias("view_ts_us"),
        "purchase_id",
        F.unix_micros("purchase_ts").alias("purchase_ts_us"),
        "purchase_value",
    )


@register(
    "events_view_purchase_outer",
    """
    SELECT coalesce(p.user_id, v.user_id) AS user_id,
           v.event_id AS view_id, epoch_us(v.ts) AS view_ts_us,
           p.event_id AS purchase_id, epoch_us(p.ts) AS purchase_ts_us,
           p.value AS purchase_value
    FROM events v LEFT JOIN events p
      ON p.user_id = v.user_id
     AND p.event_type = 'purchase'
     AND p.ts > v.ts
     AND p.ts <= v.ts + INTERVAL 30 MINUTE
    WHERE v.event_type = 'view'
    """,
    "Conversion funnel WITH abandonment: left-outer interval join — "
    "batch twin of the watermarked outer stream-stream join, where null "
    "rows can only emit after the watermark passes the join window",
)
def q_events_view_purchase_outer(spark, sf_dir):
    from .streaming import streams

    ev = _t(spark, sf_dir, "events")
    out = streams.view_purchase_join_outer(ev)
    return out.select(
        "user_id",
        "view_id",
        F.unix_micros("view_ts").alias("view_ts_us"),
        "purchase_id",
        F.unix_micros("purchase_ts").alias("purchase_ts_us"),
        "purchase_value",
    )


@register(
    "streaming_tumbling_complete_events",
    """
    SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) * 1000000
             AS bucket_us,
           event_type,
           count(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    "REAL Structured Streaming execution, not a batch stand-in: "
    "readStream file source over the events table, watermarked 1-hour "
    "tumbling aggregate, trigger(availableNow) drained into a memory "
    "sink in COMPLETE mode — the oracle states Spark's stream/batch "
    "parity guarantee (complete mode must equal the batch aggregate "
    "exactly, exact-decimal value sums). The memory sink only ever "
    "holds window aggregates; at scale the identical query writes to a "
    "real sink with availableNow as the incremental-backfill trigger",
)
def q_streaming_tumbling_complete(spark, sf_dir):
    from .streaming import streams

    ev = streams.read_events_stream(spark, f"{sf_dir}/events.parquet")
    agg = (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("value")).alias("sum_value"))
    )
    out = streams.drain_available_now(agg, "complete")
    return out.select(
        F.unix_micros(F.col("w.start")).alias("bucket_us"),
        "event_type",
        "n",
        "sum_value",
    )


@register(
    "streaming_session_append_watermark",
    """
    WITH x AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sess
      FROM x
    ), sw AS (
      SELECT user_id,
             epoch_us(min(ts)) AS session_start_us,
             epoch_us(max(ts)) + 1800000000 AS session_end_us,
             count(*) AS n_events
      FROM s GROUP BY user_id, sess
    )
    SELECT session_start_us, session_end_us, user_id, n_events
    FROM sw
    WHERE session_end_us <
          (SELECT max(epoch_us(ts)) FROM events) - 7200000000
    """,
    "REAL Structured Streaming WATERMARK EMISSION semantics, stated in "
    "SQL: 30-minute session windows over the streamed events table in "
    "APPEND mode with a 2-hour watermark, drained with availableNow — "
    "append emits exactly the sessions whose end (last event + gap) "
    "falls strictly before the final watermark (max event time - 2h); "
    "open or near-tail sessions are withheld as in-flight state. The "
    "oracle computes the same gap sessions batch-side and applies the "
    "emission predicate — a wrong watermark/eviction implementation "
    "changes the emitted SET and fails the driver hash",
)
def q_streaming_session_append(spark, sf_dir):
    from .streaming import streams

    ev = streams.read_events_stream(spark, f"{sf_dir}/events.parquet")
    sess = streams.session_counts(ev, gap="30 minutes", watermark="2 hours")
    out = streams.drain_available_now(sess, "append")
    return out.select(
        F.unix_micros("session_start").alias("session_start_us"),
        F.unix_micros("session_end").alias("session_end_us"),
        "user_id",
        "n_events",
    )


@register(
    "streaming_dedup_within_watermark",
    """
    SELECT DISTINCT user_id, event_type FROM events
    """,
    "REAL streaming deduplication: dropDuplicatesWithinWatermark over "
    "the streamed events table (2-hour state horizon), availableNow "
    "into an append memory sink, projected to the dedup key — the "
    "emitted key set must equal the batch DISTINCT exactly while the "
    "state store holds one entry per in-horizon key (sized by arrival "
    "rate x watermark, never corpus size). Keys only, by design: "
    "which duplicate's payload survives is an arrival-order artifact "
    "no cross-engine contract should pin. The batch-DISTINCT oracle "
    "holds because the single-file source drains in ONE data "
    "micro-batch (the watermark never advances mid-run, so no key can "
    "age out of the 2h horizon and re-emit) — drain asserts that "
    "assumption so a multi-file / maxFilesPerTrigger layout fails "
    "loudly here, not as a driver hash mismatch",
)
def q_streaming_dedup(spark, sf_dir):
    from .streaming import streams

    ev = streams.read_events_stream(spark, f"{sf_dir}/events.parquet")
    out = streams.drain_available_now(
        streams.dedup_stream(ev, key_cols=("user_id", "event_type")),
        "append",
        expect_single_batch=True,
    )
    return out.select("user_id", "event_type")


@register(
    "agg_percentiles",
    """
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5) AS p50,
           quantile_cont(l_quantity, 0.9) AS p90,
           quantile_cont(l_quantity, 0.99) AS p99
    FROM lineitem GROUP BY l_returnflag
    """,
    "Exact interpolated percentiles (Spark percentile == DuckDB quantile_cont)",
)
def q_percentiles(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", 0.5).alias("p50"),
        F.percentile("l_quantity", 0.9).alias("p90"),
        F.percentile("l_quantity", 0.99).alias("p99"),
    )


@register(
    "token_counts",
    """
    SELECT doc_id,
           CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-zA-Z0-9_]+|[^a-zA-Z0-9_\\s]')) AS BIGINT) AS n_bpe_ish
    FROM documents
    """,
    "Token counting: whitespace + BPE-ish regex pre-tokenization",
)
def q_token_counts(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.token_count(F.col("text")).cast("long").alias("n_ws_tokens"),
        text.bpe_ish_token_count(F.col("text")).cast("long").alias("n_bpe_ish"),
    )


@register(
    "mix_sources_weighted",
    """
    SELECT doc_id, source
    FROM documents
    WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 1000 <
          CASE source WHEN 'src0' THEN 1000
                      WHEN 'src1' THEN 500
                      WHEN 'src2' THEN 250
                      WHEN 'src3' THEN 125
                      ELSE 50 END
    """,
    "Deterministic source-weighted dataset mixing: rebalance a multi-"
    "source corpus to target proportions (keep all of src0, half of "
    "src1, a quarter of src2, an eighth of src3, 5% of the rest) via "
    "the same md5-bucket draw as hash_sample — rerun-stable, "
    "coordination-free, no rand(), and the oracle draws the IDENTICAL "
    "mix. A narrow no-shuffle filter at any scale.",
)
def q_mix_sources(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return relational.mix_sources(
        docs,
        {"src0": 1000, "src1": 500, "src2": 250, "src3": 125},
        default_permille=50,
    )


@register(
    "curate_corpus_deduped",
    """
    WITH cc AS (
      SELECT doc_id * 2 AS doc_id, text FROM documents
      UNION ALL
      SELECT doc_id * 2 + 1 AS doc_id, text FROM documents
    ), qt AS (
      SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS n_tok,
             CAST(len(list_distinct(string_split_regex(trim(text), '\\s+'))) AS DOUBLE) AS n_uniq,
             CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                  x -> list_contains(['the','and','of','to','a','in','is'], x))) AS DOUBLE) AS stop_hits,
             CAST(length(text) AS DOUBLE) AS n_chars,
             CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) AS n_punct,
             CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) AS n_digit
      FROM cc
    ), q AS (
      SELECT doc_id,
           0.3 * (CASE WHEN n_tok >= 20 AND n_tok <= 1000 THEN 1.0
                       WHEN n_tok >= 5 THEN 0.5 ELSE 0.0 END)
         + 0.2 * least(stop_hits / greatest(n_tok, 1.0) * 4, 1.0)
         + 0.2 * (1.0 - least(n_punct / greatest(n_chars, 1.0) * 10, 1.0))
         + 0.1 * (1.0 - least(n_digit / greatest(n_chars, 1.0) * 10, 1.0))
         + 0.2 * (n_uniq / greatest(n_tok, 1.0)) AS quality
      FROM qt
    ), lh AS (
      SELECT doc_id,
        len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
            x -> list_contains(['der','die','das','und','ist'], x))) AS hits_de,
        len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
            x -> list_contains(['the','and','of','to','a','in','is'], x))) AS hits_en,
        len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
            x -> list_contains(['el','la','de','y','un','es'], x))) AS hits_es,
        len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
            x -> list_contains(['le','la','de','et','un','est'], x))) AS hits_fr
      FROM cc
    ), l AS (
      SELECT doc_id,
             CASE WHEN greatest(hits_de, hits_en, hits_es, hits_fr) < 2 THEN 'und'
                  WHEN hits_de = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'de'
                  WHEN hits_en = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'en'
                  WHEN hits_es = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'es'
                  ELSE 'fr' END AS pred_lang
      FROM lh
    ), rtk AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                  ELSE regexp_split_to_array(trim(text), '\\s+') END AS tk
      FROM cc
    ), rtok AS (
      SELECT doc_id, unnest(tk) AS t FROM rtk
    ), rtcnt AS (
      SELECT doc_id, t, count(*) AS c FROM rtok GROUP BY 1, 2
    ), rtstat AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens, MAX(c) AS topc
      FROM rtcnt GROUP BY 1
    ), rbg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(tk)),
                                   i -> tk[i] || chr(31) || tk[i + 1])) AS b
      FROM rtk WHERE len(tk) >= 2
    ), rbcnt AS (
      SELECT doc_id, b, count(*) AS c FROM rbg GROUP BY 1, 2
    ), rbstat AS (
      SELECT doc_id, SUM(c) AS nb, count(*) AS db FROM rbcnt GROUP BY 1
    ), r AS (
      SELECT t.doc_id, t.n_tokens,
             round(topc / t.n_tokens, 4) AS top_token_frac,
             round(coalesce(1.0 - db / nb, 0.0), 4) AS dup_bigram_frac,
             (round(topc / t.n_tokens, 4) > 0.2
              OR round(coalesce(1.0 - db / nb, 0.0), 4) > 0.3) AS is_repetitive
      FROM rtstat t LEFT JOIN rbstat b ON t.doc_id = b.doc_id
    ), f AS (
      SELECT doc_id,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
      FROM cc
    ), pass AS (
      SELECT f.doc_id, r.n_tokens, q.quality,
             r.top_token_frac, r.dup_bigram_frac, f.fp
      FROM f JOIN q USING (doc_id) JOIN l USING (doc_id) JOIN r USING (doc_id)
      WHERE l.pred_lang = 'en' AND q.quality >= 0.73 AND NOT r.is_repetitive
    )
    SELECT doc_id, n_tokens, quality, top_token_frac, dup_bigram_frac, fp
    FROM pass
    QUALIFY doc_id = min(doc_id) OVER (PARTITION BY fp)
    """,
    "END-TO-END corpus curation as ONE declarative plan: language "
    "filter + quality threshold (0.73 ~ the fixture median, so the cut "
    "is live) + Gopher repetition screen + exact-dedup survivor "
    "selection, on a self-unioned duplicate-heavy corpus so the "
    "survivor stage has real work. The engine computes EVERY per-row "
    "feature in a single projection over one scan (composing the "
    "standalone operators via joins would re-scan the corpus once per "
    "feature — the oracle states that join form precisely because "
    "DuckDB can; the engine plan is the point); the only exchange is "
    "the survivor window over already-filtered rows.",
)
def q_curate(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dup = docs.select((F.col("doc_id") * 2).alias("doc_id"), "text").unionByName(
        docs.select((F.col("doc_id") * 2 + 1).alias("doc_id"), "text")
    )
    return text.curate_corpus(dup)


@register(
    "token_shards_4k",
    """
    WITH t AS (
      SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS k,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
      FROM documents
    ), c AS (
      SELECT doc_id, n_tokens,
             SUM(n_tokens) OVER (ORDER BY k
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM t
    )
    SELECT doc_id, n_tokens,
           CAST((cum - n_tokens) // 4096 AS BIGINT) AS shard_id,
           CAST(cum AS BIGINT) AS cum_tokens
    FROM c
    """,
    "Deterministic token-budget sharding (pack the corpus into 4096-"
    "token training shards in md5(id) order): the engine computes the "
    "global running token total with a PARALLEL PREFIX-SUM — an order-"
    "aligned md5-prefix bucket window (one full-data exchange) plus "
    "broadcast per-bucket offsets whose own window touches <= 256 rows "
    "— never a single-partition global window (the plan Spark warns "
    "about; an outage at 100 TB). The oracle states the straightforward "
    "global cumsum; all-integer arithmetic makes the equality exact.",
)
def q_token_shards(spark, sf_dir):
    return text.token_shards(_t(spark, sf_dir, "documents"), budget=4096)


@register(
    "q4_order_priority_exists",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
    GROUP BY o_orderpriority
    """,
    "TPC-H Q4 shape: correlated EXISTS through the SQL surface — Catalyst "
    "decorrelates it to a left-semi hash join (adapted predicate: the "
    "testdata lineitem has no commit/receipt dates)",
)
def q_q4_exists(spark, sf_dir):
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1996-04-01'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        GROUP BY o_orderpriority
        """
    )


@register(
    "q17_small_quantity_revenue",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0 AS avg_yearly
    FROM lineitem l1 JOIN part ON p_partkey = l1.l_partkey
    WHERE p_brand = 'Brand#4'
      AND l1.l_quantity < (
        SELECT 0.2 * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,4))) AS DOUBLE)
                      / count(l2.l_quantity))
        FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey)
    """,
    "TPC-H Q17 shape: correlated scalar AVG subquery — Catalyst "
    "decorrelates to a per-part aggregate joined back to the fact scan; "
    "decimal-exact moment sums keep the threshold comparison "
    "engine-independent",
)
def q_q17_corr_avg(spark, sf_dir):
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    _t(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(
        """
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0 AS avg_yearly
        FROM lineitem l1 JOIN part ON p_partkey = l1.l_partkey
        WHERE p_brand = 'Brand#4'
          AND l1.l_quantity < (
            SELECT 0.2 * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,4))) AS DOUBLE)
                          / count(l2.l_quantity))
            FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey)
        """
    )


@register(
    "correlated_max_order",
    """
    SELECT o_custkey, o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
    FROM orders o
    WHERE o_totalprice = (SELECT max(o2.o_totalprice) FROM orders o2
                          WHERE o2.o_custkey = o.o_custkey)
    """,
    "Correlated scalar MAX subquery (each customer's priciest orders, "
    "ties kept) — decorrelated to a grouped max joined back on the "
    "correlation key",
)
def q_correlated_max(spark, sf_dir):
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_custkey, o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
        FROM orders o
        WHERE o_totalprice = (SELECT max(o2.o_totalprice) FROM orders o2
                              WHERE o2.o_custkey = o.o_custkey)
        """
    )


# ---------------------------------------------------------------------------
# Events: time bucketing + sessionization (batch twins of streaming ops)
# ---------------------------------------------------------------------------


@register(
    "events_tumbling_hour",
    """
    SELECT epoch_us(date_trunc('hour', ts)) AS bucket_us, event_type,
           count(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM events GROUP BY date_trunc('hour', ts), event_type
    """,
    "Tumbling 1-hour window aggregation (batch twin of streaming.tumbling_counts)",
)
def q_events_tumbling(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("sum_value"))
        .select(
            F.unix_micros(F.col("w.start")).alias("bucket_us"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@register(
    "events_sessionize",
    """
    WITH x AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, ts,
             CAST(SUM(is_new) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS session_id
      FROM x
    )
    SELECT user_id, session_id, count(*) AS n_events,
           epoch_us(min(ts)) AS session_start_us,
           epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
    FROM s GROUP BY user_id, session_id
    """,
    "Gap-based sessionization (lag + cumulative sum), 30-minute gap",
)
def q_events_sessionize(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    s = relational.sessionize(ev, "user_id", "ts", 1800, "event_id")
    return s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.unix_micros(F.min("ts")).alias("session_start_us"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("duration_us"),
    )


@register(
    "events_session_window",
    """
    WITH x AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, ts, value,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sess
      FROM x
    )
    SELECT user_id,
           epoch_us(min(ts)) AS session_start_us,
           epoch_us(max(ts)) + 1800000000 AS session_end_us,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM s GROUP BY user_id, sess
    """,
    "Native F.session_window batch twin: the WINDOW-FUNCTION output shape "
    "(start AND end columns) of Spark's dynamic-gap session operator. "
    "Boundary contract pinned by the oracle: sessions merge only when the "
    "next event is STRICTLY inside [start, last+gap) — an event at "
    "exactly last+gap starts a new session (hence >= in the oracle's "
    "lag split, vs > in events_sessionize's inclusive-gap variant); "
    "window end = last event + gap",
)
def q_events_session_window(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("sum_value"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            F.unix_micros(F.col("w.end")).alias("session_end_us"),
            "n_events",
            "sum_value",
        )
    )


@register(
    "events_window_bounds",
    """
    SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
           epoch_us(date_trunc('hour', ts)) + 3600000000 AS window_end_us,
           event_type, count(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2, 3
    """,
    "Tumbling F.window batch twin emitting BOTH window bounds — the "
    "struct(start, end) output shape streaming consumers see, "
    "hash-checked end-to-end",
)
def q_events_window_bounds(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("sum_value"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            F.unix_micros(F.col("w.end")).alias("window_end_us"),
            "event_type",
            "n",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# LLM-data ops: dedup, text analysis, fingerprinting, similarity search
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    """
    SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS h,
           min(doc_id) AS keep_id,
           count(*) AS n_copies
    FROM documents GROUP BY 1
    """,
    "Exact dedup on normalized content hash; survivor = min doc_id",
)
def q_dedup_exact(spark, sf_dir):
    return dedup.exact_dedup(_t(spark, sf_dir, "documents"))


@register(
    "dedup_incremental_batch",
    """
    WITH d AS (
      SELECT doc_id,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS h
      FROM documents
    ), batch AS (
      SELECT h, min(doc_id) AS doc_id, count(*) AS n_in_batch
      FROM d WHERE doc_id % 5 != 0 GROUP BY h
    )
    SELECT doc_id, h, n_in_batch FROM batch
    WHERE h NOT IN (SELECT h FROM d WHERE doc_id % 5 = 0)
    """,
    "Incremental-ingest dedup: the doc_id % 5 == 0 slice plays the "
    "already-built corpus (as its digest index), the rest is the new "
    "delivery; survivors dedupe within-batch (min doc_id) AND against "
    "the index via a digest anti-join — no corpus rescan, only 16-byte "
    "digests move; output = the exact index delta.",
)
def q_dedup_incremental(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 == 0)
    batch = docs.filter(F.col("doc_id") % 5 != 0)
    index = dedup.exact_dedup(corpus).select("h")
    return dedup.incremental_dedup(batch, index)


@register(
    "text_stats",
    """
    SELECT doc_id,
           CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS n_distinct_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_exact,
           CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS BIGINT) AS n_punct,
           CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digit,
           CAST(length(text) AS DOUBLE)
             / CAST(greatest(len(string_split_regex(trim(text), '\\s+')), 1) AS DOUBLE) AS avg_token_len
    FROM documents
    """,
    "Per-document token/char statistics (narrow projection, no shuffle)",
)
def q_text_stats(spark, sf_dir):
    out = text.text_stats(_t(spark, sf_dir, "documents"))
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_distinct_tokens").cast("long").alias("n_distinct_tokens"),
        F.col("n_chars_exact").cast("long").alias("n_chars_exact"),
        F.col("n_punct").cast("long").alias("n_punct"),
        F.col("n_digit").cast("long").alias("n_digit"),
        "avg_token_len",
    )


@register(
    "text_quality",
    """
    WITH t AS (
      SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS n_tok,
             CAST(len(list_distinct(string_split_regex(trim(text), '\\s+'))) AS DOUBLE) AS n_uniq,
             CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                  x -> list_contains(['the','and','of','to','a','in','is'], x))) AS DOUBLE) AS stop_hits,
             CAST(length(text) AS DOUBLE) AS n_chars,
             CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) AS n_punct,
             CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) AS n_digit
      FROM documents
    )
    SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tokens,
           0.3 * (CASE WHEN n_tok >= 20 AND n_tok <= 1000 THEN 1.0
                       WHEN n_tok >= 5 THEN 0.5 ELSE 0.0 END)
         + 0.2 * least(stop_hits / greatest(n_tok, 1.0) * 4, 1.0)
         + 0.2 * (1.0 - least(n_punct / greatest(n_chars, 1.0) * 10, 1.0))
         + 0.1 * (1.0 - least(n_digit / greatest(n_chars, 1.0) * 10, 1.0))
         + 0.2 * (n_uniq / greatest(n_tok, 1.0)) AS quality
    FROM t
    """,
    "Heuristic quality scoring: length band + stopword/punct/digit ratios + diversity",
)
def q_text_quality(spark, sf_dir):
    return text.quality_score(_t(spark, sf_dir, "documents"))


@register(
    "lang_id",
    """
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk FROM documents
    ), hits AS (
      SELECT doc_id,
        CAST(len(list_filter(tk, x -> list_contains(['der','die','das','und','ist'], x))) AS BIGINT) AS hits_de,
        CAST(len(list_filter(tk, x -> list_contains(['the','and','of','to','a','in','is'], x))) AS BIGINT) AS hits_en,
        CAST(len(list_filter(tk, x -> list_contains(['el','la','de','y','un','es'], x))) AS BIGINT) AS hits_es,
        CAST(len(list_filter(tk, x -> list_contains(['le','la','de','et','un','est'], x))) AS BIGINT) AS hits_fr
      FROM toks
    )
    SELECT doc_id, hits_de, hits_en, hits_es, hits_fr,
           CASE WHEN greatest(hits_de, hits_en, hits_es, hits_fr) < 2 THEN 'und'
                WHEN hits_de = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'de'
                WHEN hits_en = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'en'
                WHEN hits_es = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'es'
                ELSE 'fr' END AS pred_lang
    FROM hits
    """,
    "Stopword-marker language-ID heuristic with deterministic tie-break",
)
def q_lang_id(spark, sf_dir):
    out = text.lang_id(_t(spark, sf_dir, "documents"))
    return out.select(
        "doc_id",
        *[F.col(f"hits_{code}").cast("long").alias(f"hits_{code}")
          for code in ("de", "en", "es", "fr")],
        "pred_lang",
    )


@register(
    "doc_fingerprint",
    """
    SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
           substr(md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')), 1, 8) AS fp_bucket
    FROM documents
    """,
    "Content fingerprint (md5 of normalized text) + blocking bucket",
)
def q_doc_fingerprint(spark, sf_dir):
    return text.fingerprint(_t(spark, sf_dir, "documents"))


@register(
    "doc_top_terms",
    """
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split_regex(
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
           WHERE term != '' GROUP BY doc_id, term),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
    SELECT doc_id, term, tf, df, CAST(rk AS BIGINT) AS rk FROM (
      SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
             row_number() OVER (
               PARTITION BY tf.doc_id
               ORDER BY tf.tf DESC, dfreq.df ASC, tf.term) AS rk
      FROM tf JOIN dfreq USING (term)
    ) WHERE rk <= 3
    """,
    "Per-document top-3 distinctive terms: TF-IDF's ranking on integer "
    "(tf desc, df asc, term) keys only — engine-independent, no float idf",
)
def q_doc_top_terms(spark, sf_dir):
    return text.top_distinctive_terms(_t(spark, sf_dir, "documents"), k=3)


@register(
    "doc_winnow_fingerprint",
    None,  # xxhash64 rolling hashes have no DuckDB twin; rows-only check.
    # Value evidence lives in pytest instead: tests/reference_winnow.py is
    # an independent pure-Python XXH64 + winnowing implementation, and
    # tests/test_text_winnow.py asserts full fingerprint-set equality
    # against it, including over the real sf0.01 documents table.
    "Winnowing k-gram rolling-hash fingerprints (Schleimer et al. 2003)",
)
def q_winnow(spark, sf_dir):
    fps = text.winnow_fingerprints(_t(spark, sf_dir, "documents"), k=5, w=4)
    return fps.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fps"), F.min("fp").alias("min_fp")
    )


@register(
    "doc_winnow_fingerprint_verified",
    """
    WITH t AS (
      SELECT doc_id,
             regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
      FROM documents
    ), g AS (
      SELECT doc_id,
             list_transform(range(1, length(norm) - 5 + 2),
                            i -> md5(substr(norm, i::INT, 5))) AS hs
      FROM t WHERE length(norm) >= 8
    )
    SELECT doc_id, fp FROM (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(hs) - 4 + 2),
                                   j -> list_min(hs[j:j+3]))) AS fp
      FROM g)
    """,
    "Hash-pinned winnowing twin (the minhash/simhash _verified "
    "pattern): same window-min selection structure as "
    "doc_winnow_fingerprint, but k-gram hashes are md5 hex strings "
    "whose lexicographic min IS the unsigned numeric min — DuckDB "
    "regenerates the exact 5-gram hash sequences (substr+md5 per "
    "position) and sliding 4-window minima, so the driver hash pins "
    "the whole fingerprint-selection pipeline cross-engine; the "
    "xxhash64 production variant keeps its independent pure-Python "
    "parity suite. Docs shorter than k+w-1 normalized chars are "
    "excluded identically on both sides (below that the winnowing "
    "guarantee is void).",
)
def q_winnow_verified(spark, sf_dir):
    return text.winnow_fingerprints_verified(
        _t(spark, sf_dir, "documents"), k=5, w=4
    )


# Four queries consume the SAME blocked-Jaccard(0.3) near-dup evidence
# (ngram_jaccard_pairs, dedup_clusters, dedup_cluster_canonical,
# golden_record_docs). The pair table is one grouped Arrow pass, one task
# per `source` block (dedup._block_pairs), and its connected-component
# closure iterates over it; both are pins, the closure built on the pair
# pin.
@_pinned("near_dup_pairs")
def _near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.jaccard_pairs(
        _t(spark, sf_dir, "documents"),
        block_col="source",
        shingle_n=1,
        threshold=0.3,
    ).localCheckpoint(eager=True)


@_pinned("near_dup_clusters")
def _near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.near_dup_clusters(
        _t(spark, sf_dir, "documents").select("doc_id"),
        _near_dup_pairs(spark, sf_dir),
    ).localCheckpoint(eager=True)


@register(
    "ngram_jaccard_pairs",
    """
    WITH sh AS (
      SELECT doc_id, source AS blk,
             list_distinct(string_split_regex(
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), '\\s+')) AS sh
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) AS jaccard
    FROM sh a JOIN sh b ON a.blk = b.blk AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) >= 0.3
    """,
    "Exact token-set Jaccard for blocked candidate pairs (never all-pairs)",
)
def q_ngram_jaccard(spark, sf_dir):
    return _near_dup_pairs(spark, sf_dir)


@register(
    "dedup_clusters",
    """
    WITH RECURSIVE sh AS (
      SELECT doc_id, source AS blk,
             list_distinct(string_split_regex(
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), '\\s+')) AS sh
      FROM documents
    ),
    p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sh a JOIN sh b ON a.blk = b.blk AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) >= 0.3
    ),
    edges AS (
      SELECT doc_a AS s, doc_b AS t FROM p
      UNION
      SELECT doc_b AS s, doc_a AS t FROM p
    ),
    reach AS (
      SELECT doc_id AS id, doc_id AS r FROM documents
      UNION
      SELECT reach.id, e.t AS r FROM reach JOIN edges e ON e.s = reach.r
    )
    SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
    """,
    "Near-dup survivor selection: connected components over the blocked "
    "Jaccard pairs (min-label propagation, transitive closure) — every "
    "doc labeled with the min doc_id of its component; oracle computes "
    "the same closure with a recursive CTE",
)
def q_dedup_clusters(spark, sf_dir):
    return _near_dup_clusters(spark, sf_dir)


@register(
    "jaccard_prefiltered",
    _uh_oracle_cte(32, 16) + """
    SELECT c.doc_a, c.doc_b,
           round(len(list_intersect(x.grams, y.grams)) * 1.0
                 / len(list_distinct(x.grams || y.grams)), 4) AS jaccard
    FROM cand c JOIN g x ON x.doc_id = c.doc_a
                JOIN g y ON y.doc_id = c.doc_b
    WHERE round(len(list_intersect(x.grams, y.grams)) * 1.0
                / len(list_distinct(x.grams || y.grams)), 4) >= 0.5
    """,
    "Exact Jaccard over MinHash-band candidates (no block column needed; "
    "linear candidate generation, exact verification). 3-gram shingles: "
    "unigram token sets are degenerate on templated text (everything "
    "matches everything). r11: oracle-replicable UNIVERSAL-HASH family "
    "at the 32-hash/16-band (2 rows per band) high-recall point — one "
    "md5 per distinct shingle, then exact-int64 (a*h+b) mod (2^31-1) "
    "seed mins the DuckDB twin regenerates verbatim (the md5-per-seed "
    "family measured 5x slower at 32 hashes); the xxhash64 prefilter "
    "(dedup.jaccard_pairs_prefiltered) stays the engine-native path, "
    "exercised in tests/test_dedup.py",
)
def q_jaccard_prefiltered(spark, sf_dir):
    return dedup.jaccard_prefiltered_verified(
        _t(spark, sf_dir, "documents"),
        shingle_n=3,
        num_hashes=32,
        bands=16,
        threshold=0.5,
    )


@register(
    "minhash_near_dup",
    _uh_oracle_cte(32, 8) + """
    SELECT doc_a, doc_b FROM cand
    """,
    "MinHash-LSH near-duplicate candidate pairs (banded signature "
    "join, no verify stage — the raw recall surface). r11: "
    "oracle-replicable UNIVERSAL-HASH family at 32 hashes / 8 bands "
    "(4 rows per band — a sharper S-curve than the 16/8 verified "
    "sibling): one md5 per distinct shingle, exact-int64 seed mins "
    "the DuckDB twin states quadratically, so the driver hash pins "
    "the banding itself; the xxhash64 banding "
    "(dedup.minhash_near_dup_candidates) stays the fast path",
)
def q_minhash_near_dup(spark, sf_dir):
    return dedup.minhash_candidates_verified(
        _t(spark, sf_dir, "documents"), shingle_n=3, num_hashes=32, bands=8
    )


@register(
    "simhash_near_dup",
    """
    WITH h AS (
      SELECT doc_id,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS h
      FROM documents WHERE text IS NOT NULL
    ), g AS (
      SELECT h, count(*) AS c FROM h GROUP BY h HAVING count(*) >= 2
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM h) AS n_docs,
           (SELECT CAST(count(*) AS BIGINT) FROM g) AS n_exact_dup_groups,
           (SELECT CAST(coalesce(sum(c * (c - 1) // 2), 0) AS BIGINT) FROM g)
             AS n_exact_dup_pairs,
           TRUE AS exact_dups_all_found,
           TRUE AS pairs_within_bound,
           TRUE AS pairs_ordered
    """,
    "The PRODUCTION SimHash family (xxhash64 token hashes) at the "
    "classic Manku WWW'07 web-crawl operating point (hamming <= 3, "
    "k = 4 single-chunk 16-bit blocks — minimum d+1 replication), "
    "property-bounded like the GK-percentile entry: the emitted pair "
    "set is hash-family-native so no ANSI-SQL twin can regenerate it, "
    "but the row hash carries exact-dup recall (every byte-identical "
    "normalized pair MUST surface at hamming 0 — identical tokens => "
    "identical signatures, and the pigeonhole blocking is lossless), "
    "the hamming <= d bound, and the doc_a < doc_b contract, plus the "
    "SQL-recomputed exact-dup group/pair counts. r12: this replaces "
    "the md5-family execution here (~5x CPU at sf0.1) — the "
    "pair-level cross-engine pinning lives on in "
    "simhash_near_dup_verified, which regenerates md5-family "
    "signatures verbatim",
)
def q_simhash_near_dup(spark, sf_dir):
    return dedup.simhash_fast_recall_report(
        _t(spark, sf_dir, "documents"), max_hamming=3, n_chunks=4
    )


@register(
    "simhash_near_dup_verified",
    """
    WITH tk AS (
      SELECT doc_id,
             list_filter(string_split(
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
               x -> x != '') AS tk
      FROM documents
    ), hs AS (
      SELECT doc_id,
             list_transform(tk,
               t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS hs
      FROM tk
    ), sig AS (
      SELECT doc_id,
             list_sum(list_transform(range(0, 64), b ->
               CASE WHEN list_sum(list_transform(hs,
                      h -> CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                    THEN (1::BIGINT << b) ELSE 0 END)) AS sh
      FROM hs
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sh, b.sh)) <= 6
    """,
    "SimHash near-dup with an oracle-replicable md5-derived token hash: "
    "the DuckDB twin regenerates the identical 64-bit signatures "
    "(bit-balance + sign pack) and states the quadratic hamming<=6 "
    "definition — equal to the engine's pigeonhole-blocked output "
    "because the blocking is lossless; with the LCG-plane cosine LSH "
    "and md5 MinHash this completes cross-engine hash-pinning of all "
    "three near-dup families",
)
def q_simhash_verified(spark, sf_dir):
    return dedup.simhash_near_dup_verified(_t(spark, sf_dir, "documents"))


@register(
    "multimodal_meta",
    """
    SELECT doc_id AS media_id,
           'application/octet-stream' AS mime,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
    FROM documents
    """,
    "Binary media column plumbing: payload + typed metadata projection",
)
def q_multimodal_meta(spark, sf_dir):
    media = multimodal.media_from_documents(_t(spark, sf_dir, "documents"))
    return media.select(
        "media_id", F.col("meta.mime").alias("mime"), F.col("meta.n_bytes").alias("n_bytes")
    )


@register(
    "multimodal_frame_sample",
    """
    SELECT doc_id AS media_id,
           CAST(greatest(octet_length(encode(text)) // 64, 1) AS BIGINT) AS n_frames,
           CAST(CASE WHEN octet_length(encode(text)) < 64
                     THEN octet_length(encode(text))
                     ELSE 64 * (octet_length(encode(text)) // 64) END AS BIGINT) AS sampled_bytes
    FROM documents
    """,
    "Frame-sampling shape over binary payloads (64-byte frames)",
)
def q_multimodal_frames(spark, sf_dir):
    media = multimodal.media_from_documents(_t(spark, sf_dir, "documents"))
    frames = multimodal.frame_sample(media, every_n_bytes=64)
    return frames.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.sum("frame_bytes").alias("sampled_bytes"),
    )


@register(
    "multimodal_features",
    None,  # channel/luma stats of decoded pixels have no SQL twin; the
    # decode geometry IS hash-checked in multimodal_decode_roundtrip
    "Arrow-batched mapInPandas feature extraction over REAL synthetic BMP "
    "payloads: pure-Python 24-bit BMP decode -> geometry + channel means "
    "+ luma stats (non-BMP formats keep the documented stand-in path)",
)
def q_multimodal_features(spark, sf_dir):
    media = multimodal.media_bmp_from_documents(_t(spark, sf_dir, "documents"))
    feats = multimodal.extract_features(media, dim=8)
    return feats.select(
        "media_id",
        "n_bytes",
        F.element_at("feature", 1).cast("int").alias("width"),
        F.element_at("feature", 2).cast("int").alias("height"),
        F.round(F.element_at("feature", 5), 4).alias("mean_r"),
        F.round(F.element_at("feature", 6), 4).alias("mean_luma"),
    )


@register(
    "multimodal_features_verified",
    """
    WITH b AS (
      SELECT doc_id, hex(encode(text)) AS h,
             octet_length(encode(text)) AS n
      FROM documents
    )
    SELECT doc_id AS media_id,
           16 AS width,
           CAST(greatest(ceil(n / 48.0), 1) AS INT) AS height,
           CAST(16 * greatest(ceil(n / 48.0), 1) AS BIGINT) AS n_px,
           CAST(COALESCE(list_sum(list_transform(range(0, n, 3),
                i -> ('0x' || substr(h, 2*i + 1, 2))::INT)), 0) AS BIGINT) AS b_sum,
           CAST(COALESCE(list_sum(list_transform(range(1, n, 3),
                i -> ('0x' || substr(h, 2*i + 1, 2))::INT)), 0) AS BIGINT) AS g_sum,
           CAST(COALESCE(list_sum(list_transform(range(2, n, 3),
                i -> ('0x' || substr(h, 2*i + 1, 2))::INT)), 0) AS BIGINT) AS r_sum,
           CAST(COALESCE(list_sum(list_transform(range(0, CAST(ceil(n / 3.0) AS INT)),
                p -> CASE WHEN ('0x' || substr(h, 6*p + 1, 6))::BIGINT > 0
                          THEN 1 ELSE 0 END)), 0) AS BIGINT) AS nonzero_px,
           (0.114::DOUBLE * COALESCE(list_sum(list_transform(range(0, n, 3),
                  i -> ('0x' || substr(h, 2*i + 1, 2))::INT)), 0)
               + 0.587::DOUBLE * COALESCE(list_sum(list_transform(range(1, n, 3),
                  i -> ('0x' || substr(h, 2*i + 1, 2))::INT)), 0)
               + 0.299::DOUBLE * COALESCE(list_sum(list_transform(range(2, n, 3),
                  i -> ('0x' || substr(h, 2*i + 1, 2))::INT)), 0))
             / CAST(16 * greatest(ceil(n / 48.0), 1) AS BIGINT) AS mean_luma
    FROM b
    """,
    "Hash-checked image FEATURE extraction (the verified twin of "
    "multimodal_features): the real pure-Python BMP decoder feeds numpy "
    "stride slices that compute integer-exact per-channel byte sums and "
    "the nonzero-pixel count — order-independent quantities a SQL oracle "
    "recomputes bit-for-bit from the source text's bytes (the BMP body "
    "IS the zero-padded utf-8 text, so channel k's sum is the sum of "
    "bytes at positions = k mod 3). Verifies the decoder's BGR byte "
    "ORDER and padding strip, not just header geometry. Luma mean is "
    "one exact double expression over the integer sums, shared by both "
    "engines. Per-pixel FLOAT reductions (luma std) stay in the "
    "rows-only multimodal_features — float sums are order-dependent "
    "and cannot be pinned cross-engine.",
)
def q_multimodal_features_verified(spark, sf_dir):
    media = multimodal.media_bmp_from_documents(_t(spark, sf_dir, "documents"))
    feats = multimodal.extract_features_verified(media)
    luma = (
        F.lit(0.114) * F.col("b_sum")
        + F.lit(0.587) * F.col("g_sum")
        + F.lit(0.299) * F.col("r_sum")
    ) / F.col("n_px")
    return feats.select(
        "media_id",
        "width",
        "height",
        "n_px",
        "b_sum",
        "g_sum",
        "r_sum",
        "nonzero_px",
        luma.alias("mean_luma"),
    )


@register(
    "multimodal_decode_roundtrip",
    """
    SELECT doc_id AS media_id,
           16 AS width,
           CAST(greatest(ceil(octet_length(encode(text)) / 48.0), 1) AS INT) AS height,
           CAST(16 * greatest(ceil(octet_length(encode(text)) / 48.0), 1) AS BIGINT) AS n_px
    FROM documents
    """,
    "Hash-checked image decode: each document becomes a real 24-bit BMP "
    "(16 px wide, text bytes as pixel data), the pure-Python decoder reads "
    "geometry back from the FILE HEADER, and the oracle recomputes it from "
    "text length alone — synth + decode must round-trip exactly",
)
def q_multimodal_decode_roundtrip(spark, sf_dir):
    media = multimodal.media_bmp_from_documents(_t(spark, sf_dir, "documents"))
    feats = multimodal.extract_features(media, dim=8)
    width = F.element_at("feature", 1).cast("int")
    height = F.element_at("feature", 2).cast("int")
    return feats.select(
        "media_id",
        width.alias("width"),
        height.alias("height"),
        (width * height).cast("long").alias("n_px"),
    )


@register(
    "multimodal_png_roundtrip",
    """
    SELECT doc_id AS media_id,
           16 AS width,
           CAST(greatest(ceil(octet_length(encode(text)) / 48.0), 1) AS INT) AS height,
           md5(text) AS pixel_md5
    FROM documents
    """,
    "PIXEL-exact PNG round-trip: each document becomes a real 8-bit RGB "
    "PNG (stdlib-zlib codec, scanlines cycling through all five spec "
    "filters), the pure-Python decoder inflates + unfilters the full "
    "pixel stream, and md5 of the recovered leading bytes must equal "
    "md5 of the document's utf-8 text — a bit-exact decode oracle, "
    "stronger than the BMP geometry check",
)
def q_multimodal_png_roundtrip(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    media = multimodal.media_png_from_documents(docs)
    dec = multimodal.decode_png_pixels(media)
    n_raw = docs.select(
        F.col("doc_id").alias("media_id"),
        F.octet_length(F.encode("text", "utf-8")).alias("n_raw"),
    )
    return dec.join(n_raw, "media_id").select(
        "media_id",
        "width",
        "height",
        F.md5(F.expr("substring(pixels, 1, n_raw)")).alias("pixel_md5"),
    )


_SRP_LCG_ORACLE_BANDS = " OR ".join(
    f"((a.sig >> {b * 3}) & 7) = ((b.sig >> {b * 3}) & 7)" for b in range(8)
)


@register(
    "embedding_cosine_near_dup",
    f"""
    WITH sig AS (
      SELECT vec_id, embedding,
             list_sum(list_transform(range(0, 24), p ->
               CASE WHEN list_sum(list_transform(
                      list_zip(embedding, range(0, len(embedding))), z ->
                        CAST(z[1] AS DOUBLE)
                        * ((1103515245::BIGINT * (p * 131 + z[2]) + 12345)
                           % 2147483648 / 2147483648.0 * 2.0 - 1.0)))
                    > 0
                    THEN (1::BIGINT << p) ELSE 0 END)) AS sig
      FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(
             list_sum(list_transform(list_zip(a.embedding, b.embedding),
               p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
           4) AS cos_sim
    FROM sig a JOIN sig b ON a.vec_id < b.vec_id
    WHERE ({_SRP_LCG_ORACLE_BANDS})
      AND round(
            list_sum(list_transform(list_zip(a.embedding, b.embedding),
              p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
            / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
          4) >= 0.15
    """,
    "Embedding-cosine near-dup pairs: SRP-LSH band blocking + exact "
    "cosine verify, with ORACLE-REPLICABLE LCG hyperplanes — the DuckDB "
    "twin regenerates the identical 24-bit signatures and 8x3-bit band "
    "join (its WHERE clause is the quadratic statement of the same "
    "semantic), so the driver hash pins the LSH bucketing logic itself "
    "cross-engine; the engine side never runs the quadratic form",
)
def q_embedding_cosine_near_dup(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.cosine_near_dup_pairs(
        emb, threshold=0.15, num_planes=24, bands=8
    )


@register(
    "embedding_topk",
    """
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5
    ), sims AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             round(
               list_sum(list_transform(list_zip(q.qv, e.embedding),
                 p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
             4) AS cos_sim
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id != q.query_id
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rk AS BIGINT) AS rk FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk
      FROM sims
    ) WHERE rk <= 10
    """,
    "Brute-force cosine top-k ANN baseline (broadcast query side)",
)
def q_embedding_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    out = similarity.cosine_topk_bruteforce(emb, [0, 1, 2, 3, 4], k=10)
    return out.withColumn("rk", F.col("rk").cast("long"))


@register(
    "embedding_close_pairs_by_label",
    """
    SELECT a.label, count(*) AS n_close
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round(
            list_sum(list_transform(list_zip(a.embedding, b.embedding),
              p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
            / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
          4) >= 0.15
    GROUP BY a.label
    """,
    "Embedding cosine near-dup count per label block (threshold tuned to "
    "the synthetic vectors' similarity range so the check is non-vacuous)",
)
def q_embedding_close_pairs(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    a, b = emb.alias("a"), emb.alias("b")
    sim = F.round(
        similarity.cosine(F.col("a.embedding"), F.col("b.embedding")), 4
    )
    return (
        a.join(b, (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .filter(sim >= 0.15)
        .groupBy(F.col("a.label").alias("label"))
        .agg(F.count(F.lit(1)).alias("n_close"))
    )


@register(
    "embedding_ivf_topk",
    None,  # k-means assignments have no SQL twin; rows-only check —
    # but recall_at_k vs the (oracle-checked) brute-force top-k is an
    # output column, so the row hash pins retrieval quality too.
    "Approximate cosine top-k via IVF: k-means coarse lists, probe the "
    "nearest n_probe lists, exact re-rank inside (MLlib KMeans quantizer); "
    "rows carry recall@10 vs brute force",
)
def q_embedding_ivf(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    qids = [0, 1, 2, 3, 4]
    approx = similarity.ivf_topk(emb, qids, k=10, n_lists=16, n_probe=6)
    exact = similarity.cosine_topk_bruteforce(emb, qids, k=10)
    return similarity.with_recall_vs_exact(approx, exact, k=10).withColumn(
        "rk", F.col("rk").cast("long")
    )


_COS4 = (
    "round(list_sum(list_transform(list_zip({a}, {b}),"
    " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    " / (sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    "  * sqrt(list_sum(list_transform({b}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4)"
)

_SRP_TOPK_BANDS = " OR ".join(
    f"((q.qs >> {b * 3}) & 7) = ((s.sig >> {b * 3}) & 7)" for b in range(8)
)


@register(
    "embedding_srp_lsh_topk",
    f"""
    WITH sig AS (
      SELECT vec_id, embedding,
             list_sum(list_transform(range(0, 24), p ->
               CASE WHEN list_sum(list_transform(
                      list_zip(embedding, range(0, len(embedding))), z ->
                        CAST(z[1] AS DOUBLE)
                        * ((1103515245::BIGINT * (p * 131 + z[2]) + 12345)
                           % 2147483648 / 2147483648.0 * 2.0 - 1.0)))
                    > 0
                    THEN (1::BIGINT << p) ELSE 0 END)) AS sig
      FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, embedding AS qv, sig AS qs
      FROM sig WHERE vec_id IN (0, 1, 2, 3, 4)
    ), cand AS (
      SELECT q.query_id, s.vec_id AS neighbor_id,
             {_COS4.format(a='q.qv', b='s.embedding')} AS cos_sim
      FROM q JOIN sig s ON s.vec_id != q.query_id
       AND ({_SRP_TOPK_BANDS})
    ), ranked AS (
      SELECT query_id, neighbor_id, cos_sim,
             row_number() OVER (
               PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk
      FROM cand
    ), truth AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY {_COS4.format(a='q.qv', b='e.embedding')} DESC,
                          e.vec_id) AS rk
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id != q.query_id
      ) WHERE rk <= 10
    ), hits AS (
      SELECT r.query_id, COUNT(*) AS n_hits
      FROM ranked r JOIN truth t
        ON r.query_id = t.query_id AND r.neighbor_id = t.neighbor_id
      WHERE r.rk <= 10
      GROUP BY r.query_id
    )
    SELECT r.query_id, r.neighbor_id, r.cos_sim, CAST(r.rk AS BIGINT) AS rk,
           round(COALESCE(h.n_hits, 0) / 10.0, 4) AS recall_at_k
    FROM ranked r LEFT JOIN hits h ON r.query_id = h.query_id
    WHERE r.rk <= 10
    """,
    "Approximate cosine top-k via sign-random-projection LSH buckets "
    "(8 x 3-bit bands of a 24-plane signature), exact cosine re-rank "
    "inside candidate buckets only; rows carry recall@10 vs brute "
    "force. r11: ORACLE-REPLICABLE LCG hyperplanes (the "
    "embedding_cosine_near_dup plane family) and 4-dp rank rounding, "
    "so the DuckDB twin regenerates signatures, buckets, candidate "
    "ranks, AND the recall column — retrieval quality is inside the "
    "driver hash; the xxhash64 plane family stays the fast path in "
    "tests",
)
def q_embedding_srp_lsh(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    qids = [0, 1, 2, 3, 4]
    approx = similarity.srp_lsh_topk(
        emb, qids, k=10, num_planes=24, band_bits=3,
        lcg_planes=True, round_digits=4,
    )
    exact = similarity.cosine_topk_bruteforce(emb, qids, k=10)
    return similarity.with_recall_vs_exact(approx, exact, k=10).withColumn(
        "rk", F.col("rk").cast("long")
    )


# ---------------------------------------------------------------------------
# Late-r04 additions: TPC-H-shape relational batteries (multi-join
# volume/distribution/inactivity shapes) and retrieval/decontamination
# operators for the LLM-pipeline surface. Registered in the rotation
# TAIL (the 50-entry driver window is fully booked this round with
# never-checked/changed/stale-evidence queries); their correctness
# evidence this round is the local driver-gate replica
# (tools/oracle_check.py, exact value compare) — rotate into the r05
# window per the rotation rule.
# ---------------------------------------------------------------------------

_REV_DEC = "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)"


@register(
    "q7_nation_volume_shipping",
    f"""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           year(l.l_shipdate) AS l_year,
           {_REV_DEC} AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation sn ON s.s_nationkey = sn.n_nationkey
    WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
       OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
    GROUP BY 1, 2, 3
    """,
    "TPC-H Q7 shape: bilateral nation-pair trade volume by ship year — "
    "5-way join, every dimension broadcast, fact table shuffles only for "
    "the lineitem-orders equi-join",
)
def q_q7(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation")
    # nation participates twice; give each role its own key + name columns
    # so the double join is unambiguous
    sn = n.select(
        F.col("n_nationkey").alias("_sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = n.select(
        F.col("n_nationkey").alias("_cn_key"), F.col("n_name").alias("cust_nation")
    )
    pair_ok = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("_cn_key"))
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("_sn_key"))
        .filter(pair_ok)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q10_returned_item_revenue",
    f"""
    SELECT c.c_custkey, c.c_name, n.n_name,
           {_REV_DEC} AS revenue
    FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY 1, 2, 3
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
    "TPC-H Q10 shape: top-20 customers by returned-item revenue — "
    "selective fact filter pushed to the scan, exact-decimal revenue is "
    "the deterministic sort key (custkey tie-break)",
)
def q_q10(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "q13_order_count_distribution",
    """
    SELECT c_count, COUNT(*) AS custdist FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    ) GROUP BY c_count
    """,
    "TPC-H Q13 shape: customer order-count distribution — outer join "
    "with a join-side filter (kept customers with zero orders count 0), "
    "double aggregation",
)
def q_q13(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderpriority")
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "q18_large_quantity_orders",
    """
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_totalprice,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty
    FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING SUM(l_quantity) > 250
    )
    GROUP BY 1, 2, 3, 4
    """,
    "TPC-H Q18 shape: large-quantity orders — IN-subquery over a grouped "
    "fact decorrelates to agg + semi join on the fact's own key, then the "
    "surviving orders re-join lineitem for the detail aggregate",
)
def q_q18(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("_q"))
        .filter(F.col("_q") > 250)
        .select("l_orderkey")
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey, "left_semi")
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_totalprice")
        .agg(dsum("l_quantity", 4).alias("total_qty"))
    )


@register(
    "q22_inactive_rich_customers",
    """
    SELECT c_nationkey, COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS totacctbal
    FROM customer
    WHERE c_acctbal > (
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
        FROM customer WHERE c_acctbal > 0.0
      )
      AND NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey
          AND o_orderdate >= TIMESTAMP '1999-01-01'
      )
    GROUP BY c_nationkey
    """,
    "TPC-H Q22 shape: above-average-balance customers with no recent "
    "orders — scalar subquery (exact-decimal mean, so the comparison "
    "boundary is bit-identical cross-engine) + anti join on a filtered "
    "order set",
)
def q_q22(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey", "c_acctbal")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")
    ).select("o_custkey")
    thresh = c.filter(F.col("c_acctbal") > 0.0).agg(
        (dsum("c_acctbal", 4) / F.count(F.lit(1))).alias("_avg")
    )
    return (
        c.crossJoin(F.broadcast(thresh))
        .filter(F.col("c_acctbal") > F.col("_avg"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum("c_acctbal", 4).alias("totacctbal"),
        )
    )


@register(
    "q21_waiting_supplier",
    """
    SELECT s.s_name, n.n_name, COUNT(*) AS numwait
    FROM lineitem l1
      JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
      JOIN supplier s ON s.s_suppkey = l1.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey AND r.r_name = 'EUROPE'
    WHERE l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY 1, 2
    """,
    "TPC-H Q21 shape (adapted: no receipt/commit dates in this schema, so "
    "'failed' = l_returnflag 'R' on a finished order): suppliers who were "
    "the SOLE failing supplier in a multi-supplier order — chained "
    "correlated EXISTS / NOT EXISTS over the same fact, decorrelated to a "
    "left-semi + left-anti self-join pair on the fact's own join key "
    "(co-partitioned: all three lineitem legs shuffle on l_orderkey once, "
    "no row blow-up, no nested loop). Region-filtered supplier dim "
    "broadcasts.",
)
def q_q21(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE").select(
        "r_regionkey"
    )
    sn = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).join(
        F.broadcast(r), F.col("n_regionkey") == r.r_regionkey
    ).select("s_suppkey", "s_name", "n_name")
    l1 = li.filter(F.col("l_returnflag") == "R")
    l2 = li.select(
        F.col("l_orderkey").alias("_ok2"), F.col("l_suppkey").alias("_sk2")
    )
    l3 = l1.select(
        F.col("l_orderkey").alias("_ok3"), F.col("l_suppkey").alias("_sk3")
    )
    return (
        l1.join(o, l1.l_orderkey == o.o_orderkey, "left_semi")
        .join(
            l2,
            (F.col("l_orderkey") == F.col("_ok2"))
            & (F.col("l_suppkey") != F.col("_sk2")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == F.col("_ok3"))
            & (F.col("l_suppkey") != F.col("_sk3")),
            "left_anti",
        )
        .join(F.broadcast(sn), F.col("l_suppkey") == sn.s_suppkey)
        .groupBy("s_name", "n_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# Q2/Q11 adaptation note: this schema has no partsupp table, so lineitem
# serves as the part-supplier price/value list (unit price =
# l_extendedprice / l_quantity; supply value = extendedprice * (1 -
# discount)). The plan shapes under test — Q2's correlated scalar MIN
# over a join tree, Q11's HAVING against a global scalar of the same
# aggregate — are preserved exactly.
_Q2_PRICED_CTE = """
    WITH priced AS (
      SELECT l.l_partkey, l.l_suppkey,
             min(l.l_extendedprice / l.l_quantity) AS unit_price
      FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey AND r.r_name = 'EUROPE'
      GROUP BY 1, 2
    )
"""


@register(
    "q2_min_cost_supplier",
    _Q2_PRICED_CTE
    + """
    SELECT p.p_partkey, p.p_name, s.s_name, n.n_name,
           pr.unit_price AS best_price
    FROM priced pr
      JOIN part p ON p.p_partkey = pr.l_partkey AND p.p_size <= 10
      JOIN supplier s ON s.s_suppkey = pr.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE pr.unit_price = (SELECT min(pr2.unit_price) FROM priced pr2
                           WHERE pr2.l_partkey = pr.l_partkey)
    """,
    "TPC-H Q2 shape (adapted — see module note): for each small part, the "
    "EUROPE supplier(s) achieving the minimum unit price. The correlated "
    "scalar MIN over a join tree decorrelates to: price the (part, "
    "supplier) pairs once, grouped MIN per part, join back on price "
    "equality (MIN of doubles is order-independent, so the equality is "
    "cross-engine exact; ties keep all witnesses, as in reference Q2). "
    "The per-part min is a WINDOW over the priced relation, not a "
    "self-join — lineitem is scanned once, and the window reuses the "
    "grouped rows with one extra exchange on the part key.",
)
def q_q2(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE").select(
        "r_regionkey"
    )
    p = _t(spark, sf_dir, "part").filter(F.col("p_size") <= 10).select(
        "p_partkey", "p_name"
    )
    sn = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).join(
        F.broadcast(r), F.col("n_regionkey") == r.r_regionkey
    ).select("s_suppkey", "s_name", "n_name")
    priced = (
        li.join(F.broadcast(sn.select("s_suppkey")), li.l_suppkey == sn.s_suppkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias(
                "unit_price"
            )
        )
    )
    w = Window.partitionBy("l_partkey")
    winners = (
        priced.withColumn("_best", F.min("unit_price").over(w))
        .filter(F.col("unit_price") == F.col("_best"))
        .drop("_best")
    )
    return (
        winners.join(F.broadcast(p), winners.l_partkey == p.p_partkey)
        .join(F.broadcast(sn), winners.l_suppkey == sn.s_suppkey)
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            "n_name",
            F.col("unit_price").alias("best_price"),
        )
    )


_Q11_SUPPLY_CTE = """
    WITH supply AS (
      SELECT l.l_partkey,
             CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6)) AS v
      FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
      WHERE n.n_name = 'NATION_9'
    )
"""


@register(
    "q11_important_stock",
    _Q11_SUPPLY_CTE
    + """
    SELECT l_partkey, CAST(SUM(v) AS DOUBLE) AS total_value
    FROM supply
    GROUP BY l_partkey
    HAVING CAST(SUM(v) AS DOUBLE) >
           (SELECT CAST(SUM(v) AS DOUBLE) * 2.0 / COUNT(DISTINCT l_partkey)
            FROM supply)
    """,
    "TPC-H Q11 shape (adapted — see module note): parts whose supply "
    "value from NATION_9 suppliers exceeds TWICE THE AVERAGE part's "
    "share of that nation's total (reference Q11's fixed fraction "
    "scales as 1/SF for the same reason: a constant fraction goes "
    "vacuous as the part domain grows; the data-derived threshold "
    "stays selective at every scale — 131 of 2,000 parts at sf0.01, "
    "1,216 of 20,000 at sf0.1). HAVING against a global scalar of the "
    "SAME aggregate "
    "decorrelates to: one grouped decimal-sum pass, one global decimal "
    "sum (a partial re-aggregation of the first, not a second scan), "
    "broadcast the 1-row scalar and filter. Exact decimal sums on both "
    "sides make the threshold boundary bit-identical cross-engine.",
)
def q_q11(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_9").select(
        "n_nationkey"
    )
    sn = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select("s_suppkey")
    supply = li.join(F.broadcast(sn), li.l_suppkey == sn.s_suppkey).select(
        "l_partkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .cast("decimal(18,6)")
        .alias("v"),
    )
    per_part = supply.groupBy("l_partkey").agg(
        F.sum("v").alias("_vd")
    )
    total = per_part.agg(
        (
            F.sum("_vd").cast("double") * F.lit(2.0) / F.count(F.lit(1))
        ).alias("_thresh")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("_vd").cast("double") > F.col("_thresh"))
        .select("l_partkey", F.col("_vd").cast("double").alias("total_value"))
    )


# --- r05: the remaining TPC-H shapes (Q8/Q9/Q12/Q14/Q15/Q16/Q19/Q20),
# completing all 22 query shapes. Adaptations for this schema (no
# partsupp, no shipmode/commitdate/receiptdate/container columns) keep
# each query's distinguishing PLAN shape; substitutions are noted per
# query and stated identically in both engines.


@register(
    "q8_market_share",
    """
    WITH x AS (
      SELECT year(o.o_orderdate) AS o_year,
             CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6)) AS vol,
             n2.n_name AS supp_nation
      FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = n1.n_regionkey AND r.r_name = 'AMERICA'
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
    )
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_9' THEN vol
                         ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
             / CAST(SUM(vol) AS DOUBLE) AS mkt_share
    FROM x GROUP BY o_year
    """,
    "TPC-H Q8 shape: NATION_9's yearly share of supplier revenue into "
    "AMERICA customers — conditional-numerator / total-denominator "
    "double aggregation over a 6-way join with every dimension "
    "broadcast (the fact shuffles once, for the year group-by). Share = "
    "ratio of two exact decimal sums, so the division is bit-identical "
    "cross-engine.",
)
def q_q8(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    cust_am = (
        c.join(
            F.broadcast(n.select("n_nationkey", "n_regionkey")),
            c.c_nationkey == F.col("n_nationkey"),
        )
        .join(F.broadcast(r.select("r_regionkey")), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    supp_n = (
        _t(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_nationkey")
        .join(
            F.broadcast(n.select(F.col("n_nationkey").alias("_nk2"), F.col("n_name").alias("supp_nation"))),
            F.col("s_nationkey") == F.col("_nk2"),
        )
        .select("s_suppkey", "supp_nation")
    )
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    x = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cust_am), o.o_custkey == cust_am.c_custkey, "left_semi")
        .join(F.broadcast(supp_n), li.l_suppkey == supp_n.s_suppkey)
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            vol.alias("vol"),
            "supp_nation",
        )
    )
    zero = F.lit(0).cast("decimal(18,6)")
    return x.groupBy("o_year").agg(
        (
            F.sum(
                F.when(F.col("supp_nation") == "NATION_9", F.col("vol")).otherwise(zero)
            ).cast("double")
            / F.sum("vol").cast("double")
        ).alias("mkt_share")
    )


@register(
    "q9_product_profit",
    """
    SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit
    FROM (
      SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
             CAST(l.l_extendedprice * (1 - l.l_discount)
                  - (CAST(0.1 AS DOUBLE) * p.p_retailprice) * l.l_quantity
                  AS DECIMAL(18,6)) AS amount
      FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%red%'
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
    ) GROUP BY nation, o_year
    """,
    "TPC-H Q9 shape (adapted: no partsupp, so supply cost := 10% of "
    "p_retailprice — the part join stays load-bearing): profit on red "
    "parts by supplier nation and order year. 5-way join, dims "
    "broadcast; the profit expression is one double expression tree "
    "shared by both engines, cast to exact decimal before the sum.",
)
def q_q9(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_discount", "l_quantity",
    )
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%")).select(
        "p_partkey", "p_retailprice"
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - (F.lit(0.1) * F.col("p_retailprice")) * F.col("l_quantity")
    ).cast("decimal(18,6)")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(F.sum("amount").cast("double").alias("sum_profit"))
    )


@register(
    "q12_late_shipments",
    """
    SELECT l.l_linestatus,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
    GROUP BY l.l_linestatus
    """,
    "TPC-H Q12 shape (adapted: no shipmode/commitdate/receiptdate — "
    "'late' = shipped >90 days after the order date, grouped by "
    "linestatus): join with an inter-column date predicate, then "
    "priority-class conditional counts. Integer counts are trivially "
    "cross-engine exact.",
)
def q_q12(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linestatus", "l_shipdate"
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "q14_promo_revenue",
    """
    SELECT CAST(100 AS DOUBLE)
           * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                  THEN CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))
                  ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
           / CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6)))
                  AS DOUBLE) AS promo_revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1998-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-03-01'
    """,
    "TPC-H Q14 shape: promotional revenue share over a two-month ship "
    "window — conditional/total ratio of exact decimal sums, part dim "
    "broadcast, ship-date range pushed to the scan.",
)
def q_q14(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-03-01").cast("timestamp"))
    ).select("l_partkey", "l_extendedprice", "l_discount")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    zero = F.lit(0).cast("decimal(18,6)")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select(rev.alias("rev"), "p_type")
        .agg(
            (
                F.lit(100).cast("double")
                * F.sum(
                    F.when(F.col("p_type") == "PROMO", F.col("rev")).otherwise(zero)
                ).cast("double")
                / F.sum("rev").cast("double")
            ).alias("promo_revenue")
        )
    )


@register(
    "q15_top_supplier",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        AND l_shipdate < TIMESTAMP '1998-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, CAST(r.total_rev AS DOUBLE) AS total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_rev = (SELECT max(total_rev) FROM revenue)
    """,
    "TPC-H Q15 shape: the top supplier(s) by quarterly revenue — the "
    "reference's revenue VIEW consulted twice (rows + global max) "
    "becomes one grouped decimal aggregate reused for both, the 1-row "
    "max broadcast back. Equality on exact decimals keeps ties (as the "
    "spec does) and is bit-identical cross-engine.",
)
def q_q15(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-04-01").cast("timestamp"))
    ).select("l_suppkey", "l_extendedprice", "l_discount")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(18,6)"
            )
        ).alias("total_rev")
    )
    mx = rev.agg(F.max("total_rev").alias("_mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("_mx"))
        .join(F.broadcast(s), F.col("supplier_no") == s.s_suppkey)
        .select(
            "s_suppkey", "s_name", F.col("total_rev").cast("double").alias("total_revenue")
        )
    )


@register(
    "q16_supplier_part_count",
    """
    SELECT p.p_brand, p.p_type, p.p_size,
           count(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
      AND l.l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
    "TPC-H Q16 shape (adapted: lineitem is the part-supplier relation, "
    "'complaints' = negative account balance): distinct-supplier counts "
    "per part attribute with a NOT-IN exclusion — decorrelated to a "
    "broadcast anti join (s_suppkey is non-null, so NOT IN == anti "
    "join), dims broadcast, one exchange for the distinct aggregation.",
)
def q_q16(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    bad = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q19_disjunctive_revenue",
    """
    SELECT CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6)))
                AS DOUBLE) AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
    "TPC-H Q19 shape (adapted: brand/size/quantity stand in for the "
    "container/shipmode legs): three disjunctive conjunct groups mixing "
    "both join sides — the classic pushdown stressor. Catalyst derives "
    "the single-side implications (quantity 1-30 to the fact scan, "
    "brand IN (...) to the part scan) while the mixed OR evaluates on "
    "the joined row; part stays broadcast.",
)
def q_q19(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    qty = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 5) & qty.between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 10) & qty.between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 15) & qty.between(20, 30))
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,6)"
                )
            )
            .cast("double")
            .alias("revenue")
        )
    )


@register(
    "q20_excess_supply",
    """
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    WHERE s.s_suppkey IN (
      SELECT l_suppkey FROM lineitem
      WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%red%')
        AND l_shipdate >= TIMESTAMP '1998-01-01'
      GROUP BY l_suppkey, l_partkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 75
    )
    """,
    "TPC-H Q20 shape (adapted: lineitem aggregates stand in for "
    "partsupp availability; threshold is absolute, not the correlated "
    "half-of-shipped — that correlated scalar shape is covered by "
    "q17/q2): a two-level nested IN chain — parts filter SEMI-joins "
    "into the fact (broadcast), grouped decimal HAVING, then the "
    "surviving supplier keys SEMI-join the supplier dim. No "
    "de-duplication pass needed anywhere: semi joins never multiply "
    "rows.",
)
def q_q20(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp")
    ).select("l_partkey", "l_suppkey", "l_quantity")
    red = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%")).select(
        "p_partkey"
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    heavy = (
        li.join(F.broadcast(red), li.l_partkey == red.p_partkey, "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("_q"))
        .filter(F.col("_q") > 75)
        .select("l_suppkey")
    )
    return s.join(heavy, s.s_suppkey == heavy.l_suppkey, "left_semi").select(
        "s_suppkey", "s_name"
    )


_BM25_TERMS = ["spark", "join", "window"]
_BM25_TERMS_SQL = "[" + ", ".join(f"'{t}'" for t in _BM25_TERMS) + "]"


@register(
    "bm25_search",
    f"""
    WITH tk AS (
      SELECT doc_id, list_filter(string_split(
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
               x -> x != '') AS tk
      FROM documents
    ), dl AS (
      SELECT doc_id, len(tk) AS dl FROM tk
    ), stats AS (
      SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl
    ), tf AS (
      SELECT doc_id, t AS term, COUNT(*) AS tf FROM (
        SELECT doc_id,
               unnest(list_filter(tk, x -> list_contains({_BM25_TERMS_SQL}, x))) AS t
        FROM tk)
      GROUP BY doc_id, t
    ), df AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), sc AS (
      SELECT tf.doc_id,
             CAST(round(
               ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
               * tf.tf * (1.2 + 1.0)
               / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl)),
               6) AS DECIMAL(18,6)) AS s
      FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
    )
    SELECT doc_id, round(CAST(SUM(s) AS DOUBLE), 4) AS score
    FROM sc GROUP BY doc_id
    ORDER BY score DESC, doc_id
    LIMIT 10
    """,
    "Okapi BM25 top-10 for a bag-of-words query (Lucene non-negative "
    "idf) — lexical retrieval over the corpus; token arrays filter to "
    "query terms BEFORE exploding, per-term partials round to 6dp and "
    "sum as exact decimal so ranking is engine-independent",
)
def q_bm25(spark, sf_dir):
    return text.bm25_topk(_t(spark, sf_dir, "documents"), _BM25_TERMS, k=10)


@register(
    "decontaminate_ngrams",
    """
    WITH tk AS (
      SELECT doc_id, list_filter(string_split(
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
               x -> x != '') AS tk
      FROM documents
    ), g AS (
      SELECT doc_id, md5(gram) AS gram_md5 FROM (
        SELECT doc_id, unnest(list_distinct(list_transform(
                 range(1, len(tk) - 2),
                 i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]
               ))) AS gram
        FROM tk WHERE len(tk) >= 4)
    )
    SELECT c.doc_id, COUNT(*) AS n_shared_grams
    FROM (SELECT doc_id, gram_md5 FROM g WHERE doc_id % 97 != 0) c
    JOIN (SELECT DISTINCT gram_md5 FROM g WHERE doc_id % 97 = 0) b
      USING (gram_md5)
    GROUP BY c.doc_id
    """,
    "Benchmark decontamination: corpus docs sharing any word 4-gram "
    "with the deterministic benchmark subset (doc_id % 97 == 0) — "
    "GPT-3-style n-gram screen; both sides reduce to md5 digests and "
    "the benchmark digest set broadcasts",
)
def q_decontaminate(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    benchmark = docs.filter(F.col("doc_id") % 97 == 0)
    return text.ngram_decontaminate(docs, benchmark, n=4)


@register(
    "decontaminate_bloom",
    """
    WITH tk AS (
      SELECT doc_id, list_filter(string_split(
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
               x -> x != '') AS tk
      FROM documents
    ), g AS (
      SELECT doc_id, md5(gram) AS gram_md5 FROM (
        SELECT doc_id, unnest(list_distinct(list_transform(
                 range(1, len(tk) - 2),
                 i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]
               ))) AS gram
        FROM tk WHERE len(tk) >= 4)
    )
    SELECT c.doc_id, COUNT(*) AS n_shared_grams
    FROM (SELECT doc_id, gram_md5 FROM g WHERE doc_id % 97 != 0) c
    JOIN (SELECT DISTINCT gram_md5 FROM g WHERE doc_id % 97 = 0) b
      USING (gram_md5)
    GROUP BY c.doc_id
    """,
    "Bloom-prefiltered decontamination for un-broadcastable benchmark "
    "digest sets: the filter is a bit_or-aggregated (word, bits) "
    "DataFrame (m/64 rows, broadcastable at any benchmark size); only "
    "bloom-surviving corpus grams reach the exact digest join, whose "
    "input becomes ∝ true contamination + fp rate instead of ∝ corpus "
    "grams. Superset-prefilter + exact-verify, so the oracle is the "
    "SAME SQL as decontaminate_ngrams — results must be bit-identical.",
)
def q_decontaminate_bloom(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    benchmark = docs.filter(F.col("doc_id") % 97 == 0)
    return text.ngram_decontaminate_bloom(docs, benchmark, n=4)


@register(
    "embedding_ivf_topk_verified",
    """
    WITH e AS (
      SELECT vec_id, embedding,
        least(greatest(CAST(floor((CAST(embedding[1] AS DOUBLE) + 0.6) / 0.3)
          AS BIGINT), 0), 3) AS c0,
        least(greatest(CAST(floor((CAST(embedding[2] AS DOUBLE) + 0.6) / 0.3)
          AS BIGINT), 0), 3) AS c1
      FROM embeddings
    ), cells AS (
      SELECT vec_id, embedding, c0 + 4 * c1 AS cell FROM e
    ), probe AS (
      SELECT DISTINCT vec_id AS query_id,
             least(greatest(c0 + dx, 0), 3)
               + 4 * least(greatest(c1 + dy, 0), 3) AS cell
      FROM e, (VALUES (-1), (0), (1)) ox(dx), (VALUES (-1), (0), (1)) oy(dy)
      WHERE vec_id < 5
    ), cand AS (
      SELECT p.query_id, c.vec_id AS neighbor_id,
             q.embedding AS qv, c.embedding AS ev
      FROM probe p
      JOIN cells c USING (cell)
      JOIN (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5) q
        ON q.vec_id = p.query_id
      WHERE c.vec_id != p.query_id
    ), sims AS (
      SELECT query_id, neighbor_id,
        round(
          list_sum(list_transform(list_zip(qv, ev),
            p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
          / (sqrt(list_sum(list_transform(qv,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
           * sqrt(list_sum(list_transform(ev,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
        4) AS cos_sim
      FROM cand
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rk AS BIGINT) AS rk FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk
      FROM sims
    ) WHERE rk <= 10
    """,
    "IVF ANN with a DETERMINISTIC grid coarse quantizer (4x4 over the "
    "first two components, Chebyshev-1 probe set as one array "
    "expression): the oracle regenerates list assignment, probing, and "
    "exact re-rank bit-for-bit — the hash-pinned twin of the KMeans "
    "ivf_topk (which stays the adaptive-quality, rows-only path).",
)
def q_embedding_ivf_grid(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    out = similarity.ivf_topk_grid(emb, [0, 1, 2, 3, 4], k=10)
    return out.withColumn("rk", F.col("rk").cast("long"))


@register(
    "lateral_top2_orders",
    """
    SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
    FROM (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING') c,
    LATERAL (SELECT o_orderkey, o_totalprice FROM orders
             WHERE o_custkey = c.c_custkey
             ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
    """,
    "Correlated LATERAL subquery join (Spark 4 lateral join support): "
    "top-2 orders per BUILDING-segment customer via a per-row "
    "correlated LIMIT — the SQL-surface twin of the rank-window top-k "
    "(Catalyst decorrelates it to a partitioned rank under the hood); "
    "identical syntax runs on both engines.",
)
def q_lateral_top2(spark, sf_dir):
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        FROM (SELECT c_custkey FROM customer
              WHERE c_mktsegment = 'BUILDING') c,
        LATERAL (SELECT o_orderkey, o_totalprice FROM orders
                 WHERE o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
        """
    )


@register(
    "recursive_cte_doc_ancestry",
    """
    WITH RECURSIVE walk AS (
      SELECT doc_id, doc_id AS node, 0 AS depth FROM documents
      UNION ALL
      SELECT doc_id, node // 2 AS node, depth + 1
      FROM walk WHERE node > 0
    )
    SELECT doc_id, CAST(max(depth) AS BIGINT) AS depth,
           CAST(count(*) AS BIGINT) AS chain_len
    FROM walk GROUP BY doc_id
    """,
    "Spark 4 RECURSIVE CTE (iterative plans expressed declaratively): "
    "walk each doc's halving ancestry chain to the root — strictly "
    "decreasing, so the UNION ALL recursion terminates. NOTE the "
    "honest engine limit this query documents: Spark 4.1 recursive "
    "CTEs support UNION ALL only, so CYCLIC transitive closure (the "
    "dedup_clusters oracle's UNION-distinct reachability) is not yet "
    "expressible recursively — the engine's iterative min-label / "
    "star-contraction operators remain the closure mechanism.",
)
def q_recursive_ancestry(spark, sf_dir):
    _t(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        """
        WITH RECURSIVE walk AS (
          SELECT doc_id, doc_id AS node, 0 AS depth FROM documents
          UNION ALL
          SELECT doc_id, node div 2 AS node, depth + 1
          FROM walk WHERE node > 0
        )
        SELECT doc_id, CAST(max(depth) AS BIGINT) AS depth,
               CAST(count(*) AS BIGINT) AS chain_len
        FROM walk GROUP BY doc_id
        """
    )


@register(
    "vocab_build_min5",
    """
    WITH tok AS (
      SELECT unnest(list_filter(string_split(
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
               x -> x != '')) AS token
      FROM documents
    ), c AS (
      SELECT token, count(*) AS n FROM tok GROUP BY token
      HAVING count(*) >= 5
    )
    SELECT token, n,
           CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT)
             AS vocab_id
    FROM c
    """,
    "Tokenizer-training vocabulary: corpus-wide token counts filtered "
    "at min_count=5, dense vocab ids in (count desc, token) order — "
    "ranked via the PARALLEL prefix-sum over an order-encoding key "
    "(never a single-partition row_number window); the oracle states "
    "the same ranking as the naive window.",
)
def q_vocab_build(spark, sf_dir):
    return text.build_vocab(_t(spark, sf_dir, "documents"), min_count=5)


@register(
    "table_stats_orders",
    """
    SELECT 'o_custkey' AS col_name, count(*) AS n_rows,
           count(*) - count(o_custkey) AS n_nulls,
           count(DISTINCT o_custkey) AS ndv,
           CAST(min(o_custkey) AS VARCHAR) AS min_s,
           CAST(max(o_custkey) AS VARCHAR) AS max_s
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
           count(DISTINCT o_orderstatus),
           CAST(min(o_orderstatus) AS VARCHAR),
           CAST(max(o_orderstatus) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
           count(DISTINCT o_totalprice),
           CAST(CAST(min(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR),
           CAST(CAST(max(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderdate', count(*), count(*) - count(o_orderdate),
           count(DISTINCT o_orderdate),
           CAST(min(o_orderdate) AS VARCHAR),
           CAST(max(o_orderdate) AS VARCHAR)
    FROM orders
    """,
    "ANALYZE-style per-column statistics (rows, nulls, exact NDV, "
    "min/max) for four orders columns in ONE scan + one reduce: a "
    "single agg row of 4x4 metrics unpivoted via stack() — the stats a "
    "cost-based optimizer ingests; doubles stringify through a "
    "DECIMAL(18,2) cast so both engines format identically.",
)
def q_table_stats(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    cols = ["o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"]
    aggs = []
    for c in cols:
        mn, mx = F.min(c), F.max(c)
        if c == "o_totalprice":
            mn = mn.cast("decimal(18,2)")
            mx = mx.cast("decimal(18,2)")
        aggs += [
            F.count(F.lit(1)).alias(f"n_{c}"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"nn_{c}"),
            F.count_distinct(F.col(c)).alias(f"ndv_{c}"),
            mn.cast("string").alias(f"mn_{c}"),
            mx.cast("string").alias(f"mx_{c}"),
        ]
    one = orders.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', n_{c}, nn_{c}, ndv_{c}, mn_{c}, mx_{c}" for c in cols
    )
    return one.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS "
            "(col_name, n_rows, n_nulls, ndv, min_s, max_s)"
        )
    )


@register(
    "train_val_test_split",
    """
    WITH d AS (
      SELECT doc_id, n_chars,
             CAST(('0x' || substring(
               md5('split' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 1000 AS h
      FROM documents
    )
    SELECT CASE WHEN h < 800 THEN 'train'
                WHEN h < 900 THEN 'val' ELSE 'test' END AS split,
           count(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           min(doc_id) AS first_doc
    FROM d GROUP BY 1
    """,
    "Reproducible 80/10/10 train/val/test assignment: the md5 permille "
    "draw (hash_sample construction, salted 'split') is rerun-stable, "
    "coordination-free, and leak-proof under re-partitioning — the "
    "oracle draws the identical split; narrow no-shuffle assignment + "
    "one agg exchange.",
)
def q_train_val_test(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    h = F.pmod(
        F.conv(
            F.substring(F.md5(F.concat(F.lit("split"), F.col("doc_id").cast("string"))), 1, 8),
            16,
            10,
        ).cast("bigint"),
        F.lit(1000),
    )
    split = (
        F.when(h < 800, F.lit("train")).when(h < 900, F.lit("val")).otherwise(F.lit("test"))
    )
    return (
        docs.select(split.alias("split"), "n_chars", "doc_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.min("doc_id").alias("first_doc"),
        )
    )


@register(
    "zorder_locality_orders",
    """
    WITH d AS (
      SELECT o_custkey % 1024 AS a, o_orderkey % 1024 AS b FROM orders
    ), s0 AS (
      SELECT a, b, (a & 65535) AS xa, (b & 65535) AS xb FROM d
    ), s1 AS (
      SELECT a, b, ((xa | (xa << 8)) & 16711935) AS xa,
                   ((xb | (xb << 8)) & 16711935) AS xb FROM s0
    ), s2 AS (
      SELECT a, b, ((xa | (xa << 4)) & 252645135) AS xa,
                   ((xb | (xb << 4)) & 252645135) AS xb FROM s1
    ), s3 AS (
      SELECT a, b, ((xa | (xa << 2)) & 858993459) AS xa,
                   ((xb | (xb << 2)) & 858993459) AS xb FROM s2
    ), s4 AS (
      SELECT a, b, ((xa | (xa << 1)) & 1431655765) AS xa,
                   ((xb | (xb << 1)) & 1431655765) AS xb FROM s3
    ), z AS (
      SELECT a, b, (xa | (xb << 1)) AS zkey FROM s4
    )
    SELECT zkey >> 14 AS zbucket, count(*) AS n,
           min(a) AS min_a, max(a) AS max_a,
           min(b) AS min_b, max(b) AS max_b
    FROM z GROUP BY 1
    """,
    "Z-order (Morton) layout key over two independent dimensions "
    "(custkey mod 1024, orderkey mod 1024): per coarse z-bucket, both "
    "dims' min/max spans stay narrow — the property that makes parquet "
    "row-group stats prune on EITHER predicate after a zkey-sorted "
    "write; the bit-spread arithmetic is replicated literally by the "
    "oracle.",
)
def q_zorder_locality(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    a = (F.col("o_custkey") % 1024).alias("a")
    b = (F.col("o_orderkey") % 1024).alias("b")
    z = orders.select(a, b).select(
        "a", "b", relational.zorder_key(F.col("a"), F.col("b")).alias("zkey")
    )
    return (
        z.groupBy(F.shiftright(F.col("zkey"), 14).alias("zbucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("a").alias("min_a"),
            F.max("a").alias("max_a"),
            F.min("b").alias("min_b"),
            F.max("b").alias("max_b"),
        )
    )


@register(
    "redact_pii_customers",
    """
    WITH pii AS (
      SELECT c_custkey, concat_ws(' ', c_name,
               lower(regexp_replace(c_name, '[^A-Za-z0-9]', '.', 'g'))
                 || '@example.com',
               '+1 555-' || lpad(CAST(c_custkey AS VARCHAR), 4, '0'),
               '10.0.' || CAST(c_custkey % 256 AS VARCHAR) || '.7') AS t
      FROM customer
    )
    SELECT c_custkey,
      regexp_replace(regexp_replace(regexp_replace(t,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'),
        '\\+?\\d[\\d\\-\\s]{6,}\\d', '<PHONE>', 'g') AS redacted,
      CAST(len(regexp_extract_all(t,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
      CAST(len(regexp_extract_all(t,
        '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS BIGINT) AS n_ip,
      CAST(len(regexp_extract_all(t,
        '\\+?\\d[\\d\\-\\s]{6,}\\d')) AS BIGINT) AS n_phone
    FROM pii
    """,
    "PII redaction battery: emails, IPv4s, and phone-like digit runs "
    "replaced with typed placeholders over a deterministically "
    "synthesized PII-laden string (the parquet fixtures carry no real "
    "PII, so the query builds one from customer rows with the same "
    "expressions in both engines); patterns live in the Java-regex ∩ "
    "RE2 common subset and apply in a pinned order (emails before "
    "phones so digits aren't half-consumed); counts are taken on the "
    "pre-redaction text. Narrow projection, zero exchanges.",
)
def q_redact_pii(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    pii = F.concat_ws(
        " ",
        F.col("c_name"),
        F.concat(
            F.lower(F.regexp_replace(F.col("c_name"), "[^A-Za-z0-9]", ".")),
            F.lit("@example.com"),
        ),
        F.concat(F.lit("+1 555-"), F.lpad(F.col("c_custkey").cast("string"), 4, "0")),
        F.concat(
            F.lit("10.0."), (F.col("c_custkey") % 256).cast("string"), F.lit(".7")
        ),
    )
    base = cust.select("c_custkey", pii.alias("text"))
    return text.redact_pii_docs(base, text_col="text", id_col="c_custkey")


@register(
    "scd2_user_event_type",
    """
    WITH o AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER w AS prev_t,
             row_number() OVER w AS rn
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), c AS (
      SELECT * FROM o WHERE rn = 1 OR event_type IS DISTINCT FROM prev_t
    )
    SELECT user_id, event_type, ts AS valid_from,
           coalesce(lead(ts) OVER w2, TIMESTAMP '2099-12-31 00:00:00')
             AS valid_to,
           CAST(row_number() OVER w2 AS BIGINT) AS version,
           lead(ts) OVER w2 IS NULL AS is_current
    FROM c WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    "Type-2 SCD history rebuilt from the event log (CDC pattern): per "
    "user, consecutive duplicate event_types collapse as no-op updates, "
    "survivors are effective-dated valid_from/valid_to with a version "
    "ordinal and an is_current flag; ONE exchange on user_id — the "
    "change-detect lag and the effective-dating lead/row_number windows "
    "share a sort; event_id tie-break pins duplicate-timestamp order.",
)
def q_scd2_user_event_type(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = relational.scd2_history(
        ev, "user_id", "ts", ["event_type"], tiebreak="event_id"
    )
    # warehouse-idiomatic open-end sentinel instead of NULL, so the
    # driver's value hash never covers a nullable timestamp column
    return out.withColumn(
        "valid_to",
        F.coalesce(F.col("valid_to"), F.lit("2099-12-31 00:00:00").cast("timestamp")),
    )


@register(
    "variant_extract_events",
    """
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) IS NOT NULL
    GROUP BY event_type
    """,
    "Spark 4 native VARIANT path: parse_json once into a variant column, "
    "variant_get typed extraction (vs the string-re-parsing "
    "get_json_object in json_extract_events) — the binary variant "
    "encoding is parsed once per row, then every extraction is a "
    "tree walk, the semi-structured contract at 100 TB",
)
def q_variant_extract(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select("event_type", "props")
    return (
        ev.select("event_type", F.parse_json("props").alias("_v"))
        .select(
            "event_type", F.variant_get("_v", "$.k", "long").alias("k")
        )
        .filter(F.col("k").isNotNull())
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("k").alias("sum_k"))
    )


@register(
    "window_range_frame_orders",
    """
    SELECT o_orderkey, o_custkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate
             RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS rev_30d
    FROM orders
    """,
    "RANGE window frame (value-based, not row-based): per-customer "
    "30-day trailing revenue — peers at the same date aggregate "
    "identically, so the frame is deterministic under any row order; "
    "exact-decimal sum keeps the double cross-engine-identical",
)
def q_window_range_frame(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").cast("timestamp").cast("long"))
        .rangeBetween(-30 * 86400, 0)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .over(w)
        .cast("double")
        .alias("rev_30d"),
    )


@register(
    "salted_collect_priorities",
    """
    SELECT o_custkey,
           string_agg(o_orderpriority, ',' ORDER BY o_orderpriority)
             AS priorities
    FROM orders
    WHERE o_custkey % 50 = 0
    GROUP BY o_custkey
    """,
    "Two-phase salted collect_list (skewed HOLISTIC agg): phase 1 "
    "collects partial lists per (key, pmod(xxhash64(value), 8)) so a "
    "hot key spreads over 8 reducers, phase 2 flattens at most 8 "
    "partials per key; canonical sort_array order makes the result "
    "engine-reproducible. Oracle = the plain ordered aggregation — "
    "salting must be result-invisible",
)
def q_salted_collect(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") % 50 == 0)
    out = relational.salted_collect(o, ["o_custkey"], "o_orderpriority", n_salts=8)
    return out.select(
        "o_custkey", F.array_join("values", ",").alias("priorities")
    )


# ---------------------------------------------------------------------------
# Time-series resampling (hypertable-style bucketing, r05 continuation)
# ---------------------------------------------------------------------------


@register(
    "resample_gapfill_events",
    """
    WITH b AS (
      SELECT event_type AS series_key, date_trunc('hour', ts) AS bucket_ts,
             COUNT(value) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
               / CAST(COUNT(value) AS DOUBLE) AS avg_value
      FROM events GROUP BY 1, 2
    ), ext AS (
      SELECT series_key, min(bucket_ts) AS lo, max(bucket_ts) AS hi
      FROM b GROUP BY 1
    ), spine AS (
      SELECT series_key,
             unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket_ts
      FROM ext
    ), j AS (
      SELECT s.series_key, s.bucket_ts, b.n_events, b.avg_value
      FROM spine s LEFT JOIN b USING (series_key, bucket_ts)
    ), f AS (
      SELECT series_key, bucket_ts, COALESCE(n_events, 0) AS n_events,
        avg_value,
        last_value(avg_value IGNORE NULLS) OVER (
          PARTITION BY series_key ORDER BY bucket_ts
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_value,
        last_value(CASE WHEN avg_value IS NOT NULL THEN
            struct_pack(e := epoch(bucket_ts), v := avg_value) END IGNORE NULLS)
          OVER (PARTITION BY series_key ORDER BY bucket_ts
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_s,
        first_value(CASE WHEN avg_value IS NOT NULL THEN
            struct_pack(e := epoch(bucket_ts), v := avg_value) END IGNORE NULLS)
          OVER (PARTITION BY series_key ORDER BY bucket_ts
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_s
      FROM j
    )
    SELECT series_key, bucket_ts, n_events, avg_value, locf_value,
      CASE WHEN avg_value IS NOT NULL THEN avg_value
           WHEN prev_s IS NOT NULL AND next_s IS NOT NULL THEN
             prev_s.v + (next_s.v - prev_s.v)
               * ((CAST(epoch(bucket_ts) AS DOUBLE) - CAST(prev_s.e AS DOUBLE))
                  / (CAST(next_s.e AS DOUBLE) - CAST(prev_s.e AS DOUBLE)))
      END AS interp_value,
      avg_value IS NULL AS is_gap
    FROM f
    """,
    "TimescaleDB-style time_bucket + gap-fill: dense per-type hourly "
    "spine (sequence() per key — distributed, span-proportional, no "
    "driver loop), empty buckets filled by LOCF and by linear "
    "interpolation between the surrounding observed buckets; bucket "
    "averages use the exact decimal-sum rule so the fill arithmetic is "
    "cross-engine bit-equal",
)
def q_resample_gapfill(spark, sf_dir):
    return timeseries.resample_gapfill(
        _t(spark, sf_dir, "events"), "event_type", "ts", "value", unit="hour"
    )


@register(
    "rollup_hour_day_compose",
    """
    SELECT event_type AS series_key, date_trunc('day', ts) AS bucket_ts,
           COUNT(value) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
             / CAST(COUNT(value) AS DOUBLE) AS avg_value
    FROM events GROUP BY 1, 2
    """,
    "Continuous-aggregate composition: the daily rollup is computed "
    "FROM the hourly rollup's mergeable partials (sum-of-decimal-sums, "
    "sum-of-counts), never from raw rows — at 100 TB the raw table is "
    "scanned once for the finest grain and every coarser grain "
    "composes from it. Oracle computes daily DIRECTLY from raw: "
    "composition must be result-invisible",
)
def q_rollup_compose(spark, sf_dir):
    hourly = timeseries.bucket_partials(
        _t(spark, sf_dir, "events"), "event_type", "ts", "value", unit="hour"
    )
    return timeseries.reaggregate(hourly, unit="day")


@register(
    "boilerplate_gram_screen",
    """
    WITH tk AS (
      SELECT doc_id, list_filter(string_split(
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
               x -> x != '') AS tk
      FROM documents
    ), g AS (
      SELECT DISTINCT doc_id, md5(gram) AS gram_md5 FROM (
        SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1),
                 i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS gram
        FROM tk WHERE len(tk) >= 3)
    ), hot AS (
      SELECT gram_md5 FROM g GROUP BY gram_md5 HAVING COUNT(*) >= 3
    ), per_doc AS (
      SELECT g.doc_id, COUNT(*) AS n_grams, COUNT(h.gram_md5) AS n_dup_grams
      FROM g LEFT JOIN hot h USING (gram_md5) GROUP BY g.doc_id
    ), j AS (
      SELECT d.doc_id,
             CAST(COALESCE(n_grams, 0) AS BIGINT) AS n_grams,
             CAST(COALESCE(n_dup_grams, 0) AS BIGINT) AS n_dup_grams
      FROM documents d LEFT JOIN per_doc USING (doc_id)
    )
    SELECT doc_id, n_grams, n_dup_grams,
           CASE WHEN n_grams > 0 THEN
             round(CAST(n_dup_grams AS DOUBLE) / CAST(n_grams AS DOUBLE), 6)
           END AS dup_frac,
           COALESCE(CASE WHEN n_grams > 0 THEN
             round(CAST(n_dup_grams AS DOUBLE) / CAST(n_grams AS DOUBLE), 6)
               <= 0.3 END, TRUE) AS keep
    FROM j
    """,
    "Within-corpus repeated-substring screen (C4 boilerplate rule / "
    "Lee et al. 2021 at 3-gram granularity): per doc, the fraction of "
    "its distinct 3-grams occurring in >= 3 documents. Both sides "
    "reduce to md5 digests; the hot set (∝ shared boilerplate, not "
    "corpus size) broadcasts back — no corpus self-join",
)
def q_boilerplate_screen(spark, sf_dir):
    return text.duplicate_gram_screen(
        _t(spark, sf_dir, "documents"), n=3, min_docs=3, max_dup_frac=0.3
    )


@register(
    "bigram_lm_score",
    """
    WITH tk AS (
      SELECT doc_id, list_filter(string_split(
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
               x -> x != '') AS tk
      FROM documents
    ), db AS (
      SELECT doc_id, gram AS bigram, COUNT(*) AS cnt FROM (
        SELECT doc_id, unnest(list_transform(range(1, len(tk)),
                 i -> tk[i] || ' ' || tk[i+1])) AS gram
        FROM tk WHERE len(tk) >= 2)
      GROUP BY doc_id, gram
    ), c12 AS (
      SELECT bigram, SUM(cnt) AS c12 FROM db GROUP BY bigram
    ), c1 AS (
      SELECT split_part(bigram, ' ', 1) AS w1, SUM(c12) AS c1
      FROM c12 GROUP BY 1
    ), v AS (
      SELECT COUNT(DISTINCT t) AS v FROM (SELECT unnest(tk) AS t FROM tk)
    ), sc AS (
      SELECT db.doc_id, db.cnt,
        CAST(db.cnt AS DECIMAL(10,0)) * CAST(round(
          -ln((CAST(c12.c12 AS DOUBLE) + 1.0)
              / (CAST(c1.c1 AS DOUBLE) + CAST(v.v AS DOUBLE))), 6)
          AS DECIMAL(18,6)) AS p
      FROM db JOIN c12 USING (bigram)
      JOIN c1 ON split_part(db.bigram, ' ', 1) = c1.w1
      CROSS JOIN v
    )
    SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
           round(CAST(SUM(p) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE), 4)
             AS avg_nll
    FROM sc GROUP BY doc_id
    """,
    "CCNet-style LM quality score: corpus-trained add-one bigram LM, "
    "per-doc average negative log-likelihood (the perplexity filter). "
    "Doc bigrams aggregate to multiplicities before the model join; "
    "per-term nll rounds to 6dp and decimal-sums (the BM25 rule) so "
    "scores are engine-independent",
)
def q_bigram_lm(spark, sf_dir):
    return text.bigram_lm_score(_t(spark, sf_dir, "documents"))


def _pagerank_oracle(iters: int = 5) -> str:
    """Unrolled fixed-iteration PageRank as chained CTEs over the shared
    co-occurrence pair CTE — the oracle runs the IDENTICAL five rounds
    the engine's dataflow loop runs. All arithmetic is fixed-point
    integer (1e-12 units, floor division — see operators/graph.py: a
    float formulation hit systematic decimal-half rounding-tie
    divergence between the engines), so every rank bit matches by
    construction."""
    steps = []
    prev = "r0"
    for k in range(1, iters + 1):
        steps.append(f"""
    s{k} AS (
      SELECT e.dst AS node, CAST(SUM(r.rank_units // d.deg) AS BIGINT) AS s
      FROM e JOIN {prev} r ON e.src = r.node JOIN deg d ON e.src = d.src
      GROUP BY e.dst
    ), r{k} AS (
      SELECT r0.node,
             CAST((15 * 1000000000000) // (100 * nn.n)
                  + (85 * COALESCE(s{k}.s, 0)) // 100 AS BIGINT) AS rank_units
      FROM r0 LEFT JOIN s{k} USING (node) CROSS JOIN nn
    )""")
        prev = f"r{k}"
    return f"""
    {_COOC_CTE}, e AS (
      SELECT DISTINCT item AS src, neighbor AS dst FROM pairs
        WHERE item != neighbor
      UNION
      SELECT DISTINCT neighbor AS src, item AS dst FROM pairs
        WHERE item != neighbor
    ), deg AS (
      SELECT src, COUNT(*) AS deg FROM e GROUP BY src
    ), nn AS (
      SELECT COUNT(*) AS n FROM deg
    ), r0 AS (
      SELECT src AS node,
             CAST(1000000000000 // nn.n AS BIGINT) AS rank_units
      FROM deg CROSS JOIN nn
    ),{",".join(steps)}
    SELECT node, rank_units,
           CAST(rank_units AS DOUBLE) / 1000000000000.0 AS rank
    FROM {prev}
    """


@register(
    "pagerank_cooccurrence",
    _pagerank_oracle(iters=5),
    "Fixed-iteration (5-round) PageRank over the symmetrized "
    "co-occurrence item graph — 'which item is central to the catalog', "
    "the eigenvector companion to the reference's conditional "
    "probabilities. Pure dataflow (each round = join on src + per-dst "
    "agg; state is 16-byte (node, rank) rows; edges partitioned by src "
    "once); fixed-point 1e-12-unit integer arithmetic end to end — "
    "float rounding hits engine-divergent decimal-half ties, floor "
    "division cannot",
)
def q_pagerank(spark, sf_dir):
    from .operators import graph

    pr = graph.pagerank(_cooc_sym_edges(spark, sf_dir), iters=5)
    return _decode_nodes(spark, sf_dir, pr, "node")


# The graph family's one node encoding (graph.node_codes): every
# lineitem partkey, as the basket string baskets_from_lineitem makes of
# it, maps to its INT rank in string order. Code order IS string order,
# so the order-bearing outputs (min-label communities, the BFS min-id
# seed, canonical item_a < item_b, the wedge tie-breaks) are unchanged,
# while every round shuffles 4-byte keys. Outputs that carry ids decode
# them through _decode_nodes; count-only outputs never decode.
@_pinned("node_codes")
def _node_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import graph

    li = _t(spark, sf_dir, "lineitem")
    return graph.node_codes(li.select("l_partkey")).localCheckpoint(eager=True)


def _decode_nodes(spark: SparkSession, sf_dir: str, df: DataFrame, *cols: str):
    from .operators import graph

    return graph.decode_nodes(df, _node_codes(spark, sf_dir), *cols)


# pagerank, label propagation, seeded PPR, k-core peeling, sampled
# triangle counting and the SCAN/truss sigma pin iterate over the SAME
# symmetrized co-occurrence edge list (basket explode + canonical
# distinct over lineitem, ~3.4 s at sf0.1), encoded once through the
# node dictionary. This is also the honest 100 TB shape: materialize the
# co-occurrence graph once, run the graph algorithms against it.
@_pinned("cooc_sym_edges")
def _cooc_sym_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import graph

    baskets = basket.baskets_from_lineitem(_t(spark, sf_dir, "lineitem"))
    edges = graph.symmetric_edges(basket.basket_pairs(baskets))
    return graph.encode_nodes(
        edges, _node_codes(spark, sf_dir), "src", "dst"
    ).localCheckpoint(eager=True)


@register(
    "sequence_pack_512",
    """
    WITH t AS (
      SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS k,
             CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
               x -> x != '')) AS BIGINT) AS n_tokens
      FROM documents
    ), c AS (
      SELECT doc_id, n_tokens,
             SUM(n_tokens) OVER (ORDER BY k
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM t WHERE n_tokens >= 1
    ), s AS (
      SELECT doc_id, CAST(cum - n_tokens AS BIGINT) AS st,
             CAST(cum - 1 AS BIGINT) AS en FROM c
    ), p AS (
      SELECT doc_id, st, en,
             unnest(generate_series(st // 512, en // 512)) AS seq_id
      FROM s
    )
    SELECT doc_id, CAST(seq_id AS BIGINT) AS seq_id,
           CAST(greatest(st, seq_id * 512) - st AS BIGINT) AS doc_offset,
           CAST(greatest(st, seq_id * 512) - seq_id * 512 AS BIGINT)
             AS seq_offset,
           CAST(least(en, (seq_id + 1) * 512 - 1)
                - greatest(st, seq_id * 512) + 1 AS BIGINT) AS piece_len
    FROM p
    """,
    "GPT-style concat-and-chunk sequence packing: the corpus token "
    "stream (md5(id) order) cut into 512-token training sequences, one "
    "row per (document, sequence) piece with doc/seq offsets — the "
    "padding-free pretraining layout, computed via the parallel "
    "prefix-sum (never a single-partition window) + span explode; "
    "all-integer, bit-exact cross-engine",
)
def q_sequence_pack(spark, sf_dir):
    return text.sequence_pack(_t(spark, sf_dir, "documents"), seq_len=512)


@register(
    "value_histogram_events",
    """
    WITH b AS (
      SELECT event_type, CAST(floor(value / 50.0) AS BIGINT) AS bin,
             COUNT(*) AS cnt
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, bin,
           bin * 50.0 AS bin_lo, (bin + 1) * 50.0 AS bin_hi, cnt,
           CAST(cnt AS DOUBLE) / CAST(SUM(cnt) OVER (
             PARTITION BY event_type) AS DOUBLE) AS share
    FROM b
    """,
    "Fixed-width value histogram per event type (profiling primitive): "
    "floor-arithmetic binning (no width_bucket dependency — identical "
    "expression both engines), per-bin share via a window over the "
    "REDUCED per-(type, bin) rows; raw events never shuffle (map-side "
    "partial agg)",
)
def q_value_histogram(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    b = (
        ev.groupBy(
            "event_type",
            F.floor(F.col("value") / F.lit(50.0)).cast("bigint").alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("event_type")
    return b.select(
        "event_type",
        "bin",
        (F.col("bin") * 50.0).alias("bin_lo"),
        ((F.col("bin") + 1) * 50.0).alias("bin_hi"),
        "cnt",
        (F.col("cnt").cast("double") / F.sum("cnt").over(w).cast("double")).alias(
            "share"
        ),
    )


@register(
    "agg_corr_regression",
    """
    WITH s AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             -- products cast to DECIMAL(19,4): (19,4)x(19,4) -> (38,8)
             -- forces int128 storage (DuckDB's int64 DECIMAL(18) path
             -- overflows in the raw multiply); same rationals as the
             -- engine's (18,4) products. Every decimal-to-double goes
             -- VIA VARCHAR: DuckDB's direct int128-decimal cast is NOT
             -- correctly rounded (off by 1 ulp on 2/3 groups here),
             -- while parsing the exact decimal string is — matching
             -- Spark's BigDecimal.doubleValue. The 1-ulp input error
             -- would otherwise amplify through the cancellation in
             -- (n*sxy - sx*sy).
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR)
               AS DOUBLE) AS sx,
             CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR)
               AS DOUBLE) AS sy,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(19,4))
                      * CAST(l_extendedprice AS DECIMAL(19,4))) AS VARCHAR)
               AS DOUBLE) AS sxy,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(19,4))
                      * CAST(l_quantity AS DECIMAL(19,4))) AS VARCHAR)
               AS DOUBLE) AS sxx,
             CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,4))
                      * CAST(l_extendedprice AS DECIMAL(19,4))) AS VARCHAR)
               AS DOUBLE) AS syy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
           (n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
             AS corr_qty_price,
           (n * sxy - sx * sy) / (n * n) AS covar_pop,
           (n * sxy - sx * sy) / (n * sxx - sx * sx) AS beta
    FROM s ORDER BY l_returnflag
    """,
    "Correlation / covariance / regression slope per group WITHOUT the "
    "builtin corr() (whose double accumulation is partitioning-"
    "dependent): all five moments are exact decimal sums (products of "
    "4dp decimals are exact 8dp decimals), combined in one deterministic "
    "double expression at the end — the engine-independent formulation "
    "of Pearson r; oracle states the identical formula",
)
def q_agg_corr(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    dq = F.col("l_quantity").cast("decimal(18,4)")
    dp = F.col("l_extendedprice").cast("decimal(18,4)")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(dq).cast("double").alias("sx"),
        F.sum(dp).cast("double").alias("sy"),
        F.sum(dq * dp).cast("double").alias("sxy"),
        F.sum(dq * dq).cast("double").alias("sxx"),
        F.sum(dp * dp).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    num = n * sxy - sx * sy
    return s.select(
        "l_returnflag",
        n.cast("bigint").alias("n_rows"),
        (num / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))).alias(
            "corr_qty_price"
        ),
        (num / (n * n)).alias("covar_pop"),
        (num / (n * sxx - sx * sx)).alias("beta"),
    ).orderBy("l_returnflag")


@register(
    "cooccurrence_sessions",
    """
    WITH x AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, ts, event_id, event_type,
             SUM(is_new) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS session_id
      FROM x
    ), pos AS (
      SELECT user_id, session_id, event_type AS item,
             row_number() OVER (
               PARTITION BY user_id, session_id ORDER BY ts, event_id
             ) AS pos
      FROM s
    ), ext AS (
      SELECT user_id, session_id, item, pos,
             count(*) OVER (PARTITION BY user_id, session_id) AS n_items,
             min(pos) OVER (
               PARTITION BY user_id, session_id, item ORDER BY pos
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
             ) AS next_same_pos
      FROM pos
    ), sp AS (
      SELECT c.item, n.item AS neighbor
      FROM ext c
      JOIN pos n ON n.user_id = c.user_id AND n.session_id = c.session_id
                AND n.pos > c.pos
                AND n.pos < COALESCE(c.next_same_pos, 2147483647)
      WHERE c.pos < c.n_items
    ), counts AS (
      SELECT item, neighbor, count(*) AS pair_cnt FROM sp
      GROUP BY item, neighbor
    )
    SELECT item, neighbor, pair_cnt,
           CAST(pair_cnt AS DOUBLE)
             / CAST(sum(pair_cnt) OVER (PARTITION BY item) AS DOUBLE) AS prob
    FROM counts
    """,
    "The reference's windowed co-occurrence semantics applied to "
    "BEHAVIORAL sessions: gap-sessionized event streams become baskets "
    "(items = event types in (ts, event_id) order), then the identical "
    "pair machinery — P(next action | action) within a session. "
    "Composition of two existing operators in one plan: the sessionize "
    "exchange on user_id feeds the collect_list on (user, session) "
    "(same key prefix), then pair generation stays a pure array "
    "expression",
)
def q_cooccurrence_sessions(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    s = relational.sessionize(ev, "user_id", "ts", 1800, "event_id")
    item = F.struct(
        F.unix_micros(F.col("ts")).alias("t"),
        F.col("event_id").alias("e"),
        F.col("event_type").alias("v"),
    )
    baskets = (
        s.groupBy("user_id", "session_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(item)), lambda x: x["v"]
            ).alias("items")
        )
    )
    return basket.cooccurrence_pairs(baskets.select("items"))


@register(
    "anomaly_zscore_events",
    """
    WITH s AS (
      SELECT event_type,
             CAST(COUNT(value) AS DOUBLE) AS n,
             CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR)
               AS DOUBLE) AS sx,
             CAST(CAST(SUM(CAST(value AS DECIMAL(19,4))
                           * CAST(value AS DECIMAL(19,4))) AS VARCHAR)
               AS DOUBLE) AS sxx
      FROM events GROUP BY event_type
    ), z AS (
      SELECT e.event_id, e.event_type, e.value,
             (e.value - s.sx / s.n)
               / sqrt(s.sxx / s.n - (s.sx / s.n) * (s.sx / s.n)) AS zscore
      FROM events e JOIN s USING (event_type)
    )
    SELECT event_id, event_type, value, zscore
    FROM z WHERE abs(zscore) > 3.0
    """,
    "Statistical outlier screen (data-cleaning primitive): per-event "
    "z-score against its type's mean/std computed from EXACT decimal "
    "moment sums (the builtin stddev's double accumulation is "
    "partitioning-dependent) — the tiny per-type stats table broadcasts "
    "back onto the scan, so flagging is one pass; decimal-to-double "
    "goes via VARCHAR in the oracle (DuckDB's direct int128 cast is "
    "not correctly rounded)",
)
def q_anomaly_zscore(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    dv = F.col("value").cast("decimal(18,4)")
    s = ev.groupBy("event_type").agg(
        F.count("value").cast("double").alias("n"),
        F.sum(dv).cast("double").alias("sx"),
        F.sum(dv * dv).cast("double").alias("sxx"),
    )
    mean = F.col("sx") / F.col("n")
    std = F.sqrt(F.col("sxx") / F.col("n") - mean * mean)
    z = (F.col("value") - mean) / std
    return (
        ev.join(F.broadcast(s), "event_type")
        .select("event_id", "event_type", "value", z.alias("zscore"))
        .filter(F.abs(F.col("zscore")) > 3.0)
    )


@register(
    "diverse_sample_embeddings",
    """
    WITH e AS (
      SELECT vec_id,
        least(greatest(CAST(floor((CAST(embedding[1] AS DOUBLE) + 0.6) / 0.3)
          AS BIGINT), 0), 3)
        + 4 * least(greatest(CAST(floor((CAST(embedding[2] AS DOUBLE) + 0.6)
          / 0.3) AS BIGINT), 0), 3) AS cell
      FROM embeddings
    ), c AS (
      SELECT vec_id, cell,
             COUNT(*) OVER (PARTITION BY cell) AS cell_n,
             row_number() OVER (
               PARTITION BY cell
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
      FROM e
    )
    SELECT vec_id, cell, CAST(cell_n AS BIGINT) AS cell_n
    FROM c WHERE rk <= 5
    """,
    "Diversity-aware sampling over the embedding space (SemDeDup-"
    "adjacent curation): deterministic grid-cell assignment (the "
    "verified IVF quantizer) + first-5 per cell in md5(id) order — "
    "dense regions downsample hard, sparse regions are preserved; the "
    "whole draw is bit-stable across engines and reruns, and the "
    "oracle regenerates it exactly",
)
def q_diverse_sample(spark, sf_dir):
    return similarity.semantic_diverse_sample(
        _t(spark, sf_dir, "embeddings"), per_cell=5
    )


@register(
    "window_percentile_norm",
    """
    SELECT doc_id, source, n_chars,
           percent_rank() OVER w AS pr,
           cume_dist() OVER w AS cd,
           CAST(ntile(10) OVER w AS BIGINT) AS decile
    FROM documents
    WINDOW w AS (PARTITION BY source ORDER BY n_chars, doc_id)
    """,
    "Per-source percentile normalization (cross-source score "
    "calibration — quantile-normalize before mixing sources whose raw "
    "scores aren't comparable): percent_rank / cume_dist / decile over "
    "a total order (doc_id tiebreak makes every rank deterministic); "
    "the ratios are divisions of small ints — bit-equal cross-engine",
)
def q_window_percentile_norm(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    return d.select(
        "doc_id",
        "source",
        "n_chars",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
        F.ntile(10).over(w).cast("bigint").alias("decile"),
    )


@register(
    "tfidf_cosine_pairs",
    """
    WITH tk AS (
      SELECT doc_id, list_filter(string_split(
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
               x -> x != '') AS tk
      FROM documents
    ), g AS (
      SELECT doc_id, gram, COUNT(*) AS tf FROM (
        SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1),
                 i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS gram
        FROM tk WHERE len(tk) >= 3)
      GROUP BY 1, 2
    ), dfreq AS (
      SELECT gram, COUNT(*) AS df FROM g GROUP BY gram
    ), nd AS (
      SELECT COUNT(DISTINCT doc_id) AS nd FROM documents
    ), w AS (
      SELECT g.doc_id, g.gram,
             CAST(g.tf * CAST(round(ln(1.0 + CAST(nd.nd AS DOUBLE)
               / CAST(dfreq.df AS DOUBLE)), 6) AS DECIMAL(18,6))
               AS DECIMAL(12,6)) AS w
      FROM g JOIN dfreq USING (gram) CROSS JOIN nd
    ), norms AS (
      SELECT doc_id,
             sqrt(CAST(CAST(SUM(w * w) AS VARCHAR) AS DOUBLE)) AS nrm
      FROM w GROUP BY doc_id
    ), rare AS (
      SELECT gram FROM dfreq WHERE df BETWEEN 2 AND 3
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM g a JOIN rare USING (gram) JOIN g b USING (gram)
      WHERE a.doc_id < b.doc_id
    ), dots AS (
      SELECT c.doc_a, c.doc_b,
             CAST(CAST(SUM(wa.w * wb.w) AS VARCHAR) AS DOUBLE) AS dot
      FROM cand c
      JOIN w wa ON wa.doc_id = c.doc_a
      JOIN w wb ON wb.doc_id = c.doc_b AND wb.gram = wa.gram
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT d.doc_a, d.doc_b, d.dot / (na.nrm * nb.nrm) AS cos_sim
    FROM dots d
    JOIN norms na ON na.doc_id = d.doc_a
    JOIN norms nb ON nb.doc_id = d.doc_b
    WHERE d.dot / (na.nrm * nb.nrm) >= 0.1
    """,
    "Weighted lexical near-dup pairs: TF-IDF cosine over 3-gram "
    "features (the AllPairs problem) with stated rare-gram blocking "
    "(df in [2,3] — boilerplate grams pair quadratically and weigh "
    "least) + exact cosine over ALL shared grams of each candidate; "
    "6dp idf decimals, exact decimal dots/norms, decimal-to-double via "
    "VARCHAR in the oracle. Completes the similarity matrix: "
    "unweighted sets (jaccard), sketches (minhash/simhash), dense "
    "vectors (embedding cosine), weighted sparse vectors (this)",
)
def q_tfidf_cosine(spark, sf_dir):
    return similarity.tfidf_cosine_pairs(
        _t(spark, sf_dir, "documents"), n=3, rare_df_min=2, rare_df_max=3,
        threshold=0.1,
    )


@register(
    "embedding_centroids",
    """
    WITH e AS (
      SELECT label,
             unnest(range(0, len(embedding))) AS pos,
             unnest(list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)))
               AS u
      FROM embeddings
    )
    SELECT label, CAST(pos AS BIGINT) AS pos,
           COUNT(*) AS n_vecs,
           CAST(SUM(u) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1000000.0
             AS component_mean
    FROM e GROUP BY label, pos
    """,
    "Per-label mean embedding (class centroids / mean pooling) in long "
    "form — the PageRank fixed-point lesson applied to float "
    "reduction: components quantize to floor(v*1e6) bigints (identical "
    "in every engine; decimal-casting floats hits engine-divergent "
    "expansion-tie rounding), integer-sum exactly, one double division "
    "at the end; shuffle carries only partial sums (labels x dims x "
    "partitions rows, constant in corpus size)",
)
def q_embedding_centroids(spark, sf_dir):
    return similarity.embedding_centroids(_t(spark, sf_dir, "embeddings"))


@register(
    "nearest_centroid_confusion",
    """
    WITH e AS (
      SELECT label,
             unnest(range(0, len(embedding))) AS pos,
             unnest(list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)))
               AS u
      FROM embeddings
    ), cent AS (
      SELECT label AS cand, pos,
             CAST(SUM(u) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1000000.0
               AS cm
      FROM e GROUP BY label, pos
    ), v AS (
      SELECT vec_id, label AS true_label,
             unnest(range(0, len(embedding))) AS pos,
             unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS vv
      FROM embeddings
    ), d AS (
      SELECT v.vec_id, v.true_label, cent.cand,
             CAST(SUM(CAST(floor((v.vv - cent.cm) * (v.vv - cent.cm)
               * 1000000000000.0) AS BIGINT)) AS BIGINT) AS d2u
      FROM v JOIN cent USING (pos)
      GROUP BY v.vec_id, v.true_label, cent.cand
    ), best AS (
      SELECT vec_id, true_label, cand,
             row_number() OVER (
               PARTITION BY vec_id ORDER BY d2u, cand) AS rk
      FROM d
    )
    SELECT true_label, cand AS assigned_label, COUNT(*) AS n
    FROM best WHERE rk = 1
    GROUP BY true_label, cand
    """,
    "Nearest-centroid classification confusion matrix — the closed "
    "loop over embedding_centroids: squared-L2 distance terms are "
    "fixed-point quantized (floor(term * 1e12)) before the per-pair "
    "integer sum so the 64-term reduction is order-independent; argmin "
    "ties break on the smaller label; the (labels x dims) centroid "
    "table broadcasts onto the exploded vectors",
)
def q_nearest_centroid(spark, sf_dir):
    return similarity.nearest_centroid_assign(_t(spark, sf_dir, "embeddings"))


@register(
    "split_leakage_near_dup",
    f"""
    WITH tk AS (
      SELECT doc_id,
             list_filter(string_split(
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
               x -> x != '') AS tk
      FROM documents
    ), g AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(tk) - 1),
               i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) AS grams
      FROM tk WHERE len(tk) >= 3
    ), sig AS (
      SELECT doc_id, grams,
           [{_MH_SIGS}] AS s
      FROM g
    ), band AS (
      SELECT doc_id, grams,
           [{_MH_BANDS}] AS bands
      FROM sig
    ), sp AS (
      SELECT doc_id,
             CASE WHEN h < 800 THEN 'train'
                  WHEN h < 900 THEN 'val' ELSE 'test' END AS split
      FROM (
        SELECT doc_id,
               CAST(('0x' || substring(
                 md5('split' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                 % 1000 AS h
        FROM documents)
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           sa.split AS split_a, sb.split AS split_b,
           {_MH_JACCARD} AS jaccard
    FROM band a JOIN band b ON a.doc_id < b.doc_id
     AND ({_MH_BAND_MATCH})
    JOIN sp sa ON sa.doc_id = a.doc_id
    JOIN sp sb ON sb.doc_id = b.doc_id
    WHERE {_MH_JACCARD} >= 0.3 AND sa.split != sb.split
    """,
    "Eval-integrity screen: near-duplicate pairs CROSSING the "
    "train/val/test boundary — exact-match decontamination misses "
    "paraphrases, so the MinHash family (the oracle-replicable md5 "
    "variant) runs across splits; any hit is leakage a benchmark "
    "score would silently inherit. Pure composition of two verified "
    "operators (the md5 split draw + the banded near-dup pipeline) in "
    "one plan: the split map is a narrow no-shuffle projection "
    "joined onto the pair evidence",
)
def q_split_leakage(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_near_dup_verified(docs)
    h = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("split"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(1000),
    )
    splits = docs.select(
        "doc_id",
        F.when(h < 800, "train").when(h < 900, "val").otherwise("test").alias(
            "split"
        ),
    )
    sa = splits.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a"))
    sb = splits.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .select("doc_a", "doc_b", "split_a", "split_b", "jaccard")
    )


@register(
    "funnel_view_click_purchase",
    """
    WITH t1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), t2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN t1 ON e.user_id = t1.user_id
      WHERE e.event_type = 'click' AND e.ts > t1.t1
        AND e.ts <= t1.t1 + INTERVAL 24 HOUR
      GROUP BY e.user_id
    ), t3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN t2 ON e.user_id = t2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > t2.t2
        AND e.ts <= t2.t2 + INTERVAL 24 HOUR
      GROUP BY e.user_id
    ), u AS (
      SELECT DISTINCT user_id FROM events
    ), depth AS (
      SELECT u.user_id,
             CASE WHEN t3.user_id IS NOT NULL THEN 3
                  WHEN t2.user_id IS NOT NULL THEN 2
                  WHEN t1.user_id IS NOT NULL THEN 1
                  ELSE 0 END AS stage
      FROM u
      LEFT JOIN t1 ON u.user_id = t1.user_id
      LEFT JOIN t2 ON u.user_id = t2.user_id
      LEFT JOIN t3 ON u.user_id = t3.user_id
    )
    SELECT CAST(stage AS BIGINT) AS stage, COUNT(*) AS n_users
    FROM depth GROUP BY stage
    """,
    "Ordered funnel analysis (view -> click -> purchase, 24h max gap "
    "per step): each stage's timestamp is the min AFTER the previous "
    "stage's and within the conversion window (strict ordering, not "
    "mere presence); per-user depth aggregates to stage counts. Three "
    "chained min-aggregations on user_id — AQE reuses the user_id "
    "partitioning; all timestamp/integer logic, deterministic",
)
def q_funnel(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    t1 = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    t2 = (
        e.join(t1, "user_id")
        .filter(
            (F.col("event_type") == "click")
            & (F.col("ts") > F.col("t1"))
            & (F.col("ts") <= F.col("t1") + F.expr("interval 24 hour"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    t3 = (
        e.join(t2, "user_id")
        .filter(
            (F.col("event_type") == "purchase")
            & (F.col("ts") > F.col("t2"))
            & (F.col("ts") <= F.col("t2") + F.expr("interval 24 hour"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    u = e.select("user_id").distinct()
    depth = (
        u.join(t1.select("user_id", F.lit(1).alias("_s1")), "user_id", "left")
        .join(t2.select("user_id", F.lit(1).alias("_s2")), "user_id", "left")
        .join(t3.select("user_id", F.lit(1).alias("_s3")), "user_id", "left")
        .select(
            F.when(F.col("_s3").isNotNull(), 3)
            .when(F.col("_s2").isNotNull(), 2)
            .when(F.col("_s1").isNotNull(), 1)
            .otherwise(0)
            .cast("bigint")
            .alias("stage")
        )
    )
    return depth.groupBy("stage").agg(F.count(F.lit(1)).alias("n_users"))


@register(
    "cohort_retention_events",
    """
    WITH first_seen AS (
      SELECT user_id, date_trunc('day', min(ts)) AS cohort_day
      FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT e.user_id, f.cohort_day,
             date_diff('day', f.cohort_day, date_trunc('day', e.ts))
               AS day_offset
      FROM events e JOIN first_seen f ON e.user_id = f.user_id
    )
    SELECT cohort_day, CAST(day_offset AS BIGINT) AS day_offset,
           COUNT(*) AS n_users
    FROM activity GROUP BY cohort_day, day_offset
    """,
    "Cohort retention: users grouped by first-seen day, counted on "
    "each later active day offset — the retention-curve input. Two "
    "aggregations + one distinct, all sharing the user_id hash; pure "
    "date arithmetic, deterministic",
)
def q_cohort_retention(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort_day")
    )
    activity = (
        e.join(first_seen, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.date_trunc("day", F.col("ts")), F.col("cohort_day"))
            .cast("bigint")
            .alias("day_offset"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_day", "day_offset").agg(
        F.count(F.lit(1)).alias("n_users")
    )


_CMS_PROBES = ("spark", "table", "window", "zzz_absent", "merge")
_CMS_PROBES_SQL = "[" + ", ".join(f"'{w}'" for w in _CMS_PROBES) + "]"


@register(
    "countmin_word_freq",
    f"""
    WITH tok AS (
      SELECT unnest(list_filter(string_split(
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
               x -> x != '')) AS word
      FROM documents
    ), cells AS (
      SELECT d.d,
             CAST(('0x' || substring(
               md5('cms' || CAST(d.d AS VARCHAR) || '|' || word), 1, 8))
               AS BIGINT) % 1024 AS bucket,
             COUNT(*) AS c
      FROM tok CROSS JOIN (SELECT unnest(range(0, 4)) AS d) d
      GROUP BY 1, 2
    ), probes AS (
      SELECT unnest({_CMS_PROBES_SQL}) AS word
    ), lookups AS (
      SELECT p.word, d.d,
             CAST(('0x' || substring(
               md5('cms' || CAST(d.d AS VARCHAR) || '|' || p.word), 1, 8))
               AS BIGINT) % 1024 AS bucket
      FROM probes p CROSS JOIN (SELECT unnest(range(0, 4)) AS d) d
    ), est AS (
      SELECT l.word, MIN(COALESCE(c.c, 0)) AS est
      FROM lookups l LEFT JOIN cells c ON c.d = l.d AND c.bucket = l.bucket
      GROUP BY l.word
    ), exact AS (
      SELECT word, COUNT(*) AS exact FROM tok
      WHERE list_contains({_CMS_PROBES_SQL}, word) GROUP BY word
    )
    SELECT e.word, CAST(e.est AS BIGINT) AS est,
           CAST(COALESCE(x.exact, 0) AS BIGINT) AS exact
    FROM est e LEFT JOIN exact x USING (word)
    """,
    "Count-Min frequency sketch (Cormode-Muthukrishnan) with an "
    "oracle-replicable md5 hash family: the 4x1024 sketch table is one "
    "hash aggregation (MERGEABLE — sketches of corpus shards add "
    "cell-wise, the HLL composition story for counts), probe words "
    "read min-over-rows; est >= exact always, absent words floor at "
    "the collision mass. DuckDB regenerates the identical sketch, so "
    "the driver pins every cell crossing the estimate",
)
def q_countmin(spark, sf_dir):
    # token explode + 4 md5s/token run BEFORE the first exchange; a
    # single-file scan would serialize all of it on one task (the
    # bootstrap lesson) — pre-spread the doc rows first
    tok = (
        _t(spark, sf_dir, "documents")
        .repartition(int(spark.conf.get("spark.sql.shuffle.partitions")))
        .select(F.explode(text.normalized_tokens("text")).alias("word"))
    )
    cells = sketches.countmin_cells(tok, "word", depth=4, width=1024)
    probes = spark.createDataFrame([(w,) for w in _CMS_PROBES], "word string")
    est = sketches.countmin_lookup(cells, probes, "word", depth=4, width=1024)
    exact = (
        tok.filter(F.col("word").isin(list(_CMS_PROBES)))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("_x"))
    )
    return est.join(exact, "word", "left").select(
        "word", "est", F.coalesce(F.col("_x"), F.lit(0)).cast("bigint").alias("exact")
    )


@register(
    "schema_evolution_union",
    """
    SELECT o_orderkey, o_custkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderpriority
    FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT o_orderkey, o_custkey, CAST(NULL AS DOUBLE) AS o_totalprice, o_orderpriority
    FROM orders WHERE o_orderkey % 2 = 1
    """,
    "Schema-evolution union (the ingestion reality of long-lived "
    "datasets: an old shard without a column meets a new shard with "
    "one): unionByName(allowMissingColumns=True) aligns by NAME and "
    "null-fills — positional UNION would silently mis-bind columns; "
    "the oracle states the explicit null-padded form",
)
def q_schema_evolution(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    old_shard = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    new_shard = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    return old_shard.unionByName(new_shard, allowMissingColumns=True).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )


@register(
    "chunk_documents_200",
    """
    WITH d AS (
      SELECT doc_id, text, length(text) AS n
      FROM documents WHERE length(text) >= 1
    ), c AS (
      SELECT doc_id, text,
             unnest(range(0, CASE WHEN n <= 200 THEN 1
                                  ELSE 1 + (n - 200 + 149) // 150 END))
               AS chunk_id
      FROM d
    )
    SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(chunk_id * 150 + 1 AS BIGINT) AS chunk_start,
           substring(text, CAST(chunk_id * 150 + 1 AS INT), 200) AS chunk_text,
           CAST(length(substring(text, CAST(chunk_id * 150 + 1 AS INT), 200))
             AS BIGINT) AS chunk_len
    FROM c
    """,
    "RAG sliding-window chunking (200-char windows, stride 150): the "
    "retrieval-index prep step between curation and embedding; chunking "
    "stops once a window reaches end-of-document (integer-ceiling chunk "
    "count, shared with the oracle). Pure narrow projection + "
    "span-proportional explode — ZERO exchanges, map-only at 100 TB",
)
def q_chunk_documents(spark, sf_dir):
    return text.chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_chars=200, stride=150
    )


@register(
    "triangle_count_items",
    _COOC_CTE
    + """, canon AS (
      -- counts (not raw pairs): the map-side-combined per-(item, neighbor)
      -- aggregate is the cheapest distinct-directed-pair relation available,
      -- so the canonical dedup shuffles edge-count rows, not occurrences
      SELECT DISTINCT least(item, neighbor) AS lo,
                      greatest(item, neighbor) AS hi
      FROM counts WHERE item != neighbor
    ), deg AS (
      SELECT node, COUNT(*) AS deg FROM (
        SELECT lo AS node FROM canon
        UNION ALL SELECT hi AS node FROM canon)
      GROUP BY node
    ), e AS (
      SELECT CASE WHEN dl.deg <= dh.deg THEN c.lo ELSE c.hi END AS src,
             CASE WHEN dl.deg <= dh.deg THEN c.hi ELSE c.lo END AS dst,
             CASE WHEN dl.deg <= dh.deg THEN dh.deg ELSE dl.deg END AS ddeg
      FROM canon c JOIN deg dl ON c.lo = dl.node JOIN deg dh ON c.hi = dh.node
    ), wedge AS (
      SELECT a.dst AS x, b.dst AS y
      FROM e a JOIN e b ON a.src = b.src
       AND (a.ddeg < b.ddeg OR (a.ddeg = b.ddeg AND a.dst < b.dst))
    ), tri AS (
      SELECT COUNT(*) AS n_triangles FROM wedge w
      WHERE EXISTS (SELECT 1 FROM e WHERE e.src = w.x AND e.dst = w.y)
    ), wcnt AS (
      SELECT CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges FROM deg
    ), nn AS (SELECT COUNT(*) AS n_nodes FROM deg
    ), mm AS (SELECT COUNT(*) AS n_edges FROM canon)
    SELECT nn.n_nodes, mm.n_edges, wcnt.n_wedges, tri.n_triangles,
           CASE WHEN wcnt.n_wedges = 0 THEN 0.0
                ELSE 3.0 * tri.n_triangles / wcnt.n_wedges
           END AS transitivity
    FROM nn CROSS JOIN mm CROSS JOIN wcnt CROSS JOIN tri
    """,
    "Exact triangle count + transitivity of the co-occurrence item "
    "graph via DEGREE-ORIENTED wedge counting (Suri-Vassilvitskii): "
    "edges point low-(deg,id) -> high, so each triangle is one wedge "
    "closed by one oriented edge and hubs generate no wedges — the "
    "orientation that kills the deg^2 neighbor self-join blow-up at "
    "scale. All-integer counts; the one transitivity division is an "
    "exact-input double op",
)
def q_triangle_count(spark, sf_dir):
    from .operators import graph

    # r11: derived from the shared pinned sigma relation — sum(support)
    # IS 3T and the endpoint degrees recover the wedge count, so the
    # 10-16 s per-suite wedge recomputation collapses to two aggregates
    # over already-materialized blocks (bit-identical output; the
    # self-contained triangle_stats pipeline stays exercised by
    # triangle_count_sampled and the known-graph unit tests)
    return graph.triangle_stats_from_similarity(_scan_sigma(spark, sf_dir))


@register(
    "triangle_count_sampled",
    _COOC_CTE
    + """, canon_full AS (
      SELECT DISTINCT least(item, neighbor) AS lo,
                      greatest(item, neighbor) AS hi
      FROM counts WHERE item != neighbor
    ), canon AS (
      SELECT lo, hi FROM canon_full
      WHERE CAST(('0x' || substring(
              md5('tri' || '|' || lo || '|' || hi), 1, 8)) AS BIGINT)
            % 100 < 20
    ), deg AS (
      SELECT node, COUNT(*) AS deg FROM (
        SELECT lo AS node FROM canon
        UNION ALL SELECT hi AS node FROM canon)
      GROUP BY node
    ), e AS (
      SELECT CASE WHEN dl.deg <= dh.deg THEN c.lo ELSE c.hi END AS src,
             CASE WHEN dl.deg <= dh.deg THEN c.hi ELSE c.lo END AS dst,
             CASE WHEN dl.deg <= dh.deg THEN dh.deg ELSE dl.deg END AS ddeg
      FROM canon c JOIN deg dl ON c.lo = dl.node JOIN deg dh ON c.hi = dh.node
    ), wedge AS (
      SELECT a.dst AS x, b.dst AS y
      FROM e a JOIN e b ON a.src = b.src
       AND (a.ddeg < b.ddeg OR (a.ddeg = b.ddeg AND a.dst < b.dst))
    ), tri AS (
      SELECT COUNT(*) AS n_closed_sampled FROM wedge w
      WHERE EXISTS (SELECT 1 FROM e WHERE e.src = w.x AND e.dst = w.y)
    ), nn AS (
      SELECT COUNT(*) AS n_nodes FROM (
        SELECT lo AS node FROM canon_full
        UNION SELECT hi AS node FROM canon_full)
    ), mm AS (SELECT COUNT(*) AS n_edges FROM canon_full
    ), ms AS (SELECT COUNT(*) AS n_edges_sampled FROM canon)
    SELECT nn.n_nodes, mm.n_edges, ms.n_edges_sampled,
           tri.n_closed_sampled,
           CAST(tri.n_closed_sampled * 125 AS BIGINT) AS est_triangles
    FROM nn CROSS JOIN mm CROSS JOIN ms CROSS JOIN tri
    """,
    "DOULION sampled triangle count (Tsourakakis KDD'09) — the 100 TB "
    "path when the wedge set (the exact count's irreducible cost; 41M "
    "at sf0.1 on this dense graph) outgrows the cluster: keep each "
    "edge by a DETERMINISTIC md5 draw (20%), count triangles in the "
    "sparsified graph, scale by 5^3. Edge (not wedge) sampling shrinks "
    "the wedge self-join itself by 25x. Content-hashed sampling means "
    "both engines sparsify IDENTICALLY, so the estimate is "
    "oracle-exact, not bounds-checked",
)
def q_triangle_count_sampled(spark, sf_dir):
    from .operators import graph

    # shared pinned canonical edges (see q_kcore_peel) — skips the
    # canonicalize + distinct shuffle entirely via pre_canonical. The
    # edge draw hashes the item STRINGS (md5('tri'|lo|hi), the oracle's
    # draw), so the endpoints decode first, once: the operator reads
    # its edge set from five branches.
    canon = _cooc_sym_edges(spark, sf_dir).filter(F.col("src") < F.col("dst"))
    return graph.triangle_stats(
        _decode_nodes(spark, sf_dir, canon, "src", "dst").localCheckpoint(
            eager=True
        ),
        a_col="src",
        b_col="dst",
        edge_sample_pct=20,
        pre_canonical=True,
    )


_RRF_TERMS = _BM25_TERMS
_RRF_TERMS_SQL = "[" + ", ".join(f"'{t}'" for t in _RRF_TERMS) + "]"


@register(
    "hybrid_rrf_search",
    f"""
    WITH tk AS (
      SELECT doc_id, list_filter(string_split(
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
               x -> x != '') AS tk
      FROM documents
    ), dl AS (
      SELECT doc_id, len(tk) AS dl FROM tk
    ), stats AS (
      SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl
    ), tf AS (
      SELECT doc_id, t AS term, COUNT(*) AS tf FROM (
        SELECT doc_id,
               unnest(list_filter(tk, x -> list_contains({_RRF_TERMS_SQL}, x))) AS t
        FROM tk)
      GROUP BY doc_id, t
    ), df AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), sc AS (
      SELECT tf.doc_id,
             CAST(round(
               ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
               * tf.tf * (1.2 + 1.0)
               / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl)),
               6) AS DECIMAL(18,6)) AS s
      FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
    ), bmfull AS (
      SELECT doc_id, round(CAST(SUM(s) AS DOUBLE), 4) AS score
      FROM sc GROUP BY doc_id
    ), bm AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
               AS rank_bm25
      FROM bmfull ORDER BY score DESC, doc_id LIMIT 50
    ), cov0 AS (
      SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl2,
             CAST(len(list_distinct(list_filter(tk,
               x -> list_contains({_RRF_TERMS_SQL}, x)))) AS BIGINT) AS cov
      FROM tk
    ), cv AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY cov DESC, dl2 ASC, doc_id)
               AS BIGINT) AS rank_cov
      FROM cov0 WHERE cov >= 1
      ORDER BY cov DESC, dl2 ASC, doc_id LIMIT 50
    )
    SELECT COALESCE(bm.doc_id, cv.doc_id) AS doc_id,
           bm.rank_bm25, cv.rank_cov,
           CAST(COALESCE(1000000000000 // (60 + bm.rank_bm25), 0)
              + COALESCE(1000000000000 // (60 + cv.rank_cov), 0) AS BIGINT)
             AS rrf_units,
           CAST(CAST(COALESCE(1000000000000 // (60 + bm.rank_bm25), 0)
              + COALESCE(1000000000000 // (60 + cv.rank_cov), 0) AS BIGINT)
             AS DOUBLE) / 1000000000000.0 AS rrf_score
    FROM bm FULL OUTER JOIN cv ON bm.doc_id = cv.doc_id
    ORDER BY rrf_units DESC, doc_id LIMIT 15
    """,
    "Hybrid retrieval via Reciprocal Rank Fusion (Cormack 2009): BM25 "
    "top-50 fused with an integer-only term-coverage ranker (distinct "
    "query terms desc, doc length asc) as 1/(60+rank) — how RAG stacks "
    "combine rankers without score calibration. RRF contributions in "
    "FIXED-POINT 1e-12 units (floor division — the PageRank lesson: "
    "never iterate/round floats across engines); fusion joins two "
    "50-row broadcast-sized lists",
)
def q_hybrid_rrf(spark, sf_dir):
    return text.hybrid_rrf_topk(
        _t(spark, sf_dir, "documents"), _RRF_TERMS, k=15, pool=50
    )


@register(
    "dedup_cluster_canonical",
    """
    WITH RECURSIVE sh AS (
      SELECT doc_id, source AS blk,
             list_distinct(string_split_regex(
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), '\\s+')) AS sh
      FROM documents
    ),
    p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sh a JOIN sh b ON a.blk = b.blk AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) >= 0.3
    ),
    edges AS (
      SELECT doc_a AS s, doc_b AS t FROM p
      UNION
      SELECT doc_b AS s, doc_a AS t FROM p
    ),
    reach AS (
      SELECT doc_id AS id, doc_id AS r FROM documents
      UNION
      SELECT reach.id, e.t AS r FROM reach JOIN edges e ON e.s = reach.r
    ),
    clusters AS (
      SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
    ),
    t AS (
      SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS n_tok,
             CAST(len(list_distinct(string_split_regex(trim(text), '\\s+'))) AS DOUBLE) AS n_uniq,
             CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                  x -> list_contains(['the','and','of','to','a','in','is'], x))) AS DOUBLE) AS stop_hits,
             CAST(length(text) AS DOUBLE) AS n_chars,
             CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) AS n_punct,
             CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) AS n_digit
      FROM documents
    ),
    q AS (
      SELECT doc_id,
           0.3 * (CASE WHEN n_tok >= 20 AND n_tok <= 1000 THEN 1.0
                       WHEN n_tok >= 5 THEN 0.5 ELSE 0.0 END)
         + 0.2 * least(stop_hits / greatest(n_tok, 1.0) * 4, 1.0)
         + 0.2 * (1.0 - least(n_punct / greatest(n_chars, 1.0) * 10, 1.0))
         + 0.1 * (1.0 - least(n_digit / greatest(n_chars, 1.0) * 10, 1.0))
         + 0.2 * (n_uniq / greatest(n_tok, 1.0)) AS quality
      FROM t
    ),
    ranked AS (
      SELECT c.cluster_id, c.doc_id, q.quality,
             row_number() OVER (PARTITION BY c.cluster_id
                                ORDER BY q.quality DESC, c.doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY c.cluster_id) AS n_members
      FROM clusters c JOIN q ON q.doc_id = c.doc_id
    )
    SELECT cluster_id, doc_id AS canonical_doc,
           CAST(n_members AS BIGINT) AS n_members, quality
    FROM ranked WHERE rn = 1
    """,
    "Cluster-representative selection — the survivorship step after "
    "near-dup clustering: within each connected component keep the "
    "HIGHEST-quality member (heuristic quality score, doc_id "
    "tie-break), not an arbitrary min-id. Composition of two verified "
    "operators (closure clusters + the quality battery); one "
    "cluster-keyed window pass on (doc, cluster, quality) rows — at "
    "100 TB the ranked frame is one row per doc, never corpus "
    "self-join. Quality doubles are engine-exact (text_quality "
    "hash-matches), so the argmax is deterministic cross-engine",
)
def q_dedup_canonical(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    clusters = _near_dup_clusters(spark, sf_dir)
    q = docs.select("doc_id", text.quality_expr(F.col("text")).alias("quality"))
    j = clusters.join(q, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality").desc(), F.col("doc_id")
    )
    return (
        j.select(
            "cluster_id",
            "doc_id",
            "quality",
            F.row_number().over(w).alias("_rn"),
            F.count(F.lit(1))
            .over(Window.partitionBy("cluster_id"))
            .cast("bigint")
            .alias("n_members"),
        )
        .filter(F.col("_rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("canonical_doc"),
            "n_members",
            "quality",
        )
    )


@register(
    "source_kl_divergence",
    """
    WITH tok AS (
      SELECT source, unnest(list_filter(string_split(
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
               x -> x != '')) AS word
      FROM documents
    ), c AS (
      SELECT source, word, COUNT(*) AS c_sw FROM tok GROUP BY source, word
    ), tot AS (
      SELECT SUM(c_sw) AS t_all FROM c
    ), wnd AS (
      SELECT source, word, c_sw,
             SUM(c_sw) OVER (PARTITION BY source) AS t_s,
             SUM(c_sw) OVER (PARTITION BY word) AS c_w
      FROM c
    ), term AS (
      SELECT source,
             CAST(round(
               (CAST(c_sw AS DOUBLE) / CAST(t_s AS DOUBLE))
               * ln((CAST(c_sw AS DOUBLE) * CAST(tot.t_all AS DOUBLE))
                    / (CAST(t_s AS DOUBLE) * CAST(c_w AS DOUBLE))),
               6) AS DECIMAL(18,6)) AS s
      FROM wnd CROSS JOIN tot
    )
    SELECT source, COUNT(*) AS n_words,
           round(CAST(SUM(s) AS DOUBLE), 4) AS kl
    FROM term GROUP BY source
    """,
    "Per-source domain-drift screen: unigram KL(source || corpus) — "
    "the distribution-shift number a mixing/curation decision reads "
    "before weighting sources. Marginals (per-source total, per-word "
    "corpus count) are WINDOW sums over the reduced (source, word) "
    "count rows, never join-backs to raw tokens (the bigram-LM "
    "lesson); corpus total is a 1-row broadcast. Per-term doubles are "
    "exact-integer-input ops rounded to 6dp and summed as decimal "
    "(order-independent, the BM25 rounding rule)",
)
def q_source_kl(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(text.normalized_tokens("text")).alias("word")
    )
    c = tok.groupBy("source", "word").agg(F.count(F.lit(1)).alias("c_sw"))
    tot = c.agg(F.sum("c_sw").alias("t_all"))
    wnd = c.select(
        "source",
        "word",
        "c_sw",
        F.sum("c_sw").over(Window.partitionBy("source")).alias("t_s"),
        F.sum("c_sw").over(Window.partitionBy("word")).alias("c_w"),
    )
    p = F.col("c_sw").cast("double") / F.col("t_s").cast("double")
    ratio = (F.col("c_sw").cast("double") * F.col("t_all").cast("double")) / (
        F.col("t_s").cast("double") * F.col("c_w").cast("double")
    )
    term = wnd.crossJoin(F.broadcast(tot)).select(
        "source", F.round(p * F.log(ratio), 6).alias("_s")
    )
    return term.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.round(dsum("_s", 6), 4).alias("kl"),
    )


@register(
    "window_distinct_running_events",
    """
    SELECT event_id, user_id,
           CAST(COUNT(DISTINCT event_type) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS n_types_seen
    FROM events
    """,
    "Running COUNT(DISTINCT) over a window — the SQL-surface gap "
    "Spark's aggregate windows do not support directly: expressed as "
    "size(collect_set()) over the same frame (bounded by the "
    "event-type domain, so the per-row state is a tiny set, not the "
    "row history). Unique (ts, event_id) ordering makes the running "
    "set deterministic; one user_id exchange",
)
def q_window_distinct_running(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.size(F.collect_set("event_type").over(w))
        .cast("bigint")
        .alias("n_types_seen"),
    )


@register(
    "window_running_median_orders",
    """
    SELECT o_orderkey, o_custkey,
           median(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 5 PRECEDING AND CURRENT ROW
           ) AS run_median
    FROM orders
    """,
    "Running EXACT median over a trailing 6-row window — the second "
    "holistic-aggregate window gap (with running COUNT(DISTINCT)): "
    "Spark has no median window function, so it is composed as "
    "element_at(array_sort(collect_list() OVER frame)) with the "
    "even/odd interpolation inlined; per-row state is the 6-row frame, "
    "not the partition history. Unique (date, key) ordering; one "
    "custkey exchange. Oracle states the native median window",
)
def q_window_running_median(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-5, Window.currentRow)
    )
    arr = F.array_sort(F.collect_list("o_totalprice").over(w))
    n = F.size(arr)
    med = F.when(
        n % 2 == 1, F.element_at(arr, ((n + 1) / 2).cast("int"))
    ).otherwise(
        (
            F.element_at(arr, (n / 2).cast("int"))
            + F.element_at(arr, (n / 2 + 1).cast("int"))
        )
        / 2.0
    )
    return o.select("o_orderkey", "o_custkey", med.alias("run_median"))


def _kcore_oracle(k: int = 100, rounds: int = 4) -> str:
    """Unrolled fixed-round k-core peel as chained CTEs over the shared
    co-occurrence pair CTE — the oracle replays the identical rounds
    (the PageRank oracle pattern); all-integer, every count hash-pins."""
    parts = []
    selects = []
    prev = "e0"
    for r in range(1, rounds + 1):
        # MATERIALIZED: each round's relations are referenced 2-3 times by
        # the next; without it DuckDB inlines the chain and the re-planned
        # tree grows exponentially with rounds (observed OOM at 4 rounds)
        parts.append(f"""
    d{r} AS MATERIALIZED (
      SELECT node, COUNT(*) AS deg FROM (
        SELECT lo AS node FROM {prev} UNION ALL SELECT hi AS node FROM {prev})
      GROUP BY node
    ), s{r} AS MATERIALIZED (
      SELECT node FROM d{r} WHERE deg >= {k}
    ), e{r} AS MATERIALIZED (
      SELECT lo, hi FROM {prev}
      WHERE lo IN (SELECT node FROM s{r}) AND hi IN (SELECT node FROM s{r})
    )""")
        selects.append(
            f"SELECT CAST({r} AS BIGINT) AS round,"
            f" (SELECT COUNT(*) FROM d{r}) AS n_nodes_before,"
            f" (SELECT COUNT(*) FROM s{r}) AS n_survivors"
        )
        prev = f"e{r}"
    return (
        _COOC_CTE
        + """, e0 AS MATERIALIZED (
      SELECT DISTINCT least(item, neighbor) AS lo,
                      greatest(item, neighbor) AS hi
      FROM counts WHERE item != neighbor
    ),"""
        + ",".join(parts)
        + "\n    "
        + "\n    UNION ALL ".join(selects)
    )


@register(
    "kcore_peel_items",
    _kcore_oracle(k=80, rounds=4),
    "Fixed-round k-core peeling (k=80, 4 rounds) of the co-occurrence "
    "item graph: repeatedly drop degree<k nodes and induce the "
    "subgraph — the dense-core extraction that separates the catalog's "
    "cohesive center from its fringe. One (round, nodes_before, "
    "survivors) row per round; converged rounds show dropped=0. Each "
    "round = one endpoint degree agg + two semi-joins, shuffle ∝ "
    "current (shrinking) edges; fixed unrolled rounds keep it pure "
    "ANSI SQL (the PageRank design rule) so every count hash-pins",
)
def q_kcore_peel(spark, sf_dir):
    from .operators import graph

    # the shared pinned symmetric edge list filtered to src < dst IS
    # the distinct canonical edge set (symmetric_edges dedupes on
    # canonical pairs before mirroring), so kcore skips its own
    # canonicalize + distinct entirely. A raw-basket_pairs feed was
    # A/B-measured slower first (pre-aggregation is the dedup the
    # internal distinct needed); the shared pin beats both. The
    # rounds run on the pin's INT node codes; the output is counts.
    return graph.kcore_peel(
        _cooc_sym_edges(spark, sf_dir).filter(F.col("src") < F.col("dst")),
        k=80,
        rounds=4,
        a_col="src",
        b_col="dst",
        pre_canonical=True,
    )


@register(
    "inverted_index_terms",
    """
    WITH tk AS (
      SELECT doc_id, list_filter(string_split(
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
               x -> x != '') AS tk
      FROM documents
    ), tf AS (
      SELECT doc_id, t AS term, COUNT(*) AS tf FROM (
        SELECT doc_id, unnest(tk) AS t FROM tk)
      GROUP BY doc_id, t
    ), agg AS (
      SELECT term, COUNT(*) AS df, SUM(tf) AS total_tf,
             string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
               AS postings
      FROM tf GROUP BY term
    )
    SELECT term, CAST(df AS BIGINT) AS df,
           CAST(total_tf AS BIGINT) AS total_tf, postings
    FROM agg WHERE df BETWEEN 20 AND 5000
    """,
    "Inverted-index construction — the index-build step BM25 retrieval "
    "reads from: per-term document-frequency, total term-frequency, "
    "and the sorted posting list (string-joined, the repo's "
    "representation-independent array convention). Posting lists are "
    "BOUNDED by the df ceiling (stop-like terms dropped by df — the "
    "practice that caps hot-key lists at 100 TB); one (doc, term) "
    "reduce then one term reduce",
)
def q_inverted_index(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    tf = (
        docs.select(
            "doc_id", F.explode(text.normalized_tokens("text")).alias("term")
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return (
        tf.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").cast("bigint").alias("total_tf"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings"),
        )
        .filter((F.col("df") >= 20) & (F.col("df") <= 5000))
        .select("term", F.col("df").cast("bigint").alias("df"), "total_tf", "postings")
    )


@register(
    "weighted_sample_orders",
    """
    WITH d AS (
      SELECT o_orderkey, o_custkey, o_totalprice,
             CAST(CAST(round(ln((CAST(('0x' || substring(
                   md5('ws' || CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT)
                 + 0.5) / 4294967296.0), 6) AS DECIMAL(18,6)) AS DOUBLE)
               / o_totalprice AS _aes_priority
      FROM orders WHERE o_totalprice > 0
    )
    SELECT o_orderkey, o_custkey, o_totalprice, _aes_priority
    FROM d ORDER BY _aes_priority DESC, o_orderkey LIMIT 25
    """,
    "Deterministic weighted sampling without replacement "
    "(Efraimidis-Spirakis A-ES): inclusion probability proportional to "
    "o_totalprice via priority ln(u)/w from an md5-derived dyadic "
    "uniform — the per-ITEM weighted draw that complements "
    "mix_sources' per-source quotas. ln(u) quantizes to a 6dp decimal "
    "before the division (raw ln measured 1-ulp engine-divergent on "
    "7% of dyadic inputs — r07 hardening; full-tuple tie-break covers "
    "quantization collisions), so the priority doubles hash-pin "
    "cross-engine BY CONSTRUCTION. Content-hashed: reruns and the "
    "oracle draw the identical sample; top-k via per-partition heaps, "
    "no full sort",
)
def q_weighted_sample(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    return relational.weighted_sample(
        o, ["o_orderkey"], "o_totalprice", k=25, salt="ws"
    )


@register(
    "embedding_quantize_int8",
    """
    WITH d AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
             list_max(list_transform(embedding,
               x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale,
             len(embedding) AS n
      FROM embeddings
    ), q AS (
      SELECT vec_id, v, scale, n,
             list_transform(v, x -> CAST(floor(x / scale + 0.5) AS INT)) AS qv
      FROM d WHERE scale > 0
    )
    SELECT vec_id, scale,
           array_to_string(list_transform(qv, x -> CAST(x AS VARCHAR)), ',')
             AS q_csv,
           round(list_sum(list_transform(list_zip(v, qv),
               p -> (p[1] - CAST(p[2] AS DOUBLE) * scale)
                  * (p[1] - CAST(p[2] AS DOUBLE) * scale)))
             / CAST(n AS DOUBLE), 8) AS mse
    FROM q
    """,
    "Per-vector symmetric int8 scalar quantization (FAISS SQ8-style) — "
    "the 4x ANN memory-compression step: scale = max|v|/127, "
    "floor(v/scale + 0.5) codes (pure-binary round-half-up: no "
    "decimal-tie divergence, always in [-127,127] unclamped), plus "
    "reconstruction MSE. ZERO exchanges, map-only at 100 TB; every "
    "code hash-pinned via the comma-joined string",
)
def q_embedding_quantize(spark, sf_dir):
    return similarity.quantize_int8(_t(spark, sf_dir, "embeddings"))


@register(
    "winsorize_values_events",
    """
    WITH p AS (
      SELECT event_type,
             quantile_cont(value, 0.05) AS p05,
             quantile_cont(value, 0.95) AS p95
      FROM events GROUP BY event_type
    ), w AS (
      SELECT e.event_type,
             CASE WHEN e.value < p.p05 THEN 1 ELSE 0 END AS lo,
             CASE WHEN e.value > p.p95 THEN 1 ELSE 0 END AS hi,
             CAST(round(least(greatest(e.value, p.p05), p.p95), 6)
               AS DECIMAL(18,6)) AS clamped
      FROM events e JOIN p USING (event_type)
    )
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(lo) AS BIGINT) AS n_clamped_low,
           CAST(SUM(hi) AS BIGINT) AS n_clamped_high,
           round(CAST(SUM(clamped) AS DOUBLE) / COUNT(*), 4) AS mean_winsorized
    FROM w GROUP BY event_type
    """,
    "Percentile winsorization (feature clipping before training): "
    "clamp each value to its type's [p05, p95] band and report clamp "
    "counts + the winsorized mean. The 5-row percentile table "
    "broadcasts back onto the scan (z-score pattern), but the EXACT "
    "percentile agg itself shuffles the per-type value multiset "
    "(holistic — ∝ events, measured 147 KB -> 814 KB on x10; "
    "inherent); at 100 TB swap in approx_percentile's mergeable KLL "
    "sketch for constant shuffle at bounded error. Clamped values "
    "round to 6dp and decimal-sum (order-independent mean)",
)
def q_winsorize(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    p = ev.groupBy("event_type").agg(
        F.percentile("value", 0.05).alias("p05"),
        F.percentile("value", 0.95).alias("p95"),
    )
    w = ev.join(F.broadcast(p), "event_type").select(
        "event_type",
        F.when(F.col("value") < F.col("p05"), 1).otherwise(0).alias("lo"),
        F.when(F.col("value") > F.col("p95"), 1).otherwise(0).alias("hi"),
        F.round(
            F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95")), 6
        ).alias("_c"),
    )
    return w.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("lo").cast("bigint").alias("n_clamped_low"),
        F.sum("hi").cast("bigint").alias("n_clamped_high"),
        F.round(dsum("_c", 6) / F.count(F.lit(1)), 4).alias("mean_winsorized"),
    )


@register(
    "stratified_split_by_source",
    """
    WITH r AS (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5('strat' || CAST(doc_id AS VARCHAR)), doc_id
             ) AS rk,
             COUNT(*) OVER (PARTITION BY source) AS n
      FROM documents
    ), lab AS (
      SELECT source,
             CASE WHEN rk <= (n * 80) // 100 THEN 'train'
                  WHEN rk <= (n * 90) // 100 THEN 'val'
                  ELSE 'test' END AS split
      FROM r
    )
    SELECT source, split, COUNT(*) AS n_docs
    FROM lab GROUP BY source, split
    """,
    "EXACT-quota stratified train/val/test split: within each source, "
    "rank rows in md5 order and cut at floor(n*80/100) / floor(n*90/"
    "100) — per-source proportions hold EXACTLY, where the plain "
    "hash-draw split (train_val_test_split) only holds them in "
    "expectation (a skew risk for small sources). Deterministic md5 "
    "order + integer thresholds; one source-keyed window pass. "
    "Summarized as per-(source, split) counts",
)
def q_stratified_split_by_source(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.concat(F.lit("strat"), F.col("doc_id").cast("string"))),
        F.col("doc_id"),
    )
    r = docs.select(
        "source",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).alias("n"),
    )
    lab = r.select(
        "source",
        F.when(F.col("rk") <= F.expr("(n * 80) div 100"), "train")
        .when(F.col("rk") <= F.expr("(n * 90) div 100"), "val")
        .otherwise("test")
        .alias("split"),
    )
    return lab.groupBy("source", "split").agg(F.count(F.lit(1)).alias("n_docs"))


@register(
    "pit_join_purchase_state",
    """
    WITH src AS (
      SELECT user_id, event_type, ts, event_id FROM events
      WHERE event_type != 'purchase'
    ), o AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER w AS prev_t,
             row_number() OVER w AS rn
      FROM src
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), c AS (
      SELECT * FROM o WHERE rn = 1 OR event_type IS DISTINCT FROM prev_t
    ), hist AS (
      SELECT user_id, event_type AS profile_state, ts AS valid_from,
             coalesce(lead(ts) OVER w2, TIMESTAMP '2099-12-31 00:00:00')
               AS valid_to,
             CAST(row_number() OVER w2 AS BIGINT) AS version
      FROM c WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT p.event_id, p.user_id, p.ts,
           h.profile_state, h.version
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase') p
    LEFT JOIN hist h
      ON h.user_id = p.user_id
     AND h.valid_from <= p.ts AND p.ts < h.valid_to
    """,
    "Point-in-time correct feature join (the feature-store leakage "
    "guard): each purchase event attaches the SCD2 profile-state "
    "version VALID AT ITS TIMESTAMP — never a later state (temporal "
    "leakage) and never a full-history fan-out. History = the type-2 "
    "dimension rebuilt from non-purchase events; equi-join on user_id "
    "with the containment predicate (versions per user are few, so the "
    "per-key range scan is bounded); cold-start purchases keep NULL "
    "state via the left join",
)
def q_pit_join(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    hist = relational.scd2_history(
        ev.filter(F.col("event_type") != "purchase"),
        "user_id",
        "ts",
        ["event_type"],
        tiebreak="event_id",
    ).select(
        "user_id",
        F.col("event_type").alias("profile_state"),
        "valid_from",
        F.coalesce(
            F.col("valid_to"), F.lit("2099-12-31 00:00:00").cast("timestamp")
        ).alias("valid_to"),
        "version",
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    return p.join(
        hist,
        (p["user_id"] == hist["user_id"])
        & (hist["valid_from"] <= p["ts"])
        & (p["ts"] < hist["valid_to"]),
        "left",
    ).select(p["event_id"], p["user_id"], p["ts"], "profile_state", "version")


@register(
    "dq_suite_orders",
    """
    WITH m AS (
      SELECT COUNT(*) AS n,
             COUNT(DISTINCT o_orderkey) AS n_keys,
             COUNT(o_orderdate) AS n_date,
             SUM(CASE WHEN o_totalprice > 0 THEN 1 ELSE 0 END) AS n_pos
      FROM orders
    ), fk AS (
      SELECT COUNT(*) AS n_orphans
      FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_custkey IS NULL
    )
    SELECT check_name, metric, passed FROM (
      SELECT 'row_count_nonzero' AS check_name,
             CAST(m.n AS DOUBLE) AS metric, m.n > 0 AS passed
      FROM m
      UNION ALL
      SELECT 'pk_unique', CAST(m.n_keys AS DOUBLE) / m.n, m.n_keys = m.n FROM m
      UNION ALL
      SELECT 'orderdate_complete', CAST(m.n_date AS DOUBLE) / m.n,
             m.n_date = m.n FROM m
      UNION ALL
      SELECT 'totalprice_positive', CAST(m.n_pos AS DOUBLE) / m.n,
             m.n_pos = m.n FROM m
      UNION ALL
      SELECT 'fk_custkey_integrity', CAST(fk.n_orphans AS DOUBLE),
             fk.n_orphans = 0 FROM fk
    )
    """,
    "Deequ-style data-quality assertion suite in TWO reduces: one scan "
    "computes row count / pk uniqueness / completeness / value-range "
    "metrics as a single aggregate row, one anti-join counts FK "
    "orphans (customer side broadcast); checks unpivot to (check, "
    "metric, passed) rows — the validation gate a pipeline runs before "
    "training data ships. All ratios are exact-integer divisions",
)
def q_dq_suite(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    m = o.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("o_orderkey").alias("n_keys"),
        F.count("o_orderdate").alias("n_date"),
        F.sum(F.when(F.col("o_totalprice") > 0, 1).otherwise(0)).alias("n_pos"),
    )
    fk = (
        o.join(
            F.broadcast(c.select("c_custkey")),
            o["o_custkey"] == F.col("c_custkey"),
            "left_anti",
        ).agg(F.count(F.lit(1)).alias("n_orphans"))
    )
    nd = F.col("n").cast("double")
    checks = m.crossJoin(fk).select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("row_count_nonzero").alias("check_name"),
                    F.col("n").cast("double").alias("metric"),
                    (F.col("n") > 0).alias("passed"),
                ),
                F.struct(
                    F.lit("pk_unique").alias("check_name"),
                    (F.col("n_keys").cast("double") / nd).alias("metric"),
                    (F.col("n_keys") == F.col("n")).alias("passed"),
                ),
                F.struct(
                    F.lit("orderdate_complete").alias("check_name"),
                    (F.col("n_date").cast("double") / nd).alias("metric"),
                    (F.col("n_date") == F.col("n")).alias("passed"),
                ),
                F.struct(
                    F.lit("totalprice_positive").alias("check_name"),
                    (F.col("n_pos").cast("double") / nd).alias("metric"),
                    (F.col("n_pos") == F.col("n")).alias("passed"),
                ),
                F.struct(
                    F.lit("fk_custkey_integrity").alias("check_name"),
                    F.col("n_orphans").cast("double").alias("metric"),
                    (F.col("n_orphans") == 0).alias("passed"),
                ),
            )
        ).alias("c")
    )
    return checks.select("c.check_name", "c.metric", "c.passed")


@register(
    "event_paths_top3grams",
    """
    WITH s AS (
      SELECT user_id, event_type, ts, event_id,
             lead(event_type, 1) OVER w AS t2,
             lead(event_type, 2) OVER w AS t3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT path, n, CAST(rk AS BIGINT) AS rk FROM (
      SELECT path, n, row_number() OVER (ORDER BY n DESC, path) AS rk FROM (
        SELECT event_type || '>' || t2 || '>' || t3 AS path, COUNT(*) AS n
        FROM s WHERE t2 IS NOT NULL AND t3 IS NOT NULL
        GROUP BY 1))
    WHERE rk <= 10
    """,
    "Behavioral path mining: the 10 most frequent 3-step event-type "
    "sequences across user timelines (lead-window trigrams — the "
    "ClickHouse sequence-analytics shape) — frequency of ALL observed "
    "paths, complementing the funnel's one fixed pattern. One user_id "
    "window pass + one path reduce; deterministic (n desc, path) "
    "ranking",
)
def q_event_paths(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).filter(F.col("t2").isNotNull() & F.col("t3").isNotNull())
    paths = (
        s.select(
            F.concat_ws(">", "event_type", "t2", "t3").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # top-10 via TakeOrderedAndProject FIRST (per-partition heaps, the
    # repo's top-k convention), then the rank window runs on 10 rows —
    # identical to ranking-then-limiting under the (n desc, path) total order
    top = paths.orderBy(F.col("n").desc(), F.col("path")).limit(10)
    return top.select(
        "path",
        "n",
        F.row_number()
        .over(Window.orderBy(F.col("n").desc(), F.col("path")))
        .cast("long")
        .alias("rk"),
    )


@register(
    "dau_wau_events",
    """
    WITH du AS (
      SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events
    ), dau AS (
      SELECT day, COUNT(*) AS dau FROM du GROUP BY day
    ), contrib AS (
      SELECT day + to_days(CAST(o.off AS INT)) AS win_day, user_id
      FROM du CROSS JOIN (SELECT unnest(range(0, 7)) AS off) o
    ), wau AS (
      SELECT win_day AS day, COUNT(DISTINCT user_id) AS wau
      FROM contrib GROUP BY win_day
    )
    SELECT dau.day, dau.dau, wau.wau
    FROM dau JOIN wau ON dau.day = wau.day
    """,
    "DAU / trailing-7-day WAU: rolling DISTINCT users — the window "
    "frame Spark (and SQL) cannot aggregate directly at scale. The "
    "scale trick: each active (day, user) row EXPLODES into the 7 "
    "trailing windows it contributes to (x7 linear, never a per-day "
    "self-join over the history), then one distinct per window. "
    "Output: one row per active day (windows with no anchor-day "
    "activity are not emitted — stated identically by the oracle)",
)
def q_dau_wau(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    du = ev.select(
        F.date_trunc("day", F.col("ts")).alias("day"), "user_id"
    ).distinct()
    dau = du.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    contrib = du.select(
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off"),
        "day",
        "user_id",
    ).select(
        (F.col("day") + F.make_interval(days=F.col("off"))).alias("win_day"),
        "user_id",
    )
    wau = (
        contrib.groupBy("win_day")
        .agg(F.countDistinct("user_id").alias("wau"))
        .withColumnRenamed("win_day", "day")
    )
    return dau.join(wau, "day").select("day", "dau", "wau")


@register(
    "nb_lang_confusion",
    """
    WITH tok AS (
      SELECT doc_id, lang, word, COUNT(*) AS n_wd FROM (
        SELECT doc_id, lang,
               unnest(list_filter(string_split(
                 regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
                 x -> x != '')) AS word
        FROM documents)
      GROUP BY doc_id, lang, word
    ), classes AS (
      SELECT lang AS cls, COUNT(DISTINCT doc_id) AS n_c FROM tok GROUP BY lang
    ), nn AS (
      SELECT SUM(n_c) AS n_docs FROM classes
    ), vv AS (
      SELECT COUNT(DISTINCT word) AS v FROM tok
    ), cwc AS (
      SELECT word, lang AS cls, SUM(n_wd) AS c_wc FROM tok GROUP BY word, lang
    ), tc AS (
      SELECT cls, SUM(c_wc) AS t_c FROM cwc GROUP BY cls
    ), grid AS (
      SELECT w.word, c.cls,
             CAST(round(ln((COALESCE(cwc.c_wc, 0) + 1.0)
                           / (tc.t_c + vv.v)), 6) AS DECIMAL(18,6)) AS lp
      FROM (SELECT DISTINCT word FROM tok) w
      CROSS JOIN classes c
      JOIN tc ON tc.cls = c.cls
      CROSS JOIN vv
      LEFT JOIN cwc ON cwc.word = w.word AND cwc.cls = c.cls
    ), prior AS (
      SELECT cls, CAST(round(ln(CAST(n_c AS DOUBLE) / nn.n_docs), 6)
                       AS DECIMAL(18,6)) AS lprior
      FROM classes CROSS JOIN nn
    ), score AS (
      SELECT t.doc_id, t.lang, g.cls,
             SUM(t.n_wd * g.lp) + ANY_VALUE(p.lprior) AS s
      FROM tok t JOIN grid g ON g.word = t.word
      JOIN prior p ON p.cls = g.cls
      GROUP BY t.doc_id, t.lang, g.cls
    ), pred AS (
      SELECT doc_id, lang,
             first(cls ORDER BY s DESC, cls) AS pred_lang
      FROM score GROUP BY doc_id, lang
    )
    SELECT lang, pred_lang, COUNT(*) AS n_docs
    FROM pred GROUP BY lang, pred_lang
    """,
    "Multinomial Naive Bayes language classifier trained on the corpus "
    "itself (add-one smoothing), scored in EXACT decimal log-space: "
    "per-(word, class) log-probs round to 6dp decimals, per-doc scores "
    "are exact decimal dot products (count x logprob), so the argmax "
    "is engine-deterministic — the bigram-LM determinism pattern "
    "generalized to supervised classification. Model size = V x k "
    "(the grid), shuffle ∝ distinct (doc, word) x k, never corpus x "
    "corpus; confusion matrix output",
)
def q_nb_lang_confusion(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    tok = (
        docs.select(
            "doc_id",
            "lang",
            F.explode(text.normalized_tokens("text")).alias("word"),
        )
        .groupBy("doc_id", "lang", "word")
        .agg(F.count(F.lit(1)).alias("n_wd"))
    )
    classes = tok.groupBy(F.col("lang").alias("cls")).agg(
        F.countDistinct("doc_id").alias("n_c")
    )
    nn = classes.agg(F.sum("n_c").alias("n_docs"))
    vv = tok.agg(F.countDistinct("word").alias("v"))
    cwc = tok.groupBy("word", F.col("lang").alias("cls")).agg(
        F.sum("n_wd").alias("c_wc")
    )
    tc = cwc.groupBy("cls").agg(F.sum("c_wc").alias("t_c"))
    words = tok.select("word").distinct()
    grid = (
        words.crossJoin(F.broadcast(classes.select("cls")))
        .join(F.broadcast(tc), "cls")
        .crossJoin(F.broadcast(vv))
        .join(cwc, ["word", "cls"], "left")
        .select(
            "word",
            "cls",
            F.round(
                F.log(
                    (F.coalesce(F.col("c_wc"), F.lit(0)) + F.lit(1.0))
                    / (F.col("t_c") + F.col("v")).cast("double")
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("lp"),
        )
    )
    prior = classes.crossJoin(F.broadcast(nn)).select(
        "cls",
        F.round(
            F.log(F.col("n_c").cast("double") / F.col("n_docs").cast("double")), 6
        )
        .cast("decimal(18,6)")
        .alias("lprior"),
    )
    score = (
        tok.join(grid, "word")
        .join(F.broadcast(prior), "cls")
        .groupBy("doc_id", "lang", "cls")
        .agg(
            (F.sum(F.col("n_wd") * F.col("lp")) + F.any_value("lprior")).alias("s")
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("s").desc(), F.col("cls"))
    pred = (
        score.select("doc_id", "lang", "cls", F.row_number().over(w).alias("_rn"))
        .filter(F.col("_rn") == 1)
        .select("lang", F.col("cls").alias("pred_lang"))
    )
    return pred.groupBy("lang", "pred_lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


@register(
    "snapshot_diff_orders",
    """
    WITH v1 AS (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 100 != 0
    ), v2 AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 1.0
                  ELSE o_totalprice END AS o_totalprice,
             o_orderstatus
      FROM orders WHERE o_orderkey % 101 != 0
    ), d AS (
      SELECT CASE
               WHEN v1.o_orderkey IS NULL THEN 'added'
               WHEN v2.o_orderkey IS NULL THEN 'removed'
               WHEN md5(CAST(v1.o_custkey AS VARCHAR) || '|' ||
                        CAST(v1.o_totalprice AS VARCHAR) || '|' ||
                        v1.o_orderstatus)
                 != md5(CAST(v2.o_custkey AS VARCHAR) || '|' ||
                        CAST(v2.o_totalprice AS VARCHAR) || '|' ||
                        v2.o_orderstatus)
                 THEN 'changed'
               ELSE 'unchanged'
             END AS status
      FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey
    )
    SELECT status, COUNT(*) AS n FROM d GROUP BY status
    """,
    "Snapshot diff / CDC audit between two table versions: one "
    "full-outer join on the key classifies every row added / removed / "
    "changed / unchanged — change detection via a row-content digest "
    "(md5 over a canonical column rendering, so wide rows compare as "
    "one 16-byte value; digests are only compared WITHIN an engine, so "
    "engine-specific float rendering cancels out). The versions are derived "
    "deterministically from orders (drop keys %100, drop %101, perturb "
    "%97 prices) so both engines diff identical inputs",
)
def q_snapshot_diff(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    v1 = o.filter(F.col("o_orderkey") % 100 != 0).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    v2 = o.filter(F.col("o_orderkey") % 101 != 0).select(
        "o_orderkey",
        "o_custkey",
        F.when(
            F.col("o_orderkey") % 97 == 0, F.col("o_totalprice") + 1.0
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderstatus",
    )

    def digest(side: str):
        return F.md5(
            F.concat_ws(
                "|",
                F.col(f"{side}.o_custkey").cast("string"),
                F.col(f"{side}.o_totalprice").cast("string"),
                F.col(f"{side}.o_orderstatus"),
            )
        )

    j = v1.alias("a").join(
        v2.alias("b"), F.col("a.o_orderkey") == F.col("b.o_orderkey"), "full_outer"
    )
    status = (
        F.when(F.col("a.o_orderkey").isNull(), "added")
        .when(F.col("b.o_orderkey").isNull(), "removed")
        .when(digest("a") != digest("b"), "changed")
        .otherwise("unchanged")
    )
    return j.select(status.alias("status")).groupBy("status").agg(
        F.count(F.lit(1)).alias("n")
    )


def _bpe_oracle(
    n_merges: int, final_vocab: bool = False, tail: str | None = None
) -> str:
    """Unrolled BPE merge learning as chained MATERIALIZED CTEs — the
    oracle runs the IDENTICAL rounds the engine's dataflow loop runs
    (operators/text.py:_bpe_rounds): weighted adjacent-pair counts over
    the distinct-word table, argmax with the (count desc, pair asc)
    tie-break, and the space-padded two-pass literal-replace merge
    contract (left-to-right scan-resume semantics are identical in
    DuckDB and Spark, so every symbol sequence matches by construction).
    MATERIALIZED is load-bearing: DuckDB otherwise inlines the chained
    CTEs exponentially (the k-core lesson)."""
    steps = []
    prev = "s0"
    for r in range(1, n_merges + 1):
        steps.append(f"""
    p{r} AS MATERIALIZED (
      SELECT pair, SUM(cnt) AS pair_cnt FROM (
        SELECT cnt, unnest(list_transform(range(1, len(sy)),
                 i -> sy[i] || ' ' || sy[i+1])) AS pair
        FROM (SELECT cnt, string_split(seq, ' ') AS sy FROM {prev})
      ) GROUP BY pair
    ), b{r} AS MATERIALIZED (
      SELECT {r} AS round, split_part(pair, ' ', 1) AS left_sym,
             split_part(pair, ' ', 2) AS right_sym,
             CAST(pair_cnt AS BIGINT) AS cnt,
             ' ' || pair || ' ' AS patt,
             ' ' || replace(pair, ' ', '') || ' ' AS repl
      FROM p{r} ORDER BY pair_cnt DESC, pair ASC LIMIT 1
    ), s{r} AS MATERIALIZED (
      SELECT word, s.cnt, trim(replace(replace(' ' || seq || ' ',
               b.patt, b.repl), b.patt, b.repl)) AS seq
      FROM {prev} s CROSS JOIN b{r} b
    )""")
        prev = f"s{r}"
    kw = "WITH" if tail is None else "WITH RECURSIVE"
    if tail is not None:
        tail = tail.replace("{prev}", prev)
    elif final_vocab:
        tail = f"""
    SELECT word, CAST(cnt AS BIGINT) AS cnt, seq,
           CAST(len(string_split(seq, ' ')) AS BIGINT) AS n_symbols
    FROM {prev}"""
    else:
        tail = " UNION ALL ".join(
            f"""
    SELECT round, left_sym, right_sym, left_sym || right_sym AS merged, cnt
    FROM b{r}"""
            for r in range(1, n_merges + 1)
        )
    return f"""
    {kw} w AS MATERIALIZED (
      SELECT word, COUNT(*) AS cnt FROM (
        SELECT unnest(list_filter(string_split(
          regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
          x -> x != '')) AS word FROM documents)
      GROUP BY word
    ), s0 AS MATERIALIZED (
      SELECT word, cnt,
             trim(regexp_replace(word, '(.)', '\\1 ', 'g')) || ' </w>' AS seq
      FROM w
    ),{",".join(steps)}
    {tail}
    """


# Three queries replay the SAME 12-round sequential BPE merge loop
# (bpe_learn_merges, bpe_encode_vocab, wordpiece_encode_bpe_vocab) —
# the loop is 12 driver-synchronous rounds of explode + hash-agg +
# argmax + rewrite over the distinct-word table (~2.4 s at sf0.1,
# dominated by round latency, not data). The (merges, seqs) pair is
# already localCheckpoint-backed by _bpe_rounds itself.
@_pinned("bpe_evidence")
def _bpe_evidence(spark: SparkSession, sf_dir: str):
    return text._bpe_rounds(_t(spark, sf_dir, "documents"), 12, "text")


@register(
    "bpe_learn_merges",
    _bpe_oracle(12),
    "BPE tokenizer merge learning (Sennrich 2016), 12 rounds: the "
    "learned merge table (round, left, right, merged, weighted pair "
    "count). The only corpus-sized pass is the initial word-count "
    "aggregation; every round then runs over the DISTINCT-word table "
    "(vocabulary-sized at 100 TB) — pair explode + hash agg, global "
    "argmax with a lexicographic tie-break, broadcast 1-row winner "
    "rewriting the symbol sequences via the engine-portable padded "
    "two-pass replace contract; per-round state is checkpointed (the "
    "k-core lineage lesson)",
)
def q_bpe_learn(spark, sf_dir):
    return text.bpe_learn_merges(
        _t(spark, sf_dir, "documents"),
        n_merges=12,
        rounds=_bpe_evidence(spark, sf_dir),
    )


@register(
    "bpe_encode_vocab",
    _bpe_oracle(12, final_vocab=True),
    "The encode side of BPE: every distinct corpus word with its "
    "frequency, its symbol sequence after the 12 learned merges, and "
    "its symbol count — the segmentation the merge table reproduces on "
    "any input text (vocabulary-sized output; the corpus appears only "
    "through the initial word-count pass)",
)
def q_bpe_encode(spark, sf_dir):
    return text.bpe_encode_words(
        _t(spark, sf_dir, "documents"),
        n_merges=12,
        rounds=_bpe_evidence(spark, sf_dir),
    )


def _kmeans_ctes(k: int = 8, iters: int = 3, unit: int = 10**6) -> str:
    """Shared WITH-body for the fixed-point Lloyd's k-means oracles:
    chained MATERIALIZED CTEs replaying the IDENTICAL rounds of
    operators/similarity.py:kmeans_lloyd (integer distances,
    trunc-division updates, md5 seed draw). Ends at c{iters}, the
    trained centroid table."""
    steps = []
    prev = "c0"
    for r in range(1, iters + 1):
        steps.append(f"""
    a{r} AS MATERIALIZED (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk
        FROM (SELECT p.vec_id, c.cid,
                     SUM((p.qv - c.qc) * (p.qv - c.qc)) AS d2
              FROM pts p JOIN {prev} c USING (pos)
              GROUP BY p.vec_id, c.cid))
      WHERE rk = 1
    ), u{r} AS MATERIALIZED (
      SELECT a.cid, p.pos, SUM(p.qv) // COUNT(*) AS qc_new,
             COUNT(*) AS n
      FROM a{r} a JOIN pts p USING (vec_id) GROUP BY a.cid, p.pos
    ), c{r} AS MATERIALIZED (
      SELECT c.cid, c.pos, COALESCE(u.qc_new, c.qc) AS qc,
             CAST(COALESCE(u.n, 0) AS BIGINT) AS n_members
      FROM {prev} c LEFT JOIN u{r} u ON u.cid = c.cid AND u.pos = c.pos
    )""")
        prev = f"c{r}"
    return f"""
    WITH pts AS MATERIALIZED (
      SELECT vec_id, unnest(range(0, len(embedding))) AS pos,
             unnest(list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {unit}.0) AS BIGINT)))
               AS qv
      FROM embeddings
    ), seeds AS MATERIALIZED (
      SELECT vec_id, row_number() OVER (ORDER BY draw) - 1 AS cid FROM (
        SELECT vec_id, md5('km|' || CAST(vec_id AS VARCHAR)) AS draw
        FROM embeddings ORDER BY draw LIMIT {k})
    ), c0 AS MATERIALIZED (
      SELECT s.cid, p.pos, p.qv AS qc, CAST(0 AS BIGINT) AS n_members
      FROM seeds s JOIN pts p USING (vec_id)
    ),{",".join(steps)}"""


def _kmeans_oracle(k: int = 8, iters: int = 3, unit: int = 10**6) -> str:
    """Unrolled fixed-point Lloyd's k-means: every centroid unit must
    match kmeans_lloyd bit-for-bit."""
    return f"""{_kmeans_ctes(k, iters, unit)}
    SELECT cid, CAST(pos AS BIGINT) AS pos,
           CAST(qc AS BIGINT) AS centroid_units,
           CAST(qc AS DOUBLE) / {unit}.0 AS centroid, n_members
    FROM c{iters}
    """


def _semantic_dedup_oracle(
    k: int = 8, iters: int = 3, threshold: float = 0.35, unit: int = 10**6
) -> str:
    """SemDeDup unrolled: the k-means CTEs, a final integer-argmin
    assignment, the (d2 DESC, id) screen order, and quantized-integer
    pair cosines — every double is one shared IEEE expression over
    exact integers, so kept/max_prior_sim match bit-for-bit."""
    return f"""{_kmeans_ctes(k, iters, unit)},
    af AS MATERIALIZED (
      SELECT vec_id, cid, d2 FROM (
        SELECT vec_id, cid, d2,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk
        FROM (SELECT p.vec_id, c.cid,
                     SUM((p.qv - c.qc) * (p.qv - c.qc)) AS d2
              FROM pts p JOIN c{iters} c USING (pos)
              GROUP BY p.vec_id, c.cid))
      WHERE rk = 1
    ), qarr AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {unit}.0) AS BIGINT)) AS q
      FROM embeddings
    ), mem AS MATERIALIZED (
      SELECT a.vec_id, a.cid,
             row_number() OVER (PARTITION BY a.cid
                                ORDER BY a.d2 DESC, a.vec_id) AS rk,
             q.q AS q,
             CAST(list_sum(list_transform(q.q, x -> x * x)) AS BIGINT) AS nq
      FROM af a JOIN qarr q USING (vec_id)
    ), prior AS (
      SELECT a.vec_id,
             MAX(CASE WHEN a.nq > 0 AND b.nq > 0 THEN
                 CAST(CAST(list_sum(list_transform(list_zip(a.q, b.q),
                     p -> p[1] * p[2])) AS BIGINT) AS DOUBLE)
                 / (sqrt(CAST(a.nq AS DOUBLE)) * sqrt(CAST(b.nq AS DOUBLE)))
               END) AS max_prior_sim
      FROM mem a JOIN mem b ON a.cid = b.cid AND b.rk < a.rk
      GROUP BY a.vec_id
    )
    SELECT m.vec_id, m.cid, CAST(m.rk AS BIGINT) AS rk,
           p.max_prior_sim,
           (p.max_prior_sim IS NULL OR p.max_prior_sim < {threshold}) AS kept
    FROM mem m LEFT JOIN prior p USING (vec_id)
    """


@register(
    "kmeans_embeddings",
    _kmeans_oracle(k=8, iters=3),
    "Distributed k-means (3 Lloyd rounds, k=8) over the embedding "
    "corpus in fixed-point integer arithmetic — quantized components, "
    "integer squared-L2 distances (order-independent argmins, ties to "
    "the smaller cid), trunc-division centroid updates, md5-draw "
    "seeding the oracle reproduces. Per round: one Arrow mapInPandas "
    "pass assigns every vector against the (k x dim) centroids in its "
    "closure and emits per-(cid, pos) partial (count, sum) rows, one "
    "small aggregate is collected, and the trunc-div update runs on "
    "the driver — shuffle ∝ k x dim partials per batch, never raw "
    "vectors",
)
def q_kmeans(spark, sf_dir):
    return similarity.kmeans_lloyd(
        _t(spark, sf_dir, "embeddings"), k=8, iters=3
    )


@register(
    "join_bloom_prefiltered_revenue",
    """
    SELECT o_orderpriority,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
             AS revenue,
           count(*) AS n_items
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-04-01'
    GROUP BY o_orderpriority
    """,
    "Semi-join reduction via a DataFrame-aggregated bloom filter "
    "(relational.bloom_semi_prefilter): the lineitem side is cut to "
    "probable matches of the filtered orders keys BEFORE the join "
    "exchange — k broadcast word-table probes pipelined over the scan, "
    "zero added shuffles, row multiplicity preserved exactly; the "
    "exact join then discards bloom false positives, so the oracle is "
    "the PLAIN join (the salted-join evidence pattern: layout changes, "
    "result cannot). The manual cross-format counterpart of Spark's "
    "runtime bloom-filter injection, for key sides too big to "
    "broadcast raw",
)
def q_join_bloom(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_orderpriority")
    )
    pruned = relational.bloom_semi_prefilter(
        li, orders, "l_orderkey", "o_orderkey", m_bits=1 << 18, k_hashes=5
    )
    return pruned.join(orders, pruned.l_orderkey == orders.o_orderkey).groupBy(
        "o_orderpriority"
    ).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "incremental_agg_orders",
    """
    WITH v1 AS (
      SELECT o_custkey, o_orderkey, o_totalprice
      FROM orders WHERE o_orderkey % 100 != 0
    ), final AS (
      SELECT * FROM v1 WHERE o_orderkey % 97 != 0
      UNION ALL
      SELECT o_custkey, o_orderkey, o_totalprice
      FROM orders WHERE o_orderkey % 100 = 0
    )
    SELECT o_custkey, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
             AS sum_price
    FROM final GROUP BY o_custkey
    """,
    "Incremental view maintenance (the materialized-view counterpart "
    "of the hour->day rollup composition): a persisted per-customer "
    "(count, exact-decimal sum) aggregate state absorbs a CDC delta "
    "(+1 inserts / -1 deletes) via one delta-sized signed partial + a "
    "state merge — NEVER a base rescan; zero-count keys drop out. "
    "Decimal sums subtract exactly (doubles cannot), so the oracle is "
    "the direct aggregate over the patched base relation — maintenance "
    "provably result-invisible. Base = orders sans %100 keys; delta "
    "deletes the %97 keys and inserts the %100 ones",
)
def q_incremental_agg(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    v1 = o.filter(F.col("o_orderkey") % 100 != 0)
    state = relational.agg_state(v1, ["o_custkey"], "o_totalprice", scale=4)
    deletes = v1.filter(F.col("o_orderkey") % 97 == 0).withColumn(
        "_sign", F.lit(-1)
    )
    inserts = o.filter(F.col("o_orderkey") % 100 == 0).withColumn(
        "_sign", F.lit(1)
    )
    delta = deletes.unionByName(inserts)
    merged = relational.apply_agg_delta(
        state, delta, ["o_custkey"], "o_totalprice", scale=4
    )
    return merged.select(
        "o_custkey",
        F.col("n_rows").alias("n_orders"),
        F.col("sum_dec").cast("double").alias("sum_price"),
    )


def _pq_oracle(
    m_sub: int = 4,
    dim: int = 64,
    k_codes: int = 8,
    iters: int = 2,
    n_queries: int = 5,
    k: int = 10,
    unit: int = 10**6,
) -> str:
    """Unrolled PQ training + ADC search as chained MATERIALIZED CTEs —
    the IDENTICAL combined-subspace Lloyd rounds, final-codebook encode,
    per-query LUT, and rank window of operators/similarity.py:pq_train /
    pq_adc_topk, in the same fixed-point integer contract."""
    sub_dim = dim // m_sub
    steps = []
    prev = "c0"
    for r in range(1, iters + 1):
        steps.append(f"""
    a{r} AS MATERIALIZED (
      SELECT vec_id, s, code FROM (
        SELECT vec_id, s, code,
               row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, code) AS rk
        FROM (SELECT p.vec_id, p.s, c.code,
                     SUM((p.qv - c.qc) * (p.qv - c.qc)) AS d2
              FROM pts p JOIN {prev} c ON c.pos = p.pos
              GROUP BY p.vec_id, p.s, c.code))
      WHERE rk = 1
    ), u{r} AS MATERIALIZED (
      SELECT a.s, a.code, p.pos, SUM(p.qv) // COUNT(*) AS qc_new
      FROM a{r} a JOIN pts p ON p.vec_id = a.vec_id AND p.s = a.s
      GROUP BY a.s, a.code, p.pos
    ), c{r} AS MATERIALIZED (
      SELECT c.s, c.code, c.pos, COALESCE(u.qc_new, c.qc) AS qc
      FROM {prev} c LEFT JOIN u{r} u
        ON u.s = c.s AND u.code = c.code AND u.pos = c.pos
    )""")
        prev = f"c{r}"
    return f"""
    WITH pts AS MATERIALIZED (
      SELECT vec_id, CAST(pos // {sub_dim} AS BIGINT) AS s, pos, qv FROM (
        SELECT vec_id, unnest(range(0, len(embedding))) AS pos,
               unnest(list_transform(embedding,
                 x -> CAST(floor(CAST(x AS DOUBLE) * {unit}.0) AS BIGINT)))
                 AS qv
        FROM embeddings)
    ), seeds AS MATERIALIZED (
      SELECT s, vec_id, CAST(rk - 1 AS BIGINT) AS code FROM (
        SELECT s, vec_id, row_number() OVER (PARTITION BY s ORDER BY
          md5('pq|' || CAST(s AS VARCHAR) || '|' || CAST(vec_id AS VARCHAR)),
          vec_id) AS rk
        FROM (SELECT vec_id FROM embeddings)
        CROSS JOIN (SELECT unnest(range(0, {m_sub})) AS s))
      WHERE rk <= {k_codes}
    ), c0 AS MATERIALIZED (
      SELECT sd.s, sd.code, p.pos, p.qv AS qc
      FROM seeds sd JOIN pts p ON p.vec_id = sd.vec_id AND p.s = sd.s
    ),{",".join(steps)}, afin AS MATERIALIZED (
      SELECT vec_id, s, code FROM (
        SELECT vec_id, s, code,
               row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, code) AS rk
        FROM (SELECT p.vec_id, p.s, c.code,
                     SUM((p.qv - c.qc) * (p.qv - c.qc)) AS d2
              FROM pts p JOIN {prev} c ON c.pos = p.pos
              GROUP BY p.vec_id, p.s, c.code))
      WHERE rk = 1
    ), qids AS MATERIALIZED (
      SELECT vec_id AS qid FROM embeddings
      ORDER BY md5('pqq|' || CAST(vec_id AS VARCHAR)), vec_id
      LIMIT {n_queries}
    ), lut AS MATERIALIZED (
      SELECT q.qid, p.s, c.code,
             SUM((p.qv - c.qc) * (p.qv - c.qc)) AS d2u
      FROM qids q JOIN pts p ON p.vec_id = q.qid
      JOIN {prev} c ON c.pos = p.pos
      GROUP BY q.qid, p.s, c.code
    ), est AS MATERIALIZED (
      SELECT l.qid, a.vec_id, CAST(SUM(l.d2u) AS BIGINT) AS approx_d2_units
      FROM afin a JOIN lut l ON l.s = a.s AND l.code = a.code
      WHERE a.vec_id != l.qid
      GROUP BY l.qid, a.vec_id
    )
    SELECT qid, vec_id, approx_d2_units,
           CAST(approx_d2_units AS DOUBLE) / {unit * unit}.0 AS approx_d2,
           CAST(rank AS BIGINT) AS rank
    FROM (SELECT qid, vec_id, approx_d2_units,
                 row_number() OVER (
                   PARTITION BY qid ORDER BY approx_d2_units, vec_id) AS rank
          FROM est)
    WHERE rank <= {k}
    """


@register(
    "embedding_pq_adc_topk",
    _pq_oracle(),
    "Product quantization (Jegou 2011) end to end: subspace codebook "
    "training as ONE combined Lloyd dataflow loop (centroid key = "
    "(subspace, code) — all m codebooks train in the same pass), "
    "final-codebook encoding (vectors compress to m_sub code bytes), "
    "and Asymmetric Distance Computation search: per-query exact "
    "LUTs of m x k integer distances broadcast onto the codes table, "
    "top-k by summed LUT entries (FAISS's IVFPQ inner kernel). All "
    "fixed-point, so training, codes, estimates, and ranks are "
    "engine-exact. Completes the ANN matrix: brute force / SRP-LSH / "
    "IVF (grid + kmeans) / SQ8 / PQ-ADC",
)
def q_pq_adc(spark, sf_dir):
    return similarity.pq_adc_topk(
        _t(spark, sf_dir, "embeddings"), n_queries=5, k=10
    )


_KMV_SAMPLE_CTE = """
    dk AS (
      SELECT DISTINCT event_type,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h
      FROM events {where}
    ),
    rk AS (
      SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
      FROM dk
    )
"""


@register(
    "kmv_distinct_users",
    f"""
    WITH {_KMV_SAMPLE_CTE.format(where="")}
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_sample,
           max(CASE WHEN rk = 32 THEN h END) AS kth_hash,
           CASE WHEN count(*) < 32 THEN CAST(count(*) AS DOUBLE)
                ELSE 31.0 / ((max(CASE WHEN rk = 32 THEN h END) + 0.5)
                             / 4294967296.0)
           END AS est_distinct
    FROM rk WHERE rk <= 32 GROUP BY event_type
    """,
    "K-Minimum-Values distinct sketch (Bar-Yossef 2002 / Beyer SIGMOD "
    "2007): per-event-type distinct-user estimate (k-1)/u_k from the k "
    "smallest md5 hash values — the ORACLE-EXACT counterpart of the "
    "rows-only HLL entries: equally mergeable and O(k)-sized, but every "
    "output is a deterministic function of the data (u_k is a dyadic "
    "rational, the estimator one correctly-rounded division). The "
    "k-smallest selection is a two-level tournament over (group, h mod "
    "64) buckets — every window partition bounded, no per-group sort "
    "funnel, skew-immune because buckets derive from the hash itself; "
    "groups with < k distinct keys fall through to their EXACT count",
)
def q_kmv_distinct(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return sketches.kmv_distinct(ev, "user_id", ["event_type"], k=32)


@register(
    "kmv_set_ops_view_purchase",
    f"""
    WITH {_KMV_SAMPLE_CTE.format(where="WHERE event_type IN ('view', 'purchase')")},
    packed AS (
      SELECT event_type, list_sort(list(h)) AS hs
      FROM rk WHERE rk <= 32 GROUP BY event_type
    ),
    ab AS (
      SELECT a.hs AS ha, b.hs AS hb,
             list_sort(list_distinct(list_concat(a.hs, b.hs)))[1:32] AS comb
      FROM (SELECT hs FROM packed WHERE event_type = 'view') a,
           (SELECT hs FROM packed WHERE event_type = 'purchase') b
    )
    SELECT 'view' AS group_a, 'purchase' AS group_b,
           CAST(len(ha) AS BIGINT) AS n_sample_a,
           CAST(len(hb) AS BIGINT) AS n_sample_b,
           CAST(len(comb) AS BIGINT) AS n_combined,
           CASE WHEN len(comb) < 32 THEN CAST(len(comb) AS DOUBLE)
                ELSE (len(comb) - 1.0)
                     / ((comb[len(comb)] + 0.5) / 4294967296.0)
           END AS est_union,
           CAST(len(list_intersect(list_intersect(comb, ha), hb)) AS DOUBLE)
             / len(comb) AS est_jaccard,
           (CAST(len(list_intersect(list_intersect(comb, ha), hb)) AS DOUBLE)
             / len(comb))
           * (CASE WHEN len(comb) < 32 THEN CAST(len(comb) AS DOUBLE)
                   ELSE (len(comb) - 1.0)
                        / ((comb[len(comb)] + 0.5) / 4294967296.0)
              END) AS est_intersection
    FROM ab
    """,
    "Theta-sketch-style set operations from two KMV sketches (Dasgupta "
    "2016): union / intersection / Jaccard cardinality estimates for "
    "the view-vs-purchase user sets computed ONLY from the k-minima "
    "samples — the combined sketch's threshold makes sample membership "
    "tests exact below theta, so audience-overlap questions at 100 TB "
    "cost two k-row sketches plus array math over <= 2k elements on "
    "one row, all of it oracle-reproduced bit-for-bit",
)
def q_kmv_set_ops(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return sketches.kmv_set_ops(
        ev, "user_id", "event_type", "view", "purchase", k=32
    )


@register(
    "skyline_orders",
    """
    WITH g AS (
      SELECT o_totalprice AS x, min(o_orderdate) AS gy
      FROM orders GROUP BY 1
    ),
    p AS (
      SELECT x, gy,
             min(gy) OVER (ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS runlt
      FROM g
    )
    SELECT o.o_orderkey, o.o_custkey, o.o_totalprice, o.o_orderdate
    FROM orders o JOIN p ON o.o_totalprice = p.x
    WHERE o.o_orderdate = p.gy
      AND (p.runlt IS NULL OR p.runlt > o.o_orderdate)
    """,
    "2-D skyline / Pareto-frontier operator (Borzsonyi ICDE 2001): "
    "orders no other order beats on BOTH price and date (cheapest-"
    "earliest frontier; equal points co-survive). Sort-based skyline "
    "without the global sort: survive iff y = min y at this exact x "
    "AND the prefix-min of y over strictly-cheaper x is > y, with the "
    "prefix-min run as a bucketed parallel prefix (the "
    "global_prefix_sum shape with min) — bounded window partitions, "
    "broadcast bucket offsets, one join back on x; never the quadratic "
    "dominance self-join. Oracle states the plain single-window form",
)
def q_skyline(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    return relational.skyline_min2(
        o,
        "o_totalprice",
        "o_orderdate",
        bucket_expr=F.floor(F.col("o_totalprice") / F.lit(10000.0)),
    )


def _ewma_oracle(
    alpha_num: int = 1, alpha_den: int = 4, lookback: int = 8, unit: int = 10**6
) -> str:
    """The identical lag chain + integer weights + floor division of
    timeseries.ewma_bounded, spelled out for DuckDB."""
    r = alpha_den - alpha_num
    weights = [r**i * alpha_den ** (lookback - i) for i in range(lookback + 1)]
    lag_cols = ",\n             ".join(
        f"lag(qv, {i}) OVER w AS q{i}" for i in range(1, lookback + 1)
    )
    num = " + ".join(
        f"{wt} * COALESCE(q{i}, 0)" if i else f"{weights[0]} * qv"
        for i, wt in enumerate(weights)
    )
    den = " + ".join(
        f"CASE WHEN q{i} IS NOT NULL THEN {wt} ELSE 0 END"
        if i
        else f"{weights[0]}"
        for i, wt in enumerate(weights)
    )
    return f"""
    WITH q AS (
      SELECT event_id, user_id, value,
             CAST(floor(value * {unit}) AS BIGINT) AS qv,
             ts
      FROM events
    ),
    l AS (
      SELECT event_id, user_id, value, qv,
             {lag_cols}
      FROM q
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_id, user_id, value,
           CAST(({num}) // ({den}) AS DOUBLE) / {unit}.0 AS ewma
    FROM l
    """


@register(
    "ewma_value_events",
    _ewma_oracle(),
    "Bounded-lookback EWMA (alpha=1/4, 8 lags) per user in fixed-point "
    "integer arithmetic: exact EWMA is a float recurrence that "
    "diverges across engines at rounding ties (the PageRank lesson), "
    "so the tail is truncated to closed-form INTEGER weights "
    "r^i * alpha_den^(L-i) with the normalizer adapting to the lags "
    "present — one weighted integer sum, one floor division, identical "
    "under Spark DIV and DuckDB //. Plan: 9 lag columns over ONE "
    "window spec = a single user_id exchange, everything in codegen",
)
def q_ewma(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return timeseries.ewma_bounded(ev).select(
        "event_id", "user_id", "value", "ewma"
    )


@register(
    "containment_near_dup",
    """
    WITH sh AS (
      SELECT doc_id, source AS blk,
             list_distinct(string_split_regex(
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), '\\s+')) AS sh
      FROM documents
    )
    SELECT doc_id, container_id, containment FROM (
      SELECT a.doc_id AS doc_id, b.doc_id AS container_id,
             CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / CAST(len(a.sh) AS DOUBLE) AS containment
      FROM sh a JOIN sh b
        ON a.blk = b.blk AND a.doc_id != b.doc_id
      WHERE len(a.sh) > 0 AND len(b.sh) > 0
    ) WHERE containment >= 0.6
    """,
    "Asymmetric CONTAINMENT similarity |A∩B| / |A| over token sets "
    "(Broder 1997's second resemblance measure): a short document "
    "embedded in a long one scores ~1 here while its Jaccard "
    "~|A|/|B| stays under every near-dup threshold — the duplication "
    "mode the symmetric family cannot see. The plan is the quadratic "
    "in-block formulation the oracle states: one grouped Arrow task "
    "per source block counts every pair's shared distinct tokens with "
    "exact float64 products of 0/1 incidence tiles (the kernel "
    "ngram_jaccard_pairs runs), each intersection serving both "
    "directions",
)
def q_containment(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return dedup.containment_pairs(
        docs, block_col="source", shingle_n=1, threshold=0.6
    )


@register(
    "containment_quotes_trigram",
    """
    WITH tk AS (
      SELECT doc_id, source AS blk,
             list_filter(string_split(
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
               x -> x != '') AS tk
      FROM documents
    ),
    sh AS (
      SELECT doc_id, blk,
             list_distinct(list_transform(range(1, len(tk) - 1),
               i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
      FROM tk WHERE len(tk) >= 3
    )
    SELECT doc_id, container_id, containment FROM (
      SELECT a.doc_id AS doc_id, b.doc_id AS container_id,
             CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / CAST(len(a.sh) AS DOUBLE) AS containment
      FROM sh a JOIN sh b
        ON a.blk = b.blk AND a.doc_id != b.doc_id
    ) WHERE containment >= 0.5
    """,
    "The SEQUENCE-level quote detector: containment over word TRIGRAM "
    "sets — shared vocabulary no longer counts, only shared 3-word "
    "runs do, so the survivors are genuine copied passages (this "
    "corpus holds exactly the near-dup pair planted in it, both "
    "directions). Same blocked Arrow kernel as containment_near_dup "
    "over trigrams; grams held by one document of a block are dropped "
    "before the count, so the sparse trigram space keeps the "
    "incidence tiles small",
)
def q_containment_trigram(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return dedup.containment_pairs(
        docs, block_col="source", shingle_n=3, threshold=0.5
    )


@register(
    "golden_record_docs",
    """
    WITH RECURSIVE sh AS (
      SELECT doc_id, source AS blk,
             list_distinct(string_split_regex(
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), '\\s+')) AS sh
      FROM documents
    ),
    pr AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sh a JOIN sh b ON a.blk = b.blk AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) >= 0.3
    ),
    edges AS (
      SELECT doc_a AS s, doc_b AS t FROM pr
      UNION
      SELECT doc_b AS s, doc_a AS t FROM pr
    ),
    reach AS (
      SELECT doc_id AS id, doc_id AS r FROM documents
      UNION
      SELECT reach.id, e.t AS r FROM reach JOIN edges e ON e.s = reach.r
    ),
    clusters AS (
      SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
    ),
    j AS (
      SELECT c.cluster_id, d.doc_id, d.text, d.lang, d.source, d.n_chars
      FROM clusters c JOIN documents d USING (doc_id)
    ),
    base AS (
      SELECT cluster_id, min(doc_id) AS canonical_id,
             count(*) AS n_members
      FROM j GROUP BY 1
    ),
    tx AS (
      SELECT cluster_id, text, n_chars FROM (
        SELECT cluster_id, text, n_chars,
               row_number() OVER (PARTITION BY cluster_id
                 ORDER BY n_chars DESC, doc_id) AS rn
        FROM j) WHERE rn = 1
    ),
    lg AS (
      SELECT cluster_id, lang FROM (
        SELECT cluster_id, lang,
               row_number() OVER (PARTITION BY cluster_id
                 ORDER BY count(*) DESC, lang) AS rn
        FROM j GROUP BY cluster_id, lang) WHERE rn = 1
    ),
    src AS (
      SELECT cluster_id, source FROM (
        SELECT cluster_id, source,
               row_number() OVER (PARTITION BY cluster_id
                 ORDER BY count(*) DESC, source) AS rn
        FROM j GROUP BY cluster_id, source) WHERE rn = 1
    )
    SELECT b.cluster_id, b.canonical_id, b.n_members,
           lg.lang, src.source, tx.n_chars, tx.text
    FROM base b JOIN tx USING (cluster_id) JOIN lg USING (cluster_id)
                JOIN src USING (cluster_id)
    """,
    "Golden-record construction — FIELD-WISE survivorship over near-dup "
    "clusters (vs dedup_cluster_canonical's keep-one-member-verbatim): "
    "canonical id = min member id, text from the longest member "
    "(doc_id tie-break), lang/source = modal values (lexicographic "
    "tie-break). Composition of the verified closure clusters with "
    "three rank-1 window picks over cluster-keyed rows — one row per "
    "member / per distinct member value, never a cluster self-join",
)
def q_golden_record(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return dedup.golden_record(docs, _near_dup_clusters(spark, sf_dir))


@register(
    "mad_outlier_events",
    """
    WITH dv AS (
      SELECT event_type, value AS v, count(*) AS c
      FROM events GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type, v,
             sum(c) OVER (PARTITION BY event_type ORDER BY v) AS cc,
             sum(c) OVER (PARTITION BY event_type) AS n
      FROM dv
    ),
    med AS (
      SELECT event_type, min(v) AS med
      FROM cum WHERE cc >= (n + 1) // 2 GROUP BY 1
    ),
    dev AS (
      SELECT e.event_type, abs(e.value - m.med) AS av
      FROM events e JOIN med m USING (event_type)
    ),
    dv2 AS (
      SELECT event_type, av, count(*) AS c FROM dev GROUP BY 1, 2
    ),
    cum2 AS (
      SELECT event_type, av,
             sum(c) OVER (PARTITION BY event_type ORDER BY av) AS cc,
             sum(c) OVER (PARTITION BY event_type) AS n
      FROM dv2
    ),
    mad AS (
      SELECT event_type, min(av) AS mad
      FROM cum2 WHERE cc >= (n + 1) // 2 GROUP BY 1
    )
    SELECT e.event_type, count(*) AS n, max(m.med) AS med,
           max(d.mad) AS mad,
           CAST(sum(CASE WHEN abs(e.value - m.med) > 3.0 * d.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM events e JOIN med m USING (event_type)
                  JOIN mad d USING (event_type)
    GROUP BY 1
    """,
    "Median-Absolute-Deviation outlier screen per event type — the "
    "heavy-tail-robust complement of anomaly_zscore_events (a mean/"
    "stddev fence moves arbitrarily under one wild value; a median "
    "fence needs half the data to move). Both medians are DISCRETE "
    "picks via the bucketed parallel prefix-sum over distinct-value "
    "counts (relational.grouped_value_cum — never a per-group sort of "
    "raw rows, window partitions bounded by one value bucket), fences "
    "broadcast onto one final scan; every intermediate bit-exact "
    "cross-engine",
)
def q_mad_outliers(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    return relational.mad_outlier_stats(ev, ["event_type"], "value", c=3.0)


@register(
    "quantile_bins_orders",
    """
    WITH n AS (SELECT count(*) AS n FROM orders),
    dv AS (
      SELECT o_totalprice AS v, count(*) AS c FROM orders GROUP BY 1
    ),
    cum AS (SELECT v, sum(c) OVER (ORDER BY v) AS cc FROM dv),
    tg AS (
      SELECT i, (i * n.n + 9) // 10 AS tgt
      FROM range(1, 10) t(i), n
    ),
    edges AS (
      SELECT i, min(v) AS edge FROM cum JOIN tg ON cc >= tgt GROUP BY i
    ),
    b AS (
      SELECT o.o_totalprice AS v,
             1 + (SELECT count(*) FROM edges e
                  WHERE o.o_totalprice > e.edge) AS bin
      FROM orders o
    )
    SELECT CAST(bin AS BIGINT) AS bin, count(*) AS n_rows,
           min(v) AS lo, max(v) AS hi
    FROM b GROUP BY 1
    """,
    "Equal-frequency discretization (the feature-engineering quantile "
    "binner): decile bins of o_totalprice with exact DISCRETE edge "
    "quantiles — element picks at integer-ceiling ranks, so edges are "
    "engine-exact values from the data, not interpolated floats. Edge "
    "computation is distinct-value sized (bucketed prefix-sum, width-"
    "10000 order-consistent buckets); the 9-edge array broadcasts onto "
    "a single assignment scan. Duplicate mass makes bins unequal by "
    "design — ties cannot straddle an edge",
)
def q_quantile_bins(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select("o_totalprice")
    return relational.quantile_bins(
        o,
        "o_totalprice",
        n_bins=10,
        bucket_expr=F.floor(F.col("o_totalprice") / F.lit(10000.0)),
    )


@register(
    "kmv_incremental_verified",
    f"""
    WITH {_KMV_SAMPLE_CTE.format(where="")}
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_sample,
           max(CASE WHEN rk = 32 THEN h END) AS kth_hash,
           CASE WHEN count(*) < 32 THEN CAST(count(*) AS DOUBLE)
                ELSE 31.0 / ((max(CASE WHEN rk = 32 THEN h END) + 0.5)
                             / 4294967296.0)
           END AS est_distinct
    FROM rk WHERE rk <= 32 GROUP BY event_type
    """,
    "Incremental KMV maintenance: the event_id % 5 == 0 slice plays "
    "the persisted per-type sketch state, the rest a new delivery; "
    "merging the two k-minima samples (kmv_merge_samples: union + "
    "re-rank over <= 2k rows per group) must equal the sketch of the "
    "FULL data exactly — k-minima selection is a lossless mergeable "
    "summary, so sketch state rolls forward batch by batch without "
    "ever rescanning history. The oracle computes the full-data "
    "sketch directly: merge provably result-invisible (the "
    "dedup_incremental / minhash_incremental evidence pattern applied "
    "to cardinality estimation)",
)
def q_kmv_incremental(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    state = sketches.kmv_sample(
        ev.filter(F.col("event_id") % 5 == 0), "user_id", ["event_type"], k=32
    )
    batch = sketches.kmv_sample(
        ev.filter(F.col("event_id") % 5 != 0), "user_id", ["event_type"], k=32
    )
    merged = sketches.kmv_merge_samples(state, batch, ["event_type"], k=32)
    return sketches.kmv_estimate(merged, ["event_type"], k=32)


@register(
    "event_debounce_1d",
    """
    WITH RECURSIVE ord AS (
      SELECT user_id, event_type, event_id, epoch_us(ts) AS t,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY epoch_us(ts), event_id) AS rn
      FROM events
    ),
    keep AS (
      SELECT user_id, event_type, event_id, t, rn,
             t AS last_kept, TRUE AS kept
      FROM ord WHERE rn = 1
      UNION ALL
      SELECT o.user_id, o.event_type, o.event_id, o.t, o.rn,
             CASE WHEN o.t - k.last_kept >= 86400000000
                  THEN o.t ELSE k.last_kept END,
             o.t - k.last_kept >= 86400000000
      FROM keep k JOIN ord o
        ON o.user_id = k.user_id AND o.event_type = k.event_type
       AND o.rn = k.rn + 1
    )
    SELECT user_id, event_type, event_id, make_timestamp(t) AS ts
    FROM keep WHERE kept
    """,
    "Greedy debounce / throttle (keep an event iff >= 24 h since the "
    "last KEPT event per (user, type)) — a running state machine NO "
    "window function expresses: survival depends on which earlier "
    "events survived (lag-vs-previous-RAW under-keeps: a steady "
    "sub-gap drip keeps only its first event here, but nothing under "
    "a raw-lag rule). Runs as a deterministic integer left fold "
    "(F.aggregate) over each group's time-sorted array; the oracle "
    "replays the identical chain as a recursive CTE. Timestamps round-"
    "trip through exact micros",
)
def q_debounce(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return timeseries.debounce(ev, gap_us=86_400_000_000).select(
        "user_id", "event_type", "event_id", "ts"
    )


_HOURLY_LAG_CTE = """
    hc AS (
      SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS cnt
      FROM events GROUP BY 1, 2
    ),
    l AS (
      SELECT event_type, hr, cnt,
             lag(cnt) OVER w AS pc, lag(hr) OVER w AS ph
      FROM hc
      WINDOW w AS (PARTITION BY event_type ORDER BY hr)
    )
"""


@register(
    "burst_hourly_events",
    f"""
    WITH {_HOURLY_LAG_CTE}
    SELECT event_type, hr, cnt,
           CASE WHEN epoch_us(hr) - epoch_us(ph) = 3600000000
                THEN pc END AS prev_cnt,
           CAST(cnt AS DOUBLE)
             / CAST(CASE WHEN epoch_us(hr) - epoch_us(ph) = 3600000000
                         THEN pc END AS DOUBLE) AS ratio,
           CAST(CASE WHEN epoch_us(hr) - epoch_us(ph) = 3600000000
                THEN (CASE WHEN cnt >= 2 * pc THEN 1 ELSE 0 END) END
             AS BIGINT) AS is_burst
    FROM l
    """,
    "Hour-over-hour burst detection per event type: previous "
    "CONSECUTIVE hour's count (null across gaps — comparing against a "
    "silent hour would fabricate infinite growth), growth ratio, and "
    "an INTEGER-compared burst flag cnt >= 2*prev (the flag never "
    "reads the float ratio, so threshold semantics are engine-exact). "
    "One group-keyed window over hourly-bucket rows; everything after "
    "the first aggregation is bucket-sized",
)
def q_burst(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return timeseries.burst_detect(ev)


@register(
    "autocorr_hourly_events",
    f"""
    WITH {_HOURLY_LAG_CTE},
    p AS (
      SELECT event_type, pc AS x, cnt AS y FROM l
      WHERE epoch_us(hr) - epoch_us(ph) = 3600000000
    ),
    m AS (
      SELECT event_type,
             count(*) AS n_pairs,
             CAST(CAST(sum(x) AS BIGINT) AS DOUBLE) AS sx,
             CAST(CAST(sum(y) AS BIGINT) AS DOUBLE) AS sy,
             CAST(CAST(sum(x * y) AS BIGINT) AS DOUBLE) AS sxy,
             CAST(CAST(sum(x * x) AS BIGINT) AS DOUBLE) AS sxx,
             CAST(CAST(sum(y * y) AS BIGINT) AS DOUBLE) AS syy
      FROM p GROUP BY 1
    )
    SELECT event_type, n_pairs,
           CASE WHEN (CAST(n_pairs AS DOUBLE) * sxx - sx * sx)
                     * (CAST(n_pairs AS DOUBLE) * syy - sy * sy) > 0.0
                THEN (CAST(n_pairs AS DOUBLE) * sxy - sx * sy)
                     / sqrt((CAST(n_pairs AS DOUBLE) * sxx - sx * sx)
                            * (CAST(n_pairs AS DOUBLE) * syy - sy * sy))
           END AS autocorr_lag1
    FROM m
    """,
    "Lag-1 autocorrelation of each type's hourly count series over "
    "consecutive-hour pairs — temporal self-similarity from EXACT "
    "integer moment sums (counts are bigints: no decimal dance "
    "needed, int64-to-double casts are correctly rounded), then one "
    "fixed sequence of double ops for Pearson's r — the "
    "agg_corr_regression construction integer-simplified. Gaps "
    "contribute no pairs rather than fabricated zeros; constant "
    "series yield null, not a 0/0",
)
def q_autocorr(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return timeseries.autocorr_lag1(ev)


def _markov_oracle(iters: int) -> str:
    """Unrolled power-method oracle over the event-type transition
    chain: HUGEINT product-then-floor-divide per contribution (the HITS
    parity), MATERIALIZED CTEs (reference-count lesson)."""
    u = 10**12
    parts = [
        "WITH x AS MATERIALIZED (",
        "  SELECT lag(event_type) OVER (PARTITION BY user_id",
        "           ORDER BY ts, event_id) AS src,",
        "         event_type AS dst",
        "  FROM events",
        "),",
        "t AS MATERIALIZED (",
        "  SELECT src, dst, count(*) AS n FROM x WHERE src IS NOT NULL",
        "  GROUP BY 1, 2",
        "),",
        "rt AS MATERIALIZED (SELECT src, SUM(n) AS rtot FROM t GROUP BY 1),",
        "s AS MATERIALIZED (SELECT DISTINCT src AS state FROM t),",
        "p0 AS MATERIALIZED (",
        f"  SELECT state, CAST(CAST({u} AS HUGEINT)",
        "    // (SELECT count(*) FROM s) AS BIGINT) AS mu FROM s",
        "),",
    ]
    prev = "p0"
    for r in range(1, iters + 1):
        parts += [
            f"c{r} AS MATERIALIZED (",
            "  SELECT t.dst AS state,",
            "         SUM((CAST(mu AS HUGEINT) * n) // rtot) AS m",
            f"  FROM t JOIN {prev} ON t.src = {prev}.state",
            "       JOIN rt ON t.src = rt.src",
            "  GROUP BY 1",
            "),",
            f"p{r} AS MATERIALIZED (",
            f"  SELECT s.state, CAST(COALESCE(c{r}.m, 0) AS BIGINT) AS mu",
            f"  FROM s LEFT JOIN c{r} USING (state)",
            "),",
        ]
        prev = f"p{r}"
    parts[-1] = parts[-1].rstrip(",")
    parts.append(
        f"SELECT state, mu AS mass_units, CAST(mu AS DOUBLE) / {u} AS mass"
        f" FROM {prev}"
    )
    return "\n".join(parts)


@register(
    "markov_stationary_events",
    _markov_oracle(iters=4),
    "Stationary distribution of the behavioral event-type Markov chain "
    "(4-round power method over the row-stochastic transition matrix "
    "n_ij/n_i): where the user process spends its time in the long run "
    "— the occupancy summary raw transition counts can't give. "
    "Fixed-point: mass in 1e-12 units, each contribution is "
    "(pi_i * n_ij) div n_i with the DECIMAL(38,0) product FIRST (no "
    "intermediate floor loss; Spark div == DuckDB HUGEINT //, the HITS "
    "parity); floor leakage deterministic, the 4-round vector is the "
    "pinned contract (no damping hack needed for a fixed horizon). One "
    "corpus-sized window+agg builds the transition relation; rounds "
    "run on (states, units) rows, broadcast, checkpointed. Completes "
    "the spectral trio: PageRank (undirected centrality), HITS "
    "(bipartite), power method (stochastic chains)",
)
def q_markov(spark, sf_dir):
    from .operators import graph

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = (
        ev.withColumn("src", F.lag("event_type").over(w))
        .filter(F.col("src").isNotNull())
        .groupBy("src", F.col("event_type").alias("dst"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return graph.markov_stationary(t, iters=4)


def _hits_oracle(iters: int) -> str:
    """Unrolled-CTE HITS oracle: DuckDB regenerates every half-step in
    HUGEINT (int128) arithmetic — SUM(HUGEINT) and ``//`` match Spark's
    DECIMAL(38,0) sums and ``div`` exactly on these non-negative values
    (probed: identical trunc). Every CTE is MATERIALIZED per the k-core
    reference-count lesson (ar/hr are each read twice: once for the
    normalize, once for the total)."""
    u = 10**12
    parts = [
        "WITH e AS MATERIALIZED (",
        "  SELECT DISTINCT o_custkey AS src, l_partkey AS dst",
        "  FROM orders JOIN lineitem ON o_orderkey = l_orderkey",
        "),",
        "s AS MATERIALIZED (SELECT DISTINCT src FROM e),",
        "h0 AS MATERIALIZED (",
        f"  SELECT src, CAST(CAST({u} AS HUGEINT)",
        "    // (SELECT count(*) FROM s) AS BIGINT) AS hu FROM s",
        "),",
    ]
    prev_h = "h0"
    for i in range(1, iters + 1):
        parts += [
            f"ar{i} AS MATERIALIZED (",
            "  SELECT dst, SUM(CAST(hu AS HUGEINT)) AS raw",
            f"  FROM e JOIN {prev_h} USING (src) GROUP BY dst",
            "),",
            f"a{i} AS MATERIALIZED (",
            f"  SELECT dst, CAST((raw * {u})",
            f"    // (SELECT SUM(raw) FROM ar{i}) AS BIGINT) AS au FROM ar{i}",
            "),",
            f"hr{i} AS MATERIALIZED (",
            "  SELECT src, SUM(CAST(au AS HUGEINT)) AS raw",
            f"  FROM e JOIN a{i} USING (dst) GROUP BY src",
            "),",
            f"h{i} AS MATERIALIZED (",
            f"  SELECT src, CAST((raw * {u})",
            f"    // (SELECT SUM(raw) FROM hr{i}) AS BIGINT) AS hu FROM hr{i}",
            "),",
        ]
        prev_h = f"h{i}"
    parts[-1] = parts[-1].rstrip(",")  # close the WITH list
    parts += [
        f"SELECT 'hub' AS side, src AS node, hu AS score_units,",
        f"       CAST(hu AS DOUBLE) / {u} AS score FROM h{iters}",
        "UNION ALL",
        f"SELECT 'authority' AS side, dst AS node, au AS score_units,",
        f"       CAST(au AS DOUBLE) / {u} AS score FROM a{iters}",
    ]
    return "\n".join(parts)


@register(
    "hits_customer_part",
    _hits_oracle(iters=2),
    "HITS hubs & authorities (Kleinberg 1999) over the directed "
    "bipartite buyer->product graph (distinct (custkey, partkey) edges "
    "through orders x lineitem): hubs are broad well-connected buyers, "
    "authorities the products such buyers concentrate on — the "
    "mutual-reinforcement signal a plain degree count cannot express; "
    "completes the spectral pair with pagerank_cooccurrence. "
    "Fixed-point end to end: 1e-12-unit scores, exact DECIMAL(38,0) "
    "half-step sums (in-scores reach indegree x UNITS — int64 "
    "overflows at 100 TB indegree), and L1 normalization as ONE "
    "integer (raw * UNITS) div total — Spark decimal div == DuckDB "
    "HUGEINT // (probed, trunc == floor on non-negative). 2 rounds "
    "unrolled as MATERIALIZED CTEs; score tables broadcast "
    "(localCheckpoint erases size stats — PageRank lesson); every "
    "half-step checkpoints (k-core lineage lesson)",
)
def q_hits(spark, sf_dir):
    from .operators import graph

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    edges = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("src"), F.col("l_partkey").alias("dst"))
        .distinct()
    )
    return graph.hits(edges, iters=2)


def _benford_oracle() -> str:
    """Benford oracle: identical 6dp expectation literals (quantized once
    in Python — evaluation.BENFORD_P6), integer-string first digits, a
    1..9 digit spine (zero-count digits contribute their full expected
    term — the strongest fabrication signal), skipped (< 1 / NULL) rows
    counted, 9dp-quantized chi-square terms; every decimal→double goes
    via VARCHAR (the DuckDB int128-cast lesson)."""
    case = " ".join(
        f"WHEN digit = {d} THEN CAST('{evaluation.BENFORD_P6[d]}'"
        " AS DECIMAL(18,6))"
        for d in range(1, 10)
    )
    return f"""
    WITH c AS (
      SELECT CASE WHEN o_totalprice >= 1 THEN
               CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT)
                 AS VARCHAR), 1, 1) AS INT)
             END AS digit,
             count(*) AS n_obs
      FROM orders GROUP BY 1
    ), spine AS (
      SELECT d.digit, COALESCE(c.n_obs, 0) AS n_obs
      FROM (SELECT CAST(range AS INT) AS digit FROM range(1, 10)) d
      LEFT JOIN c ON c.digit = d.digit
      WHERE EXISTS (SELECT 1 FROM c WHERE digit IS NOT NULL)
    ), a AS (
      SELECT digit, n_obs FROM spine
      UNION ALL SELECT digit, n_obs FROM c WHERE digit IS NULL
    ), t AS (
      SELECT digit, n_obs,
             SUM(CASE WHEN digit IS NOT NULL THEN n_obs ELSE 0 END)
               OVER () AS nt,
             SUM(CASE WHEN digit IS NULL THEN n_obs ELSE 0 END)
               OVER () AS nsk,
             CASE {case} END AS expsh
      FROM a
    ), s AS (
      SELECT *, CAST(round(
          CAST(CAST(CAST(n_obs AS DECIMAL(28,6)) - expsh * nt AS VARCHAR)
               AS DOUBLE)
          * CAST(CAST(CAST(n_obs AS DECIMAL(28,6)) - expsh * nt AS VARCHAR)
               AS DOUBLE)
          / CAST(CAST(expsh * nt AS VARCHAR) AS DOUBLE), 9)
          AS DECIMAL(28,9)) AS tq
      FROM t
    )
    SELECT digit, CAST(n_obs AS BIGINT) AS n_obs,
           CAST(nt AS BIGINT) AS n_total,
           CAST(nsk AS BIGINT) AS n_skipped,
           CAST(n_obs AS DOUBLE) / CAST(nt AS DOUBLE) AS obs_share,
           CAST(CAST(expsh AS VARCHAR) AS DOUBLE) AS exp_share,
           CAST(CAST(SUM(tq) OVER () AS VARCHAR) AS DOUBLE) AS chi2
    FROM s WHERE digit IS NOT NULL
    """


@register(
    "benford_screen_totalprice",
    _benford_oracle(),
    "Benford's-law conformance screen over order values — the classic "
    "fraud / synthetic-data detector (first significant digits of "
    "natural magnitudes follow log10(1+1/d); generated data doesn't, "
    "and TPC-H's uniform price law duly FAILS the screen — that "
    "deviation is the signal). First digit from the INTEGER part's "
    "string form (integers print identically everywhere — no log10, "
    "no float formatting); observed counts left-join a 1..9 digit "
    "spine so a wholly absent digit still contributes its full "
    "(0-E)^2/E = E chi-square term (the strongest fabrication signal "
    "must not vanish from the statistic); skipped (< 1 / NULL) rows "
    "are counted in n_skipped from the same single scan; expectations "
    "are 6dp literals quantized once in Python (fs_weights rule); "
    "chi-square terms quantize to 9dp decimals before the associative "
    "window total (chi2_source_lang rule — a float sum over 9 terms "
    "is order-dependent). One scan, <= 10 shuffled rows",
)
def q_benford(spark, sf_dir):
    return evaluation.benford_screen(_t(spark, sf_dir, "orders"), "o_totalprice")


@register(
    "mutual_info_type_hour",
    """
    WITH cells AS (
      SELECT event_type AS x, CAST(hour(ts) AS INT) AS y, count(*) AS c
      FROM events GROUP BY 1, 2
    ),
    b AS (
      SELECT *, SUM(c) OVER (PARTITION BY x) AS cx,
             SUM(c) OVER (PARTITION BY y) AS cy,
             SUM(c) OVER () AS n
      FROM cells
    ),
    mi AS (
      SELECT MAX(n) AS n_rows, count(*) AS n_cells,
             SUM(CAST(c AS DECIMAL(18,6))
                 * CAST(round(ln((CAST(c AS DOUBLE) * CAST(n AS DOUBLE))
                       / (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE))), 6)
                   AS DECIMAL(18,6))) AS mi_sum
      FROM b
    ),
    hx AS (
      SELECT SUM(CAST(cm AS DECIMAL(18,6))
               * CAST(round(-ln(CAST(cm AS DOUBLE) / CAST(t AS DOUBLE)), 6)
                 AS DECIMAL(18,6))) AS hxs
      FROM (SELECT x, SUM(c) AS cm, SUM(SUM(c)) OVER () AS t
            FROM cells GROUP BY x)
    ),
    hy AS (
      SELECT SUM(CAST(cm AS DECIMAL(18,6))
               * CAST(round(-ln(CAST(cm AS DOUBLE) / CAST(t AS DOUBLE)), 6)
                 AS DECIMAL(18,6))) AS hys
      FROM (SELECT y, SUM(c) AS cm, SUM(SUM(c)) OVER () AS t
            FROM cells GROUP BY y)
    ),
    f AS (
      SELECT CAST(n_rows AS BIGINT) AS n_rows,
             CAST(n_cells AS BIGINT) AS n_cells,
             CAST(CAST(mi_sum AS VARCHAR) AS DOUBLE)
               / CAST(n_rows AS DOUBLE) AS mi_nats,
             CAST(CAST(hxs AS VARCHAR) AS DOUBLE)
               / CAST(n_rows AS DOUBLE) AS hx_nats,
             CAST(CAST(hys AS VARCHAR) AS DOUBLE)
               / CAST(n_rows AS DOUBLE) AS hy_nats
      FROM mi CROSS JOIN hx CROSS JOIN hy
    )
    SELECT *,
           CASE WHEN hx_nats > 0 AND hy_nats > 0
                THEN mi_nats / sqrt(hx_nats * hy_nats) END AS nmi
    FROM f
    """,
    "Mutual information between event type and hour-of-day — the "
    "dependence / feature-relevance statistic (nats of information X "
    "carries about Y), with marginal entropies and the normalized "
    "MI / sqrt(Hx*Hy) coefficient. ONE corpus pass builds the (x, y) "
    "cell table; marginals/totals are window sums OVER CELLS (the "
    "bigram-LM no-join-back shape), each log term quantizes as "
    "count x round(ln, 6) decimals (PMI rule), count products cast to "
    "double BEFORE multiplying (c*N overflows int64 — LESSONS 11), "
    "nats transported via VARCHAR (int128 cast lesson)",
)
def q_mutual_info(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return evaluation.mutual_information(
        ev, F.col("event_type"), F.hour("ts").cast("int")
    )


@register(
    "welch_ttest_urgent",
    """
    WITH s AS (
      SELECT o_orderstatus,
             SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
               AS n1,
             SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 0 ELSE 1 END)
               AS n2,
             CAST(CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                 THEN CAST(o_totalprice AS DECIMAL(18,4))
                 ELSE CAST(0 AS DECIMAL(18,4)) END) AS VARCHAR) AS DOUBLE)
               AS s1,
             CAST(CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                 THEN CAST(0 AS DECIMAL(18,4))
                 ELSE CAST(o_totalprice AS DECIMAL(18,4)) END) AS VARCHAR)
               AS DOUBLE) AS s2,
             CAST(CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                 THEN CAST(o_totalprice AS DECIMAL(19,4))
                      * CAST(o_totalprice AS DECIMAL(19,4))
                 ELSE CAST(0 AS DECIMAL(38,8)) END) AS VARCHAR) AS DOUBLE)
               AS ss1,
             CAST(CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                 THEN CAST(0 AS DECIMAL(38,8))
                 ELSE CAST(o_totalprice AS DECIMAL(19,4))
                      * CAST(o_totalprice AS DECIMAL(19,4)) END) AS VARCHAR)
               AS DOUBLE) AS ss2
      FROM orders GROUP BY o_orderstatus
    ),
    v AS (
      SELECT *,
             (n1*ss1 - s1*s1) / (n1*(n1-1)) / n1 AS a,
             (n2*ss2 - s2*s2) / (n2*(n2-1)) / n2 AS b
      FROM s
    )
    SELECT o_orderstatus,
           CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           CASE WHEN n1 > 0 THEN s1 / n1 END AS mean1,
           CASE WHEN n2 > 0 THEN s2 / n2 END AS mean2,
           CASE WHEN n1 >= 2 AND n2 >= 2 AND a + b > 0
                THEN (s1/n1 - s2/n2) / sqrt(a + b) END AS t_stat,
           CASE WHEN n1 >= 2 AND n2 >= 2 AND a + b > 0
                THEN ((a + b) * (a + b))
                  / (a*a / (n1-1) + b*b / (n2-1)) END AS df_welch
    FROM v
    """,
    "Welch's unequal-variance t-test (urgent vs non-urgent order value "
    "per order status) — the parametric companion to ks_drift: same "
    "mean, and how many standard errors apart? Six moments per group "
    "accumulate as exact conditional DECIMAL sums in ONE scan (the "
    "agg_corr construction split by cohort; oracle casts via VARCHAR — "
    "the DuckDB int128 lesson); t and the Welch-Satterthwaite df are a "
    "fixed sequence of correctly-rounded double ops over the pinned "
    "moments. n<2 or zero standard error yields null, never 0/0",
)
def q_welch(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return evaluation.welch_ttest(
        o,
        "o_totalprice",
        F.col("o_orderpriority") == "1-URGENT",
        group_cols=("o_orderstatus",),
    )


@register(
    "dp_noisy_counts_priority",
    """
    WITH c AS (
      SELECT o_orderpriority, count(*) AS n_true FROM orders GROUP BY 1
    ), h AS (
      SELECT *, CAST(('0x' || substring(
               md5('dp|' || o_orderpriority), 1, 8)) AS BIGINT) AS hh
      FROM c
    ), n AS (
      SELECT *, abs(2*hh + 1 - 4294967296) AS num,
             CASE WHEN 2*hh + 1 >= 4294967296 THEN 1 ELSE -1 END AS sgn
      FROM h
    ), q AS (
      SELECT *, CAST(CAST(n_true AS DECIMAL(18,6))
               + (-sgn * CAST(round(ln(1.0 - CAST(num AS DOUBLE)
                     / 4294967296.0), 6) AS DECIMAL(18,6)))
                 * CAST('2.000000' AS DECIMAL(18,6))
               AS DECIMAL(30,12)) AS nq
      FROM n
    )
    SELECT o_orderpriority,
           CAST(nq AS VARCHAR) AS noisy_count_str,
           CAST(CAST(nq AS VARCHAR) AS DOUBLE) AS noisy_count
    FROM q
    """,
    "Laplace-mechanism noisy count release (epsilon = 0.5, unit "
    "sensitivity, b = 2) over order priorities — the DP mechanism "
    "SHAPE as a one-scan operator: exact inverse-CDF transform "
    "-b*sign(u-1/2)*ln(1-2|u-1/2|) whose argument is EXACTLY dyadic "
    "(|2h+1-2^32|/2^32), the one transcendental 6dp-quantized (r07 "
    "rule), release arithmetic pure decimals widened (never rounded) "
    "to scale 12, transported as VARCHAR (the DuckDB int128-cast "
    "lesson). Loud caveat in the docstring: md5-derived noise is "
    "REPRODUCIBLE, not private — swap in real entropy per release for "
    "the actual epsilon guarantee; the engine contract here is the "
    "mechanism arithmetic, pinned cross-engine",
)
def q_dp_noisy(spark, sf_dir):
    return relational.dp_noisy_counts(
        _t(spark, sf_dir, "orders"), ["o_orderpriority"], epsilon_permille=500
    )


@register(
    "hashing_trick_features",
    """
    WITH tk AS (
      SELECT doc_id, unnest(list_filter(string_split(
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
               x -> x != '')) AS tok
      FROM documents
    ),
    comp AS (
      SELECT doc_id,
             CAST(('0x' || substring(md5('fh|' || tok), 1, 8)) AS BIGINT)
               % 64 AS idx,
             SUM(CASE WHEN CAST(('0x' || substring(md5('fs|' || tok), 1, 2))
                            AS BIGINT) % 2 = 0
                      THEN 1 ELSE -1 END) AS v
      FROM tk GROUP BY 1, 2
    ),
    grid AS (
      SELECT d.doc_id, g.i FROM (SELECT doc_id FROM documents) d,
           range(0, 64) g(i)
    ),
    dense AS (
      SELECT grid.doc_id, grid.i, COALESCE(comp.v, 0) AS v
      FROM grid LEFT JOIN comp
        ON grid.doc_id = comp.doc_id AND grid.i = comp.idx
    ),
    vecs AS (
      SELECT doc_id,
             array_to_string(list(CAST(v AS VARCHAR) ORDER BY i), ',')
               AS vec_csv
      FROM dense GROUP BY doc_id
    ),
    stats AS (
      SELECT doc_id, count(*) AS nb, SUM(abs(v)) AS l1
      FROM comp GROUP BY 1
    )
    SELECT vecs.doc_id,
           CAST(COALESCE(stats.nb, 0) AS BIGINT) AS n_buckets_hit,
           CAST(COALESCE(stats.l1, 0) AS BIGINT) AS l1_signed,
           vecs.vec_csv
    FROM vecs LEFT JOIN stats USING (doc_id)
    """,
    "Signed feature hashing (the hashing trick, Weinberger ICML 2009): "
    "tokens map to md5 buckets mod 64 with a ±1 sign from an "
    "independent md5 prefix; each document's vector is the signed "
    "token-count sum per bucket — the vocabulary-FREE vectorizer "
    "(no dictionary build, no second corpus pass, O(dim) memory) whose "
    "sign bit cancels collisions in expectation. Components are pure "
    "integer sums under the repo md5 contract, so the oracle "
    "regenerates every bit; vectors cross engines as CSV (the "
    "embedding_quantize transport). Token explode collapses map-side "
    "to <= 64 rows/doc before the one exchange; the dense layout is "
    "map_from_entries + a sequence transform — dim is a value, not a "
    "schema",
)
def q_hashing_trick(spark, sf_dir):
    return text.hashing_trick_features(_t(spark, sf_dir, "documents"), dim=64)


@register(
    "entropy_screen_docs",
    """
    WITH b AS (
      SELECT doc_id, hex(encode(text)) AS h,
             octet_length(encode(text)) AS n
      FROM documents
    ),
    e1 AS (
      SELECT doc_id, h, n, unnest(range(0, n)) AS i FROM b WHERE n > 0
    ),
    hist AS (
      SELECT doc_id, n, substr(h, 2*i + 1, 2) AS byte, count(*) AS cnt
      FROM e1 GROUP BY 1, 2, 3
    ),
    ent AS (
      SELECT doc_id, n, count(*) AS nd,
             SUM(CAST(cnt AS DECIMAL(18,0))
                 * CAST(round(log2(CAST(cnt AS DOUBLE) / n), 6)
                        AS DECIMAL(18,6))) AS es
      FROM hist GROUP BY 1, 2
    )
    SELECT b.doc_id,
           CAST(b.n AS BIGINT) AS n_bytes,
           CAST(COALESCE(ent.nd, 0) AS BIGINT) AS n_distinct_bytes,
           CAST(CAST(-es AS VARCHAR) AS DOUBLE) / b.n AS entropy,
           CASE WHEN es IS NULL THEN 'empty'
                WHEN -es < CAST('2.000000' AS DECIMAL(18,6)) * b.n
                  THEN 'repetitive'
                WHEN -es > CAST('5.200000' AS DECIMAL(18,6)) * b.n
                  THEN 'noise'
                ELSE 'ok' END AS band
    FROM b LEFT JOIN ent USING (doc_id)
    """,
    "Shannon entropy of each document's UTF-8 BYTE distribution — the "
    "compression-ratio quality proxy (low = boilerplate/padding, high "
    "= binary noise, prose ~4-4.8 bits/byte). Bytes, not characters: "
    "byte histograms are encoding-unambiguous cross-engine (UTF-16 "
    "surrogates vs UTF-8 codepoints would diverge). Each term "
    "quantizes as cnt x round(log2(cnt/N), 6) into DECIMAL(18,6) "
    "before the per-doc sum (the bigram-LM rule — floats never "
    "accumulate) and the repetitive/ok/noise bands compare in the "
    "decimal domain (-es vs threshold*N, the FS rule). Byte explode "
    "is map-side codegen (hex-pair substrings over sequence() — the "
    "audio-oracle construction); the one exchange carries <=256 "
    "(doc, byte, cnt) rows per document at ANY document size",
)
def q_entropy_screen(spark, sf_dir):
    return text.byte_entropy(_t(spark, sf_dir, "documents"))


@register(
    "psi_drift_totalprice",
    """
    WITH cells AS (
      SELECT LEAST(9, GREATEST(0, CAST(floor(((o_totalprice - 0) * 10)
               / CAST(600000 AS DOUBLE)) AS INT))) AS bin,
             SUM(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
                 THEN 1 ELSE 0 END) AS c1raw,
             SUM(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
                 THEN 0 ELSE 1 END) AS c2raw
      FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1
    ),
    b AS (
      SELECT bin, c1raw + 1 AS c1, c2raw + 1 AS c2,
             SUM(c1raw + 1) OVER () AS n1,
             SUM(c2raw + 1) OVER () AS n2
      FROM cells
    ),
    s AS (
      SELECT *,
             (CAST(c1 AS HUGEINT) * 1000000000) // n1 AS p9,
             (CAST(c2 AS HUGEINT) * 1000000000) // n2 AS q9,
             CAST(round(ln((CAST(c1 AS DOUBLE) * CAST(n2 AS DOUBLE))
                  / (CAST(c2 AS DOUBLE) * CAST(n1 AS DOUBLE))), 6)
               AS DECIMAL(18,6)) AS lnr
      FROM b
    ),
    t AS (
      SELECT *, CAST(p9 - q9 AS DECIMAL(38,0)) * lnr AS tq FROM s
    )
    SELECT bin,
           CAST(c1 AS BIGINT) AS c1, CAST(c2 AS BIGINT) AS c2,
           CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           CAST(CAST(p9 AS VARCHAR) AS DOUBLE) / 1e9 AS share1,
           CAST(CAST(q9 AS VARCHAR) AS DOUBLE) / 1e9 AS share2,
           CAST(CAST(tq AS VARCHAR) AS DOUBLE) / 1e9 AS term,
           CAST(CAST(SUM(tq) OVER () AS VARCHAR) AS DOUBLE) / 1e9 AS psi
    FROM t
    """,
    "Population Stability Index (pre- vs post-1998 order values, 10 "
    "fixed-width bins over [0, 600000]) — the industry-standard binned "
    "drift monitor (0.1/0.25 bands), completing the drift trio with KS "
    "(exact sup-gap) and Welch (means). FIXED reference edges (edges "
    "are part of a PSI definition; values clamp into edge bins), "
    "add-one smoothing stated loudly (zero bins make PSI infinite), "
    "shares as floor-divided 1e-9 integer units (decimal product "
    "before div — long*1e9 overflows), log-ratios 6dp-quantized with "
    "count products cast to double first (LESSONS 11), contributions "
    "exact decimals, doubles via VARCHAR (int128 lesson). One scan, "
    "<= n_bins rows shuffled at any corpus size",
)
def q_psi_drift(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return evaluation.psi_drift(
        o,
        "o_totalprice",
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"),
        lo=0,
        hi=600000,
        n_bins=10,
    )


@register(
    "psi_drift_by_status",
    """
    WITH cells AS (
      SELECT o_orderstatus, LEAST(9, GREATEST(0,
               CAST(floor(((o_totalprice - 0) * 10)
                 / CAST(600000 AS DOUBLE)) AS INT))) AS bin,
             SUM(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
                 THEN 1 ELSE 0 END) AS c1raw,
             SUM(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
                 THEN 0 ELSE 1 END) AS c2raw
      FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1, 2
    ),
    b AS (
      SELECT o_orderstatus, bin, c1raw + 1 AS c1, c2raw + 1 AS c2,
             SUM(c1raw + 1) OVER (PARTITION BY o_orderstatus) AS n1,
             SUM(c2raw + 1) OVER (PARTITION BY o_orderstatus) AS n2
      FROM cells
    ),
    s AS (
      SELECT *,
             (CAST(c1 AS HUGEINT) * 1000000000) // n1 AS p9,
             (CAST(c2 AS HUGEINT) * 1000000000) // n2 AS q9,
             CAST(round(ln((CAST(c1 AS DOUBLE) * CAST(n2 AS DOUBLE))
                  / (CAST(c2 AS DOUBLE) * CAST(n1 AS DOUBLE))), 6)
               AS DECIMAL(18,6)) AS lnr
      FROM b
    ),
    t AS (
      SELECT *, CAST(p9 - q9 AS DECIMAL(38,0)) * lnr AS tq FROM s
    )
    SELECT o_orderstatus, bin,
           CAST(c1 AS BIGINT) AS c1, CAST(c2 AS BIGINT) AS c2,
           CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           CAST(CAST(p9 AS VARCHAR) AS DOUBLE) / 1e9 AS share1,
           CAST(CAST(q9 AS VARCHAR) AS DOUBLE) / 1e9 AS share2,
           CAST(CAST(tq AS VARCHAR) AS DOUBLE) / 1e9 AS term,
           CAST(CAST(SUM(tq) OVER (PARTITION BY o_orderstatus)
             AS VARCHAR) AS DOUBLE) / 1e9 AS psi
    FROM t
    """,
    "Grouped PSI — the per-key drift DASHBOARD (one PSI per order "
    "status, same fixed [0, 600000] x 10-bin reference edges and "
    "add-one smoothing as psi_drift_totalprice): the monitoring shape "
    "where thousands of segments each get their own stability index "
    "from ONE scan — shuffle stays <= groups x bins smoothed cells at "
    "any corpus size. Same exactness contract (1e-9 integer shares, "
    "6dp log-ratios, decimal sums, VARCHAR transport)",
)
def q_psi_by_status(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return evaluation.psi_drift(
        o,
        "o_totalprice",
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"),
        lo=0,
        hi=600000,
        n_bins=10,
        group_cols=("o_orderstatus",),
    )


@register(
    "ks_drift_totalprice",
    """
    WITH dv AS (
      SELECT o_totalprice AS v,
             SUM(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
                 THEN 1 ELSE 0 END) AS c1,
             SUM(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
                 THEN 0 ELSE 1 END) AS c2
      FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1
    ),
    c AS (
      SELECT v,
             SUM(c1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cc1,
             SUM(c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cc2,
             SUM(c1) OVER () AS n1,
             SUM(c2) OVER () AS n2
      FROM dv
    ),
    g AS (
      SELECT v, n1, n2,
             abs(CAST(cc1 AS DECIMAL(38,0)) * n2
                 - CAST(cc2 AS DECIMAL(38,0)) * n1) AS gap
      FROM c
    )
    SELECT CAST(n1 AS BIGINT) AS n1,
           CAST(n2 AS BIGINT) AS n2,
           v AS at_value,
           CAST(gap AS VARCHAR) AS d_num,
           CASE WHEN n1 > 0 AND n2 > 0 THEN
             CAST(CAST(gap AS VARCHAR) AS DOUBLE)
               / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) END AS ks_d
    FROM g ORDER BY gap DESC, v ASC LIMIT 1
    """,
    "Exact two-sample Kolmogorov-Smirnov drift test: D = sup |F1 - F2| "
    "between early (pre-1998) and late order-value distributions, "
    "evaluated at every pooled distinct value where the step-ECDF sup "
    "lives. The gap is the exact RATIONAL |c1*n2 - c2*n1| / (n1*n2): "
    "numerators are DECIMAL(38,0) integers (c*n reaches n² — the "
    "roc_auc overflow rule), so the argmax is pure integer comparison; "
    "d_num crosses engines as VARCHAR, ks_d is two correctly-rounded "
    "casts + one division. Engine plan: the cumulative counts run as "
    "TWO parallel bucketed prefix sums (the global_prefix_sum shape — "
    "no single-partition funnel; the oracle states the naive global "
    "window), then a 1-row TakeOrderedAndProject with value ASC as the "
    "deterministic tie-break",
)
def q_ks_drift(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return evaluation.ks_two_sample(
        o, "o_totalprice", F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )


@register(
    "cusum_changepoint_events",
    """
    WITH hc AS (
      SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS cnt
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT event_type, hr, cnt,
             count(*) OVER (PARTITION BY event_type) AS n_hours,
             sum(cnt) OVER (PARTITION BY event_type) AS total_cnt
      FROM hc
    ),
    p AS (
      SELECT *,
             sum(CAST(n_hours * cnt - total_cnt AS DECIMAL(38,0)))
               OVER (PARTITION BY event_type ORDER BY hr
                     ROWS UNBOUNDED PRECEDING) AS pfx
      FROM s
    ),
    m AS (
      SELECT *,
             least(CAST(0 AS DECIMAL(38,0)),
                   min(pfx) OVER (PARTITION BY event_type ORDER BY hr
                                  ROWS UNBOUNDED PRECEDING)) AS fl,
             greatest(CAST(0 AS DECIMAL(38,0)),
                   max(pfx) OVER (PARTITION BY event_type ORDER BY hr
                                  ROWS UNBOUNDED PRECEDING)) AS ce
      FROM p
    )
    SELECT event_type, hr, cnt,
           CAST(n_hours AS BIGINT) AS n_hours,
           CAST(CAST(pfx - fl AS DECIMAL(38,0)) AS VARCHAR) AS cusum_scaled,
           CAST(pfx - fl AS DOUBLE) / CAST(total_cnt AS DOUBLE)
             AS cusum_means,
           CAST(CASE WHEN pfx - fl >=
                  CAST(4 AS DECIMAL(38,0)) * total_cnt
                THEN 1 ELSE 0 END AS BIGINT) AS is_alarm,
           CAST(CAST(ce - pfx AS DECIMAL(38,0)) AS VARCHAR)
             AS cusum_down_scaled,
           CAST(CASE WHEN ce - pfx >=
                  CAST(4 AS DECIMAL(38,0)) * total_cnt
                THEN 1 ELSE 0 END AS BIGINT) AS is_alarm_down
    FROM m
    """,
    "Page's CUSUM changepoint chart per event type WITHOUT the "
    "sequential recurrence: S_t = max(0, S_{t-1} + x_t - mean) has the "
    "closed form P_t - min(0, min_{i<=t} P_i) over drift-adjusted "
    "prefix sums, so the control chart is one window SUM + one window "
    "MIN sharing a single sort — parallel per group, never a fold. The "
    "fractional mean T/n scales every term by n (d_t = n*x_t - T): "
    "statistic, running min, and the alarm threshold (cumulative "
    "excess >= 4 hourly means, compared as cusum_scaled >= 4*T since "
    "S_scaled = n*S and mean = T/n) are "
    "exact DECIMAL(38,0) integers — no float recurrence (PageRank "
    "lesson), overflow-proof at corpus scale (roc_auc rank-sum rule); "
    "the statistic column crosses the engine boundary as VARCHAR (the "
    "dataset_fingerprints decimal-transport rule). cusum_means is ONE "
    "exact double division both engines share; the alarm flag is a "
    "1/0 bigint that never reads it",
)
def q_cusum(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = timeseries.cusum_detect(ev, alarm_mean_mult=4)
    return out.withColumn(
        "cusum_scaled", F.col("cusum_scaled").cast("string")
    ).withColumn(
        "cusum_down_scaled", F.col("cusum_down_scaled").cast("string")
    )


@register(
    "theilsen_trend_events",
    """
    WITH hc AS (
      SELECT event_type,
             CAST(epoch_us(date_trunc('hour', ts)) // 3600000000 AS BIGINT)
               AS x,
             count(*) AS y
      FROM events GROUP BY 1, 2
    ),
    p AS (
      SELECT a.event_type, a.x AS h1, b.x AS h2,
             CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS slope
      FROM hc a JOIN hc b
        ON a.event_type = b.event_type AND a.x < b.x
    ),
    r AS (
      SELECT event_type, slope,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY slope, h1, h2) AS rk,
             count(*) OVER (PARTITION BY event_type) AS n_pairs
      FROM p
    )
    SELECT event_type, CAST(n_pairs AS BIGINT) AS n_pairs,
           slope AS trend_per_hour
    FROM r WHERE rk = (n_pairs + 1) // 2
    """,
    "Theil-Sen robust trend per event type — the median of all pairwise "
    "hourly-count slopes, insensitive to ~29% outliers where "
    "least-squares (agg_corr's beta) breaks on one bad bucket. Each "
    "slope is ONE correctly-rounded division of exact integers "
    "(epoch-hour x, count y) — engine-identical doubles; the median is "
    "the DISCRETE lower-middle pick under the (slope, h1, h2) total "
    "order (the quantile_bins discrete rule). The pair self-join is "
    "quadratic in HOURLY BUCKETS, which the calendar bounds — "
    "analytics-sized at any corpus volume, never touching raw events",
)
def q_theilsen(spark, sf_dir):
    return timeseries.theilsen_trend(_t(spark, sf_dir, "events"))


@register(
    "ohlc_hourly_events",
    """
    WITH d AS (
      SELECT event_type, date_trunc('hour', ts) AS bkt,
             epoch_us(ts) AS t, event_id AS id, value AS v
      FROM events
    ),
    r AS (
      SELECT event_type, bkt, v,
             row_number() OVER (PARTITION BY event_type, bkt
                                ORDER BY t, id) AS ra,
             row_number() OVER (PARTITION BY event_type, bkt
                                ORDER BY t DESC, id DESC) AS rd
      FROM d
    )
    SELECT event_type, bkt,
           max(CASE WHEN ra = 1 THEN v END) AS "open",
           max(v) AS high, min(v) AS low,
           max(CASE WHEN rd = 1 THEN v END) AS "close",
           count(*) AS volume
    FROM r GROUP BY 1, 2
    """,
    "OHLC candlestick downsampling per (event type, hour): open/close "
    "are rank-1 picks under the UNIQUE (ts, event_id) total order — "
    "min_by on a bare timestamp would be nondeterministic at ties — "
    "high/low/volume plain aggregates. The ranking windows and the "
    "final aggregation share the (type, hour) hash partitioning: the "
    "whole rollup is ONE exchange",
)
def q_ohlc(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return timeseries.ohlc(ev)


@register(
    "key_skew_report_orders",
    """
    WITH c AS (
      SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY 1
    ),
    dv AS (SELECT cnt AS v, count(*) AS k FROM c GROUP BY 1),
    cum AS (
      SELECT v, sum(k) OVER (ORDER BY v) AS cc, sum(k) OVER () AS n
      FROM dv
    ),
    q AS (
      SELECT
        min(CASE WHEN cc >= (1 * n + 1) // 2 THEN v END) AS p50_cnt,
        min(CASE WHEN cc >= (99 * n + 99) // 100 THEN v END) AS p99_cnt
      FROM cum
    ),
    tot AS (
      SELECT count(*) AS n_keys, max(cnt) AS max_cnt,
             sum(cnt) AS n_rows
      FROM c
    ),
    top10 AS (
      SELECT sum(cnt) AS hot FROM (
        SELECT cnt FROM c ORDER BY cnt DESC, o_custkey LIMIT 10)
    )
    SELECT CAST(t.n_keys AS BIGINT) AS n_keys,
           CAST(t.n_rows AS BIGINT) AS n_rows,
           CAST(t.max_cnt AS BIGINT) AS max_cnt,
           CAST(q.p50_cnt AS BIGINT) AS p50_cnt,
           CAST(q.p99_cnt AS BIGINT) AS p99_cnt,
           CAST(top10.hot AS DOUBLE) / CAST(t.n_rows AS DOUBLE)
             AS top10_share
    FROM tot t, q, top10
    """,
    "Join-key skew diagnostic — the operational input for choosing "
    "salted-join / AQE-skew parameters: per-key frequency distribution "
    "of orders.o_custkey summarized as exact DISCRETE p50/p99 key "
    "frequencies (the grouped_value_cum order-statistics backbone over "
    "the counts-of-counts table — distinct-frequency sized, never a "
    "key sort), max frequency, and the row share of the 10 hottest "
    "keys (TakeOrdered, no global sort). One key aggregation is the "
    "only data-sized pass",
)
def q_key_skew(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select("o_custkey")
    c = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("cnt"))
    cum = relational.grouped_value_cum(
        c, [], "cnt", bucket_expr=F.floor(F.col("cnt"))
    )
    p50 = relational.grouped_discrete_quantile(cum, [], "cnt", 1, 2, "p50_cnt")
    p99 = relational.grouped_discrete_quantile(
        cum, [], "cnt", 99, 100, "p99_cnt"
    )
    tot = c.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").alias("n_rows"),
        F.max("cnt").alias("max_cnt"),
    )
    hot = (
        c.orderBy(F.col("cnt").desc(), F.col("o_custkey"))
        .limit(10)
        .agg(F.sum("cnt").alias("hot"))
    )
    return (
        tot.crossJoin(p50)
        .crossJoin(p99)
        .crossJoin(hot)
        .select(
            "n_keys",
            "n_rows",
            "max_cnt",
            "p50_cnt",
            "p99_cnt",
            (F.col("hot").cast("double") / F.col("n_rows").cast("double")).alias(
                "top10_share"
            ),
        )
    )


@register(
    "attribution_linear_credit",
    """
    WITH v AS (
      SELECT event_id AS vid, user_id, epoch_us(ts) AS vt
      FROM events WHERE event_type = 'view'
    ),
    p AS (
      SELECT event_id AS pid, user_id, epoch_us(ts) AS pt
      FROM events WHERE event_type = 'purchase'
    ),
    j AS (
      SELECT v.vid, v.user_id, p.pid
      FROM v JOIN p ON p.user_id = v.user_id
       AND v.vt > p.pt - 3600000000 AND v.vt <= p.pt
    ),
    n AS (SELECT pid, count(*) AS n FROM j GROUP BY 1),
    c AS (
      SELECT j.vid, j.user_id, 1000000000000 // n.n AS cu
      FROM j JOIN n USING (pid)
    )
    SELECT vid AS event_id, user_id,
           count(*) AS n_touches,
           CAST(sum(cu) AS BIGINT) AS credit_units,
           CAST(CAST(sum(cu) AS BIGINT) AS DOUBLE) / 1e12 AS credit
    FROM c GROUP BY 1, 2
    """,
    "Multi-touch LINEAR attribution: every view in the hour before a "
    "purchase shares that purchase's credit equally — per-purchase "
    "share = 1e12 DIV n_touches in FIXED-POINT units, because summing "
    "1/n doubles across purchases is order-dependent (the PageRank "
    "never-iterate-rounded-floats lesson applied to credit "
    "accounting); integer unit sums are associative, the double "
    "rendering happens ONCE at the end. User-keyed interval join — "
    "pair volume bounded per user by the window, the streaming twin's "
    "state-eviction bound",
)
def q_attribution(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    t = F.unix_micros(F.col("ts"))
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("vid"), "user_id", t.alias("vt")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), F.col("user_id").alias("puid"),
        t.alias("pt"),
    )
    j = v.join(
        p,
        (F.col("puid") == F.col("user_id"))
        & (F.col("vt") > F.col("pt") - 3_600_000_000)
        & (F.col("vt") <= F.col("pt")),
    ).select("vid", "user_id", "pid")
    n = j.groupBy("pid").agg(F.count(F.lit(1)).alias("n"))
    c = j.join(n, "pid").select(
        "vid", "user_id", F.expr("1000000000000 DIV n").alias("cu")
    )
    return c.groupBy("vid", "user_id").agg(
        F.count(F.lit(1)).alias("n_touches"),
        F.sum("cu").alias("credit_units"),
        (F.sum("cu").cast("double") / F.lit(1e12)).alias("credit"),
    ).select(
        F.col("vid").alias("event_id"),
        "user_id",
        "n_touches",
        "credit_units",
        "credit",
    )


@register(
    "chi2_source_lang",
    """
    WITH o AS (
      SELECT source, lang, count(*) AS o FROM documents GROUP BY 1, 2
    ),
    rt AS (SELECT source, sum(o) AS r FROM o GROUP BY 1),
    ct AS (SELECT lang, sum(o) AS c FROM o GROUP BY 1),
    n AS (SELECT sum(o) AS n FROM o),
    t AS (
      SELECT CAST(floor(
               (CAST(o.o AS DOUBLE)
                  - CAST(rt.r AS DOUBLE) * CAST(ct.c AS DOUBLE)
                    / CAST(n.n AS DOUBLE))
               * (CAST(o.o AS DOUBLE)
                  - CAST(rt.r AS DOUBLE) * CAST(ct.c AS DOUBLE)
                    / CAST(n.n AS DOUBLE))
               / (CAST(rt.r AS DOUBLE) * CAST(ct.c AS DOUBLE)
                  / CAST(n.n AS DOUBLE))
               * 1000000000.0) AS BIGINT) AS tu
      FROM o JOIN rt USING (source) JOIN ct USING (lang) CROSS JOIN n
    )
    SELECT CAST(((SELECT count(*) FROM rt) - 1)
                * ((SELECT count(*) FROM ct) - 1) AS BIGINT) AS dof,
           CAST(sum(tu) AS BIGINT) AS chi2_units,
           CAST(CAST(sum(tu) AS BIGINT) AS DOUBLE) / 1e9 AS chi2
    FROM t
    """,
    "Chi-square independence test over the (source x lang) contingency "
    "table: expected counts and per-cell terms are fixed-order double "
    "expressions, but the SUM over cells is where engines diverge — so "
    "each term quantizes to integer 1e-9 units first (floor) and the "
    "sum is associative integer addition, the embedding-centroids "
    "float-reduction lesson applied to test statistics. Contingency, "
    "marginals, and dof are all tiny aggregates of one scan",
)
def q_chi2(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    o = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("o"))
    rt = o.groupBy("source").agg(F.sum("o").alias("r"))
    ct = o.groupBy("lang").agg(F.sum("o").alias("c"))
    n = o.agg(F.sum("o").alias("n"))
    e = (
        F.col("r").cast("double")
        * F.col("c").cast("double")
        / F.col("n").cast("double")
    )
    term = (
        (F.col("o").cast("double") - e)
        * (F.col("o").cast("double") - e)
        / e
    )
    t = (
        o.join(rt, "source")
        .join(ct, "lang")
        .crossJoin(F.broadcast(n))
        .select(F.floor(term * F.lit(1e9)).cast("bigint").alias("tu"))
    )
    dof = (
        rt.agg(F.count(F.lit(1)).alias("nr"))
        .crossJoin(ct.agg(F.count(F.lit(1)).alias("nc")))
        .select(((F.col("nr") - 1) * (F.col("nc") - 1)).alias("dof"))
    )
    agg = t.agg(F.sum("tu").alias("chi2_units"))
    return dof.crossJoin(agg).select(
        F.col("dof").cast("bigint").alias("dof"),
        F.col("chi2_units").cast("bigint").alias("chi2_units"),
        (F.col("chi2_units").cast("double") / F.lit(1e9)).alias("chi2"),
    )


_POIS = (
    "0.36787944117144233",  # e^-1: P(X=0)
    "0.7357588823428847",   # P(X<=1)
    "0.9196986029286058",   # P(X<=2)
    "0.9810118431238462",   # P(X<=3)
)


@register(
    "bootstrap_ci_totalprice",
    f"""
    WITH reps AS (SELECT unnest(range(0, 32)) AS b),
    w AS (
      SELECT r.b, o.o_totalprice AS x,
             CASE WHEN u < {_POIS[0]} THEN 0
                  WHEN u < {_POIS[1]} THEN 1
                  WHEN u < {_POIS[2]} THEN 2
                  WHEN u < {_POIS[3]} THEN 3
                  ELSE 4 END AS w
      FROM reps r CROSS JOIN (
        SELECT o_orderkey, o_totalprice FROM orders) o,
      LATERAL (SELECT (('0x' || substr(md5(
                 CAST(r.b AS VARCHAR) || '|' ||
                 CAST(o.o_orderkey AS VARCHAR)), 1, 8))::BIGINT + 0.5)
               / 4294967296.0 AS u)
    ),
    means AS (
      SELECT b,
             CAST(SUM(w * CAST(x AS DECIMAL(18,4))) AS DOUBLE)
               / CAST(SUM(w) AS DOUBLE) AS m
      FROM w WHERE w > 0 GROUP BY b
    ),
    ranked AS (
      SELECT m, row_number() OVER (ORDER BY m, b) AS rk,
             count(*) OVER () AS nb
      FROM means
    ),
    base AS (
      SELECT count(*) AS n_rows,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
               / count(*) AS mean_price
      FROM orders
    )
    SELECT CAST(base.n_rows AS BIGINT) AS n_rows,
           base.mean_price,
           CAST((SELECT max(nb) FROM ranked) AS BIGINT) AS n_replicates,
           (SELECT min(m) FROM ranked
            WHERE rk >= (5 * (SELECT max(nb) FROM ranked) + 99) // 100)
             AS ci_lo,
           (SELECT min(m) FROM ranked
            WHERE rk >= (95 * (SELECT max(nb) FROM ranked) + 99) // 100)
             AS ci_hi
    FROM base
    """,
    "Deterministic Poisson bootstrap (the scalable bootstrap: Chamandy "
    "et al., Google 2012) for the mean order price: 32 replicates "
    "weight each row by an md5-derived Poisson(1) draw — the dyadic "
    "uniform compared against FIXED inverse-CDF threshold literals, so "
    "both engines draw the identical weight; replicate means are "
    "exact-decimal weighted sums; the 5th/95th percentile bounds are "
    "DISCRETE picks at integer-ceiling ranks over the 32-row mean "
    "table. No resampling shuffle — each replicate is a weighted "
    "aggregate of the same scan, the property that makes bootstrap "
    "feasible at 100 TB",
)
def q_bootstrap(spark, sf_dir):
    # The replicate fan-out multiplies per-row compute 32x (an md5 per
    # (replicate, row)); when the input arrives in fewer partitions
    # than cores (one parquet file here) the whole pipeline runs on one
    # task. Pre-spread the scan: one tiny row-count-sized exchange buys
    # full-width hashing (measured 22.0 s -> 1.6 s at sf0.1).
    o = (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .repartition(int(spark.conf.get("spark.sql.shuffle.partitions")))
    )
    reps = spark.range(32).select(F.col("id").cast("int").alias("b"))
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.col("b").cast("string"),
                        F.col("o_orderkey").cast("string"),
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
    w = (
        F.when(u < float(_POIS[0]), 0)
        .when(u < float(_POIS[1]), 1)
        .when(u < float(_POIS[2]), 2)
        .when(u < float(_POIS[3]), 3)
        .otherwise(4)
    )
    weighted = (
        reps.crossJoin(o)
        .withColumn("w", w)
        .filter(F.col("w") > 0)
    )
    means = weighted.groupBy("b").agg(
        (
            F.sum(
                F.col("w") * F.col("o_totalprice").cast("decimal(18,4)")
            ).cast("double")
            / F.sum("w").cast("double")
        ).alias("m")
    )
    wrk = Window.orderBy("m", "b")
    ranked = means.select(
        "m",
        F.row_number().over(wrk).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("nb"),
    )
    lo = ranked.filter(
        F.col("rk") >= F.expr("CAST((5 * nb + 99) DIV 100 AS BIGINT)")
    ).agg(F.min("m").alias("ci_lo"))
    hi = ranked.filter(
        F.col("rk") >= F.expr("CAST((95 * nb + 99) DIV 100 AS BIGINT)")
    ).agg(F.min("m").alias("ci_hi"))
    nb = ranked.agg(F.max("nb").cast("bigint").alias("n_replicates"))
    base = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_price"),
    )
    return (
        base.crossJoin(nb).crossJoin(lo).crossJoin(hi).select(
            "n_rows", "mean_price", "n_replicates", "ci_lo", "ci_hi"
        )
    )


@register(
    "multimodal_resize_verified",
    """
    WITH b AS (
      SELECT doc_id, hex(encode(text)) AS hh,
             octet_length(encode(text)) AS n,
             CAST(greatest(ceil(octet_length(encode(text)) / 48.0), 1)
               AS BIGINT) AS sh
      FROM documents
    ), p AS (
      SELECT doc_id, sh,
             hh || repeat('00', CAST(48 * sh - n AS INT)) AS ph
      FROM b
    )
    SELECT doc_id AS media_id, 16 AS src_width, CAST(sh AS INT) AS src_height,
           8 AS width, 6 AS height,
           array_to_string(list_transform(range(0, 48),
             k -> substr(ph,
                    6 * (((k // 8) * sh // 6) * 16 + (k % 8) * 2) + 1, 6)),
             '') AS pixel_hex
    FROM p
    """,
    "Byte-exact image RESIZE (the decode/feature/resize/frame-sample "
    "quartet's missing quarter): each document's 16-wide BMP decodes, "
    "nearest-neighbor resamples to 8x6, re-encodes — all in one Arrow "
    "mapInPandas batch. Nearest-neighbor is pure integer floor-division "
    "indexing (never float interpolation — order-dependent and library-"
    "divergent), so the DuckDB oracle regenerates the resized pixel "
    "buffer bit-for-bit from the source text bytes (the BMP body is the "
    "zero-padded utf-8 text; 16*3 stride needs no BMP row padding)",
)
def q_multimodal_resize(spark, sf_dir):
    media = multimodal.media_bmp_from_documents(_t(spark, sf_dir, "documents"))
    return multimodal.resize_media(media, out_w=8, out_h=6).drop("payload")


@register(
    "set_ops_bag_semantics",
    """
    WITH a AS (
      SELECT l_returnflag, l_linestatus FROM lineitem
      WHERE l_shipdate < TIMESTAMP '1998-01-01'
    ),
    b AS (
      SELECT l_returnflag, l_linestatus FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    )
    SELECT 'intersect_all' AS op, l_returnflag, l_linestatus,
           count(*) AS n
    FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
    GROUP BY 2, 3
    UNION ALL
    SELECT 'except_all' AS op, l_returnflag, l_linestatus, count(*) AS n
    FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
    GROUP BY 2, 3
    """,
    "BAG-semantics set operations (INTERSECT ALL / EXCEPT ALL) over "
    "overlapping ship-date slices: multiset intersection keeps "
    "min(multiplicity) per row value and multiset difference "
    "subtracts multiplicities — the duplicate-respecting corner of "
    "the ANSI set-op surface the distinct-based set_ops battery "
    "cannot exercise (Spark intersectAll/exceptAll compile to "
    "count-aggregated joins, never row-by-row)",
)
def q_set_ops_bag(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    a = li.filter(
        F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp")
    ).select("l_returnflag", "l_linestatus")
    b = li.filter(
        F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp")
    ).select("l_returnflag", "l_linestatus")
    inter = (
        a.intersectAll(b)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("intersect_all").alias("op"), "*")
    )
    exc = (
        a.exceptAll(b)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("except_all").alias("op"), "*")
    )
    return inter.unionByName(exc)


@register(
    "window_value_picks_events",
    """
    SELECT event_id, user_id,
           first_value(value) OVER w AS first_val,
           last_value(value) OVER
             (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
              ROWS BETWEEN UNBOUNDED PRECEDING
                       AND UNBOUNDED FOLLOWING) AS last_val,
           nth_value(value, 3) OVER w AS third_val,
           first_value(value) OVER
             (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS first_in_frame
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    """,
    "The value-pick window battery (first_value / last_value / "
    "nth_value) under an explicit UNIQUE (ts, event_id) order: "
    "last_value needs the UNBOUNDED FOLLOWING frame spelled out (the "
    "default frame ends at CURRENT ROW, making last_value an alias "
    "for the row itself — the classic silent-wrong-answer), and "
    "nth_value over the default running frame is null until the "
    "frame holds 3 rows. One user exchange for all four picks",
)
def q_window_value_picks(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    t = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy(t, "event_id")
    w_all = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w3 = w.rowsBetween(-2, Window.currentRow)
    return ev.select(
        "event_id",
        "user_id",
        F.first("value").over(w).alias("first_val"),
        F.last("value").over(w_all).alias("last_val"),
        F.nth_value("value", 3).over(w).alias("third_val"),
        F.first("value").over(w3).alias("first_in_frame"),
    )


_RFM_EDGE_CTE = """
      SELECT i, min(v) AS edge FROM (
        SELECT v, sum(c) OVER (ORDER BY v) AS cc, sum(c) OVER () AS n
        FROM (SELECT {col} AS v, count(*) AS c FROM base GROUP BY 1)
      ) JOIN (SELECT unnest(range(1, 5)) AS i)
        ON cc >= (i * n + 4) // 5
      GROUP BY i
"""


@register(
    "rfm_segmentation",
    f"""
    WITH base AS (
      SELECT o_custkey,
             CAST(date_diff('day', DATE '1970-01-01',
                            CAST(max(o_orderdate) AS DATE)) AS BIGINT)
               AS recency_day,
             count(*) AS frequency,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
               AS monetary
      FROM orders GROUP BY 1
    ),
    re AS ({_RFM_EDGE_CTE.format(col="recency_day")}),
    fe AS ({_RFM_EDGE_CTE.format(col="frequency")}),
    me AS ({_RFM_EDGE_CTE.format(col="monetary")})
    SELECT b.o_custkey, b.recency_day, CAST(b.frequency AS BIGINT)
             AS frequency, b.monetary,
           CAST(1 + (SELECT count(*) FROM re
                     WHERE b.recency_day > re.edge) AS BIGINT) AS r_q,
           CAST(1 + (SELECT count(*) FROM fe
                     WHERE b.frequency > fe.edge) AS BIGINT) AS f_q,
           CAST(1 + (SELECT count(*) FROM me
                     WHERE b.monetary > me.edge) AS BIGINT) AS m_q,
           CAST((1 + (SELECT count(*) FROM re
                      WHERE b.recency_day > re.edge)) * 100
              + (1 + (SELECT count(*) FROM fe
                      WHERE b.frequency > fe.edge)) * 10
              + (1 + (SELECT count(*) FROM me
                      WHERE b.monetary > me.edge)) AS BIGINT) AS rfm_score
    FROM base b
    """,
    "RFM customer segmentation — the classic marketing triple: "
    "recency (last order day), frequency (order count), monetary "
    "(exact-decimal spend), each assigned to quintiles by DISCRETE "
    "data-value edges (integer-ceiling ranks via the "
    "grouped_value_cum backbone, three distinct-value-sized passes), "
    "combined into the 111..555 RFM score. The three 4-edge arrays "
    "broadcast onto ONE assignment scan of the per-customer "
    "aggregate; higher bucket = higher value in every dimension",
)
def q_rfm(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    base = o.groupBy("o_custkey").agg(
        # calendar-day arithmetic, never epoch-of-NTZ: TZ-independent in
        # any driver session (the _t events guard does not cover orders)
        F.datediff(F.to_date(F.max("o_orderdate")), F.lit("1970-01-01"))
        .cast("bigint")
        .alias("recency_day"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .cast("double")
        .alias("monetary"),
    )

    def edges(col):
        cum = relational.grouped_value_cum(
            base.select(col), [], col, bucket_expr=F.floor(F.col(col))
        )
        n_total = cum.agg(F.max("n").alias("n"))
        targets = n_total.select(
            F.explode(F.sequence(F.lit(1), F.lit(4))).alias("i"), "n"
        ).select(
            "i", F.expr("CAST((i * n + 4) DIV 5 AS BIGINT)").alias("tgt")
        )
        e = (
            cum.join(F.broadcast(targets), F.col("cc") >= F.col("tgt"))
            .groupBy("i")
            .agg(F.min(col).alias("edge"))
        )
        return e.agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("i"), F.col("edge")))
            ).alias("es")
        ).select(
            F.transform(F.col("es"), lambda s: s.edge).alias(f"{col}_edges")
        )

    d = (
        base.crossJoin(F.broadcast(edges("recency_day")))
        .crossJoin(F.broadcast(edges("frequency")))
        .crossJoin(F.broadcast(edges("monetary")))
    )

    def bucket(col):
        return (
            F.lit(1)
            + F.size(
                F.filter(F.col(f"{col}_edges"), lambda e: F.col(col) > e)
            )
        ).cast("bigint")

    return d.select(
        "o_custkey",
        "recency_day",
        "frequency",
        "monetary",
        bucket("recency_day").alias("r_q"),
        bucket("frequency").alias("f_q"),
        bucket("monetary").alias("m_q"),
        (
            bucket("recency_day") * 100
            + bucket("frequency") * 10
            + bucket("monetary")
        ).alias("rfm_score"),
    )


@register(
    "session_bounce_rate_daily",
    """
    WITH x AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM x
    ),
    per AS (
      SELECT user_id, session_id,
             date_trunc('day', min(ts)) AS day, count(*) AS n_events
      FROM s GROUP BY 1, 2
    )
    SELECT day, count(*) AS n_sessions,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounced,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) AS bounce_rate
    FROM per GROUP BY 1
    """,
    "Daily bounce rate — the canonical product-analytics session "
    "metric: gap-sessionize (30 min), one row per session keyed to "
    "the day of its FIRST event, bounce = single-event session; rate "
    "is one integer-over-integer division. The sessionize windows and "
    "the per-session aggregate share the user exchange; the daily "
    "reduce is day-bounded",
)
def q_bounce_rate(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    s = relational.sessionize(ev, "user_id", "ts", 1800, "event_id")
    per = s.groupBy("user_id", "session_id").agg(
        F.date_trunc("day", F.min("ts")).alias("day"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return per.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum((F.col("n_events") == 1).cast("bigint")).alias("n_bounced"),
        (
            F.sum((F.col("n_events") == 1).cast("bigint")).cast("double")
            / F.count(F.lit(1))
        ).alias("bounce_rate"),
    )


def _bfs_oracle(max_hops: int = 4, min_support: int = 2) -> str:
    """Unrolled fixed-round BFS as chained MATERIALIZED CTEs over the
    shared co-occurrence CTE — the oracle replays the IDENTICAL
    frontier expansions the engine's dataflow loop runs (the PageRank
    oracle pattern). All-integer hop labels; the anti-join is NOT
    EXISTS over the settled set, matching the engine's left_anti
    exactly. MATERIALIZED is load-bearing (the k-core lesson): each
    d{{k}} is referenced twice (the next frontier's NOT EXISTS and the
    next settled union), so plain CTEs inline the chain exponentially
    — measured 41 MINUTES / an OOM-prone plan at sf0.1 vs seconds
    materialized, the round-6 full-gate failure."""
    steps = []
    prev_d, prev_f = "d0", "f0"
    for k in range(1, max_hops + 1):
        steps.append(f"""
    f{k} AS MATERIALIZED (
      SELECT DISTINCT e.dst AS node FROM e JOIN {prev_f} f ON e.src = f.node
      WHERE NOT EXISTS (SELECT 1 FROM {prev_d} d WHERE d.node = e.dst)
    ), d{k} AS MATERIALIZED (
      SELECT node, hops FROM {prev_d}
      UNION ALL SELECT node, CAST({k} AS BIGINT) FROM f{k}
    )""")
        prev_d, prev_f = f"d{k}", f"f{k}"
    return f"""
    {_COOC_CTE}, e AS MATERIALIZED (
      SELECT item AS src, neighbor AS dst FROM counts
        WHERE pair_cnt >= {min_support} AND item != neighbor
      UNION
      SELECT neighbor AS src, item AS dst FROM counts
        WHERE pair_cnt >= {min_support} AND item != neighbor
    ), d0 AS MATERIALIZED (
      SELECT MIN(src) AS node, CAST(0 AS BIGINT) AS hops FROM e
    ), f0 AS (SELECT node FROM d0),{",".join(steps)}
    SELECT node, hops FROM {prev_d}
    """


@register(
    "bfs_hops_items",
    _bfs_oracle(max_hops=4, min_support=2),
    "Fixed-round (4-hop) BFS over the min-support-2 co-occurrence item "
    "graph from the minimum-id seed — DISTANCE, the graph primitive "
    "next to PageRank/triangles/k-core/components: recommendation "
    "radius and reachability. Support-2 filtering keeps only repeated "
    "pair evidence, so the graph is sparse and the frontier growth is "
    "informative. Per round: frontier(broadcast) join edges + distinct "
    "+ anti-join vs settled — the edge table never shuffles; the "
    "oracle unrolls the identical rounds as chained CTEs",
)
def q_bfs_hops(spark, sf_dir):
    from .operators import graph

    baskets = basket.baskets_from_lineitem(_t(spark, sf_dir, "lineitem"))
    # node codes through the frontier rounds: the default seed is the
    # MIN node id, and code order is string order, so min(code) is the
    # string-min item. hops are id-free.
    edges = graph.encode_nodes(
        graph.symmetric_edges(
            basket.cooccurrence_counts(baskets).filter(F.col("pair_cnt") >= 2)
        ),
        _node_codes(spark, sf_dir),
        "src",
        "dst",
    )
    hops = graph.bfs_hops(edges, max_hops=4)
    return _decode_nodes(spark, sf_dir, hops, "node")


@register(
    "scrub_repeated_segments",
    """
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\\s+'),
                         x -> x != '') AS tk
      FROM documents
    ), s AS (
      SELECT doc_id, seg,
             array_to_string(tk[seg * 8 + 1 : seg * 8 + 8], ' ') AS seg_text
      FROM (
        SELECT doc_id, tk,
               unnest(generate_series(0, CAST((len(tk) + 7) // 8 AS BIGINT)
                 - 1)) AS seg
        FROM t WHERE len(tk) >= 1)
    ), c AS (
      SELECT doc_id, seg, seg_text,
             COUNT(*) OVER (PARTITION BY seg_text) AS cnt
      FROM s
    ), r AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_segments,
             CAST(SUM(CASE WHEN cnt <= 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
             COALESCE(string_agg(CASE WHEN cnt <= 1 THEN seg_text END,
                                 ' ' ORDER BY seg), '') AS clean_text
      FROM c GROUP BY doc_id
    )
    SELECT t.doc_id,
           COALESCE(r.n_segments, 0) AS n_segments,
           COALESCE(r.n_kept, 0) AS n_kept,
           COALESCE(r.clean_text, '') AS clean_text
    FROM t LEFT JOIN r USING (doc_id)
    """,
    "Exact duplicated-span REMOVAL (Lee et al. 2021, the step after "
    "duplicate_gram_screen's scoring): every doc rewritten with "
    "corpus-repeated 8-token segments deleted — the scrubbed training "
    "text itself. Segments build codegen-narrow (sequence explode + "
    "slice + array_join — no interpreted HOF per token), corpus "
    "multiplicities are one seg_text window, reassembly one doc-keyed "
    "window whose collect_list drops the filtered nulls in position "
    "order; 2 keyed exchanges, nothing quadratic",
)
def q_scrub_segments(spark, sf_dir):
    return text.scrub_repeated_segments(
        _t(spark, sf_dir, "documents"), seg_len=8, max_count=1
    )


@register(
    "seasonal_hourly_events",
    """
    WITH b AS (
      SELECT event_type, date_trunc('hour', ts) AS hr, COUNT(*) AS cnt
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, hr, CAST(hour(hr) AS BIGINT) AS hod, cnt,
           CAST(SUM(cnt) OVER w AS DOUBLE)
             / CAST(COUNT(*) OVER w AS DOUBLE) AS seasonal,
           CAST(cnt AS DOUBLE)
             - CAST(SUM(cnt) OVER w AS DOUBLE)
               / CAST(COUNT(*) OVER w AS DOUBLE) AS residual
    FROM b
    WINDOW w AS (PARTITION BY event_type, hour(hr))
    """,
    "Hour-of-day seasonal decomposition of each type's hourly count "
    "series (count = seasonal + residual; seasonal = the type's mean "
    "count at that clock hour over observed buckets) — the additive "
    "calendar baseline subtracted before anomaly work; burst_detect "
    "compares neighbors, this compares each hour to its own norm. "
    "Exact int64 sums feed ONE correctly-rounded division and one "
    "exact IEEE subtraction (single-step float ops are "
    "engine-deterministic; only ITERATED rounding is not). Raw events "
    "reduce map-side; the window runs over groups x hours bucket rows",
)
def q_seasonal_hourly(spark, sf_dir):
    return timeseries.seasonal_hourly(_t(spark, sf_dir, "events"))


@register(
    "roc_auc_doclen_lang",
    """
    WITH b AS (
      SELECT source, n_chars,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents
    ), s AS (
      SELECT source, n_chars, COUNT(*) AS m, SUM(y) AS p
      FROM b GROUP BY 1, 2
    ), c AS (
      SELECT source, n_chars, m, p,
             SUM(m) OVER (PARTITION BY source ORDER BY n_chars) AS cc,
             SUM(m) OVER (PARTITION BY source) AS n
      FROM s
    ), a AS (
      SELECT source, SUM(p) AS pp, ANY_VALUE(n) - SUM(p) AS nn,
             SUM(p * (2 * cc - m + 1)) AS r2
      FROM c GROUP BY source
    )
    SELECT source, CAST(pp AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
           CASE WHEN pp > 0 AND nn > 0 THEN
             -- int128 sums go to double VIA VARCHAR (the agg_corr rule)
             CAST(CAST(r2 - pp * (pp + 1) AS VARCHAR) AS DOUBLE)
               / CAST(CAST(2 * pp * nn AS VARCHAR) AS DOUBLE)
           END AS auc
    FROM a
    """,
    "Exact per-source ROC-AUC of document length separating English "
    "from non-English — the rank-sum (Mann-Whitney U) identity: tie-"
    "averaged ranks in 2x-scaled integers (decimal(38,0) sums — rank "
    "sums reach n^2, past int64 at corpus scale), ONE division at the "
    "end. Ranks come from the bucketed parallel prefix-sum "
    "(grouped_value_cum), never a per-group sort funnel; the screen-"
    "grading primitive a curation pipeline needs to audit its own "
    "quality scores",
)
def q_roc_auc(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        "n_chars",
        (F.col("lang") == "en").cast("int").alias("is_en"),
    )
    return evaluation.roc_auc(
        d,
        "is_en",
        "n_chars",
        ("source",),
        bucket_expr=F.floor(F.col("n_chars") / F.lit(256)),
    )


@register(
    "gini_customer_spend",
    """
    WITH sp AS (
      SELECT o_custkey,
             SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS spend
      FROM orders GROUP BY o_custkey
    ), b AS (
      SELECT c.c_mktsegment, sp.spend FROM customer c
      JOIN sp ON c.c_custkey = sp.o_custkey
    ), s AS (
      SELECT c_mktsegment, spend, COUNT(*) AS m FROM b GROUP BY 1, 2
    ), c AS (
      SELECT c_mktsegment, spend, m,
             SUM(m) OVER (PARTITION BY c_mktsegment ORDER BY spend) AS cc,
             SUM(m) OVER (PARTITION BY c_mktsegment) AS n
      FROM s
    ), a AS (
      SELECT c_mktsegment, ANY_VALUE(n) AS n,
             SUM(spend * m) AS tot,
             SUM(spend * m * (2 * cc - m + 1)) AS num2
      FROM c GROUP BY c_mktsegment
    )
    SELECT c_mktsegment, CAST(n AS BIGINT) AS n,
           CAST(CAST(tot AS VARCHAR) AS DOUBLE) AS total,
           CASE WHEN tot > 0 AND n > 1 THEN
             (CAST(CAST(num2 AS VARCHAR) AS DOUBLE)
                - (CAST(n AS DOUBLE) + 1.0)
                  * CAST(CAST(tot AS VARCHAR) AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(CAST(tot AS VARCHAR) AS DOUBLE))
           END AS gini
    FROM a
    """,
    "Gini concentration of per-customer spend within each market "
    "segment — how unequal is revenue across customers (0 = even, ->1 "
    "= one whale). Spend totals are exact 4dp decimal sums; the sorted-"
    "weighted-sum identity sum_v v*m*(2cc-m+1) is tie-invariant and "
    "computes sum_i(i*x_i) from distinct-value rows via the bucketed "
    "parallel prefix-sum — no per-row ranks, no global sort; one final "
    "double expression (decimals cross to double via VARCHAR on the "
    "oracle side, the agg_corr rule)",
)
def q_gini_spend(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("spend")
    )
    d = cust.join(
        spend, cust.c_custkey == spend.o_custkey, "inner"
    ).select("c_mktsegment", "spend")
    return evaluation.gini_coefficient(
        d,
        "spend",
        ("c_mktsegment",),
        bucket_expr=F.floor(F.col("spend") / F.lit(100000)),
    )


@register(
    "kaplan_meier_conversion",
    """
    WITH f AS (
      SELECT user_id, MIN(epoch_us(ts)) AS t0, MAX(epoch_us(ts)) AS tl
      FROM events GROUP BY user_id
    ), p AS (
      SELECT user_id, MIN(epoch_us(ts)) AS tp FROM events
      WHERE event_type = 'purchase' GROUP BY user_id
    ), s AS (
      SELECT CASE WHEN tp IS NOT NULL
               THEN CAST((tp - t0) // 3600000000 AS BIGINT)
               ELSE CAST((tl - t0) // 3600000000 AS BIGINT) END AS d,
             CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM f LEFT JOIN p USING (user_id)
    ), t AS (
      SELECT d, COUNT(*) AS m, SUM(ev) AS dd FROM s GROUP BY d
    ), c AS (
      SELECT d, m, dd, SUM(m) OVER (ORDER BY d) AS cc, SUM(m) OVER () AS n
      FROM t
    ), q AS (
      SELECT d, n - cc + m AS rsk, dd, m - dd AS cens,
        CASE WHEN dd < n - cc + m THEN
          CAST(round(ln(1.0 - CAST(dd AS DOUBLE)
                              / CAST(n - cc + m AS DOUBLE)), 6)
            AS DECIMAL(18,6)) END AS term,
        CASE WHEN dd >= n - cc + m THEN 1 ELSE 0 END AS ab
      FROM c
    )
    SELECT d AS duration, CAST(rsk AS BIGINT) AS n_risk,
           CAST(dd AS BIGINT) AS n_events, CAST(cens AS BIGINT) AS n_censored,
           CASE WHEN MAX(ab) OVER (ORDER BY d) = 0 THEN
             CAST(CAST(SUM(term) OVER (ORDER BY d) AS VARCHAR) AS DOUBLE)
           END AS log_survival
    FROM q
    """,
    "Kaplan-Meier time-to-conversion: hours from a user's first event "
    "to first purchase, RIGHT-CENSORED at the last observed event for "
    "never-purchasers — the estimator that reads conversion latency "
    "correctly under censoring (naive averages over converters only "
    "are biased low). LOG-survival as exact sums of 6dp-quantized "
    "hazard logs (the textbook running float PRODUCT is engine-"
    "divergent — the PageRank lesson); risk sets from ONE bucketed "
    "parallel prefix pass over durations; the cumulative window runs "
    "over calendar-bounded distinct-duration rows. Durations are "
    "integer epoch-microsecond floor-hours (calendar hour-boundary "
    "counting differs between engines; integer epoch division cannot)",
)
def q_kaplan_meier(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    f = ev.groupBy("user_id").agg(
        F.min(F.unix_micros("ts")).alias("t0"),
        F.max(F.unix_micros("ts")).alias("tl"),
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("tp"))
    )
    conv = F.col("tp").isNotNull()
    subj = f.join(p, "user_id", "left").select(
        F.when(conv, (F.col("tp") - F.col("t0")))
        .otherwise(F.col("tl") - F.col("t0"))
        .cast("bigint")
        .alias("us"),
        conv.cast("int").alias("event"),
    ).select(
        F.expr("us DIV 3600000000").cast("bigint").alias("duration"), "event"
    )
    return evaluation.kaplan_meier(subj)


@register(
    "pmi_collocations",
    """
    WITH tk AS (
      SELECT list_filter(string_split(
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
               x -> x != '') AS tk
      FROM documents
    ), bi AS (
      SELECT gram AS bigram, COUNT(*) AS cnt FROM (
        SELECT unnest(list_transform(range(1, len(tk)),
                 i -> tk[i] || ' ' || tk[i+1])) AS gram
        FROM tk WHERE len(tk) >= 2)
      GROUP BY gram
    ), m AS (
      SELECT bigram, cnt,
             SUM(cnt) OVER (PARTITION BY split_part(bigram, ' ', 1))
               AS c_left,
             SUM(cnt) OVER (PARTITION BY split_part(bigram, ' ', 2))
               AS c_right,
             SUM(cnt) OVER () AS nn
      FROM bi
    )
    SELECT bigram, CAST(cnt AS BIGINT) AS cnt,
           CAST(c_left AS BIGINT) AS c_left,
           CAST(c_right AS BIGINT) AS c_right,
           round(ln((CAST(cnt AS DOUBLE) * CAST(nn AS DOUBLE))
                    / (CAST(c_left AS DOUBLE) * CAST(c_right AS DOUBLE))),
                 6) AS pmi
    FROM m WHERE cnt >= 5
    ORDER BY pmi DESC, bigram LIMIT 50
    """,
    "Top-50 collocations by pointwise mutual information over the "
    "corpus bigram distribution (Church & Hanks) — the phrase detector "
    "run before merging multi-word tokenizer units. Contingency-table "
    "marginals as WINDOW sums over the reduced (bigram, count) table "
    "(the bigram-LM no-join-backs shape); pmi = one ln of exact-count "
    "ratios (each factor cast to double BEFORE multiplying — c_xy*N "
    "overflows int64 at corpus scale) quantized to 6dp; total order "
    "(pmi desc, bigram) makes the limit deterministic",
)
def q_pmi_collocations(spark, sf_dir):
    return text.pmi_collocations(
        _t(spark, sf_dir, "documents"), min_count=5, k=50
    )


@register(
    "activity_streaks_events",
    """
    WITH d AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), i AS (
      SELECT user_id, day,
             day - CAST(row_number() OVER (
               PARTITION BY user_id ORDER BY day) AS INTEGER) AS isl
      FROM d
    ), r AS (
      SELECT user_id, isl, COUNT(*) AS len FROM i GROUP BY 1, 2
    )
    SELECT user_id, CAST(MAX(len) AS BIGINT) AS longest_streak,
           CAST(COUNT(*) AS BIGINT) AS n_streaks,
           CAST(SUM(len) AS BIGINT) AS active_days
    FROM r GROUP BY user_id
    """,
    "Gaps-and-islands activity streaks: per user the longest run of "
    "consecutive active calendar days, island count, and total active "
    "days (the '7-day streak' engagement pattern). Island key = day - "
    "row_number over DISTINCT active days — constant within a run, "
    "unique across runs; pure integer date arithmetic. Raw events "
    "reduce map-side to (user, day); the window and both reductions "
    "share the user exchange; TZ-independent (session pinned UTC)",
)
def q_activity_streaks(spark, sf_dir):
    return timeseries.activity_streaks(_t(spark, sf_dir, "events"))


@register(
    "target_encode_segment",
    """
    WITH b AS (
      SELECT c.c_mktsegment AS seg,
             CAST(o.o_totalprice AS DECIMAL(18,4)) AS v
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), pc AS (
      SELECT seg, COUNT(*) AS nc,
             CAST(CAST(SUM(v) AS VARCHAR) AS DOUBLE) AS sc
      FROM b GROUP BY seg
    ), g AS (
      SELECT COUNT(*) AS n, CAST(CAST(SUM(v) AS VARCHAR) AS DOUBLE) AS s
      FROM b
    )
    SELECT seg AS c_mktsegment, CAST(nc AS BIGINT) AS n,
           sc / CAST(nc AS DOUBLE) AS cat_mean,
           (sc + 10.0 * (s / CAST(n AS DOUBLE)))
             / (CAST(nc AS DOUBLE) + 10.0) AS encoded
    FROM pc CROSS JOIN g
    """,
    "Smoothed target (mean) encoding of market segment against order "
    "value — empirical-Bayes shrinkage toward the global mean with "
    "pseudo-count 10: rare categories regress to the prior, frequent "
    "ones keep their own mean. Exact decimal sums at both levels, one "
    "correctly-rounded division for the global mean, ONE fixed float "
    "expression for the encoding (never an iterated float); the one-"
    "row global aggregate broadcasts onto the category table — output "
    "is category-cardinality-sized at any corpus scale",
)
def q_target_encode(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    d = orders.join(
        cust, orders.o_custkey == cust.c_custkey
    ).select("c_mktsegment", "o_totalprice")
    return evaluation.target_encode(
        d, "c_mktsegment", "o_totalprice", smoothing=10
    )


@register(
    "sample_quantiles_orders",
    """
    WITH h AS (
      SELECT o_orderpriority AS pri,
             ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
               AS h,
             o_totalprice AS v, o_orderkey AS id
      FROM orders
    ), s AS (
      SELECT pri, h, v, id,
             row_number() OVER (PARTITION BY pri ORDER BY h, v, id) AS hrk
      FROM h
    ), smp AS (
      SELECT pri, v, h, id FROM s WHERE hrk <= 64
    ), r AS (
      SELECT pri, v,
             row_number() OVER (PARTITION BY pri ORDER BY v, h, id) AS vrk,
             count(*) OVER (PARTITION BY pri) AS ns
      FROM smp
    )
    SELECT pri AS o_orderpriority, CAST(MAX(ns) AS BIGINT) AS n_sample,
           MIN(CASE WHEN vrk >= (1 * ns + 3) // 4 THEN v END) AS q_1_4,
           MIN(CASE WHEN vrk >= (1 * ns + 1) // 2 THEN v END) AS q_1_2,
           MIN(CASE WHEN vrk >= (3 * ns + 3) // 4 THEN v END) AS q_3_4
    FROM r GROUP BY pri
    """,
    "Mergeable O(k) quantile sketch (k=64): per priority keep the 64 "
    "rows with smallest md5(orderkey) — deterministic coordination-"
    "free uniform sampling on the repo's hash contract, composable "
    "across shards exactly like KMV (k-min-by-hash of a union = "
    "k-min of the parts' k-minima) — then answer p25/p50/p75 as "
    "DISCRETE picks at integer-ceiling ranks inside the sample. The "
    "bounded-size estimate path next to the exact distinct-value "
    "machinery; engine runs the two-level hash tournament (bounded "
    "windows, skew-immune), the oracle's flat rank formulation "
    "retains the identical sample set",
)
def q_sample_quantiles(spark, sf_dir):
    return sketches.hash_sample_quantiles(
        _t(spark, sf_dir, "orders"),
        "o_orderkey",
        "o_totalprice",
        ["o_orderpriority"],
        k=64,
    )


@register(
    "readability_flesch",
    """
    WITH t AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split_regex(
               lower(trim(text)), '\\s+'), x -> x != '')) AS BIGINT)
               AS n_words,
             CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
               AS BIGINT) AS n_sentences,
             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
               AS BIGINT) AS n_syllables
      FROM documents
    )
    SELECT doc_id, n_words, n_sentences, n_syllables,
           CASE WHEN n_words > 0 THEN
             206.835
             - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
             - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
           END AS flesch
    FROM t
    """,
    "Flesch reading-ease screen (the classic complexity threshold next "
    "to lang/quality/repetition): three INTEGER counts — whitespace "
    "words, [.!?]+ sentence runs (clamped to 1), [aeiouy]+ vowel-group "
    "syllables counted over the WHOLE text in one regexp pass (a vowel "
    "group cannot span a word boundary, so this equals the per-word "
    "sum without any HOF lambda) — combined in ONE fixed float "
    "expression. Zero exchanges: a narrow projection",
)
def q_readability(spark, sf_dir):
    return text.readability_scores(_t(spark, sf_dir, "documents"))


@register(
    "temperature_mix_sources",
    """
    WITH c AS (
      SELECT source, COUNT(*) AS n,
             CAST(round(sqrt(CAST(COUNT(*) AS DOUBLE)), 6)
               AS DECIMAL(18,6)) AS w
      FROM documents GROUP BY source
    ), t AS (
      SELECT SUM(n) AS nn, SUM(w) AS ww FROM c
    ), p AS (
      SELECT c.source,
             least(1.0,
               (CAST(CAST(t.nn * 1 // 2 AS BIGINT) AS DOUBLE)
                  * CAST(c.w AS DOUBLE))
               / (CAST(t.ww AS DOUBLE) * CAST(c.n AS DOUBLE))) AS keep_p
      FROM c CROSS JOIN t
    )
    SELECT d.doc_id, d.source
    FROM documents d JOIN p ON d.source = p.source
    WHERE (('0x' || substr(md5('tmix' || CAST(d.doc_id AS VARCHAR)), 1, 8))
             ::BIGINT + 0.5) / 4294967296.0 < p.keep_p
    """,
    "Temperature-based source rebalancing at T=2 (keep probability ∝ "
    "sqrt(n_s)/n_s, half-corpus budget) — the multilingual-LM standard "
    "for up-weighting low-resource sources. T=2 is the one temperature "
    "with a cross-engine-exact formulation: IEEE sqrt is CORRECTLY "
    "ROUNDED (pow/exp/ln are not), so 6dp-quantized weights + exact "
    "decimal sums + the md5 dyadic draw pick identical rows in both "
    "engines. Source-cardinality aggregate broadcasts onto one narrow "
    "filter scan — rows decide locally, nothing data-sized shuffles",
)
def q_temperature_mix(spark, sf_dir):
    return relational.temperature_mix(
        _t(spark, sf_dir, "documents").select("doc_id", "source")
    ).select("doc_id", "source")


@register(
    "spearman_spend_frequency",
    """
    WITH b AS (
      SELECT o_custkey,
             SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS x,
             COUNT(*) AS y
      FROM orders GROUP BY o_custkey
    ), rx AS (
      SELECT x, 2 * (SUM(COUNT(*)) OVER (ORDER BY x)) - COUNT(*) + 1 AS rx2
      FROM b GROUP BY x
    ), ry AS (
      SELECT y, 2 * (SUM(COUNT(*)) OVER (ORDER BY y)) - COUNT(*) + 1 AS ry2
      FROM b GROUP BY y
    ), r AS (
      SELECT rx2, ry2 FROM b JOIN rx USING (x) JOIN ry USING (y)
    ), m AS (
      SELECT COUNT(*) AS n,
             CAST(CAST(SUM(rx2) AS VARCHAR) AS DOUBLE) AS sx,
             CAST(CAST(SUM(ry2) AS VARCHAR) AS DOUBLE) AS sy,
             CAST(CAST(SUM(rx2 * rx2) AS VARCHAR) AS DOUBLE) AS sxx,
             CAST(CAST(SUM(ry2 * ry2) AS VARCHAR) AS DOUBLE) AS syy,
             CAST(CAST(SUM(rx2 * ry2) AS VARCHAR) AS DOUBLE) AS sxy
      FROM r
    )
    SELECT CAST(n AS BIGINT) AS n,
           CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx > 0
                 AND CAST(n AS DOUBLE) * syy - sy * sy > 0 THEN
             (CAST(n AS DOUBLE) * sxy - sx * sy)
             / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
                    * (CAST(n AS DOUBLE) * syy - sy * sy))
           END AS spearman
    FROM m
    """,
    "Spearman rank correlation between per-customer total spend and "
    "order frequency (do bigger spenders also order more often?) — "
    "Pearson over tie-averaged ranks in 2x-scaled integers (the "
    "ROC-AUC trick; scaling cancels in the correlation), five exact "
    "decimal(38,0) integer moments, ONE fixed float formula whose "
    "sqrt is correctly rounded. Ranks come from the bucketed parallel "
    "prefix (no global sort); the builtin corr() is both the wrong "
    "statistic and partitioning-dependent — this is neither",
)
def q_spearman(spark, sf_dir):
    b = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("x"),
            F.count(F.lit(1)).alias("y"),
        )
    )
    return evaluation.spearman_corr(
        b,
        "x",
        "y",
        x_bucket=F.floor(F.col("x") / F.lit(100000)),
        y_bucket=F.col("y"),
    )


@register(
    "classification_report_langid",
    """
    WITH toks AS (
      SELECT doc_id, lang,
             string_split_regex(lower(trim(text)), '\\s+') AS tk
      FROM documents
    ), hits AS (
      SELECT doc_id, lang,
        len(list_filter(tk, x -> list_contains(['der','die','das','und','ist'], x))) AS h_de,
        len(list_filter(tk, x -> list_contains(['the','and','of','to','a','in','is'], x))) AS h_en,
        len(list_filter(tk, x -> list_contains(['el','la','de','y','un','es'], x))) AS h_es,
        len(list_filter(tk, x -> list_contains(['le','la','de','et','un','est'], x))) AS h_fr
      FROM toks
    ), pr AS (
      SELECT lang AS t,
        CASE WHEN greatest(h_de, h_en, h_es, h_fr) < 2 THEN 'und'
             WHEN h_de = greatest(h_de, h_en, h_es, h_fr) THEN 'de'
             WHEN h_en = greatest(h_de, h_en, h_es, h_fr) THEN 'en'
             WHEN h_es = greatest(h_de, h_en, h_es, h_fr) THEN 'es'
             ELSE 'fr' END AS p
      FROM hits
    ), pairs AS (
      SELECT t, p, COUNT(*) AS n FROM pr GROUP BY t, p
    ), truth AS (SELECT t AS label, SUM(n) AS support FROM pairs GROUP BY t),
    preds AS (SELECT p AS label, SUM(n) AS n_pred FROM pairs GROUP BY p),
    tp AS (SELECT t AS label, n AS tp FROM pairs WHERE t = p),
    rep AS (
      SELECT COALESCE(truth.label, preds.label) AS label,
             CAST(COALESCE(support, 0) AS BIGINT) AS support,
             CAST(COALESCE(tp, 0) AS BIGINT) AS tp,
             CAST(COALESCE(n_pred, 0) - COALESCE(tp, 0) AS BIGINT) AS fp,
             CAST(COALESCE(support, 0) - COALESCE(tp, 0) AS BIGINT) AS fn
      FROM truth FULL OUTER JOIN preds ON truth.label = preds.label
      LEFT JOIN tp ON COALESCE(truth.label, preds.label) = tp.label
    )
    SELECT label, support, tp, fp, fn,
           CASE WHEN tp + fp > 0
             THEN CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS precision,
           CASE WHEN support > 0
             THEN CAST(tp AS DOUBLE) / CAST(support AS DOUBLE) END AS recall,
           CASE WHEN 2 * tp + fp + fn > 0
             THEN 2.0 * CAST(tp AS DOUBLE)
                  / CAST(2 * tp + fp + fn AS DOUBLE) END AS f1
    FROM rep
    """,
    "Per-class precision/recall/F1 + support, grading the language-ID "
    "screen against the corpus's true lang labels — the metric sheet "
    "for any categorical screen. Exact integer tp/fp/fn from one "
    "(truth, prediction) aggregation (|classes|^2-bounded pair table); "
    "F1 via the integer identity 2tp/(2tp+fp+fn), never a harmonic "
    "mean of rounded rates; undefined denominators stay NULL so macro "
    "averages aren't poisoned",
)
def q_classification_report(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    pred = text.lang_id(docs).select("doc_id", "pred_lang")
    joined = docs.select("doc_id", "lang").join(pred, "doc_id")
    return evaluation.classification_report(joined, "lang", "pred_lang")


@register(
    "source_vocab_overlap",
    """
    WITH st AS (
      SELECT DISTINCT source AS s, t FROM (
        SELECT source,
               unnest(list_filter(string_split_regex(
                 lower(trim(text)), '\\s+'), x -> x != '')) AS t
        FROM documents)
    ), sh AS (
      SELECT a.s AS src_a, b.s AS src_b, COUNT(*) AS shared
      FROM st a JOIN st b ON a.t = b.t AND a.s < b.s
      GROUP BY 1, 2
    ), sz AS (
      SELECT s, COUNT(*) AS v FROM st GROUP BY s
    )
    SELECT src_a, src_b,
           CAST(va.v AS BIGINT) AS vocab_a, CAST(vb.v AS BIGINT) AS vocab_b,
           CAST(shared AS BIGINT) AS shared,
           CAST(shared AS DOUBLE)
             / CAST(va.v + vb.v - shared AS DOUBLE) AS jaccard
    FROM sh JOIN sz va ON sh.src_a = va.s JOIN sz vb ON sh.src_b = vb.s
    WHERE CAST(shared AS DOUBLE)
            / CAST(va.v + vb.v - shared AS DOUBLE) >= 0.2
    """,
    "Pairwise vocabulary Jaccard between sources — the shard-level "
    "mirror detector run BEFORE document near-dup (re-crawls and "
    "re-exported dumps show up as whole-source vocabulary overlap). "
    "Distinct (source, token) reduces map-side; the token-keyed self-"
    "join does (sources sharing the token)^2 work per token — bounded "
    "by the source count squared, an operational constant, never by "
    "corpus volume; per-source sizes broadcast onto the canonical "
    "pair table; jaccard is one division of exact integers",
)
def q_source_vocab_overlap(spark, sf_dir):
    return text.source_vocab_overlap(
        _t(spark, sf_dir, "documents"), min_jaccard=0.2
    )


@register(
    "classification_summary_langid",
    """
    WITH toks AS (
      SELECT doc_id, lang,
             string_split_regex(lower(trim(text)), '\\s+') AS tk
      FROM documents
    ), hits AS (
      SELECT doc_id, lang,
        len(list_filter(tk, x -> list_contains(['der','die','das','und','ist'], x))) AS h_de,
        len(list_filter(tk, x -> list_contains(['the','and','of','to','a','in','is'], x))) AS h_en,
        len(list_filter(tk, x -> list_contains(['el','la','de','y','un','es'], x))) AS h_es,
        len(list_filter(tk, x -> list_contains(['le','la','de','et','un','est'], x))) AS h_fr
      FROM toks
    ), pr AS (
      SELECT lang AS t,
        CASE WHEN greatest(h_de, h_en, h_es, h_fr) < 2 THEN 'und'
             WHEN h_de = greatest(h_de, h_en, h_es, h_fr) THEN 'de'
             WHEN h_en = greatest(h_de, h_en, h_es, h_fr) THEN 'en'
             WHEN h_es = greatest(h_de, h_en, h_es, h_fr) THEN 'es'
             ELSE 'fr' END AS p
      FROM hits
    ), pairs AS (
      SELECT t, p, COUNT(*) AS n FROM pr GROUP BY t, p
    ), truth AS (SELECT t AS label, SUM(n) AS support FROM pairs GROUP BY t),
    preds AS (SELECT p AS label, SUM(n) AS n_pred FROM pairs GROUP BY p),
    tp AS (SELECT t AS label, n AS tp FROM pairs WHERE t = p),
    rep AS (
      SELECT COALESCE(truth.label, preds.label) AS label,
             COALESCE(support, 0) AS support,
             COALESCE(tp.tp, 0) AS tp,
             COALESCE(n_pred, 0) - COALESCE(tp.tp, 0) AS fp,
             COALESCE(support, 0) - COALESCE(tp.tp, 0) AS fn
      FROM truth FULL OUTER JOIN preds ON truth.label = preds.label
      LEFT JOIN tp ON COALESCE(truth.label, preds.label) = tp.label
    ), m AS (
      SELECT label, support, tp,
        CASE WHEN tp + fp > 0
          THEN CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS prc,
        CASE WHEN support > 0
          THEN CAST(tp AS DOUBLE) / CAST(support AS DOUBLE) END AS rcl,
        CASE WHEN 2 * tp + fp + fn > 0
          THEN 2.0 * CAST(tp AS DOUBLE)
               / CAST(2 * tp + fp + fn AS DOUBLE) END AS f1
      FROM rep
    )
    SELECT CAST(SUM(support) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(CAST(SUM(tp) AS VARCHAR) AS DOUBLE)
             / CAST(CAST(SUM(support) AS VARCHAR) AS DOUBLE) AS accuracy,
           CAST(CAST(SUM(CAST(round(prc, 6) AS DECIMAL(18,6))) AS VARCHAR)
             AS DOUBLE) / CAST(COUNT(prc) AS DOUBLE) AS macro_precision,
           CAST(CAST(SUM(CAST(round(rcl, 6) AS DECIMAL(18,6))) AS VARCHAR)
             AS DOUBLE) / CAST(COUNT(rcl) AS DOUBLE) AS macro_recall,
           CAST(CAST(SUM(CAST(round(f1, 6) AS DECIMAL(18,6))) AS VARCHAR)
             AS DOUBLE) / CAST(COUNT(f1) AS DOUBLE) AS macro_f1
    FROM m
    """,
    "One-row roll-up of the language-ID classification report: overall "
    "accuracy (exact integer division) + macro precision/recall/F1 "
    "averaged over classes with DEFINED metrics only (NULL denominators "
    "excluded, not imputed as 0 — imputing poisons macro averages). "
    "Macro means are exact sums of 6dp-quantized per-class values, so "
    "both engines average the identical set",
)
def q_classification_summary(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    pred = text.lang_id(docs).select("doc_id", "pred_lang")
    joined = docs.select("doc_id", "lang").join(pred, "doc_id")
    return evaluation.classification_summary(joined, "lang", "pred_lang")


def _stats_stack(df, cols):
    """One-scan per-column stats as (col_name, n_rows, n_nulls, ndv,
    min_s, max_s) rows — the table_stats construction, reused for
    snapshot comparison."""
    aggs = []
    for c in cols:
        mn, mx = F.min(c), F.max(c)
        if c == "o_totalprice":
            mn = mn.cast("decimal(18,2)")
            mx = mx.cast("decimal(18,2)")
        aggs += [
            F.count(F.lit(1)).alias(f"n_{c}"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"nn_{c}"),
            F.count_distinct(F.col(c)).alias(f"ndv_{c}"),
            mn.cast("string").alias(f"mn_{c}"),
            mx.cast("string").alias(f"mx_{c}"),
        ]
    one = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', n_{c}, nn_{c}, ndv_{c}, mn_{c}, mx_{c}" for c in cols
    )
    return one.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS "
            "(col_name, n_rows, n_nulls, ndv, min_s, max_s)"
        )
    )


@register(
    "schema_drift_orders",
    """
    WITH oldt AS (SELECT * FROM orders WHERE o_orderkey % 97 != 0),
    s_old AS (
      SELECT col_name, n_rows, n_nulls, ndv, min_s, max_s FROM (
        SELECT 'o_custkey' AS col_name, COUNT(*) AS n_rows,
               COUNT(*) - COUNT(o_custkey) AS n_nulls,
               COUNT(DISTINCT o_custkey) AS ndv,
               CAST(MIN(o_custkey) AS VARCHAR) AS min_s,
               CAST(MAX(o_custkey) AS VARCHAR) AS max_s FROM oldt
        UNION ALL
        SELECT 'o_orderstatus', COUNT(*), COUNT(*) - COUNT(o_orderstatus),
               COUNT(DISTINCT o_orderstatus),
               CAST(MIN(o_orderstatus) AS VARCHAR),
               CAST(MAX(o_orderstatus) AS VARCHAR) FROM oldt
        UNION ALL
        SELECT 'o_totalprice', COUNT(*), COUNT(*) - COUNT(o_totalprice),
               COUNT(DISTINCT o_totalprice),
               CAST(CAST(MIN(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR),
               CAST(CAST(MAX(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR)
        FROM oldt)
    ), s_new AS (
      SELECT col_name, n_rows, n_nulls, ndv, min_s, max_s FROM (
        SELECT 'o_custkey' AS col_name, COUNT(*) AS n_rows,
               COUNT(*) - COUNT(o_custkey) AS n_nulls,
               COUNT(DISTINCT o_custkey) AS ndv,
               CAST(MIN(o_custkey) AS VARCHAR) AS min_s,
               CAST(MAX(o_custkey) AS VARCHAR) AS max_s FROM orders
        UNION ALL
        SELECT 'o_orderstatus', COUNT(*), COUNT(*) - COUNT(o_orderstatus),
               COUNT(DISTINCT o_orderstatus),
               CAST(MIN(o_orderstatus) AS VARCHAR),
               CAST(MAX(o_orderstatus) AS VARCHAR) FROM orders
        UNION ALL
        SELECT 'o_totalprice', COUNT(*), COUNT(*) - COUNT(o_totalprice),
               COUNT(DISTINCT o_totalprice),
               CAST(CAST(MIN(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR),
               CAST(CAST(MAX(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR)
        FROM orders)
    )
    SELECT o.col_name,
           CAST(o.n_rows AS BIGINT) AS n_old,
           CAST(n.n_rows AS BIGINT) AS n_new,
           CAST(o.ndv AS BIGINT) AS ndv_old,
           CAST(n.ndv AS BIGINT) AS ndv_new,
           CAST(n.ndv AS DOUBLE) / CAST(o.ndv AS DOUBLE) AS ndv_ratio,
           CAST(n.n_nulls * o.n_rows - o.n_nulls * n.n_rows AS BIGINT)
             AS null_rate_delta_num,
           CAST(CASE WHEN o.min_s != n.min_s THEN 1 ELSE 0 END AS BIGINT)
             AS min_changed,
           CAST(CASE WHEN o.max_s != n.max_s THEN 1 ELSE 0 END AS BIGINT)
             AS max_changed
    FROM s_old o JOIN s_new n USING (col_name)
    """,
    "Snapshot-to-snapshot schema/statistics DRIFT report (the data-"
    "quality monitor between ingest versions): per column, row/NDV "
    "growth, an exact cross-multiplied null-rate-delta numerator "
    "(null_new*n_old - null_old*n_new — integer, no float rate "
    "subtraction), and min/max boundary-shift flags over stringified "
    "extremes. Two one-scan stats stacks (the table_stats shape) "
    "joined on column name — output is column-count-sized at any "
    "table size",
)
def q_schema_drift(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    cols = ["o_custkey", "o_orderstatus", "o_totalprice"]
    old = _stats_stack(orders.filter(F.col("o_orderkey") % 97 != 0), cols)
    new = _stats_stack(orders, cols)
    o, n = old.alias("o"), new.alias("n")
    return o.join(n, "col_name").select(
        "col_name",
        F.col("o.n_rows").cast("bigint").alias("n_old"),
        F.col("n.n_rows").cast("bigint").alias("n_new"),
        F.col("o.ndv").cast("bigint").alias("ndv_old"),
        F.col("n.ndv").cast("bigint").alias("ndv_new"),
        (F.col("n.ndv").cast("double") / F.col("o.ndv").cast("double")).alias(
            "ndv_ratio"
        ),
        (
            F.col("n.n_nulls") * F.col("o.n_rows")
            - F.col("o.n_nulls") * F.col("n.n_rows")
        )
        .cast("bigint")
        .alias("null_rate_delta_num"),
        (F.col("o.min_s") != F.col("n.min_s"))
        .cast("bigint")
        .alias("min_changed"),
        (F.col("o.max_s") != F.col("n.max_s"))
        .cast("bigint")
        .alias("max_changed"),
    )



# Three queries consume the SAME DSIR importance model over the same
# target predicate (dsir_importance_en, dsir_select_gumbel100,
# dsir_weight_ess): a corpus-sized tokenize + unigram/bigram explode +
# hashed-bucket aggregation (~1.9 s of each 1.9/2.1/2.0 s wall at
# sf0.1), reduced to a doc-count-sized log-weight table.
@_pinned("dsir_lw")
def _dsir_lw(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.dsir_importance(
        _t(spark, sf_dir, "documents"), F.col("lang") == "en"
    ).localCheckpoint(eager=True)


@register(
    "dsir_importance_en",
    """
    WITH tk AS (
      SELECT doc_id, lang = 'en' AS is_target,
             list_filter(string_split(
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
               x -> x != '') AS tk
      FROM documents
    ), g AS (
      SELECT doc_id, is_target, unnest(
               list_concat(tk, CASE WHEN len(tk) >= 2 THEN
                 list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])
               ELSE [] END)) AS gram
      FROM tk WHERE len(tk) >= 1
    ), db AS (
      SELECT doc_id, is_target,
             CAST(('0x' || substring(md5('dsir|' || gram), 1, 8)) AS BIGINT)
               % 512 AS b,
             COUNT(*) AS cnt
      FROM g GROUP BY 1, 2, 3
    ), tot AS (
      SELECT CAST(SUM(CASE WHEN is_target THEN cnt ELSE 0 END) AS DOUBLE)
               AS n_t,
             CAST(SUM(cnt) AS DOUBLE) AS n_r
      FROM db
    ), sc AS (
      SELECT db.doc_id, db.is_target, db.cnt,
        CAST(db.cnt AS DECIMAL(10,0)) * (
          CAST(round(ln((CAST(SUM(CASE WHEN db.is_target THEN db.cnt ELSE 0
                   END) OVER (PARTITION BY db.b) AS DOUBLE) + 1.0)
                 / (tot.n_t + 512.0)), 6) AS DECIMAL(18,6))
          - CAST(round(ln((CAST(SUM(db.cnt) OVER (PARTITION BY db.b)
                   AS DOUBLE) + 1.0)
                 / (tot.n_r + 512.0)), 6) AS DECIMAL(18,6))
        ) AS w
      FROM db CROSS JOIN tot
    )
    SELECT doc_id, MAX(is_target) AS is_target,
           CAST(SUM(cnt) AS BIGINT) AS n_grams,
           CAST(CAST(round(SUM(w), 4) AS VARCHAR) AS DOUBLE) AS log_weight
    FROM sc GROUP BY doc_id
    """,
    "DSIR data selection (Xie et al. 2023): per-document importance "
    "weight = log-likelihood ratio of a target-domain (lang='en') "
    "hashed unigram+bigram LM over the raw-corpus LM, add-one smoothed "
    "over 512 md5 buckets. The (doc, bucket, cnt) relation checkpoints "
    "after ONE corpus pass (a window-sum formulation double-scanned: "
    "Catalyst dedupes no common subplans); the 512-row model table "
    "broadcasts back and the totals derive from it for free. "
    "Per-bucket log terms round to 6dp decimals x integer counts "
    "before the exact decimal sum, so weights are engine-independent. "
    "3 keyed exchanges, all bounded by docs x width — never corpus "
    "token volume",
)
def q_dsir_importance(spark, sf_dir):
    return _dsir_lw(spark, sf_dir)


@register(
    "dsir_select_gumbel100",
    """
    WITH tk AS (
      SELECT doc_id, lang = 'en' AS is_target,
             list_filter(string_split(
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
               x -> x != '') AS tk
      FROM documents
    ), g AS (
      SELECT doc_id, is_target, unnest(
               list_concat(tk, CASE WHEN len(tk) >= 2 THEN
                 list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])
               ELSE [] END)) AS gram
      FROM tk WHERE len(tk) >= 1
    ), db AS (
      SELECT doc_id, is_target,
             CAST(('0x' || substring(md5('dsir|' || gram), 1, 8)) AS BIGINT)
               % 512 AS b,
             COUNT(*) AS cnt
      FROM g GROUP BY 1, 2, 3
    ), tot AS (
      SELECT CAST(SUM(CASE WHEN is_target THEN cnt ELSE 0 END) AS DOUBLE)
               AS n_t,
             CAST(SUM(cnt) AS DOUBLE) AS n_r
      FROM db
    ), sc AS (
      SELECT db.doc_id, db.is_target, db.cnt,
        CAST(db.cnt AS DECIMAL(10,0)) * (
          CAST(round(ln((CAST(SUM(CASE WHEN db.is_target THEN db.cnt ELSE 0
                   END) OVER (PARTITION BY db.b) AS DOUBLE) + 1.0)
                 / (tot.n_t + 512.0)), 6) AS DECIMAL(18,6))
          - CAST(round(ln((CAST(SUM(db.cnt) OVER (PARTITION BY db.b)
                   AS DOUBLE) + 1.0)
                 / (tot.n_r + 512.0)), 6) AS DECIMAL(18,6))
        ) AS w
      FROM db CROSS JOIN tot
    ), lw AS (
      SELECT doc_id, MAX(is_target) AS is_target,
             CAST(SUM(cnt) AS BIGINT) AS n_grams,
             CAST(CAST(round(SUM(w), 4) AS VARCHAR) AS DOUBLE) AS log_weight
      FROM sc GROUP BY doc_id
    ), pr AS (
      SELECT *, round(exp(log_weight), 6) AS weight,
             CAST(CAST(round(ln((CAST(('0x' || substring(
                   md5('dsel' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                 + 0.5) / 4294967296.0), 6) AS DECIMAL(18,6)) AS DOUBLE)
               / round(exp(log_weight), 6) AS _aes_priority
      FROM lw WHERE round(exp(log_weight), 6) > 0
    )
    SELECT doc_id, is_target, n_grams, log_weight, weight, _aes_priority
    FROM pr ORDER BY _aes_priority DESC, doc_id LIMIT 100
    """,
    "DSIR's SELECTION stage: Gumbel-top-k data selection over the "
    "importance weights (Xie et al. 2023 sample docs with probability "
    "prop. to exp(log_weight) without replacement). Gumbel-top-k is "
    "MATHEMATICALLY the Efraimidis-Spirakis exponential race — "
    "argmax_k(lw + Gumbel(u)) == argmax_k(ln(u)/exp(lw)) — so the draw "
    "composes the established ln-parity A-ES machinery "
    "(relational.weighted_sample: md5-dyadic uniform, full-tuple "
    "tie-break) with ONE exp() per doc on the 4dp-decimal-derived "
    "log_weight. Raw exp() is 1-ulp engine-divergent (measured: JVM "
    "Math.exp vs libm, 9/100 weights off in the last bit), so the "
    "weight QUANTIZES to 6dp via round() — the dsir/bigram round-"
    "parity contract — before the one correctly-rounded division; "
    "weight and priority doubles then ride in the output hash, pinning "
    "the whole draw cross-engine. Top-k via per-partition heaps "
    "(TakeOrderedAndProject), zero extra exchanges over the importance "
    "model",
)
def q_dsir_select(spark, sf_dir):
    lw = _dsir_lw(spark, sf_dir)
    weighted = lw.select(
        "doc_id",
        "is_target",
        "n_grams",
        "log_weight",
        F.round(F.exp(F.col("log_weight")), 6).alias("weight"),
    )
    return relational.weighted_sample(
        weighted, ["doc_id"], "weight", k=100, salt="dsel"
    )


def _ahash_oracle(grid: int = 8) -> str:
    """aHash oracle: regenerates every luma cell from the source text
    bytes via the BMP addressing (body = zero-padded utf-8 text, 48-byte
    rows, cell (y,x) -> offset ((y*H)//g)*48 + 3*((x*16)//g)), then the
    trunc-division mean and the bit string — bit-for-bit."""

    def byte(off: str) -> str:
        return (
            f"(CASE WHEN {off} < n THEN ('0x' || substr(h, 2 * ({off}) + 1, 2))"
            "::BIGINT ELSE 0 END)"
        )

    off = f"((k // {grid}) * hh // {grid}) * 48 + 3 * ((k % {grid}) * 16 // {grid})"
    return f"""
    WITH b AS (
      SELECT doc_id, hex(encode(text)) AS h,
             octet_length(encode(text)) AS n,
             greatest(CAST(ceil(octet_length(encode(text)) / 48.0) AS INT),
                      1) AS hh
      FROM documents
    ),
    l AS (
      SELECT doc_id, hh,
             list_transform(range(0, {grid * grid}), k ->
                 114 * {byte(off)}
               + 587 * {byte(f"({off}) + 1")}
               + 299 * {byte(f"({off}) + 2")}) AS lums
      FROM b
    ),
    m AS (
      SELECT doc_id, hh, lums, list_sum(lums) // {grid * grid} AS mean
      FROM l
    )
    SELECT doc_id AS media_id, 16 AS width, CAST(hh AS INT) AS height,
           array_to_string(list_transform(lums,
             v -> CASE WHEN v > mean THEN '1' ELSE '0' END), '') AS ahash,
           CAST(count(*) OVER (PARTITION BY array_to_string(list_transform(
             lums, v -> CASE WHEN v > mean THEN '1' ELSE '0' END), ''))
             AS BIGINT) AS n_same
    FROM m
    """


@register(
    "multimodal_ahash_dedup",
    _ahash_oracle(grid=8),
    "Average-hash (aHash) perceptual image dedup over the synthetic BMP "
    "corpus: nearest-neighbor 8x8 downsample, integer BT.601 luma "
    "(299r+587g+114b in 1e-3 units — exact, no float), "
    "brighter-than-trunc-mean bit per cell, grouped by the 64-char bit "
    "STRING (engine-portable; a 64-bit int would overflow signed at "
    "bit 63) with the collision count windowed on. Every bit is "
    "regenerated by the oracle from the source text bytes via the "
    "multimodal_features_verified BMP addressing — the perceptual-hash "
    "analogue of the pixel-exact roundtrip oracles. Map-only decode + "
    "one hash-keyed window",
)
def q_multimodal_ahash(spark, sf_dir):
    media = multimodal.media_bmp_from_documents(_t(spark, sf_dir, "documents"))
    ah = multimodal.image_ahash(media, grid=8)
    w = Window.partitionBy("ahash")
    return ah.select(
        "media_id",
        "width",
        "height",
        "ahash",
        F.count(F.lit(1)).over(w).cast("long").alias("n_same"),
    )


@register(
    "audio_features_verified",
    """
    WITH b AS (
      SELECT doc_id, hex(encode(text)) AS h,
             octet_length(encode(text)) AS n
      FROM documents
    ), s AS (
      SELECT doc_id, n,
             list_transform(range(0, n),
               i -> (('0x' || substr(h, 2*i + 1, 2))::INT - 128) * 256) AS sm
      FROM b
    )
    SELECT doc_id AS media_id,
           8000 AS sample_rate,
           1 AS channels,
           CAST(n AS BIGINT) AS n_samples,
           CAST(COALESCE(list_sum(sm), 0) AS BIGINT) AS s_sum,
           CAST(COALESCE(list_sum(list_transform(sm,
                x -> CAST(x AS BIGINT) * x)), 0) AS BIGINT) AS sq_sum,
           CAST(COALESCE(list_max(list_transform(sm, x -> abs(x))), 0)
                AS INT) AS peak_abs,
           CAST(COALESCE(list_sum(list_transform(range(1, n),
                i -> CASE WHEN sm[i] * sm[i + 1] < 0 THEN 1 ELSE 0 END)), 0)
                AS BIGINT) AS zero_crossings,
           CASE WHEN n > 0 THEN sqrt(
                CAST(COALESCE(list_sum(list_transform(sm,
                     x -> CAST(x AS BIGINT) * x)), 0) AS DOUBLE) / n)
           END AS rms
    FROM s
    """,
    "Hash-checked AUDIO feature extraction: each document becomes a real "
    "16-bit PCM RIFF/WAVE payload (one mono int16 sample (byte-128)*256 "
    "per utf-8 text byte), the pure-Python chunk-walking decoder reads "
    "the frames back, and numpy int64 reductions compute sample count / "
    "sum / sum-of-squares / peak / strict zero crossings — ALL "
    "integer-exact, order-independent quantities the SQL oracle "
    "recomputes bit-for-bit from the source text bytes (the "
    "multimodal_features_verified rule applied to the audio modality; "
    "verifies little-endian int16 framing, not just header geometry). "
    "RMS is one shared exact double expression sqrt(sq_sum/n) over the "
    "pinned integers. Payloads never leave executors; Arrow-batched "
    "mapInPandas is the legitimate imperative-decode path",
)
def q_audio_features_verified(spark, sf_dir):
    media = multimodal.media_wav_from_documents(_t(spark, sf_dir, "documents"))
    feats = multimodal.audio_features_verified(media)
    rms = F.when(
        F.col("n_samples") > 0,
        F.sqrt(F.col("sq_sum").cast("double") / F.col("n_samples")),
    )
    return feats.select(
        "media_id",
        "sample_rate",
        "channels",
        "n_samples",
        "s_sum",
        "sq_sum",
        "peak_abs",
        "zero_crossings",
        rms.alias("rms"),
    )


@register(
    "audio_resample_decimate",
    """
    WITH b AS (
      SELECT doc_id, hex(encode(text)) AS h,
             octet_length(encode(text)) AS n
      FROM documents
    )
    SELECT doc_id AS media_id,
           2000 AS sample_rate,
           1 AS channels,
           CAST((n + 3) // 4 AS BIGINT) AS n_frames,
           md5(COALESCE(array_to_string(list_transform(range(0, n, 4),
               i -> (('0x' || substr(h, 2*i + 1, 2))::INT - 128) * 256),
               ','), '')) AS samples_md5
    FROM b
    """,
    "Byte-exact audio resampling: integer decimation (keep every 4th "
    "frame, re-encode at rate/4) is the one resampling kernel with no "
    "filter arithmetic, so the full decode -> decimate -> encode -> "
    "re-DECODE round trip is hash-pinned cross-engine — samples_md5 "
    "hashes the comma-joined int values re-read from the newly encoded "
    "payload, and the oracle regenerates the identical decimated sample "
    "sequence from the source text bytes. Proves the encoder writes "
    "exactly what the decoder reads at a second sample rate",
)
def q_audio_resample_decimate(spark, sf_dir):
    media = multimodal.media_wav_from_documents(_t(spark, sf_dir, "documents"))
    rs = multimodal.resample_decimate(media, factor=4)
    return rs.select(
        "media_id",
        "sample_rate",
        "channels",
        "n_frames",
        F.md5(
            F.encode(
                F.array_join(
                    F.transform(F.col("samples"), lambda x: x.cast("string")),
                    ",",
                ),
                "utf-8",
            )
        ).alias("samples_md5"),
    )


@register(
    "audio_resample_fir",
    """
    WITH b AS (
      SELECT doc_id, hex(encode(text)) AS h,
             octet_length(encode(text)) AS n
      FROM documents
    )
    SELECT doc_id AS media_id,
           2000 AS sample_rate,
           1 AS channels,
           CAST((n + 3) // 4 AS BIGINT) AS n_frames,
           md5(COALESCE(array_to_string(list_transform(range(0, (n + 3) // 4),
               m -> (
                   (CASE WHEN 4*m < n THEN
                      (('0x' || substr(h, 8*m + 1, 2))::BIGINT - 128) * 256
                    ELSE 0 END)
                 + 2 * (CASE WHEN 4*m + 1 < n THEN
                      (('0x' || substr(h, 8*m + 3, 2))::BIGINT - 128) * 256
                    ELSE 0 END)
                 + (CASE WHEN 4*m + 2 < n THEN
                      (('0x' || substr(h, 8*m + 5, 2))::BIGINT - 128) * 256
                    ELSE 0 END)
               ) // 4),
               ','), '')) AS samples_md5
    FROM b
    """,
    "Anti-aliased FIR resample (the decimation kernel generalized with a "
    "real low-pass): output frame m is the triangular-tap window "
    "trunc((x[4m] + 2*x[4m+1] + x[4m+2]) / 4) with zero padding past the "
    "end — ALL-INTEGER arithmetic (int64 tap products, one "
    "truncate-toward-zero division matching DuckDB // and Spark div; the "
    "numpy side sign-splits because Python // floors), so every filtered "
    "sample is bit-reproducible from the source bytes. The operator "
    "re-encodes at rate/4 and re-DECODES its own payload (round-trip "
    "inside the operator, like the decimate twin): samples_md5 hashes "
    "the values re-read from the new WAV, the oracle regenerates the "
    "identical filtered sequence from the text bytes. Map-only: "
    "Arrow-batched mapInPandas, zero exchanges",
)
def q_audio_resample_fir(spark, sf_dir):
    media = multimodal.media_wav_from_documents(_t(spark, sf_dir, "documents"))
    rs = multimodal.resample_fir(media, factor=4, taps=(1, 2, 1))
    return rs.select(
        "media_id",
        "sample_rate",
        "channels",
        "n_frames",
        F.md5(
            F.encode(
                F.array_join(
                    F.transform(F.col("samples"), lambda x: x.cast("string")),
                    ",",
                ),
                "utf-8",
            )
        ).alias("samples_md5"),
    )


def _rational_resample_oracle(up: int, down: int, taps: tuple[int, ...]) -> str:
    """Polyphase oracle: regenerates every clamped output sample from
    the source text bytes — output m sums tap k iff position m*down+k
    in the zero-stuffed stream lands on a real sample."""
    den = sum(taps)
    n_out = f"(n * {up} + {down - 1}) // {down}"
    terms = []
    for k, t in enumerate(taps):
        pos = f"({down} * m + {k})"
        src = f"({pos} // {up})"
        terms.append(
            f"(CASE WHEN {pos} % {up} = 0 AND {src} < n THEN {t * up} * "
            f"((('0x' || substr(h, 2 * {src} + 1, 2))::BIGINT - 128) * 256) "
            "ELSE 0 END)"
        )
    acc = " + ".join(terms)
    return f"""
    WITH b AS (
      SELECT doc_id, hex(encode(text)) AS h,
             octet_length(encode(text)) AS n
      FROM documents
    )
    SELECT doc_id AS media_id,
           {8000 * up // down} AS sample_rate,
           1 AS channels,
           CAST({n_out} AS BIGINT) AS n_frames,
           md5(COALESCE(array_to_string(list_transform(range(0, {n_out}),
               m -> GREATEST(-32768, LEAST(32767, ({acc}) // {den}))),
               ','), '')) AS samples_md5
    FROM b
    """


@register(
    "audio_resample_rational",
    _rational_resample_oracle(up=3, down=2, taps=(1, 2, 1)),
    "Rational-rate polyphase resample (8 kHz -> 12 kHz at up=3/down=2): "
    "zero-stuff, triangular-tap FIR, decimate — the standard DSP "
    "structure with the stuffed stream never materialized (output m "
    "reads only real samples where (m*down+k) % up == 0). All-integer: "
    "tap products, x`up` gain compensation, ONE truncate-toward-zero "
    "division, deterministic int16 clamp — every sample regenerated by "
    "the oracle from source bytes, and the re-encoded payload "
    "re-DECODED inside the operator (the FIR/decimate round-trip "
    "discipline). Generalizes audio_resample_fir (up=1) to non-integer "
    "ratios. Map-only",
)
def q_audio_rational(spark, sf_dir):
    media = multimodal.media_wav_from_documents(_t(spark, sf_dir, "documents"))
    rs = multimodal.resample_rational(media, up=3, down=2, taps=(1, 2, 1))
    return rs.select(
        "media_id",
        "sample_rate",
        "channels",
        "n_frames",
        F.md5(
            F.encode(
                F.array_join(
                    F.transform(F.col("samples"), lambda x: x.cast("string")),
                    ",",
                ),
                "utf-8",
            )
        ).alias("samples_md5"),
    )


def _pca_oracle(iters: int, dim: int = 64, unit: int = 10**6) -> str:
    """Unrolled power-method oracle: HUGEINT scatter build (truncated
    integer means, deviation products), per-round S·v + L-inf
    normalization, the sign pin, and the integer Rayleigh quotient —
    every loading bit regenerated. MATERIALIZED per the
    reference-count lesson."""
    parts = [
        "WITH q AS MATERIALIZED (",
        "  SELECT vec_id, list_transform(embedding,",
        f"    x -> CAST(floor(CAST(x AS DOUBLE) * {unit}) AS BIGINT)) AS qv",
        "  FROM embeddings",
        "),",
        "comp AS MATERIALIZED (",
        f"  SELECT vec_id, i, qv[i + 1] AS qi FROM q, range(0, {dim}) r(i)",
        "),",
        "mu AS MATERIALIZED (",
        "  SELECT i, SUM(qi) // COUNT(*) AS mu, COUNT(*) AS n",
        "  FROM comp GROUP BY 1",
        "),",
        "dev AS MATERIALIZED (",
        "  SELECT comp.vec_id, comp.i, qi - mu AS d FROM comp JOIN mu USING (i)",
        "),",
        "s AS MATERIALIZED (",
        "  SELECT a.i, b.i AS j, SUM(CAST(a.d AS HUGEINT) * b.d) AS sv",
        "  FROM dev a JOIN dev b USING (vec_id) GROUP BY 1, 2",
        "),",
        f"v0 AS MATERIALIZED (SELECT i AS j, CAST({unit} AS HUGEINT) AS vu",
        f"  FROM range(0, {dim}) r(i)),",
    ]
    prev = "v0"
    for r in range(1, iters + 1):
        parts += [
            f"t{r} AS MATERIALIZED (",
            f"  SELECT s.i, SUM(sv * vu) AS t FROM s JOIN {prev}",
            f"    ON s.j = {prev}.j GROUP BY 1",
            "),",
            f"m{r} AS MATERIALIZED (SELECT MAX(abs(t)) AS m FROM t{r}),",
            f"v{r} AS MATERIALIZED (",
            "  SELECT i AS j, CASE WHEN m = 0 THEN CAST(0 AS HUGEINT)",
            f"    ELSE (t * {unit}) // m END AS vu",
            f"  FROM t{r} CROSS JOIN m{r}",
            "),",
        ]
        prev = f"v{r}"
    parts += [
        "sg AS MATERIALIZED (SELECT COALESCE((SELECT CASE WHEN vu < 0",
        f"  THEN -1 ELSE 1 END FROM {prev} WHERE vu != 0 ORDER BY j LIMIT 1),",
        "  1) AS sg),",
        f"vp AS MATERIALIZED (SELECT j, vu * sg AS vu FROM {prev} CROSS JOIN sg),",
        "tf AS MATERIALIZED (",
        "  SELECT s.i, SUM(sv * vu) AS t FROM s JOIN vp ON s.j = vp.j",
        "  GROUP BY 1",
        "),",
        "ray AS MATERIALIZED (",
        "  SELECT SUM(t * vu) // SUM(CAST(vu AS HUGEINT) * vu) AS lam",
        "  FROM tf JOIN vp ON tf.i = vp.j",
        "),",
        "tr AS MATERIALIZED (SELECT SUM(sv) AS tr FROM s WHERE i = j),",
        "n1 AS MATERIALIZED (SELECT MAX(n) AS n_vecs FROM mu)",
        "SELECT CAST(vp.j AS INT) AS pos,",
        "       CAST(vu AS BIGINT) AS loading_units,",
        f"       CAST(vu AS DOUBLE) / {unit} AS loading,",
        "       CAST(lam AS VARCHAR) AS eigenvalue_str,",
        "       CASE WHEN tr != 0 THEN CAST(CAST(lam AS VARCHAR) AS DOUBLE)",
        "         / CAST(CAST(tr AS VARCHAR) AS DOUBLE) END AS var_ratio,",
        "       CAST(n_vecs AS BIGINT) AS n_vecs",
        "FROM vp CROSS JOIN ray CROSS JOIN tr CROSS JOIN n1",
    ]
    return "\n".join(parts)


def _pca_multi_oracle(
    n_components: int, iters: int, dim: int = 64, unit: int = 10**6
) -> str:
    """Power-method-with-deflation oracle: the _pca_oracle chain
    repeated per component with the exact integer Hotelling deflation
    S -= (lam*v_i*v_j) // (v.v) between components."""
    parts = [
        "WITH q AS MATERIALIZED (",
        "  SELECT vec_id, list_transform(embedding,",
        f"    x -> CAST(floor(CAST(x AS DOUBLE) * {unit}) AS BIGINT)) AS qv",
        "  FROM embeddings",
        "),",
        "comp AS MATERIALIZED (",
        f"  SELECT vec_id, i, qv[i + 1] AS qi FROM q, range(0, {dim}) r(i)",
        "),",
        "mu AS MATERIALIZED (",
        "  SELECT i, SUM(qi) // COUNT(*) AS mu, COUNT(*) AS n",
        "  FROM comp GROUP BY 1",
        "),",
        "dev AS MATERIALIZED (",
        "  SELECT comp.vec_id, comp.i, qi - mu AS d FROM comp JOIN mu USING (i)",
        "),",
        "s0 AS MATERIALIZED (",
        "  SELECT a.i, b.i AS j, SUM(CAST(a.d AS HUGEINT) * b.d) AS sv",
        "  FROM dev a JOIN dev b USING (vec_id) GROUP BY 1, 2",
        "),",
        "tr0 AS MATERIALIZED (SELECT SUM(sv) AS tr FROM s0 WHERE i = j),",
        "n1 AS MATERIALIZED (SELECT MAX(n) AS n_vecs FROM mu),",
    ]
    for c in range(n_components):
        s = f"s{c}"
        parts += [
            f"v{c}_0 AS MATERIALIZED (SELECT i AS j,"
            f" CAST({unit} AS HUGEINT) AS vu FROM range(0, {dim}) r(i)),",
        ]
        prev = f"v{c}_0"
        for r in range(1, iters + 1):
            parts += [
                f"t{c}_{r} AS MATERIALIZED (",
                f"  SELECT {s}.i, SUM(sv * vu) AS t FROM {s} JOIN {prev}",
                f"    ON {s}.j = {prev}.j GROUP BY 1",
                "),",
                f"m{c}_{r} AS MATERIALIZED (SELECT MAX(abs(t)) AS m"
                f" FROM t{c}_{r}),",
                f"v{c}_{r} AS MATERIALIZED (",
                "  SELECT i AS j, CASE WHEN m = 0 THEN CAST(0 AS HUGEINT)",
                f"    ELSE (t * {unit}) // m END AS vu",
                f"  FROM t{c}_{r} CROSS JOIN m{c}_{r}",
                "),",
            ]
            prev = f"v{c}_{r}"
        parts += [
            f"sg{c} AS MATERIALIZED (SELECT COALESCE((SELECT CASE WHEN vu < 0",
            f"  THEN -1 ELSE 1 END FROM {prev} WHERE vu != 0"
            " ORDER BY j LIMIT 1), 1) AS sg),",
            f"vp{c} AS MATERIALIZED (SELECT j, vu * sg AS vu"
            f" FROM {prev} CROSS JOIN sg{c}),",
            f"tf{c} AS MATERIALIZED (",
            f"  SELECT {s}.i, SUM(sv * vu) AS t FROM {s} JOIN vp{c}",
            f"    ON {s}.j = vp{c}.j GROUP BY 1",
            "),",
            f"ray{c} AS MATERIALIZED (",
            "  SELECT SUM(t * vu) // SUM(CAST(vu AS HUGEINT) * vu) AS lam",
            f"  FROM tf{c} JOIN vp{c} ON tf{c}.i = vp{c}.j",
            "),",
        ]
        if c + 1 < n_components:
            parts += [
                f"vv{c} AS MATERIALIZED (SELECT SUM(CAST(vu AS HUGEINT) * vu)"
                f" AS vv FROM vp{c}),",
                f"s{c + 1} AS MATERIALIZED (",
                f"  SELECT {s}.i, {s}.j,",
                "         CASE WHEN vv = 0 THEN sv ELSE sv",
                "           - (lam * CAST(a.vu AS HUGEINT) * b.vu) // vv",
                "         END AS sv",
                f"  FROM {s} JOIN vp{c} a ON {s}.i = a.j",
                f"       JOIN vp{c} b ON {s}.j = b.j",
                f"       CROSS JOIN ray{c} CROSS JOIN vv{c}",
                "),",
            ]
    parts[-1] = parts[-1].rstrip(",")
    selects = []
    for c in range(n_components):
        selects.append(
            f"SELECT {c} AS component, CAST(vp{c}.j AS INT) AS pos,"
            f" CAST(vu AS BIGINT) AS loading_units,"
            f" CAST(vu AS DOUBLE) / {unit} AS loading,"
            f" CAST(lam AS VARCHAR) AS eigenvalue_str,"
            " CASE WHEN tr != 0 THEN CAST(CAST(lam AS VARCHAR) AS DOUBLE)"
            " / CAST(CAST(tr AS VARCHAR) AS DOUBLE) END AS var_ratio,"
            " CAST(n_vecs AS BIGINT) AS n_vecs"
            f" FROM vp{c} CROSS JOIN ray{c} CROSS JOIN tr0 CROSS JOIN n1"
        )
    parts.append("\nUNION ALL\n".join(selects))
    return "\n".join(parts)


# The PCA pair (pca_top_component_embeddings + pca_two_components_
# embeddings) both start from the SAME n*d^2 corpus pass (the centered
# scatter matrix) — the dominant cost of each (~3-4 s of their 4.0/5.5 s
# r12 walls).
@_pinned("pca_scatter")
def _pca_scatter(spark: SparkSession, sf_dir: str):
    return similarity.pca_corpus_scatter(_t(spark, sf_dir, "embeddings"))


@register(
    "pca_two_components_embeddings",
    _pca_multi_oracle(n_components=2, iters=6),
    "The leading TWO principal components by power iteration with "
    "exact integer Hotelling deflation (S -= (lam*v_i*v_j) div (v.v) "
    "between components) — pca_top_component generalized to a "
    "spectrum. Same quantize/trunc-div/sign-pin/Rayleigh contracts; "
    "var_ratio is each eigenvalue over the ORIGINAL trace (the "
    "explained-variance convention). The d^2 scatter is collected "
    "once; iteration and deflation run on the driver in exact "
    "integers; one corpus pass total",
)
def q_pca_two(spark, sf_dir):
    return similarity.pca_components(
        _t(spark, sf_dir, "embeddings"),
        n_components=2,
        iters=6,
        scatter=_pca_scatter(spark, sf_dir),
    )


@register(
    "pca_top_component_embeddings",
    _pca_oracle(iters=6),
    "Top principal component of the embedding corpus by the power "
    "method — PCA's first step as pure dataflow: ONE corpus pass "
    "builds the 64x64 centered scatter matrix (truncated-integer-mean "
    "centering keeps deviation products inside DECIMAL(38,0) at any "
    "row count; exact n-scaled centering would overflow), then 6 "
    "fixed-point iterations of S.v with L-inf normalization "
    "(t*unit) div max|t| in exact driver-side integers over the "
    "collected d^2 scatter — trunc division "
    "matching both engines on negatives. The sign pin (flip if the "
    "lowest-indexed nonzero loading is negative) makes the "
    "sign-ambiguous eigenvector a function of the data; the "
    "eigenvalue is the integer Rayleigh quotient (v.Sv) div (v.v) "
    "transported as VARCHAR; var_ratio = eigenvalue/trace. Completes "
    "the embedding-analysis surface: centroids, k-means, IVF/PQ/LSH "
    "search, SemDeDup, and now the spectral summary",
)
def q_pca_top(spark, sf_dir):
    return similarity.pca_top_component(
        _t(spark, sf_dir, "embeddings"),
        iters=6,
        scatter=_pca_scatter(spark, sf_dir),
    )


@register(
    "semantic_dedup_embeddings",
    _semantic_dedup_oracle(k=8, iters=3, threshold=0.35),
    "SemDeDup (Abbas et al. 2023): k-means the embedding corpus (the "
    "fixed-point Lloyd's loop, 3 rounds, k=8), then inside each cluster "
    "drop every member whose quantized-integer cosine to an "
    "earlier-ranked member reaches 0.35 — the paper's greedy "
    "upper-triangular screen with rank = (distance to own centroid "
    "DESC, id), keeping the farthest member of each duplicate group. "
    "Semantic near-dups (paraphrases, re-encodes) that token-level "
    "MinHash/SimHash miss. Pair cosines divide exact integer dots by "
    "sqrt of exact integer norms in ONE shared IEEE expression, so "
    "every similarity and kept flag matches DuckDB bit-for-bit. Pair "
    "work is sum(|cluster|^2), the SemDeDup design cost, controlled by "
    "k (paper: 50k clusters on LAION); no cross-cluster pairs exist",
)
def q_semantic_dedup(spark, sf_dir):
    return similarity.semantic_dedup(
        _t(spark, sf_dir, "embeddings"), k=8, iters=3, threshold=0.35
    )


@register(
    "privacy_k_anonymity_orders",
    """
    SELECT year(o_orderdate) AS o_year, month(o_orderdate) AS o_month,
           o_orderpriority, o_orderstatus,
           count(*) AS class_size,
           count(DISTINCT CAST(floor(o_totalprice / 250000) AS INT))
             AS n_sensitive_distinct,
           count(*) < 5 AS k_violation,
           count(DISTINCT CAST(floor(o_totalprice / 250000) AS INT)) < 2
             AS l_violation,
           (count(*) < 5
            OR count(DISTINCT CAST(floor(o_totalprice / 250000) AS INT)) < 2)
             AS violates
    FROM orders
    GROUP BY 1, 2, 3, 4
    """,
    "k-anonymity / l-diversity privacy audit (Sweeney 2002; "
    "Machanavajjhala 2007): equivalence classes over the "
    "quasi-identifiers (order year, month, priority, status) with "
    "class size (k=5 re-identification gate) and distinct sensitive "
    "price-band count (l=2 homogeneity gate). The relational "
    "complement of pseudonymize/redact: measures what the REMAINING "
    "columns disclose jointly. ONE hash aggregation on the class key "
    "(two-phase partial agg, no window); both SFs have live k- AND "
    "l-violations so neither flag is vacuous",
)
def q_privacy_k_anonymity(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select(
        F.year("o_orderdate").cast("long").alias("o_year"),
        F.month("o_orderdate").cast("long").alias("o_month"),
        "o_orderpriority",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") / 250000).cast("int").alias("_band"),
    )
    return relational.k_anonymity_audit(
        o,
        ["o_year", "o_month", "o_orderpriority", "o_orderstatus"],
        "_band",
        k=5,
        l_div=2,
    )


@register(
    "privacy_suppress_orders",
    """
    WITH aud AS (
      SELECT year(o_orderdate) AS o_year, month(o_orderdate) AS o_month,
             o_orderpriority, o_orderstatus
      FROM orders
      GROUP BY 1, 2, 3, 4
      HAVING count(*) >= 5
         AND count(DISTINCT CAST(floor(o_totalprice / 250000) AS INT)) >= 2
    )
    SELECT o.o_orderpriority,
           count(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
             AS sum_price
    FROM orders o
    JOIN aud ON year(o.o_orderdate) = aud.o_year
            AND month(o.o_orderdate) = aud.o_month
            AND o.o_orderpriority = aud.o_orderpriority
            AND o.o_orderstatus = aud.o_orderstatus
    GROUP BY 1
    """,
    "Suppression release behind the k-anonymity gate: rows whose "
    "equivalence class fails k=5 or l=2 are dropped via a broadcast "
    "semi join against the passing-class relation (bounded by the "
    "quasi-identifier domain, never row count), then an exact-decimal "
    "revenue summary proves the released relation deterministically. "
    "The oracle restates the gate as GROUP BY ... HAVING + join",
)
def q_privacy_suppress(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select(
        "o_totalprice",
        F.year("o_orderdate").cast("long").alias("o_year"),
        F.month("o_orderdate").cast("long").alias("o_month"),
        "o_orderpriority",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") / 250000).cast("int").alias("_band"),
    )
    released = relational.k_anonymity_suppress(
        o,
        ["o_year", "o_month", "o_orderpriority", "o_orderstatus"],
        "_band",
        k=5,
        l_div=2,
    )
    return released.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(F.col("o_totalprice"), 4).alias("sum_price"),
    )


@register(
    "dataset_fingerprints",
    """
    SELECT 'orders' AS dataset, count(*) AS n_rows,
           CAST(CAST(COALESCE(SUM(('0x' || substr(md5(
             CAST(o_orderkey AS VARCHAR) || '|' ||
             CAST(o_custkey AS VARCHAR) || '|' ||
             o_orderstatus || '|' || o_orderpriority || '|' ||
             CAST(epoch_us(o_orderdate) AS VARCHAR)), 1, 12))::BIGINT), 0)
             AS DECIMAL(38,0)) AS VARCHAR) AS content_hash
    FROM orders
    UNION ALL
    SELECT 'customer', count(*),
           CAST(CAST(COALESCE(SUM(('0x' || substr(md5(
             CAST(c_custkey AS VARCHAR) || '|' ||
             CAST(c_nationkey AS VARCHAR) || '|' ||
             c_mktsegment), 1, 12))::BIGINT), 0) AS DECIMAL(38,0))
             AS VARCHAR)
    FROM customer
    UNION ALL
    SELECT 'nation', count(*),
           CAST(CAST(COALESCE(SUM(('0x' || substr(md5(
             CAST(n_nationkey AS VARCHAR) || '|' ||
             CAST(n_regionkey AS VARCHAR) || '|' || n_name), 1, 12))::BIGINT),
             0) AS DECIMAL(38,0)) AS VARCHAR)
    FROM nation
    """,
    "Content-addressed dataset fingerprints: per table, an "
    "order/partitioning-independent content hash (exact DECIMAL(38,0) "
    "sum of each row's 48-bit md5 prefix over the canonical "
    "'|'-joined non-float columns; timestamps as epoch integers) plus "
    "the row count — the cheap full-content equality check for "
    "validating a 100 TB copy/migration: one scan per table, map-side "
    "partials, a 1-row reduce, NO data shuffle. Commutative addition "
    "makes the digest identical under any row order, which is exactly "
    "what a distributed rerun needs",
)
def q_dataset_fingerprints(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_orderpriority",
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("_ep"),
    )
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        relational.content_fingerprint(
            o,
            ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority", "_ep"],
            "orders",
        )
        .unionByName(
            relational.content_fingerprint(
                c, ["c_custkey", "c_nationkey", "c_mktsegment"], "customer"
            )
        )
        .unionByName(
            relational.content_fingerprint(
                n, ["n_nationkey", "n_regionkey", "n_name"], "nation"
            )
        )
    )


def _cluster_topics_oracle(
    k: int = 8, iters: int = 3, top_k: int = 5, unit: int = 10**6
) -> str:
    """Cluster topic labeling unrolled: the k-means CTEs, the final
    integer-argmin assignment, and the all-integer (tf-in-cluster DESC,
    cluster-frequency ASC, term) ranking over the exploded token join."""
    return f"""{_kmeans_ctes(k, iters, unit)},
    af AS MATERIALIZED (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk
        FROM (SELECT p.vec_id, c.cid,
                     SUM((p.qv - c.qc) * (p.qv - c.qc)) AS d2
              FROM pts p JOIN c{iters} c USING (pos)
              GROUP BY p.vec_id, c.cid))
      WHERE rk = 1
    ), toks AS (
      SELECT d.doc_id, unnest(list_filter(string_split(
               regexp_replace(lower(trim(d.text)), '\\s+', ' ', 'g'), ' '),
               x -> x != '')) AS w
      FROM documents d
    ), ct AS (
      SELECT a.cid, t.w, count(*) AS n_in_cluster
      FROM toks t JOIN af a ON a.vec_id = t.doc_id
      GROUP BY 1, 2
    ), cf AS (
      SELECT cid, w, n_in_cluster,
             count(*) OVER (PARTITION BY w) AS n_clusters_with_term
      FROM ct
    )
    SELECT cid, w AS term, n_in_cluster, n_clusters_with_term, rk
    FROM (SELECT *, row_number() OVER (PARTITION BY cid
            ORDER BY n_in_cluster DESC, n_clusters_with_term ASC, w) AS rk
          FROM cf)
    WHERE rk <= {top_k}
    """


@register(
    "cluster_topics_embeddings",
    _cluster_topics_oracle(k=8, iters=3, top_k=5),
    "Semantic-cluster topic labeling: k-means the embedding corpus "
    "(fixed-point Lloyd's + final integer-argmin assignment), join the "
    "assignments back to the documents, and label each cluster with "
    "its 5 most DISTINCTIVE terms — ranked by (count within cluster "
    "DESC, number of clusters containing the term ASC, term), the "
    "doc_top_terms tf-df rule lifted to clusters so globally common "
    "words lose to cluster-specific ones. The corpus-exploration step "
    "after clustering in a curation pipeline. One (cid, term) hash agg "
    "over the exploded token join, then two windows over the VOCAB x k "
    "reduced table; the assignment is one Arrow pass with the "
    "centroids in its closure; nothing quadratic",
)
def q_cluster_topics(spark, sf_dir):
    return similarity.cluster_topics(
        _t(spark, sf_dir, "embeddings"),
        _t(spark, sf_dir, "documents"),
        k=8,
        iters=3,
        top_k=5,
    )


@register(
    "gdpr_cascade_forget",
    """
    WITH delk AS (SELECT c_custkey AS k FROM customer
                  WHERE c_custkey % 53 = 0),
    delo AS (SELECT o_orderkey FROM orders
             WHERE o_custkey IN (SELECT k FROM delk))
    SELECT 'customer' AS tbl,
           (SELECT count(*) FROM customer) AS rows_before,
           (SELECT count(*) FROM customer
            WHERE c_custkey IN (SELECT k FROM delk)) AS rows_purged,
           (SELECT count(*) FROM customer) -
           (SELECT count(*) FROM customer
            WHERE c_custkey IN (SELECT k FROM delk)) AS rows_after
    UNION ALL
    SELECT 'orders',
           (SELECT count(*) FROM orders),
           (SELECT count(*) FROM orders
            WHERE o_custkey IN (SELECT k FROM delk)),
           (SELECT count(*) FROM orders) -
           (SELECT count(*) FROM orders
            WHERE o_custkey IN (SELECT k FROM delk))
    UNION ALL
    SELECT 'lineitem',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem
            WHERE l_orderkey IN (SELECT o_orderkey FROM delo)),
           (SELECT count(*) FROM lineitem) -
           (SELECT count(*) FROM lineitem
            WHERE l_orderkey IN (SELECT o_orderkey FROM delo))
    """,
    "Right-to-be-forgotten cascade (GDPR/CCPA deletion pipeline): a "
    "deletion-request key list (custkey % 53 = 0) purges customer, "
    "cascades to their orders through the FK chain, and on to those "
    "orders' line items. Per level ONE left join against the previous "
    "level's deduplicated keys marks doomed rows — the mark feeds the "
    "audit counts AND the kept/purged splits from a single pass, and "
    "the purged side's keys cascade down. Request lists are tiny (AQE "
    "broadcasts); intermediate key sets (a customer's order keys) can "
    "be arbitrarily large, so no forced broadcast. Returns the "
    "(table, before, purged, after) audit the DSAR process logs",
)
def q_gdpr_cascade(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    root = cust.filter(F.col("c_custkey") % 53 == 0).select("c_custkey")
    summary, _kept = relational.cascade_forget(
        root,
        "c_custkey",
        [
            ("customer", cust, "c_custkey", "c_custkey"),
            ("orders", orders, "o_custkey", "o_orderkey"),
            ("lineitem", li, "l_orderkey", None),
        ],
    )
    return summary


def _fs_oracle() -> str:
    """Fellegi-Sunter linkage oracle: the identical blocking join and
    6dp-decimal weight sum, weights inlined from the SAME fs_weights
    quantization the operator uses."""
    na_a, na_d = dedup.fs_weights(0.95, 0.01)
    sg_a, sg_d = dedup.fs_weights(0.90, 0.20)
    dg_a, dg_d = dedup.fs_weights(0.98, 0.10)
    return f"""
    WITH a AS (
      SELECT c_custkey AS a_id, c_name AS a_name, c_nationkey AS a_nation,
             c_mktsegment AS a_seg,
             CAST(floor(c_acctbal / 2000) AS INT) AS a_band,
             CAST(floor(c_acctbal) AS BIGINT) % 10 AS a_dig
      FROM customer
    ), b AS (
      SELECT c_custkey AS b_id,
             CASE WHEN c_custkey % 7 = 0 THEN reverse(c_name)
                  ELSE c_name END AS b_name,
             c_nationkey AS b_nation,
             CASE WHEN c_custkey % 5 = 0 THEN 'PERTURBED'
                  ELSE c_mktsegment END AS b_seg,
             CAST(floor(c_acctbal / 2000) AS INT) AS b_band,
             CAST(floor(c_acctbal) AS BIGINT) % 10 AS b_dig
      FROM customer
    ), scored AS (
      SELECT CASE WHEN a_name = b_name
                  THEN CAST('{na_a}' AS DECIMAL(18,6))
                  ELSE CAST('{na_d}' AS DECIMAL(18,6)) END
           + CASE WHEN a_seg = b_seg
                  THEN CAST('{sg_a}' AS DECIMAL(18,6))
                  ELSE CAST('{sg_d}' AS DECIMAL(18,6)) END
           + CASE WHEN a_dig = b_dig
                  THEN CAST('{dg_a}' AS DECIMAL(18,6))
                  ELSE CAST('{dg_d}' AS DECIMAL(18,6)) END AS score
      FROM a JOIN b ON a_nation = b_nation AND a_band = b_band
    )
    SELECT CASE WHEN score >= 6 THEN 'match'
                WHEN score <= 0 THEN 'non_match'
                ELSE 'possible' END AS classification,
           count(*) AS n_pairs,
           CAST(MIN(score) AS DOUBLE) AS min_score,
           CAST(MAX(score) AS DOUBLE) AS max_score,
           CAST(SUM(score) AS DOUBLE) AS sum_score
    FROM scored GROUP BY 1
    """


def _rbm_oracle() -> str:
    """Reciprocal best match over the FS-scored pair fixture: rank 1 on
    both sides under (score DESC, other-id ASC)."""
    na_a, na_d = dedup.fs_weights(0.95, 0.01)
    sg_a, sg_d = dedup.fs_weights(0.90, 0.20)
    dg_a, dg_d = dedup.fs_weights(0.98, 0.10)
    return f"""
    WITH a AS (
      SELECT c_custkey AS a_id, c_name AS a_name, c_nationkey AS a_nation,
             CAST(floor(c_acctbal / 2000) AS INT) AS a_band,
             c_mktsegment AS a_seg,
             CAST(floor(c_acctbal) AS BIGINT) % 10 AS a_dig
      FROM customer
    ), b AS (
      SELECT c_custkey AS b_id,
             CASE WHEN c_custkey % 7 = 0 THEN reverse(c_name)
                  ELSE c_name END AS b_name,
             c_nationkey AS b_nation,
             CASE WHEN c_custkey % 5 = 0 THEN 'PERTURBED'
                  ELSE c_mktsegment END AS b_seg,
             CAST(floor(c_acctbal / 2000) AS INT) AS b_band,
             CAST(floor(c_acctbal) AS BIGINT) % 10 AS b_dig
      FROM customer
    ), scored AS (
      SELECT a_id, b_id,
             CASE WHEN a_name = b_name
                  THEN CAST('{na_a}' AS DECIMAL(18,6))
                  ELSE CAST('{na_d}' AS DECIMAL(18,6)) END
           + CASE WHEN a_seg = b_seg
                  THEN CAST('{sg_a}' AS DECIMAL(18,6))
                  ELSE CAST('{sg_d}' AS DECIMAL(18,6)) END
           + CASE WHEN a_dig = b_dig
                  THEN CAST('{dg_a}' AS DECIMAL(18,6))
                  ELSE CAST('{dg_d}' AS DECIMAL(18,6)) END AS score
      FROM a JOIN b ON a_nation = b_nation AND a_band = b_band
    ), ranked AS (
      SELECT *,
             row_number() OVER (PARTITION BY a_id
                                ORDER BY score DESC, b_id) AS ra,
             row_number() OVER (PARTITION BY b_id
                                ORDER BY score DESC, a_id) AS rb
      FROM scored
    )
    SELECT a_id, b_id, CAST(score AS DOUBLE) AS score
    FROM ranked WHERE ra = 1 AND rb = 1
    """


@register(
    "linkage_reciprocal_best",
    _rbm_oracle(),
    "One-to-one entity ASSIGNMENT closing the linkage pipeline (block "
    "-> FS score -> EM -> fit audit -> resolve): keep a pair iff it is "
    "the best-scoring candidate for BOTH records — reciprocal best "
    "match, the auction-free bipartite approximation. Rank 1 per side "
    "under the total order (exact decimal score DESC, other-id ASC), "
    "so the assignment is a pure function of the scores; each record "
    "appears at most once. Two id-keyed rank windows over the blocked "
    "candidate pairs, then a projection",
)
def q_linkage_rbm(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    band = F.floor(F.col("c_acctbal") / 2000).cast("int")
    dig = F.floor(F.col("c_acctbal")).cast("bigint") % 10
    a = c.select(
        F.col("c_custkey").alias("a_id"),
        F.col("c_name").alias("a_name"),
        F.col("c_nationkey").alias("a_nation"),
        F.col("c_mktsegment").alias("a_seg"),
        band.alias("a_band"),
        dig.alias("a_dig"),
    )
    b = c.select(
        F.col("c_custkey").alias("b_id"),
        F.when(F.col("c_custkey") % 7 == 0, F.reverse(F.col("c_name")))
        .otherwise(F.col("c_name"))
        .alias("b_name"),
        F.col("c_nationkey").alias("b_nation"),
        F.when(F.col("c_custkey") % 5 == 0, F.lit("PERTURBED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("b_seg"),
        band.alias("b_band"),
        dig.alias("b_dig"),
    )
    linked = dedup.fellegi_sunter_link(
        a,
        b,
        (F.col("a_nation") == F.col("b_nation"))
        & (F.col("a_band") == F.col("b_band")),
        [
            ("name", F.col("a_name") == F.col("b_name"), 0.95, 0.01),
            ("segment", F.col("a_seg") == F.col("b_seg"), 0.90, 0.20),
            ("digit", F.col("a_dig") == F.col("b_dig"), 0.98, 0.10),
        ],
        lower=0.0,
        upper=6.0,
    )
    out = dedup.reciprocal_best_match(linked, "a_id", "b_id", "score")
    return out.select("a_id", "b_id", F.col("score").cast("double").alias("score"))


@register(
    "record_linkage_fs",
    _fs_oracle(),
    "Fellegi-Sunter probabilistic record linkage (JASA 1969): customers "
    "linked against a deterministically perturbed copy of themselves "
    "(every 7th name reversed, every 5th segment overwritten) — "
    "candidate pairs from the (nation, acctbal-band) blocking join are "
    "scored by exact 6dp-decimal log2(m/u) field weights (name, "
    "segment, balance-digit) and classified match / possible / "
    "non_match by the two decision thresholds. The statistical scoring "
    "layer over the fuzzy/survivorship entity-resolution family; "
    "blocking bounds pair volume by sum(block^2) like the k-anonymity "
    "classes. The summary pins counts AND the exact decimal score "
    "extremes/sum per class",
)
def q_record_linkage_fs(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    band = F.floor(F.col("c_acctbal") / 2000).cast("int")
    dig = F.floor(F.col("c_acctbal")).cast("bigint") % 10
    a = c.select(
        F.col("c_custkey").alias("a_id"),
        F.col("c_name").alias("a_name"),
        F.col("c_nationkey").alias("a_nation"),
        F.col("c_mktsegment").alias("a_seg"),
        band.alias("a_band"),
        dig.alias("a_dig"),
    )
    b = c.select(
        F.col("c_custkey").alias("b_id"),
        F.when(F.col("c_custkey") % 7 == 0, F.reverse(F.col("c_name")))
        .otherwise(F.col("c_name"))
        .alias("b_name"),
        F.col("c_nationkey").alias("b_nation"),
        F.when(F.col("c_custkey") % 5 == 0, F.lit("PERTURBED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("b_seg"),
        band.alias("b_band"),
        dig.alias("b_dig"),
    )
    linked = dedup.fellegi_sunter_link(
        a,
        b,
        (F.col("a_nation") == F.col("b_nation"))
        & (F.col("a_band") == F.col("b_band")),
        [
            ("name", F.col("a_name") == F.col("b_name"), 0.95, 0.01),
            ("segment", F.col("a_seg") == F.col("b_seg"), 0.90, 0.20),
            ("digit", F.col("a_dig") == F.col("b_dig"), 0.98, 0.10),
        ],
        lower=0.0,
        upper=6.0,
    )
    return linked.groupBy("classification").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.min("score").cast("double").alias("min_score"),
        F.max("score").cast("double").alias("max_score"),
        F.sum("score").cast("double").alias("sum_score"),
    )


def _fs_em_ctes(iters: int) -> tuple[list[str], str]:
    """Shared unrolled-CTE EM chain over the record_linkage_fs pair
    fixture: every E/M half-step in HUGEINT arithmetic (SUM(HUGEINT),
    ``//`` == Spark decimal div — the HITS parity), parameters clamped
    to [1, 1e6-1] like the engine. MATERIALIZED per the reference-count
    lesson. Returns (CTE lines, final params CTE name)."""
    P6, P12 = 10**6, 10**12
    fields = ["g0", "g1", "g2"]
    parts = [
        "WITH a AS MATERIALIZED (",
        "  SELECT c_custkey AS a_id, c_name AS a_name,",
        "         c_nationkey AS a_nation, c_mktsegment AS a_seg,",
        "         CAST(floor(c_acctbal / 2000) AS INT) AS a_band,",
        "         CAST(floor(c_acctbal) AS BIGINT) % 10 AS a_dig",
        "  FROM customer",
        "), b AS MATERIALIZED (",
        "  SELECT CASE WHEN c_custkey % 7 = 0 THEN reverse(c_name)",
        "              ELSE c_name END AS b_name,",
        "         c_nationkey AS b_nation,",
        "         CASE WHEN c_custkey % 5 = 0 THEN 'PERTURBED'",
        "              ELSE c_mktsegment END AS b_seg,",
        "         CAST(floor(c_acctbal / 2000) AS INT) AS b_band,",
        "         CAST(floor(c_acctbal) AS BIGINT) % 10 AS b_dig",
        "  FROM customer",
        "), pat AS MATERIALIZED (",
        "  SELECT a_name = b_name AS g0, a_seg = b_seg AS g1,",
        "         a_dig = b_dig AS g2, count(*) AS n",
        "  FROM a JOIN b ON a_nation = b_nation AND a_band = b_band",
        "  GROUP BY 1, 2, 3",
        "),",
        "p0 AS MATERIALIZED (SELECT CAST(100000 AS HUGEINT) AS p,",
        "  CAST(900000 AS HUGEINT) AS m0, CAST(900000 AS HUGEINT) AS m1,",
        "  CAST(900000 AS HUGEINT) AS m2,",
        "  CAST(100000 AS HUGEINT) AS u0, CAST(100000 AS HUGEINT) AS u1,",
        "  CAST(100000 AS HUGEINT) AS u2),",
    ]
    prev = "p0"
    for r in range(1, iters + 1):
        prod_m = " * ".join(
            f"(CASE WHEN {g} THEN m{i} ELSE {P6} - m{i} END)"
            for i, g in enumerate(fields)
        )
        prod_u = " * ".join(
            f"(CASE WHEN {g} THEN u{i} ELSE {P6} - u{i} END)"
            for i, g in enumerate(fields)
        )
        am = ", ".join(
            f"SUM(CASE WHEN {g} THEN n * w ELSE 0 END) AS am{i},"
            f" SUM(CASE WHEN {g} THEN n * ({P12} - w) ELSE 0 END) AS au{i}"
            for i, g in enumerate(fields)
        )
        mu = ", ".join(
            f"GREATEST(1, LEAST({P6 - 1}, (am{i} * {P6}) // tw)) AS m{i},"
            f" GREATEST(1, LEAST({P6 - 1}, (au{i} * {P6}) // tnw)) AS u{i}"
            for i in range(len(fields))
        )
        parts += [
            f"w{r} AS MATERIALIZED (",
            f"  SELECT pat.*, ((p * {prod_m}) * {P12})",
            f"    // (p * {prod_m} + ({P6} - p) * {prod_u}) AS w",
            f"  FROM pat CROSS JOIN {prev}",
            "),",
            f"s{r} AS MATERIALIZED (",
            f"  SELECT SUM(n * w) AS tw, SUM(n * ({P12} - w)) AS tnw,",
            f"         SUM(n) AS nn, {am}",
            f"  FROM w{r}",
            "),",
            f"p{r} AS MATERIALIZED (",
            f"  SELECT GREATEST(1, LEAST({P6 - 1},",
            f"           (tw * {P6}) // (nn * {P12}))) AS p, {mu}",
            f"  FROM s{r}",
            "),",
        ]
        prev = f"p{r}"
    return parts, prev


def _fs_em_oracle(iters: int) -> str:
    """Per-field parameter output over the shared EM chain."""
    P6 = 10**6
    parts, prev = _fs_em_ctes(iters)
    parts[-1] = parts[-1].rstrip(",")
    names = ["name", "segment", "digit"]
    selects = [
        f"SELECT '{nm}' AS field, CAST(m{i} AS BIGINT) AS m_units,"
        f" CAST(u{i} AS BIGINT) AS u_units, CAST(p AS BIGINT) AS p_units,"
        f" CAST(m{i} AS DOUBLE) / {P6} AS m,"
        f" CAST(u{i} AS DOUBLE) / {P6} AS u,"
        f" CAST(p AS DOUBLE) / {P6} AS p FROM {prev}"
        for i, nm in enumerate(names)
    ]
    parts.append("\nUNION ALL\n".join(selects))
    return "\n".join(parts)


def _fs_em_fit_oracle(iters: int) -> str:
    """Pattern-level model-fit diagnostics over the shared EM chain:
    observed vs expected (N x mixture likelihood, floor) and the match
    posterior — all HUGEINT."""
    P6, P12 = 10**6, 10**12
    fields = ["g0", "g1", "g2"]
    parts, prev = _fs_em_ctes(iters)
    prod_m = " * ".join(
        f"(CASE WHEN {g} THEN m{i} ELSE {P6} - m{i} END)"
        for i, g in enumerate(fields)
    )
    prod_u = " * ".join(
        f"(CASE WHEN {g} THEN u{i} ELSE {P6} - u{i} END)"
        for i, g in enumerate(fields)
    )
    lik_scale = P6 ** (len(fields) + 1)
    pattern = ", ".join(
        f"CASE WHEN {g} THEN '1' ELSE '0' END" for g in fields
    )
    parts += [
        "f AS MATERIALIZED (",
        "  SELECT pat.*, (SELECT SUM(n) FROM pat) AS nn,",
        f"         (p * {prod_m}) AS num_m,",
        f"         (({P6} - p) * {prod_u}) AS num_u",
        f"  FROM pat CROSS JOIN {prev}",
        ")",
        f"SELECT concat({pattern}) AS pattern,",
        "       CAST(n AS BIGINT) AS n_obs,",
        f"       CAST((nn * (num_m + num_u)) // CAST('{lik_scale}' AS HUGEINT)",
        "         AS BIGINT) AS expected_n,",
        f"       CAST(n - (nn * (num_m + num_u)) // CAST('{lik_scale}'"
        " AS HUGEINT) AS BIGINT) AS residual,",
        f"       CAST((num_m * {P12}) // (num_m + num_u) AS BIGINT)"
        " AS match_post_units,",
        f"       CAST(CAST((num_m * {P12}) // (num_m + num_u) AS BIGINT)"
        f" AS DOUBLE) / {P12} AS match_post",
        "FROM f",
    ]
    return "\n".join(parts)


@register(
    "record_linkage_em_fit",
    _fs_em_fit_oracle(iters=3),
    "Conditional-independence model-fit audit for the EM-estimated FS "
    "mixture: per agreement pattern, the observed pair count vs the "
    "fitted two-class expectation N x [p*prod(m|1-m) + "
    "(1-p)*prod(u|1-u)] (exact fixed-point floor) plus the match "
    "posterior — large residuals localize which fields violate the "
    "naive-Bayes independence assumption FS scoring rests on. Same "
    "one-corpus-pass / <=2^F-row-rounds contract as record_linkage_em; "
    "diagnostics are one broadcast join over the pattern table",
)
def q_record_linkage_em_fit(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    band = F.floor(F.col("c_acctbal") / 2000).cast("int")
    dig = F.floor(F.col("c_acctbal")).cast("bigint") % 10
    a = c.select(
        F.col("c_name").alias("a_name"),
        F.col("c_nationkey").alias("a_nation"),
        F.col("c_mktsegment").alias("a_seg"),
        band.alias("a_band"),
        dig.alias("a_dig"),
    )
    b = c.select(
        F.when(F.col("c_custkey") % 7 == 0, F.reverse(F.col("c_name")))
        .otherwise(F.col("c_name"))
        .alias("b_name"),
        F.col("c_nationkey").alias("b_nation"),
        F.when(F.col("c_custkey") % 5 == 0, F.lit("PERTURBED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("b_seg"),
        band.alias("b_band"),
        dig.alias("b_dig"),
    )
    pairs = a.join(
        b,
        (F.col("a_nation") == F.col("b_nation"))
        & (F.col("a_band") == F.col("b_band")),
    ).select(
        (F.col("a_name") == F.col("b_name")).alias("name"),
        (F.col("a_seg") == F.col("b_seg")).alias("segment"),
        (F.col("a_dig") == F.col("b_dig")).alias("digit"),
    )
    return dedup.fs_em_fit(pairs, ["name", "segment", "digit"], iters=3)


@register(
    "record_linkage_em",
    _fs_em_oracle(iters=3),
    "EM estimation of the Fellegi-Sunter m/u/p parameters from the "
    "UNLABELED record_linkage_fs candidate pairs (Winkler 1988) — "
    "where linkage weights come from when no training labels exist: "
    "match status is the latent variable, 3 E/M rounds over the "
    "<= 8-row agreement-PATTERN count table (the only corpus-sized "
    "work is ONE aggregation of the blocked pair relation). "
    "Fixed-point end to end: probabilities in 1e-6 units, pattern "
    "weights in 1e-12 units, E-step products exact DECIMAL(38,0) "
    "integers (6*(F+1)+12 <= 38 bounds F at 3 fields), every "
    "normalization ONE (num * SCALE) div den — Spark decimal div == "
    "DuckDB HUGEINT // (the HITS parity), parameters clamped to "
    "[1, 1e6-1] (standard EM absorbing-state guard). The estimated "
    "m ~0.9+/u low for name/digit and the match prevalence p recover "
    "the planted perturbation structure; every unit is driver-pinned",
)
def q_record_linkage_em(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    band = F.floor(F.col("c_acctbal") / 2000).cast("int")
    dig = F.floor(F.col("c_acctbal")).cast("bigint") % 10
    a = c.select(
        F.col("c_name").alias("a_name"),
        F.col("c_nationkey").alias("a_nation"),
        F.col("c_mktsegment").alias("a_seg"),
        band.alias("a_band"),
        dig.alias("a_dig"),
    )
    b = c.select(
        F.when(F.col("c_custkey") % 7 == 0, F.reverse(F.col("c_name")))
        .otherwise(F.col("c_name"))
        .alias("b_name"),
        F.col("c_nationkey").alias("b_nation"),
        F.when(F.col("c_custkey") % 5 == 0, F.lit("PERTURBED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("b_seg"),
        band.alias("b_band"),
        dig.alias("b_dig"),
    )
    pairs = a.join(
        b,
        (F.col("a_nation") == F.col("b_nation"))
        & (F.col("a_band") == F.col("b_band")),
    ).select(
        (F.col("a_name") == F.col("b_name")).alias("name"),
        (F.col("a_seg") == F.col("b_seg")).alias("segment"),
        (F.col("a_dig") == F.col("b_dig")).alias("digit"),
    )
    return dedup.fs_em(pairs, ["name", "segment", "digit"], iters=3)


@register(
    "linkage_sorted_neighborhood",
    """
    WITH u AS (
      SELECT c_custkey * 2 AS id, c_name AS key FROM customer
      UNION ALL
      SELECT c_custkey * 2 + 1,
             CASE WHEN c_custkey % 7 = 0 THEN reverse(c_name)
                  ELSE c_name END
      FROM customer
    ),
    r AS (
      SELECT id, key, row_number() OVER (ORDER BY key, id) AS rk
      FROM u WHERE key IS NOT NULL
    )
    SELECT a.id AS a_id, b.id AS b_id, a.key AS a_key, b.key AS b_key,
           CAST(b.rk - a.rk AS BIGINT) AS rank_gap
    FROM r a JOIN r b ON b.rk > a.rk AND b.rk - a.rk <= 4
    """,
    "Sorted-neighborhood blocking (Hernandez-Stolfo 1995) over the "
    "customer + perturbed-copy fixture: sort by name, emit every pair "
    "within 4 rank positions — the third blocking strategy next to "
    "equi-key blocks (record_linkage_fs) and symmetric-delete variants "
    "(fuzzy pairs), catching prefix-neighborhood near-misses with pair "
    "volume EXACTLY n*window (no block² term). Engine rank is the "
    "bucketed parallel prefix over a 2-char key prefix (never a "
    "single-partition window — the oracle states the naive global "
    "row_number); the neighborhood is a 2-probe BAND join on "
    "(rank-1) div window. Unperturbed duplicate names sort adjacent "
    "and surface at gap 1",
)
def q_sorted_neighborhood(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    a = c.select(
        (F.col("c_custkey") * 2).alias("id"), F.col("c_name").alias("key")
    )
    b = c.select(
        (F.col("c_custkey") * 2 + 1).alias("id"),
        F.when(F.col("c_custkey") % 7 == 0, F.reverse(F.col("c_name")))
        .otherwise(F.col("c_name"))
        .alias("key"),
    )
    return dedup.sorted_neighborhood_pairs(
        a.unionAll(b), "key", "id", window=4
    )


@register(
    "linkage_snm_multipass",
    """
    WITH u AS (
      SELECT c_custkey * 2 AS id, c_name AS key FROM customer
      UNION ALL
      SELECT c_custkey * 2 + 1,
             CASE WHEN c_custkey % 7 = 0 THEN reverse(c_name)
                  ELSE c_name END
      FROM customer
    ),
    r1 AS (
      SELECT id, key, row_number() OVER (ORDER BY key, id) AS rk
      FROM u WHERE key IS NOT NULL
    ),
    p1 AS (
      SELECT least(a.id, b.id) AS a_id, greatest(a.id, b.id) AS b_id,
             1 AS pass
      FROM r1 a JOIN r1 b ON b.rk > a.rk AND b.rk - a.rk <= 4
    ),
    u2 AS (SELECT id, reverse(key) AS key FROM u),
    r2 AS (
      SELECT id, key, row_number() OVER (ORDER BY key, id) AS rk
      FROM u2 WHERE key IS NOT NULL
    ),
    p2 AS (
      SELECT least(a.id, b.id) AS a_id, greatest(a.id, b.id) AS b_id,
             2 AS pass
      FROM r2 a JOIN r2 b ON b.rk > a.rk AND b.rk - a.rk <= 4
    )
    SELECT a_id, b_id,
           CAST(MIN(pass) AS INT) AS first_pass,
           CAST(count(*) AS BIGINT) AS n_passes
    FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2)
    GROUP BY 1, 2
    """,
    "MULTI-PASS sorted-neighborhood (the Hernandez-Stolfo production "
    "variant): a second pass sorts by the REVERSED key, blocking on "
    "shared SUFFIXES — complementary coverage for near-misses whose "
    "prefixes diverge at character 1 (leading-token swaps, prefixed "
    "IDs), which the forward sort scatters. Pairs canonicalize to "
    "(least, greatest) and group across passes (first_pass, n_passes "
    "audit columns). Each pass keeps the n x window volume law; the "
    "union is 2nw before the pair-key dedup",
)
def q_snm_multipass(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    a = c.select(
        (F.col("c_custkey") * 2).alias("id"), F.col("c_name").alias("key")
    )
    b = c.select(
        (F.col("c_custkey") * 2 + 1).alias("id"),
        F.when(F.col("c_custkey") % 7 == 0, F.reverse(F.col("c_name")))
        .otherwise(F.col("c_name"))
        .alias("key"),
    )
    u = a.unionAll(b)
    passes = []
    for i, keyed in enumerate(
        [u, u.select("id", F.reverse(F.col("key")).alias("key"))], start=1
    ):
        p = dedup.sorted_neighborhood_pairs(keyed, "key", "id", window=4)
        passes.append(
            p.select(
                F.least("a_id", "b_id").alias("a_id"),
                F.greatest("a_id", "b_id").alias("b_id"),
                F.lit(i).alias("pass"),
            )
        )
    return (
        passes[0]
        .unionAll(passes[1])
        .groupBy("a_id", "b_id")
        .agg(
            F.min("pass").cast("int").alias("first_pass"),
            F.count(F.lit(1)).cast("long").alias("n_passes"),
        )
    )


@register(
    "fingerprint_incremental_orders",
    """
    WITH v1 AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
             epoch_us(o_orderdate) AS ep
      FROM orders WHERE o_orderkey % 100 != 0
    ), final AS (
      SELECT * FROM v1 WHERE o_orderkey % 97 != 0
      UNION ALL
      SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
             epoch_us(o_orderdate)
      FROM orders WHERE o_orderkey % 100 = 0
    )
    SELECT 'orders' AS dataset, count(*) AS n_rows,
           CAST(CAST(COALESCE(SUM(('0x' || substr(md5(
             CAST(o_orderkey AS VARCHAR) || '|' ||
             CAST(o_custkey AS VARCHAR) || '|' ||
             o_orderstatus || '|' || o_orderpriority || '|' ||
             CAST(ep AS VARCHAR)), 1, 12))::BIGINT), 0)
             AS DECIMAL(38,0)) AS VARCHAR) AS content_hash
    FROM final
    """,
    "Incremental fingerprint maintenance: the content hash is an "
    "ADDITIVE monoid, so the persisted (dataset, n_rows, content_hash) "
    "state absorbs a CDC delta (signed 48-bit md5 digests, exact "
    "DECIMAL(38,0) subtraction for deletes) with work ∝ delta — a "
    "100 TB table's full-content copy check stays current per delivery "
    "with NO base rescan. Base = orders sans %100 keys; delta deletes "
    "the %97 keys and inserts the %100 ones (the incremental_agg "
    "fixture). The oracle recomputes the fingerprint DIRECTLY over the "
    "patched base, proving maintenance result-invisible bit-for-bit",
)
def q_fingerprint_incremental(spark, sf_dir):
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority", "_ep"]
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_orderpriority",
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("_ep"),
    )
    v1 = o.filter(F.col("o_orderkey") % 100 != 0)
    state = relational.content_fingerprint(v1, cols, "orders")
    deletes = v1.filter(F.col("o_orderkey") % 97 == 0).withColumn(
        "_sign", F.lit(-1)
    )
    inserts = o.filter(F.col("o_orderkey") % 100 == 0).withColumn(
        "_sign", F.lit(1)
    )
    delta = deletes.unionByName(inserts)
    return relational.apply_fingerprint_delta(state, delta, cols, "orders")


@register(
    "calibration_curve_doclen",
    """
    WITH r AS (
      SELECT doc_id, lang = 'en' AS y,
             row_number() OVER (ORDER BY n_chars, doc_id) AS rk,
             COUNT(*) OVER () AS nn
      FROM documents
    ), s AS (
      SELECT CASE WHEN nn = 1 THEN 0.0
                  ELSE CAST(rk - 1 AS DOUBLE) / (nn - 1) END AS score, y
      FROM r
    ), bs AS (
      SELECT LEAST(CAST(floor(score * 10) AS INT), 9) AS bin,
             CAST(round(score, 6) AS DECIMAL(18,6)) AS s6, y
      FROM s
    ), per AS (
      SELECT bin, count(*) AS n,
             CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
             CAST(SUM(s6) AS DOUBLE) / count(*) AS mean_score,
             CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
               AS pos_rate
      FROM bs GROUP BY bin
    )
    SELECT CAST(bin AS BIGINT) AS bin, n, n_pos, mean_score, pos_rate,
           abs(pos_rate - mean_score) AS abs_gap,
           CAST(SUM(CAST(round(abs(pos_rate - mean_score), 12)
                         AS DECIMAL(28,12)) * n) OVER () AS DOUBLE)
             / SUM(n) OVER () AS ece
    FROM per
    """,
    "Calibration curve (reliability diagram) + expected calibration "
    "error — the evaluation companion to roc_auc (ranking) and the "
    "classification report (thresholds): per decile bin of the "
    "rank-normalized document-length score, the mean predicted score "
    "(exact decimal sum of 6dp scores over the count — a double sum "
    "would be order-dependent) vs the observed lang='en' rate "
    "(integer/integer division), with |gap| and the bin-weighted ECE "
    "as shared double expressions over the pinned values. One bin "
    "hash agg; everything after runs on <= 10 rows. rank_score's "
    "(rank-1)/(N-1) values have a 10-coprime denominator at these "
    "fixture sizes, so the 6dp round has no decimal-half tie exposure",
)
def q_calibration_curve(spark, sf_dir):
    from .operators import evaluation

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", (F.col("lang") == "en").alias("y")
    )
    scored = evaluation.rank_score(d, "n_chars", "doc_id")
    return evaluation.calibration_curve(
        scored, F.col("score"), F.col("y"), n_bins=10
    )



@register(
    "wasserstein_drift_totalprice",
    """
    WITH dv AS (
      SELECT CAST(floor(o_totalprice) AS BIGINT) AS v,
             SUM(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
                 THEN 1 ELSE 0 END) AS c1,
             SUM(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
                 THEN 0 ELSE 1 END) AS c2
      FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1
    ),
    c AS (
      SELECT v, c1, c2,
             SUM(c1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cc1,
             SUM(c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cc2,
             LAG(v) OVER (ORDER BY v) AS pv,
             SUM(c1) OVER () AS n1, SUM(c2) OVER () AS n2
      FROM dv
    ),
    g AS (
      SELECT c1, c2,
             CASE WHEN pv IS NULL THEN CAST(0 AS HUGEINT)
                  ELSE abs(CAST(cc1 - c1 AS HUGEINT) * n2
                           - CAST(cc2 - c2 AS HUGEINT) * n1)
                       * CAST(v - pv AS HUGEINT) END AS w
      FROM c
    )
    SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2,
           CAST(SUM(w) AS VARCHAR) AS w1_num,
           CASE WHEN SUM(c1) > 0 AND SUM(c2) > 0 THEN
             CAST(CAST(SUM(w) AS VARCHAR) AS DOUBLE)
               / (CAST(SUM(c1) AS DOUBLE) * CAST(SUM(c2) AS DOUBLE)) END AS w1
    FROM g
    """,
    "Exact two-sample Wasserstein-1 (earth-mover) drift distance "
    "between pre- and post-1998 order values on the whole-dollar grid "
    "— the magnitude-aware companion completing the drift quartet (KS "
    "sup-gap, W1 area, PSI binned shares, Welch means): a "
    "small-but-everywhere shift that KS underweights shows up in full. "
    "For integer-grid step ECDFs the integral is the exact sum of "
    "|cc1*n2 - cc2*n1| * dv over consecutive pooled values — every "
    "factor a DECIMAL(38,0) integer (cc*n reaches n^2, the roc_auc "
    "overflow rule), w1_num crosses engines as VARCHAR, w1 is one "
    "correctly-rounded division. Engine plan: the ks_two_sample "
    "bucketed parallel prefix extended with a previous-value carry "
    "(lag within bucket; first row of a bucket takes the previous "
    "bucket's max from the broadcast offsets) — no single-partition "
    "corpus window; the oracle states the naive global form",
)
def q_wasserstein_drift(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice")).cast("bigint").alias("vgrid"),
        F.col("o_orderdate"),
    )
    return evaluation.wasserstein_two_sample(
        o, "vgrid", F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )


@register(
    "mannwhitney_urgent_totalprice",
    """
    WITH dv AS (
      SELECT o_totalprice AS v,
             SUM(CASE WHEN o_orderpriority = '1-URGENT'
                 THEN 1 ELSE 0 END) AS c1,
             SUM(CASE WHEN o_orderpriority = '1-URGENT'
                 THEN 0 ELSE 1 END) AS c2
      FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1
    ),
    c AS (
      SELECT c1, c2, c1 + c2 AS t,
             SUM(c1 + c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS ct
      FROM dv
    ),
    s AS (
      SELECT SUM(c1) AS n1, SUM(c2) AS n2,
             SUM(CAST(c1 AS HUGEINT)
                 * (2 * CAST(ct - t AS HUGEINT) + t + 1)) AS r1x2,
             SUM(CAST(t AS HUGEINT) * t * t - t) AS ties
      FROM c
    ),
    u AS (
      SELECT n1, n2, r1x2, ties,
             r1x2 - CAST(n1 AS HUGEINT) * (n1 + 1) AS u1x2,
             2 * CAST(n1 AS HUGEINT) * n2
               - (r1x2 - CAST(n1 AS HUGEINT) * (n1 + 1)) AS u2x2,
             CAST(n1 + n2 AS HUGEINT) * (n1 + n2) * (n1 + n2)
               - (n1 + n2) - ties AS vn
      FROM s
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           CAST(r1x2 AS VARCHAR) AS r1_x2,
           CAST(u1x2 AS VARCHAR) AS u1_x2,
           CAST(u2x2 AS VARCHAR) AS u2_x2,
           CAST(ties AS VARCHAR) AS tie_cubes,
           CASE WHEN n1 > 0 AND n2 > 0 AND vn > 0 THEN
             CAST(CAST(u1x2 - CAST(n1 AS HUGEINT) * n2 AS VARCHAR) AS DOUBLE)
               / (2.0 * sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                   * CAST(CAST(vn AS VARCHAR) AS DOUBLE)
                   / (12.0 * CAST(n1 + n2 AS DOUBLE)
                      * (CAST(n1 + n2 AS DOUBLE) - 1))))
           END AS z
    FROM u
    """,
    "Mann-Whitney / Wilcoxon rank-sum test (urgent vs non-urgent order "
    "values) — the NONPARAMETRIC location test completing the drift "
    "battery next to Welch (means), KS (sup-gap), W1 (area), PSI "
    "(binned): robust to outliers and monotone transforms. Midranks "
    "over the distinct-value table make DOUBLED rank sums exact "
    "integers: 2R1 = sum c1*(2*cumbefore + t + 1), tie term sum "
    "(t^3 - t), both DECIMAL(38,0) crossing engines as VARCHAR; the "
    "z-score (tie-corrected variance, no continuity correction) is a "
    "fixed correctly-rounded double sequence (+,*,/,sqrt — never "
    "transcendental, the welch_ttest precedent) over those pinned "
    "integers. Engine plan: one distinct-value agg, the ks bucketed "
    "parallel prefix for cumbefore, a 1-row final aggregate",
)
def q_mannwhitney_urgent(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return evaluation.mann_whitney_u(
        o, "o_totalprice", F.col("o_orderpriority") == "1-URGENT"
    )


@register(
    "isotonic_calibration_doclen",
    """
    WITH b AS (
      SELECT LEAST(49, CAST(floor(n_chars / 100.0) AS INT)) AS bin,
             count(*) AS n,
             SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS s
      FROM documents GROUP BY 1
    ),
    p AS (
      SELECT bin, n, s,
             SUM(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cn,
             SUM(s) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cs
      FROM b
    ),
    lo AS (SELECT bin AS j, cn - n AS nj, cs - s AS sj FROM p),
    hi AS (SELECT bin AS k, cn AS nk, cs AS sk FROM p),
    grid AS (
      SELECT j, k,
             CAST(sk - sj AS DOUBLE) / CAST(nk - nj AS DOUBLE) AS a
      FROM lo JOIN hi ON j <= k
    ),
    m AS (
      SELECT j, k AS i,
             MIN(a) OVER (PARTITION BY j ORDER BY k DESC
                          ROWS UNBOUNDED PRECEDING) AS mji
      FROM grid
    ),
    f AS (SELECT i, MAX(mji) AS fitted FROM m GROUP BY i)
    SELECT b.bin, CAST(b.n AS BIGINT) AS n, CAST(b.s AS BIGINT) AS s,
           CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE) AS mean_raw,
           f.fitted AS fitted
    FROM b JOIN f ON b.bin = f.i
    """,
    "Isotonic (pool-adjacent-violators) calibration of P(lang = en) "
    "against document-length bins — the nonparametric calibration "
    "companion to calibration_curve/ECE. PAV is textbook-sequential, "
    "but over bins it has an exact PARALLEL form — the max-min "
    "characterization fit(i) = max_{j<=i} min_{k>=i} avg(j..k) over "
    "prefix sums — so the engine runs one corpus scan to a <= 50-row "
    "bin table, then the B^2 pair grid + two windows, all "
    "bin-table-sized. Cross-engine exact: integer counts, each "
    "candidate average ONE correctly-rounded IEEE division, min/max "
    "over such doubles engine-identical, no transcendentals. fitted "
    "is non-decreasing by construction",
)
def q_isotonic_doclen(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return evaluation.isotonic_fit_bins(
        d,
        F.least(
            F.lit(49), F.floor(F.col("n_chars") / F.lit(100.0)).cast("int")
        ),
        (F.col("lang") == "en").cast("int"),
    )


@register(
    "dedup_substring_spans",
    """
    WITH toks AS (
      SELECT doc_id,
             string_split_regex(regexp_replace(lower(trim(text)),
               '\\s+', ' ', 'g'), '\\s+') AS tk
      FROM documents
    ),
    g AS (
      SELECT doc_id, i AS pos,
             md5(array_to_string(tk[i:i+7], ' ')) AS h
      FROM toks, UNNEST(range(1, len(tk) - 8 + 2)) AS t(i)
      WHERE len(tk) >= 8
    ),
    d AS (SELECT h FROM g GROUP BY h HAVING count(*) >= 2),
    dd AS (SELECT g.doc_id, g.pos FROM g JOIN d USING (h)),
    w AS (
      SELECT doc_id, pos,
             CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                    IS NULL
                  OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                    + 8
             THEN 1 ELSE 0 END AS brk
      FROM dd
    ),
    isl AS (
      SELECT doc_id, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS island
      FROM w
    )
    SELECT doc_id,
           CAST(MIN(pos) AS BIGINT) AS span_start,
           CAST(MAX(pos) + 7 AS BIGINT) AS span_end,
           CAST(MAX(pos) + 8 - MIN(pos) AS BIGINT) AS span_len,
           count(*) AS n_dup_grams
    FROM isl GROUP BY doc_id, island
    """,
    "Cross-document duplicated-substring span extraction (Lee et al. "
    "2022 exact substring dedup): per document, the maximal token "
    "spans covered by word 8-grams occurring >= 2 times corpus-wide — "
    "what substring-level dedup CUTS, catching boilerplate embedded "
    "in otherwise-unique documents that whole-doc MinHash misses. "
    "Engine: posexplode the 8-gram array (zip_with cascade, HOF rule), "
    "md5 per gram, corpus-wide count (map-side combined), keep "
    "duplicated gram positions only (shuffle thereafter proportional "
    "to DUPLICATED content, not corpus size), islands-and-gaps merge "
    "per document window. Positions 1-based token indices",
)
def q_substring_spans(spark, sf_dir):
    return _substr_spans(spark, sf_dir)


# dedup_substring_spans (the span REPORT) and dedup_cut_spans (the
# APPLY step) both run the identical corpus 8-gram hash + corpus-wide
# duplicate count + islands merge (~2.5 s of each ~2.9 s wall at
# sf0.1), reduced to a duplicated-content-sized span table.
@_pinned("substr_spans")
def _substr_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.duplicated_substring_spans(
        _t(spark, sf_dir, "documents"), gram=8
    ).localCheckpoint(eager=True)



def _cusum_adaptive_oracle() -> str:
    """EWMA-referenced CUSUM oracle: the same closed-form integer-weight
    EWMA (w_i = r^i * den^(L-i), // == Spark DIV on non-negative counts)
    and the same closed-form two-sided chart; decimals cross as VARCHAR
    (dataset_fingerprints rule); alarm cross-multiplied to exact
    integers (n*S >= mult*T*unit)."""
    L, a_num, a_den, unit, mult = 8, 1, 4, 10**6, 4
    r = a_den - a_num
    weights = [r**i * a_den ** (L - i) for i in range(L + 1)]
    num_terms = " + ".join(
        f"COALESCE(lag(q, {i}) OVER w, 0) * {wt}"
        for i, wt in enumerate(weights)
    )
    den_terms = " + ".join(
        f"CASE WHEN lag(q, {i}) OVER w IS NOT NULL THEN {wt} ELSE 0 END"
        for i, wt in enumerate(weights)
    )
    return f"""
    WITH hc AS (
      SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS cnt
      FROM events GROUP BY 1, 2
    ),
    qq AS (
      SELECT event_type, hr, cnt, cnt * {unit} AS q,
             count(*) OVER (PARTITION BY event_type) AS n_hours,
             sum(cnt) OVER (PARTITION BY event_type) AS total_cnt
      FROM hc
    ),
    e AS (
      SELECT *, ({num_terms}) // ({den_terms}) AS ew
      FROM qq WINDOW w AS (PARTITION BY event_type ORDER BY hr)
    ),
    pr AS (
      SELECT *, lag(ew) OVER w AS pred
      FROM e WINDOW w AS (PARTITION BY event_type ORDER BY hr)
    ),
    p AS (
      SELECT *,
             sum(CASE WHEN pred IS NULL
                      THEN CAST(0 AS DECIMAL(38,0))
                      ELSE CAST(q - pred AS DECIMAL(38,0)) END)
               OVER (PARTITION BY event_type ORDER BY hr
                     ROWS UNBOUNDED PRECEDING) AS pfx
      FROM pr
    ),
    m AS (
      SELECT *,
             least(CAST(0 AS DECIMAL(38,0)),
                   min(pfx) OVER wr) AS fl,
             greatest(CAST(0 AS DECIMAL(38,0)),
                   max(pfx) OVER wr) AS ce
      FROM p WINDOW wr AS (PARTITION BY event_type ORDER BY hr
                           ROWS UNBOUNDED PRECEDING)
    )
    SELECT event_type, hr, cnt,
           CAST(CAST(pred AS VARCHAR) AS DOUBLE) / {unit}.0 AS ewma_pred,
           CAST(CAST(pfx - fl AS DECIMAL(38,0)) AS VARCHAR) AS cusum_units,
           CAST(CAST(pfx - fl AS VARCHAR) AS DOUBLE)
             * CAST(n_hours AS DOUBLE)
             / (CAST(total_cnt AS DOUBLE) * {unit}.0) AS cusum_means,
           CAST(CASE WHEN CAST(n_hours AS DECIMAL(38,0)) * (pfx - fl) >=
                  CAST({mult} AS DECIMAL(38,0)) * total_cnt * {unit}
                THEN 1 ELSE 0 END AS BIGINT) AS is_alarm,
           CAST(CAST(ce - pfx AS DECIMAL(38,0)) AS VARCHAR)
             AS cusum_down_units,
           CAST(CASE WHEN CAST(n_hours AS DECIMAL(38,0)) * (ce - pfx) >=
                  CAST({mult} AS DECIMAL(38,0)) * total_cnt * {unit}
                THEN 1 ELSE 0 END AS BIGINT) AS is_alarm_down
    FROM m
    """


@register(
    "cusum_adaptive_events",
    _cusum_adaptive_oracle(),
    "Two-sided CUSUM with a LEARNED (EWMA-fed) reference per event "
    "type — the self-starting control chart: each hour is tested "
    "against the one-step-behind integer-weight EWMA prediction of "
    "its own level, so slow trends are absorbed and only breaks FROM "
    "the local baseline alarm (plain cusum_changepoint_events flags "
    "any drift from the global mean). The closed form survives a "
    "time-varying reference — S_t = P_t - min(0, min P_i) holds for "
    "ANY innovation sequence — so the adaptive chart is still window "
    "SUM+MIN+MAX sharing ONE (group, hr) sort with the L+1 EWMA lags "
    "and the prediction lag: a single exchange after the hourly agg. "
    "Exact end to end: 1e6 fixed-point EWMA units, one integer DIV "
    "(== DuckDB // on non-negative counts), DECIMAL(38,0) prefix "
    "arithmetic, alarms cross-multiplied to n*S >= mult*T*unit, "
    "statistic columns VARCHAR-transported",
)
def q_cusum_adaptive(spark, sf_dir):
    # VARCHAR-transport the DECIMAL(38,0) statistic columns on the Spark
    # side too (the dataset_fingerprints / cusum_changepoint rule): the
    # r08 driver hash mismatch came from raw Decimal objects crossing
    # against the oracle's VARCHAR — registry.py:8647 is the passing
    # precedent for the identical chart.
    out = timeseries.cusum_adaptive_detect(_t(spark, sf_dir, "events"))
    return out.withColumn(
        "cusum_units", F.col("cusum_units").cast("string")
    ).withColumn(
        "cusum_down_units", F.col("cusum_down_units").cast("string")
    )



@register(
    "decontaminate_span_report",
    """
    WITH toks AS (
      SELECT doc_id,
             string_split_regex(regexp_replace(lower(trim(text)),
               '\\s+', ' ', 'g'), '\\s+') AS tk
      FROM documents
    ),
    g AS (
      SELECT doc_id, i AS pos,
             md5(array_to_string(tk[i:i+3], ' ')) AS h
      FROM toks, UNNEST(range(1, len(tk) - 4 + 2)) AS t(i)
      WHERE len(tk) >= 4
    ),
    b AS (SELECT DISTINCT h FROM g WHERE doc_id % 97 = 0),
    dd AS (
      SELECT g.doc_id, g.pos FROM g JOIN b USING (h)
      WHERE g.doc_id % 97 != 0
    ),
    w AS (
      SELECT doc_id, pos,
             CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                    IS NULL
                  OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                    + 4
             THEN 1 ELSE 0 END AS brk
      FROM dd
    ),
    isl AS (
      SELECT doc_id, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS island
      FROM w
    )
    SELECT doc_id,
           CAST(MIN(pos) AS BIGINT) AS span_start,
           CAST(MAX(pos) + 3 AS BIGINT) AS span_end,
           CAST(MAX(pos) + 4 - MIN(pos) AS BIGINT) AS span_len,
           count(*) AS n_bench_grams
    FROM isl GROUP BY doc_id, island
    """,
    "Span-LEVEL benchmark decontamination: the exact maximal token "
    "spans of each corpus document covered by word 4-grams from the "
    "deterministic benchmark subset (doc_id % 97 == 0) — the surgical "
    "upgrade of the whole-document GPT-3 screen (decontaminate_ngrams "
    "flags documents; this reports WHAT to cut so the rest survives "
    "curation). The Lee-et-al substring machinery pointed at an "
    "external reference: corpus side reduces to (id, pos, md5), the "
    "benchmark digest set broadcasts, post-join shuffle proportional "
    "to CONTAMINATED positions only, islands-and-gaps merge per "
    "document window",
)
def q_decontaminate_spans(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    bench = d.filter(F.col("doc_id") % 97 == 0)
    return dedup.decontaminate_span_report(corpus, bench, gram=4)



@register(
    "audio_dft_energy",
    """
    WITH b AS (
      SELECT doc_id, hex(encode(text)) AS h,
             octet_length(encode(text)) AS n
      FROM documents
    ), s AS (
      SELECT doc_id, n, list_transform(range(0, n),
               i -> (('0x' || substr(h, 2*i + 1, 2))::INT - 128) * 256) AS sm
      FROM b WHERE n > 0
    ), x AS (
      SELECT doc_id, i // 64 AS win, i % 64 AS m,
             CAST(sm[i + 1] AS BIGINT) AS v
      FROM s, UNNEST(range(0, n)) AS t(i)
    ), e AS (
      SELECT doc_id, win, count(*) AS n_in_window,
             SUM(v * ([1000000, 995185, 980785, 956940, 923880, 881921, 831470, 773010, 707107, 634393, 555570, 471397, 382683, 290285, 195090, 98017, 0, -98017, -195090, -290285, -382683, -471397, -555570, -634393, -707107, -773010, -831470, -881921, -923880, -956940, -980785, -995185, -1000000, -995185, -980785, -956940, -923880, -881921, -831470, -773010, -707107, -634393, -555570, -471397, -382683, -290285, -195090, -98017, 0, 98017, 195090, 290285, 382683, 471397, 555570, 634393, 707107, 773010, 831470, 881921, 923880, 956940, 980785, 995185])[(m * 1) % 64 + 1]) AS re1,
             SUM(v * ([0, 98017, 195090, 290285, 382683, 471397, 555570, 634393, 707107, 773010, 831470, 881921, 923880, 956940, 980785, 995185, 1000000, 995185, 980785, 956940, 923880, 881921, 831470, 773010, 707107, 634393, 555570, 471397, 382683, 290285, 195090, 98017, 0, -98017, -195090, -290285, -382683, -471397, -555570, -634393, -707107, -773010, -831470, -881921, -923880, -956940, -980785, -995185, -1000000, -995185, -980785, -956940, -923880, -881921, -831470, -773010, -707107, -634393, -555570, -471397, -382683, -290285, -195090, -98017])[(m * 1) % 64 + 1]) AS im1,
             SUM(v * ([1000000, 995185, 980785, 956940, 923880, 881921, 831470, 773010, 707107, 634393, 555570, 471397, 382683, 290285, 195090, 98017, 0, -98017, -195090, -290285, -382683, -471397, -555570, -634393, -707107, -773010, -831470, -881921, -923880, -956940, -980785, -995185, -1000000, -995185, -980785, -956940, -923880, -881921, -831470, -773010, -707107, -634393, -555570, -471397, -382683, -290285, -195090, -98017, 0, 98017, 195090, 290285, 382683, 471397, 555570, 634393, 707107, 773010, 831470, 881921, 923880, 956940, 980785, 995185])[(m * 4) % 64 + 1]) AS re4,
             SUM(v * ([0, 98017, 195090, 290285, 382683, 471397, 555570, 634393, 707107, 773010, 831470, 881921, 923880, 956940, 980785, 995185, 1000000, 995185, 980785, 956940, 923880, 881921, 831470, 773010, 707107, 634393, 555570, 471397, 382683, 290285, 195090, 98017, 0, -98017, -195090, -290285, -382683, -471397, -555570, -634393, -707107, -773010, -831470, -881921, -923880, -956940, -980785, -995185, -1000000, -995185, -980785, -956940, -923880, -881921, -831470, -773010, -707107, -634393, -555570, -471397, -382683, -290285, -195090, -98017])[(m * 4) % 64 + 1]) AS im4,
             SUM(v * ([1000000, 995185, 980785, 956940, 923880, 881921, 831470, 773010, 707107, 634393, 555570, 471397, 382683, 290285, 195090, 98017, 0, -98017, -195090, -290285, -382683, -471397, -555570, -634393, -707107, -773010, -831470, -881921, -923880, -956940, -980785, -995185, -1000000, -995185, -980785, -956940, -923880, -881921, -831470, -773010, -707107, -634393, -555570, -471397, -382683, -290285, -195090, -98017, 0, 98017, 195090, 290285, 382683, 471397, 555570, 634393, 707107, 773010, 831470, 881921, 923880, 956940, 980785, 995185])[(m * 8) % 64 + 1]) AS re8,
             SUM(v * ([0, 98017, 195090, 290285, 382683, 471397, 555570, 634393, 707107, 773010, 831470, 881921, 923880, 956940, 980785, 995185, 1000000, 995185, 980785, 956940, 923880, 881921, 831470, 773010, 707107, 634393, 555570, 471397, 382683, 290285, 195090, 98017, 0, -98017, -195090, -290285, -382683, -471397, -555570, -634393, -707107, -773010, -831470, -881921, -923880, -956940, -980785, -995185, -1000000, -995185, -980785, -956940, -923880, -881921, -831470, -773010, -707107, -634393, -555570, -471397, -382683, -290285, -195090, -98017])[(m * 8) % 64 + 1]) AS im8,
             SUM(v * ([1000000, 995185, 980785, 956940, 923880, 881921, 831470, 773010, 707107, 634393, 555570, 471397, 382683, 290285, 195090, 98017, 0, -98017, -195090, -290285, -382683, -471397, -555570, -634393, -707107, -773010, -831470, -881921, -923880, -956940, -980785, -995185, -1000000, -995185, -980785, -956940, -923880, -881921, -831470, -773010, -707107, -634393, -555570, -471397, -382683, -290285, -195090, -98017, 0, 98017, 195090, 290285, 382683, 471397, 555570, 634393, 707107, 773010, 831470, 881921, 923880, 956940, 980785, 995185])[(m * 16) % 64 + 1]) AS re16,
             SUM(v * ([0, 98017, 195090, 290285, 382683, 471397, 555570, 634393, 707107, 773010, 831470, 881921, 923880, 956940, 980785, 995185, 1000000, 995185, 980785, 956940, 923880, 881921, 831470, 773010, 707107, 634393, 555570, 471397, 382683, 290285, 195090, 98017, 0, -98017, -195090, -290285, -382683, -471397, -555570, -634393, -707107, -773010, -831470, -881921, -923880, -956940, -980785, -995185, -1000000, -995185, -980785, -956940, -923880, -881921, -831470, -773010, -707107, -634393, -555570, -471397, -382683, -290285, -195090, -98017])[(m * 16) % 64 + 1]) AS im16
      FROM x GROUP BY 1, 2
    )
    SELECT doc_id AS media_id, CAST(win AS BIGINT) AS win,
           CAST(n_in_window AS BIGINT) AS n_in_window,
           CAST(CAST(re1 AS HUGEINT) * re1 + CAST(im1 AS HUGEINT) * im1 AS VARCHAR) AS e1_u2,
           CAST(CAST(CAST(re1 AS HUGEINT) * re1 + CAST(im1 AS HUGEINT) * im1 AS VARCHAR) AS DOUBLE) / 1e12 AS e1,
           CAST(CAST(re4 AS HUGEINT) * re4 + CAST(im4 AS HUGEINT) * im4 AS VARCHAR) AS e4_u2,
           CAST(CAST(CAST(re4 AS HUGEINT) * re4 + CAST(im4 AS HUGEINT) * im4 AS VARCHAR) AS DOUBLE) / 1e12 AS e4,
           CAST(CAST(re8 AS HUGEINT) * re8 + CAST(im8 AS HUGEINT) * im8 AS VARCHAR) AS e8_u2,
           CAST(CAST(CAST(re8 AS HUGEINT) * re8 + CAST(im8 AS HUGEINT) * im8 AS VARCHAR) AS DOUBLE) / 1e12 AS e8,
           CAST(CAST(re16 AS HUGEINT) * re16 + CAST(im16 AS HUGEINT) * im16 AS VARCHAR) AS e16_u2,
           CAST(CAST(CAST(re16 AS HUGEINT) * re16 + CAST(im16 AS HUGEINT) * im16 AS VARCHAR) AS DOUBLE) / 1e12 AS e16
    FROM e
    """,
    "Spectral band energies per 64-sample window at DFT bins "
    "(1, 4, 8, 16) over the synthetic WAV corpus — the frequency-"
    "domain audio screen (tone detection, bandwidth checks) WITHOUT an "
    "FFT library: |X_f|^2 = (sum s*cos_u)^2 + (sum s*sin_u)^2 with the "
    "cos/sin tables quantized ONCE in Python to 1e-6 integer units "
    "(transcendentals never cross engines raw — LESSONS 2) and "
    "embedded as the SAME literals in both engines, so every product "
    "and sum is exact integer arithmetic (terms <= 3.3e10, squares "
    "summed in DECIMAL(38,0)/HUGEINT). Engine: one Arrow decode pass, "
    "posexplode, ONE map-side-combined (media, window) aggregation "
    "carrying 8 conditional sums — shuffle rows = windows, never "
    "samples; energies cross as VARCHAR (dataset_fingerprints rule)",
)
def q_audio_dft(spark, sf_dir):
    media = multimodal.media_wav_from_documents(_t(spark, sf_dir, "documents"))
    return multimodal.audio_dft_energy(media)



@register(
    "xml_source_supplier_agg",
    """
    SELECT CAST(s_nationkey AS BIGINT) AS s_nationkey,
           count(*) AS n_suppliers, min(s_name) AS first_name
    FROM supplier GROUP BY s_nationkey
    """,
    "XML reader in the oracle loop (Spark 4 built-in spark-xml, "
    "rowTag-based): write a canonical XML copy of supplier, read it "
    "back with an explicit schema, aggregate — values must match the "
    "parquet base, proving the XML round-trip lossless. Completes the "
    "source-format battery next to csv/json/orc (Avro remains "
    "env-blocked: the spark-avro DataSource jar is not in the "
    "container, only avro-core)",
)
def q_xml_source(spark, sf_dir):
    supplier = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    path = _export_once(
        "xml",
        sf_dir,
        lambda p: supplier.coalesce(1)
        .write.mode("overwrite")
        .format("xml")
        .option("rowTag", "supplier")
        .save(p),
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "supplier")
        .schema("s_suppkey bigint, s_name string, s_nationkey bigint")
        .load(path)
    )
    return back.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.min("s_name").alias("first_name"),
    )



@register(
    "normalize_text_nfc",
    """
    WITH dirty AS (
      SELECT doc_id,
             text || ' cafe' || chr(769) || '  x' || chr(8203) || 'y'
                  || chr(9) || chr(160) || 'z' || chr(7) || 'w' AS t
      FROM documents
    ), c AS (
      SELECT doc_id, t,
        trim(regexp_replace(
          regexp_replace(
            replace(replace(replace(replace(replace(nfc_normalize(t),
              chr(8203), ''), chr(8204), ''), chr(8205), ''),
              chr(65279), ''), chr(160), ' '),
            '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', ' ', 'g'),
          '[ \\t\\n\\r\\f\\v]+', ' ', 'g')) AS clean
      FROM dirty
    )
    SELECT doc_id, clean AS text,
           CAST(length(t) AS BIGINT) AS n_chars_raw,
           CAST(length(clean) AS BIGINT) AS n_chars_clean,
           CAST(CASE WHEN clean != t THEN 1 ELSE 0 END AS BIGINT) AS changed
    FROM c
    """,
    "Unicode text normalization over a deterministically-dirtied "
    "corpus (each doc gets a decomposed accent, zero-width space, tab, "
    "NBSP and a BEL appended by BOTH engines): NFC composition "
    "(unicodedata engine-side, utf8proc nfc_normalize oracle-side — "
    "the same Unicode form), exact-character zero-width/NBSP removal "
    "(no regex class semantics), explicit ASCII control and whitespace "
    "classes (a bare regex \\s would diverge: Python matches Unicode "
    "spaces, RE2 is ASCII-only). The JVM has no normalization builtin "
    "— the Arrow-batched pandas UDF is the documented slow-path "
    "exception, and the plan is map-only (zero exchanges)",
)
def q_normalize_text(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    dirty = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" cafe\u0301  x\u200by\t\u00a0z\x07w"),
        ).alias("text"),
    )
    return text.normalize_text(dirty)



@register(
    "isotonic_calibration_by_source",
    """
    WITH b AS (
      SELECT source, LEAST(49, CAST(floor(n_chars / 100.0) AS INT)) AS bin,
             count(*) AS n,
             SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS s
      FROM documents GROUP BY 1, 2
    ),
    p AS (
      SELECT source, bin, n, s,
             SUM(n) OVER (PARTITION BY source ORDER BY bin
                          ROWS UNBOUNDED PRECEDING) AS cn,
             SUM(s) OVER (PARTITION BY source ORDER BY bin
                          ROWS UNBOUNDED PRECEDING) AS cs
      FROM b
    ),
    lo AS (SELECT source, bin AS j, cn - n AS nj, cs - s AS sj FROM p),
    hi AS (SELECT source AS rsource, bin AS k, cn AS nk, cs AS sk FROM p),
    grid AS (
      SELECT source, j, k,
             CAST(sk - sj AS DOUBLE) / CAST(nk - nj AS DOUBLE) AS a
      FROM lo JOIN hi ON source = rsource AND j <= k
    ),
    m AS (
      SELECT source, j, k AS i,
             MIN(a) OVER (PARTITION BY source, j ORDER BY k DESC
                          ROWS UNBOUNDED PRECEDING) AS mji
      FROM grid
    ),
    f AS (SELECT source, i, MAX(mji) AS fitted FROM m GROUP BY 1, 2)
    SELECT b.source, CAST(b.bin AS BIGINT) AS bin,
           CAST(b.n AS BIGINT) AS n, CAST(b.s AS BIGINT) AS s,
           CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE) AS mean_raw,
           f.fitted AS fitted
    FROM b JOIN f ON b.source = f.source AND b.bin = f.i
    """,
    "Per-source isotonic calibration dashboard: one independent PAV "
    "fit of P(lang = en) against length bins PER SOURCE from one scan "
    "— the segment-monitoring shape (psi_drift_by_status's law applied "
    "to calibration). Same exact parallel max-min formulation as "
    "isotonic_calibration_doclen; every post-scan stage is (groups x "
    "B²)-table-sized, grouped == per-group-solo equality test-pinned",
)
def q_isotonic_by_source(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return evaluation.isotonic_fit_bins(
        d,
        F.least(
            F.lit(49), F.floor(F.col("n_chars") / F.lit(100.0)).cast("int")
        ),
        (F.col("lang") == "en").cast("int"),
        group_cols=("source",),
    )



@register(
    "join_size_report_partkey",
    """
    WITH a AS (SELECT l_partkey AS k, count(*) AS ca
               FROM lineitem GROUP BY 1),
    b AS (SELECT l_partkey AS k, count(*) AS cb
          FROM lineitem GROUP BY 1),
    m AS (SELECT k, ca, cb, CAST(ca AS HUGEINT) * cb AS p
          FROM a JOIN b USING (k)),
    t AS (SELECT SUM(p) AS tp, count(*) AS mk FROM m),
    ks AS (SELECT (SELECT count(*) FROM a) AS lk,
                  (SELECT count(*) FROM b) AS rk)
    SELECT m.k AS key,
           CAST(ca AS BIGINT) AS left_rows,
           CAST(cb AS BIGINT) AS right_rows,
           CAST(p AS VARCHAR) AS pair_rows,
           CAST(t.tp AS VARCHAR) AS total_pair_rows,
           CAST(t.mk AS BIGINT) AS matched_keys,
           CAST(ks.lk AS BIGINT) AS left_keys,
           CAST(ks.rk AS BIGINT) AS right_keys,
           CAST(CAST(p AS VARCHAR) AS DOUBLE)
             / CAST(CAST(t.tp AS VARCHAR) AS DOUBLE) AS share
    FROM m, t, ks ORDER BY p DESC, m.k LIMIT 10
    """,
    "EXACT join-size and skew forecast for the lineitem self-join on "
    "part key (the co-purchase quadratic): output cardinality = sum of "
    "c(k)^2 from ONE key-count aggregate, computed WITHOUT running the "
    "join — the planning primitive behind salting/broadcast decisions, "
    "completing the introspection family with key_skew_report and "
    "table_stats. Per-key products and the total are DECIMAL(38,0) "
    "(one hot key contributes c^2 pairs — past int64 at corpus scale) "
    "crossing engines as VARCHAR; top-10 hottest keys with exact "
    "shares, deterministic (pair DESC, key ASC) order",
)
def q_join_size_report(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return relational.join_size_report(li, li, "l_partkey", "l_partkey")



@register(
    "dsir_weight_ess",
    """
    WITH tk AS (
      SELECT doc_id, lang = 'en' AS is_target,
             list_filter(string_split(
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
               x -> x != '') AS tk
      FROM documents
    ), g AS (
      SELECT doc_id, is_target, unnest(
               list_concat(tk, CASE WHEN len(tk) >= 2 THEN
                 list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])
               ELSE [] END)) AS gram
      FROM tk WHERE len(tk) >= 1
    ), db AS (
      SELECT doc_id, is_target,
             CAST(('0x' || substring(md5('dsir|' || gram), 1, 8)) AS BIGINT)
               % 512 AS b,
             COUNT(*) AS cnt
      FROM g GROUP BY 1, 2, 3
    ), tot AS (
      SELECT CAST(SUM(CASE WHEN is_target THEN cnt ELSE 0 END) AS DOUBLE)
               AS n_t,
             CAST(SUM(cnt) AS DOUBLE) AS n_r
      FROM db
    ), sc AS (
      SELECT db.doc_id, db.is_target, db.cnt,
        CAST(db.cnt AS DECIMAL(10,0)) * (
          CAST(round(ln((CAST(SUM(CASE WHEN db.is_target THEN db.cnt ELSE 0
                   END) OVER (PARTITION BY db.b) AS DOUBLE) + 1.0)
                 / (tot.n_t + 512.0)), 6) AS DECIMAL(18,6))
          - CAST(round(ln((CAST(SUM(db.cnt) OVER (PARTITION BY db.b)
                   AS DOUBLE) + 1.0)
                 / (tot.n_r + 512.0)), 6) AS DECIMAL(18,6))
        ) AS w
      FROM db CROSS JOIN tot
    ), lw AS (
      SELECT doc_id, MAX(is_target) AS is_target,
             CAST(CAST(round(SUM(w), 4) AS VARCHAR) AS DOUBLE) AS log_weight
      FROM sc GROUP BY doc_id
    ), wu AS (
      SELECT is_target,
             CAST(round(round(exp(log_weight), 6) * 1e6, 0) AS BIGINT) AS u
      FROM lw
    ), eg AS (
      SELECT is_target, count(*) AS n,
             SUM(CAST(u AS HUGEINT)) AS su,
             SUM(CAST(u AS HUGEINT) * u) AS qu
      FROM wu GROUP BY 1
    )
    SELECT is_target, CAST(n AS BIGINT) AS n,
           CAST(su AS VARCHAR) AS sum_w_units,
           CAST(qu AS VARCHAR) AS sum_w2_units,
           CASE WHEN qu > 0 THEN
             CAST(CAST(su AS VARCHAR) AS DOUBLE)
               * CAST(CAST(su AS VARCHAR) AS DOUBLE)
               / CAST(CAST(qu AS VARCHAR) AS DOUBLE) END AS ess,
           CASE WHEN qu > 0 THEN
             CAST(CAST(su AS VARCHAR) AS DOUBLE)
               * CAST(CAST(su AS VARCHAR) AS DOUBLE)
               / CAST(CAST(qu AS VARCHAR) AS DOUBLE)
               / CAST(n AS DOUBLE) END AS ess_ratio
    FROM eg
    """,
    "Effective sample size of the DSIR importance weights per cohort "
    "(target vs non-target) — the health check an importance-sampling "
    "selection needs before trusting its draw: ESS = (sum w)^2 / "
    "(sum w^2) collapses toward 1 when a few documents dominate the "
    "mass. Weights follow the established round(exp(log_weight), 6) "
    "quantization (raw exp is engine-divergent), convert to exact 1e-6 "
    "integer units, both sums accumulate in DECIMAL(38,0)/HUGEINT and "
    "cross as VARCHAR; the ratio is one correctly-rounded double "
    "expression (the unit scale cancels). One aggregation over the "
    "importance model's output",
)
def q_dsir_ess(spark, sf_dir):
    lw = _dsir_lw(spark, sf_dir)
    weighted = lw.select(
        "is_target", F.round(F.exp(F.col("log_weight")), 6).alias("weight")
    )
    return evaluation.weight_ess(weighted, "weight", ("is_target",))


@register(
    "linkage_blocking_quality",
    """
    WITH u AS (
      SELECT c_custkey * 2 AS id, c_name AS key FROM customer
      UNION ALL
      SELECT c_custkey * 2 + 1,
             CASE WHEN c_custkey % 7 = 0 THEN reverse(c_name)
                  ELSE c_name END
      FROM customer
    ),
    r AS (
      SELECT id, key, row_number() OVER (ORDER BY key, id) AS rk
      FROM u WHERE key IS NOT NULL
    ),
    cand AS (
      SELECT DISTINCT LEAST(a.id, b.id) AS pa, GREATEST(a.id, b.id) AS pb
      FROM r a JOIN r b ON b.rk > a.rk AND b.rk - a.rk <= 4
    ),
    tru AS (
      SELECT c_custkey * 2 AS pa, c_custkey * 2 + 1 AS pb FROM customer
    ),
    nn AS (SELECT 2 * count(*) AS n FROM customer),
    c1 AS (SELECT count(*) AS n_candidates FROM cand),
    c2 AS (SELECT count(*) AS n_true FROM tru),
    c3 AS (SELECT count(*) AS n_found
           FROM tru WHERE EXISTS (SELECT 1 FROM cand
                                  WHERE cand.pa = tru.pa AND cand.pb = tru.pb))
    SELECT CAST(nn.n AS BIGINT) AS n_records,
           CAST(c1.n_candidates AS BIGINT) AS n_candidates,
           CAST(c2.n_true AS BIGINT) AS n_true,
           CAST(c3.n_found AS BIGINT) AS n_found,
           CASE WHEN c2.n_true > 0 THEN
             CAST(c3.n_found AS DOUBLE) / CAST(c2.n_true AS DOUBLE) END
             AS pair_completeness,
           1.0 - CAST(c1.n_candidates AS DOUBLE)
             / CAST((CAST(nn.n AS HUGEINT) * (nn.n - 1)) // 2 AS DOUBLE)
             AS reduction_ratio
    FROM nn, c1, c2, c3
    """,
    "Blocking-quality evaluation closing the linkage pipeline (block "
    "-> score -> EM -> fit -> assign -> EVALUATE): pair completeness "
    "(recall of the planted entity pairs — every (2k, 2k+1) copy, "
    "including the reversed-name sevenths single-pass SNM must miss) "
    "vs reduction ratio (fraction of the n(n-1)/2 all-pairs space "
    "pruned) for sorted-neighborhood blocking at window 4. Exact "
    "integer counts (pair-space total in DECIMAL(38,0) — n^2 passes "
    "int64 at corpus scale), two correctly-rounded divisions; "
    "candidates canonicalized (min, max) + dedup so any blocker "
    "qualifies",
)
def q_blocking_quality(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    a = c.select(
        (F.col("c_custkey") * 2).alias("id"), F.col("c_name").alias("key")
    )
    b = c.select(
        (F.col("c_custkey") * 2 + 1).alias("id"),
        F.when(F.col("c_custkey") % 7 == 0, F.reverse(F.col("c_name")))
        .otherwise(F.col("c_name"))
        .alias("key"),
    )
    cand = dedup.sorted_neighborhood_pairs(a.unionAll(b), "key", "id", window=4)
    true_pairs = c.select(
        (F.col("c_custkey") * 2).alias("a_id"),
        (F.col("c_custkey") * 2 + 1).alias("b_id"),
    )
    n_records = 2 * c.count()
    return evaluation.blocking_quality(cand, true_pairs, n_records)



@register(
    "wasserstein_drift_by_status",
    """
    WITH dv AS (
      SELECT o_orderstatus, CAST(floor(o_totalprice) AS BIGINT) AS v,
             SUM(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
                 THEN 1 ELSE 0 END) AS c1,
             SUM(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
                 THEN 0 ELSE 1 END) AS c2
      FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1, 2
    ),
    c AS (
      SELECT o_orderstatus, v, c1, c2,
             SUM(c1) OVER (PARTITION BY o_orderstatus ORDER BY v
                           ROWS UNBOUNDED PRECEDING) AS cc1,
             SUM(c2) OVER (PARTITION BY o_orderstatus ORDER BY v
                           ROWS UNBOUNDED PRECEDING) AS cc2,
             LAG(v) OVER (PARTITION BY o_orderstatus ORDER BY v) AS pv,
             SUM(c1) OVER (PARTITION BY o_orderstatus) AS n1,
             SUM(c2) OVER (PARTITION BY o_orderstatus) AS n2
      FROM dv
    ),
    g AS (
      SELECT o_orderstatus, c1, c2,
             CASE WHEN pv IS NULL THEN CAST(0 AS HUGEINT)
                  ELSE abs(CAST(cc1 - c1 AS HUGEINT) * n2
                           - CAST(cc2 - c2 AS HUGEINT) * n1)
                       * CAST(v - pv AS HUGEINT) END AS w
      FROM c
    )
    SELECT o_orderstatus,
           CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2,
           CAST(SUM(w) AS VARCHAR) AS w1_num,
           CASE WHEN SUM(c1) > 0 AND SUM(c2) > 0 THEN
             CAST(CAST(SUM(w) AS VARCHAR) AS DOUBLE)
               / (CAST(SUM(c1) AS DOUBLE) * CAST(SUM(c2) AS DOUBLE)) END AS w1
    FROM g GROUP BY 1
    """,
    "Grouped Wasserstein-1 — the per-segment drift DASHBOARD (one "
    "exact W1 per order status from ONE scan, the psi_drift_by_status "
    "monitoring shape applied to the earth-mover distance): same "
    "integer-grid exactness contract as wasserstein_drift_totalprice "
    "(DECIMAL(38,0) numerators, VARCHAR transport), bucketed parallel "
    "prefix partitioned per group, per-group previous-value carry; "
    "grouped == per-group-solo equality test-pinned",
)
def q_wasserstein_by_status(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select(
        "o_orderstatus",
        F.floor(F.col("o_totalprice")).cast("bigint").alias("vgrid"),
        F.col("o_orderdate"),
    )
    return evaluation.wasserstein_two_sample(
        o,
        "vgrid",
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"),
        group_cols=("o_orderstatus",),
    )


@register(
    "mannwhitney_by_status",
    """
    WITH dv AS (
      SELECT o_orderstatus, o_totalprice AS v,
             SUM(CASE WHEN o_orderpriority = '1-URGENT'
                 THEN 1 ELSE 0 END) AS c1,
             SUM(CASE WHEN o_orderpriority = '1-URGENT'
                 THEN 0 ELSE 1 END) AS c2
      FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1, 2
    ),
    c AS (
      SELECT o_orderstatus, c1, c2, c1 + c2 AS t,
             SUM(c1 + c2) OVER (PARTITION BY o_orderstatus ORDER BY v
                                ROWS UNBOUNDED PRECEDING) AS ct
      FROM dv
    ),
    s AS (
      SELECT o_orderstatus, SUM(c1) AS n1, SUM(c2) AS n2,
             SUM(CAST(c1 AS HUGEINT)
                 * (2 * CAST(ct - t AS HUGEINT) + t + 1)) AS r1x2,
             SUM(CAST(t AS HUGEINT) * t * t - t) AS ties
      FROM c GROUP BY 1
    ),
    u AS (
      SELECT o_orderstatus, n1, n2, r1x2, ties,
             r1x2 - CAST(n1 AS HUGEINT) * (n1 + 1) AS u1x2,
             2 * CAST(n1 AS HUGEINT) * n2
               - (r1x2 - CAST(n1 AS HUGEINT) * (n1 + 1)) AS u2x2,
             CAST(n1 + n2 AS HUGEINT) * (n1 + n2) * (n1 + n2)
               - (n1 + n2) - ties AS vn
      FROM s
    )
    SELECT o_orderstatus,
           CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           CAST(r1x2 AS VARCHAR) AS r1_x2,
           CAST(u1x2 AS VARCHAR) AS u1_x2,
           CAST(u2x2 AS VARCHAR) AS u2_x2,
           CAST(ties AS VARCHAR) AS tie_cubes,
           CASE WHEN n1 > 0 AND n2 > 0 AND vn > 0 THEN
             CAST(CAST(u1x2 - CAST(n1 AS HUGEINT) * n2 AS VARCHAR) AS DOUBLE)
               / (2.0 * sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                   * CAST(CAST(vn AS VARCHAR) AS DOUBLE)
                   / (12.0 * CAST(n1 + n2 AS DOUBLE)
                      * (CAST(n1 + n2 AS DOUBLE) - 1))))
           END AS z
    FROM u
    """,
    "Grouped Mann-Whitney — one independent rank-sum test (urgent vs "
    "non-urgent order values) per order status from ONE scan: the "
    "per-segment nonparametric drift dashboard. Same exact doubled-"
    "midrank and tie-term integer contract as "
    "mannwhitney_urgent_totalprice, bucketed prefix partitioned per "
    "group; grouped == per-group-solo equality test-pinned",
)
def q_mannwhitney_by_status(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return evaluation.mann_whitney_u(
        o,
        "o_totalprice",
        F.col("o_orderpriority") == "1-URGENT",
        group_cols=("o_orderstatus",),
    )



@register(
    "ks_drift_by_status",
    """
    WITH dv AS (
      SELECT o_orderstatus, o_totalprice AS v,
             SUM(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
                 THEN 1 ELSE 0 END) AS c1,
             SUM(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
                 THEN 0 ELSE 1 END) AS c2
      FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1, 2
    ),
    c AS (
      SELECT o_orderstatus, v,
             SUM(c1) OVER (PARTITION BY o_orderstatus ORDER BY v
                           ROWS UNBOUNDED PRECEDING) AS cc1,
             SUM(c2) OVER (PARTITION BY o_orderstatus ORDER BY v
                           ROWS UNBOUNDED PRECEDING) AS cc2,
             SUM(c1) OVER (PARTITION BY o_orderstatus) AS n1,
             SUM(c2) OVER (PARTITION BY o_orderstatus) AS n2
      FROM dv
    ),
    g AS (
      SELECT o_orderstatus, v, n1, n2,
             abs(CAST(cc1 AS DECIMAL(38,0)) * n2
                 - CAST(cc2 AS DECIMAL(38,0)) * n1) AS gap
      FROM c
    ),
    rk AS (
      SELECT *, row_number() OVER (PARTITION BY o_orderstatus
                                   ORDER BY gap DESC, v ASC) AS rn
      FROM g
    )
    SELECT o_orderstatus,
           CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           v AS at_value,
           CAST(gap AS VARCHAR) AS d_num,
           CASE WHEN n1 > 0 AND n2 > 0 THEN
             CAST(CAST(gap AS VARCHAR) AS DOUBLE)
               / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) END AS ks_d
    FROM rk WHERE rn = 1
    """,
    "Grouped Kolmogorov-Smirnov — one exact sup-gap drift test per "
    "order status from ONE scan, completing the per-segment dashboard "
    "family (KS + W1 + Mann-Whitney + PSI + isotonic all grouped). "
    "Same rational |c1*n2 - c2*n1| integer contract; the per-group "
    "argmax is a max-gap aggregate joined back with smallest-value "
    "tie-break — never a per-group global sort of the distinct-value "
    "relation (the oracle states the naive rank form); grouped == "
    "per-group-solo equality test-pinned",
)
def q_ks_by_status(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return evaluation.ks_two_sample(
        o,
        "o_totalprice",
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"),
        group_cols=("o_orderstatus",),
    )



@register(
    "oov_rate_by_source",
    """
    WITH tok AS (
      SELECT source, unnest(list_filter(string_split(
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
               x -> x != '')) AS t
      FROM documents
    ),
    c AS (SELECT source, t, count(*) AS n FROM tok GROUP BY 1, 2),
    v AS (
      SELECT t AS token FROM (
        SELECT t, count(*) AS n FROM tok GROUP BY t HAVING count(*) >= 5)
    ),
    j AS (
      SELECT c.source, c.n,
             CASE WHEN v.token IS NULL THEN 1 ELSE 0 END AS oov
      FROM c LEFT JOIN v ON c.t = v.token
    )
    SELECT source,
           CAST(SUM(n) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN oov = 1 THEN n ELSE 0 END) AS BIGINT)
             AS n_oov_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(SUM(oov) AS BIGINT) AS n_oov_types,
           CAST(SUM(CASE WHEN oov = 1 THEN n ELSE 0 END) AS DOUBLE)
             / CAST(SUM(n) AS DOUBLE) AS oov_token_rate,
           CAST(SUM(oov) AS DOUBLE) / CAST(count(*) AS DOUBLE)
             AS oov_type_rate
    FROM j GROUP BY source
    """,
    "Out-of-vocabulary rate per source against the min-count-5 corpus "
    "vocabulary (build_vocab's own contract) — the tokenizer-coverage "
    "report a vocab decision needs: token-occurrence and distinct-type "
    "OOV shares per segment from one (group, token) aggregation plus a "
    "vocabulary left-join (semi-shaped; broadcast when the vocab is "
    "small). Exact integer counts, two correctly-rounded divisions",
)
def q_oov_rate(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    vocab = text.build_vocab(d, min_count=5)
    return text.oov_rate(d, vocab, group_cols=("source",))



@register(
    "dedup_cut_spans",
    """
    WITH toks AS (
      SELECT doc_id,
             COALESCE(string_split_regex(regexp_replace(lower(trim(text)),
               '\\s+', ' ', 'g'), '\\s+'), CAST([] AS VARCHAR[])) AS tk
      FROM documents
    ),
    g AS (
      SELECT doc_id, i AS pos,
             md5(array_to_string(tk[i:i+7], ' ')) AS h
      FROM toks, UNNEST(range(1, len(tk) - 8 + 2)) AS t(i)
      WHERE len(tk) >= 8
    ),
    d AS (SELECT h FROM g GROUP BY h HAVING count(*) >= 2),
    dd AS (SELECT g.doc_id, g.pos FROM g JOIN d USING (h)),
    w AS (
      SELECT doc_id, pos,
             CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                    IS NULL
                  OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                    + 8
             THEN 1 ELSE 0 END AS brk
      FROM dd
    ),
    isl AS (
      SELECT doc_id, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS island
      FROM w
    ),
    spans AS (
      SELECT doc_id, MIN(pos) AS s, MAX(pos) + 7 AS e
      FROM isl GROUP BY doc_id, island
    ),
    sp AS (
      SELECT doc_id, list({'s': s, 'e': e}) AS spans
      FROM spans GROUP BY doc_id
    ),
    cut AS (
      SELECT toks.doc_id,
             list_filter(tk, (x, i) ->
               len(list_filter(
                 COALESCE(sp.spans, CAST([] AS STRUCT(s BIGINT, e BIGINT)[])),
                 z -> i >= z.s AND i <= z.e)) = 0) AS kept,
             len(tk) AS n_tokens
      FROM toks LEFT JOIN sp ON toks.doc_id = sp.doc_id
    )
    SELECT doc_id, COALESCE(array_to_string(kept, ' '), '') AS text_clean,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_tokens - len(kept) AS BIGINT) AS n_tokens_removed
    FROM cut
    """,
    "APPLY substring dedup: remove every corpus-duplicated 8-gram span "
    "(dedup_substring_spans) from each document and emit the cleaned "
    "text — the CUT step that makes span detection actionable (Lee et "
    "al. cut spans rather than dropping documents). Span positions are "
    "1-based indices into the normalized token stream; the cut is ONE "
    "JVM-side indexed higher-order filter (no explode, no per-token "
    "shuffle — only the span collapse and the join exchange); "
    "documents without spans pass through normalized",
)
def q_cut_spans(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return dedup.cut_spans(d, _substr_spans(spark, sf_dir))



@register(
    "benford_by_priority",
    """
    WITH c AS (
      SELECT o_orderpriority, CASE WHEN o_totalprice >= 1 THEN
               CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT)
                 AS VARCHAR), 1, 1) AS INT)
             END AS digit,
             count(*) AS n_obs
      FROM orders GROUP BY 1, 2
    ), grp AS (
      SELECT DISTINCT o_orderpriority FROM c WHERE digit IS NOT NULL
    ), spine AS (
      SELECT grp.o_orderpriority, d.digit, COALESCE(c.n_obs, 0) AS n_obs
      FROM grp
      CROSS JOIN (SELECT CAST(range AS INT) AS digit FROM range(1, 10)) d
      LEFT JOIN c ON c.o_orderpriority = grp.o_orderpriority
                 AND c.digit = d.digit
    ), a AS (
      SELECT o_orderpriority, digit, n_obs FROM spine
      UNION ALL
      SELECT o_orderpriority, digit, n_obs FROM c WHERE digit IS NULL
    ), t AS (
      SELECT o_orderpriority, digit, n_obs,
             SUM(CASE WHEN digit IS NOT NULL THEN n_obs ELSE 0 END)
               OVER (PARTITION BY o_orderpriority) AS nt,
             SUM(CASE WHEN digit IS NULL THEN n_obs ELSE 0 END)
               OVER (PARTITION BY o_orderpriority) AS nsk,
             CASE WHEN digit = 1 THEN CAST('0.301030' AS DECIMAL(18,6)) WHEN digit = 2 THEN CAST('0.176091' AS DECIMAL(18,6)) WHEN digit = 3 THEN CAST('0.124939' AS DECIMAL(18,6)) WHEN digit = 4 THEN CAST('0.096910' AS DECIMAL(18,6)) WHEN digit = 5 THEN CAST('0.079181' AS DECIMAL(18,6)) WHEN digit = 6 THEN CAST('0.066947' AS DECIMAL(18,6)) WHEN digit = 7 THEN CAST('0.057992' AS DECIMAL(18,6)) WHEN digit = 8 THEN CAST('0.051153' AS DECIMAL(18,6)) WHEN digit = 9 THEN CAST('0.045757' AS DECIMAL(18,6)) END AS expsh
      FROM a
    ), s AS (
      SELECT *, CAST(round(
          CAST(CAST(CAST(n_obs AS DECIMAL(28,6)) - expsh * nt AS VARCHAR)
               AS DOUBLE)
          * CAST(CAST(CAST(n_obs AS DECIMAL(28,6)) - expsh * nt AS VARCHAR)
               AS DOUBLE)
          / CAST(CAST(expsh * nt AS VARCHAR) AS DOUBLE), 9)
          AS DECIMAL(28,9)) AS tq
      FROM t
    )
    SELECT o_orderpriority, digit, CAST(n_obs AS BIGINT) AS n_obs,
           CAST(nt AS BIGINT) AS n_total,
           CAST(nsk AS BIGINT) AS n_skipped,
           CAST(n_obs AS DOUBLE) / CAST(nt AS DOUBLE) AS obs_share,
           CAST(CAST(expsh AS VARCHAR) AS DOUBLE) AS exp_share,
           CAST(CAST(SUM(tq) OVER (PARTITION BY o_orderpriority)
             AS VARCHAR) AS DOUBLE) AS chi2
    FROM s WHERE digit IS NOT NULL
    """,
    "Grouped Benford screen — one first-digit conformance chi-square "
    "per order priority from ONE scan: the per-segment audit fleet "
    "(run it per clerk/account/region at scale). Exercises the digit "
    "SPINE per group: every group with >= 1 eligible row emits exactly "
    "9 rows, zero-count digits contributing their full (0-E)^2/E term; "
    "same 6dp expectation literals, 9dp-quantized terms, checkpointed "
    "counts (one corpus scan) as benford_screen_totalprice",
)
def q_benford_by_priority(spark, sf_dir):
    return evaluation.benford_screen(
        _t(spark, sf_dir, "orders"), "o_totalprice", ("o_orderpriority",)
    )



@register(
    "kendall_tau_spend_frequency",
    """
    WITH b AS (
      SELECT o_custkey,
             SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS x,
             COUNT(*) AS y
      FROM orders GROUP BY o_custkey
    ),
    s AS (
      SELECT md5(o_custkey::VARCHAR) AS h, x, y
      FROM b ORDER BY h LIMIT 1500
    ),
    p AS (
      SELECT CASE WHEN a.x > c.x THEN 1 WHEN a.x < c.x THEN -1 ELSE 0 END
               AS dx,
             CASE WHEN a.y > c.y THEN 1 WHEN a.y < c.y THEN -1 ELSE 0 END
               AS dy
      FROM s a JOIN s c ON a.h < c.h
    ),
    agg AS (
      SELECT SUM(CASE WHEN dx * dy > 0 THEN 1 ELSE 0 END) AS concordant,
             SUM(CASE WHEN dx * dy < 0 THEN 1 ELSE 0 END) AS discordant,
             SUM(CASE WHEN dx = 0 AND dy != 0 THEN 1 ELSE 0 END) AS ties_x,
             SUM(CASE WHEN dy = 0 AND dx != 0 THEN 1 ELSE 0 END) AS ties_y,
             SUM(CASE WHEN dx = 0 AND dy = 0 THEN 1 ELSE 0 END) AS ties_xy
      FROM p
    ),
    nn AS (SELECT COUNT(*) AS n FROM s)
    SELECT CAST(nn.n AS BIGINT) AS n,
           CAST(concordant + discordant + ties_x + ties_y + ties_xy
                AS BIGINT) AS n_pairs,
           CAST(concordant AS BIGINT) AS concordant,
           CAST(discordant AS BIGINT) AS discordant,
           CAST(ties_x AS BIGINT) AS ties_x,
           CAST(ties_y AS BIGINT) AS ties_y,
           CAST(ties_xy AS BIGINT) AS ties_xy,
           CASE WHEN (concordant + discordant + ties_y)
                  * (concordant + discordant + ties_x) > 0 THEN
             CAST(concordant - discordant AS DOUBLE)
               / sqrt(CAST(concordant + discordant + ties_y AS DOUBLE)
                      * CAST(concordant + discordant + ties_x AS DOUBLE))
           END AS tau_b
    FROM agg, nn
    """,
    "Kendall tau-b between customer spend and order frequency over a "
    "FIXED-size deterministic sample (the 1500 smallest md5(custkey) "
    "rows — uniform, rerun-stable, top-k via per-partition heaps) — "
    "completing the correlation family with Pearson (exact moments) "
    "and Spearman (exact midranks): the exact-tau pair stage is "
    "quadratic, so the triangle_count_sampled pattern applies and the "
    "k^2/2 pair stage is CONSTANT in corpus size, exact within the "
    "sample. Concordance/tie counts are exact integers from "
    "native-type comparisons (a double-difference signum could "
    "collapse sub-ulp decimals into false ties); tau-b is one "
    "correctly-rounded double sequence over the pinned counts. Note "
    "(n0-n1) = C+D+ties_y and (n0-n2) = C+D+ties_x",
)
def q_kendall_tau(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    base = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("x"),
        F.count(F.lit(1)).alias("y"),
    )
    # o_custkey is unique by construction (the groupBy key), so the
    # duplicate-collapse exchange is skipped — zero-shuffle top-k sample
    return evaluation.kendall_tau_sampled(
        base, "o_custkey", "x", "y", k=1500, assume_unique_key=True
    )


@register(
    "zipf_fit_words",
    """
    WITH tok AS (
      SELECT unnest(list_filter(string_split(
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
               x -> x != '')) AS token
      FROM documents
    ), c AS (
      SELECT token, count(*) AS n FROM tok GROUP BY token
      HAVING count(*) >= 1
    ), r AS (
      SELECT n, row_number() OVER (ORDER BY n DESC, token) AS rk FROM c
    ), p AS (
      SELECT n,
             CAST(round(ln(CAST(rk AS DOUBLE)), 6) AS DECIMAL(18,6)) AS x,
             CAST(round(ln(CAST(n AS DOUBLE)), 6) AS DECIMAL(18,6)) AS y
      FROM r
    ), s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_types,
             CAST(sum(n) AS BIGINT) AS n_tokens,
             sum(CAST(x AS DECIMAL(38,12))) AS sx,
             sum(CAST(y AS DECIMAL(38,12))) AS sy,
             sum(CAST(x * y AS DECIMAL(38,12))) AS sxy,
             sum(CAST(x * x AS DECIMAL(38,12))) AS sxx,
             sum(CAST(y * y AS DECIMAL(38,12))) AS syy
      FROM p
    )
    SELECT n_types, n_tokens,
      CASE WHEN n_types >= 2 AND CAST(n_types AS DOUBLE) * CAST(sxx AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0 THEN
        (CAST(n_types AS DOUBLE) * CAST(sxy AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        / (CAST(n_types AS DOUBLE) * CAST(sxx AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      END AS slope,
      CASE WHEN n_types >= 2 AND CAST(n_types AS DOUBLE) * CAST(sxx AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0 THEN
        (CAST(sy AS DOUBLE)
           - ((CAST(n_types AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              / (CAST(n_types AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
             * CAST(sx AS DOUBLE))
        / CAST(n_types AS DOUBLE)
      END AS intercept,
      CASE WHEN n_types >= 2
             AND CAST(n_types AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
             AND CAST(n_types AS DOUBLE) * CAST(syy AS DOUBLE)
                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0 THEN
        (CAST(n_types AS DOUBLE) * CAST(sxy AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        * (CAST(n_types AS DOUBLE) * CAST(sxy AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        / ((CAST(n_types AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           * (CAST(n_types AS DOUBLE) * CAST(syy AS DOUBLE)
              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
      END AS r2
    FROM s
    """,
    "Zipf's-law rank-frequency fit over the corpus vocabulary — the "
    "corpus-health diagnostic (natural language gives slope ≈ -1 on "
    "the log-log line; templated/machine text bends it): OLS of "
    "ln(freq) on ln(rank) with the fit r². Rank comes from the "
    "bucketed parallel prefix-sum (build_vocab — never a single-"
    "partition vocabulary sort; the oracle states the same ranking as "
    "the naive window); ln values quantize ONCE to 6dp decimals (the "
    "pmi/bigram-LM log rule) so the five OLS sums are exact decimal "
    "reductions, and slope/intercept/r2 are fixed float expressions "
    "over those pinned sums",
)
def q_zipf_fit(spark, sf_dir):
    return text.zipf_fit(_t(spark, sf_dir, "documents"), min_count=1)


@register(
    "gopher_rules_screen",
    """
    WITH tk AS (
      SELECT doc_id,
             COALESCE(list_filter(string_split(
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
               x -> x != ''), CAST([] AS VARCHAR[])) AS t
      FROM documents
    ), m AS (
      SELECT doc_id,
             CAST(len(t) AS BIGINT) AS n_words,
             CAST(COALESCE(list_sum(list_transform(t, x -> length(x))), 0)
               AS BIGINT) AS sl,
             CAST(len(list_filter(t,
               x -> regexp_matches(x, '^(#+|\\.\\.\\.)$'))) AS BIGINT)
               AS nsym,
             CAST(len(list_filter(t, x -> regexp_matches(x, '[a-z]')))
               AS BIGINT) AS nal,
             CAST(len(list_filter(t, x -> list_contains(
               ['the','be','to','of','and','that','have','with'], x)))
               AS BIGINT) AS stop_hits
      FROM tk
    )
    SELECT doc_id, n_words,
      CASE WHEN n_words > 0 THEN CAST(sl AS DOUBLE) / CAST(n_words AS DOUBLE)
        END AS mean_word_len,
      CASE WHEN n_words > 0 THEN
        CAST(nsym AS DOUBLE) / CAST(n_words AS DOUBLE) END AS symbol_ratio,
      CASE WHEN n_words > 0 THEN
        CAST(nal AS DOUBLE) / CAST(n_words AS DOUBLE) END AS alpha_word_frac,
      stop_hits,
      CAST(CASE WHEN n_words >= 50 AND n_words <= 100000 THEN 1 ELSE 0 END
        AS BIGINT) AS r_wordcount,
      CAST(CASE WHEN n_words > 0 AND 3 * n_words <= sl
                 AND sl <= 10 * n_words THEN 1 ELSE 0 END
        AS BIGINT) AS r_wordlen,
      CAST(CASE WHEN n_words > 0 AND 1000 * nsym <= 100 * n_words
        THEN 1 ELSE 0 END AS BIGINT) AS r_symbol,
      CAST(CASE WHEN n_words > 0 AND 1000 * nal >= 800 * n_words
        THEN 1 ELSE 0 END AS BIGINT) AS r_alpha,
      CAST(CASE WHEN stop_hits >= 2 THEN 1 ELSE 0 END AS BIGINT) AS r_stop,
      CAST(CASE WHEN n_words >= 50 AND n_words <= 100000
                 AND n_words > 0 AND 3 * n_words <= sl AND sl <= 10 * n_words
                 AND 1000 * nsym <= 100 * n_words
                 AND 1000 * nal >= 800 * n_words
                 AND stop_hits >= 2 THEN 1 ELSE 0 END AS BIGINT) AS keep
    FROM m
    """,
    "Gopher quality rules (Rae et al. 2021 A1.1) as a PER-RULE "
    "breakdown — word-count band [50, 100k], mean-word-length band "
    "[3, 10], symbol-to-word ratio <= 0.1, >= 80% words alphabetic, "
    ">= 2 required stopwords — reported rule by rule so curation sees "
    "WHICH gate a document fails (the composite quality_score hides "
    "that). Every keep/drop decision is an INTEGER comparison (ratio "
    "rules cross-multiplied to permille integers; the mean-length "
    "band compares min*n <= sum_len <= max*n); the ratio columns are "
    "single divisions for human eyes only. One map-only pass — token "
    "HOF reductions, ZERO exchanges at any corpus size",
)
def q_gopher_rules(spark, sf_dir):
    return text.gopher_rules(_t(spark, sf_dir, "documents"))


def _phash_oracle(grid: int = 16, block: int = 8) -> str:
    """pHash oracle: regenerates every luma cell from the source text
    bytes via the BMP addressing (the _ahash_oracle machinery), then
    the SAME integer DCT — the 1e-6-unit cos table embedded as a
    literal (multimodal._dct_table, the audio-DFT rule), row pass,
    sign·(abs // 1e6) truncate-toward-zero rescale, column pass,
    DC-dropped 8×8 block, pinned lower-median pick — bit-for-bit."""
    cc = multimodal._dct_table(grid)
    cc_lit = "[" + ", ".join(str(v) for v in cc) + "]"
    g2 = grid * grid
    nbits = block * block - 1
    med_1b = (nbits - 1) // 2 + 1  # 1-based lower-median index

    def byte(off: str) -> str:
        return (
            f"(CASE WHEN {off} < n THEN ('0x' || substr(h, 2 * ({off}) + 1, 2))"
            "::BIGINT ELSE 0 END)"
        )

    off = f"((k // {grid}) * hh // {grid}) * 48 + 3 * (k % {grid})"
    return f"""
    WITH cos_t AS (SELECT {cc_lit} AS cc),
    b AS (
      SELECT doc_id, hex(encode(text)) AS h,
             octet_length(encode(text)) AS n,
             greatest(CAST(ceil(octet_length(encode(text)) / 48.0) AS INT),
                      1) AS hh
      FROM documents
    ),
    l AS (
      SELECT doc_id, hh,
             list_transform(range(0, {g2}), k ->
                 114 * {byte(off)}
               + 587 * {byte(f"({off}) + 1")}
               + 299 * {byte(f"({off}) + 2")}) AS lums
      FROM b
    ),
    m1 AS (
      SELECT doc_id, hh,
             list_transform(range(0, {g2}), k ->
               list_sum(list_transform(range(0, {grid}), y ->
                 cc[(k // {grid}) * {grid} + y + 1]
                 * lums[y * {grid} + (k % {grid}) + 1]))) AS raw
      FROM l, cos_t
    ),
    m1s AS (
      SELECT doc_id, hh,
             list_transform(raw, s ->
               CASE WHEN s >= 0 THEN s // 1000000
                    ELSE -((-s) // 1000000) END) AS m1v
      FROM m1
    ),
    d AS (
      SELECT doc_id, hh,
             list_transform(range(0, {block * block}), k ->
               list_sum(list_transform(range(0, {grid}), x ->
                 m1v[(k // {block}) * {grid} + x + 1]
                 * cc[(k % {block}) * {grid} + x + 1]))) AS dd
      FROM m1s, cos_t
    ),
    p AS (
      SELECT doc_id, hh, dd[2:{block * block}] AS low
      FROM d
    ),
    hsh AS (
      SELECT doc_id, hh,
             array_to_string(list_transform(low, v ->
               CASE WHEN v > list_sort(low)[{med_1b}] THEN '1' ELSE '0' END),
               '') AS phash
      FROM p
    )
    SELECT doc_id AS media_id, {grid} AS width, CAST(hh AS INT) AS height,
           phash,
           CAST(count(*) OVER (PARTITION BY phash) AS BIGINT) AS n_same
    FROM hsh
    """


@register(
    "multimodal_phash_dedup",
    _phash_oracle(grid=16, block=8),
    "Perceptual DCT hash (pHash) image dedup over the synthetic BMP "
    "corpus — aHash's robust sibling: 16x16 integer BT.601 luma "
    "downsample, 2-D DCT-II against a 1e-6-unit integer cosine table "
    "(quantized ONCE in Python — the audio-DFT transcendental rule), "
    "one sign*(abs div 1e6) truncate-toward-zero rescale between the "
    "row and column passes (int64-safe by construction), top-left 8x8 "
    "block with the DC term DROPPED (brightness invariance), bit = "
    "coefficient > the pinned lower median (sorted index 31 of 63 — "
    "no float averaging), 63-char bit string grouped with a collision "
    "window. Every bit regenerated by the oracle from source bytes "
    "via the BMP addressing + the SAME cos literals. Map-only decode "
    "+ one hash-keyed window",
)
def q_multimodal_phash(spark, sf_dir):
    media = multimodal.media_bmp_from_documents(_t(spark, sf_dir, "documents"))
    ph = multimodal.image_phash(media, grid=16, block=8)
    w = Window.partitionBy("phash")
    return ph.select(
        "media_id",
        "width",
        "height",
        "phash",
        F.count(F.lit(1)).over(w).cast("long").alias("n_same"),
    )


@register(
    "perplexity_buckets_ccnet",
    """
    WITH tk AS (
      SELECT doc_id, list_filter(string_split(
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
               x -> x != '') AS tk
      FROM documents
    ), db AS (
      SELECT doc_id, gram AS bigram, COUNT(*) AS cnt FROM (
        SELECT doc_id, unnest(list_transform(range(1, len(tk)),
                 i -> tk[i] || ' ' || tk[i+1])) AS gram
        FROM tk WHERE len(tk) >= 2)
      GROUP BY doc_id, gram
    ), c12 AS (
      SELECT bigram, SUM(cnt) AS c12 FROM db GROUP BY bigram
    ), c1 AS (
      SELECT split_part(bigram, ' ', 1) AS w1, SUM(c12) AS c1
      FROM c12 GROUP BY 1
    ), v AS (
      SELECT COUNT(DISTINCT t) AS v FROM (SELECT unnest(tk) AS t FROM tk)
    ), sc AS (
      SELECT db.doc_id, db.cnt,
        CAST(db.cnt AS DECIMAL(10,0)) * CAST(round(
          -ln((CAST(c12.c12 AS DOUBLE) + 1.0)
              / (CAST(c1.c1 AS DOUBLE) + CAST(v.v AS DOUBLE))), 6)
          AS DECIMAL(18,6)) AS p
      FROM db JOIN c12 USING (bigram)
      JOIN c1 ON split_part(db.bigram, ' ', 1) = c1.w1
      CROSS JOIN v
    ), scores AS (
      SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
             round(CAST(SUM(p) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE), 4)
               AS avg_nll
      FROM sc GROUP BY doc_id
    ), ranked AS (
      SELECT s.doc_id, d.source, s.n_bigrams, s.avg_nll,
             row_number() OVER (PARTITION BY d.source
                                ORDER BY s.avg_nll, s.doc_id) AS rk,
             COUNT(*) OVER (PARTITION BY d.source) AS n
      FROM scores s JOIN documents d USING (doc_id)
    )
    SELECT doc_id, source, n_bigrams, avg_nll,
           CASE WHEN rk * 3 <= n THEN 'head'
                WHEN rk * 3 <= 2 * n THEN 'middle'
                ELSE 'tail' END AS ppl_bucket
    FROM ranked
    """,
    "CCNet head/middle/tail perplexity bucketing (Wenzek et al. 2019) "
    "per source: rank documents by the corpus-trained bigram-LM score "
    "and cut each segment's ranking in exact thirds — train on "
    "head+middle, inspect/drop tail, PER SOURCE so a noisy shard "
    "cannot crowd out a clean one on absolute score. The 4dp LM score "
    "is engine-independent (6dp nll terms, decimal sums); the rank "
    "tie-breaks on doc_id; the cuts are integer cross-multiplications "
    "(rk*3 <= n / rk*3 <= 2n) so proportions hold exactly. One "
    "corpus-sized LM pass + one segment-keyed window over the "
    "doc-sized score table",
)
def q_perplexity_buckets(spark, sf_dir):
    return text.perplexity_buckets(_t(spark, sf_dir, "documents"))


def _markov_attr_oracle(channels: tuple[str, ...], iters: int = 4) -> str:
    """Unrolled-CTE Markov removal-effect attribution oracle: DuckDB
    regenerates the episode split, the transition counts, and — for the
    base chain AND each removed chain — the identical ``iters``
    absorption rounds in HUGEINT fixed-point (SUM(HUGEINT) and ``//``
    match Spark's DECIMAL(38,0) sums and ``div`` on these non-negative
    values — the HITS/PageRank precedent). Removal is the redirect
    convention: edges INTO the channel drop from the numerator while
    row totals stay, exactly as the engine filters ``dst != c``."""
    u = 10**12
    variants = [("base", None)] + [(f"c{i}", c) for i, c in enumerate(channels)]
    parts = [
        """
    WITH ev AS MATERIALIZED (
      SELECT user_id, ts, event_id, event_type,
        COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
          OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ep
      FROM events
    ),
    tr0 AS MATERIALIZED (
      SELECT
        COALESCE(lag(event_type) OVER w, 'START') AS src,
        CASE WHEN event_type = 'purchase' THEN 'CONV'
             ELSE event_type END AS dst,
        (lead(event_type) OVER w IS NULL AND event_type != 'purchase')
          AS is_tail,
        event_type AS ty
      FROM ev WINDOW w AS (PARTITION BY user_id, ep ORDER BY ts, event_id)
    ),
    t AS MATERIALIZED (
      SELECT src, dst, count(*) AS n FROM (
        SELECT src, dst FROM tr0
        UNION ALL
        SELECT ty AS src, 'NULL' AS dst FROM tr0 WHERE is_tail
      ) GROUP BY src, dst
    ),
    tot AS MATERIALIZED (SELECT src, SUM(n) AS tt FROM t GROUP BY src),
    st AS MATERIALIZED (SELECT src AS state FROM tot),"""
    ]
    for tag, c in variants:
        flt = "" if c is None else f" WHERE t.dst != '{c}'"
        parts.append(
            f"""
    a_{tag}_0 AS (SELECT state, CAST(0 AS BIGINT) AS au FROM st),"""
        )
        for k in range(1, iters + 1):
            parts.append(
                f"""
    a_{tag}_{k} AS MATERIALIZED (
      SELECT st.state,
             CAST(COALESCE(s.sm, 0) // tot.tt AS BIGINT) AS au
      FROM st
      LEFT JOIN (
        SELECT t.src AS state,
               SUM(CAST(t.n AS HUGEINT) *
                   (CASE WHEN t.dst = 'CONV' THEN {u}
                         WHEN t.dst = 'NULL' THEN 0
                         ELSE COALESCE(p.au, 0) END)) AS sm
        FROM t LEFT JOIN a_{tag}_{k - 1} p ON t.dst = p.state{flt}
        GROUP BY t.src
      ) s ON st.state = s.state
      JOIN tot ON tot.src = st.state
    ),"""
            )
    parts.append(
        f"""
    b AS (SELECT COALESCE(MAX(au), 0) AS base
          FROM a_base_{iters} WHERE state = 'START'),
    res AS ("""
    )
    unions = []
    for tag, c in variants[1:]:
        unions.append(
            f"""
      SELECT '{c}' AS channel,
             (SELECT COALESCE(MAX(au), 0) FROM a_{tag}_{iters}
              WHERE state = 'START') AS rem"""
        )
    parts.append(" UNION ALL ".join(unions))
    parts.append(
        f"""
    ),
    x AS (
      SELECT channel, rem, b.base,
             CASE WHEN b.base > 0 THEN
               CAST(CAST({u} AS HUGEINT)
                    - (CAST(rem AS HUGEINT) * {u}) // b.base AS BIGINT)
             END AS re
      FROM res, b
    )
    SELECT channel,
           CAST(base AS VARCHAR) AS base_conv_units,
           CAST(rem AS VARCHAR) AS removed_conv_units,
           CAST(re AS VARCHAR) AS removal_effect_units,
           CAST(re AS DOUBLE) / {float(u)} AS removal_effect,
           CASE WHEN SUM(greatest(re, 0)) OVER () > 0 THEN
             CAST(greatest(re, 0) AS DOUBLE)
               / CAST(SUM(greatest(re, 0)) OVER () AS DOUBLE)
           END AS attributed_share
    FROM x
    """
    )
    return "".join(parts)


@register(
    "attribution_markov_removal",
    _markov_attr_oracle(("click", "error", "signup", "view"), iters=4),
    "Markov-chain multi-touch attribution by REMOVAL EFFECT (Anderl et "
    "al. 2016) — the principled alternative to the linear credit of "
    "attribution_linear_credit: per-user journeys split into episodes "
    "at each purchase (one shared (user, episode) sort), touchpoint "
    "transitions counted into a states²-bounded relation, conversion "
    "probability = the 4-round fixed-point absorption value (1e-12 "
    "units, DECIMAL(38,0) products, one truncating div per state per "
    "round — the PageRank rules), and each channel's credit = how much "
    "conversion drops when edges INTO it redirect to NULL (row totals "
    "kept — the redirect convention). re_units is one integer "
    "cross-multiplication; shares normalize the positive effects "
    "(an anti-channel like 'error' can earn a NEGATIVE removal effect "
    "— reported, zero credit). The oracle unrolls every absorption "
    "round for the base AND each removed chain in HUGEINT",
)
def q_attribution_markov(spark, sf_dir):
    from .operators import graph

    t = graph.attribution_transitions(_t(spark, sf_dir, "events"))
    return graph.markov_removal_attribution(
        t, channels=("click", "error", "signup", "view"), iters=4
    )


@register(
    "brier_decomposition_doclen",
    """
    WITH r AS (
      SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS pn,
             greatest(COUNT(*) OVER () - 1, 1) AS pd
      FROM documents
    ), per AS (
      SELECT LEAST((10 * pn) // pd, 9) AS b,
             count(*) AS n,
             CAST(SUM(y) AS BIGINT) AS yk,
             SUM(CAST(pn AS HUGEINT)) AS pk,
             SUM(CAST(pn - pd * y AS HUGEINT)
                 * CAST(pn - pd * y AS HUGEINT)) AS sk,
             MAX(pd) AS d
      FROM r GROUP BY 1
    ), g AS (
      SELECT SUM(n) AS nn, SUM(yk) AS yy, SUM(sk) AS sse, MAX(d) AS dd
      FROM per
    ), t AS (
      SELECT g.nn, g.yy, g.sse, g.dd,
        CAST(round(CAST(n AS DOUBLE)
          * (CAST(pk AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(dd AS DOUBLE))
             - CAST(yk AS DOUBLE) / CAST(n AS DOUBLE))
          * (CAST(pk AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(dd AS DOUBLE))
             - CAST(yk AS DOUBLE) / CAST(n AS DOUBLE)), 9)
          AS DECIMAL(38,9)) AS rt,
        CAST(round(CAST(n AS DOUBLE)
          * (CAST(yk AS DOUBLE) / CAST(n AS DOUBLE)
             - CAST(yy AS DOUBLE) / CAST(nn AS DOUBLE))
          * (CAST(yk AS DOUBLE) / CAST(n AS DOUBLE)
             - CAST(yy AS DOUBLE) / CAST(nn AS DOUBLE)), 9)
          AS DECIMAL(38,9)) AS st
      FROM per, g
    )
    SELECT CAST(MAX(nn) AS BIGINT) AS n,
           CAST(MAX(yy) AS DOUBLE) / CAST(MAX(nn) AS DOUBLE) AS base_rate,
           CAST(MAX(sse) AS VARCHAR) AS sse_units,
           CAST(MAX(sse) AS DOUBLE) / CAST(MAX(nn) AS DOUBLE)
             / CAST(MAX(dd) AS DOUBLE) / CAST(MAX(dd) AS DOUBLE) AS brier,
           CAST(SUM(rt) AS DOUBLE) / CAST(MAX(nn) AS DOUBLE) AS reliability,
           CAST(SUM(st) AS DOUBLE) / CAST(MAX(nn) AS DOUBLE) AS resolution,
           (CAST(MAX(yy) AS DOUBLE) / CAST(MAX(nn) AS DOUBLE))
             * (1.0 - CAST(MAX(yy) AS DOUBLE) / CAST(MAX(nn) AS DOUBLE))
             AS uncertainty,
           (CAST(MAX(sse) AS DOUBLE) / CAST(MAX(nn) AS DOUBLE)
              / CAST(MAX(dd) AS DOUBLE) / CAST(MAX(dd) AS DOUBLE))
           - ((CAST(SUM(rt) AS DOUBLE) / CAST(MAX(nn) AS DOUBLE))
              - (CAST(SUM(st) AS DOUBLE) / CAST(MAX(nn) AS DOUBLE))
              + (CAST(MAX(yy) AS DOUBLE) / CAST(MAX(nn) AS DOUBLE))
                * (1.0 - CAST(MAX(yy) AS DOUBLE) / CAST(MAX(nn) AS DOUBLE)))
             AS residual
    FROM t
    """,
    "Murphy decomposition of the Brier score (BS = REL - RES + UNC + "
    "within-bin residual) over the rank-normalized document-length "
    "forecast vs the lang='en' outcome — the probability-quality triad "
    "completing roc_auc (ranking) and calibration_curve (plot): "
    "reliability = calibration error, resolution = sharpness vs the "
    "base rate, uncertainty = intrinsic difficulty. The forecast stays "
    "an exact RATIONAL (rank numerator over the constant N-1 "
    "denominator): integer bin index ((10*pn) div pd clamped), exact "
    "DECIMAL(38,0) sum-of-squared-errors (VARCHAR-transported), "
    "per-bin REL/RES terms as fixed correctly-rounded double "
    "sequences over pinned integers, 9dp-quantized before the "
    "<= 10-row decimal sum (the chi-square rule). One corpus bin-agg; "
    "everything after is bin-table-sized",
)
def q_brier_decomposition(spark, sf_dir):
    # The rank forecast (row_number over (n_chars, doc_id)) via the
    # bucketed parallel prefix — NEVER a bare Window.orderBy funneling
    # the corpus through one task (the r9 VERDICT scale finding): the
    # running count-of-ones partitions by floor(n_chars/64) (order-
    # consistent with the composite key), per-bucket offsets go through
    # a bucket-count-bounded window and broadcast back. The 1-row
    # denominator (N-1) broadcasts as a cross join, replacing the
    # equally-single-partition count() OVER ().
    d = _t(spark, sf_dir, "documents")
    base = d.select(
        (F.col("lang") == "en").cast("bigint").alias("_y"),
        "n_chars",
        "doc_id",
    )
    ranked = relational.global_prefix_sum(
        base.withColumn("_one", F.lit(1)).withColumn(
            "_ok", F.struct(F.col("n_chars"), F.col("doc_id"))
        ),
        "_ok",
        "_one",
        out_col="_rk",
        bucket_expr=F.floor(F.col("n_chars") / F.lit(64)),
    )
    tot = base.agg(
        F.greatest(F.count(F.lit(1)) - 1, F.lit(1)).cast("long").alias("_pd")
    )
    r = ranked.crossJoin(F.broadcast(tot)).select(
        "_y", (F.col("_rk") - 1).alias("_pn"), "_pd"
    )
    return evaluation.brier_decomposition(
        r, F.col("_pn"), F.col("_pd"), F.col("_y"), n_bins=10
    )


@register(
    "source_gram_containment",
    """
    WITH tk AS (
      SELECT source, list_filter(string_split(
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
               x -> x != '') AS tk
      FROM documents
    ),
    g AS (
      SELECT DISTINCT source, md5(array_to_string(tk[i:i+2], ' ')) AS h
      FROM tk, UNNEST(range(1, len(tk) - 3 + 2)) AS t(i)
      WHERE len(tk) >= 3
    ),
    s AS (SELECT source, count(*) AS ng FROM g GROUP BY source),
    p AS (
      SELECT a.source AS src_a, b.source AS src_b, count(*) AS shared
      FROM g a JOIN g b USING (h)
      WHERE a.source != b.source
      GROUP BY 1, 2
    )
    SELECT src_a, src_b,
           CAST(sa.ng AS BIGINT) AS grams_a,
           CAST(sb.ng AS BIGINT) AS grams_b,
           CAST(shared AS BIGINT) AS shared,
           CAST(shared AS DOUBLE) / CAST(sa.ng AS DOUBLE) AS containment
    FROM p
    JOIN s sa ON p.src_a = sa.source
    JOIN s sb ON p.src_b = sb.source
    WHERE shared >= 1
    """,
    "Pairwise word-TRIGRAM containment between sources — the "
    "gram-level sequel to source_vocab_overlap: shared vocabulary "
    "means same domain, shared GRAMS mean shared text (mirrors, "
    "re-exports, benchmark leakage), and containment's asymmetry "
    "(|A∩B|/|A|) catches a small source swallowed by a big one at 1.0 "
    "in the direction that matters. Distinct (source, md5-digest) "
    "rows reduce map-side (never gram text); pair work per digest is "
    "(sources sharing it)² — bounded by the source count squared, an "
    "operational constant, never corpus volume; per-source totals "
    "broadcast onto the ordered-pair table",
)
def q_source_gram_containment(spark, sf_dir):
    return text.source_gram_containment(_t(spark, sf_dir, "documents"), n=3)


def _lpa_oracle(iters: int = 4) -> str:
    """Unrolled fixed-round synchronous label propagation as chained
    CTEs over the shared co-occurrence pair CTE — the oracle runs the
    IDENTICAL rounds the engine's dataflow loop runs (see
    operators/graph.py label_propagation). Votes are exact integer
    counts; the argmax tie order (count DESC, label ASC) is stated as a
    row_number window here and as min(struct(-count, label)) engine-side
    — the same total order, so every label matches by construction."""
    steps = []
    prev = "r0"
    for k in range(1, iters + 1):
        steps.append(f"""
    c{k} AS (
      SELECT e.src, r.label, COUNT(*) AS c
      FROM e JOIN {prev} r ON e.dst = r.node
      GROUP BY e.src, r.label
    ), r{k} AS (
      SELECT src AS node, label FROM (
        SELECT src, label,
               row_number() OVER (PARTITION BY src
                                  ORDER BY c DESC, label) AS rn
        FROM c{k}
      ) WHERE rn = 1
    )""")
        prev = f"r{k}"
    return f"""
    {_COOC_CTE}, e AS (
      SELECT DISTINCT item AS src, neighbor AS dst FROM pairs
        WHERE item != neighbor
      UNION
      SELECT DISTINCT neighbor AS src, item AS dst FROM pairs
        WHERE item != neighbor
    ), r0 AS (
      SELECT DISTINCT src AS node, src AS label FROM e
    ),{",".join(steps)}
    SELECT node, label AS community,
           CAST(COUNT(*) OVER (PARTITION BY label) AS BIGINT)
             AS community_size
    FROM {prev}
    """


@register(
    "label_propagation_items",
    _lpa_oracle(iters=4),
    "Community detection over the symmetrized co-occurrence item graph "
    "by synchronous label propagation (Raghavan et al. 2007) — which "
    "items form a buying CLUSTER, the partition companion to "
    "pagerank_cooccurrence's centrality ranking. Fixed 4 rounds + total "
    "tie order (count DESC, label ASC) instead of the classic "
    "run-to-convergence random tie-breaks: a pure dataflow (round = "
    "broadcast join + map-side partial vote count + argmax aggregate, "
    "state localCheckpoint-pinned) the oracle unrolls round-for-round; "
    "all-integer votes, min(struct(-c, label)) == the oracle's "
    "row_number order, bit-exact cross-engine",
)
def q_label_propagation(spark, sf_dir):
    from .operators import graph

    # shared pinned co-occurrence edge list (see _cooc_sym_edges). The
    # vote rounds re-shuffle (src, label) pairs every round, and labels
    # are order-bearing (min-label tie-break + the community value
    # itself): the rounds run on INT node codes, whose order is string
    # order, and both id columns decode at the end.
    lab = graph.label_propagation(_cooc_sym_edges(spark, sf_dir), iters=4)
    return _decode_nodes(spark, sf_dir, lab, "node", "community")


@register(
    "isotonic_decreasing_urgency",
    """
    WITH b AS (
      SELECT LEAST(49, CAST(floor(o_totalprice / 10000.0) AS INT)) AS bin,
             count(*) AS n,
             SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                 THEN 1 ELSE 0 END) AS s
      FROM orders GROUP BY 1
    ),
    p AS (
      SELECT bin, n, s,
             SUM(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cn,
             SUM(s) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cs
      FROM b
    ),
    lo AS (SELECT bin AS j, cn - n AS nj, cs - s AS sj FROM p),
    hi AS (SELECT bin AS k, cn AS nk, cs AS sk FROM p),
    grid AS (
      SELECT j, k,
             CAST(sk - sj AS DOUBLE) / CAST(nk - nj AS DOUBLE) AS a
      FROM lo JOIN hi ON j <= k
    ),
    m AS (
      SELECT j, k AS i,
             MAX(a) OVER (PARTITION BY j ORDER BY k DESC
                          ROWS UNBOUNDED PRECEDING) AS mji
      FROM grid
    ),
    f AS (SELECT i, MIN(mji) AS fitted FROM m GROUP BY i)
    SELECT b.bin, CAST(b.n AS BIGINT) AS n, CAST(b.s AS BIGINT) AS s,
           CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE) AS mean_raw,
           f.fitted AS fitted
    FROM b JOIN f ON b.bin = f.i
    """,
    "ANTITONIC (non-increasing) pool-adjacent-violators fit of "
    "P(priority urgent-or-high) against order-value bins — the "
    "decreasing dual of isotonic_calibration_doclen, for scores "
    "inversely related to the label. Same exact parallel form with "
    "min/max swapped: fit(i) = min_{j<=i} max_{k>=i} avg(j..k) over "
    "prefix sums (apply the max-min form to -y and negate); one "
    "corpus scan to the <= 50-row bin table, B^2 grid + two windows, "
    "all bin-table-sized; integer counts, one IEEE division per "
    "candidate average, engine-identical min/max. fitted is "
    "non-increasing by construction",
)
def q_isotonic_decreasing(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return evaluation.isotonic_fit_bins(
        o,
        F.least(
            F.lit(49), F.floor(F.col("o_totalprice") / F.lit(10000.0)).cast("int")
        ),
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("int"),
        decreasing=True,
    )


@register(
    "unimax_source_allocation",
    """
    WITH d AS (
      SELECT source,
             CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
               x -> x != '')) AS BIGINT) AS nt
      FROM documents
    ),
    c AS (SELECT source, SUM(nt) AS n_tokens FROM d GROUP BY source),
    t AS (SELECT SUM(n_tokens) AS tot, COUNT(*) AS s FROM c),
    p AS (
      SELECT source, n_tokens, n_tokens * 2 AS capacity,
             row_number() OVER (ORDER BY n_tokens * 2, source) AS i,
             SUM(n_tokens * 2) OVER (ORDER BY n_tokens * 2, source
               ROWS UNBOUNDED PRECEDING) AS cum
      FROM c
    ),
    f AS (
      SELECT p.*, t.s, (t.tot * 9) // 5 AS b,
             CASE WHEN capacity * (t.s - i + 1)
                       <= (t.tot * 9) // 5 - (cum - capacity)
                  THEN 1 ELSE 0 END AS capped
      FROM p CROSS JOIN t
    ),
    wtr AS (
      SELECT COALESCE(MAX(CASE WHEN capped = 1 THEN i END), 0) AS m,
             COALESCE(MAX(CASE WHEN capped = 1 THEN cum END), 0) AS cum_m
      FROM f
    ),
    a AS (
      SELECT f.*, wtr.m,
             CASE WHEN f.i <= wtr.m THEN f.capacity
                  ELSE (f.b - wtr.cum_m) // (f.s - wtr.m) END AS alloc
      FROM f CROSS JOIN wtr
    )
    SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(capacity AS BIGINT) AS capacity,
           CAST(CASE WHEN i <= m THEN 1 ELSE 0 END AS BIGINT) AS is_capped,
           CAST(alloc AS BIGINT) AS alloc_tokens,
           CASE WHEN n_tokens > 0 THEN
             CAST(alloc AS DOUBLE) / CAST(n_tokens AS DOUBLE) END AS epochs,
           CASE WHEN b > 0 THEN
             CAST(alloc AS DOUBLE) / CAST(b AS DOUBLE) END AS budget_share
    FROM a
    """,
    "UniMax token-budget allocation across sources (Chung et al. 2023 "
    "ICLR): spend B = 1.8x corpus tokens as uniformly as possible with "
    "a 2-epoch per-source cap — small sources consumed in full, the "
    "rest split the remainder evenly; the principled alternative to "
    "temperature sampling (no source over-repeated, no tuned "
    "exponent). The sequential water-filling loop has a closed form "
    "over capacity-sorted prefix sums (cap boundary m = max i with "
    "cap_i*(S-i+1) <= B - cum_{i-1}, monotone in i; waterline "
    "(B - cum_m) div (S - m)); budget a RATIONAL of total tokens so "
    "the operator is scale-free. One map-side-combined per-source "
    "aggregation, then windows over the SOURCE-cardinality table "
    "(isotonic bin-table precedent); all-bigint floor division, the "
    "two doubles single final divisions — bit-exact cross-engine",
)
def q_unimax_allocation(spark, sf_dir):
    return text.unimax_allocation(
        _t(spark, sf_dir, "documents"),
        budget_num=9,
        budget_den=5,
        epoch_cap=2,
    )


@register(
    "heaps_law_vocab_growth",
    """
    WITH d AS (
      SELECT md5(CAST(doc_id AS VARCHAR)) AS k,
             list_filter(string_split_regex(trim(text), '\\s+'),
               x -> x != '') AS tk
      FROM documents
    ),
    dd AS (
      SELECT k, tk, CAST(len(tk) AS BIGINT) AS nt FROM d WHERE len(tk) >= 1
    ),
    c AS (
      SELECT k, tk, nt,
             SUM(nt) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING) AS cum
      FROM dd
    ),
    tokp AS (
      SELECT tk[i] AS token, cum - nt + i AS pos
      FROM c, UNNEST(range(1, len(tk) + 1)) AS t(i)
    ),
    fst AS (SELECT token, MIN(pos) AS fp FROM tokp GROUP BY token),
    tot AS (SELECT SUM(nt) AS n FROM dd),
    nty AS (SELECT COUNT(*) AS v FROM fst),
    bc AS (
      SELECT CASE WHEN fp <= 8 THEN 3
                  ELSE length(bin(fp - 1)) END AS kb,
             COUNT(*) AS cnt
      FROM fst GROUP BY 1
    ),
    cps AS (
      SELECT (CAST(1 AS BIGINT) << k) AS checkpoint, k
      FROM range(3, 63) AS r(k), tot
      WHERE (CAST(1 AS BIGINT) << k) < tot.n
    ),
    vt AS (
      SELECT cps.checkpoint,
             CAST(COALESCE(SUM(bc.cnt), 0) AS BIGINT) AS v_types
      FROM cps LEFT JOIN bc ON bc.kb <= cps.k GROUP BY cps.checkpoint
    ),
    curve AS (
      SELECT checkpoint, v_types FROM vt
      UNION ALL
      SELECT CAST(tot.n AS BIGINT), CAST(nty.v AS BIGINT) FROM tot, nty
    ),
    pts AS (
      SELECT checkpoint, v_types,
        CAST(round(ln(CAST(checkpoint AS DOUBLE)), 6) AS DECIMAL(18,6)) AS x,
        CAST(round(ln(CAST(v_types AS DOUBLE)), 6) AS DECIMAL(18,6)) AS y
      FROM curve
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS np,
             sum(CAST(x AS DECIMAL(38,12))) AS sx,
             sum(CAST(y AS DECIMAL(38,12))) AS sy,
             sum(CAST(x * y AS DECIMAL(38,12))) AS sxy,
             sum(CAST(x * x AS DECIMAL(38,12))) AS sxx,
             sum(CAST(y * y AS DECIMAL(38,12))) AS syy
      FROM pts
    )
    SELECT p.checkpoint, p.v_types,
           CAST(tot.n AS BIGINT) AS n_tokens,
           CAST(nty.v AS BIGINT) AS n_types,
           CASE WHEN np >= 2 AND CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0 THEN
             (CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           END AS beta,
           CASE WHEN np >= 2 AND CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0 THEN
             (CAST(sy AS DOUBLE)
                - ((CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / (CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                  * CAST(sx AS DOUBLE))
             / CAST(np AS DOUBLE)
           END AS lnk,
           CASE WHEN np >= 2
                  AND CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
                  AND CAST(np AS DOUBLE) * CAST(syy AS DOUBLE)
                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0 THEN
             (CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             * (CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / ((CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * (CAST(np AS DOUBLE) * CAST(syy AS DOUBLE)
                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
           END AS r2
    FROM pts p CROSS JOIN s CROSS JOIN tot CROSS JOIN nty
    """,
    "Heaps'-law vocabulary growth V(N) = k*N^beta over the corpus "
    "token stream (md5(id) layout, the sequence_pack order) — the "
    "corpus-saturation diagnostic pairing zipf_fit's rank-frequency "
    "line: is new data still bringing new vocabulary? Growth sampled "
    "at power-of-two checkpoints plus N; each type maps to its "
    "ceiling checkpoint by INTEGER bit-length (length(bin(pos-1)) — "
    "no transcendental decides a bucket), so the curve is a <= 60x60 "
    "theta-join cumsum over bucket counts; OLS of ln V on ln N uses "
    "the zipf 6dp-decimal exact-sum rule. One corpus-sized exchange "
    "(the parallel prefix-sum for doc offsets) + the per-type MIN "
    "(map-side combined); never a single-partition corpus window",
)
def q_heaps_law(spark, sf_dir):
    return text.heaps_law_fit(_t(spark, sf_dir, "documents"))


_COHORT_A = "substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'"


@register(
    "ks_drift_user_cohort",
    f"""
    WITH dv AS (
      SELECT event_type, value AS v,
             SUM(CASE WHEN {_COHORT_A} THEN 1 ELSE 0 END) AS c1,
             SUM(CASE WHEN {_COHORT_A} THEN 0 ELSE 1 END) AS c2
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    c AS (
      SELECT event_type, v,
             SUM(c1) OVER (PARTITION BY event_type ORDER BY v
                           ROWS UNBOUNDED PRECEDING) AS cc1,
             SUM(c2) OVER (PARTITION BY event_type ORDER BY v
                           ROWS UNBOUNDED PRECEDING) AS cc2,
             SUM(c1) OVER (PARTITION BY event_type) AS n1,
             SUM(c2) OVER (PARTITION BY event_type) AS n2
      FROM dv
    ),
    g AS (
      SELECT event_type, v, n1, n2,
             abs(CAST(cc1 AS DECIMAL(38,0)) * n2
                 - CAST(cc2 AS DECIMAL(38,0)) * n1) AS gap
      FROM c
    ),
    rk AS (
      SELECT *, row_number() OVER (PARTITION BY event_type
                                   ORDER BY gap DESC, v ASC) AS rn
      FROM g
    )
    SELECT event_type,
           CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           v AS at_value,
           CAST(gap AS VARCHAR) AS d_num,
           CASE WHEN n1 > 0 AND n2 > 0 THEN
             CAST(CAST(gap AS VARCHAR) AS DOUBLE)
               / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) END AS ks_d
    FROM rk WHERE rn = 1
    """,
    "Kolmogorov-Smirnov drift between USER COHORTS at event "
    "granularity — users split by md5(user_id) first hex digit (a "
    "rerun-stable 50/50 A/B assignment, the repo's deterministic "
    "sampling convention), one exact sup-gap test per event type from "
    "ONE scan: the cohort-experiment shape of the grouped drift "
    "dashboard (ks_drift_by_status is the time-split shape). Same "
    "rational |c1*n2 - c2*n1| integer contract, max-gap aggregate "
    "joined back, smallest-value tie-break",
)
def q_ks_user_cohort(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return evaluation.ks_two_sample(
        ev,
        "value",
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) < "8",
        group_cols=("event_type",),
    )


@register(
    "w1_drift_user_cohort",
    f"""
    WITH dv AS (
      SELECT event_type, CAST(floor(value) AS BIGINT) AS v,
             SUM(CASE WHEN {_COHORT_A} THEN 1 ELSE 0 END) AS c1,
             SUM(CASE WHEN {_COHORT_A} THEN 0 ELSE 1 END) AS c2
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    c AS (
      SELECT event_type, v, c1, c2,
             SUM(c1) OVER (PARTITION BY event_type ORDER BY v
                           ROWS UNBOUNDED PRECEDING) AS cc1,
             SUM(c2) OVER (PARTITION BY event_type ORDER BY v
                           ROWS UNBOUNDED PRECEDING) AS cc2,
             LAG(v) OVER (PARTITION BY event_type ORDER BY v) AS pv,
             SUM(c1) OVER (PARTITION BY event_type) AS n1,
             SUM(c2) OVER (PARTITION BY event_type) AS n2
      FROM dv
    ),
    g AS (
      SELECT event_type, c1, c2,
             CASE WHEN pv IS NULL THEN CAST(0 AS HUGEINT)
                  ELSE abs(CAST(cc1 - c1 AS HUGEINT) * n2
                           - CAST(cc2 - c2 AS HUGEINT) * n1)
                       * CAST(v - pv AS HUGEINT) END AS w
      FROM c
    )
    SELECT event_type,
           CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2,
           CAST(SUM(w) AS VARCHAR) AS w1_num,
           CASE WHEN SUM(c1) > 0 AND SUM(c2) > 0 THEN
             CAST(CAST(SUM(w) AS VARCHAR) AS DOUBLE)
               / (CAST(SUM(c1) AS DOUBLE) * CAST(SUM(c2) AS DOUBLE)) END AS w1
    FROM g GROUP BY 1
    """,
    "Wasserstein-1 drift between USER COHORTS at event granularity — "
    "the magnitude-aware companion to ks_drift_user_cohort (same "
    "md5(user_id) 50/50 assignment, per event type, integer grid "
    "floor(value)): an A/B experiment whose metric shifts a little "
    "EVERYWHERE shows up here even when the KS sup-gap stays small. "
    "Same DECIMAL(38,0)/HUGEINT numerator + VARCHAR transport "
    "contract, bucketed parallel prefix per group",
)
def q_w1_user_cohort(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value")).cast("bigint").alias("vgrid"),
        "user_id",
    )
    return evaluation.wasserstein_two_sample(
        ev,
        "vgrid",
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) < "8",
        group_cols=("event_type",),
    )


# Shared CTE chain for the SCAN family: canonical edges -> degree
# orientation -> wedges -> per-edge triangle support -> the sigma table
# (one row per canonical edge). MATERIALIZED on sim: the SCAN-cluster
# oracle references it from five downstream CTEs (the k-core
# exponential-inline lesson).
_SCAN_SIM_CTES = f"""
    {_COOC_CTE}, canon AS (
      SELECT DISTINCT least(item, neighbor) AS lo,
             greatest(item, neighbor) AS hi
      FROM pairs WHERE item != neighbor
    ),
    deg AS (
      SELECT node, COUNT(*) AS deg FROM (
        SELECT lo AS node FROM canon UNION ALL SELECT hi FROM canon
      ) GROUP BY node
    ),
    e AS (
      SELECT CASE WHEN dl.deg <= dh.deg THEN c.lo ELSE c.hi END AS src,
             CASE WHEN dl.deg <= dh.deg THEN c.hi ELSE c.lo END AS dst,
             CASE WHEN dl.deg <= dh.deg THEN dh.deg ELSE dl.deg END AS ddeg
      FROM canon c JOIN deg dl ON c.lo = dl.node
                   JOIN deg dh ON c.hi = dh.node
    ),
    wedge AS (
      SELECT a.src, a.dst AS x, b.dst AS y
      FROM e a JOIN e b ON a.src = b.src
      WHERE a.ddeg < b.ddeg OR (a.ddeg = b.ddeg AND a.dst < b.dst)
    ),
    closed AS (
      SELECT w.src, w.x, w.y FROM wedge w
      WHERE EXISTS (SELECT 1 FROM e WHERE e.src = w.x AND e.dst = w.y)
    ),
    tri_edges AS (
      SELECT least(src, x) AS lo, greatest(src, x) AS hi FROM closed
      UNION ALL
      SELECT least(src, y), greatest(src, y) FROM closed
      UNION ALL
      SELECT least(x, y), greatest(x, y) FROM closed
    ),
    sup AS (SELECT lo, hi, COUNT(*) AS s FROM tri_edges GROUP BY lo, hi),
    sim AS MATERIALIZED (
      SELECT c.lo AS item_a, c.hi AS item_b,
             CAST(dl.deg AS BIGINT) AS deg_a, CAST(dh.deg AS BIGINT) AS deg_b,
             CAST(COALESCE(sup.s, 0) + 2 AS BIGINT) AS common_closed,
             CAST(COALESCE(sup.s, 0) + 2 AS DOUBLE)
               / sqrt(CAST((dl.deg + 1) * (dh.deg + 1) AS DOUBLE)) AS sigma
      FROM canon c
      JOIN deg dl ON c.lo = dl.node
      JOIN deg dh ON c.hi = dh.node
      LEFT JOIN sup ON c.lo = sup.lo AND c.hi = sup.hi
    )"""


# The SCAN pair (scan_edge_similarity_items + scan_clusters_items),
# truss peeling, clustering coefficients, transitivity and exact
# triangle counts share the sigma table and its per-edge triangle
# counts — the oriented-wedge build is the dominant cost of each (r9
# bench: 13.4 s + 25.6 s with sigma built twice; 805 MB of shuffle at
# sf0.1, the suite's largest). Both relations are on INT node codes,
# fed from the coded edge pin's canonical half.
@_pinned("scan_sigma_tri")
def _scan_sigma_tri(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    from .operators import graph

    sig, tri = graph.scan_edge_similarity(
        _cooc_sym_edges(spark, sf_dir).filter(F.col("src") < F.col("dst")),
        a_col="src",
        b_col="dst",
        return_triangles=True,
    )
    return (sig.localCheckpoint(eager=True), tri)


def _scan_sigma(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _scan_sigma_tri(spark, sf_dir)[0]


@register(
    "scan_edge_similarity_items",
    _SCAN_SIM_CTES + """
    SELECT item_a, item_b, deg_a, deg_b, common_closed, sigma FROM sim
    """,
    "SCAN structural similarity per co-occurrence edge (Xu et al. KDD "
    "2007): closed-neighborhood overlap / sqrt(degree product) — the "
    "embeddedness weight separating community-internal edges from "
    "bridges, the precursor SCAN clusters on. Support = per-edge "
    "triangle count from the SAME degree-oriented wedge scheme as "
    "triangle_count_items (hubs generate no wedges, d^2 dies), each "
    "triangle exploded onto its 3 canonical edges (constant factor on "
    "the irreducible wedge cost). All-integer counts; sigma = one "
    "exact product + one CORRECTLY-ROUNDED sqrt + one division "
    "(the temperature_mix sqrt rule) — bit-exact cross-engine",
)
def q_scan_edge_similarity(spark, sf_dir):
    sim = _scan_sigma(spark, sf_dir)
    return _decode_nodes(spark, sf_dir, sim, "item_a", "item_b")


@register(
    "fd_profile_cust_priority",
    """
    WITH pc AS (
      SELECT o_custkey, o_orderpriority, COUNT(*) AS c
      FROM orders GROUP BY 1, 2
    ),
    px AS (
      SELECT o_custkey, SUM(c) AS nx, MAX(c) AS best
      FROM pc GROUP BY 1
    )
    SELECT CAST(SUM(nx) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_determinants,
           CAST(SUM(CASE WHEN nx = best THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clean_determinants,
           CAST(SUM(nx - best) AS BIGINT) AS n_violations,
           CAST(SUM(nx - best) AS DOUBLE) / CAST(SUM(nx) AS DOUBLE)
             AS g3_error
    FROM px
    """,
    "Approximate functional-dependency profile custkey -> "
    "orderpriority: the g3 error (Kivinen & Mannila 1995 — minimum "
    "row fraction to delete for the FD to hold), the data-quality "
    "primitive behind schema discovery and dedup-key selection. One "
    "map-side-combined (X, Y) count, one per-X (total, best) "
    "aggregate, one global reduce — shuffle bounded by distinct "
    "pairs; all-integer counts, one final division",
)
def q_fd_profile(spark, sf_dir):
    return relational.fd_profile(
        _t(spark, sf_dir, "orders"), ("o_custkey",), "o_orderpriority"
    )


_WORDPIECE_TAIL = """, vocab AS MATERIALIZED (
      SELECT DISTINCT unnest(string_split(seq, ' ')) AS piece FROM {prev}
    ), tgt AS MATERIALIZED (
      SELECT word, cnt, word || '</w>' AS target FROM w
    ), enc AS (
      SELECT word, cnt, target, 0 AS pos, '' AS seq,
             length(target) > 48 AS unk
      FROM tgt
      UNION ALL
      SELECT e.word, e.cnt, e.target,
             CASE WHEN m.piece IS NULL THEN length(e.target)
                  ELSE e.pos + length(m.piece) END,
             CASE WHEN m.piece IS NULL THEN e.seq
                  WHEN e.seq = '' THEN m.piece
                  ELSE e.seq || ' ' || m.piece END,
             e.unk OR m.piece IS NULL
      FROM enc e
      LEFT JOIN LATERAL (
        SELECT v.piece FROM vocab v
        WHERE v.piece = substr(e.target, e.pos + 1, length(v.piece))
        ORDER BY length(v.piece) DESC LIMIT 1
      ) m ON TRUE
      WHERE NOT e.unk AND e.pos < length(e.target)
    )
    SELECT word, CAST(cnt AS BIGINT) AS cnt,
           CASE WHEN unk THEN '[UNK]' ELSE seq END AS wp_seq,
           CAST(CASE WHEN unk THEN 1
                ELSE len(string_split(seq, ' ')) END AS BIGINT) AS n_pieces,
           CAST(CASE WHEN unk THEN 1 ELSE 0 END AS BIGINT) AS is_unk
    FROM enc WHERE unk OR pos >= length(target)"""


@register(
    "wordpiece_encode_bpe_vocab",
    _bpe_oracle(12, tail=_WORDPIECE_TAIL),
    "Greedy longest-match-first segmentation (the WordPiece INFERENCE "
    "rule, Wu et al. 2016 / the HuggingFace WordPiece contract) of "
    "every corpus word against the 12-merge BPE-learned symbol "
    "vocabulary — generally a DIFFERENT segmentation than replaying "
    "the merge table in learning order (bpe_encode_vocab), the classic "
    "greedy-vs-merge-order comparison tokenizer papers measure. The "
    "input is one row per DISTINCT word (the corpus appears only in "
    "the word count); the distinct vocabulary is collected once (which "
    "also guards the piece-length cap) and one Arrow kernel runs the "
    "greedy match per word, at most longest-piece set probes per "
    "position on exact code-point strings. Oracle: the identical "
    "greedy recursion as a "
    "recursive CTE with a LATERAL longest-match probe over the SAME "
    "unrolled BPE vocabulary. Pure substring equality and integers — "
    "no regex, no floats",
)
def q_wordpiece_encode(spark, sf_dir):
    _, seqs = _bpe_evidence(spark, sf_dir)
    vocab = seqs.select(F.explode(F.split("seq", " ")).alias("piece"))
    words = seqs.select(
        "word", "cnt", F.concat(F.col("word"), F.lit("</w>")).alias("target")
    )
    return text.wordpiece_greedy_encode(words, vocab)


@register(
    "rendezvous_shards_docs",
    """
    WITH s AS (
      SELECT doc_id, i AS shard,
             substr(md5('hrw' || '|' || CAST(i AS VARCHAR) || '|'
                        || CAST(doc_id AS VARCHAR)), 1, 8) AS sc
      FROM documents, range(0, 8) AS r(i)
    ),
    r AS (
      SELECT doc_id, shard, sc,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY sc DESC, shard ASC) AS rn
      FROM s
    )
    SELECT doc_id, CAST(shard AS INTEGER) AS shard, sc AS score_hex
    FROM r WHERE rn = 1
    """,
    "Rendezvous / highest-random-weight shard assignment (Thaler & "
    "Ravishankar 1998): every key scores all 8 shards with "
    "md5(salt|shard|key) and takes the argmax (ties -> smaller shard) "
    "— the sharding rule with MINIMAL MOVEMENT (adding a shard moves "
    "only ~1/9 of keys, modulo hashing moves almost all), the right "
    "assignment for the incrementally-maintained shard outputs "
    "(dedup-index / token-shard family). Engine: one map-only "
    "array_max over a literal (score, shard) struct array — ZERO "
    "exchanges at any corpus size (the oracle states the naive "
    "explode+window form); winning score kept so movement is "
    "auditable",
)
def q_rendezvous_shards(spark, sf_dir):
    return relational.rendezvous_shards(
        _t(spark, sf_dir, "documents"), "doc_id", n_shards=8
    )


@register(
    "cuped_cohort_events",
    """
    WITH pu AS (
      SELECT user_id,
        CAST(COALESCE(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN
          CAST(value AS DECIMAL(18,6)) END), 0) AS DECIMAL(18,6)) AS x,
        CAST(COALESCE(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN
          CAST(value AS DECIMAL(18,6)) END), 0) AS DECIMAL(18,6)) AS y
      FROM events GROUP BY user_id
    ),
    pc AS (
      SELECT user_id, x, y,
        CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
          THEN 'A' ELSE 'B' END AS cohort
      FROM pu
    ),
    g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
        CAST(CAST(SUM(CAST(x AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS sx,
        CAST(CAST(SUM(CAST(y AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS sy,
        CAST(CAST(SUM(CAST(CAST(x AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6))
          AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS sxy,
        CAST(CAST(SUM(CAST(CAST(x AS DECIMAL(19,6)) * CAST(x AS DECIMAL(19,6))
          AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS sxx,
        CAST(CAST(SUM(CAST(CAST(y AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6))
          AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS syy
      FROM pc
    ),
    c AS (
      SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_users,
        CAST(CAST(SUM(CAST(x AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS sxc,
        CAST(CAST(SUM(CAST(y AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS syc
      FROM pc GROUP BY cohort
    )
    SELECT cohort, n_users,
      syc / CAST(n_users AS DOUBLE) AS mean_y,
      CASE WHEN n * sxx - sx * sx > 0 THEN
        syc / CAST(n_users AS DOUBLE)
        - ((n * sxy - sx * sy) / (n * sxx - sx * sx))
          * (sxc / CAST(n_users AS DOUBLE) - sx / n) END AS mean_y_adj,
      CASE WHEN n * sxx - sx * sx > 0 THEN
        (n * sxy - sx * sy) / (n * sxx - sx * sx) END AS theta,
      CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
        (n * sxy - sx * sy) * (n * sxy - sx * sy)
        / ((n * sxx - sx * sx) * (n * syy - sy * sy)) END AS rho2
    FROM c CROSS JOIN g
    """,
    "CUPED variance-reduced A/B readout (Deng et al. WSDM 2013) over "
    "the md5 user cohorts: per-user pre-period value (before Jan 16) "
    "is the covariate, post-period value the metric, theta = "
    "cov/var fitted POOLED, adjusted mean y - theta*(x - mean x) per "
    "cohort — the power-saving trick every experimentation platform "
    "ships; rho2 rides along as the delivered variance reduction. "
    "agg_corr exactness rules end to end: decimal(18,6) per-user "
    "sums, (19,6)^2 -> (38,12) exact moment products, VARCHAR-"
    "transported int128 decimals, fixed final double expressions. One "
    "corpus scan to the pinned per-user table, one pooled 1-row "
    "moment aggregate broadcast back, one per-cohort aggregate",
)
def q_cuped_cohort(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return evaluation.cuped_adjusted_means(
        ev,
        F.col("ts") < F.lit("2024-01-16").cast("timestamp"),
        F.when(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) < "8",
            F.lit("A"),
        ).otherwise(F.lit("B")),
    )


def _scan_cluster_oracle(rounds: int = 8, mu: int = 3) -> str:
    """Unrolled SCAN clustering over the shared sigma CTE chain: the
    exact P75-sigma threshold (picked order statistic, the
    grouped_discrete_quantile rank rule), the mu-core rule, EXACTLY
    ``rounds`` synchronous min-label rounds over core-core eps-edges
    (chained MATERIALIZED CTEs — the pagerank/LPA unroll), then border
    attach and hub/outlier classification."""
    steps = []
    prev = "l0"
    for k in range(1, rounds + 1):
        steps.append(f"""
    m{k} AS MATERIALIZED (
      SELECT ce.node, MIN(l.label) AS nm
      FROM ce JOIN {prev} l ON ce.nbr = l.node GROUP BY ce.node
    ), l{k} AS MATERIALIZED (
      SELECT l.node, least(l.label, COALESCE(m.nm, l.label)) AS label
      FROM {prev} l LEFT JOIN m{k} m ON l.node = m.node
    )""")
        prev = f"l{k}"
    return (
        _SCAN_SIM_CTES
        + f""",
    epsv AS (
      SELECT sigma AS eps FROM (
        SELECT sigma, row_number() OVER (ORDER BY sigma) AS rn,
               COUNT(*) OVER () AS m
        FROM sim
      ) WHERE rn = (3 * m + 3) // 4
    ),
    bidir AS MATERIALIZED (
      SELECT item_a AS node, item_b AS nbr, sigma FROM sim
      UNION ALL
      SELECT item_b AS node, item_a AS nbr, sigma FROM sim
    ),
    eeps AS MATERIALIZED (
      SELECT node, nbr FROM bidir, epsv WHERE sigma >= eps
    ),
    cores AS MATERIALIZED (
      SELECT node FROM eeps GROUP BY node HAVING COUNT(*) >= {mu}
    ),
    ce AS MATERIALIZED (
      SELECT e.node, e.nbr FROM eeps e
      JOIN cores c1 ON e.node = c1.node
      JOIN cores c2 ON e.nbr = c2.node
    ),
    l0 AS MATERIALIZED (SELECT node, node AS label FROM cores),{",".join(steps)},
    cc AS MATERIALIZED (SELECT node, label AS cluster_id FROM {prev}),
    brd AS (
      SELECT e.node, MIN(cc.cluster_id) AS cluster_id
      FROM eeps e JOIN cc ON e.nbr = cc.node
      WHERE e.node NOT IN (SELECT node FROM cores)
      GROUP BY e.node
    ),
    rawc AS (
      SELECT b.node, COUNT(DISTINCT cc.cluster_id) AS nc
      FROM bidir b JOIN cc ON b.nbr = cc.node GROUP BY b.node
    ),
    an AS (SELECT DISTINCT node FROM bidir)
    SELECT an.node,
           COALESCE(cc.cluster_id, brd.cluster_id) AS cluster_id,
           CASE WHEN cc.cluster_id IS NOT NULL THEN 'core'
                WHEN brd.cluster_id IS NOT NULL THEN 'border'
                WHEN COALESCE(rawc.nc, 0) >= 2 THEN 'hub'
                ELSE 'outlier' END AS role
    FROM an
    LEFT JOIN cc ON an.node = cc.node
    LEFT JOIN brd ON an.node = brd.node
    LEFT JOIN rawc ON an.node = rawc.node
    """
    )


@register(
    "scan_clusters_items",
    _scan_cluster_oracle(rounds=8, mu=3),
    "Full SCAN structural clustering (Xu et al. KDD 2007) of the "
    "co-occurrence graph: cores (>= 3 eps-similar neighbors, eps = the "
    "EXACT P75 sigma order statistic — a fixed absolute threshold is "
    "meaningless across densities, measured P75 moves 0.55 -> 0.14 "
    "between SFs), core clusters by EXACTLY 8 synchronous min-label "
    "rounds over core-core eps-edges (the fixed-round unroll rule — "
    "run-to-convergence twin is dedup.near_dup_clusters), borders "
    "join their minimum adjacent core cluster, remaining nodes split "
    "hub (raw neighbors span >= 2 clusters) vs outlier. Sigma build "
    "is the oriented-wedge cost; the eps pick is the bucketed "
    "order-statistics backbone; each label round one join + min "
    "aggregate, state localCheckpoint-pinned",
)
def q_scan_clusters(spark, sf_dir):
    from .operators import graph

    # cluster_id is a min core code (NULL for hubs and outliers): the
    # decode's left join keeps the NULLs
    clusters = graph.scan_clusters(None, sim=_scan_sigma(spark, sf_dir))
    return _decode_nodes(spark, sf_dir, clusters, "node", "cluster_id")


def _truss_oracle(rounds: int = 3, num: int = 3, den: int = 4) -> str:
    """Unrolled fixed-round truss peel: per round, the full degree-
    oriented wedge support chain over the surviving edge CTE (the
    _SCAN_SIM_CTES support machinery, suffixed per round, MATERIALIZED
    — the kcore exponential-inline lesson), with the FROZEN initial-
    support order-statistic threshold (the SCAN eps pick rule)."""
    parts = []
    selects = []
    prev = "te0"
    for r in range(1, rounds + 1):
        parts.append(f"""
    td{r} AS MATERIALIZED (
      SELECT node, COUNT(*) AS deg FROM (
        SELECT lo AS node FROM {prev} UNION ALL SELECT hi FROM {prev})
      GROUP BY node
    ), to{r} AS MATERIALIZED (
      SELECT CASE WHEN dl.deg <= dh.deg THEN c.lo ELSE c.hi END AS src,
             CASE WHEN dl.deg <= dh.deg THEN c.hi ELSE c.lo END AS dst,
             CASE WHEN dl.deg <= dh.deg THEN dh.deg ELSE dl.deg END AS ddeg
      FROM {prev} c JOIN td{r} dl ON c.lo = dl.node
                    JOIN td{r} dh ON c.hi = dh.node
    ), tw{r} AS (
      SELECT a.src, a.dst AS x, b.dst AS y
      FROM to{r} a JOIN to{r} b ON a.src = b.src
      WHERE a.ddeg < b.ddeg OR (a.ddeg = b.ddeg AND a.dst < b.dst)
    ), tc{r} AS MATERIALIZED (
      SELECT w.src, w.x, w.y FROM tw{r} w
      WHERE EXISTS (SELECT 1 FROM to{r} e WHERE e.src = w.x AND e.dst = w.y)
    ), tt{r} AS (
      SELECT least(src, x) AS lo, greatest(src, x) AS hi FROM tc{r}
      UNION ALL SELECT least(src, y), greatest(src, y) FROM tc{r}
      UNION ALL SELECT least(x, y), greatest(x, y) FROM tc{r}
    ), ts{r} AS MATERIALIZED (
      SELECT lo, hi, COUNT(*) AS s FROM tt{r} GROUP BY lo, hi
    ), tp{r} AS MATERIALIZED (
      SELECT c.lo, c.hi, COALESCE(s.s, 0) AS sup
      FROM {prev} c LEFT JOIN ts{r} s ON c.lo = s.lo AND c.hi = s.hi
    ){", ttv AS MATERIALIZED (" + f'''
      SELECT sup AS t FROM (
        SELECT sup, row_number() OVER (ORDER BY sup, lo, hi) AS rn,
               COUNT(*) OVER () AS m
        FROM tp1
      ) WHERE rn = ({num} * m + {den - 1}) // {den}
    )''' if r == 1 else ""}, te{r} AS MATERIALIZED (
      SELECT lo, hi FROM tp{r}, ttv WHERE sup >= t
    )""")
        selects.append(
            f"SELECT CAST({r} AS BIGINT) AS round,"
            f" CAST((SELECT COUNT(*) FROM tp{r}) AS BIGINT) AS n_edges_before,"
            f" CAST((SELECT COUNT(*) FROM te{r}) AS BIGINT) AS n_survivors,"
            f" CAST((SELECT t FROM ttv) AS BIGINT) AS support_threshold"
        )
        prev = f"te{r}"
    return (
        _COOC_CTE
        + """, te0 AS MATERIALIZED (
      SELECT DISTINCT least(item, neighbor) AS lo,
             greatest(item, neighbor) AS hi
      FROM pairs WHERE item != neighbor
    ),"""
        + ",".join(parts)
        + "\n    "
        + "\n    UNION ALL ".join(selects)
    )


@register(
    "truss_peel_items",
    _truss_oracle(rounds=3, num=3, den=4),
    "Fixed-round truss peeling (k-truss, Cohen 2008) of the "
    "co-occurrence graph with the DATA-ADAPTIVE threshold rule: drop "
    "every edge whose triangle support on the surviving subgraph falls "
    "below the EXACT P75 of the initial support distribution (the SCAN "
    "eps precedent — an absolute k is meaningless across densities; "
    "measured median support moves 42 -> 10 between sf0.001 and "
    "sf0.01), threshold FROZEN across exactly 3 rounds (the fixed-"
    "round unroll rule; converged rounds show dropped=0). Per round "
    "one oriented-wedge support recomputation on the shrinking edge "
    "set + a broadcast-threshold filter; the P75 cut removes ~75% of "
    "edges before round 2, so round 1 dominates. All-integer counts; "
    "the threshold pick is the bucketed order-statistics backbone",
)
def q_truss_peel(spark, sf_dir):
    from .operators import graph

    # round-1 support = the shared pinned sigma relation's
    # common_closed - 2 on the SAME canonical edge set, and rounds 2-3
    # filter the shared pinned triangle LIST (three semi-joins) instead
    # of re-running the wedge join — r10 bench was 27.2 s with all
    # three rounds recomputing wedges from scratch. Both carry INT node
    # codes; the output is counts, so nothing decodes.
    sig, tri = _scan_sigma_tri(spark, sf_dir)
    sup0 = sig.select(
        F.col("item_a").alias("lo"),
        F.col("item_b").alias("hi"),
        (F.col("common_closed") - 2).alias("sup"),
    )
    return graph.truss_peel(None, rounds=3, sup0=sup0, tri0=tri)


@register(
    "clustering_coeff_items",
    _SCAN_SIM_CTES + """
    , inc AS (
      SELECT item_a AS node, deg_a AS deg, common_closed - 2 AS sup FROM sim
      UNION ALL
      SELECT item_b, deg_b, common_closed - 2 FROM sim
    ),
    per AS (
      SELECT node, CAST(MAX(deg) AS BIGINT) AS deg,
             CAST(SUM(sup) // 2 AS BIGINT) AS triangles
      FROM inc GROUP BY node
    )
    SELECT node, deg, triangles,
           CASE WHEN deg >= 2 THEN CAST(2 * triangles AS DOUBLE)
                  / CAST(deg * (deg - 1) AS DOUBLE)
                ELSE 0.0 END AS lcc
    FROM per
    """,
    "Per-node local clustering coefficient (Watts & Strogatz 1998) "
    "DERIVED from the shared SCAN sigma relation — no new graph pass: "
    "each canonical edge carries its triangle support and both endpoint "
    "degrees, and a triangle contributes support to exactly TWO edges "
    "at each corner, so t(v) = sum(incident support)/2 exactly (even "
    "by construction). lcc = 2t/(d(d-1)) is one correctly-rounded "
    "division over exact integers (0.0 below degree 2). One explode + "
    "one node hash-agg over the pinned `_scan_sigma` blocks — linear "
    "in edges, zero wedge recomputation at any scale",
)
def q_clustering_coeff(spark, sf_dir):
    from .operators import graph

    lcc = graph.local_clustering_coefficients(_scan_sigma(spark, sf_dir))
    return _decode_nodes(spark, sf_dir, lcc, "node")


@register(
    "graph_transitivity_items",
    _SCAN_SIM_CTES + """
    , nd AS (
      SELECT node, MAX(deg) AS d FROM (
        SELECT item_a AS node, deg_a AS deg FROM sim
        UNION ALL SELECT item_b, deg_b FROM sim
      ) GROUP BY node
    ),
    ns AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
             CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges
      FROM nd
    ),
    es AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
             CAST(SUM(common_closed - 2) // 3 AS BIGINT) AS n_triangles,
             CAST(SUM(common_closed - 2) AS BIGINT) AS t3
      FROM sim
    )
    SELECT n_nodes, n_edges, n_triangles, n_wedges,
           CASE WHEN n_wedges > 0
                THEN CAST(t3 AS DOUBLE) / CAST(n_wedges AS DOUBLE) END
             AS transitivity
    FROM es CROSS JOIN ns
    """,
    "Global clustering coefficient (transitivity = 3 x triangles / "
    "wedges) from the SAME shared sigma relation: 3T = sum(support) "
    "over canonical edges (each triangle exploded onto its 3 edges by "
    "construction), wedges = sum_v d(d-1)/2 over endpoint-recovered "
    "degrees. All-integer counts, one final division (NULL on a "
    "wedge-free graph); the summary row a graph-health dashboard pins "
    "next to triangle_count_items — and the cache means it costs two "
    "aggregates, not a wedge join",
)
def q_graph_transitivity(spark, sf_dir):
    from .operators import graph

    return graph.graph_transitivity(_scan_sigma(spark, sf_dir))


@register(
    "did_cohort_events",
    """
    WITH g AS (
      SELECT CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
               THEN 'A' ELSE 'B' END AS cohort,
             CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 'pre'
               ELSE 'post' END AS period,
             COUNT(*) AS n,
             CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR)
               AS DOUBLE) AS sv
      FROM events GROUP BY 1, 2
    ),
    m AS (
      SELECT cohort, period, CAST(n AS BIGINT) AS n, sv / n AS mean_v FROM g
    ),
    w AS (
      SELECT
        MAX(CASE WHEN cohort = 'A' AND period = 'pre' THEN mean_v END) AS a0,
        MAX(CASE WHEN cohort = 'A' AND period = 'post' THEN mean_v END) AS a1,
        MAX(CASE WHEN cohort = 'B' AND period = 'pre' THEN mean_v END) AS b0,
        MAX(CASE WHEN cohort = 'B' AND period = 'post' THEN mean_v END) AS b1
      FROM m
    )
    SELECT m.cohort, m.period, m.n, m.mean_v,
           w.b1 - w.b0 - (w.a1 - w.a0) AS did_estimate
    FROM m CROSS JOIN w
    """,
    "Difference-in-differences readout over the md5 user cohorts and "
    "the Jan-16 period split: per (cohort, period) exact-decimal mean "
    "event value plus the DiD estimate (B_post - B_pre) - (A_post - "
    "A_pre) on every row — the causal companion to cuped_cohort_events "
    "(CUPED de-noises a randomized A/B; DiD corrects a NON-randomized "
    "split for common trends). One map-side-combined 4-group "
    "aggregate; dsum exactness, VARCHAR-transported decimal, one "
    "final float expression",
)
def q_did_cohort(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    g = ev.groupBy(
        F.when(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) < "8",
            F.lit("A"),
        )
        .otherwise(F.lit("B"))
        .alias("cohort"),
        F.when(
            F.col("ts") < F.lit("2024-01-16").cast("timestamp"), F.lit("pre")
        )
        .otherwise(F.lit("post"))
        .alias("period"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        dsum("value", scale=6).alias("_sv"),
    )
    m = g.select(
        "cohort",
        "period",
        "n",
        (F.col("_sv") / F.col("n").cast("double")).alias("mean_v"),
    ).localCheckpoint(eager=True)  # 4 rows; the pivot below re-reads it

    def pick(c, p):
        return F.max(
            F.when(
                (F.col("cohort") == c) & (F.col("period") == p),
                F.col("mean_v"),
            )
        )

    w = m.agg(
        pick("A", "pre").alias("_a0"),
        pick("A", "post").alias("_a1"),
        pick("B", "pre").alias("_b0"),
        pick("B", "post").alias("_b1"),
    )
    return m.crossJoin(F.broadcast(w)).select(
        "cohort",
        "period",
        "n",
        "mean_v",
        (
            F.col("_b1") - F.col("_b0") - (F.col("_a1") - F.col("_a0"))
        ).alias("did_estimate"),
    )


_PPR_SEEDS = ("1", "2", "3")


def _ppr_oracle(iters: int = 5) -> str:
    """Unrolled personalized PageRank: the _pagerank_oracle chain with
    a seed-concentrated start vector and seed-only teleport (Haveliwala
    2002). Same 1e-12 fixed-point floor-division contract."""
    seeds_sql = ", ".join(f"'{s}'" for s in _PPR_SEEDS)
    ns = len(_PPR_SEEDS)
    steps = []
    prev = "r0"
    for k in range(1, iters + 1):
        steps.append(f"""
    s{k} AS (
      SELECT e.dst AS node, CAST(SUM(r.rank_units // d.deg) AS BIGINT) AS s
      FROM e JOIN {prev} r ON e.src = r.node JOIN deg d ON e.src = d.src
      GROUP BY e.dst
    ), r{k} AS (
      SELECT r0.node,
             CAST(CASE WHEN r0.node IN ({seeds_sql})
                    THEN (15 * 1000000000000) // (100 * {ns}) ELSE 0 END
                  + (85 * COALESCE(s{k}.s, 0)) // 100 AS BIGINT) AS rank_units
      FROM r0 LEFT JOIN s{k} USING (node)
    )""")
        prev = f"r{k}"
    return f"""
    {_COOC_CTE}, e AS (
      SELECT DISTINCT item AS src, neighbor AS dst FROM pairs
        WHERE item != neighbor
      UNION
      SELECT DISTINCT neighbor AS src, item AS dst FROM pairs
        WHERE item != neighbor
    ), deg AS (
      SELECT src, COUNT(*) AS deg FROM e GROUP BY src
    ), r0 AS (
      SELECT src AS node,
             CAST(CASE WHEN src IN ({seeds_sql})
                  THEN 1000000000000 // {ns} ELSE 0 END AS BIGINT)
               AS rank_units
      FROM deg
    ),{",".join(steps)}
    SELECT node, rank_units,
           CAST(rank_units AS DOUBLE) / 1000000000000.0 AS rank
    FROM {prev}
    """


@register(
    "ppr_seeded_cooccurrence",
    _ppr_oracle(iters=5),
    "Personalized PageRank (Haveliwala WWW 2002) over the co-occurrence "
    "graph, teleporting to the seed items {1, 2, 3} — 'which items are "
    "central RELATIVE TO these', the related-items ranking a "
    "recommender serves where pagerank_cooccurrence answers the global "
    "question. Identical fixed-point contract (1e-12-unit bigint "
    "ranks, floor division, 5 unrolled rounds, seed-concentrated start "
    "vector, seed-only teleport; an absent seed's share loudly "
    "vanishes rather than silently renormalizing); same per-round "
    "join+agg dataflow and broadcast posture",
)
def q_ppr_seeded(spark, sf_dir):
    from .operators import graph

    # shared pinned co-occurrence edge list (see _cooc_sym_edges); the
    # seeds map to node codes through the same dictionary, and an
    # absent seed keeps a code no node carries (-1) so its
    # UNITS div |seeds| share stays unassigned, never renormalized
    code = {
        r["node"]: r["code"]
        for r in _node_codes(spark, sf_dir)
        .filter(F.col("node").isin(*_PPR_SEEDS))
        .collect()
    }
    pr = graph.personalized_pagerank(
        _cooc_sym_edges(spark, sf_dir),
        tuple(code.get(s, -1) for s in _PPR_SEEDS),
        iters=5,
    )
    return _decode_nodes(spark, sf_dir, pr, "node")


@register(
    "kneser_ney_bigram_lm",
    """
    WITH toks AS (
      SELECT string_split_regex(
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
               '\\s+') AS tk
      FROM documents
    ),
    bc AS (
      SELECT split_part(bg, ' ', 1) AS prev, split_part(bg, ' ', 2) AS cur,
             COUNT(*) AS c_vw
      FROM (
        SELECT unnest(list_transform(range(1, len(tk)),
                                     i -> tk[i] || ' ' || tk[i + 1])) AS bg
        FROM toks WHERE len(tk) >= 2
      ) GROUP BY 1, 2
    ),
    ctx AS (
      SELECT prev, CAST(SUM(c_vw) AS BIGINT) AS c_v,
             CAST(COUNT(*) AS BIGINT) AS n1p_from
      FROM bc GROUP BY prev
    ),
    tow AS (
      SELECT cur, CAST(COUNT(*) AS BIGINT) AS n1p_to FROM bc GROUP BY cur
    ),
    nall AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM bc)
    SELECT bc.prev, bc.cur, CAST(bc.c_vw AS BIGINT) AS c_vw,
           ctx.c_v, ctx.n1p_from, tow.n1p_to,
           CAST(CAST(4 * CAST(bc.c_vw AS HUGEINT) * nn
                     - 3 * CAST(nn AS HUGEINT)
                     + 3 * CAST(ctx.n1p_from AS HUGEINT) * tow.n1p_to
                     AS VARCHAR) AS DOUBLE)
             / CAST(CAST(4 * CAST(ctx.c_v AS HUGEINT) * nn AS VARCHAR)
                    AS DOUBLE) AS p_kn
    FROM bc JOIN ctx ON bc.prev = ctx.prev
            JOIN tow ON bc.cur = tow.cur
            CROSS JOIN nall
    """,
    "Interpolated Kneser-Ney bigram LM (Kneser & Ney 1995, Chen & "
    "Goodman 1999) with the RATIONAL discount d = 3/4: backoff to "
    "continuation counts — the correction that keeps 'Francisco' rare "
    "outside 'San Francisco' — with every observed bigram probability "
    "ONE exact integer ratio (num = 4*c(vw)*N - 3N + 3*N1+(v.)*N1+(.w), "
    "den = 4*c(v)*N, both DECIMAL(38,0)/HUGEINT; VARCHAR-transported "
    "doubles, one correctly-rounded division — no smoothing float, no "
    "quantization). One corpus-sized bigram explode (map-side "
    "combined); context and continuation counts are aggregates over "
    "the vocabulary^2-bounded bigram table; N broadcasts",
)
def q_kneser_ney(spark, sf_dir):
    return text.kneser_ney_bigram(_t(spark, sf_dir, "documents"))


@register(
    "rule_interest_measures",
    """
    WITH sets AS (
      SELECT l_orderkey, CAST(l_partkey AS VARCHAR) AS item
      FROM lineitem GROUP BY l_orderkey, l_partkey
    ),
    nb AS (SELECT count(DISTINCT l_orderkey) AS n FROM lineitem),
    ic AS (SELECT item, count(*) AS ic FROM sets GROUP BY item),
    pc AS (
      SELECT a.item AS a, b.item AS b, count(*) AS pc
      FROM sets a JOIN sets b ON a.l_orderkey = b.l_orderkey
                             AND a.item < b.item
      GROUP BY a.item, b.item
      HAVING count(*) >= 2
    ),
    d AS (
      SELECT a AS antecedent, b AS consequent, pc FROM pc
      UNION ALL
      SELECT b, a, pc FROM pc
    )
    SELECT d.antecedent, d.consequent,
           CAST(d.pc AS BIGINT) AS pair_cnt,
           CAST(ia.ic AS BIGINT) AS antecedent_cnt,
           CAST(ib.ic AS BIGINT) AS consequent_cnt,
           CAST(nb.n AS BIGINT) AS n_baskets,
           CAST(d.pc AS DOUBLE) / CAST(nb.n AS DOUBLE) AS support,
           CAST(d.pc AS DOUBLE) / CAST(ia.ic AS DOUBLE) AS confidence,
           (CAST(d.pc AS DOUBLE) * CAST(nb.n AS DOUBLE))
             / (CAST(ia.ic AS DOUBLE) * CAST(ib.ic AS DOUBLE)) AS lift,
           CAST(d.pc AS DOUBLE) / CAST(nb.n AS DOUBLE)
             - (CAST(ia.ic AS DOUBLE) / CAST(nb.n AS DOUBLE))
               * (CAST(ib.ic AS DOUBLE) / CAST(nb.n AS DOUBLE)) AS leverage,
           CASE WHEN d.pc != ia.ic THEN
             (1.0 - CAST(ib.ic AS DOUBLE) / CAST(nb.n AS DOUBLE))
             / (1.0 - CAST(d.pc AS DOUBLE) / CAST(ia.ic AS DOUBLE)) END
             AS conviction,
           CAST(d.pc AS DOUBLE)
             / (CAST(ia.ic AS DOUBLE) + CAST(ib.ic AS DOUBLE)
                - CAST(d.pc AS DOUBLE)) AS jaccard,
           CAST(d.pc AS DOUBLE)
             / sqrt(CAST(ia.ic AS DOUBLE) * CAST(ib.ic AS DOUBLE)) AS cosine
    FROM d JOIN ic ia ON ia.item = d.antecedent
           JOIN ic ib ON ib.item = d.consequent
           CROSS JOIN nb
    """,
    "The classic interest-measure battery for 1 -> 1 rules (Tan/Kumar/"
    "Srivastava KDD 2002 survey set): lift, leverage, conviction (Brin "
    "1997; NULL = infinite for exact rules), Jaccard, cosine — beyond "
    "pair_rules' support/confidence, per DIRECTED rule. Exact long "
    "counts; every measure a FIXED float expression over their exact "
    "double images stated identically in the oracle (double products "
    "and IEEE sqrt correctly rounded) — bit-exact cross-engine. "
    "pair_support_confidence plan shape; both directions from one "
    "canonical pair table via array explode, no second aggregation",
)
def q_rule_interest(spark, sf_dir):
    baskets = basket.baskets_from_lineitem(_t(spark, sf_dir, "lineitem"))
    return rules.rule_interest_measures(baskets, min_support_count=2)


@register(
    "negative_sampling_unigram",
    """
    WITH toks AS (
      SELECT unnest(list_filter(string_split(
        regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
        x -> x != '')) AS token
      FROM documents
    ),
    c AS (SELECT token, COUNT(*) AS n FROM toks GROUP BY token
          HAVING COUNT(*) >= 1),
    w AS (
      SELECT token, CAST(n AS BIGINT) AS n,
             CAST(round(sqrt(CAST(n AS DOUBLE))
                        * sqrt(sqrt(CAST(n AS DOUBLE))), 6)
               AS DECIMAL(18,6)) AS w6
      FROM c
    ),
    t AS (SELECT CAST(SUM(CAST(w6 AS DECIMAL(38,6))) AS DECIMAL(38,6))
            AS tw FROM w)
    SELECT token, n, CAST(w6 AS DOUBLE) AS weight,
           CAST(w6 AS DOUBLE) / CAST(CAST(tw AS VARCHAR) AS DOUBLE) AS share
    FROM w CROSS JOIN t
    """,
    "word2vec negative-sampling distribution (Mikolov et al. 2013): "
    "unigram counts to the 3/4 power — n^(3/4) = sqrt(n)*sqrt(sqrt(n)), "
    "two CORRECTLY-ROUNDED sqrts and one product (the temperature_mix "
    "rule; no pow/exp transcendental), 6dp-quantized so the "
    "normalizing sum is exact decimal and order-independent "
    "(VARCHAR-transported total, the agg_corr rule). One "
    "map-side-combined token count; everything else vocabulary-sized",
)
def q_negative_sampling(spark, sf_dir):
    return text.negative_sampling_table(_t(spark, sf_dir, "documents"))


@register(
    "shapley_attribution_events",
    """
    WITH pu AS (
      SELECT user_id,
        CAST(MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) * 1
           + MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) * 2
           + MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) * 4
           + MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) * 8
           AS INTEGER) AS mask,
        MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY user_id
    ),
    bm AS (SELECT mask, COUNT(*) AS n, SUM(conv) AS c FROM pu GROUP BY mask),
    lat AS (SELECT CAST(i AS INTEGER) AS s FROM range(0, 16) AS r(i)),
    v AS (
      SELECT s, COALESCE(CAST(bm.c AS DOUBLE) / CAST(bm.n AS DOUBLE), 0.0)
               AS v
      FROM lat LEFT JOIN bm ON lat.s = bm.mask
    ),
    ch AS (SELECT * FROM (VALUES ('click', 1), ('error', 2),
                                 ('signup', 4), ('view', 8))
           AS t(channel, bit)),
    pr AS (
      SELECT ch.channel, l.s, v0.v AS v0, v1.v AS v1,
             CASE bit_count(l.s) WHEN 0 THEN 6 WHEN 1 THEN 2
                                 WHEN 2 THEN 2 WHEN 3 THEN 6 END AS a
      FROM ch JOIN lat l ON (l.s & ch.bit) = 0
      JOIN v v0 ON v0.s = l.s
      JOIN v v1 ON v1.s = l.s + ch.bit
    ),
    phi AS (
      SELECT channel,
        CAST(SUM(CAST(round(CAST(a AS DOUBLE) * (v1 - v0) / 24.0, 6)
                      AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS p
      FROM pr GROUP BY channel
    ),
    tt AS (
      SELECT ch.channel, CAST(SUM(bm.n) AS BIGINT) AS tu,
             CAST(SUM(bm.c) AS BIGINT) AS tc
      FROM ch JOIN bm ON (bm.mask & ch.bit) != 0 GROUP BY ch.channel
    )
    SELECT phi.channel, CAST(p AS DOUBLE) AS phi,
           CAST(COALESCE(tt.tu, 0) AS BIGINT) AS touched_users,
           CAST(COALESCE(tt.tc, 0) AS BIGINT) AS touched_conversions
    FROM phi LEFT JOIN tt ON phi.channel = tt.channel
    """,
    "Exact Shapley-value channel attribution (Shapley 1953; the "
    "data-driven formulation of Zhao et al. 2018) over the four "
    "non-purchase event channels: each channel's credit is the "
    "factorial-weighted average marginal conversion-rate contribution "
    "across the 2^4 subset lattice, v(S) = conversion rate of users "
    "touching EXACTLY S (unobserved subsets loudly contribute 0) — "
    "the order-free counterpart to attribution_markov_removal's path "
    "model. Exact integer factorial weights (denominator 4!), one "
    "correctly-rounded division per v, per-term 6dp quantization "
    "before the EXACT decimal sum (a float sum over subset terms "
    "would be order-dependent). One corpus scan to the per-user "
    "(mask, converted) table; the lattice, v table and marginal "
    "pairs are all <= 16-row broadcast constructs",
)
def q_shapley_attribution(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return evaluation.shapley_attribution(
        ev, ("click", "error", "signup", "view"), "purchase"
    )


@register(
    "qq_deciles_user_cohort",
    f"""
    WITH d AS (
      SELECT CASE WHEN {_COHORT_A} THEN 'a' ELSE 'b' END AS side,
             value AS v
      FROM events WHERE value IS NOT NULL
    ),
    c AS (
      SELECT side, v, COUNT(*) AS vc FROM d GROUP BY side, v
    ),
    cum AS (
      SELECT side, v,
             SUM(vc) OVER (PARTITION BY side ORDER BY v
                           ROWS UNBOUNDED PRECEDING) AS cc,
             SUM(vc) OVER (PARTITION BY side) AS n
      FROM c
    ),
    qs AS (SELECT CAST(i AS BIGINT) AS q FROM range(1, 10) AS r(i)),
    picked AS (
      SELECT side, q, MIN(v) AS qv,
             CAST(MIN((q * n + 9) // 10) AS BIGINT) AS rk
      FROM cum CROSS JOIN qs
      WHERE cc >= (q * n + 9) // 10
      GROUP BY side, q
    )
    SELECT q,
           MAX(CASE WHEN side = 'a' THEN rk END) AS rank_a,
           MAX(CASE WHEN side = 'b' THEN rk END) AS rank_b,
           MAX(CASE WHEN side = 'a' THEN qv END) AS value_a,
           MAX(CASE WHEN side = 'b' THEN qv END) AS value_b,
           MAX(CASE WHEN side = 'b' THEN qv END)
             - MAX(CASE WHEN side = 'a' THEN qv END) AS qq_gap
    FROM picked GROUP BY q
    """,
    "Two-sample QQ decile table between the md5 user cohorts — WHERE "
    "on the distribution the cohorts diverge, the diagnostic behind "
    "the KS sup-gap and W1 area numbers (ks/w1_drift_user_cohort). "
    "Exact PICKED order statistics at ranks ceil(q*n/10) (the "
    "grouped_discrete_quantile rule — a value that exists in the "
    "data, never an interpolated float; NULLs excluded, the KS rule); "
    "engine uses the bucketed parallel prefix (grouped_value_cum), "
    "the oracle states the naive per-side window form",
)
def q_qq_deciles(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return evaluation.qq_quantile_table(
        ev,
        "value",
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) < "8",
        q_den=10,
        bucket_fn=lambda v: F.floor(v / F.lit(50.0)),
    )


# The driver's CORRECTNESS gate checks the first 50 entries of queries(),
# so the emission order decides which evidence the next driver round
# refreshes. NEWEST_GREEN (generated by tools/evidence_ledger.py from the
# CORRECTNESS_r*.json records) holds each query's newest green driver
# round; _CHANGED holds the queries whose implementation changed since
# that row, with the round that changed them. Remove an entry once a
# record at or after that round is green for it (a test fails on a
# stale one).
_CHANGED = {
    "kmeans_embeddings": 14,
    "semantic_dedup_embeddings": 14,
    "cluster_topics_embeddings": 14,
    "record_linkage_em": 14,
    "record_linkage_em_fit": 14,
    "pca_top_component_embeddings": 14,
    "pca_two_components_embeddings": 14,
    "wordpiece_encode_bpe_vocab": 14,
    "ngram_jaccard_pairs": 14,
    "dedup_clusters": 14,
    "dedup_cluster_canonical": 14,
    "golden_record_docs": 14,
    "doc_winnow_fingerprint_verified": 14,
    "containment_near_dup": 14,
    "containment_quotes_trigram": 14,
    "normalize_text_nfc": 14,
    "cooccurrence_pairs": 15,
    "cooccurrence_pairs_joined": 15,
    "cooccurrence_pairs_skewed": 15,
    "cooccurrence_stripes": 15,
    "cooccurrence_topk": 15,
    "cooccurrence_sessions": 15,
    "pair_rules": 15,
    "rule_interest_measures": 15,
    "fpgrowth_itemsets": 15,
    "fpgrowth_itemsets_pairs": 15,
    "fpgrowth_rules_pairs": 15,
    "pagerank_cooccurrence": 15,
    "ppr_seeded_cooccurrence": 15,
    "label_propagation_items": 15,
    "bfs_hops_items": 15,
    "kcore_peel_items": 15,
    "triangle_count_sampled": 15,
    "triangle_count_items": 15,
    "scan_edge_similarity_items": 15,
    "scan_clusters_items": 15,
    "clustering_coeff_items": 15,
    "graph_transitivity_items": 15,
    "truss_peel_items": 15,
}


def evidence_due(name: str, newest_green: dict[str, int], changed: dict[str, int]) -> bool:
    """True when name has no green driver row, or changed after its newest
    one. A round's record covers that round's changes."""
    green = newest_green.get(name)
    return green is None or green < changed.get(name, 0)


def evidence_order(
    names: list[str], newest_green: dict[str, int], changed: dict[str, int]
) -> list[str]:
    """The ``evidence_due`` names first, in the given order; then the rest
    by ascending newest green round (stable, so the given order breaks
    ties)."""
    due = {n for n in names if evidence_due(n, newest_green, changed)}
    head = [n for n in names if n in due]
    tail = sorted((n for n in names if n not in due), key=newest_green.__getitem__)
    return head + tail


def _ordered() -> dict[str, Query]:
    """Registry order exposed to the driver (``evidence_order``)."""
    names = evidence_order(list(REGISTRY), NEWEST_GREEN, _CHANGED)
    return {n: REGISTRY[n] for n in names}


def shared_evidence_builders() -> dict[str, Callable[[SparkSession, str], object]]:
    """Every ``_pinned`` shared-evidence builder, in definition order.
    Calling one forces the COLD build; a second call is a store hit.
    ``bench.py`` times these once per full run and reports them as
    ``pin_builds`` rows next to the per-query marginal walls, which
    exclude pin construction by design (warmup-absorbed)."""
    return dict(_PINS)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q.fn for name, q in _ordered().items()}


def oracle_sql() -> dict[str, str]:
    return {name: q.oracle for name, q in _ordered().items() if q.oracle is not None}
