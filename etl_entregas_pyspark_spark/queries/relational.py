"""Relational query corpus over the TPC-H-ish star schema: scans, filters,
projections, the full join family, grouped/rollup/cube aggregation, window
functions, sort/limit/top-k, set operations, and the scalar-function
library (SURVEY.md §2.2–§2.8).

The reference exercises only scan→filter→derive→project (its §2 inventory
has zero joins/aggs/windows); everything here is the declared capability
surface of the new engine, expressed as pure DataFrame plans so Catalyst
handles pushdown/pruning/join-strategy selection.

Float determinism: every double sum is computed as ``sum(decimal-cast)``
then cast back to double — decimal addition is exact and order-independent,
so results are bitwise identical regardless of partitioning, on Spark and
on the DuckDB oracle alike.
"""

from __future__ import annotations

from itertools import chain

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_entregas_pyspark_spark.io.readers import read_table as T
from etl_entregas_pyspark_spark.queries.registry import register


def spread_if_narrow(df: DataFrame, *keys: str, target: int | None = None) -> DataFrame:
    """Hash-repartition ``df`` on ``keys`` ONLY when it arrives too narrow
    to feed the session's cores.

    Every testdata parquet is a single row group, so locally each scan is
    ONE input split and any CPU-heavy map stage downstream would run in one
    task — the repo-wide ``.repartition(defaultParallelism, keys)`` idiom
    fixes that (guide §2.5 input skew: "repartition immediately after the
    read"). But the EXCHANGE itself must not be unconditional: at
    production scale the same scan arrives with thousands of splits and the
    repartition becomes a full extra pass over the base table for nothing
    (r15 VERDICT #1). The guard: skip the exchange when the incoming
    partition count is already within 2x of ``defaultParallelism`` — below
    that, gaining <2x parallelism never repays shuffling the whole input.

    The partition count comes from ``df.rdd.getNumPartitions()``, which
    physically plans but runs no job for the scan-shaped inputs this is
    applied to (no exchange below it, so AQE has no stage to materialize).
    Only use at scan+narrow-op sites; a post-shuffle frame is already wide
    and would be skipped anyway, but its ``.rdd`` can trigger stage
    execution under AQE. Degenerate inputs the split count cannot see
    (e.g. a multi-GB file that is one row group, where byte-range splits
    are empty) are an ingest bug to fix at the source, not here.

    ``target`` overrides the partition goal (default
    ``defaultParallelism``) for callers with a deliberate cap — e.g. the
    Arrow/mapInPandas boundary sites that size to their Python-worker
    budget. With no ``keys`` the spread is keyless round-robin."""
    if target is None:
        target = df.sparkSession.sparkContext.defaultParallelism
    if 2 * df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, *keys) if keys else df.repartition(target)


def dsum(col: Column, scale: int = 4) -> Column:
    """Deterministic order-independent sum of doubles: per-row fixed-point
    quantization ``floor(x·10^scale)`` to bigint, exact integer sum, back to
    double. ``floor`` of the same IEEE double is identical on every engine
    (unlike double→decimal casts: Spark rounds HALF_UP on the shortest
    repr, DuckDB truncates — they disagree on half-boundary values), and
    the integer sum is partitioning-invariant."""
    q = 10 ** scale
    return F.sum(F.floor(col * F.lit(float(q))).cast("long")).cast("double") / F.lit(float(q))


def rnd(col: Column, scale: int) -> Column:
    """Deterministic half-up rounding of a double: floor(x·10^k + 0.5)/10^k.
    Same caveat as dsum — native round() disagrees across engines on
    half-boundary shortest-repr values (1.005 → 1.01 vs 1.00)."""
    q = float(10 ** scale)
    return F.floor(col * F.lit(q) + F.lit(0.5)).cast("long") / F.lit(q)


def _ts(s: str) -> Column:
    return F.to_timestamp(F.lit(s))


# SQL fragments mirroring dsum() / rnd()
def _dsum_sql(expr: str, scale: int = 4) -> str:
    q = "1" + "0" * scale + ".0"
    return f"CAST(SUM(CAST(FLOOR(({expr}) * {q}) AS BIGINT)) AS DOUBLE) / {q}"


def _rnd_sql(expr: str, scale: int) -> str:
    q = "1" + "0" * scale + ".0"
    return f"FLOOR(({expr}) * {q} + 0.5) / {q}"


# ---------------------------------------------------------------------------
# Aggregation
# ---------------------------------------------------------------------------

@register(
    "q01_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {_dsum_sql('l_quantity')} AS sum_qty,
           {_dsum_sql('l_extendedprice')} AS sum_base_price,
           {_dsum_sql('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {_dsum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           {_rnd_sql(_dsum_sql('l_quantity') + ' / COUNT(*)', 4)} AS avg_qty,
           {_rnd_sql(_dsum_sql('l_extendedprice') + ' / COUNT(*)', 4)} AS avg_price,
           {_rnd_sql(_dsum_sql('l_discount', 6) + ' / COUNT(*)', 6)} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1 flavor: grouped pricing summary with exact decimal sums",
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= _ts("2000-12-01"))
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc * (1 + F.col("l_tax"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum(F.col("l_quantity")).alias("sum_qty"),
        dsum(F.col("l_extendedprice")).alias("sum_base_price"),
        dsum(disc).alias("sum_disc_price"),
        dsum(charge).alias("sum_charge"),
        rnd(dsum(F.col("l_quantity")) / F.count("*"), 4).alias("avg_qty"),
        rnd(dsum(F.col("l_extendedprice")) / F.count("*"), 4).alias("avg_price"),
        rnd(dsum(F.col("l_discount"), 6) / F.count("*"), 6).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


@register(
    "q06_global_agg",
    f"""
    SELECT {_dsum_sql('l_extendedprice * l_discount')} AS revenue,
           COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24
    """,
    doc="TPC-H Q6 flavor: global ungrouped aggregate with selective filter",
)
def q06_global_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1997-01-01"))
        & (F.col("l_discount").between(0.03, 0.07))
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
        F.count("*").alias("n_rows"),
    )


@register(
    "q27_conditional_agg",
    f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
           {_rnd_sql("CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)", 4)} AS finished_share
    FROM orders GROUP BY o_orderpriority
    """,
    doc="single-pass conditional aggregation (sum-of-when — the engine's quality-metric pattern)",
    tier="basic",
)
def q27_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    fin = F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
    return o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.sum(fin).alias("n_finished"),
        rnd(F.sum(fin).cast("double") / F.count("*"), 4).alias("finished_share"),
    )


@register(
    "q28_having",
    """
    SELECT n_orders, COUNT(*) AS n_customers FROM (
        SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 8
    ) GROUP BY n_orders
    """,
    doc="aggregate-of-aggregate with HAVING",
    tier="basic",
)
def q28_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(F.count("*").alias("n_orders")).filter(F.col("n_orders") >= 8)
    return per_cust.groupBy("n_orders").agg(F.count("*").alias("n_customers"))


@register(
    "q12_rollup",
    f"""
    SELECT r_name, n_name,
           GROUPING(r_name) AS grp_region, GROUPING(n_name) AS grp_nation,
           COUNT(*) AS n_customers,
           {_dsum_sql('c_acctbal', 2)} AS total_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
    doc="hierarchical rollup with GROUPING indicators",
    tier="basic",
)
def q12_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer")
    n = T(spark, sf_dir, "nation")
    r = T(spark, sf_dir, "region")
    joined = c.join(n, c.c_nationkey == n.n_nationkey).join(r, n.n_regionkey == r.r_regionkey)
    return joined.rollup("r_name", "n_name").agg(
        F.grouping("r_name").alias("grp_region"),
        F.grouping("n_name").alias("grp_nation"),
        F.count("*").alias("n_customers"),
        dsum(F.col("c_acctbal"), 2).alias("total_acctbal"),
    )


@register(
    "q13_cube",
    f"""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag) AS grp_flag, GROUPING(l_linestatus) AS grp_status,
           COUNT(*) AS n_rows, {_dsum_sql('l_quantity')} AS sum_qty
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    doc="full cube over two dimensions",
    tier="basic",
)
def q13_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").alias("grp_flag"),
        F.grouping("l_linestatus").alias("grp_status"),
        F.count("*").alias("n_rows"),
        dsum(F.col("l_quantity")).alias("sum_qty"),
    )


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------

@register(
    "q03_top_orders",
    f"""
    SELECT l_orderkey,
           {_dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue,
           o_orderdate
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate > TIMESTAMP '1998-01-01'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3 flavor: 3-way join + grouped revenue + deterministic top-k",
)
def q03_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = T(spark, sf_dir, "orders").filter(F.col("o_orderdate") < _ts("1998-01-01"))
    li = T(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > _ts("1998-01-01"))
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dsum(revenue).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "q04_order_priority",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01' AND o_orderdate < TIMESTAMP '1996-10-01'
      AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
    doc="TPC-H Q4 flavor: EXISTS decorrelated to a left-semi join",
    tier="basic",
)
def q04_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-07-01")) & (F.col("o_orderdate") < _ts("1996-10-01"))
    )
    li = T(spark, sf_dir, "lineitem")
    semi = o.join(
        li, (li.l_orderkey == o.o_orderkey) & (li.l_shipdate > o.o_orderdate), "left_semi"
    )
    return semi.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


@register(
    "q05_region_revenue",
    f"""
    SELECT n_name, {_dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'REGION_1'
      AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
    doc="TPC-H Q5 flavor: 6-way join with small dims broadcast",
)
def q05_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01")) & (F.col("o_orderdate") < _ts("1998-01-01"))
    )
    li = T(spark, sf_dir, "lineitem")
    s = T(spark, sf_dir, "supplier")
    n = T(spark, sf_dir, "nation")
    r = T(spark, sf_dir, "region").filter(F.col("r_name") == "REGION_1")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(revenue).alias("revenue"))
    )


@register(
    "q07_left_join_counts",
    """
    SELECT c.c_custkey, c.c_mktsegment, COUNT(o.o_orderkey) AS n_orders_1995
    FROM customer c
    LEFT JOIN (SELECT * FROM orders
               WHERE o_orderdate >= TIMESTAMP '1995-01-01'
                 AND o_orderdate < TIMESTAMP '1996-01-01') o
      ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey, c.c_mktsegment
    """,
    doc="left outer join preserving unmatched rows (COUNT of nullable side)",
    tier="basic",
)
def q07_left_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1995-01-01")) & (F.col("o_orderdate") < _ts("1996-01-01"))
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey, c.c_mktsegment)
        .agg(F.count(o.o_orderkey).alias("n_orders_1995"))
    )


@register(
    "q08_anti_join",
    """
    SELECT c_mktsegment, COUNT(*) AS n_inactive
    FROM customer
    WHERE NOT EXISTS (
        SELECT 1 FROM orders WHERE o_custkey = c_custkey
          AND o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-07-01')
    GROUP BY c_mktsegment
    """,
    doc="left-anti join: customers with no orders in the window",
    tier="basic",
)
def q08_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1995-01-01")) & (F.col("o_orderdate") < _ts("1995-07-01"))
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_inactive"))
    )


@register(
    "q09_semi_join",
    """
    SELECT c_nationkey, COUNT(*) AS n_customers
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
    GROUP BY c_nationkey
    """,
    doc="left-semi join: customers having at least one finished order",
    tier="basic",
)
def q09_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_customers"))
    )


@register(
    "q10_full_outer",
    """
    SELECT COALESCE(cu.nk, su.nk) AS nationkey,
           COALESCE(cu.n_customers, 0) AS n_customers,
           COALESCE(su.n_suppliers, 0) AS n_suppliers
    FROM (SELECT c_nationkey AS nk, COUNT(*) AS n_customers FROM customer GROUP BY c_nationkey) cu
    FULL OUTER JOIN
         (SELECT s_nationkey AS nk, COUNT(*) AS n_suppliers FROM supplier GROUP BY s_nationkey) su
    ON cu.nk = su.nk
    """,
    doc="full outer join of two aggregates with COALESCE null-merge",
    tier="basic",
)
def q10_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = (
        T(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count("*").alias("n_customers"))
    )
    su = (
        T(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count("*").alias("n_suppliers"))
    )
    joined = cu.join(su, cu.nk == su.nk, "full_outer")
    return joined.select(
        F.coalesce(cu.nk, su.nk).alias("nationkey"),
        F.coalesce(F.col("n_customers"), F.lit(0)).alias("n_customers"),
        F.coalesce(F.col("n_suppliers"), F.lit(0)).alias("n_suppliers"),
    )


@register(
    "q11_broadcast_brand",
    f"""
    SELECT p_brand, COUNT(*) AS n_items,
           {_dsum_sql('l_quantity')} AS sum_qty,
           {_dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
    doc="fact ⋈ broadcast(dim) aggregation — the scalable form of the map-literal lookup",
)
def q11_broadcast_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    p = T(spark, sf_dir, "part")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_items"),
            dsum(F.col("l_quantity")).alias("sum_qty"),
            dsum(revenue).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------

@register(
    "q14_window_topn",
    """
    SELECT o_custkey, o_orderkey, rn FROM (
        SELECT o_custkey, o_orderkey,
               ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders)
    WHERE rn <= 3
    """,
    doc="per-group top-N via row_number with unique tie-break",
)
def q14_window_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.select("o_custkey", "o_orderkey", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 3)
    )


@register(
    "q15_window_running",
    """
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
    FROM orders
    """,
    doc="running total per customer (exact decimal accumulation)",
    tier="basic",
)
def q15_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double").alias("running_spend"),
    )


@register(
    "q16_window_lag",
    f"""
    SELECT o_custkey, o_orderkey,
           {_rnd_sql('''o_totalprice - LAG(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)''', 2)} AS delta_vs_prev
    FROM orders
    """,
    doc="lag: per-customer order-to-order spend delta (NULL for first order)",
    tier="basic",
)
def q16_window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        rnd(F.col("o_totalprice") - F.lag("o_totalprice").over(w), 2).alias("delta_vs_prev"),
    )


@register(
    "q17_window_rank_ntile",
    f"""
    SELECT o_orderkey,
           NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile,
           {_rnd_sql('PERCENT_RANK() OVER (ORDER BY o_totalprice, o_orderkey)', 6)} AS prank
    FROM orders WHERE o_orderstatus = 'O'
    """,
    doc="global ntile + percent_rank (the true top-20% flag the reference "
    "approximates with a constant). Deliberately the non-scalable shape — a "
    "single-partition global sort; at scale use q71 (scalar percentile "
    "threshold broadcast to a map-side flag) or q35 (percentile_approx)",
    tier="basic",
)
def q17_window_rank_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    w = Window.orderBy(F.col("o_totalprice"), F.col("o_orderkey"))
    return o.select(
        "o_orderkey",
        F.ntile(10).over(w).alias("decile"),
        rnd(F.percent_rank().over(w), 6).alias("prank"),
    )


# ---------------------------------------------------------------------------
# Sort / limit / distinct / set ops
# ---------------------------------------------------------------------------

@register(
    "q18_topk_orders",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
    doc="global deterministic top-k (TakeOrderedAndProject, no full sort)",
)
def q18_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        T(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@register(
    "q19_set_ops",
    """
    SELECT 'both' AS tag, nk FROM
        (SELECT DISTINCT c_nationkey AS nk FROM customer
         INTERSECT SELECT DISTINCT s_nationkey FROM supplier)
    UNION ALL
    SELECT 'customer_only' AS tag, nk FROM
        (SELECT DISTINCT c_nationkey AS nk FROM customer
         EXCEPT SELECT DISTINCT s_nationkey FROM supplier)
    UNION ALL
    SELECT 'all' AS tag, nk FROM
        (SELECT DISTINCT c_nationkey AS nk FROM customer
         UNION SELECT DISTINCT s_nationkey FROM supplier)
    """,
    doc="union / intersect / except over nation keys, tagged",
    tier="basic",
)
def q19_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = T(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk")).distinct()
    su = T(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk")).distinct()
    both = cu.intersect(su).select(F.lit("both").alias("tag"), "nk")
    conly = cu.exceptAll(su).distinct().select(F.lit("customer_only").alias("tag"), "nk")
    union = cu.union(su).distinct().select(F.lit("all").alias("tag"), "nk")
    return both.unionAll(conly).unionAll(union)


@register(
    "q20_distinct",
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    doc="distinct pairs (hash-aggregate dedup)",
    tier="basic",
)
def q20_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


# ---------------------------------------------------------------------------
# Scalar-function library (F1–F22 re-exercised over the star schema)
# ---------------------------------------------------------------------------

@register(
    "q21_string_funcs",
    """
    SELECT p_partkey,
           UPPER(p_type) AS type_upper,
           SUBSTR(p_name, 1, 8) AS name_prefix,
           LENGTH(p_name) AS name_len,
           CONCAT(p_brand, '#', p_type) AS brand_type,
           REPLACE(p_name, ' ', '_') AS name_snake,
           LPAD(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
           TRIM(CONCAT('  ', p_brand, '  ')) AS brand_trim
    FROM part
    """,
    doc="string function battery (upper/substr/length/concat/replace/lpad/trim)",
    tier="basic",
)
def q21_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = T(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_type").alias("type_upper"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.length("p_name").alias("name_len"),
        F.concat(F.col("p_brand"), F.lit("#"), F.col("p_type")).alias("brand_type"),
        F.regexp_replace("p_name", " ", "_").alias("name_snake"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.trim(F.concat(F.lit("  "), F.col("p_brand"), F.lit("  "))).alias("brand_trim"),
    )


@register(
    "q22_date_funcs",
    """
    SELECT o_orderdate,
           YEAR(o_orderdate) AS y, QUARTER(o_orderdate) AS q,
           MONTH(o_orderdate) AS m, DAY(o_orderdate) AS d,
           DAYOFWEEK(o_orderdate) + 1 AS dow,
           WEEKOFYEAR(o_orderdate) AS woy,
           CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS month_start,
           COUNT(*) AS n_orders
    FROM orders GROUP BY o_orderdate
    """,
    doc="temporal derivations (year/quarter/month/day/dayofweek/weekofyear/trunc); "
    "dow normalized to Spark's 1=Sunday convention on the oracle side",
    tier="basic",
)
def q22_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return o.groupBy("o_orderdate").agg(F.count("*").alias("n_orders")).select(
        "o_orderdate",
        F.year(d).alias("y"),
        F.quarter(d).alias("q"),
        F.month(d).alias("m"),
        F.dayofmonth(d).alias("d"),
        F.dayofweek(d).alias("dow"),
        F.weekofyear(d).alias("woy"),
        F.date_trunc("month", d).alias("month_start"),
        "n_orders",
    )


@register(
    "q23_null_handling",
    """
    SELECT o_orderkey,
           NULLIF(o_orderstatus, 'O') AS status_or_null,
           COALESCE(NULLIF(o_orderstatus, 'O'), 'OPEN') AS status_filled,
           CASE WHEN o_orderstatus = 'O' THEN NULL ELSE o_totalprice END AS closed_price,
           o_orderstatus IS NULL AS is_null_status
    FROM orders WHERE o_orderkey <= 1000
    """,
    doc="null semantics: nullif / coalesce / CASE-to-null / IS NULL",
    tier="basic",
)
def q23_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 1000)
    st = F.col("o_orderstatus")
    return o.select(
        "o_orderkey",
        F.nullif(st, F.lit("O")).alias("status_or_null"),
        F.coalesce(F.nullif(st, F.lit("O")), F.lit("OPEN")).alias("status_filled"),
        F.when(st == "O", F.lit(None).cast("double")).otherwise(F.col("o_totalprice")).alias("closed_price"),
        st.isNull().alias("is_null_status"),
    )


@register(
    "q24_case_buckets",
    f"""
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_quantity <= 20 THEN 'BAJO' WHEN l_quantity <= 35 THEN 'MEDIO'
                WHEN l_quantity <= 45 THEN 'ALTO' ELSE 'MUY_ALTO' END AS rango_volumen,
           CASE WHEN l_quantity * l_extendedprice > 1000000 THEN TRUE ELSE FALSE END AS es_alto_valor,
           CASE WHEN l_discount = 0 THEN TRUE ELSE FALSE END AS sin_descuento,
           {_rnd_sql('l_extendedprice * (1 - l_discount)', 2)} AS precio_neto
    FROM lineitem WHERE l_orderkey <= 500
    """,
    doc="entregas-style derived columns (bucket CASE chains, boolean flags, rounded arithmetic — F2/F16/F17/F18 parity shapes)",
    tier="basic",
)
def q24_case_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 500)
    q = F.col("l_quantity")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.when(q <= 20, "BAJO").when(q <= 35, "MEDIO").when(q <= 45, "ALTO").otherwise("MUY_ALTO").alias("rango_volumen"),
        F.when(q * F.col("l_extendedprice") > 1000000, F.lit(True)).otherwise(F.lit(False)).alias("es_alto_valor"),
        F.when(F.col("l_discount") == 0, F.lit(True)).otherwise(F.lit(False)).alias("sin_descuento"),
        rnd(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias("precio_neto"),
    )


@register(
    "q25_map_lookup",
    """
    SELECT n_name,
           CASE n_regionkey WHEN 0 THEN 'AMERICA' WHEN 1 THEN 'ASIA' WHEN 2 THEN 'EUROPE'
                            WHEN 3 THEN 'AFRICA' WHEN 4 THEN 'OCEANIA' END AS region_alias
    FROM nation
    """,
    doc="map-literal lookup (F6 parity: miss → NULL); scalable form is q11's broadcast join",
    tier="basic",
)
def q25_map_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = T(spark, sf_dir, "nation")
    names = {0: "AMERICA", 1: "ASIA", 2: "EUROPE", 3: "AFRICA", 4: "OCEANIA"}
    m = F.create_map(*chain.from_iterable((F.lit(k), F.lit(v)) for k, v in names.items()))
    return n.select("n_name", m[F.col("n_regionkey")].alias("region_alias"))


@register(
    "q26_math_funcs",
    f"""
    SELECT p_partkey,
           ABS(p_retailprice - 1000) AS abs_delta,
           CAST(CEIL(p_retailprice / 100) AS BIGINT) AS price_ceil,
           CAST(FLOOR(p_retailprice / 100) AS BIGINT) AS price_floor,
           {_rnd_sql('SQRT(p_retailprice)', 4)} AS price_sqrt,
           {_rnd_sql('LN(p_retailprice + 1)', 4)} AS price_ln,
           {_rnd_sql('POWER(p_size, 2)', 1)} AS size_sq,
           MOD(p_size, 7) AS size_mod
    FROM part
    """,
    doc="math battery (abs/ceil/floor/sqrt/ln/power/mod; transcendentals rounded to absorb libm ulp differences)",
    tier="basic",
)
def q26_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = T(spark, sf_dir, "part")
    price = F.col("p_retailprice")
    return p.select(
        "p_partkey",
        F.abs(price - 1000).alias("abs_delta"),
        F.ceil(price / 100).alias("price_ceil"),
        F.floor(price / 100).alias("price_floor"),
        rnd(F.sqrt(price), 4).alias("price_sqrt"),
        rnd(F.log(price + 1), 4).alias("price_ln"),
        rnd(F.pow(F.col("p_size"), 2), 1).alias("size_sq"),
        (F.col("p_size") % 7).alias("size_mod"),
    )


# ---------------------------------------------------------------------------
# q81 — cross-table reconciliation (referential-integrity data quality)
# ---------------------------------------------------------------------------

@register(
    "q81_reconciliation",
    f"""
    WITH li AS (
        SELECT l_orderkey,
               COUNT(*) AS n_lines,
               {_dsum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 2)} AS lines_total
        FROM lineitem GROUP BY l_orderkey
    )
    SELECT o.o_orderstatus AS status,
           COUNT(*) AS n_orders,
           CAST(SUM(CASE WHEN li.l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphan_orders,
           CAST(SUM(CASE WHEN li.n_lines IS NOT NULL AND li.n_lines > 7 THEN 1 ELSE 0 END) AS BIGINT) AS n_overfull,
           {_rnd_sql('CAST(SUM(CAST(FLOOR(COALESCE(li.lines_total, 0.0) * 100.0) AS BIGINT)) AS DOUBLE) / 100.0', 2)} AS recon_total
    FROM orders o LEFT JOIN li ON o.o_orderkey = li.l_orderkey
    GROUP BY o.o_orderstatus
    """,
    doc="cross-table reconciliation: per-order lineitem rollup LEFT-joined "
    "back to orders — orphan orders (no lines), overfull orders, and the "
    "reconciled monetary total per status. The pre-aggregate-then-join "
    "shape shuffles each table once on the key it is already keyed by; "
    "the classic fact-vs-detail integrity audit a 100-TB warehouse runs "
    "nightly.",
    tier="basic",
)
def q81_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        T(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.count("*").alias("n_lines"),
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")),
                2,
            ).alias("lines_total"),
        )
    )
    o = T(spark, sf_dir, "orders")
    joined = o.join(li, o.o_orderkey == li.l_orderkey, "left")
    return joined.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count("*").alias("n_orders"),
        F.sum(F.when(F.col("l_orderkey").isNull(), 1).otherwise(0)).alias("n_orphan_orders"),
        F.sum(
            F.when(F.col("n_lines").isNotNull() & (F.col("n_lines") > 7), 1).otherwise(0)
        ).alias("n_overfull"),
        (
            F.sum(
                F.floor(F.coalesce(F.col("lines_total"), F.lit(0.0)) * 100.0).cast("long")
            ).cast("double")
            / 100.0
        ).alias("recon_total"),
    )


# ---------------------------------------------------------------------------
# q95 — partial-aggregate merge (incremental view maintenance contract)
# ---------------------------------------------------------------------------

@register(
    "q95_partial_merge",
    f"""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           {_dsum_sql('l_quantity', 6)} AS total_qty
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="re-aggregability contract for incremental pipelines: the table "
    "is split into two disjoint halves (even/odd order keys standing in "
    "for yesterday's materialized state and today's delta), each half is "
    "aggregated INDEPENDENTLY into integer-domain partials "
    "(count, sum(floor(qty*1e6))), and the partials are merged by "
    "addition — the oracle computes the DIRECT single-pass aggregate, "
    "so the hash match proves merge(partial(A), partial(B)) == "
    "agg(A ∪ B) bitwise. Holds because the partial state is a "
    "commutative monoid (bigint addition), exactly the property that "
    "lets a 100-TB rollup be maintained by merging daily partials "
    "instead of rescanning history.",
)
def q95_partial_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("l_returnflag").agg(
            F.count("*").alias("pc"),
            F.sum(F.floor(F.col("l_quantity") * 1_000_000).cast("long")).alias("pq6"),
        )

    halves = partial(li.filter(F.col("l_orderkey") % 2 == 0)).unionByName(
        partial(li.filter(F.col("l_orderkey") % 2 == 1))
    )
    return halves.groupBy("l_returnflag").agg(
        F.sum("pc").cast("bigint").alias("n_items"),
        (F.sum("pq6").cast("double") / 1_000_000.0).alias("total_qty"),
    )


# ---------------------------------------------------------------------------
# q107 — skew-split join: hot keys via broadcast, cold keys via shuffle
# ---------------------------------------------------------------------------

_HOT_KEYS = 100


@register(
    "q107_skew_split_join",
    f"""
    SELECT o.o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           {_dsum_sql('l.l_extendedprice * (1 - l.l_discount)', 4)} AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderstatus
    """,
    doc=f"skew-mitigated join as an explicit rewrite: the {_HOT_KEYS} "
    f"hottest join keys (by lineitem row count, deterministic count/key "
    f"tie-break) take a broadcast path — their orders rows are tiny by "
    f"construction — while the remaining keys take the ordinary shuffle "
    f"join; the union then aggregates per order status. The oracle is "
    f"the PLAIN join: equality proves the rewrite is semantics-"
    f"preserving. This is what AQE's skew-join split does at runtime, "
    f"expressed statically for engines/plans where a known hot-key set "
    f"(power-law fact tables) should never ride the exchange: the hot "
    f"rows never shuffle at all, so a single pathological key cannot "
    f"straggle the stage. Both branches partial-aggregate before the "
    f"final 2-row merge.",
)
def q107_skew_split_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    hot = (
        li.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("l_orderkey"))
        .limit(_HOT_KEYS)
        .select(F.col("l_orderkey").alias("hot_key"))
    )
    li_hot = li.join(F.broadcast(hot), li.l_orderkey == hot.hot_key).drop("hot_key")
    li_cold = li.join(F.broadcast(hot), li.l_orderkey == hot.hot_key, "left_anti")
    o_hot = o.join(F.broadcast(hot), o.o_orderkey == hot.hot_key).drop("hot_key")
    rev = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000.0
    ).cast("long")
    j_hot = li_hot.join(F.broadcast(o_hot), li_hot.l_orderkey == o_hot.o_orderkey)
    j_cold = li_cold.join(o, li_cold.l_orderkey == o.o_orderkey)
    both = j_hot.select("o_orderstatus", rev.alias("r")).unionByName(
        j_cold.select("o_orderstatus", rev.alias("r"))
    )
    return both.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_lines"),
        (F.sum("r").cast("double") / 10000.0).alias("revenue"),
    )


# ---------------------------------------------------------------------------
# q131 — contiguous global id assignment (the distributed zipWithIndex)
# ---------------------------------------------------------------------------

_GID_PARTS = 16


def assign_global_ids(df: DataFrame, key: str, n_parts: int = _GID_PARTS) -> DataFrame:
    """(key, global_id) with ids 1..N contiguous in ``key`` order, without
    ever sorting in one partition.

    The scale decomposition: bucket on the key, count each bucket (tiny
    frame), prefix-sum the counts into per-bucket offsets, then
    id = offset + intra-bucket rank. The rank window partitions by
    bucket, so every bucket ranks in parallel — the plan the naive
    row_number() OVER (ORDER BY key) can never produce (it collapses to a
    single partition, THE classic scale cliff).

    Buckets are DETERMINISTIC value ranges — floor((key - min) * n /
    (max - min + 1)) off a lazily computed min/max — not
    repartitionByRange splits. RangePartitioner samples boundaries with
    a fresh seed per execution, so a two-branch DAG over it needs an
    eager localCheckpoint to keep the count pass and the rank pass
    consistent (observed: duplicate ids), and that materialization runs
    Spark jobs at plan-BUILD time, hitting every schema-only registry
    walk (dump_plans, output-type lint, the driver's schema probe).
    Value bucketing is seed-free, so the whole thing is one lazy DAG:
    zero jobs until an action, no driver-side collect loop. The bucket
    function is weakly monotone in the key (long→double cast, scaling by
    a positive constant, and floor all preserve order), so (bucket,
    intra-bucket key order) IS global key order. Requires unique numeric
    keys; assumes the key domain is not pathologically clustered (TPC-H
    orderkeys are near-uniform) — for arbitrary skew, swap the bucket
    expression for sampled quantile boundaries and keep the same
    offset+rank shape."""
    from pyspark.sql.window import Window

    kk = df.select(key)
    bounds = kk.agg(F.min(key).alias("_lo"), F.max(key).alias("_hi"))
    span = (F.col("_hi") - F.col("_lo") + 1).cast("double")
    bucketed = kk.crossJoin(F.broadcast(bounds)).select(
        key,
        F.least(
            F.lit(n_parts - 1),
            F.floor(
                (F.col(key) - F.col("_lo")).cast("double") * n_parts / span
            ),
        )
        .cast("int")
        .alias("_b"),
    )
    counts = bucketed.groupBy("_b").agg(F.count(F.lit(1)).alias("_n"))
    w_off = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    off = counts.select(
        "_b", F.coalesce(F.sum("_n").over(w_off), F.lit(0)).alias("_offset")
    )
    w = Window.partitionBy("_b").orderBy(key)
    return bucketed.join(F.broadcast(off), "_b").select(
        key,
        (F.col("_offset") + F.row_number().over(w)).alias("global_id"),
    )


@register(
    "q131_global_index",
    """
    WITH ids AS (
        SELECT o_orderkey,
               ROW_NUMBER() OVER (ORDER BY o_orderkey) AS global_id
        FROM orders
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(global_id) AS min_id, MAX(global_id) AS max_id,
           CAST(SUM(CASE WHEN global_id % 1000 = 0 THEN o_orderkey ELSE 0 END)
                AS BIGINT) AS probe_sum
    FROM ids
    """,
    doc="contiguous global id assignment in key order (the distributed "
    "zipWithIndex): range-partition, per-partition counts to prefix-sum "
    "offsets (16-row driver fold — model state, not data), parallel "
    "per-partition rank windows. Output checks the full contract: N ids, "
    "1..N dense (min/max), and a modular probe over (id, key) pairs that "
    "any off-by-one or misordered partition would break. The oracle's "
    "single-ORDER-BY row_number is exactly the plan this operator "
    "exists to avoid at 100 TB.",
)
def q131_global_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    ids = assign_global_ids(T(spark, sf_dir, "orders"), "o_orderkey")
    return ids.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.min("global_id").alias("min_id"),
        F.max("global_id").alias("max_id"),
        F.sum(
            F.when(F.col("global_id") % 1000 == 0, F.col("o_orderkey")).otherwise(0)
        )
        .cast("bigint")
        .alias("probe_sum"),
    )


# ---------------------------------------------------------------------------
# q132 — Bloom-filter pushdown semi-join (runtime filter, made explicit)
# ---------------------------------------------------------------------------

_BLOOM_BITS = 1024  # m: 32 x 32-bit-packed words
_BLOOM_SEGMENT = "BUILDING"


def _bloom_pos_sql(expr: str, salt: str) -> str:
    from etl_entregas_pyspark_spark.queries.similarity import _md5_int_sql

    salted = "concat({}, '{}')".format(expr, salt)
    return f"{_md5_int_sql(salted)} % {_BLOOM_BITS}"


def _bloom_pos(col, salt: str):
    from etl_entregas_pyspark_spark.queries.similarity import md5_int

    return md5_int(F.concat(col.cast("string"), F.lit(salt))) % _BLOOM_BITS


@register(
    "q132_bloom_semi_join",
    f"""
    WITH dim AS (
        SELECT CAST(c_custkey AS VARCHAR) AS k, c_custkey
        FROM customer WHERE c_mktsegment = '{_BLOOM_SEGMENT}'
    ), pos AS (
        SELECT {_bloom_pos_sql('k', 'a')} AS p FROM dim
        UNION ALL
        SELECT {_bloom_pos_sql('k', 'b')} AS p FROM dim
    ), bloom AS (
        SELECT p // 32 AS word_idx, bit_or(CAST(1 AS BIGINT) << (p % 32)) AS bits
        FROM pos GROUP BY word_idx
    ), probe AS (
        SELECT o_orderkey, o_custkey,
               {_bloom_pos_sql('CAST(o_custkey AS VARCHAR)', 'a')} AS p1,
               {_bloom_pos_sql('CAST(o_custkey AS VARCHAR)', 'b')} AS p2
        FROM orders
    ), passed AS (
        SELECT pr.o_orderkey, pr.o_custkey
        FROM probe pr
        JOIN bloom b1 ON b1.word_idx = pr.p1 // 32
        JOIN bloom b2 ON b2.word_idx = pr.p2 // 32
        WHERE ((b1.bits >> (pr.p1 % 32)) & 1) = 1
          AND ((b2.bits >> (pr.p2 % 32)) & 1) = 1
    )
    SELECT CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS n_orders,
           CAST((SELECT COUNT(*) FROM passed) AS BIGINT) AS n_pass_bloom,
           CAST((SELECT COUNT(*) FROM passed p
                 WHERE EXISTS (SELECT 1 FROM dim d WHERE d.c_custkey = p.o_custkey))
                AS BIGINT) AS n_true_match
    """,
    doc=f"Bloom-filter pushdown semi-join, made explicit: the "
    f"'{_BLOOM_SEGMENT}'-segment customer keys fold into a "
    f"{_BLOOM_BITS}-bit / 2-hash Bloom bitmap ({_BLOOM_BITS // 32} bigint "
    "words — bytes of model state, built with one partial-aggregated "
    "bit_or exchange), broadcast, and probed scan-side so the expensive "
    "exact join only sees surviving rows. This is the runtime-filter "
    "technique engines inject implicitly at 100 TB (Spark's "
    "spark.sql.optimizer.runtimeFilter.bloomFilter), expressed as a "
    "first-class auditable operator: the output reports pass vs "
    "true-match counts, i.e. the measured false-positive rate of the "
    "m/k/n operating point. Hash positions are md5-derived and "
    "engine-portable; every arithmetic step is integer-exact.",
)
def q132_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == _BLOOM_SEGMENT)
    dim = c.select(F.col("c_custkey"))
    pos = dim.select(_bloom_pos(F.col("c_custkey"), "a").alias("p")).unionAll(
        dim.select(_bloom_pos(F.col("c_custkey"), "b").alias("p"))
    )
    bloom = pos.groupBy((F.col("p") / 32).cast("long").alias("word_idx")).agg(
        F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT)))").alias("bits")
    )
    o = T(spark, sf_dir, "orders")
    probe = o.select(
        "o_orderkey",
        "o_custkey",
        _bloom_pos(F.col("o_custkey"), "a").alias("p1"),
        _bloom_pos(F.col("o_custkey"), "b").alias("p2"),
    )
    b1 = bloom.select(F.col("word_idx").alias("w1"), F.col("bits").alias("bits1"))
    b2 = bloom.select(F.col("word_idx").alias("w2"), F.col("bits").alias("bits2"))
    passed = (
        probe.join(F.broadcast(b1), (F.col("p1") / 32).cast("long") == F.col("w1"))
        .join(F.broadcast(b2), (F.col("p2") / 32).cast("long") == F.col("w2"))
        .filter(
            F.expr("(shiftright(bits1, CAST(p1 % 32 AS INT)) & 1) = 1")
            & F.expr("(shiftright(bits2, CAST(p2 % 32 AS INT)) & 1) = 1")
        )
        .select("o_orderkey", "o_custkey")
    )
    n_orders = o.agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
    n_pass = passed.agg(F.count(F.lit(1)).cast("bigint").alias("n_pass_bloom"))
    n_true = (
        passed.join(F.broadcast(dim), passed.o_custkey == dim.c_custkey, "left_semi")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_true_match"))
    )
    return n_orders.crossJoin(F.broadcast(n_pass)).crossJoin(F.broadcast(n_true))


# ---------------------------------------------------------------------------
# q134 — Pareto skyline (dominance filter) with two-phase pruning
# ---------------------------------------------------------------------------

def _skyline_keep(df: DataFrame, part_cols: list) -> DataFrame:
    """Keep rows not dominated within their partition: order by (price asc,
    size desc, key), keep a row iff its size strictly exceeds the running
    max size of all prior rows (prior = cheaper, or same-price-larger).
    Weak dominance: exact (price, size) duplicates keep the lowest key."""
    w = (
        Window.partitionBy(*part_cols)
        .orderBy(F.col("p_retailprice"), F.col("p_size").desc(), F.col("p_partkey"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        df.withColumn(
            "_prior_max", F.coalesce(F.max("p_size").over(w), F.lit(-1))
        )
        .filter(F.col("p_size") > F.col("_prior_max"))
        .drop("_prior_max")
    )


@register(
    "q134_pareto_skyline",
    """
    WITH ranked AS (
        SELECT p_partkey, p_retailprice, p_size,
               COALESCE(MAX(p_size) OVER (
                   ORDER BY p_retailprice, p_size DESC, p_partkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) AS prior_max
        FROM part
    )
    SELECT p_partkey, p_retailprice, p_size
    FROM ranked WHERE p_size > prior_max
    ORDER BY p_retailprice, p_partkey
    """,
    doc="Pareto skyline over parts (minimize retail price, maximize size): "
    "a part survives iff nothing is both cheaper-or-equal and "
    "larger-or-equal (weak dominance; exact duplicates keep the lowest "
    "key). The oracle's single global window is the 1-partition plan a "
    "cluster must never run — the Spark side is TWO-PHASE: a local "
    "skyline per input partition first (any locally-dominated row is "
    "globally dominated, so the filter is safe and removes ~everything), "
    "then the global pass runs on the surviving candidates, a frame "
    "thousands of times smaller than the input. The local phase keys on "
    "spark_partition_id — correctness never depends on the split, only "
    "candidate count does. This is the standard distributed-skyline "
    "decomposition (partition-prune-merge).",
)
def q134_pareto_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = T(spark, sf_dir, "part").select("p_partkey", "p_retailprice", "p_size")
    local = _skyline_keep(
        p.withColumn("_pid", F.spark_partition_id()), ["_pid"]
    ).drop("_pid")
    return (
        _skyline_keep(local.withColumn("_g", F.lit(0)), ["_g"])
        .drop("_g")
        .orderBy("p_retailprice", "p_partkey")
    )
