"""Scalar subqueries and lateral explode-with-position — the remaining
relational shapes (correlated/scalar subqueries decorrelate in Catalyst;
posexplode is Spark's UNNEST WITH ORDINALITY).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_entregas_pyspark_spark.queries.registry import register
from etl_entregas_pyspark_spark.queries.relational import T, _rnd_sql, rnd


@register(
    "q39_scalar_subquery",
    f"""
    SELECT p_brand,
           COUNT(*) AS n_above_avg,
           {_rnd_sql('MIN(p_retailprice)', 2)} AS cheapest_above
    FROM part
    WHERE p_retailprice > (
        SELECT CAST(SUM(CAST(FLOOR(p_retailprice * 10000.0) AS BIGINT)) AS DOUBLE)
               / 10000.0 / COUNT(*)
        FROM part
    )
    GROUP BY p_brand
    """,
    doc="scalar subquery in a predicate: parts above the global average "
    "price (Catalyst plans the subquery once and broadcasts the scalar)",
    tier="basic",
)
def q39_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = T(spark, sf_dir, "part")
    # AVG of doubles is order-dependent; both engines must agree on the
    # comparison, so the threshold uses the deterministic fixed-point sum
    total = p.agg(
        (F.sum(F.floor(F.col("p_retailprice") * 10000).cast("long")).cast("double") / 10000.0
         / F.count(F.lit(1))).alias("avg_price")
    )
    return (
        p.join(F.broadcast(total))
        .filter(F.col("p_retailprice") > F.col("avg_price"))
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_above_avg"),
            rnd(F.min("p_retailprice"), 2).alias("cheapest_above"),
        )
    )


@register(
    "q49_posexplode",
    """
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split(text, ' ')) AS token,
               generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
        FROM documents WHERE doc_id < 100
    )
    SELECT token,
           COUNT(*) AS n_occurrences,
           MIN(pos) AS first_pos,
           MAX(pos) AS last_pos,
           COUNT(DISTINCT doc_id) AS n_docs
    FROM toks GROUP BY token
    """,
    doc="posexplode (UNNEST WITH ORDINALITY): token positional statistics "
    "across documents",
    tier="basic",
)
def q49_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    toks = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token")
    )
    return toks.groupBy("token").agg(
        F.count("*").alias("n_occurrences"),
        F.min("pos").alias("first_pos"),
        F.max("pos").alias("last_pos"),
        F.countDistinct("doc_id").alias("n_docs"),
    )


@register(
    "q91_exists_decorrelated",
    """
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
    """,
    doc="correlated EXISTS / NOT EXISTS — written as SQL through "
    "spark.sql() so Catalyst's subquery decorrelation is the unit under "
    "test: both predicates rewrite to a left-semi and a left-anti hash "
    "join on o_custkey (never a per-row subquery execution), and with "
    "orders pre-filtered before each join the build sides shrink to the "
    "qualifying keys. The same decorrelation carries any EXISTS-shaped "
    "audit (\"customers with X but never Y\") to warehouse scale.",
)
def q91_exists_decorrelated(spark: SparkSession, sf_dir: str) -> DataFrame:
    T(spark, sf_dir, "customer").createOrReplaceTempView("q91_customer")
    T(spark, sf_dir, "orders").createOrReplaceTempView("q91_orders")
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_name
        FROM q91_customer c
        WHERE EXISTS (SELECT 1 FROM q91_orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
          AND NOT EXISTS (SELECT 1 FROM q91_orders o
                          WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
        """
    )
