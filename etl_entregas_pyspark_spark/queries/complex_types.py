"""Pivot, typed JSON parsing, and the array-function battery — the §2.8
"no usage in reference" categories (arrays, maps beyond F6, JSON, pivot)
exposed as first-class, oracle-checked capabilities.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from etl_entregas_pyspark_spark.queries.events import E
from etl_entregas_pyspark_spark.queries.registry import register
from etl_entregas_pyspark_spark.queries.relational import T

_STATUSES = ["F", "O", "P"]


@register(
    "q29_pivot",
    f"""
    SELECT o_orderpriority,
           {', '.join(f"CAST(SUM(CASE WHEN o_orderstatus = '{s}' THEN 1 ELSE 0 END) AS BIGINT) AS status_{s}" for s in _STATUSES)},
           COUNT(*) AS total
    FROM orders GROUP BY o_orderpriority
    """,
    doc="pivot: order counts per priority × status (fixed pivot values so "
    "the plan is a single aggregate, no extra distinct pass)",
    tier="basic",
)
def q29_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    # explicit pivot values avoid the extra job Spark otherwise runs to
    # discover them — at 100 TB that discovery is a full distinct scan
    pivoted = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", _STATUSES)
        .agg(F.count(F.lit(1)))
    )
    for s in _STATUSES:
        pivoted = pivoted.withColumnRenamed(s, f"status_{s}")
    total = o.groupBy("o_orderpriority").agg(F.count("*").alias("total"))
    out = pivoted.join(total, "o_orderpriority")
    return out.select(
        "o_orderpriority",
        *[F.coalesce(F.col(f"status_{s}"), F.lit(0)).alias(f"status_{s}") for s in _STATUSES],
        "total",
    )


@register(
    "q37_from_json",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           COUNT(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_distinct_k
    FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL
    GROUP BY event_type
    """,
    doc="typed JSON parsing: from_json with an explicit schema into a "
    "struct column (vs q33's path extraction) — schema-on-read for "
    "semi-structured props",
    tier="basic",
)
def q37_from_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = E(spark, sf_dir)
    schema = StructType.fromDDL("k BIGINT")
    parsed = e.select("event_type", F.from_json("props", schema).alias("p")).filter(
        F.col("p.k").isNotNull()
    )
    return parsed.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("p.k").alias("sum_k"),
        F.countDistinct("p.k").alias("n_distinct_k"),
    )


@register(
    "q38_array_funcs",
    """
    SELECT p_partkey,
           len(string_split(p_name, ' ')) AS n_words,
           array_to_string(list_sort(string_split(p_name, ' ')), '|') AS words_sorted,
           array_to_string(list_slice(list_sort(string_split(p_name, ' ')), 1, 2), '|') AS first_two,
           list_reverse(list_sort(string_split(p_name, ' ')))[1] AS last_word,
           list_contains(string_split(p_name, ' '), 'green') AS has_green,
           array_to_string(list_sort(string_split(p_name, ' ')), '-') AS joined,
           list_sort(string_split(p_name, ' '))[1] AS first_word
    FROM part WHERE p_partkey <= 2000
    """,
    doc="array-function battery: size/sort/slice/reverse/contains/join/"
    "element_at over split word arrays. Array-typed intermediates are "
    "serialized (array_join) in the final projection: the driver's "
    "canonicalizer sorts output columns with pandas, which cannot hash "
    "raw list cells (r02 VERDICT item 1).",
    tier="basic",
)
def q38_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = T(spark, sf_dir, "part").filter(F.col("p_partkey") <= 2000)
    words = F.split("p_name", " ")
    sorted_w = F.sort_array(words)
    return p.select(
        "p_partkey",
        F.size(words).alias("n_words"),
        F.array_join(sorted_w, "|").alias("words_sorted"),
        F.array_join(F.slice(sorted_w, 1, 2), "|").alias("first_two"),
        F.element_at(F.reverse(sorted_w), 1).alias("last_word"),
        F.array_contains(words, "green").alias("has_green"),
        F.array_join(sorted_w, "-").alias("joined"),
        F.element_at(sorted_w, 1).alias("first_word"),
    )


@register(
    "q74_unpivot",
    """
    SELECT p_partkey, 'p_retailprice' AS attribute, CAST(p_retailprice AS DOUBLE) AS value
    FROM part WHERE p_partkey < 500
    UNION ALL
    SELECT p_partkey, 'p_size' AS attribute, CAST(p_size AS DOUBLE) AS value
    FROM part WHERE p_partkey < 500
    """,
    doc="unpivot/melt: wide numeric attributes to long (key, attribute, "
    "value) rows via DataFrame.unpivot — a single Expand over the scan "
    "(rows x attributes, no shuffle, no join), q29's inverse",
    tier="basic",
)
def q74_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = T(spark, sf_dir, "part").filter(F.col("p_partkey") < 500)
    return p.select(
        "p_partkey",
        F.col("p_retailprice").cast("double").alias("p_retailprice"),
        F.col("p_size").cast("double").alias("p_size"),
    ).unpivot(["p_partkey"], ["p_retailprice", "p_size"], "attribute", "value")


@register(
    "q76_grouping_sets",
    """
    SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS gid,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    doc="arbitrary GROUPING SETS (not expressible as rollup/cube) with a "
    "GROUPING() id disambiguating NULL-as-total from NULL-as-value, via "
    "the SQL API — one Expand + one aggregate, same plan family as "
    "q12/q13",
    tier="basic",
)
def q76_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    T(spark, sf_dir, "orders").createOrReplaceTempView("q76_orders")
    return spark.sql(
        """
        SELECT COALESCE(o_orderstatus, 'ALL') AS status,
               COALESCE(o_orderpriority, 'ALL') AS priority,
               GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS gid,
               COUNT(*) AS n_orders
        FROM q76_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


# ---------------------------------------------------------------------------
# q96 — MapType battery (map_from_entries / map_keys / element_at)
# ---------------------------------------------------------------------------

@register(
    "q96_map_funcs",
    """
    SELECT user_id,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
           NULLIF(CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                       AS BIGINT), 0) AS n_views,
           array_to_string(list_sort(list(DISTINCT event_type)), '|') AS types
    FROM events GROUP BY user_id
    """,
    doc="MapType round-trip per user: per-type counts collected into a "
    "map column (map_from_entries over collect_list(struct)), then "
    "consumed with size/element_at/map_keys — the Spark-side exercise is "
    "the MAP type itself; the oracle computes the same facts relation"
    "ally, since raw map cells hash nondeterministically (key order) "
    "and a correct operator must expose map CONTENT through "
    "deterministic extractors. element_at's missing-key NULL is "
    "reproduced with NULLIF. Two aggregates sharing the user_id "
    "exchange; map construction is per-group, never data-scale state.",
)
def q96_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    per = E(spark, sf_dir).groupBy("user_id", "event_type").agg(
        F.count("*").alias("cnt")
    )
    m = per.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "cnt"))
        ).alias("m")
    )
    return m.select(
        "user_id",
        F.size("m").cast("bigint").alias("n_types"),
        F.element_at("m", "view").cast("bigint").alias("n_views"),
        F.array_join(F.array_sort(F.map_keys("m")), "|").alias("types"),
    )


# ---------------------------------------------------------------------------
# q97 — explode_outer (null-preserving lateral)
# ---------------------------------------------------------------------------

_LONG_WORD = 9  # characters


@register(
    "q97_explode_outer",
    f"""
    WITH base AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), w -> LENGTH(w) >= {_LONG_WORD})
                   AS arr
        FROM documents WHERE doc_id < 300
    )
    SELECT doc_id, unnest(arr) AS long_word FROM base WHERE len(arr) > 0
    UNION ALL
    SELECT doc_id, NULL AS long_word FROM base WHERE len(arr) = 0
    """,
    doc="null-preserving lateral flatten: explode_outer keeps rows whose "
    "array is empty (one NULL row) so the parent row set survives the "
    "flatten — the LEFT JOIN of lateral views, needed whenever a "
    "downstream aggregate must still count empty parents. The filter + "
    "explode pipeline is whole-stage codegen; output size is "
    "sum(len(arr)) + #empty — no shuffle at all until a consumer "
    "aggregates.",
)
def q97_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = (
        T(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select(
            "doc_id",
            F.filter(
                F.split("text", " "), lambda w: F.length(w) >= _LONG_WORD
            ).alias("arr"),
        )
    )
    return base.select("doc_id", F.explode_outer("arr").alias("long_word"))
