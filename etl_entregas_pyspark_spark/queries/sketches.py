"""Sketch / quantile / tokenizer-fingerprint operators rounding out the
SURVEY §2 + north-star inventory.

- approx_count_distinct (HLL++) and percentile_approx are
  algorithm-specific sketches: Spark's and DuckDB's implementations
  legitimately differ, so their oracles are BOUNDS contracts — Spark
  emits a boolean "estimate within the published error envelope of the
  exact value" and the oracle asserts it literally. The exact twins
  (q36) carry full value oracles.
- exact percentiles interpolate identically (both engines implement the
  SQL-standard continuous quantile), so q36 is fully oracle-checked.
- the BPE-ish regex tokenizer and rolling-hash fingerprints are plain
  Catalyst expressions with DuckDB twins.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_entregas_pyspark_spark.queries.registry import register
from etl_entregas_pyspark_spark.queries.relational import T, _rnd_sql, rnd, spread_if_narrow


@register(
    "q34_approx_distinct",
    """
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_customers,
           TRUE AS within_bounds
    FROM orders GROUP BY o_orderstatus
    """,
    doc="approx_count_distinct (HLL++, rsd=0.01) per order status — the "
    "scale substitute for exact count_distinct; exact twin is q36. The "
    "sketch value itself is implementation-specific, so the hash "
    "contract is a BOUNDS check: Spark emits within_bounds = "
    "|HLL - exact| <= 5% * exact (5x the configured rsd) and the oracle "
    "asserts it literally — a hash mismatch means the sketch left its "
    "published error envelope.",
    tier="basic",
)
def q34_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.countDistinct("o_custkey").cast("bigint").alias("exact_customers"),
            F.approx_count_distinct("o_custkey", 0.01).alias("_approx"),
        )
        .select(
            "o_orderstatus",
            "n_orders",
            "exact_customers",
            (
                F.abs(F.col("_approx") - F.col("exact_customers"))
                <= F.lit(0.05) * F.col("exact_customers")
            ).alias("within_bounds"),
        )
    )


@register(
    "q35_approx_quantiles",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           TRUE AS p50_within, TRUE AS p95_within
    FROM orders GROUP BY o_orderpriority
    """,
    doc="percentile_approx of order totals per priority (sketch-based; "
    "exact twin is q36). Bounds contract instead of value equality: "
    "accuracy=10000 guarantees rank error <= 1e-4, so the sketch value "
    "must lie inside the exact [p-0.01, p+0.01] quantile envelope; "
    "Spark emits that boolean, the oracle asserts it.",
    tier="basic",
)
def q35_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.percentile_approx("o_totalprice", 0.5, 10000).alias("_a50"),
            F.percentile_approx("o_totalprice", 0.95, 10000).alias("_a95"),
            F.percentile("o_totalprice", F.lit(0.49)).alias("_lo50"),
            F.percentile("o_totalprice", F.lit(0.51)).alias("_hi50"),
            F.percentile("o_totalprice", F.lit(0.94)).alias("_lo95"),
            F.percentile("o_totalprice", F.lit(0.96)).alias("_hi95"),
        )
        .select(
            "o_orderpriority",
            "n_rows",
            F.col("_a50").between(F.col("_lo50"), F.col("_hi50")).alias("p50_within"),
            F.col("_a95").between(F.col("_lo95"), F.col("_hi95")).alias("p95_within"),
        )
    )


@register(
    "q36_exact_percentiles",
    f"""
    SELECT o_orderpriority,
           {_rnd_sql('quantile_cont(o_totalprice, 0.5)', 4)} AS p50,
           {_rnd_sql('quantile_cont(o_totalprice, 0.95)', 4)} AS p95,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price
    FROM orders GROUP BY o_orderpriority
    """,
    doc="exact continuous percentiles (SQL-standard linear interpolation — "
    "identical semantics in Spark `percentile` and DuckDB `quantile_cont`)",
    tier="basic",
)
def q36_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        rnd(F.percentile("o_totalprice", 0.5), 4).alias("p50"),
        rnd(F.percentile("o_totalprice", 0.95), 4).alias("p95"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )


@register(
    "q46_regex_tokens",
    """
    SELECT doc_id,
           len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe_tokens,
           len(list_distinct(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS n_unique,
           len(list_filter(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'),
                           t -> length(t) >= 5)) AS n_long_tokens
    FROM documents WHERE doc_id < 300
    """,
    doc="BPE-ish regex tokenizer (letter runs / digit runs / single "
    "punctuation) — token counting without a trained vocab",
    tier="basic",
)
def q46_regex_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    toks = F.regexp_extract_all(F.col("text"), F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), F.lit(0))
    return d.select(
        "doc_id",
        F.size(toks).alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique"),
        F.size(F.filter(toks, lambda t: F.length(t) >= 5)).alias("n_long_tokens"),
    )


# rolling polynomial hash over codepoints, base 31 mod 2^31-1 — identical
# integer arithmetic in both engines (acc < 2^31, acc*31 + c < 2^36 < 2^63)
_RP = 2147483647


@register(
    "q47_rolling_fingerprint",
    f"""
    WITH fp AS (
        SELECT doc_id, source,
               list_reduce(list_prepend(0, list_transform(string_split(text, ''), c -> unicode(c))),
                           (acc, c) -> (CAST(acc AS BIGINT) * 31 + c) % {_RP}) AS fingerprint
        FROM documents
    )
    SELECT source, COUNT(*) AS n_docs, COUNT(DISTINCT fingerprint) AS n_unique_fp
    FROM fp GROUP BY source
    """,
    doc="document fingerprinting via rolling polynomial hash over "
    "codepoints (base 31 mod 2^31-1) — an md5-free content fingerprint "
    "whose incremental form supports chunk-level dedup",
    tier="basic",
)
def q47_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread_if_narrow(T(spark, sf_dir, "documents"), "doc_id")
    chars = F.split(F.col("text"), "")
    fp = F.aggregate(
        F.transform(chars, lambda c: F.ascii(c)),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + c) % _RP,
    )
    return (
        d.select("doc_id", "source", fp.alias("fingerprint"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("fingerprint").alias("n_unique_fp"),
        )
    )


# ---------------------------------------------------------------------------
# q56 — embedding-cosine near-dup with hyperplane-LSH blocking
# ---------------------------------------------------------------------------

_N_PLANES = 8
_COS_THRESHOLD = 0.4

_SIG_SQL = f"""
        SELECT e.vec_id, e.embedding,
               list_sum(list_transform(generate_series(1, {_N_PLANES}),
                   j -> CASE WHEN list_sum(list_transform(list_zip(e.embedding, p.plane[j]),
                                  q -> CAST(q[1] AS DOUBLE) * CAST(q[2] AS DOUBLE))) > 0
                        THEN 1 << (j - 1) ELSE 0 END)) AS sig
        FROM embeddings e CROSS JOIN
             (SELECT list(embedding ORDER BY vec_id) AS plane
              FROM embeddings WHERE vec_id < {_N_PLANES}) p
"""


@register(
    "q56_cosine_near_dup",
    f"""
    WITH sig AS ({_SIG_SQL}),
    cand AS (
        SELECT a.vec_id AS vec_a, a.embedding AS emb_a,
               b.vec_id AS vec_b, b.embedding AS emb_b
        FROM sig a JOIN sig b ON a.sig = b.sig AND a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b,
           list_sum(list_transform(list_zip(emb_a, emb_b),
                    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(emb_a, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(emb_b, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cosine
    FROM cand
    WHERE list_sum(list_transform(list_zip(emb_a, emb_b),
                   p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
          / (sqrt(list_sum(list_transform(emb_a, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
             * sqrt(list_sum(list_transform(emb_b, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) >= {_COS_THRESHOLD}
    """,
    doc=f"embedding near-dup pairs: {_N_PLANES}-bit hyperplane-LSH signature "
    "(sign of dot with fixed reference vectors) blocks candidates, exact "
    "cosine ≥ 0.9 verifies — the O(candidates) alternative to an O(n²) "
    "pairwise scan",
)
def q56_cosine_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_entregas_pyspark_spark.queries.similarity import dot, sq_norm

    e = T(spark, sf_dir, "embeddings")
    planes = [
        r.embedding
        for r in e.filter(F.col("vec_id") < _N_PLANES).orderBy("vec_id").collect()
    ]

    def bit(j: int) -> Column:
        plane = F.array(*[F.lit(float(v)) for v in planes[j]])
        return F.when(dot(F.col("embedding"), plane) > 0, F.lit(1 << j)).otherwise(F.lit(0))

    sig = bit(0)
    for j in range(1, _N_PLANES):
        sig = sig + bit(j)
    signed = e.select("vec_id", "embedding", sig.alias("sig"))
    a, b = signed.alias("a"), signed.alias("b")
    cos = dot(F.col("a.embedding"), F.col("b.embedding")) / (
        F.sqrt(sq_norm(F.col("a.embedding"))) * F.sqrt(sq_norm(F.col("b.embedding")))
    )
    return (
        a.join(b, (F.col("a.sig") == F.col("b.sig")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .filter(cos >= _COS_THRESHOLD)
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"), cos.alias("cosine"))
    )


@register(
    "q65_statistical_moments",
    f"""
    WITH q AS (
        SELECT l_returnflag,
               CAST(FLOOR(l_quantity * 10000.0) AS BIGINT) AS qq,
               CAST(FLOOR(l_discount * 1000000.0) AS BIGINT) AS qd
        FROM lineitem
    )
    SELECT l_returnflag,
           COUNT(*) AS n,
           {_rnd_sql('''(CAST(SUM(qq*qq) AS DOUBLE) - CAST(SUM(qq) AS DOUBLE)*SUM(qq)/COUNT(*))
               / (COUNT(*) - 1) / 1e8''', 4)} AS var_qty,
           {_rnd_sql('''(CAST(SUM(qq*qd) AS DOUBLE) - CAST(SUM(qq) AS DOUBLE)*SUM(qd)/COUNT(*))
               / ((COUNT(*) - 1)
                  * SQRT((CAST(SUM(qq*qq) AS DOUBLE) - CAST(SUM(qq) AS DOUBLE)*SUM(qq)/COUNT(*)) / (COUNT(*) - 1))
                  * SQRT((CAST(SUM(qd*qd) AS DOUBLE) - CAST(SUM(qd) AS DOUBLE)*SUM(qd)/COUNT(*)) / (COUNT(*) - 1)))''',
               4)} AS corr_qty_disc
    FROM q GROUP BY l_returnflag
    """,
    doc="statistical moments (variance, Pearson correlation) over "
    "fixed-point-quantized values: the integer sums Σx, Σx², Σxy are exact "
    "and order-independent, so the derived moments are deterministic under "
    "any partitioning — the portable form of stddev/corr at scale",
    tier="basic",
)
def q65_statistical_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    qq = F.floor(F.col("l_quantity") * 10000.0).cast("long")
    qd = F.floor(F.col("l_discount") * 1000000.0).cast("long")
    q = li.select("l_returnflag", qq.alias("qq"), qd.alias("qd"))
    n = F.count(F.lit(1))
    sqq, sqd = F.sum("qq"), F.sum("qd")
    sqq2 = F.sum(F.col("qq") * F.col("qq"))
    sqd2 = F.sum(F.col("qd") * F.col("qd"))
    sqqd = F.sum(F.col("qq") * F.col("qd"))
    var_q = (sqq2.cast("double") - sqq.cast("double") * sqq / n) / (n - 1)
    var_d = (sqd2.cast("double") - sqd.cast("double") * sqd / n) / (n - 1)
    cov = (sqqd.cast("double") - sqq.cast("double") * sqd / n) / (n - 1)
    return q.groupBy("l_returnflag").agg(
        n.alias("n"),
        rnd(var_q / 1e8, 4).alias("var_qty"),
        rnd(cov / (F.sqrt(var_q) * F.sqrt(var_d)), 4).alias("corr_qty_disc"),
    )


# ---------------------------------------------------------------------------
# q71 — windowless percentile flag: q17's documented scale substitute
# ---------------------------------------------------------------------------

@register(
    "q71_alto_valor_flag",
    f"""
    WITH thr AS (SELECT quantile_cont(o_totalprice, 0.8) AS t FROM orders)
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CASE WHEN o_totalprice > thr.t THEN 1 ELSE 0 END) AS BIGINT) AS n_alto_valor,
           {_rnd_sql('MIN(thr.t)', 4)} AS p80_threshold
    FROM orders CROSS JOIN thr
    GROUP BY o_orderpriority
    """,
    doc="high-value flag from a data-driven top-20% threshold (the "
    "es_alto_valor north-star, reference src/etl_entregas.py:372-378, with "
    "the percentile computed instead of hard-coded): ONE scalar percentile "
    "aggregate, broadcast to a map-side comparison — the shape that "
    "replaces q17's global-sort percent_rank window at 100 TB. Exact "
    "percentile here for oracle parity; at real scale swap in "
    "percentile_approx (q35) without changing the plan shape.",
)
def q71_alto_valor_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    thr = o.agg(F.percentile(F.col("o_totalprice"), F.lit(0.8)).alias("t"))
    return (
        o.crossJoin(F.broadcast(thr))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(
                F.when(F.col("o_totalprice") > F.col("t"), 1).otherwise(0)
            ).alias("n_alto_valor"),
            rnd(F.min("t"), 4).alias("p80_threshold"),
        )
    )


# ---------------------------------------------------------------------------
# q122 — group-wise closed-form OLS (distributed linear regression)
# ---------------------------------------------------------------------------

@register(
    "q122_group_ols",
    f"""
    WITH s AS (
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(FLOOR(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sx,
               CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sy,
               CAST(SUM(CAST(CAST(FLOOR(l_quantity * 100) AS BIGINT)
                           * CAST(FLOOR(l_extendedprice * 100) AS BIGINT)
                           AS HUGEINT)) AS DOUBLE) AS sxy,
               CAST(SUM(CAST(CAST(FLOOR(l_quantity * 100) AS BIGINT)
                           * CAST(FLOOR(l_quantity * 100) AS BIGINT)
                           AS HUGEINT)) AS DOUBLE) AS sxx
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           {_rnd_sql(
               '(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))'
               ' / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))',
               6)} AS slope,
           {_rnd_sql(
               '(CAST(sy AS DOUBLE) - (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))'
               ' / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))'
               ' * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)', 4)} AS intercept
    FROM s ORDER BY l_returnflag
    """,
    doc="distributed linear regression by closed form: per return flag, "
    "OLS slope/intercept of extended price on quantity from the five "
    "sufficient statistics (n, Σx, Σy, Σxy, Σxx) — ONE partial-aggregated "
    "scan, no iteration, no driver round trips; the normal-equation "
    "arithmetic runs on a |groups|-row frame. Inputs are floor-quantized "
    "to integer cents so every sum is exact and order-independent "
    "(bitwise reproducible under any partitioning); the product sums "
    "accumulate as DECIMAL(38)/HUGEINT because Σ(x·y) overflows int64 "
    "past ~1e18 — the int128 path both engines share, surfaced as an "
    "IEEE-correctly-rounded double. Both coefficient columns come out in "
    "cents; slope is dimensionless (cents/cents).",
)
def q122_group_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    x = F.floor(F.col("l_quantity") * 100).cast("bigint")
    y = F.floor(F.col("l_extendedprice") * 100).cast("bigint")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum((x * y).cast("decimal(38,0)")).cast("double").alias("sxy"),
        F.sum((x * x).cast("decimal(38,0)")).cast("double").alias("sxx"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    slope = (nd * F.col("sxy") - sxd * syd) / (nd * F.col("sxx") - sxd * sxd)
    return s.select(
        "l_returnflag",
        "n",
        rnd(slope, 6).alias("slope"),
        rnd((syd - slope * sxd) / nd, 4).alias("intercept"),
    ).orderBy("l_returnflag")


# ---------------------------------------------------------------------------
# q145 — count-min sketch (the mergeable frequency sketch, made explicit)
# ---------------------------------------------------------------------------

_CMS_W = 64          # width (counters per row)
_CMS_SALTS = ("a", "b", "c")  # depth 3
_CMS_TOPK = 20


def _cms_pos_sql(expr: str, salt: str) -> str:
    from etl_entregas_pyspark_spark.queries.similarity import _md5_int_sql

    salted = "concat({}, '{}')".format(expr, salt)
    return f"{_md5_int_sql(salted)} % {_CMS_W}"


def _cms_pos(col: Column, salt: str) -> Column:
    from etl_entregas_pyspark_spark.queries.similarity import md5_int

    return md5_int(F.concat(col, F.lit(salt))) % _CMS_W


@register(
    "q145_count_min_sketch",
    f"""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ), pos AS (
        {" UNION ALL ".join(
            f"SELECT {d} AS d, {_cms_pos_sql('tok', s)} AS p FROM toks"
            for d, s in enumerate(_CMS_SALTS))}
    ), cms AS (
        SELECT d, p, CAST(COUNT(*) AS BIGINT) AS c FROM pos GROUP BY d, p
    ), truth AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS true_n
        FROM toks GROUP BY tok
        ORDER BY true_n DESC, tok LIMIT {_CMS_TOPK}
    )
    SELECT t.tok, t.true_n,
           LEAST({", ".join(
               f"(SELECT c FROM cms WHERE d = {d} AND p = {_cms_pos_sql('t.tok', s)})"
               for d, s in enumerate(_CMS_SALTS))}) AS est_n,
           LEAST({", ".join(
               f"(SELECT c FROM cms WHERE d = {d} AND p = {_cms_pos_sql('t.tok', s)})"
               for d, s in enumerate(_CMS_SALTS))}) - t.true_n AS overestimate
    FROM truth t
    """,
    doc=f"count-min sketch over the token stream: {len(_CMS_SALTS)}x{_CMS_W} "
    "counters (md5-salted rows), estimate = min over rows — the mergeable "
    "frequency sketch a streaming/partitioned pipeline keeps instead of "
    "exact counts, evaluated here against the exact top-20 so the "
    "one-sided error contract (est >= true, bounded overestimate) is "
    "oracle-VISIBLE, not just asserted. Fully deterministic given the "
    "hash salts, so the whole sketch hash-matches across engines. Plan: "
    "the counter build is one partial-aggregated exchange of at most "
    f"{len(_CMS_SALTS) * _CMS_W} cells (the sketch property: state is "
    "O(w*d) whatever the stream size); the probe side is a "
    f"{_CMS_TOPK}-row TakeOrdered joined to the broadcast cell table. "
    "Sketch rows merge by cell-wise addition, so partial sketches from "
    "independent partitions/streams combine without rescanning — the "
    "100-TB story is the exchange carries 192 cells, never tokens.",
)
def q145_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
    pos = None
    for i, s in enumerate(_CMS_SALTS):
        b = toks.select(F.lit(i).alias("d"), _cms_pos(F.col("tok"), s).alias("p"))
        pos = b if pos is None else pos.unionByName(b)
    cms = pos.groupBy("d", "p").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    truth = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_n"))
        .orderBy(F.col("true_n").desc(), "tok")
        .limit(_CMS_TOPK)
    )
    probe = truth
    for i, s in enumerate(_CMS_SALTS):
        cell = cms.filter(F.col("d") == i).select(
            F.col("p").alias(f"p{i}"), F.col("c").alias(f"c{i}")
        )
        probe = probe.withColumn(f"p{i}", _cms_pos(F.col("tok"), s)).join(
            F.broadcast(cell), f"p{i}"
        )
    est = F.least(*[F.col(f"c{i}") for i in range(len(_CMS_SALTS))])
    return probe.select(
        "tok",
        "true_n",
        est.alias("est_n"),
        (est - F.col("true_n")).alias("overestimate"),
    )


# ---------------------------------------------------------------------------
# q176 — deterministic mergeable HLL sketch rollup (daily → per-type)
# ---------------------------------------------------------------------------

_HLL_M = 256          # registers per sketch
_HLL_ALPHA = "0.7213 / (1.0 + 1.079 / 256.0)"  # alpha_256, literal-identical


def _hll_oracle() -> str:
    from etl_entregas_pyspark_spark.queries.similarity import _md5_int_sql

    h = _md5_int_sql("CAST(user_id AS VARCHAR)")
    return f"""
    WITH hashed AS (
        SELECT event_type, date_part('day', ts) AS day, {h} AS hv
        FROM events
    ), parts AS (
        SELECT event_type, day, hv % {_HLL_M} AS b,
               (hv // {_HLL_M}) % 4294967296 AS w
        FROM hashed
    ), rho AS (
        SELECT event_type, day, b,
               CASE WHEN w = 0 THEN 33 ELSE 33 - length(bin(w)) END AS r
        FROM parts
    ), daily AS (
        SELECT event_type, day, b, MAX(r) AS reg
        FROM rho GROUP BY event_type, day, b
    ), merged AS (
        SELECT event_type, b, MAX(reg) AS reg
        FROM daily GROUP BY event_type, b
    ), folded AS (
        SELECT event_type,
               COUNT(*) AS n_present,
               SUM(power(2.0, -reg)) AS sum_inv
        FROM merged GROUP BY event_type
    ), raw AS (
        SELECT event_type,
               ({_HLL_ALPHA}) * 65536.0 /
                   (sum_inv + ({_HLL_M} - n_present)) AS e_raw,
               {_HLL_M} - n_present AS zeros
        FROM folded
    ), corrected AS (
        SELECT event_type,
               CASE WHEN e_raw <= 640.0 AND zeros > 0
                    THEN 256.0 * ln(256.0 / zeros)
                    ELSE e_raw END AS e
        FROM raw
    ), exact AS (
        SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
        FROM events GROUP BY event_type
    )
    SELECT c.event_type, {_rnd_sql('c.e', 2)} AS est_users, x.exact_users
    FROM corrected c JOIN exact x ON c.event_type = x.event_type
    """


@register(
    "q176_hll_sketch_rollup",
    _hll_oracle(),
    doc="mergeable distinct-count sketches, the 100-TB cardinality "
    "pattern q34's black-box approx_count_distinct cannot give: a "
    "PORTABLE 256-register HLL built from explicit integer arithmetic "
    "(bucket = md5 % 256, rho = leading-zero rank of the next 32 hash "
    "bits via length(bin(w)) — both engines' bin() is minimal-width, so "
    "the registers are bit-identical), materialized per (event_type, "
    "day) — the retainable daily sketch table, 256 tiny rows per key — "
    "then MERGED to per-type sketches with a plain MAX per register "
    "(max-of-max associativity is the whole point: rollups never "
    "rescan raw data) and folded to the harmonic estimate with the "
    "standard small-range correction. Every arithmetic step is exact "
    "or expression-order-identical across engines (2^-r terms span 33 "
    "bits < 53, so the harmonic sum is EXACT in double regardless of "
    "aggregation order; ln only fires in the branch both engines take "
    "together), so the oracle checks the estimate to the hash — an "
    "accuracy contract q34 can only bounds-check. Plan: one map-side-"
    "combining exchange on (type, day, bucket) over the scan; "
    "everything above it is sketch-sized (<= types x days x 256 rows).",
)
def q176_hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_entregas_pyspark_spark.queries.events import E
    from etl_entregas_pyspark_spark.queries.similarity import md5_int

    e = E(spark, sf_dir)
    hashed = e.select(
        "event_type",
        F.dayofmonth("ts").alias("day"),
        md5_int(F.col("user_id").cast("string")).alias("hv"),
        "user_id",
    )
    parts = hashed.select(
        "event_type",
        "day",
        (F.col("hv") % _HLL_M).alias("b"),
        (F.expr(f"hv div {_HLL_M}") % F.lit(4294967296)).alias("w"),
    )
    rho = parts.select(
        "event_type",
        "day",
        "b",
        F.when(F.col("w") == 0, F.lit(33))
        .otherwise(F.lit(33) - F.length(F.bin(F.col("w"))))
        .alias("r"),
    )
    daily = rho.groupBy("event_type", "day", "b").agg(F.max("r").alias("reg"))
    merged = daily.groupBy("event_type", "b").agg(F.max("reg").alias("reg"))
    folded = merged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_present"),
        F.sum(F.pow(F.lit(2.0), -F.col("reg"))).alias("sum_inv"),
    )
    alpha = F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(256.0))
    raw = folded.select(
        "event_type",
        (alpha * F.lit(65536.0) / (F.col("sum_inv") + (F.lit(_HLL_M) - F.col("n_present")))).alias("e_raw"),
        (F.lit(_HLL_M) - F.col("n_present")).alias("zeros"),
    )
    corrected = raw.select(
        "event_type",
        F.when(
            (F.col("e_raw") <= 640.0) & (F.col("zeros") > 0),
            F.lit(256.0) * F.log(F.lit(256.0) / F.col("zeros")),
        )
        .otherwise(F.col("e_raw"))
        .alias("e"),
    )
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_users")
    )
    return corrected.join(exact, "event_type").select(
        "event_type", rnd(F.col("e"), 2).alias("est_users"), "exact_users"
    )
