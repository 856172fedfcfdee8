"""Dataset-management operators for training pipelines: reproducible
splits and benchmark decontamination — both pure equi-join/hash plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_entregas_pyspark_spark.queries.registry import register
from etl_entregas_pyspark_spark.queries.relational import T, _rnd_sql, rnd, spread_if_narrow
from etl_entregas_pyspark_spark.queries.similarity import _md5_int_sql, md5_int

# content-hash split: reproducible across runs/engines AND stable under
# re-partitioning or row additions (unlike rand(seed) or row_number)
_SPLIT_BUCKETS = 10  # 8/1/1 train/val/test


@register(
    "q63_deterministic_split",
    f"""
    WITH assigned AS (
        SELECT doc_id, n_chars,
               CASE WHEN {_md5_int_sql('text')} % {_SPLIT_BUCKETS} < 8 THEN 'train'
                    WHEN {_md5_int_sql('text')} % {_SPLIT_BUCKETS} = 8 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    )
    SELECT split, COUNT(*) AS n_docs,
           {_rnd_sql('CAST(SUM(n_chars) AS DOUBLE) / COUNT(*)', 2)} AS avg_chars,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM assigned GROUP BY split
    """,
    doc="reproducible train/val/test split (8/1/1) keyed on the content "
    "hash — stable under repartitioning, engine changes, and corpus "
    "growth, unlike rand(seed) or positional splits",
)
def q63_deterministic_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    bucket = md5_int(F.col("text")) % _SPLIT_BUCKETS
    split = (
        F.when(bucket < 8, "train").when(bucket == 8, "val").otherwise("test")
    )
    return d.select("doc_id", "n_chars", split.alias("split")).groupBy("split").agg(
        F.count("*").alias("n_docs"),
        rnd(F.sum("n_chars").cast("double") / F.count("*"), 2).alias("avg_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


_NGRAM = 8
_BENCH_DOCS = 10  # doc_id < 10 plays the held-out benchmark set


def _gram_stream(df: DataFrame, n: int = _NGRAM) -> DataFrame:
    """(doc_id, gram) rows: explode the start-index sequence FIRST, then
    build each gram with plain element_at projections — whole-stage
    codegen, no interpreted higher-order-function lambda (2.5x the HOF
    formulation's throughput at sf0.1). sequence() is gated on length:
    it generates DESCENDING sequences when stop < start."""
    base = df.select("doc_id", F.split("text", " ").alias("toks"))
    idx = F.when(
        F.size("toks") >= n,
        F.sequence(F.lit(1), F.size("toks") - (n - 1)),
    ).otherwise(F.array().cast("array<int>"))
    ex = base.select("doc_id", "toks", F.explode(idx).alias("i"))
    gram = F.concat_ws(
        " ", *[F.element_at("toks", F.col("i") + k) for k in range(n)]
    )
    return ex.select("doc_id", gram.alias("gram"))


@register(
    "q64_decontamination",
    f"""
    WITH bench_grams AS (
        SELECT DISTINCT unnest(CASE WHEN len(string_split(text,' ')) >= {_NGRAM}
            THEN list_transform(generate_series(1, len(string_split(text,' ')) - {_NGRAM - 1}),
                 i -> array_to_string(list_slice(string_split(text,' '), i, i + {_NGRAM - 1}), ' '))
            ELSE [] END) AS gram
        FROM documents WHERE doc_id < {_BENCH_DOCS}
    ), corpus_grams AS (
        SELECT doc_id, unnest(CASE WHEN len(string_split(text,' ')) >= {_NGRAM}
            THEN list_transform(generate_series(1, len(string_split(text,' ')) - {_NGRAM - 1}),
                 i -> array_to_string(list_slice(string_split(text,' '), i, i + {_NGRAM - 1}), ' '))
            ELSE [] END) AS gram
        FROM documents WHERE doc_id >= {_BENCH_DOCS}
    )
    SELECT c.doc_id, COUNT(DISTINCT c.gram) AS n_hit_grams
    FROM corpus_grams c JOIN bench_grams b ON c.gram = b.gram
    GROUP BY c.doc_id
    """,
    doc=f"benchmark decontamination: corpus documents sharing any "
    f"{_NGRAM}-gram with the held-out set (doc_id < {_BENCH_DOCS}), with "
    "hit counts — a broadcast/equi-join on the gram, never a pairwise scan",
)
def q64_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    bench = (
        _gram_stream(d.filter(F.col("doc_id") < _BENCH_DOCS))
        .select("gram")
        .distinct()
    )
    corpus = _gram_stream(
        spread_if_narrow(d.filter(F.col("doc_id") >= _BENCH_DOCS), "doc_id")
    )
    # the benchmark gram set is small → broadcast; at corpus scale this is
    # a map-side semi-join, no shuffle of the corpus grams
    return (
        corpus.join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.count_distinct("gram").alias("n_hit_grams"))
    )


_CHUNK, _STRIDE = 32, 24  # tokens per chunk / stride (8-token overlap)


@register(
    "q66_chunking",
    f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents WHERE doc_id < 300
    )
    SELECT doc_id,
           CAST(unnest(generate_series(0, CAST(CEIL(CAST(GREATEST(len(toks) - {_CHUNK}, 0) AS DOUBLE) / {_STRIDE}) AS BIGINT))) AS BIGINT) AS chunk_id,
           array_to_string(list_slice(toks,
               unnest(generate_series(0, CAST(CEIL(CAST(GREATEST(len(toks) - {_CHUNK}, 0) AS DOUBLE) / {_STRIDE}) AS BIGINT))) * {_STRIDE} + 1,
               unnest(generate_series(0, CAST(CEIL(CAST(GREATEST(len(toks) - {_CHUNK}, 0) AS DOUBLE) / {_STRIDE}) AS BIGINT))) * {_STRIDE} + {_CHUNK}), ' ') AS chunk_text
    FROM t
    """,
    doc=f"RAG-style chunking: overlapping {_CHUNK}-token windows with "
    f"stride {_STRIDE} via sequence+slice — pure Catalyst, no UDTF, one "
    "row per (doc, chunk); CEIL on the chunk count emits a final partial "
    "window so every trailing token is covered by at least one chunk",
)
def q66_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    toks = F.split("text", " ")
    # CEIL, not FLOOR: when (len - CHUNK) is not a stride multiple the last
    # window is partial — without it the trailing up-to-(STRIDE-1) tokens
    # would silently appear in no chunk (tail-content loss in a RAG corpus)
    n_chunks = F.ceil(
        F.greatest(F.size(toks) - _CHUNK, F.lit(0)).cast("double") / _STRIDE
    ).cast("long")
    chunked = d.select(
        "doc_id",
        toks.alias("toks"),
        F.explode(F.sequence(F.lit(0).cast("long"), n_chunks)).alias("chunk_id"),
    )
    start = F.col("chunk_id") * _STRIDE + 1
    return chunked.select(
        "doc_id",
        "chunk_id",
        F.concat_ws(" ", F.slice(F.col("toks"), start, F.lit(_CHUNK))).alias("chunk_text"),
    )


_PER_STRATUM = 5


@register(
    "q67_stratified_sample",
    f"""
    WITH ranked AS (
        SELECT doc_id, lang, n_chars,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS rn
        FROM documents
    )
    SELECT lang, doc_id, n_chars, rn FROM ranked WHERE rn <= {_PER_STRATUM}
    """,
    doc=f"deterministic stratified sample: exactly {_PER_STRATUM} docs per "
    "language, ordered by content hash — reproducible eval-set construction "
    "(rand()-based sampling is neither exact-count nor engine-portable)",
    tier="basic",
)
def q67_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = T(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.md5("text"), "doc_id")
    return (
        d.select("lang", "doc_id", "n_chars", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= _PER_STRATUM)
    )


_PACK_BUDGET = 4096  # tokens per training sequence


@register(
    "q82_sequence_packing",
    f"""
    WITH sized AS (
        SELECT doc_id, source, LEN(string_split(text, ' ')) AS n_tokens
        FROM documents
    ), binned AS (
        SELECT source, doc_id, n_tokens,
               CAST(FLOOR(CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) - n_tokens AS DOUBLE)
                          / {_PACK_BUDGET}) AS BIGINT) AS bin_id
        FROM sized
    )
    SELECT source, bin_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM binned GROUP BY source, bin_id
    """,
    doc=f"training-sequence packing: docs greedily packed into "
    f"{_PACK_BUDGET}-token bins via a running token count — bin_id = "
    "floor(cumsum_before / budget), deterministic doc_id order. The "
    "window is PARTITIONED BY source, so each stream packs independently "
    "(no global sort; per-partition state is one running sum). The "
    "concat-and-chunk step that turns a filtered corpus into fixed-length "
    "training sequences.",
)
def q82_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    sized = T(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    bin_id = F.floor(
        (F.sum("n_tokens").over(w) - F.col("n_tokens")).cast("double") / _PACK_BUDGET
    ).cast("bigint")
    return (
        sized.select("source", "doc_id", "n_tokens", bin_id.alias("bin_id"))
        .groupBy("source", "bin_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
    )


_MIX_ALPHA = 0.7  # mixture temperature (mT5-style alpha sampling)


@register(
    "q86_mixture_weights",
    f"""
    WITH tok AS (
        SELECT source,
               CAST(SUM(LEN(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source
    ), p AS (
        SELECT source, n_tokens,
               POW(CAST(n_tokens AS DOUBLE), {_MIX_ALPHA}) AS pw
        FROM tok
    )
    SELECT source, n_tokens,
           {_rnd_sql('pw / (SELECT SUM(pw) FROM p)', 6)} AS mixture_weight
    FROM p
    """,
    doc=f"temperature-scaled source mixture weights for training-data "
    f"sampling: w_i = n_i^a / sum_j n_j^a with a={_MIX_ALPHA} (the "
    "mT5/XLM-R recipe that up-samples small sources without letting "
    "large ones dominate). Token counting is one scan + one partial-"
    "aggregated exchange keyed on source; everything after operates on "
    "one row PER SOURCE (bounded, ~tens), so the global normalizer is a "
    "broadcast single-row cross join, never a single-partition window "
    "over data-scale rows. Weights are rnd-6 canonicalized (pow/sum "
    "agree cross-engine well inside 1e-6).",
)
def q86_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = (
        T(spark, sf_dir, "documents")
        .select("source", F.size(F.split("text", " ")).alias("n_tok"))
        .groupBy("source")
        .agg(F.sum("n_tok").cast("bigint").alias("n_tokens"))
    )
    p = tok.select(
        "source",
        "n_tokens",
        F.pow(F.col("n_tokens").cast("double"), F.lit(_MIX_ALPHA)).alias("pw"),
    )
    total = p.agg(F.sum("pw").alias("sum_pw"))
    return p.crossJoin(F.broadcast(total)).select(
        "source",
        "n_tokens",
        rnd(F.col("pw") / F.col("sum_pw"), 6).alias("mixture_weight"),
    )


# ---------------------------------------------------------------------------
# q105 — deterministic k-per-key sample (distributed reservoir equivalent)
# ---------------------------------------------------------------------------

_SAMPLE_K = 5


@register(
    "q105_per_key_sample",
    f"""
    SELECT lang, source, doc_id, CAST(rn AS BIGINT) AS sample_rank
    FROM (
        SELECT lang, source, doc_id,
               ROW_NUMBER() OVER (
                   PARTITION BY lang, source
                   ORDER BY CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                                 AS BIGINT),
                            doc_id) AS rn
        FROM documents
    )
    WHERE rn <= {_SAMPLE_K}
    """,
    doc=f"deterministic {_SAMPLE_K}-per-(lang,source) sample: rank every "
    f"doc by a 60-bit md5 of its id and keep the {_SAMPLE_K} smallest "
    f"per stratum. Functionally a per-key reservoir sample, but "
    f"reproducible across runs, engines, and partitionings — the hash "
    f"IS the random order, so no RNG state and no driver coordination. "
    f"Plan: one hash shuffle on the stratum + per-partition sort; at "
    f"100 TB swap the exact rank for a two-phase 'hash < threshold' "
    f"pre-filter (threshold from the stratum's approx count) so only "
    f"~k rows per stratum reach the exchange.",
)
def q105_per_key_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from etl_entregas_pyspark_spark.queries.similarity import md5_int

    d = T(spark, sf_dir, "documents")
    w = Window.partitionBy("lang", "source").orderBy(
        md5_int(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.select("lang", "source", "doc_id", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= _SAMPLE_K)
        .select("lang", "source", "doc_id", F.col("rn").cast("bigint").alias("sample_rank"))
    )


# ---------------------------------------------------------------------------
# q109 — per-group min-max feature scaling (ML preprocessing)
# ---------------------------------------------------------------------------

@register(
    "q109_minmax_scale",
    f"""
    WITH stats AS (
        SELECT event_type, MIN(value) AS mn, MAX(value) AS mx
        FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.value,
           CASE WHEN s.mx = s.mn THEN 0.0
                ELSE {_rnd_sql('(e.value - s.mn) / (s.mx - s.mn)', 6)}
           END AS scaled
    FROM events e JOIN stats s ON e.event_type = s.event_type
    """,
    doc="per-group min-max feature scaling: group stats from one "
    "partial-agg pass (5 rows), broadcast back onto the stream, scale "
    "in [0,1]. The degenerate constant group maps to 0.0 instead of "
    "dividing by zero. (value - mn) and (mx - mn) are single IEEE "
    "subtractions of raw parquet doubles and the division one more op, "
    "so scaled values are bitwise cross-engine after rnd-6. This is "
    "the normalize step of a feature pipeline done relationally — no "
    "fit/transform state object, just stats-join-scale, and at 100 TB "
    "the stats side is always broadcastable (one row per group).",
)
def q109_minmax_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_entregas_pyspark_spark.queries.events import E

    e = E(spark, sf_dir)
    stats = e.groupBy("event_type").agg(
        F.min("value").alias("mn"), F.max("value").alias("mx")
    )
    scaled = F.when(F.col("mx") == F.col("mn"), F.lit(0.0)).otherwise(
        rnd((F.col("value") - F.col("mn")) / (F.col("mx") - F.col("mn")), 6)
    )
    return (
        e.join(F.broadcast(stats), "event_type")
        .select("event_id", "event_type", "value", scaled.alias("scaled"))
    )


# ---------------------------------------------------------------------------
# q112 — winsorization: clip features at exact per-group percentiles
# ---------------------------------------------------------------------------

@register(
    "q112_winsorize",
    """
    WITH stats AS (
        SELECT event_type,
               quantile_cont(value, 0.01) AS p01,
               quantile_cont(value, 0.99) AS p99
        FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.value,
           LEAST(GREATEST(e.value, s.p01), s.p99) AS clipped,
           e.value < s.p01 OR e.value > s.p99 AS was_clipped
    FROM events e JOIN stats s ON e.event_type = s.event_type
    """,
    doc="winsorization (outlier clipping) at exact per-group 1st/99th "
    "percentiles: one percentile pass per group (5 rows), broadcast the "
    "thresholds back, clamp with least/greatest — the robust-scaling "
    "companion to q109's min-max. Spark's exact `percentile` and "
    "DuckDB's quantile_cont interpolate bitwise-identically (verified "
    "for q36/q71), and the clamp itself moves raw parquet doubles "
    "around without arithmetic, so outputs are exact. At 100 TB swap "
    "the exact percentile for percentile_approx (q35) and nothing else "
    "changes — the clamp join is already the scale shape.",
)
def q112_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_entregas_pyspark_spark.queries.events import E

    e = E(spark, sf_dir)
    stats = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.01)").alias("p01"),
        F.expr("percentile(value, 0.99)").alias("p99"),
    )
    return e.join(F.broadcast(stats), "event_type").select(
        "event_id",
        "event_type",
        "value",
        F.least(F.greatest(F.col("value"), F.col("p01")), F.col("p99")).alias("clipped"),
        ((F.col("value") < F.col("p01")) | (F.col("value") > F.col("p99"))).alias(
            "was_clipped"
        ),
    )


# ---------------------------------------------------------------------------
# q123 — deterministic weighted (Poisson) sampling with HT weights
# ---------------------------------------------------------------------------

_WPS_K = 500          # inclusion scale: p = min(1, K * n_chars / 1e6)
_WPS_MOD = 1_000_000  # uniform-hash modulus


@register(
    "q123_weighted_sample",
    f"""
    SELECT doc_id, lang, n_chars,
           {{RND_P}} AS p_include,
           {{RND_W}} AS ht_weight
    FROM documents
    WHERE ({{H}} % {_WPS_MOD}) < LEAST({_WPS_MOD}, {_WPS_K} * n_chars)
    """.replace("{H}", "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':wps'),1,15)) AS BIGINT)")
       .replace("{RND_P}", "FLOOR(CAST(LEAST(1000000, 500 * n_chars) AS DOUBLE) / 1000000.0 * 1000000.0 + 0.5) / 1000000.0")
       .replace("{RND_W}", "FLOOR(1000000.0 / CAST(LEAST(1000000, 500 * n_chars) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0"),
    doc=f"deterministic size-weighted Poisson sample of the corpus: each "
    f"document is kept iff hash60(doc_id) mod {_WPS_MOD} < "
    f"{_WPS_K}·n_chars, i.e. with probability proportional to its length "
    f"(capped at 1) — the standard PPS pre-sampling step for training-"
    f"mixture construction, made reproducible by replacing the RNG with "
    f"the engine-portable md5 hash (same keep set on ANY cluster, any "
    f"partitioning, any engine — the lineage property q63's split shares; "
    f"the ':wps' salt decorrelates it from every other hash-keyed "
    f"decision). Emits the inclusion probability and the Horvitz-"
    f"Thompson weight 1/p so downstream aggregates stay unbiased. "
    f"Stateless per-row filter: no shuffle, scan-bound at any scale.",
)
def q123_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_entregas_pyspark_spark.queries.similarity import md5_int

    d = T(spark, sf_dir, "documents")
    h = md5_int(F.concat(F.col("doc_id").cast("string"), F.lit(":wps")))
    p_num = F.least(F.lit(_WPS_MOD), F.lit(_WPS_K) * F.col("n_chars"))
    p = p_num.cast("double") / float(_WPS_MOD)
    return (
        d.filter((h % _WPS_MOD) < p_num)
        .select(
            "doc_id",
            "lang",
            "n_chars",
            rnd(p, 6).alias("p_include"),
            # one division (MOD/p_num), mirrored textually in the oracle:
            # 1/(p_num/MOD) would round twice and can differ in the ulp
            rnd(F.lit(float(_WPS_MOD)) / p_num.cast("double"), 6).alias("ht_weight"),
        )
    )


# ---------------------------------------------------------------------------
# q127 — quantile bucketizer (equi-depth discretizer, windowless scale path)
# ---------------------------------------------------------------------------

_QB_BUCKETS = 10
_QB_FRACS = "[" + ", ".join(str(i / _QB_BUCKETS) for i in range(1, _QB_BUCKETS)) + "]"


@register(
    "q127_quantile_bucketize",
    f"""
    WITH th AS (
        SELECT quantile_cont(o_totalprice, {_QB_FRACS}) AS t
        FROM orders
    )
    SELECT len(list_filter(th.t, x -> o.o_totalprice > x)) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price
    FROM orders o CROSS JOIN th
    GROUP BY bucket ORDER BY bucket
    """,
    doc=f"equi-depth discretizer: {_QB_BUCKETS} quantile buckets over order "
    "totals — the ML featurization twin of q17's ntile, built the way it "
    "must be at 100 TB: ntile needs a single ORDER BY over the whole "
    "table (one partition, no parallelism), while this computes the "
    f"{_QB_BUCKETS - 1} exact thresholds in one aggregate, broadcasts the "
    "tiny array, and assigns buckets with a JVM-side higher-order filter "
    "(count of thresholds below the value) — scan-shaped, "
    "embarrassingly parallel, one exchange total. Spark `percentile` "
    "and DuckDB `quantile_cont` interpolate bitwise-identically (the "
    "q36/q99 contract), so bucket boundaries agree across engines.",
)
def q127_quantile_bucketize(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    fracs = F.array(*[F.lit(i / _QB_BUCKETS) for i in range(1, _QB_BUCKETS)])
    th = o.agg(F.percentile("o_totalprice", fracs).alias("t"))
    bucket = F.size(
        F.filter("t", lambda x: F.col("o_totalprice") > x)
    ).alias("bucket")
    return (
        o.crossJoin(F.broadcast(th))
        .groupBy(bucket)
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# q130 — Z-order (Morton curve) layout clustering
# ---------------------------------------------------------------------------

_Z_BITS = 8           # bits kept per dimension (keys are folded mod 256,
                      # which fills the full bit range whatever the raw
                      # key domain — raw custkey/day values occupy only a
                      # sliver of 16 bits and would leave the high Morton
                      # bits constant, i.e. one giant bucket)
_Z_BUCKET_SHIFT = 10  # 16-bit morton >> 10 = 64 layout buckets


def _morton_sql(x: str, y: str) -> str:
    """Bit-interleave two 16-bit ints into a 32-bit Morton code — textually
    identical arithmetic for both engines (>> & << | work the same on
    BIGINT in Spark SQL and DuckDB)."""
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i})")
    return " | ".join(terms)


@register(
    "q130_zorder_layout",
    f"""
    WITH k AS (
        SELECT o_orderkey,
               o_custkey % 256 AS x,
               (epoch_us(o_orderdate) // 86400000000) % 256 AS y
        FROM orders
    ), z AS (
        SELECT o_orderkey, x, y,
               ({_morton_sql('x', 'y')}) >> {_Z_BUCKET_SHIFT} AS z_bucket
        FROM k
    )
    SELECT z_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(x) AS min_cust, MAX(x) AS max_cust,
           MIN(y) AS min_day, MAX(y) AS max_day
    FROM z GROUP BY z_bucket ORDER BY z_bucket
    """,
    doc="Z-order layout clustering: interleave the bits of (customer, "
    "order-day) into a 32-bit Morton code and fold the table into 64 "
    "curve ranges — the write-path layout optimization (Delta OPTIMIZE "
    "ZORDER, Hudi clustering) that makes BOTH per-customer and per-day "
    "predicates prune files at 100 TB. The per-bucket min/max envelope "
    "IS the proof of locality: each z-bucket covers a bounded rectangle "
    "of the key space, so either-dimension range scans touch O(few) "
    "buckets instead of all files (the min/max here are exactly the "
    "column stats a parquet/Delta writer would record for skipping). "
    "Pure integer bit arithmetic, textually identical in both engines; "
    "plan is scan -> project (32 shift/mask ops, codegen'd) -> one "
    "exchange on the 64-value bucket key. In production this feeds "
    "repartitionByRange(z) before the writer.",
)
def q130_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_entregas_pyspark_spark.timeutil import epoch_us

    o = T(spark, sf_dir, "orders")
    k = o.select(
        (F.col("o_custkey") % 256).alias("x"),
        ((epoch_us("o_orderdate") / F.lit(86_400_000_000)).cast("long") % 256).alias("y"),
    )
    z = k.select(
        "x", "y", F.expr(f"({_morton_sql('x', 'y')}) >> {_Z_BUCKET_SHIFT}").alias("z_bucket")
    )
    return (
        z.groupBy("z_bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.min("x").alias("min_cust"),
            F.max("x").alias("max_cust"),
            F.min("y").alias("min_day"),
            F.max("y").alias("max_day"),
        )
        .orderBy("z_bucket")
    )


# ---------------------------------------------------------------------------
# q157 — deterministic negative sampling for recommendation training
# ---------------------------------------------------------------------------

_NEG_K = 4  # proposals per user
_NEG_PARTS = 2000  # part-key domain is 0..1999 (contiguous)


@register(
    "q157_negative_sampling",
    f"""
    WITH inter AS (
        SELECT DISTINCT o.o_custkey AS custkey, l.l_partkey AS partkey
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ), users AS (
        SELECT DISTINCT custkey FROM inter WHERE custkey % 7 = 0
    ), props AS (
        SELECT u.custkey, k.k,
               {_md5_int_sql("CAST(u.custkey AS VARCHAR) || '#' || CAST(k.k AS VARCHAR)")}
                   % {_NEG_PARTS} AS part_neg
        FROM users u CROSS JOIN (SELECT unnest(range(1, {_NEG_K + 1})) AS k) k
    )
    SELECT p.custkey, CAST(p.k AS BIGINT) AS k, CAST(p.part_neg AS BIGINT) AS part_neg
    FROM props p
    WHERE NOT EXISTS (
        SELECT 1 FROM inter i
        WHERE i.custkey = p.custkey AND i.partkey = p.part_neg
    )
    """,
    doc="deterministic negative sampling: for every 7th customer, propose "
    "K=4 candidate parts via a content hash (md5(custkey#k) mod "
    "|parts|) and anti-join away true interactions — the (user, "
    "negative-item) pairs a two-tower or matrix-factorization trainer "
    "consumes. Hash proposals (not rand()) make the sample reproducible "
    "across runs, engines, partitionings, and retries — the same "
    "property as q63's content-hash split; collisions with true "
    "interactions simply drop (observed rate ~ interactions/|parts|), "
    "which is the standard accept-reject formulation. Plan: the "
    "interaction set is ONE distinct scan reused by proposal and "
    "anti-join sides; proposals are |users|*K rows; the anti-join "
    "shuffles on (custkey, partkey) — at 100 TB interactions are "
    "pre-bucketed on custkey (q150's layout) and the anti-join "
    "co-locates shuffle-free.",
)
def q157_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_orderkey"
    )
    l = T(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), F.col("l_partkey").alias("partkey")
    )
    inter = o.join(l, "o_orderkey").select("custkey", "partkey").distinct()
    users = inter.filter(F.col("custkey") % 7 == 0).select("custkey").distinct()
    props = users.select(
        "custkey", F.explode(F.sequence(F.lit(1), F.lit(_NEG_K))).alias("k")
    ).select(
        "custkey",
        "k",
        (
            md5_int(
                F.concat(
                    F.col("custkey").cast("string"),
                    F.lit("#"),
                    F.col("k").cast("string"),
                )
            )
            % _NEG_PARTS
        ).alias("part_neg"),
    )
    neg = props.join(
        inter,
        (props.custkey == inter.custkey) & (props.part_neg == inter.partkey),
        "left_anti",
    )
    return neg.select(
        "custkey",
        F.col("k").cast("bigint").alias("k"),
        F.col("part_neg").cast("bigint").alias("part_neg"),
    )


# ---------------------------------------------------------------------------
# q163 — weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-ES)
# ---------------------------------------------------------------------------

_WSN_K = 5
_WSN_M = 1_000_000  # hash-uniform resolution


@register(
    "q163_weighted_sample_noreplace",
    f"""
    WITH keyed AS (
        SELECT source, doc_id,
               POWER((({_md5_int_sql("CAST(doc_id AS VARCHAR) || '#wsn'")}
                       % {_WSN_M}) + 0.5) / {_WSN_M}.0,
                     1.0 / n_chars) AS k
        FROM documents WHERE n_chars > 0 AND source IS NOT NULL
    )
    SELECT source, doc_id, CAST(rnk AS BIGINT) AS rnk
    FROM (
        SELECT source, doc_id,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY k DESC, doc_id) AS rnk
        FROM keyed
    ) WHERE rnk <= {_WSN_K}
    """,
    doc="weighted sampling WITHOUT replacement, k=5 docs per source with "
    "probability proportional to n_chars — the Efraimidis-Spirakis "
    "A-ES one-pass reduction (public: Inf. Proc. Letters 2006): draw "
    "u ~ Uniform(0,1) per item, keep the top-k by u^(1/w); the order "
    "statistics reproduce sequential weighted draws exactly. u comes "
    "from a content hash, not rand(), so the sample is reproducible "
    "across runs/engines/partitionings (q63's determinism contract); "
    "u^(1/w) is one pow() on identical doubles — same libm on both "
    "engines (the q140/q141 contract). Unlike q123's Poisson sampling "
    "(independent coin per row, random SIZE), A-ES returns EXACTLY k "
    "per stratum. Plan: keys are computed in the scan stage; top-k per "
    "source is a partitioned window (at extreme per-stratum skew, the "
    "same salted partial top-k rewrite as SCALE.md's ANN section "
    "applies verbatim).",
)
def q163_weighted_sample_noreplace(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = T(spark, sf_dir, "documents").filter(
        (F.col("n_chars") > 0) & F.col("source").isNotNull()
    )
    u = (
        (md5_int(F.concat(F.col("doc_id").cast("string"), F.lit("#wsn"))) % _WSN_M)
        + 0.5
    ) / float(_WSN_M)
    keyed = d.select(
        "source", "doc_id", F.pow(u, 1.0 / F.col("n_chars")).alias("k")
    )
    w = Window.partitionBy("source").orderBy(F.col("k").desc(), F.col("doc_id"))
    return (
        keyed.select("source", "doc_id", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= _WSN_K)
        .select("source", "doc_id", F.col("rnk").cast("bigint").alias("rnk"))
    )


# ---------------------------------------------------------------------------
# q178 — GROUP-aware leakage-free split (all of an entity's rows together)
# ---------------------------------------------------------------------------


@register(
    "q178_group_split",
    f"""
    WITH assigned AS (
        SELECT user_id, event_id,
               CASE WHEN {_md5_int_sql("CAST(user_id AS VARCHAR)")} % {_SPLIT_BUCKETS} < 8 THEN 'train'
                    WHEN {_md5_int_sql("CAST(user_id AS VARCHAR)")} % {_SPLIT_BUCKETS} = 8 THEN 'val'
                    ELSE 'test' END AS split
        FROM events
    ), totals AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM assigned
    )
    SELECT split,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {_rnd_sql('100.0 * COUNT(*) / n_total', 2)} AS pct_events
    FROM assigned CROSS JOIN totals
    GROUP BY split, n_total
    """,
    doc="GROUP-aware train/val/test split: the split key is the md5 of "
    "the ENTITY (user_id), not the row, so every event of a user lands "
    "in one split — the leakage guard q63's content-hash split cannot "
    "give for behavioral data (a user's later events in train while "
    "their earlier ones sit in test lets the model memorize the "
    "entity; group-wise assignment is the standard fix, cf. "
    "GroupShuffleSplit). Same determinism contract as q63: stable "
    "under repartitioning, engine changes, and corpus growth because "
    "membership is a pure hash of the key, no rand(seed) and no "
    "positional dependence. Output audits the split: users and events "
    "per split and the event share (hash-uniformity puts it near "
    "80/10/10 without any global sort). Structural disjointness (no "
    "user in two splits) is asserted by a test. Plan: one map-side "
    "projection + one (split, user) aggregate; no joins over the fact.",
)
def q178_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_entregas_pyspark_spark.queries.events import E

    e = E(spark, sf_dir)
    bucket = md5_int(F.col("user_id").cast("string")) % _SPLIT_BUCKETS
    split = (
        F.when(bucket < 8, F.lit("train"))
        .when(bucket == 8, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    assigned = e.select("user_id", "event_id", split.alias("split"))
    totals = assigned.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    return (
        assigned.crossJoin(F.broadcast(totals))
        .groupBy("split", "n_total")
        .agg(
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
        )
        .select(
            "split",
            "n_users",
            "n_events",
            rnd(F.lit(100.0) * F.col("n_events") / F.col("n_total"), 2).alias(
                "pct_events"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q180 — contamination SCORE: n-gram overlap fraction, graded not binary
# ---------------------------------------------------------------------------

_CONTAM_TAU = 0.2   # report docs with >= 20% of their grams in the benchmark
_CONTAM_NGRAM = 3   # finer grain than q64's 8: the score needs graded overlap


@register(
    "q180_contamination_score",
    f"""
    WITH bench_grams AS (
        SELECT DISTINCT unnest(CASE WHEN len(string_split(text,' ')) >= {_CONTAM_NGRAM}
            THEN list_transform(generate_series(1, len(string_split(text,' ')) - {_CONTAM_NGRAM - 1}),
                 i -> array_to_string(list_slice(string_split(text,' '), i, i + {_CONTAM_NGRAM - 1}), ' '))
            ELSE [] END) AS gram
        FROM documents WHERE doc_id < {_BENCH_DOCS}
    ), corpus_grams AS (
        SELECT doc_id, unnest(CASE WHEN len(string_split(text,' ')) >= {_CONTAM_NGRAM}
            THEN list_transform(generate_series(1, len(string_split(text,' ')) - {_CONTAM_NGRAM - 1}),
                 i -> array_to_string(list_slice(string_split(text,' '), i, i + {_CONTAM_NGRAM - 1}), ' '))
            ELSE [] END) AS gram
        FROM documents WHERE doc_id >= {_BENCH_DOCS}
    ), per_doc AS (
        SELECT doc_id,
               CAST(COUNT(DISTINCT gram) AS BIGINT) AS n_grams,
               CAST(COUNT(DISTINCT CASE WHEN b.gram IS NOT NULL THEN c.gram END)
                    AS BIGINT) AS n_hit
        FROM corpus_grams c LEFT JOIN bench_grams b USING (gram)
        GROUP BY doc_id
    )
    SELECT doc_id, n_grams, n_hit,
           {_rnd_sql('CAST(n_hit AS DOUBLE) / n_grams', 4)} AS contamination
    FROM per_doc
    WHERE CAST(n_hit AS DOUBLE) / n_grams >= {_CONTAM_TAU}
    """,
    doc=f"graded benchmark contamination: for every corpus document, the "
    f"FRACTION of its distinct {_CONTAM_NGRAM}-grams that appear in the held-"
    f"out set, reporting docs >= {int(_CONTAM_TAU*100)}% contaminated — "
    "the decision-grade extension of q64's binary membership (published "
    "decontamination practice drops documents above an overlap-ratio "
    "threshold rather than on any single colliding n-gram, because one "
    "shared idiom is noise while 20% shared phrasing is a leak). "
    "Distinct-gram normalization makes the score length-invariant. "
    "Plan: the benchmark gram set broadcasts (tiny, model-state-like); "
    "the corpus gram stream LEFT-joins it map-side — the denominator "
    "and numerator come from ONE aggregate over that stream, so the "
    "corpus is tokenized and shuffled once on doc_id, never pairwise.",
)
def q180_contamination_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    bench = (
        _gram_stream(d.filter(F.col("doc_id") < _BENCH_DOCS), _CONTAM_NGRAM)
        .select(F.col("gram").alias("b_gram"))
        .distinct()
    )
    corpus = _gram_stream(
        spread_if_narrow(d.filter(F.col("doc_id") >= _BENCH_DOCS), "doc_id"),
        _CONTAM_NGRAM,
    )
    per_doc = (
        corpus.join(F.broadcast(bench), corpus.gram == bench.b_gram, "left")
        .groupBy("doc_id")
        .agg(
            F.count_distinct("gram").alias("n_grams"),
            F.count_distinct(
                F.when(F.col("b_gram").isNotNull(), F.col("gram"))
            ).alias("n_hit"),
        )
    )
    score = F.col("n_hit").cast("double") / F.col("n_grams")
    return per_doc.filter(score >= _CONTAM_TAU).select(
        "doc_id", "n_grams", "n_hit", rnd(score, 4).alias("contamination")
    )


# ---------------------------------------------------------------------------
# q181 — class-balanced resampling (deterministic oversampling to parity)
# ---------------------------------------------------------------------------


@register(
    "q181_balanced_resample",
    """
    WITH sized AS (
        SELECT label, CAST(COUNT(*) AS BIGINT) AS n FROM embeddings GROUP BY label
    ), target AS (
        SELECT MAX(n) AS t FROM sized
    ), plan AS (
        SELECT e.vec_id, e.label,
               CAST(t // s.n AS BIGINT)
                   + CASE WHEN ROW_NUMBER() OVER (
                              PARTITION BY e.label ORDER BY e.vec_id)
                          <= t % s.n THEN 1 ELSE 0 END AS n_copies
        FROM embeddings e
        JOIN sized s ON e.label = s.label
        CROSS JOIN target
    ), expanded AS (
        SELECT vec_id, label,
               CAST(unnest(generate_series(1, n_copies)) AS BIGINT) AS copy_id
        FROM plan WHERE n_copies > 0
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_distinct,
           CAST(SUM(vec_id * copy_id) AS BIGINT) AS probe_sum
    FROM expanded GROUP BY label
    """,
    doc="deterministic class rebalancing: every label is oversampled to "
    "EXACTLY the majority-class size — each vector gets floor(target/n) "
    "copies and the first target%n vectors (by vec_id, a stable order) "
    "one extra, the largest-remainder trick q161 uses for shares "
    "applied to replication counts, so the output is exactly balanced "
    "with max/min copy skew of 1 and zero randomness (a rand()-based "
    "oversampler is neither reproducible nor exactly balanced). The "
    "expansion is explode(sequence(1, n_copies)) — distributed, no "
    "driver loop; the audit output proves balance (n_rows equal across "
    "labels) and the (vec_id x copy_id) probe sum pins the exact "
    "replication multiset, so the oracle catches off-by-one copy "
    "assignment, not just totals. Plan: per-label sizes broadcast back "
    "over the scan (windowless q99 pattern except the rank window, "
    "which partitions by label); explode is pipelined, no extra "
    "exchange above the label aggregate.",
)
def q181_balanced_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = T(spark, sf_dir, "embeddings").select("vec_id", "label")
    sized = e.groupBy("label").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    target = sized.agg(F.max("n").alias("t"))
    w_rank = Window.partitionBy("label").orderBy("vec_id")
    plan = (
        e.join(sized, "label")
        .crossJoin(F.broadcast(target))
        .select(
            "vec_id",
            "label",
            (
                F.expr("t div n")
                + F.when(
                    F.row_number().over(w_rank) <= F.col("t") % F.col("n"), 1
                ).otherwise(0)
            ).cast("bigint").alias("n_copies"),
        )
    )
    expanded = plan.filter(F.col("n_copies") > 0).select(
        "vec_id",
        "label",
        F.explode(F.sequence(F.lit(1).cast("bigint"), F.col("n_copies"))).alias(
            "copy_id"
        ),
    )
    return expanded.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.countDistinct("vec_id").cast("bigint").alias("n_distinct"),
        F.sum(F.col("vec_id") * F.col("copy_id")).cast("bigint").alias("probe_sum"),
    )


# ---------------------------------------------------------------------------
# q185 — small-file compaction planner (cumulative-offset bin packing)
# ---------------------------------------------------------------------------

_COMPACT_TARGET = 65536  # bytes per output file (scaled down with the data)
_COMPACT_FILES = 16  # simulated files per partition


@register(
    "q185_compaction_planner",
    f"""
    WITH files AS (
        SELECT strftime(l_shipdate, '%Y-%m') AS part,
               l_suppkey % {_COMPACT_FILES} AS file_id,
               CAST(COUNT(*) * 128 + SUM(l_orderkey % 997) AS BIGINT) AS bytes
        FROM lineitem GROUP BY 1, 2
    ), planned AS (
        SELECT part, file_id, bytes,
               SUM(bytes) OVER (PARTITION BY part ORDER BY bytes DESC, file_id
                                ROWS UNBOUNDED PRECEDING) - bytes AS offs
        FROM files
    )
    SELECT part, CAST(offs // {_COMPACT_TARGET} AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(bytes) AS BIGINT) AS total_bytes,
           CAST(MIN(bytes) AS BIGINT) AS min_bytes,
           CAST(MAX(bytes) AS BIGINT) AS max_bytes
    FROM planned GROUP BY part, bin
    """,
    doc="the small-file problem, planned away: simulate a per-partition "
    "file inventory (ship-month x supplier-bucket, deterministic byte "
    "sizes from row counts), then assign every file to a compaction "
    "group by CUMULATIVE-OFFSET binning — files ordered size-desc "
    "within the partition, bin = floor(running-offset / target). This "
    "is the shuffle-free window form of first-fit-decreasing: each bin "
    "lands within one file of the target (a boundary-straddling file "
    "stays in the bin it started), and unlike true FFD it needs no "
    "sequential bin state, so the plan IS a window + groupBy — at 100 "
    "TB the inventory comes from the metastore listing (millions of "
    "rows, not data bytes) and the planner output drives "
    "coalesce-rewrite jobs per bin. The window partitions by table "
    "partition (bounded width); nothing touches data files. Output "
    "audits bins: file count, packed bytes vs target, size extremes.",
)
def q185_compaction_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    li = T(spark, sf_dir, "lineitem")
    files = li.groupBy(
        F.date_format("l_shipdate", "yyyy-MM").alias("part"),
        (F.col("l_suppkey") % _COMPACT_FILES).alias("file_id"),
    ).agg(
        (
            F.count(F.lit(1)) * 128 + F.sum(F.col("l_orderkey") % 997)
        ).cast("bigint").alias("bytes")
    )
    w = (
        Window.partitionBy("part")
        .orderBy(F.col("bytes").desc(), "file_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    planned = files.select(
        "part",
        "file_id",
        "bytes",
        (F.sum("bytes").over(w) - F.col("bytes")).alias("offs"),
    )
    return planned.groupBy(
        "part", F.expr(f"offs div {_COMPACT_TARGET}").cast("bigint").alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_files"),
        F.sum("bytes").cast("bigint").alias("total_bytes"),
        F.min("bytes").cast("bigint").alias("min_bytes"),
        F.max("bytes").cast("bigint").alias("max_bytes"),
    )


# ---------------------------------------------------------------------------
# q188 — pretraining prep funnel: quality filter → exact dedup → packing,
#         audited per source
# ---------------------------------------------------------------------------

_FUNNEL_MIN_TOKENS = 40
_FUNNEL_MAX_TOKENS = 1000


@register(
    "q188_pretrain_funnel",
    f"""
    WITH sized AS (
        SELECT doc_id, source, text,
               LEN(string_split(text, ' ')) AS n_tokens
        FROM documents
    ), quality AS (
        SELECT * FROM sized
        WHERE n_tokens BETWEEN {_FUNNEL_MIN_TOKENS} AND {_FUNNEL_MAX_TOKENS}
    ), grp AS (
        SELECT md5(lower(text)) AS fp, MIN(doc_id) AS rep_id
        FROM quality GROUP BY md5(lower(text))
    ), deduped AS (
        SELECT q.doc_id, q.source, q.n_tokens
        FROM quality q JOIN grp g ON q.doc_id = g.rep_id
    ), binned AS (
        SELECT source, doc_id, n_tokens,
               CAST(FLOOR(CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) - n_tokens AS DOUBLE)
                          / {_PACK_BUDGET}) AS BIGINT) AS bin_id
        FROM deduped
    )
    SELECT s.source,
           CAST(COUNT(*) AS BIGINT) AS n_input,
           CAST(SUM(CASE WHEN s.n_tokens BETWEEN {_FUNNEL_MIN_TOKENS} AND {_FUNNEL_MAX_TOKENS}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
           CAST(COALESCE(ANY_VALUE(d.n_docs), 0) AS BIGINT) AS n_deduped,
           CAST(COALESCE(ANY_VALUE(d.n_bins), 0) AS BIGINT) AS n_bins,
           CAST(COALESCE(ANY_VALUE(d.total_tokens), 0) AS BIGINT) AS total_tokens
    FROM sized s
    LEFT JOIN (
        SELECT source, COUNT(*) AS n_docs,
               COUNT(DISTINCT bin_id) AS n_bins,
               SUM(n_tokens) AS total_tokens
        FROM binned GROUP BY source
    ) d ON s.source = d.source
    GROUP BY s.source
    """,
    doc="the pretraining corpus-prep chain as ONE audited operator: "
    f"quality gate (token count in [{_FUNNEL_MIN_TOKENS}, "
    f"{_FUNNEL_MAX_TOKENS}]) → exact dedup (md5(lower(text)) keep-min-id, "
    "q93's collapse stage) → sequence packing into "
    f"{_PACK_BUDGET}-token bins (q82's cumulative-offset rule, partitioned by "
    "source) — with the per-source funnel counts a data lead actually "
    "reviews before a training run: input docs, quality survivors, "
    "dedup survivors, packed bin count, packed token budget. Each "
    "stage is the already-proven primitive; the composition pins their "
    "interaction order (dedup AFTER quality: a spam doc must not "
    "shadow a clean duplicate; packing AFTER dedup: bins must never "
    "contain the same content twice). Cost: one scan feeds the funnel, "
    "the dedup groupBy runs on quality survivors only, the packing "
    "window is per-source (q82's bounded state) — every stage strictly "
    "shrinks the data, the 100-TB property a prep pipeline must have.",
)
def q188_pretrain_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    sized = T(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "text",
        F.size(F.split("text", " ")).alias("n_tokens"),
    )
    quality = sized.filter(
        F.col("n_tokens").between(_FUNNEL_MIN_TOKENS, _FUNNEL_MAX_TOKENS)
    )
    grp = quality.groupBy(F.md5(F.lower(F.col("text"))).alias("fp")).agg(
        F.min("doc_id").alias("rep_id")
    )
    deduped = quality.join(
        grp.select(F.col("rep_id").alias("doc_id")), "doc_id"
    ).select("doc_id", "source", "n_tokens")
    w_pack = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    binned = deduped.select(
        "source",
        "n_tokens",
        F.floor(
            (F.sum("n_tokens").over(w_pack) - F.col("n_tokens")).cast("double")
            / _PACK_BUDGET
        ).cast("bigint").alias("bin_id"),
    )
    packed = binned.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_deduped"),
        F.countDistinct("bin_id").cast("bigint").alias("n_bins"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
    )
    funnel = sized.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_input"),
        F.sum(
            F.when(
                F.col("n_tokens").between(_FUNNEL_MIN_TOKENS, _FUNNEL_MAX_TOKENS),
                1,
            ).otherwise(0)
        ).cast("bigint").alias("n_quality"),
    )
    return funnel.join(packed, "source", "left").select(
        "source",
        "n_input",
        "n_quality",
        F.coalesce("n_deduped", F.lit(0)).cast("bigint").alias("n_deduped"),
        F.coalesce("n_bins", F.lit(0)).cast("bigint").alias("n_bins"),
        F.coalesce("total_tokens", F.lit(0)).cast("bigint").alias("total_tokens"),
    )


# ---------------------------------------------------------------------------
# q190 — stratified k-fold assignment (exact per-stratum balance)
# ---------------------------------------------------------------------------

_KFOLD = 5


@register(
    "q190_stratified_kfold",
    f"""
    WITH ranked AS (
        SELECT vec_id, label,
               ROW_NUMBER() OVER (PARTITION BY label
                                  ORDER BY {_md5_int_sql("CAST(vec_id AS VARCHAR)")}, vec_id) AS rk
        FROM embeddings
    )
    SELECT (rk - 1) % {_KFOLD} AS fold, label,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(vec_id) AS BIGINT) AS probe
    FROM ranked GROUP BY fold, label
    """,
    doc=f"stratified {_KFOLD}-fold cross-validation assignment: within "
    "every label stratum, rows are ranked by a deterministic md5 "
    "scramble of their id (pseudo-random order with zero RNG state) "
    "and dealt round-robin into folds — so per (label, fold) counts "
    "are EXACTLY balanced (max spread 1), which hash-mod assignment "
    "(q63's split) only achieves in expectation. The audit emits the "
    "(fold, label) grid with an id probe sum pinning the exact deal. "
    "Scale: the rank window partitions by label — fine while strata "
    "are node-sized; for web-scale strata the same deal decomposes "
    "into per-bucket ranks + broadcast bucket-count offsets (the "
    "q174/q131 prefix-sum rewrite) or falls back to q63's hash split "
    "when expectation-level balance suffices. Choosing rank-deal vs "
    "hash-mod IS the operator's documented tradeoff.",
)
def q190_stratified_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = T(spark, sf_dir, "embeddings").select("vec_id", "label")
    w = Window.partitionBy("label").orderBy(
        md5_int(F.col("vec_id").cast("string")), "vec_id"
    )
    ranked = e.select(
        "vec_id", "label", F.row_number().over(w).alias("rk")
    )
    return ranked.groupBy(
        ((F.col("rk") - 1) % _KFOLD).alias("fold"), "label"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("vec_id").cast("bigint").alias("probe"),
    )


# ---------------------------------------------------------------------------
# q193 — deterministic per-epoch training order (seeded reshuffle)
# ---------------------------------------------------------------------------

_EPOCHS = 3
_ORDER_MOD = 100003  # probe modulus: keeps the order-probe sum in int64


@register(
    "q193_epoch_shuffle",
    f"""
    WITH keyed AS (
        SELECT g.i AS epoch, d.doc_id,
               {_md5_int_sql("CAST(g.i AS VARCHAR) || '|' || CAST(d.doc_id AS VARCHAR)")} AS hk
        FROM documents d CROSS JOIN generate_series(0, {_EPOCHS - 1}) AS g(i)
    )
    SELECT epoch,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT hk) AS BIGINT) AS n_distinct_keys,
           CAST(SUM((hk % {_ORDER_MOD}) * doc_id) AS BIGINT) AS order_probe,
           CAST(ARG_MIN(doc_id, hk) AS BIGINT) AS first_doc_id
    FROM keyed GROUP BY epoch
    """,
    doc="reproducible training-data shuffling: epoch e orders the corpus "
    "by md5(e || doc_id) — a different, deterministic permutation every "
    "epoch with zero RNG state, the property that makes a training run "
    "resumable mid-epoch and bit-identical across reruns (rand(seed) "
    "depends on partitioning; zipWithIndex on scan order). No global "
    "sort materializes here: the audit pins each epoch's permutation "
    "through its hash-key sum probe (the keys ARE the order) plus the "
    "first-scheduled doc via arg_min, so any drift in the hash or its "
    "mixing shows. At scale the shuffle is a SORT BY the key at write "
    "time (range partitioner, no single-task sort) or simply reading "
    "bucket files in key order; distinct-key count documents collision "
    "absence at this corpus size. One scan x epochs, one aggregate.",
)
def q193_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents").select("doc_id")
    epochs = spark.range(_EPOCHS).select(F.col("id").cast("int").alias("epoch"))
    hk = md5_int(
        F.concat_ws("|", F.col("epoch").cast("string"), F.col("doc_id").cast("string"))
    )
    keyed = d.crossJoin(F.broadcast(epochs)).select(
        "epoch", "doc_id", hk.alias("hk")
    )
    return keyed.groupBy("epoch").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("hk").cast("bigint").alias("n_distinct_keys"),
        F.sum((F.col("hk") % _ORDER_MOD) * F.col("doc_id"))
        .cast("bigint")
        .alias("order_probe"),
        F.min_by("doc_id", "hk").cast("bigint").alias("first_doc_id"),
    )


# ---------------------------------------------------------------------------
# q208 — PPS sample + Horvitz-Thompson estimator audit (the sampling
#         validity certificate)
# ---------------------------------------------------------------------------

_PPS_FRAC = 0.2          # expected sample fraction of the corpus
_PPS_U_DEN = float(1 << 60)  # md5_int yields 60 bits → uniform in [0, 1)
_HT_Q = 4                # fixed-point scale for the HT weighted sum


@register(
    "q208_pps_sample_audit",
    f"""
    WITH stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_corpus,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents
    ), scored AS (
        SELECT d.doc_id, d.source,
               CAST(len(string_split(d.text, ' ')) AS BIGINT) AS toks,
               LEAST(1.0, CEIL({_PPS_FRAC} * s.n_corpus)
                          * CAST(d.n_chars AS DOUBLE) / s.total_chars) AS pi,
               {_md5_int_sql("CAST(d.doc_id AS VARCHAR)")} / {_PPS_U_DEN} AS u
        FROM documents d CROSS JOIN stats s
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN u < pi THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
           CAST(SUM(toks) AS BIGINT) AS exact_tokens,
           {_rnd_sql(f"SUM(CAST(FLOOR(CASE WHEN u < pi THEN toks / pi ELSE 0.0 END * 10000.0) AS BIGINT)) / 10000.0", 2)} AS ht_estimate,
           {_rnd_sql(f"100.0 * ((SUM(CAST(FLOOR(CASE WHEN u < pi THEN toks / pi ELSE 0.0 END * 10000.0) AS BIGINT)) / 10000.0) - SUM(toks)) / SUM(toks)", 4)} AS rel_err_pct
    FROM scored GROUP BY source ORDER BY source
    """,
    doc="probability-proportional-to-size corpus sampling with its "
    "validity certificate: each document enters the sample with "
    "inclusion probability pi = min(1, m*size/total) (m = expected "
    "sample count, size = n_chars) decided by a DETERMINISTIC md5 "
    "uniform — reproducible across engines, partitionings and reruns, "
    "the q63/q193 hash-randomness discipline. The audit estimates a "
    "DIFFERENT quantity than the size measure (whitespace tokens) via "
    "the Horvitz-Thompson weighted sum sum(tokens/pi) over sampled "
    "docs and reports the per-source relative error against the exact "
    "total — the unbiasedness check you run on a validation window "
    "before trusting any subsampled statistic at 100 TB. HT terms are "
    "fixed-point-quantized (1e-4) so the weighted sum is an exact "
    "integer accumulation. Plan: the 2-value corpus stats broadcast; "
    "ONE documents scan computes pi, u, and the token count per row "
    "(all codegen — no explode, no join on data-scale rows); one "
    "source-keyed partial agg emits |sources| audit rows. The exact "
    "totals ride the same scan, so the certificate costs one pass.",
)
def q208_pps_sample_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    stats = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_corpus"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )
    pi = F.least(
        F.lit(1.0),
        F.ceil(F.lit(_PPS_FRAC) * F.col("n_corpus"))
        * F.col("n_chars").cast("double")
        / F.col("total_chars"),
    )
    u = md5_int(F.col("doc_id").cast("string")) / F.lit(_PPS_U_DEN)
    scored = d.crossJoin(F.broadcast(stats)).select(
        "source",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("toks"),
        pi.alias("pi"),
        u.alias("u"),
    )
    ht_term = F.when(
        F.col("u") < F.col("pi"), F.col("toks") / F.col("pi")
    ).otherwise(F.lit(0.0))
    agg = scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("u") < F.col("pi"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_sampled"),
        F.sum("toks").cast("bigint").alias("exact_tokens"),
        (
            F.sum(F.floor(ht_term * F.lit(10000.0)).cast("long")) / F.lit(10000.0)
        ).alias("ht_raw"),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_sampled",
        "exact_tokens",
        rnd(F.col("ht_raw"), 2).alias("ht_estimate"),
        rnd(
            F.lit(100.0)
            * (F.col("ht_raw") - F.col("exact_tokens"))
            / F.col("exact_tokens"),
            4,
        ).alias("rel_err_pct"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# q247 — length-bucket batching plan: padding waste per equi-depth length
#         bucket vs the unbucketed baseline (the pre-training batching
#         decision: a batch pads every sequence to its longest member, so
#         bucketing by length is the single cheapest throughput lever)
# ---------------------------------------------------------------------------

_LB_BUCKETS = 4
_LB_FRACS = "[" + ", ".join(
    str(i / _LB_BUCKETS) for i in range(1, _LB_BUCKETS)
) + "]"


@register(
    "q247_length_bucket_plan",
    f"""
    WITH lens AS (
        SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ), th AS (
        SELECT quantile_cont(n_tokens, {_LB_FRACS}) AS t FROM lens
    ), tagged AS (
        SELECT CAST(len(list_filter(th.t, x -> l.n_tokens > x)) AS BIGINT)
                   AS bucket,
               l.n_tokens
        FROM lens l CROSS JOIN th
    ), per AS (
        SELECT bucket,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(MAX(n_tokens) AS BIGINT) AS cap_tokens,
               CAST(SUM(n_tokens) AS BIGINT) AS actual_tokens,
               CAST(COUNT(*) * MAX(n_tokens) AS BIGINT) AS padded_tokens
        FROM tagged GROUP BY bucket
    ), base AS (
        SELECT CAST(-1 AS BIGINT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(MAX(n_tokens) AS BIGINT) AS cap_tokens,
               CAST(SUM(n_tokens) AS BIGINT) AS actual_tokens,
               CAST(COUNT(*) * MAX(n_tokens) AS BIGINT) AS padded_tokens
        FROM lens
    )
    SELECT bucket, n_docs, cap_tokens, actual_tokens, padded_tokens,
           {_rnd_sql('CAST(padded_tokens - actual_tokens AS DOUBLE) / padded_tokens', 6)}
               AS waste_frac
    FROM (SELECT * FROM per UNION ALL SELECT * FROM base)
    ORDER BY bucket
    """,
    doc=f"the sequence-batching DECISION table: a training batch pads "
    "every sequence to its longest member, so tokens-per-second is "
    "bought or lost at batch composition time. Documents bucket into "
    f"{_LB_BUCKETS} equi-depth LENGTH buckets (exact quantile "
    "thresholds — q127's windowless discipline: one aggregate, "
    "broadcast the tiny threshold array, JVM-side threshold-count "
    "assignment; ntile would serialize the corpus through one sort "
    "partition) and the table prices each bucket's padding waste "
    "(n_docs x bucket max - actual tokens) next to the bucket=-1 "
    "UNBUCKETED baseline, where every document pads to the global "
    "max. The waste_frac delta between the -1 row and the bucketed "
    "rows IS the throughput headroom bucketed batching buys before "
    "any packing (q82 packs WITHIN a budget; this chooses the "
    "budgets). Exactness: token counts and padded sums are pure "
    "integers; one rounded division per row; Spark percentile and "
    "DuckDB quantile_cont interpolate bitwise-identically (q36/q127's "
    "contract). Plan: one token-count scan, one exact-percentile "
    "aggregate, one broadcast, one grouped aggregate — two exchanges "
    "total, no window, linear in corpus tokens at any scale.",
)
def q247_length_bucket_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    lens = (
        T(spark, sf_dir, "documents")
        .select(
            F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens")
        )
        .localCheckpoint()  # two consumers: thresholds + assignment
    )
    fracs = F.array(
        *[F.lit(i / _LB_BUCKETS) for i in range(1, _LB_BUCKETS)]
    )
    th = lens.agg(F.percentile("n_tokens", fracs).alias("t"))
    bucket = (
        F.size(F.filter("t", lambda x: F.col("n_tokens") > x))
        .cast("long")
        .alias("bucket")
    )
    def stats(df: DataFrame, bucket_col) -> DataFrame:
        return df.groupBy(bucket_col).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.max("n_tokens").cast("bigint").alias("cap_tokens"),
            F.sum("n_tokens").cast("bigint").alias("actual_tokens"),
            (F.count(F.lit(1)) * F.max("n_tokens"))
            .cast("bigint")
            .alias("padded_tokens"),
        )
    per = stats(lens.crossJoin(F.broadcast(th)), bucket)
    base = stats(lens, F.lit(-1).cast("long").alias("bucket"))
    waste = rnd(
        (F.col("padded_tokens") - F.col("actual_tokens")).cast("double")
        / F.col("padded_tokens"),
        6,
    )
    return (
        per.unionByName(base)
        .select(
            "bucket",
            "n_docs",
            "cap_tokens",
            "actual_tokens",
            "padded_tokens",
            waste.alias("waste_frac"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# q251 — packed-batch ASSIGNMENT on q247's buckets (r14 VERDICT missing #4):
#         q247 prices the length-bucket plan; this emits the actual
#         batch_id per document under a token budget.
# ---------------------------------------------------------------------------

_BATCH_BUDGET = 512  # padded tokens per batch (the accelerator step budget)
_BATCH_SHARDS = 8    # parallel packing shards per bucket (batches never
#                     cross shards — at 100 TB shards scale with the
#                     cluster and the waste profile is unchanged: one
#                     ragged tail batch per (bucket, shard))


@register(
    "q251_packed_batch_assign",
    f"""
    WITH lens AS (
        SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ), th AS (
        SELECT quantile_cont(n_tokens, {_LB_FRACS}) AS t FROM lens
    ), tagged AS (
        SELECT l.doc_id, l.n_tokens,
               CAST(len(list_filter(th.t, x -> l.n_tokens > x)) AS BIGINT)
                   AS bucket
        FROM lens l CROSS JOIN th
    ), caps AS (
        SELECT bucket, CAST(MAX(n_tokens) AS BIGINT) AS cap_tokens
        FROM tagged GROUP BY bucket
    ), seq AS (
        SELECT t.doc_id, t.n_tokens, t.bucket, c.cap_tokens,
               CAST(t.doc_id % {_BATCH_SHARDS} AS BIGINT) AS shard,
               ROW_NUMBER() OVER (
                   PARTITION BY t.bucket, t.doc_id % {_BATCH_SHARDS}
                   ORDER BY t.n_tokens DESC, t.doc_id) AS rn
        FROM tagged t JOIN caps c ON t.bucket = c.bucket
    ), assigned AS (
        SELECT doc_id, n_tokens, bucket, shard, cap_tokens,
               CAST(FLOOR((rn - 1) / GREATEST(1.0,
                   FLOOR({_BATCH_BUDGET} / cap_tokens))) AS BIGINT) AS batch_id
        FROM seq
    ), bstats AS (
        SELECT bucket, shard, batch_id,
               CAST(SUM(n_tokens) AS BIGINT) AS tok,
               CAST(COUNT(*) AS BIGINT) AS nb,
               MAX(cap_tokens) AS cap
        FROM assigned GROUP BY bucket, shard, batch_id
    )
    SELECT a.doc_id, a.bucket, a.shard, a.batch_id, a.n_tokens,
           {_rnd_sql('CAST(b.tok AS DOUBLE) / (b.nb * b.cap)', 6)}
               AS batch_fill_frac
    FROM assigned a
    JOIN bstats b ON a.bucket = b.bucket AND a.shard = b.shard
                 AND a.batch_id = b.batch_id
    ORDER BY a.doc_id
    """,
    doc="the batch ASSIGNMENT that executes q247's plan: within each "
    f"equi-depth length bucket every sequence pads to the bucket "
    "ceiling, so bin slots are UNIFORM and first-fit-decreasing "
    "collapses exactly to deterministic fixed-capacity chunking — the "
    "window-arithmetic form of FFD (sort by length desc, fill "
    f"capacity = floor({_BATCH_BUDGET} / bucket_cap) slots, open the "
    "next batch): provably no packing under the pad-to-ceiling model "
    "uses fewer batches, and the only waste left is each shard's one "
    "ragged tail. Documents shard "
    f"{_BATCH_SHARDS} ways inside each bucket (deterministic doc_id "
    "mod) and batches never cross shards, so the per-(bucket, shard) "
    "row_number window is corpus/(buckets x shards)-sized — at 100 TB "
    "shards scale with the cluster instead of serializing each bucket "
    "through one sort task, and the waste profile is unchanged. "
    "Emitted per document: bucket, shard, batch_id, its batch's fill "
    "fraction (actual tokens / padded slot tokens — the number whose "
    "complement q247 prices corpus-wide). Exactness: thresholds are "
    "the exact-percentile contract q247 pins; everything downstream "
    "is integer arithmetic plus one rounded division. Plan: one "
    "token-count scan, the threshold broadcast, one bucket-cap "
    "aggregate broadcast back, ONE sharded window pass, one grouped "
    "aggregate joined back — no data-sized window partition, no "
    "driver-side loop.",
)
def q251_packed_batch_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    lens = (
        T(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
        )
        .localCheckpoint()  # two consumers: thresholds + assignment
    )
    fracs = F.array(
        *[F.lit(i / _LB_BUCKETS) for i in range(1, _LB_BUCKETS)]
    )
    th = lens.agg(F.percentile("n_tokens", fracs).alias("t"))
    bucket = (
        F.size(F.filter("t", lambda x: F.col("n_tokens") > x))
        .cast("long")
        .alias("bucket")
    )
    tagged = lens.crossJoin(F.broadcast(th)).select(
        "doc_id", "n_tokens", bucket
    )
    caps = tagged.groupBy("bucket").agg(
        F.max("n_tokens").cast("long").alias("cap_tokens")
    )
    seq = (
        tagged.join(F.broadcast(caps), "bucket")
        .select(
            "doc_id",
            "n_tokens",
            "bucket",
            "cap_tokens",
            F.pmod("doc_id", F.lit(_BATCH_SHARDS)).cast("long").alias("shard"),
        )
    )
    w = Window.partitionBy("bucket", "shard").orderBy(
        F.col("n_tokens").desc(), F.col("doc_id")
    )
    capacity = F.greatest(
        F.lit(1.0), F.floor(F.lit(float(_BATCH_BUDGET)) / F.col("cap_tokens"))
    )
    assigned = seq.select(
        "*", F.row_number().over(w).alias("rn")
    ).select(
        "doc_id",
        "n_tokens",
        "bucket",
        "shard",
        "cap_tokens",
        F.floor((F.col("rn") - 1) / capacity).cast("long").alias("batch_id"),
    )
    bstats = assigned.groupBy("bucket", "shard", "batch_id").agg(
        F.sum("n_tokens").cast("bigint").alias("tok"),
        F.count(F.lit(1)).cast("bigint").alias("nb"),
        F.max("cap_tokens").alias("cap"),
    )
    return (
        assigned.join(bstats, ["bucket", "shard", "batch_id"])
        .select(
            "doc_id",
            "bucket",
            "shard",
            "batch_id",
            "n_tokens",
            rnd(
                F.col("tok").cast("double") / (F.col("nb") * F.col("cap")), 6
            ).alias("batch_fill_frac"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q258 — contamination depth profile: eval-side n-gram overlap across n
# ---------------------------------------------------------------------------

_DEPTH_NS = (3, 5, 8)  # n-gram resolutions swept (8 = q64's scrub width)


def _depth_grams_sql(n: int, where: str) -> str:
    return (
        "SELECT DISTINCT unnest(CASE WHEN len(string_split(text,' ')) >= "
        f"{n} THEN list_transform(generate_series(1, "
        f"len(string_split(text,' ')) - {n - 1}), i -> array_to_string("
        f"list_slice(string_split(text,' '), i, i + {n - 1}), ' ')) "
        f"ELSE [] END) AS gram FROM documents WHERE {where}"
    )


def _q258_oracle() -> str:
    arms = []
    for n in _DEPTH_NS:
        arms.append(
            f"""SELECT {n} AS gram_n,
               (SELECT CAST(COUNT(*) AS BIGINT)
                FROM ({_depth_grams_sql(n, f'doc_id < {_BENCH_DOCS}')})) AS n_eval_grams,
               (SELECT CAST(COUNT(*) AS BIGINT)
                FROM ({_depth_grams_sql(n, f'doc_id < {_BENCH_DOCS}')}) e
                WHERE gram IN (SELECT gram
                               FROM ({_depth_grams_sql(n, f'doc_id >= {_BENCH_DOCS}')}))
               ) AS n_hit_grams"""
        )
    body = " UNION ALL ".join(arms)
    return (
        f"SELECT gram_n, n_eval_grams, n_hit_grams, "
        f"{_rnd_sql('CAST(n_hit_grams AS DOUBLE) / n_eval_grams', 6)} AS hit_rate "
        f"FROM ({body}) ORDER BY gram_n"
    )


@register(
    "q258_contamination_depth",
    _q258_oracle(),
    doc=f"contamination depth profile: for each n in {_DEPTH_NS}, the "
    f"fraction of the held-out set's (doc_id < {_BENCH_DOCS}) distinct "
    "word n-grams that also occur anywhere in the training corpus — the "
    "eval-side decay curve that published contamination audits sweep "
    "(short grams collide by chance, long grams only by true leakage; "
    "WHERE the curve breaks is the evidence of verbatim overlap). "
    "Complements q64, which attributes hits to TRAIN documents at the "
    "fixed scrub width. Per resolution: the eval gram set is tiny -> "
    "broadcast; the corpus gram stream semi-joins map-side and partial-"
    "aggs to a 1-row count, so the corpus is never shuffled — three "
    "linear scans, each Catalyst array arithmetic, at any corpus size.",
)
def q258_contamination_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") < _BENCH_DOCS)
    corpus = d.filter(F.col("doc_id") >= _BENCH_DOCS)
    out = None
    for n in _DEPTH_NS:
        eval_g = _gram_stream(bench, n).select("gram").distinct()
        n_eval = eval_g.agg(F.count(F.lit(1)).cast("long").alias("n_eval_grams"))
        n_hit = (
            _gram_stream(corpus, n)
            .join(F.broadcast(eval_g), "gram")
            .select("gram")
            .distinct()
            .agg(F.count(F.lit(1)).cast("long").alias("n_hit_grams"))
        )
        arm = (
            n_eval.crossJoin(F.broadcast(n_hit))
            .select(F.lit(n).alias("gram_n"), "n_eval_grams", "n_hit_grams")
        )
        out = arm if out is None else out.unionByName(arm)
    return out.select(
        "gram_n",
        "n_eval_grams",
        "n_hit_grams",
        rnd(F.col("n_hit_grams").cast("double") / F.col("n_eval_grams"), 6).alias(
            "hit_rate"
        ),
    ).orderBy("gram_n")


# ---------------------------------------------------------------------------
# q259 — preference-pair construction (DPO/RLHF data prep)
# ---------------------------------------------------------------------------

_PREF_K = 10  # pairs mined per source (strata >= 2K stay disjoint top/bottom)


@register(
    "q259_preference_pairs",
    f"""
    WITH scored AS (
        SELECT doc_id, source,
               (10000 * LEN(list_distinct(string_split(lower(text), ' '))))
                   // LEN(string_split(lower(text), ' ')) AS quality_q
        FROM documents
    ), ranked AS (
        SELECT doc_id, source, quality_q,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY quality_q DESC, doc_id ASC) AS r_top,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY quality_q ASC, doc_id DESC) AS r_bot
        FROM scored
    )
    SELECT t.source, t.r_top AS pair_id,
           t.doc_id AS chosen_doc, b.doc_id AS rejected_doc,
           t.quality_q AS chosen_q, b.quality_q AS rejected_q,
           t.quality_q - b.quality_q AS margin
    FROM (SELECT * FROM ranked WHERE r_top <= {_PREF_K}) t
    JOIN (SELECT * FROM ranked WHERE r_bot <= {_PREF_K}) b
      ON t.source = b.source AND t.r_top = b.r_bot
    WHERE t.quality_q > b.quality_q
    ORDER BY t.source, pair_id
    """,
    doc=f"preference-pair mining for DPO/reward-model training: within "
    f"each source, the top-{_PREF_K} documents by quality pair off "
    f"against the bottom-{_PREF_K} (best-vs-worst, 2nd-vs-2nd-worst, "
    "...), emitting (chosen, rejected, margin) triples — the standard "
    "construction for preference data from a scored corpus when no "
    "human labels exist. Quality is the INTEGER-domain lexical-"
    "diversity score (basis points, 10000*distinct div words — the q88 "
    "discipline), so ranks and margins replay bitwise; ties break on "
    "doc_id in opposite directions per rank so the pairing is total. "
    "margin > 0 drops degenerate pairs (and self-pairs at odd stratum "
    "sizes). Both windows partition BY SOURCE — never global — and the "
    "rank-to-rank equi-join is per-source hash, linear at corpus scale.",
)
def q259_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    words = F.split(F.lower(F.col("text")), " ")
    scored = T(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.expr(
            "(10000 * size(array_distinct(split(lower(text), ' '))))"
            " div size(split(lower(text), ' '))"
        ).alias("quality_q"),
    )
    w_top = Window.partitionBy("source").orderBy(
        F.desc("quality_q"), F.asc("doc_id")
    )
    w_bot = Window.partitionBy("source").orderBy(
        F.asc("quality_q"), F.desc("doc_id")
    )
    ranked = scored.select(
        "doc_id",
        "source",
        "quality_q",
        F.row_number().over(w_top).alias("r_top"),
        F.row_number().over(w_bot).alias("r_bot"),
    )
    top = ranked.filter(F.col("r_top") <= _PREF_K).select(
        "source",
        F.col("r_top").alias("pair_id"),
        F.col("doc_id").alias("chosen_doc"),
        F.col("quality_q").alias("chosen_q"),
    )
    bot = ranked.filter(F.col("r_bot") <= _PREF_K).select(
        "source",
        F.col("r_bot").alias("pair_id"),
        F.col("doc_id").alias("rejected_doc"),
        F.col("quality_q").alias("rejected_q"),
    )
    return (
        top.join(bot, ["source", "pair_id"])
        .filter(F.col("chosen_q") > F.col("rejected_q"))
        .select(
            "source",
            "pair_id",
            "chosen_doc",
            "rejected_doc",
            "chosen_q",
            "rejected_q",
            (F.col("chosen_q") - F.col("rejected_q")).alias("margin"),
        )
        .orderBy("source", "pair_id")
    )


# ---------------------------------------------------------------------------
# q260 — dedup-aware sampling weights (soft dedup by reweighting)
# ---------------------------------------------------------------------------


@register(
    "q260_dedup_sampling_weights",
    f"""
    WITH classes AS (
        SELECT doc_id, source,
               LEN(string_split(lower(text), ' ')) AS n_words,
               MD5(lower(text)) AS fp
        FROM documents
    ), per_src AS (
        SELECT source, fp,
               CAST(COUNT(*) AS BIGINT) AS m_docs,
               CAST(SUM(n_words) AS BIGINT) AS m_tokens
        FROM classes GROUP BY source, fp
    ), sized AS (
        SELECT source, m_docs, m_tokens,
               SUM(m_docs) OVER (PARTITION BY fp) AS class_size
        FROM per_src
    )
    SELECT source,
           CAST(SUM(m_docs) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(SUM((1000000 * m_docs) // class_size) AS BIGINT) AS eff_docs_q6,
           CAST(SUM((1000000 * m_tokens) // class_size) AS BIGINT) AS eff_tokens_q6,
           CASE WHEN SUM((1000000 * m_docs) // class_size) = 0 THEN NULL
                ELSE {_rnd_sql(
               "CAST(1000000 * SUM(m_docs) AS DOUBLE)"
               " / SUM((1000000 * m_docs) // class_size)", 4)} END AS dup_inflation
    FROM sized GROUP BY source ORDER BY source
    """,
    doc="dedup-aware sampling weights — SOFT dedup: instead of dropping "
    "exact duplicates, every document is weighted 1/c where c is its "
    "corpus-wide duplicate-class size (md5 of normalized text), so each "
    "unique content contributes unit mass however many times it was "
    "crawled — the reweighting large pipelines use when provenance must "
    "be preserved. Per source: raw vs effective (weighted) doc and "
    "token mass, and the duplication inflation factor the sampler must "
    "correct for. Effective masses are EXACT integer micro-units "
    "(1e6*m div c summed as BIGINT — no float accumulation order "
    "hazard); the plan is two hash aggregations on the fingerprint "
    "(class sizes, then per-source rollup) — no joins wider than the "
    "class table, linear at corpus scale.",
)
def q260_dedup_sampling_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    classes = T(spark, sf_dir, "documents").select(
        "source",
        F.size(F.split(F.lower("text"), " ")).alias("n_words"),
        F.md5(F.lower("text")).alias("fp"),
    )
    per_src = classes.groupBy("source", "fp").agg(
        F.count(F.lit(1)).cast("long").alias("m_docs"),
        F.sum("n_words").cast("long").alias("m_tokens"),
    )
    sized = per_src.select(
        "source",
        "m_docs",
        "m_tokens",
        F.sum("m_docs").over(Window.partitionBy("fp")).alias("class_size"),
    )
    eff_docs = F.sum(F.expr("(1000000 * m_docs) div class_size")).cast("long")
    eff_toks = F.sum(F.expr("(1000000 * m_tokens) div class_size")).cast("long")
    return (
        sized.groupBy("source")
        .agg(
            F.sum("m_docs").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_classes"),
            eff_docs.alias("eff_docs_q6"),
            eff_toks.alias("eff_tokens_q6"),
            # a duplicate class larger than 1e6 x a source's share floors
            # that source's micro-unit mass to 0 — the guard keeps the
            # engines agreeing (Spark x/0 -> NULL, DuckDB -> inf)
            F.when(
                F.sum(F.expr("(1000000 * m_docs) div class_size")) != 0,
                rnd(
                    (1000000 * F.sum("m_docs")).cast("double")
                    / F.sum(F.expr("(1000000 * m_docs) div class_size")),
                    4,
                ),
            ).alias("dup_inflation"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q263 — decontamination ADMISSION LEDGER (the live gate's batch twin)
# ---------------------------------------------------------------------------

_ADM_GRAMS = (
    "unnest(CASE WHEN len(string_split(text,' ')) >= "
    f"{_NGRAM} THEN list_transform(generate_series(1, "
    f"len(string_split(text,' ')) - {_NGRAM - 1}), "
    "i -> array_to_string(list_slice(string_split(text,' '), i, "
    f"i + {_NGRAM - 1}), ' ')) ELSE [] END) AS gram"
)


@register(
    "q263_admission_ledger",
    f"""
    WITH bench_grams AS (
        SELECT DISTINCT {_ADM_GRAMS}
        FROM documents WHERE doc_id < {_BENCH_DOCS}
    ), corpus AS (
        SELECT doc_id, source FROM documents WHERE doc_id >= {_BENCH_DOCS}
    ), corpus_grams AS (
        SELECT doc_id, {_ADM_GRAMS}
        FROM documents WHERE doc_id >= {_BENCH_DOCS}
    ), hit AS (
        SELECT DISTINCT c.doc_id
        FROM corpus_grams c JOIN bench_grams b USING (gram)
    )
    SELECT source, n_docs, n_quarantined,
           n_docs - n_quarantined AS n_admitted,
           {_rnd_sql('CAST(n_quarantined AS DOUBLE) / n_docs', 6)} AS quarantine_rate
    FROM (
        SELECT c.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_quarantined
        FROM corpus c LEFT JOIN hit h USING (doc_id)
        GROUP BY c.source
    ) ORDER BY source
    """,
    doc=f"the decontamination ADMISSION LEDGER: per source, how many "
    f"arriving documents the {_NGRAM}-gram gate admitted vs quarantined "
    f"against the held-out set (doc_id < {_BENCH_DOCS}) — the accounting "
    "table the ingest gate in front of a training-data lake publishes "
    "(q64 attributes hits per document; this is the gate's per-source "
    "admission accounting). This registered query is the BATCH TWIN of "
    "streaming/admission.py: both run the SAME gating function "
    "(batch_admission_counts — gram explode, broadcast semi-join "
    "against the eval-sized gram set, per-source partial agg), and the "
    "live form folds micro-batch slices into an epoch-fenced ledger "
    "store whose drained total must equal this table (equivalence + "
    "re-delivery idempotence pinned in tests/test_streaming.py). "
    "Scale: the bench set broadcasts, the corpus streams — one linear "
    "scan, |sources|-row output, bounded ledger state.",
)
def q263_admission_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_entregas_pyspark_spark.streaming.admission import (
        batch_admission_counts,
    )

    d = T(spark, sf_dir, "documents")
    bench_grams = (
        _gram_stream(d.filter(F.col("doc_id") < _BENCH_DOCS))
        .select("gram")
        .distinct()
    )
    corpus = d.filter(F.col("doc_id") >= _BENCH_DOCS)
    counts = batch_admission_counts(corpus, bench_grams)
    return counts.select(
        "source",
        "n_docs",
        "n_quarantined",
        (F.col("n_docs") - F.col("n_quarantined")).alias("n_admitted"),
        rnd(F.col("n_quarantined").cast("double") / F.col("n_docs"), 6).alias(
            "quarantine_rate"
        ),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# q265 — leakage-safe split: q63's deterministic split with cross-split
# n-gram leakage forced into train (decontaminated eval construction)
# ---------------------------------------------------------------------------


@register(
    "q265_leakage_safe_split",
    f"""
    WITH assigned AS (
        SELECT doc_id, text,
               CASE WHEN {_md5_int_sql('text')} % {_SPLIT_BUCKETS} < 8 THEN 'train'
                    WHEN {_md5_int_sql('text')} % {_SPLIT_BUCKETS} = 8 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    ), train_grams AS (
        SELECT DISTINCT {_ADM_GRAMS}
        FROM assigned WHERE split = 'train'
    ), ho_grams AS (
        SELECT doc_id, {_ADM_GRAMS}
        FROM assigned WHERE split <> 'train'
    ), leaked AS (
        SELECT DISTINCT h.doc_id
        FROM ho_grams h JOIN train_grams t USING (gram)
    ), final AS (
        SELECT a.doc_id,
               CASE WHEN a.split <> 'train' AND l.doc_id IS NOT NULL
                    THEN 'train' ELSE a.split END AS final_split,
               CASE WHEN a.split <> 'train' AND l.doc_id IS NOT NULL
                    THEN 1 ELSE 0 END AS moved
        FROM assigned a LEFT JOIN leaked l USING (doc_id)
    )
    SELECT final_split, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(moved) AS BIGINT) AS n_moved_in,
           {_rnd_sql('CAST(SUM(moved) AS DOUBLE) / COUNT(*)', 6)} AS frac_moved
    FROM final GROUP BY final_split ORDER BY final_split
    """,
    doc=f"leakage-safe train/val/test construction: q63's content-hash "
    f"split, then any val/test document sharing an {_NGRAM}-gram with "
    "ANY train document is moved INTO train — an eval example whose "
    "text overlaps training data measures memorization, not skill, so "
    "decontaminated benchmark construction reassigns it rather than "
    "evaluating on it (the direction matters: moving it to train keeps "
    "the corpus; dropping it would shrink eval silently). By "
    "construction the emitted eval splits share zero scrub-width grams "
    "with train (pinned by test). Scale shape: the held-out side is "
    "~20% of the corpus and only its (doc_id, gram) pairs broadcast-"
    "probe the train gram stream — the train side is never shuffled, "
    "one linear scan each side, 3-row output.",
)
def q265_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    bucket = md5_int(F.col("text")) % _SPLIT_BUCKETS
    split = (
        F.when(bucket < 8, "train").when(bucket == 8, "val").otherwise("test")
    )
    assigned = d.select("doc_id", "text", split.alias("split"))
    train = assigned.filter(F.col("split") == "train")
    heldout = assigned.filter(F.col("split") != "train")
    # held-out grams are the SMALL side (~20% of docs, eval-bound) ->
    # broadcast them into the train gram stream; train never shuffles
    ho_grams = _gram_stream(heldout)
    leaked = (
        _gram_stream(train)
        .select("gram")
        .join(F.broadcast(ho_grams), "gram")
        .select(F.col("doc_id"))
        .distinct()
        .withColumn("moved", F.lit(1))
    )
    final = (
        assigned.join(leaked, "doc_id", "left")
        .select(
            F.when(
                (F.col("split") != "train") & F.col("moved").isNotNull(),
                F.lit("train"),
            )
            .otherwise(F.col("split"))
            .alias("final_split"),
            F.coalesce(F.col("moved"), F.lit(0)).alias("moved"),
        )
    )
    return (
        final.groupBy("final_split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("moved").cast("long").alias("n_moved_in"),
            rnd(F.sum("moved").cast("double") / F.count(F.lit(1)), 6).alias(
                "frac_moved"
            ),
        )
        .orderBy("final_split")
    )
