"""Text-analysis operators over the ``documents`` table (north-star
surface, BASELINE.json): token statistics, document fingerprinting (exact
dedup), language-ID heuristics, quality scoring, and word-level Jaccard
near-duplicate pairs.

Everything is built-in Catalyst expressions (split/transform/aggregate/
array_intersect/md5) — zero Python UDFs, so the whole surface scales as
ordinary whole-stage-codegen plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_entregas_pyspark_spark.queries.registry import register
from etl_entregas_pyspark_spark.queries.relational import T, _dsum_sql, _rnd_sql, dsum, rnd, spread_if_narrow


@register(
    "q40_text_stats",
    f"""
    SELECT doc_id,
           LENGTH(text) AS n_chars_actual,
           LEN(string_split(text, ' ')) AS n_tokens,
           CAST(LIST_SUM(LIST_TRANSFORM(string_split(text, ' '), t -> LENGTH(t))) AS BIGINT) AS token_chars,
           {_rnd_sql(
               "CAST(LIST_SUM(LIST_TRANSFORM(string_split(text, ' '), t -> LENGTH(t))) AS DOUBLE)"
               " / LEN(string_split(text, ' '))", 4)} AS avg_token_len
    FROM documents WHERE doc_id < 200
    """,
    doc="per-document token counting (whitespace tokenizer) and length stats",
    tier="basic",
)
def q40_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    toks = F.split(F.col("text"), " ")
    tok_chars = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda acc, x: acc + x
    )
    n_tokens = F.size(toks)
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars_actual"),
        n_tokens.alias("n_tokens"),
        tok_chars.alias("token_chars"),
        rnd(tok_chars.cast("double") / n_tokens, 4).alias("avg_token_len"),
    )


@register(
    "q41_lang_profile",
    f"""
    SELECT lang, COUNT(*) AS n_docs,
           {_rnd_sql('CAST(SUM(n_chars) AS DOUBLE) / COUNT(*)', 2)} AS avg_chars,
           COUNT(DISTINCT source) AS n_sources
    FROM documents GROUP BY lang
    """,
    doc="corpus profile per language",
    tier="basic",
)
def q41_lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        rnd(F.sum("n_chars").cast("double") / F.count("*"), 2).alias("avg_chars"),
        F.countDistinct("source").alias("n_sources"),
    )


@register(
    "q42_fingerprint_dedup",
    """
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT MD5(LOWER(text))) AS n_unique,
           COUNT(*) - COUNT(DISTINCT MD5(LOWER(text))) AS n_exact_dups
    FROM documents GROUP BY source
    """,
    doc="exact deduplication by content fingerprint (md5 of normalized text)",
)
def q42_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    fp = F.md5(F.lower(F.col("text")))
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(fp).alias("n_unique"),
        (F.count("*") - F.countDistinct(fp)).alias("n_exact_dups"),
    )


def _occurrences(col: F.Column, needle: str) -> F.Column:
    """Non-overlapping occurrence count via replace-and-measure (identical
    semantics in Spark and DuckDB)."""
    padded = F.concat(F.lit(" "), col, F.lit(" "))
    return (F.length(padded) - F.length(F.replace(padded, F.lit(needle)))) / len(needle)


def _occurrences_sql(expr: str, needle: str) -> str:
    return (
        f"(LENGTH(' ' || {expr} || ' ') - LENGTH(REPLACE(' ' || {expr} || ' ', '{needle}', '')))"
        f" / {len(needle)}"
    )


@register(
    "q43_langid_heuristic",
    f"""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN {_occurrences_sql('text', ' the ')} + {_occurrences_sql('text', ' a ')} > 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_en_guess
    FROM documents GROUP BY source
    """,
    doc="n-gram/stopword language-ID heuristic (en stopword hits)",
    tier="basic",
)
def q43_langid_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    en_score = _occurrences(F.col("text"), " the ") + _occurrences(F.col("text"), " a ")
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(en_score > 0, 1).otherwise(0)).alias("n_en_guess"),
    )


@register(
    "q44_quality_score",
    f"""
    SELECT doc_id,
           {_rnd_sql(
               "0.5 * LEAST(1.0, CAST(LENGTH(text) AS DOUBLE) / 400)"
               " + 0.5 * (CAST(LEN(LIST_DISTINCT(string_split(text, ' '))) AS DOUBLE)"
               "          / LEN(string_split(text, ' ')))", 4)} AS quality
    FROM documents WHERE doc_id < 200
    """,
    doc="document quality score: length saturation + lexical diversity (distinct-token ratio)",
    tier="basic",
)
def q44_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    toks = F.split(F.col("text"), " ")
    length_term = F.least(F.lit(1.0), F.length("text").cast("double") / 400)
    diversity = F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
    return d.select("doc_id", rnd(0.5 * length_term + 0.5 * diversity, 4).alias("quality"))


def _q45_oracle() -> str:
    from etl_entregas_pyspark_spark.queries.similarity import (
        _A, _B, _P, _md5_int_sql, N_HASHES, N_BANDS, ROWS_PER_BAND,
    )

    mh = [
        f"list_min(list_transform(hs, h -> ({_A[j]} * h + {_B[j]}) % {_P})) AS mh{j}"
        for j in range(N_HASHES)
    ]
    bands = [
        "md5(" + " || ',' || ".join(
            f"CAST(mh{b * ROWS_PER_BAND + r} AS VARCHAR)" for r in range(ROWS_PER_BAND)
        ) + f") AS band_{b}"
        for b in range(N_BANDS)
    ]
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, lang, source, {b} AS band_id, band_{b} AS band_hash FROM sigs"
        for b in range(N_BANDS)
    )
    jac = (
        "CAST(LEN(LIST_INTERSECT(x.tokens, y.tokens)) AS DOUBLE) "
        "/ (LEN(x.tokens) + LEN(y.tokens) - LEN(LIST_INTERSECT(x.tokens, y.tokens)))"
    )
    return f"""
    WITH toks AS (
        SELECT doc_id, lang, source, LIST_DISTINCT(string_split(text, ' ')) AS tokens
        FROM documents
        WHERE doc_id % 5 = 0 AND lang IS NOT NULL AND source IS NOT NULL
    ), hashed AS (
        SELECT doc_id, lang, source, tokens,
               list_transform(tokens, t -> {_md5_int_sql('t')} % {_P}) AS hs
        FROM toks
    ), mh AS (
        SELECT doc_id, lang, source, {', '.join(mh)} FROM hashed
    ), sigs AS (
        SELECT doc_id, lang, source, {', '.join(bands)} FROM mh
    ), band_long AS (
        {band_rows}
    ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM band_long a JOIN band_long b
          ON a.lang = b.lang AND a.source = b.source
         AND a.band_id = b.band_id AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b, {_rnd_sql(jac, 4)} AS jaccard
    FROM cand c JOIN toks x ON c.doc_a = x.doc_id JOIN toks y ON c.doc_b = y.doc_id
    WHERE {jac} >= 0.5
    """


@register(
    "q45_word_jaccard_pairs",
    _q45_oracle(),
    doc="word-level Jaccard near-dup verify fed by MinHash-band candidates "
    "within (lang, source) blocks: the block key includes the band hash, so "
    "candidate generation is O(collisions) — never the quadratic "
    "all-pairs-within-block join a low-cardinality (lang, source) key alone "
    "would plan",
)
def q45_word_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_entregas_pyspark_spark.queries.similarity import (
        _P, jaccard_verify, lsh_candidates, md5_int,
    )

    # NULL lang/source excluded on BOTH sides: groupBy blocking would pair
    # NULL with NULL while the oracle's equality join drops them —
    # filtering keeps the two engines' NULL semantics aligned
    ex = (
        T(spark, sf_dir, "documents")
        .filter(
            (F.col("doc_id") % 5 == 0)
            & F.col("lang").isNotNull()
            & F.col("source").isNotNull()
        )
        .transform(lambda df: spread_if_narrow(df, "doc_id"))
        .select(
            "doc_id", "lang", "source",
            F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("item"),
        )
        .withColumn("h", md5_int(F.col("item")) % _P)
    )
    per_doc, cand = lsh_candidates(ex, block_cols=("lang", "source"))
    pairs = jaccard_verify(cand, per_doc, out_a="tok_a", out_b="tok_b")
    inter = F.size(F.array_intersect(F.col("tok_a"), F.col("tok_b"))).cast("double")
    union = F.size("tok_a") + F.size("tok_b") - F.size(
        F.array_intersect(F.col("tok_a"), F.col("tok_b"))
    )
    jac = inter / union
    return pairs.filter(jac >= 0.5).select(
        "doc_a", "doc_b", rnd(jac, 4).alias("jaccard")
    )


# ---------------------------------------------------------------------------
# q77 — edit-distance fuzzy-dup verify over the MinHash candidate set
# ---------------------------------------------------------------------------

_LEV_PREFIX = 80  # compare the first N chars: O(N^2) per pair, bounded


def _q77_oracle() -> str:
    from etl_entregas_pyspark_spark.queries.similarity import _q53_oracle

    return f"""
    WITH cand AS (
        SELECT doc_a, doc_b FROM ({_q53_oracle()})
    )
    SELECT c.doc_a, c.doc_b,
           levenshtein(substr(x.text, 1, {_LEV_PREFIX}),
                       substr(y.text, 1, {_LEV_PREFIX})) AS edit_distance,
           {_rnd_sql(
               f'''1.0 - CAST(levenshtein(substr(x.text, 1, {_LEV_PREFIX}),
                                  substr(y.text, 1, {_LEV_PREFIX})) AS DOUBLE)
               / GREATEST(LENGTH(substr(x.text, 1, {_LEV_PREFIX})),
                          LENGTH(substr(y.text, 1, {_LEV_PREFIX})))''', 4)} AS lev_sim
    FROM cand c
    JOIN documents x ON c.doc_a = x.doc_id
    JOIN documents y ON c.doc_b = y.doc_id
    """


@register(
    "q77_edit_distance_pairs",
    _q77_oracle(),
    doc=f"character-level fuzzy-dup verification: Levenshtein distance and "
    f"normalized similarity over the first {_LEV_PREFIX} chars of each "
    "MinHash-LSH candidate pair (q53's near-dup output re-scored at "
    "character granularity — the edit-distance stage only ever touches "
    "candidates, never the corpus cross product)",
)
def q77_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_entregas_pyspark_spark.queries.similarity import q53_minhash_near_dup

    cand = q53_minhash_near_dup(spark, sf_dir).select("doc_a", "doc_b")
    d = T(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, _LEV_PREFIX).alias("prefix")
    )
    a = d.select(F.col("doc_id").alias("doc_a"), F.col("prefix").alias("pre_a"))
    b = d.select(F.col("doc_id").alias("doc_b"), F.col("prefix").alias("pre_b"))
    lev = F.levenshtein(F.col("pre_a"), F.col("pre_b"))
    sim = F.lit(1.0) - lev.cast("double") / F.greatest(
        F.length("pre_a"), F.length("pre_b")
    )
    return (
        F.broadcast(cand)
        .join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            lev.alias("edit_distance"),
            rnd(sim, 4).alias("lev_sim"),
        )
    )


# ---------------------------------------------------------------------------
# q78 — TF-IDF top terms per document
# ---------------------------------------------------------------------------

_TFIDF_DOCS = 100
_TFIDF_TOPK = 3


@register(
    "q78_tfidf_top_terms",
    f"""
    WITH sub AS (
        SELECT doc_id, text FROM documents WHERE doc_id < {_TFIDF_DOCS}
    ), n_docs AS (
        SELECT COUNT(*) AS n FROM sub
    ), tf AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM sub
    ), tf_counts AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM tf GROUP BY doc_id, term
    ), df AS (
        SELECT term, COUNT(*) AS df FROM tf_counts GROUP BY term
    ), scored AS (
        SELECT t.doc_id, t.term, t.tf, d.df,
               {_rnd_sql('CAST(t.tf AS DOUBLE) * ln(CAST(n.n AS DOUBLE) / d.df)', 6)} AS tfidf
        FROM tf_counts t JOIN df d ON t.term = d.term CROSS JOIN n_docs n
    )
    SELECT doc_id, term, tf, df, tfidf, rank FROM (
        SELECT doc_id, term, tf, df, tfidf,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
        FROM scored
    ) WHERE rank <= {_TFIDF_TOPK}
    """,
    doc=f"TF-IDF: term frequency per (doc, term), document frequency per "
    f"term, tfidf = tf * ln(N/df), top-{_TFIDF_TOPK} terms per document "
    "with deterministic tie-break — two aggregations and one equi-join on "
    "the term, each with map-side partial aggregation; the classic "
    "keyword-extraction / relevance feature for a text corpus",
)
def q78_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    sub = T(spark, sf_dir, "documents").filter(F.col("doc_id") < _TFIDF_DOCS)
    n_docs = sub.agg(F.count("*").alias("n"))
    tf = (
        sub.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    tfidf = rnd(
        F.col("tf").cast("double") * F.log(F.col("n").cast("double") / F.col("df")), 6
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n_docs))
        .select("doc_id", "term", "tf", "df", tfidf.alias("tfidf"))
        .select("*", F.row_number().over(w).alias("rank"))
        .filter(F.col("rank") <= _TFIDF_TOPK)
    )


# ---------------------------------------------------------------------------
# q85 — intra-document repetition profile (C4/Gopher-style "rep" filter)
# ---------------------------------------------------------------------------

_REP_HIGH = 0.5  # flag docs where >50% of word slots are repeats


@register(
    "q85_repetition_profile",
    f"""
    WITH per_doc AS (
        SELECT source,
               LEN(string_split(lower(text), ' ')) AS n_words,
               LEN(list_distinct(string_split(lower(text), ' '))) AS n_distinct
        FROM documents
    ), scored AS (
        SELECT source, n_words,
               1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_words AS DOUBLE) AS rep_ratio
        FROM per_doc WHERE n_words > 0
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           {_rnd_sql(f"({_dsum_sql('rep_ratio', 6)}) / COUNT(*)", 6)} AS mean_repetition,
           CAST(SUM(CASE WHEN rep_ratio > {_REP_HIGH} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_high_repetition
    FROM scored GROUP BY source
    """,
    doc="intra-document repetition: 1 - distinct_words/total_words per "
    "doc (the Gopher 'repetition' quality signal), profiled per source "
    "with a count of docs over the 0.5 flag threshold. The per-doc stage "
    "is array-function arithmetic inside whole-stage codegen (size/"
    "array_distinct — no explode, no per-word shuffle); the only "
    "exchange carries one pre-aggregated row per (partition, source). "
    "Per-doc ratios are summed in the integer domain (dsum-6) so the "
    "aggregate is order-independent and bitwise stable cross-engine.",
)
def q85_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    words = F.split(F.lower(F.col("text")), " ")
    d = (
        T(spark, sf_dir, "documents")
        .select(
            "source",
            F.size(words).alias("n_words"),
            F.size(F.array_distinct(words)).alias("n_distinct"),
        )
        .filter(F.col("n_words") > 0)
        .select(
            "source",
            (
                F.lit(1.0)
                - F.col("n_distinct").cast("double") / F.col("n_words").cast("double")
            ).alias("rep_ratio"),
        )
    )
    return d.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        rnd(dsum(F.col("rep_ratio"), 6) / F.count("*"), 6).alias("mean_repetition"),
        F.sum(F.when(F.col("rep_ratio") > _REP_HIGH, 1).otherwise(0))
        .cast("bigint")
        .alias("n_high_repetition"),
    )


# ---------------------------------------------------------------------------
# q88 — C4-style corpus cleaning filter (composed quality signals)
# ---------------------------------------------------------------------------

_MIN_WORDS = 50


@register(
    "q88_corpus_filter",
    f"""
    WITH scored AS (
        SELECT source, lang,
               LEN(string_split(lower(text), ' ')) AS n_words,
               LEN(list_distinct(string_split(lower(text), ' '))) AS n_distinct,
               LEN(text) AS n_chars_raw
        FROM documents
    ), flagged AS (
        SELECT source, lang, n_words,
               (n_words >= {_MIN_WORDS}
                AND 10 * n_distinct >= 7 * n_words
                AND 3 * n_words <= n_chars_raw - (n_words - 1)
                AND n_chars_raw - (n_words - 1) <= 10 * n_words
                AND lang IS NOT NULL AND lang <> '') AS keep
        FROM scored
    )
    SELECT source, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           {_rnd_sql("CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)", 6)}
               AS keep_rate,
           CAST(SUM(CASE WHEN keep THEN n_words ELSE 0 END) AS BIGINT) AS kept_tokens
    FROM flagged GROUP BY source, lang
    """,
    doc=f"C4-style cleaning pipeline: keep documents with >= {_MIN_WORDS} "
    "words, repetition ratio <= 0.3, mean word length in [3, 10], and a "
    "non-empty language tag — reported as per-(source, lang) keep rates "
    "and surviving token counts. All thresholds are evaluated in the "
    "INTEGER domain (10*distinct >= 7*words instead of a float ratio), "
    "so the filter is bitwise reproducible across engines and replay "
    "runs — a requirement for auditable training-data lineage. One scan, "
    "codegen array arithmetic, one pre-aggregated exchange.",
)
def q88_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    words = F.split(F.lower(F.col("text")), " ")
    scored = T(spark, sf_dir, "documents").select(
        "source",
        "lang",
        F.size(words).alias("n_words"),
        F.size(F.array_distinct(words)).alias("n_distinct"),
        F.length("text").alias("n_chars_raw"),
    )
    net_chars = F.col("n_chars_raw") - (F.col("n_words") - 1)
    keep = (
        (F.col("n_words") >= _MIN_WORDS)
        & (10 * F.col("n_distinct") >= 7 * F.col("n_words"))
        & (3 * F.col("n_words") <= net_chars)
        & (net_chars <= 10 * F.col("n_words"))
        & F.col("lang").isNotNull()
        & (F.col("lang") != "")
    )
    return (
        scored.select("source", "lang", "n_words", keep.alias("keep"))
        .groupBy("source", "lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("bigint").alias("n_kept"),
            rnd(
                F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("double") / F.count("*"), 6
            ).alias("keep_rate"),
            F.sum(F.when(F.col("keep"), F.col("n_words")).otherwise(0))
            .cast("bigint")
            .alias("kept_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# q89 — corpus heavy hitters (exact distributed top-k by frequency)
# ---------------------------------------------------------------------------

_HH_TOPK = 20


@register(
    "q89_heavy_hitters",
    f"""
    SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM (SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
    WHERE word <> ''
    GROUP BY word
    ORDER BY cnt DESC, word
    LIMIT {_HH_TOPK}
    """,
    doc=f"exact corpus heavy hitters: top-{_HH_TOPK} words by frequency. "
    "Explode → count is map-side partial-aggregated (each partition "
    "emits one (word, partial_count) row per distinct word, not one row "
    "per token), and the final top-k plans as TakeOrderedAndProject — "
    "each partition forwards only its local top-k, the driver merges "
    "k-sized heaps; no global sort ever materializes. Deterministic "
    "(cnt DESC, word) tie-break.",
)
def q89_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        T(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.lower(F.col("text")), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("word"))
        .limit(_HH_TOPK)
    )


# ---------------------------------------------------------------------------
# q90 — denylist scrubbing (the PII-redaction plumbing, term-list variant)
# ---------------------------------------------------------------------------

_DENY_RE = r"\b(customer|supplier|order)\b"


@register(
    "q90_denylist_scrub",
    f"""
    WITH scrubbed AS (
        SELECT source,
               CAST(LEN(regexp_extract_all(text, '{_DENY_RE}')) AS BIGINT) AS n_hits,
               LENGTH(text) - LENGTH(regexp_replace(text, '{_DENY_RE}', '', 'g'))
                   AS chars_removed
        FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_hits,
           CAST(SUM(n_hits) AS BIGINT) AS total_hits,
           CAST(SUM(chars_removed) AS BIGINT) AS chars_removed
    FROM scrubbed GROUP BY source
    """,
    doc="denylist scrubbing — the exact plumbing of a PII-redaction pass "
    "(regex match-count + redacting replace), run against a term "
    "denylist so the synthetic corpus produces real hits. Per-row regex "
    "inside whole-stage codegen (regexp_count/regexp_replace are JVM "
    "intrinsics — no Python), one pre-aggregated exchange keyed on "
    "source. Swapping the pattern for email/phone/SSN regexes changes "
    "nothing structural: redaction cost stays one scan at any corpus "
    "size. Word-boundary semantics agree between Java regex and RE2 for "
    "ASCII patterns, keeping the oracle bitwise.",
)
def q90_denylist_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    n_hits = F.regexp_count(F.col("text"), F.lit(_DENY_RE)).cast("bigint")
    chars_removed = F.length("text") - F.length(
        F.regexp_replace(F.col("text"), _DENY_RE, "")
    )
    scrubbed = d.select(
        "source", n_hits.alias("n_hits"), chars_removed.alias("chars_removed")
    )
    return scrubbed.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("n_hits") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("docs_with_hits"),
        F.sum("n_hits").cast("bigint").alias("total_hits"),
        F.sum("chars_removed").cast("bigint").alias("chars_removed"),
    )


# ---------------------------------------------------------------------------
# q92 — exact log2 length histogram (integer-domain bucketing)
# ---------------------------------------------------------------------------

@register(
    "q92_length_histogram",
    """
    SELECT CAST(LENGTH(bin(n_chars)) AS BIGINT) AS log2_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM documents
    GROUP BY log2_bucket
    """,
    doc="power-of-two document-length histogram: bucket = bit-length of "
    "n_chars (floor(log2)+1) computed EXACTLY via the binary-string "
    "length — no floating log2, whose 1-ulp boundary error at exact "
    "powers of two would put the same doc in different buckets on "
    "different engines. Bucket cardinality is ~60 regardless of corpus "
    "size, so the exchange after the partial aggregate is constant-width "
    "— the size-distribution profile a data loader consults for packing/"
    "padding decisions.",
    tier="basic",
)
def q92_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    bucket = F.length(F.bin(F.col("n_chars"))).cast("bigint")
    return d.groupBy(bucket.alias("log2_bucket")).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.min("n_chars").cast("bigint").alias("min_chars"),
        F.max("n_chars").cast("bigint").alias("max_chars"),
    )


# ---------------------------------------------------------------------------
# q103 — adjacent-pair (bigram) counts: the inner loop of BPE vocab building
# ---------------------------------------------------------------------------

@register(
    "q103_bigram_counts",
    """
    SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
    FROM (
        SELECT unnest(list_transform(range(1, len(t)),
                                     i -> t[i] || ' ' || t[i + 1])) AS bigram
        FROM (SELECT string_split(text, ' ') AS t FROM documents)
    )
    GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT 50
    """,
    doc="adjacent token-pair counts over the corpus — the counting step a "
    "BPE/WordPiece vocab builder iterates: tokenize, pair each token with "
    "its successor (zip_with over two shifted slices, pure codegen), "
    "explode, count, take the top pairs with a total (count DESC, pair "
    "ASC) order so the top-50 set is deterministic. Plan: map-side "
    "partial counts collapse the pair stream before the single hash "
    "exchange, and the final top-k is TakeOrderedAndProject — no global "
    "sort. At 100 TB the pair stream never materializes: partial "
    "aggregation runs inside the scan stage.",
)
def q103_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        d.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram"))
        .limit(50)
    )


# ---------------------------------------------------------------------------
# q110 — boilerplate contamination score (corpus-frequency n-gram signal)
# ---------------------------------------------------------------------------

_BP_DF = 10  # a trigram present in >= this many docs counts as boilerplate


@register(
    "q110_boilerplate_score",
    f"""
    WITH per_doc AS (
        SELECT doc_id, unnest(grams) AS gram FROM (
            SELECT doc_id,
                   list_distinct(list_transform(range(1, len(t) - 1),
                                 i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS grams
            FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
            WHERE len(t) >= 3
        )
    ), df AS (
        SELECT gram, COUNT(*) AS n_docs FROM per_doc GROUP BY gram
    ), boiler AS (
        SELECT gram FROM df WHERE n_docs >= {_BP_DF}
    ), tot AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams FROM per_doc GROUP BY doc_id
    ), nb AS (
        SELECT p.doc_id, CAST(COUNT(*) AS BIGINT) AS n_boiler
        FROM per_doc p JOIN boiler b USING (gram) GROUP BY p.doc_id
    )
    SELECT t.doc_id, t.n_grams,
           COALESCE(nb.n_boiler, 0) AS n_boiler,
           {_rnd_sql('CAST(COALESCE(nb.n_boiler, 0) AS DOUBLE) / t.n_grams', 6)} AS boiler_ratio
    FROM tot t LEFT JOIN nb ON t.doc_id = nb.doc_id
    """,
    doc=f"per-document boilerplate contamination: the share of a doc's "
    f"distinct trigrams that occur in >= {_BP_DF} documents corpus-wide — "
    f"the cross-document companion to q85's intra-doc repetition, and the "
    f"signal C4-style cleaners threshold to drop template/nav-chrome "
    f"pages. Two aggregation passes over the exploded gram stream "
    f"(document frequency, then a gram equi-join back), both opened by "
    f"map-side partial counts; nothing is ever compared doc-to-doc, so "
    f"cost is linear in total grams at any corpus size. Docs under 3 "
    f"tokens have no trigrams and drop out (matching the empty-shingle "
    f"convention of q53's machinery).",
)
def q110_boilerplate_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_entregas_pyspark_spark.queries.similarity import word_shingles

    # spread the CPU-bound shingle explode across all cores BEFORE the
    # HOF evaluation: a small parquet arrives as one input split, and a
    # single task serializing 6M grams dominates wall clock otherwise
    d = spread_if_narrow(T(spark, sf_dir, "documents"), "doc_id")
    per_doc = d.select(
        "doc_id", F.explode(word_shingles(F.col("text"))).alias("gram")
    )
    # one aggregation over the gram stream, filtered to the boilerplate
    # set, then ONE left join back and ONE per-doc aggregate: the gram
    # stream is expanded twice (DF branch + probe branch), not three
    # times, and docs with zero boilerplate need no second outer join —
    # the null flag just sums as 0. AQE broadcasts the boiler side when
    # it is small (it is the >=DF tail of the gram distribution).
    boiler = (
        per_doc.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= _BP_DF)
        .select("gram", F.lit(1).alias("is_boiler"))
    )
    hit = F.when(F.col("is_boiler").isNotNull(), 1).otherwise(0)
    return (
        per_doc.join(boiler, "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(hit).cast("bigint").alias("n_boiler"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_boiler",
            rnd(F.col("n_boiler").cast("double") / F.col("n_grams"), 6).alias(
                "boiler_ratio"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q116 — PII redaction (regex scrub: emails, phone numbers, IPv4)
# ---------------------------------------------------------------------------

# Shared Java-regex/RE2 subset: no lookaround, no backrefs, ASCII \b only
# (both engines agree on ASCII word boundaries — see cross-engine notes).
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\b555-[0-9]{4}\b"
_IP_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"

# The synthetic corpus carries no real PII, so the query plants a
# deterministic contact tail derived from doc_id — every row then has
# known positives (1 email, 1 phone, 1 IP) PLUS the organic text as the
# negative control, and the redacted output is fully oracle-checkable.
_Q116_ORACLE = """
    WITH blobs AS (
        SELECT doc_id,
               substr(text, 1, 40)
                 || ' contact user' || CAST(doc_id AS VARCHAR)
                 || '@mail.example.com tel 555-'
                 || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                 || ' ip 10.' || CAST(doc_id % 256 AS VARCHAR)
                 || '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR) AS blob
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(blob, '{EMAIL}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(blob, '{PHONE}')) AS BIGINT) AS n_phones,
           CAST(len(regexp_extract_all(regexp_replace(blob, '{EMAIL}', '<EMAIL>', 'g'), '{IP}')) AS BIGINT) AS n_ips,
           regexp_replace(regexp_replace(regexp_replace(
               blob, '{EMAIL}', '<EMAIL>', 'g'), '{PHONE}', '<PHONE>', 'g'), '{IP}', '<IP>', 'g') AS redacted
    FROM blobs
""".replace("{EMAIL}", _EMAIL_RE).replace("{PHONE}", _PHONE_RE).replace("{IP}", _IP_RE)


@register(
    "q116_pii_redaction",
    _Q116_ORACLE,
    doc="PII scrubbing for training corpora: redact emails, phone numbers "
    "and IPv4 addresses with chained regexp_replace, and count each class "
    "with regexp_count before redacting. The corpus is synthetic, so a "
    "deterministic contact tail (derived from doc_id) is planted per row "
    "to give every document known positives and the organic text as the "
    "negative control; IP counting runs AFTER email redaction so dotted "
    "hostnames inside addresses can never double-count. Pure per-row "
    "whole-stage-codegen string expressions — no shuffle at all, so the "
    "operator is scan-bound and embarrassingly parallel at any corpus "
    "size.",
)
def q116_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    blob = F.concat(
        F.substring("text", 1, 40),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com tel 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" ip 10."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".0."),
        ((F.col("doc_id") * 7) % 256).cast("string"),
    )
    no_email = F.regexp_replace(blob, _EMAIL_RE, "<EMAIL>")
    redacted = F.regexp_replace(
        F.regexp_replace(no_email, _PHONE_RE, "<PHONE>"), _IP_RE, "<IP>"
    )
    return d.select(
        "doc_id",
        F.regexp_count(blob, F.lit(_EMAIL_RE)).cast("bigint").alias("n_emails"),
        F.regexp_count(blob, F.lit(_PHONE_RE)).cast("bigint").alias("n_phones"),
        F.regexp_count(no_email, F.lit(_IP_RE)).cast("bigint").alias("n_ips"),
        redacted.alias("redacted"),
    )


# ---------------------------------------------------------------------------
# q117 — vocabulary coverage / OOV rate against a corpus-built top-K vocab
# ---------------------------------------------------------------------------

_VOCAB_K = 64


@register(
    "q117_vocab_coverage",
    f"""
    WITH words AS (
        SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents
    ), vocab AS (
        SELECT w FROM (
            SELECT w, COUNT(*) AS n FROM words GROUP BY w
            ORDER BY n DESC, w LIMIT {_VOCAB_K}
        )
    ), flag AS (
        SELECT words.lang,
               CASE WHEN vocab.w IS NULL THEN 1 ELSE 0 END AS oov
        FROM words LEFT JOIN vocab ON words.w = vocab.w
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(oov) AS BIGINT) AS n_oov,
           {{RND}} AS oov_ratio
    FROM flag GROUP BY lang ORDER BY lang
    """.replace("{RND}", _rnd_sql("CAST(SUM(oov) AS DOUBLE) / COUNT(*)", 6)),
    doc=f"vocabulary coverage audit: build the exact top-{_VOCAB_K} corpus "
    f"vocabulary (count-desc, word-asc tie-break — a TakeOrdered top-k, "
    f"never a global sort), broadcast it back, and measure the "
    f"out-of-vocabulary token rate per language. The tokenizer-design "
    f"feedback loop of an LLM data pipeline: rising OOV in a language "
    f"slice flags under-trained vocab. Token stream is never collected; "
    f"the only exchanges are the partial-aggregated word count and the "
    f"per-lang rollup, and the vocab join is an explicit broadcast "
    f"(64 rows) — linear in total tokens at any corpus size.",
)
def q117_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    words = d.select("lang", F.explode(F.split("text", " ")).alias("w"))
    vocab = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("w"))
        .limit(_VOCAB_K)
        .select("w", F.lit(1).alias("in_vocab"))
    )
    flag = words.join(F.broadcast(vocab), "w", "left")
    oov = F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
    return (
        flag.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(oov).cast("bigint").alias("n_oov"),
            rnd(F.sum(oov).cast("double") / F.count(F.lit(1)), 6).alias("oov_ratio"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# q125 — inverted index construction (term -> capped sorted posting list)
# ---------------------------------------------------------------------------

_POSTING_CAP = 20


@register(
    "q125_inverted_index",
    f"""
    WITH dw AS (
        SELECT DISTINCT doc_id, w FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
        )
    )
    SELECT w AS term,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           array_to_string(list_slice(list_sort(list(doc_id)), 1, {_POSTING_CAP}), ',')
               AS postings
    FROM dw GROUP BY w ORDER BY term
    """,
    doc=f"search-index construction: for every term, its document "
    f"frequency and the first {_POSTING_CAP} doc ids (ascending) of its "
    f"posting list. The (doc, term) stream is deduped in a partial-"
    f"aggregated distinct, then one groupBy(term) builds count and "
    f"postings together; the collected list is sorted then capped, so "
    f"nondeterministic collect order can never leak into results. The "
    f"cap bounds per-term state — an UNCAPPED posting list for a "
    f"stopword would be O(corpus) in one aggregation buffer, the "
    f"classic inverted-index hot key; real indexes shard exactly this "
    f"way (doc-partitioned segments, capped in-memory batches).",
)
def q125_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    dw = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).distinct()
    return (
        dw.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.array_join(
                F.slice(F.array_sort(F.collect_list("doc_id")), 1, _POSTING_CAP), ","
            ).alias("postings"),
        )
        .orderBy("term")
    )


# ---------------------------------------------------------------------------
# q128 — BM25 relevance scoring (search ranking over the corpus)
# ---------------------------------------------------------------------------

_BM25_TERMS = ("spark", "join", "filter")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 30


@register(
    "q128_bm25_scoring",
    f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), dl AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id
    ), stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
        FROM dl
    ), tf AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN term = '{_BM25_TERMS[0]}' THEN 1 ELSE 0 END) AS BIGINT) AS tf0,
               CAST(SUM(CASE WHEN term = '{_BM25_TERMS[1]}' THEN 1 ELSE 0 END) AS BIGINT) AS tf1,
               CAST(SUM(CASE WHEN term = '{_BM25_TERMS[2]}' THEN 1 ELSE 0 END) AS BIGINT) AS tf2
        FROM toks GROUP BY doc_id
    ), df AS (
        SELECT CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0,
               CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
               CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2
        FROM tf
    ), scored AS (
        SELECT t.doc_id, d.dl, t.tf0, t.tf1, t.tf2,
               {_rnd_sql(f'''
                   ln((s.n_docs - f.df0 + 0.5) / (f.df0 + 0.5) + 1.0)
                     * (t.tf0 * ({_BM25_K1} + 1.0))
                     / (t.tf0 + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * d.dl / s.avgdl))
                 + ln((s.n_docs - f.df1 + 0.5) / (f.df1 + 0.5) + 1.0)
                     * (t.tf1 * ({_BM25_K1} + 1.0))
                     / (t.tf1 + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * d.dl / s.avgdl))
                 + ln((s.n_docs - f.df2 + 0.5) / (f.df2 + 0.5) + 1.0)
                     * (t.tf2 * ({_BM25_K1} + 1.0))
                     / (t.tf2 + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * d.dl / s.avgdl))
               ''', 6)} AS bm25
        FROM tf t JOIN dl d ON t.doc_id = d.doc_id CROSS JOIN stats s CROSS JOIN df f
    )
    SELECT doc_id, dl, tf0, tf1, tf2, bm25
    FROM scored ORDER BY bm25 DESC, doc_id LIMIT {_BM25_TOPK}
    """,
    doc=f"BM25 relevance ranking for the fixed query {_BM25_TERMS}: "
    f"k1={_BM25_K1}, b={_BM25_B}, idf = ln((N-df+0.5)/(df+0.5)+1), "
    f"top-{_BM25_TOPK} docs with deterministic tie-break. Per-term "
    "scores live in separate columns and the total is one fixed-order "
    "3-term sum — never a shuffle-order-dependent FP reduction — then "
    "half-up rounded to 6dp (q78 proved ln() agrees across engines "
    "under this rounding). Plan: one exchange on doc_id builds tf and "
    "dl together; N/avgdl/df are three 1-row aggregates broadcast back "
    "(the q99 windowless pattern), so the scoring pass is scan-shaped. "
    "At 100 TB the per-doc state is 3 counters — the same plan serves "
    "any constant query vector.",
)
def q128_bm25_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    per_doc = toks.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("dl"),
        *[
            F.sum(F.when(F.col("term") == t, 1).otherwise(0))
            .cast("bigint")
            .alias(f"tf{i}")
            for i, t in enumerate(_BM25_TERMS)
        ],
    )
    stats = per_doc.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias(f"df{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )

    def term_score(i: int) -> F.Column:
        tf = F.col(f"tf{i}").cast("double")
        idf = F.log(
            (F.col("n_docs") - F.col(f"df{i}") + 0.5) / (F.col(f"df{i}") + 0.5) + 1.0
        )
        norm = tf + _BM25_K1 * (
            1.0 - _BM25_B + _BM25_B * F.col("dl").cast("double") / F.col("avgdl")
        )
        return idf * (tf * (_BM25_K1 + 1.0)) / norm

    score = rnd(term_score(0) + term_score(1) + term_score(2), 6)
    return (
        per_doc.crossJoin(F.broadcast(stats))
        .select("doc_id", "dl", "tf0", "tf1", "tf2", score.alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(_BM25_TOPK)
    )


# ---------------------------------------------------------------------------
# q141 — bigram-LM perplexity scoring (the CCNet-style quality filter)
# ---------------------------------------------------------------------------

@register(
    "q141_bigram_perplexity",
    f"""
    WITH toks AS (
        SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
    ), unigram AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS c1
        FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w
    ), vocab AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS v FROM unigram
    ), stream AS (
        SELECT doc_id, lang,
               unnest(list_transform(range(1, len(t)),
                                     i -> t[i] || ' ' || t[i + 1])) AS bigram
        FROM toks WHERE len(t) >= 2
    ), big AS (
        SELECT bigram, CAST(COUNT(*) AS BIGINT) AS c12 FROM stream GROUP BY bigram
    ), scored AS (
        SELECT s.doc_id, s.lang,
               CAST(FLOOR(LOG2((b.c12 + 1) / (u.c1 + v.v)) * 1000000.0) AS BIGINT) AS q
        FROM stream s
        JOIN big b USING (bigram)
        JOIN unigram u ON split_part(s.bigram, ' ', 1) = u.w
        CROSS JOIN vocab v
    ), per_doc AS (
        SELECT doc_id, lang,
               -CAST(SUM(q) AS BIGINT) / 1000000.0 / COUNT(*) AS xent
        FROM scored GROUP BY doc_id, lang
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           {_rnd_sql(f"({_dsum_sql('xent', 6)}) / COUNT(*)", 6)} AS avg_xent,
           {_rnd_sql("MAX(xent)", 6)} AS max_xent
    FROM per_doc GROUP BY lang
    """,
    doc="bigram language-model cross-entropy per document, rolled up per "
    "language — the CCNet/KenLM-style perplexity quality filter: train "
    "add-one-smoothed bigram stats ON the corpus itself (c12, unigram "
    "context counts, vocab size), score every document's mean "
    "-log2 p(w2|w1), aggregate per language. Per-bigram log terms are "
    "fixed-point-quantized (floor 1e-6) before the per-doc sum and the "
    "per-lang mean reuses dsum, so every accumulation is an exact "
    "integer sum — order-independent across partitionings and engines; "
    "fp appears only in the one log2 and the final divisions. Plan: the "
    "bigram stream joins its own partial-aggregated counts (same key as "
    "the groupBy → the exchange is reused) and the unigram table on the "
    "context word; the 1-row vocab size broadcasts. Cost is linear in "
    "total tokens — nothing is doc-pairwise — and the count tables "
    "shrink with Zipf mass, so AQE broadcasts them at moderate scale; "
    "at 100 TB they stay shuffles co-partitioned with the stream.",
)
def q141_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread_if_narrow(T(spark, sf_dir, "documents"), "doc_id")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    bigrams = F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    stream = d.filter(n >= 2).select(
        "doc_id", "lang", F.explode(bigrams).alias("bigram")
    )
    unigram = (
        d.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c1"))
    )
    vocab = unigram.agg(F.count(F.lit(1)).cast("bigint").alias("v"))
    big = stream.groupBy("bigram").agg(
        F.count(F.lit(1)).cast("bigint").alias("c12")
    )
    scored = (
        stream.join(big, "bigram")
        .withColumn("w", F.element_at(F.split(F.col("bigram"), " "), 1))
        .join(unigram, "w")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            "lang",
            F.floor(
                F.log2((F.col("c12") + 1) / (F.col("c1") + F.col("v")))
                * 1000000.0
            )
            .cast("bigint")
            .alias("q"),
        )
    )
    per_doc = scored.groupBy("doc_id", "lang").agg(
        ((-F.sum("q").cast("bigint")) / 1000000.0 / F.count(F.lit(1))).alias("xent")
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        rnd(dsum(F.col("xent"), 6) / F.count(F.lit(1)), 6).alias("avg_xent"),
        rnd(F.max("xent"), 6).alias("max_xent"),
    )


# ---------------------------------------------------------------------------
# q147 — distinct-n corpus diversity (generation-quality / mode-collapse
# metric, Li et al. 2016)
# ---------------------------------------------------------------------------

@register(
    "q147_distinct_n",
    f"""
    WITH toks AS (
        SELECT lang, string_split(text, ' ') AS t FROM documents
    ), uni AS (
        SELECT lang, unnest(t) AS g FROM toks
    ), bi AS (
        SELECT lang, unnest(list_transform(range(1, len(t)),
                                           i -> t[i] || ' ' || t[i + 1])) AS g
        FROM toks WHERE len(t) >= 2
    ), u AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n1,
               CAST(COUNT(DISTINCT g) AS BIGINT) AS d1
        FROM uni GROUP BY lang
    ), b AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n2,
               CAST(COUNT(DISTINCT g) AS BIGINT) AS d2
        FROM bi GROUP BY lang
    )
    SELECT u.lang, u.n1, u.d1, b.n2, b.d2,
           {_rnd_sql("CAST(u.d1 AS DOUBLE) / u.n1", 6)} AS distinct_1,
           {_rnd_sql("CAST(b.d2 AS DOUBLE) / b.n2", 6)} AS distinct_2
    FROM u JOIN b ON u.lang = b.lang
    """,
    doc="distinct-1 / distinct-2 corpus diversity per language (the "
    "mode-collapse metric for generated/synthetic data, and the "
    "repetition profile of a scraped corpus): unique-to-total ratio of "
    "unigrams and bigrams. Counts are exact; distinct counts ride "
    "Spark's two-phase partial-distinct aggregation (per-partition "
    "dedup BEFORE the exchange, so the shuffle carries distinct grams "
    "per partition, not the raw stream). Two gram streams aggregate "
    "independently and join on the 5-row lang domain — broadcast. For "
    "100-TB cardinalities where exact distinct is too hot, q34's HLL is "
    "the drop-in (same group keys, approximate d1/d2).",
)
def q147_distinct_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    uni = d.select("lang", F.explode(toks).alias("g"))
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bi = d.select("lang", F.explode(bigrams).alias("g"))
    u = uni.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n1"),
        F.countDistinct("g").cast("bigint").alias("d1"),
    )
    b = bi.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n2"),
        F.countDistinct("g").cast("bigint").alias("d2"),
    )
    return u.join(b, "lang").select(
        "lang",
        "n1",
        "d1",
        "n2",
        "d2",
        rnd(F.col("d1").cast("double") / F.col("n1"), 6).alias("distinct_1"),
        rnd(F.col("d2").cast("double") / F.col("n2"), 6).alias("distinct_2"),
    )


# ---------------------------------------------------------------------------
# q167 — PMI word co-occurrence (collocation mining)
# ---------------------------------------------------------------------------

_PMI_MIN_PAIRS = 20  # support floor: PMI of rare pairs is noise


@register(
    "q167_pmi_cooccurrence",
    f"""
    WITH w AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
        FROM documents
    ), n AS (
        SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM w
    ), uni AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM w GROUP BY tok
    ), pair AS (
        SELECT a.tok AS w1, b.tok AS w2, CAST(COUNT(*) AS BIGINT) AS c12
        FROM w a JOIN w b ON a.doc_id = b.doc_id AND a.tok < b.tok
        GROUP BY a.tok, b.tok
    )
    SELECT p.w1, p.w2, p.c12,
           {_rnd_sql("LOG2(CAST(p.c12 AS DOUBLE) * n.n_docs / (u1.c * u2.c))", 6)}
               AS pmi
    FROM pair p
    JOIN uni u1 ON p.w1 = u1.tok
    JOIN uni u2 ON p.w2 = u2.tok
    CROSS JOIN n
    WHERE p.c12 >= {_PMI_MIN_PAIRS}
    """,
    doc="pointwise mutual information over within-document word "
    "co-occurrence: PMI(w1, w2) = log2(P12 / (P1 P2)) with document-"
    "frequency probabilities — the classic collocation / related-terms "
    "miner (phrase detection in word2vec preprocessing uses exactly "
    "this score). All counts are exact integers and PMI is ONE log2 of "
    "an exact integer rational (c12 * N / (c1 * c2)) — no probability "
    "intermediates, engine-identical. Pair generation follows q118's "
    "basket pattern: collect each doc's distinct words and explode the "
    "local pair grid — per-doc work is bounded by distinct-words², no "
    "self-join ever reaches the cluster (on an open-vocabulary corpus "
    "you'd support-prune the unigram tail FIRST, then grid only "
    "retained words — same plan, one extra semi-join). Support floor "
    "c12 >= 20 keeps the noise floor out. One exchange for unigram "
    "counts (broadcast back), one for pair partial-aggregation.",
)
def q167_pmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents").select(
        "doc_id", F.array_distinct(F.split(F.col("text"), " ")).alias("ws")
    )
    w = docs.select("doc_id", F.explode("ws").alias("tok"))
    n = w.agg(F.countDistinct("doc_id").cast("bigint").alias("n_docs"))
    uni = w.groupBy("tok").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    ws = F.col("ws")
    grid = F.flatten(
        F.transform(
            ws, lambda x: F.transform(ws, lambda y: F.struct(x.alias("a"), y.alias("b")))
        )
    )
    pair = (
        docs.select(F.explode(grid).alias("p"))
        .filter(F.col("p.a") < F.col("p.b"))
        .groupBy(F.col("p.a").alias("w1"), F.col("p.b").alias("w2"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c12"))
        .filter(F.col("c12") >= _PMI_MIN_PAIRS)
    )
    u1 = uni.select(F.col("tok").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("tok").alias("w2"), F.col("c").alias("c2"))
    out = (
        pair.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(n))
    )
    pmi = F.log2(
        F.col("c12").cast("double") * F.col("n_docs") / (F.col("c1") * F.col("c2"))
    )
    return out.select("w1", "w2", "c12", rnd(pmi, 6).alias("pmi"))


# ---------------------------------------------------------------------------
# q202 — duplicated-span profile: exact substring-level duplication signal
# ---------------------------------------------------------------------------

_SPAN_W = 8  # tokens per span window (shared with q64's gram width)


@register(
    "q202_span_dup_profile",
    f"""
    WITH spans AS (
        SELECT DISTINCT doc_id, unnest(CASE WHEN len(string_split(text,' ')) >= {_SPAN_W}
            THEN list_transform(generate_series(1, len(string_split(text,' ')) - {_SPAN_W - 1}),
                 i -> array_to_string(list_slice(string_split(text,' '), i, i + {_SPAN_W - 1}), ' '))
            ELSE [] END) AS gram
        FROM documents
    ), df AS (
        SELECT gram, COUNT(*) AS n_docs FROM spans GROUP BY gram
    ), per AS (
        SELECT s.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_spans,
               CAST(SUM(CASE WHEN d.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans
        FROM spans s JOIN df d USING (gram)
        GROUP BY s.doc_id
    )
    SELECT doc_id, n_spans, n_dup_spans,
           {{dup_frac}} AS dup_frac
    FROM per WHERE n_dup_spans > 0
    ORDER BY dup_frac DESC, doc_id
    LIMIT 100
    """.format(dup_frac=_rnd_sql("CAST(n_dup_spans AS DOUBLE) / n_spans", 6)),
    doc=f"exact duplicated-span profile — substring-level dedup signal in "
    f"the style of 'Deduplicating Training Data Makes Language Models "
    f"Better' (Lee et al. 2022, exact-substring arm): a {_SPAN_W}-token "
    "window is 'duplicated' when it appears verbatim in >= 2 distinct "
    "documents; each document gets (n_spans, n_dup_spans, dup_frac), top "
    "100 by dup_frac. Catches partial-overlap duplication that doc-level "
    "MinHash (q53) misses: a page quoting one paragraph of another "
    "shares spans without clearing a document Jaccard threshold. Plan: "
    "the span stream reuses q64's explode-first codegen gram builder "
    "(no interpreted HOF), duplication is an AGGREGATE on the gram key "
    "(never a pairwise scan), the doc-frequency join reuses the gram "
    "exchange, and the final top-100 is TakeOrderedAndProject. At 100 TB "
    "the span stream is ~n_tokens rows that partial-aggregate inside the "
    "scan stage; boilerplate hub grams skew the gram key but only its "
    "count travels, never doc lists.",
)
def q202_span_dup_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_entregas_pyspark_spark.queries.datasplit import _gram_stream

    d = spread_if_narrow(T(spark, sf_dir, "documents"), "doc_id")
    spans = _gram_stream(d, _SPAN_W).distinct()
    df = spans.groupBy("gram").agg(F.count(F.lit(1)).alias("n_docs"))
    per = (
        spans.join(df, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_spans"),
            F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_spans"),
        )
    )
    frac = rnd(F.col("n_dup_spans").cast("double") / F.col("n_spans"), 6)
    return (
        per.filter(F.col("n_dup_spans") > 0)
        .select("doc_id", "n_spans", "n_dup_spans", frac.alias("dup_frac"))
        .orderBy(F.col("dup_frac").desc(), "doc_id")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# q204 — pairwise source divergence: Jensen-Shannon over unigram
#         distributions (the corpus-mixing diagnostic)
# ---------------------------------------------------------------------------

# JS(A,B) over the unigram distributions with only the INNER token join:
# tokens present in one source only contribute p·log2(2p/p) = p, so
#   JS = 1 - (Pc + Qc)/2 + Σ_common [p·log2(2p/(p+q)) + q·log2(2q/(p+q))]/2
# where Pc = Σ_common p (an EXACT integer count ratio). Only the log-term
# sum is fp — fixed-point-quantized at 1e-12 so the accumulation is an
# order-independent integer sum on both engines.
_JS_Q = 12


@register(
    "q204_source_divergence",
    f"""
    WITH tok AS (
        SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
    ), cnt AS (
        SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok GROUP BY source, w
    ), tot AS (
        SELECT source, CAST(SUM(c) AS BIGINT) AS t,
               CAST(COUNT(*) AS BIGINT) AS vocab
        FROM cnt GROUP BY source
    ), pairs AS (
        SELECT a.source AS source_a, b.source AS source_b,
               a.c AS ca, b.c AS cb, ta.t AS tota, tb.t AS totb
        FROM cnt a JOIN cnt b ON a.w = b.w AND a.source < b.source
        JOIN tot ta ON a.source = ta.source
        JOIN tot tb ON b.source = tb.source
    ), agg AS (
        SELECT source_a, source_b,
               CAST(COUNT(*) AS BIGINT) AS n_common,
               CAST(SUM(ca) AS BIGINT) AS sca, CAST(SUM(cb) AS BIGINT) AS scb,
               MAX(tota) AS tota, MAX(totb) AS totb,
               {{lg}} AS logterm
        FROM pairs GROUP BY source_a, source_b
    )
    SELECT a.source_a, a.source_b, a.n_common,
           ta.vocab AS vocab_a, tb.vocab AS vocab_b,
           {{js}} AS js_divergence
    FROM agg a
    JOIN tot ta ON a.source_a = ta.source
    JOIN tot tb ON a.source_b = tb.source
    ORDER BY source_a, source_b
    """.format(
        lg=_dsum_sql(
            "(CAST(ca AS DOUBLE)/tota) * LOG2(2.0*(CAST(ca AS DOUBLE)/tota) / (CAST(ca AS DOUBLE)/tota + CAST(cb AS DOUBLE)/totb))"
            " + (CAST(cb AS DOUBLE)/totb) * LOG2(2.0*(CAST(cb AS DOUBLE)/totb) / (CAST(ca AS DOUBLE)/tota + CAST(cb AS DOUBLE)/totb))",
            _JS_Q,
        ),
        js=_rnd_sql(
            "1.0 - 0.5*CAST(sca AS DOUBLE)/a.tota - 0.5*CAST(scb AS DOUBLE)/a.totb + 0.5*logterm",
            6,
        ),
    ),
    doc="pairwise Jensen-Shannon divergence between per-source unigram "
    "distributions — the corpus-MIXING diagnostic (what changed between "
    "two crawl sources / snapshots, and how much re-weighting they can "
    "tolerate), complementing q195's containment overlap (which asks "
    "'is B's content inside A', not 'how differently do A and B talk') "
    "and q184/q155's numeric-feature PSI. Identity: one-source-only "
    "tokens contribute exactly p/2, so JS reduces to the INNER join on "
    "the token key plus exact common-mass sums — no outer join, no "
    "per-source vocab materialization on the pair path. Per-token log "
    "terms are fixed-point quantized (1e-12) so the sum is an exact "
    "integer accumulation, order-independent across engines and "
    "partitionings. Plan: one (source, token) partial-agg shuffle "
    "(linear in corpus tokens), a token-keyed self-join whose per-token "
    "fan-out is bounded by sources²/2 rows, and a sources²-sized final "
    "aggregate; the per-source totals broadcast. At 100 TB the token "
    "shuffle dominates and combines map-side under Zipf; nothing is "
    "document-pairwise. Measured r9 growth ladder: flat (alpha -0.28) "
    "at 1-4 replicas - the stage floor dominates; the pair join is "
    "vocab-bounded (SCALE.md).",
)
def q204_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(F.split(F.col("text"), " ")).alias("w"))
    cnt = tok.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    tot = cnt.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("t"),
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
    )
    a = cnt.select(
        F.col("source").alias("source_a"), "w", F.col("c").alias("ca")
    )
    b = cnt.select(
        F.col("source").alias("source_b"), "w", F.col("c").alias("cb")
    )
    ta = tot.select(
        F.col("source").alias("source_a"),
        F.col("t").alias("tota"),
        F.col("vocab").alias("vocab_a"),
    )
    tb = tot.select(
        F.col("source").alias("source_b"),
        F.col("t").alias("totb"),
        F.col("vocab").alias("vocab_b"),
    )
    pairs = (
        a.join(b, "w")
        .filter(F.col("source_a") < F.col("source_b"))
        .join(F.broadcast(ta), "source_a")
        .join(F.broadcast(tb), "source_b")
    )
    p = F.col("ca").cast("double") / F.col("tota")
    q = F.col("cb").cast("double") / F.col("totb")
    term = p * F.log2(F.lit(2.0) * p / (p + q)) + q * F.log2(
        F.lit(2.0) * q / (p + q)
    )
    agg = pairs.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_common"),
        F.sum("ca").cast("bigint").alias("sca"),
        F.sum("cb").cast("bigint").alias("scb"),
        F.max("tota").alias("tota"),
        F.max("totb").alias("totb"),
        F.max("vocab_a").alias("vocab_a"),
        F.max("vocab_b").alias("vocab_b"),
        dsum(term, _JS_Q).alias("logterm"),
    )
    js = rnd(
        F.lit(1.0)
        - F.lit(0.5) * F.col("sca").cast("double") / F.col("tota")
        - F.lit(0.5) * F.col("scb").cast("double") / F.col("totb")
        + F.lit(0.5) * F.col("logterm"),
        6,
    )
    return agg.select(
        "source_a",
        "source_b",
        "n_common",
        "vocab_a",
        "vocab_b",
        js.alias("js_divergence"),
    ).orderBy("source_a", "source_b")


# ---------------------------------------------------------------------------
# q206 — tokenizer fertility profile: whitespace vs subword-ish token
#         economics per language (the pretraining cost planner)
# ---------------------------------------------------------------------------

_FERT_PAT = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"


@register(
    "q206_tokenizer_fertility",
    f"""
    WITH per AS (
        SELECT lang,
               CAST(LENGTH(text) AS BIGINT) AS n_chars,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_toks,
               CAST(len(regexp_extract_all(text, '{_FERT_PAT}')) AS BIGINT) AS sub_toks
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(ws_toks) AS BIGINT) AS total_ws_tokens,
           CAST(SUM(sub_toks) AS BIGINT) AS total_sub_tokens,
           {_rnd_sql("CAST(SUM(n_chars) AS DOUBLE) / SUM(sub_toks)", 4)} AS chars_per_token,
           {_rnd_sql("CAST(SUM(sub_toks) AS DOUBLE) / SUM(ws_toks)", 4)} AS fertility
    FROM per GROUP BY lang
    ORDER BY lang
    """,
    doc="tokenizer fertility / token-economics profile per language: "
    "whitespace token count vs a BPE-ish pre-tokenization (letter runs, "
    "single digits, single punctuation — the GPT-2 pre-tokenizer shape) "
    "via one regexp pass, rolled up per language into chars-per-token "
    "and fertility (subword per whitespace word). This is the "
    "pretraining COST planner: token totals price a training run, and "
    "per-language fertility says which languages a whitespace budget "
    "under-counts. All aggregations are exact integer sums (counts and "
    "lengths), so no fp-ordering hazard exists; the two ratios are "
    "single final divisions. Plan: embarrassingly parallel single scan "
    "— per-document token counting inside whole-stage codegen (regexp "
    "count, no explode: the token STREAM never materializes), then a "
    "lang-keyed partial agg. At 100 TB this is the cheapest full-corpus "
    "pass in the registry: zero joins, zero data-scale shuffles, "
    "|langs| result rows.",
)
def q206_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    per = d.select(
        "lang",
        F.length("text").cast("bigint").alias("n_chars"),
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("ws_toks"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_FERT_PAT), 0))
        .cast("bigint")
        .alias("sub_toks"),
    )
    agg = per.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum("ws_toks").cast("bigint").alias("total_ws_tokens"),
        F.sum("sub_toks").cast("bigint").alias("total_sub_tokens"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "total_chars",
        "total_ws_tokens",
        "total_sub_tokens",
        rnd(
            F.col("total_chars").cast("double") / F.col("total_sub_tokens"), 4
        ).alias("chars_per_token"),
        rnd(
            F.col("total_sub_tokens").cast("double") / F.col("total_ws_tokens"),
            4,
        ).alias("fertility"),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# q209 — Zipf-slope corpus naturalness profile (per-source log-log OLS)
# ---------------------------------------------------------------------------

_ZIPF_TOP = 500   # fit over the top-500 ranks (the regime where Zipf holds)
_ZIPF_Q = 6       # fixed-point scale for the OLS sufficient statistics


# SQL literal derived from _ZIPF_Q (as _dsum_sql does) so the oracle and
# the DataFrame path share ONE constant — changing _ZIPF_Q cannot de-sync.
_ZIPF_SCALE_SQL = f"{10.0 ** _ZIPF_Q!r}"


def _zipf_q(expr: str) -> str:
    return f"CAST(FLOOR(({expr}) * {_ZIPF_SCALE_SQL}) AS BIGINT)"


@register(
    "q209_zipf_slope",
    f"""
    WITH cnt AS (
        SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
        GROUP BY source, w
    ), ranked AS (
        SELECT source, c,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY c DESC, w ASC) AS r
        FROM cnt
    ), pts AS (
        SELECT source,
               {_zipf_q("LN(CAST(r AS DOUBLE))")} AS qx,
               {_zipf_q("LN(CAST(c AS DOUBLE))")} AS qy,
               {_zipf_q("LN(CAST(r AS DOUBLE)) * LN(CAST(c AS DOUBLE))")} AS qxy,
               {_zipf_q("LN(CAST(r AS DOUBLE)) * LN(CAST(r AS DOUBLE))")} AS qxx
        FROM ranked WHERE r <= {_ZIPF_TOP}
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_ranks,
           {_rnd_sql(
               f"(COUNT(*) * (CAST(SUM(qxy) AS DOUBLE)/{_ZIPF_SCALE_SQL}) - (CAST(SUM(qx) AS DOUBLE)/{_ZIPF_SCALE_SQL}) * (CAST(SUM(qy) AS DOUBLE)/{_ZIPF_SCALE_SQL}))"
               f" / (COUNT(*) * (CAST(SUM(qxx) AS DOUBLE)/{_ZIPF_SCALE_SQL}) - (CAST(SUM(qx) AS DOUBLE)/{_ZIPF_SCALE_SQL}) * (CAST(SUM(qx) AS DOUBLE)/{_ZIPF_SCALE_SQL}))",
               4,
           )} AS zipf_slope
    FROM pts GROUP BY source ORDER BY source
    """,
    doc="per-source Zipf-slope fit — the corpus NATURALNESS diagnostic: "
    "natural language sits near slope -1 on the log-rank/log-frequency "
    "line; heavily templated or boilerplate-duplicated sources flatten "
    "(hub tokens over-represented) and synthetic/keyword-stuffed "
    "sources steepen. Complements q204 (which compares sources to each "
    "other; this scores each against the Zipf law itself) and q85's "
    "repetition profile (doc-level). Fit = closed-form OLS over the "
    "top-500 ranks; rank = row_number over the per-source vocabulary "
    "(model-state-sized — the window never touches corpus-scale rows), "
    "deterministic tie-break (count desc, token asc). The four OLS "
    "sufficient statistics are fixed-point-quantized (1e-6) per point "
    "before summing — exact integer accumulation, engine- and "
    "partitioning-independent; fp appears only in the two LNs and the "
    "final slope division. Plan: one (source, token) partial-agg "
    "shuffle (linear in corpus tokens, combines map-side under Zipf "
    "itself), a vocab-sized window, a sources-sized aggregate.",
)
def q209_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = T(spark, sf_dir, "documents")
    cnt = (
        d.select("source", F.explode(F.split(F.col("text"), " ")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    w = Window.partitionBy("source").orderBy(
        F.col("c").desc(), F.col("w").asc()
    )
    ranked = cnt.withColumn("r", F.row_number().over(w)).filter(
        F.col("r") <= _ZIPF_TOP
    )
    lx = F.log(F.col("r").cast("double"))
    ly = F.log(F.col("c").cast("double"))
    scale = F.lit(float(10 ** _ZIPF_Q))

    def q(e):  # noqa: ANN001 - local fixed-point helper
        return F.floor(e * scale).cast("long")

    pts = ranked.select(
        "source",
        q(lx).alias("qx"),
        q(ly).alias("qy"),
        q(lx * ly).alias("qxy"),
        q(lx * lx).alias("qxx"),
    )
    n = F.count(F.lit(1)).cast("bigint")
    agg = pts.groupBy("source").agg(
        n.alias("n_ranks"),
        F.sum("qx").alias("sx"),
        F.sum("qy").alias("sy"),
        F.sum("qxy").alias("sxy"),
        F.sum("qxx").alias("sxx"),
    )
    dn = F.lit(float(10 ** _ZIPF_Q))
    slope = (
        F.col("n_ranks") * (F.col("sxy").cast("double") / dn)
        - (F.col("sx").cast("double") / dn) * (F.col("sy").cast("double") / dn)
    ) / (
        F.col("n_ranks") * (F.col("sxx").cast("double") / dn)
        - (F.col("sx").cast("double") / dn) * (F.col("sx").cast("double") / dn)
    )
    return agg.select(
        "source", "n_ranks", rnd(slope, 4).alias("zipf_slope")
    ).orderBy("source")


# ---------------------------------------------------------------------------
# q214 — exact-substring span scrubber: the APPLY of q202's duplication
#         signal (Lee et al. 2022's exact-substring arm acts on spans,
#         not documents — the duplicated bytes are removed, the document
#         survives)
# ---------------------------------------------------------------------------


def _q214_oracle() -> str:
    w = _SPAN_W
    return f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), occ AS (
        SELECT doc_id, i,
               array_to_string(list_slice(t, i, i + {w - 1}), ' ') AS gram
        FROM (
            SELECT doc_id, t,
                   unnest(CASE WHEN len(t) >= {w}
                          THEN generate_series(1, len(t) - {w - 1})
                          ELSE [] END) AS i
            FROM toks
        )
    ), dup AS (
        SELECT gram FROM occ GROUP BY gram
        HAVING COUNT(DISTINCT doc_id) >= 2
    ), cov AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_covered
        FROM (
            SELECT DISTINCT o.doc_id, unnest(generate_series(o.i, o.i + {w - 1})) AS pos
            FROM occ o JOIN dup USING (gram)
        ) GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
           COALESCE(c.n_covered, 0) AS n_covered,
           CAST(len(string_split(d.text, ' ')) AS BIGINT)
               - COALESCE(c.n_covered, 0) AS n_retained,
           {_rnd_sql("COALESCE(c.n_covered, 0) / CAST(len(string_split(d.text, ' ')) AS DOUBLE)", 6)}
               AS scrub_frac
    FROM documents d LEFT JOIN cov c USING (doc_id)
    ORDER BY d.doc_id
    """


@register(
    "q214_span_scrub_apply",
    _q214_oracle(),
    doc="the APPLY of q202's duplicated-span signal — Lee et al. 2022's "
    "exact-substring dedup acts on SPANS, not documents: every token "
    f"position covered by a {_SPAN_W}-token window that appears "
    "verbatim in >= 2 distinct docs is marked for removal, and the "
    "per-doc budget row (n_tokens, n_covered, n_retained, scrub_frac) "
    "is exactly what the training pipeline needs to (a) rewrite the "
    "doc minus its duplicated spans and (b) account the surviving "
    "token budget. One row per document, keepers included (q211's "
    "decision-table shape). Distinct from q202 (top-100 profile, span "
    "COUNTS) in that overlapping duplicated windows must not "
    "double-count a token: coverage is the DISTINCT position union, "
    "computed by exploding window extents and deduping (doc_id, pos). "
    "Plan: positional gram stream (explode-first, codegen — "
    "_gram_stream's shape with the start index kept), duplication "
    "decided by ONE aggregate on the gram key (count distinct docs, "
    "never pairwise), coverage = gram-keyed join back + position "
    "explode + distinct — every stage linear in corpus tokens x W, "
    "shuffles keyed by gram / (doc, pos). At 100 TB this is the "
    "cheapest exact-dedup arm there is: no signatures, no pairs, two "
    "token-bounded shuffles.",
    # Bench contrast: span scrub apply vs duplication profile: ~1-1.5
    # expected. Apply adds the coverage union and per-doc rollup on top of the
    # profile's gram aggregate, both linear in corpus tokens; the pair guards
    # against the apply path ever regressing superlinear.
    contrast_of="q202_span_dup_profile",
)
def q214_span_scrub_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = _SPAN_W
    d = spread_if_narrow(T(spark, sf_dir, "documents"), "doc_id")
    base = d.select("doc_id", F.split("text", " ").alias("toks"))
    idx = F.when(
        F.size("toks") >= w,
        F.sequence(F.lit(1), F.size("toks") - (w - 1)),
    ).otherwise(F.array().cast("array<int>"))
    occ = base.select("doc_id", "toks", F.explode(idx).alias("i")).select(
        "doc_id",
        "i",
        F.concat_ws(
            " ", *[F.element_at("toks", F.col("i") + k) for k in range(w)]
        ).alias("gram"),
    )
    dup = (
        occ.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gram")
    )
    cov = (
        occ.join(dup, "gram")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("i"), F.col("i") + F.lit(w - 1))
            ).alias("pos"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_covered"))
    )
    n_tok = F.size(F.split("text", " ")).cast("bigint")
    out = (
        T(spark, sf_dir, "documents")
        .select("doc_id", n_tok.alias("n_tokens"))
        .join(cov, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_covered", F.lit(0)).cast("bigint").alias("n_covered"),
        )
    )
    return out.select(
        "doc_id",
        "n_tokens",
        "n_covered",
        (F.col("n_tokens") - F.col("n_covered")).alias("n_retained"),
        rnd(F.col("n_covered").cast("double") / F.col("n_tokens"), 6).alias(
            "scrub_frac"
        ),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q218 — scrub-budget rollup by source: the planning view over q214
# ---------------------------------------------------------------------------


@register(
    "q218_scrub_budget_by_source",
    f"""
    WITH per_doc AS ( {_q214_oracle()} )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(p.n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(p.n_covered) AS BIGINT) AS covered_tokens,
           CAST(SUM(p.n_retained) AS BIGINT) AS retained_tokens,
           {_rnd_sql("CAST(SUM(p.n_retained) AS DOUBLE) / SUM(p.n_tokens)", 6)}
               AS retention_frac
    FROM per_doc p JOIN documents d ON p.doc_id = d.doc_id
    GROUP BY d.source ORDER BY d.source
    """,
    doc="the PLANNING view over q214's span scrubber: per source, how "
    "many training tokens survive exact-substring dedup — n_docs, "
    "total/covered/retained token sums (exact integers) and the "
    "retention fraction. This is the number a data-mixing plan "
    "actually consumes (q86's mixture weights must be computed over "
    "POST-scrub token budgets, or heavily templated sources get "
    "weighted by tokens that will be deleted); paired with q206's "
    "fertility it prices the surviving corpus in model tokens. Plan: "
    "q214's linear gram pipeline + one broadcast-size source join and "
    "a |sources| aggregate — nothing new shuffles at corpus scale.",
)
def q218_scrub_budget_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_doc = q214_span_scrub_apply(spark, sf_dir)
    src = T(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        per_doc.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.sum("n_covered").cast("bigint").alias("covered_tokens"),
            F.sum("n_retained").cast("bigint").alias("retained_tokens"),
        )
        .select(
            "source",
            "n_docs",
            "total_tokens",
            "covered_tokens",
            "retained_tokens",
            rnd(
                F.col("retained_tokens").cast("double")
                / F.col("total_tokens"),
                6,
            ).alias("retention_frac"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q219 — snapshot novelty: how much of today's token mass is NEW
# ---------------------------------------------------------------------------


@register(
    "q219_snapshot_novelty",
    f"""
    WITH tok AS (
        SELECT source, doc_id % 2 AS snap, unnest(string_split(text, ' ')) AS w
        FROM documents
    ), cnt AS (
        SELECT source, snap, w, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok GROUP BY source, snap, w
    ), b AS (
        SELECT source, w, c FROM cnt WHERE snap = 1
    ), a AS (
        SELECT source, w FROM cnt WHERE snap = 0
    )
    SELECT b.source,
           CAST(SUM(b.c) AS BIGINT) AS b_tokens,
           CAST(COUNT(*) AS BIGINT) AS b_vocab,
           CAST(SUM(CASE WHEN a.w IS NULL THEN b.c ELSE 0 END) AS BIGINT)
               AS novel_tokens,
           CAST(SUM(CASE WHEN a.w IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS novel_vocab,
           {_rnd_sql("SUM(CASE WHEN a.w IS NULL THEN b.c ELSE 0 END) / CAST(SUM(b.c) AS DOUBLE)", 6)}
               AS novelty_frac
    FROM b LEFT JOIN a ON b.source = a.source AND b.w = a.w
    GROUP BY b.source ORDER BY b.source
    """,
    doc="per-source snapshot NOVELTY — the crawl-growth diagnostic: of "
    "today's token mass (doc_id parity splits the corpus into "
    "yesterday/today snapshots, q207's convention), how much lands on "
    "tokens yesterday's snapshot never saw, both mass-weighted "
    "(novel_tokens/b_tokens) and vocabulary-weighted (novel_vocab/"
    "b_vocab). A re-crawl that mostly re-collects old pages reads ~0; "
    "a source drifting topically (or being flooded with generated "
    "text) spikes. Complements q204 (how differently two sources "
    "talk), q195 (whose content is inside whose) and q207 (embedding-"
    "space drift) with the lexical-GROWTH axis. Exactness: counts and "
    "the novel-mass sums are pure integers; one rounded division per "
    "source. Plan: ONE (source, snap, token) partial-agg shuffle "
    "(linear in corpus tokens, map-side combined under Zipf), then a "
    "vocab-keyed left join whose both sides are model-state-sized "
    "count tables — corpus bytes never move twice; at 100 TB the cost "
    "is the token scan, q204's scale argument verbatim.",
)
def q219_snapshot_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    cnt = (
        d.select(
            "source",
            (F.col("doc_id") % 2).alias("snap"),
            F.explode(F.split(F.col("text"), " ")).alias("w"),
        )
        .groupBy("source", "snap", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    b = cnt.filter(F.col("snap") == 1).select("source", "w", "c")
    a = cnt.filter(F.col("snap") == 0).select(
        "source", "w", F.lit(True).alias("seen")
    )
    novel = F.when(F.col("seen").isNull(), F.col("c")).otherwise(F.lit(0))
    novel1 = F.when(F.col("seen").isNull(), F.lit(1)).otherwise(F.lit(0))
    return (
        b.join(a, ["source", "w"], "left")
        .groupBy("source")
        .agg(
            F.sum("c").cast("bigint").alias("b_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("b_vocab"),
            F.sum(novel).cast("bigint").alias("novel_tokens"),
            F.sum(novel1).cast("bigint").alias("novel_vocab"),
        )
        .select(
            "source",
            "b_tokens",
            "b_vocab",
            "novel_tokens",
            "novel_vocab",
            rnd(
                F.col("novel_tokens").cast("double") / F.col("b_tokens"), 6
            ).alias("novelty_frac"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q220 — mixture plan: epochs-per-source over the POST-scrub token budget
# ---------------------------------------------------------------------------


@register(
    "q220_mixture_plan",
    f"""
    WITH per_doc AS ( {_q214_oracle()} ),
    budget AS (
        SELECT d.source, CAST(SUM(p.n_retained) AS BIGINT) AS retained_tokens
        FROM per_doc p JOIN documents d ON p.doc_id = d.doc_id
        GROUP BY d.source
    ), tot AS (
        SELECT CAST(SUM(retained_tokens) AS BIGINT) AS total,
               CAST(COUNT(*) AS BIGINT) AS n_sources
        FROM budget
    )
    SELECT b.source, b.retained_tokens,
           {_rnd_sql("1.0 / t.n_sources", 6)} AS target_share,
           {_rnd_sql("CAST(t.total AS DOUBLE) / t.n_sources", 2)}
               AS allocated_tokens,
           CASE WHEN b.retained_tokens > 0 THEN
               {_rnd_sql("CAST(t.total AS DOUBLE) / t.n_sources / b.retained_tokens", 4)}
           END AS epochs,
           CASE WHEN b.retained_tokens > 0 THEN
               CAST(t.total AS DOUBLE) / t.n_sources / b.retained_tokens > 1.0
           END AS oversampled
    FROM budget b CROSS JOIN tot t
    ORDER BY b.source
    """,
    doc="the data-MIXING plan computed over the post-scrub token budget "
    "(q218's point made executable): allocate the surviving corpus "
    "uniformly across sources and emit, per source, its allocation, "
    "the epochs needed to fill it (allocation / retained tokens) and "
    "whether that oversamples (epochs > 1 — the source repeats, the "
    "signal a curriculum must know). Computing this over RAW tokens "
    "instead of post-scrub retained tokens systematically over-weights "
    "templated sources whose duplicated spans will be deleted — the "
    "q218 composition is the point. Uniform target shares keep the "
    "plan constant-free (1/|sources| derives from the data); swapping "
    "in learned weights (q86) changes one column. Plan: q214's linear "
    "gram pipeline + a |sources| aggregate + a 1-row broadcast total — "
    "the plan itself is model-state arithmetic.",
)
def q220_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_doc = q214_span_scrub_apply(spark, sf_dir)
    src = T(spark, sf_dir, "documents").select("doc_id", "source")
    budget = (
        per_doc.join(src, "doc_id")
        .groupBy("source")
        .agg(F.sum("n_retained").cast("bigint").alias("retained_tokens"))
    )
    tot = budget.agg(
        F.sum("retained_tokens").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_sources"),
    )
    alloc = F.col("total").cast("double") / F.col("n_sources")
    # a fully-scrubbed source (retained = 0 — e.g. a verbatim re-crawl at
    # the sf1 duplication stress) gets NULL epochs, not a zero division
    has_budget = F.col("retained_tokens") > 0
    epochs = F.when(has_budget, alloc / F.col("retained_tokens"))
    return (
        budget.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "retained_tokens",
            rnd(F.lit(1.0) / F.col("n_sources"), 6).alias("target_share"),
            rnd(alloc, 2).alias("allocated_tokens"),
            rnd(epochs, 4).alias("epochs"),
            F.when(has_budget, epochs > 1.0).alias("oversampled"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q256 — filter REJECTION ATTRIBUTION: q88 reports keep rates; curation
#         teams ship the other table too — WHICH rule killed each document
#         (the FineWeb/Dolma-style rejection ledger), because a threshold
#         change is tuned against the rule-level loss, not the total.
# ---------------------------------------------------------------------------


@register(
    "q256_filter_attribution",
    f"""
    WITH scored AS (
        SELECT source,
               lang,
               LEN(string_split(lower(text), ' ')) AS n_words,
               LEN(list_distinct(string_split(lower(text), ' '))) AS n_distinct,
               LEN(text) AS n_chars_raw
        FROM documents
    ), verdicts AS (
        SELECT source, n_words,
               CASE
                   WHEN lang IS NULL OR lang = '' THEN 'no_lang'
                   WHEN n_words < {_MIN_WORDS} THEN 'too_short'
                   WHEN 10 * n_distinct < 7 * n_words THEN 'repetitive'
                   WHEN 3 * n_words > n_chars_raw - (n_words - 1) THEN 'words_too_short'
                   WHEN n_chars_raw - (n_words - 1) > 10 * n_words THEN 'words_too_long'
                   ELSE 'kept'
               END AS verdict
        FROM scored
    ), per_source AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS source_docs FROM verdicts
        GROUP BY source
    )
    SELECT v.source, v.verdict,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(v.n_words) AS BIGINT) AS n_tokens,
           {_rnd_sql('CAST(COUNT(*) AS DOUBLE) / p.source_docs', 6)} AS frac_of_source
    FROM verdicts v JOIN per_source p ON v.source = p.source
    GROUP BY v.source, v.verdict, p.source_docs
    ORDER BY v.source, v.verdict
    """,
    doc="the rejection LEDGER behind q88's keep rate: every document gets "
    "ONE verdict from the ordered rule cascade — no_lang -> too_short "
    f"(< {_MIN_WORDS} words) -> repetitive (distinct/words < 0.7) -> "
    "words_too_short (mean word length < 3) -> words_too_long (> 10) "
    "-> kept — and the table reports per (source, verdict) doc and "
    "token counts plus the fraction of the source (published curation "
    "pipelines ship exactly this: threshold changes are tuned against "
    "the RULE-level loss, and a source whose rejections concentrate in "
    "one rule is a parser/extraction bug, not bad data). First-fail "
    "attribution makes the rows sum exactly to the corpus (each doc "
    "counted once), and the 'kept' rows tie out to q88's n_kept by "
    "construction — the same integer-domain thresholds, so the two "
    "tables can never disagree (pinned by test). Plan/scale: one "
    "documents scan, codegen array arithmetic, a CASE, one partial-agg "
    "shuffle keyed (source, verdict) + a broadcast-sized per-source "
    "divisor join — |sources| x |verdicts| rows out, linear at any "
    "corpus size.",
)
def q256_filter_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    words = F.split(F.lower(F.col("text")), " ")
    scored = T(spark, sf_dir, "documents").select(
        "source",
        "lang",
        F.size(words).alias("n_words"),
        F.size(F.array_distinct(words)).alias("n_distinct"),
        F.length("text").alias("n_chars_raw"),
    )
    net_chars = F.col("n_chars_raw") - (F.col("n_words") - 1)
    verdict = (
        F.when(
            F.col("lang").isNull() | (F.col("lang") == ""), F.lit("no_lang")
        )
        .when(F.col("n_words") < _MIN_WORDS, F.lit("too_short"))
        .when(10 * F.col("n_distinct") < 7 * F.col("n_words"), F.lit("repetitive"))
        .when(3 * F.col("n_words") > net_chars, F.lit("words_too_short"))
        .when(net_chars > 10 * F.col("n_words"), F.lit("words_too_long"))
        .otherwise(F.lit("kept"))
    )
    verdicts = scored.select("source", "n_words", verdict.alias("verdict"))
    per_source = verdicts.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("source_docs")
    )
    return (
        verdicts.groupBy("source", "verdict")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("n_tokens"),
        )
        .join(F.broadcast(per_source), "source")
        .select(
            "source",
            "verdict",
            "n_docs",
            "n_tokens",
            rnd(
                F.col("n_docs").cast("double") / F.col("source_docs"), 6
            ).alias("frac_of_source"),
        )
        .orderBy("source", "verdict")
    )


# ---------------------------------------------------------------------------
# q257 — BPE merge mining: the tokenizer-training loop itself
# ---------------------------------------------------------------------------

_BPE_ROUNDS = 8            # merge rules mined (the vocab-growth loop)
_BPE_WORD_RE = "^[a-z]+$"  # vocabulary gate: lowercase alpha words only


def _bpe_pairs_sql(src: str) -> str:
    """(pair, weight) DuckDB rows from a (seq, freq) relation: adjacent
    wrapped-symbol pairs weighted by word frequency."""
    return (
        "SELECT pair, CAST(SUM(freq) AS BIGINT) AS weight FROM ("
        "SELECT unnest(list_transform("
        "generate_series(1, len(string_split(seq, ' ')) - 1), "
        "i -> string_split(seq, ' ')[i] || ' ' || string_split(seq, ' ')[i+1]"
        f")) AS pair, freq FROM {src}) GROUP BY pair"
    )


def _bpe_chain_ctes(rounds: int, thru_vocab: bool) -> list[str]:
    """The mining loop replayed as a generated CTE chain (the q106
    discipline): weights are exact BIGINT word-frequency sums, the
    argmax tie-breaks on the pair string, and merge application is
    plain left-to-right non-overlapping replace() — semantics both
    engines share (prototype-verified on the 'a b a b' / 'a a a'
    overlap cases), so all rounds replay bitwise.
    AS MATERIALIZED on every CTE: DuckDB inlines plain CTEs, and a
    chain of rounds whose argmax scalar subqueries each re-expand the
    whole prior chain goes exponential — materialization makes each
    round evaluate exactly once (measured: unbounded -> ~0.2 s).
    ``thru_vocab`` additionally emits the post-final-merge vocabulary
    v{rounds} (q261 reads per-round vocab states; q257 only merges)."""
    ctes = [
        "v0 AS MATERIALIZED (SELECT rtrim(regexp_replace(word, '(.)', '_\\1_ ', 'g')) AS seq, "
        "CAST(COUNT(*) AS BIGINT) AS freq FROM ("
        "SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents"
        f") WHERE regexp_matches(word, '{_BPE_WORD_RE}') GROUP BY 1)"
    ]
    for t in range(1, rounds + 1):
        ctes.append(f"p{t} AS MATERIALIZED ({_bpe_pairs_sql(f'v{t - 1}')})")
        ctes.append(
            f"m{t} AS MATERIALIZED (SELECT {t} AS merge_round, pair, weight FROM p{t} "
            "ORDER BY weight DESC, pair LIMIT 1)"
        )
        if t < rounds or thru_vocab:
            ctes.append(
                f"v{t} AS MATERIALIZED (SELECT replace(seq, (SELECT pair FROM m{t}), "
                f"(SELECT replace(pair, '_ _', '') FROM m{t})) AS seq, freq "
                f"FROM v{t - 1})"
            )
    return ctes


def _q257_oracle() -> str:
    ctes = _bpe_chain_ctes(_BPE_ROUNDS, thru_vocab=False)
    union = " UNION ALL ".join(f"SELECT * FROM m{t}" for t in range(1, _BPE_ROUNDS + 1))
    return (
        "WITH " + ",\n    ".join(ctes) + f", merges AS ({union})\n"
        "SELECT merge_round,\n"
        "       replace(split_part(pair, ' ', 1), '_', '') AS sym_a,\n"
        "       replace(split_part(pair, ' ', 2), '_', '') AS sym_b,\n"
        "       replace(replace(pair, '_', ''), ' ', '') AS merged,\n"
        "       weight\n"
        "FROM merges ORDER BY merge_round"
    )


def _bpe_vocab0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(seq, freq) wrapped-symbol vocabulary — the ONE corpus-scale
    shuffle; everything downstream is vocabulary-bounded."""
    return (
        T(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.lower("text"), " ")).alias("word"))
        .filter(F.col("word").rlike(_BPE_WORD_RE))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .select(
            F.rtrim(F.regexp_replace("word", "(.)", "_$1_ ")).alias("seq"),
            "freq",
        )
        .localCheckpoint()
    )


def _bpe_best(vocab: DataFrame, t: int) -> DataFrame:
    """Round ``t``'s argmax pair: a checkpointed 1-row frame via
    TakeOrderedAndProject (weight DESC, pair ASC tie-break)."""
    arr = F.split("seq", " ")
    pairs = F.when(
        F.size(arr) >= 2,
        F.zip_with(
            F.slice(arr, 1, F.size(arr) - 1),
            F.slice(arr, 2, F.size(arr) - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        vocab.select(F.explode(pairs).alias("pair"), "freq")
        .groupBy("pair")
        .agg(F.sum("freq").alias("weight"))
        .orderBy(F.desc("weight"), F.asc("pair"))
        .limit(1)
        .select(F.lit(t).alias("merge_round"), "pair", "weight")
        .localCheckpoint()
    )


def _bpe_apply(vocab: DataFrame, best: DataFrame) -> DataFrame:
    """Apply the mined rule via a BROADCAST 1-row crossJoin + replace()
    (no driver round-trip), checkpointed so plan depth stays constant."""
    return (
        vocab.crossJoin(F.broadcast(best.select("pair")))
        .select(
            F.replace(
                F.col("seq"),
                F.col("pair"),
                F.replace(F.col("pair"), F.lit("_ _"), F.lit("")),
            ).alias("seq"),
            "freq",
        )
        .localCheckpoint()
    )


@register(
    "q257_bpe_merge_mining",
    _q257_oracle(),
    doc=f"BPE tokenizer training — the actual merge-mining loop, not a "
    f"pre-trained vocabulary: {_BPE_ROUNDS} rounds of count-adjacent-"
    "symbol-pairs -> merge the argmax, exactly Sennrich et al.'s "
    "word-frequency formulation. The ONLY corpus-scale work is the "
    "initial word-count shuffle; every subsequent round operates on the "
    "distinct-word VOCABULARY weighted by frequency, which Heaps' law "
    "keeps sublinear in corpus size — the property that makes BPE "
    "trainable on a 100-TB corpus at all. Per round: one vocabulary-"
    "sized pair explode + partial-agg shuffle, a TakeOrderedAndProject "
    "argmax (weight DESC, pair ASC tie-break — never a global window), "
    "and the merge applied via a BROADCAST 1-row crossJoin + replace() "
    "(no driver round-trip for the rule itself); the vocabulary is "
    "localCheckpoint'd every round so plan depth stays constant (the "
    "q106 discipline). Symbols travel wrapped ('_k_ _e_ _y_') so "
    "replace() can never match mid-symbol, and left-to-right non-"
    "overlapping replace is the shared greedy-apply convention both "
    "engines implement identically (the '_a_ _a_ _a_' case merges once "
    "— prototype-verified). Weights are exact BIGINT frequency sums, so "
    "the whole loop replays bitwise in the oracle's generated CTE chain.",
)
def q257_bpe_merge_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    vocab = _bpe_vocab0(spark, sf_dir)
    merges = None
    for t in range(1, _BPE_ROUNDS + 1):
        best = _bpe_best(vocab, t)
        merges = best if merges is None else merges.unionByName(best)
        if t < _BPE_ROUNDS:
            vocab = _bpe_apply(vocab, best)
    return merges.select(
        "merge_round",
        F.replace(F.substring_index("pair", " ", 1), F.lit("_"), F.lit("")).alias("sym_a"),
        F.replace(F.substring_index("pair", " ", -1), F.lit("_"), F.lit("")).alias("sym_b"),
        F.replace(F.replace("pair", F.lit("_"), F.lit("")), F.lit(" "), F.lit("")).alias("merged"),
        "weight",
    ).orderBy("merge_round")


# ---------------------------------------------------------------------------
# q261 — BPE compression curve: what the mined merges actually buy
# ---------------------------------------------------------------------------


def _q261_oracle() -> str:
    ctes = _bpe_chain_ctes(_BPE_ROUNDS, thru_vocab=True)
    for k in range(_BPE_ROUNDS + 1):
        ctes.append(
            f"s{k} AS MATERIALIZED (SELECT "
            "CAST(SUM(freq * len(string_split(seq, ' '))) AS BIGINT) AS corpus_syms, "
            f"CAST(SUM(freq) AS BIGINT) AS corpus_words FROM v{k})"
        )
    arms = [
        "SELECT 0 AS merge_round, corpus_syms, "
        "CAST(0 AS BIGINT) AS merged_occurrences, "
        "CAST(0 AS BIGINT) AS pair_weight, "
        "CAST(0 AS BIGINT) AS overlap_deficit, "
        f"{_rnd_sql('CAST(corpus_syms AS DOUBLE) / corpus_words', 6)} AS fertility "
        "FROM s0"
    ]
    for k in range(1, _BPE_ROUNDS + 1):
        arms.append(
            f"SELECT {k} AS merge_round, s.corpus_syms, "
            "p.prev_syms - s.corpus_syms AS merged_occurrences, "
            "m.weight AS pair_weight, "
            "m.weight - (p.prev_syms - s.corpus_syms) AS overlap_deficit, "
            f"{_rnd_sql('CAST(s.corpus_syms AS DOUBLE) / s.corpus_words', 6)} AS fertility "
            f"FROM s{k} s CROSS JOIN "
            f"(SELECT corpus_syms AS prev_syms FROM s{k - 1}) p CROSS JOIN "
            f"(SELECT weight FROM m{k}) m"
        )
    return (
        "WITH " + ",\n    ".join(ctes) + "\n"
        + " UNION ALL ".join(arms).join(["SELECT * FROM (", ") ORDER BY merge_round"])
    )


@register(
    "q261_bpe_compression_curve",
    _q261_oracle(),
    doc=f"the BPE compression curve: q257's loop re-run with the corpus "
    "re-ENCODED after every merge, reporting total symbol count and "
    "fertility (symbols per word — round 0 is the char-level baseline) "
    "as each rule lands. The instrument column is overlap_deficit = "
    "pair_weight - merged_occurrences: the argmax counts ADJACENT PAIRS "
    "but greedy left-to-right application merges only non-overlapping "
    "occurrences, so the deficit is exactly the overlap mass in same-"
    "symbol runs ('_a_ _a_ _a_' counts 2 pairs, merges once) — >= 0 "
    "always, > 0 only on self-pair rules. Computing merged_occurrences "
    "by ACTUAL re-encoding on the Spark side while the oracle derives "
    "it from its own replayed chain makes the greedy-apply convention "
    "itself differentially tested — any engine divergence in replace() "
    "semantics flips the hash. Same plan shape as q257 (vocabulary-"
    "bounded rounds, broadcast 1-row applies, constant lineage); the "
    "per-round stats are 1-row aggregates off the checkpointed vocab.",
)
def q261_bpe_compression_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_syms = F.size(F.split("seq", " "))

    def stats(vocab: DataFrame) -> DataFrame:
        return vocab.agg(
            F.sum(F.col("freq") * n_syms).cast("long").alias("corpus_syms"),
            F.sum("freq").cast("long").alias("corpus_words"),
        )

    def arm(k: int, s: DataFrame, prev: DataFrame | None, best: DataFrame | None) -> DataFrame:
        if prev is None:
            base = s.select(
                F.lit(0).alias("merge_round"),
                "corpus_syms",
                F.lit(0).cast("long").alias("merged_occurrences"),
                F.lit(0).cast("long").alias("pair_weight"),
                F.lit(0).cast("long").alias("overlap_deficit"),
                rnd(F.col("corpus_syms").cast("double") / F.col("corpus_words"), 6).alias("fertility"),
            )
            return base
        merged = F.col("prev_syms") - F.col("corpus_syms")
        return (
            s.crossJoin(F.broadcast(prev.select(F.col("corpus_syms").alias("prev_syms"))))
            .crossJoin(F.broadcast(best.select(F.col("weight").alias("pair_weight"))))
            .select(
                F.lit(k).alias("merge_round"),
                "corpus_syms",
                merged.alias("merged_occurrences"),
                "pair_weight",
                (F.col("pair_weight") - merged).alias("overlap_deficit"),
                rnd(F.col("corpus_syms").cast("double") / F.col("corpus_words"), 6).alias("fertility"),
            )
        )

    vocab = _bpe_vocab0(spark, sf_dir)
    prev_stats = stats(vocab)
    out = arm(0, prev_stats, None, None)
    for t in range(1, _BPE_ROUNDS + 1):
        best = _bpe_best(vocab, t)
        vocab = _bpe_apply(vocab, best)
        cur = stats(vocab)
        out = out.unionByName(arm(t, cur, prev_stats, best))
        prev_stats = cur
    return out.orderBy("merge_round")
