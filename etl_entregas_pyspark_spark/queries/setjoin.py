"""q152 — EXACT set-similarity join with prefix filtering (AllPairs /
PPJoin family, Xiao et al., WWW'08 — public material).

q45/q53 generate near-dup candidates with MinHash-LSH: fast, but
probabilistic — a true pair that collides in no band is silently lost.
q152 runs over the same 3-word-shingle universe as q53 (single words are
useless here: the corpus vocabulary is 31 tokens, so word-level Jaccard
marks ~72% of all pairs similar — prefix filtering needs a
discriminative element universe to prune anything).
Corpus-governance jobs that must certify "no duplicate above τ survives"
(e.g. benchmark decontamination audits) need the EXACT join. The naive
exact join is the O(n²) all-pairs comparison; prefix filtering gives the
scalable decomposition:

1. order each doc's token set by ascending global document frequency
   (rarest first — the canonical AllPairs ordering, maximizing pruning);
2. Jaccard ≥ τ forces overlap ≥ ⌈τ·|x|⌉ (since |y| ≥ τ·|x|), so two
   qualifying sets MUST share a token inside their first
   |x| − ⌈τ·|x|⌉ + 1 tokens — everything past the prefix can be ignored
   for candidate generation;
3. candidates = docs sharing any prefix token (an equi-join on the token,
   O(collisions) — and prefix tokens are by construction the RAREST, so
   buckets stay small);
4. exact Jaccard verification on the full token sets.

The DuckDB oracle is the brute-force all-pairs join, so a driver-green
row certifies exact recall, not approximate recall — the property LSH
cannot offer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_entregas_pyspark_spark import stores
from etl_entregas_pyspark_spark.queries.registry import register
from etl_entregas_pyspark_spark.queries.relational import T, _rnd_sql, rnd, spread_if_narrow
from etl_entregas_pyspark_spark.queries.similarity import _sh_sql, word_shingles

_TAU = 0.5
_SUBSET_MOD = 3  # doc_id % 3 == 0 — bounds the oracle's all-pairs check


def _q152_oracle() -> str:
    jac = (
        "CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / "
        "(len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))"
    )
    return f"""
    WITH docs AS (
        SELECT doc_id, {_sh_sql()} AS toks
        FROM documents WHERE doc_id % {_SUBSET_MOD} = 0
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           {_rnd_sql(jac, 4)} AS jaccard
    FROM docs a JOIN docs b ON a.doc_id < b.doc_id
    WHERE len(a.toks) > 0 AND len(b.toks) > 0 AND {jac} >= {_TAU}
    """


@register(
    "q152_setjoin_prefix_filter",
    _q152_oracle(),
    doc="EXACT set-similarity join — the certified twin of q53's "
    "MinHash-LSH: same 3-word-shingle universe and Jaccard >= 0.5 "
    "threshold, but with guaranteed exact recall (LSH loses any true "
    "pair that collides in no band; here the oracle is the brute-force "
    "all-pairs join, so a green row is a completeness certificate — "
    "what a decontamination audit must have). Composition: byte-"
    "identical texts collapse to one representative first (the q93 "
    "lesson — verify cost must track DISTINCT content); reps' shingles "
    "are ranked rarest-first by document frequency and each rep emits "
    "only its first |x| - ceil(tau*|x|) + 1 shingles as join keys (a "
    "qualifying pair must share one: J >= tau forces overlap >= "
    "ceil(tau*|x|)); candidates verify with exact Jaccard; rep results "
    "expand arithmetically (same-text cliques at J=1.0, cross pairs "
    "inherit their reps' J — shingle sets are equal by construction). "
    "Prefix filtering needs a DISCRIMINATIVE element universe: over "
    "raw words this corpus has a 31-token vocabulary and ~72% of ALL "
    "pairs qualify (measured — the output IS quadratic, no algorithm "
    "helps); over 3-shingles the universe is combinatorial, prefixes "
    "are rare, and candidates track true near-dups. The ranked shingle "
    "table is checkpointed once and reused by prefix emission, the "
    "frequency join, and the verify payload.",
)
def q152_setjoin_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the testdata parquet is a single input split (SCALE.md, text
    # analysis note): spread the CPU-heavy md5/tokenize stages first
    docs = (
        spread_if_narrow(
            T(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % _SUBSET_MOD == 0),
            "doc_id",
        )
    )
    return setjoin_pairs(docs, _TAU)


def setjoin_pairs(docs: DataFrame, tau: float = _TAU) -> DataFrame:
    """The q152 pipeline over an arbitrary (doc_id, text) frame: exact
    collapse → rarest-first prefix emission → equi-join candidates →
    exact Jaccard verify → clique/cross expansion. Factored out so the
    hypothesis property test (tests/test_round6_properties.py) drives the
    REAL Spark implementation against a brute-force model, not a Python
    re-derivation of the math."""
    # exact collapse on the raw text (NOT lowered: tokens are case-
    # sensitive, so only byte-identical texts may share a representative)
    fpdf = docs.select("doc_id", F.md5(F.col("text")).alias("fp"))
    grp = stores.materialize(
        fpdf.groupBy("fp").agg(F.min("doc_id").alias("rep_id")),
        "setjoin_pairs: fingerprint groups",
    )
    doc2rep = fpdf.join(grp, "fp").select("doc_id", "rep_id")
    reps = docs.join(
        grp.select(F.col("rep_id").alias("doc_id")), "doc_id"
    )

    toks = reps.select(
        "doc_id", F.explode(word_shingles(F.col("text"))).alias("tok")
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    ranked = toks.join(freq, "tok")
    w_pos = Window.partitionBy("doc_id").orderBy(F.col("df"), F.col("tok"))
    w_sz = Window.partitionBy("doc_id")
    # materialize the ranked token table ONCE: prefix emission, the
    # verify payload, and the frequency join all reuse it — without this
    # the collapse + tokenize lineage re-executes per consumer (the
    # in-session analog of the persisted token table a corpus snapshot
    # would keep; same pattern as lsh_candidates' per_doc checkpoint)
    ordered = ranked.select(
        "doc_id",
        "tok",
        F.row_number().over(w_pos).alias("pos"),
        F.count(F.lit(1)).over(w_sz).alias("sz"),
    )
    ordered = stores.materialize(ordered, "setjoin_pairs: ordered tokens")
    prefix = ordered.filter(
        F.col("pos") <= F.col("sz") - F.ceil(F.lit(tau) * F.col("sz")) + 1
    )
    buckets = (
        prefix.groupBy("tok")
        .agg(F.collect_list("doc_id").alias("docs"))
        .filter(F.size("docs") > 1)
    )
    docs_col = F.col("docs")
    pair_grid = F.flatten(
        F.transform(
            docs_col,
            lambda x: F.transform(
                docs_col, lambda y: F.struct(x.alias("a"), y.alias("b"))
            ),
        )
    )
    cand = (
        buckets.select(F.explode(pair_grid).alias("p"))
        .filter(F.col("p.a") < F.col("p.b"))
        .select(F.col("p.a").alias("rep_a"), F.col("p.b").alias("rep_b"))
        .dropDuplicates(["rep_a", "rep_b"])
    )
    per_doc = ordered.groupBy("doc_id").agg(F.collect_list("tok").alias("toks"))
    a = per_doc.select(F.col("doc_id").alias("rep_a"), F.col("toks").alias("tok_a"))
    b = per_doc.select(F.col("doc_id").alias("rep_b"), F.col("toks").alias("tok_b"))
    verified = cand.join(a, "rep_a").join(b, "rep_b")
    inter = F.size(F.array_intersect(F.col("tok_a"), F.col("tok_b"))).cast("double")
    union = (
        F.size("tok_a")
        + F.size("tok_b")
        - F.size(F.array_intersect(F.col("tok_a"), F.col("tok_b")))
    )
    jac = inter / union
    rep_pairs = verified.filter(jac >= tau).select(
        "rep_a", "rep_b", rnd(jac, 4).alias("jaccard")
    )

    # expansion only over groups whose rep HAS shingles (a <3-word text
    # has an empty shingle set; the brute-force oracle excludes those
    # pairs, so the J=1.0 clique expansion must too)
    doc2rep = doc2rep.join(
        per_doc.select(F.col("doc_id").alias("rep_id")), "rep_id"
    )
    # expansion 1: same-text cliques — every pair inside a collapse group
    # is Jaccard 1.0 exactly
    ma = doc2rep.select(F.col("rep_id").alias("r"), F.col("doc_id").alias("doc_a"))
    mb = doc2rep.select(F.col("rep_id").alias("r"), F.col("doc_id").alias("doc_b"))
    ident = (
        ma.join(mb, "r")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", F.lit(1.0).alias("jaccard"))
    )
    # expansion 2: cross-group pairs inherit the rep pair's exact Jaccard
    ea = doc2rep.select(F.col("rep_id").alias("rep_a"), F.col("doc_id").alias("da"))
    eb = doc2rep.select(F.col("rep_id").alias("rep_b"), F.col("doc_id").alias("db"))
    cross = (
        rep_pairs.join(ea, "rep_a")
        .join(eb, "rep_b")
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            "jaccard",
        )
    )
    return ident.unionByName(cross)


# ---------------------------------------------------------------------------
# q158 — containment join (asymmetric set inclusion: quote / subset detect)
# ---------------------------------------------------------------------------

_C_TAU = 0.8


def _q158_oracle() -> str:
    cont = (
        "CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / len(a.toks)"
    )
    return f"""
    WITH docs AS (
        SELECT doc_id, {_sh_sql()} AS toks
        FROM documents
    )
    SELECT a.doc_id AS src_doc, b.doc_id AS dst_doc,
           {_rnd_sql(cont, 4)} AS containment
    FROM docs a JOIN docs b ON a.doc_id <> b.doc_id
    WHERE len(a.toks) > 0 AND len(b.toks) > 0 AND {cont} >= {_C_TAU}
    """


@register(
    "q158_containment_join",
    _q158_oracle(),
    doc="asymmetric containment join: ordered pairs (src, dst) where >= "
    "80% of src's 3-word-shingle set appears in dst — the quote / "
    "subset / near-inclusion detector (a short doc embedded in a "
    "longer capture that Jaccard misses because the union is dominated "
    "by the longer side). Shingles, not raw words: the corpus "
    "vocabulary is 31 tokens, so word-level containment marks ~37% of "
    "all ordered pairs (measured) — the shingle universe makes "
    "inclusion mean actual shared phrasing. "
    "Prefix filter adapted to containment: the required overlap "
    "ceil(tau*|src|) depends on src only, so ONLY the probe side emits "
    "a prefix (its |src| - ceil(tau*|src|) + 1 rarest tokens) while the "
    "indexed side contributes all tokens — candidates are (src prefix "
    "token = dst token) matches, verified exactly. Oracle: brute-force "
    "ordered pairs, so green = exact recall. Plan: shares q152's "
    "frequency ranking; the dst side is the full inverted index (the "
    "q125 capability) and src-side emission is tiny, so candidate "
    "volume is bounded by prefix-token posting lengths — rarest-first "
    "ordering keeps those the SHORTEST lists in the index.",
)
def q158_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # measured growth exponent alpha = 0.79 over 1x/2x/4x replica layouts
    # (tools/growth_exponent.py, SCALE.md round-9 table) — the prefix
    # filter holds candidate growth linear-ish, nothing pairwise hides here
    toks = stores.materialize(
        # single-split testdata: spread tokenization (SCALE.md note);
        # split-aware — skipped on an already-wide scan (r15 VERDICT #1)
        spread_if_narrow(T(spark, sf_dir, "documents"), "doc_id")
        .select("doc_id", F.explode(word_shingles(F.col("text"))).alias("tok")),
        # FOUR consumers (freq, ranked, index side, verify payload):
        # materialize the tokenize stage once — q152's `ordered` rule.
        # Un-checkpointed this re-executed per consumer and the plan's
        # duplicated exchanges made the row bimodal (4.6 s vs 8–22 s
        # across r15 batteries/isolations; stable after)
        "q158: tokens for freq + ranked + index + verify",
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    ranked = toks.join(freq, "tok")
    w_pos = Window.partitionBy("doc_id").orderBy(F.col("df"), F.col("tok"))
    w_sz = Window.partitionBy("doc_id")
    ordered = ranked.select(
        "doc_id",
        "tok",
        F.row_number().over(w_pos).alias("pos"),
        F.count(F.lit(1)).over(w_sz).alias("sz"),
    )
    # probe side: src prefixes; index side: every token of every doc
    prefix = ordered.filter(
        F.col("pos") <= F.col("sz") - F.ceil(F.lit(_C_TAU) * F.col("sz")) + 1
    ).select(F.col("doc_id").alias("src_doc"), "tok")
    index = toks.select(F.col("doc_id").alias("dst_doc"), "tok")
    cand = (
        prefix.join(index, "tok")
        .filter(F.col("src_doc") != F.col("dst_doc"))
        .select("src_doc", "dst_doc")
        .dropDuplicates(["src_doc", "dst_doc"])
    )
    per_doc = toks.groupBy("doc_id").agg(F.collect_list("tok").alias("toks"))
    a = per_doc.select(F.col("doc_id").alias("src_doc"), F.col("toks").alias("tok_a"))
    b = per_doc.select(F.col("doc_id").alias("dst_doc"), F.col("toks").alias("tok_b"))
    pairs = cand.join(a, "src_doc").join(b, "dst_doc")
    cont = (
        F.size(F.array_intersect(F.col("tok_a"), F.col("tok_b"))).cast("double")
        / F.size("tok_a")
    )
    return pairs.filter(cont >= _C_TAU).select(
        "src_doc", "dst_doc", rnd(cont, 4).alias("containment")
    )
