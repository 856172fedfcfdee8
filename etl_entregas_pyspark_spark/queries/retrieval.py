"""Hybrid-retrieval operators: fusion of the lexical (BM25) and semantic
(embedding-cosine) ranking arms built elsewhere in the corpus.

Lives in its own module imported AFTER text.py and similarity.py: the
fusion oracle embeds q128's oracle SQL verbatim (one definition of BM25
across the registry), which requires q128 to be registered already.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_entregas_pyspark_spark import stores
from etl_entregas_pyspark_spark.queries.registry import register
from etl_entregas_pyspark_spark.queries.relational import T
from etl_entregas_pyspark_spark.queries.similarity import _cosine_sql, cosine, query_rank, topk


# ---------------------------------------------------------------------------
# q148 — reciprocal-rank fusion of lexical (BM25) and semantic (cosine)
# retrieval — the hybrid-search merge every modern RAG stack runs
# ---------------------------------------------------------------------------

_RRF_K = 60
_RRF_PER_LIST = 30
_RRF_TOPK = 15


def _q148_oracle() -> str:
    from etl_entregas_pyspark_spark.queries.registry import REGISTRY
    from etl_entregas_pyspark_spark.queries.relational import _rnd_sql

    bm25 = REGISTRY["q128_bm25_scoring"].oracle
    rrf = (
        f"COALESCE(1.0 / ({_RRF_K} + l.r_lex), 0.0)"
        f" + COALESCE(1.0 / ({_RRF_K} + s.r_sem), 0.0)"
    )
    return f"""
    WITH lex AS (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS r_lex
        FROM ({bm25})
        LIMIT {_RRF_PER_LIST}
    ), qv AS (
        SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0
    ), sem0 AS (
        SELECT e.vec_id AS doc_id,
               {_cosine_sql("e.embedding", "q.q_emb")} AS cosine
        FROM embeddings e CROSS JOIN qv q WHERE e.vec_id <> 0
    ), sem30 AS (
        SELECT doc_id, cosine FROM sem0 ORDER BY cosine DESC, doc_id LIMIT {_RRF_PER_LIST}
    ), sem AS (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id) AS r_sem
        FROM sem30
    )
    SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
           l.r_lex, s.r_sem,
           {_rnd_sql(rrf, 6)} AS rrf
    FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
    ORDER BY rrf DESC, doc_id LIMIT {_RRF_TOPK}
    """


@register(
    "q148_rrf_fusion",
    _q148_oracle(),
    doc=f"hybrid-retrieval reciprocal-rank fusion: the BM25 top-"
    f"{_RRF_PER_LIST} (q128's exact machinery, reused verbatim — its "
    f"oracle SQL is embedded as a CTE) merges with the cosine top-"
    f"{_RRF_PER_LIST} against a query embedding (vec 0) via "
    f"RRF(d) = sum 1/({_RRF_K}+rank), the standard k={_RRF_K} Cormack "
    "fusion every RAG stack ships. Determinism: both ranks carry doc_id "
    "tie-breaks, RRF is a fixed-order two-term sum of exact divisions, "
    "half-up 6dp. Plan shape: each arm ends in TakeOrderedAndProject "
    "(distributed top-k, never a global sort of the corpus); the "
    "row_number windows then rank MODEL-STATE-sized 30-row frames "
    "(whitelisted in the plan lint), and the fusion is a full-outer "
    "join of two 30-row frames. The 100-TB cost is the two arms' own "
    "scans — fusion itself is constant work.",
)
def q148_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from etl_entregas_pyspark_spark.queries.text import q128_bm25_scoring

    lex30 = q128_bm25_scoring(spark, sf_dir).select("doc_id", "bm25").limit(
        _RRF_PER_LIST
    )
    w_lex = Window.orderBy(F.col("bm25").desc(), "doc_id")
    lex = lex30.select("doc_id", F.row_number().over(w_lex).alias("r_lex"))

    e = T(spark, sf_dir, "embeddings")
    qv = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_emb"))
    c = e.filter(F.col("vec_id") != 0).select(
        F.col("vec_id").alias("doc_id"), F.col("embedding").alias("c_emb")
    )
    sem30 = (
        c.crossJoin(F.broadcast(qv))
        .select("doc_id", cosine("c_emb", "q_emb").alias("cosine"))
        .orderBy(F.col("cosine").desc(), "doc_id")
        .limit(_RRF_PER_LIST)
    )
    w_sem = Window.orderBy(F.col("cosine").desc(), "doc_id")
    sem = sem30.select("doc_id", F.row_number().over(w_sem).alias("r_sem"))

    fused = lex.join(sem, "doc_id", "full_outer")
    rrf = F.coalesce(1.0 / (_RRF_K + F.col("r_lex")), F.lit(0.0)) + F.coalesce(
        1.0 / (_RRF_K + F.col("r_sem")), F.lit(0.0)
    )
    from etl_entregas_pyspark_spark.queries.relational import rnd

    return (
        fused.select("doc_id", "r_lex", "r_sem", rnd(rrf, 6).alias("rrf"))
        .orderBy(F.col("rrf").desc(), "doc_id")
        .limit(_RRF_TOPK)
    )


# ---------------------------------------------------------------------------
# q262 — MMR diversified re-rank: relevance top-N, then greedy
# maximal-marginal-relevance selection (dedup-aware retrieval)
# ---------------------------------------------------------------------------

_MMR_QUERIES = 4   # vec_id < 4 play the query set
_MMR_POOL = 12     # relevance pool per query (stage 1)
_MMR_K = 5         # diversified picks (stage 2)
_MMR_LAM = 0.7     # relevance weight; 1-lam penalizes similarity to picks


def _mmr_chain_ctes() -> list[str]:
    """The greedy-selection CTE chain, pool-agnostic: assumes an existing
    MATERIALIZED ``pool`` CTE with (query_id, neighbor_id, rel, c_emb).
    Reused verbatim by q262 (brute pool) and q264 (persisted-IVF pool),
    so there is ONE definition of the MMR trajectory in the registry."""
    cos_ps = _cosine_sql("p.c_emb", "s.c_emb")
    lam, mu = _MMR_LAM, round(1 - _MMR_LAM, 10)
    ctes = [
        f"""acc1 AS MATERIALIZED (
        SELECT query_id, 1 AS sel_rank, neighbor_id, rel,
               CAST(0.0 AS DOUBLE) AS maxsim, {lam} * rel - {mu} * 0.0 AS mmr, c_emb
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                         ORDER BY rel DESC, neighbor_id) AS rn FROM pool)
        WHERE rn = 1)""",
    ]
    for r in range(2, _MMR_K + 1):
        ctes.append(
            f"""sims{r} AS MATERIALIZED (
        SELECT p.query_id, p.neighbor_id, MAX({cos_ps}) AS maxsim
        FROM pool p JOIN acc{r - 1} s USING (query_id)
        WHERE NOT EXISTS (SELECT 1 FROM acc{r - 1} s2
                          WHERE s2.query_id = p.query_id
                            AND s2.neighbor_id = p.neighbor_id)
        GROUP BY p.query_id, p.neighbor_id)"""
        )
        ctes.append(
            f"""acc{r} AS MATERIALIZED (
        SELECT * FROM acc{r - 1} UNION ALL
        SELECT query_id, {r} AS sel_rank, neighbor_id, rel, maxsim, mmr, c_emb FROM (
            SELECT p.query_id, p.neighbor_id, p.rel, x.maxsim,
                   {lam} * p.rel - {mu} * x.maxsim AS mmr, p.c_emb,
                   ROW_NUMBER() OVER (PARTITION BY p.query_id
                       ORDER BY {lam} * p.rel - {mu} * x.maxsim DESC,
                                p.neighbor_id) AS rn
            FROM sims{r} x JOIN pool p USING (query_id, neighbor_id))
        WHERE rn = 1)"""
        )
    return ctes


_MMR_FINAL_SQL = f"""
    SELECT query_id, sel_rank, neighbor_id, rel AS relevance, maxsim,
           mmr AS mmr_score
    FROM acc{_MMR_K} ORDER BY query_id, sel_rank"""


def _q262_oracle() -> str:
    cos_qc = _cosine_sql("q.embedding", "c.embedding")
    ctes = [
        f"""pairs AS MATERIALIZED (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {cos_qc} AS rel, c.embedding AS c_emb
        FROM embeddings q JOIN embeddings c ON c.vec_id >= 8
        WHERE q.vec_id < {_MMR_QUERIES})""",
        f"""pool AS MATERIALIZED (
        SELECT query_id, neighbor_id, rel, c_emb FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY rel DESC, neighbor_id) AS rn FROM pairs)
        WHERE rn <= {_MMR_POOL})""",
    ] + _mmr_chain_ctes()
    return "WITH " + ",\n    ".join(ctes) + _MMR_FINAL_SQL


def mmr_greedy(pool: DataFrame) -> DataFrame:
    """The greedy MMR trajectory over a (query_id, neighbor_id, rel,
    c_emb) relevance pool — the ONE Spark definition both q262 (brute
    pool) and q264 (persisted-IVF pool) run. Pool-sized state per round:
    broadcast join against the picked set, (query, candidate) max-sim
    partial agg, query-partitioned argmax, localCheckpoint'd."""
    lam, mu = _MMR_LAM, round(1 - _MMR_LAM, 10)
    selected = stores.materialize(
        pool.select("*", query_rank(F.desc("rel"), F.asc("neighbor_id")).alias("rn"))
        .filter(F.col("rn") == 1)
        .select(
            "query_id",
            F.lit(1).alias("sel_rank"),
            "neighbor_id",
            "rel",
            F.lit(0.0).alias("maxsim"),
            (F.lit(lam) * F.col("rel") - F.lit(mu) * F.lit(0.0)).alias("mmr"),
            "c_emb",
        ),
        "mmr_greedy: first pick",
    )
    sim = cosine("c_emb", "s_emb")
    for r in range(2, _MMR_K + 1):
        cand = pool.join(
            selected.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
            "left_anti",
        )
        maxsim = (
            cand.join(
                F.broadcast(
                    selected.select("query_id", F.col("c_emb").alias("s_emb"))
                ),
                "query_id",
            )
            .select("query_id", "neighbor_id", sim.alias("sim"))
            .groupBy("query_id", "neighbor_id")
            .agg(F.max("sim").alias("maxsim"))
        )
        mmr = F.lit(lam) * F.col("rel") - F.lit(mu) * F.col("maxsim")
        pick = (
            maxsim.join(pool, ["query_id", "neighbor_id"])
            .select("query_id", "neighbor_id", "rel", "maxsim", mmr.alias("mmr"), "c_emb")
            .select("*", query_rank(F.desc("mmr"), F.asc("neighbor_id")).alias("rn"))
            .filter(F.col("rn") == 1)
            .select(
                "query_id",
                F.lit(r).alias("sel_rank"),
                "neighbor_id",
                "rel",
                "maxsim",
                "mmr",
                "c_emb",
            )
        )
        selected = stores.materialize(selected.unionByName(pick), "mmr_greedy: selected per round")
    return selected.select(
        "query_id",
        "sel_rank",
        "neighbor_id",
        F.col("rel").alias("relevance"),
        "maxsim",
        F.col("mmr").alias("mmr_score"),
    ).orderBy("query_id", "sel_rank")


@register(
    "q262_mmr_rerank",
    _q262_oracle(),
    doc=f"maximal-marginal-relevance re-rank — the dedup-aware retrieval "
    f"pass RAG stacks run after top-N: a relevance pool of {_MMR_POOL} "
    f"per query (brute cosine, the q51 arm), then {_MMR_K} greedy picks "
    f"maximizing lam*rel - (1-lam)*max-sim-to-picked (lam={_MMR_LAM}), "
    "so near-duplicate passages can't crowd the context window. The "
    "pool stage is the only corpus-scale work (candidates STREAM "
    "against a broadcast query set, TakeOrdered semantics via a "
    "query-partitioned window); the greedy rounds then operate on "
    f"pool-sized state ({_MMR_POOL} x queries rows) — per round one "
    "broadcast join against the picked set, a (query, candidate) max-"
    "sim partial agg, and a query-partitioned argmax, each "
    "localCheckpoint'd so lineage stays constant (the q106 "
    "discipline). Exact doubles end-to-end with neighbor_id "
    "tie-breaks (the q51 convention) — the full greedy trajectory "
    "replays bitwise in the oracle's MATERIALIZED CTE chain; maxsim is "
    "defined 0.0 for the first pick so one formula covers all rounds.",
)
def q262_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < _MMR_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    c = e.filter(F.col("vec_id") >= 8).select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb")
    )
    pool = topk(
        c.crossJoin(F.broadcast(q)).select(
            "query_id", "neighbor_id", cosine("q_emb", "c_emb").alias("rel"), "c_emb"
        ),
        _MMR_POOL,
        F.desc("rel"),
        F.asc("neighbor_id"),
        rank="rn",
    )
    return mmr_greedy(stores.materialize(pool.drop("rn"), "q262: MMR candidate pool"))
