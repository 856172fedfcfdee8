"""q150 — the production dedup chain reading BUCKETED input end-to-end.

SCALE.md's joins section argues that bucketing the corpus on ``doc_id`` at
ingest removes the big-side exchange from every doc-keyed join in the
dedup chain; ``io.writers.write_bucketed`` provides the layout but (until
this round) no registry query exercised the chain over it. q150 closes
that loop: it lays ``documents`` down as a doc_id-bucketed table, then
runs exact-collapse → rep-only MinHash-LSH → connected components →
quality-aware canonicalization (the q93 + q62 + q111 composition) with
the big corpus side of every doc_id join reading bucket-partitioned
splits — no Exchange above the corpus scan (asserted by
``tests/test_bucketed_join.py::test_bucketed_dedup_reps_join_saves_exchange``).

The reference has no dedup at all (its exact dedup is a single
``dropDuplicates``, reference ``src/etl_entregas.py:171-176``); this is
the north-star training-data shape: at 100 TB the corpus is stored
bucketed once, and every nightly dedup/canonicalize pass joins against it
shuffle-free on the bucket key.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_entregas_pyspark_spark import stores
from etl_entregas_pyspark_spark.io.writers import write_bucketed
from etl_entregas_pyspark_spark.queries.registry import register
from etl_entregas_pyspark_spark.queries.relational import T
from etl_entregas_pyspark_spark.queries.similarity import (
    _P,
    _q53_oracle,
    JACCARD_THRESHOLD,
    jaccard_verify,
    lsh_candidates,
    md5_int,
    word_shingles,
)

_N_BUCKETS = 16


def _bucket_table(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Per-session table name and a stable per-session data path.

    Both come from ``stores.path``: the table is named after its store
    directory, so concurrent sessions sharing a metastore don't clobber
    each other, and repeated invocations in one session reuse (and first
    clean) ONE directory instead of leaking a fresh ``mkdtemp`` per run —
    DROP TABLE on an external table leaves the files, so the caller must
    own the path lifecycle."""
    path = stores.path(spark, sf_dir, "q150_bucketed_docs")
    return os.path.basename(path), path


def _q150_oracle() -> str:
    inner = _q53_oracle(source="reps")
    return f"""
    WITH RECURSIVE grp AS (
        SELECT md5(lower(text)) AS fp, MIN(doc_id) AS rep_id
        FROM documents GROUP BY md5(lower(text))
    ), doc2rep AS (
        SELECT d.doc_id, g.rep_id, d.n_chars
        FROM documents d JOIN grp g ON md5(lower(d.text)) = g.fp
    ), reps AS (
        SELECT d.doc_id, d.text
        FROM documents d JOIN grp g ON d.doc_id = g.rep_id
    ), pairs AS (
        SELECT doc_a, doc_b FROM ({inner})
    ), edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL SELECT doc_b, doc_a FROM pairs
    ), nodes AS (
        SELECT DISTINCT a AS doc FROM edges
    ), reach AS (
        SELECT doc, doc AS comp FROM nodes
        UNION
        SELECT e.b AS doc, reach.comp FROM reach JOIN edges e ON reach.doc = e.a
    ), labels AS (
        SELECT doc, MIN(comp) AS component FROM reach GROUP BY doc
    ), clusters AS (
        SELECT dr.doc_id, COALESCE(l.component, dr.rep_id) AS cluster_id,
               dr.n_chars
        FROM doc2rep dr LEFT JOIN labels l ON dr.rep_id = l.doc
    ), canon AS (
        SELECT cluster_id, doc_id AS canonical_doc FROM (
            SELECT cluster_id, doc_id,
                   ROW_NUMBER() OVER (PARTITION BY cluster_id
                                      ORDER BY n_chars DESC, doc_id) AS rn
            FROM clusters
        ) WHERE rn = 1
    )
    SELECT c.doc_id AS drop_doc, k.canonical_doc,
           CAST(c.n_chars AS BIGINT) AS drop_chars
    FROM clusters c JOIN canon k ON c.cluster_id = k.cluster_id
    WHERE c.doc_id <> k.canonical_doc
    """


@register(
    "q150_bucketed_dedup_chain",
    _q150_oracle(),
    doc="the FULL production dedup decision table over a doc_id-bucketed "
    "corpus: exact md5 collapse to one representative per distinct "
    "content, MinHash-LSH near-dup pairs over representatives only "
    "(q93's collapse-first profile), connected components over the rep "
    "pair graph, then one cluster id per document (its rep's component, "
    "or the rep itself when untouched by LSH) and a quality-aware "
    "keeper per cluster (n_chars DESC, doc_id tie-break — q111's "
    "semantics lifted from near-dup members to WHOLE clusters, so "
    "identical-copy groups with no near-dup edge also collapse). "
    "Output: (drop_doc, canonical_doc, drop_chars) — anti-join the "
    "corpus against it and the training set is deduplicated. The "
    "bucketed layout makes the corpus side of the doc_id joins (reps "
    "selection, final cluster join) exchange-free: only the distinct- "
    "content summary and the label frame shuffle, which is the 100-TB "
    "contract — corpus bytes never move for layout, only derived keys "
    "do. Plan-asserted in tests/test_bucketed_join.py.",
)
def q150_bucketed_dedup_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    # measured growth exponent alpha = 0.18 over 1x/2x/4x replica layouts
    # (tools/growth_exponent.py, SCALE.md round-9 table) — bucketed write
    # floor dominates; the chain itself grows sub-linearly at this size
    raw = T(spark, sf_dir, "documents")
    # lay the corpus down bucketed once (at production scale this is the
    # standing ingest layout, not a per-query step; the write is included
    # here so the query is self-contained for the driver)
    table, path = _bucket_table(spark, sf_dir)
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    shutil.rmtree(path, ignore_errors=True)  # external table: files outlive DROP
    # cluster by the bucket key BEFORE the write (guide §6, Iceberg's
    # write.distribution-mode=hash): repartition(N, key) uses the same
    # pmod(murmur3) placement as bucketBy(N, key), so each of the N write
    # tasks holds exactly one bucket and emits ONE file — instead of every
    # input task writing a file per bucket it happens to see (single-split
    # local scan: ONE task serially sorting+writing all 16; wide production
    # scan: T×16 small files). Measured r16: write 0.65 → 0.45 s at sf0.1.
    write_bucketed(raw.repartition(_N_BUCKETS, "doc_id"), table,
                   ["doc_id"], _N_BUCKETS, path=path, sort_cols=["doc_id"])
    docs = spark.table(table)

    fpdf = docs.select(
        "doc_id", "n_chars", F.md5(F.lower(F.col("text"))).alias("fp")
    )
    # one row per distinct content; checkpointed — reused by the reps
    # join and the doc→rep mapping without re-executing the collapse
    grp = stores.materialize(
        fpdf.groupBy("fp")
        .agg(F.min("doc_id").alias("rep_id")),
        "q150: fingerprint groups",
    )
    # bucketed side needs no exchange: grp's rep ids shuffle INTO the
    # corpus bucketing, corpus bytes stay put
    reps = docs.join(grp.select(F.col("rep_id").alias("doc_id")), "doc_id")

    ex = (
        reps.select("doc_id", F.explode(word_shingles(F.col("text"))).alias("item"))
        .withColumn("h", md5_int(F.col("item")) % _P)
    )
    per_doc, cand = lsh_candidates(ex)
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast("double")
    union = (
        F.size("sh_a") + F.size("sh_b")
        - F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    )
    pairs = (
        jaccard_verify(cand, per_doc)
        .filter(inter / union >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b")
    )

    from etl_entregas_pyspark_spark.queries.advanced import propagate_components

    labels = propagate_components(pairs).select(
        F.col("doc").alias("rep_id"), "component"
    )
    clusters = stores.materialize(
        fpdf.join(grp, "fp")
        .join(labels, "rep_id", "left")
        .select(
            "doc_id",
            F.coalesce("component", "rep_id").alias("cluster_id"),
            "n_chars",
        ),
        # TWO consumers (the canon window + the final cluster join):
        # un-materialized, the whole fingerprint→rep→label chain above —
        # including a second scan+md5 pass over the corpus — executed
        # twice (q158's multi-consumer rule, r16). Three skinny columns.
        "q150: doc to representative",
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    canon = (
        clusters.select("cluster_id", "doc_id", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .select("cluster_id", F.col("doc_id").alias("canonical_doc"))
    )
    return (
        clusters.join(canon, "cluster_id")
        .filter(F.col("doc_id") != F.col("canonical_doc"))
        .select(
            F.col("doc_id").alias("drop_doc"),
            "canonical_doc",
            F.col("n_chars").cast("bigint").alias("drop_chars"),
        )
    )
