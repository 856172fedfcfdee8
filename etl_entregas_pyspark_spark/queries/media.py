"""Multimodal-column query: drives the Arrow-batched ``mapInPandas``
decode stage (multimodal.py) through the oracle gate.

Binary payloads are synthesized deterministically from ``documents.text``
(utf-8 encode), so the DuckDB oracle can replicate the stub decoder's
arithmetic exactly: sha256 hex digests match across Python hashlib /
DuckDB ``sha256()``, and the pseudo-dimensions are pure integer ops on the
first 8 hex digits. This is the strongest available check that the
Python-side batch plumbing (schema, Arrow transfer, per-batch kernel
application) is lossless.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_entregas_pyspark_spark import stores
from etl_entregas_pyspark_spark.multimodal import decode_media
from etl_entregas_pyspark_spark.queries.registry import register
from etl_entregas_pyspark_spark.queries.relational import T, _rnd_sql, rnd, spread_if_narrow


@register(
    "q57_multimodal_decode",
    f"""
    WITH media AS (
        SELECT doc_id AS media_id,
               CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
               octet_length(encode(text)) AS byte_len,
               sha256(text) AS sha,
               CAST(concat('0x', substr(sha256(text), 1, 8)) AS BIGINT) AS seed
        FROM documents
    )
    SELECT kind,
           COUNT(*) AS n_items,
           CAST(SUM(byte_len) AS BIGINT) AS total_bytes,
           COUNT(DISTINCT sha) AS n_unique_payloads,
           {_rnd_sql('CAST(SUM(64 + seed % 1024) AS DOUBLE) / COUNT(*)', 2)} AS avg_width,
           {_rnd_sql('CAST(SUM(64 + (seed >> 10) % 1024) AS DOUBLE) / COUNT(*)', 2)} AS avg_height
    FROM media GROUP BY kind
    """,
    doc="binary multimodal columns end-to-end: synthesize payloads, decode "
    "via the Arrow-batched mapInPandas stub kernel, profile per kind — the "
    "oracle recomputes the kernel arithmetic in SQL, proving the Python "
    "batch plumbing is lossless",
)
def q57_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("kind"),
        F.encode("text", "utf-8").alias("content"),
        F.concat(F.lit("mem://doc/"), F.col("doc_id").cast("string")).alias("source_uri"),
    )
    # size the decode stage by payload volume, not core count: these are
    # KB-scale payloads, so a handful of Arrow batches beats one python
    # worker per core (worker spin-up would dominate); real image/video
    # workloads size this by bytes-per-partition (see multimodal.py)
    decoded = decode_media(media, batch_partitions=min(8, spark.sparkContext.defaultParallelism))
    return decoded.groupBy("kind").agg(
        F.count("*").alias("n_items"),
        F.sum("byte_len").alias("total_bytes"),
        F.countDistinct("sha256").alias("n_unique_payloads"),
        rnd(F.sum("width").cast("double") / F.count("*"), 2).alias("avg_width"),
        rnd(F.sum("height").cast("double") / F.count("*"), 2).alias("avg_height"),
    )


# ---------------------------------------------------------------------------
# q129 — multimodal feature extraction → exact integer scoring
# ---------------------------------------------------------------------------

_EMB_WEIGHTS = (7, -3, 5, -1, 2, -4, 6, -2)  # fixed "query vector"
_EMB_TOPK = 20


@register(
    "q129_multimodal_embed",
    f"""
    WITH media AS (
        SELECT doc_id AS media_id,
               CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
               sha256(text) AS sha
        FROM documents
    ), feats AS (
        SELECT media_id, kind,
               {', '.join(
                   f"CAST(concat('0x', substr(sha, {8 * i + 1}, 8)) AS BIGINT) % 1000 AS d{i}"
                   for i in range(8)
               )}
        FROM media
    )
    SELECT media_id, kind,
           {' + '.join(f'd{i} * ({w})' for i, w in enumerate(_EMB_WEIGHTS))} AS score
    FROM feats ORDER BY score DESC, media_id LIMIT {_EMB_TOPK}
    """,
    doc="multimodal feature extraction end-to-end: synthesized payloads "
    "through the Arrow-batched extract_features stage (8 integer dims "
    "from sha256 chunks — the stub stands in for a CLIP/wav2vec forward "
    "pass), then an exact integer dot product against a fixed query "
    f"vector, top-{_EMB_TOPK}. The oracle recomputes the kernel "
    "arithmetic in SQL, proving the embedding plumbing (schema, Arrow "
    "batches, array column) is lossless; scoring is zip_with+aggregate "
    "over the array — JVM-side, no Python in the hot path after "
    "extraction. Blobs are dropped at the extraction stage, so the "
    "rank/shuffle path moves 64 bytes per row regardless of payload "
    "size — at 100 TB of media that asymmetry IS the design.",
)
def q129_multimodal_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_entregas_pyspark_spark.multimodal import extract_features

    d = T(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("kind"),
        F.encode("text", "utf-8").alias("content"),
    )
    feats = extract_features(
        spread_if_narrow(
            media, target=min(8, spark.sparkContext.defaultParallelism)
        )
    )
    weights = F.array(*[F.lit(w) for w in _EMB_WEIGHTS])
    score = F.aggregate(
        F.zip_with("embedding", weights, lambda d_, w: d_ * w),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        feats.select("media_id", "kind", score.alias("score"))
        .orderBy(F.col("score").desc(), "media_id")
        .limit(_EMB_TOPK)
    )


# ---------------------------------------------------------------------------
# q183 — perceptual-hash near-dup detection (banded Hamming join)
# ---------------------------------------------------------------------------

_PH_BANDS = 4
_PH_BAND_BITS = 15  # 4 x 15 = the 60-bit fingerprint
_PH_MASK = (1 << _PH_BAND_BITS) - 1
_PH_MAXDIST = 8


@register(
    "q183_phash_near_dup",
    f"""
    WITH media AS (
        SELECT doc_id AS media_id,
               CAST(concat('0x', substr(sha256(text), 1, 15)) AS BIGINT) AS phash
        FROM documents
    ), grp AS (
        SELECT phash, MIN(media_id) AS rep_id, COUNT(*) AS sz FROM media GROUP BY phash
    ), bands AS (
        SELECT phash, g.i AS band,
               (phash >> ((g.i - 1) * {_PH_BAND_BITS})) & {_PH_MASK} AS band_val
        FROM grp CROSS JOIN generate_series(1, {_PH_BANDS}) AS g(i)
    ), cand AS (
        SELECT DISTINCT a.phash AS pa, b.phash AS pb
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_val = b.band_val AND a.phash < b.phash
    ), near AS (
        SELECT pa, pb FROM cand WHERE bit_count(xor(pa, pb)) <= {_PH_MAXDIST}
    )
    SELECT CAST((SELECT COUNT(*) FROM media) AS BIGINT) AS n_media,
           CAST((SELECT COUNT(*) FROM grp) AS BIGINT) AS n_distinct_payloads,
           CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_candidate_pairs,
           CAST((SELECT COUNT(*) FROM near) AS BIGINT) AS n_near_pairs,
           CAST((SELECT COALESCE(SUM(sz * (sz - 1) // 2), 0) FROM grp) AS BIGINT)
               AS n_identical_pairs,
           CAST((SELECT COALESCE(SUM(sz - 1), 0) FROM grp) AS BIGINT) AS n_dup_items
    """,
    doc="media near-dup detection over perceptual hashes: payloads -> "
    "60-bit fingerprint via the Arrow-batched perceptual_hash stage "
    "(blob dropped at the stage boundary, 8 bytes/item shuffle after), "
    "exact-collapse identical fingerprints FIRST (q93's rule applied to "
    f"media: N copies never reach the pair join), band the hash into "
    f"{_PH_BANDS}x{_PH_BAND_BITS}-bit keys, equi-join bands for "
    f"candidates, verify Hamming distance <= {_PH_MAXDIST} via "
    "bit_count(xor). The stub hash is content-sensitive, not "
    "locality-sensitive (no codecs in this container), so true near "
    "pairs land at distance 0 and collapse into the identical-pair "
    "count — the banding/verify machinery and its costs are identical "
    "with a real DCT pHash dropped into multimodal._phash_stub. Scale: "
    "band join on distinct fingerprints only — cost tracks distinct "
    "content x band-collision rate (4x2^-15), never corpus pairs; the "
    "oracle recomputes the fingerprint arithmetic in SQL, pinning the "
    "Python plumbing (reference has no media surface; north-star per "
    "BASELINE.json).",
)
def q183_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_entregas_pyspark_spark.multimodal import perceptual_hash

    d = T(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("content"),
    )
    hashed = perceptual_hash(
        spread_if_narrow(
            media, target=min(8, spark.sparkContext.defaultParallelism)
        )
    )
    grp = stores.materialize(
        hashed.groupBy("phash")
        .agg(F.min("media_id").alias("rep_id"), F.count(F.lit(1)).alias("sz")),
        "q183: phash groups",
    )
    bands = grp.select(
        "phash",
        F.explode(F.sequence(F.lit(1), F.lit(_PH_BANDS))).alias("band"),
    ).select(
        "phash",
        "band",
        F.expr(
            f"shiftright(phash, cast((band - 1) * {_PH_BAND_BITS} as int)) & {_PH_MASK}"
        ).alias("band_val"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = stores.materialize(
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.phash") < F.col("b.phash")),
        )
        .select(F.col("a.phash").alias("pa"), F.col("b.phash").alias("pb"))
        .distinct(),
        "q183: band candidate pairs",
    )
    near = cand.filter(
        F.bit_count(F.col("pa").bitwiseXOR(F.col("pb"))) <= _PH_MAXDIST
    )
    stats = grp.agg(
        F.sum("sz").cast("bigint").alias("n_media"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct_payloads"),
        # integer `div`, not `/`: float division flushes sz*(sz-1) through a
        # double, losing exactness past 2^53 (groups > ~1e8 members); the
        # oracle's // 2 is exact, so the Spark side must stay in bigint too
        F.sum(F.expr("sz * (sz - 1) div 2")).cast("bigint").alias("n_identical_pairs"),
        F.sum(F.col("sz") - 1).cast("bigint").alias("n_dup_items"),
    )
    return (
        stats.crossJoin(F.broadcast(cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_candidate_pairs"))))
        .crossJoin(F.broadcast(near.agg(F.count(F.lit(1)).cast("bigint").alias("n_near_pairs"))))
        .select(
            "n_media",
            "n_distinct_payloads",
            "n_candidate_pairs",
            "n_near_pairs",
            "n_identical_pairs",
            "n_dup_items",
        )
    )
