"""Operators Spark lacks natively, built per the SURVEY §2.11 recipe
(compose built-ins; never O(n²), never a UDF): range join (q59),
interval-overlap join (q160), iterative connected components (q62 family),
PageRank supersteps (q115), largest-remainder allocation (q161), and
bounded BFS over a bipartite graph (q162).

q59 range join: a naive interval join is a cartesian theta-join. The
scalable decomposition buckets time into fixed grains: each interval
explodes to the grains it overlaps (bounded by interval_len/grain + 1),
the probe side joins on its single grain — an EQUI-join whose output is
only candidate pairs — then the exact range predicate filters. Oracle:
the plain theta join (DuckDB is fine with it at oracle scale).

q62 connected components: near-dup pairs (q53's output) form a graph;
production dedup keeps one doc per component. Iterative min-label
propagation (driver-controlled loop, converges in O(diameter) rounds —
near-dup clusters have tiny diameters). Oracle: recursive CTE computing
min reachable id per node.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_entregas_pyspark_spark.queries.events import E
from etl_entregas_pyspark_spark.queries.registry import register
from etl_entregas_pyspark_spark.queries.relational import T, _rnd_sql, rnd
from etl_entregas_pyspark_spark.timeutil import epoch_us

_GRAIN_S = 600  # 10-minute buckets = the interval length → ≤ 2 buckets/interval


@register(
    "q59_range_join",
    """
    WITH intervals AS (
        SELECT event_id AS error_id, ts AS start_ts, ts + INTERVAL '10 minutes' AS end_ts
        FROM events WHERE event_type = 'error'
    ), clicks AS (
        SELECT event_id AS click_id, ts FROM events WHERE event_type = 'click'
    )
    SELECT i.error_id, COUNT(c.click_id) AS n_clicks,
           MIN(c.click_id) AS first_click_id
    FROM intervals i LEFT JOIN clicks c
      ON c.ts >= i.start_ts AND c.ts < i.end_ts
    GROUP BY i.error_id
    """,
    doc="range join: clicks within 10 minutes after each error — bucketed "
    "equi-join decomposition (interval → overlapped grains, probe → its "
    "grain) instead of a cartesian theta-join",
)
def q59_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = E(spark, sf_dir)
    grain = F.lit(_GRAIN_S)
    intervals = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        epoch_us("ts").alias("start_us"),
        (epoch_us("ts") + _GRAIN_S * 1_000_000).alias("end_us"),
    )
    # explode each interval across every grain it overlaps (≤ 2 here)
    exploded = intervals.select(
        "error_id", "start_us", "end_us",
        F.explode(
            F.sequence(
                F.floor(F.col("start_us") / 1_000_000 / grain),
                F.floor((F.col("end_us") - 1) / 1_000_000 / grain),
            )
        ).alias("bucket"),
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        epoch_us("ts").alias("c_us"),
        F.floor(epoch_us("ts") / 1_000_000 / grain).alias("bucket"),
    )
    matched = (
        exploded.join(clicks, "bucket")
        .filter((F.col("c_us") >= F.col("start_us")) & (F.col("c_us") < F.col("end_us")))
        .select("error_id", "click_id")
    )
    return (
        intervals.select("error_id")
        .join(matched, "error_id", "left")
        .groupBy("error_id")
        .agg(
            F.count("click_id").alias("n_clicks"),
            F.min("click_id").alias("first_click_id"),
        )
    )


def _near_dup_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_entregas_pyspark_spark.queries.similarity import q53_minhash_near_dup

    return q53_minhash_near_dup(spark, sf_dir).select("doc_a", "doc_b")


def _q62_oracle() -> str:
    from etl_entregas_pyspark_spark.queries.similarity import _q53_oracle

    return _Q62_TEMPLATE.replace("{Q53}", _q53_oracle())


_Q62_TEMPLATE = """
    WITH RECURSIVE pairs AS (
        {Q53}
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
    )
    SELECT component, COUNT(*) AS n_docs, MAX(doc) AS max_doc
    FROM labels GROUP BY component
    """


def _component_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc, component) for every doc in the near-dup pair graph, where
    component = min doc id reachable (the canonical representative)."""
    return propagate_components(_near_dup_edges(spark, sf_dir))


def propagate_components(pairs: DataFrame) -> DataFrame:
    """Connected components over an undirected pair graph given as
    (doc_a, doc_b) rows: (doc, component) with component = min reachable
    id. Shared by the q53-pair chain (q62/q72/q111) and the bucketed
    production chain (q150)."""
    spark = pairs.sparkSession
    edges = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).distinct().cache()
    # size the LOOP's shuffles to the graph, not the session (guide §2.2
    # fewer/larger partitions, §1.2 per-task work): every round below is
    # 3 joins + an agg over two MATERIALIZED frames whose size we know —
    # at sf0.1 the near-dup graph is ~500 edges, and running each round's
    # exchanges at the session's 32 partitions made the round ~0.7 s of
    # pure task-scheduling floor (measured r16; 2 rounds = half of q150's
    # component stage). One partition per ~10k edges, floor 4, capped at
    # the session setting so a production-scale graph is unaffected. The
    # count() doubles as the cache materializer.
    n_edges = edges.count()
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    loop_parts = max(4, min(int(prev_parts), 1 + n_edges // 10_000))
    spark.conf.set("spark.sql.shuffle.partitions", str(loop_parts))
    try:
        labels = (
            edges.select(F.col("doc_a").alias("doc"), F.col("doc_a").alias("component"))
            .distinct()
            .localCheckpoint()
        )

        # min-label propagation with POINTER JUMPING: each round takes the
        # min over graph neighbours, then compresses component ->
        # component-of-component (label ids are doc ids, so the jump is a
        # self-join). The jump halves remaining path lengths — convergence
        # in O(log diameter) rounds, so 30 rounds handle any component up
        # to ~2^30 diameter. A silently-unconverged label frame would be a
        # WRONG drop-list (q72), so exhausting the cap raises instead of
        # returning.
        converged = False
        for _ in range(30):
            neighbor_min = (
                labels.join(edges, labels.doc == edges.doc_a)
                .groupBy(F.col("doc_b").alias("doc"))
                .agg(F.min("component").alias("n_comp"))
            )
            # carry the pre-round label through the checkpoint so the
            # convergence check is a filter on the materialized frame —
            # not a second doc-keyed join job per round (r16)
            propagated = labels.join(neighbor_min, "doc", "left").select(
                "doc",
                F.col("component").alias("old_component"),
                F.least(F.col("component"), F.coalesce("n_comp", "component")).alias("component"),
            )
            jump = labels.select(
                F.col("doc").alias("component"), F.col("component").alias("jumped")
            )
            stepped = (
                propagated.join(jump, "component", "left")
                .select(
                    "doc",
                    "old_component",
                    F.least(
                        F.col("component"), F.coalesce("jumped", "component")
                    ).alias("component"),
                )
                .localCheckpoint()
            )
            changed = (
                stepped.filter(F.col("component") != F.col("old_component"))
                .limit(1)
                .count()
            )
            labels = stepped.select("doc", "component")
            if changed == 0:
                converged = True
                break
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    edges.unpersist()
    if not converged:
        raise RuntimeError(
            "connected-components propagation did not converge within 30 "
            "pointer-jumping rounds (component diameter > ~2^30?)"
        )
    return labels


@register(
    "q62_dedup_components",
    _q62_oracle(),
    doc="near-dup cluster formation: connected components over q53's pair "
    "graph via iterative min-label propagation (converges in O(diameter) "
    "rounds); canonical doc per cluster = min id. Oracle: recursive CTE.",
)
def q62_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _component_labels(spark, sf_dir).groupBy("component").agg(
        F.count("*").alias("n_docs"), F.max("doc").alias("max_doc")
    )


def _q72_oracle() -> str:
    from etl_entregas_pyspark_spark.queries.similarity import _q53_oracle

    return _Q72_TEMPLATE.replace("{Q53}", _q53_oracle())


_Q72_TEMPLATE = """
    WITH RECURSIVE pairs AS (
        {Q53}
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
    )
    SELECT doc AS doc_id, component AS canonical_doc
    FROM labels WHERE doc <> component
    """


@register(
    "q72_dedup_materialize",
    _q72_oracle(),
    doc="production dedup resolution: the drop-list. Every non-canonical "
    "member of a near-dup component (q53 pairs → q62 components) mapped to "
    "its canonical keeper (min doc id); anti-joining this against the "
    "corpus yields the deduplicated training set. Min-label propagation "
    "already converges each doc's label to the component minimum, so the "
    "drop-list is a filter on the label frame — no extra aggregation.",
    tier="basic",
)
def q72_dedup_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = _component_labels(spark, sf_dir)
    return labels.filter(F.col("doc") != F.col("component")).select(
        F.col("doc").alias("doc_id"), F.col("component").alias("canonical_doc")
    )


# ---------------------------------------------------------------------------
# q111 — dedup apply: keep the BEST doc per near-dup cluster, drop the rest
# ---------------------------------------------------------------------------

def _q111_oracle() -> str:
    from etl_entregas_pyspark_spark.queries.similarity import _q53_oracle

    return _Q111_TEMPLATE.replace("{Q53}", _q53_oracle())


_Q111_TEMPLATE = """
    WITH RECURSIVE pairs AS (
        {Q53}
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
    ), member AS (
        SELECT l.doc, l.component, d.n_chars
        FROM labels l JOIN documents d ON l.doc = d.doc_id
    ), canon AS (
        SELECT component, doc AS canonical_doc FROM (
            SELECT component, doc,
                   ROW_NUMBER() OVER (
                       PARTITION BY component ORDER BY n_chars DESC, doc) AS rn
            FROM member
        ) WHERE rn = 1
    )
    SELECT m.doc AS drop_doc, c.canonical_doc,
           CAST(m.n_chars AS BIGINT) AS drop_chars
    FROM member m JOIN canon c ON m.component = c.component
    WHERE m.doc <> c.canonical_doc
    """


@register(
    "q111_cluster_canonical",
    _q111_oracle(),
    doc="dedup APPLY with a quality-aware keeper: within each near-dup "
    "component (q62's labels), keep the doc with the most content "
    "(n_chars DESC, id tie-break) and emit a (drop_doc -> canonical_doc) "
    "decision table for the rest — unlike q72's min-id keeper over exact "
    "fingerprints, this picks the BEST near-duplicate, which is what "
    "crawl dedup actually wants (the longest capture usually carries the "
    "least truncation). Composition: checkpointed label propagation "
    "(constant-depth lineage) + one broadcastable per-component argmax + "
    "a map-side join back. Docs in no near-dup pair never enter the "
    "graph and are implicitly kept.",
)
def q111_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from etl_entregas_pyspark_spark.queries.relational import T

    labels = _component_labels(spark, sf_dir)
    d = T(spark, sf_dir, "documents").select("doc_id", "n_chars")
    member = labels.join(d, labels.doc == d.doc_id).select(
        "doc", "component", "n_chars"
    )
    w = Window.partitionBy("component").orderBy(
        F.col("n_chars").desc(), F.col("doc")
    )
    canon = (
        member.select("component", "doc", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .select("component", F.col("doc").alias("canonical_doc"))
    )
    return (
        member.join(canon, "component")
        .filter(F.col("doc") != F.col("canonical_doc"))
        .select(
            F.col("doc").alias("drop_doc"),
            "canonical_doc",
            F.col("n_chars").cast("bigint").alias("drop_chars"),
        )
    )


# ---------------------------------------------------------------------------
# q115 — PageRank (3 power iterations), exact integer domain
# ---------------------------------------------------------------------------

_PR_SCALE = 1_000_000  # initial score per node
_PR_ITERS = 3
# damping 0.85 as exact integer arithmetic: base + (17 * inflow) div 20
_PR_BASE = (15 * _PR_SCALE) // 100


def _q115_oracle() -> str:
    ctes = [
        """pairs AS (
        SELECT DISTINCT l_suppkey * 2 AS s, l_partkey * 2 + 1 AS p FROM lineitem
    )""",
        """edges AS (
        SELECT s AS src, p AS dst FROM pairs
        UNION ALL SELECT p, s FROM pairs
    )""",
        """deg AS (
        SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM edges GROUP BY src
    )""",
        f"""score0 AS (
        SELECT src AS node, CAST({_PR_SCALE} AS BIGINT) AS score FROM deg
    )""",
    ]
    for t in range(1, _PR_ITERS + 1):
        ctes.append(
            f"""inflow{t} AS (
        SELECT e.dst AS node,
               CAST(SUM(s.score // d.outdeg) AS BIGINT) AS contrib
        FROM edges e
        JOIN score{t - 1} s ON e.src = s.node
        JOIN deg d ON e.src = d.src
        GROUP BY e.dst
    )"""
        )
        ctes.append(
            f"""score{t} AS (
        SELECT s.node,
               {_PR_BASE} + (17 * COALESCE(i.contrib, 0)) // 20 AS score
        FROM score0 s LEFT JOIN inflow{t} i ON s.node = i.node
    )"""
        )
    body = ",\n    ".join(ctes)
    return (
        f"WITH {body}\n"
        f"SELECT node, node % 2 = 0 AS is_supplier, score\n"
        f"FROM score{_PR_ITERS}\n"
        f"ORDER BY score DESC, node LIMIT 30"
    )


@register(
    "q115_pagerank",
    _q115_oracle(),
    doc=f"PageRank, {_PR_ITERS} power iterations over the undirected "
    f"supplier–part co-occurrence graph (suppliers and parts namespaced "
    f"onto disjoint even/odd ids; each distinct lineitem pair "
    f"contributes both edge directions, so no dangling mass). The "
    f"second iterative-algorithm showcase after q106: edges+degrees are "
    f"computed once and cached, scores are localCheckpoint'd per round "
    f"(constant lineage), and each round is one join-shuffle + one "
    f"partial-agg exchange — the classic Pregel superstep expressed "
    f"relationally. Determinism: damping 0.85 is the exact integer form "
    f"base + (17*inflow) div 20 and per-edge contributions are "
    f"score div outdeg, so all three rounds replay bitwise in the "
    f"oracle's CTE chain; top-30 uses a total (score, node) order.",
)
def q115_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_entregas_pyspark_spark.queries.relational import T

    li = T(spark, sf_dir, "lineitem")
    pairs = li.select(
        (F.col("l_suppkey") * 2).alias("s"),
        (F.col("l_partkey") * 2 + 1).alias("p"),
    ).distinct()
    edges = pairs.select(F.col("s").alias("src"), F.col("p").alias("dst")).unionByName(
        pairs.select(F.col("p").alias("src"), F.col("s").alias("dst"))
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    edges_deg = edges.join(deg, "src").localCheckpoint()
    # derive nodes FROM the materialized edge list: checkpointing it from
    # `deg` would rebuild the scan→distinct→union→groupBy lineage a second
    # time just to materialize the same key set
    nodes = edges_deg.select(F.col("src").alias("node")).distinct().localCheckpoint()
    score = nodes.select("node", F.lit(_PR_SCALE).cast("bigint").alias("score"))
    # NO per-iteration materialization, deliberately: the iteration count
    # is FIXED and there is no per-round driver action, so the unrolled
    # plan is a straight chain each stage of which executes exactly once —
    # eager localCheckpoints here would add one blocking job per round
    # (measured 3.7x slower at sf0.1). Contrast q62, whose per-round
    # convergence count WOULD re-execute accumulated lineage and therefore
    # must checkpoint. The reused frames (edges_deg, nodes) stay
    # checkpointed above so the chain references materialized inputs.
    for _ in range(_PR_ITERS):
        inflow = (
            edges_deg.join(score, edges_deg.src == score.node)
            .select("dst", F.expr("score div outdeg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("contrib"))
        )
        score = (
            nodes.join(inflow, nodes.node == inflow.dst, "left")
            .select(
                "node",
                (
                    F.lit(_PR_BASE)
                    + F.expr("(17 * coalesce(contrib, 0)) div 20")
                ).alias("score"),
            )
        )
    return (
        score.select("node", (F.col("node") % 2 == 0).alias("is_supplier"), "score")
        .orderBy(F.col("score").desc(), F.col("node"))
        .limit(30)
    )


# ---------------------------------------------------------------------------
# q118 — market-basket co-occurrence (part pairs bought in the same order)
# ---------------------------------------------------------------------------

def basket_pair_counts(df: DataFrame, basket_col: str, item_col: str) -> DataFrame:
    """Co-occurrence counts of unordered item pairs sharing a basket:
    (item_a, item_b, n_baskets) with item_a < item_b. One exchange on the
    basket key (collect_set folds duplicates), pairs exploded locally,
    one exchange on the pair key — no self-join."""
    baskets = df.groupBy(basket_col).agg(F.collect_set(item_col).alias("parts"))
    pair_structs = F.flatten(
        F.transform(
            "parts",
            lambda x: F.transform(
                F.filter("parts", lambda y: y > x),
                lambda y: F.struct(x.alias("item_a"), y.alias("item_b")),
            ),
        )
    )
    pairs = baskets.select(F.explode(pair_structs).alias("pr")).select(
        "pr.item_a", "pr.item_b"
    )
    return pairs.groupBy("item_a", "item_b").agg(
        F.count(F.lit(1)).alias("n_baskets")
    )


@register(
    "q118_basket_pairs",
    """
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM op a JOIN op b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY part_a, part_b
    ORDER BY n_orders DESC, part_a, part_b LIMIT 50
    """,
    doc="market-basket mining: the 50 part pairs most often bought in the "
    "same order. The oracle states it as the textbook distinct + equi-"
    "self-join; the Spark plan instead folds each order's distinct parts "
    "into ONE set (collect_set — the order is the natural block, basket "
    "size bounded by a constant, TPC-H lineitems per order <= 7) and "
    "explodes the y > x pairs locally. That is one exchange on "
    "l_orderkey plus one on the pair key — no join, one fewer shuffle "
    "than the self-join plan, and the pair stream stays linear in row "
    "count, never O(n^2). The y > x guard emits each unordered pair "
    "exactly once whatever order collect_set returns. Final top-50 is a "
    "TakeOrderedAndProject, not a global sort.",
)
def q118_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = basket_pair_counts(
        T(spark, sf_dir, "lineitem"), "l_orderkey", "l_partkey"
    )
    return (
        counts.select(
            F.col("item_a").alias("part_a"),
            F.col("item_b").alias("part_b"),
            F.col("n_baskets").alias("n_orders"),
        )
        .orderBy(F.col("n_orders").desc(), "part_a", "part_b")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# q126 — triangle counting on the co-purchase graph
# ---------------------------------------------------------------------------

_TRI_SUPPORT = 2  # minimum co-purchase count for an edge
_TRI_TOPK = 25


def triangle_participation(e: DataFrame) -> DataFrame:
    """Per-node triangle counts over an oriented edge list (pa < pb,
    deduplicated): (part, n_triangles). Property-tested against a
    brute-force model in tests/test_operator_properties.py."""
    e1 = e.select(F.col("pa").alias("a"), F.col("pb").alias("b"))
    e2 = e.select(F.col("pa").alias("b"), F.col("pb").alias("c"))
    e3 = e.select(F.col("pa").alias("a"), F.col("pb").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    nodes = (
        tri.select(F.col("a").alias("part"))
        .unionAll(tri.select(F.col("b").alias("part")))
        .unionAll(tri.select(F.col("c").alias("part")))
    )
    return nodes.groupBy("part").agg(F.count(F.lit(1)).alias("n_triangles"))


@register(
    "q126_copurchase_triangles",
    f"""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb
        FROM op a JOIN op b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY pa, pb HAVING COUNT(*) >= {_TRI_SUPPORT}
    ), tri AS (
        SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
        FROM e e1 JOIN e e2 ON e1.pb = e2.pa
                  JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
    ), nodes AS (
        SELECT a AS part FROM tri UNION ALL
        SELECT b FROM tri UNION ALL
        SELECT c FROM tri
    )
    SELECT part, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM nodes GROUP BY part
    ORDER BY n_triangles DESC, part LIMIT {_TRI_TOPK}
    """,
    doc=f"triangle counting on the co-purchase graph (parts sharing >= "
    f"{_TRI_SUPPORT} orders are connected): per-part triangle "
    f"participation, top {_TRI_TOPK}. The support threshold is the scale "
    "valve — it prunes the quadratic noise floor of one-off "
    "co-occurrences (sf0.1: 1.2M raw pairs -> 3.6k edges) BEFORE the "
    "triangle joins, so the two equi-joins run on the support-filtered "
    "edge list, which AQE plans as broadcast joins. Edges are oriented "
    "pa < pb, triangles enumerated as a < b < c — each counted exactly "
    "once, no /6 correction, no symmetric blowup. Edge derivation "
    "reuses basket_pair_counts (collect_set + local pair explode, no "
    "self-join). SCALING RULE (measured, SCALE.md round-7): the support "
    "threshold is a per-pair basket DENSITY — at Nx baskets per pair it "
    "must scale by N or it prunes nothing (at 10x density, support 2..10 "
    "all left 1.2M edges and a 15.6 s wall; support 20 restored the "
    "exact 3,573-edge sf0.1 graph and a 2.9 s wall). With the threshold "
    "scaled, triangle cost is flat in corpus size.",
)
def q126_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (
        basket_pair_counts(T(spark, sf_dir, "lineitem"), "l_orderkey", "l_partkey")
        .filter(F.col("n_baskets") >= _TRI_SUPPORT)
        .select(F.col("item_a").alias("pa"), F.col("item_b").alias("pb"))
    )
    return (
        triangle_participation(e)
        .orderBy(F.col("n_triangles").desc(), "part")
        .limit(_TRI_TOPK)
    )


# ---------------------------------------------------------------------------
# q198 — triangles with the support threshold DERIVED from pair density
# ---------------------------------------------------------------------------

_TRI_SUPPORT_MULT = 2  # support = max(2, MULT × median pair count)


@register(
    "q198_triangles_adaptive_support",
    f"""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pc AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb,
               CAST(COUNT(*) AS BIGINT) AS n_baskets
        FROM op a JOIN op b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY pa, pb
    ), hist AS (
        SELECT n_baskets AS v, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM pc GROUP BY n_baskets
    ), m AS (
        SELECT CAST(SUM(cnt) AS BIGINT) AS m FROM hist
    ), cum AS (
        SELECT a.v, CAST(SUM(b.cnt) AS BIGINT) AS cle
        FROM hist a JOIN hist b ON b.v <= a.v GROUP BY a.v
    ), med AS (
        SELECT CAST(MIN(v) AS BIGINT) AS median_v
        FROM cum CROSS JOIN m
        WHERE cle >= CAST(CEIL(0.5 * m) AS BIGINT)
    ), sup AS (
        SELECT GREATEST(CAST({_TRI_SUPPORT} AS BIGINT),
                        {_TRI_SUPPORT_MULT} * median_v) AS derived_support
        FROM med
    ), e AS (
        SELECT pa, pb FROM pc CROSS JOIN sup
        WHERE n_baskets >= derived_support
    ), tri AS (
        SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
        FROM e e1 JOIN e e2 ON e1.pb = e2.pa
                  JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
    ), nodes AS (
        SELECT a AS part FROM tri UNION ALL
        SELECT b FROM tri UNION ALL
        SELECT c FROM tri
    )
    SELECT part, CAST(COUNT(*) AS BIGINT) AS n_triangles,
           (SELECT derived_support FROM sup) AS derived_support
    FROM nodes GROUP BY part
    ORDER BY n_triangles DESC, part LIMIT {_TRI_TOPK}
    """,
    doc="the production form of q126: the support threshold is DERIVED "
    "per corpus snapshot instead of fixed — q194's adaptive-valve "
    "pattern applied to the other measured fixed-threshold law. "
    "SCALE.md's round-7 table proved support is a per-pair basket "
    f"DENSITY (at 10x density, fixed support {_TRI_SUPPORT} prunes "
    "nothing: 1.2M edges, 15.6 s; support 20 restores the exact sf0.1 "
    "graph at 2.9 s). Here support = max("
    f"{_TRI_SUPPORT}, {_TRI_SUPPORT_MULT} x median pair count), with "
    "the exact lower median computed from the pair-count HISTOGRAM "
    "(distinct count values — model-state-sized) via the same "
    "histogram self-join cumulative rule as q194: no global sort, no "
    "data-scale window. At baseline density the median is 1, so the "
    "derived support collapses to q126's fixed 2 and the triangle "
    "output is IDENTICAL (tests pin this at sf0.01 and sf0.1); as "
    "density grows the valve scales with the median and the edge list "
    "stays bounded. The 1-row support broadcasts into the edge filter; "
    "emitting derived_support makes the guard auditable, exactly like "
    "q194's derived_cap. Pair counts reuse basket_pair_counts (no "
    "self-join); the histogram rides the already-shuffled pair "
    "aggregate, so adaptivity costs one model-state aggregation.",
    # Bench contrast: derived valve vs fixed/uncapped: ~1.2 at sf0.1 (baseline
    # density: the valve derivation costs a model-state pass and prunes
    # nothing) and <1 under density stress (sf1: q198/q126 measured 0.21x).
    # The valve is insurance priced at ~20% of a cheap query, paying off 5x on
    # the layout that needs it.
    contrast_of="q126_copurchase_triangles",
)
def q198_triangles_adaptive_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    pc = basket_pair_counts(
        T(spark, sf_dir, "lineitem"), "l_orderkey", "l_partkey"
    ).localCheckpoint()
    hist = pc.groupBy(F.col("n_baskets").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    m = hist.agg(F.sum("cnt").cast("bigint").alias("m"))
    ha, hb = hist.alias("ha"), hist.alias("hb")
    cum = (
        ha.join(F.broadcast(hb), F.col("hb.v") <= F.col("ha.v"))
        .groupBy(F.col("ha.v").alias("v"))
        .agg(F.sum("hb.cnt").cast("bigint").alias("cle"))
    )
    med = (
        cum.crossJoin(F.broadcast(m))
        .filter(F.col("cle") >= F.ceil(0.5 * F.col("m")).cast("bigint"))
        .agg(F.min("v").cast("bigint").alias("median_v"))
    )
    sup = med.select(
        F.greatest(
            F.lit(_TRI_SUPPORT).cast("bigint"),
            (_TRI_SUPPORT_MULT * F.col("median_v")).cast("bigint"),
        ).alias("derived_support")
    )
    e = (
        pc.crossJoin(F.broadcast(sup))
        .filter(F.col("n_baskets") >= F.col("derived_support"))
        .select(F.col("item_a").alias("pa"), F.col("item_b").alias("pb"))
    )
    return (
        triangle_participation(e)
        .crossJoin(F.broadcast(sup))
        .orderBy(F.col("n_triangles").desc(), "part")
        .limit(_TRI_TOPK)
    )


# ---------------------------------------------------------------------------
# q137 — association rules (support / confidence / lift) from basket pairs
# ---------------------------------------------------------------------------

_AR_MIN_PAIR = 2   # minimum co-occurrence count for a rule
_AR_TOPK = 25


@register(
    "q137_association_rules",
    f"""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n_orders AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n FROM op),
    item AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_item FROM op GROUP BY l_partkey),
    pair AS (
        SELECT a.l_partkey AS ant, b.l_partkey AS cons, CAST(COUNT(*) AS BIGINT) AS n_pair
        FROM op a JOIN op b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY ant, cons HAVING COUNT(*) >= {_AR_MIN_PAIR}
    )
    SELECT p.ant, p.cons, p.n_pair,
           {_rnd_sql('CAST(p.n_pair AS DOUBLE) / ia.n_item', 6)} AS confidence,
           {_rnd_sql('CAST(p.n_pair AS DOUBLE) * n.n / (ia.n_item * ic.n_item)', 6)} AS lift
    FROM pair p
    JOIN item ia ON p.ant = ia.l_partkey
    JOIN item ic ON p.cons = ic.l_partkey
    CROSS JOIN n_orders n
    ORDER BY lift DESC, ant, cons LIMIT {_AR_TOPK}
    """,
    doc=f"association-rule mining on co-purchases: for pairs sharing >= "
    f"{_AR_MIN_PAIR} orders, confidence(ant->cons) = n_pair/n_ant and "
    f"lift = n_pair*N/(n_ant*n_cons), top-{_AR_TOPK} by lift. The "
    "market-basket layer above q118: pair counts come from the "
    "collect_set/local-explode stream (no fact self-join), per-item "
    "supports share the same distinct (order, part) scan, and the "
    "support threshold prunes the rule space before the ratio math. "
    "Ratios are single divisions on exact integers, half-up 6dp.",
)
def q137_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    op = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    n_orders = op.agg(F.countDistinct("l_orderkey").cast("bigint").alias("n"))
    item = op.groupBy("l_partkey").agg(F.count(F.lit(1)).cast("bigint").alias("n_item"))
    pair = (
        basket_pair_counts(T(spark, sf_dir, "lineitem"), "l_orderkey", "l_partkey")
        .filter(F.col("n_baskets") >= _AR_MIN_PAIR)
        .select(
            F.col("item_a").alias("ant"),
            F.col("item_b").alias("cons"),
            F.col("n_baskets").cast("bigint").alias("n_pair"),
        )
    )
    ia = item.select(F.col("l_partkey").alias("ant"), F.col("n_item").alias("n_ant"))
    ic = item.select(F.col("l_partkey").alias("cons"), F.col("n_item").alias("n_cons"))
    return (
        pair.join(ia, "ant")
        .join(ic, "cons")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "ant",
            "cons",
            "n_pair",
            rnd(F.col("n_pair").cast("double") / F.col("n_ant"), 6).alias("confidence"),
            rnd(
                F.col("n_pair").cast("double") * F.col("n")
                / (F.col("n_ant") * F.col("n_cons")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "ant", "cons")
        .limit(_AR_TOPK)
    )


# ---------------------------------------------------------------------------
# q160 — interval OVERLAP join (both sides are intervals; q59 generalized)
# ---------------------------------------------------------------------------

_OV_GRAIN_S = 300  # 5-minute grains; intervals here span <= 3 grains


@register(
    "q160_interval_overlap_join",
    """
    WITH err AS (
        SELECT user_id, event_id AS error_id, epoch_us(ts) AS a_start,
               epoch_us(ts) + 600000000 AS a_end
        FROM events WHERE event_type = 'error'
    ), pur AS (
        SELECT user_id, event_id AS purchase_id,
               epoch_us(ts) - 300000000 AS b_start,
               epoch_us(ts) + 300000000 AS b_end
        FROM events WHERE event_type = 'purchase'
    )
    SELECT e.error_id, p.purchase_id,
           CAST(LEAST(e.a_end, p.b_end) - GREATEST(e.a_start, p.b_start)
                AS BIGINT) AS overlap_us
    FROM err e JOIN pur p
      ON e.user_id = p.user_id
     AND e.a_start < p.b_end AND p.b_start < e.a_end
    """,
    doc="interval-overlap join: every same-user (error outage window, "
    "purchase risk window) pair whose intervals intersect, with the "
    "exact overlap length — the generalization of q59 (point-in-range) "
    "to interval x interval, which Spark would otherwise plan as a "
    "cartesian theta-join. Decomposition: both sides explode to the "
    "fixed 5-minute grains they touch (bounded by len/grain + 1 rows "
    "each), candidates come from a (user_id, grain) EQUI-join, a pair "
    "spanning several shared grains dedups once, and the exact "
    "predicate + overlap arithmetic run integer-only on microsecond "
    "bounds. The entity key in the join is load-bearing at scale: an "
    "UNKEYED overlap join's true pair count is O(per-grain density^2) "
    "— measured 47x wall on 16x data (SCALE.md) because 16x density "
    "on both sides means ~256x genuinely overlapping pairs; keying by "
    "user bounds density per join group and restores linear growth. "
    "Oracle: the plain theta join.",
)
def q160_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = E(spark, sf_dir)
    us = epoch_us("ts")
    err = e.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("error_id"),
        us.alias("a_start"),
        (us + 600_000_000).alias("a_end"),
    )
    pur = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        (us - 300_000_000).alias("b_start"),
        (us + 300_000_000).alias("b_end"),
    )
    g = _OV_GRAIN_S * 1_000_000

    def gridded(df, s, t, grain_name):
        return df.select(
            "*",
            F.explode(
                F.sequence(
                    F.floor(F.col(s) / g), F.floor((F.col(t) - 1) / g)
                )
            ).alias(grain_name),
        )

    cand = (
        gridded(err, "a_start", "a_end", "grain")
        .join(
            gridded(pur, "b_start", "b_end", "p_grain"),
            (F.col("user_id") == F.col("p_user"))
            & (F.col("grain") == F.col("p_grain")),
        )
        .select("error_id", "purchase_id", "a_start", "a_end", "b_start", "b_end")
        .dropDuplicates(["error_id", "purchase_id"])
    )
    return cand.filter(
        (F.col("a_start") < F.col("b_end")) & (F.col("b_start") < F.col("a_end"))
    ).select(
        "error_id",
        "purchase_id",
        (
            F.least("a_end", "b_end") - F.greatest("a_start", "b_start")
        ).cast("bigint").alias("overlap_us"),
    )


# ---------------------------------------------------------------------------
# q161 — proportional allocation with largest-remainder exactness
# ---------------------------------------------------------------------------


@register(
    "q161_proportional_allocation",
    """
    WITH li AS (
        SELECT l_orderkey, l_linenumber,
               CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS q
        FROM lineitem
    ), o AS (
        SELECT o_orderkey, CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)
               AS total_cents
        FROM orders
    ), base AS (
        SELECT li.l_orderkey, li.l_linenumber, li.q, o.total_cents,
               CAST(SUM(li.q) OVER (PARTITION BY li.l_orderkey) AS BIGINT) AS qsum
        FROM li JOIN o ON li.l_orderkey = o.o_orderkey
    ), shares AS (
        SELECT l_orderkey, l_linenumber,
               total_cents * q // qsum AS floor_cents,
               (total_cents * q) % qsum AS rem,
               CAST(total_cents
                    - SUM(total_cents * q // qsum)
                      OVER (PARTITION BY l_orderkey) AS BIGINT) AS n_extra
        FROM base
    )
    SELECT l_orderkey, l_linenumber,
           CAST(floor_cents
                + CASE WHEN ROW_NUMBER() OVER (
                           PARTITION BY l_orderkey
                           ORDER BY rem DESC, l_linenumber) <= n_extra
                       THEN 1 ELSE 0 END AS BIGINT) AS alloc_cents
    FROM shares
    """,
    doc="pro-rata allocation with largest-remainder exactness: spread "
    "each order's total (integer cents) across its line items "
    "proportionally to quantity so the integer allocations sum to the "
    "order total EXACTLY — floor shares first, then the leftover cents "
    "go to the lines with the largest integer remainders "
    "(deterministic l_linenumber tie-break). Every step is bigint "
    "arithmetic (total*q div Q, total*q mod Q), so both engines agree "
    "bitwise and rounding drift is structurally impossible — the "
    "invoice-splitting / cost-attribution primitive every billing "
    "pipeline needs. Plan: one hash exchange on l_orderkey serves the "
    "quantity sum, the floor-share sum, and the remainder rank (same "
    "partitioning, one sort); the orders join is a fact-fact equi-join "
    "that pre-bucketed tables co-locate (SCALE.md, Joins). Range "
    "bound: total_cents * q <= ~1e10 per row — bigint-safe to "
    "petabyte-scale order values.",
)
def q161_proportional_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    li = T(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.floor(F.col("l_quantity") + 0.5).cast("bigint").alias("q"),
    )
    o = T(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"),
        F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("bigint").alias(
            "total_cents"
        ),
    )
    w_ord = Window.partitionBy("l_orderkey")
    base = li.join(o, "l_orderkey").select(
        "l_orderkey",
        "l_linenumber",
        "q",
        "total_cents",
        F.sum("q").over(w_ord).cast("bigint").alias("qsum"),
    )
    floor_cents = F.expr("total_cents * q div qsum")
    shares = base.select(
        "l_orderkey",
        "l_linenumber",
        floor_cents.alias("floor_cents"),
        ((F.col("total_cents") * F.col("q")) % F.col("qsum")).alias("rem"),
        (
            F.col("total_cents")
            - F.sum(floor_cents).over(w_ord)
        ).cast("bigint").alias("n_extra"),
    )
    w_rank = Window.partitionBy("l_orderkey").orderBy(
        F.col("rem").desc(), F.col("l_linenumber")
    )
    return shares.select(
        "l_orderkey",
        "l_linenumber",
        (
            F.col("floor_cents")
            + F.when(F.row_number().over(w_rank) <= F.col("n_extra"), 1).otherwise(0)
        ).cast("bigint").alias("alloc_cents"),
    )


# ---------------------------------------------------------------------------
# q162 — bounded BFS over the bipartite purchase graph (reach levels)
# ---------------------------------------------------------------------------


@register(
    "q162_bfs_levels",
    """
    WITH inter AS (
        SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ), l0 AS (
        SELECT DISTINCT c FROM inter WHERE c % 50 = 0
    ), l1 AS (
        SELECT DISTINCT i.p FROM inter i JOIN l0 ON i.c = l0.c
    ), l2 AS (
        SELECT DISTINCT i.c FROM inter i JOIN l1 ON i.p = l1.p
        WHERE i.c NOT IN (SELECT c FROM l0)
    ), l3 AS (
        SELECT DISTINCT i.p FROM inter i JOIN l2 ON i.c = l2.c
        WHERE i.p NOT IN (SELECT p FROM l1)
    )
    SELECT 'customer' AS node_type, c AS node_id, CAST(0 AS BIGINT) AS level
    FROM l0
    UNION ALL
    SELECT 'part', p, 1 FROM l1
    UNION ALL
    SELECT 'customer', c, 2 FROM l2
    UNION ALL
    SELECT 'part', p, 3 FROM l3
    """,
    doc="bounded breadth-first search over the bipartite customer-part "
    "purchase graph: seed customers (custkey % 50 = 0), then alternate "
    "hops — parts they bought (level 1), other customers of those "
    "parts (level 2), those customers' parts (level 3) — keeping each "
    "node at its MINIMUM level via anti-joins against the frontier "
    "history. This is the collaborative-filtering neighborhood / "
    "fraud-ring expansion primitive; 'users who bought what you "
    "bought also bought...' is exactly the level-3 frontier. Each hop "
    "is one equi-join on the interaction table + one anti-join "
    "(Pregel superstep as a relational plan, like q115); hop count is "
    "a constant, so lineage depth is fixed. At 100 TB the interaction "
    "table is bucketed on each join side's key (two sort orders / "
    "projections, the standard bipartite layout) and every frontier "
    "is broadcast-sized relative to it. Oracle: unrolled CTE hops.",
)
def q162_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c"), "o_orderkey"
    )
    l = T(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), F.col("l_partkey").alias("p")
    )
    inter = o.join(l, "o_orderkey").select("c", "p").distinct().localCheckpoint()
    l0 = inter.filter(F.col("c") % 50 == 0).select("c").distinct()
    l1 = inter.join(l0, "c").select("p").distinct()
    l2 = (
        inter.join(l1, "p")
        .select("c")
        .distinct()
        .join(l0, "c", "left_anti")
    )
    l3 = (
        inter.join(l2, "c")
        .select("p")
        .distinct()
        .join(l1, "p", "left_anti")
    )
    lvl = F.lit
    return (
        l0.select(F.lit("customer").alias("node_type"), F.col("c").alias("node_id"),
                  lvl(0).cast("bigint").alias("level"))
        .unionByName(l1.select(F.lit("part").alias("node_type"),
                               F.col("p").alias("node_id"),
                               lvl(1).cast("bigint").alias("level")))
        .unionByName(l2.select(F.lit("customer").alias("node_type"),
                               F.col("c").alias("node_id"),
                               lvl(2).cast("bigint").alias("level")))
        .unionByName(l3.select(F.lit("part").alias("node_type"),
                               F.col("p").alias("node_id"),
                               lvl(3).cast("bigint").alias("level")))
    )


# ---------------------------------------------------------------------------
# q169 — bounded hierarchy rollup (BOM / org-tree subtree aggregation)
# ---------------------------------------------------------------------------

_ROLLUP_DEPTH = 3  # aggregate each node over descendants within 3 levels


@register(
    "q169_hierarchy_rollup",
    f"""
    WITH contrib AS (
        SELECT unnest(list_distinct([
                   p_partkey, p_partkey // 2, p_partkey // 4, p_partkey // 8
               ])) AS anc,
               CAST(FLOOR(p_retailprice * 100.0 + 0.5) AS BIGINT) AS cents
        FROM part
    )
    SELECT anc AS part_id,
           CAST(COUNT(*) AS BIGINT) AS n_desc,
           CAST(SUM(cents) AS BIGINT) AS subtree_cents
    FROM contrib GROUP BY anc
    """,
    doc="bounded hierarchy rollup: each part aggregates retail price "
    "over its subtree within 3 levels, on the synthetic binary tree "
    "parent(p) = p div 2 (the testdata has no hierarchy; the derived "
    "one is deterministic in both engines). The BOM / org-chart "
    "subtree-total shape — and the plan is the interesting part: "
    "instead of iterating child->parent joins, every node EXPLODES its "
    "own bounded ancestor path (p >> 0..3, list_distinct for the "
    "root's self-loops) and one groupBy(ancestor) folds the rollup — "
    "depth-k subtree aggregation as ONE partial-aggregated exchange "
    "with k+1 rows per node, no loop, no lineage growth. Prices enter "
    "as exact integer cents. Unbounded-depth rollups switch to q62's "
    "pointer-jumping (O(log depth) rounds); for the bounded window "
    "every BI tool actually asks for, the explode form is strictly "
    "better at any scale.",
)
def q169_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = T(spark, sf_dir, "part").select(
        "p_partkey",
        F.floor(F.col("p_retailprice") * 100.0 + 0.5).cast("bigint").alias("cents"),
    )
    anc = F.array_distinct(
        F.array(
            F.col("p_partkey"),
            F.expr("p_partkey div 2"),
            F.expr("p_partkey div 4"),
            F.expr("p_partkey div 8"),
        )
    )
    contrib = p.select(F.explode(anc).alias("anc"), "cents")
    return contrib.groupBy(F.col("anc").alias("part_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_desc"),
        F.sum("cents").cast("bigint").alias("subtree_cents"),
    )


# ---------------------------------------------------------------------------
# q171 — link prediction: neighbor-set Jaccard over the purchase graph
# ---------------------------------------------------------------------------

_LP_MIN_COMMON = 3


@register(
    "q171_link_prediction",
    f"""
    WITH inter AS (
        SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ), deg AS (
        SELECT c, CAST(COUNT(*) AS BIGINT) AS d FROM inter GROUP BY c
    ), common AS (
        SELECT a.c AS c1, b.c AS c2, CAST(COUNT(*) AS BIGINT) AS cn
        FROM inter a JOIN inter b ON a.p = b.p AND a.c < b.c
        GROUP BY a.c, b.c
        HAVING COUNT(*) >= {_LP_MIN_COMMON}
    )
    SELECT m.c1, m.c2, m.cn AS n_common,
           {_rnd_sql("CAST(m.cn AS DOUBLE) / (d1.d + d2.d - m.cn)", 4)}
               AS jaccard
    FROM common m
    JOIN deg d1 ON m.c1 = d1.c
    JOIN deg d2 ON m.c2 = d2.c
    """,
    doc="link prediction over the bipartite purchase graph: for every "
    "customer pair with >= 3 parts in common, the Jaccard similarity "
    "of their neighbor (part) sets — the classic common-neighbors "
    "feature a recommender or fraud-ring model scores candidate edges "
    "with (q162 finds WHO is reachable; this scores HOW ALIKE they "
    "buy). Counts are exact integers; the score is one division, "
    "rounded 4dp. Plan: the distinct interaction scan is shared by the "
    "degree aggregate and the part-keyed self-join; the join's pair "
    "stream is support-pruned by the HAVING before the degree joins "
    "(left to AQE: degree cardinality is the customer count, so a "
    "forced broadcast would not survive large SF). At 100 TB "
    "the self-join is bounded by part popularity: hub parts (bought by "
    "everyone) would contribute quadratic pairs and zero signal, so "
    "production first caps part degree (drop the top-percentile hubs, "
    "exactly q137's support-prune argument) — same plan, one extra "
    "filter on a part-degree aggregate.",
    tier="on_change_only",  # guarded twins: q173 (fixed cap), q194 (adaptive)
)
def q171_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    return link_prediction_pairs(spark, sf_dir, part_degree_cap=None)


def link_prediction_pairs(
    spark: SparkSession, sf_dir: str, part_degree_cap: int | None
) -> DataFrame:
    """Shared q171/q173 plan; ``part_degree_cap`` drops hub parts (those
    bought by more than ``cap`` distinct customers) BEFORE the part-keyed
    self-join, bounding per-part pair fan-out to cap² — the production
    scale guard q171's docstring argues for. Degrees are recomputed over
    the capped interaction set, so the Jaccard is the similarity of the
    hub-free neighbor sets (consistent drop-then-score semantics);
    ``None`` reproduces q171 exactly (tested: equal when cap >= max part
    degree)."""
    o = T(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c"), "o_orderkey"
    )
    l = T(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), F.col("l_partkey").alias("p")
    )
    inter = o.join(l, "o_orderkey").select("c", "p").distinct().localCheckpoint()
    if part_degree_cap is not None:
        pdeg = inter.groupBy("p").agg(F.count(F.lit(1)).alias("pd"))
        # checkpoint the capped set for the same reason as q194's: it
        # feeds deg + both self-join sides, and the cap join otherwise
        # recomputes per consumer
        inter = (
            inter.join(pdeg.filter(F.col("pd") <= part_degree_cap), "p")
            .select("c", "p")
            .localCheckpoint()
        )
    deg = inter.groupBy("c").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    a = inter.select(F.col("c").alias("c1"), "p")
    b = inter.select(F.col("c").alias("c2"), "p")
    common = (
        a.join(b, "p")
        .filter(F.col("c1") < F.col("c2"))
        .groupBy("c1", "c2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
        .filter(F.col("n_common") >= _LP_MIN_COMMON)
    )
    d1 = deg.select(F.col("c").alias("c1"), F.col("d").alias("d1"))
    d2 = deg.select(F.col("c").alias("c2"), F.col("d").alias("d2"))
    # no broadcast hint: degree cardinality equals the customer count, so
    # forcing a broadcast would OOM the driver at large SF — AQE picks
    # broadcast on its own when the degree frame is actually small
    out = common.join(d1, "c1").join(d2, "c2")
    jac = F.col("n_common").cast("double") / (
        F.col("d1") + F.col("d2") - F.col("n_common")
    )
    return out.select("c1", "c2", "n_common", rnd(jac, 4).alias("jaccard"))


_LP_CAP = 40  # > p95 part degree at every tested SF (39 at sf0.01/sf0.1)


@register(
    "q173_link_prediction_capped",
    f"""
    WITH inter0 AS (
        SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ), pdeg AS (
        SELECT p, COUNT(*) AS pd FROM inter0 GROUP BY p
    ), inter AS (
        SELECT i.c, i.p FROM inter0 i JOIN pdeg g ON i.p = g.p
        WHERE g.pd <= {_LP_CAP}
    ), deg AS (
        SELECT c, CAST(COUNT(*) AS BIGINT) AS d FROM inter GROUP BY c
    ), common AS (
        SELECT a.c AS c1, b.c AS c2, CAST(COUNT(*) AS BIGINT) AS cn
        FROM inter a JOIN inter b ON a.p = b.p AND a.c < b.c
        GROUP BY a.c, b.c
        HAVING COUNT(*) >= {_LP_MIN_COMMON}
    )
    SELECT m.c1, m.c2, m.cn AS n_common,
           {_rnd_sql("CAST(m.cn AS DOUBLE) / (d1.d + d2.d - m.cn)", 4)}
               AS jaccard
    FROM common m
    JOIN deg d1 ON m.c1 = d1.c
    JOIN deg d2 ON m.c2 = d2.c
    """,
    doc="q171 with the production hub guard REGISTERED and oracle-checked "
    "rather than documented: parts bought by more than 40 distinct "
    "customers (just above the p95 part degree, stable across SF) are "
    "dropped before the part-keyed self-join, so per-part pair fan-out "
    "is bounded by cap² regardless of corpus size — on a real "
    "co-purchase graph a hub item (bought by everyone) contributes "
    "quadratic pairs and zero similarity signal, exactly q137's "
    "support-prune argument. Degrees are recomputed over the capped "
    "interaction set (drop-then-score). With cap >= max part degree "
    "this equals q171 row-for-row (equivalence-tested), making the cap "
    "a pure scale guard, not a semantic fork. Plan: one extra "
    "part-keyed aggregate + semi-join shaped filter on the shared "
    "distinct-interaction scan; degree joins left to AQE like q171. "
    "Measured at 10x density (SCALE.md round-7): uncapped q171 grows "
    "64x (211.5 s, pair volume is sum of d_p^2); the fixed cap holds "
    "the job at 3.2 s. Production sets the cap from the corpus's "
    "observed degree distribution (p95-style); a percentile cap guards "
    "the HUB TAIL — under uniform density growth the companion valve "
    "is scaling _LP_MIN_COMMON with density, q126's measured rule.",
)
def q173_link_prediction_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    return link_prediction_pairs(spark, sf_dir, part_degree_cap=_LP_CAP)


# ---------------------------------------------------------------------------
# q194 — adaptive-cap link prediction: derive the hub cap from the observed
#         degree distribution (the production form SCALE.md argues for)
# ---------------------------------------------------------------------------

_LP_CAP_PCT = 0.95


@register(
    "q194_link_prediction_adaptive",
    f"""
    WITH inter AS (
        SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ), pdeg AS (
        SELECT p, CAST(COUNT(*) AS BIGINT) AS pd FROM inter GROUP BY p
    ), hist AS (
        SELECT pd AS v, CAST(COUNT(*) AS BIGINT) AS cnt FROM pdeg GROUP BY pd
    ), m AS (
        SELECT CAST(SUM(cnt) AS BIGINT) AS m FROM hist
    ), cum AS (
        SELECT a.v, CAST(SUM(b.cnt) AS BIGINT) AS cle
        FROM hist a JOIN hist b ON b.v <= a.v GROUP BY a.v
    ), cap AS (
        SELECT CAST(MIN(v) AS BIGINT) AS derived_cap
        FROM cum CROSS JOIN m
        WHERE cle >= CAST(CEIL({_LP_CAP_PCT} * m) AS BIGINT)
    ), capped AS (
        SELECT i.c, i.p
        FROM inter i JOIN pdeg g ON i.p = g.p CROSS JOIN cap
        WHERE g.pd <= derived_cap
    ), deg AS (
        SELECT c, CAST(COUNT(*) AS BIGINT) AS d FROM capped GROUP BY c
    ), common AS (
        SELECT a.c AS c1, b.c AS c2, CAST(COUNT(*) AS BIGINT) AS cn
        FROM capped a JOIN capped b ON a.p = b.p AND a.c < b.c
        GROUP BY a.c, b.c
        HAVING COUNT(*) >= {_LP_MIN_COMMON}
    )
    SELECT m.c1, m.c2, m.cn AS n_common,
           {_rnd_sql("CAST(m.cn AS DOUBLE) / (d1.d + d2.d - m.cn)", 4)}
               AS jaccard,
           (SELECT derived_cap FROM cap) AS derived_cap
    FROM common m
    JOIN deg d1 ON m.c1 = d1.c
    JOIN deg d2 ON m.c2 = d2.c
    """,
    doc="the production form of q173: instead of a FIXED hub cap (which "
    "SCALE.md measured going degenerate when the whole degree "
    "distribution shifts — every part exceeded 40 at sf1 and the graph "
    "zeroed), the cap is DERIVED per corpus snapshot as the exact p95 "
    "of the part-degree distribution: rank-free, computed from the "
    "degree HISTOGRAM (distinct degree values — model-state-sized) via "
    "a histogram self-join cumulative count, so no global window and "
    "no sort touches data-scale rows. The 1-row cap broadcasts into "
    "the hub filter; everything downstream is q171's shared plan with "
    "per-part fan-out bounded by cap². Degrees recomputed over the "
    "capped set (drop-then-score, q173's semantics). Emitting "
    "derived_cap makes the guard auditable — at sf1's 10x density the "
    "cap self-adjusts to ~390 and the job stays bounded (SCALE.md "
    "round-7 table) where the fixed cap returned an empty graph. "
    "Measured growth (r9 ladder, SCALE.md): under density growth where "
    "raw pair volume is exactly quadratic (16x at 4 replicas), wall "
    "time fits alpha=1.24 for BOTH the capped and uncapped forms - "
    "map-side combine absorbs most of the pair growth at this scale; "
    "the cap's role is the hub-tail bound on power-law corpora and a "
    "measured ~15% edge at the sf1 coherent layout.",
    # Bench contrast: derived valve vs fixed/uncapped: ~1.2 at sf0.1 (baseline
    # density: the valve derivation costs a model-state pass and prunes
    # nothing) and <1 under density stress (sf1: q198/q126 measured 0.21x).
    # The valve is insurance priced at ~20% of a cheap query, paying off 5x on
    # the layout that needs it.
    contrast_of="q171_link_prediction",
)
def q194_link_prediction_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c"), "o_orderkey"
    )
    l = T(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), F.col("l_partkey").alias("p")
    )
    inter = o.join(l, "o_orderkey").select("c", "p").distinct().localCheckpoint()
    pdeg = inter.groupBy("p").agg(F.count(F.lit(1)).cast("bigint").alias("pd"))
    hist = pdeg.groupBy(F.col("pd").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    m = hist.agg(F.sum("cnt").cast("bigint").alias("m"))
    ha, hb = hist.alias("ha"), hist.alias("hb")
    cum = (
        ha.join(F.broadcast(hb), F.col("hb.v") <= F.col("ha.v"))
        .groupBy(F.col("ha.v").alias("v"))
        .agg(F.sum("hb.cnt").cast("bigint").alias("cle"))
    )
    cap = (
        cum.crossJoin(F.broadcast(m))
        .filter(
            F.col("cle") >= F.ceil(_LP_CAP_PCT * F.col("m")).cast("bigint")
        )
        .agg(F.min("v").cast("bigint").alias("derived_cap"))
    )
    # capped feeds three consumers (deg + both self-join sides); without a
    # checkpoint the inter⋈pdeg join recomputes per consumer — measured
    # min-of-2 at sf0.1: 5.58 s → 4.99 s, cold pass 9.98 s → 5.65 s
    capped = (
        inter.join(pdeg, "p")
        .crossJoin(F.broadcast(cap))
        .filter(F.col("pd") <= F.col("derived_cap"))
        .select("c", "p")
        .localCheckpoint()
    )
    deg = capped.groupBy("c").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    a = capped.select(F.col("c").alias("c1"), "p")
    b = capped.select(F.col("c").alias("c2"), "p")
    common = (
        a.join(b, "p")
        .filter(F.col("c1") < F.col("c2"))
        .groupBy("c1", "c2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
        .filter(F.col("n_common") >= _LP_MIN_COMMON)
    )
    d1 = deg.select(F.col("c").alias("c1"), F.col("d").alias("d1"))
    d2 = deg.select(F.col("c").alias("c2"), F.col("d").alias("d2"))
    out = common.join(d1, "c1").join(d2, "c2")
    jac = F.col("n_common").cast("double") / (
        F.col("d1") + F.col("d2") - F.col("n_common")
    )
    return out.select(
        "c1", "c2", "n_common", rnd(jac, 4).alias("jaccard")
    ).crossJoin(F.broadcast(cap))


# ---------------------------------------------------------------------------
# q205 — join-skew plan: per-key output contribution + derived salt factors
#         for the event-stream self-join (the pre-flight shuffle planner)
# ---------------------------------------------------------------------------

_SKEW_TARGET_ROWS = 100_000  # pair rows one task should own after salting
_SKEW_TOPK = 20


@register(
    "q205_join_skew_plan",
    f"""
    WITH deg AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY user_id
    ), contrib AS (
        SELECT user_id, c, c * c AS pair_rows FROM deg
    ), tot AS (
        SELECT CAST(SUM(pair_rows) AS BIGINT) AS total_pair_rows,
               CAST(SUM(c * c * c * c) AS DOUBLE)
                   / (CAST(SUM(c * c) AS DOUBLE) * SUM(c * c)) AS hhi
        FROM contrib
    )
    SELECT k.user_id, k.c AS n_rows, k.pair_rows,
           {_rnd_sql("CAST(k.pair_rows AS DOUBLE) / t.total_pair_rows", 6)}
               AS contrib_share,
           CAST(CEIL(CAST(k.pair_rows AS DOUBLE) / {_SKEW_TARGET_ROWS}) AS BIGINT)
               AS salt_factor,
           t.total_pair_rows,
           {_rnd_sql("t.hhi", 6)} AS hhi
    FROM contrib k CROSS JOIN tot t
    ORDER BY k.pair_rows DESC, k.user_id
    LIMIT {_SKEW_TOPK}
    """,
    doc="pre-flight shuffle planner for a key-skewed self-join: before "
    "running the user-keyed event self-join (the q114/q84 shape), one "
    "partial-agg pass over the fact computes each key's join OUTPUT "
    "contribution (c², the rows that key alone fans out), the corpus "
    "total, the Herfindahl concentration index of pair-row mass "
    "(HHI -> 1 means one user owns the join), and a DERIVED per-key "
    "salt factor ceil(c²/target) — the q107 salted-join replication "
    "knob computed from the data instead of guessed, the same "
    "derive-the-valve pattern as q194's cap and q198's support. Output "
    "is the top-20 contributors plus the global stats every row "
    "carries. Exactness: contributions are pure integer arithmetic; "
    "HHI is one double division of two exact integer sums — the c^4 "
    "sum widens to decimal(38,0) BEFORE aggregating (per-key c^4 fits "
    "bigint for c < ~55 k, but the cross-key aggregate does not; "
    "DuckDB's HUGEINT sum is the oracle twin). Plan: ONE groupBy(user_id) "
    "partial agg (map-side combined), a 1-row broadcast for the "
    "totals, TakeOrderedAndProject for the top-k — the planner costs "
    "one linear scan regardless of how skewed the join it plans would "
    "be. At 100 TB this is the cheap pass you ALWAYS run before a "
    "fact-fact join; its salt map feeds q107's split execution. "
    "Measured r9 growth ladder: flat (alpha -0.05) at 1-4 replicas "
    "(SCALE.md).",
)
def q205_join_skew_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    deg = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    contrib = deg.select(
        "user_id", F.col("c").alias("n_rows"), (F.col("c") * F.col("c")).alias("pair_rows")
    )
    c2 = F.col("pair_rows").cast("double")
    # c^4 summed in decimal(38,0): per-key c^4 fits bigint for c < ~55k,
    # but the AGGREGATE sum across keys can pass 2^63 long before any
    # single key does (100k keys at c~5k ≈ 6e19). DuckDB's oracle sums
    # in HUGEINT; a bigint sum here would wrap silently in non-ANSI
    # mode, so the exact widening happens before the cast to double.
    tot = contrib.agg(
        F.sum("pair_rows").cast("bigint").alias("total_pair_rows"),
        (
            F.sum(
                F.col("pair_rows").cast("decimal(38,0)") * F.col("pair_rows")
            ).cast("double")
            / (
                F.sum("pair_rows").cast("double")
                * F.sum("pair_rows").cast("double")
            )
        ).alias("hhi_raw"),
    )
    out = contrib.crossJoin(F.broadcast(tot))
    share = rnd(c2 / F.col("total_pair_rows").cast("double"), 6)
    salt = F.ceil(c2 / F.lit(float(_SKEW_TARGET_ROWS))).cast("bigint")
    return (
        out.select(
            "user_id",
            "n_rows",
            "pair_rows",
            share.alias("contrib_share"),
            salt.alias("salt_factor"),
            "total_pair_rows",
            rnd(F.col("hhi_raw"), 6).alias("hhi"),
        )
        .orderBy(F.col("pair_rows").desc(), "user_id")
        .limit(_SKEW_TOPK)
    )
