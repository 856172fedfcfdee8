"""Event-time windowing over the ``events`` table — the batch-mode
equivalents of the streaming surface (SURVEY.md §2.9): tumbling, sliding
and session windows plus JSON property extraction.

``F.window`` / ``F.session_window`` on a batch DataFrame produce exactly
the same assignments Structured Streaming produces per micro-batch, which
is what makes these oracle-checkable; the live ``readStream`` path reuses
the same expressions (etl_entregas_pyspark_spark.streaming).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_entregas_pyspark_spark.queries.registry import register
from etl_entregas_pyspark_spark.queries.relational import _dsum_sql, _rnd_sql, dsum, rnd
from etl_entregas_pyspark_spark.timeutil import epoch_us, epoch_us_sql


def E(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table with a proper timestamp column.

    The driver's parquet stores ``ts`` as TIMESTAMP(NANOS), which Spark's
    parquet reader rejects; with ``parquet.nanosAsLong`` it arrives as a
    bigint of epoch-nanos, converted here to a micros timestamp by
    truncation — exactly what DuckDB's reader does natively, so both
    engines see identical values."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(df.dtypes)["ts"] == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


@register(
    "q30_events_tumbling",
    f"""
    SELECT DATE_TRUNC('hour', ts) AS window_start, event_type,
           COUNT(*) AS n_events,
           {_dsum_sql('value', 6)} AS total_value
    FROM events GROUP BY 1, 2
    """,
    doc="1-hour tumbling window aggregation per event type",
)
def q30_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = E(spark, sf_dir)
    return (
        e.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            dsum(F.col("value"), 6).alias("total_value"),
        )
        .select(F.col("window.start").alias("window_start"), "event_type", "n_events", "total_value")
    )


@register(
    "q31_events_sliding",
    f"""
    WITH assigned AS (
        SELECT time_bucket(INTERVAL '30 minutes', ts) AS window_start, value FROM events
        UNION ALL
        SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes' AS window_start, value FROM events
    )
    SELECT window_start, COUNT(*) AS n_events,
           {_dsum_sql('value', 6)} AS total_value
    FROM assigned GROUP BY window_start
    """,
    doc="sliding window (1h size, 30m slide): every event lands in exactly two windows",
    tier="basic",
)
def q31_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = E(spark, sf_dir)
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes"))
        .agg(
            F.count("*").alias("n_events"),
            dsum(F.col("value"), 6).alias("total_value"),
        )
        .select(F.col("window.start").alias("window_start"), "n_events", "total_value")
    )


@register(
    "q32_events_session",
    f"""
    WITH marked AS (
        SELECT user_id, ts, value,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR ts - LAG(ts) OVER w >= INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sessions AS (
        SELECT user_id, ts, value,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM marked
    )
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events,
           {_dsum_sql('value', 6)} AS total_value
    FROM sessions GROUP BY user_id, session_id
    """,
    doc="session windows (30-minute inactivity gap, exclusive end — Spark session_window semantics) "
    "oracle-checked against a lag/cumsum sessionization",
)
def q32_events_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = E(spark, sf_dir)
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.count("*").alias("n_events"),
            dsum(F.col("value"), 6).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
            "total_value",
        )
    )


@register(
    "q33_events_json",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
    FROM events GROUP BY event_type
    """,
    doc="semi-structured JSON property extraction + aggregation",
    tier="basic",
)
def q33_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = E(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("bigint")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(k).alias("sum_k"),
        F.max(k).alias("max_k"),
    )


# ---------------------------------------------------------------------------
# q79 — skew-safe two-phase aggregation (salted), proven ≡ plain groupBy
# ---------------------------------------------------------------------------

@register(
    "q79_salted_aggregate",
    f"""
    SELECT event_type,
           COUNT(*) AS n_events,
           {_dsum_sql('value', 6)} AS total_value,
           CAST(MAX(user_id) AS BIGINT) AS max_user
    FROM events GROUP BY event_type
    """,
    doc="hot-key-safe aggregation: 5 event types over the whole fact table "
    "is the canonical skew shape (one reducer per key pins the stage). "
    "operators/skew.salted_aggregate shuffles phase 1 on (key, salt) — the "
    "hot key spreads over 16 reducers — and phase 2 merges the ≤16 "
    "partials per key. The oracle is the PLAIN group-by: the salted plan "
    "must be bit-identical to the naive one (merge-decomposable "
    "aggregates; deterministic scaled-int sums are order-independent).",
)
def q79_salted_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_entregas_pyspark_spark.operators.skew import salted_aggregate

    e = (
        E(spark, sf_dir)
        .withColumn("v6", F.floor(F.col("value") * 1_000_000.0).cast("long"))
        # count on a literal-1 column: F.count(col) skips NULLs, and the
        # oracle is COUNT(*) — a NULL event_id must still count
        .withColumn("one", F.lit(1))
    )
    out = salted_aggregate(
        e,
        keys=["event_type"],
        aggs={
            "n_events": ("one", "count"),
            "sum_v6": ("v6", "sum"),
            "max_user": ("user_id", "max"),
        },
        n_salts=16,
    )
    return out.select(
        "event_type",
        "n_events",
        (F.col("sum_v6").cast("double") / 1_000_000.0).alias("total_value"),
        F.col("max_user").cast("bigint").alias("max_user"),
    )


# ---------------------------------------------------------------------------
# q80 — latest record per key (CDC snapshot / upsert-compaction pattern)
# ---------------------------------------------------------------------------

@register(
    "q80_latest_per_key",
    """
    SELECT user_id, event_id AS last_event_id, ts AS last_ts, event_type AS last_type
    FROM (
        SELECT user_id, event_id, ts, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
    doc="latest record per key (the CDC/upsert snapshot compaction): "
    "row_number over (key ORDER BY ts DESC, id DESC) = 1 — one hash "
    "shuffle on the key, per-partition sort bounded by per-key row "
    "counts; the deterministic id tie-break makes concurrent same-ts "
    "updates reproducible",
)
def q80_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = E(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        e.select("user_id", "event_id", "ts", "event_type", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("ts").alias("last_ts"),
            F.col("event_type").alias("last_type"),
        )
    )


# ---------------------------------------------------------------------------
# q83 — gap-based sessionization (the classic stream-analytics operator)
# ---------------------------------------------------------------------------

_SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 minutes, in epoch-micros


def sessionize(e: DataFrame, gap_us: int = _SESSION_GAP_US) -> DataFrame:
    """Assign gap-based session ids (1-based per user, time-ordered).

    Expects ``user_id``, ``ts`` (timestamp) and ``event_id`` (unique
    tie-break) columns; returns (user_id, ts, session_id). Both windows
    and any later (user_id, session_id) aggregate share a single hash
    exchange on user_id. Property-tested against a brute-force Python
    model in tests/test_operator_properties.py."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = epoch_us("ts") - F.lag(epoch_us("ts")).over(w)
    new_sess = F.when(gap.isNull() | (gap > gap_us), 1).otherwise(0)
    return e.select(
        "user_id",
        "ts",
        F.sum(new_sess).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).cast("bigint").alias("session_id"),
    )


@register(
    "q83_sessionization",
    f"""
    WITH ordered AS (
        SELECT user_id, event_id, ts,
               epoch_us(ts) - LAG(epoch_us(ts)) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        FROM events
    ), flagged AS (
        SELECT user_id, event_id, ts,
               CASE WHEN gap_us IS NULL OR gap_us > {_SESSION_GAP_US}
                    THEN 1 ELSE 0 END AS new_sess
        FROM ordered
    ), sess AS (
        SELECT user_id, ts,
               CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM flagged
    )
    SELECT user_id, session_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN(ts) AS session_start,
           CAST((epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 1000000 AS BIGINT) AS duration_sec
    FROM sess GROUP BY user_id, session_id
    """,
    doc="gap-based sessionization: a new session starts after a >30-min "
    "silence per user (lag over (user ORDER BY ts, id), running sum of "
    "boundary flags = session_id). ONE hash exchange on user_id serves "
    "the lag window, the running-sum window AND the per-session "
    "aggregate (HashPartitioning(user_id) satisfies the (user_id, "
    "session_id) clustering), so the whole operator is scan + one "
    "shuffle; per-partition sort cost is bounded by per-user event "
    "counts. Batch twin of the streaming session_window/ "
    "applyInPandasWithState path (streaming/stateful.py).",
)
def q83_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    sess = sessionize(E(spark, sf_dir))
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.min("ts").alias("session_start"),
        ((epoch_us(F.max("ts")) - epoch_us(F.min("ts"))) / F.lit(1_000_000))
        .cast("bigint")
        .alias("duration_sec"),
    )


# ---------------------------------------------------------------------------
# q84 — strictly-ordered funnel (view → click → purchase)
# ---------------------------------------------------------------------------

def funnel_stages(e: DataFrame) -> DataFrame:
    """Per-user strictly-ordered funnel timestamps: first 'view', first
    'click' after it, first 'purchase' after that click (NULL where a
    stage was never reached in order). Three unbounded conditional-min
    windows sharing one hash exchange on user_id. Property-tested
    against a brute-force Python model in
    tests/test_operator_properties.py."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id")
    t_view = F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    s1 = e.select("user_id", "ts", "event_type", t_view.alias("t_view"))
    t_click = F.min(
        F.when((F.col("event_type") == "click") & (F.col("ts") > F.col("t_view")), F.col("ts"))
    ).over(w)
    s2 = s1.select("user_id", "ts", "event_type", "t_view", t_click.alias("t_click"))
    t_purchase = F.min(
        F.when(
            (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t_click")), F.col("ts")
        )
    ).over(w)
    s3 = s2.select("user_id", "t_view", "t_click", t_purchase.alias("t_purchase"))
    return s3.groupBy("user_id").agg(
        F.min("t_view").alias("t_view"),
        F.min("t_click").alias("t_click"),
        F.min("t_purchase").alias("t_purchase"),
    )


@register(
    "q84_funnel",
    """
    WITH s1 AS (
        SELECT user_id, ts, event_type,
               MIN(CASE WHEN event_type = 'view' THEN ts END)
                   OVER (PARTITION BY user_id) AS t_view
        FROM events
    ), s2 AS (
        SELECT user_id, ts, event_type, t_view,
               MIN(CASE WHEN event_type = 'click' AND ts > t_view THEN ts END)
                   OVER (PARTITION BY user_id) AS t_click
        FROM s1
    ), s3 AS (
        SELECT user_id, t_view, t_click,
               MIN(CASE WHEN event_type = 'purchase' AND ts > t_click THEN ts END)
                   OVER (PARTITION BY user_id) AS t_purchase
        FROM s2
    ), per_user AS (
        SELECT user_id, MIN(t_view) AS t_view, MIN(t_click) AS t_click,
               MIN(t_purchase) AS t_purchase
        FROM s3 GROUP BY user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(COUNT(t_view) AS BIGINT) AS n_view,
           CAST(COUNT(t_click) AS BIGINT) AS n_click_after_view,
           CAST(COUNT(t_purchase) AS BIGINT) AS n_purchase_after_click
    FROM per_user
    """,
    doc="strictly-ordered 3-stage funnel: first 'view', first 'click' "
    "AFTER that view, first 'purchase' AFTER that click — exact ordered "
    "semantics (not the min-per-stage approximation, which overcounts "
    "when a click precedes the first view). Three unbounded-frame "
    "conditional-min windows share ONE hash exchange on user_id; the "
    "final global count is a two-phase partial aggregate of four "
    "counters, so the reduce step moves 4 numbers per partition.",
)
def q84_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_user = funnel_stages(E(spark, sf_dir))
    return per_user.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.count("t_view").cast("bigint").alias("n_view"),
        F.count("t_click").cast("bigint").alias("n_click_after_view"),
        F.count("t_purchase").cast("bigint").alias("n_purchase_after_click"),
    )


# ---------------------------------------------------------------------------
# q94 — SCD Type-2 validity intervals from a change stream
# ---------------------------------------------------------------------------

@register(
    "q94_scd2_intervals",
    """
    SELECT user_id, event_type AS state, ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
               AS is_current
    FROM events
    """,
    doc="slowly-changing-dimension Type-2 build: each change record "
    "becomes a validity interval [valid_from, valid_to) via lead() over "
    "(key ORDER BY ts, id), open-ended latest row flagged is_current — "
    "the standard dimension-history table a warehouse derives from a "
    "CDC/event stream. One hash exchange on the key, per-partition sort "
    "bounded by per-entity history; composes with q80 (latest-per-key "
    "snapshot) as the two materializations of the same change stream.",
)
def q94_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = E(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    valid_to = F.lead("ts").over(w)
    return e.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.col("ts").alias("valid_from"),
        valid_to.alias("valid_to"),
        valid_to.isNull().alias("is_current"),
    )


# ---------------------------------------------------------------------------
# q98 — cohort retention matrix
# ---------------------------------------------------------------------------

@register(
    "q98_cohort_retention",
    """
    WITH first AS (
        SELECT user_id, CAST(DATE_TRUNC('day', MIN(ts)) AS TIMESTAMP) AS cohort
        FROM events GROUP BY user_id
    ), act AS (
        SELECT DISTINCT user_id, CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS d
        FROM events
    )
    SELECT f.cohort,
           CAST((epoch_us(a.d) - epoch_us(f.cohort)) // 86400000000 AS BIGINT)
               AS day_offset,
           CAST(COUNT(*) AS BIGINT) AS n_active
    FROM act a JOIN first f ON a.user_id = f.user_id
    GROUP BY f.cohort, day_offset
    """,
    doc="cohort retention matrix: users bucketed by first-activity day, "
    "counted once per (cohort, day-offset) they were active on. Offsets "
    "are integer epoch-micro arithmetic on truncated timestamps "
    "(identical across engines — no calendar-diff ambiguity). Three "
    "aggregates all keyed on user_id share one exchange (first-touch, "
    "distinct activity, and the join); the final matrix is cohorts × "
    "offsets — tiny regardless of event volume. Day grain matches the "
    "testdata's one-month span; the grain is a drop-in constant.",
)
def q98_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = E(spark, sf_dir)
    first = e.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort")
    )
    act = e.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("d")
    ).distinct()
    offset = ((epoch_us("d") - epoch_us("cohort")) / F.lit(86_400_000_000)).cast(
        "bigint"
    )
    return (
        act.join(first, "user_id")
        .groupBy("cohort", offset.alias("day_offset"))
        .agg(F.count("*").cast("bigint").alias("n_active"))
    )


# ---------------------------------------------------------------------------
# q99 — RFM segmentation (percentile thresholds, windowless scale path)
# ---------------------------------------------------------------------------

_RFM_PCT = 0.8


@register(
    "q99_rfm_segments",
    f"""
    WITH per_user AS (
        SELECT user_id,
               MAX(epoch_us(ts)) AS last_us,
               CAST(COUNT(*) AS BIGINT) AS frequency,
               CAST(SUM(CAST(FLOOR(value * 1000000.0) AS BIGINT)) AS DOUBLE)
                   / 1000000.0 AS monetary
        FROM events GROUP BY user_id
    ), anchored AS (
        SELECT user_id,
               CAST(((SELECT MAX(last_us) FROM per_user) - last_us) // 86400000000
                    AS BIGINT) AS recency_days,
               frequency, monetary
        FROM per_user
    ), th AS (
        SELECT quantile_cont(CAST(recency_days AS DOUBLE), {_RFM_PCT}) AS r80,
               quantile_cont(CAST(frequency AS DOUBLE), {_RFM_PCT}) AS f80,
               quantile_cont(monetary, {_RFM_PCT}) AS m80
        FROM anchored
    )
    SELECT a.user_id, a.recency_days, a.frequency, a.monetary,
           a.recency_days <= th.r80 AS r_active,
           a.frequency >= th.f80 AS f_high,
           a.monetary >= th.m80 AS m_high
    FROM anchored a, th
    """,
    doc=f"RFM segmentation: per-user recency (days since last event, "
    "anchored to the corpus max so replays reproduce), frequency, and "
    "integer-quantized monetary total, flagged against exact "
    f"{_RFM_PCT:.0%} percentile thresholds. The thresholds come from "
    "Spark `percentile` over the PER-USER frame (cardinality = users, "
    "already aggregated — never a data-scale sort) and broadcast back "
    "as a one-row cross join, the same windowless pattern as q71; "
    "Spark percentile and DuckDB quantile_cont interpolate bitwise-"
    "identically. One exchange on user_id end-to-end.",
)
def q99_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = E(spark, sf_dir)
    per_user = e.groupBy("user_id").agg(
        F.max(epoch_us("ts")).alias("last_us"),
        F.count("*").cast("bigint").alias("frequency"),
        (
            F.sum(F.floor(F.col("value") * 1_000_000.0).cast("long")).cast("double")
            / 1_000_000.0
        ).alias("monetary"),
    )
    anchor = per_user.agg(F.max("last_us").alias("anchor_us"))
    anchored = (
        per_user.crossJoin(F.broadcast(anchor))
        .select(
            "user_id",
            F.expr("(anchor_us - last_us) div 86400000000")
            .cast("bigint")
            .alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    th = anchored.agg(
        F.expr(f"percentile(CAST(recency_days AS DOUBLE), {_RFM_PCT})").alias("r80"),
        F.expr(f"percentile(CAST(frequency AS DOUBLE), {_RFM_PCT})").alias("f80"),
        F.expr(f"percentile(monetary, {_RFM_PCT})").alias("m80"),
    )
    return anchored.crossJoin(F.broadcast(th)).select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        (F.col("recency_days") <= F.col("r80")).alias("r_active"),
        (F.col("frequency") >= F.col("f80")).alias("f_high"),
        (F.col("monetary") >= F.col("m80")).alias("m_high"),
    )


# ---------------------------------------------------------------------------
# q104 — CDC apply: fold a change log (with tombstones) into a snapshot
# ---------------------------------------------------------------------------

def cdc_snapshot(log: DataFrame) -> DataFrame:
    """Fold a keyed change log into its post-merge snapshot. Expects
    ``user_id``, ``event_id``, ``ts``, ``value``, ``op`` ('U' upsert /
    'D' delete); keys whose last op by (ts, event_id) is a delete
    vanish."""
    from pyspark.sql.window import Window

    w_rank = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    w_all = Window.partitionBy("user_id")
    ranked = log.select(
        "user_id",
        "op",
        "value",
        "ts",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("n_ops"),
    )
    return ranked.filter((F.col("rn") == 1) & (F.col("op") == "U")).select(
        "user_id",
        F.col("value").alias("current_value"),
        F.col("ts").alias("updated_at"),
        "n_ops",
    )



@register(
    "q104_cdc_apply",
    """
    WITH log AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
        FROM events
    ), ranked AS (
        SELECT user_id, op, value, ts,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_ops
        FROM log
    )
    SELECT user_id, value AS current_value, ts AS updated_at, n_ops
    FROM ranked WHERE rn = 1 AND op = 'U'
    """,
    doc="CDC MERGE semantics without a mutable table: treat events as a "
    "keyed change log ('error' rows are DELETE tombstones, everything "
    "else an upsert), take the last op per key by (ts, event_id), and "
    "keep only keys whose final op is an upsert — the output IS the "
    "post-merge snapshot. Extends q80 latest-per-key with tombstone "
    "semantics: a key whose history ends in a delete vanishes entirely. "
    "Plan: one hash shuffle on the key; both windows share the "
    "partitioning so Catalyst plans a single exchange + sort. This is "
    "how you express Delta/Hudi-style MERGE INTO as a pure batch "
    "recompute: log + fold, no row-level mutation engine needed.",
)
def q104_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = E(spark, sf_dir)
    log = e.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.when(F.col("event_type") == "error", F.lit("D")).otherwise(F.lit("U")).alias("op"),
    )
    return cdc_snapshot(log)


# ---------------------------------------------------------------------------
# q113 — debounce dedup: suppress same-key events inside a quiet gap
# ---------------------------------------------------------------------------

_DEBOUNCE_US = 5 * 60 * 1_000_000  # 5 minutes


def debounce(e: DataFrame, gap_us: int = _DEBOUNCE_US) -> DataFrame:
    """Keep a (user_id, event_type) occurrence only if at least ``gap_us``
    micros passed since the previous raw occurrence (trailing debounce).
    Expects ``event_id``, ``user_id``, ``event_type``, ``ts``."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    us = epoch_us("ts")
    g = e.select(
        "event_id", "user_id", "event_type", "ts",
        F.lag(us).over(w).alias("prev_us"), us.alias("us"),
    )
    return g.filter(
        F.col("prev_us").isNull() | (F.col("us") - F.col("prev_us") >= gap_us)
    ).select("event_id", "user_id", "event_type", "ts")



@register(
    "q113_debounce_dedup",
    f"""
    WITH g AS (
        SELECT event_id, user_id, event_type, ts,
               LAG(epoch_us(ts)) OVER (
                   PARTITION BY user_id, event_type ORDER BY ts, event_id
               ) AS prev_us
        FROM events
    )
    SELECT event_id, user_id, event_type, ts
    FROM g
    WHERE prev_us IS NULL OR epoch_us(ts) - prev_us >= {_DEBOUNCE_US}
    """,
    doc="debounce deduplication: keep a (user, event_type) occurrence only "
    "if at least 5 minutes passed since the PREVIOUS raw occurrence — "
    "the burst-suppression dedup an analytics ingest applies to retries "
    "and double-clicks. Note the deliberate semantics: the gap is "
    "measured to the previous raw event (trailing debounce ≡ first "
    "event of each q83-style session), not to the previously KEPT event "
    "as dropDuplicatesWithinWatermark measures it — the former is "
    "one lag() window; the latter is inherently sequential (its batch "
    "twin is q32's session machinery). One shuffle on the key, "
    "integer-micros comparison, bitwise keep-set.",
)
def q113_debounce_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return debounce(E(spark, sf_dir))


# ---------------------------------------------------------------------------
# q114 — user journey paths (sequential pattern mining, window form)
# ---------------------------------------------------------------------------

@register(
    "q114_user_paths",
    """
    WITH w AS (
        SELECT user_id, event_type,
               LEAD(event_type, 1) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS t1,
               LEAD(event_type, 2) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS t2
        FROM events
    )
    SELECT event_type || '>' || t1 || '>' || t2 AS path,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM w WHERE t2 IS NOT NULL
    GROUP BY 1
    ORDER BY n DESC, path
    LIMIT 20
    """,
    doc="journey-path mining: the 20 most common 3-step event sequences "
    "across all users. Deliberately NOT the collect_list formulation — "
    "two lead() windows turn each user's stream into its sliding "
    "trigrams with no array materialization at all, so per-user history "
    "length never pressures memory (a power user with 10M events costs "
    "10M rows, not a 10M-element array on one executor). One shuffle on "
    "user_id, then partial-agg counts and a TakeOrderedAndProject "
    "top-20 with a total (count DESC, path ASC) order.",
)
def q114_user_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = E(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    stepped = e.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("t1"),
        F.lead("event_type", 2).over(w).alias("t2"),
    )
    return (
        stepped.filter(F.col("t2").isNotNull())
        .select(
            F.concat_ws(">", "event_type", "t1", "t2").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("path"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q120 — Markov transition matrix over per-user event sequences
# ---------------------------------------------------------------------------

def transition_counts(events: DataFrame) -> DataFrame:
    """(from_type, to_type, n, p): consecutive event-type transition
    counts within each user's (ts, event_id)-ordered stream, with the
    row-normalized transition probability. One shuffle on user_id, then
    a |types|^2-row aggregate; p is rnd-6 of exact bigint ratios."""
    from pyspark.sql.window import Window

    seq = events.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    g = seq.groupBy("from_type", "to_type").agg(F.count(F.lit(1)).alias("n"))
    denom = F.sum("n").over(Window.partitionBy("from_type")).cast("bigint")
    return g.select(
        "from_type",
        "to_type",
        "n",
        rnd(F.col("n").cast("double") / denom, 6).alias("p"),
    )


@register(
    "q120_transition_matrix",
    f"""
    WITH seq AS (
        SELECT event_type AS from_type,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS to_type
        FROM events
    ), g AS (
        SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE to_type IS NOT NULL
        GROUP BY from_type, to_type
    )
    SELECT from_type, to_type, n,
           {_rnd_sql(
               'CAST(n AS DOUBLE) / '
               'CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT)', 6)} AS p
    FROM g ORDER BY from_type, to_type
    """,
    doc="first-order Markov transition matrix of user behaviour: for every "
    "(from, to) event-type pair, the count of consecutive occurrences "
    "within a user's time-ordered stream and the row-normalized transition "
    "probability. The LEAD window shuffles once on user_id (each user's "
    "sequence is processed locally — same partitioning q83 sessionization "
    "and q114 path mining reuse), the pair count is partial-aggregated to "
    "|types|^2 rows, and the normalizing window runs over that tiny frame. "
    "Tie-safe ordering via (ts, event_id). Linear in events at any scale.",
)
def q120_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return transition_counts(E(spark, sf_dir)).orderBy("from_type", "to_type")


# ---------------------------------------------------------------------------
# q124 — hourly active users with new / retained / churned decomposition
# ---------------------------------------------------------------------------

@register(
    "q124_hourly_churn",
    """
    WITH hu AS (
        SELECT DISTINCT date_trunc('hour', ts) AS h, user_id FROM events
    ), j AS (
        SELECT COALESCE(c.h, p.h + INTERVAL 1 HOUR) AS h,
               CASE WHEN p.user_id IS NULL THEN 1 ELSE 0 END AS is_new,
               CASE WHEN c.user_id IS NULL THEN 1 ELSE 0 END AS is_churn,
               CASE WHEN c.user_id IS NOT NULL AND p.user_id IS NOT NULL
                    THEN 1 ELSE 0 END AS is_ret
        FROM hu c FULL OUTER JOIN hu p
          ON c.user_id = p.user_id AND c.h = p.h + INTERVAL 1 HOUR
    )
    SELECT CAST(h AS TIMESTAMP) AS hour,
           CAST(SUM(1 - is_churn) AS BIGINT) AS n_active,
           CAST(SUM(is_new) AS BIGINT) AS n_new,
           CAST(SUM(is_ret) AS BIGINT) AS n_retained,
           CAST(SUM(is_churn) AS BIGINT) AS n_churned_out
    FROM j GROUP BY h ORDER BY hour
    """,
    doc="hour-over-hour user-presence decomposition: per hour h, how many "
    "distinct users were active, how many are new relative to h-1, how "
    "many retained, and how many of h-1's users churned out (attributed "
    "to hour h, the hour they went missing). One distinct pass folds the "
    "event stream to (hour, user) pairs — partial-aggregated, so the "
    "exchange carries distinct pairs, not events — then a self full-outer "
    "join shifted by one hour classifies each pair, and the final count "
    "is |hours|-row small. The DAU/churn primitive behind every "
    "engagement dashboard, exact (no sketch), linear at any scale.",
)
def q124_hourly_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = E(spark, sf_dir)
    hu = e.select(
        F.date_trunc("hour", F.col("ts")).alias("h"), "user_id"
    ).distinct()
    c = hu.alias("c")
    p = hu.select(
        (F.col("h") + F.expr("INTERVAL 1 HOUR")).alias("h_next"), "user_id"
    ).alias("p")
    j = c.join(
        p,
        (F.col("c.user_id") == F.col("p.user_id"))
        & (F.col("c.h") == F.col("p.h_next")),
        "full_outer",
    ).select(
        F.coalesce(F.col("c.h"), F.col("p.h_next")).alias("hour"),
        F.when(F.col("p.user_id").isNull(), 1).otherwise(0).alias("is_new"),
        F.when(F.col("c.user_id").isNull(), 1).otherwise(0).alias("is_churn"),
        F.when(
            F.col("c.user_id").isNotNull() & F.col("p.user_id").isNotNull(), 1
        ).otherwise(0).alias("is_ret"),
    )
    return (
        j.groupBy("hour")
        .agg(
            F.sum(1 - F.col("is_churn")).cast("bigint").alias("n_active"),
            F.sum("is_new").cast("bigint").alias("n_new"),
            F.sum("is_ret").cast("bigint").alias("n_retained"),
            F.sum("is_churn").cast("bigint").alias("n_churned_out"),
        )
        .orderBy("hour")
    )


# ---------------------------------------------------------------------------
# q136 — chi-square drift monitor (event-type mix, first vs second half)
# ---------------------------------------------------------------------------


@register(
    "q136_chisq_drift",
    f"""
    WITH cells AS (
        SELECT event_type,
               CAST(SUM(CASE WHEN EXTRACT(day FROM ts) <= 15 THEN 1 ELSE 0 END) AS BIGINT) AS n_first,
               CAST(SUM(CASE WHEN EXTRACT(day FROM ts) > 15 THEN 1 ELSE 0 END) AS BIGINT) AS n_second
        FROM events GROUP BY event_type
    ), tot AS (
        SELECT CAST(SUM(n_first) AS BIGINT) AS t_first,
               CAST(SUM(n_second) AS BIGINT) AS t_second,
               CAST(SUM(n_first + n_second) AS BIGINT) AS n
        FROM cells
    )
    SELECT c.event_type, c.n_first, c.n_second,
           {_rnd_sql(
               "POWER(c.n_first  - (c.n_first + c.n_second) * t.t_first  / CAST(t.n AS DOUBLE), 2)"
               " / NULLIF((c.n_first + c.n_second) * t.t_first  / CAST(t.n AS DOUBLE), 0)"
               " + POWER(c.n_second - (c.n_first + c.n_second) * t.t_second / CAST(t.n AS DOUBLE), 2)"
               " / NULLIF((c.n_first + c.n_second) * t.t_second / CAST(t.n AS DOUBLE), 0)", 6)} AS chi2_contrib
    FROM cells c CROSS JOIN tot t
    """,
    doc="distribution-drift monitor: chi-square independence test of the "
    "event-type mix across month halves (the train/serve skew check every "
    "production pipeline needs). Observed counts are one conditional "
    "aggregate; expected counts derive from a 1-row total broadcast back "
    "(q99 windowless pattern); per-type chi-square contributions are a "
    "fixed-order expression on exact integers, half-up rounded to 6dp. "
    "One exchange on event_type, scan-shaped otherwise.",
)
def q136_chisq_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = E(spark, sf_dir)
    first = F.when(F.dayofmonth("ts") <= 15, 1).otherwise(0)
    cells = e.groupBy("event_type").agg(
        F.sum(first).cast("bigint").alias("n_first"),
        F.sum(1 - first).cast("bigint").alias("n_second"),
    )
    tot = cells.agg(
        F.sum("n_first").cast("bigint").alias("t_first"),
        F.sum("n_second").cast("bigint").alias("t_second"),
        F.sum(F.col("n_first") + F.col("n_second")).cast("bigint").alias("n"),
    )
    row_tot = F.col("n_first") + F.col("n_second")
    e1 = row_tot * F.col("t_first") / F.col("n").cast("double")
    e2 = row_tot * F.col("t_second") / F.col("n").cast("double")
    # NULLIF the expected-count denominators: when one month half is empty
    # (t_first or t_second = 0), Spark's double division yields NULL but
    # DuckDB yields inf/NaN — guard both engines to the same NULL.
    chi2 = F.pow(F.col("n_first") - e1, 2) / F.nullif(e1, F.lit(0.0)) + F.pow(
        F.col("n_second") - e2, 2
    ) / F.nullif(e2, F.lit(0.0))
    return cells.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n_first",
        "n_second",
        rnd(chi2, 6).alias("chi2_contrib"),
    )


# ---------------------------------------------------------------------------
# q146 — last-touch conversion attribution (marketing analytics)
# ---------------------------------------------------------------------------

_ATTR_WINDOW_US = 7 * 24 * 3600 * 1_000_000  # 7-day lookback


def attribute_purchases(e: DataFrame) -> DataFrame:
    """Per-purchase last-touch classification: (event_id, user_id, bucket,
    value) where bucket is 'attributed' iff a click by the same user
    precedes the purchase within the lookback window (strictly before,
    event_id tie-break). Shared by q146 (batch rollup) and the streaming
    twin (streaming.stateful.streaming_attribution), so the equivalence
    test pins both to one definition."""
    from pyspark.sql.window import Window

    s = epoch_us("ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy(s, "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    stream = e.select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        s.alias("s"),
        F.max(F.when(F.col("event_type") == "click", s)).over(w).alias("last_click_s"),
    )
    bucket = F.when(
        F.col("last_click_s").isNotNull()
        & (F.col("s") - F.col("last_click_s") <= _ATTR_WINDOW_US),
        "attributed",
    ).otherwise("organic")
    return stream.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", bucket.alias("bucket"), "value"
    )


@register(
    "q146_last_touch_attribution",
    f"""
    WITH stream AS (
        SELECT user_id, event_id, event_type, value,
               epoch_us(ts) AS s,
               MAX(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) OVER (
                   PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS last_click_s
        FROM events
    ), purchases AS (
        SELECT CASE WHEN last_click_s IS NOT NULL
                         AND s - last_click_s <= {_ATTR_WINDOW_US}
                    THEN 'attributed' ELSE 'organic' END AS bucket,
               value
        FROM stream WHERE event_type = 'purchase'
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           {_dsum_sql('value', 6)} AS revenue
    FROM purchases GROUP BY bucket
    """,
    doc="last-touch conversion attribution: each purchase is attributed to "
    "the most recent PRECEDING click by the same user within a 7-day "
    "lookback (strictly-before frame with an event_id tie-break, so "
    "same-microsecond click+purchase resolves identically everywhere), "
    "else counted organic. The classic marketing-attribution join "
    "expressed as ONE running-max window instead of a per-purchase "
    "point-in-time self-join — same shape as the q58 as-of join's "
    "union+window trick. Plan: one hash exchange on user_id, "
    "per-partition sort bounded by per-user history; revenue uses dsum "
    "so the rollup is shuffle-order-independent.",
)
def q146_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        attribute_purchases(E(spark, sf_dir))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
            dsum(F.col("value"), 6).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# q159 — linear multi-touch attribution (the credit-splitting twin of q146)
# ---------------------------------------------------------------------------


@register(
    "q159_linear_attribution",
    f"""
    WITH purchases AS (
        SELECT user_id, event_id AS p_id, epoch_us(ts) AS p_s, value
        FROM events WHERE event_type = 'purchase'
    ), clicks AS (
        SELECT user_id, event_id AS click_id, epoch_us(ts) AS c_s
        FROM events WHERE event_type = 'click'
    ), touch AS (
        SELECT p.user_id, p.p_id, p.value, c.click_id,
               CAST(COUNT(*) OVER (PARTITION BY p.p_id) AS BIGINT) AS m
        FROM purchases p JOIN clicks c
          ON p.user_id = c.user_id
         AND c.c_s < p.p_s
         AND p.p_s - c.c_s <= {7 * 24 * 3600 * 1_000_000}
    )
    SELECT click_id, ANY_VALUE(user_id) AS user_id,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(CAST(FLOOR(value / m * 1000000.0) AS BIGINT)) AS DOUBLE)
               / 1000000.0 AS credit
    FROM touch GROUP BY click_id
    """,
    doc="linear (equal-split) multi-touch attribution: each purchase's "
    "value divides equally across ALL of the user's clicks in the 7-day "
    "lookback (strictly before), and every click reports its total "
    "earned credit — the fair-share companion to q146's last-touch "
    "winner-take-all. The touch join is an equi-join on user_id with a "
    "range predicate (per-user histories are bounded, so the pair "
    "volume is sum-of-products per user, never cross-corpus); the "
    "per-purchase touch count m is a window over the purchase id; each "
    "credit share value/m is ONE division then floor-1e-6 quantized, so "
    "the per-click sum is partition-order-independent and "
    "engine-identical. At 100 TB the user_id equi-join co-locates via "
    "the standard user-bucketed event layout; fan-out is bounded by "
    "clicks-per-user x purchases-per-user within one key.",
)
def q159_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = E(spark, sf_dir)
    s = epoch_us("ts")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("p_id"), s.alias("p_s"), "value"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        s.alias("c_s"),
    )
    touch = purchases.join(
        clicks,
        (purchases.user_id == clicks.c_user)
        & (clicks.c_s < purchases.p_s)
        & (purchases.p_s - clicks.c_s <= _ATTR_WINDOW_US),
    )
    from pyspark.sql.window import Window as _W

    m = F.count(F.lit(1)).over(_W.partitionBy("p_id")).cast("bigint")
    shares = touch.select(
        "click_id",
        "user_id",
        "p_id",
        F.floor(F.col("value") / m * 1000000.0).cast("bigint").alias("q_credit"),
    )
    return shares.groupBy("click_id").agg(
        F.first("user_id").alias("user_id"),
        F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
        (F.sum("q_credit").cast("double") / 1000000.0).alias("credit"),
    )


# ---------------------------------------------------------------------------
# q166 — golden-record survivorship (field-level precedence merge)
# ---------------------------------------------------------------------------


@register(
    "q166_golden_record",
    """
    WITH e AS (
        SELECT user_id, event_id, ts, event_type, value,
               epoch_us(ts) AS s
        FROM events
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN(ts) AS first_seen,
           MAX(ts) AS last_seen,
           MAX(CASE WHEN rn_last = 1 THEN event_type END) AS last_event_type,
           MAX(CASE WHEN rn_purchase = 1 THEN value END) AS last_purchase_value,
           MAX(CASE WHEN rn_click = 1 THEN ts END) AS last_click_ts
    FROM (
        SELECT *,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY s DESC, event_id DESC) AS rn_last,
               ROW_NUMBER() OVER (PARTITION BY user_id,
                                  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                                  ORDER BY s DESC, event_id DESC)
                   * CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS rn_purchase,
               ROW_NUMBER() OVER (PARTITION BY user_id,
                                  CASE WHEN event_type = 'click' THEN 1 ELSE 0 END
                                  ORDER BY s DESC, event_id DESC)
                   * CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS rn_click
        FROM e
    ) GROUP BY user_id
    """,
    doc="golden-record survivorship: assemble ONE row per user where "
    "each field survives by its own precedence rule — lifetime count "
    "and first/last seen from plain aggregates, last event type from "
    "the newest row, last purchase value only from purchase rows, last "
    "click time only from click rows (all recency-resolved with the "
    "(ts, event_id) tie-break). This is the MDM / identity-resolution "
    "merge shape: per-FIELD winners from different source rows, not "
    "one winning row (which is q80's latest-per-key). Implementation "
    "keeps ONE user_id exchange: the three row_number windows and the "
    "final groupBy all share the user_id clustering (the conditional "
    "windows partition by (user_id, is_X) — same hash prefix), and "
    "each field folds with MAX(CASE WHEN rn=1 ...) so no joins ever "
    "form. At 100 TB this is the standard profile-store compaction "
    "run; state per task is bounded by per-user history.",
)
def q166_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = E(spark, sf_dir)
    s = epoch_us("ts")
    is_p = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    is_c = F.when(F.col("event_type") == "click", 1).otherwise(0)
    w_last = Window.partitionBy("user_id").orderBy(
        F.col("s").desc(), F.col("event_id").desc()
    )
    w_p = Window.partitionBy("user_id", "is_p").orderBy(
        F.col("s").desc(), F.col("event_id").desc()
    )
    w_c = Window.partitionBy("user_id", "is_c").orderBy(
        F.col("s").desc(), F.col("event_id").desc()
    )
    ranked = e.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        "value",
        s.alias("s"),
        is_p.alias("is_p"),
        is_c.alias("is_c"),
    ).select(
        "*",
        F.row_number().over(w_last).alias("rn_last"),
        (F.row_number().over(w_p) * F.col("is_p")).alias("rn_purchase"),
        (F.row_number().over(w_c) * F.col("is_c")).alias("rn_click"),
    )
    return ranked.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.min("ts").alias("first_seen"),
        F.max("ts").alias("last_seen"),
        F.max(F.when(F.col("rn_last") == 1, F.col("event_type"))).alias(
            "last_event_type"
        ),
        F.max(F.when(F.col("rn_purchase") == 1, F.col("value"))).alias(
            "last_purchase_value"
        ),
        F.max(F.when(F.col("rn_click") == 1, F.col("ts"))).alias("last_click_ts"),
    )


@register(
    "q255_stream_static_enrich",
    f"""
    SELECT DATE_TRUNC('hour', e.ts) AS window_start, c.c_mktsegment AS segment,
           COUNT(*) AS n_events,
           {_dsum_sql('e.value', 6)} AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
    doc="stream-STATIC dimension enrichment, the one Structured "
    "Streaming join family the corpus lacked (stream-stream is q216; "
    "this is the other one you actually run hourly at 100 TB — events "
    "enriched against a slowly-changing dimension snapshot): each "
    "event broadcast-joins the static customer dimension on user_id "
    "and aggregates per (1-hour tumbling window, market segment) with "
    "the dsum exact-sum idiom, so the emitted rows hash-match the "
    "batch/DuckDB recompute regardless of micro-batch arrival order. "
    "This registered query is the BATCH TWIN (q30's contract); the "
    "live form is streaming/streams.py:enriched_counts_stream — a "
    "readStream through the SAME join + window logic, equivalence-"
    "pinned by test (stream-static joins need no watermark on the "
    "static side and Spark re-plans the broadcast per micro-batch, "
    "which is exactly how a dimension snapshot update propagates "
    "mid-stream in production). Plan/scale: the dimension projects to "
    "two columns and broadcasts (dims are small by definition — and "
    "at 100 TB you'd still broadcast the pruned two-column "
    "projection); the stream side is one partial-agg shuffle keyed "
    "(window, segment) — state is windows x segments, bounded by the "
    "watermark, never stream length.",
)
def q255_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = E(spark, sf_dir)
    dim = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
        )
    )
    return (
        e.join(F.broadcast(dim), "user_id")
        .groupBy(F.window("ts", "1 hour"), "segment")
        .agg(
            F.count("*").alias("n_events"),
            dsum(F.col("value"), 6).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "segment",
            "n_events",
            "total_value",
        )
    )
