"""Time-series operators (hypertable-style): range-frame trailing windows
and gap-filling with forward-fill — the rollup/regularization surface a
telemetry pipeline needs, all pure Catalyst.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_entregas_pyspark_spark import stores
from etl_entregas_pyspark_spark.queries.events import E
from etl_entregas_pyspark_spark.queries.registry import register
from etl_entregas_pyspark_spark.queries.relational import T, _dsum_sql, _rnd_sql, dsum, rnd
from etl_entregas_pyspark_spark.timeutil import epoch_us


@register(
    "q69_trailing_range_window",
    f"""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(SUM(CAST(FLOOR(o_totalprice * 10000.0) AS BIGINT)) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate
               RANGE BETWEEN INTERVAL '30 days' PRECEDING AND CURRENT ROW
           ) AS DOUBLE) / 10000.0 AS spend_30d,
           COUNT(*) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate
               RANGE BETWEEN INTERVAL '30 days' PRECEDING AND CURRENT ROW
           ) AS n_orders_30d
    FROM orders
    """,
    doc="trailing 30-day RANGE window per customer (event-time frame, not "
    "row-count): rolling spend and order count — quantized sum keeps the "
    "rolling total deterministic",
)
def q69_trailing_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    # RANGE frames need a numeric ordering key: seconds since epoch.
    # epoch_us is tz-free (orderdates are midnight-aligned, so the /1e6 is
    # exact); unix_timestamp would shift with the session timezone.
    day_s = 86400
    w = (
        Window.partitionBy("o_custkey")
        .orderBy((epoch_us("o_orderdate") / F.lit(1_000_000)).cast("long"))
        .rangeBetween(-30 * day_s, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        (
            F.sum(F.floor(F.col("o_totalprice") * 10000.0).cast("long")).over(w).cast("double")
            / 10000.0
        ).alias("spend_30d"),
        F.count(F.lit(1)).over(w).alias("n_orders_30d"),
    )


@register(
    "q70_gap_fill_forward",
    """
    WITH bounds AS (
        SELECT user_id,
               date_trunc('hour', MIN(ts)) AS first_h,
               date_trunc('hour', MAX(ts)) AS last_h
        FROM events WHERE user_id < 20 GROUP BY user_id
    ), grid AS (
        SELECT user_id, unnest(generate_series(first_h, last_h, INTERVAL '1 hour')) AS hour_start
        FROM bounds
    ), hourly AS (
        SELECT user_id, date_trunc('hour', ts) AS hour_start,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(FLOOR(value * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS hour_value
        FROM events WHERE user_id < 20 GROUP BY 1, 2
    )
    SELECT g.user_id, g.hour_start,
           COALESCE(h.n_events, 0) AS n_events,
           last_value(h.hour_value IGNORE NULLS) OVER (
               PARTITION BY g.user_id ORDER BY g.hour_start
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS filled_value
    FROM grid g LEFT JOIN hourly h
      ON g.user_id = h.user_id AND g.hour_start = h.hour_start
    """,
    doc="gap filling + forward fill: densify each user's hourly series over "
    "its own [min, max] span (sequence+explode grid, left join, "
    "last-ignorenulls carry-forward) — the regularization step before any "
    "rolling model feature",
)
def q70_gap_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = E(spark, sf_dir).filter(F.col("user_id") < 20)
    hour = F.date_trunc("hour", F.col("ts"))
    bounds = e.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("first_h"),
        F.date_trunc("hour", F.max("ts")).alias("last_h"),
    )
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence("first_h", "last_h", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour_start"),
    )
    hourly = e.groupBy("user_id", hour.alias("hour_start")).agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            F.sum(F.floor(F.col("value") * 1000000.0).cast("long")).cast("double") / 1000000.0
        ).alias("hour_value"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("hour_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(hourly, ["user_id", "hour_start"], "left")
        .select(
            "user_id",
            "hour_start",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.last("hour_value", ignorenulls=True).over(w).alias("filled_value"),
        )
    )


# ---------------------------------------------------------------------------
# q101 — OHLC bars (the candlestick rollup every tick/telemetry store has)
# ---------------------------------------------------------------------------

@register(
    "q101_ohlc_bars",
    """
    WITH ranked AS (
        SELECT user_id, DATE_TRUNC('hour', ts) AS bar_start, value,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id, DATE_TRUNC('hour', ts)
                   ORDER BY ts, event_id) AS rn_a,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id, DATE_TRUNC('hour', ts)
                   ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM events WHERE user_id < 40
    )
    SELECT user_id, bar_start,
           MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
           COUNT(*) AS n_ticks
    FROM ranked GROUP BY 1, 2
    """,
    doc="hourly OHLC (open/high/low/close) bars per user: open/close picked "
    "by row_number over (ts, event_id) both directions — the id tie-break "
    "makes same-timestamp ticks reproducible — then one groupBy folds the "
    "bar. Plan: one hash shuffle on (user, bar); the two window passes "
    "share the same partitioning so Catalyst plans a single exchange. "
    "open/close/high/low are raw parquet doubles (no float arithmetic), "
    "so the bars are bitwise identical cross-engine.",
)
def q101_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = E(spark, sf_dir).filter(F.col("user_id") < 40)
    bar = F.date_trunc("hour", F.col("ts"))
    w_a = Window.partitionBy("user_id", "bar_start").orderBy(
        F.col("ts"), F.col("event_id")
    )
    w_d = Window.partitionBy("user_id", "bar_start").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ranked = e.select(
        "user_id", bar.alias("bar_start"), "value", "ts", "event_id"
    ).select(
        "user_id",
        "bar_start",
        "value",
        F.row_number().over(w_a).alias("rn_a"),
        F.row_number().over(w_d).alias("rn_d"),
    )
    return ranked.groupBy("user_id", "bar_start").agg(
        F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
        F.count(F.lit(1)).alias("n_ticks"),
    )


# ---------------------------------------------------------------------------
# q102 — rolling z-score anomaly detection, entirely in the integer domain
# ---------------------------------------------------------------------------

_Z_WIN = 50      # trailing window size (rows)
_Z_MIN_N = 10    # warm-up: don't flag until this many observations
_Z_K2 = 9        # flag when z^2 > 9, i.e. |z| > 3


def rolling_zscore(
    e: DataFrame, win: int = _Z_WIN, min_n: int = _Z_MIN_N, k2: int = _Z_K2
) -> DataFrame:
    """Flag events whose value deviates from the trailing-``win``-row mean
    by more than sqrt(``k2``) sigma, entirely in the integer domain.
    Expects ``user_id``, ``event_id``, ``ts``, ``value``."""
    qv = F.floor(F.col("value") * 1000.0).cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(win - 1), 0)
    )
    stats = e.select("user_id", "event_id", "ts", "value", qv.alias("qv")).select(
        "user_id",
        "event_id",
        "ts",
        "value",
        "qv",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("qv").over(w).alias("s"),
        F.sum(F.col("qv") * F.col("qv")).over(w).alias("s2"),
    )
    dev = F.col("n") * F.col("qv") - F.col("s")
    var_n2 = F.col("n") * F.col("s2") - F.col("s") * F.col("s")
    return (
        stats.filter((F.col("n") >= min_n) & (dev * dev > k2 * var_n2))
        .select("user_id", "event_id", "ts", "value", F.col("n").alias("window_n"))
    )



@register(
    "q102_rolling_zscore",
    f"""
    WITH q AS (
        SELECT user_id, event_id, ts, value,
               CAST(FLOOR(value * 1000.0) AS BIGINT) AS qv
        FROM events
    ), stats AS (
        SELECT user_id, event_id, ts, value, qv,
               CAST(COUNT(*) OVER w AS BIGINT) AS n,
               CAST(SUM(qv) OVER w AS BIGINT) AS s,
               CAST(SUM(qv * qv) OVER w AS BIGINT) AS s2
        FROM q
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN {_Z_WIN - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_id, ts, value, n AS window_n
    FROM stats
    WHERE n >= {_Z_MIN_N}
      AND (n * qv - s) * (n * qv - s) > {_Z_K2} * (n * s2 - s * s)
    """,
    doc=f"rolling z-score anomaly detection: flag events whose value sits "
    f">3 sigma from the trailing-{_Z_WIN}-row mean for that user. The "
    f"whole test runs in the INTEGER domain — value quantized to 1e-3, "
    f"then z^2>9 rewritten as (n*q-s)^2 > 9*(n*s2-s^2) over bigint window "
    f"sums (max magnitude ~6e14, well inside int64) — so the keep-set is "
    f"bitwise deterministic cross-engine with no sqrt or float division. "
    f"Plan: one hash shuffle on user_id + per-partition sort; the window "
    f"is a bounded ROWS frame, so state is O({_Z_WIN}) per key regardless "
    f"of history length — the same frame Structured Streaming would keep.",
)
def q102_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rolling_zscore(E(spark, sf_dir))


# ---------------------------------------------------------------------------
# q108 — time-weighted average (TWAP): duration-weighted, integer domain
# ---------------------------------------------------------------------------

@register(
    "q108_twap",
    """
    WITH spans AS (
        SELECT user_id,
               CAST(FLOOR(value * 1000.0) AS BIGINT) AS qv,
               LEAD(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) - epoch_us(ts) AS dur_us
        FROM events
    )
    SELECT user_id,
           CAST(COUNT(dur_us) AS BIGINT) AS n_intervals,
           CAST(FLOOR(CAST(CAST(SUM(qv * dur_us) AS BIGINT) AS DOUBLE)
                      / CAST(CAST(SUM(dur_us) AS BIGINT) AS DOUBLE)
                      / 1000.0 * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0 AS twap
    FROM spans
    GROUP BY user_id
    HAVING CAST(SUM(dur_us) AS BIGINT) > 0
    """,
    doc="time-weighted average value per user: each observation is held "
    "until the next one (step interpolation), weighted by its holding "
    "duration in epoch-micros — the standard TWAP/telemetry rollup that "
    "plain AVG gets wrong under irregular sampling. Weights and values "
    "stay in the integer domain (micros x 1e-3-quantized value, "
    "max ~1e17, inside int64); the single double division at the end is "
    "one IEEE op, so results are bitwise cross-engine. The last "
    "observation per user has no successor and carries no weight "
    "(SUM skips its NULL). Plan: one shuffle on user_id shared by the "
    "lead() window and the aggregation.",
)
def q108_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = E(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = epoch_us("ts")
    spans = e.select(
        "user_id",
        F.floor(F.col("value") * 1000.0).cast("long").alias("qv"),
        (F.lead(us).over(w) - us).alias("dur_us"),
    )
    tw = F.sum(F.col("qv") * F.col("dur_us"))
    td = F.sum("dur_us")
    twap = rnd(tw.cast("double") / td.cast("double") / 1000.0, 6)
    return (
        spans.groupBy("user_id")
        .agg(
            F.count("dur_us").alias("n_intervals"),
            twap.alias("twap"),
            td.alias("_td"),
        )
        .filter(F.col("_td") > 0)
        .drop("_td")
    )


# ---------------------------------------------------------------------------
# q133 — interval merging (gaps-and-islands) over per-user error windows
# ---------------------------------------------------------------------------

_ISLAND_SPAN_US = 10 * 60 * 1_000_000  # each error opens a 10-minute window


@register(
    "q133_interval_islands",
    f"""
    WITH iv AS (
        SELECT user_id, event_id,
               epoch_us(ts) AS s,
               epoch_us(ts) + {_ISLAND_SPAN_US} AS e
        FROM events WHERE event_type = 'error'
    ), flagged AS (
        SELECT user_id, event_id, s, e,
               CASE WHEN s > COALESCE(MAX(e) OVER (
                        PARTITION BY user_id ORDER BY s, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                    THEN 1 ELSE 0 END AS new_island
        FROM iv
    ), islands AS (
        SELECT user_id, s, e,
               SUM(new_island) OVER (PARTITION BY user_id ORDER BY s, event_id
                                     ROWS UNBOUNDED PRECEDING) AS island_id
        FROM flagged
    ), merged AS (
        SELECT user_id, island_id, MIN(s) AS island_start, MAX(e) AS island_end
        FROM islands GROUP BY user_id, island_id
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(SUM(island_end - island_start) AS BIGINT) AS covered_us,
           CAST(MIN(island_start) AS BIGINT) AS first_start
    FROM merged GROUP BY user_id
    """,
    doc="gaps-and-islands interval merging: each error opens a 10-minute "
    "outage window per user; overlapping/touching windows coalesce into "
    "islands (an interval starts a new island iff it begins after the "
    "running max end of all prior intervals), reported as per-user "
    "island count + exact covered micros. The classic incident-"
    "consolidation / uptime operator that naive DISTINCT or fixed "
    "bucketing gets wrong. ONE hash exchange on user_id serves the "
    "running-max window, the island-sum window, the island group-by AND "
    "the final per-user rollup (all share the user_id clustering); "
    "per-partition sort is bounded by per-user event counts. All "
    "arithmetic in integer epoch-micros — bitwise cross-engine.",
)
def q133_interval_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = E(spark, sf_dir)
    iv = e.filter(F.col("event_type") == "error").select(
        "user_id",
        "event_id",
        epoch_us("ts").alias("s"),
        (epoch_us("ts") + _ISLAND_SPAN_US).alias("e"),
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.select(
        "user_id",
        "event_id",
        "s",
        "e",
        F.when(F.col("s") > F.coalesce(F.max("e").over(w_prev), F.lit(-1)), 1)
        .otherwise(0)
        .alias("new_island"),
    )
    # Running sum must replay the SAME total order the new_island flags were
    # computed under — (s, event_id), a key that is unique per user.  Ordering
    # by (s, e) alone ties when two errors share a timestamp (every interval
    # has the same fixed span), letting a ni=0 row precede its ni=1 peer and
    # glue it onto the previous island across a real gap.
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    islands = flagged.select(
        "user_id", "s", "e", F.sum("new_island").over(w_run).alias("island_id")
    )
    merged = islands.groupBy("user_id", "island_id").agg(
        F.min("s").alias("island_start"), F.max("e").alias("island_end")
    )
    return merged.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_islands"),
        F.sum(F.col("island_end") - F.col("island_start"))
        .cast("bigint")
        .alias("covered_us"),
        F.min("island_start").cast("bigint").alias("first_start"),
    )


# ---------------------------------------------------------------------------
# q144 — time-decay engagement score (daily half-life, feature-store style)
# ---------------------------------------------------------------------------

_DAY_US = 86_400_000_000


@register(
    "q144_decay_score",
    f"""
    WITH mx AS (
        SELECT MAX(epoch_us(ts)) AS t_max FROM events
    ), terms AS (
        SELECT user_id,
               CAST(FLOOR(value / POWER(2.0, LEAST((t_max - epoch_us(ts)) // {_DAY_US}, 62))
                          * 1000000.0) AS BIGINT) AS q
        FROM events CROSS JOIN mx
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(q) AS BIGINT) / 1000000.0 AS decay_score
    FROM terms GROUP BY user_id
    """,
    doc="per-user engagement score with a one-day half-life anchored at "
    "the corpus max timestamp — the recsys/feature-store recency "
    "weighting, batch form. The decay factor is 2^-d with an INTEGER "
    "day exponent: every power of two is exactly representable, so "
    "value/2^d is one exact double operation — no libm pow-of-fraction "
    "whose last-ulp could diverge across engines. Per-event terms are "
    "fixed-point-quantized (floor 1e-6) and integer-summed per user, so "
    "the aggregate is partition-order-independent. Plan: the 1-row "
    "anchor broadcasts back over the scan (q99 windowless pattern), one "
    "hash exchange on user_id total.",
)
def q144_decay_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = E(spark, sf_dir)
    mx = e.agg(F.max(epoch_us("ts")).alias("t_max"))
    d = F.least(
        F.floor((F.col("t_max") - epoch_us("ts")) / F.lit(_DAY_US)),
        F.lit(62),
    )
    q = (
        F.floor(F.col("value") / F.pow(F.lit(2.0), d) * 1000000.0)
        .cast("bigint")
        .alias("q")
    )
    return (
        e.crossJoin(F.broadcast(mx))
        .select("user_id", q)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            (F.sum("q").cast("bigint") / 1000000.0).alias("decay_score"),
        )
    )


# ---------------------------------------------------------------------------
# q153 — sliding-window DISTINCT count via interval sweep
# ---------------------------------------------------------------------------

_SLIDE_H_US = 3600 * 1_000_000  # 1-hour trailing window (inclusive bounds)


@register(
    "q153_sliding_distinct",
    """
    SELECT event_id, event_type, ts,
           CAST(COUNT(DISTINCT user_id) OVER (
               PARTITION BY event_type ORDER BY ts
               RANGE BETWEEN INTERVAL '1 hour' PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS n_active_users
    FROM events
    """,
    doc="trailing 1-hour DISTINCT user count at every event — the live "
    "concurrency / active-user metric. Spark window functions CANNOT "
    "express DISTINCT aggregates over a frame (AnalysisException), so "
    "this decomposes into an exact interval sweep: user u is counted at "
    "time t iff u's LATEST event <= t is within [t-1h, t]; that event's "
    "validity is the interval [ts, min(next_same_user_ts, ts+1h+1us)), "
    "so each event contributes +1 at its start and -1 at its end, and "
    "the distinct count at t is the running net of all deltas <= t — "
    "one prefix sum over the per-(type, microsecond) net deltas, joined "
    "back to the events on (type, ts). All integer microsecond "
    "arithmetic; ties collapse exactly (a same-instant handover's -1/+1 "
    "cancels in the net). Plan: one lead() window per (type, user) — "
    "high-cardinality partitions — then the cumulative sum partitions "
    "by event_type only (5 keys): at 100 TB that per-type sort becomes "
    "the q131 value-bucket prefix-sum (bucket the timeline, per-bucket "
    "partials, broadcast cumulative offsets — identical arithmetic, no "
    "fat partition). Oracle: DuckDB's native windowed COUNT(DISTINCT).",
)
def q153_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    base, deltas = _sliding_deltas(E(spark, sf_dir))
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("tm")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = deltas.select(
        F.col("event_type").alias("c_type"),
        "tm",
        F.sum("net").over(w_cum).cast("bigint").alias("n_active_users"),
    )
    return base.join(
        cum,
        (F.col("event_type") == F.col("c_type")) & (F.col("t_us") == F.col("tm")),
    ).select("event_id", "event_type", "ts", "n_active_users")


def _sliding_deltas(e: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Shared q153/q174 decomposition: per-event validity intervals →
    per-(type, microsecond) net deltas. Returns (base, deltas); the
    distinct count at t is the running net of all deltas <= t."""
    w_next = Window.partitionBy("event_type", "user_id").orderBy("ts", "event_id")
    base = e.select(
        "event_id",
        "event_type",
        "ts",
        epoch_us("ts").alias("t_us"),
        F.lead(epoch_us("ts")).over(w_next).alias("next_us"),
    )
    plus = base.select("event_type", F.col("t_us").alias("tm"), F.lit(1).alias("d"))
    minus = base.select(
        "event_type",
        F.least(
            F.coalesce(F.col("next_us"), F.lit(2**62)),
            F.col("t_us") + F.lit(_SLIDE_H_US + 1),
        ).alias("tm"),
        F.lit(-1).alias("d"),
    )
    deltas = (
        plus.unionByName(minus)
        .groupBy("event_type", "tm")
        .agg(F.sum("d").alias("net"))
    )
    return base, deltas


_SLIDE_BUCKETS = 64


@register(
    "q174_sliding_distinct_bucketed",
    """
    SELECT event_id, event_type, ts,
           CAST(COUNT(DISTINCT user_id) OVER (
               PARTITION BY event_type ORDER BY ts
               RANGE BETWEEN INTERVAL '1 hour' PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS n_active_users
    FROM events
    """,
    doc="q153's sliding-window DISTINCT count with the 100-TB cumulative "
    "sum REGISTERED, not just documented: q153's one remaining fat "
    "partition is the per-type prefix sum (5 keys — every delta of a "
    "type sorts in one task). Here the timeline is range-bucketed per "
    "type (64 buckets between the type's min/max delta time, bounds "
    "broadcast), the prefix sum decomposes into per-(type, bucket) "
    "partial sums → cumulative offsets over the tiny (type x bucket) "
    "grid (<= 320 rows, broadcast back) → in-bucket running sums, so "
    "no task ever sorts more than ~1/64 of a type's deltas — q131's "
    "value-bucket global-index shape applied to a running aggregate. "
    "Arithmetic is IDENTICAL to q153 (integer net deltas, exact "
    "microsecond keys): hash-equality is asserted by a test and both "
    "share one oracle (DuckDB's native windowed COUNT(DISTINCT)). At "
    "100 TB bucket count scales with data; the offsets grid stays "
    "broadcastable (types x buckets).",
)
def q174_sliding_distinct_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    base, deltas = _sliding_deltas(E(spark, sf_dir))
    deltas = stores.materialize(deltas, "q174: deltas for bounds + partials + window")
    bounds = deltas.groupBy("event_type").agg(
        F.min("tm").alias("_lo"), F.max("tm").alias("_hi")
    )
    span = (F.col("_hi") - F.col("_lo") + 1).cast("double")
    bucketed = deltas.join(F.broadcast(bounds), "event_type").select(
        "event_type",
        "tm",
        "net",
        F.least(
            F.lit(_SLIDE_BUCKETS - 1),
            F.floor((F.col("tm") - F.col("_lo")).cast("double") * _SLIDE_BUCKETS / span),
        )
        .cast("int")
        .alias("_b"),
    )
    partials = bucketed.groupBy("event_type", "_b").agg(F.sum("net").alias("_bn"))
    w_off = (
        Window.partitionBy("event_type")
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = partials.select(
        "event_type",
        "_b",
        F.coalesce(F.sum("_bn").over(w_off), F.lit(0)).alias("_offset"),
    )
    w_in = (
        Window.partitionBy("event_type", "_b")
        .orderBy("tm")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = bucketed.join(F.broadcast(off), ["event_type", "_b"]).select(
        F.col("event_type").alias("c_type"),
        "tm",
        (F.col("_offset") + F.sum("net").over(w_in)).cast("bigint").alias(
            "n_active_users"
        ),
    )
    return base.join(
        cum,
        (F.col("event_type") == F.col("c_type")) & (F.col("t_us") == F.col("tm")),
    ).select("event_id", "event_type", "ts", "n_active_users")


# ---------------------------------------------------------------------------
# q156 — point-in-time feature matrix (leakage-free feature-store backfill)
# ---------------------------------------------------------------------------

_FM_DAY_US = 86400 * 1_000_000


@register(
    "q156_feature_matrix",
    """
    WITH o AS (
        SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice,
               CAST(datediff('day', TIMESTAMP '1970-01-01', o_orderdate)
                    AS BIGINT) AS day
        FROM orders
    )
    SELECT o_orderkey, o_custkey, o_orderdate,
           COALESCE(CAST(SUM(CAST(FLOOR(o_totalprice * 10000.0) AS BIGINT))
                         OVER w90 AS DOUBLE) / 10000.0, 0.0) AS spend_90d,
           CAST(COUNT(*) OVER w90 AS BIGINT) AS n_orders_90d,
           CAST(day - LAG(day) OVER (PARTITION BY o_custkey
                                     ORDER BY day, o_orderkey) AS BIGINT)
               AS days_since_prev
    FROM o
    WINDOW w90 AS (PARTITION BY o_custkey ORDER BY day
                   RANGE BETWEEN 90 PRECEDING AND 1 PRECEDING)
    """,
    doc="point-in-time training-feature assembly: for EVERY order, the "
    "customer's trailing-90-day spend and order count STRICTLY BEFORE "
    "the order's own day (RANGE 90 PRECEDING AND 1 PRECEDING — same-day "
    "siblings are excluded, so no feature ever sees its own label's "
    "timestamp) plus recency (days since previous order). This is the "
    "leakage-free feature-store backfill contract: train-time features "
    "computed per historical example must equal what serving would have "
    "known at that instant, which the strictly-before frame guarantees "
    "by construction. Day ordinals are exact integers (midnight-aligned "
    "timestamps / 86400e6), spend is a dsum-quantized integer sum. "
    "Plan: ONE hash exchange on o_custkey serves both the RANGE frame "
    "and the recency lag (same partitioning, Catalyst plans one sort); "
    "per-customer row counts are bounded, so no fat partitions at any "
    "corpus size.",
)
def q156_feature_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        "o_totalprice",
        F.floor(epoch_us("o_orderdate") / F.lit(_FM_DAY_US)).cast("long").alias("day"),
    )
    w90 = (
        Window.partitionBy("o_custkey").orderBy("day").rangeBetween(-90, -1)
    )
    w_prev = Window.partitionBy("o_custkey").orderBy("day", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.coalesce(
            F.sum(F.floor(F.col("o_totalprice") * 10000.0).cast("bigint"))
            .over(w90)
            .cast("double")
            / 10000.0,
            F.lit(0.0),
        ).alias("spend_90d"),
        F.count(F.lit(1)).over(w90).cast("bigint").alias("n_orders_90d"),
        (F.col("day") - F.lag("day").over(w_prev))
        .cast("bigint")
        .alias("days_since_prev"),
    )


# ---------------------------------------------------------------------------
# q170 — rolling correlation between two event series (windowed suff-stats)
# ---------------------------------------------------------------------------

_RC_WIN = 6  # trailing hours (ROWS frame within each day partition)
_RC_Q = 10_000  # value quantization for exact integer sufficient stats


@register(
    "q170_rolling_corr",
    f"""
    WITH hourly AS (
        SELECT CAST(EXTRACT(day FROM ts) AS BIGINT) AS day,
               CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour,
               CAST(SUM(CASE WHEN event_type = 'click'
                    THEN CAST(FLOOR(value * {_RC_Q}.0) AS BIGINT) ELSE 0 END)
                    AS BIGINT) AS x,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                    THEN CAST(FLOOR(value * {_RC_Q}.0) AS BIGINT) ELSE 0 END)
                    AS BIGINT) AS y
        FROM events GROUP BY 1, 2
    ), stats AS (
        SELECT day, hour,
               CAST(COUNT(*) OVER w AS BIGINT) AS n,
               CAST(SUM(x) OVER w AS BIGINT) AS sx,
               CAST(SUM(y) OVER w AS BIGINT) AS sy,
               CAST(SUM(x * y) OVER w AS BIGINT) AS sxy,
               CAST(SUM(x * x) OVER w AS BIGINT) AS sxx,
               CAST(SUM(y * y) OVER w AS BIGINT) AS syy
        FROM hourly
        WINDOW w AS (PARTITION BY day ORDER BY hour
                     ROWS BETWEEN {_RC_WIN - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT day, hour, n,
           {_rnd_sql(
               "CAST(n * sxy - sx * sy AS DOUBLE)"
               " / SQRT(CAST(n * sxx - sx * sx AS DOUBLE))"
               " / SQRT(CAST(n * syy - sy * sy AS DOUBLE))", 6)} AS corr
    FROM stats
    WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
    """,
    doc="rolling Pearson correlation between the hourly click-value and "
    "purchase-value series, over a trailing 6-hour frame within each "
    "day — the co-movement monitor quant/telemetry stores compute "
    "continuously (is the purchase stream still tracking the click "
    "stream?). Hourly sums are quantized to integers FIRST, so every "
    "windowed sufficient statistic (n, Sx, Sy, Sxy, Sxx, Syy) is an "
    "exact bigint and corr is one fixed-order double expression — "
    "engine-identical, no accumulation drift (the windowed sibling of "
    "q122's closed-form OLS). Zero-variance windows are excluded "
    "(undefined). Plan: one hour-grain pre-aggregation (map-side "
    "combined), then a day-partitioned 24-row window — the exchange "
    "carries 744 rows/month regardless of event volume. Range bound: "
    "x*y <= ~1e16 per hour-pair at this quantization — bigint holds; "
    "scale the quantizer down for heavier-tailed values.",
)
def q170_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = E(spark, sf_dir)
    q = F.floor(F.col("value") * _RC_Q).cast("bigint")
    hourly = e.groupBy(
        F.dayofmonth("ts").cast("bigint").alias("day"),
        F.hour("ts").cast("bigint").alias("hour"),
    ).agg(
        F.sum(F.when(F.col("event_type") == "click", q).otherwise(0))
        .cast("bigint")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", q).otherwise(0))
        .cast("bigint")
        .alias("y"),
    )
    w = (
        Window.partitionBy("day")
        .orderBy("hour")
        .rowsBetween(-(_RC_WIN - 1), Window.currentRow)
    )
    stats = hourly.select(
        "day",
        "hour",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n"),
        F.sum("x").over(w).cast("bigint").alias("sx"),
        F.sum("y").over(w).cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).cast("bigint").alias("syy"),
    )
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return stats.filter((vx > 0) & (vy > 0)).select(
        "day",
        "hour",
        "n",
        rnd(
            cov.cast("double") / F.sqrt(vx.cast("double")) / F.sqrt(vy.cast("double")),
            6,
        ).alias("corr"),
    )


# ---------------------------------------------------------------------------
# q172 — clamped running balance (zero-floor fold as a window identity)
# ---------------------------------------------------------------------------


@register(
    "q172_clamped_running_sum",
    """
    WITH flow AS (
        SELECT user_id, event_id, ts,
               CASE WHEN event_type = 'purchase'
                    THEN CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)
                    WHEN event_type = 'click'
                    THEN -CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)
                    ELSE 0 END AS x
        FROM events WHERE user_id < 50
    ), pre AS (
        SELECT user_id, event_id, ts,
               CAST(SUM(x) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS prefix
        FROM flow
    ), mins AS (
        SELECT user_id, event_id, prefix,
               CAST(MIN(prefix) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS run_min
        FROM pre
    )
    SELECT user_id, event_id,
           CAST(prefix - LEAST(0, run_min) AS BIGINT) AS balance_cents
    FROM mins
    """,
    doc="running balance with a ZERO FLOOR: purchases credit, clicks "
    "debit, and the balance clamps at 0 after every event — the "
    "inventory / prepaid-wallet / rate-limiter fold S_t = max(0, "
    "S_{t-1} + x_t) that window functions cannot express directly "
    "(each step depends non-linearly on the previous). The exact "
    "algebraic identity unlocks it: S_t = prefix_t - min(0, "
    "min_{k<=t} prefix_k) — a clamp-at-zero fold equals the raw prefix "
    "sum minus its most negative excursion so far — so the whole "
    "operator is two stacked windows over ONE user_id exchange, all "
    "integer cents, bitwise cross-engine. (Proof sketch: both sides "
    "satisfy the same recurrence; min(0, run_min) only moves when the "
    "clamp would have bound.) The general-lower-bound and capped "
    "variants follow the same identity shifted. At 100 TB this is an "
    "ordinary partitioned window — per-user history bounds the sort; "
    "the non-scalable alternative (per-key UDF fold) is exactly what "
    "this avoids.",
)
def q172_clamped_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = E(spark, sf_dir).filter(F.col("user_id") < 50)
    cents = F.floor(F.col("value") * 100.0 + 0.5).cast("bigint")
    flow = e.select(
        "user_id",
        "event_id",
        "ts",
        F.when(F.col("event_type") == "purchase", cents)
        .when(F.col("event_type") == "click", -cents)
        .otherwise(F.lit(0))
        .alias("x"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # running min of the prefix uses the SAME (ts, event_id) order; the
    # ordering columns are carried through so no value re-sort happens
    pre = flow.select(
        "user_id",
        "event_id",
        "ts",
        F.sum("x").over(w).cast("bigint").alias("prefix"),
    )
    run_min = F.min("prefix").over(
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return pre.select(
        "user_id",
        "event_id",
        (F.col("prefix") - F.least(F.lit(0), run_min))
        .cast("bigint")
        .alias("balance_cents"),
    )
