"""Data-quality rules (reference ``apply_data_quality``,
``src/etl_entregas.py:117-172``) with order-preserving semantics:

    P1 null/blank material -> P2 delivery-type IN-list -> P3 exact dedup
    -> P4 country IN-list (no metric recorded for P4, parity quirk)

Metric parity trap (SURVEY §7.1): the duplicate count is duplicates found
AMONG rows that already passed P1+P2 (197 on the golden CSV, not the 227
raw duplicates), so rule order is part of the spec.

The rules are one lazy plan, built by one function in two forms:
``apply_quality`` (filter -> filter -> dropDuplicates -> filter, which
Catalyst pushes into the scan where possible) and ``observe_quality``, the
pipeline's form. The reference runs 11 uncached ``count()`` actions for its
ladder, each re-executing the lineage from the source. ``observe_quality``
runs none: it attaches three ``Observation``s to the plan (on the scan,
after P1+P2 and after the dedup), so the ladder is counted by the action
that writes the output, in the same scan. Its ``ObservedLadder`` is read
after that action. The cost is pushdown: an observe node is a barrier, so
P4 and the pipeline's date range run above the dedup instead of in the scan
(SCALE.md, "Entregas pipeline").

``metrics_frame`` is q61's body, the ladder as a stand-alone query: one
aggregation pass with conditional counts via ``sum(when(...))`` and the
dedup ladder as a two-phase aggregate over a row fingerprint, computed
map-side-partial then merged — a single scan and one exchange instead of
~7 full scans. ``quality_metrics`` collects it.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Mapping, Sequence
from typing import Any

from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def null_blank_predicate(column: str) -> Column:
    """Rows to REMOVE under P1: NULL or trims to empty string."""
    col = F.col(column)
    return col.isNull() | (F.trim(col) == "")


def keep_clean(df: DataFrame, column: str = "material") -> DataFrame:
    """P1 — drop rows whose ``column`` is NULL/blank."""
    return df.filter(~null_blank_predicate(column))


def in_list(column: str, values: Sequence[str], normalize_upper: bool = False) -> Column:
    """Rows to KEEP under P2/P4: the IN-list predicate, optionally on the
    upper-cased column."""
    col = F.upper(F.col(column)) if normalize_upper else F.col(column)
    return col.isin(list(values))


def keep_in_list(df: DataFrame, column: str, values: Sequence[str], normalize_upper: bool = False) -> DataFrame:
    """P2/P4 — IN-list filter, optionally normalizing case first."""
    return df.filter(in_list(column, values, normalize_upper))


def dedup_exact(df: DataFrame, subset: Sequence[str] | None = None) -> DataFrame:
    """P3 — exact duplicate removal; hash-shuffle on the dedup key set.

    At scale: ``dropDuplicates`` is a partial-aggregate + exchange +
    final-aggregate — Spark keeps one row per key per partition before the
    shuffle, so the exchange carries at most one row per distinct key per
    map partition, not the full input.
    """
    return df.dropDuplicates(list(subset) if subset else None)


class _Rules:
    """The enabled rules of one config: P1 on/off, the P2 and P4 lists and
    P3 on/off, with the row predicates that the observed ladder and
    ``metrics_frame`` count by."""

    def __init__(self, config: Mapping[str, Any]):
        dq = config.get("data_quality", {})
        types = config.get("business_rules", {}).get("delivery_types", {})
        self.null_material = bool(dq.get("remove_null_material", True))
        self.valid_types = list(types.get("routine", [])) + list(types.get("bonus", []))
        self.dedup = bool(dq.get("remove_duplicates", True))
        countries = dq.get("valid_countries") if dq.get("validate_country_codes", True) else None
        self.valid_countries = [c.upper() for c in countries or []]

    def material_removed(self) -> Column:
        """Rows P1 removes; FALSE when P1 is off."""
        return null_blank_predicate("material") if self.null_material else F.lit(False)

    def type_removed(self) -> Column:
        """Rows P2 removes, NULL ``tipo_entrega`` included (the IN-list is
        NULL there and the filter drops it); FALSE when P2 is off."""
        if not self.valid_types:
            return F.lit(False)
        return ~F.coalesce(in_list("tipo_entrega", self.valid_types), F.lit(False))

    def country_ok(self) -> Column:
        """Rows P4 keeps; TRUE when P4 is off."""
        if not self.valid_countries:
            return F.lit(True)
        return in_list("pais", self.valid_countries, normalize_upper=True)


def _no_tap(point: str, df: DataFrame) -> DataFrame:
    return df


def _apply(df: DataFrame, rules: _Rules, tap: Callable[[str, DataFrame], DataFrame]) -> DataFrame:
    """P1→P2→P3→P4 in order. ``tap(point, frame)`` may wrap the frame at
    three points: ``"scan"`` (the input), ``"kept"`` (after P1+P2) and
    ``"deduped"`` (after P3)."""
    out = tap("scan", df)
    if rules.null_material:
        out = keep_clean(out, "material")
    if rules.valid_types:
        out = keep_in_list(out, "tipo_entrega", rules.valid_types)
    out = tap("kept", out)
    if rules.dedup:
        out = dedup_exact(out)
    out = tap("deduped", out)
    if rules.valid_countries:
        out = out.filter(rules.country_ok())
    return out


def apply_quality(df: DataFrame, config: Mapping[str, Any]) -> DataFrame:
    """The composed P1→P2→P3→P4 lazy plan (no actions)."""
    return _apply(df, _Rules(config), _no_tap)


def observe_quality(df: DataFrame, config: Mapping[str, Any]) -> tuple[DataFrame, "ObservedLadder"]:
    """``apply_quality`` with the DQ ladder observed on the way (no actions).

    The ladder fills in when the first action that runs the returned frame,
    or a frame derived from it, finishes; read it after that action.
    """
    rules = _Rules(config)
    ladder = ObservedLadder(df.sparkSession, rules)
    return _apply(df, rules, ladder.tap), ladder


class ObservedLadder(Mapping[str, int]):
    """The DQ ladder read from three ``Observation``s on the cleaned frame.

    - scan: ``input_rows`` and ``null_material_removed`` (a conditional
      count of the P1 predicate);
    - kept (after P1+P2): ``n12``, so ``invalid_type_removed`` is
      ``input_rows − null_material_removed − n12``, which is what the P2
      filter dropped, NULL ``tipo_entrega`` included;
    - deduped: ``nd`` and ``final_rows``, a conditional count of the P4
      predicate, so ``duplicates_removed`` is ``n12 − nd`` and nothing is
      observed after P4.

    Observed metrics are accumulators: a failed task attempt's updates are
    dropped, so retried tasks count once. Reading before any action has run
    the frame raises instead of blocking (``Observation.get`` would wait
    forever). When the action's result is empty, its observations come back
    without values, and the ladder counts again with the same aggregates
    (up to three jobs, only then).
    """

    KEYS = ("input_rows", "null_material_removed", "invalid_type_removed", "duplicates_removed", "final_rows")

    def __init__(self, spark: SparkSession, rules: _Rules):
        self._spark = spark
        self._rules = rules
        self._taps: list[tuple[Observation, DataFrame, list[Column]]] = []
        self._values: dict[str, int] | None = None

    def tap(self, point: str, df: DataFrame) -> DataFrame:
        one = F.lit(1)
        if point == "scan":
            aggs = [
                F.count(one).alias("input_rows"),
                F.count_if(self._rules.material_removed()).alias("null_material_removed"),
            ]
        elif point == "kept":
            aggs = [F.count(one).alias("n12")]
        else:
            aggs = [F.count(one).alias("nd"), F.count_if(self._rules.country_ok()).alias("final_rows")]
        obs = Observation(f"dq_{point}")
        self._taps.append((obs, df, aggs))
        return df.observe(obs, *aggs)

    def _read(self) -> dict[str, int]:
        if self._values is None:
            n: dict[str, int] = {}
            for obs, df, aggs in self._taps:
                # An observation without values (see read_observation) is
                # counted again with its own aggregates, a job of its own.
                n.update(read_observation(self._spark, obs) or df.agg(*aggs).first().asDict())
            self._values = {
                "input_rows": n["input_rows"],
                "null_material_removed": n["null_material_removed"],
                "invalid_type_removed": n["input_rows"] - n["null_material_removed"] - n["n12"],
                "duplicates_removed": n["n12"] - n["nd"],
                "final_rows": n["final_rows"],
            }
        return self._values

    def __getitem__(self, key: str) -> int:
        return self._read()[key]

    def __iter__(self) -> Iterator[str]:
        return iter(self.KEYS)

    def __len__(self) -> int:
        return len(self.KEYS)


# Upper bound on draining the listener bus, which completes an observation
# after its action has returned.
DRAIN_MS = 60_000


def read_observation(spark: SparkSession, obs: Observation) -> dict[str, Any]:
    """``obs.get`` once the action that ran it has been delivered, or a
    ``RuntimeError`` if no such action has finished. ``{}`` means the action
    produced no rows and its observations were dropped with its plan.

    The action ends by posting its end event on the listener bus, and the
    observation is completed when that event is processed, shortly after
    the action returned. So an incomplete observation first drains the bus
    (bounded by ``DRAIN_MS``); if it is still incomplete, no action has
    run it.
    """
    future = obs._jo.future()
    if not future.isCompleted():
        try:
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(DRAIN_MS)
        except Py4JJavaError:
            pass  # a bus still busy after the bound: report below
    if not future.isCompleted():
        raise RuntimeError(
            "observed metrics are not available: no action that runs the observed frame has finished "
            "(the DQ ladder fills in on the pipeline's write; read it after load())"
        )
    if obs._jo.getRow().length() == 0:
        # Adaptive execution replaces a plan whose result turned out empty
        # with an empty relation, and every observation in it then completes
        # without values, also those of stages that ran.
        return {}
    return obs.get


def metrics_frame(df: DataFrame, config: Mapping[str, Any]) -> DataFrame:
    """The full DQ metric ladder as a ONE-row, one-pass aggregate plan.

    Same values as the reference's sequential count-after-each-rule
    (``src/etl_entregas.py:127-169``) without re-scanning the source per
    rule: conditional counts are ``sum(when(...))``, and the dedup ladder
    is a two-phase aggregate keyed on a 128-bit xxhash64 row fingerprint —
    group to (fingerprint, rule flags, multiplicity) with map-side partial
    aggregation, then one scalar rollup (details in the block comment
    below). The rule predicates and toggles are ``_Rules``', the ones the
    pipeline filters with; with P3 off, ``final_rows`` counts every copy.

    Assumes every column casts injectively to string (the fingerprint
    input): frames limited to atomic column types — which all current
    callers are. An array/map/struct column would need the groupBy(*cols)
    shape instead.
    """
    rules = _Rules(config)
    p1_removed = rules.material_removed()
    type_removed = rules.type_removed()
    p2_removed = (~p1_removed) & type_removed
    passes_12 = (~p1_removed) & ~type_removed

    # Two-phase shape: group to (distinct row, multiplicity) first, then
    # one scalar aggregate. A single-agg formulation with two
    # count_distinct(struct) would plan an Expand — 3× the input rows
    # through the shuffle. The distinct-row key is a 128-bit row
    # fingerprint (two independent xxhash64 seeds — the q42 md5-
    # fingerprint exact-dedup idiom) rather than the full column tuple:
    # the rule predicates are functions of the row, hence constant within
    # a fingerprint group, so they ride the grouping key as four booleans
    # and the exchange carries ~17 bytes + flags per distinct row instead
    # of the whole string payload (guide §2.3: shuffle keys and metadata,
    # not payloads). Distinct rows colliding on both hashes would merge —
    # ~n²/2¹²⁹ for n distinct rows, i.e. < 10⁻²⁰ even at 100 TB row
    # counts — and the DuckDB oracle hash-gates the exact counts at every
    # tested SF.
    # NULL discipline: Spark's xxhash64 SKIPS null inputs (a null column
    # leaves the running hash unchanged), so rows differing only in which
    # column is null could structurally collide. Feeding coalesced string
    # casts PLUS one is-null flag per column makes the input sequence
    # injective again: the flag pins every null position, so coalesce's
    # NULL→'' collapse is always disambiguated.
    cols = [F.coalesce(F.col(c).cast("string"), F.lit("")) for c in df.columns]
    flags = [F.col(c).isNull() for c in df.columns]
    keyed = df.select(
        F.xxhash64(F.lit(1), *cols, *flags).alias("h1"),
        F.xxhash64(F.lit(2), *cols, *flags).alias("h2"),
        p1_removed.alias("f_p1"),
        p2_removed.alias("f_p2"),
        passes_12.alias("f_p12"),
        (passes_12 & rules.country_ok()).alias("f_ok"),
    )
    per_row = keyed.groupBy("h1", "h2", "f_p1", "f_p2", "f_p12", "f_ok").agg(
        F.count(F.lit(1)).alias("row_multiplicity")
    )
    n = F.col("row_multiplicity")

    def rows(flag: str) -> Column:
        return F.sum(F.when(F.col(flag), n).otherwise(F.lit(0)))

    def survivors(flag: str) -> Column:
        # P3 keeps one row per fingerprint; with P3 off every copy survives
        return F.count(F.when(F.col(flag), F.lit(1))) if rules.dedup else rows(flag)

    return per_row.agg(
        F.sum(n).alias("input_rows"),
        rows("f_p1").alias("null_material_removed"),
        rows("f_p2").alias("invalid_type_removed"),
        (rows("f_p12") - survivors("f_p12")).alias("duplicates_removed"),
        survivors("f_ok").alias("final_rows"),
    )


def quality_metrics(df: DataFrame, config: Mapping[str, Any]) -> dict[str, int]:
    """``metrics_frame`` collected to a plain dict (one action)."""
    agg = metrics_frame(df, config).collect()[0]
    return {k: int(agg[k] or 0) for k in agg.asDict()}
