"""Derived-column expression library — every enrichment the reference's
``transform()`` computes (F1–F22 in SURVEY §2.8, reference
``src/etl_entregas.py:213-391``), as pure ``Column`` builders.

All expressions are built-in Catalyst functions (zero Python UDFs), so the
whole enrichment stage stays inside whole-stage codegen. The stage applies
them in four projection layers rather than 20+ chained ``withColumn``
calls: the shared intermediates are computed once in the first three, and
the final ``select`` reads them by name. A single ``select`` that inlines
them is evaluated per use once Catalyst merges it into the deduplicating
aggregate below it; the layers keep ``CollapseProject`` from merging them
(SCALE.md, "Layered derive projection").

Parity traps honored (SURVEY §7):
- doubles, not decimals, for 18-decimal inputs incl. ``0E-18`` (F1);
- ``round`` HALF_UP at 2/4 digits (F5/F8);
- ``dayofweek`` follows Spark semantics 1=Sunday (F12) — the reference's
  comment says otherwise but its behavior is Spark's;
- map-lookup miss → NULL ``nombre_pais`` (F6);
- ``codigo_region`` = "ND" only when ``ruta`` IS NULL (F19).
"""

from __future__ import annotations

from itertools import chain
from typing import Any, Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DAY_NAMES_ES = {
    1: "Domingo",
    2: "Lunes",
    3: "Martes",
    4: "Miércoles",
    5: "Jueves",
    6: "Viernes",
    # 7 (Sábado) is the otherwise-branch, mirroring the reference's chain
}


def cast_double(column: str) -> Column:
    """F1 — string→double (parses scientific notation like 0E-18)."""
    return F.col(column).cast("double")


def unit_conversion(qty: Column, unit_col: str, factors: Mapping[str, float]) -> Column:
    """F2 — CASE over unit codes: qty * factor, unknown unit passes through."""
    expr: Column | None = None
    for code, factor in factors.items():
        branch = F.when(F.col(unit_col) == code, qty * F.lit(float(factor)))
        expr = branch if expr is None else expr.when(F.col(unit_col) == code, qty * F.lit(float(factor)))
    return expr.otherwise(qty) if expr is not None else qty


def delivery_category(type_col: str, routine: Sequence[str], bonus: Sequence[str]) -> Column:
    """F3 — RUTINA / BONIFICACION / OTRO."""
    col = F.col(type_col)
    return (
        F.when(col.isin(list(routine)), "RUTINA")
        .when(col.isin(list(bonus)), "BONIFICACION")
        .otherwise("OTRO")
    )


def bool_flag(condition: Column) -> Column:
    """F4/F9/F18 — explicit boolean via when/otherwise (parity shape)."""
    return F.when(condition, F.lit(True)).otherwise(F.lit(False))


def total_price(price: Column, qty_units: Column) -> Column:
    """F5 — round(price * qty, 2), Spark HALF_UP."""
    return F.round(price * qty_units, 2)


def map_lookup(key: Column, mapping: Mapping[str, str]) -> Column:
    """F6 — tiny static dimension as a map literal; miss → NULL.

    At scale the same capability is a broadcast join against a dimension
    DataFrame (see relational.broadcast_lookup); a map literal is the right
    physical choice only while the dim fits in the plan (≲ hundreds of keys).
    """
    m = F.create_map(*chain.from_iterable((F.lit(k), F.lit(v)) for k, v in mapping.items()))
    return m[key]


def guarded_ratio(numer: Column, denom: Column, scale: int = 4) -> Column:
    """F8 — denom>0 ? round(numer/denom, scale) : 0 (NULL denom → 0)."""
    return F.when(denom > 0, F.round(numer / denom, scale)).otherwise(F.lit(0.0))


def date_part_from_string(column: str, part: str) -> Column:
    """F10 — substring extraction from the yyyyMMdd STRING (not the date)."""
    pos, length = {"year": (1, 4), "month": (5, 2), "day": (7, 2)}[part]
    return F.substring(F.col(column), pos, length).cast("int")


def day_name_es(dow: Column) -> Column:
    """F13 — Spanish day names keyed by Spark dayofweek (1=Domingo)."""
    expr: Column | None = None
    for num, name in DAY_NAMES_ES.items():
        expr = F.when(dow == num, name) if expr is None else expr.when(dow == num, name)
    return expr.otherwise("Sábado")


def month_period(day: Column) -> Column:
    """F16 — INICIO_MES (≤10) / FIN_MES (≥21) / MEDIADOS_MES."""
    return (
        F.when(day <= 10, "INICIO_MES")
        .when(day >= 21, "FIN_MES")
        .otherwise("MEDIADOS_MES")
    )


def volume_bucket(qty: Column) -> Column:
    """F17 — BAJO (≤20) / MEDIO (≤100) / ALTO (≤500) / MUY_ALTO."""
    return (
        F.when(qty <= 20, "BAJO")
        .when(qty <= 100, "MEDIO")
        .when(qty <= 500, "ALTO")
        .otherwise("MUY_ALTO")
    )


def region_code(route_col: str) -> Column:
    """F19 — first 2 chars of ruta, "ND" when NULL."""
    col = F.col(route_col)
    return F.when(col.isNotNull(), F.substring(col, 1, 2)).otherwise(F.lit("ND"))


def derive_all(df: DataFrame, config: Mapping[str, Any]) -> DataFrame:
    """The full enrichment stage: F1–F19 as layered projections.

    Matches the reference's ``transform()`` output column set
    (``src/etl_entregas.py:213-391``), including dropping the transient
    ``fecha_date``. Each shared intermediate (typed ``precio``/``cantidad``,
    ``fecha_date``, ``cantidad_unidades``, ``dia_semana``, ``dia_proceso``,
    ``precio_total``) is computed in an earlier projection layer and read
    by name downstream, so it is evaluated once per row even when Catalyst fuses
    the stage into a ``dropDuplicates`` aggregate (SCALE.md, "Layered
    derive projection").
    """
    rules = config.get("business_rules", {})
    factors = rules.get("units_conversion", {"CS": 20, "ST": 1})
    routine = rules.get("delivery_types", {}).get("routine", [])
    bonus = rules.get("delivery_types", {}).get("bonus", [])
    countries = config.get("country_names", {})

    layered = (
        df.withColumns({
            "precio": cast_double("precio"),
            "cantidad": cast_double("cantidad"),
            "fecha_date": F.to_date(F.col("fecha_proceso"), "yyyyMMdd"),
        })
        .withColumns({
            "cantidad_unidades": unit_conversion(F.col("cantidad"), "unidad", factors),
            "dia_semana": F.dayofweek(F.col("fecha_date")),
            "dia_proceso": date_part_from_string("fecha_proceso", "day"),
        })
        .withColumn("precio_total", total_price(F.col("precio"), F.col("cantidad_unidades")))
    )
    precio, qty_units, p_total = F.col("precio"), F.col("cantidad_unidades"), F.col("precio_total")
    fecha_date, dow, dia = F.col("fecha_date"), F.col("dia_semana"), F.col("dia_proceso")

    return layered.select(
        *[F.col(c) for c in df.columns if c not in ("precio", "cantidad")],
        precio,
        F.col("cantidad"),
        qty_units,
        delivery_category("tipo_entrega", routine, bonus).alias("categoria_entrega"),
        bool_flag(F.col("tipo_entrega").isin(list(routine))).alias("es_entrega_rutina"),
        bool_flag(F.col("tipo_entrega").isin(list(bonus))).alias("es_entrega_bonificacion"),
        p_total,
        map_lookup(F.upper(F.col("pais")), countries).alias("nombre_pais"),
        F.current_timestamp().alias("fecha_procesamiento_etl"),
        guarded_ratio(precio, qty_units, 4).alias("precio_por_unidad"),
        bool_flag(precio == 0).alias("es_bonificacion_gratuita"),
        date_part_from_string("fecha_proceso", "year").alias("anio_proceso"),
        date_part_from_string("fecha_proceso", "month").alias("mes_proceso"),
        dia,
        dow,
        day_name_es(dow).alias("nombre_dia_semana"),
        F.weekofyear(fecha_date).alias("semana_del_anio"),
        F.quarter(fecha_date).alias("trimestre"),
        month_period(dia).alias("periodo_mes"),
        volume_bucket(qty_units).alias("rango_volumen"),
        bool_flag(p_total > 1000).alias("es_alto_valor"),
        region_code("ruta").alias("codigo_region"),
    )
