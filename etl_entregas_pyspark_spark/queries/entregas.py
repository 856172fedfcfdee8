"""The entregas pipeline's full capability surface (SURVEY.md §2.1–§2.8)
as oracle-checked queries over the synthetic star schema.

The reference pipeline (``/root/reference/src/etl_entregas.py``) consumes a
9-column all-string CSV; here an identically-shaped raw frame is
synthesized **deterministically from integer columns of lineitem** (zero
float ops in the generator, so both engines build byte-identical strings),
then pushed through the engine's quality → filter → derive → standardize
stages.

Cross-engine rounding contract (verified in tests/test_rounding_parity.py):
``round(double, k)`` DISAGREES between Spark and DuckDB on half-boundary
shortest-repr values (1.005 → 1.01 vs 1.00), so the oracle-checked derive
stage never rounds doubles:

- products (precio_total): exact DECIMAL multiply, ROUND on the decimal
  (HALF_UP in Spark ≡ half-away-from-zero in DuckDB), cast back to double;
- rounded ratios (precio_por_unidad): integer half-up rounding
  ``(2·p·10⁴ + q) DIV (2·q) / 10⁴`` over exact cent values;
- unit conversion / comparisons: plain IEEE double ops (bitwise identical
  given bitwise-identical inputs).

The reference's own double-``round`` semantics (parity mode) are validated
separately by the golden-CSV ladder test (379 → 123), where the oracle is
the reference's published output, not DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_entregas_pyspark_spark.operators import filters, quality
from etl_entregas_pyspark_spark.queries.registry import register
from etl_entregas_pyspark_spark.queries.relational import T, spread_if_narrow

VALID_COUNTRIES = ["GT", "SV", "HN", "EC", "PE", "JM"]
COUNTRY_NAMES = {
    "GT": "Guatemala",
    "SV": "El Salvador",
    "HN": "Honduras",
    "EC": "Ecuador",
    "PE": "Perú",
    "JM": "Jamaica",
}
ROUTINE_TYPES = ["ZPRE", "ZVE1"]
BONUS_TYPES = ["Z04", "Z05"]
DATE_START, DATE_END = "19960101", "19971231"

ENTREGAS_CONFIG = {
    "data_quality": {
        "remove_null_material": True,
        "remove_duplicates": True,
        "validate_country_codes": True,
        "valid_countries": VALID_COUNTRIES,
    },
    "business_rules": {
        "delivery_types": {"routine": ROUTINE_TYPES, "bonus": BONUS_TYPES},
        "units_conversion": {"CS": 20, "ST": 1},
    },
    "filters": {"start_date": DATE_START, "end_date": DATE_END},
    "country_names": COUNTRY_NAMES,
}

# ---------------------------------------------------------------------------
# deterministic raw-frame synthesis (string-typed, like the reference CSV)
# ---------------------------------------------------------------------------

_RAW_SQL = """
    SELECT
        CASE l_suppkey % 8 WHEN 0 THEN 'GT' WHEN 1 THEN 'SV' WHEN 2 THEN 'HN'
             WHEN 3 THEN 'EC' WHEN 4 THEN 'PE' WHEN 5 THEN 'JM'
             WHEN 6 THEN 'US' ELSE 'MX' END AS pais,
        strftime(l_shipdate, '%Y%m%d') AS fecha_proceso,
        CAST(67000000 + l_orderkey % 1000000 AS VARCHAR) AS transporte,
        CAST(100000 + (l_partkey * 7) % 890000 AS VARCHAR) AS ruta,
        CASE l_linenumber % 5 WHEN 0 THEN 'ZPRE' WHEN 1 THEN 'ZVE1'
             WHEN 2 THEN 'Z04' WHEN 3 THEN 'Z05' ELSE 'COBR' END AS tipo_entrega,
        CASE WHEN l_partkey % 97 = 0 THEN ''
             WHEN l_partkey % 89 = 3 THEN NULL
             ELSE 'MAT' || LPAD(CAST(l_partkey % 1000 AS VARCHAR), 6, '0') END AS material,
        CASE WHEN l_orderkey % 50 = 0 THEN '0E-18'
             ELSE CAST((l_partkey % 9000) + 1 AS VARCHAR) || '.'
                  || LPAD(CAST(l_orderkey % 100 AS VARCHAR), 2, '0') END AS precio,
        CAST((l_orderkey % 48) + 1 AS VARCHAR) || '.'
             || LPAD(CAST(l_suppkey % 100 AS VARCHAR), 2, '0') AS cantidad,
        CASE l_linenumber % 2 WHEN 0 THEN 'CS' ELSE 'ST' END AS unidad
    FROM lineitem
"""


def entregas_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark twin of _RAW_SQL (Spark's % on bigint ≡ DuckDB's % here:
    every operand is non-negative)."""
    # the testdata parquet is one input split (single row group), so
    # every per-row synthesis below would otherwise run in ONE task;
    # hash-repartition on the row identity spreads it (guide §2.5 input
    # skew — no sort, 5-int rows, ~the cheapest possible exchange). The
    # spread is split-aware: a production scan that already arrives wide
    # skips the exchange entirely (r15 VERDICT #1).
    li = spread_if_narrow(
        T(spark, sf_dir, "lineitem"), "l_orderkey", "l_linenumber"
    )
    sk, ok, pk, ln = (F.col(c) for c in ("l_suppkey", "l_orderkey", "l_partkey", "l_linenumber"))
    pais = (
        F.when(sk % 8 == 0, "GT").when(sk % 8 == 1, "SV").when(sk % 8 == 2, "HN")
        .when(sk % 8 == 3, "EC").when(sk % 8 == 4, "PE").when(sk % 8 == 5, "JM")
        .when(sk % 8 == 6, "US").otherwise("MX")
    )
    tipo = (
        F.when(ln % 5 == 0, "ZPRE").when(ln % 5 == 1, "ZVE1")
        .when(ln % 5 == 2, "Z04").when(ln % 5 == 3, "Z05").otherwise("COBR")
    )
    material = (
        F.when(pk % 97 == 0, "")
        .when(pk % 89 == 3, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("MAT"), F.lpad((pk % 1000).cast("string"), 6, "0")))
    )
    precio = F.when(ok % 50 == 0, "0E-18").otherwise(
        F.concat(((pk % 9000) + 1).cast("string"), F.lit("."), F.lpad((ok % 100).cast("string"), 2, "0"))
    )
    cantidad = F.concat(
        ((ok % 48) + 1).cast("string"), F.lit("."), F.lpad((sk % 100).cast("string"), 2, "0")
    )
    return li.select(
        pais.alias("pais"),
        F.date_format("l_shipdate", "yyyyMMdd").alias("fecha_proceso"),
        (F.lit(67000000) + ok % 1000000).cast("string").alias("transporte"),
        (F.lit(100000) + (pk * 7) % 890000).cast("string").alias("ruta"),
        tipo.alias("tipo_entrega"),
        material.alias("material"),
        precio.alias("precio"),
        cantidad.alias("cantidad"),
        F.when(ln % 2 == 0, "CS").otherwise("ST").alias("unidad"),
    )


# ---------------------------------------------------------------------------
# q60 — full pipeline: quality → filters → derive → standardize
# ---------------------------------------------------------------------------

def _derived_deterministic(df: DataFrame) -> DataFrame:
    """The derive stage (F1–F19) in cross-engine-deterministic arithmetic."""
    precio_d = F.col("precio").cast("double")
    cantidad_d = F.col("cantidad").cast("double")
    factor = F.when(F.col("unidad") == "CS", F.lit(20)).otherwise(F.lit(1))
    qty_units = F.when(F.col("unidad") == "CS", cantidad_d * 20.0).otherwise(cantidad_d)

    # exact decimal product, half-up rounded at scale 2
    precio_dec = F.col("precio").cast("decimal(18,2)")
    qty_dec = F.col("cantidad").cast("decimal(18,2)") * factor
    precio_total = F.round(precio_dec * qty_dec, 2).cast("double")

    # integer half-up ratio rounding: cents are exact bigints
    pc = (precio_dec * 100).cast("bigint")
    quc = (qty_dec * 100).cast("bigint")
    numer = 2 * pc * 10000 + quc
    ppu = F.when(quc > 0, (numer - (numer % (2 * quc))) / (2 * quc) / 10000.0).otherwise(F.lit(0.0))

    dia = F.substring("fecha_proceso", 7, 2).cast("int")
    fecha_date = F.to_date("fecha_proceso", "yyyyMMdd")
    dow = F.dayofweek(fecha_date)
    nombre_pais = None
    for code, name in COUNTRY_NAMES.items():
        branch = (F.upper(F.col("pais")) == code, F.lit(name))
        nombre_pais = F.when(*branch) if nombre_pais is None else nombre_pais.when(*branch)

    day_names = {1: "Domingo", 2: "Lunes", 3: "Martes", 4: "Miércoles", 5: "Jueves", 6: "Viernes"}
    nombre_dia = None
    for num, name in day_names.items():
        nombre_dia = F.when(dow == num, name) if nombre_dia is None else nombre_dia.when(dow == num, name)
    nombre_dia = nombre_dia.otherwise("Sábado")

    return df.select(
        F.col("pais").alias("codigo_pais"),
        nombre_pais.alias("nombre_pais"),
        F.when(F.col("ruta").isNotNull(), F.substring("ruta", 1, 2)).otherwise("ND").alias("codigo_region"),
        "fecha_proceso",
        F.substring("fecha_proceso", 1, 4).cast("int").alias("anio_proceso"),
        F.quarter(fecha_date).alias("trimestre"),
        F.substring("fecha_proceso", 5, 2).cast("int").alias("mes_proceso"),
        F.weekofyear(fecha_date).alias("semana_del_anio"),
        dia.alias("dia_proceso"),
        dow.alias("dia_semana"),
        nombre_dia.alias("nombre_dia_semana"),
        F.when(dia <= 10, "INICIO_MES").when(dia >= 21, "FIN_MES").otherwise("MEDIADOS_MES").alias("periodo_mes"),
        F.col("transporte").alias("id_transporte"),
        F.col("ruta").alias("id_ruta"),
        F.col("material").alias("codigo_material"),
        F.col("tipo_entrega").alias("codigo_tipo_entrega"),
        F.when(F.col("tipo_entrega").isin(ROUTINE_TYPES), "RUTINA")
        .when(F.col("tipo_entrega").isin(BONUS_TYPES), "BONIFICACION")
        .otherwise("OTRO").alias("categoria_entrega"),
        F.col("tipo_entrega").isin(ROUTINE_TYPES).alias("es_entrega_rutina"),
        F.col("tipo_entrega").isin(BONUS_TYPES).alias("es_entrega_bonificacion"),
        cantidad_d.alias("cantidad_original"),
        F.col("unidad").alias("unidad_original"),
        qty_units.alias("cantidad_unidades"),
        F.when(qty_units <= 20, "BAJO").when(qty_units <= 100, "MEDIO")
        .when(qty_units <= 500, "ALTO").otherwise("MUY_ALTO").alias("rango_volumen"),
        precio_d.alias("precio_unitario"),
        ppu.alias("precio_por_unidad"),
        precio_total.alias("precio_total"),
        (precio_d == 0).alias("es_bonificacion_gratuita"),
        (precio_total > 1000).alias("es_alto_valor"),
    )


_DERIVED_SQL = f"""
    SELECT
        pais AS codigo_pais,
        CASE upper(pais) WHEN 'GT' THEN 'Guatemala' WHEN 'SV' THEN 'El Salvador'
             WHEN 'HN' THEN 'Honduras' WHEN 'EC' THEN 'Ecuador'
             WHEN 'PE' THEN 'Perú' WHEN 'JM' THEN 'Jamaica' END AS nombre_pais,
        CASE WHEN ruta IS NOT NULL THEN substr(ruta, 1, 2) ELSE 'ND' END AS codigo_region,
        fecha_proceso,
        CAST(substr(fecha_proceso, 1, 4) AS INTEGER) AS anio_proceso,
        quarter(strptime(fecha_proceso, '%Y%m%d')) AS trimestre,
        CAST(substr(fecha_proceso, 5, 2) AS INTEGER) AS mes_proceso,
        weekofyear(strptime(fecha_proceso, '%Y%m%d')) AS semana_del_anio,
        CAST(substr(fecha_proceso, 7, 2) AS INTEGER) AS dia_proceso,
        dayofweek(strptime(fecha_proceso, '%Y%m%d')) + 1 AS dia_semana,
        CASE dayofweek(strptime(fecha_proceso, '%Y%m%d')) + 1
             WHEN 1 THEN 'Domingo' WHEN 2 THEN 'Lunes' WHEN 3 THEN 'Martes'
             WHEN 4 THEN 'Miércoles' WHEN 5 THEN 'Jueves' WHEN 6 THEN 'Viernes'
             ELSE 'Sábado' END AS nombre_dia_semana,
        CASE WHEN CAST(substr(fecha_proceso, 7, 2) AS INTEGER) <= 10 THEN 'INICIO_MES'
             WHEN CAST(substr(fecha_proceso, 7, 2) AS INTEGER) >= 21 THEN 'FIN_MES'
             ELSE 'MEDIADOS_MES' END AS periodo_mes,
        transporte AS id_transporte,
        ruta AS id_ruta,
        material AS codigo_material,
        tipo_entrega AS codigo_tipo_entrega,
        CASE WHEN tipo_entrega IN ('ZPRE','ZVE1') THEN 'RUTINA'
             WHEN tipo_entrega IN ('Z04','Z05') THEN 'BONIFICACION'
             ELSE 'OTRO' END AS categoria_entrega,
        tipo_entrega IN ('ZPRE','ZVE1') AS es_entrega_rutina,
        tipo_entrega IN ('Z04','Z05') AS es_entrega_bonificacion,
        CAST(cantidad AS DOUBLE) AS cantidad_original,
        unidad AS unidad_original,
        CASE WHEN unidad = 'CS' THEN CAST(cantidad AS DOUBLE) * 20.0
             ELSE CAST(cantidad AS DOUBLE) END AS cantidad_unidades,
        CASE WHEN (CASE WHEN unidad = 'CS' THEN CAST(cantidad AS DOUBLE) * 20.0
                        ELSE CAST(cantidad AS DOUBLE) END) <= 20 THEN 'BAJO'
             WHEN (CASE WHEN unidad = 'CS' THEN CAST(cantidad AS DOUBLE) * 20.0
                        ELSE CAST(cantidad AS DOUBLE) END) <= 100 THEN 'MEDIO'
             WHEN (CASE WHEN unidad = 'CS' THEN CAST(cantidad AS DOUBLE) * 20.0
                        ELSE CAST(cantidad AS DOUBLE) END) <= 500 THEN 'ALTO'
             ELSE 'MUY_ALTO' END AS rango_volumen,
        CAST(precio AS DOUBLE) AS precio_unitario,
        CASE WHEN CAST(CAST(cantidad AS DECIMAL(18,2))
                       * (CASE WHEN unidad = 'CS' THEN 20 ELSE 1 END) * 100 AS BIGINT) > 0
             THEN CAST((2 * CAST(CAST(precio AS DECIMAL(18,2)) * 100 AS BIGINT) * 10000
                        + CAST(CAST(cantidad AS DECIMAL(18,2))
                               * (CASE WHEN unidad = 'CS' THEN 20 ELSE 1 END) * 100 AS BIGINT))
                       // (2 * CAST(CAST(cantidad AS DECIMAL(18,2))
                                    * (CASE WHEN unidad = 'CS' THEN 20 ELSE 1 END) * 100 AS BIGINT))
                       AS DOUBLE) / 10000.0
             ELSE 0.0 END AS precio_por_unidad,
        CAST(ROUND(CAST(precio AS DECIMAL(18,2))
                   * (CAST(cantidad AS DECIMAL(18,2)) * (CASE WHEN unidad = 'CS' THEN 20 ELSE 1 END)),
                   2) AS DOUBLE) AS precio_total,
        CAST(precio AS DOUBLE) = 0 AS es_bonificacion_gratuita,
        CAST(ROUND(CAST(precio AS DECIMAL(18,2))
                   * (CAST(cantidad AS DECIMAL(18,2)) * (CASE WHEN unidad = 'CS' THEN 20 ELSE 1 END)),
                   2) AS DOUBLE) > 1000 AS es_alto_valor
    FROM filtered
"""

_QUALITY_FILTER_SQL = f"""
    WITH raw AS ({_RAW_SQL}),
    clean AS (
        SELECT DISTINCT * FROM raw
        WHERE material IS NOT NULL AND trim(material) <> ''
          AND tipo_entrega IN ('ZPRE','ZVE1','Z04','Z05')
    ),
    filtered AS (
        SELECT * FROM clean
        WHERE upper(pais) IN ('GT','SV','HN','EC','PE','JM')
          AND fecha_proceso >= '{DATE_START}' AND fecha_proceso <= '{DATE_END}'
    )
"""


@register(
    "q60_entregas_pipeline",
    _QUALITY_FILTER_SQL + _DERIVED_SQL,
    doc="end-to-end entregas pipeline (quality P1–P4 → filters P5 → derive "
    "F1–F19 → standardize P8/P10) over a deterministically synthesized "
    "string-typed raw frame; 28 output columns (audit timestamp excluded "
    "as non-deterministic)",
)
def q60_entregas_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = entregas_raw(spark, sf_dir)
    cleaned = quality.apply_quality(raw, ENTREGAS_CONFIG)
    filtered = filters.apply_filters(cleaned, ENTREGAS_CONFIG)
    return _derived_deterministic(filtered)


# ---------------------------------------------------------------------------
# q61 — single-pass quality-metric ladder
# ---------------------------------------------------------------------------

@register(
    "q61_entregas_quality_metrics",
    f"""
    WITH raw AS ({_RAW_SQL}),
    passed AS (
        SELECT * FROM raw
        WHERE material IS NOT NULL AND trim(material) <> ''
          AND tipo_entrega IN ('ZPRE','ZVE1','Z04','Z05')
    )
    SELECT
        (SELECT COUNT(*) FROM raw) AS input_rows,
        (SELECT COUNT(*) FROM raw WHERE material IS NULL OR trim(material) = '')
            AS null_material_removed,
        (SELECT COUNT(*) FROM raw WHERE material IS NOT NULL AND trim(material) <> '')
            - (SELECT COUNT(*) FROM passed) AS invalid_type_removed,
        (SELECT COUNT(*) FROM passed) - (SELECT COUNT(*) FROM (SELECT DISTINCT * FROM passed))
            AS duplicates_removed,
        (SELECT COUNT(*) FROM (SELECT DISTINCT * FROM passed)
            WHERE upper(pais) IN ('GT','SV','HN','EC','PE','JM')) AS final_rows
    """,
    doc="the DQ metric ladder (input / P1 / P2 / P3 / P4 counts) computed in "
    "ONE aggregation pass — the scalable replacement for the reference's 11 "
    "uncached count() actions (SURVEY §4.1)",
)
def q61_entregas_quality_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = entregas_raw(spark, sf_dir)
    return quality.metrics_frame(raw, ENTREGAS_CONFIG)


# ---------------------------------------------------------------------------
# q142 — P6 country equality filter (the one §2 operator that was
# config-off in q60: reference `config/config.yaml` ships `country: null`,
# so q60's parity path never exercises `filters.country_filter`)
# ---------------------------------------------------------------------------

_Q142_CONFIG = {
    **ENTREGAS_CONFIG,
    # lowercase on purpose: P6 is case-NORMALIZED equality (reference
    # `src/etl_entregas.py` uppercases both sides), so the config value
    # 'gt' must match the raw 'GT' rows
    "filters": {**ENTREGAS_CONFIG["filters"], "country": "gt"},
}


@register(
    "q142_country_filter",
    _QUALITY_FILTER_SQL.replace(
        "WHERE upper(pais) IN ('GT','SV','HN','EC','PE','JM')",
        "WHERE upper(pais) IN ('GT','SV','HN','EC','PE','JM')\n"
        "          AND upper(pais) = upper('gt')",
    )
    + """
    SELECT tipo_entrega,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT ruta) AS BIGINT) AS n_rutas,
           MIN(fecha_proceso) AS first_fecha,
           MAX(fecha_proceso) AS last_fecha
    FROM filtered GROUP BY tipo_entrega
    """,
    doc="P6 country equality filter on the live pipeline path: quality "
    "stages → date-range filter → case-normalized country filter "
    "(config 'gt' matches raw 'GT' — upper() on both sides, the "
    "reference's semantics), rolled up per delivery type. The predicate "
    "is a scan-stage filter Catalyst pushes into the parquet read of the "
    "synthesized frame's source columns — no exchange added; the rollup "
    "is one constant-width aggregation.",
)
def q142_country_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = entregas_raw(spark, sf_dir)
    cleaned = quality.apply_quality(raw, ENTREGAS_CONFIG)
    filtered = filters.apply_filters(cleaned, _Q142_CONFIG)
    return filtered.groupBy("tipo_entrega").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.countDistinct("ruta").cast("bigint").alias("n_rutas"),
        F.min("fecha_proceso").alias("first_fecha"),
        F.max("fecha_proceso").alias("last_fecha"),
    )
