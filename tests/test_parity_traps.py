"""Explicit tests for every parity trap in SURVEY §7 — the behaviors that
are easy to "fix" into incorrectness."""

import os

import pytest
from pyspark.sql import functions as F

from etl_entregas_pyspark_spark.operators import derive, filters
from tests.conftest import REFERENCE_CSV


@pytest.fixture(scope="module")
def one_row(spark):
    def make(fecha="20250114", ruta="919885", precio="10.5", cantidad="2.0", unidad="CS"):
        return spark.createDataFrame(
            [("GT", fecha, "67053596", ruta, "ZPRE", "AA004003", precio, cantidad, unidad)],
            ["pais", "fecha_proceso", "transporte", "ruta", "tipo_entrega",
             "material", "precio", "cantidad", "unidad"],
        )
    return make


CONFIG = {
    "business_rules": {
        "units_conversion": {"CS": 20, "ST": 1},
        "delivery_types": {"routine": ["ZPRE", "ZVE1"], "bonus": ["Z04", "Z05"]},
    },
    "country_names": {"GT": "Guatemala"},
}


def _derive_one(df):
    return derive.derive_all(df, CONFIG).collect()[0]


class TestSurvey7Traps:
    def test_trap2_lexicographic_date_filter_is_string_compare(self, one_row):
        """§7.2: the range filter must compare strings, not dates — a
        malformed-but-in-range string passes."""
        df = one_row(fecha="20250230")  # Feb 30 — invalid as a date
        out = df.filter(filters.date_range_filter("fecha_proceso", "20250101", "20250630"))
        assert out.count() == 1  # a date-typed filter would NULL it out

    def test_trap3_dayofweek_spark_semantics(self, one_row):
        """§7.3: 2025-01-14 is a Tuesday → Spark dayofweek=3, name Martes
        (the reference's comment claims 1=Monday; behavior wins)."""
        row = _derive_one(one_row(fecha="20250114"))
        assert row.dia_semana == 3
        assert row.nombre_dia_semana == "Martes"

    def test_trap3_sunday_and_accents(self, one_row):
        row = _derive_one(one_row(fecha="20250112"))  # Sunday
        assert row.dia_semana == 1 and row.nombre_dia_semana == "Domingo"
        row = _derive_one(one_row(fecha="20250115"))  # Wednesday
        assert row.nombre_dia_semana == "Miércoles"
        row = _derive_one(one_row(fecha="20250118"))  # Saturday
        assert row.nombre_dia_semana == "Sábado"

    def test_trap4_scientific_notation_to_double(self, one_row):
        """§7.4: '0E-18' parses to double 0.0; flags fire."""
        row = _derive_one(one_row(precio="0E-18"))
        assert row.precio == 0.0
        assert row.es_bonificacion_gratuita is True

    def test_trap4_half_up_rounding(self, one_row):
        """§7.4: Spark round is HALF_UP on the shortest repr: 2.5*8.10=20.25
        stays 20.25; 0.125*1 ST rounds precio_total to 0.13 not 0.12."""
        row = _derive_one(one_row(precio="0.125", cantidad="1.0", unidad="ST"))
        assert row.precio_total == 0.13

    def test_trap5_map_miss_yields_null(self, spark):
        df = spark.createDataFrame(
            [("XX", "20250114", "1", "919885", "ZPRE", "M", "1.0", "1.0", "ST")],
            ["pais", "fecha_proceso", "transporte", "ruta", "tipo_entrega",
             "material", "precio", "cantidad", "unidad"],
        )
        row = derive.derive_all(df, CONFIG).collect()[0]
        assert row.nombre_pais is None

    def test_trap5_region_nd_only_when_ruta_null(self, spark):
        schema = ", ".join(
            f"{c} string"
            for c in ["pais", "fecha_proceso", "transporte", "ruta", "tipo_entrega",
                      "material", "precio", "cantidad", "unidad"]
        )
        df = spark.createDataFrame(
            [("GT", "20250114", "1", None, "ZPRE", "M", "1.0", "1.0", "ST")],
            schema,
        )
        row = derive.derive_all(df, CONFIG).collect()[0]
        assert row.codigo_region == "ND"

    def test_unit_conversion_and_buckets(self, one_row):
        """F2/F16/F17 boundaries: CS×20; dia 14 → MEDIADOS; qty 40 → MEDIO."""
        row = _derive_one(one_row(precio="10.5", cantidad="2.0", unidad="CS"))
        assert row.cantidad_unidades == 40.0
        assert row.rango_volumen == "MEDIO"
        assert row.periodo_mes == "MEDIADOS_MES"
        assert row.precio_total == 420.0
        assert row.precio_por_unidad == round(10.5 / 40.0, 4)

    def test_bucket_boundaries(self, one_row):
        assert _derive_one(one_row(cantidad="1.0", unidad="CS")).rango_volumen == "BAJO"  # 20
        assert _derive_one(one_row(cantidad="25.0", unidad="CS")).rango_volumen == "ALTO"  # 500
        assert _derive_one(one_row(cantidad="25.05", unidad="CS")).rango_volumen == "MUY_ALTO"  # 501
        assert _derive_one(one_row(fecha="20250110")).periodo_mes == "INICIO_MES"
        assert _derive_one(one_row(fecha="20250121")).periodo_mes == "FIN_MES"

    def test_guarded_ratio_zero_qty(self, one_row):
        """F8: qty 0 → precio_por_unidad 0, not NULL/error (ANSI-safe)."""
        row = _derive_one(one_row(cantidad="0.0", unidad="ST"))
        assert row.precio_por_unidad == 0.0


class TestGoldenPartitionCounts:
    @pytest.mark.skipif(not os.path.exists(REFERENCE_CSV), reason="reference CSV unavailable")
    def test_per_partition_rows(self, spark, tmp_path):
        """BASELINE per-partition distribution over the golden CSV:
        the 123 output rows split across the 6 dates exactly as published
        (docs/data_flow_diagram.md:367-384)."""
        from etl_entregas_pyspark_spark.config import load_config
        from etl_entregas_pyspark_spark.operators.pipeline import EntregasPipeline

        cfg = load_config(dotlist=[
            f"paths.input_file={REFERENCE_CSV}",
            f"paths.output_base={tmp_path}/out",
        ])
        pipe = EntregasPipeline(spark, cfg)
        cleaned, _ = pipe.apply_data_quality(pipe.extract())
        final = pipe.standardize_columns(pipe.transform(pipe.apply_filters(cleaned)))
        counts = {
            r.fecha_proceso: r.n
            for r in final.groupBy("fecha_proceso").agg(F.count("*").alias("n")).collect()
        }
        assert sum(counts.values()) == 123
        assert len(counts) == 6


DERIVED_SCHEMA = [
    ("pais", "string"), ("fecha_proceso", "string"), ("transporte", "string"),
    ("ruta", "string"), ("tipo_entrega", "string"), ("material", "string"),
    ("unidad", "string"), ("precio", "double"), ("cantidad", "double"),
    ("cantidad_unidades", "double"), ("categoria_entrega", "string"),
    ("es_entrega_rutina", "boolean"), ("es_entrega_bonificacion", "boolean"),
    ("precio_total", "double"), ("nombre_pais", "string"),
    ("fecha_procesamiento_etl", "timestamp"), ("precio_por_unidad", "double"),
    ("es_bonificacion_gratuita", "boolean"), ("anio_proceso", "int"),
    ("mes_proceso", "int"), ("dia_proceso", "int"), ("dia_semana", "int"),
    ("nombre_dia_semana", "string"), ("semana_del_anio", "int"),
    ("trimestre", "int"), ("periodo_mes", "string"), ("rango_volumen", "string"),
    ("es_alto_valor", "boolean"), ("codigo_region", "string"),
]


class TestLayeredDerive:
    """derive_all computes each shared intermediate once per row, also when
    Catalyst merges it into the dedup aggregate (SCALE.md, "Layered derive
    projection")."""

    @pytest.fixture(scope="class")
    def mixed(self, spark):
        # 2025-01-12..18 is Sunday..Saturday; every day gets each unit case.
        cases = [
            ("ZPRE", "10.5", "2.0", "CS"),
            ("Z04", "0E-18", "3.0", "ST"),
            ("ZVE1", "7.25", "0", "KG"),
            ("COBR", "1200.0", "1.0", "ST"),
        ]
        rows = [
            ("GT", f"202501{day}", "67053596", None if day == 13 else f"91{day}885", t, "M", p, q, u)
            for day in range(12, 19)
            for t, p, q, u in cases
        ]
        schema = ", ".join(
            f"{c} string"
            for c in ["pais", "fecha_proceso", "transporte", "ruta", "tipo_entrega",
                      "material", "precio", "cantidad", "unidad"]
        )
        return spark.createDataFrame(rows, schema)

    def test_shared_subexpressions_appear_once_over_dedup(self, mixed):
        plan = derive.derive_all(mixed.dropDuplicates(), CONFIG)._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("gettimestamp") == 1, plan
        assert plan.count("CASE WHEN (unidad") == 1, plan

    def test_dedup_path_matches_plain_path(self, mixed):
        def derived(df):
            return derive.derive_all(df, CONFIG).drop("fecha_procesamiento_etl")

        plain = derived(mixed).collect()
        fused = derived(mixed.dropDuplicates()).collect()
        assert len(plain) == 28
        assert sorted(map(tuple, plain)) == sorted(map(tuple, fused))
        days = {(r.dia_semana, r.nombre_dia_semana) for r in fused}
        assert days == {
            (1, "Domingo"), (2, "Lunes"), (3, "Martes"), (4, "Miércoles"),
            (5, "Jueves"), (6, "Viernes"), (7, "Sábado"),
        }

    def test_schema_pinned_and_no_transient_column(self, mixed):
        out = derive.derive_all(mixed.dropDuplicates(), CONFIG)
        assert out.dtypes == DERIVED_SCHEMA
        assert "fecha_date" not in out.columns
