"""Parity tests for the entregas pipeline.

Tier t1 (SURVEY §5.3): the reference's 8 unit cases on a 5-row fixture,
plus the golden end-to-end ladder 379 → -18 → -41 → -197 → 123 over the
reference's shipped CSV (read-only input; BASELINE.md rows).
"""

import csv
import json
import os
import shutil
import subprocess
import sys
import threading

import pytest
from pyspark.sql import functions as F

from etl_entregas_pyspark_spark.config import load_config
from etl_entregas_pyspark_spark.operators import derive, filters, quality
from etl_entregas_pyspark_spark.operators.pipeline import EntregasPipeline
from tests.conftest import FIXTURE_CSV, FIXTURE_LADDER, REFERENCE_CSV

COLUMNS = [
    "pais",
    "fecha_proceso",
    "transporte",
    "ruta",
    "tipo_entrega",
    "material",
    "precio",
    "cantidad",
    "unidad",
]


@pytest.fixture(scope="module")
def config():
    return load_config()


@pytest.fixture(scope="module")
def sample_df(spark):
    rows = [
        ("GT", "20250115", "67053596", "919885", "ZPRE", "AA004003", "10.5", "2.0", "CS"),
        ("SV", "20250116", "67053597", "919886", "ZVE1", "BA018426", "5.25", "10.0", "ST"),
        ("HN", "20250117", "67053598", "919887", "Z04", "AA004004", "0.0", "1.0", "CS"),
        ("GT", "20250118", "67053599", "919888", "COBR", "AA004005", "7.0", "3.0", "ST"),
        ("PE", "20250119", "67053600", "919889", "ZPRE", "", "9.0", "4.0", "CS"),
    ]
    return spark.createDataFrame(rows, COLUMNS)


class TestDataQuality:
    def test_invalid_delivery_types_removed(self, sample_df, config):
        out = quality.apply_quality(sample_df, config)
        types = {r["tipo_entrega"] for r in out.collect()}
        assert "COBR" not in types

    def test_null_empty_material_removed(self, sample_df, config):
        out = quality.apply_quality(sample_df, config)
        assert out.filter(F.col("material") == "").count() == 0
        assert out.count() == 3

    def test_metrics_single_pass(self, sample_df, config):
        metrics = quality.quality_metrics(sample_df, config)
        assert metrics == {
            "input_rows": 5,
            "null_material_removed": 1,
            "invalid_type_removed": 1,
            "duplicates_removed": 0,
            "final_rows": 3,
        }

    def test_dedup_counts_after_type_filter(self, spark, config):
        # a duplicated COBR row must NOT count as a duplicate (order matters)
        rows = [
            ("GT", "20250115", "1", "10", "COBR", "M1", "1", "1", "ST"),
            ("GT", "20250115", "1", "10", "COBR", "M1", "1", "1", "ST"),
            ("GT", "20250115", "1", "10", "ZPRE", "M1", "1", "1", "ST"),
            ("GT", "20250115", "1", "10", "ZPRE", "M1", "1", "1", "ST"),
        ]
        df = spark.createDataFrame(rows, COLUMNS)
        metrics = quality.quality_metrics(df, config)
        assert metrics["invalid_type_removed"] == 2
        assert metrics["duplicates_removed"] == 1
        assert metrics["final_rows"] == 1

    _ROW = ("GT", "20250115", "1", "10", "ZPRE", "M1", "1", "1", "ST")

    @pytest.mark.parametrize(
        "toggle, rows, ladder",
        [
            # P2 drops a NULL delivery type: the IN-list is NULL there
            (None, [_ROW, _ROW[:4] + (None,) + _ROW[5:]], (2, 0, 1, 0, 1)),
            ("remove_duplicates", [_ROW] * 3, (3, 0, 0, 0, 3)),
            ("validate_country_codes", [_ROW, ("XX",) + _ROW[1:]], (2, 0, 0, 0, 2)),
            ("remove_null_material", [_ROW, _ROW[:5] + ("",) + _ROW[6:]], (2, 0, 0, 0, 2)),
        ],
    )
    def test_metrics_equal_observed_ladder(self, spark, config, toggle, rows, ladder):
        """The one-pass metrics use the pipeline's rules: a NULL type counts
        as removed by P2, and each toggle that switches a rule off is
        honoured."""
        if toggle:
            config = {**config, "data_quality": {**config["data_quality"], toggle: False}}
        df = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLUMNS))
        cleaned, observed = quality.observe_quality(df, config)
        rows_out = len(cleaned.collect())
        assert dict(observed) == dict(zip(quality.ObservedLadder.KEYS, ladder))
        assert quality.quality_metrics(df, config) == dict(observed)
        removed = observed["null_material_removed"] + observed["invalid_type_removed"] + observed["duplicates_removed"]
        assert observed["input_rows"] - removed == observed["final_rows"] == rows_out


class TestTransformations:
    def _first(self, df):
        return df.collect()[0]

    def test_cs_unit_conversion(self, spark, config):
        df = spark.createDataFrame(
            [("GT", "20250115", "1", "10", "ZPRE", "M1", "10.0", "2.0", "CS")], COLUMNS
        )
        row = self._first(derive.derive_all(df, config))
        assert row["cantidad_unidades"] == 40.0
        assert row["precio_total"] == 400.0

    def test_st_unit_conversion(self, spark, config):
        df = spark.createDataFrame(
            [("GT", "20250115", "1", "10", "ZPRE", "M1", "10.0", "2.0", "ST")], COLUMNS
        )
        row = self._first(derive.derive_all(df, config))
        assert row["cantidad_unidades"] == 2.0

    def test_routine_classification(self, spark, config):
        df = spark.createDataFrame(
            [("GT", "20250115", "1", "10", "ZPRE", "M1", "1.0", "1.0", "ST")], COLUMNS
        )
        row = self._first(derive.derive_all(df, config))
        assert row["categoria_entrega"] == "RUTINA"
        assert row["es_entrega_rutina"] is True
        assert row["es_entrega_bonificacion"] is False

    def test_bonus_classification(self, spark, config):
        df = spark.createDataFrame(
            [("GT", "20250115", "1", "10", "Z04", "M1", "0.0", "1.0", "ST")], COLUMNS
        )
        row = self._first(derive.derive_all(df, config))
        assert row["categoria_entrega"] == "BONIFICACION"
        assert row["es_entrega_bonificacion"] is True
        assert row["es_bonificacion_gratuita"] is True

    def test_temporal_derivations(self, spark, config):
        # 20250115 is a Wednesday: Spark dayofweek=4 (1=Sunday)
        df = spark.createDataFrame(
            [("GT", "20250115", "1", "919885", "ZPRE", "M1", "3.0", "1.0", "ST")], COLUMNS
        )
        row = self._first(derive.derive_all(df, config))
        assert (row["anio_proceso"], row["mes_proceso"], row["dia_proceso"]) == (2025, 1, 15)
        assert row["dia_semana"] == 4
        assert row["nombre_dia_semana"] == "Miércoles"
        assert row["trimestre"] == 1
        assert row["semana_del_anio"] == 3
        assert row["periodo_mes"] == "MEDIADOS_MES"
        assert row["codigo_region"] == "91"
        assert row["nombre_pais"] == "Guatemala"

    def test_null_route_region_nd(self, spark, config):
        schema = ", ".join(f"{c} string" for c in COLUMNS)
        df = spark.createDataFrame(
            [("XX", "20250115", "1", None, "ZPRE", "M1", "3.0", "1.0", "ST")], schema
        )
        row = self._first(derive.derive_all(df, config))
        assert row["codigo_region"] == "ND"
        assert row["nombre_pais"] is None  # map miss → NULL

    def test_scientific_zero_price(self, spark, config):
        df = spark.createDataFrame(
            [("GT", "20250115", "1", "10", "ZPRE", "M1", "0E-18", "5.0", "ST")], COLUMNS
        )
        row = self._first(derive.derive_all(df, config))
        assert row["precio"] == 0.0
        assert row["es_bonificacion_gratuita"] is True
        assert row["precio_por_unidad"] == 0.0


class TestFilters:
    def test_date_range_string_compare(self, spark, config):
        rows = [
            ("GT", "20241231", "1", "10", "ZPRE", "M1", "1", "1", "ST"),
            ("GT", "20250101", "1", "10", "ZPRE", "M1", "1", "1", "ST"),
            ("GT", "20250630", "1", "10", "ZPRE", "M1", "1", "1", "ST"),
            ("GT", "20250701", "1", "10", "ZPRE", "M1", "1", "1", "ST"),
        ]
        df = spark.createDataFrame(rows, COLUMNS)
        out = filters.apply_filters(df, config)
        dates = sorted(r["fecha_proceso"] for r in out.collect())
        assert dates == ["20250101", "20250630"]

    def test_country_filter(self, spark, config):
        cfg = dict(config)
        cfg["filters"] = dict(config["filters"], country="gt")
        rows = [
            ("GT", "20250115", "1", "10", "ZPRE", "M1", "1", "1", "ST"),
            ("SV", "20250115", "1", "10", "ZPRE", "M1", "1", "1", "ST"),
        ]
        out = filters.apply_filters(spark.createDataFrame(rows, COLUMNS), cfg)
        assert [r["pais"] for r in out.collect()] == ["GT"]


@pytest.mark.skipif(not os.path.exists(REFERENCE_CSV), reason="reference CSV unavailable")
class TestGoldenLadder:
    """End-to-end against the reference's shipped CSV (BASELINE.md)."""

    def test_golden_ladder_and_output(self, spark, tmp_path, config):
        cfg = dict(config)
        cfg["paths"] = {
            "input_file": REFERENCE_CSV,
            "output_base": str(tmp_path / "out"),
            "metrics_file": str(tmp_path / "metrics.json"),
        }
        pipe = EntregasPipeline(spark, cfg)
        metrics = pipe.run(write=True)

        dq = metrics["data_quality"]
        assert dq["input_rows"] == 379
        assert dq["null_material_removed"] == 18
        assert dq["invalid_type_removed"] == 41
        assert dq["duplicates_removed"] == 197
        assert dq["final_rows"] == 123
        assert metrics["output_rows"] == 123

        # partitioned layout: 6 fecha_proceso=<date> dirs (BASELINE.md)
        parts = [p for p in (tmp_path / "out").iterdir() if p.name.startswith("fecha_proceso=")]
        assert len(parts) == 6

        # schema: 29 columns (reference src/etl_entregas.py:412-455 selects
        # 29; fecha_proceso moves to the directory key on write and is
        # re-added as the partition column on read)
        out_df = spark.read.option("header", "true").csv(str(tmp_path / "out"))
        assert out_df.count() == 123
        assert len(out_df.columns) == 29


def _fixture_pipeline(spark, tmp_path):
    cfg = load_config(dotlist=[f"paths.input_file={FIXTURE_CSV}", f"paths.output_base={tmp_path}/out"])
    return EntregasPipeline(spark, cfg)


# Runs the quality stage over 40 copies of the fixture CSV on local[2,2]
# (a task may fail once), where a Python UDF on `material` fails the first
# attempt of partition 0 at its 600th row. Python UDFs run in batches of
# 100 rows, so the earlier batches have already passed the scan observation
# when it fails. Prints the observed ladder and whether the failure fired.
_RETRY_SCRIPT = r"""
import json, os, sys
from pyspark import TaskContext
from pyspark.sql import functions as F
from etl_entregas_pyspark_spark.config import load_config
from etl_entregas_pyspark_spark.operators.pipeline import EntregasPipeline
from etl_entregas_pyspark_spark.session import build_session

fixture, work = sys.argv[1], sys.argv[2]
lines = open(fixture).read().splitlines()
with open(os.path.join(work, "in.csv"), "w") as fh:
    fh.write("\n".join(lines[:1] + lines[1:] * 40) + "\n")
marker = os.path.join(work, "failed_once")
spark = build_session({"spark": {"master": "local[2,2]", "log_level": "OFF", "configs": {
    "spark.ui.enabled": "false", "spark.sql.shuffle.partitions": "4"}}})


def flaky(value, calls=[0]):
    ctx = TaskContext.get()
    calls[0] += 1
    if ctx.partitionId() == 0 and ctx.attemptNumber() == 0 and calls[0] == 600:
        open(marker, "w").close()
        raise RuntimeError("injected first-attempt failure")
    return value


pipe = EntregasPipeline(spark, load_config(dotlist=[f"paths.input_file={work}/in.csv"]))
raw = pipe.extract()
raw = raw.withColumn("material", F.udf(flaky, "string")("material"))
cleaned, ladder = pipe.apply_data_quality(raw)
cleaned.write.format("noop").mode("overwrite").save()
print(json.dumps({"ladder": dict(ladder), "failed_once": os.path.exists(marker)}))
spark.stop()
"""


class TestObservedLadder:
    """The DQ ladder is observed on the pipeline's one action (the write, or
    the dry run's noop sink) instead of a separate aggregate pass."""

    def test_write_run_fixture(self, spark, tmp_path):
        metrics = _fixture_pipeline(spark, tmp_path).run(write=True)
        assert metrics["data_quality"] == FIXTURE_LADDER
        assert type(metrics["data_quality"]) is dict
        assert metrics["output_rows"] == 7
        parts = [p for p in (tmp_path / "out").iterdir() if p.name.startswith("fecha_proceso=")]
        assert len(parts) == 4

    def test_dry_run_fixture(self, spark, tmp_path):
        metrics = _fixture_pipeline(spark, tmp_path).run(write=False)
        assert metrics["data_quality"] == FIXTURE_LADDER
        assert not (tmp_path / "out").exists()

    @pytest.mark.parametrize(
        "column, value, ladder",
        [
            # P1 removes every row: the dedup exchange is empty
            ("material", "   ", {"input_rows": 23, "null_material_removed": 23, "invalid_type_removed": 0,
                                 "duplicates_removed": 0, "final_rows": 0}),
            # P4 removes every row that survives the dedup
            ("pais", "XX", {"input_rows": 23, "null_material_removed": 5, "invalid_type_removed": 3,
                            "duplicates_removed": 5, "final_rows": 0}),
        ],
    )
    def test_write_run_without_output_rows(self, spark, tmp_path, column, value, ladder):
        """Adaptive execution replaces a plan whose result is empty with an
        empty relation, and its observations complete without values; the
        ladder is then counted again and the output row count is 0."""
        with open(FIXTURE_CSV, newline="") as fh:
            rows = list(csv.reader(fh))
        at = rows[0].index(column)
        for row in rows[1:]:
            row[at] = value
        path = tmp_path / "in.csv"
        with open(path, "w", newline="") as fh:
            csv.writer(fh).writerows(rows)
        cfg = load_config(dotlist=[f"paths.input_file={path}", f"paths.output_base={tmp_path}/out"])
        metrics = EntregasPipeline(spark, cfg).run(write=True)
        assert metrics["data_quality"] == ladder
        assert metrics["output_rows"] == 0

    def test_write_run_job_count(self, spark, tmp_path):
        """One CSV scan per run: a first run is 4 Spark jobs (CSV header
        read, the scan-to-dedup map stage, the write, its commit). A repeat
        run in the same session reuses the header's schema, so it is 3. A
        separate metrics pass would add 3."""
        src = tmp_path / "in.csv"
        shutil.copy(FIXTURE_CSV, src)
        cfg = load_config(dotlist=[f"paths.input_file={src}", f"paths.output_base={tmp_path}/out"])
        pipe = EntregasPipeline(spark, cfg)
        sc = spark.sparkContext
        counts = []
        for run in ("first", "repeat"):
            group = f"entregas-run-{tmp_path.name}-{run}"
            sc.setJobGroup(group, f"job count of the {run} pipeline run")
            try:
                pipe.run(write=True)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            counts.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        assert counts == [4, 3]

    def test_read_before_action_raises(self, spark, tmp_path):
        """Before any action the ladder raises within its bound; Observation.get
        alone would block forever. The thread guard turns a hang into a
        failure instead of a stalled suite."""
        pipe = _fixture_pipeline(spark, tmp_path)
        _, ladder = pipe.apply_data_quality(pipe.extract())
        assert list(ladder) == list(FIXTURE_LADDER)
        outcome = []

        def read():
            try:
                outcome.append(ladder["input_rows"])
            except RuntimeError as exc:
                outcome.append(exc)

        reader = threading.Thread(target=read, daemon=True)
        reader.start()
        reader.join(timeout=quality.DRAIN_MS / 1000 + 30)
        assert not reader.is_alive(), "reading the ladder before any action hung"
        assert isinstance(outcome[0], RuntimeError)

    def test_retried_task_counts_once(self, tmp_path):
        """A failed task attempt's observed-metric updates are dropped, so a
        retried task inside the observed stage leaves the ladder exact."""
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        out = subprocess.run(
            [sys.executable, "-c", _RETRY_SCRIPT, FIXTURE_CSV, str(tmp_path)],
            cwd=repo, capture_output=True, text=True, timeout=240,
        )
        assert out.returncode == 0, out.stderr[-2000:]
        result = json.loads(out.stdout.strip().splitlines()[-1])
        assert result["failed_once"]
        # 40 copies: every count scales by 40 except the 10 distinct rows
        # that survive the dedup
        assert result["ladder"] == {
            "input_rows": 23 * 40,
            "null_material_removed": 5 * 40,
            "invalid_type_removed": 3 * 40,
            "duplicates_removed": 15 * 40 - 10,
            "final_rows": 9,
        }


class TestConfigLayering:
    def test_yaml_env_overlays(self):
        from etl_entregas_pyspark_spark.config import load_config

        dev = load_config(base="config/config.yaml", env="develop")
        assert dev["environment"] == "develop"
        assert str(dev["spark"]["configs"]["spark.sql.shuffle.partitions"]) == "8"
        main = load_config(base="config/config.yaml", env="main")
        assert str(main["spark"]["configs"]["spark.sql.shuffle.partitions"]) == "200"
        # base values survive where the overlay is silent
        assert main["business_rules"]["units_conversion"]["CS"] == 20

    def test_dotlist_reaches_flat_spark_conf_keys(self):
        from etl_entregas_pyspark_spark.config import load_config

        cfg = load_config(
            base="config/config.yaml",
            env="main",
            dotlist=["spark.configs.spark.sql.shuffle.partitions=64"],
        )
        assert str(cfg["spark"]["configs"]["spark.sql.shuffle.partitions"]) == "64"
        assert "spark" not in cfg["spark"]["configs"] or not isinstance(
            cfg["spark"]["configs"].get("spark"), dict
        )
