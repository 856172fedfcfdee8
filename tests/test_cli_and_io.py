"""CLI entry-point parity + source/sink round-trips."""

import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from etl_entregas_pyspark_spark.__main__ import main, parse_arguments
from etl_entregas_pyspark_spark.io.readers import read_csv_raw, read_json, read_orc, read_parquet
from etl_entregas_pyspark_spark.io.writers import write_partitioned
from tests.conftest import FIXTURE_CSV, FIXTURE_LADDER, REFERENCE_CSV


def _dry_run(tmp_path, csv):
    """``python -m etl_entregas_pyspark_spark --dry-run`` over ``csv`` in a
    fresh JVM; returns the printed metrics."""
    out = subprocess.run(
        [
            sys.executable, "-m", "etl_entregas_pyspark_spark",
            "--dry-run",
            f"paths.input_file={csv}",
            f"paths.output_base={tmp_path}/out",
            "spark.master=local[2]",
            "spark.configs.spark.ui.enabled=false",
        ],
        capture_output=True, text=True, timeout=240,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return json.loads(out.stdout[out.stdout.index("{"):])


class TestCLI:
    def test_show_config_applies_overrides(self, capsys):
        rc = main(["--show-config", "filters.country=GT", "spark.master=local[2]"])
        assert rc == 0
        cfg = json.loads(capsys.readouterr().out)
        assert cfg["filters"]["country"] == "GT"
        assert cfg["spark"]["master"] == "local[2]"

    def test_bad_dotlist_rejected(self):
        with pytest.raises(SystemExit):
            parse_arguments(["--env", "qa", "not-an-override"])

    @pytest.mark.skipif(not os.path.exists(REFERENCE_CSV), reason="reference CSV unavailable")
    def test_dry_run_end_to_end(self, tmp_path):
        """Full subprocess run (fresh JVM) against the reference CSV with
        write skipped — validates the reference CLI contract."""
        metrics = _dry_run(tmp_path, REFERENCE_CSV)
        assert metrics["data_quality"]["final_rows"] == 123

    def test_dry_run_end_to_end_fixture(self, tmp_path):
        """The same CLI contract over the committed synthetic CSV, so it
        runs where the reference CSV is absent."""
        metrics = _dry_run(tmp_path, FIXTURE_CSV)
        assert metrics["data_quality"] == FIXTURE_LADDER
        assert not (tmp_path / "out").exists()


class TestIORoundTrips:
    @pytest.fixture(scope="class")
    def nation(self, spark, sf_dir):
        return read_parquet(spark, f"{sf_dir}/nation.parquet")

    def _assert_same_rows(self, a, b, key="n_nationkey"):
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))

    def test_parquet_roundtrip(self, spark, nation, tmp_path):
        write_partitioned(nation, str(tmp_path / "p"), partition_cols=None, fmt="parquet")
        back = read_parquet(spark, str(tmp_path / "p"))
        self._assert_same_rows(nation, back.select(*nation.columns))

    def test_json_roundtrip(self, spark, nation, tmp_path):
        write_partitioned(nation, str(tmp_path / "j"), partition_cols=None, fmt="json")
        back = read_json(spark, str(tmp_path / "j")).select(*nation.columns)
        got = {r.n_nationkey: r.n_name for r in back.collect()}
        want = {r.n_nationkey: r.n_name for r in nation.collect()}
        assert got == want

    def test_orc_roundtrip(self, spark, nation, tmp_path):
        write_partitioned(nation, str(tmp_path / "o"), partition_cols=None, fmt="orc")
        back = read_orc(spark, str(tmp_path / "o"))
        self._assert_same_rows(nation, back.select(*nation.columns))

    def test_partitioned_csv_layout(self, spark, nation, tmp_path):
        write_partitioned(
            nation.withColumn("rk", F.col("n_regionkey")),
            str(tmp_path / "c"),
            partition_cols=["rk"],
            fmt="csv",
        )
        dirs = sorted(p.name for p in (tmp_path / "c").iterdir() if p.name.startswith("rk="))
        n_regions = nation.select("n_regionkey").distinct().count()
        assert len(dirs) == n_regions
        back = read_csv_raw(spark, str(tmp_path / "c"))
        assert back.count() == nation.count()
