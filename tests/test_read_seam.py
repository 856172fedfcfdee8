"""The read seam (``io/readers.py``): the only module that opens files, and
its per-session schema memo, which must never hand back a stale schema.
The lint test starts no Spark session."""

import itertools
import sys
import threading
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from etl_entregas_pyspark_spark.io.readers import read_csv_raw, read_parquet

PACKAGE = Path(__file__).resolve().parent.parent / "etl_entregas_pyspark_spark"
DIRECT_READS = (".read.parquet(", ".read.csv(", ".read.orc(", ".read.json(")
NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def test_only_the_seam_opens_files():
    offenders = [
        f"{path.relative_to(PACKAGE)}:{n}"
        for path in sorted(PACKAGE.rglob("*.py"))
        if path != PACKAGE / "io" / "readers.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if any(call in line for call in DIRECT_READS)
    ]
    assert offenders == []


_group_ids = itertools.count()


def _jobs(spark, fn):
    """``fn()`` and the number of Spark jobs it launched (its own thread's
    job group)."""
    sc = spark.sparkContext
    group = f"read-seam-{next(_group_ids)}"
    sc.setJobGroup(group, "read seam job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_repeat_read_launches_no_job(spark, tmp_path):
    path = str(tmp_path / "p")
    spark.range(5).selectExpr("id", "id * 2 AS twice").write.parquet(path)
    first, n_first = _jobs(spark, lambda: read_parquet(spark, path))
    again, n_again = _jobs(spark, lambda: read_parquet(spark, path))
    assert (n_first, n_again) == (1, 0)
    assert again.schema == first.schema
    assert sorted(again.collect()) == sorted(first.collect())


def test_repeat_csv_read_launches_no_job(spark, tmp_path):
    path = tmp_path / "in.csv"
    path.write_text("a,b\n1,2\n")
    first, n_first = _jobs(spark, lambda: read_csv_raw(spark, str(path)))
    again, n_again = _jobs(spark, lambda: read_csv_raw(spark, str(path)))
    assert (n_first, n_again) == (1, 0)
    assert again.collect() == first.collect()


def test_hadoop_path_is_stamped_too(spark, tmp_path):
    """A path with a scheme is stamped through the Hadoop file system."""
    path = f"file://{tmp_path}/p"
    spark.range(3).write.parquet(path)
    _, n_first = _jobs(spark, lambda: read_parquet(spark, path))
    _, n_again = _jobs(spark, lambda: read_parquet(spark, path))
    assert (n_first, n_again) == (1, 0)
    spark.range(3).selectExpr("id AS other").write.mode("overwrite").parquet(path)
    assert read_parquet(spark, path).columns == ["other"]


def test_overwritten_parquet_gets_its_new_schema(spark, tmp_path):
    path = str(tmp_path / "p")
    spark.range(3).write.parquet(path)
    assert read_parquet(spark, path).columns == ["id"]
    renamed = spark.range(3).selectExpr("cast(id AS string) AS name", "cast(id AS double) AS score")
    renamed.write.mode("overwrite").parquet(path)
    back = read_parquet(spark, path)
    assert back.dtypes == [("name", "string"), ("score", "double")]
    assert sorted(r.name for r in back.collect()) == ["0", "1", "2"]


def test_csv_rewritten_in_place_gets_its_new_header(spark, tmp_path):
    """Same inode, same byte length: the stamp still sees the rewrite."""
    path = tmp_path / "in.csv"
    path.write_text("a,b\n1,2\n")
    assert read_csv_raw(spark, str(path)).columns == ["a", "b"]
    size = path.stat().st_size
    with open(path, "r+") as fh:
        fh.write("c,d\n3,4\n")
    assert path.stat().st_size == size
    back = read_csv_raw(spark, str(path))
    assert back.columns == ["c", "d"]
    assert [tuple(r) for r in back.collect()] == [("3", "4")]


def test_new_partition_directory_is_seen(spark, tmp_path):
    path = str(tmp_path / "p")
    spark.range(4).selectExpr("id", "id % 2 AS k").write.partitionBy("k").parquet(path)
    assert sorted(r.k for r in read_parquet(spark, path).select("k").distinct().collect()) == [0, 1]
    spark.range(4, 6).selectExpr("id", "2 AS k").write.mode("append").partitionBy("k").parquet(path)
    back = read_parquet(spark, path)
    assert sorted(r.k for r in back.select("k").distinct().collect()) == [0, 1, 2]
    assert back.count() == 6


@pytest.fixture
def nanos_parquet(spark, tmp_path):
    """A TIMESTAMP(NANOS) file, which Spark reads only with nanosAsLong on;
    the conf is restored afterwards."""
    path = str(tmp_path / "nanos.parquet")
    table = pa.table({"ts": pa.array([1_000_000_001, 2_000_000_002], type=pa.timestamp("ns"))})
    pq.write_table(table, path, version="2.6")
    before = spark.conf.get(NANOS_AS_LONG, None)
    yield path
    if before is None:
        spark.conf.unset(NANOS_AS_LONG)
    else:
        spark.conf.set(NANOS_AS_LONG, before)


def test_nanos_as_long_is_part_of_the_key(spark, nanos_parquet):
    spark.conf.set(NANOS_AS_LONG, "true")
    assert read_parquet(spark, nanos_parquet).dtypes == [("ts", "bigint")]
    spark.conf.set(NANOS_AS_LONG, "false")
    with pytest.raises(Exception, match="TIMESTAMP\\(NANOS"):
        read_parquet(spark, nanos_parquet)
    spark.conf.set(NANOS_AS_LONG, "true")
    assert [r.ts for r in read_parquet(spark, nanos_parquet).collect()] == [1_000_000_001, 2_000_000_002]


def test_reader_options_are_part_of_the_key(spark, tmp_path):
    path = str(tmp_path / "in.csv")
    Path(path).write_text("a,b\n1,2\n")
    assert read_csv_raw(spark, path).columns == ["a", "b"]
    headless = read_csv_raw(spark, path, header="false")
    assert headless.columns == ["_c0", "_c1"]
    assert headless.count() == 2


def test_threads_reading_the_same_path_agree(spark, tmp_path):
    """More readers than cores, switching often: all see one schema and
    the same rows (at worst several infer)."""
    path = str(tmp_path / "p")
    spark.range(50).selectExpr("id", "id % 7 AS k").write.parquet(path)
    n = 8
    start = threading.Barrier(n)

    def read(_):
        start.wait(timeout=60)
        df = read_parquet(spark, path)
        return df.schema, sorted(map(tuple, df.collect()))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(n) as pool:
            results = [f.result(timeout=120) for f in [pool.submit(read, i) for i in range(n)]]
    finally:
        sys.setswitchinterval(interval)
    assert all(r == results[0] for r in results)
    assert len(results[0][1]) == 50

