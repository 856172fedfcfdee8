"""Sources: the one place the engine opens files.

``read_csv_raw`` reproduces the reference's exact CSV semantics
(``src/etl_entregas.py:101-106``): header on, NO schema inference (every
column lands as string), double-quote as both quote and escape char. The
all-string "raw layer" is a parity requirement — typing happens later via
explicit casts (derive.F1), never via inference.

Parquet is the primary format for the analytics corpus (the driver's
TPC-H-ish testdata is parquet) — columnar, splittable, predicate-pushdown
and column-pruning friendly, which is what makes the 100 TB target viable:
a filtered 2-column query should scan only those columns' pages.

Every read resolves its schema once per session (SCALE.md "Schema
inference per read"). A read without a schema runs a Spark job first (a
parquet footer, a CSV header's ``take(1)``), so each session maps a read
key (format, options, paths, ``_SCHEMA_CONFS``) to the inputs' stamp and
the schema inferred; a repeat read under the same stamp passes that schema
and runs no job. The stamp is the ``os.stat`` of each local path and of
its direct children (the Hadoop ``FileStatus`` for other schemes), never a
tree walk. A path without one (missing, a glob, an object store's zero
mtime) always infers.
"""

from __future__ import annotations

import copy
import os
import stat
import threading
import weakref
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession

# Session confs that change what inference returns (events.E sets the first).
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.caseSensitive",
)
# An epoch store's read names every live epoch, so keys keep coming; the
# oldest entry goes first.
_MEMO_ENTRIES = 512

_memos: "weakref.WeakKeyDictionary[SparkSession, dict]" = weakref.WeakKeyDictionary()
_memos_lock = threading.Lock()


def _stat_key(st: os.stat_result) -> tuple[int, int, int, int]:
    return (st.st_mtime_ns, st.st_ctime_ns, st.st_ino, st.st_size)


def _local_stamp(path: str) -> tuple | None:
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (_stat_key(st),)
        with os.scandir(path) as entries:
            children = sorted((e.name, _stat_key(e.stat())) for e in entries)
    except OSError:  # missing, a glob, or gone mid-listing: Spark decides
        return None
    return (_stat_key(st), *children)


def _hadoop_stamp(spark: SparkSession, path: str) -> tuple | None:
    try:
        root = spark._jvm.org.apache.hadoop.fs.Path(path)
        fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
        head = fs.getFileStatus(root)
        statuses = [head, *(fs.listStatus(root) if head.isDirectory() else ())]
    except Exception:  # py4j error: missing path or glob
        return None
    stamp = [(s.getPath().getName(), s.getModificationTime(), s.getLen()) for s in statuses]
    if any(mtime <= 0 for _, mtime, _ in stamp):
        return None
    return (stamp[0], *sorted(stamp[1:]))


def _stamp(spark: SparkSession, paths: tuple[str, ...]) -> tuple | None:
    stamps = []
    for path in paths:
        s = _hadoop_stamp(spark, path) if ":" in path.split("/", 1)[0] else _local_stamp(path)
        if s is None:
            return None
        stamps.append(s)
    return tuple(stamps)


def _read(spark: SparkSession, fmt: str, paths: Iterable[str], options: dict[str, str]) -> DataFrame:
    """``spark.read.format(fmt).options(...).load(paths)``, with the schema
    the session last inferred for the same key and stamp, if any."""
    paths = tuple(str(p) for p in paths)
    key = (fmt, tuple(sorted(options.items())), paths, tuple(spark.conf.get(c, None) for c in _SCHEMA_CONFS))
    stamp = _stamp(spark, paths)
    with _memos_lock:
        memo = _memos.setdefault(spark, {})
    reader = spark.read.format(fmt).options(**options)
    seen = memo.get(key)
    if stamp is not None and seen is not None and seen[0] == stamp:
        return reader.schema(seen[1]).load(list(paths))
    df = reader.load(list(paths))
    if stamp is not None and df.schema.fields:  # an empty CSV header infers nothing
        with _memos_lock:
            memo.pop(key, None)
            memo[key] = (stamp, copy.deepcopy(df.schema))  # df.schema is the caller's
            while len(memo) > _MEMO_ENTRIES:
                del memo[next(iter(memo))]
    return df


def read_csv_raw(spark: SparkSession, path: str, **extra: str) -> DataFrame:
    """All-string CSV scan with the reference's options."""
    options = {"header": "true", "inferSchema": "false", "quote": '"', "escape": '"', **extra}
    return _read(spark, "csv", (path,), options)


def read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    return _read(spark, "parquet", paths, {})


def read_json(spark: SparkSession, path: str, multiline: bool = False) -> DataFrame:
    return _read(spark, "json", (path,), {"multiLine": str(multiline).lower()})


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return _read(spark, "orc", (path,), {})


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One synthetic star-schema table (TESTDATA.md) by name."""
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")
