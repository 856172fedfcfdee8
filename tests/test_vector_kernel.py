"""The vector-scoring kernel in ``queries/similarity.py``: the ANN family's
cosine, per-query top-k and probe-query set are each written once there.
The lint test starts no Spark session; the behaviour tests use tiny
in-memory frames."""

import re
from functools import reduce
from pathlib import Path

import numpy as np
from pyspark.sql import functions as F

from etl_entregas_pyspark_spark.queries.similarity import cosine, topk

PACKAGE = Path(__file__).resolve().parent.parent / "etl_entregas_pyspark_spark"
KERNEL = PACKAGE / "queries" / "similarity.py"

# Spark-side spellings that only the kernel may write.
KERNEL_ONLY = {
    "norm": re.compile(re.escape("sqrt(sq_norm(")),
    "query_id window": re.compile(re.escape('Window.partitionBy("query_id")')),
    "probe-query set": re.compile(r'"vec_id"\)\s*>=\s*8\b.*"vec_id"\)\s*<\s*16\b'),
}


def test_kernel_spellings_are_written_once():
    found = {name: [] for name in KERNEL_ONLY}
    for path in sorted(PACKAGE.rglob("*.py")):
        for n, line in enumerate(path.read_text().splitlines(), 1):
            for name, pattern in KERNEL_ONLY.items():
                if pattern.search(line):
                    found[name].append(f"{path.relative_to(PACKAGE)}:{n}")
    for name, sites in found.items():
        assert len(sites) == 1 and sites[0].startswith("queries/similarity.py:"), (name, sites)


def _fold(values):
    return reduce(lambda acc, v: acc + v, values, np.float64(0.0))


def _cosine_reference(a, b):
    """Sequential float64 fold, in the operand order ``cosine`` uses."""
    a64, b64 = np.asarray(a, np.float32).astype(np.float64), np.asarray(b, np.float32).astype(np.float64)
    dot = _fold(x * y for x, y in zip(a64, b64))
    return dot / (np.sqrt(_fold(x * x for x in a64)) * np.sqrt(_fold(y * y for y in b64)))


def test_cosine_is_bitwise_the_float64_fold(spark):
    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((6, 64)).astype(np.float32)
    pairs = [(i, vecs[i].tolist(), vecs[(i + 1) % 6].tolist()) for i in range(6)]
    df = spark.createDataFrame(pairs, "id int, a array<float>, b array<float>")
    got = {r["id"]: r["cos"] for r in df.select("id", cosine("a", "b").alias("cos")).collect()}
    assert got == {i: float(_cosine_reference(a, b)) for i, a, b in pairs}


def _ranked(spark, rows, k):
    df = spark.createDataFrame(rows, "query_id int, neighbor_id int, score double")
    out = topk(df, k, F.col("score").desc(), F.col("neighbor_id"), rank="r").collect()
    by_query = {}
    for r in sorted(out, key=lambda r: (r["query_id"], r["r"])):
        by_query.setdefault(r["query_id"], []).append((r["r"], r["neighbor_id"]))
    return by_query


def test_topk_keeps_k_per_query_and_breaks_ties_by_id(spark):
    rows = [(1, n, 0.5) for n in (9, 3, 7, 5)] + [(1, 1, 0.1)]  # four-way tie
    rows += [(2, n, float(n)) for n in range(10)]
    ranked = _ranked(spark, rows, 3)
    assert ranked == {1: [(1, 3), (2, 5), (3, 7)], 2: [(1, 9), (2, 8), (3, 7)]}


def test_topk_keeps_every_row_of_a_short_query(spark):
    rows = [(1, 4, 0.2), (1, 2, 0.9), (2, 6, 0.3)]
    assert _ranked(spark, rows, 5) == {1: [(1, 2), (2, 4)], 2: [(1, 6)]}
