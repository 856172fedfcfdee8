"""Seeded benchmark inputs.

Two generators, both pure functions of a seed:

- ``write_entregas_csv`` writes the entregas CSV (FIXTURES.md section A
  schema) whose data-quality ladder is known by construction, and returns
  that ladder. Every distinct row carries its own ``transporte`` id, so
  exact duplicates exist only where the generator copies a row.
- ``write_star_tables`` writes the ten parquet tables the query registry
  reads (FIXTURES.md section B schemas), with the value domains of the
  sf testdata described in TESTDATA.md, so every registered query runs on
  them.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pa_csv
import pyarrow.parquet as pq

VALID_COUNTRIES = ("GT", "SV", "HN", "EC", "PE", "JM")
INVALID_COUNTRIES = ("MX", "XX")
VALID_TYPES = ("ZPRE", "ZVE1", "Z04", "Z05")
INVALID_TYPES = ("COBR", "ZXX")
# The pipeline's default date filter is the inclusive range 20250101..20250630.
OUT_OF_RANGE_DATES = ("20241215", "20250715")
ENTREGAS_HEADER = (
    "pais", "fecha_proceso", "transporte", "ruta", "tipo_entrega",
    "material", "precio", "cantidad", "unidad",
)


def _in_range_dates(rng: np.random.Generator, n: int) -> list[str]:
    days = np.sort(rng.choice(181, size=n, replace=False))
    start = dt.date(2025, 1, 1)
    return [(start + dt.timedelta(days=int(d))).strftime("%Y%m%d") for d in days]


def _decimal18(thousandths: np.ndarray) -> pa.Array:
    """Non-negative fixed-point values as 18-decimal strings, e.g. ``12.500000000000000000``."""
    whole = pc.cast(pa.array(thousandths // 1000), pa.string())
    frac = pc.utf8_lpad(pc.cast(pa.array(thousandths % 1000), pa.string()), 3, "0")
    return pc.binary_join_element_wise(whole, pc.binary_join_element_wise(frac, "0" * 15, ""), ".")


def _digits(values: np.ndarray, width: int = 0) -> pa.Array:
    out = pc.cast(pa.array(values), pa.string())
    return pc.utf8_lpad(out, width, "0") if width else out


def write_entregas_csv(path: str, seed: int, unique_rows: int = 200_000) -> dict[str, int]:
    """Write the entregas CSV and return its ladder.

    The distinct rows fall into five classes: null/blank material, invalid
    delivery type, invalid country, valid with a date outside the filter
    range, and valid in range. Some rows of every class get exact copies.
    The returned ladder holds the pipeline's data-quality metrics
    (``input_rows`` .. ``final_rows``), ``output_rows`` and ``partitions``.
    """
    rng = np.random.default_rng(seed)
    n = unique_rows
    cls = rng.choice(5, size=n, p=[0.04, 0.08, 0.03, 0.05, 0.80])
    dates_in = _in_range_dates(rng, 8)

    pais = rng.choice(VALID_COUNTRIES, size=n).astype(object)
    lower = rng.random(n) < 0.1
    pais[lower] = [p.lower() for p in pais[lower]]
    pais[cls == 2] = rng.choice(INVALID_COUNTRIES, size=int((cls == 2).sum()))

    fecha = rng.choice(dates_in, size=n).astype(object)
    fecha[cls == 3] = rng.choice(OUT_OF_RANGE_DATES, size=int((cls == 3).sum()))

    tipo = rng.choice(VALID_TYPES, size=n).astype(object)
    tipo[cls == 1] = rng.choice(INVALID_TYPES, size=int((cls == 1).sum()))

    prefix = np.array(["AA", "BA"], dtype=object)[rng.integers(0, 2, n)]
    material = pc.binary_join_element_wise(pa.array(prefix, pa.string()), _digits(rng.integers(0, 10**6, n), 6), "")
    blank = rng.choice(np.array([None, "", "   "], dtype=object), size=n)
    material = pc.if_else(pa.array(cls == 0), pa.array(blank, pa.string()), material)

    ruta = pc.if_else(pa.array(rng.random(n) < 0.02), pa.scalar(None, pa.string()), _digits(rng.integers(100_000, 10_000_000, n)))
    transporte = _digits(10_000_000 + rng.permutation(n))

    precio = _decimal18(np.rint(rng.uniform(0.5, 90.0, n) * 100).astype(np.int64) * 10)
    precio = pc.if_else(pa.array(rng.random(n) < 0.03), "0E-18", precio)
    cantidad = _decimal18(np.rint(rng.gamma(2.0, 15.0, n) * 1000).astype(np.int64) + 500)
    unidad = rng.choice(("CS", "ST"), size=n)

    copies = np.where(rng.random(n) < 0.15, rng.integers(1, 4, n), 0)
    order = rng.permutation(np.repeat(np.arange(n), copies + 1))

    table = pa.table(
        dict(zip(ENTREGAS_HEADER, (
            pa.array(pais, pa.string()), pa.array(fecha, pa.string()), transporte, ruta,
            pa.array(tipo, pa.string()), material, precio, cantidad, pa.array(unidad, pa.string()),
        )))
    ).take(pa.array(order))
    pa_csv.write_csv(table, path, pa_csv.WriteOptions(quoting_style="none"))

    rows_per_class = np.bincount(cls, weights=copies + 1, minlength=5).astype(int)
    passes_p12 = cls >= 2
    in_range_valid = cls == 4
    return {
        "input_rows": int(order.size),
        "null_material_removed": int(rows_per_class[0]),
        "invalid_type_removed": int(rows_per_class[1]),
        "duplicates_removed": int(copies[passes_p12].sum()),
        "final_rows": int((cls >= 3).sum()),
        "output_rows": int(in_range_valid.sum()),
        "partitions": len(set(fecha[in_range_valid])),
    }


# -- star schema ---------------------------------------------------------------

_PART_ADJ = ("small", "large", "red", "blue", "hot", "cold", "old", "new")
_PART_NOUN = ("bolt", "gear", "ring", "rod", "plate", "anvil", "widget", "gizmo")
_PART_TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
_SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
_WORDS = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window",
)
_LANGS = ("en", "en", "en", "zh", "de", "fr", "es")

STAR_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _days(rng: np.random.Generator, start: dt.date, span: int, n: int) -> np.ndarray:
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]")


def star_tables(seed: int, scale: float = 0.01) -> dict[str, pa.Table]:
    """The ten registry tables at ``scale`` (1.0 = 6 M lineitem rows; the
    sf0.1 testdata has 5 000 documents and 2 000 embeddings)."""
    rng = np.random.default_rng(seed + 1)
    n_cust = max(int(150_000 * scale), 150)
    n_supp = max(int(10_000 * scale), 10)
    n_part = max(int(200_000 * scale), 200)
    n_ord = max(int(1_500_000 * scale), 1_500)
    n_line = max(int(6_000_000 * scale), 6_000)
    n_ev = max(int(1_000_000 * scale), 1_000)
    n_doc = max(int(50_000 * scale), 500)
    n_emb = max(int(20_000 * scale), 500)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    partkey = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(partkey, pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_PART_ADJ, n_part), rng.choice(_PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (partkey % 1000) / 10.0, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(("O", "F", "P"), n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": pa.array(_days(rng, dt.date(1995, 1, 1), 2405, n_ord), pa.timestamp("us")),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })
    flags = rng.integers(0, 3, n_line)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": np.array(("A", "N", "R"))[flags],
        "l_linestatus": rng.choice(("O", "F"), n_line),
        "l_shipdate": pa.array(_days(rng, dt.date(1995, 1, 2), 2499, n_line), pa.timestamp("us")),
    })
    month_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, month_us, n_ev)) + np.datetime64("2024-01-01T00:00:00", "us")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
        "event_type": rng.choice(_EVENT_TYPES, n_ev),
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(n_doc):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(8, 90)))))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    emb = rng.standard_normal((n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    return t


def write_star_tables(sf_dir: str, seed: int, scale: float = 0.01) -> int:
    """Write ``<sf_dir>/<table>.parquet`` for every table; return total bytes."""
    os.makedirs(sf_dir, exist_ok=True)
    total = 0
    for name, table in star_tables(seed, scale).items():
        path = os.path.join(sf_dir, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy")
        total += os.path.getsize(path)
    return total
