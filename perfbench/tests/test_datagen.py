"""The generator's ladder, recounted by DuckDB over the written CSV."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datagen import (  # noqa: E402
    INVALID_TYPES,
    OUT_OF_RANGE_DATES,
    VALID_COUNTRIES,
    VALID_TYPES,
    star_tables,
    write_entregas_csv,
)

RECOUNT = f"""
WITH raw AS (
    SELECT * FROM read_csv('{{path}}', header = true, all_varchar = true, quote = '"', escape = '"')
),
p1 AS (SELECT * FROM raw WHERE trim(coalesce(material, '')) <> ''),
p2 AS (SELECT * FROM p1 WHERE tipo_entrega IN {tuple(VALID_TYPES)}),
p3 AS (SELECT DISTINCT * FROM p2),
p4 AS (SELECT * FROM p3 WHERE upper(pais) IN {tuple(VALID_COUNTRIES)}),
out AS (SELECT * FROM p4 WHERE fecha_proceso BETWEEN '20250101' AND '20250630')
SELECT
    (SELECT count(*) FROM raw),
    (SELECT count(*) FROM raw) - (SELECT count(*) FROM p1),
    (SELECT count(*) FROM p1) - (SELECT count(*) FROM p2),
    (SELECT count(*) FROM p2) - (SELECT count(*) FROM p3),
    (SELECT count(*) FROM p4),
    (SELECT count(*) FROM out),
    (SELECT count(DISTINCT fecha_proceso) FROM out)
"""

LADDER_KEYS = (
    "input_rows", "null_material_removed", "invalid_type_removed",
    "duplicates_removed", "final_rows", "output_rows", "partitions",
)


@pytest.mark.parametrize("seed", [1, 7])
def test_ladder_matches_duckdb_recount(tmp_path, seed):
    path = str(tmp_path / "entregas.csv")
    ladder = write_entregas_csv(path, seed, unique_rows=3_000)
    got = duckdb.connect().execute(RECOUNT.format(path=path)).fetchone()
    assert dict(zip(LADDER_KEYS, got)) == ladder
    # every rung is exercised, so a rule that stops firing changes the ladder
    assert all(ladder[k] > 0 for k in LADDER_KEYS)


def test_same_seed_same_bytes(tmp_path):
    a, b, c = (str(tmp_path / n) for n in ("a.csv", "b.csv", "c.csv"))
    write_entregas_csv(a, 3, unique_rows=500)
    write_entregas_csv(b, 3, unique_rows=500)
    write_entregas_csv(c, 4, unique_rows=500)
    with open(a, "rb") as fa, open(b, "rb") as fb, open(c, "rb") as fc:
        first = fa.read()
        assert first == fb.read()
        assert first != fc.read()


def test_csv_covers_the_edge_values(tmp_path):
    path = str(tmp_path / "e.csv")
    write_entregas_csv(path, 5, unique_rows=3_000)
    con = duckdb.connect()
    rel = f"read_csv('{path}', header = true, all_varchar = true)"
    types = {r[0] for r in con.execute(f"SELECT DISTINCT tipo_entrega FROM {rel}").fetchall()}
    assert set(INVALID_TYPES) <= types
    dates = {r[0] for r in con.execute(f"SELECT DISTINCT fecha_proceso FROM {rel}").fetchall()}
    assert set(OUT_OF_RANGE_DATES) <= dates
    zero = con.execute(f"SELECT count(*) FROM {rel} WHERE precio = '0E-18'").fetchone()[0]
    null_ruta = con.execute(f"SELECT count(*) FROM {rel} WHERE ruta IS NULL").fetchone()[0]
    assert zero > 0 and null_ruta > 0


def test_star_tables_keep_the_registry_schemas():
    tables = star_tables(seed=2, scale=0.001)
    assert str(tables["embeddings"].schema.field("embedding").type) == "list<item: float>"
    assert str(tables["orders"].schema.field("o_orderdate").type) == "timestamp[us]"
    assert tables["lineitem"].num_rows == 6_000
    docs = tables["documents"].column("text").to_pylist()
    assert any(t.endswith(" dup") for t in docs)
