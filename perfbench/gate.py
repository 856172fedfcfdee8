"""Correctness checks, run outside the timed passes.

- entregas: the pipeline's data-quality metrics, its output row count and
  its partition directories must equal the generator's ladder.
- registry queries: the row count and an order-insensitive value hash
  must equal the DuckDB oracle's over the same parquet, using the
  canonicalization of ``tools/check_correctness.py``. A query without an
  oracle is checked on its row count alone (it must return rows).
"""

from __future__ import annotations

import hashlib
import os

from tools.check_correctness import canon_rows

DQ_KEYS = ("input_rows", "null_material_removed", "invalid_type_removed", "duplicates_removed", "final_rows")


def ladder_problems(ladder: dict[str, int], dq_metrics: dict[str, int]) -> list[str]:
    return [f"{k}: got {dq_metrics.get(k)} want {ladder[k]}" for k in DQ_KEYS if dq_metrics.get(k) != ladder[k]]


def output_problems(ladder: dict[str, int], output_rows: int, out_dir: str) -> list[str]:
    problems = []
    if output_rows != ladder["output_rows"]:
        problems.append(f"output_rows: got {output_rows} want {ladder['output_rows']}")
    parts = [d for d in os.listdir(out_dir) if d.startswith("fecha_proceso=")]
    if len(parts) != ladder["partitions"]:
        problems.append(f"partitions: got {len(parts)} want {ladder['partitions']}")
    return problems


def value_hash(columns: list[str], rows: list[tuple]) -> str:
    digest = hashlib.sha256()
    for line in canon_rows(columns, rows):
        digest.update(line.encode("utf-8", "surrogatepass"))
        digest.update(b"\n")
    return digest.hexdigest()


def result_problems(
    got_cols: list[str], got_rows: list[tuple], want_cols: list[str] | None, want_rows: list[tuple] | None
) -> list[str]:
    """Compare one result with its oracle's; ``want_*`` None means rows-only."""
    if want_rows is None:
        return [] if got_rows else ["rows-only check: no rows"]
    problems = []
    if len(got_rows) != len(want_rows):
        problems.append(f"rows: got {len(got_rows)} want {len(want_rows)}")
    if sorted(got_cols) != sorted(want_cols or []):
        problems.append(f"columns: got {sorted(got_cols)} want {sorted(want_cols or [])}")
    if not problems and value_hash(got_cols, got_rows) != value_hash(want_cols, want_rows):
        problems.append("value hash differs")
    return problems


class Oracle:
    """DuckDB views over the generated tables, for ``oracle_sql`` texts."""

    def __init__(self, sf_dir: str, tables: tuple[str, ...]):
        import duckdb

        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    def run(self, sql: str) -> tuple[list[str], list[tuple]]:
        res = self.con.sql(sql)
        return [d[0] for d in res.description], res.fetchall()

    def close(self) -> None:
        self.con.close()
