"""The correctness gate catches corrupted results."""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

import gate  # noqa: E402

COLS = ["k", "v"]
ROWS = [(1, 0.5), (2, None), (3, 2.25)]
LADDER = {
    "input_rows": 10, "null_material_removed": 1, "invalid_type_removed": 2,
    "duplicates_removed": 3, "final_rows": 4, "output_rows": 3, "partitions": 2,
}


def test_identical_result_in_another_order_and_column_order_passes():
    shuffled = [(v, k) for k, v in reversed(ROWS)]
    assert gate.result_problems(["v", "k"], shuffled, COLS, ROWS) == []


def test_one_corrupted_value_is_caught():
    corrupted = [ROWS[0], (2, 0.0), ROWS[2]]
    assert gate.result_problems(COLS, corrupted, COLS, ROWS) == ["value hash differs"]


def test_float_last_digit_is_caught():
    corrupted = [ROWS[0], ROWS[1], (3, 2.2500000000000004)]
    assert gate.result_problems(COLS, corrupted, COLS, ROWS) == ["value hash differs"]


def test_missing_row_and_renamed_column_are_caught():
    assert gate.result_problems(COLS, ROWS[:2], COLS, ROWS) == ["rows: got 2 want 3"]
    problems = gate.result_problems(["k", "value"], ROWS, COLS, ROWS)
    assert problems and problems[0].startswith("columns:")


def test_rows_only_check_needs_rows():
    assert gate.result_problems(COLS, ROWS, None, None) == []
    assert gate.result_problems(COLS, [], None, None) == ["rows-only check: no rows"]


def test_wrong_quality_metric_is_caught():
    dq = {k: LADDER[k] for k in gate.DQ_KEYS}
    assert gate.ladder_problems(LADDER, dq) == []
    dq["duplicates_removed"] = 227
    assert gate.ladder_problems(LADDER, dq) == ["duplicates_removed: got 227 want 3"]


def test_wrong_output_rows_and_partitions_are_caught(tmp_path):
    for d in ("fecha_proceso=20250101", "fecha_proceso=20250102", "_temporary"):
        (tmp_path / d).mkdir()
    assert gate.output_problems(LADDER, 3, str(tmp_path)) == []
    (tmp_path / "fecha_proceso=20250103").mkdir()
    assert gate.output_problems(LADDER, 2, str(tmp_path)) == [
        "output_rows: got 2 want 3",
        "partitions: got 3 want 2",
    ]


def test_oracle_round_trip(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"k": [1, 2, 3], "v": [0.5, None, 2.25]}), str(tmp_path / "t.parquet"))
    oracle = gate.Oracle(str(tmp_path), ("t",))
    try:
        cols, rows = oracle.run("SELECT k, v FROM t")
    finally:
        oracle.close()
    assert gate.result_problems(COLS, ROWS, cols, rows) == []
