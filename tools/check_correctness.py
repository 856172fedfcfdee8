"""Local differential-testing harness: runs every registry query on Spark
AND its DuckDB oracle over the same parquet, then compares
row count, column names, and an order-insensitive canonicalized value hash
(the driver's CORRECTNESS gate, reproduced locally for fast iteration).

Usage: python tools/check_correctness.py [sf_dir] [query_name ...]
       python tools/check_correctness.py --freshness

`--freshness` scans the driver's CORRECTNESS_r*.json artifacts, computes
each registry query's newest GREEN driver round, and regenerates the
machine-maintained freshness block in COVERAGE.md (r7 VERDICT #7: the
driver-window rotation plan is generated from the artifacts, not
hand-maintained).
"""

from __future__ import annotations

import glob
import json
import math
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FRESH_BEGIN = "<!-- FRESHNESS:BEGIN (generated by tools/check_correctness.py --freshness; do not edit) -->"
FRESH_END = "<!-- FRESHNESS:END -->"

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def canon_cell(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)
    # Decimal → normalized string
    if type(v).__name__ == "Decimal":
        return repr(float(v))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    return str(v)


def canon_rows(columns, rows):
    """Sort columns by name, canonicalize cells, sort rows."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = ["\x01".join(canon_cell(row[i]) for i in order) for row in rows]
    out.sort()
    return out


def _query_green(rec: dict) -> bool:
    """A driver row is green when it errored nowhere and nothing that was
    checked mismatched (rows-only checks carry hash_match=None)."""
    if rec.get("err"):
        return False
    for k in ("rows_match", "schema_match", "hash_match"):
        if rec.get(k) is False:
            return False
    return rec.get("rows_match") is True


def freshness() -> int:
    """Regenerate COVERAGE.md's machine-maintained freshness block from the
    CORRECTNESS_r*.json artifacts (newest green driver round per query)."""
    from etl_entregas_pyspark_spark import queries as q

    newest: dict[str, int] = {}
    rounds = []
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        rounds.append(rnd)
        with open(path) as f:
            data = json.load(f)
        for name, rec in data.items():
            if isinstance(rec, dict) and _query_green(rec):
                newest[name] = max(newest.get(name, 0), rnd)
    latest = max(rounds) if rounds else 0

    by_round: dict[int, list[str]] = {}
    never: list[str] = []
    for name in sorted(q.REGISTRY):
        rnd = newest.get(name)
        if rnd is None:
            never.append(name)
        else:
            by_round.setdefault(rnd, []).append(name)

    lines = [
        FRESH_BEGIN,
        "",
        f"Newest GREEN driver row per registry query, from CORRECTNESS_r01–r{latest:02d} "
        f"({len(q.REGISTRY)} registered queries). `age` = rounds since that row.",
        "",
        "| newest green round | age | n | queries |",
        "|---|---|---|---|",
    ]
    for rnd in sorted(by_round, reverse=True):
        names = by_round[rnd]
        lines.append(
            f"| r{rnd} | {latest - rnd} | {len(names)} | " + " ".join(names) + " |"
        )
    if never:
        lines.append(
            f"| — (no driver row yet) | — | {len(never)} | " + " ".join(never) + " |"
        )
    stale = [n for r, ns in by_round.items() if latest - r >= 3 for n in ns]
    lines += [
        "",
        f"Rotation input: {len(never)} queries with no driver row, "
        f"{len(stale)} with age ≥ 3 — these fill the next driver window first "
        "(`queries/registry.py:_PRIORITY`).",
        "",
        FRESH_END,
    ]
    block = "\n".join(lines)

    cov_path = os.path.join(REPO, "COVERAGE.md")
    with open(cov_path) as f:
        cov = f.read()
    if FRESH_BEGIN in cov:
        cov = re.sub(
            re.escape(FRESH_BEGIN) + r".*?" + re.escape(FRESH_END),
            block,
            cov,
            flags=re.S,
        )
    else:
        cov = cov.rstrip() + "\n\n## Driver-row freshness (generated)\n\n" + block + "\n"
    with open(cov_path, "w") as f:
        f.write(cov)

    hist = {f"r{r}": len(ns) for r, ns in sorted(by_round.items(), reverse=True)}
    print(json.dumps({"latest_round": latest, "histogram": hist,
                      "never": len(never), "stale_ge3": len(stale)}))
    return 0


def main() -> int:
    if len(sys.argv) > 1 and sys.argv[1] == "--freshness":
        return freshness()

    import duckdb

    from etl_entregas_pyspark_spark.session import build_session

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = build_session({"spark": {
        "app_name": "check-correctness",
        "master": f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]",
        "log_level": "ERROR",
        "configs": {
            "spark.sql.shuffle.partitions": "16",
            "spark.ui.enabled": "false",
            "spark.driver.memory": "8g",
        },
    }})

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    from etl_entregas_pyspark_spark import queries as q

    n_pass = n_fail = n_rowsonly = 0
    for name, spec in sorted(q.REGISTRY.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = spec.spark(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            continue
        if spec.oracle is None:
            print(f"ROWS  {name}: {len(s_rows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            n_rowsonly += 1
            continue
        try:
            res = con.sql(spec.oracle)
            d_cols = [d[0] for d in res.description]
            d_types = [str(t) for t in res.types]
            d_rows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {str(e).splitlines()[0][:160]}")
            n_fail += 1
            continue

        problems = []
        # The driver canonicalizes with pandas sort_values, which cannot
        # hash list/dict cells (q38 crashed r02+r03 on this). Any
        # array/map/struct output column is a latent driver crash: reject
        # here and serialize it (array_join / to_json) in BOTH engines.
        complex_cols = [
            f.name
            for f in sdf.schema.fields
            if f.dataType.typeName() in ("array", "map", "struct")
        ]
        if complex_cols:
            problems.append(
                f"complex-typed output columns crash the driver canonicalizer: "
                f"{complex_cols} — serialize with array_join/to_json in both engines"
            )
        # The driver fetches the oracle pandas-style, which renders HUGEINT
        # as float64 ("4933.0" vs Spark's "4933") and breaks the value hash
        # even when fetchall() matches bitwise. Any 128-bit integer column
        # in an oracle is therefore a latent driver hash-fail: reject here.
        huge = [f"{c}:{t}" for c, t in zip(d_cols, d_types) if "HUGEINT" in t]
        if huge:
            problems.append(
                f"oracle emits 128-bit ints (driver renders as float64): {huge} "
                "— wrap the aggregate in CAST(... AS BIGINT)"
            )
        if len(s_rows) != len(d_rows):
            problems.append(f"rowcount spark={len(s_rows)} duck={len(d_rows)}")
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"columns spark={sorted(s_cols)} duck={sorted(d_cols)}")
        if not problems:
            cs, cd = canon_rows(s_cols, s_rows), canon_rows(d_cols, d_rows)
            if cs != cd:
                diff = [(a, b) for a, b in zip(cs, cd) if a != b]
                problems.append(
                    f"values: {len(diff)}/{len(cs)} rows differ; first: "
                    f"spark={diff[0][0][:140]!r} duck={diff[0][1][:140]!r}"
                )
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            n_fail += 1
        else:
            print(f"OK    {name}: {len(s_rows)} rows [{time.time()-t0:.1f}s]")
            n_pass += 1

    print(f"\n{n_pass} ok, {n_rowsonly} rows-only, {n_fail} failed")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
