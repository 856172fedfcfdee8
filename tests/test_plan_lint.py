"""Registry-wide physical-plan lint: the scale anti-patterns that never
show up at sf0.001 but kill a 1000-executor run are asserted ABSENT for
every registered query, so a regression in any future plan fails CI, not
the cluster.

Checked properties:
- no `CartesianProduct` anywhere (crossJoins must broadcast — all of
  ours are 1-row stat frames);
- no row-at-a-time Python (`BatchEvalPython`); Arrow-batched Python
  (`ArrowEvalPython`/`MapInPandas`/`FlatMapGroupsInPandas`) is allowed
  only in the multimodal decode queries, which exist to exercise it;
- no single-partition window (empty PARTITION BY) outside an explicit
  whitelist of model-state-sized frames.
"""

from __future__ import annotations

import re

import pytest

# Arrow-batched Python stages are the POINT of the multimodal queries.
_ARROW_PYTHON_OK = {
    "q57_multimodal_decode",
    "q129_multimodal_embed",
    "q183_phash_near_dup",  # Arrow perceptual-hash stage (blob -> 8 bytes)
}

# Queries allowed a window with empty PARTITION BY: each one windows a
# frame whose size is MODEL STATE (bucket/bin/centroid/count domains),
# not data — documented in the query docstring / SCALE.md.
_GLOBAL_WINDOW_OK = {
    "q17_window_rank_ntile",     # ntile/percent_rank battery: the global
                                 # rank IS the operator under test; q71 is
                                 # the documented windowless scale path
    "q131_global_index",         # offset prefix-sum over <= 16 bucket-
                                 # count rows — model state, not data
    "q134_pareto_skyline",       # global merge phase over local-pruned
                                 # survivors (size-insensitive by design)
    "q148_rrf_fusion",           # row_number over two 30-row top-k
                                 # frames (each arm ends in a distributed
                                 # TakeOrderedAndProject first)
}


@pytest.fixture(scope="module")
def plans(registry_builds):
    return {name: plan for name, (plan, _) in registry_builds.items()}


def test_no_cartesian_product(plans):
    bad = [n for n, p in plans.items() if "CartesianProduct" in p]
    assert not bad, f"cartesian products in: {bad}"


def test_no_row_at_a_time_python(plans):
    bad = [n for n, p in plans.items() if "BatchEvalPython" in p]
    assert not bad, f"row-at-a-time Python UDFs in: {bad}"


def test_arrow_python_only_in_multimodal(plans):
    arrow = re.compile(r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas")
    bad = [
        n for n, p in plans.items()
        if arrow.search(p) and n not in _ARROW_PYTHON_OK
    ]
    assert not bad, f"unexpected Python stages in: {bad}"


def test_no_undocumented_global_window(plans):
    """A Window whose spec has no partition columns sorts the WHOLE input
    in one task — the classic scale cliff. The formatted spec lists
    partition exprs first; if the very first argument already carries a
    sort direction, the partition list is empty."""

    def has_global_window(p: str) -> bool:
        for m in re.finditer(r"windowspecdefinition\(", p):
            seg = p[m.start(): m.start() + 200]
            head = seg.split(",", 1)[0]
            if " ASC" in head or " DESC" in head:
                return True
        return False

    bad = [
        n for n, p in plans.items()
        if has_global_window(p) and n not in _GLOBAL_WINDOW_OK
    ]
    assert not bad, f"undocumented single-partition windows in: {bad}"


_QUERY_ROW_NUMBER = re.compile(r"Window \[row_number\(\) windowspecdefinition\(query_id#\d+L?, ")


def test_query_topk_keeps_its_group_limit(plans):
    """A per-query top-k (``similarity.topk``: ``row_number()`` over
    ``query_id`` under a filter) must sit on a ``WindowGroupLimit``, the
    partial pre-shuffle prune that keeps the shuffle at k rows per query
    and task. A helper that loses the shape fails here."""
    checked, bad = 0, []
    for name, plan in plans.items():
        lines = plan.splitlines()
        for i in range(1, len(lines) - 1):
            if _QUERY_ROW_NUMBER.search(lines[i]) and "Filter " in lines[i - 1]:
                checked += 1
                if "WindowGroupLimit [query_id#" not in lines[i + 1]:
                    bad.append(name)
    assert checked >= 20, checked
    assert not bad, f"per-query top-k without a WindowGroupLimit in: {bad}"
