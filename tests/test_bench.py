"""bench.py's command line and scale stamp. No Spark session is started."""

import pytest

import bench


@pytest.mark.parametrize(
    "sf_dir, sf",
    [
        ("/data/sf0.1", 0.1),
        ("/data/sf0.01/", 0.01),
        # tools/growth_exponent.build names a 10-replica layout sf1
        ("/tmp/growth_10x_abc/sf1", 1.0),
        # any other directory is stamped by name and gets no detail file
        ("/tmp/bench_1_qo6m4vkq", "bench_1_qo6m4vkq"),
    ],
)
def test_scale_comes_from_the_directory_name(sf_dir, sf):
    assert bench._scale(sf_dir) == sf


def test_args():
    assert bench._args([]) == (2, False, None)
    assert bench._args(["--only", "q01_pricing_summary,q142_country_filter", "--passes=3"]) == (
        3, False, ["q01_pricing_summary", "q142_country_filter"])
    assert bench._args(["--passes", "1", "--skip-demos"]) == (1, True, None)


@pytest.mark.parametrize("argv", [["--only", "q999_missing"], ["--pases", "3"]])
def test_bad_args_exit_before_a_session_starts(argv):
    with pytest.raises(SystemExit):
        bench._args(argv)


def test_guard_skips_a_baseline_from_another_core_count():
    prev = {"sf": 0.1, "cpus": 32, "queries": {"q01_pricing_summary": 0.28}}
    regressions, skipped = bench._guard({"q01_pricing_summary": 1.0}, prev, 0.1, 4)
    assert regressions == {}
    assert "cpus=32" in skipped and "cpus=4" in skipped


@pytest.mark.parametrize("prev", [{}, {"sf": 0.1, "queries": {"q01_pricing_summary": 0.28}}])
def test_guard_skips_without_a_stamped_baseline(prev):
    regressions, skipped = bench._guard({"q01_pricing_summary": 1.0}, prev, 0.1, 4)
    assert regressions == {} and skipped


def test_guard_flags_a_slow_row_against_a_matching_baseline():
    prev = {"sf": 0.1, "cpus": 4, "queries": {"q01": 1.0, "q02": 1.0, "q03": 0.1}}
    # q02 is 1.2x and q03 is 1.5x but only 0.05 s slower: neither is flagged
    regressions, skipped = bench._guard({"q01": 1.4, "q02": 1.2, "q03": 0.15}, prev, 0.1, 4)
    assert skipped is None
    assert regressions == {"q01": {"prev": 1.0, "now": 1.4, "ratio": 1.4}}


def test_baseline_reads_the_committed_record():
    record = bench._baseline(f"{bench.HERE}/BENCH_DETAIL_sf0.1.json")
    assert record["sf"] == 0.1 and record["queries"]
