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
