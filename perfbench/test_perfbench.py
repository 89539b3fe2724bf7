"""Self-tests of the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import copy
import math
import os
import subprocess
import sys

import pytest

from perfbench import metrics, stats
from perfbench.oracle import fingerprint
from perfbench.trace import Span, self_times
from perfbench.workloads import WORKLOADS

NAN, INF = float("nan"), float("inf")


# -- ratios and medians on edge values ---------------------------------
@pytest.mark.parametrize("den", [0.0, -1.0, None, NAN, INF])
def test_ratio_refuses_bad_denominators(den):
    assert stats.ratio(1.0, den) is None


@pytest.mark.parametrize("num", [None, NAN, INF])
def test_ratio_refuses_bad_numerators(num):
    assert stats.ratio(num, 2.0) is None


def test_ratio_of_tiny_positive_denominator_is_finite():
    assert stats.ratio(1.0, 1e-12) == pytest.approx(1e12)


def test_geomean_skips_missing_zero_and_negative():
    assert stats.geomean([]) is None
    assert stats.geomean([None, 0.0, -2.0, NAN]) is None
    assert stats.geomean([None, 2.0, 0.0, 8.0]) == pytest.approx(4.0)


def test_median_ignores_non_finite_and_handles_empty():
    assert stats.median([]) is None
    assert stats.median([NAN, None]) is None
    assert stats.median([3.0, NAN, 1.0]) == 2.0  # even count: mean of the middle two


def test_sum_of_medians_refuses_a_query_without_samples():
    assert stats.sum_of_medians({}) is None
    assert stats.sum_of_medians({"a": [1.0], "b": []}) is None
    assert stats.sum_of_medians({"a": [1.0, 3.0], "b": [5.0]}) == 7.0


# -- result comparison -------------------------------------------------
def test_fingerprint_ignores_column_and_row_order():
    a = fingerprint(["b", "a"], [(1, "x"), (2, "y")])
    b = fingerprint(["a", "b"], [("y", 2), ("x", 1)])
    assert a == b


def test_fingerprint_normalises_floats_and_numpy():
    np = pytest.importorskip("numpy")
    a = fingerprint(["v"], [(np.float64(0.1 + 0.2),), (np.int64(3),), (-0.0,)])
    b = fingerprint(["v"], [(0.3,), (3,), (0.0,)])
    assert a == b


def test_fingerprint_treats_null_and_nan_alike_but_counts_rows():
    assert fingerprint(["v"], [(None,)]) == fingerprint(["v"], [(NAN,)])
    assert fingerprint(["v"], [(1,), (1,)]) != fingerprint(["v"], [(1,)])


# -- spans -------------------------------------------------------------
def test_self_time_subtracts_covered_child_intervals_once():
    root = Span(1, "q", "query", None, "q#0", 0.0, 10.0)
    a = Span(2, "a", "x", 1, "q#0", 1.0, 4.0)
    b = Span(3, "b", "x", 1, "q#0", 3.0, 6.0)  # overlaps a (another thread)
    c = Span(4, "c", "y", 2, "q#0", 2.0, 3.0)
    out = self_times([root, a, b, c])
    assert out[1] == pytest.approx(5.0)  # 10 - union(1..6)
    assert out[2] == pytest.approx(2.0)
    assert out[3] == pytest.approx(3.0)
    assert out[4] == pytest.approx(1.0)


# -- the declaration ---------------------------------------------------
def test_benchmark_json_is_valid():
    spec = metrics.load_spec()
    assert metrics.problems(spec) == []
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {w["why"] for w in spec["workloads"]} == {w.why for w in WORKLOADS.values()}


@pytest.mark.parametrize(
    "mutate",
    [
        lambda s: s["end_to_end"][0].update(name="_bad"),
        lambda s: s["per_layer"][0].update(name="x" * 65),
        lambda s: s["per_layer"].append(dict(s["per_layer"][0])),
        lambda s: s["end_to_end"][0].update(unit="m s"),
        lambda s: s["end_to_end"][-1].update(bound=0.3),
        lambda s: s["end_to_end"][-1].update(bound=0),
        lambda s: s["end_to_end"][-1].update(better="up"),
        lambda s: s.update(run_seconds=61),
        lambda s: s["workloads"][0].update(why="a\nb"),
        lambda s: s.update(extra=1),
        lambda s: s.update(end_to_end=[m for m in s["end_to_end"] if m["name"] != "setup_s"]),
    ],
)
def test_problems_catches_each_rule(mutate):
    spec = copy.deepcopy(metrics.load_spec())
    mutate(spec)
    assert metrics.problems(spec)


def test_workload_queries_have_oracles():
    from mapreduce_big_data_processing_spark import queries as Q

    sql = Q.oracle_sql()
    for w in WORKLOADS.values():
        assert len(set(w.queries)) == len(w.queries)
        assert all(q in Q.QUERIES and q in sql for q in w.queries), w.name


def test_refuses_to_run_without_the_program(tmp_path):
    """In a directory holding only the benchmark it exits non-zero and
    prints no result."""
    import shutil

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    shutil.copytree(os.path.join(root, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(root, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", next(iter(WORKLOADS)),
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_stats_never_return_non_finite():
    for xs in ([], [0.0], [1e-300, 1e300], [NAN, 1.0]):
        for f in (stats.median, stats.geomean):
            v = f(xs)
            assert v is None or math.isfinite(v)
