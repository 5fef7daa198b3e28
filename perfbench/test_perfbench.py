"""Spark-free unit tests of the benchmark's rules.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench import stats
from perfbench.compare import main as compare_main
from perfbench.datagen import build_tables

HERE = os.path.dirname(os.path.abspath(__file__))


# -- tail-percentile rule -------------------------------------------------------

def test_tail_picks_highest_percentile_with_ten_beyond():
    t = stats.tail([float(i) for i in range(1, 1001)])  # 1..1000
    assert t["p"] == 99.0 and t["value"] == 990.0 and t["beyond"] == 10 and t["n"] == 1000


def test_tail_steps_down_the_ladder_as_samples_shrink():
    assert stats.tail([float(i) for i in range(200)])["p"] == 95.0
    assert stats.tail([float(i) for i in range(100)])["p"] == 90.0
    assert stats.tail([float(i) for i in range(40)])["p"] == 75.0
    t = stats.tail([float(i) for i in range(20)])
    assert t["p"] == 50.0 and t["beyond"] == 10


def test_tail_of_too_few_samples_is_the_median_and_says_so():
    t = stats.tail([5.0, 1.0, 3.0])
    assert t["p"] == 50.0 and t["value"] == 3.0 and t["beyond"] < stats.TAIL_BEYOND


def test_tail_is_order_insensitive_and_nearest_rank():
    xs = [9.0, 2.0, 7.0] * 20
    assert stats.tail(xs)["value"] == stats.tail(sorted(xs))["value"] == 9.0
    assert stats.nearest_rank([1.0, 2.0, 3.0, 4.0], 50) == 2.0
    with pytest.raises(ValueError):
        stats.nearest_rank([], 50)


# -- pooling -------------------------------------------------------------------

def test_pool_keeps_every_sample_of_every_pass():
    passes = [{"a": 1.0, "b": 2.0}, {"b": 3.0, "a": 4.0}, {"a": 5.0}]
    assert sorted(stats.pool(passes)) == [1.0, 2.0, 3.0, 4.0, 5.0]


def test_pooled_median_weighs_every_sample_not_every_pass():
    passes = [{"a": 1.0, "b": 1.0, "c": 1.0}, {"a": 2.0, "b": 9.0, "c": 9.0},
              {"a": 2.0, "b": 9.0, "c": 9.0}]
    assert stats.median(stats.pool(passes)) == 2.0
    assert stats.median([stats.median(list(p.values())) for p in passes]) == 9.0


# -- failure accounting ----------------------------------------------------------

def test_failures_count_against_attempted():
    led = stats.Ledger()
    for _ in range(4):
        led.ok()
    led.fail("q: mismatch")
    assert (led.attempted, led.failed, led.correct) == (5, 1, False)
    assert led.errors == ["q: mismatch"]


def test_a_later_check_fails_an_op_without_adding_one():
    led = stats.Ledger()
    led.ok()
    led.ok()
    led.reject("q: result differs from its DuckDB oracle")
    assert (led.attempted, led.failed, led.correct) == (2, 1, False)


def test_no_attempts_is_not_correct():
    assert stats.Ledger().correct is False


def test_all_ok_is_correct():
    led = stats.Ledger()
    led.ok()
    assert led.correct and led.failed == 0


# -- header-mismatch refusal ---------------------------------------------------

HEADER = {"workload": "plan_bound", "cpus": 4, "sf": 0.01, "seed": 3, "seconds": 20.0,
          "trace": 0, "queries": ["a", "b"], "pyspark": "4.1.2", "java": "17",
          "bench_digest": "x", "tail_p": {"op_tail_ms": 90.0}, "commit": "c1",
          "source_digest": "s1"}


def _report(header: dict, value: float) -> dict:
    return {"header": header, "metrics": {"pass_s": {"value": value, "unit": "s"}}}


def test_compare_allows_different_commits():
    b = dict(HEADER, commit="c2", source_digest="s2")
    out = stats.compare(_report(HEADER, 2.0), _report(b, 1.0))
    assert out["pass_s"]["ratio"] == 0.5


@pytest.mark.parametrize("key,value", [("cpus", 8), ("sf", 0.1), ("queries", ["a"]),
                                       ("tail_p", {"op_tail_ms": 75.0}), ("seed", 4),
                                       ("workload", "exec_bound")])
def test_compare_refuses_mismatched_headers(key, value):
    with pytest.raises(stats.HeaderMismatch, match=key):
        stats.compare(_report(HEADER, 1.0), _report(dict(HEADER, **{key: value}), 1.0))


def test_compare_cli_exits_nonzero_on_mismatch(tmp_path):
    a, b = tmp_path / "a.json", tmp_path / "b.json"
    a.write_text(json.dumps(_report(HEADER, 1.0)))
    b.write_text(json.dumps(_report(dict(HEADER, cpus=8), 1.0)))
    assert compare_main([str(a), str(b)]) == 2
    b.write_text(json.dumps(_report(dict(HEADER, commit="c9"), 1.1)))
    assert compare_main([str(a), str(b)]) == 0


# -- inputs --------------------------------------------------------------------

def test_tables_depend_only_on_scale_and_seed():
    a, b = build_tables(0.001, 42), build_tables(0.001, 42)
    assert all(a[k].equals(b[k]) for k in a)
    assert not build_tables(0.001, 7)["orders"].equals(a["orders"])
    assert a["orders"].num_rows == 1500 and a["lineitem"].num_rows == 6000
    assert a["documents"].num_rows == 500 and a["embeddings"].num_rows == 500


# -- the command -----------------------------------------------------------------

def test_run_refuses_without_engine_sources(tmp_path):
    """Copied alone (no engine next to it) the benchmark exits non-zero and
    prints no result."""
    import shutil

    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "plan_bound",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert r.returncode != 0 and r.stdout.strip() == ""
