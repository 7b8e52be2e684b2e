"""tools/ab.py: the one interleaved A/B harness.

Pins the palindromic run order, the reduction over queries common to every
bench run, a failing bench arm's report (arm, round, exit code and stderr
tail), and the callable-arm contract: rows are asserted identical before
anything is timed, and each round times every arm once.
"""

from __future__ import annotations

import pytest

from tools.ab import (
    STDERR_TAIL,
    ArmFailed,
    main,
    palindromic_order,
    reduce_bench,
    run_bench,
    time_callables,
)


@pytest.mark.parametrize(
    "n_arms, rounds, expected",
    [
        (2, 4, [0, 1, 1, 0, 0, 1, 1, 0]),
        (3, 2, [0, 1, 2, 2, 1, 0]),
    ],
)
def test_order_is_palindromic(n_arms, rounds, expected):
    order = palindromic_order(n_arms, rounds)
    assert [a for _, a in order] == expected
    assert [r for r, _ in order] == [r for r in range(rounds) for _ in range(n_arms)]


def _run(**queries):
    return {"queries": queries}


def test_reduce_uses_only_common_queries_and_reports_the_rest():
    runs = {
        "a": [_run(q1=1.0, q2=2.0, q3=9.0), _run(q1=3.0, q2=2.0, q3=9.0)],
        "b": [_run(q1=2.0, q2=4.0), _run(q1=2.0, q2=4.0, q4=1.0)],
    }
    rep = reduce_bench(runs)
    assert rep["n_common_queries"] == 2
    assert set(rep["queries"]) == {"q1", "q2"}
    assert rep["not_common"] == {"q3": ["a"], "q4": ["b"]}
    # totals sum q1+q2 only: a runs 3.0, 5.0 -> 4.0; b runs 6.0, 6.0
    assert rep["total"]["a"] == {"median": 4.0, "ratio": 1.0}
    assert rep["total"]["b"] == {"median": 6.0, "ratio": 1.5}
    assert rep["queries"]["q2"]["b"] == {"median": 4.0, "ratio": 2.0}


@pytest.mark.parametrize("code, why", [(1, "exited 1"), (0, "wrote no")])
def test_failed_bench_arm_names_arm_round_and_stderr(tmp_path, code, why):
    (tmp_path / "bench.py").write_text(
        "import sys\n"
        "for i in range(100):\n"
        "    print(f'err line {i}', file=sys.stderr)\n"
        f"sys.exit({code})\n"
    )
    with pytest.raises(ArmFailed) as e:
        run_bench(str(tmp_path), {}, "@stub", "round 2/4")
    msg = str(e.value)
    assert "'@stub' round 2/4" in msg and why in msg
    assert "err line 99" in msg and f"err line {100 - STDERR_TAIL}" in msg
    assert f"err line {99 - STDERR_TAIL}\n" not in msg


def test_mixing_bench_and_callable_arms_is_refused():
    with pytest.raises(SystemExit) as e:
        main([".", "tools.ab:main"])
    assert e.value.code == 2


def _counted(calls, name, build):
    def fn(spark, sf_dir):
        calls[name] = calls.get(name, 0) + 1
        return build(spark, sf_dir)
    return fn


def test_callable_arms_with_different_rows_raise_before_timing(spark, sf_dir):
    from video_data_pipeline_spark.queries.registry import table

    calls = {}
    arms = {
        "all": _counted(calls, "all", lambda s, d: table(s, d, "region")),
        "some": _counted(
            calls, "some", lambda s, d: table(s, d, "region").where("r_regionkey > 0")
        ),
    }
    with pytest.raises(ValueError, match="different rows"):
        time_callables(spark, sf_dir, arms, rounds=2)
    assert calls == {"all": 1, "some": 1}, "an arm was run again after the mismatch"


def test_equal_callable_arms_time_each_round_once(spark, sf_dir):
    from video_data_pipeline_spark.queries.registry import table

    calls = {}
    arms = {
        "plain": _counted(calls, "plain", lambda s, d: table(s, d, "region")),
        "repart": _counted(
            calls, "repart", lambda s, d: table(s, d, "region").repartition(2)
        ),
    }
    times = time_callables(spark, sf_dir, arms, rounds=3)
    assert {k: len(v) for k, v in times.items()} == {"plain": 3, "repart": 3}
    assert all(t > 0 for v in times.values() for t in v)
    assert calls == {"plain": 4, "repart": 4}  # one identity check + 3 rounds
