"""Interleaved A/B timing: one palindromic (ABBA) loop over two or more arms.

Arms are of one of two kinds; mixing them in one run is refused.

- **Bench arms** time the whole ``bench.py`` headline. An arm is ``.`` (this
  working tree as it is), ``@REF`` (that git ref, checked out into a
  worktree under a temp dir), ``VAR=VALUE`` env overrides, or a
  comma-joined mix such as ``@HEAD~1,SPARK_GRAFT_X=1``. Each round runs
  ``bench.py`` once per arm in a fresh process and reads the
  full-precision ``$SPARK_GRAFT_BENCH_OUT`` file; the last stdout line is
  quantized to fit the driver's tail window and would smear every ratio.
  Whole processes alternate because two trees share one package name, so
  one interpreter cannot hold both registries.
- **Callable arms** time single-query variants in one shared session. An
  arm is ``MODULE:FUNCTION`` or ``path/to/file.py:FUNCTION`` naming a
  ``fn(spark, sf_dir) -> DataFrame``; every registered query already is
  one. All arms must return identical rows (a multiset) before anything
  is timed. A timing starts before plan construction and ends after a
  noop sink, as in ``bench.py``: under AQE, lazy checkpoints materialize
  while the frame is built.

Palindromic order (A B, B A, A B, ...) cancels any linear ambient drift,
which on a shared host otherwise penalizes whichever arm always runs
second. The report gives per-arm medians and ratios to the first arm:
per query over the queries common to every run (the rest are listed) and
for their total, plus the 1-minute load average at start.

Usage:
    python tools/ab.py . @HEAD~1 --rounds 2 --json ab.json
    python tools/ab.py SPARK_GRAFT_AQE_MIN_PARTITION=256k \\
        SPARK_GRAFT_AQE_MIN_PARTITION=1m --rounds 2
    python tools/ab.py exp.py:old exp.py:new --sf-dir DIR --rounds 4

A past experiment reproduces at the commit that still carried its script;
a new one is a scratch module passed on the command line.
"""

from __future__ import annotations

import argparse
import importlib
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: stderr lines shown for a failed bench arm
STDERR_TAIL = 40


class ArmFailed(RuntimeError):
    """A bench arm's ``bench.py`` exited nonzero or wrote no result file."""


def palindromic_order(n_arms: int, rounds: int) -> list[tuple[int, int]]:
    """(round, arm index) in run order: forward on even rounds, reversed on
    odd ones, so the sequence over any two rounds reads the same backwards."""
    fwd = list(range(n_arms))
    return [(r, a) for r in range(rounds) for a in (fwd if r % 2 == 0 else fwd[::-1])]


def medians_and_ratios(samples: dict[str, list[float]]) -> dict[str, dict]:
    """Per arm: the median of its samples and its ratio to the first arm's."""
    meds = {arm: statistics.median(v) for arm, v in samples.items()}
    base = next(iter(meds.values()))
    return {
        arm: {"median": round(m, 3), "ratio": round(m / base, 3) if base else None}
        for arm, m in meds.items()
    }


def reduce_bench(runs: dict[str, list[dict]]) -> dict:
    """Reduce ``bench.py`` results per arm to per-query and total medians and
    ratios over the queries present in EVERY run; the others are reported
    under ``not_common`` with the arms that ran them."""
    all_runs = [r for rs in runs.values() for r in rs]
    seen = [set(r["queries"]) for r in all_runs]
    common = sorted(set.intersection(*seen))
    not_common = {
        q: [arm for arm, rs in runs.items() if any(q in r["queries"] for r in rs)]
        for q in sorted(set.union(*seen) - set(common))
    }
    return {
        "n_common_queries": len(common),
        "not_common": not_common,
        "total": medians_and_ratios(
            {arm: [sum(r["queries"][q] for q in common) for r in rs]
             for arm, rs in runs.items()}
        ),
        "queries": {
            q: medians_and_ratios(
                {arm: [r["queries"][q] for r in rs] for arm, rs in runs.items()}
            )
            for q in common
        },
    }


def run_bench(tree: str = ROOT, env: dict[str, str] | None = None,
              label: str = ".", where: str = "") -> dict:
    """Run ``tree``'s ``bench.py`` once with ``env`` overrides and return its
    full-precision result record. Raises :class:`ArmFailed` naming
    ``label`` and ``where`` (e.g. the round) with the exit code and the
    last stderr lines when the run fails."""
    with tempfile.TemporaryDirectory(prefix="ab_bench_") as d:
        out_file = os.path.join(d, "bench.json")
        proc = subprocess.run(
            [sys.executable, os.path.join(tree, "bench.py")],
            capture_output=True, text=True, cwd=tree,
            env={**os.environ, **(env or {}), "SPARK_GRAFT_BENCH_OUT": out_file},
        )
        if proc.returncode == 0 and os.path.exists(out_file):
            with open(out_file) as f:
                return json.load(f)
    tail = "\n".join(proc.stderr.splitlines()[-STDERR_TAIL:])
    why = (f"bench.py exited {proc.returncode}" if proc.returncode
           else "bench.py wrote no $SPARK_GRAFT_BENCH_OUT file")
    raise ArmFailed(
        f"arm {label!r}{' ' + where if where else ''} failed: {why}; "
        f"last {STDERR_TAIL} stderr lines:\n{tail}"
    )


def _rows(df) -> list:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def time_callables(spark, sf_dir: str, arms: dict, rounds: int) -> dict[str, list[float]]:
    """Seconds per round per arm for ``fn(spark, sf_dir) -> DataFrame`` arms,
    in palindromic order. Raises ``ValueError`` before any timing unless
    every arm returns the first arm's rows."""
    labels = list(arms)
    want = _rows(arms[labels[0]](spark, sf_dir))
    for label in labels[1:]:
        got = _rows(arms[label](spark, sf_dir))
        if got != want:
            raise ValueError(
                f"arms {labels[0]!r} and {label!r} return different rows "
                f"({len(want)} vs {len(got)}); nothing was timed"
            )
    print(f"identity OK: {len(labels)} arms, {len(want)} rows", flush=True)
    times: dict[str, list[float]] = {label: [] for label in labels}
    for rnd, i in palindromic_order(len(labels), rounds):
        t0 = time.perf_counter()
        arms[labels[i]](spark, sf_dir).write.format("noop").mode("overwrite").save()
        times[labels[i]].append(time.perf_counter() - t0)
        print(f"round {rnd + 1}/{rounds}: {labels[i]} "
              f"{times[labels[i]][-1]:.3f}s", flush=True)
    return times


def load_callable(spec: str):
    """``MODULE:FUNCTION`` or ``path/to/file.py:FUNCTION`` -> the function."""
    mod_name, _, fn_name = spec.rpartition(":")
    if mod_name.endswith(".py"):
        name = os.path.splitext(os.path.basename(mod_name))[0]
        mod_spec = importlib.util.spec_from_file_location(name, mod_name)
        mod = importlib.util.module_from_spec(mod_spec)
        mod_spec.loader.exec_module(mod)
    else:
        mod = importlib.import_module(mod_name)
    return getattr(mod, fn_name)


def parse_bench_arm(spec: str) -> tuple[str | None, dict[str, str]]:
    """``.`` / ``@REF`` / ``VAR=VALUE`` tokens, comma-joined -> (ref, env)."""
    ref, env = None, {}
    for tok in filter(None, spec.split(",")):
        if tok.startswith("@"):
            ref = tok[1:]
        elif "=" in tok:
            var, _, value = tok.partition("=")
            env[var] = value
        elif tok != ".":
            raise ValueError(f"bench arm token {tok!r} is not '.', '@REF' or VAR=VALUE")
    return ref, env


def arm_kind(spec: str) -> str:
    """``"bench"`` or ``"callable"``; ValueError for anything else."""
    first = spec.split(",", 1)[0]
    if first == "." or first.startswith("@") or "=" in first:
        parse_bench_arm(spec)  # rejects a malformed token up front
        return "bench"
    if ":" in spec:
        return "callable"
    raise ValueError(f"arm {spec!r} is neither a bench arm ('.', '@REF', "
                     "VAR=VALUE) nor a callable arm (MODULE:FUNCTION)")


def _git(*args: str) -> str:
    proc = subprocess.run(["git", *args], capture_output=True, text=True, cwd=ROOT)
    if proc.returncode:
        raise ArmFailed(f"git {' '.join(args)} failed: {proc.stderr.strip()}")
    return proc.stdout.strip()


def run_bench_arms(specs: list[str], rounds: int, sf_dir: str | None) -> dict:
    arms = {spec: parse_bench_arm(spec) for spec in specs}
    base_env = {"SPARK_GRAFT_SF_DIR": sf_dir} if sf_dir else {}
    tmp = tempfile.mkdtemp(prefix="ab_worktrees_")
    trees: dict[str | None, str] = {None: ROOT}
    shas = {}
    try:
        for ref, _ in arms.values():
            if ref is not None and ref not in trees:
                shas[ref] = _git("rev-parse", "--short", ref)
                trees[ref] = os.path.join(tmp, f"tree{len(trees)}")
                _git("worktree", "add", "--detach", trees[ref], ref)
        runs: dict[str, list[dict]] = {spec: [] for spec in specs}
        for rnd, i in palindromic_order(len(specs), rounds):
            spec = specs[i]
            ref, env = arms[spec]
            where = f"round {rnd + 1}/{rounds}"
            print(f"{where}: bench arm {spec!r} ...", flush=True)
            runs[spec].append(
                run_bench(trees[ref], {**base_env, **env}, spec, where)
            )
    finally:
        for ref, tree in trees.items():
            if ref is not None:
                subprocess.run(["git", "worktree", "remove", "--force", tree],
                               cwd=ROOT, capture_output=True)
        subprocess.run(["git", "worktree", "prune"], cwd=ROOT, capture_output=True)
        shutil.rmtree(tmp, ignore_errors=True)
    return {
        "kind": "bench",
        "refs": shas,
        "sf": runs[specs[0]][0]["sf"],
        "headline_totals": {spec: [r["value"] for r in rs] for spec, rs in runs.items()},
        **reduce_bench(runs),
    }


def run_callable_arms(specs: list[str], rounds: int, sf_dir: str) -> dict:
    sys.path.insert(0, ROOT)
    from video_data_pipeline_spark.session import get_spark

    arms = {spec: load_callable(spec) for spec in specs}
    times = time_callables(get_spark("ab"), sf_dir, arms, rounds)
    return {
        "kind": "callable",
        "sf_dir": sf_dir,
        "times": {
            arm: {**stat, "all": [round(t, 3) for t in times[arm]]}
            for arm, stat in medians_and_ratios(times).items()
        },
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("arms", nargs="+",
                    help="two or more arms, all bench arms or all callable arms")
    ap.add_argument("--rounds", type=int, default=4)
    ap.add_argument("--json", default=None, help="write the report here")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"),
                    help="data dir (default: $SPARK_GRAFT_SF_DIR; bench arms "
                    "otherwise use bench.py's default)")
    args = ap.parse_args(argv)

    if len(args.arms) < 2:
        ap.error("need at least two arms")
    try:
        kinds = {arm_kind(a) for a in args.arms}
    except ValueError as e:
        ap.error(str(e))
    if len(kinds) > 1:
        ap.error("arms mix bench arms ('.', '@REF', VAR=VALUE) with callable "
                 "arms (MODULE:FUNCTION); run them separately")
    if kinds == {"callable"} and not args.sf_dir:
        ap.error("callable arms need --sf-dir or $SPARK_GRAFT_SF_DIR")

    load_at_start = round(os.getloadavg()[0], 2)
    try:
        if kinds == {"bench"}:
            report = run_bench_arms(args.arms, args.rounds, args.sf_dir)
        else:
            report = run_callable_arms(args.arms, args.rounds, args.sf_dir)
    except ArmFailed as e:
        print(f"ab: {e}", file=sys.stderr)
        return 1
    report = {"arms": args.arms, "rounds": args.rounds,
              "order": "palindromic (ABBA)", "load_at_start": load_at_start,
              **report}
    if args.json:
        with open(args.json, "w") as f:
            json.dump(report, f, indent=1)
    print(json.dumps(report.get("total") or report["times"]))
    if report.get("not_common"):
        print(f"not common to every run: {sorted(report['not_common'])}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
