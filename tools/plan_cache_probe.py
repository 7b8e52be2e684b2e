"""Cross-process pre-flight cache probe (r15, VERDICT r14 #2).

The r14 cache was process-local: a nightly job re-measured every launch.
r15 adds a JSON sidecar (``$SPARK_GRAFT_PLAN_CACHE``); this probe proves
the cross-process contract on a real corpus: for each calibrated twin it
spawns TWO child processes sharing one sidecar — run 1 (cold) must
measure its front at least once and persist the measurement; run 2 (a
brand new process) must serve the measurement from the sidecar with ZERO
measurement shuffles, re-derive the decision, and return the identical
row count.

    python tools/plan_cache_probe.py --sf-dir /tmp/sfp1 --json PROBE.json

Leg mode (spawned internally): ``--leg --query NAME`` runs one query in
this process with ``calibrate.measure_front`` instrumented, printing one
JSON line ``{"rows": N, "secs": S, "n_measurements": M}``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: every calibrated twin caches its budget-invariant measurement and
#: re-derives the decision per process — run 2 must show zero
#: measure_front calls (the FrontStats came from the sidecar) with
#: identical rows
QUERIES = [
    "q_simhash_near_pairs_calibrated",
    "q_minhash_lsh_pairs_calibrated",
    "q_prefix_filter_join_calibrated",
    "q_containment_pairs_calibrated",
]


def run_leg(sf_dir: str, query: str) -> int:
    sys.path.insert(0, ROOT)
    from video_data_pipeline_spark import calibrate
    from video_data_pipeline_spark.queries.registry import load_all
    from video_data_pipeline_spark.session import get_spark

    calls = {"n": 0}
    real = calibrate.measure_front

    def counting(keys, cap, name="front"):
        calls["n"] += 1
        return real(keys, cap, name)

    calibrate.measure_front = counting
    spark = get_spark("plan-cache-probe")
    t0 = time.time()
    rows = load_all()[query].spark_fn(spark, sf_dir).count()
    print(json.dumps({
        "rows": rows,
        "secs": round(time.time() - t0, 2),
        "n_measurements": calls["n"],
    }))
    return 0


def spawn_leg(sf_dir: str, query: str, cache_path: str) -> dict:
    env = dict(os.environ, SPARK_GRAFT_PLAN_CACHE=cache_path)
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--leg",
         "--sf-dir", sf_dir, "--query", query],
        env=env, cwd=ROOT, capture_output=True, text=True, timeout=1800,
    )
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    if out.returncode != 0 or not lines:
        raise SystemExit(
            f"leg failed for {query} (rc={out.returncode}):\n{out.stderr[-4000:]}"
        )
    return json.loads(lines[-1])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/tmp/sfp1")
    ap.add_argument("--json", default=None, help="artifact output path")
    ap.add_argument("--leg", action="store_true")
    ap.add_argument("--query", default=None)
    args = ap.parse_args()
    if args.leg:
        return run_leg(args.sf_dir, args.query)

    cells, ok = {}, True
    with tempfile.TemporaryDirectory() as td:
        cache_path = os.path.join(td, "plan_cache.json")
        for q in QUERIES:
            r1 = spawn_leg(args.sf_dir, q, cache_path)
            r2 = spawn_leg(args.sf_dir, q, cache_path)
            cell_ok = (
                r1["n_measurements"] >= 1
                and r2["n_measurements"] == 0
                and r1["rows"] == r2["rows"]
            )
            ok &= cell_ok
            cells[q] = {
                "run1_cold_new_process": r1,
                "run2_warm_NEW_process": r2,
                "ok": cell_ok,
            }
            print(f"{q}: run1 measured {r1['n_measurements']}x "
                  f"({r1['rows']} rows, {r1['secs']}s) -> run2 measured "
                  f"{r2['n_measurements']}x ({r2['rows']} rows, "
                  f"{r2['secs']}s) {'OK' if cell_ok else 'FAIL'}")
    result = {
        "sf_dir": args.sf_dir,
        "note": (
            "cross-process pre-flight cache probe (r15, VERDICT r14 #2): two "
            "SEPARATE processes per query share one $SPARK_GRAFT_PLAN_CACHE "
            "sidecar on an unchanged corpus; run 2 is a brand new process "
            "and must serve the front measurement from the sidecar with "
            "zero measure_front calls and identical rows. Timing deltas "
            "include full JVM startup in both legs, so n_measurements is "
            "the signal; secs is context."
        ),
        "cells": cells,
        "ok": ok,
    }
    if args.json:
        with open(args.json, "w") as f:
            json.dump(result, f, indent=1)
        print(f"wrote {args.json}")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
