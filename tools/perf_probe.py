"""Per-query perf probe (r16 optimization round): wall seconds plus the
plan-shape counters the optimization guide says to look at — number of
Spark jobs, number of stages and tasks, summed task time, input,
shuffle read/write bytes, spill, and the classes the JVM compiled from
generated code — per bench query, around each noop-sink run. Stage sums
come from ``telemetry.StageMetricsDelta``; a record whose status-store
scan failed carries ``degraded: true`` and no stage sums, never zeros
that look real. Jobs are counted through the public status tracker's job
group.

Usage:
    python tools/perf_probe.py --sf-dir /root/testdata/sf0.1 \
        --queries q_prefix_filter_join,q_pagerank --json /tmp/probe.json
    python tools/perf_probe.py --headline          # the whole bench list
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--queries", default=None,
                    help="comma list; default: bench HEADLINE")
    ap.add_argument("--headline", action="store_true")
    ap.add_argument("--json", default=None)
    ap.add_argument("--repeat", type=int, default=1)
    args = ap.parse_args()

    from bench import HEADLINE  # noqa: E402
    from video_data_pipeline_spark.queries.registry import load_all
    from video_data_pipeline_spark.session import get_spark
    from video_data_pipeline_spark.telemetry import StageMetricsDelta

    names = (
        [q.strip() for q in args.queries.split(",") if q.strip()]
        if args.queries
        else list(HEADLINE)
    )
    registry = load_all()
    spark = get_spark("perf_probe")

    def run(name: str) -> float:
        t0 = time.time()
        df = registry[name].spark_fn(spark, args.sf_dir)
        df.write.format("noop").mode("overwrite").save()
        return time.time() - t0

    # warm-up, mirroring bench.py
    run("q01_pricing_summary")
    run("q_shard_rolling")

    tracker = spark.sparkContext.statusTracker()
    results = {}
    for name in names:
        best = None
        for i in range(max(1, args.repeat)):
            group = f"probe:{name}:{i}"
            spark.sparkContext.setJobGroup(group, group)
            with StageMetricsDelta(spark) as m:
                sec = run(name)
            rec = {"secs": round(sec, 3),
                   "n_jobs": len(tracker.getJobIdsForGroup(group)),
                   "degraded": m.degraded, **({} if m.degraded else m.delta)}
            if best is None or rec["secs"] < best["secs"]:
                best = rec
        results[name] = best
        stage_part = "stage metrics DEGRADED" if best["degraded"] else (
            f"stages={best['n_stages']} tasks={best['n_tasks']} "
            f"tasktime={best['executor_run_time_ms']}ms "
            f"shW={best['shuffle_write_bytes'] >> 10}KiB "
            f"spill={best['disk_spill_bytes'] >> 20}MiB "
            f"compiled={best['codegen_compiles']}"
        )
        print(f"{name}: {best['secs']}s jobs={best['n_jobs']} {stage_part}",
              flush=True)
    if args.json:
        with open(args.json, "w") as f:
            json.dump({"sf_dir": args.sf_dir, "queries": results}, f, indent=1)


if __name__ == "__main__":
    main()
