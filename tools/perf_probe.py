"""Per-query perf probe (r16 optimization round): wall seconds plus the
plan-shape counters the optimization guide says to look at — number of
Spark jobs, number of stages, summed task time, shuffle read/write bytes,
and spill — per bench query, read from the driver's AppStatusStore after
each noop-sink run (same mechanism as telemetry.StageMetricsDelta, plus
job/stage counts and executorRunTime), and the classes the JVM compiled
from generated code during the run (StageMetricsDelta's codegen_compiles).

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


def _scan(spark, min_stage_id: int, min_job_id: int):
    """(per-stage metric sums for stageId > min_stage_id, max stage id,
    number of jobs with jobId > min_job_id, max job id)."""
    sc = spark.sparkContext
    jvm, gw = sc._jvm, sc._gateway
    store = sc._jsc.sc().statusStore()
    stages = store.stageList(
        jvm.java.util.ArrayList(),
        False,
        False,
        gw.new_array(jvm.double, 0),
        jvm.java.util.ArrayList(),
    )
    out = {
        "n_stages": 0,
        "n_tasks": 0,
        "executor_run_time_ms": 0,
        "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0,
        "disk_spill_bytes": 0,
        "memory_spill_bytes": 0,
        "input_bytes": 0,
    }
    max_stage = min_stage_id
    it = stages.iterator()
    while it.hasNext():
        s = it.next()
        sid = int(s.stageId())
        max_stage = max(max_stage, sid)
        if sid <= min_stage_id:
            continue
        out["n_stages"] += 1
        out["n_tasks"] += int(s.numCompleteTasks()) + int(s.numFailedTasks())
        out["executor_run_time_ms"] += int(s.executorRunTime())
        out["shuffle_read_bytes"] += int(s.shuffleReadBytes())
        out["shuffle_write_bytes"] += int(s.shuffleWriteBytes())
        out["disk_spill_bytes"] += int(s.diskBytesSpilled())
        out["memory_spill_bytes"] += int(s.memoryBytesSpilled())
        out["input_bytes"] += int(s.inputBytes())
    n_jobs = 0
    max_job = min_job_id
    jobs = store.jobsList(jvm.java.util.ArrayList())
    jit = jobs.iterator()
    while jit.hasNext():
        j = jit.next()
        jid = int(j.jobId())
        max_job = max(max_job, jid)
        if jid > min_job_id:
            n_jobs += 1
    return out, max_stage, n_jobs, max_job


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

    _, stage_anchor, _, job_anchor = _scan(spark, -1, -1)
    results = {}
    for name in names:
        best = None
        for _ in range(max(1, args.repeat)):
            spark.sparkContext.setJobDescription(f"probe:{name}")
            with StageMetricsDelta(spark) as m:
                sec = run(name)
            metrics, stage_anchor, n_jobs, job_anchor = _scan(
                spark, stage_anchor, job_anchor
            )
            rec = {"secs": round(sec, 3), "n_jobs": n_jobs,
                   "codegen_compiles": m.delta.get("codegen_compiles", 0), **metrics}
            if best is None or rec["secs"] < best["secs"]:
                best = rec
        results[name] = best
        print(
            f"{name}: {best['secs']}s jobs={best['n_jobs']} "
            f"stages={best['n_stages']} tasks={best['n_tasks']} "
            f"tasktime={best['executor_run_time_ms']}ms "
            f"shW={best['shuffle_write_bytes'] >> 10}KiB "
            f"spill={best['disk_spill_bytes'] >> 20}MiB "
            f"compiled={best['codegen_compiles']}",
            flush=True,
        )
    if args.json:
        with open(args.json, "w") as f:
            json.dump({"sf_dir": args.sf_dir, "queries": results}, f, indent=1)


if __name__ == "__main__":
    main()
