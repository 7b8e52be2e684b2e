"""Per-query probe: run registered queries at one or more scale dirs and
record each (dir, query) cell's wall time and plan-shape counters.

One record per cell, built by :func:`cell_record`:

- ``secs``, timed from before plan construction (under AQE, lazy
  checkpoints materialize while the DataFrame is built), and ``n_jobs``,
  counted through the public status tracker's job group;
- the ``telemetry.StageMetricsDelta`` sums (stages, tasks, task time,
  input, shuffle read/write, spill) and ``codegen_compiles``. A record
  whose status-store scan failed carries ``degraded: true`` and no sums,
  never zeros that look real. The sums land for failed cells too: the
  spill of a dying query is the number that names the pathology;
- ``rows`` with ``--count``, which runs ``df.count()`` instead of the noop
  sink: the true workload to read a time ratio against, since perturbed
  corpora grow pair output faster than data;
- with ``--cap N``: N goes to the query's hot-bucket cap parameter, and
  the cap observation's counters (``oversized_*``, ``max_*_size_seen``,
  candidate pairs) go into the record;
- ``spill_warning`` and ``error`` where they apply.

The JSON, ``{sf_dir: {query: record}}``, is rewritten atomically after
every cell, so a probe killed mid-matrix keeps every finished cell. A cell
that stops the SparkContext (a local-mode OOM) gets the next cell a fresh
session. With two dirs the probe ends with their scaling ratios.

Usage:
    python tools/perf_probe.py --sf-dir /root/testdata/sf0.1 \
        --queries q_prefix_filter_join,q_pagerank --json /tmp/probe.json
    python tools/perf_probe.py --sf-dir /tmp/sfp1,/tmp/sfp10 --count \
        --queries q_simhash_near_pairs,q_cdc_chunks --json PROBE.json
    python tools/perf_probe.py --sf-dir /tmp/sfp30 --count --cap 64 \
        --queries q_prefix_filter_join,q_containment_pairs
    python tools/perf_probe.py                # bench.py's HEADLINE at sf0.1
"""

from __future__ import annotations

import argparse
import inspect
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: the parameters the capped pair generators take their cap by
CAP_PARAMS = ("max_bucket_size", "max_posting_size")


def _dump_atomic(path: str, obj: dict) -> None:
    """Write JSON through a same-directory temp file and ``os.replace``: a
    kill mid-dump leaves the last good snapshot, not a truncated file."""
    tmp = f"{path}.tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1)
    os.replace(tmp, path)


def cell_record(spark, fn, sf_dir: str, group: str, count: bool = False,
                cap_kw: dict | None = None) -> dict:
    """Run ``fn(spark, sf_dir, **cap_kw)`` to the noop sink (or
    ``count()``) under job group ``group`` and return the cell's record.
    With ``cap_kw`` the query also gets an ``Observation``."""
    from py4j.protocol import Py4JError
    from pyspark.sql import Observation

    from video_data_pipeline_spark.telemetry import StageMetricsDelta

    obs = Observation(f"probe_{group}") if cap_kw else None
    kw = {**cap_kw, "observation": obs} if cap_kw else {}
    spark.sparkContext.setJobGroup(group, group)
    rec: dict = {}
    m = StageMetricsDelta(spark)
    t0 = time.time()
    try:
        with m:
            df = fn(spark, sf_dir, **kw)
            if count:
                rec["rows"] = df.count()
            else:
                df.write.format("noop").mode("overwrite").save()
        rec["secs"] = round(time.time() - t0, 3)
        if obs is not None:
            rec.update({k: int(v) for k, v in obs.get.items()})
    except Exception as e:  # noqa: BLE001 — the error is the cell's datum
        rec["error"] = str(e)[:300]
        rec["secs"] = round(time.time() - t0, 3)
    try:
        rec["n_jobs"] = len(
            spark.sparkContext.statusTracker().getJobIdsForGroup(group))
    except Py4JError:  # a stopped context's status store is closed
        pass
    rec["degraded"] = m.degraded
    if not m.degraded:
        rec.update(m.delta)
    if m.warning:
        rec["spill_warning"] = m.warning
    return rec


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
        help="comma list: every query runs at every dir")
    ap.add_argument("--queries", default=None,
                    help="comma list; default: bench.py's HEADLINE")
    ap.add_argument("--count", action="store_true",
                    help="df.count() instead of the noop sink; adds rows")
    ap.add_argument("--cap", type=int, default=None,
                    help="the hot-bucket cap every query runs with, "
                    "observed; refuses a query that takes none")
    ap.add_argument("--json", default=None)
    ap.add_argument("--repeat", type=int, default=1,
                    help="keep each cell's fastest of N runs")
    args = ap.parse_args(argv)

    from bench import HEADLINE
    from video_data_pipeline_spark.queries.registry import load_all
    from video_data_pipeline_spark.session import get_spark

    registry = load_all()
    names = ([q.strip() for q in args.queries.split(",") if q.strip()]
             if args.queries else list(HEADLINE))
    unknown = [n for n in names if n not in registry]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2
    caps: dict[str, dict] = {}
    if args.cap is not None:
        for name in names:
            params = inspect.signature(registry[name].spark_fn).parameters
            taken = [p for p in CAP_PARAMS if p in params]
            if not taken:
                print(f"{name} takes no {' or '.join(CAP_PARAMS)}",
                      file=sys.stderr)
                return 2
            caps[name] = {taken[0]: args.cap}

    dirs = [d for d in args.sf_dir.split(",") if d]
    spark = get_spark("perf_probe")
    # warm-up, mirroring bench.py: JVM/codegen path, then the Python
    # worker daemon
    for name in ("q01_pricing_summary", "q_shard_rolling"):
        registry[name].spark_fn(spark, dirs[0]).write.format("noop").mode(
            "overwrite").save()
    out: dict[str, dict] = {}
    for sf_dir in dirs:
        cells = out[sf_dir] = {}
        for name in names:
            best = None
            for i in range(max(1, args.repeat)):
                if spark.sparkContext._jsc.sc().isStopped():
                    # stop() first: getOrCreate would hand back the stale
                    # session object of the dead context
                    print("SparkContext stopped by a previous cell: recreating")
                    spark.stop()
                    spark = get_spark("perf_probe")
                rec = cell_record(spark, registry[name].spark_fn, sf_dir,
                                  f"probe:{sf_dir}:{name}:{i}", args.count,
                                  caps.get(name))
                if best is None or "error" in rec or rec["secs"] < best["secs"]:
                    best = rec
                if "error" in rec:
                    break
            cells[name] = best
            print(f"{sf_dir} {name}: {json.dumps(best)}", flush=True)
            if args.json:
                _dump_atomic(args.json, out)
    if len(dirs) == 2:
        a, b = (out[d] for d in dirs)
        print(f"\nscaling {dirs[0]} -> {dirs[1]}:")
        for name in names:
            sa, sb = a[name]["secs"], b[name]["secs"]
            ra, rb = a[name].get("rows"), b[name].get("rows")
            rows = (f"  rows {ra} -> {rb} ({rb / max(ra, 1):.2f}x)"
                    if ra is not None and rb is not None else "")
            print(f"  {name}: {sa}s -> {sb}s ({sb / max(sa, 1e-3):.2f}x){rows}")
    if args.json:
        print(f"wrote {args.json}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
