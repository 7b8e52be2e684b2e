"""Pre-snapshot smoke gate: fail loudly on any analysis-time breakage.

Round 4 ended with a red driver artifact because the regenerated
events.parquet changed physical timestamp type and every events query died
at *analysis* time — cheap to detect, expensive to miss. This gate:

1. reads every testdata table and runs one bounded action per table
   (``limit(1).collect()``) — catches physical-schema drift at the scan;
2. builds EVERY registry query plan and forces full analysis by touching
   ``df.schema`` — catches resolution/type errors without executing;
3. runs ``__spark_entry__.entry()`` end-to-end with a bounded collect;
4. checks that the committed gate artifacts describe this registry;
5. on Python < 3.13, checks that a reused Python worker's task re-reads
   no zip directory (``session.gate_zip_invalidation``) — catches a PySpark
   upgrade that moves the per-task ``invalidate_caches`` call, or workers
   that stop importing the package.
6. runs the four curation queries of perfbench's ``curation`` pass three
   times and checks that the last round compiles no generated class —
   catches a codegen cache sized below the queries' working set (136
   classes at sf0.001, above Spark's stock cap of 100). The first round
   may plan differently after the work before it, so the last is a
   repeat of the second.

Analysis is driver-side only, so the whole gate runs in ~1 minute. Run it
before any end-of-round commit:

    python tools/smoke_gate.py [--sf-dir /root/testdata/sf0.001]

Exit code 0 = safe to snapshot; 1 = something is analysis-broken (each
failure printed with its traceback).
"""

from __future__ import annotations

import argparse
import os
import sys
import time
import traceback


def zip_rereads_per_task(spark, tasks: int = 8) -> list[int]:
    """Zip-directory reads during each task's own ``importlib.invalidate_caches()``,
    for ``tasks`` tasks on Python workers that one warm-up job of ``2 * tasks``
    tasks has already used. Each task imports the package, as every task
    that unpickles a package function does."""
    from video_data_pipeline_spark.session import ensure_shipped

    ensure_shipped(spark)

    def count_reads(batches):
        import importlib
        import zipimport

        import pandas as pd

        import video_data_pipeline_spark  # noqa: F401

        reads = []
        stock = zipimport._read_directory

        def counted(path):
            reads.append(path)
            return stock(path)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock
        for _ in batches:
            pass
        yield pd.DataFrame({"reads": [len(reads)]})

    def run(n: int) -> list[int]:
        df = spark.range(n, numPartitions=n).mapInPandas(count_reads, "reads long")
        return [r.reads for r in df.collect()]

    run(2 * tasks)
    return run(tasks)


#: perfbench's ``curation`` pass (perfbench/workloads.py::CURATION_QUERIES)
CODEGEN_QUERIES = (
    "q_prefix_filter_join",
    "q_minhash_lsh_pairs_calibrated",
    "q_simhash_near_pairs_calibrated",
    "q_dedup_exact",
)


def codegen_compiles_per_round(spark, sf_dir: str, rounds: int):
    """(classes compiled from generated code in each round, each round's
    sorted rows per query) for ``rounds`` runs of :data:`CODEGEN_QUERIES`,
    each round after a cleared plan cache, as every perfbench pass runs."""
    from video_data_pipeline_spark.calibrate import clear_plan_cache
    from video_data_pipeline_spark.queries.registry import load_all
    from video_data_pipeline_spark.telemetry import StageMetricsDelta

    registry = load_all()
    compiles, rows = [], []
    for _ in range(rounds):
        clear_plan_cache()
        with StageMetricsDelta(spark) as m:
            rows.append({
                q: sorted(registry[q].spark_fn(spark, sf_dir).collect(), key=repr)
                for q in CODEGEN_QUERIES
            })
        compiles.append(m.delta["codegen_compiles"])
    return compiles, rows


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    args = ap.parse_args()

    sys.path.insert(0, ".")
    from video_data_pipeline_spark.queries.registry import load_all, table
    from video_data_pipeline_spark.session import get_spark

    import tools.selfcheck as selfcheck

    spark = get_spark("smoke-gate")
    failures: list[str] = []
    t_start = time.time()

    # 1. one bounded action per table — catches scan-level drift
    for t in selfcheck.TABLES:
        try:
            table(spark, args.sf_dir, t).limit(1).collect()
            print(f"scan OK   {t}")
        except Exception:
            failures.append(f"table scan {t}")
            print(f"scan FAIL {t}\n{traceback.format_exc()}")

    # 2. analyze every registry plan (no execution)
    registry = load_all()
    for name, q in sorted(registry.items()):
        try:
            df = q.spark_fn(spark, args.sf_dir)
            _ = df.schema  # forces full analysis
            print(f"plan OK   {name}")
        except Exception:
            failures.append(f"query plan {name}")
            print(f"plan FAIL {name}\n{traceback.format_exc()}")

    # 3. flagship entry end-to-end (bounded)
    try:
        import __spark_entry__

        rows = __spark_entry__.entry(spark).limit(5).collect()
        print(f"entry OK  ({len(rows)} sample rows)")
    except Exception:
        failures.append("__spark_entry__.entry")
        print(f"entry FAIL\n{traceback.format_exc()}")

    # 4. gate-artifact freshness (r14, VERDICT r13 #1): the latest
    # committed plan-audit and full-sweep artifacts must describe THIS
    # registry — a query registered after the gates ran must fail the
    # pre-commit gate, not ship as a one-artifact lag
    from tools.gate_freshness import check_gate_artifacts

    # resolve artifacts against the REPO ROOT, not the invoker's cwd
    # (ADVICE r14: run from any other directory, the mandatory pre-commit
    # gate failed spuriously with "no PLANAUDIT artifact found")
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    stale = check_gate_artifacts(repo_root, len(registry))
    for p in stale:
        failures.append(f"gate freshness: {p}")
        print(f"gate STALE {p}")
    if not stale:
        print("gates OK  (plan audit + full sweep match the registry)")

    # 5. reused Python workers must not re-read zip directories per task
    if sys.version_info >= (3, 13):
        print("workers not needed (Python >= 3.13 invalidates zip caches lazily)")
    else:
        try:
            reads = zip_rereads_per_task(spark)
            ok, detail = not any(reads), f"zip-directory reads per task: {reads}"
        except Exception:
            ok, detail = False, traceback.format_exc()
        if ok:
            print(f"workers OK  ({len(reads)} reused-worker tasks, no zip re-read)")
        else:
            failures.append("zip directories re-read on reused Python workers")
            print(f"workers FAIL {detail}")

    # 6. a repeat of the curation queries compiles no generated class
    try:
        compiles, rows = codegen_compiles_per_round(spark, args.sf_dir, rounds=3)
        ok = compiles[-1] == 0 and rows[-1] == rows[0]
        detail = f"classes compiled per round: {compiles}, same rows: {rows[-1] == rows[0]}"
    except Exception:
        ok, detail = False, traceback.format_exc()
    if ok:
        print(f"codegen OK  ({detail})")
    else:
        failures.append("generated classes recompiled on a repeated query")
        print(f"codegen FAIL {detail}")

    dt = time.time() - t_start
    if failures:
        print(f"\nSMOKE GATE FAILED in {dt:.0f}s — {len(failures)} failure(s):")
        for f in failures:
            print(f"  - {f}")
        return 1
    print(f"\nSMOKE GATE PASSED in {dt:.0f}s "
          f"({len(selfcheck.TABLES)} tables, {len(registry)} plans, entry, workers, "
          "codegen)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
