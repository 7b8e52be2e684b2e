"""End-to-end PIPELINE bench (VERDICT r5 #5): the reference's own metrics
— samples/sec and bytes/sec per stage — for the full pack → tokenize →
index chain over a generated multi-shard tar corpus, plus raw tar-source
scan throughput.

The per-query headline (bench.py) measures operators; this measures the
three PLANS the reference actually ships (pack/pack.py, tokenize/main.py,
index/check_pair.py re-expressed Spark-first) at sf1 scale (50k docs from
tools/scale_up.py output; falls back to sf0.1 if /tmp/sf1 is absent).

Usage:
    python tools/bench_e2e.py [--sf-dir /tmp/sf1] [--out BENCH_E2E_r6.json]

Prints one JSON line per stage plus a final summary object written to
--out. Media fetch runs hermetic (no object store in this container); the
tokenizer is the default hash tokenizer — both deterministic, so runs are
comparable across rounds.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def main() -> int:
    ap = argparse.ArgumentParser()
    default_sf = "/tmp/sf1" if os.path.isdir("/tmp/sf1") else "/root/testdata/sf0.1"
    ap.add_argument("--sf-dir", default=default_sf)
    ap.add_argument("--out", default=None)
    ap.add_argument("--work-dir", default="/tmp/e2e_bench")
    ap.add_argument("--samples-per-shard", type=int, default=500)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from video_data_pipeline_spark.plans.index import index_shards, sample_index
    from video_data_pipeline_spark.plans.pack import pack_dataset
    from video_data_pipeline_spark.plans.tokenize import tokenize_shards
    from video_data_pipeline_spark.session import get_spark
    from video_data_pipeline_spark.sources.webdataset import read_webdataset

    spark = get_spark("bench_e2e")
    shutil.rmtree(args.work_dir, ignore_errors=True)
    os.makedirs(args.work_dir)

    from video_data_pipeline_spark.telemetry import (
        StageMetricsDelta,
        install_query_warnings,
    )

    # r14 (VERDICT r13 #6): ride the session-level warning listener through
    # the whole healthy pipeline and ASSERT silence — any cap-divergence or
    # spill warning on this run is a regression, so the listener is a
    # tripwire here, not just a probe feature.
    warnings_seen: list[str] = []
    install_query_warnings(
        spark, emit=lambda msg, cat: warnings_seen.append(f"{cat.__name__}: {msg}")
    )

    docs = spark.read.parquet(f"{args.sf_dir}/documents.parquet")
    n_docs = docs.count()
    stages: dict[str, dict] = {}

    def record(
        stage: str,
        secs: float,
        samples: int,
        nbytes: int | None,
        metrics: StageMetricsDelta | None = None,
    ) -> None:
        row = {
            "sec": round(secs, 2),
            "samples": samples,
            "samples_per_sec": round(samples / secs, 1),
        }
        if nbytes is not None:
            row["bytes"] = nbytes
            row["bytes_per_sec"] = round(nbytes / secs)
        if metrics is not None:
            # spill/shuffle budget per stage (r11 VERDICT #5): a healthy
            # stage spills 0; a spill number here names a pathological
            # corpus before the disk fills
            row.update(metrics.delta)
            if metrics.warning:
                row["spill_warning"] = metrics.warning
                print(metrics.warning)
        stages[stage] = row
        print(json.dumps({"stage": stage, **row}))

    # ---- stage 1: pack (caption metadata -> conversation tars, hermetic
    # media fetch — pack/pack.py analog)
    meta = docs.select(
        F.concat(F.lit("/nonexistent/videos/"), F.col("doc_id").cast("string"),
                 F.lit(".mp4")).alias("video_path"),
        F.col("text").alias("value"),
    )
    pack_out = f"{args.work_dir}/pack"
    t0 = time.time()
    with StageMetricsDelta(spark) as pm:
        pack_manifest = pack_dataset(
            meta, pack_out, samples_per_shard=args.samples_per_shard, hermetic=True
        ).collect()
    pack_secs = time.time() - t0
    pack_samples = sum(m.nsamples for m in pack_manifest)
    record("pack", pack_secs, pack_samples, dir_bytes(pack_out), pm)

    # ---- stage 2: a text corpus for tokenize (one txt member per doc,
    # multi-shard) — built OUTSIDE the timed window
    from video_data_pipeline_spark.sinks.webdataset import write_webdataset

    src = f"{args.work_dir}/txt_src"
    txt = docs.select(
        F.format_string("%09d", "doc_id").alias("__key__"),
        F.create_map(F.lit("txt"), F.col("text").cast("binary")).alias("sample"),
    )
    write_webdataset(txt.repartition(32), src, maxcount=args.samples_per_shard).collect()
    src_bytes = dir_bytes(src)
    n_shards = len([f for f in os.listdir(src) if f.endswith(".tar")])

    # ---- stage 3: raw tar-source scan throughput (bytes of every member
    # stream through the shard scan; count is the action)
    t0 = time.time()
    with StageMetricsDelta(spark) as sm:
        n_members = read_webdataset(spark, src).count()
    scan_secs = time.time() - t0
    record("tar_scan", scan_secs, n_members, src_bytes, sm)

    # ---- stage 4: tokenize + 8k-pack (tokenize/main.py analog)
    tok_out = f"{args.work_dir}/tok"
    t0 = time.time()
    with StageMetricsDelta(spark) as tm:
        tok_manifest = tokenize_shards(spark, src, tok_out).collect()
    tok_secs = time.time() - t0
    tok_samples = sum(m.nsamples for m in tok_manifest)
    record("tokenize", tok_secs, tok_samples, dir_bytes(tok_out), tm)

    # ---- stage 5: index + per-sample metadata (index/check_pair.py analog)
    t0 = time.time()
    with StageMetricsDelta(spark) as im:
        index, violations, _golden = index_shards(spark, tok_out)
        n_indexed = index.agg(F.sum("nsamples")).first()[0] or 0
        n_bad = violations.count()
        n_sample_rows = sample_index(spark, tok_out).count()
    index_secs = time.time() - t0
    record("index", index_secs, int(n_indexed), dir_bytes(tok_out), im)

    # drain the asynchronous listener bus before reading the tripwire
    # (QueryExecutionListener callbacks run on a JVM-driven thread).
    # Poll for QUIESCENCE instead of a fixed sleep (ADVICE r14): under
    # load a late onSuccess could land after a one-shot check, silently
    # passing a run that should have tripped — wait until the count is
    # stable for 2 s (bounded at 30 s so a wedged bus can't hang the run).
    deadline = time.time() + 30.0
    stable_since, last_n = time.time(), len(warnings_seen)
    while time.time() - stable_since < 2.0 and time.time() < deadline:
        time.sleep(0.25)
        n = len(warnings_seen)
        if n != last_n:
            stable_since, last_n = time.time(), n
    summary = {
        "metric": "e2e_pipeline",
        "sf_dir": args.sf_dir,
        "n_docs": n_docs,
        "n_src_shards": n_shards,
        "violations": n_bad,
        "sample_index_rows": n_sample_rows,
        "stages": stages,
        "total_sec": round(sum(s["sec"] for s in stages.values()), 2),
        "n_warnings": len(warnings_seen),
        **({"warnings": warnings_seen} if warnings_seen else {}),
    }
    print(json.dumps(summary))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(summary, f, indent=1)
        print(f"wrote {args.out}")
    shutil.rmtree(args.work_dir, ignore_errors=True)
    if warnings_seen:
        print(
            f"E2E TRIPWIRE: {len(warnings_seen)} session warning(s) fired "
            "on a run that must be silent:", file=sys.stderr
        )
        for w in warnings_seen:
            print(f"  - {w}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
