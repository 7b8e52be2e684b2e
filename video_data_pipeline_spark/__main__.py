"""CLI entry points — the reference's three pipeline CLIs, Spark-side.

Reference CLIs (SURVEY.md §3): ``pack/pack.py`` (argparse --dataset/--type/
--machine_id/--total_machine/--workers), ``tokenize/main.py`` (--start/
--end/--num_jobs/--shard_size), ``index/check_pair.py``. The manual
machine-striping / job-count flags vanish: Spark partitioning replaces
them, so the surviving surface is just data locations + semantics knobs.

Usage::

    python -m video_data_pipeline_spark pack --kind jsonl --meta caps.jsonl \
        --out out/shards --samples-per-shard 500 [--type uniform --frames 16]
    python -m video_data_pipeline_spark tokenize --in out/shards --out out/tok \
        --budget 8000 --shard-size 500
    python -m video_data_pipeline_spark index --in out/tok [--golden 0.01]
    python -m video_data_pipeline_spark query q01_pricing_summary \
        [--sf-dir /root/testdata/sf0.01]
    python -m video_data_pipeline_spark calibrate --sf-dir /data/corpus \
        [--json caps.json]
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="video_data_pipeline_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("pack", help="pack a caption table into tar shards")
    p.add_argument("--kind", default="jsonl", help="metadata loader kind")
    p.add_argument("--meta", required=True, help="metadata path (json/jsonl/parquet)")
    p.add_argument("--out", required=True)
    p.add_argument("--samples-per-shard", type=int, default=500)
    p.add_argument("--type", dest="sample_type", default="video_text_pair",
                   choices=["video_text_pair", "uniform"])
    p.add_argument("--frames", type=int, default=16)
    p.add_argument("--hermetic", action="store_true",
                   help="fake bytes for unreachable media paths (tests only)")

    t = sub.add_parser("tokenize", help="tokenize + 8k-pack tar shards")
    t.add_argument("--in", dest="inp", required=True)
    t.add_argument("--out", required=True)
    t.add_argument("--budget", type=int, default=8000)
    t.add_argument("--shard-size", type=int, default=500)

    i = sub.add_parser("index", help="validate + index tokenized shards")
    i.add_argument("--in", dest="inp", required=True)
    i.add_argument("--golden", type=float, default=0.01)
    i.add_argument("--out", default=None, help="write index parquet here")
    i.add_argument("--sample-out", default=None,
                   help="write per-sample metadata index parquet here")
    i.add_argument("--zorder", default=None, metavar="COLA,COLB",
                   help="z-order cluster the sample index on two columns "
                        "(e.g. n_tokens,n_images)")

    q = sub.add_parser("query", help="run a registry query")
    q.add_argument("name")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    q.add_argument("--show", type=int, default=20)
    q.add_argument(
        "--calibrate", action="store_true",
        help="for queries that support it: run the cap pre-flight first "
        "and proceed only on an EXACT plan (or exit 3 with the named "
        "boundary instead of printing a capped subset)",
    )
    q.add_argument(
        "--pair-budget", type=int, default=None,
        help="with --calibrate: max exact candidate-pair workload the "
        "pre-flight may accept before refusing (default 200M)",
    )
    q.add_argument(
        "--max-bucket-size", type=int, default=None,
        help="override the query's hot-bucket cap (for queries that take "
        "one); with --calibrate this is the cap the pre-flight tests",
    )

    c = sub.add_parser(
        "calibrate",
        help="measure every hot-bucket cap front on a corpus (one linear "
        "groupBy per front — safe where the pair joins would not be) and "
        "report which registered defaults would bind",
    )
    c.add_argument("--sf-dir", required=True)
    c.add_argument("--json", dest="json_out", default=None)

    sub.add_parser("list", help="list registry queries")

    args = ap.parse_args(argv)

    if args.cmd == "list":
        from video_data_pipeline_spark.queries.registry import load_all

        for name, qq in sorted(load_all().items()):
            kind = "oracle" if qq.oracle else "rows-only"
            print(f"{name:32s} [{kind}] {qq.doc.splitlines()[0] if qq.doc else ''}")
        return 0

    from video_data_pipeline_spark.session import get_spark

    spark = get_spark(f"vdps-{args.cmd}")

    if args.cmd == "pack":
        from video_data_pipeline_spark.plans.pack import pack_dataset
        from video_data_pipeline_spark.sources.metadata import load_dataset

        meta = load_dataset(spark, args.kind, args.meta)
        manifest = pack_dataset(
            meta,
            args.out,
            samples_per_shard=args.samples_per_shard,
            sample_type=args.sample_type,
            n_frames=args.frames,
            hermetic=args.hermetic,
        ).collect()
        print(json.dumps({
            "shards": len(manifest),
            "samples": sum(m.nsamples for m in manifest),
            "bytes": sum(m.nbytes for m in manifest),
        }))
    elif args.cmd == "tokenize":
        from video_data_pipeline_spark.plans.tokenize import tokenize_shards

        manifest = tokenize_shards(
            spark, args.inp, args.out, budget=args.budget,
            samples_per_shard=args.shard_size,
        ).collect()
        print(json.dumps({
            "shards": len(manifest),
            "packed_samples": sum(m.nsamples for m in manifest),
        }))
    elif args.cmd == "index":
        from video_data_pipeline_spark.plans.index import index_shards

        index, violations, golden = index_shards(spark, args.inp, args.golden)
        rows = index.collect()
        n_bad = violations.count()
        if args.out:
            index.write.mode("overwrite").parquet(args.out)
        if args.sample_out:
            from video_data_pipeline_spark.plans.index import (
                sample_index,
                write_index,
            )

            zb = tuple(args.zorder.split(",")) if args.zorder else None
            if zb is not None and len(zb) != 2:
                raise SystemExit("--zorder wants exactly two columns: COLA,COLB")
            write_index(sample_index(spark, args.inp), args.sample_out, zorder_by=zb)
        print(json.dumps({
            "tars": len(rows),
            "nsamples_total": sum(r.nsamples for r in rows),
            "violations": n_bad,
        }))
        return 1 if n_bad else 0
    elif args.cmd == "query":
        import inspect

        from video_data_pipeline_spark.queries.registry import load_all

        registry = load_all()
        if args.name not in registry:
            print(f"unknown query {args.name!r}; see `list`", file=sys.stderr)
            return 2
        fn = registry[args.name].spark_fn
        params = inspect.signature(fn).parameters
        kw = {}
        if args.calibrate:
            if "calibrate" not in params:
                print(f"{args.name} has no calibrate path", file=sys.stderr)
                return 2
            kw["calibrate"] = True
        if args.pair_budget is not None:
            # gate on the actual signature (ADVICE r13): a query can accept
            # `calibrate` without `pair_budget`; forwarding the flag blindly
            # died in a TypeError traceback instead of a clean exit code
            if "pair_budget" not in params:
                print(f"{args.name} takes no pair_budget", file=sys.stderr)
                return 2
            kw["pair_budget"] = args.pair_budget
        if args.max_bucket_size is not None:
            if "max_bucket_size" not in inspect.signature(fn).parameters:
                print(f"{args.name} takes no max_bucket_size", file=sys.stderr)
                return 2
            kw["max_bucket_size"] = args.max_bucket_size
        from video_data_pipeline_spark.calibrate import CapBoundError

        try:
            df = fn(spark, args.sf_dir, **kw)
            df.show(args.show, truncate=False)
        except CapBoundError as e:
            # the honest outcome on a corpus where no exact plan fits the
            # budget: the named boundary, not a silently capped subset
            print(f"REFUSED: {e}", file=sys.stderr)
            return 3
    elif args.cmd == "calibrate":
        from video_data_pipeline_spark.calibrate import (
            measure_front,
            standard_fronts,
        )

        out: dict[str, dict] = {"sf_dir": args.sf_dir}
        for name, default, make in standard_fronts(spark, args.sf_dir):
            rec = measure_front(make(), default, name).as_dict()
            out[name] = rec
            verdict = (
                "CAP BINDS — registered answers MAY be a capped subset"
                if rec["binds"] else "cap invisible (exact)"
            )
            print(f"{name:22s} default={default:5d} max={rec['max']:8d} "
                  f"p99={rec['p99']:6d} oversized={rec['oversized']:6d} "
                  f"pairs uncapped={rec['uncapped_pairs']:.3g} "
                  f"capped={rec['capped_pairs']:.3g} {verdict}")
        if args.json_out:
            with open(args.json_out, "w") as f:
                json.dump(out, f, indent=1)
        return 1 if any(
            isinstance(v, dict) and v.get("binds") for v in out.values()
        ) else 0
    return 0


if __name__ == "__main__":
    sys.exit(main())
