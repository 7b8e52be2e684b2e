"""Refresh the quiet bench anchor (BENCH_BASELINE_r{N}.json).

Runs `bench.py` N times back-to-back on an otherwise-idle machine and
records per-query min/median plus the raw runs — the ambient band that
separates real regressions from sandbox noise (rounds 2-4 each burned a
task chasing ±25% ambient drift).

Usage:
    python tools/bench_anchor.py --round 5 [--runs 3] [--out BENCH_BASELINE_r5.json]

Run this ONLY when nothing else is on the machine (no sweeps, no tests);
a concurrent job inflates the band and hides real regressions.

Each run goes through ``tools/ab.py``'s bench runner, which reads the
full-precision result file. For an interleaved comparison against another
tree or env value use ``tools/ab.py`` itself.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from tools.ab import run_bench  # noqa: E402

#: the one prose line that may quote the anchor; bench_anchor rewrites it
#: and REFUSES to finish if it is missing (r11 VERDICT #8: the quoted
#: number drifted from the committed artifact for two rounds)
ANCHOR_LINE_RE = re.compile(
    r"Current quiet anchor: BENCH_BASELINE_r\d+\.json = [\d.]+ s / \d+ queries\."
)


def update_roadmap_anchor_line(rnd: int, median: float, n_queries: int) -> None:
    """Rewrite ROADMAP.md's canonical anchor line to match the artifact
    just written. Exits nonzero if the marker line is gone — the anchor
    run is not 'done' while prose and artifact can disagree."""
    path = os.path.join(ROOT, "ROADMAP.md")
    text = open(path).read()
    new_line = (
        f"Current quiet anchor: BENCH_BASELINE_r{rnd}.json = "
        f"{median} s / {n_queries} queries."
    )
    text2, n = ANCHOR_LINE_RE.subn(new_line, text, count=1)
    if n != 1:
        sys.exit(
            "bench_anchor: ROADMAP.md's 'Current quiet anchor:' line is "
            "missing — restore it (see the anchor-line comment marker) so "
            "the quoted number cannot drift from the artifact"
        )
    with open(path, "w") as f:
        f.write(text2)
    print(f"updated ROADMAP.md anchor line: {new_line}")

PURPOSE = (
    "Quiet-environment bench anchor at sf0.1, local[32], {runs} consecutive runs "
    "with nothing else on the machine. Compare driver BENCH_r{{N}}.json against the "
    "per-query 'median' here; ambient sandbox noise is min..max across runs "
    "(typically +-25%), so only deltas beyond that band are real regressions."
)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", type=int, required=True)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--out", default=None)
    ap.add_argument(
        "--max-load", type=float, default=1.0,
        help="refuse to anchor while the 1-min load average exceeds this "
        "(r14: a post-pytest load drain produced a 141s anchor where the "
        "idle rerun read 97s — a uniform 1.25x of pure ambient). Waits up "
        "to 10 min for the machine to quiet, then proceeds WITH the load "
        "recorded so a noisy anchor can never pose as quiet.",
    )
    args = ap.parse_args()

    deadline = time.time() + 600
    while os.getloadavg()[0] > args.max_load and time.time() < deadline:
        print(f"load {os.getloadavg()[0]:.2f} > {args.max_load} — waiting "
              "for the machine to quiet (anchor must run idle)")
        time.sleep(30)
    load_at_start = round(os.getloadavg()[0], 2)

    runs = [run_bench(where=f"run {i + 1}/{args.runs}") for i in range(args.runs)]
    names = list(runs[0]["queries"])
    per_q = {
        q: {
            "min": min(r["queries"][q] for r in runs),
            "median": round(statistics.median(r["queries"][q] for r in runs), 3),
            "runs": [r["queries"][q] for r in runs],
        }
        for q in names
    }
    payload = {
        "round": args.round,
        "purpose": PURPOSE.format(runs=args.runs),
        "headline_total": {
            "runs": [r["value"] for r in runs],
            "median": round(statistics.median(r["value"] for r in runs), 3),
        },
        "sf": runs[0]["sf"],
        "n_queries": len(names),
        "load_at_start": load_at_start,
        "queries": per_q,
    }
    out = args.out or os.path.join(ROOT, f"BENCH_BASELINE_r{args.round}.json")
    with open(out, "w") as f:
        json.dump(payload, f, indent=1)
    print(f"wrote {out}: total median {payload['headline_total']['median']}s "
          f"over {args.runs} runs, {len(names)} queries")
    if args.out is None:
        # only the official per-round artifact maintains the ROADMAP
        # anchor line; an explicit --out is a side study / smoke run
        update_roadmap_anchor_line(
            args.round, payload["headline_total"]["median"], len(names)
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
