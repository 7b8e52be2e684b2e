"""CLI surface tests: the pack→tokenize→index lifecycle via subprocess."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

pytestmark = pytest.mark.slow  # r17 fast-tier: see conftest/pytest.ini

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_cli(*args, cwd=REPO):
    return subprocess.run(
        [sys.executable, "-m", "video_data_pipeline_spark", *args],
        capture_output=True,
        text=True,
        cwd=cwd,
        timeout=240,
    )


def test_cli_lifecycle(tmp_path):
    meta = tmp_path / "caps.jsonl"
    with open(meta, "w") as f:
        for i in range(12):
            f.write(json.dumps({"video_path": f"v{i}.mp4", "caption": f"caption {i} " * 30}) + "\n")

    r = run_cli("pack", "--meta", str(meta), "--out", str(tmp_path / "shards"),
                "--samples-per-shard", "4", "--hermetic")
    assert r.returncode == 0, r.stderr[-2000:]
    pack = json.loads(r.stdout.strip().splitlines()[-1])
    assert pack["samples"] == 12 and pack["shards"] == 3

    r = run_cli("tokenize", "--in", str(tmp_path / "shards"),
                "--out", str(tmp_path / "tok"), "--budget", "200")
    assert r.returncode == 0, r.stderr[-2000:]
    tok = json.loads(r.stdout.strip().splitlines()[-1])
    assert tok["packed_samples"] > 0

    r = run_cli("index", "--in", str(tmp_path / "tok"))
    assert r.returncode == 0, r.stderr[-2000:]
    idx = json.loads(r.stdout.strip().splitlines()[-1])
    assert idx["violations"] == 0 and idx["nsamples_total"] == tok["packed_samples"]


def test_cli_list_and_bad_query():
    r = run_cli("list")
    assert r.returncode == 0
    assert "q01_pricing_summary" in r.stdout and "[oracle]" in r.stdout
    r = run_cli("query", "no_such_query")
    assert r.returncode == 2
    assert "unknown query" in r.stderr


def test_cli_calibrate_and_calibrated_query(tmp_path):
    out = tmp_path / "caps.json"
    r = run_cli("calibrate", "--sf-dir", "/root/testdata/sf0.001",
                "--json", str(out))
    # exit 0 = no default cap binds on the standard fixture
    assert r.returncode == 0, r.stderr[-2000:]
    caps = json.loads(out.read_text())
    assert caps["simhash_chunks"]["binds"] is False
    assert set(caps) >= {"minhash_bands", "prefix_buckets",
                         "containment_postings", "simhash_chunks",
                         "simhash_combos"}
    line = next(x for x in r.stdout.splitlines() if x.startswith("simhash_chunks"))
    assert (f"p99={caps['simhash_chunks']['p99']:6d}" in line
            and "pairs uncapped=" in line and "capped=" in line), line

    r = run_cli("query", "q_simhash_near_pairs", "--calibrate",
                "--sf-dir", "/root/testdata/sf0.001", "--show", "3")
    assert r.returncode == 0, r.stderr[-2000:]

    # a query with no calibrate path refuses the flag by name
    r = run_cli("query", "q01_pricing_summary", "--calibrate")
    assert r.returncode == 2
    assert "no calibrate path" in r.stderr


def test_cli_explicit_cap_proceeds_with_measured_recall():
    # r15 (ADVICE r14 medium): an explicit NON-DEFAULT cap under
    # --calibrate is accepted partial recall — the pre-flight measures
    # and proceeds with the caller's cap (before r15 this invocation
    # refused, re-refusing the escape the refusal itself had named)
    r = run_cli("query", "q_simhash_near_pairs", "--calibrate",
                "--max-bucket-size", "8", "--pair-budget", "1",
                "--sf-dir", "/root/testdata/sf0.001", "--show", "3")
    assert r.returncode == 0, (r.returncode, r.stderr[-800:])


def test_cli_calibrated_query_refuses_over_budget(tmp_path):
    # the refusal branch must exit 3 with the measured boundary on
    # stderr instead of printing a silently capped table. r15: an
    # explicit small cap no longer refuses (accepted partial recall), so
    # the bind comes from a corpus where the DEFAULT minhash cap (64)
    # genuinely binds: 100 rotations of one sentence — distinct content,
    # near-identical shingle sets, every band bucket holds all 100 docs
    import pyarrow as pa
    import pyarrow.parquet as pq

    words = [f"word{i:03d}" for i in range(120)]
    rows = [" ".join(words[i:] + words[:i]) for i in range(100)]
    t = pa.table({
        "doc_id": pa.array(range(100), pa.int64()),
        "text": pa.array(rows),
        "lang": pa.array(["en"] * 100),
        "source": pa.array(["s"] * 100),
        "n_chars": pa.array([len(r) for r in rows], pa.int64()),
    })
    pq.write_table(t, tmp_path / "documents.parquet")
    r = run_cli("query", "q_minhash_lsh_pairs", "--calibrate",
                "--pair-budget", "1", "--sf-dir", str(tmp_path),
                "--show", "3")
    assert r.returncode == 3, (r.returncode, r.stderr[-800:])
    assert "REFUSED" in r.stderr and "BINDS" in r.stderr
    assert "pair_budget=1" in r.stderr


def test_cli_pair_budget_gated_on_signature():
    # ADVICE r13: --pair-budget used to be forwarded to any query that
    # accepted `calibrate`, so q_simhash_calibration (calibrate, no
    # pair_budget then) died in a TypeError traceback. Now: queries
    # without the parameter refuse cleanly with exit 2 ...
    r = run_cli("query", "q01_pricing_summary", "--pair-budget", "5")
    assert r.returncode == 2
    assert "takes no pair_budget" in r.stderr
    # ... and q_simhash_calibration grew the parameter, so the originally
    # crashing invocation now runs end-to-end (sf0.001: cap has headroom,
    # the pre-flight proceeds on the default plan regardless of budget)
    r = run_cli("query", "q_simhash_calibration", "--calibrate",
                "--pair-budget", "5", "--sf-dir", "/root/testdata/sf0.001",
                "--show", "3")
    assert r.returncode == 0, r.stderr[-2000:]
