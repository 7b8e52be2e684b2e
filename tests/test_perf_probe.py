"""tools/perf_probe.py: the one per-query probe.

One run over a two-dir matrix with ``--count`` and a binding ``--cap``
pins the record every cell gets, the JSON on disk before the second cell
starts, and the cap observation's counters in the record.
"""

from __future__ import annotations

import json
import os

from tools import perf_probe
from video_data_pipeline_spark import session

#: the StageMetricsDelta sums, the job count and, with --count, the rows
RECORD_KEYS = {
    "secs", "n_jobs", "degraded", "codegen_compiles", "rows", "n_stages",
    "n_tasks", "executor_run_time_ms", "input_bytes", "shuffle_read_bytes",
    "shuffle_write_bytes", "disk_spill_bytes", "memory_spill_bytes",
}
#: calibrate.observe_cap's counters for the prefix-bucket front
CAP_KEYS = {
    "n_buckets", "oversized_buckets", "max_bucket_size_seen",
    "uncapped_candidate_pairs", "capped_candidate_pairs",
}


def test_probe_matrix_with_count_and_binding_cap(spark, sf_dir, tmp_path, monkeypatch):
    # a second dir holding the same documents: rows must agree across it
    second = tmp_path / "copy"
    second.mkdir()
    os.symlink(os.path.join(sf_dir, "documents.parquet"), second / "documents.parquet")
    out = tmp_path / "probe.json"
    on_disk, groups = [], []
    cell_record = perf_probe.cell_record

    def spy(*args, **kwargs):
        on_disk.append(json.loads(out.read_text()) if out.exists() else None)
        groups.append(args[3])
        return cell_record(*args, **kwargs)

    monkeypatch.setattr(perf_probe, "cell_record", spy)
    monkeypatch.setattr(session, "get_spark", lambda *a, **k: spark)

    # a query without a cap parameter is refused before anything runs
    assert perf_probe.main(["--queries", "q01_pricing_summary", "--cap", "1"]) == 2
    assert perf_probe.main([
        "--sf-dir", f"{sf_dir},{second}", "--queries", "q_prefix_filter_join",
        "--count", "--cap", "2", "--json", str(out),
    ]) == 0

    assert on_disk[0] is None
    assert list(on_disk[1]) == [sf_dir]
    probe = json.loads(out.read_text())
    cells = [probe[d]["q_prefix_filter_join"] for d in (sf_dir, str(second))]
    for cell in cells:
        assert "error" not in cell
        assert RECORD_KEYS | CAP_KEYS <= set(cell)
        assert cell["n_jobs"] > 0 and cell["degraded"] is False
        assert cell["oversized_buckets"] > 0 and cell["max_bucket_size_seen"] > 1
    # each cell counts its jobs under a group of its own, not together
    # with the same query's jobs at an earlier dir
    assert len(set(groups)) == len(groups) == 2
    assert on_disk[1][sf_dir]["q_prefix_filter_join"] == cells[0]
    assert cells[0]["rows"] == cells[1]["rows"]
