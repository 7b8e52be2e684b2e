"""End-to-end pipeline tests: pack → tokenize → index on real test tables.

The reference's pipeline lifecycle (SURVEY.md §3) exercised hermetically:
documents rows stand in for caption metadata; media fetch/decode are the
deterministic fakes from functions.media.
"""

from __future__ import annotations

import glob
import io
import json
import os
import re
import tarfile

import pytest
from pyspark.sql import functions as F

from video_data_pipeline_spark.functions.text import (
    BOS,
    EOS,
    IM_END,
    IM_PATCH,
    IM_START,
    check_sample,
    merge_packed,
    tokenize_text,
)
from video_data_pipeline_spark.operators.packing import greedy_bin_pack
from video_data_pipeline_spark.plans import index as index_plan
from video_data_pipeline_spark.plans.index import index_shards, sample_index
from video_data_pipeline_spark.plans.pack import pack_dataset
from video_data_pipeline_spark.plans.tokenize import render_json, tokenize_shards
from video_data_pipeline_spark.sinks.webdataset import write_webdataset
from video_data_pipeline_spark.sources.webdataset import read_webdataset


def _meta(spark, sf_dir, n=60):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(n)
    return docs.select(
        F.concat(F.lit("s3://bucket/videos/"), F.col("doc_id").cast("string"), F.lit(".mp4"))
        .alias("video_path"),
        F.col("text").alias("value"),
    )


def test_pack_video_text_pair(spark, sf_dir, tmp_path):
    out = str(tmp_path / "packed")
    manifest = pack_dataset(
        _meta(spark, sf_dir).repartition(2), out, samples_per_shard=25, hermetic=True
    ).collect()
    assert sum(m.nsamples for m in manifest) == 60
    # re-scan: every sample has json + mp4 members (pack/pack.py:171-179 shape)
    back = read_webdataset(spark, out)
    keys = back.select(F.explode(F.map_keys("sample")).alias("k")).distinct().collect()
    assert {r.k for r in keys} == {"json", "mp4"}
    one = back.first()
    payload = json.loads(bytes(one.sample["json"]))
    assert payload["conversations"][0]["from"] == "human"
    assert payload["conversations"][1]["from"] == "gpt"
    assert payload["videos"][0].startswith("s3://bucket/videos/")


def test_pack_uniform_frames(spark, sf_dir, tmp_path):
    out = str(tmp_path / "frames")
    manifest = pack_dataset(
        _meta(spark, sf_dir, n=10).repartition(1),
        out,
        samples_per_shard=10,
        sample_type="uniform",
        n_frames=4,
        hermetic=True,
    ).collect()
    # reference layout: one json sample per video + one jpg sample per frame
    assert sum(m.nsamples for m in manifest) == 50
    names, payloads = [], {}
    for path in sorted(glob.glob(out + "/*.tar")):
        with tarfile.open(path) as tar:
            for n in tar.getnames():
                names.append(n)
                if n.endswith(".json"):
                    payloads[n] = json.loads(tar.extractfile(n).read())
    json_names = [n for n in names if n.endswith(".json")]
    jpg_names = [n for n in names if n.endswith(".jpg")]
    assert len(jpg_names) == 40
    # keys: stable sequential 9-digit base ({idx:09d}), frames {idx:09d}-{i}
    assert sorted(json_names) == [f"{i:09d}.json" for i in range(10)]
    assert re.fullmatch(r"\d{9}-\d+\.jpg", sorted(jpg_names)[0])
    # json sample records its frame keys (pack/pack.py:214-224)
    first = sorted(json_names)[0]
    base = first[:-5]
    assert payloads[first]["image_name_list"] == [f"{base}-{i}" for i in range(4)]
    # tar order: each json member is followed by its own frames
    for pos, name in enumerate(names):
        if name.endswith(".json"):
            frames = [f"{f}.jpg" for f in payloads[name]["image_name_list"]]
            assert names[pos + 1 : pos + 5] == frames


def test_pack_rejects_bad_arguments(spark, tmp_path):
    """Bad pack arguments fail on the driver, before any plan is built
    (n_frames=0 used to divide by zero inside a worker)."""
    meta = spark.createDataFrame([("/nonexistent/a.mp4", "a")], "video_path string, value string")
    with pytest.raises(ValueError, match="n_frames"):
        pack_dataset(meta, str(tmp_path / "a"), sample_type="uniform", n_frames=0)
    with pytest.raises(ValueError, match="sample_type"):
        pack_dataset(meta, str(tmp_path / "b"), sample_type="keyframe")
    assert not list(tmp_path.iterdir())


def _final_plan(df) -> str:
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    return plan.toString()


@pytest.mark.parametrize("sample_type", ["video_text_pair", "uniform"])
def test_pack_is_one_python_pass(spark, tmp_path, sample_type):
    """Pack fetches each video, samples its frames and writes the tars in
    one Python pass: the executed plan holds one MapInPandas over one scan
    of the caption table, for either sample type."""
    src = str(tmp_path / "meta.parquet")
    rows = [(f"/nonexistent/videos/{i:03d}.mp4", f"caption {i}") for i in range(6)]
    spark.createDataFrame(rows, "video_path string, value string").write.parquet(src)
    manifest = pack_dataset(
        spark.read.parquet(src),
        str(tmp_path / "packed"),
        samples_per_shard=4,
        sample_type=sample_type,
        n_frames=2,
        hermetic=True,
    )
    per_video = 1 if sample_type == "video_text_pair" else 3
    assert sum(m.nsamples for m in manifest.collect()) == 6 * per_video
    plan = _final_plan(manifest)
    assert plan.count("MapInPandas") == 1, plan
    assert plan.count("FileScan parquet") == 1, plan


def test_pack_shards_hold_consecutive_keys(spark, tmp_path):
    """A caption table under AQE's coalescing floor packs as one keyed
    stream: 20 captions at 8 samples per shard give tars holding keys 0-7,
    8-15 and 16-19, each in key order, whatever order the metadata rows
    are stored in. Every sample keeps its own caption."""
    rows = [(f"/nonexistent/videos/{i:03d}.mp4", f"caption {i}") for i in range(20)]
    rows = rows[7:] + rows[:7][::-1]  # stored out of key order
    src = str(tmp_path / "meta.parquet")
    spark.createDataFrame(rows, "video_path string, value string").write.parquet(src)
    out = str(tmp_path / "packed")
    pack_dataset(
        spark.read.parquet(src), out, samples_per_shard=8, hermetic=True
    ).collect()
    shards = []
    for path in sorted(glob.glob(out + "/*.tar")):
        with tarfile.open(path) as tar:
            keys = [n[:-5] for n in tar.getnames() if n.endswith(".json")]
            for k in keys:
                conv = json.loads(tar.extractfile(f"{k}.json").read())["conversations"]
                assert conv[1]["value"] == f"caption {int(k)}"
        shards.append(keys)
    assert shards == [
        [f"{i:09d}" for i in range(lo, hi)] for lo, hi in ((0, 8), (8, 16), (16, 20))
    ]


def _tar_records(path: str) -> list[tuple[str, dict]]:
    with tarfile.open(path) as tar:
        return [
            (m.name.rsplit(".", 1)[0], json.loads(tar.extractfile(m).read()))
            for m in tar.getmembers()
        ]


def _model_bins(docs: list[tuple[str, str]], budget: int):
    """The reference's greedy rule written out on one shard's (key, text)
    samples in member order: skip a sample at or over budget, flush before
    a bin would reach the budget, drop the still-open bin at the end.
    Returns (closed bins of (key, text, ids, mask), the dropped open bin)."""
    bins: list[list[tuple]] = [[]]
    acc = 0
    for key, text in docs:
        ids, mask = tokenize_text(text)
        if len(ids) >= budget:
            continue
        if acc + len(ids) >= budget:
            bins.append([])
            acc = 0
        acc += len(ids)
        bins[-1].append((key, text, ids, mask))
    return bins[:-1], bins[-1]


def test_render_json_matches_spark_to_json(spark):
    """tokenize renders each bin's json member in Python: its bytes are
    those of the ``to_json`` projection it replaces, escapes included."""
    texts = [chr(c) for c in range(0x80)] + ['"', "\\", "/", "\u2028", "\u2029", "\ufffd"]
    texts += ["\U0001f600", "", "".join(texts) + "naïve 日本 \U0001f600"]
    arrays = [[-(2**31), 2**31 - 1, 0, 1], [], [32002]]
    rows = [(arrays[i % 3], arrays[(i + 1) % 3], t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "input_ids array<int>, loss_mask array<int>, text string")
    spark_json = F.to_json(F.struct("input_ids", "loss_mask", "text")).cast("binary")
    got = df.select("*", spark_json.alias("json")).collect()
    assert len(got) == len(texts)
    for r in got:
        assert render_json(r.input_ids, r.loss_mask, r.text) == bytes(r.json), repr(r.text)


def test_tokenize_and_index_roundtrip(spark, sf_dir, tmp_path):
    budget = 600
    texts = [
        r.text
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .orderBy("doc_id")
        .limit(40)
        .collect()
    ]
    texts[15] = " ".join(["long"] * budget)  # over budget: skipped, never packed
    # escapes, checked through json.loads here and index's from_json below
    texts[22] += ' ctl\x00\x01\x0b\x1f\x7f "quoted" back\\slash naïve 日本 😀 \u2028'
    shards = [[(f"{i:09d}", texts[i]) for i in range(s, s + 10)] for s in range(0, 40, 10)]
    src = str(tmp_path / "src")
    rows = [(k, {"txt": t.encode()}) for shard in shards for k, t in shard]
    df = spark.createDataFrame(rows, "`__key__` string, sample map<string,binary>")
    write_webdataset(df.repartition(1).sortWithinPartitions("__key__"), src, maxcount=10).collect()
    in_tars = sorted(glob.glob(src + "/*.tar"))
    assert len(in_tars) == 4

    out = str(tmp_path / "tok")
    manifest_df = tokenize_shards(spark, src, out, budget=budget, samples_per_shard=50)
    manifest = manifest_df.collect()
    plan = manifest_df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # shard-local: no shuffle anywhere
    assert plan.count("MapInPandas") == 1  # render and write in the pass that packs

    # every record: members of ONE input shard in member order; one output
    # tar per input shard with bins; each shard's open bin dropped
    expected: dict[int, list[tuple]] = {}
    dropped_open = 0
    for i, shard in enumerate(shards):
        closed, still_open = _model_bins(shard, budget)
        assert still_open  # every shard here has a trailing bin to drop
        dropped_open += len(still_open)
        if closed:
            expected[i] = [
                (b[0][0], *merge_packed([(d[2], d[3]) for d in b]), " ".join(d[1] for d in b))
                for b in closed
            ]
    got = {}
    for m in manifest:
        shard_idx = int(re.search(r"shard-(\d{5})-", m.url).group(1))
        got[shard_idx] = [
            (k, r["input_ids"], r["loss_mask"], r["text"]) for k, r in _tar_records(m.url)
        ]
        assert m.nsamples == len(got[shard_idx])
    assert got == expected
    assert any(texts[22] in r[3] for recs in got.values() for r in recs)
    assert "000000015" not in {k for recs in got.values() for k, *_ in recs}
    n_bins = sum(len(v) for v in expected.values())
    assert n_bins > 0 and dropped_open > 0
    kept = sum(r[1].count(EOS) for v in got.values() for r in v)
    assert kept + dropped_open + 1 == 40  # + the over-budget sample
    assert all(r[1].count(BOS) == 1 and len(r[1]) < budget for v in got.values() for r in v)

    # greedy_bin_pack assigns the same bins on the same input
    sizes = [
        (f"s{i}", j, len(tokenize_text(t)[0])) for i, shard in enumerate(shards)
        for j, (_, t) in enumerate(shard)
    ]
    frame = spark.createDataFrame(sizes, "url string, idx long, n_tokens long")
    packed = frame.transform(greedy_bin_pack(["url"], "idx", "n_tokens", budget)).collect()
    by_shard: dict[int, dict[int, list[int]]] = {}
    for r in packed:
        by_shard.setdefault(int(r.url[1:]), {}).setdefault(r.bin_id, []).append(r.idx)
    model = {
        i: [[int(d[0]) % 10 for d in b] for b in _model_bins(shard, budget)[0]]
        for i, shard in enumerate(shards)
    }
    assert {i: [sorted(v) for _, v in sorted(b.items())] for i, b in by_shard.items()} == {
        i: bins for i, bins in model.items() if bins
    }

    index, violations, golden = index_shards(spark, out, golden_fraction=0.5)
    assert sum(r.nsamples for r in index.collect()) == n_bins
    assert violations.count() == 0
    assert golden.count() >= 0


def _reference_violation(payload: bytes | None) -> str | None:
    """The index check in Python: decode, then ``check_sample``."""
    try:
        rec = json.loads(payload)
        ids, mask = rec.get("input_ids", []), rec.get("loss_mask", [])
        return check_sample(ids, mask, len(rec.get("image", [])))
    except (TypeError, ValueError, AttributeError):
        return "decode error"


def test_index_catches_violations(spark, tmp_path):
    """The SQL check agrees with ``check_sample`` row by row."""
    image = [IM_START] + [IM_PATCH] * 256 + [IM_END]
    cases = {
        "length mismatch": {"input_ids": [1, 5, 6], "loss_mask": [0, 1], "image": []},
        "valid": {"input_ids": [1, 5, 6], "loss_mask": [0, 0, 1], "image": []},
        "missing loss_mask": {"input_ids": [1, 5, 6]},
        "7999 tokens": {"input_ids": [5] * 7999, "loss_mask": [0] * 7999},
        "8000 tokens": {"input_ids": [5] * 8000, "loss_mask": [0] * 8000},
        "unbalanced": {"input_ids": [1, IM_START, 5], "loss_mask": [0, 0, 1]},
        "patch count": {"input_ids": image[:-2] + [IM_END], "loss_mask": [0] * 257,
                        "image": ["a.jpg"]},
        "one image": {"input_ids": image, "loss_mask": [0] * 258, "image": ["a.jpg"]},
    }
    samples = {name: {"json": json.dumps(rec).encode()} for name, rec in cases.items()}
    samples["malformed json"] = {"json": b'{"input_ids": [1, 2'}
    samples["no json member"] = {"txt": b"hello"}
    keys = {name: f"{i:09d}" for i, name in enumerate(samples)}
    rows = [(keys[name], sample) for name, sample in samples.items()]
    bad = str(tmp_path / "bad")
    df = spark.createDataFrame(rows, "`__key__` string, sample map<string,binary>")
    write_webdataset(df.repartition(1), bad).collect()

    index, violations, _ = index_shards(spark, bad)
    got = {r["__key__"]: r.violation for r in violations.collect()}
    expected = {
        keys[name]: _reference_violation(sample.get("json"))
        for name, sample in samples.items()
    }
    assert expected[keys["malformed json"]] == expected[keys["no json member"]] == "decode error"
    assert {k: v for k, v in expected.items() if v is not None} == got
    assert len(got) == 7
    assert index.collect()[0].nsamples == len(samples) - len(got)
    plan = _executed_plan(index_plan._checked_samples(spark, bad))
    assert plan.count("MapInPandas") == 1 and "EvalPython" not in plan  # scan only
    plan = _executed_plan(violations)
    assert "MapInPandas" not in plan and "EvalPython" not in plan

    sizes = {r.key: (r.n_tokens, r.n_images) for r in sample_index(spark, bad).collect()}
    assert sizes == {
        keys["valid"]: (3, 0),
        keys["7999 tokens"]: (7999, 0),
        keys["one image"]: (258, 1),
    }


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _write_token_tar(path: str, records: dict[str, dict]) -> None:
    """One tokenized shard: a ``<key>.json`` member per record."""
    with tarfile.open(path, "w") as tar:
        for key, rec in records.items():
            data = json.dumps(rec).encode()
            info = tarfile.TarInfo(f"{key}.json")
            info.size = len(data)
            tar.addfile(info, io.BytesIO(data))


def _token_records(n_valid: int, n_bad: int, tag: str) -> dict[str, dict]:
    good = {"input_ids": [1, 5, 6], "loss_mask": [0, 0, 1]}
    bad = {"input_ids": [1, 5, 6], "loss_mask": [0, 1]}
    recs = {f"{tag}v{i:03d}": good for i in range(n_valid)}
    recs.update({f"{tag}b{i:03d}": bad for i in range(n_bad)})
    return recs


def _index_rows(spark, paths) -> dict:
    index, violations, _ = index_shards(spark, paths)
    return {
        "index": sorted(map(tuple, index.collect())),
        "violations": sorted(map(tuple, violations.collect())),
        "sample": sorted(map(tuple, sample_index(spark, paths).collect())),
    }


def test_index_op_scans_the_tars_once(spark, tmp_path):
    """Over unchanged tars, index, violations and sample_index read the one
    checkpointed check (no Python in their plans) and return the rows of
    an uncached check."""
    tars = tmp_path / "tok"
    tars.mkdir()
    for i in range(2):
        _write_token_tar(str(tars / f"shard-{i:06d}.tar"), _token_records(3 + i, 1 + i, f"s{i}"))
    index, violations, _ = index_shards(spark, str(tars))
    frames = [index, violations, sample_index(spark, str(tars))]
    for df in frames:
        assert "MapInPandas" not in _executed_plan(df)

    checked = index_plan._checked_samples(spark, str(tars))
    valid = checked.where("violation IS NULL")
    expected = {
        "index": sorted(map(tuple, valid.groupBy("__url__").count().collect())),
        "violations": sorted(
            map(tuple, checked.where("violation IS NOT NULL")
                .select("__key__", "__url__", "violation").collect())
        ),
        "sample": sorted(
            map(tuple, valid.select("__key__", "__url__", "n_tokens", "n_images").collect())
        ),
    }
    got = {k: sorted(map(tuple, df.collect())) for k, df in zip(expected, frames)}
    assert got == expected
    assert len(expected["sample"]) == 7 and len(expected["violations"]) == 3


def test_index_reads_afresh_after_a_rewrite(spark, tmp_path):
    """A shard rewritten in place, or another tar dir, is never served from
    the memo, and the memo holds at most one entry."""
    a, b = tmp_path / "a", tmp_path / "b"
    a.mkdir()
    b.mkdir()
    shard = str(a / "shard-000000.tar")
    _write_token_tar(shard, _token_records(2, 1, "old"))
    _write_token_tar(str(b / "shard-000000.tar"), _token_records(4, 0, "b"))
    before = _index_rows(spark, str(a))
    assert [r[1] for r in before["index"]] == [2] and len(before["violations"]) == 1

    _write_token_tar(shard, _token_records(5, 3, "new"))
    after = _index_rows(spark, str(a))
    assert [r[1] for r in after["index"]] == [5]
    assert {r[0] for r in after["violations"]} == {f"newb{i:03d}" for i in range(3)}
    assert {r[0] for r in after["sample"]} == {f"newv{i:03d}" for i in range(5)}

    in_b = _index_rows(spark, str(b))
    assert [r[1] for r in in_b["index"]] == [4] and not in_b["violations"]
    assert len(index_plan._CHECKED) == 1
    assert _index_rows(spark, str(a)) == after
    assert len(index_plan._CHECKED) == 1


@pytest.mark.parametrize(
    "spec",
    ["s3://bucket/tok/shard-000000.tar", "https://host/tok/shard-{000000..000001}.tar",
     "http://host/shard.tar", "pipe:cat /data/shard.tar"],
)
def test_remote_shard_specs_get_no_memo_key(spec, monkeypatch, tmp_path):
    """A remote shard, alone or next to a local one, yields no memo key and
    is never statted."""
    local = tmp_path / "shard.tar"
    local.write_bytes(b"")
    assert index_plan._shard_key([str(local), spec]) is None

    def no_stat(*args, **kwargs):
        raise AssertionError(f"stat of {args[0]!r}")

    monkeypatch.setattr(os, "stat", no_stat)
    assert index_plan._shard_key(spec) is None


def test_local_shard_key_follows_every_shards_stat(tmp_path):
    shards = [tmp_path / f"shard-{i}.tar" for i in range(2)]
    for s in shards:
        s.write_bytes(b"x")
    key = index_plan._shard_key(str(tmp_path))
    assert [k[:2] for k in key] == [(str(s), os.path.realpath(s)) for s in shards]
    shards[1].write_bytes(b"xy")
    assert index_plan._shard_key(str(tmp_path)) != key
    assert index_plan._shard_key(str(tmp_path / "missing.tar")) is None


def test_index_urls_keep_each_calls_spelling(spark, tmp_path):
    """The same tars named another way (a symlinked dir, a ``./`` step) are
    not served from the memo: every frame's urls carry its own call's
    spelling of the shard paths."""
    tok = tmp_path / "tok"
    tok.mkdir()
    _write_token_tar(str(tok / "shard-000000.tar"), _token_records(2, 1, "s"))
    link = tmp_path / "link"
    link.symlink_to(tok, target_is_directory=True)
    for spelling in (str(tok), str(link), f"{tmp_path}/./tok", str(tok)):
        rows = _index_rows(spark, spelling)
        url = os.path.join(spelling, "shard-000000.tar")
        assert [r[0] for r in rows["index"]] == [url]
        assert {r[1] for r in rows["violations"]} == {url}
        assert {r[1] for r in rows["sample"]} == {url}
    assert len(index_plan._CHECKED) == 1


def test_sample_index_end_to_end_with_zorder_sink(spark, sf_dir, tmp_path):
    """sample_index exposes per-sample (key, url, n_tokens, n_images) for
    valid samples, consistent with the shard manifest; write_index with
    zorder_by round-trips it clustered."""
    from video_data_pipeline_spark.plans.index import write_index

    src = str(tmp_path / "src")
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .limit(30)
        .select(
            F.format_string("%09d", "doc_id").alias("__key__"),
            F.create_map(F.lit("txt"), F.col("text").cast("binary")).alias("sample"),
        )
    )
    write_webdataset(docs.repartition(2), src, maxcount=10).collect()
    out = str(tmp_path / "tok")
    tokenize_shards(spark, src, out, budget=600, samples_per_shard=50).collect()

    smeta = sample_index(spark, out)
    rows = smeta.collect()
    index, violations, _ = index_shards(spark, out)
    assert len(rows) == sum(r.nsamples for r in index.collect())
    assert violations.count() == 0
    assert all(0 < r.n_tokens <= 600 for r in rows)
    assert all(r.n_images == 0 for r in rows)  # text-only corpus

    zdir = str(tmp_path / "zidx")
    write_index(smeta, zdir, zorder_by=("n_tokens", "n_images"), num_files=2)
    back = spark.read.parquet(zdir)
    assert back.count() == len(rows)
    assert set(back.columns) == {"key", "url", "n_tokens", "n_images"}
