"""End-to-end pipeline tests: pack → tokenize → index on real test tables.

The reference's pipeline lifecycle (SURVEY.md §3) exercised hermetically:
documents rows stand in for caption metadata; media fetch/decode are the
deterministic fakes from functions.media.
"""

from __future__ import annotations

import glob
import json
import re
import tarfile

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
from video_data_pipeline_spark.plans.index import index_shards, sample_index
from video_data_pipeline_spark.plans.pack import pack_dataset
from video_data_pipeline_spark.plans.tokenize import tokenize_shards
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
    for path in glob.glob(out + "/*.tar"):
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
    plan = violations._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1 and "EvalPython" not in plan  # scan only

    sizes = {r.key: (r.n_tokens, r.n_images) for r in sample_index(spark, bad).collect()}
    assert sizes == {
        keys["valid"]: (3, 0),
        keys["7999 tokens"]: (7999, 0),
        keys["one image"]: (258, 1),
    }


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
