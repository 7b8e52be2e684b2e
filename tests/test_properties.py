"""Property-based tests (hypothesis) for pure-function kernels.

The reference has no randomized testing (SURVEY.md §5); these harden the
engine's order-sensitive/stateful kernels against edge cases the example
tests don't reach. No SparkSession needed — fast.
"""

from __future__ import annotations

import math

from hypothesis import given, settings
from hypothesis import strategies as st

from video_data_pipeline_spark.functions.text import (
    BOS,
    check_sample,
    merge_packed,
    tokenize_conversation,
)
from video_data_pipeline_spark.sources.shardlists import expand_urls
from video_data_pipeline_spark.sources.webdataset import base_plus_ext, expand_paths

# ---------------------------------------------------------- greedy packing


def greedy_reference(sizes: list[int], budget: int) -> list[int]:
    """Transliteration of tokenize/main.py:186-215 with the checker-safe
    STRICT boundary (keep only len < budget, main.py:193; flush before a
    bin would reach budget) — the spec the Spark operator and the
    recursive-CTE oracle must both match."""
    bins, acc, b = [], 0, 0
    for s in sizes:
        if s >= budget:
            bins.append(-1)
            continue
        if acc + s >= budget:
            b += 1
            acc = 0
        acc += s
        bins.append(b)
    return bins


@given(
    sizes=st.lists(st.integers(min_value=0, max_value=3000), max_size=60),
    budget=st.integers(min_value=1, max_value=2500),
)
@settings(max_examples=200)
def test_greedy_pack_invariants(sizes, budget):
    bins = greedy_reference(sizes, budget)
    # every kept bin's total stays strictly under budget (check_sample's
    # len >= 8000 rule can never fire on a packed bin)
    totals: dict[int, int] = {}
    for s, b in zip(sizes, bins):
        if b >= 0:
            totals[b] = totals.get(b, 0) + s
    assert all(t < budget for t in totals.values())
    # bin ids are contiguous non-decreasing over kept rows
    kept = [b for b in bins if b >= 0]
    assert kept == sorted(kept)
    if kept:
        assert set(kept) == set(range(max(kept) + 1))
    # at-or-over-size rows are exactly the skipped ones
    assert all((b == -1) == (s >= budget) for s, b in zip(sizes, bins))


# ---------------------------------------------------------- uniform sample


@given(n=st.integers(1, 400), k=st.sampled_from([1, 3, 8, 16]))
def test_uniform_sample_position_identity(n, k):
    """The SQL predicate (operators/sampling.py) selects exactly
    {floor(i*n/k)} when n > k."""
    expected = {i * n // k for i in range(k)}
    got = set()
    for rn in range(n):
        if n <= k:
            picked = True
        else:
            picked = math.floor(math.ceil(rn * k / n) * n / k) == rn
        if picked:
            got.add(rn)
    if n <= k:
        assert got == set(range(n))
    else:
        assert got == expected
        assert len(got) == k


# ------------------------------------------------------------- tokenization


@given(
    turns=st.lists(
        st.tuples(st.sampled_from(["human", "gpt"]), st.text(max_size=40)),
        max_size=6,
    )
)
def test_tokenize_conversation_invariants(turns):
    ids, mask = tokenize_conversation(turns)
    assert len(ids) == len(mask)
    assert ids[0] == BOS
    # loss mask is 1 only on gpt spans
    assert set(mask) <= {0, 1}
    if all(w == "human" for w, _ in turns):
        assert set(mask) == {0}


@given(
    records=st.lists(
        st.lists(st.integers(0, 100), min_size=1, max_size=20).map(
            lambda ids: ([BOS] + ids, [0] * (len(ids) + 1))
        ),
        min_size=1,
        max_size=8,
    )
)
def test_merge_packed_bos_dedup(records):
    ids, mask = merge_packed(records)
    assert len(ids) == len(mask)
    # exactly one leading BOS survives per non-first record dropped
    expected_len = sum(len(r[0]) for r in records) - (len(records) - 1)
    assert len(ids) == expected_len
    assert ids[0] == BOS


def test_check_sample_rules():
    ok = [BOS, 5, 6]
    assert check_sample(ok, [0, 0, 1], 0) is None
    assert check_sample(ok, [0, 0], 0) is not None
    assert check_sample(list(range(9000)), [0] * 9000, 0) is not None


# ------------------------------------------------------------- shard lists


@given(
    lo=st.integers(0, 30),
    width=st.integers(1, 4),
    span=st.integers(0, 40),
)
def test_expand_urls_brace_count(lo, width, span):
    hi = lo + span
    spec = f"s-{{{str(lo).zfill(width)}..{str(hi).zfill(width)}}}.tar"
    out = expand_urls(spec)
    assert len(out) == span + 1
    assert out[0] == f"s-{str(lo).zfill(max(width, len(str(lo))))}.tar"
    assert len(set(out)) == len(out)


def test_expand_paths_splits_only_a_string_spec(tmp_path):
    shard = str(tmp_path / "a,b.tar")
    open(shard, "wb").close()
    assert expand_paths([shard]) == [shard]
    assert expand_paths(str(tmp_path)) == [shard]
    assert expand_paths("/d/x.tar,/d/y.tar") == ["/d/x.tar", "/d/y.tar"]


@given(st.text(alphabet=st.characters(blacklist_characters="\x00"), max_size=30))
def test_base_plus_ext_total(path):
    """Never raises; when it matches, key+'.'+ext reconstructs the path."""
    key, ext = base_plus_ext(path)
    if key is not None:
        assert f"{key}.{ext}" == path


def test_detokenize_and_vocab():
    from video_data_pipeline_spark.functions.text import (
        detokenize,
        vocab_size_with_padding,
    )

    ids, mask = tokenize_conversation([("human", "hi"), ("gpt", "yo")], n_images=1)
    text = detokenize(ids)
    # reference detokenize spacing pads each special with spaces (runs of
    # consecutive specials produce runs of blanks) — compare token-wise
    assert text.split()[:3] == ["<s>", "<im_start>", "<im_patch>"]
    assert "</s>" in text.split()
    assert vocab_size_with_padding(32000, 128, 1) == 32000
    assert vocab_size_with_padding(32001, 128, 1) == 32128
    assert vocab_size_with_padding(100, 128, 8) == 1024


def test_special_token_scan_splice_counts():
    """Reference fixture: <image> expands to <im_start>+256*<im_patch>+
    <im_end> and the greedy scan splices exactly those ids around encoded
    words (index/check_pair.py:37-40 invariants)."""
    from video_data_pipeline_spark.functions.text import (
        IM_END,
        IM_PATCH,
        IM_START,
        check_sample,
        encode_text,
        expand_image_markers,
        tokenize_with_specials,
    )

    text = expand_image_markers("hello <image> brave new world")
    ids = tokenize_with_specials(text)
    assert ids.count(IM_START) == 1
    assert ids.count(IM_PATCH) == 256
    assert ids.count(IM_END) == 1
    # layout: hello, start, 256 patches, end, 3 words
    assert ids[0] == encode_text("hello")[0]
    assert ids[1] == IM_START
    assert ids[258] == IM_END
    assert ids[259:] == encode_text("brave new world")
    assert check_sample(ids, [0] * len(ids), n_images=1) is None
    # two images double the patch count, still balanced
    ids2 = tokenize_with_specials(expand_image_markers("<image><image>"))
    assert ids2.count(IM_PATCH) == 512
    assert check_sample(ids2, [0] * len(ids2), n_images=2) is None


def test_special_token_scan_earliest_and_ties():
    from video_data_pipeline_spark.functions.text import (
        detokenize_with_specials,
        tokenize_with_specials,
    )

    # earliest occurrence wins regardless of dict order
    specials = {"<b>": 101, "<a>": 100}
    assert tokenize_with_specials("<a>x<b>", specials, encode=lambda t: []) == [100, 101]
    # at the same index, the first special in dict order wins (reference
    # min(indices, key=indices.get) semantics): "ab" shadows prefix-shared
    # "abc" when listed first
    ids = tokenize_with_specials("abc", {"ab": 1, "abc": 2}, encode=lambda t: [])
    assert ids == [1]  # "ab" consumed first; trailing "c" encodes to []
    assert tokenize_with_specials("abc", {"abc": 2, "ab": 1}, encode=lambda t: []) == [2]
    # detokenize spacing: names spliced with spaces, outer strip
    out = detokenize_with_specials([7, 100, 8], {100: "<a>"}, decode=lambda r: "·".join(map(str, r)))
    assert out == "7 <a> 8"


def test_tokenizer_variants():
    """The four reference tokenizer classes (tokenizer.py:91,310,461,589)
    differ only in special-token registries; every variant tokenizes its
    own markers to single spliced ids and renders them back by name."""
    from video_data_pipeline_spark.functions.text import (
        VARIANT_SPECIALS,
        build_tokenizer,
    )

    assert set(VARIANT_SPECIALS) == {"sentencepiece", "stepmm", "stepchat", "llama2mm"}

    chat = build_tokenizer("stepchat")
    ids = chat.tokenize("<|BOT|>user says hi<|EOT|><|THINK_START|>mm<|THINK_END|>")
    specials = [i for i in ids if chat.is_special_token(i)]
    assert len(specials) == 4 and len(set(specials)) == 4
    text = chat.detokenize(ids)
    for marker in ("<|BOT|>", "<|EOT|>", "<|THINK_START|>", "<|THINK_END|>"):
        assert marker in text.split()

    mm = build_tokenizer("stepmm")
    dream_ids = mm.tokenize("<dream_start>a<dream_end>")
    assert sum(1 for i in dream_ids if mm.is_special_token(i)) == 2
    assert mm.vocab_size > build_tokenizer("llama2mm").vocab_size
    # special ids are contiguous from the vocab boundary and all < vocab_size
    # (the reference's next_id = len(self._vocab) convention)
    for variant in VARIANT_SPECIALS:
        tok = build_tokenizer(variant)
        ids = sorted(tok._specials.values())
        assert ids == list(range(32000, 32000 + len(ids)))
        assert all(i < tok.vocab_size for i in ids)

    # im-family ids stay at the published 32000-block across mm variants
    from video_data_pipeline_spark.functions.text import IM_PATCH

    assert IM_PATCH in build_tokenizer("llama2mm").tokenize("<im_patch>")

    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown tokenizer variant"):
        build_tokenizer("gpt5")
