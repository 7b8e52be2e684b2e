"""Text/tokenizer function library.

The reference tokenizes with SentencePiece models plus hand-spliced special
tokens (tokenize/tokenizer.py:651-686, tokenize/main.py:94-147). The model
file isn't shippable here, so the engine exposes:

- a **deterministic hash tokenizer** (word → 60-bit md5 hash mod vocab) as
  the default executor kernel — engine-portable, oracle-checkable;
- a **SentencePiece wrapper** gated behind import, lazily initialized once
  per executor (the broadcast-model pattern), drop-in replaceable.

Special-token semantics (``<im_start>``/``<im_patch>``/``<im_end>``,
loss-mask rules) are pure Python here and shared by both tokenizers.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

try:  # pragma: no cover - not in this container
    import sentencepiece  # type: ignore  # noqa: F401

    HAVE_SENTENCEPIECE = True
except Exception:  # noqa: BLE001
    HAVE_SENTENCEPIECE = False

#: special token ids (tokenize/main.py:32, index/check_pair.py:38-40)
IM_PATCH = 32000
IM_START = 32001
IM_END = 32002
BOS = 1
EOS = 2
N_PATCHES = 256  # <im_patch> repetitions per image (tokenize/main.py:32)

VOCAB = 32000


def hash_token_id(word: str) -> int:
    """Stable 60-bit md5 → id in [3, VOCAB) (0..2 reserved)."""
    h = int(hashlib.md5(word.encode("utf-8")).hexdigest()[:15], 16)
    return 3 + (h % (VOCAB - 3))


def encode_text(text: str) -> list[int]:
    """Whitespace hash-tokenize (the SentencePiece stand-in)."""
    return [hash_token_id(w) for w in text.split()]


def add_image_tokens(ids: list[int], n_images: int) -> list[int]:
    """Prepend per-image special blocks: <im_start> + 256·<im_patch> +
    <im_end> (tokenize/main.py:94-112 applied in id space)."""
    block = [IM_START] + [IM_PATCH] * N_PATCHES + [IM_END]
    return block * n_images + ids


def tokenize_conversation(
    turns: list[tuple[str, str]], n_images: int = 0
) -> tuple[list[int], list[int]]:
    """BOS + per-turn encode; EOS after gpt turns; loss_mask 0 for human /
    1 for gpt (tokenize/main.py:132-147)."""
    ids: list[int] = [BOS]
    mask: list[int] = [0]
    if n_images:
        img = add_image_tokens([], n_images)
        ids += img
        mask += [0] * len(img)
    for who, text in turns:
        toks = encode_text(text)
        if who == "gpt":
            toks = toks + [EOS]
            mask += [1] * len(toks)
        else:
            mask += [0] * len(toks)
        ids += toks
    return ids, mask


def merge_packed(records: list[tuple[list[int], list[int]]]) -> tuple[list[int], list[int]]:
    """Merge bin-packed samples dropping each non-first record's duplicated
    BOS (``save_to_tar`` slice semantics, tokenize/main.py:76-79)."""
    ids: list[int] = []
    mask: list[int] = []
    for i, (r_ids, r_mask) in enumerate(records):
        if i == 0:
            ids += r_ids
            mask += r_mask
        else:
            ids += r_ids[1:]
            mask += r_mask[1:]
    return ids, mask


def tokenize_text(text: str | None) -> tuple[list[int], list[int]]:
    """One sample's text as the gpt turn after an empty human turn."""
    return tokenize_conversation([("human", ""), ("gpt", text or "")])


def tokenize_batch(
    it: Iterator[pd.DataFrame], text_col: str = "text"
) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: text → (input_ids, loss_mask, n_tokens)."""
    for pdf in it:
        ids_col, mask_col = [], []
        for text in pdf[text_col]:
            ids, mask = tokenize_text(text)
            ids_col.append(ids)
            mask_col.append(mask)
        out = pdf.copy()
        out["input_ids"] = ids_col
        out["loss_mask"] = mask_col
        out["n_tokens"] = [len(x) for x in ids_col]
        yield out


def check_sample(input_ids: list[int], loss_mask: list[int], n_images: int) -> str | None:
    """Index-stage invariants (index/check_pair.py:37-40); returns the
    violated rule or None."""
    if len(input_ids) != len(loss_mask):
        return "len(input_ids) != len(loss_mask)"
    if len(input_ids) >= 8000:
        return "len(input_ids) >= 8000"
    if input_ids.count(IM_START) != input_ids.count(IM_END):
        return "unbalanced <im_start>/<im_end>"
    if input_ids.count(IM_PATCH) != N_PATCHES * n_images:
        return "count(<im_patch>) != 256 * n_images"
    return None


_SPECIAL_NAMES = {
    BOS: "<s>",
    EOS: "</s>",
    IM_PATCH: "<im_patch>",
    IM_START: "<im_start>",
    IM_END: "<im_end>",
}

#: text-form special tokens for the scan (tokenize/tokenizer.py:613-628 set)
SPECIAL_TOKENS = {
    "<im_start>": IM_START,
    "<im_patch>": IM_PATCH,
    "<im_end>": IM_END,
}


def tokenize_with_specials(
    text: str,
    specials: dict[str, int] | None = None,
    encode=encode_text,
) -> list[int]:
    """The reference's greedy earliest-special scan
    (tokenize/tokenizer.py:650-672), tokenizer-agnostic: repeatedly find
    the earliest special-token substring, base-encode the text before it,
    splice the special id, continue past it. Ties at the same index
    resolve to the first special in dict order (the reference's
    ``min(indices, key=indices.get)``). Only the base ``encode`` differs
    between the hash stand-in and SentencePiece (``sp.encode_as_ids``)."""
    specials = SPECIAL_TOKENS if specials is None else specials
    ids: list[int] = []
    idx = 0
    while True:
        indices: dict[str, int] = {}
        for token in specials:
            found = text.find(token, idx)
            if found != -1:
                indices[token] = found - idx
        if not indices:
            break
        next_token = min(indices, key=indices.get)
        next_idx = idx + indices[next_token]
        ids.extend(encode(text[idx:next_idx]))
        ids.append(specials[next_token])
        idx = next_idx + len(next_token)
    ids.extend(encode(text[idx:]))
    return ids


def detokenize_with_specials(
    ids: list[int],
    inv_specials: dict[int, str] | None = None,
    decode=None,
) -> str:
    """The reference's detokenize spacing (tokenize/tokenizer.py:674-686):
    decoded runs and special-token names joined with single spaces, outer
    whitespace stripped. ``decode`` renders a run of ordinary ids (for the
    hash tokenizer that's placeholder rendering; for SentencePiece,
    ``sp.decode_ids``)."""
    inv = _SPECIAL_NAMES if inv_specials is None else inv_specials
    if decode is None:
        decode = lambda run: " ".join(f"⟨{i}⟩" for i in run)  # noqa: E731
    text = ""
    last_i = 0
    for i, tid in enumerate(ids):
        if tid in inv:
            text += decode(ids[last_i:i]) + " "
            text += inv[tid] + " "
            last_i = i + 1
    text += decode(ids[last_i:])
    return text.strip()


def expand_image_markers(text: str, n_patches: int = N_PATCHES) -> str:
    """``<image>`` → ``<im_start>`` + 256·``<im_patch>`` + ``<im_end>`` in
    text form (tokenize/main.py:94-112 preprocessing before the scan)."""
    return text.replace("<image>", "<im_start>" + "<im_patch>" * n_patches + "<im_end>")


def detokenize(ids: list[int]) -> str:
    """Inverse rendering for inspection (reference ``detokenize``,
    tokenize/tokenizer.py:675-686, used by the index golden dump).

    The hash tokenizer is one-way, so ordinary ids render as ``⟨id⟩``
    placeholders while special tokens render by name — enough to audit
    structure (BOS/EOS placement, image blocks, masking spans), which is
    what the reference's golden dump checks."""
    return detokenize_with_specials(ids)


#: the reference's four tokenizer variants (tokenize/tokenizer.py classes)
#: differ ONLY in their special-token registries — the scan/splice logic
#: is identical. Ids are assigned sequentially from the vocab boundary,
#: matching the reference's convention of specials living past the base
#: vocab (<im_patch>=32000 etc.).
VARIANT_SPECIALS: dict[str, list[str]] = {
    # SentencePieceTokenizer (tokenizer.py:91): no extra specials
    "sentencepiece": [],
    # StepmmTokenizer (tokenizer.py:310): image + dream token family
    "stepmm": [
        "<im_patch>", "<im_start>", "<im_end>",
        "<dream>", "<dream_start>", "<dream_end>",
    ],
    # StepChatTokenizer (tokenizer.py:461): turn/call/think/img markers
    "stepchat": [
        "<|BOT|>", "<|EOT|>",
        "<|CALL_START|>", "<|CALL_END|>",
        "<|THINK_START|>", "<|THINK_END|>",
        "<|IMG_START|>", "<|IMG_END|>",
    ],
    # Llama2mmTokenizer (tokenizer.py:589): image family only
    "llama2mm": ["<im_patch>", "<im_start>", "<im_end>"],
}


class HashTokenizer:
    """Engine-portable tokenizer implementing the reference's
    AbstractTokenizer surface (tokenizer.py:27-89) over the hash encoder:
    tokenize/detokenize with variant special splicing, vocab_size,
    bos/eos/pad/unk ids. The SentencePiece-backed classes share exactly
    this shape with only the base encode swapped."""

    def __init__(self, name: str, specials: dict[str, int]):
        self.name = name
        self._specials = dict(specials)
        self._inv_specials = {v: k for k, v in self._specials.items()}

    @property
    def vocab_size(self) -> int:
        return VOCAB + len(self._specials)

    def tokenize(self, text: str) -> list[int]:
        return tokenize_with_specials(text, self._specials, encode_text)

    def detokenize(self, ids: list[int]) -> str:
        inv = dict(_SPECIAL_NAMES)
        inv.update(self._inv_specials)
        return detokenize_with_specials(ids, inv)

    def is_special_token(self, idx: int) -> bool:
        return idx in self._inv_specials or idx in _SPECIAL_NAMES

    @property
    def bos(self) -> int:
        return BOS

    @property
    def eod(self) -> int:
        return EOS

    @property
    def pad(self) -> int:
        return 0


def build_tokenizer(variant: str, model_file: str | None = None):
    """The reference's tokenizer dispatch: pick the variant's special-token
    registry; SentencePiece-backed when a model file is given AND the lib
    exists, hash-backed otherwise (same surface either way)."""
    if variant not in VARIANT_SPECIALS:
        raise ValueError(
            f"unknown tokenizer variant {variant!r}; one of {sorted(VARIANT_SPECIALS)}"
        )
    names = VARIANT_SPECIALS[variant]
    specials = dict(SPECIAL_TOKENS) if variant != "stepchat" else {}
    # contiguous id assignment from the vocab boundary: next_id advances
    # only when a token is actually added (the reference's
    # next_id = len(self._vocab) convention), so every special id is
    # < vocab_size with no gaps even when some names were pre-seeded.
    for tok in names:
        if tok not in specials:
            specials[tok] = VOCAB + len(specials)
    if model_file is not None and HAVE_SENTENCEPIECE:  # pragma: no cover
        return SentencePieceTokenizer(model_file, specials)
    return HashTokenizer(variant, specials)


class SentencePieceTokenizer:
    """SentencePiece-backed tokenizer with the reference's special-token
    splice semantics (tokenize/tokenizer.py:600-686).

    The scan/detokenize logic is the generic, tested
    :func:`tokenize_with_specials` / :func:`detokenize_with_specials`;
    ONLY the base ``sp.encode_as_ids`` / ``sp.decode_ids`` need the
    sentencepiece library + model file, so environments without them still
    exercise the full special-token semantics through the hash tokenizer."""

    def __init__(self, model_path: str, specials: dict[str, int] | None = None):
        if not HAVE_SENTENCEPIECE:  # pragma: no cover - environment-dependent
            raise NotImplementedError(
                "sentencepiece is not installed; the hash tokenizer path "
                "(tokenize_with_specials + encode_text) is the stand-in"
            )
        import sentencepiece as spm  # pragma: no cover

        self._sp = spm.SentencePieceProcessor(model_file=model_path)  # pragma: no cover
        self._specials = dict(specials or SPECIAL_TOKENS)  # pragma: no cover
        self._inv = {v: k for k, v in self._specials.items()}  # pragma: no cover

    def tokenize(self, text: str) -> list[int]:  # pragma: no cover
        return tokenize_with_specials(text, self._specials, self._sp.encode_as_ids)

    def detokenize(self, ids: list[int]) -> str:  # pragma: no cover
        return detokenize_with_specials(ids, self._inv, self._sp.decode_ids)

    @property
    def vocab_size(self) -> int:  # pragma: no cover
        return self._sp.vocab_size()


def vocab_size_with_padding(
    vocab_size: int, divisor: int = 128, tp_size: int = 1
) -> int:
    """Round vocab up to a multiple of (divisor × tensor-parallel size)
    (tokenize/tokenizer.py:11-24)."""
    multiple = divisor * tp_size
    return ((vocab_size + multiple - 1) // multiple) * multiple
