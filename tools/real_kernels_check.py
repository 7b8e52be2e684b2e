"""Report which import-gated real-kernel branches can run HERE (VERDICT r5 #6).

Several kernels are real code behind an import gate because the library is
absent in this container (installs are not permitted): PIL JPEG/TIFF
decode/encode, torch imagespecs + codec, SentencePiece tokenization,
msgpack codec, decord video metadata and ffmpeg/ffprobe keyframes. The
surrounding plumbing (schemas, batching, budgets, netpbm/png codecs) is
real and tested everywhere; this tool answers "which gated branches did
THIS environment actually exercise?" in one command:

    python tools/real_kernels_check.py          # probe + run available gated tests

Exit code 0 always (absence of an optional library is a report line, not a
failure); the JSON summary on the last line is machine-readable.
"""

from __future__ import annotations

import importlib
import json
import shutil
import subprocess
import sys

#: gated branch -> (python modules required, CLI binaries required,
#:                  pytest -k expression selecting its gated tests)
BRANCHES: dict[str, tuple[list[str], list[str], str | None]] = {
    "pil_jpeg_tiff": (["PIL.Image"], [], "jpeg or tiff or pil"),
    "torch_imagespec_codec": (["torch"], [], "torch"),
    "sentencepiece_tokenizer": (["sentencepiece"], [], "sentencepiece or sp_model"),
    "msgpack_codec": (["msgpack"], [], "msgpack"),
    "decord_video_meta": (["decord"], [], "decord"),
    "ffmpeg_keyframes": ([], ["ffprobe", "ffmpeg"], "ffprobe or ffmpeg"),
}


def probe(modules: list[str], binaries: list[str]) -> tuple[bool, str]:
    for m in modules:
        try:
            importlib.import_module(m)
        except ImportError:
            return False, f"module {m} absent"
    for b in binaries:
        if shutil.which(b) is None:
            return False, f"binary {b} absent"
    return True, "available"


def main() -> int:
    report: dict[str, dict] = {}
    runnable: list[str] = []
    for name, (mods, bins, k_expr) in BRANCHES.items():
        ok, why = probe(mods, bins)
        report[name] = {"available": ok, "detail": why}
        if ok and k_expr:
            runnable.append(k_expr)

    for name, info in sorted(report.items()):
        mark = "RUN " if info["available"] else "SKIP"
        print(f"{mark} {name:28s} {info['detail']}")

    if runnable:
        k = " or ".join(f"({e})" for e in runnable)
        print(f"\nrunning gated tests: pytest -k {k!r}")
        rc = subprocess.call(
            [sys.executable, "-m", "pytest", "tests/", "-q", "-k", k]
        )
        report["_gated_pytest_rc"] = rc
    else:
        print("\nno gated branches available in this environment; "
              "0 gated tests run (all remain hermetically faked)")

    print(json.dumps({"branches": report}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
