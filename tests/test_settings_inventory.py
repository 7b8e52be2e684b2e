"""The environment settings the package reads are declared in one list.

README's "Settings" section names every variable the package reads for
itself. A new ``SPARK_GRAFT_*`` knob fails this test until it is added
there, and a listed one fails it once no code reads it any more.
"""

from __future__ import annotations

import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent


def _listed() -> set[str]:
    text = (ROOT / "README.md").read_text()
    section = text.split("\n## Settings\n", 1)[1].split("\n## ", 1)[0]
    return set(re.findall(r"^- `([A-Z0-9_]+)`", section, re.MULTILINE))


def _package_source() -> str:
    pkg = ROOT / "video_data_pipeline_spark"
    return "\n".join(p.read_text() for p in sorted(pkg.rglob("*.py")))


def test_package_reads_exactly_the_listed_spark_graft_settings():
    listed = _listed()
    read = set(re.findall(r"SPARK_GRAFT_[A-Z0-9_]+", _package_source()))
    assert read == {n for n in listed if n.startswith("SPARK_GRAFT_")}


def test_every_listed_setting_is_read():
    source = _package_source()
    listed = _listed()
    assert "SPARK_DRIVER_MEMORY" in listed
    assert [n for n in sorted(listed) if f'"{n}"' not in source] == []
