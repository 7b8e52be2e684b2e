"""``session.ensure_shipped``: the package zip the executors import from.

Processes that ship one package version at once each build the zip; each
must write through a temp file of its own, or one's ``os.replace`` moves
the file another is about to replace.
"""

from __future__ import annotations

import os
import tempfile
import types
import zipfile

from video_data_pipeline_spark import session


def _fake_spark(shipped: list[str]):
    return types.SimpleNamespace(
        sparkContext=types.SimpleNamespace(addPyFile=shipped.append)
    )


def test_concurrent_first_ships_write_through_distinct_temp_files(
    tmp_path, monkeypatch
):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(session, "_SHIPPED", set())
    shipped: list[str] = []
    sources: list[str] = []
    real_replace = os.replace

    def replace(src, dst):
        # the second build starts and finishes while the first one sits
        # between writing its temp file and moving it into place
        sources.append(src)
        if len(sources) == 1:
            session.ensure_shipped(_fake_spark(shipped))
        real_replace(src, dst)

    monkeypatch.setattr(os, "replace", replace)
    session.ensure_shipped(_fake_spark(shipped))

    assert len(sources) == 2 and sources[0] != sources[1]
    assert len(shipped) == 2 and shipped[0] == shipped[1]
    with zipfile.ZipFile(shipped[0]) as zf:
        assert "video_data_pipeline_spark/session.py" in zf.namelist()
    assert os.listdir(tmp_path) == [os.path.basename(shipped[0])]
