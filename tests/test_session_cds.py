"""The driver JVM's class-data-sharing archive (``session.get_spark``,
``session.cds_status``): its life cycle across fresh processes, and the
skip rules. Each case runs a fresh process with its own cache dir."""

from __future__ import annotations

import glob
import os
import subprocess
import sys

import pytest

pytestmark = pytest.mark.slow  # every case starts one or more driver JVMs

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = """
import sys
from video_data_pipeline_spark.session import cds_status, get_spark
spark = get_spark("cds-test", extra_conf={"spark.driver.extraJavaOptions": sys.argv[1]})
print("status", cds_status())
print("opts", spark.sparkContext.getConf().get("spark.driver.extraJavaOptions"))
print("rows", spark.range(3).count())
"""


def run(cache: str, java_opts: str = "-XX:TieredStopAtLevel=1", **env) -> tuple[str, str]:
    """(``cds_status()``, the driver's Java options) of a fresh process;
    asserts its stdout holds only the script's own lines."""
    full_env = {k: v for k, v in os.environ.items()
                if k not in ("SPARK_CONF_DIR", "PYSPARK_GATEWAY_PORT")}
    full_env.update(XDG_CACHE_HOME=cache, SPARK_DRIVER_MEMORY="1g", **env)
    out = subprocess.run(
        [sys.executable, "-c", SCRIPT, java_opts], cwd=REPO, env=full_env,
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = out.stdout.splitlines()
    assert [line.split(" ", 1)[0] for line in lines] == ["status", "opts", "rows"], lines
    assert lines[2] == "rows 3"
    return lines[0].split(" ", 1)[1], lines[1].split(" ", 1)[1]


def archives(cds: str) -> list[str]:
    """The archives in ``cds``, each checked against the size in its name;
    asserts no part file is left."""
    assert glob.glob(os.path.join(cds, "*.part")) == []
    found = sorted(glob.glob(os.path.join(cds, "*.jsa")))
    for path in found:
        assert os.path.getsize(path) == int(path.rsplit(".", 2)[1]), path
    return found


def test_archive_is_built_mapped_refused_and_rebuilt(tmp_path):
    cache = str(tmp_path / "cache")
    cds = os.path.join(cache, "video_data_pipeline_spark", "cds")
    os.makedirs(cds)
    other_key = os.path.join(cds, "0123456789abcdef.5.jsa")
    with open(other_key, "wb") as f:
        f.write(b"stale")

    # 1. no archive: the JVM writes one as it exits; the exit hook waits
    # for it and renames it into place, dropping the other key's archive
    status, opts = run(cache)
    assert status == "building"
    # the CDS flags go in front of the caller's options (Spark puts its own
    # defaults in front of both)
    assert opts.index("-XX:ArchiveClassesAtExit=") < opts.index("-XX:TieredStopAtLevel=1")
    [archive] = archives(cds)
    good = archive + ".good"
    os.link(archive, good)

    # 2. the next start maps it, per its CDS log
    status, opts = run(cache)
    assert status == "mapped" and f"-XX:SharedArchiveFile={archive} " in opts
    log = os.path.join(cds, os.path.basename(archive).split(".")[0] + ".log")
    with open(log) as f:
        assert "Mapped dynamic region" in f.read()

    # 3. an archive the JVM refuses (a bad header, right size) is deleted
    os.unlink(archive)
    with open(archive, "wb") as f:
        f.write(bytes(os.path.getsize(good)))
    assert run(cache)[0] == "refused"
    assert archives(cds) == []

    # 4. a truncated archive is dropped before launch (JDK 17 crashes
    # mapping one), so the start falls back and writes a new one
    with open(good, "rb") as src, open(archive, "wb") as dst:
        dst.write(src.read(1 << 20))
    os.unlink(good)
    assert run(cache)[0] == "building"
    [rebuilt] = archives(cds)
    assert run(cache)[0] == "mapped"
    assert archives(cds) == [rebuilt]


@pytest.mark.parametrize("case", ["caller-xshare", "real-conf-file"])
def test_skip_rules_add_no_cds_flag(tmp_path, case):
    cache = str(tmp_path / "cache")
    if case == "caller-xshare":
        status, opts = run(cache, "-Xshare:off")
        assert status == "skipped: the caller's Java options manage class-data sharing"
    else:
        conf = tmp_path / "conf"
        conf.mkdir()
        (conf / "spark-defaults.conf").write_text("spark.ui.enabled false\n")
        status, opts = run(cache, SPARK_CONF_DIR=str(conf))
        assert status == f"skipped: {conf} holds configuration"
    assert "SharedArchiveFile" not in opts and "ArchiveClassesAtExit" not in opts
    assert "-Xlog:cds" not in opts
    assert glob.glob(os.path.join(cache, "**", "*.jsa"), recursive=True) == []
