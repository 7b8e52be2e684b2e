"""SparkSession factory tuned for this engine.

The reference hand-manages parallelism (64 joblib workers × 8 machines,
``/root/reference/pack/pack.py:293-298,315-318``); here the equivalent knobs
are Spark configs. Defaults target local[N] testing but are chosen to scale:
AQE handles runtime partition coalescing and skew joins, Arrow accelerates
every Pandas-UDF boundary, and shuffle partitions default to the core count
instead of Spark's legacy 200.

The driver JVM starts from a class-data-sharing (CDS) archive: the first
launch on a host writes a dynamic AppCDS archive of the classes it loaded
when it exits, and every later launch maps those classes pre-parsed and
pre-verified instead of loading each again (see :func:`cds_status`).
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import subprocess
import sys

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "video_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Env overrides:

    - ``SPARK_GRAFT_CPUS``: local core count and the default shuffle
      partition count (default: ``os.cpu_count()``).
    - ``SPARK_GRAFT_AQE_MIN_PARTITION``: AQE's coalescing floor,
      ``spark.sql.adaptive.coalescePartitions.minPartitionSize``
      (default ``256k``).
    - ``SPARK_DRIVER_MEMORY``: ``spark.driver.memory`` (default ``16g``).
    - ``SPARK_GRAFT_WAREHOUSE``: ``spark.sql.warehouse.dir`` (default
      ``/tmp/vdps-warehouse``).

    A call that launches the driver JVM starts it from the host's CDS
    archive, or has it write one at exit (:func:`cds_status`); the flags go
    in front of ``extra_conf``'s ``spark.driver.extraJavaOptions``.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 8
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # r16 perf: AQE's parallelism-first coalescing targets
        # total/defaultParallelism bytes per partition, but the stock
        # 1 MiB minPartitionSize floor overrides that whenever a shuffle
        # is byte-small — and this engine's text fronts are exactly that:
        # a few MB of documents whose per-row work (shingling, md5 per
        # shingle, array intersections) is thousands of CPU cycles per
        # byte. Measured at sf0.1: the stock floor coalesced those stages
        # to 1-5 partitions, serializing multi-second compute onto one
        # core (perf_probe: ~1.0 effective cores on a 32-core master).
        # Value chosen by two same-tree env-flip ABBA A/Bs
        # (tools/env_ab.py at 79da2d5, now tools/ab.py VAR=VALUE arms;
        # OPTIMIZATION_r16.md §aqe-floor): 64k freed the compute-dense
        # families (simjoin family 0.57× vs stock) but over-split the
        # byte-tiny shuffles of iterative/sketch queries (q_countmin_freq
        # 2.5×, q_segment_dedup 1.9×, q_pagerank 1.5× — 32 near-empty
        # tasks per stage, pure scheduling overhead); 256k kept the family
        # wins (their ~9-14 MB exchanges split to ~300-440 KB per
        # partition at parallelism 32, above this floor) while coalescing
        # the tiny shuffles again (countmin/segment/pagerank recovered,
        # 0.93× overall vs 64k). At production shuffle sizes partitions
        # sit far above either floor, so the setting only binds where the
        # stock floor was the bug. Env-overridable for cluster profiles.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION", "256k"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # A binding cap must announce itself. When a stage comes back
        # empty, AQE's AQEPropagateEmptyRelation swaps the subtree above
        # it for an empty relation, and with it the CollectMetrics node
        # that ran inside: the cap observation is lost exactly when the
        # cap drops every pair (prefix-filter cap 1 at sf0.001: 0 rows,
        # no CapDivergenceWarning, Observation.get raising). Without the
        # rule the empty stages still run, on no rows, and all five
        # counters arrive.
        .config(
            "spark.sql.adaptive.optimizer.excludedRules",
            "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation",
        )
        # r18 perf: Spark caches the classes it compiles from generated
        # code in one per-JVM LRU of codegen.cache.maxEntries entries
        # (stock 100), keyed by the generated source. The registry's
        # working set is far above that: the four capped-front curation
        # queries alone need 136 distinct classes at sf0.001, one sweep of
        # all 185 queries 2,033. At the stock cap each repeat evicted the
        # classes the next query needed, so every curation pass recompiled
        # 107-109 classes (Janino, class loading and JIT of the new
        # classes) and a second registry sweep recompiled 3,101. At 4096 a
        # repeat compiles 0 (curation) and 48 (sweep; OPTIMIZATION_r18.md
        # names the plans whose source changes from run to run), with
        # metaspace at ~200 MB either way. Static conf: it binds when the
        # JVM's first session is built; extra_conf can still override it.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # local mode: driver is the only JVM; give it headroom if available
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        # Broadcast policy, two tiers: the STATIC threshold decides from
        # size ESTIMATES (compressed parquet bytes x column pruning), which
        # underestimate in-memory hash-relation size ~5-10x and GROW with
        # the data — at 100x bench scale a 15M-row fact slipped under 64 MB
        # and a 65 s broadcast build resulted. AQE cannot demote a static
        # broadcast, so keep the static tier conservative (true dimensions
        # only) and let AQE's runtime-accurate threshold promote anything
        # that's genuinely small once its real shuffle bytes are known.
        .config("spark.sql.autoBroadcastJoinThreshold", str(16 * 1024 * 1024))
        .config(
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            str(64 * 1024 * 1024),
        )
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/vdps-warehouse"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    java_opts = (extra_conf or {}).get("spark.driver.extraJavaOptions", "")
    spark = _get_or_create(builder, java_opts)
    spark.sparkContext.setLogLevel("WARN")
    return spark


#: caller Java options that manage class-data sharing themselves
_CDS_CALLER_FLAGS = ("-Xshare", "SharedArchiveFile", "ArchiveClassesAtExit")
#: how long the exit hook waits for the driver JVM to exit: writing the
#: archive (~12k classes, 140-180 MB) took 10-25 s on 4 vCPUs
_CDS_DUMP_WAIT_S = 180
#: how get_spark launched this process's driver JVM (:func:`cds_status`)
_CDS: dict = {}


def cds_dir() -> str:
    """Where the driver JVM's CDS archive, its log and an empty Spark conf
    dir live: ``$XDG_CACHE_HOME/video_data_pipeline_spark/cds``, under
    ``~/.cache`` when the variable is unset. Not under ``TMPDIR``, which
    callers may delete at exit. ``rm -r`` the directory to drop the
    archive; the next launch builds a new one."""
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache"
    )
    return os.path.join(cache, "video_data_pipeline_spark", "cds")


def _cds_key(spark_home: str, conf_dir: str) -> str | None:
    """Digest of what a dynamic archive is only valid for: the JDK
    (``java.home`` and its ``release`` file, which names the version), the
    driver classpath (each jar's name, size and mtime) and the conf dir.
    None when no ``java`` is found (the launch then fails on its own)."""
    java_home = os.environ.get("JAVA_HOME")  # as bin/spark-class picks java
    if not java_home:
        java = shutil.which("java")
        if java is None:
            return None
        java_home = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    parts = [os.path.realpath(java_home), conf_dir]
    try:
        with open(os.path.join(java_home, "release")) as f:
            parts.append(f.read())
    except OSError:
        pass
    jars = os.path.join(spark_home, "jars")
    for name in sorted(os.listdir(jars)):
        st = os.stat(os.path.join(jars, name))
        parts.append(f"{name}:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.sha1("\n".join(parts).encode()).hexdigest()[:16]


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _unlink(path: str) -> None:
    try:
        os.unlink(path)
    except FileNotFoundError:
        pass


def _cds_launch_plan(java_opts: str) -> dict | None:
    """How the next launch of the driver JVM uses the CDS archive; None when
    this process already has its JVM.

    The plan holds ``flags`` (for ``spark.driver.extraJavaOptions``), the
    ``archive`` to map or the ``part`` file to write at exit, the ``log``
    the JVM writes its CDS lines to, and the empty ``conf`` dir the JVM
    takes as ``SPARK_CONF_DIR``: JDK 17 refuses to write an archive while a
    non-empty directory is on the classpath, and Spark's conf dir is on it.
    Without ``flags`` it holds the ``skipped`` reason instead:

    - the JVM was started outside this process (``PYSPARK_GATEWAY_PORT``);
    - the caller's Java options already manage sharing (``-Xshare``,
      ``SharedArchiveFile``, ``ArchiveClassesAtExit``);
    - the conf dir holds a file other than ``*.template``;
    - the cache dir cannot be written;
    - another live process is writing this key's archive.

    An archive is named ``<key>.<size>.jsa``; one whose size differs from
    its name (truncated) is deleted here, since JDK 17 crashes mapping a
    truncated archive rather than refusing it. Part files of dead
    processes are deleted too.
    """
    from pyspark import SparkContext
    from pyspark.find_spark_home import _find_spark_home

    if SparkContext._gateway is not None:
        return None
    if "PYSPARK_GATEWAY_PORT" in os.environ:
        return {"skipped": "the driver JVM was started outside this process"}
    opts = " ".join(
        [java_opts] + [os.environ.get(v, "") for v in ("JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS")]
    )
    if any(flag in opts for flag in _CDS_CALLER_FLAGS):
        return {"skipped": "the caller's Java options manage class-data sharing"}
    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    if os.path.isdir(conf_dir) and any(
        not name.endswith(".template") for name in os.listdir(conf_dir)
    ):
        return {"skipped": f"{conf_dir} holds configuration"}
    cache = cds_dir()
    try:
        os.makedirs(os.path.join(cache, "conf"), exist_ok=True)
        names = os.listdir(cache)
    except OSError:
        names = []
    if not os.access(cache, os.W_OK):
        return {"skipped": f"{cache} cannot be written"}
    key = _cds_key(spark_home, conf_dir)
    if key is None:
        return {"skipped": "no java found"}
    plan = {
        "cache": cache,
        "key": key,
        "conf": os.path.join(cache, "conf"),
        "log": os.path.join(cache, f"{key}.log"),
    }
    building = False
    for name in names:
        path = os.path.join(cache, name)
        stem, _, ext = name.rpartition(".")
        name_key, _, number = stem.partition(".")
        if ext == "part" and number.isdigit() and not _pid_alive(int(number)):
            _unlink(path)
        elif name_key != key:
            continue
        elif ext == "part":
            building = True
        elif ext == "jsa":
            if number.isdigit() and os.path.getsize(path) == int(number):
                plan["archive"] = path
            else:
                _unlink(path)
    if "archive" in plan:
        share = f"-XX:SharedArchiveFile={plan['archive']}"
    elif building:
        return {"skipped": "another process is writing the archive"}
    else:
        plan["part"] = os.path.join(cache, f"{key}.{os.getpid()}.part")
        share = f"-XX:ArchiveClassesAtExit={plan['part']}"
    # CDS lines go to the log only: a dump's hundreds of warnings would
    # otherwise land on stdout, after the caller's own last line
    plan["flags"] = (
        f"{share} -Xlog:cds*=off -Xlog:cds*=warning,cds=info,cds+dynamic=info"
        f":file={plan['log']}:pid,uptime,level,tags"
    )
    return plan


def _get_or_create(builder, java_opts: str) -> SparkSession:
    """``builder.getOrCreate()``. A launch with CDS flags puts them in front
    of the caller's ``java_opts`` and gives the JVM the plan's empty conf
    dir; it then records the JVM's ``outcome`` (:func:`cds_status`) and
    deletes an archive the JVM refused, or registers the exit hook that
    puts the archive it writes in place."""
    from pyspark import SparkContext

    plan = _cds_launch_plan(java_opts)
    if plan is None:
        return builder.getOrCreate()
    _CDS.clear()
    _CDS.update(plan)
    if "flags" not in plan:
        return builder.getOrCreate()
    builder = builder.config(
        "spark.driver.extraJavaOptions", f"{plan['flags']} {java_opts}".strip()
    )
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = plan["conf"]
    try:
        spark = builder.getOrCreate()
    finally:
        if saved is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    proc = SparkContext._gateway.proc
    _CDS["pid"] = proc.pid
    # the JVM maps (or refuses) the archive before it opens the gateway, so
    # its log already tells; read it now, before later launches rotate it
    lines = _cds_log(_CDS)
    if not lines:
        _CDS["outcome"] = "unused"
    elif "part" in plan:
        _CDS["outcome"] = "building"
        atexit.register(_finish_archive, dict(_CDS), proc, os.getpid())
    elif any("Mapped dynamic region" in line for line in lines):
        _CDS["outcome"] = "mapped"
    else:
        _CDS["outcome"] = "refused"
        _unlink(plan["archive"])
    return spark


def _cds_log(plan: dict) -> list[str]:
    """The CDS log lines of ``plan``'s JVM (the JVM rotates the log at
    start, so a later launch may have moved them to ``<log>.N``)."""
    tag = f"[{plan['pid']}]"
    lines: list[str] = []
    for path in [plan["log"]] + [f"{plan['log']}.{i}" for i in range(5)]:
        try:
            with open(path, errors="replace") as f:
                lines.extend(line for line in f if tag in line)
        except FileNotFoundError:
            pass
    return lines


def cds_status() -> str:
    """How this process's driver JVM, when :func:`get_spark` launched it,
    used the CDS archive:

    - ``mapped``: it started from the archive;
    - ``refused``: it was given the archive, and its CDS log shows it did
      not map it (get_spark then deleted it, so the next launch rebuilds);
    - ``building``: no archive existed; the JVM writes one when it exits,
      and an exit hook of this process waits for it and renames it into
      place;
    - ``unused``: it was given CDS flags, but its CDS log has no line, so
      the flags never reached the JVM;
    - ``skipped: <reason>``: a skip rule held (:func:`_cds_launch_plan`);
    - ``""``: get_spark did not launch this process's driver JVM.
    """
    if "skipped" in _CDS:
        return f"skipped: {_CDS['skipped']}"
    return _CDS.get("outcome", "")


def _finish_archive(plan: dict, proc, owner: int) -> None:
    """Exit hook of a process whose JVM writes the archive: stop Spark,
    wait for the JVM to exit (it writes the archive as it exits), then
    rename the part file into place and delete other keys' archives and
    logs. The part file never outlives this hook."""
    if os.getpid() != owner:  # a forked child exiting
        return
    from pyspark import SparkContext

    part = plan["part"]
    try:
        if proc.poll() is None:
            if SparkContext._active_spark_context is not None:
                SparkContext._active_spark_context.stop()
            SparkContext._gateway.shutdown()
            proc.stdin.close()  # the gateway JVM exits on EOF on its stdin
            try:
                proc.wait(timeout=_CDS_DUMP_WAIT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        written = proc.returncode == 0 and any(
            "Written dynamic archive" in line for line in _cds_log(plan)
        )
        if written and os.path.exists(part):
            archive = f"{plan['key']}.{os.path.getsize(part)}.jsa"
            os.replace(part, os.path.join(plan["cache"], archive))
            for name in os.listdir(plan["cache"]):
                if not name.startswith(plan["key"] + ".") and (
                    name.endswith(".jsa") or ".log" in name
                ):
                    _unlink(os.path.join(plan["cache"], name))
    finally:
        _unlink(part)


def gate_zip_invalidation() -> None:
    """Make ``importlib.invalidate_caches()`` skip zip archives that did not
    change since this process last read them.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
    every task (``pyspark/worker_util.py::setup_spark_files``). Before
    CPython 3.13 that makes every ``zipimporter`` re-read its archive's
    whole central directory: 16-17 of them in a worker (one per subpackage
    path of ``pyspark.zip``, the py4j zip, the Spark jar and the shipped
    package zip), 0.15-0.3 s of every task on a reused worker. The gated
    method re-reads an archive only when its ``(mtime_ns, size, inode)``
    differs from the last read recorded here, or ``stat`` fails: the
    freshness rule ``FileFinder`` applies to directories, so a rewritten
    archive is still picked up. On a skip the instance takes the listing of
    that last read, so a sibling instance of the same archive never keeps
    an older one. Idempotent; 3.13 made the stock call lazy, so there it is
    left alone.
    """
    if sys.version_info >= (3, 13):
        return
    import zipimport

    stock = zipimport.zipimporter.invalidate_caches
    if getattr(stock, "_stat_gated", False):
        return
    # archive -> (stat key taken before the read, listing it read); one
    # pair per assignment, so concurrent callers never mix two reads
    last_read: dict[str, tuple[tuple[int, int, int], dict]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return stock(self)
        key = (st.st_mtime_ns, st.st_size, st.st_ino)
        seen = last_read.get(self.archive)
        if seen is not None and seen[0] == key:
            self._files = seen[1]
            return
        stock(self)
        last_read[self.archive] = (key, self._files)

    invalidate_caches._stat_gated = True
    invalidate_caches.__wrapped__ = stock
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_SHIPPED: set[int] = set()


def ensure_shipped(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via ``addPyFile``.

    Closures sent to ``mapInPandas``/``applyInPandas`` reference module
    functions by name; workers unpickle them by importing the module —
    which fails whenever the driver's cwd isn't the repo root (cloudpickle
    pickles importable modules by reference). Zipping the package once per
    session and ``addPyFile``-ing it makes every UDF path location-
    independent — the same mechanism that ships the package to a real
    cluster's executors.
    """
    key = id(spark)
    if key in _SHIPPED:
        return
    import hashlib
    import tempfile
    import zipfile

    import video_data_pipeline_spark as pkg

    pkg_dir = os.path.dirname(os.path.abspath(pkg.__file__))
    files = sorted(
        os.path.join(dp, f)
        for dp, _, fns in os.walk(pkg_dir)
        for f in fns
        if f.endswith(".py")
    )
    stamp = hashlib.md5(
        "".join(f"{p}:{os.path.getmtime(p)}" for p in files).encode()
    ).hexdigest()[:12]
    zip_path = os.path.join(tempfile.gettempdir(), f"vdps_pkg_{stamp}.zip")
    if not os.path.exists(zip_path):
        # a temp file of this call's own: processes shipping one stamp at
        # once each build theirs, and the last os.replace wins
        fd, tmp = tempfile.mkstemp(
            prefix=os.path.basename(zip_path) + ".", dir=os.path.dirname(zip_path)
        )
        with os.fdopen(fd, "wb") as f, zipfile.ZipFile(f, "w") as zf:
            for p in files:
                zf.write(p, os.path.join("video_data_pipeline_spark", os.path.relpath(p, pkg_dir)))
        os.chmod(tmp, 0o644)  # mkstemp's 0600 would hide it from other users
        os.replace(tmp, zip_path)
    spark.sparkContext.addPyFile(zip_path)
    _SHIPPED.add(key)


