"""SparkSession factory tuned for this engine.

The reference hand-manages parallelism (64 joblib workers × 8 machines,
``/root/reference/pack/pack.py:293-298,315-318``); here the equivalent knobs
are Spark configs. Defaults target local[N] testing but are chosen to scale:
AQE handles runtime partition coalescing and skew joins, Arrow accelerates
every Pandas-UDF boundary, and shuffle partitions default to the core count
instead of Spark's legacy 200.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "video_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    query_warnings: bool | None = None,
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
    - ``SPARK_GRAFT_QUERY_WARNINGS``: the default of ``query_warnings``.

    ``query_warnings=True`` (or ``SPARK_GRAFT_QUERY_WARNINGS=1``) attaches
    the session-level warning listener
    (:func:`video_data_pipeline_spark.telemetry.install_query_warnings`):
    every query on the session then warns when a hot-bucket cap BINDS
    (capped-subset result) or spill crosses the pathology threshold —
    the probe tools' early warnings, in production use. Opt-in because it
    needs py4j's callback server (one extra socket + daemon thread).
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
        # Value chosen by two same-tree env-flip ABBA A/Bs (tools/env_ab.py,
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
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if query_warnings is None:
        query_warnings = os.environ.get("SPARK_GRAFT_QUERY_WARNINGS", "") not in (
            "", "0", "false",
        )
    if query_warnings:
        from video_data_pipeline_spark.telemetry import install_query_warnings

        install_query_warnings(spark)
    return spark


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
        tmp = zip_path + ".tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for p in files:
                zf.write(p, os.path.join("video_data_pipeline_spark", os.path.relpath(p, pkg_dir)))
        os.replace(tmp, zip_path)
    spark.sparkContext.addPyFile(zip_path)
    _SHIPPED.add(key)


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None):
    """Register the standard test tables as temp views; return dict of DataFrames."""
    names = names or [
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ]
    out = {}
    for name in names:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def enable_runtime_bloom_filters(
    spark: SparkSession,
    creation_side_threshold: str = "10MB",
    application_side_threshold: str = "1MB",
) -> None:
    """Tune Spark's runtime bloom-filter join pruning for THIS deployment's
    table sizes.

    The optimizer injects a ``bloom_filter_agg`` on a join's small
    (creation) side and a ``might_contain`` filter on the big (application)
    side — rows that can't match are dropped BEFORE the shuffle, the big
    win for selective dim-filtered fact joins. It is on by default but
    dormant until the creation side is under
    ``runtime.bloomFilter.creationSideThreshold`` (default 10MB) AND the
    application-side scan exceeds its size threshold (default 10GB) — at
    true 100 TB scale the defaults engage on their own; at mid-size (or in
    a demo at sf0.1) nothing happens and a naive reader concludes the
    feature is broken. This helper sets both knobs explicitly so the
    pruning engages where the deployment's fact tables actually live.
    Plan-gated by ``test_runtime_bloom_filter_engages_on_selective_join``.
    """
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        creation_side_threshold,
    )
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        application_side_threshold,
    )
