"""SparkSession factory tuned for this engine.

Local test/bench runs use ``local[$SPARK_GRAFT_CPUS]`` (one JVM); the same
builder settings are the ones we would ship on a 1000-executor cluster:
AQE on (runtime re-plan + skew-join splitting + partition coalescing),
UTC session timezone (so naive parquet timestamps compare bit-identically
against external oracles), Arrow transfers for the Pandas-UDF slow path.

``spark.sql.shuffle.partitions`` defaults to the local core count here;
on a real cluster it should be ~2-3x total executor cores, and AQE
coalescing makes over-provisioning cheap.
"""

from __future__ import annotations

import atexit
import os
import tempfile
import weakref
import zipfile

from pyspark.sql import SparkSession

_PKG_ZIP: str | None = None

# Sessions already pinned by ensure_engine_confs.  The driver calls every
# query through _wrap -> ensure_engine_confs, so a full bench run makes
# ~1,000 invocations; re-setting three already-set confs and re-adding the
# already-shipped package zip measured 4.4 ms/call (~4.5 s per full bench)
# plus one WARN log line each (optimization r13, guide §1.2/§7.3 —
# driver-side fixed overhead).  Runtime confs persist on the session and
# addPyFile is per-SparkContext, so pinning once per session is exactly
# equivalent; a WeakSet keeps dead sessions collectable.
_PINNED: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()


def _remove_quietly(path: str) -> None:
    try:
        os.remove(path)
    except OSError:
        pass


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers even when
    the driver process was launched from a different cwd (mapInPandas
    closures reference package functions by module path).  Zips the
    package once per process, into a file of its own so that concurrent
    processes never rewrite each other's zip, and registers it via
    addPyFile."""
    global _PKG_ZIP
    try:
        if _PKG_ZIP is None:
            pkg_dir = os.path.dirname(os.path.abspath(__file__))
            pkg_name = os.path.basename(pkg_dir)
            fd, zip_path = tempfile.mkstemp(prefix=f"{pkg_name}_", suffix=".zip")
            os.close(fd)
            atexit.register(_remove_quietly, zip_path)
            with zipfile.ZipFile(zip_path, "w") as zf:
                for root, _dirs, files in os.walk(pkg_dir):
                    for fn in files:
                        if fn.endswith(".py"):
                            full = os.path.join(root, fn)
                            rel = os.path.join(
                                pkg_name, os.path.relpath(full, pkg_dir)
                            )
                            zf.write(full, rel)
            _PKG_ZIP = zip_path
        spark.sparkContext.addPyFile(_PKG_ZIP)
    except Exception:
        pass  # already added, or a deployment where addPyFile is restricted


def _default_driver_memory() -> str:
    """``spark.driver.memory`` default: 48g, capped at half of physical
    RAM so that the local-mode JVM (driver and executors in one heap)
    leaves room for the Python workers and the OS on a smaller machine.

    ``SC_PHYS_PAGES`` is the host's RAM: a container's cgroup memory limit
    is not seen, so set ``SPARK_GRAFT_DRIVER_MEM`` in a memory-limited
    container."""
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2 // 2**20
    return f"{min(48 * 1024, half_mb)}m"


def ensure_engine_confs(spark: SparkSession) -> SparkSession:
    """Set the runtime-settable SQL confs the engine's plans rely on.

    The driver/verify harness may hand us a SparkSession built without
    our factory; these three are required for correct semantics (the
    rest of the factory settings are performance-only):
      - nanosAsLong: the events table stores TIMESTAMP(NANOS), which the
        parquet reader otherwise rejects outright
      - UTC session timezone: window/date_trunc alignment must match the
        timezone-naive oracle engine
      - ANSI off: reference semantics are null-on-bad-cast

    Idempotent and memoized per session object: the first call pins and
    ships, later calls return immediately (see _PINNED above).
    """
    if spark in _PINNED:
        return spark
    for k, v in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.ansi.enabled", "false"),
        # PySpark 4 call-site capture (dataFrameDebugging) wraps EVERY
        # Column/DataFrame API call in 3-4 extra py4j round trips plus a
        # Python stack walk, purely to decorate error messages with the
        # Python call site.  Plan construction is a hot path here (~40%
        # of bench wall at sf0.1 is driver-side construction); an
        # in-process ON/OFF/ON A/B measured 15-35% construction savings
        # per query with it off (optimization r13, guide §4 — minimize
        # JVM<->Python crossings).  Purely driver-side: executed plans
        # and results are identical.
        ("spark.python.sql.dataFrameDebugging.enabled", "false"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-settable in some deployments; plans degrade loudly
    try:
        # is_debugging_enabled() caches its answer module-globally on
        # first Column call; a driver-provided session may have touched
        # the API before we could set the conf, so sync the cache with
        # the conf we just pinned.
        import pyspark.errors.utils as _eu

        _eu._enable_debugging_cache = False
    except Exception:
        pass  # private cache moved/renamed: the conf alone still governs
    _ship_package(spark)
    _PINNED.add(spark)
    return spark


def get_spark(
    app_name: str = "market-pulse-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` for local parallelism (benchmark
    harnesses set the core count through it); ``SPARK_GRAFT_MASTER``
    overrides the master URL.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Runtime Bloom-filter pushdown: big⋈selective-side shuffle joins
        # pre-filter the probe side at the scan — a large win at 100 TB.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # InferFiltersFromGenerate is a structural pessimization for
        # this engine: every Generate input here is a COMPUTED array
        # (tokenize/shingle pipelines), so the inferred size(...) > 0
        # filter re-evaluates the whole array build once more per row
        # (and CollapseProject pushes it into the scan) — the round-6/7
        # pathology behind the ngram_novelty 6.0->1.4 s and
        # dedup_containment 3.7->1.3 s fixes.  Exploding an empty array
        # already emits no rows, so the rule never prunes shuffle
        # volume; excluding it cannot change results, only plans.  The
        # rule would only help on STORED array columns scanned with a
        # pushable filter, which no query here has.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # ANSI off: the reference's semantics are null-on-bad-cast
        # (pd.to_datetime errors="coerce", Main.py:160); we additionally use
        # try_* functions so the plans are ANSI-safe either way.
        .config("spark.sql.ansi.enabled", "false")
        # The driver's events table stores TIMESTAMP(NANOS) which Spark's
        # parquet reader rejects; read as long and convert explicitly
        # (sources.readers.read_events) — micro-precision afterwards.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # driver-side py4j/call-site-capture overhead off (see
        # ensure_engine_confs); identical plans and results
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
