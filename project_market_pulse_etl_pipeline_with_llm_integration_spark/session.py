"""SparkSession factory tuned for this engine.

Local test/bench runs use ``local[$SPARK_GRAFT_CPUS]`` (one JVM); the same
builder settings are the ones we would ship on a 1000-executor cluster:
AQE on (runtime re-plan + skew-join splitting + partition coalescing),
UTC session timezone (so naive parquet timestamps compare bit-identically
against external oracles), Arrow transfers for the Pandas-UDF slow path.

``spark.sql.shuffle.partitions`` is one count on every host,
``_SHUFFLE_PARTITIONS``, not the core count: the count shapes the physical
plan (exchange widths and the joins AQE re-plans to), so a count tied to
the cores gave a 4-core run, an 8-core run and a 32-core run different
plans for the same query.  AQE coalescing trims the count to the data at
run time, so over-provisioning a small host is cheap; on a real cluster it
should be ~2-3x total executor cores, passed through ``extra_conf``.

``spark.default.parallelism`` stays unset, so the default parallelism is the
slot count (the cores of ``local[N]``).  Three readers want exactly that,
not a partition count: ``spread_if_narrow``'s width, ``enrich``'s per-task
rate budget and ``with_dense_id``'s bucket default.  Pinning it too was
measured: ``spark.default.parallelism=8`` on 4 vCPUs made news_etl's
``op_p50_s`` worse in 2 of 3 pairs (0.923 -> 1.019 s, 0.969 -> 1.079 s),
most likely from the extra scan splits and tasks.

On a ``local[...]`` master the Python workers fork from ``_worker_daemon``,
pyspark's own daemon with ``zipimport.zipimporter.invalidate_caches`` made a
no-op.  pyspark calls ``importlib.invalidate_caches()`` at the start of every
task, and under CPython 3.11 that makes each zipimporter on the worker path
(``pyspark.zip``, the py4j zip, the package zip) re-read its whole archive
directory: 0.2-0.3 s of set-up per ``mapInPandas`` task on 4 vCPUs.
Skipping it cannot serve stale code: those zips never change within a
session, ``_ship_package`` writes a fresh, uniquely named zip per process,
and a zip added later by ``addPyFile`` gets a new zipimporter on its first
import.  ``FileFinder`` caches are still invalidated, so a ``.py`` shipped
mid-session imports too.  Other masters keep pyspark's default daemon (their workers
need not see this package's directory; see ``_worker_daemon_conf``).

``spark.sql.codegen.cache.maxEntries`` bounds the JVM-wide cache of
whole-stage generated classes, keyed by the generated source, so a plan
whose code was compiled before skips Janino.  Spark's default of 100 is
smaller than one pass of a rotating query mix: perfbench's ``query_mix``
needs ~196 distinct classes per pass, so at 100 every pass evicted and
recompiled 137-190 classes it had compiled one pass earlier, ~5-8 ms of
compile time each on 4 vCPUs (~1 s of a 4-6 s pass).  A cached class
costs at most ~63 KB of JVM non-heap (101 -> 387 MB over the 4,552 classes
of one sf0.001 registry pass), so ``_CODEGEN_CACHE_ENTRIES`` caps the cache
at ~125 MB.  A cache hit reuses the identical class; plans and rows cannot
change.
"""

from __future__ import annotations

import atexit
import logging
import os
import re
import tempfile
import weakref
import zipfile

from pyspark.sql import SparkSession

_log = logging.getLogger(__name__)

_PKG_ZIP: str | None = None
_DAEMON_MODULE = f"{__package__}._worker_daemon"

# A 32-core host's count, which the enrolled executed plans (EXEC_PLANS.json)
# match; AQE coalescing trims it on smaller hosts (see the module docstring).
_SHUFFLE_PARTITIONS = 32

_CODEGEN_CACHE_CONF = "spark.sql.codegen.cache.maxEntries"
# Holds a query_mix-sized cycle of generated classes 10x over (see the
# module docstring).  bench.py runs each query's reps back to back, so it
# never needs the whole registry's classes resident at once.
_CODEGEN_CACHE_ENTRIES = 2000

# Sessions already pinned by ensure_engine_confs.  The driver calls every
# query through _wrap -> ensure_engine_confs, so a full bench run makes
# ~1,000 invocations; re-setting three already-set confs and re-adding the
# already-shipped package zip measured 4.4 ms/call (~4.5 s per full bench)
# plus one WARN log line each (optimization r13, guide §1.2/§7.3 —
# driver-side fixed overhead).  Runtime confs persist on the session and
# so are pinned once per session; a WeakSet keeps dead sessions
# collectable.
_PINNED: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()

# (SparkContext, zip) of the last addPyFile.  addPyFile is per
# SparkContext, and child sessions (``spark.newSession()``) share their
# parent's, so the zip is shipped once per context, not per session:
# re-adding it logs a JVM WARN and appends it to the context's Python
# includes again.
_SHIPPED: tuple[object, str] | None = None


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
    addPyFile once per SparkContext.

    A failure to build the zip raises here, not later as a worker's
    ``ModuleNotFoundError``; only a session that refuses ``addPyFile``
    (e.g. one without a SparkContext) is tolerated, with a warning."""
    global _PKG_ZIP, _SHIPPED
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
                        rel = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
                        zf.write(full, rel)
        _PKG_ZIP = zip_path
    try:
        sc = spark.sparkContext
        if _SHIPPED == (sc, _PKG_ZIP):
            return
        sc.addPyFile(_PKG_ZIP)
    except Exception as exc:
        _log.warning(
            "package zip %s not shipped (%s): executors that cannot import "
            "%s from their own path will fail", _PKG_ZIP, exc, __package__,
        )
        return
    _SHIPPED = (sc, _PKG_ZIP)


def _worker_daemon_conf(master: str, extra_conf: dict[str, str]) -> dict[str, str]:
    """The confs that fork this session's Python workers from
    ``_worker_daemon`` (see the module docstring), given the master URL and
    the caller's ``extra_conf``.

    Only a ``local[...]`` master gets them: its workers run on this machine
    and can import the module from the package's parent directory, which
    goes on their ``PYTHONPATH`` (the daemon starts before any
    ``addPyFile``), ahead of a ``PYTHONPATH`` the caller passes.  A cluster
    worker that could not import it would fail every Python UDF, so any
    other master keeps pyspark's daemon, with a warning."""
    if not re.fullmatch(r"local(\[[^\]]*\])?", master):
        _log.warning(
            "master %s is not local: Python workers keep pyspark's daemon, "
            "not %s", master, _DAEMON_MODULE,
        )
        return {}
    paths = (
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        extra_conf.get("spark.executorEnv.PYTHONPATH"),
    )
    return {
        "spark.python.daemon.module": _DAEMON_MODULE,
        "spark.executorEnv.PYTHONPATH": os.pathsep.join(p for p in paths if p),
    }


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

    Two static confs of ``get_spark`` are read when the SparkContext starts,
    so they cannot be set here, and a session built without ``get_spark``,
    such as the one ``__spark_entry__``'s harness hands in, goes without
    them (see the module docstring):
      - the worker daemon (``spark.python.daemon.module``): such a session
        keeps pyspark's default daemon and its per-task zip re-read
      - the generated-class cache (``spark.sql.codegen.cache.maxEntries``):
        such a session keeps Spark's 100 entries and recompiles a rotating
        query mix's whole-stage code on every query; pinning a session
        whose cache is smaller than ``_CODEGEN_CACHE_ENTRIES`` logs one
        warning naming the conf
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
    codegen_entries = int(spark.conf.get(_CODEGEN_CACHE_CONF))
    if codegen_entries < _CODEGEN_CACHE_ENTRIES:
        _log.warning(
            "%s is %d, below the engine's %d: it is a static conf, so this "
            "session recompiles the whole-stage code of queries it ran "
            "before; build the session with get_spark to keep it",
            _CODEGEN_CACHE_CONF, codegen_entries, _CODEGEN_CACHE_ENTRIES,
        )
    _ship_package(spark)
    _PINNED.add(spark)
    return spark


def get_spark(
    app_name: str = "market-pulse-spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` for local parallelism (benchmark
    harnesses set the core count through it); ``SPARK_GRAFT_MASTER``
    overrides the master URL.  The core count sets the task slots only:
    shuffles get ``_SHUFFLE_PARTITIONS`` partitions on every host, so the
    same query plans the same way on 4 cores and on 32.  A local master
    also gets the worker daemon confs of ``_worker_daemon_conf``.  The
    generated-class cache holds ``_CODEGEN_CACHE_ENTRIES`` classes;
    ``extra_conf`` overrides it, as it does every conf here.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(_SHUFFLE_PARTITIONS))
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
        .config(_CODEGEN_CACHE_CONF, str(_CODEGEN_CACHE_ENTRIES))
    )
    extra_conf = extra_conf or {}
    for k, v in {**extra_conf, **_worker_daemon_conf(master, extra_conf)}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
