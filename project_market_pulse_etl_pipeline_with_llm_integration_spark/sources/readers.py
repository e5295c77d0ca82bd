"""Sources (SURVEY §2 O1/O2).

The reference reads JSONL with ``pd.read_json(path, lines=True)``
(``Main.py:147``) and parquet with ``pd.read_parquet`` (``Main.py:212``),
inferring schemas and materializing eagerly.  Here both are lazy Spark
scans: the JSONL reader pins an explicit StructType (inference at 100 TB
is an extra full pass and nondeterministic), and the parquet reader gets
column pruning + predicate pushdown from Catalyst for free — the scan
only reads the row groups and columns the downstream plan needs.

Paths may be local, ``s3a://``, ``hdfs://`` — anything the Hadoop FS
layer supports (the reference used s3fs for the same purpose,
``requirements.txt:7``).
"""

from __future__ import annotations

import os
from weakref import WeakKeyDictionary

from pyspark.sql import DataFrame, SparkSession

from project_market_pulse_etl_pipeline_with_llm_integration_spark.config import (
    RAW_NEWS_SCHEMA,
    TESTDATA_TABLES,
)


def read_news_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Schema'd newline-delimited JSON scan (reference ``Main.py:147``).

    Unparseable lines become all-null rows (PERMISSIVE mode) and are then
    dropped by the clean stage's essential-field filter, matching the
    reference's defensive posture.
    """
    return spark.read.schema(RAW_NEWS_SCHEMA).option("mode", "PERMISSIVE").json(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan (reference ``Main.py:212``)."""
    return spark.read.parquet(path)


# ---------------------------------------------------------------------------
# Scan-plan cache for immutable inputs (optimization r13, guide §1.2/§7.3)
#
# ``spark.read.parquet(path)`` measured ~90 ms per call at sf0.1: the
# reader lists the path and reads parquet footers to resolve the schema,
# on the DRIVER, every time — and the bench constructs every query from
# scratch on every timed rep, so the same static tables pay that footer
# walk ~1,300 times per full run.  A DataFrame is an immutable logical
# plan, so one resolved scan per (session, path) can be handed out
# repeatedly — exactly what a catalog-backed deployment gets from the
# metastore (schema + file manifest resolved once, not per query).
#
# Contract: ONLY for immutable inputs (the engine's source tables).  No
# row data is cached — every execution still scans parquet; this is
# metadata (schema + file listing) reuse, the same class of caching
# Spark itself does in its FileStatusCache.  Surfaces that read
# just-written user output (CLI enrich stage) keep spark.read.parquet.
# ---------------------------------------------------------------------------
_SCAN_CACHE: "WeakKeyDictionary[SparkSession, dict[str, DataFrame]]" = (
    WeakKeyDictionary()
)


def cached_scan(spark: SparkSession, path: str) -> DataFrame:
    """One resolved parquet scan per (session, path) — see block comment.

    IMMUTABLE-INPUT CONTRACT (ADVICE r13): nothing here watches the
    path for changes — a caller that rewrites or appends to a cached
    path mid-session would silently keep the stale file manifest (and
    the downstream ``_NPARTS`` memo compounds it).  Every call site
    must point at a static source table; writers that re-read their
    own output use ``spark.read.parquet`` directly or call
    ``invalidate_scan(path)`` after the write."""
    per_session = _SCAN_CACHE.get(spark)
    if per_session is None:
        per_session = _SCAN_CACHE.setdefault(spark, {})
    df = per_session.get(path)
    if df is None:
        df = per_session[path] = spark.read.parquet(path)
    return df


def invalidate_scan(path: str, spark: SparkSession | None = None) -> None:
    """Drop ``path`` from the scan-plan cache (one session, or all) —
    the escape hatch for fixtures/writers that regenerate an input
    mid-session (the cached manifest would otherwise go stale)."""
    sessions = [spark] if spark is not None else list(_SCAN_CACHE)
    for s in sessions:
        per_session = _SCAN_CACHE.get(s)
        if per_session is not None:
            per_session.pop(path, None)


# Planned-scan partition counts, keyed by the DataFrame OBJECT (the
# cached_scan above makes repeat lookups hit the same object).  The
# ``df.rdd.getNumPartitions()`` probe in spread_if_narrow runs a full
# physical planning pass (~50 ms); for a cached scan it cannot change.
_NPARTS: "WeakKeyDictionary[DataFrame, int]" = WeakKeyDictionary()


def spread_if_narrow(df: DataFrame) -> DataFrame:
    """Repartition to the session's slot count (its default parallelism,
    the cores) ONLY when the scan is effectively SERIAL (fewer than 4
    partitions, or fewer than the slots on a smaller host — the
    single-row-group single-file layout).  The threshold is deliberately
    low, not proportional to the slots: for body-carrying frames the
    repartition is a full corpus shuffle, worth paying only when map
    work would otherwise run near-serially.  Measured (warm, min-of-2):
    single-file sf0.1 layouts gain 2-3x from the spread
    (split_contamination 3.2 -> 1.8 s, winnow 3.4 -> 1.1 s); the
    32-file 10x stress layout passes through unchanged (4.0 s — an
    unconditional repartition adds the shuffle for zero parallelism
    gain).  The partition count comes from the planned RDD lineage —
    no job runs (and the count is memoized per DataFrame object — the
    probe is a ~50 ms planning pass that cannot change for a given
    plan, and cached_scan hands out the same object per path)."""
    n = _NPARTS.get(df)
    if n is None:
        n = _NPARTS[df] = df.rdd.getNumPartitions()
    slots = df.sparkSession.sparkContext.defaultParallelism
    if n < min(4, slots):
        return df.repartition(slots)
    return df


def parquet_num_rows(path: str) -> int:
    """Exact row count from parquet FOOTER metadata — no Spark job.

    The manifest-statistics stand-in for catalog stats (``ANALYZE
    TABLE``): operators that size themselves from corpus cardinality
    (LSH plane counts, block-guard caps) take this as a hint instead of
    running a ``count()`` job before the real query.  On a cluster the
    same number comes from the metastore / table-format manifest
    (Delta/Iceberg keep it per-snapshot); footer reads are O(files),
    not O(rows), so this holds at 100 TB.
    """
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        total = 0
        for root, dirs, files in os.walk(path):
            # Spark's pathFilter convention: names starting with '_' or
            # '.' are metadata/hidden (Delta _delta_log checkpoint
            # parquet, _SUCCESS markers, aborted .part files) and are
            # invisible to the reader, so they must not inflate the hint.
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            for f in files:
                if f.endswith(".parquet") and not f.startswith(("_", ".")):
                    total += pq.read_metadata(os.path.join(root, f)).num_rows
        return total
    return pq.read_metadata(path).num_rows


def read_csv(
    spark: SparkSession,
    path: str,
    schema=None,
    header: bool = True,
    delimiter: str = ",",
) -> DataFrame:
    """CSV scan (format extension beyond the reference's JSONL/parquet).
    Pass an explicit schema at scale — inference costs a full extra read."""
    reader = spark.read.option("header", str(header).lower()).option("sep", delimiter)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_jsonl(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """Generic newline-delimited JSON scan with optional pinned schema."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.option("mode", "PERMISSIVE").json(path)


def read_table(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema=None,
    **options: str,
) -> DataFrame:
    """Generic source, symmetric with ``writers.write_table``: parquet /
    csv / json / orc (and anything else in the DataSource registry).
    CSV assumes a header by default (matching the writer); pass an
    explicit schema at scale — inference costs a full extra read."""
    reader = spark.read
    if fmt == "csv" and "header" not in options:
        options["header"] = "true"
        if schema is None and "inferSchema" not in options:
            options["inferSchema"] = "true"
    if schema is not None:
        reader = reader.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.format(fmt).load(path)


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events scan with nanosecond-timestamp normalization.

    The driver's events.parquet stores ``ts`` as parquet TIMESTAMP(NANOS),
    which Spark reads only as a raw long (``nanosAsLong``); convert to a
    micro-precision TimestampType (floor division — matching how
    ns-capable engines truncate when downcasting)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    if isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None, register_views: bool = True
) -> dict[str, DataFrame]:
    """Load the driver-generated testdata tables (TESTDATA.md) as lazy scans.

    Registers each as a temp view so operators can be expressed in either
    the DataFrame or SQL API against the same catalog names DuckDB uses.
    """
    out: dict[str, DataFrame] = {}
    for name in names or TESTDATA_TABLES:
        p = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(p) or "://" in sf_dir:
            df = spark.read.parquet(p)
            if register_views:
                df.createOrReplaceTempView(name)
            out[name] = df
    return out
