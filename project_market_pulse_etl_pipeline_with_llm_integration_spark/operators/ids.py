"""Dense 1-based surrogate keys in a pinned total order (SURVEY §2 O9).

The reference assigns ``id_news`` with ``sort_values().reset_index();
index + 1`` (``Main.py:164-165``) — a global, dense, 1-based sequence in
chronological order.  pandas' quicksort leaves ties underdetermined, so
per SURVEY §7 risk #1 we pin an explicit tiebreaker to make the id
deterministic.

Three plans, identical results given a total order, and a size pick:

* ``method="window"`` — ``row_number()`` over an un-partitioned window.
  Simple and exact, but Spark must funnel every row through ONE task for
  the global window: fine for dim-sized data, a non-starter at 100 TB.

* ``method="offsets"`` — the two-phase plan: range-repartition on the
  order keys, count rows per partition (tiny driver-side collect: one
  long per partition), then add each partition's cumulative offset to a
  per-partition ``row_number``.  Both shuffles are fully parallel; no
  task ever sees more than one partition of data.  The catch:
  ``repartitionByRange`` picks boundaries by SAMPLING, so the count
  pass and the output pass would see different partitionings unless the
  ranged table is pinned — an eager ``localCheckpoint`` that writes the
  WHOLE table to executor storage.  Correct, but at 100 TB that
  checkpoint is a full-table write.

* ``method="boundaries"`` (default) — same two-phase idea with the
  sampling hoisted out of the plan: bucket boundaries are computed ONCE
  on the driver (``approxQuantile`` over the leading order key, one
  aggregation pass, P-1 doubles collected) and embedded as literals, so
  the bucket id is a PURE FUNCTION of the row — both the count pass and
  the output pass agree by construction and nothing is materialized.
  Replaces the full-table checkpoint write with one extra aggregation
  scan; bucket balance is as good as the quantile sketch (skew in the
  leading key degrades parallelism, never correctness).

* ``method="auto"`` — picks ``window`` when the optimized plan's
  estimated ``sizeInBytes`` is at most ``spark.sql.files.maxPartitionBytes``
  and ``offsets`` otherwise.  Below the bound the two-phase plan's fixed
  cost (range sample, eager checkpoint, count collect; the clean stage
  runs 7 jobs on it and 2 on the window) outweighs any parallelism it
  buys.  The bound itself is an unmeasured assumption: it reuses Spark's
  scan-split size, an estimate of file bytes (for compressed input, the
  compressed size), not a limit on what the one sorting task holds in
  memory.  Where the window stops winning is not known; on 4 cores it
  still beat ``offsets`` at a ~150 MB estimate, above the default
  128 MiB bound.  A plan of unknown size reports ``Long.MaxValue`` and
  takes ``offsets``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_PID = "__mp_pid"


_BKT = "__mp_bkt"


def with_dense_id(
    df: DataFrame,
    order_by: list[str | Column],
    id_col: str = "id_news",
    method: str = "boundaries",
    num_partitions: int | None = None,
) -> DataFrame:
    """Append ``id_col`` = 1..N dense ids ordered by ``order_by``.

    ``order_by`` must be a total order (include a tiebreaker column) for
    the ids to be deterministic.  All methods produce identical ids
    (pinned by test); they differ only in physical plan — see module
    docstring.  ``"boundaries"`` requires the leading order key to be
    castable to double (numeric/date/timestamp) and ascending order.
    ``"auto"`` takes ``"window"`` when the plan's size estimate fits one
    scan split (``spark.sql.files.maxPartitionBytes``), else ``"offsets"``.
    """
    if method == "auto":
        size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        split = df.sparkSession._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
        method = "window" if size <= split else "offsets"

    if method == "window":
        w = Window.orderBy(*order_by)
        return df.withColumn(id_col, F.row_number().over(w).cast("long"))

    if method == "boundaries":
        from pyspark.sql.types import DateType, TimestampNTZType

        parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
        key0 = F.col(order_by[0]) if isinstance(order_by[0], str) else order_by[0]
        # temporal types have no direct double cast; epoch-cast through
        # TIMESTAMP preserves order exactly
        key0_type = df.select(key0.alias(_BKT)).schema[0].dataType
        if isinstance(key0_type, (TimestampNTZType, DateType)):
            key0 = key0.cast("timestamp")
        key0d = key0.cast("double")
        probs = [i / parts for i in range(1, parts)]
        bounds = sorted(
            set(df.select(key0d.alias(_BKT)).approxQuantile(_BKT, probs, 0.001))
        )
        # bucket = |{boundaries strictly below the key}| — an
        # order-respecting coarsening (equal leading keys always share a
        # bucket); NULL leading keys sort first in ascending order, so
        # they take bucket 0 alongside the smallest values
        bucket = F.lit(0)
        for bv in bounds:
            bucket = bucket + F.when(key0d > F.lit(bv), 1).otherwise(0)
        bucket = F.coalesce(bucket, F.lit(0))
        bucketed = df.withColumn(_BKT, bucket)
        counts = {
            r[_BKT]: r["cnt"]
            for r in bucketed.groupBy(_BKT).agg(F.count("*").alias("cnt")).collect()
        }
        running = 0
        pairs: list[Column] = []
        for bkt in sorted(counts):
            pairs.extend([F.lit(bkt), F.lit(running)])
            running += counts[bkt]
        offset_expr = (
            F.element_at(F.create_map(*pairs), F.col(_BKT)) if pairs else F.lit(0)
        )
        w = Window.partitionBy(_BKT).orderBy(*order_by)
        return (
            bucketed.withColumn(id_col, (F.row_number().over(w) + offset_expr).cast("long"))
            .drop(_BKT)
        )

    if method != "offsets":
        raise ValueError(f"unknown dense-id method: {method!r}")

    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    # No sortWithinPartitions here: the offset pass only needs counts,
    # and the row_number window below sorts each pid-group itself.
    ranged = df.repartitionByRange(parts, *order_by).withColumn(
        _PID, F.spark_partition_id()
    )
    # Pin the (sampled, hence plan-dependent) range partitioning so the
    # count pass and the output pass see identical partition boundaries.
    # localCheckpoint rather than persist: it equally freezes the
    # boundaries (lineage is truncated at the stored blocks), but the
    # blocks are released by the context cleaner once the output plan is
    # garbage-collected — persist would stay pinned in the CacheManager
    # until an explicit unpersist, leaking across repeated calls in a
    # long-lived session.
    ranged = ranged.localCheckpoint(eager=True)
    counts = {r[_PID]: r["cnt"] for r in ranged.groupBy(_PID).agg(F.count("*").alias("cnt")).collect()}
    offsets: dict[int, int] = {}
    running = 0
    for pid in sorted(counts):
        offsets[pid] = running
        running += counts[pid]
    if offsets:
        pairs: list[Column] = []
        for pid, off in offsets.items():
            pairs.extend([F.lit(pid), F.lit(off)])
        offset_expr = F.element_at(F.create_map(*pairs), F.col(_PID))
    else:
        offset_expr = F.lit(0)
    w = Window.partitionBy(_PID).orderBy(*order_by)
    out = (
        ranged.withColumn(id_col, (F.row_number().over(w) + offset_expr).cast("long"))
        .drop(_PID)
    )
    return out
