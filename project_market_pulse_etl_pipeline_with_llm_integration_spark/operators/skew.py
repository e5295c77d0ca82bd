"""Skew mitigation: salted joins and two-phase aggregations.

AQE's skew-join splitting handles moderate skew automatically (enabled
in the session factory); explicit salting is the tool for pathological
hot keys — a handful of keys carrying a large fraction of a 100 TB
table, where one reducer would otherwise receive the whole hot key.

* ``salted_join``: append a random salt in [0, S) to the skewed (big)
  side and replicate the small side S times (explode over the salt
  domain); the join key becomes (key, salt), spreading each hot key
  over S reducers.  Replication multiplies the small side by S — use
  only when the small side is genuinely small (it is usually also
  broadcast-able, but salting matters when the small side exceeds the
  broadcast threshold while a few big-side keys are hot).

* ``salted_agg``: two-phase aggregation — partial aggregate on
  (key, salt), then final aggregate on key.  Works for any algebraic
  aggregate (sum/count/min/max); map-side combine usually makes this
  unnecessary, but it is decisive when a single group dominates AND
  the aggregation is memory-heavy (e.g. collect_list).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from project_market_pulse_etl_pipeline_with_llm_integration_spark.sources.readers import cached_scan

_SALT = "__mp_salt"


def salted_join(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str,
    salt_buckets: int = 16,
    how: str = "inner",
    seed: int = 42,
) -> DataFrame:
    """Equi-join robust to hot keys on the big side.  Result columns =
    big's ++ small's (minus the duplicated key), like a plain join.

    Only ``inner`` and ``left`` (outer on the BIG side) are supported:
    the small side is replicated ``salt_buckets`` times, so a right/full
    outer join would emit every unmatched small-side row once per salt
    replica — silently wrong multiplicity."""
    if how not in ("inner", "left", "leftouter", "left_outer"):
        raise ValueError(
            f"salted_join supports how='inner'|'left' only (got {how!r}): the "
            "replicated small side would duplicate unmatched rows in right/full joins"
        )
    salted_big = big.withColumn(
        _SALT, (F.rand(seed) * salt_buckets).cast("int")
    )
    replicated_small = small.withColumn(
        _SALT, F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    cond = (F.col(f"__big.{big_key}") == F.col(f"__small.{small_key}")) & (
        F.col(f"__big.{_SALT}") == F.col(f"__small.{_SALT}")
    )
    out = (
        salted_big.alias("__big")
        .join(replicated_small.alias("__small"), cond, how)
        .drop(_SALT)
    )
    return out.drop(F.col(f"__small.{small_key}")) if big_key == small_key else out


def salted_agg(
    df: DataFrame,
    key: str,
    agg_col: str,
    salt_buckets: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Two-phase sum/count under skew: partial on (key, salt), final on
    key.  Returns (key, total, cnt)."""
    salted = df.withColumn(_SALT, (F.rand(seed) * salt_buckets).cast("int"))
    # partials accumulate in DECIMAL so the two-phase sum is exactly
    # associative — a double partial-sum would round differently than
    # the plain one-shot groupBy the oracle computes
    partial = salted.groupBy(key, _SALT).agg(
        F.sum(F.col(agg_col).cast("decimal(20,6)")).alias("_psum"),
        F.count("*").alias("_pcnt"),
    )
    return partial.groupBy(key).agg(
        F.round(F.sum("_psum"), 2).cast("double").alias("total"),
        F.sum("_pcnt").alias("cnt"),
    )


def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted equi-join surface: events (big, skewable user_id) joined
    to customer (small) through the (key, salt) spreading — the result
    is identical to the plain join the DuckDB oracle computes, so the
    gate proves the salt+replicate rewrite is semantics-preserving."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.sources.readers import (
        read_events,
    )

    events = read_events(spark, sf_dir).select("event_id", "user_id")
    cust = cached_scan(spark, f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_mktsegment"
    )
    out = salted_join(events, cust, "user_id", "c_custkey", salt_buckets=8)
    return out.select("event_id", "user_id", "c_mktsegment")


def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation over events.user_id (the driver's
    skewable key), result identical to a plain groupBy — which is
    exactly what the DuckDB oracle computes, so the correctness gate
    proves salting is semantics-preserving."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.sources.readers import (
        read_events,
    )

    return salted_agg(read_events(spark, sf_dir), "user_id", "value", salt_buckets=8)


def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnosis: per candidate shuffle key, the per-key
    row-count distribution — rows, distinct keys, mean (ppm-exact),
    p99 and max per-key counts, and the max/mean skew ratio in integer
    ppm.  This is the measurement that DECIDES the salting/AQE-skew
    levers (operators/skew.py): a ratio near 1e6 means uniform keys
    (salt adds cost for nothing), orders of magnitude more means one
    task owns the key.

    Exactness: p99 is percentile_disc rank-selection over the GROUPED
    counts (a data value, not interpolation); mean and ratio are
    integer divs.  Plan: one groupBy per audited key over just that
    key's column (pruned scan), then a tiny per-key-stats agg —
    the grouped-counts frame is |distinct keys| rows, the report is
    one row per audited key."""
    reports = []
    for table, key in (("orders", "o_custkey"), ("lineitem", "l_orderkey"),
                       ("lineitem", "l_partkey")):
        df = cached_scan(spark, f"{sf_dir}/{table}.parquet").select(key)
        counts = df.groupBy(key).agg(F.count("*").alias("c"))
        n = counts.agg(
            F.sum("c").alias("n_rows"),
            F.count("*").alias("n_keys"),
            F.max("c").alias("max_c"),
            F.expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY c)").alias("p99_c"),
        )
        reports.append(
            n.select(
                F.lit(f"{table}.{key}").alias("join_key"),
                "n_rows",
                "n_keys",
                F.expr("(1000000 * n_rows) div n_keys").alias("mean_ppm"),
                F.col("p99_c").cast("long").alias("p99_c"),
                F.col("max_c").cast("long").alias("max_c"),
                F.expr("(1000000 * max_c * n_keys) div n_rows").alias("skew_ratio_ppm"),
            )
        )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out
