"""Stage 1 — extraction & cleaning (reference ``Main.py:130-182``).

One lazy Catalyst plan replacing the reference's eager step-by-step
pandas pipeline:

    scan(JSONL, pinned schema)            # O1, Main.py:147
    -> rename to canonical contract       # O4, Main.py:153
    -> drop null title/content/category   # O5, Main.py:156
    -> keep 5 market categories (IN)      # O6, Main.py:43,157
    -> safe string->timestamp cast        # O7, Main.py:160 (coerce->null)
    -> drop null publish_date             # O5, Main.py:161
    -> dense 1-based id by publish_date   # O8+O9, Main.py:164-165
    -> final projection (drops authors)   # O10, Main.py:169
    -> timestamped parquet sink           # O3, Main.py:172-177

Catalyst pushes the null/IN filters into the JSON scan and prunes
``authors`` at the source — the reference materializes everything first
(SURVEY §4).  The dense id's plan is picked by input size
(``with_dense_id(method="auto")``): an input whose size estimate fits one
scan split (``spark.sql.files.maxPartitionBytes``) is sorted in one global
window behind a single exchange, as the reference sorts in memory; a
larger one takes the scalable two-phase quantile-boundaries plan (the
bound is a size-estimate limit, not a measured crossover; see
``ids.py``).  Semantics deltas vs pandas
(documented, SURVEY §7):
tie-order among equal publish_dates is pinned with ``link``; timestamps
are µs not ns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from project_market_pulse_etl_pipeline_with_llm_integration_spark.config import (
    CATEGORIES_TO_KEEP,
    CLEAN_COLUMNS,
)
from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.ids import with_dense_id
from project_market_pulse_etl_pipeline_with_llm_integration_spark.sources.readers import read_news_jsonl
from project_market_pulse_etl_pipeline_with_llm_integration_spark.sources.writers import (
    write_parquet_timestamped,
)


def _dated(df_raw: DataFrame) -> DataFrame:
    """The five steps before the id: rename, drop null essentials, keep
    the market categories, cast the date, drop null dates."""
    renamed = df_raw.withColumnsRenamed(
        {"headline": "title", "short_description": "content", "date": "publish_date"}
    )
    essential = renamed.na.drop(subset=["title", "content", "category"])
    kept = essential.filter(F.col("category").isin(CATEGORIES_TO_KEEP))
    # try_to_timestamp == pd.to_datetime(errors="coerce"): invalid -> null.
    cast = kept.withColumn("publish_date", F.try_to_timestamp(F.col("publish_date")))
    return cast.na.drop(subset=["publish_date"])


def clean_news(df_raw: DataFrame) -> DataFrame:
    """Pure transformation: raw news rows -> clean contract (FIXTURES.md F2)."""
    dated = _dated(df_raw)
    with_id = with_dense_id(dated, ["publish_date", "link"], id_col="id_news", method="auto")
    return with_id.select(*CLEAN_COLUMNS)


def clean_news_observed(df_raw: DataFrame):
    """``clean_news`` instrumented with Spark's Observation API — the
    production telemetry pattern: pipeline metrics (rows in, rows
    kept, null-date drops) ride the SAME job as the data instead of
    costing extra count() actions.  Returns (clean_df, observations):
    call ``obs.get`` AFTER an action on the returned frame.  At 100 TB
    an extra count() pass re-scans the input; observe() metrics are
    aggregated by the existing tasks for free.

    Always takes the single-pass ``window`` id method: the multi-pass
    ``boundaries`` method runs the observed subtree three times
    (quantile, count, output) and the metrics would multiply — a general
    Observation rule: the observed plan must run exactly once per
    action."""
    from pyspark.sql import Observation

    obs_in = Observation("clean_in")
    obs_kept = Observation("clean_kept")
    observed_in = df_raw.observe(obs_in, F.count(F.lit(1)).alias("rows_in"))
    dated = _dated(observed_in).observe(
        obs_kept,
        F.count(F.lit(1)).alias("rows_kept"),
        # DISTINCT aggregates are disallowed in observed metrics
        # (INVALID_OBSERVED_METRICS); the HLL sketch is exact at this
        # cardinality and observe-legal
        F.approx_count_distinct("category").alias("n_categories"),
    )
    with_id = with_dense_id(dated, ["publish_date", "link"], id_col="id_news", method="window")
    return with_id.select(*CLEAN_COLUMNS), {"in": obs_in, "kept": obs_kept}


def extract_and_clean(
    spark: SparkSession, input_path: str, output_folder: str, single_file: bool = False
) -> str | None:
    """CLI stage entry — read JSONL, clean, write timestamped parquet.

    Returns the written path, or None on error (reference contract,
    ``Main.py:179-182``).
    """
    try:
        df_raw = read_news_jsonl(spark, input_path)
        df_out = clean_news(df_raw)
        return write_parquet_timestamped(
            df_out, output_folder, "clean_data", single_file=single_file
        )
    except Exception as exc:  # mirror reference's defensive None-return
        print(f"Error in clean stage: {exc}")
        return None
