"""Stage-1 fidelity tests vs the reference semantics (SURVEY §3.1)."""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import types as T

from project_market_pulse_etl_pipeline_with_llm_integration_spark.config import CLEAN_COLUMNS
from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.clean import (
    _dated,
    clean_news,
    clean_news_observed,
    extract_and_clean,
)
from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.ids import with_dense_id
from project_market_pulse_etl_pipeline_with_llm_integration_spark.sources.readers import (
    read_news_jsonl,
)


def test_clean_semantics(spark, news_jsonl):
    out = clean_news(read_news_jsonl(spark, news_jsonl)).orderBy("id_news")
    rows = out.collect()
    # 5 of 10 fixture rows survive (category filter, null drops, bad date).
    assert [r.title for r in rows] == ["E", "B", "C", "A", "D"]
    # dense 1-based ids in (publish_date, link) order; tie B<C by link
    assert [r.id_news for r in rows] == [1, 2, 3, 4, 5]
    # empty-string content is kept (reference keeps "" — only nulls drop)
    assert rows[1].content == ""
    assert out.columns == CLEAN_COLUMNS
    assert isinstance(out.schema["publish_date"].dataType, (T.TimestampType, T.TimestampNTZType))
    assert isinstance(out.schema["id_news"].dataType, T.LongType)


def test_clean_id_methods_agree(spark, news_jsonl):
    raw = read_news_jsonl(spark, news_jsonl)
    got = clean_news(raw).orderBy("id_news").collect()
    dated = _dated(raw)
    for m in ("window", "boundaries"):
        want = (
            with_dense_id(dated, ["publish_date", "link"], id_col="id_news", method=m)
            .select(*CLEAN_COLUMNS)
            .orderBy("id_news")
            .collect()
        )
        assert got == want, m


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_dense_id_auto_picks_by_scan_split(spark, news_jsonl):
    """``auto`` sorts an input that fits one scan split in one global
    window (no range partitioning, no bucket pass) and takes the
    two-phase boundaries plan once the split size is below the plan's
    size; the ids agree either way."""
    dated = _dated(read_news_jsonl(spark, news_jsonl))
    keys = ["publish_date", "link"]
    small = with_dense_id(dated, keys, id_col="rid", method="auto")
    plan = _plan(small)
    assert "SinglePartition" in plan
    assert "RangePartitioning" not in plan and "__mp_bkt" not in plan

    key = "spark.sql.files.maxPartitionBytes"
    size = dated._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, str(size - 1))
        large = with_dense_id(dated, keys, id_col="rid", method="auto")
        plan = _plan(large)
        assert "__mp_bkt" in plan
        assert "RangePartitioning" not in plan and "ExistingRDD" not in plan
        ids_large = {r.link: r.rid for r in large.collect()}
    finally:
        spark.conf.set(key, old)
    assert {r.link: r.rid for r in small.collect()} == ids_large


def test_extract_and_clean_job_count(spark, news_jsonl, tmp_path):
    """A fixture-sized clean stage runs at most 2 Spark jobs: the window's
    shuffle and the write (the two-phase plans need more: a quantile and
    a count pass before the output)."""
    sc = spark.sparkContext
    group = f"clean-jobs-{tmp_path.name}"
    sc.setJobGroup(group, "extract_and_clean job count")
    try:
        assert extract_and_clean(spark, news_jsonl, str(tmp_path)) is not None
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 2


def test_dense_id_boundaries_scalable(spark):
    df = spark.range(0, 10_000).withColumnRenamed("id", "k")
    out = with_dense_id(df, ["k"], id_col="rid", method="boundaries", num_partitions=16)
    got = out.orderBy("k").select("rid").collect()
    assert [r.rid for r in got] == list(range(1, 10_001))


def test_dense_id_boundaries_rejects_string_key(spark):
    """A string leading key has no order-preserving double cast: it would
    leave no quantile bounds and put every row in one bucket, so
    ``boundaries`` refuses it by type."""
    df = spark.range(0, 100).selectExpr("cast(id as string) as s", "id")
    with pytest.raises(ValueError, match="string"):
        with_dense_id(df, ["s", "id"], id_col="rid", method="boundaries")


def test_dense_id_offsets_method_is_gone(spark):
    with pytest.raises(ValueError, match="unknown dense-id method"):
        with_dense_id(spark.range(0, 10), ["id"], id_col="rid", method="offsets")


def test_extract_and_clean_writes_parquet(spark, news_jsonl, tmp_path):
    path = extract_and_clean(spark, news_jsonl, str(tmp_path), single_file=True)
    assert path is not None and path.startswith(str(tmp_path))
    back = spark.read.parquet(path)
    assert back.count() == 5
    assert back.columns == CLEAN_COLUMNS
    assert glob.glob(f"{path}/*.parquet")


def test_clean_returns_none_on_bad_input(spark, tmp_path):
    assert extract_and_clean(spark, "/nonexistent/nope.jsonl", str(tmp_path)) is None


def test_clean_observed_metrics_on_fixture(spark, news_jsonl):
    """Observed funnel on the in-repo F1 fixture: 10 rows in, 5 kept
    across the 5 kept categories, one action."""
    out, obs = clean_news_observed(read_news_jsonl(spark, news_jsonl))
    assert out.count() == 5
    assert obs["in"].get["rows_in"] == 10
    assert obs["kept"].get["rows_kept"] == 5
    assert abs(obs["kept"].get["n_categories"] - 5) <= 1


def test_clean_observed_metrics_match_reference_counts(spark):
    """Observation-instrumented clean: metrics ride the job itself (no
    extra count() scans) and must equal the known reference dataset
    funnel — 1,056 raw rows in, 463 survivors, 5 kept categories."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.clean import (
        clean_news_observed,
    )
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.sources.readers import (
        read_news_jsonl,
    )

    raw = read_news_jsonl(spark, "/root/reference/News_Category_Dataset_v3.json")
    out, obs = clean_news_observed(raw)
    n = out.count()  # the action the metrics ride on
    assert n == 463
    assert obs["in"].get["rows_in"] == 1056
    assert obs["kept"].get["rows_kept"] == 463
    # approx_count_distinct (observe() forbids DISTINCT aggs): the
    # HLL estimate at rsd=0.05 may be off by one at tiny cardinality
    assert abs(obs["kept"].get["n_categories"] - 5) <= 1
