from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from project_market_pulse_etl_pipeline_with_llm_integration_spark.session import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


def build_jobs(spark, group, build) -> int:
    """Spark jobs started while ``build()`` constructs a query."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "query construction")
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def codegen_compiles(spark) -> int:
    """Generated classes Janino has compiled in this JVM so far.

    Only the count is exact: the metric's mean x count is a reservoir
    estimate of the compile time, whose deltas between reads can go
    negative."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark(app_name="mp-tests")
    yield s


@pytest.fixture()
def news_jsonl(tmp_path):
    """FIXTURES.md F1 fixture: all required edge cases present."""
    rows = [
        # kept rows (5 keep-categories), duplicate dates for the tie case
        {"link": "http://x/a", "headline": "A", "category": "POLITICS",
         "short_description": "alpha body", "authors": "x", "date": "2022-01-02"},
        {"link": "http://x/b", "headline": "B", "category": "TECH",
         "short_description": "", "authors": "", "date": "2022-01-01"},  # empty content kept
        {"link": "http://x/c", "headline": "C", "category": "BUSINESS",
         "short_description": "gamma", "authors": "y", "date": "2022-01-01"},  # dup date
        {"link": "http://x/d", "headline": "D", "category": "MONEY",
         "short_description": "delta", "authors": "z", "date": "2022-03-05"},
        {"link": "http://x/e", "headline": "E", "category": "WORLD NEWS",
         "short_description": "epsilon", "authors": "w", "date": "2021-12-31"},
        # dropped: out-of-list category
        {"link": "http://x/f", "headline": "F", "category": "SPORTS",
         "short_description": "zeta", "authors": "v", "date": "2022-01-03"},
        # dropped: null title
        {"link": "http://x/g", "headline": None, "category": "TECH",
         "short_description": "eta", "authors": "u", "date": "2022-01-04"},
        # dropped: null content
        {"link": "http://x/h", "headline": "H", "category": "TECH",
         "short_description": None, "authors": "t", "date": "2022-01-05"},
        # dropped: null category
        {"link": "http://x/i", "headline": "I", "category": None,
         "short_description": "iota", "authors": "s", "date": "2022-01-06"},
        # dropped: unparseable date
        {"link": "http://x/j", "headline": "J", "category": "MONEY",
         "short_description": "kappa", "authors": "r", "date": "not-a-date"},
    ]
    p = tmp_path / "news.jsonl"
    with open(p, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    return str(p)
