"""Tests of the benchmark's own parts; no Spark session needed.

    python3 -m pytest perfbench/tests -q      # from the checkout root
"""

from __future__ import annotations

import json

import pytest

from perfbench import eventlog, gen_news, gen_tables, stats
from perfbench.transport import TransportCounters, expected_triple, make_transport, reply


def test_news_corpus_is_a_function_of_the_seed():
    a, b, c = (gen_news.make_corpus(400, s) for s in (7, 7, 8))
    assert a == b
    assert a.rows != c.rows


def test_news_corpus_has_the_fixture_edge_cases():
    corpus = gen_news.make_corpus(3000, 1)
    rows = corpus.rows
    kept_cat = sum(r["category"] in gen_news.KEPT_CATEGORIES for r in rows) / len(rows)
    assert 0.40 < kept_cat < 0.50
    assert any(r["headline"] is None for r in rows)
    assert any(r["short_description"] == "" for r in rows)
    assert any(r["date"] in gen_news.BAD_DATES for r in rows)
    dates = [r["date"] for r in rows]
    assert len(set(dates)) < len(dates)
    assert len({r["link"] for r in rows}) == len(rows)
    # wire copy: some kept payloads repeat
    assert 0 < corpus.distinct_kept_payloads < corpus.kept


def test_tables_are_a_function_of_the_seed():
    a = gen_tables.build_tables(0.001, 5)
    b = gen_tables.build_tables(0.001, 5)
    c = gen_tables.build_tables(0.001, 6)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == 6000
    assert sorted(a) == sorted(
        "region nation customer supplier part orders lineitem events documents embeddings".split()
    )


def test_percentile_rule_needs_ten_samples_beyond():
    assert not stats.supported(99, 0.9)
    assert stats.supported(100, 0.9)
    assert stats.supported(20, 0.5)
    assert stats.tail(list(range(19))) is None
    assert stats.tail([float(i) for i in range(100)]) == (0.9, pytest.approx(89.1))
    assert stats.tail([float(i) for i in range(1000)])[0] == 0.99


def test_quantile_interpolates():
    assert stats.quantile([3.0, 1.0, 2.0], 0.5) == 2.0
    assert stats.quantile([0.0, 10.0], 0.25) == 2.5
    with pytest.raises(ValueError):
        stats.quantile([], 0.5)


def test_mix_median_combines_kinds_by_geometric_mean():
    assert stats.mix_median([("a", 1.0), ("a", 3.0), ("a", 2.0)]) == 2.0
    samples = [("a", 1.0), ("a", 1.0), ("b", 4.0), ("b", 4.0)]
    assert stats.mix_median(samples) == pytest.approx(2.0)
    with pytest.raises(ValueError):
        stats.mix_median([])


def _events() -> list[str]:
    ev = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "t0:construct"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
         "Properties": {"spark.jobGroup.id": "t0:construct"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": "t0:execute"}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3], "Properties": {}},
    ]
    task = {
        "Executor Run Time": 1500, "Executor CPU Time": 1_000_000_000, "JVM GC Time": 20,
        "Shuffle Read Metrics": {"Remote Bytes Read": 5, "Local Bytes Read": 7},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 11},
        "Memory Bytes Spilled": 100, "Disk Bytes Spilled": 3,
    }
    for stage in (0, 1, 2, 2, 3):
        ev.append({"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": task})
    return [json.dumps(e) for e in ev] + [""]


def test_event_log_fold_by_job_group(tmp_path):
    groups = eventlog.fold_events(_events())
    c = groups["t0:construct"]
    assert (c.jobs, c.tasks) == (1, 2)
    assert c.task_run_s == pytest.approx(3.0)
    assert c.task_cpu_s == pytest.approx(2.0)
    assert c.gc_s == pytest.approx(0.04)
    assert (c.shuffle_read_bytes, c.shuffle_write_bytes, c.spill_bytes) == (24, 22, 206)
    assert (groups["t0:execute"].jobs, groups["t0:execute"].tasks) == (1, 2)
    assert (groups[None].jobs, groups[None].tasks) == (1, 1)

    (tmp_path / "app-1").write_text("\n".join(_events()))
    assert eventlog.fold_dir(str(tmp_path))["t0:execute"].tasks == 2


def test_transport_counts_calls_prompts_and_busy_time():
    counters = TransportCounters.local()
    transport = make_transport(0.002, counters)
    for p in ["a", "b", "a", "c", "a"]:
        assert transport(p) == reply(p)
    calls, busy_s, distinct = counters.snapshot()
    assert (calls, distinct) == (5, 3)
    assert busy_s >= 5 * 0.002
    counters.reset()
    assert counters.snapshot() == (0, 0.0, 0)


def test_transport_reply_is_a_pure_function_of_the_prompt():
    s, c, summary = expected_triple("Title: x\nContent: y")
    assert (s, c, summary) == expected_triple("Title: x\nContent: y")
    assert s in ("Positive", "Negative", "Neutral")
    assert summary.startswith("Markets may react")
