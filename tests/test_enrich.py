"""Stage-2 enrichment tests — hermetic (no network): DISABLE_LLM offline
mode (reference ``Main.py:86-87``) plus an injected fake transport."""

from __future__ import annotations

import json
from datetime import datetime

import pytest

from project_market_pulse_etl_pipeline_with_llm_integration_spark.config import (
    CLEAN_COLUMNS,
    ENRICHED_EXTRA_COLUMNS,
    OFFLINE_TRIPLE,
)
from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators import enrich as E
from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.clean import clean_news
from project_market_pulse_etl_pipeline_with_llm_integration_spark.sources.readers import (
    read_news_jsonl,
)


@pytest.fixture(autouse=True)
def _reset_transport():
    yield
    E.set_transport(None)


def _clean_df(spark, news_jsonl):
    return clean_news(read_news_jsonl(spark, news_jsonl))


def test_offline_mode(spark, news_jsonl, monkeypatch):
    monkeypatch.setenv("DISABLE_LLM", "1")
    ts = datetime(2026, 1, 1, 12, 0, 0)
    out = E.enrich(_clean_df(spark, news_jsonl), rate_delay=0.0, run_timestamp=ts)
    rows = out.orderBy("id_news").collect()
    assert out.columns == CLEAN_COLUMNS + ENRICHED_EXTRA_COLUMNS
    for r in rows:
        assert (r.sentiment_llm, r.category_llm, r.market_impact_summary) == OFFLINE_TRIPLE
        assert r.etl_processing_time == ts  # single literal, all rows equal


def test_fake_transport_parses_json(spark, news_jsonl, monkeypatch):
    monkeypatch.delenv("DISABLE_LLM", raising=False)

    def fake(prompt: str) -> str:
        assert "THREE data points in JSON format" in prompt
        return json.dumps({"sentiment": "Positive", "category": "TECH", "summary": "ok"})

    E.set_transport(fake)
    rows = E.enrich(_clean_df(spark, news_jsonl), rate_delay=0.0).collect()
    assert all(r.sentiment_llm == "Positive" and r.category_llm == "TECH" for r in rows)


def test_missing_keys_default_na(spark, news_jsonl, monkeypatch):
    monkeypatch.delenv("DISABLE_LLM", raising=False)
    E.set_transport(lambda p: json.dumps({"sentiment": "Neutral"}))
    r = E.enrich(_clean_df(spark, news_jsonl), rate_delay=0.0).collect()[0]
    assert (r.sentiment_llm, r.category_llm, r.market_impact_summary) == ("Neutral", "N/A", "N/A")


def test_error_sentinels_in_band(spark, news_jsonl, monkeypatch):
    monkeypatch.delenv("DISABLE_LLM", raising=False)

    def boom(prompt: str) -> str:
        raise RuntimeError("api down")

    E.set_transport(boom)
    r = E.enrich(_clean_df(spark, news_jsonl), rate_delay=0.0).collect()[0]
    assert (r.sentiment_llm, r.category_llm) == ("ERROR_API", "ERROR_API")
    assert r.market_impact_summary == "Error generating summary."


def test_unparseable_json_sentinel(spark, news_jsonl, monkeypatch):
    monkeypatch.delenv("DISABLE_LLM", raising=False)
    E.set_transport(lambda p: "this is not json")
    r = E.enrich(_clean_df(spark, news_jsonl), rate_delay=0.0).collect()[0]
    assert r.sentiment_llm == "ERROR_API"


def test_rate_limiter_global_budget(spark, news_jsonl, monkeypatch):
    """Concurrent task rates ADD, so the wall-clock floor for N distinct
    payloads is N*rate_delay regardless of the task slots: each of T
    slots must sleep T*rate_delay per payload (the inverted division
    would finish T^2x too fast and hammer the real API at T^2/rate_delay
    calls/s)."""
    import time

    from pyspark.sql import functions as F

    monkeypatch.setenv("DISABLE_LLM", "1")
    df = (
        spark.range(40)
        .select(
            F.concat(F.lit("t-"), F.col("id")).alias("title"),
            F.concat(F.lit("c-"), F.col("id")).alias("content"),
        )
        .repartition(4)
    )
    rate = 0.08  # global budget: 40 payloads * 0.08 s = 3.2 s floor
    t0 = time.monotonic()
    n = E.enrich(df, rate_delay=rate).count()
    elapsed = time.monotonic() - t0
    assert n == 40
    # 20% scheduling slack; the buggy divide-by-tasks math would sleep
    # only 0.2 s total and fail this floor by an order of magnitude.
    assert elapsed >= n * rate * 0.8


def test_enrich_to_parquet_roundtrip(spark, news_jsonl, tmp_path, monkeypatch):
    monkeypatch.setenv("DISABLE_LLM", "1")
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.clean import (
        extract_and_clean,
    )

    clean_path = extract_and_clean(spark, news_jsonl, str(tmp_path / "clean"))
    out = E.enrich_to_parquet(
        spark, clean_path, str(tmp_path / "enr"), sample_size=3, rate_delay=0.0
    )
    back = spark.read.parquet(out)
    assert back.count() == 3  # exact-N sample honored
    assert set(CLEAN_COLUMNS + ENRICHED_EXTRA_COLUMNS) == set(back.columns)


def _make_pure_transport():
    # nested closure: cloudpickle ships it BY VALUE, so Python workers
    # never need to import this test module
    def transport(prompt: str) -> str:
        import json as _json

        return _json.dumps(
            {"sentiment": ["Positive", "Negative", "Neutral"][len(prompt) % 3],
             "category": "TECH", "summary": f"len {len(prompt)}"}
        )

    return transport


def _make_counting_transport():
    # each reply's summary carries how often the task has sent its
    # prompt, as the registry's flaky transport does; the function is
    # unpickled once per task, so the counts are per task
    def transport(prompt: str) -> str:
        import json as _json

        calls: dict = transport.__dict__.setdefault("calls", {})
        k = calls[prompt] = calls.get(prompt, 0) + 1
        return _json.dumps(
            {"sentiment": ["Positive", "Negative", "Neutral"][len(prompt) % 3],
             "category": "TECH", "summary": f"call {k} len {len(prompt)}"}
        )

    return transport


_DUP_ROWS = [
    (1, "t1", "same body"),
    (2, "t1", "same body"),      # exact duplicate payload
    (3, "t2", "other body"),
    (4, "t1", "same body"),      # a third copy, after another payload
    (5, None, "c"),
    (6, "", "c"),                # NULL reads as '': the same prompt as row 5
    (7, None, None),
    (8, "", ""),
]


def _dup_frame(spark):
    return spark.createDataFrame(
        _DUP_ROWS, "id long, title string, content string"
    ).coalesce(1)


def test_enrich_calls_each_payload_once_per_task(spark):
    """One task holding duplicates and NULL/'' payloads sends each
    distinct payload once: every row's answer comes from the prompt's
    first call, and rows keep their input order."""
    out = E.enrich(
        _dup_frame(spark), rate_delay=0.0,
        transport=_make_counting_transport(), disabled=False,
    ).collect()
    assert [r.id for r in out] == [r[0] for r in _DUP_ROWS]
    assert all(r.market_impact_summary.startswith("call 1 ") for r in out)


def test_enrich_fans_out_the_pure_transport_answer(spark):
    """Each row, duplicate or not, carries exactly the answer the pure
    transport gives for its own prompt."""
    pure = _make_pure_transport()
    out = E.enrich(
        _dup_frame(spark), rate_delay=0.0, transport=pure, disabled=False
    ).collect()
    assert len(out) == len(_DUP_ROWS)
    for r in out:
        want = json.loads(pure(E.build_prompt(r.title or "", r.content or "")))
        assert (r.sentiment_llm, r.category_llm, r.market_impact_summary) == (
            want["sentiment"], want["category"], want["summary"]
        )


def test_rate_limiter_meters_answered_payloads(spark, monkeypatch):
    """A memo hit costs no call and so no budget: one task holding 40
    copies of one payload sleeps for one payload, not for every row."""
    import time

    monkeypatch.setenv("DISABLE_LLM", "1")
    df = spark.createDataFrame(
        [(i, "t", "c") for i in range(40)], "id long, title string, content string"
    ).coalesce(1)
    per_payload = 0.2  # each task slot's sleep per answered payload
    rate = per_payload / spark.sparkContext.defaultParallelism
    t0 = time.monotonic()
    assert E.enrich(df, rate_delay=rate).count() == 40
    elapsed = time.monotonic() - t0
    # per-row metering would sleep 40 * per_payload
    assert per_payload * 0.8 <= elapsed < 40 * per_payload / 2


def _make_failing_transport():
    def transport(prompt: str) -> str:
        raise RuntimeError("api down")

    return transport


@pytest.mark.parametrize("failing", [True, False])
def test_enrich_to_parquet_warns_with_error_counts(spark, news_jsonl, tmp_path,
                                                   monkeypatch, caplog, failing):
    """Every ERROR_API row is counted on the write job and reported in
    one warning naming both counts; a run without errors stays silent."""
    import logging

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.clean import (
        extract_and_clean,
    )

    monkeypatch.delenv("DISABLE_LLM", raising=False)
    clean_path = extract_and_clean(spark, news_jsonl, str(tmp_path / "clean"))
    E.set_transport(_make_failing_transport() if failing else _make_pure_transport())
    with caplog.at_level(logging.WARNING, logger=E.__name__):
        out = E.enrich_to_parquet(spark, clean_path, str(tmp_path / "enr"), rate_delay=0.0)
    assert out is not None
    n = spark.read.parquet(out).count()
    warned = [r.getMessage() for r in caplog.records if r.name == E.__name__]
    assert warned == ([f"enrich: {n} of {n} rows are ERROR_API"] if failing else [])


def _make_poison_transport():
    # proves zero LLM calls: ANY invocation raises in the worker and
    # the sentinel machinery would surface ERROR_API rows
    def transport(prompt: str) -> str:
        raise AssertionError("transport invoked on a cache hit")

    return transport


def test_enrich_with_cache_zero_calls_on_full_hit(spark):
    """Cross-run memoization contract: run 1 fills the cache; run 2
    over the same corpus runs with a POISONED transport (raises on any
    call) and still produces correct triples — proof that cache hits
    never reach the LLM.  The run-2 timestamp stamps every row."""
    rows = [(1, "t", "b1"), (2, "t", "b1"), (3, "t", "b2")]
    df = spark.createDataFrame(rows, "id long, title string, content string")
    ts1, ts2 = datetime(2024, 1, 1), datetime(2024, 1, 2)
    out1, cache1 = E.enrich_with_cache(
        df, None, rate_delay=0.0, run_timestamp=ts1,
        transport=_make_pure_transport(), disabled=False,
    )
    r1 = {r["id"]: r for r in out1.collect()}
    cache1 = spark.createDataFrame(cache1.collect(), cache1.schema)  # persist
    assert cache1.count() == 2  # unique payloads only
    out2, cache2 = E.enrich_with_cache(
        df, cache1, rate_delay=0.0, run_timestamp=ts2,
        transport=_make_poison_transport(), disabled=False,
    )
    r2 = {r["id"]: r for r in out2.collect()}  # would raise if any call
    assert len(r2) == 3
    for i in (1, 2, 3):
        assert r2[i]["sentiment_llm"] == r1[i]["sentiment_llm"]
        assert r2[i]["market_impact_summary"] == r1[i]["market_impact_summary"]
        assert r2[i]["etl_processing_time"] == ts2
    assert cache2.count() == 2  # nothing new


def test_enrich_with_cache_pays_only_for_new_content(spark):
    """An incremental ingest with one never-seen payload enriches
    exactly that payload: the transport accepts only the new body and
    raises on anything else."""
    df1 = spark.createDataFrame(
        [(1, "t", "old body")], "id long, title string, content string"
    )
    _, cache = E.enrich_with_cache(
        df1, None, rate_delay=0.0, run_timestamp=datetime(2024, 1, 1),
        transport=_make_pure_transport(), disabled=False,
    )
    cache = df1.sparkSession.createDataFrame(cache.collect(), cache.schema)

    def _make_picky():
        def transport(prompt: str) -> str:
            import json as _json

            assert prompt.endswith("new body"), "cached payload re-enriched"
            return _json.dumps(
                {"sentiment": "Positive", "category": "TECH", "summary": "new"}
            )

        return transport

    df2 = spark.createDataFrame(
        [(1, "t", "old body"), (2, "t", "new body")],
        "id long, title string, content string",
    )
    out2, cache2 = E.enrich_with_cache(
        df2, cache, rate_delay=0.0, run_timestamp=datetime(2024, 1, 2),
        transport=_make_picky(), disabled=False,
    )
    got = {r["id"]: r for r in out2.collect()}
    assert got[2]["market_impact_summary"] == "new"
    assert got[1]["sentiment_llm"] is not None
    assert cache2.count() == 2


def _make_in_flight_transport(delay_s: float):
    # Counts the calls in flight in the worker; each reply's summary is the
    # most it has seen so far.  The lock is made on the worker's first call
    # (locks do not pickle); dict.setdefault keeps exactly one.
    state: dict = {}

    def transport(prompt: str) -> str:
        import json as _json
        import threading as _threading
        import time as _time

        lock = state.setdefault("lock", _threading.Lock())
        with lock:
            state["now"] = state.get("now", 0) + 1
            state["max"] = max(state.get("max", 0), state["now"])
        _time.sleep(delay_s)
        with lock:
            state["now"] -= 1
            seen = state["max"]
        return _json.dumps(
            {"sentiment": ["Positive", "Negative", "Neutral"][len(prompt) % 3],
             "category": f"len {len(prompt)}", "summary": str(seen)}
        )

    return transport


def test_enrich_overlaps_calls_within_one_task(spark):
    """One task (coalesce(1)) keeps several LLM calls in flight at once,
    and the output still carries each row's own answer in input order."""
    rows = [(i, f"t-{i}", "c" * (i % 7)) for i in range(40)]
    df = spark.createDataFrame(rows, "id long, title string, content string").coalesce(1)
    out = E.enrich(
        df, rate_delay=0.0, transport=_make_in_flight_transport(0.02), disabled=False
    ).collect()
    assert [r.id for r in out] == list(range(40))
    for r in out:
        n = len(E.build_prompt(r.title, r.content))
        assert (r.sentiment_llm, r.category_llm) == (
            ["Positive", "Negative", "Neutral"][n % 3], f"len {n}"
        )
    assert max(int(r.market_impact_summary) for r in out) > 1


def test_default_client_built_once_across_threads(monkeypatch):
    """Concurrent first calls in one worker build ONE OpenAI client."""
    import sys
    import threading
    import time
    import types

    built = []

    class _Client:
        def __init__(self, api_key: str):
            time.sleep(0.02)  # a racing caller would build its own meanwhile
            built.append(self)
            self.chat = types.SimpleNamespace(
                completions=types.SimpleNamespace(create=self._create)
            )

        def _create(self, **kwargs):
            msg = types.SimpleNamespace(content=json.dumps(
                {"sentiment": "Neutral", "category": "TECH", "summary": "s"}
            ))
            return types.SimpleNamespace(choices=[types.SimpleNamespace(message=msg)])

    stub = types.ModuleType("openai")
    stub.OpenAI = _Client
    monkeypatch.setitem(sys.modules, "openai", stub)
    E.set_transport(None)
    barrier = threading.Barrier(16)
    results = []

    def call():
        barrier.wait()
        results.append(E.enrich_one("t", "c", disabled=False))

    threads = [threading.Thread(target=call) for _ in range(16)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=10)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(built) == 1
    assert results == [("Neutral", "TECH", "s")] * 16


def test_enrich_to_parquet_restores_arrow_batch_conf(spark, news_jsonl, tmp_path, monkeypatch):
    """The stage's Arrow batch size applies to its own write only."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.clean import (
        extract_and_clean,
    )

    monkeypatch.setenv("DISABLE_LLM", "1")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    spark.conf.set(key, "777")
    try:
        clean_path = extract_and_clean(spark, news_jsonl, str(tmp_path / "clean"))
        out = E.enrich_to_parquet(spark, clean_path, str(tmp_path / "enr"), rate_delay=0.0)
        assert out is not None
        assert spark.conf.get(key) == "777"
    finally:
        spark.conf.set(key, before)
