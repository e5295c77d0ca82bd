"""Stage 2 — LLM enrichment (reference ``Main.py:53-124`` + ``188-271``).

The reference loops rows sequentially, calling one chat-completion per
article with a 0.2 s sleep (≤5 rows/s ceiling, BASELINE.md).  Here the
whole stage is ONE ``mapInPandas`` operator: each executor task pulls
Arrow batches (sized to the reference's BATCH_SIZE=100 via
``spark.sql.execution.arrow.maxRecordsPerBatch``), runs the enrichment
function per row with a lazily-created per-worker client (mirroring the
lazy global client at ``Main.py:29-32,92-101``) and per-task rate
limiting, and emits input columns + the three LLM fields together — the
reference's left join (O16, ``Main.py:254``) and concat (O17,
``Main.py:255``) disappear from the plan entirely.

Faithful semantics preserved:
  * prompt template (``Main.py:76-83``), gpt-3.5-turbo, temperature=0,
    JSON response mode, single attempt (no retries), ``Main.py:106-111``
  * JSON parse with "N/A" defaults per field (``Main.py:117-119``)
  * in-band ``ERROR_API`` sentinel on any failure (``Main.py:87,101,124``)
  * ``DISABLE_LLM`` env -> deterministic offline triple (``Main.py:86-87``)
  * ``summary_llm`` -> ``market_impact_summary`` rename (``Main.py:258``)
  * one driver-side run timestamp stamped on every row — a literal, not
    per-executor ``current_timestamp()`` (``Main.py:259``)

Scale notes: the calls block on the network, so each task overlaps
the calls of one Arrow batch on a thread pool of ``LLM_MAX_IN_FLIGHT``
threads (output keeps row order); call concurrency comes from in-flight
requests, not from how many files the input happens to have.  The rate
budget is unchanged: concurrent task rates ADD, so each of N tasks
sleeps ``N * rate_delay`` per row after each batch, and the sum stays at
the reference's single-thread ``1/rate_delay`` rows/s budget.  Transport
is injectable (``set_transport``) so tests never touch the network.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections.abc import Callable, Iterator
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime
from functools import partial

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from project_market_pulse_etl_pipeline_with_llm_integration_spark.config import (
    BATCH_SIZE,
    CATEGORIES_TO_KEEP,
    ERROR_SENTINEL,
    LLM_MAX_IN_FLIGHT,
    OFFLINE_TRIPLE,
)
from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.sample import exact_sample
from project_market_pulse_etl_pipeline_with_llm_integration_spark.sources.writers import (
    write_parquet_timestamped,
)

# Injectable transport: (prompt) -> raw JSON string from the model.
# Tests install a deterministic fake; production lazily builds an OpenAI
# client per worker process.  Kept module-level so each Python worker
# initializes it at most once (reference's lazy global, Main.py:29-32);
# the lock makes that hold when a task's calls overlap on threads.
Transport = Callable[[str], str]
_transport: Transport | None = None
_client_lock = threading.Lock()


def set_transport(fn: Transport | None) -> None:
    global _transport
    _transport = fn


def build_prompt(title: str, content: str) -> str:
    """Prompt template — verbatim semantics of ``Main.py:76-83``."""
    return (
        "Analyze the following article and provide THREE data points in JSON format: "
        "1. The sentiment, choosing ONLY one of: 'Positive', 'Negative', 'Neutral'. "
        f"2. The CATEGORY, choosing ONLY one from this list: {', '.join(CATEGORIES_TO_KEEP)}. "
        "3. A concise summary of a maximum of 2 sentences explaining why this could be "
        "affecting the global markets. "
        "Ensure the JSON keys are 'sentiment', 'category', and 'summary'."
        f"\nTitle: {title}\nContent: {content}"
    )


def _openai_transport() -> Transport:
    """One chat-completion per call (``Main.py:106-111``) on a new client."""
    from openai import OpenAI  # lazy import mirrors Main.py:95

    client = OpenAI(api_key=os.environ.get("OPENAI_API_KEY", ""))

    def call(p: str) -> str:
        resp = client.chat.completions.create(
            model="gpt-3.5-turbo",
            messages=[{"role": "user", "content": p}],
            response_format={"type": "json_object"},
            temperature=0.0,
        )
        return resp.choices[0].message.content

    return call


def _default_transport(prompt: str) -> str:
    """Production transport: builds the worker's client on first use and
    caches it as ``_transport`` for subsequent rows."""
    global _transport
    with _client_lock:
        if _transport is None:
            _transport = _openai_transport()
        call = _transport
    return call(prompt)


def _llm_disabled() -> bool:
    return os.environ.get("DISABLE_LLM", "").lower() in ("1", "true", "yes")


def enrich_one(
    title: str,
    content: str,
    transport: Transport | None = None,
    disabled: bool | None = None,
) -> tuple[str, str, str]:
    """Enrich a single article -> (sentiment, category, summary).

    Reference ``enriquecer_con_llm_ajustado`` (``Main.py:53-124``):
    single attempt, errors folded into in-band sentinels.  A NULL title
    or content renders as '' in the prompt, as in the dedup gateway's.
    """
    if disabled if disabled is not None else _llm_disabled():
        return OFFLINE_TRIPLE
    prompt = build_prompt(
        "" if title is None else title, "" if content is None else content
    )
    try:
        raw = (transport or _transport or _default_transport)(prompt)
    except Exception:
        return ERROR_SENTINEL, ERROR_SENTINEL, "Error generating summary."
    try:
        out = json.loads(raw)
        return (
            out.get("sentiment", "N/A"),
            out.get("category", "N/A"),
            out.get("summary", "N/A"),
        )
    except Exception:
        return ERROR_SENTINEL, ERROR_SENTINEL, "Error generating summary."


_LLM_FIELDS = [
    T.StructField("sentiment_llm", T.StringType(), True),
    T.StructField("category_llm", T.StringType(), True),
    T.StructField("market_impact_summary", T.StringType(), True),
]


def enrich(
    df: DataFrame,
    rate_delay: float = 0.2,
    run_timestamp: datetime | None = None,
    parallelism: int | None = None,
    transport: Transport | None = None,
    disabled: bool | None = None,
) -> DataFrame:
    """Append LLM columns + run timestamp to ``df`` (needs title/content).

    ``rate_delay`` is the *global* seconds-per-row budget (reference
    default 0.2, ``Main.py:188``): the cluster-wide rate must stay at
    the reference's single-threaded 1/rate_delay rows/s contract.
    """
    spark = df.sparkSession
    # the task slots (the cores, see session.py): the budget is split over
    # the tasks that can run at once, not over the partitions
    tasks = parallelism or spark.sparkContext.defaultParallelism
    # N concurrent tasks each emitting at 1/(N*rate_delay) rows/s sum to
    # the global 1/rate_delay contract, so each task sleeps N*rate_delay
    # per row.  (Dividing instead would compound to N^2/rate_delay.)
    # When tasks queue rather than run concurrently the aggregate rate
    # undershoots the budget — the safe direction for an external API;
    # a shared token bucket would be exact but needs cross-task state.
    per_task_delay = (rate_delay or 0.0) * max(tasks, 1) if rate_delay else 0.0

    out_schema = T.StructType(list(df.schema.fields) + _LLM_FIELDS)

    # Capture worker-visible state at plan-build time: Spark's Python
    # workers are separate processes — driver-side os.environ mutations and
    # module globals (set_transport) do not propagate, so both ride the
    # serialized closure instead.
    transport_fn = transport or _transport
    if disabled is None:
        disabled = _llm_disabled()

    one = partial(enrich_one, transport=transport_fn, disabled=disabled)

    def run_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # The calls block on the network: overlap up to LLM_MAX_IN_FLIGHT
        # of them per task.  pool.map keeps row order.
        with ThreadPoolExecutor(max_workers=LLM_MAX_IN_FLIGHT) as pool:
            for pdf in batches:
                triples = list(pool.map(one, pdf["title"].tolist(), pdf["content"].tolist()))
                if per_task_delay:
                    time.sleep(per_task_delay * len(pdf))
                res = pdf.copy()
                res["sentiment_llm"] = [x[0] for x in triples]
                res["category_llm"] = [x[1] for x in triples]
                res["market_impact_summary"] = [x[2] for x in triples]
                yield res

    run_ts = run_timestamp or datetime.now()
    return df.mapInPandas(run_batches, schema=out_schema).withColumn(
        "etl_processing_time", F.lit(run_ts)
    )


_ARROW_BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"


def enrich_to_parquet(
    spark: SparkSession,
    input_path: str,
    output_folder: str,
    sample_size: int | None = None,
    rate_delay: float = 0.2,
    single_file: bool = False,
) -> str | None:
    """CLI stage entry (reference ``enrich_data_to_s3``, ``Main.py:188-271``)."""
    try:
        df = spark.read.parquet(input_path)
        df = exact_sample(df, sample_size, seed=42)
        # Mirror the reference's micro-batch granularity at the Arrow layer
        # for this stage's write only; later queries keep the session's value.
        prev = spark.conf.get(_ARROW_BATCH_CONF, None)
        spark.conf.set(_ARROW_BATCH_CONF, str(BATCH_SIZE))
        try:
            enriched = enrich(df, rate_delay=rate_delay)
            return write_parquet_timestamped(
                enriched, output_folder, "final_enriched_data", single_file=single_file
            )
        finally:
            if prev is None:
                spark.conf.unset(_ARROW_BATCH_CONF)
            else:
                spark.conf.set(_ARROW_BATCH_CONF, prev)
    except Exception as exc:
        print(f"Error in enrich stage: {exc}")
        return None


def _payload_digest() -> Column:
    """SHA-256 hex of ``title \\x01 content`` with NULL read as '' — the
    key of the dedup gateway and of persisted enrichment caches, so its
    value must never change."""
    return F.sha2(
        F.concat_ws(
            "\x01",
            F.coalesce(F.col("title"), F.lit("")),
            F.coalesce(F.col("content"), F.lit("")),
        ),
        256,
    )


def dedup_payloads(df: DataFrame) -> DataFrame:
    """Distinct (title, content) payloads keyed by a SHA-256 digest —
    the unit of LLM work for the dedup gateway.

    Optimization r13 (guide §5 hash-vs-sort agg): the former
    digest-keyed ``groupBy(digest).agg(first(title), first(content))``
    carried STRING agg buffers, demoting the dedup to SortAggregate
    (sort every payload row twice).  Grouping by the NULL-normalized
    payload itself keeps strings in the GROUPING KEY (hash-aggregable)
    and computes the digest once per UNIQUE payload after the dedup
    instead of once per row.  The coalesce('') normalization is what
    the digest already applied, so the digest↔payload mapping is
    unchanged and exactly one row per digest survives — it also makes
    the representative deterministic (the old first() could pick a
    NULL or '' title arbitrarily, which feed different prompts)."""
    return (
        df.select(
            F.coalesce(F.col("title"), F.lit("")).alias("title"),
            F.coalesce(F.col("content"), F.lit("")).alias("content"),
        )
        .distinct()
        .select(
            _payload_digest().alias("_payload_digest"),
            "title", "content",
        )
    )


def enrich_deduped(
    df: DataFrame,
    rate_delay: float = 0.2,
    run_timestamp: datetime | None = None,
    parallelism: int | None = None,
    transport: Transport | None = None,
    disabled: bool | None = None,
) -> DataFrame:
    """LLM-cost dedup gateway: enrich each DISTINCT (title, content)
    payload exactly once and join the triple back to every carrying
    row — output row-for-row equal to ``enrich(df)`` whenever the
    transport is a pure function of the prompt (pinned by test), at
    one LLM call per unique payload instead of one per row.

    NULL title or content reads as '' on both paths (the digest key and
    ``enrich_one``'s prompt), so NULL payloads are row-for-row equal too.

    The reference pays per ROW (Main.py:177-189 iterates the frame at
    <=5 rows/s with no memoization); on a corpus with duplicate
    articles — exactly what the dedup family measures — the gateway is
    a direct API-cost and wall-clock win, and the rate limiter's
    global budget now meters UNIQUE work.

    Plan: one digest-keyed distinct (shuffle carries digest + one
    payload per key), mapInPandas enrichment over the small distinct
    side, one digest equi-join back (AQE broadcasts the enriched side
    when distinct count is small — the common case that makes the
    gateway worth it).  At 100 TB the alternative full-row enrichment
    is not a join problem at all but a budget one: calls scale with
    DISTINCT payloads, not rows."""
    keyed = df.withColumn("_payload_digest", _payload_digest())
    uniq = dedup_payloads(df)
    enriched = enrich(
        uniq,
        rate_delay=rate_delay,
        run_timestamp=run_timestamp,
        parallelism=parallelism,
        transport=transport,
        disabled=disabled,
    ).select(
        "_payload_digest", "sentiment_llm", "category_llm",
        "market_impact_summary", "etl_processing_time",
    )
    return keyed.join(enriched, "_payload_digest").select(
        *df.columns, "sentiment_llm", "category_llm",
        "market_impact_summary", "etl_processing_time",
    )


def enrich_with_cache(
    df: DataFrame,
    cache: DataFrame | None,
    rate_delay: float = 0.2,
    run_timestamp: datetime | None = None,
    parallelism: int | None = None,
    transport: Transport | None = None,
    disabled: bool | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Cross-RUN enrichment memoization: payloads whose digest already
    sits in ``cache`` (digest -> triple, from prior runs) are answered
    from the cache with ZERO transport calls; only cache misses reach
    the LLM.  Returns ``(enriched_df, new_cache)`` where new_cache =
    cache ∪ freshly-enriched triples — write it back after the run and
    the next ingest pays only for never-seen content.

    Completes the memoization story the dedup gateway starts: the
    gateway collapses duplicates WITHIN a run, the cache collapses
    them ACROSS runs (a daily news ingest re-sees most of yesterday's
    wire copy; the reference re-pays per row per run, Main.py:177-189).
    The zero-calls-on-full-hit contract is pinned by test with a
    poisoned transport that raises on ANY invocation.

    ``etl_processing_time`` is THIS run's stamp on every output row
    (cache hits included) — the column records when the row was
    processed, not when its triple was first computed.

    Plan: digest-keyed distinct, broadcast-or-keyed anti-join against
    the cache to isolate misses, mapInPandas over misses only, union
    of hit + fresh triples, one digest equi-join back.  At 100 TB the
    cache table is itself partitioned by digest — every join here is
    digest-keyed, so co-partitioning holds end-to-end."""
    triple_cols = ["sentiment_llm", "category_llm", "market_impact_summary"]
    spark = df.sparkSession
    if cache is None:
        cache = spark.createDataFrame(
            [], "_payload_digest string, sentiment_llm string, "
            "category_llm string, market_impact_summary string"
        )
    cache = cache.select("_payload_digest", *triple_cols)
    keyed = df.withColumn("_payload_digest", _payload_digest())
    uniq = dedup_payloads(df).localCheckpoint(eager=False)  # hits + misses
    hits = uniq.select("_payload_digest").join(cache, "_payload_digest")
    misses = uniq.join(
        cache.select("_payload_digest"), "_payload_digest", "left_anti"
    )
    fresh = enrich(
        misses,
        rate_delay=rate_delay,
        run_timestamp=run_timestamp,
        parallelism=parallelism,
        transport=transport,
        disabled=disabled,
    ).select("_payload_digest", *triple_cols)
    triples = hits.unionByName(fresh).localCheckpoint(eager=False)
    run_ts = run_timestamp or datetime.now()
    out = (
        keyed.join(triples, "_payload_digest")
        .select(*df.columns, *triple_cols)
        .withColumn("etl_processing_time", F.lit(run_ts))
    )
    new_cache = cache.unionByName(triples).dropDuplicates(["_payload_digest"])
    return out, new_cache
