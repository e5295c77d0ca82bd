"""Stage 2 — LLM enrichment (reference ``Main.py:53-124`` + ``188-271``).

The reference loops rows sequentially, calling one chat-completion per
article with a 0.2 s sleep (≤5 rows/s ceiling, BASELINE.md).  Here the
whole stage is ONE ``mapInPandas`` operator: each executor task pulls
Arrow batches (sized to the reference's BATCH_SIZE=100 via
``spark.sql.execution.arrow.maxRecordsPerBatch``), runs the enrichment
function with a lazily-created per-worker client (mirroring the lazy
global client at ``Main.py:29-32,92-101``) and per-task rate limiting,
and emits input columns + the three LLM fields together — the
reference's left join (O16, ``Main.py:254``) and concat (O17,
``Main.py:255``) disappear from the plan entirely.

Faithful semantics preserved:
  * prompt template (``Main.py:76-83``), gpt-3.5-turbo, temperature=0,
    JSON response mode, single attempt (no retries), ``Main.py:106-111``
  * JSON parse with "N/A" defaults per field (``Main.py:117-119``)
  * in-band ``ERROR_API`` sentinel on any failure (``Main.py:87,101,124``);
    ``enrich_to_parquet`` counts those rows and warns when there are any
  * ``DISABLE_LLM`` env -> deterministic offline triple (``Main.py:86-87``)
  * ``summary_llm`` -> ``market_impact_summary`` rename (``Main.py:258``)
  * one driver-side run timestamp stamped on every row — a literal, not
    per-executor ``current_timestamp()`` (``Main.py:259``)

One plan, one call per distinct payload per task: a task answers each
distinct ``(title, content)`` payload (NULL read as '') once and fans the
answer out to every row that carries it, in row order.  The memo lives
for the whole task and is keyed by a 16-byte digest, so no article text
outlives its batch.  Duplicates in different tasks are called once per
task; to call once per distinct payload across the whole input, let
duplicates share a task: ``enrich(df.repartition("title", "content"))``
(one exchange; NULL and '' hash apart, so coalesce them first if both
occur).  ``enrich_with_cache`` adds the cross-run memo on top.

Scale notes: the calls block on the network, so each task overlaps
the calls of one Arrow batch on a thread pool of ``LLM_MAX_IN_FLIGHT``
threads; call concurrency comes from in-flight requests, not from how
many files the input happens to have.  The rate budget meters answered
payloads, not rows (a memo hit costs no call): concurrent task rates
ADD, so each of N task slots sleeps ``N * rate_delay`` per payload it
answered after each batch, and the sum stays at the reference's
single-thread ``1/rate_delay`` calls/s budget.  Transport is injectable
(``set_transport``) so tests never touch the network.
"""

from __future__ import annotations

import hashlib
import json
import logging
import os
import threading
import time
from collections.abc import Callable, Iterator
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime
from functools import partial

import pandas as pd
from pyspark.sql import Column, DataFrame, Observation, SparkSession
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
_log = logging.getLogger(__name__)


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
    or content renders as '' in the prompt, as in the payload keys.
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


def _payload_key(title: str | None, content: str | None) -> bytes:
    """Fixed-size key of a NULL-normalised payload: NULL reads as ''.
    The title's length prefix keeps ``('ab', 'c')`` and ``('a', 'bc')``
    apart."""
    t = "" if title is None else title
    c = "" if content is None else content
    return hashlib.blake2b(f"{len(t)}:{t}{c}".encode(), digest_size=16).digest()


def enrich(
    df: DataFrame,
    rate_delay: float = 0.2,
    run_timestamp: datetime | None = None,
    transport: Transport | None = None,
    disabled: bool | None = None,
) -> DataFrame:
    """Append LLM columns + run timestamp to ``df`` (needs title/content).

    ``rate_delay`` is the *global* seconds-per-call budget (reference
    default 0.2 s per row, ``Main.py:188``): the cluster-wide rate must
    stay at the reference's single-threaded 1/rate_delay calls/s contract.
    """
    spark = df.sparkSession
    # the task slots (the cores, see session.py): the budget is split over
    # the tasks that can run at once, not over the partitions
    tasks = spark.sparkContext.defaultParallelism
    # N concurrent tasks each calling at 1/(N*rate_delay) calls/s sum to
    # the global 1/rate_delay contract, so each task sleeps N*rate_delay
    # per answered payload.  (Dividing instead would compound to
    # N^2/rate_delay.)  When tasks queue rather than run concurrently the
    # aggregate rate undershoots the budget — the safe direction for an
    # external API; a shared token bucket would be exact but needs
    # cross-task state.
    per_task_delay = rate_delay * max(tasks, 1) if rate_delay else 0.0

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
        # payload key -> answer, for every batch of the task
        memo: dict[bytes, tuple[str, str, str]] = {}
        # The calls block on the network: overlap up to LLM_MAX_IN_FLIGHT
        # of them per task.  pool.map answers in the payloads' order.
        with ThreadPoolExecutor(max_workers=LLM_MAX_IN_FLIGHT) as pool:
            for pdf in batches:
                titles, contents = pdf["title"].tolist(), pdf["content"].tolist()
                keys = [_payload_key(t, c) for t, c in zip(titles, contents)]
                new = {k: tc for k, tc in zip(keys, zip(titles, contents)) if k not in memo}
                if new:
                    memo.update(zip(new, pool.map(one, *zip(*new.values()))))
                if per_task_delay:
                    time.sleep(per_task_delay * len(new))
                triples = [memo[k] for k in keys]
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
    """CLI stage entry (reference ``enrich_data_to_s3``, ``Main.py:188-271``).

    Rows and ``ERROR_API`` rows are counted by an ``Observation`` on the
    write job itself (no extra action, as ``clean_news_observed``); any
    error rows are reported in one warning."""
    try:
        df = spark.read.parquet(input_path)
        df = exact_sample(df, sample_size, seed=42)
        # Mirror the reference's micro-batch granularity at the Arrow layer
        # for this stage's write only; later queries keep the session's value.
        prev = spark.conf.get(_ARROW_BATCH_CONF, None)
        spark.conf.set(_ARROW_BATCH_CONF, str(BATCH_SIZE))
        try:
            obs = Observation()
            enriched = enrich(df, rate_delay=rate_delay).observe(
                obs,
                F.count(F.lit(1)).alias("n_rows"),
                F.count_if(F.col("sentiment_llm") == ERROR_SENTINEL).alias("n_errors"),
            )
            path = write_parquet_timestamped(
                enriched, output_folder, "final_enriched_data", single_file=single_file
            )
        finally:
            if prev is None:
                spark.conf.unset(_ARROW_BATCH_CONF)
            else:
                spark.conf.set(_ARROW_BATCH_CONF, prev)
        counts = obs.get
        if counts["n_errors"]:
            _log.warning(
                "enrich: %d of %d rows are ERROR_API", counts["n_errors"], counts["n_rows"]
            )
        return path
    except Exception as exc:
        print(f"Error in enrich stage: {exc}")
        return None


def _payload_digest() -> Column:
    """SHA-256 hex of ``title \\x01 content`` with NULL read as '' — the
    key of persisted enrichment caches, so its value must never change."""
    return F.sha2(
        F.concat_ws(
            "\x01",
            F.coalesce(F.col("title"), F.lit("")),
            F.coalesce(F.col("content"), F.lit("")),
        ),
        256,
    )


def enrich_with_cache(
    df: DataFrame,
    cache: DataFrame | None,
    rate_delay: float = 0.2,
    run_timestamp: datetime | None = None,
    transport: Transport | None = None,
    disabled: bool | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Cross-RUN enrichment memoization: rows whose payload digest already
    sits in ``cache`` (digest -> triple, from prior runs) are answered
    from the cache with ZERO transport calls; only cache misses reach
    the LLM.  Returns ``(enriched_df, new_cache)`` where new_cache =
    cache ∪ freshly-enriched triples — write it back after the run and
    the next ingest pays only for never-seen content.

    ``enrich``'s per-task memo collapses duplicates WITHIN a run; the
    misses are repartitioned on the digest so that duplicates share a
    task and each new payload costs one call.  The cache collapses them
    ACROSS runs (a daily news ingest re-sees most of yesterday's wire
    copy; the reference re-pays per row per run, Main.py:177-189).  The
    zero-calls-on-full-hit contract is pinned by test with a poisoned
    transport that raises on ANY invocation.

    ``etl_processing_time`` is THIS run's stamp on every output row
    (cache hits included) — the column records when the row was
    processed, not when its triple was first computed.

    Plan: digest-keyed rows joined to the cache (hits) and anti-joined
    to it (misses -> ``enrich``).  The enriched misses are pinned once,
    lazily, because both the output and ``new_cache`` read them."""
    triple_cols = ["sentiment_llm", "category_llm", "market_impact_summary"]
    if cache is None:
        cache = df.sparkSession.createDataFrame(
            [], "_payload_digest string, sentiment_llm string, "
            "category_llm string, market_impact_summary string"
        )
    cache = cache.select("_payload_digest", *triple_cols)
    keyed = df.withColumn("_payload_digest", _payload_digest())
    hits = keyed.join(cache, "_payload_digest")
    misses = keyed.join(cache.select("_payload_digest"), "_payload_digest", "left_anti")
    fresh = enrich(
        misses.repartition("_payload_digest"),
        rate_delay=rate_delay,
        transport=transport,
        disabled=disabled,
    ).localCheckpoint(eager=False)
    run_ts = run_timestamp or datetime.now()
    out = (
        hits.select(*df.columns, *triple_cols)
        .unionByName(fresh.select(*df.columns, *triple_cols))
        .withColumn("etl_processing_time", F.lit(run_ts))
    )
    new_cache = cache.unionByName(
        fresh.select("_payload_digest", *triple_cols)
    ).dropDuplicates(["_payload_digest"])
    return out, new_cache
