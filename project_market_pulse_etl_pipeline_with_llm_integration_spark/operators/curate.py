"""End-to-end corpus curation: the composition proof that the engine's
training-data operators chain into the pipeline they exist for.

    admission filter (C4-style)          # text.with_corpus_filter
    -> exact dedup survivors             # dedup.exact_dedup
    -> near-dup removal (MinHash+LSH     # dedup.minhash_dedup_pairs
       -> connected components           #   + dedup.dup_clusters
       -> one survivor per cluster)      #   (dedup_corpus shape)
    -> benchmark decontamination         # dedup.decontaminate
    -> token-budget mixture draw         # sample.token_budget_mixture
    -> train/val/test assignment         # sample.dataset_split

Each stage only ever REMOVES or TAGS rows, so the row counts form a
monotone funnel and the final corpus is a subset of every intermediate
one — the laws `q_curation_law` exposes to the driver's oracle gate.
Everything upstream is deterministic (hash membership, seeded LSH,
fixed data), which is what makes a drawn corpus a versionable artifact:
re-running the pipeline reproduces it bit-for-bit on any cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from project_market_pulse_etl_pipeline_with_llm_integration_spark.functions.columns import (
    token_count,
)
from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators import dedup
from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.sample import (
    TOKEN_BUDGETS,
    dataset_split,
    token_budget_mixture,
)
from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.text import (
    with_corpus_filter,
)
from project_market_pulse_etl_pipeline_with_llm_integration_spark.sources.readers import (
    cached_scan,
    spread_if_narrow,
)


def curate_corpus(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Run the full curation funnel; returns every stage's frame so
    callers (and the law row) can audit the funnel.  The benchmark
    split for decontamination reuses q_decontaminate's deterministic
    md5 split."""
    docs = cached_scan(spark, f"{sf_dir}/documents.parquet")
    cols = docs.columns

    admitted = with_corpus_filter(docs).filter(F.col("keep")).select(*cols)

    keep_ids = dedup.exact_dedup(admitted).select(F.col("keep_id").alias("doc_id"))
    exact_surv = admitted.join(keep_ids, "doc_id", "left_semi")

    pairs = dedup.minhash_dedup_pairs(spread_if_narrow(exact_surv), threshold=0.6)
    near_surv = dedup.dedup_corpus(exact_surv, pairs).localCheckpoint(eager=False)

    is_bench = F.md5(F.col("doc_id").cast("string")) < "20"
    bench = docs.filter(is_bench)
    verdict = dedup.decontaminate(spread_if_narrow(near_surv.filter(~is_bench)), bench)
    clean = near_surv.filter(~is_bench).join(
        verdict.filter(~F.col("contaminated")).select("doc_id"), "doc_id", "left_semi"
    )

    with_tokens = clean.withColumn("n_tokens", token_count("text").cast("long"))
    mixed = token_budget_mixture(
        with_tokens, "source", "doc_id", TOKEN_BUDGETS, F.col("n_tokens")
    )
    final = dataset_split(mixed, "doc_id")
    return {
        "docs": docs,
        "admitted": admitted,
        "exact_surv": exact_surv,
        "near_surv": near_surv,
        "clean": clean,
        "final": final,
    }


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curated corpus itself (rows-only: LSH upstream); the law row
    below is the driver-checkable contract."""
    return curate_corpus(spark, sf_dir)["final"].select(
        "doc_id", "source", "lang", "n_tokens", "split"
    )


def q_curation_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible funnel laws for the composed pipeline:

    * ``funnel_monotone`` — every stage only removes rows:
      |docs| >= |admitted| >= |exact| >= |near| >= |clean| >= |final|.
    * ``subset_ok`` — the final corpus is contained in the clean stage
      (no stage invents rows).
    * ``splits_exhaustive`` — every final row carries one of the three
      split labels.

    All structural; deterministic upstream makes them oracle
    constants at any sf."""
    stages = curate_corpus(spark, sf_dir)
    counts = [
        stages[k].agg(F.count("*").alias(f"n_{k}"))
        for k in ("docs", "admitted", "exact_surv", "near_surv", "clean", "final")
    ]
    joined = counts[0]
    for c in counts[1:]:
        joined = joined.crossJoin(c)
    escaped = (
        stages["final"]
        .select("doc_id")
        .join(stages["clean"].select("doc_id"), "doc_id", "left_anti")
        .agg(F.count("*").alias("n_escaped"))
    )
    bad_split = stages["final"].agg(
        F.sum(
            (~F.col("split").isin("train", "val", "test")).cast("long")
        ).alias("n_bad_split")
    )
    return joined.crossJoin(escaped).crossJoin(bad_split).select(
        F.lit("curation").alias("method"),
        (
            (F.col("n_docs") >= F.col("n_admitted"))
            & (F.col("n_admitted") >= F.col("n_exact_surv"))
            & (F.col("n_exact_surv") >= F.col("n_near_surv"))
            & (F.col("n_near_surv") >= F.col("n_clean"))
            & (F.col("n_clean") >= F.col("n_final"))
        ).alias("funnel_monotone"),
        (F.col("n_escaped") == 0).alias("subset_ok"),
        (F.col("n_bad_split") == 0).alias("splits_exhaustive"),
    )
