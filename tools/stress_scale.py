"""Scale-up stress: build an ~sf1 dataset (10x sf0.1) in /tmp by
replicating sf0.1 with shifted keys, then run the heavy operators and
print per-query wall seconds next to their sf0.1 baseline.

The point is the SHAPE of the scaling, not the absolute numbers: an
operator whose cost is linear in rows should land near 10x its sf0.1
time on 32 cores; anything super-linear (a blocking bucket gone
quadratic, a broadcast that stopped fitting) shows up as a blow-up.
Replica texts get a per-replica suffix token so replicated documents
are NEAR-duplicates (jaccard ~0.97) — deliberately adversarial for
the dedup family: every source doc becomes a 10-copy near-dup family,
so pair volume grows 45 pairs/doc ON TOP of the 10x row growth.

Usage: python tools/stress_scale.py [replicas=10]
Writes /tmp/stress_sfN (re-used if present; delete to rebuild).
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from project_market_pulse_etl_pipeline_with_llm_integration_spark.session import (  # noqa: E402
    get_spark,
)

SRC = "/root/testdata/sf0.1"
KEYED = {
    # table -> {column: shift_base}; shift = replica * base keeps keys
    # disjoint across replicas and FKs consistent (same base per key
    # family everywhere it appears)
    "lineitem": {"l_orderkey": 10_000_000, "l_partkey": 1_000_000, "l_suppkey": 100_000},
    "orders": {"o_orderkey": 10_000_000, "o_custkey": 1_000_000},
    "customer": {"c_custkey": 1_000_000},
    "part": {"p_partkey": 1_000_000},
    "supplier": {"s_suppkey": 100_000},
    "events": {"event_id": 100_000_000, "user_id": 1_000_000},
    "documents": {"doc_id": 1_000_000},
    "embeddings": {"vec_id": 1_000_000},
    "nation": {}, "region": {},
}

STRESS_QUERIES = [
    "tpch_q1", "tpch_q5", "tpch_q9", "dense_id", "agg_pricing_summary",
    "join_multiway_broadcast", "window_rank",
    "dedup_exact", "dedup_minhash", "dedup_jaccard", "dedup_containment",
    "bm25_topk", "tfidf_topterms", "inverted_index", "text_stats",
    "ann_bruteforce", "ann_quantized", "hybrid_rrf",
    "session_concurrency", "coactivity_pairs", "interval_union",
    "heavy_hitters", "skew_report", "assoc_rules", "cusum_changepoint",
    # round-6 additions: the remaining corpus-shape-dependent heavies
    # (candidate volume depends on blocking-key distributions, so 10x
    # behavior can't be extrapolated from the linear families) plus the
    # two queries retuned this round
    "record_linkage", "source_overlap", "split_contamination",
    "perplexity_bigram",
    # round-6 new/rewritten winnow family: the 10-copy near-dup corpus
    # is adversarial here too (every family shares most fingerprints)
    "winnow_fingerprint", "dedup_winnow",
    # round-7 additions: gram-volume-dependent novelty scan and the
    # fixed-round graph propagation (both corpus-shape-dependent)
    "ngram_novelty", "label_propagation",
    # round-8 additions: boundary-gram pair fan-out (the 10-copy
    # replica corpus shares boundaries within each family — hot-gram
    # adversarial), KN model-size growth, graph peeling rounds, the
    # scan-local entropy fold (linear control)
    "doc_stitch_overlap", "perplexity_kn", "kcore_peel", "char_entropy",
    # round-8 session-2 additions: the 10-copy near-dup corpus is
    # adversarial for the window-digest dup detectors (every 5-gram
    # recurs ~10x, so coverage ~100% and hit volume ~ row count x 10),
    # the source-pair gram self-join, and the wedge enumeration
    "duplicated_ngram_coverage", "dup_span_mask",
    "source_minhash_overlap", "link_prediction_ra",
    # round-9 additions: the per-epoch global permutation sort (the one
    # corpus-proportional window among the new ops) and the dim-explode
    # profile (dim x rows, linear control); mmr_rerank is page-bounded
    # and dp_noisy_counts is agg-only — both scale-free by construction
    "epoch_shuffle", "embedding_dim_profile",
    # round-9 session-2 additions: the rank-statistic family scales
    # with the distinct per-user-total histogram (shape-dependent under
    # the shifted-key replica corpus), the vocab curve's word-min agg
    # is gram-volume-dependent (near-dup corpus = adversarially slow
    # vocab growth), and the outlier report is the labeled linear
    # control for the embedding family
    "mann_whitney", "quantile_treatment_effect", "vocab_growth",
    "embedding_outliers",
    # round-10 additions: BPE apply rounds over the (replica-shifted)
    # word-type table, the phrase-island + word-stat pipeline, the
    # per-(source,term) relative-risk fan-out, the n x 64 power-
    # iteration explode, the per-user lead window feeding the gap
    # buckets, and the degree/user aggs as linear controls
    "bpe_encode", "rake_keywords", "distinctive_terms",
    "embedding_principal", "session_gap_histogram",
    "degree_distribution", "user_feature_matrix", "precedence_mining",
    # round-11 additions: the bucket-histogram family (per-key agg +
    # broadcast range join — linear controls), the vocabulary-state
    # spectrum ops, the custkey full-outer migration self-join (shape-
    # dependent: customers x years), the cohort join-back, the distinct
    # (cust, brand) fan, the user-keyed conversion join, the nation-
    # pair matrix reduction, and the brand OLS agg (linear control)
    "user_activity_histogram", "revenue_concentration",
    "term_freq_spectrum", "hapax_ratio", "fulfillment_lag",
    "cohort_ltv", "category_penetration", "time_to_conversion",
    "nation_modularity", "discount_elasticity", "spend_migration",
    # round-12 additions: the conditional-min conversion state (linear
    # control over events), the Arrow-batched flaky-transport contract
    # row (mapInPandas throughput over the near-dup corpus).
    # dedup_jaccard is already in the list above; the 10-copy corpus is
    # its adversarial case (block population AND true-pair volume both
    # explode), and its one prefix-indexed plan must stay linear in
    # true pairs.
    "first_touch_conversion", "enrich_flaky_contract",
    # round-13 continuation additions: the two all-pairs embedding
    # audits on their BLAS strategy (10x vectors = 100x pairs — the
    # adversarial case for anything that still enumerated pairs; the
    # sf1 sweep caught both relational plans super-linear and the
    # BLAS auto-switch is what this standing set now regression-pins)
    "knn_label_agreement", "bitext_margin_mining",
]


def build(spark, out_dir: str, replicas: int) -> None:
    for table, shifts in KEYED.items():
        dst = f"{out_dir}/{table}.parquet"
        if os.path.exists(dst):
            continue
        base = spark.read.parquet(f"{SRC}/{table}.parquet")
        if not shifts and table in ("nation", "region"):
            base.write.mode("overwrite").parquet(dst)
            continue
        rep = base.crossJoin(
            spark.range(replicas).select(F.col("id").alias("_rep"))
        )
        for col, k in shifts.items():
            rep = rep.withColumn(col, F.col(col) + F.col("_rep") * k)
        if table == "documents":
            # near-dup replicas: one differing suffix token
            rep = rep.withColumn(
                "text",
                F.when(F.col("_rep") == 0, F.col("text")).otherwise(
                    F.concat(F.col("text"), F.lit(" rep"), F.col("_rep").cast("string"))
                ),
            )
        # the sf0.1 sources are single files, and crossJoin preserves
        # their partitioning — without a repartition the 10x table lands
        # in ONE parquet file and every downstream scan runs at
        # parallelism ~1 (observed: 83x "blow-ups" that were purely
        # this layout artifact).  A real sf1 dataset ships many files;
        # mirror that.
        rep.drop("_rep").repartition(32).write.mode("overwrite").parquet(dst)


def main() -> int:
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out_dir = f"/tmp/stress_sf{replicas}"
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="stress-scale")
    t0 = time.perf_counter()
    build(spark, out_dir, replicas)
    print(f"build: {time.perf_counter() - t0:.1f}s -> {out_dir}")
    queries = entrymod.queries()
    import gc

    for name in STRESS_QUERIES:
        t0 = time.perf_counter()
        try:
            queries[name](spark, out_dir).write.format("noop").mode("overwrite").save()
            print(f"{name}: {time.perf_counter() - t0:.2f}s")
        except Exception as e:  # noqa: BLE001
            print(f"{name}: FAILED {str(e)[:200]}")
        # bench.py's _drain_blocks lesson (re-learned TWICE in r12
        # sweeps): without an explicit GC between queries, dropped
        # localCheckpoint/broadcast blocks pile heap pressure onto
        # late list positions — dedup_winnow read 119 s in-sweep vs
        # 8.2 s isolated at the same HEAD before this drain existed
        gc.collect()
        spark.sparkContext._jvm.System.gc()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
