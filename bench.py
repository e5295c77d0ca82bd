"""Benchmark harness: runs the engine's headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line.

Each query is forced to full materialization through the noop sink
(``format("noop")``) so the measured time covers the complete physical
plan — scan, shuffles, UDFs — without driver-side collect overhead.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod  # noqa: E402
from project_market_pulse_etl_pipeline_with_llm_integration_spark.session import (  # noqa: E402
    get_spark,
)
from tests.conftest import codegen_compiles  # noqa: E402

# Representative slice of the operator surface: scan+agg, shuffle joins,
# global ordering, windows, dedup (exact + LSH), ANN, text, enrichment
# plumbing, event-stream batch forms.
HEADLINE = [
    "agg_pricing_summary",
    "tpch_q1",
    "tpch_q3",
    "tpch_q4",
    "tpch_q5",
    "tpch_q7",
    "tpch_q10",
    "tpch_q12",
    "tpch_q13",
    "tpch_q14",
    "tpch_q17",
    "tpch_q18",
    "tpch_q21",
    "salted_agg",
    "join_multiway_broadcast",
    "join_left",
    "dense_id",
    "topk",
    "window_rank",
    "window_running",
    "agg_rollup",
    "dedup_exact",
    "dedup_minhash",
    "dedup_jaccard",
    "dedup_editdistance",
    "dedup_simhash",
    "decontaminate",
    "stratified_sample",
    "tfidf_topterms",
    "cohort_retention",
    "time_rollup",
    "funnel",
    "ann_bruteforce",
    "ann_lsh",
    "bm25_topk",
    "hybrid_rrf",
    "inverted_index",
    "mixture_sample",
    "text_stats",
    "lang_id",
    "enrich_offline",
    "tumbling_window",
    "sessionize",
    # round-5 additions (VERDICT r4 item 5): remaining heavy operators
    # so regressions are caught the round they happen
    "skyline_pareto",
    "heavy_hitters",
    "merge_upsert",
    "snapshot_diff",
    "grouped_median",
    "zorder_layout",
    "dedup_containment",
    "join_bloom_prefilter",
    "quantile_bins",
    "cdc_chunk",
    "repeated_passages",
    "perplexity_rank",
    "vocab_build",
    "corpus_health",
    "scd2_merge",
    "incremental_agg",
    # round-5 session-2 additions: market analytics, graph, BPE counts
    "ohlc_bars",
    "market_basket",
    "attribution",
    "pagerank",
    "bpe_pair_counts",
    "rolling_features",
    "mad_outliers",
    "triangle_count",
    "item_similarity",
    "rfm_segments",
    "event_transitions",
    "rolling_active_users",
    "negative_sample",
    "latency_percentiles",
    "chi2_independence",
    "length_bucket_batches",
    "source_drift",
    "kwic",
    "vocab_encode",
    "shortest_hops",
    "table_profile",
    # round-5 session-3 additions
    "temperature_mixture",
    "quality_classifier",
    "jl_projection",
    "bpe_train",
    "zonemap_prune",
    # round-5 session-4 additions: split hygiene, incremental dedup,
    # chunk-level retrieval, robust stats
    "leakage_safe_split",
    "split_contamination",
    "dedup_incremental",
    "rag_retrieval",
    "trimmed_stats",
    # round-5 session-5 additions: placement, recursion, selection,
    # collocations, IR evaluation
    "rendezvous_shard",
    "recursive_cte",
    "dsir_select",
    "pmi_cooccur",
    "retrieval_eval",
    "quality_percentile_norm",
    "dedup_best_survivor",
    "session_concurrency",
    "ann_quantized",
    "record_linkage",
    "source_overlap",
    "assoc_rules",
    # partsupp-derived TPC-H five
    "tpch_q2",
    "tpch_q9",
    "tpch_q11",
    "tpch_q16",
    "tpch_q20",
    "cascade_delete",
    "compaction_plan",
    "vocab_roundtrip",
    "perplexity_bigram",
    "coactivity_pairs",
    "seasonal_backtest",
    "cusum_changepoint",
    "top_paths",
    "interval_union",
    "sentiment_by_source",
    "skew_report",
    "rate_spikes",
    "jackknife_spread",
    "classifier_calibration",
    "embedding_drift",
    # round-6: was pathologically slow (Generate re-evaluation, fixed);
    # benched so any regression of that class is caught immediately
    "winnow_fingerprint",
    # round-6 new operators: MOSS-style winnow near-copy pairs,
    # embedding-space benchmark decontamination
    "dedup_winnow",
    "semantic_decontaminate",
    # round-7 new operators: tokenizer fertility audit, per-doc n-gram
    # novelty, 3-round label propagation, correlated LATERAL top-k,
    # binary-payload dedup
    "tokenizer_fertility",
    "ngram_novelty",
    "label_propagation",
    "join_lateral",
    "multimodal_dedup",
    # round-7 late additions: per-source exact ROC AUC (rank-sum),
    # inverted-bigram-index phrase search with verification
    "classifier_auc",
    "phrase_search",
    # round-8 additions: graph core peeling, contrastive hard
    # negatives, KN-smoothed perplexity, fragment stitching,
    # char-entropy gate, content-keyed k-fold
    "kcore_peel",
    "hard_negative_mining",
    "perplexity_kn",
    "doc_stitch_overlap",
    "char_entropy",
    "stratified_kfold",
    # round-8 late batch: preference-stream Bradley-Terry fixed point,
    # greedy k-center coreset selection
    "bradley_terry",
    "kcenter_coreset",
    "poisson_bootstrap",
    "k_anonymity",
    "conformal_interval",
    "source_minhash_overlap",
    "link_prediction_ra",
    "duplicated_ngram_coverage",
    "dictionary_tag",
    "kmeans_topics",
    "churn_rate",
    "bandit_replay",
    "retrieval_ndcg",
    "corpus_manifest",
    "dup_span_mask",
    "pq_encode",
    "pq_adc_topk",
    "cuped_adjustment",
    "corpus_diversity",
    "ab_uplift_ci",
    # round 9: MMR page re-rank, DP histogram release, epoch shuffle plan,
    # per-dimension embedding QA
    "mmr_rerank",
    "dp_noisy_counts",
    "epoch_shuffle",
    "embedding_dim_profile",
    "ab_sequential_looks",
    "mixture_waterfill",
    # round 9 batch A: nonparametric tests + concentration (shared
    # bucketed distributed prefix-sum core) and diff-in-differences
    "mann_whitney",
    "ks_two_sample",
    "gini_concentration",
    "did_readout",
    # round 9 batch B: data-quality audits
    "benford_audit",
    "embedding_outliers",
    "vocab_growth",
    # round 9 batch C: experiment guardrail, seasonality, schema union
    "srm_check",
    "acf_daily",
    "union_by_name",
    # round 9 batch D: robust/distributional uplift on the prefix core
    "robust_uplift",
    "quantile_treatment_effect",
    "l_diversity",
    "dow_anomaly",
    # round 9 batch E: product-analytics readouts
    "funnel_arm_compare",
    "growth_accounting",
    "ndr_retention",
    # round 10: BPE inference half (train + apply + per-doc profile),
    # events analytics (dispersion, precedence, feature export), graph
    # health, integer power iteration, RAKE keywords, readability
    "bpe_encode",
    "overdispersion_check",
    "precedence_mining",
    "user_feature_matrix",
    "degree_distribution",
    "embedding_principal",
    "rake_keywords",
    "readability",
    "session_gap_histogram",
    "tenure_hazard",
    "km_survival",
    "distinctive_terms",
    "countmin_topk",
    "stratified_uplift",
    "funnel_windowed",
    "discount_ladder",
    "order_backlog",
    "distance_histogram",
    "mix_shift_decomposition",
    "fk_integrity_audit",
    "repeat_purchase",
    # round 11: distribution/concentration readouts on the shared
    # open-ended GAP_BUCKETS broadcast-range-join machinery
    "user_activity_histogram",
    "weekday_hour_heatmap",
    "order_size_histogram",
    "revenue_concentration",
    "term_freq_spectrum",
    "vector_norm_histogram",
    "fulfillment_lag",
    "return_rate_by_brand",
    "dim_coverage_audit",
    "hapax_ratio",
    "cohort_ltv",
    "category_penetration",
    "time_to_conversion",
    "first_touch_conversion",
    "enrich_flaky_contract",
    "nation_modularity",
    "discount_elasticity",
    "spend_migration",
    "join_asof_nearest",
    "slo_burn",
    "trade_balance",
    "class_separation",
    "seasonality_index",
    "price_realization",
    "supply_concentration",
    "basket_brand_diversity",
    "attribution_linear",
    "revenue_growth",
    # r13 additions
    "interpurchase_time",
    "price_band_mix",
    "dau_mau_stickiness",
    "session_length_histogram",
    "degree_assortativity",
    "credit_exposure",
    "tax_effective_rate",
    "metadata_consistency_audit",
    "line_number_integrity",
    "order_total_reconciliation",
    "knn_label_agreement",
    "abc_classification",
    "single_source_risk",
    "freshness_audit",
    "enrich_dedup_gateway",
    "bitext_margin_mining",
]


# The pre-round-5 headline set (first 43 entries) — the stable
# round-over-round trend subset.  ``SPARK_GRAFT_BENCH_SUBSET`` selects:
#   unset / "full"  -> the whole HEADLINE list (the default; what the
#                      driver records),
#   "trend"         -> the shared-43 trend set (fast local iteration),
#   "name1,name2"   -> an explicit comma-separated list,
#   "<int>"         -> the first N of HEADLINE.
TREND_N = 43


def _select_queries() -> list[str]:
    sel = os.environ.get("SPARK_GRAFT_BENCH_SUBSET", "").strip()
    if not sel or sel == "full":
        return HEADLINE
    if sel == "trend":
        return HEADLINE[:TREND_N]
    if sel.isdigit():
        return HEADLINE[: int(sel)]
    names = [s.strip() for s in sel.split(",") if s.strip()]
    unknown = [n for n in names if n not in HEADLINE]
    if unknown:
        raise SystemExit(f"unknown bench queries: {unknown}")
    return names


# Iterative/graph + checkpoint-heavy queries whose wall time proved the
# most position-sensitive in the r9 driver window (six >2x movers on
# byte-identical plans — VERDICT r9 #2): measured min-of-5 so one GC
# pause or JIT recompile can't own the recorded number.
HEAVY_TIER = {
    "pagerank",
    "triangle_count",
    "shortest_hops",
    "label_propagation",
    "kcore_peel",
    "mad_outliers",
    "bpe_pair_counts",
    "rolling_features",
    "conformal_interval",
    "semantic_decontaminate",
    # r11: the rest of the top-of-profile set (>2.2 s at sf0.1 in the
    # r10 driver run) — min-of-5 + executed-plan capture for all of
    # the queries whose absolute seconds dominate the headline total
    "bpe_encode",
    "source_minhash_overlap",
    "table_profile",
    "countmin_topk",
    "coactivity_pairs",
}

# ---------------------------------------------------------------------------
# Executed-plan (post-AQE) fingerprints for the heavy tier (VERDICT r10
# item 1).  The static plan audit (tools/plan_audit.py) reads the plan
# BEFORE execution — AQE may re-plan at runtime (coalesce shuffle
# reads, demote a broadcast, switch a join strategy), and the r9
# pagerank adjudication had no executed-plan evidence to rule that
# out.  Here, after a heavy query's timed reps, ONE untimed execution
# drives the physical plan directly (AdaptiveSparkPlanExec finalizes
# on first execute) and the FINAL plan's structural skeleton is
# fingerprinted and stored next to the wall time.  A committed
# baseline (EXEC_PLANS.json) makes round-over-round drift loud:
# bench prints any diff, and tools/exec_plan_audit.py is the failing
# gate in the end-of-round sequence.
# ---------------------------------------------------------------------------

# join-strategy / side keywords that are structural, kept in skeleton
_PLAN_KEYWORDS = (
    "Inner", "LeftOuter", "RightOuter", "FullOuter", "LeftSemi",
    "LeftAnti", "Cross", "BuildLeft", "BuildRight", "coalesced",
    "isFinalPlan=true", "isFinalPlan=false",
)


def _plan_skeleton(plan: str) -> list[str]:
    """Normalize an executed-plan string to its structural skeleton:
    per line, the tree depth, the node name, and the structural
    keywords (join type/build side) — exprIds, stat estimates, file
    paths, partition counts and other run-varying noise dropped.  Two
    runs of the same code at the same sf produce the same skeleton;
    a changed join strategy, a lost broadcast, or an extra exchange
    changes it."""
    out = []
    for line in plan.splitlines():
        # whole-stage-codegen markers ("*(14) ") are part of the
        # counted prefix, and codegen ids are assigned in stage-compile
        # order — an id crossing a digit boundary between runs shifts
        # the count by one and flips depth//3 (r12: funnel_windowed's
        # whole "drift" was this).  Pin the marker to a fixed width.
        line = re.sub(r"\*\(\d+\) ", "*(0) ", line)
        # tree depth from the drawing prefix; then strip it
        i = 0
        while i < len(line) and line[i] in " +-:*()0123456789":
            i += 1
        node = line[i:]
        if not node or node.startswith(("Arguments", "Input", "Output",
                                        "Results", "Functions", "Keys",
                                        "Condition", "ReadSchema",
                                        "Location", "PushedFilters",
                                        "Batched", "DataFilters",
                                        "PartitionFilters")):
            continue
        head = re.split(r"[\[(]", node, maxsplit=1)[0].strip()
        # AQE assigns QueryStage ids in readiness order — can vary
        # between runs of the same plan; drop trailing ids
        head = re.sub(r"\s+\d+$", "", head)
        # expression ids (col#1234) are session-assigned and leak into
        # heads whose condition precedes any bracket (e.g. "Filter
        # token#7765 IN (..." splits at the paren AFTER the exprId) —
        # found r12 when 5 of 146 fresh-session fingerprints "drifted"
        # on nothing but these ids.  SENSITIVITY TRADEOFF (review r12):
        # deleting exprIds means a plan change that differs ONLY in
        # which column instance a node references (e.g. swapped
        # self-join sides whose columns share names) no longer changes
        # the fingerprint.  Accepted deliberately: such a swap always
        # co-occurs with a BuildLeft/BuildRight or child-order change
        # at the join node itself (kept structural by _PLAN_KEYWORDS),
        # and normalizing ids to per-plan ordinals instead would
        # re-fingerprint all 177 baselines and orphan the adjudicated
        # alt_fps history for zero caught-drift gain observed so far.
        head = re.sub(r"#\d+", "", head)
        if not head:
            continue
        kws = [k for k in _PLAN_KEYWORDS if k in node]
        out.append(f"{i // 3}|{head}" + ("|" + ",".join(kws) if kws else ""))
    return out


def _capture_exec_plan(df) -> list[str]:
    """Force AQE finalization by executing the physical plan directly
    (one untimed run — ``execute()`` on AdaptiveSparkPlanExec resolves
    the final plan), then return the final plan's skeleton."""
    jqe = df._jdf.queryExecution()
    jqe.executedPlan().execute().count()
    return _plan_skeleton(jqe.executedPlan().toString())


def _exec_plan_baseline_path() -> str:
    return os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "EXEC_PLANS.json"
    )


# Fixed JIT-warming pre-pass: one untimed execution of a plan from each
# major physical family (scan+hash agg, SMJ shuffle join, global window,
# array-intrinsic dedup, iterative checkpoint loop, mapInPandas UDF) so
# the codegen compiler and C2 see every hot path before the first timed
# rep — without it, the first queries in list order pay shared-infra
# warmup that later queries never see, skewing cross-position
# comparisons.
WARM_PASS = [
    "tpch_q1",
    "tpch_q3",
    "window_rank",
    "dedup_minhash",
    "pagerank",
    "enrich_offline",
]


def main() -> int:
    import gc

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")
    spark = get_spark(app_name="market-pulse-bench")
    queries = entrymod.queries()
    selected = _select_queries()

    # Names already fingerprinted in the committed baseline: once a
    # query is in EXEC_PLANS.json it stays watched even if its wall
    # time dips under the capture threshold (hysteresis — a plan flip
    # that also made the query faster must not escape the gate).
    baseline_names: set[str] = set()
    if os.path.exists(_exec_plan_baseline_path()):
        try:
            with open(_exec_plan_baseline_path()) as fh:
                _b = json.load(fh)
            if _b.get("sf") == sf:
                baseline_names = set(_b.get("plans", {}))
        except (json.JSONDecodeError, OSError):
            pass

    # Warm the JVM/IO path once so measurements reflect steady state.
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").write.format("noop").mode(
        "overwrite"
    ).save()
    for name in WARM_PASS:
        queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()

    def _drain_blocks() -> None:
        # The ContextCleaner only unpersists dropped localCheckpoint /
        # broadcast blocks after a JVM GC proves them unreachable, and
        # its fallback periodic GC fires every 30 min — never inside
        # one bench run.  Left alone, every query's checkpoint blocks
        # accumulate in the block manager for the whole run and the
        # resulting heap pressure lands on whichever queries run LATE
        # in list order (the r9 positional movers).  Python GC first so
        # py4j releases the JVM-side refs, then one explicit full GC
        # between queries — never during a timed rep.
        gc.collect()
        spark.sparkContext._jvm.System.gc()

    # min-of-3 per query: the first run pays page-cache/JIT/codegen
    # warmup and this host's large scheduling noise (observed 2-10x
    # outliers on identical plans); the min is the steady-state cost of
    # the plan, which is what round-over-round comparisons need.
    times: dict[str, float] = {}
    # generated classes compiled over each query's timed reps: ties a
    # timing move to whole-stage codegen compilation
    compiles: dict[str, int] = {}
    exec_plans: dict[str, list[str]] = {}
    # SPARK_GRAFT_SKIP_CAPTURE=1 disables the per-query untimed
    # capture execution (and hence the drift gate) for THIS run only —
    # the A/B lever for measuring whether the capture tier's ~150
    # extra heavy executes contaminate the timed minimums (VERDICT r12
    # item 3).  Never set it on a driver/recorded run: a capture-off
    # run leaves plan drift invisible.
    skip_capture = os.environ.get("SPARK_GRAFT_SKIP_CAPTURE") == "1"
    for name in selected:
        fn = queries[name]
        best = float("inf")
        # array-intrinsic-heavy dedup plans need ~4 executions before C2
        # reaches steady state (SCALE.md round-3 notes); the HEAVY_TIER
        # movers get 5 reps too; everything else is stable by run 2
        reps = 5 if (name.startswith("dedup_") or name in HEAVY_TIER) else 3
        compiled = codegen_compiles(spark)
        for _ in range(reps):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        compiles[name] = codegen_compiles(spark) - compiled
        times[name] = round(best, 3)
        _drain_blocks()

    # POST-BENCH capture phase (r13, VERDICT r12 item 3): the per-query
    # inline capture tier measurably contaminated the timed minimums of
    # LATER queries — an A/B at identical HEAD (capture on vs off, full
    # 230-query runs) read 183.5 vs 174.1 s = +5.4% systematic (median
    # per-query +4.5%), past the 5% criterion.  All timed reps now
    # complete before the first capture execute, so capture heap/GC
    # state can never land on a timed rep; the fingerprint gate itself
    # is unchanged (same tier rule, same skeletonizer, same baseline).
    if not skip_capture:
        for name in selected:
            if name in HEAVY_TIER or times[name] > 0.5 or name in baseline_names:
                # one UNTIMED execution captures the post-AQE final
                # plan skeleton (VERDICT r10 item 1) — never a timed
                # rep.  r12 (VERDICT r11 item 2): the fingerprinted
                # tier grows from the 15 HEAVY_TIER queries to EVERY
                # query >0.5 s this run plus everything already in the
                # baseline — 3 of the 15 originally-watched plans
                # flipped within one round, so the unwatched 213 needed
                # the same drift detection.
                exec_plans[name] = _capture_exec_plan(
                    queries[name](spark, sf_dir)
                )
                _drain_blocks()

    # exec-plan drift check vs the committed baseline (same-sf only:
    # AQE coalescing is data-size-dependent, so cross-sf skeletons are
    # not comparable).  SPARK_GRAFT_UPDATE_EXEC_PLANS=1 (or a missing
    # baseline) rewrites the baseline instead of diffing against it.
    exec_plan_diffs: list[str] = []
    # drifted skeletons are STORED, not just printed: the r11
    # source_minhash_overlap drift left only a fingerprint behind,
    # which blocked the build-side-flip verification the adjudication
    # rule requires (SCALE.md standing rule) — never again
    drift_skeletons: dict[str, list[str]] = {}
    bpath = _exec_plan_baseline_path()
    fps = {n: hashlib.sha256("\n".join(sk).encode()).hexdigest()[:16]
           for n, sk in exec_plans.items()}
    if exec_plans:
        baseline = None
        if os.path.exists(bpath):
            with open(bpath) as fh:
                baseline = json.load(fh)
        update = os.environ.get("SPARK_GRAFT_UPDATE_EXEC_PLANS") == "1"
        if baseline is not None and baseline.get("sf") == sf and not update:
            for n, sk in exec_plans.items():
                want = baseline["plans"].get(n)
                # adjudicated bistable plans carry the accepted
                # alternates in alt_fps (e.g. an AQE build-side pick
                # on a near-tie join flips run-to-run); a fingerprint
                # outside the accepted SET still fails loudly
                if want is not None and fps[n] in want.get("alt_fps", []):
                    continue
                if want is not None and want["skeleton"] != sk:
                    exec_plan_diffs.append(n)
                    drift_skeletons[n] = sk
                    print(f"EXEC-PLAN DIFF {n}: baseline "
                          f"{want['fp']} vs current {fps[n]}")
                    import difflib

                    for dl in difflib.unified_diff(
                        want["skeleton"], sk, "baseline", "current", n=1
                    ):
                        print(f"  {dl}")
            # new heavy queries join the baseline without failing it —
            # but only from a FULL run (review r12): a subset/isolated
            # run can capture an AQE shape under readiness-order
            # conditions a full session never reproduces, and the
            # >0.5 s capture threshold makes subset enrollment
            # timing-dependent; a shape first enrolled that way would
            # bake a provisional plan in as the baseline.
            new = ({n for n in exec_plans if n not in baseline["plans"]}
                   if selected is HEADLINE else set())
            if new:
                baseline["plans"].update({
                    n: {"fp": fps[n], "skeleton": exec_plans[n]} for n in new
                })
                with open(bpath, "w") as fh:
                    json.dump(baseline, fh, indent=1, sort_keys=True)
                    fh.write("\n")
        elif selected is HEADLINE:
            # only a FULL run may (re)write the baseline — a subset
            # run reaching here (different sf / update flag) would
            # clobber the committed file down to its few queries and
            # silently disarm the drift gate for the rest (review r11)
            #
            # Adjudicated bistable alternates SURVIVE the rewrite
            # (optimization r13: the first UPDATE run silently dropped
            # every alt_fps/alt_skeletons pair, and the very next full
            # run re-flagged degree_assortativity's build-side flip —
            # an adjudication is evidence about the QUERY's AQE
            # near-tie, not about one baseline file).  An alternate is
            # carried forward only while the accepted set still
            # contains the newly captured shape; a genuinely new plan
            # starts from a clean slate.
            plans = {}
            for n, sk in exec_plans.items():
                entry = {"fp": fps[n], "skeleton": sk}
                # same-sf only: cross-sf skeletons are not comparable
                prev = (baseline["plans"].get(n)
                        if baseline is not None and baseline.get("sf") == sf
                        else None)
                if prev is not None:
                    accepted = {prev["fp"]: prev["skeleton"],
                                **prev.get("alt_skeletons", {})}
                    if fps[n] in accepted:
                        alts = [f for f in ([prev["fp"]]
                                            + prev.get("alt_fps", []))
                                if f != fps[n] and f in accepted]
                        if alts:
                            entry["alt_fps"] = alts
                            entry["alt_skeletons"] = {
                                f: accepted[f] for f in alts
                            }
                plans[n] = entry
            with open(bpath, "w") as fh:
                json.dump({"sf": sf, "plans": plans},
                          fh, indent=1, sort_keys=True)
                fh.write("\n")
            print(f"exec-plan baseline written: {bpath} "
                  f"({len(exec_plans)} heavy queries)")
        else:
            print("exec-plan baseline NOT updated (subset run at a "
                  "different sf, or update flag on a subset) — run a "
                  "full bench to rewrite it")

    total = round(sum(times.values()), 3)
    detail = {
        "metric": "headline_total_wall",
        "value": total,
        "unit": "sec",
        "queries": times,
        "codegen_compiles": compiles,
        "sf": sf,
        "n_queries": len(times),
        "exec_plan_fp": fps,
        "exec_plan_diffs": exec_plan_diffs,
    }
    if drift_skeletons:
        detail["exec_plan_drift_skeletons"] = drift_skeletons
    # Full per-query detail goes to a committed artifact: the 122-entry
    # dict as a single stdout line overflowed the driver's tail-capture
    # buffer in round 5 (BENCH_r05.json "parsed": null), clipping the
    # line mid-JSON.  The detail file keeps the complete record; stdout
    # keeps a line the capture buffer can always hold.
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    full_run = selected is HEADLINE
    if full_run:
        with open(detail_path, "w") as f:
            json.dump(detail, f, indent=1, sort_keys=True)
            f.write("\n")
    print(json.dumps(detail))
    # LAST line = compact summary (<600 bytes): a tail capture of any
    # reasonable size ends with this complete, parseable JSON line.
    slowest = dict(
        sorted(((k, round(v, 2)) for k, v in times.items()),
               key=lambda kv: -kv[1])[:10]
    )
    summary = {
        "metric": "headline_total_wall",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(times),
        "queries": slowest,
    }
    if exec_plans:
        summary["exec_plan_diffs"] = exec_plan_diffs
    if full_run:
        # only a full run refreshes the artifact; a subset line must not
        # point readers at another run's data
        summary["detail"] = "BENCH_DETAIL.json"
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
