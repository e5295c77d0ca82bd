"""Plan-regression audit: dump per-query PHYSICAL-PLAN structure stats
for every bench headline query into one JSON — exchanges (shuffles),
broadcast vs sort-merge joins, scans, whole-stage-codegen spans, and
row-at-a-time Python evals.  Structural plan diffs between rounds are
the signal that separates real regressions from host noise (SCALE.md
round-5 environment note): wall-clock moves with the instance, plan
shape only moves with the code.

Usage: python tools/plan_audit.py [out.json]   (runs at sf0.001 — plan
shape is sf-independent for these queries; AQE final plans may differ
at runtime, this audits the static pick)
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from bench import HEADLINE  # noqa: E402
from project_market_pulse_etl_pipeline_with_llm_integration_spark.session import (  # noqa: E402
    get_spark,
)

MARKS = {
    "exchanges": r"Exchange hashpartitioning|Exchange rangepartitioning",
    "broadcast_exchanges": r"BroadcastExchange",
    "bhj": r"BroadcastHashJoin",
    "smj": r"SortMergeJoin",
    "shj": r"ShuffledHashJoin",
    "bnlj": r"BroadcastNestedLoopJoin",
    "scans": r"FileScan parquet|Scan parquet",
    "codegen_spans": r"\*\(\d+\)",
    "python_row_eval": r"BatchEvalPython",
    "arrow_eval": r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas|MapInArrow",
    "sorts": r"Sort \[",
    "window_ops": r"Window \[|RunningWindowFunction",
}

# A Project DIRECTLY above a Generate whose expensive expressions
# (HOFs / regex split / md5) re-derive work from the PRE-explode row —
# Catalyst's ExtractGenerator rewrite evaluates that Project once per
# OUTPUT row, the per-output-row re-evaluation pathology (SCALE.md
# round-6).  Bare inline generators are fine (once per input row), and
# expensive calls whose arguments consume the generator's own OUTPUT
# column (md5 of the exploded gram, hash of the exploded shard id) are
# legitimate per-output work — only calls that ignore the generator
# output are flagged.  Should be 0 everywhere; any hit is a regression.
_EXPENSIVE_CALLS = ("transform(", "zip_with(", "split(", "aggregate(", "md5(")
# the child connector under a join branch is prefixed with ':' (':  +-')
# rather than spaces — [\s:]* covers both placements
_PROJ_GEN_RX = re.compile(
    r"Project \[([^\n]*)\]\n[\s:]*\+- (?:\*\(\d+\) )?Generate [^\n]*\[([^\]\n]*)\]$",
    re.M,
)


# Windows with an EMPTY partitionBy serialize into a single task — fine
# only when the frame is provably tiny (a post-aggregate carry of
# |days|/|partitions|/|deciles| rows).  Each legitimate site is
# enumerated with its cardinality bound in SCALE.md "No-partition
# window inventory"; a hit in any query NOT allowlisted there means a
# full-size frame is about to funnel through one task — fail the audit
# loudly instead of shipping a silent serialization point.
NOPART_WINDOW_OK = {
    # query -> proven cardinality bound of the window's input frame
    # (matches the SCALE.md "No-partition window inventory" table;
    # global top-k windows guarded by TakeOrderedAndProject /
    # WindowGroupLimit are excluded by the detector itself, not listed)
    "session_concurrency": "O(active days) day-carry running sum",
    "order_backlog": "O(active days) day-carry running sum (the session_concurrency bound applied to order lifecycles)",
    "repeat_purchase": "distinct whole-day gap histogram — O(calendar span) rows for the median rank selection",
    "compaction_plan": "O(planned output files) running byte sum",
    "classifier_calibration": "10-row decile frame",
    "vocab_build": "vocab capped at 200 rows by contract",
    "vocab_encode": "vocab capped at 200 rows by contract",
    "vocab_roundtrip": "vocab capped at 200 rows by contract",
    "skyline_pareto": "phase-2 input = partition-local frontier survivors",
    "rfm_segments": "three ntile(4) quartile windows over the "
                    "per-customer aggregate — one row per customer "
                    "after the aggregate",
    "ab_uplift_ci": "replicate-uplift frame bounded by B = 32 rows",
    "mixture_waterfill": "post-agg per-source supply frame — O(|sources|) "
                         "rows (tens), the water-level cut windows",
    "mann_whitney": "bucket-offset carry bounded at 1024 range buckets "
                    "by construction (_bucketed_prefix)",
    "ks_two_sample": "bucket-offset carry bounded at 1024 range buckets "
                     "by construction (_bucketed_prefix)",
    "gini_concentration": "bucket-offset carry bounded at 1024 range "
                          "buckets by construction (_bucketed_prefix)",
    "vocab_growth": "curve frame fixed at 20 doc-id range bins by "
                    "construction (VOCAB_GROWTH_BINS)",
    "robust_uplift": "bucket-offset carry bounded at 1024 range buckets "
                     "by construction (_bucketed_prefix)",
    "quantile_treatment_effect": "bucket-offset carry bounded at 1024 "
                                 "range buckets by construction "
                                 "(_bucketed_prefix)",
    "funnel_arm_compare": "3-row funnel-stage frame (bounded by funnel "
                          "depth) for the previous-stage lag",
    "abc_classification": "bucket-offset carry bounded at 1024 range "
                          "buckets by construction (_bucketed_prefix)",
}

# Queries whose size(<expensive call>) Filter is an EXPLICIT semantic
# predicate the operator wrote, not a Catalyst-inferred re-evaluation
# (InferFiltersFromGenerate itself is excluded session-wide since round
# 8 — session.py).  A filter on a derived value inherently computes it;
# these are scan-local CPU by design, cheaper than materializing the
# array through a barrier.
SIZE_FILTER_OK = {
    "bpe_pair_counts": "explicit >= 2-token gate before pair windows; "
                       "split runs in the scan stage only",
    "retrieval_eval": "scan-side query-term-overlap prefilter IS the "
                      "operator (postings filtered pre-shuffle)",
    "doc_stitch_overlap": "explicit >= k-token gate before the boundary "
                          "grams; split runs in the scan stage only",
    "retrieval_ndcg": "same scan-side query-term-overlap relevance rule "
                      "as retrieval_eval — the filter IS the qrels",
}


def count_nopart_windows(plan: str) -> int:
    """Window nodes whose partition spec is EMPTY and whose input is
    NOT structurally limited.  The node prints its non-empty specs as
    trailing top-level bracket groups: ``[exprs], [part], [order]``
    when both are set, ``[exprs], [part]`` for partition-only,
    ``[exprs], [order]`` for order-only (the serializing case).
    Partition and order groups are told apart by the sort-direction
    tokens only order specs carry.

    A global window above ``TakeOrderedAndProject`` /
    ``WindowGroupLimit`` / a Limit is NOT counted: Catalyst's top-k
    rewrite (LimitPushDownThroughWindow / InferWindowGroupLimit) means
    every upstream partition contributes at most k rows, so the single
    task sees O(k) input — the distributed top-k plan, fine at any
    scale.  Only an UNGUARDED global window funnels a full-size frame
    through one task.

    The guard is found by scanning DOWN past pass-through nodes (Sort,
    Exchange, Project, codegen/adapter wrappers — Spark prints a Sort
    between the Window and its limit) to the first materializing child
    (advice r7): checking only the immediate next line both miscounted
    guarded top-k plans (loud false positive, guard hidden behind the
    Sort) and let an unrelated Limit directly below an unguarded
    window suppress a real hit (silent false negative)."""
    passthrough = (
        "Sort ", "Sort[", "Exchange", "ShuffleQueryStage", "AQEShuffleRead",
        "InputAdapter", "WholeStageCodegen", "Project", "ColumnarToRow",
        "ReusedExchange", "Coalesce",
    )
    guards = ("TakeOrderedAndProject", "WindowGroupLimit", "LocalLimit",
              "GlobalLimit")

    def _node(line: str) -> str:
        # strip tree-drawing prefix (spaces, +- : * and codegen ids)
        i = 0
        while i < len(line) and line[i] in " +-:*()0123456789":
            i += 1
        return line[i:]

    def _guarded(lines: list[str], idx: int) -> bool:
        for nxt in lines[idx + 1 : idx + 12]:
            node = _node(nxt)
            if not node:
                continue
            if any(node.startswith(g) for g in guards):
                return True
            if any(node.startswith(p) for p in passthrough):
                continue
            return False  # first materializing child is not a guard
        return False

    hits = 0
    lines = plan.splitlines()
    for idx, line in enumerate(lines):
        at = line.find("Window [")
        if at < 0:
            continue
        if _guarded(lines, idx):
            continue
        rest = line[at + len("Window ") :]
        groups, buf, depth = [], [], 0
        for ch in rest:
            if ch == "[":
                depth += 1
                if depth == 1:
                    buf = []
                    continue
            elif ch == "]":
                depth -= 1
                if depth == 0:
                    groups.append("".join(buf))
                    continue
            if depth >= 1:
                buf.append(ch)
        specs = groups[1:]  # group 0 is the window expressions
        has_partition = any(
            g.strip() and " ASC" not in g and " DESC" not in g for g in specs
        )
        if not has_partition:
            hits += 1
    return hits


def _paren_arg(text: str, open_idx: int) -> str:
    depth, i = 0, open_idx
    while i < len(text):
        if text[i] == "(":
            depth += 1
        elif text[i] == ")":
            depth -= 1
            if depth == 0:
                return text[open_idx + 1 : i]
        i += 1
    return text[open_idx + 1 :]


def count_generate_companions(plan: str) -> int:
    hits = 0
    for m in _PROJ_GEN_RX.finditer(plan):
        proj, gen_out = m.group(1), m.group(2)
        # Match the generator's output attributes by their FULL
        # name#exprId token (word-bounded), not a bare name substring —
        # a short alias like 'c' would otherwise match almost any
        # argument text and silently suppress real hits.
        out_refs = [
            re.compile(r"(?<![\w#])%s#%s\b" % (re.escape(nm), eid))
            for nm, eid in re.findall(r"(\w+)#(\d+)", gen_out)
        ]
        for call in _EXPENSIVE_CALLS:
            start = 0
            while True:
                at = proj.find(call, start)
                if at < 0:
                    break
                arg = _paren_arg(proj, at + len(call) - 1)
                if not any(rx.search(arg) for rx in out_refs):
                    hits += 1
                start = at + len(call)
    return hits


def count_filter_size_rebuild(plan: str) -> int:
    """Filter nodes that compute ``size(...)`` over an expression still
    CONTAINING an expensive call — the InferFiltersFromGenerate
    pathology (SCALE.md round-7, found on ngram_novelty/phrase_search):
    Catalyst infers ``size(gen_input) > 0`` under an explode,
    CollapseProject has already inlined the whole array build into the
    generator input, and the inferred filter re-runs the build per row
    — typically pushed to the scan, where single-file layouts also run
    it serially.  Healthy plans filter on ``size(attr#id)`` of a
    materialized column (the checkpoint-barrier fix), so any hit is a
    rebuild.  FileScan ``DataFilters:`` echoes of the same predicate
    are not double-counted — only Filter nodes are scanned."""
    hits = 0
    for line in plan.splitlines():
        if "Filter (" not in line and "Filter isnotnull" not in line:
            continue
        if "FileScan" in line:
            continue
        start = 0
        while True:
            at = line.find("size(", start)
            if at < 0:
                break
            arg = _paren_arg(line, at + len("size(") - 1)
            if any(call in arg for call in _EXPENSIVE_CALLS):
                hits += 1
            start = at + len("size(")
    return hits


def main() -> int:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "PLAN_AUDIT.json"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    spark = get_spark(app_name="plan-audit")
    queries = entrymod.queries()
    audit: dict[str, dict[str, int]] = {}
    for name in HEADLINE:
        plan = queries[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        stats = {k: len(re.findall(rx, plan)) for k, rx in MARKS.items()}
        # codegen spans count distinct stage ids, not occurrences
        stats["codegen_spans"] = len(set(re.findall(r"\*\((\d+)\)", plan)))
        stats["generate_companion_expr"] = count_generate_companions(plan)
        stats["window_noparts"] = count_nopart_windows(plan)
        stats["filter_size_rebuild"] = count_filter_size_rebuild(plan)
        audit[name] = stats
    with open(out_path, "w") as fh:
        json.dump(audit, fh, indent=1, sort_keys=True)
    n_row_eval = [q for q, s in audit.items() if s["python_row_eval"]]
    n_gen = [q for q, s in audit.items() if s["generate_companion_expr"]]
    n_nopart = [
        q for q, s in audit.items()
        if s["window_noparts"] and q not in NOPART_WINDOW_OK
    ]
    n_size_rebuild = [
        q for q, s in audit.items()
        if s["filter_size_rebuild"] and q not in SIZE_FILTER_OK
    ]
    print(f"{len(audit)} queries audited -> {out_path}")
    print(f"row-at-a-time Python in: {n_row_eval or 'NONE'}")
    print(f"Generate-companion-expr in: {n_gen or 'NONE'}")
    print(f"UNEXPLAINED no-partition windows in: {n_nopart or 'NONE'}")
    print(f"UNEXPLAINED size-filter rebuilds in: {n_size_rebuild or 'NONE'}")
    return 1 if (n_nopart or n_size_rebuild) else 0


if __name__ == "__main__":
    raise SystemExit(main())
