"""Hand-case and invariant tests for the market-analytics operators
(OHLC bars, market basket, attribution) and fixed-point PageRank."""

from __future__ import annotations

from datetime import datetime

from conftest import SF_SMALL, build_jobs

from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators import (
    graph,
    market,
)


def test_ohlc_hand_case(spark):
    rows = [
        (1, datetime(2026, 1, 1, 10, 0, 5), "s1", 10.0),
        (2, datetime(2026, 1, 1, 10, 30, 0), "s1", 30.0),
        (3, datetime(2026, 1, 1, 10, 59, 59), "s1", 20.0),
        (4, datetime(2026, 1, 1, 11, 0, 0), "s1", 7.0),
        (5, datetime(2026, 1, 1, 10, 15, 0), "s2", 1.0),
    ]
    df = spark.createDataFrame(rows, ["event_id", "ts", "event_type", "value"])
    out = {
        (r["series"], r["bar_hour"].hour): r
        for r in market.ohlc_bars(df).collect()
    }
    b = out[("s1", 10)]
    assert (b["open"], b["high"], b["low"], b["close"]) == (10.0, 30.0, 10.0, 20.0)
    assert b["volume"] == 3 and b["sum_value"] == 60.0
    assert out[("s1", 11)]["open"] == 7.0
    assert out[("s2", 10)]["volume"] == 1


def test_ohlc_tie_breaks_on_event_id(spark):
    # two ticks at the SAME timestamp: open/close must pick by event_id
    ts = datetime(2026, 1, 1, 9, 1, 1)
    df = spark.createDataFrame(
        [(2, ts, "x", 5.0), (1, ts, "x", 3.0)],
        ["event_id", "ts", "event_type", "value"],
    )
    b = market.ohlc_bars(df).collect()[0]
    assert b["open"] == 3.0 and b["close"] == 5.0


def test_market_basket_hand_case(spark):
    rows = [
        (1, 10), (1, 20), (1, 30),
        (2, 10), (2, 20),
        (3, 10), (3, 20),
        (3, 10),  # duplicate line: must count once per order
    ]
    df = spark.createDataFrame(rows, ["l_orderkey", "l_partkey"])
    out = {(r["p1"], r["p2"]): r["n_orders"] for r in
           market.market_basket_pairs(df, topk=10).collect()}
    assert out[(10, 20)] == 3
    assert out[(10, 30)] == 1 and out[(20, 30)] == 1


def test_market_basket_degenerate_order_dropped(spark):
    big = [(99, p) for p in range(100)] + [(1, 1), (1, 2)]
    df = spark.createDataFrame(big, ["l_orderkey", "l_partkey"])
    out = market.market_basket_pairs(df, topk=1000, max_basket=64).collect()
    # the 100-part basket is dropped entirely; only the pair from order 1
    assert len(out) == 1 and (out[0]["p1"], out[0]["p2"]) == (1, 2)


def test_attribution_last_touch_and_lookback(spark):
    rows = [
        # user 1: view -> click -> purchase (credit click, the later touch)
        (1, 1, datetime(2026, 1, 1, 10, 0), "view"),
        (2, 1, datetime(2026, 1, 1, 11, 0), "click"),
        (3, 1, datetime(2026, 1, 1, 12, 0), "purchase"),
        # user 2: touch 30h before purchase -> outside 24h lookback
        (4, 2, datetime(2026, 1, 1, 0, 0), "click"),
        (5, 2, datetime(2026, 1, 2, 6, 0), "purchase"),
        # user 3: purchase with no touches at all
        (6, 3, datetime(2026, 1, 1, 9, 0), "purchase"),
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "ts", "event_type"])
    out = {r["conversion_id"]: r for r in
           market.attribution_last_touch(df).collect()}
    assert out[3]["touch_event_id"] == 2 and out[3]["touch_type"] == "click"
    assert out[3]["gap_seconds"] == 3600
    assert out[5]["touch_event_id"] is None  # outside lookback, row kept
    assert out[6]["touch_event_id"] is None


def test_pagerank_star_graph(spark):
    # star: hub 0 <-> leaves 1..4 (bidirectional).  The hub must outrank
    # every leaf, and all leaves are symmetric -> identical ranks.
    edges = []
    for leaf in (1, 2, 3, 4):
        edges.append((0, leaf))
        edges.append((leaf, 0))
    df = spark.createDataFrame(edges, ["src", "dst"])
    ranks = {r["node"]: r["rank"] for r in
             graph.pagerank_fixed_point(df, iters=5).collect()}
    assert len(ranks) == 5
    leaf_ranks = {ranks[i] for i in (1, 2, 3, 4)}
    assert len(leaf_ranks) == 1  # exact integer equality, not approx
    assert ranks[0] > ranks[1]


def test_pagerank_mass_is_bounded(spark):
    # teleport-only floor: every node's rank >= TELEPORT, and the total
    # never exceeds the initial mass (div truncation only loses mass)
    out = graph.q_pagerank(spark, SF_SMALL).collect()
    assert len(out) == 20
    assert all(r["rank"] >= graph.PR_TELEPORT for r in out)
    assert [r["pr_rank"] for r in out] == list(range(1, 21))
    # descending by (rank, node) total order
    pairs = [(r["rank"], -r["node"]) for r in out]
    assert pairs == sorted(pairs, reverse=True)


def test_rolling_features_hand_case(spark):
    from datetime import datetime as dt

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators import analytics

    # monkeypatch-free: build a tiny events frame through the public q_
    # path is overkill; exercise the window math directly via a temp
    # parquet is also overkill — feed the reader's shape
    rows = [
        (1, dt(2026, 1, 1, 10, 0), 7, "purchase", 1.00),
        (2, dt(2026, 1, 1, 11, 0), 7, "purchase", 2.00),
        (3, dt(2026, 1, 1, 12, 0), 7, "purchase", 4.00),
        (4, dt(2026, 1, 1, 10, 30), 7, "view", 99.0),  # filtered out
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value"]
    )
    import project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.analytics as A

    orig = A.read_events
    try:
        A.read_events = lambda spark, sf_dir: df
        out = {r["event_id"]: r for r in A.q_rolling_features(spark, "x").collect()}
    finally:
        A.read_events = orig
    assert set(out) == {1, 2, 3}
    r3 = out[3]
    # cents: 100, 200, 400 -> n=3 sum=700 mean=233.333333*1e4
    assert (r3["n_win"], r3["sum_cents"]) == (3, 700)
    assert r3["mean_1e6"] == (700 * 1_000_000) // 3
    # sample var of (100,200,400) = (3*210000-490000)/6 cents^2
    assert r3["var_1e6"] == ((3 * 210000 - 700 * 700) * 1_000_000) // 6
    assert (r3["min_cents"], r3["max_cents"], r3["delta_cents"]) == (100, 400, 200)
    assert out[1]["var_1e6"] is None and out[1]["delta_cents"] is None


def test_mad_outliers_flags_planted_extreme(spark):
    from datetime import datetime as dt

    import project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.analytics as A

    base = [
        (i, dt(2026, 1, 1, 10, i), 1, "view", float(v))
        for i, v in enumerate([10, 11, 12, 13, 14, 9, 8])
    ]
    base.append((99, dt(2026, 1, 1, 11, 0), 1, "view", 1000.0))
    df = spark.createDataFrame(
        base, ["event_id", "ts", "user_id", "event_type", "value"]
    )
    orig = A.read_events
    try:
        A.read_events = lambda spark, sf_dir: df
        out = A.q_mad_outliers(spark, "x").collect()
    finally:
        A.read_events = orig
    assert [r["event_id"] for r in out] == [99]
    # median of 8..14,1000 at ceil(8/2)=4th value asc = 11; MAD over
    # deviations (3,2,1,0,1,2,3,989) 4th asc = 2
    assert out[0]["med"] == 11.0 and out[0]["mad"] == 2.0


def test_triangle_count_hand_case(spark):
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators import graph

    # orders: {1,2,3} x2 (triangle with support 2), {4,5} x2 (edge only)
    rows = []
    for ok in (10, 11):
        rows += [(ok, 1), (ok, 2), (ok, 3)]
    for ok in (12, 13):
        rows += [(ok, 4), (ok, 5)]
    df = spark.createDataFrame(rows, ["l_orderkey", "l_partkey"])
    edges = graph.copurchase_edges(df, min_support=2)
    got = {(r["a"], r["b"]) for r in edges.collect()}
    assert got == {(1, 2), (1, 3), (2, 3), (4, 5)}


def test_shortest_hops_histogram(spark):
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators import graph

    out = {r["hop"]: r["n_nodes"] for r in
           graph.q_shortest_hops(spark, SF_SMALL).collect()}
    assert out[0] == 1  # the source alone
    assert all(h in (0, 1, 2, 3, 4) for h in out)
    # bipartite: odd hops are suppliers (negative ids), even customers
    assert len(out) >= 2


def test_new_operator_plan_contracts(spark):
    """Physical-plan contracts for the session's join-heavy additions:
    no cartesian/nested-loop joins anywhere (every self-join and label
    attach is keyed), and the market_basket degenerate-basket guard
    rides a broadcast (small filtered side), never a shuffle of the
    pair stream."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators import (
        graph as G,
        market as M,
        similarity as S,
    )

    def plan(df) -> str:
        return df._jdf.queryExecution().executedPlan().toString()

    basket = plan(M.q_market_basket(spark, SF_SMALL))
    assert "CartesianProduct" not in basket
    assert "BroadcastNestedLoopJoin" not in basket
    # the >max_basket anti-join guard broadcasts the tiny violator list
    assert "BroadcastHashJoin" in basket and "LeftAnti" in basket

    tri = plan(G.q_triangle_count(spark, SF_SMALL))
    assert "CartesianProduct" not in tri
    # exactly two nested-loop joins: the 1-row x 1-row x 1-row scalar
    # combine of (n_nodes, n_edges, n_triangles) — the wedge/closure
    # joins themselves must be keyed (hash/merge), never nested-loop
    assert tri.count("BroadcastNestedLoopJoin") == 2
    assert ("BroadcastHashJoin" in tri) or ("SortMergeJoin" in tri)

    pr = plan(G.q_pagerank(spark, SF_SMALL))
    assert "CartesianProduct" not in pr
    assert "BroadcastNestedLoopJoin" not in pr
    # top-k is a TakeOrdered, never a global Sort of the rank vector
    assert "TakeOrderedAndProject" in pr

    neg = plan(S.q_negative_sample(spark, SF_SMALL))
    assert "CartesianProduct" not in neg
    # one nested-loop join: the broadcast 1-row corpus-count attach;
    # the label-fetch join on neg_id must be a keyed hash join
    assert neg.count("BroadcastNestedLoopJoin") == 1
    assert "BroadcastHashJoin" in neg or "SortMergeJoin" in neg


def test_rfm_cells_consistent(spark):
    rows = market.q_rfm_segments(spark, SF_SMALL).collect()
    n = len(rows)
    for r in rows:
        assert 1 <= r["r_score"] <= 4 and 1 <= r["f_score"] <= 4
        assert r["rfm_cell"] == f"{r['r_score']}{r['f_score']}{r['m_score']}"
    # quartiles are balanced: each score's buckets differ by at most 1
    from collections import Counter

    for col in ("r_score", "f_score", "m_score"):
        c = Counter(r[col] for r in rows)
        assert set(c) == {1, 2, 3, 4}
        assert max(c.values()) - min(c.values()) <= 1
        assert sum(c.values()) == n


def test_kwic_contexts(spark):
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators import text as T

    rows = T.q_kwic(spark, SF_SMALL).collect()
    assert rows, "corpus contains the query term"
    docs = {
        r["doc_id"]: r["text"].strip().split()
        for r in spark.read.parquet(f"{SF_SMALL}/documents.parquet").collect()
    }
    for r in rows[:50]:
        tk = docs[r["doc_id"]]
        p = r["pos0"]
        assert tk[p] == "spark" == r["term"]
        assert r["left_ctx"] == " ".join(tk[max(p - 3, 0):p])
        assert r["right_ctx"] == " ".join(tk[p + 1:p + 4])


def test_cross_operator_consistency(spark):
    """Differential checks across independent code paths that must
    agree: grouped_median == latency_percentiles.p50 per group, and
    market_basket counts == item_similarity cooc for shared pairs."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators import analytics

    med = {
        r["event_type"]: r["median_value"]
        for r in analytics.q_grouped_median(spark, SF_SMALL).collect()
    }
    p50 = {
        r["event_type"]: r["p50"]
        for r in analytics.q_latency_percentiles(spark, SF_SMALL).collect()
    }
    assert med == p50

    basket = {
        (r["p1"], r["p2"]): r["n_orders"]
        for r in market.q_market_basket(spark, SF_SMALL).collect()
    }
    sim = {
        (r["p1"], r["p2"]): r["cooc"]
        for r in market.q_item_similarity(spark, SF_SMALL).collect()
    }
    shared = set(basket) & set(sim)
    assert shared, "top lists overlap on this corpus"
    for pair in shared:
        assert basket[pair] == sim[pair]


def test_new_ops_prune_scans(spark):
    """Column-pruning contracts: each operator's parquet scan must read
    ONLY the columns its output needs (ReadSchema check — at 100 TB an
    unpruned documents scan drags the text corpus through every query)."""
    import re

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators import (
        analytics,
        text as T,
    )

    expected = {
        "ohlc_bars": (market.q_ohlc_bars, {"event_id", "ts", "event_type", "value"}),
        "market_basket": (market.q_market_basket, {"l_orderkey", "l_partkey"}),
        "rfm_segments": (market.q_rfm_segments,
                         {"o_custkey", "o_orderdate", "o_totalprice"}),
        "bpe_pair_counts": (T.q_bpe_pair_counts, {"text"}),
        "kwic": (T.q_kwic, {"doc_id", "text"}),
        "zipf_law": (T.q_zipf_law, {"text"}),
        "length_bucket_batches": (analytics.q_length_bucket_batches,
                                  {"doc_id", "text"}),
        "source_drift": (analytics.q_source_drift, {"doc_id", "source"}),
    }
    for name, (fn, cols) in expected.items():
        plan = fn(spark, SF_SMALL)._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        read = set()
        for s in re.findall(r"ReadSchema: struct<([^>]*)>", plan):
            read |= {c.split(":")[0] for c in s.split(",") if c}
        assert read <= cols, f"{name} reads extra columns: {read - cols}"


def test_negative_sample_laws(spark):
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators import (
        similarity as S,
    )

    rows = S.q_negative_sample(spark, SF_SMALL).collect()
    n_vec = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").count()
    # exactly 4 negatives per anchor, never the anchor itself
    per_anchor = {}
    for r in rows:
        assert r["neg_id"] != r["vec_id"]
        assert 0 <= r["neg_id"] < n_vec
        assert r["is_hard"] == (r["neg_label"] == r["anchor_label"])
        per_anchor.setdefault(r["vec_id"], set()).add(r["slot"])
    assert len(per_anchor) == n_vec
    assert all(slots == {1, 2, 3, 4} for slots in per_anchor.values())
    # replay determinism
    again = S.q_negative_sample(spark, SF_SMALL).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_rolling_variance_matches_numpy(spark):
    """Property check on random integers: the floor-scaled integer
    variance identity equals numpy's sample variance within 1 ulp of
    the 1e-6 grid."""
    import random

    import numpy as np

    import project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.analytics as A
    from datetime import datetime as dt

    rng = random.Random(7)
    rows = [
        (i, dt(2026, 1, 1, 0, 0, i), 1, "purchase", rng.randint(1, 49000) / 100)
        for i in range(40)
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value"]
    )
    orig = A.read_events
    try:
        A.read_events = lambda spark, sf_dir: df
        out = sorted(A.q_rolling_features(spark, "x").collect(),
                     key=lambda r: r["event_id"])
    finally:
        A.read_events = orig
    cents = [int(round(r[4] * 100)) for r in rows]
    for r in out:
        i = r["event_id"]
        win = cents[max(0, i - 6): i + 1]
        assert r["n_win"] == len(win) and r["sum_cents"] == sum(win)
        if len(win) >= 2:
            want = np.var(np.array(win, dtype=np.float64), ddof=1)
            got = r["var_1e6"] / 1e6
            assert abs(got - want) <= 1e-6 + 1e-9 * want


def test_pagerank_mass_conservation_random_graph(spark):
    """On a random graph, total rank stays within [teleport floor,
    initial mass]: the div truncation only ever loses mass."""
    import random

    rng = random.Random(11)
    nodes = list(range(30))
    edges = list({(rng.choice(nodes), rng.choice(nodes)) for _ in range(120)})
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, ["src", "dst"])
    ranks = graph.pagerank_fixed_point(df, iters=5).collect()
    n = len(ranks)
    total = sum(r["rank"] for r in ranks)
    assert all(r["rank"] >= graph.PR_TELEPORT for r in ranks)
    assert total <= n * graph.PR_INIT
    assert total >= n * graph.PR_TELEPORT


def test_assoc_rules_metric_laws(spark):
    """Directed rules: co-count bounded by both supports, confidence
    and lift reproduce their exact integer definitions, confidence
    <= 1e6."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators import (
        market,
    )
    from tests.conftest import SF_SMALL

    rows = market.q_assoc_rules(spark, SF_SMALL).collect()
    assert rows
    op = (
        spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
        .selectExpr("l_orderkey AS ok", "l_partkey AS pk")
        .distinct()
    )
    n_baskets = op.select("ok").distinct().count()
    for r in rows:
        assert 2 <= r.c_ab <= min(r.c_a, r.c_b)
        assert r.confidence_ppm == (1_000_000 * r.c_ab) // r.c_a <= 1_000_000
        assert r.lift_ppm == (1_000_000 * r.c_ab * n_baskets) // (r.c_a * r.c_b)


def test_session5_ops_prune_scans(spark):
    """Column-pruning contracts for the session-5 operators (same
    ReadSchema rule as test_new_ops_prune_scans)."""
    import re

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators import (
        dedup as D,
        relational as R,
        text as T,
    )

    expected = {
        "dsir_select": (T.q_dsir_select, {"doc_id", "text", "lang"}),
        "pmi_cooccur": (T.q_pmi_cooccur, {"doc_id", "text"}),
        "retrieval_eval": (T.q_retrieval_eval, {"doc_id", "text"}),
        "quality_percentile_norm": (
            T.q_quality_percentile_norm,
            {"doc_id", "text", "source"},
        ),
        "dedup_best_survivor": (D.q_dedup_best_survivor, {"doc_id", "text"}),
        "source_overlap": (D.q_source_overlap, {"text", "source"}),
        "rendezvous_shard": (R.q_rendezvous_shard, {"doc_id"}),
        "assoc_rules": (market.q_assoc_rules, {"l_orderkey", "l_partkey"}),
        "compaction_plan": (R.q_compaction_plan, {"o_orderdate"}),
    }
    for name, (fn, cols) in expected.items():
        plan = fn(spark, SF_SMALL)._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        read = set()
        for s in re.findall(r"ReadSchema: struct<([^>]*)>", plan):
            read |= {c.split(":")[0] for c in s.split(",") if c}
        assert read <= cols, f"{name} reads extra columns: {read - cols}"


def test_session5_differential_consistency(spark):
    """Cross-operator agreement for the session-5 family — independent
    implementations must tell one story:
      * assoc_rules' undirected (c_ab) counts equal market_basket's
        pair counts on shared pairs (min_support vs top-k aside);
      * retrieval_eval's hit counts recompute from bm25_topk's rows
        joined to the same term-overlap relevance rule;
      * session_concurrency implies co-activity: any day with peak
        concurrency >= 2 means at least one overlapping cross-user
        session pair exists SOMEWHERE (sum over coactivity > 0);
      * interval_union coverage never exceeds the per-user span yet
        is at least the longest single merged interval."""
    import pyspark.sql.functions as F

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators import (
        analytics as A,
        text as T,
    )
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.text import (
        BM25_QUERY_TERMS,
    )
    from tests.conftest import SF_SMALL

    # assoc_rules vs market_basket
    basket = {
        (r.p1, r.p2): r.n_orders
        for r in market.q_market_basket(spark, SF_SMALL).collect()
    }
    rules = market.q_assoc_rules(spark, SF_SMALL).collect()
    for r in rules:
        key = (min(r.ante, r.cons), max(r.ante, r.cons))
        if key in basket:
            assert basket[key] == r.c_ab

    # retrieval_eval vs bm25_topk + relevance recompute
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    rel = {
        r.doc_id
        for r in docs.select(
            "doc_id",
            F.size(
                F.array_intersect(
                    F.array_distinct(F.split(F.trim("text"), r"\s+")),
                    F.array([F.lit(t) for t in BM25_QUERY_TERMS]),
                )
            ).alias("n"),
        )
        .filter(F.col("n") >= 3)
        .collect()
    }
    bm = T.bm25_topk(docs, BM25_QUERY_TERMS).collect()
    ev = T.q_retrieval_eval(spark, SF_SMALL).collect()[0]
    assert ev.n_relevant == len(rel)
    assert ev.hits_at_20 == sum(1 for r in bm if r.doc_id in rel)
    assert ev.hits_at_5 == sum(1 for r in bm if r.doc_id in rel and r.bm_rank <= 5)

    # concurrency implies co-activity
    conc = A.q_session_concurrency(spark, SF_SMALL).collect()
    coact = A.q_coactivity_pairs(spark, SF_SMALL).collect()
    if any(r.peak_concurrency >= 2 for r in conc):
        assert sum(r.n_overlaps for r in coact) > 0

    # interval_union bounds
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.streaming.events import (
        q_sessionize,
    )

    spans = {}
    for r in q_sessionize(spark, SF_SMALL).collect():
        from datetime import timezone

        # session ts are NTZ-as-UTC; pin the zone so the test is
        # host-timezone independent
        st = int(r.session_start.replace(tzinfo=timezone.utc).timestamp() * 1000)
        en = int(r.session_end.replace(tzinfo=timezone.utc).timestamp() * 1000)
        lo, hi, mx = spans.get(r.user_id, (st, en, 0))
        spans[r.user_id] = (min(lo, st), max(hi, en), max(mx, en - st))
    for r in A.q_interval_union(spark, SF_SMALL).collect():
        lo, hi, mx = spans[r.user_id]
        assert mx <= r.covered_ms <= hi - lo


def test_label_propagation_two_cliques(spark):
    """Two triangles bridged by one edge: after 3 rounds each triangle
    converges to its min label; the deterministic tie-break (min label
    among max-count neighbor labels) pins the bridge node."""
    from pyspark.sql import functions as F  # noqa: F401

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.graph import (
        label_propagation,
    )

    und = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12), (3, 10)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], ["src", "dst"]
    )
    labels = {r.node: r.label for r in label_propagation(edges, rounds=3).collect()}
    # triangle {1,2,3} floods to its minimum label
    assert labels[1] == labels[2] == 1
    # triangle {10,11,12} is pulled toward the lower-id clique through
    # the bridge, but its interior stays consistent
    assert labels[11] == labels[12]
    assert set(labels) == {1, 2, 3, 10, 11, 12}


def test_label_propagation_tiebreak_min(spark):
    """A node with two equally-frequent neighbor labels must adopt the
    MINIMUM one — the determinism contract of the operator."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.graph import (
        label_propagation,
    )

    # node 5 sees labels {1, 2} once each in round 1 -> must pick 1
    und = [(1, 5), (2, 5)]
    edges = spark.createDataFrame(und + [(b, a) for a, b in und], ["src", "dst"])
    labels = {r.node: r.label for r in label_propagation(edges, rounds=1).collect()}
    assert labels[5] == 1


def test_rfm_segments_builds_without_jobs(spark):
    """Building rfm_segments plans the aggregate and its three ntile
    windows without running any of them: no Spark job starts before
    the caller's action."""
    market.q_rfm_segments(spark, SF_SMALL)  # resolves the orders scan once
    assert build_jobs(
        spark, "rfm-build", lambda: market.q_rfm_segments(spark, SF_SMALL)
    ) == 0


def test_kcore_peel_known_graph(spark):
    """Hand-checkable graph: a 4-clique (the 3-core) plus a pendant
    path.  Round 1 drops the path tail, round 2 drops the rest of the
    path, and the clique survives every round unchanged; a node losing
    neighbors to peeling must itself peel in a LATER round (the
    synchronous-rounds contract)."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.graph import (
        kcore_peel,
    )

    und = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),  # 4-clique
           (4, 5), (5, 6), (6, 7)]                          # pendant path
    edges = spark.createDataFrame(
        [(a, b) for a, b in und] + [(b, a) for a, b in und], ["src", "dst"]
    )
    rounds = kcore_peel(edges, k=3, rounds=4)
    nodes = [
        sorted(r.src for r in e.select("src").distinct().collect())
        for e in rounds
    ]
    # round 1: deg(5)=2, deg(6)=2, deg(7)=1 all < 3 -> path peels at
    # once EXCEPT node 4 keeps clique degree 3; synchronous semantics
    # mean 5/6/7 vanish together in round 1
    assert nodes[0] == [1, 2, 3, 4]
    # fixpoint reached: later rounds identical (the convergence signal)
    assert nodes[1] == nodes[2] == nodes[3] == [1, 2, 3, 4]
    n_edges = rounds[0].count()
    assert n_edges == 12  # 6 undirected clique edges, both directions


def test_link_prediction_ra_hand_graph(spark):
    """Square 1-2-3-4-1: the two diagonals are the only non-adjacent
    pairs, each with two common neighbors of degree 2 -> RA = 1e9."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.graph import (
        link_prediction_ra,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 4)], ["a", "b"]
    )
    out = {(r["part_a"], r["part_b"]): r for r in link_prediction_ra(edges).collect()}
    assert set(out) == {(1, 3), (2, 4)}
    for r in out.values():
        assert r["n_common"] == 2
        assert r["ra_score_e9"] == 1_000_000_000  # 2 * (1e9 div 2)
    # deterministic tie-break: equal scores rank by (part_a, part_b)
    assert out[(1, 3)]["lp_rank"] == 1 and out[(2, 4)]["lp_rank"] == 2


def test_degree_distribution_mass_conservation(spark):
    """The degree histogram must account for every directed edge
    (sum deg*n_nodes == |edges|) and every node (shares sum to ~1e6,
    each bucket's ppm floor-exact)."""
    rows = graph.q_degree_distribution(spark, SF_SMALL).collect()
    edges = graph.trade_edges(
        spark.read.parquet(f"{SF_SMALL}/orders.parquet"),
        spark.read.parquet(f"{SF_SMALL}/lineitem.parquet"),
    )
    n_edges = edges.count()
    n_nodes = edges.select("src").distinct().count()
    assert sum(r.degree * r.n_nodes for r in rows) == n_edges
    assert sum(r.n_nodes for r in rows) == n_nodes
    assert all(0 < r.share_ppm <= 1_000_000 for r in rows)
    for r in rows:
        assert r.share_ppm == 1_000_000 * r.n_nodes // n_nodes


def test_discount_ladder_hand_case(spark):
    """Exact decimal cents per discount bucket and exact ppm shares."""
    import tempfile

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.market import (
        q_discount_ladder,
    )

    rows = [
        (1, 1, 1, 1, 1.0, 100.0, 0.05, 0.0, "N", "O"),
        (2, 2, 2, 1, 2.0, 200.0, 0.05, 0.0, "N", "O"),
        (3, 3, 3, 1, 3.0, 50.0, 0.00, 0.0, "N", "O"),
    ]
    li = spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string",
    )
    d = tempfile.mkdtemp()
    li.write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    out = {r.disc_pct: r for r in q_discount_ladder(spark, d).collect()}
    assert out[5].n_items == 2 and out[5].total_qty == 3
    assert out[5].revenue_cents == 9500 + 19000
    assert out[0].revenue_cents == 5000
    total = 9500 + 19000 + 5000
    assert out[5].rev_share_ppm == 1_000_000 * 28500 // total
    assert out[0].rev_share_ppm == 1_000_000 * 5000 // total


def test_order_backlog_hand_case(spark):
    """Sweep-line backlog: +1 on the order day, -1 the day after the
    last ship day; orders with no lineitems never enter."""
    import tempfile
    from datetime import datetime

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.market import (
        q_order_backlog,
    )

    d = tempfile.mkdtemp()
    orders = spark.createDataFrame(
        [
            (1, 1, "O", 10.0, datetime(2024, 1, 1), "1-URGENT"),
            (2, 2, "O", 10.0, datetime(2024, 1, 2), "1-URGENT"),
            (3, 3, "O", 10.0, datetime(2024, 1, 9), "1-URGENT"),  # no lines
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    li = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1)), (1, datetime(2024, 1, 2)),
            (2, datetime(2024, 1, 4)),
        ],
        "l_orderkey long, l_shipdate timestamp",
    )
    orders.write.mode("overwrite").parquet(f"{d}/orders.parquet")
    li.write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    out = {str(r.day): (r.n_opened, r.n_closed, r.backlog)
           for r in q_order_backlog(spark, d).collect()}
    # order 1: open 1/1..1/2 (last ship 1/2); order 2: open 1/2..1/4
    assert out["2024-01-01"] == (1, 0, 1)
    assert out["2024-01-02"] == (1, 0, 2)
    assert out["2024-01-03"] == (0, 1, 1)   # order 1 closed after 1/2
    assert out["2024-01-05"] == (0, 1, 0)   # order 2 closed after 1/4
    assert "2024-01-09" not in out          # lineless order excluded


def test_order_size_histogram_hand_case(spark):
    """Orders with 1, 2 and 4 lines -> buckets 0, 1, 2; both
    marginals floor exactly (3 orders / 7 lines)."""
    import tempfile
    from datetime import datetime

    rows = []
    for ok, n in ((1, 1), (2, 2), (3, 4)):
        for i in range(n):
            rows.append((ok, 1, 1, i + 1, 1.0, 10.0, 0.0, 0.0, "N", "O",
                         datetime(2024, 1, 1)))
    li = spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    )
    d = tempfile.mkdtemp()
    li.write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    out = {r["bucket"]: r for r in
           market.q_order_size_histogram(spark, d).collect()}
    assert out[0]["n_orders"] == 1 and out[0]["n_lines_total"] == 1
    assert out[1]["n_orders"] == 1 and out[1]["n_lines_total"] == 2
    assert out[2]["n_orders"] == 1 and out[2]["n_lines_total"] == 4
    assert out[2]["order_share_ppm"] == 1_000_000 // 3
    assert out[2]["line_share_ppm"] == 4_000_000 // 7


def test_revenue_concentration_hand_case(spark):
    """Pareto ladder: spends 100, 300, 1000 cents -> buckets 6, 8, 9;
    cumulative-from-top shares are exact floors over 1400 total."""
    import tempfile
    from datetime import datetime

    od = spark.createDataFrame(
        [
            (1, 10, "F", 1.00, datetime(2024, 1, 1), "1-URGENT"),
            (2, 20, "F", 2.00, datetime(2024, 1, 2), "1-URGENT"),
            (3, 20, "F", 1.00, datetime(2024, 1, 3), "1-URGENT"),
            (4, 30, "F", 10.00, datetime(2024, 1, 4), "1-URGENT"),
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    d = tempfile.mkdtemp()
    od.write.mode("overwrite").parquet(f"{d}/orders.parquet")
    out = {r["bucket"]: r for r in
           market.q_revenue_concentration(spark, d).collect()}
    # cust 10: 100c -> bucket 6 [64,127]; cust 20: 300c -> bucket 8
    # [256,511]; cust 30: 1000c -> bucket 9 [512,1023]
    assert out[6]["n_customers"] == 1 and out[6]["revenue_cents"] == 100
    assert out[8]["revenue_cents"] == 300
    assert out[9]["revenue_cents"] == 1000
    assert out[9]["cum_top_share_ppm"] == 1_000_000 * 1000 // 1400
    assert out[8]["cum_top_share_ppm"] == 1_000_000 * 1300 // 1400
    assert out[6]["cum_top_share_ppm"] == 1_000_000  # all revenue
    assert out[9]["rev_share_ppm"] == 1_000_000 * 1000 // 1400


def test_fulfillment_lag_hand_case(spark):
    """Lower-median rank selection and exact milli-mean: lags 1/3/5
    give median 3; an even group (2/4) takes the LOWER median 2."""
    import tempfile

    od = spark.createDataFrame(
        [
            (1, 1, "F", 1.0, datetime(2024, 1, 1), "1-URGENT"),
            (2, 1, "F", 1.0, datetime(2024, 1, 1), "1-URGENT"),
            (3, 1, "F", 1.0, datetime(2024, 1, 1), "1-URGENT"),
            (4, 1, "F", 1.0, datetime(2024, 1, 1), "5-LOW"),
            (5, 1, "F", 1.0, datetime(2024, 1, 1), "5-LOW"),
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    li_rows = []
    for ok, lag in ((1, 1), (2, 3), (3, 5), (4, 2), (5, 4)):
        # two lines; only the LAST shipment defines the lag
        li_rows.append((ok, 1, 1, 1, 1.0, 10.0, 0.0, 0.0, "N", "O",
                        datetime(2024, 1, 1)))
        li_rows.append((ok, 1, 1, 2, 1.0, 10.0, 0.0, 0.0, "N", "O",
                        datetime(2024, 1, 1 + lag)))
    li = spark.createDataFrame(
        li_rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    )
    d = tempfile.mkdtemp()
    od.write.mode("overwrite").parquet(f"{d}/orders.parquet")
    li.write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    out = {r["o_orderpriority"]: r for r in
           market.q_fulfillment_lag(spark, d).collect()}
    assert out["1-URGENT"]["n_orders"] == 3
    assert out["1-URGENT"]["mean_lag_milli_d"] == 3000
    assert out["1-URGENT"]["median_lag_d"] == 3
    assert out["5-LOW"]["median_lag_d"] == 2  # lower median of {2, 4}
    assert out["5-LOW"]["mean_lag_milli_d"] == 3000


def test_return_rate_by_brand_hand_case(spark):
    """Line vs revenue return shares diverge when the returned line is
    the expensive one — the signal the operator exists to expose."""
    import tempfile

    pt = spark.createDataFrame(
        [(1, "p1", "B#1", "t", 1, 1.0), (2, "p2", "B#2", "t", 1, 1.0)],
        "p_partkey long, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double",
    )
    li_rows = [
        # B#1: cheap kept line + expensive returned line
        (1, 1, 1, 1, 1.0, 100.0, 0.0, 0.0, "N", "O", datetime(2024, 1, 1)),
        (1, 1, 1, 2, 1.0, 900.0, 0.0, 0.0, "R", "O", datetime(2024, 1, 2)),
        # B#2: nothing returned
        (2, 2, 1, 1, 1.0, 500.0, 0.0, 0.0, "N", "O", datetime(2024, 1, 3)),
    ]
    li = spark.createDataFrame(
        li_rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    )
    d = tempfile.mkdtemp()
    pt.write.mode("overwrite").parquet(f"{d}/part.parquet")
    li.write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    out = {r["p_brand"]: r for r in
           market.q_return_rate_by_brand(spark, d).collect()}
    b1 = out["B#1"]
    assert (b1["n_lines"], b1["n_returned"]) == (2, 1)
    assert b1["line_return_ppm"] == 500_000
    assert b1["revenue_return_ppm"] == 1_000_000 * 90_000 // 100_000
    b2 = out["B#2"]
    assert b2["n_returned"] == 0 and b2["revenue_return_ppm"] == 0


def test_revenue_guards_raise_past_bound(spark):
    """Review r11: the naive 1e6·cents share wrapped int64 at ~$92B
    total (TPC-H ~sf0.4); both revenue ppm ops now use the two-step
    floor and raise LOUDLY past ITS bound (test-shrunk limit)."""
    import tempfile

    import pytest

    od = spark.createDataFrame(
        [(1, 10, "F", 10.00, datetime(2024, 1, 1), "1-URGENT")],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    pt = spark.createDataFrame(
        [(1, "p1", "B#1", "t", 1, 1.0)],
        "p_partkey long, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double",
    )
    li = spark.createDataFrame(
        [(1, 1, 1, 1, 1.0, 10.0, 0.0, 0.0, "R", "O", datetime(2024, 1, 1))],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    )
    d = tempfile.mkdtemp()
    od.write.parquet(f"{d}/orders.parquet")
    pt.write.parquet(f"{d}/part.parquet")
    li.write.parquet(f"{d}/lineitem.parquet")
    # totals are 1000 cents: boundary passes with unchanged values
    r = market.q_revenue_concentration(spark, d, _lim=1000).collect()[0]
    assert r["cum_top_share_ppm"] == 1_000_000
    with pytest.raises(Exception, match="exceeds the two-step ppm bound"):
        market.q_revenue_concentration(spark, d, _lim=999).collect()
    r = market.q_return_rate_by_brand(spark, d, _lim=1000).collect()[0]
    assert r["revenue_return_ppm"] == 1_000_000
    with pytest.raises(Exception, match="exceeds the two-step ppm bound"):
        market.q_return_rate_by_brand(spark, d, _lim=999).collect()


def test_cohort_ltv_hand_case(spark, tmp_path):
    """Two customers in the 2026-01 cohort; one returns in month-age 2:
    the cumulative column must jump across the empty month-age 1 (no
    gap-fill) and the per-member LTV is the truncating div."""
    od = spark.createDataFrame(
        [
            (1, 1, datetime(2026, 1, 10), 100.00),
            (2, 1, datetime(2026, 3, 5), 50.00),
            (3, 2, datetime(2026, 1, 20), 20.00),
        ],
        "o_orderkey long, o_custkey long, o_orderdate timestamp, "
        "o_totalprice double",
    )
    od.write.parquet(str(tmp_path / "orders.parquet"))
    rows = {
        r["month_age"]: r
        for r in market.q_cohort_ltv(spark, str(tmp_path)).collect()
    }
    assert set(rows) == {0, 2}
    r0, r2 = rows[0], rows[2]
    assert r0["n_customers"] == 2 and r2["n_customers"] == 2
    assert r0["rev_cents"] == 12000 and r0["cum_rev_cents"] == 12000
    assert r2["rev_cents"] == 5000 and r2["cum_rev_cents"] == 17000
    assert r0["ltv_cents_per_customer"] == 6000
    assert r2["ltv_cents_per_customer"] == 8500


def test_category_penetration_hand_case(spark, tmp_path):
    """Denominator is the FULL segment base (incl. never-buyers) and a
    repeat buyer counts once."""
    cust = spark.createDataFrame(
        [(1, "S1"), (2, "S1"), (3, "S2")],
        "c_custkey long, c_mktsegment string",
    )
    od = spark.createDataFrame(
        [(10, 1), (11, 1), (12, 3)],
        "o_orderkey long, o_custkey long",
    )
    pt = spark.createDataFrame(
        [(100, "B1"), (200, "B2")], "p_partkey long, p_brand string"
    )
    li = spark.createDataFrame(
        # cust 1 buys B1 twice (two orders); cust 3 buys B1 and B2
        [(10, 100), (11, 100), (12, 100), (12, 200)],
        "l_orderkey long, l_partkey long",
    )
    for name, df in [("customer", cust), ("orders", od),
                     ("part", pt), ("lineitem", li)]:
        df.write.parquet(str(tmp_path / f"{name}.parquet"))
    rows = {
        (r["c_mktsegment"], r["p_brand"]): r
        for r in market.q_category_penetration(spark, str(tmp_path)).collect()
    }
    # S1: 1 of 2 customers ever bought B1; nobody in S1 bought B2
    assert rows[("S1", "B1")]["n_buyers"] == 1
    assert rows[("S1", "B1")]["seg_customers"] == 2
    assert rows[("S1", "B1")]["penetration_ppm"] == 500_000
    assert ("S1", "B2") not in rows
    assert rows[("S2", "B1")]["penetration_ppm"] == 1_000_000
    assert rows[("S2", "B2")]["penetration_ppm"] == 1_000_000


def test_nation_modularity_hand_case(spark, tmp_path):
    """4-edge bipartite multigraph over two nations — pins the exact
    modularity arithmetic: m=4, e={2,1}, d={5,3}; Q = 0.75 - 34/64 =
    0.21875 -> per-nation contribs 109375 + 109375 ppm."""
    cust = spark.createDataFrame(
        [(1, 0), (2, 1)], "c_custkey long, c_nationkey int"
    )
    supp = spark.createDataFrame(
        [(7, 0), (8, 1)], "s_suppkey long, s_nationkey int"
    )
    nat = spark.createDataFrame(
        [(0, "N0"), (1, "N1")], "n_nationkey int, n_name string"
    )
    od = spark.createDataFrame(
        [(10, 1), (11, 2), (12, 1)], "o_orderkey long, o_custkey long"
    )
    li = spark.createDataFrame(
        # c1-s7 x2 (within N0), c2-s8 (within N1), c1-s8 (cross)
        [(10, 7), (10, 7), (11, 8), (12, 8)],
        "l_orderkey long, l_suppkey long",
    )
    for name, df in [("customer", cust), ("supplier", supp),
                     ("nation", nat), ("orders", od), ("lineitem", li)]:
        df.write.parquet(str(tmp_path / f"{name}.parquet"))
    rows = {
        r["nation"]: r
        for r in graph.q_nation_modularity(spark, str(tmp_path)).collect()
    }
    n0, n1 = rows["N0"], rows["N1"]
    assert (n0["e_within"], n0["endpoint_mass"], n0["m_edges"]) == (2, 5, 4)
    assert (n1["e_within"], n1["endpoint_mass"]) == (1, 3)
    assert n0["within_share_ppm"] == 500_000
    assert n0["expected_ppm"] == 390_625          # floor(1e6*25/64)
    assert n0["modularity_contrib_ppm"] == 109_375
    assert n1["within_share_ppm"] == 250_000
    assert n1["expected_ppm"] == 140_625          # floor(1e6*9/64)
    assert n1["modularity_contrib_ppm"] == 109_375


def test_nation_modularity_guard_fires(spark, tmp_path):
    """Past the DECIMAL(38,0) domain bound the guard must raise loudly
    (shrunk limit via monkeypatched constant-equivalent: rebuild with a
    tiny bound by calling the guarded plan on data that exceeds it)."""
    import pytest

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators import (
        graph as G,
    )

    cust = spark.createDataFrame([(1, 0)], "c_custkey long, c_nationkey int")
    supp = spark.createDataFrame([(7, 0)], "s_suppkey long, s_nationkey int")
    nat = spark.createDataFrame([(0, "N0")], "n_nationkey int, n_name string")
    od = spark.createDataFrame([(10, 1)], "o_orderkey long, o_custkey long")
    li = spark.createDataFrame(
        [(10, 7)] * 3, "l_orderkey long, l_suppkey long"
    )
    for name, df in [("customer", cust), ("supplier", supp),
                     ("nation", nat), ("orders", od), ("lineitem", li)]:
        df.write.parquet(str(tmp_path / f"{name}.parquet"))
    orig = G.MODULARITY_M_LIMIT
    try:
        G.MODULARITY_M_LIMIT = 2  # 3 edges exceeds the shrunk bound
        with pytest.raises(Exception, match="DECIMAL"):
            G.q_nation_modularity(spark, str(tmp_path)).collect()
        G.MODULARITY_M_LIMIT = 3  # boundary passes, values unchanged
        r = G.q_nation_modularity(spark, str(tmp_path)).collect()[0]
        assert r["m_edges"] == 3 and r["within_share_ppm"] == 1_000_000
    finally:
        G.MODULARITY_M_LIMIT = orig


def test_discount_elasticity_hand_case(spark, tmp_path):
    """Pins the exact OLS arithmetic incl. the signed truncating
    quotient and the zero-variance NULL."""
    pt = spark.createDataFrame(
        [(1, "UP"), (2, "DOWN"), (3, "FLAT")],
        "p_partkey long, p_brand string",
    )
    li = spark.createDataFrame(
        [
            # UP: (0%,10), (10%,20) -> slope +1 qty/pct
            (1, 0.00, 10.0), (1, 0.10, 20.0),
            # DOWN: (0%,20), (10%,10), (5%,15) -> slope exactly -1
            (2, 0.00, 20.0), (2, 0.10, 10.0), (2, 0.05, 15.0),
            # FLAT: one discount level only -> zero variance -> NULL
            (3, 0.05, 7.0), (3, 0.05, 9.0),
        ],
        "l_partkey long, l_discount double, l_quantity double",
    )
    pt.write.parquet(str(tmp_path / "part.parquet"))
    li.write.parquet(str(tmp_path / "lineitem.parquet"))
    rows = {
        r["p_brand"]: r
        for r in market.q_discount_elasticity(spark, str(tmp_path)).collect()
    }
    assert rows["UP"]["slope_qty_per_pct_ppm"] == 1_000_000
    assert rows["DOWN"]["slope_qty_per_pct_ppm"] == -1_000_000
    assert rows["FLAT"]["slope_qty_per_pct_ppm"] is None
    assert rows["UP"]["mean_qty_milli"] == 15_000
    assert rows["UP"]["mean_disc_pct_milli"] == 5_000
    # guard fires past a shrunk domain bound, boundary passes unchanged
    import pytest

    orig = market.ELASTICITY_N_LIMIT
    try:
        market.ELASTICITY_N_LIMIT = 2
        with pytest.raises(Exception, match="DECIMAL"):
            market.q_discount_elasticity(spark, str(tmp_path)).collect()
        market.ELASTICITY_N_LIMIT = 3
        r = market.q_discount_elasticity(spark, str(tmp_path)).collect()
        assert {x["p_brand"] for x in r} == {"UP", "DOWN", "FLAT"}
    finally:
        market.ELASTICITY_N_LIMIT = orig


def test_spend_migration_hand_case(spark, tmp_path):
    """Pins the transition semantics: upgrade path, churn-to-absent,
    new-from-absent, and the phantom-edge exclusion (no transition out
    of the corpus's max year or into it from before min year)."""
    od = spark.createDataFrame(
        [
            (1, 1, datetime(2023, 5, 1), 100.00),   # c1 2023: b13
            (2, 1, datetime(2024, 6, 1), 1.00),     # c1 2024: b6
            (3, 2, datetime(2023, 7, 1), 0.50),     # c2 2023: b5, gone 2024
            (4, 3, datetime(2024, 2, 1), 1.00),     # c3 new in 2024: b6
        ],
        "o_orderkey long, o_custkey long, o_orderdate timestamp, "
        "o_totalprice double",
    )
    od.write.parquet(str(tmp_path / "orders.parquet"))
    rows = {
        (r["from_year"], r["from_bucket"], r["to_bucket"]): r
        for r in market.q_spend_migration(spark, str(tmp_path)).collect()
    }
    assert set(rows) == {
        (2023, 13, 6),    # c1 downgrade
        (2023, 5, -1),    # c2 churn
        (2023, -1, 6),    # c3 acquisition
    }
    for r in rows.values():
        assert r["n_customers"] == 1 and r["cohort_n"] == 1
        assert r["share_ppm"] == 1_000_000


def test_trade_balance_hand_case(spark, tmp_path):
    """Pins direction semantics (cents_ab = customer-side A buying from
    supplier-side B), the one-way pair, and the signed imbalance."""
    cust = spark.createDataFrame(
        [(1, 0), (2, 1)], "c_custkey long, c_nationkey int"
    )
    supp = spark.createDataFrame(
        [(7, 0), (8, 1), (9, 2)], "s_suppkey long, s_nationkey int"
    )
    nat = spark.createDataFrame(
        [(0, "N0"), (1, "N1"), (2, "N2")], "n_nationkey int, n_name string"
    )
    od = spark.createDataFrame(
        [(10, 1), (11, 2)], "o_orderkey long, o_custkey long"
    )
    li = spark.createDataFrame(
        [
            (10, 8, 100.0, 0.0),   # N0 cust <- N1 supp: 10000 cents A->B
            (11, 7, 50.0, 0.0),    # N1 cust <- N0 supp: 5000 cents B->A
            (10, 9, 25.0, 0.0),    # N0 -> N2, one-way
            (10, 7, 999.0, 0.0),   # within N0: excluded (diagonal)
        ],
        "l_orderkey long, l_suppkey long, l_extendedprice double, "
        "l_discount double",
    )
    for name, df in [("customer", cust), ("supplier", supp),
                     ("nation", nat), ("orders", od), ("lineitem", li)]:
        df.write.parquet(str(tmp_path / f"{name}.parquet"))
    rows = {
        (r["nation_a"], r["nation_b"]): r
        for r in graph.q_trade_balance(spark, str(tmp_path)).collect()
    }
    p01 = rows[("N0", "N1")]
    assert (p01["cents_ab"], p01["cents_ba"]) == (10000, 5000)
    # (10000-5000)/15000 -> 333333 ppm toward A
    assert p01["imbalance_ppm"] == 333_333
    p02 = rows[("N0", "N2")]
    assert (p02["cents_ab"], p02["cents_ba"]) == (2500, 0)
    assert p02["imbalance_ppm"] == 1_000_000
    assert ("N0", "N0") not in rows and len(rows) == 2


def test_seasonality_index_hand_case(spark, tmp_path):
    """Shares are exact within segment and deltas measured against the
    floor(1e6/12) uniform line; guard fires past a shrunk bound."""
    import pytest

    cust = spark.createDataFrame(
        [(1, "S1"), (2, "S2")], "c_custkey long, c_mktsegment string"
    )
    od = spark.createDataFrame(
        [
            (1, 1, datetime(2026, 1, 5), 30.00),
            (2, 1, datetime(2026, 7, 5), 10.00),
            (3, 2, datetime(2026, 3, 1), 5.00),
        ],
        "o_orderkey long, o_custkey long, o_orderdate timestamp, "
        "o_totalprice double",
    )
    cust.write.parquet(str(tmp_path / "customer.parquet"))
    od.write.parquet(str(tmp_path / "orders.parquet"))
    rows = {
        (r["c_mktsegment"], r["month"]): r
        for r in market.q_seasonality_index(spark, str(tmp_path)).collect()
    }
    assert rows[("S1", 1)]["share_ppm"] == 750_000
    assert rows[("S1", 1)]["delta_uniform_ppm"] == 750_000 - 83_333
    assert rows[("S1", 7)]["share_ppm"] == 250_000
    assert rows[("S2", 3)]["share_ppm"] == 1_000_000
    with pytest.raises(Exception, match="exceeds the two-step ppm bound"):
        market.q_seasonality_index(spark, str(tmp_path), _lim=3999).collect()
    r = market.q_seasonality_index(spark, str(tmp_path), _lim=4000).collect()
    assert len(r) == 3


def test_seasonality_index_zero_segment_nulls(spark, tmp_path):
    """A segment whose every order is zero-priced NULLs its shares
    (both engines) instead of diverging or dividing by zero."""
    cust = spark.createDataFrame(
        [(1, "Z")], "c_custkey long, c_mktsegment string"
    )
    od = spark.createDataFrame(
        [(1, 1, datetime(2026, 2, 1), 0.00)],
        "o_orderkey long, o_custkey long, o_orderdate timestamp, "
        "o_totalprice double",
    )
    cust.write.parquet(str(tmp_path / "customer.parquet"))
    od.write.parquet(str(tmp_path / "orders.parquet"))
    r = market.q_seasonality_index(spark, str(tmp_path)).collect()[0]
    assert r["rev_cents"] == 0
    assert r["share_ppm"] is None and r["delta_uniform_ppm"] is None


def test_price_realization_hand_case(spark, tmp_path):
    """Realized vs list: a 10% discount on at-list pricing realizes
    900000 ppm; zero list value NULLs the ratio."""
    pt = spark.createDataFrame(
        [(1, "B1", 10.00), (2, "B0", 0.00)],
        "p_partkey long, p_brand string, p_retailprice double",
    )
    li = spark.createDataFrame(
        # B1: qty 2 @ list 10 -> list 20.00; extended 20.00 at 10% off
        [(1, 1, 2.0, 20.00, 0.10), (2, 2, 1.0, 0.00, 0.00)],
        "l_orderkey long, l_partkey long, l_quantity double, "
        "l_extendedprice double, l_discount double",
    )
    pt.write.parquet(str(tmp_path / "part.parquet"))
    li.write.parquet(str(tmp_path / "lineitem.parquet"))
    rows = {
        r["p_brand"]: r
        for r in market.q_price_realization(spark, str(tmp_path)).collect()
    }
    b1 = rows["B1"]
    assert (b1["list_cents"], b1["realized_cents"]) == (2000, 1800)
    assert b1["realization_ppm"] == 900_000
    assert rows["B0"]["realization_ppm"] is None


def test_supply_concentration_hand_case(spark, tmp_path):
    """Pins the HHI arithmetic and the deterministic top-supplier
    tie-break (max cents, ties -> min suppkey)."""
    pt = spark.createDataFrame(
        [(1, "B1"), (2, "B2")], "p_partkey long, p_brand string"
    )
    li = spark.createDataFrame(
        [
            # B1: suppliers 7 (60.00) and 8 (40.00): HHI = .6²+.4² = .52
            (1, 1, 7, 60.00, 0.0),
            (2, 1, 8, 40.00, 0.0),
            # B2: suppliers 5 and 6 tie at 10.00 -> top is min suppkey 5
            (3, 2, 6, 10.00, 0.0),
            (4, 2, 5, 10.00, 0.0),
        ],
        "l_orderkey long, l_partkey long, l_suppkey long, "
        "l_extendedprice double, l_discount double",
    )
    pt.write.parquet(str(tmp_path / "part.parquet"))
    li.write.parquet(str(tmp_path / "lineitem.parquet"))
    rows = {
        r["p_brand"]: r
        for r in market.q_supply_concentration(spark, str(tmp_path)).collect()
    }
    b1 = rows["B1"]
    assert (b1["n_suppliers"], b1["total_cents"]) == (2, 10000)
    assert (b1["top_suppkey"], b1["top_cents"]) == (7, 6000)
    assert b1["top_share_ppm"] == 600_000
    assert b1["hhi_ppm"] == 520_000
    b2 = rows["B2"]
    assert (b2["top_suppkey"], b2["top_cents"]) == (5, 1000)
    assert b2["hhi_ppm"] == 500_000


def test_basket_brand_diversity_hand_case(spark, tmp_path):
    """Distinct brands per order: a repeat-same-brand order counts the
    brand once (bucket 0 = one brand), a two-brand order lands in
    bucket 1."""
    pt = spark.createDataFrame(
        [(1, "B1"), (2, "B2")], "p_partkey long, p_brand string"
    )
    li = spark.createDataFrame(
        # order 10: B1 twice + B2 -> 2 distinct brands (bucket 1)
        # order 11: B1 three times -> 1 distinct brand (bucket 0)
        [(10, 1), (10, 1), (10, 2), (11, 1), (11, 1), (11, 1)],
        "l_orderkey long, l_partkey long",
    )
    pt.write.parquet(str(tmp_path / "part.parquet"))
    li.write.parquet(str(tmp_path / "lineitem.parquet"))
    rows = {
        r["bucket"]: r
        for r in market.q_basket_brand_diversity(spark, str(tmp_path)).collect()
    }
    assert rows[0]["n_orders"] == 1 and rows[0]["n_brand_slots"] == 1
    assert rows[1]["n_orders"] == 1 and rows[1]["n_brand_slots"] == 2
    assert rows[0]["order_share_ppm"] == 500_000
    assert rows[1]["slot_share_ppm"] == 666_666


def test_attribution_linear_hand_case(spark, tmp_path):
    """Equal split with the floor remainder documented; strictly-before
    and 24h-lookback boundaries; touchless conversions keep a NULL
    row."""
    from datetime import timedelta

    base = datetime(2026, 1, 2, 12, 0, 0)
    rows = [
        # user 1: 3 touches in window, one outside (25h), one AT cts
        (1, base - timedelta(hours=1), 1, "click"),
        (2, base - timedelta(hours=2), 1, "view"),
        (3, base - timedelta(hours=23), 1, "view"),
        (4, base - timedelta(hours=25), 1, "click"),   # outside lookback
        (5, base, 1, "view"),                          # not strictly before
        (6, base, 1, "purchase"),
        # user 2: touchless conversion
        (7, base, 2, "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    df.write.parquet(str(tmp_path / "events.parquet"))
    out = market.q_attribution_linear(spark, str(tmp_path)).collect()
    u1 = [r for r in out if r["conversion_id"] == 6]
    assert sorted(r["touch_event_id"] for r in u1) == [1, 2, 3]
    assert all(r["n_touches"] == 3 and r["credit_ppm"] == 333_333
               for r in u1)
    u2 = [r for r in out if r["conversion_id"] == 7]
    assert len(u2) == 1
    assert u2[0]["touch_event_id"] is None and u2[0]["credit_ppm"] is None
    assert u2[0]["n_touches"] == 0


def test_revenue_growth_hand_case(spark, tmp_path):
    """Signed growth ppm with the truncating two-step floor; first
    month and zero-prior NULL out; guard fires past a shrunk bound."""
    import pytest

    cust = spark.createDataFrame(
        [(1, "S1")], "c_custkey long, c_mktsegment string"
    )
    od = spark.createDataFrame(
        [
            (1, 1, datetime(2026, 1, 5), 40.00),
            (2, 1, datetime(2026, 2, 5), 50.00),   # +25%
            (3, 1, datetime(2026, 3, 5), 30.00),   # -40%
        ],
        "o_orderkey long, o_custkey long, o_orderdate timestamp, "
        "o_totalprice double",
    )
    cust.write.parquet(str(tmp_path / "customer.parquet"))
    od.write.parquet(str(tmp_path / "orders.parquet"))
    rows = {r["month"].month: r for r in
            market.q_revenue_growth(spark, str(tmp_path)).collect()}
    assert rows[1]["growth_ppm"] is None and rows[1]["prev_cents"] is None
    assert rows[2]["growth_ppm"] == 250_000
    assert rows[3]["growth_ppm"] == -400_000
    with pytest.raises(Exception, match="exceeds the two-step ppm bound"):
        market.q_revenue_growth(spark, str(tmp_path), _lim=4999).collect()
    assert len(market.q_revenue_growth(spark, str(tmp_path),
                                       _lim=5000).collect()) == 3


def test_interpurchase_time_hand_case(spark, tmp_path):
    """Gaps 0 (same-day pair), 3, and 28 days land in buckets 0, 1, 4;
    a single-order customer contributes no gap; shares floor over 3."""
    od = spark.createDataFrame(
        [
            (1, 1, datetime(2024, 1, 1), 10.0),
            (2, 1, datetime(2024, 1, 1), 10.0),   # same day -> gap 0
            (3, 1, datetime(2024, 1, 4), 10.0),   # gap 3
            (4, 1, datetime(2024, 2, 1), 10.0),   # gap 28
            (5, 2, datetime(2024, 6, 1), 10.0),   # lone order: no gap
        ],
        "o_orderkey long, o_custkey long, o_orderdate timestamp, "
        "o_totalprice double",
    )
    od.write.parquet(str(tmp_path / "orders.parquet"))
    out = {r["bucket"]: r for r in
           market.q_interpurchase_time(spark, str(tmp_path)).collect()}
    assert set(out) == {0, 1, 4}
    assert all(r["n_gaps"] == 1 for r in out.values())
    assert (out[4]["lo_days"], out[4]["hi_days"]) == (16, 31)
    assert all(r["gap_share_ppm"] == 333_333 for r in out.values())


def test_price_band_mix_hand_case(spark, tmp_path):
    """$10 bands; a zero-revenue band stays visible with rev_share 0;
    part shares floor over the catalog, revenue shares over cents."""
    part = spark.createDataFrame(
        [
            (1, 905.0),    # band 90
            (2, 950.0),    # band 95
            (3, 999.9),    # band 99, never sold
        ],
        "p_partkey long, p_retailprice double",
    )
    li = spark.createDataFrame(
        [
            (1, 100.0, 0.1),   # rev 90.00 -> 9000 cents
            (2, 200.0, 0.0),   # rev 200.00 -> 20000 cents
        ],
        "l_partkey long, l_extendedprice double, l_discount double",
    )
    part.write.parquet(str(tmp_path / "part.parquet"))
    li.write.parquet(str(tmp_path / "lineitem.parquet"))
    out = {r["band"]: r for r in
           market.q_price_band_mix(spark, str(tmp_path)).collect()}
    assert set(out) == {90, 95, 99}
    assert out[90]["band_lo_dollars"] == 900
    assert out[90]["revenue_cents"] == 9000
    assert out[95]["revenue_cents"] == 20000
    assert (out[99]["n_lines"], out[99]["revenue_cents"]) == (0, 0)
    assert out[90]["rev_share_ppm"] == 310_344     # floor(1e6*9000/29000)
    assert out[95]["rev_share_ppm"] == 689_655
    assert out[99]["rev_share_ppm"] == 0
    assert all(r["part_share_ppm"] == 333_333 for r in out.values())


def test_degree_assortativity_hand_case(spark, tmp_path):
    """Three-edge graph (c1-s1, c1-s2, c2-s2): edge degree pairs
    (2,1),(2,2),(1,2) give Pearson r = -1/2, so the signed squared
    readout is -250000; the integer moments are pinned exactly."""
    od = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 2)], "o_orderkey long, o_custkey long"
    )
    li = spark.createDataFrame(
        [(1, 101), (2, 102), (3, 102),
         (1, 101)],   # duplicate line: the relationship set dedups
        "l_orderkey long, l_suppkey long",
    )
    od.write.parquet(str(tmp_path / "orders.parquet"))
    li.write.parquet(str(tmp_path / "lineitem.parquet"))
    r = graph.q_degree_assortativity(spark, str(tmp_path)).collect()[0]
    assert r["n_edges"] == 3
    assert (r["sum_dc"], r["sum_ds"]) == (5, 5)
    assert (r["sum_dcds"], r["sum_dc2"], r["sum_ds2"]) == (8, 9, 9)
    assert r["assort_r2_signed_ppm"] == -250_000


def test_credit_exposure_hand_case(spark, tmp_path):
    """Signed banding: -5000 cents lands in (sign -1, bucket 12), a
    zero balance is its own (0, bucket 0) band, +10000 cents in
    (1, bucket 13); an orderless customer still counts; exposure
    shares floor over 8000 total cents."""
    cust = spark.createDataFrame(
        [(1, -50.0), (2, 0.0), (3, 100.0)],
        "c_custkey long, c_acctbal double",
    )
    od = spark.createDataFrame(
        [(1, 1, 10.0), (2, 1, 20.0), (3, 3, 50.0)],
        "o_orderkey long, o_custkey long, o_totalprice double",
    )
    cust.write.parquet(str(tmp_path / "customer.parquet"))
    od.write.parquet(str(tmp_path / "orders.parquet"))
    out = {(r["sign"], r["bucket"]): r for r in
           market.q_credit_exposure(spark, str(tmp_path)).collect()}
    assert set(out) == {(-1, 12), (0, 0), (1, 13)}
    neg = out[(-1, 12)]
    assert (neg["n_customers"], neg["balance_cents"],
            neg["n_orders"], neg["exposure_cents"]) == (1, -5000, 2, 3000)
    assert neg["exposure_share_ppm"] == 375_000
    zero = out[(0, 0)]
    assert (zero["n_orders"], zero["exposure_cents"],
            zero["exposure_share_ppm"]) == (0, 0, 0)
    assert out[(1, 13)]["exposure_share_ppm"] == 625_000


def test_tax_effective_rate_hand_case(spark, tmp_path):
    """Exact rates: 5% on an undiscounted line, 10% on a half-
    discounted one — the discount reduces the BASE, not the rate."""
    li = spark.createDataFrame(
        [(1, 101, 100.0, 0.0, 0.05), (2, 102, 200.0, 0.5, 0.10)],
        "l_orderkey long, l_suppkey long, l_extendedprice double, "
        "l_discount double, l_tax double",
    )
    sup = spark.createDataFrame(
        [(101, 1), (102, 2)], "s_suppkey long, s_nationkey long"
    )
    nat = spark.createDataFrame(
        [(1, "N1"), (2, "N2")], "n_nationkey long, n_name string"
    )
    li.write.parquet(str(tmp_path / "lineitem.parquet"))
    sup.write.parquet(str(tmp_path / "supplier.parquet"))
    nat.write.parquet(str(tmp_path / "nation.parquet"))
    out = {r["n_name"]: r for r in
           market.q_tax_effective_rate(spark, str(tmp_path)).collect()}
    assert (out["N1"]["base_cents"], out["N1"]["tax_cents"]) == (10000, 500)
    assert out["N1"]["tax_rate_ppm"] == 50_000
    assert (out["N2"]["base_cents"], out["N2"]["tax_cents"]) == (10000, 1000)
    assert out["N2"]["tax_rate_ppm"] == 100_000


def test_order_total_reconciliation_hand_case(spark, tmp_path):
    """Planted directions: an exact order (100·0.9·1.1 = 99.00), an
    over-stated header (+1 cent), an under-stated one, and a lineless
    header — each lands in its own counter; exact share floors over 4."""
    od = spark.createDataFrame(
        [(1, "F", 99.00), (2, "F", 99.01), (3, "F", 98.99),
         (4, "O", 10.00)],
        "o_orderkey long, o_orderstatus string, o_totalprice double",
    )
    li = spark.createDataFrame(
        [(k, 100.0, 0.1, 0.1) for k in (1, 2, 3)],
        "l_orderkey long, l_extendedprice double, l_discount double, "
        "l_tax double",
    )
    od.write.parquet(str(tmp_path / "orders.parquet"))
    li.write.parquet(str(tmp_path / "lineitem.parquet"))
    out = {r["o_orderstatus"]: r for r in
           market.q_order_total_reconciliation(spark, str(tmp_path))
           .collect()}
    f = out["F"]
    assert (f["n_orders"], f["n_exact"], f["n_over"], f["n_under"],
            f["n_lineless"]) == (3, 1, 1, 1, 0)
    assert f["exact_ppm"] == 333_333
    assert f["max_abs_delta_cents"] == 1
    o = out["O"]
    assert (o["n_orders"], o["n_lineless"], o["n_exact"]) == (1, 1, 0)
    assert o["max_abs_delta_cents"] == 0


def test_abc_classification_hand_case(spark, tmp_path):
    """Value-group classes on a 100.00 total: the 80.00 part's group
    has nothing above it (A), the 10.00 group starts exactly AT the
    80% boundary (strictly-above test -> B), the tied 5.00 pair shares
    one group at 90% above (B), and the revenue-less part sees the
    whole total above it (C)."""
    from pyspark.sql import functions as F

    part = spark.createDataFrame(
        [(1,), (2,), (3,), (4,), (5,)], "p_partkey long"
    )
    li = spark.createDataFrame(
        [(1, 80.0), (2, 10.0), (3, 5.0), (4, 5.0)],
        "l_partkey long, l_extendedprice double",
    ).withColumn("l_discount", F.lit(0.0))
    part.write.parquet(str(tmp_path / "part.parquet"))
    li.write.parquet(str(tmp_path / "lineitem.parquet"))
    out = {r["abc_class"]: r for r in
           market.q_abc_classification(spark, str(tmp_path)).collect()}
    assert set(out) == {"A", "B", "C"}
    assert (out["A"]["n_parts"], out["A"]["revenue_cents"],
            out["A"]["rev_share_ppm"]) == (1, 8000, 800_000)
    assert (out["B"]["n_parts"], out["B"]["revenue_cents"],
            out["B"]["rev_share_ppm"]) == (3, 2000, 200_000)
    assert (out["C"]["n_parts"], out["C"]["revenue_cents"],
            out["C"]["rev_share_ppm"]) == (1, 0, 0)


def test_single_source_risk_hand_case(spark, tmp_path):
    """Argmax with tie-break: brand B1's top supplier carries 6000 of
    10000 cents (600000 ppm); brand B2's two suppliers tie at 500
    cents and the LOWER suppkey wins."""
    from pyspark.sql import functions as F

    part = spark.createDataFrame(
        [(1, "B1"), (2, "B1"), (3, "B2"), (4, "B2")],
        "p_partkey long, p_brand string",
    )
    li = spark.createDataFrame(
        [(1, 10, 60.0), (2, 20, 40.0), (3, 30, 5.0), (4, 20, 5.0)],
        "l_partkey long, l_suppkey long, l_extendedprice double",
    ).withColumn("l_discount", F.lit(0.0))
    part.write.parquet(str(tmp_path / "part.parquet"))
    li.write.parquet(str(tmp_path / "lineitem.parquet"))
    out = {r["p_brand"]: r for r in
           market.q_single_source_risk(spark, str(tmp_path)).collect()}
    b1 = out["B1"]
    assert (b1["n_suppliers"], b1["top_suppkey"],
            b1["top_revenue_cents"], b1["brand_revenue_cents"]) == (
        2, 10, 6000, 10000)
    assert b1["top_share_ppm"] == 600_000
    b2 = out["B2"]
    assert (b2["n_suppliers"], b2["top_suppkey"],
            b2["top_share_ppm"]) == (2, 20, 500_000)
