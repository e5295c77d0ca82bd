"""Market-analytics operators: OHLC candlestick bars, market-basket
pair mining, and marketing attribution.

The reference pipeline (Main.py) is a market-pulse ETL; these are the
analytics a market-data team would run downstream of it, re-expressed
as distributed Spark plans.  All pure DataFrame column algebra — no
UDFs, no collects; shuffle discipline documented per operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.guards import (
    PPM2_LIMIT,
    guard_int64,
)
from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.relational import (
    money_sum,
)
from project_market_pulse_etl_pipeline_with_llm_integration_spark.sources.readers import (
    read_events,
)
from project_market_pulse_etl_pipeline_with_llm_integration_spark.sources.readers import cached_scan


def ohlc_bars(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Hourly OHLC (open/high/low/close) candlestick bars per series —
    the canonical market-data rollup: for each (series, hour bucket)
    emit the first value, max, min, last value, tick count, and the
    exact DECIMAL value sum.

    Determinism contract: open/close are ACTUAL data values selected by
    a total order (ts, event_id) — no arithmetic, so they are
    cross-engine float-exact; high/low are min/max (exact); volume is a
    count; sum_value accumulates in DECIMAL (money_sum) so it is
    order-independent.  Nothing transcendental is hashed.

    Plan shape: ONE hash aggregate on (series, bar) — open/close are
    min_by/max_by under the (ts, event_id) struct order, so there is no
    per-bar sort at all and the per-bar state is six scalars (this is
    also why the identical expression runs under Structured Streaming —
    see streaming/events.py ohlc_tumbling; the two formulations are
    pinned output-equal by test).  Map-side partial min_by/max_by
    combine before the shuffle, so at 100 TB the exchange carries one
    row per (series, bar) per task, not the tick stream."""
    bar = F.date_trunc("hour", F.col(ts_col))
    ev = events.select(
        F.col(key_col).alias("series"),
        bar.alias("bar_hour"),
        F.struct(F.col(ts_col), F.col("event_id")).alias("ord"),
        F.col(value_col).alias("v"),
    ).filter(F.col("v").isNotNull())
    return ev.groupBy("series", "bar_hour").agg(
        F.min_by("v", "ord").alias("open"),
        F.max("v").alias("high"),
        F.min("v").alias("low"),
        F.max_by("v", "ord").alias("close"),
        F.count("*").alias("volume"),
        money_sum(F.col("v")).alias("sum_value"),
    )


def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ohlc_bars(read_events(spark, sf_dir))


def market_basket_pairs(
    lineitem: DataFrame,
    topk: int = 50,
    max_basket: int = 64,
) -> DataFrame:
    """Market-basket co-occurrence mining: the top-k part pairs most
    often bought together in the same order (the counting core of
    association-rule / frequent-itemset mining).

    Plan shape: distinct (order, part) first — dedup BEFORE the pair
    join so a part repeated in an order contributes once; then a
    self-equi-join on orderkey with ``p1 < p2`` (each unordered pair
    emitted exactly once), count per pair, distributed TakeOrdered
    top-k on the total order (pairs desc, part1, part2).

    100 TB posture: the join is keyed on orderkey, never cartesian; the
    per-order pair fan-out is quadratic in basket size, so basket size
    is the scale lever — TPC-H baskets are <= 7 lines, and the
    ``max_basket`` guard drops degenerate giant baskets (a single
    pathological 1e5-line order would emit 5e9 pairs) with an explicit
    cap rather than letting one key blow up a task.  Dropped baskets
    are a documented mining choice (frequent-itemset miners cap basket
    size for the same reason), not silent truncation of normal data."""
    op = (
        lineitem.select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
        )
        .distinct()
        .localCheckpoint(eager=False)  # feeds the guard AND both join sides
    )
    sizes = op.groupBy("ok").agg(F.count("*").alias("basket_n"))
    # bounded is NOT checkpointed: both pair-join sides re-derive it as
    # a cheap broadcast anti-join over the already-pinned op — cheaper
    # than materializing a second corpus-sized copy
    bounded = op.join(
        F.broadcast(sizes.filter(F.col("basket_n") > max_basket)),
        "ok",
        "left_anti",
    )
    a = bounded.select("ok", F.col("pk").alias("p1"))
    b = bounded.select("ok", F.col("pk").alias("p2"))
    pairs = a.join(b, "ok").filter(F.col("p1") < F.col("p2"))
    counted = pairs.groupBy("p1", "p2").agg(F.count("*").alias("n_orders"))
    return (
        counted.orderBy(F.col("n_orders").desc(), "p1", "p2")
        .limit(topk)
        .select("p1", "p2", "n_orders")
    )


def q_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    return market_basket_pairs(cached_scan(spark, f"{sf_dir}/lineitem.parquet"))


def attribution_last_touch(
    events: DataFrame,
    conversion_type: str = "purchase",
    touch_types: tuple[str, ...] = ("click", "view"),
    lookback_hours: int = 24,
) -> DataFrame:
    """Last-touch attribution: credit each conversion to the most
    recent qualifying touch event by the same user within a lookback
    window — the standard product-analytics attribution join.

    Mechanics: one pass, no self-join.  Events are windowed per user
    ordered by (ts, event_id); ``last(touch, ignorenulls)`` over rows
    UNBOUNDED PRECEDING..CURRENT carries the latest touch forward, and
    conversions outside the lookback emit NULL attribution (kept — an
    unattributed conversion is a result, not a dropped row).

    Plan shape: a single user-keyed window (one shuffle on user_id);
    the carried state is one struct per row.  At 100 TB this is the
    as-of-join pattern with the small side fused into the same scan —
    strictly cheaper than the union-tag + range-join alternative
    because touches and conversions live in the SAME stream."""
    tt = list(touch_types)
    ev = events.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            F.col("event_type").isin(tt),
            F.struct(
                F.col("ts").alias("t_ts"),
                F.col("event_id").alias("t_id"),
                F.col("event_type").alias("t_type"),
            ),
        ).alias("touch"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    carried = ev.withColumn(
        "last_touch", F.last("touch", ignorenulls=True).over(w)
    )
    conv = carried.filter(F.col("event_type") == conversion_type)
    gap = F.unix_timestamp("ts") - F.unix_timestamp("last_touch.t_ts")
    in_window = F.col("last_touch").isNotNull() & (gap <= lookback_hours * 3600)
    return conv.select(
        F.col("event_id").alias("conversion_id"),
        "user_id",
        F.when(in_window, F.col("last_touch.t_id")).alias("touch_event_id"),
        F.when(in_window, F.col("last_touch.t_type")).alias("touch_type"),
        F.when(in_window, gap).alias("gap_seconds"),
    )


def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    return attribution_last_touch(read_events(spark, sf_dir))


def q_item_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative-filtering similarity: top-50 part pairs
    by Ochiai coefficient cooc/sqrt(freq_a·freq_b) — the popularity-
    normalized cousin of market_basket (raw co-occurrence ranks
    best-sellers together; Ochiai surfaces pairs that co-occur MORE
    than their popularity predicts, which is what a recommender wants).

    Determinism: cooc/freq_a/freq_b are exact ints; the Ochiai score is
    sqrt+div over identical ints — correctly-rounded IEEE ops, so both
    engines compute bit-identical doubles and the (score desc, p1, p2)
    order is stable.  Hashed contract is rank + the exact integers; the
    float score orders but is not emitted (SCALE.md rule).

    Plan: same keyed self-join as market_basket (distinct-first,
    orderkey-keyed), plus a broadcast of the tiny per-part frequency
    table; top-k is a distributed TakeOrdered."""
    from pyspark.sql import Window as W

    li = cached_scan(spark, f"{sf_dir}/lineitem.parquet")
    op = (
        li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
        .localCheckpoint(eager=False)  # freq + both pair-join sides
    )
    freq = op.groupBy("pk").agg(F.count("*").alias("freq"))
    a = op.select("ok", F.col("pk").alias("p1"))
    b = op.select("ok", F.col("pk").alias("p2"))
    cooc = (
        a.join(b, "ok")
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count("*").alias("cooc"))
        .filter(F.col("cooc") >= 2)
    )
    scored = (
        cooc.join(F.broadcast(freq.selectExpr("pk as p1", "freq as freq_a")), "p1")
        .join(F.broadcast(freq.selectExpr("pk as p2", "freq as freq_b")), "p2")
        .withColumn(
            "ochiai", F.col("cooc") / F.sqrt(F.col("freq_a") * F.col("freq_b"))
        )
    )
    top = scored.orderBy(F.col("ochiai").desc(), "p1", "p2").limit(50)
    w = W.orderBy(F.col("ochiai").desc(), "p1", "p2")
    return top.select(
        "p1",
        "p2",
        "cooc",
        "freq_a",
        "freq_b",
        F.row_number().over(w).cast("long").alias("sim_rank"),
    ).orderBy("sim_rank")


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: per customer — recency (last order
    date), frequency (order count), monetary (DECIMAL-exact spend) —
    each scored into quartiles 1..4 by ntile under a pinned total
    order, concatenated into the classic 'RFM cell' marketing segment.

    Determinism: counts/dates are exact; spend accumulates in DECIMAL
    (money_sum); every ntile orders by (metric DESC, customer id) — a
    total order, so quartile boundaries are engine-stable (the
    quantile_bins argument).  One shuffle for the per-customer agg,
    then three global ``ntile(4)`` windows over its one-row-per-customer
    output."""
    o = cached_scan(spark, f"{sf_dir}/orders.parquet")
    per_cust = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("frequency"),
        money_sum(F.col("o_totalprice")).alias("monetary"),
    )
    r_w = W.orderBy(F.col("last_order").desc(), F.col("o_custkey"))
    f_w = W.orderBy(F.col("frequency").desc(), F.col("o_custkey"))
    m_w = W.orderBy(F.col("monetary").desc(), F.col("o_custkey"))
    return per_cust.select(
        "o_custkey", "last_order", "frequency", "monetary",
        F.ntile(4).over(r_w).cast("long").alias("r_score"),
        F.ntile(4).over(f_w).cast("long").alias("f_score"),
        F.ntile(4).over(m_w).cast("long").alias("m_score"),
    ).withColumn(
        "rfm_cell", F.concat_ws("", "r_score", "f_score", "m_score")
    )


def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over the basket pairs: directed a -> b with
    support, confidence and lift — the step after market_basket's
    counting that turns co-occurrence into recommendations (classic
    Apriori output for 2-itemsets).

        support(a,b)   = c_ab                      (basket count)
        confidence_ppm = 1e6·c_ab div c_a          (P(b | a))
        lift_ppm       = 1e6·c_ab·N div (c_a·c_b)  (vs independence)

    Everything is exact integer arithmetic over basket counts (the
    pmi_cooccur contract applied to baskets), so every hashed column
    incl. both scores is engine-exact.  Plan shape: market_basket's
    distinct-first orderkey self-join for c_ab, one item-support agg
    (broadcast), one 1-row basket count (broadcast); each undirected
    pair emits its two directed rules via a 2-element explode — no
    second join.  Top-30 under (lift desc, confidence desc, a, b);
    min_support 2 keeps the tail of singleton noise out at any sf.
    At production scale the pair join takes market_basket's max_basket
    guard unchanged (the rule math is guard-independent); TPC-H
    baskets are <= 7 lines so the bench form omits it."""
    li = cached_scan(spark, f"{sf_dir}/lineitem.parquet")
    op = (
        li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_baskets = op.select(F.count_distinct("ok").alias("n_baskets"))
    support = op.groupBy("pk").agg(F.count("*").alias("c"))
    a = op.select("ok", F.col("pk").alias("p1"))
    b = op.select("ok", F.col("pk").alias("p2"))
    pairs = (
        a.join(b, "ok")
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count("*").alias("c_ab"))
        .filter(F.col("c_ab") >= 2)
    )
    directed = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("p1").alias("ante"), F.col("p2").alias("cons")),
                F.struct(F.col("p2").alias("ante"), F.col("p1").alias("cons")),
            )
        ).alias("r"),
        "c_ab",
    ).select("r.ante", "r.cons", "c_ab")
    sa = support.select(F.col("pk").alias("ante"), F.col("c").alias("c_a"))
    sb = support.select(F.col("pk").alias("cons"), F.col("c").alias("c_b"))
    scored = (
        directed.join(F.broadcast(sa), "ante")
        .join(F.broadcast(sb), "cons")
        .crossJoin(F.broadcast(n_baskets))
        .withColumn("confidence_ppm", F.expr("(1000000 * c_ab) div c_a"))
        .withColumn("lift_ppm", F.expr("(1000000 * c_ab * n_baskets) div (c_a * c_b)"))
    )
    return (
        scored.select("ante", "cons", "c_ab", "c_a", "c_b", "confidence_ppm", "lift_ppm")
        .orderBy(
            F.col("lift_ppm").desc(), F.col("confidence_ppm").desc(), "ante", "cons"
        )
        .limit(30)
    )


def q_discount_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue and volume by discount step: the pricing ladder —
    line-item counts, total quantity, and DECIMAL-exact discounted
    revenue per whole-percent discount bucket, with each bucket's
    revenue share in exact ppm.  The 'which discount tier actually
    carries the business' readout behind TPC-H Q19-style promotion
    analysis.

    The bucket is round(l_discount*100) — discounts are exact
    few-decimal values so the cast has no tie to round; revenue
    accumulates in DECIMAL (money_sum) and the share ppm divides the
    bucket's cents by the grand total's cents, both exact longs.
    Plan: one scan, one tiny-key hash agg, one broadcast total —
    output O(discount steps)."""
    li = cached_scan(spark, f"{sf_dir}/lineitem.parquet").select(
        F.round(F.col("l_discount") * 100).cast("long").alias("disc_pct"),
        "l_quantity",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
    )
    # cents stay inside DECIMAL until the final cast (money_sum's
    # rationale, but the x100 multiply must happen IN decimal — a
    # rounded double x100 can land a hair under the integer and
    # truncate on the long cast)
    cells = li.groupBy("disc_pct").agg(
        F.count("*").cast("long").alias("n_items"),
        F.sum("l_quantity").cast("long").alias("total_qty"),
        F.round(F.sum(F.col("rev").cast("decimal(20,6)")) * 100, 0)
        .cast("long").alias("revenue_cents"),
    )
    total = cells.agg(F.sum("revenue_cents").alias("tc"))
    return cells.crossJoin(F.broadcast(total)).select(
        "disc_pct", "n_items", "total_qty", "revenue_cents",
        F.expr(
            "CASE WHEN tc > 0 THEN (1000000 * revenue_cents) div tc END"
        ).cast("long").alias("rev_share_ppm"),
    )


def q_order_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-of-day order backlog: how many orders are open (placed but
    not yet fully shipped) on each boundary day — the fulfillment-
    pressure curve behind staffing and SLA decisions, and the interval
    sweep-line pattern (session_concurrency) applied to the TPC-H
    order lifecycle.

    An order is open from its order day through the day its LAST line
    ships (inclusive); orders with no lineitems are excluded (no
    observable close).  No interval join: +1 on the open day, −1 the
    day after close, net per day, and backlog = running sum of nets —
    the only window is the O(active days) day-carry (allowlisted, the
    session_concurrency bound).  Only boundary days are emitted; the
    carry stays correct across silent days because their nets are
    zero.  All exact integers."""
    orders = cached_scan(spark, f"{sf_dir}/orders.parquet").select(
        "o_orderkey", F.to_date("o_orderdate").alias("open_day")
    )
    close = (
        cached_scan(spark, f"{sf_dir}/lineitem.parquet")
        .groupBy("l_orderkey")
        .agg(F.max(F.to_date("l_shipdate")).alias("close_day"))
    )
    iv = orders.join(close, orders["o_orderkey"] == close["l_orderkey"])
    opens = iv.select(F.col("open_day").alias("day"), F.lit(1).alias("delta"))
    closes = iv.select(
        F.date_add("close_day", 1).alias("day"), F.lit(-1).alias("delta")
    )
    daily = (
        opens.unionByName(closes)
        .groupBy("day")
        .agg(
            F.sum(F.when(F.col("delta") == 1, 1).otherwise(0)).alias("n_opened"),
            F.sum(F.when(F.col("delta") == -1, 1).otherwise(0)).alias("n_closed"),
            F.sum("delta").alias("net"),
        )
    )
    wc = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    return daily.select(
        "day",
        F.col("n_opened").cast("long").alias("n_opened"),
        F.col("n_closed").cast("long").alias("n_closed"),
        F.sum("net").over(wc).cast("long").alias("backlog"),
    )


def q_order_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lines-per-order distribution in power-of-two buckets with both
    marginals (order share and line mass share) — the order-shape
    profile behind batch sizing for fulfilment and the join-fan-out
    expectation for every l_orderkey-keyed plan (a fat bucket-4+ tail
    means orderkey joins amplify, the same read the dedup family's
    block guards make before a self-join).

    Exactness: counts + two exact ppm floors over the open-ended
    GAP_BUCKETS literal.  Plan: one orderkey-keyed count agg, a 32-row
    broadcast range join, one <=32-key agg — no windows."""
    return order_size_from_state(
        order_size_state(cached_scan(spark, f"{sf_dir}/lineitem.parquet"))
    )


def order_size_state(lineitem: DataFrame) -> DataFrame:
    """Per-order line-count state — a pure SUM-monoid keyed by
    orderkey (order lines arrive incrementally in a real ingest), so
    the histogram maintains via relational.merge_agg_states (streaming
    twin pinned in tests/test_streaming.py)."""
    return lineitem.groupBy("l_orderkey").agg(
        F.count("*").alias("n_lines")
    )


def order_size_from_state(state: DataFrame) -> DataFrame:
    """The q_order_size_histogram readout from the per-order count
    state alone — never a history rescan."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.analytics import (
        pow2_histogram,
    )

    return pow2_histogram(
        state, "n_lines",
        bucket_cols=("bucket", "lo_lines", "hi_lines"),
        count_alias="n_orders", count_share_alias="order_share_ppm",
        mass_alias="n_lines_total", mass_share_alias="line_share_ppm",
    )


def q_revenue_concentration(
    spark: SparkSession, sf_dir: str, _lim: int = PPM2_LIMIT
) -> DataFrame:
    """Pareto revenue-concentration table: customers bucket by their
    lifetime spend (power-of-two cents — a fixed FUNCTION of the
    value, so no cross-engine rank negotiation), and each bucket
    reports its customer count, its revenue, its revenue share, and
    the CUMULATIVE share held by this bucket and every richer one —
    the 'take the top spend tiers and you hold X% of revenue'
    statement gini_concentration compresses into one number, here as
    the full readable ladder.

    Exactness: per-order cents floor once (round(x*100)), sums stay
    long; shares land via the two-step rational floor ((x·1000 div
    tr)·1000 + remainder·1000 div tr — never the naive 1e6·cents
    product, which wraps int64 at ~$92B total revenue, roughly TPC-H
    sf0.4; the two-step form holds to 9.2e15 cents and a guard_int64
    on the total raises loudly past THAT).  The cumulative sum is
    a self-JOIN over the <=32-row bucket frame (b2.bucket >= b.bucket),
    not a window — nothing global ever serializes.

    Plan: one custkey-keyed sum agg, a 32-row broadcast range join,
    one <=32-key agg, a 32x32 broadcast triangle join — output <=32
    rows."""
    od = cached_scan(spark, f"{sf_dir}/orders.parquet")
    return revenue_concentration_from_state(revenue_state(od), _lim)


def revenue_state(orders: DataFrame) -> DataFrame:
    """Per-customer lifetime spend in exact cents — a pure SUM-monoid,
    so the Pareto ladder maintains incrementally via
    relational.merge_agg_states keyed by o_custkey (streaming twin #9;
    replay==batch pinned in tests/test_streaming.py)."""
    return (
        orders.select(
            "o_custkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("o_custkey")
        .agg(F.sum("cents").alias("spend"))
    )


def revenue_concentration_from_state(
    state: DataFrame, _lim: int = PPM2_LIMIT
) -> DataFrame:
    """The q_revenue_concentration ladder from the per-customer spend
    state alone — never a history rescan (same plan from the per-cust
    agg down: 32-row broadcast range join, <=32-key agg, triangle
    join)."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.analytics import (
        GAP_BUCKETS,
    )

    spark = state.sparkSession
    per_cust = state.localCheckpoint(eager=False)  # read twice: hist + totals
    buckets = spark.createDataFrame(
        GAP_BUCKETS, "bucket long, lo_cents long, hi_cents long"
    )
    cells = (
        per_cust.join(
            F.broadcast(buckets),
            (F.col("spend") >= F.col("lo_cents"))
            & (F.col("spend") <= F.col("hi_cents")),
        )
        .groupBy("bucket", "lo_cents", "hi_cents")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("spend").alias("revenue_cents"),
        )
        .localCheckpoint(eager=False)  # read twice: rows + triangle
    )
    cum = (
        cells.alias("hi")
        .join(
            cells.select(
                F.col("bucket").alias("b2"),
                F.col("revenue_cents").alias("r2"),
            ).alias("lo2"),
            F.col("b2") >= F.col("bucket"),
        )
        .groupBy("bucket")
        .agg(F.sum("r2").alias("cum_rev"))
    )
    tot = guard_int64(
        per_cust.agg(F.sum("spend").alias("tr")),
        F.col("tr") <= F.lit(_lim),
        F.format_string(
            "revenue_concentration: total revenue %s cents exceeds the "
            f"two-step ppm bound ({_lim}) — shard by region/"
            "period first (docstring bound)",
            F.col("tr"),
        ),
    )
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.analytics import (
        _ppm2,
    )

    return (
        cells.join(cum, "bucket")
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket", "lo_cents", "hi_cents",
            F.col("n_customers").cast("long").alias("n_customers"),
            F.col("revenue_cents").cast("long").alias("revenue_cents"),
            F.expr(_ppm2("revenue_cents", "tr")).cast("long")
            .alias("rev_share_ppm"),
            F.expr(_ppm2("cum_rev", "tr")).cast("long")
            .alias("cum_top_share_ppm"),
        )
    )


def q_fulfillment_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-fulfillment lag by priority: days from order date to the
    LAST line shipment, per o_orderpriority — mean (exact milli-days)
    and the exact lower median — the ops SLA readout that shows
    whether '1-URGENT' actually ships faster.

    Exactness: lags are whole-day datediffs (int), the mean is a
    (1000·Σ) div n floor, and the median is RANK-SELECTED from the
    per-priority distinct-lag histogram (the repeat_purchase recipe:
    lower median = smallest lag whose cumulative count reaches
    (n+1) div 2) — no percentile float, no global sort.

    Plan: one orderkey agg over lineitem (max shipdate), one join to
    orders (orderkey-keyed — both sides hash-partition on the key),
    one (priority, lag) histogram agg, a priority-PARTITIONED
    cumulative window over O(distinct lags) rows (bounded groups —
    audit-safe), output O(|priorities|)."""
    li = cached_scan(spark, f"{sf_dir}/lineitem.parquet")
    od = cached_scan(spark, f"{sf_dir}/orders.parquet")
    last_ship = li.groupBy("l_orderkey").agg(
        F.max(F.to_date("l_shipdate")).alias("last_ship")
    )
    lags = (
        od.join(last_ship, od.o_orderkey == last_ship.l_orderkey)
        .select(
            "o_orderpriority",
            F.datediff("last_ship", F.to_date("o_orderdate"))
            .cast("long").alias("lag_d"),
        )
        # a NULL lag (NULL orderdate / all-NULL shipdates) would sort
        # NULLS FIRST in Spark's cumulative window but LAST in
        # DuckDB's, shifting the rank-selected median — exclude
        # unlagged orders explicitly (review r11 NULL rule)
        .filter(F.col("lag_d").isNotNull())
    )
    hist = (
        lags.groupBy("o_orderpriority", "lag_d")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=False)  # stats + median rank selection
    )
    stats = hist.groupBy("o_orderpriority").agg(
        F.sum("cnt").alias("n_orders"),
        F.sum(F.col("lag_d") * F.col("cnt")).alias("lag_sum"),
    )
    w = W.partitionBy("o_orderpriority").orderBy("lag_d")
    med = (
        hist.withColumn("cum", F.sum("cnt").over(w))
        .join(stats.select("o_orderpriority", "n_orders"), "o_orderpriority")
        .filter(F.expr("cum >= (n_orders + 1) div 2"))
        .groupBy("o_orderpriority")
        .agg(F.min("lag_d").alias("median_lag_d"))
    )
    return stats.join(med, "o_orderpriority").select(
        "o_orderpriority",
        F.col("n_orders").cast("long").alias("n_orders"),
        F.expr("(1000 * lag_sum) div n_orders").cast("long")
        .alias("mean_lag_milli_d"),
        F.col("median_lag_d").cast("long").alias("median_lag_d"),
    )


def q_return_rate_by_brand(
    spark: SparkSession, sf_dir: str, _lim: int = PPM2_LIMIT
) -> DataFrame:
    """Return rate per part brand: line share and revenue share of
    l_returnflag = 'R' lines — the merchandising-quality readout that
    localizes returns to product families (a brand whose returned
    REVENUE share outruns its returned LINE share is failing on its
    expensive items).

    Exactness: revenue cents follow the discount_ladder DECIMAL
    recipe (extendedprice·(1−discount) accumulates in DECIMAL(20,6),
    rounds to cents ONCE); the revenue share lands via the two-step
    rational floor (the naive 1e6·cents form wraps int64 at ~9.2e12
    cents per brand — with 25 TPC-H brands that is roughly sf10; the
    two-step form holds to 9.2e15 and guard_int64 raises loudly past
    that).

    Plan: partkey-keyed join (brand is part-dim-sized; AQE broadcasts
    the dim side when it fits), one brand agg — output O(|brands|)."""
    li = cached_scan(spark, f"{sf_dir}/lineitem.parquet").select(
        "l_partkey",
        (F.col("l_returnflag") == "R").alias("ret"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .cast("decimal(20,6)").alias("rev"),
    )
    pt = cached_scan(spark, f"{sf_dir}/part.parquet").select(
        "p_partkey", "p_brand"
    )
    cells = (
        li.join(pt, li.l_partkey == pt.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.col("ret").cast("long")).alias("n_returned"),
            F.round(F.sum("rev") * 100, 0).cast("long").alias("cents"),
            F.round(
                F.sum(F.when(F.col("ret"), F.col("rev"))
                      .otherwise(F.lit(0).cast("decimal(20,6)"))) * 100, 0
            ).cast("long").alias("ret_cents"),
        )
    )
    return _return_rate_close(cells, _lim)


def _return_rate_close(cells: DataFrame, _lim: int) -> DataFrame:
    """Shared readout tail of the return-rate table (guard + ppm
    floors) — ONE home for the close so the batch query and the
    streaming-state readout (twin #15) emit identical expressions;
    factoring is plan-preserving for the batch path (same Column tree
    in the same order, fingerprint unchanged)."""
    cells = guard_int64(
        cells,
        F.col("cents") <= F.lit(_lim),
        F.format_string(
            "return_rate_by_brand: brand '%s' revenue %s cents exceeds "
            f"the two-step ppm bound ({_lim}) — shard by "
            "brand-period (docstring bound)",
            F.col("p_brand"), F.col("cents"),
        ),
    )
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.analytics import (
        _ppm2,
    )

    return cells.select(
        "p_brand",
        F.col("n_lines").cast("long").alias("n_lines"),
        F.col("n_returned").cast("long").alias("n_returned"),
        "cents", "ret_cents",
        F.expr("(1000000 * n_returned) div n_lines").cast("long")
        .alias("line_return_ppm"),
        F.expr("CASE WHEN cents > 0 THEN " + _ppm2("ret_cents", "cents")
               + " END").cast("long").alias("revenue_return_ppm"),
    )


def return_state(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Per-brand (n_lines, n_returned, DECIMAL revenue sums) — a pure
    SUM-monoid over DECIMAL-exact addends, so the return-rate table
    maintains incrementally via relational.merge_agg_states keyed by
    p_brand (streaming twin #15; replay==batch pinned in
    tests/test_streaming.py).  The cents rounding lives in the READOUT
    (return_rate_from_state), never in the state, so merged state
    rounds identically to the one-shot batch query.  NOTE: the batch
    query q_return_rate_by_brand keeps its original single-agg plan
    (it rounds inside the agg projection — value-identical because
    both paths round the SAME full DECIMAL sum exactly once); the
    state path is deliberately a separate construction so the benched
    plan's fingerprint stays byte-stable."""
    li = lineitem.select(
        "l_partkey",
        (F.col("l_returnflag") == "R").alias("ret"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .cast("decimal(20,6)").alias("rev"),
    )
    pt = part.select("p_partkey", "p_brand")
    return (
        li.join(pt, li.l_partkey == pt.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.col("ret").cast("long")).alias("n_returned"),
            F.sum("rev").alias("rev_sum"),
            F.sum(
                F.when(F.col("ret"), F.col("rev"))
                .otherwise(F.lit(0).cast("decimal(20,6)"))
            ).alias("ret_rev_sum"),
        )
    )


def return_rate_from_state(
    state: DataFrame, _lim: int = PPM2_LIMIT
) -> DataFrame:
    """The q_return_rate_by_brand readout from the per-brand DECIMAL
    state alone — rounds to cents once, then the shared close."""
    cells = state.groupBy("p_brand").agg(
        F.sum("n_lines").alias("n_lines"),
        F.sum("n_returned").alias("n_returned"),
        F.round(F.sum("rev_sum") * 100, 0).cast("long").alias("cents"),
        F.round(F.sum("ret_rev_sum") * 100, 0).cast("long")
        .alias("ret_cents"),
    )
    return _return_rate_close(cells, _lim)


def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative lifetime value per acquisition cohort: customers are
    cohorted by the month of their FIRST order, and each (cohort,
    month-age) cell reports that month's revenue, the running
    cumulative revenue, and the floor per-member LTV in cents — the
    curve a growth team reads to see whether newer cohorts monetize
    faster or slower than older ones (cohort_retention answers "do
    they come back", this answers "what are they worth").

    Exactness: o_totalprice has two decimals, so round(x*100) cast to
    long is the exact cent value per order; everything downstream is
    integer sums and one truncating div — no ppm, no float.  Month
    age is months_between on month-TRUNCATED timestamps (exact whole
    months, = DuckDB's datediff('month')).  Months where a cohort
    placed no orders are simply absent (no gap-fill): the cumulative
    column jumps across the gap, identically in both engines.

    Plan: one custkey agg for the cohort assignment, one custkey-keyed
    join back (self-join of orders' projection — AQE broadcasts the
    cohort side when it fits, sort-merge above), one (cohort, age)
    agg, then a window PARTITIONED by cohort over O(ages) rows and a
    broadcast join of the O(months) cohort-size table.  Output
    O(cohort months x ages) <= span² rows.

    100 TB posture: cumulative cents per cohort is bounded by total
    revenue cents, the money-sum family bound (< 9.2e18 up to roughly
    TPC-H sf1e5 — SCALE.md money table); the per-member div adds no
    headroom pressure."""
    return cohort_ltv_from_state(
        cohort_ltv_state(cached_scan(spark, f"{sf_dir}/orders.parquet"))
    )


def cohort_ltv_state(orders: DataFrame) -> DataFrame:
    """Per-(customer, order month) cents state — a pure SUM-monoid, so
    the whole LTV curve maintains incrementally via
    relational.merge_agg_states keyed by (o_custkey, om): the cohort
    assignment is itself derivable from the state (min month per
    customer), so no second state table is needed (streaming twin
    pinned in tests/test_streaming.py).  State is O(customers ·
    active months) rows of three scalars."""
    return (
        orders.select(
            "o_custkey",
            F.date_trunc("month", F.col("o_orderdate")).alias("om"),
            F.round(F.col("o_totalprice") * 100).cast("long")
            .alias("cents"),
        )
        # unpriced orders are excluded explicitly: a customer with only
        # NULL-price orders must not anchor a cohort whose revenue
        # cells then NULL out (the discount_elasticity NULL rule)
        .filter(F.col("cents").isNotNull())
        .groupBy("o_custkey", "om")
        .agg(F.sum("cents").alias("cents"))
    )


def cohort_ltv_from_state(state: DataFrame) -> DataFrame:
    """The q_cohort_ltv readout from the (customer, month) cents state
    alone — never a history rescan."""
    state = state.localCheckpoint(eager=False)  # cohort assign + cells
    first = state.groupBy("o_custkey").agg(F.min("om").alias("cm"))
    sizes = first.groupBy("cm").agg(F.count("*").alias("n_customers"))
    cells = (
        state.join(first, "o_custkey")
        .groupBy(
            "cm",
            F.months_between(F.col("om"), F.col("cm")).cast("int")
            .alias("month_age"),
        )
        .agg(F.sum("cents").alias("rev_cents"))
    )
    w = (
        W.partitionBy("cm").orderBy("month_age")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        cells.withColumn("cum_rev_cents", F.sum("rev_cents").over(w))
        .join(F.broadcast(sizes), "cm")
        .select(
            F.col("cm").cast("date").alias("cohort_month"),
            "month_age",
            F.col("n_customers").cast("long").alias("n_customers"),
            F.col("rev_cents").cast("long").alias("rev_cents"),
            F.col("cum_rev_cents").cast("long").alias("cum_rev_cents"),
            F.expr("cum_rev_cents div n_customers").cast("long")
            .alias("ltv_cents_per_customer"),
        )
    )


def q_category_penetration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Category-penetration matrix: for every (market segment, part
    brand) cell, how many of the segment's customers have EVER bought
    the brand, as an exact ppm of the segment's customer base — the
    cross-sell whitespace map (a low-penetration cell for a brand that
    is strong in sibling segments is the campaign target).

    Exactness: distinct-buyer counts and one exact ppm floor per cell;
    the denominator is the segment's FULL customer count (including
    never-buyers), so cells are comparable across segments.

    Plan: brand dim broadcast into the lineitem scan, orderkey-keyed
    join for the custkey, distinct on (custkey, brand) BEFORE the
    customer join (collapses the fact table to <= |customers|·|brands|
    rows, so the segment join is dim-sized-per-brand, never
    line-sized), then one small agg + broadcast of the O(segments)
    totals.  Output <= |segments|·|brands| rows (~125 for TPC-H).

    100 TB posture: the only corpus-sized shuffles are the orderkey
    join and the (custkey, brand) distinct; 1e6·n_buyers holds to
    9.2e12 buyers per cell — beyond any customer population."""
    li = cached_scan(spark, f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    )
    ords = cached_scan(spark, f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    pt = cached_scan(spark, f"{sf_dir}/part.parquet").select(
        "p_partkey", "p_brand"
    )
    cust = cached_scan(spark, f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_mktsegment"
    )
    buyers = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .join(ords, li.l_orderkey == ords.o_orderkey)
        .select("o_custkey", "p_brand")
        .distinct()
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .groupBy("c_mktsegment", "p_brand")
        .agg(F.count("*").alias("n_buyers"))
    )
    seg = cust.groupBy("c_mktsegment").agg(
        F.count("*").alias("seg_customers")
    )
    return buyers.join(F.broadcast(seg), "c_mktsegment").select(
        "c_mktsegment", "p_brand",
        F.col("n_buyers").cast("long").alias("n_buyers"),
        F.col("seg_customers").cast("long").alias("seg_customers"),
        F.expr("(1000000 * n_buyers) div seg_customers").cast("long")
        .alias("penetration_ppm"),
    )


# Decimal-domain bound for the elasticity OLS terms: keeps
# 1e6·(n·Σxy − Σx·Σy) inside DECIMAL(38,0) (worst case ~500·n² for
# x<=10, y<=50), with an order of magnitude to spare.
ELASTICITY_N_LIMIT = 100_000_000_000_000  # 1e14 lines per brand


def q_discount_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand discount elasticity: the exact OLS slope of line
    quantity against the discount percent — does discounting actually
    move volume for this brand, and by how many units per percentage
    point?  The pricing readout discount_ladder's marginal totals
    cannot answer (the ladder shows volume AT each step, the slope
    controls for the mix of steps a brand actually offered).

    Exactness: x = round(100·l_discount) (TPC-H discounts are exact
    hundredths, so this is the exact integer percent 0..10), y =
    integer quantity; the slope is the closed-form rational

        slope_ppm = trunc(1e6 · (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²))

    formed entirely in DECIMAL(38,0) (n·Σxy alone wraps int64 past
    ~4e8 lines per brand; DuckDB runs the identical formula in
    HUGEINT) with a LOUD guard at n ≤ 1e14.  Both engines truncate
    integer division toward zero (pinned by division_semantics_law),
    so the signed quotient is engine-identical without a sign split.
    Brands whose lines all carry one discount level have a zero
    denominator and NULL out (no variance, no slope).  Means are
    exact milli floors.

    Plan: ONE brand-keyed hash agg over the partkey-joined scan (AQE
    broadcasts the part dim), then pure column arithmetic on the
    O(|brands|) frame.  Output O(|brands|) rows, no windows."""
    li = (
        cached_scan(spark, f"{sf_dir}/lineitem.parquet")
        .select(
            "l_partkey",
            F.round(F.col("l_discount") * 100).cast("long").alias("x"),
            F.col("l_quantity").cast("long").alias("y"),
        )
        # a NULL x or y would stay in n while SUM skipped it, silently
        # deflating the slope — drop the row from BOTH (the
        # stratified_uplift r10 review lesson)
        .filter(F.col("x").isNotNull() & F.col("y").isNotNull())
    )
    pt = cached_scan(spark, f"{sf_dir}/part.parquet").select(
        "p_partkey", "p_brand"
    )
    agg = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
        )
    )
    agg = guard_int64(
        agg,
        F.col("n") <= F.lit(ELASTICITY_N_LIMIT),
        F.format_string(
            "discount_elasticity: brand '%s' has %s lines, past the "
            f"DECIMAL(38,0) domain bound ({ELASTICITY_N_LIMIT}) for "
            "1e6*(n*Sxy - Sx*Sy) — shard by brand-period "
            "(docstring bound)",
            F.col("p_brand"), F.col("n"),
        ),
    )
    dec = "cast(%s as decimal(38,0))"
    num = f"({dec % 'n'} * {dec % 'sxy'} - {dec % 'sx'} * {dec % 'sy'})"
    den = f"({dec % 'n'} * {dec % 'sxx'} - {dec % 'sx'} * {dec % 'sx'})"
    return agg.select(
        "p_brand",
        F.col("n").cast("long").alias("n_lines"),
        F.expr(f"CASE WHEN {den} <> 0 THEN "
               f"(cast(1000000 as decimal(38,0)) * {num}) div {den} END")
        .cast("long").alias("slope_qty_per_pct_ppm"),
        F.expr("(1000 * sy) div n").cast("long").alias("mean_qty_milli"),
        F.expr("(1000 * sx) div n").cast("long").alias("mean_disc_pct_milli"),
    )


def q_spend_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year customer spend migration: for every consecutive
    year pair, the transition matrix between power-of-two annual-spend
    buckets, with absence as an explicit state (bucket −1) — the
    upgrade/downgrade/churn dynamics readout behind any LTV forecast
    (cohort_ltv shows the average curve; this shows WHO moves between
    tiers, including lapse-and-return, which presence-only churn_rate
    cannot see).

    Semantics: a customer contributes one transition row per year pair
    where they were active in EITHER year; absent→absent is not a
    state (customers outside both years of a pair don't appear).
    Phantom edge pairs are excluded — a customer's last active year
    emits no transition past the corpus's max year, and min-year
    activity emits no transition from before the corpus.  share_ppm
    is exact within each (from_year, from_bucket) cohort cell.

    Exactness: annual cents are exact (o_totalprice has two decimals);
    buckets come from the shared open-ended GAP_BUCKETS literal (spend
    ≥ 0, top bucket open — every total lands, no silent truncation).

    Plan: one (cust, year) sum agg, a 32-row broadcast range join, one
    custkey-keyed full-outer self-join with the year+1 offset (the
    only corpus-sized shuffle after the agg; both sides are the SAME
    O(customers·years) frame, lazily checkpointed), then two tiny aggs
    and a broadcast of the O(years·33) cohort totals.  Output
    O(years · 33 · 33) rows, no windows."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.analytics import (
        GAP_BUCKETS,
    )

    od = (
        cached_scan(spark, f"{sf_dir}/orders.parquet")
        .select(
            "o_custkey",
            F.year("o_orderdate").cast("long").alias("yr"),
            F.round(F.col("o_totalprice") * 100).cast("long")
            .alias("cents"),
        )
        # an all-NULL-price year would NULL its spend and silently
        # drop the customer-year from the range join ("absent") —
        # make unpriced orders an explicit exclusion instead
        .filter(F.col("cents").isNotNull())
    )
    per = od.groupBy("o_custkey", "yr").agg(F.sum("cents").alias("spend"))
    buckets = spark.createDataFrame(
        GAP_BUCKETS, "bucket long, lo_cents long, hi_cents long"
    )
    bucketed = (
        per.join(
            F.broadcast(buckets),
            (F.col("spend") >= F.col("lo_cents"))
            & (F.col("spend") <= F.col("hi_cents")),
        )
        .select("o_custkey", "yr", "bucket")
        .localCheckpoint(eager=False)  # both self-join sides + bounds
    )
    bounds = bucketed.agg(
        F.min("yr").alias("y_min"), F.max("yr").alias("y_max")
    )
    a = bucketed.select(
        F.col("o_custkey").alias("cust"),
        F.col("yr").alias("ya"), F.col("bucket").alias("ba"),
    )
    b = bucketed.select(
        F.col("o_custkey").alias("cust"),
        F.col("yr").alias("yb"), F.col("bucket").alias("bb"),
    )
    trans = (
        a.join(
            b,
            (a.cust == b.cust) & (b.yb == a.ya + F.lit(1)),
            "full_outer",
        )
        .select(
            F.coalesce(F.col("ya"), F.col("yb") - 1).alias("from_year"),
            F.coalesce(F.col("ba"), F.lit(-1)).alias("from_bucket"),
            F.coalesce(F.col("bb"), F.lit(-1)).alias("to_bucket"),
        )
        .crossJoin(F.broadcast(bounds))
        .filter(
            (F.col("from_year") >= F.col("y_min"))
            & (F.col("from_year") + 1 <= F.col("y_max"))
        )
        .groupBy("from_year", "from_bucket", "to_bucket")
        .agg(F.count("*").alias("n_customers"))
        # matrix + cohort totals: run the self-join once
        .localCheckpoint(eager=False)
    )
    tot = trans.groupBy("from_year", "from_bucket").agg(
        F.sum("n_customers").alias("cohort_n")
    )
    return trans.join(
        F.broadcast(tot), ["from_year", "from_bucket"]
    ).select(
        "from_year", "from_bucket", "to_bucket",
        F.col("n_customers").cast("long").alias("n_customers"),
        F.col("cohort_n").cast("long").alias("cohort_n"),
        F.expr("(1000000 * n_customers) div cohort_n").cast("long")
        .alias("share_ppm"),
    )


def q_seasonality_index(
    spark: SparkSession, sf_dir: str, _lim: int = PPM2_LIMIT
) -> DataFrame:
    """Month-of-year seasonality per market segment: each (segment,
    calendar month) cell's exact revenue share of its segment, and the
    signed deviation from the uniform 1/12 line — WHICH segments are
    seasonal and when (dow_anomaly reads day-of-week noise, acf_daily
    detects the cycle; this is the planning readout a merchandiser
    actually schedules against).

    Exactness: order cents are exact (two-decimal totalprice); the
    share lands via the signed two-step rational floor (segment-month
    revenue wraps the naive 1e6 form at ~9.2e12 cents ≈ TPC-H sf4 per
    cell) with guard_int64 raising loudly past the _ppm2 domain; the
    uniform line is floor(1e6/12) = 83333, so delta sums to ~0 per
    segment by construction.

    Plan: one custkey-keyed join (AQE broadcasts the dim at small sf),
    ONE (segment, month) hash agg, a broadcast O(segments) totals
    join.  Output <= 12·|segments| rows, no windows."""
    od = (
        cached_scan(spark, f"{sf_dir}/orders.parquet")
        .select(
            "o_custkey",
            F.month("o_orderdate").cast("long").alias("month"),
            F.round(F.col("o_totalprice") * 100).cast("long")
            .alias("cents"),
        )
        .filter(F.col("cents").isNotNull())
    )
    cust = cached_scan(spark, f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_mktsegment"
    )
    cells = (
        od.join(cust, od.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment", "month")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("cents").alias("rev_cents"),
        )
        .localCheckpoint(eager=False)  # cells + segment totals
    )
    tot = cells.groupBy("c_mktsegment").agg(
        F.sum("rev_cents").alias("seg_cents")
    )
    out = cells.join(F.broadcast(tot), "c_mktsegment")
    out = guard_int64(
        out,
        F.col("seg_cents") <= F.lit(_lim),
        F.format_string(
            "seasonality_index: segment '%s' revenue %s cents exceeds "
            f"the two-step ppm bound ({_lim}) — shard by year "
            "(docstring bound)",
            F.col("c_mktsegment"), F.col("seg_cents"),
        ),
    )
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.analytics import (
        _ppm2,
    )

    # seg_cents == 0 (every order zero-priced) must NULL the shares in
    # BOTH engines, not diverge (Spark div-by-zero NULLs, DuckDB //
    # raises) — the return_rate_by_brand CASE pattern
    share = "CASE WHEN seg_cents > 0 THEN " + _ppm2("rev_cents", "seg_cents") + " END"
    return out.select(
        "c_mktsegment", "month",
        F.col("n_orders").cast("long").alias("n_orders"),
        F.col("rev_cents").cast("long").alias("rev_cents"),
        F.expr(share).cast("long").alias("share_ppm"),
        F.expr(f"({share}) - 83333").cast("long")
        .alias("delta_uniform_ppm"),
    )


def q_price_realization(
    spark: SparkSession, sf_dir: str, _lim: int = PPM2_LIMIT
) -> DataFrame:
    """Price realization per brand: realized revenue (extended price
    net of discount) as an exact ppm of LIST value (quantity x the
    part's retail price) — the pricing-discipline audit: a brand
    realizing 90% of list is discounting away a tenth of its book
    (discount_elasticity asks whether those discounts buy volume;
    this measures what they cost).

    Exactness: both sides accumulate in DECIMAL(20,6) and round to
    cents ONCE (the discount_ladder recipe — retail·quantity and
    extendedprice·(1−discount) are exact few-decimal products); the
    ratio is the two-step rational floor with guard_int64 raising
    loudly past the _ppm2 domain (9.2e15 cents per brand).  Zero list
    value NULLs the ratio in both engines.

    Plan: brand+retail dim broadcast into the lineitem scan, ONE brand
    hash agg — output O(|brands|), no windows."""
    li = cached_scan(spark, f"{sf_dir}/lineitem.parquet").select(
        "l_partkey",
        F.col("l_quantity").cast("decimal(20,6)").alias("qty"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .cast("decimal(20,6)").alias("rev"),
    )
    pt = cached_scan(spark, f"{sf_dir}/part.parquet").select(
        "p_partkey", "p_brand",
        F.col("p_retailprice").cast("decimal(20,6)").alias("retail"),
    )
    cells = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_lines"),
            F.round(F.sum(F.col("qty") * F.col("retail")) * 100, 0)
            .cast("long").alias("list_cents"),
            F.round(F.sum("rev") * 100, 0).cast("long")
            .alias("realized_cents"),
        )
    )
    cells = guard_int64(
        cells,
        F.col("list_cents") <= F.lit(_lim),
        F.format_string(
            "price_realization: brand '%s' list value %s cents exceeds "
            f"the two-step ppm bound ({_lim}) — shard by brand-period "
            "(docstring bound)",
            F.col("p_brand"), F.col("list_cents"),
        ),
    )
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.analytics import (
        _ppm2,
    )

    return cells.select(
        "p_brand",
        F.col("n_lines").cast("long").alias("n_lines"),
        "list_cents", "realized_cents",
        F.expr("CASE WHEN list_cents > 0 THEN "
               + _ppm2("realized_cents", "list_cents")
               + " END").cast("long").alias("realization_ppm"),
    )


# Decimal-domain bound for the HHI ratio: 1e6·C² must fit DECIMAL(38,0)
# -> brand revenue C <= ~3e15 cents (an order under the _ppm2 bound).
HHI_C_LIMIT = 3_000_000_000_000_000


def q_supply_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-chain concentration per brand: how much of each brand's
    revenue flows through its top supplier, and the Herfindahl index
    of its supplier mix — the single-source-risk audit (an HHI near
    1e6 says one supplier failure takes the brand out; the procurement
    twin of revenue_concentration's customer-side Pareto).

    Exactness: per-(brand, supplier) cents are DECIMAL-exact; the
    top-supplier share is the two-step rational floor; the HHI is
    floor(1e6 · Σ c_i² / C²) formed entirely in DECIMAL(38,0) (Σ c_i²
    wraps int64 past ~3e9 cents per supplier; DuckDB runs the same
    formula in HUGEINT) under a LOUD guard at C ≤ 3e15 cents.  Both
    quotients ≤ 1e6 fit the BIGINT decimal `div` returns.

    Plan: brand dim broadcast, ONE (brand, supplier) hash agg, one
    brand rollup (max_by for the top supplier, decimal sums for the
    HHI terms).  Output O(|brands|), no windows."""
    li = (
        cached_scan(spark, f"{sf_dir}/lineitem.parquet")
        .select(
            "l_partkey", "l_suppkey",
            (F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .cast("decimal(20,6)").alias("rev"),
        )
        # a NULL-suppkey group would be counted by the oracle's group
        # COUNT but skipped by countDistinct, and its revenue would
        # ride the HHI under a phantom supplier — exclude explicitly
        .filter(F.col("l_suppkey").isNotNull())
    )
    pt = cached_scan(spark, f"{sf_dir}/part.parquet").select(
        "p_partkey", "p_brand"
    )
    per_supp = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .groupBy("p_brand", "l_suppkey")
        .agg(F.round(F.sum("rev") * 100, 0).cast("long").alias("c"))
    )
    return _supply_close(per_supp)


def supply_state(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Per-(brand, supplier) DECIMAL revenue sums — a pure SUM-monoid,
    so the HHI table maintains incrementally via
    relational.merge_agg_states keyed by (p_brand, l_suppkey)
    (streaming twin #16; replay==batch pinned in
    tests/test_streaming.py).  Cents rounding is per CELL and lives in
    the readout, so merged state rounds identically to a one-shot
    pass; the HHI's quadratic Σc² is a function of the rounded cells,
    making this the family's first non-linear readout over monoid
    state.  The batch query keeps its fingerprinted plan (same
    share-the-close construction as return_state, twin #15)."""
    li = lineitem.select(
        "l_partkey", "l_suppkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .cast("decimal(20,6)").alias("rev"),
    ).filter(F.col("l_suppkey").isNotNull())
    pt = part.select("p_partkey", "p_brand")
    return (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .groupBy("p_brand", "l_suppkey")
        .agg(F.sum("rev").alias("rev_sum"))
    )


def supply_concentration_from_state(state: DataFrame) -> DataFrame:
    """The q_supply_concentration readout from the per-(brand,
    supplier) DECIMAL state alone — rounds each cell to cents once,
    then the shared rollup close."""
    per_supp = state.groupBy("p_brand", "l_suppkey").agg(
        F.round(F.sum("rev_sum") * 100, 0).cast("long").alias("c")
    )
    return _supply_close(per_supp)


_TOPSUPP_BASE = 10_000_000_000  # suppkey < 1e10, loudly guarded below


def _supply_close(per_supp: DataFrame) -> DataFrame:
    """Shared brand rollup + guard + ppm/HHI close over the
    per-(brand, supplier) cents cells — ONE home so the batch query
    and the state readout emit identical expressions (the factoring is
    plan-preserving for the batch path: same Column tree, same
    order).

    Top-supplier argmax (optimization r13, guide §5 hash-vs-sort agg):
    ``max_by(suppkey, struct(c, -suppkey))`` carries a struct extremum
    buffer, which HashAggregate cannot hold — the whole brand rollup
    (including the decimal HHI sums riding it) fell back to
    SortAggregate, sorting every (brand, supplier) cell twice.  c can
    reach the 3e15-cent HHI bound (too big for an int64 radix next to
    a 1e10 suppkey field), so the pack uses DECIMAL(38,0) — a mutable
    fixed-width agg buffer: pack = c·1e10 + (1e10-1-suppkey) is
    order-isomorphic to lexicographic (c, -suppkey) for
    0 <= suppkey < 1e10 and c >= 0 (both loudly guarded), max() over
    it hash-aggregates, and the decode is exact decimal arithmetic."""
    per_supp = guard_int64(
        per_supp,
        (F.col("l_suppkey") >= 0)
        & (F.col("l_suppkey") < F.lit(_TOPSUPP_BASE))
        & (F.col("c") >= 0),
        "supply_concentration: top-supplier pack bound exceeded "
        "(suppkey outside [0, 1e10) or negative cents cell)",
    )
    pack = (
        F.col("c").cast("decimal(20,0)")
        * F.lit(_TOPSUPP_BASE).cast("decimal(11,0)")
        + (F.lit(_TOPSUPP_BASE - 1) - F.col("l_suppkey")).cast("decimal(11,0)")
    )
    brands = per_supp.groupBy("p_brand").agg(
        F.countDistinct("l_suppkey").cast("long").alias("n_suppliers"),
        F.sum("c").cast("long").alias("total_cents"),
        # deterministic top supplier: max cents, ties -> min suppkey
        F.max(pack).alias("top_pack"),
        F.max("c").cast("long").alias("top_cents"),
        F.sum(
            F.col("c").cast("decimal(38,0)") * F.col("c").cast("decimal(38,0)")
        ).alias("sum_c2"),
    ).withColumn(
        "top_suppkey",
        (
            F.lit(_TOPSUPP_BASE - 1)
            - F.col("top_pack") % F.lit(_TOPSUPP_BASE).cast("decimal(11,0)")
        ).cast("long"),
    ).drop("top_pack")
    brands = guard_int64(
        brands,
        F.col("total_cents") <= F.lit(HHI_C_LIMIT),
        F.format_string(
            "supply_concentration: brand '%s' revenue %s cents exceeds "
            f"the DECIMAL(38,0) HHI domain bound ({HHI_C_LIMIT}) — "
            "shard by period (docstring bound)",
            F.col("p_brand"), F.col("total_cents"),
        ),
    )
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.analytics import (
        _ppm2,
    )

    return brands.select(
        "p_brand", "n_suppliers", "total_cents", "top_suppkey", "top_cents",
        F.expr("CASE WHEN total_cents > 0 THEN "
               + _ppm2("top_cents", "total_cents")
               + " END").cast("long").alias("top_share_ppm"),
        F.expr(
            "CASE WHEN total_cents > 0 THEN "
            "cast(1000000 as decimal(38,0)) * sum_c2 "
            "div (cast(total_cents as decimal(38,0)) "
            "* cast(total_cents as decimal(38,0))) END"
        ).cast("long").alias("hhi_ppm"),
    )


def q_basket_brand_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-brands-per-order distribution in power-of-two buckets —
    the cross-category basket shape (order_size_histogram counts
    LINES; this counts distinct BRANDS, and the gap between the two is
    repeat-same-brand buying): the evidence behind bundle design and
    the market_basket pair-mining support threshold.

    Exactness: distinct (order, brand) BEFORE the count, then the
    shared open-ended GAP_BUCKETS close with both marginals (order
    share and brand-slot mass share).  Plan: brand dim broadcast into
    the lineitem scan, one (order, brand) distinct, one orderkey
    count agg, the 32-row broadcast range join — no windows, output
    <= 32 rows."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.analytics import (
        pow2_histogram,
    )

    li = cached_scan(spark, f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    )
    pt = cached_scan(spark, f"{sf_dir}/part.parquet").select(
        "p_partkey", "p_brand"
    )
    per_order = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
        .groupBy("l_orderkey")
        .agg(F.count("*").alias("n_brands"))
    )
    return pow2_histogram(
        per_order, "n_brands",
        bucket_cols=("bucket", "lo_brands", "hi_brands"),
        count_alias="n_orders", count_share_alias="order_share_ppm",
        mass_alias="n_brand_slots", mass_share_alias="slot_share_ppm",
    )


def q_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear (equal-credit) multi-touch attribution: every qualifying
    touch (click/view by the same user within the 24 h lookback
    strictly before the conversion) gets an equal exact-ppm share of
    the conversion's credit — the multi-touch counterpart of
    q_attribution's last-touch rule (last-touch over-credits the
    bottom of the funnel; the delta between the two readouts IS the
    mid-funnel contribution).

    Exactness: credit_ppm = floor(1e6 / n_touches) per touch — the
    undistributed remainder (< n_touches ppm) is a documented floor
    artifact, not silent loss: Σ credit = 1e6 − (1e6 mod n).
    Touchless conversions emit one row with NULL touch and NULL
    credit (kept — an unattributed conversion is a result).

    Plan: one user-keyed self-join of the conversion slice against
    the touch slice with the time-range residual (the coactivity
    family shape; both sides are slices of ONE scan), a per-conversion
    count window over the joined pairs (partitioned by conversion —
    never global), then the credit projection.  At 100 TB the join is
    user-keyed and the fan-out is touches-per-user-per-day, the same
    bounded quantity the funnel family rides."""
    ev = read_events(spark, sf_dir)
    conv = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conversion_id"),
        "user_id",
        F.col("ts").alias("cts"),
    )
    touch = ev.filter(F.col("event_type").isin("click", "view")).select(
        F.col("user_id").alias("tu"),
        F.col("event_id").alias("touch_event_id"),
        F.col("event_type").alias("touch_type"),
        F.col("ts").alias("tts"),
    )
    pairs = conv.join(
        touch,
        (F.col("user_id") == F.col("tu"))
        & (F.col("tts") < F.col("cts"))
        & (F.col("tts") >= F.col("cts") - F.expr("INTERVAL 24 HOURS")),
        "left",
    )
    w = W.partitionBy("conversion_id")
    return pairs.select(
        "conversion_id", "user_id", "touch_event_id", "touch_type",
        F.count("touch_event_id").over(w).cast("long").alias("n_touches"),
    ).withColumn(
        "credit_ppm",
        F.when(
            F.col("touch_event_id").isNotNull(),
            F.expr("1000000 div n_touches"),
        ).cast("long"),
    )


def q_revenue_growth(
    spark: SparkSession, sf_dir: str, _lim: int = PPM2_LIMIT
) -> DataFrame:
    """Month-over-month revenue growth per market segment, as a SIGNED
    exact ppm of the prior month — the sequential-trend readout
    completing the time trio (seasonality_index: within-year shape;
    cohort_ltv: cohort curves; this: is the business growing month to
    month, and in which segments).

    Exactness: exact cents per (segment, month); growth_ppm =
    trunc(1e6·(cents − prev) / prev) via the signed two-step floor —
    engine-identical per division_semantics_law.  The first observed
    month (no prior) and a zero prior month emit NULL growth in both
    engines.  guard_int64 raises past the _ppm2 domain (9.2e15 cents
    per segment-month).

    Plan: one custkey join + ONE (segment, month) agg (lazily
    checkpointed — it feeds both sides of the month-offset self-join
    of the O(segments·months) frame).  No windows."""
    od = (
        cached_scan(spark, f"{sf_dir}/orders.parquet")
        .select(
            "o_custkey",
            F.date_trunc("month", F.col("o_orderdate")).alias("mth"),
            F.round(F.col("o_totalprice") * 100).cast("long")
            .alias("cents"),
        )
        .filter(F.col("cents").isNotNull())
    )
    cust = cached_scan(spark, f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_mktsegment"
    )
    cells = (
        od.join(cust, od.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment", "mth")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("cents").alias("rev_cents"),
        )
        .localCheckpoint(eager=False)  # both month-offset join sides
    )
    cells = guard_int64(
        cells,
        F.col("rev_cents") <= F.lit(_lim),
        F.format_string(
            "revenue_growth: segment '%s' month revenue %s cents "
            f"exceeds the two-step ppm bound ({_lim}) — shard by "
            "region (docstring bound)",
            F.col("c_mktsegment"), F.col("rev_cents"),
        ),
    )
    prev = cells.select(
        F.col("c_mktsegment").alias("ps"),
        F.add_months(F.col("mth"), 1).alias("pm"),
        F.col("rev_cents").alias("prev_cents"),
    )
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.analytics import (
        _ppm2,
    )

    return (
        cells.join(
            prev,
            (F.col("c_mktsegment") == F.col("ps"))
            & (F.col("mth") == F.col("pm")),
            "left",
        )
        .select(
            "c_mktsegment",
            F.col("mth").cast("date").alias("month"),
            F.col("n_orders").cast("long").alias("n_orders"),
            F.col("rev_cents").cast("long").alias("rev_cents"),
            F.col("prev_cents").cast("long").alias("prev_cents"),
            F.expr(
                "CASE WHEN prev_cents > 0 THEN "
                + _ppm2("rev_cents - prev_cents", "prev_cents")
                + " END"
            ).cast("long").alias("growth_ppm"),
        )
    )


def q_interpurchase_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of the days between a customer's consecutive
    orders, in power-of-two day buckets — the repurchase-cadence
    readout behind replenishment-reminder timing and the churn
    window choice (a customer is only "late" relative to where this
    histogram's mass sits, not relative to a folklore 90 days).

    Exactness: gaps are exact integer differences of the order DATEs
    under a deterministic tie-break (o_orderdate, o_orderkey — two
    same-day orders contribute a 0-day gap whichever engine orders
    them); bucketing is a range join against the fixed GAP_BUCKETS
    literal (broadcast, 32 rows), share is the exact ppm floor over
    total gaps.

    Plan: one per-customer lead window (keyed by o_custkey — never
    global), a 32-row broadcast range join, one <=32-key agg.  Output
    <= 32 rows.  At 100 TB the only wide op is the custkey window's
    keyed shuffle."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.analytics import (
        pow2_histogram,
    )

    od = cached_scan(spark, f"{sf_dir}/orders.parquet")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        od.select("o_custkey", "o_orderdate", "o_orderkey")
        .withColumn("nxt", F.lead("o_orderdate").over(w))
        .filter(F.col("nxt").isNotNull())
        .select(
            F.datediff(
                F.col("nxt").cast("date"), F.col("o_orderdate").cast("date")
            ).cast("long").alias("gap_d")
        )
    )
    return pow2_histogram(
        gaps, "gap_d",
        bucket_cols=("bucket", "lo_days", "hi_days"),
        count_alias="n_gaps", count_share_alias="gap_share_ppm",
    )


def q_price_band_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue mix by catalog price band ($10-wide bands of
    p_retailprice): how much of the revenue the cheap-seats bands
    carry vs the premium bands, next to how much of the CATALOG sits
    in each band — the assortment-vs-monetization gap readout (a band
    holding 30% of parts but 3% of revenue is dead inventory; the
    reverse is a thin premium line carrying the business).

    Exactness: band = floor(p_retailprice / 10) — float division and
    floor of the same IEEE double in both engines, deterministic;
    revenue follows the trade_balance DECIMAL recipe (extendedprice·
    (1−discount) accumulates in DECIMAL(20,6), rounds to cents once);
    shares are exact ppm floors (_ppm2 — wrap-safe to 9.2e15).

    Plan: the part side reduces to (band, n_parts) with one agg before
    anything joins; the lineitem side is one keyed join on l_partkey
    against the two-column (p_partkey, band) projection, then a
    few-hundred-key agg (map-side partial).  A LEFT join from the
    part-side band table keeps zero-revenue bands visible.  Output
    O(#bands) rows; at 100 TB the only wide ops are the partkey join
    and the narrow band agg."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.analytics import (
        _ppm2,
    )
    part = cached_scan(spark, f"{sf_dir}/part.parquet").select(
        "p_partkey",
        F.floor(F.col("p_retailprice") / 10).cast("long").alias("band"),
    )
    li = cached_scan(spark, f"{sf_dir}/lineitem.parquet").select(
        "l_partkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .cast("decimal(20,6)").alias("rev"),
    )
    catalog = part.groupBy("band").agg(F.count("*").alias("n_parts"))
    sales = (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .groupBy("band")
        .agg(
            F.count("*").alias("n_lines"),
            F.round(F.sum("rev") * 100, 0).cast("long").alias("revenue_cents"),
        )
    )
    mix = (
        catalog.join(sales, "band", "left")
        .select(
            "band",
            (F.col("band") * 10).cast("long").alias("band_lo_dollars"),
            F.col("n_parts").cast("long").alias("n_parts"),
            F.coalesce(F.col("n_lines"), F.lit(0)).cast("long").alias("n_lines"),
            F.coalesce(F.col("revenue_cents"), F.lit(0)).cast("long")
            .alias("revenue_cents"),
        )
        .localCheckpoint(eager=False)  # read twice: rows + totals
    )
    tot = mix.agg(
        F.sum("n_parts").alias("__tp"),
        F.sum("revenue_cents").alias("__tr"),
    )
    for gc in ("__tp", "__tr"):
        tot = guard_int64(
            tot,
            F.col(gc) <= F.lit(PPM2_LIMIT),
            F.format_string(
                f"price_band_mix: total {gc} = %s exceeds the two-step "
                f"ppm bound ({PPM2_LIMIT}) — shard the ledger "
                "(docstring bound)",
                F.col(gc),
            ),
        )
    return mix.crossJoin(F.broadcast(tot)).select(
        "band", "band_lo_dollars", "n_parts", "n_lines", "revenue_cents",
        F.expr(_ppm2("n_parts", "__tp")).cast("long").alias("part_share_ppm"),
        F.expr(
            "CASE WHEN __tr > 0 THEN " + _ppm2("revenue_cents", "__tr") + " END"
        ).cast("long").alias("rev_share_ppm"),
    )


def q_credit_exposure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order exposure by customer account-balance band — the
    credit-risk concentration readout: how much order volume sits on
    customers in each (signed) balance tier, and in particular on the
    NEGATIVE-balance book (sign −1 rows are receivables risk; a large
    exposure share there is the finding).

    Banding: sign(acctbal) × the shared open-ended power-of-two cent
    buckets of |acctbal| — a fixed FUNCTION of the value (no quantile
    negotiation), signed so over-extended and flush customers never
    share a band; balance exactly 0 is its own (0, bucket 0) band.

    Exactness: balances and order totals floor to cents once
    (round(x·100)); shares are the wrap-safe two-step ppm floor over
    total exposure with the PPM2 guard.  Customers with no orders
    still count in n_customers (left join), keeping the denominator
    the whole book.

    Plan: one custkey-keyed sum agg over orders, a broadcast 32-row
    range join on the customer side, one <=65-key agg.  Output
    O(bands) rows; at 100 TB the wide ops are the order agg and the
    customer-order keyed join."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.analytics import (
        GAP_BUCKETS,
        _ppm2,
    )

    spark_ = spark
    cust = cached_scan(spark_, f"{sf_dir}/customer.parquet").select(
        "c_custkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
    )
    od = (
        cached_scan(spark_, f"{sf_dir}/orders.parquet")
        .select(
            "o_custkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("cents").alias("exposure_cents"),
        )
    )
    buckets = spark_.createDataFrame(
        GAP_BUCKETS, "bucket long, lo_cents long, hi_cents long"
    )
    banded = (
        cust.join(
            F.broadcast(buckets),
            (F.abs(F.col("bal_cents")) >= F.col("lo_cents"))
            & (F.abs(F.col("bal_cents")) <= F.col("hi_cents")),
        )
        .withColumn("sign", F.signum("bal_cents").cast("long"))
        .join(od, cust["c_custkey"] == od["o_custkey"], "left")
        .groupBy("sign", "bucket", "lo_cents", "hi_cents")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("bal_cents").alias("balance_cents"),
            F.coalesce(F.sum("n_orders"), F.lit(0)).cast("long")
            .alias("n_orders"),
            F.coalesce(F.sum("exposure_cents"), F.lit(0)).cast("long")
            .alias("exposure_cents"),
        )
        .localCheckpoint(eager=False)  # read twice: rows + total
    )
    tot = guard_int64(
        banded.agg(F.sum("exposure_cents").alias("__te")),
        F.col("__te") <= F.lit(PPM2_LIMIT),
        F.format_string(
            f"credit_exposure: total exposure %s exceeds the two-step "
            f"ppm bound ({PPM2_LIMIT}) — shard the book (docstring "
            "bound)",
            F.col("__te"),
        ),
    )
    return banded.crossJoin(F.broadcast(tot)).select(
        "sign", "bucket", "lo_cents", "hi_cents", "n_customers",
        "balance_cents", "n_orders", "exposure_cents",
        F.expr(
            "CASE WHEN __te > 0 THEN "
            + _ppm2("exposure_cents", "__te")
            + " END"
        ).cast("long").alias("exposure_share_ppm"),
    )


def q_tax_effective_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective tax rate by supplier nation: taxed amount as an exact
    ppm of the discounted base — the jurisdiction-mix readout (a
    nation whose effective rate drifts from its statutory band is a
    data-quality or routing finding; the tpch_q1 charge expression,
    reduced to the rate itself).

    Exactness: base = extendedprice·(1−discount), tax amount =
    base·tax — both accumulate in DECIMAL(20,6) (the operands carry
    two decimals each, so six fractional digits hold the products
    exactly) and round to cents once; the rate is the wrap-safe
    two-step ppm floor with the PPM2 guard.

    Plan: one keyed join to the supplier dim (broadcast at catalog
    sizes, AQE owns the pick), a broadcast nation-name join, one
    <=25-key agg.  Output O(|nations|) rows."""
    li = cached_scan(spark, f"{sf_dir}/lineitem.parquet")
    sup = cached_scan(spark, f"{sf_dir}/supplier.parquet")
    nat = cached_scan(spark, f"{sf_dir}/nation.parquet")
    return tax_rate_from_state(tax_state(li, sup, nat))


def tax_state(
    lineitem: DataFrame, supplier: DataFrame, nation: DataFrame
) -> DataFrame:
    """Per-nation (n_lines, DECIMAL base/tax sums) — a pure SUM-monoid
    over DECIMAL-exact addends, so the tax-rate table maintains
    incrementally via relational.merge_agg_states keyed by n_name; the
    cents rounding happens ONCE in the readout, never in the state, so
    merged state rounds identically to a one-shot pass (streaming twin
    #13, replay==batch pinned in tests/test_streaming.py)."""
    li = lineitem.select(
        "l_suppkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .cast("decimal(20,6)").alias("base"),
        (
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
            * F.col("l_tax")
        ).cast("decimal(20,6)").alias("tax_amt"),
    )
    sup = supplier.select("s_suppkey", "s_nationkey")
    nat = nation.select("n_nationkey", "n_name")
    return (
        li.join(sup, li["l_suppkey"] == sup["s_suppkey"])
        .join(F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum("base").alias("base_sum"),
            F.sum("tax_amt").alias("tax_sum"),
        )
    )


def tax_rate_from_state(state: DataFrame) -> DataFrame:
    """The q_tax_effective_rate readout from the per-nation DECIMAL
    state alone — rounds to cents once, guards, floors the ppm."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.analytics import (
        _ppm2,
    )

    agg = state.groupBy("n_name").agg(
        F.sum("n_lines").cast("long").alias("n_lines"),
        F.round(F.sum("base_sum") * 100, 0).cast("long").alias("base_cents"),
        F.round(F.sum("tax_sum") * 100, 0).cast("long").alias("tax_cents"),
    )
    agg = guard_int64(
        agg,
        F.col("base_cents") <= F.lit(PPM2_LIMIT),
        F.format_string(
            f"tax_effective_rate: nation '%s' base %s exceeds the "
            f"two-step ppm bound ({PPM2_LIMIT}) — shard by period "
            "(docstring bound)",
            F.col("n_name"), F.col("base_cents"),
        ),
    )
    return agg.select(
        "n_name",
        F.col("n_lines").cast("long").alias("n_lines"),
        "base_cents", "tax_cents",
        F.expr(
            "CASE WHEN base_cents > 0 THEN "
            + _ppm2("tax_cents", "base_cents")
            + " END"
        ).cast("long").alias("tax_rate_ppm"),
    )


def q_order_total_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-vs-detail reconciliation: per order status, does
    o_totalprice equal the TPC-H charge sum of the order's lines
    (Σ extendedprice·(1−discount)·(1+tax))?  The books-balance audit
    every finance-grade pipeline runs between a header table and its
    detail table — direction matters (header OVER detail is missing
    lines or double-counted headers; UNDER is replayed lines), so both
    directions count separately, and lineless headers are their own
    loud bucket rather than a silent join drop.  (On the driver's
    synthetic corpus the header price is independent of the lines, so
    this reports ~100% mismatch — the audit stating a true fact about
    that data.)

    Exactness: header cents floor once; line charges are exact 6-dp
    DECIMAL products summed in DECIMAL and rounded to cents ONCE per
    order; the delta and its max are exact integers; shares are the
    wrap-safe two-step floor.

    Plan: one orderkey-keyed sum agg over lineitem, one keyed LEFT
    join from orders, one <=|statuses|-key agg.  Output
    O(|statuses|) rows."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.analytics import (
        _ppm2,
    )

    lc = (
        cached_scan(spark, f"{sf_dir}/lineitem.parquet")
        .select(
            "l_orderkey",
            (
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax"))
            ).cast("decimal(20,6)").alias("charge"),
        )
        .groupBy("l_orderkey")
        .agg(
            F.round(F.sum("charge") * 100, 0).cast("long")
            .alias("line_cents")
        )
    )
    od = cached_scan(spark, f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long")
        .alias("header_cents"),
    )
    j = od.join(lc, od["o_orderkey"] == lc["l_orderkey"], "left")
    delta = F.col("header_cents") - F.col("line_cents")
    agg = j.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("line_cents").isNull().cast("long")).alias("n_lineless"),
        # when/otherwise, not a bare boolean cast: a lineless order's
        # NULL delta must count as "not in this direction" (0), and a
        # NULL boolean cast would poison the whole group's sum instead
        F.sum(F.when(delta > 0, 1).otherwise(0)).alias("n_over"),
        F.sum(F.when(delta < 0, 1).otherwise(0)).alias("n_under"),
        F.sum(F.when(delta == 0, 1).otherwise(0)).alias("n_exact"),
        F.coalesce(F.max(F.abs(delta)), F.lit(0)).cast("long")
        .alias("max_abs_delta_cents"),
    )
    return agg.select(
        "o_orderstatus",
        F.col("n_orders").cast("long").alias("n_orders"),
        F.col("n_lineless").cast("long").alias("n_lineless"),
        F.col("n_over").cast("long").alias("n_over"),
        F.col("n_under").cast("long").alias("n_under"),
        F.col("n_exact").cast("long").alias("n_exact"),
        F.expr(_ppm2("n_exact", "n_orders")).cast("long")
        .alias("exact_ppm"),
        "max_abs_delta_cents",
    )


def q_abc_classification(
    spark: SparkSession, sf_dir: str, _lim: int = PPM2_LIMIT
) -> DataFrame:
    """ABC inventory classification: every part lands in class A, B,
    or C by where its revenue-value group sits on the descending
    cumulative-revenue curve (A starts before the 80% boundary, B
    before 95%, C past it) — the assortment-rationalization readout
    (Main.py's category lens has no part-rank view; this is the
    standard ops extension).

    Determinism contract: the class is assigned at the DISTINCT
    REVENUE VALUE level, not per rank — every part with the same
    lifetime revenue gets the same class (a per-part rank would need a
    tie-break the oracle must renegotiate; the value-group boundary is
    a pure function of the histogram).  A value group is class A when
    the revenue STRICTLY ABOVE its value is under 80% of the total
    (i.e. the group straddles or precedes the boundary), B under 95%,
    else C.  Zero-revenue parts (no lineitems) have the entire total
    above them and land in C.

    Exactness: per-line base = extendedprice·(1−discount) accumulates
    in DECIMAL(20,6) per part and rounds to cents ONCE; the strict
    prefix and shares are long arithmetic through the wrap-safe
    two-step ppm floor, with a guard_int64 on the total.

    Plan: one partkey-keyed agg over lineitem, one keyed left join
    from the part dim (revenue-less parts stay visible), one
    O(distinct revenue values) histogram agg, the 1024-bucket
    distributed strict prefix (analytics._bucketed_prefix — no global
    single-task window), one <=3-key agg, 1-row broadcast total.
    Output <=3 rows."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.analytics import (
        _bucketed_prefix,
        _ppm2,
    )

    li = cached_scan(spark, f"{sf_dir}/lineitem.parquet")
    part = cached_scan(spark, f"{sf_dir}/part.parquet")
    per_part = (
        li.select(
            "l_partkey",
            (F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .cast("decimal(20,6)").alias("base"),
        )
        .groupBy("l_partkey")
        .agg(F.round(F.sum("base") * 100, 0).cast("long").alias("rev"))
    )
    parts = (
        part.select("p_partkey")
        .join(per_part, F.col("p_partkey") == F.col("l_partkey"), "left")
        .select(
            "p_partkey",
            F.coalesce(F.col("rev"), F.lit(0)).alias("rev_cents"),
        )
        .localCheckpoint(eager=False)  # read twice: histogram + total
    )
    # distinct-value histogram: the prefix rides O(distinct revenues)
    hist = parts.groupBy("rev_cents").agg(
        F.count("*").alias("n_parts"),
        F.sum("rev_cents").alias("mass"),
    )
    # descending cumulative = strict prefix over the NEGATED value
    pre = _bucketed_prefix(
        hist.withColumn("neg", -F.col("rev_cents")), "neg", ["mass"]
    )
    tot = guard_int64(
        parts.agg(F.sum("rev_cents").alias("tr")),
        F.col("tr") <= F.lit(_lim),
        F.format_string(
            "abc_classification: total revenue %s cents exceeds the "
            f"two-step ppm bound ({_lim}) — shard by period/region "
            "first (docstring bound)",
            F.col("tr"),
        ),
    )
    classed = (
        pre.crossJoin(F.broadcast(tot))
        .select(
            "rev_cents", "n_parts", "mass",
            F.expr(
                "CASE WHEN tr > 0 THEN "
                + _ppm2("prefix_mass", "tr")
                + " ELSE 1000000 END"
            ).alias("above_ppm"),
        )
        .select(
            F.when(F.col("above_ppm") < 800000, F.lit("A"))
            .when(F.col("above_ppm") < 950000, F.lit("B"))
            .otherwise(F.lit("C")).alias("abc_class"),
            "n_parts", "mass",
        )
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.sum("n_parts").cast("long").alias("n_parts"),
            F.sum("mass").cast("long").alias("revenue_cents"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "abc_class", "n_parts", "revenue_cents",
            F.expr(
                "CASE WHEN tr > 0 THEN "
                + _ppm2("revenue_cents", "tr")
                + " END"
            ).cast("long").alias("rev_share_ppm"),
        )
    )


def q_single_source_risk(
    spark: SparkSession, sf_dir: str, _lim: int = PPM2_LIMIT
) -> DataFrame:
    """Single-source supply risk by brand: each brand's supplier
    count, its top supplier (by revenue, suppkey tie-break), and the
    exact ppm share of brand revenue that the top supplier carries —
    the procurement readout that flags a brand one supplier outage
    away from stock-out (supply_concentration's Pareto is per-nation;
    this is the per-brand argmax).

    Exactness: per-line base in DECIMAL(20,6), per-(brand, supplier)
    cents rounded once; shares are the two-step ppm floor with a
    guard on each brand total.

    Plan: one partkey-keyed join lineitem→part (part is a catalog dim
    — AQE owns the broadcast pick), one (brand, suppkey)-keyed agg, a
    brand-PARTITIONED rank window over the per-brand supplier list
    (bounded groups — audit-safe), one <=|brands|-key agg, keyed
    1:1 join of the two <=|brands|-row frames.  Output O(|brands|)."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.analytics import (
        _ppm2,
    )

    li = cached_scan(spark, f"{sf_dir}/lineitem.parquet")
    part = cached_scan(spark, f"{sf_dir}/part.parquet")
    cell = (
        li.select(
            "l_partkey", "l_suppkey",
            (F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .cast("decimal(20,6)").alias("base"),
        )
        .join(part.select("p_partkey", "p_brand"),
              F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "l_suppkey")
        .agg(F.round(F.sum("base") * 100, 0).cast("long").alias("rev"))
        .localCheckpoint(eager=False)  # read twice: totals + argmax
    )
    brand_tot = guard_int64(
        cell.groupBy("p_brand").agg(
            F.count("*").cast("long").alias("n_suppliers"),
            F.sum("rev").alias("brand_revenue_cents"),
        ),
        F.col("brand_revenue_cents") <= F.lit(_lim),
        F.format_string(
            "single_source_risk: brand '%s' revenue %s cents exceeds "
            f"the two-step ppm bound ({_lim}) — shard by period first "
            "(docstring bound)",
            F.col("p_brand"), F.col("brand_revenue_cents"),
        ),
    )
    w = W.partitionBy("p_brand").orderBy(
        F.col("rev").desc(), F.col("l_suppkey").asc()
    )
    top = (
        cell.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "p_brand",
            F.col("l_suppkey").alias("top_suppkey"),
            F.col("rev").alias("top_revenue_cents"),
        )
    )
    return brand_tot.join(top, "p_brand").select(
        "p_brand", "n_suppliers", "top_suppkey", "top_revenue_cents",
        F.col("brand_revenue_cents").cast("long")
        .alias("brand_revenue_cents"),
        F.expr(
            "CASE WHEN brand_revenue_cents > 0 THEN "
            + _ppm2("top_revenue_cents", "brand_revenue_cents")
            + " END"
        ).cast("long").alias("top_share_ppm"),
    )
