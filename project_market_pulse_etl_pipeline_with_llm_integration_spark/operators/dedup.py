"""Deduplication operators for LLM training-data pipelines (north-star
mandate): exact, n-gram Jaccard, MinHash+LSH banding, SimHash.

Scale design (the point of each implementation):

* **Exact** — hash-groupBy on an md5 fingerprint of normalized text.
  One shuffle keyed by a 128-bit digest (uniform, no skew); survivor =
  min doc_id per group.  At 100 TB this is the cheapest possible exact
  dedup: the shuffle payload is (digest, id), never the document body.

* **n-gram Jaccard** — exact pairwise similarity, O(n²) without
  blocking; provided with a cheap blocking key so candidate pairs stay
  bounded.  At scale this is the *verify* stage fed by LSH candidates,
  never run all-pairs.

* **MinHash + LSH** — the scale path: k seeded xxhash64 min-hashes per
  doc (JVM-side higher-order functions, no UDF), grouped into b bands
  of r rows; docs sharing any band bucket become candidate pairs
  (equi-join on the band key — a plain shuffle join, no cross product),
  then candidates are verified with true token-set Jaccard.  P(candidate)
  = 1-(1-s^r)^b — with k=32, b=8, r=4 the curve crosses ~0.5 at s≈0.59.

* **SimHash** — 64-bit signature from per-token hash bit-votes,
  near-dup = Hamming distance ≤ d on 16-bit chunk blocking (a pair
  within distance d ≤ 3 must share one of 4 chunks — pigeonhole).

All token/shingle math uses ``pyspark.sql.functions`` array algebra
(array_distinct/array_intersect/transform/aggregate) so it stays in
codegen; only SimHash's bit-vote accumulation uses a vectorized
mapInPandas (documented slow path).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from project_market_pulse_etl_pipeline_with_llm_integration_spark.functions.columns import (
    norm_text,
    tokens,
)
from project_market_pulse_etl_pipeline_with_llm_integration_spark.sources.readers import (
    cached_scan,
    spread_if_narrow,
)

# ---------------------------------------------------------------------------
# Degenerate-blocking guard (shared by the near-dup families)
# ---------------------------------------------------------------------------

def _guard_inplan(side: DataFrame, keys: list[str], cap: int, op: str,
                  what: str, advice: str) -> DataFrame:
    """The near-dup family's degenerate-blocking cap: a per-block count
    window + ``assert_true`` folded into one join side of the main
    query.  The window's hash partitioning on the block keys is the
    same exchange the equi-join needs, so the added physical cost is
    one sort — no second pass, no separate job, and building the query
    runs nothing.  A violation fails the job (each task asserts before
    emitting its block's rows, so the quadratic join output is never
    materialized) with ``pyspark.errors.SparkRuntimeException``
    carrying ``<op>: largest <what> holds N docs (> cap C) — <advice>``."""
    cnt = F.count("*").over(Window.partitionBy(*keys))
    msg = F.format_string(
        f"{op}: largest {what} holds %s docs (> cap {cap}) — {advice}", cnt
    )
    ok = F.coalesce(F.assert_true(cnt <= F.lit(cap), msg).cast("boolean"), F.lit(True))
    # window exprs are illegal in WHERE: project the assert first, then
    # filter on the projected column (Filter stays above the Window)
    return side.withColumn("_cap_ok", ok).filter("_cap_ok").drop("_cap_ok")


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Group identical (normalized) texts; survivor = min id.
    Returns (keep_id, dup_count) per distinct content."""
    return (
        df.withColumn("fp", F.md5(norm_text(text_col)))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("dup_count"))
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = cached_scan(spark, f"{sf_dir}/documents.parquet")
    return exact_dedup(spread_if_narrow(df)).select("fp", "keep_id", "dup_count")


# ---------------------------------------------------------------------------
# Token-set / n-gram Jaccard near-dup (exact pairwise, blocked)
# ---------------------------------------------------------------------------

def shingles(col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles as array<string> (distinct).  n=1 degrades to
    the distinct token set."""
    toks = tokens(col)
    if n == 1:
        return F.array_distinct(toks)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
    )


def shingle_hashes(col: Column | str, n: int = 3) -> Column:
    """Distinct n-gram shingles hashed to 64-bit longs.  Set operations
    (intersect/union sizes) over longs are ~an order of magnitude
    cheaper than over the shingle strings, and Jaccard computed on the
    hashed sets equals Jaccard on the string sets absent 64-bit
    collisions (P < 1e-13 for 10^3-shingle docs)."""
    return F.transform(shingles(col, n), lambda s: F.xxhash64(s))


_JACCARD_BLOCK_WIDTH = 16


def _prefix_len(sz: Column, threshold: float) -> Column:
    """Prefix-filter length |X| - ceil(t*|X|) + 1 (ppjoin family —
    Chaudhuri et al. ICDE'06, Xiao et al. WWW'08): if J(A,B) >= t then
    |A∩B| >= ceil(t*max(|A|,|B|)), and a counting argument shows at
    least one common element must land in the first
    |X| - ceil(t*|X|) + 1 SORTED hashes of BOTH sets.  ceil(t*|X|) is
    computed in exact integer ppm arithmetic ((|X|*ppm + 999999) div
    1e6): a float product can round past the exact t*|X| in either
    direction, and a too-short prefix silently loses pairs (one-too-long
    only adds candidates)."""
    thr_ppm = int(round(threshold * 1_000_000))
    # floor over a double division is exact here: the numerator is an
    # integer < 2^53 and the true quotient sits >= 1e-6 from the next
    # integer whenever it is not itself an integer
    ceil_t_sz = F.floor((sz * thr_ppm + (1_000_000 - 1)) / F.lit(1_000_000))
    return (sz - ceil_t_sz + 1).cast("int")


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 1,
    threshold: float = 0.6,
    block_col: Column | None = None,
    max_block_size: int | None = None,
) -> DataFrame:
    """All pairs (a<b) with token-shingle Jaccard >= threshold, joined
    within blocks.

    Default blocking + its RECALL CONTRACT: docs are keyed by a
    token-count bucket of width 16 and each doc is emitted into its own
    AND the next bucket, so any pair whose token counts differ by less
    than one bucket width is guaranteed to meet (boundary-straddling
    lengths like 15 vs 16 included).  Pairs with a larger length gap can
    still clear ``threshold`` (max attainable jaccard of sets sized
    s<=l is s/l) and are NOT guaranteed; for t=0.6 that means docs
    longer than ~40 tokens are fully covered, shorter docs may miss
    pairs with >16-token gaps.  Pass an explicit ``block_col`` (or
    ``F.lit(0)`` for exact all-pairs) when that tail matters; at 100 TB
    use minhash_candidate_pairs() to generate candidates and this only
    as the verifier.

    ``max_block_size`` guards against degenerate blocking (e.g. a
    length-uniform corpus collapsing into one bucket): when set, the
    a-side of the join carries ``_guard_inplan``, so a block over the
    cap fails the job before the join output materializes.

    NULL text has no shingles, so it pairs with nothing (an empty or
    blank text is one empty shingle and pairs with its kind at J = 1).

    The plan is ppjoin's prefix filter with the prefix hashes as join
    keys: each doc's sorted-hash prefix (``_prefix_len``) is exploded,
    skinny (id, size, hash) rows are equi-joined on (block, prefix
    hash), candidate pairs are deduplicated, and only then are the
    shingle arrays attached for the full intersection.  A pair that
    shares no prefix hash cannot clear the threshold, so it is never
    built.  Cost: the join emits ~(true near-dups + shared-prefix noise)
    rows, not every within-block pair, so it grows with the docs'
    prefix lengths rather than with the square of the block
    populations; it takes four shuffles (prefix join, candidate
    distinct, two attach joins) after the shared shingle pass.
    Building the frame runs no job of its own; when the caller spreads a
    narrow scan (``spread_if_narrow``), AQE runs that shuffle's map stage
    while it plans the lazy ``localCheckpoint`` below."""
    df = df.filter(F.col(text_col).isNotNull())
    if block_col is not None:
        base = df.select(
            F.col(id_col).alias("id"),
            F.array_sort(shingle_hashes(text_col, n)).alias("sh"),
            block_col.alias("blk"), block_col.alias("home"),
        )
    else:
        # own bucket + successor: adjacent lengths always share a block.
        # The shingle array and bucket are projected BEFORE the explode:
        # companion expressions in a generator's select re-evaluate per
        # output row, which would run the whole shingle pipeline twice
        # per doc (SCALE.md round-6 lesson).
        bucket = (F.size(tokens(text_col)) / _JACCARD_BLOCK_WIDTH).cast("int")
        base = df.select(
            F.col(id_col).alias("id"),
            F.array_sort(shingle_hashes(text_col, n)).alias("sh"),
            bucket.alias("home"),
        ).select(
            "id", "sh",
            F.explode(F.array(F.col("home"), F.col("home") + 1)).alias("blk"),
            "home",
        )
    # Share the shingle pass between the self-join sides, the attach and
    # the guard: without this the tokenize->shingle->hash->sort pipeline
    # runs once PER SIDE — measured 1.9s -> 1.6s steady-state and 45s ->
    # 4s cold at sf0.1 (the duplicated codegen was also what JIT warmed
    # so slowly).  Same pattern as minhash; on a cluster this is a
    # bounded (id, hashes, band) spill, never bodies.
    base = base.localCheckpoint(eager=False)
    guarded = base
    if max_block_size is not None:
        guarded = _guard_inplan(
            base, ["blk"], max_block_size, "jaccard_pairs", "block",
            "blocking degenerated toward all-pairs; supply a sharper "
            "block_col or use minhash_candidate_pairs()",
        )
    sz = F.size("sh")

    def prefixes(frame: DataFrame, side: str) -> DataFrame:
        return frame.select(
            F.col("id").alias(f"id_{side}"), F.col("home").alias(f"home_{side}"),
            sz.alias(f"sz_{side}"), "blk",
            F.explode(F.slice("sh", 1, _prefix_len(sz, threshold))).alias("ptok"),
        )

    cands = (
        prefixes(guarded, "a").join(prefixes(base, "b"), ["blk", "ptok"])
        .filter(F.col("id_a") < F.col("id_b"))
        # same-home pairs meet in BOTH emitted buckets; keeping only the
        # meeting at greatest(home_a, home_b) drops the copy before the
        # distinct
        .filter(F.col("blk") == F.greatest("home_a", "home_b"))
        # size-ratio prune: J(A,B) <= min(|A|,|B|)/max(|A|,|B|).
        # Integer cross-multiplied: a float t·max prunes boundary pairs
        # when t's binary form rounds up (the containment 0.8 incident)
        .filter(
            F.least("sz_a", "sz_b") * 1_000_000
            >= F.lit(int(round(threshold * 1_000_000)))
            * F.greatest("sz_a", "sz_b")
        )
        .select("id_a", "id_b")
        .distinct()  # a pair can share several prefix hashes
    )
    # one row per doc for the attach (default blocking emitted each doc
    # into two buckets; keep the home emission — cheaper than a
    # dropDuplicates shuffle of the fat arrays)
    docs = base.filter(F.col("blk") == F.col("home"))
    va = docs.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    vb = docs.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 3-gram shingles: unigram token sets are degenerate on small-vocab
    # corpora (almost every pair matches); word trigrams measure actual
    # copied passages.
    df = cached_scan(spark, f"{sf_dir}/documents.parquet")
    return jaccard_pairs(spread_if_narrow(df), n=3, threshold=0.6)


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    min_shingles: int = 5,
) -> DataFrame:
    """Directed containment near-dup pairs: (a, b) with
    |sh(A) ∩ sh(B)| / |sh(A)| >= threshold — doc A's shingles mostly
    inside doc B.  This is the QUOTE / subset-duplicate detector
    (Jaccard misses a short doc fully copied into a long one: the union
    in the denominator drowns it; containment's |A| denominator does
    not).  Docs under ``min_shingles`` shingles are excluded — trivially
    contained everywhere.

    Blocking (the containment prefix filter, ppjoin family): if
    containment(A,B) >= t then at most floor((1-t)·|A|) of A's shingles
    are outside B, so ANY floor((1-t)·|A|)+1 of A's shingles include at
    least one in B — a LOSSLESS candidate generator regardless of which
    prefix is chosen.  We choose the corpus-RAREST shingles (ascending
    document frequency) so each prefix gram's posting list — and hence
    the candidate volume Σ df(prefix gram) — is as small as the corpus
    allows.  Rarest-first is pure performance; recall is structural,
    which is why the DuckDB oracle can be the naive all-pairs
    definition and still match row-for-row.

    Plan shape: one explode for postings, one groupBy for gram df, a
    per-doc top-k window for the prefix, a gram equi-join for
    candidates, and a keyed verify join — no cross product.  The
    containment value is inter/|A| on exact integers, identical in
    binary double on any engine (no transcendental — hashable under the
    SCALE.md rule)."""
    # The checkpoint sits DIRECTLY on the shingle select, with the
    # min_shingles filter ABOVE it: placed below, Catalyst pushes the
    # size(<whole shingle pipeline>) predicate through the repartition
    # exchange down to the scan, re-evaluating the expensive expression
    # at the parquet file's native parallelism (1-2 partitions for a
    # single file) — measured 2.8 s vs 0.4 s for this pass at sf0.1 on
    # local[32].  The checkpoint is the pushdown barrier AND the
    # share-point; the filter over checkpointed arrays is free.
    hashed = (
        _hashed_shingle_sets(df, text_col, id_col, n)
        .localCheckpoint(eager=False)
        .withColumn("sz", F.size("sh"))
        .filter(F.col("sz") >= min_shingles)
    )
    posting = hashed.select("id", "sz", F.explode("sh").alias("gram")).localCheckpoint(
        eager=False
    )
    from pyspark.sql import Window as W

    # document frequency via groupBy agg + join back: the agg output is
    # the gram vocabulary (tiny vs postings — map-side combine does the
    # heavy lifting), and AQE broadcasts it when it fits, so the
    # postings avoid a full sort-shuffle on gram; a count WINDOW over
    # gram costs that sort unconditionally.  When the vocabulary is
    # genuinely huge the join degrades to the same keyed shuffle the
    # window needed — never worse, usually one whole exchange cheaper.
    dfreq = posting.groupBy("gram").agg(F.count("*").alias("gdf"))
    rn = F.row_number().over(W.partitionBy("id").orderBy("gdf", "gram"))
    # prefix length floor((1-t)·|A|)+1 in INTEGER ppm arithmetic: the
    # float form floors (1-0.8)=0.19999999999999996 times |A|=45 to 8
    # instead of 9 — a one-too-short prefix silently loses boundary
    # pairs (a necessary condition must round toward keeping)
    inv_ppm = 1_000_000 - int(round(threshold * 1_000_000))
    prefix = (
        posting.join(dfreq, "gram")
        .withColumn("rn", rn)
        .filter(
            F.col("rn")
            <= F.expr(f"(sz * {inv_ppm}) div 1000000") + 1
        )
        .select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"), "gram")
    )
    # lossless size prune at candidate time: containment(A,B) >= t
    # forces |A ∩ B| >= t·|A| and the intersection can't exceed |B|,
    # so |B| >= t·|A| — drops ~1/3 of candidates BEFORE the fat-array
    # verify joins (the dominant shuffle: candidates × shingle bytes).
    # The comparison is integer cross-multiplied (sz_b·1e6 >= ppm·sz_a):
    # a float `sz_b >= t·sz_a` prunes boundary pairs the verify keeps —
    # 0.8·45 in binary double is 36.000000000000004, so a pair with
    # |B|=36, |A|=45 and containment EXACTLY 0.8 vanished (caught by the
    # sf0.1 gate as a 511-vs-512 rowcount miss; a necessary condition
    # must round toward keeping)
    thr_ppm = int(round(threshold * 1_000_000))
    cands = (
        prefix.join(
            posting.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"), "gram"),
            "gram",
        )
        .filter(F.col("id_a") != F.col("id_b"))
        .filter(F.col("sz_b") * 1_000_000 >= F.lit(thr_ppm) * F.col("sz_a"))
        .select("id_a", "id_b")
        .distinct()
    )
    a = hashed.select(
        F.col("id").alias("id_a"), F.col("sh").alias("sh_a"), F.col("sz").alias("sz_a")
    )
    b = hashed.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    cont = F.size(F.array_intersect("sh_a", "sh_b")) / F.col("sz_a")
    # threshold on the UNROUNDED ratio (identical binary double on both
    # engines); the rounded value is display-only — filtering on the
    # rounded one would admit e.g. 0.7999996 that the oracle rejects
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .filter(cont >= threshold)
        .select("id_a", "id_b", F.round(cont, 6).alias("containment"))
    )


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = cached_scan(spark, f"{sf_dir}/documents.parquet")
    return containment_pairs(spread_if_narrow(df), n=3, threshold=0.8)


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------

_LONG_MAX = (1 << 63) - 1


def minhash_signature_from_hashes(sh: Column, k: int = 32) -> Column:
    """k seeded min-hashes folded from an already-hashed shingle set
    (array<bigint>), in ONE pass:

        h_i(s)   = xxhash64(base(s), i)   # k cheap long-mixes
        sig[i]   = min over s of h_i(s)   # elementwise-min fold

    All JVM-side higher-order functions — no UDF.  Empty input yields a
    LONG_MAX-filled signature.

    NB: every lambda here is unary on purpose — F.transform/F.zip_with
    treat a two-parameter lambda as the (element, index) form, which
    would silently replace a closed-over seed with the array position.
    """
    init = F.array(*[F.lit(_LONG_MAX).cast("long")] * k)

    def perm_hashes(h: Column) -> Column:
        return F.array(*[F.xxhash64(h, F.lit(i)) for i in range(k)])

    return F.aggregate(
        sh, init, lambda acc, h: F.zip_with(acc, perm_hashes(h), lambda a, b: F.least(a, b))
    )


def _hashed_shingle_sets(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """(id, sh) — each doc's distinct shingle set hashed to longs.  The
    shingling+hash pass is the CPU-dominant cost of the minhash
    pipeline, so callers that need it twice (signature + verify) should
    compute this frame ONCE and share it."""
    return df.select(F.col(id_col).alias("id"), shingle_hashes(text_col, n).alias("sh"))


def _candidates_from_hashed(hashed: DataFrame, k: int, bands: int) -> DataFrame:
    """LSH banding over precomputed (id, sh): fold the signature from
    the hashed shingles, split into ``bands`` rows of r=k/bands, hash
    each band, explode, and self-join on (band_idx, band_hash).  The
    join is a plain equi-join whose key cardinality is ~n·bands — no
    cross product anywhere."""
    r = k // bands
    sig = hashed.select("id", minhash_signature_from_hashes(F.col("sh"), k).alias("sig"))
    banded = sig.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bi: F.struct(
                    bi.alias("band_idx"),
                    F.xxhash64(F.concat_ws(",", F.slice("sig", bi * r + 1, r)), bi).alias(
                        "band_hash"
                    ),
                ),
            )
        ).alias("band"),
    ).select("id", "band.band_idx", "band.band_hash")
    left = banded.select(F.col("id").alias("id_a"), "band_idx", "band_hash")
    right = banded.select(F.col("id").alias("id_b"), "band_idx", "band_hash")
    return (
        left.join(right, ["band_idx", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 32,
    bands: int = 8,
    n: int = 3,
) -> DataFrame:
    """LSH-banding candidate pairs (id_a, id_b) straight from text."""
    return _candidates_from_hashed(_hashed_shingle_sets(df, text_col, id_col, n), k, bands)


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 32,
    bands: int = 8,
    threshold: float = 0.6,
    n: int = 3,
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates -> exact Jaccard verify.
    Output (id_a, id_b, jaccard) with id_a < id_b.

    The hashed shingle sets feed BOTH the signature fold and the verify
    join, so they are computed once and pinned with a lazy
    ``localCheckpoint`` — first materialization runs the shingling pass
    a single time and both consumers read the stored blocks.  (localCheckpoint
    rather than ``persist``: checkpointed RDD blocks are released by the
    context cleaner when the plan is garbage-collected, while
    ``DataFrame.persist`` stays pinned in the CacheManager until an
    explicit unpersist — a leak for one-shot pipeline calls like this.)"""
    hashed = _hashed_shingle_sets(df, text_col, id_col, n).localCheckpoint(eager=False)
    cands = _candidates_from_hashed(hashed, k, bands)
    a = hashed.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = hashed.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def dup_clusters(pairs: DataFrame, max_iterations: int = 20) -> DataFrame:
    """Connected components over near-dup pairs -> (id, cluster_id) with
    cluster_id = min doc id in the component (the survivor).

    Min-label propagation with path-halving pointer jumps: each round a
    node (1) adopts the smallest label among itself and its neighbors
    (one graph hop), then (2) adopts its current label's label (a
    pointer jump that doubles the effective propagation distance).  The
    combination converges in O(log diameter) rounds even for chain-
    shaped components — plain one-hop propagation is O(diameter) and
    silently mislabels chains longer than the iteration cap.
    Spark-shaped iteration: each round is three shuffles (edge join +
    min-agg + label self-join), the frontier is localCheckpoint'ed to
    cut lineage, and convergence is detected with a changed-label
    count; raises if the cap is hit with labels still moving (a wrong
    silent answer is worse than a loud stop)."""
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("cluster_id", F.col("id"))
        .localCheckpoint()
    )
    n_changed = 0
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        hopped = labels.join(neighbor_min, labels.id == neighbor_min.src, "left").select(
            "id",
            F.least(F.col("cluster_id"), F.coalesce("nbr_min", F.col("cluster_id"))).alias(
                "cluster_id"
            ),
        )
        # Pointer jump (path halving): follow my label to ITS label.
        # Labels only ever decrease, so least() keeps monotonicity.
        parent = hopped.select(
            F.col("id").alias("p_id"), F.col("cluster_id").alias("p_label")
        )
        jumped = hopped.join(parent, hopped.cluster_id == parent.p_id, "left").select(
            "id",
            F.least(F.col("cluster_id"), F.coalesce("p_label", F.col("cluster_id"))).alias(
                "cluster_id"
            ),
        )
        prev = labels.select(F.col("id").alias("o_id"), F.col("cluster_id").alias("o_label"))
        updated = (
            jumped.join(prev, jumped.id == prev.o_id)
            .select(
                "id", "cluster_id", (F.col("cluster_id") < F.col("o_label")).alias("changed")
            )
            .localCheckpoint()
        )
        n_changed = updated.filter("changed").count()
        labels = updated.drop("changed")
        if n_changed == 0:
            break
    if n_changed:
        raise RuntimeError(
            f"dup_clusters did not converge within {max_iterations} rounds "
            f"({n_changed} labels still changing) — raise max_iterations; "
            "with pointer jumping the need grows ~log2(component diameter)"
        )
    return labels


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: minhash pipeline -> connected components.
    Iterative -> no SQL oracle (rows-only check); correctness pinned by
    tests against a hand-built graph."""
    df = cached_scan(spark, f"{sf_dir}/documents.parquet")
    return dup_clusters(minhash_dedup_pairs(spread_if_narrow(df), threshold=0.6))


def q_cluster_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible contract row for the rows-only ``dedup_clusters``
    (iterative — no SQL oracle for the labels themselves, but the
    partition laws ARE oracle-checkable constants):

    * ``edges_consistent`` — both endpoints of every input pair carry
      the same cluster label (the defining property of connected
      components; a premature convergence or a dropped frontier breaks
      exactly this).
    * ``roots_self`` — every assigned cluster_id is itself a node whose
      label is itself (labels point at real roots, not at ghosts).
    * ``labels_minimal`` — cluster_id <= id everywhere (min-label
      semantics; survivor = smallest id).

    All three are structural: they hold at any sf for a correct
    implementation and each catches a distinct failure mode of the
    pointer-jumping loop."""
    df = cached_scan(spark, f"{sf_dir}/documents.parquet")
    pairs = minhash_dedup_pairs(spread_if_narrow(df), threshold=0.6).localCheckpoint(
        eager=False
    )
    labels = dup_clusters(pairs)
    la = labels.select(F.col("id").alias("id_a"), F.col("cluster_id").alias("label_a"))
    lb = labels.select(F.col("id").alias("id_b"), F.col("cluster_id").alias("label_b"))
    edges_ok = (
        pairs.join(la, "id_a")
        .join(lb, "id_b")
        .agg(
            F.sum((F.col("label_a") != F.col("label_b")).cast("long")).alias("n_split")
        )
    )
    roots = labels.select(F.col("cluster_id").alias("r")).distinct()
    self_labeled = labels.filter(F.col("cluster_id") == F.col("id")).select(
        F.col("id").alias("r")
    )
    roots_ok = roots.join(self_labeled, "r", "left_anti").agg(
        F.count("*").alias("n_ghost_roots")
    )
    minimal_ok = labels.agg(
        F.sum((F.col("cluster_id") > F.col("id")).cast("long")).alias("n_above")
    )
    return (
        edges_ok.crossJoin(roots_ok)
        .crossJoin(minimal_ok)
        .select(
            F.lit("dup_clusters").alias("method"),
            (F.col("n_split") == 0).alias("edges_consistent"),
            (F.col("n_ghost_roots") == 0).alias("roots_self"),
            (F.col("n_above") == 0).alias("labels_minimal"),
        )
    )


def dedup_corpus(df: DataFrame, pairs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """End-to-end near-dup removal: resolve pair clusters, drop every
    doc that is not its cluster's survivor (min id).  Docs in no cluster
    pass through untouched — an anti-join against the non-survivor set,
    so the full corpus never shuffles by content."""
    labels = dup_clusters(pairs)
    losers = labels.filter(F.col("cluster_id") != F.col("id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def q_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deduplicated documents table (minhash pairs -> clusters ->
    survivors only).  Iterative -> rows-only check."""
    df = cached_scan(spark, f"{sf_dir}/documents.parquet")
    pairs = minhash_dedup_pairs(spread_if_narrow(df), threshold=0.6)
    return dedup_corpus(df, pairs).select("doc_id", "lang", "source", "n_chars")


def q_corpus_survivor_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible contract row for the rows-only ``dedup_corpus``:

    * ``survivor_count_ok`` — |survivors| = |corpus| - |losers| where
      losers are the non-root members of each cluster (the anti-join
      drops exactly the labeled non-survivors, nothing else).
    * ``idempotent`` — re-running the minhash pair pipeline on the
      survivor set yields ZERO pairs.  Structural: LSH candidacy is a
      pure function of the two docs' signatures, so survivor pairs
      would be edges between two same-cluster roots — impossible when
      each cluster keeps exactly one member.

    Both booleans hold at any sf; idempotence is THE law a dedup pass
    must satisfy (a second pass that still finds dups means the first
    pass under-merged)."""
    df = cached_scan(spark, f"{sf_dir}/documents.parquet")
    pairs = minhash_dedup_pairs(spread_if_narrow(df), threshold=0.6).localCheckpoint(
        eager=False
    )
    labels = dup_clusters(pairs)
    losers = labels.filter(F.col("cluster_id") != F.col("id")).select(
        F.col("id").alias("doc_id")
    )
    survivors = df.join(losers, "doc_id", "left_anti").localCheckpoint(eager=False)
    n_docs = df.agg(F.count("*").alias("n_docs"))
    n_losers = losers.agg(F.count("*").alias("n_losers"))
    n_surv = survivors.agg(F.count("*").alias("n_surv"))
    n_resid = minhash_dedup_pairs(spread_if_narrow(survivors), threshold=0.6).agg(
        F.count("*").alias("n_resid")
    )
    return (
        n_docs.crossJoin(n_losers)
        .crossJoin(n_surv)
        .crossJoin(n_resid)
        .select(
            F.lit("dedup_corpus").alias("method"),
            (F.col("n_surv") == F.col("n_docs") - F.col("n_losers")).alias(
                "survivor_count_ok"
            ),
            (F.col("n_resid") == 0).alias("idempotent"),
        )
    )


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = cached_scan(spark, f"{sf_dir}/documents.parquet")
    return minhash_dedup_pairs(spread_if_narrow(df), threshold=0.6)


def q_minhash_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible quality contract for the rows-only MinHash+LSH
    pipeline (the ``ann_recall`` pattern), one row of two booleans:

    * ``precision_ok`` — every LSH survivor re-verified with true
      Jaccard computed on the STRING shingle sets (an independent code
      path from the pipeline's hashed-long verify stage) clears the
      threshold.  Structural, not data-dependent: it holds at any sf
      unless the hashed verify math diverges from first principles.
      (Previously this was containment in ``jaccard_pairs``' output,
      which is data-dependent — its length buckets' documented recall
      bound can miss a genuine large-length-gap pair that LSH finds,
      flipping the row red with nothing wrong.)
    * ``recall_ok`` — LSH finds >= 0.8 of the pairs that exact Jaccard
      (``jaccard_pairs``, same n and threshold) finds (measured at
      sf0.01: 1.0).

    Everything upstream is seeded and the corpus fixed, so both booleans
    are hard oracle-checkable constants."""
    df = cached_scan(spark, f"{sf_dir}/documents.parquet")
    spread = spread_if_narrow(df)
    exact = (
        jaccard_pairs(spread, n=3, threshold=0.6)
        .select("id_a", "id_b")
        .withColumn("in_exact", F.lit(1))
    )
    lsh = minhash_dedup_pairs(spread, threshold=0.6, n=3).select(
        "id_a", "id_b"
    )
    # independent re-verify: string shingles, same (inter, union, round)
    # contract as the pipeline's hashed-long verify
    sets = df.select(F.col("doc_id").alias("id"), shingles("text", 3).alias("sh"))
    sa = sets.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sb = sets.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    reverified = (
        lsh.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a", "id_b", F.round(inter / union, 6).alias("true_jaccard")
        )
        .localCheckpoint(eager=False)
    )
    precision = reverified.agg(
        F.sum((F.col("true_jaccard") < 0.6).cast("long")).alias("n_below"),
        F.count("*").alias("n_lsh"),
    )
    recall = (
        reverified.select("id_a", "id_b")
        .withColumn("in_lsh", F.lit(1))
        .join(exact, ["id_a", "id_b"], "full_outer")
        .agg(
            F.sum(F.when(F.col("in_exact").isNotNull(), 1).otherwise(0)).alias("n_exact"),
            F.sum(
                F.when(F.col("in_exact").isNotNull() & F.col("in_lsh").isNotNull(), 1)
                .otherwise(0)
            ).alias("n_hit"),
        )
    )
    return precision.crossJoin(recall).select(
        F.lit("minhash_lsh").alias("method"),
        (F.col("n_below") == 0).alias("precision_ok"),
        (F.col("n_hit") >= F.lit(0.8) * F.col("n_exact")).alias("recall_ok"),
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_chunk_tokens: int = 1 << 16,
) -> DataFrame:
    """64-bit SimHash per doc via vectorized numpy bit-votes
    (mapInPandas — the documented Arrow slow path; the per-row work is
    64-bit popcount math that has no codegen equivalent).

    The batch is processed as a flat numpy pipeline — concatenate every
    doc's token hashes, expand to a (chunk_tokens, 64) bit matrix, and
    read per-doc bit sums with ``np.add.reduceat`` at the doc
    boundaries.  No per-token or per-bit Python loops; the only per-doc
    Python is the list concatenation Arrow hands us.  The bit matrix is
    built in bounded token-count chunks aligned to doc boundaries
    (~1 KB of transient int64 per token otherwise makes a 10k-row batch
    of long docs a multi-GB allocation — an executor-OOM lever at
    scale); reduceat segments are the nonempty docs' starts, so empty
    docs (zero-width segments reduceat would mishandle) keep their
    all-zero votes -> signature 0, same as before."""
    import pandas as pd  # local so cloudpickle ships only the closure

    spark_schema = f"{id_col} long, simhash long"
    toks_df = df.select(
        F.col(id_col), F.array_distinct(tokens(text_col)).alias("toks")
    ).withColumn("tok_hashes", F.transform("toks", lambda t: F.xxhash64(t))).select(
        id_col, "tok_hashes"
    )

    def compute(batches):
        import numpy as np

        shifts = np.arange(64, dtype=np.uint64)
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                yield pd.DataFrame(
                    {id_col: pd.Series([], dtype="int64"),
                     "simhash": pd.Series([], dtype="int64")}
                )
                continue
            hash_lists = [
                np.array(h, dtype=np.int64).view(np.uint64) for h in pdf["tok_hashes"]
            ]
            lens = np.fromiter((a.size for a in hash_lists), dtype=np.int64, count=n)
            starts = np.concatenate(([0], np.cumsum(lens)))  # doc boundaries, len n+1
            sums = np.zeros((n, 64), dtype=np.int64)
            if starts[-1] > 0:
                flat = np.concatenate(hash_lists)
                max_chunk = max_chunk_tokens  # 64k -> 32 MB transient bit matrix
                d0 = 0
                while d0 < n:
                    # widest doc run within the token budget (>= 1 doc)
                    d1 = int(np.searchsorted(starts, starts[d0] + max_chunk, "right")) - 1
                    d1 = max(d1, d0 + 1)
                    seg = flat[starts[d0] : starts[d1]]
                    if seg.size:
                        bits = ((seg[:, None] >> shifts) & np.uint64(1)).astype(np.int64)
                        local = starts[d0:d1] - starts[d0]
                        nonempty = np.flatnonzero(lens[d0:d1] > 0)
                        sums[d0 + nonempty] = np.add.reduceat(
                            bits, local[nonempty], axis=0
                        )
                    d0 = d1
            votes = sums * 2 - lens[:, None]  # +1/-1 votes per bit
            sig = ((votes > 0).astype(np.uint64) << shifts).sum(axis=1, dtype=np.uint64)
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy(), "simhash": sig.view(np.int64)}
            )

    return toks_df.mapInPandas(compute, schema=spark_schema)


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_distance: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash_a, simhash_b) <= max_distance.
    Blocking: 4 x 16-bit chunks — any pair within distance <= 3 shares at
    least one exact chunk (pigeonhole), so the join is equi on
    (chunk_idx, chunk_value); the Hamming check runs only on candidates.

    ``max_bucket_size`` mirrors ``jaccard_pairs.max_block_size``: a
    degenerate corpus (e.g. many empty/near-empty docs all hashing to
    simhash 0) collapses a chunk bucket and silently turns the blocked
    join quadratic — when set, the a-side carries ``_guard_inplan``, so
    a (chunk_idx, chunk_val) bucket over the cap fails the job.  The
    signature pass is pinned with a lazy localCheckpoint when the cap
    is set so the mapInPandas doesn't execute twice."""
    _advice = ("chunk blocking degenerated toward all-pairs (uniform/empty "
               "texts?); dedup exact-empty docs first or raise "
               "max_distance-aware bucketing")
    sigs = simhash_signatures(df, text_col, id_col).select(
        F.col(id_col).alias("id"), "simhash"
    )
    if max_bucket_size is not None:
        # lazy pin: stops the mapInPandas signature pass running once
        # per join side.
        sigs = sigs.localCheckpoint(eager=False)
    chunks = sigs.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_idx"),
                        F.shiftrightunsigned("simhash", i * 16)
                        .bitwiseAND(F.lit(65535))
                        .alias("chunk_val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("c"),
    ).select("id", "simhash", "c.chunk_idx", "c.chunk_val")
    a = chunks.select(F.col("id").alias("id_a"), F.col("simhash").alias("sig_a"), "chunk_idx", "chunk_val")
    if max_bucket_size is not None:
        a = _guard_inplan(a, ["chunk_idx", "chunk_val"], max_bucket_size,
                          "simhash_pairs", "chunk bucket", _advice)
    b = chunks.select(F.col("id").alias("id_b"), F.col("simhash").alias("sig_b"), "chunk_idx", "chunk_val")
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        a.join(b, ["chunk_idx", "chunk_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", ham.alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_distance)
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = spread_if_narrow(cached_scan(spark, f"{sf_dir}/documents.parquet"))
    return simhash_pairs(df, max_distance=3)


_PLANT_ID_OFFSET = 10_000_000


def q_simhash_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible contract row for the rows-only ``dedup_simhash``:

    * ``hamming_ok`` — every emitted pair is within the declared
      Hamming threshold (the output-domain contract, end-to-end through
      signature -> chunk blocking -> verify).
    * ``planted_recall_ok`` — plant an exact copy of every 20th doc
      (same text, id + 10_000_000) and require the pipeline to pair
      each copy with its original.  Structural: identical text gives an
      identical signature, Hamming 0, and guaranteed co-bucketing in
      all four 16-bit chunks — a miss means the blocking or the verify
      dropped a true duplicate.

    Both booleans hold at any sf (the ann_recall pattern applied to
    simhash)."""
    df = cached_scan(spark, f"{sf_dir}/documents.parquet").select("doc_id", "text")
    planted = df.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + _PLANT_ID_OFFSET).alias("doc_id"), "text"
    )
    corpus = df.unionByName(planted)
    pairs = simhash_pairs(spread_if_narrow(corpus), max_distance=3).localCheckpoint(
        eager=False
    )
    ham = pairs.agg(F.max("hamming").alias("max_ham"))
    expected = df.filter(F.col("doc_id") % 20 == 0).select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + _PLANT_ID_OFFSET).alias("id_b"),
    )
    found = (
        expected.join(pairs.select("id_a", "id_b"), ["id_a", "id_b"], "left_semi")
        .agg(F.count("*").alias("n_found"))
    )
    n_planted = expected.agg(F.count("*").alias("n_planted"))
    return ham.crossJoin(found).crossJoin(n_planted).select(
        F.lit("simhash").alias("method"),
        (F.coalesce(F.col("max_ham"), F.lit(0)) <= 3).alias("hamming_ok"),
        (F.col("n_found") == F.col("n_planted")).alias("planted_recall_ok"),
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------

def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """Training-set decontamination: flag corpus documents that share
    any word ``n``-gram with a held-out benchmark/eval set (the
    GPT-3/PaLM-style n-gram overlap check).  Returns one row per corpus
    document with the count of distinct shared n-grams and a
    ``contaminated`` verdict; callers anti-join or filter on it.

    Scale shape: the benchmark side is an eval suite — thousands of
    documents, not the corpus — so its distinct n-gram set is tiny and
    is broadcast; the corpus side is a narrow explode -> broadcast-hash
    semi-match -> groupBy(id), i.e. ONE shuffle keyed by doc id with
    map-side combine, and the corpus text never shuffles.  Documents
    shorter than ``n`` tokens contribute their whole token run as a
    single gram (same convention both engines).
    """
    def grams(df: DataFrame) -> Column:
        toks = tokens(text_col)
        return F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )

    bench_grams = (
        benchmark.select(F.explode(grams(benchmark)).alias("gram")).distinct()
    )
    hits = (
        corpus.select(F.col(id_col), F.explode_outer(F.array_distinct(grams(corpus))).alias("gram"))
        .join(F.broadcast(bench_grams), "gram")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_shared_ngrams"))
    )
    return (
        corpus.select(id_col)
        .join(hits, id_col, "left")
        .withColumn("n_shared_ngrams", F.coalesce("n_shared_ngrams", F.lit(0)).cast("long"))
        .withColumn("contaminated", F.col("n_shared_ngrams") > 0)
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus/benchmark split via md5 hash-sampling (the
    same reproducible-membership trick as ``hash_sample``): docs whose
    md5(doc_id) < '20' (~1/8) play the benchmark, the rest the corpus."""
    docs = cached_scan(spark, f"{sf_dir}/documents.parquet")
    is_bench = F.md5(F.col("doc_id").cast("string")) < "20"
    # spread the corpus side's gram explode: on the single-file testdata
    # it otherwise runs on one core (measured 3.3 s -> sub-second at sf0.1)
    return decontaminate(spread_if_narrow(docs.filter(~is_bench)), docs.filter(is_bench))


# ---------------------------------------------------------------------------
# Edit-distance (Levenshtein) near-dup
# ---------------------------------------------------------------------------

def editdistance_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    prefix_chars: int = 48,
    block_chars: int = 32,
    max_dist: int = 12,
    max_block_size: int | None = None,
) -> DataFrame:
    """All pairs (a<b) in the same block whose ``prefix_chars``-char
    prefixes are within Levenshtein distance ``max_dist`` — the
    edit-distance flavor of near-dup detection (catches char-level edits
    that token-set Jaccard is blind to, e.g. typo noise inside words).

    CONTRACT: candidate generation is blocked by the COMPOSITE key
    ``(floor(length(text) / block_chars), first_token(text))`` — only
    pairs in the same length band that share their first whitespace
    token are compared.  Both components are documented recall bounds
    (like ``jaccard_pairs``'s banding): near-identical docs have
    near-identical lengths, and typo-class edits rarely hit the very
    first token.  The distance itself is computed on a fixed-length
    prefix in threshold mode, so the per-pair cost is O(max_dist ·
    prefix_chars) in JVM codegen (``levenshtein`` with the threshold
    argument), never O(doc²).

    100 TB posture: one equi-join on the composite block key carrying
    only (id, prefix) — bodies never shuffle.  The content component is
    what makes blocking survive scale: a pure length band degenerates
    (every 32-char band at corpus scale exceeds any cap and the guard
    can only refuse), while band × first-token keeps bucket cardinality
    growing WITH the corpus so bucket SIZE stays bounded by the true
    near-dup cluster sizes plus the frequency of the hottest first
    token within one band — ``max_block_size`` still raises loudly on
    that residual skew (a corpus where millions of same-length docs
    open with the same word needs a second content key, e.g. a simhash
    chunk per ``simhash_pairs``).  The (id, prefix, block-key)
    projection is checkpoint-shared across both join sides."""
    first_tok = F.regexp_extract(F.col(text_col), r"^\s*(\S+)", 1)
    base = df.select(
        F.col(id_col).alias("id"),
        F.substring(F.col(text_col), 1, prefix_chars).alias("pre"),
        F.floor(F.length(text_col) / block_chars).alias("blk"),
        first_tok.alias("tok"),
    ).localCheckpoint(eager=False)
    _advice = ("blocking degenerated toward all-pairs; narrow block_chars or "
               "add a second content key (e.g. a simhash chunk)")
    a = base.select(F.col("id").alias("id_a"), F.col("pre").alias("pre_a"), "blk", "tok")
    if max_block_size is not None:
        a = _guard_inplan(a, ["blk", "tok"], max_block_size,
                          "editdistance_pairs", "(band, first-token) block",
                          _advice)
    b = base.select(F.col("id").alias("id_b"), F.col("pre").alias("pre_b"), "blk", "tok")
    return (
        a.join(b, ["blk", "tok"])
        .filter(F.col("id_a") < F.col("id_b"))
        # length-delta prune: |len(a)-len(b)| is a Levenshtein lower
        # bound — O(1) to read vs the O(p^2) DP
        .filter(
            F.abs(F.length("pre_a") - F.length("pre_b")) <= F.lit(max_dist)
        )
        # threshold form returns -1 once the DP proves dist > max_dist
        .withColumn("dist", F.levenshtein("pre_a", "pre_b", max_dist))
        .filter(F.col("dist") >= 0)
        .select("id_a", "id_b", F.col("dist").cast("long").alias("dist"))
    )


def q_dedup_editdistance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs over documents (48-char prefixes,
    32-char length bands × first-token blocking, distance <= 12)."""
    docs = cached_scan(spark, f"{sf_dir}/documents.parquet")
    # the degenerate-blocking cap fails the job loudly, riding the main
    # join's exchange
    return editdistance_pairs(docs, max_block_size=20_000)


# ---------------------------------------------------------------------------
# Winnow-fingerprint near-copy pairs (MOSS-style)
# ---------------------------------------------------------------------------

def winnow_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    w: int = 4,
    min_shared: int = 2,
    max_fp_df: int | None = None,
) -> DataFrame:
    """Near-copy pairs (a<b, n_shared) by shared WINNOW fingerprints
    (Schleimer et al. SIGMOD'03 — the MOSS plagiarism-detection
    selection): documents sharing >= ``min_shared`` distinct selected
    window-min hashes.  The winnowing guarantee makes this the
    local-match detector the set-based families approximate: any two
    docs sharing a token run of length >= n+w-1 share at least one
    SELECTED fingerprint — so a copied passage of that length cannot
    be missed, while each doc contributes only ~1/w of its grams to
    the index.

    Plan shape: the distinct (id, fp) selection rows
    (``text.winnow_fp_set_rows`` — one mapInPandas pass over
    hash(id)-partitioned text, whose in-kernel guard raises on a null
    or duplicate id), pinned because both join sides read them, then
    one equi self-join on the fingerprint hash (posting-list join, no
    cross product), count per pair, filter.  ``max_fp_df`` is the
    hot-posting guard (a fingerprint appearing in k docs contributes
    k^2 candidate pairs), folded into the join's a-side by
    ``_guard_inplan`` like the rest of the family.  The cap is ENFORCEMENT-ONLY, not a filter — when a
    posting list exceeds it the job FAILS rather than silently dropping
    the fingerprint, so the cross-engine output contract (and the DuckDB
    oracle, which applies no cap) is defined only on corpora where the
    cap is unviolated.  Blank documents are excluded: every blank doc
    selects the identical sentinel fingerprint, which would weld all
    blanks into one clique.

    At 100 TB: fingerprints are ~1/w of corpus grams, the join key is
    a 32-char digest (uniform), and per-key fan-out is bounded by true
    copy-cluster sizes plus ``max_fp_df`` — the same posture as the
    minhash band join."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.text import (
        winnow_fp_set_rows,
    )

    docs = df.filter(F.trim(F.col(text_col)) != "")
    # pinned: fps is referenced twice (a/b sides), and an unpinned
    # double reference doubles the plan per side
    fps = winnow_fp_set_rows(
        docs, text_col, n, w, id_col
    ).localCheckpoint(eager=False)
    _advice = (
        "a fingerprint's posting list exceeds the cap — near-universal "
        "boilerplate windows; raise w, pre-strip boilerplate, or cap "
        "with max_fp_df as part of the contract"
    )
    a_side = fps
    if max_fp_df is not None:
        a_side = _guard_inplan(fps, ["_fp"], max_fp_df, "winnow_pairs",
                               "fingerprint posting", _advice)
    a = a_side.select(F.col("_wid").alias("id_a"), "_fp")
    b = fps.select(F.col("_wid").alias("id_b"), "_fp")
    return (
        a.join(b, "_fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def q_dedup_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnow near-copy pairs over documents (word trigrams, window 4,
    >= 2 shared fingerprints).  Adaptive spread: single-file sources
    get the parallelism lever, multi-file scans pass through."""
    docs = spread_if_narrow(cached_scan(spark, f"{sf_dir}/documents.parquet"))
    return winnow_pairs(docs, min_shared=2, max_fp_df=10_000)


# ---------------------------------------------------------------------------
# Split-contamination audit (decontaminate applied across a split)
# ---------------------------------------------------------------------------

def q_split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train->test contamination audit over the content-keyed 90/5/5
    split: for each source, how many TRAIN documents share a word
    5-gram with any TEST document (``decontaminate`` pointed at the
    pipeline's own held-out slice instead of an external benchmark —
    the audit every training run should ship with its split).

    The split is duplicate-safe (``leakage_safe_split``), so any
    contamination found here is genuine n-gram overlap between distinct
    documents, not stray exact copies.  Aggregated per source so the
    hashed surface is a handful of all-integer rows.

    Scale shape (inherited from ``decontaminate``): the test slice is
    ~5% of the corpus and only its DISTINCT grams travel — broadcast at
    bench scale, a plain shuffle semi-join at 100 TB; the train side is
    explode -> hash-join -> groupBy(doc) -> groupBy(source), text never
    shuffles."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.sample import (
        leakage_safe_split,
    )

    # spread ONCE, before the split, and only if the scan is narrow:
    # the gram explode over the train side (90% of the corpus) is
    # map-heavy and a single-file source scans at parallelism 1 —
    # measured 3.2 s -> 1.0 s at sf0.1.  The earlier counterexample
    # ("3.2 -> 4.4 s") repartitioned the filtered SIDES separately,
    # paying the body shuffle per consumer; and an UNCONDITIONAL
    # upfront repartition regressed the already-32-file 10x stress
    # layout 3x — hence the adaptive form.
    docs = leakage_safe_split(
        spread_if_narrow(cached_scan(spark, f"{sf_dir}/documents.parquet"))
    )
    train = docs.filter(F.col("split") == "train")
    test = docs.filter(F.col("split") == "test")
    verdicts = decontaminate(train, test, n=5)
    per_doc = train.select("doc_id", "source").join(verdicts, "doc_id")
    return per_doc.groupBy("source").agg(
        F.count("*").alias("n_train_docs"),
        F.count(F.when(F.col("contaminated"), 1)).alias("n_contaminated"),
        F.sum("n_shared_ngrams").cast("long").alias("total_shared_ngrams"),
    )


# ---------------------------------------------------------------------------
# Incremental dedup: new batch vs existing corpus
# ---------------------------------------------------------------------------

def incremental_dedup(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    near_ppm: int = 500_000,
) -> DataFrame:
    """Dedup a NEW batch against an EXISTING corpus (the daily-crawl
    shape: the corpus is petabytes and must not be re-deduped from
    scratch every ingest).  Verdict per batch document:

      * ``exact``  — normalized-content digest already in the corpus;
      * ``near``   — >= ``near_ppm``/1e6 of its distinct word n-grams
                     occur somewhere in the corpus (containment, the
                     asymmetric overlap measure — right for "is this
                     new doc already covered", where Jaccard would be
                     diluted by a long corpus-side text);
      * ``unique`` — neither.

    Returns (id, is_exact_dup, n_grams, n_hit_grams, containment_ppm,
    verdict) — integers + strings only, floor-scaled ppm (SCALE.md
    determinism rule).

    Scale shape: the batch is the small side, so BOTH probes broadcast
    batch-derived state — the exact probe broadcasts the batch digest
    set against the corpus digest stream, the near probe broadcasts the
    batch's distinct (id, gram) pairs against the corpus gram explode —
    and the corpus is only ever SCANNED (no corpus-wide shuffle, no
    global distinct; corpus-side gram dedup happens after the join on
    join survivors only).  At 100 TB the corpus digest/gram passes are
    pure map-side work against ~MBs of broadcast batch state; in a
    production deployment the corpus digest set would be a maintained
    index table, which this plan degrades to for free (swap the scan
    for the index read)."""
    c_fp = corpus.select(F.md5(norm_text(text_col)).alias("fp"))
    b = batch.select(
        F.col(id_col).alias("bid"), F.col(text_col).alias("btext")
    )

    toks = tokens("btext")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
    )
    b_grams = b.select(
        "bid", F.explode(grams).alias("gram")
    )

    c_toks = tokens(text_col)
    c_grams = corpus.select(
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(
                        F.lit(0), F.greatest(F.size(c_toks) - n, F.lit(0))
                    ),
                    lambda i: F.concat_ws(" ", F.slice(c_toks, i + 1, n)),
                )
            )
        ).alias("gram")
    )

    exact_hits = (
        c_fp.join(
            F.broadcast(
                b.select(
                    "bid", F.md5(norm_text("btext")).alias("fp")
                )
            ),
            "fp",
        )
        .select("bid")
        .distinct()
        .withColumn("is_exact_dup", F.lit(True))
    )
    gram_hits = (
        c_grams.join(F.broadcast(b_grams), "gram")
        .select("bid", "gram")
        .distinct()
        .groupBy("bid")
        .agg(F.count("*").alias("n_hit_grams"))
    )
    totals = b.select(
        "bid", F.size(grams).cast("long").alias("n_grams")
    )
    out = (
        totals.join(exact_hits, "bid", "left")
        .join(gram_hits, "bid", "left")
        .select(
            F.col("bid").alias(id_col),
            F.coalesce("is_exact_dup", F.lit(False)).alias("is_exact_dup"),
            "n_grams",
            F.coalesce("n_hit_grams", F.lit(0)).cast("long").alias("n_hit_grams"),
            F.floor(
                F.coalesce("n_hit_grams", F.lit(0)) * F.lit(1_000_000) / F.col("n_grams")
            ).cast("long").alias("containment_ppm"),
        )
    )
    return out.withColumn(
        "verdict",
        F.when(F.col("is_exact_dup"), F.lit("exact"))
        .when(F.col("containment_ppm") >= near_ppm, F.lit("near"))
        .otherwise(F.lit("unique")),
    )


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup the deterministic 5% 'daily batch' (doc_id % 20 == 7)
    against the other 95% of the documents table."""
    docs = cached_scan(spark, f"{sf_dir}/documents.parquet")
    batch = docs.filter(F.col("doc_id") % 20 == 7)
    corpus = docs.filter(F.col("doc_id") % 20 != 7)
    # single-file inputs: spread the corpus-side gram explode (SCALE.md
    # scan-parallelism lever); an already parallel scan passes through
    return incremental_dedup(spread_if_narrow(corpus), batch)


def q_dedup_best_survivor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivor selection over duplicate FAMILIES: per
    group, keep the HIGHEST-QUALITY copy instead of ``dedup_exact``'s
    lowest-id copy — the curation-correct policy when near-identical
    documents differ in extraction quality (a page scraped twice keeps
    the better capture).  The family key here is the 16-token-prefix
    fingerprint (the prefix_cache_stats key: template-headed docs form
    families at every corpus scale; the full-text digest of
    ``dedup_exact`` is the exact-dup special case of the same plan and
    yields empty output below sf0.1 where the testdata plants no exact
    copies).  Emits one row per non-trivial family: size, the
    quality-argmax survivor, its quality, and the id-min survivor the
    naive policy would have kept.

    Determinism: survivor = argmax (q_ppm, doc_id) via row_number under
    that total order — integer quality (text.quality_ppm), exact ties
    broken on id.  Plan: one narrow quality pass, one fp-keyed window;
    partition cardinality is the family size (bounded), never the
    corpus; bodies never shuffle (the md5 key does).  Lineage:
    dedup_exact + quality_score composition."""
    from pyspark.sql import Window

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.text import (
        quality_ppm,
    )

    docs = cached_scan(spark, f"{sf_dir}/documents.parquet")
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.functions.columns import (
        tokens,
    )

    scored = docs.select(
        "doc_id",
        F.md5(F.array_join(F.slice(tokens("text"), 1, 16), " ")).alias("fp"),
        quality_ppm("text").alias("q_ppm"),
    )
    w = Window.partitionBy("fp").orderBy(F.col("q_ppm").desc(), F.col("doc_id").desc())
    wn = Window.partitionBy("fp")
    ranked = (
        scored.withColumn("rn", F.row_number().over(w))
        .withColumn("n_dups", F.count("*").over(wn))
        .withColumn("min_id", F.min("doc_id").over(wn))
    )
    return (
        ranked.filter((F.col("rn") == 1) & (F.col("n_dups") > 1))
        .select(
            "fp",
            F.col("n_dups").cast("long").alias("n_dups"),
            F.col("doc_id").alias("keep_id"),
            F.col("q_ppm").alias("keep_q_ppm"),
            "min_id",
        )
    )


def q_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution / record linkage: match DIRTY records (each
    customer name with one deterministically-positioned character
    deleted — the classic data-entry deletion) back to the clean
    registry, by attribute blocking + Levenshtein verify + greedy
    one-to-one assignment.  Ground truth is known by construction, so
    the output carries a per-pair ``correct`` flag — linkage precision
    is measurable in the gate itself.

    Blocking: exact on the RELIABLE attributes (nation, segment,
    100-unit balance bucket) — the standard linkage assumption that
    some fields survive entry noise; candidates are only same-block
    pairs, so volume is Σ_block |dirty|·|clean| with block granularity
    (~|nations|·|segments|·|balance buckets|) growing with the data,
    the editdistance-dedup posture.  Verify: exact integer Levenshtein
    <= 2 (threshold-pruned).  Assignment: best clean per dirty
    (lev, cid argmin), then best dirty per clean — two bounded keyed
    windows, a greedy 1:1 matching (optimal assignment is Hungarian /
    auction territory; greedy is what linkage pipelines ship).  All
    hashed columns exact integers/booleans."""
    from pyspark.sql import Window

    cust = cached_scan(spark, f"{sf_dir}/customer.parquet")
    block = [
        F.col("c_nationkey"),
        F.col("c_mktsegment"),
        F.floor(F.col("c_acctbal") / 100).alias("bal_bucket"),
    ]
    dirty = cust.select(
        F.col("c_custkey").alias("did"),
        F.expr(
            "concat(substring(c_name, 1, 9 + pmod(c_custkey, 8)), "
            "substring(c_name, 11 + pmod(c_custkey, 8), 50))"
        ).alias("dname"),
        *block,
    )
    clean = cust.select(
        F.col("c_custkey").alias("cid"), F.col("c_name").alias("cname"), *block
    )
    cands = dirty.join(
        clean, ["c_nationkey", "c_mktsegment", "bal_bucket"]
    ).withColumn("lev", F.levenshtein("dname", "cname"))
    verified = cands.filter(F.col("lev") <= 2)
    w_d = Window.partitionBy("did").orderBy("lev", "cid")
    best = verified.withColumn("rn", F.row_number().over(w_d)).filter(F.col("rn") == 1)
    w_c = Window.partitionBy("cid").orderBy("lev", "did")
    return (
        best.withColumn("rn2", F.row_number().over(w_c))
        .filter(F.col("rn2") == 1)
        .select(
            "did",
            F.col("cid").alias("matched_cid"),
            F.col("lev").cast("long").alias("lev"),
            (F.col("did") == F.col("cid")).alias("correct"),
        )
    )


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for every source pair, how
    many duplicate FAMILIES (16-token-prefix fingerprints, the
    dedup_best_survivor key) appear in both — the provenance audit
    that catches one crawl republishing another's content before the
    mix is weighted (a source that is 30% another source is not a new
    source).  ``overlap_ppm`` is the share of the smaller side's
    families that are shared, in exact integer ppm.

    Plan: distinct (fp, source) postings, an fp-keyed self-join whose
    volume is Σ_fp C(sources_of_fp, 2) <= C(|sources|, 2) per family —
    bounded by the SOURCE count, not the corpus; per-source totals ride
    a broadcast."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.functions.columns import (
        tokens,
    )

    docs = cached_scan(spark, f"{sf_dir}/documents.parquet")
    fam = docs.select(
        F.md5(F.array_join(F.slice(tokens("text"), 1, 16), " ")).alias("fp"), "source"
    ).distinct()
    tot = fam.groupBy("source").agg(F.count("*").alias("n_fam"))
    a = fam.select("fp", F.col("source").alias("src_a"))
    b = fam.select("fp", F.col("source").alias("src_b"))
    shared = (
        a.join(b, "fp")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("shared_fams"))
    )
    ta = tot.select(F.col("source").alias("src_a"), F.col("n_fam").alias("tot_a"))
    tb = tot.select(F.col("source").alias("src_b"), F.col("n_fam").alias("tot_b"))
    return (
        shared.join(F.broadcast(ta), "src_a")
        .join(F.broadcast(tb), "src_b")
        .select(
            "src_a",
            "src_b",
            "shared_fams",
            "tot_a",
            "tot_b",
            F.expr("(1000000 * shared_fams) div least(tot_a, tot_b)").alias(
                "overlap_ppm"
            ),
        )
    )


def stitch_overlap_pairs(
    docs: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Crawl-fragment stitching: ordered pairs (a, b) where the LAST k
    whitespace tokens of document a equal the FIRST k tokens of
    document b — the boundary signature a splitter leaves behind when
    one logical page was sharded into consecutive fetches (the overlap
    the pipeline must re-join or dedup before training, or the model
    sees the seam text twice).

    The k-token boundary gram IS the match predicate, so the equi-join
    on it is exact by definition — no verify pass needed (contrast
    dedup_containment, where the prefilter under-approximates).  Docs
    with fewer than k tokens are excluded (their boundary is the whole
    doc, which is the containment operator's job, not stitching), and
    a == b self-pairs are dropped (a doc whose head equals its own
    tail is periodicity, surfaced by repeated_passages).

    Scale shape: each side reduces to a skinny (id, gram) row before
    the shuffle — ONE equi-join keyed by a k-token string, bodies
    never move.  Hot boundary grams (boilerplate headers) fan out as
    their true pair count; at 100 TB compose with a heavy-hitter cap
    on the gram key (the winnow hot-posting-guard recipe) and surface
    the capped grams rather than joining them."""
    toks = tokens(text_col)
    base = docs.select(
        F.col(id_col), toks.alias("_t"), F.size(toks).alias("_n")
    ).filter(F.col("_n") >= k)
    heads = base.select(
        F.col(id_col).alias("b_id"),
        F.concat_ws(" ", F.slice("_t", 1, k)).alias("gram"),
    )
    tails = base.select(
        F.col(id_col).alias("a_id"),
        F.concat_ws(" ", F.slice("_t", F.col("_n") - (k - 1), F.lit(k))).alias(
            "gram"
        ),
    )
    return (
        tails.join(heads, "gram")
        .filter(F.col("a_id") != F.col("b_id"))
        .select("a_id", "b_id", "gram")
    )


def q_doc_stitch_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All 3-token tail->head stitch candidates over the corpus, with
    the boundary gram in-row — hashed contract (a_id, b_id, gram)."""
    docs = cached_scan(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    return stitch_overlap_pairs(docs, k=3)


# ---------------------------------------------------------------------------
# Source-level MinHash overlap matrix
# ---------------------------------------------------------------------------

MINHASH_PRIME = 2_147_483_647  # 2^31 - 1: operands < 2^31, a·h + b < 2^62


def minhash_perm_constants(k: int = 32) -> list[tuple[int, int]]:
    """(a_p, b_p) for the universal-hash permutation family h_p(x) =
    (a_p·x + b_p) mod 2^31-1, derived from public mixing primes
    (Knuth 2654435761, xxhash 2246822519 / 3266489917) — no RNG, so the
    DuckDB oracle regenerates the identical table (the jl_sign_matrix
    pattern)."""
    out = []
    for p in range(k):
        a = (2654435761 * (p + 1)) % MINHASH_PRIME
        b = (2246822519 * (p + 1) + 3266489917) % MINHASH_PRIME
        out.append((a or 1, b))
    return out


def source_minhash_overlap(
    docs: DataFrame, k: int = 32, n: int = 3
) -> DataFrame:
    """Pairwise content overlap between SOURCES via source-level MinHash
    signatures — the provenance-dedup planning view: before assigning
    mix weights or deduplicating across crawls, measure how much two
    sources are the same corpus (mirror domains, re-crawls, syndication
    networks).  Classic MinHash resemblance (Broder 1997) applied at
    the source grain: signature_p(S) = min over S's distinct shingles g
    of h_p(g), and E[share of matching components] = Jaccard(S_a, S_b).

    Determinism: each gram is md5-hashed ONCE to the engine-standard
    60-bit integer, reduced mod 2^31-1, and the k permutations are the
    universal-hash family (a_p·h + b_p) mod 2^31-1 with PUBLIC
    constants (minhash_perm_constants) — no seeded RNG, so signatures
    are engine/cluster/rerun-stable and the DuckDB oracle regenerates
    them exactly.  The output also carries the EXACT distinct-shingle
    Jaccard per pair, so every row self-audits its own sketch error.

    Scale shape: gram strings are digested to 60-bit longs INSIDE the
    scan projection (below the explode, the round-6 Generate rule), so
    the distinct shuffle and everything after it carries only (source,
    long) rows — text never leaves the scan.  The signature half is
    then k min-COLUMNS riding ONE source-keyed hash agg (k codegen
    int-mixes per gram — never k hashes of the string, never a k-way
    explode); output is |sources|² rows of integers regardless of
    corpus size.  The exact half (the audit) self-joins (source,
    digest) on the digest — Σ_g |sources(g)|² work, fine for
    catalog-scale source counts but the first thing to drop at 10⁶
    sources, where the sketch IS the answer (SCALE.md).  Blank docs are
    excluded structurally (the winnow rule): they have no shingles, and
    ''-grams would otherwise alias all blanks across sources into one
    fake shared shingle."""
    gh_arr = F.transform(
        shingles("text", n),
        lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long"),
    )
    # barrier ON the array projection (the ngram_novelty lesson): the
    # interpreted-HOF gram build is the CPU bottleneck and must run
    # exactly once, at scan parallelism
    arr = (
        docs.filter(F.trim(F.col("text")) != "")
        .select("source", gh_arr.alias("ghs"))
        .localCheckpoint(eager=False)
    )
    grams = (
        arr.select("source", F.explode("ghs").alias("gram"))
        .distinct()
        .localCheckpoint(eager=False)  # reused: signatures + sizes + exact
    )
    hm = F.col("gram") % F.lit(MINHASH_PRIME)
    consts = minhash_perm_constants(k)
    sig = grams.select("source", hm.alias("hm")).groupBy("source").agg(
        *[
            F.min((F.lit(a) * F.col("hm") + F.lit(b)) % F.lit(MINHASH_PRIME))
            .alias(f"m{p}")
            for p, (a, b) in enumerate(consts)
        ]
    )
    siga = sig.select(
        F.col("source").alias("source_a"),
        *[F.col(f"m{p}").alias(f"ma{p}") for p in range(k)],
    )
    sigb = sig.select(
        F.col("source").alias("source_b"),
        *[F.col(f"m{p}").alias(f"mb{p}") for p in range(k)],
    )
    n_match = sum(
        F.when(F.col(f"ma{p}") == F.col(f"mb{p}"), 1).otherwise(0) for p in range(k)
    )
    match = (
        siga.crossJoin(F.broadcast(sigb))
        .filter(F.col("source_a") < F.col("source_b"))
        .select("source_a", "source_b", n_match.cast("long").alias("n_match"))
    )
    sz = grams.groupBy("source").agg(F.count("*").cast("long").alias("n"))
    ga = grams.select(F.col("source").alias("source_a"), "gram")
    gb = grams.select(F.col("source").alias("source_b"), "gram")
    inter = (
        ga.join(gb, "gram")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("long").alias("inter"))
    )
    return (
        match.join(sz.withColumnsRenamed({"source": "source_a", "n": "n_a"}), "source_a")
        .join(sz.withColumnsRenamed({"source": "source_b", "n": "n_b"}), "source_b")
        .join(inter, ["source_a", "source_b"], "left")
        .select(
            "source_a", "source_b",
            F.lit(k).cast("long").alias("n_perms"),
            "n_match",
            F.expr(f"(1000000 * n_match) div {k}").alias("est_jaccard_ppm"),
            F.expr(
                "(1000000 * coalesce(inter, 0)) div (n_a + n_b - coalesce(inter, 0))"
            ).alias("true_jaccard_ppm"),
        )
    )


def q_source_minhash_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread_if_narrow(cached_scan(spark, f"{sf_dir}/documents.parquet"))
    return source_minhash_overlap(docs, k=32, n=3)


# ---------------------------------------------------------------------------
# Duplicated-n-gram coverage (exact-substring memorization share)
# ---------------------------------------------------------------------------

def _dup_islands(docs: DataFrame, window: int):
    """Shared core of duplicated_ngram_coverage / dup_span_mask:
    (base, islands, occ, hits) — per-doc token counts + window-digest
    arrays, all duplicated-window occurrences, and their merged spans
    (gaps-and-islands over running-max end)."""
    toks = tokens("text")
    base = docs.select(
        "doc_id",
        F.when(F.trim(F.col("text")) == "", F.lit(0))
        .otherwise(F.size(toks)).alias("n_tokens"),
        F.when(
            (F.trim(F.col("text")) != "") & (F.size(toks) >= window),
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - window),
                lambda i: F.conv(
                    F.substring(
                        F.md5(F.concat_ws(" ", F.slice(toks, i + 1, window))), 1, 15
                    ),
                    16, 10,
                ).cast("long"),
            ),
        ).otherwise(F.array().cast("array<long>")).alias("grams"),
    )
    occ = base.select(
        "doc_id", F.posexplode("grams").alias("pos", "g")
    ).localCheckpoint(eager=False)  # counted once, probed once
    dup = occ.groupBy("g").agg(F.count("*").alias("cnt")).filter(F.col("cnt") >= 2)
    hits = occ.join(dup.select("g"), "g").select(
        "doc_id", "pos", (F.col("pos") + window - 1).alias("end")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max("end").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = hits.select(
        "doc_id", "pos", "end",
        F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1)
        .otherwise(0).alias("new_island"),
    ).select(
        "doc_id", "pos", "end",
        F.sum("new_island").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("island"),
    )
    return base, islands, occ, hits


def duplicated_ngram_coverage(
    docs: DataFrame, window: int = 5
) -> DataFrame:
    """Per-document share of token POSITIONS covered by a duplicated
    token window — the exact-substring memorization metric behind
    "Deduplicating Training Data Makes Language Models Better" (Lee et
    al. 2021): a ``window``-token span is duplicated when its digest
    occurs >= 2 times ANYWHERE in the corpus (other docs or the same
    doc), and a doc's coverage is the length of the UNION of its
    duplicated spans.  dedup_exact/jaccard decide which DOCS to drop;
    this measures how much of each surviving doc is still verbatim
    boilerplate — the per-doc number a span-level dedup pass (or a
    loss-masking policy) keys on.

    Plan shape: token arrays and the per-position digest array are
    projected BELOW the explode (the Generate re-evaluation rule,
    SCALE.md round 6), so only skinny (doc, pos, digest60) rows
    shuffle — bodies never.  One digest hash-agg finds duplicated
    windows, one equi-join marks occurrences, and the span union is
    gaps-and-islands (running-max end) per doc — no interval self-join.
    Output is one row per doc regardless of corpus size.

    Exactness: digests are the engine-standard md5 60-bit integers,
    spans are integer positions, coverage is integer ppm — the oracle
    replays the identical recipe."""
    base, islands, occ, hits = _dup_islands(docs, window)
    per_doc = (
        islands.groupBy("doc_id", "island")
        .agg((F.max("end") - F.min("pos") + 1).alias("span"))
        .groupBy("doc_id")
        .agg(F.sum("span").cast("long").alias("covered_tokens"))
    )
    stats = occ.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_windows")
    ).join(
        hits.groupBy("doc_id").agg(
            F.count("*").cast("long").alias("n_dup_windows")
        ),
        "doc_id", "left",
    )
    return (
        base.select("doc_id", F.col("n_tokens").cast("long").alias("n_tokens"))
        .join(stats, "doc_id", "left")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id", "n_tokens",
            F.coalesce("n_windows", F.lit(0)).cast("long").alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0)).cast("long").alias("n_dup_windows"),
            F.coalesce("covered_tokens", F.lit(0)).cast("long").alias("covered_tokens"),
            F.expr(
                "CASE WHEN n_tokens > 0 THEN (1000000 * coalesce(covered_tokens, 0)) "
                "div n_tokens ELSE 0 END"
            ).alias("coverage_ppm"),
        )
    )


def q_duplicated_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread_if_narrow(cached_scan(spark, f"{sf_dir}/documents.parquet"))
    return duplicated_ngram_coverage(docs, window=5)


def dup_span_mask(
    docs: DataFrame, window: int = 5, min_span: int = 5
) -> DataFrame:
    """The ACTIONABLE half of duplicated_ngram_coverage: one row per
    maskable duplicated span — (doc_id, span_start, span_end_excl,
    span_len) for every merged run of duplicated ``window``-token
    grams at least ``min_span`` tokens long.  This is what a span-level
    dedup pass (Lee et al. 2021 cut these from the training text) or a
    loss-masking data loader consumes; the coverage query is the
    monitoring view, this is the work order.

    Same plan as the coverage op up to the islands (digests below the
    explode, one hash agg, one equi-join, gaps-and-islands) — the final
    shape is one bounded agg per (doc, island).  Positions are
    0-based token offsets; span_end_excl = last covered token + 1, so
    span_len = span_end_excl - span_start always."""
    _, islands, _, _ = _dup_islands(docs, window)
    return (
        islands.groupBy("doc_id", "island")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("end") + 1).cast("long").alias("span_end_excl"),
        )
        .select(
            "doc_id", "span_start", "span_end_excl",
            (F.col("span_end_excl") - F.col("span_start")).alias("span_len"),
        )
        .filter(F.col("span_len") >= min_span)
    )


def q_dup_span_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread_if_narrow(cached_scan(spark, f"{sf_dir}/documents.parquet"))
    return dup_span_mask(docs, window=5, min_span=5)


# ---------------------------------------------------------------------------
# Corpus manifest (content-addressed snapshot fingerprint)
# ---------------------------------------------------------------------------

def corpus_manifest(docs: DataFrame) -> DataFrame:
    """Per-source content-addressed manifest — the dataset-versioning
    primitive: two corpus snapshots are byte-identical per source iff
    their manifest rows are equal, computable in ONE scan with
    ORDER-INDEPENDENT aggregates only (xor and modular sum commute, so
    a 1000-way partitioned run fingerprints identically to a local
    one — the property a float sum or a concat-hash lacks).

    content_xor folds every doc's 60-bit md5 digest with bit_xor (an
    insertion/deletion flips it; a swap of two equal docs does not —
    exact-dup multiplicity is what content_modsum adds: digests summed
    mod 1,000,003, so duplicate-count changes move it).  Bytes and doc
    counts complete the manifest.  Used before/after every pipeline
    stage as the cheap "did anything change, and where" check."""
    dg = F.conv(F.substring(F.md5(F.col("text")), 1, 15), 16, 10).cast("long")
    return (
        docs.select(
            "source",
            dg.alias("dg"),
            F.octet_length("text").cast("long").alias("nb"),
            "doc_id",
        )
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("nb").cast("long").alias("n_bytes"),
            F.expr("bit_xor(dg)").cast("long").alias("content_xor"),
            (F.sum(F.col("dg") % F.lit(1_000_003)) % F.lit(1_000_003))
            .cast("long").alias("content_modsum"),
            F.min("doc_id").cast("long").alias("min_doc_id"),
            F.max("doc_id").cast("long").alias("max_doc_id"),
        )
    )


def q_corpus_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus_manifest(cached_scan(spark, f"{sf_dir}/documents.parquet"))
