"""Similarity search over embedding columns (north-star mandate).

Two paths, same semantics:

* **Brute-force cosine top-k** — the correctness baseline: broadcast
  the (tiny) query vectors, score every row with JVM-side array algebra
  (zip_with/aggregate — no UDF, no Python), take per-partition top-k
  then merge (TakeOrdered — never a global sort).  Linear scan; at
  100 TB this is the verifier / re-ranker, not the retriever.

* **Random-hyperplane LSH buckets** — the scale path: h sign-bits of
  dot(v, r_i) for h fixed pseudo-random hyperplanes form a bucket key;
  candidates = rows sharing the query's bucket (equi-join), then exact
  cosine re-rank.  Recall is tunable with h and multi-probe (hamming-1
  neighbor buckets).  Hyperplanes are derived deterministically from a
  seed via xxhash64 so executors rebuild them without any broadcast of
  floats.

An IVF variant (k-means coarse quantizer) is the classic alternative;
random-hyperplane LSH was chosen because it needs no training pass.
"""

from __future__ import annotations

import logging
from functools import lru_cache

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from project_market_pulse_etl_pipeline_with_llm_integration_spark.functions.columns import (
    cosine_similarity,
)
from project_market_pulse_etl_pipeline_with_llm_integration_spark.sources.readers import (
    parquet_num_rows,
    spread_if_narrow,
)

from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.guards import (
    guard_int64,
)
from project_market_pulse_etl_pipeline_with_llm_integration_spark.sources.readers import cached_scan

_log = logging.getLogger(__name__)


def brute_force_topk(
    items: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact cosine top-k per query: broadcast-join queries against every
    item, score, rank within query, keep k.  Output
    (query_id, vec_id, cos_sim, sim_rank)."""
    scored = (
        items.select(F.col(id_col), F.col(vec_col))
        .crossJoin(F.broadcast(queries.select(F.col(query_id_col), F.col(query_vec_col))))
        .filter(F.col(id_col) != F.col(query_id_col))
        .withColumn(
            "cos_sim", F.round(cosine_similarity(vec_col, query_vec_col), 6)
        )
    )
    w = W.partitionBy(query_id_col).orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("sim_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sim_rank") <= k)
        .select(query_id_col, id_col, "cos_sim", "sim_rank")
    )


def planes_for(n_items: int, target_bucket_size: int = 1024) -> int:
    """Hyperplane count sized to the corpus: 2^planes buckets with
    ~n/2^planes expected items per bucket, so

        planes = ceil(log2(n_items / target_bucket_size))

    A FIXED plane count is a skew bomb at scale — 4 planes is 16 buckets
    whether the corpus is 2k rows or 2B, and a 16-bucket self-join at
    100 TB concentrates ~6% of the corpus per reducer.  Deriving from
    corpus size keeps per-bucket work constant as data grows; recall
    lost to narrower buckets is recovered with multi-probe."""
    import math

    return max(1, math.ceil(math.log2(max(n_items / max(target_bucket_size, 1), 2.0))))


def _hyperplane(dim: int, plane_idx: int, seed: int) -> list[float]:
    """Deterministic pseudo-random hyperplane component list in [-1, 1],
    derived from (seed, plane_idx, component) via a splitmix-style hash —
    reproducible on any node with no RNG state."""
    out = []
    for c in range(dim):
        x = (seed * 1_000_003 + plane_idx * 10_007 + c) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 30
        x = (x * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 27
        x = (x * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 31
        out.append((x % 2_000_001) / 1_000_000.0 - 1.0)
    return out


def _bucket_expr(vec_col: Column, dim: int, n_planes: int, seed: int) -> Column:
    """Sign-bit bucket id from n_planes hyperplane dot products — pure
    column algebra (zip_with + aggregate), evaluated in codegen."""
    bucket = F.lit(0).cast("long")
    for p in range(n_planes):
        plane = F.array(*[F.lit(v) for v in _hyperplane(dim, p, seed)])
        dot = F.aggregate(
            F.zip_with(vec_col, plane, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(dot > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket


def lsh_topk(
    items: DataFrame,
    queries: DataFrame,
    k: int = 10,
    dim: int = 64,
    n_planes: int | None = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    multi_probe: int = 1,
    target_bucket_size: int = 1024,
    n_items_hint: int | None = None,
) -> DataFrame:
    """Approximate top-k: bucket items once, probe the query's bucket
    (equi-join on the bucket id), exact-cosine re-rank inside the bucket.
    A random pair collides with prob (1 - theta/pi)^n_planes; near-
    identical vectors collide almost surely.  ``multi_probe`` is the
    maximum Hamming RADIUS of the probe set (the same contract as
    semantic_decontaminate_lsh after the round-7 advice fix): radius t
    probes every bucket within t sign flips of the query's own —
    sum_{j<=t} C(n_planes, j) probes, the classic multi-probe recall
    boost (Lv et al., VLDB'07: extra probes instead of extra tables).
    ``0`` probes only the home bucket; the default ``1`` keeps the
    historical probe set exactly.

    ``n_planes=None`` derives the plane count from the corpus size via
    ``planes_for`` so per-bucket work stays ~``target_bucket_size`` as
    the corpus grows — see SCALE.md.  ``n_items_hint`` supplies that
    cardinality from manifest/catalog statistics
    (``sources.readers.parquet_num_rows``, ANALYZE TABLE) so no sizing
    ``count()`` job runs before the query; None self-measures."""
    if n_planes is None:
        n = n_items_hint if n_items_hint is not None else items.count()
        n_planes = planes_for(n, target_bucket_size)
    bucketed = items.withColumn("bucket", _bucket_expr(F.col(vec_col), dim, n_planes, seed))
    q_exact = queries.withColumn(
        "bucket0", _bucket_expr(F.col(query_vec_col), dim, n_planes, seed)
    )
    from itertools import combinations

    masks = [0] + [
        sum(1 << j for j in bits)
        for t in range(1, max(0, multi_probe) + 1)
        for bits in combinations(range(n_planes), t)
    ]
    probes = [F.col("bucket0").bitwiseXOR(F.lit(m)) for m in masks]
    q_bucketed = q_exact.select(
        query_id_col, query_vec_col, F.explode(F.array(*probes)).alias("bucket")
    )
    cands = bucketed.join(
        F.broadcast(q_bucketed), "bucket"
    ).filter(F.col(id_col) != F.col(query_id_col))
    scored = cands.withColumn(
        "cos_sim", F.round(cosine_similarity(vec_col, query_vec_col), 6)
    )
    w = W.partitionBy(query_id_col).orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("sim_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sim_rank") <= k)
        .select(query_id_col, id_col, "cos_sim", "sim_rank")
    )


def embedding_near_dup_pairs(
    items: DataFrame,
    threshold: float = 0.95,
    dim: int = 64,
    n_planes: int | None = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_bucket_size: int = 1024,
    n_items_hint: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: LSH self-join (same bucket)
    then exact cosine filter — the embedding analogue of minhash dedup.
    ``n_planes=None`` sizes the bucket count to the corpus
    (``planes_for``) so the self-join's per-bucket quadratic term stays
    bounded as data grows — see SCALE.md.  ``n_items_hint`` supplies
    the cardinality from manifest/catalog statistics so no sizing
    ``count()`` job runs; None self-measures."""
    if n_planes is None:
        n = n_items_hint if n_items_hint is not None else items.count()
        n_planes = planes_for(n, target_bucket_size)
    bucketed = items.select(F.col(id_col), F.col(vec_col)).withColumn(
        "bucket", _bucket_expr(F.col(vec_col), dim, n_planes, seed)
    )
    a = bucketed.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a"), "bucket"
    )
    b = bucketed.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b"), "bucket"
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos_sim", F.round(cosine_similarity("vec_a", "vec_b"), 6))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def quantize_embedding(vec_col: Column | str, clip: float = 1.0) -> Column:
    """Symmetric int8 quantization: clamp to [-clip, clip], scale to
    [-127, 127], round — 4x smaller than float32 (8x vs float64), the
    standard storage/transfer trade for 100 TB embedding tables.
    Dequantize with ``x * clip / 127``.  Pure column algebra.

    String-name calls hit an lru_cache (unresolved Column trees are
    immutable and reusable — the r13 construction-cost note in
    functions/columns.py)."""
    if isinstance(vec_col, str):
        return _quantize_embedding_cached(vec_col, clip)
    return _quantize_embedding_build(vec_col, clip)


def _quantize_embedding_build(vec_col: Column, clip: float) -> Column:
    return F.transform(
        vec_col,
        lambda x: F.round(
            F.greatest(F.least(x.cast("double"), F.lit(clip)), F.lit(-clip))
            * (127.0 / clip)
        ).cast("int"),
    )


@lru_cache(maxsize=64)
def _quantize_embedding_cached(name: str, clip: float) -> Column:
    return _quantize_embedding_build(F.col(name), clip)


def dequantize_embedding(qvec_col: Column, clip: float = 1.0) -> Column:
    # DIVIDE by the scale (not multiply by a precomputed reciprocal):
    # q/(127/clip) and q*(clip/127) differ by 1 ulp for some q, and the
    # floor-scaled quantize surfaces can flip a digit when the scaled
    # value sits exactly on an integer boundary — the oracle divides, so
    # the engine must too.
    return F.transform(qvec_col, lambda q: q.cast("double") / F.lit(127.0 / clip))


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantization round-trip quality surface: per-vector max absolute
    reconstruction error and the quantized-vs-exact cosine of each
    vector against itself-dequantized (should stay ~1).  Error bound:
    half a quantization step = clip/254 per component."""
    emb = cached_scan(spark, f"{sf_dir}/embeddings.parquet")
    q = quantize_embedding("embedding")
    deq = dequantize_embedding(q)
    err = F.zip_with(
        F.transform(F.col("embedding"), lambda x: x.cast("double")),
        deq,
        lambda a, b: F.abs(a - b),
    )
    return emb.select(
        "vec_id",
        F.floor(F.array_max(err) * 1e6).cast("long").alias("max_err_1e6"),
        F.floor(cosine_similarity(F.col("embedding"), deq) * 1e4).cast("long").alias(
            "self_cos_1e4"
        ),
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: k-means coarse quantizer + probed re-rank
# ---------------------------------------------------------------------------

def _dot_lit(vec_col: Column, vals: list[float]) -> Column:
    """Dot product of a vector column with a driver-side literal vector
    (JVM-side fold; the literal rides the serialized plan — KBs)."""
    arr = F.array(*[F.lit(float(v)) for v in vals])
    return F.aggregate(
        F.zip_with(vec_col, arr, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _unit(vec_col: Column) -> Column:
    norm = F.sqrt(
        F.aggregate(
            F.transform(vec_col, lambda x: x.cast("double") * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return F.transform(vec_col, lambda x: x.cast("double") / norm)


def _nearest_centroid(vec_col: Column, centroids: list[list[float]]) -> Column:
    """argmax over centroid dot products (vectors pre-normalized, so
    max dot == min angle == spherical-k-means assignment)."""
    dots = F.array(*[_dot_lit(vec_col, c) for c in centroids])
    return (F.array_position(dots, F.array_max(dots)) - 1).cast("int")


def ivf_train(
    items: DataFrame,
    n_centroids: int = 16,
    iters: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> list[list[float]]:
    """Spherical k-means coarse quantizer, Spark-shaped:

    * assignment is fully distributed (argmax of centroid dots, pure
      column algebra in codegen — centroids ride the plan as literals);
    * the update step aggregates per-(cluster, dimension) means via
      ``posexplode`` + hash agg — one shuffle of n·dim skinny rows;
    * ONLY k×dim centroid floats ever reach the driver (KBs at any
      corpus size) — the legitimate driver-side state of IVF.

    Init is a deterministic hash-ordered sample (TakeOrdered, no global
    sort).  Empty clusters keep their previous centroid."""
    norm = items.select(F.col(id_col).alias("id"), _unit(F.col(vec_col)).alias("v"))
    cents = [
        [float(x) for x in r["v"]]
        for r in norm.orderBy(F.xxhash64(F.col("id"), F.lit(seed)))
        .limit(n_centroids)
        .collect()
    ]
    for _ in range(iters):
        assigned = norm.withColumn("c", _nearest_centroid(F.col("v"), cents))
        means = (
            assigned.select("c", F.posexplode("v").alias("pos", "val"))
            .groupBy("c", "pos")
            .agg(F.avg("val").alias("m"))
            .collect()
        )
        by_cluster: dict[int, dict[int, float]] = {}
        for r in means:
            by_cluster.setdefault(r["c"], {})[r["pos"]] = r["m"]
        new_cents = []
        for ci, old in enumerate(cents):
            dims = by_cluster.get(ci)
            if not dims:
                new_cents.append(old)  # empty cluster: keep centroid
                continue
            vec = [dims[p] for p in range(len(old))]
            n2 = sum(x * x for x in vec) ** 0.5 or 1.0
            new_cents.append([x / n2 for x in vec])
        cents = new_cents
    return cents


def ivf_topk(
    items: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    seed: int = 42,
) -> DataFrame:
    """IVF ANN: train the coarse quantizer, bucket items by nearest
    centroid (one distributed pass), probe each query's ``nprobe``
    nearest centroids, exact-cosine re-rank inside the probed buckets.
    Candidates ~ nprobe/n_centroids of the corpus per query — the
    classic recall/cost dial (vs LSH's plane count).  The training pass
    is what LSH avoids; in exchange IVF adapts to the data
    distribution."""
    cents = ivf_train(items, n_centroids, iters, vec_col, id_col, seed)
    bucketed = items.withColumn("c", _nearest_centroid(_unit(F.col(vec_col)), cents))
    # per-query probe list: top-nprobe centroids by dot product
    qd = queries.withColumn(
        "probes",
        F.slice(
            F.reverse(
                F.array_sort(
                    F.array(
                        *[
                            F.struct(
                                _dot_lit(_unit(F.col(query_vec_col)), c).alias("d"),
                                F.lit(ci).alias("c"),
                            )
                            for ci, c in enumerate(cents)
                        ]
                    )
                )
            ),
            1,
            nprobe,
        ),
    ).select(
        query_id_col, query_vec_col, F.explode(F.transform("probes", lambda s: s.c)).alias("c")
    )
    cands = bucketed.join(F.broadcast(qd), "c").filter(F.col(id_col) != F.col(query_id_col))
    scored = cands.withColumn(
        "cos_sim", F.round(cosine_similarity(vec_col, query_vec_col), 6)
    )
    w = W.partitionBy(query_id_col).orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("sim_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sim_rank") <= k)
        .select(query_id_col, id_col, "cos_sim", "sim_rank")
    )


# -- queries() entries -------------------------------------------------------

def _query_vectors(spark: SparkSession, sf_dir: str, n: int = 3) -> DataFrame:
    """First n embeddings (by vec_id) double as search queries, so the
    operator is self-contained on the driver's tables."""
    emb = cached_scan(spark, f"{sf_dir}/embeddings.parquet")
    return (
        emb.orderBy("vec_id")
        .limit(n)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    )


def q_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = cached_scan(spark, f"{sf_dir}/embeddings.parquet")
    return brute_force_topk(emb, _query_vectors(spark, sf_dir, 3), k=10)


def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion (k=60) of the sparse
    BM25 ranking and the dense cosine ranking over the same corpus
    (vec_id aligns 1:1 with doc_id in the testdata) — the standard
    two-tower + keyword fusion a RAG data pipeline runs.

    rrf = Σ_modality 1/(60 + rank); each doc appears in at most two
    rankings so the sum is two doubles (bitwise order-independent),
    floor-scaled to 1e-6.  Plan shape: both retrievers are distributed
    top-50s (TakeOrdered / broadcast-query crossJoin) whose 50-row
    outputs fuse driver-light via a full-outer join on the id — the
    fusion stage's input is 2·k rows regardless of corpus size."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.text import (
        BM25_QUERY_TERMS,
        bm25_topk,
    )

    docs = cached_scan(spark, f"{sf_dir}/documents.parquet")
    emb = cached_scan(spark, f"{sf_dir}/embeddings.parquet")
    sparse = bm25_topk(docs, BM25_QUERY_TERMS, topk=50).select(
        F.col("doc_id"), F.col("bm_rank").alias("sparse_rank")
    )
    dense = (
        brute_force_topk(emb, _query_vectors(spark, sf_dir, 1), k=50)
        .select(F.col("vec_id").alias("doc_id"), F.col("sim_rank").alias("dense_rank"))
    )
    fused = sparse.join(dense, "doc_id", "full_outer").select(
        "doc_id",
        F.floor(
            (
                F.coalesce(1.0 / (F.lit(60) + F.col("sparse_rank")), F.lit(0.0))
                + F.coalesce(1.0 / (F.lit(60) + F.col("dense_rank")), F.lit(0.0))
            )
            * 1e6
        ).cast("long").alias("rrf_1e6"),
    )
    return fused.orderBy(F.col("rrf_1e6").desc(), F.col("doc_id")).limit(20)


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Corpus-derived plane count (planes_for): 2k vectors / target 128
    # -> 4 planes / 16 buckets at sf0.01, 8 planes / 256 buckets at
    # sf0.1 — per-bucket candidate work stays ~constant across sf.
    emb = cached_scan(spark, f"{sf_dir}/embeddings.parquet")
    return lsh_topk(
        emb, _query_vectors(spark, sf_dir, 3), k=10, n_planes=None,
        target_bucket_size=128,
        n_items_hint=parquet_num_rows(f"{sf_dir}/embeddings.parquet"),
    )


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rows-only check: centroids are engine-defined; recall vs brute
    # force is pinned in tests/test_similarity.py.  Modest quantizer
    # (8 cells, 2 Lloyd iters): each iteration plants k*dim centroid
    # literals into a fresh plan, and codegen/analysis of those trees —
    # not the data — dominates at test scale.
    emb = cached_scan(spark, f"{sf_dir}/embeddings.parquet")
    return ivf_topk(
        emb, _query_vectors(spark, sf_dir, 3), k=10, n_centroids=8, nprobe=3, iters=2
    )


def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group embedding centroids (the building block of IVF
    training, cluster labeling, and class-prototype dedup) as a
    first-class oracle-checked surface: posexplode to skinny
    (group, dim, value) rows, hash-agg a per-dimension mean — ONE
    shuffle of n*dim scalar rows, no vectors ever concentrate anywhere.

    Cross-engine determinism: double summation is order-dependent, so
    components are floor-scaled to 1e-6 integers first; the integer sum
    is exact under any aggregation tree and the final division is a
    single deterministic double op (the money_sum trick, embedding
    flavor)."""
    emb = cached_scan(spark, f"{sf_dir}/embeddings.parquet")
    quantized = F.transform(
        F.col("embedding"), lambda x: F.floor(x.cast("double") * 1e6).cast("long")
    )
    ex = emb.select(
        (F.col("vec_id") % 4).alias("grp"),
        F.posexplode(quantized).alias("pos", "v"),
    )
    return (
        ex.groupBy("grp", "pos")
        .agg(
            F.round(F.sum("v") / (F.count("*") * F.lit(1000000.0)), 6).alias("centroid")
        )
        .select("grp", F.col("pos").cast("long").alias("pos"), "centroid")
    )


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible ANN quality contract: recall@10 of the two
    approximate retrievers (hyperplane LSH, IVF) against the exact
    brute-force top-10, reduced to one row per method with a
    recall >= 0.4 threshold boolean.  Everything upstream is
    deterministic (fixed seeds, fixed data), so the boolean is a hard
    oracle-checkable signal — this promotes the pytest-only recall
    tests (tests/test_similarity.py) into the driver's correctness
    gate.  Measured at sf0.01: lsh 0.77, ivf 0.57."""
    n_queries, k, bar = 3, 10, 0.4
    truth = (
        q_ann_bruteforce(spark, sf_dir)
        .select("query_id", "vec_id")
        .withColumn("hit", F.lit(1))
    )
    approx = (
        q_ann_lsh(spark, sf_dir)
        .select(F.lit("lsh").alias("method"), "query_id", "vec_id")
        .unionByName(
            q_ann_ivf(spark, sf_dir).select(
                F.lit("ivf").alias("method"), "query_id", "vec_id"
            )
        )
    )
    return (
        approx.join(truth, ["query_id", "vec_id"], "left")
        .groupBy("method")
        .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("hits"))
        .select(
            "method",
            F.lit(n_queries).cast("int").alias("n_queries"),
            F.lit(k).cast("int").alias("k"),
            (F.col("hits") >= F.lit(bar) * F.lit(n_queries * k)).alias("recall_ok"),
        )
    )


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The synthetic embeddings are near-orthogonal (max pairwise cosine
    # ~0.51 at sf0.01), so the "near-dup" bar is data-calibrated; the
    # bucket count is corpus-derived like q_ann_lsh.
    emb = cached_scan(spark, f"{sf_dir}/embeddings.parquet")
    return embedding_near_dup_pairs(
        emb, threshold=0.35, n_planes=None, target_bucket_size=128,
        n_items_hint=parquet_num_rows(f"{sf_dir}/embeddings.parquet"),
    )


def q_embedding_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style embedding-space corpus dedup: LSH near-dup pairs
    -> connected components -> keep each cluster's min-id survivor (the
    semantic twin of the text-side ``dedup_corpus``, catching
    paraphrase-level duplicates shingles can't see).  Iterative
    upstream -> rows-only check; the partition laws are driver-checked
    by ``embedding_corpus_law``."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.dedup import (
        dup_clusters,
    )

    emb = cached_scan(spark, f"{sf_dir}/embeddings.parquet")
    pairs = embedding_near_dup_pairs(
        emb, threshold=0.35, n_planes=None, target_bucket_size=128,
        n_items_hint=parquet_num_rows(f"{sf_dir}/embeddings.parquet"),
    ).select("id_a", "id_b")
    labels = dup_clusters(pairs)
    losers = labels.filter(F.col("cluster_id") != F.col("id")).select(
        F.col("id").alias("vec_id")
    )
    return emb.join(losers, "vec_id", "left_anti").select("vec_id")


def q_embedding_corpus_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible contract row for ``embedding_dedup_corpus`` (the
    ``corpus_survivor_law`` pattern in embedding space):
    ``survivor_count_ok`` — |survivors| = |corpus| - |cluster losers|;
    ``idempotent`` — re-running the LSH near-dup pipeline on survivors
    finds zero pairs.  Idempotence is structural ONLY if bucketing is a
    pure function of each vector, so the plane count is derived from
    the ORIGINAL corpus once and pinned for both passes (letting pass 2
    re-derive from the smaller survivor set would coarsen the buckets
    and could surface pairs pass 1 never considered — a false red with
    nothing wrong).  Both booleans hold at any sf."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.dedup import (
        dup_clusters,
    )

    emb = cached_scan(spark, f"{sf_dir}/embeddings.parquet")
    kw = dict(
        threshold=0.35,
        n_planes=planes_for(parquet_num_rows(f"{sf_dir}/embeddings.parquet"), 128),
        target_bucket_size=128,
    )
    pairs = embedding_near_dup_pairs(emb, **kw).select("id_a", "id_b").localCheckpoint(
        eager=False
    )
    labels = dup_clusters(pairs)
    losers = labels.filter(F.col("cluster_id") != F.col("id")).select(
        F.col("id").alias("vec_id")
    )
    survivors = emb.join(losers, "vec_id", "left_anti").localCheckpoint(eager=False)
    n_emb = emb.agg(F.count("*").alias("n_emb"))
    n_losers = losers.agg(F.count("*").alias("n_losers"))
    n_surv = survivors.agg(F.count("*").alias("n_surv"))
    n_resid = embedding_near_dup_pairs(survivors, **kw).agg(
        F.count("*").alias("n_resid")
    )
    return (
        n_emb.crossJoin(n_losers)
        .crossJoin(n_surv)
        .crossJoin(n_resid)
        .select(
            F.lit("embedding_dedup_corpus").alias("method"),
            (F.col("n_surv") == F.col("n_emb") - F.col("n_losers")).alias(
                "survivor_count_ok"
            ),
            (F.col("n_resid") == 0).alias("idempotent"),
        )
    )


_PLANT_VEC_OFFSET = 10_000_000


def q_embedding_neardup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible contract row for the rows-only
    ``embedding_near_dup`` (the planted-duplicate pattern):

    * ``precision_ok`` — every emitted pair's exact cosine clears the
      declared threshold (the output-domain contract through the LSH
      bucketing and the verify filter).
    * ``planted_recall_ok`` — plant an exact copy of every 4th vector
      (same embedding, vec_id + 10_000_000) and require the pipeline to
      pair each copy with its original.  Structural: an identical
      vector lands in the identical hyperplane bucket with cosine ~1,
      so a miss means the bucketing or the verify dropped a true
      duplicate.

    Both booleans hold at any sf; marginal threshold-level pairs are
    best-effort by design (single-bucket LSH) and are NOT gated here —
    duplicates are what a near-dup pass must never miss."""
    emb = cached_scan(spark, f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    planted = emb.filter(F.col("vec_id") % 4 == 0).select(
        (F.col("vec_id") + _PLANT_VEC_OFFSET).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(planted)
    threshold = 0.35
    pairs = embedding_near_dup_pairs(
        corpus, threshold=threshold, n_planes=None, target_bucket_size=128
    ).localCheckpoint(eager=False)
    precision = pairs.agg(F.min("cos_sim").alias("min_cos"))
    expected = emb.filter(F.col("vec_id") % 4 == 0).select(
        F.col("vec_id").alias("id_a"),
        (F.col("vec_id") + _PLANT_VEC_OFFSET).alias("id_b"),
    )
    found = expected.join(
        pairs.select("id_a", "id_b"), ["id_a", "id_b"], "left_semi"
    ).agg(F.count("*").alias("n_found"))
    n_planted = expected.agg(F.count("*").alias("n_planted"))
    return precision.crossJoin(found).crossJoin(n_planted).select(
        F.lit("embedding_lsh").alias("method"),
        (F.coalesce(F.col("min_cos"), F.lit(1.0)) >= threshold).alias("precision_ok"),
        (F.col("n_found") == F.col("n_planted")).alias("planted_recall_ok"),
    )


def q_negative_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive embedding
    training: for every anchor vector, draw 4 pseudo-random negatives
    from the corpus — reproducibly (same negatives on any engine,
    cluster size, or rerun; corpus-versioned training data demands it).

    The draw is hash-mod: neg = md5(anchor ':' slot) mod N over the
    contiguous id space, bumped by one (mod N) on self-collision.  The
    15-hex-digit prefix (60 bits) parses exactly as a positive long in
    both engines — same recipe as hash_sample's md5 membership.  Labels
    ride along via two keyed joins, and ``is_hard`` marks negatives
    sharing the anchor's label (the ones a curriculum would upweight).

    Plan: slots come from a 4-element inline array (narrow generate, no
    shuffle); the label attachment is two equi-joins on id — at 100 TB
    both sides hash-partition on the id, and the anchor side reuses the
    scan.  No RNG state, no driver sampling."""
    emb = cached_scan(spark, f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "label"
    )
    n = emb.agg(F.count("*").alias("n_corpus"))
    slots = emb.crossJoin(F.broadcast(n)).select(
        F.col("vec_id"),
        F.col("label").alias("anchor_label"),
        "n_corpus",
        F.explode(F.array(*[F.lit(s) for s in (1, 2, 3, 4)])).alias("slot"),
    )
    raw = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.col("vec_id"), F.col("slot"))), 1, 15
        ),
        16,
        10,
    ).cast("long") % F.col("n_corpus")
    drawn = slots.withColumn(
        "neg_id",
        F.when(raw == F.col("vec_id"), (raw + 1) % F.col("n_corpus")).otherwise(raw),
    )
    neg = emb.select(
        F.col("vec_id").alias("neg_id"), F.col("label").alias("neg_label")
    )
    return (
        drawn.join(neg, "neg_id")
        .select(
            "vec_id",
            F.col("slot").cast("long").alias("slot"),
            "neg_id",
            "anchor_label",
            "neg_label",
            (F.col("neg_label") == F.col("anchor_label")).alias("is_hard"),
        )
    )


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss random-sign projection (dimensionality reduction)
# ---------------------------------------------------------------------------

JL_OUT_DIM = 16
JL_IN_DIM = 64
JL_SEED = "jl-v1"


def jl_sign_matrix(
    k: int = JL_OUT_DIM, d: int = JL_IN_DIM, seed: str = JL_SEED
) -> list[list[int]]:
    """The +-1 projection matrix, derived row-by-row from md5 of
    (seed, out_dim, in_dim) — a public, replayable construction
    (Achlioptas 2003: sign matrices satisfy the JL lemma), so any
    engine (or the DuckDB oracle) regenerates the identical matrix
    from the seed string alone.  k x d ints — driver-side constant
    folding territory, never data."""
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"{seed}:{j}:{i}".encode()).hexdigest()[:8], 16) % 2
            == 0
            else -1
            for i in range(d)
        ]
        for j in range(k)
    ]


def jl_project(vec_col: Column, signs: list[list[int]]) -> Column:
    """Project an int-quantized embedding to len(signs) dims: y_j =
    sum_i signs[j][i] * q_i — exact long arithmetic (|y_j| <= d*127),
    so the reduced vectors are hash-stable cross-engine, unlike any
    float projection.

    Single-pass formulation: ONE aggregate over the input array with a
    k-field struct accumulator (each element updates all k sums via an
    element_at lookup into the literal sign rows).  The naive shape —
    k independent aggregate(zip_with(...)) columns — re-inlines the
    input expression into every output dim under projection collapse
    and ran 6x slower; one pass evaluates the input exactly once.
    Scan-local column algebra: zero shuffles, zero UDFs."""
    k = len(signs)
    sign_rows = [F.array(*[F.lit(x) for x in row]) for row in signs]
    indexed = F.transform(
        vec_col,
        lambda x, i: F.struct(x.cast("long").alias("q"), (i + 1).alias("i")),
    )
    zero = F.struct(*[F.lit(0).cast("long").alias(f"s{j}") for j in range(k)])
    return F.aggregate(
        indexed,
        zero,
        lambda acc, x: F.struct(
            *[
                (acc[f"s{j}"] + x["q"] * F.element_at(sign_rows[j], x["i"])).alias(
                    f"s{j}"
                )
                for j in range(k)
            ]
        ),
        lambda acc: F.array(*[acc[f"s{j}"] for j in range(k)]),
    )


def q_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL-reduce the embedding table 64 -> 16 dims at int8 precision:
    the storage/ANN-prefilter trade (4x fewer dims on top of int8's 4x
    = 16x smaller than float32) used to cheapen near-dup and ANN
    candidate generation at 100 TB.  Hashed surface: the projected
    integer vector (CSV-serialized — the harness's canonicalizer
    requires atomic columns, and a comma-joined exact-integer string
    is bijective with the array) plus its exact squared norm."""
    emb = cached_scan(spark, f"{sf_dir}/embeddings.parquet")
    proj = jl_project(quantize_embedding("embedding"), jl_sign_matrix())
    return emb.select("vec_id", proj.alias("proj")).select(
        "vec_id",
        F.concat_ws(",", F.col("proj").cast("array<string>")).alias("proj_csv"),
        F.aggregate(
            F.col("proj"), F.lit(0).cast("long"), lambda acc, x: acc + x * x
        ).alias("norm2"),
    )


def q_jl_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance-preservation audit for the JL projection: over a
    seeded id-sample of vectors (vec_id % 29 — swap for a fixed-budget
    hash sample at real scale), every pair's exact squared distance in
    quantized 64-dim space (d64) and projected 16-dim space (d16),
    plus ratio_ppm = floor(1e6*d16/(16*d64)) — E[d16] = k*d64 for
    sign projections, so the ratio concentrates at 1e6.  All exact
    integers: the audit is fully oracle-hashable, no statistical band
    needed.  The pair join is over the sample only (|S|^2/2 rows for a
    bounded |S|), never the corpus."""
    emb = cached_scan(spark, f"{sf_dir}/embeddings.parquet")
    sample = emb.filter(F.col("vec_id") % 29 == 0)
    qdf = sample.select(
        "vec_id", quantize_embedding("embedding").alias("q")
    ).localCheckpoint(eager=False)
    s = qdf.select(
        "vec_id", "q", jl_project(F.col("q"), jl_sign_matrix()).alias("y")
    ).localCheckpoint(eager=False)
    a = s.select(
        F.col("vec_id").alias("id_a"), F.col("q").alias("qa"), F.col("y").alias("ya")
    )
    b = s.select(
        F.col("vec_id").alias("id_b"), F.col("q").alias("qb"), F.col("y").alias("yb")
    )
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    d64 = F.aggregate(
        F.zip_with(F.col("qa"), F.col("qb"), lambda x, y: (x - y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v * v,
    )
    d16 = F.aggregate(
        F.zip_with(F.col("ya"), F.col("yb"), lambda x, y: x - y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v * v,
    )
    return (
        pairs.select("id_a", "id_b", d64.alias("d64"), d16.alias("d16"))
        .filter(F.col("d64") > 0)
        .select(
            "id_a",
            "id_b",
            "d64",
            "d16",
            F.floor(F.col("d16") * 1_000_000 / (F.lit(JL_OUT_DIM) * F.col("d64")))
            .cast("long")
            .alias("ratio_ppm"),
        )
    )


def q_ann_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine retrieval over INT8-QUANTIZED vectors — the
    serving-memory configuration (4x density vs float32; see
    embedding_quantize for the storage path).  Because quantized
    components are small integers, dot products and squared norms are
    EXACT int64 — so unlike the float path, every hashed column here is
    exact integer arithmetic and the ranking double (dot/(√na·√nb), all
    correctly-rounded IEEE ops over exact ints) is cross-engine
    identical.  The accuracy delta vs float cosine is bounded by the
    quantization step (embedding_quantize pins it); recall vs the float
    ranking is the ann_recall pattern.

    Plan shape: identical to ann_bruteforce — 3 broadcast query
    vectors cross the corpus once, per-query top-10 over the scored
    stream; the int8 arrays shrink the scan and the shuffle ~4x, which
    at 100 TB of embeddings is the difference between memory-resident
    and spilled."""
    from pyspark.sql import Window as W

    emb = cached_scan(spark, f"{sf_dir}/embeddings.parquet")
    qemb = emb.select("vec_id", quantize_embedding("embedding").alias("qv"))
    queries = (
        qemb.orderBy("vec_id")
        .limit(3)
        .select(F.col("vec_id").alias("query_id"), F.col("qv").alias("query_qv"))
    )
    prod = F.zip_with("qv", "query_qv", lambda a, b: a.cast("long") * b)
    sq = lambda c: F.aggregate(  # noqa: E731
        F.transform(c, lambda x: x.cast("long") * x), F.lit(0).cast("long"), lambda s, x: s + x
    )
    scored = (
        qemb.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.aggregate(prod, F.lit(0).cast("long"), lambda s, x: s + x).alias("dot"),
            sq(F.col("qv")).alias("nb"),
            sq(F.col("query_qv")).alias("na"),
        )
        .withColumn("qcos", F.col("dot") / (F.sqrt("na") * F.sqrt("nb")))
    )
    w = W.partitionBy("query_id").orderBy(F.col("qcos").desc(), F.col("vec_id"))
    return (
        scored.withColumn("q_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("q_rank") <= 10)
        .select("query_id", "q_rank", "vec_id", "dot", "na", "nb")
    )


def hard_negative_mining(
    emb: DataFrame,
    anchors: DataFrame,
    top_k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training (Robinson et al.
    2021 / the in-batch-negatives upgrade every retrieval trainer
    runs): for each ANCHOR vector, the ``top_k`` most-similar corpus
    vectors whose label DIFFERS — the negatives that actually move the
    loss, versus random negatives that are trivially separable.

    Exactness: the ann_quantized contract — int8-quantized components
    make dot products and squared norms exact int64, ranking is
    (dot/(√na·√nb), vec_id) over exact ints, so every hashed column is
    engine-exact.

    Scale shape: anchors are a FIXED-budget frame (contract: small —
    hundreds to low thousands, like semantic_decontaminate's
    benchmark) broadcast across one corpus scan; the label-mismatch
    filter prunes before scoring; per-anchor top-k runs as a window
    over the scored stream partitioned by anchor — at 100 TB compose
    with the IVF/LSH candidate generators (ann_ivf / lsh_topk) exactly
    like semantic_decontaminate_lsh composes its prefilter, scorer
    unchanged."""
    qemb = emb.select(
        F.col(id_col), F.col(label_col),
        quantize_embedding(vec_col).alias("_qv"),
    )
    anc = anchors.select(
        F.col(id_col).alias("anchor_id"),
        F.col(label_col).alias("_alabel"),
        quantize_embedding(vec_col).alias("_aqv"),
    )
    sq = lambda c: F.aggregate(  # noqa: E731
        F.transform(c, lambda x: x.cast("long") * x),
        F.lit(0).cast("long"), lambda s, x: s + x,
    )
    dot = F.aggregate(
        F.zip_with("_qv", "_aqv", lambda a, b: a.cast("long") * b),
        F.lit(0).cast("long"), lambda s, x: s + x,
    )
    scored = (
        qemb.crossJoin(F.broadcast(anc))
        .filter(F.col(label_col) != F.col("_alabel"))
        .select(
            "anchor_id",
            F.col(id_col).alias("negative_id"),
            F.col(label_col).alias("negative_label"),
            dot.alias("dot"),
            sq(F.col("_aqv")).alias("na"),
            sq(F.col("_qv")).alias("nb"),
        )
        .withColumn("qcos", F.col("dot") / (F.sqrt("na") * F.sqrt("nb")))
    )
    w = W.partitionBy("anchor_id").orderBy(
        F.col("qcos").desc(), F.col("negative_id")
    )
    return (
        scored.withColumn("neg_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("neg_rank") <= top_k)
        .select(
            "anchor_id", "neg_rank", "negative_id", "negative_label",
            "dot", "na", "nb",
        )
    )


def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 hard negatives (different-label nearest neighbors) for a
    deterministic 8-anchor slice (vec_id % 97 == 0 capped to the 8
    smallest ids — fixed budget at any sf)."""
    emb = cached_scan(spark, f"{sf_dir}/embeddings.parquet")
    anchors = emb.filter(F.col("vec_id") % 97 == 0).orderBy("vec_id").limit(8)
    return hard_negative_mining(emb, anchors, top_k=5)


def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Representation-drift monitor — the EMBEDDING sibling of
    source_drift's categorical PSI: bucket every vector by the SIGN
    PATTERN of its first 8 JL projection dims (an md5-seeded, exactly
    replicable random-hyperplane partition into 256 cells) and compare
    the cell-occupancy histograms of the label-0 slice vs the rest.
    A model/encoder change that moves the representation shows up as
    occupancy shift long before downstream metrics move — this is the
    vector-space health check an embedding pipeline runs per batch.

    Contract (the source_drift pattern): everything hashed is exact —
    per-cell counts and integer-ppm shares over the 256-cell grid
    (cells pre-aggregated, so output is bounded by occupied cells);
    the sign buckets derive from exact integer sums (quantized
    components x ±1 matrix), so cell assignment is engine-identical.
    Plan: one narrow projection pass (no shuffle), one 2x256-cell
    agg."""
    emb = cached_scan(spark, f"{sf_dir}/embeddings.parquet")
    proj = jl_project(quantize_embedding("embedding"), jl_sign_matrix())
    bucket = F.aggregate(
        F.zip_with(
            F.slice(proj, 1, 8),
            F.array([F.lit(1 << i) for i in range(8)]),
            lambda p, w: F.when(p >= 0, w).otherwise(F.lit(0)),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    cells = emb.select(
        (F.col("label") == 0).alias("is_a"), bucket.alias("cell")
    ).groupBy("cell").agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("is_a"), 0).otherwise(1)).alias("n_b"),
    )
    tot = cells.agg(F.sum("n_a").alias("t_a"), F.sum("n_b").alias("t_b"))
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            F.col("cell").cast("long").alias("cell"),
            "n_a",
            "n_b",
            F.expr("(1000000 * n_a) div t_a").alias("share_a_ppm"),
            F.expr("(1000000 * n_b) div t_b").alias("share_b_ppm"),
            F.expr(
                "abs((1000000 * n_a) div t_a - (1000000 * n_b) div t_b)"
            ).alias("abs_shift_ppm"),
        )
        .filter((F.col("n_a") + F.col("n_b")) > 0)
    )


# ---------------------------------------------------------------------------
# Semantic decontamination (embedding-space benchmark overlap)
# ---------------------------------------------------------------------------

# Benchmark-side row gate for the BLAS strategy of
# semantic_decontaminate: the broadcast matrix is RAW float64 (not the
# int8 _BLAS_MAX_SIDE class), so the gate is 8x tighter — 2^17 rows x
# 64 dims x 8 B = 64 MiB, the same broadcast budget.  Benchmarks are
# 10^3-10^5 items by contract; past the gate the relational plan (and
# past broadcast viability the LSH escalation) take over.
_SEM_BLAS_MAX_BENCH = 1 << 17


def _semantic_blas(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
) -> DataFrame | None:
    """BLAS half of semantic_decontaminate — row-identical to the
    relational plan (pinned by test + the shared oracle).

    Returns ``None`` when the benchmark's non-null vectors carry MIXED
    lengths (ADVICE r14): the relational fold scores each pair by its
    own pair-wise length agreement, which a single (nb x dim) matrix
    cannot reproduce — the caller falls back to the relational plan,
    keeping the pinned row-identity trivially true.  The matrix
    dimension comes from the (unique) non-null vector length, NOT from
    the first row: a NULL first benchmark vector used to zero the dim
    and silently report the whole corpus uncontaminated.

    Exactness argument (this family's raw-DOUBLE variant of the
    _d2_block integer argument): the relational plan's dot product and
    norms are sequential zip_with/aggregate folds —
    (((0 + x₁y₁) + x₂y₂) + …) in float64.  The numpy kernel below
    accumulates dimension-by-dimension over the whole block
    (``acc += X[:, i:i+1] * B[:, i]``), which performs the IDENTICAL
    sequence of IEEE-754 multiplies and adds per pair — never np.dot /
    BLAS, whose pairwise/blocked summation would differ in the last
    ulp.  sqrt and division are correctly-rounded single operations on
    both engines.  The 6-dp HALF_UP rounding stays IN SPARK for the
    max (round is monotone, so round(max of raw) == max of rounded);
    the threshold count handles the rounding boundary with a ±2e-6
    band checked per-element by exact decimal HALF_UP — outside the
    band the raw comparison is provably equivalent.

    NULL semantics match the relational plan: a NULL/NaN element or a
    length-mismatched vector poisons its pairs to NaN (the fold's NULL),
    a zero-norm denominator is masked to NaN (the nullif guard), NaN
    pairs are ignored by the max and never counted as hits; an
    all-NaN row yields (NULL, 0, false)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    spark = corpus.sparkSession
    brows = benchmark.select(F.col(vec_col).alias("_bv")).collect()
    nb = len(brows)
    lens = {len(r["_bv"]) for r in brows if r["_bv"] is not None}
    if len(lens) > 1:
        return None  # mixed-length benchmark: pair-wise dims — relational
    dim = lens.pop() if lens else 0

    B = np.full((nb, dim), np.nan)
    for j, r in enumerate(brows):
        v = r["_bv"]
        if v is not None and len(v) == dim:
            B[j] = np.array(
                [np.nan if x is None else x for x in v], dtype=np.float64
            )
    bn_acc = np.zeros(nb)
    for i in range(dim):
        bn_acc = bn_acc + B[:, i] * B[:, i]
    bn = np.sqrt(bn_acc)
    bc = spark.sparkContext.broadcast((B, bn, dim))
    thr = float(threshold)

    def score(batches):
        from decimal import ROUND_HALF_UP, Decimal

        bB, bbn, bdim = bc.value
        nb_ = bB.shape[0]
        q6 = Decimal("0.000001")

        def round6_ge(c: float) -> bool:
            # Spark's Round(double, 6) goes through Java
            # BigDecimal.valueOf, i.e. the SHORTEST decimal repr of the
            # double (Double.toString), not its exact binary expansion —
            # Decimal(repr(c)) replicates exactly that
            return float(
                Decimal(repr(c)).quantize(q6, rounding=ROUND_HALF_UP)
            ) >= thr

        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col]
            m = len(pdf)
            X = np.full((m, bdim if bdim else 1), np.nan)
            if bdim:
                for r, v in enumerate(pdf[vec_col]):
                    if v is not None and len(v) == bdim:
                        X[r] = np.array(
                            [np.nan if x is None else x for x in v],
                            dtype=np.float64,
                        )
            if nb_ == 0 or bdim == 0:
                yield pd.DataFrame(
                    {id_col: ids, "_mr": [None] * m, "_h": [0] * m}
                )
                continue
            # sequential-over-dims accumulation == the zip_with fold
            D = np.zeros((m, nb_))
            cn_acc = np.zeros(m)
            for i in range(bdim):
                D = D + X[:, i : i + 1] * bB[:, i]
                cn_acc = cn_acc + X[:, i] * X[:, i]
            cn = np.sqrt(cn_acc)
            denom = cn[:, None] * bbn[None, :]
            with np.errstate(invalid="ignore", divide="ignore"):
                C = np.where(denom != 0.0, D / denom, np.nan)
            valid = ~np.isnan(C)
            # raw max (rounded later in Spark: round is monotone)
            any_valid = valid.any(axis=1)
            mr = np.where(any_valid, np.nanmax(np.where(valid, C, -np.inf), axis=1), np.nan)
            # threshold count on ROUNDED cosines: band-exact
            definite = valid & (C >= thr + 2e-6)
            band = valid & (C > thr - 2e-6) & (C < thr + 2e-6)
            hits = definite.sum(axis=1).astype(np.int64)
            for r in np.nonzero(band.any(axis=1))[0]:
                hits[r] += sum(
                    1 for c in C[r][band[r]] if round6_ge(float(c))
                )
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "_mr": [None if not av else float(v)
                            for av, v in zip(any_valid, mr)],
                    "_h": hits,
                }
            )

    id_field = corpus.select(id_col).schema.fields[0]
    out_schema = T.StructType(
        [
            id_field,
            T.StructField("_mr", T.DoubleType()),
            T.StructField("_h", T.LongType()),
        ]
    )
    scored = spread_if_narrow(corpus.select(id_col, vec_col)).mapInPandas(
        score, schema=out_schema
    )
    return (
        scored.groupBy(id_col)
        .agg(F.max("_mr").alias("_mr"), F.sum("_h").cast("long").alias("n_benchmark_hits"))
        .select(
            id_col,
            F.round(F.col("_mr"), 6).alias("max_benchmark_cos"),
            "n_benchmark_hits",
        )
        .select(
            id_col,
            "max_benchmark_cos",
            "n_benchmark_hits",
            F.coalesce(
                F.col("max_benchmark_cos") >= threshold, F.lit(False)
            ).alias("contaminated"),
        )
    )


def semantic_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    strategy: str = "auto",
) -> DataFrame:
    """Embedding-space benchmark decontamination: per corpus vector,
    the max cosine against ANY benchmark vector plus the count of
    benchmark vectors above ``threshold`` — the SEMANTIC sibling of the
    n-gram ``dedup.decontaminate`` (paraphrased or translated benchmark
    items share no 5-grams but sit close in embedding space; surface
    decontamination alone leaves them in the training set).

    Output: (id, max_benchmark_cos, n_benchmark_hits, contaminated).
    Cosines are rounded to 6 dp PER PAIR before the max/count (the
    ann_bruteforce determinism recipe — the dot product is a fixed-order
    array fold, identical in binary double on any engine, so the
    rounded per-pair values and hence the max/count hash-match).

    100 TB posture: benchmarks are small (10^3-10^5 items) — the
    benchmark side broadcasts and the corpus is SCANNED once, a pure
    map + local aggregate (the groupBy's map-side combine reduces each
    partition to one row per corpus vector before any shuffle).  Flops
    are O(|corpus| x |benchmark| x dim) — embarrassingly parallel, no
    corpus-wide shuffle of vectors.  For 10^6+ benchmark items, prune
    candidates with the LSH bucket join first (``lsh_topk``) and run
    this exact scorer on survivors.

    Two physical strategies, pinned row-identical by test
    (optimization r13, guide §4 — the interpreted zip_with/aggregate
    fold is the per-pair CPU bottleneck):

    - ``"blas"`` (what ``"auto"`` picks when the benchmark fits the
      ``_SEM_BLAS_MAX_BENCH`` float64 broadcast gate): one Arrow-
      batched ``mapInPandas`` pass over the corpus with the benchmark
      matrix broadcast — see ``_semantic_blas`` for the bit-identity
      argument (sequential-over-dims accumulation reproduces the fold
      order; rounding stays in Spark / exact-decimal at the boundary).
    - ``"relational"``: the broadcast-join + HOF-fold plan below — the
      over-gate fallback and the cross-check reference.

    ``auto`` runs one benchmark-side count at construction (the
    dedup_jaccard / bitext auto-probe eagerness contract: DataFrame
    construction triggers a bounded Spark job)."""
    if strategy not in ("auto", "blas", "relational"):
        raise ValueError(f"unknown strategy {strategy!r}")
    if strategy == "auto":
        strategy = (
            "blas"
            if benchmark.count() <= _SEM_BLAS_MAX_BENCH
            else "relational"
        )
    if strategy == "blas":
        blas = _semantic_blas(corpus, benchmark, threshold, id_col, vec_col)
        if blas is not None:
            return blas
        # Mixed-length benchmark vectors (ADVICE r14): the single-matrix
        # kernel cannot reproduce pair-wise length agreement — fall
        # through to the relational plan, which scores those pairs
        # exactly (and is what the row-identity pin compares against).
        # Logged, so relational timings are not read as the kernel's.
        _log.warning(
            "semantic_decontaminate: benchmark vectors have mixed lengths; "
            "strategy 'blas' falls back to the relational plan"
        )

    def _norm(c: Column) -> Column:
        return F.sqrt(
            F.aggregate(
                F.transform(c, lambda x: x.cast("double") * x),
                F.lit(0.0), lambda a, x: a + x,
            )
        )

    # norms are per-VECTOR, so they are computed once per side before
    # the cross join instead of per pair inside cosine_similarity — the
    # per-pair work drops from three interpreted array folds to one
    # (the dot product).  sqrt(dot(v,v)) here is the same double the
    # fused form produces, so the rounded cosines (and the oracle
    # hash) are unchanged.  Measured 3.6 s -> 1.5 s at sf0.1.
    bench = benchmark.select(
        F.col(id_col).alias("_bid"), F.col(vec_col).alias("_bvec"),
        _norm(F.col(vec_col)).alias("_bn"),
    )
    dot = F.aggregate(
        F.zip_with(F.col(vec_col), F.col("_bvec"),
                   lambda x, y: x.cast("double") * y),
        F.lit(0.0), lambda a, x: a + x,
    )
    # LEFT join on a true condition instead of crossJoin: identical
    # BroadcastNestedLoopJoin plan and identical output when the
    # benchmark is non-empty, but an EMPTY benchmark keeps every corpus
    # row (null cosine -> 0 hits, contaminated=false) instead of
    # silently dropping the whole corpus — the per-doc-verdict posture
    # of the n-gram decontaminate sibling.  nullif guards zero-norm
    # vectors: a 0/0 pair yields NULL (ignored by max, not counted as
    # a hit) rather than NaN/inf feeding max().
    # nanvl masks NaN cosines (a NaN ELEMENT in either vector) to NULL:
    # Spark SQL orders NaN above every double, so an unmasked NaN would
    # win F.max and count as a >= threshold hit, while the BLAS kernel
    # ignores NaN pairs — the docstring's "both engines ignore NaN"
    # contract was only half true before this (ADVICE r14).  NULL and
    # zero-norm pairs pass through nanvl unchanged (NULL is not NaN).
    scored = (
        corpus.select(F.col(id_col), F.col(vec_col),
                      _norm(F.col(vec_col)).alias("_cn"))
        .join(F.broadcast(bench), F.lit(True), "left")
        .withColumn(
            "_cos",
            F.nanvl(
                F.round(
                    dot / F.nullif(F.col("_cn") * F.col("_bn"), F.lit(0.0)), 6
                ),
                F.lit(None).cast("double"),
            ),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.max("_cos").alias("max_benchmark_cos"),
            F.sum(
                F.when(F.col("_cos") >= threshold, 1).otherwise(0)
            ).cast("long").alias("n_benchmark_hits"),
        )
        .select(
            id_col,
            "max_benchmark_cos",
            "n_benchmark_hits",
            F.coalesce(
                F.col("max_benchmark_cos") >= threshold, F.lit(False)
            ).alias("contaminated"),
        )
    )


def q_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic decontamination of the embedding corpus against a
    deterministic benchmark slice (vec_id % 17 == 0, ~6%)."""
    emb = cached_scan(spark, f"{sf_dir}/embeddings.parquet")
    benchmark = emb.filter(F.col("vec_id") % 17 == 0)
    corpus = emb.filter(F.col("vec_id") % 17 != 0)
    return semantic_decontaminate(corpus, benchmark, threshold=0.35)

def semantic_decontaminate_lsh(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 8,
    seed: int = 42,
    multi_probe: int = 1,
) -> DataFrame:
    """The documented ESCALATION path of ``semantic_decontaminate`` for
    10^6+ benchmark items, where broadcasting the benchmark and scoring
    |corpus| x |benchmark| pairs stops being viable: prune candidates
    with the random-hyperplane LSH bucket equi-join first (the
    ``lsh_topk`` recipe — multi-probe flips on the benchmark side), run
    the SAME exact scorer on the surviving pairs, and left-join the
    verdicts back so every corpus row keeps a per-doc verdict row.

    Semantics vs the exact path: identical scoring on every surviving
    pair (same fold order, same 6-dp rounding, same nullif zero-norm
    guard); pairs the LSH prunes are missed, so ``max_benchmark_cos``
    is NULL (not a number) for corpus rows with no candidate — the
    honest "below the recall floor" verdict, and hits/contamination are
    lower bounds of the exact path's.  With ``n_planes=0`` every pair
    survives and the output is pinned EQUAL to ``semantic_decontaminate``
    by test (tests/test_similarity.py) — the composition proof the
    SCALE.md escalation note promises.

    ``multi_probe`` = the maximum Hamming radius of the probe set
    (advice r7 — it was previously capped at radius 1 whatever the
    value): radius t probes every bucket within t bit flips of the
    benchmark item's own bucket, sum_{j<=t} C(n_planes, j) buckets
    total, trading join fan-out for recall exactly like multi-probe
    LSH (Lv et al., VLDB'07).  ``multi_probe=0`` probes only the home
    bucket.

    Scale posture: each (corpus, benchmark) pair can match at most ONE
    probe bucket (the XOR masks are pairwise-distinct subsets of the
    plane bits, so {b ^ m} is pairwise distinct while the corpus item
    owns a single bucket), so no pair dedup shuffle is needed before
    the per-pair scorer; the bucket join is a plain equi-join AQE can
    pick a strategy for — nothing is forced broadcast in this
    regime."""
    def _norm(c: Column) -> Column:
        return F.sqrt(
            F.aggregate(
                F.transform(c, lambda x: x.cast("double") * x),
                F.lit(0.0), lambda a, x: a + x,
            )
        )

    bench = benchmark.select(
        F.col(id_col).alias("_bid"), F.col(vec_col).alias("_bvec"),
        _norm(F.col(vec_col)).alias("_bn"),
        _bucket_expr(F.col(vec_col), dim, n_planes, seed).alias("_b0"),
    )
    from itertools import combinations

    masks = [0] + [
        sum(1 << j for j in bits)
        for t in range(1, max(0, multi_probe) + 1)
        for bits in combinations(range(n_planes), t)
    ]
    probes = [F.col("_b0").bitwiseXOR(F.lit(m)) for m in masks]
    bench_probed = bench.select(
        "_bid", "_bvec", "_bn", F.explode(F.array(*probes)).alias("_bkt")
    )
    cand = (
        corpus.select(
            F.col(id_col), F.col(vec_col), _norm(F.col(vec_col)).alias("_cn"),
            _bucket_expr(F.col(vec_col), dim, n_planes, seed).alias("_bkt"),
        )
        .join(bench_probed, "_bkt")
    )
    dot = F.aggregate(
        F.zip_with(F.col(vec_col), F.col("_bvec"),
                   lambda x, y: x.cast("double") * y),
        F.lit(0.0), lambda a, x: a + x,
    )
    agg = (
        cand.withColumn(
            "_cos",
            F.round(dot / F.nullif(F.col("_cn") * F.col("_bn"), F.lit(0.0)), 6),
        )
        .groupBy(id_col)
        .agg(
            F.max("_cos").alias("max_benchmark_cos"),
            F.sum(
                F.when(F.col("_cos") >= threshold, 1).otherwise(0)
            ).cast("long").alias("n_benchmark_hits"),
        )
    )
    return (
        corpus.select(id_col)
        .join(agg, id_col, "left")
        .select(
            id_col,
            "max_benchmark_cos",
            F.coalesce("n_benchmark_hits", F.lit(0)).cast("long")
            .alias("n_benchmark_hits"),
            F.coalesce(
                F.col("max_benchmark_cos") >= threshold, F.lit(False)
            ).alias("contaminated"),
        )
    )


# Packed-argmin radix for the Lloyd/PQ assignment aggregations: cluster
# ids occupy the low 20 bits, squared distances the bits above (dd <=
# dim·254² < 2^23 over int8-quantized components, so dd·2^20 + cid <
# 2^43 — comfortable int64 headroom).  Lexicographic (dd, cid) order
# equals numeric order of the packed long, which turns the argmin agg
# from a struct-buffered SortAggregate into a plain long-min
# HashAggregate (optimization r13).
_ARGMIN_PACK_BITS = 20
_ARGMIN_PACK = 1 << _ARGMIN_PACK_BITS


def _int_sq_l2(a: Column | str, b: Column | str) -> Column:
    """Exact int64 squared L2 between two int-component arrays — the
    single shared distance kernel of the kcenter / kmeans / PQ family
    (any change here is an engine/oracle-parity change: the unrolled
    SQL oracles replay this exact expression).  String-name calls hit
    an lru_cache (see functions/columns.py r13 construction note)."""
    if isinstance(a, str) and isinstance(b, str):
        return _int_sq_l2_cached(a, b)
    return _int_sq_l2_build(
        F.col(a) if isinstance(a, str) else a,
        F.col(b) if isinstance(b, str) else b,
    )


def _int_sq_l2_build(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("long") - y) * (x.cast("long") - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


@lru_cache(maxsize=64)
def _int_sq_l2_cached(a: str, b: str) -> Column:
    return _int_sq_l2_build(F.col(a), F.col(b))


def kcenter_coreset(
    emb: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy k-center coreset selection over an embedding table — the
    classic 2-approximation farthest-point traversal (Gonzalez 1985),
    used as diversity-driven data pruning/coreset selection for
    training sets (Sener & Savarese 2018): start from the smallest id,
    then ``k - 1`` times pick the point farthest (max-min) from the
    centers chosen so far.

    Exactness contract: distances are EXACT int64 squared L2 over the
    int8-quantized components (the ann_quantized recipe), argmax ties
    break on ascending id, and the running min-distance state is
    updated incrementally — LEAST(prior_min, d2-to-newest-center) — so
    round r touches each point once against ONE new center, not r
    centers.  Every hashed column is integer, so the oracle's unrolled
    rounds match bit-for-bit.

    Scale shape: each round is one broadcast of a SINGLE center row
    across one scan of the (id, qvec, min_d2) state — no pairwise
    blow-up, no shuffle except the k global top-1 selections
    (TakeOrdered, driver-light).  State frames sit behind lazy
    localCheckpoints (the pagerank recipe) so lineage — and the double
    reference from (select next center, update state) — stays O(1) per
    round instead of doubling.  k is a FIXED small budget (coreset
    seeds, dozens); for k in the thousands switch to batched farthest-
    point sampling over an ANN index — out of scope by contract.

    Output: one row per selected center — (sel_round, center_id,
    d2_prior = exact squared distance to the already-chosen set at
    selection time, 0 for the seed) — plus the constant audit column
    coverage_d2 = max over ALL points of min-d2 to the final k centers
    (the k-center objective value the greedy 2-approximates).

    Degenerate-corpus contract: if k exceeds the corpus's effective
    diversity (every remaining point already at min_d2 = 0 — exact
    duplicates, or k > #distinct points), the argmax falls back to the
    smallest id, which may RE-SELECT an existing center: d2_prior = 0
    rows are the loud signal that the coreset budget exceeds the
    corpus's diversity, not an error (the oracle replays the same
    rule, so the gate still hash-matches).
    """
    if k < 2:
        raise ValueError("kcenter_coreset needs k >= 2")
    pts = emb.select(
        F.col(id_col).alias("pid"),
        quantize_embedding(vec_col).alias("qv"),
    ).localCheckpoint(eager=False)
    d2 = _int_sq_l2
    seed = (
        pts.orderBy("pid")
        .limit(1)
        .select(F.col("pid").alias("cid"), F.col("qv").alias("cqv"))
        .localCheckpoint(eager=False)
    )
    state = (
        pts.crossJoin(F.broadcast(seed))
        .select("pid", "qv", d2("qv", "cqv").alias("min_d2"))
        .localCheckpoint(eager=False)
    )
    picks = seed.select(
        F.lit(1).cast("long").alias("sel_round"),
        F.col("cid").alias("center_id"),
        F.lit(0).cast("long").alias("d2_prior"),
    )
    for r in range(2, k + 1):
        nxt = (
            state.orderBy(F.desc("min_d2"), "pid")
            .limit(1)
            .select(
                F.col("pid").alias("cid"),
                F.col("qv").alias("cqv"),
                F.col("min_d2").alias("sel_d2"),
            )
            .localCheckpoint(eager=False)
        )
        picks = picks.unionAll(
            nxt.select(
                F.lit(r).cast("long").alias("sel_round"),
                F.col("cid").alias("center_id"),
                F.col("sel_d2").cast("long").alias("d2_prior"),
            )
        )
        state = (
            state.crossJoin(F.broadcast(nxt.select("cid", "cqv")))
            .select(
                "pid",
                "qv",
                F.least(F.col("min_d2"), d2("qv", "cqv")).alias(
                    "min_d2"
                ),
            )
            .localCheckpoint(eager=False)
        )
    cov = state.agg(F.max("min_d2").cast("long").alias("coverage_d2"))
    return picks.crossJoin(F.broadcast(cov))


def q_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-center greedy coreset over the embeddings table."""
    emb = cached_scan(spark, f"{sf_dir}/embeddings.parquet")
    return kcenter_coreset(emb, k=8)


def _lloyd(pts: DataFrame, k: int, rounds: int):
    """Fixed-round integer Lloyd's core over a checkpointed (pid, qv)
    frame: (final centers, final assignment (pid, cid, d2)).  Shared by
    kmeans_topics (full vectors) and pq_encode (per-subspace slices);
    the exactness recipe — (d2, cid) struct argmin, +127-shifted
    positive-operand floor means, empty-cluster carry — is documented
    on kmeans_topics."""
    if k > _ARGMIN_PACK:
        raise ValueError(f"_lloyd: k must be <= {_ARGMIN_PACK}")
    d2 = _int_sq_l2
    w0 = W.orderBy("pid")
    centers = (
        pts.orderBy("pid")
        .limit(k)
        .select(
            (F.row_number().over(w0) - 1).cast("long").alias("cid"),
            F.transform("qv", lambda x: x.cast("long")).alias("cv"),
        )
        .localCheckpoint(eager=False)
    )

    def assign(c: DataFrame) -> DataFrame:
        # Packed argmin (optimization r13, guide §5 hash-vs-sort agg):
        # min(struct(dd, cid)) carries a STRUCT agg buffer, which
        # HashAggregate cannot hold — the assignment agg fell back to
        # SortAggregate (sort all n·k candidate rows every round).
        # dd <= dim·254² < 2^23 (int8-quantized components) and
        # cid < k <= 2^20 (checked above), so lexicographic (dd, cid)
        # order IS numeric order of dd·2^20 + cid in one long; min()
        # over the packed long hash-aggregates and decodes to the same
        # (cid, d2) exactly.
        # qv rides the GROUPING KEY (it is functionally dependent on
        # pid), so the update step below needs no join back to pts —
        # one exchange + join per round removed (optimization r13,
        # guide §2.1).  Array grouping keys hash-aggregate (verified:
        # plan shows HashAggregate, not Sort/ObjectHash), and map-side
        # combine still collapses the k candidates per pid before the
        # shuffle, so the exchange carries n rows either way.
        return (
            pts.crossJoin(F.broadcast(c))
            .select(
                "pid",
                "qv",
                (d2("qv", "cv") * _ARGMIN_PACK + F.col("cid")).alias("p"),
            )
            .groupBy("pid", "qv")
            .agg(F.min("p").alias("p"))
            .select(
                "pid",
                "qv",
                F.col("p").bitwiseAND(_ARGMIN_PACK - 1).alias("cid"),
                F.shiftright("p", _ARGMIN_PACK_BITS).alias("d2"),
            )
        )

    for _ in range(rounds):
        asg = assign(centers)
        upd = (
            asg.select("cid", F.posexplode("qv").alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(F.expr("(sum(x + 127) div count(*)) - 127").alias("v"))
            .groupBy("cid")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "v"))),
                    lambda s: s["v"],
                ).alias("cv_new")
            )
        )
        centers = (
            centers.join(upd, "cid", "left")
            .select("cid", F.coalesce("cv_new", "cv").alias("cv"))
            .localCheckpoint(eager=False)
        )
    return centers, assign(centers)


def kmeans_topics(
    emb: DataFrame,
    k: int = 4,
    rounds: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Fixed-round Lloyd's k-means over the embedding table — the
    canonical topic/cluster profile of a corpus (and the coarse
    quantizer ann_ivf trains with spherical semantics; this is the
    plain-L2 edition exposed as a first-class clustering operator).

    Exactness contract (the kcenter/pagerank fixed-round recipe):
    distances are EXACT int64 squared L2 over the shared int8
    quantization; assignment argmin tie-breaks on ascending cluster id
    (min over (d2, cid) structs); centroid updates are PER-DIMENSION
    integer floor means computed on +127-SHIFTED components so both
    engines stay on the positive-operand floor-division path (Spark
    `div` truncates toward zero, DuckDB `//` floors — they only agree
    for non-negative operands); empty clusters keep their previous
    centroid.  Every number in the output is an integer or a CSV of
    integers, so the unrolled-SQL oracle matches bit-for-bit.

    Scale shape: each round is one broadcast of the k-row centroid
    table across one scan of the (id, qvec) state (k·dim longs —
    dozens of KB), one argmin hash agg keyed on the point id, and one
    (cid, dim) hash agg for the update — no pairwise blow-up, no
    global sort; rounds are FIXED (the streaming-friendly minibatch
    escalation is documented in SCALE.md).  Centroid frames sit behind
    lazy localCheckpoints so lineage stays O(1) per round.

    Output: one row per cluster — cluster_id, n_points, inertia (sum
    of member min-d2 under the FINAL centroids), centroid_csv."""
    if k < 1 or rounds < 1:
        raise ValueError("kmeans_topics needs k >= 1, rounds >= 1")
    pts = emb.select(
        F.col(id_col).alias("pid"),
        quantize_embedding(vec_col).alias("qv"),
    ).localCheckpoint(eager=False)
    centers, final = _lloyd(pts, k, rounds)
    stats = final.groupBy("cid").agg(
        F.count("*").cast("long").alias("n_points"),
        F.sum("d2").cast("long").alias("inertia"),
    )
    return (
        centers.join(stats, "cid", "left")
        .select(
            F.col("cid").alias("cluster_id"),
            F.coalesce("n_points", F.lit(0)).cast("long").alias("n_points"),
            F.coalesce("inertia", F.lit(0)).cast("long").alias("inertia"),
            F.concat_ws(",", F.transform("cv", lambda v: v.cast("string")))
            .alias("centroid_csv"),
        )
    )


def q_kmeans_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-cluster, 3-round integer Lloyd's over the embeddings table."""
    emb = cached_scan(spark, f"{sf_dir}/embeddings.parquet")
    return kmeans_topics(emb, k=4, rounds=3)


def pq_encode(
    emb: DataFrame,
    m: int = 8,
    k: int = 4,
    rounds: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product quantization (Jégou/Douze/Schmid 2011) over the shared
    int8 quantization: the 64-dim vector splits into ``m`` contiguous
    subspaces, each trained with the fixed-round integer Lloyd's
    recipe (_pq_train — the grouped twin of _lloyd) to a ``k``-centroid
    codebook, and every vector is encoded
    as its per-subspace nearest-centroid codes — the memory layout that
    takes an embedding table from 64 int8s to m small codes (here
    8 × 2 bits) while keeping an additive distance approximation
    (ADC): recon_d2, the exact int64 squared error of the encoding, IS
    the per-vector term that bounds the ADC error.

    This completes the engine's quantization ladder: int8 scalar
    (ann_quantized) → JL dim-reduction (jl_projection) → PQ codes.
    Training budget is deliberately small and FIXED (k codewords,
    ``rounds`` Lloyd rounds from the first-k-ids init — the kmeans
    seeding rule), so the whole operator is engine-exact and the
    unrolled oracle replays it; production-scale codebooks (k=256,
    more rounds) change constants, not shape.

    Scale shape: the m subspaces are INDEPENDENT Lloyd problems, so
    they all run in ONE grouped pipeline — points explode once to
    skinny (pid, s, sv) rows, the codebook is one (s, cid, cv) table
    of m·k rows broadcast into a single s-keyed join per round, and
    updates are one (s, cid, pos) hash agg — never m separate job
    chains (measured 6.4 -> 2.7 s at sf0.1 vs the per-subspace loop).
    Output: vec_id, code_csv (m codes), recon_d2."""
    _, _, final = _pq_train(emb, m, k, rounds, id_col, vec_col)
    return (
        final.groupBy("pid")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("s", "cid"))),
                    lambda st: st["cid"].cast("string"),
                ),
            ).alias("code_csv"),
            F.sum("d2").cast("long").alias("recon_d2"),
        )
        .select(F.col("pid").alias("vec_id"), "code_csv", "recon_d2")
    )


def _pq_train(
    emb: DataFrame, m: int, k: int, rounds: int,
    id_col: str = "vec_id", vec_col: str = "embedding",
):
    """Shared PQ training core: (sub (pid, s, sv), codebook (s, cid,
    cv), final assignment (pid, s, cid, d2)) — consumed by pq_encode
    (codes + recon error) and pq_adc_topk (ADC retrieval)."""
    if 64 % m != 0:
        raise ValueError("pq_encode: m must divide the 64-dim layout")
    if k > _ARGMIN_PACK:
        raise ValueError(f"_pq_train: k must be <= {_ARGMIN_PACK}")
    dim = 64 // m
    pts = emb.select(
        F.col(id_col).alias("pid"),
        quantize_embedding(vec_col).alias("qv_full"),
    )
    sub_arr = F.array(*[
        F.struct(
            F.lit(s).cast("long").alias("s"),
            F.slice("qv_full", s * dim + 1, dim).alias("sv"),
        )
        for s in range(m)
    ])
    sub = (
        pts.select("pid", F.explode(sub_arr).alias("e"))
        .select("pid", F.col("e.s").alias("s"), F.col("e.sv").alias("sv"))
        .localCheckpoint(eager=False)  # every round's assignment + update
    )
    d2 = _int_sq_l2
    w0 = W.partitionBy("s").orderBy("pid")
    centers = (
        sub.join(
            F.broadcast(
                pts.select("pid").orderBy("pid").limit(k).select("pid")
            ),
            "pid",
        )
        .select(
            "s",
            (F.row_number().over(w0) - 1).cast("long").alias("cid"),
            F.transform("sv", lambda x: x.cast("long")).alias("cv"),
        )
        .localCheckpoint(eager=False)
    )

    def assign(c: DataFrame) -> DataFrame:
        # packed argmin — same rationale and bounds as the _lloyd
        # assignment (struct-min forced SortAggregate; dd·2^20 + cid is
        # order-isomorphic and hash-aggregable)
        # sv rides the grouping key — same join-back elimination as the
        # _lloyd assignment above
        return (
            sub.join(F.broadcast(c), "s")
            .select(
                "pid", "s", "sv",
                (d2("sv", "cv") * _ARGMIN_PACK + F.col("cid")).alias("p"),
            )
            .groupBy("pid", "s", "sv")
            .agg(F.min("p").alias("p"))
            .select(
                "pid", "s", "sv",
                F.col("p").bitwiseAND(_ARGMIN_PACK - 1).alias("cid"),
                F.shiftright("p", _ARGMIN_PACK_BITS).alias("d2"),
            )
        )

    for _ in range(rounds):
        asg = assign(centers)
        upd = (
            asg.select("s", "cid", F.posexplode("sv").alias("pos", "x"))
            .groupBy("s", "cid", "pos")
            .agg(F.expr("(sum(x + 127) div count(*)) - 127").alias("v"))
            .groupBy("s", "cid")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "v"))),
                    lambda st: st["v"],
                ).alias("cv_new")
            )
        )
        centers = (
            centers.join(upd, ["s", "cid"], "left")
            .select("s", "cid", F.coalesce("cv_new", "cv").alias("cv"))
            .localCheckpoint(eager=False)
        )
    return sub, centers, assign(centers)


def q_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8x8 product quantization of the embeddings table, 4 codewords
    per subspace, one Lloyd round."""
    emb = cached_scan(spark, f"{sf_dir}/embeddings.parquet")
    return pq_encode(emb, m=8, k=4, rounds=1)


def pq_adc_topk(
    emb: DataFrame,
    n_queries: int = 3,
    topk: int = 10,
    m: int = 8,
    k: int = 4,
    rounds: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance (ADC) retrieval over the PQ codes — what PQ
    exists FOR (Jégou et al. 2011 §III): the query keeps its (int8)
    components un-coded while every corpus vector is its m codes, so
    the scan cost per query is ONE m·k-entry distance-table build plus
    a code lookup per vector, never a full-vector distance.
    approx_d2(q, x) =
    Σ_s d2(q_s, codebook[s, code_s(x)]) — exact int64 given the codes,
    so the whole retrieval hash-matches the unrolled oracle.

    Plan: the m·k·n_queries distance table (dozens of rows) broadcasts
    into one (s, cid)-keyed join against the skinny code rows, one
    (query, vec) hash agg sums the per-subspace terms, and the top-k
    is a query-partitioned rank window over the aggregated frame —
    scan-shaped, no pairwise full-vector work anywhere.  Self-matches
    are excluded (the ann_bruteforce convention)."""
    sub, centers, final = _pq_train(emb, m, k, rounds, id_col, vec_col)
    d2 = _int_sq_l2
    qsub = sub.join(
        F.broadcast(
            emb.select(F.col(id_col).alias("pid"))
            .orderBy("pid").limit(n_queries)
        ),
        "pid",
    ).select(F.col("pid").alias("query_id"), "s", F.col("sv").alias("qsv"))
    dt = qsub.join(centers, "s").select(
        "query_id", "s", "cid", d2("qsv", "cv").alias("dq")
    )
    adc = (
        final.select("pid", "s", "cid")
        .join(F.broadcast(dt), ["s", "cid"])
        .groupBy("query_id", "pid")
        .agg(F.sum("dq").cast("long").alias("adc_d2"))
        .filter(F.col("pid") != F.col("query_id"))
    )
    w = W.partitionBy("query_id").orderBy("adc_d2", "pid")
    return (
        adc.select(
            "query_id", F.col("pid").alias("vec_id"), "adc_d2",
            F.row_number().over(w).cast("long").alias("adc_rank"),
        )
        .filter(F.col("adc_rank") <= topk)
    )


def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-10 for the 3 smallest vec_ids over the 8x8/4-codeword
    PQ encoding."""
    emb = cached_scan(spark, f"{sf_dir}/embeddings.parquet")
    return pq_adc_topk(emb, n_queries=3, topk=10, m=8, k=4, rounds=1)


# Round-1 selection uses min_ds = _MMR_BIG (sentinel "no selected set
# yet"): argmax(min_ds - dq) then reduces to pure relevance.  Must
# exceed any real distance gap: max int8 squared L2 is dim·254² ≈ 4.1e6
# at dim 64 — 2^40 clears it with int64 headroom to spare.
_MMR_BIG = 1 << 40


def mmr_rerank(
    emb: DataFrame,
    k: int = 6,
    n_candidates: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998) of a retrieval page: from the top-``n_candidates`` nearest
    neighbors of the query (the smallest-id vector, the ann_bruteforce
    convention), greedily select ``k`` results balancing relevance
    against redundancy — the diversity re-ranker every RAG stack puts
    between ANN retrieval and the context window, so near-duplicate
    hits don't crowd out coverage.

    Exactness contract (the kcenter recipe): λ = 1/2 MMR over NEGATED
    exact int64 squared L2 distances on the shared int8 quantization —
    score·2 = min_d2(candidate, selected) − d2(candidate, query), ties
    broken on ascending id; the diversity state updates incrementally
    (LEAST against the newest pick only) and picked rows leave the
    candidate pool (unlike kcenter, MMR must never re-select).  Every
    hashed column is integer, so the unrolled oracle matches
    bit-for-bit.

    Scale shape: MMR is a PER-QUERY operator over a bounded page —
    candidate generation is the certified ANN family's job; this
    touches n_candidates rows k times (one broadcast of a single pick
    per round).  At fleet scale the same shape runs grouped by
    query_id over each query's page; n_candidates stays ≤ ~100 by
    construction, so cost is O(k·n) per query regardless of corpus
    size.

    Output: (sel_round, vec_id, rel_d2 = exact d2 to the query,
    div_d2 = exact min-d2 to the already-selected set at selection
    time; 0 for the first pick)."""
    if k < 1 or n_candidates < k:
        raise ValueError("mmr_rerank needs 1 <= k <= n_candidates")
    pts = emb.select(
        F.col(id_col).alias("pid"),
        quantize_embedding(vec_col).alias("qv"),
    )
    qrow = (
        pts.orderBy("pid")
        .limit(1)
        .select(F.col("pid").alias("qid"), F.col("qv").alias("qqv"))
        .localCheckpoint(eager=False)
    )
    state = (
        pts.crossJoin(F.broadcast(qrow))
        .filter(F.col("pid") != F.col("qid"))
        .select("pid", "qv", _int_sq_l2("qv", "qqv").alias("dq"))
        .orderBy("dq", "pid")
        .limit(n_candidates)
        .withColumn("min_ds", F.lit(_MMR_BIG).cast("long"))
        .localCheckpoint(eager=False)
    )
    picks = None
    for r in range(1, k + 1):
        nxt = (
            state.withColumn("score", F.col("min_ds") - F.col("dq"))
            .orderBy(F.desc("score"), "pid")
            .limit(1)
            .select(
                F.col("pid").alias("cid"),
                F.col("qv").alias("cqv"),
                F.col("dq").alias("sel_dq"),
                F.col("min_ds").alias("sel_ds"),
            )
            .localCheckpoint(eager=False)
        )
        row = nxt.select(
            F.lit(r).cast("long").alias("sel_round"),
            F.col("cid").alias("vec_id"),
            F.col("sel_dq").cast("long").alias("rel_d2"),
            (F.lit(0) if r == 1 else F.col("sel_ds")).cast("long").alias("div_d2"),
        )
        picks = row if picks is None else picks.unionAll(row)
        state = (
            state.crossJoin(F.broadcast(nxt.select("cid", "cqv")))
            .filter(F.col("pid") != F.col("cid"))
            .select(
                "pid",
                "qv",
                "dq",
                F.least(F.col("min_ds"), _int_sq_l2("qv", "cqv")).alias(
                    "min_ds"
                ),
            )
            .localCheckpoint(eager=False)
        )
    return picks


def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR re-rank: 6 diverse picks from the query's top-20 page."""
    emb = cached_scan(spark, f"{sf_dir}/embeddings.parquet")
    return mmr_rerank(emb, k=6, n_candidates=20)


def embedding_dim_profile(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-dimension QA profile of an embedding table over the shared
    int8 quantization: min/max, distinct-value count, clip count
    (|v| = 127 — mass pinned at the quantizer's edge means the clip
    range is too tight), and the exact lower median.  The table a
    vector-pipeline owner reads before trusting ANN recall: dead
    dimensions (n_distinct = 1) and saturated ones (high n_clipped)
    silently degrade every distance in the index.

    Plan: one posexplode to (pos, v) scalar ints — dim× the row count
    but 16 bytes wide — then ONE (pos) hash agg for the range stats and
    one (pos)-partitioned window for the median; output is exactly
    ``dim`` rows.  At 100 TB swap the exact median for approx_percentile
    per pos (same shape, documented trade)."""
    pts = emb.select(
        F.col(id_col).alias("pid"),
        quantize_embedding(vec_col).alias("qv"),
    ).select("pid", F.posexplode("qv").alias("pos", "v"))
    stats = pts.groupBy("pos").agg(
        F.count("*").cast("long").alias("n"),
        F.min("v").cast("long").alias("dmin"),
        F.max("v").cast("long").alias("dmax"),
        F.countDistinct("v").cast("long").alias("n_distinct"),
        F.sum(F.when(F.abs(F.col("v")) == 127, 1).otherwise(0))
        .cast("long")
        .alias("n_clipped"),
    )
    w = W.partitionBy("pos").orderBy("v", "pid")
    med = (
        pts.select(
            "pos", "v",
            F.row_number().over(w).alias("rn"),
            F.count("*").over(W.partitionBy("pos")).alias("nn"),
        )
        .filter(F.col("rn") == F.expr("(nn + 1) div 2"))
        .select("pos", F.col("v").cast("long").alias("med"))
    )
    return stats.join(med, "pos").select(
        F.col("pos").cast("long").alias("pos"),
        "n", "dmin", "dmax", "n_distinct", "n_clipped", "med",
    )


def q_embedding_dim_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = cached_scan(spark, f"{sf_dir}/embeddings.parquet")
    return embedding_dim_profile(emb)


def embedding_outliers(emb: DataFrame, topk: int = 5) -> DataFrame:
    """Per-label embedding OUTLIER report: the ``topk`` vectors farthest
    from their label's centroid — the mislabeled/garbage-embedding
    screen read next to embedding_dim_profile before trusting ANN
    recall or cluster assignments.

    Exact-integer trick: the centroid c = s/n never materializes (it
    would be a float and unhashable cross-engine).  Instead the ranking
    key is the SCALED squared distance ‖n·x − s‖² = n²·Σx² − 2n·(x·s) +
    Σs² over the int8-quantized components — a pure int64 that orders
    identically to ‖x − c‖² because the n² factor is constant within a
    label.  int64 headroom: worst-case (n·127)²·dim < 2⁶³ holds to
    n ≈ 3·10⁶ vectors per label at dim 64 (≈ 10⁷ only for unit-norm
    embeddings, where Σx² ≈ 127² instead of dim·127²) — beyond that,
    rescale s once to milli-centroid integers (documented swap, same
    shape; review find corrected the earlier ~10⁷ claim).

    Plan: one posexplode, one (label, pos) sum agg (the O(labels·dim)
    centroid-sum frame — broadcast), one component join + (vec, label)
    agg, then a per-label top-k window on WindowGroupLimit.  No
    all-pairs anything; the only shuffles are the two keyed aggs."""
    e = emb.select(
        "vec_id", "label", quantize_embedding("embedding").alias("qv")
    )
    ex = e.select(
        "vec_id", "label", F.posexplode("qv").alias("pos", "v")
    )
    s = ex.groupBy("label", "pos").agg(F.sum("v").alias("s"))
    s = s.localCheckpoint(eager=False)  # O(labels*dim); read twice
    nn = e.groupBy("label").agg(F.count("*").alias("n"))
    ss2 = s.groupBy("label").agg(F.sum(F.col("s") * F.col("s")).alias("ss2"))
    pv = (
        ex.join(F.broadcast(s), ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(F.col("v") * F.col("s")).alias("dot"),
            F.sum(F.col("v") * F.col("v")).alias("sq"),
        )
    )
    d = (
        pv.join(F.broadcast(nn), "label")
        .join(F.broadcast(ss2), "label")
        .select(
            "label", "vec_id",
            F.col("n").cast("long").alias("n"),
            (
                F.col("n") * F.col("n") * F.col("sq")
                - 2 * F.col("n") * F.col("dot")
                + F.col("ss2")
            ).cast("long").alias("d2n"),
        )
    )
    w = W.partitionBy("label").orderBy(F.col("d2n").desc(), "vec_id")
    return (
        d.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= topk)
        .select(
            F.col("label").cast("long").alias("label"),
            F.col("vec_id").cast("long").alias("vec_id"),
            "n", "d2n",
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = cached_scan(spark, f"{sf_dir}/embeddings.parquet")
    return embedding_outliers(emb)


PI_ROUNDS = 4


def power_iteration_direction(qe: DataFrame, rounds: int = PI_ROUNDS) -> DataFrame:
    """Top principal direction of the embedding cloud by FIXED-POINT
    INTEGER power iteration on the (uncentered) second-moment matrix
    M = Σ x·xᵀ — Gram-free: M·v is computed as Σᵢ xᵢ·(xᵢᵀv), one
    distributed pass per round, so the dim×dim matrix never
    materializes and nothing but the 64-long direction vector leaves
    the aggregation.  (Uncentered is the standard choice for unit-norm
    embedding clouds, where the mean direction IS signal; centered PCA
    would need the n²-scaled covariance trick and its tighter int64
    headroom.)

    Exactness (the pagerank recipe applied to linear algebra): vectors
    ride the shared int8 quantization; each round computes sᵢ = xᵢᵀv
    (|s| ≤ 64·127² ≈ 1.03e6), wᵈ = Σᵢ xᵢᵈ·sᵢ (|w| ≤ n·1.3e8 — int64
    safe to n ≈ 5·10⁸ vectors, documented bound), then renormalizes to
    the int grid: v'ᵈ = (wᵈ·127) div max|w| — every step integer
    multiply/sum/truncating-div, so after any fixed round count both
    engines hold bit-identical direction vectors; the SQL oracle
    unrolls the same rounds.  Convergence to the dominant eigenvector
    is geometric in the eigengap; 4 rounds is the certified contract,
    not a convergence claim (the kcore_peel posture).

    Plan per round: one broadcast of the 1-row direction, one
    posexplode (n×64 rows), one 64-group hash agg with map-side
    combine, one 64-row array rebuild.  The loop state is 64 longs —
    driver never sees data, only plans."""
    spark = qe.sparkSession
    v = spark.range(1).select(
        F.array_repeat(F.lit(1).cast("long"), JL_IN_DIM).alias("v")
    )
    for _ in range(rounds):
        s = qe.crossJoin(F.broadcast(v)).select(
            "qv",
            F.aggregate(
                F.zip_with("qv", "v", lambda a, b: a.cast("long") * b),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("s"),
        )
        w = (
            s.select(F.posexplode("qv").alias("dim", "x"), "s")
            .groupBy("dim")
            .agg(F.sum(F.col("x").cast("long") * F.col("s")).alias("w"))
        )
        v = (
            w.agg(F.array_sort(F.collect_list(F.struct("dim", "w"))).alias("dw"))
            .select(F.transform("dw", lambda t: t["w"]).alias("wv"))
            .withColumn(
                "ma",
                F.greatest(
                    F.array_max(F.transform("wv", lambda x: F.abs(x))),
                    F.lit(1).cast("long"),
                ),
            )
            .select(
                F.transform(
                    "wv",
                    lambda x: F.call_function("div", x * 127, F.col("ma")),
                ).alias("v")
            )
            .localCheckpoint(eager=False)
        )
    return v


def q_embedding_principal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(dim, comp) of the corpus's top principal direction after
    PI_ROUNDS integer power-iteration rounds — 64 rows, components on
    the [-127, 127] grid, engine-exact."""
    emb = cached_scan(spark, f"{sf_dir}/embeddings.parquet")
    qe = emb.select(
        quantize_embedding("embedding").alias("qv")
    ).localCheckpoint(eager=False)  # loop-invariant: read every round
    v = power_iteration_direction(qe, rounds=PI_ROUNDS)
    return v.select(F.posexplode("v").alias("dim", "comp")).select(
        F.col("dim").cast("long").alias("dim"),
        F.col("comp").cast("long").alias("comp"),
    )


DH_PAIR_BUCKETS = 64


def q_distance_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-geometry probe: the distribution of exact squared L2
    distances between DETERMINISTICALLY sampled vector pairs, in
    power-of-two buckets — the 'is this cloud clustered, uniform, or
    collapsing' audit read before trusting any ANN recall number (a
    distance histogram piled into one bucket means the index has
    nothing to discriminate).

    Pairing is hash-random but engine-exact: vectors order by their
    md5 rank within DH_PAIR_BUCKETS hash buckets and each pairs with
    its successor (one unpaired row per bucket drops — documented).
    Distances are exact int64 over the shared int8 quantization (max
    64·254² ≈ 4.1e6, far inside the power-of-two literal domain); the
    histogram join is the fixed 32-row broadcast.  Plan: one bucket-
    PARTITIONED lead window (audit-safe), one zip_with fold, one
    broadcast range join, one <=32-key agg."""
    emb = cached_scan(spark, f"{sf_dir}/embeddings.parquet")
    h = F.conv(
        F.substring(F.md5(F.concat(F.col("vec_id").cast("string"), F.lit(":dh"))), 1, 15),
        16, 10,
    ).cast("long")
    qe = emb.select(
        "vec_id",
        quantize_embedding("embedding").alias("qv"),
        h.alias("h"),
        (h % DH_PAIR_BUCKETS).alias("pb"),
    )
    w = W.partitionBy("pb").orderBy("h", "vec_id")
    paired = qe.withColumn("pqv", F.lead("qv").over(w)).filter(
        F.col("pqv").isNotNull()
    )
    d2 = F.aggregate(
        F.zip_with(
            "qv", "pqv",
            lambda a, b: (a.cast("long") - b) * (a.cast("long") - b),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.analytics import (
        pow2_histogram,
    )

    dists = paired.select(d2.alias("d2"))
    return pow2_histogram(
        dists, "d2",
        bucket_cols=("bucket", "lo_d2", "hi_d2"),
        count_alias="n_pairs", count_share_alias="share_ppm",
    )


def q_vector_norm_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-norm distribution in power-of-two buckets over the
    shared int8 quantization — the collapse/scale audit that pairs
    with distance_histogram: a norm histogram piled into one bucket
    with a WIDE distance histogram means the cloud lives on a sphere
    (healthy for cosine); norms drifting buckets between snapshots is
    the embedding-version skew embedding_drift quantifies, visible
    here per-magnitude.  Exact: ||q||² = Σq² is int64 (<= dim·127²),
    bucketed via the open-ended GAP_BUCKETS literal, shares exact ppm
    floors.

    Plan: one scan + per-row zip-free fold (aggregate over the
    quantized array), a 32-row broadcast range join, one <=32-key agg
    — no shuffle bigger than the 32-key agg, no windows."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.analytics import (
        pow2_histogram,
    )

    emb = cached_scan(spark, f"{sf_dir}/embeddings.parquet")
    n2 = F.aggregate(
        quantize_embedding("embedding"),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x.cast("long") * x,
    )
    # NULL/empty embeddings drop BEFORE the totals (review r11): the
    # DuckDB oracle's unnest produces zero rows for them, so keeping
    # them here would inflate the Spark-side share denominator (NULL)
    # or plant a phantom bucket-0 row (empty array) — the histogram is
    # over vectors that exist
    norms = emb.filter(
        F.col("embedding").isNotNull() & (F.size("embedding") > 0)
    ).select(n2.alias("n2"))
    return pow2_histogram(
        norms, "n2",
        bucket_cols=("bucket", "lo_n2", "hi_n2"),
        count_alias="n_vectors", count_share_alias="share_ppm",
    )


def q_class_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-class centroid separation matrix: for every unordered
    label pair, the exact squared L2 distance between the classes'
    centroid vectors on the 1e-6 micro-grid — the
    is-this-labeling-learnable readout (classes whose centroids nearly
    coincide won't separate linearly; read next to
    embedding_principal's axis and distance_histogram's pair
    geometry).

    Exactness contract: per (label, dim) the component sum of the
    1e-6-floored values is an exact long; the centroid component is
    its TRUNCATING div by the class count (micro-grid means —
    engine-identical per division_semantics_law), and the distance is
    the plain integer sum of squared component differences.  The 1e-6
    quantization is the embedding_centroids contract; nothing float
    ever crosses engines.

    Plan: posexplode to skinny (label, dim, micro) rows, ONE hash agg
    to the |labels|·dim frame, then a broadcast self-join on dim with
    label_a < label_b and one <=|labels|² agg.  Output O(|labels|²/2)
    rows.  100 TB bound: |mean diff| ≤ 2·1e6·max|x|; with |x| ≤ 1e3
    the 64-dim squared sum stays ≤ 2.6e20/1e3... — concretely, dims ·
    (2e9)² = 2.6e20 exceeds int64 only past max|x| ~ 38 on this grid;
    the driver's unit-scale embeddings sit 6 orders inside, and the
    per-dim diff is guarded below."""
    emb = cached_scan(spark, f"{sf_dir}/embeddings.parquet")
    ex = emb.select(
        F.col("label").cast("long").alias("lbl"),
        F.posexplode(
            F.transform(
                F.col("embedding"),
                lambda x: F.floor(x.cast("double") * 1e6).cast("long"),
            )
        ).alias("dim", "micro"),
    )
    cent = (
        ex.groupBy("lbl", "dim")
        .agg(F.sum("micro").alias("s"), F.count("*").alias("n"))
        .select(
            "lbl", "dim", "n",
            F.expr("s div n").alias("m"),
        )
    )
    # |m| <= ~1.2e7 for unit-scale embeddings.  Sound bound: the worst
    # per-dim diff is 2·L for components bounded by L, so the 64-dim
    # squared sum needs 64·(2L)² <= 2⁶³−1 -> L <= 1.89e8 (review r11:
    # the earlier 3.8e8 bounded the DIFF, not each component, and
    # admitted a silent 2x wrap at ±3.8e8 components).  Raise loudly
    # rather than wrap if someone feeds huge-magnitude vectors.
    cent = guard_int64(
        cent,
        F.abs(F.col("m")) <= F.lit(189_000_000),
        F.format_string(
            "class_separation: |centroid micro component| %s exceeds "
            "the int64 squared-sum bound (1.89e8) — rescale the "
            "embeddings (docstring bound)",
            F.col("m"),
        ),
    )
    a = cent.select(
        F.col("lbl").alias("label_a"), "dim",
        F.col("m").alias("ma"), F.col("n").alias("n_a"),
    )
    b = cent.select(
        F.col("lbl").alias("label_b"), "dim",
        F.col("m").alias("mb"), F.col("n").alias("n_b"),
    )
    return (
        a.join(F.broadcast(b), "dim")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.max("n_a").cast("long").alias("n_a"),
            F.max("n_b").cast("long").alias("n_b"),
            F.sum((F.col("ma") - F.col("mb")) * (F.col("ma") - F.col("mb")))
            .cast("long").alias("d2_micro2"),
        )
    )


# Driver/broadcast ceiling for the BLAS exact-scoring path: 1M vectors
# x 64 dims x 8 B (float64 working set) = 512 MiB per worker block plan
# stays bounded by the internal sub-blocking; the COLLECTED int-list
# matrix at this gate is ~64 MiB.  Past the gate the relational pair
# plan takes over (and at genuinely 100 TB sizes the documented move is
# an LSH/IVF candidate generator, not any all-pairs plan).
_BLAS_MAX_SIDE = 1 << 20


def _qmatrix(df, id_col: str, qv_col: str, *extra_cols: str):
    """Collect (ids, int8-quantized matrix[, extra columns]) as numpy —
    the gated driver-side half of the BLAS scoring path (the bloom
    size-gate precedent, relational.py).  Caller must have applied the
    ``_BLAS_MAX_SIDE`` gate."""
    import numpy as np

    pdf = df.select(id_col, qv_col, *extra_cols).toPandas()
    ids = pdf[id_col].to_numpy(np.int64)
    mat = np.array(pdf[qv_col].tolist(), dtype=np.float64)
    extras = [pdf[c].to_numpy() for c in extra_cols]
    return (ids, mat, *extras)


def _d2_block(X, Y, y2):
    """Exact squared-L2 block: x2 + y2 - 2 X·Yᵀ in float64.  Every
    intermediate is an INTEGER exactly representable in float64 (|dot|
    <= dim · 127² ~ 1e6 per term, partial sums << 2^53), and addition
    of exactly-representable integers is exact regardless of BLAS
    accumulation order — so the matmul path is bit-identical to the
    JVM zip_with fold, just ~50x cheaper per pair."""
    import numpy as np

    x2 = (X * X).sum(axis=1)
    return x2[:, None] + y2[None, :] - 2.0 * (X @ Y.T)


def q_knn_label_agreement(
    spark: SparkSession, sf_dir: str, strategy: str = "auto"
) -> DataFrame:
    """Leave-one-out 1-NN label agreement per label — the
    labeling-quality audit BEFORE anyone trains on the labels: each
    vector's nearest OTHER vector (exact int64 squared L2 over the
    shared int8 quantization, deterministic (d2, vec_id) tie-break)
    either agrees with its label or doesn't; a label whose agreement
    ppm sits far below its peers is mislabeled, fragmented, or
    overlapping (the per-pair view of what class_separation says at
    centroid level).

    Exactness: distances and the argmin are exact integers; the
    nearest neighbor is unique by the (d2, vec_id) struct-min, so the
    agreement bit is engine-exact; shares are wrap-safe two-step
    floors.

    Two physical strategies, pinned row-identical by test:

    - ``"blas"`` (what ``"auto"`` picks under the ``_BLAS_MAX_SIDE``
      gate): the quantized matrix is collected once (gated — the
      bloom size-gate precedent) and broadcast; an Arrow-batched
      ``mapInPandas`` scores each vector block against it with
      float64 matmuls that are exactly integer (see ``_d2_block``),
      sub-blocked so no worker holds more than a ~128 MiB distance
      tile.  The r13 sf1 sweep measured the pair plan at 58x/decade
      (4.1 -> 241 s on the 4x-vector corpus) — the all-pairs JVM fold
      is the one hot loop built-in Columns cannot express at matmul
      speed, exactly the sanctioned Pandas-UDF escape hatch.
    - ``"pairs"``: the original self-crossJoin + struct-min plan (the
      probe side spread for parallel scoring; measured 34 -> ~2 s at
      sf0.1 from the spread alone).  Remains the over-gate fallback.

    At 100 TB compose the SAME scorer with the LSH/IVF candidate
    generators (the semantic_decontaminate_lsh pattern) — the argmin
    and agreement logic are unchanged.  ``auto`` runs one scalar
    count at construction time (the dedup_jaccard auto-probe
    eagerness contract)."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.analytics import (
        _ppm2,
    )

    emb = cached_scan(spark, f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "label", quantize_embedding("embedding").alias("qv")
    )
    if strategy not in ("auto", "blas", "pairs"):
        raise ValueError(f"unknown strategy {strategy!r}")
    if strategy == "auto":
        strategy = "blas" if emb.count() <= _BLAS_MAX_SIDE else "pairs"

    ltype = emb.schema["label"].dataType.simpleString()
    if strategy == "blas":
        import numpy as np

        ids, mat, labels = _qmatrix(emb, "vec_id", "qv", "label")
        y2 = (mat * mat).sum(axis=1)
        bc = spark.sparkContext.broadcast((ids, mat, y2, labels))

        def score(batches):
            import pandas as pd

            b_ids, Y, b_y2, b_labels = bc.value
            lookup = {int(v): i for i, v in enumerate(b_ids)}
            maxi = np.iinfo(np.int64).max
            for pdf in batches:
                if not len(pdf):
                    continue
                X = np.array(pdf["qv"].tolist(), dtype=np.float64)
                xi = pdf["vec_id"].to_numpy(np.int64)
                out_lbl = []
                keep = []
                for lo in range(0, len(X), 512):
                    hi = min(lo + 512, len(X))
                    D = _d2_block(X[lo:hi], Y, b_y2)
                    for r in range(hi - lo):
                        j = lookup.get(int(xi[lo + r]))
                        if j is not None:
                            D[r, j] = np.inf
                    dmin = D.min(axis=1)
                    for r in range(hi - lo):
                        if not np.isfinite(dmin[r]):
                            continue  # n == 1: no OTHER vector exists
                        cand = D[r] == dmin[r]
                        nn_id = np.where(cand, b_ids, maxi).min()
                        out_lbl.append(b_labels[lookup[int(nn_id)]])
                        keep.append(lo + r)
                yield pd.DataFrame({
                    "a_id": xi[keep],
                    "a_label": pdf["label"].to_numpy()[keep],
                    "nn_label": np.array(out_lbl, dtype=object),
                })

        nn = spread_if_narrow(emb).mapInPandas(
            score,
            schema=f"a_id long, a_label {ltype}, nn_label {ltype}",
        )
    else:
        # the probe side carries the n² scoring work; a single-file
        # scan would run it SERIALLY under the broadcast nested-loop
        # join
        a = spread_if_narrow(emb).select(
            F.col("vec_id").alias("a_id"), F.col("label").alias("a_label"),
            F.col("qv").alias("a_qv"),
        )
        b = emb.select(
            F.col("vec_id").alias("b_id"), F.col("label").alias("b_label"),
            F.col("qv").alias("b_qv"),
        )
        d2 = F.aggregate(
            F.zip_with("a_qv", "b_qv", lambda x, y: (x - y).cast("long")
                       * (x - y)),
            F.lit(0).cast("long"), lambda s, x: s + x,
        )
        nn = (
            a.crossJoin(b)
            .filter(F.col("a_id") != F.col("b_id"))
            .select(
                "a_id", "a_label",
                F.struct(
                    d2.alias("d2"), F.col("b_id").alias("nn_id"),
                    F.col("b_label").alias("nn_label"),
                ).alias("cand"),
            )
            .groupBy("a_id", "a_label")
            .agg(F.min("cand").alias("nn"))
            .select("a_id", "a_label", F.col("nn.nn_label").alias("nn_label"))
        )
    agg = nn.groupBy("a_label").agg(
        F.count("*").alias("n_vectors"),
        F.sum(
            F.when(F.col("nn_label") == F.col("a_label"), 1).otherwise(0)
        ).alias("n_agree"),
    )
    return agg.select(
        F.col("a_label").alias("label"),
        F.col("n_vectors").cast("long").alias("n_vectors"),
        F.col("n_agree").cast("long").alias("n_agree"),
        F.expr(_ppm2("n_agree", "n_vectors")).cast("long")
        .alias("agreement_ppm"),
    )


def _bitext_margin_blas(
    spark: SparkSession, xdf: DataFrame, ydf: DataFrame, K: int
) -> DataFrame:
    """BLAS half of the margin miner: per-x best-margin candidates
    (x_id, y_id, y_lang, d2, margin2k), row-identical to the
    relational plan.  Pass 1 scores non-en blocks against the
    broadcast en matrix for sy; pass 2 scores en blocks against the
    broadcast non-en matrix + the collected sy vector (gated |Y|
    longs — the bloom size-gate class) and emits each x's argmax
    directly.  All margins are exactly-integer float64
    (|margin2k| <= 2K · dim · 254² ~ 3.3e7 « 2^53)."""
    import numpy as np

    best_schema = (
        "x_id long, y_id long, y_lang string, d2 long, margin2k long"
    )
    x_ids, X = _qmatrix(xdf, "x_id", "qv")
    y_ids, Y, y_langs = _qmatrix(ydf, "y_id", "qv", "y_lang")
    if len(x_ids) < K or len(y_ids) < K:
        # the relational plan's cx == K / cy == K filters drop every
        # row when either side cannot field K counterparts
        return spark.createDataFrame([], best_schema)
    x2 = (X * X).sum(axis=1)
    y2 = (Y * Y).sum(axis=1)

    bc_x = spark.sparkContext.broadcast((X, x2))

    def score_y(batches):
        import pandas as pd

        bX, bx2 = bc_x.value
        for pdf in batches:
            if not len(pdf):
                continue
            out_sy = []
            ids = pdf["y_id"].to_numpy(np.int64)
            Yb = np.array(pdf["qv"].tolist(), dtype=np.float64)
            for lo in range(0, len(Yb), 512):
                D = _d2_block(Yb[lo:lo + 512], bX, bx2)
                out_sy.append(
                    np.partition(D, K - 1, axis=1)[:, :K].sum(axis=1)
                )
            yield pd.DataFrame({
                "y_id": ids,
                "sy": np.concatenate(out_sy).astype(np.int64),
            })

    sy_pdf = (
        spread_if_narrow(ydf)
        .mapInPandas(score_y, schema="y_id long, sy long")
        .toPandas()
    )
    sy_map = dict(zip(sy_pdf["y_id"], sy_pdf["sy"]))
    sy_vec = np.array([sy_map[i] for i in y_ids], dtype=np.float64)

    bc_y = spark.sparkContext.broadcast((Y, y2, y_ids, y_langs, sy_vec))

    def score_x(batches):
        import pandas as pd

        bY, by2, b_yids, b_ylangs, b_sy = bc_y.value
        maxi = np.iinfo(np.int64).max
        lookup = {int(v): i for i, v in enumerate(b_yids)}
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["x_id"].to_numpy(np.int64)
            Xb = np.array(pdf["qv"].tolist(), dtype=np.float64)
            rows = {"x_id": [], "y_id": [], "y_lang": [], "d2": [],
                    "margin2k": []}
            for lo in range(0, len(Xb), 512):
                hi = min(lo + 512, len(Xb))
                D = _d2_block(Xb[lo:hi], bY, by2)
                sx = np.partition(D, K - 1, axis=1)[:, :K].sum(axis=1)
                M = sx[:, None] + b_sy[None, :] - (2 * K) * D
                mbest = M.max(axis=1)
                for r in range(hi - lo):
                    yid = int(
                        np.where(M[r] == mbest[r], b_yids, maxi).min()
                    )
                    j = lookup[yid]
                    rows["x_id"].append(int(ids[lo + r]))
                    rows["y_id"].append(yid)
                    rows["y_lang"].append(b_ylangs[j])
                    rows["d2"].append(int(D[r, j]))
                    rows["margin2k"].append(int(M[r, j]))
            yield pd.DataFrame(rows)

    return spread_if_narrow(xdf).mapInPandas(score_x, schema=best_schema)


def q_bitext_margin_mining(
    spark: SparkSession, sf_dir: str, strategy: str = "auto"
) -> DataFrame:
    """Margin-based parallel-pair mining (Artetxe & Schwenk 2019,
    "Margin-based Parallel Corpus Mining", DIFFERENCE-margin variant)
    between the English documents and every non-English document, over
    the shared int8 embedding quantization: a pair (x, y) is a mining
    hit not when it is merely CLOSE but when it is closer than each
    side's typical neighborhood — the margin correction that killed
    the hubness false positives raw cosine mining suffers from.

    Exact-integer contract: with k = 4, for each en vector x let sx =
    sum of its k smallest squared-L2 distances into the non-en side
    (ties broken by counterpart id), sy likewise for each non-en y
    into the en side; the difference margin scaled by 2k is

        margin2k(x, y) = sx + sy - 2k * d2(x, y)

    — every term an int64 (max d2 = 64 * 254^2 ~ 4.1e6, so |margin2k|
    <= 3.3e7, far inside the long domain), so the hashed surface
    (pair_rank, ids, d2, margin2k) is engine-exact.  Sides with fewer
    than k counterparts are excluded (never happens on the real
    corpus; keeps tiny hand cases well-defined).

    Two physical strategies, pinned row-identical by test:

    - ``"blas"`` (what ``"auto"`` picks when both sides sit under the
      ``_BLAS_MAX_SIDE`` gate): two Arrow-batched ``mapInPandas``
      passes with the opposite side's quantized matrix broadcast —
      pass 1 scores each non-en block against the en matrix for its
      top-k sum sy; pass 2 scores each en block against the non-en
      matrix for sx, adds the (gated, |Y| longs) collected sy vector,
      and emits each x's best-margin pair directly.  All distances
      are exactly-integer float64 matmuls (``_d2_block``); the sf1
      sweep measured the relational pair plan at 11.9x/decade (13 ->
      155 s on the 4x-vector corpus), the same all-pairs hot loop as
      knn_label_agreement's 58x — the sanctioned Pandas-UDF escape.
    - ``"relational"``: ONE skinny n_en x n_other pair relation
      (x_id, y_id, y_lang, d2) — the cross join AQE broadcasts, probe
      side spread — lazily checkpointed because THREE consumers reuse
      it: the per-x top-k sum, the per-y top-k sum, and the final
      scoring join.  Over-gate fallback and the cross-check
      reference.

    At 100 TB the pair generator swaps for the LSH/IVF candidate path
    (semantic_decontaminate_lsh) with sx/sy from the candidate set —
    margin algebra unchanged.  ``auto`` runs one two-row scalar agg at
    construction (the dedup_jaccard auto-probe eagerness contract).
    Reference anchor: Main.py has no cross-lingual surface at all;
    this is part of the mandated training-data-pipeline extension
    (SURVEY.md §6)."""
    K = 4
    docs = cached_scan(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang"
    )
    emb = cached_scan(spark, f"{sf_dir}/embeddings.parquet").select(
        "vec_id", quantize_embedding("embedding").alias("qv")
    )
    tagged = emb.join(docs, emb["vec_id"] == docs["doc_id"]).select(
        "vec_id", "lang", "qv"
    )
    xdf = tagged.filter(F.col("lang") == "en").select(
        F.col("vec_id").alias("x_id"), "qv"
    )
    ydf = tagged.filter(F.col("lang") != "en").select(
        F.col("vec_id").alias("y_id"), F.col("lang").alias("y_lang"), "qv"
    )
    if strategy not in ("auto", "blas", "relational"):
        raise ValueError(f"unknown strategy {strategy!r}")
    if strategy == "auto":
        sides = dict(
            tagged.groupBy((F.col("lang") == "en").alias("is_en"))
            .count().collect()
        )
        strategy = (
            "blas"
            if max(sides.get(True, 0), sides.get(False, 0))
            <= _BLAS_MAX_SIDE
            else "relational"
        )
    if strategy == "blas":
        best = _bitext_margin_blas(spark, xdf, ydf, K)
    else:
        x = spread_if_narrow(xdf).select(
            "x_id", F.col("qv").alias("x_qv")
        )
        y = ydf.select("y_id", "y_lang", F.col("qv").alias("y_qv"))
        d2 = F.aggregate(
            F.zip_with(
                "x_qv", "y_qv", lambda a, b: (a - b).cast("long") * (a - b)
            ),
            F.lit(0).cast("long"),
            lambda s, v: s + v,
        )
        pairs = (
            x.crossJoin(y)
            .select("x_id", "y_id", "y_lang", d2.alias("d2"))
            .localCheckpoint(eager=False)
        )
        wx = W.partitionBy("x_id").orderBy("d2", "y_id")
        sx = (
            pairs.withColumn("rn", F.row_number().over(wx))
            .filter(F.col("rn") <= K)
            .groupBy("x_id")
            .agg(F.sum("d2").alias("sx"), F.count("*").alias("cx"))
            .filter(F.col("cx") == K)
            .drop("cx")
        )
        wy = W.partitionBy("y_id").orderBy("d2", "x_id")
        sy = (
            pairs.withColumn("rn", F.row_number().over(wy))
            .filter(F.col("rn") <= K)
            .groupBy("y_id")
            .agg(F.sum("d2").alias("sy"), F.count("*").alias("cy"))
            .filter(F.col("cy") == K)
            .drop("cy")
        )
        scored = (
            pairs.join(sx, "x_id")
            .join(sy, "y_id")
            .select(
                "x_id", "y_id", "y_lang", "d2",
                (F.col("sx") + F.col("sy") - F.lit(2 * K) * F.col("d2"))
                .alias("margin2k"),
            )
        )
        wbest = W.partitionBy("x_id").orderBy(
            F.col("margin2k").desc(), "y_id"
        )
        best = (
            scored.withColumn("rn", F.row_number().over(wbest))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
    top = best.orderBy(F.col("margin2k").desc(), "x_id").limit(20)
    wr = W.orderBy(F.col("margin2k").desc(), "x_id")
    return top.select(
        F.row_number().over(wr).cast("long").alias("pair_rank"),
        F.col("x_id").cast("long").alias("x_id"),
        F.col("y_id").cast("long").alias("y_id"),
        "y_lang",
        F.col("d2").cast("long").alias("d2"),
        F.col("margin2k").cast("long").alias("margin2k"),
    )
