"""Similarity-search semantics: exactness of brute force, recall of the
LSH path, self-similarity sanity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from project_market_pulse_etl_pipeline_with_llm_integration_spark.functions.columns import (
    cosine_similarity,
)
from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators import similarity
from tests.conftest import SF_SMALL


def test_cosine_identity_and_orthogonal(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [1.0, 0.0]), ([1.0, 0.0], [0.0, 1.0]), ([1.0, 1.0], [1.0, 1.0])],
        "a array<double>, b array<double>",
    )
    vals = [r.c for r in df.select(F.round(cosine_similarity(F.col("a"), F.col("b")), 6).alias("c")).collect()]
    assert vals == [1.0, 0.0, 1.0]


def test_bruteforce_topk_shape(spark):
    out = similarity.q_ann_bruteforce(spark, SF_SMALL)
    rows = out.collect()
    assert len(rows) == 30  # 3 queries x k=10
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        sims = [r.cos_sim for r in sorted(rs, key=lambda r: r.sim_rank)]
        assert sims == sorted(sims, reverse=True)
        assert all(r.vec_id != q for r in rs)


def test_lsh_results_subset_of_bucket_and_ranked(spark):
    rows = similarity.q_ann_lsh(spark, SF_SMALL).collect()
    assert rows, "LSH should return candidates on sf0.001"
    assert all(r.sim_rank <= 10 for r in rows)


def test_lsh_recall_at_10(spark):
    """With 4 hyperplanes the top-1 true neighbor should usually share
    the query's bucket; require recall@10 >= 0.3 overall (the synthetic
    embeddings are near-orthogonal, so this is a plumbing check, not a
    quality bar)."""
    bf = similarity.q_ann_bruteforce(spark, SF_SMALL).collect()
    lsh = similarity.q_ann_lsh(spark, SF_SMALL).collect()
    bf_set = {(r.query_id, r.vec_id) for r in bf}
    lsh_set = {(r.query_id, r.vec_id) for r in lsh}
    assert len(lsh_set & bf_set) / len(bf_set) >= 0.3


def test_near_dup_pairs_symmetric_free(spark):
    rows = similarity.q_embedding_near_dup(spark, SF_SMALL).collect()
    assert all(r.id_a < r.id_b for r in rows)


def test_ivf_recall_vs_bruteforce(spark):
    """IVF with nprobe=6/16 must recover a solid fraction of the true
    top-10 on the synthetic embeddings, and obey the output contract
    (<= k ranked results per query, self excluded)."""
    bf = similarity.q_ann_bruteforce(spark, SF_SMALL).collect()
    ivf = similarity.q_ann_ivf(spark, SF_SMALL).collect()
    assert all(r.sim_rank <= 10 and r.vec_id != r.query_id for r in ivf)
    bf_set = {(r.query_id, r.vec_id) for r in bf}
    ivf_set = {(r.query_id, r.vec_id) for r in ivf}
    assert len(ivf_set & bf_set) / len(bf_set) >= 0.3


def test_ivf_train_centroids_unit_norm(spark):
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    cents = similarity.ivf_train(emb, n_centroids=4, iters=2)
    assert len(cents) == 4
    for c in cents:
        norm = sum(x * x for x in c) ** 0.5
        assert abs(norm - 1.0) < 1e-6


def test_quantize_roundtrip_error_bound(spark):
    """int8 round-trip error is bounded by half a quantization step
    (clip/254) per component, and self-cosine stays ~1."""
    rows = similarity.q_embedding_quantize(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert r.max_err_1e6 <= int(1e6 / 254) + 1
        assert r.self_cos_1e4 >= 9990


def test_ann_recall_contract(spark):
    """The driver-visible recall surface: both approximate retrievers
    must clear the 0.4 recall@10 bar against brute force."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.similarity import q_ann_recall
    from tests.conftest import SF_SMALL

    rows = {r.method: r for r in q_ann_recall(spark, SF_SMALL).collect()}
    assert set(rows) == {"lsh", "ivf"}
    for r in rows.values():
        assert r.recall_ok, r
        assert (r.n_queries, r.k) == (3, 10)


def test_hybrid_rrf_rewards_cross_modal_agreement(spark):
    """A doc ranked by BOTH retrievers must outscore a doc holding a
    similar rank in only one modality, and the output is the fused
    top-20 with deterministic (score, id) order."""
    from tests.conftest import SF_SMALL

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.similarity import (
        q_hybrid_rrf,
    )

    rows = q_hybrid_rrf(spark, SF_SMALL).collect()
    assert 0 < len(rows) <= 20
    scores = [(r["rrf_1e6"], r["doc_id"]) for r in rows]
    assert scores == sorted(scores, key=lambda t: (-t[0], t[1]))
    # max possible single-modality score is 1/(60+1): any doc above that
    # bar was necessarily found by both retrievers, and cross-modal
    # agreement must therefore sit at the very top of the fused list
    single_cap = int(1.0 / 61 * 1e6)
    both = [s for s, _ in scores if s > single_cap]
    if both:
        assert scores[0][0] == max(both)


def test_jl_projection_exact_and_distance_preserving(spark):
    """The sign projection matches a numpy recompute bit-for-bit
    (exact integer contract), and distances concentrate: the median
    pair ratio d16/(k*d64) lands within 2x of 1 (JL lemma, k=16)."""
    import hashlib

    import numpy as np

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.similarity import (
        JL_SEED,
        jl_sign_matrix,
        q_jl_distortion,
        q_jl_projection,
    )

    signs = jl_sign_matrix()
    assert len(signs) == 16 and all(len(r) == 64 for r in signs)
    # seeded construction is pure: first entry recomputed by hand
    h = int(hashlib.md5(f"{JL_SEED}:0:0".encode()).hexdigest()[:8], 16)
    assert signs[0][0] == (1 if h % 2 == 0 else -1)

    sf = "/root/testdata/sf0.001"
    emb = {r.vec_id: np.array(r.embedding, dtype=np.float64)
           for r in spark.read.parquet(f"{sf}/embeddings.parquet")
           .limit(20).collect()}
    got = {r.vec_id: r for r in q_jl_projection(spark, sf).collect()}
    S = np.array(signs, dtype=np.int64)
    for vid, v in emb.items():
        x = np.clip(v, -1.0, 1.0) * 127.0
        # HALF_UP (away from zero), matching Spark/DuckDB round()
        q = (np.sign(x) * np.floor(np.abs(x) + 0.5)).astype(np.int64)
        y = S @ q
        assert ",".join(str(int(v)) for v in y) == got[vid].proj_csv
        assert int(y @ y) == got[vid].norm2

    ratios = [r.ratio_ppm for r in q_jl_distortion(spark, sf).collect()]
    assert len(ratios) > 50
    med = sorted(ratios)[len(ratios) // 2]
    assert 500_000 <= med <= 2_000_000


def test_ann_quantized_contract(spark):
    """Per-query dense ranks, self excluded, and Cauchy-Schwarz on the
    exact integer dot/norms (dot^2 <= na*nb)."""
    from collections import defaultdict

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators import (
        similarity as S,
    )
    from tests.conftest import SF_SMALL

    rows = S.q_ann_quantized(spark, SF_SMALL).collect()
    per_q = defaultdict(list)
    for r in rows:
        assert r.vec_id != r.query_id
        assert r.dot * r.dot <= r.na * r.nb
        per_q[r.query_id].append(r.q_rank)
    assert len(per_q) == 3
    for ranks in per_q.values():
        assert sorted(ranks) == list(range(1, 11))


def test_embedding_drift_partition_laws(spark):
    """Cell counts partition both slices exactly; shares recompute;
    identical slices would show zero shift (pinned by comparing the
    A-slice against itself through the same bucketing)."""
    import pyspark.sql.functions as F

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators import (
        similarity as S,
    )
    from tests.conftest import SF_SMALL

    rows = S.q_embedding_drift(spark, SF_SMALL).collect()
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    n_a = emb.filter(F.col("label") == 0).count()
    n_b = emb.count() - n_a
    assert sum(r.n_a for r in rows) == n_a
    assert sum(r.n_b for r in rows) == n_b
    t_a, t_b = n_a, n_b
    for r in rows:
        assert 0 <= r.cell < 256
        assert r.share_a_ppm == (1_000_000 * r.n_a) // t_a
        assert r.abs_shift_ppm == abs(r.share_a_ppm - r.share_b_ppm)


def test_semantic_decontaminate_planted_copy(spark):
    """A corpus vector identical to a benchmark vector must be flagged
    (cos ~1.0); a benchmark-orthogonal vector must not; hit counts are
    exact."""
    from pyspark.sql import functions as F

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.similarity import (
        semantic_decontaminate,
    )

    bench = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.0]), (101, [0.0, 1.0, 0.0, 0.0])],
        ["vec_id", "embedding"],
    )
    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),   # exact copy of bench 100
            (2, [0.9, 0.1, 0.0, 0.0]),   # near bench 100
            (3, [0.0, 0.0, 0.0, 1.0]),   # orthogonal to both
        ],
        ["vec_id", "embedding"],
    )
    rows = {
        r.vec_id: r
        for r in semantic_decontaminate(corpus, bench, threshold=0.9).collect()
    }
    assert rows[1].contaminated and rows[1].max_benchmark_cos == 1.0
    assert rows[1].n_benchmark_hits == 1
    assert rows[2].contaminated  # cos(0.9,0.1 ; 1,0) ~ 0.994
    assert not rows[3].contaminated and rows[3].n_benchmark_hits == 0


def test_semantic_decontaminate_empty_benchmark_and_zero_norms(spark):
    """Per-doc verdict posture (advice r6): an EMPTY benchmark returns
    one row per corpus doc with contaminated=false (not an empty
    frame); zero-norm vectors yield NULL cosine (never NaN/inf) and are
    not counted as hits."""
    from pyspark.sql import functions as F  # noqa: F401

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.similarity import (
        semantic_decontaminate,
    )

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0])], ["vec_id", "embedding"]
    )
    empty_bench = spark.createDataFrame([], "vec_id long, embedding array<double>")
    rows = {r.vec_id: r for r in semantic_decontaminate(corpus, empty_bench).collect()}
    assert set(rows) == {1, 2}
    for r in rows.values():
        assert not r.contaminated
        assert r.n_benchmark_hits == 0
        assert r.max_benchmark_cos is None

    # zero-norm on either side -> NULL cosine, ignored by max / hits
    bench = spark.createDataFrame(
        [(100, [1.0, 0.0]), (101, [0.0, 0.0])], ["vec_id", "embedding"]
    )
    rows = {
        r.vec_id: r
        for r in semantic_decontaminate(corpus, bench, threshold=0.5).collect()
    }
    assert rows[1].contaminated and rows[1].max_benchmark_cos == 1.0
    assert rows[1].n_benchmark_hits == 1  # the zero-norm bench pair is NULL
    assert not rows[2].contaminated and rows[2].max_benchmark_cos is None
    import math
    for r in rows.values():
        if r.max_benchmark_cos is not None:
            assert math.isfinite(r.max_benchmark_cos)


def test_semantic_decontaminate_lsh_escalation(spark):
    """The documented LSH-prune escalation (similarity.py): with
    n_planes=0 every pair survives and the output is EQUAL to the exact
    path; with real plane counts the verdicts are exact-on-survivors
    lower bounds and a planted exact copy (same bucket by construction)
    is always caught."""
    from pyspark.sql import functions as F  # noqa: F401

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.similarity import (
        semantic_decontaminate,
        semantic_decontaminate_lsh,
    )

    dim = 8
    def vec(seed):
        return [(((seed * 37 + i * 11) % 19) - 9) / 9.0 for i in range(dim)]

    bench = spark.createDataFrame(
        [(100 + j, vec(j)) for j in range(6)], ["vec_id", "embedding"]
    )
    corpus = spark.createDataFrame(
        [(i, vec(i * 3 + 1)) for i in range(1, 20)] + [(50, vec(2))],
        ["vec_id", "embedding"],
    )  # vec_id 50 is an exact copy of bench 102

    exact = {
        r.vec_id: r
        for r in semantic_decontaminate(corpus, bench, threshold=0.6).collect()
    }

    # n_planes=0: single bucket, zero pruning -> pinned EQUAL output
    full = {
        r.vec_id: r
        for r in semantic_decontaminate_lsh(
            corpus, bench, threshold=0.6, dim=dim, n_planes=0
        ).collect()
    }
    assert set(full) == set(exact)
    for vid, e in exact.items():
        f = full[vid]
        assert f.max_benchmark_cos == e.max_benchmark_cos
        assert f.n_benchmark_hits == e.n_benchmark_hits
        assert f.contaminated == e.contaminated

    # real plane count: exact-on-survivors lower bound + planted recall
    pruned = {
        r.vec_id: r
        for r in semantic_decontaminate_lsh(
            corpus, bench, threshold=0.6, dim=dim, n_planes=4, multi_probe=1
        ).collect()
    }
    assert set(pruned) == set(exact)  # every corpus row keeps a verdict
    for vid, p in pruned.items():
        e = exact[vid]
        assert p.n_benchmark_hits <= e.n_benchmark_hits
        if p.max_benchmark_cos is not None:
            # any surviving pair was scored by the SAME exact scorer
            assert p.max_benchmark_cos <= e.max_benchmark_cos
        if p.contaminated:
            assert e.contaminated
    # identical vectors share every sign bit -> same bucket -> caught
    assert pruned[50].contaminated and pruned[50].max_benchmark_cos == 1.0

    # multi_probe is a true Hamming RADIUS (advice r7): deeper probing
    # monotonically widens the candidate set, and radius n_planes
    # probes every bucket -> zero pruning -> equal to the exact path.
    def n_scored(mp):
        return sum(
            r.max_benchmark_cos is not None
            for r in semantic_decontaminate_lsh(
                corpus, bench, threshold=0.6, dim=dim, n_planes=4,
                multi_probe=mp,
            ).collect()
        )

    counts = [n_scored(mp) for mp in (0, 1, 2, 4)]
    assert counts == sorted(counts), counts
    everything = {
        r.vec_id: r
        for r in semantic_decontaminate_lsh(
            corpus, bench, threshold=0.6, dim=dim, n_planes=4, multi_probe=4
        ).collect()
    }
    for vid, e in exact.items():
        v = everything[vid]
        assert v.max_benchmark_cos == e.max_benchmark_cos
        assert v.n_benchmark_hits == e.n_benchmark_hits


def test_hard_negative_mining_contract(spark):
    """Negatives never share the anchor's label, ranks are dense 1..k,
    Cauchy-Schwarz holds on the exact integer arithmetic, and the
    top-1 negative beats any other different-label vector on the
    cosine ordering (verified against a python recompute)."""
    import math
    from collections import defaultdict

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.similarity import (
        hard_negative_mining,
    )

    dim = 8

    def vec(seed):
        return [(((seed * 31 + i * 7) % 17) - 8) / 8.0 for i in range(dim)]

    rows = [(i, vec(i), i % 3) for i in range(30)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    anchors = emb.filter("vec_id < 3")
    out = hard_negative_mining(emb, anchors, top_k=4).collect()

    labels = {i: lb for i, _, lb in rows}
    per_anchor = defaultdict(list)
    for r in out:
        assert r.negative_label != labels[r.anchor_id]
        assert r.dot * r.dot <= r.na * r.nb
        per_anchor[r.anchor_id].append((r.neg_rank, r.negative_id))
    assert set(per_anchor) == {0, 1, 2}
    for aid, pairs in per_anchor.items():
        assert sorted(rk for rk, _ in pairs) == [1, 2, 3, 4]

    # python recompute of the best negative for anchor 0 (HALF_UP
    # away-from-zero rounding, matching Spark/DuckDB round())
    def q(v):
        return [
            int(math.copysign(math.floor(abs(max(min(x, 1.0), -1.0) * 127.0) + 0.5), x))
            for x in v
        ]

    a = q(vec(0))
    best = max(
        (r for r in rows if r[2] != labels[0]),
        key=lambda r: (
            sum(x * y for x, y in zip(a, q(r[1])))
            / (math.sqrt(sum(x * x for x in a))
               * math.sqrt(sum(y * y for y in q(r[1])))),
            -r[0],
        ),
    )
    got_top1 = next(nid for rk, nid in per_anchor[0] if rk == 1)
    assert got_top1 == best[0]


def test_kcenter_coreset_known_layout(spark):
    """Four well-separated 2-D-ish points (padded to dim 4): greedy
    farthest-point from the smallest id must pick the far corner
    first, d2_prior must be exactly the int8-quantized squared L2, and
    coverage_d2 is the final max-min distance."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.similarity import (
        kcenter_coreset,
    )

    # quantized values: 1.0 -> 127, 0.5 -> 64, 0.0 -> 0
    emb = spark.createDataFrame(
        [
            (1, [0.0, 0.0, 0.0, 0.0]),
            (2, [1.0, 1.0, 0.0, 0.0]),   # d2 to p1 = 2*127^2 = 32258
            (3, [0.0, 1.0, 0.0, 0.0]),   # d2 to p1 = 16129
            (4, [0.5, 0.0, 0.0, 0.0]),   # d2 to p1 = 64^2 = 4096
        ],
        ["vec_id", "embedding"],
    )
    rows = {r.sel_round: r for r in kcenter_coreset(emb, k=3).collect()}
    assert rows[1].center_id == 1 and rows[1].d2_prior == 0
    assert rows[2].center_id == 2 and rows[2].d2_prior == 2 * 127 * 127
    # after {1,2}: p3 min(16129, 16129)=16129; p4 min(4096, 63^2+127^2)=4096
    assert rows[3].center_id == 3 and rows[3].d2_prior == 127 * 127
    # coverage: p4's min over {1,2,3} = 4096
    assert rows[1].coverage_d2 == 4096
    assert all(r.coverage_d2 == 4096 for r in rows.values())


def test_kcenter_coreset_k_validation(spark):
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.similarity import (
        kcenter_coreset,
    )
    import pytest as _pytest

    emb = spark.createDataFrame([(1, [0.0])], ["vec_id", "embedding"])
    with _pytest.raises(ValueError):
        kcenter_coreset(emb, k=1)


def test_lsh_topk_multi_probe_radius_monotone(spark):
    """lsh_topk's multi_probe is a true Hamming radius (the round-7
    advice contract extended to the ANN path): deeper probing never
    loses a neighbor already found, and at radius n_planes the probe
    set covers every bucket, so the top-1 matches brute force."""
    import math

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.similarity import (
        brute_force_topk,
        lsh_topk,
    )

    dim = 8
    vecs = [
        (i, [math.cos(0.37 * i * (d + 1)) for d in range(dim)])
        for i in range(40)
    ]
    items = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    queries = spark.createDataFrame(
        [(v[0], v[1]) for v in vecs[:2]], ["query_id", "query_vec"]
    )
    top1 = {}
    for mp in (0, 1, 2):
        rows = lsh_topk(
            items, queries, k=3, dim=dim, n_planes=4, multi_probe=mp
        ).collect()
        by_q = {}
        for r in rows:
            by_q.setdefault(r.query_id, []).append(r)
        for q, rs in by_q.items():
            best = max(r.cos_sim for r in rs)
            assert best >= top1.get(q, (-2.0,))[0] - 1e-12
            top1[q] = (best,)
    full = lsh_topk(items, queries, k=1, dim=dim, n_planes=4, multi_probe=4)
    brute = brute_force_topk(items, queries, k=1)
    got = {r.query_id: r.vec_id for r in full.filter("sim_rank = 1").collect()}
    want = {r.query_id: r.vec_id for r in brute.filter("sim_rank = 1").collect()}
    assert got == want


def test_kmeans_hand_layout(spark):
    """Two separable blobs, k=2: assignment, +127-shifted floor means,
    and inertia all hand-checked."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.similarity import (
        kmeans_topics,
    )

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),    # qv 127
            (1, [-1.0, 0.0]),   # qv -127
            (2, [0.99, 0.0]),   # qv 126
            (3, [-0.99, 0.0]),  # qv -126
        ],
        ["vec_id", "embedding"],
    )
    out = {r["cluster_id"]: r for r in kmeans_topics(emb, k=2, rounds=2).collect()}
    assert set(out) == {0, 1}
    # floor means: (127+126) -> 126;  (-127-126) -> floor(-253/2) = -127
    assert out[0]["centroid_csv"] == "126,0"
    assert out[1]["centroid_csv"] == "-127,0"
    assert out[0]["n_points"] == 2 and out[1]["n_points"] == 2
    assert out[0]["inertia"] == 1  # (127-126)^2 + (126-126)^2
    assert out[1]["inertia"] == 1  # (-127+127)^2 + (-126+127)^2


def test_kmeans_empty_cluster_carries_centroid(spark):
    """Duplicate seed points: the losing center keeps its centroid and
    reports n_points = 0 (ties argmin to the smaller cluster id)."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.similarity import (
        kmeans_topics,
    )

    emb = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [0.0, 0.0]), (2, [1.0, 1.0])],
        ["vec_id", "embedding"],
    )
    out = {r["cluster_id"]: r for r in kmeans_topics(emb, k=3, rounds=2).collect()}
    assert out[0]["n_points"] == 2 and out[0]["inertia"] == 0
    assert out[1]["n_points"] == 0 and out[1]["inertia"] == 0
    assert out[1]["centroid_csv"] == "0,0"  # carried, not dropped
    assert out[2]["n_points"] == 1 and out[2]["centroid_csv"] == "127,127"


def test_pq_encode_self_codebook_zero_error(spark):
    """k = n distinct vectors: every point is its own codeword after
    the update round, so recon_d2 = 0 and vec i codes to i in every
    subspace."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.similarity import (
        pq_encode,
    )

    vecs = [
        (0, [0.5] * 64),
        (1, [-0.5] * 64),
        (2, [1.0] * 32 + [-1.0] * 32),
    ]
    emb = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    out = {r["vec_id"]: r for r in pq_encode(emb, m=8, k=3, rounds=1).collect()}
    for i in range(3):
        assert out[i]["recon_d2"] == 0
        assert out[i]["code_csv"] == ",".join([str(i)] * 8)


def test_pq_encode_corpus_laws(spark):
    from conftest import SF_SMALL

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.similarity import (
        pq_encode,
    )

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    rows = pq_encode(emb, m=8, k=4, rounds=1).collect()
    assert len(rows) == emb.count()
    for r in rows:
        codes = [int(c) for c in r["code_csv"].split(",")]
        assert len(codes) == 8 and all(0 <= c < 4 for c in codes)
        assert r["recon_d2"] >= 0


def test_pq_adc_exact_when_codebook_is_corpus(spark):
    """k = n distinct vectors and 1 round -> codes reconstruct exactly,
    so ADC distances equal the true int8 squared distances and the ADC
    ranking equals brute force."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.similarity import (
        pq_adc_topk,
    )

    vecs = [
        (0, [0.5] * 64),
        (1, [-0.5] * 64),
        (2, [1.0] * 32 + [-1.0] * 32),
        (3, [0.25] * 64),
    ]
    emb = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    out = pq_adc_topk(emb, n_queries=2, topk=3, m=8, k=4, rounds=1).collect()
    q = {i: [round(max(min(x, 1.0), -1.0) * 127) for x in v] for i, v in vecs}

    def d2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    got = {(r["query_id"], r["vec_id"]): (r["adc_d2"], r["adc_rank"]) for r in out}
    for qid in (0, 1):
        exact = sorted(
            (d2(q[qid], q[v]), v) for v in q if v != qid
        )
        for rank, (dd, v) in enumerate(exact, start=1):
            assert got[(qid, v)] == (dd, rank)


def test_pq_adc_corpus_laws(spark):
    from conftest import SF_SMALL

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.similarity import (
        pq_adc_topk,
    )

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    rows = pq_adc_topk(emb).collect()
    per_q: dict = {}
    for r in rows:
        assert r["query_id"] != r["vec_id"]
        per_q.setdefault(r["query_id"], []).append((r["adc_rank"], r["adc_d2"]))
    assert len(per_q) == 3
    for ranks in per_q.values():
        ranks.sort()
        assert [r for r, _ in ranks] == list(range(1, 11))
        dists = [d for _, d in ranks]
        assert dists == sorted(dists)  # rank order == distance order


def test_pq_adc_triangle_band(spark):
    """ADC error guarantee: for L2 norms, |d(q,x) - d(q,c(x))| <=
    d(x,c(x)), i.e. the true distance lies in [ |sqrt(adc)-sqrt(recon)|,
    sqrt(adc)+sqrt(recon) ] — the bound recon_d2 exists to provide."""
    import math

    from conftest import SF_SMALL

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.similarity import (
        pq_adc_topk,
        pq_encode,
        quantize_embedding,
    )
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    adc = {(r["query_id"], r["vec_id"]): r["adc_d2"]
           for r in pq_adc_topk(emb).collect()}
    recon = {r["vec_id"]: r["recon_d2"]
             for r in pq_encode(emb, m=8, k=4, rounds=1).collect()}
    qv = {r["vec_id"]: r["q"] for r in emb.select(
        "vec_id", quantize_embedding(F.col("embedding")).alias("q")).collect()}
    for (qid, vid), a in adc.items():
        true = sum((x - y) ** 2 for x, y in zip(qv[qid], qv[vid]))
        lo = max(math.sqrt(a) - math.sqrt(recon[vid]), 0.0) ** 2
        hi = (math.sqrt(a) + math.sqrt(recon[vid])) ** 2
        assert lo - 1e-6 <= true <= hi + 1e-6, (qid, vid, a, recon[vid], true)


def test_mmr_rerank_matches_python_greedy_replay(spark):
    """Engine MMR == a pure-Python replay of λ=1/2 greedy MMR over the
    same int8 quantization: identical pick order, relevance and
    diversity distances.  The corpus is built so diversity matters: a
    tight near-duplicate cluster around the query and one far outlier —
    pure top-k would take the whole cluster, MMR must interleave."""
    vecs = {
        0: [0.0, 0.0, 0.0, 0.0],     # query (smallest id)
        1: [0.1, 0.0, 0.0, 0.0],
        2: [0.1, 0.02, 0.0, 0.0],    # near-dup of 1
        3: [0.12, 0.0, 0.02, 0.0],   # near-dup of 1
        4: [0.9, 0.9, 0.9, 0.9],     # far outlier
        5: [-0.8, 0.7, -0.6, 0.5],   # another direction
    }
    emb = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<double>"
    )
    out = {
        r.sel_round: (r.vec_id, r.rel_d2, r.div_d2)
        for r in similarity.mmr_rerank(emb, k=4, n_candidates=5).collect()
    }

    def qz(v):
        return [round(max(min(x, 1.0), -1.0) * 127.0) for x in v]

    def d2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    q = qz(vecs[0])
    cand = {i: qz(v) for i, v in vecs.items() if i != 0}
    dq = {i: d2(v, q) for i, v in cand.items()}
    mind = {i: 1 << 40 for i in cand}
    want = {}
    for r in range(1, 5):
        pick = max(cand, key=lambda i: (mind[i] - dq[i], -i))
        want[r] = (pick, dq[pick], 0 if r == 1 else mind[pick])
        pv = cand.pop(pick)
        mind.pop(pick)
        for i, v in cand.items():
            mind[i] = min(mind[i], d2(v, pv))
    assert out == want
    # diversity actually reordered the page: pure relevance order is
    # 1, 2, 3, 5 (the near-dup cluster first), but MMR promotes the
    # far direction 5 to round 2 ahead of the cluster's near-dups
    assert sorted(dq, key=dq.__getitem__)[:3] == [1, 2, 3]
    assert out[1][0] == 1 and out[2][0] == 5


def test_mmr_rerank_guards(spark):
    import pytest as _pytest

    emb = spark.createDataFrame(
        [(0, [0.0]), (1, [1.0])], "vec_id long, embedding array<double>"
    )
    with _pytest.raises(ValueError):
        similarity.mmr_rerank(emb, k=3, n_candidates=2)


def test_embedding_dim_profile_hand_case(spark):
    """Hand-computable 3-dim profile: a dead dimension, a clipped
    dimension, and exact lower medians under the (v, pid) order."""
    emb = spark.createDataFrame(
        [
            (1, [0.5, 1.0, -0.1]),
            (2, [0.5, -1.0, 0.0]),
            (3, [0.5, 1.0, 0.3]),
        ],
        "vec_id long, embedding array<double>",
    )
    out = {r.pos: r for r in similarity.embedding_dim_profile(emb).collect()}
    # dim 0: constant 64 -> dead
    assert (out[0].n_distinct, out[0].dmin, out[0].dmax, out[0].n_clipped) == (1, 64, 64, 0)
    assert out[0].med == 64
    # dim 1: fully clipped at +-127
    assert out[1].n_clipped == 3 and out[1].dmin == -127 and out[1].dmax == 127
    assert out[1].med == 127  # sorted [-127, 127, 127], lower median = rn 2
    # dim 2: [-13, 0, 38] -> median 0
    assert (out[2].dmin, out[2].dmax, out[2].med, out[2].n_clipped) == (-13, 38, 0, 0)
    assert all(out[p].n == 3 for p in (0, 1, 2))


def test_embedding_outliers_python_replay(spark):
    import math
    from collections import defaultdict

    import pandas as pd
    from conftest import SF_SMALL

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.similarity import (
        q_embedding_outliers,
    )

    emb = pd.read_parquet(f"{SF_SMALL}/embeddings.parquet")

    def q(x):
        # HALF_UP (away from zero), matching Spark/DuckDB round()
        return int(math.copysign(
            math.floor(abs(max(min(float(x), 1.0), -1.0) * 127.0) + 0.5), x))

    vecs = {
        int(r.vec_id): (int(r.label), [q(x) for x in r.embedding])
        for r in emb.itertuples()
    }
    s = defaultdict(lambda: None)
    n = defaultdict(int)
    for _, (lab, v) in vecs.items():
        n[lab] += 1
        s[lab] = v if s[lab] is None else [a + b for a, b in zip(s[lab], v)]
    expect = defaultdict(list)
    for vid, (lab, v) in vecs.items():
        d2n = sum((n[lab] * x - sx) ** 2 for x, sx in zip(v, s[lab]))
        expect[lab].append((d2n, vid))
    out = q_embedding_outliers(spark, SF_SMALL).collect()
    got = defaultdict(list)
    for r in out:
        got[r["label"]].append((r["rnk"], r["vec_id"], r["d2n"], r["n"]))
    for lab, pairs in expect.items():
        top = sorted(pairs, key=lambda t: (-t[0], t[1]))[:5]
        rows = sorted(got[lab])
        assert len(rows) == min(5, len(pairs))
        for (rnk, vid, d2n, nn), (ed2n, evid) in zip(rows, top):
            assert (vid, d2n, nn) == (evid, ed2n, n[lab])


def _pi_replay(qvs, rounds=4):
    """Pure-Python replay of the integer power iteration (truncating
    div, like Spark `div` / DuckDB `//`)."""
    def tdiv(a, b):
        q = abs(a) // b
        return q if a >= 0 else -q

    v = [1] * 64
    for _ in range(rounds):
        w = [0] * 64
        for x in qvs:
            s = sum(a * b for a, b in zip(x, v))
            for d in range(64):
                w[d] += x[d] * s
        ma = max(max(abs(t) for t in w), 1)
        v = [tdiv(t * 127, ma) for t in w]
    return v


def test_power_iteration_exact_replay_and_dominant_axis(spark):
    """The distributed integer power iteration equals the sequential
    replay bit-for-bit, and on an anisotropic cloud (axis 5 carries
    10x the variance, with MIXED signs) the returned direction is the
    dominant axis: |comp[5]| = 127, everything else small."""
    import random

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.similarity import (
        power_iteration_direction,
        quantize_embedding,
    )

    rng = random.Random(7)
    qvs = []
    for _ in range(120):
        q = [rng.randint(-5, 5) for _ in range(64)]
        q[5] = rng.choice([-1, 1]) * rng.randint(110, 127)
        qvs.append(q)
    rows = [(i, [c / 127.0 for c in q]) for i, q in enumerate(qvs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qe = df.select(quantize_embedding(F.col("embedding")).alias("qv"))
    got = power_iteration_direction(qe, rounds=4).collect()[0].v
    assert got == _pi_replay(qvs, rounds=4)
    assert abs(got[5]) == 127
    assert all(abs(c) < 64 for i, c in enumerate(got) if i != 5)


def test_distance_histogram_equals_python_replay(spark):
    """The deterministic pair sampling + exact int d2 histogram equals
    a pure-Python replay (md5 ranks, hash buckets, successor pairing,
    power-of-two bucketing) on the real sf0.001 embeddings."""
    import hashlib

    from conftest import SF_SMALL
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.similarity import (
        DH_PAIR_BUCKETS,
        q_distance_histogram,
    )

    emb = {
        r.vec_id: r.qv
        for r in spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
        .selectExpr(
            "vec_id",
            "transform(embedding, x -> cast(round(greatest(least("
            "cast(x as double), 1.0d), -1.0d) * 127.0d) as int)) as qv",
        )
        .collect()
    }
    hs = {v: int(hashlib.md5(f"{v}:dh".encode()).hexdigest()[:15], 16)
          for v in emb}
    buckets = {}
    for v in emb:
        buckets.setdefault(hs[v] % DH_PAIR_BUCKETS, []).append(v)
    d2s = []
    for pb, vs in buckets.items():
        vs.sort(key=lambda v: (hs[v], v))
        for a, b in zip(vs, vs[1:]):
            d2s.append(sum((x - y) ** 2 for x, y in zip(emb[a], emb[b])))
    expect = {}
    for d2 in d2s:
        b = max(d2.bit_length() - 1, 0)
        expect[b] = expect.get(b, 0) + 1
    got = {r.bucket: r.n_pairs for r in q_distance_histogram(spark, SF_SMALL).collect()}
    assert got == expect
    shares = {r.bucket: r.share_ppm for r in q_distance_histogram(spark, SF_SMALL).collect()}
    n = len(d2s)
    assert shares == {b: 1_000_000 * c // n for b, c in expect.items()}


def test_vector_norm_histogram_hand_case(spark):
    """Exact quantized norms: [1,1] -> 2*127^2 = 32258 (bucket 14),
    the zero vector -> bucket 0; shares floor over 3 vectors."""
    import tempfile

    emb = spark.createDataFrame(
        [
            (1, [1.0, 1.0], 0),
            (2, [0.0, 0.0], 0),
            (3, [1.0, 1.0], 0),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    d = tempfile.mkdtemp()
    emb.write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    out = {r["bucket"]: r for r in
           similarity.q_vector_norm_histogram(spark, d).collect()}
    assert out[14]["n_vectors"] == 2      # 32258 in [16384, 32767]
    assert out[0]["n_vectors"] == 1
    assert out[14]["share_ppm"] == 2_000_000 // 3


def test_class_separation_hand_case(spark, tmp_path):
    """Pins the micro-grid mean (truncating div) and the exact squared
    distance between class centroids."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.similarity import (
        q_class_separation,
    )

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 0),
            (2, [0.5, 0.0], 0),   # label 0 centroid: (750000, 0)
            (3, [0.0, 1.0], 1),   # label 1 centroid: (0, 1000000)
        ],
        "vec_id long, embedding array<float>, label int",
    )
    emb.write.parquet(str(tmp_path / "embeddings.parquet"))
    rows = q_class_separation(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["label_a"], r["label_b"], r["n_a"], r["n_b"]) == (0, 1, 2, 1)
    assert r["d2_micro2"] == 750_000 ** 2 + 1_000_000 ** 2


def test_knn_label_agreement_hand_case(spark, tmp_path):
    """Two separated clusters with one planted intruder: the vector
    labeled A sitting in the B cluster disagrees with its 1-NN, every
    honest vector agrees — quantized distances keep the argmin unique."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.similarity import (
        q_knn_label_agreement,
    )

    rows = [
        (1, [1.00, 0.0], "A"),
        (2, [0.99, 0.0], "A"),
        (3, [-1.00, 0.0], "B"),
        (4, [-0.99, 0.0], "B"),
        (5, [-0.98, 0.0], "A"),   # intruder: lives in B's cluster
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    emb.write.parquet(str(tmp_path / "embeddings.parquet"))
    out = {r["label"]: r for r in
           q_knn_label_agreement(spark, str(tmp_path)).collect()}
    assert (out["A"]["n_vectors"], out["A"]["n_agree"]) == (3, 2)
    assert out["A"]["agreement_ppm"] == 666_666
    assert (out["B"]["n_vectors"], out["B"]["n_agree"]) == (2, 2)
    assert out["B"]["agreement_ppm"] == 1_000_000


def test_bitext_margin_mining_python_replay(spark, tmp_path):
    """Exact replay of the difference-margin mining pipeline in plain
    Python over a crafted 6-en x 5-de corpus: same int8 quantization
    (HALF_UP), same (d2, id) top-k tie-breaks, same margin2k algebra,
    same (margin desc, x_id) global order — row-for-row equality."""
    from decimal import ROUND_HALF_UP, Decimal

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.similarity import (
        q_bitext_margin_mining,
    )

    en = {0: [1.0, 0.2], 1: [0.9, -0.4], 2: [0.31, 0.77],
          3: [-0.6, 0.05], 4: [0.12, 0.12], 5: [-1.0, 0.9]}
    de = {10: [0.98, 0.21], 11: [-0.59, 0.04], 12: [0.0, 0.0],
          13: [0.3, 0.8], 14: [-0.95, 0.88]}
    docs = [(i, "en") for i in en] + [(i, "de") for i in de]
    spark.createDataFrame(
        docs, "doc_id long, lang string"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    spark.createDataFrame(
        [(i, v) for i, v in {**en, **de}.items()],
        "vec_id long, embedding array<float>",
    ).write.parquet(str(tmp_path / "embeddings.parquet"))

    def q8(vec):
        return [int(Decimal(repr(max(min(float(x), 1.0), -1.0) * 127.0))
                    .quantize(Decimal(1), ROUND_HALF_UP)) for x in vec]

    qe = {i: q8(v) for i, v in en.items()}
    qd = {i: q8(v) for i, v in de.items()}
    d2 = {(x, y): sum((a - b) ** 2 for a, b in zip(qe[x], qd[y]))
          for x in qe for y in qd}
    K = 4
    sx = {x: sum(sorted(((d2[(x, y)], y) for y in qd))[k][0]
                 for k in range(K)) for x in qe}
    sy = {y: sum(sorted(((d2[(x, y)], x) for x in qe))[k][0]
                 for k in range(K)) for y in qd}
    best = {}
    for x in qe:
        cands = sorted(
            ((sx[x] + sy[y] - 2 * K * d2[(x, y)], y) for y in qd),
            key=lambda t: (-t[0], t[1]),
        )
        m, y = cands[0]
        best[x] = (m, y)
    order = sorted(best, key=lambda x: (-best[x][0], x))
    want = [
        (rank + 1, x, best[x][1], "de", d2[(x, best[x][1])], best[x][0])
        for rank, x in enumerate(order)
    ]
    got = [tuple(r) for r in
           q_bitext_margin_mining(spark, str(tmp_path)).collect()]
    assert got == want


def test_blas_strategies_identical_to_relational(spark):
    """The Arrow/BLAS scoring paths are pinned ROW-IDENTICAL to the
    relational pair plans on the real sf0.001 corpus — the float64
    matmul distances are exactly integer (sums of integers < 2^53),
    so this is equality, not tolerance.  auto resolves to blas under
    the _BLAS_MAX_SIDE gate."""
    from conftest import SF_SMALL
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.similarity import (
        q_bitext_margin_mining,
        q_knn_label_agreement,
    )

    def rows(df):
        return sorted(map(tuple, df.collect()))

    knn_blas = rows(q_knn_label_agreement(spark, SF_SMALL, strategy="blas"))
    knn_pairs = rows(q_knn_label_agreement(spark, SF_SMALL, strategy="pairs"))
    knn_auto = rows(q_knn_label_agreement(spark, SF_SMALL))
    assert knn_blas == knn_pairs == knn_auto and knn_blas

    bt_blas = [tuple(r) for r in
               q_bitext_margin_mining(spark, SF_SMALL, strategy="blas")
               .collect()]
    bt_rel = [tuple(r) for r in
              q_bitext_margin_mining(spark, SF_SMALL, strategy="relational")
              .collect()]
    bt_auto = [tuple(r) for r in
               q_bitext_margin_mining(spark, SF_SMALL).collect()]
    assert bt_blas == bt_rel == bt_auto and bt_blas


def test_bitext_margin_mining_randomized_replay(spark, tmp_path):
    """The crafted replay, generalized: three seeded random corpora
    (uneven side sizes, duplicate vectors to exercise d2 ties, 3-dim)
    — Spark (BLAS auto path) vs the plain-Python margin replay,
    row-for-row."""
    import random
    from decimal import ROUND_HALF_UP, Decimal

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.similarity import (
        q_bitext_margin_mining,
    )

    def q8(vec):
        return [int(Decimal(repr(max(min(float(x), 1.0), -1.0) * 127.0))
                    .quantize(Decimal(1), ROUND_HALF_UP)) for x in vec]

    for seed in (7, 23, 99):
        rng = random.Random(seed)
        n_en, n_de = rng.randint(5, 9), rng.randint(5, 9)
        en = {i: [rng.uniform(-1.2, 1.2) for _ in range(3)]
              for i in range(n_en)}
        de = {100 + i: [rng.uniform(-1.2, 1.2) for _ in range(3)]
              for i in range(n_de)}
        # duplicates on both sides -> exact d2 ties the id tie-breaks
        # must resolve identically in both engines
        en[n_en] = list(en[0])
        de[100 + n_de] = list(de[100])
        d = tmp_path / f"s{seed}"
        d.mkdir()
        docs = [(i, "en") for i in en] + [(i, "de") for i in de]
        spark.createDataFrame(docs, "doc_id long, lang string") \
            .write.parquet(str(d / "documents.parquet"))
        spark.createDataFrame(
            [(i, v) for i, v in {**en, **de}.items()],
            "vec_id long, embedding array<float>",
        ).write.parquet(str(d / "embeddings.parquet"))

        qe = {i: q8(v) for i, v in en.items()}
        qd = {i: q8(v) for i, v in de.items()}
        d2 = {(x, y): sum((a - b) ** 2 for a, b in zip(qe[x], qd[y]))
              for x in qe for y in qd}
        K = 4
        sx = {x: sum(sorted((d2[(x, y)], y) for y in qd)[k][0]
                     for k in range(K)) for x in qe}
        sy = {y: sum(sorted((d2[(x, y)], x) for x in qe)[k][0]
                     for k in range(K)) for y in qd}
        best = {}
        for x in qe:
            m, y = sorted(((sx[x] + sy[y] - 2 * K * d2[(x, y)], y)
                           for y in qd), key=lambda t: (-t[0], t[1]))[0]
            best[x] = (m, y)
        order = sorted(best, key=lambda x: (-best[x][0], x))[:20]
        want = [(r + 1, x, best[x][1], "de", d2[(x, best[x][1])],
                 best[x][0]) for r, x in enumerate(order)]
        got = [tuple(r) for r in
               q_bitext_margin_mining(spark, str(d)).collect()]
        assert got == want, seed


def test_semantic_decontaminate_strategy_identity(spark, caplog):
    """The BLAS strategy (optimization r13) is pinned ROW-IDENTICAL to
    the relational reference plan — raw doubles included — on a corpus
    with planted near-duplicates, zero-norm vectors, NULL vectors, and
    a threshold that lands pairs on the 6-dp rounding boundary."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.similarity import (
        semantic_decontaminate,
    )

    rows = [
        (1, [1.0, 2.0, 3.0, 4.0]),
        (2, [1.0, 2.0, 3.0, 4.000001]),   # near-dup of the benchmark item
        (3, [0.0, 0.0, 0.0, 0.0]),        # zero norm
        (4, None),                         # NULL vector
        (5, [-1.0, -2.0, -3.0, -4.0]),    # exact negative
        (6, [4.0, 3.0, 2.0, 1.0]),
        (7, [1.0, float("nan"), 3.0, 4.0]),  # NaN element (ADVICE r14)
    ]
    bench = [
        (100, [1.0, 2.0, 3.0, 4.0]),
        (101, [0.0, 0.0, 0.0, 0.0]),      # zero-norm benchmark item
        (102, [2.0, -1.0, 0.5, 0.25]),
    ]
    # NULL-FIRST benchmark variant (ADVICE r14): dim inference must not
    # key off row 0 — a NULL first vector used to zero the matrix dim
    # and report the whole corpus uncontaminated.
    bench_nullfirst = [(99, None)] + bench
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    for bench_rows in (bench, bench_nullfirst):
        bdf = spark.createDataFrame(
            bench_rows, "vec_id long, embedding array<double>"
        )
        for t in (0.0, 0.35, 0.5, 1.0):
            rel = sorted(
                tuple(r) for r in semantic_decontaminate(
                    corpus, bdf, threshold=t, strategy="relational"
                ).collect()
            )
            blas = sorted(
                tuple(r) for r in semantic_decontaminate(
                    corpus, bdf, threshold=t, strategy="blas"
                ).collect()
            )
            assert rel == blas, f"strategy outputs diverge at threshold {t}"
            # the NULL-first gate bug reported zero contamination;
            # near-dup row 2 must stay contaminated at every t <= ~1
            assert any(r[0] == 2 and r[3] for r in blas)
    bdf = spark.createDataFrame(bench, "vec_id long, embedding array<double>")
    # MIXED-LENGTH benchmark (ADVICE r14): blas falls back to the
    # relational plan — outputs stay identical by construction
    bmixed = spark.createDataFrame(
        bench + [(103, [1.0, 2.0])], "vec_id long, embedding array<double>"
    )
    rel = sorted(
        tuple(r) for r in semantic_decontaminate(
            corpus, bmixed, threshold=0.35, strategy="relational"
        ).collect()
    )
    with caplog.at_level("WARNING"):
        blas = sorted(
            tuple(r) for r in semantic_decontaminate(
                corpus, bmixed, threshold=0.35, strategy="blas"
            ).collect()
        )
    assert rel == blas
    assert "falls back to the relational plan" in caplog.text
    # auto resolves to one of the pinned strategies and stays identical
    auto = sorted(
        tuple(r)
        for r in semantic_decontaminate(corpus, bdf, threshold=0.5).collect()
    )
    rel = sorted(
        tuple(r) for r in semantic_decontaminate(
            corpus, bdf, threshold=0.5, strategy="relational"
        ).collect()
    )
    assert auto == rel
