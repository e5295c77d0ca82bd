"""Property-based tests (hypothesis) for operator invariants that must
hold on arbitrary inputs, not just the driver's tables."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators import dedup
from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.ids import (
    with_dense_id,
)

_slow = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

words = st.sampled_from(["spark", "join", "scan", "sort", "hash", "agg", "row", "col"])
texts = st.lists(words, min_size=0, max_size=12).map(" ".join)


@_slow
@given(st.lists(st.integers(min_value=-(10**6), max_value=10**6), min_size=1, max_size=300))
def test_dense_id_is_permutation(spark, values):
    df = spark.createDataFrame([(v, i) for i, v in enumerate(values)], "v long, tie long")
    out = with_dense_id(df, ["v", "tie"], id_col="rid", num_partitions=4).collect()
    ids = sorted(r.rid for r in out)
    assert ids == list(range(1, len(values) + 1))
    # id order == (v, tie) order
    by_id = sorted(out, key=lambda r: r.rid)
    assert [(r.v, r.tie) for r in by_id] == sorted((r.v, r.tie) for r in out)


@_slow
@given(st.lists(texts, min_size=2, max_size=12))
def test_jaccard_pairs_bounds_and_orientation(spark, docs):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    rows = dedup.jaccard_pairs(df, n=1, threshold=0.0, block_col=F.lit(0)).collect()
    for r in rows:
        assert r.id_a < r.id_b
        assert 0.0 <= r.jaccard <= 1.0
    # identical docs must appear with jaccard 1.0
    for i, a in enumerate(docs):
        for j in range(i + 1, len(docs)):
            if a == docs[j] and a.strip():
                assert any(
                    r.id_a == i and r.id_b == j and r.jaccard == 1.0 for r in rows
                ), (i, j)


@_slow
@given(st.lists(texts.filter(lambda t: t.strip()), min_size=1, max_size=10))
def test_exact_dedup_partitions_ids(spark, docs):
    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    rows = dedup.exact_dedup(df).collect()
    # dup counts cover every row exactly once; keep_ids are minimal
    assert sum(r.dup_count for r in rows) == len(docs)
    for r in rows:
        assert docs[r.keep_id] is not None


@_slow
@given(
    st.lists(words, min_size=7, max_size=10).map(" ".join),  # shared run >= n+w-1 = 6
    st.lists(words, min_size=0, max_size=5).map(" ".join),
    st.lists(words, min_size=0, max_size=5).map(" ".join),
)
def test_winnowing_shared_run_guarantee(spark, shared, prefix, suffix):
    """Schleimer et al. guarantee: two docs sharing any run of at least
    n+w-1 tokens (n=3-gram, w=4 window => 6) select at least one common
    fingerprint, regardless of what surrounds the run."""
    from pyspark.sql import functions as F

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators import text

    a = (prefix + " " + shared).strip()
    b = (shared + " " + suffix).strip()
    df = spark.createDataFrame([(0, a), (1, b)], "doc_id long, text string")
    grams = text._positional_shingles("text", 3)
    hashes = F.transform(grams, lambda g: F.md5(g))
    wins = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(hashes) - 4, F.lit(0))),
        lambda i: F.array_min(F.slice(hashes, i + 1, 4)),
    )
    sets_ = {
        r.doc_id: set(r.fps)
        for r in df.select("doc_id", F.array_distinct(wins).alias("fps")).collect()
    }
    assert sets_[0] & sets_[1], (a, b)


@_slow
@given(
    st.lists(
        st.integers(min_value=-(10**7), max_value=10**7).map(lambda c: c / 100.0),
        min_size=1,
        max_size=200,
    )
)
def test_money_sum_is_partition_invariant(spark, cents):
    """money_sum's reason to exist: DECIMAL accumulation gives the SAME
    bits no matter how the data is partitioned, where double summation
    drifts with the reduction tree."""
    from pyspark.sql import functions as F

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.relational import (
        money_sum,
    )

    df = spark.createDataFrame([(v,) for v in cents], "v double")
    outs = {
        df.repartition(p).agg(money_sum(F.col("v")).alias("s")).collect()[0].s
        for p in (1, 7, 32)
    }
    assert len(outs) == 1
    # and it equals the exact integer-cents total
    assert outs.pop() == round(sum(int(round(v * 100)) for v in cents) / 100.0, 2)


@_slow
@given(st.lists(texts, min_size=2, max_size=10))
def test_containment_bounds_and_planted_superset(spark, docs):
    """Containment invariants on arbitrary corpora: values lie in
    [threshold, 1], pairs are directed with distinct endpoints, and a
    doc planted as a strict token-prefix of another (both above the
    min-shingle floor) must be flagged as contained at 1.0."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = list(docs) + [base, base + " lambda mu nu xi omicron pi rho"]
    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    rows = dedup.containment_pairs(df, n=3, threshold=0.8).collect()
    for r in rows:
        assert r.id_a != r.id_b
        assert 0.8 <= r.containment <= 1.0
    a, b = len(docs) - 2, len(docs) - 1
    assert any(r.id_a == a and r.id_b == b and r.containment == 1.0 for r in rows)


@_slow
@given(st.lists(texts, min_size=1, max_size=10))
def test_cdc_chunks_partition_tokens(spark, docs):
    """CDC chunks partition each doc's token stream exactly: per-doc
    chunk token counts sum to the doc's (non-empty) token count, chunk
    ids are contiguous from 0, and re-running yields identical
    digests (pure function of content)."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.text import (
        cdc_chunks,
    )

    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    rows = cdc_chunks(df).collect()
    again = cdc_chunks(df).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, doc in enumerate(docs):
        n_tok = len([t for t in doc.split() if t])
        chunks = by_doc.get(i, [])
        assert sum(c.n_chunk_tokens for c in chunks) == n_tok
        assert sorted(c.chunk_id for c in chunks) == list(range(len(chunks)))


@_slow
@given(
    st.lists(st.integers(min_value=0, max_value=10**6), min_size=2, max_size=60),
    st.integers(min_value=2, max_value=16),
)
def test_rendezvous_minimal_movement_property(spark, keys, n):
    """HRW on arbitrary key sets: shards in range; growing N -> N+1
    moves keys ONLY to the new shard (structural, any input)."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.relational import (
        rendezvous_assign,
    )

    keys = list(dict.fromkeys(keys))  # distinct
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    a = {r.k: r.shard for r in rendezvous_assign(df, "k", n - 1).collect()}
    b = {r.k: r.shard for r in rendezvous_assign(df, "k", n).collect()}
    for k in keys:
        assert 0 <= a[k] < n - 1 and 0 <= b[k] < n
        if a[k] != b[k]:
            assert b[k] == n - 1  # movement only into the new shard


@_slow
@given(st.lists(st.integers(min_value=-(10**6), max_value=10**6), min_size=1, max_size=100))
def test_cusum_telescoping_property(values):
    """The integer CUSUM identity on arbitrary series: S_n == 0 and
    every S_k = n*cum_k - k*total is translation-COVARIANT in a way
    that leaves the argmax invariant (shifting all values by a
    constant does not change any S_k)."""
    n = len(values)
    total = sum(values)
    cum = 0
    s = []
    for k, v in enumerate(values, start=1):
        cum += v
        s.append(n * cum - k * total)
    assert s[-1] == 0
    shifted = [v + 12345 for v in values]
    total2, cum2 = sum(shifted), 0
    s2 = []
    for k, v in enumerate(shifted, start=1):
        cum2 += v
        s2.append(n * cum2 - k * total2)
    assert s == s2


@_slow
@given(
    st.lists(texts.filter(lambda t: t.strip()), min_size=2, max_size=6),
    st.lists(words, min_size=6, max_size=10).map(" ".join),
)
def test_winnow_guarantee_on_random_corpora(spark, docs, run):
    """The winnowing guarantee as a PROPERTY: for any corpus, any two
    docs that each contain the same >= n+w-1 token run (planted here)
    must surface as a winnow_pairs candidate at min_shared=1; pairs are
    a<b oriented and shared counts positive."""
    # plant the shared run into the first two docs at different offsets
    planted = list(docs)
    planted[0] = planted[0] + " " + run
    planted[1] = run + " " + planted[1]
    df = spark.createDataFrame(
        list(enumerate(planted)), "doc_id long, text string"
    )
    rows = dedup.winnow_pairs(df, min_shared=1).collect()
    assert any(r.id_a == 0 and r.id_b == 1 for r in rows), planted[:2]
    for r in rows:
        assert r.id_a < r.id_b and r.n_shared >= 1


@_slow
@given(
    st.lists(
        st.tuples(st.integers(0, 4), st.integers(0, 4)).filter(
            lambda p: p[0] != p[1]
        ),
        min_size=1,
        max_size=30,
    )
)
def test_bradley_terry_matches_python_fixed_point(spark, pairs):
    """Random small tournaments: the engine's integer MM fixed point
    must equal a pure-Python replay of the same milli/micro floor
    recipe, item for item."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.analytics import (
        bradley_terry_ratings,
    )

    comps = spark.createDataFrame(
        [(f"i{w}", f"i{l}") for w, l in pairs], ["winner", "loser"]
    )
    nij: dict = {}
    wins: dict = {}
    for w, l in pairs:
        a, b = f"i{w}", f"i{l}"
        nij[(a, b)] = nij.get((a, b), 0) + 1
        nij[(b, a)] = nij.get((b, a), 0) + 1
        wins[a] = wins.get(a, 0) + 1
    items = {i for pair in nij for i in pair}
    p = {i: 1_000_000 for i in items}
    for _ in range(5):
        d = {
            i: sum(
                (n * 1_000_000_000) // (p[i] + p[j])
                for (ii, j), n in nij.items()
                if ii == i
            )
            for i in items
        }
        p = {i: max((wins.get(i, 0) * 1_000_000_000) // d[i], 1) for i in items}
    got = {r.item: r.rating_micro for r in bradley_terry_ratings(comps).collect()}
    assert got == p


@_slow
@given(
    st.lists(
        st.lists(
            st.floats(-1.0, 1.0, allow_nan=False, width=32),
            min_size=4,
            max_size=4,
        ),
        min_size=3,
        max_size=12,
        unique_by=lambda v: tuple(v),
    )
)
def test_kcenter_greedy_invariants(spark, vecs):
    """Greedy farthest-point invariants on random point sets: the
    selection distances are non-increasing (each new center is the
    CURRENT farthest point, and adding centers only shrinks min-
    distances), the final coverage is <= the last selection distance,
    and the k selected centers are distinct."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.similarity import (
        kcenter_coreset,
    )

    k = min(3, len(vecs))
    if k < 2:
        return
    # the operator sees the QUANTIZED points: float-distinct inputs can
    # collapse to the same int8 vector (hypothesis found 0.00390625 ->
    # round(0.496) = 0), and k beyond the quantized diversity re-selects
    # covered points by the documented degenerate-corpus contract
    q = {tuple(round(max(min(float(x), 1.0), -1.0) * 127.0) for x in v)
         for v in vecs}
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        ["vec_id", "embedding"],
    )
    rows = sorted(kcenter_coreset(emb, k=k).collect(), key=lambda r: r.sel_round)
    assert [r.sel_round for r in rows] == list(range(1, k + 1))
    assert len({r.center_id for r in rows}) == min(k, len(q))
    sel = [r.d2_prior for r in rows[1:]]
    assert all(a >= b for a, b in zip(sel, sel[1:]))
    assert all(r.coverage_d2 <= sel[-1] for r in rows) if sel else True
    if len(q) < k:
        # the loud signal: re-selected centers carry d2_prior = 0
        assert any(d == 0 for d in sel)


@_slow
@given(
    st.lists(
        st.lists(
            st.floats(-1.0, 1.0, allow_nan=False, width=32),
            min_size=3, max_size=3,
        ),
        min_size=2, max_size=10,
    ),
    st.integers(min_value=2, max_value=4),
)
def test_kmeans_matches_python_lloyd(spark, vecs, k):
    """Random small embeddings: the engine's fixed-round integer
    Lloyd's must equal a pure-Python replay of the same quantize /
    argmin / +127-shifted-floor-mean recipe."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.similarity import (
        kmeans_topics,
    )

    rounds = 2
    emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], ["vec_id", "embedding"]
    )
    q = {
        i: [round(max(min(float(x), 1.0), -1.0) * 127.0) for x in v]
        for i, v in enumerate(vecs)
    }
    kk = min(k, len(vecs))
    centers = {c: [int(x) for x in q[c]] for c in range(kk)}

    def assign(cs):
        out = {}
        for i, v in q.items():
            best = min(
                (sum((a - b) ** 2 for a, b in zip(v, cs[c])), c) for c in cs
            )
            out[i] = best  # (d2, cid)
        return out

    for _ in range(rounds):
        asg = assign(centers)
        for c in list(centers):
            members = [q[i] for i, (_, cc) in asg.items() if cc == c]
            if members:
                centers[c] = [
                    (sum(x + 127 for x in dim) // len(members)) - 127
                    for dim in zip(*members)
                ]
    final = assign(centers)
    exp = {}
    for c in centers:
        pts = [(d, i) for i, (d, cc) in final.items() if cc == c]
        exp[c] = (
            len(pts),
            sum(d for d, _ in pts),
            ",".join(str(x) for x in centers[c]),
        )
    got = {
        r["cluster_id"]: (r["n_points"], r["inertia"], r["centroid_csv"])
        for r in kmeans_topics(emb, k=kk, rounds=rounds).collect()
    }
    assert got == exp


@_slow
@given(st.lists(texts, min_size=1, max_size=8))
def test_dup_coverage_matches_bruteforce(spark, docs_txt):
    """Random corpora: coverage equals a brute-force Python union of
    duplicated 3-token windows (window=3 so short random docs still
    produce them)."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.dedup import (
        duplicated_ngram_coverage,
    )

    W = 3
    toks = {i: t.split() for i, t in enumerate(docs_txt) if t.strip()}
    toks.update({i: [] for i, t in enumerate(docs_txt) if not t.strip()})
    grams: dict = {}
    for i, tk in toks.items():
        for p in range(max(len(tk) - W + 1, 0)):
            g = " ".join(tk[p:p + W])
            grams[g] = grams.get(g, 0) + 1
    exp = {}
    for i, tk in toks.items():
        pos = [p for p in range(max(len(tk) - W + 1, 0))
               if grams[" ".join(tk[p:p + W])] >= 2]
        covered: set = set()
        for p in pos:
            covered.update(range(p, p + W))
        n_tok = len(tk)
        exp[i] = (
            n_tok, max(len(tk) - W + 1, 0), len(pos), len(covered),
            (1_000_000 * len(covered)) // n_tok if n_tok else 0,
        )
    df = spark.createDataFrame(
        list(enumerate(docs_txt)), ["doc_id", "text"]
    )
    got = {
        r["doc_id"]: (
            r["n_tokens"], r["n_windows"], r["n_dup_windows"],
            r["covered_tokens"], r["coverage_ppm"],
        )
        for r in duplicated_ngram_coverage(df, window=W).collect()
    }
    assert got == exp


@_slow
@given(st.lists(st.tuples(texts, st.sampled_from(["s1", "s2", "s3"])),
                min_size=1, max_size=10))
def test_source_minhash_matches_python(spark, docs):
    """Random corpora: signatures and pairwise match counts equal a
    pure-Python replay of the md5 + universal-hash permutation recipe."""
    import hashlib

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.dedup import (
        MINHASH_PRIME,
        minhash_perm_constants,
        source_minhash_overlap,
    )

    k = 8
    consts = minhash_perm_constants(k)
    grams: dict = {}
    for txt, src in docs:
        toks = txt.split()
        if not toks:
            continue
        n = len(toks)
        gs = {" ".join(toks[i:i + 3]) for i in range(max(n - 2, 1))}
        grams.setdefault(src, set()).update(gs)
    sigs = {}
    for src, gs in grams.items():
        hs = [int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % MINHASH_PRIME
              for g in gs]
        sigs[src] = [min((a * h + b) % MINHASH_PRIME for h in hs)
                     for a, b in consts]
    exp = {}
    srcs = sorted(grams)
    for i, sa in enumerate(srcs):
        for sb in srcs[i + 1:]:
            inter = len(grams[sa] & grams[sb])
            union = len(grams[sa] | grams[sb])
            exp[(sa, sb)] = (
                sum(1 for x, y in zip(sigs[sa], sigs[sb]) if x == y),
                (1_000_000 * inter) // union,
            )
    df = spark.createDataFrame(
        [(i, t, s) for i, (t, s) in enumerate(docs)],
        ["doc_id", "text", "source"],
    )
    got = {
        (r["source_a"], r["source_b"]): (r["n_match"], r["true_jaccard_ppm"])
        for r in source_minhash_overlap(df, k=k).collect()
    }
    assert got == exp


@_slow
@given(st.lists(texts, min_size=1, max_size=10))
def test_dictionary_tag_matches_python(spark, docs_txt):
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.text import (
        TAG_DICTIONARY,
        dictionary_tag,
    )

    cats = sorted(TAG_DICTIONARY)
    exp = {}
    for i, txt in enumerate(docs_txt):
        toks = txt.split()
        counts = {c: sum(t in TAG_DICTIONARY[c] for t in toks) for c in cats}
        total = sum(counts.values())
        if total == 0:
            dom = "none"
        else:
            best = max(counts.values())
            dom = min(c for c in cats if counts[c] == best)
        exp[i] = (len(toks), *(counts[c] for c in cats), total, dom)
    df = spark.createDataFrame(list(enumerate(docs_txt)), ["doc_id", "text"])
    got = {
        r["doc_id"]: (
            r["n_tokens"], *(r[f"n_{c}"] for c in cats), r["n_tagged"],
            r["dominant"],
        )
        for r in dictionary_tag(df).collect()
    }
    assert got == exp


@_slow
@given(
    st.dictionaries(
        st.integers(min_value=0, max_value=50),
        st.lists(
            st.floats(min_value=-2.0, max_value=2.0, allow_nan=False, width=32),
            min_size=3, max_size=3,
        ),
        min_size=3, max_size=9,
    ),
    st.integers(min_value=1, max_value=4),
)
def test_mmr_engine_equals_python_greedy_on_random_pages(spark, vecs, k):
    """Engine MMR == pure-Python λ=1/2 greedy replay for ANY small
    embedding set (random ids, random float components incl. values the
    int8 quantizer clips): pick order, relevance distances, and
    diversity distances all identical — the kmeans-property-test
    precedent applied to the re-ranker."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators import (
        similarity,
    )

    n_cand = len(vecs) - 1
    if k > n_cand:
        k = max(1, n_cand)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs.items()],
        "vec_id long, embedding array<double>",
    )
    out = {
        r.sel_round: (r.vec_id, r.rel_d2, r.div_d2)
        for r in similarity.mmr_rerank(emb, k=k, n_candidates=n_cand).collect()
    }

    def qz(v):
        # round-half-away-from-zero, matching Spark/DuckDB round()
        import math

        return [
            int(math.copysign(math.floor(abs(max(min(x, 1.0), -1.0) * 127.0) + 0.5), x))
            for x in v
        ]

    def d2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    qid = min(vecs)
    q = qz(vecs[qid])
    dq_all = {i: d2(qz(v), q) for i, v in vecs.items() if i != qid}
    page = sorted(dq_all, key=lambda i: (dq_all[i], i))[:n_cand]
    cand = {i: qz(vecs[i]) for i in page}
    dq = {i: dq_all[i] for i in page}
    mind = {i: 1 << 40 for i in page}
    want = {}
    for r in range(1, k + 1):
        pick = max(cand, key=lambda i: (mind[i] - dq[i], -i))
        want[r] = (pick, dq[pick], 0 if r == 1 else mind[pick])
        pv = cand.pop(pick)
        mind.pop(pick)
        for i, v in cand.items():
            mind[i] = min(mind[i], d2(v, pv))
    assert out == want


@_slow
@given(st.lists(st.integers(min_value=0, max_value=10**6), min_size=1, max_size=60, unique=True))
def test_epoch_shuffle_digest_replays_for_any_id_set(spark, ids):
    """epoch_shuffle's per-(epoch, shard) digests equal a pure-Python
    md5 replay of the same permutation for ANY id set — the permutation
    is a pure function of (ids, epoch), independent of input order or
    partitioning."""
    import hashlib
    from collections import defaultdict

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.sample import (
        epoch_shuffle,
    )

    docs = spark.createDataFrame([(i,) for i in ids], "doc_id long").repartition(3)
    rows = epoch_shuffle(docs, n_epochs=2, n_shards=3).collect()

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    want = {}
    for e in (0, 1):
        order = sorted(ids, key=lambda i: (h60(f"{i}:ep:{e}"), i))
        digs = defaultdict(int)
        counts = defaultdict(int)
        for pos, i in enumerate(order, start=1):
            digs[(pos - 1) % 3] ^= h60(f"{pos}@{i}")
            counts[(pos - 1) % 3] += 1
        for sh, dg in digs.items():
            want[(e, sh)] = (counts[sh], dg)
    got = {(r.epoch, r.shard): (r.n_docs, r.perm_digest) for r in rows}
    assert got == want


@_slow
@given(st.lists(st.text(alphabet="abcdef|:", min_size=0, max_size=12), min_size=1, max_size=40, unique=True))
def test_dlap_noise_replays_and_stays_in_support(spark, keys):
    """dlap_noise == a pure-Python inverse-CDF walk of the same md5
    uniform for ANY key strings (incl. the '|'/':' delimiters), always
    within the truncated [-9, 9] support."""
    import hashlib

    from pyspark.sql import functions as F

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.analytics import (
        DLAP_CUM_PPB,
        dlap_noise,
    )

    df = spark.createDataFrame([(k,) for k in keys], "key string")
    got = {r.key: r.w for r in df.select("key", dlap_noise(F.col("key")).alias("w")).collect()}

    def replay(key: str) -> int:
        u = int(hashlib.md5(f"{key}:dp".encode()).hexdigest()[:15], 16) % 10**9
        for i, b in enumerate(DLAP_CUM_PPB):
            if u < b:
                return i - 9
        return 9

    want = {k: replay(k) for k in keys}
    assert got == want
    assert all(-9 <= w <= 9 for w in got.values())


# round-9: rank-statistic family vs pure-Python replays on arbitrary
# per-user frames — exercises _bucketed_prefix on negatives, heavy
# ties, point-mass distributions, and one-sided / tiny arms
user_frames = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=1),          # arm
        st.integers(min_value=-500, max_value=500),     # cents
    ),
    min_size=1,
    max_size=80,
)


def _frame(spark, users):
    return spark.createDataFrame(
        [(i, a, c) for i, (a, c) in enumerate(users)],
        "user_id long, arm long, cents long",
    )


@_slow
@given(user_frames)
def test_mann_whitney_matches_python_on_random_frames(spark, users):
    from collections import Counter

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators import (
        analytics,
    )

    row = analytics.mann_whitney(_frame(spark, users)).collect()[0]
    a = [c for arm, c in users if arm == 0]
    b = [c for arm, c in users if arm == 1]
    cnt = Counter(c for _, c in users)
    before, r2 = 0, {}
    for v in sorted(cnt):
        r2[v] = 2 * before + cnt[v] + 1
        before += cnt[v]
    n_a, n_b = len(a), len(b)
    u2_a = sum(r2[v] for v in a) - n_a * (n_a + 1)
    assert (row["n_a"], row["n_b"], row["u2_a"]) == (n_a, n_b, u2_a)
    assert row["u2_a"] + row["u2_b"] == 2 * n_a * n_b
    if n_a and n_b:
        num, d = u2_a - n_a * n_b, n_a * n_b
        if num >= 0:
            want = ((num * 1000) // d) * 1000 + ((num * 1000) % d) * 1000 // d
        else:
            num = -num
            want = -(((num * 1000) // d) * 1000 + ((num * 1000) % d) * 1000 // d)
        assert row["rb_ppm"] == want
    else:
        assert row["rb_ppm"] is None


@_slow
@given(user_frames)
def test_robust_uplift_matches_python_on_random_frames(spark, users):
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators import (
        analytics,
    )

    row = analytics.robust_uplift(_frame(spark, users)).collect()[0]
    a = sorted(c for arm, c in users if arm == 0)
    b = sorted(c for arm, c in users if arm == 1)

    def trimmed(xs):
        k = len(xs) * 5 // 100
        kept = xs[k: len(xs) - k] if len(xs) else []
        return sum(kept), len(kept)

    tsa, ka = trimmed(a)
    tsb, kb = trimmed(b)
    assert (row["kept_a"], row["kept_b"]) == (ka, kb)
    assert (row["tsum_a"], row["tsum_b"]) == (tsa, tsb)


@_slow
@given(user_frames)
def test_qte_matches_python_on_random_frames(spark, users):
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators import (
        analytics,
    )

    out = {
        r["pct"]: r
        for r in analytics.quantile_treatment_effect(
            _frame(spark, users)
        ).collect()
    }
    a = sorted(c for arm, c in users if arm == 0)
    b = sorted(c for arm, c in users if arm == 1)
    assert sorted(out) == [10, 20, 30, 40, 50, 60, 70, 80, 90]
    for pct in range(10, 100, 10):
        row = out[pct]
        for xs, col in ((a, "q_a_cents"), (b, "q_b_cents")):
            if not xs:
                assert row[col] is None
                continue
            r = (pct * len(xs) + 99) // 100
            assert row[col] == xs[max(r, 1) - 1]


events_frames = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=6),      # user
        st.integers(min_value=0, max_value=27),     # day offset in Jan
        st.integers(min_value=-200, max_value=800), # cents
    ),
    min_size=1,
    max_size=60,
)


def _events_df(spark, rows):
    from datetime import datetime, timedelta

    data = [
        (
            i,
            int(u),
            "buy",
            c / 100.0,
            datetime(2024, 1, 1, 12, 0) + timedelta(days=d),
        )
        for i, (u, d, c) in enumerate(rows)
    ]
    return spark.createDataFrame(
        data, "event_id long, user_id long, event_type string, "
        "value double, ts timestamp"
    )


@_slow
@given(events_frames)
def test_growth_accounting_matches_python_on_random_frames(spark, rows):
    import tempfile
    from collections import defaultdict
    from datetime import date, timedelta

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.analytics import (
        q_growth_accounting,
    )

    d = tempfile.mkdtemp()
    _events_df(spark, rows).write.mode("overwrite").parquet(f"{d}/events.parquet")

    def week_of(day_offset):
        day = date(2024, 1, 1) + timedelta(days=day_offset)
        return day - timedelta(days=day.isoweekday() - 1)

    uw = defaultdict(int)
    for u, doff, c in rows:
        uw[(u, week_of(doff))] += int(round((c / 100.0) * 100))
    first = {}
    for (u, w) in uw:
        if u not in first or w < first[u]:
            first[u] = w
    expect = defaultdict(lambda: [0, 0, 0, 0])
    for (u, w), c in uw.items():
        i = 0 if w == first[u] else 1
        expect[w][i] += 1
        expect[w][2 + i] += c
    out = {r["wk"]: r for r in q_growth_accounting(spark, d).collect()}
    assert sorted(out) == sorted(expect)
    for w, (nu, ru, nc, rc) in expect.items():
        r = out[w]
        assert (r["new_users"], r["ret_users"], r["new_cents"], r["ret_cents"]) == (
            nu, ru, nc, rc,
        )


@_slow
@given(events_frames)
def test_dow_anomaly_matches_python_on_random_frames(spark, rows):
    import tempfile
    from collections import defaultdict
    from datetime import date, timedelta

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.analytics import (
        q_dow_anomaly,
    )

    d = tempfile.mkdtemp()
    _events_df(spark, rows).write.mode("overwrite").parquet(f"{d}/events.parquet")
    daily = defaultdict(int)
    for u, doff, c in rows:
        daily[date(2024, 1, 1) + timedelta(days=doff)] += int(round((c / 100.0) * 100))
    # engine floors daily sums to whole units with truncating div
    series = {
        dd: (cc // 100 if cc >= 0 else -((-cc) // 100))
        for dd, cc in daily.items()
    }
    by_dow = defaultdict(list)
    for dd, x in series.items():
        by_dow[dd.isoweekday()].append((x, dd))

    def lower_median(pairs):
        s = sorted(pairs)
        return s[(len(s) + 1) // 2 - 1][0]

    med = {k: lower_median(v) for k, v in by_dow.items()}
    mad = {
        k: lower_median([(abs(x - med[k]), dd) for x, dd in v])
        for k, v in by_dow.items()
    }
    out = {r["day"]: r for r in q_dow_anomaly(spark, d).collect()}
    assert sorted(out) == sorted(series)
    for dd, x in series.items():
        r = out[dd]
        k = dd.isoweekday()
        assert (r["dow"], r["x"], r["med"], r["mad"]) == (k, x, med[k], mad[k])
        assert r["is_anomaly"] == (abs(x - med[k]) > 3 * mad[k])


@_slow
@given(
    st.lists(texts.filter(lambda t: t.strip()), min_size=1, max_size=8),
    st.integers(min_value=1, max_value=3),
)
def test_bpe_apply_equals_greedy_reference(spark, docs, n_merges):
    """On ARBITRARY corpora, applying the learned merge table through
    the per-rule array left-fold reproduces the sequential greedy BPE
    state word-for-word — including equal-symbol runs and single-char
    words."""
    import collections

    from pyspark.sql import functions as F

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.text import (
        bpe_apply_merges,
        bpe_train_merges,
        bpe_word_types,
    )

    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    merges = bpe_train_merges(df, n_merges=n_merges)
    got = {
        r.word: r.syms
        for r in bpe_apply_merges(bpe_word_types(df), merges, n_merges=n_merges)
        .groupBy("word")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "sym"))),
                lambda s: s["sym"],
            ).alias("syms")
        )
        .collect()
    }

    freq = collections.Counter(w for t in docs for w in t.split() if w)
    state = {w: list(w) for w in freq}
    for _ in range(n_merges):
        cnt = collections.Counter()
        for w, syms in state.items():
            for a, b in zip(syms, syms[1:]):
                cnt[(a, b)] += freq[w]
        if not cnt:
            break
        (a, b), _c = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        for w, syms in state.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            state[w] = out
    assert got == state


@_slow
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=12),   # user
            st.integers(min_value=0, max_value=120),  # first-event day
            st.integers(min_value=0, max_value=120),  # extra span days
        ),
        min_size=1,
        max_size=20,
    )
)
def test_km_and_hazard_equal_python_replay(spark, users):
    """tenure_hazard and km_survival equal a pure-Python replay of the
    censoring + product-limit arithmetic on random user lifespans."""
    import tempfile
    from datetime import datetime, timedelta

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators import (
        analytics as A,
    )

    base = datetime(2024, 1, 1, 12, 0)
    rows, eid = [], 0
    span = {}
    for uid, f, extra in users:
        l = f + extra
        span[uid] = (min(span[uid][0], f), max(span[uid][1], l)) if uid in span else (f, l)
        rows.append((eid, uid, "e", 0.0, base + timedelta(days=f))); eid += 1
        rows.append((eid, uid, "e", 0.0, base + timedelta(days=l))); eid += 1
    ev = spark.createDataFrame(
        rows, ["event_id", "user_id", "event_type", "value", "ts"]
    )
    d = tempfile.mkdtemp()
    ev.write.mode("overwrite").parquet(f"{d}/events.parquet")

    d_max = max(l for _, l in span.values())
    tw = {u: (l - f) // 7 for u, (f, l) in span.items()}
    cen = {u: (d_max - l) < 7 for u, (f, l) in span.items()}
    exp_n = {w: sum(1 for u in tw if tw[u] >= w)
             for w in range(A.HAZARD_MAX_WEEK + 1)}
    exp_d = {w: sum(1 for u in tw if tw[u] == w and not cen[u])
             for w in range(A.HAZARD_MAX_WEEK + 1)}
    got_h = {r["tenure_week"]: r for r in A.q_tenure_hazard(spark, d).collect()}
    for w in range(A.HAZARD_MAX_WEEK + 1):
        assert (got_h[w]["n_at_risk"], got_h[w]["n_churned"]) == (
            exp_n[w], exp_d[w]), w

    s, exp_s = 1_000_000, {}
    for w in range(A.HAZARD_MAX_WEEK + 1):
        num = exp_n[w] - exp_d[w] if exp_n[w] > 0 else 1
        den = exp_n[w] if exp_n[w] > 0 else 1
        s = (s * num) // den
        exp_s[w] = s
    got_s = {r["tenure_week"]: r["surv_ppm"]
             for r in A.q_km_survival(spark, d).collect()}
    assert got_s == exp_s


@_slow
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=4),      # user
            st.integers(min_value=0, max_value=500),    # seconds offset
            st.sampled_from(["view", "click", "purchase"]),
        ),
        min_size=1, max_size=40,
    )
)
def test_join_asof_nearest_equals_bruteforce(spark, tmp_path_factory, evs):
    """On arbitrary event streams, the single-sort nearest as-of join
    equals a brute-force argmin with the documented tie contract
    (min |d|; exact ties prefer backward; equal-ts ties max-id
    backward / min-id forward)."""
    from datetime import datetime, timedelta

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.relational import (
        q_join_asof_nearest,
    )

    base = datetime(2024, 1, 1)
    rows = [
        (i, base + timedelta(seconds=s), u, t)
        for i, (u, s, t) in enumerate(evs)
    ]
    d = str(tmp_path_factory.mktemp("asof_nearest"))
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    ).write.parquet(f"{d}/events.parquet")
    got = {
        r.click_id: (r.nearest_view_id, r.abs_diff_us)
        for r in q_join_asof_nearest(spark, d).collect()
    }
    # brute force with the documented tie order
    views = [(i, u, s) for i, (u, s, t) in enumerate(evs) if t == "view"]
    want = {}
    for ci, (cu, cs, ct) in enumerate(evs):
        if ct != "click":
            continue
        cands = [
            (abs(cs - vs) * 1_000_000,
             0 if vs <= cs else 1,
             -vi if vs <= cs else vi,
             vi)
            for vi, vu, vs in views if vu == cu
        ]
        if cands:
            best = min(cands)
            want[ci] = (best[3], best[0])
    assert got == want


@_slow
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=5),       # customer
            st.integers(min_value=2020, max_value=2024), # year
            st.integers(min_value=0, max_value=10**7),   # cents
        ),
        min_size=1, max_size=40,
    )
)
def test_spend_migration_equals_replay(spark, tmp_path_factory, orders):
    """On arbitrary order sets, the full-outer migration matrix equals
    a pure-Python replay of the bucket/transition/phantom-exclusion
    semantics."""
    import collections
    from datetime import datetime

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.analytics import (
        GAP_BUCKETS,
    )
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.market import (
        q_spend_migration,
    )

    rows = [
        (i, cu, datetime(y, 6, 15), c / 100.0)
        for i, (cu, y, c) in enumerate(orders)
    ]
    d = str(tmp_path_factory.mktemp("spend_mig"))
    spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_orderdate timestamp, "
        "o_totalprice double",
    ).write.parquet(f"{d}/orders.parquet")
    got = {
        (r.from_year, r.from_bucket, r.to_bucket):
            (r.n_customers, r.cohort_n, r.share_ppm)
        for r in q_spend_migration(spark, d).collect()
    }

    def bucket(spend):
        for b, lo, hi in GAP_BUCKETS:
            if lo <= spend <= hi:
                return b
        raise AssertionError(spend)

    spend = collections.Counter()
    for cu, y, c in orders:
        spend[(cu, y)] += c
    bk = {(cu, y): bucket(s) for (cu, y), s in spend.items()}
    years = sorted({y for _, y in bk})
    y_min, y_max = years[0], years[-1]
    trans = collections.Counter()
    custs = {cu for cu, _ in bk}
    for cu in custs:
        for y in range(y_min, y_max):
            a, b = bk.get((cu, y)), bk.get((cu, y + 1))
            if a is None and b is None:
                continue
            trans[(y, a if a is not None else -1,
                   b if b is not None else -1)] += 1
    tot = collections.Counter()
    for (y, fb, tb), n in trans.items():
        tot[(y, fb)] += n
    want = {
        k: (n, tot[(k[0], k[1])], 1_000_000 * n // tot[(k[0], k[1])])
        for k, n in trans.items()
    }
    assert got == want


@_slow
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=4),        # customer
            st.integers(min_value=0, max_value=23),       # month offset
            st.integers(min_value=0, max_value=10**6),    # cents
        ),
        min_size=1, max_size=30,
    )
)
def test_cohort_ltv_equals_replay(spark, tmp_path_factory, orders):
    """On arbitrary order sets, the cohort LTV curve equals a
    pure-Python replay: first-order-month cohorts, per-(cohort, age)
    cents, cumulative across OBSERVED ages only (no gap-fill), floor
    per-member LTV."""
    import collections
    from datetime import datetime

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.market import (
        q_cohort_ltv,
    )

    rows = [
        (i, cu, datetime(2020 + mo // 12, mo % 12 + 1, 10), c / 100.0)
        for i, (cu, mo, c) in enumerate(orders)
    ]
    d = str(tmp_path_factory.mktemp("cohort_ltv"))
    spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_orderdate timestamp, "
        "o_totalprice double",
    ).write.parquet(f"{d}/orders.parquet")
    got = {
        (r.cohort_month.isoformat(), r.month_age):
            (r.n_customers, r.rev_cents, r.cum_rev_cents,
             r.ltv_cents_per_customer)
        for r in q_cohort_ltv(spark, d).collect()
    }

    first = {}
    for cu, mo, c in orders:
        first[cu] = min(first.get(cu, mo), mo)
    sizes = collections.Counter(first.values())
    cells = collections.Counter()
    for cu, mo, c in orders:
        cells[(first[cu], mo - first[cu])] += c
    want = {}
    for cm in sizes:
        cum = 0
        for age in sorted(a for (m, a) in cells if m == cm):
            cum += cells[(cm, age)]
            key = (f"{2020 + cm // 12}-{cm % 12 + 1:02d}-01", age)
            want[key] = (sizes[cm], cells[(cm, age)], cum,
                         cum // sizes[cm])
    assert got == want


@_slow
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),     # cust nation
            st.integers(min_value=0, max_value=2),     # supp nation
            st.integers(min_value=1, max_value=10**6), # cents
        ),
        min_size=1, max_size=30,
    )
)
def test_trade_balance_equals_replay(spark, tmp_path_factory, lines):
    """On arbitrary flow sets (incl. one-way pairs and diagonals), the
    mirrored-pair balance equals a pure-Python replay with the signed
    truncating ppm."""
    import collections

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.graph import (
        q_trade_balance,
    )

    cust = spark.createDataFrame(
        [(i, i) for i in range(3)], "c_custkey long, c_nationkey int"
    )
    supp = spark.createDataFrame(
        [(10 + i, i) for i in range(3)], "s_suppkey long, s_nationkey int"
    )
    nat = spark.createDataFrame(
        [(i, f"N{i}") for i in range(3)], "n_nationkey int, n_name string"
    )
    od = spark.createDataFrame(
        [(100 + cn, cn) for cn in range(3)], "o_orderkey long, o_custkey long"
    )
    li = spark.createDataFrame(
        [(100 + cn, 10 + sn, c / 100.0, 0.0)
         for cn, sn, c in lines],
        "l_orderkey long, l_suppkey long, l_extendedprice double, "
        "l_discount double",
    )
    d = str(tmp_path_factory.mktemp("trade_bal"))
    for name, df in [("customer", cust), ("supplier", supp),
                     ("nation", nat), ("orders", od), ("lineitem", li)]:
        df.write.parquet(f"{d}/{name}.parquet")
    got = {
        (r.nation_a, r.nation_b):
            (r.lines_ab, r.lines_ba, r.cents_ab, r.cents_ba,
             r.imbalance_ppm)
        for r in q_trade_balance(spark, d).collect()
    }

    flow_n = collections.Counter()
    flow_c = collections.Counter()
    for cn, sn, c in lines:
        if cn != sn:
            flow_n[(cn, sn)] += 1
            flow_c[(cn, sn)] += c
    want = {}
    pairs = {(min(a, b), max(a, b)) for a, b in flow_n}
    for a, b in pairs:
        cab, cba = flow_c.get((a, b), 0), flow_c.get((b, a), 0)
        tot = cab + cba
        # signed truncating two-step ppm (toward zero)
        num = cab - cba
        imb = None
        if tot > 0:
            s = -1 if num < 0 else 1
            n = abs(num)
            imb = s * ((n * 1000) // tot * 1000 + (n * 1000) % tot * 1000 // tot)
        want[(f"N{a}", f"N{b}")] = (
            flow_n.get((a, b), 0), flow_n.get((b, a), 0), cab, cba, imb
        )
    assert got == want


_syms = st.text(alphabet="ab", min_size=1, max_size=2)


@_slow
@given(
    st.lists(st.text(alphabet="abc", min_size=1, max_size=10),
             min_size=1, max_size=6),
    st.lists(st.tuples(_syms, _syms), min_size=1, max_size=3),
)
def test_bpe_fold_rule_matches_greedy_reference(spark, raw_words, rules):
    """The codegen'd array left-fold applies ANY rule sequence exactly
    like sequential left-to-right greedy BPE — including equal-symbol
    runs, chained rules over merged symbols, and rules that never
    match.  Random words x random rule tables vs a plain-Python
    reference."""
    from pyspark.sql import functions as F

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.text import (
        _bpe_fold_rule,
    )

    words = sorted(set(raw_words))

    def greedy(word):
        seq = list(word)
        for a, b in rules:
            out, i = [], 0
            while i < len(seq):
                if i + 1 < len(seq) and seq[i] == a and seq[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(seq[i])
                    i += 1
            seq = out
        return seq

    df = spark.createDataFrame([(w,) for w in words], "word string")
    col = F.filter(F.split("word", ""), lambda s: s != "")
    for a, b in rules:
        col = _bpe_fold_rule(col, a, b)
    got = {r.word: r.syms for r in df.select("word", col.alias("syms")).collect()}
    assert got == {w: greedy(w) for w in words}


@_slow
@given(st.integers(min_value=0, max_value=2**31 - 1),
       st.integers(min_value=1, max_value=40),
       st.integers(min_value=1, max_value=40),
       st.integers(min_value=1, max_value=64))
def test_d2_block_exactly_matches_int_arithmetic(seed, n, m, dim):
    """The BLAS float64 d2 block is EXACTLY the int64 squared-L2 matrix
    for any int8-range inputs — the exactness claim the strategy
    identity rests on (every intermediate an integer << 2^53, and
    integer f64 addition is exact under any accumulation order)."""
    import numpy as np

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.similarity import (
        _d2_block,
    )

    rng = np.random.default_rng(seed)
    X = rng.integers(-127, 128, size=(n, dim)).astype(np.float64)
    Y = rng.integers(-127, 128, size=(m, dim)).astype(np.float64)
    got = _d2_block(X, Y, (Y * Y).sum(axis=1)).astype(np.int64)
    xi = X.astype(np.int64)
    yi = Y.astype(np.int64)
    want = ((xi[:, None, :] - yi[None, :, :]) ** 2).sum(axis=2)
    assert (got == want).all()
