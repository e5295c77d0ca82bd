"""Dedup operator semantics on constructed corpora + recall of the LSH
paths against the exact pairwise baseline on real testdata."""

from __future__ import annotations

import pytest
from pyspark.errors import SparkRuntimeException
from pyspark.sql import functions as F

from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators import dedup
from tests.conftest import SF_SMALL, build_jobs


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_exact_dedup_normalizes_whitespace_and_case(spark):
    df = _docs(
        spark,
        ["Hello  World", "hello world", "HELLO\tWORLD ", "different doc entirely"],
    )
    out = {r.keep_id: r.dup_count for r in dedup.exact_dedup(df).collect()}
    assert out == {0: 3, 3: 1}


def test_jaccard_pairs_finds_near_identical(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    df = _docs(spark, [base, base + " ok", "完全 不同 的 文字 something else entirely ok yes"])
    pairs = {(r.id_a, r.id_b): r.jaccard for r in dedup.jaccard_pairs(df, threshold=0.5).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.9
    assert all(k == (0, 1) for k in pairs)


def test_minhash_identical_docs_always_candidates(spark):
    df = _docs(spark, ["alpha beta gamma delta epsilon zeta", "alpha beta gamma delta epsilon zeta", "one two three four five six"])
    cands = {(r.id_a, r.id_b) for r in dedup.minhash_candidate_pairs(df).collect()}
    assert (0, 1) in cands


def test_minhash_recall_vs_exact(spark):
    """LSH (k=32, b=8, r=4) must recover the overwhelming majority of
    true pairs at jaccard >= 0.7 on the real documents table."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    exact = {
        (r.id_a, r.id_b)
        for r in dedup.jaccard_pairs(docs, n=3, threshold=0.7, block_col=F.lit(0)).collect()
    }
    lsh = {
        (r.id_a, r.id_b) for r in dedup.minhash_dedup_pairs(docs, threshold=0.7, n=3).collect()
    }
    assert lsh <= exact or not exact  # verify step guarantees no false positives
    if exact:
        recall = len(lsh & exact) / len(exact)
        assert recall >= 0.8, f"minhash recall too low: {recall}"


def test_simhash_signatures_match_per_doc_recompute(spark):
    """The batch-vectorized signature pass must reproduce, bit for bit,
    a straightforward per-document recompute of the simhash definition
    (majority vote over xxhash64 of distinct whitespace tokens) driven
    by Spark's own xxhash64 values."""
    import numpy as np

    texts = [
        "spark shuffles sort merge join hash",
        "spark shuffles sort merge join hash extra",
        "one",
        "",
        "   ",
        "repeated repeated repeated token",
    ]
    df = _docs(spark, texts)
    got = {r["doc_id"]: r["simhash"] for r in dedup.simhash_signatures(df).collect()}

    hashed = df.select(
        "doc_id",
        F.transform(
            F.array_distinct(dedup.tokens("text")), lambda t: F.xxhash64(t)
        ).alias("h"),
    ).collect()
    for row in hashed:
        # xxhash64 values are signed longs; a direct uint64 cast of
        # negative Python ints is deprecated (an error under NumPy 2.x)
        arr = np.array(row["h"], dtype=np.int64).view(np.uint64)
        sig = np.uint64(0)
        if arr.size:
            for i in range(64):
                ones = int(((arr >> np.uint64(i)) & np.uint64(1)).sum())
                if 2 * ones - arr.size > 0:
                    sig |= np.uint64(1) << np.uint64(i)
        expected = int(sig) - (1 << 64) if int(sig) >= (1 << 63) else int(sig)
        assert got[row["doc_id"]] == expected


def test_containment_finds_quotes_jaccard_misses(spark):
    """A short doc copied verbatim into a long one: containment must
    flag (short, long) at 1.0, must NOT flag the reverse direction, and
    symmetric Jaccard must miss the pair entirely (the union drowns the
    quote) — the reason containment is its own operator."""
    quote = "alpha beta gamma delta epsilon zeta eta theta"
    long_doc = quote + " " + " ".join(f"filler{i}" for i in range(40))
    other = " ".join(f"noise{i}" for i in range(30))
    df = _docs(spark, [quote, long_doc, other])
    pairs = {
        (r.id_a, r.id_b): r.containment
        for r in dedup.containment_pairs(df, threshold=0.8).collect()
    }
    assert pairs.get((0, 1)) == 1.0
    assert (1, 0) not in pairs
    jac = {
        (r.id_a, r.id_b)
        for r in dedup.jaccard_pairs(df, n=3, threshold=0.6).collect()
    }
    assert (0, 1) not in jac


def test_simhash_chunked_matches_unchunked(spark):
    """The bounded-token-chunk path (ADVICE r4: reduceat instead of a
    full-batch cumsum copy) must be signature-identical to the
    single-chunk path, including around doc boundaries, oversized docs,
    and empty docs adjacent to chunk edges."""
    texts = [
        " ".join(f"t{i}" for i in range(13)),   # larger than the chunk cap
        "",                                      # empty at a chunk edge
        "a b c",
        "   ",
        "d e f g h",
        "one",
        "",
    ]
    df = _docs(spark, texts)
    big = {r["doc_id"]: r["simhash"]
           for r in dedup.simhash_signatures(df, max_chunk_tokens=1 << 16).collect()}
    tiny = {r["doc_id"]: r["simhash"]
            for r in dedup.simhash_signatures(df, max_chunk_tokens=4).collect()}
    assert big == tiny and len(big) == len(texts)


def test_simhash_identical_distance_zero(spark):
    df = _docs(spark, ["spark shuffles sort merge join hash", "spark shuffles sort merge join hash", "entirely unrelated words appear here now"])
    pairs = {(r.id_a, r.id_b): r.hamming for r in dedup.simhash_pairs(df, max_distance=3).collect()}
    assert pairs.get((0, 1)) == 0
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_jaccard_boundary_straddling_lengths_meet(spark):
    """Near-identical docs whose token counts straddle a bucket boundary
    (15 vs 16 tokens here) must still be compared — each doc is emitted
    into its own AND the successor bucket."""
    base = [f"w{i}" for i in range(15)]
    a = " ".join(base)                      # 15 tokens -> bucket 0
    b = " ".join(base + ["extra"])          # 16 tokens -> bucket 1
    df = _docs(spark, [a, b])
    pairs = {(r.id_a, r.id_b): r.jaccard for r in dedup.jaccard_pairs(df, threshold=0.5).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.9


def test_jaccard_max_block_size_guard(spark):
    """A length-uniform corpus collapses into one bucket; the guard must
    refuse instead of silently running all-pairs."""
    df = _docs(spark, [f"a b c d e unique{i}" for i in range(50)])
    with pytest.raises(SparkRuntimeException, match="block"):
        dedup.jaccard_pairs(df, max_block_size=20).collect()


# Jobs that building each registry query over jaccard_pairs starts: only
# the shuffle stages that AQE runs for the query's lazy localCheckpoint
# pins (dedup_jaccard: the spread of the single-file scan under its
# shingle pin; minhash_quality: that one plus five under its LSH side's
# and re-verify pins).  No probe job picks a plan.
_BUILD_JOBS = {"q_dedup_jaccard": 1, "q_minhash_quality": 6}


@pytest.mark.parametrize("query", sorted(_BUILD_JOBS))
def test_jaccard_queries_build_only_their_pins(spark, query):
    q = getattr(dedup, query)
    q(spark, SF_SMALL)  # resolves the documents scan once
    assert build_jobs(
        spark, f"{query}-build", lambda: q(spark, SF_SMALL)
    ) == _BUILD_JOBS[query]


def test_simhash_hot_bucket_guard(spark):
    """A degenerate corpus (identical texts -> identical simhash -> one
    chunk bucket holds everything) must raise loudly instead of silently
    going quadratic."""
    df = spark.createDataFrame(
        [(i, "same words every time") for i in range(40)], "doc_id long, text string"
    )
    with pytest.raises(SparkRuntimeException, match="chunk bucket"):
        dedup.simhash_pairs(df, max_bucket_size=20).collect()
    # under the cap: runs fine on a diverse corpus
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").limit(50)
    dedup.simhash_pairs(docs, max_bucket_size=50).collect()


def test_decontaminate_flags_ngram_overlap(spark):
    """A corpus doc sharing a >=5-token run with the benchmark is
    flagged; disjoint docs are not; counts are distinct shared grams."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.dedup import decontaminate

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            # contains "quick brown fox jumps over" (one shared 5-gram)
            (1, "said the quick brown fox jumps over everything"),
            (2, "completely different words appear in this document"),
            # short doc, whole-doc gram not in benchmark
            (3, "tiny doc"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in decontaminate(corpus, bench).collect()}
    assert rows[1].contaminated and rows[1].n_shared_ngrams >= 1
    assert not rows[2].contaminated and rows[2].n_shared_ngrams == 0
    assert not rows[3].contaminated


def test_editdistance_finds_planted_typos(spark):
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.dedup import editdistance_pairs

    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brwon fox jmups over the lazy dog again and again"),  # 4 edits
        (3, "a completely different document about spark shuffles and joins"),
        (4, "zz"),  # short doc, different length band
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {(r["id_a"], r["id_b"]) for r in editdistance_pairs(df, max_dist=6).collect()}
    assert (1, 2) in got
    assert all(p in {(1, 2), (1, 3), (2, 3)} for p in got)
    # the unrelated same-band doc must NOT pair with the near-dups
    assert (1, 3) not in got and (2, 3) not in got


def test_editdistance_block_guard(spark):
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.dedup import editdistance_pairs

    df = spark.createDataFrame(
        [(i, "same length text padded here!") for i in range(50)], ["doc_id", "text"]
    )
    with pytest.raises(SparkRuntimeException, match="first-token"):
        editdistance_pairs(df, max_block_size=10).collect()


# One arm per near-dup operator: the operator with a cap, the cap's
# message, a corpus that collapses into one block, and the cap that
# corpus overflows.
_CAP_ARMS = {
    "jaccard": (
        lambda df, cap: dedup.jaccard_pairs(df, max_block_size=cap),
        r"jaccard_pairs: largest block holds \d+ docs \(> cap 20\)",
        [f"a b c d e unique{i}" for i in range(50)], 20,
    ),
    "simhash": (
        lambda df, cap: dedup.simhash_pairs(df, max_bucket_size=cap),
        r"simhash_pairs: largest chunk bucket holds \d+ docs \(> cap 20\)",
        ["same words every time"] * 40, 20,
    ),
    "editdistance": (
        lambda df, cap: dedup.editdistance_pairs(df, max_block_size=cap),
        r"editdistance_pairs: largest \(band, first-token\) block holds \d+ "
        r"docs \(> cap 10\)",
        ["same length text padded here!"] * 50, 10,
    ),
    "winnow": (
        lambda df, cap: dedup.winnow_pairs(df, max_fp_df=cap),
        r"winnow_pairs: largest fingerprint posting holds \d+ docs \(> cap 10\)",
        ["same exact words every single time again"] * 40, 10,
    ),
}


@pytest.mark.parametrize("arm", sorted(_CAP_ARMS))
def test_cap_guard_in_plan(spark, arm):
    """The near-dup cap is one in-plan guard: a degenerate corpus fails
    the job with the operator's cap message, a healthy corpus gives the
    same pairs as no cap, and building a capped query starts no more
    Spark jobs than building an uncapped one."""
    op, message, bad_texts, bad_cap = _CAP_ARMS[arm]
    with pytest.raises(SparkRuntimeException, match=message):
        op(_docs(spark, bad_texts), bad_cap).collect()

    # healthy: the sf0.001 documents plus a planted near-copy of each of
    # the first five, so every arm has pairs to compare
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select("doc_id", "text")
    planted = [
        (r.doc_id + 1_000_000, r.text + " ok")
        for r in docs.orderBy("doc_id").limit(5).collect()
    ]
    healthy = docs.unionByName(spark.createDataFrame(planted, docs.schema))
    uncapped = sorted(op(healthy, None).collect())
    assert uncapped
    assert sorted(op(healthy, 1_000).collect()) == uncapped

    assert build_jobs(
        spark, f"cap-guard-{arm}-capped", lambda: op(healthy, 1_000)
    ) == build_jobs(spark, f"cap-guard-{arm}-uncapped", lambda: op(healthy, None))


def test_editdistance_matches_bruteforce_random_corpus(spark):
    """Seeded random corpus: the blocked operator must agree exactly
    with a driver-side brute-force recompute of its contract (same
    length band + same first token, pairs within threshold)."""
    import random
    import re

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.dedup import (
        editdistance_pairs,
    )

    rng = random.Random(7)
    alphabet = "abcdef "
    docs = []
    for i in range(120):
        n = rng.randint(20, 120)
        docs.append((i, "".join(rng.choice(alphabet) for _ in range(n))))
    # plant mutated near-dups
    for i in range(120, 140):
        base_id = rng.randrange(120)
        s = list(docs[base_id][1])
        for _ in range(rng.randint(1, 4)):
            s[rng.randrange(len(s))] = rng.choice(alphabet)
        docs.append((i, "".join(s)))

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    def ftok(s: str) -> str:
        m = re.match(r"^\s*(\S+)", s)
        return m.group(1) if m else ""

    expect = set()
    for ia, ta in docs:
        for ib, tb in docs:
            if ia < ib and len(ta) // 32 == len(tb) // 32 and ftok(ta) == ftok(tb):
                if lev(ta[:48], tb[:48]) <= 12:
                    expect.add((ia, ib))

    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {(r["id_a"], r["id_b"]) for r in editdistance_pairs(df).collect()}
    assert got == expect and expect


def test_dedup_best_survivor_argmax(spark):
    """The kept copy is the true (quality, id) argmax of its duplicate
    group, and groups agree with the md5-of-normalized-text partition."""
    from collections import defaultdict

    import pyspark.sql.functions as F

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.functions.columns import (
        norm_text,
    )
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators import (
        dedup as D,
    )
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.text import (
        quality_ppm,
    )
    from tests.conftest import SF_SMALL

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.functions.columns import (
        tokens,
    )

    scored = docs.select(
        "doc_id",
        F.md5(F.array_join(F.slice(tokens("text"), 1, 16), " ")).alias("fp"),
        quality_ppm("text").alias("q"),
    ).collect()
    groups = defaultdict(list)
    for r in scored:
        groups[r.fp].append((r.q, r.doc_id))
    out = D.q_dedup_best_survivor(spark, SF_SMALL).collect()
    assert out, "prefix families exist at every sf"
    for r in out:
        grp = groups[r.fp]
        assert r.n_dups == len(grp) > 1
        assert (r.keep_q_ppm, r.keep_id) == max(grp)
        assert r.min_id == min(i for _, i in grp)
    # the two policies agree only when the best copy is also the oldest;
    # at least one group must show why the policy matters... unless the
    # corpus' dups are byte-identical (equal quality -> argmax id).
    assert all(r.keep_id >= r.min_id for r in out)


def test_record_linkage_recovers_truth(spark):
    """The planted single-deletion corruption is recovered: nearly
    every dirty record links back to its own clean row (ties with a
    digit-shifted neighbor are possible but must be rare), and the
    assignment is one-to-one."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators import (
        dedup as D,
    )
    from tests.conftest import SF_SMALL

    n_cust = spark.read.parquet(f"{SF_SMALL}/customer.parquet").count()
    rows = D.q_record_linkage(spark, SF_SMALL).collect()
    assert len(rows) >= 0.95 * n_cust
    assert len({r.matched_cid for r in rows}) == len(rows)  # one-to-one
    correct = sum(1 for r in rows if r.correct)
    assert correct >= 0.95 * len(rows)
    assert all(r.lev <= 2 for r in rows)


def test_source_overlap_bounds(spark):
    """Shared-family counts bounded by both totals; ppm reproduces the
    exact integer definition; pairs are ordered."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators import (
        dedup as D,
    )
    from tests.conftest import SF_SMALL

    rows = D.q_source_overlap(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert r.src_a < r.src_b
        assert 0 < r.shared_fams <= min(r.tot_a, r.tot_b)
        assert r.overlap_ppm == (1_000_000 * r.shared_fams) // min(r.tot_a, r.tot_b)


def test_winnow_pairs_guarantee_and_guard(spark):
    """The winnowing guarantee (Schleimer et al.): two docs sharing any
    token run of length >= n+w-1 (= 6 here) share at least one SELECTED
    fingerprint, so the pair MUST surface at min_shared=1.  Unrelated
    docs share nothing.  The hot-posting guard refuses a corpus where
    one fingerprint's posting list exceeds the cap."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.dedup import winnow_pairs

    shared_run = "alpha beta gamma delta epsilon zeta"  # 6 tokens = n+w-1
    rows = [
        (1, f"intro words here {shared_run} closing remarks one"),
        (2, f"totally different opening {shared_run} and another tail"),
        (3, "unrelated content about nothing shared with others at all"),
        (4, ""),  # blank: excluded, must not weld into a clique
        (5, ""),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {(r.id_a, r.id_b) for r in winnow_pairs(df, min_shared=1).collect()}
    assert (1, 2) in got
    assert all(3 not in p and 4 not in p and 5 not in p for p in got)

    hot = spark.createDataFrame(
        [(i, "same exact words every single time again") for i in range(40)],
        ["doc_id", "text"],
    )
    with pytest.raises(SparkRuntimeException, match="posting"):
        winnow_pairs(hot, max_fp_df=10).collect()


def test_winnow_pairs_strategy_identity(spark):
    """The one fingerprint stream (a mapInPandas pass over
    hash(id)-partitioned text) keeps the per-document contract: two
    rows sharing an id RAISE instead of welding their fingerprint sets.
    Its pair output is checked against the DuckDB oracle, and its
    ``min_shared=1`` pairs by literal, in tests/test_kernel_oracle.py."""
    import pytest

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.dedup import (
        winnow_pairs,
    )

    dup = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"),
         (1, "zeta eta theta iota kappa")],
        ["doc_id", "text"],
    )
    with pytest.raises(Exception, match="non-null and unique"):
        winnow_pairs(dup, min_shared=1).collect()


def test_stitch_overlap_pairs(spark):
    """Known tail->head overlaps found, sub-k docs and self-periodic
    docs excluded, and the pair is ORDERED (a ends, b starts)."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.dedup import (
        stitch_overlap_pairs,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),   # tail: gamma delta epsilon
            (2, "gamma delta epsilon zeta eta"),      # head matches 1's tail
            (3, "delta epsilon zeta"),                # head != any tail
            (4, "x y"),                               # < 3 tokens: excluded
            (5, "p q r p q r"),                       # self-periodic: no self-pair
            (6, "other words entirely here now"),
        ],
        ["doc_id", "text"],
    )
    got = {(r.a_id, r.b_id): r.gram
           for r in stitch_overlap_pairs(docs, k=3).collect()}
    assert got == {(1, 2): "gamma delta epsilon"}


def test_stitch_overlap_is_exact_definition(spark):
    """The join IS the predicate: brute-force recompute in python over
    a randomized corpus agrees exactly."""
    import random

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.dedup import (
        stitch_overlap_pairs,
    )

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(12)]
    texts = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 8))))
        for i in range(40)
    ]
    docs = spark.createDataFrame(texts, ["doc_id", "text"])
    got = {(r.a_id, r.b_id) for r in stitch_overlap_pairs(docs, k=2).collect()}
    want = set()
    for a, ta in texts:
        wa = ta.split()
        for b, tb in texts:
            wb = tb.split()
            if a != b and len(wa) >= 2 and len(wb) >= 2 and wa[-2:] == wb[:2]:
                want.add((a, b))
    assert got == want


def test_source_minhash_overlap_planted(spark):
    """Identical sources -> every signature component matches (est =
    true = 1e6); disjoint sources -> zero matches and zero Jaccard."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.dedup import (
        source_minhash_overlap,
    )

    same = "alpha beta gamma delta epsilon zeta eta theta"
    other = "one two three four five six seven eight nine"
    docs = spark.createDataFrame(
        [
            (1, same, "srcA"),
            (2, same, "srcB"),
            (3, other, "srcC"),
            (4, "", "srcC"),  # blank: must not alias into shared grams
        ],
        ["doc_id", "text", "source"],
    )
    out = {(r["source_a"], r["source_b"]): r
           for r in source_minhash_overlap(docs, k=32).collect()}
    ab = out[("srcA", "srcB")]
    assert ab["n_match"] == 32
    assert ab["est_jaccard_ppm"] == 1_000_000
    assert ab["true_jaccard_ppm"] == 1_000_000
    for pair in (("srcA", "srcC"), ("srcB", "srcC")):
        assert out[pair]["n_match"] == 0
        assert out[pair]["true_jaccard_ppm"] == 0


def test_source_minhash_sketch_error_band(spark, sf=None):
    """On the real corpus the 32-perm estimate stays within a loose
    4-sigma band of the exact Jaccard (se ~ sqrt(J(1-J)/32) <= 0.09)."""
    from conftest import SF_SMALL

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.dedup import (
        q_source_minhash_overlap,
    )

    for r in q_source_minhash_overlap(spark, SF_SMALL).collect():
        assert abs(r["est_jaccard_ppm"] - r["true_jaccard_ppm"]) <= 360_000


def test_duplicated_ngram_coverage_hand_case(spark):
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.dedup import (
        duplicated_ngram_coverage,
    )

    docs = spark.createDataFrame(
        [
            (1, "t1 t2 t3 t4 t5 t6 t7 t8"),      # shares one 5-gram with doc 2
            (2, "x1 t3 t4 t5 t6 t7 x2"),
            (3, "a b c"),                        # too short for any window
            (4, ""),                             # blank
            (5, "r s u v w r s u v w r s u v w"),  # self-repeating
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in duplicated_ngram_coverage(docs, window=5).collect()}
    assert out[1]["n_windows"] == 4 and out[1]["n_dup_windows"] == 1
    assert out[1]["covered_tokens"] == 5
    assert out[1]["coverage_ppm"] == 5_000_000 // 8
    assert out[2]["n_windows"] == 3 and out[2]["n_dup_windows"] == 1
    assert out[2]["covered_tokens"] == 5
    assert out[2]["coverage_ppm"] == 5_000_000 // 7
    assert out[3]["n_windows"] == 0 and out[3]["covered_tokens"] == 0
    assert out[4]["n_tokens"] == 0 and out[4]["coverage_ppm"] == 0
    # every window of the periodic doc recurs -> full coverage
    assert out[5]["n_dup_windows"] == out[5]["n_windows"] == 11
    assert out[5]["covered_tokens"] == 15
    assert out[5]["coverage_ppm"] == 1_000_000


def test_dup_span_mask_matches_coverage(spark):
    """The mask rows are exactly the coverage op's islands: per doc,
    sum(span_len) == covered_tokens (min_span = window so no island is
    dropped), spans are disjoint and ordered."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.dedup import (
        dup_span_mask,
        duplicated_ngram_coverage,
    )

    docs = spark.createDataFrame(
        [
            (1, "t1 t2 t3 t4 t5 t6 t7 t8"),
            (2, "x1 t3 t4 t5 t6 t7 x2"),
            (5, "r s u v w r s u v w r s u v w"),
            (6, "q q2 q3 t3 t4 t5 t6 t7 z1 z2 z3 z4 z5 t1 t2 t3 t4 t5 t6 t7"),
        ],
        ["doc_id", "text"],
    )
    spans = dup_span_mask(docs, window=5, min_span=5).collect()
    cov = {r["doc_id"]: r["covered_tokens"]
           for r in duplicated_ngram_coverage(docs, window=5).collect()}
    per_doc: dict[int, list] = {}
    for r in spans:
        assert r["span_len"] == r["span_end_excl"] - r["span_start"] >= 5
        per_doc.setdefault(r["doc_id"], []).append(
            (r["span_start"], r["span_end_excl"])
        )
    for d, ivs in per_doc.items():
        ivs.sort()
        assert sum(e - s for s, e in ivs) == cov[d]
        for (s1, e1), (s2, e2) in zip(ivs, ivs[1:]):
            assert e1 < s2  # disjoint with a real gap (else merged)
    # doc 6 has two separate duplicated runs -> two spans
    assert len(per_doc[6]) == 2


def test_corpus_manifest_detects_change(spark):
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.dedup import (
        corpus_manifest,
    )

    base = [(1, "alpha beta", "s1"), (2, "gamma delta", "s1"), (3, "x", "s2")]
    a = spark.createDataFrame(base, ["doc_id", "text", "source"])
    m1 = {r["source"]: r for r in corpus_manifest(a).collect()}
    # identical content, different row order -> identical manifest
    b = spark.createDataFrame(list(reversed(base)), ["doc_id", "text", "source"])
    m2 = {r["source"]: r for r in corpus_manifest(b).collect()}
    assert m1 == m2
    # one doc edited -> that source's fingerprints move, the other's don't
    edited = [(1, "alpha beta!", "s1"), (2, "gamma delta", "s1"), (3, "x", "s2")]
    m3 = {r["source"]: r for r in corpus_manifest(
        spark.createDataFrame(edited, ["doc_id", "text", "source"])).collect()}
    assert m3["s2"] == m1["s2"]
    assert m3["s1"]["content_xor"] != m1["s1"]["content_xor"]
    # duplicating an existing doc is invisible to xor-of-pairs but NOT
    # to the modular sum (multiplicity signal)
    duped = base + [(4, "alpha beta", "s2"), (5, "alpha beta", "s2")]
    m4 = {r["source"]: r for r in corpus_manifest(
        spark.createDataFrame(duped, ["doc_id", "text", "source"])).collect()}
    assert m4["s2"]["content_xor"] == m1["s2"]["content_xor"]  # pair cancels
    assert m4["s2"]["content_modsum"] != m1["s2"]["content_modsum"]
