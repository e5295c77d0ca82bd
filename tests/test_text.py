"""Text-analysis operator semantics on constructed strings."""

from __future__ import annotations

from pyspark.sql import functions as F

from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators import text


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_text_stats(spark):
    df = _docs(spark, ["one two two three", "solo", ""])
    rows = {r.doc_id: r for r in text.with_text_stats(df).collect()}
    assert rows[0].n_tokens == 4
    assert rows[0].n_distinct_tokens == 3
    assert rows[0].distinct_ratio == 0.75
    assert rows[1].n_tokens == 1
    assert rows[2].n_tokens == 0 and rows[2].distinct_ratio == 0.0


def test_quality_score_bounds(spark):
    df = _docs(spark, ["word " * 100, "a a a a a a", "diverse tokens make a better doc score"])
    rows = {r.doc_id: r.quality_score for r in text.with_quality_score(df).collect()}
    assert all(0.0 <= v <= 1.0 for v in rows.values())
    assert rows[2] > rows[1]  # diversity rewarded


def test_lang_id(spark):
    df = _docs(
        spark,
        [
            "the cat and the dog sat in a house of cards",
            "el perro y la casa de los gatos que ladran",
            "le chat et les maisons des gens un jour",
            "der hund und die katze das ein nicht haus",
            "zzz qqq xxx",
        ],
    )
    rows = {r.doc_id: r.pred_lang for r in text.with_lang_id(df).collect()}
    assert rows == {0: "en", 1: "es", 2: "fr", 3: "de", 4: "und"}


def test_fingerprint_whitespace_case_invariant(spark):
    df = _docs(spark, ["Hello   World", "hello world", "hello worlds"])
    rows = {r.doc_id: r.fingerprint for r in text.with_fingerprint(df).collect()}
    assert rows[0] == rows[1] != rows[2]


def test_bpe_token_counts(spark):
    """BPE-ish split: contractions, space-prefixed words, digit groups
    capped at 3, punctuation runs — each its own token."""
    df = _docs(spark, ["don't stop", "abc 12345!!", ""])
    rows = {r.doc_id: r for r in text.with_token_counts(df).collect()}
    # don / 't / ' stop' -> 3 bpe tokens vs 2 ws tokens
    assert rows[0].ws_tokens == 2 and rows[0].bpe_tokens == 3
    # 'abc' / ' 123' / '45' / '!!' -> 4 bpe tokens vs 2 ws tokens
    assert rows[1].ws_tokens == 2 and rows[1].bpe_tokens == 4
    assert rows[2].ws_tokens == 0 and rows[2].bpe_tokens == 0


def test_quality_signals_ranges_and_ordering(spark):
    """Punctuation-heavy docs score below natural text; ratios in [0,1]."""
    natural = "the cat and the dog ran to a tree in the park of things"
    punct = "!!! ??? *** ### @@@ %%% ^^^ &&& ((( )))"
    rows = {
        r.doc_id: r
        for r in text.with_quality_signals(_docs(spark, [natural, punct])).collect()
    }
    for r in rows.values():
        assert 0.0 <= r.punct_ratio <= 1.0
        assert 0.0 <= r.stop_ratio <= 1.0
        assert 0.0 <= r.quality_full <= 1.0
    assert rows[0].quality_full > rows[1].quality_full
    assert rows[1].punct_ratio > 0.5 and rows[0].punct_ratio == 0.0
    assert rows[0].stop_ratio > 0.3 and rows[1].stop_ratio == 0.0


def test_winnow_fingerprints_detect_shared_runs(spark):
    """Docs sharing a run of >= n+w-1 tokens must share a fingerprint;
    disjoint docs share none; identical docs have identical digests."""
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens > 3+4-1
    a = "intro words here " + shared
    b = shared + " totally different tail words"
    c = "nothing in common with those documents at all whatsoever"
    out = text.with_winnow_fingerprint(_docs(spark, [a, b, a, c]))
    from pyspark.sql import functions as F

    # recompute raw fingerprint sets for overlap checks
    grams = text._positional_shingles("text", 3)
    hashes = F.transform(grams, lambda g: F.md5(g))
    wins = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(hashes) - 4, F.lit(0))),
        lambda i: F.array_min(F.slice(hashes, i + 1, 4)),
    )
    sets_ = {
        r.doc_id: set(r.fps)
        for r in _docs(spark, [a, b, a, c])
        .select("doc_id", F.array_distinct(wins).alias("fps"))
        .collect()
    }
    assert sets_[0] & sets_[1], "shared 8-token run must yield a common fingerprint"
    assert not (sets_[0] & sets_[3])
    digests = {r.doc_id: r.winnow_digest for r in out.collect()}
    assert digests[0] == digests[2]
    assert digests[0] != digests[3]


def test_pii_scrub_masks_planted_pii(spark):
    """The corpus may carry no real PII, so the oracle row alone is a
    weak signal — plant every pattern class and pin the masking."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.text import with_pii_scrub

    df = spark.createDataFrame(
        [
            (1, "contact bob.smith+x@example.co.uk for details"),
            (2, "call +1 (555) 123-4567 now"),
            (3, "account 123456789012 was closed"),
            (4, "no pii here at all"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in with_pii_scrub(df).collect()}
    assert rows[1].n_emails == 1 and "[EMAIL]" in rows[1].scrubbed
    assert "bob.smith" not in rows[1].scrubbed
    assert rows[2].n_phones == 1 and "[PHONE]" in rows[2].scrubbed
    assert rows[3].n_longnums == 1 and "[ID]" in rows[3].scrubbed
    assert rows[4].scrubbed == rows[4].text
    assert (rows[4].n_emails, rows[4].n_phones, rows[4].n_longnums) == (0, 0, 0)


def test_corpus_filter_reasons(spark):
    """Admission rules fire in order with the FIRST failing reason."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.text import with_corpus_filter

    df = spark.createDataFrame(
        [
            (1, "too short"),
            (2, " ".join(f"w{i}" for i in range(40))),
            (3, "a a a a a a a a a a a a"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r.admit_reason for r in with_corpus_filter(df).collect()}
    assert rows[1] == "too_short"
    assert rows[2] == "keep"
    assert rows[3] == "low_quality"


def test_chunk_documents_windows(spark):
    """Chunk boundaries: W=32/S=24 on a 50-token doc -> chunks at 0 and
    24 (second covers the 26-token tail); short and blank docs."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.text import chunk_documents

    long_doc = " ".join(f"t{i}" for i in range(50))
    df = spark.createDataFrame(
        [(1, long_doc), (2, "just five little words here"), (3, "   ")],
        "doc_id long, text string",
    )
    rows = sorted(
        chunk_documents(df).select("doc_id", "chunk_idx", "n_chunk_tokens").collect()
    )
    assert [(r.doc_id, r.chunk_idx, r.n_chunk_tokens) for r in rows] == [
        (1, 0, 32),
        (1, 1, 26),
        (2, 0, 5),
    ]
    texts = {
        (r.doc_id, r.chunk_idx): r.chunk_text for r in chunk_documents(df).collect()
    }
    assert texts[(1, 0)].split() == [f"t{i}" for i in range(32)]
    assert texts[(1, 1)].split() == [f"t{i}" for i in range(24, 50)]


def test_chunk_documents_covers_every_token(spark):
    """Every token position lands in at least one chunk (stride <= window)."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.text import chunk_documents

    for n in (1, 23, 24, 31, 32, 33, 56, 57, 100):
        df = spark.createDataFrame(
            [(1, " ".join(f"t{i}" for i in range(n)))], "doc_id long, text string"
        )
        seen = set()
        for r in chunk_documents(df).collect():
            seen.update(r.chunk_text.split())
        assert seen == {f"t{i}" for i in range(n)}, n


def test_repetition_signals(spark):
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.text import with_repetition_signals

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),      # top share 1.0, all bigrams dup
            (2, "all words here distinct"),  # no repetition
            (3, "one"),                      # single token: no bigrams
            (4, ""),                         # blank
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in with_repetition_signals(df).collect()}
    assert rows[1].top_token_share_1e6 == 1_000_000
    assert rows[1].dup_bigram_share_1e6 == 666_666  # 3 bigrams, 1 distinct
    assert rows[2].top_token_share_1e6 == 250_000
    assert rows[2].dup_bigram_share_1e6 == 0
    assert rows[3].top_token_share_1e6 == 1_000_000
    assert rows[3].dup_bigram_share_1e6 == 0
    assert rows[4].top_token_share_1e6 == 0 and rows[4].n_tokens == 0


def test_sequence_pack_budget_law(spark):
    """Every pack except a shard's last must end because the NEXT doc
    crossed the budget: pack token sums exceed budget only via their
    final (boundary) document, and oversized docs own their packs."""
    from conftest import SF_SMALL
    from pyspark.sql import functions as F

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.text import (
        sequence_pack,
    )

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    out = sequence_pack(docs, 256)
    # pack ids are dense-ish nonneg and per-(shard,pack) sums stay under
    # budget + the largest member (quotient-rule packing invariant)
    agg = (
        out.groupBy("source", "pack_id")
        .agg(F.sum("n_tokens").alias("tok"), F.max("n_tokens").alias("mx"))
        .collect()
    )
    assert agg
    for r in agg:
        assert r["pack_id"] >= 0
        assert r["tok"] < 256 + r["mx"]


def test_weighted_sample_rate_tracks_weight(spark):
    """Inclusion rate must increase with the weight column: the long-doc
    half of the corpus is kept strictly more often than the short half."""
    from conftest import SF_SMALL
    from pyspark.sql import functions as F

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.sample import (
        weighted_sample,
    )

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    med = docs.approxQuantile("n_chars", [0.5], 0.0)[0]
    kept = weighted_sample(docs, "n_chars", "doc_id", 800)
    def rate(df, pred):
        n = df.filter(pred).count()
        k = kept.filter(pred).count()
        return k / n
    lo = rate(docs, F.col("n_chars") < med)
    hi = rate(docs, F.col("n_chars") >= med)
    assert hi > lo
    # and determinism: same membership on a second evaluation
    a = {r["doc_id"] for r in kept.collect()}
    b = {r["doc_id"] for r in weighted_sample(docs, "n_chars", "doc_id", 800).collect()}
    assert a == b


def test_perplexity_ranks_rare_token_docs_first(spark, tmp_path):
    """A doc made of corpus-unique tokens must be the most perplexing
    under the corpus's own unigram model; a doc repeating the commonest
    tokens must rank last."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.text import q_perplexity_rank

    rows = [(0, "common common common common")] * 1
    rows += [(i, "common words appear here") for i in range(1, 8)]
    rows.append((8, "zyx qwv jkl mnb"))  # unique tokens -> max perplexity
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out_dir = str(tmp_path / "docs")
    df.write.parquet(out_dir + "/documents.parquet")
    got = q_perplexity_rank(spark, out_dir).collect()
    assert got[0].doc_id == 8 and got[0].ppl_rank == 1
    ranks = {r.doc_id: r.ppl_rank for r in got}
    assert ranks[0] == max(ranks.values())  # all-common doc is least perplexing
    """The CDC property: prepending content to a document must leave
    the chunk digests of the unmodified suffix intact (boundaries are
    functions of local content, not position) — fixed-window chunking
    cannot do this.  Doc 1 = 30 tokens; doc 2 = 7 new tokens + the same
    30: every chunk digest of doc 1 that starts after doc 2's first
    boundary must reappear in doc 2's digest set."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.text import cdc_chunks

    base = " ".join(f"tok{i}" for i in range(30))
    shifted = " ".join(f"new{i}" for i in range(7)) + " " + base
    df = spark.createDataFrame([(0, base), (1, shifted)], ["doc_id", "text"])
    rows = cdc_chunks(df).collect()
    d0 = {r.chunk_digest for r in rows if r.doc_id == 0}
    d1 = {r.chunk_digest for r in rows if r.doc_id == 1}
    # all base chunks except possibly the first (absorbed into the
    # prepended region until its first boundary) survive the shift
    shared = d0 & d1
    assert len(shared) >= len(d0) - 1 and len(d0) >= 2


def test_bm25_ranks_term_dense_docs_first(spark):
    """A toy corpus where relevance is unambiguous: the doc saturated
    with query terms must outrank the doc with one mention, and docs
    with zero query terms must not appear at all.  Also pins the
    rank-direction effect of the length normalization: same tf, shorter
    doc scores higher."""
    from pyspark.sql import functions as F  # noqa: F401

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.text import bm25_topk

    rows = [
        (1, "spark join hash spark join hash spark join"),
        (2, "spark " + "filler " * 40),
        (3, "spark " + "filler " * 5),
        (4, "nothing relevant here at all"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = bm25_topk(df, ["spark", "join", "hash"], topk=10).collect()
    order = [r["doc_id"] for r in got]
    assert 4 not in order
    assert order[0] == 1
    # same tf=1 for 'spark': shorter doc 3 beats longer doc 2
    assert order.index(3) < order.index(2)


def test_inverted_index_postings_exact(spark):
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.text import q_inverted_index
    from tests.conftest import SF_SMALL

    rows = {r["token"]: r for r in q_inverted_index(spark, SF_SMALL).collect()}
    assert rows  # common corpus words clear df >= 5
    for tok, r in rows.items():
        heads = [int(x) for x in r["postings_head"].split(",")]
        assert heads == sorted(heads)
        assert len(heads) == min(r["df"], 10)


def test_mixture_sample_tracks_targets(spark):
    """Drawn proportions must track the requested mixture: strictly
    descending kept-counts for 40/30/20/10 targets (expected counts 48/
    36/24/12 from 250-doc sources at sf0.01-size corpora), zero rows
    from unlisted sources, and deterministic membership."""
    from tests.conftest import SF_SMALL

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.sample import (
        MIXTURE_TARGETS,
        mixture_sample,
    )

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    kept = mixture_sample(docs, "source", "doc_id", MIXTURE_TARGETS, 60).collect()
    by_src: dict[str, int] = {}
    for r in kept:
        by_src[r["source"]] = by_src.get(r["source"], 0) + 1
    assert set(by_src) <= set(MIXTURE_TARGETS)
    # monotone in target weight (wide gaps -> strict at this size)
    assert by_src.get("src0", 0) >= by_src.get("src1", 0) >= by_src.get("src2", 0) > 0
    a = {r["doc_id"] for r in kept}
    b = {r["doc_id"] for r in mixture_sample(docs, "source", "doc_id", MIXTURE_TARGETS, 60).collect()}
    assert a == b


def test_bpe_pair_counts_hand_case(spark):
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.text import (
        bpe_pair_counts,
    )

    df = spark.createDataFrame(
        [(1, "a b a b c"), (2, "a b"), (3, "x"), (4, "")],
        ["doc_id", "text"],
    )
    out = {(r["a"], r["b"]): r["n_pairs"] for r in bpe_pair_counts(df).collect()}
    # doc1 pairs: (a,b) (b,a) (a,b) (b,c); doc2: (a,b); docs 3/4 none
    assert out[("a", "b")] == 3
    assert out[("b", "a")] == 1 and out[("b", "c")] == 1
    assert len(out) == 3


def test_bpe_pair_counts_topk_order(spark):
    from conftest import SF_SMALL

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators import text

    rows = text.q_bpe_pair_counts(spark, SF_SMALL).collect()
    assert 0 < len(rows) <= 50
    key = [(-r["n_pairs"], r["a"], r["b"]) for r in rows]
    assert key == sorted(key)


def test_zipf_law_row(spark):
    from conftest import SF_SMALL

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators import text

    r = text.q_zipf_law(spark, SF_SMALL).collect()[0]
    assert r["n_top"] <= 100 and r["top_freq"] >= 1
    assert r["vocab_size"] >= r["n_top"]
    assert r["total_tokens"] >= r["top100_tokens"]
    # the synthetic corpus is a ~31-token vocabulary with a nearly flat
    # unigram distribution (slope ~ -0.18): the audit must FLAG it as
    # not Zipf-healthy -- slope above the -0.3 band edge -- and that
    # verdict sits 0.12 from the boundary, far beyond any cross-engine
    # float drift, so the hashed booleans are stable
    assert not r["slope_negative_ok"]
    assert r["slope_bounded_ok"]


def test_vocab_encode_laws(spark):
    from conftest import SF_SMALL

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators import text

    rows = text.q_vocab_encode(spark, SF_SMALL).collect()
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").collect()
    nonblank = [d for d in docs if d["text"].strip()]
    assert len(rows) == len(nonblank)
    vocab = {r["token"]: r["vocab_rank"]
             for r in text.q_vocab_build(spark, SF_SMALL).collect()}
    by_id = {d["doc_id"]: d["text"].strip().split() for d in nonblank}
    for r in rows[:50]:
        tk = by_id[r["doc_id"]]
        assert r["n_tokens"] == len(tk)
        want_head = [str(vocab.get(t, -1)) for t in tk[:8]]
        assert r["head_ids"] == " ".join(want_head)
        assert r["n_oov"] == sum(1 for t in tk if t not in vocab)


def test_prefix_cache_stats_laws(spark):
    from conftest import SF_SMALL

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators import text

    rows = text.q_prefix_cache_stats(spark, SF_SMALL).collect()
    assert rows, "synthetic template corpus shares prefixes"
    total = sum(
        1 for r in spark.read.parquet(f"{SF_SMALL}/documents.parquet").collect()
        if r["text"].strip()
    )
    for r in rows:
        assert r["n_docs"] >= 2
        assert 1 <= r["n_prefix_tokens"] <= 16
        assert r["share_ppm"] == (r["n_docs"] * 1_000_000) // total
    # fingerprints are distinct groups
    fps = [r["prefix_fp"] for r in rows]
    assert len(fps) == len(set(fps))


def test_quality_classifier_margin_exact_and_monotone(spark):
    """The frozen linear classifier's margin is exact integer
    arithmetic (recomputed in Python from the published weights) and
    the label thresholds at 0; punctuation-heavy junk scores below
    natural prose."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.text import (
        QUALITY_CLF_WEIGHTS as W,
        with_quality_classifier,
    )

    prose = "the cat and the dog ran to a tree in the park"
    junk = "!!! ### $$$ %%% 12345 67890 !!!! ####"
    df = spark.createDataFrame(
        [(1, prose), (2, junk), (3, "")], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in with_quality_classifier(df).collect()}
    for r in got.values():
        expect = (
            W["w_len"] * min(r.n_tok, 64)
            + W["w_stop"] * r.n_stop
            + W["w_distinct"] * r.n_distinct
            + W["w_punct"] * r.n_punct
            + W["w_digit"] * r.n_digit
            + W["bias"]
        )
        assert r.clf_margin == expect
        assert r.clf_label == ("keep" if expect >= 0 else "drop")
    assert got[1].clf_margin > got[2].clf_margin
    assert got[1].clf_label == "keep"
    assert got[2].clf_label == "drop"
    assert got[3].n_tok == 0 and got[3].n_distinct == 0


def test_bpe_train_run_semantics_and_tiebreak(spark):
    """Hand-computed 3-round BPE on a corpus with an equal-symbol run:
    'aaaa' must merge to ('aa','aa') (even offsets only), the round-2
    winner is decided by the (count desc, left, right) tie-break, and
    weighted counts are exact."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.text import (
        bpe_train_merges,
    )

    df = spark.createDataFrame(
        [(1, "aaaa book"), (2, "aaaa look")], "doc_id long, text string"
    )
    got = [
        (r.merge_round, r.left_sym, r.right_sym, r.pair_weight)
        for r in bpe_train_merges(df, n_merges=3).orderBy("merge_round").collect()
    ]
    # r1: (a,a) 3 pairs x freq 2 = 6; greedy keeps offsets 0,2 -> aa|aa
    # r2: (aa,aa)=2 ties (o,k)=2 and (o,o)=2 -> 'aa' < 'o' wins
    # r3: (o,k)=2 ties (o,o)=2 -> right 'k' < 'o' wins
    assert got == [(1, "a", "a", 6), (2, "aa", "aa", 2), (3, "o", "k", 2)]


def test_bpe_train_matches_greedy_reference(spark):
    """The distributed trainer equals a sequential greedy BPE reference
    on real corpus data (sf0.001, 5 rounds)."""
    import collections
    import re as _re

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.text import (
        bpe_train_merges,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = [
        (r.merge_round, r.left_sym, r.right_sym, r.pair_weight)
        for r in bpe_train_merges(docs, n_merges=5).orderBy("merge_round").collect()
    ]

    freq = collections.Counter()
    for r in docs.select("text").collect():
        t = (r.text or "").strip()
        if not t:
            continue
        for w in _re.split(r"\s+", t):
            if w:
                freq[w] += 1
    state = {w: list(w) for w in freq}
    expect = []
    for rnd in range(1, 6):
        cnt = collections.Counter()
        for w, syms in state.items():
            for a, b in zip(syms, syms[1:]):
                cnt[(a, b)] += freq[w]
        (a, b), c = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        expect.append((rnd, a, b, c))
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
    assert got == expect


def test_dsir_scores_direction(spark):
    """DSIR scores rank raw docs by target-likeness: scoring the TARGET
    slice itself with the same bucket LM must produce a higher mean
    score than the raw slice's mean (the target is, definitionally,
    more target-like)."""
    from conftest import SF_SMALL

    import pyspark.sql.functions as F

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    is_target = F.col("lang") != "en"
    raw = text.dsir_scores(docs, is_target)
    # rebuild with the roles flipped so the target docs get scored
    # under the SAME direction (target LM in the numerator)
    flipped = text.dsir_scores(
        docs.withColumn("lang", F.when(is_target, "en").otherwise("xx")),
        F.col("lang") != "en",
    )
    import statistics

    raw_mean = statistics.mean(r.dsir_1e6 / r.n_tok for r in raw.collect())
    tgt_mean = statistics.mean(r.dsir_1e6 / r.n_tok for r in flipped.collect())
    assert tgt_mean < raw_mean  # flipped roles invert the ratio

    top = text.q_dsir_select(spark, SF_SMALL).collect()
    assert [r.ds_rank for r in top] == list(range(1, len(top) + 1))


def test_pmi_pairs_consistency(spark):
    """Every emitted pair: ordered tokens, co-count bounded by both
    marginals, and the ppm score reproduces the exact integer
    definition."""
    from conftest import SF_SMALL

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    n_docs = docs.count()
    rows = text.pmi_pairs(docs).collect()
    assert rows
    for r in rows:
        assert r.tok_a < r.tok_b
        assert r.c_ab <= min(r.c_a, r.c_b)
        assert r.pmi_ppm == (1_000_000 * r.c_ab * n_docs) // (r.c_a * r.c_b)


def test_retrieval_eval_metric_laws(spark):
    """Hit counts are monotone in k and bounded by both k and the
    relevant-set size; ppm metrics reproduce their integer
    definitions."""
    from conftest import SF_SMALL

    row = text.q_retrieval_eval(spark, SF_SMALL).collect()[0]
    assert 0 <= row.hits_at_5 <= row.hits_at_10 <= row.hits_at_20 <= 20
    assert row.hits_at_20 <= row.n_relevant
    assert row.p5_ppm == 1_000_000 * row.hits_at_5 // 5
    assert row.p10_ppm == 1_000_000 * row.hits_at_10 // 10
    assert row.recall20_ppm == 1_000_000 * row.hits_at_20 // row.n_relevant
    if row.hits_at_20:
        assert row.mrr_ppm > 0


def test_quality_percentile_norm_fairness(spark):
    """Dense per-source ranks, pct bounds, and the source-fair property:
    every source admits ~20% (the whole point vs a global threshold)."""
    from collections import defaultdict

    from conftest import SF_SMALL

    rows = text.q_quality_percentile_norm(spark, SF_SMALL).collect()
    by_src = defaultdict(list)
    for r in rows:
        by_src[r.source].append(r)
    for src, grp in by_src.items():
        ranks = sorted(r.q_rank for r in grp)
        assert ranks == list(range(1, len(grp) + 1))
        assert min(r.pct_ppm for r in grp) == 0
        assert max(r.pct_ppm for r in grp) == 1_000_000
        frac = sum(1 for r in grp if r.admitted) / len(grp)
        assert 0.15 <= frac <= 0.25, (src, frac)


def test_vocab_roundtrip_law(spark):
    from conftest import SF_SMALL

    row = text.q_vocab_roundtrip(spark, SF_SMALL).collect()[0]
    assert row.roundtrip_ok and row.nonvacuous
    assert row.n_oov_free <= row.n_docs


def test_bigram_perplexity_order_sensitivity(spark):
    """The motivating property: REVERSING a document's tokens keeps its
    unigram statistics identical but raises its bigram NLL (reversed
    word order produces rare/unseen bigrams) — the corruption class the
    unigram gate can't see.  Scored within one corpus containing both
    copies so both share the same model."""
    import pyspark.sql.functions as F

    from conftest import SF_SMALL

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select("doc_id", "text")
    reversed_docs = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.array_join(F.reverse(F.split(F.trim("text"), r"\s+")), " ").alias("text"),
    )
    both = docs.unionByName(reversed_docs)
    # model = ORIGINAL corpus only: union-scoring would symmetrize the
    # bigram counts (every mirrored copy donates the reversed pairs)
    scores = {r.doc_id: r for r in text.bigram_nll_scores(both, model_docs=docs).collect()}
    worse = same = better = 0
    for did in list(scores):
        if did >= 1_000_000:
            continue
        fwd, rev = scores[did], scores.get(did + 1_000_000)
        if rev is None:
            continue
        if rev.avg_nll > fwd.avg_nll:
            worse += 1
        elif rev.avg_nll == fwd.avg_nll:
            same += 1
        else:
            better += 1
    # reversal must hurt for a clear majority.  The synthetic corpus is
    # near-word-salad (weak order structure), so a minority of docs do
    # score better reversed; observed ~80/20 at sf0.001 — real prose
    # separates far more sharply.
    assert worse > 3 * better, (worse, same, better)

    out = text.q_perplexity_bigram(spark, SF_SMALL).collect()
    assert [r.ppl_rank for r in out] == list(range(1, len(out) + 1))
    assert all(0 <= r.n_backoff <= r.n_bigrams for r in out)


def test_classifier_calibration_partition_laws(spark):
    """Deciles partition the corpus (counts sum, sizes within 1),
    margin ranges are ordered, and en counts recompute the ppm rate."""
    from conftest import SF_SMALL

    rows = sorted(text.q_classifier_calibration(spark, SF_SMALL).collect())
    n = spark.read.parquet(f"{SF_SMALL}/documents.parquet").count()
    assert [r.decile for r in rows] == list(range(1, 11))
    assert sum(r.n_docs for r in rows) == n
    sizes = [r.n_docs for r in rows]
    assert max(sizes) - min(sizes) <= 1
    for prev, nxt in zip(rows, rows[1:]):
        assert prev.margin_hi <= nxt.margin_lo
    for r in rows:
        assert r.en_rate_ppm == (1_000_000 * r.n_en) // r.n_docs


def test_generate_plan_contracts(spark):
    """Physical-plan contracts for the round-6 Generate fixes, checked
    with the plan-audit companion-expression detector (a Project
    directly above a Generate whose expensive calls ignore the
    generator output = the re-evaluation-per-output-row pathology,
    SCALE.md round-6).  The detector itself is validated in the same
    test against a deliberately re-inlined bm25 shape, so a regex gone
    stale shows up as the sentinel failing to trip, not as silent
    vacuous passes."""
    import sys

    from conftest import SF_SMALL

    sys.path.insert(0, "tools")
    from plan_audit import count_generate_companions

    import pyspark.sql.functions as F

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.functions.columns import (
        token_count,
        tokens,
    )

    def plan_of(df):
        return df._jdf.queryExecution().executedPlan().toString()

    # sentinel: the PRE-fix pathological shape MUST trip the detector
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    bad = docs.select(
        "doc_id", token_count("text").alias("dl"),
        F.explode(tokens("text")).alias("token"),
    )
    assert count_generate_companions(plan_of(bad)) >= 1, (
        "detector no longer recognizes the pathological shape — fix "
        "tools/plan_audit.py before trusting the clean results below"
    )
    # and the same shape nested under a join branch (':' tree prefix)
    bad_join = bad.join(
        docs.select(F.col("doc_id").alias("d2")), bad.doc_id == F.col("d2")
    )
    assert count_generate_companions(plan_of(bad_join)) >= 1

    # the fixed queries must be clean
    for q in (
        text.q_winnow_fingerprint,
        text.q_bm25_topk,
        text.q_dsir_select,
    ):
        plan = plan_of(q(spark, SF_SMALL))
        assert count_generate_companions(plan) == 0, q.__name__
        assert "CartesianProduct" not in plan, q.__name__


def test_containment_filter_stays_above_checkpoint(spark):
    """The min_shingles filter must run over the checkpointed shingle
    arrays (scan-side Filter nodes must not contain the shingle
    pipeline) — the filter-pushdown-below-checkpoint stall (SCALE.md
    round-6): pushed down, the whole shingle expression re-evaluates at
    single-file scan parallelism."""
    from conftest import SF_SMALL

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators import dedup

    plan = (
        dedup.q_dedup_containment(spark, SF_SMALL)
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )
    import re

    for m in re.finditer(r"\(\d+\) Filter\n(?:.*\n)*?Condition : (.*)", plan):
        cond = m.group(1)
        assert "transform(" not in cond and "xxhash64(concat_ws" not in cond, (
            "shingle pipeline pushed into a scan-side Filter: " + cond[:200]
        )


def test_inferred_size_filter_detector(spark):
    """Sentinel + contract for the round-7 InferFiltersFromGenerate
    pathology detector (tools/plan_audit.py count_filter_size_rebuild):
    an explode whose array build got inlined by CollapseProject gains
    an inferred ``size(build) > 0`` Filter that re-runs the whole
    interpreted chain per row.  The PRE-fix ngram_novelty shape must
    trip the detector; the fixed query (and phrase_search, the other
    known victim) must be clean."""
    import sys

    from conftest import SF_SMALL

    sys.path.insert(0, "tools")
    from plan_audit import count_filter_size_rebuild

    import pyspark.sql.functions as F

    def plan_of(df):
        return df._jdf.queryExecution().executedPlan().toString()

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").filter(
        F.trim(F.col("text")) != ""
    )
    grams = F.array_distinct(text._positional_shingles("text", 3))

    def bad():
        # fresh frame each time — queryExecution is cached per
        # DataFrame, so conf changes need a rebuild to show
        return (
            docs.select("doc_id", grams.alias("_g"))
            .select("doc_id", F.explode("_g").alias("_gram"))
            .select("doc_id", F.md5("_gram").alias("_h"))
        )

    # The session now EXCLUDES InferFiltersFromGenerate outright
    # (session.py, round 8), so the bad shape can only be constructed
    # with the rule temporarily re-enabled — which doubles as a check
    # that the exclusion is what keeps the default plans clean.
    key = "spark.sql.optimizer.excludedRules"
    prev = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "")
        assert count_filter_size_rebuild(plan_of(bad())) >= 1, (
            "detector no longer recognizes the inferred-size-filter shape "
            "— fix tools/plan_audit.py before trusting the clean results"
        )
    finally:
        spark.conf.set(key, prev or "")
    assert count_filter_size_rebuild(plan_of(bad())) == 0, (
        "excludedRules=InferFiltersFromGenerate no longer suppresses the "
        "re-evaluation filter — session.py config regressed"
    )

    for q in (text.q_ngram_novelty, text.q_phrase_search):
        assert count_filter_size_rebuild(plan_of(q(spark, SF_SMALL))) == 0, (
            q.__name__
        )


def test_winnow_arrow_tokens_exactness(spark):
    """The Arrow winnow strategies rest on ``_py_tokens`` being a
    bit-exact replica of the ``tokens()`` column expression (Spark
    trim strips 0x20 only; Java \\s is the 5-char ASCII class; split
    limit=-1 keeps leading/trailing empty tokens).  Pinned against the
    LIVE expression on the adversarial set."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.functions.columns import (
        tokens,
    )

    cases = [
        "alpha beta gamma",
        "  leading",
        "trailing\t",            # trim keeps the tab -> trailing empty token
        "\ta",                    # leading empty token
        "one  two\nthree\x0bfour\ffive\rsix",
        "",
        " ",
        "solo",
        "a b c d",           # NBSP is NOT a separator in either engine
        "x\r\ny",
        "café naïve résumé",
    ]
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cases)], "i long, text string"
    )
    got = {r["i"]: r["t"] for r in df.select(
        "i", tokens("text").alias("t")).collect()}
    for i, c in enumerate(cases):
        assert got[i] == text._py_tokens(c), repr(c)


def test_winnow_rejects_duplicate_ids(spark):
    """Fingerprints are per document, so duplicate ids would join each
    copy to the other's fingerprints — the kernel's uniqueness guard
    must refuse instead."""
    import pytest

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"),
         (1, "zeta eta theta iota kappa"),
         (2, "one two three four five six")],
        ["doc_id", "text"],
    )
    with pytest.raises(Exception, match="non-null and unique"):
        text.with_winnow_fingerprint(df).collect()
    # NULL ids would silently miss the consumer equi-join -> the same
    # in-plan assert must make that loud too (advice r6)
    nulled = spark.createDataFrame(
        [(None, "alpha beta gamma delta epsilon"),
         (2, "one two three four five six")],
        "doc_id int, text string",
    )
    with pytest.raises(Exception, match="non-null and unique"):
        text.with_winnow_fingerprint(nulled, id_col="doc_id").collect()
    # unique non-null ids: unchanged behavior
    ok = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"), (2, "one two three four")],
        ["doc_id", "text"],
    )
    assert text.with_winnow_fingerprint(ok).count() == 2


def test_tokenizer_fertility_arithmetic(spark):
    """Fertility ratios are exact integer milli-units over the slice
    totals; blank docs contribute zero tokens but keep their bytes."""
    df = spark.createDataFrame(
        [(1, "ab cd", "en", "s1"), (2, "x", "en", "s1"), (3, "", "de", "s2")],
        ["doc_id", "text", "lang", "source"],
    )
    import pyspark.sql.functions as F

    df.write.mode("overwrite").parquet("/tmp/fert_docs/documents.parquet")
    rows = {
        (r.source, r.lang): r
        for r in text.q_tokenizer_fertility(spark, "/tmp/fert_docs").collect()
    }
    r = rows[("s1", "en")]
    assert r.n_docs == 2 and r.n_tokens == 3
    assert r.n_chars == 6 and r.n_bytes == 6
    assert r.chars_per_token_milli == 2000  # 6 chars / 3 tokens
    blank = rows[("s2", "de")]
    assert blank.n_tokens == 0 and blank.chars_per_token_milli is None


def test_ngram_novelty_copy_detection(spark):
    """A verbatim copy has novelty 0; the first occurrence owns every
    gram; a half-copy lands in between."""
    a = "alpha beta gamma delta epsilon zeta"
    b = "one two three four five six seven"
    docs = spark.createDataFrame(
        [(1, a), (2, a), (3, a + " " + b)], ["doc_id", "text"]
    )
    docs.write.mode("overwrite").parquet("/tmp/novelty_docs/documents.parquet")
    rows = {r.doc_id: r for r in text.q_ngram_novelty(spark, "/tmp/novelty_docs").collect()}
    assert rows[1].novelty_ppm == 1_000_000  # first occurrence owns all
    assert rows[2].novelty_ppm == 0          # verbatim copy
    assert 0 < rows[3].novelty_ppm < 1_000_000
    assert rows[3].n_novel < rows[3].n_grams


def test_classifier_auc_rank_sum(spark):
    """AUC via the rank-sum identity on a hand-checkable frame: one
    source where margins separate perfectly (AUC=1), one reversed
    (AUC=0), one with a tie contributing exactly 0.5, and a
    single-class source that must be excluded."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators import text as T
    from pyspark.sql import functions as F

    # build docs whose clf_margin ordering we control via text length:
    # margin is monotone in token/stopword counts for all-stopword
    # texts, so "the and of" > "the and" > "the".
    rows = [
        # perfect: both en docs outscore both non-en docs
        (1, "the and of to", "en", "sA"),
        (2, "the and of", "en", "sA"),
        (3, "the and", "de", "sA"),
        (4, "the", "de", "sA"),
        # reversed: en docs at the bottom
        (5, "the and of to", "de", "sB"),
        (6, "the and of", "de", "sB"),
        (7, "the and", "en", "sB"),
        (8, "the", "en", "sB"),
        # tie: identical text for one en + one de -> equal margin
        (9, "the and", "en", "sC"),
        (10, "the and", "de", "sC"),
        # single-class: must not appear
        (11, "the and", "en", "sD"),
    ]
    spark.createDataFrame(rows, ["doc_id", "text", "lang", "source"]).write.mode(
        "overwrite"
    ).parquet("/tmp/auc_docs/documents.parquet")
    out = {r.source: r for r in T.q_classifier_auc(spark, "/tmp/auc_docs").collect()}
    assert set(out) == {"sA", "sB", "sC"}
    assert out["sA"].auc_ppm == 1_000_000
    assert out["sB"].auc_ppm == 0
    assert out["sC"].auc_ppm == 500_000
    assert out["sA"].n_pos == 2 and out["sA"].n_neg == 2


def test_phrase_search_lossless_and_counts(spark):
    """Verification kills prefilter false positives (doc has both
    bigrams but not the phrase); semantics are token-boundary-exact
    (advice r7: punctuated/compound tokens do NOT substring-match);
    occurrence counting includes overlapping positions; duplicate
    phrases in the batch are deduplicated, not silently zeroed."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators import text as T
    import pytest as _pytest

    docs = spark.createDataFrame(
        [
            (1, "a b c d", "s"),          # contains "a b c"
            (2, "a b x b c", "s"),        # both bigrams, NOT the phrase
            (3, "x a b c a b c y", "s"),  # two occurrences
            (4, "a b c a b c a b c", "s"),
            (5, "", "s"),
            (6, "q r", "s"),              # matches second phrase
            (7, "a b c. d", "s"),         # punctuated token: 'c.' != 'c'
            (8, "xa b c d", "s"),         # compound token: 'xa' != 'a'
            (9, "a b a b a", "s"),        # overlapping 'a b a' x2
            (10, "  a   b\tc  ", "s"),    # ragged whitespace still matches
        ],
        ["doc_id", "text", "source"],
    )
    want = {
        ("a b c", 1): 1,
        ("a b c", 3): 2,
        ("a b c", 4): 3,
        ("a b c", 10): 1,
        ("q r", 6): 1,
        ("a b a", 9): 2,
    }
    out = T.phrase_search(docs, ["a b c", "q r", "a b a", "q r"])
    got = {(r.phrase, r.doc_id): r.n_hits for r in out.collect()}
    assert got == want
    with _pytest.raises(ValueError):
        T.phrase_search(docs, ["single"])


def test_kn_bigram_scores_hand_computed(spark):
    """Tiny corpus where the interpolated KN formula is checkable by
    hand: bigrams (a,b)x2, (a,c)x1 give c(a.)=3, N1+(a.)=2, types=2,
    Pcont(b)=Pcont(c)=1/2, so p(b|a)=(1.25+0.75)/3=2/3 and
    p(c|a)=(0.25+0.75)/3=1/3; per-term floors of -ln(p)*1e6 are exact
    longs.  Also: the continuation distribution spends exactly the
    discounted mass (sum of seen p(w|v) = 1 - unseen continuation
    share)."""
    import math

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.text import (
        kn_bigram_scores,
    )

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a c")], ["doc_id", "text"]
    )
    got = {r.doc_id: r for r in kn_bigram_scores(docs).collect()}
    nll_ab = math.floor(-math.log(2.0 / 3.0) * 1e6)  # 405465
    nll_ac = math.floor(-math.log(1.0 / 3.0) * 1e6)  # 1098612
    assert got[1].sum_nll_1e6 == nll_ab and got[1].n_bigrams == 1
    assert got[2].sum_nll_1e6 == nll_ab
    assert got[3].sum_nll_1e6 == nll_ac
    # rarer continuation scores strictly worse
    assert got[3].avg_nll > got[1].avg_nll


def test_char_entropy_hand_computed(spark):
    """'aaab' (H~0.56 nats, drop) vs 8 distinct chars (H=ln 8 ~ 2.08,
    keep) — integer terms checked by hand; blank docs excluded."""
    import math

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.text import (
        char_entropy_profile,
    )

    docs = spark.createDataFrame(
        [(1, "aaab"), (2, "abcdefgh"), (3, "   ")], ["doc_id", "text"]
    )
    got = {r.doc_id: r for r in char_entropy_profile(docs).collect()}
    assert set(got) == {1, 2}
    r1 = got[1]
    assert r1.n_chars == 4 and r1.distinct_chars == 2
    assert r1.sum_nlogn_1e6 == math.floor((3 * math.log(3.0)) * 1e6)
    assert r1.ln_n_1e6 == math.floor(math.log(4.0) * 1e6)
    assert r1.entropy_keep is False
    r2 = got[2]
    assert r2.distinct_chars == 8 and r2.sum_nlogn_1e6 == 0
    assert r2.entropy_keep is True


def test_dictionary_tag_hand_case(spark):
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.text import (
        dictionary_tag,
    )

    docs = spark.createDataFrame(
        [
            (1, "agg table fast"),        # three-way tie -> alphabetical
            (2, "agg join table zzz"),    # ops dominates
            (3, "zzz yyy"),               # no hits
            (4, ""),                      # blank
            (5, "fast fast table"),       # repeats count as occurrences
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in dictionary_tag(docs).collect()}
    assert out[1]["dominant"] == "objects"  # tie: objects < ops < perf
    assert (out[1]["n_ops"], out[1]["n_objects"], out[1]["n_perf"]) == (1, 1, 1)
    assert out[2]["dominant"] == "ops" and out[2]["n_tagged"] == 3
    assert out[3]["dominant"] == "none" and out[3]["tag_ppm"] == 0
    assert out[4]["n_tokens"] == 0 and out[4]["dominant"] == "none"
    assert out[5]["n_perf"] == 2 and out[5]["dominant"] == "perf"
    assert out[5]["tag_ppm"] == 1_000_000


def test_retrieval_ndcg_laws(spark):
    from conftest import SF_SMALL

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.text import (
        NDCG_CUM,
        q_retrieval_ndcg,
    )

    row = q_retrieval_ndcg(spark, SF_SMALL).collect()[0]
    assert 0 <= row["ndcg_ppm"] <= 1_000_000
    assert row["dcg_micro"] <= row["idcg_micro"]
    assert row["idcg_micro"] == NDCG_CUM[min(row["n_relevant"], 20) - 1]
    if row["n_relevant"] > 0:
        assert row["ndcg_ppm"] == 1_000_000 * row["dcg_micro"] // row["idcg_micro"]


def test_vocab_growth_python_replay(spark):
    import re
    from collections import defaultdict

    import pandas as pd
    from conftest import SF_SMALL

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.text import (
        q_vocab_growth,
    )

    docs = pd.read_parquet(f"{SF_SMALL}/documents.parquet")
    mn, mx = int(docs.doc_id.min()), int(docs.doc_id.max())
    nbins = 20
    first, per = {}, defaultdict(lambda: [0, 0])
    for r in docs.itertuples():
        b = ((int(r.doc_id) - mn) * nbins) // (mx - mn + 1)
        per[b][0] += 1
        t = r.text.strip()
        toks = re.split(r"\s+", t) if t else []
        per[b][1] += len(toks)
        for w in toks:
            if w not in first or first[w] > b:
                first[w] = b
    out = {r["bin"]: r for r in q_vocab_growth(spark, SF_SMALL).collect()}
    assert sorted(out) == list(range(nbins))
    cd = ct = cv = 0
    newb = defaultdict(int)
    for w, b in first.items():
        newb[b] += 1
    for b in range(nbins):
        nd, nt = per.get(b, (0, 0))
        cd, ct, cv = cd + nd, ct + nt, cv + newb[b]
        row = out[b]
        assert (row["n_docs"], row["bin_tokens"], row["new_words"]) == (
            nd, nt, newb[b],
        )
        assert (row["cum_docs"], row["cum_tokens"], row["cum_vocab"]) == (
            cd, ct, cv,
        )
    assert out[nbins - 1]["cum_vocab"] == len(first)
    assert out[nbins - 1]["cum_docs"] == len(docs)


def test_float_boundary_audit_margins():
    """The floor-boundary audit (ADVICE r8 item 3): every floored
    transcendental long in char_entropy / perplexity_kn must sit far
    from an integer boundary, else a 1-ulp JVM-vs-libm log difference
    could flip a hashed value."""
    import sys

    sys.path.insert(0, "/root/repo/tools")
    import float_boundary_audit as fba

    worst, _ = fba.audit_char_entropy(20000)
    assert worst > fba.MARGIN_ULPS
    kn_worst, _, n_terms = fba.audit_perplexity_kn("/root/testdata/sf0.001")
    assert n_terms > 0 and kn_worst > fba.MARGIN_ULPS


def test_bpe_apply_reproduces_train_final_state(spark):
    """Encoding the corpus with its own learned merge table reproduces
    the trainer's final symbol state exactly (the train->encode
    consistency law), checked against the sequential greedy reference
    on sf0.001."""
    import collections
    import re as _re

    from conftest import SF_SMALL
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.text import (
        bpe_apply_merges,
        bpe_train_merges,
        bpe_word_types,
    )

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    merges = bpe_train_merges(docs, n_merges=3)
    encoded = bpe_apply_merges(bpe_word_types(docs), merges, n_merges=3)
    got = {
        r.word: r.syms
        for r in encoded.groupBy("word")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "sym"))),
                lambda s: s["sym"],
            ).alias("syms")
        )
        .collect()
    }

    freq = collections.Counter()
    for r in docs.select("text").collect():
        t = (r.text or "").strip()
        if not t:
            continue
        for w in _re.split(r"\s+", t):
            if w:
                freq[w] += 1
    state = {w: list(w) for w in freq}
    for _ in range(3):
        cnt = collections.Counter()
        for w, syms in state.items():
            for a, b in zip(syms, syms[1:]):
                cnt[(a, b)] += freq[w]
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
    assert got == {w: syms for w, syms in state.items()}


def test_bpe_apply_fixed_rules_on_unseen_text(spark):
    """The encode half applies a SHIPPED merge table to text the rules
    were never trained on — including the even-offset run semantics
    ('aaaaa' under (a,a) then (aa,aa) -> ['aaaa', 'a'])."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.text import (
        bpe_apply_merges,
        bpe_word_types,
    )

    docs = spark.createDataFrame(
        [(1, "aaaaa baab")], "doc_id long, text string"
    )
    merges = spark.createDataFrame(
        [(1, "a", "a", 0), (2, "aa", "aa", 0), (3, "b", "aa", 0)],
        "merge_round long, left_sym string, right_sym string, "
        "pair_weight long",
    )
    got = {
        r.word: r.syms
        for r in bpe_apply_merges(bpe_word_types(docs), merges, n_merges=3)
        .groupBy("word")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "sym"))),
                lambda s: s["sym"],
            ).alias("syms")
        )
        .collect()
    }
    # aaaaa: r1 even offsets -> [aa, aa, a]; r2 -> [aaaa, a]; r3 no-op
    # baab:  r1 -> [b, aa, b]; r2 no-op; r3 (b,aa) -> [baa, b]
    assert got == {"aaaaa": ["aaaa", "a"], "baab": ["baa", "b"]}


def test_bpe_apply_chained_rules_hand_case(spark):
    """Left-to-right greedy semantics where they bite: r1 is an
    equal-symbol run, r2 merges r1's outputs with a raw symbol, and r3
    is a rule whose merged output (ab) must NOT re-match its own left
    side ('a') right after the merge.  Hand-worked:
    aaaaa -> r1 [aa, aa, a] -> r2 [aa, aaa];  baab -> r1 [b, aa, b];
    abbb -> r3 [ab, b, b]."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.text import (
        bpe_apply_merges,
        bpe_word_types,
    )

    crafted = spark.createDataFrame(
        [(1, "aaaaa baab abbb")], "doc_id long, text string"
    )
    tricky = spark.createDataFrame(
        [(1, "a", "a", 0), (2, "aa", "a", 0), (3, "a", "b", 0)],
        "merge_round long, left_sym string, right_sym string, "
        "pair_weight long",
    )
    got = sorted(
        map(tuple, bpe_apply_merges(bpe_word_types(crafted), tricky, 3).collect())
    )
    assert got == [
        ("aaaaa", 1, 0, "aa"), ("aaaaa", 1, 1, "aaa"),
        ("abbb", 1, 0, "ab"), ("abbb", 1, 1, "b"), ("abbb", 1, 2, "b"),
        ("baab", 1, 0, "b"), ("baab", 1, 1, "aa"), ("baab", 1, 2, "b"),
    ]


def test_bpe_encode_and_roundtrip_law(spark):
    """q_bpe_encode bounds (n_tokens <= n_symbols <= n_chars per doc,
    with real compression somewhere) and the decode law (zero
    reassembly mismatches) on sf0.001."""
    from conftest import SF_SMALL

    rows = text.q_bpe_encode(spark, SF_SMALL).collect()
    assert rows
    assert all(r.n_tokens <= r.n_symbols <= r.n_chars for r in rows)
    assert any(r.n_symbols < r.n_chars for r in rows)

    law = text.q_bpe_roundtrip_law(spark, SF_SMALL).collect()[0]
    assert law.n_decode_mismatch == 0
    assert law.n_words > 0
    assert law.n_syms_total < law.n_chars_total


def test_rake_keywords_hand_case(spark):
    """Canonical RAKE arithmetic: deg/freq word scores, member-sum
    phrase scores, longer phrases outrank their sub-phrases."""
    import tempfile

    docs = spark.createDataFrame(
        [(1, "deep learning models of deep learning and rate limit")],
        "doc_id long, text string",
    )
    d = tempfile.mkdtemp()
    docs.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    rows = text.q_rake_keywords(spark, d).collect()
    got = {r.phrase: (r.score_ppm, r.n_occur, r.kw_rank) for r in rows}
    # freq: deep 2, learning 2, models 1, rate 1, limit 1
    # deg:  deep 5, learning 5, models 3, rate 2, limit 2
    # word ppm: deep/learning 2_500_000; models 3_000_000; rate/limit 2_000_000
    assert got["deep learning models"] == (8_000_000, 1, 1)
    assert got["deep learning"] == (5_000_000, 1, 2)
    assert got["rate limit"] == (4_000_000, 1, 3)


def test_readability_hand_case(spark):
    """Flesch-lite integer arithmetic on a constructed two-sentence
    doc: exact per-term floors, vowel-run syllables, terminator-run
    sentences."""
    import tempfile

    docs = spark.createDataFrame(
        [(1, "the cat sat. it ran!", "en", "srcA", 20)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = tempfile.mkdtemp()
    docs.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    row = text.q_readability(spark, d).collect()[0]
    # w=5 tokens, syl=5 vowel runs, sent=2 terminator runs
    assert row.source == "srcA"
    assert row.n_docs == 1
    assert row.mean_flesch_milli == 206835 - (1015 * 5) // 2 - 84600
    assert row.syl_per_100w == 100


def test_distinctive_terms_hand_case(spark):
    """Relative-risk arithmetic with the Haldane +1: a term exclusive
    to one source tops that source's list; terms under min-support
    never appear."""
    import tempfile

    docs = spark.createDataFrame(
        [
            (1, " ".join(["spamword"] * 6 + ["common"] * 4), "en", "A", 0),
            (2, " ".join(["common"] * 10), "en", "B", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = tempfile.mkdtemp()
    docs.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = {(r.source, r.term): r for r in
           text.q_distinctive_terms(spark, d).collect()}
    # A: n_s=10, spamword a=6 b=0, n_rest=10 -> rr = 1e6*60/10 = 6e6
    r = out[("A", "spamword")]
    assert (r.n_in_source, r.n_elsewhere) == (6, 0)
    assert r.rr_ppm == 1_000_000 * 6 * 10 // (10 * 1)
    assert r.term_rank == 1
    # 'common' in A: a=4 < min support 5 -> absent
    assert ("A", "common") not in out
    # 'common' in B: a=10, b=4, n_rest=10, n_s=10 -> 1e6*100//(10*5)=2e6
    rb = out[("B", "common")]
    assert rb.rr_ppm == 2_000_000 and rb.term_rank == 1


def test_countmin_one_sided_error_and_exactness(spark):
    """CMS law: the estimate NEVER undercounts (min over rows of a sum
    that includes every true occurrence), and on a tiny vocabulary
    with no collisions it is exact."""
    import tempfile

    from conftest import SF_SMALL

    rows = text.q_countmin_topk(spark, SF_SMALL).collect()
    assert rows and all(r.overcount >= 0 for r in rows)
    assert all(r.cms_est >= r.exact_cnt for r in rows)

    # 3 distinct terms in 4x1024 counters: collision probability ~0 —
    # planted counts read back exactly
    docs = spark.createDataFrame(
        [(1, "alpha alpha alpha beta beta gamma")], "doc_id long, text string"
    )
    d = tempfile.mkdtemp()
    docs.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    got = {r.term: (r.exact_cnt, r.cms_est) for r in
           text.q_countmin_topk(spark, d).collect()}
    assert got == {"alpha": (3, 3), "beta": (2, 2), "gamma": (1, 1)}


def test_bpe_apply_rejects_malformed_merge_tables(spark):
    """A missing round would silently annihilate the state through the
    empty-rule crossJoin; a duplicated round would duplicate it — both
    must raise loudly instead."""
    import pytest as _pytest

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.text import (
        bpe_apply_merges,
        bpe_word_types,
    )

    docs = spark.createDataFrame([(1, "ab ab")], "doc_id long, text string")
    state = bpe_word_types(docs)
    schema = (
        "merge_round long, left_sym string, right_sym string, "
        "pair_weight long"
    )
    missing = spark.createDataFrame([(1, "a", "b", 0), (3, "ab", "ab", 0)], schema)
    with _pytest.raises(ValueError, match="exactly one rule"):
        bpe_apply_merges(state, missing, n_merges=3)
    dup = spark.createDataFrame(
        [(1, "a", "b", 0), (2, "x", "y", 0), (2, "y", "z", 0)], schema
    )
    with _pytest.raises(ValueError, match="exactly one rule"):
        bpe_apply_merges(state, dup, n_merges=2)
    # a SHORT contiguous table is legitimate training exhaustion (no
    # pair left to merge) — encode applies the rules that exist
    short = spark.createDataFrame([(1, "a", "b", 0)], schema)
    syms = sorted(
        (r.word, r.pos, r.sym)
        for r in bpe_apply_merges(state, short, n_merges=3).collect()
    )
    assert syms == [("ab", 0, "ab")]


def test_distinctive_terms_guard_raises_past_bound(spark):
    """VERDICT r10 item 2 + ADVICE r10: the corrected a·n_rest·1000 <
    2⁶³ headroom (worst case N²/4 -> ~1.9e8 corpus tokens, not the
    overstated ~3e9) is guarded at runtime.  With a test-shrunk limit
    the hand corpus (a=6, n_rest=10 -> needs a <= lim div n_rest)
    fails LOUDLY; at the exact boundary it passes with unchanged
    values."""
    import tempfile

    import pytest

    docs = spark.createDataFrame(
        [
            (1, " ".join(["spamword"] * 6 + ["common"] * 4), "en", "A", 0),
            (2, " ".join(["common"] * 10), "en", "B", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = tempfile.mkdtemp()
    docs.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    # spamword: a=6, n_rest=10 -> a > 59 div 10 = 5 -> guard fires
    with pytest.raises(Exception, match="exceed int64 headroom"):
        text.q_distinctive_terms(spark, d, _lim=59).collect()
    # exact boundary: max a·n_rest = 100 (common@B: a=10, n_rest=10)
    # and max n_s·(b+1) = 50 — lim=100 admits every row, values intact
    out = {(r.source, r.term): r for r in
           text.q_distinctive_terms(spark, d, _lim=100).collect()}
    assert out[("A", "spamword")].rr_ppm == 6_000_000  # boundary passes


def test_term_freq_spectrum_hand_case(spark):
    """Good-Turing N_k shape: 'a a a b b c' -> f(a)=3, f(b)=2 share
    bucket 1, f(c)=1 in bucket 0; masses 5 and 1 over 6 tokens."""
    import tempfile

    docs = spark.createDataFrame(
        [(1, "a a a b b c", "en", "A", 0), (2, "  ", "en", "B", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = tempfile.mkdtemp()
    docs.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = {r["bucket"]: r for r in
           text.q_term_freq_spectrum(spark, d).collect()}
    assert out[0]["n_terms"] == 1 and out[0]["token_mass"] == 1
    assert out[1]["n_terms"] == 2 and out[1]["token_mass"] == 5
    assert out[1]["term_share_ppm"] == 2_000_000 // 3
    assert out[1]["mass_share_ppm"] == 5_000_000 // 6
    assert len(out) == 2  # blank doc contributes nothing


def test_hapax_ratio_hand_case(spark):
    """'a a b c' -> 3 distinct terms, 2 hapaxes, 4 tokens: term ppm
    floors to 666666, mass ppm to 500000."""
    import tempfile

    docs = spark.createDataFrame(
        [(1, "a a b c", "en", "A", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = tempfile.mkdtemp()
    docs.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    r = text.q_hapax_ratio(spark, d).collect()[0]
    assert (r.n_terms, r.n_tokens, r.n_hapax) == (3, 4, 2)
    assert r.hapax_term_ppm == 666_666
    assert r.hapax_mass_ppm == 500_000


def test_metadata_consistency_audit_hand_case(spark, tmp_path):
    """Planted stale metadata: one doc lies by 7 chars, one has NULL
    n_chars (missing, not wrong), two are consistent — mismatch ppm
    floors over ALL docs and max_abs_delta sizes the worst lie."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.text import (
        q_metadata_consistency_audit,
    )

    docs = spark.createDataFrame(
        [
            (1, "hello", "en", "s1", 5),      # consistent
            (2, "hello!", "en", "s1", 13),    # lies by 7
            (3, "abc", "en", "s1", None),     # NULL metadata
            (4, "abcd", "en", "s2", 4),       # consistent
        ],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    out = {r["source"]: r for r in
           q_metadata_consistency_audit(spark, str(tmp_path)).collect()}
    s1 = out["s1"]
    assert (s1["n_docs"], s1["n_null_meta"], s1["n_mismatch"]) == (3, 1, 1)
    assert s1["mismatch_ppm"] == 333_333
    assert s1["max_abs_delta"] == 7
    s2 = out["s2"]
    assert (s2["n_mismatch"], s2["mismatch_ppm"],
            s2["max_abs_delta"]) == (0, 0, 0)


def test_bpe_train_short_table_on_exhaustion(spark):
    """Training stops when no adjacent pair is left: 'aa b' has one
    mergeable pair, so a 3-round request returns the legitimate SHORT
    table with its single rule."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.text import (
        bpe_train_merges,
    )

    short = spark.createDataFrame([(1, "aa b")], "doc_id long, text string")
    got = sorted(map(tuple, bpe_train_merges(short, n_merges=3).collect()))
    assert got == [(1, "a", "a", 1)]
