"""Text-analysis operators for LLM training-data pipelines (north-star
mandate, BASELINE.json): token counting, quality scoring, language ID,
document fingerprinting — all pure ``pyspark.sql.functions`` column
algebra, so every operator runs inside whole-stage codegen with zero
Python in the hot path and scales linearly with no shuffle at all
(per-row narrow transforms).

Each operator's formula is deliberately SQL-expressible so the DuckDB
oracle replicates it exactly (see ``__spark_entry__.oracle_sql``).
"""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from project_market_pulse_etl_pipeline_with_llm_integration_spark.functions.columns import (
    norm_text,
    token_count,
    tokens,
)
from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.guards import (
    PPM2_LIMIT,
    guard_int64,
)
from project_market_pulse_etl_pipeline_with_llm_integration_spark.sources.readers import (
    cached_scan,
    spread_if_narrow,
)

# Tiny per-language marker lexicons for the n-gram/stopword heuristic.
# Real pipelines plug in fastText/CLD3 via a Pandas UDF; the heuristic
# keeps the operator hermetic and oracle-checkable.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in"],
    "es": ["el", "la", "de", "y", "que", "los"],
    "fr": ["le", "la", "et", "les", "des", "un"],
    "de": ["der", "die", "und", "das", "ein", "nicht"],
}


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token count, char count, distinct-token ratio, mean token length.
    The ratio is floor-scaled, not rounded: k/n with n a power-of-2x5
    (e.g. 128 tokens) terminates with 7+ digits and a trailing 5, where
    Spark's decimal-rendering round and binary-value rounds disagree."""
    toks = tokens(text_col)
    n_tok = token_count(text_col)
    ratio = F.when(n_tok > 0, F.size(F.array_distinct(toks)) / n_tok).otherwise(0.0)
    return (
        df.withColumn("n_tokens", n_tok)
        .withColumn("n_chars_calc", F.length(text_col).cast("long"))
        .withColumn("n_distinct_tokens", F.size(F.array_distinct(toks)).cast("long"))
        .withColumn("distinct_ratio", F.floor(ratio * 1e6) / 1e6)
    )


def with_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality score in [0,1]: rewards mid-length docs and
    lexical diversity — the shape of Gopher/C4-style length+repetition
    filters, kept linear and oracle-replicable:

        length_score   = least(n_tokens, 64) / 64
        diversity      = n_distinct_tokens / n_tokens   (0 if empty)
        quality_score  = floor((0.5*length_score + 0.5*diversity) * 1e6) / 1e6

    (floor-scaled, not rounded: the n/64 term makes exact 7th-digit
    ties possible, where engines' double-rounding rules split.)
    """
    toks = tokens(text_col)
    n_tok = token_count(text_col)
    diversity = F.when(n_tok > 0, F.size(F.array_distinct(toks)) / n_tok).otherwise(0.0)
    length_score = F.least(n_tok, F.lit(64)) / F.lit(64.0)
    return df.withColumn(
        "quality_score", F.floor((0.5 * length_score + 0.5 * diversity) * 1e6) / 1e6
    )


def with_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-word language ID: per-language hit counts over the token
    set; predicted language = argmax with 'und' when no marker hits.
    Ties break by language-code order (deterministic, oracle-matching
    via greatest-based CASE)."""
    toks = F.array_distinct(tokens(text_col))
    out = df
    for lang, markers in LANG_MARKERS.items():
        lit_arr = F.array(*[F.lit(m) for m in markers])
        out = out.withColumn(
            f"hits_{lang}", F.size(F.array_intersect(toks, lit_arr)).cast("long")
        )
    hit_cols = [F.col(f"hits_{lang}") for lang in LANG_MARKERS]
    best = F.greatest(*hit_cols)
    pred = F.lit("und")
    # reversed so earlier languages win ties (first match in code order)
    for lang in reversed(list(LANG_MARKERS)):
        pred = F.when(F.col(f"hits_{lang}") == best, F.lit(lang)).otherwise(pred)
    return out.withColumn("pred_lang", F.when(best > 0, pred).otherwise(F.lit("und")))


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic document fingerprint: md5 of the normalized text
    (lowercase, whitespace-collapsed) — the exact-dedup key.  md5 hex is
    engine-portable (DuckDB md5 produces the identical digest)."""
    return df.withColumn("fingerprint", F.md5(norm_text(text_col)))


# Character-trigram marker profiles per language (the n-gram analogue
# of LANG_MARKERS: real systems learn thousands per language from a
# corpus; six keep the operator hermetic and oracle-checkable).
LANG_TRIGRAMS: dict[str, list[str]] = {
    "en": ["the", "ing", "and", "ion", " th", "he "],
    "es": ["que", " de", "los", "ión", "la ", " es"],
    "fr": ["les", " le", "ent", "ion", " de", "es "],
    "de": ["der", "die", "und", "sch", "ein", "cht"],
}


def with_lang_id_ngram(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Character-n-gram language ID: slide a 3-char window over the
    normalized text, score each language by how many of its marker
    trigrams appear, argmax with 'und' fallback.  Pure column algebra
    (transform over a char-index sequence), zero Python."""
    norm = norm_text(text_col)
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(norm) - 2, F.lit(1))),
            lambda i: norm.substr(i, F.lit(3)),
        )
    )
    out = df
    for lang, marks in LANG_TRIGRAMS.items():
        lit_arr = F.array(*[F.lit(m) for m in marks])
        out = out.withColumn(
            f"tri_{lang}", F.size(F.array_intersect(grams, lit_arr)).cast("long")
        )
    hit_cols = [F.col(f"tri_{lang}") for lang in LANG_TRIGRAMS]
    best = F.greatest(*hit_cols)
    pred = F.lit("und")
    for lang in reversed(list(LANG_TRIGRAMS)):
        pred = F.when(F.col(f"tri_{lang}") == best, F.lit(lang)).otherwise(pred)
    return out.withColumn("pred_lang_ngram", F.when(best > 0, pred).otherwise(F.lit("und")))


# BPE-style pre-tokenizer split (GPT-2 shaped, lookahead-free so the
# same pattern runs under both Java regex and RE2/DuckDB): contraction
# suffixes, space-prefixed letter runs, short digit groups, punctuation
# runs.  Whitespace itself produces no token.
BPE_SPLIT_RE = r"'[a-zA-Z]+| ?[a-zA-Z]+| ?[0-9]{1,3}| ?[^a-zA-Z0-9\s]+"


def with_token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting both ways a data pipeline needs it: cheap
    whitespace tokens (dedup/stats) and a BPE-ish subword-boundary count
    (LLM cost/length estimation).  Both are single regex passes in
    whole-stage codegen."""
    return df.withColumn("ws_tokens", token_count(text_col)).withColumn(
        "bpe_tokens",
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_SPLIT_RE), F.lit(0))).cast(
            "long"
        ),
    )


def with_quality_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality scoring from length + punctuation + stopword signals (the
    C4/Gopher-shaped filter family, kept linear and oracle-replicable):

        punct_ratio  = punctuation chars / chars
        stop_ratio   = EN-stopword occurrences / tokens
        length_score = least(n_tokens, 64) / 64
        diversity    = distinct tokens / tokens
        quality_full = 0.35*length + 0.35*diversity
                     + 0.15*(1 - least(4*punct_ratio, 1))   # punct-heavy docs
                     + 0.15*least(3*stop_ratio, 1)          # natural text has stopwords
    """
    c = F.col(text_col)
    toks = tokens(text_col)
    n_tok = token_count(text_col)
    chars = F.greatest(F.length(c), F.lit(1))
    punct_chars = F.length(c) - F.length(F.regexp_replace(c, r"[^a-zA-Z0-9\s]", ""))
    punct_ratio = punct_chars / chars
    stop_arr = F.array(*[F.lit(m) for m in LANG_MARKERS["en"]])
    stop_hits = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    stop_ratio = stop_hits / F.greatest(n_tok, F.lit(1))
    length_score = F.least(n_tok, F.lit(64)) / F.lit(64.0)
    diversity = F.when(n_tok > 0, F.size(F.array_distinct(toks)) / n_tok).otherwise(0.0)

    def _trunc6(c):
        # floor-scale, NOT round: the score mixes terminating decimals
        # (n/64 etc.), so exact ....5 ties at the 7th digit occur and
        # Spark (rounds the shortest-decimal rendering) disagrees with
        # engines that round the binary double.  floor of the identical
        # double is bit-deterministic everywhere.
        return F.floor(c * 1e6) / 1e6

    return (
        df.withColumn("punct_ratio", _trunc6(punct_ratio))
        .withColumn("stop_ratio", _trunc6(stop_ratio))
        .withColumn(
            "quality_full",
            _trunc6(
                0.35 * length_score
                + 0.35 * diversity
                + 0.15 * (1 - F.least(4 * punct_ratio, F.lit(1.0)))
                + 0.15 * F.least(3 * stop_ratio, F.lit(1.0))
            ),
        )
    )


def _positional_shingles(col: Column | str, n: int = 3) -> Column:
    """Word n-grams in document order (NOT deduplicated — winnowing
    needs positional windows)."""
    toks = tokens(col)
    return F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )


# ---------------------------------------------------------------------------
# mapInPandas kernel support: a bit-exact Python replica of the
# ``tokens()`` column helper, for kernels whose token streams must equal
# the column helper's (and the DuckDB oracle's) EXACTLY.
#
# tokens(c) == F.split(F.trim(c), r"\s+"), whose Spark semantics are:
#   - F.trim strips the ASCII SPACE character (0x20) ONLY (UTF8String
#     .trim; tabs/newlines survive)            -> str.strip(" ")
#   - Java regex \s without UNICODE flags is exactly [ \t\n\x0B\f\r]
#     (no \x85, no Unicode spaces)             -> the explicit class
#   - F.split passes limit=-1 to Java split, so LEADING and TRAILING
#     empty tokens are KEPT ("\ta" -> ["", "a"]) -> re.split keeps both
# Pinned by test_winnow_arrow_tokens_exactness against the live Spark
# expression on adversarial strings (tabs, \x0B, NBSP, trailing ws).
# ---------------------------------------------------------------------------
_JAVA_WS_RUN = re.compile(r"[ \t\n\x0B\f\r]+")


def _py_tokens(text: str) -> list[str]:
    """Python replica of ``tokens(col)`` — see block comment above."""
    return _JAVA_WS_RUN.split(text.strip(" "))


def _py_winnow_fp_set(text: str | None, n: int, w: int) -> list[str]:
    """Sorted DISTINCT winnow fingerprints of one document — the
    selection both winnow consumers read set-wise
    (``with_winnow_fingerprint``'s count + digest and
    ``dedup.winnow_pairs``' posting rows).

    Steps: positional word n-grams (" ".join(toks[i:i+n]) for i in
    0..max(T-n, 0) over the audited ``_py_tokens``), md5 hex per gram,
    then the min of each window of ``w`` hashes at positions
    0..max(|grams|-w, 0) (hex strings are ASCII, so str min is the
    byte-wise min the DuckDB oracle takes).  NULL text has no
    fingerprints; empty text has one, md5('')."""
    if text is None:
        return []
    toks = _py_tokens(text)
    t = len(toks)
    grams = [" ".join(toks[i : i + n]) for i in range(max(t - n, 0) + 1)]
    hs = [hashlib.md5(g.encode("utf-8")).hexdigest() for g in grams]
    gt = len(hs)
    return sorted({min(hs[i : i + w]) for i in range(max(gt - w, 0) + 1)})


def _winnow_id_guard(where: str, id_col: str):
    """In-kernel contract check factory for the winnow kernels:
    ``id_col`` must be non-null and unique.  The map input is
    hash-REPARTITIONED by id (see callers), so every copy of an id
    lands in ONE partition and a partition-local seen-set detects
    every duplicate.  Returns a per-task closure: call it on each
    batch's id Series.

    The guard is only sound on input hash-partitioned by ``id_col``
    (``repartition(F.col(id_col))`` right before the mapInPandas).
    Without that colocation two copies of an id can sit in different
    partitions, each seen-set sees one copy, and the duplicate passes
    silently — keep the repartition fused with every caller."""
    msg = (
        f"{where}: id_col '{id_col}' must be non-null and unique "
        "— fingerprints are per-document; dedup or re-key the input"
    )

    def make():
        seen: set = set()

        def check(ids) -> None:
            if ids.isna().any():
                raise ValueError(msg)
            for v in ids:
                if v in seen:
                    raise ValueError(msg)
                seen.add(v)

        return check

    return make


def _winnow_fingerprint_rows(
    df: DataFrame, text_col: str, n: int, w: int, id_col: str,
) -> DataFrame:
    """Per-document (id, n_fingerprints, winnow_digest) in ONE
    mapInPandas pass over hash(id)-partitioned (id, text) — no explode,
    no window, no per-gram shuffle.  The repartition is the colocator
    ``_winnow_id_guard`` needs, and it moves each text once
    (CollapseRepartition folds it over any caller-side spread
    repartition, so single-file local layouts pay ONE exchange total).
    Every step is exact string/integer work — see
    ``_py_winnow_fp_set`` and the ``_py_tokens`` audit."""
    import pandas as pd
    from pyspark.sql import types as T

    guard = _winnow_id_guard("with_winnow_fingerprint", id_col)

    def fp_profile(batches):
        check = guard()
        for pdf in batches:
            if not len(pdf):
                continue
            check(pdf[id_col])
            nfp, dig = [], []
            for text in pdf[text_col]:
                fps = _py_winnow_fp_set(text, n, w)
                nfp.append(len(fps))
                # NULL text: 0 fingerprints and a NULL digest, as the oracle
                dig.append(None if text is None else
                           hashlib.md5(",".join(fps).encode("utf-8")).hexdigest())
            yield pd.DataFrame(
                {id_col: pdf[id_col], "n_fingerprints": nfp,
                 "winnow_digest": dig}
            )

    id_field = df.select(id_col).schema.fields[0]
    schema = T.StructType([
        id_field,
        T.StructField("n_fingerprints", T.LongType()),
        T.StructField("winnow_digest", T.StringType()),
    ])
    return (
        df.select(id_col, text_col)
        .repartition(F.col(id_col))
        .mapInPandas(fp_profile, schema=schema)
    )


def winnow_fp_set_rows(
    df: DataFrame, text_col: str, n: int, w: int, id_col: str,
) -> DataFrame:
    """The winnow selection as DISTINCT rows: one (_wid, _fp) row per
    (document, selected fingerprint), in a single mapInPandas pass over
    hash(id)-partitioned (id, text) — no explode, no window.  Rows are
    distinct without a global ``.distinct()`` because each per-doc set
    is deduped in Python and ids are unique (the colocating
    repartition + in-kernel ``_winnow_id_guard``).  Consumed by
    ``dedup.winnow_pairs``; see ``_py_winnow_fp_set`` for the
    selection."""
    import pandas as pd
    from pyspark.sql import types as T

    guard = _winnow_id_guard("winnow_pairs", id_col)

    def emit(batches):
        check = guard()
        for pdf in batches:
            if not len(pdf):
                continue
            check(pdf[id_col])
            ids, fs = [], []
            for v, text in zip(pdf[id_col], pdf[text_col]):
                for fp in _py_winnow_fp_set(text, n, w):
                    ids.append(v)
                    fs.append(fp)
            if ids:
                yield pd.DataFrame({"_wid": ids, "_fp": fs})

    id_type = df.select(id_col).schema.fields[0].dataType
    schema = T.StructType([
        T.StructField("_wid", id_type),
        T.StructField("_fp", T.StringType()),
    ])
    return (
        df.select(id_col, text_col)
        .repartition(F.col(id_col))
        .mapInPandas(emit, schema=schema)
    )


def with_winnow_fingerprint(
    df: DataFrame, text_col: str = "text", n: int = 3, w: int = 4,
    id_col: str = "doc_id",
) -> DataFrame:
    """Rolling-hash document fingerprint by winnowing (Schleimer et al.,
    SIGMOD'03): hash every positional word n-gram, keep the minimum of
    each sliding window of ``w`` hashes, dedup — the selected set is
    guaranteed to overlap for documents sharing any run of >= n+w-1
    tokens, which is what plagiarism/near-copy detection needs and a
    single whole-document hash cannot give.  Emits the fingerprint count
    and an order-insensitive digest of the set.

    Hashes are md5 hex strings (window min = lexicographic min) so the
    DuckDB oracle reproduces the selection bit-for-bit.

    Plan: one mapInPandas pass computes each document's fingerprint
    set in Python (``_winnow_fingerprint_rows``; hashlib md5 is Spark's
    digest), then a left join carries the input columns back — a pure
    map at any scale.  The uniqueness contract is enforced in the
    kernel itself: the input is hash-repartitioned by ``id_col`` so
    every copy of an id lands in one partition, and a per-partition
    seen-set (``_winnow_id_guard``) raises on the first repeat."""
    fps = _winnow_fingerprint_rows(df, text_col, n, w, id_col)
    # The null-id assert must live on the LEFT side: the equi-join is
    # null-intolerant, so Catalyst pushes isnotnull(id) into the fps
    # branch and would prune a null-id row there BEFORE the kernel's
    # guard ever sees it — leaving silent NULL fingerprint columns.
    # Left rows survive the left join, so this per-row assert cannot be
    # optimized away.
    id_ok = F.coalesce(
        F.assert_true(
            F.col(id_col).isNotNull(),
            F.lit(
                f"with_winnow_fingerprint: id_col '{id_col}' must be "
                "non-null and unique — a null id would miss the "
                "fingerprint join as silent NULLs; filter or re-key first"
            ),
        ).cast("boolean"),
        F.lit(True),
    )
    return (
        df.withColumn("_idok", id_ok)
        .filter("_idok")
        .drop("_idok")
        .join(fps, id_col, "left")
    )


# PII patterns, deliberately lookahead-free so the identical strings run
# under Java regex (Spark) and RE2 (DuckDB).  Order matters: emails are
# masked before digit runs so the local part's digits don't double-mask.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
# phones must contain a separator after the leading digit group, so a
# bare long digit run falls through to the [ID] class instead
PII_PHONE_RE = r"\+?[0-9]{1,4}[\- ()]+[0-9][0-9\- ()]{4,}[0-9]"
PII_LONGNUM_RE = r"[0-9]{9,}"


def with_pii_scrub(df: DataFrame, text_col: str = "text") -> DataFrame:
    """PII redaction for training corpora (the standard pre-training
    scrub pass): mask emails, phone-shaped number runs, and long digit
    sequences (account/ID numbers) with typed placeholders, and count
    each hit so downstream filters can drop PII-dense documents.  Pure
    regexp column algebra — single codegen pass per pattern, no Python,
    no shuffle; at 100 TB this is a narrow map over the corpus."""
    c = F.col(text_col)
    n_emails = F.size(F.regexp_extract_all(c, F.lit(PII_EMAIL_RE), F.lit(0))).cast("long")
    after_email = F.regexp_replace(c, PII_EMAIL_RE, "[EMAIL]")
    n_phones = F.size(
        F.regexp_extract_all(after_email, F.lit(PII_PHONE_RE), F.lit(0))
    ).cast("long")
    after_phone = F.regexp_replace(after_email, PII_PHONE_RE, "[PHONE]")
    n_longnums = F.size(
        F.regexp_extract_all(after_phone, F.lit(PII_LONGNUM_RE), F.lit(0))
    ).cast("long")
    scrubbed = F.regexp_replace(after_phone, PII_LONGNUM_RE, "[ID]")
    return (
        df.withColumn("n_emails", n_emails)
        .withColumn("n_phones", n_phones)
        .withColumn("n_longnums", n_longnums)
        .withColumn("scrubbed", scrubbed)
    )


def with_corpus_filter(
    df: DataFrame,
    text_col: str = "text",
    min_tokens: int = 5,
    max_tokens: int = 1000,
    min_quality: float = 0.2,
) -> DataFrame:
    """C4/Gopher-style corpus admission filter: compose the token-count,
    quality and language signals into a keep/drop verdict with the FIRST
    failing rule as the reason (so corpus curation is auditable).  Rules:
    too_short | too_long | low_quality | keep.  Composition of existing
    narrow operators — still zero-shuffle, zero-Python."""
    out = with_quality_score(with_text_stats(df, text_col), text_col)
    reason = (
        F.when(F.col("n_tokens") < min_tokens, F.lit("too_short"))
        .when(F.col("n_tokens") > max_tokens, F.lit("too_long"))
        .when(F.col("quality_score") < min_quality, F.lit("low_quality"))
        .otherwise(F.lit("keep"))
    )
    return out.withColumn("admit_reason", reason).withColumn(
        "keep", F.col("admit_reason") == "keep"
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    window: int = 32,
    stride: int = 24,
) -> DataFrame:
    """Sliding token-window chunking — the standard pre-tokenization
    splitter for LLM training/RAG pipelines: cut each document into
    ``window``-token chunks every ``stride`` tokens (overlap =
    window - stride), with the final chunk covering the tail.

    chunk count = 1 + ceil(max(n_tokens - window, 0) / stride); blank
    documents produce no chunks.  Implemented as posexplode over a
    per-row index sequence + ``slice`` — a narrow transform followed by
    a generate, no shuffle at all, so at 100 TB the chunker runs at
    scan speed and output partitioning inherits input partitioning.
    """
    toks = tokens(text_col)
    n_tok = token_count(text_col)
    n_chunks = (
        F.floor((F.greatest(n_tok - window, F.lit(0)) + (stride - 1)) / stride)
        + 1
    ).cast("int")
    base = (
        df.withColumn("__toks", toks)
        .withColumn("__ntok", n_tok)
        .filter(F.col("__ntok") > 0)
        .withColumn("__nch", n_chunks)
    )
    idx = F.explode(F.sequence(F.lit(0), F.col("__nch") - 1))
    piece = F.slice(F.col("__toks"), F.col("chunk_idx") * stride + 1, window)
    return (
        base.withColumn("chunk_idx", idx)
        .withColumn("chunk_text", F.concat_ws(" ", piece))
        .withColumn("n_chunk_tokens", F.size(piece).cast("long"))
        .withColumn("chunk_idx", F.col("chunk_idx").cast("long"))
        .drop("__toks", "__ntok", "__nch")
    )


def with_repetition_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021 §A1.1): the
    share of the document taken by its single most frequent token, and
    the share of duplicated word bigrams.  High values flag boilerplate
    and keyboard-mash documents that length/quality filters miss.

    Scale shape: the top-token count uses explode -> two keyed
    aggregations on (doc_id, token) then doc_id — partial (map-side)
    combine applies, and the only shuffle is by doc_id; the bigram term
    is pure per-row array algebra (array_distinct over n-1 bigrams,
    linear per document).  Shares are emitted as exact floor-scaled
    integers (``*_1e6``) — integer arithmetic on both engines, so the
    oracle comparison has no float-tie risk at all.
    """
    toks = tokens(text_col)
    n_tok = token_count(text_col)
    tok_rows = (
        df.select("doc_id", F.explode(toks).alias("__tok"))
        .groupBy("doc_id", "__tok")
        .count()
        .groupBy("doc_id")
        .agg(F.max("count").alias("__top_cnt"))
    )
    bigrams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - 2, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 2)),
    )
    n_bigrams = F.greatest(n_tok - 1, F.lit(0))
    n_dup_bigrams = F.when(
        n_tok >= 2, n_bigrams - F.size(F.array_distinct(bigrams))
    ).otherwise(F.lit(0))
    return (
        df.withColumn("n_tokens", n_tok)
        .join(tok_rows, "doc_id", "left")
        .withColumn(
            "top_token_share_1e6",
            F.when(
                F.col("n_tokens") > 0,
                F.floor(F.col("__top_cnt") * 1e6 / F.col("n_tokens")),
            )
            .otherwise(F.lit(0))
            .cast("long"),
        )
        .withColumn(
            "dup_bigram_share_1e6",
            F.when(n_bigrams > 0, F.floor(n_dup_bigrams * 1e6 / n_bigrams))
            .otherwise(F.lit(0))
            .cast("long"),
        )
        .drop("__top_cnt")
    )


# -- queries() entries -------------------------------------------------------

def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = cached_scan(spark, f"{sf_dir}/documents.parquet")
    return with_text_stats(df).select(
        "doc_id", "n_tokens", "n_chars_calc", "n_distinct_tokens", "distinct_ratio"
    )


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = cached_scan(spark, f"{sf_dir}/documents.parquet")
    return with_quality_score(df).select("doc_id", "quality_score")


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = cached_scan(spark, f"{sf_dir}/documents.parquet")
    return with_lang_id(df).select("doc_id", "hits_en", "hits_es", "hits_fr", "hits_de", "pred_lang")


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = cached_scan(spark, f"{sf_dir}/documents.parquet")
    return with_fingerprint(df).select("doc_id", "fingerprint")


def q_lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = cached_scan(spark, f"{sf_dir}/documents.parquet")
    return with_lang_id_ngram(df).select(
        "doc_id", "tri_en", "tri_es", "tri_fr", "tri_de", "pred_lang_ngram"
    )


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = cached_scan(spark, f"{sf_dir}/documents.parquet")
    return with_token_counts(df).select("doc_id", "ws_tokens", "bpe_tokens")


def q_quality_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = cached_scan(spark, f"{sf_dir}/documents.parquet")
    return with_quality_signals(df).select(
        "doc_id", "punct_ratio", "stop_ratio", "quality_full"
    )


def q_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    # adaptive spread: the gram+md5 map work needs parallelism when the
    # source is a single parquet file (scan parallelism 1 — measured
    # 3.4 s -> 0.6 s at sf0.1); an already-parallel multi-file scan
    # passes through untouched (no body shuffle).
    df = spread_if_narrow(cached_scan(spark, f"{sf_dir}/documents.parquet"))
    return with_winnow_fingerprint(df).select("doc_id", "n_fingerprints", "winnow_digest")


BM25_QUERY_TERMS = ["join", "hash", "spark", "window", "customer"]


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    topk: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 ranked retrieval: score every document against a fixed term
    set and return the top-k — the classic sparse-retrieval pass used to
    mine training data for a topic (the keyword sibling of
    ``ann_bruteforce``).

    idf uses the Robertson +1 form ln(1 + (N - df + 0.5)/(df + 0.5))
    (always positive); the per-term contribution is floor-scaled to 1e-6
    BEFORE the per-doc sum, so the total is an integer sum — independent
    of engine float-summation order.  The floored score orders the
    result but is NOT part of the hashed cross-engine contract: the
    floor boundary itself is engine-dependent (java Math.log vs libm ln
    differ in the last ulp, so a scaled score within ~1e-8 of an integer
    can floor to different longs).  The hashable surface is rank plus
    exact integers — ``bm_rank`` (row_number over (score desc, id)),
    ``tf_sum``, ``df_min``, ``dl`` — mirroring the rank-based
    ``hybrid_rrf`` contract; rank order is ulp-stable because distinct
    docs' integer scores differ by far more than one floor flip and ties
    break on doc id.

    Plan shape: the explode is filtered to the query terms IMMEDIATELY
    (only matching postings ever shuffle — at 100 TB the (doc, term, tf)
    table is |terms| · df rows, not corpus tokens); df-per-term and the
    (N, avgdl) scalar ride a broadcast; the final top-k is a distributed
    TakeOrdered with a (score desc, id) total order, never a global
    sort."""
    # companion expressions (dl) are PROJECTED before the explode:
    # expressions sharing a select with a generator are re-evaluated
    # per OUTPUT row, turning an O(T) token count into O(T^2) per doc
    # (SCALE.md round-6 lesson; measured 2.5x on 54-token docs)
    posting = (
        df.select(
            F.col(id_col),
            token_count(text_col).alias("dl"),
            tokens(text_col).alias("_tk"),
        )
        .select(id_col, "dl", F.explode("_tk").alias("token"))
        .filter(F.col("token").isin(list(query_terms)))
    )
    tf = posting.groupBy(id_col, "dl", "token").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))
    stats = df.agg(
        F.count("*").alias("n_docs"), F.avg(token_count(text_col)).alias("avgdl")
    )
    idf = F.log(
        1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    term_score = idf * (
        (F.col("tf") * (k1 + 1))
        / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
    )
    scored = (
        tf.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(stats))
        .withColumn("term_score_1e6", F.floor(term_score * 1e6).cast("long"))
    )
    topk_df = (
        scored.groupBy(id_col, "dl")
        .agg(
            F.sum("term_score_1e6").alias("score_1e6"),
            F.sum("tf").alias("tf_sum"),
            F.min("df").alias("df_min"),
        )
        .orderBy(F.col("score_1e6").desc(), F.col(id_col))
        .limit(topk)
    )
    # row_number over the already-limited top-k: the window's single
    # partition holds k rows, never the corpus
    rank_w = Window.orderBy(F.col("score_1e6").desc(), F.col(id_col))
    return topk_df.select(
        F.col(id_col),
        F.row_number().over(rank_w).cast("long").alias("bm_rank"),
        "score_1e6",
        "tf_sum",
        "df_min",
        F.col("dl").cast("long").alias("dl"),
    ).orderBy("bm_rank")


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 documents for a 5-term query over the corpus.  Hashed
    contract is rank + exact integers only (bm_rank, tf_sum, df_min,
    dl); the floor-scaled float score stays out of the hashed columns —
    see bm25_topk's docstring for the cross-engine ulp rationale."""
    docs = cached_scan(spark, f"{sf_dir}/documents.parquet")
    return bm25_topk(docs, BM25_QUERY_TERMS).select(
        "doc_id", "bm_rank", "tf_sum", "df_min", "dl"
    )


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: per term, document frequency and the first
    10 postings (sorted doc ids, CSV-serialized for the driver's scalar
    comparator).  The retrieval-side companion of ``bm25_topk``: a real
    pipeline materializes this table once and serves term lookups from
    it.  Plan shape: explode -> distinct (the only wide op, keyed by
    (doc, term)) -> per-term agg; posting arrays are built per term with
    collect_list whose order is pinned by array_sort, and the stored
    prefix is capped at 10 so no term's row exceeds a bounded size —
    full posting lists at 100 TB belong in per-term files, not a single
    row."""
    docs = cached_scan(spark, f"{sf_dir}/documents.parquet")
    pairs = docs.select(
        F.col("doc_id"), F.explode(F.array_distinct(tokens("text"))).alias("token")
    ).filter(F.col("token") != "")  # blank docs tokenize to [''] on both engines
    return (
        pairs.groupBy("token")
        .agg(
            F.count("*").alias("df"),
            F.concat_ws(
                ",", F.slice(F.array_sort(F.collect_list("doc_id")), 1, 10)
            ).alias("postings_head"),
        )
        .filter(F.col("df") >= 5)
    )


def q_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level n-gram frequency ranking (the classic corpus
    analysis / contamination-check primitive): explode positional word
    trigrams (duplicates kept — true frequency, not document
    frequency), hash-agg counts, top-25 with a total-order tiebreak.
    The explode→agg is one shuffle of skinny (gram) rows; top-k is
    TakeOrdered, never a global sort."""
    docs = cached_scan(spark, f"{sf_dir}/documents.parquet")
    return (
        docs.select(F.explode(_positional_shingles("text", 3)).alias("gram"))
        .groupBy("gram")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "gram")
        .limit(25)
    )


def q_doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length histogram via width_bucket (16 buckets over
    [0, 128)): the one-pass corpus length profile every curation run
    starts with.  The oracle recomputes the bucket with independent
    integer arithmetic, so the gate cross-checks Spark's width_bucket
    against first principles."""
    docs = cached_scan(spark, f"{sf_dir}/documents.parquet")
    n_tok = token_count("text")
    bucket = F.width_bucket(
        n_tok.cast("double"), F.lit(0.0), F.lit(128.0), F.lit(16)
    ).cast("long")
    return (
        docs.select(bucket.alias("len_bucket"), n_tok.alias("n_tokens"))
        .groupBy("len_bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
    )


def q_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms — the classic keyword-extraction
    pass.  tf and df are exact integer aggregates; idf = ln((N+1)/(df+1))
    is computed on those exact integers and orders the per-doc window,
    but the floored score is NOT hashed (SCALE.md determinism rule: a
    floor of a transcendental product can flip a long at the last ulp
    cross-engine — the bm25_topk lesson).  Hashed surface: (doc_id,
    token, tf, df, term_rank), all exact.  Plan shape: one explode→agg
    for tf, a distinct→agg for df (both skinny shuffles), broadcast of
    the scalar N, window top-k per doc."""
    docs = cached_scan(spark, f"{sf_dir}/documents.parquet")
    toks = docs.select(F.col("doc_id"), F.explode(tokens("text")).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dfreq = (
        toks.distinct().groupBy("token").agg(F.count("*").alias("df"))
    )
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    from pyspark.sql import Window as W

    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score_1e6",
            F.floor(
                F.col("tf")
                * F.log((F.col("n_docs") + 1) / (F.col("df") + 1))
                * 1e6
            ).cast("long"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(
        F.col("score_1e6").desc(), F.col("token")
    )
    return (
        scored.withColumn("term_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("term_rank") <= 3)
        .select("doc_id", "token", "tf", "df", "term_rank")
    )


def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix against the corpus's labeled
    ``lang`` column — the audit that turns a heuristic classifier into
    a measured component (per-pair counts expose exactly which
    languages it confuses and how often, feeding threshold decisions
    for the corpus_filter).  One scan + one hash agg over the (label,
    prediction) pairs; the oracle recomputes the full marker heuristic
    independently, so the gate pins classifier AND audit."""
    docs = cached_scan(spark, f"{sf_dir}/documents.parquet")
    return (
        with_lang_id(docs)
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n_docs"))
    )


def q_corpus_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus health report — the one-scan audit a curation
    run opens with: document count, distinct normalized texts, the
    exact-duplicate rate (ppm, integer arithmetic), blank-document rate
    (ppm), and total/mean token volume.  ONE scan, ONE hash agg keyed
    by source (count-distinct adds its expand internally); every
    measure is exact-integer or a single integer division, so the row
    is fully hash-stable cross-engine."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.functions.columns import (
        norm_text,
    )

    docs = cached_scan(spark, f"{sf_dir}/documents.parquet")
    n_tok = token_count("text")
    blank = (F.trim(F.col("text")) == "").cast("long")
    per_src = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count_distinct(norm_text("text")).alias("distinct_texts"),
        F.sum(blank).alias("n_blank"),
        F.sum(n_tok.cast("long")).alias("total_tokens"),
    )
    return per_src.select(
        "source",
        "n_docs",
        "distinct_texts",
        F.floor((F.col("n_docs") - F.col("distinct_texts")) * 1_000_000 / F.col("n_docs"))
        .cast("long")
        .alias("exact_dup_ppm"),
        F.floor(F.col("n_blank") * 1_000_000 / F.col("n_docs")).cast("long").alias(
            "blank_ppm"
        ),
        "total_tokens",
        F.floor(F.col("total_tokens") * 100 / F.col("n_docs")).cast("long").alias(
            "tokens_per_doc_x100"
        ),
    )


def q_perplexity_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram LM perplexity filtering (the CCNet/KenLM-style
    statistical quality gate): score every document by its average
    negative log-probability under the corpus's own unigram model and
    surface the 50 most perplexing docs — the ones a perplexity filter
    would drop first.

    Determinism design (the bm25 playbook): the per-TOKEN
    -ln(count/total) is floor-scaled to an integer BEFORE the per-doc
    sum, so the doc score is an integer sum (independent of summation
    order — a raw double Σln is order-dependent even within one
    engine); the ranking key avg = int_sum / n_tokens is one exact
    integer division in double.  The hashed contract is rank + exact
    integers only (ppl_rank, n_tokens) — the score carries ln's
    engine ULP and orders but is never hashed.  Plan shape: one
    explode, a count window keyed by token (one shuffle), a per-doc
    hash agg, TakeOrdered top-50, windows over the 50 kept rows."""
    docs = cached_scan(spark, f"{sf_dir}/documents.parquet")
    toks = docs.select(
        "doc_id", F.explode(tokens("text")).alias("token")
    ).filter(F.col("token") != "")
    cnt_w = Window.partitionBy("token")
    total = toks.agg(F.count("*").alias("total"))
    scored_toks = toks.withColumn("cnt", F.count("*").over(cnt_w)).crossJoin(
        F.broadcast(total)
    )
    nll_1e6 = F.floor(-F.log(F.col("cnt") / F.col("total")) * 1e6).cast("long")
    per_doc = (
        scored_toks.withColumn("nll_1e6", nll_1e6)
        .groupBy("doc_id")
        .agg(
            F.sum("nll_1e6").alias("sum_nll"),
            F.count("*").alias("n_tokens"),
        )
        .withColumn("avg_nll", F.col("sum_nll") / F.col("n_tokens"))
    )
    top = per_doc.orderBy(F.col("avg_nll").desc(), "doc_id").limit(50)
    rank_w = Window.orderBy(F.col("avg_nll").desc(), "doc_id")
    return (
        top.select(
            "doc_id",
            F.row_number().over(rank_w).cast("long").alias("ppl_rank"),
            "n_tokens",
        )
        .orderBy("ppl_rank")
    )


def q_cdc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking: split each document at tokens whose
    content hash marks a boundary (md5 starting with '0' — P=1/16, so
    ~16-token average chunks), emitting per-chunk token counts and
    digests.  Unlike fixed windows (``text_chunk``), boundaries depend
    only on LOCAL content: inserting a sentence early in a doc does not
    shift any later chunk, so chunk digests are the shift-resilient
    unit for sub-document dedup (the rsync/LBFS trick applied to
    corpus text; pinned by test).

    Cross-engine contract: the boundary predicate is a STRING prefix
    test on md5 (engine-identical, no numeric conversion seam), the
    chunk id is an exclusive running sum of boundary flags, and the
    digest is md5 of the position-ordered token join.  Plan shape:
    posexplode -> one window over (doc, pos) -> one groupBy (doc,
    chunk): two shuffles keyed by doc id, bodies never move."""
    docs = cached_scan(spark, f"{sf_dir}/documents.parquet")
    return cdc_chunks(docs)


def cdc_chunks(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Content-defined chunks: (id, chunk_id, n_chunk_tokens,
    chunk_digest) — see q_cdc_chunk for the contract."""
    pos_tok = df.select(
        F.col(id_col), F.posexplode(tokens(text_col)).alias("pos", "token")
    ).filter(F.col("token") != "")
    flag = F.when(F.md5("token").startswith("0"), 1).otherwise(0)
    w = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunked = pos_tok.withColumn(
        "chunk_id", F.coalesce(F.sum(flag).over(w), F.lit(0)).cast("long")
    )
    ordered_tokens = F.transform(
        F.array_sort(F.collect_list(F.struct("pos", "token"))), lambda s: s["token"]
    )
    return (
        chunked.groupBy(id_col, "chunk_id")
        .agg(
            F.count("*").alias("n_chunk_tokens"),
            F.md5(F.concat_ws(" ", ordered_tokens)).alias("chunk_digest"),
        )
    )


def q_repeated_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-passage mining (boilerplate detection —
    the C4/CCNet passage-dedup stage): CDC chunk digests that appear in
    more than one document, with occurrence counts and a bounded
    sample of afflicted doc ids.  Built ON the content-defined chunks
    so a passage is found no matter where it sits in each document.
    Plan shape: cdc_chunks' two doc-keyed shuffles, then ONE digest-
    keyed agg; the posting sample is capped at 5 ids per digest
    (min-sorted) so no row grows with corpus size — the inverted_index
    prefix rule applied to passages."""
    docs = cached_scan(spark, f"{sf_dir}/documents.parquet")
    chunks = cdc_chunks(docs)
    return (
        chunks.groupBy("chunk_digest")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.count_distinct("doc_id").alias("n_docs"),
            F.max("n_chunk_tokens").alias("n_chunk_tokens"),
            F.concat_ws(
                ",",
                F.slice(F.array_sort(F.collect_set("doc_id")), 1, 5).cast(
                    "array<string>"
                ),
            ).alias("doc_sample"),
        )
        .filter(F.col("n_docs") > 1)
    )


def q_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary construction (the corpus pass before BPE /
    WordPiece training): global token frequencies, the top-200 vocab by
    (count desc, token) total order, and each entry's cumulative corpus
    coverage — the curve that decides vocab size.  Plan shape: one
    explode→hash-agg for counts (map-side combine), TakeOrdered top-200
    (never a global sort), then rank+running-sum windows over the 200
    kept rows only; the corpus total rides a broadcast 1-row cross
    join.  Coverage is an exact-integer running sum divided once by the
    exact total — deterministic double on any engine (SCALE.md rule:
    rational, no transcendental)."""
    docs = cached_scan(spark, f"{sf_dir}/documents.parquet")
    toks = docs.select(F.explode(tokens("text")).alias("token")).filter(
        F.col("token") != ""
    )
    counts = toks.groupBy("token").agg(F.count("*").alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("total"))
    top = counts.orderBy(F.col("cnt").desc(), "token").limit(200)
    order_w = Window.orderBy(F.col("cnt").desc(), "token")
    cum_w = order_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        top.crossJoin(F.broadcast(total))
        .withColumn("vocab_rank", F.row_number().over(order_w).cast("long"))
        .withColumn(
            "coverage",
            F.round(F.sum("cnt").over(cum_w) / F.col("total"), 6),
        )
        .select("token", "cnt", "vocab_rank", "coverage")
    )


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = cached_scan(spark, f"{sf_dir}/documents.parquet")
    return with_pii_scrub(df).select(
        "doc_id", "n_emails", "n_phones", "n_longnums", "scrubbed"
    )


def q_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = cached_scan(spark, f"{sf_dir}/documents.parquet")
    return with_corpus_filter(df).select("doc_id", "keep", "admit_reason")


def q_text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = cached_scan(spark, f"{sf_dir}/documents.parquet")
    return chunk_documents(df).select(
        "doc_id", "chunk_idx", "chunk_text", "n_chunk_tokens"
    )


def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = cached_scan(spark, f"{sf_dir}/documents.parquet")
    return with_repetition_signals(df).select(
        "doc_id", "n_tokens", "top_token_share_1e6", "dup_bigram_share_1e6"
    )


def sequence_pack(
    df: DataFrame,
    budget_tokens: int,
    shard_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Token-budget sequence packing: assign each document to a training
    pack of ~``budget_tokens`` whitespace tokens, filling packs in
    deterministic id order WITHIN each shard.  pack_id is the running
    token count's budget quotient — the streaming one-pass packing used
    when documents arrive pre-sharded (first-fit bin packing needs
    sequential state; the quotient rule is its order-preserving
    approximation and is exactly replayable in ANSI SQL).

    Scale shape: one window per shard (no global sort — shards pack in
    parallel), all integer arithmetic.  Invariant: a pack's token sum
    can exceed the budget only via its final document — an oversized
    document (> budget) may still SHARE its first pack_id with the
    small documents that preceded it mid-pack (its start offset, not
    its size, picks the pack), so downstream consumers must split, not
    assume one-doc packs."""
    n_tok = token_count(text_col)
    w = (
        Window.partitionBy(shard_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(n_tok).over(w)
    return df.select(
        F.col(id_col),
        F.col(shard_col),
        n_tok.cast("long").alias("n_tokens"),
        F.floor((cum - n_tok) / budget_tokens).cast("long").alias("pack_id"),
    )


def q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into ~256-token training sequences per source."""
    return sequence_pack(
        cached_scan(spark, f"{sf_dir}/documents.parquet"), 256
    )


def bpe_pair_counts(
    df: DataFrame, topk: int = 50, text_col: str = "text"
) -> DataFrame:
    """Adjacent token-pair frequencies — the counting step of one BPE
    tokenizer-training merge round (the most-frequent adjacent pair is
    the pair BPE would merge next).  Distributed BPE trainers run
    exactly this count-reduce per merge; here one round is exposed as a
    corpus-statistics operator.

    Plan shape: pairs are built with ARRAY algebra — zip the token
    array against itself shifted by one (slice + arrays_zip), then one
    explode and one count agg.  No window, no per-doc shuffle: the only
    exchange is the final (a, b) count, with map-side partial
    aggregation doing the heavy lifting.  Top-k is a distributed
    TakeOrdered on the total order (count desc, a, b).  At 100 TB this
    is the cheapest possible shape: one narrow pass + one agg whose key
    space is the pair vocabulary, not the corpus."""
    t = tokens(text_col)
    n = F.size(t)
    pairs = F.arrays_zip(
        F.slice(t, 1, n - 1).alias("a"), F.slice(t, 2, n - 1).alias("b")
    )
    return (
        df.filter(F.trim(F.col(text_col)) != "")
        .filter(n >= 2)
        .select(F.explode(pairs).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_pairs"))
        .orderBy(F.col("n_pairs").desc(), "a", "b")
        .limit(topk)
    )


def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bpe_pair_counts(cached_scan(spark, f"{sf_dir}/documents.parquet"))


def q_zipf_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law corpus audit: fit ln(freq) ~ ln(rank) over the top-100
    tokens and report whether the corpus obeys the expected power law —
    a standard sanity check on scraped training corpora (a corpus whose
    token distribution is too flat or too steep is boilerplate- or
    spam-dominated).

    Determinism contract (SCALE.md rule): the regression slope is a
    float and is NOT hashed — the hashed row is exact integers (vocab
    size, total token count, top-token frequency) plus BOOLEANS derived
    from the slope with wide margins (a healthy Zipf slope is ~-1;
    the accepted band [-2, -0.3] is orders of magnitude wider than any
    cross-engine float drift in regr_slope's sums).  Both engines
    compute their own slope; only the banded verdicts are compared.

    Plan: one token count agg, top-100 TakeOrdered, then a 100-row
    regression — driver-light, corpus-scan-heavy, exactly one shuffle."""
    docs = cached_scan(spark, f"{sf_dir}/documents.parquet")
    freqs = (
        docs.filter(F.trim("text") != "")
        .select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
        .localCheckpoint(eager=False)  # vocab-sized; feeds top-100 + totals
    )
    top = freqs.orderBy(F.col("freq").desc(), "token").limit(100)
    w = Window.orderBy(F.col("freq").desc(), "token")
    ranked = top.select(
        "token", "freq", F.row_number().over(w).cast("long").alias("rnk")
    )
    fit = ranked.agg(
        F.count("*").alias("n_top"),
        F.max(F.when(F.col("rnk") == 1, F.col("token"))).alias("top_token"),
        F.max(F.when(F.col("rnk") == 1, F.col("freq"))).alias("top_freq"),
        F.sum("freq").alias("top100_tokens"),
        F.regr_slope(F.log("freq"), F.log("rnk")).alias("slope"),
    )
    totals = freqs.agg(
        F.count("*").alias("vocab_size"),
        F.sum("freq").alias("total_tokens"),
    )
    return fit.crossJoin(totals).select(
        "n_top",
        "top_token",
        "top_freq",
        "top100_tokens",
        "vocab_size",
        "total_tokens",
        (F.col("slope") < -0.3).alias("slope_negative_ok"),
        (F.col("slope") > -2.0).alias("slope_bounded_ok"),
    )


def q_kwic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-in-context (KWIC) concordance: every occurrence of the
    query term with 3 tokens of left/right context — the corpus-
    inspection tool behind 'show me how this term is actually used'
    (retrieval debugging, sense disambiguation, boilerplate hunting).

    Plan: posexplode is filtered to the query term IMMEDIATELY (same
    posting discipline as bm25: only hits leave the scan), and the
    context windows are array slices of the already-held token array —
    no joins, no windows, no second scan.  Output is exact strings +
    integer positions."""
    docs = cached_scan(spark, f"{sf_dir}/documents.parquet")
    t = tokens("text")
    hits = (
        docs.filter(F.trim("text") != "")
        .select("doc_id", t.alias("tk"))
        .select("doc_id", "tk", F.posexplode("tk").alias("pos", "tok"))
        .filter(F.col("tok") == "spark")
    )
    # 0-based pos -> 1-based token index pos+1: left window is the
    # min(pos, 3) tokens ending at index pos, starting at max(pos-2, 1)
    left = F.array_join(
        F.slice(
            F.col("tk"),
            F.greatest(F.col("pos") - 2, F.lit(1)),
            F.least(F.col("pos"), F.lit(3)),
        ),
        " ",
    )
    right = F.array_join(
        F.slice(F.col("tk"), F.col("pos") + 2, 3), " "
    )
    return hits.select(
        "doc_id",
        F.col("pos").cast("long").alias("pos0"),
        left.alias("left_ctx"),
        F.col("tok").alias("term"),
        right.alias("right_ctx"),
    )


def q_vocab_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer application — the encode step completing the
    vocab_build story: map every document's tokens to vocabulary ids
    (vocab_rank from the top-200 table, OOV = -1) and report per doc
    the token count, OOV count, integer-ppm OOV rate, and the first 8
    ids as a preview string (full id arrays would be the training
    shards; the preview keeps the driver row bounded).

    Plan: tokens explode with position, one keyed join against the
    200-row vocab (broadcast — at any corpus size a real vocab is
    10k-100k entries, still broadcast territory), then re-agg per doc
    with ids ordered by position via sort_array on (pos, id) structs —
    the shuffle carries (doc, pos, id) longs, never text."""
    docs = cached_scan(spark, f"{sf_dir}/documents.parquet")
    vocab = q_vocab_build(spark, sf_dir).select("token", "vocab_rank")
    pos_tok = (
        docs.filter(F.trim("text") != "")
        .select("doc_id", F.posexplode(tokens("text")).alias("pos", "token"))
    )
    encoded = pos_tok.join(F.broadcast(vocab), "token", "left").select(
        "doc_id",
        "pos",
        F.coalesce(F.col("vocab_rank"), F.lit(-1)).alias("tok_id"),
    )
    per_doc = encoded.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.when(F.col("tok_id") == -1, 1).otherwise(0)).alias("n_oov"),
        F.array_join(
            F.transform(
                F.slice(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "tok_id"))
                    ),
                    1,
                    8,
                ),
                lambda s: s["tok_id"].cast("string"),
            ),
            " ",
        ).alias("head_ids"),
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_oov",
        F.expr("(n_oov * 1000000) div n_tokens").alias("oov_ppm"),
        "head_ids",
    )


def q_prefix_cache_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KV-cache prefix-sharing audit: how much of the corpus shares a
    16-token prompt prefix — the statistic that sizes prefix-cache hit
    rates in LLM serving (vLLM-style automatic prefix caching) and
    flags template-heavy corpora in training data.

    Per distinct prefix fingerprint with >= 2 docs: the doc count, the
    shared token count, and the integer-ppm share of corpus documents
    living under it.  One narrow fingerprint pass + one count agg; the
    md5 fingerprint is the shuffle key, bodies never move."""
    docs = cached_scan(spark, f"{sf_dir}/documents.parquet")
    t = tokens("text")
    pfx = F.md5(F.array_join(F.slice(t, 1, 16), " "))
    n_pfx_tokens = F.least(token_count("text"), F.lit(16))
    base = docs.filter(F.trim("text") != "").select(
        pfx.alias("prefix_fp"), n_pfx_tokens.alias("n_prefix_tokens")
    )
    total = base.agg(F.count("*").alias("n_docs_total"))
    groups = base.groupBy("prefix_fp", "n_prefix_tokens").agg(
        F.count("*").alias("n_docs")
    )
    return (
        groups.filter(F.col("n_docs") >= 2)
        .crossJoin(F.broadcast(total))
        .select(
            "prefix_fp",
            "n_prefix_tokens",
            "n_docs",
            F.expr("(n_docs * 1000000) div n_docs_total").alias("share_ppm"),
        )
    )


# Frozen integer weights for the linear quality classifier.  Stands in
# for a trained fastText/DCLM-style filter model: the deployment
# mechanism (vectorized linear inference over exact count features,
# JVM-side, no UDF) is the engineered part; swap in trained weights by
# editing this table.  Weights are INTEGERS over integer features so
# the margin is exact long arithmetic -- hash-stable cross-engine per
# the SCALE.md determinism rule (a float dot product would be
# summation-order-dependent).
QUALITY_CLF_WEIGHTS = {
    "w_len": 3,        # x least(n_tokens, 64): longer docs up to a cap
    "w_stop": 40,      # x stopword hits: natural prose signal
    "w_distinct": 5,   # x distinct tokens: vocabulary diversity
    "w_punct": -12,    # x punctuation chars: markup/boilerplate penalty
    "w_digit": -6,     # x digit chars: tables/serial-number penalty
    "bias": -60,
}


def with_quality_classifier(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Model-based quality filtering (the DCLM / FineWeb-Edu stage that
    follows the heuristic ``corpus_filter``): score every document with
    a frozen linear classifier over exact count features and attach the
    margin and keep/drop label.  The whole forward pass is one
    projection in whole-stage codegen -- at 100 TB this is a zero-
    shuffle scan-local map, the cheapest possible model inference.

    Features are exact longs (token count capped at 64, stopword hits,
    distinct tokens, punctuation chars, digit chars); the margin is an
    integer dot product plus bias, so score and label are
    bit-deterministic on any engine -- no sigmoid is applied because
    rank/threshold decisions only need the margin (monotone in the
    probability), keeping the hashed surface transcendental-free."""
    c = F.col(text_col)
    toks = tokens(text_col)
    n_tok = token_count(text_col).cast("long")
    stop_arr = F.array(*[F.lit(m) for m in LANG_MARKERS["en"]])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t))).cast(
        "long"
    )
    n_distinct = F.when(
        F.trim(c) == "", F.lit(0)
    ).otherwise(F.size(F.array_distinct(toks))).cast("long")
    n_punct = (
        F.length(c) - F.length(F.regexp_replace(c, r"[^a-zA-Z0-9\s]", ""))
    ).cast("long")
    n_digit = (F.length(c) - F.length(F.regexp_replace(c, r"[0-9]", ""))).cast(
        "long"
    )
    w = QUALITY_CLF_WEIGHTS
    margin = (
        F.lit(w["w_len"]) * F.least(n_tok, F.lit(64))
        + F.lit(w["w_stop"]) * n_stop
        + F.lit(w["w_distinct"]) * n_distinct
        + F.lit(w["w_punct"]) * n_punct
        + F.lit(w["w_digit"]) * n_digit
        + F.lit(w["bias"])
    ).cast("long")
    return (
        df.withColumn("n_tok", n_tok)
        .withColumn("n_stop", n_stop)
        .withColumn("n_distinct", n_distinct)
        .withColumn("n_punct", n_punct)
        .withColumn("n_digit", n_digit)
        .withColumn("clf_margin", margin)
        .withColumn(
            "clf_label",
            F.when(margin >= 0, F.lit("keep")).otherwise(F.lit("drop")),
        )
    )


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frozen-linear-classifier quality inference over the corpus;
    hashed surface is all exact integers + the derived label."""
    docs = cached_scan(spark, f"{sf_dir}/documents.parquet")
    return with_quality_classifier(docs).select(
        "doc_id",
        "n_tok",
        "n_stop",
        "n_distinct",
        "n_punct",
        "n_digit",
        "clf_margin",
        "clf_label",
    )


def bpe_train_merges(
    df: DataFrame, n_merges: int = 3, text_col: str = "text",
) -> DataFrame:
    """BPE tokenizer TRAINING (Sennrich et al. 2016), not just the
    counting step (``bpe_pair_counts``): run ``n_merges`` full merge
    rounds over the corpus word-frequency table and return the learned
    merge rules — the artifact a tokenizer ships.  Each round counts
    adjacent symbol pairs weighted by word frequency, picks the winner
    on the total order (count desc, left, right), and rewrites every
    word by merging winner occurrences left-to-right.

    Exact BPE semantics including equal-symbol runs: for a winner
    (a, a), occurrences overlap, and left-to-right greedy merging keeps
    only even offsets within each maximal run of ``a`` ("aaaa" ->
    "aa aa", never "a aa a") — the ``_bpe_fold_rule`` left-fold gives
    exactly that.  All counts are exact longs and symbols are strings,
    so the learned rules are hash-identical cross-engine; the oracle
    unrolls the same rounds in SQL.

    Plan: state is the array-shaped word-type table
    (``bpe_word_types``, lazily checkpointed); each round counts
    adjacent pairs via a zip-slice explode + ONE hash agg, COLLECTS the
    1-row argmax (scale-free driver state, one row per round, so
    training is eager at construction),
    and rewrites by stacking a ``_bpe_fold_rule`` column — no windows,
    no per-round shuffle beyond the count agg, no checkpoint chain.
    Early exhaustion (no pair left) stops the loop and returns the
    legitimate SHORT table.

    The state is |distinct words| x avg word length, independent of
    corpus row count: at 100 TB the word table is the TYPE vocabulary
    (millions of rows, not billions), so every round is cheap
    regardless of corpus size."""
    types = bpe_word_types(df, text_col).localCheckpoint(eager=False)
    col = F.col("syms")
    rules: list[tuple[int, str, str, int]] = []
    for rnd in range(1, n_merges + 1):
        win = (
            types.select(
                "freq",
                F.explode(
                    F.zip_with(
                        F.slice(col, 1, F.size(col) - 1),
                        F.slice(col, 2, F.size(col) - 1),
                        lambda a, b: F.struct(
                            a.alias("sym"), b.alias("nxt")
                        ),
                    )
                ).alias("p"),
            )
            .select(
                F.col("p.sym").alias("sym"),
                F.col("p.nxt").alias("nxt"),
                "freq",
            )
            .groupBy("sym", "nxt")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "sym", "nxt")
            .limit(1)
            .collect()
        )
        if not win:
            break
        r = win[0]
        rules.append((rnd, r.sym, r.nxt, int(r.cnt)))
        col = _bpe_fold_rule(col, r.sym, r.nxt)
    return df.sparkSession.createDataFrame(
        rules,
        "merge_round long, left_sym string, right_sym string, "
        "pair_weight long",
    )


def bpe_apply_merges(
    types: DataFrame, merges: DataFrame, n_merges: int = 3,
) -> DataFrame:
    """BPE ENCODING: apply a FIXED, ordered merge table (the artifact
    ``bpe_train_merges`` ships — columns merge_round, left_sym,
    right_sym) to the word-type table ``bpe_word_types`` builds
    (word, freq, syms), rule by rule in rank order — the
    inference-time half of the tokenizer that training alone never
    exercises.  Applying rules learned on the same corpus reproduces
    the trainer's final state exactly (pinned by test); on UNSEEN text
    the rules apply wherever their pair occurs, the real encode
    semantics.  Returns (word, freq, pos, sym), one row per encoded
    symbol.

    Plan: every rule is a codegen'd ``aggregate`` left-fold over each
    word's symbol array (``_bpe_fold_rule``): merge the incoming symbol
    into the accumulator's tail when (tail, incoming) equals the rule,
    else append.  A left-fold IS left-to-right greedy BPE — after a
    merge the tail becomes the merged symbol, which can only re-match
    as the rule's LEFT side if ``a + b == a`` (impossible, b nonempty),
    so overlapping pairs are skipped and equal-symbol runs merge at
    even offsets.  No windows and no shuffle of its own: the output
    stays hash-partitioned on word (``bpe_word_types``' groupBy), so
    q_bpe_encode's n_syms regroup and the roundtrip law's decode
    regroup reuse that exchange.

    Laziness: the rule table is collected driver-side up front —
    O(n_merges) rows — to validate it (a GAP round or a duplicated
    round raises; a SHORT table, rounds exactly 1..k < n_merges, is
    legitimate early exhaustion) and to build the fold rules."""
    rules = sorted(
        (r.merge_round, r.left_sym, r.right_sym)
        for r in merges.select(
            "merge_round", "left_sym", "right_sym"
        ).collect()
    )
    rounds = [r[0] for r in rules]
    if rounds != list(range(1, len(rounds) + 1)) or len(rounds) > n_merges:
        raise ValueError(
            f"merge table must carry exactly one rule per round 1..k "
            f"(k <= {n_merges}, short only by training exhaustion); "
            f"got rounds {rounds}"
        )
    col = F.col("syms")
    for _rnd, a, b in rules:
        col = _bpe_fold_rule(col, a, b)
    return types.select(
        "word", "freq", F.posexplode(col).alias("pos", "sym")
    )


def bpe_word_types(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-word-TYPE symbol state (word, freq, syms) — the shared
    starting table of BPE training and BPE encoding: one tokens-explode
    + one word groupBy, initial symbols straight from ``split``.
    |distinct words| rows, independent of corpus row count; output
    stays hash-partitioned on word."""
    return (
        df.filter(F.trim(F.col(text_col)) != "")
        .select(F.explode(tokens(text_col)).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
        .select(
            "word",
            "freq",
            F.filter(F.split("word", ""), lambda s: s != "").alias("syms"),
        )
    )


def _bpe_fold_rule(syms_col, a: str, b: str):
    """One BPE rule (a, b) as a left-fold over a symbol array: if the
    accumulator's tail is ``a`` and the incoming symbol is ``b``,
    replace the tail with ``a || b``; else append.  ``try_element_at``
    yields NULL on the empty accumulator (ANSI-safe), and NULL == a is
    NULL, so the first symbol always appends."""
    return F.aggregate(
        syms_col,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.try_element_at(acc, F.lit(-1)) == F.lit(a))
            & (s == F.lit(b)),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - F.lit(1)),
                F.array(F.concat(F.lit(a), s)),
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document BPE encoding profile: learn the corpus's first 3
    merges (``bpe_train_merges``), ENCODE every document by applying
    that merge table (``bpe_apply_merges``), and report exact per-doc
    (n_tokens, n_chars, n_symbols) — symbol count strictly between
    n_tokens (full merge) and n_chars (no merge applies), the
    compression readout a tokenizer team tracks per corpus slice.

    Encoding happens at the word-TYPE level (a word's encoding depends
    only on the word), then joins back to the per-doc token stream —
    so the expensive rewrite runs over the vocabulary, never the
    corpus, and the join key is the word string.  The encode half is
    one word-keyed exchange + codegen'd array folds (see
    ``bpe_apply_merges``), and the n_syms regroup reuses that
    exchange.  All longs; the oracle unrolls the same 3 train
    rounds + the type-level symbol count in SQL (the bpe_train twin
    extended to its final state)."""
    docs = cached_scan(spark, f"{sf_dir}/documents.parquet")
    merges = bpe_train_merges(docs, n_merges=3)
    encoded = bpe_apply_merges(bpe_word_types(docs), merges, n_merges=3)
    per_word = encoded.groupBy("word").agg(
        F.count("*").cast("long").alias("n_syms")
    )
    doc_words = (
        docs.filter(F.trim("text") != "")
        .select("doc_id", F.explode(tokens("text")).alias("word"))
        .filter(F.col("word") != "")
    )
    return (
        doc_words.join(per_word, "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum(F.length("word")).cast("long").alias("n_chars"),
            F.sum("n_syms").cast("long").alias("n_symbols"),
        )
    )


def q_bpe_roundtrip_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer DECODE law for the BPE path, one row: encode every
    word type with the learned merge table, reassemble each word by
    concatenating its symbols in position order, and prove the decode
    equals the original word for ALL types (n_decode_mismatch = 0) —
    the lossless-encode contract (``vocab_roundtrip`` precedent) that
    certifies the consumed/lag rewrite never drops, duplicates or
    reorders a symbol.  Also pins the aggregate merge effect:
    n_syms_total strictly below total chars once any rule fired."""
    docs = cached_scan(spark, f"{sf_dir}/documents.parquet")
    merges = bpe_train_merges(docs, n_merges=3)
    encoded = bpe_apply_merges(bpe_word_types(docs), merges, n_merges=3)
    per_word = encoded.groupBy("word").agg(
        F.count("*").cast("long").alias("n_syms"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "sym"))),
                lambda s: s["sym"],
            ),
            "",
        ).alias("decoded"),
    )
    return per_word.agg(
        F.count("*").cast("long").alias("n_words"),
        F.sum("n_syms").cast("long").alias("n_syms_total"),
        F.sum(F.length("word")).cast("long").alias("n_chars_total"),
        F.sum(
            F.when(F.col("decoded") != F.col("word"), 1).otherwise(0)
        ).cast("long").alias("n_decode_mismatch"),
    )


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the corpus's first 3 BPE merges; hashed surface is the
    merge table (round, left, right, exact weighted count)."""
    return bpe_train_merges(
        cached_scan(spark, f"{sf_dir}/documents.parquet"), n_merges=3
    )


def q_rag_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG passage retrieval: the corpus is cut into 32-token sliding
    chunks (``chunk_documents``, stride 24) and BM25-ranked at the
    CHUNK level — the retrieval granularity an actual RAG serving stack
    uses (a whole-document hit is useless to a 4k-context generator;
    the payoff of chunk scoring is that the returned span already fits
    the prompt).  Composition of two existing verified operators, so
    the only new surface is the chunk id scheme: chunk_id = doc_id *
    1e6 + chunk_idx (exact in a long for doc_id < 9.2e12; documents
    with more than 1e6 chunks — 24M tokens — would need a wider key).

    Hashed contract: rank + exact integers (the bm25_topk rule); doc_id
    and chunk_idx are recovered from the winning chunk ids.  Plan
    shape: chunking is shuffle-free scan-speed generate, then the BM25
    pass inherits bm25_topk's posture (explode filtered to query terms
    immediately, broadcast df/avgdl, distributed TakeOrdered top-k) —
    chunking multiplies row count ~n_tokens/24 but the post-filter
    posting table is still |terms| · chunk-df rows, never the corpus."""
    docs = cached_scan(spark, f"{sf_dir}/documents.parquet")
    chunks = chunk_documents(docs).select(
        (F.col("doc_id") * F.lit(1_000_000) + F.col("chunk_idx")).alias(
            "chunk_id"
        ),
        "chunk_text",
    )
    out = bm25_topk(
        chunks, BM25_QUERY_TERMS, text_col="chunk_text", id_col="chunk_id"
    )
    return out.select(
        F.expr("chunk_id div 1000000").cast("long").alias("doc_id"),
        (F.col("chunk_id") % F.lit(1_000_000)).cast("long").alias("chunk_idx"),
        "bm_rank",
        "tf_sum",
        "df_min",
        "dl",
    )


# ---------------------------------------------------------------------------
# DSIR importance-weight data selection
# ---------------------------------------------------------------------------


def dsir_scores(
    df: DataFrame,
    is_target: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
) -> DataFrame:
    """Data Selection with Importance Resampling (DSIR, Xie et al. 2023)
    over hashed unigram features: score every RAW document by how much
    it looks like the TARGET distribution,

        score(doc) = sum over token occurrences of
                     ln( p_target(bucket(tok)) / p_raw(bucket(tok)) )

    with Laplace-smoothed bucket unigram LMs (bucket = first hex byte of
    md5(token) -> 256 buckets; the hashed-feature trick is what makes
    DSIR run at pretraining scale — the model state is B integers, not a
    vocabulary).

    Determinism contract (SCALE.md rule): each bucket's log-ratio is
    floor-scaled to 1e-6 BEFORE the per-doc sum, so doc scores are
    integer sums; the hashed surface downstream is rank + exact
    integers, never the transcendental-valued weight (the
    perplexity_rank precedent).

    Plan shape: one token explode -> (doc, bucket) longs only; the
    bucket LM is a 2·B-cell aggregate that rides a BROADCAST back onto
    the postings; the per-doc sum is one keyed hash agg with map-side
    combine.  Nothing driver-side, nothing quadratic — the exact shape
    a 100 TB selection pass wants (DSIR's raw corpus never shuffles
    text, only (doc, bucket) pairs)."""
    bucket = F.conv(F.substring(F.md5(F.col("token")), 1, 2), 16, 10).cast("int")
    posting = (
        df.select(
            F.col(id_col),
            is_target.alias("is_target"),
            tokens(text_col).alias("_tk"),
        )
        .select(id_col, "is_target", F.explode("_tk").alias("token"))
        .filter(F.col("token") != "")
        .select(id_col, "is_target", bucket.alias("bucket"))
    )
    lm = posting.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_target"), 1).otherwise(0)).alias("c_t"),
        F.sum(F.when(F.col("is_target"), 0).otherwise(1)).alias("c_r"),
    )
    totals = lm.agg(F.sum("c_t").alias("tot_t"), F.sum("c_r").alias("tot_r"))
    b = F.lit(int(n_buckets))
    log_ratio = F.log(
        ((F.col("c_t") + 1) * (F.col("tot_r") + b))
        / ((F.col("c_r") + 1) * (F.col("tot_t") + b))
    )
    weights = (
        lm.crossJoin(F.broadcast(totals))
        .withColumn("w_1e6", F.floor(log_ratio * 1e6).cast("long"))
        .select("bucket", "w_1e6")
    )
    return (
        posting.filter(~F.col("is_target"))
        .join(F.broadcast(weights), "bucket")
        .groupBy(id_col)
        .agg(F.sum("w_1e6").alias("dsir_1e6"), F.count("*").alias("n_tok"))
    )


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 raw documents by DSIR importance weight, target = the
    non-'en' slice (the minority style; selection pulls raw docs that
    token-distributionally resemble it).  Hashed contract is rank +
    exact integers (ds_rank, n_tok) — the floored-transcendental score
    orders but is never hashed (SCALE.md determinism rule; bm25_topk /
    perplexity_rank precedent).  Ties break on doc_id."""
    docs = cached_scan(spark, f"{sf_dir}/documents.parquet")
    scored = dsir_scores(docs, F.col("lang") != "en")
    top = scored.orderBy(F.col("dsir_1e6").desc(), F.col("doc_id")).limit(50)
    rank_w = Window.orderBy(F.col("dsir_1e6").desc(), F.col("doc_id"))
    return top.select(
        "doc_id",
        F.row_number().over(rank_w).cast("long").alias("ds_rank"),
        "n_tok",
    ).orderBy("ds_rank")


# ---------------------------------------------------------------------------
# PMI collocation mining
# ---------------------------------------------------------------------------


def pmi_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_pair_docs: int = 20,
    topk: int = 30,
) -> DataFrame:
    """Document-level pointwise-mutual-information collocations: token
    pairs that co-occur in the same document far more often than
    independence predicts,

        pmi_ratio(a, b) = P(a, b) / (P(a) P(b))
                        = (c_ab · N) / (c_a · c_b)

    over document-presence counts.  The classic corpus-linguistics
    association miner (word2vec's SGNS factorizes exactly this matrix,
    shifted) — and, unlike a log-PMI formulation, the ratio is kept in
    EXACT INTEGER ppm: (1e6·c_ab·N) div (c_a·c_b) — every hashed column
    incl. the score is engine-exact (no transcendental anywhere; int64
    holds the product up to c_ab·N ~ 9e12 — at genuinely 100 TB counts
    promote the expression to DECIMAL(38,0), same plan).

    Scale shape: the pair generator is a doc-keyed self-join of DISTINCT
    (doc, token) postings, so volume is Σ_doc C(d_distinct, 2) — bounded
    by capped doc length, never corpus-quadratic.  The df >= min filter
    runs BEFORE the self-join and is LOSSLESS for the final
    c_ab >= min filter (c_ab <= min(c_a, c_b)), pruning the postings
    the way jaccard's prefix filter prunes its candidates; the final
    top-k is a distributed TakeOrdered."""
    posting = (
        df.select(F.col(id_col), F.explode(F.array_distinct(tokens(text_col))).alias("token"))
        .filter(F.col("token") != "")
    )
    dfreq = posting.groupBy("token").agg(F.count("*").alias("c"))
    kept = posting.join(
        F.broadcast(dfreq.filter(F.col("c") >= min_pair_docs)), "token"
    )
    n_docs = df.select(id_col).agg(F.count("*").alias("n_docs"))
    a = kept.select(F.col(id_col), F.col("token").alias("tok_a"), F.col("c").alias("c_a"))
    b = kept.select(F.col(id_col), F.col("token").alias("tok_b"), F.col("c").alias("c_b"))
    pairs = (
        a.join(b, id_col)
        .filter(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b", "c_a", "c_b")
        .agg(F.count("*").alias("c_ab"))
        .filter(F.col("c_ab") >= min_pair_docs)
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "pmi_ppm",
            F.expr("(1000000 * c_ab * n_docs) div (c_a * c_b)"),
        )
    )
    return (
        pairs.select("tok_a", "tok_b", "c_ab", "c_a", "c_b", "pmi_ppm")
        .orderBy(F.col("pmi_ppm").desc(), "tok_a", "tok_b")
        .limit(topk)
    )


def q_pmi_cooccur(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = cached_scan(spark, f"{sf_dir}/documents.parquet")
    return pmi_pairs(docs)


# ---------------------------------------------------------------------------
# Retrieval evaluation (P@k / recall / MRR)
# ---------------------------------------------------------------------------


def q_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IR-evaluation audit of the engine's own BM25 stack, one row:
    precision@5 / precision@10, recall@20, and MRR of ``bm25_topk``
    against an EXACT relevance oracle (a document is relevant iff it
    contains >= 3 distinct terms of the 5-term query — computable
    identically on both engines, so the qrels are never hand-labeled).

    Every metric is integer-ppm arithmetic over exact hit counts
    (1e6·hits div k, 1e6 div first_relevant_rank) — floats never enter.
    This is the measurement loop a retrieval-backed data pipeline runs
    after every index/scorer change; it composes bm25_topk (rank
    contract) with a one-scan relevance labeling, and the whole
    evaluation is two broadcast-size frames joined on doc_id."""
    docs = cached_scan(spark, f"{sf_dir}/documents.parquet")
    ranking = bm25_topk(docs, BM25_QUERY_TERMS).select("doc_id", "bm_rank")
    rel = (
        docs.select(
            "doc_id",
            F.size(
                F.array_intersect(
                    F.array_distinct(tokens("text")),
                    F.array([F.lit(t) for t in BM25_QUERY_TERMS]),
                )
            ).alias("n_terms"),
        )
        .filter(F.col("n_terms") >= 3)
        .select("doc_id")
    )
    n_rel = rel.agg(F.count("*").alias("n_relevant"))
    hits = ranking.join(rel, "doc_id")
    agg = hits.agg(
        F.sum(F.when(F.col("bm_rank") <= 5, 1).otherwise(0)).alias("hits_at_5"),
        F.sum(F.when(F.col("bm_rank") <= 10, 1).otherwise(0)).alias("hits_at_10"),
        F.count("*").alias("hits_at_20"),
        F.min("bm_rank").alias("first_rel_rank"),
    )
    return agg.crossJoin(F.broadcast(n_rel)).select(
        "n_relevant",
        "hits_at_5",
        "hits_at_10",
        "hits_at_20",
        F.expr("1000000 * hits_at_5 div 5").alias("p5_ppm"),
        F.expr("1000000 * hits_at_10 div 10").alias("p10_ppm"),
        F.expr(
            "CASE WHEN n_relevant > 0 THEN 1000000 * hits_at_20 div n_relevant "
            "ELSE 0 END"
        ).alias("recall20_ppm"),
        F.expr(
            "CASE WHEN first_rel_rank IS NOT NULL THEN 1000000 div first_rel_rank "
            "ELSE 0 END"
        ).alias("mrr_ppm"),
    )


def quality_ppm(text_col: str = "text") -> Column:
    """Integer-ppm form of ``with_quality_score``'s formula, computed as
    the EXACT rational floor with zero float arithmetic:

        floor((0.5·min(n,64)/64 + 0.5·d/n) · 1e6)
          = (1e6 · (min(n,64)·n + 64·d)) div (128·n)      (n > 0)

    (common denominator 128·n; numerator ≤ 1e6·128·n — int64-safe up to
    n ≈ 7·10¹⁰ tokens/doc).  Round 9 change: the previous form evaluated
    the same value through double division + F.floor, which is exact
    per-op under IEEE 754 but exposed to FMA-contraction / evaluation-
    order differences between the JVM and a C++ oracle build — the only
    float left anywhere in the poisson_bootstrap path.  The pure-int64
    form is bit-identical by construction on any engine.  May differ by
    1 ppm from floor(quality_score·1e6) on docs where the double round-
    trip rounded across the floor boundary — the two are separate
    certified surfaces."""
    toks = tokens(text_col)
    n_tok = token_count(text_col)
    d = F.size(F.array_distinct(toks)).cast("long")
    num = F.lit(1000000) * (F.least(n_tok, F.lit(64)) * n_tok + F.lit(64) * d)
    return (
        F.when(n_tok > 0, F.call_function("div", num, F.lit(128) * n_tok))
        .otherwise(F.lit(0))
        .cast("long")
    )


def q_quality_percentile_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source percentile normalization of the quality score — the
    source-fair admission gate.  A single global quality threshold
    admits whole domains and rejects whole domains (quality
    distributions differ BY SOURCE far more than within one); mapping
    each doc to its within-source percentile makes 'top 20%' mean top
    20% of every source, so the curated mix keeps its source diversity
    (the pattern behind per-domain thresholds in CCNet/RefinedWeb-style
    pipelines).

    Contract: percentile is EXACT integer ppm ((rank-1)·1e6 div (n-1))
    under a pinned (q_ppm, doc_id) total order — no floats anywhere.
    Plan: one narrow quality pass, one source-keyed window (rank +
    count ride the same sort), zero joins.  At 100 TB swap the exact
    rank for approx-quantile cut points per source (the rfm_segments
    posture) — the admission semantics are unchanged."""
    docs = cached_scan(spark, f"{sf_dir}/documents.parquet")
    scored = docs.select("doc_id", "source", quality_ppm("text").alias("q_ppm"))
    w = Window.partitionBy("source").orderBy("q_ppm", "doc_id")
    wn = Window.partitionBy("source")
    ranked = scored.withColumn(
        "q_rank", F.row_number().over(w).cast("long")
    ).withColumn("n_src", F.count("*").over(wn))
    pct = F.expr("((q_rank - 1) * 1000000) div (n_src - 1)")
    return ranked.select(
        "doc_id",
        "source",
        "q_ppm",
        "q_rank",
        pct.alias("pct_ppm"),
        (pct >= 800_000).alias("admitted"),
    )


def q_vocab_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer round-trip fidelity law, one row: encode every
    document with the built vocabulary (vocab_encode's id mapping),
    DECODE the OOV-free documents back (id -> token join, positions
    reassembled), and prove digest equality with the original token
    stream — the lossless-encode contract a training pipeline must
    hold before shipping id shards (a decode mismatch means the shard
    writer reordered or dropped tokens and every downstream model sees
    corrupted text).

    ``roundtrip_ok`` is structural: an OOV-free doc's decode is exactly
    its token sequence IF the id mapping is injective and positions
    survive the shuffle — both of which this row verifies end-to-end
    rather than assumes.  Plan: the encode explode, a 200-row
    broadcast decode join, one per-doc reassembly agg with
    position-pinned ordering, digest compare — the shuffle carries
    (doc, pos, id) longs and short tokens, never full text."""
    docs = cached_scan(spark, f"{sf_dir}/documents.parquet")
    vocab = q_vocab_build(spark, sf_dir).select("token", "vocab_rank")
    pos_tok = docs.filter(F.trim("text") != "").select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "token")
    )
    encoded = pos_tok.join(F.broadcast(vocab), "token", "left").select(
        "doc_id", "pos", F.coalesce(F.col("vocab_rank"), F.lit(-1)).alias("tok_id")
    )
    oov_free = (
        encoded.groupBy("doc_id")
        .agg(F.sum(F.when(F.col("tok_id") == -1, 1).otherwise(0)).alias("n_oov"))
        .filter(F.col("n_oov") == 0)
        .select("doc_id")
    )
    decoded = (
        encoded.join(oov_free, "doc_id")
        .join(
            F.broadcast(vocab.select(F.col("vocab_rank").alias("tok_id"), "token")),
            "tok_id",
        )
        .groupBy("doc_id")
        .agg(
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "token"))),
                        lambda s: s["token"],
                    ),
                    " ",
                )
            ).alias("decoded_digest")
        )
    )
    original = docs.select(
        "doc_id", F.md5(F.array_join(tokens("text"), " ")).alias("orig_digest")
    )
    cmp = decoded.join(original, "doc_id").select(
        (F.col("decoded_digest") == F.col("orig_digest")).cast("long").alias("ok")
    )
    n_docs = docs.filter(F.trim("text") != "").agg(F.count("*").alias("n_docs"))
    return (
        cmp.agg(
            F.count("*").alias("n_oov_free"),
            F.sum("ok").alias("n_roundtrip_exact"),
        )
        .crossJoin(F.broadcast(n_docs))
        .select(
            "n_docs",
            "n_oov_free",
            "n_roundtrip_exact",
            (F.col("n_oov_free") == F.col("n_roundtrip_exact")).alias("roundtrip_ok"),
            (F.col("n_oov_free") > 0).alias("nonvacuous"),
        )
    )


def _tokenized_docs(df: DataFrame) -> DataFrame:
    """ONE tokenization pass, lazily pinned: the regexp split is the
    dominant per-row cost and this frame feeds the bigram stream, the
    model counts, and the unigram counts — without the pin it re-runs
    once per consumer (measured 4 scans -> 1 at sf0.1, the r5
    plan-audit finding).  Skinny payload (id + token array): a bounded
    spill, never document bodies."""
    return (
        df.filter(F.trim("text") != "")
        .select("doc_id", tokens("text").alias("toks"))
        .localCheckpoint(eager=False)
    )


def _bigram_stream(tok_docs: DataFrame) -> DataFrame:
    """(doc_id, v, w) bigram rows from the pinned token arrays — a
    zero-shuffle zip of the array with itself shifted (the
    bpe_pair_counts trick)."""
    return tok_docs.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice("toks", 1, F.greatest(F.size("toks") - 1, F.lit(0))),
                F.slice("toks", 2, F.greatest(F.size("toks") - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("v"), b.alias("w")),
            )
        ).alias("bg"),
    ).select("doc_id", "bg.v", "bg.w")


def bigram_nll_scores(docs: DataFrame, model_docs: DataFrame | None = None) -> DataFrame:
    """Per-document bigram stupid-backoff scores (sum_nll, n_bigrams,
    n_backoff, avg_nll) — the scoring core of ``q_perplexity_bigram``.

    With ``model_docs`` given, the LM counts come from THAT corpus and
    backoff fires for genuinely unseen bigrams (a left join miss) —
    the held-out scoring a filter runs in production.  Self-scored
    (default), every pair trivially exists, so backoff applies to
    singleton bigrams instead (leave-one-out correction).  Unseen
    unigrams floor at count 1.  Exposed so tests can prove ORDER
    SENSITIVITY against a fixed model (a token-reversed doc keeps its
    unigram score but collapses here; note the union-scored form
    would NOT show this — mirrored copies symmetrize the model)."""
    _tokenized, _bigrams = _tokenized_docs, _bigram_stream
    tok_docs = _tokenized(docs)
    pairs = _bigrams(tok_docs)
    # self-scored: the model's bigram stream IS the scoring stream —
    # count it directly instead of re-deriving from text
    model_toks = tok_docs if model_docs is None else _tokenized(model_docs)
    mpairs = pairs if model_docs is None else _bigrams(model_toks)
    big_cnt = mpairs.groupBy("v", "w").agg(F.count("*").alias("c_vw"))
    toks = model_toks.select(F.explode("toks").alias("token")).filter(
        F.col("token") != ""
    )
    uni_cnt = toks.groupBy("token").agg(F.count("*").alias("c_tok"))
    # corpus token total from the aggregated vocabulary (tiny) — not
    # another pass over the token stream
    total = uni_cnt.agg(F.sum("c_tok").alias("total"))
    join_how = "inner" if model_docs is None else "left"
    scored = (
        pairs.join(big_cnt, ["v", "w"], join_how)
        .join(
            F.broadcast(
                uni_cnt.select(F.col("token").alias("v"), F.col("c_tok").alias("c_v"))
            ),
            "v",
            join_how,
        )
        .join(
            F.broadcast(
                uni_cnt.select(F.col("token").alias("w"), F.col("c_tok").alias("c_w"))
            ),
            "w",
            join_how,
        )
        .crossJoin(F.broadcast(total))
    )
    if model_docs is None:
        use_backoff = F.col("c_vw") == 1
    else:
        use_backoff = F.col("c_vw").isNull() | (F.col("c_vw") == 1)
    p_big = F.col("c_vw") / F.coalesce(F.col("c_v"), F.lit(1))
    p_back = 0.4 * F.coalesce(F.col("c_w"), F.lit(1)) / F.col("total")
    nll_1e6 = F.floor(
        -F.log(F.when(use_backoff, p_back).otherwise(p_big)) * 1e6
    ).cast("long")
    return (
        scored.withColumn("nll_1e6", nll_1e6)
        .groupBy("doc_id")
        .agg(
            F.sum("nll_1e6").alias("sum_nll"),
            F.count("*").alias("n_bigrams"),
            F.sum(F.when(use_backoff, 1).otherwise(0)).alias("n_backoff"),
        )
        .withColumn("avg_nll", F.col("sum_nll") / F.col("n_bigrams"))
    )


def kn_bigram_scores(docs: DataFrame, discount: float = 0.75) -> DataFrame:
    """Per-document interpolated Kneser-Ney bigram scores (Kneser &
    Ney 1995; Chen & Goodman 1998 eq. 4.25) — the smoothing that
    replaced stupid backoff wherever perplexity itself matters,
    because the continuation probability models HOW MANY contexts a
    word follows, not how often it occurs ('Francisco' is frequent but
    only ever follows 'San'):

        p(w|v) = (max(c(vw) - D, 0) + D · N1+(v·) · Pcont(w)) / c(v)
        Pcont(w) = N1+(·w) / |bigram types|

    with c(v) = sum_w c(vw) (context totals), N1+(v·) = distinct
    continuations of v, N1+(·w) = distinct contexts of w.  Self-scored
    over the corpus, so every c(vw) >= 1 and p is always positive —
    no extra unseen branch.

    Determinism: the perplexity_bigram playbook — all model inputs are
    exact integer counts, the per-token double is ONE fixed expression
    tree evaluated identically by Spark and DuckDB, and each term is
    floor-scaled to an integer BEFORE the per-doc sum, so the hashed
    longs are order-independent and engine-exact.

    Plan shape: one tokenization pass pinned, one bigram-keyed count
    agg; context totals / continuation counts / the type total are all
    DERIVED from that aggregated (small) table and broadcast back onto
    the scoring stream — the corpus shuffles once, the model never
    exceeds vocabulary scale."""
    tok_docs = _tokenized_docs(docs)
    pairs = _bigram_stream(tok_docs)
    big_cnt = pairs.groupBy("v", "w").agg(F.count("*").alias("c_vw"))
    big_cnt = big_cnt.localCheckpoint(eager=False)  # feeds 4 consumers
    ctx = big_cnt.groupBy("v").agg(
        F.sum("c_vw").alias("c_v"), F.count("*").alias("n1_v")
    )
    cont = big_cnt.groupBy("w").agg(F.count("*").alias("n1_w"))
    types = big_cnt.agg(F.count("*").alias("t_types"))
    scored = (
        pairs.join(big_cnt, ["v", "w"])
        .join(F.broadcast(ctx), "v")
        .join(F.broadcast(cont), "w")
        .crossJoin(F.broadcast(types))
    )
    # ONE expression tree, mirrored verbatim in the oracle SQL
    p = (
        F.greatest(F.col("c_vw").cast("double") - F.lit(discount), F.lit(0.0))
        + (F.lit(discount) * F.col("n1_v"))
        * (F.col("n1_w").cast("double") / F.col("t_types"))
    ) / F.col("c_v")
    nll_1e6 = F.floor(-F.log(p) * 1e6).cast("long")
    return (
        scored.select("doc_id", nll_1e6.alias("nll"))
        .groupBy("doc_id")
        .agg(
            F.sum("nll").cast("long").alias("sum_nll_1e6"),
            F.count("*").cast("long").alias("n_bigrams"),
        )
        .withColumn("avg_nll", F.col("sum_nll_1e6") / F.col("n_bigrams"))
    )


def q_perplexity_kn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 documents by Kneser-Ney bigram NLL — the high-perplexity
    slice a KN-smoothed quality gate would drop first.  Hashed
    contract: rank + exact longs (sum_nll_1e6, n_bigrams)."""
    docs = cached_scan(spark, f"{sf_dir}/documents.parquet")
    per_doc = kn_bigram_scores(docs)
    top = per_doc.orderBy(F.col("avg_nll").desc(), "doc_id").limit(50)
    rank_w = Window.orderBy(F.col("avg_nll").desc(), "doc_id")
    return top.select(
        "doc_id",
        F.row_number().over(rank_w).cast("long").alias("kn_rank"),
        "sum_nll_1e6",
        "n_bigrams",
    ).orderBy("kn_rank")


def q_perplexity_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram LM perplexity with STUPID BACKOFF (Brants et al. 2007 —
    the large-scale LM scoring recipe KenLM popularized for data
    filtering): each token after the first scores

        p(w | v) = c(vw) / c(v)           if c(vw) > 0
                 = 0.4 · c(w) / total     otherwise (backoff)

    and documents rank by average negative log-score.  The bigram
    model catches word-ORDER corruption the unigram gate
    (perplexity_rank) is blind to — a shuffled document keeps its
    unigram score exactly but collapses under the bigram.

    Determinism: the perplexity_rank playbook — per-token -ln terms
    floor-scaled to integers BEFORE the per-doc sum; hashed contract
    is rank + exact integers (n_bigrams, n_backoff).  Plan shape: the
    bigram stream is a zero-shuffle zip of the token array with itself
    shifted (pure array algebra, the bpe_pair_counts trick); bigram
    counts are a
    (v,w)-keyed agg joined back on the key; unigram counts and the
    scalar total ride as in perplexity_rank.  The doc-keyed sum is the
    only corpus-wide shuffle beyond the count joins."""
    docs = cached_scan(spark, f"{sf_dir}/documents.parquet")
    # c_vw == 1 backoff: the pair always exists in the corpus it was
    # counted from, so true backoff never fires self-scored; backing
    # off singleton bigrams is the standard leave-one-out correction.
    per_doc = bigram_nll_scores(docs)
    top = per_doc.orderBy(F.col("avg_nll").desc(), "doc_id").limit(50)
    rank_w = Window.orderBy(F.col("avg_nll").desc(), "doc_id")
    return top.select(
        "doc_id",
        F.row_number().over(rank_w).cast("long").alias("ppl_rank"),
        "n_bigrams",
        "n_backoff",
    ).orderBy("ppl_rank")


def q_classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram counts for the frozen quality classifier:
    documents bucketed into margin DECILES (ntile-10 under the pinned
    (clf_margin, doc_id) total order), with per-decile exact counts of
    the proxy label (lang == 'en') — the calibration audit an ML gate
    ships next to its confusion matrix (langid_confusion): a
    well-calibrated score's positive rate should move monotonically
    across deciles, and THIS table is what proves or refutes it.

    Everything hashed is exact integers: decile bounds are data values
    (min/max margin per decile), rates are integer ppm.  One narrow
    classifier pass, one GLOBAL ntile window (the exact-decile
    contract needs a total order), one agg — at 100 TB swap the window
    for approx-quantile margin cut points (the rfm_segments posture):
    the diagram is statistically identical and the sort disappears."""
    docs = cached_scan(spark, f"{sf_dir}/documents.parquet")
    scored = with_quality_classifier(docs).select(
        "doc_id", "clf_margin", (F.col("lang") == "en").alias("is_en")
    )
    w = Window.orderBy("clf_margin", "doc_id")
    decile = F.ntile(10).over(w)
    return (
        scored.withColumn("decile", decile.cast("long"))
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("is_en"), 1).otherwise(0)).alias("n_en"),
            F.min("clf_margin").alias("margin_lo"),
            F.max("clf_margin").alias("margin_hi"),
        )
        .select(
            "decile",
            "n_docs",
            "n_en",
            F.expr("(1000000 * n_en) div n_docs").alias("en_rate_ppm"),
            "margin_lo",
            "margin_hi",
        )
    )


def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility audit per (source, lang): how many characters
    and bytes one token 'costs' — the per-slice statistic a tokenizer
    change is judged by (fertility regressions on a language are the
    classic symptom of a vocab rebuilt on skewed data).  Exact integer
    contract: totals are longs and the fertility ratios are integer
    milli-units (1000*chars div tokens), so the hash is engine-exact.

    One scan, one hash agg with map-side combine; output is bounded by
    |sources| x |langs|.  At 100 TB this is the cheapest query in the
    curation suite — no shuffle beyond the group keys."""
    docs = cached_scan(spark, f"{sf_dir}/documents.parquet")
    n_tok = token_count(F.col("text"))
    agg = (
        docs.groupBy("source", "lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(n_tok).cast("long").alias("n_tokens"),
            F.sum(F.length("text")).cast("long").alias("n_chars"),
            F.sum(F.octet_length("text")).cast("long").alias("n_bytes"),
        )
    )
    return agg.select(
        "source", "lang", "n_docs", "n_tokens", "n_chars", "n_bytes",
        F.when(F.col("n_tokens") > 0,
               F.expr("(1000 * n_chars) div n_tokens")).alias("chars_per_token_milli"),
        F.when(F.col("n_tokens") > 0,
               F.expr("(1000 * n_bytes) div n_tokens")).alias("bytes_per_token_milli"),
    )


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram NOVELTY: the fraction of a document's
    distinct word trigrams whose FIRST corpus occurrence (minimum
    doc_id) is this document — the curriculum/memorization signal a
    training-data pipeline tracks as the corpus grows (novelty ~1 =
    fresh content, ~0 = recombination of already-seen text).

    Contract: docs with non-blank text; positional trigrams via the
    winnow family's shared builder (short docs contribute their single
    leftover gram — the established cross-engine quirk), deduplicated
    per doc; novelty_ppm = (1e6 * n_novel) div n_grams, all longs.

    Scale shape (the decontaminate posture): only md5 digests of grams
    travel through the two shuffles (first-occurrence groupBy, per-doc
    recount) — document bodies never shuffle.  Both aggs get map-side
    combine; the digest join is a uniform 32-char key equi-join.  The
    interpreted-HOF gram build is the CPU bottleneck, so it gets BOTH
    levers: the adaptive scan-spread for single-file layouts, and the
    checkpoint barrier ON THE ARRAY PROJECTION — without it
    CollapseProject inlines the build into the Generate and
    InferFiltersFromGenerate pushes a ``size(build) > 0`` copy into
    the scan, re-running the whole HOF chain per row (the
    phrase_search pathology; measured 6.0 -> 1.1 s at sf0.1).  The
    explode+md5 above the barrier replays once per branch, but over
    stored arrays it is noise."""
    docs = spread_if_narrow(cached_scan(spark, f"{sf_dir}/documents.parquet")).filter(
        F.trim(F.col("text")) != ""
    )
    grams = F.array_distinct(_positional_shingles("text", 3))
    arr = docs.select("doc_id", grams.alias("_g")).localCheckpoint(eager=False)
    rows = (
        arr.select("doc_id", F.explode("_g").alias("_gram"))
        .select("doc_id", F.md5("_gram").alias("_h"))
    )
    first = rows.groupBy("_h").agg(F.min("doc_id").alias("_first"))
    return (
        rows.join(first, "_h")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum(
                F.when(F.col("_first") == F.col("doc_id"), 1).otherwise(0)
            ).cast("long").alias("n_novel"),
        )
        .select(
            "doc_id", "n_grams", "n_novel",
            F.expr("(1000000 * n_novel) div n_grams").alias("novelty_ppm"),
        )
    )


def q_classifier_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC of the frozen quality classifier per source, via
    the Mann-Whitney rank-sum identity — the single-number ranking
    audit that accompanies ``classifier_calibration``'s reliability
    diagram (proxy label: ``lang == 'en'``, the same convention).
    AUC = P(score_pos > score_neg) + 0.5 * P(tie), computed without
    any pairwise join: aggregate to per-(source, margin) positive /
    negative counts, then one cumulative pass ordered by margin gives
    sum over margins s of n1(s) * (2*cum_neg_below(s) + n0(s)) ==
    2 * N1 * N0 * AUC.  All arithmetic stays in longs; the reported
    ``auc_ppm`` is an integer floor-div, so the hash is engine-exact.

    Scale shape: one classifier scan (codegen, zero shuffle), one hash
    agg keyed (source, margin), one window PARTITIONED BY source
    ordered by margin — never a global sort.  The window frame runs
    over DISTINCT margins per source (already aggregated), bounded by
    the integer margin range, not the row count; sources with only one
    class are excluded (AUC undefined), mirrored in the oracle."""
    docs = cached_scan(spark, f"{sf_dir}/documents.parquet")
    scored = with_quality_classifier(docs).select(
        "source",
        "clf_margin",
        (F.col("lang") == "en").alias("is_en"),
    )
    g = scored.groupBy("source", "clf_margin").agg(
        F.sum(F.when(F.col("is_en"), 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("is_en"), 0).otherwise(1)).cast("long").alias("n0"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("clf_margin")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = g.withColumn("cum0", F.coalesce(F.sum("n0").over(w), F.lit(0)))
    a = c.groupBy("source").agg(
        F.sum("n1").cast("long").alias("n_pos"),
        F.sum("n0").cast("long").alias("n_neg"),
        F.sum(F.col("n1") * (2 * F.col("cum0") + F.col("n0")))
        .cast("long")
        .alias("numer2"),
    )
    return (
        a.where((F.col("n_pos") > 0) & (F.col("n_neg") > 0))
        .select(
            "source",
            "n_pos",
            "n_neg",
            F.expr("(1000000 * numer2) div (2 * n_pos * n_neg)").alias(
                "auc_ppm"
            ),
        )
    )


# Fixed query batch for the phrase-search registry entry (3-word
# phrases over the synthetic corpus vocabulary; >= 2 words each so the
# bigram index applies).
PHRASE_SEARCH_QUERIES: list[str] = [
    "fast sort key",
    "merge batch part",
    "table window table",
    "scan slow fast",
]


def phrase_search(
    docs: DataFrame,
    phrases: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Batch phrase search via an inverted word-bigram index with
    verification — the positional-index query plan (Manning et al.,
    IIR ch.2) re-expressed relationally: a doc can match the phrase
    only if it contains EVERY word bigram of the phrase, so the index
    prefilter is lossless and the final token-subsequence check on the
    (tiny) candidate set makes correctness independent of the filter.

    Semantics are TOKEN-BOUNDARY-EXACT (round-7 advice): a match is
    the phrase's whitespace-token sequence appearing as a consecutive
    run in the document's whitespace tokens, and n_hits counts every
    such position (overlaps included).  Index, verification, and the
    oracle all share the ONE tokenization (split on ``\\s+``) — a raw
    ``contains()`` check would differ on punctuated/compound tokens
    ('sort key.' substring-matches 'sort key' but tokenizes apart),
    which made the old prefilter claim false off this corpus.

    Returns (phrase, id, n_hits) per matching document.

    Scale shape: the bigram postings are pruned to the queried grams
    INSIDE the scan's map pass (``_phrase_postings`` — at 100 TB the
    postings table is precomputed and this filter is 'read only those
    posting lists'); only (id, gram) skinny rows shuffle for the
    candidate agg; the query->gram table and the surviving candidates
    are both broadcast, so document bodies never shuffle — the
    verification map pass (``_phrase_verify``) reads texts a second
    time but sends nothing anywhere.  Contract: >= 2
    whitespace-separated words per phrase; duplicate phrases are
    deduplicated up front (a duplicate would double its gram rows and
    break the n_hit == k candidate test)."""
    spark = docs.sparkSession
    phrases = list(dict.fromkeys(phrases))
    pat_rows = []
    for p in phrases:
        ws = p.split()
        if len(ws) < 2:
            raise ValueError(f"phrase_search needs >= 2 words: {p!r}")
        grams = sorted({" ".join(ws[i : i + 2]) for i in range(len(ws) - 1)})
        pat_rows.extend((p, g, len(grams)) for g in grams)
    pat = spark.createDataFrame(pat_rows, "phrase string, gram string, k int")
    all_grams = sorted({g for _, g, _ in pat_rows})
    spread = spread_if_narrow(docs)
    postings = _phrase_postings(spread, frozenset(all_grams), id_col, text_col)
    cand = (
        postings.join(F.broadcast(pat), "gram")
        .groupBy("phrase", "_id")
        .agg(F.count("*").alias("n_hit"), F.max("k").alias("k"))
        .where(F.col("n_hit") == F.col("k"))
        .select("phrase", "_id")
    )
    carry = [c for c in docs.columns if c != text_col]
    return _phrase_verify(docs, cand, carry, id_col, text_col)


def _phrase_postings(
    spread_docs: DataFrame, qgrams: frozenset, id_col: str, text_col: str,
) -> DataFrame:
    """(_id, gram) rows for every DISTINCT document bigram that appears
    in the query-gram set — phrase_search's postings prefilter, in one
    mapInPandas pass of native Python set probes (no interpreted
    shingle transform, no explode).  A doc's grams are its positional
    word bigrams over the audited ``_py_tokens``; each doc emits a gram
    at most once (the consumer counts distinct grams per doc, so
    emission order is immaterial).  NULL text emits nothing (every
    query gram contains a space)."""
    import pandas as pd
    from pyspark.sql import types as T

    def emit(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids, gs = [], []
            for v, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                toks = _py_tokens(text)
                t = len(toks)
                seen = set()
                for i in range(max(t - 2, 0) + 1):
                    g = " ".join(toks[i : i + 2])
                    if g in qgrams and g not in seen:
                        seen.add(g)
                        ids.append(v)
                        gs.append(g)
            if ids:
                yield pd.DataFrame({"_id": ids, "gram": gs})

    id_type = spread_docs.select(id_col).schema.fields[0].dataType
    schema = T.StructType([
        T.StructField("_id", id_type),
        T.StructField("gram", T.StringType()),
    ])
    return spread_docs.select(id_col, text_col).mapInPandas(emit, schema=schema)


def _phrase_verify(
    docs: DataFrame, cand: DataFrame, carry: list[str],
    id_col: str, text_col: str,
) -> DataFrame:
    """Token-subsequence verification of the (broadcast) candidate set
    in one mapInPandas pass: n_hits = number of start positions where
    the document's token run equals the phrase's single-space-split
    tokens (overlaps included), rows with n_hits == 0 dropped.  Each
    candidate text is tokenized once (``_py_tokens``); a NULL text
    yields 0.  Exact integer counts, so the oracle's naive scan
    matches by hash."""
    import pandas as pd
    from pyspark.sql import types as T

    joined = docs.join(F.broadcast(cand), F.col(id_col) == F.col("_id"))
    src = joined.select("phrase", *carry, text_col)
    schema = T.StructType(
        [T.StructField("phrase", T.StringType())]
        + [docs.schema[c] for c in carry]
        + [T.StructField("n_hits", T.LongType())]
    )

    def verify(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            keep, hits = [], []
            for i, (ph, text) in enumerate(zip(pdf["phrase"], pdf[text_col])):
                pts = ph.split(" ")
                m = len(pts)
                n = 0
                if text is not None:
                    toks = _py_tokens(text)
                    for j in range(len(toks) - m + 1):
                        if toks[j : j + m] == pts:
                            n += 1
                if n > 0:
                    keep.append(i)
                    hits.append(n)
            if keep:
                out = pdf.iloc[keep][["phrase", *carry]].copy()
                out["n_hits"] = hits
                yield out

    return src.mapInPandas(verify, schema=schema)


def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-bigram-index phrase search over the corpus for the
    fixed query batch; oracle = the naive contains() scan, so the hash
    match proves the index prefilter lossless."""
    docs = cached_scan(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", "text"
    )
    return phrase_search(docs, PHRASE_SEARCH_QUERIES)


def char_entropy_profile(
    docs: DataFrame,
    min_nats_1e6: int = 2_000_000,
) -> DataFrame:
    """Per-document character-distribution Shannon entropy — the
    C4/Gopher-family junk gate that catches what length and stopword
    ratios miss (base64 blobs, key-mash, single-char floods all have
    pathological char entropies).  H = ln(N) - (sum_c n_c ln n_c) / N
    over character counts n_c.

    Exactness (the perplexity recipe, applied per CHARACTER): each
    distinct char contributes n_c·floor(ln(n_c)·1e6) to the sum — the
    INTEGER multiple of a floored small float, not the floor of a big
    float: tools/float_boundary_audit.py measured that
    floor(n·ln(n)·1e6) sits EXACTLY on a floor boundary at n = 22988
    (ulp grows with the value, so big-float floors are structurally
    flippable across engines), while ln(n)·1e6 stays >= hundreds of
    ulps clear of every boundary for all n <= 10⁶ — so the <=1-ulp
    spread between Python's libm, Java Math.log and DuckDB ln can
    never flip a floor.  The keep gate compares in pure integer space:
    N·floor(ln(N)·1e6) - S >= min_nats_1e6·N.

    Plan: ZERO shuffles — the trim-nonempty filter (kept in Spark for
    its exact single-space trim semantics) feeds one mapInPandas pass
    that counts chars with ``Counter``; every output is a pure integer
    function of those counts.  A scan-local map, the cheapest possible
    shape for a 100 TB quality pass.  Contract: single-byte/ASCII-range
    text (the oracle's ``length()`` counts chars; the synthetic corpus
    qualifies); unicode graphemes need a normalizer first."""
    import math
    from collections import Counter

    import pandas as pd
    from pyspark.sql import types as T

    min_nats = int(min_nats_1e6)

    def profile(batches):
        def ln6(x: int) -> int:
            return math.floor(math.log(x) * 1000000.0)

        for pdf in batches:
            if not len(pdf):
                continue
            out = {"doc_id": pdf["doc_id"], "n_chars": [],
                   "distinct_chars": [], "sum_nlogn_1e6": [],
                   "ln_n_1e6": [], "entropy_keep": []}
            for text in pdf["text"]:
                counts = Counter(text)
                n = len(text)
                s = sum(nc * ln6(nc) for nc in counts.values() if nc > 1)
                ln_n = ln6(n)
                out["n_chars"].append(n)
                out["distinct_chars"].append(len(counts))
                out["sum_nlogn_1e6"].append(s)
                out["ln_n_1e6"].append(ln_n)
                out["entropy_keep"].append(n * ln_n - s >= min_nats * n)
            yield pd.DataFrame(out)

    id_field = docs.select("doc_id").schema.fields[0]
    schema = T.StructType([
        id_field,
        T.StructField("n_chars", T.LongType()),
        T.StructField("distinct_chars", T.LongType()),
        T.StructField("sum_nlogn_1e6", T.LongType()),
        T.StructField("ln_n_1e6", T.LongType()),
        T.StructField("entropy_keep", T.BooleanType()),
    ])
    return (
        docs.filter(F.trim("text") != "")
        .select("doc_id", "text")
        .mapInPandas(profile, schema=schema)
    )


def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy profile + 2-nat keep gate over the corpus —
    hashed contract is all exact integers plus the gate boolean."""
    docs = cached_scan(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    return char_entropy_profile(docs)


# ---------------------------------------------------------------------------
# Dictionary tagging (FlashText-style taxonomy labels)
# ---------------------------------------------------------------------------

# Public taxonomy over the corpus vocabulary — the stand-in for a real
# brand-safety / domain keyword dictionary.  Categories sorted, terms
# exact-match on whitespace tokens (the FlashText contract: dictionary
# matching is token-boundary-exact, unlike substring contains()).
TAG_DICTIONARY: dict[str, tuple[str, ...]] = {
    "ops": ("agg", "join", "sort", "filter", "scan", "merge", "group"),
    "objects": ("table", "row", "column", "key", "value", "line", "part",
                "vector", "window"),
    "perf": ("fast", "slow", "small", "big", "batch", "stream"),
}


def dictionary_tag(docs: DataFrame) -> DataFrame:
    """Taxonomy tagging against a fixed keyword dictionary — the
    brand-safety / topic-routing gate every curation pipeline runs
    (FlashText / Aho-Corasick class, Singh 2017): count per-category
    keyword OCCURRENCES per doc and emit the dominant category.

    Plan shape: ZERO shuffle — each category count is an in-row
    ``size(filter(tokens, t -> array_contains(dict, t)))`` over the
    scan projection, so the whole operator is map-only (the dictionary
    is a literal array in the plan; for 10⁵+-term dictionaries switch
    to a broadcast map lookup, same semantics).  Dominant-category
    tie-break is alphabetical (the CASE chain tests categories in
    sorted order with >=), 'none' when no keyword hits."""
    toks = tokens("text")
    cats = sorted(TAG_DICTIONARY)

    def _in_terms(terms: tuple[str, ...]):
        # single-arg closure: a two-parameter lambda would be read by
        # F.filter as the (element, index) signature
        return lambda t: t.isin(*terms)

    counts = [
        F.size(F.filter(toks, _in_terms(TAG_DICTIONARY[cat])))
        .cast("long").alias(f"n_{cat}")
        for cat in cats
    ]
    base = docs.select(
        "doc_id",
        F.when(F.trim(F.col("text")) == "", 0)
        .otherwise(F.size(toks)).cast("long").alias("n_tokens"),
        *counts,
    )
    total = sum(F.col(f"n_{c}") for c in cats[1:]) + F.col(f"n_{cats[0]}")
    # lexicographically-first argmax: test categories in sorted order,
    # each >= all LATER ones — first hit wins (mirrors the oracle CASE)
    dominant = F.when(total == 0, F.lit("none"))
    for i, cat in enumerate(cats[:-1]):
        cond = F.lit(True)
        for o in cats[i + 1:]:
            cond = cond & (F.col(f"n_{cat}") >= F.col(f"n_{o}"))
        dominant = dominant.when(cond, F.lit(cat))
    dominant = dominant.otherwise(F.lit(cats[-1]))
    return base.select(
        "doc_id", "n_tokens", *[f"n_{c}" for c in cats],
        total.cast("long").alias("n_tagged"),
        F.expr(
            "CASE WHEN n_tokens > 0 THEN (1000000 * ("
            + " + ".join(f"n_{c}" for c in cats)
            + ")) div n_tokens ELSE 0 END"
        ).alias("tag_ppm"),
        dominant.alias("dominant"),
    )


def q_dictionary_tag(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dictionary_tag(cached_scan(spark, f"{sf_dir}/documents.parquet"))


# Integer NDCG discount table: NDCG_W[i-1] = floor(1e6 / log2(i + 1))
# for rank i = 1..20, NDCG_CUM[j-1] = W1 + ... + Wj.  Public math
# constants hard-coded identically in the engine and the oracle so the
# graded ranking metric never hashes a transcendental (the repo
# determinism rule).
NDCG_W = [
    1000000, 630929, 500000, 430676, 386852, 356207, 333333, 315464,
    301029, 289064, 278942, 270238, 262649, 255958, 250000, 244650,
    239812, 235408, 231378, 227670,
]
NDCG_CUM = [
    1000000, 1630929, 2130929, 2561605, 2948457, 3304664, 3637997,
    3953461, 4254490, 4543554, 4822496, 5092734, 5355383, 5611341,
    5861341, 6105991, 6345803, 6581211, 6812589, 7040259,
]


def q_retrieval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@20 of the engine's BM25 stack — the graded companion to
    retrieval_eval's P@k/MRR row (NDCG is what ranking changes are
    actually judged on; with binary relevance it reduces to the
    position-discounted hit sum over the ideal prefix).  Relevance is
    the same EXACT rule (>= 3 distinct query terms present), so the
    qrels are engine-derivable, and every discount weight is a
    hard-coded integer micro (floor(1e6/log2(rank+1))) — DCG and IDCG
    are plain integer sums, NDCG an integer floor-div ppm.

    Plan: bm25_topk's distributed top-20 (TakeOrdered) joined to the
    one-scan relevance labeling — the 20-row ranking side broadcasts,
    the relevance side stays a filtered scan (id column only); the
    NDCG arithmetic is a two-literal-array lookup."""
    docs = cached_scan(spark, f"{sf_dir}/documents.parquet")
    ranking = bm25_topk(docs, BM25_QUERY_TERMS, topk=20).select("doc_id", "bm_rank")
    rel = (
        docs.select(
            "doc_id",
            F.size(
                F.array_intersect(
                    F.array_distinct(tokens("text")),
                    F.array([F.lit(t) for t in BM25_QUERY_TERMS]),
                )
            ).alias("n_terms"),
        )
        .filter(F.col("n_terms") >= 3)
        .select("doc_id")
    )
    n_rel = rel.agg(F.count("*").cast("long").alias("n_relevant"))
    w_arr = F.array([F.lit(w).cast("long") for w in NDCG_W])
    cum_arr = F.array([F.lit(c).cast("long") for c in NDCG_CUM])
    dcg = (
        ranking.join(rel, "doc_id")
        .agg(
            F.coalesce(
                F.sum(F.element_at(w_arr, F.col("bm_rank").cast("int"))), F.lit(0)
            ).cast("long").alias("dcg_micro")
        )
    )
    return (
        dcg.crossJoin(F.broadcast(n_rel))
        .select(
            "n_relevant",
            "dcg_micro",
            F.when(
                F.col("n_relevant") > 0,
                F.element_at(
                    cum_arr, F.least(F.col("n_relevant"), F.lit(20)).cast("int")
                ),
            ).otherwise(F.lit(0)).cast("long").alias("idcg_micro"),
        )
        .select(
            "n_relevant", "dcg_micro", "idcg_micro",
            F.expr(
                "CASE WHEN idcg_micro > 0 THEN (1000000 * dcg_micro) div idcg_micro "
                "ELSE 0 END"
            ).alias("ndcg_ppm"),
        )
    )


def q_corpus_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source language-mix diversity: Simpson concentration index
    (Σ share² — the probability two random docs share a language) and
    its reciprocal, the EFFECTIVE number of languages — the standard
    diversity number a multilingual pretraining mix is steered by
    (entropy's integer-exact sibling: Simpson needs no logarithm, so
    the whole audit is exact integer ppm).  A source whose effective
    language count collapses between snapshots has a crawl problem.

    Plan: one (source, lang) hash agg, one source agg — map-side
    combine on both, output O(sources).

    Headroom (the cuped_adjustment convention): 1e6·Σc² stays inside
    int64 up to ~3M docs in a single (source, lang) cell; beyond that
    move ssq to DECIMAL(38,0) — same shape, and the oracle moves with
    it (DuckDB raises on BIGINT overflow rather than wrapping, so an
    overflow is loud before it is wrong)."""
    docs = cached_scan(spark, f"{sf_dir}/documents.parquet")
    per = docs.groupBy("source", "lang").agg(F.count("*").alias("c"))
    return (
        per.groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_langs"),
            F.sum(F.col("c") * F.col("c")).alias("ssq"),
        )
        .select(
            "source", "n_docs", "n_langs",
            F.expr("(1000000 * ssq) div (n_docs * n_docs)").alias("simpson_ppm"),
            F.expr("(1000 * n_docs * n_docs) div ssq").alias("effective_langs_milli"),
        )
    )


VOCAB_GROWTH_BINS = 20


def vocab_growth(docs: DataFrame) -> DataFrame:
    """Heaps-law vocabulary GROWTH CURVE: cumulative distinct-word
    count as the corpus grows in doc_id order, reported over a fixed
    20-bin grid — the diminishing-returns audit behind "will more of
    this source still add new vocabulary?" (healthy scraped corpora
    grow ~n^0.5; a flat curve means the source is exhausted, a linear
    one means unfiltered noise).

    Determinism + scale: bins are ((doc_id − min)·20) div (range+1) —
    FIXED at 20 by construction, so the cumulative windows run on a
    20-row frame (plan-audit allowlisted) no matter the corpus size.
    Cumulative-distinct never materializes: each word contributes at
    its FIRST bin (min-bin agg), and the curve is a running sum of
    first appearances — the ab_sequential_looks recipe applied to
    vocabulary.  Blank docs are excluded from tokenization but still
    counted in the doc/token columns' denominator bins.

    Plan: one (min, max) agg broadcast, one explode + (word) min-agg +
    (bin) count-agg for new words, one (bin) doc/token agg, a 20-row
    grid join and 20-row windows.  The explode's (word) agg is the
    only big shuffle — identical shape to zipf_law's vocab agg."""
    mm = docs.agg(
        F.min("doc_id").alias("_minid"), F.max("doc_id").alias("_maxid")
    )
    nb = VOCAB_GROWTH_BINS
    d = docs.crossJoin(F.broadcast(mm)).select(
        "doc_id", "text",
        F.expr(
            f"((doc_id - _minid) * {nb}) div (_maxid - _minid + 1)"
        ).alias("bin"),
        token_count("text").alias("ntok"),
    )
    per_bin = d.groupBy("bin").agg(
        F.count("*").alias("n_docs"), F.sum("ntok").alias("bin_tokens")
    )
    first_bin = (
        d.filter(F.trim("text") != "")
        .select("bin", F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.min("bin").alias("fbin"))
        .groupBy("fbin")
        .agg(F.count("*").alias("new_words"))
    )
    grid = (
        docs.sparkSession.range(nb)
        .select(F.col("id").cast("long").alias("bin"))
        .join(per_bin, "bin", "left")
        .join(first_bin, F.col("bin") == F.col("fbin"), "left")
        .select(
            "bin",
            F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
            F.coalesce("bin_tokens", F.lit(0)).cast("long").alias("bin_tokens"),
            F.coalesce("new_words", F.lit(0)).cast("long").alias("new_words"),
        )
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    return grid.select(
        "bin", "n_docs", "bin_tokens", "new_words",
        F.sum("n_docs").over(w).cast("long").alias("cum_docs"),
        F.sum("bin_tokens").over(w).cast("long").alias("cum_tokens"),
        F.sum("new_words").over(w).cast("long").alias("cum_vocab"),
    )


def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    return vocab_growth(cached_scan(spark, f"{sf_dir}/documents.parquet"))


# Stopword/delimiter list for RAKE phrase splitting (Rose et al. 2010) —
# a FIXED public contract shared verbatim with the SQL oracle; real
# deployments swap in a fuller list, the algorithm is list-agnostic.
RAKE_STOPWORDS = [
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for",
    "if", "in", "into", "is", "it", "no", "not", "of", "on", "or",
    "such", "that", "the", "their", "then", "there", "these", "they",
    "this", "to", "was", "will", "with",
]


def _rake_members(docs: DataFrame) -> DataFrame:
    """``rake_keywords``' candidate-phrase membership table:
    (doc_id, grp, w, plen, phrase) — one row per (document, island
    member) — in ONE mapInPandas pass: no posexplode, no per-doc
    window, no per-token shuffle.

    The LOWERCASING stays IN SPARK (lower(text) before the map), so the
    kernel never case-converts.  Lowering the whole text first equals
    lowering per token: Unicode case mapping maps no character to or
    from the five Java \\s separators (token boundaries are
    unchanged), and the one context-sensitive rule (Greek final sigma)
    keys on the neighboring CASED characters, which whitespace is not.
    (The DuckDB oracle lowers sigma without that rule: 'ΦΩΣ' -> 'φωσ'
    where Spark gives 'φως'; both are pinned by literal in
    tests/test_kernel_oracle.py.)  Tokens and positions come from
    ``_py_tokens``; empty-token and stopword filters are exact string
    membership; the island id grp = pos - rank (rank counted from 1
    over the kept tokens); plen/phrase are the per-island count and
    document-order join — all exact."""
    import pandas as pd
    from pyspark.sql import types as T

    stop = frozenset(RAKE_STOPWORDS)
    src = spread_if_narrow(
        docs.filter(F.trim("text") != "").select(
            "doc_id", F.lower(F.col("text")).alias("_lt")
        )
    )

    def emit(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            dids, grps, ws, plens, phrases = [], [], [], [], []
            for did, lt in zip(pdf["doc_id"], pdf["_lt"]):
                kept = [
                    (pos, wd)
                    for pos, wd in enumerate(_py_tokens(lt))
                    if wd != "" and wd not in stop
                ]
                i = 0
                while i < len(kept):
                    j = i
                    while j + 1 < len(kept) and kept[j + 1][0] == kept[j][0] + 1:
                        j += 1
                    island = kept[i : j + 1]
                    plen = len(island)
                    phrase = " ".join(wd for _, wd in island)
                    grp = island[0][0] - (i + 1)  # pos - row_number
                    for _, wd in island:
                        dids.append(did)
                        grps.append(grp)
                        ws.append(wd)
                        plens.append(plen)
                        phrases.append(phrase)
                    i = j + 1
            if dids:
                yield pd.DataFrame(
                    {"doc_id": dids, "grp": grps, "w": ws,
                     "plen": plens, "phrase": phrases}
                )

    id_field = docs.select("doc_id").schema.fields[0]
    schema = T.StructType([
        id_field,
        T.StructField("grp", T.IntegerType()),
        T.StructField("w", T.StringType()),
        T.StructField("plen", T.LongType()),
        T.StructField("phrase", T.StringType()),
    ])
    return src.mapInPandas(emit, schema=schema)


def rake_keywords(docs: DataFrame) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010) over the corpus:
    candidate phrases are maximal stopword-free token runs; each word
    scores deg/freq where freq counts its phrase occurrences and deg
    sums the lengths of the phrases it appears in (self + co-occurrence
    degree); a phrase scores the sum of its member word scores.  Top-30
    phrases by score — the unsupervised keyword surface a corpus
    curation report leads with.

    Exactness: word score is the exact ppm floor 1e6·deg div freq and
    phrase scores are integer sums of member ppms (per-term floors, the
    link_prediction_ra recipe), so ranking and the (score desc, phrase)
    tie-break are engine-exact.

    Plan: the membership table is one mapInPandas pass
    (``_rake_members``); downstream, hash aggs keyed by word and phrase
    text; top-30 is TakeOrdered.  Word bodies shuffle once as short
    phrase strings — no all-pairs, no global sort."""
    # pinned: read twice, by the word stats and the phrase scores
    mem = _rake_members(docs).localCheckpoint(eager=False)
    sc = (
        mem.groupBy("w")
        .agg(F.count("*").alias("freq"), F.sum("plen").alias("deg"))
        .select("w", F.expr("(1000000 * deg) div freq").alias("s"))
    )
    po = (
        mem.join(sc, "w")
        .groupBy("doc_id", "grp", "phrase")
        .agg(F.sum("s").alias("score"))
    )
    pd = po.groupBy("phrase").agg(
        F.count("*").cast("long").alias("n_occur"),
        F.max("score").cast("long").alias("score_ppm"),
    )
    top = pd.orderBy(F.desc("score_ppm"), "phrase").limit(30)
    w = Window.orderBy(F.desc("score_ppm"), "phrase")
    return top.select(
        "phrase", "n_occur", "score_ppm",
        F.row_number().over(w).cast("long").alias("kw_rank"),
    ).orderBy("kw_rank")


def q_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction over the corpus — see ``rake_keywords``."""
    return rake_keywords(cached_scan(spark, f"{sf_dir}/documents.parquet"))


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Flesch-style readability audit: reading ease on the
    classic 206.835 − 1.015·(words/sentences) − 84.6·(syllables/word)
    scale, in exact milli-points — the curation signal that separates
    natural prose from keyword-stuffed or run-on boilerplate (both of
    which read fine to a length/stopword gate).

    Proxies are DECLARED, engine-exact functions: syllables = vowel-
    group runs [aeiouy]+ (the standard cheap estimator), sentences =
    terminator runs [.!?]+ floored at 1 (punctuation-free docs count as
    one sentence — this corpus is word-soup, so the W/S term degrades
    to words-per-doc there; the formula and the contract stay honest).
    Every division is a per-term integer floor, so per-doc scores and
    the per-source rollup hash identically cross-engine.

    Plan: per-doc regexp counts ride the scan projection (one pass,
    whole-stage codegen), one hash agg by source — output O(|sources|)."""
    docs = cached_scan(spark, f"{sf_dir}/documents.parquet")
    # trim != '' already guarantees >= 1 whitespace token, so no w > 0
    # filter — a size(...) filter would re-evaluate the token split
    # (the Generate-companion audit class)
    per_doc = docs.filter(F.trim("text") != "").select(
        "source",
        token_count("text").alias("w"),
        F.size(F.regexp_extract_all(F.lower("text"), F.lit("[aeiouy]+"), 0))
        .cast("long").alias("syl"),
        F.greatest(
            F.size(F.regexp_extract_all(F.col("text"), F.lit("[.!?]+"), 0)),
            F.lit(1),
        ).cast("long").alias("sent"),
    )
    scored = per_doc.select(
        "source", "w", "syl",
        F.expr(
            "206835 - (1015 * w) div sent - (84600 * syl) div w"
        ).alias("flesch_milli"),
    )
    return scored.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.expr("sum(flesch_milli) div count(*)").cast("long")
        .alias("mean_flesch_milli"),
        F.expr("(100 * sum(syl)) div sum(w)").cast("long")
        .alias("syl_per_100w"),
    )


def q_distinctive_terms(
    spark: SparkSession, sf_dir: str, _lim: int = PPM2_LIMIT
) -> DataFrame:
    """Distinctive vocabulary per source: top-5 terms by relative risk
    RR = (a/n_s) / (b/n_rest) — how over-represented a term is in one
    source vs the rest of the corpus (the log-odds 'what makes this
    source different' report, on an exact integer scale).  The corpus-
    mixture diagnostic behind source weighting decisions: a source
    whose distinctive terms are spam markers gets down-weighted before
    any perplexity filter sees it.

    Exactness: rr_ppm = 1e6·(a·n_rest) / (n_s·(b+1)) with Haldane's +1
    on the out-of-source count (zero-safe), floored via the two-step
    rational form — a·n_rest can reach corpus-tokens², so the 1e6
    multiple must never materialize (the acf_daily overflow class).
    Headroom: the floor needs a·n_rest·1000 < 2⁶³ AND n_s·(b+1)·1000
    < 2⁶³; worst case a·n_rest ≈ N²/4 (one term owning half a two-way
    split corpus), so the safe bound is N ≲ 1.9·10⁸ corpus tokens
    (√(4·(2⁶³−1)/1000)) — NOT the ~3·10⁹ a naive √2⁶³ read suggests
    (ADVICE r10).  Both products are GUARDED at runtime (VERDICT r10
    item 2): ``guard_int64`` asserts each factor against the limit via
    overflow-safe division, so past the bound the job fails loudly
    instead of wrapping — the fix there is sharding the rest-count by
    source group.  Min support a >= 5 keeps hapax noise out.

    Plan: one token explode + (source, term) agg, a term-total agg
    joined back (term-keyed shuffle), per-source top-5 via a window
    PARTITIONED by source (bounded groups — audit-safe); the guard is
    an assert-projection in the scoring select, zero extra jobs."""
    docs = cached_scan(spark, f"{sf_dir}/documents.parquet")
    st = (
        docs.filter(F.trim("text") != "")
        .select("source", F.explode(tokens("text")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("source", "term")
        .agg(F.count("*").alias("a"))
        .localCheckpoint(eager=False)  # term totals + source totals
    )
    term_tot = st.groupBy("term").agg(F.sum("a").alias("t"))
    src_tot = st.groupBy("source").agg(F.sum("a").alias("n_s"))
    n_all = st.agg(F.sum("a").alias("n_all"))
    base = (
        st.join(term_tot, "term")
        .join(F.broadcast(src_tot), "source")
        .crossJoin(F.broadcast(n_all))
        .filter(F.col("a") >= 5)
        .select(
            "source", "term", "a",
            (F.col("t") - F.col("a")).alias("b"),
            (F.col("n_all") - F.col("n_s")).alias("n_rest"),
            "n_s",
        )
    )
    base = guard_int64(
        base,
        (
            (F.col("n_rest") == 0)
            | (F.col("a") <= F.expr(f"{_lim} div n_rest"))
        )
        & (F.col("n_s") <= F.expr(f"{_lim} div (b + 1)")),
        F.format_string(
            "distinctive_terms: rr_ppm operands exceed int64 headroom "
            "for term '%s' (a=%s, n_rest=%s, n_s=%s, b=%s) — shard the "
            "rest-count by source group (docstring bound ~1.9e8 corpus "
            "tokens)",
            F.col("term"), F.col("a"), F.col("n_rest"),
            F.col("n_s"), F.col("b"),
        ),
    )
    scored = (
        base.select(
            "source", "term",
            F.col("a").cast("long").alias("n_in_source"),
            F.col("b").cast("long").alias("n_elsewhere"),
            F.expr(
                "((a * n_rest * 1000) div (n_s * (b + 1))) * 1000 + "
                "(((a * n_rest * 1000) % (n_s * (b + 1))) * 1000) "
                "div (n_s * (b + 1))"
            ).cast("long").alias("rr_ppm"),
        )
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("rr_ppm"), F.col("term")
    )
    return (
        scored.withColumn("term_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("term_rank") <= 5)
    )


CMS_W = 1024  # counters per hash row
CMS_D = 4     # independent hash rows


def _cms_bucket(term, row: int):
    """md5-60bit bucket of ``term`` for CMS hash row ``row`` — the
    repo's standard cross-engine hash recipe, mod CMS_W (positive, so
    % agrees between engines)."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(term, F.lit(f":cm{row}"))), 1, 15
            ),
            16, 10,
        ).cast("long") % CMS_W
    )


def q_countmin_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch audit (Cormode & Muthukrishnan 2005) over the
    corpus term frequencies: build the d=4 x w=1024 counter matrix in
    one pass, then read the CMS estimate (min over rows of the hashed
    counter) for the top-20 EXACT terms next to their true counts —
    the overcount column is the sketch's collision error, measured on
    the keys that matter.  This is the bounded-memory frequency sketch
    a 100 TB stream uses when the exact (term, count) table doesn't
    fit; the audit quantifies what that 16 KB of state costs in
    accuracy on THIS corpus.

    DETERMINISTIC end-to-end: the hash rows are md5-derived (the
    public-seed recipe), so unlike most sketches the full CMS — every
    counter and every estimate — is engine-exact and carries a normal
    value-hash oracle, not a rows-only law.  The one-sided error law
    (est >= exact, always) is additionally pinned by test.

    Plan: one explode feeds BOTH the exact counts (term-keyed agg) and
    the counter build (explode x4 of (row, bucket) ints — 4 tiny longs
    per token, grouped into <= 4096 counters); estimates join the
    broadcast counter table; top-20 is TakeOrdered."""
    docs = cached_scan(spark, f"{sf_dir}/documents.parquet")
    terms = (
        docs.filter(F.trim("text") != "")
        .select(F.explode(tokens("text")).alias("term"))
        .filter(F.col("term") != "")
        .localCheckpoint(eager=False)  # exact counts + counter build
    )
    exact = terms.groupBy("term").agg(F.count("*").alias("exact_cnt"))
    top = exact.orderBy(F.desc("exact_cnt"), "term").limit(20)
    counters = (
        terms.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("r"),
                            _cms_bucket(F.col("term"), i).alias("b"),
                        )
                        for i in range(CMS_D)
                    ]
                )
            ).alias("rb")
        )
        .select("rb.r", "rb.b")
        .groupBy("r", "b")
        .agg(F.count("*").alias("c"))
    )
    probes = top.select(
        "term", "exact_cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("r"),
                        _cms_bucket(F.col("term"), i).alias("b"),
                    )
                    for i in range(CMS_D)
                ]
            )
        ).alias("rb"),
    ).select("term", "exact_cnt", "rb.r", "rb.b")
    est = (
        probes.join(F.broadcast(counters), ["r", "b"])
        .groupBy("term", "exact_cnt")
        .agg(F.min("c").alias("cms_est"))
    )
    return est.select(
        "term",
        F.col("exact_cnt").cast("long").alias("exact_cnt"),
        F.col("cms_est").cast("long").alias("cms_est"),
        (F.col("cms_est") - F.col("exact_cnt")).cast("long")
        .alias("overcount"),
    )


def q_term_freq_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-of-frequencies spectrum of the corpus vocabulary
    (Good-Turing's N_k, the Zipf diagnostic): how many distinct terms
    occur f times, for f in power-of-two buckets, with the token MASS
    each bucket carries — the curve that says whether the corpus is
    natural-language-shaped (hapax-heavy, straight log-log decay) or
    template/spam-shaped (mass piled in a few high-f buckets).  This
    is the vocabulary-level readout vocab_growth (docs axis) and
    countmin_topk (top terms) don't give: the SHAPE of the whole tail,
    which prices every smoothing decision (KN discounts read directly
    off N_1/N_2) and every vocab-size cut.

    Exactness: counts + two exact ppm floors over the open-ended
    GAP_BUCKETS literal.  Plan: one token explode + term agg (the
    distinctive_terms scan shape), one term-frequency count agg, a
    32-row broadcast range join, one <=32-key agg — no windows."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.analytics import (
        pow2_histogram,
    )

    docs = cached_scan(spark, f"{sf_dir}/documents.parquet")
    tf = (
        docs.filter(F.trim("text") != "")
        .select(F.explode(tokens("text")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count("*").alias("f"))
    )
    return pow2_histogram(
        tf, "f",
        bucket_cols=("bucket", "lo_f", "hi_f"),
        count_alias="n_terms", count_share_alias="term_share_ppm",
        mass_alias="token_mass", mass_share_alias="mass_share_ppm",
    )


def q_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source hapax legomena profile: the share of a source's
    DISTINCT vocabulary seen exactly once, and the token-mass share
    those hapaxes carry — the per-source drill-down of
    term_freq_spectrum's corpus-level N_1 (natural text runs hapax-
    heavy; template/boilerplate sources collapse toward zero, and a
    source whose hapax mass share is high is noise-heavy — both are
    source-weighting inputs next to distinctive_terms).

    Exactness: counts + two exact ppm floors.  Plan: one token explode
    + (source, term) agg (the distinctive_terms scan shape), one
    per-source rollup — output O(|sources|), no windows."""
    docs = cached_scan(spark, f"{sf_dir}/documents.parquet")
    st = (
        docs.filter(F.trim("text") != "")
        .select("source", F.explode(tokens("text")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("source", "term")
        .agg(F.count("*").alias("f"))
    )
    return (
        st.groupBy("source")
        .agg(
            F.count("*").alias("n_terms"),
            F.sum(F.col("f")).alias("n_tokens"),
            F.sum((F.col("f") == 1).cast("long")).alias("n_hapax"),
        )
        .select(
            "source",
            F.col("n_terms").cast("long").alias("n_terms"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("n_hapax").cast("long").alias("n_hapax"),
            F.expr("(1000000 * n_hapax) div n_terms").cast("long")
            .alias("hapax_term_ppm"),
            F.expr("(1000000 * n_hapax) div n_tokens").cast("long")
            .alias("hapax_mass_ppm"),
        )
    )


def q_metadata_consistency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared-vs-actual metadata audit: per source, how many
    documents' stored ``n_chars`` disagrees with the text's real
    length — the stale-metadata screen every pipeline that TRUSTS a
    metadata column for sampling/banding/stats (length_proportional
    sampling, trimmed_stats, length_bucket_batches all read n_chars
    here) should run first.  A nonzero mismatch rate means some
    upstream rewrite (truncation, re-encoding, PII scrub) forgot to
    refresh the column; max_abs_delta sizes the worst lie.

    Exactness: all counts exact; mismatch_ppm is the wrap-safe
    two-step floor; max_abs_delta is an exact integer max (0 when the
    source is fully consistent); NULL n_chars counts separately (a
    NULL is missing, not wrong).  Both engines count length() in
    Unicode code points.

    Plan: ONE scan, one source-keyed agg (map-side partial).  Output
    O(|sources|) rows."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.analytics import (
        _ppm2,
    )

    docs = cached_scan(spark, f"{sf_dir}/documents.parquet")
    mism = (
        F.col("n_chars").isNotNull()
        & (F.col("n_chars") != F.length("text"))
    ).cast("long")
    agg = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("n_chars").isNull().cast("long")).alias("n_null_meta"),
        F.sum(mism).alias("n_mismatch"),
        F.coalesce(
            F.max(
                F.when(
                    F.col("n_chars").isNotNull(),
                    F.abs(F.col("n_chars") - F.length("text")),
                )
            ),
            F.lit(0),
        ).cast("long").alias("max_abs_delta"),
    )
    return agg.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_null_meta").cast("long").alias("n_null_meta"),
        F.col("n_mismatch").cast("long").alias("n_mismatch"),
        F.expr(_ppm2("n_mismatch", "n_docs")).cast("long")
        .alias("mismatch_ppm"),
        "max_abs_delta",
    )
