"""Text and near-dup kernels against their DuckDB oracles, on
adversarial corpora.

Each case writes a small corpus with the ``documents`` schema, runs the
registry entry (``queries()[name]``) on Spark and the entry's
``oracle_sql()`` on DuckDB over the same parquet file, and compares the
two with the order-insensitive value hash of ``tools/check_oracle.py``.
Where the two engines' contracts part, the case pins BOTH sides by
literal and hashes the rest:

* Greek final sigma in ``rake_keywords``: Spark lowers 'ΦΩΣ' to 'φως',
  DuckDB to 'φωσ'.

``dedup_winnow`` fixes ``min_shared=2``, which finds no pair on the
shared-run corpus, so that case also pins ``winnow_pairs(min_shared=1)``
by literal.

``dedup_jaccard`` runs on the sf0.001 documents table too, and its
adversarial corpus also pins the pair set by literal, including the
two pairs that clear the threshold outside the length-bucket recall
contract and so must be missed.

``rfm_segments`` reads ``orders`` instead: its cases are the sf0.001
orders table and tiny corpora whose customer counts split unevenly
into quartiles, with ties on every metric.
"""

from __future__ import annotations

from datetime import datetime, timedelta

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entry
from conftest import SF_SMALL
from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.dedup import (
    winnow_pairs,
)
from tools.check_oracle import table_hash

WINNOW = [
    (1, "alpha beta gamma delta epsilon zeta eta theta"),
    (2, "alpha beta gamma delta epsilon zeta eta theta"),  # exact dup
    (3, "the quick brown fox jumps over alpha beta gamma delta"),
    (4, "  leading and trailing  "),
    (5, "tabs\there\tand\nnewlines mixed in a longer body of words"),
    (6, "short doc"),
    (7, "solo"),
    (8, ""),
    (9, None),
    (10, "a\u00a0b c d e f g h"),  # NBSP inside a token
    (11, "x " * 40),                # repeated bigram, trailing space
]

_SHARED_RUN = "alpha beta gamma delta epsilon zeta"
SHARED_RUN = [
    (1, f"intro words here {_SHARED_RUN} closing remarks one"),
    (2, f"totally different opening {_SHARED_RUN} and another tail"),
    (3, f"{_SHARED_RUN} {_SHARED_RUN} repeated twice body"),
    (4, "unrelated content about nothing shared with others at all"),
    (5, ""),                        # blank: excluded
    (6, "tabs\there\t" + _SHARED_RUN + "\nnewline tail"),
    (7, "short doc"),
]

RAKE = [
    (1, "The quick brown fox jumps over the lazy dog"),
    (2, "quick brown fox and lazy dog in the yard"),
    (3, "  Deep learning models for market data  "),
    (4, "deep learning\tmodels\nfor market data"),
    (5, "a an and are as at"),          # all stopwords
    (6, "solo"),
    (7, ""),
    (8, "market-data pipelines, with punctuation."),
    (9, "QUICK BROWN FOX"),
    (10, "ΦΩΣ ΚΑΛΟ market data"),       # final-sigma lowering
    (11, "the of to " + "repeat phrase " * 5),
]

ENTROPY = [
    (1, "abcabcabc"),
    (2, "aaaaaaaaaa"),              # single-char flood
    (3, "   "),                     # trim-empty: filtered
    (4, ""),
    (5, None),
    (6, "the quick brown fox jumps over the lazy dog " * 50),
    (7, "x"),
]

# learns r1 (a,a) and r2 (b,b) over equal-symbol runs, then r3 (a,bb)
# over a merged symbol
BPE_RUNS = [(1, "aaaaa baab abbb")]

# words of the registry's fixed query batch (PHRASE_SEARCH_QUERIES)
PHRASES = [
    (1, "fast sort key"),
    (2, "fast sort key fast sort key"),     # two hits
    (3, "fast sort key."),                  # punctuated token: no hit
    (4, "xfast sort key"),                  # compound token: no hit
    (5, "  merge\tbatch   part  "),         # ragged whitespace still hits
    (6, "table window table window table"),  # overlapping hits
    (7, "scan slow fast scan slow"),
    (8, ""),
    (9, None),
    (10, "fast sort\u00a0key"),  # NBSP is not a separator
]


def _words(prefix: str, lo: int, hi: int) -> str:
    return " ".join(f"{prefix}{i}" for i in range(lo, hi))


# word 3-gram Jaccard >= 0.6 within length buckets of 16 tokens (own +
# successor bucket, so buckets at most one apart meet)
JACCARD = [
    (1, ""),
    (2, None),
    (3, "   "),
    (4, "solo"),                    # under 3 tokens: one whole-doc shingle
    (5, "solo"),                    # exact dup
    (6, "short doc"),
    (7, "short \t doc"),            # same tokens, ragged whitespace
    (8, _words("w", 0, 15)),        # 15 tokens: bucket 0
    (9, _words("w", 0, 16)),        # 16 tokens: bucket 1
    (10, _words("v", 0, 31)),       # 31 tokens: bucket 1
    (11, _words("v", 0, 32)),       # 32 tokens: bucket 2
    (12, _words("t", 1, 7)),        # 4 shingles, 3 shared with 13:
    (13, _words("t", 2, 8)),        # J = 3/5 = 0.6 exactly
    (14, _words("u", 0, 31)),       # bucket 1, J = 29/46 with 15, but
    (15, _words("u", 0, 48)),       # bucket 3: outside the contract
    (16, "a b c a b c"),            # bucket 0, J = 1 with 17, but
    (17, " ".join(["a b c"] * 20)),  # bucket 3: outside the contract
    (18, _words("v", 0, 31)),       # exact dup of 10
]

# NULL text (doc 2) has no shingles and pairs with nothing
JACCARD_PAIRS = [
    (1, 3, 1.0), (4, 5, 1.0), (6, 7, 1.0),
    (8, 9, 0.928571), (10, 11, 0.966667), (10, 18, 1.0),
    (11, 18, 0.966667), (12, 13, 0.6),
]

CASES = [
    pytest.param("char_entropy", ENTROPY, None, None,
                 id="char_entropy-entropy"),
    pytest.param("winnow_fingerprint", WINNOW, None, None,
                 id="winnow_fingerprint-winnow"),
    pytest.param("dedup_winnow", WINNOW, None, None,
                 id="dedup_winnow-winnow"),
    pytest.param(
        "dedup_winnow", SHARED_RUN, None,
        [(1, 2, 1), (1, 3, 1), (1, 6, 1), (2, 3, 1), (2, 6, 1), (3, 6, 1)],
        id="dedup_winnow-shared_run",
    ),
    pytest.param(
        "rake_keywords", RAKE,
        ([{"phrase": "φως καλο market data", "n_occur": 1,
           "score_ppm": 13_333_332, "kw_rank": 3}],
         [{"phrase": "φωσ καλο market data", "n_occur": 1,
           "score_ppm": 13_333_332, "kw_rank": 3}]),
        None,
        id="rake_keywords-rake",
    ),
    pytest.param("bpe_train", BPE_RUNS, None, None, id="bpe_train-bpe_runs"),
    pytest.param("bpe_encode", BPE_RUNS, None, None, id="bpe_encode-bpe_runs"),
    pytest.param("bpe_roundtrip_law", BPE_RUNS, None, None,
                 id="bpe_roundtrip_law-bpe_runs"),
    pytest.param("phrase_search", PHRASES, None, None,
                 id="phrase_search-phrases"),
    pytest.param("dedup_jaccard", None, None, None, id="dedup_jaccard-sf0.001"),
    pytest.param("dedup_jaccard", JACCARD, None, None,
                 id="dedup_jaccard-jaccard"),
]


def _write_documents(sf_dir, rows) -> str:
    """One parquet file with the ``documents`` schema (the registry's
    single-file layout)."""
    path = f"{sf_dir}/documents.parquet"
    texts = [t for _, t in rows]
    pq.write_table(
        pa.table({
            "doc_id": pa.array([i for i, _ in rows], pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * len(rows), pa.string()),
            "source": pa.array(["s"] * len(rows), pa.string()),
            "n_chars": pa.array(
                [None if t is None else len(t) for t in texts], pa.int64()
            ),
        }),
        path,
    )
    return path


def _take(cols, rows, want: list[dict]) -> list[tuple]:
    """The rows other than those in ``want``, each of which must occur
    exactly once."""
    for w in want:
        hit = [r for r in rows if dict(zip(cols, r)) == w]
        assert len(hit) == 1, (w, rows)
    return [r for r in rows if dict(zip(cols, r)) not in want]


@pytest.mark.parametrize("name,corpus,gap,pairs_at_1", CASES)
def test_kernel_matches_oracle(spark, tmp_path, name, corpus, gap, pairs_at_1):
    """``corpus`` None runs the sf0.001 documents table."""
    sf_dir = SF_SMALL if corpus is None else str(tmp_path)
    path = (f"{SF_SMALL}/documents.parquet" if corpus is None
            else _write_documents(tmp_path, corpus))
    sdf = entry.queries()[name](spark, sf_dir)
    scols, srows = sdf.columns, [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    rel = con.sql(entry.oracle_sql()[name])
    ocols, orows = [d[0] for d in rel.description], rel.fetchall()

    if gap is not None:
        spark_only, oracle_only = gap
        srows = _take(scols, srows, spark_only)
        orows = _take(ocols, orows, oracle_only)
    assert sorted(scols) == sorted(ocols)
    assert len(srows) == len(orows)
    assert table_hash(scols, srows) == table_hash(ocols, orows)

    if pairs_at_1 is not None:
        docs = spark.read.parquet(path)
        got = sorted(map(tuple, winnow_pairs(docs, min_shared=1).collect()))
        assert got == pairs_at_1


def test_dedup_jaccard_pairs_on_adversarial_corpus(spark, tmp_path):
    """The registry entry finds every pair the corpus plants within the
    recall contract (exact duplicates, lengths on bucket edges, a pair
    at exactly J = 0.6) and misses the two outside it."""
    _write_documents(tmp_path, JACCARD)
    sdf = entry.queries()["dedup_jaccard"](spark, str(tmp_path))
    assert sorted(map(tuple, sdf.select("id_a", "id_b", "jaccard").collect())) \
        == JACCARD_PAIRS


def _write_orders(sf_dir, n_customers: int) -> str:
    """``orders`` for ``n_customers`` customers whose three RFM metrics
    tie in groups, so every quartile boundary falls on a tie that only
    the customer id breaks: order count 1..3 (cycle of 3), spend
    60.00 or 120.00 (cycle of 4, split evenly over the orders, so equal
    spends come from different order counts), last order on one of two
    days (cycle of 2)."""
    path = f"{sf_dir}/orders.parquet"
    day0 = datetime(1995, 3, 1)
    rows = []
    for c in range(n_customers):
        freq = 1 + c % 3
        spend = 60.0 * (1 + (c // 2) % 2)
        for k in range(freq):
            rows.append((7 * c + 3, day0 + timedelta(days=c % 2 - 10 * k),
                         spend / freq))
    pq.write_table(
        pa.table({
            "o_orderkey": pa.array(range(len(rows)), pa.int64()),
            "o_custkey": pa.array([r[0] for r in rows], pa.int64()),
            "o_orderstatus": pa.array(["F"] * len(rows), pa.string()),
            "o_totalprice": pa.array([r[2] for r in rows], pa.float64()),
            "o_orderdate": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "o_orderpriority": pa.array(["1-URGENT"] * len(rows), pa.string()),
        }),
        path,
    )
    return path


@pytest.mark.parametrize("n_customers", [None, 1, 3, 4, 5, 17],
                         ids=["sf0.001", "1", "3", "4", "5", "17"])
def test_rfm_segments_matches_oracle(spark, tmp_path, n_customers):
    if n_customers is None:
        sf_dir = SF_SMALL
        path = f"{sf_dir}/orders.parquet"
    else:
        sf_dir = str(tmp_path)
        path = _write_orders(sf_dir, n_customers)
    sdf = entry.queries()["rfm_segments"](spark, sf_dir)
    scols, srows = sdf.columns, [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    con.sql(f"CREATE VIEW orders AS SELECT * FROM '{path}'")
    rel = con.sql(entry.oracle_sql()["rfm_segments"])
    ocols, orows = [d[0] for d in rel.description], rel.fetchall()

    assert sorted(scols) == sorted(ocols)
    assert len(srows) == len(orows) > 0
    if n_customers is not None:
        assert len(srows) == n_customers
    assert table_hash(scols, srows) == table_hash(ocols, orows)
