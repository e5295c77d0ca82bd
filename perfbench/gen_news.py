"""Seeded HuffPost-shaped news corpus: the clean stage's raw JSONL input.

Follows the raw article fixture of the pipeline (``link headline category
short_description authors date``): about 45% of rows fall in the five kept
market categories; headline, description and category are sometimes null;
some descriptions and authors are ``""``; some dates do not parse; dates
repeat; and a fixed share of kept articles repeat an earlier kept article's
headline and description under a new link, like wire copy.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass

KEPT_CATEGORIES = ["WORLD NEWS", "POLITICS", "BUSINESS", "TECH", "MONEY"]
OTHER_CATEGORIES = [
    "U.S. NEWS", "ENTERTAINMENT", "WELLNESS", "TRAVEL", "STYLE & BEAUTY",
    "PARENTING", "HEALTHY LIVING", "QUEER VOICES", "FOOD & DRINK", "COMEDY",
    "SPORTS", "BLACK VOICES", "HOME & LIVING", "PARENTS", "WEDDINGS",
    "WOMEN", "CRIME", "IMPACT", "SCIENCE",
]
# Only KEPT_SHARE and the 24 categories come from the fixture's 1,056-row
# sample (463 rows survive the clean stage).  The fixture requires the
# null, "" and bad-date edge cases but gives no counts for them, and the
# sample's share of wire-copy repeats is not known: the other shares are
# assumptions.  REPEAT_SHARE alone sets how many prompts repeat, so it
# bounds what deduplicating LLM calls could save.
KEPT_SHARE = 0.45
REPEAT_SHARE = 0.3
NULL_SHARE = 0.02
EMPTY_SHARE = 0.04
BAD_DATE_SHARE = 0.03
BAD_DATES = ["", "unknown", "2021-13-01", "31/12/2020", "2020-02-30", "n/a"]
WORDS = (
    "market stocks rally oil prices fall central bank rates inflation trade "
    "deal tariffs election senate vote budget tech giant chip supply chain "
    "shares earnings report growth slows jobs data crypto currency dollar "
    "euro bond yields climbs investors fear recession merger talks startup "
    "funding regulators probe energy crisis export ban summit leaders"
).split()


@dataclass(frozen=True)
class Corpus:
    """Raw JSONL rows plus what the clean stage must keep from them."""

    rows: list[dict]
    kept: int  # rows with title, content, a kept category and a valid date
    distinct_kept_payloads: int  # distinct (title, content) among kept rows


def _text(rnd: random.Random, lo: int, hi: int) -> str:
    return " ".join(rnd.choice(WORDS) for _ in range(rnd.randint(lo, hi)))


def make_corpus(n: int, seed: int) -> Corpus:
    rnd = random.Random(seed)
    rows: list[dict] = []
    kept_payloads: list[tuple[str, str]] = []
    for i in range(n):
        is_kept_cat = rnd.random() < KEPT_SHARE
        category = rnd.choice(KEPT_CATEGORIES if is_kept_cat else OTHER_CATEGORIES)
        if is_kept_cat and kept_payloads and rnd.random() < REPEAT_SHARE:
            headline, desc = rnd.choice(kept_payloads)
        else:
            headline = _text(rnd, 4, 12).capitalize()
            desc = "" if rnd.random() < EMPTY_SHARE else _text(rnd, 8, 30)
        day = rnd.randint(0, 3799)
        date = (
            rnd.choice(BAD_DATES)
            if rnd.random() < BAD_DATE_SHARE
            else f"{2012 + day // 365:04d}-{1 + day % 365 // 31 % 12:02d}-{1 + day % 28:02d}"
        )
        row = {
            "link": f"https://www.huffpost.com/entry/story-{seed}-{i}",
            "headline": headline,
            "category": category,
            "short_description": desc,
            "authors": "" if rnd.random() < 0.3 else f"Writer {rnd.randint(1, 400)}",
            "date": date,
        }
        for field in ("headline", "short_description", "category"):
            if rnd.random() < NULL_SHARE:
                row[field] = None
        rows.append(row)
        if (
            row["headline"] is not None
            and row["short_description"] is not None
            and row["category"] in KEPT_CATEGORIES
            and date not in BAD_DATES
        ):
            kept_payloads.append((row["headline"], row["short_description"]))
    return Corpus(rows, len(kept_payloads), len(set(kept_payloads)))


def write_jsonl(corpus: Corpus, path: str) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        for row in corpus.rows:
            fh.write(json.dumps(row) + "\n")
