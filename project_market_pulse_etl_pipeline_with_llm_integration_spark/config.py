"""Engine constants mirroring the reference's global configuration.

Reference citations (/root/reference):
  - CATEGORIES_TO_KEEP: ``Main.py:43``
  - BATCH_SIZE (enrichment micro-batch): ``Main.py:47``
  - raw JSONL schema: inferred at ``Main.py:147``; we pin it explicitly
    (schema inference over 100 TB of JSONL is a full extra pass and is
    nondeterministic across file orders — a fixed StructType is the
    Spark-correct contract, SURVEY §1.5).
"""

from __future__ import annotations

from pyspark.sql import types as T

# Stage-1 category filter (Main.py:43).
CATEGORIES_TO_KEEP: list[str] = ["WORLD NEWS", "POLITICS", "BUSINESS", "TECH", "MONEY"]

# Enrichment micro-batch granularity (Main.py:47).  In Spark this is the
# Arrow batch size fed to the enrichment mapInPandas UDF, not a loop bound.
BATCH_SIZE: int = 100

# Most LLM calls one enrichment task keeps in flight at once.  The calls
# block on the network, so each task overlaps them on a thread pool of
# this size instead of waiting for one reply at a time.
LLM_MAX_IN_FLIGHT: int = 16

# Raw news JSONL schema (News_Category_Dataset_v3.json rows; FIXTURES.md F1).
RAW_NEWS_SCHEMA = T.StructType(
    [
        T.StructField("link", T.StringType(), True),
        T.StructField("headline", T.StringType(), True),
        T.StructField("category", T.StringType(), True),
        T.StructField("short_description", T.StringType(), True),
        T.StructField("authors", T.StringType(), True),
        T.StructField("date", T.StringType(), True),
    ]
)

# Clean-stage output contract (Main.py:169; FIXTURES.md F2).
CLEAN_COLUMNS: list[str] = ["id_news", "title", "content", "link", "publish_date", "category"]

# Enriched-stage extra columns (Main.py:241-259; FIXTURES.md F3).
ENRICHED_EXTRA_COLUMNS: list[str] = [
    "sentiment_llm",
    "category_llm",
    "market_impact_summary",
    "etl_processing_time",
]

# In-band error sentinel used by the enrichment UDF (Main.py:87,101,124).
ERROR_SENTINEL = "ERROR_API"

# Deterministic offline-mode payload (Main.py:86-87).
OFFLINE_TRIPLE = (ERROR_SENTINEL, ERROR_SENTINEL, "LLM disabled for test run.")

# Test-data tables generated by the driver (TESTDATA.md).
TESTDATA_TABLES: list[str] = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]
