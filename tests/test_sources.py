"""Source/sink format coverage: CSV and JSONL roundtrips with pinned
schemas, plus the generic write_table sink; and ``spread_if_narrow``,
the one place that sizes a read's spread."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from project_market_pulse_etl_pipeline_with_llm_integration_spark.sources.readers import (
    read_csv,
    read_jsonl,
    spread_if_narrow,
)
from project_market_pulse_etl_pipeline_with_llm_integration_spark.sources.writers import (
    write_table,
)
from tests.conftest import SF_SMALL, build_jobs


def test_csv_roundtrip_with_schema(spark, tmp_path):
    src = spark.read.parquet(f"{SF_SMALL}/region.parquet")
    path = str(tmp_path / "region_csv")
    write_table(src, path, fmt="csv")
    schema = T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    )
    back = read_csv(spark, path, schema=schema)
    assert sorted((r.r_regionkey, r.r_name) for r in back.collect()) == sorted(
        (r.r_regionkey, r.r_name) for r in src.collect()
    )


def test_jsonl_roundtrip(spark, tmp_path):
    src = spark.read.parquet(f"{SF_SMALL}/nation.parquet")
    path = str(tmp_path / "nation_json")
    write_table(src, path, fmt="json")
    back = read_jsonl(spark, path)
    assert back.count() == src.count()
    assert set(back.columns) == set(src.columns)


def test_orc_roundtrip(spark, tmp_path):
    src = spark.read.parquet(f"{SF_SMALL}/supplier.parquet")
    path = str(tmp_path / "supplier_orc")
    write_table(src, path, fmt="orc")
    back = spark.read.orc(path)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))


def test_partitioned_write_prunes(spark, tmp_path):
    src = spark.read.parquet(f"{SF_SMALL}/customer.parquet")
    path = str(tmp_path / "cust_part")
    write_table(src, path, fmt="parquet", partition_by=["c_mktsegment"])
    back = spark.read.parquet(path).filter(F.col("c_mktsegment") == "BUILDING")
    plan = back._jdf.queryExecution().executedPlan().toString()
    # partition pruning: the segment predicate must land in PartitionFilters
    assert "PartitionFilters: [" in plan
    assert back.count() == src.filter(F.col("c_mktsegment") == "BUILDING").count()


def test_read_table_all_formats_roundtrip(spark, tmp_path):
    """read_table must be the exact inverse of write_table for every
    registered format (csv goes through header+inferSchema)."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.sources.readers import (
        read_table,
    )
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.sources.writers import (
        write_table,
    )

    src = spark.read.parquet(f"{SF_SMALL}/region.parquet")
    want = sorted((r.r_regionkey, r.r_name) for r in src.collect())
    for fmt in ("parquet", "csv", "json", "orc"):
        path = str(tmp_path / f"rt_{fmt}")
        write_table(src, path, fmt=fmt)
        back = read_table(spark, path, fmt=fmt)
        got = sorted((int(r.r_regionkey), r.r_name) for r in back.collect())
        assert got == want, fmt


def test_dynamic_partition_overwrite_replaces_only_touched(spark, tmp_path):
    """With partitionOverwriteMode=dynamic, overwriting a partitioned
    layout replaces ONLY the partitions present in the new data — the
    incremental-reload semantics a daily pipeline needs (static mode
    would wipe every other partition)."""
    path = str(tmp_path / "dyn_part")
    src = spark.read.parquet(f"{SF_SMALL}/customer.parquet")
    write_table(src, path, fmt="parquet", partition_by=["c_mktsegment"])
    before = spark.read.parquet(path).count()

    patch = (
        src.filter(F.col("c_mktsegment") == "BUILDING")
        .withColumn("c_name", F.upper(F.col("c_name")))
    )
    old = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        write_table(patch, path, fmt="parquet", mode="overwrite",
                    partition_by=["c_mktsegment"])
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)

    back = spark.read.parquet(path)
    assert back.count() == before  # untouched partitions survived
    bldg = back.filter(F.col("c_mktsegment") == "BUILDING")
    assert all(r.c_name == r.c_name.upper() for r in bldg.collect())
    other = back.filter(F.col("c_mktsegment") != "BUILDING")
    assert any(r.c_name != r.c_name.upper() for r in other.collect())


def test_merge_schema_reads_evolved_layout(spark, tmp_path):
    """Schema evolution: a parquet dir whose later files add a column
    must be readable with mergeSchema — old rows surface NULL for the
    new column, new rows keep it."""
    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, name string").write.parquet(path)
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, name string, score double"
    ).write.mode("append").parquet(path)
    back = spark.read.option("mergeSchema", "true").parquet(path)
    rows = {r.id: r for r in back.collect()}
    assert set(back.columns) == {"id", "name", "score"}
    assert rows[1].score is None and rows[2].score == 9.5


def test_compact_parquet_dir_reduces_files(spark, tmp_path):
    """Compaction must cut the file count to the byte-derived target and
    preserve the data exactly."""
    import glob

    from project_market_pulse_etl_pipeline_with_llm_integration_spark.sources.writers import (
        compact_parquet_dir,
    )

    src = str(tmp_path / "many")
    dst = str(tmp_path / "few")
    spark.read.parquet(f"{SF_SMALL}/orders.parquet").repartition(24).write.parquet(src)
    assert len(glob.glob(f"{src}/part-*")) == 24
    n = compact_parquet_dir(spark, src, dst, target_mb=128)
    assert n == 1  # tiny table -> single target file
    assert len(glob.glob(f"{dst}/part-*")) == 1
    a = sorted(r.o_orderkey for r in spark.read.parquet(src).collect())
    b = sorted(r.o_orderkey for r in spark.read.parquet(dst).collect())
    assert a == b


def test_scheme_prefixed_uri_roundtrip(spark, tmp_path):
    """Object-store parity (reference reads/writes s3:// via s3fs,
    Main.py:139): the engine takes any Hadoop FileSystem URI — pin the
    non-bare-path contract end-to-end with an explicit file:// scheme
    on both the write and the read."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.sources.readers import read_table
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.sources.writers import write_table

    df = spark.read.parquet(f"file://{SF_SMALL}/region.parquet")
    out = f"file://{tmp_path}/uri_roundtrip"
    write_table(df, out, fmt="parquet")
    back = read_table(spark, out, fmt="parquet")
    assert sorted(r.r_name for r in back.collect()) == sorted(
        r.r_name for r in df.collect()
    )


def test_csv_malformed_row_handling(spark, tmp_path):
    """Ingestion robustness: PERMISSIVE mode quarantines malformed rows
    into the corrupt-record column instead of failing the 100 TB job;
    DROPMALFORMED silently drops them. Both contracts pinned."""
    p = tmp_path / "mixed.csv"
    p.write_text("k,v\n1,alpha\nnot_an_int,beta\n3,gamma\n")
    schema = "k INT, v STRING, _corrupt_record STRING"
    permissive = (
        spark.read.option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema(schema)
        .csv(str(p))
        .cache()
    )
    rows = permissive.collect()
    assert len(rows) == 3
    bad = [r for r in rows if r._corrupt_record is not None]
    assert len(bad) == 1 and bad[0].k is None
    dropped = (
        spark.read.option("header", "true")
        .option("mode", "DROPMALFORMED")
        .schema("k INT, v STRING")
        .csv(str(p))
    )
    assert sorted(r.k for r in dropped.collect()) == [1, 3]
    permissive.unpersist()


def test_spread_if_narrow_spreads_a_serial_frame_to_the_slots(spark):
    narrow = spark.range(0, 64, 1, numPartitions=1)
    spread = []
    assert build_jobs(spark, "spread-narrow", lambda: spread.append(spread_if_narrow(narrow))) == 0
    assert spread[0].rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_spread_if_narrow_passes_a_parallel_frame_through(spark):
    wide = spark.range(0, 64, 1, numPartitions=4)
    spread = []
    assert build_jobs(spark, "spread-wide", lambda: spread.append(spread_if_narrow(wide))) == 0
    assert spread[0] is wide
