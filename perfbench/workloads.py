"""The benchmark's workloads: what one operation is, and how its output is checked.

``QueryWorkload`` builds registry queries and runs each to the noop sink;
``EtlWorkload`` runs the paper's clean -> enrich -> load pipeline.  Both
check their outputs once per run, outside the timed operations.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys
import time
from datetime import date, datetime

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen_news
from perfbench.tracer import Tracer
from perfbench.transport import TransportCounters, expected_triple, make_transport
from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators import enrich
from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.clean import (
    extract_and_clean,
)
from project_market_pulse_etl_pipeline_with_llm_integration_spark.plans.catalog import (
    index_table,
    register_external_table,
)

# (operator module, registry query): one query per operator module, so
# each module's layer metrics have a sample every pass.  kcore_peel stands
# for the fixed-point graph loops, whose localCheckpoint pins run subplans
# while the query is being built.
QUERY_MIX = [
    ("relational", "tpch_q3"),
    ("analytics", "cohort_retention"),
    ("market", "rfm_segments"),
    ("text", "char_entropy"),
    ("dedup", "dedup_winnow"),
    ("similarity", "semantic_decontaminate"),
    ("graph", "kcore_peel"),
    ("sample", "stratified_sample"),
    ("skew", "salted_agg"),
    ("events", "sessionize"),
    ("enrich", "enrich_offline"),
]
MODULES = [
    "relational", "analytics", "market", "text", "dedup", "similarity",
    "graph", "sample", "skew", "events", "enrich",
]
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
]

ETL_ARTICLES = 1000
LLM_SERVICE_S = 0.002
ETL_TABLE = "news_enriched"
ETL_DDL = (
    "id_news BIGINT, title STRING, content STRING, link STRING, "
    "publish_date TIMESTAMP, category STRING, sentiment_llm STRING, "
    "category_llm STRING, market_impact_summary STRING, etl_processing_time TIMESTAMP"
)
CLEAN_TYPES = {
    "id_news": pa.types.is_int64, "title": pa.types.is_string,
    "content": pa.types.is_string, "link": pa.types.is_string,
    "publish_date": pa.types.is_timestamp, "category": pa.types.is_string,
}
ENRICHED_TYPES = {
    **CLEAN_TYPES,
    "sentiment_llm": pa.types.is_string, "category_llm": pa.types.is_string,
    "market_impact_summary": pa.types.is_string,
    "etl_processing_time": pa.types.is_timestamp,
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return repr(round(v, 9))
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, date):
        return v.strftime("%Y-%m-%d")
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive hash of a result: rows and columns sorted by name."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    for line in sorted("\x01".join(_canon(r[i]) for i in order) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


# Each workload's run(op) returns one op record: a dict with ``name``,
# ``module``, ``ok``, ``s`` (seconds) and the seconds of each phase.


class QueryWorkload:
    def __init__(self, spark, data_dir: str, plan: list[tuple[str, str]]):
        import __spark_entry__ as entry

        self.spark = spark
        self.data_dir = data_dir
        self.plan = plan
        self.fns = entry.queries()
        self.oracles = entry.oracle_sql()

    warmup_passes = 0

    def pass_plan(self, rng) -> list[tuple[str, str]]:
        ops = list(self.plan)
        rng.shuffle(ops)
        return ops

    def check(self) -> tuple[int, int]:
        """Run every query once, collected, against its DuckDB oracle.

        Entries without an oracle are checked by a non-empty row count."""
        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'")
        failed = 0
        for _module, name in self.plan:
            try:
                df = self.fns[name](self.spark, self.data_dir)
                cols = df.columns
                rows = [tuple(r) for r in df.collect()]
                if name in self.oracles:
                    rel = con.sql(self.oracles[name])
                    ocols = [d[0] for d in rel.description]
                    orows = rel.fetchall()
                    problem = (
                        f"rows {len(rows)} vs oracle {len(orows)}"
                        if len(rows) != len(orows)
                        else "value hash differs from oracle"
                        if value_hash(cols, rows) != value_hash(ocols, orows)
                        else None
                    )
                else:
                    problem = None if rows else "no rows"
            except Exception as exc:  # a failing query is a counted failure
                problem = f"error: {exc}"
            if problem:
                failed += 1
                log(f"check FAIL {name}: {problem[:300]}")
        con.close()
        return len(self.plan), failed

    def run(self, op: tuple[str, str], op_id: str, tracer: Tracer) -> dict:
        module, name = op
        rec = {"name": name, "module": module, "ok": False, "s": 0.0}
        t0 = time.perf_counter()
        try:
            with tracer.span("op", op_id):
                with tracer.span("construct", op_id, job_group=True):
                    df = self.fns[name](self.spark, self.data_dir)
                t1 = time.perf_counter()
                with tracer.span("execute", op_id, job_group=True):
                    df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            rec.update(ok=True, s=t2 - t0, construct=t1 - t0, execute=t2 - t1)
        except Exception as exc:  # a failing op is counted, the loop goes on
            rec["s"] = time.perf_counter() - t0
            log(f"op FAIL {name}: {str(exc)[:300]}")
        return rec


class StageFailed(RuntimeError):
    pass


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(path)
        for f in files
        if not f.startswith((".", "_"))
    )


def _read_parquet_dir(path: str) -> pa.Table:
    files = sorted(
        os.path.join(root, f)
        for root, _dirs, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )
    return pa.concat_tables([pq.read_table(f) for f in files])


def _schema_problems(table: pa.Table, types: dict) -> list[str]:
    names = table.schema.names
    if names != list(types):
        return [f"columns {names} != {list(types)}"]
    return [
        f"column {n} has type {table.schema.field(n).type}"
        for n, ok in types.items()
        if not ok(table.schema.field(n).type)
    ]


class EtlWorkload:
    """One op = extract_and_clean -> enrich_to_parquet -> publish the run as
    one partition of the catalog table -> register_external_table + index_table."""

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.root = os.path.join(work, "etl")
        self.table_root = os.path.join(self.root, "table")
        self.corpus = gen_news.make_corpus(ETL_ARTICLES, seed)
        os.makedirs(self.table_root)
        self.input_path = os.path.join(self.root, "news.jsonl")
        gen_news.write_jsonl(self.corpus, self.input_path)
        self.input_bytes = os.path.getsize(self.input_path)
        self.counters = TransportCounters.spark(spark.sparkContext)
        enrich.set_transport(make_transport(LLM_SERVICE_S, self.counters))
        spark.sql(f"DROP TABLE IF EXISTS {ETL_TABLE}")
        self.n_runs = 0

    # Pipeline runs keep getting faster for about five runs after the first
    # (JIT warm-up, 4.4 s falling to 2.8 s on a 4-vCPU VM); a window that
    # opens on that slope moves with how fast the process warmed up.
    warmup_passes = 4

    def pass_plan(self, rng) -> list[None]:
        return [None]

    def check(self) -> tuple[int, int]:
        """The first pipeline run, with the full output check."""
        rec = self.run(None, "check", Tracer(), full_check=True)
        return 1, int(not rec["ok"])

    def run(self, op, op_id: str, tracer: Tracer, full_check: bool = False) -> dict:
        k = self.n_runs
        self.n_runs += 1
        run_dir = os.path.join(self.root, "runs", str(k))
        part_dir = os.path.join(self.table_root, f"run_id={k}")
        rec = {"name": "pipeline", "module": "etl", "ok": False, "s": 0.0}
        self.counters.reset()
        stage = {}

        def timed(name, fn, *args, **kwargs):
            t = time.perf_counter()
            with tracer.span(name, op_id, job_group=True):
                out = fn(*args, **kwargs)
            stage[name] = time.perf_counter() - t
            if out is None or out is False:
                raise StageFailed(f"{name} returned {out!r}")
            return out

        t0 = time.perf_counter()
        try:
            with tracer.span("op", op_id):
                clean = timed("extract_and_clean", extract_and_clean,
                              self.spark, self.input_path, os.path.join(run_dir, "clean"))
                enriched = timed("enrich_to_parquet", enrich.enrich_to_parquet,
                                 self.spark, clean, os.path.join(run_dir, "enriched"),
                                 rate_delay=0.0)
                t = time.perf_counter()
                # publish: the run's output becomes one partition of the table
                os.replace(enriched, part_dir)
                with tracer.span("register_external_table", op_id, job_group=True):
                    register_external_table(self.spark, ETL_TABLE, self.table_root, ETL_DDL,
                                            ["run_id INT"])
                stage["register_external_table"] = time.perf_counter() - t
                timed("index_table", index_table, self.spark, "default", ETL_TABLE)
            rec.update(s=time.perf_counter() - t0, **stage)
        except Exception as exc:  # a failing op is counted, the loop goes on
            rec.update(s=time.perf_counter() - t0, **stage)
            log(f"op FAIL pipeline run {k}: {str(exc)[:300]}")
            return rec
        calls, busy_s, distinct = self.counters.snapshot()
        rec.update(calls=calls, busy_s=busy_s, distinct_prompts=distinct)
        problems = self._check_run(k, clean, part_dir, full_check)
        rec.update(
            ok=not problems,
            rows_in=len(self.corpus.rows),
            rows_kept=self.corpus.kept,
            out_bytes=_dir_bytes(os.path.dirname(clean)) + _dir_bytes(part_dir),
            in_bytes=self.input_bytes,
        )
        for p in problems:
            log(f"check FAIL pipeline run {k}: {p}")
        shutil.rmtree(run_dir)
        return rec

    def _check_run(self, k: int, clean: str, part_dir: str, full: bool) -> list[str]:
        kept = self.corpus.kept
        problems = []
        out = _read_parquet_dir(part_dir)
        if out.num_rows != kept:
            problems.append(f"{out.num_rows} enriched rows, expected {kept}")
        if "sentiment_llm" in out.schema.names:
            n_err = sum(1 for s in out.column("sentiment_llm").to_pylist() if s == "ERROR_API")
            if n_err:
                problems.append(f"{n_err} ERROR_API rows")
        if not full or problems:
            return problems
        return self._full_check(k, clean, out)

    def _full_check(self, k: int, clean: str, out: pa.Table) -> list[str]:
        kept = self.corpus.kept
        problems = _schema_problems(_read_parquet_dir(clean), CLEAN_TYPES)
        problems += _schema_problems(out, ENRICHED_TYPES)
        if problems:
            return problems
        cols = out.to_pydict()
        if sorted(cols["id_news"]) != list(range(1, kept + 1)):
            problems.append("id_news is not 1..n")
        if set(cols["category"]) - set(gen_news.KEPT_CATEGORIES):
            problems.append("categories outside the kept list")
        if len(set(cols["etl_processing_time"])) != 1:
            problems.append("more than one etl_processing_time")
        bad = sum(
            1
            for t, c, *triple in zip(cols["title"], cols["content"], cols["sentiment_llm"],
                                     cols["category_llm"], cols["market_impact_summary"])
            if tuple(triple) != expected_triple(enrich.build_prompt(t, c))
        )
        if bad:
            problems.append(f"{bad} rows whose LLM fields differ from the transport's")
        n_table = self.spark.sql(
            f"SELECT count(*) FROM {ETL_TABLE} WHERE run_id = {k}"
        ).collect()[0][0]
        if n_table != kept:
            problems.append(f"table partition run_id={k} has {n_table} rows")
        return problems
