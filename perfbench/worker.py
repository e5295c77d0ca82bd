"""One workload run in a fresh process: set up, check, measure, report.

Started by ``perfbench/run.py`` with its working directory set to the run's
private scratch directory and the checkout root on ``PYTHONPATH``.  It
prints ``READY`` once the session is ready, ``WINDOW start`` and ``WINDOW
end`` around the measured operations, and ``RESULT <json>`` last.

    python3 -m perfbench.worker --workload query_mix --seed 1 --seconds 10 \
        --passes 0 --trace 0 --work <dir> [--data <tables dir>]
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import time

WORKLOADS = ("news_etl", "query_mix")


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}/derby "
            "-XX:-UsePerfData"
        ),
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    return conf


def setup(workload: str, work: str, trace: bool):
    """Imports, session, package ship and a first trivial action."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark import session

    if workload == "news_etl":
        import project_market_pulse_etl_pipeline_with_llm_integration_spark.cli  # noqa: F401
    else:
        import __spark_entry__  # noqa: F401

    t0 = time.perf_counter()
    spark = session.get_spark(app_name=f"perfbench-{workload}", extra_conf=spark_conf(work, trace))
    t1 = time.perf_counter()
    session.ensure_engine_confs(spark)
    spark.range(1).count()
    t2 = time.perf_counter()
    return spark, {"session.get_spark_s": t1 - t0, "session.first_action_s": t2 - t1}


def measure(wl, rng: random.Random, seconds: float, passes: int, tracer):
    """Closed loop, one client: whole passes of the workload's ops until
    ``passes`` passes are done, or (``passes`` = 0) ``seconds`` have passed."""
    records = []
    t0 = time.perf_counter()
    done = 0
    while True:
        for op in wl.pass_plan(rng):
            records.append(wl.run(op, f"t{len(records)}", tracer))
        done += 1
        elapsed = time.perf_counter() - t0
        if done >= passes if passes else elapsed >= seconds:
            return records, elapsed


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def per_layer(records, groups, wall: float, cores: int) -> dict[str, float]:
    """Per-layer metrics of the traced ops; layers the workload does not
    touch read 0."""
    from perfbench.eventlog import GroupMetrics
    from perfbench.workloads import MODULES

    n = max(len(records), 1)
    out: dict[str, float] = {}

    def grp(op_id: str, phase: str) -> GroupMetrics:
        return groups.get(f"{op_id}:{phase}", GroupMetrics())

    op_ids = [f"t{i}" for i in range(len(records))]
    for m in MODULES:
        mine = [(i, r) for i, r in zip(op_ids, records) if r["module"] == m and r["ok"]]
        out[f"{m}.construct_s"] = _median([r["construct"] for _, r in mine])
        out[f"{m}.execute_s"] = _median([r["execute"] for _, r in mine])
        out[f"{m}.construct_jobs"] = _median([grp(i, "construct").jobs for i, _ in mine])

    etl = [(i, r) for i, r in zip(op_ids, records) if r["module"] == "etl" and r["ok"]]
    enrich_s = [r["enrich_to_parquet"] for _, r in etl]
    out.update({
        "clean.extract_and_clean_s": _median([r["extract_and_clean"] for _, r in etl]),
        "clean.rows_kept_ratio": _median([r["rows_kept"] / r["rows_in"] for _, r in etl]),
        "enrich.enrich_to_parquet_s": _median(enrich_s),
        "enrich.transport_calls": _median([r["calls"] for _, r in etl]),
        "enrich.llm_calls_per_row": _median([r["calls"] / r["rows_in"] for _, r in etl]),
        "enrich.unique_prompt_ratio": _median(
            [r["distinct_prompts"] / r["calls"] for _, r in etl if r["calls"]]
        ),
        "enrich.transport_busy_s": _median([r["busy_s"] for _, r in etl]),
        "enrich.call_concurrency": _median(
            [r["busy_s"] / r["enrich_to_parquet"] for _, r in etl]
        ),
        "enrich.tasks": _median([grp(i, "enrich_to_parquet").tasks for i, _ in etl]),
        "catalog.register_external_table_s": _median(
            [r["register_external_table"] for _, r in etl]
        ),
        "catalog.index_table_s": _median([r["index_table"] for _, r in etl]),
        "sources.output_bytes_per_input_byte": _median(
            [r["out_bytes"] / r["in_bytes"] for _, r in etl]
        ),
    })

    total = GroupMetrics()
    for group, g in groups.items():
        if group and group.split(":")[0] in op_ids:
            total.add(g)
    out.update({
        "spark.jobs": total.jobs / n,
        "spark.tasks": total.tasks / n,
        "spark.task_run_s": total.task_run_s / n,
        "spark.task_cpu_s": total.task_cpu_s / n,
        "spark.gc_s": total.gc_s / n,
        "spark.shuffle_read_bytes": total.shuffle_read_bytes / n,
        "spark.shuffle_write_bytes": total.shuffle_write_bytes / n,
        "spark.spill_bytes": total.spill_bytes / n,
        "spark.slot_busy_ratio": total.task_run_s / (cores * wall) if wall else 0.0,
    })
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--passes", type=int, default=0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--data")
    ap.add_argument("--spans")
    args = ap.parse_args(argv)
    trace = bool(args.trace)

    spark, setup_layers = setup(args.workload, args.work, trace)
    print("READY", flush=True)

    from perfbench.tracer import Tracer
    from perfbench.workloads import QUERY_MIX, EtlWorkload, QueryWorkload

    if args.workload == "news_etl":
        wl = EtlWorkload(spark, args.work, args.seed)
    else:
        wl = QueryWorkload(spark, args.data, QUERY_MIX)
    rng = random.Random(args.seed)
    t0 = time.perf_counter()
    attempted, failed = wl.check()
    warm = measure(wl, rng, 0, wl.warmup_passes, Tracer())[0] if wl.warmup_passes else []
    warmup_s = time.perf_counter() - t0

    sc = spark.sparkContext
    tracer = Tracer(sc, enabled=trace)
    print("WINDOW start", flush=True)
    records, wall = measure(wl, rng, args.seconds, args.passes, tracer)
    print("WINDOW end", flush=True)
    all_ops = warm + records
    attempted += len(all_ops)
    failed += sum(1 for r in all_ops if not r["ok"])
    cores = sc.defaultParallelism
    spark.stop()

    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "ops": [(r["name"], r["s"]) for r in records if r["ok"]],
        "busy_s": sum(r["s"] for r in records),
        "wall_s": wall,
        "warmup_s": warmup_s,
    }
    if trace:
        from perfbench.eventlog import fold_dir

        groups = fold_dir(os.path.join(args.work, "eventlog"))
        result["per_layer"] = {**setup_layers, **per_layer(records, groups, wall, cores)}
        if args.spans:
            tracer.write(args.spans)
    print("RESULT " + json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
