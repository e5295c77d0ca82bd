"""Benchmark entry point: one workload, one fresh worker process, one JSON line.

    python3 perfbench/run.py --workload {news_etl,query_mix} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout.  Inputs are generated from ``--seed``
inside ``.perfbench_work/`` at the root, the worker runs ``local[<cores>]``
with one client in a closed loop, and the last line of stdout is
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0`` the
metrics are the end-to-end ones.  With ``--trace 1`` the worker runs a fixed
number of passes in two fresh workers, untraced and then traced, and the
metrics are the per-layer ones of the traced passes plus the tracing
overhead (traced wall over untraced wall); the spans are written to
``.perfbench_work/spans-<workload>-<seed>.jsonl``.

Pinned run settings: ``SPARK_GRAFT_CPUS`` = the cores this process may use,
a 3 GB driver heap, warehouse, metastore, Spark local and temp directories
private to the run, the console progress bar off, ``DISABLE_LLM`` unset, and
one worker process per workload run (the enrich stage sets
``arrow.maxRecordsPerBatch`` session-wide).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402
from perfbench.worker import WORKLOADS  # noqa: E402

PACKAGE = "project_market_pulse_etl_pipeline_with_llm_integration_spark"
# The query workloads' tables: fixed data, ~60k lineitem rows (sf 0.01),
# so each run measures the same plans; the seed orders each pass.
TABLE_SF = 0.01
TABLE_SEED = 42
DRIVER_MEM = "3g"
WORKER_TIMEOUT_S = 150


def cores() -> int:
    return len(os.sched_getaffinity(0))


def worker_env(work: str) -> dict[str, str]:
    """Pinned run settings; ``DISABLE_LLM`` is dropped so enrichment calls
    the benchmark's transport."""
    env = {k: v for k, v in os.environ.items() if k not in ("DISABLE_LLM", "SPARK_GRAFT_MASTER")}
    env.update({
        "PYTHONPATH": ROOT,
        "SPARK_GRAFT_CPUS": str(cores()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
    })
    return env


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_bytes(pid: int) -> int:
    """Proportional set size of one process: resident memory with pages
    shared between processes (the forked Python workers) split among them.
    The JVM shares its heap with no other process, so its resident size is
    read instead: one counter, where its smaps walk costs ~50 ms per sample
    and holds up the JVM's own page faults."""
    with open(f"/proc/{pid}/comm") as fh:
        jvm = fh.read().strip() == "java"
    if jvm:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        return next(int(ln.split()[1]) for ln in fh if ln.startswith("Pss:")) * 1024


def tree_pss_bytes(pid: int) -> int:
    """Proportional set size of ``pid`` and all its descendants."""
    kids = _children()
    total, todo = 0, [pid]
    while todo:
        p = todo.pop()
        try:
            total += _pss_bytes(p)
        except (OSError, StopIteration):
            continue
        todo.extend(kids.get(p, []))
    return total


def _group_alive(pgid: int) -> bool:
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                return True
    return False


def stop_group(pgid: int) -> None:
    """Terminate every process of the worker's group and wait for them."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 30.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + wait_s
        while time.monotonic() < deadline:
            if not _group_alive(pgid):
                return
            time.sleep(0.05)


def run_worker(args, base: str, trace: int, passes: int, spans: str | None) -> dict:
    """Start one worker in ``base``; return its result plus setup time and
    peak memory."""
    work = os.path.join(base, f"worker-trace{trace}")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    cmd = [
        sys.executable, "-m", "perfbench.worker",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--passes", str(passes),
        "--trace", str(trace), "--work", work,
        "--data", os.path.join(base, "data"),
    ]
    if spans:
        cmd += ["--spans", spans]
    with open(os.path.join(work, "worker.log"), "ab") as log:
        t0 = time.perf_counter()
        proc = subprocess.Popen(
            cmd, cwd=work, env=worker_env(work), stdout=subprocess.PIPE,
            stderr=log, start_new_session=True, text=True,
        )
        # Peak memory of the measured window only: the untimed output check
        # before it runs the benchmark's own DuckDB oracle in the worker.
        peak = [0]
        window = threading.Event()
        done = threading.Event()

        def sample() -> None:
            while not done.wait(0.25):
                if window.is_set():
                    peak[0] = max(peak[0], tree_pss_bytes(proc.pid))

        sampler = threading.Thread(target=sample, daemon=True)
        sampler.start()
        watchdog = threading.Timer(WORKER_TIMEOUT_S, stop_group, (proc.pid,))
        watchdog.start()
        setup_s, result = None, None
        try:
            for line in proc.stdout:
                if line.startswith("READY") and setup_s is None:
                    setup_s = time.perf_counter() - t0
                elif line.startswith("WINDOW start"):
                    window.set()
                elif line.startswith("WINDOW end"):
                    window.clear()
                    peak[0] = max(peak[0], tree_pss_bytes(proc.pid))
                elif line.startswith("RESULT "):
                    result = json.loads(line[len("RESULT "):])
            proc.wait()
        finally:
            watchdog.cancel()
            done.set()
            sampler.join()
            stop_group(proc.pid)
    if result is None or setup_s is None:
        with open(os.path.join(work, "worker.log"), errors="replace") as fh:
            tail = fh.readlines()[-30:]
        raise RuntimeError(
            f"worker exited with {proc.returncode} and no result:\n" + "".join(tail)
        )
    result.update(setup_s=setup_s, peak_pss_mb=peak[0] / 2**20)
    return result


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("ratio", "_per_row", "_per_input_byte", "concurrency")):
        return "ratio"
    return "count"


def end_to_end(r: dict) -> dict:
    ops = r["ops"]
    if not ops:
        raise RuntimeError("no operation succeeded")
    tail = stats.tail([s for _, s in ops])
    print(
        f"setup {r['setup_s']:.1f} s, check and warm-up {r['warmup_s']:.1f} s, "
        f"{len(ops)} ops in {r['wall_s']:.1f} s; "
        + (f"p{round(tail[0] * 100)} {tail[1]:.3f} s" if tail else "too few ops for a tail percentile"),
        file=sys.stderr,
    )
    return {
        "setup_s": (r["setup_s"], "s"),
        "op_p50_s": (stats.mix_median(ops), "s"),
        "ops_per_min": (60.0 * len(ops) / r["busy_s"], "1/min"),
        "peak_pss_mb": (r["peak_pss_mb"], "MB"),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (os.path.isdir(os.path.join(ROOT, PACKAGE))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"the program ({PACKAGE}, __spark_entry__.py) is not in {ROOT}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        if args.workload != "news_etl":
            from perfbench.gen_tables import write_tables

            write_tables(os.path.join(work, "data"), TABLE_SF, TABLE_SEED)
        if not args.trace:
            r = run_worker(args, work, 0, 0, None)
            metrics = end_to_end(r)
        else:
            # The same passes in two fresh workers, event log and spans off
            # then on, so the overhead covers all of tracing.
            passes = 2 if args.workload == "news_etl" else 1
            spans = os.path.join(base, f"spans-{args.workload}-{args.seed}.jsonl")
            plain = run_worker(args, work, 0, passes, None)
            r = run_worker(args, work, 1, passes, spans)
            r["per_layer"]["trace.overhead_ratio"] = r["wall_s"] / plain["wall_s"]
            r["attempted"] += plain["attempted"]
            r["failed"] += plain["failed"]
            r["correct"] = r["correct"] and plain["correct"]
            metrics = {k: (v, layer_unit(k)) for k, v in r["per_layer"].items()}
    finally:
        shutil.rmtree(work, ignore_errors=True)

    result = {
        "correct": r["correct"],
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
