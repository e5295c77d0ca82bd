"""Driver-side construction cost profiler (optimization r13).

At sf0.1 the bench is fixed-overhead dominated (tables are MBs); one
candidate overhead is DataFrame CONSTRUCTION — py4j expression-building
chatter, eager probe jobs, spread_if_narrow's rdd analysis — which runs
inside every timed rep.  This tool times ``fn(spark, sf_dir)`` alone
(no action) for every bench query, min-of-N, so construction cost can
be compared against the full bench seconds.

Usage: python tools/construct_profile.py [--reps N | --reps=N] [name ...]

``--reps`` is the only option; any other ``--`` flag exits with an
error instead of being ignored, so wrapper scripts that pass extra
flags must drop them.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
import __spark_entry__ as entrymod  # noqa: E402
from project_market_pulse_etl_pipeline_with_llm_integration_spark.session import (  # noqa: E402
    get_spark,
)


USAGE = "usage: python tools/construct_profile.py [--reps N | --reps=N] [name ...]"


def main() -> int:
    # Both '--reps=3' and '--reps 3' (ADVICE r13: the two-token form
    # crashed on split and leaked the value into the query-name list).
    argv = list(sys.argv[1:])
    reps = 3
    args: list[str] = []
    i = 0
    while i < len(argv):
        a = argv[i]
        if a == "--reps":
            if i + 1 >= len(argv):
                raise SystemExit(f"--reps needs a value\n{USAGE}")
            reps = int(argv[i + 1])
            i += 2
            continue
        if a.startswith("--reps="):
            reps = int(a.split("=", 1)[1])
        elif a.startswith("--"):
            raise SystemExit(f"unknown option {a!r}\n{USAGE}")
        else:
            args.append(a)
        i += 1
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="construct-profile")
    queries = entrymod.queries()
    names = args or list(bench.HEADLINE)
    out: dict[str, float] = {}
    for name in names:
        fn = queries[name]
        best = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter()
            fn(spark, sf_dir)
            best = min(best, time.perf_counter() - t0)
        out[name] = round(best, 4)
    total = round(sum(out.values()), 3)
    for name, sec in sorted(out.items(), key=lambda kv: -kv[1]):
        print(f"{sec:8.4f}  {name}")
    print(json.dumps({"metric": "construct_total", "value": total,
                      "n": len(out)}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
