"""Per-query gap between materializing a catalog query through the noop
sink (this benchmark's action) and ``count()`` (the action ``bench.py``
times, which lets Catalyst prune the output columns).

Usage (from the repository root)::

    python3 perfbench/count_gap.py [--seed 1] [--reps 5]

Runs the ``catalog_mix`` queries on the benchmark's seeded tables,
warms each query once per action, then alternates the two actions
``--reps`` times (build + action each time) and prints one JSON line
with the median seconds of each action per query.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import time  # noqa: E402

import gen  # noqa: E402
import probes  # noqa: E402
import run as bench  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--reps", type=int, default=5)
    args = ap.parse_args()
    cfg = bench.WORKLOADS["catalog_mix"]
    with bench.scratch_env("count_gap", False) as (work, env):
        from data_integration_project_spark import plans
        from data_integration_project_spark.session import get_spark

        sf_dir = os.path.join(work, "tables")
        gen.write_tables(sf_dir, args.seed, cfg["sf"])
        spark = get_spark("perfbench-count-gap")
        try:
            actions = {"noop": bench.noop, "count": lambda df: df.count()}
            out = {}
            for q in cfg["queries"]:
                fn = plans.REGISTRY[q].fn
                times: dict[str, list[float]] = {a: [] for a in actions}
                for rep in range(args.reps + 1):
                    for name in (("noop", "count") if rep % 2 else ("count", "noop")):
                        t0 = time.perf_counter()
                        actions[name](fn(spark, sf_dir))
                        if rep:  # rep 0 warms both actions
                            times[name].append(time.perf_counter() - t0)
                med = {a: statistics.median(v) for a, v in times.items()}
                out[q] = {"noop_s": round(med["noop"], 4), "count_s": round(med["count"], 4)}
                print(q, out[q], file=sys.stderr)
        finally:
            probes.stop_spark(spark)
    print(json.dumps({"sf": cfg["sf"], "seed": args.seed, "reps": args.reps, "env": env, "queries": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
