"""Count Spark jobs, stages and tasks for registered queries — a
host-noise-FREE structural metric for orchestration overhead. Wall-clock
on this sandbox drifts 1.3x with hypervisor contention (BENCH r10/r12
adjudications), so sub-second plan-shape wins need a deterministic
counter: a removed broadcast-build job or exchange shows up here
identically on a loud or quiet host. Usage:

    python tools/jobcount.py <query> [query ...] [--sf SF_DIR]

Prints per query: jobs, stages, tasks for one warm execution (one
throwaway build first so one-time codegen/broadcast warmup is not
attributed), plus the Exchange count of the final plan."""

from __future__ import annotations

import argparse
import os

import sweep

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    ap = argparse.ArgumentParser(
        description="Count Spark jobs/stages/tasks for registered queries"
    )
    ap.add_argument("queries", nargs="+", help="registered query names")
    ap.add_argument("--sf", default=SF_DIR, help="scale-factor data dir")
    ns = ap.parse_args()
    spark = sweep.session("jobcount")

    def step(name, spec) -> bool:
        sweep.timed(spark, spec.build, ns.sf, runs=0)  # throwaway: codegen, cache paths warm
        sweep.release(spark)
        jobs, stages, tasks = sweep.counted(spark, spec.build, ns.sf, f"jc_{name}")
        plan = spec.build(spark, ns.sf)._jdf.queryExecution().executedPlan().toString()
        print(f"{name}: jobs={jobs} stages={stages} tasks={tasks} plan_exchanges={plan.count('Exchange')}")
        return True

    return sweep.check(spark, sweep.select(ns.queries), step, "error")


if __name__ == "__main__":
    raise SystemExit(main())
