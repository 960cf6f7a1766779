"""The repository's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload music_interactive --seed 1 --seconds 12 --trace 0

Run it from the root of a checkout. It generates the workload's inputs from
the seed (cached under ``.bench_build/perfbench``) and sets up a Spark
session several times on ``local[<cores>]``. From one client thread in a
closed loop it then runs a cold pass over the workload's op mix, a warm-up
pass, and about ``--seconds`` worth of measured passes. It checks the
outputs and prints one JSON object as the last line of stdout:

* ``--trace 0``: the end-to-end metrics of BENCHMARK.json, untraced.
* ``--trace 1``: the per-layer metrics. Measured passes alternate untraced
  and traced; traced passes tag every Spark job with the job group
  ``<workload>:<op>:<phase>``, force the physical plan before the action and
  record spans, and the session writes an uncompressed event log. Spans are
  written to ``.bench_build/perfbench/trace/``.

The line before the result is ``{"perfbench_env": ...}``: Spark version,
cores, session confs, input sizes, host noise and the failed checks.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
SETUPS = 3  # session set-ups per run; setup_s is their median
WARMUP = 1  # unmeasured passes after the cold one: the JIT is still compiling
MIN_WARM = 3  # measured warm passes per run, whatever --seconds says
# batch_pipeline's registry query: a graph query over orders and lineitem
# whose build() runs an eager driver loop (see perfbench/WORKLOADS.md).
BATCH_QUERIES = ["x_kcore"]
BATCH_FRACTION = 0.1  # share of sf0.1 row counts: lineitem 60k, documents 500
WORKLOADS = ("music_interactive", "batch_pipeline")


def make_workload(name: str, seed: int):
    import workloads as w

    if name == "music_interactive":
        return w.MusicInteractive(WORK, seed)
    return w.BatchPipeline(WORK, seed, BATCH_FRACTION, BATCH_QUERIES)


def _descendants() -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    s = f.read()
            except OSError:
                continue
            kids.setdefault(int(s[s.rindex(")") + 2 :].split()[1]), []).append(int(d))
    out, stack = [], list(kids.get(os.getpid(), []))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, []))
    return out


def tree_peak_rss_mb() -> float:
    """Sum of peak resident set sizes (VmHWM) over this process and every
    live descendant: the Python driver, the JVM and its Python workers."""
    total = 0
    for pid in [os.getpid(), *_descendants()]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024.0


def session_env(cores: int, trace: bool) -> dict[str, str]:
    """Confs the benchmark adds to get_spark's own: local dirs inside the
    checkout, no console progress bar, and the event log when tracing."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        log_dir = os.path.join(WORK, "eventlog")
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            # the default zstd codec needs the zstandard module, absent here
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    return conf


class Runner:
    def __init__(self, workload, cores: int, trace: bool):
        from tracing import Tracer

        self.wl = workload
        self.cores = cores
        self.trace = trace
        self.tracer = Tracer(trace)
        self.spark = None
        self.setups: list[tuple[float, float]] = []
        self.passes: list[dict] = []  # {"t0", "t1", "traced", "ops": [(name, ms)]}
        self.warm_from = 0  # index of the first measured warm pass
        self.failed_ops = 0
        self.peak_rss = 0.0

    def setup(self, conf: dict[str, str]) -> None:
        from music_database_spark.session import get_spark

        for _ in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            with self.tracer.span("session.start"):
                self.spark = get_spark("perfbench", cpus=str(self.cores), extra_conf=conf)
            t1 = time.perf_counter()
            with self.tracer.span("sources.open"):
                self.wl.open(self.spark)
            self.setups.append((t1 - t0, time.perf_counter() - t1))

    def jvm_gc_s(self) -> float:
        beans = self.spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1000.0

    def run_op(self, op, traced: bool, pass_no: int) -> float:
        sc = self.spark.sparkContext
        t0 = time.perf_counter()
        try:
            if not traced:
                op.action(op.build())
            else:
                group = f"{self.wl.name}:{op.name}"
                try:
                    with self.tracer.span("op", op=f"{pass_no}:{op.name}"):
                        sc.setJobGroup(f"{group}:build", op.name)
                        with self.tracer.span("build"):
                            df = op.build()
                        sc.setJobGroup(f"{group}:plan", op.name)
                        with self.tracer.span("plan"):
                            df._jdf.queryExecution().executedPlan()
                        sc.setJobGroup(f"{group}:exec", op.name)
                        with self.tracer.span("exec"):
                            op.action(df)
                finally:
                    sc._jsc.clearJobGroup()
        except Exception as e:  # an op failure is counted, and the run goes on
            self.failed_ops += 1
            print(f"perfbench: op {op.name} failed: {type(e).__name__}: {str(e)[:300]}", file=sys.stderr)
        return (time.perf_counter() - t0) * 1000.0

    def run_pass(self, traced: bool) -> None:
        import bench  # the repo's host-noise helpers, used read-only

        rec = {"traced": traced, "ops": []}
        gc0 = self.jvm_gc_s() if traced else 0.0
        cpu0, steal0 = bench._tree_cpu_snapshot(), bench._host_steal_jiffies()
        rec["t0"] = time.time()
        p0 = time.perf_counter()
        for op in self.wl.ops(self.tracer):
            rec["ops"].append((op.name, self.run_op(op, traced, len(self.passes))))
        rec["wall"] = time.perf_counter() - p0
        rec["t1"] = time.time()
        hz = os.sysconf("SC_CLK_TCK")
        rec["cpu_s"] = bench._tree_cpu_delta(cpu0, bench._tree_cpu_snapshot()) / hz
        rec["steal_s"] = (bench._host_steal_jiffies() - steal0) / hz
        if traced:
            rec["gc_s"] = self.jvm_gc_s() - gc0
            rec["persisted"] = self.spark.sparkContext._jsc.getPersistentRDDs().size()
        self.passes.append(rec)
        self.peak_rss = max(self.peak_rss, tree_peak_rss_mb())
        if hasattr(self.wl, "after_pass"):
            self.wl.after_pass()

    def measure(self, seconds: float) -> None:
        """A cold pass, the warm-up, then as many measured passes as fill
        ``seconds`` at the workload's nominal pass time. The count is fixed
        by ``seconds``, not by how fast this run happens to be: passes keep
        speeding up for several passes as the JIT compiles, so a count that
        grew on a quiet host would pull pass_s down there."""
        self.run_pass(traced=self.trace)
        for _ in range(WARMUP):
            self.run_pass(traced=False)
        self.warm_from = len(self.passes)
        for n in range(max(MIN_WARM, round(seconds / self.wl.nominal_pass_s))):
            # traced runs alternate untraced and traced warm passes
            self.run_pass(traced=self.trace and n % 2 == 1)

    def stop(self) -> None:
        """Stop the session, then the JVM, then wait for every process
        this run started (the JVM and its Python workers) to end."""
        from pyspark import SparkContext

        kids = _descendants()
        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.time() + 20
        while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in kids):
            time.sleep(0.1)
        for p in kids:
            try:
                os.kill(p, 9)
            except OSError:
                pass


def end_to_end(r: Runner) -> dict[str, float]:
    warm = r.passes[r.warm_from:]
    op_ms = [ms for p in warm for _n, ms in p["ops"]]
    deciles = statistics.quantiles(op_ms, n=10, method="inclusive")
    return {
        "setup_s": statistics.median(a + b for a, b in r.setups),
        "first_pass_s": r.passes[0]["wall"],
        "pass_s": statistics.median(p["wall"] for p in warm),
        "op_p50_ms": statistics.median(op_ms),
        "op_p90_ms": deciles[8],
    }


def per_layer(r: Runner, log) -> tuple[dict[str, float], list[dict]]:
    """Per-layer metrics, each the median over the traced warm passes."""
    tr = r.tracer
    ops = [s for s in tr.spans if s["name"] == "op"]
    phase = {}  # op span id -> {build, plan, exec}
    for s in ops:
        phase[s["id"]] = {c["name"]: c["end"] - c["start"] for c in tr.children(s)}
    traced = [p for p in r.passes[r.warm_from:] if p["traced"]]
    untraced = [p for p in r.passes[r.warm_from:] if not p["traced"]]
    rows = []
    for p in traced:
        in_pass = [s for s in ops if p["t0"] <= s["start"] <= p["t1"]]
        c = log.counters(log.window(p["t0"], p["t1"]))
        rows.append({
            "build_s": sum(phase[s["id"]].get("build", 0.0) for s in in_pass),
            "plan_s": sum(phase[s["id"]].get("plan", 0.0) for s in in_pass),
            "exec_s": sum(phase[s["id"]].get("exec", 0.0) for s in in_pass),
            "gap_s": sum(log.uncovered_s(s["start"], s["end"]) for s in in_pass),
            "util": c["run_s"] / (p["wall"] * r.cores),
            "gc_s": p["gc_s"],
            **c,
        })

    def med(key: str) -> float:
        return statistics.median(row[key] for row in rows)

    build_ms = [phase[s["id"]].get("build", 0.0) * 1000.0 for s in ops if s["start"] >= traced[0]["t0"]]
    cover = [sum(phase[s["id"]].values()) / (s["end"] - s["start"]) for s in ops]
    metrics = {
        "session.start_s": statistics.median(a for a, _b in r.setups),
        "sources.open_s": statistics.median(b for _a, b in r.setups),
        "api.call_ms": statistics.median(build_ms),
        "registry.build_s": med("build_s"),
        "spark.plan_s": med("plan_s"),
        "spark.exec_s": med("exec_s"),
        "spark.jobs": med("jobs"),
        "spark.build_jobs": med("build_jobs"),
        "spark.job_gap_s": med("gap_s"),
        "spark.stages": med("stages"),
        "spark.stages_skipped": med("stages_skipped"),
        "spark.tasks": med("tasks"),
        "spark.slot_util": med("util"),
        "spark.shuffle_read_mb": med("shuffle_read_mb"),
        "spark.shuffle_write_mb": med("shuffle_write_mb"),
        "spark.executor_cpu_s": med("cpu_s"),
        "spark.gc_s": med("gc_s"),
        "spark.spill_mb": med("spill_mb"),
        "spark.persisted_rdds_after": float(traced[-1]["persisted"]),
        "trace.overhead_pct": 100.0 * (
            statistics.median(p["wall"] for p in traced) / statistics.median(p["wall"] for p in untraced) - 1.0
        ),
        "trace.span_cover_min": min(cover),
        "host.peak_rss_mb": r.peak_rss,
    }
    return metrics, rows


def declared_metrics(trace: bool) -> dict[str, str]:
    """name -> unit of the metrics BENCHMARK.json declares for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "music_database_spark", "session.py")):
        print("perfbench: run from the root of a checkout of the engine", file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # the launcher JVM that spark-submit runs first: no /tmp/hsperfdata
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # a bounded heap keeps the run's footprint small on a shared host
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    conf = session_env(cores, bool(args.trace))

    import bench
    import inputs

    clock = [time.perf_counter()]
    workload = make_workload(args.workload, args.seed)
    runner = Runner(workload, cores, bool(args.trace))
    try:
        clock.append(time.perf_counter())
        runner.setup(conf)
        clock.append(time.perf_counter())
        noise0 = (time.time(), bench._host_busy_jiffies(), bench._host_steal_jiffies(), bench._tree_cpu_snapshot())
        runner.measure(args.seconds)
        foreign, steal = bench.foreign_cpu_fraction(*noise0)
        clock.append(time.perf_counter())
        bad = workload.check()
        clock.append(time.perf_counter())
        app_id = runner.spark.sparkContext.applicationId
        env = {
            "workload": args.workload,
            "seed": args.seed,
            "spark_version": runner.spark.version,
            "cores": cores,
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "confs": {k: v for k, v in sorted(runner.spark.sparkContext.getConf().getAll()) if not k.endswith("JavaOptions")},
            "inputs": inputs.describe(workload.inputs_dir),
            "clients": 1,
            "passes": len(runner.passes),
            "pass_wall_s": [round(p["wall"], 3) for p in runner.passes],
            "pass_cpu_s": [round(p["cpu_s"], 3) for p in runner.passes],
            "pass_steal_s": [round(p["steal_s"], 3) for p in runner.passes],
            "ops_per_pass": len(runner.passes[0]["ops"]),
            "host_foreign_cpu_frac": round(foreign, 4),
            "host_steal_frac": round(steal, 4),
            "failed_checks": bad,
            # wall seconds of each part of this run, outside any metric
            "run_parts_s": dict(zip(("inputs", "setups", "measure", "check"), [round(b - a, 2) for a, b in zip(clock, clock[1:])])),
        }
    finally:
        runner.stop()

    ops_attempted = sum(len(p["ops"]) for p in runner.passes)
    failed = runner.failed_ops + len(bad)
    if args.trace:
        from tracing import EventLog, find_event_log

        log = EventLog(find_event_log(os.path.join(WORK, "eventlog"), app_id))
        metrics, rows = per_layer(runner, log)
        if metrics["trace.span_cover_min"] < 0.9:
            failed += 1
            bad.append("span_cover_min")
        runner.tracer.write(
            os.path.join(WORK, "trace", f"{args.workload}-seed{args.seed}.json"),
            {"env": env, "passes": runner.passes, "traced_pass_counters": rows},
        )
    else:
        metrics = end_to_end(runner)
    env["ops_failed_frac"] = failed / ops_attempted
    units = declared_metrics(bool(args.trace))
    if set(units) != set(metrics):
        raise SystemExit(f"perfbench: metrics {sorted(metrics)} differ from BENCHMARK.json {sorted(units)}")
    print(json.dumps({"perfbench_env": env}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": ops_attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
