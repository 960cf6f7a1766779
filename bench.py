"""Benchmark runner — times every registered bench query at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE compact JSON line:

    {"metric": "total_median_sec", "value": N, "unit": "sec", "sf": 0.1,
     "cpus": C, ..., "queries_file": "BENCH_FULL_c<C>.json"}

The driver captures only the LAST 2000 characters of stdout (round 2's
full per-query line truncated into unparseable JSON), so the complete
per-query record goes to BENCH_FULL.json and BENCH_FULL_c<cpus>.json
(BENCH_SUBSET.json for a subset run), named by the line's queries_file.

Protocol (BASELINE.md §2): per query, 1 warm-up execution (recorded as
the cold number) then BENCH_RUNS timed executions (default 3), median
recorded, all through the noop sink; caches are released between
queries (tools/sweep.py).

Host-noise self-adjudication (round 11): each query's timing window
records the share of machine CPU consumed OUTSIDE this bench's process
tree (/proc/stat busy minus our tree's jiffies — loadavg cannot tell our
local[32] saturation from foreign load), so a slow record carries its
own adjudication instead of needing a judge to re-measure by hand."""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

sys.path.insert(0, os.path.join(REPO_ROOT, "tools"))
import sweep  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
RUNS = int(os.environ.get("BENCH_RUNS", "3"))
# Core count, for the per-CPUs record name: the driver benches at two
# core counts. get_spark uses local[*] when the env var is unset.
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or (os.cpu_count() or 0))

# A per-query foreign-CPU share above this marks the window noisy.
HOST_NOISE_FRAC = 0.10


def sf_from_dir(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)/?$", sf_dir)
    return float(m.group(1)) if m else -1.0


def _host_busy_jiffies() -> int:
    """Total non-idle jiffies across all CPUs from /proc/stat line 1.
    INCLUDES steal (field 8): hypervisor steal starves the bench like a
    foreign process. EXCLUDES guest/guest_nice (fields 9-10), which the
    kernel already folds into user/nice (round-11 ADVICE)."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    guest = sum(vals[8:10]) if len(vals) > 8 else 0
    return sum(vals) - vals[3] - vals[4] - guest  # minus idle+iowait+guest


def _host_steal_jiffies() -> int:
    """Steal jiffies (vCPU time withheld by the hypervisor) — noise
    from OUTSIDE the guest entirely, no process in this VM causes it."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7] if len(vals) > 7 else 0


def _tree_cpu_snapshot() -> dict[int, int]:
    """Per-pid CPU jiffies for THIS process tree: self + every live
    descendant (the Spark JVM and its python workers) as
    {pid: (utime+stime, cutime+cstime, ppid)}. Reaped children roll into
    the parent's cutime only at reap time, so the two never double-count.

    Per pid, not one sum: diffing two aggregate sums subtracts a vanished
    pid's whole history (a worker-pool recycle, one raced /proc read) and
    inflated the foreign share to a phantom 100% on sub-second queries;
    _tree_cpu_delta diffs pid by pid. Own and reaped-children jiffies are
    kept apart, with the parent pid, so a child reaped inside the window
    is not counted twice (round-11 ADVICE).
    """
    kids: dict[int, list[int]] = {}
    stats: dict[int, tuple[int, int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue  # raced a process exit
        rest = s[s.rindex(")") + 2 :].split()  # comm may contain spaces
        ppid = int(rest[1])
        kids.setdefault(ppid, []).append(int(d))
        stats[int(d)] = (
            int(rest[11]) + int(rest[12]),  # own: utime+stime
            int(rest[13]) + int(rest[14]),  # reaped children: cutime+cstime
            ppid,
        )
    out: dict[int, tuple[int, int, int]] = {}
    stack, seen = [os.getpid()], set()
    while stack:
        p = stack.pop()
        if p in seen:
            continue
        seen.add(p)
        if p in stats:
            out[p] = stats[p]
        stack.extend(kids.get(p, []))
    return out


def _tree_cpu_delta(
    tree0: dict[int, tuple[int, int, int]], tree1: dict[int, tuple[int, int, int]]
) -> int:
    """Jiffies the tree burned between two snapshots: per-pid increments
    for surviving pids, full value for pids born in between, zero (the
    only safe floor) for vanished pids — minus, per surviving parent, the
    snapshot-time burn of children it reaped inside the window, floored
    at the parent's cutime increment so the delta never goes negative."""
    reaped_at_t0: dict[int, int] = {}
    for p, (own0, cum0, pp0) in tree0.items():
        if p not in tree1:
            reaped_at_t0[pp0] = reaped_at_t0.get(pp0, 0) + own0 + cum0
    total = 0
    for p, (own1, cum1, _pp1) in tree1.items():
        own0, cum0, _ = tree0.get(p, (0, 0, 0))
        total += max(0, own1 - own0)
        total += max(0, max(0, cum1 - cum0) - reaped_at_t0.get(p, 0))
    return total


def foreign_cpu_fraction(
    t0: float, busy0: int, steal0: int, tree0: dict[int, tuple[int, int, int]]
) -> tuple[float, float]:
    """(foreign, steal) shares of the machine's CPU since the snapshot:
    foreign = everything consumed OUTSIDE this bench's process tree
    (including steal), steal = the hypervisor-withheld share alone. Both
    ~0.0 on a quiet host however hard the bench drives the CPUs; the
    split says whether noise was guest processes or host contention."""
    elapsed = time.time() - t0
    if elapsed <= 0:
        return 0.0, 0.0
    foreign = max(
        0, (_host_busy_jiffies() - busy0) - _tree_cpu_delta(tree0, _tree_cpu_snapshot())
    )
    steal = max(0, _host_steal_jiffies() - steal0)
    capacity = elapsed * os.sysconf("SC_CLK_TCK") * (os.cpu_count() or 1)
    return min(1.0, foreign / capacity), min(1.0, steal / capacity)


def main() -> int:
    names = sys.argv[1:]
    todo = sweep.select(sorted(names), keep=lambda s: s.bench)
    spark = sweep.session("bench")
    results: dict[str, float] = {}
    colds: dict[str, float] = {}
    host_busy: dict[str, float] = {}
    host_steal: dict[str, float] = {}
    loadavg_start = round(os.getloadavg()[0], 2)

    def step(name, spec) -> tuple[float, list[float]]:
        # The warm-up run IS the cold number: run 0 pays plan compile and
        # every persist, as a fresh cluster session does once per job
        # (x_winnow_candidates: 1.09 s warm, 93 s cold — the round-9
        # inferred-filter bug, PLANS.md).
        snap = (time.time(), _host_busy_jiffies(), _host_steal_jiffies(), _tree_cpu_snapshot())
        try:
            return sweep.timed(spark, spec.build, SF_DIR, RUNS)
        finally:
            host_busy[name], host_steal[name] = (
                round(v, 3) for v in foreign_cpu_fraction(*snap)
            )

    for name, timing, err in sweep.run(spark, todo, step):
        if err is not None:  # a broken query must not kill the whole bench
            print(f"# bench error {name}: {sweep.why(err, 200)}", file=sys.stderr)
            results[name] = -1.0
        else:
            results[name] = round(statistics.median(timing[1]), 3)
            colds[name] = round(timing[0], 3)
        print(f"# {name}: {results[name]}s", file=sys.stderr)
    # Flag pathological cold/warm ratios loudly: a first build >=10x its
    # warm median on a non-trivial query is the inferred-filter bug class
    # (plan-level double compute that the logical-plan cache then hides).
    for n in sorted(colds, key=lambda n: -(colds[n] / max(results.get(n, 0), 1e-9))):
        if results.get(n, 0) > 0.2 and colds[n] / results[n] >= 10:
            print(
                f"# COLD OUTLIER {n}: first build {colds[n]}s = "
                f"{colds[n] / results[n]:.0f}x its warm median",
                file=sys.stderr,
            )
    total = round(sum(v for v in results.values() if v >= 0), 3)
    sf = sf_from_dir(SF_DIR)
    errors = sorted(n for n, v in results.items() if v < 0)
    # "quiet" = every timing window under HOST_NOISE_FRAC foreign CPU;
    # "noisy" lists the contaminated queries.
    noisy = sorted(n for n, f in host_busy.items() if f >= HOST_NOISE_FRAC)
    host_noise = "noisy" if noisy else "quiet"
    if noisy:
        print(
            f"# HOST NOISE: {len(noisy)} queries timed while foreign "
            f"load held >={HOST_NOISE_FRAC:.0%} of the machine "
            f"(foreign%, steal% — steal is hypervisor contention, not "
            f"guest processes): "
            + ", ".join(
                f"{n}({host_busy[n]:.0%},{host_steal.get(n, 0):.0%})" for n in noisy[:10]
            ),
            file=sys.stderr,
        )
    # Subset invocations (explicit query names) must not clobber the
    # full-run record the driver and judge read.
    full_path = os.path.join(REPO_ROOT, "BENCH_FULL.json" if not names else "BENCH_SUBSET.json")
    record = {
        "metric": "total_median_sec",
        "value": total,
        "unit": "sec",
        "queries": results,
        "cold_queries": colds,
        "host_busy": host_busy,
        "host_steal": host_steal,
        "host_noise": host_noise,
        "host_noisy_queries": noisy,
        "loadavg": [loadavg_start, round(os.getloadavg()[0], 2)],
        "sf": sf,
        "cpus": CPUS,
        "n_queries": len(results),
        "errors": errors,
    }
    with open(full_path, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    if not names:
        # The driver benches at two core counts and both runs write
        # BENCH_FULL.json; the per-CPUs copy keeps both records, and is
        # what the final line names and comparators read.
        full_path = os.path.join(REPO_ROOT, f"BENCH_FULL_c{CPUS}.json")
        with open(full_path, "w") as f:
            json.dump(record, f, indent=1, sort_keys=True)
    # Compact final line, well under the driver's 2000-char tail capture:
    # totals, geomean vs the BASELINE.md §3 v1 ratchets, worst-3 ratios.
    geomean = None
    worst3: dict[str, float] = {}
    try:
        from benchcmp import load_baseline

        base = load_baseline()
        ratios = {n: v / base[n] for n, v in results.items() if v >= 0 and base.get(n, 0) > 0}
        if ratios:
            geomean = round(statistics.geometric_mean(list(ratios.values())), 3)
            worst3 = {n: round(r, 2) for n, r in sorted(ratios.items(), key=lambda kv: -kv[1])[:3]}
    except Exception as e:  # baseline table absent/unparseable: still report times
        print(f"# baseline compare skipped: {e}", file=sys.stderr)
    print(
        json.dumps(
            {
                "metric": "total_median_sec",
                "value": total,
                "unit": "sec",
                "sf": sf,
                "cpus": CPUS,
                "n_queries": len(results),
                "n_errors": len(errors),
                "geomean_vs_v1": geomean,
                "worst3_vs_v1": worst3,
                "host_noise": host_noise,
                "n_noisy": len(noisy),
                "max_foreign_cpu": max(host_busy.values(), default=0.0),
                "queries_file": os.path.basename(full_path),
            },
            separators=(",", ":"),
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
