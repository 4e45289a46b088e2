"""One measured workload in one fresh process and one SparkSession.

Usage (run.py starts this; it is not meant to be run by hand):

    python3 perfbench/worker.py --workload NAME --seed N --seconds S \
        --trace 0|1 --out RESULT.json [--corrupt]

The run: ``get_spark`` and one warm-up pass (together the set-up),
then a fixed number of measured passes: ``--seconds`` divided by the
workload's nominal pass time (measured on the pinned worker), at least
``MIN_PASSES``. A fixed count keeps the work, and so the latency
sample size, the same on every run and every commit. ``pass_s`` sums
each call's median over the measured passes, so a burst of host load
during one pass moves it little. With ``--trace 1`` the Spark event
log is on, layer calls are wrapped in spans and jobs carry a
``<layer>|<call>|<phase>`` description, and one untraced pass before
and one after the traced passes give the untraced ``pass_s`` the
tracing overhead is taken against; with ``--trace 0`` none of that
runs.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from dataclasses import asdict

sys.path.insert(0, os.getcwd())  # the package, from the checkout root

from spans import Tracer, read_event_log  # noqa: E402
from workloads import WORKLOADS, cpu_steal_ticks, run_call  # noqa: E402

# The measured passes run on PINNED_CPUS of the machine's vCPUs, with
# one Spark task thread per pinned vCPU. The vCPUs are shares of a host
# that other tenants load too; a call's critical path hops between
# threads, and each hop onto a vCPU the host has descheduled waits for
# it. With all four vCPUs in use, 6-16% machine-wide host CPU steal
# slowed whole runs by up to half; on two, far less. The set-up (JVM
# start, class loading and JIT compilation, which is parallel) runs on
# every vCPU.
PINNED_CPUS = 2
CORES = min(PINNED_CPUS, len(os.sched_getaffinity(0)))


def pin_process_tree(cpus: list[int]) -> None:
    """Move every thread of this process and of its descendants (the
    JVM and any Python workers it forked) onto ``cpus``; threads they
    start later inherit the set."""
    parent = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                parent[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
    tree, grew = {os.getpid()}, True
    while grew:
        grown = tree | {p for p, pp in parent.items() if pp in tree}
        grew, tree = len(grown) > len(tree), grown
    for _ in range(2):  # again, for threads started during the first sweep
        for pid in tree:
            try:
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:
                continue
            for tid in tids:
                try:
                    os.sched_setaffinity(int(tid), cpus)
                except OSError:
                    pass


DRIVER_MEMORY = "1g"
MIN_PASSES = 2


def session_conf(trace_dir: str | None) -> dict[str, str]:
    scratch = os.path.join(os.getcwd(), ".perfbench")
    conf = {
        "spark.sql.shuffle.partitions": str(2 * CORES),
        "spark.driver.memory": DRIVER_MEMORY,
        # Keep the JVM's temporary files in the checkout; no hsperfdata
        # file under /tmp. A heap committed at full size from the start
        # keeps the resident set from depending on when the collector
        # chose to grow it.
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData "
            f"-Xms{DRIVER_MEMORY}",
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
    }
    if trace_dir:
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + trace_dir,
            "spark.eventLog.compress": "false",
        }
    return conf


def jvm_peak_rss_mb(spark) -> float:
    """High-water resident set of the driver JVM, from /proc."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


# The host is shared: other tenants take CPU time from this machine
# (steal) in bursts of a few seconds, and a call that overlaps one can
# take half as long again. A measured call during which the host took
# more than STEAL_LIMIT of the machine's CPU ticks is run once more and
# the pass keeps the less disturbed attempt. At most a quarter of a
# pass's calls are repeated, so a long episode costs bounded time.
# Every attempt is checked and counted.
STEAL_LIMIT = 0.04


def run_pass(wl, tracer: Tracer, run_id: str, calls=None,
             repeated: list | None = None):
    """One pass over ``calls`` (default: the workload's pass). With
    ``repeated`` given, disturbed calls are repeated as above and the
    attempts the pass does not keep are appended to it."""
    tracer.run_id = run_id
    records = []
    wl.pass_records = records
    calls = wl.calls if calls is None else calls
    budget = len(calls) // 4 if repeated is not None else 0
    for i, call in enumerate(calls):
        rec = run_call(wl, call, f"{run_id}.{i}", run_id == "warmup")
        if rec.steal > STEAL_LIMIT and budget:
            budget -= 1
            again = run_call(wl, call, f"{run_id}.{i}r", False)
            rec, dropped = sorted((rec, again), key=lambda r: r.steal)
            repeated.append(dropped)
        records.append(rec)
    return records


def tail(passes: list[list]) -> tuple[float, str]:
    """The highest percentile of per-call latency with at least ten
    samples beyond it: (value, how it was taken). With fewer than 21
    samples that percentile would not lie above the median, so the tail
    is the slowest call's median over the passes instead."""
    xs = sorted(r.wall_s for p in passes for r in p if r.latency)
    if len(xs) >= 21:
        k = len(xs) - 11
        return xs[k], f"p{100.0 * (k + 1) / len(xs):.1f} of {len(xs)} call latencies"
    slowest = max(statistics.median(p[i].wall_s for p in passes)
                  for i in range(len(passes[0])) if passes[0][i].latency)
    return slowest, (f"the slowest call's median over {len(passes)} pass(es) "
                     f"({len(xs)} call latencies, too few for p50 or above)")


def measure(args) -> dict:
    work_dir = os.path.join(os.getcwd(), ".perfbench", "runs", args.run_name)
    os.makedirs(work_dir, exist_ok=True)
    trace_dir = os.path.join(work_dir, "eventlog") if args.trace else None
    if trace_dir:
        os.makedirs(trace_dir, exist_ok=True)
    tracer = Tracer(bool(args.trace))

    from convert_parquet_to_csv_spark.session import get_spark

    with tracer.span("session.get_spark"):
        t0 = time.perf_counter()
        spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            master=f"local[{CORES}]",
            extra_conf=session_conf(trace_dir),
        )
        get_spark_s = time.perf_counter() - t0
    try:
        if args.trace:
            from convert_parquet_to_csv_spark import pipeline, sources
            from convert_parquet_to_csv_spark.plans import registry

            registry.load_all()
            tracer.wrap_package_function(sources, "read_parquet", "sources.read_parquet")
            tracer.wrap_package_function(pipeline, "convert_parquet_to_csv", "sources.convert")
            tracer.wrap_package_function(sources, "write_csv", "sources.write_csv")
        wl = WORKLOADS[args.workload](spark, args.seed, tracer, args.corrupt, work_dir)
        with tracer.span("session.warmup"):
            warm = run_pass(wl, tracer, "warmup", wl.warmup_calls)
        warmup_s = sum(r.wall_s for r in warm)
        pin_process_tree(sorted(os.sched_getaffinity(0))[:CORES])
        n_passes = max(MIN_PASSES, round(args.seconds / wl.nominal_pass_s))
        # A traced run brackets its traced passes with two untraced
        # ones (tracing off, event log still on), A-B-A, so drift
        # within the run does not bias the tracing overhead; it runs
        # as many passes in all as an untraced run.
        untraced = []
        if args.trace:
            n_passes = max(1, n_passes - 2)
            tracer.enabled = False
            untraced.append(run_pass(wl, tracer, "u0"))
            tracer.enabled = True
        steal0 = cpu_steal_ticks()
        passes, repeated = [], None if args.trace else []
        for p in range(n_passes):
            with tracer.span("pass"):
                passes.append(run_pass(wl, tracer, f"p{p}", repeated=repeated))
        steal1 = cpu_steal_ticks()
        steal_frac = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
        if args.trace:
            tracer.enabled = False
            untraced.append(run_pass(wl, tracer, "u1"))
            tracer.enabled = True
        peak_rss_mb = jvm_peak_rss_mb(spark)
        extra = wl.traced_extras() if args.trace else {}
        wl.close()
    finally:
        spark.stop()

    records = [r for p in [warm, *passes, *untraced, repeated or []] for r in p]
    latencies = [r.wall_s for p in passes for r in p if r.latency]
    tail_s, tail_rule = tail(passes)
    out = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": CORES,
        "inputs": wl.inputs,
        "attempted": len(records),
        "failed": sum(not r.ok for r in records),
        "errors": [f"{r.name}: {r.error}" for r in records if not r.ok][:20],
        "metrics": {
            "setup_s": get_spark_s + warmup_s,
            "pass_s": sum(statistics.median(p[i].wall_s for p in passes)
                          for i in range(len(passes[0]))),
            "p50_s": statistics.median(latencies),
            "tail_s": tail_s,
            "peak_rss_mb": peak_rss_mb,
        },
        "tail_rule": tail_rule,
        # Share of machine CPU time the host took during the measured
        # passes: a diagnostic for noisy runs, not a metric.
        "steal_frac": steal_frac,
        "repeated_calls": len(repeated or []),
        "latency_samples": len(latencies),
        "passes": len(passes),
        "get_spark_s": get_spark_s,
        "warmup_s": warmup_s,
        "records": [[asdict(r) for r in p] for p in passes],
        "extra": extra,
        "untraced_pass_s": statistics.fmean(
            sum(r.wall_s for r in p) for p in untraced) if untraced else None,
    }
    if args.trace:
        tracer.dump(os.path.join(work_dir, "spans.json"))
        out["spans"] = [asdict(s) for s in tracer.spans]
        out["self_s"] = tracer.self_times()
        out["jobs"] = [asdict(j) for j in read_event_log(trace_dir)]
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--corrupt", action="store_true")
    ap.add_argument("--run-name", default="run")
    ap.add_argument("--out")
    args = ap.parse_args()
    result = measure(args)
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
