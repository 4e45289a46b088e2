"""The repo benchmark: one command, two seeded workloads.

    python3 perfbench/run.py --workload convert_sweep --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1      # every workload

Run from the root of a checkout. Each workload runs in a fresh
process with one SparkSession (``local[<cores>]``). The command prints
each input's shape, every end-to-end metric by name and unit, and as
its last line one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``). It exits 1 when any output check fails,
and 2 without a result when the package cannot be imported.

``--trace 1`` runs the workload with spans, job descriptions and the
Spark event log on, plus one untraced pass before and one after the
traced passes; ``trace.overhead_frac`` compares the two kinds of pass.
The end-to-end lines it prints come from the traced passes. ``--corrupt`` damages every output
before it is checked, to show that the checks fail.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import layers  # noqa: E402

WORKLOADS = ["convert_sweep", "analytics_dedup"]
END_TO_END = {"setup_s": "s", "pass_s": "s", "p50_s": "s", "tail_s": "s",
              "peak_rss_mb": "MB"}
CHILD_TIMEOUT_S = 170


def _stop_group(proc: subprocess.Popen) -> None:
    """Stop the child's whole process group (the worker and its JVM)
    and wait until every member has exited."""
    for sig, grace in ((signal.SIGTERM, 10), (signal.SIGKILL, 10)):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        end = time.monotonic() + grace
        while time.monotonic() < end:
            proc.poll()
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)
    proc.wait()


def _child(args: list[str], timeout: float) -> int:
    # Spark's scratch space and every temporary file stay in the checkout.
    scratch = os.path.join(os.getcwd(), ".perfbench")
    env = {**os.environ,
           "SPARK_LOCAL_DIRS": os.path.join(scratch, "spark-local"),
           "TMPDIR": os.path.join(scratch, "tmp")}
    os.makedirs(env["TMPDIR"], exist_ok=True)
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), *args],
        stdout=sys.stderr, start_new_session=True, env=env,
    )
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        code = -1
    _stop_group(proc)
    return code


def _measure(workload: str, seed: int, seconds: float, trace: int,
             corrupt: bool) -> dict:
    name = f"{workload}-s{seed}-t{trace}"
    out = os.path.join(os.getcwd(), ".perfbench", "runs", f"{name}.json")
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--run-name", name, "--out", out]
    if corrupt:
        args.append("--corrupt")
    if os.path.exists(out):
        os.remove(out)
    code = _child(args, CHILD_TIMEOUT_S)
    if code != 0 or not os.path.exists(out):
        raise RuntimeError(f"{workload} worker exited with code {code}")
    with open(out) as f:
        result = json.load(f)
    if not trace:  # a traced run's files stay for inspection
        shutil.rmtree(os.path.join(os.path.dirname(out), name), ignore_errors=True)
        os.remove(out)
    return result


def _prepare(workload: str, seed: int) -> None:
    """Build this seed's inputs before any timed process starts."""
    if workload == "convert_sweep":
        inputs.samples(seed)
    else:
        inputs.docs(seed)


def _report(result: dict) -> None:
    wl = result["workload"]
    for item in result["inputs"]:
        print(f"{wl} input {json.dumps(item)}")
    m = result["metrics"]
    failed_frac = result["failed"] / result["attempted"]
    print(f"{wl} tail_s is {result['tail_rule']}; "
          f"{result['passes']} measured pass(es); host CPU steal during them "
          f"{100 * result['steal_frac']:.1f}%; calls repeated after a steal burst: "
          f"{result['repeated_calls']}")
    for k, unit in END_TO_END.items():
        print(f"{wl} {k} {m[k]:.4f} {unit}")
    print(f"{wl} failed_frac {failed_frac:.4f} ratio")
    for err in result["errors"]:
        print(f"{wl} FAILED {err}")


def run_workload(workload: str, seed: int, seconds: float, trace: int,
                 corrupt: bool) -> tuple[dict, int, int]:
    _prepare(workload, seed)
    result = _measure(workload, seed, seconds, trace, corrupt)
    _report(result)
    if not trace:
        return result["metrics"], result["attempted"], result["failed"]
    metrics = layers.per_layer(result, result["untraced_pass_s"])
    for k in ("candidate_pairs", "verified_pairs"):
        if k in result["extra"]:
            print(f"{workload} trace {k} {result['extra'][k]}")
    for k, v in metrics.items():
        print(f"{workload} trace {k} {v:.6g}")
    return metrics, result["attempted"], result["failed"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--corrupt", action="store_true")
    args = ap.parse_args()

    sys.path.insert(0, os.getcwd())
    if importlib.util.find_spec("convert_parquet_to_csv_spark") is None:
        print(f"no convert_parquet_to_csv_spark package under {os.getcwd()}",
              file=sys.stderr)
        return 2

    names = WORKLOADS if args.workload == "all" else [args.workload]
    metrics, attempted, failed = {}, 0, 0
    for wl in names:
        m, a, f = run_workload(wl, args.seed, args.seconds, args.trace, args.corrupt)
        attempted += a
        failed += f
        if len(names) == 1:
            metrics = m
        else:
            metrics |= {f"{wl}.{k}": v for k, v in m.items()}
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": _unit(k)} for k, v in metrics.items()},
    }))
    return 0 if failed == 0 else 1


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if "frac" in name or "precision" in name or "per_parquet_byte" in name:
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
