"""Per-layer metrics of a traced run.

Every ``*_s`` metric and every counter is summed over one measured
pass and reported as the median over the run's measured passes;
``*_p50_s`` metrics are medians over calls. A layer the workload does
not reach reports 0.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

KERNELS = ["spark_sql", "spark_indexed", "spark_df", "spark_single", "spark_chunked"]
QUERIES = ["q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue",
           "q6_revenue_filter", "curation_pipeline"]
COUNTERS = ["executor_run_s", "gc_s", "shuffle_write_bytes", "spill_bytes",
            "failed_tasks"]
COUNTED_LAYERS = ["sources", "plans", "operators"]


def names() -> list[str]:
    """Every per-layer metric, in report order."""
    out = ["session.get_spark_s", "session.warmup_s",
           "sources.read_parquet_s", "sources.convert_s", "sources.convert_tasks",
           "sources.core_busy_frac", "sources.commit_gap_s",
           "sources.csv_bytes_per_parquet_byte", "sources.files_written"]
    out += [f"pipeline.{k}_s" for k in KERNELS]
    out += ["pipeline.small_p50_s", "pipeline.large_p50_s",
            "pivotbench.export_results_s",
            "plans.build_s", "plans.action_s", "plans.plan_gap_s",
            "plans.jobs_at_build"]
    out += [f"plans.{q}_s" for q in QUERIES]
    out += ["operators.minhash_dedup_s", "operators.exact_dedup_s",
            "operators.remove_duplicated_spans_build_s",
            "operators.remove_duplicated_spans_action_s",
            "operators.jobs_at_build", "operators.lsh_pair_precision"]
    out += [f"{layer}.{c}" for layer in COUNTED_LAYERS for c in COUNTERS]
    out += ["trace.pass_s", "trace.self_time_sum_s", "trace.overhead_frac"]
    return out


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def per_layer(traced: dict, untraced_pass_s: float) -> dict[str, float]:
    spans = traced["spans"]
    own = {int(k): v for k, v in traced["self_s"].items()}
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)

    def subtree(span):
        yield span
        for c in children[span["id"]]:
            yield from subtree(c)

    def dur(s):
        return s["end"] - s["start"]

    jobs_by_call = defaultdict(list)
    for j in traced["jobs"]:
        jobs_by_call[j["call"]].append(j)

    per_pass = defaultdict(list)  # metric -> one value per measured pass
    pass_spans = [s for s in spans if s["name"] == "pass"]
    sizes = sorted({r["size"] for p in traced["records"] for r in p if r["size"]})
    small, large = [], []
    for p, (records, pspan) in enumerate(zip(traced["records"], pass_spans)):
        calls = children[pspan["id"]]
        acc = defaultdict(float)
        convert_wall = 0.0
        for i, (rec, cspan) in enumerate(zip(records, calls)):
            call_jobs = jobs_by_call.get(f"p{p}.{i}", [])
            tree = list(subtree(cspan))
            acc["trace.self_time_sum_s"] += sum(own[s["id"]] for s in tree)
            for s in tree:
                if s["name"] in ("sources.read_parquet", "sources.convert"):
                    acc[s["name"] + "_s"] += dur(s)
            group, wall = rec["group"], rec["wall_s"]
            for j in call_jobs:
                for c in COUNTERS:
                    acc[f"{j['layer']}.{c}"] += j[c]
                if j["phase"] == "build":
                    acc[f"{j['layer']}.jobs_at_build"] += 1
            if rec["layer"] == "pipeline":
                convert_wall += wall
                acc[f"pipeline.{group}_s"] += wall
                acc["sources.convert_tasks"] += sum(j["tasks"] for j in call_jobs)
                acc["sources.commit_gap_s"] += wall - sum(j["wall_s"] for j in call_jobs)
                acc["csv_bytes"] += rec["extra"].get("csv_bytes", 0)
                acc["parquet_bytes"] += rec["extra"].get("parquet_bytes", 0)
                acc["sources.files_written"] += rec["extra"].get("files_written", 0)
                if rec["size"] == sizes[0]:
                    small.append(wall)
                if rec["size"] == sizes[-1]:
                    large.append(wall)
            elif rec["layer"] == "pivotbench":
                acc["pivotbench.export_results_s"] += wall
            else:
                phase = {s["name"].split(".")[-1]: dur(s) for s in children[cspan["id"]]}
                layer = rec["layer"]
                acc[f"{layer}.{group}_s"] += wall
                if layer == "plans":
                    acc["plans.build_s"] += phase.get("build", 0.0)
                    acc["plans.action_s"] += phase.get("action", 0.0)
                    acc["plans.plan_gap_s"] += phase.get("action", 0.0) - sum(
                        j["wall_s"] for j in call_jobs if j["phase"] == "action")
                if group == "remove_duplicated_spans":
                    acc["operators.remove_duplicated_spans_build_s"] += phase.get("build", 0.0)
                    acc["operators.remove_duplicated_spans_action_s"] += phase.get("action", 0.0)
        if convert_wall:
            acc["sources.core_busy_frac"] = acc["sources.executor_run_s"] / (
                convert_wall * traced["cores"])
        if acc["parquet_bytes"]:
            acc["sources.csv_bytes_per_parquet_byte"] = (
                acc["csv_bytes"] / acc["parquet_bytes"])
        acc["trace.pass_s"] = sum(r["wall_s"] for r in records)
        for k, v in acc.items():
            per_pass[k].append(v)

    out = {name: _median(per_pass.get(name, [])) for name in names()}
    out["session.get_spark_s"] = traced["get_spark_s"]
    out["session.warmup_s"] = traced["warmup_s"]
    out["pipeline.small_p50_s"] = _median(small)
    out["pipeline.large_p50_s"] = _median(large)
    out["operators.lsh_pair_precision"] = traced["extra"].get("lsh_pair_precision", 0.0)
    out["trace.overhead_frac"] = out["trace.pass_s"] / untraced_pass_s - 1
    return out
