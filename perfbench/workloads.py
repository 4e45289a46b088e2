"""The workloads: seeded call lists and their output checks.

A workload is a closed loop with one client: each call starts only
after the previous one returned. A pass is the workload's fixed,
seeded call list; every pass runs the same list in the same order.
Each call is timed from outside, around public functions of the
package, and its output is checked after the timer stops.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import time
from collections.abc import Callable
from dataclasses import dataclass, field

import duckdb
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

import inputs
from spans import Tracer

class CheckFailed(Exception):
    pass


@dataclass
class Call:
    """One timed call. ``layer`` owns the Spark jobs the call runs;
    ``group`` names the metric it feeds (kernel, query or operator)."""

    name: str
    layer: str
    group: str
    run: Callable[[str, bool], object]  # (call id, warm-up pass?) -> result
    check: Callable[[object, bool], dict]  # (result, warm-up pass?) -> extras
    size: int | None = None
    latency: bool = True  # counts toward p50_s / tail_s


@dataclass
class Record:
    name: str
    layer: str
    group: str
    size: int | None
    latency: bool
    wall_s: float
    ok: bool
    error: str | None = None
    extra: dict = field(default_factory=dict)
    steal: float = 0.0  # share of machine CPU ticks the host took during the call


def canon(pdf) -> str:
    """Order-insensitive hash of a result frame: name-sorted columns,
    sorted rows, verbatim ``str()`` of each cell (the repo's oracle
    gate compares frames the same way)."""
    cols = sorted(pdf.columns)
    pdf = pdf[cols].sort_values(by=cols).reset_index(drop=True)
    h = hashlib.sha256()
    for row in pdf.itertuples(index=False, name=None):
        h.update("\x1f".join(str(v) for v in row).encode())
        h.update(b"\n")
    return h.hexdigest()


class Workload:
    name = ""
    nominal_pass_s: float  # one pass on a quiet 4-core box; sets the pass count

    def __init__(self, spark: SparkSession, tracer: Tracer, corrupt: bool):
        self.spark = spark
        self.tracer = tracer
        self.corrupt = corrupt
        self.duck = duckdb.connect()
        self.calls: list[Call] = []
        self.inputs: list[dict] = []
        self.pass_records: list[Record] = []

    def sql(self, query: str):
        """DuckDB query on a fresh cursor, so a failed check leaves no
        aborted transaction behind for the next one."""
        return self.duck.cursor().sql(query)

    def tag(self, layer: str, call_id: str, phase: str) -> None:
        if self.tracer.enabled:
            self.spark.sparkContext.setJobDescription(f"{layer}|{call_id}|{phase}")

    def untag(self) -> None:
        if self.tracer.enabled:
            self.spark.sparkContext.setJobDescription(None)

    def build_and_run(self, layer: str, call_id: str, build, action):
        """Time-split helper: build the plan, then run its action."""
        self.tag(layer, call_id, "build")
        with self.tracer.span(f"{layer}.build"):
            df = build()
        self.tag(layer, call_id, "action")
        with self.tracer.span(f"{layer}.action"):
            out = action(df)
        self.untag()
        return df, out

    @property
    def warmup_calls(self) -> list[Call]:
        """The calls of the warm-up pass: by default the whole pass."""
        return self.calls

    def traced_extras(self) -> dict:
        """Untimed measurements only the traced run makes."""
        return {}

    def close(self) -> None:
        self.duck.close()


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# convert_sweep
# ---------------------------------------------------------------------------

_DUCK_TYPES = {  # Arrow type of a sample column -> DuckDB type
    "int64": "BIGINT",
    "int32": "INTEGER",
    "double": "DOUBLE",
    "string": "VARCHAR",
    "timestamp[us]": "TIMESTAMP",
}


class ConvertSweep(Workload):
    """The reference's main.py: every kernel preset over every sample,
    in ``shuffle_run_order(seed)`` order, each pass ending with
    ``export_results``."""

    name = "convert_sweep"
    nominal_pass_s = 12.0

    def __init__(self, spark, seed, tracer, corrupt, work_dir):
        super().__init__(spark, tracer, corrupt)
        from convert_parquet_to_csv_spark.pipeline import KERNEL_PRESETS
        from convert_parquet_to_csv_spark.pivotbench import shuffle_run_order

        root = inputs.samples(seed)
        self.input_dir = os.path.join(root, "parquet")
        self.output_dir = os.path.join(work_dir, "csv")
        self.results_path = os.path.join(work_dir, "results.csv")
        with open(os.path.join(root, "inputs.json")) as f:
            self.inputs = json.load(f)
        self.source_sums: dict[str, tuple] = {}
        self.schema: dict[str, str] = {}
        for stem, n in shuffle_run_order(
            [i["stem"] for i in self.inputs], [i["rows"] for i in self.inputs], seed
        ):
            for kernel, fn in KERNEL_PRESETS.items():
                self.calls.append(
                    Call(f"{kernel}:{stem}", "pipeline", kernel,
                         self._convert(fn, kernel, stem), self._check_csv, size=n)
                )
        self.calls.append(
            Call("export_results", "pivotbench", "export_results",
                 self._export, self._check_export, latency=False)
        )

    @property
    def warmup_calls(self) -> list[Call]:
        """Every kernel on the smallest sample and on the multi-file
        input, then ``export_results``: each code path once (codegen
        and class loading do not depend on the row count) at about half
        a pass's cost."""
        smallest = min(i["rows"] for i in self.inputs)
        multi = {i["stem"] for i in self.inputs if i["files"] > 1}
        return [c for c in self.calls
                if c.size in (None, smallest) or c.name.split(":")[1] in multi]

    def _convert(self, fn, kernel: str, stem: str):
        def run(call_id: str, warmup: bool):
            self.tag("sources", call_id, "call")
            fn(self.spark, stem, self.input_dir, self.output_dir)
            self.untag()
            return (kernel, stem)

        return run

    def _scan(self, relation: str, index: bool) -> tuple:
        """Row count and per-column checksums: exact numeric sums,
        distinct counts, min/max; plus the index column's range."""
        exprs = ["count(*)"]
        for col, typ in self.schema.items():
            q = f'"{col}"'
            if typ in ("BIGINT", "INTEGER"):
                exprs.append(f"sum({q}::HUGEINT)")
                exprs.append(f"count(DISTINCT {q})")
            elif typ == "DOUBLE":
                exprs.append(f"sum({q}::DECIMAL(38, 6))")
            elif typ == "VARCHAR":
                exprs.append(f"count(DISTINCT {q})")
                exprs.append(f"min({q})")
                exprs.append(f"max({q})")
            else:
                exprs.append(f"min({q})")
                exprs.append(f"max({q})")
        if index:
            exprs += ['min("index")', 'max("index")', 'count(DISTINCT "index")']
        return self.sql(f"SELECT {', '.join(exprs)} FROM {relation}").fetchone()

    def _source(self, stem: str) -> tuple:
        if stem not in self.source_sums:
            files = inputs.parquet_files(
                os.path.join(self.input_dir, f"{stem}.parquet"))
            if not self.schema:
                self.schema = {
                    fld.name: _DUCK_TYPES[str(fld.type)]
                    for fld in pq.read_schema(files[0])
                }
            listed = ", ".join(f"'{f}'" for f in files)
            self.source_sums[stem] = self._scan(f"read_parquet([{listed}])", False)
        return self.source_sums[stem]

    def _check_csv(self, result, warmup: bool) -> dict:
        """Read the CSV back with DuckDB (measured passes only; the
        warm-up pass belongs to the set-up) and compare checksums."""
        kernel, stem = result
        try:
            return {} if warmup else self._compare_csv(kernel, stem)
        finally:
            shutil.rmtree(self.output_dir, ignore_errors=True)

    def _compare_csv(self, kernel: str, stem: str) -> dict:
        expected = self._source(stem)
        single = os.path.join(self.output_dir, f"{stem}.csv")
        files = (
            [single] if os.path.isfile(single) else sorted(
                os.path.join(self.output_dir, stem, f)
                for f in os.listdir(os.path.join(self.output_dir, stem))
                if f.endswith(".csv")
            )
        )
        if self.corrupt:
            with open(files[-1], "rb+") as f:
                lines = f.read().splitlines(keepends=True)
                f.seek(0)
                f.write(b"".join(lines[:-1]))
                f.truncate()
        index = kernel == "spark_indexed"
        cols = ({"index": "BIGINT"} if index else {}) | self.schema
        col_spec = ", ".join(f"'{c}': '{t}'" for c, t in cols.items())
        file_list = ", ".join(f"'{f}'" for f in files)
        got = self._scan(
            f"read_csv([{file_list}], header=true, delim=',', quote='\"', "
            f"escape='\"', nullstr='', columns={{{col_spec}}})",
            index,
        )
        n = expected[0]
        if tuple(got[: len(expected)]) != tuple(expected):
            raise CheckFailed(f"{kernel}:{stem} CSV checksums differ from Parquet")
        if index and tuple(got[len(expected):]) != (0, n - 1, n):
            raise CheckFailed(f"{kernel}:{stem} index is not contiguous 0..n-1")
        csv_bytes = sum(os.path.getsize(f) for f in files)
        parquet_bytes = next(i["bytes"] for i in self.inputs if i["stem"] == stem)
        return {"csv_bytes": csv_bytes, "parquet_bytes": parquet_bytes,
                "files_written": len(files)}

    def _export(self, call_id: str, warmup: bool):
        from convert_parquet_to_csv_spark.pivotbench import export_results

        results: dict[str, dict[int, float]] = {}
        manifest = {i["stem"] for i in self.inputs if i["files"] == 1}
        for r in self.pass_records:
            stem = r.name.split(":", 1)[1]
            if stem in manifest:
                results.setdefault(r.group, {})[r.size] = r.wall_s
        self.tag("pivotbench", call_id, "call")
        export_results(results, self.spark, self.results_path)
        self.untag()
        return results

    def _check_export(self, results, warmup: bool) -> dict:
        table = self.sql(f"SELECT * FROM read_csv('{self.results_path}', header=true)")
        cols = table.columns
        rows = table.order("size").fetchall()
        want_sizes = sorted({s for per in results.values() for s in per})
        if self.corrupt:
            rows = rows[:-1]
        if [r[0] for r in rows] != want_sizes or sorted(cols) != sorted(
            ["size", *results]
        ):
            raise CheckFailed("results.csv is not one row per size, one column per kernel")
        os.remove(self.results_path)
        return {}


# ---------------------------------------------------------------------------
# analytics_dedup
# ---------------------------------------------------------------------------

TPCH_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "q6_revenue_filter",
]
TPCH_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
               "lineitem"]
OPERATORS = ["minhash_dedup", "exact_dedup", "remove_duplicated_spans"]


def _digest(ids) -> tuple[int, int, int]:
    ids = [int(i) for i in ids]
    return (len(ids), sum(ids), sum(i * i for i in ids))


class AnalyticsDedup(Workload):
    """The read-only workload: registered TPC-H queries at sf0.1 and the
    dedup/curation operators over a corpus with planted duplicates.

    Registered queries (q1, q3, q5, q6 and ``curation_pipeline``) are
    built through ``plans.registry.QUERIES``, run to a noop sink, and
    checked against ``registry.ORACLES`` in DuckDB. Operator outputs
    (minhash and exact dedup, C4 span removal) are checked through an
    ``Observation`` on the timed noop write: (count, sum(id), sum(id^2))
    of the surviving ids, against the survivors the planted ground
    truth implies."""

    name = "analytics_dedup"
    nominal_pass_s = 12.0

    def __init__(self, spark, seed, tracer, corrupt, work_dir):
        super().__init__(spark, tracer, corrupt)
        from convert_parquet_to_csv_spark.plans import registry

        registry.load_all()
        self.registry = registry
        self.oracle_hash: dict[str, str] = {}
        sf_dir = inputs.tpch(seed)
        self.docs_dir = inputs.docs(seed)
        self.docs_path = os.path.join(self.docs_dir, "documents.parquet")
        for t in TPCH_TABLES:
            self.duck.sql(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(sf_dir, t + '.parquet')}')"
            )
        self.duck.sql(f"CREATE VIEW documents AS SELECT * FROM "
                      f"read_parquet('{self.docs_path}')")
        with open(os.path.join(self.docs_dir, "truth.json")) as f:
            truth = json.load(f)
        ids = pq.read_table(self.docs_path, columns=["doc_id"])["doc_id"].to_pylist()
        near_losers = {i for c in truth["near_dup_clusters"] for i in c[1:]}
        self.hot_lo, self.hot_hi = truth["hot_cluster"]
        hot_losers = set(range(self.hot_lo + 1, self.hot_hi + 1))
        self.expect = {
            "minhash_dedup": _digest(i for i in ids if i not in near_losers),
            "exact_dedup": _digest(i for i in ids if i not in hot_losers),
        }
        self.n_docs, self.n_tokens = truth["n_docs"], truth["n_tokens"]
        self.inputs = [
            {"table": t, **inputs.describe(os.path.join(sf_dir, f"{t}.parquet"))}
            for t in TPCH_TABLES
        ] + [{
            "table": "documents (dedup corpus)", **inputs.describe(self.docs_path),
            "near_dup_clusters": len(truth["near_dup_clusters"]),
            "hot_cluster_docs": self.hot_hi - self.hot_lo + 1,
        }]
        self.first_digest: dict[str, tuple] = {}
        order = [*TPCH_QUERIES, *OPERATORS, "curation_pipeline"]
        random.Random(seed).shuffle(order)
        for name in order:
            if name in OPERATORS:
                self.calls.append(Call(name, "operators", name, self._operator(name),
                                       self._check_operator))
            else:
                self.calls.append(Call(
                    name, "plans", name,
                    self._query(name, self.docs_dir if name == "curation_pipeline"
                                else sf_dir),
                    self._check_query))

    def _query(self, name: str, sf_dir: str):
        """Build through the registry and run to the noop sink; the
        warm-up pass collects the result instead, for the oracle check,
        so no query runs twice."""

        def run(call_id: str, warmup: bool):
            _, pdf = self.build_and_run(
                "plans", call_id,
                lambda: self.registry.QUERIES[name](self.spark, sf_dir),
                (lambda df: df.toPandas()) if warmup else _noop,
            )
            return (name, pdf)

        return run

    def _check_query(self, result, warmup: bool) -> dict:
        name, pdf = result
        if pdf is None:
            return {}
        if name not in self.oracle_hash:
            self.oracle_hash[name] = canon(self.sql(self.registry.ORACLES[name]).df())
        if self.corrupt:
            pdf = pdf.iloc[:-1]
        if canon(pdf) != self.oracle_hash[name]:
            raise CheckFailed(f"{name} result differs from its DuckDB oracle")
        return {}

    def _operator(self, op: str):
        from convert_parquet_to_csv_spark.operators import curation, dedup
        from convert_parquet_to_csv_spark.sources import read_parquet

        if op == "remove_duplicated_spans":
            fn = lambda d: curation.remove_duplicated_spans(d, n=4, max_docs=2)  # noqa: E731
            hot = (F.col("doc_id") >= self.hot_lo) & (F.col("doc_id") <= self.hot_hi)
            metrics = [
                F.count(F.lit(1)).alias("n"),
                F.sum("n_kept").alias("kept"),
                F.sum("n_removed").alias("removed"),
                F.sum(F.when(hot, F.col("n_kept")).otherwise(0)).alias("hot_kept"),
            ]
        else:
            fn = getattr(dedup, op)
            metrics = [
                F.count(F.lit(1)).alias("n"),
                F.sum("doc_id").alias("s1"),
                F.sum(F.col("doc_id") * F.col("doc_id")).alias("s2"),
            ]

        def run(call_id: str, warmup: bool):
            obs = Observation(op)
            self.build_and_run(
                "operators", call_id,
                lambda: fn(read_parquet(self.spark, self.docs_path)),
                lambda df: _noop(df.observe(obs, *metrics)),
            )
            return (op, obs.get)

        return run

    def traced_extras(self) -> dict:
        """LSH precision: verified pairs over the candidate pairs the
        public ``lsh_candidate_pairs`` emits (minhash_dedup defaults)."""
        from convert_parquet_to_csv_spark.functions.text import shingles
        from convert_parquet_to_csv_spark.operators.dedup import (
            lsh_candidate_pairs,
            minhash_signatures,
        )
        from convert_parquet_to_csv_spark.sources import read_parquet

        docs = read_parquet(self.spark, self.docs_path)
        cand = lsh_candidate_pairs(minhash_signatures(docs)).persist()
        sets = docs.select("doc_id", shingles("text", 3).alias("sh"))
        inter = F.size(F.array_intersect("sa", "sb"))
        verified = (
            cand.join(sets.toDF("id_a", "sa"), "id_a")
            .join(sets.toDF("id_b", "sb"), "id_b")
            .filter(inter / (F.size("sa") + F.size("sb") - inter) >= 0.5)
            .count()
        )
        candidates = cand.count()
        self.spark.catalog.clearCache()
        return {"lsh_pair_precision": verified / candidates if candidates else 0.0,
                "candidate_pairs": candidates, "verified_pairs": verified}

    def _check_operator(self, result, warmup: bool) -> dict:
        op, got = result
        self.spark.catalog.clearCache()
        got = tuple(int(v) for v in got.values())
        if self.corrupt:
            got = (got[0] - 1, *got[1:])
        if op == "remove_duplicated_spans":
            n, kept, removed, hot_kept = got
            if n != self.n_docs or kept + removed != self.n_tokens or hot_kept:
                raise CheckFailed(
                    f"{op}: docs {n}/{self.n_docs}, kept+removed "
                    f"{kept + removed}/{self.n_tokens}, hot cluster kept {hot_kept}"
                )
        elif got != self.expect[op]:
            raise CheckFailed(
                f"{op}: survivors {got} != planted-truth survivors {self.expect[op]}"
            )
        if self.first_digest.setdefault(op, got) != got:
            raise CheckFailed(f"{op}: survivor set changed between calls")
        return {}


WORKLOADS: dict[str, type[Workload]] = {
    w.name: w for w in (ConvertSweep, AnalyticsDedup)
}


def cpu_steal_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine so far."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def run_call(wl: Workload, call: Call, call_id: str, warmup: bool) -> Record:
    """Time one call from outside, then check its output untimed."""
    with wl.tracer.span(f"{call.layer}.{call.group}"):
        steal0 = cpu_steal_ticks()
        t0 = time.perf_counter()
        try:
            result = call.run(call_id, warmup)
            error = None
        except Exception as ex:  # noqa: BLE001 — a failed call is counted
            result, error = None, f"{type(ex).__name__}: {ex}"
        wall = time.perf_counter() - t0
        steal1 = cpu_steal_ticks()
    wl.untag()
    rec = Record(call.name, call.layer, call.group, call.size, call.latency,
                 wall, error is None, error,
                 steal=(steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]))
    if error is None:
        try:
            rec.extra = call.check(result, warmup)
        except Exception as ex:  # noqa: BLE001 — a failed check is counted
            rec.ok, rec.error = False, f"{type(ex).__name__}: {ex}"
    return rec
