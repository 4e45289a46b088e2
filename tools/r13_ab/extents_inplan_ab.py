"""A/B: extents hot-count reduce-width lever IN-PLAN vs the scoped
session-conf recipe (VERDICT r12 item 1).

Variants, interleaved within each round (session conf stays at the
default 32 except inside the scoped context manager):

  scoped128   with scoped_shuffle_partitions(spark, 128): default op
              (the r12 recipe — 92.6 s at 2M on r12's box)
  count_only  count_partitions=128 alone under conf 32 — attributes
              how much of the win is the hot-count aggregate's width

A third arm also widened the two window exchanges (``sort_partitions``);
it measured 85.6 s against count_only's 83.6 s at 2M docs, and the knob
was deleted (OPTIMIZATION_r13.md §1).

Usage: python tools/r13_ab/extents_inplan_ab.py [n_docs] [rounds]
"""

import json
import sys
import time

sys.path.insert(0, "/root/repo")
import importlib.util

spec = importlib.util.spec_from_file_location(
    "scale_curve", "/root/repo/tools/scale_curve.py"
)
sc = importlib.util.module_from_spec(spec)
spec.loader.exec_module(sc)

from convert_parquet_to_csv_spark.operators.dedup import (  # noqa: E402
    maximal_duplicated_extents,
)
from convert_parquet_to_csv_spark.session import (  # noqa: E402
    get_spark,
    pin_runtime_conf,
    scoped_shuffle_partitions,
)
from convert_parquet_to_csv_spark.sources.io_ops import read_parquet  # noqa: E402

N_DOCS = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
ROUNDS = int(sys.argv[2]) if len(sys.argv) > 2 else 2


def main() -> None:
    spark = get_spark(
        app_name="extents-inplan-ab",
        master="local[32]",
        extra_conf={"spark.driver.memory": "16g"},
    )
    pin_runtime_conf(spark)
    path = sc._build_corpus(spark, N_DOCS)
    docs = read_parquet(spark, path)
    print("corpus rows:", docs.count(), file=sys.stderr)

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    def run_scoped128():
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        with scoped_shuffle_partitions(spark, 128):
            noop(maximal_duplicated_extents(docs))
        return time.perf_counter() - t0

    def run_count_only():
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        noop(maximal_duplicated_extents(docs, count_partitions=128))
        return time.perf_counter() - t0

    res = {"scoped128": [], "count_only128": []}
    for _ in range(ROUNDS):
        res["scoped128"].append(round(run_scoped128(), 2))
        res["count_only128"].append(round(run_count_only(), 2))
        print(json.dumps(res), file=sys.stderr)
    print(
        json.dumps(
            {"n_docs": N_DOCS, "min": {k: min(v) for k, v in res.items()}, "samples": res}
        )
    )


if __name__ == "__main__":
    main()
