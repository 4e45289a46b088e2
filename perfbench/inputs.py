"""Seeded benchmark inputs, generated inside the checkout and cached.

Every input is a pure function of ``--seed``: the same seed gives
byte-identical tables. Nothing here is timed.

Fixtures (one cache directory each, keyed by fixture and seed):

- ``tpch``: an sf0.1-shaped star schema (region, nation, customer,
  supplier, part, orders, lineitem of 600k rows, documents of 5k
  rows) with the column names and types of the sf0.1 test fixture.
  The registered TPC-H queries run on it unchanged.
- ``docs``: the dedup corpus. The first ``CORPUS_BASE_DOCS`` of the
  fixture's documents, plus planted near-duplicate clusters (a base
  document and one-token edits of it) and one cluster of
  ``HOT_CLUSTER`` identical documents, more than the LSH
  ``max_bucket`` guard, so the guard has work to do. The ground truth
  is written beside the corpus.
- ``samples``: the conversion inputs, one single-file Parquet sample
  of the tpch lineitem per row count, shaped like the samples
  ``pipeline.extract_dataset`` writes; the largest count is also
  written as a multi-file input.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "de", "fr", "es", "zh"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

N_ORDERS = 150_000
N_LINEITEM = 600_000
N_CUSTOMER = 15_000
N_SUPPLIER = 1_000
N_PART = 20_000
N_DOCS = 5_000

CORPUS_BASE_DOCS = 2_000
NEAR_DUP_CLUSTERS = 60
HOT_CLUSTER = 1_050  # > operators.dedup default max_bucket (1000)

# Row counts of the conversion samples: two orders of magnitude. The
# largest is also written as MULTI_FILES files.
SAMPLE_SIZES = (500, 5_000, 50_000)
MULTI_FILES = 4

_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_DAY = np.timedelta64(86_400_000_000, "us")

# How many seeds' inputs a cache directory keeps; older ones are
# removed so repeated runs with fresh seeds stay within disk.
KEEP_SEEDS = 3


def cache_root() -> str:
    return os.path.join(os.getcwd(), ".perfbench", "inputs")


def _fixture_dir(fixture: str, seed: int) -> str:
    return os.path.join(cache_root(), fixture, f"seed-{seed}")


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_DONE"))


def _prune(fixture: str, keep: str) -> None:
    base = os.path.join(cache_root(), fixture)
    dirs = sorted(
        (os.path.join(base, d) for d in os.listdir(base)),
        key=os.path.getmtime,
    )
    for d in dirs[: max(0, len(dirs) - KEEP_SEEDS)]:
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _days(rng: np.random.Generator, n: int, span: int) -> np.ndarray:
    return _EPOCH_1995 + rng.integers(0, span, n) * _DAY


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _documents(rng: np.random.Generator) -> dict[str, list]:
    lengths = rng.integers(10, 101, N_DOCS)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    texts, at = [], 0
    for n in lengths:
        texts.append(" ".join(VOCAB[w] for w in words[at : at + n]))
        at += n
    return {
        "doc_id": list(range(N_DOCS)),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), N_DOCS)],
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": [len(t) for t in texts],
    }


def _tpch(seed: int, out: str) -> None:
    rng = np.random.default_rng([seed, 1])
    _write(
        pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": REGIONS,
            }
        ),
        os.path.join(out, "region.parquet"),
    )
    _write(
        pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        os.path.join(out, "nation.parquet"),
    )
    _write(
        pa.table(
            {
                "c_custkey": pa.array(range(N_CUSTOMER), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
                "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
                "c_acctbal": _cents(rng, -999.99, 9999.99, N_CUSTOMER),
                "c_mktsegment": np.array(SEGMENTS)[
                    rng.integers(0, 5, N_CUSTOMER)
                ],
            }
        ),
        os.path.join(out, "customer.parquet"),
    )
    _write(
        pa.table(
            {
                "s_suppkey": pa.array(range(N_SUPPLIER), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
                "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
                "s_acctbal": _cents(rng, -999.99, 9999.99, N_SUPPLIER),
            }
        ),
        os.path.join(out, "supplier.parquet"),
    )
    adjectives = ["large", "hot", "blue", "old", "cold", "small"]
    nouns = ["ring", "bolt", "plate", "gear", "pipe"]
    _write(
        pa.table(
            {
                "p_partkey": pa.array(range(N_PART), pa.int64()),
                "p_name": [
                    f"{adjectives[a]} {nouns[b]}"
                    for a, b in zip(
                        rng.integers(0, 6, N_PART), rng.integers(0, 5, N_PART)
                    )
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
                "p_type": np.array(
                    ["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO"]
                )[rng.integers(0, 5, N_PART)],
                "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
                "p_retailprice": np.round(900 + np.arange(N_PART) * 0.1, 2),
            }
        ),
        os.path.join(out, "part.parquet"),
    )
    _write(
        pa.table(
            {
                "o_orderkey": pa.array(range(N_ORDERS), pa.int64()),
                "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS),
                "o_orderstatus": np.array(["F", "O", "P"])[
                    rng.integers(0, 3, N_ORDERS)
                ],
                "o_totalprice": _cents(rng, 1000, 500_000, N_ORDERS),
                "o_orderdate": _days(rng, N_ORDERS, 2_500),
                "o_orderpriority": np.array(PRIORITIES)[
                    rng.integers(0, 5, N_ORDERS)
                ],
            }
        ),
        os.path.join(out, "orders.parquet"),
    )
    n = N_LINEITEM
    _write(
        pa.table(
            {
                "l_orderkey": rng.integers(0, N_ORDERS, n),
                "l_partkey": rng.integers(0, N_PART, n),
                "l_suppkey": rng.integers(0, N_SUPPLIER, n),
                "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
                "l_quantity": rng.integers(1, 51, n).astype(np.float64),
                "l_extendedprice": _cents(rng, 900, 105_000, n),
                "l_discount": rng.integers(0, 11, n) / 100.0,
                "l_tax": rng.integers(0, 9, n) / 100.0,
                "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
                "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
                "l_shipdate": _days(rng, n, 2_500),
            }
        ),
        os.path.join(out, "lineitem.parquet"),
    )
    _write(
        pa.table(_documents(rng)).cast(
            pa.schema(
                [
                    ("doc_id", pa.int64()),
                    ("text", pa.string()),
                    ("lang", pa.string()),
                    ("source", pa.string()),
                    ("n_chars", pa.int64()),
                ]
            )
        ),
        os.path.join(out, "documents.parquet"),
    )


def tpch(seed: int) -> str:
    """Directory of the seeded sf0.1-shaped tables (built on first use)."""
    out = _fixture_dir("tpch", seed)
    if not _done(out):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        _tpch(seed, out)
        open(os.path.join(out, "_DONE"), "w").close()
        _prune("tpch", out)
    return out


def _docs(seed: int, out: str) -> None:
    base = pq.read_table(os.path.join(tpch(seed), "documents.parquet")).to_pydict()
    rng = np.random.default_rng([seed, 2])
    ids = base["doc_id"][:CORPUS_BASE_DOCS]
    texts = base["text"][:CORPUS_BASE_DOCS]
    next_id = len(ids)
    # Near-duplicate clusters: a long base document (its id is the
    # cluster minimum) plus 1-3 one-token edits with larger ids. One
    # edit in >= 80 tokens keeps 3-shingle Jaccard >= 0.93, far above
    # the 0.5 threshold, and band recall above 1 - 1e-4 per pair.
    long_ids = [i for i, t in zip(ids, texts) if len(t.split()) >= 80]
    clusters = []
    for base_id in rng.choice(long_ids, NEAR_DUP_CLUSTERS, replace=False):
        words = texts[int(base_id)].split()
        members = [int(base_id)]
        for _ in range(int(rng.integers(1, 4))):
            edit = list(words)
            edit[int(rng.integers(0, len(edit)))] = f"edit{next_id}"
            ids.append(next_id)
            texts.append(" ".join(edit))
            members.append(next_id)
            next_id += 1
        clusters.append(members)
    hot_text = " ".join(f"{VOCAB[w]}hot" for w in rng.integers(0, len(VOCAB), 60))
    hot = list(range(next_id, next_id + HOT_CLUSTER))
    ids += hot
    texts += [hot_text] * HOT_CLUSTER
    n = len(ids)
    _write(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": texts,
                "lang": ["en"] * n,
                "source": [f"src{i % 20}" for i in ids],
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        os.path.join(out, "documents.parquet"),
    )
    truth = {
        "n_docs": n,
        "n_tokens": sum(len(t.split()) for t in texts),
        "near_dup_clusters": clusters,
        "hot_cluster": [hot[0], hot[-1]],
    }
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f)


def docs(seed: int) -> str:
    """Directory holding the dedup corpus as ``documents.parquet`` and
    its planted-cluster ground truth as ``truth.json``."""
    out = _fixture_dir("docs", seed)
    if not _done(out):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        _docs(seed, out)
        open(os.path.join(out, "_DONE"), "w").close()
        _prune("docs", out)
    return out


def samples(seed: int) -> str:
    """Directory of the conversion inputs plus ``inputs.json``, which
    lists each input's stem, rows, bytes, files and row groups.

    Each sample is ``n`` rows drawn without replacement from the seeded
    lineitem, with the ``filename`` provenance column that
    ``pipeline.extract_dataset`` adds, written as one file with one
    row group, as extract_dataset's single-file writer does."""
    out = _fixture_dir("samples", seed)
    if _done(out):
        return out
    shutil.rmtree(out, ignore_errors=True)
    parquet_dir = os.path.join(out, "parquet")
    os.makedirs(parquet_dir)
    table = pq.read_table(os.path.join(tpch(seed), "lineitem.parquet"))
    table = table.append_column(
        "filename", pa.array(["lineitem.parquet"] * table.num_rows)
    )
    rng = np.random.default_rng([seed, 3])
    stems = []
    for n in SAMPLE_SIZES:
        sample = table.take(np.sort(rng.choice(table.num_rows, n, replace=False)))
        stems.append(f"lineitem_{n}")
        pq.write_table(sample, os.path.join(parquet_dir, f"{stems[-1]}.parquet"),
                       row_group_size=n, compression="snappy")
    stems.append(f"lineitem_{n}_multi")
    multi = os.path.join(parquet_dir, f"{stems[-1]}.parquet")
    os.makedirs(multi)
    step = -(-n // MULTI_FILES)
    for i in range(MULTI_FILES):
        pq.write_table(sample.slice(i * step, step),
                       os.path.join(multi, f"part-{i:05d}.parquet"),
                       row_group_size=step, compression="snappy")
    listing = [
        {"stem": stem, **describe(os.path.join(parquet_dir, f"{stem}.parquet"))}
        for stem in stems
    ]
    with open(os.path.join(out, "inputs.json"), "w") as f:
        json.dump(listing, f)
    open(os.path.join(out, "_DONE"), "w").close()
    _prune("samples", out)
    return out


def parquet_files(path: str) -> list[str]:
    """The Parquet files of a single-file or directory input."""
    if os.path.isfile(path):
        return [path]
    return sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
    )


def describe(path: str) -> dict:
    """Rows, bytes, files and row groups of one Parquet file or dir."""
    files = parquet_files(path)
    metas = [pq.ParquetFile(f).metadata for f in files]
    return {
        "rows": sum(m.num_rows for m in metas),
        "bytes": sum(os.path.getsize(f) for f in files),
        "files": len(files),
        "row_groups": sum(m.num_row_groups for m in metas),
    }
