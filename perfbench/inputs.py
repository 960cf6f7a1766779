"""Seeded input generator for the benchmark, cached per seed.

Everything the benchmark reads is made here from ``--seed``: the same seed
gives byte-identical tables, a new seed gives fresh data of the same shape,
so a later speed-up claim can be re-checked on a seed nobody tuned against.
Files live under ``<work>/inputs/seed<N>/`` and are reused by every run with
that seed; generation is never inside a timed window.

Two datasets:

* ``sf`` — three of the engine's driver tables (documents, and the orders
  and lineitem that the graph queries read), with the column names,
  physical types and value domains of its sf0.1 test data, at a chosen
  fraction of sf0.1 rows. The
  documents are 10-100 words from a 31-word vocabulary, and 5% of them are
  a copy of an earlier one plus the token "dup". Row order is a seeded
  shuffle, and each table is one parquet file with a single row group, as
  the engine's test data ships.
* ``music`` — the 7-table music schema from the engine's own
  ``generate_music_dataset`` (500 songs, 100 users, ~3000 ratings).
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Callable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 row counts; customer, supplier and part are key domains only
SF01_ROWS = {"orders": 150_000, "lineitem": 600_000, "documents": 5_000,
             "customer": 15_000, "supplier": 1_000, "part": 20_000}
SF_TABLES = ("orders", "lineitem", "documents")
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
# Share of documents that are a copy of an earlier document plus the token
# "dup": the near-duplicate population the dedup operators must find.
DUP_SHARE = 0.05


_EPOCH = np.datetime64("1970-01-01", "D")


def _days(rng: np.random.Generator, n: int, first: str, last: str) -> pa.Array:
    lo = (np.datetime64(first, "D") - _EPOCH).astype(np.int64)
    hi = (np.datetime64(last, "D") - _EPOCH).astype(np.int64)
    return pa.array((rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.asarray(VOCAB, dtype=object)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def sf_tables(seed: int, fraction: float) -> dict[str, pa.Table]:
    """The tables at ``fraction`` x sf0.1 rows, from one seed."""
    rng = np.random.default_rng(seed)
    no, nl, nd, nc, ns, npart = (max(1, round(r * fraction)) for r in SF01_ROWS.values())
    out = {
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(no), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
                "o_totalprice": _money(rng, no, 1000.0, 500000.0),
                "o_orderdate": _days(rng, no, "1995-01-01", "2001-08-01"),
                "o_orderpriority": _pick(rng, PRIORITIES, no),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
                "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
                "l_extendedprice": _money(rng, nl, 900.0, 105000.0),
                "l_discount": rng.integers(0, 11, nl) / 100.0,
                "l_tax": rng.integers(0, 9, nl) / 100.0,
                "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
                "l_linestatus": _pick(rng, ["F", "O"], nl),
                "l_shipdate": _days(rng, nl, "1995-01-02", "2001-11-04"),
            }
        ),
        "documents": _documents(rng, nd),
    }
    # seeded row-order shuffle: no query may depend on file order
    return {name: t.take(pa.array(rng.permutation(t.num_rows))) for name, t in out.items()}


def cached(work: str, seed: int, kind: str, write: Callable[[str], dict]) -> str:
    """``<work>/inputs/seed<N>/<kind>``, made once by ``write(stage_dir)``
    (which returns the row count of each table it wrote) and then reused."""
    path = os.path.join(work, "inputs", f"seed{seed}", kind)
    if not os.path.exists(os.path.join(path, "_DONE")):
        stage = path + ".stage"
        shutil.rmtree(stage, ignore_errors=True)
        os.makedirs(stage)
        rows = write(stage)
        with open(os.path.join(stage, "_DONE"), "w") as f:
            json.dump({"seed": seed, "kind": kind, "rows": rows}, f)
        shutil.rmtree(path, ignore_errors=True)
        os.replace(stage, path)
    return path


def sf_dir(work: str, seed: int, fraction: float) -> str:
    """Directory of ``<table>.parquet`` files for (seed, fraction)."""

    def write(stage: str) -> dict:
        rows = {}
        for name, table in sf_tables(seed, fraction).items():
            pq.write_table(table, os.path.join(stage, f"{name}.parquet"))
            rows[name] = table.num_rows
        return rows

    return cached(work, seed, f"sf_x{fraction:g}", write)


class _RowCapture:
    """Stands in for a SparkSession so the engine's generate_music_dataset
    hands back its rows and schemas instead of DataFrames."""

    def createDataFrame(self, rows, schema):  # noqa: N802 - SparkSession's name
        return rows, schema


def music_dir(work: str, seed: int) -> str:
    """The engine's seeded music corpus, one ``<table>.parquet`` per table,
    written with pyarrow: no Spark session is needed to make it."""
    from music_database_spark.sources.fixtures import generate_music_dataset
    from pyspark.sql.pandas.types import to_arrow_schema

    def write(stage: str) -> dict:
        rows = {}
        tables = generate_music_dataset(_RowCapture(), seed=seed, register=False)
        for name, (data, schema) in tables.items():
            arrow = to_arrow_schema(schema)
            cols = [list(c) for c in zip(*data)] if data else [[] for _ in arrow]
            pq.write_table(pa.table(cols, schema=arrow), os.path.join(stage, f"{name}.parquet"))
            rows[name] = len(data)
        return rows

    return cached(work, seed, "music", write)


def describe(path: str) -> dict:
    """Seed, row counts and on-disk bytes of a generated dataset."""
    with open(os.path.join(path, "_DONE")) as f:
        meta = json.load(f)
    meta["bytes"] = sum(
        os.path.getsize(os.path.join(root, fn)) for root, _d, fns in os.walk(path) for fn in fns
    )
    return meta
