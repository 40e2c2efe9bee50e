"""Seeded synthetic inputs for the benchmark workloads (pyarrow + numpy).

Every table is a function of the seed alone, written as parquet with one
row group per file, and cached under ``<cache>/inputs/v<generator>-s<seed>/`` so a
repeated seed skips generation.  A ``DONE`` marker is written last; a
directory without it is regenerated.

Shapes follow the TPC-H-style star schema and the document/embedding
tables the package's operators are built for, scaled down so that one
operation takes a few seconds on a small machine.
"""

from __future__ import annotations

import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_VERSION = 5

LINEITEM_ROWS = 24_000
ORDER_KEYS = 6_000  # key range of l_orderkey
NATION_ROWS = 25

DOC_BATCHES = 8
DOCS_PER_BATCH = 500
EMBEDDING_ROWS = 2_000
EMBEDDING_DIM = 32

_EPOCH_1992_US = 694_224_000 * 1_000_000
_DAY_US = 86_400 * 1_000_000


def _write(table: pa.Table, path: Path) -> None:
    # one row group per file, like the files the profiler is tuned on
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _with_nulls(rng: np.random.Generator, values: np.ndarray,
                share: float) -> pa.Array:
    return pa.array(values, mask=rng.random(len(values)) < share)


def _catalog(rng: np.random.Generator, out: Path) -> None:
    n = NATION_ROWS
    _write(pa.table({
        "n_nationkey": pa.array(np.arange(n, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i:02d}" for i in range(n)]),
        "n_regionkey": pa.array(rng.integers(0, 5, n).astype(np.int32)),
        "n_comment": pa.array(["constant"] * n),
    }), out / "nation.parquet")

    n = LINEITEM_ROWS
    qty = rng.integers(1, 51, n).astype(np.float64)
    _write(pa.table({
        "l_orderkey": pa.array(np.sort(rng.integers(1, ORDER_KEYS + 1, n))
                               * 4),
        "l_quantity": pa.array(qty),
        "l_extendedprice": _with_nulls(
            rng, np.round(qty * rng.uniform(900.0, 2000.0, n), 2), 0.02),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
        "l_shipdate": pa.array(
            _EPOCH_1992_US + rng.integers(0, 2500, n) * _DAY_US,
            type=pa.timestamp("us")),
    }), out / "lineitem.parquet")


def _vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(2, 10, size)
    return ["".join(rng.choice(letters, k)) for k in lens]


def _documents(rng: np.random.Generator, out: Path) -> None:
    """``DOC_BATCHES`` batch files of ``DOCS_PER_BATCH`` documents each.

    About 5% of a batch are exact copies of an earlier document of the
    same batch and 5% are copies with one word replaced, so both the
    exact and the near-duplicate operators have something to find.
    """
    vocab = np.array(_vocabulary(rng, 3_000))
    # Zipf-like word frequencies, sampled by inverting the CDF
    cdf = np.cumsum(1.0 / np.arange(1, len(vocab) + 1))
    cdf /= cdf[-1]
    doc_id = 0
    for b in range(DOC_BATCHES):
        lens = rng.integers(20, 80, DOCS_PER_BATCH)
        words = vocab[np.minimum(np.searchsorted(cdf, rng.random(lens.sum())),
                                 len(vocab) - 1)]
        ends = np.cumsum(lens)
        texts: list[str] = []
        for i in range(DOCS_PER_BATCH):
            roll = rng.random()
            if i > 10 and roll < 0.05:
                texts.append(texts[int(rng.integers(0, i))])
            elif i > 10 and roll < 0.10:
                copy = texts[int(rng.integers(0, i))].split(" ")
                copy[int(rng.integers(0, len(copy)))] = str(
                    rng.choice(vocab))
                texts.append(" ".join(copy))
            else:
                own = words[ends[i] - lens[i]:ends[i]]
                texts.append(" ".join(own).capitalize() + ".")
        n = len(texts)
        _write(pa.table({
            "doc_id": pa.array(np.arange(doc_id, doc_id + n,
                                         dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(["en", "de", "fr"], n,
                                        p=[0.7, 0.2, 0.1])),
            "source": pa.array(rng.choice(["web", "books", "code", "news"],
                                          n)),
            "n_chars": pa.array(np.array([len(t) for t in texts],
                                         dtype=np.int64)),
            "score": _with_nulls(rng, rng.beta(2.0, 5.0, n), 0.1),
        }), out / f"documents_b{b}.parquet")
        doc_id += n


def _embeddings(rng: np.random.Generator, out: Path) -> None:
    n, d = EMBEDDING_ROWS, EMBEDDING_DIM
    centers = rng.normal(0.0, 1.0, (16, d))
    label = rng.integers(0, 16, n)
    vecs = (centers[label] + rng.normal(0.0, 0.3, (n, d))).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    }), out / "embeddings.parquet")


def ensure_inputs(cache: Path, seed: int) -> Path:
    """Directory holding every input table for ``seed`` (generated once)."""
    out = cache / "inputs" / f"v{GENERATOR_VERSION}-s{seed}"
    if (out / "DONE").exists():
        return out
    shutil.rmtree(out, ignore_errors=True)
    tmp = out.with_name(out.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    # independent streams per table family: adding a table never
    # changes the others
    catalog_rng, docs_rng, emb_rng = (
        np.random.default_rng([seed, k]) for k in range(3))
    _catalog(catalog_rng, tmp)
    _documents(docs_rng, tmp)
    _embeddings(emb_rng, tmp)
    (tmp / "DONE").write_text("ok\n")
    tmp.rename(out)
    return out
