"""Synthetic inputs in the shape of the TPC-H-ish test tables.

The benchmark may not read anything outside its checkout, so it generates
the four source tables the workloads need:

* ``customer`` (``c_custkey``, ``c_mktsegment``) and ``orders``
  (``o_orderkey``, ``o_custkey``, ``o_orderdate``) at the sf0.1 shape of the
  test data: 15,000 customers over the five market segments and 150,000
  orders dated uniformly over 1995-01-01 .. 2001-08-01;
* ``documents`` (``doc_id``, ``text``) and ``embeddings`` (``vec_id``,
  ``embedding`` float[64], ``label``): words from a small vocabulary, with
  one doc in twenty a one-word edit of an earlier doc so the near-dup
  structures have replica groups, and unit vectors around ten centres.

The tables are fixed, like the test data they stand in for: they come from
one generator seed, ``DATA_SEED``. The workload seed picks only what a
workload does with them (the segment, the changed docs), so a run's work
does not swing with a freshly drawn corpus. The retention-domain
``person``/``encounter`` tables are derived from these by ``sources.tpch``
inside Spark, exactly as the package derives them from the real test data.
"""

from __future__ import annotations

import os
from datetime import date

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
FIRST_DAY = date(1995, 1, 1)
LAST_DAY = date(2001, 8, 1)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMB_DIM = 64
EMB_CENTRES = 10
DATA_SEED = 20010801


def sizes(sf: float) -> dict[str, int]:
    """Row counts at scale factor ``sf`` (the test data's ratios)."""
    return {
        "customer": max(150, int(round(150_000 * sf))),
        "orders": max(1_500, int(round(1_500_000 * sf))),
        "embeddings": max(40, int(round(20_000 * sf))),
    }


def _write(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path


def write_retention_sources(out_dir: str, sf: float) -> dict[str, str]:
    """customer + orders parquet; returns {name: path}."""
    rng = np.random.default_rng([DATA_SEED, 1])
    n = sizes(sf)
    custkey = np.arange(n["customer"], dtype=np.int64)
    segment = rng.integers(0, len(SEGMENTS), n["customer"])
    customer = pa.table(
        {
            "c_custkey": custkey,
            "c_mktsegment": pa.array([SEGMENTS[s] for s in segment]),
        }
    )
    n_days = (LAST_DAY - FIRST_DAY).days + 1
    day0 = np.datetime64(FIRST_DAY.isoformat(), "D")
    days = day0 + rng.integers(0, n_days, n["orders"]).astype("timedelta64[D]")
    orders = pa.table(
        {
            "o_orderkey": np.arange(n["orders"], dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], n["orders"]).astype(np.int64),
            "o_orderdate": pa.array(days.astype("datetime64[us]"), pa.timestamp("us")),
        }
    )
    return {
        "customer": _write(customer, f"{out_dir}/customer.parquet"),
        "orders": _write(orders, f"{out_dir}/orders.parquet"),
    }


def write_doc_sources(out_dir: str, sf: float) -> dict[str, str]:
    """documents + embeddings parquet; the two share the id space, so their
    join is one row per embedding."""
    rng = np.random.default_rng([DATA_SEED, 2])
    n_docs = sizes(sf)["embeddings"]
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            length = int(rng.integers(12, 90))
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), length)]
        texts.append(" ".join(words))
    ids = np.arange(n_docs, dtype=np.int64)
    documents = pa.table({"doc_id": ids, "text": pa.array(texts)})

    centres = rng.normal(size=(EMB_CENTRES, EMB_DIM))
    label = rng.integers(0, EMB_CENTRES, n_docs)
    vecs = centres[label] + 0.6 * rng.normal(size=(n_docs, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table(
        {
            "vec_id": ids,
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": label.astype(np.int32),
        }
    )
    return {
        "documents": _write(documents, f"{out_dir}/documents.parquet"),
        "embeddings": _write(embeddings, f"{out_dir}/embeddings.parquet"),
    }
