"""Seeded input generation for the benchmark workloads.

Every table is drawn with numpy from one ``numpy.random.default_rng(seed)``
stream and written as a single parquet file, so Spark (the program under
test) and DuckDB (the independent oracle) read byte-identical inputs. The
same seed always gives the same tables; ``fingerprint`` hashes the arrays
so the self-test can prove it.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass
from typing import Dict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes. Chosen so one run (JVM start, three set-ups, a warm-up session,
# the timed session and the checks) stays near 40 s on a 4-core host;
# NOTES.md records the probe timings behind them.
BOUND_ROWS = 150_000
BOUND_IDS = 3_000
BOUND_HOT_IDS = 4
BOUND_HOT_SHARE = 0.04
BOUND_PARTITIONS = 120          # candidate keys; 0..99 are public
BOUND_PUBLIC = 100

WIDE_PARTITIONS = 40_000        # candidate partitions, ~4 rows each
WIDE_ROWS_PER_PARTITION = 4

SESSION_CUSTOMERS = 1_500
SESSION_ORDERS = 15_000
SESSION_LINES_PER_ORDER = 4

STORE_DOCS = 600
STORE_VECTORS = 600
STORE_DIM = 16


@dataclass
class Inputs:
    """Paths of the generated parquet tables plus their fingerprints."""

    tables: Dict[str, str]
    fingerprints: Dict[str, str]
    rows: Dict[str, int]


def _write(out_dir: str, name: str, cols: Dict[str, np.ndarray],
           inputs: Inputs) -> None:
    """A 2-D array becomes a list<float> column (one vector per row)."""
    table = pa.table({
        k: (pa.array(list(v), type=pa.list_(pa.float32())) if v.ndim == 2
            else v) for k, v in cols.items()})
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(table, path)
    inputs.tables[name] = path
    inputs.fingerprints[name] = fingerprint(cols)
    inputs.rows[name] = table.num_rows


def fingerprint(cols: Dict[str, np.ndarray]) -> str:
    h = hashlib.sha256()
    for name in sorted(cols):
        arr = cols[name]
        h.update(name.encode())
        if arr.dtype == object:
            for v in arr:
                h.update(repr(v).encode())
        else:
            h.update(np.ascontiguousarray(arr).tobytes())
    return h.hexdigest()


def _bound_large(rng: np.random.Generator) -> Dict[str, np.ndarray]:
    """Skewed table: ~50 rows per ordinary id, a few hot ids holding a
    share of all rows, zipf-like partition popularity."""
    n = BOUND_ROWS
    pid = rng.integers(BOUND_HOT_IDS, BOUND_IDS + BOUND_HOT_IDS, n)
    hot = rng.random(n) < BOUND_HOT_SHARE
    pid[hot] = rng.integers(0, BOUND_HOT_IDS, int(hot.sum()))
    pk = (rng.zipf(1.15, n) - 1) % BOUND_PARTITIONS
    value = np.round(rng.lognormal(2.0, 1.0, n), 3)
    return {"pid": pid.astype(np.int64), "pk": pk.astype(np.int64),
            "value": value}


def _release_wide(rng: np.random.Generator) -> Dict[str, np.ndarray]:
    """Many narrow partitions: rows land on ~WIDE_PARTITIONS keys
    (Poisson(4) rows each); every privacy id owns one row, so caps of
    L0 = Linf = 1 never bind and the exact bounded aggregate is the plain
    one."""
    n = WIDE_PARTITIONS * WIDE_ROWS_PER_PARTITION
    pk = rng.integers(0, WIDE_PARTITIONS, n)
    pid = np.arange(n)
    value = np.round(rng.uniform(0.0, 10.0, n), 3)
    return {"pid": pid.astype(np.int64), "pk": pk.astype(np.int64),
            "value": value}


def _session(rng: np.random.Generator):
    n_o = SESSION_ORDERS
    cust = rng.integers(0, SESSION_CUSTOMERS, n_o)
    orders = {
        "o_orderkey": np.arange(n_o, dtype=np.int64),
        "o_custkey": cust.astype(np.int64),
        "o_totalprice": np.round(rng.gamma(2.0, 500.0, n_o), 2),
        "o_orderstatus": rng.choice(np.array(["F", "O", "P"], dtype=object),
                                    n_o),
        "o_orderpriority": rng.choice(
            np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                      "5-LOW"], dtype=object), n_o),
        "o_month": rng.integers(1, 13, n_o).astype(np.int64),
    }
    lines = rng.integers(1, 2 * SESSION_LINES_PER_ORDER, n_o)
    okey = np.repeat(np.arange(n_o, dtype=np.int64), lines)
    n_l = len(okey)
    lineitem = {
        "l_orderkey": okey,
        "l_custkey": cust[okey].astype(np.int64),
        "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 10_000.0, n_l), 2),
        "l_discount": np.round(rng.integers(0, 11, n_l) / 100.0, 2),
        "l_shipmode": rng.choice(
            np.array(["AIR", "MAIL", "RAIL", "SHIP", "TRUCK"], dtype=object),
            n_l),
    }
    return orders, lineitem


_WORDS = np.array([f"w{i}" for i in range(400)], dtype=object)


def _store(rng: np.random.Generator):
    """Documents where about a third are light edits of an earlier
    document (near-duplicates), plus clustered embedding vectors."""
    texts = []
    for i in range(STORE_DOCS):
        if i >= 20 and rng.random() < 0.35:
            base = texts[int(rng.integers(0, i))].split(" ")
            j = int(rng.integers(0, len(base)))
            base[j] = str(rng.choice(_WORDS))
            texts.append(" ".join(base))
        else:
            texts.append(" ".join(rng.choice(_WORDS,
                                             int(rng.integers(20, 40)))))
    documents = {
        "doc_id": np.arange(STORE_DOCS, dtype=np.int64),
        "text": np.array(texts, dtype=object),
    }
    centers = rng.normal(0.0, 1.0, (8, STORE_DIM))
    which = rng.integers(0, 8, STORE_VECTORS)
    vecs = (centers[which] + 0.3 * rng.normal(0.0, 1.0,
                                              (STORE_VECTORS, STORE_DIM)))
    embeddings = {
        "vec_id": np.arange(STORE_VECTORS, dtype=np.int64),
        "embedding": vecs.astype(np.float32),
    }
    return documents, embeddings


def generate(workload: str, seed: int, out_dir: str) -> Inputs:
    """Write the workload's tables under ``out_dir``; deterministic in
    ``seed``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    inputs = Inputs({}, {}, {})
    if workload == "release_large":
        _write(out_dir, "events", _bound_large(rng), inputs)
        _write(out_dir, "visits", _release_wide(rng), inputs)
    elif workload == "analyst_store":
        orders, lineitem = _session(rng)
        _write(out_dir, "orders", orders, inputs)
        _write(out_dir, "lineitem", lineitem, inputs)
        documents, embeddings = _store(rng)
        _write(out_dir, "documents", documents, inputs)
        _write(out_dir, "embeddings", embeddings, inputs)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    return inputs
