"""Seeded workload inputs, written with pyarrow before any JVM starts.

Every input derives from the sf0.01 tables under ``perfbench/data`` and
the seed alone, so one seed always gives byte-identical inputs.  The
``pipelines`` workload gets one input set per part:

* ``train``    — lineitem rows whose order is kept by an md5(seed|l_orderkey)
  draw (~90% of orders), plus ``part`` unchanged;
* ``curation`` — documents kept by an md5(seed|doc_id) draw (~90%);
* ``stream``   — all documents, cut into waves in md5(seed|doc_id) order.

The ``catalog`` workload reads the sf0.01 tables unchanged (the seed only
shuffles the query order, see ``catalog_order``).

Each table stays one parquet file with one row group, the shape the
testdata has, so scan-parallelism decisions see what they see today.
"""

from __future__ import annotations

import hashlib
import os
import random

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
KEEP_FRAC = 0.9
STREAM_WAVES = 12


def unit_draw(seed: int, key: int) -> float:
    """Uniform [0, 1) draw from md5(seed|key): stable across processes."""
    h = hashlib.md5(f"{seed}|{key}".encode()).hexdigest()
    return int(h[:12], 16) / float(1 << 48)


def read_source(table: str) -> pa.Table:
    return pq.read_table(os.path.join(DATA_DIR, f"{table}.parquet"))


def write_table(table: pa.Table, path: str) -> None:
    """One file, one row group (the testdata shape)."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def sample_by_key(table: pa.Table, key: str, seed: int, frac: float = KEEP_FRAC) -> pa.Table:
    keys = table.column(key).to_pylist()
    keep = {k for k in set(keys) if unit_draw(seed, k) < frac}
    mask = pa.array([k in keep for k in keys])
    return table.filter(mask)


def train_inputs(out_dir: str, seed: int) -> dict:
    li = sample_by_key(read_source("lineitem"), "l_orderkey", seed)
    write_table(li, os.path.join(out_dir, "lineitem.parquet"))
    write_table(read_source("part"), os.path.join(out_dir, "part.parquet"))
    return {"sf_dir": out_dir, "lineitem_rows": li.num_rows,
            "orders": len(pc.unique(li.column("l_orderkey")))}


def curation_inputs(out_dir: str, seed: int) -> dict:
    docs = sample_by_key(read_source("documents"), "doc_id", seed)
    write_table(docs, os.path.join(out_dir, "documents.parquet"))
    return {"sf_dir": out_dir, "docs": docs.num_rows}


def stream_waves(seed: int, n_waves: int = STREAM_WAVES) -> list[pa.Table]:
    """All documents in md5(seed|doc_id) arrival order, cut into waves."""
    docs = read_source("documents").select(["doc_id", "text", "lang"])
    ids = docs.column("doc_id").to_pylist()
    order = sorted(range(len(ids)), key=lambda r: (unit_draw(seed, ids[r]), ids[r]))
    docs = docs.take(pa.array(order))
    n = docs.num_rows
    return [docs.slice(k * n // n_waves, (k + 1) * n // n_waves - k * n // n_waves)
            for k in range(n_waves)]


def stream_inputs(out_dir: str, seed: int) -> dict:
    """Wave files are staged beside (not in) the landing directory; the
    workload lands each one by atomic rename right before its drain."""
    waves = []
    for k, wave in enumerate(stream_waves(seed)):
        path = os.path.join(out_dir, "waves", f"wave_{k:03d}.parquet")
        write_table(wave, path)
        waves.append({"path": path, "ids": wave.column("doc_id").to_pylist()})
    landing = os.path.join(out_dir, "landing")
    os.makedirs(landing, exist_ok=True)
    return {"landing": landing, "waves": waves}


def catalog_order(names: list[str], seed: int) -> list[str]:
    order = list(names)
    random.Random(seed).shuffle(order)
    return order


def catalog_inputs(out_dir: str, seed: int) -> dict:
    return {"sf_dir": DATA_DIR}


def pipelines_inputs(out_dir: str, seed: int) -> dict:
    return {
        "train": train_inputs(os.path.join(out_dir, "train"), seed),
        "curation": curation_inputs(os.path.join(out_dir, "curation"), seed),
        "stream": stream_inputs(os.path.join(out_dir, "stream"), seed),
    }


MAKERS = {"pipelines": pipelines_inputs, "catalog": catalog_inputs}


def make_inputs(workload: str, out_dir: str, seed: int) -> dict:
    return MAKERS[workload](out_dir, seed)
