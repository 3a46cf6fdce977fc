"""Seeded input generation for the benchmark.

The engine reads its parquet tables from one directory (TESTDATA.md).
This module synthesises the five that the benchmark's queries read --
``part lineitem events documents embeddings``, the first two with only
the columns those queries use -- then replicates them the way
``tools/scale_stress.py`` does:

- copy ``k`` offsets every key column by ``k * OFFSET``;
- every document of copy ``k`` gets a per-copy marker token, so each
  near-duplicate cluster of the base corpus becomes a ``copies``-times
  larger near-duplicate cluster;
- embeddings are copied unchanged apart from ``vec_id``, which makes
  identical-vector clusters.

Embeddings are unit vectors scattered around one centre per label (the
shipped ones are isotropic noise, on which approximate search has no
neighbourhoods to find). Each document's ``source`` cycles with its
``doc_id`` through ``N_SOURCES`` values, so the p1 link-prediction
edges ``(i, i + 1)`` and ``(i, i + 2)`` never share a source and all
their labels are 0 (see check.py). The base tables come from a fixed structure seed, so sizes and
cluster structure never depend on the run seed. The run seed changes
only the row order, where each table is split between its two files,
and the marker token.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STRUCTURE_SEED = 20240601
OFFSET = 10_000_000
TABLES = ("part", "lineitem", "events", "documents", "embeddings")

VOCAB = (
    "vector batch part value a slow scan merge sort hash table join fast column key "
    "spark agg the line order data small customer query window big stream group row filter"
).split()
LANGS = ("en", "es", "zh", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
N_SOURCES = 20
EMB_DIM = 64
N_LABELS = 10
EMB_NOISE = 0.15
DUP_SHARE = 0.05

_DAY_US = 86_400 * 1_000_000
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def base_tables(sizes: dict[str, int]) -> dict[str, pa.Table]:
    """The unreplicated tables, a pure function of ``sizes``."""
    rng = np.random.default_rng(STRUCTURE_SEED)
    n_part, n_ord, n_li = sizes["part"], sizes["orders"], sizes["lineitem"]
    n_ev, n_users = sizes["events"], sizes["users"]
    n_doc, n_emb = sizes["documents"], sizes["embeddings"]

    out: dict[str, pa.Table] = {}
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        }
    )
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts(_EPOCH_2024 + np.sort(rng.integers(0, 30 * _DAY_US, n_ev))),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
            "value": np.round(rng.uniform(0.01, 490.0, n_ev), 2),
            "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)],
        }
    )
    texts = [
        " ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), rng.integers(10, 100)))
        for _ in range(n_doc)
    ]
    # Near-duplicates: a share of documents repeat an earlier one plus a token.
    for i in np.flatnonzero(rng.random(n_doc) < DUP_SHARE):
        if i > 0:
            texts[i] = texts[rng.integers(0, i)] + " dup"
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": texts,
            "lang": [LANGS[i] for i in rng.choice(5, n_doc, p=LANG_P)],
            "source": [f"src{i % N_SOURCES}" for i in range(n_doc)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    # Unit vectors around one centre per label, so nearest neighbours share
    # a label and approximate search has structure to find.
    labels = rng.integers(0, N_LABELS, n_emb)
    centres = rng.standard_normal((N_LABELS, EMB_DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    vecs = centres[labels] + EMB_NOISE * rng.standard_normal((n_emb, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return out


# Key columns offset per copy; ``part`` is a dimension and is not
# replicated (facts grow against fixed dimensions, as in scale_stress).
REPLICATED_KEYS = {
    "lineitem": ("l_orderkey",),
    "events": ("event_id", "user_id"),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}


def marker(seed: int) -> str:
    """Fixed-width per-seed marker prefix: never a vocabulary or stop word."""
    return f"z{seed % 10_000:04d}r"


def replicate(table: pa.Table, name: str, copies: int, seed: int) -> pa.Table:
    keys = REPLICATED_KEYS.get(name)
    if keys is None or copies == 1:
        return table
    parts = []
    for k in range(copies):
        t = table
        for c in keys:
            i = t.schema.get_field_index(c)
            t = t.set_column(i, c, pa.array(t[c].to_numpy() + k * OFFSET, pa.int64()))
        if name == "documents":
            text = [f"{s} {marker(seed)}{k}" for s in t["text"].to_pylist()]
            t = t.set_column(t.schema.get_field_index("text"), "text", pa.array(text))
            t = t.set_column(
                t.schema.get_field_index("n_chars"),
                "n_chars",
                pa.array([len(s) for s in text], pa.int64()),
            )
        parts.append(t)
    return pa.concat_tables(parts)


def write_tables(tables: dict[str, pa.Table], out_dir: str, seed: int) -> None:
    """Each table becomes a directory ``<name>.parquet`` of two files; the
    seed picks the row order and the split point."""
    rng = np.random.default_rng(seed)
    for name in TABLES:
        t = tables[name]
        t = t.take(pa.array(rng.permutation(t.num_rows)))
        cut = int(t.num_rows * rng.uniform(0.4, 0.6))
        d = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(d)
        for j, (lo, hi) in enumerate(((0, cut), (cut, t.num_rows))):
            pq.write_table(t.slice(lo, hi - lo), os.path.join(d, f"part-{j}.parquet"))


def fingerprint(data_dir: str) -> str:
    """SHA-256 over every file's relative path and bytes."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(data_dir):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, data_dir).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def generate(out_dir: str, sizes: dict[str, int], copies: int, seed: int) -> str:
    """Write the replicated tables to ``out_dir`` (replacing it) and
    return their fingerprint."""
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    tables = {n: replicate(t, n, copies, seed) for n, t in base_tables(sizes).items()}
    write_tables(tables, out_dir, seed)
    return fingerprint(out_dir)


def row_counts(data_dir: str) -> dict[str, int]:
    return {
        n: pq.ParquetDataset(os.path.join(data_dir, f"{n}.parquet")).read().num_rows
        for n in TABLES
    }


def main(workload: str, seed: int, out_dir: str) -> dict:
    """Generate (or reuse) the input of ``workload`` for ``seed``."""
    from workloads import WORKLOADS

    wl = WORKLOADS[workload]
    stamp_path = out_dir.rstrip("/") + ".json"
    key = {"seed": seed, "sizes": wl.sizes, "copies": wl.copies}
    if os.path.exists(stamp_path):
        with open(stamp_path) as f:
            stamp = json.load(f)
        if stamp["key"] == key and os.path.isdir(out_dir):
            return stamp["info"]
        os.remove(stamp_path)  # a generation cut short must not be reused
    fp = generate(out_dir, wl.sizes, wl.copies, seed)
    info = {"fingerprint": fp, "rows": row_counts(out_dir)}
    with open(stamp_path, "w") as f:
        json.dump({"key": key, "info": info}, f)
    return info


if __name__ == "__main__":
    import sys

    print(json.dumps(main(sys.argv[1], int(sys.argv[2]), sys.argv[3])))
