"""Output checks for the benchmark's queries, run after the timed passes.

Entries with a DuckDB oracle twin must match it on the generated input:
same row count, same column names and the same order-insensitive value
hash (``tools/check_oracle.normalize``/``table_hash``). Oracle results
are cached per input fingerprint, keyed by query name and a hash of the
oracle SQL, so a changed oracle is recomputed.

Rows-only entries must pass the invariant their pytest pins, checked
here from the generated parquet:

- MinHash pairs: every pair is exactly verified, i.e. its reported
  ``jaccard_micro`` equals the exact token-set Jaccard and is at least
  the threshold (verified-pair precision 1.0), and the pairs recover at
  least ``MINHASH_RECALL_FLOOR`` of all exact pairs at the threshold;
- ANN top-k: recall against the exact cosine top-k of every fixed query
  at least the floor;
- p1 predictions: one row per test edge ``(i, i + 2)``, labelled and
  predicted as whether both ends share a source. The generated sources
  cycle with ``doc_id`` (gen.py), so every train and test label is 0:
  the logistic regression sees one class, returns an intercept-only
  model and must predict 0 everywhere. A quality floor needs two
  classes, and their LBFGS iterations (some 30 more eager jobs per
  pass) do not fit a run's time budget;
- p2 LSH pairs: a non-empty set of canonical, distinct pairs of known
  ids at Jaccard 0.8 or more.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import numpy as np
import pyarrow.parquet as pq

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _ROOT not in sys.path:
    sys.path.insert(0, _ROOT)

from tools.check_oracle import table_hash  # noqa: E402

ANN_RECALL_FLOOR = 0.4  # tests/test_operators.py::test_ivf_derived_defaults_recall
ANN_QUERIES = 8  # the ANN entries probe with vec_id < 8
ANN_K = 5
MINHASH_THRESHOLD_MICRO = 800_000
MINHASH_RECALL_FLOOR = 0.8  # tests/test_operators.py::test_minhash_recall_vs_exact


def _read(data_dir: str, table: str, columns: list[str]):
    return pq.ParquetDataset(os.path.join(data_dir, f"{table}.parquet")).read(
        columns=columns
    )


def _token_sets(data_dir: str) -> dict[int, frozenset]:
    t = _read(data_dir, "documents", ["doc_id", "text"])
    return {
        i: frozenset(s.strip().lower().split())
        for i, s in zip(t["doc_id"].to_pylist(), t["text"].to_pylist())
    }


def _micro_jaccard(a: frozenset, b: frozenset) -> int:
    union = len(a | b)
    return (1_000_000 * len(a & b)) // union if union else 0


def _canonical_pairs(rows: list[dict], a: str, b: str, known: set) -> str | None:
    if not rows:
        return "no pairs"
    seen = set()
    for r in rows:
        p = (r[a], r[b])
        if not p[0] < p[1]:
            return f"pair {p} not canonical"
        if p in seen:
            return f"pair {p} repeated"
        if not (p[0] in known and p[1] in known):
            return f"pair {p} has an unknown id"
        seen.add(p)
    return None


def check_minhash_pairs(rows: list[dict], data_dir: str) -> str | None:
    toks = _token_sets(data_dir)
    err = _canonical_pairs(rows, "src_id", "dst_id", set(toks))
    if err:
        return err
    for r in rows:
        exact = _micro_jaccard(toks[r["src_id"]], toks[r["dst_id"]])
        if r["jaccard_micro"] != exact or exact < MINHASH_THRESHOLD_MICRO:
            pair = (r["src_id"], r["dst_id"])
            return f"pair {pair} reports {r['jaccard_micro']}, exact {exact}"
    truth = exact_pairs(toks, MINHASH_THRESHOLD_MICRO)
    found = {(r["src_id"], r["dst_id"]) for r in rows}
    recall = len(found & truth) / len(truth) if truth else 1.0
    if recall < MINHASH_RECALL_FLOOR:
        return f"recall {recall:.3f} of {len(truth)} exact pairs < {MINHASH_RECALL_FLOOR}"
    return None


def exact_pairs(toks: dict[int, frozenset], threshold_micro: int) -> set[tuple[int, int]]:
    """All canonical id pairs whose token-set Jaccard reaches the
    threshold. Sets are visited by size, so a pair whose size ratio
    already rules the threshold out is never intersected."""
    by_size = sorted(toks.items(), key=lambda kv: len(kv[1]))
    out = set()
    for i, (a, ta) in enumerate(by_size):
        for b, tb in by_size[i + 1 :]:
            if 1_000_000 * len(ta) < threshold_micro * len(tb):
                break
            if _micro_jaccard(ta, tb) >= threshold_micro:
                out.add((min(a, b), max(a, b)))
    return out


def ann_recall(rows: list[dict], data_dir: str, k: int = ANN_K) -> float:
    """Share of the exact top-``k`` of the ``ANN_QUERIES`` fixed queries
    that the returned neighbours reach: a neighbour counts when its exact
    cosine is at least the query's exact k-th best (so identical copies
    are interchangeable). A query that returns nothing scores 0."""
    t = _read(data_dir, "embeddings", ["vec_id", "embedding"])
    ids = t["vec_id"].to_pylist()
    vecs = np.asarray(t["embedding"].to_pylist(), dtype=np.float64)
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    row_of = {v: i for i, v in enumerate(ids)}
    by_query: dict[int, list[dict]] = {}
    for r in rows:
        by_query.setdefault(r["query_id"], []).append(r)
    hits = 0
    for q in range(ANN_QUERIES):
        cos = unit @ unit[row_of[q]]
        cos[row_of[q]] = -np.inf
        kth = np.sort(cos)[-k]
        got = by_query.get(q, [])[:k]
        hits += sum(1 for r in got if cos[row_of[r["neighbor_id"]]] >= kth - 1e-4)
    return hits / (k * ANN_QUERIES)


def check_ann(rows: list[dict], data_dir: str) -> str | None:
    recall = ann_recall(rows, data_dir)
    return None if recall >= ANN_RECALL_FLOOR else f"recall {recall:.3f} < {ANN_RECALL_FLOOR}"


def check_p1(rows: list[dict], data_dir: str) -> str | None:
    t = _read(data_dir, "documents", ["doc_id", "source"])
    source = {str(i): s for i, s in zip(t["doc_id"].to_pylist(), t["source"].to_pylist())}
    edges = {(str(i), str(i + 2)) for i in t["doc_id"].to_pylist() if str(i + 2) in source}
    got = [(r["srcId"], r["dstId"]) for r in rows]
    if len(got) != len(edges) or set(got) != edges:
        return f"{len(got)} predictions for {len(edges)} test edges"
    for r in rows:
        truth = int(source[r["srcId"]] == source[r["dstId"]])
        if r["label"] != truth or r["prediction"] != truth:
            pair = (r["srcId"], r["dstId"])
            return f"edge {pair} labelled {r['label']}, predicted {r['prediction']}, truth {truth}"
    return None


def check_p2(rows: list[dict], data_dir: str) -> str | None:
    known = {str(i) for i in _token_sets(data_dir)}
    err = _canonical_pairs(rows, "srcId", "dstId", known)
    if err:
        return err
    low = [r for r in rows if r["jaccardSimilarity"] < 0.8 - 1e-9]
    return f"{len(low)} pairs below the 0.8 threshold" if low else None


ROWS_ONLY = {
    "dedup_minhash": check_minhash_pairs,
    "embedding_ann_ivf": check_ann,
    "p1_link_prediction": check_p1,
    "p2_lsh_similarity": check_p2,
}


class OracleCache:
    """DuckDB oracle results per (input fingerprint, query, oracle SQL),
    kept as ``(rows, sorted columns, hash)`` in one JSON file per
    fingerprint, keyed ``<query>:<sha256 of the SQL>``."""

    def __init__(self, cache_dir: str, data_dir: str, fingerprint: str):
        self.data_dir = data_dir
        self.path = os.path.join(cache_dir, f"{fingerprint}.json")
        self.entries: dict[str, list] = {}
        if os.path.exists(self.path):
            with open(self.path) as f:
                self.entries = json.load(f)
        self._con = None

    def get(self, name: str, sql: str) -> list:
        key = f"{name}:{hashlib.sha256(sql.encode()).hexdigest()[:16]}"
        if key not in self.entries:
            if self._con is None:
                import duckdb

                self._con = duckdb.connect()
                for t in _tables(self.data_dir):
                    self._con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.data_dir}/{t}.parquet/*.parquet')"
                    )
            res = self._con.execute(sql)
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
            self.entries[key] = [len(rows), sorted(cols), table_hash(cols, rows)]
        return self.entries[key]

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            os.makedirs(os.path.dirname(self.path), exist_ok=True)
            with open(self.path, "w") as f:
                json.dump(self.entries, f)


def _tables(data_dir: str) -> list[str]:
    return sorted(n[: -len(".parquet")] for n in os.listdir(data_dir) if n.endswith(".parquet"))


def check_output(
    name: str, cols: list[str], rows: list[tuple], oracle: OracleCache, oracle_sql: dict
) -> str | None:
    """``None`` when the output is correct, else a one-line reason."""
    if name in oracle_sql:
        n, ocols, ohash = oracle.get(name, oracle_sql[name])
        if len(rows) != n:
            return f"rowcount {len(rows)} != oracle {n}"
        if sorted(cols) != ocols:
            return f"columns {sorted(cols)} != oracle {ocols}"
        got = table_hash(cols, rows)
        return None if got == ohash else f"hash {got} != oracle {ohash}"
    check = ROWS_ONLY.get(name)
    if check is None:
        return "no oracle and no invariant"
    return check([dict(zip(cols, r)) for r in rows], oracle.data_dir)
