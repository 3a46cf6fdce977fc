"""The benchmark's workloads: which registry queries run on which
generated input.

Every workload is a closed loop with one client: one query at a time,
each forced through the noop sink. Input sizes are fixed per workload;
the run seed only reorders rows, moves file boundaries and changes the
per-copy marker token (see gen.py).

The two workloads lean to different sides of the engine.
``fit_and_probe`` spends most of its time (about 0.85 of a warm pass on
a 4-core host) in DataFrame construction on the driver: py4j round
trips and the eager jobs of the IVF k-means index build, the p2 TF-IDF
fit and the p1 feature pipeline. ``curation`` spends the larger share (about
0.6) in the final action: the MinHash bucket join and verify, the graph
BFS joins and the Python-worker PNG decode. Its streaming agg runs its
micro-batches inside construction, so a construction-side change moves
``curation`` too, only less.

Between them the workloads reach every layer the per-layer trace names:
``operators.dedup``, ``operators.graph``, ``operators.multimodal``,
``streaming.events`` and the Python workers on ``curation``;
``operators.similarity``, ``plans.p2``, ``plans.text_pipeline``,
``plans.p1`` and ``operators.joins`` on ``fit_and_probe``.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    queries: tuple[str, ...]
    sizes: dict
    copies: int


def _sizes(**over: int) -> dict:
    base = dict(
        part=200,
        orders=1000,
        lineitem=4000,
        events=1000,
        users=50,
        documents=150,
        embeddings=150,
    )
    base.update(over)
    return base


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "curation",
            "LLM-data curation: MinHash near-dup pairs, a graph BFS, a Python-worker PNG "
            "decode, language ID and a streaming agg; mostly in the final action",
            (
                "dedup_minhash",
                "graph_khop_reachability",
                "multimodal_png_roundtrip",
                "lang_id",
                "streaming_window_agg",
            ),
            _sizes(documents=150),
            copies=2,
        ),
        Workload(
            "fit_and_probe",
            "an IVF index build then probe, the paper's p2 (TF-IDF, LSH join) and p1 "
            "(pair features, LR); bound by driver-side construction and eager jobs",
            (
                "embedding_ann_ivf",
                "p2_lsh_similarity",
                "p1_link_prediction",
            ),
            _sizes(documents=300, embeddings=300),
            copies=1,
        ),
    )
}
