"""Tests of the benchmark's own arithmetic:

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import gen  # noqa: E402
from tracing import Phase, fold, read_eventlog, self_times  # noqa: E402

SMALL = dict(
    part=30,
    orders=60,
    lineitem=200,
    events=100,
    users=10,
    documents=40,
    embeddings=40,
)


def _task(stage, launch, finish, run_ms, shuffle_read=0, shuffle_write=0, accs=()):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish, "Accumulables": []},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": run_ms * 1_000_000 // 2,
            "JVM GC Time": 1,
            "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": shuffle_read},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_write},
            "Input Metrics": {"Bytes Read": 100, "Records Read": 10},
        },
    }


def _fixture_log(path):
    """A build phase with one eager job, then an action with one SQL
    execution of two stages, the second running a Python UDF node."""
    plan = {
        "nodeName": "OverwriteByExpression",
        "metrics": [],
        "children": [
            {
                "nodeName": "ArrowEvalPython",
                "metrics": [
                    {"name": "number of output rows", "accumulatorId": 7},
                    {"name": "data sent to Python workers", "accumulatorId": 8},
                    {"name": "data returned from Python workers", "accumulatorId": 9},
                ],
                "children": [
                    {"nodeName": "Exchange", "metrics": [], "children": [
                        {"nodeName": "Scan parquet ", "metrics": [], "children": []}
                    ]}
                ],
            }
        ],
    }
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1_000_100,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "w|q|build"}},
        _task(0, 1_000_110, 1_000_150, 40),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Submission Time": 1_000_105, "Completion Time": 1_000_160,
            "Accumulables": []}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1_000_170},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 3, "time": 1_002_010, "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1_002_100,
         "Stage IDs": [1, 2], "Properties": {"spark.jobGroup.id": "w|q|action"}},
        _task(1, 1_002_110, 1_002_210, 100, shuffle_write=500),
        _task(1, 1_002_110, 1_002_130, 20, shuffle_write=300),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 1, "Submission Time": 1_002_100, "Completion Time": 1_002_220,
            "Accumulables": []}},
        _task(2, 1_002_300, 1_002_350, 50, shuffle_read=800),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 2, "Submission Time": 1_002_290, "Completion Time": 1_002_360,
            "Accumulables": [{"ID": 7, "Name": "number of output rows", "Value": "42"},
                             {"ID": 8, "Name": "data sent to Python workers", "Value": "4096"},
                             {"ID": 9, "Name": "data returned from Python workers",
                              "Value": "1024"}]}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1_002_370},
    ]
    with open(path, "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


def test_eventlog_fold(tmp_path):
    path = tmp_path / "app"
    _fixture_log(path)
    build = Phase(1, "q", "build", 1000.0, 1001.0)
    build.spans = [(1, "operators.dedup", 1000.05, 1000.5, 0)]
    action = Phase(1, "q", "action", 1002.0, 1002.5)
    out = fold(read_eventlog([str(path)]), [build, action], cores=4)
    b, a = out[id(build)], out[id(action)]
    assert b["jobs"] == 1 and b["layer_jobs"] == {"operators.dedup": 1}
    assert b["job_s"] == pytest.approx(0.07)
    assert a["jobs"] == 1 and a["stages"] == 2 and a["tasks"] == 3
    assert a["first_job"] == pytest.approx(1002.1)
    assert a["run_s"] == pytest.approx(0.17)
    assert a["cpu_s"] == pytest.approx(0.085)
    assert a["shuffle_write"] == 800 and a["shuffle_read"] == 800
    assert a["bytes_read"] == 300 and a["records_read"] == 30
    # stage intervals [100, 220] and [290, 360] ms after the second 1002
    assert a["in_stage_s"] == pytest.approx(0.19)
    # the slowest stage (1) has tasks of 100 and 20 ms: max / median
    assert a["task_skew"] == pytest.approx(100 / 60)
    assert a["plan_scans"] == 1 and a["plan_exchanges"] == 1
    assert (a["py_sent"], a["py_returned"], a["py_rows"]) == (4096, 1024, 42)
    assert a["py_run_s"] == pytest.approx(0.05)


def test_self_time_subtracts_direct_children_per_thread():
    spans = [
        (1, "operators.dedup", 0.0, 10.0, 0),
        (1, "functions", 1.0, 3.0, 1),
        (1, "operators.dedup", 4.0, 8.0, 1),
        (1, "functions", 5.0, 6.0, 2),
        (2, "functions", 2.0, 9.0, 0),  # another thread: not a child
    ]
    got = self_times(spans)
    assert got["operators.dedup"] == pytest.approx((10 - 2 - 4) + (4 - 1))
    assert got["functions"] == pytest.approx(2 + 1 + 7)


def test_same_seed_same_fingerprint(tmp_path):
    a = gen.generate(str(tmp_path / "a"), SMALL, 3, seed=7)
    b = gen.generate(str(tmp_path / "b"), SMALL, 3, seed=7)
    assert a == b


def test_other_seed_other_fingerprint_same_rows(tmp_path):
    a = gen.generate(str(tmp_path / "a"), SMALL, 3, seed=7)
    b = gen.generate(str(tmp_path / "b"), SMALL, 3, seed=8)
    assert a != b
    rows = gen.row_counts(str(tmp_path / "a"))
    assert rows == gen.row_counts(str(tmp_path / "b"))
    assert rows["documents"] == 3 * SMALL["documents"] and rows["part"] == SMALL["part"]


@pytest.fixture(scope="module")
def small_data(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("data") / "in")
    return d, gen.generate(d, SMALL, 2, seed=1)


def test_checker_flags_perturbed_oracle_result(small_data, tmp_path):
    data_dir, fp = small_data
    sql = {"q": "SELECT doc_id, n_chars FROM documents WHERE doc_id % 3 = 0"}
    oracle = check.OracleCache(str(tmp_path), data_dir, fp)
    ids = sorted(i for i in check._token_sets(data_dir) if i % 3 == 0)
    t = check._read(data_dir, "documents", ["doc_id", "n_chars"])
    n_chars = dict(zip(t["doc_id"].to_pylist(), t["n_chars"].to_pylist()))
    rows = [(i, n_chars[i]) for i in ids]
    try:
        assert check.check_output("q", ["doc_id", "n_chars"], rows, oracle, sql) is None
        bad = rows[:-1] + [(rows[-1][0], rows[-1][1] + 1)]
        assert "hash" in check.check_output("q", ["doc_id", "n_chars"], bad, oracle, sql)
        assert "rowcount" in check.check_output("q", ["doc_id", "n_chars"], rows[1:], oracle, sql)
    finally:
        oracle.close()


def test_checker_flags_perturbed_minhash_pair(small_data):
    data_dir, _ = small_data
    toks = check._token_sets(data_dir)
    ids = sorted(toks)
    pairs = [
        {"src_id": a, "dst_id": b, "jaccard_micro": check._micro_jaccard(toks[a], toks[b])}
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if check._micro_jaccard(toks[a], toks[b]) >= check.MINHASH_THRESHOLD_MICRO
    ]
    assert pairs, "the generated corpus has near-duplicate pairs"
    assert check.check_minhash_pairs(pairs, data_dir) is None
    bad = [dict(pairs[0], jaccard_micro=pairs[0]["jaccard_micro"] + 1)] + pairs[1:]
    assert check.check_minhash_pairs(bad, data_dir) is not None
    # recall floor: most exact pairs missing
    assert "recall" in check.check_minhash_pairs(pairs[: len(pairs) // 10], data_dir)
    assert check.check_minhash_pairs([], data_dir) == "no pairs"


def test_oracle_cache_recomputes_changed_sql(small_data, tmp_path):
    data_dir, fp = small_data
    cols, rows = ["n"], [(SMALL["documents"] * 2,)]
    oracle = check.OracleCache(str(tmp_path), data_dir, fp)
    try:
        first = {"q": "SELECT count(*) AS n FROM documents"}
        assert check.check_output("q", cols, rows, oracle, first) is None
    finally:
        oracle.close()
    # a later run with a changed oracle must not reuse the cached result
    oracle = check.OracleCache(str(tmp_path), data_dir, fp)
    try:
        changed = {"q": "SELECT count(*) + 1 AS n FROM documents"}
        assert "hash" in check.check_output("q", cols, rows, oracle, changed)
    finally:
        oracle.close()


def test_ann_recall_counts_every_fixed_query(small_data):
    data_dir, _ = small_data
    t = check._read(data_dir, "embeddings", ["vec_id", "embedding"])
    ids = t["vec_id"].to_pylist()
    vecs = np.asarray(t["embedding"].to_pylist(), dtype=np.float64)
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    rows = []
    for q in range(check.ANN_QUERIES):
        cos = unit @ unit[ids.index(q)]
        cos[ids.index(q)] = -np.inf
        for j in np.argsort(-cos)[: check.ANN_K]:
            rows.append({"query_id": q, "neighbor_id": ids[j]})
    assert check.ann_recall(rows, data_dir) == pytest.approx(1.0)
    one_query = [r for r in rows if r["query_id"] == 0]
    assert check.ann_recall(one_query, data_dir) == pytest.approx(1 / check.ANN_QUERIES)
    assert check.check_ann(one_query, data_dir) is not None


def test_checker_flags_wrong_p1_row(small_data):
    data_dir, _ = small_data
    t = check._read(data_dir, "documents", ["doc_id"])
    ids = set(t["doc_id"].to_pylist())
    rows = [
        {"srcId": str(i), "dstId": str(i + 2), "label": 0, "prediction": 0.0}
        for i in ids
        if i + 2 in ids
    ]
    assert check.check_p1(rows, data_dir) is None
    assert "predicted" in check.check_p1([dict(rows[0], prediction=1.0)] + rows[1:], data_dir)
    assert "labelled" in check.check_p1([dict(rows[0], label=1)] + rows[1:], data_dir)
    assert "predictions" in check.check_p1(rows[1:], data_dir)
