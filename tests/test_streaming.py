"""Structured Streaming twins (streaming/events.py).

Correctness model: a bounded file stream driven with
``processAllAvailable()`` must produce exactly the batch-twin results
(streaming windowed agg == tumbling_window_agg; session_window agg ==
the lag/cumsum sessionization's per-user session count profile).
"""

from __future__ import annotations

import pytest

from apache_spark_link_prediction_spark.sources import load_table, write_parquet
from apache_spark_link_prediction_spark.streaming.events import (
    read_events_stream,
    run_stream_to_memory,
    streaming_session_agg,
    streaming_window_agg,
)


@pytest.fixture(scope="module")
def events_stream_dir(spark, sf_dir, tmp_path_factory):
    # The raw testdata parquet stores TIMESTAMP(NANOS); re-materialize
    # via load_table (micros ts) so readStream can consume it.
    path = str(tmp_path_factory.mktemp("events_stream"))
    ev = load_table(spark, sf_dir, "events").repartition(4)
    write_parquet(ev, path)
    return path


def _as_sorted_tuples(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


def test_streaming_window_agg_matches_batch(spark, sf_dir, events_stream_dir):
    stream = read_events_stream(spark, events_stream_dir, max_files_per_trigger=2)
    got = run_stream_to_memory(
        streaming_window_agg(stream), name="t_win_agg", output_mode="complete"
    )
    from apache_spark_link_prediction_spark.queries import QUERIES

    want = QUERIES["tumbling_window_agg"](spark, sf_dir)
    cols = ["window_start", "event_type", "n", "total_value"]
    assert _as_sorted_tuples(got, cols) == _as_sorted_tuples(want, cols)


def test_streaming_session_agg_matches_batch_profile(spark, sf_dir, events_stream_dir):
    stream = read_events_stream(spark, events_stream_dir, max_files_per_trigger=2)
    got = run_stream_to_memory(
        streaming_session_agg(stream),
        name="t_sess_agg",
        output_mode="complete",
    )
    from apache_spark_link_prediction_spark.queries import QUERIES

    want = QUERIES["sessionize_events"](spark, sf_dir)
    # session ids differ between formulations; compare the per-user
    # multiset of session sizes, which pins gap semantics exactly.
    def profile(df):
        return sorted(
            (r.user_id, r.n_events)
            for r in df.select("user_id", "n_events").collect()
        )

    assert profile(got) == profile(want)


def test_streaming_dedup_drops_duplicates(spark, sf_dir, tmp_path_factory):
    from apache_spark_link_prediction_spark.sources.readers import write_parquet
    from apache_spark_link_prediction_spark.streaming.events import streaming_dedup

    path = str(tmp_path_factory.mktemp("events_dup"))
    ev = load_table(spark, sf_dir, "events").limit(500)
    # two copies in separate files → duplicates arrive across micro-batches
    write_parquet(ev.unionAll(ev).repartition(4), path)
    # watermark > the 30-day data span: append mode treats older-than-
    # watermark rows in later micro-batches as late data; this test pins
    # dedup semantics, not late-data drop.
    got = run_stream_to_memory(
        streaming_dedup(
            read_events_stream(spark, path, max_files_per_trigger=1),
            watermark="35 days",
        ),
        name="t_dedup",
        output_mode="append",
    )
    n_distinct = ev.select("event_id").distinct().count()
    ids = [r.event_id for r in got.select("event_id").collect()]
    assert len(ids) == len(set(ids)) == n_distinct


def test_streaming_user_ema_matches_pandas(spark, sf_dir, events_stream_dir):
    """applyInPandasWithState EMA: single micro-batch (all 4 files in
    one trigger) so fold order is the global ts order; must equal a
    pandas groupby EMA computed independently."""
    import pandas as pd

    from apache_spark_link_prediction_spark.streaming.events import streaming_user_ema

    alpha = 0.3
    stream = read_events_stream(spark, events_stream_dir, max_files_per_trigger=4)
    got = {
        r.user_id: (r.n_events, r.ema)
        for r in run_stream_to_memory(
            streaming_user_ema(stream, alpha=alpha), name="t_ema", output_mode="update"
        ).collect()
    }

    pdf = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts", "value")
        .toPandas()
        .sort_values("ts")
    )
    want = {}
    for uid, grp in pdf.groupby("user_id"):
        ema = None
        for v in grp["value"]:
            ema = float(v) if ema is None else alpha * float(v) + (1 - alpha) * ema
        want[int(uid)] = (len(grp), round(ema, 6))
    assert set(got) == set(want)
    for uid in want:
        assert got[uid][0] == want[uid][0]
        assert abs(got[uid][1] - want[uid][1]) < 1e-9, uid


def test_unbounded_rate_source_micro_batches(spark):
    """Unbounded-source smoke: the windowed agg plan also runs against a
    rate source (not just bounded files) — a few micro-batches must
    produce monotonically growing counts with the stream still running."""
    import time

    from pyspark.sql import functions as F

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 200).load()
        .withColumnRenamed("timestamp", "ts")
        .select(
            "ts",
            (F.col("value") % 3).cast("string").alias("event_type"),
            (F.col("value") % 100).cast("double").alias("value"),
        )
    )
    from apache_spark_link_prediction_spark.streaming.events import streaming_window_agg

    agg = streaming_window_agg(stream, window="1 second", watermark="5 seconds")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("t_rate")
        .start()
    )
    try:
        total = 0
        deadline = time.time() + 30
        while time.time() < deadline:
            time.sleep(2)
            rows = spark.sql("SELECT sum(n) AS s FROM t_rate").collect()
            new_total = rows[0].s or 0
            if new_total > 0 and new_total >= total and total > 0:
                break
            total = new_total
        assert (rows[0].s or 0) > 0, "rate stream produced no aggregated rows"
    finally:
        q.stop()


def test_custom_sessions_with_event_time_timeout(spark, sf_dir, tmp_path_factory):
    """EventTimeTimeout lifecycle: feed events in four time-ordered
    files (one per trigger) so the watermark advances between batches and
    idle sessions close via timeout. Every emitted session must exactly
    match a session from the batch lag/cumsum oracle; sessions still
    open at stream end legitimately stay in state."""
    import time as _time

    from pyspark.sql import functions as F

    from apache_spark_link_prediction_spark.queries import QUERIES
    from apache_spark_link_prediction_spark.streaming.events import (
        streaming_custom_sessions,
    )

    path = str(tmp_path_factory.mktemp("events_ordered"))
    ev = load_table(spark, sf_dir, "events")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    span = (hi - lo) / 4
    for i in range(4):
        a, b = lo + i * span, lo + (i + 1) * span
        cond = (F.col("ts") >= a) & (F.col("ts") < b) if i < 3 else (F.col("ts") >= a)
        ev.filter(cond).coalesce(1).write.mode("append").parquet(path)
        _time.sleep(1.1)  # distinct mtimes -> deterministic trigger order

    got = run_stream_to_memory(
        streaming_custom_sessions(
            read_events_stream(spark, path, max_files_per_trigger=1)
        ),
        name="t_custom_sessions",
        output_mode="append",
    ).collect()
    assert got, "no sessions emitted — timeouts never fired"

    batch = QUERIES["sessionize_events"](spark, sf_dir)
    # batch twin gives (user_id, session_id, n_events); recover starts
    want = {
        (r.user_id, int(r.session_start.timestamp() * 1_000_000), r.n_events)
        for r in spark.sql("""
            SELECT user_id, min(ts) AS session_start, count(*) AS n_events
            FROM (SELECT user_id, ts,
                         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
                  FROM (SELECT user_id, ts, event_id,
                               CASE WHEN CAST(ts AS DOUBLE) - CAST(lag(ts) OVER
                                      (PARTITION BY user_id ORDER BY ts, event_id) AS DOUBLE) > 1800
                                      OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                                    THEN 1 ELSE 0 END AS new_session
                        FROM {ev}))
            GROUP BY user_id, sid
        """, ev=load_table(spark, sf_dir, "events")).collect()
    }
    for r in got:
        assert (r.user_id, r.session_start_us, r.n_events) in want, r


def test_checkpoint_recovery_exactly_once(spark, sf_dir, tmp_path_factory):
    """Stop/restart with the same checkpoint must resume exactly once:
    run 1 sees half the files, run 2 (same checkpointLocation) sees the
    rest added — the union of sink output must contain every event
    exactly once, proving the restart neither reprocesses nor skips."""
    from pyspark.sql import functions as F

    src = str(tmp_path_factory.mktemp("events_src"))
    sink = str(tmp_path_factory.mktemp("events_sink"))
    chk = str(tmp_path_factory.mktemp("chk"))

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    half1 = ev.filter(F.col("event_id") % 2 == 0)
    half2 = ev.filter(F.col("event_id") % 2 == 1)
    half1.coalesce(2).write.mode("append").parquet(src)

    def run_once():
        stream = (
            spark.readStream.schema("event_id long, ts timestamp, user_id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", chk)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once()
    n_first = spark.read.parquet(sink).count()
    assert n_first == half1.count()

    half2.coalesce(2).write.mode("append").parquet(src)
    run_once()

    out = spark.read.parquet(sink)
    assert out.count() == ev.count(), "restart reprocessed or skipped data"
    assert out.select("event_id").distinct().count() == ev.count()


def test_kafka_encode_decode_roundtrip(spark, sf_dir):
    """The Kafka wire plumbing (JSON value, user_id key) must roundtrip
    the typed events frame exactly; the format('kafka') endpoints
    themselves need the connector jar and are construction-only here."""
    from apache_spark_link_prediction_spark.sources import load_table
    from apache_spark_link_prediction_spark.streaming.events import (
        decode_kafka_events,
        encode_events_for_kafka,
        kafka_source_options,
    )

    events = load_table(spark, sf_dir, "events").limit(200)
    wire = encode_events_for_kafka(events)
    assert wire.columns == ["key", "value"]
    back = decode_kafka_events(wire)
    assert back.columns == events.columns
    a = {tuple(r) for r in events.collect()}
    b = {tuple(r) for r in back.collect()}
    assert a == b
    # corrupt values are quarantined, not crashed on
    corrupt = spark.createDataFrame([(b"k", b"{not json")], "key binary, value binary")
    assert decode_kafka_events(corrupt).count() == 0

    opts = kafka_source_options("broker:9092", "events")
    assert opts["kafka.bootstrap.servers"] == "broker:9092"
    assert opts["subscribe"] == "events"
    assert opts["failOnDataLoss"] == "false"
    assert "maxOffsetsPerTrigger" in opts


def test_streaming_heavy_hitters_superset_and_bounds(spark, tmp_path_factory):
    """Stateful Misra-Gries over micro-batches: after the stream drains,
    the final per-type emission must contain EVERY user whose global
    count exceeds n/capacity (the MG superset guarantee composed across
    batches), every mg_count must lower-bound the true count, and state
    must hold ≤ capacity counters per group despite far more distinct
    users than capacity."""
    from pyspark.sql import functions as F

    from apache_spark_link_prediction_spark.sources.readers import write_parquet
    from apache_spark_link_prediction_spark.streaming.events import (
        read_events_stream,
        streaming_heavy_hitters,
    )

    capacity = 16
    # skewed synthetic stream: 3 hot users own ~1/3 of one event type,
    # the rest spread over ~400 distinct users (>> capacity).
    base = spark.range(0, 9000).select(
        F.col("id").alias("event_id"),
        F.timestamp_micros(F.lit(1_700_000_000_000_000) + F.col("id") * 1_000_000).alias("ts"),
        F.when(F.col("id") % 3 == 0, F.col("id") % 3 + 1)
        .otherwise(F.col("id") % 397 + 100)
        .alias("user_id"),
        F.concat(F.lit("t"), (F.col("id") % 2).cast("string")).alias("event_type"),
        F.lit(1.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    path = str(tmp_path_factory.mktemp("hh_stream"))
    write_parquet(base.repartition(4), path)

    out = streaming_heavy_hitters(
        read_events_stream(spark, path, max_files_per_trigger=1),
        capacity=capacity,
        top_k=capacity,
    )
    batches: list[tuple[int, list]] = []
    q = (
        out.writeStream.outputMode("update")
        .foreachBatch(lambda df, bid: batches.append((bid, df.collect())))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # last emission per event_type across batches
    final: dict[str, dict[int, int]] = {}
    for _, rows in sorted(batches):
        per_type: dict[str, dict[int, int]] = {}
        for r in rows:
            per_type.setdefault(r.event_type, {})[r.user_id] = r.mg_count
        final.update(per_type)

    true_counts = {
        (r.event_type, r.user_id): r.cnt
        for r in base.groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    totals: dict[str, int] = {}
    for (et, _), c in true_counts.items():
        totals[et] = totals.get(et, 0) + c

    assert set(final) == set(totals)
    for et, emitted in final.items():
        assert len(emitted) <= capacity  # bounded state/emission
        heavy = {
            u for (t, u), c in true_counts.items()
            if t == et and c > totals[et] / capacity
        }
        assert heavy, "test stream must actually contain heavy users"
        assert heavy <= set(emitted), f"{et}: missing heavy users"
        for u, mg in emitted.items():
            assert mg <= true_counts[(et, u)], f"{et}/{u}: MG count not a lower bound"


def test_streaming_cdc_upsert_equals_batch_twin(spark, sf_dir):
    """Latest-wins CDC is a max over all changes, so the drained stream
    must equal the batch MERGE collapse row-for-row regardless of
    micro-batch boundaries."""
    from apache_spark_link_prediction_spark.queries import QUERIES

    got = {
        (r.c_custkey, r.c_name, round(r.acctbal, 6), r.updated)
        for r in QUERIES["streaming_cdc_upsert"](spark, sf_dir).collect()
    }
    want = {
        (r.c_custkey, r.c_name, round(r.acctbal, 6), r.updated)
        for r in QUERIES["cdc_upsert_latest"](spark, sf_dir).collect()
    }
    assert got == want and got


def test_streaming_interval_join_left_outer_watermark_semantics(spark, tmp_path):
    """Stream-stream LEFT OUTER with event-time bounds: unmatched left
    rows emit null-extended ONLY after the right watermark proves no
    match can arrive; left rows inside the bounded stream's final
    watermark tail never emit. Both halves of the contract pinned."""
    import pyspark.sql.functions as F

    from apache_spark_link_prediction_spark.sources.readers import write_parquet
    from apache_spark_link_prediction_spark.streaming.events import (
        read_events_stream,
        run_stream_to_memory,
        streaming_interval_join,
    )

    t0 = 1_704_067_200  # 2024-01-01 UTC
    day = 86_400
    rows = [
        # (event_id, epoch_s, user_id, type)  — interval 1h, wm 2h
        (1, t0, 1, "click"),          # matched by 101
        (101, t0 + 600, 1, "purchase"),
        (2, t0, 2, "click"),          # unmatched; must flush as NULL row
        (103, t0 + 10 * day, 9, "purchase"),  # watermark pusher
        (3, t0 + 10 * day, 3, "click"),       # in final tail: never emits
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, sec long, user_id long, event_type string"
    ).select(
        "event_id",
        F.timestamp_seconds(F.col("sec")).alias("ts"),
        "user_id",
        "event_type",
        F.lit(1.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    path = str(tmp_path / "stream_src")
    write_parquet(ev.repartition(2), path)
    out = streaming_interval_join(
        read_events_stream(spark, path), how="left_outer"
    )
    got = {
        (r.click_id, r.purchase_id)
        for r in run_stream_to_memory(
            out, name="t_ssj_outer", output_mode="append"
        ).collect()
    }
    assert got == {(1, 101), (2, None)}


def test_checkpoint_restart_processes_only_new_files(spark, tmp_path):
    """The exactly-once restart contract production streaming rests on:
    a query restarted against the SAME checkpointLocation resumes from
    committed offsets — batch-1 files are never reprocessed, batch-2
    files all arrive, nothing duplicates."""
    import pyspark.sql.functions as F

    src = tmp_path / "src"
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    schema = "id long, v string"

    def run_once() -> None:
        stream = spark.readStream.schema(schema).parquet(str(src))
        q = (
            stream.withColumn("tagged", F.concat(F.lit("r"), F.col("id")))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    spark.createDataFrame([(i, "a") for i in range(5)], schema).write.mode(
        "append"
    ).parquet(str(src))
    run_once()
    got1 = sorted(r.id for r in spark.read.parquet(out).collect())
    assert got1 == list(range(5))

    spark.createDataFrame([(i, "b") for i in range(5, 9)], schema).write.mode(
        "append"
    ).parquet(str(src))
    run_once()  # same checkpoint + same sink: resume, don't replay
    got2 = sorted(r.id for r in spark.read.parquet(out).collect())
    assert got2 == list(range(9))  # batch-1 rows exactly once, batch-2 added


def test_streaming_neardup_suppress_matches_greedy_simulation(spark, sf_dir):
    """The stateful near-dup suppressor must reproduce an INDEPENDENT
    Python greedy simulation of its contract exactly: per (block, key)
    bucket, docs fold in doc_id order; a doc matches if its full
    signature is within Hamming 3 of an admitted one; matched docs are
    not admitted; per doc the reported keeper is the min over blocks."""
    from apache_spark_link_prediction_spark.operators.dedup import simhash
    from apache_spark_link_prediction_spark.queries import QUERIES

    bits, blocks, max_hamming = 32, 4, 3
    block_bits = bits // blocks
    mask = (1 << block_bits) - 1

    got = {
        r["doc_id"]: r["dup_of"]
        for r in QUERIES["streaming_neardup_suppress"](spark, sf_dir).collect()
    }

    sigs = {
        r["doc_id"]: r["s"]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", simhash("text", bits).alias("s"))
        .collect()
    }
    per_doc_flags: dict[int, list] = {d: [] for d in sigs}
    for b in range(blocks):
        buckets: dict[int, list] = {}
        for d in sorted(sigs):
            sh = sigs[d]
            key = (sh >> (b * block_bits)) & mask
            state = buckets.setdefault(key, [])
            dup = next(
                (k for s, k in state if bin(sh ^ s).count("1") <= max_hamming),
                None,
            )
            if dup is None and len(state) < 256:
                state.append((sh, d))
            if dup is not None:
                per_doc_flags[d].append(dup)
    expected = {
        d: (min(flags) if flags else None) for d, flags in per_doc_flags.items()
    }
    assert got == expected
    assert any(v is not None for v in expected.values())  # corpus has dups


def test_streaming_neardup_state_survives_restart(spark, tmp_path):
    """The near-dup suppressor's GroupState must survive a query restart
    from the same checkpoint: a duplicate arriving in run 2 must be
    flagged against the keeper admitted in run 1 — proving the
    (sigs, keepers) state round-trips the state store, not just one
    micro-batch's memory."""
    from pyspark.sql import functions as F

    from apache_spark_link_prediction_spark.streaming.events import (
        streaming_neardup_suppress,
    )

    src = tmp_path / "docs_src"
    sink = str(tmp_path / "flags_sink")
    chk = str(tmp_path / "chk")
    schema = "doc_id long, text string"

    def run_once() -> None:
        stream = spark.readStream.schema(schema).parquet(str(src))
        q = (
            streaming_neardup_suppress(stream)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", chk)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    text_a = "the quick brown fox jumps over the lazy dog by the river"
    text_b = "completely different content about spark shuffles and joins"
    spark.createDataFrame(
        [(1, text_a), (2, text_b)], schema
    ).coalesce(1).write.mode("append").parquet(str(src))
    run_once()

    # run 2: an exact dup of doc 1 and a brand-new text
    spark.createDataFrame(
        [(3, text_a), (4, "totally novel words appearing nowhere else at all")],
        schema,
    ).coalesce(1).write.mode("append").parquet(str(src))
    run_once()

    flags = spark.read.parquet(sink)
    per_doc = {
        r["doc_id"]: r["dup_of"]
        for r in flags.groupBy("doc_id").agg(F.min("dup_of").alias("dup_of")).collect()
    }
    assert per_doc[1] is None and per_doc[2] is None  # run-1 keepers
    assert per_doc[3] == 1  # run-2 dup matched against run-1 state
    assert per_doc[4] is None


def test_streaming_text_curation_equals_batch(spark, sf_dir):
    """The streaming curation tier must equal the BATCH plan built from
    the same expressions: quality gate (n_tokens >= 5, punct_ratio_micro <=
    300000) then drop every doc sharing a 5-gram with the benchmark slice
    — incremental execution must not change the answer."""
    from pyspark.sql import functions as F

    from apache_spark_link_prediction_spark.functions.textstats import (
        quality_features,
    )
    from apache_spark_link_prediction_spark.operators.dedup import word_shingles
    from apache_spark_link_prediction_spark.queries import QUERIES

    got = {r["doc_id"] for r in QUERIES["streaming_text_curation"](spark, sf_dir).collect()}

    docs = load_table(spark, sf_dir, "documents")
    qf = quality_features("text")
    gated = docs.filter(F.col("doc_id") % 100 >= 5).select(
        "doc_id", "text", qf["n_tokens"].alias("nt"),
        qf["punct_ratio_micro"].alias("pr")
    ).filter((F.col("nt") >= 5) & (F.col("pr") <= 300_000))
    bench = (
        docs.filter(F.col("doc_id") % 100 < 5)
        .select(F.explode(word_shingles("text", 5)).alias("gram"))
        .distinct()
    )
    grams = gated.select("doc_id", F.explode(word_shingles("text", 5)).alias("gram"))
    contaminated = grams.join(bench, "gram", "left_semi").select("doc_id").distinct()
    want = {
        r["doc_id"]
        for r in gated.select("doc_id").join(contaminated, "doc_id", "left_anti").collect()
    }
    assert got == want
    assert want  # gate keeps something
    # and decontamination actually removed something (templated corpus
    # shares 5-grams across the benchmark boundary)
    assert len(want) < gated.count()


def test_streaming_embedding_ingest_recall_and_passthrough(spark, sf_dir):
    """The embedding ingest tier must flag every bitwise copy of an
    indexed vector against its original at cosine 1.0 (identical
    vectors collide in every seed-derived LSH table — deterministic
    recall), and pass engineered one-hot novel vectors through with a
    null match."""
    from apache_spark_link_prediction_spark.queries import QUERIES

    rows = QUERIES["streaming_embedding_ingest"](spark, sf_dir).collect()
    copies = {r["vec_id"]: r for r in rows if 5_000_000 <= r["vec_id"] < 6_000_000}
    novel = [r for r in rows if r["vec_id"] >= 6_000_000]
    assert len(copies) == 20 and len(novel) == 10
    for vid, r in copies.items():
        assert r["matched_id"] == vid - 5_000_000  # min match IS the original
        assert r["cosine"] == 1.0
    assert all(r["matched_id"] is None and r["cosine"] is None for r in novel)


def test_kafka_broker_smoke(spark, sf_dir):
    """Opt-in integration smoke against a REAL Kafka broker (VERDICT
    r06 item 7): write 50 events through write_kafka_stream, read them
    back through read_kafka_events, assert exact roundtrip through the
    broker. Requires BOTH the spark-sql-kafka connector jar on the
    session classpath AND a reachable broker; set

        SPARK_GRAFT_KAFKA_BOOTSTRAP=localhost:9092

    to enable (see README "Kafka endpoints" for the one-line broker +
    --packages recipe). Skips with a clear reason otherwise — the wire
    encode/decode itself is covered unconditionally by
    test_kafka_encode_decode_roundtrip."""
    import os
    import tempfile
    import uuid

    import pytest

    bootstrap = os.environ.get("SPARK_GRAFT_KAFKA_BOOTSTRAP")
    if not bootstrap:
        pytest.skip(
            "SPARK_GRAFT_KAFKA_BOOTSTRAP not set (needs a broker + "
            "spark-sql-kafka connector jar; see README Kafka recipe)"
        )
    # Connector jar presence — fail fast with a skip, not an opaque
    # ClassNotFoundException from the JVM.
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
    except Exception:
        pytest.skip(
            "spark-sql-kafka connector jar not on the classpath "
            "(--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<ver>)"
        )

    from apache_spark_link_prediction_spark.sources import load_table
    from apache_spark_link_prediction_spark.streaming.events import (
        read_kafka_events,
        write_kafka_stream,
    )

    topic = f"spark_graft_smoke_{uuid.uuid4().hex[:8]}"
    events = load_table(spark, sf_dir, "events").limit(50)
    src_dir = tempfile.mkdtemp(prefix="kafka_src_")
    ckpt = tempfile.mkdtemp(prefix="kafka_ckpt_")
    events.write.mode("overwrite").parquet(src_dir)
    stream = spark.readStream.schema(events.schema).parquet(src_dir)
    wq = write_kafka_stream(
        stream, bootstrap, topic, checkpoint_location=ckpt
    )
    try:
        wq.processAllAvailable()
    finally:
        wq.stop()

    back_stream = read_kafka_events(
        spark, bootstrap, topic, starting_offsets="earliest"
    )
    sink = tempfile.mkdtemp(prefix="kafka_sink_")
    rq = (
        back_stream.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="kafka_rck_"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        rq.processAllAvailable()
    finally:
        rq.stop()
    back = spark.read.parquet(sink)
    assert back.count() == 50
    a = {tuple(r) for r in events.collect()}
    b = {tuple(r) for r in back.select(*events.columns).collect()}
    assert a == b


def test_streaming_ema_stream_drains_in_one_batch(spark, sf_dir):
    """Pins the precondition of streaming_stateful_ema's hash oracle
    (promoted round 10): the bounded file stream must drain in ONE
    micro-batch, so the per-user fold order is the global ts sort the
    recursive-CTE oracle replays. If a maxFilesPerTrigger ever splits
    it, cross-batch arrival order would reorder the fold and the gate
    would silently depend on file order — this test fails first."""
    from apache_spark_link_prediction_spark.queries import _events_as_stream
    from apache_spark_link_prediction_spark.streaming.events import (
        streaming_user_ema,
    )

    agg = streaming_user_ema(_events_as_stream(spark, sf_dir))
    q = (
        agg.writeStream.outputMode("update")
        .format("memory")
        .queryName("ema_batch_pin")
        .start()
    )
    try:
        q.processAllAvailable()
        batch_ids = [p["batchId"] for p in q.recentProgress if p["numInputRows"] > 0]
    finally:
        q.stop()
    assert batch_ids == [0], f"stream split into batches {batch_ids}"

    # The oracle's other precondition (ADVICE r10): the fold order is
    # deterministic. With the (ts, value) secondary sort both sides now
    # tolerate duplicate per-user timestamps, but pin that the shipped
    # corpus ALSO has no (user_id, ts, value) duplicates, so any future
    # corpus change that could reorder the fold fails loudly here
    # rather than flickering the hash gate.
    from pyspark.sql import functions as F

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    dup = (
        events.groupBy("user_id", "ts", "value")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup == 0, f"{dup} duplicate (user_id, ts, value) triples"


def test_tws_running_stats_matches_batch(spark, sf_dir):
    """Spark 4 transformWithStateInPandas coverage
    (streaming.events.streaming_tws_running_stats): the running
    (count, centi-sum, centi-max) stream's final per-key emission must
    equal the batch GROUP BY — every fold is order-insensitive integer
    arithmetic, so the result is micro-batch-boundary-independent.

    ENV-GATED: the TWS state protocol runs a protobuf-based Python
    driver worker; this container ships no google.protobuf and pip is
    off-limits, so the test skips here and runs wherever protobuf
    exists (any standard pyspark 4 install)."""
    pytest.importorskip(
        "google.protobuf",
        reason="transformWithState's state server needs protobuf",
    )
    from pyspark.sql import functions as F

    from apache_spark_link_prediction_spark.queries import _events_as_stream
    from apache_spark_link_prediction_spark.sources.readers import load_table
    from apache_spark_link_prediction_spark.streaming.events import (
        run_stream_last_emission_per_group,
        streaming_tws_running_stats,
    )

    got = {
        r.event_type: (r.n, r.sum_centi, r.max_centi)
        for r in run_stream_last_emission_per_group(
            streaming_tws_running_stats(_events_as_stream(spark, sf_dir)),
            group_cols=["event_type"],
        ).collect()
    }
    centi = F.floor(F.col("value") * 100.0 + 0.5).cast("long")
    want = {
        r.event_type: (r.n, r.sum_centi, r.max_centi)
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(centi).alias("sum_centi"),
            F.max(centi).alias("max_centi"),
        )
        .collect()
    }
    assert got == want


def test_tws_gate_reason_still_holds():
    """PERMANENT-GATE PIN (round 16, VERDICT r15 item 1; decision
    recorded in BASELINE.md "Round 16"): transformWithStateInPandas
    stays a skipping pytest ONLY because this container ships no
    google.protobuf and installs are off-limits. This canary PASSES
    while that reason holds and FAILS the round the environment gains
    protobuf — at which point the TWS path must be promoted to a
    registry row with a drained batch-twin oracle (the
    streaming_custom_sessions pattern) and this test deleted, instead
    of the skip rotting into a permanently dead test."""
    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        return  # gate reason still holds
    raise AssertionError(
        "google.protobuf is now importable: promote "
        "streaming_tws_running_stats to a registry row (drained "
        "batch-twin oracle) and remove this canary + the BASELINE.md "
        "Round-16 permanent-gate note"
    )
