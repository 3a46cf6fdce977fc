"""Structured Streaming operators over the events table.

The reference is batch-only (SURVEY.md §1.1: "No streams"); this module
is the §7-step-7 extension: the engine's windowed/sessionized event
aggregations as streaming queries with watermarked late-data handling.
The batch twins (``tumbling_window_agg``, ``sessionize_events`` in
queries.py) are the oracle-checked semantics; these run the same logic
incrementally.

Local smoke: parquet readStream + memory sink + processAllAvailable()
drives a bounded batch through the streaming engine synchronously.
At scale the same plans run against Kafka with checkpointing — only the
source/sink lines change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.timeutils import epoch_seconds

# Schema of an events stream whose files store ts as a proper
# timestamp, as files written from sources.load_table do (see
# tests/test_streaming.py). The registry's entries open the testdata
# table in place instead, with its footer schema, and normalize ts on
# the stream (queries._events_as_stream).
EVENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)

# Inactivity gap (seconds) that closes a streaming_custom_sessions session.
_SESSION_GAP_S = 1800


def read_events_stream(
    spark: SparkSession, path: str, *, max_files_per_trigger: int = 4
) -> DataFrame:
    """File-based streaming source over parquet event files."""
    return (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def streaming_window_agg(
    events: DataFrame,
    *,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window count/sum per event_type with late-data
    watermark — the streaming twin of ``tumbling_window_agg``."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).start.alias("window_start"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
    )


def streaming_session_agg(events: DataFrame) -> DataFrame:
    """Per-user session aggregation via the native ``session_window``
    (30-minute gap, 2-hour watermark) — the streaming twin of
    ``sessionize_events``'s lag/cumsum formulation."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes").alias("session"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session.start").alias("session_start"),
            F.col("session.end").alias("session_end"),
            "n_events",
        )
    )


def streaming_dedup(
    events: DataFrame,
    *,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup: first occurrence per ``event_id`` wins,
    duplicate state expires past the watermark (bounded state — the
    property that makes exact dedup feasible on an unbounded 100 TB/day stream; a
    global ``dropDuplicates`` would grow state forever).

    Batch twin: ``row_number() over (partition by event_id order by ts) = 1``.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def streaming_enrich_static(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static enrichment join on ``event_type``: every
    micro-batch joins the (small) static dimension — broadcast,
    stateless, no watermark needed (unlike stream-stream joins, the static side is complete by
    definition). The 100 TB pattern for attaching slowly-changing
    reference data to a firehose; for dims that DO change mid-run, swap
    in a ``foreachBatch`` re-read or the CDC-upsert stream
    (streaming_cdc_latest)."""
    return events.join(F.broadcast(dim), on="event_type", how="left")


def streaming_interval_join(events: DataFrame, *, how: str = "inner") -> DataFrame:
    """Stream-stream inner join with an event-time range condition:
    each ``click`` event matches the same user's ``purchase`` events
    inside ``[click.ts, click.ts + 1 hour)`` — the attribution join.
    Both sides carry a 2-hour watermark.

    Both sides carry watermarks and the join predicate bounds right.ts
    relative to left.ts, which is exactly what Structured Streaming
    needs to evict join state: a buffered click can be dropped once the
    purchase-side watermark passes click.ts + interval, so state stays
    ~watermark+interval wide per key instead of unbounded. Inner-join
    matches emit immediately (append mode) — no watermark wait on
    output.

    Batch twin: the equivalent user_id equi-join + time-range predicate
    (see ``streaming_stream_join``'s oracle in queries.py)."""
    left = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    right = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("__r_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    # ``how="left_outer"``: unmatched clicks emit (purchase_id NULL) only
    # once the purchase-side watermark proves no match can still arrive
    # (click.ts + interval < watermark); clicks inside the final
    # watermark tail of a bounded stream therefore NEVER emit — that is
    # the documented outer-join contract, pinned in
    # tests/test_streaming.py.
    joined = left.join(
        right,
        (F.col("user_id") == F.col("__r_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") < F.col("c_ts") + F.expr("INTERVAL 3600 SECONDS")),
        how,
    )
    return joined.select(
        "click_id",
        "purchase_id",
        "user_id",
        F.round(
            epoch_seconds("p_ts") - epoch_seconds("c_ts"), 6
        ).alias("delay_s"),
    )


def run_stream_to_memory(
    agg: DataFrame, *, name: str, output_mode: str = "complete"
) -> DataFrame:
    """Drive a (bounded) streaming aggregation to completion through a
    memory sink; returns the result as a batch DataFrame. Test harness
    only — real deployments writeStream to kafka/parquet with
    checkpointLocation."""
    q = (
        agg.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return agg.sparkSession.sql(f"SELECT * FROM {name}")


def run_stream_last_emission_per_group(
    agg: DataFrame, *, group_cols: list[str]
) -> DataFrame:
    """Drive a bounded update-mode stream to completion via
    ``foreachBatch`` and return, per distinct ``group_cols`` value, the
    rows of that group's LAST emission (highest batch id in which the
    group appeared).

    This is the correct "final state per group" capture for update-mode
    operators whose emissions are not monotone (e.g. Misra-Gries counts
    shrink under prune, evicted keys vanish): a memory sink keeps every
    emission and a max-per-key over them reconstructs a state that never
    existed. Emission volume per batch is bounded by the operator
    (top-k × groups here), so the driver-side capture is O(batches ×
    emission), not O(stream). Test/bounded-batch harness only — a real
    deployment forwards each micro-batch to a keyed sink (kafka compact
    topic / upsert table) where last-write-wins gives the same result.
    """
    batches: list[tuple[int, list]] = []
    q = (
        agg.writeStream.outputMode("update")
        .foreachBatch(lambda df, bid: batches.append((bid, df.collect())))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    last_rows: dict[tuple, list] = {}
    for _, rows in sorted(batches, key=lambda t: t[0]):
        per_group: dict[tuple, list] = {}
        for r in rows:
            per_group.setdefault(tuple(r[c] for c in group_cols), []).append(r)
        last_rows.update(per_group)
    spark = agg.sparkSession
    flat = [r for rows in last_rows.values() for r in rows]
    return spark.createDataFrame(flat, schema=agg.schema)


def streaming_user_ema(
    events: DataFrame,
    *,
    alpha: float = 0.3,
) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-user exponential moving average of ``value`` (EMA is
    order-dependent — no built-in windowed agg expresses it).

    State per user = (event_count, ema) — two scalars, so state size is
    O(distinct users) regardless of stream length. Each micro-batch
    folds its (ts-sorted) new events into the state and emits the
    user's updated (n_events, ema). Arrow-batched like every pandas
    exchange; grouping shuffles once on user_id.

    Cross-batch event order follows micro-batch arrival (files/offsets),
    as with any stateful stream; within a batch, events fold in ts
    order.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdfs, state: "GroupState"):
        import pandas as pd

        if state.exists:
            n, ema = state.get
        else:
            n, ema = 0, 0.0
        # Secondary key `value` (ADVICE r10): (user_id, ts) uniqueness
        # holds on the shipped corpus, but pandas quicksort is
        # non-stable — without a tie-break a future corpus with
        # duplicate per-user timestamps would make the hash gate
        # nondeterministic. With ties on BOTH ts and value the fold is
        # order-invariant (equal values fold commutatively), so this
        # is fully deterministic for any corpus. The CTE oracle
        # orders by the same (ts, value) pair.
        rows = pd.concat(list(pdfs)).sort_values(["ts", "value"])
        for v in rows["value"]:
            ema = float(v) if n == 0 else alpha * float(v) + (1.0 - alpha) * ema
            n += 1
        state.update((n, ema))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "ema": [round(ema, 6)]}
        )

    return (
        events.withWatermark("ts", "35 days")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType="user_id long, n_events int, ema double",
            stateStructType="n int, ema double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_heavy_hitters(
    events: DataFrame,
    *,
    capacity: int = 64,
    top_k: int = 10,
) -> DataFrame:
    """Streaming heavy hitters: a per-group Misra-Gries summary held in
    stream state — bounded frequent-item tracking over an unbounded
    stream, which no built-in streaming agg expresses (a streaming
    groupBy(user).count() keeps state per DISTINCT user; this keeps at
    most ``capacity`` counters per event_type forever).

    Each micro-batch folds its user_ids into the group's counter dict
    (C-level ``Counter.update``) and applies the same mergeable-
    summaries prune as the batch operator (operators/sketches.py
    ``mg_prune`` — the summary after any prefix of micro-batches equals
    an MG summary of the concatenated stream, so every user with
    count > n/capacity so far is guaranteed present). Emits the current
    top-k approximate counts per group each batch (update mode);
    approximate counts are MG lower bounds, exact ≤ true count.

    State schema is two parallel arrays (keys, counts) — fixed columnar
    shape, O(capacity) per group regardless of stream length.
    """
    from collections import Counter

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.sketches import mg_prune

    def fn(key, pdfs, state: "GroupState"):
        import pandas as pd

        if state.exists:
            keys, counts = state.get
            counters = Counter(dict(zip(keys, counts)))
        else:
            counters = Counter()
        for pdf in pdfs:
            counters.update(pdf["user_id"].to_numpy())
            if len(counters) > 4 * capacity:
                counters = mg_prune(counters, capacity)
        if len(counters) > capacity:
            counters = mg_prune(counters, capacity)
        state.update(
            ([int(k) for k in counters], [int(v) for v in counters.values()])
        )
        top = counters.most_common(top_k)
        yield pd.DataFrame(
            {
                "event_type": [key[0]] * len(top),
                "user_id": [int(u) for u, _ in top],
                "mg_count": [int(c) for _, c in top],
            }
        )

    return (
        events.withWatermark("ts", "35 days")
        .groupBy("event_type")
        .applyInPandasWithState(
            fn,
            outputStructType="event_type string, user_id long, mg_count long",
            stateStructType="keys array<long>, counts array<long>",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_custom_sessions(events: DataFrame) -> DataFrame:
    """Custom stateful sessionization with event-time state TIMEOUT —
    the full ``applyInPandasWithState`` lifecycle: per-user open-session
    state (start, last_ts, n_events) folds new events in ts order,
    closes a session when a gap > 30 minutes appears in-batch, and
    — the part ``session_window`` can't express customly — closes idle
    sessions via ``GroupStateTimeout.EventTimeTimeout`` when the
    30-minute watermark passes last_ts + gap, emitting on timeout with no new
    input for the key. State is O(open sessions); closed sessions leave
    state immediately.

    Emits (user_id, session_start, n_events) for CLOSED sessions only —
    sessions still open when a bounded test stream ends stay in state
    (exactly what happens on a real unbounded stream).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fn(key, pdfs, state):
        import pandas as pd

        rows_out = []
        if state.hasTimedOut:
            if state.exists:
                start, last, n = state.get
                rows_out.append((key[0], start, n))
                state.remove()
        else:
            rows = pd.concat(list(pdfs))
            if len(rows):
                rows = rows.sort_values("ts")
                if state.exists:
                    start, last, n = state.get
                else:
                    start, last, n = None, None, 0
                for ts in rows["ts"]:
                    t = ts.value // 1000  # pandas ns -> µs
                    if start is None:
                        start, last, n = t, t, 1
                    elif t - last > _SESSION_GAP_S * 1_000_000:
                        rows_out.append((key[0], start, n))
                        start, last, n = t, t, 1
                    else:
                        last, n = t, n + 1
                state.update((start, last, n))
                state.setTimeoutTimestamp(last // 1000 + _SESSION_GAP_S * 1000)
        yield pd.DataFrame(
            rows_out, columns=["user_id", "session_start_us", "n_events"]
        )

    return (
        events.withWatermark("ts", "30 minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType="user_id long, session_start_us long, n_events int",
            stateStructType="start long, last long, n int",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def streaming_cdc_latest(changes: DataFrame) -> DataFrame:
    """Streaming CDC latest-wins over an orders change stream: per
    ``o_custkey``, keep the change row with the greatest
    (``o_orderdate``, ``o_orderkey``) and its ``o_totalprice``, and emit
    the current winner each micro-batch (update mode). The streaming twin of the batch MERGE
    collapse in queries.cdc_upsert_latest.

    Latest-wins is a max over all changes seen, so the final state is
    INDEPENDENT of micro-batch boundaries and arrival order — unlike
    most stateful streams, this one is exactly batch-equivalent, which
    is what lets the registry query share the batch twin's SQL oracle.
    State per key is one (ord_us, ord_id, value) triple — O(distinct
    keys), the same state class as any keyed compacted topic."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdfs, state: "GroupState"):
        import pandas as pd

        if state.exists:
            best_us, best_id, best_val = state.get
        else:
            best_us, best_id, best_val = None, None, None
        for pdf in pdfs:
            for ts, oid, val in zip(
                pdf["o_orderdate"], pdf["o_orderkey"], pdf["o_totalprice"]
            ):
                us = ts.value // 1000  # pandas ns -> µs
                if best_us is None or (us, oid) > (best_us, best_id):
                    best_us, best_id, best_val = int(us), int(oid), float(val)
        state.update((best_us, best_id, best_val))
        yield pd.DataFrame(
            {"key": [key[0]], "ord_us": [best_us], "value": [best_val]}
        )

    return (
        changes.groupBy("o_custkey")
        .applyInPandasWithState(
            fn,
            outputStructType="key long, ord_us long, value double",
            stateStructType="ord_us long, ord_id long, value double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_neardup_suppress(docs: DataFrame) -> DataFrame:
    """Streaming NEAR-duplicate suppression — the stateful-stream twin
    of batch ``signature_band_pairs``: each arriving document's 32-bit
    SimHash (computed map-side with the single-expression
    ``operators.dedup.simhash`` — no extra shuffle) is exploded into its
    4 8-bit pigeonhole blocks (``operators.dedup.signature_block_keys``,
    the batch join's own buckets); per (block, key) bucket a bounded
    GroupState of previously-admitted (signature, keeper) pairs flags
    the document if its full signature is within Hamming 3 of any of
    them.

    Emits one row per (document, block) — ``(doc_id, block, dup_of)``
    with ``dup_of`` null when that block saw no match. A document is
    suppressed iff ANY block flags it; that final any()-fold is a
    batch-side ``groupBy(doc_id).min(dup_of)`` over the (tiny) flag
    stream in the registry query — Structured Streaming does not
    compose an aggregation after ``applyInPandasWithState`` in append
    mode, and the fold is |docs|-sized, not state-sized.

    Semantics (greedy, arrival-ordered, the online mirror of the batch
    pigeonhole join): within a bucket, documents are folded in
    (doc_id)-order per micro-batch; a match reports the EARLIEST
    admitted keeper; a matched document is NOT admitted to state (its
    keeper already represents the cluster — state holds one entry per
    near-dup cluster, not per doc). Buckets are independent, so a doc
    suppressed in one block may still be admitted (and later matched)
    in another — ``dup_of`` pointers can chain exactly like the pair
    graph feeding dedup_clusters; follow them transitively for cluster
    roots. State per bucket is capped at 256 signatures (16 bytes
    each) — past the cap
    new signatures pass through unsuppressed, the same bounded-recall
    contract as the batch hot-bucket cap. Production deployments add a
    GroupState timeout so idle buckets expire; the bounded test harness
    uses NoTimeout."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.dedup import signature_block_keys, simhash

    sig = docs.select(F.col("doc_id"), simhash("text", 32).alias("__sh"))
    banded = sig.select(
        "doc_id",
        "__sh",
        F.posexplode(signature_block_keys(F.col("__sh"), 32, 4)).alias("__block", "__key"),
    )

    def fn(key, pdfs, state: "GroupState"):
        import pandas as pd

        sigs, keepers = (list(state.get) if state.exists else ([], []))
        sigs, keepers = list(sigs), list(keepers)
        out_ids, out_blocks, out_dup = [], [], []
        block = int(key[0])
        # Drain the WHOLE iterator before sorting: ``pdfs`` yields one
        # pandas chunk per Arrow batch, and a bucket whose micro-batch
        # exceeds the Arrow batch size would otherwise be folded
        # chunk-by-chunk — silently breaking the documented
        # deterministic doc_id-order greedy semantics at exactly the
        # batch sizes where it matters (ADVICE r06, medium). Per-group
        # row volume is the only cost; state stays bounded regardless.
        rows = [
            (int(doc_id), int(sh))
            for pdf in pdfs
            for doc_id, sh in zip(pdf["doc_id"], pdf["__sh"])
        ]
        for doc_id, sh in sorted(rows):
            dup_of = None
            for s, k in zip(sigs, keepers):
                if bin(sh ^ s).count("1") <= 3:
                    dup_of = k
                    break
            if dup_of is None and len(sigs) < 256:
                sigs.append(sh)
                keepers.append(doc_id)
            out_ids.append(doc_id)
            out_blocks.append(block)
            out_dup.append(dup_of)
        state.update((sigs, keepers))
        yield pd.DataFrame(
            {
                "doc_id": pd.array(out_ids, dtype="int64"),
                "block": pd.array(out_blocks, dtype="int32"),
                "dup_of": pd.array(out_dup, dtype="Int64"),
            }
        )

    return banded.groupBy("__block", "__key").applyInPandasWithState(
        fn,
        outputStructType="doc_id long, block int, dup_of long",
        stateStructType="sigs array<long>, keepers array<long>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_text_curation(
    docs_stream: DataFrame,
    bench_grams: DataFrame,
) -> DataFrame:
    """Always-on training-text curation over a document STREAM — the
    text twin of the media ingest tier: quality gating map-side
    (C4/Gopher-style codegen'd signals from functions.textstats: at
    least 5 tokens, punctuation at most 0.3 of the characters) and
    benchmark decontamination via a stream-static LEFT SEMI join at
    word-5-gram level against a static benchmark-gram set.

    Emits tagged rows from one self-unioned stream: ``('pass', doc_id)``
    for documents clearing the quality gate, ``('contaminated',
    doc_id)`` for gated documents sharing ANY n-gram with the benchmark
    set (one row per matching gram — the per-doc distinct/anti fold is
    a tiny batch groupBy downstream, the same composition contract as
    streaming_neardup_suppress). Zero streaming state: the gate is a
    filter, the decontamination a dimension join AQE can broadcast —
    this tier runs forever at any rate; the stateful suppressor handles
    within-stream duplicate text.

    The punct gate compares RAW counts — ``punct_count <= n_chars *
    0.3`` — the same cross-multiplied convention as
    ``quality_features``'s micro-unit columns (``punct_ratio_micro``
    etc., BIGINT ``(10^6·num) div den`` since the r15 integer-exact
    migration): integer counts times one IEEE multiply is
    bit-deterministic in every engine, which is what lets this tier
    carry a full DuckDB hash oracle (VERDICT r06 item 8) instead of a
    rows-only row; a rounded-DOUBLE-ratio gate would re-import the
    round(double, n) version-divergence that made
    numeric_semantics_suite driver-red."""
    from ..functions.pairwise import tokenize
    from ..functions.textstats import punct_count
    from ..operators.dedup import word_shingles

    gated = docs_stream.select(
        "doc_id",
        "text",
        F.size(tokenize(F.col("text"))).alias("__nt"),
        punct_count(F.col("text")).alias("__np"),
        F.length(F.col("text")).alias("__nc"),
    ).filter(
        (F.col("__nt") >= 5)
        & (F.col("__np").cast("double") <= F.col("__nc").cast("double") * F.lit(0.3))
    )
    passed = gated.select(F.lit("pass").alias("tag"), "doc_id")
    contaminated = (
        gated.select("doc_id", F.explode(word_shingles("text", 5)).alias("gram"))
        .join(bench_grams, on="gram", how="left_semi")
        .select(F.lit("contaminated").alias("tag"), "doc_id")
    )
    return passed.unionByName(contaminated)


# ---------------------------------------------------------------------------
# Kafka endpoints
# ---------------------------------------------------------------------------
#
# The wire format is JSON event records in the Kafka value, keyed by
# user_id. encode/decode are plain column transforms (testable on batch
# DataFrames shaped like Kafka records — tests/test_streaming.py); only
# the format("kafka") source/sink lines need the spark-sql-kafka
# connector jar, which this container does not ship — reaching them
# without it raises Spark's own AnalysisException at load()/start().


# Microsecond timestamps on the wire: Spark's default JSON
# timestampFormat is millisecond-precision, which silently truncates
# event times on the encode side (roundtrip-pinned in tests).
_KAFKA_JSON_OPTS = {"timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"}


def kafka_source_options(
    bootstrap_servers: str,
    topic: str,
    *,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = 100_000,
    fail_on_data_loss: bool = False,
) -> dict[str, str]:
    """Source options for a Kafka events stream.

    ``maxOffsetsPerTrigger`` bounds micro-batch size (backpressure —
    without it the first batch after downtime is the whole backlog);
    ``failOnDataLoss=false`` keeps the query alive across topic
    retention evictions (log + skip, the standard at-scale posture).
    """
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        "failOnDataLoss": "true" if fail_on_data_loss else "false",
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def decode_kafka_events(raw: DataFrame) -> DataFrame:
    """Kafka record frame (binary key/value, topic, partition, offset)
    → typed events frame (EVENTS_STREAM_SCHEMA).

    One ``from_json`` parse per record (parse-once-into-struct, not
    per-path probes); undecodable values are quarantined out via the
    corrupt-record column (PERMISSIVE parse gives an all-null struct,
    NOT a null struct, so ``isNotNull`` on the struct can't detect
    them), never crashing the stream."""
    # fresh StructType — StructType.add would mutate the shared module
    # constant in place
    schema = T.StructType(
        [*EVENTS_STREAM_SCHEMA.fields, T.StructField("_corrupt_record", T.StringType(), True)]
    )
    opts = {**_KAFKA_JSON_OPTS, "columnNameOfCorruptRecord": "_corrupt_record"}
    parsed = raw.select(
        F.from_json(F.col("value").cast("string"), schema, opts).alias("__e")
    )
    return (
        parsed.filter(
            F.col("__e").isNotNull() & F.col("__e._corrupt_record").isNull()
        )
        .select("__e.*")
        .drop("_corrupt_record")
    )


def encode_events_for_kafka(events: DataFrame) -> DataFrame:
    """Typed events frame → Kafka sink frame: key = user_id bytes
    (partition affinity per user preserves per-key event order), value =
    JSON of the full record."""
    return events.select(
        F.col("user_id").cast("string").cast("binary").alias("key"),
        F.to_json(
            F.struct(*[F.col(c) for c in events.columns]), _KAFKA_JSON_OPTS
        ).alias("value"),
    )


def read_kafka_events(
    spark: SparkSession, bootstrap_servers: str, topic: str, **source_kwargs
) -> DataFrame:
    """Streaming events source from Kafka: options → raw records →
    decode. Downstream plans are identical to the file-source ones —
    swap this for ``read_events_stream`` and nothing else changes."""
    raw = (
        spark.readStream.format("kafka")
        .options(**kafka_source_options(bootstrap_servers, topic, **source_kwargs))
        .load()
    )
    return decode_kafka_events(raw)


def write_kafka_stream(
    events: DataFrame,
    bootstrap_servers: str,
    topic: str,
    *,
    checkpoint_location: str,
):
    """Append-mode streaming events sink to Kafka with exactly-once-per-restart
    checkpointing (Kafka's at-least-once delivery + downstream
    idempotent/dedup consumption is the standard contract). Returns the
    started StreamingQuery."""
    return (
        encode_events_for_kafka(events)
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint_location)
        .outputMode("append")
        .start()
    )


def streaming_tws_running_stats(events: DataFrame) -> DataFrame:
    """Per-event-type running (n, sum_centi, max_centi) via Spark 4's
    ``transformWithStateInPandas`` — the arbitrary-stateful API that
    supersedes ``applyInPandasWithState`` (SPARK-40434 →
    transformWithState, Spark 4.0): state is a named, schema'd
    ``ValueState`` on a ``StatefulProcessor`` handle instead of one
    positional tuple, so operators compose state variables and evolve
    their schemas. This operator exercises the new surface end to end
    next to the five applyInPandasWithState ops above.

    Per micro-batch each key folds its rows into (count, centi-sum,
    centi-max) and emits the RUNNING totals (update mode). All three
    folds are commutative+associative, so the final emission is exactly
    the batch GROUP BY — independent of micro-batch boundaries — which
    is what lets the registry query share a plain SQL oracle. ``value``
    enters the state as BIGINT centi-units via the repo's closed-form
    half-away pin (floor(v*100+0.5)); no float ever sits in state, so
    accumulation order cannot produce engine-visible drift. State per
    key is three longs — O(|event types|) forever."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._stats = handle.getValueState(
                "stats", "n long, sum_centi long, max_centi long"
            )

        def handleInputRows(self, key, rows, timer_values):
            import numpy as np
            import pandas as pd

            n, s, m = (
                tuple(self._stats.get()) if self._stats.exists() else (0, 0, None)
            )
            for pdf in rows:
                centi = np.floor(
                    pdf["value"].to_numpy(dtype="float64") * 100.0 + 0.5
                ).astype("int64")
                if len(centi):
                    n += int(len(centi))
                    s += int(centi.sum())
                    bmax = int(centi.max())
                    m = bmax if m is None else max(m, bmax)
            self._stats.update((n, s, m))
            yield pd.DataFrame(
                {
                    "event_type": [key[0]],
                    "n": [n],
                    "sum_centi": [s],
                    "max_centi": [m],
                }
            )

        def close(self) -> None:
            pass

    return (
        events.groupBy("event_type")
        .transformWithStateInPandas(
            statefulProcessor=RunningStats(),
            outputStructType=(
                "event_type string, n long, sum_centi long, max_centi long"
            ),
            outputMode="Update",
            timeMode="None",
        )
    )
