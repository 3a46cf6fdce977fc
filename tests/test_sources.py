"""Reader tests: the reference's four scan formats (S1-S4) parsed with
exact positional/separator semantics (Predictor.scala:83-203), plus the
deterministic sample (S6)."""

from __future__ import annotations

import os

import pytest

from apache_spark_link_prediction_spark.sources import (
    read_edges,
    read_ground_truth,
    read_labeled_edges,
    read_node_info,
    sample_deterministic,
)


def test_read_node_info_quoted_csv(spark, tmp_path):
    p = tmp_path / "node_information.csv"
    p.write_text(
        '1001,1999,"A title","Smith, J., Doe, A.",Nature,"An abstract, with comma"\n'
        "1002,,No year,,,\n"
    )
    df = read_node_info(spark, str(p))
    rows = {r["srcId"]: r for r in df.collect()}
    assert rows["1001"]["authors"] == "Smith, J., Doe, A."  # quoted commas kept
    assert rows["1001"]["abstract"] == "An abstract, with comma"
    assert rows["1002"]["year"] is None  # empty → null (pre-fill)
    assert df.columns == ["srcId", "year", "title", "authors", "journal", "abstract"]


def test_read_labeled_edges_space_separated(spark, tmp_path):
    p = tmp_path / "training_set.txt"
    p.write_text("9510123 9502114 1\n9707075 9604178 0\n")
    rows = read_labeled_edges(spark, str(p)).collect()
    assert [(r["srcId"], r["dstId"], r["label"]) for r in rows] == [
        ("9510123", "9502114", 1),
        ("9707075", "9604178", 0),
    ]


def test_read_edges_and_ground_truth_separators(spark, tmp_path):
    e = tmp_path / "testing_set.txt"
    e.write_text("1182 9807076\n")
    g = tmp_path / "truth.txt"
    g.write_text("1182\t9807076\n")
    assert read_edges(spark, str(e)).first()["dstId"] == "9807076"
    assert read_ground_truth(spark, str(g)).first()["dstId"] == "9807076"
    # variable-width string ids, no zero-pad normalization (§2.7-4)
    assert read_edges(spark, str(e)).first()["srcId"] == "1182"


def test_sample_deterministic_seed(spark, docs):
    a = sample_deterministic(docs, 0.2).select("doc_id").collect()
    b = sample_deterministic(docs, 0.2).select("doc_id").collect()
    assert [r["doc_id"] for r in a] == [r["doc_id"] for r in b]
    assert sample_deterministic(docs, 1.0) is docs  # fraction 1 short-circuits


def test_bucketed_join_elides_shuffle(spark, sf_dir):
    """Co-bucketed tables joined on the bucket key must plan without a
    shuffle (no Exchange below the join) — bucketing's whole point."""
    from apache_spark_link_prediction_spark.sources.readers import load_table, write_bucketed

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    write_bucketed(orders, "orders_b", bucket_by="o_orderkey", num_buckets=8, sort_by="o_orderkey")
    write_bucketed(li, "lineitem_b", bucket_by="l_orderkey", num_buckets=8, sort_by="l_orderkey")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a, b = spark.table("orders_b"), spark.table("lineitem_b")
        j = a.join(b, a.o_orderkey == b.l_orderkey)
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        # and it actually runs
        assert j.count() == a.join(b, a.o_orderkey == b.l_orderkey).count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_compact_parquet_reduces_file_count(spark, tmp_path):
    """64-way fragmented write → compaction sized from source bytes →
    few files, identical rows."""
    from apache_spark_link_prediction_spark.sources.readers import compact_parquet

    src = str(tmp_path / "fragmented")
    dst = str(tmp_path / "compacted")
    df = spark.range(100_000).selectExpr("id", "id % 7 AS k", "CAST(id AS STRING) AS s")
    df.repartition(64).write.mode("overwrite").parquet(src)
    import os

    n_src = sum(f.endswith(".parquet") for f in os.listdir(src))
    assert n_src == 64
    total = sum(
        os.path.getsize(os.path.join(src, f))
        for f in os.listdir(src)
        if f.endswith(".parquet")
    )
    planned = compact_parquet(spark, src, dst, target_file_bytes=total // 4 + 1)
    n_dst = sum(f.endswith(".parquet") for f in os.listdir(dst))
    assert n_dst == planned <= 4
    assert spark.read.parquet(dst).count() == 100_000
    got = spark.read.parquet(dst).selectExpr("sum(id)", "sum(k)").first()
    want = df.selectExpr("sum(id)", "sum(k)").first()
    assert got == want


def test_load_table_normalizes_every_ts_encoding(spark, tmp_path):
    """The driver's testdata has shipped events.ts as TIMESTAMP(NANOS)
    and as timestamp[us] NTZ (the round-3 regeneration that broke every
    ts.cast('double') downstream). load_table must deliver session-zone
    TimestampType for BOTH encodings, value-identically, and
    epoch_seconds must be legal on the result."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from apache_spark_link_prediction_spark.functions.timeutils import epoch_seconds
    from apache_spark_link_prediction_spark.sources.readers import load_table

    micros = [1_700_000_000_000_000, 1_700_000_123_456_789]
    base = {
        "event_id": [1, 2],
        "user_id": [10, 20],
        "event_type": ["a", "b"],
        "value": [1.0, 2.0],
        "props": ["{}", "{}"],
    }

    ntz_dir = tmp_path / "ntz"
    ntz_dir.mkdir()
    pq.write_table(
        pa.table({**base, "ts": pa.array(micros, type=pa.timestamp("us"))}),
        ntz_dir / "events.parquet",
    )
    nanos_dir = tmp_path / "nanos"
    nanos_dir.mkdir()
    pq.write_table(
        pa.table({**base, "ts": pa.array([m * 1000 for m in micros], type=pa.timestamp("ns"))}),
        nanos_dir / "events.parquet",
    )

    got = {}
    for tag, d in (("ntz", ntz_dir), ("nanos", nanos_dir)):
        df = load_table(spark, str(d), "events")
        assert dict(df.dtypes)["ts"] == "timestamp", f"{tag}: not session-zone ts"
        rows = (
            df.select("event_id", F.unix_micros("ts").alias("us"),
                      epoch_seconds("ts").alias("es"))
            .orderBy("event_id")
            .collect()
        )
        got[tag] = [(r.event_id, r.us) for r in rows]
        assert all(abs(r.es - r.us / 1e6) < 1e-6 for r in rows), tag
    assert got["ntz"] == got["nanos"] == list(zip([1, 2], micros))


def _perfbench_style_table(tmp_path):
    """A table written the way perfbench's generator writes one: a
    directory of pyarrow part files, here with a list column and both
    timestamp encodings."""
    from decimal import Decimal

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "multi.parquet"
    d.mkdir()
    for j in range(3):
        pq.write_table(
            pa.table({
                "id": pa.array([j, j + 10], type=pa.int64()),
                "name": [f"n{j}", None],
                "price": pa.array([Decimal("1.50"), Decimal("2.50")], type=pa.decimal128(12, 2)),
                "vec": pa.array([[1.0, 2.0], [3.0]], type=pa.list_(pa.float32())),
                "at_us": pa.array([1, 2], type=pa.timestamp("us")),
                "at_ns": pa.array([1000, 2000], type=pa.timestamp("ns")),
            }),
            d / f"part-{j}.parquet",
        )
    return str(d)


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_load_table_declares_the_inferred_schema_and_fires_no_job(
    spark, count_jobs, sf_dir, sf
):
    """load_table declares the footer schema instead of letting Spark
    infer it: the schema is the one ``spark.read.parquet`` infers (with
    ``events.ts`` then normalized), and building the read fires no job
    (inference fired one footer-read job per load)."""
    from pyspark.sql import types as T

    from apache_spark_link_prediction_spark.sources.readers import (
        TESTDATA_TABLES,
        load_table,
        parquet_schema,
    )

    sf_dir = os.path.join(os.path.dirname(sf_dir), sf)
    if not os.path.isdir(sf_dir):
        pytest.skip(f"no {sf} testdata")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for name in TESTDATA_TABLES:
        path = f"{sf_dir}/{name}.parquet"
        inferred = spark.read.parquet(path).schema
        assert parquet_schema(path) == inferred, name
        df, jobs = count_jobs(lambda: load_table(spark, sf_dir, name))
        assert jobs == 0, (name, jobs)
        if name == "events":
            inferred = T.StructType([
                T.StructField(f.name, T.TimestampType(), f.nullable) if f.name == "ts" else f
                for f in inferred
            ])
        assert df.schema == inferred, name


@pytest.mark.parametrize("writer", ["pyarrow", "spark"])
def test_parquet_schema_of_a_multi_file_table(spark, count_jobs, tmp_path, writer):
    """A directory of part files declares the same schema Spark infers
    — lists, decimals, naive µs timestamps and NANOS-as-long included —
    and reads back the same rows, whether pyarrow wrote it (perfbench's
    layout) or Spark did (the 10× bench replica's: session-zone
    timestamps as legacy INT96, which pyarrow also reports as
    ``timestamp[ns]``)."""
    from pyspark.sql import functions as F

    from apache_spark_link_prediction_spark.sources.readers import parquet_schema

    path = _perfbench_style_table(tmp_path)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if writer == "spark":
        src, path = path, str(tmp_path / "spark.parquet")
        spark.read.parquet(src).withColumn(
            "at_ltz", F.col("at_us").cast("timestamp")
        ).repartition(3).write.parquet(path)
    inferred = spark.read.parquet(path)
    declared, jobs = count_jobs(lambda: spark.read.schema(parquet_schema(path)).parquet(path))
    assert jobs == 0
    assert declared.schema == inferred.schema
    assert dict(declared.dtypes)["at_ns"] == "bigint"
    assert sorted(map(tuple, declared.collect())) == sorted(map(tuple, inferred.collect()))


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Schema evolution across parquet files (a v2 writer added a
    column): mergeSchema unifies old+new footers, old rows read the new
    column as NULL — the contract a long-lived 100 TB table directory
    depends on as producers evolve."""
    from pyspark.sql import functions as F

    v1 = spark.range(0, 5).select(F.col("id"), F.lit("old").alias("source"))
    v2 = spark.range(5, 8).select(
        F.col("id"), F.lit("new").alias("source"), (F.col("id") * 2).alias("score")
    )
    v1.write.parquet(str(tmp_path / "t"), mode="append")
    v2.write.parquet(str(tmp_path / "t"), mode="append")

    merged = spark.read.option("mergeSchema", "true").parquet(str(tmp_path / "t"))
    assert set(merged.columns) == {"id", "source", "score"}
    assert merged.count() == 8
    assert merged.filter(F.col("source") == "old").filter(F.col("score").isNull()).count() == 5
    assert merged.filter(F.col("source") == "new").filter(F.col("score").isNotNull()).count() == 3


def test_jsonl_roundtrip_with_schema(spark, tmp_path):
    """JSONL sink/source round-trip: schema'd read preserves types and
    values (incl. nulls and unicode), gzip files still read
    transparently, and a malformed line surfaces as a null row under
    PERMISSIVE rather than crashing the scan."""
    from pyspark.sql import types as T

    from apache_spark_link_prediction_spark.sources.readers import read_jsonl, write_jsonl

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    rows = [(1, "plain", 0.5), (2, "unicode é×∑", None), (3, None, -1.25)]
    df = spark.createDataFrame(rows, schema)
    path = str(tmp_path / "docs_jsonl")
    write_jsonl(df, path)
    back = read_jsonl(spark, path, schema)
    assert sorted(back.collect()) == sorted(df.collect())

    # malformed line -> PERMISSIVE null row, scan survives
    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "part-0.json").write_text('{"doc_id": 1, "text": "ok"}\n{not json\n')
    got = read_jsonl(spark, str(bad), schema).collect()
    assert len(got) == 2 and any(r.doc_id is None for r in got)


def test_orc_roundtrip_pushdown_and_pruning(spark, tmp_path):
    """ORC sink/source round-trip with the same scan contract the
    parquet path has: values survive, the filter reaches the ORC scan
    (searchArgument/pushed filters in the plan), and partition pruning
    limits the directories read."""
    from apache_spark_link_prediction_spark.sources.readers import read_orc, write_orc

    df = spark.createDataFrame(
        [(i, f"t{i}", i % 3) for i in range(100)], "id long, txt string, bucket int"
    )
    path = str(tmp_path / "docs_orc")
    write_orc(df, path, partition_by=["bucket"])
    back = read_orc(spark, path)
    assert back.count() == 100
    assert sorted(r.id for r in back.filter("bucket = 1").collect()) == sorted(
        i for i in range(100) if i % 3 == 1
    )
    plan = back.filter("id < 10").select("id")._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(id), LessThan(id,10)" in plan or "LessThan(id,10)" in plan
    # partition pruning: only one of three bucket dirs in the scan
    pruned = back.filter("bucket = 2")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in pruned


def test_python_datasource_partitioned_deterministic(spark):
    """The custom Python DataSource yields exactly the closed-form rows
    (synthetic_row is the shared truth), across ALL partitions with no
    gaps or dupes, and re-reading is deterministic."""
    from apache_spark_link_prediction_spark.sources.pyds import (
        register_synthetic_source,
        synthetic_row,
    )

    register_synthetic_source(spark)
    df = (
        spark.read.format("synthetic_events")
        .option("n", 997)  # prime: uneven partition splits exercised
        .option("partitions", 7)
        .load()
    )
    got = sorted((r.event_id, r.bucket, r.value) for r in df.collect())
    want = sorted(synthetic_row(i) for i in range(997))
    assert got == want
    assert df.rdd.getNumPartitions() == 7


def test_binary_file_source_feeds_multimodal_pipeline(spark, tmp_path):
    """binaryFile connector → MEDIA_SCHEMA adapter → pHash: the real
    media-lake ingestion path (files on disk, not parquet payloads),
    with pathGlobFilter pruning non-matching extensions at listing."""
    import pyspark.sql.functions as F

    from apache_spark_link_prediction_spark.operators.multimodal import (
        encode_png,
        image_phash,
    )
    from apache_spark_link_prediction_spark.sources.readers import read_binary_files

    d = tmp_path / "media"
    d.mkdir()
    n = 16 * 16
    for i in range(6):
        pixels = bytes(((2 * (i % 2) + 3) * j + (j * j) // 7) % 256 for j in range(n))
        (d / f"img_{i}.png").write_bytes(encode_png(16, 16, pixels, color_type=0))
    (d / "notes.txt").write_text("not an image")

    files = read_binary_files(spark, str(d), glob="*.png")
    assert files.count() == 6  # the .txt never enters the frame
    media = files.select(
        F.regexp_extract(F.col("path"), r"img_(\d+)\.png", 1)
        .cast("long")
        .alias("media_id"),
        F.lit("image").alias("modality"),
        F.lit("image/png").alias("mime"),
        F.col("content").alias("payload"),
    )
    hashes = {r.media_id: r.phash for r in image_phash(media).collect()}
    assert len(hashes) == 6 and all(v is not None for v in hashes.values())
    # files with the same generator class hash identically; the two
    # classes are structurally different content → far apart
    assert hashes[0] == hashes[2] == hashes[4]
    assert hashes[1] == hashes[3] == hashes[5]
    ham = bin((hashes[0] ^ hashes[1]) & (2**64 - 1)).count("1")
    assert ham > 10


def test_parquet_schema_evolution_mergeschema(spark, tmp_path):
    """Lakehouse schema evolution: partitions written before/after a
    column was added must read as ONE unified schema with nulls for the
    missing column — and without mergeSchema, footer-sampling keeps the
    first schema (both behaviors pinned)."""
    d = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, v string").write.parquet(f"{d}/p=1")
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, v string, score double"
    ).write.parquet(f"{d}/p=2")
    merged = spark.read.option("mergeSchema", "true").parquet(d)
    assert set(merged.columns) == {"id", "v", "score", "p"}
    rows = {r.id: r.score for r in merged.collect()}
    assert rows == {1: None, 2: 9.5}


def test_parquet_codec_matrix_roundtrip(spark, tmp_path):
    """Compression-codec coverage: zstd / snappy / gzip / uncompressed
    parquet all round-trip the same frame bit-for-bit."""
    import pyspark.sql.functions as F

    df = spark.range(1000).select(
        "id", (F.col("id") % 7).alias("k"), F.sha1(F.col("id").cast("string")).alias("s")
    )
    want = sorted((r.id, r.k, r.s) for r in df.collect())
    for codec in ("zstd", "snappy", "gzip", "uncompressed"):
        p = str(tmp_path / codec)
        df.write.option("compression", codec).parquet(p)
        got = sorted((r.id, r.k, r.s) for r in spark.read.parquet(p).collect())
        assert got == want, codec


def test_corrupt_parquet_file_handling(spark, tmp_path):
    """Operational contract for a dirty data lake: with
    ignoreCorruptFiles the good files' rows survive a garbage file in
    the directory; without it the read fails loudly (never silently
    drops)."""
    import pytest

    d = tmp_path / "lake"
    spark.range(10).write.parquet(str(d / "good1"))
    spark.range(10, 20).write.parquet(str(d / "good2"))
    (d / "good1" / "part-corrupt.snappy.parquet").write_bytes(b"PAR1 not really")

    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try:
        got = sorted(
            r.id for r in spark.read.parquet(str(d / "good1"), str(d / "good2")).collect()
        )
        assert got == list(range(20))
    finally:
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", "false")
    with pytest.raises(Exception):
        spark.read.parquet(str(d / "good1")).collect()


def test_native_xml_source_roundtrip(spark, tmp_path):
    """Spark 4 native XML connector (rowTag reads, from_xml/to_xml
    expressions): schema'd ingest of nested rows plus the scalar
    parse/serialize round trip."""
    import pyspark.sql.functions as F

    d = tmp_path / "xmlsrc"
    d.mkdir()
    (d / "docs.xml").write_text(
        "<docs>"
        + "".join(
            f"<doc><doc_id>{i}</doc_id><lang>en</lang><n>{i * 7}</n></doc>"
            for i in range(6)
        )
        + "</docs>"
    )
    df = (
        spark.read.format("xml")
        .option("rowTag", "doc")
        .schema("doc_id long, lang string, n long")
        .load(str(d))
    )
    assert sorted((r.doc_id, r.n) for r in df.collect()) == [
        (i, i * 7) for i in range(6)
    ]
    # expression tier: to_xml -> from_xml is identity on the struct
    back = df.select(
        F.from_xml(
            F.to_xml(F.struct("doc_id", "lang", "n")), "doc_id long, lang string, n long"
        ).alias("s")
    ).select("s.doc_id", "s.n")
    assert sorted((r.doc_id, r.n) for r in back.collect()) == [
        (i, i * 7) for i in range(6)
    ]


def test_dynamic_partition_overwrite_replaces_only_touched(spark, tmp_path):
    """Lakehouse write semantics: with partitionOverwriteMode=dynamic an
    overwrite replaces ONLY the partitions present in the incoming
    frame; static mode (the default) wipes the whole table first."""
    p = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, "c")], "id long, part string"
    )
    base.write.partitionBy("part").parquet(p)

    patch = spark.createDataFrame([(99, "b")], "id long, part string")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        patch.write.mode("overwrite").partitionBy("part").parquet(p)
        got = sorted((r.id, r.part) for r in spark.read.parquet(p).collect())
        assert got == [(1, "a"), (2, "a"), (4, "c"), (99, "b")]  # only b replaced
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")

    patch.write.mode("overwrite").partitionBy("part").parquet(p)
    got = sorted((r.id, r.part) for r in spark.read.parquet(p).collect())
    assert got == [(99, "b")]  # static wipe


def test_training_shard_scratch_prunes_on_heartbeat_not_dir_mtime(
    spark, sf_dir
):
    """Pins the ADVICE r15 #2 fix: the shard sink's /tmp scratch prune
    keys liveness on a per-run ``<run>.heartbeat`` marker beside the
    run dir, NOT on the dir's own mtime — a long-lived concurrent
    session whose dir mtime is >2h old but whose heartbeat is fresh
    must survive; dead runs (stale marker, or no marker and stale dir)
    and orphaned markers are swept."""
    import os
    import time

    from apache_spark_link_prediction_spark.queries import QUERIES

    root = "/tmp/spark_graft_training_shards"
    os.makedirs(root, exist_ok=True)
    old = time.time() - 3 * 3600

    live = os.path.join(root, "otherapp_live")  # old dir, fresh marker
    os.makedirs(live, exist_ok=True)
    os.utime(live, (old, old))
    with open(live + ".heartbeat", "w") as hb:
        hb.write("x")

    dead_marked = os.path.join(root, "otherapp_dead")  # stale marker
    os.makedirs(dead_marked, exist_ok=True)
    with open(dead_marked + ".heartbeat", "w") as hb:
        hb.write("x")
    os.utime(dead_marked + ".heartbeat", (old, old))

    dead_bare = os.path.join(root, "otherapp_bare")  # pre-heartbeat run
    os.makedirs(dead_bare, exist_ok=True)
    os.utime(dead_bare, (old, old))

    orphan = os.path.join(root, "otherapp_gone.heartbeat")  # dir gone
    with open(orphan, "w") as hb:
        hb.write("x")
    os.utime(orphan, (old, old))

    try:
        QUERIES["training_shard_write"](spark, sf_dir).collect()
        assert os.path.isdir(live), "fresh-heartbeat run was pruned"
        assert not os.path.isdir(dead_marked)
        assert not os.path.exists(dead_marked + ".heartbeat")
        assert not os.path.isdir(dead_bare)
        assert not os.path.exists(orphan)
        app_id = spark.sparkContext.applicationId
        assert any(
            f.startswith(app_id) and f.endswith(".heartbeat")
            for f in os.listdir(root)
        ), "own run did not write a heartbeat"
    finally:
        import shutil

        for leftover in ("otherapp_live", "otherapp_live.heartbeat"):
            p = os.path.join(root, leftover)
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
            elif os.path.exists(p):
                os.unlink(p)


def test_fixed_width_reader_roundtrip(spark, tmp_path):
    """read_fixed_width parses a fixed-width render of region back to
    the parquet truth: trimmed slices, typed casts, and short-line /
    blank-field slices returning NULL (not empty string)."""
    from conftest import SF_DIR

    from apache_spark_link_prediction_spark.sources.readers import (
        load_table,
        read_fixed_width,
    )

    region = load_table(spark, SF_DIR, "region").collect()
    path = tmp_path / "region.fw"
    with open(path, "w") as f:
        for r in region:
            f.write(f"{r.r_regionkey:<4d}{r.r_name:<16s}{float(r.r_regionkey) * 1.5:<8.2f}\n")
        f.write("9\n")  # short line: later slices -> NULL

    out = read_fixed_width(
        spark,
        str(path),
        {
            "r_regionkey": (1, 4, "long"),
            "r_name": (5, 16, "string"),
            "score": (21, 8, "double"),
        },
    ).collect()
    got = {r.r_regionkey: (r.r_name, r.score) for r in out}
    assert got[9] == (None, None)
    for r in region:
        assert got[r.r_regionkey] == (r.r_name, float(r.r_regionkey) * 1.5)
