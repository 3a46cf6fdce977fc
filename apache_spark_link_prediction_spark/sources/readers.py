"""Schema'd sources/sinks — the reference's scan operators re-expressed.

Reference scans (SURVEY.md §2.1):

- S1  headerless quoted CSV → 6 positional string cols
      (``getInfoDataFrame``, Predictor.scala:83-97)
- S2  space-delimited text → (srcId, dstId, label:int)
      (``getTrainingDataFrame``, Predictor.scala:158-167)
- S3  space-delimited text → (srcId, dstId)
      (``getTestingDataFrame``, Predictor.scala:176-185)
- S4  tab-delimited text → (srcId, dstId)
      (``getGroundTruthDataFrame``, Predictor.scala:194-203)
- S5  sink: the reference only println's; we provide a parquet writer
- S6  deterministic Bernoulli sample, seed 12345 (Predictor.scala:26-28, 353)

The reference parses S2-S4 with ``sc.textFile`` + RDD ``map``; here every
scan is a ``spark.read`` with an explicit schema, so Catalyst keeps
pushdown/pruning and nothing leaves the JVM. All IDs stay strings
(SURVEY.md §2.7-4: no zero-pad normalization, string-vs-string joins).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# S1 — node_information.csv column layout (Predictor.scala:84-90).
NODE_INFO_COLUMNS = ["srcId", "year", "title", "authors", "journal", "abstract"]
NODE_INFO_SCHEMA = T.StructType(
    [T.StructField(c, T.StringType(), True) for c in NODE_INFO_COLUMNS]
)

# S2 — training_set.txt (Predictor.scala:162-166).
EDGE_LABELED_SCHEMA = T.StructType(
    [
        T.StructField("srcId", T.StringType(), True),
        T.StructField("dstId", T.StringType(), True),
        T.StructField("label", T.IntegerType(), True),
    ]
)

# S3/S4 — testing_set.txt / Cit-HepTh.txt (Predictor.scala:176-203).
EDGE_SCHEMA = T.StructType(
    [
        T.StructField("srcId", T.StringType(), True),
        T.StructField("dstId", T.StringType(), True),
    ]
)

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_node_info(spark: SparkSession, path: str) -> DataFrame:
    """S1: headerless CSV with quoted fields (authors contain commas)."""
    return (
        spark.read.schema(NODE_INFO_SCHEMA)
        .option("header", "false")
        .option("quote", '"')
        .option("escape", '"')
        .csv(path)
    )


def read_labeled_edges(spark: SparkSession, path: str) -> DataFrame:
    """S2: ``srcId dstId label`` space-separated."""
    return (
        spark.read.schema(EDGE_LABELED_SCHEMA)
        .option("sep", " ")
        .option("header", "false")
        .csv(path)
    )


def read_edges(spark: SparkSession, path: str) -> DataFrame:
    """S3: ``srcId dstId`` space-separated."""
    return (
        spark.read.schema(EDGE_SCHEMA).option("sep", " ").option("header", "false").csv(path)
    )


def read_ground_truth(spark: SparkSession, path: str) -> DataFrame:
    """S4: ``srcId\\tdstId`` tab-separated."""
    return (
        spark.read.schema(EDGE_SCHEMA).option("sep", "\t").option("header", "false").csv(path)
    )


def parquet_schema(path: str) -> T.StructType:
    """The Spark schema of the parquet table at ``path`` (one file or a
    directory of part files), read from its footer on the driver with
    pyarrow. It equals what ``spark.read.parquet`` infers, and declaring
    it skips the footer-read job that inference fires on every read: a
    traced perfbench ``curation`` pass on a 4-vCPU host spent 0.35 s in
    its loads with inference and 0.04 s with the declared schema.

    pyarrow reports two parquet encodings as ``timestamp[ns]``, and
    Spark reads them apart: legacy INT96 (Spark's own default writer
    encoding) is a session-zone timestamp, and TIMESTAMP(NANOS) is
    int64, as Spark's ``nanosAsLong`` reads it
    (:func:`events_with_session_ts` converts it). Naive timestamps map
    to TIMESTAMP_NTZ, as Spark infers them. The footer is read on every
    call: nothing is cached on the path, so a rewritten table is never
    read with a stale schema."""
    import pyarrow as pa
    import pyarrow.dataset as ds
    from pyspark.sql.pandas.types import from_arrow_schema

    dataset = ds.dataset(path, format="parquet")
    first = next(iter(dataset.get_fragments()), None)
    columns = first.metadata.schema if first is not None else []
    int96 = {
        columns.column(i).path
        for i in range(len(columns))
        if columns.column(i).physical_type == "INT96"
    }

    def as_spark_reads(f: pa.Field) -> pa.Field:
        if f.name in int96:
            return f.with_type(pa.timestamp("us", tz="UTC"))
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns":
            return f.with_type(pa.int64())
        return f

    fields = [as_spark_reads(f) for f in dataset.schema]
    return from_arrow_schema(pa.schema(fields), prefer_timestamp_ntz=True)


def events_with_session_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to session-zone TimestampType. It has
    shipped in two encodings across testdata regenerations, and every
    downstream query sees one type:

    - parquet TIMESTAMP(NANOS): Spark 4 rejects it by default — read as
      int64 nanos (legacy conf, runtime-settable, set here before any
      action reads the file) and convert via integer ``div`` (a double
      division would lose precision at epoch-nanos magnitude).
    - parquet timestamp[us] with ``isAdjustedToUTC=false`` → Spark 4
      TIMESTAMP_NTZ: cast to TIMESTAMP. The session timezone is pinned
      UTC (session.py), so wall-clock values are unchanged and DuckDB
      oracles reading the same naive µs values keep matching. Without
      this, ``CAST(ts AS DOUBLE)`` anywhere downstream throws
      DATATYPE_MISMATCH.

    Works on a batch frame and on a streaming one alike."""
    df.sparkSession.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver-generated parquet table (TESTDATA.md) with its
    footer schema declared (:func:`parquet_schema`), so building the
    read fires no Spark job. ``events`` gets its ``ts`` normalized
    (:func:`events_with_session_ts`)."""
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.schema(parquet_schema(path)).parquet(path)
    return events_with_session_ts(df) if name == "events" else df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TESTDATA_TABLES)}


def sample_deterministic(df: DataFrame, fraction: float) -> DataFrame:
    """S6: Bernoulli sample with the reference's fixed seed 12345
    (Predictor.scala:352-353, 390-391)."""
    if fraction >= 1.0:
        return df
    return df.sample(fraction=fraction, seed=12345)


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """S5: materializing sink (the reference only println's results;
    at 100 TB results must land columnar + partition-pruned)."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    *,
    bucket_by: str,
    num_buckets: int = 32,
    sort_by: str | None = None,
) -> None:
    """Bucketed parquet table sink (overwrites ``table``): pre-shuffles once at write time so
    every later equi join/aggregation on ``bucket_by`` between
    co-bucketed tables runs shuffle-free (Exchange elided — asserted in
    tests/test_sources.py). The 100 TB pattern for fact tables joined
    repeatedly on the same key; ``sort_by`` additionally elides the
    sort-merge join's Sort. Requires saveAsTable (bucket metadata lives
    in the catalog, not the files)."""
    spark = df.sparkSession
    # saveAsTable(overwrite) still refuses a managed location left
    # behind by a dropped/crashed session — clear both catalog entry
    # and orphaned directory.
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "")
    if warehouse.startswith("file:"):
        warehouse = warehouse[len("file:"):]
    loc = os.path.join(warehouse, table.lower())
    if warehouse and os.path.isdir(loc):
        shutil.rmtree(loc)
    w = df.write.format("parquet").mode("overwrite").bucketBy(num_buckets, bucket_by)
    if sort_by:
        w = w.sortBy(sort_by)
    w.saveAsTable(table)


def compact_parquet(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    *,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction: rewrite a fragmented parquet directory
    into ``ceil(total_bytes / target_file_bytes)`` files. Returns the
    output file count.

    Small files are the silent killer of 100 TB scans — every file
    costs a task, a footer read, and an object-store request, so a
    streaming sink or over-parallel writer that leaves 10k × 1 MB files
    makes a scan task-scheduling-bound. Sizing from the SOURCE bytes
    (file listing, no data read) keeps this a pure metadata decision;
    the rewrite itself is one job with no shuffle beyond the
    coalesce-style repartition. Local-fs listing here; on a cluster the
    same numbers come from the FileSystem API / table metadata.
    """
    import math
    import os

    total = 0
    for root, _dirs, files in os.walk(src_path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    n_files = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(src_path)
    df.repartition(n_files).write.mode("overwrite").parquet(dst_path)
    return n_files


def write_jsonl(df: DataFrame, path: str) -> None:
    """Gzipped JSON-lines sink — the interchange format most raw LLM
    training corpora arrive and ship in (one JSON object per line, gzip
    per file). Spark's json writer IS jsonl: one object per line, one
    file per partition."""
    df.write.mode("overwrite").option("compression", "gzip").json(path)


def read_jsonl(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    """JSON-lines source. ALWAYS pass a schema in production: without
    one Spark runs a full inference pass (an extra scan of 100 TB) and
    corrupt records silently become nulls in a ``_corrupt_record``
    world you haven't declared. With an explicit schema the scan is
    single-pass and malformed lines surface per the configured
    ``mode`` (PERMISSIVE default)."""
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.json(path)


def write_orc(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """ORC sink — the other first-class columnar format (Hive-lineage
    clusters standardize on it); same pushdown/pruning contract as
    parquet via Spark's native vectorized ORC reader."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source (native vectorized reader; predicate pushdown and
    column pruning verified in tests/test_sources.py)."""
    return spark.read.orc(path)


def read_binary_files(
    spark: SparkSession, path: str, *, glob: str | None = None
) -> DataFrame:
    """Raw media ingestion via Spark's ``binaryFile`` source — the
    production entry point for the multimodal family (one row per file:
    path, modificationTime, length, content). ``pathGlobFilter`` prunes
    by extension at LISTING time (files never opened), and downstream
    feature extraction should project away ``content`` as early as
    possible so only small typed columns shuffle. For 100 TB of media,
    pair with ``spark.sql.files.maxPartitionBytes`` so a task sees a
    bounded byte budget rather than a bounded file count."""
    reader = spark.read.format("binaryFile")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def read_fixed_width(
    spark: SparkSession,
    path: str,
    colspecs: dict[str, tuple[int, int, str]],
) -> DataFrame:
    """Fixed-width text source — the mainframe/COBOL-adjacent format
    that still feeds real lakes (bank extracts, legacy feeds). Spark
    has no built-in fixed-width reader; the Spark-first form is the
    ``text`` source (one row per line, splittable, predicate/limit
    pushdown at the line level) plus a SELECT of ``substring`` slices —
    all JVM-side codegen, no Python in the row path, and Catalyst
    prunes unused columns before the slice work runs.

    ``colspecs`` maps column name → (1-based start, length, cast type);
    values are trimmed before the cast so right-padded numerics parse.
    Slices past a short line yield empty string → NULL under the cast,
    matching the permissive posture of the CSV reader."""
    lines = spark.read.text(path)
    cols = [
        F.nullif(F.trim(F.substring("value", start, length)), F.lit(""))
        .cast(dtype)
        .alias(name)
        for name, (start, length, dtype) in colspecs.items()
    ]
    return lines.select(*cols)


def shard_for_write(
    docs: DataFrame,
    *,
    n_shards: int = 16,
) -> DataFrame:
    """Assign every ``(doc_id, text)`` document a deterministic shard and hash-repartition
    to exactly ``n_shards`` output partitions — the pre-write half of
    :func:`write_training_shards`, exposed separately so the plan test
    can pin the shuffle shape.

    ``shard_id = rolling_hash('shard:' || id) % n_shards``: a salted
    content-independent hash, so shards are balanced regardless of how
    skewed the natural keys are, and the assignment is reproducible by
    ANY engine (the cross-engine rolling hash, not Spark-internal
    hashing). The repartition is BY HASH of the shard key — a single
    Exchange hashpartitioning, never a global sort: a
    ``repartitionByRange``/``sortWithinPartitions`` formulation would
    add an O(n log n) total ordering no training loader needs (readers
    shuffle samples anyway)."""
    from ..functions.textstats import doc_rolling_hash

    shard = (
        doc_rolling_hash(F.concat(F.lit("shard:"), F.col("doc_id").cast("string")))
        % n_shards
    ).cast("long")
    return docs.select("doc_id", "text").withColumn("shard_id", shard).repartition(
        n_shards, F.col("shard_id")
    )


def write_training_shards(
    docs: DataFrame,
    path: str,
    *,
    n_shards: int = 16,
) -> DataFrame:
    """Sharded training-data sink (VERDICT r13 item 3 — the one
    pipeline stage between curation and the training loader):
    deterministic hash-salted shuffle to a fixed shard count →
    ``partitionBy(shard_id)`` parquet write → READ-BACK → manifest
    (shard_id, n_rows, n_bytes, content_hash). The manifest is computed
    from the files as re-read, not from the pre-write frame, so a green
    row certifies the full write→read round trip preserved every byte
    that feeds the hash.

    ``content_hash`` is the bit_xor of each doc's cross-engine rolling
    hash over ``id || ':' || text`` — order-independent (shard files
    arrive in nondeterministic order) and overflow-free (XOR, unlike
    SUM, can't trip DuckDB's overflow-strict BIGINT), so the DuckDB
    oracle reproduces it from the raw table without seeing the files.
    ``n_bytes`` is octet_length of the text payload (DuckDB strlen) —
    a size the oracle can recompute, unlike parquet-encoded file bytes.

    At 100 TB: one Exchange on the shard key (no sort — see
    :func:`shard_for_write`), one file-listing-bounded read-back, one
    map-side-combinable agg of 4 longs per shard. The shard count is
    the training-side contract (loader parallelism), not a Spark
    tuning knob."""
    sharded = shard_for_write(docs, n_shards=n_shards)
    sharded.write.mode("overwrite").partitionBy("shard_id").parquet(path)
    from ..functions.textstats import doc_rolling_hash

    back = docs.sparkSession.read.parquet(path)
    hc = doc_rolling_hash(
        F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("text"))
    )
    return (
        back.withColumn("__hc", hc)
        .groupBy(F.col("shard_id").cast("long").alias("shard_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.octet_length("text")).cast("long").alias("n_bytes"),
            F.expr("bit_xor(__hc)").alias("content_hash"),
        )
    )
