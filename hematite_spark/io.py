"""Testdata loaders and NDJSON (CloudEvents wire format) I/O.

Parquet is the at-rest format (columnar, min/max stats, pushdown);
NDJSON exists only as an ingest/export format for wire parity with
the reference, which stores newline-delimited CloudEvents JSON
(reference db.rs:205-210).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Load one testdata table. Scans stay columnar and pruned: callers
    select/filter on the returned DataFrame and Catalyst pushes both
    into the parquet reader.

    The `events` table is written with nanosecond timestamps, which
    Spark's vectorized reader rejects; read them as raw nanos
    (legacy.parquet.nanosAsLong) and truncate to microsecond
    timestamps — the same truncation DuckDB applies, so both engines
    see identical values."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        from pyspark.sql import functions as F

        # nanosAsLong is set at session build in session.py; it is
        # ALSO set here because load_table accepts foreign sessions
        # (the correctness harness runs queries under its own
        # SparkSession). The conf cannot be save/restored around the
        # read: plans are lazy, so execution would see the restored
        # value and fail the nano-timestamp scan. Engine-owned
        # sessions therefore carry it from birth (documented there);
        # for foreign sessions this is a sticky, documented side
        # effect rather than a silent one.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # newer testdata stores µs timestamps without tz annotation;
            # Spark infers TIMESTAMP_NTZ, which unix_micros & friends
            # reject. Session tz is pinned UTC, so casting to TIMESTAMP
            # (LTZ) preserves every instant bit-for-bit and keeps one
            # timestamp type across the whole engine.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(path)


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {name: load_table(spark, name, sf_dir) for name in TABLES}


def table_bytes(name: str, sf_dir: str = DEFAULT_SF_DIR) -> int:
    """On-disk parquet bytes of one testdata table (file or directory).

    Plan-build-safe input-size probe: queries that size a shuffle
    width from data volume (e.g. rec_hitrate_eval's candidate fan-out)
    use this instead of an eager ``df.count()`` so building the
    DataFrame never launches a Spark job (ADVICE r7 — test_plans.py's
    'explain only' contract). A byte count is a ±2x row estimate at
    worst (compression ratio drift), which is all a partition-width
    heuristic needs. On a real cluster the same number comes from the
    catalog / object-store listing — also without a scan."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isfile(path):
        return os.path.getsize(path)
    if not os.path.isdir(path):
        # ADVICE r8: os.walk on a nonexistent dir yields nothing, so a
        # wrong sf_dir silently returned 0 and degraded every width
        # heuristic built on it (est_rows=0). Fail like load_table would.
        raise FileNotFoundError(f"testdata table not found: {path}")
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files
            if not f.startswith(("_", "."))
        )
    return total


_ENVELOPE_ATTRS = (
    "specversion",
    "id",
    "source",
    "type",
    "subject",
    "datacontenttype",
    "dataschema",
    "time",
    "data",
    "data_base64",
)


def read_cloudevents_ndjson(spark: SparkSession, path: str) -> DataFrame:
    """Ingest CloudEvents NDJSON (the reference's on-disk/wire format).

    Parses each line as a map so EXTENSION attributes — top-level on
    the wire, per the CloudEvents JSON format — survive into the
    `extensions` column (a fixed-schema read would silently drop
    them). Envelope attributes land as decoded strings; `data` and
    extension VALUES are kept as raw JSON literals (via a second
    map<string,variant> parse + to_json) — the store's encoding, so
    scalar types survive the round trip and events_to_ndjson_lines
    can splice them back verbatim (a decoded string like trace-1
    would otherwise splice as invalid JSON)."""
    from pyspark.sql import functions as F

    lines = spark.read.text(path).where(F.length("value") > 0)
    m = F.from_json(F.col("value"), "map<string,string>")
    mv = F.from_json(F.col("value"), "map<string,variant>")
    ext = F.map_filter(
        F.transform_values(mv, lambda _, v: F.to_json(v)),
        lambda k, _: ~k.isin(*_ENVELOPE_ATTRS),
    )
    return lines.select(
        m.alias("m"), F.to_json(mv.getItem("data")).alias("data_json"), ext.alias("ext")
    ).select(
        *[
            F.col("data_json").alias(k) if k == "data" else F.col("m").getItem(k).alias(k)
            for k in _ENVELOPE_ATTRS
            if k != "time"
        ],
        F.to_timestamp(F.col("m").getItem("time")).alias("time"),
        F.col("ext").alias("extensions"),
    )


def events_to_ndjson_lines(df: DataFrame) -> DataFrame:
    """Render store events back to CloudEvents wire lines (the
    reference's `events.ndjson` format, db.rs:205-210) — one
    `line STRING` per event, computed entirely JVM-side.

    `data` is stored as a raw JSON string so it must be spliced into
    the envelope verbatim (as a JSON *value*, not a quoted string),
    and extension values are stored as JSON literals, so they splice
    the same way — preserving scalar types on the wire (ext names are
    spec-restricted to [a-z0-9]{1,20}, so keys need no escaping).
    Extension attributes are hoisted from the map to top level, per
    the CloudEvents JSON format. `to_json` drops null optional
    attributes, matching the wire form; timestamps render at full
    microsecond precision (to_json's default truncates to ms)."""
    from pyspark.sql import functions as F

    envelope = F.to_json(
        F.struct(
            "specversion", "id", "source", "type", "subject", "datacontenttype", "dataschema", "time"
        ),
        {"timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"},
    )
    # "{...}" -> "{...,"data":<raw>}" splices; each is a no-op when null
    line = F.substring(envelope, 1, F.length(envelope) - F.lit(1))
    ext_pairs = F.concat_ws(
        ",",
        F.transform(
            F.map_entries(F.col("extensions")),
            lambda e: F.concat(F.lit('"'), e["key"], F.lit('":'), e["value"]),
        ),
    )
    line = F.concat(
        line,
        F.when(
            F.col("extensions").isNotNull() & (F.size(F.col("extensions")) > 0),
            F.concat(F.lit(","), ext_pairs),
        ).otherwise(F.lit("")),
        F.when(F.col("data").isNotNull(), F.concat(F.lit(',"data":'), F.col("data"))).otherwise(
            F.lit("")
        ),
        F.when(
            F.col("data_base64").isNotNull(),
            F.concat(F.lit(',"data_base64":"'), F.col("data_base64"), F.lit('"')),
        ).otherwise(F.lit("")),
        F.lit("}"),
    )
    return df.select(line.alias("line"))


def write_bucketed_table(
    df: DataFrame, name: str, bucket_col: str, n_buckets: int = 32, sort_col: str | None = None
) -> None:
    """Persist a DataFrame hash-bucketed (and optionally sorted) on a
    join key. Two tables bucketed the same way join WITHOUT a shuffle
    (Catalyst sees the co-partitioning from the catalog), which is the
    100 TB strategy for repeated fact-fact joins: pay one shuffle at
    write time, amortize it over every subsequent join. Spark's
    bucketing requires saveAsTable (bucket metadata lives in the
    catalog, not the files)."""
    writer = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col is not None:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(name)


def with_lake_columns(
    df: DataFrame, ts_col: str = "ts", n_user_buckets: int = 64
) -> DataFrame:
    """Derive the lake layout's partition columns. This is the
    compatibility contract between the batch writer, the streaming
    writer, and every reader's pruning predicate — one definition so
    the bucket function can never diverge between paths."""
    from pyspark.sql import functions as F

    return df.withColumn("event_date", F.to_date(F.col(ts_col))).withColumn(
        "user_bucket", F.pmod(F.hash("user_id"), F.lit(n_user_buckets))
    )


def write_events_lake(
    df: DataFrame, path: str, n_user_buckets: int = 64, ts_col: str = "ts"
) -> None:
    """Write an events DataFrame in the 100 TB lake layout the README
    documents: hive-partitioned by (event_date, user_bucket) with rows
    sorted by (user_id, ts) inside each file.

    Why this shape at scale:
    * event_date partitions → time-range queries prune whole days at
      the listing level (the dominant predicate in event analytics);
    * user_bucket (hash of user_id mod N) → per-tenant queries prune
      to 1/N of each day WITHOUT creating a partition per tenant
      (millions of tenants would melt the metastore; N buckets keep
      partition counts bounded);
    * sortWithinPartitions(user_id, ts) → parquet row-group min/max
      stats become tight per tenant, so within a bucket a tenant read
      skips most row groups — the same effect the store's per-stream
      revision sort gives positional reads.
    The repartition matches the write partitioning so each task owns
    whole output partitions (no small-file explosion: one file per
    (day, bucket) per write). The sort LEADS with the partition
    columns: the file writer requires its input ordered by them and
    would otherwise insert its own (event_date, user_bucket)-only
    sort on top, voiding the (user_id, ts) intra-file order whenever
    that re-sort spills and merges runs."""
    (
        with_lake_columns(df, ts_col=ts_col, n_user_buckets=n_user_buckets)
        .repartition("event_date", "user_bucket")
        .sortWithinPartitions("event_date", "user_bucket", "user_id", ts_col)
        .write.partitionBy("event_date", "user_bucket")
        .mode("overwrite")
        .parquet(path)
    )


_EXT_MODALITY = {
    "jpg": ("image", "image/jpeg"),
    "jpeg": ("image", "image/jpeg"),
    "png": ("image", "image/png"),
    "wav": ("audio", "audio/wav"),
    "mp3": ("audio", "audio/mpeg"),
    "mp4": ("video", "video/mp4"),
    "txt": ("text", "text/plain"),
}


def read_binary_assets(spark: SparkSession, path: str, glob: str | None = None) -> DataFrame:
    """Ingest a directory of media files via Spark's `binaryFile`
    source into the engine's multimodal asset shape
    (schema.MULTIMODAL_SCHEMA): modality/mime typed from the file
    extension, content as raw bytes, provenance (path, mtime, size)
    in `meta`. asset_id is a 64-bit hash of the path — stable across
    re-ingest, no driver-side enumeration.

    Scale: binaryFile is a normal file-based DataSource — listing and
    reads distribute over executors, `pathGlobFilter` prunes at
    listing time, and `spark.sql.files.maxPartitionBytes` bounds the
    per-task byte budget, so a 100 TB media corpus ingests exactly
    like a parquet lake. Decode/resize stay downstream in the
    mapInPandas stages (queries/multimodal.py)."""
    from pyspark.sql import functions as F

    reader = spark.read.format("binaryFile")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    raw = reader.load(path)
    ext = F.lower(F.element_at(F.split(F.col("path"), r"\."), -1))
    modality = F.coalesce(
        *[F.when(ext == e, F.lit(m)) for e, (m, _) in _EXT_MODALITY.items()],
        F.lit("binary"),
    )
    mime = F.coalesce(
        *[F.when(ext == e, F.lit(mt)) for e, (_, mt) in _EXT_MODALITY.items()],
        F.lit("application/octet-stream"),
    )
    return raw.select(
        F.xxhash64("path").alias("asset_id"),
        modality.alias("modality"),
        F.col("content"),
        mime.alias("mime_type"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("bigint").alias("duration_ms"),
        F.create_map(
            F.lit("path"), F.col("path"),
            F.lit("mtime"), F.col("modificationTime").cast("string"),
            F.lit("size"), F.col("length").cast("string"),
        ).alias("meta"),
    )


def write_cloudevents_ndjson(df: DataFrame, path: str, order_by: str = "revision") -> None:
    """Export events as CloudEvents NDJSON — the wire/export parity
    sink. Distributed text write; within-file ordering follows
    `order_by` so a single-stream export reproduces the reference's
    append order."""
    events_to_ndjson_lines(df.orderBy(order_by)).write.mode("overwrite").text(path)


def write_training_shards(
    df: DataFrame, path: str, n_shards: int = 8, seed: str = "seed42", key_col: str = "doc_id"
) -> DataFrame:
    """The shuffle_deterministic scale path made executable: write a
    corpus as n_shards parquet shards, globally pseudorandomly
    ordered, WITHOUT a global sort. Each row's md5(seed‖key) splits
    into a shard assignment (write-partition key) and an intra-shard
    rank; one repartition + sortWithinPartitions materializes the
    training order. Readers stream shard files round-robin and see a
    reproducible, seed-controlled permutation of the corpus.

    At 100 TB this is exactly one shuffle (the repartition by shard)
    and a per-partition sort — the global ORDER BY rank a naive
    writer would pay is avoided entirely because inter-shard order
    does not matter to a data loader that interleaves shards.
    Re-running with the same seed writes byte-identical shard
    membership and order; a new seed reshuffles.

    Returns the per-shard manifest (shard → rows, min/max rank) the
    loader uses to plan epochs."""
    from pyspark.sql import functions as F

    h = F.md5(F.concat(F.lit(seed + ":"), F.col(key_col).cast("string")))
    sharded = (
        df.withColumn("_h", h)
        .withColumn("shard", (F.conv(F.substring("_h", 13, 4), 16, 10).cast("bigint") % n_shards))
        .withColumn("rank", F.conv(F.substring("_h", 1, 12), 16, 10).cast("bigint"))
        .drop("_h")
    )
    (
        sharded.repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "rank", key_col)
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
    return (
        sharded.groupBy("shard")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("rank").alias("min_rank"),
            F.max("rank").alias("max_rank"),
        )
        .orderBy("shard")
    )


def read_csv_typed(spark: SparkSession, path: str, schema: str, **options) -> DataFrame:
    """CSV ingest with an EXPLICIT schema — the interchange-format
    source a pipeline meets at its edges (vendor drops, exports,
    spreadsheets). Schema inference is deliberately not offered: at
    100 TB `inferSchema` is a full extra pass over the data, and a
    drifting inferred type (an all-digit id column becoming BIGINT in
    one delivery and STRING in the next) silently corrupts joins.
    PERMISSIVE mode + a `_corrupt` rescue column make bad rows data
    instead of job failures — the reconciliation_report operator is
    the downstream audit.

    Columnar pushdown note: CSV supports predicate pushdown but not
    column pruning at the byte level (rows are parsed whole) — the
    first job after a CSV ingest should be a parquet rewrite
    (write_events_lake / write_training_shards)."""
    reader = (
        spark.read.schema(schema + ", _corrupt string")
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.csv(path)


def read_parquet_evolving(spark: SparkSession, path: str) -> DataFrame:
    """Schema-evolution-tolerant parquet read: `mergeSchema` unions
    the footer schemas of every file, so files written before a column
    existed read as NULL for it — the lake reality when a pipeline
    adds columns over time (quality scores, new provenance fields).

    At 100 TB merging footers across millions of files is itself a
    job; production fixes the contract in a table format or a
    registered schema and uses this only for discovery/backfill —
    which is why the default read path (load_table) pins schemas."""
    return spark.read.option("mergeSchema", "true").parquet(path)
