"""Structured-Streaming append path: readStream → foreachBatch →
``EventStore.append_new`` — the BASELINE.json `spark_approach`
("Structured Streaming for event append + DataFrame queries").

Each micro-batch is grouped per (user_id, stream_id) with
``applyInPandas``; Spark hands each group to exactly one task, and
the task appends it through ``EventStore.append_new``, the store's
OCC-gated, per-stream-serialized write path. Streaming ingestion
therefore gets the same ordering and uniqueness guarantees as the
request-path API (reference E1 lifecycle, SURVEY.md §3), honours the
store's lock provider, and runs the store's auto-compaction. The
caller's store needs no notice of what the tasks wrote: every store
call lists the stream's directory, so its next read sees the new
files. Order within a group follows the source's `ingest_order`
column when present — the arrival-order authority the reference gets
from request serialization (README.md:8 "strictly ordered by
arrival").

Scale: foreachBatch runs on the driver but only COORDINATES — the
micro-batch itself never reaches the driver; only a one-row-per-
stream summary comes back. Streams are independent, so ingestion
parallelizes across streams while staying serial within one (the
reference's DashMap + per-stream-mutex concurrency model,
server.rs:58). Driver memory is O(streams-per-batch), not
O(events-per-batch)."""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark import cloudpickle
from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

import hematite_spark
from hematite_spark.store import EventStore


def _batch_to_events(pdf) -> list[dict[str, Any]]:
    events = []
    for row in pdf.itertuples(index=False):
        ev = {
            "specversion": getattr(row, "specversion", "1.0") or "1.0",
            "id": str(row.id),
            "source": str(row.source),
            "type": str(row.type),
        }
        for opt in ("subject", "datacontenttype", "dataschema", "time"):
            v = getattr(row, opt, None)
            if v is not None:
                ev[opt] = v
        data = getattr(row, "data", None)
        if data is not None:
            # wire column carries the JSON-serialized data value
            # (CloudEvents structured content mode); decode so the
            # store doesn't double-encode it
            try:
                ev["data"] = json.loads(data)
            except (ValueError, TypeError):
                ev["data"] = data
        events.append(ev)
    return events


def _make_group_appender(store: EventStore, repo_dir: str):
    """Build the executor-side function for ``applyInPandas``. Each
    call gets ONE stream's slice of the micro-batch (one group, one
    task), sorts it by ``ingest_order``, and appends it with
    ``append_new`` on an EventStore built from ``store``'s root,
    auto-compaction threshold and lock provider. So the task takes the
    same stream lock as every other writer of the store, drops events
    the stream already holds (a re-delivered batch appends nothing),
    and compacts when the store would. Returns the one-row summary."""
    root, auto_compact_files = store.root, store.auto_compact_files
    # shipped as bytes: unpickling the provider imports its module,
    # which needs the repo path the worker only gets inside the call
    lock_provider = cloudpickle.dumps(store._lock_provider)

    def append_group(pdf):
        import pickle
        import sys

        import pandas as pd

        if repo_dir not in sys.path:  # python workers may lack the repo path
            sys.path.insert(0, repo_dir)
        from hematite_spark.store import EventStore
        from hematite_spark.streaming.append import _batch_to_events

        user_id = str(pdf["user_id"].iloc[0])
        stream_id = str(pdf["stream_id"].iloc[0])
        if "ingest_order" in pdf.columns:
            pdf = pdf.sort_values("ingest_order")
        writer = EventStore(None, root, auto_compact_files, pickle.loads(lock_provider))
        appended, new_revision = writer.append_new(user_id, stream_id, _batch_to_events(pdf))
        return pd.DataFrame(
            {
                "user_id": [user_id],
                "stream_id": [stream_id],
                "appended": [appended],
                "new_revision": [new_revision],
            }
        )

    return append_group


_SUMMARY_SCHEMA = "user_id string, stream_id string, appended long, new_revision long"


def stream_append_to_store(
    stream_df: DataFrame,
    store: EventStore,
    checkpoint_dir: str,
    trigger_seconds: float | None = None,
) -> StreamingQuery:
    """Start a streaming query appending CloudEvents rows to the
    store. ``stream_df`` needs columns (user_id, stream_id, id,
    source, type[, subject, datacontenttype, dataschema, time, data,
    ingest_order]).

    Checkpointing gives at-least-once delivery into the store;
    ``append_new`` upgrades that to exactly-once per stream —
    replayed rows collide on (source,id) and are dropped idempotently
    executor-side.

    The store root must be shared storage visible to executors (on
    local mode, the local filesystem; on a cluster, S3/HDFS/NFS —
    the same assumption every Spark file sink makes). Within one
    streaming query the grouped-map contract puts each stream into
    one task; across concurrent writers the store's lock provider
    serializes, exactly as documented in store.py."""
    repo_dir = os.path.dirname(os.path.dirname(os.path.abspath(hematite_spark.__file__)))
    appender = _make_group_appender(store, repo_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # only the one-row-per-stream summary reaches the driver; the
        # caller's store sees the executor-written files on its next
        # call, which lists the stream's directory
        batch_df.groupBy("user_id", "stream_id").applyInPandas(
            appender, schema=_SUMMARY_SCHEMA
        ).collect()

    writer = (
        stream_df.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_events_to_lake(
    stream_df, path: str, checkpoint: str, n_user_buckets: int = 64, ts_col: str = "ts"
):
    """Continuous ingestion into the 100 TB lake layout
    (io.write_events_lake's streaming twin): a file/kafka event stream
    lands hive-partitioned by (event_date, user_bucket) via the
    streaming parquet sink — exactly-once per sink semantics through
    the checkpoint + file-manifest commit protocol, so a crashed or
    restarted query never double-publishes a micro-batch.

    Partition count per micro-batch stays bounded (days-in-batch ×
    buckets); downstream batch queries get the same listing-level
    pruning the batch writer produces (the partition columns come
    from the shared io.with_lake_columns contract, so batch and
    streaming writes can never land in incompatible bucket layouts).
    Returns the StreamingQuery."""
    from hematite_spark.io import with_lake_columns

    out = with_lake_columns(stream_df, ts_col=ts_col, n_user_buckets=n_user_buckets)
    return (
        out.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .partitionBy("event_date", "user_bucket")
        .trigger(availableNow=True)
        .start()
    )
