"""Structured Streaming tests: the foreachBatch append path into the
store (exactly-once via (source,id) idempotency), watermarked
windows, streaming dedup, and custom stateful processing — all driven
through real streaming queries on file/memory sources."""

import json
import os
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hematite_spark.store import EventStore
from hematite_spark.streaming import (
    dedup_within_watermark,
    session_windowed_agg,
    sliding_windowed_agg,
    stateful_running_counts,
    decaying_rate_counts,
    stream_append_to_store,
    stream_events_to_lake,
    stream_stream_interval_join,
    windowed_counts,
)

WIRE_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.StringType()),
        T.StructField("stream_id", T.StringType()),
        T.StructField("specversion", T.StringType()),
        T.StructField("id", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("type", T.StringType()),
        T.StructField("data", T.StringType()),
        T.StructField("ingest_order", T.LongType()),
    ]
)


def _write_wire_batch(path: str, n: int, stream: str = "s1", start: int = 0):
    os.makedirs(path, exist_ok=True)
    fname = os.path.join(path, f"batch-{start}.json")
    with open(fname, "w") as f:
        for i in range(start, start + n):
            f.write(
                json.dumps(
                    {
                        "user_id": "u1",
                        "stream_id": stream,
                        "specversion": "1.0",
                        "id": f"ev-{i}",
                        "source": "stream-src",
                        "type": "test.event",
                        "data": json.dumps({"i": i}),
                        "ingest_order": i,
                    }
                )
                + "\n"
            )


def test_stream_append_to_store(spark, store, tmp_path):
    src = str(tmp_path / "incoming")
    _write_wire_batch(src, 25)
    stream_df = spark.readStream.schema(WIRE_SCHEMA).json(src)
    q = stream_append_to_store(stream_df, store, str(tmp_path / "ckpt"))
    q.awaitTermination(60)
    assert store.revision("u1", "s1") == 25
    # arrival order preserved: revision i holds ev-i
    assert store.get_event("u1", "s1", 7)["id"] == "ev-7"
    assert store.get_event("u1", "s1", 24)["data"] == {"i": 24}


def test_stream_append_idempotent_replay(spark, store, tmp_path):
    """Replaying the same files through a FRESH checkpoint (worst-case
    redelivery) must not duplicate events — the (source,id) gate
    absorbs the replay."""
    src = str(tmp_path / "incoming")
    _write_wire_batch(src, 10)
    s1 = spark.readStream.schema(WIRE_SCHEMA).json(src)
    stream_append_to_store(s1, store, str(tmp_path / "ckpt1")).awaitTermination(60)
    # second run, new checkpoint → re-reads everything; plus one new batch
    # that repeats one of its own ids later in the same micro-batch
    _write_wire_batch(src, 5, start=10)
    with open(os.path.join(src, "batch-10.json"), "a") as f:
        f.write(json.dumps({
            "user_id": "u1", "stream_id": "s1", "specversion": "1.0", "id": "ev-12",
            "source": "stream-src", "type": "test.event", "data": json.dumps({"i": -1}),
            "ingest_order": 99,
        }) + "\n")
    s2 = spark.readStream.schema(WIRE_SCHEMA).json(src)
    stream_append_to_store(s2, store, str(tmp_path / "ckpt2")).awaitTermination(60)
    assert store.revision("u1", "s1") == 15
    assert [e["id"] for e in store.query("u1", "s1", 0, 20)] == [f"ev-{i}" for i in range(15)]
    assert store.get_event("u1", "s1", 12)["data"] == {"i": 12}  # first arrival kept


def test_stream_append_multi_stream_executor_side(spark, store, tmp_path, monkeypatch):
    """A micro-batch spanning many streams appends them all in one
    distributed pass WITHOUT collecting the batch to the driver: the
    test forbids DataFrame.toPandas for its duration, so any driver-
    side funnel would fail the streaming query."""
    from pyspark.sql import DataFrame as _DF

    def _no_collect(self, *a, **k):  # pragma: no cover - must not run
        raise AssertionError("micro-batch was collected to the driver")

    monkeypatch.setattr(_DF, "toPandas", _no_collect)

    src = str(tmp_path / "incoming")
    os.makedirs(src, exist_ok=True)
    with open(os.path.join(src, "multi.json"), "w") as f:
        for s in range(6):
            for i in range(10):
                f.write(
                    json.dumps(
                        {
                            "user_id": f"u{s % 2}",
                            "stream_id": f"ms{s}",
                            "specversion": "1.0",
                            "id": f"ev-{s}-{i}",
                            "source": "multi-src",
                            "type": "test.event",
                            "data": json.dumps({"i": i}),
                            "ingest_order": i,
                        }
                    )
                    + "\n"
                )
    stream_df = spark.readStream.schema(WIRE_SCHEMA).json(src)
    q = stream_append_to_store(stream_df, store, str(tmp_path / "ckpt_multi"))
    q.awaitTermination(60)
    for s in range(6):
        user = f"u{s % 2}"
        assert store.revision(user, f"ms{s}") == 10
        assert store.get_event(user, f"ms{s}", 3)["id"] == f"ev-{s}-3"
    # the store API keeps working on top of executor-written files
    assert {st["id"] for st in store.streams("u0")} == {"ms0", "ms2", "ms4"}


def _events_stream(spark, tmp_path, rows):
    """File-source streaming DataFrame with (ts, user_id, event_type, value, event_id)."""
    src = str(tmp_path / "events_src")
    os.makedirs(src, exist_ok=True)
    with open(os.path.join(src, "part-0.json"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    schema = T.StructType(
        [
            T.StructField("ts_s", T.StringType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    return (
        spark.readStream.schema(schema)
        .json(src)
        .withColumn("ts", F.to_timestamp("ts_s"))
        .drop("ts_s")
    )


ROWS = [
    {"ts_s": "2024-01-01 10:05:00", "user_id": 1, "event_id": 1, "event_type": "click", "value": 1.0},
    {"ts_s": "2024-01-01 10:20:00", "user_id": 1, "event_id": 2, "event_type": "click", "value": 2.0},
    {"ts_s": "2024-01-01 11:40:00", "user_id": 1, "event_id": 3, "event_type": "view", "value": 3.0},
    {"ts_s": "2024-01-01 10:30:00", "user_id": 2, "event_id": 4, "event_type": "click", "value": 4.0},
    # duplicate arrival of event 2:
    {"ts_s": "2024-01-01 10:20:00", "user_id": 1, "event_id": 2, "event_type": "click", "value": 2.0},
]


def _run_to_memory(spark, sdf, name, mode="append"):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    return spark.table(name)


def test_windowed_counts_streaming(spark, tmp_path):
    sdf = windowed_counts(_events_stream(spark, tmp_path, ROWS))
    out = _run_to_memory(spark, sdf, "win_counts", mode="update").collect()
    got = {(str(r.window_start), r.event_type): (r.n, r.sum_value) for r in out}
    assert got[("2024-01-01 10:00:00", "click")] == (4, 9.0)
    assert got[("2024-01-01 11:00:00", "view")] == (1, 3.0)


def test_sliding_windows_streaming(spark, tmp_path):
    sdf = sliding_windowed_agg(_events_stream(spark, tmp_path, ROWS))
    out = _run_to_memory(spark, sdf, "win_slide", mode="update").collect()
    # event at 10:05 lands in the 09:30 and 10:00 one-hour windows
    starts = {str(r.window_start) for r in out if r.event_type == "click"}
    assert "2024-01-01 09:30:00" in starts and "2024-01-01 10:00:00" in starts


def test_session_windows_streaming(spark, tmp_path):
    sdf = session_windowed_agg(_events_stream(spark, tmp_path, ROWS))
    # session windows support append (after watermark) or complete —
    # complete emits every session regardless of watermark progress
    out = _run_to_memory(spark, sdf, "win_session", mode="complete").collect()
    by_user = {}
    for r in out:
        by_user.setdefault(r.user_id, []).append(r)
    # user 1: events at 10:05,10:20(+dup),11:40 → two sessions (75-min gap)
    assert len(by_user[1]) == 2
    sessions = sorted(by_user[1], key=lambda r: r.session_start)
    assert sessions[0].n_events == 3  # includes the duplicate arrival
    assert sessions[1].n_events == 1
    assert len(by_user[2]) == 1


def test_dedup_within_watermark_streaming(spark, tmp_path):
    base = _events_stream(spark, tmp_path, ROWS)
    sdf = dedup_within_watermark(base, keys=("user_id", "event_id"))
    out = _run_to_memory(spark, sdf, "dedup_stream").collect()
    assert len(out) == 4  # 5 arrivals, 1 duplicate dropped
    assert sorted((r.user_id, r.event_id) for r in out) == [(1, 1), (1, 2), (1, 3), (2, 4)]


def test_stateful_running_counts(spark, tmp_path):
    base = _events_stream(spark, tmp_path, ROWS)
    sdf = stateful_running_counts(base)
    out = _run_to_memory(spark, sdf, "stateful_counts", mode="update").collect()
    got = {r.user_id: r.n_events for r in out}
    assert got == {1: 4, 2: 1}
    max_ts = {r.user_id: str(r.max_ts) for r in out}
    assert max_ts[1] == "2024-01-01 11:40:00"


def test_stream_events_to_lake(spark, tmp_path):
    """Streaming ingest into the lake layout: rows land hive-
    partitioned by (event_date, user_bucket), values intact, and a
    second run over the same checkpoint re-publishes nothing
    (exactly-once via the sink's commit protocol)."""
    from pyspark.sql import functions as F

    rows = ROWS
    out, ckpt = str(tmp_path / "lake"), str(tmp_path / "ckpt")
    q = stream_events_to_lake(
        _events_stream(spark, tmp_path, rows), out, ckpt, n_user_buckets=4
    )
    q.awaitTermination(60)
    back = spark.read.parquet(out)
    assert back.count() == len(rows)
    assert {r.event_date.isoformat() for r in back.select("event_date").distinct().collect()} == {
        "2024-01-01"
    }
    expected_bucket = back.select(F.pmod(F.hash("user_id"), F.lit(4)).alias("b"), "user_bucket")
    assert all(r.b == r.user_bucket for r in expected_bucket.collect())
    # same checkpoint, no new source files → nothing re-published
    q2 = stream_events_to_lake(
        _events_stream(spark, tmp_path, rows), out, ckpt, n_user_buckets=4
    )
    q2.awaitTermination(60)
    assert spark.read.parquet(out).count() == len(rows)


def test_stream_stream_interval_join(spark, tmp_path):
    """Two real streams joined on user within a 1-hour interval:
    each purchase picks up the same user's clicks in the preceding
    hour, and only those."""
    clicks = _events_stream(
        spark,
        tmp_path / "clicks",
        [
            {"ts_s": "2024-01-01 10:05:00", "user_id": 1, "event_id": 1, "event_type": "click", "value": 1.0},
            {"ts_s": "2024-01-01 10:20:00", "user_id": 1, "event_id": 2, "event_type": "click", "value": 2.0},
            # outside the 1h window of user 1's purchase:
            {"ts_s": "2024-01-01 08:00:00", "user_id": 1, "event_id": 3, "event_type": "click", "value": 3.0},
            # different user:
            {"ts_s": "2024-01-01 10:30:00", "user_id": 2, "event_id": 4, "event_type": "click", "value": 4.0},
        ],
    )
    purchases = _events_stream(
        spark,
        tmp_path / "purchases",
        [
            {"ts_s": "2024-01-01 10:50:00", "user_id": 1, "event_id": 10, "event_type": "purchase", "value": 9.0},
        ],
    )
    sdf = stream_stream_interval_join(clicks, purchases)
    out = _run_to_memory(spark, sdf, "ss_join").collect()
    got = sorted((r.user_id, r.purchase_id, r.click_id, r.lag_us) for r in out)
    assert got == [(1, 10, 1, 45 * 60 * 1_000_000), (1, 10, 2, 30 * 60 * 1_000_000)]


def test_decaying_rate_counts(spark, tmp_path):
    """Decayed counter: with all of a key's events in one batch, the
    count equals the sum of per-event decay factors against the
    batch's newest event (half-life 1h)."""
    import math

    base = _events_stream(spark, tmp_path, ROWS)
    sdf = decaying_rate_counts(base, half_life_s=3600.0)
    out = {r.user_id: r for r in _run_to_memory(spark, sdf, "decay_counts", mode="update").collect()}
    # user 1: events at 10:05, 10:20, 10:20(dup), 11:40; anchor 11:40
    ages_s = [95 * 60, 80 * 60, 80 * 60, 0]
    expected = sum(math.pow(2.0, -a / 3600.0) for a in ages_s)
    assert abs(out[1].decayed_count - expected) < 1e-4
    assert out[2].decayed_count == 1.0  # single event, zero age


def test_stream_append_honors_auto_compaction(spark, tmp_path):
    """A store with auto_compact_files=N must keep per-stream file
    counts bounded under streaming ingestion (compaction runs in the
    grouped-map worker right after its append — never a
    driver-serialized post-batch loop)."""
    from hematite_spark.store import EventStore

    store = EventStore(spark, str(tmp_path / "store_ac"), auto_compact_files=2)
    src = str(tmp_path / "incoming_ac")
    for batch in range(3):
        _write_wire_batch(src, 5, stream="ac", start=batch * 5)
        sdf = spark.readStream.schema(WIRE_SCHEMA).json(src)
        stream_append_to_store(sdf, store, str(tmp_path / f"ckpt_ac{batch}")).awaitTermination(60)
    assert store.revision("u1", "ac") == 15
    assert [e["id"] for e in store.query("u1", "ac", 0, 20)] == [f"ev-{i}" for i in range(15)]
    n_files = len(store._snapshot_ranges("u1", "ac"))
    assert n_files <= 2, f"auto-compaction did not bound files: {n_files}"


def test_stream_append_honors_lease_lock_provider(spark, tmp_path):
    """Streaming writers take the store's configured lock: with the
    lease provider, no parquet file is published while another writer
    holds the stream's lease."""
    import threading

    from hematite_spark.store.locks import LeaseLockProvider

    store = EventStore(spark, str(tmp_path / "store_lease"), lock_provider="lease")
    d = store._stream_dir("u1", "leased")
    held, released = threading.Event(), []

    def hold():
        with LeaseLockProvider().exclusive(d):
            held.set()
            time.sleep(10)
            released.append(time.time())

    holder = threading.Thread(target=hold)
    holder.start()
    assert held.wait(30)
    src = str(tmp_path / "incoming_lease")
    _write_wire_batch(src, 5, stream="leased")
    sdf = spark.readStream.schema(WIRE_SCHEMA).json(src)
    stream_append_to_store(sdf, store, str(tmp_path / "ckpt_lease")).awaitTermination(120)
    holder.join(60)
    assert not holder.is_alive() and released
    assert store.revision("u1", "leased") == 5
    mtimes = [os.path.getmtime(os.path.join(d, f)) for f in os.listdir(d) if f.endswith(".parquet")]
    assert mtimes
    # file timestamps come from the kernel's coarse clock, which may
    # trail time.time() by one tick
    assert all(m >= released[0] - 0.05 for m in mtimes), (mtimes, released)


def test_stream_append_rejects_invalid_specversion(spark, store, tmp_path):
    """The executor path enforces the same CloudEvents gate as the
    interactive API: a non-1.0 specversion fails the streaming query
    loudly instead of being silently written."""
    import json as _json
    from pyspark.sql.streaming import StreamingQueryException

    src = str(tmp_path / "incoming_bad")
    os.makedirs(src, exist_ok=True)
    with open(os.path.join(src, "bad.json"), "w") as f:
        f.write(
            _json.dumps(
                {
                    "user_id": "u1", "stream_id": "bad", "specversion": "0.3",
                    "id": "e1", "source": "s", "type": "t", "data": None,
                    "ingest_order": 0,
                }
            )
            + "\n"
        )
    sdf = spark.readStream.schema(WIRE_SCHEMA).json(src)
    q = stream_append_to_store(sdf, store, str(tmp_path / "ckpt_bad"))
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(60)
        q.processAllAvailable()


DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("ingest_ts", T.TimestampType()),
    ]
)


def test_stream_corpus_ingest_filters_and_dedups(spark, tmp_path):
    """The streaming corpus funnel drops wrong-language docs,
    low-quality docs, and content duplicates (incl. whitespace-only
    variants), and lands survivors partitioned by lang with the SAME
    quality values the batch rule computes."""
    from hematite_spark.streaming import stream_corpus_ingest

    good = "the quick brown fox jumps over the lazy dog and then runs far away home tonight"
    src = str(tmp_path / "docs_in")
    os.makedirs(src)
    rows = [
        {"doc_id": 1, "text": good, "lang": "en", "source": "s1"},
        # exact duplicate content (different doc_id) — must be dropped
        {"doc_id": 2, "text": good, "lang": "en", "source": "s2"},
        # whitespace variant normalizes to the same content hash
        {"doc_id": 3, "text": "  " + good.replace(" ", "  "), "lang": "en", "source": "s3"},
        # wrong language
        {"doc_id": 4, "text": good, "lang": "zh", "source": "s1"},
        # degenerate repetition → low quality (uniq_ratio collapses)
        {"doc_id": 5, "text": "spam " * 40, "lang": "en", "source": "s1"},
        # distinct good doc — long enough (32 unique words) that the
        # 0.5 no-English-stopword factor still clears min_quality
        {"doc_id": 6, "text": " ".join(f"wort{i} inhalt{i}" for i in range(16)),
         "lang": "de", "source": "s2"},
    ]
    with open(os.path.join(src, "batch0.json"), "w") as f:
        for i, r in enumerate(rows):
            r["ingest_ts"] = f"2024-01-01T00:0{i}:00.000Z"
            f.write(json.dumps(r) + "\n")

    out = str(tmp_path / "corpus_lake")
    sdf = spark.readStream.schema(DOC_SCHEMA).json(src)
    q = stream_corpus_ingest(sdf, out, str(tmp_path / "ckpt_corpus"))
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    kept = {r.doc_id for r in got.collect()}
    assert kept == {1, 6}, kept
    # lang partitioning is physical (listable without a scan)
    assert os.path.isdir(os.path.join(out, "lang=en"))
    assert os.path.isdir(os.path.join(out, "lang=de"))
    # streaming quality == batch rule quality for the same text
    from hematite_spark.queries.text import quality_col

    batch_q = (
        spark.createDataFrame([(good,)], "text string").select(quality_col().alias("q")).first().q
    )
    stream_q = got.where(F.col("doc_id") == 1).first().quality
    assert stream_q == batch_q

    # replay: a second run over the same source must not double-publish
    q2 = stream_corpus_ingest(
        spark.readStream.schema(DOC_SCHEMA).json(src), out, str(tmp_path / "ckpt_corpus")
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == 2


def test_streaming_cms_matches_batch_sketch(spark, tmp_path):
    # the streaming sketch over two micro-batches must equal the batch
    # sketch over the union — counter for counter (mergeability IS the
    # partial-agg contract)
    from hematite_spark.streaming import cms_counters

    src = os.path.join(str(tmp_path), "toks")
    os.makedirs(src, exist_ok=True)
    batch1 = ["spark", "sketch", "spark", "stream", "merge"]
    batch2 = ["spark", "merge", "sketch", "spark", "spark"]
    for i, toks in enumerate([batch1, batch2]):
        with open(os.path.join(src, f"b{i}.json"), "w") as f:
            for t in toks:
                f.write(json.dumps({"t": t}) + "\n")

    schema = T.StructType([T.StructField("t", T.StringType())])
    sdf = cms_counters(spark.readStream.schema(schema).json(src))
    q = (
        sdf.writeStream.format("memory")
        .queryName("cms_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    streamed = {(r.r, r.bucket): r.c for r in spark.table("cms_stream").collect()}

    batch_df = spark.createDataFrame([(t,) for t in batch1 + batch2], schema)
    batch = {(r.r, r.bucket): r.c for r in cms_counters(batch_df).collect()}
    assert streamed == batch
    # d=4 rows, every token hits each row exactly once
    assert sum(c for (r, _), c in streamed.items() if r == 0) == len(batch1 + batch2)


def test_stateful_latest_state_matches_batch_projection(spark, tmp_path):
    """Kappa contract: the streaming latest-state fold over TWO
    micro-batches (split mid-history, so cross-batch state carry is
    exercised) must agree cell-for-cell with the batch
    es_state_projection fold over the same events."""
    import json

    from hematite_spark.streaming.windows import stateful_latest_state
    from hematite_spark.queries.eventstore import es_state_projection

    sf_dir = "/root/testdata/sf0.001"
    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .where(F.col("user_id") < 20)
        .select("user_id", "ts", "event_id", "event_type", "value")
    )
    rows = [r.asDict() for r in ev.collect()]
    rows.sort(key=lambda r: (r["ts"], r["event_id"]))
    cut = len(rows) // 2
    src = tmp_path / "latest_state_src"
    src.mkdir()
    for i, chunk in enumerate((rows[:cut], rows[cut:])):
        with open(src / f"{i}.json", "w") as f:
            for r in chunk:
                r = dict(r, ts_s=r.pop("ts").strftime("%Y-%m-%d %H:%M:%S.%f"))
                f.write(json.dumps(r) + "\n")
    schema = "ts_s string, user_id long, event_id long, event_type string, value double"
    base = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .withColumn("ts", F.to_timestamp("ts_s"))
        .drop("ts_s")
    )
    out = _run_to_memory(spark, stateful_latest_state(base), "latest_state", mode="update")
    # update mode re-emits a key's row each batch it changes in; the
    # final state per key is the LAST emission — dedupe keeping last
    import pandas as pd

    emitted = out.toPandas()
    final = emitted.groupby(["user_id", "event_type"]).tail(1)
    batch = (
        es_state_projection(spark, sf_dir)
        .select("user_id", "event_type", "n_events", "last_value")
        .toPandas()
    )
    key = ["user_id", "event_type"]
    merged = final.sort_values(key).reset_index(drop=True).merge(
        batch.sort_values(key).reset_index(drop=True), on=key, suffixes=("_s", "_b")
    )
    assert len(merged) == len(batch) == len(final)
    assert (merged.n_events_s == merged.n_events_b).all()
    assert (merged.last_value_s - merged.last_value_b).abs().max() < 1e-9


def test_streaming_kmv_matches_batch_sketch(spark, tmp_path):
    """Mergeable-sketch kappa contract: the streaming KMV state after
    two micro-batches (events split mid-history, so cross-batch merge
    is exercised) must reproduce the batch kmv_sketch_merge kth-minimum
    hash per event type, estimate and all."""
    import json as _json

    from hematite_spark.streaming import kmv_distinct_stream
    from hematite_spark.queries.udf import kmv_sketch_merge

    sf_dir = "/root/testdata/sf0.001"
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_type", "user_id")
    rows = [r.asDict() for r in ev.collect()]
    cut = len(rows) // 2
    src = tmp_path / "kmv_src"
    src.mkdir()
    for i, chunk in enumerate((rows[:cut], rows[cut:])):
        with open(src / f"{i}.json", "w") as f:
            for r in chunk:
                f.write(_json.dumps(r) + "\n")
    base = (
        spark.readStream.schema("event_type string, user_id long")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out = _run_to_memory(spark, kmv_distinct_stream(base), "kmv_stream", mode="update")
    emitted = out.toPandas()
    # update mode re-emits per batch; the final state is the last emission
    final = emitted.groupby("event_type").tail(1).set_index("event_type")
    batch = {r.event_type: r for r in kmv_sketch_merge(spark, sf_dir).collect()}
    assert set(final.index) == set(batch)
    for et, b in batch.items():
        assert int(final.loc[et, "kth_min"]) == b.kth_direct, et
        assert abs(float(final.loc[et, "est_distinct"]) - b.est_distinct) < 1e-6, et


def test_streaming_welford_matches_batch_moments(spark, tmp_path):
    """Chan-merge contract: running (n, mean, stddev_pop) after two
    micro-batches (events split mid-history) must equal the batch
    aggregate per event type; the anomaly counter scores each batch
    against PRE-batch moments, so batch 1 (no prior state) reports 0."""
    import json as _json

    from pyspark.sql import functions as F

    from hematite_spark.streaming import welford_moments_stream

    sf_dir = "/root/testdata/sf0.001"
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_type", "value")
    rows = [r.asDict() for r in ev.collect()]
    cut = len(rows) // 2
    src = tmp_path / "welford_src"
    src.mkdir()
    for i, chunk in enumerate((rows[:cut], rows[cut:])):
        with open(src / f"{i}.json", "w") as f:
            for r in chunk:
                f.write(_json.dumps(r) + "\n")
    base = (
        spark.readStream.schema("event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out = _run_to_memory(
        spark, welford_moments_stream(base), "welford_stream", mode="update"
    )
    emitted = out.toPandas()
    final = emitted.groupby("event_type").tail(1).set_index("event_type")
    first = emitted.groupby("event_type").head(1)
    assert (first.batch_anomalies == 0).all()
    batch = {
        r.event_type: r
        for r in ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.avg("value").alias("mean"),
            F.stddev_pop("value").alias("sd"),
        )
        .collect()
    }
    assert set(final.index) == set(batch)
    for et, b in batch.items():
        assert int(final.loc[et, "n"]) == b.n, et
        assert abs(float(final.loc[et, "mean"]) - b.mean) < 1e-9, et
        assert abs(float(final.loc[et, "stddev_pop"]) - b.sd) < 1e-9, et


def test_stream_static_enrichment_matches_batch(spark, tmp_path):
    """The per-batch broadcast dim join must produce, in complete
    mode, exactly the batch join's (segment, type) aggregate — no
    state, no watermark, dim picked up every batch."""
    import json as _json

    from pyspark.sql import functions as F

    from hematite_spark.streaming import stream_static_enrichment

    sf_dir = "/root/testdata/sf0.001"
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", "user_id", "value"
    )
    dim = spark.createDataFrame(
        [(0, "free"), (1, "pro"), (2, "pro"), (3, "enterprise")], "cohort long, segment string"
    )
    rows = [r.asDict() for r in ev.collect()]
    cut = len(rows) // 2
    src = tmp_path / "enrich_src"
    src.mkdir()
    for i, chunk in enumerate((rows[:cut], rows[cut:])):
        with open(src / f"{i}.json", "w") as f:
            for r in chunk:
                f.write(_json.dumps(r) + "\n")
    base = (
        spark.readStream.schema("event_type string, user_id long, value double")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        stream_static_enrichment(base, dim)
        .writeStream.format("memory")
        .queryName("enrich_out")
        .outputMode("complete")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r.segment, r.event_type): (r.n_events, round(r.total_value, 6))
        for r in spark.table("enrich_out").collect()
    }
    want = {
        (r.segment, r.event_type): (r.n_events, round(r.total_value, 6))
        for r in ev.withColumn("cohort", F.col("user_id") % 4)
        .join(dim, "cohort")
        .groupBy("segment", "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .collect()
    }
    assert got == want


def test_streaming_ks_drift_matches_batch_binned_ecdf(spark, tmp_path):
    """Streaming KS drift gate contract (the live twin of the batch
    ks_two_sample, VERDICT r4 item 8): the final per-key binned KS D
    after two micro-batches (events split mid-history) must equal,
    cell-for-cell, a batch aggregate computing counts-at-each-edge /
    n against the same broadcast baseline CDF — edge-count merging is
    associative addition, so any micro-batch split lands on the same
    state. Also pins the gate itself: the baseline key scored against
    its own full distribution must NOT drift."""
    import json as _json

    from pyspark.sql import functions as F

    from hematite_spark.streaming import ks_baseline_summary, ks_drift_stream

    sf_dir = "/root/testdata/sf0.001"
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_type", "value")
    base = ev.where(F.col("event_type") == "view")
    edges, cdf, n_base = ks_baseline_summary(base, "value", bins=16)
    assert len(edges) == len(cdf) and n_base == base.count()
    assert abs(cdf[-1] - 1.0) < 1e-12  # last edge is the baseline max

    rows = [r.asDict() for r in ev.collect()]
    cut = len(rows) // 2
    src = tmp_path / "ks_src"
    src.mkdir()
    for i, chunk in enumerate((rows[:cut], rows[cut:])):
        with open(src / f"{i}.json", "w") as f:
            for r in chunk:
                f.write(_json.dumps(r) + "\n")
    stream = (
        spark.readStream.schema("event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out = _run_to_memory(
        spark,
        ks_drift_stream(stream, edges, cdf, n_base),
        "ks_drift_stream",
        mode="update",
    )
    emitted = out.toPandas()
    final = emitted.groupby("event_type").tail(1).set_index("event_type")

    # batch twin: counts at each edge per key, same binned D
    counts = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum((F.col("value") <= F.lit(e)).cast("long")).alias(f"c{i}")
            for i, e in enumerate(edges)
        ],
    )
    for r in counts.collect():
        d = max(abs(r[f"c{i}"] / r["n"] - cdf[i]) for i in range(len(edges)))
        thr = 1.358 * ((r["n"] + n_base) / (r["n"] * n_base)) ** 0.5
        f = final.loc[r.event_type]
        assert int(f["n_stream"]) == r["n"], r.event_type
        assert abs(float(f["ks_d"]) - round(d, 6)) < 1e-9, r.event_type
        assert abs(float(f["threshold_95"]) - round(thr, 6)) < 1e-9, r.event_type
        assert bool(f["drifted"]) == (d > thr), r.event_type
    # the baseline distribution vs itself must sit well under the gate
    assert not bool(final.loc["view", "drifted"])
    assert float(final.loc["view", "ks_d"]) < 0.01


def test_ks_baseline_summary_empty_raises(spark):
    """An empty baseline must fail loudly (ValueError) instead of
    ZeroDivisionError deep in the CDF math."""
    import pytest
    from pyspark.sql import functions as F

    from hematite_spark.streaming import ks_baseline_summary

    empty = spark.range(0).select(F.col("id").cast("double").alias("value"))
    with pytest.raises(ValueError, match="empty baseline"):
        ks_baseline_summary(empty, "value", bins=8)
