"""The event store: multi-tenant, append-only CloudEvents streams.

Reproduces the reference's storage semantics (reference db.rs /
server.rs — see SURVEY.md §2 A) on a Spark-native layout:

* one logical ``events`` table, hive-partitioned on disk as
  ``user_id=<u>/stream_id=<s>/`` with parquet files sorted by
  ``revision`` — positional access is a partition-pruned scan with
  row-group min/max skipping, replacing the reference's 8-byte
  offset index (db.rs:140-161) with structures Spark already has;
* appends are micro-batches: each append writes ONE parquet file
  into the stream's partition and assigns gapless 0-based revisions
  from a per-stream high-water mark (the reference's
  ``revision = len(index)/8`` counter, db.rs:103-113);
* optimistic concurrency: the ``ExpectedRevision`` gate
  (Any | NoStream | StreamExists | Exact) is checked under a
  per-stream lock, mirroring the reference's per-stream
  ``tokio::sync::Mutex`` (server.rs:58,184; db.rs:20-26,189-198);
* ``(source, id)`` uniqueness per stream is ENFORCED (the reference
  declares ``SourceIdConflict`` → HTTP 409 but never raises it —
  db.rs:15-16, api.rs:524-537; SURVEY.md A10 closes the gap).

Write path is deliberately driver-side (pyarrow parquet writer):
a single-event append is an OLTP operation where a Spark job launch
would dominate latency; the files it writes are plain parquet in the
table's partition layout, so every Spark read path (batch or
streaming file source) consumes them natively with pruning intact.
At cluster scale the same design holds: appends land as small
parquet files per micro-batch (Structured Streaming executors call
``append_new``, see streaming/append.py), commit serialization stays
per-stream, and compaction (``compact_stream``) folds small files
into sorted large ones so scans stay efficient. This module is the
only one that names store files, takes stream locks or compacts.
Writer serialization is two-level: the in-process RLock per stream
(the reference's tokio mutex, server.rs:58,184) plus the store's
``LockProvider`` (``flock`` on ``<stream_dir>/.lock`` by default, or
a TTL lease) held across the append critical section, so multiple
EventStore instances on shared storage serialize appends and the OCC
gate judges the authoritative on-disk state
(``_refresh_if_changed``). Streaming writers build their EventStore
with the same provider, so they serialize against interactive
writers the same way. On a cluster the provider is replaced by a
lock service or Delta-style transaction log; the API and the gate
semantics are unchanged.

Scale notes (100 TB design point): tenant/stream partitioning keeps
point and range reads pruned to one directory regardless of table
size. For millions of tiny streams the layout would switch to
``user_bucket=<hash(user)%N>/date=<d>/`` partitions with
``(user_id, stream_id, revision)`` sort order within files —
min/max stats still prune to a handful of row groups; the API here
is unchanged. Stream enumeration/metadata is a metadata-only
aggregate over parquet footers, not a data scan.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import threading
import uuid
from contextlib import contextmanager
from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Any, ClassVar, Iterable

import pyarrow as pa
import pyarrow.dataset as pa_ds
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hematite_spark.schema import REQUIRED_ATTRS
from hematite_spark.store.locks import LockProvider, resolve_lock_provider


# ---------------------------------------------------------------- errors


class StoreError(Exception):
    """Base class for store errors."""


class RevisionMismatch(StoreError):
    """Expected-revision gate failed (reference db.rs:13-14 → HTTP 409)."""


class StreamNotFound(StoreError):
    """Read from an unknown stream (reference server.rs:20-24 → HTTP 404)."""


class EmptyAppend(StoreError):
    """Empty batch rejected (reference db.rs:185 ``ensure!``)."""


class SourceIdConflict(StoreError):
    """(source, id) already present in stream (CloudEvents uniqueness,
    reference api.rs:524-537 → HTTP 409; enforced here, unlike there)."""


class InvalidEvent(StoreError):
    """Body is not a CloudEvents v1.0 object (reference → HTTP 422)."""


# ------------------------------------------------------- expected revision


@dataclass(frozen=True)
class ExpectedRevision:
    """OCC gate for appends (reference db.rs:20-26).

    kind: "any" | "no-stream" | "stream-exists" | "exact"
    """

    kind: str
    exact: int | None = None

    # ClassVar: plain annotations would become dataclass instance
    # fields (polluting __init__/eq and shadowing the sentinels)
    ANY: ClassVar["ExpectedRevision"] = None  # type: ignore[assignment]
    NO_STREAM: ClassVar["ExpectedRevision"] = None  # type: ignore[assignment]
    STREAM_EXISTS: ClassVar["ExpectedRevision"] = None  # type: ignore[assignment]

    @staticmethod
    def exact_at(n: int) -> "ExpectedRevision":
        return ExpectedRevision("exact", n)

    @staticmethod
    def parse(raw: str) -> "ExpectedRevision":
        """Parse the ``?expected_revision=`` query value (reference
        api.rs:558-571)."""
        if raw == "any":
            return ExpectedRevision.ANY
        if raw == "no-stream":
            return ExpectedRevision.NO_STREAM
        if raw == "stream-exists":
            return ExpectedRevision.STREAM_EXISTS
        if re.fullmatch(r"\d+", raw):
            return ExpectedRevision.exact_at(int(raw))
        raise ValueError(f"invalid expected_revision: {raw!r}")

    def check(self, current_revision: int) -> None:
        """current_revision = number of events already in the stream
        (0 = no stream). Raises RevisionMismatch exactly where the
        reference does (db.rs:189-198)."""
        if self.kind == "any":
            return
        if self.kind == "no-stream":
            if current_revision != 0:
                raise RevisionMismatch(f"expected no stream, found revision {current_revision}")
        elif self.kind == "stream-exists":
            if current_revision == 0:
                raise RevisionMismatch("expected existing stream, found none")
        elif self.kind == "exact":
            if current_revision != self.exact:
                raise RevisionMismatch(f"expected revision {self.exact}, found {current_revision}")
        else:  # pragma: no cover
            raise ValueError(f"unknown kind {self.kind}")


ExpectedRevision.ANY = ExpectedRevision("any")
ExpectedRevision.NO_STREAM = ExpectedRevision("no-stream")
ExpectedRevision.STREAM_EXISTS = ExpectedRevision("stream-exists")


# ---------------------------------------------------------------- helpers

_KNOWN_ATTRS = {
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
}

_ARROW_SCHEMA = pa.schema(
    [
        pa.field("revision", pa.int64(), nullable=False),
        pa.field("specversion", pa.string(), nullable=False),
        pa.field("id", pa.string(), nullable=False),
        pa.field("source", pa.string(), nullable=False),
        pa.field("type", pa.string(), nullable=False),
        pa.field("subject", pa.string()),
        pa.field("datacontenttype", pa.string()),
        pa.field("dataschema", pa.string()),
        pa.field("time", pa.timestamp("us", tz="UTC")),
        pa.field("data", pa.string()),
        # binary payloads keep their CloudEvents identity: data and
        # data_base64 are distinct attributes on the wire and in the
        # store (conflating them made base64 events unreadable —
        # json.loads of raw base64 text on every read)
        pa.field("data_base64", pa.string()),
        # extension VALUES are stored as JSON literals (json.dumps,
        # strings included) so scalar types survive the round trip
        pa.field("extensions", pa.map_(pa.string(), pa.string())),
        pa.field("ingest_time", pa.timestamp("us", tz="UTC")),
    ]
)


def _parse_time(value: Any) -> datetime | None:
    if value is None:
        return None
    if isinstance(value, datetime):
        return value if value.tzinfo else value.replace(tzinfo=timezone.utc)
    # RFC3339; CloudEvents `time` is a string on the wire
    s = str(value).replace("Z", "+00:00")
    dt = datetime.fromisoformat(s)
    return dt if dt.tzinfo else dt.replace(tzinfo=timezone.utc)


def _validated(events: Iterable[dict[str, Any]]) -> list[dict[str, Any]]:
    """The events as a list, each checked as a CloudEvents v1.0 object."""
    batch = list(events)
    for event in batch:
        for attr in REQUIRED_ATTRS:
            if attr not in event or event[attr] is None:
                raise InvalidEvent(f"missing required CloudEvents attribute {attr!r}")
        if str(event["specversion"]) != "1.0":
            raise InvalidEvent(f"unsupported specversion {event['specversion']!r}")
    return batch


def _source_id(event: dict[str, Any]) -> tuple[str, str]:
    return str(event["source"]), str(event["id"])


def _encode_stream_dir(stream_id: str) -> str:
    """Filesystem-safe partition value. The reference base32-encodes
    stream names for the same reason (server.rs:134-148); we
    percent-encode only what the filesystem/hive layout can't take."""
    import urllib.parse

    return urllib.parse.quote(stream_id, safe="")


def _decode_stream_dir(name: str) -> str:
    import urllib.parse

    return urllib.parse.unquote(name)


# ------------------------------------------------------------------ store


class EventStore:
    """Multi-tenant append-only CloudEvents store over a partitioned
    parquet table."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        auto_compact_files: int | None = None,
        lock_provider: "LockProvider | str | None" = None,
    ):
        """`auto_compact_files`: when set, an append that leaves a
        stream with at least this many files triggers an inline
        compaction under the same stream lock — appends stay O(batch)
        amortized while reads stay bounded at O(threshold) files. At
        cluster scale this becomes the async compaction job; inline
        is the single-node policy (matching the reference's
        single-node envelope).

        `lock_provider`: the cross-instance writer lock — ``'flock'``,
        ``'lease'`` (O_EXCL TTL lease for filesystems where flock is
        advisory-unreliable), a ``LockProvider`` instance, or the
        default ``'auto'`` (flock where fcntl exists, lease
        elsewhere). See hematite_spark/store/locks.py."""
        self.spark = spark
        self.root = root
        self.auto_compact_files = auto_compact_files
        self._lock_provider = resolve_lock_provider(lock_provider)
        os.makedirs(root, exist_ok=True)
        self._locks: dict[tuple[str, str], threading.RLock] = {}
        self._locks_guard = threading.Lock()
        # per-stream high-water mark (event count); lazily hydrated
        self._hwm: dict[tuple[str, str], int] = {}
        # per-stream (source, id) set for the uniqueness gate; lazily
        # hydrated once, then maintained incrementally — without it
        # every append re-reads all prior files (O(n²) appends). At
        # cluster scale this becomes a bloom filter / key index beside
        # the stream rather than process memory.
        self._ids: dict[tuple[str, str], set[tuple[str, str]]] = {}
        # per-stream [(path, start_revision, n_rows)] sorted by start —
        # the file-level positional index: a point/range read opens
        # only the files overlapping its revision window, independent
        # of how many micro-batch files the stream has accumulated
        # (the reference gets this from index.dat; parquet row-group
        # stats then prune within the file)
        self._ranges: dict[tuple[str, str], list[tuple[str, int, int]]] = {}
        self._seq = 0  # monotonic file sequence within this process
        # interprocess lock state: open fd + reentrancy depth per
        # stream, guarded by the stream's in-process RLock (which is
        # always held around _interprocess_lock)
        self._flock_depth: dict[tuple[str, str], int] = {}

    # -- catalog / paths

    def _stream_dir(self, user_id: str, stream_id: str) -> str:
        return os.path.join(
            self.root,
            f"user_id={_encode_stream_dir(user_id)}",
            f"stream_id={_encode_stream_dir(stream_id)}",
        )

    def _lock(self, user_id: str, stream_id: str) -> threading.RLock:
        # RLock: read paths take it briefly for cache snapshots, and
        # append (already holding it) calls those same helpers
        key = (user_id, stream_id)
        with self._locks_guard:
            if key not in self._locks:
                self._locks[key] = threading.RLock()
            return self._locks[key]

    @contextmanager
    def _interprocess_lock(self, user_id: str, stream_id: str):
        """Cross-instance writer serialization via the pluggable
        ``LockProvider`` (flock on POSIX by default; O_EXCL TTL lease
        where flock is advisory-unreliable — see store/locks.py). This
        is the per-stream lock service the multi-writer OCC contract
        requires — two EventStore instances (processes) on shared
        storage serialize their append/compact/delete critical
        sections here, the same way the reference serializes per
        stream with its tokio mutex (reference server.rs:58,184) but
        across process boundaries.

        MUST be called with the stream's in-process RLock held (it
        guards the reentrancy depth map, and orders in-process
        waiters before the cross-process wait). Reentrant within a
        holder: append → auto-compact re-enters without re-locking.
        At cluster scale the same role is played by a lock service
        or a Delta-style transaction log; the providers here are the
        shared-filesystem members of that family."""
        key = (user_id, stream_id)
        if self._flock_depth.get(key, 0) > 0:
            self._flock_depth[key] += 1
            try:
                yield
            finally:
                self._flock_depth[key] -= 1
            return
        with self._lock_provider.exclusive(self._stream_dir(user_id, stream_id)):
            self._flock_depth[key] = 1
            try:
                yield
            finally:
                self._flock_depth[key] = 0

    def _refresh_if_changed(self, user_id: str, stream_id: str) -> None:
        """Drop caches when the directory no longer matches them —
        the write-path guard against a stale view of a stream another
        process appended to or compacted. Called under both locks:
        one listdir per append, so the OCC gate always judges the
        authoritative on-disk state."""
        key = (user_id, stream_id)
        cached = self._ranges.get(key)  # None: next access hydrates anyway
        if cached is not None and {p for p, _, _ in cached} != set(self._parquet_files(*key)):
            self._forget(key)

    def _forget(self, key: tuple[str, str]) -> None:
        """Drop a stream's caches so the next access re-reads the
        directory. Callers hold the stream's in-process lock."""
        for cache in (self._ranges, self._hwm, self._ids):
            cache.pop(key, None)

    def _stream_exists(self, user_id: str, stream_id: str) -> bool:
        d = self._stream_dir(user_id, stream_id)
        return os.path.isdir(d) and any(f.endswith(".parquet") for f in os.listdir(d))

    def _parquet_files(self, user_id: str, stream_id: str) -> list[str]:
        d = self._stream_dir(user_id, stream_id)
        if not os.path.isdir(d):
            return []
        return sorted(
            os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")
        )

    def _file_ranges(self, user_id: str, stream_id: str) -> list[tuple[str, int, int]]:
        """(path, start_revision, n_rows) per file, sorted by start.
        Hydrated once from footers, then maintained on append/compact.

        MUST be called with the stream lock held (append/compact
        already hold it; readers take it briefly to snapshot) —
        unsynchronized hydration raced with append could clobber or
        double entries under the threaded API server."""
        key = (user_id, stream_id)
        ranges = self._ranges.get(key)
        if ranges is None:
            # start revision is authoritative from the filename
            # (part-{start:012d}-{seq}); rows from the footer
            entries = []
            for path in self._parquet_files(*key):
                start = int(os.path.basename(path).split("-")[1])
                n = pq.ParquetFile(path).metadata.num_rows
                entries.append((path, start, n))
            # reconcile an interrupted compaction (crash between the
            # compacted file's rename and the old files' removal):
            # a file fully covered by a LARGER file is a stale
            # pre-compaction leftover — finish the cleanup here
            stale = {
                e[0]
                for e in entries
                if any(
                    o[0] != e[0] and o[1] <= e[1] and o[1] + o[2] >= e[1] + e[2] and o[2] > e[2]
                    for o in entries
                )
            }
            for path in stale:
                try:
                    os.remove(path)
                except OSError:
                    pass
            ranges = sorted((e for e in entries if e[0] not in stale), key=lambda e: e[1])
            self._ranges[key] = ranges
        return ranges

    def _snapshot_ranges(self, user_id: str, stream_id: str) -> list[tuple[str, int, int]]:
        """Thread-safe copy of the stream's file ranges (the read-path
        entry; mirrors the reference's read-under-stream-mutex,
        server.rs:168-175, without holding the lock during I/O)."""
        with self._lock(user_id, stream_id):
            return list(self._file_ranges(user_id, stream_id))

    def _invalidate(self, user_id: str, stream_id: str) -> None:
        """Drop caches so the next access re-reads the directory —
        the self-heal path when files changed outside this instance
        (external compaction, a second writer)."""
        with self._lock(user_id, stream_id):
            self._forget((user_id, stream_id))

    def revision(self, user_id: str, stream_id: str) -> int:
        """Event count of the stream (reference db.rs:103-113). Reads
        parquet FOOTER metadata only — no data scan."""
        key = (user_id, stream_id)
        if key in self._hwm:
            return self._hwm[key]
        with self._lock(*key):
            total = sum(n for _, _, n in self._file_ranges(*key))
            self._hwm[key] = total
            return total

    # -- append (A1/A4) -----------------------------------------------

    def append(
        self,
        user_id: str,
        stream_id: str,
        events: Iterable[dict[str, Any]] | dict[str, Any],
        expected: ExpectedRevision = ExpectedRevision.ANY,
    ) -> int:
        """Append a batch atomically; returns the new revision
        (= event count, reference db.rs:239). Single events accepted
        like the reference's untagged Single|Batch payload
        (api.rs:449-454)."""
        if isinstance(events, dict):
            events = [events]
        batch = _validated(events)
        if not batch:
            raise EmptyAppend("append batch must be non-empty")

        def gate(current: int) -> list[dict[str, Any]]:
            expected.check(current)
            incoming = [_source_id(e) for e in batch]
            if len(set(incoming)) != len(incoming):
                raise SourceIdConflict("duplicate (source, id) within batch")
            held = self._source_ids(user_id, stream_id)
            for src, eid in incoming:
                if (src, eid) in held:
                    raise SourceIdConflict(f"event ({src!r}, {eid!r}) already in stream")
            return batch

        return self._write(user_id, stream_id, gate)[1]

    def append_new(
        self, user_id: str, stream_id: str, events: Iterable[dict[str, Any]]
    ) -> tuple[int, int]:
        """Idempotent append: write, in order, only the events whose
        ``(source, id)`` the stream does not hold yet (repeats within
        ``events`` included); returns ``(appended, new_revision)``.
        A full replay writes no file and returns ``(0, revision)``.
        Every event is validated first, so an invalid event fails the
        whole call. This is the exactly-once sink of the streaming
        path: a re-delivered micro-batch drops what already landed."""
        batch = _validated(events)

        def gate(current: int) -> list[dict[str, Any]]:
            held = self._source_ids(user_id, stream_id)
            picked: set[tuple[str, str]] = set()
            fresh = []
            for ev in batch:
                key = _source_id(ev)
                if key not in held and key not in picked:
                    picked.add(key)
                    fresh.append(ev)
            return fresh

        return self._write(user_id, stream_id, gate)

    def _write(self, user_id: str, stream_id: str, gate) -> tuple[int, int]:
        """The one write body. Under both stream locks, against the
        on-disk state (another process may have appended or compacted
        since this instance last looked), ``gate(current_revision)``
        raises or returns the events to write; they land as one file.
        Returns ``(written, new_revision)``."""
        key = (user_id, stream_id)
        with self._lock(*key), self._interprocess_lock(*key):
            self._refresh_if_changed(*key)
            current = self.revision(*key)
            batch = gate(current)
            if not batch:
                return 0, current
            rows = self._to_arrow_rows(batch, current, datetime.now(timezone.utc))
            self._seq += 1
            # sortable filename: revision range + sequence → readers and
            # compaction see files in append order
            final = self._publish(
                key,
                f"part-{current:012d}-{self._seq:06d}.parquet",
                pa.Table.from_pydict(rows, schema=_ARROW_SCHEMA),
            )
            self._hwm[key] = current + len(batch)
            self._source_ids(*key).update(_source_id(e) for e in batch)
            self._file_ranges(*key).append((final, current, len(batch)))
            if self.auto_compact_files is not None and len(self._ranges[key]) >= self.auto_compact_files:
                self.compact_stream(*key)  # RLock: reentrant
            return len(batch), current + len(batch)

    def _publish(self, key: tuple[str, str], fname: str, table: pa.Table) -> str:
        """Write ``table`` to a temporary file unique to this call, then
        rename it to ``fname`` (atomic publish). Two attempts of one
        write (a speculative or retried Spark task) never share a tmp
        path, so neither can interleave into a corrupt file."""
        d = self._stream_dir(*key)
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, f".{fname}.{os.getpid()}-{uuid.uuid4().hex[:8]}.tmp")
        pq.write_table(table, tmp, compression="zstd")
        final = os.path.join(d, fname)
        os.rename(tmp, final)
        return final

    def _source_ids(self, user_id: str, stream_id: str) -> set[tuple[str, str]]:
        """The stream's (source, id) set — hydrated once from a
        columnar (source, id)-only read, then maintained on append."""
        key = (user_id, stream_id)
        ids = self._ids.get(key)
        if ids is None:
            ids = set()
            for path, _, _ in self._file_ranges(user_id, stream_id):
                t = pq.read_table(path, columns=["source", "id"])
                ids.update(zip(t.column("source").to_pylist(), t.column("id").to_pylist()))
            self._ids[key] = ids
        return ids

    @staticmethod
    def _to_arrow_rows(
        batch: list[dict[str, Any]], start_revision: int, ingest_time: datetime
    ) -> dict[str, list]:
        cols: dict[str, list] = {name: [] for name in _ARROW_SCHEMA.names}
        for i, ev in enumerate(batch):
            data = ev.get("data")
            data_str = None if data is None else json.dumps(data, sort_keys=True)
            b64 = ev.get("data_base64")
            # all extension values as JSON literals → scalar types
            # (int/bool/float) survive storage and export verbatim
            ext = {k: json.dumps(v) for k, v in ev.items() if k not in _KNOWN_ATTRS}
            cols["revision"].append(start_revision + i)
            cols["specversion"].append(str(ev["specversion"]))
            cols["id"].append(str(ev["id"]))
            cols["source"].append(str(ev["source"]))
            cols["type"].append(str(ev["type"]))
            cols["subject"].append(ev.get("subject"))
            cols["datacontenttype"].append(ev.get("datacontenttype"))
            cols["dataschema"].append(ev.get("dataschema"))
            cols["time"].append(_parse_time(ev.get("time")))
            cols["data"].append(data_str)
            cols["data_base64"].append(None if b64 is None else str(b64))
            cols["extensions"].append(list(ext.items()) if ext else None)
            cols["ingest_time"].append(ingest_time)
        return cols

    # -- reads (A2/A3) ------------------------------------------------

    def _require_stream(self, user_id: str, stream_id: str) -> None:
        if not self._stream_exists(user_id, stream_id):
            raise StreamNotFound(f"{user_id}/{stream_id}")

    def read_df(
        self, user_id: str, stream_id: str, until_revision: int | None = None
    ) -> DataFrame:
        """The stream as a Spark DataFrame (partition-pruned scan).

        `until_revision` replays the stream to a point in history:
        only events with revision < n are visible — the event-sourcing
        time-travel read. Because the log is append-only, this is a
        pure predicate (monotone data ⇒ every historical state is a
        prefix), which parquet min/max stats prune to the first files;
        no snapshot/undo machinery exists or is needed."""
        self._require_stream(user_id, stream_id)
        df = self.spark.read.parquet(self._stream_dir(user_id, stream_id))
        if until_revision is not None:
            df = df.where(F.col("revision") < int(until_revision))
        return df

    def query(
        self, user_id: str, stream_id: str, start: int = 0, limit: int = 50
    ) -> list[dict[str, Any]]:
        """Range scan with offset/limit (reference db.rs:132-177,
        api.rs:268-308). Default limit 50, capped at 1000
        (api.rs:271-272). Missing stream → empty (db.rs:136-138).

        Positional access = revision-range predicate: parquet row-group
        min/max stats on the sorted `revision` column give the same
        O(1)-seek behavior the reference gets from index.dat."""
        # clamp BOTH bounds for library callers (the HTTP layer clamps
        # too, reference api.rs:271-272): a negative start would make
        # end < 0 and silently return [] for an existing stream
        start = max(int(start), 0)
        limit = min(max(int(limit), 0), 1000)
        if not self._stream_exists(user_id, stream_id):
            return []
        # file-level positional pruning: only files overlapping
        # [start, start+limit) are opened — a point read touches ONE
        # file no matter how many micro-batches the stream holds
        end = start + limit
        for attempt in (0, 1):
            files = [
                p
                for p, file_start, n in self._snapshot_ranges(user_id, stream_id)
                if file_start < end and file_start + n > start
            ]
            if not files:
                return []
            try:
                # pyarrow dataset fast path: small interactive read,
                # predicate pushed to row-group pruning; Spark path
                # available via read_df()
                ds = pa_ds.dataset(files, format="parquet")
                filt = (pa_ds.field("revision") >= start) & (pa_ds.field("revision") < end)
                t = ds.to_table(filter=filt).sort_by("revision")
                return self._rows_to_events(t)
            except FileNotFoundError:
                if attempt:  # pragma: no cover — second pass re-read fresh state
                    raise
                # files changed under us (external compaction/writer):
                # drop caches and retry once against the directory
                self._invalidate(user_id, stream_id)
        return []  # pragma: no cover

    def get_event(self, user_id: str, stream_id: str, rownum: int) -> dict[str, Any] | None:
        """Point read by 0-based position (reference db.rs:132-177 via
        server.rs:154-166). Unknown stream raises StreamNotFound (404);
        past-the-end returns None (deliberate deviation from the
        reference's 500 quirk — SURVEY.md §2 error table)."""
        self._require_stream(user_id, stream_id)
        rows = self.query(user_id, stream_id, start=rownum, limit=1)
        return rows[0] if rows else None

    @staticmethod
    def _rows_to_events(t: pa.Table) -> list[dict[str, Any]]:
        out = []
        for row in t.to_pylist():
            ev: dict[str, Any] = {
                "specversion": row["specversion"],
                "id": row["id"],
                "source": row["source"],
                "type": row["type"],
            }
            for k in ("subject", "datacontenttype", "dataschema"):
                if row[k] is not None:
                    ev[k] = row[k]
            if row["time"] is not None:
                ev["time"] = row["time"].isoformat().replace("+00:00", "Z")
            if row["data"] is not None:
                ev["data"] = json.loads(row["data"])
            if row["data_base64"] is not None:
                ev["data_base64"] = row["data_base64"]
            if row["extensions"]:
                ev.update({k: json.loads(v) for k, v in dict(row["extensions"]).items()})
            ev["_revision"] = row["revision"]
            out.append(ev)
        return out

    # -- catalog (A5/A6/A7) -------------------------------------------

    def streams(self, user_id: str, sort: str | None = None) -> list[dict[str, Any]]:
        """Enumerate a user's streams with metadata
        ``(id, revision, last_modified, usage)`` (reference
        server.rs:199-248). Metadata-only: parquet footers + file
        stats, no data scan. Sort keys as whitelisted by the
        reference (api.rs:320-335): id, [-]usage, [-]revision,
        [-]last_modified; unknown → ValueError (HTTP 400)."""
        user_dir = os.path.join(self.root, f"user_id={_encode_stream_dir(user_id)}")
        result = []
        for entry in sorted(os.listdir(user_dir)) if os.path.isdir(user_dir) else []:
            if entry.startswith("stream_id="):
                meta = self._metadata(user_id, _decode_stream_dir(entry[len("stream_id=") :]))
                if meta is not None:
                    result.append(meta)
        if sort:
            desc = sort.startswith("-")
            key = sort[1:] if desc else sort
            if key not in ("id", "usage", "revision", "last_modified"):
                raise ValueError(f"invalid sort key: {sort!r}")
            result.sort(key=lambda s: s[key], reverse=desc)
        return result

    def get_stream(self, user_id: str, stream_id: str) -> dict[str, Any]:
        """Single-stream metadata (reference server.rs:232-248)."""
        self._require_stream(user_id, stream_id)
        meta = self._metadata(user_id, stream_id)
        if meta is None:
            raise StreamNotFound(f"{user_id}/{stream_id}")
        return meta

    def _metadata(self, user_id: str, stream_id: str) -> dict[str, Any] | None:
        """``(id, revision, last_modified, usage)`` from the file index
        and file stats, or None when the stream has no files — or a
        concurrent delete/compaction swapped them out from under the
        stat, in which case the stale caches are dropped too."""
        ranges = self._snapshot_ranges(user_id, stream_id)
        try:
            stats = [os.stat(p) for p, _, _ in ranges]
        except FileNotFoundError:
            stats = []
        if not stats:
            self._invalidate(user_id, stream_id)
            return None
        return {
            "id": stream_id,
            "revision": sum(n for _, _, n in ranges),
            "last_modified": int(max(s.st_mtime for s in stats)),
            "usage": sum(s.st_size for s in stats),
        }

    def delete_stream(self, user_id: str, stream_id: str) -> bool:
        """Drop the stream's partition (reference server.rs:250-261).
        Returns False for unknown streams, like the reference."""
        with self._lock(user_id, stream_id):
            d = self._stream_dir(user_id, stream_id)
            if not os.path.isdir(d):
                return False
            with self._interprocess_lock(user_id, stream_id):
                shutil.rmtree(d)
            self._forget((user_id, stream_id))
            return True

    # -- whole-table access -------------------------------------------

    def events_df(self) -> DataFrame:
        """The whole store as one DataFrame with partition columns
        (user_id, stream_id) recovered from the hive layout — the
        engine's analytical entry point."""
        return self.spark.read.option("basePath", self.root).parquet(self.root)

    # -- maintenance ---------------------------------------------------

    def compact_stream(self, user_id: str, stream_id: str) -> int:
        """Fold a stream's micro-batch files into one sorted parquet
        file. At scale this is the periodic compaction job that keeps
        file counts bounded; revision order is preserved so row-group
        stats stay tight. Returns the file count before compaction
        (after dropping an interrupted compaction's covered leftovers)."""
        key = (user_id, stream_id)
        with self._lock(*key), self._interprocess_lock(*key):
            self._refresh_if_changed(*key)
            # the reconciled index, never the raw listing: a covered
            # leftover of an interrupted compaction would fold back in
            files = [p for p, _, _ in self._file_ranges(*key)]
            if len(files) <= 1:
                return len(files)
            t = pa_ds.dataset(files, format="parquet").to_table().sort_by("revision")
            # the compacted name must not collide with ANY source file
            # (a fresh instance's _seq can repeat an on-disk seq; the
            # rename would overwrite a source and the removal loop
            # would then delete the compacted file): derive the seq
            # from the directory, past the largest existing one
            max_seq = max(int(os.path.basename(f).rsplit("-", 1)[1].split(".")[0]) for f in files)
            self._seq = max(self._seq, max_seq) + 1
            # crash-atomic ordering: publish the compacted file FIRST,
            # then remove the sources. A crash in between leaves
            # duplicates, which _file_ranges reconciles (covered-file
            # cleanup); remove-first would lose the stream entirely.
            final = self._publish(key, f"part-{0:012d}-{self._seq:06d}.parquet", t)
            for f in files:
                os.remove(f)
            self._ranges[key] = [(final, 0, t.num_rows)]
            return len(files)
