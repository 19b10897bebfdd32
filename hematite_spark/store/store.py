"""The event store: multi-tenant, append-only CloudEvents streams.

Reproduces the reference's storage semantics (reference db.rs /
server.rs — see SURVEY.md §2 A) on a Spark-native layout:

* one logical ``events`` table, hive-partitioned on disk as
  ``user_id=<u>/stream_id=<s>/`` with parquet files sorted by
  ``revision``. In place of the reference's 8-byte offset index
  (db.rs:140-161) each stream has a file-level index — per file its
  name, start revision and row count — so a read opens only the
  files overlapping its revision window, and row-group min/max stats
  prune within a file. This is file-level, not an O(1) seek: a
  compacted stream is one file, which a point read opens whole;
* appends are micro-batches: each append writes ONE parquet file
  into the stream's partition and assigns gapless 0-based revisions
  from the end of the file index (the reference's
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

Freshness has one rule: every public read and write reconciles the
stream's file index against ONE listing of its directory
(``_file_ranges``). Files are published by atomic rename under names
that are never reused (``part-{start:012d}-{uuid hex}.parquet``), so
the listing is the record of what exists, and an unchanged set of
names means unchanged files; footers are read only for new names.
Any number of EventStore instances on one root therefore see each
other's appends, compactions and deletes on their next call, with no
invalidation hook. Writer serialization is two-level: the in-process
lock per stream (the reference's tokio mutex, server.rs:58,184) plus
the store's ``LockProvider`` (``flock`` on ``<stream_dir>/.lock`` by
default, or a TTL lease) held across the append critical section, so
the OCC gate judges the on-disk state. Streaming writers build their
EventStore with the same provider, so they serialize against
interactive writers the same way. On a cluster the provider is
replaced by a lock service or Delta-style transaction log; the API
and the gate semantics are unchanged.

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
from contextlib import contextmanager, suppress
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


def _end(ranges: list[tuple[str, int, int]]) -> int:
    """The revision after a file index's last file (0 when empty)."""
    return ranges[-1][1] + ranges[-1][2] if ranges else 0


def _file_name(start: int) -> str:
    """A new store file's name: the start revision it holds, then a
    uuid, so that no name is ever reused (a deleted and recreated
    stream, or a compaction, never republishes a known name)."""
    return f"part-{start:012d}-{uuid.uuid4().hex}.parquet"


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
        self._locks: dict[tuple[str, str], threading.Lock] = {}
        self._locks_guard = threading.Lock()
        # per-stream file index [(file name, start_revision, n_rows)]
        # sorted by start, reconciled against the directory listing on
        # every call (_file_ranges): a point/range read opens only the
        # files overlapping its revision window
        self._ranges: dict[tuple[str, str], list[tuple[str, int, int]]] = {}
        # per-stream (source, id) set for the uniqueness gate, extended
        # with each new file's pairs — without it every append re-reads
        # all prior files (O(n²) appends). At cluster scale this becomes
        # a bloom filter / key index beside the stream.
        self._ids: dict[tuple[str, str], set[tuple[str, str]]] = {}

    # -- catalog / paths

    def _stream_dir(self, user_id: str, stream_id: str) -> str:
        return os.path.join(
            self.root,
            f"user_id={_encode_stream_dir(user_id)}",
            f"stream_id={_encode_stream_dir(stream_id)}",
        )

    def _lock(self, user_id: str, stream_id: str) -> threading.Lock:
        key = (user_id, stream_id)
        with self._locks_guard:
            if key not in self._locks:
                self._locks[key] = threading.Lock()
            return self._locks[key]

    @contextmanager
    def _exclusive(self, key: tuple[str, str]):
        """Both stream locks: the in-process one (the reference's tokio
        mutex, server.rs:58,184), then the ``LockProvider``'s
        cross-instance one, so EventStore instances (processes) on
        shared storage serialize their append/compact/delete critical
        sections. At cluster scale a lock service or a Delta-style
        transaction log plays this role."""
        with self._lock(*key), self._lock_provider.exclusive(self._stream_dir(*key)):
            yield

    def _file_ranges(self, user_id: str, stream_id: str) -> list[tuple[str, int, int]]:
        """The stream's file index, reconciled against one listing of
        its directory: footers are read only for names not seen
        before, a known name that vanished (a compaction or delete
        elsewhere) drops the (source, id) set, and a file fully
        covered by a larger one (the leftover of an interrupted
        compaction) is removed. File names are never reused, so an
        unchanged set of names means unchanged files. The start
        revision comes from the name (``part-{start:012d}-...``), the
        row count from the footer. Callers hold the stream's lock."""
        key = (user_id, stream_id)
        d = self._stream_dir(*key)
        try:
            listing = set(os.listdir(d))
        except FileNotFoundError:
            listing = set()
        known = self._ranges.setdefault(key, [])
        known_names = {e[0] for e in known}
        added = [f for f in listing - known_names if f.endswith(".parquet")]
        vanished = not known_names <= listing
        if not added and not vanished:
            return known
        if vanished:
            self._ids.pop(key, None)
        new = [
            (f, int(f.split("-")[1]), pq.ParquetFile(os.path.join(d, f)).metadata.num_rows)
            for f in added
        ]
        entries = [e for e in known if e[0] in listing] + new

        def covered(e, others):
            return any(
                o[0] != e[0] and o[1] <= e[1] and o[1] + o[2] >= e[1] + e[2] and o[2] > e[2]
                for o in others
            )

        # the index had no covered file, so only pairs with a new file can
        stale = {e[0] for e in entries if covered(e, new)} | {e[0] for e in new if covered(e, entries)}
        for name in stale:
            with suppress(OSError):
                os.remove(os.path.join(d, name))
        ids = self._ids.get(key)
        if ids is not None:
            for name, _, _ in new:
                if name not in stale:
                    ids.update(self._read_ids(os.path.join(d, name)))
        ranges = sorted((e for e in entries if e[0] not in stale), key=lambda e: e[1])
        self._ranges[key] = ranges
        return ranges

    def _snapshot_ranges(self, user_id: str, stream_id: str) -> list[tuple[str, int, int]]:
        """A copy of the stream's file index after one listing (the
        read-path entry; mirrors the reference's read-under-stream-
        mutex, server.rs:168-175, without holding the lock during I/O).
        A stream with no directory reads as empty without a lock or an
        index entry, so reads of made-up stream ids leave no state."""
        if not os.path.isdir(self._stream_dir(user_id, stream_id)):
            return []
        with self._lock(user_id, stream_id):
            return list(self._file_ranges(user_id, stream_id))

    def _read(self, user_id: str, stream_id: str, body):
        """``body(ranges)`` over a fresh snapshot of the file index. A
        file that vanished under the read (a footer or data read
        raising FileNotFoundError: another instance compacted or
        deleted) retries once against a fresh listing."""
        try:
            return body(self._snapshot_ranges(user_id, stream_id))
        except FileNotFoundError:
            return body(self._snapshot_ranges(user_id, stream_id))

    def revision(self, user_id: str, stream_id: str) -> int:
        """Event count of the stream (reference db.rs:103-113): the
        end of the file index's last entry — no data scan."""
        return self._read(user_id, stream_id, _end)

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

        def gate(current: int, held: set[tuple[str, str]]) -> list[dict[str, Any]]:
            expected.check(current)
            incoming = [_source_id(e) for e in batch]
            if len(set(incoming)) != len(incoming):
                raise SourceIdConflict("duplicate (source, id) within batch")
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

        def gate(current: int, held: set[tuple[str, str]]) -> list[dict[str, Any]]:
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
        """The one write body. Under both stream locks, against one
        listing of the on-disk state (another instance may have
        appended or compacted since this one last looked),
        ``gate(current_revision, held_source_ids)`` raises or returns
        the events to write; they land as one file. Returns
        ``(written, new_revision)``."""
        key = (user_id, stream_id)
        with self._exclusive(key):
            ranges = self._file_ranges(*key)
            current = _end(ranges)
            held = self._source_ids(key, ranges)
            batch = gate(current, held)
            if not batch:
                return 0, current
            rows = self._to_arrow_rows(batch, current, datetime.now(timezone.utc))
            name = _file_name(current)
            self._publish(key, name, pa.Table.from_pydict(rows, schema=_ARROW_SCHEMA))
            held.update(_source_id(e) for e in batch)
            ranges.append((name, current, len(batch)))
            if self.auto_compact_files is not None and len(ranges) >= self.auto_compact_files:
                self._compact(key, ranges)
            return len(batch), current + len(batch)

    def _publish(self, key: tuple[str, str], name: str, table: pa.Table) -> None:
        """Write ``table`` to a temporary file, then rename it to
        ``name`` (atomic publish). Names are unique per call, so two
        attempts of one write (a speculative or retried Spark task)
        never share a tmp path."""
        d = self._stream_dir(*key)
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, f".{name}.tmp")
        pq.write_table(table, tmp, compression="zstd")
        os.rename(tmp, os.path.join(d, name))

    def _source_ids(
        self, key: tuple[str, str], ranges: list[tuple[str, int, int]]
    ) -> set[tuple[str, str]]:
        """The stream's (source, id) set — read once from ``ranges``
        with a columnar (source, id)-only read, then kept up to date by
        appends and ``_file_ranges``."""
        ids = self._ids.get(key)
        if ids is None:
            d = self._stream_dir(*key)
            ids = set()
            for name, _, _ in ranges:
                ids.update(self._read_ids(os.path.join(d, name)))
            self._ids[key] = ids
        return ids

    @staticmethod
    def _read_ids(path: str) -> Iterable[tuple[str, str]]:
        t = pq.read_table(path, columns=["source", "id"])
        return zip(t.column("source").to_pylist(), t.column("id").to_pylist())

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
        if not self._read(user_id, stream_id, bool):
            raise StreamNotFound(f"{user_id}/{stream_id}")
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

        Positional access is file-level: the file index maps revision
        windows to files, so only the files overlapping
        ``[start, start + limit)`` are opened, and row-group min/max
        stats on the sorted ``revision`` column prune within them. A
        compacted stream is one file, which the read then opens whole."""
        return self._read(user_id, stream_id, lambda r: self._page(user_id, stream_id, r, start, limit))

    def _page(
        self, user_id: str, stream_id: str, ranges: list[tuple[str, int, int]], start: int, limit: int
    ) -> list[dict[str, Any]]:
        # clamp BOTH bounds for library callers (the HTTP layer clamps
        # too, reference api.rs:271-272): a negative start would make
        # end < 0 and silently return [] for an existing stream
        start = max(int(start), 0)
        end = start + min(max(int(limit), 0), 1000)
        d = self._stream_dir(user_id, stream_id)
        files = [os.path.join(d, name) for name, first, n in ranges if first < end and first + n > start]
        if not files:
            return []
        # pyarrow dataset fast path: small interactive read, predicate
        # pushed to row-group pruning; Spark path available via read_df()
        filt = (pa_ds.field("revision") >= start) & (pa_ds.field("revision") < end)
        t = pa_ds.dataset(files, format="parquet").to_table(filter=filt).sort_by("revision")
        return self._rows_to_events(t)

    def get_event(self, user_id: str, stream_id: str, rownum: int) -> dict[str, Any] | None:
        """Point read by 0-based position (reference db.rs:132-177 via
        server.rs:154-166). Unknown stream raises StreamNotFound (404);
        past-the-end returns None (deliberate deviation from the
        reference's 500 quirk — SURVEY.md §2 error table)."""

        def point(ranges):
            if not ranges:
                raise StreamNotFound(f"{user_id}/{stream_id}")
            rows = self._page(user_id, stream_id, ranges, rownum, 1)
            return rows[0] if rows else None

        return self._read(user_id, stream_id, point)

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
        meta = self._metadata(user_id, stream_id)
        if meta is None:
            raise StreamNotFound(f"{user_id}/{stream_id}")
        return meta

    def _metadata(self, user_id: str, stream_id: str) -> dict[str, Any] | None:
        """``(id, revision, last_modified, usage)`` from the file index
        and file stats, or None when the stream has no files."""
        d = self._stream_dir(user_id, stream_id)

        def meta(ranges):
            if not ranges:
                return None
            stats = [os.stat(os.path.join(d, name)) for name, _, _ in ranges]
            return {
                "id": stream_id,
                "revision": _end(ranges),
                "last_modified": int(max(s.st_mtime for s in stats)),
                "usage": sum(s.st_size for s in stats),
            }

        return self._read(user_id, stream_id, meta)

    def delete_stream(self, user_id: str, stream_id: str) -> bool:
        """Drop the stream's partition (reference server.rs:250-261).
        Returns False for unknown streams, like the reference."""
        key = (user_id, stream_id)
        d = self._stream_dir(*key)
        if not os.path.isdir(d):
            return False
        with self._lock(*key):
            if not os.path.isdir(d):
                return False
            with self._lock_provider.exclusive(d):
                shutil.rmtree(d)
            self._ranges.pop(key, None)
            self._ids.pop(key, None)
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
        with self._exclusive(key):
            return self._compact(key, self._file_ranges(*key))

    def _compact(self, key: tuple[str, str], ranges: list[tuple[str, int, int]]) -> int:
        """The compaction body over the reconciled index ``ranges``
        (never the raw listing: a covered leftover of an interrupted
        compaction would fold back in). Callers hold both locks."""
        if len(ranges) <= 1:
            return len(ranges)
        d = self._stream_dir(*key)
        paths = [os.path.join(d, name) for name, _, _ in ranges]
        t = pa_ds.dataset(paths, format="parquet").to_table().sort_by("revision")
        # crash-atomic ordering: publish the compacted file FIRST,
        # then remove the sources. A crash in between leaves
        # duplicates, which _file_ranges reconciles (covered-file
        # cleanup); remove-first would lose the stream entirely.
        name = _file_name(0)
        self._publish(key, name, t)
        for path in paths:
            # another instance's reconcile may have removed it already
            with suppress(FileNotFoundError):
                os.remove(path)
        self._ranges[key] = [(name, 0, t.num_rows)]
        return len(ranges)
