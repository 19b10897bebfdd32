"""Property-based store tests (hypothesis) — beyond the reference's
example-based suite (SURVEY.md §5): the append/read/OCC invariants
must hold for arbitrary payloads, stream names, and batch shapes.

These drive only the OLTP paths (pyarrow-backed), so no SparkSession
is needed — EventStore takes None and the Spark read paths are
covered by tests/test_store.py.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import uuid

import pyarrow.dataset as pa_ds
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from hypothesis.stateful import RuleBasedStateMachine, invariant, precondition, rule

from hematite_spark.store import EventStore, ExpectedRevision, RevisionMismatch

# JSON-safe scalars/trees for the CloudEvents `data` payload
_json = st.recursive(
    st.none() | st.booleans() | st.integers(-(2**31), 2**31) | st.text(max_size=20),
    lambda children: st.lists(children, max_size=3)
    | st.dictionaries(st.text(min_size=1, max_size=8), children, max_size=3),
    max_leaves=8,
)

_ids = st.text(min_size=1, max_size=30).filter(lambda s: s.strip())


def _events(n: int, data_list):
    return [
        {
            "specversion": "1.0",
            "id": f"ev-{i}",
            "source": "prop://test",
            "type": "prop.event",
            "data": data_list[i % len(data_list)] if data_list else None,
        }
        for i in range(n)
    ]


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.lists(_json, min_size=1, max_size=4), n=st.integers(1, 20))
def test_roundtrip_arbitrary_payloads(tmp_path_factory, data, n):
    store = EventStore(None, str(tmp_path_factory.mktemp("prop")))
    store.append("u", "s", _events(n, data))
    back = store.query("u", "s", 0, 1000)
    assert len(back) == n
    for i, ev in enumerate(back):
        assert ev["_revision"] == i
        assert ev["id"] == f"ev-{i}"
        expected = data[i % len(data)]
        if expected is None:
            assert "data" not in ev
        else:
            # JSON round-trip fidelity (reference stores raw JSON lines)
            assert ev["data"] == json.loads(json.dumps(expected))


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(stream_id=_ids, user_id=_ids)
def test_any_stream_and_user_names(tmp_path_factory, stream_id, user_id):
    """Stream/user ids are free-form strings in the reference
    (base32-encoded on disk, server.rs:134-148); ours percent-encode.
    Unicode, slashes, dots, spaces must all round-trip."""
    store = EventStore(None, str(tmp_path_factory.mktemp("prop")))
    store.append(user_id, stream_id, _events(3, [None]))
    assert store.revision(user_id, stream_id) == 3
    assert [s["id"] for s in store.streams(user_id)] == [stream_id]
    assert store.get_event(user_id, stream_id, 2)["id"] == "ev-2"
    assert store.delete_stream(user_id, stream_id) is True


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(batch_sizes=st.lists(st.integers(1, 7), min_size=1, max_size=6))
def test_revision_is_gapless_across_batches(tmp_path_factory, batch_sizes):
    """revision = total event count after any sequence of batch
    appends (db.rs:239), and the exact-revision OCC gate accepts the
    running count and rejects everything else."""
    store = EventStore(None, str(tmp_path_factory.mktemp("prop")))
    total = 0
    for k, size in enumerate(batch_sizes):
        batch = [
            {
                "specversion": "1.0",
                "id": f"b{k}-{i}",
                "source": "prop://occ",
                "type": "t",
            }
            for i in range(size)
        ]
        wrong = total + 1
        with pytest.raises(RevisionMismatch):
            store.append("u", "s", batch, ExpectedRevision.exact_at(wrong))
        assert store.append("u", "s", batch, ExpectedRevision.exact_at(total)) == total + size
        total += size
    assert store.revision("u", "s") == total
    revs = [e["_revision"] for e in store.query("u", "s", 0, 1000)]
    assert revs == list(range(total))


# -- the store protocol, two instances on one root ---------------------


class TwoInstancesOneRoot(RuleBasedStateMachine):
    """Two EventStore instances share one root, as two processes on
    shared storage do. Appends (any / exact ±1), idempotent appends with
    held repeats, compactions, fresh instances, an interrupted
    compaction (a covering file published, the sources left behind) and
    delete-and-recreate run against a list model of the stream; after
    every step BOTH instances must read the model, with no call that
    tells an instance the directory changed."""

    def __init__(self):
        super().__init__()
        self.root = tempfile.mkdtemp(prefix="store-sm-")
        self.stores = [EventStore(None, self.root), EventStore(None, self.root)]
        self.model: list[tuple[str, str]] = []
        self.minted = 0

    def teardown(self):
        shutil.rmtree(self.root, ignore_errors=True)

    def _fresh(self, n: int) -> list[dict]:
        self.minted += n
        return [
            {"specversion": "1.0", "id": f"e{i}", "source": "sm", "type": "t"}
            for i in range(self.minted - n, self.minted)
        ]

    def _files(self) -> list[str]:
        d = self.stores[0]._stream_dir("u", "s")
        return sorted(f for f in os.listdir(d) if f.endswith(".parquet")) if os.path.isdir(d) else []

    @rule(who=st.integers(0, 1), n=st.integers(1, 3), off=st.sampled_from([None, -1, 0, 1]))
    def append(self, who, n, off):
        batch = self._fresh(n)
        if off is None:
            expected = ExpectedRevision.ANY
        else:
            expected = ExpectedRevision.exact_at(len(self.model) + off)
        if off in (-1, 1):
            with pytest.raises(RevisionMismatch):
                self.stores[who].append("u", "s", batch, expected)
            return
        assert self.stores[who].append("u", "s", batch, expected) == len(self.model) + n
        self.model += [(e["source"], e["id"]) for e in batch]

    @rule(who=st.integers(0, 1), n=st.integers(1, 3), data=st.data())
    def append_new_with_held_repeat(self, who, n, data):
        fresh = self._fresh(n)
        held = []
        if self.model:
            src, eid = data.draw(st.sampled_from(self.model))
            held = [{"specversion": "1.0", "id": eid, "source": src, "type": "t"}]
        batch = held + fresh + fresh[:1]
        got = self.stores[who].append_new("u", "s", batch)
        assert got == (n, len(self.model) + n)
        self.model += [(e["source"], e["id"]) for e in fresh]

    @rule(who=st.integers(0, 1))
    def compact(self, who):
        self.stores[who].compact_stream("u", "s")

    @rule(who=st.integers(0, 1))
    def replace_instance(self, who):
        self.stores[who] = EventStore(None, self.root)

    @precondition(lambda self: len(self._files()) >= 2)
    @rule()
    def crash_between_publish_and_remove(self):
        d = self.stores[0]._stream_dir("u", "s")
        paths = [os.path.join(d, f) for f in self._files()]
        t = pa_ds.dataset(paths, format="parquet").to_table().sort_by("revision")
        pq.write_table(t, os.path.join(d, f"part-{0:012d}-{uuid.uuid4().hex}.parquet"))

    @rule(who=st.integers(0, 1), n=st.integers(1, 3))
    def delete_and_recreate(self, who, n):
        # the recreated stream may hold again an event of the deleted one
        again = [{"specversion": "1.0", "id": eid, "source": src, "type": "t"} for src, eid in self.model[:1]]
        self.stores[who].delete_stream("u", "s")
        batch = again + self._fresh(n)
        assert self.stores[1 - who].append("u", "s", batch) == len(batch)
        self.model = [(e["source"], e["id"]) for e in batch]

    @invariant()
    def both_instances_read_the_model(self):
        for store in self.stores:
            events = store.query("u", "s", 0, 1000)
            assert [(e["source"], e["id"]) for e in events] == self.model
            assert [e["_revision"] for e in events] == list(range(len(self.model)))
            assert store.revision("u", "s") == len(self.model)


TwoInstancesOneRoot.TestCase.settings = settings(
    max_examples=150, stateful_step_count=30, deadline=None
)
test_two_instances_one_root = TwoInstancesOneRoot.TestCase
