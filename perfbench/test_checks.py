"""The benchmark's checkers reject planted wrong results.

    python3 -m pytest perfbench/test_checks.py -q
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

import duckdb
import pytest

from checks import (
    check_append,
    check_events,
    check_listing,
    check_metadata,
    check_point,
    check_stream_order,
    compare_tables,
    stored_form,
)
from common import ROOT, session_pids

DATA = os.path.join(ROOT, "perfbench", "data", "sf0.01")


def _events(n: int) -> list[dict]:
    return [
        {"specversion": "1.0", "id": f"e{i}", "source": "/t", "type": "x",
         "time": "2026-01-01T00:00:00Z", "data": {"seq": i}}
        for i in range(n)
    ]


def test_page_read_accepts_the_ledger_page():
    evs = _events(60)
    page = [stored_form(e, 10 + i) for i, e in enumerate(evs[10:60])]
    assert check_events(evs[10:60], 10, page) is None


def test_page_read_rejects_a_swapped_event():
    evs = _events(60)
    page = [stored_form(e, 10 + i) for i, e in enumerate(evs[10:60])]
    page[3], page[4] = page[4], page[3]
    assert check_events(evs[10:60], 10, page) is not None


def test_page_read_rejects_an_off_by_one_page():
    evs = _events(60)
    shifted = [stored_form(e, 11 + i) for i, e in enumerate(evs[11:60])] + [stored_form(evs[0], 60)]
    assert check_events(evs[10:60], 10, shifted) is not None
    short = [stored_form(e, 10 + i) for i, e in enumerate(evs[10:59])]
    assert check_events(evs[10:60], 10, short) is not None


def test_point_read_rejects_a_changed_payload():
    ev = _events(1)[0]
    assert check_point(ev, 0, stored_form(ev, 0)) is None
    wrong = stored_form({**ev, "data": {"seq": 99}}, 0)
    assert check_point(ev, 0, wrong) is not None
    assert check_point(ev, 0, stored_form(ev, 1)) is not None


def test_append_must_return_the_next_gapless_revision():
    assert check_append(5, 201, {"revision": 6}) is None
    assert check_append(5, 201, {"revision": 7}) is not None
    assert check_append(5, 409, {"errors": []}) is not None


def test_listing_and_metadata_match_the_ledger():
    listing = [{"id": "s0", "revision": 2, "usage": 900, "last_modified": 5},
               {"id": "s1", "revision": 1, "usage": 400, "last_modified": 7}]
    assert check_listing({"s0": 2, "s1": 1}, "id", listing) is None
    assert check_listing({"s0": 2, "s1": 2}, "id", listing) is not None
    assert check_listing({"s0": 2, "s1": 1}, "-id", listing) is not None
    assert check_listing({"s0": 2, "s1": 1}, "usage", listing[::-1]) is None
    assert check_metadata("s0", 2, listing[0]) is None
    assert check_metadata("s0", 3, listing[0]) is not None


def test_stream_order_rejects_a_swapped_id():
    want = {("u", "s"): ["a", "b", "c"]}
    assert check_stream_order(want, {("u", "s"): ["a", "b", "c"]}) is None
    assert check_stream_order(want, {("u", "s"): ["a", "c", "b"]}) is not None
    assert check_stream_order(want, {("u", "s"): ["a", "b"]}) is not None
    assert check_stream_order(want, {("u", "t"): ["a", "b", "c"]}) is not None


@pytest.mark.parametrize("name", ["lsh_precision_recall", "lsh_band_auc", "textrank_keywords"])
def test_catalog_check_rejects_a_changed_oracle_row(name):
    """The oracle's own rows pass; the same rows with one value changed
    (or one row dropped) do not."""
    sys.path.insert(0, ROOT)
    import __spark_entry__ as entry

    con = duckdb.connect()
    for t in os.listdir(DATA):
        con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM '{DATA}/{t}'")
    res = con.execute(entry.oracle_sql()[name])
    cols = [d[0] for d in res.description]
    rows = res.fetchall()
    assert rows, f"{name}: oracle gives no rows at sf0.01"
    assert compare_tables(cols, list(reversed(rows)), cols, rows) is None
    changed = [list(r) for r in rows]
    i = next(j for j, v in enumerate(changed[0]) if isinstance(v, (int, float, str)))
    v = changed[0][i]
    changed[0][i] = v + 1 if isinstance(v, (int, float)) else v + "x"
    assert compare_tables(cols, [tuple(r) for r in changed], cols, rows) is not None
    assert compare_tables(cols, rows[1:], cols, rows) is not None


def test_float_values_compare_to_nine_digits():
    assert compare_tables(["x"], [(0.1 + 0.2,)], ["x"], [(0.3,)]) is None
    assert compare_tables(["x"], [(0.3001,)], ["x"], [(0.3,)]) is not None


def test_session_scan_finds_a_detached_grandchild():
    """The leftover-process check sees every process of a session, also
    one whose parent has already exited."""
    proc = subprocess.Popen(
        [sys.executable, "-c",
         "import subprocess, sys; subprocess.Popen([sys.executable, '-c', "
         "'import time; time.sleep(30)']); print('up', flush=True)"],
        stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        assert proc.stdout.readline().strip() == "up"
        proc.wait(timeout=10)
        left = session_pids(proc.pid)
        assert len(left) == 1  # the orphaned sleeper
    finally:
        for pid in session_pids(proc.pid):
            os.kill(pid, 9)
        deadline = time.monotonic() + 10
        while session_pids(proc.pid) and time.monotonic() < deadline:
            time.sleep(0.05)
    assert not session_pids(proc.pid)
