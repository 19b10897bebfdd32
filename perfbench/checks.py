"""Correctness checks made apart from the program under test.

HTTP workloads are checked against the load generator's own ledger of
what it wrote; stream_ingest against DuckDB over the generated input
files and over the store's parquet files; the catalog against
``oracle_sql()`` run by DuckDB. Each check returns ``None`` when the
result is right and a short reason otherwise.
"""

from __future__ import annotations

import math
from typing import Any


class Ledger:
    """What the load generator wrote: per (tenant, stream) the events in
    revision order. Each stream is written and read by one client only,
    so the ledger is exact without locking."""

    def __init__(self) -> None:
        self.streams: dict[tuple[str, str], list[dict[str, Any]]] = {}

    def events(self, tenant: str, stream: str) -> list[dict[str, Any]]:
        return self.streams.setdefault((tenant, stream), [])

    def tenant_streams(self, tenant: str) -> dict[str, int]:
        return {s: len(evs) for (t, s), evs in self.streams.items() if t == tenant and evs}


def stored_form(event: dict[str, Any], revision: int) -> dict[str, Any]:
    """The event as a read returns it: the wire event plus its position."""
    return {**event, "_revision": revision}


def check_append(expected_len: int, status: int, body: Any) -> str | None:
    if status != 201:
        return f"append status {status}: {body}"
    if not isinstance(body, dict) or body.get("revision") != expected_len + 1:
        return f"append returned {body}, expected revision {expected_len + 1}"
    return None


def check_events(expected: list[dict[str, Any]], start: int, got: Any) -> str | None:
    """``got`` must be exactly the ledger's events from ``start`` on."""
    want = [stored_form(ev, start + i) for i, ev in enumerate(expected)]
    if not isinstance(got, list):
        return f"expected a list of events, got {type(got).__name__}"
    if len(got) != len(want):
        return f"read at {start}: {len(got)} events, ledger has {len(want)}"
    for i, (g, w) in enumerate(zip(got, want)):
        if g != w:
            return f"event at revision {start + i} differs: got {g}, ledger {w}"
    return None


def check_point(expected: dict[str, Any], revision: int, got: Any) -> str | None:
    return check_events([expected], revision, [got] if isinstance(got, dict) else got)


_SORT_KEYS = ("id", "revision", "usage", "last_modified")


def check_listing(expected: dict[str, int], sort: str, got: Any) -> str | None:
    """Stream ids and event counts match the ledger, in ``sort`` order."""
    if not isinstance(got, list):
        return f"listing is not a list: {got}"
    seen = {s.get("id"): s.get("revision") for s in got}
    if seen != expected:
        return f"listing {seen} != ledger {expected}"
    key = sort.lstrip("-")
    if key not in _SORT_KEYS:
        return f"unknown sort key {sort}"
    values = [s[key] for s in got]
    if values != sorted(values, reverse=sort.startswith("-")):
        return f"listing not sorted by {sort}: {values}"
    return None


def check_metadata(stream: str, expected_len: int, got: Any) -> str | None:
    if not isinstance(got, dict) or got.get("id") != stream or got.get("revision") != expected_len:
        return f"metadata {got} != ledger ({stream}, {expected_len})"
    if not isinstance(got.get("usage"), int) or got["usage"] <= 0:
        return f"metadata usage {got.get('usage')} is not a positive byte count"
    return None


# -- stream_ingest ---------------------------------------------------------


def check_stream_order(expected: dict[tuple, list[str]], got: dict[tuple, list[str]]) -> str | None:
    """Per stream, the stored ids in revision order equal the input's ids
    in arrival order."""
    if set(expected) != set(got):
        missing = sorted(set(expected) - set(got))[:3]
        extra = sorted(set(got) - set(expected))[:3]
        return f"streams differ: missing {missing}, unexpected {extra}"
    for key in sorted(expected):
        if expected[key] != got[key]:
            n = next(
                (i for i, (a, b) in enumerate(zip(expected[key], got[key])) if a != b),
                min(len(expected[key]), len(got[key])),
            )
            return f"stream {key}: first difference at revision {n} of {len(expected[key])}"
    return None


# -- result tables (replay aggregates, catalog) ----------------------------


def _norm(v: Any) -> str:
    if v is None:
        return "None"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def _normalise(cols: list[str], rows: list[tuple]) -> tuple[list[str], list[tuple]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(_norm(r[i]) for i in order) for r in rows)
    return [cols[i] for i in order], out


def compare_tables(
    got_cols: list[str], got_rows: list[tuple], want_cols: list[str], want_rows: list[tuple]
) -> str | None:
    """Order-insensitive comparison of two result tables: column names,
    row count, then every value (floats to 9 significant digits)."""
    gc, gr = _normalise(got_cols, got_rows)
    wc, wr = _normalise(want_cols, want_rows)
    if gc != wc:
        return f"columns {gc} != {wc}"
    if len(gr) != len(wr):
        return f"{len(gr)} rows, expected {len(wr)}"
    for g, w in zip(gr, wr):
        if g != w:
            return f"row {g} != expected {w}"
    return None
