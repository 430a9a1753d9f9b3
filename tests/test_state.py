"""Cursor state store tests (I1/I3)."""

from __future__ import annotations

import sys
import threading

from dlt_salesforce_iceberg_rest_demo_spark.state import StateStore


def test_get_default(tmp_path):
    s = StateStore(tmp_path / "s.json")
    assert s.get("t") is None
    assert s.get("t", "2000-01-01T00:00:00Z") == "2000-01-01T00:00:00Z"


def test_advance_monotonic(tmp_path):
    s = StateStore(tmp_path / "s.json")
    s.advance("t", "2024-01-02T00:00:00.000000Z")
    # going backwards is ignored - max-cursor semantics
    s.advance("t", "2024-01-01T00:00:00.000000Z")
    assert s.get("t") == "2024-01-02T00:00:00.000000Z"
    s.advance("t", None)  # no-op
    assert s.get("t") == "2024-01-02T00:00:00.000000Z"


def test_reset_single_and_all(tmp_path):
    s = StateStore(tmp_path / "s.json")
    s.advance("a", "1")
    s.advance("b", "2")
    s.reset("a")
    assert s.get("a") is None and s.get("b") == "2"
    s.reset()  # I3: force_replace wipes everything
    assert s.get("b") is None


def test_persistence_across_instances(tmp_path):
    StateStore(tmp_path / "s.json").advance("t", "x")
    assert StateStore(tmp_path / "s.json").get("t") == "x"


def test_concurrent_advances_lose_no_cursor(tmp_path):
    # the pipeline advances each resource's cursor from its own thread
    s = StateStore(tmp_path / "s.json")
    tables = [f"t{i}" for i in range(16)]
    start = threading.Barrier(len(tables), timeout=30)

    def advance(table):
        start.wait()
        for step in range(20):
            s.advance(table, f"2024-01-01T00:00:{step:02d}.000000Z")

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=advance, args=(t,)) for t in tables]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert {t: s.get(t) for t in tables} == {t: "2024-01-01T00:00:19.000000Z" for t in tables}
