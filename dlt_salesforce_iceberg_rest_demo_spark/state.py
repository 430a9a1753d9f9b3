"""Incremental cursor state (I1/I3).

The reference delegates state to dlt: the max seen cursor per resource is
persisted under ``~/.dlt/pipelines/<name>`` and fed back as
``incremental.last_value`` on the next run
(/root/reference/salesforce/__init__.py:39-47,
salesforce_pipeline.py:184-188). `force_replace` deletes the whole state
dir (I3, salesforce_pipeline.py:184-188).

Here: a JSON file per pipeline. Deliberately tiny - state is per-table
scalar watermarks, not data - and the file write is atomic
(write-temp + rename) so a crashed run never corrupts state.
`advance` and `reset` read-modify-write under an instance lock, so
the pipeline's concurrent resource loads never drop each other's
cursor. At scale this would live in a catalog table; the interface
doesn't change.
"""

from __future__ import annotations

import json
import os
import tempfile
import threading
from dataclasses import dataclass
from pathlib import Path


@dataclass
class StateStore:
    path: Path

    def __init__(self, path: str | os.PathLike[str]) -> None:
        self.path = Path(path)
        self._lock = threading.Lock()

    def _read(self) -> dict[str, str]:
        if not self.path.exists():
            return {}
        return json.loads(self.path.read_text())

    def get(self, table: str, default: str | None = None) -> str | None:
        """Last committed cursor value for `table` (dlt last_value parity)."""
        return self._read().get(table, default)

    def advance(self, table: str, cursor_value: str | None) -> None:
        """Record the max cursor seen by a successful load. The strict `>`
        read predicate (records.py:90) + this max makes reloads
        idempotent (I4)."""
        if cursor_value is None:
            return
        with self._lock:
            state = self._read()
            prev = state.get(table)
            if prev is None or cursor_value > prev:
                state[table] = cursor_value
                self._write(state)

    def reset(self, table: str | None = None) -> None:
        """I3 state reset: one table, or everything (force_replace's
        `shutil.rmtree` of the pipeline dir)."""
        with self._lock:
            if table is None:
                if self.path.exists():
                    self.path.unlink()
                return
            state = self._read()
            state.pop(table, None)
            self._write(state)

    def _write(self, state: dict[str, str]) -> None:
        self.path.parent.mkdir(parents=True, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=self.path.parent, suffix=".tmp")
        try:
            with os.fdopen(fd, "w") as f:
                json.dump(state, f, indent=2, sort_keys=True)
            os.replace(tmp, self.path)
        except BaseException:
            if os.path.exists(tmp):
                os.unlink(tmp)
            raise
