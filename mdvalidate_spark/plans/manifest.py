"""Partition manifest — the resume checkpoint.

Analog of the reference's NodePosPair (reference: src/mdschema/validation/
node_pos_pair.rs:4-52): a monotone record of how far validation has
progressed, merged with keep-the-farther semantics (`keep_farther_pos`,
node_pos_pair.rs:37-40) — here, per-partition status that only advances
(pending → validated → finalized), never regresses.

Storage is a single JSON document written atomically (tmp + rename) under the
checkpoint dir. At 10^12-row scale the manifest holds one entry per *logical
partition* (thousands, not billions), so a JSON document on shared storage is
adequate; a real deployment can point the same interface at an Iceberg table.
"""

from __future__ import annotations

import json
import os
import tempfile
from dataclasses import dataclass, field
from datetime import datetime, timezone

PENDING = "pending"
VALIDATED = "validated"
FINALIZED = "finalized"

_RANK = {PENDING: 0, VALIDATED: 1, FINALIZED: 2}


def _now() -> str:
    return datetime.now(timezone.utc).isoformat()


def write_json(path: str, doc, **dump_kw) -> None:
    """Write ``doc`` as JSON at ``path`` atomically: dump into a temp file
    beside it, then rename it over ``path``. A crash mid-write leaves the
    previous file (or none), never a torn one that a later load dies on."""
    folder = os.path.dirname(path)
    os.makedirs(folder, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=folder, suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(doc, f, **dump_kw)
        os.replace(tmp, path)
    except BaseException:
        os.unlink(tmp)
        raise


@dataclass
class Manifest:
    run_id: str
    entries: dict[int, dict] = field(default_factory=dict)
    complete: bool = False

    # ---------------------------------------------------------- mutation

    def mark(
        self,
        partition_id: int,
        status: str,
        rows: int | None = None,
        violations: int | None = None,
        started_at: str | None = None,
        seconds: float | None = None,
    ) -> None:
        """Advance a partition's status (monotone — a lower-ranked status
        never overwrites a higher one, the keep_farther_pos rule). Counters
        left as None keep their previous values."""
        prev = self.entries.get(partition_id)
        if prev is not None and _RANK[prev["status"]] > _RANK[status]:
            return
        # build on the previous entry rather than a fixed key set: callers
        # annotate entries (run.py's 'failed' marker) and a later mark — e.g.
        # finalize()'s FINALIZED sweep — must not silently strip those keys
        # from the persisted manifest
        entry = dict(prev or {})
        entry.update(
            status=status,
            rows=int(rows if rows is not None else (prev or {}).get("rows", 0)),
            violations=int(
                violations
                if violations is not None
                else (prev or {}).get("violations", 0)
            ),
            started_at=started_at or (prev or {}).get("started_at") or _now(),
            finished_at=_now(),
        )
        if seconds is not None:
            # batch wall-clock attributed to every partition validated in
            # that batch (shared, not divided — the number an operator needs
            # to spot a slow shard/skewed batch in the lineage)
            entry["seconds"] = round(float(seconds), 3)
        self.entries[partition_id] = entry

    def pending(self, all_partitions: list[int]) -> list[int]:
        """Partitions not yet validated — the manifest *diff* that makes runs
        incremental (analog of read_input only reparsing the appended tail,
        validator.rs:101-149)."""
        done = {
            p
            for p, e in self.entries.items()
            if _RANK[e["status"]] >= _RANK[VALIDATED]
        }
        return sorted(p for p in all_partitions if p not in done)

    @property
    def total_violations(self) -> int:
        return sum(e["violations"] for e in self.entries.values())

    @property
    def total_rows(self) -> int:
        """Validated row count across all partitions — the soft-rule
        (max_violation_rate) denominator."""
        return sum(e.get("rows") or 0 for e in self.entries.values())

    # --------------------------------------------------------- persistence

    @staticmethod
    def _path(checkpoint_dir: str) -> str:
        return os.path.join(checkpoint_dir, "manifest.json")

    def save(self, checkpoint_dir: str) -> None:
        doc = {
            "run_id": self.run_id,
            "complete": self.complete,
            "entries": {str(k): v for k, v in self.entries.items()},
        }
        write_json(self._path(checkpoint_dir), doc, indent=1)

    @classmethod
    def load(cls, checkpoint_dir: str, run_id: str) -> "Manifest":
        """Load if present *and* belonging to the same run, else fresh."""
        path = cls._path(checkpoint_dir)
        if not os.path.exists(path):
            return cls(run_id=run_id)
        with open(path) as f:
            doc = json.load(f)
        if doc.get("run_id") != run_id:
            return cls(run_id=run_id)
        return cls(
            run_id=run_id,
            entries={int(k): v for k, v in doc.get("entries", {}).items()},
            complete=bool(doc.get("complete", False)),
        )

    # ------------------------------------------------------------- export

    def rows(self) -> list[tuple]:
        return [
            (
                self.run_id,
                pid,
                e["status"],
                e["rows"],
                e["violations"],
                e["started_at"],
                e["finished_at"],
                e.get("seconds"),
            )
            for pid, e in sorted(self.entries.items())
        ]
