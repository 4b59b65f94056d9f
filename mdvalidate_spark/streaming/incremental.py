"""File-granular incremental validation — the engine's analog of the
reference's streaming stdin mode (reference: validator.rs:101-185 and the
chunked read loop cmd.rs:88-133).

The reference appends bytes to a document, incrementally reparses only the
new tail, and revalidates from a checkpoint; here, data "arrives" as new
files landing in a table directory (the Iceberg-snapshot pattern). Each
``poll()``:
  1. lists current files and diffs them against the checkpoint manifest
     (the read_input tail computation),
  2. runs the per-partition rule stages on ONLY the new files,
  3. appends violations/metrics idempotently.
``finalize()`` is got_eof: the global stages (group, stats, metric_bound,
drift) run once over the full table through ``ValidationRun.finalize`` — the
one EOF revalidation pass (validator.rs:162-168) both validators share.
``fast_fail`` aborts polling once any batch goes red (cmd.rs:119-121).
"""

from __future__ import annotations

import dataclasses
import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

from ..compile import compile_spec
from ..operators import agg_rules, pixel as pixel_ops
from ..operators.ref_rules import ref_violations
from ..operators.row_rules import row_violations, with_partition_id
from ..operators.schema_rules import schema_violations
from ..errors import SchemaError
from ..run import (
    _METRICS_DDL,
    _VIOLATIONS_DDL,
    ValidationRun,
    _require_dims,
    _union,
)
from ..spec import CaptureRule, DegenerateImageRule, Spec, VolumeRule

#: the stages ValidationRun.finalize evaluates; poll() runs the others
_GLOBAL_STAGES = ("group", "stats", "metric_bound", "drift")
#: rules neither pass evaluates: poll() never runs capture or degenerate
#: rules, and a volume rule judges a partition manifest file mode never keeps
_REFUSED = (CaptureRule, DegenerateImageRule, VolumeRule)


class FileIncrementalValidator:
    def __init__(
        self,
        spark: SparkSession,
        spec: Spec,
        table_dir: str,
        dims: dict[str, DataFrame] | None = None,
        run_id: str = "incremental",
        checkpoint_dir: str | None = None,
    ):
        self.dims = dims or {}
        # a rule this validator never evaluates must not read as a pass
        for r in spec.rules:
            if isinstance(r, _REFUSED):
                raise SchemaError(
                    f"rule {r.id!r}: {r.kind} rules are not evaluated by "
                    "FileIncrementalValidator — validate with ValidationRun"
                )
        _require_dims(compile_spec(spec), self.dims)
        self.spark = spark
        self.spec = spec
        self.table_dir = table_dir
        self.run_id = run_id
        self.checkpoint_dir = checkpoint_dir
        self._validated_files: set[str] = set()
        self._viols: list[DataFrame] = []
        self._released_upto = 0  # release() high-water mark into _viols
        self._mets: list[DataFrame] = []
        self._red = False
        self._load_state()
        self.program = None  # compiled lazily on first data
        self._run: ValidationRun | None = None  # finalize's global pass

    def release(self) -> None:
        """Unpersist the accumulated per-batch violation frames (same
        lifecycle contract as ValidationRun.release): a long-polling
        validator would otherwise pin one cached frame per poll() forever.
        The frames stay in self._viols — finalize()'s report must still
        union every batch (they recompute from the source files lazily) —
        but a high-water mark keeps repeated release() calls from
        re-issuing unpersist RPCs for every historical batch. Also frees the
        frames finalize()'s global pass cached."""
        for frame in self._viols[self._released_upto:]:
            try:
                frame.unpersist()
            except Exception:  # noqa: BLE001 - session may already be gone
                pass
        self._released_upto = len(self._viols)
        if self._run is not None:
            self._run.release()

    # ------------------------------------------------------------ state

    def _state_path(self) -> str | None:
        return (
            os.path.join(self.checkpoint_dir, "files_manifest.json")
            if self.checkpoint_dir
            else None
        )

    def _load_state(self) -> None:
        p = self._state_path()
        if p and os.path.exists(p):
            with open(p) as f:
                doc = json.load(f)
            if doc.get("run_id") == self.run_id:
                self._validated_files = set(doc.get("files", []))

    def _save_state(self) -> None:
        p = self._state_path()
        if not p:
            return
        os.makedirs(self.checkpoint_dir, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=self.checkpoint_dir, suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump({"run_id": self.run_id, "files": sorted(self._validated_files)}, f)
        os.replace(tmp, p)

    # ------------------------------------------------------------- poll

    def _list_files(self) -> list[str]:
        out = []
        for root, _, names in os.walk(self.table_dir):
            for n in names:
                if n.endswith(".parquet"):
                    out.append(os.path.join(root, n))
        return sorted(out)

    def pending_files(self) -> list[str]:
        return [f for f in self._list_files() if f not in self._validated_files]

    def poll(self) -> int:
        """Validate newly-arrived files; returns the number of new violation
        rows. No-op (0) when nothing new or fast-fail already tripped."""
        if self._red and self.spec.fast_fail:
            return 0
        new = self.pending_files()
        if not new:
            return 0
        raw = self.spark.read.parquet(*new)
        df = with_partition_id(raw, self.spec)
        if self.program is None:
            self.program = compile_spec(self.spec, df.schema)
        prog = self.program

        viols = []
        mets = []
        # schema drift is checked per poll, against the NEW files' frame: a
        # late-arriving file with a drifted schema is exactly the condition
        # this rule family exists for, and each poll may read a different
        # file set (driver-side metadata compare — no scan, no job)
        if prog.schema_rules:
            viols.extend(
                schema_violations(df, sr, self.run_id) for sr in prog.schema_rules
            )
        if prog.row_rules:
            viols.append(row_violations(df, prog, self.run_id))
        for rr in prog.ref_rules:
            viols.append(
                ref_violations(df, rr, self.dims[rr.dim_name], self.run_id, self.spec.key_column)
            )
        for cr in prog.count_rules:
            viols.append(agg_rules.count_violations(df, cr, self.run_id))
        for pr in prog.pixel_rules:
            # scan_df = the pre-normalization frame, same contract as
            # ValidationRun: probing the normalized frame would read the
            # engine's own pid rewrite as a recomputed column and pin every
            # poll on the ~5x-slower Arrow path. No gate cache across polls
            # on purpose — each poll reads a DIFFERENT file set, so a
            # memoized file list would go stale.
            checks = pixel_ops.pixel_check_results(
                df, pr, self.spec.key_column, scan_df=raw
            )
            pv, pm = pixel_ops.pixel_outputs(checks, pr, self.run_id)
            viols.append(pv)
            mets.append(pm)

        batch_v = _union(viols, self.spark, _VIOLATIONS_DDL)
        batch_v = batch_v.persist(StorageLevel.MEMORY_AND_DISK)
        n = batch_v.count()
        self._viols.append(batch_v)
        self._mets.extend(mets)
        self._validated_files.update(new)
        self._save_state()
        if n > 0:
            self._red = True
        return n

    # ---------------------------------------------------------- finalize

    def finalize(self):
        """EOF pass: the global rules over the whole table, evaluated by one
        ValidationRun with the same dims and run_id; returns
        (violations_df, metrics_df) — every poll's frames plus that run's
        report."""
        all_files = self._list_files()
        viols = list(self._viols)
        mets = list(self._mets)
        global_rules = tuple(
            r for r in self.spec.rules if r.stage in _GLOBAL_STAGES
        )
        if all_files and global_rules:
            self._run = ValidationRun(
                self.spark,
                dataclasses.replace(self.spec, rules=global_rules),
                self.spark.read.parquet(*all_files),
                dims=self.dims,
                run_id=self.run_id,
            )
            rep = self._run.finalize()
            viols.append(rep.violations)
            mets.append(rep.metrics)
        return (
            _union(viols, self.spark, _VIOLATIONS_DDL),
            _union(mets, self.spark, _METRICS_DDL),
        )
