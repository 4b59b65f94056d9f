"""File-granular incremental validation — the engine's analog of the
reference's streaming stdin mode (reference: validator.rs:101-185 and the
chunked read loop cmd.rs:88-133).

The reference appends bytes to a document, incrementally reparses only the
new tail, and revalidates from a checkpoint; here, data "arrives" as new
files landing in a table directory (the Iceberg-snapshot pattern). Each
``poll()``:
  1. lists current files and diffs them against the checkpoint manifest
     (the read_input tail computation),
  2. lints the whole spec against the new files' schema, then runs
     ``ValidationRun``'s batch stage — the one per-partition pass both
     validators share (the once- and batch-scope stages of
     ``compile.STAGES``) — on ONLY the new files,
  3. keeps that run, so finalize() reports its violations and metrics.
``finalize()`` is got_eof: the global-scope stages run once over the full
table through ``ValidationRun.finalize`` — the one EOF revalidation pass
(validator.rs:162-168) both validators share.
``fast_fail`` aborts polling once any batch goes red (cmd.rs:119-121).
Only volume rules are refused: they judge a partition manifest file mode
does not keep.
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructType

from ..compile import compile_spec, scoped_spec
from ..errors import SchemaError
from ..operators.row_rules import with_partition_id
from ..plans.manifest import write_json
from ..run import ValidationRun, _require_dims
from ..schemas import local_frame, union_metrics, union_violations
from ..spec import Spec, VolumeRule

#: a volume rule judges a partition manifest file mode never keeps
_REFUSED = (VolumeRule,)
#: the footer key under which Spark's parquet writer stores its schema
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _footer_schema(path: str) -> StructType | None:
    """A parquet file's Spark schema from its footer alone, read
    driver-side (no job): the schema Spark's writer stored, else the Arrow
    schema's Spark equivalent; None for an Arrow type with no conversion
    (Spark's own reader still reads the file, and the poll lints then)."""
    arrow = pq.read_schema(path)
    stored = (arrow.metadata or {}).get(_SPARK_SCHEMA_KEY)
    if stored is not None:
        return StructType.fromJson(json.loads(stored))
    try:
        return from_arrow_schema(arrow)
    except TypeError:
        return None


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
        self.spark = spark
        self.spec = spec
        self.table_dir = table_dir
        self.run_id = run_id
        self.checkpoint_dir = checkpoint_dir
        self._validated_files: set[str] = set()
        self._red = False
        self._load_state()
        # lint against the first pending file's footer, so a typo'd
        # expression is refused before any job; each poll lints again
        # against the files it reads
        pending = self.pending_files()
        footer = _footer_schema(pending[0]) if pending else None
        schema = (
            with_partition_id(local_frame(spark, footer), spec).schema
            if footer is not None
            else None
        )
        _require_dims(compile_spec(spec, schema), self.dims)
        self._runs: list[ValidationRun] = []  # one batch-stage run per poll
        self._run: ValidationRun | None = None  # finalize's global pass

    def release(self) -> None:
        """Unpersist every frame the poll runs and finalize()'s global pass
        cached (same lifecycle contract as ValidationRun.release): a
        long-polling validator would otherwise pin each poll's frames
        forever. finalize() still unions every poll's frames — they
        recompute from the source files lazily."""
        for run in (*self._runs, self._run):
            if run is not None:
                run.release()

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
        write_json(
            p, {"run_id": self.run_id, "files": sorted(self._validated_files)}
        )

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
        rows (exact under a violation cap). No-op (0) when nothing new or
        fast-fail already tripped."""
        if self._red and self.spec.fast_fail:
            return 0
        new = self.pending_files()
        if not new:
            return 0
        frame = self.spark.read.parquet(*new)
        # the whole spec against the table's schema, so a global rule's
        # typo'd expression fails the first poll, not the EOF pass
        compile_spec(self.spec, with_partition_id(frame, self.spec).schema)
        batch_spec = scoped_spec(self.spec, "once", "batch")
        n = 0
        if batch_spec.rules:
            # the whole-table batch over the new files: per-partition counts
            # see only the partitions these files hold. Schema drift is
            # checked per poll too — a late file with a drifted schema is
            # what that rule family exists for.
            run = ValidationRun(
                self.spark, batch_spec, frame, dims=self.dims, run_id=self.run_id
            )
            self._runs.append(run)
            n = run._check_schema() + run._validate_batch(None)
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
        viols = [f for run in self._runs for f in run._violation_dfs]
        mets = [f for run in self._runs for f in run._metric_dfs]
        global_spec = scoped_spec(self.spec, "global")
        if all_files and global_spec.rules:
            self._run = ValidationRun(
                self.spark,
                global_spec,
                self.spark.read.parquet(*all_files),
                dims=self.dims,
                run_id=self.run_id,
            )
            rep = self._run.finalize()
            viols.append(rep.violations)
            mets.append(rep.metrics)
        return union_violations(self.spark, viols), union_metrics(self.spark, mets)
