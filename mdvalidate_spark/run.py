"""ValidationRun — the engine's lifecycle object.

Reference lifecycle mapping (SURVEY.md §3):
  Validator::new_*        → ValidationRun(spark, spec, df, dims)   (compile +
                            attach partition ids; validator.rs:59-84)
  read_input + validate   → validate_pending(batch_size)           (manifest
                            diff → evaluate per-partition stages on only the
                            new partitions; validator.rs:101-185)
  EOF revalidation        → finalize()                             (global
                            rules — uniqueness, grouped counts, stats, drift —
                            over the full table; validator.rs:162-168)
  --fast-fail             → spec.fast_fail: stop scheduling batches after the
                            first red one (cmd.rs:119-121)
  report()                → Report(violations, metrics, manifest)  (errors +
                            matches JSON; validator.rs:86-93)

The stages and their scopes are declared once (compile.STAGES). Each stage
has one step here: ``_BATCH_STEPS`` for the batch-scope stages (row, ref,
count, capture, pixel, degenerate), which run on pending partitions only and
whose outputs are written idempotently per partition under the checkpoint dir
(re-validating a partition overwrites its lineage, so crash-and-resume never
duplicates violations); ``_GLOBAL_STEPS`` for the global-scope stages (group,
metric_bound, stats, drift), which run once in finalize. A new rule family is
a ``Rule`` class with ``lint`` and ``stage``, plus — for a new stage — one
step entry. This is exactly the reference's streaming model re-expressed for
a table: partitions are the chunks, the manifest is farthest_reached_pos, and
finalize is the canonical EOF pass.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import time
import uuid
import warnings
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from functools import reduce
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType
from pyspark.storagelevel import StorageLevel

from .compile import (
    _BATCH_STAGES,
    _DECODE_STAGES,
    _GLOBAL_STAGES,
    ConstraintProgram,
    compile_spec,
)
from .operators import agg_rules, drift as drift_ops, pixel as pixel_ops
from .operators import sampling, smoke
from .operators.association import association_rule_results
from .operators.digits import (
    BENFORD_PARTIALS_DDL,
    benford_rule_partials,
    benford_rule_results,
    benford_rule_results_from_partials,
)
from .operators.gaps import gap_violations
from .operators.outliers import outlier_violations
from .operators.overlap import overlap_violations
from .operators.reconcile import (
    PARTITION_FINGERPRINT_DDL,
    partition_fingerprint,
    table_fingerprint,
)
from .operators.ref_rules import ref_fused_check, ref_violations
from .operators.row_rules import row_violations, with_partition_id
from .operators.schema_rules import schema_violations
from .operators.sequence import monotonic_violations, sequence_violations
from .operators.similarity import (
    embedding_health_partials,
    embedding_health_rule_results,
    embedding_health_rule_results_from_partials,
    health_partials_ddl,
)
from .operators.skew import (
    CONCENTRATION_PARTIALS_DDL,
    concentration_partials,
    concentration_rule_results,
    concentration_rule_results_from_partials,
)
from .errors import KIND_OVER_VOLUME, KIND_UNDER_VOLUME, SchemaError
from .plans.manifest import FINALIZED, Manifest, VALIDATED, write_json
from .schemas import (
    METRICS_DDL,
    VIOLATIONS_DDL,
    manifest_frame,
    read_sink,
    union_metrics,
    union_violations,
    violations_frame,
)
from .spec import (
    AssociationRule,
    BenfordRule,
    ColumnStatsRule,
    CompositeRegexRule,
    ConcentrationRule,
    CountRule,
    DriftRule,
    EmbeddingHealthRule,
    FreshnessRule,
    FunctionalDependencyRule,
    GapRule,
    MonotonicRule,
    OutlierRule,
    OverlapRule,
    SequenceRule,
    Spec,
    UniqueRule,
    VolumeRule,
)
from .spec_io import spec_to_dict

@dataclass
class Report:
    violations: DataFrame
    metrics: DataFrame
    manifest: DataFrame
    errored: bool

    @property
    def exit_code(self) -> int:
        """Reference main.rs:86-90 — 0 pass, 1 fail."""
        return 1 if self.errored else 0


@dataclass(frozen=True)
class _Partials:
    """One incremental rule family: its mergeable per-partition partials.

    A *unit* is one rule, or — for ``per_rule=False`` (stats) — the tuple
    of every incremental rule of the family, sharing one partials frame.
    Each validated batch appends ``partial(run, batch_df, unit)`` to the
    run and persists it under ``{checkpoint}/{key(unit)}`` keyed by
    partition_id (dynamic overwrite: re-validating a partition replaces
    its partial). A resumed run reloads that directory with an explicit
    schema — never inferred, because a batch with no in-scope rows writes
    a directory without part files, which inference refuses. Finalize
    turns the accumulated partials into the family's result with
    ``merge``; a unit with none (e.g. a rule added to the spec after every
    partition was validated) gets ``full``, the same result from a table
    scan."""

    rule_type: type
    sink: str
    per_rule: bool
    partial: Callable  # (run, batch_df, unit) -> partials frame
    merge: Callable  # (run, merged partials, unit) -> result
    full: Callable  # (run, unit) -> result
    ddl: Callable | None = None  # unit -> declared reload DDL

    def units(self, prog: ConstraintProgram) -> tuple:
        rules = tuple(
            r for r in prog.spec.rules
            if isinstance(r, self.rule_type) and r.incremental
        )
        if self.per_rule:
            return rules
        return (rules,) if rules else ()

    def key(self, unit) -> str:
        return f"{self.sink}/{unit.id}" if self.per_rule else self.sink

    def reload_schema(self, run: "ValidationRun", unit):
        """The declared DDL, else the analyzed schema of the unit's partial
        plan over the run's frame (driver-side analysis, no job)."""
        if self.ddl is not None:
            return self.ddl(unit)
        return self.partial(run, run.df, unit).schema


# Sweep drift's result is (violations, metrics, n_violations) like every
# drift path; stats' is a metrics frame, or None when the rules have no
# partials — finalize then fuses them into its one global aggregate; the
# group families' is (violations, metrics).
_DRIFT_PARTIALS = _Partials(
    DriftRule, "drift_partials", per_rule=True,
    partial=lambda run, df, r: drift_ops.sweep_histogram_partials(
        df, r, run._frozen_edges(r, df)
    ),
    merge=lambda run, p, r: drift_ops.drift_sweep_from_partials(
        run.spark, p, r, run.run_id, run._frozen_edges(r, None)
    ),
    full=lambda run, r: drift_ops.drift_check(run.df, r, run.run_id),
    ddl=lambda r: drift_ops.SWEEP_PARTIALS_DDL,
)
_STATS_PARTIALS = _Partials(
    ColumnStatsRule, "stats_partials", per_rule=False,
    partial=lambda run, df, rules: agg_rules.column_stats_partials(
        df, rules, run.run_id
    ),
    merge=lambda run, p, rules: agg_rules.column_stats_from_partials(
        p, rules, run.run_id
    ),
    # no partials: finalize fuses the rules into its global aggregation
    full=lambda run, rules: None,
)
_BENFORD_PARTIALS = _Partials(
    BenfordRule, "benford_partials", per_rule=True,
    partial=lambda run, df, r: benford_rule_partials(df, r),
    merge=lambda run, p, r: benford_rule_results_from_partials(
        p, r, run.run_id
    ),
    full=lambda run, r: benford_rule_results(run.df, r, run.run_id),
    ddl=lambda r: BENFORD_PARTIALS_DDL,
)
_CONCENTRATION_PARTIALS = _Partials(
    ConcentrationRule, "concentration_partials", per_rule=True,
    partial=lambda run, df, r: concentration_partials(df, r),
    merge=lambda run, p, r: concentration_rule_results_from_partials(
        p, r, run.run_id
    ),
    full=lambda run, r: concentration_rule_results(run.df, r, run.run_id),
    ddl=lambda r: CONCENTRATION_PARTIALS_DDL,
)
_HEALTH_PARTIALS = _Partials(
    EmbeddingHealthRule, "health_partials", per_rule=True,
    partial=lambda run, df, r: embedding_health_partials(df, r),
    merge=lambda run, p, r: embedding_health_rule_results_from_partials(
        p, r, run.run_id
    ),
    full=lambda run, r: embedding_health_rule_results(run.df, r, run.run_id),
    ddl=lambda r: health_partials_ddl(r.dim),
)
#: every incremental family, in the order each batch builds its partials
_INCREMENTAL_FAMILIES = (
    _DRIFT_PARTIALS,
    _STATS_PARTIALS,
    _BENFORD_PARTIALS,
    _CONCENTRATION_PARTIALS,
    _HEALTH_PARTIALS,
)


def _volume_violations(run: "ValidationRun", vr: VolumeRule) -> DataFrame | None:
    """Zero-scan volume check: the MAD envelope over the manifest's own
    per-partition validated row counts (spec.VolumeRule docs) — O(#partitions)
    driver math over metadata the run already paid for, including zero-row
    partitions. statistics.median matches the operator/oracle interpolation
    (mean of middle two). None when nothing is flagged."""
    counted = sorted(
        (pid, float(e["rows"]))
        for pid, e in run.manifest.entries.items()
        if e.get("rows") is not None
    )
    col = run.spec.partition_column or "partition_id"
    rows_out = []
    if vr.universe:
        # wholly-missing partitions (data-derived ids never get a manifest
        # entry — spec.VolumeRule docs): enumerate expected ids from the
        # dims table, diff against the manifest. Absence is a fact, not an
        # outlier — unconditional under_volume, independent of the MAD
        # envelope and min_partitions. O(#partitions) rows.
        ucol = vr.universe_column or col
        expected_ids = {
            int(r[0])
            for r in run.dims[vr.universe]
            .select(F.col(ucol).cast("long"))
            .where(F.col(ucol).isNotNull())
            .distinct()
            .collect()
        }
        have = {int(pid) for pid, _ in counted}
        rows_out += [
            (run.run_id, int(pid), vr.id, str(pid), col,
             "partition present (>= 1 row)", "missing", KIND_UNDER_VOLUME)
            for pid in sorted(expected_ids - have)
        ]
    if len(counted) >= vr.min_partitions:
        ns = [n for _, n in counted]
        center = statistics.median(ns)
        mad = statistics.median([abs(n - center) for n in ns])
        bound = max(vr.abs_tol, vr.k * 1.4826 * mad)
        rows_out += [
            (run.run_id, int(pid), vr.id, str(pid), col,
             f"rows in [{center - bound:.1f}, {center + bound:.1f}]",
             str(int(n)),
             KIND_OVER_VOLUME if n > center else KIND_UNDER_VOLUME)
            for pid, n in counted
            if abs(n - center) > bound
        ]
    if not rows_out:
        return None
    return violations_frame(run.spark, rows_out)


#: finalize's evaluation of each global (group-stage) rule type →
#: (violations or None, metrics or None); the incremental families go
#: through their partials
_GLOBAL_HANDLERS: dict[type, Callable] = {
    UniqueRule: lambda run, r: (
        agg_rules.unique_violations(run.df, r, run.run_id), None
    ),
    OutlierRule: lambda run, r: (
        outlier_violations(run.df, r, run.run_id, run.spec.key_column), None
    ),
    MonotonicRule: lambda run, r: (
        monotonic_violations(run.df, r, run.run_id, run.spec.key_column),
        None,
    ),
    FunctionalDependencyRule: lambda run, r: (
        agg_rules.fd_violations(run.df, r, run.run_id), None
    ),
    AssociationRule: lambda run, r: association_rule_results(
        run.df, r, run.run_id
    ),
    FreshnessRule: lambda run, r: (
        agg_rules.freshness_violations(run.df, r, run.run_id), None
    ),
    BenfordRule: lambda run, r: run._partials_result(_BENFORD_PARTIALS, r),
    ConcentrationRule: lambda run, r: run._partials_result(
        _CONCENTRATION_PARTIALS, r
    ),
    EmbeddingHealthRule: lambda run, r: run._partials_result(
        _HEALTH_PARTIALS, r
    ),
    GapRule: lambda run, r: (gap_violations(run.df, r, run.run_id), None),
    # groups may span engine partitions
    SequenceRule: lambda run, r: (
        sequence_violations(run.df, r, run.run_id, run.spec.key_column), None
    ),
    # the engine knows its own group count when the audit groups by
    # partition_id — passing it keeps construction LAZY (no eager guard
    # job), so the sketch scan overlaps finalize's other global jobs
    OverlapRule: lambda run, r: (
        overlap_violations(
            run.df, r, run.run_id, keep=run._keep,
            n_groups=len(run.all_partitions())
            if r.group_column == "partition_id" else None,
        ),
        None,
    ),
    VolumeRule: lambda run, r: (_volume_violations(run, r), None),
    CountRule: lambda run, r: (
        agg_rules.count_violations(
            run.df, r, run.run_id,
            universe=run.dims.get(r.universe) if r.universe else None,
        ),
        None,
    ),
}


def _require_dims(prog: ConstraintProgram, dims: dict) -> None:
    """Every dims table a rule names must be provided — a SchemaError before
    any job, not a KeyError mid-run. Shared by ValidationRun and the
    file-incremental validator."""
    for r in prog.stages["ref"]:
        if r.dim_name not in dims:
            raise SchemaError(
                f"rule {r.id!r}: dimension table {r.dim_name!r} not provided"
            )
    for r in prog.stages["group"]:
        if getattr(r, "universe", "") and r.universe not in dims:
            raise SchemaError(
                f"rule {r.id!r}: universe table {r.universe!r} not provided"
            )
    for r in prog.stages["drift"]:
        if r.reference and r.reference not in dims:
            raise SchemaError(
                f"rule {r.id!r}: reference table {r.reference!r} not "
                "provided (pass it in the dims dict)"
            )
        if r.reference and r.sweep_by and drift_ops.is_snapshot(dims[r.reference]):
            raise SchemaError(
                f"rule {r.id!r}: a profile snapshot is a whole-table "
                "profile — sweep_by needs a live reference table with "
                "the group column"
            )


# ------------------------------------------------------------ stage steps


@dataclass
class _Batch:
    """One batch of the batch-scope pass, as its stage steps see it."""

    df: DataFrame  # the batch's rows
    partitions: list[int] | None  # its partition ids; None: the whole table
    # the decode stages' partition filter (None: every partition): they get
    # the UNfiltered frame, as the native scan path re-reads files directly
    # and would silently ignore a .where() on the batch frame
    part_arg: list[int] | None
    # bytes column -> the persisted decode frame carrying quality stats:
    # every decode rule on one column shares one decode pass
    decoded: dict = field(default_factory=dict)


def _fused_refs(prog: ConstraintProgram) -> list:
    """The broadcast-dim referential rules, whose orphan check the row step
    fuses into its scan as one more violation struct (left broadcast join).
    Huge dims and specs with no row rules keep the ref step's anti-join."""
    if not prog.stages["row"]:
        return []
    return [rr for rr in prog.stages["ref"] if rr.broadcast_dim]


def _row_step(run: "ValidationRun", b: _Batch):
    prog = run.program
    if not prog.stages["row"]:
        return [], []
    src, extra = b.df, []
    for i, rr in enumerate(_fused_refs(prog)):
        src, chk = ref_fused_check(src, rr, run.dims[rr.dim_name], i)
        extra.append(chk)
    return [row_violations(src, prog, run.run_id, extra_checks=extra)], []


def _ref_step(run: "ValidationRun", b: _Batch):
    fused = _fused_refs(run.program)
    return [
        ref_violations(
            b.df, rr, run.dims[rr.dim_name], run.run_id, run.spec.key_column
        )
        for rr in run.program.stages["ref"]
        if rr not in fused
    ], []


def _count_step(run: "ValidationRun", b: _Batch):
    return [
        agg_rules.count_violations(
            b.df, cr, run.run_id, expected_partitions=b.partitions
        )
        for cr in run.program.stages["count"]
    ], []


def _capture_step(run: "ValidationRun", b: _Batch):
    """Array-report rules: ordered per-partition capture arrays; as_rows
    rules: the spill-safe one-row-per-capture path (the documented
    100x-safe variant, reachable from a spec). Composite rules with
    capture=True ride the same pass: one rule validates (row stage) AND
    captures its matcher segment — routed to either path by
    capture_as_rows, same as CaptureRule."""
    caps = run.program.stages["capture"]
    comps = [
        r for r in run.program.stages["row"]
        if isinstance(r, CompositeRegexRule) and r.capture
    ]
    arr = [r for r in caps if not r.as_rows] + [
        r for r in comps if not r.capture_as_rows
    ]
    as_rows = [r for r in caps if r.as_rows] + [
        r for r in comps if r.capture_as_rows
    ]
    key = run.spec.key_column
    mets = []
    if arr:
        mets.append(agg_rules.capture_metrics(b.df, arr, run.run_id, key))
    if as_rows:
        mets.append(agg_rules.capture_rows_metrics(b.df, as_rows, run.run_id, key))
    return [], mets


def _pixel_step(run: "ValidationRun", b: _Batch):
    viols, mets = [], []
    degenerate = run.program.stages["degenerate"]
    for pr in run.program.stages["pixel"]:
        # decode-once: a DegenerateImageRule on the same bytes column
        # rides its quality stats on THIS rule's decode pass instead of
        # paying a second full decode of the corpus
        want_quality = pr.bytes_column not in b.decoded and any(
            dr.bytes_column == pr.bytes_column for dr in degenerate
        )
        checks = run._keep(
            pixel_ops.pixel_check_results(
                run.df, pr, run.spec.key_column, partitions=b.part_arg,
                cache=run._pixel_cache, scan_df=run._scan_df,
                quality=want_quality,
            )
        )
        if want_quality:
            b.decoded[pr.bytes_column] = checks
        pv, pm = pixel_ops.pixel_outputs(checks, pr, run.run_id)
        viols.append(pv)
        mets.append(pm)
    return viols, mets


def _degenerate_step(run: "ValidationRun", b: _Batch):
    viols, mets = [], []
    for dgr in run.program.stages["degenerate"]:
        checks = b.decoded.get(dgr.bytes_column)
        if checks is None:
            # no PixelRule shares this payload column: standalone
            # decode→stats pass (same batch-filter semantics), memoized
            # per bytes column so N degenerate rules on one payload
            # still decode the corpus ONCE (compile guarantees they
            # share one sample_rate)
            checks = run._keep(
                pixel_ops.quality_only_results(
                    run.df, dgr, run.spec.key_column, partitions=b.part_arg
                )
            )
            b.decoded[dgr.bytes_column] = checks
        dv, dm = pixel_ops.degenerate_outputs(checks, dgr, run.run_id)
        viols.append(dv)
        mets.append(dm)
    return viols, mets


#: each batch-scope stage's step, (run, batch) -> (violation frames, metric
#: frames); _validate_batch runs them in STAGES order
_BATCH_STEPS: dict[str, Callable] = {
    "row": _row_step,
    "ref": _ref_step,
    "count": _count_step,
    "capture": _capture_step,
    "pixel": _pixel_step,
    "degenerate": _degenerate_step,
}


def _group_step(run: "ValidationRun", pool):
    out = [_GLOBAL_HANDLERS[type(r)](run, r) for r in run.program.stages["group"]]
    return (
        [v for v, _ in out if v is not None],
        [m for _, m in out if m is not None],
        [],
    )


def _metric_bound_step(run: "ValidationRun", pool):
    rules = run.program.stages["metric_bound"]
    if not rules:
        return [], [], []
    # all bounds fuse into one aggregation pass; the 1-row result feeds
    # both the violation and the metric frames
    v, m = agg_rules.metric_bound_results(
        run.df, rules, run.run_id, keep=run._keep
    )
    return [v], [m], []


def _drift_one(run: "ValidationRun", dr: DriftRule):
    # resolve the prefetched edges INSIDE the pooled task so a still-running
    # edge job never blocks submission of the rest; the job description is
    # thread-local, so it is set here too
    run.spark.sparkContext.setJobDescription(f"finalize: drift {dr.id}")
    return drift_ops.drift_check(run.df, dr, run.run_id, run._drift_edges(dr))


def _drift_vs_reference(run: "ValidationRun", ref_name: str, drs: list):
    """Two-table rules sharing one reference frame FUSE into a single
    drift_vs_reference call: one stacked histogram scan of each table
    covers all of them. sweep_by rules are the per-group variant (candidate
    group g vs reference group g) and each pay their own two
    groupBy(group, bin) passes."""
    ref = run.dims[ref_name]
    whole = [dr for dr in drs if not dr.sweep_by]
    results = []
    if whole and drift_ops.is_snapshot(ref):
        # persisted profile snapshot: frozen bins + reference histogram
        # ride in the frame itself — one candidate scan, no reference-table
        # IO (sweeps rejected at open)
        results.append(
            drift_ops.drift_vs_snapshot(ref, run.df, whole, run.run_id)
        )
    elif whole:
        edges = {}
        for dr in whole:
            e = run._drift_edges(dr)
            if e is not None:
                edges[dr.id] = e
        results.append(
            drift_ops.drift_vs_reference(ref, run.df, whole, run.run_id, edges)
        )
    for dr in drs:
        if dr.sweep_by:
            results.append(
                drift_ops.drift_sweep_vs_reference(
                    ref, run.df, dr, run.run_id, edges=run._drift_edges(dr)
                )
            )
    return (
        union_violations(run.spark, [v for v, _, _ in results]),
        union_metrics(run.spark, [m for _, m, _ in results]),
        sum(n for _, _, n in results),
    )


def _fused_global(run: "ValidationRun", full_stats: tuple, drift: list):
    """ONE aggregation job covers every full-scan global metric: the fused
    stats aggregates PLUS a frozen-edge histogram per plain drift rule
    (count_if columns) — the stage that used to pay one full scan per
    family now pays one total (guide §1.2; plan diff: stats agg + drift
    groupBy → one Aggregate). Edges resolve here so a still-running
    prefetch job never blocks submission of the other tasks. Returns (the
    stats metrics frame or None, the drift rules' counted results)."""
    run.spark.sparkContext.setJobDescription(
        "finalize: fused global stats + drift histograms"
    )
    aggs = agg_rules.stats_agg_columns(run.df, full_stats) if full_stats else []
    specs = []
    for j, dr in enumerate(drift):
        edges = run._drift_edges(dr)
        if edges is None:
            edges = drift_ops.compute_edges(run.df, dr)
        h, nb = drift_ops.fused_hist_aggs(dr, edges, f"__h{j}")
        specs.append((dr, nb, len(aggs), len(h)))
        aggs += h
    wide = run._keep(run.df.agg(*aggs))
    row = wide.collect()[0]
    results = [
        drift_ops.drift_check_from_counts(
            run.spark, dr, run.run_id,
            [row[i] for i in range(off, off + width)], nb,
        )
        for dr, nb, off, width in specs
    ]
    stats_met = (
        agg_rules.stats_melt_from_wide(wide, full_stats, run.run_id)
        if full_stats
        else None
    )
    return stats_met, results


def _stats_drift_step(run: "ValidationRun", pool):
    """The stats and drift stages, one step: full-scan stats and plain
    drift histograms FUSE into one global aggregation job (_fused_global),
    so the whole global-metrics stage costs ONE table scan. Incremental
    stats and sweeps merge their partials — O(#partitions), never a table
    rescan; without partials the stats rules join the fused aggregation."""
    prog = run.program
    mets: list = []
    full_stats = tuple(r for r in prog.stages["stats"] if not r.incremental)
    vp = tuple(r for r in full_stats if r.top_values or r.entropy)
    if vp:  # exact value-distribution metrics: one shared grouped pass
        mets.append(agg_rules.value_profile_metrics(run.df, vp, run.run_id))
    for inc_stats in _STATS_PARTIALS.units(prog):
        inc_met = run._partials_result(_STATS_PARTIALS, inc_stats)
        if inc_met is None:
            full_stats += inc_stats
        else:
            mets.append(inc_met)

    ref_groups: dict[str, list] = {}
    plain = []
    for dr in prog.stages["drift"]:
        if dr.reference:
            ref_groups.setdefault(dr.reference, []).append(dr)
        else:
            plain.append(dr)
    # plain non-incremental, non-sweep rules ride the fused global
    # aggregation; sweeps need their per-group histogram pass
    fusable = [dr for dr in plain if not dr.incremental and not dr.sweep_by]
    fused = (
        pool.submit(_fused_global, run, full_stats, fusable)
        if (full_stats or fusable)
        else None
    )
    futs = [
        pool.submit(run._partials_result, _DRIFT_PARTIALS, dr)
        if dr.incremental
        else pool.submit(_drift_one, run, dr)
        for dr in plain
        if dr not in fusable
    ] + [
        pool.submit(_drift_vs_reference, run, name, drs)
        for name, drs in ref_groups.items()
    ]

    def counted() -> list:
        out = [f.result() for f in futs]
        if fused is not None:
            out += fused.result()[1]
        return out

    if fused is not None:
        mets.append(lambda: fused.result()[0])
    return [], mets, [counted]


#: each global-scope stage's step, (run, pool) -> (lazy violation frames,
#: metric pieces — frames, or callables giving one or None once a pooled job
#: resolves —, callables giving counted (violations, metrics, n) results of
#: pooled jobs). finalize runs each distinct step once, in STAGES order;
#: stats and plain drift share one fused aggregate, so one step serves both.
_GLOBAL_STEPS: dict[str, Callable] = {
    "group": _group_step,
    "metric_bound": _metric_bound_step,
    "stats": _stats_drift_step,
    "drift": _stats_drift_step,
}


def _violation_totals(totals: DataFrame, *by: str) -> DataFrame:
    """The exact violation counts under a violation cap: the
    violations_total metric rows summed per ``by`` (column ``n``)."""
    return totals.groupBy(*by).agg(F.sum("value").cast("long").alias("n"))


class ValidationRun:
    def __init__(
        self,
        spark: SparkSession,
        spec: Spec,
        df: DataFrame,
        dims: dict[str, DataFrame] | None = None,
        run_id: str | None = None,
        checkpoint_dir: str | None = None,
        fingerprint_gate: bool = False,
        fingerprint_columns: tuple | None = None,
    ):
        self.spark = spark
        self.spec = spec
        self.dims = dims or {}
        self.run_id = run_id or f"run-{uuid.uuid4().hex[:12]}"
        self.checkpoint_dir = checkpoint_dir
        # partition ids are data-supplied iff the frame already carried them
        # or the spec names a physical partition column (see all_partitions)
        self._data_partitioned = (
            "partition_id" in df.columns or bool(spec.partition_column)
        )
        self._discovered_partitions: list[int] | None = None
        # the user's frame from BEFORE pid normalization: the pixel native
        # gate probes this one — with_partition_id's coalesce(cast(pid), -1)
        # rewrite reads as a recomputed column in the analyzed plan and would
        # push every data-partitioned table onto the 5x-slower Arrow path
        # (the native kernel replicates the normalization itself, see
        # operators/pixel.py::_norm_pid)
        self._scan_df = df
        self.df = with_partition_id(df, spec)
        # compile against the frame the rules actually run over — AFTER the
        # engine attaches partition_id, so a rule targeting it (e.g. drift
        # grouped by partition) compiles whether the id is physical or
        # derived. Full schema (not just names) so rules may target nested
        # struct paths like meta.width (quotes.rs:21-66 step-into analog).
        self.program: ConstraintProgram = compile_spec(spec, self.df.schema)
        _require_dims(self.program, self.dims)
        self.manifest = (
            Manifest.load(checkpoint_dir, self.run_id)
            if checkpoint_dir
            else Manifest(run_id=self.run_id)
        )
        # in-memory accumulation (checkpointed runs also persist to parquet)
        self._violation_dfs: list[DataFrame] = []
        self._metric_dfs: list[DataFrame] = []
        # mergeable per-partition partials of the incremental families
        # (_INCREMENTAL_FAMILIES): one tiny frame per batch and unit, keyed
        # by the unit's checkpoint path; finalize merges them instead of
        # rescanning the table
        self._partials: dict[str, list[DataFrame]] = {}
        # incremental sweep-drift: frozen bin edges per rule (first batch
        # defines them; persisted so a resumed run bins identically)
        self._drift_frozen_edges: dict[str, list] = {}
        self._finalized = False
        self._cached_report: Report | None = None
        self._schema_checked = False
        self._schema_violations = 0
        # violations finalize's global stages found
        self._global_violations = 0
        # a whole-table batch's in-flight count jobs (see validate_pending)
        self._deferred_counts = None
        self._drift_edge_futs: dict[str, object] = {}
        self._drift_pool = None
        self._drift_prefetch_attempted = False
        # per-run memo of the pixel stage's driver-side gate probing (native
        # vs arrow decision + parquet footer stats): the frame is fixed for
        # the run, so re-probing per batch is pure repeated driver latency —
        # the r2 bench regression's prime suspect (VERDICT r2 #1)
        self._pixel_cache: dict = {}
        # every frame this run persists, so release() can free the executor
        # blocks: a long-lived session validating many runs would otherwise
        # accumulate cached frames without bound (and, because a persisted
        # plan with no run_id literal — e.g. the pixel checks frame — is
        # plan-matched by Spark's CacheManager, a LATER run over the same
        # input silently reuses this run's blocks instead of re-reading)
        self._persisted: list[DataFrame] = []
        # content-gated revalidation (operators/reconcile.py): with
        # fingerprint_gate=True and a checkpointed prior run, partitions
        # whose per-partition content fingerprint is UNCHANGED are marked
        # validated up front (one decode-free column scan instead of full
        # revalidation) and their persisted lineage/violations carry
        # forward through the ordinary resume reload below
        self.fingerprint_gate = bool(fingerprint_gate)
        if self.fingerprint_gate and not checkpoint_dir:
            # refuse loudly (the n_buckets convention): a gate with nowhere
            # to persist its snapshot would silently full-revalidate every
            # run while the caller believes content gating is active
            raise SchemaError(
                "fingerprint_gate=True requires checkpoint_dir — the gate "
                "persists per-partition fingerprints there at finalize"
            )
        self._fingerprint_columns = (
            tuple(fingerprint_columns) if fingerprint_columns else None
        )
        if self._fingerprint_columns is not None:
            missing = sorted(
                c for c in self._fingerprint_columns if c not in df.columns
            )
            if missing:
                # typed refusal now beats an AnalysisException from the
                # fingerprint scan later (the gate would otherwise fail on
                # the FIRST gated run, after the snapshot write started)
                raise SchemaError(
                    f"fingerprint_columns not in table: {missing} "
                    f"(table columns: {sorted(df.columns)})"
                )
        self._fingerprint_df: DataFrame | None = None
        self._dim_fp_cache: dict | None = None
        self.gate_skipped: list[int] = []
        if checkpoint_dir:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
            if self.fingerprint_gate:
                self._apply_fingerprint_gate()
            self._reload_persisted()

    # ------------------------------------------------------------ discovery

    def all_partitions(self) -> list[int]:
        """Partition ids this run must validate.

        When the ENGINE derives partition_id (pmod(xxhash64(key), n)), the id
        set is range(n) by construction. When partition ids come from the
        DATA (a pre-existing partition_id column or spec.partition_column),
        trusting range(spec.n_partitions) would silently skip any id outside
        it — discovered the hard way: a table written with 8 partitions run
        under a spec saying 4 validated only half its rows. Data-supplied ids
        are discovered with one distinct scan, cached for the run."""
        if not self._data_partitioned:
            return list(range(self.spec.n_partitions))
        if self._discovered_partitions is None:
            self.spark.sparkContext.setJobDescription("partition discovery")
            self._discovered_partitions = sorted(
                r["partition_id"]
                for r in self.df.select("partition_id").distinct().collect()
                if r["partition_id"] is not None
            )
            self.spark.sparkContext.setJobDescription(None)
        return self._discovered_partitions

    def pending_partitions(self) -> list[int]:
        return self.manifest.pending(self.all_partitions())

    # ------------------------------------------------------------ lifecycle

    def _keep(self, frame: DataFrame) -> DataFrame:
        """persist(MEMORY_AND_DISK) + track for release()."""
        frame = frame.persist(StorageLevel.MEMORY_AND_DISK)
        self._persisted.append(frame)
        return frame

    def release(self) -> None:
        """Unpersist every frame this run cached on the executors.

        Call after the report's frames are consumed (counted, written,
        collected). A long-lived session running many validations MUST call
        this between runs or cached blocks accumulate without bound; it also
        guarantees a later run over the same input re-reads the data instead
        of plan-matching this run's blocks through Spark's CacheManager
        (correct, but it makes repeat-run timings measure the cache, not the
        engine — this corrupted a scaling measurement once). Reading the
        report's DataFrames after release() recomputes them from source."""
        for frame in self._persisted:
            try:
                frame.unpersist()
            except Exception:  # noqa: BLE001 - session may already be gone
                pass
        self._persisted.clear()

    # ------------------------------------------------- fingerprint gate

    def _fingerprint_value_columns(self) -> list[str]:
        """Columns hashed into the per-partition content fingerprint.

        Default: every column except the key, partition_id, and BINARY
        columns — fingerprinting `bytes` would read every image byte on
        both the snapshot write and every gated run, turning the cheap
        metadata scan into a full 100 TB read. The trade is explicit: a
        byte-level corruption that changes NOTHING else is invisible to
        the default gate (the pixel stage catches it when the partition
        revalidates for any other reason); pass
        ``fingerprint_columns=(..., "bytes")`` to pay the full read and
        close that window."""
        if self._fingerprint_columns is not None:
            return sorted(self._fingerprint_columns)
        skip = {self.spec.key_column, "partition_id"}
        return sorted(
            f.name
            for f in self.df.schema.fields
            if f.name not in skip and not isinstance(f.dataType, BinaryType)
        )

    def partition_fingerprints(self) -> DataFrame:
        """Per-partition content fingerprints of THIS run's input (ONE
        map-only scan reduced to #partitions rows; computed once and
        cached for the run)."""
        if self._fingerprint_df is None:
            self._fingerprint_df = self._keep(
                partition_fingerprint(
                    self.df,
                    [self.spec.key_column],
                    self._fingerprint_value_columns(),
                )
            )
        return self._fingerprint_df

    def _spec_hash(self) -> str:
        return hashlib.md5(
            json.dumps(spec_to_dict(self.spec), sort_keys=True).encode()
        ).hexdigest()

    def _dim_fingerprints(self) -> dict:
        """1-bucket whole-table fingerprint per dimension table (dims are
        broadcast-sized — each costs one tiny job). Sums rendered as
        strings for exact JSON round-tripping. Memoized: dims are fixed for
        the life of a run (the gate relies on that), and the gate check at
        init plus the snapshot write at finalize would otherwise each pay
        one collect per dim."""
        if self._dim_fp_cache is not None:
            return self._dim_fp_cache
        out = {}
        for name in sorted(self.dims):
            d = self.dims[name]
            rows = table_fingerprint(
                d, sorted(d.columns), n_buckets=1
            ).collect()
            out[name] = (
                [str(rows[0]["n_rows"]), str(rows[0]["key_sum"]),
                 str(rows[0]["row_sum"])]
                if rows
                else ["0", "0", "0"]
            )
        self._dim_fp_cache = out
        return out

    def _fingerprint_dir(self) -> str:
        return self._sink("fingerprint")

    def _apply_fingerprint_gate(self) -> None:
        """Mark partitions whose content fingerprint matches the persisted
        snapshot as VALIDATED, carrying the prior run's per-partition
        rows/violations from its manifest — the subsequent resume reload
        then restores their persisted violations/metrics/partials exactly
        as if this run had validated them (the engine is deterministic:
        same content + same spec + same dims ⇒ same verdicts). Carried
        violation rows keep their ORIGINAL run_id — honest lineage: that
        run computed the verdict, this one only proved it still holds.

        The gate stands down ENTIRELY (full revalidation, no error) when
        anything that could change a verdict moved: the spec (hash of its
        canonical dict), the fingerprinted column set, or any dimension
        table (1-bucket fingerprints — a dim edit can flip per-partition
        ref verdicts without touching the fact table) — or when the
        checkpoint's manifest was not written by the SAME run that wrote
        the fingerprint snapshot, or that run never finalized: an
        interrupted gated run leaves the prior snapshot but a newer
        manifest (and overwritten per-partition violations), so pairing
        them would carry counters measured on content the snapshot does
        not describe."""
        meta_path = os.path.join(self._fingerprint_dir(), "meta.json")
        if not os.path.exists(meta_path):
            return  # first gated run: finalize() writes the snapshot
        with open(meta_path) as f:
            meta = json.load(f)
        if (
            meta.get("spec_hash") != self._spec_hash()
            or meta.get("columns") != self._fingerprint_value_columns()
            or meta.get("dims") != self._dim_fingerprints()
        ):
            return
        # the carried per-partition rows/violations counters come from the
        # prior manifest — but ONLY if it was written by the same run that
        # committed the fingerprint snapshot AND that run finalized; any
        # other pairing (an interrupted later run, a non-gated run's
        # manifest) can describe different content than the snapshot does
        mpath = Manifest._path(self.checkpoint_dir)
        if not os.path.exists(mpath):
            return
        with open(mpath) as f:
            doc = json.load(f)
        if doc.get("run_id") != meta.get("run_id") or not doc.get(
            "complete"
        ):
            return
        prev_entries = {
            int(k): v for k, v in doc.get("entries", {}).items()
        }
        prev_fp = {
            r["partition_id"]: r
            for r in self.spark.read.schema(PARTITION_FINGERPRINT_DDL)
            .parquet(os.path.join(self._fingerprint_dir(), "partitions"))
            .collect()
        }
        cur = {
            r["partition_id"]: r
            for r in self.partition_fingerprints().collect()
        }
        for pid, c in cur.items():
            p = prev_fp.get(pid)
            e = prev_entries.get(pid)
            if p is None or e is None or e.get("status") not in (
                VALIDATED,
                FINALIZED,
            ):
                continue
            if (p["n_rows"], p["key_sum"], p["row_sum"]) != (
                c["n_rows"],
                c["key_sum"],
                c["row_sum"],
            ):
                continue
            self.manifest.mark(
                pid,
                VALIDATED,
                rows=e.get("rows"),
                violations=e.get("violations"),
            )
            self.manifest.entries[pid]["fingerprint_skipped"] = True
            if e.get("failed"):
                # carry the red-partition annotation with the counters —
                # ops tooling listing failed partitions must see carried
                # red partitions exactly like freshly revalidated ones
                self.manifest.entries[pid]["failed"] = True
            self.gate_skipped.append(pid)
        self.gate_skipped.sort()

    def _save_fingerprint_snapshot(self) -> None:
        """Persist this run's per-partition fingerprints + gate metadata.
        meta.json is written LAST (tmp + rename) as the commit point — a
        crash mid-write leaves the old meta, and the next gated run either
        matches the old snapshot or revalidates; never a torn gate."""
        fdir = self._fingerprint_dir()
        self.partition_fingerprints().write.mode("overwrite").parquet(
            os.path.join(fdir, "partitions")
        )
        meta = {
            "spec_hash": self._spec_hash(),
            "columns": self._fingerprint_value_columns(),
            "dims": self._dim_fingerprints(),
            "run_id": self.run_id,
        }
        write_json(os.path.join(fdir, "meta.json"), meta, indent=1)

    def _check_schema(self) -> int:
        """Schema-drift rules run ONCE per run, BEFORE any data stage — the
        reference surfaces structure errors while walking, before content
        (nodes.rs:174-221). Driver-side metadata compare: no scan, no job;
        recomputed (idempotently, cheaply) on resume rather than reloaded."""
        if self._schema_checked:
            return self._schema_violations
        self._schema_checked = True
        rules = self.program.stages["schema"]
        if not rules:
            return 0
        sv = union_violations(
            self.spark, [schema_violations(self.df, r, self.run_id) for r in rules]
        )
        self._schema_violations = sv.count()  # local rows ≤ #columns — no job cost
        self._violation_dfs.append(sv)
        if self.checkpoint_dir:
            sv.write.mode("overwrite").parquet(self._sink("violations_schema"))
        return self._schema_violations

    def validate_pending(
        self, batch_size: int | None = None, _defer_counts: bool = False
    ) -> "ValidationRun":
        """Validate all pending partitions in batches; fast-fail stops
        scheduling after the first batch with violations — and schema drift,
        checked first, fast-fails before any partition is scanned.

        ``_defer_counts`` (internal, set by validate()): on the whole-table
        fast path, leave the batch's two bookkeeping count jobs in flight so
        finalize's global jobs overlap them instead of following them —
        finalize joins the futures before anything reads the manifest. Only
        taken when nothing needs the counts early: no fast_fail (its verdict
        is the violation count), no row cap, and no volume/overlap rules
        (manifest rows / discovered ids feed their evaluation)."""
        if self._check_schema() > 0 and self.spec.fast_fail:
            return self
        self._prefetch_drift_edges()
        # Whole-table fast path (round 6): a FRESH one-shot run over a
        # data-partitioned input validates every partition in one batch, and
        # every normalized partition_id is by construction a member of the
        # discovered id set — so the discovery scan (a full pid-column
        # distinct + collect, a serial job on the critical path before any
        # batch can be planned) and the isin() batch filter are both no-ops.
        # Skip them: the per-partition row counts the batch collects anyway
        # define the id set (guide §1.2: don't compute things you throw
        # away). Excluded: resumed/checkpointed runs (manifest knows prior
        # ids), explicit batch_size (ids are needed up front to slice
        # batches), and per-partition min-count rules (a partition with zero
        # IN-SCOPE rows after the rule's `when` filter is only detectable
        # against the enumerated id universe).
        if (
            batch_size is None
            and self._data_partitioned
            and self._discovered_partitions is None
            and not self.manifest.entries
            and not any(
                cr.min is not None and not cr.group_by
                for cr in self.program.stages["count"]
            )
        ):
            defer = (
                _defer_counts
                and not self.spec.fast_fail
                and self.spec.max_violations_per_rule is None
                and not any(
                    isinstance(r, (VolumeRule, OverlapRule))
                    for r in self.program.stages["group"]
                )
            )
            n_viol = self._validate_batch(None, defer=defer)
            if self.spec.fast_fail and n_viol > 0:
                self._cancel_drift_prefetch()
            return self
        pending = self.pending_partitions()
        batch_size = batch_size or len(pending) or 1
        for start in range(0, len(pending), batch_size):
            batch = pending[start : start + batch_size]
            n_viol = self._validate_batch(batch)
            if self.spec.fast_fail and n_viol > 0:
                # the run is already red: interrupt the drift bin-edge
                # prefetch jobs too (full-table quantile scans on non-daemon
                # threads would otherwise run to completion and delay exit
                # even when the caller never reaches validate()/finalize())
                self._cancel_drift_prefetch()
                break
        return self

    def _validate_batch(
        self, partitions: list[int] | None, defer: bool = False
    ) -> int:
        """Validate one batch: each batch-scope stage's step, then one tail.
        ``partitions=None`` is the whole-table fast path (see
        validate_pending): no isin filter, and the partition id set is
        derived from the per-partition row counts afterwards. ``defer=True``
        (whole-table only) skips waiting on the bookkeeping count jobs —
        finalize joins them via _join_deferred_counts()."""
        batch_t0 = time.time()
        batch_df = (
            self.df
            if partitions is None
            else self.df.where(F.col("partition_id").isin(partitions))
        )
        decodes = any(self.program.stages[s] for s in _DECODE_STAGES)
        part_arg = (
            partitions
            if decodes and partitions is not None
            and not set(partitions) >= set(self.all_partitions())
            else None
        )
        batch = _Batch(batch_df, partitions, part_arg)
        viols: list[DataFrame] = []
        mets: list[DataFrame] = []
        for stage in _BATCH_STAGES:
            v, m = _BATCH_STEPS[stage](self, batch)
            viols += v
            mets += m

        for fam in _INCREMENTAL_FAMILIES:
            for unit in fam.units(self.program):
                key = fam.key(unit)
                part = self._keep(fam.partial(self, batch_df, unit))
                self._partials.setdefault(key, []).append(part)
                if self.checkpoint_dir:
                    # dynamic partition overwrite → re-validating a
                    # partition replaces its partial (idempotent resume,
                    # same as lineage)
                    part.write.mode("overwrite").partitionBy(
                        "partition_id"
                    ).parquet(self._sink(key))

        batch_viol, viol_totals = self._bounded_sink(viols, mets)
        # metric frames are small aggregates — persist so report-time reads
        # never re-run the capture groupBys / pixel derivations
        batch_met = self._keep(union_metrics(self.spark, mets))

        # per-partition bookkeeping in ONE aggregation each; the two collects
        # are independent → submitted concurrently (row-count scan overlaps
        # the tail of the violation job instead of following it).
        # NOTE (round 6): riding the row counts on the violations pass via
        # df.observe was tried and reverted — the CollectMetrics node lands
        # inside the persisted union's InMemoryRelation, and the first
        # cache-mediated action latches the one-shot Observation with an
        # EMPTY row. The count job is column-pruned to the key instead.
        def _collect(label: str, counts: DataFrame) -> dict:
            # job description is thread-local — label inside the pooled task
            self.spark.sparkContext.setJobDescription(label)
            return {r["partition_id"]: r["n"] for r in counts.collect()}

        def _count(frame: DataFrame) -> DataFrame:
            return frame.groupBy("partition_id").agg(F.count(F.lit(1)).alias("n"))

        pool = ThreadPoolExecutor(max_workers=2)
        viol_fut = (
            # manifest counts must stay EXACT under a row cap — sum the
            # violations_total metric rows instead of counting sampled rows
            pool.submit(
                _collect, "batch: violation totals",
                _violation_totals(viol_totals, "partition_id"),
            )
            if viol_totals is not None
            else pool.submit(_collect, "batch: violations", _count(batch_viol))
        )
        rows_fut = pool.submit(
            _collect, "batch: per-partition row counts", _count(batch_df)
        )

        self._persist_batch(batch_viol, batch_met)
        self._violation_dfs.append(batch_viol)
        self._metric_dfs.append(batch_met)

        if defer:
            # whole-table deferral (see validate()): leave the two count
            # jobs in flight and let finalize's global jobs overlap them —
            # _join_deferred_counts() marks the manifest once they resolve
            self._deferred_counts = (pool, viol_fut, rows_fut, batch_t0)
            return 0
        viol_counts = viol_fut.result()
        row_counts = rows_fut.result()
        pool.shutdown(wait=False)
        self._mark_batch(partitions, viol_counts, row_counts, batch_t0)
        return sum(viol_counts.values())

    def _bounded_sink(
        self, viols: list[DataFrame], mets: list
    ) -> tuple[DataFrame, DataFrame | None]:
        """(persisted violations, exact totals or None) of one pass. Under
        ``max_violations_per_rule`` the frame is the deterministic two-phase
        sample and the exact totals join ``mets`` as violations_total rows
        of an aggregation-only pass — a second evaluation of the rule
        expressions instead of materializing up to one violation row per
        input row."""
        full = union_violations(self.spark, viols)
        cap = self.spec.max_violations_per_rule
        if cap is None:
            return self._keep(full), None
        totals = self._keep(sampling.violation_count_metrics(full, self.run_id))
        mets.append(totals)
        return self._keep(sampling.cap_violations(full, cap)), totals

    def _mark_batch(
        self,
        partitions: list[int] | None,
        viol_counts: dict,
        row_counts: dict,
        batch_t0: float,
    ) -> None:
        """Manifest bookkeeping for one batch's resolved counts."""
        batch_seconds = time.time() - batch_t0
        if partitions is None:
            # the row counts define the id set (every discovered id carries
            # >= 1 row by construction; violation pids are a subset) — latch
            # it so all_partitions() never pays its discovery scan
            partitions = sorted(set(row_counts) | set(viol_counts))
            self._discovered_partitions = partitions
        for pid in partitions:
            nv = viol_counts.get(pid, 0)
            self.manifest.mark(
                pid,
                VALIDATED,
                rows=row_counts.get(pid, 0),
                violations=nv,
                seconds=batch_seconds,
            )
            # a red partition is still validated for resume purposes (it
            # won't be re-run); the annotation is what reports list
            if nv > 0:
                self.manifest.entries[pid]["failed"] = True
        self._save_manifest()

    def _join_deferred_counts(self) -> None:
        """Resolve a deferred whole-table batch's count futures (no-op when
        nothing was deferred). Called by finalize before anything reads the
        manifest or the discovered id set."""
        if self._deferred_counts is None:
            return
        pool, viol_fut, rows_fut, batch_t0 = self._deferred_counts
        self._deferred_counts = None
        viol_counts = viol_fut.result()
        row_counts = rows_fut.result()
        pool.shutdown(wait=False)
        self._mark_batch(None, viol_counts, row_counts, batch_t0)

    def _partials_result(self, fam: _Partials, unit):
        """``fam``'s finalize result for ``unit``: merged from the unit's
        accumulated partials, or the family's full-scan result when it has
        none."""
        pieces = self._partials.get(fam.key(unit))
        if pieces:
            merged = reduce(lambda a, b: a.unionByName(b), pieces)
            return fam.merge(self, merged, unit)
        return fam.full(self, unit)

    def _frozen_edges(self, rule, batch_df: DataFrame) -> list:
        """Frozen bin edges for an incremental sweep rule: loaded from the
        checkpoint if a prior run froze them, else computed from the FIRST
        validated batch and persisted. Bins only set the comparison's
        resolution — every group is compared against the rest on the same
        bins — so first-batch quantiles are a sound bin definition."""
        if rule.id in self._drift_frozen_edges:
            return self._drift_frozen_edges[rule.id]
        path = (
            os.path.join(self.checkpoint_dir, f"drift_edges_{rule.id}.json")
            if self.checkpoint_dir
            else None
        )
        if path and os.path.exists(path):
            with open(path) as f:
                edges = json.load(f)
        elif batch_df is not None:
            edges = drift_ops.compute_edges(batch_df, rule)
            if path:
                write_json(path, edges)
        else:
            raise RuntimeError(
                f"rule {rule.id!r}: drift partials exist but the frozen-edge "
                "record is missing (checkpoint incomplete?) — cannot bin-merge"
            )
        self._drift_frozen_edges[rule.id] = edges
        return edges

    def _prefetch_drift_edges(self) -> None:
        """Launch the drift rules' bin-edge jobs on driver threads so they
        overlap the per-partition batch stage — finalize then pays only the
        histogram job per rule instead of two serial jobs. Spark job
        submission from multiple driver threads is the standard pattern; the
        edges read the full (final) table, which in the incremental model is
        identical at prefetch time and finalize time for batch inputs.
        Incremental sweep rules are excluded: their edges freeze on the
        first batch and their histograms come from partials — a full-table
        prefetch would defeat the point."""
        # guard on ATTEMPTED, not on the futures dict: when every eligible
        # rule is snapshot-referenced the submit loop below adds nothing, and
        # a futures-dict guard would recreate (and abandon) a fresh pool on
        # every validate_pending call
        if self._drift_prefetch_attempted:
            return
        self._drift_prefetch_attempted = True
        to_submit = [
            dr
            for dr in self.program.stages["drift"]
            if not dr.incremental
            and not (
                dr.reference and drift_ops.is_snapshot(self.dims[dr.reference])
            )
        ]
        if not to_submit:
            return
        self._drift_pool = ThreadPoolExecutor(
            max_workers=len(to_submit),
            thread_name_prefix="mdv-drift-edges",
        )

        def _edge_job(dr):
            # job group is thread-local: tag the prefetch scans so a
            # fast-fail can cancel them instead of letting full-table
            # quantile jobs run to completion after the run already died
            self.spark.sparkContext.setJobGroup(
                f"mdv-drift-edges-{self.run_id}",
                "drift bin-edge prefetch",
                interruptOnCancel=True,
            )
            if dr.reference:
                # two-table rule: bins are defined by the REFERENCE table
                return drift_ops.reference_edges(self.dims[dr.reference], dr)
            return drift_ops.compute_edges(self.df, dr)

        for dr in to_submit:
            self._drift_edge_futs[dr.id] = self._drift_pool.submit(_edge_job, dr)

    def _cancel_drift_prefetch(self) -> None:
        """Fast-fail cleanup: cancel queued edge jobs, interrupt running
        ones, and release the pool's non-daemon threads (otherwise they keep
        scanning the full table and delay interpreter exit)."""
        if self._drift_pool is None:
            return
        self._drift_pool.shutdown(wait=False, cancel_futures=True)
        self._drift_pool = None
        self.spark.sparkContext.cancelJobGroup(f"mdv-drift-edges-{self.run_id}")

    def _drift_edges(self, rule) -> list[float] | None:
        fut = self._drift_edge_futs.get(rule.id)
        if fut is None or fut.cancelled():
            return None  # drift_check recomputes edges itself
        return fut.result()

    def finalize(self) -> Report:
        """Global rules over the full table — the canonical EOF pass: the
        schema check, every global-scope stage's step (_GLOBAL_STEPS), then
        one tail that counts their violations and caches their metrics.
        Every job runs on one thread pool, so driver-interactive drift jobs
        run CONCURRENTLY with the unique/count evaluation: the fixed latency
        of the global pass is the max of the two, not the sum."""
        # idempotent: a caller may reach finalize() without validate_pending
        # (resume with nothing pending) — schema drift must still be checked
        if self._check_schema() > 0 and self.spec.fast_fail:
            self._cancel_drift_prefetch()
            return self.report()

        # consolidate the accumulated per-batch pieces into ONE compact
        # cached frame each, materialized CONCURRENTLY with the global jobs:
        # the union of dozens of 64-partition batch caches is expensive to
        # re-analyze and re-scan on every report access (hundreds of
        # near-empty tasks + a large plan), and that cost is width-
        # independent — pure Amdahl serial time at 4N. Paying it once here,
        # hidden behind the unique/stats/drift jobs, makes report-time
        # counts a ~width·2-task cached scan.
        width = 2 * self.spark.sparkContext.defaultParallelism
        old_viols, old_mets = list(self._violation_dfs), list(self._metric_dfs)

        def _consolidate(pieces: list[DataFrame], union: Callable) -> DataFrame:
            # a single-batch run has nothing to consolidate: its one piece is
            # already a persisted (and counted) frame — re-caching a coalesced
            # copy would pay a full extra pass for an identical cache
            if len(pieces) == 1:
                return pieces[0]
            return self._keep(
                union(self.spark, pieces).coalesce(width)
            )

        def _desc(label, fn, *a):
            # job description is thread-local — label inside the pooled task
            self.spark.sparkContext.setJobDescription(label)
            return fn(*a)

        viols: list[DataFrame] = []
        mets: list = []
        counted: list[Callable] = []
        n_pool = 6 + len(self.program.stages["drift"])
        with ThreadPoolExecutor(max_workers=n_pool) as pool:
            for step in dict.fromkeys(_GLOBAL_STEPS[s] for s in _GLOBAL_STAGES):
                v, m, c = step(self, pool)
                viols += v
                mets += m
                counted += c
            # global rules (uniqueness on a duplicate-heavy key, grouped
            # counts) can emit violation rows proportional to the input —
            # same bounded-sink treatment as the batch stage
            uc_viol, uc_totals = (
                self._bounded_sink(viols, mets) if viols else (None, None)
            )
            batch_viol_c = _consolidate(old_viols, union_violations)
            batch_met_c = _consolidate(old_mets, union_metrics)
            bv_fut = pool.submit(
                _desc, "finalize: consolidate batch violations",
                batch_viol_c.count,
            )
            bm_fut = pool.submit(
                _desc, "finalize: consolidate batch metrics",
                batch_met_c.count,
            )

            # the metrics union (the one real job among the metric frames)
            # materializes HERE, overlapped with the unique/count and drift
            # jobs — report-time metrics reads become cache hits instead of
            # a trailing serial job. The pieces still behind a job (the
            # fused stats melt) join the union last, as they resolve.
            def _build_met():
                pieces = [p for p in mets if isinstance(p, DataFrame)]
                pieces += [p() for p in mets if not isinstance(p, DataFrame)]
                pieces = [p for p in pieces if p is not None]
                if not pieces:
                    return None
                pm = self._keep(union_metrics(self.spark, pieces))
                self.spark.sparkContext.setJobDescription(
                    "finalize: global metrics union"
                )
                pm.count()
                return pm

            met_fut = pool.submit(_build_met) if mets else None
            # a deferred whole-table batch's count jobs have been in flight
            # since the batch stage — join them now that every global job is
            # submitted, so they resolve WHILE the pool works instead of
            # before it starts (guide §2.6)
            self._join_deferred_counts()
            n_global = 0
            if uc_totals is not None:
                pool.submit(
                    _desc, "finalize: capped global violations", uc_viol.count
                )  # materialize the sample
                n_global = int(
                    sum(r["n"] or 0 for r in _violation_totals(uc_totals).collect())
                )
            elif uc_viol is not None:
                n_global = pool.submit(
                    _desc, "finalize: global violations (unique/count)",
                    uc_viol.count,
                ).result()
            results = [t for c in counted for t in c()]
            pre_met = met_fut.result() if met_fut is not None else None
            bv_fut.result()
            bm_fut.result()
        if self._drift_pool is not None:
            self._drift_pool.shutdown(wait=False)
            self._drift_pool = None
        # the consolidated frames now hold the data — release the per-batch
        # piece caches (their checkpoint parquet, if any, is already written);
        # a piece REUSED as the consolidated frame stays cached
        for piece in old_viols + old_mets:
            if piece is batch_viol_c or piece is batch_met_c:
                continue
            piece.unpersist()  # no-op on never-persisted pieces (schema sv)

        viols = [uc_viol] if uc_viol is not None else []
        mets = [pre_met] if pre_met is not None else []
        for v, m, n in results:
            viols.append(v)
            mets.append(m)
            n_global += n  # counted driver-side when the rows were built

        g_viol = self._keep(union_violations(self.spark, viols))
        g_met = union_metrics(self.spark, mets)

        self._persist_global(g_viol, g_met)
        self._violation_dfs = [batch_viol_c, g_viol]
        self._metric_dfs = [batch_met_c, g_met]

        for pid in self.all_partitions():
            if pid in self.manifest.entries:
                self.manifest.mark(pid, FINALIZED)
        self.manifest.complete = True
        self._save_manifest()
        if self.fingerprint_gate and self.checkpoint_dir:
            self._save_fingerprint_snapshot()
        self._finalized = True
        self._global_violations = n_global
        return self.report()

    def validate(self, batch_size: int | None = None) -> Report:
        """One-shot: validate everything then finalize (the library one-shot
        entry, reference examples/simple.rs)."""
        self.validate_pending(batch_size, _defer_counts=True)
        if self.spec.fast_fail and (
            self.manifest.total_violations > 0 or self._schema_violations > 0
        ):
            self._cancel_drift_prefetch()
            if self.fingerprint_gate:
                # finalize() is the only place the fingerprint snapshot is
                # written, so a fast-fail abort leaves the gate unarmed —
                # say so loudly, or every later gated run over a red table
                # fully revalidates while the caller believes content
                # gating is active (the same silent-stand-down class the
                # smoke+gate combination is refused for)
                warnings.warn(
                    "fingerprint_gate: fast_fail aborted the run before "
                    "finalize, so no fingerprint snapshot was written — "
                    "the next gated run will fully revalidate. Fix the "
                    "violations (or drop fast_fail) to arm the gate.",
                    stacklevel=2,
                )
            return self.report()
        return self.finalize()

    # -------------------------------------------------------------- report

    def report(self) -> Report:
        if self._cached_report is not None:
            return self._cached_report
        # post-finalize this is a 2-frame union (consolidated batch cache +
        # small global cache) — already compact and fully materialized, so
        # report reads are cache hits with a trivial plan. Pre-finalize
        # (incremental inspection mid-run) it is the raw piece list.
        violations = union_violations(self.spark, self._violation_dfs)
        metrics = union_metrics(self.spark, self._metric_dfs)
        manifest_df = manifest_frame(self.spark, self.manifest.rows())
        soft = {
            r.id: r.max_violation_rate
            for r in self.spec.rules
            if getattr(r, "max_violation_rate", None) is not None
        }
        if not soft:
            # hard semantics: the cheap int-counter path, zero extra jobs
            errored = (
                self.manifest.total_violations > 0
                or self._global_violations > 0
                or self._schema_violations > 0
            )
        else:
            errored = self._verdict_with_tolerances(soft, violations, metrics)
        rep = Report(violations, metrics, manifest_df, errored)
        if self._finalized:
            self._cached_report = rep
        return rep

    def _verdict_with_tolerances(
        self, soft: dict[str, float], violations: DataFrame, metrics: DataFrame
    ) -> bool:
        """Run verdict with per-rule tolerances (Rule.max_violation_rate):
        a hard rule (no rate) fails the run on ANY violation; a soft rule
        fails it only when exact_violations / rows_validated exceeds its
        rate. Per-rule totals start from a count of the violations frame and
        are OVERRIDDEN by the aggregation-only ``violations_total`` metric
        sums wherever those exist — under max_violations_per_rule the frame
        is a bounded sample, but the metrics carry the exact counts, so the
        verdict never degrades to sampled arithmetic. Denominator: the
        manifest's validated row sum — EXCEPT for decode-sampled rules
        (pixel/degenerate with sample_rate < 1), whose own
        ``pixel_checked``/``degenerate_checked`` metric sums ARE the honest
        denominator: those kernels only emit (and can only violate on) the
        sampled rows, so dividing by the full corpus would deflate the
        observed rate by the sample factor and let a poisoned corpus
        validate clean under its tolerance. Cost: three tiny aggregations
        over already-cached frames, paid only when a tolerance is
        declared."""
        if self._schema_violations > 0:
            return True  # schema rules are metadata-level, always hard
        totals = {
            r["rule_id"]: int(r["n"])
            for r in violations.groupBy("rule_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        for r in (
            metrics.where(F.col("metric") == "violations_total")
            .groupBy("rule_id")
            .agg(F.sum("value").cast("long").alias("n"))
            .collect()
        ):
            totals[r["rule_id"]] = int(r["n"])
        checked = {
            r["rule_id"]: int(r["n"])
            for r in metrics.where(
                F.col("metric").isin("pixel_checked", "degenerate_checked")
            )
            .groupBy("rule_id")
            .agg(F.sum("value").cast("long").alias("n"))
            .collect()
        }
        rows_total = self.manifest.total_rows
        for rid, n in totals.items():
            if n <= 0:
                continue
            rate = soft.get(rid)
            if rate is None:
                return True  # hard rule with violations
            denom = checked.get(rid, rows_total)
            if denom <= 0 or n / denom > rate:
                return True  # soft rule over budget
        return False

    # ---------------------------------------------------------- persistence

    def _sink(self, name: str) -> str | None:
        return os.path.join(self.checkpoint_dir, name) if self.checkpoint_dir else None

    def _persist_batch(self, viol: DataFrame, met: DataFrame) -> None:
        if not self.checkpoint_dir:
            return
        # dynamic partition overwrite → re-running a partition replaces its
        # lineage instead of appending duplicates (idempotent resume)
        viol.write.mode("overwrite").partitionBy("partition_id").parquet(
            self._sink("violations")
        )
        met.write.mode("overwrite").partitionBy("partition_id").parquet(
            self._sink("metrics")
        )

    def _persist_global(self, viol: DataFrame, met: DataFrame) -> None:
        if not self.checkpoint_dir:
            return
        viol.write.mode("overwrite").parquet(self._sink("violations_global"))
        met.write.mode("overwrite").parquet(self._sink("metrics_global"))

    def _reload_persisted(self) -> None:
        """On resume, load already-persisted per-partition outputs so report()
        includes prior batches."""
        done = {
            p
            for p, e in self.manifest.entries.items()
            if e["status"] in (VALIDATED, FINALIZED)
        }
        if not done:
            return
        validated = F.col("partition_id").isin(list(done))
        for name, ddl, target in (
            ("violations", VIOLATIONS_DDL, self._violation_dfs),
            ("metrics", METRICS_DDL, self._metric_dfs),
        ):
            path = self._sink(name)
            if os.path.exists(path):
                target.append(read_sink(self.spark, ddl, path).where(validated))
        # incremental partials: explicit schema, never inference (see
        # _Partials); only validated partitions' partials count
        for fam in _INCREMENTAL_FAMILIES:
            for unit in fam.units(self.program):
                key = fam.key(unit)
                path = self._sink(key)
                if os.path.exists(path):
                    self._partials.setdefault(key, []).append(
                        self.spark.read.schema(fam.reload_schema(self, unit))
                        .parquet(path)
                        .where(validated)
                    )

    def _save_manifest(self) -> None:
        if self.checkpoint_dir:
            self.manifest.save(self.checkpoint_dir)


def validate_table(
    spark: SparkSession,
    df: DataFrame,
    spec: Spec,
    dims: dict[str, DataFrame] | None = None,
    run_id: str | None = None,
    checkpoint_dir: str | None = None,
    fingerprint_gate: bool = False,
    fingerprint_columns: tuple | None = None,
) -> Report:
    """One-call API (reference examples/simple.rs:1-43).

    ``fingerprint_gate=True`` (requires ``checkpoint_dir``): persist
    per-partition content fingerprints at finalize; a LATER gated run over
    a new snapshot of the same table re-validates only the partitions
    whose fingerprint moved and carries the rest forward — see
    ValidationRun._apply_fingerprint_gate."""
    return ValidationRun(
        spark, spec, df, dims=dims, run_id=run_id, checkpoint_dir=checkpoint_dir,
        fingerprint_gate=fingerprint_gate, fingerprint_columns=fingerprint_columns,
    ).validate()


def smoke_validate(
    spark: SparkSession,
    df: DataFrame,
    spec: Spec,
    fraction: float,
    dims: dict[str, DataFrame] | None = None,
    run_id: str | None = None,
    checkpoint_dir: str | None = None,
    batch_size: int | None = None,
) -> Report:
    """Validate a deterministic keyed SAMPLE of the table and extrapolate
    per-rule violation rates with Wilson confidence bounds — the cheap,
    statistically honest preview before committing a cluster to the full
    pass (operators/smoke.py has the full design note).

    The sample is the real engine's input: everything downstream —
    compile, batching, manifest/resume, every rule family, sinks — is the
    unmodified ``ValidationRun``; smoke mode adds only a scan-stage filter
    (md5-threshold on ``spec.key_column``, shuffle-free, stable across
    runs/resumes/cluster sizes, portable to the DuckDB oracle) and an
    estimation layer appended as ordinary metric rows (``smoke_rate``,
    ``smoke_rate_lo``/``_hi``, ``smoke_est_total`` per rule;
    ``sample_fraction``/``sample_rows`` under rule_id ``__smoke__``)."""
    run = ValidationRun(
        spark, spec, df.where(smoke.sample_predicate(spec.key_column, fraction)),
        dims=dims, run_id=run_id, checkpoint_dir=checkpoint_dir,
    )
    rep = run.validate(batch_size=batch_size)
    # sampled row count: already tallied per partition in the manifest as
    # batches validated — a driver-side sum, no extra job
    sample_rows = sum(
        e.get("rows") or 0 for e in run.manifest.entries.values()
    )
    # per-rule violation totals. With a violation cap the materialized rows
    # are a sample, but the exact totals survive as violations_total metric
    # rows (operators/sampling.py) — prefer those; otherwise one
    # aggregation-only job over the consolidated (cached) violation frames.
    # Either way the collect is #rules-sized, never data-sized.
    if spec.max_violations_per_rule is not None:
        counts = {
            r["rule_id"]: int(r["k"])
            for r in rep.metrics.where(
                F.col("metric") == sampling.VIOLATIONS_TOTAL
            )
            .groupBy("rule_id")
            .agg(F.sum("value").cast("long").alias("k"))
            .collect()
        }
    else:
        counts = {
            r["rule_id"]: int(r["k"])
            for r in rep.violations.groupBy("rule_id")
            .agg(F.count(F.lit(1)).alias("k"))
            .collect()
        }
    est = smoke.smoke_metrics(
        spark, counts, sample_rows, fraction, run.run_id,
        rule_ids=tuple(r.id for r in spec.rules),
    )
    return Report(
        rep.violations, rep.metrics.unionByName(est), rep.manifest, rep.errored
    )
