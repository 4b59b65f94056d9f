"""Spec → ConstraintProgram compilation (the analog of matcher compilation +
schema lint, reference: matchers/matcher.rs:175-208 and the schema-sanity
walkers count_non_literal_matchers_in_children.rs:40-85 /
check_repeating_matchers.rs:8-37).

Compilation runs on the driver and starts no Spark job: it validates every
rule, rejects malformed specs with typed SchemaError (never at run time, never
per-row; given a typed schema and an active session, a rule's SQL expressions
are analyzed too), and groups rules into execution *stages* so each stage is
one fused DataFrame pass — the engine-level equivalent of the reference
evaluating all constraints of a container in a single child sweep
(containers.rs:212-230) rather than one walk per rule. Like the reference's matchers, each rule checks itself
(``Rule.lint``) and names its own stage (``Rule.stage``); only the checks that
span several rules live here.

The stage set, each stage's scope and their order are one declaration,
``STAGES`` below; ``ConstraintProgram.stages`` maps each stage to its rules.

Incremental semantics (reference validator.rs:101-185): the batch stages run
on pending partitions only; the global stages run in the finalize pass — the
analog of the reference's EOF full revalidation (validator.rs:162-168) that
produces the canonical error set once all input has arrived.
"""

from __future__ import annotations

import dataclasses
from dataclasses import dataclass

from pyspark.sql.types import StringType, StructType

from .errors import (
    ConflictingRulesError,
    DuplicateRuleIdError,
    SchemaError,
    UnknownColumnError,
)
from .spec import (
    CompositeRegexRule,
    RegexRule,
    Rule,
    Spec,
    _column_type,
    _require_type,
)


#: every stage, in the order a run evaluates them, with its scope: "once"
#: runs before any batch, "batch" on each batch of pending partitions
#: (ValidationRun._validate_batch), "global" once in the finalize pass
#: (ValidationRun.finalize). Each rule names its stage in ``Rule.stage``.
STAGES: dict[str, str] = {
    "schema": "once",  # SchemaRule: driver-side metadata compare
    "row": "batch",  # NotNull/Regex/Literal/Range/Domain/...: ONE fused select
    "ref": "batch",  # RefIntegrity: broadcast joins, fused into the row pass
    "count": "batch",  # per-partition Count bounds
    "capture": "batch",  # CaptureRule: per-partition capture arrays/rows
    "pixel": "batch",  # PixelRule: Arrow-batched decode of the binary column
    "degenerate": "batch",  # DegenerateImageRule: rides the pixel decode
    # Unique/grouped Count/FD/Sequence/Overlap/Volume/...: one finalize
    # handler per rule class (run._GLOBAL_HANDLERS)
    "group": "global",
    "metric_bound": "global",  # MetricBound: all bounds fuse into one agg
    "stats": "global",  # ColumnStats: one fused agg (or merged partials)
    "drift": "global",  # DriftRule: the full-table view (or merged partials)
}
_BATCH_STAGES = tuple(s for s, scope in STAGES.items() if scope == "batch")
_GLOBAL_STAGES = tuple(s for s, scope in STAGES.items() if scope == "global")
#: the only stages that read (decode) the binary column: one decode pass,
#: so one sample, per column
_DECODE_STAGES = ("pixel", "degenerate")


@dataclass(frozen=True)
class ConstraintProgram:
    """Compiled, validated constraint DAG: ``stages`` maps every stage of
    ``STAGES``, in that order, to the rules whose ``Rule.stage`` it is, in
    spec order."""

    spec: Spec
    stages: dict[str, tuple[Rule, ...]]
    # columns the rules outside the decode stages read (for pruned scans)
    scan_columns: tuple[str, ...] = ()


def scoped_spec(spec: Spec, *scopes: str) -> Spec:
    """``spec`` narrowed to the rules whose stage has one of ``scopes`` —
    how a front end splits a spec between its batch and global runs."""
    return dataclasses.replace(
        spec, rules=tuple(r for r in spec.rules if STAGES[r.stage] in scopes)
    )


def _has_column(available, path: str) -> bool:
    """Column existence: a StructType resolves dotted struct paths (see
    spec._column_type); a plain column-name list only matches top-level
    names."""
    if isinstance(available, StructType):
        return _column_type(available, path) is not None
    return path in available


def compile_spec(spec: Spec, available_columns=None) -> ConstraintProgram:
    """Validate + stage a Spec. Raises SchemaError subclasses on invalid specs;
    never raises for data problems (those become violation rows).

    ``available_columns`` may be a list of top-level column names or a full
    ``StructType`` (pass ``df.schema``); with a StructType, rule targets may
    be dotted struct paths like ``meta.width`` — resolved recursively, so
    image+caption tables with struct metadata validate without flattening."""

    if spec.n_partitions < 1:
        raise SchemaError(
            f"spec: n_partitions must be >= 1, got {spec.n_partitions}"
        )
    if spec.max_violations_per_rule is not None and spec.max_violations_per_rule < 0:
        raise SchemaError(
            "spec: max_violations_per_rule must be >= 0, got "
            f"{spec.max_violations_per_rule}"
        )

    seen_ids: set[str] = set()
    for r in spec.rules:
        if r.id in seen_ids:
            raise DuplicateRuleIdError(r.id)
        seen_ids.add(r.id)
        r.lint(available_columns)
        if available_columns is not None:
            for c in r.targets():
                if c and not _has_column(available_columns, c):
                    raise UnknownColumnError(r.id, c)

    # >1 regex rule on one column is a conflict, like >1 non-literal matcher
    # per container (count_non_literal_matchers_in_children.rs:40-85); a
    # composite rule counts as its column's one non-literal matcher too
    pattern_rules_by_col: dict[str, list[str]] = {}
    for r in spec.rules:
        if isinstance(r, (RegexRule, CompositeRegexRule)):
            pattern_rules_by_col.setdefault(r.column, []).append(r.id)
    for col, ids in pattern_rules_by_col.items():
        if len(ids) > 1:
            raise ConflictingRulesError(col, ids)

    # decode-once compatibility: every decode rule (PixelRule and
    # DegenerateImageRule alike) on one bytes column shares ONE decode pass
    # and therefore ONE sample — differing sample_rates would silently
    # narrow (or widen) one rule's declared coverage. Loud at compile, not
    # a surprise in the metrics.
    decode_by_bytes: dict[str, Rule] = {}
    for r in spec.rules:
        if r.stage not in _DECODE_STAGES:
            continue
        # sampled decode membership hashes the STRINGIFIED key, and the
        # native kernel sees raw arrow values while the Arrow path sees
        # Spark's string cast — for non-string keys whose Python repr
        # differs from Spark's cast (binary -> "b'..'", large floats ->
        # '1e+20' vs '1.0E20') the two paths would pick DIFFERENT
        # sample rows. Demand a string key when sampling is on and a
        # typed schema is available (ADVICE r4); cast upstream.
        if r.sample_rate < 1:
            _require_type(
                r, available_columns, spec.key_column, StringType,
                "sample_rate < 1 requires a STRING key column for "
                "path-identical sample membership; key {column} is {got} "
                "— cast it upstream",
            )
        first = decode_by_bytes.setdefault(r.bytes_column, r)
        if first is not r and first.sample_rate != r.sample_rate:
            raise SchemaError(
                f"rule {r.id!r}: sample_rate {r.sample_rate} differs "
                f"from rule {first.id!r}'s {first.sample_rate} on the "
                f"shared column {r.bytes_column!r} — decode rules on "
                "one column share one decode pass, so they must share "
                "one sample"
            )

    stages: dict[str, list[Rule]] = {name: [] for name in STAGES}
    for r in spec.rules:
        stages[r.stage].append(r)

    scan_cols: list[str] = [spec.key_column]
    if spec.partition_column:
        scan_cols.append(spec.partition_column)
    for name, rules in stages.items():
        if name in _DECODE_STAGES:
            continue
        for r in rules:
            for c in r.targets():
                if c and c not in scan_cols:
                    scan_cols.append(c)

    return ConstraintProgram(
        spec=spec,
        stages={name: tuple(rules) for name, rules in stages.items()},
        scan_columns=tuple(scan_cols),
    )
