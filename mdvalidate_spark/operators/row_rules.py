"""Fused row-level rule pass.

All row rules (not-null / regex / literal / range / domain) for a table are
evaluated in ONE select over the (column-pruned) scan: each rule becomes a
nullable violation-struct column, the structs are gathered with
array_compact, and surviving rows explode into violation rows. This is the
engine-level analog of the reference evaluating every constraint of a
container in a single child sweep (reference: containers.rs:212-230,
tables.rs:296-360 — per-column matcher vector over a row) instead of one walk
per rule; Catalyst collapses the whole thing into a single WholeStageCodegen
scan with the regex/compare kernels running JVM-side (no Python anywhere in
this stage).

Null semantics: only NotNullRule flags NULLs. Content rules (regex / literal /
range / domain) skip NULL values — the reference's "one error once"
non-cascade rule (cmd.rs:368-398): a missing node reports missing, not also
content-mismatched. Prerequisite gating is therefore structural, not
scheduled.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..compile import ConstraintProgram
from ..errors import (
    KIND_ALIGNMENT,
    KIND_DIM,
    KIND_DOMAIN,
    KIND_EXPR,
    KIND_FMT_CODE,
    KIND_FORMAT,
    KIND_LITERAL,
    KIND_MATCHER,
    KIND_NAN,
    KIND_NULL,
    KIND_PII,
    KIND_PREFIX,
    KIND_QUALITY,
    KIND_RANGE,
    KIND_REPETITION,
    KIND_SUFFIX,
    KIND_TRUNCATED,
)
from ..spec import (
    FORMAT_BOOL_VALUES,
    FORMAT_REGEX,
    AlignmentRule,
    CompositeRegexRule,
    DomainRule,
    ExprRule,
    FormatRule,
    HeaderRule,
    LiteralRule,
    NotNullRule,
    PiiRule,
    RangeRule,
    RegexRule,
    RepetitionRule,
    Spec,
    TextQualityRule,
    VectorRule,
    anchor_regex,
)
from ..schemas import VIOLATION_STRUCT_DDL, violation_columns, violations_frame
from .pii import PII_KINDS, pii_counts_for, pii_total_from_counts
from .text import gopher_quality_metrics_for, repetition_metrics_for


def format_ok(c: Column, fmt: str) -> Column:
    """Codegen'd "value parses as typed format ``fmt``" predicate — the
    single definition shared by FormatRule's fused-pass branch and the
    suggestion profiler (suggest.py format_gates), so a drafted
    ``FormatRule`` enforces EXACTLY the predicate the profiler observed.

    NULL inputs yield NULL (callers scope with isNotNull; NotNullRule owns
    missing values). date/timestamp require the strict shape regex AND
    ``try_to_timestamp`` (calendar validity beyond shape); bool is closed-set
    membership; json is ``try_parse_json``; int/double/uuid are portable
    ASCII shape regexes (identical under Java regex, RE2, and DuckDB)."""
    if fmt in ("date", "timestamp"):
        pattern = "yyyy-MM-dd" if fmt == "date" else "yyyy-MM-dd HH:mm:ss"
        ok = c.rlike(FORMAT_REGEX[fmt]) & F.try_to_timestamp(
            c, F.lit(pattern)
        ).isNotNull()
    elif fmt == "bool":
        ok = F.lower(c).isin(*FORMAT_BOOL_VALUES)
    elif fmt == "json":
        ok = F.try_parse_json(c).isNotNull()
    else:
        return c.rlike(FORMAT_REGEX[fmt])
    # try_to_timestamp/try_parse_json turn NULL input into FALSE, breaking
    # the NULL-propagation contract above for exactly these branches — the
    # when() (no otherwise) restores NULL-in → NULL-out uniformly
    return F.when(c.isNotNull(), ok)


def with_partition_id(df: DataFrame, spec: Spec) -> DataFrame:
    """Attach the engine's stable logical partition id.

    If the spec names a physical partition column, use it; otherwise derive
    pmod(xxhash64(key), n_partitions) — stable across runs and cluster sizes,
    which is what makes the manifest checkpoint (resume) meaningful.

    Data-supplied ids (a pre-existing partition_id column or
    spec.partition_column) coalesce NULL/uncastable values to the RESERVED
    partition -1: a NULL-keyed row would otherwise be invisible to every
    per-partition stage (all_partitions discovers ids from the data, and
    isin(batch) never matches NULL) — silently unvalidated rows are worse
    than an odd bucket, so they validate and count like any other partition.
    """
    if "partition_id" in df.columns:
        return df.withColumn(
            "partition_id",
            F.coalesce(F.col("partition_id").cast("int"), F.lit(-1)),
        )
    if spec.partition_column:
        src = F.coalesce(F.col(spec.partition_column).cast("int"), F.lit(-1))
    else:
        src = F.pmod(F.xxhash64(F.col(spec.key_column)), F.lit(spec.n_partitions)).cast(
            "int"
        )
    return df.withColumn("partition_id", src)


def _viol(rule_id: str, column: str, expected: Column, actual: Column, kind: str) -> Column:
    return F.struct(
        F.lit(rule_id).alias("rule_id"),
        F.lit(column).alias("column"),
        expected.cast("string").alias("expected"),
        actual.cast("string").alias("actual"),
        F.lit(kind).alias("kind"),
    )


#: rule → built check Column. Rules are frozen dataclasses (value-hashable)
#: and Column trees are immutable, so one tree serves every batch and every
#: run over the same spec — building the fused row pass cost ~0.3 s of py4j
#: round trips per ValidationRun before this (construction latency only;
#: identical expressions). Falls back to building uncached if a rule carries
#: an unhashable field.
_CHECK_CACHE: dict = {}


def _check(rule) -> Column:
    """One rule → nullable violation struct (NULL ⇒ pass).

    A rule with ``when`` is scoped: the whole check is gated on the predicate
    so rows where it is FALSE or NULL are out of scope (struct stays NULL ⇒
    pass) — the tabular analog of the reference applying a matcher only to
    the nodes its schema position selects (containers.rs:212-230). The gate
    is part of the same codegen'd expression; no extra scan or filter stage.
    """
    try:
        cached = _CHECK_CACHE.get(rule)
    except TypeError:  # unhashable field somewhere in the rule
        cached = None
        hashable = False
    else:
        hashable = True
    if cached is not None:
        return cached
    inner = _check_applies(rule)
    when = getattr(rule, "when", "")
    built = F.when(F.expr(when), inner) if when else inner
    if hashable:
        _CHECK_CACHE[rule] = built
    return built


def _check_applies(rule) -> Column:
    if isinstance(rule, NotNullRule):
        c = F.col(rule.column)
        fail = c.isNull()
        return F.when(
            fail, _viol(rule.id, rule.column, F.lit("not null"), F.lit(None), KIND_NULL)
        )
    if isinstance(rule, RegexRule):
        c = F.col(rule.column)
        fail = c.isNotNull() & ~c.rlike(rule.anchored)
        shown = F.lit(anchor_regex(rule.pattern, rule.full, end="$"))
        return F.when(fail, _viol(rule.id, rule.column, shown, c, KIND_MATCHER))
    if isinstance(rule, CompositeRegexRule):
        # prefix → matcher → suffix pipeline (matchers.rs:38-431): a chained
        # WHEN reports only the FIRST failing segment ("one error once",
        # cmd.rs:368-398). NULL values propagate null conditions → no branch
        # fires → struct is NULL → pass (NotNullRule owns missing values).
        c = F.col(rule.column).cast("string")
        plen = len(rule.prefix)
        got_prefix = F.substring(c, 1, plen)
        rest = c.substr(F.lit(plen + 1), F.length(c))
        matched = F.regexp_extract(rest, rule.anchored, 1)
        tail = rest.substr(F.length(matched) + F.lit(1), F.length(rest))
        return (
            F.when(
                got_prefix != F.lit(rule.prefix),
                _viol(rule.id, rule.column, F.lit(rule.prefix), got_prefix, KIND_PREFIX),
            )
            .when(
                ~rest.rlike(rule.anchored),
                _viol(rule.id, rule.column, F.lit(rule.anchored), rest, KIND_MATCHER),
            )
            .when(
                tail != F.lit(rule.suffix),
                _viol(rule.id, rule.column, F.lit(rule.suffix), tail, KIND_SUFFIX),
            )
        )
    if isinstance(rule, LiteralRule):
        c = F.col(rule.column)
        expected = (
            F.lit(rule.value) if rule.value is not None else F.col(rule.other_column)
        )
        fail = c.isNotNull() & expected.isNotNull() & (c != expected)
        return F.when(fail, _viol(rule.id, rule.column, expected, c, KIND_LITERAL))
    if isinstance(rule, RangeRule):
        c = F.col(rule.column)
        conds = []
        if rule.min is not None:
            conds.append(c < F.lit(rule.min))
        if rule.max is not None:
            conds.append(c > F.lit(rule.max))
        fail = c.isNotNull() & (conds[0] if len(conds) == 1 else (conds[0] | conds[1]))
        expected = F.lit(f"[{rule.min}, {rule.max}]")
        return F.when(fail, _viol(rule.id, rule.column, expected, c, KIND_RANGE))
    if isinstance(rule, DomainRule):
        c = F.col(rule.column)
        fail = c.isNotNull() & ~c.isin(*rule.values)
        expected = F.lit("in {" + ", ".join(rule.values) + "}")
        return F.when(fail, _viol(rule.id, rule.column, expected, c, KIND_DOMAIN))
    if isinstance(rule, FormatRule):
        # typed-format validity in the fused pass. All paths are codegen'd
        # JVM expressions: shape rlike, try_to_timestamp (strict ANSI
        # parser), try_parse_json. NULL → out of scope (NotNullRule's job).
        c = F.col(rule.column)
        fmt = rule.format
        fail = c.isNotNull() & ~format_ok(c, fmt)
        return F.when(
            fail, _viol(rule.id, rule.column, F.lit(fmt), c, KIND_FORMAT)
        )
    if isinstance(rule, VectorRule):
        # dim → bad element → norm, first failure only (cmd.rs:368-398);
        # NULL vectors propagate NULL conditions → pass (NotNullRule's job).
        # All higher-order functions (size/exists/aggregate) — one codegen'd
        # expression, JVM-side.
        c = F.col(rule.column)
        bad_elem = F.exists(
            c,
            lambda x: x.isNull()
            | F.isnan(x)
            | (F.abs(x.cast("double")) == F.lit(float("inf"))),
        )
        norm = F.sqrt(
            F.aggregate(
                c,
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            )
        )
        branches = []
        if rule.dim is not None:
            branches.append(
                (
                    F.size(c) != F.lit(rule.dim),
                    _viol(rule.id, rule.column, F.lit(str(rule.dim)),
                          F.size(c), KIND_DIM),
                )
            )
        if rule.forbid_nan:
            branches.append(
                (
                    bad_elem,
                    _viol(rule.id, rule.column, F.lit("finite elements"),
                          F.lit("NULL/NaN/Inf element"), KIND_NAN),
                )
            )
        if rule.min_norm is not None or rule.max_norm is not None:
            conds = []
            if rule.min_norm is not None:
                conds.append(norm < F.lit(rule.min_norm))
            if rule.max_norm is not None:
                conds.append(norm > F.lit(rule.max_norm))
            fail = conds[0] if len(conds) == 1 else (conds[0] | conds[1])
            branches.append(
                (
                    fail,
                    _viol(
                        rule.id,
                        rule.column,
                        F.lit(f"norm in [{rule.min_norm}, {rule.max_norm}]"),
                        # %.6f: deterministic cross-engine float formatting
                        F.format_string("%.6f", norm),
                        KIND_RANGE,
                    ),
                )
            )
        out = F.when(branches[0][0], branches[0][1])
        for cond, viol in branches[1:]:
            out = out.when(cond, viol)
        return out
    if isinstance(rule, AlignmentRule):
        # cross-modal pair cosine: len mismatch → undefined cosine (bad
        # element / zero norm) → rounded cosine outside the band, first
        # failure only. zip_with/aggregate higher-order functions — one
        # codegen'd expression, JVM-side. NULL vector either side → every
        # condition NULL → pass (NotNullRule's job).
        a, b = F.col(rule.column_a), F.col(rule.column_b)
        target = f"{rule.column_a}~{rule.column_b}"

        def _bad(v: Column) -> Column:
            return F.exists(
                v,
                lambda x: x.isNull()
                | F.isnan(x)
                | (F.abs(x.cast("double")) == F.lit(float("inf"))),
            )

        def _sq(v: Column) -> Column:
            return F.aggregate(
                v,
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            )

        dot = F.aggregate(
            F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        denom = F.sqrt(_sq(a)) * F.sqrt(_sq(b))
        # 6 dp rounding BEFORE thresholding: the cross-engine determinism
        # convention (semantic_decontam) — a last-ulp float disagreement
        # must not flip a verdict
        cos = F.round(dot / denom, 6)
        branches = [
            (
                F.size(a) != F.size(b),
                _viol(
                    rule.id,
                    target,
                    F.lit("equal dims"),
                    F.concat_ws("!=", F.size(a), F.size(b)),
                    KIND_DIM,
                ),
            ),
            (
                _bad(a) | _bad(b) | (denom == F.lit(0.0)),
                _viol(
                    rule.id,
                    target,
                    F.lit("defined cosine"),
                    F.lit("no cosine (bad element or zero norm)"),
                    KIND_NAN,
                ),
            ),
        ]
        conds = []
        if rule.min_cos is not None:
            conds.append(cos < F.lit(rule.min_cos))
        if rule.max_cos is not None:
            conds.append(cos > F.lit(rule.max_cos))
        fail = conds[0] if len(conds) == 1 else (conds[0] | conds[1])
        if rule.min_cos is not None and rule.max_cos is not None:
            expected = f"cos in [{rule.min_cos}, {rule.max_cos}]"
        elif rule.min_cos is not None:
            expected = f"cos >= {rule.min_cos}"
        else:
            expected = f"cos <= {rule.max_cos}"
        branches.append(
            (
                fail,
                _viol(
                    rule.id,
                    target,
                    F.lit(expected),
                    F.format_string("%.6f", cos),
                    KIND_ALIGNMENT,
                ),
            )
        )
        out = F.when(branches[0][0], branches[0][1])
        for cond, viol in branches[1:]:
            out = out.when(cond, viol)
        return out
    if isinstance(rule, HeaderRule):
        # container integrity without decoding (fence-header-before-body,
        # code.rs:152-205): truncated → bad magic → fmt-code byte → header
        # u16-LE dims vs declared columns, first failure only. Everything
        # reads an ~8-byte prefix via substring-on-binary + conv(hex) — one
        # codegen'd expression, no Python, no decode. NULL payloads pass
        # (NotNullRule's job); a fmt value outside the declared mappings is
        # out of scope (DomainRule owns the fmt vocabulary), which the
        # chained CASE gives for free: the expected side goes NULL, the
        # comparison goes NULL, the branch never fires.
        c = F.col(rule.column)

        def _byte(off: int) -> Column:  # 0-based header byte → int
            return F.conv(F.hex(F.substring(c, off + 1, 1)), 16, 10).cast("int")

        def _u16le(off: int) -> Column:
            return _byte(off) + _byte(off + 1) * F.lit(256)

        def _fmt_case(pairs, value) -> Column:
            out = None
            for k, v in pairs:
                cond = F.col(rule.fmt_column) == F.lit(k)
                out = F.when(cond, value(v)) if out is None else out.when(
                    cond, value(v)
                )
            return out

        # the truncation gate is PER-ROW: static needs (code byte, dims,
        # shared magic, min_length) plus the row's OWN format's magic length
        # — per-format magics differ in length (PNG 8B, JPEG 3B), and using
        # the global max would falsely flag short-magic formats' legitimate
        # short payloads as truncated
        static_need = rule.static_required_length
        if rule.magic_by_fmt:
            per_fmt_len = None
            for k, v in rule.magic_by_fmt:
                cond = F.col(rule.fmt_column) == F.lit(k)
                lit = F.lit(len(v) // 2)
                per_fmt_len = (
                    F.when(cond, lit)
                    if per_fmt_len is None
                    else per_fmt_len.when(cond, lit)
                )
            need = F.greatest(
                F.lit(static_need), F.coalesce(per_fmt_len, F.lit(0))
            )
        else:
            need = F.lit(static_need)
        branches = [
            (
                F.octet_length(c) < need,
                _viol(
                    rule.id,
                    rule.column,
                    F.concat(F.lit(">= "), need.cast("string"), F.lit(" bytes")),
                    F.octet_length(c),
                    KIND_TRUNCATED,
                ),
            )
        ]
        if rule.magic:
            got = F.hex(F.substring(c, 1, len(rule.magic) // 2))
            branches.append(
                (
                    got != F.lit(rule.magic),
                    _viol(rule.id, rule.column, F.lit(rule.magic), got, KIND_PREFIX),
                )
            )
        elif rule.magic_by_fmt:
            expected = _fmt_case(rule.magic_by_fmt, lambda v: F.lit(v))
            got = _fmt_case(
                rule.magic_by_fmt,
                lambda v: F.hex(F.substring(c, 1, len(v) // 2)),
            )
            branches.append(
                (got != expected, _viol(rule.id, rule.column, expected, got, KIND_PREFIX))
            )
        if rule.fmt_codes:
            expected = _fmt_case(rule.fmt_codes, lambda v: F.lit(int(v)))
            got = _byte(rule.code_offset)
            branches.append(
                (
                    got != expected,
                    _viol(rule.id, rule.fmt_column, expected, got, KIND_FMT_CODE),
                )
            )
        if rule.w_column:
            got = _u16le(rule.w_offset)
            branches.append(
                (
                    got != F.col(rule.w_column),
                    _viol(rule.id, rule.w_column, F.col(rule.w_column), got, KIND_DIM),
                )
            )
        if rule.h_column:
            got = _u16le(rule.h_offset)
            branches.append(
                (
                    got != F.col(rule.h_column),
                    _viol(rule.id, rule.h_column, F.col(rule.h_column), got, KIND_DIM),
                )
            )
        out = F.when(branches[0][0], branches[0][1])
        for cond, viol in branches[1:]:
            out = out.when(cond, viol)
        return out
    if isinstance(rule, ExprRule):
        # cross-column invariant: fail ONLY on exactly-FALSE — a NULL result
        # (SQL three-valued logic on NULL inputs) is out of scope, keeping
        # the "one error once" non-cascade rule (missing values belong to
        # NotNullRule). The predicate and the optional actual rendering are
        # both part of the same codegen'd expression.
        pred = F.expr(rule.expr)
        actual = F.expr(rule.actual_expr) if rule.actual_expr else F.lit(None)
        return F.when(
            ~pred,
            _viol(
                rule.id,
                ",".join(rule.columns),
                F.lit(rule.expr),
                actual,
                KIND_EXPR,
            ),
        )
    if isinstance(rule, PiiRule):
        # typed PII budget: counts ride the same codegen'd pass as every
        # matcher; actual renders the per-kind breakdown like
        # operators/pii.pii_violations ("3 (ssn=1,cc=2)")
        kinds = rule.kinds or tuple(k for k in PII_KINDS if k != "url")
        all_counts = pii_counts_for(rule.column)
        counts = {k: all_counts[k] for k in kinds}
        if rule.kinds:
            total = None
            for k in kinds:
                total = counts[k] if total is None else total + counts[k]
        else:
            # default (all non-URL kinds): the canonical shared definition
            total = pii_total_from_counts(all_counts)
        detail = F.concat_ws(
            ",",
            *[
                F.when(
                    counts[k] > 0,
                    F.concat(F.lit(f"{k}="), counts[k].cast("string")),
                )
                for k in kinds
            ],
        )
        return F.when(
            total > rule.max_total,
            _viol(
                rule.id,
                rule.column,
                F.lit(f"pii_total <= {rule.max_total}"),
                F.concat(total.cast("string"), F.lit(" ("), detail, F.lit(")")),
                KIND_PII,
            ),
        )
    if isinstance(rule, TextQualityRule):
        # Gopher quality envelope: pure column algebra in the fused pass.
        # NULL text is OUT OF SCOPE like every other content rule ("one
        # error once", cmd.rs:368-398) — a missing value is NotNullRule's
        # report, not a zero-valued quality failure.
        m = gopher_quality_metrics_for(rule.column)[rule.metric]
        conds = []
        if rule.min is not None:
            conds.append(m < rule.min)
        if rule.max is not None:
            conds.append(m > rule.max)
        fail = conds[0]
        for cnd in conds[1:]:
            fail = fail | cnd
        fail = F.col(rule.column).isNotNull() & fail
        if rule.min is not None and rule.max is not None:
            expected = f"{rule.metric} in [{rule.min}, {rule.max}]"
        elif rule.min is not None:
            expected = f"{rule.metric} >= {rule.min}"
        else:
            expected = f"{rule.metric} <= {rule.max}"
        return F.when(
            fail,
            _viol(
                rule.id,
                rule.column,
                F.lit(expected),
                F.format_string("%.6f", m.cast("double")),
                KIND_QUALITY,
            ),
        )
    if isinstance(rule, RepetitionRule):
        # Gopher repetition gate: the run-length walk is pure column
        # algebra, so the metric evaluates inside the fused pass; rows
        # shorter than min_words are out of scope (Gopher's length filter)
        m = repetition_metrics_for(rule.column)
        metric = m[rule.metric]
        in_scope = m["n_words"] >= rule.min_words
        return F.when(
            in_scope & (metric > rule.max),
            _viol(
                rule.id,
                rule.column,
                F.lit(f"{rule.metric} <= {rule.max}"),
                F.format_number(metric, 6),
                KIND_REPETITION,
            ),
        )
    raise TypeError(f"not a row rule: {rule!r}")


def row_violations(
    df: DataFrame,
    program: ConstraintProgram,
    run_id: str,
    extra_checks: tuple = (),
) -> DataFrame:
    """Evaluate all row rules in one pass → violations DataFrame.

    ``df`` must already carry ``partition_id`` (see with_partition_id).
    Returns an empty-but-typed frame when the program has no row rules.

    ``extra_checks`` are additional nullable violation-struct Columns shaped
    like ``_check`` output that ride the same fused pass — the hook the run
    lifecycle uses to fuse broadcast-dim referential checks into this scan
    (see ref_rules.ref_fused_check) instead of paying a second pass.
    """
    spec = program.spec
    key = F.col(spec.key_column).cast("string")

    if not program.stages["row"] and not extra_checks:
        return violations_frame(df.sparkSession)

    checks = [_check(r) for r in program.stages["row"]] + list(extra_checks)
    # NO pre-filter on size(_v): explode already drops empty arrays, and a
    # where() here is pushed below the Project by PushDownPredicates with
    # the alias substituted — the ENTIRE fused check expression would be
    # evaluated twice per row (once in the pushed Filter, once feeding the
    # Generate), and below any upstream repartition to boot (single-task).
    # Round-6 plan diff: Filter(size(<full expr>)>0) node removed.
    rows = (
        df.select(
            F.col("partition_id"),
            key.alias("_key"),
            F.array_compact(F.array(*checks)).alias("_v"),
        )
        .select(
            F.lit(run_id).alias("run_id"),
            F.col("partition_id"),
            F.explode("_v").alias("v"),
            F.col("_key"),
        )
        .select(
            *violation_columns(
                run_id=F.col("run_id"),
                partition_id=F.col("partition_id"),
                rule_id=F.col("v.rule_id"),
                image_id=F.col("_key"),
                column=F.col("v.column"),
                expected=F.col("v.expected"),
                actual=F.col("v.actual"),
                kind=F.col("v.kind"),
            )
        )
    )
    return rows


def with_row_violations(
    df: DataFrame, program: ConstraintProgram, col_name: str = "_violations"
) -> DataFrame:
    """Annotate every row with its row-rule violation structs, keeping ALL
    original columns — validation as a FILTER, not just a report. An empty
    array means the row passes every row rule; the array contents are the
    same structs ``row_violations`` explodes into report rows, so the two
    surfaces can never disagree.

    Same plan shape as the fused report pass: one select, all checks in one
    codegen'd expression, no shuffle, no Python. This is the primitive a
    training pipeline wants — "give me the clean rows" — without paying a
    second validation scan."""
    checks = [_check(r) for r in program.stages["row"]]
    ann = (
        F.array_compact(F.array(*checks))
        if checks
        else F.expr("array()").cast(VIOLATION_STRUCT_DDL)
    )
    return df.withColumn(col_name, ann)


def split_rows(
    df: DataFrame, program: ConstraintProgram, col_name: str = "_violations"
) -> tuple[DataFrame, DataFrame]:
    """(valid, quarantine): rows passing every row rule (violation column
    dropped) and failing rows (violation structs attached for triage).

    Each side is a lazy frame over the SAME annotated plan; consuming both
    independently scans twice. For the single-scan form at scale, use
    ``write_split`` — one pass, partitioned output, downstream reads prune
    to the side they want."""
    ann = with_row_violations(df, program, col_name)
    valid = ann.where(F.size(F.col(col_name)) == 0).drop(col_name)
    quarantine = ann.where(F.size(F.col(col_name)) > 0)
    return valid, quarantine


def write_split(
    df: DataFrame,
    program: ConstraintProgram,
    path: str,
    col_name: str = "_violations",
) -> tuple[str, str]:
    """ONE scan → parquet partitioned by ``is_valid``: the quarantine-sink
    pattern (clean rows to training, dirty rows to triage) without
    validating twice. Violation structs are serialized to a JSON string
    column so the quarantine side stays self-describing in any reader.
    Returns the two partition directories (valid, quarantine); downstream
    reads of either side prune to its partition at the scan
    (PartitionFilters), never touching the other. Note partition-dir values
    round-trip as STRINGS ("true"/"false") when reading the root path —
    Spark's partition inference recovers numerics/dates only."""
    ann = with_row_violations(df, program, col_name)
    (
        ann.withColumn("is_valid", F.size(F.col(col_name)) == 0)
        .withColumn(col_name, F.to_json(F.col(col_name)))
        .write.mode("overwrite")
        .partitionBy("is_valid")
        .parquet(path)
    )
    return f"{path}/is_valid=true", f"{path}/is_valid=false"
