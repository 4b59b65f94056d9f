"""Declarative constraint spec — the engine's "mdschema".

The reference declares constraints as a Markdown-shaped schema whose leaves are
matchers ``` `id:/regex/`{min,max} ``` (reference: src/mdschema/validation/
matchers/matcher.rs:92-109, matcher_extras.rs:112-122). Here the same roles are
played by plain dataclasses: each rule has a deterministic id, a target, and
params. A ``Spec`` is the analog of a parsed schema tree. Like a reference
matcher checking itself at parse time (matcher.rs:175-208), each rule class
rejects its own malformed params in ``lint`` and names the execution stage
that runs it in ``stage``; ``compile_spec`` (compile.py) adds the checks that
span several rules, the analog of the schema-sanity walkers.

Rule families and their reference ancestors:

- RegexRule        ← matcher eval (matcher.rs:244-252), MatcherVsText
                     (walkers/validators/matchers.rs:38-431)
- LiteralRule      ← literal-escape matcher `` `x`! `` (matchers.rs:433-601)
- NotNullRule      ← required node present (ChildrenLengthMismatch)
- RangeRule        ← kind/domain class checks generalized to numeric bounds
- DomainRule       ← compare_node_kinds class membership
                     (walkers/helpers/compare_node_kinds.rs:20-99)
- UniqueRule       ← the degenerate `{1,1}`-per-key repetition
                     (walkers/validators/lists.rs:168-264)
- CountRule        ← `{min,max}` repetition bounds (matcher_extras.rs:228-252,
                     containers.rs:316-349)
- RefIntegrityRule ← link-destination checks (walkers/validators/links.rs:216-310)
- ColumnStatsRule  ← matches-JSON capture (metrics, no pass/fail)
- DriftRule        ← (new; mandated by north rule) distribution drift KS/PSI
- PixelRule        ← fenced-code body capture/validation (code.rs:189-205),
                     decoding binary payloads in vectorized batches
"""

from __future__ import annotations

import functools
import re
from dataclasses import dataclass, field
from datetime import datetime
from typing import ClassVar, Optional, Sequence

from py4j.protocol import Py4JJavaError
from pyspark.errors import IllegalArgumentException
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DateType,
    NumericType,
    StringType,
    StructType,
    TimestampType,
)

from .errors import (
    InvalidBoundsError,
    MalformedRegexError,
    MixedLiteralAndBoundsError,
    SchemaError,
)
from .schemas import local_frame


def _column_type(schema, path: str):
    """Resolved DataType of a (possibly dotted) column path, or None when
    ``schema`` is not a StructType or the path does not resolve. Dotted
    paths step INTO nested structs (the reference validates inside nested
    structure — QuoteVsQuote, walkers/validators/quotes.rs:21-66)."""
    cur = schema
    for part in path.split("."):
        if not isinstance(cur, StructType):
            return None
        cur = next((f.dataType for f in cur.fields if f.name == part), None)
    return cur


def _require_type(rule, schema, column: str, types, what: str) -> None:
    """Type-aware lint: when a typed ``schema`` resolves ``column``, its type
    must be one of ``types``. ``what`` is the message template (fields
    ``column``, ``got``, ``kind``). A plain name list or an unresolved path
    passes — existence is compile_spec's column check."""
    t = _column_type(schema, column)
    if t is not None and not isinstance(t, types):
        raise SchemaError(
            f"rule {rule.id!r}: "
            + what.format(column=repr(column), got=t.simpleString(), kind=rule.kind)
        )


def _compile_regex(rule_id: str, pattern: str):
    """Reject a malformed pattern before touching data (matcher.rs:175-208)
    — with ``java.util.regex`` too when a session is active, the dialect
    ``rlike`` runs (``(?P<x>..)`` is Python-only). Returns the Python
    pattern (CaptureRule.lint reads its groups)."""
    try:
        compiled = re.compile(pattern)
    except re.error as e:
        raise MalformedRegexError(rule_id, pattern, str(e)) from e
    spark = SparkSession.getActiveSession()
    if spark is not None:
        try:
            spark.sparkContext._jvm.java.util.regex.Pattern.compile(pattern)
        except (IllegalArgumentException, Py4JJavaError) as e:
            raise MalformedRegexError(rule_id, pattern, str(e)) from e
    return compiled


@functools.lru_cache(maxsize=1)
def _empty_frame(spark: SparkSession, schema: StructType):
    """The empty frame a spec's expressions are analyzed against: one per
    schema, not one driver round trip per expression."""
    return local_frame(spark, schema)


def _analyze_expr(rule, schema, expr: str, label: str, required_type=None,
                  columns: tuple | None = None):
    """Driver-side analysis (no job) of a rule's SQL expression against an
    empty frame of ``schema``, pruned to ``columns`` when given: SchemaError
    if it does not resolve or is not ``required_type``. Only with a
    StructType, an active session (as ``_compile_regex``) and every target
    resolved — else compile_spec raises UnknownColumnError."""
    spark = SparkSession.getActiveSession()
    if (
        spark is None
        or not isinstance(schema, StructType)
        or any(c and _column_type(schema, c) is None for c in rule.targets())
    ):
        return
    df = _empty_frame(spark, schema)
    context = "the input schema"
    if columns is not None:
        df = df.select(*[F.col(c) for c in columns])
        context = f"the declared columns {columns}"
    try:
        analyzed = df.select(F.expr(expr).alias("_x"))
    except Exception as e:
        raise SchemaError(
            f"rule {rule.id!r}: {label} {expr!r} does not resolve against "
            f"{context}: {e}"
        ) from e
    dt = analyzed.schema["_x"].dataType
    if required_type is not None and not isinstance(dt, required_type):
        kind = required_type.__name__.replace("Type", "").lower()
        raise SchemaError(
            f"rule {rule.id!r}: {label} {expr!r} is not {kind} "
            f"(got {dt.simpleString()})"
        )


def _require_numeric(rule, schema, what: str) -> None:
    """``what`` (moments, a numeric bound) of a non-numeric column would be
    silent all-NULL metrics after the cast: raise instead. Reads the
    top-level column; an unresolved one is compile_spec's to report."""
    if _column_type(schema, rule.column) is None:
        return
    t = next((f.dataType for f in schema.fields if f.name == rule.column), None)
    if not isinstance(t, NumericType):
        raise SchemaError(
            f"rule {rule.id!r}: {what} need a numeric column, got "
            f"{rule.column!r}: {t.simpleString() if t is not None else 'missing'}"
        )


#: end of input in Java and Python ``re`` alike — ``$`` also matches before
#: a final line terminator in both, and Python has no ``\z``
END_OF_INPUT = r"(?![\s\S])"


def anchor_regex(pattern: str, full: bool = True, end: str = END_OF_INPUT) -> str:
    """``pattern`` as ONE unit: wrapped in a non-capturing group, always
    start-anchored (matcher.rs:332) and, with ``full``, end-anchored by
    ``end``. Sniffing the user's own anchors is wrong for alternations
    ("^a|b") and escapes (a literal "\\$"); redundant inner anchors are
    harmless. ``end="$"`` spells the violation's ``expected`` text — the
    usual full-match notation — never a pattern to match with."""
    return "^(?:" + pattern + ")" + (end if full else "")


# text-shaped rules read characters: on a non-string column the regex/split
# primitives would silently cast instead of failing loudly
_STRING_COLUMN = "column {column} must be STRING for a {kind} rule, got {got}"


@dataclass(frozen=True)
class Rule:
    """Base rule. ``id`` must be unique within a Spec (deterministic; used to
    key violations/metrics, the analog of the matcher id)."""

    id: str

    # subclasses override
    kind: str = field(default="base", init=False)

    # SOFT-RULE tolerance: None (default) keeps the reference's hard
    # pass/fail semantics — any violation fails the run (main.rs:86-90).
    # A rate r ∈ [0, 1) makes the rule SOFT: its violations are still
    # detected, reported, and counted exactly, but the run's verdict treats
    # the rule as passing while violations / rows_validated ≤ r. At 10^12
    # rows zero-tolerance is rarely the operational contract — some
    # corruption always exists; the pipeline question is "is it under
    # budget". The denominator is the run's total validated row count (the
    # manifest row sum), one shared, unambiguous meaning across rule
    # families; totals stay EXACT under max_violations_per_rule because the
    # verdict reads the aggregation-only violations_total metrics, never
    # the sampled row frame.
    max_violation_rate: Optional[float] = None

    #: the ConstraintProgram stage that runs this rule (field
    #: ``f"{stage}_rules"``); every subclass declares one
    stage: ClassVar[str]
    #: why max_violation_rate cannot apply to this family ("" = it can)
    rate_refusal: ClassVar[str] = ""

    def targets(self) -> tuple[str, ...]:
        """Columns this rule reads (for lint + column pruning)."""
        return ()

    def lint(self, schema) -> None:
        """Reject a malformed rule with a SchemaError before any data is
        touched. ``schema`` is what compile_spec checks against: None, a
        list of column names, or a StructType (type-aware checks run only
        with a StructType). Subclasses extend this with their own checks;
        checks spanning several rules live in compile_spec."""
        rate = self.max_violation_rate
        if rate is not None and not (0.0 <= rate < 1.0):
            raise SchemaError(
                f"rule {self.id!r}: max_violation_rate must be in [0, 1), "
                f"got {rate}"
            )
        if rate is not None and self.rate_refusal:
            raise SchemaError(f"rule {self.id!r}: {self.rate_refusal}")
        if getattr(self, "when", ""):  # SQL: must resolve, and be BOOLEAN
            _analyze_expr(
                self, schema, self.when, "when predicate", BooleanType
            )


# ---------------------------------------------------------------- row rules


@dataclass(frozen=True)
class NotNullRule(Rule):
    column: str = ""
    #: optional SQL predicate scoping the rule to matching rows (see Rule
    #: docs below): "" = unconditional. The reference applies a matcher only
    #: to the nodes its schema position selects (walkers step into the
    #: matching subtree, containers.rs:212-230); ``when`` is the tabular
    #: analog — a rule scoped by row context instead of tree context. Rows
    #: where the predicate is FALSE or NULL are out of scope (pass).
    when: str = ""
    kind: str = field(default="not_null", init=False)
    stage = "row"

    def targets(self):
        return (self.column,)


@dataclass(frozen=True)
class RegexRule(Rule):
    """Anchored-regex match on a string column.

    Like the reference, the pattern is auto-anchored at the start
    (matcher.rs:332 prepends '^'); pass ``full=True`` to also anchor the end
    (the common whole-value validation case).
    """

    column: str = ""
    pattern: str = ""
    full: bool = True
    when: str = ""  # optional row-scope predicate (see NotNullRule.when)
    kind: str = field(default="regex", init=False)
    stage = "row"

    def lint(self, schema) -> None:
        super().lint(schema)
        _compile_regex(self.id, self.pattern)

    def targets(self):
        return (self.column,)

    @property
    def anchored(self) -> str:
        return anchor_regex(self.pattern, self.full)


@dataclass(frozen=True)
class CompositeRegexRule(Rule):
    """Structured-string rule: literal ``prefix`` + regex ``pattern`` +
    literal ``suffix``, validated segment-by-segment with the violation
    taxonomy preserved (kind = prefix | matcher | suffix).

    The reference analog is the full MatcherVsText pipeline
    (walkers/validators/matchers.rs:38-431): compare the literal prefix
    first, then regex-match the middle, then compare the literal suffix —
    and report the FIRST failing segment only ("one error once",
    cmd.rs:368-398; kinds at errors.rs:294-303). A failed prefix suppresses
    the matcher and suffix checks, exactly like the reference bailing out of
    the pipeline at the first mismatch.

    The whole check is one codegen'd column expression: substring compare →
    anchored regexp_extract → remainder compare. No Python, no second scan.
    """

    column: str = ""
    prefix: str = ""
    pattern: str = ""
    suffix: str = ""
    # capture=True additionally emits the MATCHER segment of every passing
    # row as an ordered per-partition capture metric — ONE rule both
    # validates and captures, the reference's MatcherVsText semantics
    # (matchers.rs:38-431 validates the pipeline AND records the match,
    # validator.rs:33-36), with no second rule whose duplicated pattern
    # could silently drift.
    capture: bool = False
    # with capture=True, capture_as_rows=True routes the capture through
    # the SPILL-SAFE ordered-rows path (one metrics row per capture via a
    # sort-based window — the same 100x-safe variant as
    # CaptureRule.as_rows) instead of per-partition arrays; choose it when
    # passing captures per partition are unbounded.
    capture_as_rows: bool = False
    when: str = ""  # optional row-scope predicate (see NotNullRule.when)
    kind: str = field(default="composite", init=False)
    stage = "row"

    def lint(self, schema) -> None:
        super().lint(schema)
        if not self.pattern:
            raise SchemaError(f"rule {self.id!r}: composite rule needs a pattern")
        _compile_regex(self.id, self.pattern)

    def targets(self):
        return (self.column,)

    @property
    def anchored(self) -> str:
        """Pattern anchored at the start with a capture over the whole
        match (matcher.rs:332 prepends '^'), applied AFTER the prefix is
        stripped."""
        return "^(" + self.pattern + ")"


@dataclass(frozen=True)
class LiteralRule(Rule):
    """Exact equality — against a constant or another column.

    Analog of the ``!`` literal escape (matcher.rs:23): compare contents
    literally instead of as a pattern.
    """

    column: str = ""
    value: Optional[str] = None        # constant to equal, or
    other_column: Optional[str] = None  # column to equal (e.g. caption round-trip)
    when: str = ""  # optional row-scope predicate (see NotNullRule.when)
    kind: str = field(default="literal", init=False)
    stage = "row"

    def lint(self, schema) -> None:
        super().lint(schema)
        if (self.value is None) == (self.other_column is None):
            raise SchemaError(
                f"rule {self.id!r}: exactly one of value/other_column required"
            )
        # literal escape cannot carry bounds (matcher_extras.rs:163-170) —
        # bounds live on CountRule; a LiteralRule with bounds is unrepresentable
        # by construction, but a dict-built spec may smuggle them:
        if getattr(self, "min", None) is not None or getattr(self, "max", None) is not None:
            raise MixedLiteralAndBoundsError(self.id)

    def targets(self):
        t = [self.column]
        if self.other_column:
            t.append(self.other_column)
        return tuple(t)


@dataclass(frozen=True)
class RangeRule(Rule):
    column: str = ""
    min: Optional[float] = None
    max: Optional[float] = None
    when: str = ""  # optional row-scope predicate (see NotNullRule.when)
    kind: str = field(default="range", init=False)
    stage = "row"

    def lint(self, schema) -> None:
        super().lint(schema)
        if self.min is not None and self.max is not None and self.min > self.max:
            raise InvalidBoundsError(self.id, self.min, self.max)

    def targets(self):
        return (self.column,)


@dataclass(frozen=True)
class DomainRule(Rule):
    """Value must be in a small inline set (for table-backed domains use
    RefIntegrityRule)."""

    column: str = ""
    values: tuple[str, ...] = ()
    when: str = ""  # optional row-scope predicate (see NotNullRule.when)
    kind: str = field(default="domain", init=False)
    stage = "row"

    def lint(self, schema) -> None:
        super().lint(schema)
        if not self.values:
            raise SchemaError(f"rule {self.id!r}: empty domain")

    def targets(self):
        return (self.column,)


@dataclass(frozen=True)
class VectorRule(Rule):
    """Embedding-vector sanity over an ``array<float>`` column: dimension,
    finite values, and L2-norm bounds — the vector-payload analog of the
    row-content rules (the reference validates every child of a container in
    one sweep, containers.rs:212-230; an embedding is a fixed-shape container
    of floats).

    Checks run in pipeline order and report the FIRST failure only ("one
    error once", cmd.rs:368-398): wrong length (kind=dim_mismatch), then a
    NULL/NaN/±Inf element (kind=nan, when forbid_nan), then L2 norm outside
    [min_norm, max_norm] (kind=range, actual formatted %.6f for cross-engine
    determinism). NULL vectors are NotNullRule's job. The whole check is one
    codegen'd column expression (size / exists / aggregate higher-order
    functions) — JVM-side, no Python, no shuffle."""

    column: str = ""
    dim: Optional[int] = None
    min_norm: Optional[float] = None
    max_norm: Optional[float] = None
    forbid_nan: bool = True
    when: str = ""  # optional row-scope predicate (see NotNullRule.when)
    kind: str = field(default="vector", init=False)
    stage = "row"

    def lint(self, schema) -> None:
        super().lint(schema)
        if self.dim is None and not self.forbid_nan and (
            self.min_norm is None and self.max_norm is None
        ):
            raise SchemaError(
                f"rule {self.id!r}: vector rule checks nothing — set dim, "
                "forbid_nan, and/or norm bounds"
            )
        if self.dim is not None and self.dim <= 0:
            raise SchemaError(f"rule {self.id!r}: dim must be > 0, got {self.dim}")
        if (
            self.min_norm is not None
            and self.max_norm is not None
            and self.min_norm > self.max_norm
        ):
            raise InvalidBoundsError(self.id, self.min_norm, self.max_norm)

    def targets(self):
        return (self.column,)


@dataclass(frozen=True)
class AlignmentRule(Rule):
    """Cross-modal pair alignment: row-wise cosine similarity between two
    embedding columns (the CLIP-score-shaped gate of an image+caption
    corpus — image embedding vs caption embedding) must sit inside
    [min_cos, max_cos]. A floor catches mispaired rows (caption belongs to
    a different image); a ceiling catches degenerate near-identity (both
    encoders fed the same input, or a copied column).

    Checks run in pipeline order, FIRST failure only ("one error once",
    cmd.rs:368-398): length mismatch between the two vectors
    (kind=dim_mismatch), then an undefined cosine — NULL/NaN/±Inf element
    on either side or a zero-norm vector (kind=nan; 'no cosine' is loud,
    never a fabricated verdict), then the rounded cosine outside the bounds
    (kind=alignment, actual formatted %.6f). The cosine is rounded to 6 dp
    BEFORE thresholding (the semantic_decontam determinism convention) so
    the verdict is reproducible across engines. A NULL vector on either
    side is out of scope (NotNullRule's job). One codegen'd
    zip_with/aggregate expression in the fused row pass — no Python, no
    shuffle."""

    column_a: str = ""
    column_b: str = ""
    min_cos: Optional[float] = None
    max_cos: Optional[float] = None
    when: str = ""  # optional row-scope predicate (see NotNullRule.when)
    kind: str = field(default="alignment", init=False)
    stage = "row"

    def lint(self, schema) -> None:
        super().lint(schema)
        if not self.column_a or not self.column_b:
            raise SchemaError(
                f"rule {self.id!r}: alignment rule needs column_a and column_b"
            )
        if self.column_a == self.column_b:
            raise SchemaError(
                f"rule {self.id!r}: alignment of a column with itself is "
                "vacuous (cos = 1 wherever defined)"
            )
        if self.min_cos is None and self.max_cos is None:
            raise SchemaError(
                f"rule {self.id!r}: alignment rule needs min_cos and/or "
                "max_cos (a band-less cosine checks nothing)"
            )
        for name, v in (("min_cos", self.min_cos), ("max_cos", self.max_cos)):
            if v is not None and not -1.0 <= v <= 1.0:
                raise SchemaError(
                    f"rule {self.id!r}: {name} must be in [-1, 1], got {v}"
                )
        if (
            self.min_cos is not None
            and self.max_cos is not None
            and self.min_cos > self.max_cos
        ):
            raise InvalidBoundsError(self.id, self.min_cos, self.max_cos)

    def targets(self):
        return (self.column_a, self.column_b)


@dataclass(frozen=True)
class HeaderRule(Rule):
    """Structural integrity of a binary payload column WITHOUT decoding it:
    container magic bytes, format-code byte vs the declared ``fmt`` column,
    and fixed-offset u16-LE header dimensions vs the declared ``w``/``h``
    columns — all in plain column algebra over an 8-byte prefix of the blob.

    The scale rationale: at 10^12 images, full pixel decode (PixelRule) is a
    sampled/staged commitment; the header check removes the decode CPU but
    NOT the payload IO — Parquet cannot read an 8-byte prefix of a binary
    value, so any spec containing this rule scans the full ``bytes`` column
    (the rule's ``targets()`` declares it, and the pruned-scan plan shows
    it). Use it where the bytes are already moving: fused with the pixel
    stage's own scan, at ingest while payloads are in memory, or as a
    dedicated IO-bound audit pass (~memcpy speed, vs decode's CPU-bound
    pass). Do NOT add it to a relational-only suite whose plan otherwise
    never touches bytes — that guarantee (test_plan_shapes) is worth more
    than a magic check. Within the pass it is as cheap as checks get: a
    ``substring(bytes, 1, ~8)`` expression in the fused codegen'd row pass
    (no Python, no shuffle, no decode) catching the bulk corruption classes
    outright — truncation, wrong container, mislabeled format, metadata
    that contradicts the payload. The reference
    analog is the fenced-code-block *info string* check that runs before the
    body kernel (walkers/validators/code.rs:152-205 validates the fence
    header, then hands the opaque body to the dedicated kernel) — header
    first, expensive payload later.

    Checks run in pipeline order, FIRST failure only (cmd.rs:368-398):

    1. ``octet_length < min_length``          → kind=truncated
    2. magic prefix mismatch                  → kind=prefix
       (``magic`` for all rows, or per-format via ``magic_by_fmt`` — real
       containers have per-format magics: PNG ``89504E47``, JPEG ``FFD8FF``)
    3. format-code byte ≠ ``fmt_codes[fmt]``  → kind=fmt_code
    4. header u16-LE width  ≠ ``w_column``    → kind=dim_mismatch
    5. header u16-LE height ≠ ``h_column``    → kind=dim_mismatch

    NULL payloads are NotNullRule's job; a ``fmt`` value absent from the
    mappings is out of scope here (DomainRule owns the fmt vocabulary).
    ``magic``/``magic_by_fmt`` values are hex strings (case-insensitive).
    Offsets are 0-based byte positions; dims are little-endian u16 (the MDV
    container layout, functions/codec.py)."""

    column: str = ""
    magic: str = ""  # hex prefix required on every row (exclusive w/ by-fmt)
    magic_by_fmt: tuple = ()  # ((fmt value, hex prefix), ...) or dict
    fmt_column: str = ""
    fmt_codes: tuple = ()  # ((fmt value, code byte int), ...) or dict
    code_offset: int = 3
    w_column: str = ""
    h_column: str = ""
    w_offset: int = 4
    h_offset: int = 6
    min_length: int = 0  # 0 = derived from the deepest offset any check reads
    when: str = ""  # optional row-scope predicate (see NotNullRule.when)
    kind: str = field(default="header", init=False)
    stage = "row"

    def lint(self, schema) -> None:
        super().lint(schema)
        if not self.column:
            raise SchemaError(f"rule {self.id!r}: header rule needs a column")
        if not (
            self.magic or self.magic_by_fmt or self.fmt_codes
            or self.w_column or self.h_column
        ):
            raise SchemaError(
                f"rule {self.id!r}: header rule checks nothing — set magic, "
                "magic_by_fmt, fmt_codes, and/or w/h columns"
            )
        if self.magic and self.magic_by_fmt:
            raise SchemaError(
                f"rule {self.id!r}: magic and magic_by_fmt are exclusive "
                "(one shared prefix OR per-format prefixes)"
            )
        if (self.magic_by_fmt or self.fmt_codes) and not self.fmt_column:
            raise SchemaError(
                f"rule {self.id!r}: per-format checks need fmt_column"
            )
        for hx in (self.magic, *(h for _, h in self.magic_by_fmt)):
            if hx and (
                len(hx) % 2 != 0
                or any(ch not in "0123456789ABCDEF" for ch in hx)
            ):
                raise SchemaError(
                    f"rule {self.id!r}: magic {hx!r} is not an even-length "
                    "hex string"
                )
        for k, code in self.fmt_codes:
            try:
                ok = 0 <= int(code) <= 255
            except (TypeError, ValueError):
                ok = False
            if not ok:
                raise SchemaError(
                    f"rule {self.id!r}: fmt code for {k!r} must be one "
                    f"byte (0-255), got {code!r}"
                )
        for off in (self.code_offset, self.w_offset, self.h_offset):
            if off < 0:
                raise SchemaError(
                    f"rule {self.id!r}: header offsets must be >= 0"
                )
        if self.w_column and self.h_column and abs(self.w_offset - self.h_offset) < 2:
            raise SchemaError(
                f"rule {self.id!r}: w/h u16 offsets overlap "
                f"({self.w_offset}, {self.h_offset})"
            )
        # the code byte must not sit inside either u16 dim field — an
        # overlapping layout reads the same bytes as two different
        # things and one of the checks is then always wrong (ADVICE r3)
        if self.fmt_codes:
            for name, col, off in (
                ("w", self.w_column, self.w_offset),
                ("h", self.h_column, self.h_offset),
            ):
                if col and off <= self.code_offset < off + 2:
                    raise SchemaError(
                        f"rule {self.id!r}: code_offset {self.code_offset} "
                        f"overlaps the {name} u16 field "
                        f"[{off}, {off + 2})"
                    )
        if self.magic and self.fmt_codes and self.code_offset < len(self.magic) // 2:
            raise SchemaError(
                f"rule {self.id!r}: code_offset {self.code_offset} sits inside "
                f"the {len(self.magic) // 2}-byte magic prefix — the code "
                "byte would be constrained to a magic byte"
            )
        # header extraction is byte arithmetic: on a STRING column
        # substring/hex operate per CHARACTER, so multibyte text
        # silently mis-extracts instead of failing loudly (ADVICE r3)
        _require_type(
            self, schema, self.column, BinaryType,
            "header rule column {column} must be BINARY, got {got} "
            "(byte offsets are not character offsets)",
        )

    def __post_init__(self):
        # accept dicts (ergonomic) and normalize to sorted tuple pairs so the
        # frozen rule stays hashable and JSON round-trips compare equal
        for f in ("magic_by_fmt", "fmt_codes"):
            v = getattr(self, f)
            if isinstance(v, dict):
                v = tuple(sorted(v.items()))
            else:
                v = tuple((k, x) for k, x in v)
            object.__setattr__(self, f, v)
        object.__setattr__(self, "magic", self.magic.upper())
        object.__setattr__(
            self,
            "magic_by_fmt",
            tuple((k, x.upper()) for k, x in self.magic_by_fmt),
        )

    def targets(self):
        cols = [self.column]
        if self.fmt_column and (self.magic_by_fmt or self.fmt_codes):
            cols.append(self.fmt_column)
        if self.w_column:
            cols.append(self.w_column)
        if self.h_column:
            cols.append(self.h_column)
        return tuple(cols)

    @property
    def static_required_length(self) -> int:
        """Bytes every row's checks read regardless of its format. Per-format
        magics are deliberately EXCLUDED: their lengths differ by format
        (PNG 8 bytes, JPEG 3), so their length demand is a per-row CASE on
        the fmt column (row_rules builds it) — folding the max in here would
        falsely flag short-magic formats' legitimately short payloads as
        truncated."""
        need = 0
        if self.magic:
            need = max(need, len(self.magic) // 2)
        if self.fmt_codes:
            need = max(need, self.code_offset + 1)
        if self.w_column:
            need = max(need, self.w_offset + 2)
        if self.h_column:
            need = max(need, self.h_offset + 2)
        return max(need, self.min_length)


@dataclass(frozen=True)
class ExprRule(Rule):
    """Cross-column row invariant: an arbitrary SQL boolean expression that
    must hold on every row (e.g. ``"w * h <= 268435456"``,
    ``"l_shipdate <= l_receiptdate"``, ``"n_chars = length(text)"``).

    The reference's matchers each bind ONE schema position, but the walker
    itself enforces relationships BETWEEN positions (heading level vs marker
    kind, compare_node_kinds.rs:20-99; alt text vs destination,
    links.rs:245-296) — a cross-field invariant the single-column rule
    families can't say. ``ExprRule`` is that capability for rows: one SQL
    predicate over any columns of the row, evaluated inside the same fused
    codegen'd pass as every other row rule (no Python, no extra scan).

    Null semantics follow the engine's "one error once" rule
    (cmd.rs:368-398): a row fails only when the predicate evaluates to
    exactly FALSE; a NULL result (any NULL input under SQL three-valued
    logic) is out of scope — missing values are NotNullRule's job.

    ``columns`` must declare every column the expression reads: the compile
    lint checks them against the schema and the scan stays pruned to exactly
    the declared set; an expression referencing an undeclared column is a
    SchemaError at compile against a typed schema (the analyzer sees the
    pruned frame), never a mid-job AnalysisException. ``actual_expr``
    (optional SQL, e.g. ``"format_string('%.3f', l_discount + l_tax)"``)
    renders the violation's ``actual`` value; default is NULL (the
    expression text in ``expected`` already names the failed invariant)."""

    expr: str = ""
    columns: tuple[str, ...] = ()
    actual_expr: str = ""
    when: str = ""  # optional row-scope predicate (see NotNullRule.when)
    kind: str = field(default="expr", init=False)
    stage = "row"

    def lint(self, schema) -> None:
        super().lint(schema)
        if not self.expr:
            raise SchemaError(f"rule {self.id!r}: expr rule needs an expression")
        if not self.columns:
            # the declared columns ARE the pruned-scan contract — an
            # undeclared read would only surface as an AnalysisException
            # against the pruned frame mid-run; demand the declaration
            raise SchemaError(
                f"rule {self.id!r}: expr rule must declare the columns its "
                "expression reads (scan pruning + schema lint)"
            )
        # against the declared columns only: an undeclared read fails too
        _analyze_expr(
            self, schema, self.expr, "expr", required_type=BooleanType,
            columns=self.columns,
        )
        if self.actual_expr:
            _analyze_expr(
                self, schema, self.actual_expr, "actual_expr",
                columns=self.columns,
            )

    def targets(self):
        return self.columns


#: FormatRule's typed formats. Regex-shaped formats are pure pattern checks;
#: date/timestamp AND a strict parse onto the shape regex (the shape alone
#: admits 2020-13-45, the parse alone admits lenient digit counts and padding
#: in some SQL engines — both together is the portable strict contract);
#: bool is closed-set membership; json is a real parse (try_parse_json).
FORMATS = ("int", "double", "date", "timestamp", "uuid", "bool", "json")

#: shape regexes shared verbatim by the Spark expression and any SQL oracle
#: (ASCII classes only — identical under Java regex, RE2, and DuckDB)
FORMAT_REGEX = {
    "int": "^[+-]?[0-9]+$",
    "double": "^[+-]?([0-9]+([.][0-9]*)?|[.][0-9]+)([eE][+-]?[0-9]+)?$",
    "uuid": (
        "^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}"
        "-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"
    ),
    "date": "^[0-9]{4}-[0-9]{2}-[0-9]{2}$",
    "timestamp": "^[0-9]{4}-[0-9]{2}-[0-9]{2} [0-9]{2}:[0-9]{2}:[0-9]{2}$",
}

#: closed vocabulary for format="bool" (lowercased before membership)
FORMAT_BOOL_VALUES = ("true", "false", "0", "1")


@dataclass(frozen=True)
class FormatRule(Rule):
    """String column must parse as the declared typed ``format`` — the
    "stringly-typed ingest" gate (CSV/JSON landed everything as VARCHAR; is
    the id column really all ints, the date column really all dates?).

    The reference validates typed content with shape matchers
    (matcher.rs:244-252); FormatRule is the same role with REAL parse
    semantics where shape alone lies: ``date``/``timestamp`` require the
    strict shape regex AND ``try_to_timestamp`` to succeed (so 2020-02-30 —
    shape-valid, calendar-invalid — fails), ``json`` requires
    ``try_parse_json``, ``int``/``double``/``uuid`` are portable ASCII shape
    regexes, ``bool`` is closed-set membership. Everything compiles into the
    SAME fused codegen'd row pass as every matcher: zero extra scans, zero
    shuffles, zero Python.

    NULL values are out of scope (NotNullRule owns missing values), matching
    the engine-wide "one error once" taxonomy (cmd.rs:368-398).

    Oracle parity (documented, test-locked): date/timestamp replicate as
    ``regexp_matches AND try_strptime IS NOT NULL``, json as ``json_valid``.
    DuckDB's json_valid accepts the non-standard bare scalars ``nan``/``inf``
    that standard JSON (and Spark's try_parse_json) rejects — a corpus where
    that distinction matters should gate those two spellings with a
    RegexRule alongside."""

    column: str = ""
    format: str = "int"
    when: str = ""  # optional row-scope predicate (see NotNullRule.when)
    kind: str = field(default="format", init=False)
    stage = "row"

    def lint(self, schema) -> None:
        super().lint(schema)
        if self.format not in FORMATS:
            raise SchemaError(
                f"rule {self.id!r}: unknown format {self.format!r}; "
                f"valid: {', '.join(FORMATS)}"
            )
        # format checks parse CHARACTERS: on an already-typed column the
        # implicit cast would re-render the value (e.g. a real DATE column
        # prints as yyyy-MM-dd and trivially passes) — that's a no-op
        # check hiding a spec mistake, so demand STRING like PII/repetition
        _require_type(self, schema, self.column, StringType, _STRING_COLUMN)

    def targets(self):
        return (self.column,)


@dataclass(frozen=True)
class PiiRule(Rule):
    """Row must carry at most ``max_total`` typed PII matches in ``column``
    (default 0: any PII is a violation).

    The training-data gate as a first-class constraint: the same typed
    detectors as operators/pii.py (email, ipv4, phone, ssn, cc — URL is a
    signal, not PII, and is excluded unless named), compiled into the SAME
    fused codegen'd row pass as every regex matcher (the reference's
    MatcherVsText kernel, walkers/validators/matchers.rs:38-431, pointed at
    identifier shapes). ``kinds`` restricts which detectors count (e.g.
    ``("email",)``); empty means all non-URL kinds. The violation's
    ``actual`` renders the per-kind breakdown (``"3 (ssn=1,cc=2)"``)."""

    column: str = ""
    max_total: int = 0
    kinds: tuple[str, ...] = ()
    when: str = ""  # optional row-scope predicate (see NotNullRule.when)
    kind: str = field(default="pii", init=False)
    stage = "row"

    def lint(self, schema) -> None:
        from .operators.pii import PII_KINDS

        super().lint(schema)
        if self.max_total < 0:
            raise SchemaError(f"rule {self.id!r}: max_total must be >= 0")
        bad = [k for k in self.kinds if k not in PII_KINDS]
        if bad:
            raise SchemaError(
                f"rule {self.id!r}: unknown PII kind(s) {bad}; "
                f"valid: {', '.join(PII_KINDS)}"
            )
        _require_type(self, schema, self.column, StringType, _STRING_COLUMN)

    def targets(self):
        return (self.column,)


@dataclass(frozen=True)
class RepetitionRule(Rule):
    """Gopher-family repetition gate on a text/caption column: the named
    ``metric`` (see operators/text.py REPETITION_METRICS) must be ≤ ``max``
    for every row with at least ``min_words`` words.

    Rides the fused row pass like every other row rule — the run-length
    walk is pure column algebra (sort_array + one linear F.aggregate), so a
    repetition gate adds zero scans, zero shuffles, and zero Python to the
    validation plan. ``min_words`` mirrors Gopher's length pre-filter: a
    5-word caption's top 2-gram trivially covers >20% of its characters, so
    short rows are out of scope (gate their length with ExprRule/RangeRule
    instead)."""

    column: str = ""
    metric: str = "dup_line_frac"
    max: float = 0.3
    min_words: int = 20
    when: str = ""  # optional row-scope predicate (see NotNullRule.when)
    kind: str = field(default="repetition", init=False)
    stage = "row"

    def lint(self, schema) -> None:
        from .operators.text import REPETITION_METRIC_LIMITS, REPETITION_METRICS

        super().lint(schema)
        if self.metric not in REPETITION_METRICS:
            raise SchemaError(
                f"rule {self.id!r}: unknown repetition metric {self.metric!r}; "
                f"valid: {', '.join(REPETITION_METRICS)}"
            )
        limit = REPETITION_METRIC_LIMITS[self.metric]
        if not (0.0 <= self.max <= limit):
            raise SchemaError(
                f"rule {self.id!r}: max must be a fraction in [0, {limit}] "
                f"for {self.metric}, got {self.max}"
            )
        if self.min_words < 0:
            raise SchemaError(f"rule {self.id!r}: min_words must be >= 0")
        _require_type(self, schema, self.column, StringType, _STRING_COLUMN)

    def targets(self):
        return (self.column,)


@dataclass(frozen=True)
class TextQualityRule(Rule):
    """Gopher quality gate on a text/caption column: the named ``metric``
    (see operators/text.py gopher_quality_metrics — n_words, mean_word_len,
    symbol_word_ratio, bullet_line_frac, ellipsis_line_frac,
    alpha_word_frac, n_stopwords) must lie in [min, max]; open ends allowed.

    Completes the spec-level Gopher §A1.1 set next to RepetitionRule: same
    fused row pass, pure column algebra, zero extra scans. Defaults gate
    nothing — declare the envelope you mean (e.g.
    ``TextQualityRule("wl", column="caption", metric="mean_word_len",
    min=3, max=10)``)."""

    column: str = ""
    metric: str = "n_words"
    min: Optional[float] = None
    max: Optional[float] = None
    when: str = ""  # optional row-scope predicate (see NotNullRule.when)
    kind: str = field(default="text_quality", init=False)
    stage = "row"

    def lint(self, schema) -> None:
        from .operators.text import _QUALITY_COLS

        super().lint(schema)
        metrics = tuple(m for m in _QUALITY_COLS if m != "n_lines")
        if self.metric not in metrics:
            raise SchemaError(
                f"rule {self.id!r}: unknown quality metric {self.metric!r}; "
                f"valid: {', '.join(metrics)}"
            )
        if self.min is None and self.max is None:
            raise SchemaError(
                f"rule {self.id!r}: a quality gate needs min and/or max"
            )
        if self.min is not None and self.max is not None and self.min > self.max:
            raise SchemaError(
                f"rule {self.id!r}: min {self.min} > max {self.max}"
            )
        _require_type(self, schema, self.column, StringType, _STRING_COLUMN)

    def targets(self):
        return (self.column,)


# -------------------------------------------------------------- group rules


@dataclass(frozen=True)
class UniqueRule(Rule):
    """Column(s) must be globally unique. Skew-aware: evaluated with a salted
    two-phase aggregation (see operators/agg_rules.py). ``when`` scopes the
    uniqueness to the sub-population where the predicate is TRUE (e.g. phash
    unique among fmt='png' rows); out-of-scope rows neither collide nor are
    reported."""

    columns: tuple[str, ...] = ()
    when: str = ""  # optional row-scope predicate (see NotNullRule.when)
    kind: str = field(default="unique", init=False)
    stage = "group"

    def lint(self, schema) -> None:
        super().lint(schema)
        if not self.columns:
            raise SchemaError(f"rule {self.id!r}: unique rule needs >=1 column")

    def targets(self):
        return self.columns


@dataclass(frozen=True)
class CountRule(Rule):
    """Row count per group (or per partition when group_by=()) must lie in
    [min, max]; open ends allowed (None), like ``{n,}`` / ``{,n}``
    (matcher_extras.rs:129-157).

    A group with ZERO rows never appears in a groupBy, so "every group must
    have >= min rows" is silently vacuous for absent groups — unless the
    group domain is enumerable. ``universe`` names a dimension table (the
    run's ``dims`` dict) whose ``universe_columns`` (default: the group_by
    names) enumerate the EXPECTED groups; expected groups with no rows are
    then reported as count 0 (the reference's WrongListCount underflow,
    lists.rs:168-264 — fewer items than the schema demands IS an error).
    Evaluated as one anti-join of the universe against observed groups."""

    group_by: tuple[str, ...] = ()  # () = per engine partition
    min: Optional[int] = None
    max: Optional[int] = None
    universe: str = ""  # dim table enumerating expected groups ("" = none)
    universe_columns: tuple[str, ...] = ()  # dim cols; default = group_by
    # optional row-scope predicate (see NotNullRule.when): counts only rows
    # where the predicate is TRUE — "every group must have >= n png rows";
    # a group/partition with zero IN-SCOPE rows counts as 0
    when: str = ""
    kind: str = field(default="count", init=False)

    @property
    def stage(self) -> str:
        return "group" if self.group_by else "count"

    def lint(self, schema) -> None:
        super().lint(schema)
        lo, hi = self.min, self.max
        if lo is not None and hi is not None and lo > hi:
            raise InvalidBoundsError(self.id, lo, hi)
        if (lo is not None and lo < 0) or (hi is not None and hi < 0):
            raise InvalidBoundsError(self.id, lo, hi)
        if self.universe:
            if not self.group_by:
                raise SchemaError(
                    f"rule {self.id!r}: universe needs group_by (per-"
                    "partition rules use the run's own partition set)"
                )
            if self.min is None:
                raise SchemaError(
                    f"rule {self.id!r}: universe without min is vacuous — "
                    "a zero-row group can only violate a lower bound"
                )
            if (
                self.universe_columns
                and len(self.universe_columns) != len(self.group_by)
            ):
                raise SchemaError(
                    f"rule {self.id!r}: universe_columns arity "
                    f"({len(self.universe_columns)}) != group_by arity "
                    f"({len(self.group_by)})"
                )

    def targets(self):
        return self.group_by


@dataclass(frozen=True)
class FunctionalDependencyRule(Rule):
    """Functional dependency ``determinants → dependents``: every distinct
    determinant tuple must map to exactly ONE distinct dependent tuple
    (zip+city → state; image_id → phash; part → brand). A determinant whose
    rows disagree on the dependents is reported once, with the distinct
    count and the lexicographic [min .. max] dependent values for triage.

    The reference's schema ties each position to one matcher — the same
    value-consistency contract per schema slot (a literal node must equal
    ONE string everywhere it appears, matchers.rs:433-601); FD generalizes
    it to "same key ⇒ same value" across rows.

    Scale shape (operators/agg_rules.py fd_violations): TWO cheap phases,
    never a countDistinct expand — groupBy(det, dep).count() first (map-side
    combine collapses duplicate pairs before the shuffle; a hot determinant
    is spread across its dependent values, so no salting needed), then
    groupBy(det) over the distinct-pair rows (bounded by distinct pairs, at
    most a few per determinant in healthy data). NULL dependents count as
    one distinct value (SQL groupBy semantics); NULL determinants form their
    own group. ``when`` scopes the dependency to the matching
    sub-population."""

    determinants: tuple[str, ...] = ()
    dependents: tuple[str, ...] = ()
    when: str = ""  # optional row-scope predicate (see NotNullRule.when)
    kind: str = field(default="fd", init=False)
    stage = "group"

    def lint(self, schema) -> None:
        super().lint(schema)
        if not self.determinants or not self.dependents:
            raise SchemaError(
                f"rule {self.id!r}: fd rule needs >=1 determinant and "
                ">=1 dependent column"
            )
        overlap = set(self.determinants) & set(self.dependents)
        if overlap:
            # a dependent that is also a determinant is trivially
            # functional — the rule can never fire; reject the vacuity
            raise SchemaError(
                f"rule {self.id!r}: column(s) {sorted(overlap)} appear as "
                "both determinant and dependent (vacuously satisfied)"
            )

    def targets(self):
        return self.determinants + self.dependents


@dataclass(frozen=True)
class MonotonicRule(Rule):
    """Per-group ordering invariant: within each ``group_by`` group, ordered
    by ``order_column`` (key-column tie-break so verdicts are deterministic
    under order ties), ``column`` must be ``nondecreasing`` (default) or
    ``nonincreasing``; ``strict`` forbids equality. The event-time /
    version-counter sanity check: ingest timestamps that never rewind per
    shard, version numbers that only grow per image_id.

    One window pass — single shuffle on the group key, the SequenceRule
    scale contract: groups must be bounded (check global ordering per
    partition/day group, never one corpus-wide window). A NULL value breaks
    the chain (the adjacent pair is out of scope; NotNullRule owns missing
    values). ``column`` may equal ``order_column`` to assert the ordering
    column itself is duplicate-free/monotone per group."""

    column: str = ""
    group_by: tuple[str, ...] = ()
    order_column: str = ""
    direction: str = "nondecreasing"  # nondecreasing | nonincreasing
    strict: bool = False
    when: str = ""  # optional row-scope predicate (see NotNullRule.when)
    kind: str = field(default="monotonic", init=False)
    stage = "group"

    def lint(self, schema) -> None:
        super().lint(schema)
        if self.direction not in ("nondecreasing", "nonincreasing"):
            raise SchemaError(
                f"rule {self.id!r}: unknown direction {self.direction!r}; "
                "valid: nondecreasing, nonincreasing"
            )
        if not self.group_by or not self.order_column or not self.column:
            # an ungrouped (corpus-wide) window is one partition — a
            # single-task bottleneck at any real scale; demand a group
            raise SchemaError(
                f"rule {self.id!r}: monotonic needs column, order_column "
                "and a non-empty group_by (check global ordering per "
                "partition/day group, never in one window)"
            )

    def targets(self):
        return (self.column, self.order_column, *self.group_by)


@dataclass(frozen=True)
class OutlierRule(Rule):
    """Robust distribution-outlier gate on a numeric column: every value must
    lie inside a data-derived envelope — ``iqr`` ([q1 − k·IQR, q3 + k·IQR],
    the Tukey fence, default k=1.5) or ``mad`` (median ± k·1.4826·MAD, the
    modified-z fence, default k=3.5). The data-derived analog of RangeRule:
    it catches the corrupt tail nobody declared a constant bound for.

    ``group_by`` computes one envelope PER GROUP (e.g. per fmt — a 4 MB webp
    is normal, a 4 MB thumbnail is not); the envelope frame is #groups rows,
    broadcast back onto the table, so the big side never shuffles.

    ``exact`` selects the quantile strategy: False (default) uses mergeable
    KLL sketches — bounded task memory, the 10^12-row path; True uses exact
    interpolated percentiles (Spark buffers each group's values in one
    aggregation buffer — small/medium tables and oracle comparison only).

    ``expr`` (mutually exclusive with ``column``) envelopes a DERIVED
    numeric metric instead of a raw column — the image-table shape is
    ``expr="try_divide(length(bytes), w * h)"`` grouped by fmt: a
    bytes-per-pixel envelope catches truncated or padded payloads from
    METADATA alone, before any decode. Use ``try_divide`` (not ``/``) for
    ratio metrics: under ANSI SQL a plain division throws mid-job on the
    very corrupt rows (w·h = 0) a validator must survive, while try_divide
    yields NULL — and NULL metric rows are out of scope here by the NULL
    contract (RangeRule/NotNullRule own zero dims and missing values).
    Analyzed against the typed schema at compile (the DriftRule.expr
    discipline) and must resolve numeric.

    Violations are per ROW (kind=outlier), scoped by ``when`` like every row
    rule; NULLs are out of scope (NotNullRule owns missing values). Runs at
    finalize over the whole table — a batch-local envelope would make
    verdicts depend on batch boundaries."""

    column: str = ""
    expr: str = ""  # derived-metric alternative to column (SQL expression)
    method: str = "iqr"  # iqr | mad
    k: float = 0.0  # 0.0 → method default (iqr 1.5, mad 3.5)
    group_by: tuple[str, ...] = ()
    exact: bool = False
    when: str = ""  # optional row-scope predicate (see NotNullRule.when)
    kind: str = field(default="outlier", init=False)
    stage = "group"

    def lint(self, schema) -> None:
        super().lint(schema)
        if self.method not in ("iqr", "mad"):
            raise SchemaError(
                f"rule {self.id!r}: unknown outlier method {self.method!r}; "
                "valid: iqr, mad"
            )
        if self.k <= 0:
            raise SchemaError(f"rule {self.id!r}: k must be > 0, got {self.k}")
        if bool(self.column) == bool(self.expr):
            raise SchemaError(
                f"rule {self.id!r}: outlier rule needs exactly one of "
                "column or expr"
            )
        # quantiles of strings are meaningless; a silent cast("double")
        # would yield an all-NULL envelope that flags nothing
        if self.column:
            _require_type(
                self, schema, self.column, NumericType,
                "column {column} must be numeric for an outlier rule, "
                "got {got}",
            )
        else:
            _analyze_expr(
                self, schema, self.expr, "outlier expr",
                required_type=NumericType,
            )

    def __post_init__(self):
        if self.k == 0.0:
            object.__setattr__(self, "k", 1.5 if self.method == "iqr" else 3.5)

    def targets(self):
        # expr inputs are opaque here (lint analyzes them, the
        # DriftRule.expr pattern); empty column is skipped by the lint
        return (self.column, *self.group_by)


@dataclass(frozen=True)
class AssociationRule(Rule):
    """Cramér's V band between two categorical columns — the
    joint-distribution gate the per-column families cannot express.
    ``min_v`` is a coupling floor (an image table's fmt must track its
    container's magic bytes; a caption's language should associate with its
    source domain), ``max_v`` an independence ceiling (a quality score
    leaking the holdout split is a labeling bug). V ∈ [0, 1]: 0 =
    independent, 1 = one column determines the other.

    Evaluated at finalize over the whole table (a batch-local contingency
    table would make the verdict depend on batch boundaries, the OutlierRule
    argument): ONE groupBy bounded by distinct (a, b) cells — loudly refused
    above ``max_cells`` — then O(cells) driver math over the FULL category
    grid (see operators/association.py). NULL is a first-class category.

    Degenerate contract: an EMPTY table violates loudly (no distribution
    statement from no rows); a CONSTANT column (dof = 0) violates when
    ``min_v`` is set (asserted coupling is unmeasurable) and passes a bare
    ``max_v`` with V = 0 (a constant column is vacuously independent)."""

    col_a: str = ""
    col_b: str = ""
    min_v: float | None = None
    max_v: float | None = None
    max_cells: int = 0  # 0 → operators.association.MAX_ASSOC_CELLS
    kind: str = field(default="association", init=False)
    stage = "group"

    def lint(self, schema) -> None:
        super().lint(schema)
        if not self.col_a or not self.col_b or self.col_a == self.col_b:
            raise SchemaError(
                f"rule {self.id!r}: association needs two DISTINCT columns "
                f"(got col_a={self.col_a!r}, col_b={self.col_b!r}) — a column "
                "is perfectly associated with itself"
            )
        if self.min_v is None and self.max_v is None:
            raise SchemaError(
                f"rule {self.id!r}: association rule asserts nothing "
                "without min_v and/or max_v (Cramér's V band)"
            )
        for name, bound in (("min_v", self.min_v), ("max_v", self.max_v)):
            if bound is not None and not (0.0 <= bound <= 1.0):
                raise SchemaError(
                    f"rule {self.id!r}: {name} must be in [0, 1], "
                    f"got {bound}"
                )
        if (
            self.min_v is not None
            and self.max_v is not None
            and self.min_v > self.max_v
        ):
            raise SchemaError(
                f"rule {self.id!r}: min_v {self.min_v} > max_v {self.max_v} — "
                "an empty band can never pass"
            )
        if self.max_cells < 0:
            raise SchemaError(
                f"rule {self.id!r}: max_cells must be >= 0, got {self.max_cells}"
            )

    def targets(self):
        return (self.col_a, self.col_b)


@dataclass(frozen=True)
class BenfordRule(Rule):
    """First-significant-digit conformance gate on an organic magnitude
    column (file sizes, byte lengths, totals spanning orders of
    magnitude): the observed digit distribution's mean absolute deviation
    from Benford's log10(1 + 1/d) must stay within ``max_mad`` (default =
    Nigrini's marginally-acceptable band, 0.015). Constant-fill bugs,
    truncation at an ingest boundary, and record duplication all bend this
    histogram before any mean/quantile gate moves.

    Evaluated at finalize over the whole table (a batch-local histogram
    would make the verdict depend on batch boundaries): ONE full scan with
    map-side combine, O(9) driver math — see operators/digits.py.

    Degenerate contract: fewer than ``min_rows`` in-scope values (non-NULL,
    nonzero) is a VIOLATION ('unmeasurable'), not a pass — a spec that
    asserts a distribution on data that cannot exhibit one should be loud.
    NOT for ID sequences, bounded scores, or assigned prices; the rule
    gates organic magnitudes only, and that judgment is the spec author's.
    """

    column: str = ""
    max_mad: float = 0.015
    min_rows: int = 1000
    when: str = ""  # optional row-scope predicate (see NotNullRule.when)
    # incremental=True switches this rule to MERGEABLE PER-PARTITION
    # PARTIALS (the ColumnStatsRule.incremental pattern): each validated
    # batch emits one row per partition with its row count and nine digit
    # counts, persisted under the checkpoint; the finalize pass merges by
    # summation WITHOUT rescanning the table — bit-identical to the full
    # scan because both paths feed the same integer counts into the same
    # arithmetic (operators/digits.py). On a resumed 10^12-row run where
    # one partition arrived, the Benford cost is that partition's scan
    # plus an O(#partitions) merge.
    incremental: bool = False
    kind: str = field(default="benford", init=False)
    stage = "group"

    def lint(self, schema) -> None:
        super().lint(schema)
        if not self.column:
            raise SchemaError(f"rule {self.id!r}: benford rule needs a column")
        if not (0.0 < self.max_mad < 1.0):
            raise SchemaError(
                f"rule {self.id!r}: max_mad must be in (0, 1) (a share "
                f"deviation), got {self.max_mad}"
            )
        if self.min_rows < 1:
            raise SchemaError(
                f"rule {self.id!r}: min_rows must be >= 1, got {self.min_rows}"
            )
        _require_type(
            self, schema, self.column, NumericType,
            "column {column} must be numeric for a benford rule, got {got}",
        )

    def targets(self):
        return (self.column,)


@dataclass(frozen=True)
class GapRule(Rule):
    """Time-series continuity gate: no two consecutive DISTINCT values of
    timestamp ``column`` (per ``group_by`` series) may be more than
    ``min_gap_seconds`` apart — the mid-series ingest outage that
    recovered before a freshness check looked, and that coarse volume
    envelopes absorb. One violation row per silence, keyed by the group.

    Evaluated at finalize via the bucketed decomposition in
    operators/gaps.py (DISTINCT-shrink → LAG within ``bucket_seconds``
    epoch buckets → boundary stitch over the per-bucket min/max summary) —
    bit-identical to the naive global sort at any bucket size, but every
    partition sorts only its own bucket. Groups with fewer than two
    distinct timestamps have no pairs and pass vacuously (VolumeRule /
    CountRule own emptiness)."""

    column: str = ""
    min_gap_seconds: float = 0.0
    group_by: tuple = ()
    bucket_seconds: int = 86_400
    when: str = ""  # optional row-scope predicate (see NotNullRule.when)
    kind: str = field(default="gap", init=False)
    stage = "group"

    def lint(self, schema) -> None:
        super().lint(schema)
        if not self.column:
            raise SchemaError(f"rule {self.id!r}: gap rule needs a column")
        if self.min_gap_seconds <= 0:
            raise SchemaError(
                f"rule {self.id!r}: min_gap_seconds must be > 0, got "
                f"{self.min_gap_seconds} — every consecutive pair has "
                "gap >= 0; a zero threshold reports the entire series"
            )
        if self.bucket_seconds <= 0:
            raise SchemaError(
                f"rule {self.id!r}: bucket_seconds must be > 0, "
                f"got {self.bucket_seconds}"
            )
        _require_type(
            self, schema, self.column, (DateType, TimestampType),
            "column {column} must be a timestamp/date for a gap rule, "
            "got {got}",
        )

    def targets(self):
        return (self.column, *self.group_by)


@dataclass(frozen=True)
class ConcentrationRule(Rule):
    """Value-dominance gate on a column: the most frequent value's corpus
    share must stay within ``max_top_share``, and/or the Herfindahl–
    Hirschman index of value shares (HHI = Σ share²) within ``max_hhi`` —
    the boilerplate-caption / sentinel-value detector. A scrape where 40%
    of captions read 'thumbnail', or a join default flooding a column
    with 'unknown', passes every row rule, null gate, and domain check;
    this is the gate that catches it. At least one bound must be set.

    Evaluated at finalize over the whole table: one groupBy(column) count
    (map-side combine) streamed through a 1-row aggregate — a hot value
    costs one count row, never a buffer (operators/skew.py). Shares are
    exact integer micro-units (sum of squared counts in decimal(38,0)
    arithmetic), so the verdict is engine-reproducible bit-for-bit.

    NULLs are OUT of scope (NotNullRule owns nullness); fewer than
    ``min_rows`` in-scope values is a VIOLATION ('unmeasurable'), the
    BenfordRule degenerate contract. Bounds are shares in (0, 1]; note
    HHI ≥ 1/distinct always and HHI ≥ top_share² — a max_hhi below
    1/expected-cardinality is unsatisfiable by construction, and that
    judgment is the spec author's.

    ``group_by`` evaluates the bounds PER GROUP — the broken-feed
    detector a global gate dilutes away (a source at 5% of the corpus
    emitting one caption for every image is invisible globally but 100%
    dominant within its group). The grouped path is pure frame algebra:
    per-(group, value) counts → per-group 1-row stats → violation rows,
    never a driver collect, so 10^8 groups cost shuffle rows, not
    memory; one violation row per (group, exceeded bound), the group key
    rendered into image_id exactly like grouped CountRule. Groups with
    zero in-scope rows but surviving NULL rows are loudly unmeasurable;
    groups entirely absent from the table have no row at all (absence
    detection is CountRule.universe's contract). Grouped mode emits no
    metric rows (O(groups) metrics belong in a report, not the run's
    metric frame — use operators/skew.py concentration_by_group)."""

    column: str = ""
    max_top_share: float | None = None  # share of the single hottest value
    max_hhi: float | None = None  # Herfindahl–Hirschman index of shares
    min_rows: int = 1
    group_by: tuple = ()  # () = whole table; else bounds hold per group
    when: str = ""  # optional row-scope predicate (see NotNullRule.when)
    # incremental=True switches to MERGEABLE PER-PARTITION value-count
    # partials (the BenfordRule.incremental pattern, keyed by value
    # instead of digit): each validated batch persists one row per
    # (partition, value) under the checkpoint; the finalize pass merges
    # by summation WITHOUT rescanning the table — bit-identical to the
    # full scan because both paths feed the same merged counts into the
    # same reduction (operators/skew.py _concentration_scan_counts).
    # Partials cost O(partitions × distinct values): right for the
    # enumerable columns this rule targets, wrong for id-like ones —
    # that judgment is the spec author's. Not combinable with group_by
    # (compile refuses; grouped partials would key on (group, value)).
    incremental: bool = False
    kind: str = field(default="concentration", init=False)
    stage = "group"

    def lint(self, schema) -> None:
        super().lint(schema)
        if not self.column:
            raise SchemaError(
                f"rule {self.id!r}: concentration rule needs a column"
            )
        if self.max_top_share is None and self.max_hhi is None:
            raise SchemaError(
                f"rule {self.id!r}: concentration rule needs max_top_share "
                "and/or max_hhi — with neither bound set the rule can "
                "never fire"
            )
        for nm, b in (
            ("max_top_share", self.max_top_share),
            ("max_hhi", self.max_hhi),
        ):
            if b is not None and not (0.0 < b <= 1.0):
                raise SchemaError(
                    f"rule {self.id!r}: {nm} must be in (0, 1] (a share), "
                    f"got {b}"
                )
        if self.min_rows < 1:
            raise SchemaError(
                f"rule {self.id!r}: min_rows must be >= 1, got {self.min_rows}"
            )
        if self.column in self.group_by:
            raise SchemaError(
                f"rule {self.id!r}: column {self.column!r} cannot also be a "
                "group_by key — every group would be perfectly "
                "concentrated by construction"
            )
        if self.incremental and self.group_by:
            raise SchemaError(
                f"rule {self.id!r}: incremental concentration does not "
                "support group_by (partials are keyed per value; "
                "grouped partials would need (group, value) keys)"
            )

    def targets(self):
        return (self.column, *self.group_by)


@dataclass(frozen=True)
class EmbeddingHealthRule(Rule):
    """Encoder-health gate on an ``array<float>`` embedding column: the
    corpus-level matrix statistics (operators/similarity.py
    embedding_health / embedding_anisotropy) must stay inside declared
    bounds — at most ``max_dead_dims`` dimensions with ~zero variance
    (a stuck projection row, a truncated checkpoint, fp16 underflow) and
    anisotropy (‖mean vector‖ / mean row norm) at most ``max_anisotropy``
    (→ 1 = the encoder collapsed every input toward one direction).
    VectorRule gates each ROW's shape; this rule gates the MATRIX the rows
    form — a corpus where every vector is individually valid can still be
    useless for training. At least one bound must be set (compile lint).

    Evaluated at finalize over the whole table: ONE full scan folded into
    a single map-side-combined aggregation row (2·dim conditional sums,
    ``dim`` ≤ 512 loudly bounded), O(dim) driver math — the BenfordRule
    plan shape on a wider row. Rows with NULL / wrong-dimension /
    non-finite vectors are EXCLUDED from the statistics (VectorRule owns
    flagging them) but counted and reported in the metrics.

    Degenerate contract (BenfordRule precedent): fewer than ``min_rows``
    usable vectors is a VIOLATION ('unmeasurable'), never a silent pass.
    ``dead_eps`` compares the 6dp-ROUNDED per-dimension variance, so the
    verdict is engine-reproducible."""

    column: str = ""
    dim: int = 0  # required: vector dimensionality (unrolls the aggregation)
    max_dead_dims: Optional[int] = None
    max_anisotropy: Optional[float] = None
    dead_eps: float = 0.0
    min_rows: int = 1000
    when: str = ""  # optional row-scope predicate (see NotNullRule.when)
    # incremental=True switches to MERGEABLE PER-PARTITION matrix partials
    # (the BenfordRule.incremental pattern on a wider row): each validated
    # batch persists one row per partition with its usable/excluded counts,
    # per-dimension sum + sum-of-squares, and row-norm sum (2·dim+3 small
    # values) under the checkpoint; the finalize pass merges by summation
    # WITHOUT rescanning the table. Unlike Benford's integer counts these
    # are DOUBLE sums, so merged totals can differ from the one-pass scan
    # in the last floating-point bits (addition order); every reported
    # statistic is rounded at 6 dp before any verdict, and batch-merged ≡
    # full-scan is test-locked (operators/similarity.py
    # embedding_health_partials).
    incremental: bool = False
    kind: str = field(default="embedding_health", init=False)
    stage = "group"

    def lint(self, schema) -> None:
        from .operators.similarity import _HEALTH_DIM_MAX

        super().lint(schema)
        if not self.column:
            raise SchemaError(
                f"rule {self.id!r}: embedding_health rule needs a column"
            )
        # dim <= 512 runs as one unrolled codegen'd aggregation;
        # wider (768/1024/1536-class encoders) dispatches to the
        # Arrow-kernel wide path — both one-scan. Beyond the absolute
        # cap the column is not an embedding axis; refuse loudly.
        if not 1 <= self.dim <= _HEALTH_DIM_MAX:
            raise SchemaError(
                f"rule {self.id!r}: dim must be in [1, {_HEALTH_DIM_MAX}]"
                f", got {self.dim}"
            )
        if self.max_dead_dims is None and self.max_anisotropy is None:
            raise SchemaError(
                f"rule {self.id!r}: embedding_health rule needs "
                "max_dead_dims and/or max_anisotropy — with neither "
                "bound set the rule can never fire"
            )
        if self.max_dead_dims is not None and not 0 <= self.max_dead_dims <= self.dim:
            raise SchemaError(
                f"rule {self.id!r}: max_dead_dims must be in [0, dim="
                f"{self.dim}], got {self.max_dead_dims}"
            )
        # anisotropy = ||mean vec|| / mean norm <= 1 by the triangle
        # inequality — a bound above 1 is unsatisfiable-proof vacuity
        if self.max_anisotropy is not None and not 0.0 < self.max_anisotropy <= 1.0:
            raise SchemaError(
                f"rule {self.id!r}: max_anisotropy must be in (0, 1], "
                f"got {self.max_anisotropy}"
            )
        if self.min_rows < 1:
            raise SchemaError(
                f"rule {self.id!r}: min_rows must be >= 1, got {self.min_rows}"
            )
        _require_type(
            self, schema, self.column, ArrayType,
            "column {column} must be an array type for an embedding_health "
            "rule, got {got}",
        )

    def targets(self):
        return (self.column,)


@dataclass(frozen=True)
class FreshnessRule(Rule):
    """Staleness bound on a timestamp column: ``max(column)`` must lie
    within ``max_age_seconds`` of ``as_of`` — the data-recency contract an
    ingestion pipeline checks before trusting a table ("every feed must
    have produced rows in the last hour").

    ``as_of`` is an EXPLICIT ISO timestamp, required: the engine never
    reads the wall clock, so a resumed or replayed run re-evaluates the
    identical rule (the same determinism discipline as the manifest
    checkpoint — reference runs are replayable byte-for-byte,
    validator.rs:161-168). Callers pass their batch watermark / job
    trigger time.

    ``group_by`` reports staleness PER GROUP (each source/feed checked
    independently); a group whose ``column`` is all NULL reports "no
    non-null timestamps". A group with NO rows never appears — enumerate
    expected groups with CountRule(universe=...) for absence detection.
    One aggregation, mergeable max per group — scale-trivial."""

    column: str = ""
    max_age_seconds: int = 0
    as_of: str = ""  # ISO timestamp (e.g. "2024-01-31 00:00:00")
    group_by: tuple[str, ...] = ()
    when: str = ""  # optional row-scope predicate (see NotNullRule.when)
    kind: str = field(default="freshness", init=False)
    stage = "group"

    def lint(self, schema) -> None:
        super().lint(schema)
        if not self.column:
            raise SchemaError(f"rule {self.id!r}: freshness rule needs a column")
        if self.max_age_seconds < 0:
            raise SchemaError(
                f"rule {self.id!r}: max_age_seconds must be >= 0, "
                f"got {self.max_age_seconds}"
            )
        if not self.as_of:
            raise SchemaError(
                f"rule {self.id!r}: freshness needs an explicit as_of "
                "timestamp — the engine never reads the wall clock "
                "(determinism/replay); pass the batch watermark"
            )
        try:
            datetime.fromisoformat(self.as_of)
        except ValueError as e:
            raise SchemaError(
                f"rule {self.id!r}: as_of {self.as_of!r} is not an ISO "
                f"timestamp: {e}"
            ) from e

    def targets(self):
        return (self.column, *self.group_by)


@dataclass(frozen=True)
class VolumeRule(Rule):
    """Per-partition VOLUME anomaly as a spec rule, priced at ZERO extra
    scans: at finalize the engine judges the manifest's per-partition
    validated row counts (already recorded for resume lineage) against the
    table's own partition-size distribution with the robust MAD envelope of
    ``operators.skew.volume_anomaly``:

        center = median(partition row count)
        flag when |count − center| > max(abs_tol, k · 1.4826 · MAD)

    This is the ingestion contract the reference's per-file watch loop
    enforces implicitly (a file that stops growing or doubles is visible in
    its revalidation cadence, cmd.rs watch mode): a starved partition means
    a dead upstream shard, a doubled one a replayed ingest — caught from
    metadata the run already paid for.

    ZERO-row partitions: with ENGINE-derived hash partitioning
    (pmod(xxhash64(key), n)) every id in range(n) gets a manifest entry, so
    an empty partition IS visible as an under_volume of the worst kind.
    With DATA-derived ids (``spec.partition_column`` or a pre-existing
    ``partition_id`` column — the date-partition/dead-shard case) the ids
    are discovered by a distinct scan of the data, so a WHOLLY-missing
    partition never appears and is invisible to the envelope. For that case
    set ``universe``: the name of a dims table (the run's ``dims`` dict)
    whose ``universe_column`` (default: the partition column) enumerates
    every expected partition id; ids in the universe but absent from the
    manifest are emitted unconditionally as under_volume violations
    (actual = "missing") — absence is a fact, not an outlier, so it does
    not depend on the MAD envelope or ``min_partitions``. (CountRule's
    ``universe`` is the same idea at group granularity.)

    With fewer than ``min_partitions`` counted partitions the distribution
    has no meaningful center and the ENVELOPE emits nothing (same contract
    as the operator); the universe absence check still runs. The math runs
    on the driver over O(#partitions) manifest entries — thousands of dict
    entries at 10^12 rows, never a Spark job (the universe enumeration is
    one distinct on a dim keyed by partition id — O(#partitions) rows).
    """

    k: float = 3.0
    abs_tol: float = 0.0
    min_partitions: int = 4
    universe: str = ""  # dims table enumerating expected partition ids
    universe_column: str = ""  # its id column; default = the partition col
    kind: str = field(default="volume", init=False)
    stage = "group"

    def lint(self, schema) -> None:
        super().lint(schema)
        if self.k <= 0:
            raise SchemaError(f"rule {self.id!r}: k must be > 0, got {self.k}")
        if self.abs_tol < 0:
            raise SchemaError(
                f"rule {self.id!r}: abs_tol must be >= 0, got {self.abs_tol}"
            )
        if self.min_partitions < 2:
            raise SchemaError(
                f"rule {self.id!r}: min_partitions must be >= 2 "
                "(one partition has no distribution)"
            )
        if self.universe_column and not self.universe:
            raise SchemaError(
                f"rule {self.id!r}: universe_column without universe is "
                "vacuous — name the dims table enumerating expected "
                "partition ids"
            )


# --------------------------------------------------------- referential rules


@dataclass(frozen=True)
class RefIntegrityRule(Rule):
    """Every value of ``column`` must exist in dimension table ``dim_name``
    column ``dim_column``. Evaluated as a left-anti join.

    ``broadcast_dim=True`` (default) forces a broadcast of the deduplicated
    dimension keys — zero shuffle of the fact table, correct for the usual
    small dims (format domains, source registries). Set ``broadcast_dim=
    False`` for a HUGE dimension (a 10^9-key registry cannot be broadcast:
    driver memory + the 8 GB broadcast-table limit) — the join is left
    unhinted so AQE picks the strategy from the runtime sizes (sort-merge /
    shuffled-hash with skew splitting, or broadcast anyway if the deduped
    keys turn out small)."""

    column: str = ""
    dim_name: str = ""
    dim_column: str = ""
    broadcast_dim: bool = True
    when: str = ""  # optional row-scope predicate (see NotNullRule.when)
    # COMPOSITE foreign key: ``columns``/``dim_columns`` (same length, ≥2)
    # check the TUPLE against the dimension's key tuple — (nation, region)
    # must exist as a pair, not each column independently. Mutually
    # exclusive with the singular column/dim_column form (compile-checked).
    # SQL FK NULL semantics: a composite key with ANY NULL component is
    # skipped (constraint not enforced — NotNullRule's job).
    columns: tuple[str, ...] = ()
    dim_columns: tuple[str, ...] = ()
    kind: str = field(default="ref", init=False)
    stage = "ref"

    def lint(self, schema) -> None:
        super().lint(schema)
        if self.columns and (self.column or self.dim_column):
            raise SchemaError(
                f"rule {self.id!r}: give either column/dim_column or "
                "columns/dim_columns, not both"
            )
        if self.columns and len(self.columns) != len(self.dim_columns):
            raise SchemaError(
                f"rule {self.id!r}: columns ({len(self.columns)}) and "
                f"dim_columns ({len(self.dim_columns)}) must pair up"
            )
        if not self.columns and not self.column:
            raise SchemaError(
                f"rule {self.id!r}: ref rule needs column or columns"
            )

    def fact_keys(self) -> tuple[str, ...]:
        return self.columns or (self.column,)

    def dim_keys(self) -> tuple[str, ...]:
        return self.dim_columns or (self.dim_column,)

    def targets(self):
        return self.fact_keys()


# ------------------------------------------------------------ metric rules


@dataclass(frozen=True)
class ColumnStatsRule(Rule):
    """Metrics only (no pass/fail): count, null-rate, min, max, distinct
    cardinality, and optional quantiles (the w/h/caption-length profile the
    north rule asks for). Cardinality via HLL sketch (approx_count_distinct)
    by default; exact_distinct=True for small-scale oracle parity.

    ``quantiles`` (e.g. ``(0.5, 0.95, 0.99)``) adds one metric per requested
    quantile, named ``p50``/``p95``/``p99``. Default evaluation is
    approx_percentile — a mergeable quantile sketch (constant memory per
    column at any scale, the t-digest role); ``exact_quantiles=True`` uses
    the exact percentile aggregate for oracle parity at fixture scale."""

    column: str = ""
    exact_distinct: bool = False
    quantiles: tuple[float, ...] = ()
    exact_quantiles: bool = False
    # incremental=True switches this rule to MERGEABLE PER-PARTITION
    # PARTIALS: each validated batch emits one row per partition with
    # count / non-null / native-typed min / max and a Datasketches HLL
    # sketch binary (hll_sketch_agg), persisted under the checkpoint; the
    # global pass merges partials (sum / min / max / hll_union_agg →
    # hll_sketch_estimate) WITHOUT rescanning the table. On a resumed
    # 10^12-row run where one partition arrived, the stats cost is one
    # partition's scan plus an O(#partitions) merge — the north rule's
    # "HLL sketches merged" demand made concrete. ``quantiles`` rides the
    # partials too, as a persistable mergeable KLL quantile sketch
    # (kll_sketch_agg_* / kll_sketch_merge_* — the t-digest role with an
    # on-disk representation); numeric columns only. Incompatible with
    # exact_distinct/exact_quantiles (compile-checked): exact aggregates
    # are not mergeable from partials.
    incremental: bool = False
    # HLL precision (Datasketches lgConfigK): 12 → ~4 KB/sketch, ~1.6%
    # stderr; sparse mode is EXACT for low-cardinality columns
    lg_config_k: int = 12
    # KLL quantile-sketch size parameter k: 200 → ~1.65% rank error,
    # O(k·log n) bytes per partition sketch
    kll_k: int = 200
    # moments=True adds mean and (sample) stddev metrics; numeric columns
    # only (checked at compile). Mergeable on the incremental-partials
    # path as exact (count, sum, sum-of-squares) partials — merging
    # partials reproduces the full-scan numbers bit-for-bit modulo
    # float summation order.
    moments: bool = False
    # top_values=k adds exact frequent-value metrics top_1..top_k
    # (value_str = the value, value = its count; ties broken by value
    # ascending). entropy=True adds the exact Shannon entropy (natural log)
    # of the column's value distribution, NULLs excluded — a
    # concentration/imbalance signal (fmt collapsed to one codec, a label
    # column gone degenerate) that min/max/distinct can't see. Both ride
    # ONE shared groupBy((rule, value)) pass across all requesting rules:
    # map-side partial aggregation collapses hot values before the shuffle,
    # the per-rule top-k is a TakeOrdered heap, never a full sort. Not
    # available with incremental=True (compile-checked): exact top-k /
    # entropy are not boundedly mergeable — approximate mergeable analogs
    # live in operators/skew.py (CMS heavy hitters).
    top_values: int = 0
    entropy: bool = False
    # optional row-scope predicate (see NotNullRule.when): profile only the
    # in-scope sub-population ("width stats among fmt='png'"). Implemented
    # as conditional aggregation — out-of-scope rows become NULL inputs the
    # aggregates already skip — so scoped and unscoped rules still fuse
    # into ONE aggregation pass (full-scan AND incremental-partials paths).
    when: str = ""
    kind: str = field(default="stats", init=False)
    stage = "stats"

    # metric-only rules never emit violations — a tolerance on them is
    # vacuous and almost certainly a spec mistake
    rate_refusal = (
        "max_violation_rate is meaningless on a metric-only rule (it emits "
        "no violations)"
    )

    def lint(self, schema) -> None:
        super().lint(schema)
        if self.incremental and (self.exact_distinct or self.exact_quantiles):
            # incremental stats merge persisted per-partition partials —
            # exact aggregates are not mergeable; keep exact modes on the
            # full-scan path via a separate non-incremental rule.
            # (quantiles ARE supported incrementally: KLL sketch partials.)
            raise SchemaError(
                f"rule {self.id!r}: incremental stats are sketch-based "
                "(HLL cardinality, KLL quantiles) — exact_distinct and "
                "exact_quantiles need the full-scan path"
            )
        if self.incremental and (self.top_values or self.entropy):
            # exact top-k / entropy partials are O(distinct values) per
            # partition — persisting them at key-like cardinality is the
            # table again, so they stay on the full-scan path; the
            # mergeable approximations are CMS heavy hitters (skew.py)
            raise SchemaError(
                f"rule {self.id!r}: top_values/entropy are exact value-"
                "distribution metrics — full-scan path only (the mergeable "
                "analog is the CMS heavy-hitter sketch in skew_stats)"
            )
        if self.top_values < 0:
            raise SchemaError(f"rule {self.id!r}: top_values must be >= 0")
        if self.moments:
            _require_numeric(self, schema, "moments")

    def targets(self):
        return (self.column,)


#: metric names MetricBoundRule can bound (besides p<q> quantiles)
BOUNDABLE_METRICS = (
    "count", "null_rate", "distinct", "mean", "stddev", "min", "max",
)
#: metrics that only make sense on a numeric column (checked at compile
#: against a typed schema; count/null_rate/distinct work on any type)
NUMERIC_BOUND_METRICS = ("mean", "stddev", "min", "max")


def parse_bound_metric(metric: str):
    """('simple', name) for a named aggregate, ('quantile', q) for a
    ``p<q>`` percentile (q as a fraction in (0, 1)); raises ValueError on
    anything else — compile_spec turns that into a SchemaError before any
    job runs."""
    if metric in BOUNDABLE_METRICS:
        return ("simple", metric)
    import re as _re

    m = _re.fullmatch(r"p(\d+(?:\.\d+)?)", metric)
    if m:
        q = float(m.group(1))
        if 0.0 < q < 100.0:
            return ("quantile", q / 100.0)
    raise ValueError(
        f"unknown metric {metric!r}: expected one of {BOUNDABLE_METRICS} "
        "or p<q> with 0 < q < 100 (e.g. p95, p99.9)"
    )


@dataclass(frozen=True)
class MetricBoundRule(Rule):
    """Assert BOUNDS on an aggregate metric of a column — the constraint
    layer over the profiling layer: ``ColumnStatsRule`` reports metrics,
    this rule JUDGES one ("null_rate(caption) <= 0.01", "p95(w) <= 2048",
    "distinct(fmt) in [1, 3]"). Reference lineage: the ``{min,max}``
    extras the reference enforces on repeated-list lengths
    (matcher_extras.rs:129-157, lists.rs:168-264), generalized from counts
    to any column-level aggregate — the step that turns the north rule's
    per-column stats from passive numbers into gates a run can fail on.

    ``metric``: count | null_rate | distinct | mean | stddev | min | max |
    p<q> (e.g. ``p95``, ``p99.9``). At least one bound required; open ends
    allowed. ``when`` scopes the aggregate to a sub-population via the
    same conditional-aggregation gate as scoped stats.

    A metric that evaluates to NULL against a lower/upper demand (e.g.
    mean over zero in-scope rows) is reported as a violation with actual
    'no value' — missing data is loud, never a silent pass (same contract
    as drift's empty-side handling).

    Scale: ALL metric-bound rules in a spec fuse into ONE aggregation pass
    (shuffle-free partial + final agg, 1-row result); the bound comparison
    is column algebra over that single row. ``exact=False`` (default)
    evaluates distinct / quantiles with mergeable sketches
    (approx_count_distinct / approx_percentile) — constant memory at any
    scale; ``exact=True`` for small-scale oracle parity."""

    column: str = ""
    metric: str = "null_rate"
    min: Optional[float] = None
    max: Optional[float] = None
    exact: bool = False
    when: str = ""  # optional row-scope predicate (see NotNullRule.when)
    #: assert the bound of EVERY group of this column ("p95(w) <= 2048 for
    #: every source") — the per-partition pass/fail posture on arbitrary
    #: keys. Each offending group is one violation row (image_id = group
    #: key; NULL keys group as "__null__"); metrics stay bounded as
    #: groups_total / groups_violated per rule instead of O(groups) rows.
    #: Rules sharing a group_by fuse into one groupBy pass.
    group_by: str = ""
    kind: str = field(default="metric_bound", init=False)
    stage = "metric_bound"

    # ≤ one violation per rule regardless of table size — a per-row rate
    # tolerance has no denominator here
    rate_refusal = (
        "max_violation_rate does not apply to metric bounds "
        "(aggregate-level, not per-row)"
    )

    def lint(self, schema) -> None:
        super().lint(schema)
        try:
            family, _q = parse_bound_metric(self.metric)
        except ValueError as e:
            raise SchemaError(f"rule {self.id!r}: {e}") from e
        if self.min is None and self.max is None:
            # a bound rule with no bound checks nothing — reject the
            # vacuity (ColumnStatsRule is the report-only form)
            raise SchemaError(
                f"rule {self.id!r}: metric bound needs min and/or max "
                "(metrics without bounds belong on ColumnStatsRule)"
            )
        if self.min is not None and self.max is not None and self.min > self.max:
            raise InvalidBoundsError(self.id, self.min, self.max)
        if family == "quantile" or self.metric in NUMERIC_BOUND_METRICS:
            _require_numeric(self, schema, self.metric)

    def targets(self):
        return (self.column, self.group_by) if self.group_by else (self.column,)


@dataclass(frozen=True)
class CaptureRule(Rule):
    """Capture-only rule: extract a regex group from ``column`` per row and
    accumulate the matched values as an ORDERED array per partition — the
    matches-JSON analog (reference: validator.rs:33-36, README.md:216-244 —
    repeated matchers accumulate arrays in document order; join_values
    merges them, utils.rs:8-20). No pass/fail; output rows land in the
    metrics table with value_str = JSON array of captures ordered by
    ``order_column`` (default: the spec key), value = capture count.

    Scale note: one groupBy(partition_id) with sort_array(collect_list) —
    the per-partition capture array lives in ONE aggregation buffer, so it
    must fit a single task's heap (budget ≈ partition row count × match
    rate × capture width). When captures per partition are unbounded, use
    ``agg_rules.capture_rows`` (same ordering via a sort-based window that
    spills, one row per capture) or ColumnStatsRule (sketches) instead."""

    column: str = ""
    pattern: str = ""
    group: int = 1
    order_column: str | None = None  # None → spec.key_column
    # optional NESTED capture (the arrays-of-objects shape of nested list
    # captures, reference lists.rs:318-390): values first accumulate per
    # (partition, group_by) in order, then the groups themselves accumulate
    # per partition as an ordered array of {group, values} objects
    group_by: tuple[str, ...] = ()
    # as_rows=True routes the rule through the SPILL-SAFE executor
    # (agg_rules.capture_rows): one metrics row per capture with an explicit
    # per-partition rank (metric='capture_row', value=rank, value_str=the
    # capture — grouped rules JSON-wrap {group, value}), instead of one
    # collect_list array per partition. Same document-order guarantee via a
    # sort-based window that spills; choose it when captures per partition
    # are unbounded (the 100x-safe variant, reachable from a spec).
    as_rows: bool = False
    kind: str = field(default="capture", init=False)
    stage = "capture"

    rate_refusal = ColumnStatsRule.rate_refusal

    def lint(self, schema) -> None:
        super().lint(schema)
        compiled = _compile_regex(self.id, self.pattern)
        if self.group < 0 or self.group > compiled.groups:
            raise SchemaError(
                f"rule {self.id!r}: capture group {self.group} not in pattern "
                f"({compiled.groups} group(s))"
            )

    def targets(self):
        return (
            (self.column,)
            + ((self.order_column,) if self.order_column else ())
            + self.group_by
        )


@dataclass(frozen=True)
class SequenceStep:
    """One chained matcher in a SequenceRule: ``pattern`` with repetition
    bounds (reference: a `` `id:/re/`{m,n} `` list item, lists.rs:63-88)."""

    pattern: str = ""
    min: int = 1
    max: int | None = 1


@dataclass(frozen=True)
class SequenceRule(Rule):
    """Ordered disjoint consumption — the reference's largest operator
    (ListVsList, lists.rs:92-511): within each ``group_by`` group, rows
    ordered by ``order_column`` are consumed by the chained ``steps`` in
    order, each step claiming a consecutive run whose values must match its
    pattern.

    Exactly like the reference, every step before the last must be
    fixed-length (min == max); a variable-length step anywhere else is a
    compile-time SchemaError (RepeatingMatcherUnbounded, lists.rs:151-162).
    Violations: content mismatches per row (kind=matcher) and per-group
    count violations when the group is too short for the fixed prefix or
    the tail run leaves the last step's [min, max] (ChildrenLengthMismatch /
    WrongListCount, lists.rs:168-264).

    Spark shape: ONE window (row_number + count over the group) then a fused
    per-row segment check — the single place a window function is
    load-bearing (SURVEY.md §7)."""

    column: str = ""
    group_by: tuple[str, ...] = ()
    order_column: str = ""
    steps: tuple[SequenceStep, ...] = ()
    kind: str = field(default="sequence", init=False)
    stage = "group"

    def lint(self, schema) -> None:
        super().lint(schema)
        if not self.steps:
            raise SchemaError(f"rule {self.id!r}: sequence needs >=1 step")
        if not self.group_by or not self.order_column:
            raise SchemaError(
                f"rule {self.id!r}: sequence needs group_by and order_column"
            )
        for i, s in enumerate(self.steps):
            _compile_regex(self.id, s.pattern)
            if s.min < 0 or (s.max is not None and s.max < s.min):
                raise InvalidBoundsError(self.id, s.min, s.max)
            # a variable-length step anywhere but last is unresolvable —
            # RepeatingMatcherUnbounded (lists.rs:151-162)
            if i < len(self.steps) - 1 and (s.max is None or s.max != s.min):
                raise SchemaError(
                    f"rule {self.id!r}: step {i} is variable-length "
                    f"({s.min},{s.max}) — only the LAST step may be"
                )

    def targets(self):
        return (self.column, self.order_column, *self.group_by)


@dataclass(frozen=True)
class SchemaRule(Rule):
    """Runtime schema-drift check: the DataFrame's ACTUAL schema vs the
    declared expected (column → dtype) mapping, reported as violation rows —
    one per drifted column — with kinds missing_column / extra_column /
    dtype_mismatch.

    The reference analog is MalformedNodeStructure (errors.rs:320-397 —
    missing/extra child discovered while walking) and the arity mismatch in
    the NodeVsNode dispatcher (nodes.rs:174-221): structure drift is DATA
    failing a valid rule, not a compile error, so it lands in the violations
    table instead of raising. (Compile-time UnknownColumnError still rejects
    specs whose VALUE rules target absent columns.)

    ``expected`` maps column name → Spark dtype simpleString (e.g. "bigint",
    "double", "string", "struct<w:int>"); nested drift is covered because the
    simpleString of a struct spells out its full shape. ``allow_extra=True``
    skips the extra-column family (open-content tables)."""

    expected: tuple[tuple[str, str], ...] = ()
    allow_extra: bool = False
    kind: str = field(default="schema", init=False)
    stage = "schema"

    # schema drift is metadata-level (≤ one violation per column,
    # denominator-free) and fast-fails before any scan
    rate_refusal = (
        "max_violation_rate does not apply to schema rules "
        "(metadata-level, not per-row)"
    )

    def lint(self, schema) -> None:
        super().lint(schema)
        if not self.expected:
            raise SchemaError(f"rule {self.id!r}: schema rule needs >=1 expected column")
        names = [n for n, _ in self.expected]
        if len(names) != len(set(names)):
            raise SchemaError(f"rule {self.id!r}: duplicate column in expected schema")

    def targets(self):
        # validated against df.schema metadata, never against row values —
        # naming absent columns here is the POINT, so no compile target check
        return ()


# ------------------------------------------------------------- global rules


@dataclass(frozen=True)
class OverlapRule(Rule):
    """Distinct-set overlap bound between shard pairs: violation when two
    groups share more than ``max_jaccard`` of their distinct ``column``
    values (or more than ``max_common`` absolute common values). The
    leaky-split / duplicated-ingestion constraint a training pipeline runs
    before a shard ships — no reference analog (single-document engine);
    extends the north rule's between-partition drift checks from value
    distributions to distinct-set identity.

    Scale shape (operators/overlap.py): one theta sketch per group from a
    single scan, i<j pair stage over P sketch rows in column algebra —
    exact below sketch retention (~2^lg_k distinct per group), published
    theta error above. Runs in finalize (global stage). ``max_groups``
    bounds the P² pair stage with a loud refusal."""

    column: str = ""
    group_column: str = "partition_id"
    max_jaccard: float | None = None
    max_common: float | None = None
    lg_k: int = 12
    max_groups: int = 256
    kind: str = field(default="overlap", init=False)
    stage = "group"

    def lint(self, schema) -> None:
        super().lint(schema)
        if self.max_jaccard is None and self.max_common is None:
            raise SchemaError(
                f"rule {self.id!r}: overlap rule needs max_jaccard and/or "
                "max_common"
            )
        if self.max_jaccard is not None and not (0.0 <= self.max_jaccard <= 1.0):
            raise SchemaError(
                f"rule {self.id!r}: max_jaccard must be in [0, 1], "
                f"got {self.max_jaccard}"
            )
        if self.max_common is not None and self.max_common < 0:
            raise SchemaError(
                f"rule {self.id!r}: max_common must be >= 0, got {self.max_common}"
            )

    def targets(self):
        cols = (self.column,)
        if self.group_column and self.group_column != "partition_id":
            cols += (self.group_column,)
        return cols


@dataclass(frozen=True)
class DriftRule(Rule):
    """Distribution drift of ``column`` between a probe group and the rest.

    ``group_column``/``group_value`` select the probe slice. method: 'ks'
    (two-sample Kolmogorov-Smirnov over a binned ECDF) or 'psi' (population
    stability index over the same bins). Violation when statistic > threshold.

    ``expr`` (optional SQL expression, e.g. ``length(caption)``) replaces the
    raw column as the drifting quantity — the caption-length profile of the
    north rule without materializing a derived column. ``categorical=True``
    switches from quantile bins to CATEGORY FREQUENCIES (the fmt profile):
    "bins" are the reference slice's top ``n_bins`` categories by frequency
    plus an __other__ bucket, so cardinality explosions cannot blow up the
    driver; KS is order-dependent and meaningless over nominal categories,
    so categorical rules must use psi.
    """

    column: str = ""
    group_column: str = ""
    group_value: str = ""
    method: str = "psi"  # 'psi' | 'ks'
    threshold: float = 0.2
    n_bins: int = 32
    # exact_edges=True derives bin edges from the exact percentile aggregate
    # (deterministic, cross-engine reproducible — used for oracle parity);
    # default False uses the approxQuantile sketch (the scale path)
    exact_edges: bool = False
    expr: str | None = None
    categorical: bool = False
    # sweep_by replaces the single probe-vs-rest comparison with a PER-GROUP
    # SWEEP (the north rule's "KS/PSI tests between partitions"): every
    # distinct value of ``sweep_by`` (e.g. partition_id) is compared against
    # the rest of the table (leave-one-out), all from ONE histogram pass.
    # Mutually exclusive with group_column/group_value.
    sweep_by: str | None = None
    # reference names a dimension frame (the ``dims`` dict handed to
    # ValidationRun — same plumbing as RefRule.dim_name / CountRule.universe)
    # holding a separate REFERENCE TABLE (yesterday's snapshot, a golden
    # sample): the rule then compares the CANDIDATE input's whole-table
    # distribution against the reference table's (two-table dataset-shift
    # detection) instead of a probe slice against the rest. Mutually
    # exclusive with group_column/group_value; COMBINES with sweep_by —
    # reference + sweep_by compares every group's candidate distribution
    # against the reference's SAME group (drift_sweep_vs_reference: the
    # per-source shift audit), with missing groups loud on both sides.
    reference: str | None = None
    # incremental=True (sweep rules only, compile-checked) switches the
    # sweep to MERGEABLE HISTOGRAM PARTIALS: bin edges FREEZE on the first
    # validated batch (persisted under the checkpoint — bins only set the
    # comparison's resolution; every group is compared on the same bins),
    # each batch emits per-(partition, group, bin) counts, and finalize
    # merges counts instead of rescanning the table — the drift analog of
    # ColumnStatsRule.incremental. A resumed 10^12-row run pays one new
    # partition's histogram, never the full-table pass.
    incremental: bool = False
    kind: str = field(default="drift", init=False)
    stage = "drift"

    def lint(self, schema) -> None:
        super().lint(schema)
        if self.method not in ("ks", "psi"):
            raise SchemaError(f"rule {self.id!r}: unknown drift method {self.method!r}")
        if self.categorical and self.method != "psi":
            # KS is a statement about an ORDERED ECDF; category order is
            # arbitrary, so a categorical KS statistic would silently depend
            # on the reference frequency ranking — reject at compile
            raise SchemaError(
                f"rule {self.id!r}: categorical drift requires method='psi'"
            )
        if self.expr and self.column:
            raise SchemaError(
                f"rule {self.id!r}: give either column or expr, not both"
            )
        if not self.expr and not self.column:
            raise SchemaError(
                f"rule {self.id!r}: drift rule needs a column or an expr"
            )
        if self.sweep_by and (self.group_column or self.group_value):
            # a sweep compares EVERY group against the rest — a probe slice
            # selection contradicts it and would be silently ignored
            raise SchemaError(
                f"rule {self.id!r}: sweep_by is mutually exclusive with "
                "group_column/group_value"
            )
        if self.reference and (self.group_column or self.group_value):
            # two-table drift compares against the reference table: a probe
            # slice selection would be silently ignored — reject at compile.
            # (reference + sweep_by IS meaningful: every group's candidate
            # distribution vs the reference's SAME group — routed to
            # drift_sweep_vs_reference in finalize.)
            raise SchemaError(
                f"rule {self.id!r}: reference (two-table drift) is mutually "
                "exclusive with group_column/group_value"
            )
        if self.reference and self.incremental:
            # incremental partials accumulate the CANDIDATE's histograms
            # across batches; the reference side is a separate table read
            # fresh each finalize — the combination has no partials story
            raise SchemaError(
                f"rule {self.id!r}: incremental drift does not combine with "
                "reference (two-table) comparison"
            )
        if not self.sweep_by and not self.group_column and not self.reference:
            raise SchemaError(
                f"rule {self.id!r}: drift rule needs group_column (probe vs "
                "rest), sweep_by (per-group sweep), or reference "
                "(two-table drift)"
            )
        if self.incremental and not self.sweep_by:
            raise SchemaError(
                f"rule {self.id!r}: incremental drift is the per-group sweep "
                "over mergeable histogram partials — set sweep_by"
            )
        if self.expr:  # opaque to the column lint: analyze it
            _analyze_expr(self, schema, self.expr, "drift expr")

    def targets(self):
        # with expr the drifting quantity is a SQL expression — its inputs
        # are resolved by the analyzer at run time, not the compile lint
        grp = (self.sweep_by,) if self.sweep_by else (self.group_column,)
        if self.expr:
            return grp
        return (self.column, *grp)


def _lint_sample_rate(r: Rule) -> None:
    # lower bound 1e-6: the kernel's sample threshold is integer
    # micro-units, so a smaller rate rounds to ZERO kept rows — a
    # gate that can never fire while claiming a sampled verdict
    if not 1e-6 <= r.sample_rate <= 1:
        raise SchemaError(
            f"rule {r.id!r}: sample_rate must be in [1e-6, 1], got "
            f"{r.sample_rate} (1.0 decodes every row; the sample "
            "threshold has micro-unit resolution)"
        )


@dataclass(frozen=True)
class PixelRule(Rule):
    """Decode the binary payload in vectorized batches and verify:
    (a) decoded dims == (w, h), (b) decoded format == fmt,
    (c) PSNR vs the deterministic reference image ≥ psnr_min for lossy
        formats, exact for lossless,
    (d) recomputed phash == phash column.
    Runs as an Arrow-batched mapInPandas stage — never per-row Python
    (input_hint mandate)."""

    bytes_column: str = "bytes"
    w_column: str = "w"
    h_column: str = "h"
    fmt_column: str = "fmt"
    phash_column: str = "phash"
    psnr_min: float = 40.0
    # Deterministic content-keyed decode sampling: decode only rows whose
    # key hash falls under the rate (1.0 = every row). At 10^12 images the
    # decode is the stage cost — a 1% sample gives per-partition decode
    # verdicts at 1% of the CPU while metadata-level rules still see every
    # row. Key-hashed (never random()): the SAME rows are chosen on the
    # native and Arrow paths, across resumed batches, and across runs, so
    # sampled verdicts are reproducible and manifest-stable. Saves decode
    # CPU, not scan IO (the bytes still stream through the reader) — for
    # IO-level reduction validate a partition subset instead.
    sample_rate: float = 1.0
    kind: str = field(default="pixel", init=False)
    stage = "pixel"

    def lint(self, schema) -> None:
        super().lint(schema)
        _lint_sample_rate(self)

    def targets(self):
        return (
            self.bytes_column,
            self.w_column,
            self.h_column,
            self.fmt_column,
            self.phash_column,
        )


@dataclass(frozen=True)
class DegenerateImageRule(Rule):
    """Pixel-space degeneracy gate: flag images whose decoded pixels carry
    (almost) no signal — the corpus-poisoning rows a schema-level validator
    never sees because their headers, dims, captions and even phashes all
    look healthy. Three classes, checked in precedence order:

      undecodable      payload fails to decode at all
      blank_image      contrast (global std) < ``contrast_floor`` — a solid
                       or near-solid color (covers all-black AND all-white)
      saturated_image  ``saturated_frac`` > ``saturated_ceiling`` — nearly
                       every sample pinned at 0/255 (binary clip art, broken
                       tone mapping) while still technically having contrast

    Decode-once contract: when the spec also declares a PixelRule on the
    same ``bytes_column``, the quality stats ride along on that rule's
    decode pass (operators/pixel.py CHECK_QUALITY_SCHEMA) — the run never
    decodes the corpus twice. Standalone, it runs its own Arrow-batched
    decode→stats map (quality_only_results). Classification is column
    algebra over the tiny stats frame either way."""

    bytes_column: str = "bytes"
    contrast_floor: float = 1.0
    saturated_ceiling: float = 0.95
    # opt-in 4th class: mean inter-channel difference < floor flags color
    # collapsed to gray while stored as RGB (a broken conversion stage).
    # None disables it — a grayscale corpus is a mix question, not poison.
    grayscale_floor: Optional[float] = None
    # deterministic content-keyed decode sampling (see PixelRule.sample_rate).
    # When the quality stats ride a PixelRule's decode, THAT rule's
    # sample_rate governs (one decode pass, one sample).
    sample_rate: float = 1.0
    kind: str = field(default="degenerate", init=False)
    stage = "degenerate"

    def lint(self, schema) -> None:
        super().lint(schema)
        _lint_sample_rate(self)
        if self.contrast_floor < 0:
            raise SchemaError(
                f"rule {self.id!r}: contrast_floor must be >= 0, got "
                f"{self.contrast_floor}"
            )
        if not 0 < self.saturated_ceiling <= 1:
            raise SchemaError(
                f"rule {self.id!r}: saturated_ceiling must be in (0, 1], "
                f"got {self.saturated_ceiling} (it is a fraction of samples)"
            )
        if self.grayscale_floor is not None and self.grayscale_floor < 0:
            raise SchemaError(
                f"rule {self.id!r}: grayscale_floor must be >= 0, got "
                f"{self.grayscale_floor}"
            )
        _require_type(
            self, schema, self.bytes_column, BinaryType,
            "degenerate-image column {column} must be BINARY, got {got} "
            "(the payload is decoded as image bytes)",
        )

    def targets(self):
        return (self.bytes_column,)


# ------------------------------------------------------------------- spec


@dataclass(frozen=True)
class Spec:
    """The full constraint schema for one table.

    ``key_column`` identifies rows in violation output (the analog of source
    spans in reference errors). ``partition_column`` optionally names a
    pre-existing partition id column; otherwise the engine derives one as
    pmod(xxhash64(key), n_partitions).
    """

    rules: tuple[Rule, ...] = ()
    key_column: str = "image_id"
    partition_column: Optional[str] = None
    n_partitions: int = 8
    fast_fail: bool = False
    # Bound the MATERIALIZED violation rows to a deterministic sample of at
    # most this many per (rule_id, partition_id); exact per-rule/partition
    # totals are preserved as metric rows (metric='violations_total').
    # None (default) keeps the reference's full-row semantics
    # (validator.rs:86-93 collects every error) — at 10^12 rows a hot rule
    # makes the violations sink itself web-scale, so set a cap there.
    max_violations_per_rule: Optional[int] = None

    def rule(self, rule_id: str) -> Rule:
        for r in self.rules:
            if r.id == rule_id:
                return r
        raise KeyError(rule_id)
