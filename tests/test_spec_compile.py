"""Spec lint / compile tests — the analog of the reference's matcher-parse
and schema-sanity cases (matcher.rs:418-729, matcher_extras.rs:254-413,
count_non_literal_matchers_in_children.rs). Pure Python, no Spark job."""

import pytest

from mdvalidate_spark.compile import STAGES, compile_spec
from mdvalidate_spark.errors import (
    ConflictingRulesError,
    DuplicateRuleIdError,
    InvalidBoundsError,
    MalformedRegexError,
    SchemaError,
    UnknownColumnError,
)
from mdvalidate_spark.spec import (
    END_OF_INPUT,
    ColumnStatsRule,
    CountRule,
    DomainRule,
    DriftRule,
    ExprRule,
    LiteralRule,
    MetricBoundRule,
    NotNullRule,
    OutlierRule,
    PixelRule,
    RangeRule,
    RefIntegrityRule,
    RegexRule,
    Spec,
    UniqueRule,
)

COLS = ["image_id", "bytes", "w", "h", "fmt", "caption", "phash", "source_id"]


def test_compile_stages_rules_by_family():
    spec = Spec(
        rules=(
            NotNullRule("nn", column="caption"),
            RegexRule("rx", column="caption", pattern=r"\w+"),
            RangeRule("rg", column="w", min=1, max=10),
            DomainRule("dm", column="fmt", values=("png",)),
            UniqueRule("uq", columns=("image_id",)),
            CountRule("ct_part", min=1),
            CountRule("ct_grp", group_by=("fmt",), min=1),
            RefIntegrityRule("rf", column="source_id", dim_name="d", dim_column="k"),
            ColumnStatsRule("st", column="w"),
            DriftRule("dr", column="w", group_column="fmt", group_value="png"),
            PixelRule("px"),
        )
    )
    prog = compile_spec(spec, COLS)
    assert {r.id for r in prog.stages["row"]} == {"nn", "rx", "rg", "dm"}
    assert {r.id for r in prog.stages["group"]} == {"uq", "ct_grp"}
    assert {r.id for r in prog.stages["count"]} == {"ct_part"}
    assert {r.id for r in prog.stages["ref"]} == {"rf"}
    assert {r.id for r in prog.stages["stats"]} == {"st"}
    assert {r.id for r in prog.stages["drift"]} == {"dr"}
    assert {r.id for r in prog.stages["pixel"]} == {"px"}
    assert list(prog.stages) == list(STAGES)
    # bytes only needed by the pixel stage — pruned from the shared scan set
    assert "bytes" not in prog.scan_columns


def test_duplicate_rule_id_rejected():
    spec = Spec(rules=(NotNullRule("a", column="w"), RangeRule("a", column="w", min=0)))
    with pytest.raises(DuplicateRuleIdError):
        compile_spec(spec, COLS)


def test_malformed_regex_rejected():
    spec = Spec(rules=(RegexRule("rx", column="caption", pattern="("),))
    with pytest.raises(MalformedRegexError):
        compile_spec(spec, COLS)


def test_conflicting_regex_rules_rejected():
    # >1 pattern rule on one column ≙ MultipleMatchersInNodeChildren
    spec = Spec(
        rules=(
            RegexRule("a", column="caption", pattern="x"),
            RegexRule("b", column="caption", pattern="y"),
        )
    )
    with pytest.raises(ConflictingRulesError):
        compile_spec(spec, COLS)


def test_literal_plus_regex_is_allowed():
    # literal matchers don't count toward the conflict limit (reference:
    # count_non_literal_matchers_in_children.rs — literals excluded)
    spec = Spec(
        rules=(
            RegexRule("a", column="caption", pattern="x"),
            LiteralRule("b", column="caption", value="x"),
        )
    )
    compile_spec(spec, COLS)


def test_invalid_bounds_rejected():
    with pytest.raises(InvalidBoundsError):
        compile_spec(Spec(rules=(RangeRule("r", column="w", min=10, max=1),)), COLS)
    with pytest.raises(InvalidBoundsError):
        compile_spec(Spec(rules=(CountRule("c", min=5, max=2),)), COLS)
    with pytest.raises(InvalidBoundsError):
        compile_spec(Spec(rules=(CountRule("c", min=-1),)), COLS)


def test_open_bounds_allowed():
    # {n,} / {,n} open ends (matcher_extras.rs:129-157)
    compile_spec(Spec(rules=(CountRule("c1", min=5),)), COLS)
    compile_spec(Spec(rules=(CountRule("c2", max=5),)), COLS)


def test_literal_rule_needs_exactly_one_source():
    with pytest.raises(SchemaError):
        compile_spec(Spec(rules=(LiteralRule("l", column="caption"),)), COLS)
    with pytest.raises(SchemaError):
        compile_spec(
            Spec(rules=(LiteralRule("l", column="caption", value="x", other_column="fmt"),)),
            COLS,
        )


def test_unknown_column_rejected():
    with pytest.raises(UnknownColumnError):
        compile_spec(Spec(rules=(NotNullRule("n", column="nope"),)), COLS)


def test_empty_domain_and_bad_drift_method_rejected():
    with pytest.raises(SchemaError):
        compile_spec(Spec(rules=(DomainRule("d", column="fmt", values=()),)), COLS)
    with pytest.raises(SchemaError):
        compile_spec(
            Spec(rules=(DriftRule("d", column="w", group_column="fmt",
                                  group_value="png", method="nope"),)),
            COLS,
        )


def test_regex_anchoring_matches_reference():
    # auto-anchored with ^ like matcher.rs:332
    r = RegexRule("r", column="c", pattern=r"\d+")
    assert r.anchored == r"^(?:\d+)" + END_OF_INPUT
    r2 = RegexRule("r", column="c", pattern=r"\d+", full=False)
    assert r2.anchored == r"^(?:\d+)"


def test_regex_one_sided_anchor_completed():
    """A ONE-sided user anchor must not suppress the other side: full=True
    means whole-value match, and the reference always start-anchors
    (matcher.rs:332). The pattern is wrapped and anchored UNCONDITIONALLY —
    redundant inner anchors are harmless, and anchor-sniffing mishandles
    alternations ('^a|b') and escaped dollars ('\\$'); see the anchoring
    property tests for the full language checks."""
    import re

    end = END_OF_INPUT
    assert RegexRule("r", column="c", pattern="^foo").anchored == "^(?:^foo)" + end
    assert RegexRule("r", column="c", pattern="foo$").anchored == "^(?:foo$)" + end
    assert RegexRule("r", column="c", pattern="^foo$").anchored == "^(?:^foo$)" + end
    # full=False: only the start anchor is owed
    assert RegexRule("r", column="c", pattern="^foo", full=False).anchored == "^(?:^foo)"
    assert (
        RegexRule("r", column="c", pattern="foo$", full=False).anchored
        == "^(?:foo$)"
    )
    # semantic check: '^foo' with full=True must NOT accept a prefix match
    a = RegexRule("r", column="c", pattern="^foo").anchored
    assert re.search(a, "foobar") is None
    assert re.search(a, "foo") is not None
    b = RegexRule("r", column="c", pattern="foo$").anchored
    assert re.search(b, "xfoo") is None
    assert re.search(b, "foo") is not None
    # escaped trailing dollar is a LITERAL, not an anchor
    c = RegexRule("r", column="c", pattern=r"usd\$").anchored
    assert re.search(c, "usd$") is not None
    assert re.search(c, "usd$x") is None


def test_sequence_one_sided_anchor_completed():
    from mdvalidate_spark.operators.sequence import _anchored

    assert _anchored("a|b") == "^(?:a|b)" + END_OF_INPUT
    assert _anchored("^foo") == "^(?:^foo)" + END_OF_INPUT
    assert _anchored("foo$") == "^(?:foo$)" + END_OF_INPUT
    assert _anchored("^foo$") == "^(?:^foo$)" + END_OF_INPUT


def test_schema_rule_violations(spark):
    """Runtime schema drift → violation rows (MalformedNodeStructure analog,
    errors.rs:320-397): missing / extra / dtype-mismatched columns, and dtype
    is finally CHECKED, not just name presence."""
    from mdvalidate_spark.operators.schema_rules import schema_violations
    from mdvalidate_spark.spec import SchemaRule

    df = spark.createDataFrame([(1, "x", 2.0)], "a bigint, b string, c double")
    rule = SchemaRule(
        "sch",
        expected=(("a", "bigint"), ("b", "int"), ("d", "string")),
    )
    got = {r["image_id"]: r for r in schema_violations(df, rule, "t").collect()}
    assert set(got) == {"b", "c", "d"}
    assert got["b"]["kind"] == "dtype_mismatch"
    assert got["b"]["expected"] == "int" and got["b"]["actual"] == "string"
    assert got["c"]["kind"] == "extra_column" and got["c"]["actual"] == "double"
    assert got["d"]["kind"] == "missing_column" and got["d"]["expected"] == "string"

    # allow_extra drops only the extra-column family
    rule2 = SchemaRule("sch2", expected=(("a", "bigint"), ("b", "int"), ("d", "string")),
                       allow_extra=True)
    kinds = {r["kind"] for r in schema_violations(df, rule2, "t").collect()}
    assert kinds == {"dtype_mismatch", "missing_column"}


def test_schema_rule_through_validation_run(spark):
    """SchemaRule rides the lifecycle: checked once BEFORE any data stage,
    counted in errored/exit_code, and fast-fail stops before scanning."""
    from mdvalidate_spark.run import ValidationRun
    from mdvalidate_spark.spec import RangeRule, SchemaRule, Spec

    df = spark.createDataFrame([("k1", 5)], "image_id string, w int")
    spec = Spec(
        rules=(
            SchemaRule("sch", expected=(("image_id", "string"), ("w", "bigint"))),
            RangeRule("rg", column="w", min=0, max=10),
        ),
        key_column="image_id", n_partitions=2, fast_fail=True,
    )
    run = ValidationRun(spark, spec, df, run_id="schff")
    rep = run.validate()
    assert rep.exit_code == 1
    rows = rep.violations.collect()
    assert [r["kind"] for r in rows] == ["dtype_mismatch"]
    # fast-fail before any partition scan: nothing marked validated
    assert run.manifest.entries == {} or all(
        e.get("rows", 0) == 0 for e in run.manifest.entries.values()
    )

    # clean schema → exit 0 and the range stage runs normally
    ok = Spec(
        rules=(SchemaRule("sch", expected=(("image_id", "string"), ("w", "int"))),
               RangeRule("rg", column="w", min=0, max=10)),
        key_column="image_id", n_partitions=2,
    )
    rep2 = ValidationRun(spark, ok, df, run_id="schok").validate()
    assert rep2.exit_code == 0


def test_schema_rule_compile_lint(spark):
    from mdvalidate_spark.compile import compile_spec
    from mdvalidate_spark.errors import SchemaError
    from mdvalidate_spark.spec import SchemaRule, Spec

    with pytest.raises(SchemaError):
        compile_spec(Spec(rules=(SchemaRule("s"),), key_column="k"), ["k"])
    with pytest.raises(SchemaError):
        compile_spec(
            Spec(rules=(SchemaRule("s", expected=(("a", "int"), ("a", "string"))),),
                 key_column="k"),
            ["k"],
        )


def test_schema_rule_checked_on_direct_finalize(spark):
    """A caller that goes straight to finalize() (resume with nothing
    pending) must still get schema-drift violations — the check is run-level,
    not a side effect of validate_pending()."""
    from mdvalidate_spark.run import ValidationRun
    from mdvalidate_spark.spec import SchemaRule, Spec

    df = spark.createDataFrame([("k1", 5)], "image_id string, w int")
    spec = Spec(
        rules=(SchemaRule("sch", expected=(("image_id", "string"), ("w", "bigint"))),),
        key_column="image_id",
        n_partitions=2,
    )
    rep = ValidationRun(spark, spec, df, run_id="schfin").finalize()
    assert rep.exit_code == 1
    assert [r["kind"] for r in rep.violations.collect()] == ["dtype_mismatch"]


def test_regex_alternation_full_match(spark):
    """"a|b" must validate as a FULL match of either branch — the naive
    ^a|b$ anchoring accepted "food" (prefix) and "xbar" (suffix)."""
    from mdvalidate_spark.operators.row_rules import row_violations, with_partition_id
    from mdvalidate_spark.spec import RegexRule, Spec

    df = spark.createDataFrame(
        [("k1", "foo"), ("k2", "bar"), ("k3", "food"), ("k4", "xbar")],
        "k string, v string",
    )
    spec = Spec(rules=(RegexRule("alt", column="v", pattern="foo|bar"),),
                key_column="k", n_partitions=2)
    from mdvalidate_spark.compile import compile_spec

    prog = compile_spec(spec, df.columns)
    bad = {r["image_id"] for r in
           row_violations(with_partition_id(df, spec), prog, "t").collect()}
    assert bad == {"k3", "k4"}


def test_regex_trailing_newline_is_a_violation(spark):
    """Java's "$" also matches before a final line terminator, so "ab\\n"
    passed a full-match RegexRule("ab"); the end anchor is end of input."""
    from mdvalidate_spark.operators.row_rules import row_violations, with_partition_id

    df = spark.createDataFrame(
        [("k1", "ab"), ("k2", "ab\n"), ("k3", "abc"), ("k4", "ab\r\n")],
        "k string, v string",
    )
    spec = Spec(rules=(RegexRule("ab", column="v", pattern="ab"),), key_column="k")
    prog = compile_spec(spec, df.columns)
    got = {
        (r["image_id"], r["expected"])
        for r in row_violations(with_partition_id(df, spec), prog, "t").collect()
    }
    # the expected text keeps the full-match notation
    assert got == {("k2", "^(?:ab)$"), ("k3", "^(?:ab)$"), ("k4", "^(?:ab)$")}


def test_java_only_regex_error_raised_before_any_job(spark):
    """A pattern Python's re accepts but java.util.regex rejects (a named
    group in Python syntax) used to pass the lint and fail mid-job."""
    from mdvalidate_spark.run import ValidationRun

    df = spark.createDataFrame([("k1", "ab")], "k string, v string")
    spec = Spec(
        rules=(RegexRule("named", column="v", pattern=r"(?P<x>a)b"),),
        key_column="k",
    )
    sc = spark.sparkContext
    sc.setJobGroup("java-regex-lint", "lint")
    try:
        with pytest.raises(MalformedRegexError, match="'named'"):
            ValidationRun(spark, spec, df, run_id="java-regex")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("java-regex-lint")) == []


@pytest.mark.parametrize(
    "spec_kw, match",
    [
        ({"n_partitions": 0}, "n_partitions must be >= 1"),
        ({"n_partitions": -3}, "n_partitions must be >= 1"),
        ({"max_violations_per_rule": -1}, "max_violations_per_rule must be >= 0"),
    ],
)
def test_spec_level_settings_linted(spec_kw, match):
    spec = Spec(rules=(RangeRule("rg", column="w", max=5),), **spec_kw)
    with pytest.raises(SchemaError, match=match):
        compile_spec(spec, COLS)


def test_zero_partitions_refused_before_any_job(spark):
    """n_partitions=0 used to validate zero partitions and report a clean
    run over a table whose rows break the rule."""
    from mdvalidate_spark.run import ValidationRun

    df = spark.range(20).selectExpr("cast(id as string) as image_id", "id as w")
    spec = Spec(rules=(RangeRule("rg", column="w", max=5),), n_partitions=0)
    with pytest.raises(SchemaError, match="n_partitions"):
        ValidationRun(spark, spec, df, run_id="zero-parts")
    # max_violations_per_rule=0 stays legal: totals only, no sampled rows
    compile_spec(Spec(rules=spec.rules, max_violations_per_rule=0), COLS)


def test_every_rule_class_is_registered():
    """Every Rule subclass round-trips through the spec JSON form and names
    a declared stage; every batch- and global-scope stage has a step; and
    the group stage's finalize handlers are exactly its rule classes."""
    import json

    from mdvalidate_spark.compile import STAGES
    from mdvalidate_spark.run import _BATCH_STEPS, _GLOBAL_HANDLERS, _GLOBAL_STEPS
    from mdvalidate_spark.spec import Rule
    from mdvalidate_spark.spec_io import RULE_KINDS, spec_from_dict, spec_to_dict

    classes = Rule.__subclasses__()
    assert sorted(RULE_KINDS.values(), key=lambda c: c.__name__) == sorted(
        classes, key=lambda c: c.__name__
    )
    samples = [c(f"r{i}") for i, c in enumerate(classes)]
    samples.append(CountRule("grouped", group_by=("fmt",)))
    spec = Spec(rules=tuple(samples))
    assert spec_from_dict(json.loads(json.dumps(spec_to_dict(spec)))) == spec

    assert {r.stage for r in samples} == set(STAGES)
    for scope, steps in (("batch", _BATCH_STEPS), ("global", _GLOBAL_STEPS)):
        assert set(steps) == {s for s, sc in STAGES.items() if sc == scope}
    group_classes = {type(r) for r in samples if r.stage == "group"}
    assert set(_GLOBAL_HANDLERS) == group_classes


_LINT_DDL = "image_id string, w int, h int, fmt string, caption string, source_id string"


@pytest.mark.parametrize(
    "rule, match",
    [
        # `when` on each stage whose rules carry one
        (RegexRule("rx", column="caption", pattern="a", when="lenght(caption) > 0"),
         "when predicate 'lenght"),
        (UniqueRule("uq", columns=("image_id",), when="lenght(caption) > 0"),
         "when predicate 'lenght"),
        (CountRule("ct", min=1, when="w + 1"), "when predicate 'w \\+ 1' is not boolean"),
        (RefIntegrityRule("rf", column="source_id", dim_name="d", dim_column="k",
                          when="nope > 0"), "when predicate 'nope"),
        (ColumnStatsRule("st", column="w", when="lenght(caption) > 0"),
         "when predicate 'lenght"),
        (MetricBoundRule("mb", column="w", metric="count", max=1.0, when="w"),
         "is not boolean"),
        # ExprRule: analyzed against its declared columns only
        (ExprRule("ex", expr="w > h", columns=("w",)), "declared columns"),
        (ExprRule("ex", expr="w + 1", columns=("w",)), "expr 'w \\+ 1' is not boolean"),
        (ExprRule("ex", expr="w > 0", columns=("w",), actual_expr="lenght(w)"),
         "actual_expr 'lenght"),
        (DriftRule("dr", expr="lenght(caption)", group_column="fmt", group_value="png"),
         "drift expr 'lenght"),
        (OutlierRule("ol", expr="lenght(caption)"), "outlier expr 'lenght"),
        (OutlierRule("ol", expr="concat(caption, fmt)"), "is not numeric"),
        (ColumnStatsRule("st", column="caption", moments=True),
         "moments need a numeric column"),
        (MetricBoundRule("mb", column="caption", metric="p95", max=1.0),
         "p95 need a numeric column"),
    ],
    ids=lambda x: x.id if hasattr(x, "id") else None,
)
def test_expression_lints_run_at_compile_without_a_job(spark, rule, match):
    """A rule's SQL expressions and numeric demands are checked by its own
    lint against a typed schema, so every front end refuses the spec
    before any work — driver-side, no Spark job."""
    schema = spark.createDataFrame([], _LINT_DDL).schema
    sc = spark.sparkContext
    sc.setJobGroup("expr-lint", "lint")
    try:
        with pytest.raises(SchemaError, match=match):
            compile_spec(Spec(rules=(rule,)), schema)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("expr-lint")) == []
    # without a typed schema only the static checks run
    compile_spec(Spec(rules=(rule,)), schema.names)


def test_unknown_column_is_raised_before_expression_lints(spark):
    schema = spark.createDataFrame([], _LINT_DDL).schema
    spec = Spec(rules=(
        RegexRule("rx", column="nope", pattern="a", when="lenght(x) > 0"),
    ))
    with pytest.raises(UnknownColumnError):
        compile_spec(spec, schema)
