"""Group/aggregate + referential rule tests: salted uniqueness, count bounds,
stats metrics, broadcast anti-join orphans."""

import pytest
from pyspark.sql import functions as F

from mdvalidate_spark.operators import agg_rules
from mdvalidate_spark.operators.ref_rules import ref_violations
from mdvalidate_spark.sources.synthetic import (
    dim_source,
    expected_violation_counts,
    synthetic_images,
)
from mdvalidate_spark.spec import (
    ColumnStatsRule,
    CountRule,
    RefIntegrityRule,
    UniqueRule,
)

ROWS = 1000


@pytest.fixture(scope="module")
def images(spark):
    df = synthetic_images(spark, ROWS, with_bytes=False).cache()
    df.count()
    yield df
    df.unpersist()


def test_unique_rule_finds_injected_duplicates(spark, images):
    exp = expected_violation_counts(ROWS)
    v = agg_rules.unique_violations(images, UniqueRule("uq", columns=("image_id",)), "t")
    rows = v.collect()
    assert len(rows) == exp["duplicate_keys"]
    for r in rows:
        assert r["kind"] == "duplicate"
        assert r["actual"] == "count=2"


def test_unique_rule_on_hot_phash_counts_exactly(spark, images):
    """phash is hot-keyed by design — the single-exchange count (hot keys
    bounded by map-side partial aggregation) must still be exact."""
    v = agg_rules.unique_violations(images, UniqueRule("uq", columns=("phash",)), "t")
    got = {r["image_id"]: int(r["actual"].removeprefix("count=")) for r in v.collect()}
    truth = {
        str(r["phash"]): r["n"]
        for r in images.groupBy("phash").agg(F.count("*").alias("n")).where("n > 1").collect()
    }
    assert got == truth
    assert len(truth) == 8  # the 8 hot base patterns


def test_count_rule_per_group(spark, images):
    # every fmt group has >0 rows; bound that must fail for the rare 'bmp'
    v = agg_rules.count_violations(
        images, CountRule("ct", group_by=("fmt",), min=10), "t"
    )
    rows = {r["image_id"]: r["actual"] for r in v.collect()}
    assert set(rows) == {"bmp"}  # only 2 bmp rows < 10
    assert rows["bmp"] == "2"


def test_count_rule_open_bounds(spark, images):
    assert (
        agg_rules.count_violations(images, CountRule("c", group_by=("fmt",), max=1), "t").count()
        == 4
    )  # all four fmt groups exceed 1
    assert (
        agg_rules.count_violations(images, CountRule("c", group_by=("fmt",), min=1), "t").count()
        == 0
    )


def test_column_stats_single_pass_and_values(spark, images):
    mets = agg_rules.column_stats_metrics(
        images,
        (
            ColumnStatsRule("st_w", column="w", exact_distinct=True),
            ColumnStatsRule("st_cap", column="caption", exact_distinct=True),
        ),
        "t",
    )
    m = {(r["rule_id"], r["metric"]): r for r in mets.collect()}
    assert m[("st_w", "count")]["value"] == ROWS
    assert m[("st_w", "min")]["value_str"] == "0"
    assert m[("st_w", "max")]["value_str"] == "20000"
    exp = expected_violation_counts(ROWS)
    assert m[("st_cap", "null_rate")]["value"] == pytest.approx(
        exp["caption_null"] / ROWS
    )
    # distinct captions: non-null are all distinct strings
    assert m[("st_cap", "distinct")]["value"] == ROWS - exp["caption_null"]


def test_ref_rule_orphans_and_broadcast(spark, images):
    exp = expected_violation_counts(ROWS)
    rule = RefIntegrityRule("rf", column="source_id", dim_name="dim_source", dim_column="source_id")
    v = ref_violations(images, rule, dim_source(spark), "t", "image_id")
    assert v.count() == exp["orphan_rows"]
    sample = v.first()
    assert sample["kind"] == "orphan"
    assert sample["actual"] >= "src0100"
    plan = v._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # dim side must broadcast, never shuffle


def test_ref_rule_skips_null_fk(spark, images):
    df = images.withColumn(
        "source_id", F.when(F.col("i") % 2 == 0, None).otherwise(F.col("source_id"))
    )
    rule = RefIntegrityRule("rf", column="source_id", dim_name="d", dim_column="source_id")
    v = ref_violations(df, rule, dim_source(spark), "t", "image_id")
    # only odd-i orphans remain; no NULL-fk rows reported
    assert v.where(F.col("actual").isNull()).count() == 0


def test_ref_rule_composite_pair(spark):
    """Composite FK: the (part, supplier) PAIR must exist in the dim — rows
    whose components are each individually present but never paired are
    orphans; any NULL component skips the row (SQL FK semantics); the plan
    stays a broadcast anti-join."""
    fact = spark.createDataFrame(
        [
            ("r1", "p1", "s1"),   # pair in dim
            ("r2", "p2", "s2"),   # pair in dim
            ("r3", "p1", "s2"),   # both components exist, pair does NOT
            ("r4", "p9", "s1"),   # p9 unknown entirely
            ("r5", None, "s1"),   # NULL component → skipped
            ("r6", "p1", None),   # NULL component → skipped
        ],
        "k string, part string, supp string",
    ).withColumn("partition_id", F.lit(0))
    dim = spark.createDataFrame(
        [("p1", "s1"), ("p2", "s2")], "dpart string, dsupp string"
    )
    rule = RefIntegrityRule(
        "pair", dim_name="pairs",
        columns=("part", "supp"), dim_columns=("dpart", "dsupp"),
    )
    v = ref_violations(fact, rule, dim, "t", "k")
    rows = {r["image_id"]: r for r in v.collect()}
    assert set(rows) == {"r3", "r4"}
    assert rows["r3"]["actual"] == "p1|s2"
    assert rows["r3"]["column"] == "part,supp"
    assert "pairs.(dpart,dsupp)" in rows["r3"]["expected"]
    plan = v._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_ref_rule_composite_compile_lints(spark):
    from mdvalidate_spark.compile import compile_spec
    from mdvalidate_spark.errors import SchemaError
    from mdvalidate_spark.spec import Spec

    with pytest.raises(SchemaError, match="not both"):
        compile_spec(Spec(key_column="k", rules=(
            RefIntegrityRule("r", column="a", dim_name="d", dim_column="b",
                             columns=("a", "c"), dim_columns=("b", "d")),
        )))
    with pytest.raises(SchemaError, match="pair up"):
        compile_spec(Spec(key_column="k", rules=(
            RefIntegrityRule("r", dim_name="d",
                             columns=("a", "c"), dim_columns=("b",)),
        )))
    with pytest.raises(SchemaError, match="needs column"):
        compile_spec(Spec(key_column="k", rules=(
            RefIntegrityRule("r", dim_name="d"),
        )))


def test_unique_rule_composite_null_safe(spark):
    """concat_ws drops NULLs, so a naive composite key would collide
    ("a", NULL) with ("a", "") — these must NOT count as duplicates, while
    two genuinely identical (incl. NULL) tuples must."""
    from mdvalidate_spark.operators.agg_rules import unique_violations
    from mdvalidate_spark.spec import UniqueRule

    df = spark.createDataFrame(
        [("a", None), ("a", ""), ("b", "x"), ("b", "x"), ("c", None), ("c", None)],
        "k1 string, k2 string",
    )
    v = unique_violations(df, UniqueRule("uq2", columns=("k1", "k2")), "r")
    got = {r["image_id"]: r["actual"] for r in v.collect()}
    assert len(got) == 2
    assert any(k.startswith("b") for k in got)
    assert any(k.startswith("c") for k in got)
    assert all(a == "count=2" for a in got.values())


def test_capture_rule_ordered_arrays(spark):
    """CaptureRule accumulates regex captures as ORDERED arrays per
    partition (the matches-JSON analog; reference README.md:216-244 —
    repeated matchers accumulate in document order). Rows are fed out of
    order to prove sort_array(collect_list(struct)) restores key order."""
    import json

    from mdvalidate_spark.operators.agg_rules import capture_metrics
    from mdvalidate_spark.spec import CaptureRule

    df = spark.createDataFrame(
        [
            ("k3", 0, "v=30"),
            ("k1", 0, "v=10"),
            ("k2", 0, "no match here"),
            ("k4", 1, "v=40"),
            ("k5", 1, None),
        ],
        "k string, partition_id int, txt string",
    ).repartition(4)
    m = capture_metrics(
        df, (CaptureRule("cap", column="txt", pattern=r"v=(\d+)"),), "r", "k"
    )
    rows = {r["partition_id"]: r for r in m.collect()}
    assert json.loads(rows[0]["value_str"]) == ["10", "30"]  # k1 before k3
    assert rows[0]["value"] == 2.0
    assert json.loads(rows[1]["value_str"]) == ["40"]  # null + nonmatch skipped
    assert rows[1]["value"] == 1.0


def test_capture_rule_compile_lint(spark):
    """Group index beyond the pattern's groups is a typed SchemaError at
    compile (before any Spark job)."""
    import pytest

    from mdvalidate_spark.compile import compile_spec
    from mdvalidate_spark.errors import SchemaError
    from mdvalidate_spark.spec import CaptureRule, Spec

    spec = Spec(
        rules=(CaptureRule("c", column="caption", pattern=r"(\d+)", group=2),),
        key_column="image_id",
    )
    with pytest.raises(SchemaError):
        compile_spec(spec, ["image_id", "caption"])


def test_capture_rule_through_validation_run(spark):
    """End-to-end: CaptureRule rides the per-partition batch stage and its
    arrays land in report.metrics."""
    import json

    from mdvalidate_spark.run import ValidationRun
    from mdvalidate_spark.sources.synthetic import synthetic_images
    from mdvalidate_spark.spec import CaptureRule, Spec

    images = synthetic_images(spark, 400, with_bytes=False, n_partitions=4)
    spec = Spec(
        rules=(
            CaptureRule(
                "photo_no", column="caption", pattern=r"A photo number (\d+) of",
                order_column="i",
            ),
        ),
        key_column="image_id",
        n_partitions=4,
    )
    report = ValidationRun(spark, spec, images, run_id="cap").validate()
    mets = report.metrics.where("rule_id = 'photo_no'").collect()
    assert len(mets) == 4  # one ordered array per partition
    total = sum(int(r["value"]) for r in mets)
    # matching captions = all except regex-broken (i%200==199 → i=199,399);
    # the null injection (i%1000==997) doesn't occur below 998 rows
    assert total == 400 - 2
    for r in mets:
        vals = [int(v) for v in json.loads(r["value_str"])]
        assert vals == sorted(vals)  # ordered by the document-order column


def test_capture_rule_nested_arrays_of_objects(spark):
    """Nested captures (reference lists.rs:318-390): values accumulate per
    (partition, group) in order, groups accumulate per partition as ordered
    arrays of {group, values} objects."""
    import json

    from mdvalidate_spark.operators.agg_rules import capture_metrics
    from mdvalidate_spark.spec import CaptureRule

    df = spark.createDataFrame(
        [
            ("k2", 0, "g1", "v=12"),
            ("k1", 0, "g1", "v=11"),
            ("k3", 0, "g2", "v=21"),
            ("k4", 1, "g9", "v=91"),
        ],
        "k string, partition_id int, grp string, txt string",
    ).repartition(3)
    m = capture_metrics(
        df,
        (CaptureRule("nest", column="txt", pattern=r"v=(\d+)", group_by=("grp",)),),
        "r",
        "k",
    )
    rows = {r["partition_id"]: r for r in m.collect()}
    p0 = json.loads(rows[0]["value_str"])
    assert p0 == [
        {"group": "g1", "values": ["11", "12"]},
        {"group": "g2", "values": ["21"]},
    ]
    assert rows[0]["value"] == 3.0
    assert json.loads(rows[1]["value_str"]) == [{"group": "g9", "values": ["91"]}]


def test_column_stats_quantiles(spark):
    """Quantile metrics on ColumnStatsRule: exact mode matches the textbook
    linear-interpolated percentile; approx mode (the mergeable-sketch scale
    path) lands within the sketch tolerance."""
    from mdvalidate_spark.operators.agg_rules import column_stats_metrics
    from mdvalidate_spark.spec import ColumnStatsRule

    df = spark.createDataFrame([(float(i),) for i in range(1, 101)], "x double")
    exact = column_stats_metrics(
        df,
        (ColumnStatsRule("st", column="x", quantiles=(0.5, 0.95, 0.99),
                         exact_quantiles=True),),
        "t",
    )
    got = {r["metric"]: r["value"] for r in exact.collect()}
    assert got["p50"] == 50.5       # (50 + 51) / 2
    assert abs(got["p95"] - 95.05) < 1e-9
    assert abs(got["p99"] - 99.01) < 1e-9
    assert got["count"] == 100.0

    approx = column_stats_metrics(
        df, (ColumnStatsRule("st", column="x", quantiles=(0.5,)),), "t"
    )
    a50 = {r["metric"]: r["value"] for r in approx.collect()}["p50"]
    assert abs(a50 - 50.5) <= 1.0  # sketch accuracy at n=100


def test_capture_rows_matches_capture_metrics(spark):
    """capture_rows (scale path: sort-based window, spills) must agree with
    capture_metrics (collect_list arrays) on ordering and content — same
    fixture, re-assembled rows == the JSON arrays."""
    import json

    from mdvalidate_spark.operators.agg_rules import capture_metrics, capture_rows
    from mdvalidate_spark.spec import CaptureRule

    df = spark.createDataFrame(
        [
            ("k3", 0, "v=30"),
            ("k1", 0, "v=10"),
            ("k2", 0, "no match here"),
            ("k4", 1, "v=40"),
            ("k5", 1, None),
            ("k6", 1, "v=60"),
        ],
        "k string, partition_id int, txt string",
    ).repartition(4)
    rules = (CaptureRule("cap", column="txt", pattern=r"v=(\d+)"),)
    arrays = {
        r["partition_id"]: json.loads(r["value_str"])
        for r in capture_metrics(df, rules, "r", "k").collect()
    }
    rows = capture_rows(df, rules, "r", "k").collect()
    reassembled: dict[int, list[tuple[int, str]]] = {}
    for r in rows:
        assert r["rule_id"] == "cap" and r["group_key"] is None
        reassembled.setdefault(r["partition_id"], []).append((r["rank"], r["value"]))
    got = {
        pid: [v for _, v in sorted(pairs)] for pid, pairs in reassembled.items()
    }
    assert got == arrays
    # ranks are 1..n dense per partition
    for pid, pairs in reassembled.items():
        assert sorted(rk for rk, _ in pairs) == list(range(1, len(pairs) + 1))


def test_capture_rows_grouped(spark):
    """group_by ranks within (partition, group) independently."""
    from mdvalidate_spark.operators.agg_rules import capture_rows
    from mdvalidate_spark.spec import CaptureRule

    df = spark.createDataFrame(
        [
            ("k1", 0, "g1", "v=1"),
            ("k2", 0, "g1", "v=2"),
            ("k3", 0, "g2", "v=3"),
            ("k4", 0, "g2", "v=4"),
        ],
        "k string, partition_id int, g string, txt string",
    )
    rows = capture_rows(
        df,
        (CaptureRule("cap", column="txt", pattern=r"v=(\d+)", group_by=("g",)),),
        "r",
        "k",
    ).collect()
    by_group: dict[str, list[tuple[int, str]]] = {}
    for r in rows:
        by_group.setdefault(r["group_key"], []).append((r["rank"], r["value"]))
    assert {g: sorted(p) for g, p in by_group.items()} == {
        "g1": [(1, "1"), (2, "2")],
        "g2": [(1, "3"), (2, "4")],
    }


def test_capture_rows_tie_break_matches_metrics(spark):
    """Duplicate order-column values: capture_metrics sorts struct(order,
    value) so ties fall back to value order; capture_rows must rank with the
    same (order, value) key or the two paths diverge per shuffle layout."""
    import json

    from mdvalidate_spark.operators.agg_rules import capture_metrics, capture_rows
    from mdvalidate_spark.spec import CaptureRule

    df = spark.createDataFrame(
        [
            ("dup", 0, "v=9"),
            ("dup", 0, "v=1"),
            ("dup", 0, "v=5"),
            ("z", 0, "v=0"),
        ],
        "k string, partition_id int, txt string",
    ).repartition(4)
    rules = (CaptureRule("cap", column="txt", pattern=r"v=(\d+)"),)
    arrays = json.loads(
        capture_metrics(df, rules, "r", "k").collect()[0]["value_str"]
    )
    rows = sorted(
        (r["rank"], r["value"])
        for r in capture_rows(df, rules, "r", "k").collect()
    )
    assert [v for _, v in rows] == arrays == ["1", "5", "9", "0"]


def test_count_min_flags_empty_partitions(spark):
    """A partition with ZERO rows must be reported against a min bound when
    the caller supplies the expected id universe (groupBy alone can never
    see an empty group)."""
    from mdvalidate_spark.operators.agg_rules import count_violations
    from mdvalidate_spark.spec import CountRule

    df = spark.createDataFrame([(0, "a"), (0, "b"), (1, "c")],
                               "partition_id int, v string")
    v = count_violations(
        df, CountRule("cmin", min=1), "t", expected_partitions=[0, 1, 2, 3]
    ).collect()
    empty = {r["image_id"]: r["actual"] for r in v}
    assert empty == {"2": "0", "3": "0"}


def test_capture_empty_group_match_counts(spark):
    """A pattern whose capture group legitimately matches the empty string
    still counts as a match (rlike detection, not cap != '')."""
    import json

    from mdvalidate_spark.operators.agg_rules import capture_metrics
    from mdvalidate_spark.spec import CaptureRule

    df = spark.createDataFrame(
        [("k1", 0, "id="), ("k2", 0, "id=abc"), ("k3", 0, "nope")],
        "k string, partition_id int, txt string",
    )
    m = capture_metrics(
        df, (CaptureRule("cap", column="txt", pattern=r"id=(\w*)"),), "r", "k"
    ).collect()[0]
    assert m["value"] == 2.0
    assert json.loads(m["value_str"]) == ["", "abc"]


def test_count_universe_reports_zero_row_groups(spark):
    """'Every group in U has count >= min' must fire for groups with NO rows
    (reference WrongListCount underflow, lists.rs:168-264): the universe
    dimension is anti-joined against observed groups — a plain groupBy can
    never see an absent group."""
    from mdvalidate_spark.operators.agg_rules import count_violations
    from mdvalidate_spark.spec import CountRule

    facts = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 1), ("b", 2), ("b", 3)], "cust string, x int"
    )
    universe = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("d",)], "c_id string"
    )
    rule = CountRule(
        "cu", group_by=("cust",), min=1, max=2,
        universe="dim_cust", universe_columns=("c_id",),
    )
    got = {r["image_id"]: r["actual"]
           for r in count_violations(facts, rule, "t", universe=universe).collect()}
    # c, d: zero rows (undercount); b: 3 rows (overcount); a: in bounds
    assert got == {"c": "0", "d": "0", "b": "3"}


def test_count_universe_through_validation_run(spark):
    """Universe rules run in finalize with the dim resolved from dims; a
    missing universe table is a SchemaError at construction."""
    import pytest

    from mdvalidate_spark.errors import SchemaError
    from mdvalidate_spark.run import ValidationRun
    from mdvalidate_spark.spec import CountRule, Spec

    facts = spark.createDataFrame(
        [("k1", "a"), ("k2", "a")], "image_id string, cust string"
    )
    universe = spark.createDataFrame([("a",), ("z",)], "cust string")
    spec = Spec(
        rules=(CountRule("cu", group_by=("cust",), min=1, universe="dim_cust"),),
        key_column="image_id",
    )
    with pytest.raises(SchemaError, match="dim_cust"):
        ValidationRun(spark, spec, facts)
    rep = ValidationRun(spark, spec, facts, dims={"dim_cust": universe}).validate()
    rows = {r["image_id"]: r["actual"]
            for r in rep.violations.where("rule_id = 'cu'").collect()}
    assert rows == {"z": "0"} and rep.exit_code == 1


def test_count_universe_compile_lints():
    import pytest

    from mdvalidate_spark.compile import compile_spec
    from mdvalidate_spark.errors import SchemaError
    from mdvalidate_spark.spec import CountRule, Spec

    with pytest.raises(SchemaError, match="group_by"):
        compile_spec(Spec(rules=(CountRule("c", min=1, universe="u"),)))
    with pytest.raises(SchemaError, match="vacuous"):
        compile_spec(Spec(rules=(CountRule("c", group_by=("g",), max=5,
                                           universe="u"),)))
    with pytest.raises(SchemaError, match="arity"):
        compile_spec(Spec(rules=(CountRule("c", group_by=("g",), min=1,
                                           universe="u",
                                           universe_columns=("a", "b")),)))


def test_capture_as_rows_through_run_parity(spark):
    """CaptureRule(as_rows=True) must be reachable from a spec through
    ValidationRun (VERDICT r2 #5) and reassemble to EXACTLY the array path's
    report: same captures, same per-partition document order."""
    import json

    from mdvalidate_spark.run import ValidationRun
    from mdvalidate_spark.spec import CaptureRule, Spec

    rows = [(f"k{i:03d}", i % 4, f"v{i % 7}-tail") for i in range(80)]
    df = spark.createDataFrame(rows, "image_id string, grp int, s string")
    common = dict(column="s", pattern="^(v[0-9])-", order_column="image_id")
    spec = Spec(
        rules=(
            CaptureRule("cap_arr", **common),
            CaptureRule("cap_rows", as_rows=True, **common),
        ),
        key_column="image_id",
        partition_column="grp",
    )
    rep = ValidationRun(spark, spec, df).validate()
    met = rep.metrics

    arr = {
        r["partition_id"]: json.loads(r["value_str"])
        for r in met.where("rule_id = 'cap_arr'").collect()
    }
    from collections import defaultdict

    rebuilt = defaultdict(list)
    for r in sorted(
        met.where("rule_id = 'cap_rows'").collect(),
        key=lambda r: (r["partition_id"], r["value"]),
    ):
        assert r["metric"] == "capture_row"
        rebuilt[r["partition_id"]].append(r["value_str"])
    assert dict(rebuilt) == {p: v for p, v in arr.items() if v}


def test_composite_capture_as_rows_through_run_parity(spark):
    """CompositeRegexRule(capture=True, capture_as_rows=True): the
    composite's validate-and-capture rides the SPILL-SAFE ordered-rows path
    and reassembles to exactly the array path's report — the same
    100x-safe routing CaptureRule.as_rows has."""
    import json
    from collections import defaultdict

    from mdvalidate_spark.run import ValidationRun
    from mdvalidate_spark.spec import CompositeRegexRule, Spec

    rows = [(f"k{i:03d}", i % 4, f"id-{i % 9}x") for i in range(80)]
    df = spark.createDataFrame(rows, "image_id string, grp int, s string")
    common = dict(column="s", prefix="id-", pattern="[0-9]+", suffix="x",
                  capture=True)

    # two rules on one column conflict by design (ConflictingRulesError) —
    # run each routing in its own spec and compare the reports
    def run(rule):
        spec = Spec(rules=(rule,), key_column="image_id", partition_column="grp")
        return ValidationRun(spark, spec, df).validate().metrics

    arr = {
        r["partition_id"]: json.loads(r["value_str"])
        for r in run(CompositeRegexRule("comp_arr", **common)).collect()
        if r["rule_id"] == "comp_arr"
    }
    rebuilt = defaultdict(list)
    for r in sorted(
        (
            r
            for r in run(
                CompositeRegexRule("comp_rows", capture_as_rows=True, **common)
            ).collect()
            if r["rule_id"] == "comp_rows"
        ),
        key=lambda r: (r["partition_id"], r["value"]),
    ):
        assert r["metric"] == "capture_row"
        rebuilt[r["partition_id"]].append(r["value_str"])
    assert dict(rebuilt) == {p: v for p, v in arr.items() if v}
    # every input row passes the pipeline → 20 captures per partition
    assert all(len(v) == 20 for v in rebuilt.values())


def test_composite_capture_validate_and_capture_one_rule(spark):
    """CompositeRegexRule(capture=True): one rule validates the prefix →
    matcher → suffix pipeline AND captures the matcher segment of passing
    rows (reference MatcherVsText, matchers.rs:38-431). Violating rows are
    NOT captured; the two row sets partition the non-null input."""
    import json

    from mdvalidate_spark.run import ValidationRun
    from mdvalidate_spark.spec import CompositeRegexRule, Spec

    rows = [
        ("k1", 0, "id-7x"),    # pass → capture '7'
        ("k2", 0, "id-12x"),   # pass → capture '12'
        ("k3", 0, "xx-7x"),    # prefix violation, no capture
        ("k4", 0, "id-ax"),    # matcher violation, no capture
        ("k5", 0, "id-7y"),    # suffix violation, no capture
        ("k6", 0, None),       # NULL: neither
    ]
    df = spark.createDataFrame(rows, "image_id string, pid int, s string")
    spec = Spec(
        rules=(
            CompositeRegexRule(
                "comp", column="s", prefix="id-", pattern="[0-9]+",
                suffix="x", capture=True,
            ),
        ),
        key_column="image_id",
        partition_column="pid",
    )
    rep = ValidationRun(spark, spec, df).validate()
    viol_keys = {r["image_id"] for r in
                 rep.violations.where("rule_id = 'comp'").collect()}
    assert viol_keys == {"k3", "k4", "k5"}
    caps = rep.metrics.where(
        "rule_id = 'comp' AND metric = 'captures'"
    ).collect()
    assert len(caps) == 1
    assert json.loads(caps[0]["value_str"]) == ["7", "12"]  # image_id order
    assert caps[0]["value"] == 2.0


def test_ref_rule_big_dim_unhinted(spark, images):
    """broadcast_dim=False leaves the join unhinted for huge dimensions (a
    10^9-key registry cannot be broadcast): with auto-broadcast disabled the
    plan is a shuffle join, and the orphan set is identical to the broadcast
    path."""
    exp = expected_violation_counts(ROWS)
    rule = RefIntegrityRule(
        "rf", column="source_id", dim_name="dim_source",
        dim_column="source_id", broadcast_dim=False,
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get(
        "spark.sql.adaptive.autoBroadcastJoinThreshold", None
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        v = ref_violations(images, rule, dim_source(spark), "t", "image_id")
        plan = v._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan
        assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan)
        assert v.count() == exp["orphan_rows"]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        if old_aqe is None:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        else:
            spark.conf.set(
                "spark.sql.adaptive.autoBroadcastJoinThreshold", old_aqe
            )


# ------------------------------------------------- when (scoped agg/ref rules)


def test_unique_when_scopes_to_subpopulation(spark):
    """`when` scopes uniqueness to the predicate-TRUE sub-population: a key
    duplicated across scopes is NOT a collision; duplicates inside the scope
    are."""
    rows = [
        ("a", "png"), ("a", "jpeg"),   # same key, different scopes → ok
        ("b", "png"), ("b", "png"),    # in-scope duplicate → violation
        ("c", "jpeg"), ("c", "jpeg"),  # out-of-scope duplicate → ignored
    ]
    df = spark.createDataFrame(rows, "k string, fmt string")
    rule = UniqueRule("uq_png", columns=("k",), when="fmt = 'png'")
    v = agg_rules.unique_violations(df, rule, "t")
    got = {(r["image_id"], r["actual"]) for r in v.collect()}
    assert got == {("b", "count=2")}


def test_count_when_zero_in_scope_group_is_zero(spark):
    """A `when`-scoped grouped count reports a group whose rows are ALL
    out-of-scope as count 0 when a universe enumerates it."""
    df = spark.createDataFrame(
        [("g1", "png"), ("g1", "png"), ("g2", "jpeg")], "g string, fmt string"
    )
    uni = spark.createDataFrame([("g1",), ("g2",)], "g string")
    rule = CountRule(
        "ct", group_by=("g",), min=1, universe="u", when="fmt = 'png'"
    )
    v = agg_rules.count_violations(df, rule, "t", universe=uni)
    got = {r["image_id"]: r["actual"] for r in v.collect()}
    assert got == {"g2": "0"}  # g2 has rows, but none in scope


def test_ref_when_scopes_integrity(spark):
    """`when`-scoped referential integrity ignores orphans outside the
    predicate's sub-population."""
    facts = spark.createDataFrame(
        [("r1", "x", "png", 0), ("r2", "zz", "png", 0), ("r3", "zz", "jpeg", 0)],
        "image_id string, fk string, fmt string, partition_id int",
    )
    dim = spark.createDataFrame([("x",)], "fk string")
    rule = RefIntegrityRule(
        "rf", column="fk", dim_name="d", dim_column="fk", when="fmt = 'png'"
    )
    v = ref_violations(facts, rule, dim, "t", "image_id")
    assert {r["image_id"] for r in v.collect()} == {"r2"}


def test_scoped_agg_when_validated_at_run_init(spark):
    """A typo'd `when` on a scoped aggregate rule is a SchemaError at run
    init, before any job — same gate as row rules."""
    from mdvalidate_spark.errors import SchemaError
    from mdvalidate_spark.run import ValidationRun
    from mdvalidate_spark.spec import Spec

    df = spark.createDataFrame([("a", 0, "png")], "image_id string, pid int, fmt string")
    for rule in (
        UniqueRule("u", columns=("image_id",), when="fmtt = 'png'"),
        CountRule("c", group_by=("fmt",), min=1, when="lenght(fmt) > 0"),
        RefIntegrityRule("r", column="fmt", dim_name="d", dim_column="fmt", when="fmt"),
        ColumnStatsRule("s", column="fmt", when="fmtt = 'png'"),
    ):
        spec = Spec(rules=(rule,), key_column="image_id", partition_column="pid")
        dims = {"d": df.select("fmt")}
        with pytest.raises(SchemaError):
            ValidationRun(spark, spec, df, dims=dims)


def test_stats_when_scopes_profile(spark, images):
    """`when`-scoped stats equal a manual pre-filter on every metric,
    including exact quantiles — the conditional-aggregation gate feeds the
    same NULL-skipping aggregates; scoped + unscoped rules fuse into one
    pass (single agg, no extra scan)."""
    when = "fmt = 'png'"
    scoped = ColumnStatsRule(
        "st_s", column="w", exact_distinct=True,
        quantiles=(0.5, 0.95), exact_quantiles=True, when=when,
    )
    unscoped = ColumnStatsRule("st_u", column="w", exact_distinct=True)
    fused = agg_rules.column_stats_metrics(images, (scoped, unscoped), "t")
    manual = agg_rules.column_stats_metrics(
        images.where(when),
        (ColumnStatsRule("st_s", column="w", exact_distinct=True,
                         quantiles=(0.5, 0.95), exact_quantiles=True),),
        "t",
    )
    got = {
        (r["rule_id"], r["metric"]): (r["value"], r["value_str"])
        for r in fused.collect()
    }
    want = {
        (r["rule_id"], r["metric"]): (r["value"], r["value_str"])
        for r in manual.collect()
    }
    assert {k: v for k, v in got.items() if k[0] == "st_s"} == want
    # scoped count is a strict subset; unscoped sees the whole table
    assert got[("st_s", "count")][0] < got[("st_u", "count")][0] == ROWS


def test_stats_moments_full_scan(spark, images):
    """moments=True adds mean/stddev (sample) matching the SQL aggregates,
    and composes with the `when` scope gate."""
    import math

    got = {
        r["metric"]: r["value"]
        for r in agg_rules.column_stats_metrics(
            images, (ColumnStatsRule("m", column="w", moments=True),), "t"
        ).collect()
    }
    want = images.agg(
        F.avg("w").alias("mean"), F.stddev_samp("w").alias("sd")
    ).collect()[0]
    assert got["mean"] == pytest.approx(want["mean"])
    assert got["stddev"] == pytest.approx(want["sd"])

    scoped = {
        r["metric"]: r["value"]
        for r in agg_rules.column_stats_metrics(
            images,
            (ColumnStatsRule("m", column="w", moments=True, when="fmt = 'png'"),),
            "t",
        ).collect()
    }
    manual = images.where("fmt = 'png'").agg(
        F.avg("w").alias("mean"), F.stddev_samp("w").alias("sd")
    ).collect()[0]
    assert scoped["mean"] == pytest.approx(manual["mean"])
    assert scoped["stddev"] == pytest.approx(manual["sd"])
    assert not math.isclose(scoped["mean"], got["mean"])  # scope is real


def test_stats_moments_non_numeric_rejected_at_init(spark):
    from mdvalidate_spark.errors import SchemaError
    from mdvalidate_spark.run import ValidationRun
    from mdvalidate_spark.spec import Spec

    df = spark.createDataFrame(
        [("a", 0, "png")], "image_id string, pid int, fmt string"
    )
    spec = Spec(
        rules=(ColumnStatsRule("m", column="fmt", moments=True),),
        key_column="image_id",
        partition_column="pid",
    )
    with pytest.raises(SchemaError):
        ValidationRun(spark, spec, df)


# ------------------------------------------------ value profile (top-k/entropy)


def test_value_profile_entropy_and_topk(spark):
    """Exact entropy and top-k against hand-computed values; deterministic
    tie-break by value ascending."""
    import math

    rows = [("a",)] * 5 + [("b",)] * 3 + [("c",)] * 3 + [("d",)] * 1 + [(None,)]
    df = spark.createDataFrame(rows, "fmt string")
    r = ColumnStatsRule("vp", column="fmt", top_values=3, entropy=True)
    out = agg_rules.value_profile_metrics(df, (r,), "t").collect()
    m = {x["metric"]: x for x in out}
    n = 12.0
    want_h = math.log(n) - (5 * math.log(5) + 3 * math.log(3) * 2 + 1 * math.log(1)) / n
    assert m["entropy"]["value"] == pytest.approx(want_h, abs=1e-12)
    assert (m["top_1"]["value_str"], m["top_1"]["value"]) == ("a", 5.0)
    # b and c tie at 3 -> value-ascending order
    assert (m["top_2"]["value_str"], m["top_2"]["value"]) == ("b", 3.0)
    assert (m["top_3"]["value_str"], m["top_3"]["value"]) == ("c", 3.0)
    assert set(m) == {"entropy", "top_1", "top_2", "top_3"}


def test_value_profile_when_scoped_and_multi_rule(spark):
    """Scoped rule profiles only in-scope rows; two rules share one pass."""
    rows = [(1, "x"), (2, "x"), (3, "y"), (4, "y"), (5, "y"), (6, None)]
    df = spark.createDataFrame(rows, "k int, fmt string")
    r1 = ColumnStatsRule("all", column="fmt", top_values=1)
    r2 = ColumnStatsRule("low", column="fmt", top_values=1, when="k <= 2")
    out = agg_rules.value_profile_metrics(df, (r1, r2), "t").collect()
    by_rule = {(x["rule_id"], x["metric"]): x for x in out}
    assert by_rule[("all", "top_1")]["value_str"] == "y"
    assert by_rule[("all", "top_1")]["value"] == 3.0
    assert by_rule[("low", "top_1")]["value_str"] == "x"
    assert by_rule[("low", "top_1")]["value"] == 2.0


def test_value_profile_through_validate_table(spark, tmp_path):
    """Spec-level integration: metrics rows appear in the report."""
    from mdvalidate_spark import validate_table
    from mdvalidate_spark.spec import Spec

    df = synthetic_images(spark, 200, with_bytes=False)
    spec = Spec(
        rules=(ColumnStatsRule("fmt_profile", column="fmt", top_values=2, entropy=True),),
        key_column="image_id",
        n_partitions=4,
    )
    rep = validate_table(spark, df, spec, checkpoint_dir=str(tmp_path / "cp"))
    mets = {r["metric"]: r for r in rep.metrics.where(F.col("rule_id") == "fmt_profile").collect()}
    assert "entropy" in mets and "top_1" in mets and "top_2" in mets
    assert mets["top_1"]["value"] >= mets["top_2"]["value"]
    assert rep.exit_code == 0


def test_value_profile_incremental_rejected_at_compile(spark):
    from mdvalidate_spark.compile import compile_spec
    from mdvalidate_spark.errors import SchemaError
    from mdvalidate_spark.spec import Spec

    df = spark.createDataFrame([("a",)], "fmt string")
    for kw in ({"top_values": 3}, {"entropy": True}):
        spec = Spec(
            rules=(ColumnStatsRule("vp", column="fmt", incremental=True, **kw),),
            key_column="fmt",
        )
        with pytest.raises(SchemaError, match="full-scan path"):
            compile_spec(spec, df)


def test_value_profile_topk_plan_is_take_ordered(spark):
    """The per-rule top-k must fuse to TakeOrderedAndProject — a bounded
    per-partition heap — not a global sort."""
    df = spark.createDataFrame([(f"v{i % 7}",) for i in range(100)], "fmt string")
    r = ColumnStatsRule("vp", column="fmt", top_values=2)
    out = agg_rules.value_profile_metrics(df, (r,), "t")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrdered" in plan
    assert "Python" not in plan


# ------------------------------------------------- FunctionalDependencyRule


def _fd_frame(spark):
    return spark.createDataFrame(
        [
            # det "a" -> consistent dep ("x", 1)
            ("r1", "a", "x", 1),
            ("r2", "a", "x", 1),
            # det "b" -> disagrees on dep1 ("x" vs "y")
            ("r3", "b", "x", 2),
            ("r4", "b", "y", 2),
            # det "c" -> disagrees only via NULL vs value
            ("r5", "c", "z", 3),
            ("r6", "c", None, 3),
            # NULL determinant group, consistent
            ("r7", None, "w", 4),
            ("r8", None, "w", 4),
        ],
        "k string, det string, dep1 string, dep2 int",
    )


def test_fd_rule_flags_disagreeing_determinants(spark):
    from mdvalidate_spark.spec import FunctionalDependencyRule

    df = _fd_frame(spark)
    v = agg_rules.fd_violations(
        df,
        FunctionalDependencyRule("fd", determinants=("det",), dependents=("dep1", "dep2")),
        "t",
    )
    rows = {r["image_id"]: r for r in v.collect()}
    # "b" disagrees on dep1; "c" disagrees NULL-vs-value (NULL is one
    # distinct dependent under groupBy semantics); "a" and the NULL
    # determinant group are consistent
    assert set(rows) == {"b", "c"}
    b = rows["b"]
    assert b["kind"] == "fd"
    assert b["column"] == "det"
    assert b["expected"] == "dep1,dep2 functionally determined"
    assert b["actual"].startswith("distinct=2 in [")


def test_fd_rule_when_scopes(spark):
    from mdvalidate_spark.spec import FunctionalDependencyRule

    df = _fd_frame(spark)
    v = agg_rules.fd_violations(
        df,
        FunctionalDependencyRule(
            "fd", determinants=("det",), dependents=("dep1",), when="dep2 <> 2"
        ),
        "t",
    )
    # scoping out dep2=2 removes determinant "b"'s conflict; "c" remains
    assert {r["image_id"] for r in v.collect()} == {"c"}


def test_fd_rule_compile_lint():
    from mdvalidate_spark.compile import compile_spec
    from mdvalidate_spark.errors import SchemaError
    from mdvalidate_spark.spec import FunctionalDependencyRule, Spec

    def spec(rule):
        return Spec(rules=(rule,), key_column="k")

    with pytest.raises(SchemaError):
        compile_spec(spec(FunctionalDependencyRule("f", determinants=(), dependents=("a",))))
    with pytest.raises(SchemaError):
        compile_spec(spec(FunctionalDependencyRule("f", determinants=("a",), dependents=())))
    # overlapping det/dep is vacuously satisfied -> rejected
    with pytest.raises(SchemaError):
        compile_spec(
            spec(FunctionalDependencyRule("f", determinants=("a", "b"), dependents=("b",)))
        )
    # staged as a GLOBAL group rule (finalize pass)
    prog = compile_spec(
        spec(FunctionalDependencyRule("f", determinants=("a",), dependents=("b",)))
    )
    assert prog.stages["group"] and prog.stages["group"][0].id == "f"


def test_fd_rule_through_run_lifecycle(spark, tmp_path):
    from mdvalidate_spark.run import ValidationRun
    from mdvalidate_spark.spec import FunctionalDependencyRule, Spec

    df = _fd_frame(spark)
    spec = Spec(
        rules=(
            FunctionalDependencyRule(
                "fd", determinants=("det",), dependents=("dep1",)
            ),
        ),
        key_column="k",
        n_partitions=4,
    )
    run = ValidationRun(spark, spec, df, checkpoint_dir=str(tmp_path / "cp"))
    run.validate_pending()
    rep = run.finalize()
    got = {r["image_id"] for r in rep.violations.where("rule_id = 'fd'").collect()}
    assert got == {"b", "c"}
    assert rep.exit_code == 1


def test_fd_rule_two_phase_plan_no_expand(spark):
    """The FD pass must be two plain hash aggregations over distinct pairs —
    no Expand node (countDistinct expansion), no Python."""
    from mdvalidate_spark.spec import FunctionalDependencyRule

    df = _fd_frame(spark)
    v = agg_rules.fd_violations(
        df,
        FunctionalDependencyRule("fd", determinants=("det",), dependents=("dep1",)),
        "t",
    )
    plan = v._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan
    assert "PythonUDF" not in plan


# ------------------------------------------------------------ FreshnessRule


def _fresh_frame(spark):
    from datetime import datetime

    rows = [
        ("a", datetime(2024, 1, 30, 23, 50, 0)),   # lag 600s at as_of
        ("a", datetime(2024, 1, 30, 20, 0, 0)),
        ("b", datetime(2024, 1, 30, 22, 0, 0)),    # lag 7200s -> stale
        ("c", None),                                # all-NULL group
    ]
    return spark.createDataFrame(rows, "src string, ts timestamp")


AS_OF = "2024-01-31 00:00:00"


def test_freshness_per_group(spark):
    from mdvalidate_spark.spec import FreshnessRule

    v = agg_rules.freshness_violations(
        _fresh_frame(spark),
        FreshnessRule(
            "fr", column="ts", max_age_seconds=1200, as_of=AS_OF,
            group_by=("src",),
        ),
        "t",
    )
    rows = {r["image_id"]: r for r in v.collect()}
    assert set(rows) == {"b", "c"}
    assert rows["b"]["actual"] == "lag_s=7200"
    assert rows["b"]["kind"] == "stale"
    assert rows["c"]["actual"] == "no non-null timestamps"


def test_freshness_global_and_pass(spark):
    from mdvalidate_spark.spec import FreshnessRule

    df = _fresh_frame(spark)
    # global max is 23:50 -> lag 600 <= 1200 -> no violation
    ok = agg_rules.freshness_violations(
        df,
        FreshnessRule("fr", column="ts", max_age_seconds=1200, as_of=AS_OF),
        "t",
    )
    assert ok.count() == 0
    # tighten the bound -> one global row keyed '*'
    bad = agg_rules.freshness_violations(
        df,
        FreshnessRule("fr", column="ts", max_age_seconds=599, as_of=AS_OF),
        "t",
    ).collect()
    assert len(bad) == 1 and bad[0]["image_id"] == "*"
    assert bad[0]["actual"] == "lag_s=600"


def test_freshness_when_scopes(spark):
    from mdvalidate_spark.spec import FreshnessRule

    # scope to src='a' only: fresh -> no violations even though b is stale
    v = agg_rules.freshness_violations(
        _fresh_frame(spark),
        FreshnessRule(
            "fr", column="ts", max_age_seconds=1200, as_of=AS_OF,
            group_by=("src",), when="src = 'a'",
        ),
        "t",
    )
    assert v.count() == 0


def test_freshness_compile_lint_and_lifecycle(spark):
    from mdvalidate_spark.compile import compile_spec
    from mdvalidate_spark.errors import SchemaError
    from mdvalidate_spark.run import ValidationRun
    from mdvalidate_spark.spec import FreshnessRule, Spec

    def spec(rule):
        return Spec(rules=(rule,), key_column="src")

    with pytest.raises(SchemaError):  # no as_of: engine never reads the clock
        compile_spec(spec(FreshnessRule("f", column="ts", max_age_seconds=10)))
    with pytest.raises(SchemaError):  # bad iso
        compile_spec(spec(FreshnessRule("f", column="ts", max_age_seconds=10, as_of="soon")))
    with pytest.raises(SchemaError):  # negative age
        compile_spec(spec(FreshnessRule("f", column="ts", max_age_seconds=-1, as_of=AS_OF)))

    run = ValidationRun(
        spark,
        spec(FreshnessRule("fr", column="ts", max_age_seconds=1200,
                           as_of=AS_OF, group_by=("src",))),
        _fresh_frame(spark),
    )
    run.validate_pending()
    rep = run.finalize()
    assert {r["image_id"] for r in rep.violations.collect()} == {"b", "c"}
    assert rep.exit_code == 1


# ------------------------------------------------------- table ratio check


def test_table_ratio_in_and_out_of_bounds(spark):
    from mdvalidate_spark.operators.ref_rules import table_ratio_check

    fact = spark.range(400).withColumnRenamed("id", "k")
    dim = spark.range(100).withColumnRenamed("id", "k")
    ok = table_ratio_check(fact, dim, "r1", min_ratio=3.0, max_ratio=5.0).collect()[0]
    assert ok["ratio"] == 4.0 and not ok["violated"]
    bad = table_ratio_check(fact, dim, "r2", min_ratio=5.0).collect()[0]
    assert bad["violated"]
    # open upper bound
    assert not table_ratio_check(fact, dim, "r3", min_ratio=1.0).collect()[0]["violated"]
    # open bounds render one-sided, never a literal 'None' (ADVICE r3)
    assert bad["expected"] == "ratio >= 5.0"
    only_max = table_ratio_check(fact, dim, "r4", max_ratio=5.0).collect()[0]
    assert only_max["expected"] == "ratio <= 5.0"
    assert ok["expected"] == "ratio in [3.0, 5.0]"


def test_table_ratio_when_scopes_and_empty_denominator_loud(spark):
    from pyspark.sql import functions as F
    from mdvalidate_spark.operators.ref_rules import table_ratio_check

    fact = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 2 == 0).alias("even")
    )
    dim = spark.range(10).withColumnRenamed("id", "k")
    scoped = table_ratio_check(
        fact, dim, "r", min_ratio=4.9, max_ratio=5.1, fact_when="even"
    ).collect()[0]
    assert scoped["fact_rows"] == 50.0 and scoped["ratio"] == 5.0
    # empty denominator is a violation with NULL ratio, never a silent pass
    empty = dim.where(F.lit(False))
    r = table_ratio_check(fact, empty, "r0", min_ratio=0.0).collect()[0]
    assert r["ratio"] is None and r["violated"]


def test_table_ratio_vacuous_and_inverted_bounds_rejected(spark):
    from mdvalidate_spark.errors import SchemaError
    from mdvalidate_spark.operators.ref_rules import table_ratio_check

    a = spark.range(2)
    with pytest.raises(SchemaError):
        table_ratio_check(a, a, "r")
    with pytest.raises(SchemaError):
        table_ratio_check(a, a, "r", min_ratio=2.0, max_ratio=1.0)
