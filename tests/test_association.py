"""Joint-distribution association checks (operators/association.py):
chi-squared / Cramér's V profile and coupling drift (joint PSI vs
marginal PSIs)."""

import math

import pytest

from mdvalidate_spark.errors import SchemaError
from mdvalidate_spark.operators import association as A


def _pairs_df(spark, pairs):
    return spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)],
        "id long, a string, b string",
    )


def test_association_profile_independent_vs_determined(spark):
    """V = 1 when b is a function of a (perfect coupling); V ≈ 0 on a
    balanced independent grid (chi2 exactly 0 there — every observed count
    equals its expectation)."""
    # balanced independent 2x2 grid, 10 rows each
    indep = _pairs_df(
        spark, [(x, y) for x in "pq" for y in "uv" for _ in range(10)]
    )
    r = A.association_profile(indep, "a", "b").collect()[0]
    assert r["n_rows"] == 40 and r["n_cells"] == 4 and r["dof"] == 1
    assert r["chi2"] == 0.0 and r["cramers_v"] == 0.0

    # b determined by a -> V = 1
    det = _pairs_df(spark, [("p", "u")] * 7 + [("q", "v")] * 5)
    r = A.association_profile(det, "a", "b").collect()[0]
    assert r["cramers_v"] == 1.0
    assert r["chi2"] == pytest.approx(12.0, abs=1e-3)  # == n for 2x2 perfect


def test_association_profile_null_is_a_category(spark):
    """NULLs are a first-class category: all-NULL b coupled to a specific a
    value must register as association, and a literal 'null' string stays
    distinct from NULL (injective encoding)."""
    df = spark.createDataFrame(
        [(1, "p", None), (2, "p", None), (3, "q", "x"), (4, "q", "x"),
         (5, "r", "null"), (6, "r", "null")],
        "id long, a string, b string",
    )
    r = A.association_profile(df, "a", "b").collect()[0]
    # b has 3 distinct categories: NULL, 'x', literal 'null'
    assert r["card_b"] == 3
    assert r["cramers_v"] == 1.0  # b fully determined by a


def test_association_profile_degenerate_constant_column(spark):
    """A constant column has dof 0: chi2 = V = 0, no crash."""
    df = _pairs_df(spark, [("p", "u"), ("q", "u"), ("r", "u")])
    r = A.association_profile(df, "a", "b").collect()[0]
    assert r["dof"] == 0 and r["chi2"] == 0.0 and r["cramers_v"] == 0.0


def test_association_cell_cap_refuses_key_like_columns(spark):
    """More distinct cells than max_cells is a loud typed refusal, not a
    silent truncation."""
    df = _pairs_df(spark, [(str(i), str(i)) for i in range(10)])
    with pytest.raises(SchemaError, match="distinct cells"):
        A.association_profile(df, "a", "b", max_cells=5)


def test_association_drift_coupling_without_marginal_shift(spark):
    """The operator's reason to exist: identical marginals on both sides
    (same a-counts, same b-counts) but re-paired — joint PSI fires while
    both marginal PSIs read 0."""
    ref = _pairs_df(
        spark,
        [(x, y) for x in "pq" for y in "uv" for _ in range(25)],
    )  # independent: 25 per cell
    cand = _pairs_df(
        spark, [("p", "u")] * 50 + [("q", "v")] * 50
    )  # coupled: same 50/50 marginals
    r = A.association_drift(ref, cand, "a", "b").collect()[0]
    assert r["marginal_psi_a"] == 0.0 and r["marginal_psi_b"] == 0.0
    assert r["joint_psi"] > 1.0
    assert r["coupling_excess"] == r["joint_psi"]
    assert r["n_cells"] == 4  # union of cells (2 vanished on cand side)


def test_association_drift_identical_sides_read_zero(spark):
    df = _pairs_df(spark, [("p", "u")] * 3 + [("q", "v")] * 4 + [("p", "v")] * 2)
    r = A.association_drift(df, df, "a", "b").collect()[0]
    assert r["joint_psi"] == 0.0 and r["coupling_excess"] == 0.0


def test_association_drift_empty_side_refuses(spark):
    df = _pairs_df(spark, [("p", "u")])
    empty = df.where("id < 0")
    with pytest.raises(SchemaError, match="no rows"):
        A.association_drift(df, empty, "a", "b")


def test_association_rule_compile_lints(spark):
    from mdvalidate_spark import AssociationRule, Spec, compile_spec

    def _compile(rule):
        compile_spec(Spec(key_column="id", rules=(rule,)))

    with pytest.raises(SchemaError, match="DISTINCT columns"):
        _compile(AssociationRule("r", col_a="a", col_b="a", max_v=0.5))
    with pytest.raises(SchemaError, match="asserts nothing"):
        _compile(AssociationRule("r", col_a="a", col_b="b"))
    with pytest.raises(SchemaError, match="must be in"):
        _compile(AssociationRule("r", col_a="a", col_b="b", max_v=1.5))
    with pytest.raises(SchemaError, match="empty band"):
        _compile(
            AssociationRule("r", col_a="a", col_b="b", min_v=0.8, max_v=0.2)
        )
    # valid spec compiles and classifies as a group rule
    prog = compile_spec(
        Spec(
            key_column="id",
            rules=(AssociationRule("r", col_a="a", col_b="b", max_v=0.5),),
        )
    )
    assert any(r.id == "r" for r in prog.stages["group"])


def test_association_rule_results_band_and_degenerate(spark):
    coupled = _pairs_df(spark, [("p", "u")] * 6 + [("q", "v")] * 6)
    from mdvalidate_spark import AssociationRule

    # independence ceiling violated by coupled data; rounded V reported
    v, m = A.association_rule_results(
        coupled, AssociationRule("r", col_a="a", col_b="b", max_v=0.2), "run"
    )
    [viol] = v.collect()
    assert viol["kind"] == "association" and viol["actual"] == "1.000000"
    assert viol["expected"] == "cramers_v <= 0.2"
    met = {r["metric"]: r["value"] for r in m.collect()}
    assert met["cramers_v"] == 1.0 and met["assoc_dof"] == 1.0

    # coupling floor satisfied by the same data
    v, _ = A.association_rule_results(
        coupled, AssociationRule("r", col_a="a", col_b="b", min_v=0.9), "run"
    )
    assert v.count() == 0

    # constant column: floor unmeasurable -> violation; bare ceiling passes
    const = _pairs_df(spark, [("p", "u"), ("q", "u")])
    v, _ = A.association_rule_results(
        const, AssociationRule("r", col_a="a", col_b="b", min_v=0.5), "run"
    )
    assert "dof=0" in v.collect()[0]["actual"]
    v, _ = A.association_rule_results(
        const, AssociationRule("r", col_a="a", col_b="b", max_v=0.5), "run"
    )
    assert v.count() == 0

    # empty table: loud either way
    empty = coupled.where("id < 0")
    v, _ = A.association_rule_results(
        empty, AssociationRule("r", col_a="a", col_b="b", max_v=0.5), "run"
    )
    assert v.collect()[0]["actual"] == "0 rows"


def test_association_rule_results_boundless_refused(spark):
    """Direct operator call without compile_spec still refuses a vacuous
    band with a typed error (the metric_bounds precedent)."""
    from mdvalidate_spark import AssociationRule

    df = _pairs_df(spark, [("p", "u")])
    with pytest.raises(SchemaError, match="asserts nothing"):
        A.association_rule_results(
            df, AssociationRule("r", col_a="a", col_b="b"), "run"
        )


def test_association_rule_spec_io_roundtrip(tmp_path):
    from mdvalidate_spark import AssociationRule
    from mdvalidate_spark.spec_io import rule_from_dict, rule_to_dict

    r = AssociationRule(
        "fmt_lang", col_a="fmt", col_b="lang", min_v=0.1, max_v=0.9,
        max_cells=500,
    )
    assert rule_from_dict(rule_to_dict(r)) == r


def test_association_rule_in_validate_table(spark, tmp_path):
    """End-to-end: an AssociationRule rides the finalize stage — verdict,
    violation row, and metrics all land in the report."""
    from mdvalidate_spark import AssociationRule, Spec, validate_table

    df = _pairs_df(spark, [("p", "u")] * 8 + [("q", "v")] * 8)
    spec = Spec(
        key_column="id",
        rules=(AssociationRule("indep", col_a="a", col_b="b", max_v=0.3),),
    )
    report = validate_table(
        spark, df, spec, checkpoint_dir=str(tmp_path / "ckpt")
    )
    assert report.exit_code != 0
    viols = report.violations.where("rule_id = 'indep'").collect()
    assert len(viols) == 1 and viols[0]["kind"] == "association"
    met = {
        r["metric"]: r["value"]
        for r in report.metrics.where("rule_id = 'indep'").collect()
    }
    assert met["cramers_v"] == 1.0


def test_association_partials_merge_equals_full_scan(spark):
    """Cell partials accumulated over two disjoint batches merge to the
    BIT-IDENTICAL profile a full scan produces — the incremental EOF
    contract (same integer cells -> same full-grid chi2)."""
    from pyspark.sql import functions as F

    pairs = (
        [("p", "u")] * 10 + [("p", "v")] * 20
        + [("q", "u")] * 30 + [("q", "v")] * 41
    )
    df = _pairs_df(spark, pairs).withColumn(
        "partition_id", (F.col("id") % 3).cast("int")
    )
    batch0 = df.where("partition_id = 0")
    rest = df.where("partition_id != 0")
    partials = A.association_cell_partials(
        batch0, "a", "b"
    ).unionByName(A.association_cell_partials(rest, "a", "b"))
    merged = A.association_from_partials(partials, "a", "b").collect()[0]
    full = A.association_profile(df, "a", "b").collect()[0]
    assert merged.asDict() == full.asDict()


def test_association_partials_cap_refuses(spark):
    from pyspark.sql import functions as F

    df = _pairs_df(spark, [(str(i), str(i)) for i in range(10)]).withColumn(
        "partition_id", F.lit(0)
    )
    partials = A.association_cell_partials(df, "a", "b")
    with pytest.raises(SchemaError, match="distinct cells"):
        A.association_from_partials(partials, "a", "b", max_cells=5)


def test_association_matches_scipy_formula(spark):
    """chi2 against the hand-computed textbook value on an unbalanced 2x2
    table (o=observed, e=row·col/n)."""
    # cells: (p,u)=10, (p,v)=20, (q,u)=30, (q,v)=40
    pairs = (
        [("p", "u")] * 10 + [("p", "v")] * 20
        + [("q", "u")] * 30 + [("q", "v")] * 40
    )
    r = A.association_profile(_pairs_df(spark, pairs), "a", "b").collect()[0]
    n, rt = 100, {"p": 30, "q": 70}
    ct = {"u": 40, "v": 60}
    obs = {("p", "u"): 10, ("p", "v"): 20, ("q", "u"): 30, ("q", "v"): 40}
    expect = sum(
        (o - rt[a] * ct[b] / n) ** 2 / (rt[a] * ct[b] / n)
        for (a, b), o in obs.items()
    )
    assert r["chi2"] == pytest.approx(expect, abs=1e-3)
    assert r["cramers_v"] == pytest.approx(math.sqrt(expect / n), abs=1e-6)
