"""OutlierRule: robust IQR/MAD envelopes cross-checked against numpy, the
sketch path locked to the exact path on far-tail outliers, broadcast plan
shape, lints, and finalize staging."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from mdvalidate_spark.compile import compile_spec
from mdvalidate_spark.errors import SchemaError
from mdvalidate_spark.operators.outliers import MAD_SIGMA, outlier_violations
from mdvalidate_spark.spec import OutlierRule, Spec

# deterministic bimodal-ish base + planted far-tail corruption
VALS = [float(100 + (i * 7) % 50) for i in range(400)] + [9e6, -8e5, 1e7]
IDS = list(range(len(VALS)))


@pytest.fixture(scope="module")
def vdf(spark):
    df = spark.createDataFrame(
        [(str(i), v) for i, v in zip(IDS, VALS)], "image_id string, x double"
    ).cache()
    df.count()
    yield df
    df.unpersist()


def _spec(rule):
    return Spec(rules=(rule,), key_column="image_id", n_partitions=8)


def _np_iqr_fence(vals, k=1.5):
    q1, q3 = np.percentile(vals, [25, 75])  # 'linear' == SQL percentile
    lo, hi = q1 - k * (q3 - q1), q3 + k * (q3 - q1)
    return round(lo, 6), round(hi, 6)


def _np_mad_fence(vals, k=3.5):
    med = np.percentile(vals, 50)
    mad = np.percentile(np.abs(np.asarray(vals) - med), 50)
    half = k * MAD_SIGMA * mad
    return round(med - half, 6), round(med + half, 6)


def test_iqr_exact_matches_numpy(spark, vdf):
    rule = OutlierRule("o", column="x", method="iqr", exact=True)
    got = {r["image_id"] for r in outlier_violations(vdf, rule, "t", "image_id").collect()}
    lo, hi = _np_iqr_fence(VALS)
    want = {str(i) for i, v in zip(IDS, VALS) if v < lo or v > hi}
    assert got == want and len(got) == 3


def test_mad_exact_matches_numpy(spark, vdf):
    rule = OutlierRule("o", column="x", method="mad", exact=True)
    got = {r["image_id"] for r in outlier_violations(vdf, rule, "t", "image_id").collect()}
    lo, hi = _np_mad_fence(VALS)
    want = {str(i) for i, v in zip(IDS, VALS) if v < lo or v > hi}
    assert got == want and len(got) == 3
    row = outlier_violations(vdf, rule, "t", "image_id").orderBy(F.col("actual").desc()).first()
    assert row["kind"] == "outlier" and "mad k=3.5" in row["expected"]


def test_sketch_path_agrees_on_far_tail(spark, vdf):
    """The KLL envelope is approximate, but a 9e6 value against a [100, 150)
    base is outside ANY plausible envelope — the sketch path must flag
    exactly the planted corruption."""
    for method in ("iqr", "mad"):
        rule = OutlierRule("o", column="x", method=method, exact=False)
        got = {
            r["image_id"]
            for r in outlier_violations(vdf, rule, "t", "image_id").collect()
        }
        assert got == {"400", "401", "402"}, method


def test_grouped_envelopes_and_broadcast_plan(spark):
    # group A sits near 100, group B near 10000: a B-normal value planted in
    # A must flag, and the same number in B must not
    rows = [("a%d" % i, "A", float(100 + i % 9)) for i in range(200)]
    rows += [("b%d" % i, "B", float(10000 + i % 9)) for i in range(200)]
    rows += [("bad", "A", 10000.0), ("fine", "B", 10004.0)]
    df = spark.createDataFrame(rows, "image_id string, g string, x double")
    rule = OutlierRule("o", column="x", method="iqr", group_by=("g",), exact=True)
    v = outlier_violations(df, rule, "t", "image_id")
    got = {r["image_id"] for r in v.collect()}
    assert got == {"bad"}
    plan = v._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # envelope side broadcast
    assert "PythonUDF" not in plan


def test_when_scope_and_null_out_of_scope(spark):
    rows = [(str(i), "keep", float(i % 10)) for i in range(100)]
    rows += [("skip_me", "drop", 1e9), ("nullv", "keep", None)]
    df = spark.createDataFrame(rows, "image_id string, tag string, x double")
    rule = OutlierRule("o", column="x", method="iqr", when="tag = 'keep'", exact=True)
    got = {r["image_id"] for r in outlier_violations(df, rule, "t", "image_id").collect()}
    assert "skip_me" not in got and "nullv" not in got


def test_lints_and_staging(spark):
    df_schema = "image_id string, x double, s string"
    df = spark.createDataFrame([], df_schema)
    with pytest.raises(SchemaError, match="unknown outlier method"):
        compile_spec(_spec(OutlierRule("o", column="x", method="zscore")), df.schema)
    with pytest.raises(SchemaError, match="k must be > 0"):
        compile_spec(_spec(OutlierRule("o", column="x", k=-1.0)), df.schema)
    with pytest.raises(SchemaError, match="numeric"):
        compile_spec(_spec(OutlierRule("o", column="s")), df.schema)
    prog = compile_spec(_spec(OutlierRule("o", column="x")), df.schema)
    assert any(r.kind == "outlier" for r in prog.stages["group"])  # finalize stage


# ---------------------------------------------------------- quality bins


def test_quality_bins_exact_quartiles(spark):
    from mdvalidate_spark.operators.outliers import quality_bins

    df = spark.range(1, 101).select(F.col("id").alias("k"), F.col("id").cast("double").alias("s"))
    out = quality_bins(df, "s", 4, exact=True)
    sizes = {r.quality_bin: r.n for r in out.groupBy("quality_bin").agg(F.count("*").alias("n")).collect()}
    assert sizes == {1: 25, 2: 25, 3: 25, 4: 25}
    # monotone: every bin-2 score exceeds every bin-1 score
    m1 = out.where("quality_bin = 1").agg(F.max("s")).first()[0]
    m2 = out.where("quality_bin = 2").agg(F.min("s")).first()[0]
    assert m2 > m1


def test_quality_bins_null_scores_and_ties(spark):
    from mdvalidate_spark.operators.outliers import quality_bins

    df = spark.createDataFrame(
        [(1, 5.0), (2, 5.0), (3, 5.0), (4, 5.0), (5, None)], "k long, s double"
    )
    out = quality_bins(df, "s", 2, exact=True)
    rows = {r.k: r.quality_bin for r in out.collect()}
    assert rows[5] is None
    # all-tied scores land in ONE bin (deterministic), not split arbitrarily
    assert len({b for k, b in rows.items() if k != 5}) == 1


def test_quality_bins_sketch_close_to_exact(spark):
    from mdvalidate_spark.operators.outliers import quality_bins

    df = spark.range(2000).select((F.col("id") % 997).cast("double").alias("s"))
    a = quality_bins(df, "s", 4, exact=True).groupBy("quality_bin").count()
    for r in a.collect():
        assert 400 < r["count"] < 600  # roughly balanced
    b = quality_bins(df, "s", 4, exact=False).groupBy("quality_bin").count()
    for r in b.collect():
        assert 350 < r["count"] < 650  # sketch: close, not exact


def test_quality_bins_refusals(spark):
    from mdvalidate_spark.errors import SchemaError
    from mdvalidate_spark.operators.outliers import quality_bins

    df = spark.createDataFrame([(1, None)], "k long, s double")
    import pytest as _pt

    with _pt.raises(SchemaError, match="n_bins"):
        quality_bins(df, "s", 1)
    with _pt.raises(SchemaError, match="non-NULL"):
        quality_bins(df, "s", 2, exact=True)


# ---------------------------------------------------- derived-metric expr


def test_expr_envelope_bytes_per_pixel(spark):
    """OutlierRule.expr: bytes-per-pixel envelope per fmt from metadata
    alone — a truncated payload (tiny size for its dims) flags without any
    decode; identical-ratio rows stay clean."""
    rows = [
        (f"img{i}", "png", 100, 100, bytearray(b"x" * 30000)) for i in range(30)
    ]
    rows.append(("truncated", "png", 100, 100, bytearray(b"x" * 10)))
    # zero-dims row: the canonical try_divide form must NULL it out of
    # scope (RangeRule owns w=0) instead of ANSI-crashing the whole job
    rows.append(("zerodims", "png", 0, 100, bytearray(b"x" * 10)))
    df = spark.createDataFrame(
        rows, "image_id string, fmt string, w int, h int, bytes binary"
    )
    rule = OutlierRule(
        "bpp", expr="try_divide(length(bytes), w * h)", group_by=("fmt",),
        method="mad", exact=True,
    )
    got = {
        r["image_id"]: r
        for r in outlier_violations(df, rule, "t", "image_id").collect()
    }
    assert set(got) == {"truncated"}
    assert got["truncated"]["column"] == "try_divide(length(bytes), w * h)"
    assert got["truncated"]["actual"] == "0.001000"


def test_expr_lints_and_run_init_analysis(spark):
    from mdvalidate_spark import validate_table

    df_schema = "image_id string, x double, s string"
    empty = spark.createDataFrame([], df_schema)
    # exactly one of column/expr
    with pytest.raises(SchemaError, match="exactly one"):
        compile_spec(_spec(OutlierRule("o", column="x", expr="x + 1")),
                     empty.schema)
    with pytest.raises(SchemaError, match="exactly one"):
        compile_spec(_spec(OutlierRule("o")), empty.schema)
    # run init: unresolvable expr and non-numeric expr are typed errors
    df = spark.createDataFrame([("a", 1.0, "s")], df_schema)
    with pytest.raises(SchemaError, match="does not resolve"):
        validate_table(spark, df, _spec(OutlierRule("o", expr="lenght(s)")))
    with pytest.raises(SchemaError, match="not numeric"):
        validate_table(spark, df, _spec(OutlierRule("o", expr="concat(s, s)")))
