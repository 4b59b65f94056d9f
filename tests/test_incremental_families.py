"""The incremental-families table in run.py: every rule class with an
``incremental`` field is registered, each family's reload schema is the
schema its partial produces, a part-file-less partials directory resumes,
and a unit with no partials falls back to the full-scan result."""

import dataclasses

import pytest
from pyspark.sql import functions as F

from mdvalidate_spark import spec as spec_mod
from mdvalidate_spark import run as run_mod
from mdvalidate_spark.operators.row_rules import with_partition_id
from mdvalidate_spark.run import ValidationRun, validate_table
from mdvalidate_spark.sources.synthetic import synthetic_images
from mdvalidate_spark.spec import (
    BenfordRule,
    ColumnStatsRule,
    ConcentrationRule,
    DriftRule,
    EmbeddingHealthRule,
    NotNullRule,
    Spec,
)


def test_every_incremental_rule_class_is_registered():
    incremental = {
        c
        for c in vars(spec_mod).values()
        if isinstance(c, type)
        and dataclasses.is_dataclass(c)
        and "incremental" in {f.name for f in dataclasses.fields(c)}
    }
    registered = [fam.rule_type for fam in run_mod._INCREMENTAL_FAMILIES]
    assert len(registered) == len(set(registered))
    assert set(registered) == incremental
    sinks = [fam.sink for fam in run_mod._INCREMENTAL_FAMILIES]
    assert len(sinks) == len(set(sinks))


@pytest.fixture(scope="module")
def wide_table(spark):
    """One frame carrying a column for every incremental family."""
    return spark.range(0, 64, 1, 4).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).cast("int").alias("partition_id"),
        (F.col("id") * 37 + 11).alias("size"),
        F.concat(F.lit("v"), (F.col("id") % 3).cast("string")).alias("lang"),
        F.array(
            F.col("id").cast("double"), F.lit(1.0), (F.col("id") % 5).cast("double")
        ).alias("emb"),
        F.array_repeat(F.col("id").cast("double"), 600).alias("emb_wide"),
    )


_UNITS = {
    "drift": DriftRule(
        "d", column="size", sweep_by="partition_id", incremental=True
    ),
    "stats": ColumnStatsRule(
        "s", column="size", incremental=True, moments=True, quantiles=(0.5,)
    ),
    "benford": BenfordRule("b", column="size", incremental=True),
    "concentration": ConcentrationRule(
        "c", column="lang", max_top_share=0.9, incremental=True
    ),
    "health": EmbeddingHealthRule(
        "h", column="emb", dim=3, max_dead_dims=0, incremental=True
    ),
    "health_wide": EmbeddingHealthRule(
        "hw", column="emb_wide", dim=600, max_dead_dims=0, incremental=True
    ),
}


def _fields(schema):
    return {f.name: f.dataType.simpleString() for f in schema.fields}


@pytest.mark.parametrize("name", sorted(_UNITS))
def test_reload_schema_equals_partial_schema(spark, wide_table, name):
    rule = _UNITS[name]
    spec = Spec(key_column="k", n_partitions=4, rules=(rule,))
    run = ValidationRun(spark, spec, wide_table)
    (fam,) = [
        f for f in run_mod._INCREMENTAL_FAMILIES if isinstance(rule, f.rule_type)
    ]
    (unit,) = fam.units(run.program)
    reload = fam.reload_schema(run, unit)
    if isinstance(reload, str):
        reload = spark.createDataFrame([], reload).schema
    produced = fam.partial(run, run.df, unit).schema
    assert _fields(reload) == _fields(produced)


def _null_first_batch(spark):
    """Drift case: partitions 0-1 hold only NULL values, so the first
    batch's sweep partials are empty."""
    df = spark.range(0, 400, 1, 4).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).cast("int").alias("partition_id"),
        F.when(F.col("id") % 4 >= 2, (F.col("id") % 17).cast("double")).alias(
            "v"
        ),
    )
    rule = DriftRule(
        "sw", column="v", sweep_by="partition_id", incremental=True,
        exact_edges=True,
    )
    spec = Spec(key_column="k", n_partitions=4, rules=(rule,))
    return df, spec, [0, 1]


def _empty_first_batch(spark):
    """Stats case: 3 rows over 16 engine-derived partitions; the first
    batch covers only partitions that hold no rows."""
    df = spark.createDataFrame(
        [("a", 1), ("b", 5), ("c", None)], "k string, x int"
    )
    rule = ColumnStatsRule("st", column="x", incremental=True)
    spec = Spec(key_column="k", n_partitions=16, rules=(rule,))
    used = {
        r["partition_id"]
        for r in with_partition_id(df, spec).select("partition_id").collect()
    }
    empty = [p for p in range(16) if p not in used][:2]
    return df, spec, empty


def _rule_metrics(rep, rule_id):
    return sorted(
        (r["metric"], r["value"], r["value_str"])
        for r in rep.metrics.collect()
        if r["rule_id"] == rule_id
    )


@pytest.mark.parametrize(
    "case", [_null_first_batch, _empty_first_batch], ids=["drift", "stats"]
)
def test_resume_from_part_file_less_partials_dir(spark, tmp_path, case):
    df, spec, first_batch = case(spark)
    (rule,) = spec.rules
    ckpt = str(tmp_path / "ck")
    run1 = ValidationRun(spark, spec, df, run_id="r-pf", checkpoint_dir=ckpt)
    run1._validate_batch(first_batch)  # persists a part-file-less dir

    # with schema inference this raised [UNABLE_TO_INFER_SCHEMA] here
    run2 = ValidationRun(spark, spec, df, run_id="r-pf", checkpoint_dir=ckpt)
    resumed = _rule_metrics(run2.validate(), rule.id)
    if isinstance(rule, DriftRule):
        # edges froze on the all-NULL first batch, so the bins differ from
        # a fresh run's; every group with values still gets its statistic
        assert {m[2] for m in resumed} == {"2", "3"}
    else:
        fresh = _rule_metrics(validate_table(spark, df, spec), rule.id)
        assert resumed and resumed == fresh


@pytest.fixture(scope="module")
def images(spark):
    df = synthetic_images(spark, 2000, with_bytes=False).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.mark.parametrize(
    "rule",
    [
        ColumnStatsRule("late", column="w", incremental=True),
        DriftRule(
            "late", column="w", sweep_by="partition_id", method="psi",
            threshold=0.5, exact_edges=True, incremental=True,
        ),
    ],
    ids=["stats", "drift"],
)
def test_rule_added_after_finished_checkpoint_falls_back(
    spark, images, tmp_path, rule
):
    """A finished checkpoint resumed under a spec with one more
    incremental rule: no partition is pending, so the rule has no
    partials, and finalize computes it from a table scan — the same
    metrics a fresh run reports."""
    base = (NotNullRule("cap", column="caption"),)
    ckpt = str(tmp_path / "ck")
    first = Spec(rules=base, key_column="image_id", n_partitions=8)
    validate_table(spark, images, first, run_id="r-late", checkpoint_dir=ckpt)

    grown = Spec(rules=(*base, rule), key_column="image_id", n_partitions=8)
    run = ValidationRun(spark, grown, images, run_id="r-late", checkpoint_dir=ckpt)
    assert run.pending_partitions() == []
    resumed = run.validate()
    fresh = validate_table(spark, images, grown)
    got, want = _rule_metrics(resumed, "late"), _rule_metrics(fresh, "late")
    assert got and [m[0] for m in got] == [m[0] for m in want]
    if isinstance(rule, DriftRule):
        assert got == want
    else:
        # count / null_rate / min / max are exact on both paths; distinct
        # is a sketch estimate on each (HLL++ vs Datasketches HLL)
        exact = {"count", "null_rate", "min", "max"}
        assert [m for m in got if m[0] in exact] == [
            m for m in want if m[0] in exact
        ]
        (d_got,) = [m[1] for m in got if m[0] == "distinct"]
        (d_want,) = [m[1] for m in want if m[0] == "distinct"]
        assert abs(d_got - d_want) <= 0.05 * d_want
