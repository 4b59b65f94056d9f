"""The output contract (FIXTURES.md §3, ``mdvalidate_spark/schemas.py``):
every front end reports violations, metrics and manifest frames whose
columns, order and types are the declared DDLs, over a spec spanning every
stage. The row values are covered by each family's own tests."""

import os

import pytest
from pyspark.sql import functions as F

from mdvalidate_spark.compile import STAGES, scoped_spec
from mdvalidate_spark.run import ValidationRun
from mdvalidate_spark.schemas import MANIFEST_DDL, METRICS_DDL, VIOLATIONS_DDL
from mdvalidate_spark.sources.synthetic import (
    dim_source,
    full_images_spec,
    synthetic_images,
)
from mdvalidate_spark.spec import (
    BenfordRule,
    CaptureRule,
    ColumnStatsRule,
    ConcentrationRule,
    CountRule,
    DegenerateImageRule,
    DriftRule,
    FunctionalDependencyRule,
    MetricBoundRule,
    OutlierRule,
    SchemaRule,
    Spec,
    VolumeRule,
)
from mdvalidate_spark.streaming.incremental import FileIncrementalValidator
from mdvalidate_spark.streaming.structured import stream_finalize, stream_validate

PARTS = 4


def _spec(cap=None) -> Spec:
    base = full_images_spec(with_pixel=True, n_partitions=PARTS)
    return Spec(
        rules=base.rules + (
            SchemaRule("schema", expected=(("image_id", "string"),)),
            CountRule("per_part", min=1),
            CaptureRule("cap", column="caption", pattern=r"of (\w+)"),
            DegenerateImageRule("degenerate"),
            MetricBoundRule("w_mean", column="w", metric="mean", max=1.0),
            ColumnStatsRule("w_inc", column="w", incremental=True),
            FunctionalDependencyRule(
                "fd", determinants=("source_id",), dependents=("fmt",)
            ),
            OutlierRule("w_out", column="w"),
            BenfordRule("w_benford", column="w", min_rows=10),
            ConcentrationRule("fmt_conc", column="fmt", max_hhi=0.1),
            DriftRule("w_sweep", column="w", sweep_by="partition_id",
                      method="psi", threshold=0.01, incremental=True),
            VolumeRule("volume", min_partitions=2),
        ),
        key_column=base.key_column,
        n_partitions=PARTS,
        max_violations_per_rule=cap,
    )


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("contract") / "images")
    synthetic_images(spark, 600, with_bytes=True, n_partitions=PARTS).write.parquet(src)
    return src


@pytest.fixture(scope="module")
def dims(spark):
    return {"dim_source": dim_source(spark)}


def _columns(ddl: str) -> str:
    """The DDL as Spark renders a schema: names, order and types."""
    return "struct<" + ",".join(
        f"{name}:{'bigint' if typ == 'long' else typ}"
        for name, typ in (f.split(" ") for f in ddl.split(", "))
    ) + ">"


def _assert_contract(violations, metrics, manifest=None) -> None:
    assert violations.schema.simpleString() == _columns(VIOLATIONS_DDL)
    assert metrics.schema.simpleString() == _columns(METRICS_DDL)
    if manifest is not None:
        assert manifest.schema.simpleString() == _columns(MANIFEST_DDL)


def test_the_spec_spans_every_stage():
    assert {r.stage for r in _spec().rules} == set(STAGES)


@pytest.mark.parametrize("cap", [None, 2], ids=["uncapped", "capped"])
def test_one_shot_report_follows_the_contract(spark, table, dims, cap):
    run = ValidationRun(spark, _spec(cap), spark.read.parquet(table), dims=dims)
    rep = run.validate()
    _assert_contract(rep.violations, rep.metrics, rep.manifest)
    assert rep.violations.count() > 0 and rep.metrics.count() > 0
    run.release()


def test_resumed_report_follows_the_contract(spark, table, dims, tmp_path):
    """A resume reloads the partitioned violations and metrics sinks, which
    read their partition column last; the report still follows the
    contract's column order."""
    df = spark.read.parquet(table)
    ck = str(tmp_path / "ck")
    day1 = ValidationRun(
        spark, _spec(), df.where(F.col("partition_id") < 2), dims=dims,
        run_id="contract", checkpoint_dir=ck,
    )
    day1.validate(1)
    day1.release()
    run = ValidationRun(
        spark, _spec(), df, dims=dims, run_id="contract", checkpoint_dir=ck
    )
    assert run.pending_partitions() == [2, 3]
    rep = run.validate()
    _assert_contract(rep.violations, rep.metrics, rep.manifest)
    assert rep.violations.where(F.col("partition_id") < 2).count() > 0
    run.release()


def test_file_incremental_finalize_follows_the_contract(spark, table, dims):
    spec = _spec()
    spec = Spec(
        rules=tuple(r for r in spec.rules if not isinstance(r, VolumeRule)),
        key_column=spec.key_column,
        n_partitions=PARTS,
    )
    v = FileIncrementalValidator(spark, spec, table, dims=dims, run_id="contract")
    assert v.poll() > 0
    violations, metrics = v.finalize()
    _assert_contract(violations, metrics)
    v.release()


def test_stream_finalize_and_manifest_sink_follow_the_contract(
    spark, table, dims, tmp_path
):
    """The stream's evaluable part of the spec: its batch stages, without
    the run-scoped count and capture stages, plus incremental stats."""
    batch = scoped_spec(_spec(), "batch")
    spec = Spec(
        rules=tuple(
            r for r in batch.rules if r.stage not in ("count", "capture")
        ) + (ColumnStatsRule("w_inc", column="w", incremental=True),),
        key_column="image_id",
        n_partitions=PARTS,
    )
    ck = str(tmp_path / "ck")
    frame = spark.read.parquet(table)
    stream = spark.readStream.schema(frame.schema).parquet(table)
    stream_validate(stream, spec, ck, dims=dims, run_id="contract").awaitTermination(300)
    violations, metrics = stream_finalize(spark, spec, ck, "contract")
    manifest = spark.read.parquet(os.path.join(ck, "manifest")).drop("batch_id")
    _assert_contract(violations, metrics, manifest)
    assert violations.count() > 0 and manifest.count() > 0
