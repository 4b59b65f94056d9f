"""Driver-built frames are JVM local relations (``schemas.local_frame``).

A frame built from a list of Python rows would be a parallelized Python
RDD, and every action over it would start Python worker tasks only to ship
the rows back into the JVM. These tests pin that every DDL the package
builds frames of gives the same values and schema through the Arrow path,
and that a run whose rules have no UDF reports frames with no Python RDD
scan anywhere in their plans."""

import ast
import importlib
import math
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

import mdvalidate_spark
from mdvalidate_spark import schemas
from mdvalidate_spark.run import ValidationRun
from mdvalidate_spark.schemas import local_frame
from mdvalidate_spark.sources.synthetic import (
    dim_source,
    full_images_spec,
    synthetic_images,
)
from mdvalidate_spark.spec import ColumnStatsRule, DriftRule, Spec

NAN, INF = float("nan"), float("inf")
#: per Spark type, the values every row set cycles through
VALUES = {
    StringType: [None, "", "é✓ 漢字", "a"],
    IntegerType: [None, 0, -1, 2**31 - 1],
    LongType: [None, 2**40, -5, 0],
    DoubleType: [None, NAN, INF, -INF, -0.0, 1.5],
    BooleanType: [None, True, False],
}
ARRAY_VALUES = [None, [], [1.0, NAN, -0.0, INF], [None, -INF]]


def _package_ddls() -> set[str]:
    """The DDL of every ``local_frame`` call in the package whose schema is
    a string literal or a module-level string constant."""
    pkg = os.path.dirname(mdvalidate_spark.__file__)
    out = set()
    for root, _, names in os.walk(pkg):
        for name in names:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            rel = os.path.relpath(path, os.path.dirname(pkg))[:-3]
            module = importlib.import_module(rel.replace(os.sep, "."))
            with open(path) as f:
                tree = ast.parse(f.read())
            for node in ast.walk(tree):
                if not (
                    isinstance(node, ast.Call)
                    and getattr(node.func, "id", None) == "local_frame"
                    and len(node.args) >= 2
                ):
                    continue
                arg = node.args[1]
                if isinstance(arg, ast.Constant) and isinstance(arg.value, str):
                    out.add(arg.value)
                elif isinstance(arg, ast.Name) and isinstance(
                    getattr(module, arg.id, None), str
                ):
                    out.add(getattr(module, arg.id))
    return out


def _rows(struct: StructType, n: int = 6) -> list[tuple]:
    pools = [
        ARRAY_VALUES if isinstance(f.dataType, ArrayType)
        else VALUES[type(f.dataType)]
        for f in struct.fields
    ]
    return [tuple(p[(k + i) % len(p)] for i, p in enumerate(pools)) for k in range(n)]


def _is_local_relation(df) -> bool:
    plan = df._jdf.queryExecution().analyzed()
    return plan.getClass().getSimpleName() == "LocalRelation"


def test_the_package_ddls_are_harvested():
    ddls = _package_ddls()
    from mdvalidate_spark.operators.drift import SNAPSHOT_DDL

    for ddl in (schemas.VIOLATIONS_DDL, schemas.METRICS_DDL,
                schemas.MANIFEST_DDL, SNAPSHOT_DDL,
                "cell int, centroid array<double>"):
        assert ddl in ddls
    assert len(ddls) >= 15


@pytest.mark.parametrize("ddl", sorted(_package_ddls()))
def test_local_frame_matches_the_row_list_path(spark, ddl):
    struct = StructType.fromDDL(ddl)
    for rows in (_rows(struct), []):
        got = local_frame(spark, ddl, rows)
        want = spark.createDataFrame(rows, ddl)
        assert got.schema == want.schema
        # repr, not ==: NaN != NaN, and -0.0 == 0.0 would hide a sign flip
        assert repr(got.collect()) == repr(want.collect())
        assert _is_local_relation(got)


def test_local_frame_keeps_nan_apart_from_null(spark):
    got = local_frame(spark, "d double, a array<double>", [(NAN, [NAN]), (None, None)])
    (r1, r2) = got.collect()
    assert math.isnan(r1.d) and math.isnan(r1.a[0])
    assert r2.d is None and r2.a is None
    assert got.where(F.isnan("d")).count() == 1


def test_empty_local_frame_of_a_stream_schema(spark):
    struct = StructType([
        StructField("image_id", StringType(), False),
        StructField("bytes", BinaryType()),
        StructField("ts", TimestampType()),
        StructField("partition_id", IntegerType()),
    ])
    empty = local_frame(spark, struct)
    assert empty.schema == spark.createDataFrame([], struct).schema
    assert _is_local_relation(empty)
    assert empty.unionByName(empty).count() == 0
    assert empty.collect() == []


def _python_rdd_scans(df) -> list[str]:
    """Plan lines of a scan over a Python RDD, the executed plan and every
    cached child (an InMemoryRelation prints its cached plan)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [line for line in plan.splitlines() if "ExistingRDD" in line]


def _assert_no_python_rdd(report):
    for name in ("violations", "metrics", "manifest"):
        assert _python_rdd_scans(getattr(report, name)) == [], name


@pytest.fixture(scope="module")
def images(spark, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("local_frames") / "images")
    synthetic_images(spark, 1000, n_partitions=4).write.parquet(src)
    return spark.read.parquet(src)


def test_udf_free_one_shot_run_has_no_python_rdd(spark, images):
    spec = full_images_spec(with_pixel=False, n_partitions=4)
    run = ValidationRun(spark, spec, images, dims={"dim_source": dim_source(spark)},
                        run_id="local-oneshot")
    try:
        _assert_no_python_rdd(run.validate())
    finally:
        run.release()


def test_udf_free_resumed_run_has_no_python_rdd(spark, images, tmp_path):
    base = full_images_spec(with_pixel=False, n_partitions=4)
    swapped = {
        "stats_w": ColumnStatsRule("stats_w", column="w", incremental=True,
                                   quantiles=(0.5, 0.9)),
        "stats_caption": ColumnStatsRule("stats_caption", column="caption",
                                         incremental=True),
        "w_drift": DriftRule("w_drift", column="w", sweep_by="partition_id",
                             method="psi", threshold=0.2, incremental=True),
    }
    spec = Spec(
        rules=tuple(swapped.get(r.id, r) for r in base.rules
                    if r.id not in {"unique_image_id", "src_ref"}),
        key_column=base.key_column,
        n_partitions=4,
    )
    dims = {"dim_source": dim_source(spark)}
    ck = str(tmp_path / "ck")
    day1 = ValidationRun(spark, spec, images.where(F.col("partition_id") < 2),
                         dims=dims, run_id="local-resume", checkpoint_dir=ck)
    day1.validate(1)
    day1.release()
    run = ValidationRun(spark, spec, images, dims=dims, run_id="local-resume",
                        checkpoint_dir=ck)
    try:
        assert run.pending_partitions() == [2, 3]
        _assert_no_python_rdd(run.validate())
    finally:
        run.release()
