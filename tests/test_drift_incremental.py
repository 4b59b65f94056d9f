"""Incremental sweep drift (DriftRule.incremental): per-batch histogram
partials on frozen edges, merged at finalize without a table rescan —
the drift analog of the incremental stats partials. Covers: parity with
the one-pass sweep when both bin on the same edges, the resume path
(frozen edges persisted + partials reloaded), hot-group detection through
a resumed run, and the compile lint."""

import pytest
from pyspark.sql import functions as F

from mdvalidate_spark.compile import compile_spec
from mdvalidate_spark.errors import SchemaError
from mdvalidate_spark.operators import drift as drift_ops
from mdvalidate_spark.run import ValidationRun, validate_table
from mdvalidate_spark.sources.synthetic import synthetic_images
from mdvalidate_spark.spec import DriftRule, Spec

ROWS = 2000


@pytest.fixture(scope="module")
def images(spark):
    df = synthetic_images(spark, ROWS, with_bytes=False).cache()
    df.count()
    yield df
    df.unpersist()


def _rule(incremental, threshold=0.5):
    return DriftRule(
        "sw_w", column="w", sweep_by="partition_id", method="psi",
        threshold=threshold, exact_edges=True, incremental=incremental,
    )


def _stats(metrics_df, rule_id="sw_w"):
    return {
        r["value_str"]: r["value"]
        for r in metrics_df.collect()
        if r["rule_id"] == rule_id and r["metric"] == "psi_stat"
    }


def test_parity_with_one_pass_sweep(spark, images):
    # single batch → frozen edges == full-data edges → stats must be
    # IDENTICAL to the non-incremental one-pass sweep
    spec = Spec(rules=(_rule(True),), key_column="image_id", n_partitions=8)
    rep = validate_table(spark, images, spec, run_id="d-inc")
    got = _stats(rep.metrics)

    _, m, _ = drift_ops.drift_check(images, _rule(False), "d-one")
    want = _stats(m)
    assert got == want and len(got) == 8
    # the drift-planted partition (widths doubled on partition 7 by the
    # generator) dominates the sweep
    hot = max(got, key=got.get)
    assert hot == "7"


def test_resume_reloads_edges_and_partials(spark, images, tmp_path):
    ckpt = str(tmp_path / "ck")
    spec = Spec(rules=(_rule(True),), key_column="image_id", n_partitions=8)

    run1 = ValidationRun(spark, spec, images, run_id="d-res", checkpoint_dir=ckpt)
    pend = run1.pending_partitions()
    run1._validate_batch(pend[:3])
    frozen = run1._drift_frozen_edges["sw_w"]
    assert frozen  # edges froze on the first batch and persisted

    run2 = ValidationRun(spark, spec, images, run_id="d-res", checkpoint_dir=ckpt)
    rep = run2.validate()
    # the resumed run binned on run1's PERSISTED edges, not recomputed ones
    assert run2._drift_frozen_edges["sw_w"] == frozen
    got = _stats(rep.metrics)
    assert len(got) == 8  # every partition got a stat from merged partials
    assert max(got, key=got.get) == "7"
    # threshold 0.5 < the hot partition's stat → exactly its violation
    hot_viol = [
        r for r in rep.violations.collect() if r["rule_id"] == "sw_w"
    ]
    assert [r["image_id"] for r in hot_viol] == ["partition_id=7"]

    # reference check: merging the persisted partials by hand on the same
    # frozen edges reproduces the run's stats exactly
    partials = spark.read.parquet(f"{ckpt}/drift_partials/sw_w")
    _, m2, _ = drift_ops.drift_sweep_from_partials(
        spark, partials, _rule(True), "d-manual", frozen
    )
    assert _stats(m2) == got


def test_torn_edges_write_leaves_a_resumable_checkpoint(
    spark, images, tmp_path, monkeypatch
):
    """A crash while the first batch persists its frozen edges must not
    leave a truncated drift_edges file: the reopened run validates and
    matches an uninterrupted run with the same batches."""
    import json
    import os

    spec = Spec(rules=(_rule(True),), key_column="image_id", n_partitions=8)
    ckpt = str(tmp_path / "ck")

    def torn_dump(obj, fp, *a, **kw):
        fp.write(json.dumps(obj)[:7])
        raise OSError("disk full")

    with monkeypatch.context() as m:
        m.setattr(json, "dump", torn_dump)
        with pytest.raises(OSError, match="disk full"):
            ValidationRun(
                spark, spec, images, run_id="d-torn", checkpoint_dir=ckpt
            ).validate(batch_size=3)
    assert not os.path.exists(os.path.join(ckpt, "drift_edges_sw_w.json"))

    rep = ValidationRun(
        spark, spec, images, run_id="d-torn", checkpoint_dir=ckpt
    ).validate(batch_size=3)
    ref = ValidationRun(
        spark, spec, images, run_id="d-torn",
        checkpoint_dir=str(tmp_path / "ref"),
    ).validate(batch_size=3)
    assert _stats(rep.metrics) == _stats(ref.metrics)
    assert len(_stats(rep.metrics)) == 8
    assert sorted(map(tuple, rep.violations.collect())) == sorted(
        map(tuple, ref.violations.collect())
    )


def test_categorical_incremental_sweep_parity(spark, images):
    # categorical bins (top-N categories) freeze exactly like numeric
    # edges; merged partials must equal the one-pass categorical sweep
    rule = DriftRule(
        "sw_fmt", column="fmt", sweep_by="partition_id", method="psi",
        threshold=5.0, categorical=True, incremental=True,
    )
    spec = Spec(rules=(rule,), key_column="image_id", n_partitions=8)
    rep = validate_table(spark, images, spec, run_id="d-cat")
    got = _stats(rep.metrics, "sw_fmt")

    one = DriftRule(
        "sw_fmt", column="fmt", sweep_by="partition_id", method="psi",
        threshold=5.0, categorical=True,
    )
    _, m, _ = drift_ops.drift_check(images, one, "d-cat1")
    assert got == _stats(m, "sw_fmt") and len(got) == 8


def test_compile_lint_incremental_needs_sweep(spark):
    bad = DriftRule(
        "d", column="w", group_column="partition_id", group_value="7",
        incremental=True,
    )
    with pytest.raises(SchemaError):
        compile_spec(Spec(rules=(bad,), key_column="image_id"))


def test_partials_shape_bounded(spark, images):
    edges = drift_ops.compute_edges(images, _rule(True))
    p = drift_ops.sweep_histogram_partials(images, _rule(True), edges)
    rows = p.collect()
    # ≤ partitions × groups-per-partition × bins; here group == partition
    nb = len(drift_ops._dedupe_edges(edges)) + 1
    assert len(rows) <= 8 * nb
    assert {c for c in p.columns} == {"partition_id", "_g", "_bin", "n"}
    assert sum(r["n"] for r in rows) == ROWS  # every non-null row binned once
