"""Spec-level BenfordRule and GapRule: compile lints, serialization
round-trip, and finalize-stage execution through validate_table."""

import random
from datetime import datetime, timedelta

import pytest

from mdvalidate_spark import (
    BenfordRule,
    GapRule,
    Spec,
    compile_spec,
    validate_table,
)
from mdvalidate_spark.errors import SchemaError
from mdvalidate_spark.spec_io import rule_from_dict, rule_to_dict

T0 = datetime(2026, 3, 1)


def _table(spark, benford_ok=True):
    """id + organic/degenerate magnitude + per-feed timestamps with a
    planted 2h silence in feed 'A'."""
    rng = random.Random(11)
    rows = []
    for i in range(1500):
        mag = 10 ** rng.uniform(0, 5) if benford_ok else 7000.0 + i * 0.01
        feed = "A" if i % 2 == 0 else "B"
        minute = i % 60 if feed == "B" else (i % 30 if i < 750 else 180 + i % 30)
        rows.append((f"r{i}", mag, feed, T0 + timedelta(minutes=minute)))
    return spark.createDataFrame(
        rows, "image_id string, size double, feed string, ts timestamp"
    )


def test_round_trip_and_compile(spark):
    b = BenfordRule("sz", column="size", max_mad=0.02, min_rows=500)
    g = GapRule(
        "quiet", column="ts", min_gap_seconds=3600, group_by=("feed",),
        bucket_seconds=600,
    )
    assert rule_from_dict(rule_to_dict(b)) == b
    assert rule_from_dict(rule_to_dict(g)) == g
    prog = compile_spec(Spec(rules=[b, g]), _table(spark).schema)
    assert b in prog.stages["group"] and g in prog.stages["group"]


def test_compile_lints(spark):
    schema = _table(spark).schema
    with pytest.raises(SchemaError, match="needs a column"):
        compile_spec(Spec(rules=[BenfordRule("b")]), schema)
    with pytest.raises(SchemaError, match="max_mad"):
        compile_spec(
            Spec(rules=[BenfordRule("b", column="size", max_mad=0.0)]), schema
        )
    with pytest.raises(SchemaError, match="min_rows"):
        compile_spec(
            Spec(rules=[BenfordRule("b", column="size", min_rows=0)]), schema
        )
    with pytest.raises(SchemaError, match="must be numeric"):
        compile_spec(Spec(rules=[BenfordRule("b", column="feed")]), schema)
    with pytest.raises(SchemaError, match="min_gap_seconds"):
        compile_spec(
            Spec(rules=[GapRule("g", column="ts", min_gap_seconds=0)]), schema
        )
    with pytest.raises(SchemaError, match="bucket_seconds"):
        compile_spec(
            Spec(
                rules=[
                    GapRule(
                        "g", column="ts", min_gap_seconds=60, bucket_seconds=-1
                    )
                ]
            ),
            schema,
        )
    with pytest.raises(SchemaError, match="timestamp/date"):
        compile_spec(
            Spec(rules=[GapRule("g", column="size", min_gap_seconds=60)]),
            schema,
        )


def test_validate_table_clean_and_planted(spark, tmp_path):
    spec = Spec(
        key_column="image_id",
        rules=[
            BenfordRule("sz", column="size", max_mad=0.02, min_rows=500),
            GapRule(
                "quiet", column="ts", min_gap_seconds=3600,
                group_by=("feed",), bucket_seconds=600,
            ),
        ],
    )
    # benford-conformant magnitudes, but feed A has a planted >2h hole
    rep = validate_table(
        spark, _table(spark), spec, checkpoint_dir=str(tmp_path / "c1")
    )
    v = {
        (r["rule_id"], r["kind"], r["image_id"])
        for r in rep.violations.collect()
    }
    assert ("quiet", "gap", "A") in v
    assert not any(rid == "sz" for rid, _, _ in v)
    m = {r["metric"]: r["value"] for r in rep.metrics.collect() if r["rule_id"] == "sz"}
    assert 0.0 <= m["benford_mad"] <= 0.02 and m["benford_n_scoped"] == 1500.0
    assert rep.exit_code == 1

    # degenerate magnitudes now also trip the benford gate
    rep2 = validate_table(
        spark,
        _table(spark, benford_ok=False),
        spec,
        checkpoint_dir=str(tmp_path / "c2"),
    )
    kinds = {(r["rule_id"], r["kind"]) for r in rep2.violations.collect()}
    assert ("sz", "benford") in kinds


def test_benford_unmeasurable_violates_loudly(spark, tmp_path):
    df = _table(spark).limit(100)
    spec = Spec(
        key_column="image_id",
        rules=[BenfordRule("sz", column="size", min_rows=1000)],
    )
    rep = validate_table(spark, df, spec, checkpoint_dir=str(tmp_path / "c"))
    v = [r for r in rep.violations.collect() if r["rule_id"] == "sz"]
    assert len(v) == 1 and "unmeasurable" in v[0]["actual"]
    assert rep.exit_code == 1


def test_benford_incremental_through_run_and_resume(spark, tmp_path):
    """incremental=True rides the manifest-partial lifecycle: per-batch
    digit partials persist under the checkpoint, a RESUMED run reloads the
    validated partitions' partials and finalizes without rescanning them,
    and the merged verdict + metrics are bit-identical to the full-scan
    rule (same integer counts, same arithmetic). The ColumnStatsRule
    incremental contract, applied to Benford."""
    from mdvalidate_spark.run import ValidationRun

    df = _table(spark)
    rules = [
        BenfordRule(
            "sz_inc", column="size", max_mad=0.02, min_rows=500,
            when="size > 1.0", incremental=True,
        )
    ]
    spec = Spec(key_column="image_id", n_partitions=8, rules=rules)
    ckpt = str(tmp_path / "ck")

    run1 = ValidationRun(spark, spec, df, run_id="r-b", checkpoint_dir=ckpt)
    pending = run1.pending_partitions()
    run1._validate_batch(pending[:3])
    assert sorted(run1.pending_partitions()) == sorted(pending[3:])

    # resume in a NEW run object: reloads the 3 persisted digit partials,
    # validates the rest, merges at finalize
    run2 = ValidationRun(spark, spec, df, run_id="r-b", checkpoint_dir=ckpt)
    assert sorted(run2.pending_partitions()) == sorted(pending[3:])
    report = run2.validate()

    full = validate_table(
        spark, df,
        Spec(
            key_column="image_id", n_partitions=8,
            rules=[
                BenfordRule(
                    "sz_inc", column="size", max_mad=0.02, min_rows=500,
                    when="size > 1.0",
                )
            ],
        ),
        run_id="r-full",
    )

    def mm(rep):
        return sorted(
            (r["metric"], r["value"])
            for r in rep.metrics.collect()
            if r["rule_id"] == "sz_inc"
        )

    assert mm(report) == mm(full)
    assert report.violations.where("rule_id = 'sz_inc'").count() == 0
    assert full.violations.where("rule_id = 'sz_inc'").count() == 0

    # degenerate magnitudes trip the gate identically on both paths
    bad = _table(spark, benford_ok=False)
    inc_bad = validate_table(
        spark, bad,
        Spec(key_column="image_id", n_partitions=8, rules=rules),
        run_id="r-bad-inc", checkpoint_dir=str(tmp_path / "ck2"),
    )
    full_bad = validate_table(
        spark, bad,
        Spec(
            key_column="image_id", n_partitions=8,
            rules=[
                BenfordRule(
                    "sz_inc", column="size", max_mad=0.02, min_rows=500,
                    when="size > 1.0",
                )
            ],
        ),
        run_id="r-bad-full",
    )
    vi = inc_bad.violations.where("rule_id = 'sz_inc'").collect()
    vf = full_bad.violations.where("rule_id = 'sz_inc'").collect()
    assert len(vi) == 1 and vi[0]["actual"] == vf[0]["actual"]
    assert mm(inc_bad) == mm(full_bad)


def test_gap_rule_when_scope_and_global_series(spark, tmp_path):
    # when= scopes to feed B (steady minute cadence): no violations; the
    # ungrouped global series over feed A alone shows the hole
    spec = Spec(
        key_column="image_id",
        rules=[
            GapRule(
                "quiet_b", column="ts", min_gap_seconds=3600,
                when="feed = 'B'",
            )
        ],
    )
    rep = validate_table(
        spark, _table(spark), spec, checkpoint_dir=str(tmp_path / "c1")
    )
    assert rep.violations.where("rule_id = 'quiet_b'").count() == 0

    spec2 = Spec(
        key_column="image_id",
        rules=[
            GapRule(
                "quiet_a", column="ts", min_gap_seconds=3600,
                when="feed = 'A'",
            )
        ],
    )
    rep2 = validate_table(
        spark, _table(spark), spec2, checkpoint_dir=str(tmp_path / "c2")
    )
    rows = rep2.violations.where("rule_id = 'quiet_a'").collect()
    assert len(rows) == 1 and rows[0]["image_id"] == "*"
    assert rows[0]["actual"].startswith("gap_s=")


def test_benford_incremental_resume_with_empty_scope_first_batch(spark, tmp_path):
    """A `when`-scoped incremental BenfordRule whose first validated batch
    has ZERO in-scope rows writes a partials directory with no part files;
    resuming from that checkpoint must reload it (explicit schema — never
    inference, which refuses an empty dir) and finalize on the degrade
    path instead of crashing at ValidationRun.__init__."""
    from mdvalidate_spark.run import ValidationRun

    df = _table(spark)
    rules = [
        BenfordRule(
            "never", column="size", min_rows=1,
            when="size > 1e18", incremental=True,  # matches nothing
        )
    ]
    spec = Spec(key_column="image_id", n_partitions=6, rules=rules)
    ckpt = str(tmp_path / "ck-empty")

    run1 = ValidationRun(spark, spec, df, run_id="r-e", checkpoint_dir=ckpt)
    pending = run1.pending_partitions()
    run1._validate_batch(pending[:2])  # persists a part-file-less dir

    # pre-fix this raised AnalysisException (schema inference on an
    # empty parquet directory) before any validation could resume
    run2 = ValidationRun(spark, spec, df, run_id="r-e", checkpoint_dir=ckpt)
    rep = run2.validate()
    v = [r for r in rep.violations.collect() if r["rule_id"] == "never"]
    assert len(v) == 1 and "unmeasurable" in v[0]["actual"]
