"""Pixel-space quality / degeneracy detection: image_quality_stats +
degenerate_image_violations over the dedicated synthetic_quality_images
fixture (blank / saturated / undecodable plants + a brightness-shifted
partition as a drift probe)."""

import pytest
from pyspark.sql import functions as F

from mdvalidate_spark.errors import KIND_DEGENERATE, SchemaError
from mdvalidate_spark.operators.multimodal import (
    degenerate_image_violations,
    image_quality_stats,
)
from mdvalidate_spark.sources.synthetic import synthetic_quality_images

ROWS = 600
N_PARTS = 8


def expected_class(i: int) -> str | None:
    """The fixture's injection contract, precedence-ordered (synthetic.py)."""
    if i % 23 == 11:
        return "undecodable"
    if i % 13 == 5 or i % 17 == 7:
        return "blank_image"
    if i % 19 == 3:
        return "saturated_image"
    return None


@pytest.fixture(scope="module")
def qimages(spark):
    df = synthetic_quality_images(spark, ROWS, n_partitions=N_PARTS).cache()
    df.count()
    yield df
    df.unpersist()


def test_fixture_deterministic(spark, qimages):
    again = synthetic_quality_images(spark, ROWS, n_partitions=N_PARTS)
    a = {r["image_id"]: bytes(r["bytes"]) for r in qimages.collect()}
    b = {r["image_id"]: bytes(r["bytes"]) for r in again.collect()}
    assert a == b


def test_quality_stats_values(spark, qimages):
    stats = {r["image_id"]: r for r in image_quality_stats(qimages).collect()}
    assert len(stats) == ROWS
    for i in range(ROWS):
        r = stats[f"qimg{i:09d}"]
        cls = expected_class(i)
        if cls == "undecodable":
            assert not r["ok"] and r["brightness"] is None
            continue
        assert r["ok"] and (r["w"], r["h"]) == (48, 48)
        if i % 13 == 5:  # solid level-3: zero variance, all-min
            assert r["contrast"] == 0.0 and abs(r["brightness"] - 3.0) < 1e-9
            assert r["min_px"] == r["max_px"] == 3
            assert r["saturated_frac"] == 0.0
        elif i % 17 == 7:  # solid white: zero variance, fully saturated
            assert r["contrast"] == 0.0 and r["brightness"] == 255.0
            assert r["saturated_frac"] == 1.0
        elif i % 19 == 3:  # binary 0/255 noise: max saturation, huge contrast
            assert r["saturated_frac"] == 1.0
            assert r["contrast"] > 100
        else:  # noise (possibly brightness-shifted): mid stats, unsaturated
            assert 90 < r["brightness"] < 200
            assert r["contrast"] > 10
            assert r["saturated_frac"] < 0.1


def test_quality_stats_passthrough_columns(spark, qimages):
    out = image_quality_stats(qimages, passthrough=("partition_id", "fmt"))
    # the kernel echoes its own decoded fmt AND the passthrough fmt column:
    # passthrough names must not collide, so pick distinct ones in real use —
    # here rename to prove arbitrary extra columns survive the Arrow kernel
    out2 = image_quality_stats(
        qimages.withColumnRenamed("fmt", "fmt_col"),
        passthrough=("partition_id", "fmt_col"),
    )
    rows = out2.where("ok").limit(5).collect()
    assert all(r["partition_id"] is not None and r["fmt_col"] in ("png", "jpeg", "webp") for r in rows)
    assert "partition_id" in out.columns


def test_degenerate_classes_match_plant_exactly(spark, qimages):
    got = {
        r["image_id"]: r["class"]
        for r in degenerate_image_violations(qimages).collect()
    }
    want = {
        f"qimg{i:09d}": expected_class(i)
        for i in range(ROWS)
        if expected_class(i) is not None
    }
    assert got == want


def test_degenerate_violation_row_shape(spark, qimages):
    row = degenerate_image_violations(qimages).orderBy("image_id").first()
    assert row["rule_id"] == "degenerate_image"
    assert row["kind"] == KIND_DEGENERATE
    assert row["expected"] and row["actual"]


def test_degenerate_param_guards(spark, qimages):
    with pytest.raises(SchemaError, match="contrast_floor"):
        degenerate_image_violations(qimages, contrast_floor=-1.0)
    with pytest.raises(SchemaError, match="saturated_ceiling"):
        degenerate_image_violations(qimages, saturated_ceiling=0.0)
    with pytest.raises(SchemaError, match="saturated_ceiling"):
        degenerate_image_violations(qimages, saturated_ceiling=1.5)


def test_quality_stats_plan_map_only(spark, qimages):
    """The decode pass must stay a shuffle-free map: classification happens
    on the stats frame, never forcing a pre-aggregation of pixel data."""
    plan = image_quality_stats(qimages)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_brightness_drift_probe_partition(spark, qimages):
    """Partition P-1 plants a clip-free brightness shift (~+64): the stats
    frame must expose it as a per-partition mean gap — the decode-once input
    a DriftRule sweep consumes."""
    stats = image_quality_stats(qimages, passthrough=("partition_id",))
    means = (
        stats.where("ok AND contrast > 10 AND saturated_frac < 0.1")
        .groupBy("partition_id")
        .agg(F.avg("brightness").alias("b"))
        .collect()
    )
    by_pid = {r["partition_id"]: r["b"] for r in means}
    shifted = by_pid.pop(N_PARTS - 1)
    assert shifted > 175
    assert all(110 < v < 145 for v in by_pid.values())


# --------------------------------------------- spec-level DegenerateImageRule


def test_degenerate_rule_compile_lints(spark):
    from mdvalidate_spark import DegenerateImageRule, Spec
    from mdvalidate_spark.compile import compile_spec

    with pytest.raises(SchemaError, match="contrast_floor"):
        compile_spec(
            Spec(rules=(DegenerateImageRule("d", contrast_floor=-1),))
        )
    with pytest.raises(SchemaError, match="saturated_ceiling"):
        compile_spec(
            Spec(rules=(DegenerateImageRule("d", saturated_ceiling=1.5),))
        )


def test_degenerate_rule_requires_binary_column(spark, qimages):
    from mdvalidate_spark import DegenerateImageRule, Spec
    from mdvalidate_spark.compile import compile_spec

    bad = qimages.withColumn("bytes", F.lit("not binary"))
    with pytest.raises(SchemaError, match="BINARY"):
        compile_spec(
            Spec(rules=(DegenerateImageRule("d"),)), available_columns=bad.schema
        )
    # binary column compiles clean and stages into degenerate_rules
    prog = compile_spec(
        Spec(rules=(DegenerateImageRule("d"),)), available_columns=qimages.schema
    )
    assert len(prog.stages["degenerate"]) == 1 and not prog.stages["row"]


def _classes_from_report(report):
    out = {}
    for r in report.violations.where("kind = 'degenerate'").collect():
        if r["expected"] == "decodable":
            out[r["image_id"]] = "undecodable"
        elif r["expected"].startswith("contrast"):
            out[r["image_id"]] = "blank_image"
        else:
            out[r["image_id"]] = "saturated_image"
    return out


def test_degenerate_rule_standalone_run(spark, qimages, tmp_path):
    """DegenerateImageRule without a PixelRule: standalone decode→stats pass,
    violations match the fixture plant exactly, metrics land per partition."""
    from mdvalidate_spark import DegenerateImageRule, Spec
    from mdvalidate_spark.run import validate_table

    spec = Spec(
        rules=(DegenerateImageRule("degen"),),
        key_column="image_id",
        partition_column="partition_id",
        n_partitions=N_PARTS,
    )
    report = validate_table(spark, qimages, spec)
    got = _classes_from_report(report)
    want = {
        f"qimg{i:09d}": expected_class(i)
        for i in range(ROWS)
        if expected_class(i) is not None
    }
    assert got == want
    assert report.exit_code != 0
    mets = report.metrics.where("metric = 'degenerate_checked'").collect()
    assert sum(int(m["value"]) for m in mets) == ROWS
    failed = report.metrics.where("metric = 'degenerate_failed'").collect()
    assert sum(int(m["value"]) for m in failed) == len(want)


def test_degenerate_rides_pixel_decode(spark, monkeypatch):
    """With a PixelRule on the same bytes column the degenerate stage must
    consume the pixel stage's ride-along stats — the standalone decode path
    must never run (decode-once at corpus scale)."""
    import numpy as np

    from mdvalidate_spark import DegenerateImageRule, PixelRule, Spec
    from mdvalidate_spark.functions import codec
    from mdvalidate_spark.operators import pixel as pixel_ops
    from mdvalidate_spark.run import validate_table
    from mdvalidate_spark.sources.synthetic import synthetic_images

    def boom(*a, **k):
        raise AssertionError(
            "quality_only_results called despite a shared PixelRule decode"
        )

    monkeypatch.setattr(pixel_ops, "quality_only_results", boom)

    imgs = synthetic_images(spark, 400, with_bytes=True)
    solid = codec.encode(np.full((32, 32, 3), 9, dtype=np.uint8), "png")
    planted = imgs.withColumn(
        "bytes",
        F.when(F.col("i") % 50 == 7, F.lit(solid)).otherwise(F.col("bytes")),
    )
    spec = Spec(
        rules=(PixelRule("px"), DegenerateImageRule("degen")),
        key_column="image_id",
        n_partitions=4,
    )
    report = validate_table(spark, planted, spec)
    got = _classes_from_report(report)
    want = {
        r["image_id"]: "blank_image"
        for r in planted.where("i % 50 = 7").select("image_id").collect()
    }
    assert got == want
    # the pixel stage still emits its own verdicts from the same decode
    assert report.violations.where("kind = 'pixel'").count() > 0


def test_quality_native_arrow_parity(spark, tmp_path):
    """quality=True must emit identical stats on the native row-group scan
    and the Arrow exchange path."""
    from mdvalidate_spark.operators import pixel as pixel_ops
    from mdvalidate_spark.spec import PixelRule
    from mdvalidate_spark.sources.synthetic import synthetic_images

    path = str(tmp_path / "imgs")
    synthetic_images(spark, 300, with_bytes=True).write.parquet(path)
    df = spark.read.parquet(path)
    rule = PixelRule("px")
    native = pixel_ops.pixel_check_results(df, rule, "image_id", quality=True)
    assert "brightness" in native.columns
    arrow = pixel_ops._pixel_arrow(df, rule, "image_id", None, quality=True)

    def qset(frame):
        return {
            (
                r["image_id"], r["decoded"],
                None if r["brightness"] is None else round(r["brightness"], 9),
                None if r["contrast"] is None else round(r["contrast"], 9),
                None if r["saturated_frac"] is None else round(r["saturated_frac"], 9),
            )
            for r in frame.collect()
        }

    assert qset(native) == qset(arrow)


def test_stream_validate_degenerate_availablenow(spark, qimages, tmp_path):
    """The decode→stats kernel is stateless: streamed micro-batch verdicts
    must equal the batch run's, row for row."""
    from mdvalidate_spark import DegenerateImageRule, Spec
    from mdvalidate_spark.streaming.structured import (
        stream_finalize,
        stream_validate,
    )

    src = str(tmp_path / "qstream-src")
    ck = str(tmp_path / "qstream-ck")
    qimages.write.mode("overwrite").parquet(src)

    spec = Spec(rules=(DegenerateImageRule("degen"),), key_column="image_id")
    stream = spark.readStream.schema(qimages.schema).parquet(src)
    stream_validate(stream, spec, ck, run_id="s1").awaitTermination(120)
    got, _ = stream_finalize(spark, spec, ck, "s1")
    classes = {}
    for r in got.collect():
        assert r["run_id"] == "s1" and r["kind"] == "degenerate"
        if r["expected"] == "decodable":
            classes[r["image_id"]] = "undecodable"
        elif r["expected"].startswith("contrast"):
            classes[r["image_id"]] = "blank_image"
        else:
            classes[r["image_id"]] = "saturated_image"
    want = {
        f"qimg{i:09d}": expected_class(i)
        for i in range(ROWS)
        if expected_class(i) is not None
    }
    assert classes == want


def test_sample_rate_lints(spark):
    from mdvalidate_spark import DegenerateImageRule, PixelRule, Spec
    from mdvalidate_spark.compile import compile_spec

    with pytest.raises(SchemaError, match="sample_rate"):
        compile_spec(Spec(rules=(PixelRule("px", sample_rate=0.0),)))
    with pytest.raises(SchemaError, match="sample_rate"):
        compile_spec(Spec(rules=(DegenerateImageRule("d", sample_rate=1.5),)))
    # shared bytes column with differing samples = one decode, two claims
    with pytest.raises(SchemaError, match="share one sample"):
        compile_spec(
            Spec(
                rules=(
                    PixelRule("px", sample_rate=0.5),
                    DegenerateImageRule("d", sample_rate=1.0),
                )
            )
        )


def test_sampled_pixel_equals_full_restricted(spark, tmp_path):
    """sample_rate must pick exactly the sample_keep ids (no randomness) and
    the sampled verdicts must equal the full run's on those ids — on BOTH
    decode paths."""
    from mdvalidate_spark.operators import pixel as pixel_ops
    from mdvalidate_spark.spec import PixelRule
    from mdvalidate_spark.sources.synthetic import synthetic_images

    path = str(tmp_path / "imgs")
    synthetic_images(spark, 400, with_bytes=True).write.parquet(path)
    df = spark.read.parquet(path)

    full = {
        r["image_id"]: (r["ok"], r["expected"])
        for r in pixel_ops.pixel_check_results(
            df, PixelRule("px"), "image_id"
        ).collect()
    }
    thr = pixel_ops.sample_threshold(0.3)
    want_ids = {k for k in full if pixel_ops.sample_keep(k, thr)}
    assert 0 < len(want_ids) < len(full)  # a real, nontrivial sample

    rule = PixelRule("px", sample_rate=0.3)
    native = pixel_ops.pixel_check_results(df, rule, "image_id")
    arrow = pixel_ops._pixel_arrow(df, rule, "image_id", None)
    for frame in (native, arrow):
        got = {r["image_id"]: (r["ok"], r["expected"]) for r in frame.collect()}
        assert set(got) == want_ids
        assert got == {k: full[k] for k in want_ids}


def test_sampled_degenerate_run_metrics_denominator(spark, qimages):
    """A sampled DegenerateImageRule's checked metric must equal the sample
    size, and its violations must be the full plant restricted to the
    sample."""
    from mdvalidate_spark import DegenerateImageRule, Spec
    from mdvalidate_spark.operators import pixel as pixel_ops
    from mdvalidate_spark.run import validate_table

    spec = Spec(
        rules=(DegenerateImageRule("degen", sample_rate=0.4),),
        key_column="image_id",
        partition_column="partition_id",
        n_partitions=N_PARTS,
    )
    report = validate_table(spark, qimages, spec)
    thr = pixel_ops.sample_threshold(0.4)
    sampled = {
        f"qimg{i:09d}"
        for i in range(ROWS)
        if pixel_ops.sample_keep(f"qimg{i:09d}", thr)
    }
    got = _classes_from_report(report)
    want = {
        f"qimg{i:09d}": expected_class(i)
        for i in range(ROWS)
        if expected_class(i) is not None and f"qimg{i:09d}" in sampled
    }
    assert got == want
    mets = report.metrics.where("metric = 'degenerate_checked'").collect()
    assert sum(int(m["value"]) for m in mets) == len(sampled)


def test_degenerate_rule_json_round_trip(spark):
    from mdvalidate_spark import DegenerateImageRule, PixelRule, Spec
    from mdvalidate_spark.spec_io import spec_from_dict, spec_to_dict

    s = Spec(
        rules=(
            PixelRule("px", sample_rate=0.25),
            DegenerateImageRule(
                "d", contrast_floor=2.0, saturated_ceiling=0.9, sample_rate=0.25
            ),
        ),
        key_column="image_id",
    )
    assert spec_from_dict(spec_to_dict(s)) == s


# ------------------------------------------------------- suggest pixel gates


def test_suggest_pixel_gates_quality_only_table(spark, qimages):
    """No pixel contract columns: suggest drafts ONE DegenerateImageRule per
    binary column, ratcheted on the sampled decode profile, and the draft
    validates clean on the profiled table (observed blanks drag the contrast
    floor to 0; observed undecodables become a rate tolerance)."""
    from mdvalidate_spark import DegenerateImageRule, PixelRule
    from mdvalidate_spark.operators.suggest import suggest_spec
    from mdvalidate_spark.run import validate_table

    spec = suggest_spec(qimages, "image_id", pixel_gates=True)
    degs = [r for r in spec.rules if isinstance(r, DegenerateImageRule)]
    assert len(degs) == 1 and degs[0].bytes_column == "bytes"
    assert degs[0].contrast_floor == 0.0  # blanks observed in the profile
    assert degs[0].saturated_ceiling == 1.0  # fully-saturated plants observed
    assert degs[0].grayscale_floor == 0.0  # grayscale plants: class disabled
    assert degs[0].max_violation_rate and degs[0].max_violation_rate > 0
    assert not [r for r in spec.rules if isinstance(r, PixelRule)]
    report = validate_table(spark, qimages, spec)
    assert report.exit_code == 0  # ratchet: clean on the profiled table


def test_suggest_pixel_gates_full_contract(spark):
    """Full pixel contract (w/h/fmt/phash): one decode pass drafts BOTH
    rules; a healthy corpus yields real (nonzero) thresholds and the planted
    header clashes become a pixel rate tolerance that validates clean."""
    from mdvalidate_spark import DegenerateImageRule, PixelRule
    from mdvalidate_spark.operators.suggest import suggest_spec
    from mdvalidate_spark.run import validate_table
    from mdvalidate_spark.sources.synthetic import synthetic_images

    imgs = synthetic_images(spark, 500, with_bytes=True).cache()
    imgs.count()
    spec = suggest_spec(
        imgs, "image_id", pixel_gates=True, pixel_sample_rate=0.5
    )
    degs = [r for r in spec.rules if isinstance(r, DegenerateImageRule)]
    pxs = [r for r in spec.rules if isinstance(r, PixelRule)]
    assert len(degs) == 1 and len(pxs) == 1
    assert degs[0].contrast_floor > 10  # noise corpus: real contrast floor
    assert degs[0].grayscale_floor and degs[0].grayscale_floor > 20
    assert degs[0].max_violation_rate is None  # nothing undecodable observed
    assert pxs[0].max_violation_rate  # planted header clashes -> tolerance
    assert degs[0].sample_rate == pxs[0].sample_rate == 0.5
    # drafted gates survive their own compile (incl. shared-sample lint)
    # and validate clean on the profiled table
    report = validate_table(spark, imgs, spec)
    deg_viols = report.violations.where("kind = 'degenerate'").count()
    assert deg_viols == 0
    assert report.exit_code == 0
    imgs.unpersist()


def test_cli_suggest_pixel_gates_roundtrip(spark, qimages, tmp_path):
    """--suggest-pixel-gates drafts the payload gates through the CLI and the
    saved spec validates clean on the same table via a plain CLI run."""
    from mdvalidate_spark import cli
    from mdvalidate_spark.spec_io import load_spec

    table = str(tmp_path / "qimgs")
    qimages.write.parquet(table)
    specp = str(tmp_path / "suggested.json")

    code = cli.main(
        ["--spec", specp, "--table", table,
         "--suggest-key", "image_id",
         "--suggest-pixel-gates", "--suggest-pixel-sample", "0.5",
         "--master", "local[4]"]
    )
    assert code == 0
    drafted = load_spec(specp)
    degs = [r for r in drafted.rules if r.kind == "degenerate"]
    assert len(degs) == 1 and degs[0].sample_rate == 0.5

    code = cli.main(["--spec", specp, "--table", table, "--master", "local[4]"])
    assert code == 0


# ------------------------------------------------------ grayscale collapse


def expected_class_gray(i: int) -> str | None:
    """expected_class plus the opt-in grayscale class (fixture i%29==13)."""
    c = expected_class(i)
    if c is None and i % 29 == 13:
        return "grayscale_image"
    return c


def test_channel_diff_signal(spark, qimages):
    stats = image_quality_stats(qimages)
    rows = {r["image_id"]: r for r in stats.where("ok").collect()}
    for i in range(ROWS):
        r = rows.get(f"qimg{i:09d}")
        if r is None:
            continue
        if expected_class_gray(i) == "grayscale_image":
            assert r["channel_diff"] == 0.0
        elif expected_class(i) is None:
            # clean RGB noise ~88; the bright-shifted partition halves the
            # inter-channel gaps (~44) — both far above any sane floor
            assert r["channel_diff"] > 20


def test_grayscale_class_operator_and_spec(spark, qimages):
    from mdvalidate_spark import DegenerateImageRule, Spec
    from mdvalidate_spark.run import validate_table

    got = {
        r["image_id"]: r["class"]
        for r in degenerate_image_violations(
            qimages, grayscale_floor=5.0
        ).collect()
    }
    want = {
        f"qimg{i:09d}": expected_class_gray(i)
        for i in range(ROWS)
        if expected_class_gray(i) is not None
    }
    assert got == want
    # spec-level: same classes through the run lifecycle
    spec = Spec(
        rules=(DegenerateImageRule("degen", grayscale_floor=5.0),),
        key_column="image_id",
        partition_column="partition_id",
        n_partitions=N_PARTS,
    )
    report = validate_table(spark, qimages, spec)
    spec_got = {}
    for r in report.violations.where("kind = 'degenerate'").collect():
        if r["expected"] == "decodable":
            spec_got[r["image_id"]] = "undecodable"
        elif r["expected"].startswith("contrast"):
            spec_got[r["image_id"]] = "blank_image"
        elif r["expected"].startswith("saturated"):
            spec_got[r["image_id"]] = "saturated_image"
        else:
            spec_got[r["image_id"]] = "grayscale_image"
    assert spec_got == want


def test_grayscale_off_by_default(spark, qimages):
    got = {
        r["image_id"] for r in degenerate_image_violations(qimages).collect()
    }
    grays = {
        f"qimg{i:09d}"
        for i in range(ROWS)
        if expected_class_gray(i) == "grayscale_image"
    }
    assert not (got & grays)


def test_grayscale_floor_lints(spark, qimages):
    from mdvalidate_spark import DegenerateImageRule, Spec
    from mdvalidate_spark.compile import compile_spec

    with pytest.raises(SchemaError, match="grayscale_floor"):
        degenerate_image_violations(qimages, grayscale_floor=-1.0)
    with pytest.raises(SchemaError, match="grayscale_floor"):
        compile_spec(
            Spec(rules=(DegenerateImageRule("d", grayscale_floor=-0.5),))
        )


# ---------------------------------------------------------- review-batch locks


def test_sampled_tolerance_uses_checked_denominator(spark, qimages):
    """A sampled rule's max_violation_rate must divide by the SAMPLE's
    checked count, not the corpus row count — otherwise a poisoned corpus
    validates clean at 1/sample_rate times the declared tolerance."""
    from mdvalidate_spark import DegenerateImageRule, Spec
    from mdvalidate_spark.operators import pixel as pixel_ops
    from mdvalidate_spark.run import validate_table

    thr = pixel_ops.sample_threshold(0.4)
    sampled = [
        f"qimg{i:09d}"
        for i in range(ROWS)
        if pixel_ops.sample_keep(f"qimg{i:09d}", thr)
    ]
    bad = [k for k in sampled if expected_class(int(k[4:])) is not None]
    rate = len(bad) / len(sampled)
    assert rate > 0

    def run(tol):
        spec = Spec(
            rules=(
                DegenerateImageRule(
                    "degen", sample_rate=0.4, max_violation_rate=tol
                ),
            ),
            key_column="image_id",
            partition_column="partition_id",
            n_partitions=N_PARTS,
        )
        return validate_table(spark, qimages, spec).exit_code

    assert run(min(0.999, rate * 1.05)) == 0  # within budget on the sample
    # just under the sampled rate: MUST fail — under the old corpus-rows
    # denominator this computed rate*0.4 and wrongly passed
    assert run(rate * 0.95) == 1


def test_degenerate_pair_shared_sample_lint_and_decode_once(
    spark, qimages, monkeypatch
):
    from mdvalidate_spark import DegenerateImageRule, Spec
    from mdvalidate_spark.compile import compile_spec
    from mdvalidate_spark.operators import pixel as pixel_ops
    from mdvalidate_spark.run import validate_table

    with pytest.raises(SchemaError, match="share one sample"):
        compile_spec(
            Spec(
                rules=(
                    DegenerateImageRule("a", sample_rate=0.5),
                    DegenerateImageRule("b", sample_rate=1.0),
                )
            )
        )
    calls = {"n": 0}
    real = pixel_ops.quality_only_results

    def counting(*a, **k):
        calls["n"] += 1
        return real(*a, **k)

    monkeypatch.setattr(pixel_ops, "quality_only_results", counting)
    spec = Spec(
        rules=(
            DegenerateImageRule("strict", contrast_floor=5.0),
            DegenerateImageRule("lenient", contrast_floor=0.5),
        ),
        key_column="image_id",
        partition_column="partition_id",
        n_partitions=N_PARTS,
    )
    report = validate_table(spark, qimages, spec)
    assert calls["n"] == 1  # two rules, ONE decode of the shared column
    assert report.violations.where("rule_id = 'strict'").count() > 0


def test_sub_micro_sample_rate_rejected(spark):
    from mdvalidate_spark import DegenerateImageRule, PixelRule, Spec
    from mdvalidate_spark.compile import compile_spec
    from mdvalidate_spark.errors import SchemaError as SE
    from mdvalidate_spark.operators.suggest import suggest_spec

    with pytest.raises(SE, match="1e-6"):
        compile_spec(Spec(rules=(PixelRule("px", sample_rate=1e-7),)))
    # and the operator-level floor keeps direct callers at >= 1 micro-row
    from mdvalidate_spark.operators.pixel import sample_threshold

    assert sample_threshold(1e-9) == 1
    assert suggest_spec is not None  # suggest path: see the next test


def test_suggest_rate_validated_before_decode(spark, qimages):
    from mdvalidate_spark.errors import SchemaError as SE
    from mdvalidate_spark.operators.suggest import suggest_spec

    with pytest.raises(SE, match="pixel_sample_rate"):
        suggest_spec(
            qimages, "image_id", pixel_gates=True, pixel_sample_rate=1.5
        )
    with pytest.raises(SE, match="pixel_sample_rate"):
        suggest_spec(
            qimages, "image_id", pixel_gates=True, pixel_sample_rate=0.0
        )


def test_null_payload_parity_operator_vs_spec(spark, qimages):
    """A NULL bytes row is NotNullRule's job on BOTH surfaces: the operator
    form must not classify it undecodable (it used to), matching the
    spec-rule form."""
    withnull = qimages.withColumn(
        "bytes",
        F.when(F.col("i") == 0, F.lit(None).cast("binary")).otherwise(
            F.col("bytes")
        ),
    )
    stats = image_quality_stats(withnull)
    row = stats.where("image_id = 'qimg000000000'").first()
    assert row["ok"] is None and row["brightness"] is None
    flagged = {
        r["image_id"]
        for r in degenerate_image_violations(withnull).collect()
    }
    assert "qimg000000000" not in flagged


def test_suggest_second_binary_column_gets_no_pixel_rule(spark):
    """Contract columns describe THE payload ('bytes'): a second binary
    column must draft a quality gate only, never a PixelRule judging it
    against the main image's dims/phash."""
    from mdvalidate_spark import DegenerateImageRule, PixelRule
    from mdvalidate_spark.operators.suggest import suggest_spec
    from mdvalidate_spark.sources.synthetic import synthetic_images

    imgs = synthetic_images(spark, 300, with_bytes=True).withColumn(
        "thumb", F.col("bytes")
    )
    spec = suggest_spec(imgs, "image_id", pixel_gates=True)
    pxs = [r for r in spec.rules if isinstance(r, PixelRule)]
    degs = [r for r in spec.rules if isinstance(r, DegenerateImageRule)]
    assert len(pxs) == 1 and pxs[0].bytes_column == "bytes"
    assert sorted(d.bytes_column for d in degs) == ["bytes", "thumb"]


def test_stream_validate_pixel_matches_batch(spark, tmp_path):
    """Streamed pixel verdicts must equal the batch stage's, row for row —
    including under a decode sample (content-keyed membership is
    batch-boundary-independent)."""
    from mdvalidate_spark.operators import pixel as pixel_ops
    from mdvalidate_spark.spec import PixelRule, Spec
    from mdvalidate_spark.sources.synthetic import synthetic_images
    from mdvalidate_spark.streaming.structured import (
        stream_finalize,
        stream_validate,
    )

    src = str(tmp_path / "pxstream-src")
    ck = str(tmp_path / "pxstream-ck")
    df = synthetic_images(spark, 400, with_bytes=True)
    df.write.mode("overwrite").parquet(src)

    rule = PixelRule("px", sample_rate=0.6)
    spec = Spec(rules=(rule,), key_column="image_id")
    stream = spark.readStream.schema(df.schema).parquet(src)
    stream_validate(stream, spec, ck, run_id="s1").awaitTermination(120)
    viol, _ = stream_finalize(spark, spec, ck, "s1")
    got = {(r["image_id"], r["expected"]) for r in viol.collect()}
    batch = pixel_ops.pixel_check_results(
        spark.read.parquet(src), rule, "image_id"
    )
    want = {
        (r["image_id"], r["expected"])
        for r in batch.where("NOT ok").collect()
    }
    assert got == want and got  # nonempty: the fixture plants violations


def test_quality_drift_sweep_flags_shifted_partition(spark, qimages):
    """The decode→stats→leave-one-out composition must flag exactly the
    brightness-shifted partition (fixture plants +64 on P-1)."""
    from mdvalidate_spark.errors import SchemaError as SE
    from mdvalidate_spark.operators.multimodal import quality_drift_sweep

    # threshold sits between the small-sample noise floor (~2 PSI at ~60
    # rows/partition x 16 bins) and the planted shift (~21) — at corpus
    # scale the floor collapses toward 0 and the default 0.2 is right
    viol, mets, n_viol = quality_drift_sweep(
        qimages, "partition_id", metric="brightness", threshold=5.0
    )
    flagged = {r["image_id"] for r in viol.collect()}
    assert flagged == {f"partition_id={N_PARTS - 1}"}
    assert n_viol == 1
    # every partition got a stat row; only the shifted one crossed it
    stats = {r["value_str"]: r["value"] for r in mets.collect()}
    assert len(stats) == N_PARTS
    with pytest.raises(SE, match="metric"):
        quality_drift_sweep(qimages, "partition_id", metric="nope")


def test_quality_drift_sweep_thresholds_match_declared_rule(spark, qimages):
    """ADVICE r4: the sweep's degeneracy exclusion must follow the SAME
    thresholds as the run's DegenerateImageRule, not hardcoded defaults —
    a stricter contrast_floor shrinks the swept 'individually fine'
    population accordingly."""
    from mdvalidate_spark.operators.multimodal import (
        image_quality_stats,
        quality_drift_sweep,
    )

    # count how many decodable rows each floor admits
    stats = image_quality_stats(qimages).where("ok").cache()
    n_default = stats.where("contrast >= 1.0 AND saturated_frac <= 0.95").count()
    strict_floor = 40.0
    n_strict = stats.where(
        f"contrast >= {strict_floor} AND saturated_frac <= 0.95"
    ).count()
    assert n_strict < n_default  # the fixture has mid-contrast rows

    _, mets_default, _ = quality_drift_sweep(
        qimages, "partition_id", metric="brightness", threshold=5.0
    )
    _, mets_strict, _ = quality_drift_sweep(
        qimages, "partition_id", metric="brightness", threshold=5.0,
        contrast_floor=strict_floor,
    )
    # binning population differs -> the per-group stat rows must differ
    d = {r["value_str"]: r["value"] for r in mets_default.collect()}
    s = {r["value_str"]: r["value"] for r in mets_strict.collect()}
    assert set(d) == set(s)
    assert d != s
    stats.unpersist()


def test_checked_denominators_exclude_null_payloads(spark):
    """ADVICE r4: pixel_checked and degenerate_checked must both mean
    'rows the kernel could actually judge' — NULL payloads (NotNullRule's
    job) appear in NEITHER denominator, so a NULL-heavy corpus cannot
    deflate the pixel rule's soft-failure rate relative to the degenerate
    rule's on the same sample."""
    from mdvalidate_spark import DegenerateImageRule, PixelRule
    from mdvalidate_spark.operators import pixel as pixel_ops
    from mdvalidate_spark.sources.synthetic import synthetic_images

    n_null = 7
    base = synthetic_images(spark, 200, with_bytes=True)
    withnull = base.withColumn(
        "bytes",
        F.when(F.col("i") < n_null, F.lit(None).cast("binary")).otherwise(
            F.col("bytes")
        ),
    )
    total = withnull.count()
    rule = PixelRule("px")
    checks = pixel_ops.pixel_check_results(
        withnull, rule, "image_id", quality=True
    ).cache()
    # no check row at all for NULL payloads
    assert checks.count() == total - n_null
    _, pm = pixel_ops.pixel_outputs(checks, rule, "t")
    pixel_checked = sum(
        r["value"] for r in pm.collect() if r["metric"] == "pixel_checked"
    )
    drule = DegenerateImageRule("deg")
    _, dm = pixel_ops.degenerate_outputs(checks, drule, "t")
    deg_checked = sum(
        r["value"] for r in dm.collect() if r["metric"] == "degenerate_checked"
    )
    assert pixel_checked == deg_checked == total - n_null
    checks.unpersist()


def test_sampled_decode_requires_string_key(spark):
    """ADVICE r4: sampled decode membership hashes the stringified key and
    the native/Arrow paths stringify non-string keys differently — a
    sampled rule on a non-string key must refuse loudly at compile AND at
    the operator API; rate=1.0 keys of any type stay fine."""
    from mdvalidate_spark import DegenerateImageRule, PixelRule, Spec
    from mdvalidate_spark.compile import compile_spec
    from mdvalidate_spark.errors import SchemaError
    from mdvalidate_spark.operators import pixel as pixel_ops
    from mdvalidate_spark.sources.synthetic import synthetic_images

    base = synthetic_images(spark, 60, with_bytes=True)
    intkey = base.drop("image_id").withColumn(
        "image_id", F.col("i").cast("long")
    )
    sampled = PixelRule("px", sample_rate=0.5)
    with pytest.raises(SchemaError, match="STRING key"):
        pixel_ops.pixel_check_results(intkey, sampled, "image_id")
    with pytest.raises(SchemaError, match="STRING key"):
        pixel_ops.quality_only_results(
            intkey, DegenerateImageRule("deg", sample_rate=0.5), "image_id"
        )
    with pytest.raises(SchemaError, match="STRING key"):
        compile_spec(
            Spec(key_column="image_id", rules=(sampled,)), intkey.schema
        )
    # unsampled: non-string key is fine (membership hash never runs)
    assert pixel_ops.pixel_check_results(
        intkey.limit(20), PixelRule("px2"), "image_id"
    ).count() == 20
    # sampled + string key is fine
    compile_spec(Spec(key_column="image_id", rules=(sampled,)), base.schema)
