"""Streaming tests: file-incremental polling (the stdin-chunk analog) and
Structured Streaming row rules / windowed count bounds."""

import os

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from mdvalidate_spark.compile import compile_spec
from mdvalidate_spark.sources.synthetic import (
    dim_source,
    expected_violation_counts,
    synthetic_images,
)
from mdvalidate_spark.errors import SchemaError
from mdvalidate_spark.run import ValidationRun
from mdvalidate_spark.spec import (
    CaptureRule,
    ColumnStatsRule,
    CompositeRegexRule,
    CountRule,
    DegenerateImageRule,
    DomainRule,
    DriftRule,
    FunctionalDependencyRule,
    MetricBoundRule,
    OverlapRule,
    PixelRule,
    RangeRule,
    RefIntegrityRule,
    RegexRule,
    SchemaRule,
    SequenceRule,
    SequenceStep,
    Spec,
    UniqueRule,
    VolumeRule,
)
from mdvalidate_spark.streaming.incremental import FileIncrementalValidator
from mdvalidate_spark.streaming.structured import (
    stream_finalize,
    stream_row_violations,
    stream_validate,
    stream_volume_anomaly,
    windowed_count_rule,
)

ROWS = 600


def spec_rows(fast_fail=False):
    return Spec(
        rules=(
            RegexRule("caption_regex", column="caption", pattern=r"A photo number \d+ of \w+"),
            RangeRule("w_range", column="w", min=1, max=10000),
            DomainRule("fmt_domain", column="fmt", values=("jpeg", "png", "webp")),
        ),
        key_column="image_id",
        fast_fail=fast_fail,
    )


@pytest.fixture()
def growing_table(spark, tmp_path):
    """Three arrival chunks of the same deterministic table."""
    base = str(tmp_path / "arrivals")
    df = synthetic_images(spark, ROWS, with_bytes=False).cache()
    chunks = []
    for i, (lo, hi) in enumerate([(0, 200), (200, 400), (400, 600)]):
        part = df.where((F.col("i") >= lo) & (F.col("i") < hi))
        chunks.append((part, os.path.join(base, f"chunk{i}")))
    yield base, chunks
    df.unpersist()


def test_incremental_poll_matches_batch(spark, growing_table, tmp_path):
    base, chunks = growing_table
    os.makedirs(base, exist_ok=True)
    v = FileIncrementalValidator(
        spark, spec_rows(), base, run_id="inc", checkpoint_dir=str(tmp_path / "ck")
    )
    assert v.poll() == 0  # nothing has arrived yet

    total = 0
    for part, path in chunks:
        part.write.mode("overwrite").parquet(path)
        n = v.poll()
        assert n >= 0
        total += n
        assert v.poll() == 0  # second poll with no new files is a no-op

    exp = expected_violation_counts(ROWS)
    assert total == exp["caption_regex"] + exp["w_range"] + exp["fmt_domain"]
    viols, mets = v.finalize()
    assert viols.count() == total


def test_incremental_resume_across_restart(spark, growing_table, tmp_path):
    base, chunks = growing_table
    ck = str(tmp_path / "ck2")
    chunks[0][0].write.mode("overwrite").parquet(chunks[0][1])
    v1 = FileIncrementalValidator(spark, spec_rows(), base, run_id="inc2", checkpoint_dir=ck)
    n1 = v1.poll()
    assert n1 > 0

    # "restart": a new validator over the same checkpoint skips chunk 0
    chunks[1][0].write.mode("overwrite").parquet(chunks[1][1])
    v2 = FileIncrementalValidator(spark, spec_rows(), base, run_id="inc2", checkpoint_dir=ck)
    assert all("chunk0" in f for f in v2._validated_files)
    n2 = v2.poll()
    exp_chunk1 = 1  # caption breaks at i=199 is chunk0; chunk1 has i=399 fmt etc.
    assert n2 > 0
    assert v2.pending_files() == []


def test_fast_fail_stops_polling(spark, growing_table, tmp_path):
    base, chunks = growing_table
    for part, path in chunks[:2]:
        part.write.mode("overwrite").parquet(path)
    v = FileIncrementalValidator(spark, spec_rows(fast_fail=True), base, run_id="ff")
    n = v.poll()
    assert n > 0
    chunks[2][0].write.mode("overwrite").parquet(chunks[2][1])
    assert v.poll() == 0  # red + fast_fail → no more scheduling


def test_stream_row_violations_availablenow(spark, tmp_path):
    src = str(tmp_path / "stream-src")
    out = str(tmp_path / "stream-out")
    ck = str(tmp_path / "stream-ck")
    df = synthetic_images(spark, ROWS, with_bytes=False)
    df.write.mode("overwrite").parquet(src)

    spec = spec_rows()
    prog = compile_spec(spec, df.columns)
    stream = spark.readStream.schema(df.schema).parquet(src)
    viol_stream = stream_row_violations(stream, prog, "s1")
    assert viol_stream.isStreaming

    q = (
        viol_stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    exp = expected_violation_counts(ROWS)
    counts = {r["rule_id"]: r["n"] for r in got.groupBy("rule_id").agg(F.count("*").alias("n")).collect()}
    assert counts["caption_regex"] == exp["caption_regex"]
    assert counts["w_range"] == exp["w_range"]
    assert counts["fmt_domain"] == exp["fmt_domain"]


def test_windowed_count_rule_events(spark, tmp_path):
    src = str(tmp_path / "ev-src")
    out = str(tmp_path / "ev-out")
    ck = str(tmp_path / "ev-ck")
    # 3 one-minute windows: 5, 1, and 12 events → min=2, max=10 flags two
    rows = []
    import datetime as dt

    base = dt.datetime(2026, 1, 1, 0, 0, 0)
    for i in range(5):
        rows.append((i, base + dt.timedelta(seconds=i)))
    rows.append((100, base + dt.timedelta(minutes=1, seconds=5)))
    for i in range(12):
        rows.append((200 + i, base + dt.timedelta(minutes=2, seconds=i)))
    # sentinel far in the future so the watermark closes all earlier windows
    rows.append((999, base + dt.timedelta(minutes=30)))
    df = spark.createDataFrame(rows, "event_id long, ts timestamp")
    df.write.mode("overwrite").parquet(src)

    rule = CountRule("win_count", min=2, max=10)
    stream = spark.readStream.schema(df.schema).parquet(src)
    viol = windowed_count_rule(stream, rule, "ts", window="1 minute", watermark="0 seconds")
    q = (
        viol.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["image_id"]: r["actual"] for r in spark.read.parquet(out).collect()}
    assert got.get("2026-01-01 00:01:00") == "1"   # under min
    assert got.get("2026-01-01 00:02:00") == "12"  # over max
    assert "2026-01-01 00:00:00" not in got        # in bounds


def test_stateful_duplicate_violations_across_batches(spark, tmp_path):
    """Cross-micro-batch uniqueness (applyInPandasWithState): a key seen in
    an earlier micro-batch must flag again in a later one — state survives
    the batch boundary. Two availableNow drains over a growing directory
    give two separate micro-batch sets sharing one state store."""
    from mdvalidate_spark.streaming.stateful import stream_duplicate_violations

    src = str(tmp_path / "dup-src")
    out = str(tmp_path / "dup-out")
    ck = str(tmp_path / "dup-ck")

    def drain():
        stream = spark.readStream.schema("image_id string").parquet(src)
        v = stream_duplicate_violations(stream, "image_id", "uq_stream", "s1")
        assert v.isStreaming
        q = (
            v.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 1: a,b,c + duplicate a  → one violation (a occurrence 2)
    spark.createDataFrame(
        [("a",), ("b",), ("c",), ("a",)], "image_id string"
    ).coalesce(1).write.mode("append").parquet(src)
    drain()
    got1 = spark.read.parquet(out).collect()
    assert len(got1) == 1
    assert got1[0]["image_id"] == "a" and got1[0]["actual"] == "occurrence=2"

    # batch 2: b again (dup vs batch 1 via state), d fresh → one new violation
    spark.createDataFrame([("b",), ("d",)], "image_id string").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    drain()
    got2 = {(r["image_id"], r["actual"]) for r in spark.read.parquet(out).collect()}
    assert got2 == {("a", "occurrence=2"), ("b", "occurrence=2")}


def test_stream_gap_violations_across_batches(spark, tmp_path):
    """Streaming silence detection (applyInPandasWithState): the gap
    between a feed's last timestamp in one micro-batch and its first in a
    later one must flag — state survives the batch boundary. Same strict->
    threshold semantics as the batch operator, late arrivals ignored."""
    from datetime import datetime, timedelta

    from mdvalidate_spark.streaming.stateful import stream_gap_violations

    T0 = datetime(2026, 1, 1)
    src = str(tmp_path / "gap-src")
    out = str(tmp_path / "gap-out")
    ck = str(tmp_path / "gap-ck")

    def drain():
        stream = spark.readStream.schema("feed string, ts timestamp").parquet(src)
        v = stream_gap_violations(
            stream, "ts", "gap_stream", "s1",
            min_gap_seconds=3600, group_column="feed",
        )
        assert v.isStreaming
        q = (
            v.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 1: A minute-cadence then a 2h in-batch hole; B steady
    rows = [("A", T0 + timedelta(minutes=m)) for m in (0, 1, 2, 122)]
    rows += [("B", T0 + timedelta(minutes=m)) for m in (0, 30)]
    spark.createDataFrame(rows, "feed string, ts timestamp").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    drain()
    got1 = spark.read.parquet(out).collect()
    assert len(got1) == 1
    assert got1[0]["image_id"] == "A" and got1[0]["kind"] == "gap"
    assert "gap_s=7200.000" in got1[0]["actual"]

    # batch 2: A resumes right away (no gap); B resumes after 90 min
    # (cross-BATCH gap via state); a late A row (before batch-1 max) is
    # ignored, and an exactly-1h B gap is NOT a violation (strict >)
    rows2 = [("A", T0 + timedelta(minutes=123)),
             ("A", T0 + timedelta(minutes=50)),   # late: ignored
             ("B", T0 + timedelta(minutes=120)),  # 30 -> 120 = 90min gap
             ("B", T0 + timedelta(minutes=180))]  # exactly 60min: clean
    spark.createDataFrame(rows2, "feed string, ts timestamp").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    drain()
    got2 = {(r["image_id"], r["actual"]) for r in spark.read.parquet(out).collect()}
    assert (len(got2)) == 2
    assert any(k == "B" and "gap_s=5400.000" in a for k, a in got2)


def test_stream_gap_idle_alert_fires_while_feed_is_down(spark, tmp_path):
    """alert_idle=True: a feed quiet for min_gap_seconds of WALL time
    raises ONE open-silence alert (next NULL, 'ongoing…') before any
    recovery row arrives — the capability the batch operator cannot have;
    the alerted flag suppresses repeats while the silence continues. On
    recovery the closed gap is still reported with exact event-time
    bounds. One long-lived query (the TTL-test pattern): processing-time
    timers need the stream's own batch cadence to fire."""
    import time as _time
    from datetime import datetime, timedelta

    from mdvalidate_spark.errors import SchemaError
    from mdvalidate_spark.streaming.stateful import stream_gap_violations

    T0 = datetime(2026, 1, 1)
    src = str(tmp_path / "idle-src")
    out = str(tmp_path / "idle-out")
    ck = str(tmp_path / "idle-ck")

    def write(rows):
        spark.createDataFrame(rows, "feed string, ts timestamp").coalesce(
            1
        ).write.mode("append").parquet(src)

    def rows():
        try:
            return [
                (r["image_id"], r["actual"])
                for r in spark.read.parquet(out).collect()
            ]
        except Exception:  # sink dir not created yet
            return []

    def wait_for(pred, timeout=60):
        deadline = _time.time() + timeout
        while _time.time() < deadline:
            if pred(rows()):
                return
            _time.sleep(0.5)
        raise AssertionError(f"timed out waiting; last rows: {rows()}")

    write([("A", T0)])
    stream = spark.readStream.schema("feed string, ts timestamp").parquet(src)
    v = stream_gap_violations(
        stream, "ts", "gap_idle", "s1",
        min_gap_seconds=5, group_column="feed", alert_idle=True,
    )
    q = (
        v.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        # phase A: the open-silence alert fires ~5s of WALL quiet after
        # A's only row — before any recovery data exists
        wait_for(
            lambda r: [x for x in r if "ongoing" in x[1]]
            == [("A", "ongoing: silent > 5.000s since 1767225600000")]
        )
        # phase B: silence continues well past a second threshold — the
        # alerted flag suppresses a repeat alert
        _time.sleep(7.0)
        assert len([x for x in rows() if "ongoing" in x[1]]) == 1
        # phase C: recovery at T0+30s closes the gap with exact
        # event-time bounds (one row), independent of the wall clock
        write([("A", T0 + timedelta(seconds=30))])
        wait_for(
            lambda r: [x for x in r if x[1].startswith("gap_s=")]
            == [("A", "gap_s=30.000 [1767225600000 .. 1767225630000]")]
        )
    finally:
        q.stop()

    with pytest.raises(SchemaError, match="min_gap_seconds must be > 0"):
        stream2 = spark.readStream.schema("feed string, ts timestamp").parquet(src)
        stream_gap_violations(stream2, "ts", "g", "s", min_gap_seconds=0)


def test_stateful_duplicate_ttl_evicts_idle_keys(spark, tmp_path):
    """VERDICT r3 #4: ttl_seconds bounds uniqueness state on unbounded key
    spaces. A key idle past the TTL is evicted (ProcessingTimeTimeout), and
    its re-arrival after eviction counts as occurrence 1 again — the
    documented precision trade. Keys re-seen WITHIN the TTL still flag."""
    import time as _time

    from mdvalidate_spark.errors import SchemaError
    from mdvalidate_spark.streaming.stateful import stream_duplicate_violations

    src = str(tmp_path / "ttl-src")
    out = str(tmp_path / "ttl-out")
    ck = str(tmp_path / "ttl-ck")

    def write(keys):
        spark.createDataFrame([(k,) for k in keys], "image_id string").coalesce(
            1
        ).write.mode("append").parquet(src)

    def rows():
        try:
            return sorted(
                (r["image_id"], r["actual"])
                for r in spark.read.parquet(out).collect()
            )
        except Exception:  # sink dir not created yet
            return []

    def wait_for(pred, timeout=60):
        deadline = _time.time() + timeout
        while _time.time() < deadline:
            if pred(rows()):
                return
            _time.sleep(0.5)
        raise AssertionError(f"timed out waiting; last rows: {rows()}")

    # one LONG-LIVED query: processing-time timers need the stream's own
    # batch cadence to fire (an availableNow drain keeps scheduling batches
    # until every timer has fired, which both serializes eviction into the
    # drain and collides with a second drain on the same state store)
    write(["a", "a"])  # seed so the schema/paths exist at start
    stream = spark.readStream.schema("image_id string").parquet(src)
    v = stream_duplicate_violations(
        stream, "image_id", "uq_ttl", "s1", ttl_seconds=6.0
    )
    q = (
        v.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        # phase A: immediate duplicate flags as occurrence 2
        wait_for(lambda r: r == [("a", "occurrence=2")])

        # phase B: idle well past the TTL → 'a' evicted by its timer; its
        # re-arrival is occurrence 1 again (no new violation row)
        _time.sleep(14.0)
        write(["a"])
        _time.sleep(2.5)
        assert rows() == [("a", "occurrence=2")]

        # phase C: a duplicate arriving WITHIN the TTL of phase B's arrival
        # still flags — state was re-created, not lost
        write(["a"])
        wait_for(
            lambda r: r == [("a", "occurrence=2"), ("a", "occurrence=2")]
        )
    finally:
        q.stop()

    # vacuous TTL rejected with a typed error
    stream2 = spark.readStream.schema("image_id string").parquet(src)
    with pytest.raises(SchemaError, match="ttl_seconds"):
        stream_duplicate_violations(stream2, "image_id", "r", "s", ttl_seconds=0)


def test_stream_validate_stats_accumulate_and_merge(spark, tmp_path):
    """Continuous incremental stats: two availableNow drains over a growing
    directory leave one finished batch each; the merge equals a batch
    profile of the full data — without replaying the stream."""
    src = str(tmp_path / "st-src")
    ck = str(tmp_path / "st-ck")
    spec = Spec(
        rules=(
            ColumnStatsRule("st_w", column="w", incremental=True, quantiles=(0.5,)),
            ColumnStatsRule("st_fmt", column="fmt", incremental=True),
        ),
        key_column="k",
    )
    schema = "k string, w int, fmt string"

    def drain():
        stream = spark.readStream.schema(schema).parquet(src)
        stream_validate(stream, spec, ck, run_id="s1").awaitTermination(120)

    spark.createDataFrame(
        [("a", 100, "png"), ("b", 200, "jpeg"), ("c", 300, "png"), ("d", None, "webp")],
        schema,
    ).coalesce(1).write.mode("append").parquet(src)
    drain()
    spark.createDataFrame(
        [("e", 400, "bmp"), ("f", 50, "png")], schema
    ).coalesce(1).write.mode("append").parquet(src)
    drain()

    manifest = spark.read.parquet(os.path.join(ck, "manifest"))
    assert manifest.select("batch_id").distinct().count() == 2
    _, mets = stream_finalize(spark, spec, ck, "s1")
    m = {
        (r["rule_id"], r["metric"]): (r["value"], r["value_str"])
        for r in mets.collect()
    }
    assert m[("st_w", "count")][0] == 6.0
    assert m[("st_w", "null_rate")][0] == pytest.approx(1 / 6)
    assert m[("st_w", "distinct")][0] == 5.0
    assert m[("st_w", "min")][1] == "50" and m[("st_w", "max")][1] == "400"
    assert 100.0 <= m[("st_w", "p50")][0] <= 300.0
    assert m[("st_fmt", "distinct")][0] == 4.0


def test_incremental_schema_rules_run_per_poll(spark, tmp_path):
    """SchemaRule must fire on the streaming path too: a drifted table
    validated through FileIncrementalValidator has to emit schema
    violations from poll(), not silently pass."""
    from mdvalidate_spark.spec import RangeRule, SchemaRule, Spec
    from mdvalidate_spark.streaming.incremental import FileIncrementalValidator

    table = str(tmp_path / "tbl")
    spark.createDataFrame(
        [(1, 10), (2, 20)], "image_id long, w int"
    ).write.mode("overwrite").parquet(table)
    spec = Spec(
        rules=(
            RangeRule("w_range", column="w", min=0.0, max=100.0),
            SchemaRule(
                "sch",
                expected=(("image_id", "bigint"), ("w", "bigint"),  # actual: int
                          ("caption", "string")),                   # missing
            ),
        ),
        key_column="image_id",
        n_partitions=2,
    )
    v = FileIncrementalValidator(spark, spec, table, run_id="sdrift")
    n = v.poll()
    assert n >= 2  # dtype_mismatch(w) + missing_column(caption)
    from mdvalidate_spark.errors import KIND_DTYPE, KIND_MISSING_COLUMN

    viol, _ = v.finalize()
    kinds = {r["kind"] for r in viol.collect()}
    assert KIND_DTYPE in kinds and KIND_MISSING_COLUMN in kinds


def test_windowed_drift_rule_stream(spark, tmp_path):
    """Streaming drift vs a frozen reference profile: a window drawn from
    the reference distribution passes; a shifted window is flagged with a
    PSI computed entirely in column algebra (single streaming aggregation)."""
    import datetime as dt

    from mdvalidate_spark.operators.drift import reference_histogram
    from mdvalidate_spark.spec import DriftRule
    from mdvalidate_spark.streaming.structured import windowed_drift_rule

    src = str(tmp_path / "dr-src")
    out = str(tmp_path / "dr-out")
    ck = str(tmp_path / "dr-ck")

    # reference: uniform 0..99 (deterministic)
    ref = spark.createDataFrame(
        [(float(i % 100),) for i in range(2000)], "value double"
    )
    inner, ref_hist = reference_histogram(ref, "value", n_bins=8)

    base = dt.datetime(2026, 1, 1, 0, 0, 0)
    rows = []
    # window 0: same uniform distribution → no drift
    for i in range(200):
        rows.append((float(i % 100), base + dt.timedelta(seconds=i % 50)))
    # window 2: hard shift (all mass in the top decile) → drift
    for i in range(200):
        rows.append((95.0, base + dt.timedelta(minutes=2, seconds=i % 50)))
    rows.append((50.0, base + dt.timedelta(minutes=30)))  # watermark sentinel
    df = spark.createDataFrame(rows, "value double, ts timestamp")
    df.write.mode("overwrite").parquet(src)

    rule = DriftRule("vdrift", column="value", group_column="x", group_value="y",
                     method="psi", threshold=0.2)
    stream = spark.readStream.schema(df.schema).parquet(src)
    drift_stream = windowed_drift_rule(
        stream, rule, inner, ref_hist, ts_column="ts", window="1 minute",
        watermark="2 minutes", run_id="sd",
    )
    assert drift_stream.isStreaming
    q = (
        drift_stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.schema(
        "run_id string, partition_id int, rule_id string, image_id string, "
        "column string, expected string, actual string, kind string"
    ).parquet(out).collect()
    flagged = {r["image_id"]: float(r["actual"]) for r in got}
    assert "2026-01-01 00:02:00" in flagged       # shifted window caught
    assert "2026-01-01 00:00:00" not in flagged   # in-distribution window clean
    assert flagged["2026-01-01 00:02:00"] > 0.2


def test_windowed_drift_categorical_stream(spark, tmp_path):
    """Streaming CATEGORICAL drift: a window whose category mix collapses to
    one value is flagged against the frozen reference frequency profile."""
    import datetime as dt

    from mdvalidate_spark.operators.drift import reference_histogram
    from mdvalidate_spark.spec import DriftRule
    from mdvalidate_spark.streaming.structured import windowed_drift_rule

    src = str(tmp_path / "cd-src")
    out = str(tmp_path / "cd-out")
    ck = str(tmp_path / "cd-ck")

    ref = spark.createDataFrame(
        [(("jpeg", "png", "webp")[i % 3],) for i in range(900)], "fmt string"
    )
    cats, ref_hist = reference_histogram(ref, "fmt", n_bins=8, categorical=True)

    base = dt.datetime(2026, 1, 1)
    rows = [(("jpeg", "png", "webp")[i % 3], base + dt.timedelta(seconds=i % 50))
            for i in range(300)]                                   # window 0: same mix
    rows += [("webp", base + dt.timedelta(minutes=2, seconds=i % 50))
             for i in range(300)]                                  # window 2: collapsed
    rows.append(("png", base + dt.timedelta(minutes=30)))          # watermark sentinel
    df = spark.createDataFrame(rows, "fmt string, ts timestamp")
    df.write.mode("overwrite").parquet(src)

    rule = DriftRule("fmt_drift", column="fmt", group_column="x", group_value="y",
                     method="psi", threshold=0.2, categorical=True)
    stream = spark.readStream.schema(df.schema).parquet(src)
    q = (
        windowed_drift_rule(stream, rule, cats, ref_hist, "ts", "1 minute",
                            "2 minutes", "cd")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck).trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.read.schema(
        "run_id string, partition_id int, rule_id string, image_id string, "
        "column string, expected string, actual string, kind string"
    ).parquet(out).collect()
    flagged = {r["image_id"] for r in got}
    assert "2026-01-01 00:02:00" in flagged
    assert "2026-01-01 00:00:00" not in flagged


def test_windowed_drift_categorical_rejects_ks(spark):
    import pytest

    from mdvalidate_spark.spec import DriftRule
    from mdvalidate_spark.streaming.structured import windowed_drift_rule

    rule = DriftRule("bad", column="fmt", group_column="x", group_value="y",
                     method="ks", categorical=True)
    df = spark.createDataFrame([("jpeg", None)], "fmt string, ts timestamp")
    with pytest.raises(ValueError, match="categorical drift requires"):
        windowed_drift_rule(df, rule, ["jpeg"], [0.9, 0.1], "ts")


def test_stream_validate_ref_violations_availablenow(spark, tmp_path):
    """Stream-static referential integrity: orphan foreign keys in a stream
    are flagged by the batch stage's broadcast anti-join per micro-batch."""
    src = str(tmp_path / "ref-src")
    ck = str(tmp_path / "ref-ck")
    df = spark.range(200).select(
        F.format_string("k%04d", F.col("id")).alias("key"),
        # ids 150+ point at sources outside the dim (s00..s09)
        F.format_string("s%02d", (F.col("id") % 15)).alias("src_id"),
    )
    df.write.mode("overwrite").parquet(src)
    dim = spark.createDataFrame(
        [(f"s{i:02d}",) for i in range(10)], "src_id string"
    )
    spec = Spec(
        rules=(
            RefIntegrityRule(
                "src_fk", column="src_id", dim_name="sources", dim_column="src_id"
            ),
        ),
        key_column="key",
    )
    stream = spark.readStream.schema(df.schema).parquet(src)
    q = stream_validate(stream, spec, ck, dims={"sources": dim}, run_id="s")
    q.awaitTermination(120)
    got, _ = stream_finalize(spark, spec, ck, "s")
    # ids with id%15 in 10..14 → 5 of every 15: ⌈⌉ arithmetic on 200 rows
    bad = sum(1 for i in range(200) if i % 15 >= 10)
    assert got.count() == bad
    assert got.where("kind = 'orphan'").count() == bad
    assert set(
        r["actual"] for r in got.select("actual").distinct().collect()
    ) == {f"s{i}" for i in range(10, 15)}


def test_stream_volume_anomaly_from_manifests(spark, tmp_path):
    """Batch-size anomaly judged purely from the persisted manifests — no
    stream replay: four ~uniform micro-batches plus one starved batch; the
    starved one flags under_volume, the healthy ones stay quiet."""
    src = str(tmp_path / "sv-src")
    ck = str(tmp_path / "sv-ck")
    spec = Spec(rules=(RangeRule("w_min", column="w", min=0),), key_column="k")

    def drain():
        stream = spark.readStream.schema("k string, w int").parquet(src)
        stream_validate(stream, spec, ck, run_id="s2").awaitTermination(120)

    sizes = [40, 42, 41, 40, 3]  # last batch starved
    for b, n in enumerate(sizes):
        spark.createDataFrame(
            [(f"b{b}-{i}", i) for i in range(n)], "k string, w int"
        ).coalesce(1).write.mode("append").parquet(src)
        drain()

    out = stream_volume_anomaly(spark, ck, k=3.0).collect()
    assert len(out) == 1
    assert out[0]["kind"] == "under_volume" and out[0]["n_rows"] == 3.0
    # insufficient history → empty by contract
    assert stream_volume_anomaly(spark, ck, min_batches=9).count() == 0


def test_stream_quality_gates(spark, tmp_path):
    """PiiRule/RepetitionRule are ordinary row rules, so they validate an
    unbounded caption stream through the same stateless fused micro-batch
    pass — no new streaming operator needed."""
    from mdvalidate_spark.spec import PiiRule, RepetitionRule

    src = str(tmp_path / "q-src")
    out = str(tmp_path / "q-out")
    ck = str(tmp_path / "q-ck")
    rows = [
        (1, "mail a@b.co now"),
        (2, "spam " * 30),
        (3, "an ordinary clean caption about a quiet dog near a green tree"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    df.coalesce(1).write.mode("overwrite").parquet(src)

    spec = Spec(
        rules=(
            PiiRule("no_pii", column="text"),
            RepetitionRule(
                "rep", column="text", metric="top_word_frac", max=0.5, min_words=10
            ),
        ),
        key_column="doc_id",
        n_partitions=4,
    )
    prog = compile_spec(spec, df.columns)
    stream = spark.readStream.schema(df.schema).parquet(src)
    q = (
        stream_row_violations(stream, prog, "sq")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["image_id"], r["rule_id"]) for r in spark.read.parquet(out).collect()
    }
    assert got == {("1", "no_pii"), ("2", "rep")}


def test_holdout_split_is_streaming_stateless(spark, tmp_path):
    # the extraction predicates are pure column expressions, so the same
    # split/sample runs unchanged on a stream — and micro-batch boundaries
    # cannot change membership (hash of the key, not of arrival order)
    from mdvalidate_spark.operators.sampling import holdout_split, sample_hash

    src = str(tmp_path / "hs-src")
    out = str(tmp_path / "hs-out")
    ck = str(tmp_path / "hs-ck")
    df = spark.range(1000).select(F.col("id").alias("k"))
    df.write.parquet(src)

    stream = spark.readStream.schema("k long").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    flagged = holdout_split(stream, ["k"], 0.25, method="md5")
    assert flagged.isStreaming
    q = (
        flagged.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == 1000
    stream_held = {r.k for r in got.where("is_holdout").collect()}
    batch_held = {
        r.k for r in sample_hash(df, ["k"], 0.25, method="md5").collect()
    }
    assert stream_held == batch_held


class _FakeGroupState:
    """Minimal stand-in for GroupState: enough to unit-test the gap
    closure's state transitions deterministically (the wall-clock
    alert_idle integration is test_stream_gap_open_silence_alert)."""

    def __init__(self, value=None):
        self._v = value
        self.hasTimedOut = False
        self.updates = []
        self.timeouts = []

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)
        self.updates.append(tuple(v))

    def setTimeoutDuration(self, ms):
        self.timeouts.append(ms)


def _run_gap_fn(fn, state, ms_vals):
    import pandas as pd

    return list(fn(("A",), [pd.DataFrame({"_ms": ms_vals})], state))


def test_stream_gap_redelivery_does_not_rearm_fired_alert():
    """An at-least-once redelivery (every ts <= last) after the
    open-silence alert fired must NOT reset the alerted flag or re-arm
    the timer — one continuing silence is ONE alert, no matter how many
    times the source replays old rows."""
    from mdvalidate_spark.streaming.stateful import _make_gap_fn

    fn = _make_gap_fn(3000, alert_idle=True)
    st = _FakeGroupState((1000, 1))  # alert already fired
    out = _run_gap_fn(fn, st, [900, 1000])
    assert out == []
    assert st.updates == [] and st.timeouts == []
    assert st.get == (1000, 1)

    # but a pending (not-yet-fired) alert must be re-registered: any
    # invocation cancels the key's timeout, so skipping the re-arm here
    # would silently kill the open-silence alert while the feed is down
    st2 = _FakeGroupState((1000, 0))
    out2 = _run_gap_fn(fn, st2, [900])
    assert out2 == [] and st2.updates == []
    assert st2.timeouts == [3000] and st2.get == (1000, 0)

    # fresh data after a fired alert: flag the closing gap, reset the
    # flag, re-arm — the next silence alerts again
    st3 = _FakeGroupState((1000, 1))
    out3 = _run_gap_fn(fn, st3, [999, 5000])
    assert len(out3) == 1
    row = out3[0].iloc[0]
    assert (row["prev_epoch_ms"], row["next_epoch_ms"]) == (1000, 5000)
    assert st3.get == (5000, 0) and st3.timeouts == [3000]


def test_stream_gap_submillisecond_threshold_matches_batch(spark):
    """min_gap_seconds=0.0004 rounds to thr_ms=0 in the batch operator
    (strict >, so every 1 ms step flags); the stream twin must use the
    SAME rounding — the max(1, …) floor belongs to setTimeoutDuration
    only, not to gap comparison."""
    from datetime import datetime, timedelta

    from mdvalidate_spark.operators.gaps import gap_violations
    from mdvalidate_spark.spec import GapRule
    from mdvalidate_spark.streaming.stateful import _make_gap_fn

    fn = _make_gap_fn(0, alert_idle=False)  # int(round(0.0004 * 1000))
    out = _run_gap_fn(fn, _FakeGroupState(), [0, 1])
    assert len(out) == 1 and len(out[0]) == 1  # 1 ms gap flags

    T0 = datetime(2026, 1, 1)
    df = spark.createDataFrame(
        [(T0,), (T0 + timedelta(milliseconds=1),)], "ts timestamp"
    )
    batch = gap_violations(
        df, GapRule("g", column="ts", min_gap_seconds=0.0004), "s"
    )
    assert batch.count() == 1


def test_windowed_concentration_rule(spark, tmp_path):
    """Per-window dominance over a frozen value set: a window where one
    caption floods the stream alerts (share AND hhi rows), a balanced
    window is quiet, an under-min_rows window is silent by contract, and
    a NEW out-of-set value competes through the __other__ bucket."""
    from datetime import datetime, timedelta

    from mdvalidate_spark.spec import ConcentrationRule
    from mdvalidate_spark.streaming.structured import (
        windowed_concentration_rule,
    )

    T0 = datetime(2026, 1, 1)
    rows = []
    # window 0: balanced a/b/c (12 rows) -> quiet at 0.5/0.5
    for i in range(12):
        rows.append((["a", "b", "c"][i % 3], T0 + timedelta(seconds=i)))
    # window 1: 9x 'a' + 1x 'b' -> share 0.9, hhi 0.82 -> both fire
    for i in range(10):
        rows.append(
            ("a" if i else "b", T0 + timedelta(minutes=1, seconds=i))
        )
    # window 2: only 2 rows -> under min_rows=4, silent
    rows.append(("a", T0 + timedelta(minutes=2)))
    rows.append(("a", T0 + timedelta(minutes=2, seconds=1)))
    # window 3: flood of a NEW value 'zzz' (not in the frozen set) -> the
    # __other__ bucket dominates and alerts
    for i in range(8):
        rows.append(
            ("zzz" if i < 7 else "a", T0 + timedelta(minutes=3, seconds=i))
        )
    # sentinel far in the future so the watermark closes all earlier
    # windows (its own window is 1 row < min_rows: silent)
    rows.append(("a", T0 + timedelta(minutes=30)))
    src = str(tmp_path / "conc-src")
    spark.createDataFrame(rows, "cap string, ts timestamp").coalesce(
        1
    ).write.parquet(src)

    stream = spark.readStream.schema("cap string, ts timestamp").parquet(src)
    rule = ConcentrationRule(
        "cap_mix", column="cap", max_top_share=0.5, max_hhi=0.5, min_rows=4
    )
    v = windowed_concentration_rule(
        stream, rule, ["a", "b", "c"], "ts",
        window="1 minute", watermark="0 seconds",
    )
    assert v.isStreaming
    out = str(tmp_path / "conc-out")
    q = (
        v.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "conc-ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out).collect()
    by_win = {}
    for r in got:
        by_win.setdefault(r["image_id"][14:16], []).append(r)
    assert set(by_win) == {"01", "03"}  # windows 1 and 3 only
    w1 = {r["expected"]: r["actual"] for r in by_win["01"]}
    assert w1["top_share <= 0.5"] == "top value 'a' share=0.900000 (9 of 10)"
    assert w1["hhi <= 0.5"] == "hhi=0.820000"
    w3 = {r["expected"]: r["actual"] for r in by_win["03"]}
    assert "top value '__other__' share=0.875000 (7 of 8)" in w3.values()

    # boundless / empty / reserved-collision value sets refused up front
    import pytest as _pt
    from mdvalidate_spark.errors import SchemaError

    for bad_rule, bad_vals in (
        (ConcentrationRule("x", column="cap"), ["a"]),
        (ConcentrationRule("x", column="cap", max_hhi=0.5), []),
        (ConcentrationRule("x", column="cap", max_hhi=0.5), ["a", "__other__"]),
    ):
        with _pt.raises(SchemaError):
            windowed_concentration_rule(stream, bad_rule, bad_vals, "ts")


def test_windowed_concentration_tie_prefers_real_value(spark, tmp_path):
    """A count tie between a frozen value and the synthetic '__other__'
    bucket attributes dominance to the REAL value: '_' sorts before every
    lowercase letter, so a bare value-ASC tie-break would misreport
    '__other__' as the top value whenever the pool merely ties."""
    from datetime import datetime, timedelta

    from mdvalidate_spark.spec import ConcentrationRule
    from mdvalidate_spark.streaming.structured import (
        windowed_concentration_rule,
    )

    T0 = datetime(2026, 1, 1)
    rows = [
        ("a" if i % 2 == 0 else "qqq", T0 + timedelta(seconds=i))
        for i in range(8)  # 4x 'a' ties 4x out-of-set 'qqq'
    ]
    rows.append(("a", T0 + timedelta(minutes=30)))  # watermark sentinel
    src = str(tmp_path / "tie-src")
    spark.createDataFrame(rows, "cap string, ts timestamp").coalesce(
        1
    ).write.parquet(src)

    stream = spark.readStream.schema("cap string, ts timestamp").parquet(src)
    rule = ConcentrationRule(
        "tie", column="cap", max_top_share=0.3, min_rows=4
    )
    v = windowed_concentration_rule(
        stream, rule, ["a", "b"], "ts", window="1 minute",
        watermark="0 seconds",
    )
    out = str(tmp_path / "tie-out")
    q = (
        v.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "tie-ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = [
        r["actual"]
        for r in spark.read.parquet(out).collect()
        if r["expected"] == "top_share <= 0.3"
    ]
    assert got == ["top value 'a' share=0.500000 (4 of 8)"]


def test_stream_session_stats(spark, tmp_path):
    """Native session_window sessionization: sessions close when the
    watermark passes; duration is the exact event extent (last - first),
    not the gap-padded window."""
    import datetime as dt

    from mdvalidate_spark.streaming.structured import stream_session_stats

    src = str(tmp_path / "ss-src")
    out = str(tmp_path / "ss-out")
    ck = str(tmp_path / "ss-ck")
    base = dt.datetime(2026, 1, 1, 0, 0, 0)
    rows = [
        # u1 session 1: three events within 5 min of each other
        (1, base, "u1"),
        (2, base + dt.timedelta(minutes=3), "u1"),
        (3, base + dt.timedelta(minutes=6), "u1"),
        # u1 session 2: after a 30-min silence (> 10-min gap)
        (4, base + dt.timedelta(minutes=36), "u1"),
        # u2: one event
        (5, base + dt.timedelta(minutes=1), "u2"),
        # sentinel far ahead so the watermark closes everything earlier
        (99, base + dt.timedelta(hours=6), "u1"),
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id string")
    df.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(df.schema).parquet(src)
    sess = stream_session_stats(
        stream, "ts", gap="10 minutes", key_cols=("user_id",),
        watermark="0 seconds",
    )
    assert sess.isStreaming
    q = (
        sess.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, r.session_start.isoformat()): (r.n_events, r.duration_us)
        for r in spark.read.parquet(out).collect()
    }
    assert got[("u1", "2026-01-01T00:00:00")] == (3, 6 * 60 * 1_000_000)
    assert got[("u1", "2026-01-01T00:36:00")] == (1, 0)
    assert got[("u2", "2026-01-01T00:01:00")] == (1, 0)


def test_stream_alignment_rule(spark, tmp_path):
    """AlignmentRule is a plain row rule, so it rides the stateless
    streaming row pass unchanged: mispaired embedding rows violate per
    micro-batch, no state, no watermark."""
    from mdvalidate_spark.spec import AlignmentRule, Spec

    src = str(tmp_path / "al-src")
    out = str(tmp_path / "al-out")
    ck = str(tmp_path / "al-ck")
    rows = [(i, [1.0, 0.0], [1.0, 0.0]) for i in range(6)]
    rows += [(10 + i, [1.0, 0.0], [0.0, 1.0]) for i in range(3)]  # cos 0
    df = spark.createDataFrame(
        rows, "image_id long, a array<double>, b array<double>"
    )
    df.write.mode("overwrite").parquet(src)
    spec = Spec(
        rules=(AlignmentRule("al", column_a="a", column_b="b", min_cos=0.5),),
        key_column="image_id",
        n_partitions=4,
    )
    prog = compile_spec(spec, df.columns)
    stream = spark.readStream.schema(df.schema).parquet(src)
    q = (
        stream_row_violations(stream, prog, "al1")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == 3
    assert {r["kind"] for r in got.collect()} == {"alignment"}


def test_stream_validate_health_accumulate_and_merge(spark, tmp_path):
    """Continuous embedding-matrix health: two availableNow drains over a
    growing directory; the merge equals the batch rule on the full data —
    without replaying the stream."""
    from mdvalidate_spark.operators.similarity import (
        embedding_health_rule_results,
    )
    from mdvalidate_spark.spec import EmbeddingHealthRule

    src = str(tmp_path / "eh-src")
    ck = str(tmp_path / "eh-ck")
    rule = EmbeddingHealthRule(
        "eh_s", column="embedding", dim=3, max_dead_dims=0,
        max_anisotropy=0.99, min_rows=2, incremental=True,
    )
    spec = Spec(rules=(rule,), key_column="image_id")
    schema = "image_id string, embedding array<double>"

    def drain():
        stream = spark.readStream.schema(schema).parquet(src)
        stream_validate(stream, spec, ck, run_id="s1").awaitTermination(120)

    # batch 1: spread vectors + dim 1 pinned (dead); batch 2 adds a NULL
    spark.createDataFrame(
        [("a", [1.0, 0.5, 2.0]), ("b", [-1.0, 0.5, 0.0]),
         ("c", [3.0, 0.5, 1.0])],
        schema,
    ).coalesce(1).write.mode("append").parquet(src)
    drain()
    spark.createDataFrame(
        [("d", [0.0, 0.5, -1.0]), ("e", None)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    drain()

    manifest = spark.read.parquet(os.path.join(ck, "manifest"))
    assert manifest.select("batch_id").distinct().count() == 2

    viol, mets = stream_finalize(spark, spec, ck, "s1")
    batch_df = spark.createDataFrame(
        [("a", [1.0, 0.5, 2.0]), ("b", [-1.0, 0.5, 0.0]),
         ("c", [3.0, 0.5, 1.0]), ("d", [0.0, 0.5, -1.0]), ("e", None)],
        schema,
    )
    b_viol, b_mets = embedding_health_rule_results(batch_df, rule, "s1")

    def mm(df):
        return sorted((r["metric"], r["value"]) for r in df.collect())

    assert mm(mets) == mm(b_mets)
    m = dict(mm(mets))
    assert m["health_rows_used"] == 4.0
    assert m["health_rows_excluded"] == 1.0
    assert m["health_dead_dims"] == 1.0  # the pinned dim 1
    sv = sorted(r["expected"] for r in viol.collect())
    assert sv == sorted(r["expected"] for r in b_viol.collect())
    assert sv == ["dead_dims <= 0"]


@pytest.mark.parametrize("rule", [VolumeRule("vol")], ids=lambda r: r.kind)
def test_incremental_refuses_rules_it_never_evaluates(spark, tmp_path, rule):
    """A volume rule needs a partition manifest file mode does not keep;
    such a rule used to be dropped and read as a pass."""
    spec = Spec(rules=(*spec_rows().rules, rule), key_column="image_id")
    with pytest.raises(SchemaError, match="not evaluated by FileIncrementalValidator"):
        FileIncrementalValidator(spark, spec, str(tmp_path), run_id="unsupported")


def test_incremental_compiles_against_the_typed_schema(spark, tmp_path):
    """Rules may target nested struct paths, as with ValidationRun."""
    base = str(tmp_path / "nested")
    spark.range(20).selectExpr(
        "cast(id as string) as image_id", "named_struct('w', id) as meta"
    ).write.parquet(os.path.join(base, "chunk0"))
    spec = Spec(rules=(RangeRule("w_max", column="meta.w", max=5),), key_column="image_id")
    v = FileIncrementalValidator(spark, spec, base, run_id="nested")
    assert v.poll() == 14


def test_incremental_count_universe_reports_absent_groups(spark, tmp_path):
    """A grouped count's universe enumerates expected groups; an expected
    group with no rows is a count-0 violation, as under ValidationRun."""
    base = str(tmp_path / "groups")
    spark.createDataFrame(
        [("k1", "png"), ("k2", "png"), ("k3", "jpeg")], "image_id string, fmt string"
    ).write.parquet(os.path.join(base, "chunk0"))
    fmts = spark.createDataFrame([("png",), ("jpeg",), ("gif",)], "fmt string")
    rule = CountRule("per_fmt", group_by=("fmt",), min=1, universe="fmts")
    spec = Spec(rules=(rule,), key_column="image_id")
    with pytest.raises(SchemaError, match="universe table 'fmts' not provided"):
        FileIncrementalValidator(spark, spec, base, run_id="universe")
    v = FileIncrementalValidator(spark, spec, base, dims={"fmts": fmts}, run_id="universe")
    v.poll()
    viols, _ = v.finalize()
    assert [(r["image_id"], r["actual"]) for r in viols.collect()] == [("gif", "0")]


def _parity_table(spark, base):
    """120 rows in three arrival chunks: duplicate keys, a rare fmt, per-group
    tag sequences with injected mismatches, values shared across groups and
    a widened group g3."""
    df = spark.range(120).selectExpr(
        "id as i",
        "format_string('k%03d', if(id % 40 = 39, id - 1, id)) as image_id",
        "concat('g', cast(id % 4 as string)) as grp",
        "case when id % 30 = 7 then 'bmp' when id % 3 = 0 then 'png' "
        "when id % 3 = 1 then 'jpeg' else 'webp' end as fmt",
        "cast(if(id % 4 = 3, 2, 1) * (10 + id % 13) as int) as w",
        "case when id < 4 then 'H' when id % 17 = 5 then 'zz' else 'b1' end as tag",
        "cast(id % 30 as int) as val",
    )
    for c, (lo, hi) in enumerate([(0, 40), (40, 80), (80, 120)]):
        df.where(f"i >= {lo} and i < {hi}").write.parquet(
            os.path.join(base, f"chunk{c}")
        )
    return spark.createDataFrame(
        [(f"g{k % 4}", 10 + (3 * k) % 17) for k in range(80)], "grp string, w int"
    )


@pytest.mark.parametrize("cap", [None, 2])
def test_incremental_finalize_matches_validation_run(spark, tmp_path, cap):
    """finalize() is ValidationRun's EOF pass: every global family reports
    the violations and metrics a one-shot run reports, and a violation cap
    samples them and adds violations_total metrics alike. File mode used to
    run its own copy, which swept reference drift within the table, failed
    on a whole-table reference drift and dropped top-k/entropy stats."""
    base = str(tmp_path / "parity")
    dims = {"yday": _parity_table(spark, base)}
    spec = Spec(
        rules=(
            UniqueRule("uniq", columns=("image_id",)),
            CountRule("per_fmt", group_by=("fmt",), min=10),
            FunctionalDependencyRule("fd", determinants=("grp",), dependents=("fmt",)),
            MetricBoundRule("w_mean", column="w", metric="mean", max=15.0),
            SequenceRule("seq", column="tag", group_by=("grp",), order_column="i",
                         steps=(SequenceStep("H"), SequenceStep(r"b\d", max=None))),
            OverlapRule("ov", column="val", group_column="grp", max_common=3),
            ColumnStatsRule("fmt_profile", column="fmt", top_values=2, entropy=True),
            DriftRule("d_probe", column="w", group_column="grp", group_value="g3"),
            DriftRule("d_sweep", column="w", sweep_by="grp"),
            DriftRule("d_ref", column="w", reference="yday"),
            DriftRule("d_ref_sweep", column="w", sweep_by="grp", reference="yday"),
        ),
        key_column="image_id",
        max_violations_per_rule=cap,
    )
    v = FileIncrementalValidator(spark, spec, base, dims=dims, run_id="parity")
    v.poll()
    f_viols, f_mets = v.finalize()
    rep = ValidationRun(
        spark, spec, spark.read.option("recursiveFileLookup", "true").parquet(base),
        dims=dims, run_id="parity",
    ).validate()

    def viol_set(df):
        return sorted(
            (r["rule_id"], r["kind"], r["image_id"], r["actual"])
            for r in df.collect()
        )

    def metric_set(df):
        return sorted(
            (r["rule_id"], r["metric"],
             None if r["value"] is None else round(r["value"], 9), r["value_str"])
            for r in df.collect()
        )

    expected = viol_set(rep.violations)
    assert {v[0] for v in expected} == {
        r.id for r in spec.rules if r.id != "fmt_profile"
    }
    assert viol_set(f_viols) == expected
    expected_m = metric_set(rep.metrics)
    assert {"top_1", "top_2", "entropy"} <= {
        m[1] for m in expected_m if m[0] == "fmt_profile"
    }
    assert metric_set(f_mets) == expected_m
    assert any(m[1] == "violations_total" for m in expected_m) == (cap is not None)
    v.release()


def test_incremental_missing_dim_is_a_schema_error_at_init(spark, tmp_path):
    """A referential rule whose dim table is not passed used to raise
    KeyError in the middle of poll()."""
    rule = RefIntegrityRule(
        "src_ref", column="source_id", dim_name="dim_source", dim_column="source_id"
    )
    spec = Spec(rules=(rule,), key_column="image_id")
    with pytest.raises(SchemaError, match="dimension table 'dim_source' not provided"):
        FileIncrementalValidator(spark, spec, str(tmp_path), run_id="nodim")


def test_incremental_global_pass_runs_only_for_global_rules(spark, tmp_path):
    """finalize() builds its ValidationRun only when some rule is global, and
    release() frees the frames that run cached."""
    base = str(tmp_path / "keys")
    spark.createDataFrame(
        [("k1", 1), ("k1", 2), ("k2", 3)], "image_id string, w int"
    ).write.parquet(os.path.join(base, "chunk0"))
    row_only = Spec(rules=(RangeRule("w_max", column="w", max=2),), key_column="image_id")
    v = FileIncrementalValidator(spark, row_only, base, run_id="rows")
    assert v.poll() == 1
    assert v.finalize()[0].count() == 1
    assert v._run is None

    spec = Spec(rules=(UniqueRule("uniq", columns=("image_id",)),), key_column="image_id")
    v = FileIncrementalValidator(spark, spec, base, run_id="keys")
    v.poll()
    assert [r["image_id"] for r in v.finalize()[0].collect()] == ["k1"]
    cached = list(v._run._persisted)
    assert cached and all(f.is_cached for f in cached)
    v.release()
    assert not any(f.is_cached for f in cached)


@pytest.mark.parametrize("cap", [None, 2])
def test_incremental_poll_matches_validation_run(spark, tmp_path, cap):
    """poll() is ValidationRun's batch stage: captures, degenerate images,
    the violation cap and its exact totals match a one-shot run. File mode
    used to refuse capture and degenerate rules, drop composite captures
    and ignore the cap."""
    base = str(tmp_path / "images")
    df = synthetic_images(spark, ROWS, with_bytes=True)
    for c, (lo, hi) in enumerate([(0, 200), (200, 400), (400, 600)]):
        df.where(f"i >= {lo} and i < {hi}").write.parquet(
            os.path.join(base, f"chunk{c}")
        )
    dims = {"dim_source": dim_source(spark)}
    spec = Spec(
        rules=(
            RangeRule("w_range", column="w", min=1, max=10000),
            DomainRule("fmt_domain", column="fmt", values=("jpeg", "png", "webp")),
            CompositeRegexRule("cap_comp", column="caption", prefix="A photo number ",
                               pattern=r"\d+", suffix=" of cat", capture=True),
            CaptureRule("cap_noun", column="caption", pattern=r"of (\w+)"),
            RefIntegrityRule("src_ref", column="source_id", dim_name="dim_source",
                             dim_column="source_id"),
            CountRule("per_part", min=80),
            PixelRule("px"),
            DegenerateImageRule("degen"),
        ),
        key_column="image_id",
        max_violations_per_rule=cap,
    )
    v = FileIncrementalValidator(spark, spec, base, dims=dims, run_id="batch")
    n = v.poll()
    f_viols, f_mets = v.finalize()
    run = ValidationRun(
        spark, spec, spark.read.option("recursiveFileLookup", "true").parquet(base),
        dims=dims, run_id="batch",
    )
    rep = run.validate()

    def viol_set(frame):
        return sorted(
            (r["rule_id"], r["kind"], r["image_id"], r["actual"])
            for r in frame.collect()
        )

    def metric_set(frame):
        return sorted(
            (r["rule_id"], r["metric"],
             None if r["value"] is None else round(r["value"], 9), r["value_str"])
            for r in frame.collect()
        )

    expected = viol_set(rep.violations)
    assert {v[0] for v in expected} >= {"w_range", "fmt_domain", "cap_comp",
                                        "src_ref", "per_part", "px"}
    assert viol_set(f_viols) == expected
    expected_m = metric_set(rep.metrics)
    assert {"cap_comp", "cap_noun", "degen"} <= {m[0] for m in expected_m}
    assert metric_set(f_mets) == expected_m
    assert any(m[1] == "violations_total" for m in expected_m) == (cap is not None)
    assert n == run.manifest.total_violations == 666
    v.release()


def test_stream_row_violations_partition_ids_match_batch(spark, tmp_path):
    """stream_row_violations attaches partition ids as the batch pass does:
    from spec.partition_column when the spec names one. It used to hash the
    key regardless."""
    src = str(tmp_path / "stream-src")
    df = synthetic_images(spark, ROWS, with_bytes=False).drop("partition_id")
    df.withColumn("shard", (F.col("i") % 5).cast("int")).write.parquet(src)
    spec = Spec(
        rules=spec_rows().rules, key_column="image_id", partition_column="shard"
    )
    table = spark.read.parquet(src)
    stream = spark.readStream.schema(table.schema).parquet(src)
    q = (
        stream_row_violations(stream, compile_spec(spec, table.schema), "s1")
        .writeStream.format("memory")
        .queryName("stream_pids")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["image_id"], r["partition_id"])
        for r in spark.table("stream_pids").collect()
    )
    rep = ValidationRun(spark, spec, table, run_id="s1").validate()
    expected = sorted(
        (r["image_id"], r["partition_id"]) for r in rep.violations.collect()
    )
    assert got == expected
    assert {p for _, p in got} <= set(range(5))


def _stream_files(spark, src, rows=ROWS):
    """``rows`` synthetic images in three files, partitioned by a ``bucket``
    column (no physical partition_id), with undecodable payloads planted and
    a 3-dim embedding."""
    df = (
        synthetic_images(spark, rows, with_bytes=True)
        .drop("partition_id")
        .withColumn(
            "bytes",
            F.when(F.col("i") % 37 == 5, F.lit(b"garbage")).otherwise(F.col("bytes")),
        )
        .withColumn("bucket", (F.col("i") % 5).cast("int"))
        .withColumn(
            "embedding",
            F.array(F.col("w").cast("double"), F.lit(0.5), (F.col("i") % 7).cast("double")),
        )
    )
    third = rows // 3
    for lo in (0, third, 2 * third):
        df.where(f"i >= {lo} and i < {lo + third}").coalesce(1).write.mode(
            "append"
        ).parquet(src)
    return spark.read.parquet(src)


def _stream_spec():
    from mdvalidate_spark.spec import EmbeddingHealthRule

    return Spec(
        rules=(
            *spec_rows().rules,
            RefIntegrityRule("src_ref", column="source_id", dim_name="dim_source",
                             dim_column="source_id"),
            PixelRule("px", sample_rate=0.6),
            DegenerateImageRule("degen", sample_rate=0.6),
            ColumnStatsRule("w_stats", column="w", incremental=True),
            EmbeddingHealthRule("eh", column="embedding", dim=3, max_dead_dims=0,
                                min_rows=2, incremental=True),
        ),
        key_column="image_id",
        partition_column="bucket",
    )


def _drain(spark, src, table, spec, ck, dims):
    stream = (
        spark.readStream.schema(table.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    stream_validate(stream, spec, ck, dims=dims, run_id="s1").awaitTermination(300)


def _viol_set(frame):
    return sorted(
        (r["rule_id"], r["kind"], r["image_id"], r["partition_id"], r["actual"])
        for r in frame.collect()
    )


def _summed_metrics(frame, names):
    """Per (rule, partition, metric) sums of the additive metrics ``names``."""
    return sorted(
        tuple(r)
        for r in frame.where(F.col("metric").isin(*names))
        .groupBy("rule_id", "partition_id", "metric")
        .agg(F.sum("value").alias("v"))
        .collect()
    )


def _merged_metrics(frame, rule_ids):
    return sorted(
        (r["rule_id"], r["metric"],
         None if r["value"] is None else round(r["value"], 9), r["value_str"])
        for r in frame.where(F.col("rule_id").isin(*rule_ids)).collect()
    )


def test_stream_validate_matches_validation_run(spark, tmp_path):
    """stream_validate runs ValidationRun's batch stage per micro-batch: over
    three micro-batches of a partition_column table it reports the one-shot
    run's violations (partition ids included), the same additive
    per-partition pixel/degenerate metrics, and the same merged stats and
    health metrics. The per-family stream forks it replaced hashed the key
    for partition ids, ignoring spec.partition_column."""
    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    table = _stream_files(spark, src)
    dims = {"dim_source": dim_source(spark)}
    spec = _stream_spec()
    _drain(spark, src, table, spec, ck, dims)
    manifest = spark.read.parquet(os.path.join(ck, "manifest"))
    assert sorted(
        tuple(r) for r in manifest.groupBy("batch_id").agg(F.sum("rows")).collect()
    ) == [(0, 200), (1, 200), (2, 200)]
    viols, mets = stream_finalize(spark, spec, ck, "s1")
    rep = ValidationRun(spark, spec, table, dims=dims, run_id="s1").validate()

    expected = _viol_set(rep.violations)
    assert {v[0] for v in expected} >= {
        "caption_regex", "w_range", "fmt_domain", "src_ref", "px", "degen", "eh"
    }
    assert _viol_set(viols) == expected
    assert {v[3] for v in expected if v[0] != "eh"} <= set(range(5))
    additive = ("pixel_checked", "pixel_failed", "degenerate_checked",
                "degenerate_failed")
    assert _summed_metrics(mets, additive) == _summed_metrics(rep.metrics, additive)
    assert _summed_metrics(rep.metrics, additive)
    want = _merged_metrics(rep.metrics, ("w_stats", "eh"))
    assert {m[0] for m in want} == {"w_stats", "eh"}
    assert _merged_metrics(mets, ("w_stats", "eh")) == want


def test_stream_validate_replayed_batch_is_not_duplicated(spark, tmp_path):
    """A micro-batch replayed after a lost commit overwrites its own
    batch_id in every sink: the violations and merged stats are unchanged."""
    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    table = _stream_files(spark, src, rows=300)
    spec = Spec(
        rules=(*spec_rows().rules,
               ColumnStatsRule("w_stats", column="w", incremental=True)),
        key_column="image_id",
        partition_column="bucket",
    )
    _drain(spark, src, table, spec, ck, {})
    viols, mets = stream_finalize(spark, spec, ck, "s1")
    before = (_viol_set(viols), _merged_metrics(mets, ("w_stats",)))
    assert before[0] and before[1]

    commits = os.path.join(ck, "query", "commits")
    last = max(
        (f for f in os.listdir(commits) if f.isdigit()), key=int
    )
    os.remove(os.path.join(commits, last))
    # the local filesystem's checksum sidecar would block the re-commit
    os.remove(os.path.join(commits, f".{last}.crc"))
    _drain(spark, src, table, spec, ck, {})
    assert os.path.exists(os.path.join(commits, last))  # the batch re-ran
    viols, mets = stream_finalize(spark, spec, ck, "s1")
    assert (_viol_set(viols), _merged_metrics(mets, ("w_stats",))) == before


@pytest.mark.parametrize(
    "rule",
    [
        CountRule("per_part", min=1),
        CaptureRule("cap", column="caption", pattern=r"of (\w+)"),
        CompositeRegexRule("comp", column="caption", prefix="A photo number ",
                           pattern=r"\d+", suffix=" of cat", capture=True),
        SchemaRule("schema", expected=(("w", "int"),), allow_extra=True),
        UniqueRule("uniq", columns=("image_id",)),
        ColumnStatsRule("w_full", column="w"),
        MetricBoundRule("w_mean", column="w", metric="mean", max=1e9),
        DriftRule("d_sweep", column="w", sweep_by="fmt"),
        DriftRule("d_inc", column="w", sweep_by="fmt", incremental=True),
    ],
    ids=lambda r: r.id,
)
def test_stream_validate_refuses_rules_it_cannot_evaluate(spark, tmp_path, rule):
    """A rule whose per-micro-batch result is not its result is a
    SchemaError naming the rule, before any query starts."""
    src = str(tmp_path / "src")
    table = synthetic_images(spark, 20, with_bytes=False)
    table.write.parquet(src)
    stream = spark.readStream.schema(table.schema).parquet(src)
    spec = Spec(rules=(rule,), key_column="image_id")
    ck = str(tmp_path / "ck")
    active = len(spark.streams.active)
    with pytest.raises(SchemaError, match=repr(rule.id)):
        stream_validate(stream, spec, ck)
    assert len(spark.streams.active) == active
    assert not os.path.exists(ck)


def test_stream_validate_refuses_a_typod_expression_before_the_query(spark, tmp_path):
    """A `when` that does not resolve used to start the query, which then
    died in its first micro-batch; the spec's lint refuses it first."""
    src = str(tmp_path / "src")
    table = synthetic_images(spark, 20, with_bytes=False)
    table.write.parquet(src)
    stream = spark.readStream.schema(table.schema).parquet(src)
    spec = Spec(
        rules=(RegexRule("rx", column="caption", pattern=r"A.*",
                         when="lenght(caption) > 0"),),
        key_column="image_id",
    )
    ck = str(tmp_path / "ck")
    active = len(spark.streams.active)
    with pytest.raises(SchemaError, match="'rx': when predicate"):
        stream_validate(stream, spec, ck)
    assert len(spark.streams.active) == active
    assert not os.path.exists(ck)


def test_incremental_first_poll_lints_the_global_rules(spark, tmp_path):
    """A global rule's typo'd expression fails the first poll against the
    table's schema, not the EOF pass after every file was validated. The
    file lands after construction, so only the poll can see its schema."""
    base = str(tmp_path / "arrivals")
    spec = Spec(
        rules=(UniqueRule("uq", columns=("image_id",), when="lenght(caption) > 0"),),
        key_column="image_id",
    )
    v = FileIncrementalValidator(spark, spec, base, run_id="lint")
    synthetic_images(spark, 20, with_bytes=False).write.parquet(
        os.path.join(base, "chunk0")
    )
    with pytest.raises(SchemaError, match="'uq': when predicate"):
        v.poll()


@pytest.mark.parametrize("spark_footer", [True, False], ids=["spark", "arrow"])
def test_incremental_init_lints_against_the_pending_footer(
    spark, tmp_path, spark_footer
):
    """With a file already pending, construction reads its parquet footer
    driver-side and refuses a typo'd expression before any Spark job —
    from the schema Spark's writer stored, or from the Arrow schema of a
    file another writer made."""
    import pyarrow.parquet as pq

    base = tmp_path / "arrivals"
    frame = synthetic_images(spark, 20, with_bytes=False)
    if spark_footer:
        frame.write.parquet(str(base / "chunk0"))
    else:
        base.mkdir()
        pq.write_table(
            pa.Table.from_pandas(frame.toPandas(), preserve_index=False),
            str(base / "chunk0.parquet"),
        )
    spec = Spec(
        rules=(UniqueRule("uq", columns=("image_id",), when="lenght(caption) > 0"),),
        key_column="image_id",
    )
    j0 = spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
    with pytest.raises(SchemaError, match="'uq': when predicate"):
        FileIncrementalValidator(spark, spec, str(base), run_id="lint")
    assert spark.sparkContext._jsc.sc().dagScheduler().nextJobId() - j0 == 0
    # the same spec with the expression fixed constructs and validates
    ok = Spec(
        rules=(UniqueRule("uq", columns=("image_id",), when="length(caption) > 0"),),
        key_column="image_id",
    )
    v = FileIncrementalValidator(spark, ok, str(base), run_id="lint")
    assert v.poll() == 0
