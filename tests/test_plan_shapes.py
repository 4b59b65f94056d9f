"""Physical-plan regression tests — the perf posture as assertions.

These lock in the properties that make the engine viable at 100 TB
(SURVEY.md §4): fused row rules stay in one shuffle-free JVM pass with the
scan pruned to exactly the referenced columns; referential checks broadcast
the dimension side; nothing but the pixel stage ever reads `bytes`. A
regression here is a performance bug even while every value-level test
stays green.
"""

import re

from pyspark.sql import functions as F

from mdvalidate_spark.compile import compile_spec
from mdvalidate_spark.operators.ref_rules import ref_violations
from mdvalidate_spark.operators.row_rules import row_violations, with_partition_id
from mdvalidate_spark.sources.synthetic import full_images_spec, synthetic_images
from mdvalidate_spark.spec import (
    DomainRule,
    RangeRule,
    RefIntegrityRule,
    RegexRule,
    Spec,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _read_schema(plan: str) -> str:
    m = re.search(r"ReadSchema: ([^\n]+)", plan)
    return m.group(1) if m else ""


def test_row_pass_single_stage_no_shuffle_no_python(spark, tmp_path):
    src = str(tmp_path / "orders")
    spark.range(0, 1000, 1, 4).select(
        F.col("id").alias("o_orderkey"),
        F.lit("O").alias("o_orderstatus"),
        (F.col("id") % 100000).cast("double").alias("o_totalprice"),
        F.lit("1-URGENT").alias("o_orderpriority"),
        F.lit("pad").alias("unused_wide_column"),
    ).write.parquet(src)
    df = spark.read.parquet(src)
    spec = Spec(
        rules=(
            DomainRule("d", column="o_orderstatus", values=("O", "F")),
            RangeRule("r", column="o_totalprice", min=1.0, max=50000.0),
            RegexRule("x", column="o_orderpriority", pattern="[1-5]-[A-Z]+"),
        ),
        key_column="o_orderkey",
    )
    plan = _plan(row_violations(with_partition_id(df, spec), compile_spec(spec, df.columns), "q"))
    assert "Exchange" not in plan, "row pass must not shuffle"
    assert "PythonUDF" not in plan and "ArrowEval" not in plan, "row pass must stay JVM-side"
    rs = _read_schema(plan)
    assert "unused_wide_column" not in rs, f"column pruning failed: {rs}"
    for col in ("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"):
        assert col in rs


def test_ref_join_broadcasts_dimension(spark, tmp_path):
    src = str(tmp_path / "fact")
    spark.range(0, 1000, 1, 4).select(
        F.col("id").alias("k"), (F.col("id") % 50).cast("string").alias("fk")
    ).write.parquet(src)
    fact = spark.read.parquet(src)
    dim = spark.range(40).select(F.col("id").cast("string").alias("fk"))
    rule = RefIntegrityRule("ref", column="fk", dim_name="dim", dim_column="fk")
    plan = _plan(
        ref_violations(with_partition_id(fact, Spec(key_column="k")), rule, dim, "q", "k")
    )
    assert "BroadcastHashJoin" in plan
    assert "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_fused_row_ref_pass_single_scan(spark, tmp_path):
    """Round-6 fusion: a broadcast-dim referential check rides the fused
    row pass as one more violation struct — ONE scan of the fact table
    (no Union of a row branch and a ref branch), the dim side broadcast,
    no shuffle exchange anywhere, and identical violation rows to the
    standalone anti-join path."""
    from mdvalidate_spark.operators.ref_rules import ref_fused_check

    src = str(tmp_path / "fact_fused")
    spark.range(0, 1000, 1, 4).select(
        F.col("id").alias("k"),
        (F.col("id") % 50).cast("string").alias("fk"),
        F.lit("O").alias("status"),
    ).write.parquet(src)
    fact = spark.read.parquet(src)
    dim = spark.range(40).select(F.col("id").cast("string").alias("fk"))
    spec = Spec(
        rules=(DomainRule("d", column="status", values=("O", "F")),),
        key_column="k",
    )
    prog = compile_spec(spec, fact.columns)
    rule = RefIntegrityRule("ref", column="fk", dim_name="dim", dim_column="fk")
    df = with_partition_id(fact, spec)
    joined, chk = ref_fused_check(df, rule, dim, 0)
    fused = row_violations(joined, prog, "q", extra_checks=(chk,))
    plan = _plan(fused)
    assert "BroadcastHashJoin" in plan
    assert "Union" not in plan, "fused pass must be one scan, not a union"
    # the only exchange allowed is the dim-key dedup (tiny, broadcast side);
    # the fact side must never shuffle
    assert "Exchange hashpartitioning(fk#" not in plan, (
        "fact side must not shuffle"
    )
    assert plan.count("Exchange hashpartitioning") <= 1
    assert plan.count("FileScan") == 1, "fact table scanned exactly once"
    # value parity with the standalone anti-join path
    standalone = ref_violations(df, rule, dim, "q", "k")
    fused_rows = {
        (r["rule_id"], r["image_id"], r["actual"])
        for r in fused.where(F.col("rule_id") == "ref").collect()
    }
    standalone_rows = {
        (r["rule_id"], r["image_id"], r["actual"])
        for r in standalone.collect()
    }
    assert fused_rows == standalone_rows and len(fused_rows) == 200


def test_cap_violations_two_phase_windows_partitioned(spark):
    """The violation cap must stay a TWO-PHASE rank: phase 1 shuffles on
    (rule, partition, input split) so a hot rule spreads over splits, and
    NO window may degenerate to a single unpartitioned group (the
    'No Partition Defined' WindowExec path moves every violation row to
    one task — the exact failure the cap exists to prevent)."""
    from mdvalidate_spark.operators.sampling import cap_violations

    viol = spark.range(0, 1000, 1, 8).select(
        F.lit("r").alias("run_id"),
        (F.col("id") % 4).cast("int").alias("partition_id"),
        F.concat(F.lit("rule"), (F.col("id") % 2).cast("string")).alias("rule_id"),
        F.col("id").cast("string").alias("image_id"),
        F.lit("c").alias("column"),
        F.lit("e").alias("expected"),
        F.lit("a").alias("actual"),
        F.lit("k").alias("kind"),
    )
    plan = _plan(cap_violations(viol, 5))
    assert plan.count("Window") >= 2, "two-phase rank collapsed"
    assert "SinglePartition" not in plan, "cap window degenerated to one task"
    assert "hashpartitioning(rule_id" in plan
    assert "PythonUDF" not in plan


def test_stats_partials_single_aggregation_pruned(spark, tmp_path):
    """Incremental stats partials: ONE partial+final aggregate pair per
    batch (no extra shuffles beyond the groupBy(partition_id)), scan pruned
    to the stat columns, zero Python."""
    from mdvalidate_spark.operators.agg_rules import column_stats_partials
    from mdvalidate_spark.spec import ColumnStatsRule

    src = str(tmp_path / "stats-src")
    spark.range(0, 1000, 1, 4).select(
        (F.col("id") % 8).cast("int").alias("partition_id"),
        F.col("id").cast("double").alias("v"),
        F.lit("pad").alias("unused_wide_column"),
    ).write.parquet(src)
    df = spark.read.parquet(src)
    rules = (ColumnStatsRule("s", column="v", incremental=True, quantiles=(0.5,)),)
    plan = _plan(column_stats_partials(df, rules, "q"))
    assert plan.count("Exchange") == 1, "partials must shuffle exactly once"
    assert "PythonUDF" not in plan
    assert "unused_wide_column" not in _read_schema(plan)


def test_only_pixel_reads_bytes(spark, tmp_path):
    src = str(tmp_path / "img")
    synthetic_images(spark, 200, with_bytes=True).write.parquet(src)
    df = spark.read.parquet(src)
    spec = full_images_spec(with_pixel=False, n_partitions=8)
    plan = _plan(row_violations(with_partition_id(df, spec), compile_spec(spec, df.columns), "q"))
    assert "bytes" not in _read_schema(plan), "row pass must never scan the payload column"


# ---------------------------------------------- extraction-family plans


def test_sampling_plans_stay_map_side(spark, tmp_path):
    from mdvalidate_spark.operators.sampling import sample_hash, sample_weighted

    src = str(tmp_path / "docs_sampling")
    spark.range(0, 2000, 1, 4).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 5).cast("string").alias("domain"),
        F.lit("body").alias("text"),
    ).write.parquet(src)
    df = spark.read.parquet(src)

    p = _plan(sample_hash(df, ["doc_id"], 0.25))
    assert "Exchange" not in p and "Python" not in p

    # weighted: ONE broadcast join, never a data-side shuffle or Python
    p = _plan(
        sample_weighted(
            df, "domain", {"0": 0.5, "1": 1.0}, key_cols=["doc_id"]
        )
    )
    assert "BroadcastHashJoin" in p
    assert "Exchange hashpartitioning" not in p, "corpus side must not shuffle"
    assert "Python" not in p


def test_dedup_survivors_plan_has_no_window(spark):
    from mdvalidate_spark.operators.dedup import dedup_survivors

    df = spark.range(1000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 50).cast("string").alias("c"),
        F.col("id").cast("double").alias("score"),
    )
    clusters = df.select("doc_id", F.col("c").alias("cluster_id"))
    for prefer in (None, "score"):
        p = _plan(dedup_survivors(df, clusters, prefer_col=prefer))
        # representative selection must be an aggregation (map-side combine
        # on hot clusters), never a per-cluster sort window
        assert "Window" not in p
        assert "Python" not in p


def test_pack_sequences_single_shuffle(spark):
    from mdvalidate_spark.operators.packing import pack_sequences

    df = spark.range(2000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 97).alias("n_tok")
    )
    p = _plan(pack_sequences(df, "n_tok", 256, n_shards=8))
    assert "FlatMapGroupsInPandas" in p  # the one declared Arrow kernel
    assert p.count("Exchange hashpartitioning") == 1, (
        "packing pays exactly one shuffle (group by shard)"
    )


def test_quality_bins_plan_map_only_after_edges(spark):
    from mdvalidate_spark.operators.outliers import quality_bins

    df = spark.range(500).select(
        F.col("id").alias("k"), (F.col("id") % 91).cast("double").alias("s")
    )
    out = quality_bins(df, "s", 4, exact=True)
    p = _plan(out)
    # edges were collected during the call; the RETURNED frame is a pure
    # projection — no shuffle, no join, no Python
    assert "Exchange" not in p and "Join" not in p and "Python" not in p


# ------------------------------------------------------------ job budget


def _next_job_id(spark) -> int:
    """The id Spark gives the next job: deltas count every job, those the
    run's driver threads submit included."""
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def test_run_job_counts_are_pinned(spark, tmp_path):
    """Spark jobs per run over a spec with every stage that starts jobs:
    a one-shot validate(), a checkpointed day-1 over two of four partitions
    in batches of one, and its resume over the full table. These are the
    scheduling budget the benchmark's job counts measure; a change to them
    is a plan change, so it must be deliberate."""
    from mdvalidate_spark.run import ValidationRun
    from mdvalidate_spark.sources.synthetic import dim_source
    from mdvalidate_spark.spec import (
        CaptureRule,
        ColumnStatsRule,
        CountRule,
        DegenerateImageRule,
        MetricBoundRule,
    )

    src = str(tmp_path / "images")
    synthetic_images(spark, 2000, with_bytes=True, n_partitions=4).write.parquet(src)
    df = spark.read.parquet(src)
    base = full_images_spec(with_pixel=True, n_partitions=4)
    spec = Spec(
        rules=base.rules + (
            CountRule("per_part", min=1),
            CaptureRule("cap", column="caption", pattern=r"of (\w+)"),
            DegenerateImageRule("degenerate"),
            MetricBoundRule("w_mean", column="w", metric="mean", max=1e9),
            ColumnStatsRule("w_inc", column="w", incremental=True),
        ),
        key_column=base.key_column,
        n_partitions=4,
    )
    dims = {"dim_source": dim_source(spark)}
    ck = str(tmp_path / "ck")

    def jobs(frame, batch_size=None, **kw) -> int:
        j0 = _next_job_id(spark)
        run = ValidationRun(spark, spec, frame, dims=dims, **kw)
        run.validate(batch_size)
        n = _next_job_id(spark) - j0
        run.release()
        return n

    got = (
        jobs(df, run_id="pin-oneshot"),
        jobs(df.where(F.col("partition_id") < 2), 1, run_id="pin", checkpoint_dir=ck),
        jobs(df, run_id="pin", checkpoint_dir=ck),
    )
    assert got == (39, 79, 50)
