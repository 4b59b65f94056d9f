"""Structured Streaming validation.

Two surfaces:

1. ``stream_row_violations`` — validate an unbounded stream with the fused
   row-rule pass. Row rules are stateless column predicates, so the batch
   executor's ``row_violations`` applies to a streaming DataFrame unchanged,
   partition ids included (``with_partition_id``: ``spec.partition_column``
   when set, else the key hash); violations flow to any streaming sink.
   This is the true-streaming analog of the reference's chunk loop: each
   micro-batch is a chunk, the sink is the accumulated error list.

2. ``windowed_count_rule`` — the `{min,max}` cardinality bound over event-time
   tumbling windows with a watermark for late data (the streaming
   re-expression of CountRule / repeated-matcher bounds,
   reference: containers.rs:316-349). Emits one row per closed window whose
   count left [min, max].

Both keep everything in built-in operators — no Python in the hot path — so
they run identically under `trigger(availableNow=True)` batch-drain (used in
tests) and continuous micro-batches on a cluster.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..compile import ConstraintProgram
from ..errors import KIND_CONCENTRATION, SchemaError
from ..operators.agg_rules import (
    column_stats_from_partials,
    column_stats_partials,
)
from ..operators.drift import _EPS, _bin_expr
from ..operators.pixel import (
    _pixel_arrow,
    degenerate_outputs,
    pixel_outputs,
    quality_only_results,
)
from ..operators.ref_rules import ref_violations
from ..operators.row_rules import row_violations, with_partition_id
from ..operators.similarity import (
    embedding_health_partials,
    embedding_health_rule_results_from_partials,
    health_partials_ddl,
)
from ..operators.skew import (
    micro_hhi_expr,
    micro_share_expr,
    volume_anomaly_from_counts,
)
from ..spec import CountRule


def stream_row_violations(
    stream_df: DataFrame, program: ConstraintProgram, run_id: str
) -> DataFrame:
    """Fused row pass on a streaming DataFrame → streaming violations: the
    batch executor's ``row_violations`` (operators/row_rules.py) over the
    same ``with_partition_id`` ids, so a stream and a batch run over the
    same rows report the same rows."""
    return row_violations(with_partition_id(stream_df, program.spec), program, run_id)


def stream_ref_violations(
    stream_df: DataFrame,
    rule,
    dim: DataFrame,
    run_id: str,
    key_column: str,
    n_partitions: int = 8,
) -> DataFrame:
    """Referential integrity on an unbounded stream: a STREAM-STATIC
    broadcast left-anti join — a stateless join shape (no watermark, no
    state store: every micro-batch joins independently against the static
    dimension, which Spark re-reads per batch so a refreshed dim table is
    picked up). Single-column and composite-tuple keys ride the SAME batch
    implementation (operators/ref_rules.py) — the expression tree is
    stateless, so it applies to a streaming frame unchanged; only the
    partition id (micro-batch-stable key hash) is attached here."""
    with_pid = stream_df.withColumn(
        "partition_id",
        F.pmod(F.xxhash64(F.col(key_column)), F.lit(n_partitions)).cast(
            "int"
        ),
    )
    return ref_violations(with_pid, rule, dim, run_id, key_column)


def windowed_count_rule(
    stream_df: DataFrame,
    rule: CountRule,
    ts_column: str,
    window: str = "1 minute",
    watermark: str = "2 minutes",
    run_id: str = "stream",
) -> DataFrame:
    """Event-time cardinality bound: count per (group, tumbling window) with
    watermarked late-data handling; violations for out-of-bounds windows.

    Output mode must be 'append' downstream — rows emit once the watermark
    closes a window, so each violation is final (no retraction needed).
    """
    group_cols = [F.window(F.col(ts_column), window).alias("win")] + [
        F.col(c) for c in rule.group_by
    ]
    counted = (
        stream_df.withWatermark(ts_column, watermark)
        .groupBy(*group_cols)
        .agg(F.count(F.lit(1)).alias("n"))
    )
    conds = []
    if rule.min is not None:
        conds.append(F.col("n") < rule.min)
    if rule.max is not None:
        conds.append(F.col("n") > rule.max)
    fail = conds[0] if len(conds) == 1 else (conds[0] | conds[1]) if conds else F.lit(False)
    key = (
        F.concat_ws("|", F.col("win.start").cast("string"), *[F.col(c) for c in rule.group_by])
        if rule.group_by
        else F.col("win.start").cast("string")
    )
    return counted.where(fail).select(
        F.lit(run_id).alias("run_id"),
        F.lit(None).cast("int").alias("partition_id"),
        F.lit(rule.id).alias("rule_id"),
        key.alias("image_id"),
        F.lit(",".join(rule.group_by) or "window").alias("column"),
        F.lit(f"count in [{rule.min}, {rule.max}]").alias("expected"),
        F.col("n").cast("string").alias("actual"),
        F.lit("count").alias("kind"),
    )


def stream_stats_partials(
    stream_df: DataFrame,
    rules,
    partials_dir: str,
    checkpoint_dir: str,
    run_id: str = "stream",
    trigger: dict | None = None,
):
    """Continuous incremental stats: each micro-batch appends ONE mergeable
    partials row (count / non-null / native min-max / HLL sketch / optional
    KLL quantile sketch — same layout as the batch engine's
    column_stats_partials) keyed by the micro-batch id. The accumulated
    directory merges on demand with ``merged_stream_stats`` in O(#batches),
    so "profile the stream so far" never replays the stream.

    Exactly-once: the write is a dynamic partition overwrite on
    partition_id = batch_id, so a replayed micro-batch (foreachBatch
    replays after failure) overwrites its own partial instead of
    double-counting. Returns the started StreamingQuery."""
    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        p = column_stats_partials(
            batch_df.withColumn("partition_id", F.lit(int(batch_id)).cast("int")),
            tuple(rules),
            run_id,
        )
        (
            p.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("partition_id")
            .parquet(partials_dir)
        )

    writer = (
        stream_df.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**(trigger or {"availableNow": True}))
    )
    return writer.start()


def merged_stream_stats(spark, rules, partials_dir: str, run_id: str = "stream"):
    """Merge everything ``stream_stats_partials`` accumulated so far into
    the standard long metrics rows — O(#micro-batches), no stream replay."""
    partials = spark.read.parquet(partials_dir)
    return column_stats_from_partials(partials, tuple(rules), run_id)


def windowed_drift_rule(
    stream_df: DataFrame,
    rule,
    inner_edges: list[float],
    ref_hist: list[float],
    ts_column: str,
    window: str = "1 minute",
    watermark: str = "2 minutes",
    run_id: str = "stream",
) -> DataFrame:
    """Per-window distribution drift vs a FROZEN reference profile (the
    streaming re-expression of DriftRule; profile from
    drift.reference_histogram on reference data).

    Streaming DataFrames allow ONE aggregation, so the histogram is built as
    nb pivoted sum(when(bin==i)) columns in a single watermarked
    groupBy(window) — then PSI (closed form over literals) or KS (cumulative
    sums over literals) is pure column algebra on that row. Append mode: one
    final violation row per closed drifted window, no retraction, no Python.
    """
    categorical = getattr(rule, "categorical", False)
    if categorical and rule.method != "psi":
        # same invariant compile_spec enforces for batch rules — this entry
        # point takes rules directly, so it must enforce it itself (KS over
        # nominal categories depends on the arbitrary frequency ranking)
        raise ValueError(f"rule {rule.id!r}: categorical drift requires method='psi'")
    nb = len(inner_edges) + 1
    val = F.expr(rule.expr) if getattr(rule, "expr", None) else F.col(rule.column)
    x = val.cast("string") if categorical else val.cast("double")
    bin_expr = _bin_expr(x, list(inner_edges), categorical)
    counted = (
        stream_df.where(x.isNotNull())
        .withWatermark(ts_column, watermark)
        .groupBy(F.window(F.col(ts_column), window).alias("win"))
        .agg(
            *[
                F.sum(F.when(bin_expr == i, 1).otherwise(0)).alias(f"_b{i}")
                for i in range(nb)
            ]
        )
    )
    total = sum([F.col(f"_b{i}") for i in range(nb)], F.lit(0)).cast("double")
    dens = [F.col(f"_b{i}") / total for i in range(nb)]
    if rule.method == "psi":
        stat = sum(
            [
                (p - F.lit(q)) * (F.log(p + F.lit(_EPS)) - F.lit(math.log(q + _EPS)))
                for p, q in zip(dens, ref_hist)
            ],
            F.lit(0.0),
        )
    else:  # ks: max abs difference of cumulative densities
        cum_q = 0.0
        terms = []
        cum_p = F.lit(0.0)
        for p, q in zip(dens, ref_hist):
            cum_p = cum_p + p
            cum_q += q
            terms.append(F.abs(cum_p - F.lit(cum_q)))
        stat = F.greatest(*terms) if len(terms) > 1 else terms[0]
    return counted.select(
        F.lit(run_id).alias("run_id"),
        F.lit(None).cast("int").alias("partition_id"),
        F.lit(rule.id).alias("rule_id"),
        F.col("win.start").cast("string").alias("image_id"),
        F.lit(rule.expr or rule.column).alias("column"),
        F.lit(f"{rule.method} <= {rule.threshold}").alias("expected"),
        F.round(stat, 6).cast("string").alias("actual"),
        F.lit("drift").alias("kind"),
    ).where(stat > rule.threshold)


def stream_volume_anomaly(
    spark,
    rule_id: str,
    partials_dir: str,
    k: float = 3.0,
    abs_tol: float = 0.0,
    min_batches: int = 4,
) -> DataFrame:
    """Per-MICRO-BATCH volume anomaly from the partials
    ``stream_stats_partials`` already persisted — the streaming face of
    ``operators.skew.volume_anomaly``: flag micro-batches whose row count
    is abnormal for this stream's own batch-size history (a dead upstream
    shard shows up as a starved batch, a replayed producer as a doubled
    one), in O(#batches) without touching the stream or its source again.

    ``rule_id`` names which ColumnStatsRule's ``__rows`` partial to read —
    any rule registered in the partials works; an unscoped rule counts the
    whole batch. Output shape and envelope semantics are exactly
    ``volume_anomaly``'s (partition = the micro-batch id, MAD envelope,
    kind ∈ {over_volume, under_volume}); ``min_batches`` plays
    ``min_partitions``' role.
    """
    counts = spark.read.parquet(partials_dir).select(
        F.col("partition_id").cast("string").alias("partition"),
        F.col(f"{rule_id}__rows").cast("double").alias("n_rows"),
    )
    return volume_anomaly_from_counts(
        counts, k=k, abs_tol=abs_tol, min_partitions=min_batches
    )


def windowed_concentration_rule(
    stream_df: DataFrame,
    rule,
    values: list[str],
    ts_column: str,
    window: str = "1 minute",
    watermark: str = "2 minutes",
    run_id: str = "stream",
) -> DataFrame:
    """Per-window value dominance vs a FROZEN value set (the streaming
    re-expression of ConcentrationRule; ``values`` from the profiled
    domain, e.g. suggest_spec's DomainRule values) — "the last minute of
    ingest was 90% one caption" while the feed is still live.

    Streaming DataFrames allow ONE aggregation, so the per-value counts
    are pivoted conditional sums over the literal value set in a single
    watermarked groupBy(window) — the windowed_drift_rule shape keyed by
    value instead of bin. Values OUTSIDE the frozen set pool into one
    ``__other__`` bucket: they count toward the total, the bucket itself
    competes for dominance (a NEW value flooding the stream alerts), but
    its constituent values are indistinguishable (DomainRule owns that).
    top_share/hhi use the same integer `div` micro-unit arithmetic as
    the batch rule, on the SAME bound semantics (strict >). Windows with
    fewer than ``rule.min_rows`` in-scope rows are SILENT — the stream
    is the low-latency alert path; loud unmeasurability is the batch
    rule's finalize contract. Append mode: one violation row per closed
    window per exceeded bound, no Python anywhere."""
    if rule.max_top_share is None and rule.max_hhi is None:
        raise SchemaError(
            f"rule {rule.id!r}: concentration rule needs max_top_share "
            "and/or max_hhi"
        )
    if not values:
        raise SchemaError(f"rule {rule.id!r}: frozen value set is empty")
    vals = sorted({str(v) for v in values})
    if "__other__" in vals:
        raise SchemaError(
            f"rule {rule.id!r}: value set collides with the reserved "
            "'__other__' bucket"
        )
    x = F.col(rule.column).cast("string")
    scoped = stream_df.where(F.expr(rule.when)) if rule.when else stream_df
    counted = (
        scoped.where(x.isNotNull())
        .withWatermark(ts_column, watermark)
        .groupBy(F.window(F.col(ts_column), window).alias("win"))
        .agg(
            *[
                F.sum(F.when(x == F.lit(v), 1).otherwise(0)).alias(f"_c{i}")
                for i, v in enumerate(vals)
            ],
            F.sum(
                F.when(~x.isin(list(vals)), 1).otherwise(0)
            ).alias("_other"),
        )
    )
    names = [f"_c{i}" for i in range(len(vals))] + ["_other"]
    labels = vals + ["__other__"]
    total = sum([F.col(n) for n in names], F.lit(0))
    # min of struct(-count, other-rank, value) = max count, ties -> any
    # REAL frozen value before the synthetic '__other__' bucket (whose
    # label would otherwise win ties against every lowercase value:
    # '_' 0x5F < 'a'), then lowest value — the batch min_by total order,
    # over a literal-sized array
    best = F.array_min(
        F.array(
            *[
                F.struct(
                    (-F.col(n)).alias("a"),
                    F.lit(1 if v == "__other__" else 0).alias("o"),
                    F.lit(v).alias("b"),
                )
                for n, v in zip(names, labels)
            ]
        )
    )
    top_n = -best["a"]
    top_v = best["b"]
    ssq = sum(
        [
            F.col(n).cast("decimal(18,0)") * F.col(n).cast("decimal(18,0)")
            for n in names
        ],
        F.lit(0).cast("decimal(18,0)"),
    )
    stats = counted.select(
        "win",
        total.alias("_t"),
        top_n.alias("_mx"),
        top_v.alias("_tv"),
        ssq.alias("_ssq"),
    ).select(
        "win",
        "_t",
        "_mx",
        "_tv",
        (micro_share_expr("_mx", "_t") / F.lit(1e6)).alias("top_share"),
        (micro_hhi_expr("_ssq", "_t") / F.lit(1e6)).alias("hhi"),
    ).where(F.col("_t") >= F.lit(int(rule.min_rows)))

    share_actual = F.concat(
        F.lit("top value '"), F.col("_tv"), F.lit("' share="),
        F.format_string("%.6f", F.col("top_share")),
        F.lit(" ("), F.col("_mx").cast("string"),
        F.lit(" of "), F.col("_t").cast("string"), F.lit(")"),
    )
    hhi_actual = F.concat(
        F.lit("hhi="), F.format_string("%.6f", F.col("hhi")),
    )
    exprs = []
    if rule.max_top_share is not None:
        exprs.append(
            F.when(
                F.col("top_share") > rule.max_top_share,
                F.struct(
                    F.lit(f"top_share <= {rule.max_top_share}").alias("e"),
                    share_actual.alias("a"),
                ),
            ).alias("_v_share")
        )
    if rule.max_hhi is not None:
        exprs.append(
            F.when(
                F.col("hhi") > rule.max_hhi,
                F.struct(
                    F.lit(f"hhi <= {rule.max_hhi}").alias("e"),
                    hhi_actual.alias("a"),
                ),
            ).alias("_v_hhi")
        )
    # one row per exceeded bound, from one streaming aggregation: pack the
    # (expected, actual) candidates into an array, explode the non-NULLs
    packed = stats.select(
        "win",
        F.explode(
            F.filter(F.array(*exprs), lambda s: s.isNotNull())
        ).alias("_v"),
    )
    return packed.select(
        F.lit(run_id).alias("run_id"),
        F.lit(None).cast("int").alias("partition_id"),
        F.lit(rule.id).alias("rule_id"),
        F.col("win.start").cast("string").alias("image_id"),
        F.lit(rule.column).alias("column"),
        F.col("_v.e").alias("expected"),
        F.col("_v.a").alias("actual"),
        F.lit(KIND_CONCENTRATION).alias("kind"),
    )


def stream_session_stats(
    stream_df: DataFrame,
    ts_column: str,
    gap: str = "30 minutes",
    *,
    key_cols: tuple = ("user_id",),
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming sessionization: Spark-native ``session_window`` — a
    session extends while events keep arriving within ``gap`` of the last
    one, and CLOSES once the watermark passes the session end, so each
    emitted row is a final, complete session (output mode 'append', no
    retractions). The streaming twin of operators/gaps.py
    ``session_stats``: same gap semantics, state bounded by the watermark
    (Spark evicts closed-session state automatically — no unbounded key
    growth; the state-TTL story the stateful uniqueness operator wires by
    hand comes built in here).

    Emits one row per closed (key, session). ``session_end`` is Spark's
    window end (last event + gap); ``duration_us`` is the exact integer
    extent of the EVENTS (last - first), matching the batch operator —
    the gap padding never inflates it."""
    agg = (
        stream_df.withWatermark(ts_column, watermark)
        .groupBy(
            *[F.col(c) for c in key_cols],
            F.session_window(F.col(ts_column), gap).alias("win"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(F.col(ts_column)).alias("first_event"),
            F.max(F.col(ts_column)).alias("last_event"),
        )
    )
    return agg.select(
        *[F.col(c) for c in key_cols],
        F.col("win.start").alias("session_start"),
        F.col("win.end").alias("session_end"),
        F.col("n_events"),
        (
            F.unix_micros(F.col("last_event"))
            - F.unix_micros(F.col("first_event"))
        ).alias("duration_us"),
    )


def stream_degenerate_violations(
    stream_df: DataFrame,
    rule,
    run_id: str,
    key_column: str = "image_id",
    n_partitions: int = 8,
) -> DataFrame:
    """Degenerate-image gate (DegenerateImageRule) on an unbounded stream of
    image rows. The decode→stats kernel is a STATELESS Arrow mapInPandas (no
    watermark, no state store — each micro-batch decodes independently), so
    the batch engine's quality_only_results applies to a streaming frame
    unchanged; only the micro-batch-stable partition id is attached here.
    Emits the same violation shape as the batch stage (run_id, partition_id,
    rule_id, image_id, column, expected, actual, kind=degenerate) so a
    parquet/Kafka sink of stream and batch verdicts can be unioned.

    Per-partition metrics are an aggregation (stateful on a stream) and are
    intentionally NOT emitted here — aggregate the sunk violations with the
    batch degenerate_outputs on a bounded replay instead."""
    with_pid = stream_df.withColumn(
        "partition_id",
        F.pmod(F.xxhash64(F.col(key_column)), F.lit(n_partitions)).cast("int"),
    )
    checks = quality_only_results(with_pid, rule, key_column)
    violations, _ = degenerate_outputs(checks, rule, run_id)
    return violations


def stream_pixel_violations(
    stream_df: DataFrame,
    rule,
    run_id: str,
    key_column: str = "image_id",
    n_partitions: int = 8,
) -> DataFrame:
    """PixelRule verify (decode + fmt + dims + phash + PSNR) on an unbounded
    stream of image rows — the at-ingest twin of the batch pixel stage. The
    verify kernel is a STATELESS Arrow mapInPandas, so each micro-batch
    decodes independently (no watermark, no state store); the native
    row-group scan path is a batch-only optimization (it re-reads parquet
    files, which a stream has no stable set of), so the stream always takes
    the Arrow exchange path explicitly. ``rule.sample_rate`` applies
    unchanged — content-keyed membership is engine- and batch-independent,
    so a sampled stream verdict matches the batch verdict on the same rows.
    Emits the batch stage's violation shape (kind=pixel)."""
    with_pid = stream_df.withColumn(
        "partition_id",
        F.pmod(F.xxhash64(F.col(key_column)), F.lit(n_partitions)).cast("int"),
    )
    checks = _pixel_arrow(with_pid, rule, key_column, None)
    violations, _ = pixel_outputs(checks, rule, run_id)
    return violations


def stream_health_partials(
    stream_df: DataFrame,
    rule,
    partials_dir: str,
    checkpoint_dir: str,
    trigger: dict | None = None,
):
    """Continuous embedding-matrix health: each micro-batch appends its
    mergeable matrix-partials rows (usable/excluded counts, per-dimension
    sum + sum-of-squares, row-norm sum — the EmbeddingHealthRule
    incremental partial) keyed by the micro-batch id, so "is the encoder
    drifting toward collapse on the live feed" merges on demand with
    ``merged_stream_health`` in O(partial rows), never replaying the
    stream. Narrow rules (dim ≤ 512) write one row per batch; wide rules
    write one row per Arrow batch within it (the mapInPandas kernel —
    deliberately never one pandas frame per batch), all summed by the
    merge.

    Exactly-once: dynamic partition overwrite on partition_id = batch_id —
    a replayed micro-batch (foreachBatch replays after failure) overwrites
    its own partial instead of double-counting (the stream_stats_partials
    contract). Returns the started StreamingQuery."""
    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        p = embedding_health_partials(
            batch_df.withColumn(
                "partition_id", F.lit(int(batch_id)).cast("int")
            ),
            rule,
        )
        (
            p.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("partition_id")
            .parquet(partials_dir)
        )

    writer = (
        stream_df.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**(trigger or {"availableNow": True}))
    )
    return writer.start()


def merged_stream_health(spark, rule, partials_dir: str, run_id: str = "stream"):
    """Merge everything ``stream_health_partials`` accumulated so far into
    the rule's standard (violations, metrics) frames — O(#micro-batches),
    no stream replay, same arithmetic as the batch paths (explicit
    dim-dependent schema so an empty first batch stays readable)."""
    partials = spark.read.schema(health_partials_ddl(rule.dim)).parquet(
        partials_dir
    )
    return embedding_health_rule_results_from_partials(partials, rule, run_id)
