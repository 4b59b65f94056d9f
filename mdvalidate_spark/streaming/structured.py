"""Structured Streaming validation.

1. ``stream_validate`` runs ValidationRun's batch stage on every micro-batch
   (the reference's chunk loop, validator.rs:101-185) into parquet sinks
   keyed by batch id; ``stream_finalize`` merges them (the EOF pass) and
   ``stream_volume_anomaly`` judges micro-batch sizes. Rules whose
   per-micro-batch result is not their result are refused up front.
2. ``stream_row_violations`` is the fused row pass as a streaming DataFrame
   for any sink, with the batch pass's partition ids.
3. Event-time rules with no batch analog — ``windowed_count_rule`` (the
   streaming CountRule, reference: containers.rs:316-349),
   ``windowed_drift_rule``, ``windowed_concentration_rule`` and
   ``stream_session_stats`` — emit one row per closed watermarked window,
   in built-in operators only, so they run identically under
   `trigger(availableNow=True)` (tests) and continuous micro-batches.
"""

from __future__ import annotations

import json
import math
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from ..compile import STAGES, ConstraintProgram, compile_spec, scoped_spec
from ..errors import KIND_CONCENTRATION, SchemaError
from ..operators.drift import _EPS, _bin_expr
from ..operators.row_rules import row_violations, with_partition_id
from ..operators.skew import (
    micro_hhi_expr,
    micro_share_expr,
    volume_anomaly_from_counts,
)
from ..plans.manifest import write_json
from ..run import _INCREMENTAL_FAMILIES, ValidationRun, _require_dims
from ..schemas import (
    MANIFEST_DDL,
    METRICS_DDL,
    VIOLATIONS_DDL,
    local_frame,
    union_metrics,
    union_violations,
    violation_columns,
)
from ..spec import CountRule, DriftRule, Spec

#: batch-scope stages whose result over one micro-batch is not the rule's
#: result: a per-partition count bound or capture array would judge a slice
#: of each partition
_RUN_SCOPED_STAGES = ("count", "capture")
#: global rules the stream evaluates: the incremental families whose
#: per-micro-batch partials merge into the rule's result. Not drift: an
#: incremental sweep freezes its bin edges per run (run._frozen_edges), so
#: every micro-batch would bin on its own edges.
_MERGED_TYPES = tuple(
    fam.rule_type for fam in _INCREMENTAL_FAMILIES if fam.rule_type is not DriftRule
)


def _refuse_unevaluated(spec: Spec) -> None:
    for r in spec.rules:
        if isinstance(r, _MERGED_TYPES):
            ok = r.incremental
        else:  # a capturing CompositeRegexRule is staged "row"
            ok = (
                STAGES[r.stage] == "batch"
                and r.stage not in _RUN_SCOPED_STAGES
                and not getattr(r, "capture", False)
            )
        if not ok:
            raise SchemaError(
                f"rule {r.id!r}: {r.kind} rules are not evaluated by "
                "stream_validate — one micro-batch's result is not the "
                "rule's result; validate with ValidationRun"
            )


def _read_sink(spark, checkpoint_dir: str, name: str, schema) -> DataFrame:
    """One ``stream_validate`` sink with its ``batch_id`` column, read with
    an explicit schema — never inferred: a micro-batch with no rows for a
    sink leaves no part files. Empty when no batch wrote the sink."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    schema = StructType([*schema.fields, StructField("batch_id", IntegerType())])
    path = os.path.join(checkpoint_dir, name)
    if not os.path.exists(path):
        return local_frame(spark, schema)
    return spark.read.schema(schema).parquet(path)


def stream_validate(
    stream_df: DataFrame,
    spec: Spec,
    checkpoint_dir: str,
    dims: dict[str, DataFrame] | None = None,
    run_id: str = "stream",
    trigger: dict | None = None,
):
    """Validate an unbounded stream with ValidationRun's batch stage; returns
    the started StreamingQuery (``trigger`` defaults to availableNow).

    Each micro-batch is one ValidationRun (same spec, ``dims`` and
    ``run_id``, no checkpoint). Its ``violations``, ``metrics``,
    incremental partials (``run._partials``) and — LAST, marking the batch
    done — ``manifest`` go to ``{checkpoint_dir}/<name>`` partitioned by
    ``batch_id`` with dynamic overwrite, so a replayed micro-batch
    overwrites its own output. ``schema.json`` keeps the stream's schema
    for ``stream_finalize``; ``query/`` is the query's checkpoint.

    Evaluated: the row, ref, pixel and degenerate stages, plus incremental
    stats, health, Benford and concentration rules. Any other rule is a
    SchemaError before the query starts: counts and captures would judge
    slices of a partition, the schema check and other global rules need
    the whole input, and sweep drift freezes bin edges per run. Per-
    partition metrics are per (batch, partition);
    ``max_violations_per_rule`` samples per batch (``violations_total``
    stays exact)."""
    dims = dims or {}
    _refuse_unevaluated(spec)
    _require_dims(compile_spec(spec, with_partition_id(stream_df, spec).schema), dims)
    write_json(
        os.path.join(checkpoint_dir, "schema.json"), stream_df.schema.jsonValue()
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        run = ValidationRun(
            batch_df.sparkSession, spec, batch_df, dims=dims, run_id=run_id
        )
        try:
            run._validate_batch(None)
            rep = run.report()
            outputs = [("violations", rep.violations), ("metrics", rep.metrics)]
            outputs += [(key, part) for key, (part,) in run._partials.items()]
            outputs.append(("manifest", rep.manifest))  # last: batch done
            for name, frame in outputs:
                (
                    frame.withColumn("batch_id", F.lit(batch_id).cast("int"))
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("batch_id")
                    .parquet(os.path.join(checkpoint_dir, name))
                )
        finally:
            # a long stream would otherwise pin every batch's cached frames
            run.release()

    return (
        stream_df.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", os.path.join(checkpoint_dir, "query"))
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


def stream_finalize(spark, spec: Spec, checkpoint_dir: str, run_id: str = "stream"):
    """Everything ``stream_validate`` finished so far as (violations_df,
    metrics_df) — FileIncrementalValidator.finalize's shape — without
    replaying the stream. Only batch ids in the manifest sink count. The
    violation and metric sinks are unioned; the incremental rules merge
    their partials through ``ValidationRun.finalize``: one run over an
    empty frame of the stream's schema, its spec narrowed to those rules,
    its ``_partials`` loaded from the sinks with each family's declared
    reload schema."""
    _refuse_unevaluated(spec)
    done = [
        r["batch_id"]
        for r in _read_sink(spark, checkpoint_dir, "manifest", MANIFEST_DDL)
        .select("batch_id")
        .distinct()
        .collect()
    ]

    def finished(name, schema) -> DataFrame:
        return (
            _read_sink(spark, checkpoint_dir, name, schema)
            .where(F.col("batch_id").isin(done))
            .drop("batch_id")
        )

    viols = [finished("violations", VIOLATIONS_DDL)]
    mets = [finished("metrics", METRICS_DDL)]
    # after the refusal above, a global-stage rule is an incremental one
    merged = scoped_spec(spec, "global")
    if merged.rules:
        with open(os.path.join(checkpoint_dir, "schema.json")) as f:
            schema = StructType.fromJson(json.load(f))
        run = ValidationRun(
            spark,
            merged,
            local_frame(spark, schema),
            run_id=run_id,
        )
        for fam in _INCREMENTAL_FAMILIES:
            for unit in fam.units(run.program):
                key = fam.key(unit)
                run._partials[key] = [finished(key, fam.reload_schema(run, unit))]
        rep = run.finalize()
        viols.append(rep.violations)
        mets.append(rep.metrics)
        # the frames recompute from the sinks when read
        run.release()
    return union_violations(spark, viols), union_metrics(spark, mets)


def stream_row_violations(
    stream_df: DataFrame, program: ConstraintProgram, run_id: str
) -> DataFrame:
    """Fused row pass on a streaming DataFrame → streaming violations: the
    batch executor's ``row_violations`` (operators/row_rules.py) over the
    same ``with_partition_id`` ids, so a stream and a batch run over the
    same rows report the same rows."""
    return row_violations(with_partition_id(stream_df, program.spec), program, run_id)


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
        *violation_columns(
            run_id=run_id,
            rule_id=rule.id,
            image_id=key,
            column=",".join(rule.group_by) or "window",
            expected=f"count in [{rule.min}, {rule.max}]",
            actual=F.col("n").cast("string"),
            kind="count",
        )
    )


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
        *violation_columns(
            run_id=run_id,
            rule_id=rule.id,
            image_id=F.col("win.start").cast("string"),
            column=rule.expr or rule.column,
            expected=f"{rule.method} <= {rule.threshold}",
            actual=F.round(stat, 6).cast("string"),
            kind="drift",
        )
    ).where(stat > rule.threshold)


def stream_volume_anomaly(
    spark,
    checkpoint_dir: str,
    k: float = 3.0,
    abs_tol: float = 0.0,
    min_batches: int = 4,
) -> DataFrame:
    """Per-MICRO-BATCH volume anomaly from the manifests ``stream_validate``
    persisted — ``operators.skew.volume_anomaly`` over each batch's row
    count (``sum(rows)``): a dead upstream shard shows up as a starved
    batch, a replayed producer as a doubled one, in O(#batches) without
    touching the stream again. Same output and MAD envelope (partition =
    the batch id, kind ∈ {over_volume, under_volume}); ``min_batches``
    plays ``min_partitions``' role."""
    counts = (
        _read_sink(spark, checkpoint_dir, "manifest", MANIFEST_DDL)
        .groupBy("batch_id")
        .agg(F.sum("rows").cast("double").alias("n_rows"))
        .select(F.col("batch_id").cast("string").alias("partition"), "n_rows")
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
        *violation_columns(
            run_id=run_id,
            rule_id=rule.id,
            image_id=F.col("win.start").cast("string"),
            column=rule.column,
            expected=F.col("_v.e"),
            actual=F.col("_v.a"),
            kind=KIND_CONCENTRATION,
        )
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
