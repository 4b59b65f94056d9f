"""Time-series continuity: gap / silence detection on an event stream.

Freshness (agg_rules.freshness_violations) asks "has the feed produced
RECENTLY?"; this module asks "did the feed ever go QUIET in the middle?"
— an ingest outage that recovered before the freshness check ran is
invisible to max(ts) but leaves a hole between consecutive timestamps
that a volume check per coarse partition can also miss (the surrounding
hours absorb the dip).

Scale shape — the naive definition (LAG over all rows ordered by ts) is
a single-partition global sort at 10^12 rows, so the operator runs a
bucketed decomposition that is EXACTLY equivalent:

1. shrink to DISTINCT (group, ts) first — gaps depend only on the set of
   distinct timestamps, and the dedup is a map-side-combined groupBy;
2. bucket by ``floor(epoch_ms / bucket_ms)`` and LAG within (group,
   bucket) — every partition sorts only its own bucket, fully parallel;
3. stitch bucket boundaries from the per-bucket (min, max) summary — a
   LAG over #non-empty-buckets rows per group (bounded by span/bucket,
   e.g. ~3.7k day-buckets per decade), skipping empty buckets naturally.

Every consecutive distinct-timestamp pair appears exactly once: in step 2
when both ends share a bucket, in step 3 when they straddle. The DuckDB
oracle runs the NAIVE global LAG, value-checking the decomposition
against the semantic definition.

Parity: gaps in exact integer epoch milliseconds (unix_millis /
epoch_ms), surfaced as ``gap_seconds`` = ms / 1000.0 (exact in double);
timestamps surfaced as epoch-ms BIGINTs, never engine-rendered strings.
NULL timestamps are out of scope (NotNullRule owns missing values); NULL
group values participate under the NULL key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..errors import SchemaError
from ..schemas import violation_columns

DEFAULT_BUCKET_SECONDS = 86_400


def _distinct_ms(df: DataFrame, ts_col: str, group_by: tuple):
    ms = F.unix_millis(F.col(ts_col).cast("timestamp"))
    return (
        df.where(F.col(ts_col).isNotNull())
        .select(*[F.col(g) for g in group_by], ms.alias("_ms"))
        .distinct()
    )


def _check_gap_params(min_gap_seconds: float, bucket_seconds: int) -> None:
    if min_gap_seconds <= 0:
        raise SchemaError(
            f"min_gap_seconds must be > 0, got {min_gap_seconds} — every "
            "consecutive pair has gap >= 0; a zero threshold reports the "
            "entire series"
        )
    if bucket_seconds <= 0:
        raise SchemaError(f"bucket_seconds must be > 0, got {bucket_seconds}")


def _gaps_from_distinct(
    d: DataFrame,
    gb: list,
    min_gap_seconds: float,
    bucket_seconds: int,
) -> DataFrame:
    """The bucketed gap decomposition over an already-distinct
    (group…, _ms) frame — shared by report and stats so a rollup never
    pays the dedup twice."""
    d = d.withColumn(
        "_b", F.floor(F.col("_ms") / F.lit(int(bucket_seconds) * 1000))
    )
    # round, not int(): int() truncates the float product, silently
    # lowering e.g. 32.3s to 32299 ms and breaking the documented
    # strictly-greater-than threshold semantics
    thr_ms = int(round(min_gap_seconds * 1000))

    within_w = Window.partitionBy(*gb, "_b").orderBy("_ms")
    within = d.select(
        *gb,
        F.lag("_ms").over(within_w).alias("prev_epoch_ms"),
        F.col("_ms").alias("next_epoch_ms"),
    )

    bsum = d.groupBy(*gb, "_b").agg(
        F.min("_ms").alias("_mn"), F.max("_ms").alias("_mx")
    )
    bound_w = Window.partitionBy(*gb).orderBy("_b")
    boundary = bsum.select(
        *gb,
        F.lag("_mx").over(bound_w).alias("prev_epoch_ms"),
        F.col("_mn").alias("next_epoch_ms"),
    )

    gaps = within.unionByName(boundary).where(
        F.col("prev_epoch_ms").isNotNull()
        & (F.col("next_epoch_ms") - F.col("prev_epoch_ms") > F.lit(thr_ms))
    )
    return gaps.select(
        *gb,
        "prev_epoch_ms",
        "next_epoch_ms",
        (
            (F.col("next_epoch_ms") - F.col("prev_epoch_ms")) / F.lit(1000.0)
        ).alias("gap_seconds"),
    )


def time_gap_report(
    df: DataFrame,
    ts_col: str,
    *,
    group_by: tuple = (),
    min_gap_seconds: float,
    bucket_seconds: int = DEFAULT_BUCKET_SECONDS,
) -> DataFrame:
    """One row per silence: consecutive distinct timestamps (per group)
    more than ``min_gap_seconds`` apart — (group columns, prev_epoch_ms,
    next_epoch_ms, gap_seconds). ``bucket_seconds`` sizes the parallel
    decomposition (default 1 day) and never changes the result; it must
    exceed ``min_gap_seconds`` only for efficiency, not correctness."""
    _check_gap_params(min_gap_seconds, bucket_seconds)
    gb = list(group_by)
    return _gaps_from_distinct(
        _distinct_ms(df, ts_col, tuple(gb)), gb, min_gap_seconds, bucket_seconds
    )


def gap_violations(df: DataFrame, rule, run_id: str) -> DataFrame:
    """Finalize-stage evaluation of a GapRule: one engine-shape violation
    row per silence (kind=gap), keyed by the group (the freshness
    convention — '*' for the ungrouped global series). Fully distributed:
    the violation frame IS the gap frame projected, never collected."""
    from ..errors import KIND_GAP
    from .agg_rules import _key_expr

    scoped = df.where(F.expr(rule.when)) if rule.when else df
    gaps = time_gap_report(
        scoped,
        rule.column,
        group_by=tuple(rule.group_by),
        min_gap_seconds=rule.min_gap_seconds,
        bucket_seconds=rule.bucket_seconds,
    )
    gb = list(rule.group_by)
    key = _key_expr(tuple(gb)) if gb else F.lit("*")
    return gaps.select(
        *violation_columns(
            run_id=run_id,
            rule_id=rule.id,
            image_id=key,
            column=rule.column,
            expected=(
                f"no silence > {rule.min_gap_seconds}s between consecutive "
                f"{rule.column} values"
            ),
            actual=F.format_string(
                "gap_s=%.3f [%d .. %d]",
                F.col("gap_seconds"),
                F.col("prev_epoch_ms"),
                F.col("next_epoch_ms"),
            ),
            kind=KIND_GAP,
        )
    )


def time_gap_stats(
    df: DataFrame,
    ts_col: str,
    *,
    group_by: tuple = (),
    min_gap_seconds: float,
    bucket_seconds: int = DEFAULT_BUCKET_SECONDS,
    keep=None,
) -> DataFrame:
    """One row per group: series extent (distinct timestamps, epoch-ms
    span) plus the silence profile at the threshold — number of gaps and
    the worst gap (NULL when the group never went quiet; groups with a
    single distinct timestamp have no pairs and report zero gaps). The
    rollup of ``time_gap_report`` for dashboards/specs; same bucketed
    decomposition underneath, and the SAME distinct frame feeds both the
    extent aggregation and the gap decomposition (persisted via ``keep``)
    — the rollup never scans or dedups the input twice.

    ``keep``: caller-owned persist hook (a run lifecycle passes its
    tracked ``_keep`` so release() frees the frame; the overlap-audit
    convention). Default persists MEMORY_AND_DISK untracked."""
    _check_gap_params(min_gap_seconds, bucket_seconds)
    if keep is None:
        keep = lambda f: f.persist()  # noqa: E731
    gb = list(group_by)
    base = keep(_distinct_ms(df, ts_col, tuple(gb)))
    ext = base.groupBy(*[F.col(g) for g in gb]).agg(
        F.count(F.lit(1)).alias("n_distinct_ts"),
        F.min("_ms").alias("first_epoch_ms"),
        F.max("_ms").alias("last_epoch_ms"),
    )
    gaps = _gaps_from_distinct(base, gb, min_gap_seconds, bucket_seconds)
    gagg = gaps.groupBy(*[F.col(g) for g in gb]).agg(
        F.count(F.lit(1)).alias("_n_gaps"),
        F.max("gap_seconds").alias("_max_gap"),
    )
    if gb:
        # eqNullSafe, not on=gb: NULL group values are legitimate
        # participants and a null-unsafe equijoin would silently drop them
        cond = None
        for g in gb:
            c = ext[g].eqNullSafe(gagg[g])
            cond = c if cond is None else (cond & c)
        joined = ext.join(gagg, cond, "left")
        lead = [ext[g] for g in gb]
    else:
        joined = ext.crossJoin(gagg)  # both are exactly one row
        lead = []
    return joined.select(
        *lead,
        ext["n_distinct_ts"],
        ext["first_epoch_ms"],
        ext["last_epoch_ms"],
        F.coalesce(gagg["_n_gaps"] if gb else F.col("_n_gaps"), F.lit(0))
        .cast("long")
        .alias("n_gaps"),
        (gagg["_max_gap"] if gb else F.col("_max_gap")).alias("max_gap_seconds"),
    )


# ------------------------------------------------------------ sessionization


def sessionize(
    df: DataFrame,
    ts_col: str,
    gap_seconds: float,
    *,
    key_cols: tuple = ("user_id",),
    id_col: str = "event_id",
) -> DataFrame:
    """Gap-based session assignment: within each key, a new session starts
    whenever the silence since the previous event exceeds ``gap_seconds``
    (the inverse view of this module's gap detection — a gap SPLITS the
    series instead of flagging it). The step between a raw event table and
    any per-session validation: session volume rules, duration drift,
    funnel integrity.

    Determinism: events order by ``(ts, id_col)`` within a key, so ties on
    the timestamp break identically in any engine; the id column should be
    unique per event (a UniqueRule upstream is the enforcement point).
    Time is exact integer epoch MICROSECONDS (``unix_micros``) — the gap
    comparison is integer-only, never float. NULL timestamps are out of
    scope (NotNullRule owns missing values); NULL keys participate under
    the NULL key.

    Scale shape: ONE shuffle, partitioned by the session keys — every
    key's event sequence sorts independently, fully parallel across 10^8
    users. The declared limit: sessionization is inherently sequential
    PER KEY, so a single pathological key holding a material fraction of
    all events (a bot, a default id) serializes in one task — police such
    keys upstream (ConcentrationRule / heavy_hitters are the detectors).

    Returns the key columns + (id, ts_us, prev_gap_us, is_session_start,
    session_index, session_id): session_index is 1-based per key,
    session_id a portable ``key|index`` string, prev_gap_us NULL for each
    key's first event."""
    if gap_seconds <= 0:
        raise SchemaError(
            f"session gap_seconds must be > 0, got {gap_seconds}"
        )
    for c in (*key_cols, id_col, ts_col):
        if c not in df.columns:
            raise SchemaError(
                f"session column {c!r} not in {sorted(df.columns)}"
            )
    gap_us = int(round(float(gap_seconds) * 1_000_000))
    kc = [F.col(c) for c in key_cols]
    base = df.where(F.col(ts_col).isNotNull()).select(
        *kc,
        F.col(id_col),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("ts_us"),
    )
    w = Window.partitionBy(*[F.col(c) for c in key_cols]).orderBy(
        F.col("ts_us"), F.col(id_col)
    )
    prev = F.lag("ts_us").over(w)
    with_gap = base.select(
        *[F.col(c) for c in key_cols],
        F.col(id_col),
        F.col("ts_us"),
        (F.col("ts_us") - prev).alias("prev_gap_us"),
        (prev.isNull() | ((F.col("ts_us") - prev) > gap_us)).alias(
            "is_session_start"
        ),
    )
    # running count of session starts over the SAME window ordering — one
    # pass, no second shuffle (the sort is already established)
    idx = F.sum(F.col("is_session_start").cast("long")).over(
        Window.partitionBy(*[F.col(c) for c in key_cols])
        .orderBy(F.col("ts_us"), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return with_gap.select(
        *[F.col(c) for c in key_cols],
        F.col(id_col),
        F.col("ts_us"),
        F.col("prev_gap_us"),
        F.col("is_session_start"),
        idx.alias("session_index"),
        F.concat_ws(
            "|", *[F.col(c).cast("string") for c in key_cols], idx.cast("string")
        ).alias("session_id"),
    )


def session_stats(
    df: DataFrame,
    ts_col: str,
    gap_seconds: float,
    *,
    key_cols: tuple = ("user_id",),
    id_col: str = "event_id",
) -> DataFrame:
    """Per-session rollup over ``sessionize``: one row per (key, session)
    with event count and exact integer extent — ``duration_us`` stays a
    BIGINT (micros), never a float, so the numbers are bit-identical in
    any engine. Plain aggregation with map-side combine on top of the
    single sessionize shuffle."""
    s = sessionize(
        df, ts_col, gap_seconds, key_cols=key_cols, id_col=id_col
    )
    return s.groupBy(*[F.col(c) for c in key_cols], F.col("session_index")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts_us").alias("start_us"),
        F.max("ts_us").alias("end_us"),
        (F.max("ts_us") - F.min("ts_us")).alias("duration_us"),
    )
