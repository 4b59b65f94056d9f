"""Cross-partition distinct-overlap audit via Datasketches theta sketches.

Training-pipeline angle: shards that share many distinct values (captions,
source URLs, fingerprints) indicate duplicated ingestion or leaky splits
(train/test contamination). The exact answer needs a distinct self-join per
group pair; theta sketches (the set-operation sketch family: union /
intersection with bounded error, EXACT below ~2^lg_k retained entries)
reduce each group to one bounded binary, so the pair stage works on P tiny
sketch rows instead of the corpus.

Scale shape: ONE scan builds the per-group sketches (theta_sketch_agg —
groupBy shuffle on the group key only); the pair stage is an i<j self-join
of the P-row sketch frame, each pair evaluated in column algebra
(theta_intersection → theta_sketch_estimate, union likewise for Jaccard).
P² pairs of ~KB sketches holds into the thousands of groups; past
``max_groups`` the operator REFUSES with an actionable error (precedent:
the drift sweep's loud key-like-column refusal) — shard or bucket the
audit, don't let it silently flood.

Reference lineage: the reference has no cross-document analog (it validates
one document); this extends the north rule's "distribution-drift detection
… between partitions" from value distributions to distinct-set identity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..errors import SchemaError
from ..schemas import violation_columns

_SKETCHABLE = {"tinyint", "smallint", "int", "bigint", "string", "binary"}


def group_sketches(
    df: DataFrame,
    column: str,
    group_col: str = "partition_id",
    lg_k: int = 12,
) -> DataFrame:
    """One theta sketch per group over ``column``'s distinct values
    (non-sketchable types cast to string — 1:1, distinctness preserved).
    Output: (group, sketch) — P tiny rows, mergeable and persistable."""
    dtype = dict(df.dtypes).get(column)
    if dtype is None:
        raise SchemaError(f"overlap: unknown column {column!r}")
    c = F.col(column) if dtype in _SKETCHABLE else F.col(column).cast("string")
    return (
        df.where(F.col(column).isNotNull())
        .groupBy(F.col(group_col).alias("g"))
        .agg(F.theta_sketch_agg(c, F.lit(lg_k)).alias("sk"))
    )


def partition_overlap(
    df: DataFrame,
    column: str,
    group_col: str = "partition_id",
    lg_k: int = 12,
    max_groups: int = 256,
    n_groups: int | None = None,
    keep=None,
) -> DataFrame:
    """Estimated distinct-set overlap for every group pair (i < j):
    (g_a, g_b, n_a, n_b, n_common, jaccard). Estimates are EXACT while each
    group's distinct count stays below the sketch's retention (~2^lg_k) —
    the regime the audit targets (source ids, languages, fingerprint
    buckets); beyond it the error is the published theta bound (~1.6% at
    lg_k=12).

    ``n_groups``: pass the group count when the caller already knows it
    (the run lifecycle knows its partition list) — the guard then costs no
    job and the whole audit stays LAZY, so finalize can overlap its scan
    with the other global stages instead of paying an eager guard count
    serially."""
    # ``keep``: caller-owned persist hook (ValidationRun passes its tracked
    # _keep so release() frees this frame; an untracked persist with no
    # run_id in its plan would leak AND be plan-matched by the next
    # identical run through Spark's CacheManager)
    if keep is None:
        keep = lambda f: f.persist()  # noqa: E731
    sks = keep(group_sketches(df, column, group_col, lg_k))
    n = n_groups if n_groups is not None else sks.count()
    if n > max_groups:
        sks.unpersist()
        raise SchemaError(
            f"overlap on {column!r}: {n} groups > max_groups={max_groups} — "
            f"{n * (n - 1) // 2} pairs would flood the pair stage; shard the "
            "audit (filter groups) or raise max_groups deliberately"
        )
    a, b = sks.alias("a"), sks.alias("b")
    pair = a.join(b, F.col("a.g") < F.col("b.g"))
    inter = F.theta_sketch_estimate(
        F.theta_intersection(F.col("a.sk"), F.col("b.sk"))
    )
    union = F.theta_sketch_estimate(F.theta_union(F.col("a.sk"), F.col("b.sk")))
    return pair.select(
        F.col("a.g").alias("g_a"),
        F.col("b.g").alias("g_b"),
        F.theta_sketch_estimate(F.col("a.sk")).cast("double").alias("n_a"),
        F.theta_sketch_estimate(F.col("b.sk")).cast("double").alias("n_b"),
        inter.cast("double").alias("n_common"),
        F.when(union > 0, inter / union).otherwise(F.lit(0.0)).alias("jaccard"),
    )


from ..errors import KIND_OVERLAP  # noqa: E402  (taxonomy lives in errors.py)


def overlap_violations(
    df: DataFrame, rule, run_id: str, n_groups: int | None = None, keep=None
) -> DataFrame:
    """OverlapRule executor (finalize stage): one violation row per group
    pair breaching max_jaccard / max_common. image_id carries the pair key
    "g_a|g_b"; actual reports both measures so the report is actionable
    without re-running the audit. Pass ``n_groups`` (the run knows its
    partition list) to keep construction lazy — the sketch scan then runs
    inside finalize's concurrent block, not serially before it."""
    pairs = partition_overlap(
        df,
        rule.column,
        group_col=rule.group_column,
        lg_k=rule.lg_k,
        max_groups=rule.max_groups,
        n_groups=n_groups,
        keep=keep,
    )
    fail = F.lit(False)
    expected = []
    if rule.max_jaccard is not None:
        fail = fail | (F.col("jaccard") > F.lit(float(rule.max_jaccard)))
        expected.append(f"jaccard<={rule.max_jaccard}")
    if rule.max_common is not None:
        fail = fail | (F.col("n_common") > F.lit(float(rule.max_common)))
        expected.append(f"common<={rule.max_common:g}")
    return pairs.where(fail).select(
        *violation_columns(
            run_id=run_id,
            rule_id=rule.id,
            image_id=F.concat_ws(
                "|", F.col("g_a").cast("string"), F.col("g_b").cast("string")
            ),
            column=rule.column,
            expected=" and ".join(expected),
            actual=F.concat(
                F.lit("jaccard="), F.round(F.col("jaccard"), 6).cast("string"),
                F.lit(" common="), F.col("n_common").cast("string"),
            ),
            kind=KIND_OVERLAP,
        )
    )
