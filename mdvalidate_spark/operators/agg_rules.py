"""Group / aggregate rule executors: uniqueness, cardinality bounds, column
stats.

Uniqueness is the degenerate `{1,1}`-per-key repetition of the reference
(reference: walkers/validators/lists.rs:168-264 — consume items, error when
count leaves [min,max]); CountRule is the general `{m,n}` bound
(matcher_extras.rs:228-252, containers.rs:316-349). ColumnStats is the
metrics/capture side (the matches-JSON analog, validator.rs:33-36).

Skew posture (north-rule mandate): uniqueness keys like phash are hot-keyed
(near-duplicate clusters); the duplicate count relies on Spark's partial
(map-side) aggregation, which bounds what any reducer sees to one partial row
per hot key per map task — the structural equivalent of an explicit salt
phase without its extra exchange. AQE skew handling stays on as the backstop.
Violation output is one row per duplicated key (with the observed count), not
one per duplicate row — bounded output even when a key has millions of
duplicates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..errors import KIND_COUNT, KIND_DUPLICATE
from ..schemas import (
    local_frame,
    metric_columns,
    metrics_frame,
    violation_columns,
    violations_frame,
)
from ..spec import ColumnStatsRule, CountRule, UniqueRule, _require_numeric


def _key_expr(columns: tuple[str, ...]):
    if len(columns) == 1:
        return F.col(columns[0]).cast("string")
    # NULL-safe: concat_ws silently drops NULLs, which would collide
    # ("a", NULL) with ("a", "") — encode NULL explicitly; join parts on
    # \x01 so distinct tuples ("ab","c") vs ("a","bc") cannot collapse
    # (same separator convention as sequence.py / nested captures)
    parts = [F.coalesce(F.col(c).cast("string"), F.lit("\x00NULL")) for c in columns]
    return F.concat_ws("\x01", *parts)


def unique_violations(
    df: DataFrame, rule: UniqueRule, run_id: str
) -> DataFrame:
    """Duplicate-key detection as ONE count aggregation (single exchange).

    Hot-key safety comes from Spark's partial (map-side) aggregation, which
    is structurally the old explicit salt phase: each map task combines its
    own rows first, so a key duplicated 10^9 times reaches the reducer as at
    most one partial row PER MAP TASK, never its full row set. The previous
    two-phase form (groupBy(key, salt) → groupBy(key)) re-implemented that
    guarantee by hand and paid a second full exchange of the partials for it
    (guide §2.4: remove shuffles outright — the round-6 plan diff is
    2 Exchange → 1 with identical output)."""
    if rule.when:
        df = df.where(F.expr(rule.when))  # scope-gated uniqueness
    key = _key_expr(rule.columns).alias("_k")
    dup = (
        df.select(key)
        .groupBy("_k")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
    )
    return dup.select(
        *violation_columns(
            run_id=run_id,
            rule_id=rule.id,
            image_id=F.col("_k"),
            column=",".join(rule.columns),
            expected="unique",
            actual=F.concat(F.lit("count="), F.col("n").cast("string")),
            kind=KIND_DUPLICATE,
        )
    )


def fd_violations(df: DataFrame, rule, run_id: str) -> DataFrame:
    """Functional dependency det → dep, two cheap phases (see
    FunctionalDependencyRule docstring): distinct (det, dep) pairs first
    (map-side combine, hot determinants spread across their dependent
    values — no salting needed), then a per-determinant count over the
    bounded pair rows. Never a countDistinct expand, never a collect."""
    from ..errors import KIND_FD

    if rule.when:
        df = df.where(F.expr(rule.when))  # scope-gated dependency
    det = _key_expr(rule.determinants).alias("_det")
    dep = _key_expr(rule.dependents).alias("_dep")
    pairs = df.select(det, dep).groupBy("_det", "_dep").agg(
        F.count(F.lit(1)).alias("_n")
    )
    bad = (
        pairs.groupBy("_det")
        .agg(
            F.count(F.lit(1)).alias("n_dep"),
            F.min("_dep").alias("_lo"),
            F.max("_dep").alias("_hi"),
        )
        .where(F.col("n_dep") > 1)
    )
    return bad.select(
        *violation_columns(
            run_id=run_id,
            rule_id=rule.id,
            image_id=F.col("_det"),
            column=",".join(rule.determinants),
            expected=f"{','.join(rule.dependents)} functionally determined",
            actual=F.concat(
                F.lit("distinct="),
                F.col("n_dep").cast("string"),
                F.lit(" in ["),
                F.col("_lo"),
                F.lit(" .. "),
                F.col("_hi"),
                F.lit("]"),
            ),
            kind=KIND_FD,
        )
    )


def freshness_violations(df: DataFrame, rule, run_id: str) -> DataFrame:
    """max(column) per group must lie within max_age_seconds of the rule's
    explicit as_of instant. One mergeable-max aggregation; lag rendered in
    whole seconds (epoch arithmetic — cross-engine deterministic, no float
    formatting). All-NULL groups report 'no non-null timestamps'."""
    from ..errors import KIND_STALE

    if rule.when:
        df = df.where(F.expr(rule.when))
    as_of_s = F.unix_timestamp(F.to_timestamp(F.lit(rule.as_of)))
    gb = list(rule.group_by)
    agged = (
        df.groupBy(*[F.col(c) for c in gb]).agg(F.max(rule.column).alias("_mx"))
        if gb
        else df.agg(F.max(rule.column).alias("_mx"))
    )
    lag = (as_of_s - F.unix_timestamp(F.col("_mx"))).cast("bigint")
    key = _key_expr(tuple(gb)) if gb else F.lit("*")
    return (
        agged.select(
            key.alias("_k"),
            lag.alias("_lag"),
        )
        .where(F.col("_lag").isNull() | (F.col("_lag") > F.lit(rule.max_age_seconds)))
        .select(
            *violation_columns(
                run_id=run_id,
                rule_id=rule.id,
                image_id=F.col("_k"),
                column=rule.column,
                expected=(
                    f"max({rule.column}) within {rule.max_age_seconds}s "
                    f"of {rule.as_of}"
                ),
                actual=F.coalesce(
                    F.concat(F.lit("lag_s="), F.col("_lag").cast("string")),
                    F.lit("no non-null timestamps"),
                ),
                kind=KIND_STALE,
            )
        )
    )


def count_violations(
    df: DataFrame,
    rule: CountRule,
    run_id: str,
    expected_partitions: list[int] | None = None,
    universe: DataFrame | None = None,
) -> DataFrame:
    """`{min,max}` cardinality per group (or per engine partition).

    Emits one violation per out-of-bounds group. Open bounds (None) check one
    side only, like `{n,}` / `{,n}` (matcher_extras.rs:129-157).

    A group with ZERO rows never appears in a groupBy, so an undercount can
    only be detected against a known universe: for per-partition rules the
    caller passes ``expected_partitions`` (the run knows its id set) and
    empty partitions are reported as count 0. For ``group_by`` rules, pass
    ``universe`` — the dimension frame named by ``rule.universe`` — and
    expected groups with no rows are reported as count 0 (the reference's
    WrongListCount underflow, lists.rs:168-264). Without it an entirely
    absent group is not enumerable and therefore not reported.

    Scale: the universe check is one distinct on the dim's key column plus a
    left-anti join against the observed-group aggregate — both keyed on the
    group columns, sort-merge/AQE-broadcast as sizes dictate; no collect.
    """
    group_cols = list(rule.group_by) if rule.group_by else ["partition_id"]
    if rule.when:
        # scope-gated counting: a group/partition with zero IN-SCOPE rows is
        # a real 0 (the universe/expected_partitions paths below still
        # enumerate it — they pre-date the filter)
        df = df.where(F.expr(rule.when))
    counted = df.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("n"))
    if not rule.group_by and rule.min is not None and expected_partitions:
        universe_df = local_frame(
            df.sparkSession,
            "partition_id int",
            [(int(p),) for p in expected_partitions],
        )
        missing = universe_df.join(counted, "partition_id", "left_anti").select(
            "partition_id", F.lit(0).cast("long").alias("n")
        )
        counted = counted.unionByName(missing)
    if rule.group_by and rule.min is not None and universe is not None:
        ucols = rule.universe_columns or rule.group_by
        expected = universe.select(
            *[F.col(u).alias(g) for u, g in zip(ucols, rule.group_by)]
        ).distinct()
        missing = expected.join(counted, list(rule.group_by), "left_anti").select(
            *group_cols, F.lit(0).cast("long").alias("n")
        )
        counted = counted.unionByName(missing)

    conds = []
    if rule.min is not None:
        conds.append(F.col("n") < rule.min)
    if rule.max is not None:
        conds.append(F.col("n") > rule.max)
    if not conds:
        fail = F.lit(False)
    else:
        fail = conds[0] if len(conds) == 1 else (conds[0] | conds[1])

    return counted.where(fail).select(
        *violation_columns(
            run_id=run_id,
            partition_id=(
                None if rule.group_by else F.col("partition_id").cast("int")
            ),
            rule_id=rule.id,
            image_id=_key_expr(tuple(group_cols)),
            column=",".join(group_cols),
            expected=f"count in [{rule.min}, {rule.max}]",
            actual=F.col("n").cast("string"),
            kind=KIND_COUNT,
        )
    )


def _scope_gate(c, rule):
    """Conditional-aggregation gate for `when`-scoped stats rules:
    out-of-scope rows become NULL inputs, which every aggregate used here
    (count / min / max / distinct / HLL / KLL / percentile) already skips —
    so scoped and unscoped rules still fuse into ONE aggregation pass."""
    return F.when(F.expr(rule.when), c) if getattr(rule, "when", "") else c


def _scoped_rows(rule):
    """Row-count aggregate respecting the rule's scope (in-scope rows only);
    count(*) when unscoped."""
    if getattr(rule, "when", ""):
        return F.count(F.when(F.expr(rule.when), F.lit(1)))
    return F.count(F.lit(1))


_SKETCHABLE = {"tinyint", "smallint", "int", "bigint", "string", "binary"}


def _sketch_input(df: DataFrame, column: str):
    """hll_sketch_agg accepts int/long/string/binary; other types are cast
    to string first (1:1 value↔representation, so distinctness is
    preserved)."""
    dtype = dict(df.dtypes).get(column)
    c = F.col(column)
    return c if dtype in _SKETCHABLE else c.cast("string")


#: typed KLL quantile-sketch function families by input SQL type: the
#: mergeable, PERSISTABLE quantile sketch (the t-digest role with an
#: on-disk representation — approx_percentile's internal sketch cannot
#: leave the aggregation). Integers ride the bigint family; decimals and
#: other numerics are cast to double (documented approximation).
_KLL = {
    "bigint": (F.kll_sketch_agg_bigint, F.kll_sketch_merge_bigint,
               F.kll_sketch_get_quantile_bigint, "bigint"),
    "double": (F.kll_sketch_agg_double, F.kll_sketch_merge_double,
               F.kll_sketch_get_quantile_double, "double"),
    "float": (F.kll_sketch_agg_float, F.kll_sketch_merge_float,
              F.kll_sketch_get_quantile_float, "float"),
}


def _kll_family(df: DataFrame, rule: ColumnStatsRule):
    """(agg, merge, get_quantile, cast-to) for the rule's column, or raise
    for non-numeric columns — quantiles of strings are meaningless and the
    full-scan path would reject them at run time anyway."""
    dtype = dict(df.dtypes).get(rule.column, "")
    if dtype in ("tinyint", "smallint", "int", "bigint"):
        return _KLL["bigint"]
    if dtype == "float":
        return _KLL["float"]
    if dtype == "double" or dtype.startswith("decimal"):
        return _KLL["double"]
    from ..errors import SchemaError

    raise SchemaError(
        f"rule {rule.id!r}: incremental quantiles need a numeric column, "
        f"got {rule.column!r}: {dtype or 'missing'}"
    )


def column_stats_partials(
    df: DataFrame, rules: tuple[ColumnStatsRule, ...], run_id: str
) -> DataFrame:
    """MERGEABLE per-partition stats partials — one row per partition_id,
    per rule: row count, non-null count, native-typed min/max, a
    Datasketches HLL sketch binary (hll_sketch_agg), and (when the rule
    requests quantiles) a KLL quantile sketch binary. One shuffle-free
    partial + final agg per batch; the output is tiny (≈4 KB per HLL
    sketch, O(k·log n) per KLL) and persists to parquet, so a resumed run
    never recomputes a validated partition's contribution. Merge with
    column_stats_from_partials."""
    aggs = []
    for r in rules:
        c = _scope_gate(F.col(r.column), r)
        aggs += [
            _scoped_rows(r).alias(f"{r.id}__rows"),
            F.count(c).alias(f"{r.id}__nonnull"),
            F.min(c).alias(f"{r.id}__min"),
            F.max(c).alias(f"{r.id}__max"),
            F.hll_sketch_agg(
                _scope_gate(_sketch_input(df, r.column), r), r.lg_config_k
            ).alias(f"{r.id}__sketch"),
        ]
        if r.moments:
            # exact mergeable moment partials: (sum, sum-of-squares); the
            # finalize merge derives mean and sample stddev. Naive Σx²
            # cancellation is the documented tradeoff for persistability —
            # fine for profile-grade stats at double precision.
            _require_numeric(r, df.schema, "moments")
            d = _scope_gate(F.col(r.column).cast("double"), r)
            aggs += [
                F.sum(d).alias(f"{r.id}__sum"),
                F.sum(d * d).alias(f"{r.id}__sumsq"),
            ]
        if r.quantiles:
            kll_agg, _, _, cast_to = _kll_family(df, r)
            aggs.append(
                kll_agg(c.cast(cast_to), F.lit(r.kll_k)).alias(f"{r.id}__kll")
            )
    return df.groupBy(F.col("partition_id").cast("int").alias("partition_id")).agg(
        *aggs
    )


def _fold_kll(arr, merge_fn):
    """Fold an array of KLL sketch binaries with the BINARY merge function
    (kll_sketch_merge_* is scalar, not an aggregate) via F.aggregate."""
    return F.when(
        F.size(arr) > 0,
        F.aggregate(
            F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0))),
            F.element_at(arr, 1),
            lambda acc, x: merge_fn(acc, x),
        )
    )


def _kll_tree_merge(
    partials: DataFrame, colname: str, merge_fn, fanout: int = 1024
) -> DataFrame:
    """Two-level sketch fold: bucket partials by pmod(partition_id, fanout),
    fold within buckets, then fold the ≤fanout bucket sketches — no single
    row ever holds more than max(P/fanout, fanout) sketches (a few MB at
    10^6 partitions), where a flat collect_list would stack them all into
    one multi-GB row. Returns a 1-row frame with the merged sketch."""
    lvl1 = (
        partials.where(F.col(colname).isNotNull())
        .groupBy(F.pmod(F.col("partition_id"), F.lit(fanout)).alias("_b"))
        .agg(F.collect_list(colname).alias("_arr"))
        .select(_fold_kll(F.col("_arr"), merge_fn).alias("_sk"))
    )
    return lvl1.agg(F.collect_list("_sk").alias("_arr")).select(
        _fold_kll(F.col("_arr"), merge_fn).alias(colname)
    )


def column_stats_from_partials(
    partials: DataFrame, rules: tuple[ColumnStatsRule, ...], run_id: str
) -> DataFrame:
    """Merge per-partition partials into the same long metrics rows
    column_stats_metrics emits — sum counts, min/max over native-typed
    partial extrema, hll_union_agg → hll_sketch_estimate for cardinality.
    Cost is O(#partitions), independent of table size: the incremental
    analog of the reference's EOF revalidation (validator.rs:162-168) that
    never rescans already-validated data."""
    # KLL family dispatch by the NATIVE dtype the partials carry in the
    # rule's min column (survives the parquet round-trip, so a resumed run
    # merges with the right typed variant without re-reading the table)
    ptypes = dict(partials.dtypes)

    def _family(r):
        dtype = ptypes.get(f"{r.id}__min", "")
        if dtype in ("tinyint", "smallint", "int", "bigint"):
            return _KLL["bigint"]
        return _KLL["float"] if dtype == "float" else _KLL["double"]

    aggs = []
    for r in rules:
        aggs += [
            F.sum(f"{r.id}__rows").alias(f"{r.id}__rows"),
            F.sum(f"{r.id}__nonnull").alias(f"{r.id}__nonnull"),
            F.min(f"{r.id}__min").cast("string").alias(f"{r.id}__min"),
            F.max(f"{r.id}__max").cast("string").alias(f"{r.id}__max"),
            F.hll_sketch_estimate(
                F.hll_union_agg(f"{r.id}__sketch", True)
            ).alias(f"{r.id}__distinct"),
        ]
        if r.moments:
            aggs += [
                F.sum(f"{r.id}__sum").alias(f"{r.id}__sum"),
                F.sum(f"{r.id}__sumsq").alias(f"{r.id}__sumsq"),
            ]
    wide = partials.agg(*aggs)
    for r in rules:
        if r.quantiles:
            # KLL merge is a tree fold over the tiny partials frame (the
            # merge function is binary-scalar, not an aggregate); the 1-row
            # result joins back into the wide stats row
            _, kll_merge, _, _ = _family(r)
            wide = wide.crossJoin(
                _kll_tree_merge(partials, f"{r.id}__kll", kll_merge)
            )

    parts = []
    for r in rules:
        rows = F.col(f"{r.id}__rows").cast("double")
        nonnull = F.col(f"{r.id}__nonnull").cast("double")
        null_rate = F.when(rows > 0, (rows - nonnull) / rows).otherwise(F.lit(0.0))
        melt = [
            ("count", rows, F.lit(None).cast("string")),
            ("null_rate", null_rate, F.lit(None).cast("string")),
            ("distinct", F.col(f"{r.id}__distinct").cast("double"), F.lit(None).cast("string")),
            ("min", F.lit(None).cast("double"), F.col(f"{r.id}__min")),
            ("max", F.lit(None).cast("double"), F.col(f"{r.id}__max")),
        ]
        if r.moments:
            s = F.col(f"{r.id}__sum")
            ss = F.col(f"{r.id}__sumsq")
            mean = F.when(nonnull > 0, s / nonnull)
            var = F.when(nonnull > 1, (ss - s * s / nonnull) / (nonnull - 1))
            melt += [
                ("mean", mean, F.lit(None).cast("string")),
                ("stddev", F.sqrt(var), F.lit(None).cast("string")),
            ]
        if r.quantiles:
            _, _, kll_get, _ = _family(r)
            for q in r.quantiles:
                melt.append(
                    (
                        f"p{q * 100:g}",
                        kll_get(F.col(f"{r.id}__kll"), F.lit(float(q))).cast("double"),
                        F.lit(None).cast("string"),
                    )
                )
        for metric, val, val_str in melt:
            parts.append(
                F.struct(
                    F.lit(r.id).alias("rule_id"),
                    F.lit(metric).alias("metric"),
                    val.alias("value"),
                    val_str.alias("value_str"),
                )
            )
    return wide.select(F.explode(F.array(*parts)).alias("m")).select(
        *metric_columns(
            run_id=run_id,
            rule_id=F.col("m.rule_id"),
            metric=F.col("m.metric"),
            value=F.col("m.value"),
            value_str=F.col("m.value_str"),
        )
    )


def column_stats_metrics(
    df: DataFrame, rules: tuple[ColumnStatsRule, ...], run_id: str
) -> DataFrame:
    """All stats rules in ONE aggregation pass (single shuffle-free partial +
    final agg): count / null_count / min / max / distinct per column.

    Cardinality uses HLL++ (approx_count_distinct) by default — mergeable
    sketch, constant memory per column at any scale; exact_distinct=True uses
    count_distinct for small-scale oracle parity.
    """
    if not rules:
        return metrics_frame(df.sparkSession)
    wide = df.agg(*stats_agg_columns(df, rules))
    return stats_melt_from_wide(wide, rules, run_id)


def stats_agg_columns(df: DataFrame, rules: tuple[ColumnStatsRule, ...]) -> list:
    """The aggregate expressions of ``column_stats_metrics``, exposed so the
    run lifecycle can fuse them into ONE global aggregation with other
    whole-table reductions (drift histograms) — one scan for the whole
    global-metrics stage instead of one per family (guide §1.2)."""
    aggs = []
    for r in rules:
        c = _scope_gate(F.col(r.column), r)
        aggs += [
            _scoped_rows(r).alias(f"{r.id}__rows"),
            F.count(c).alias(f"{r.id}__nonnull"),
            F.min(c).cast("string").alias(f"{r.id}__min"),
            F.max(c).cast("string").alias(f"{r.id}__max"),
            (
                F.count_distinct(c) if r.exact_distinct else F.approx_count_distinct(c)
            ).alias(f"{r.id}__distinct"),
        ]
        if r.moments:
            # full-scan path uses the numerically stable built-ins (Welford
            # merge inside codegen); the partials path uses exact (Σx, Σx²)
            # for persistability — both fuse into the same single agg
            _require_numeric(r, df.schema, "moments")
            d = c.cast("double")
            aggs += [
                F.avg(d).alias(f"{r.id}__mean"),
                F.stddev_samp(d).alias(f"{r.id}__stddev"),
            ]
        if r.quantiles:
            qarr = F.array(*[F.lit(float(q)) for q in r.quantiles])
            # approx_percentile is a mergeable quantile sketch (the t-digest
            # role: constant memory per column, partial-aggregable) — the
            # scale default; exact percentile only for oracle parity
            qagg = (
                F.percentile(c, qarr)
                if r.exact_quantiles
                else F.approx_percentile(c, qarr, F.lit(10000))
            )
            aggs.append(qagg.alias(f"{r.id}__q"))
    return aggs


def stats_melt_from_wide(
    wide: DataFrame, rules: tuple[ColumnStatsRule, ...], run_id: str
) -> DataFrame:
    """Melt the 1-row wide aggregate (``stats_agg_columns`` layout, possibly
    carrying extra fused columns it simply ignores) into metric rows."""
    parts = []
    for r in rules:
        rows = F.col(f"{r.id}__rows").cast("double")
        nonnull = F.col(f"{r.id}__nonnull").cast("double")
        null_rate = F.when(rows > 0, (rows - nonnull) / rows).otherwise(F.lit(0.0))
        melt = [
            ("count", rows, F.lit(None).cast("string")),
            ("null_rate", null_rate, F.lit(None).cast("string")),
            ("distinct", F.col(f"{r.id}__distinct").cast("double"), F.lit(None).cast("string")),
            ("min", F.lit(None).cast("double"), F.col(f"{r.id}__min")),
            ("max", F.lit(None).cast("double"), F.col(f"{r.id}__max")),
        ]
        if r.moments:
            melt += [
                ("mean", F.col(f"{r.id}__mean"), F.lit(None).cast("string")),
                ("stddev", F.col(f"{r.id}__stddev"), F.lit(None).cast("string")),
            ]
        for j, q in enumerate(r.quantiles):
            melt.append(
                (
                    f"p{q * 100:g}",
                    F.element_at(F.col(f"{r.id}__q"), j + 1).cast("double"),
                    F.lit(None).cast("string"),
                )
            )
        for metric, val, val_str in melt:
            parts.append(
                F.struct(
                    F.lit(r.id).alias("rule_id"),
                    F.lit(metric).alias("metric"),
                    val.alias("value"),
                    val_str.alias("value_str"),
                )
            )
    long = wide.select(F.explode(F.array(*parts)).alias("m")).select(
        *metric_columns(
            run_id=run_id,
            rule_id=F.col("m.rule_id"),
            metric=F.col("m.metric"),
            value=F.col("m.value"),
            value_str=F.col("m.value_str"),
        )
    )
    return long


def value_profile_metrics(
    df: DataFrame, rules: tuple[ColumnStatsRule, ...], run_id: str
) -> DataFrame:
    """Exact value-distribution metrics (``top_values`` frequent values and
    ``entropy``) for every stats rule requesting them, in ONE shared
    groupBy((rule_id, value)) pass.

    - ``entropy``: Shannon entropy (natural log) of the non-NULL value
      distribution, computed as ln(n) − Σ c·ln(c) / n from the grouped
      counts — one extra aggregation over the count frame, same cost class
      as an exact count_distinct.
    - ``top_values=k``: metric rows ``top_1`` … ``top_k`` with
      value_str = the value and value = its exact count; ties broken by
      value ascending so the output is deterministic.

    Scale: the pair explode emits one (rule_id, value) per in-scope row but
    map-side partial aggregation collapses hot values BEFORE the shuffle,
    so the exchange carries ~|distinct| rows per rule; each per-rule top-k
    is orderBy+limit — Spark fuses it to TakeOrderedAndProject (a bounded
    per-partition heap), never a full sort. The count frame is persisted
    once and shared by the entropy aggregate and every top-k probe.
    NULL / out-of-scope (``when``) values are excluded — this profiles the
    distribution of present values, matching the conditional-aggregation
    convention of the fused stats pass."""
    if not rules:
        return metrics_frame(df.sparkSession)
    from pyspark.sql import Window
    from pyspark.storagelevel import StorageLevel

    pair_structs = F.array(
        *[
            F.struct(
                F.lit(r.id).alias("rule_id"),
                _scope_gate(F.col(r.column), r).cast("string").alias("v"),
            )
            for r in rules
        ]
    )
    # deliberately NOT persisted (same posture as metric_bound_results):
    # counts is O(distinct values) — unbounded on a near-unique column —
    # and nothing ever unpersists it; each consumer arm (entropy + one per
    # top_values rule) pays its own map-side-combined scan instead of
    # pinning a table-scale frame in the session cache for its lifetime
    counts = (
        df.select(F.explode(pair_structs).alias("p"))
        .select("p.rule_id", "p.v")
        .where(F.col("v").isNotNull())
        .groupBy("rule_id", "v")
        .agg(F.count(F.lit(1)).alias("c"))
    )

    def _long(frame):
        return frame.select(
            *metric_columns(
                run_id=run_id,
                rule_id=F.col("rule_id"),
                metric=F.col("metric"),
                value=F.col("value").cast("double"),
                value_str=F.col("value_str").cast("string"),
            )
        )

    parts = []
    ent_ids = [r.id for r in rules if r.entropy]
    if ent_ids:
        c = F.col("c").cast("double")
        ent = (
            counts.where(F.col("rule_id").isin(ent_ids))
            .groupBy("rule_id")
            .agg(
                F.sum(c).alias("n"),
                F.sum(c * F.log(c)).alias("slnc"),
            )
            .select(
                "rule_id",
                F.lit("entropy").alias("metric"),
                (F.log(F.col("n")) - F.col("slnc") / F.col("n")).alias("value"),
                F.lit(None).alias("value_str"),
            )
        )
        parts.append(_long(ent))
    for r in rules:
        if not r.top_values:
            continue
        topk = (
            counts.where(F.col("rule_id") == r.id)
            .orderBy(F.col("c").desc(), F.col("v").asc())
            .limit(r.top_values)
        )
        w = Window.partitionBy("rule_id").orderBy(F.col("c").desc(), F.col("v").asc())
        parts.append(
            _long(
                topk.withColumn("_rank", F.row_number().over(w)).select(
                    "rule_id",
                    F.concat(F.lit("top_"), F.col("_rank")).alias("metric"),
                    F.col("c").alias("value"),
                    F.col("v").alias("value_str"),
                )
            )
        )
    from functools import reduce

    return reduce(lambda a, b: a.unionByName(b), parts)


def _capture_exprs(r, key_column: str):
    """Shared capture expressions for capture_metrics and capture_rows —
    one definition of the match predicate, NULL sentinel, and group-key
    separator, so the array-report path and the ordered-rows path can never
    silently desynchronize (their output parity is asserted by tests).

    Accepts CaptureRule AND CompositeRegexRule(capture=True): a composite
    captures its MATCHER segment for rows where the WHOLE prefix → matcher
    → suffix pipeline passes (validate-and-capture as one rule — the
    reference's MatcherVsText, matchers.rs:38-431; expressions mirror
    row_rules._check exactly so the violating/captured row sets partition
    each other)."""
    group_by = getattr(r, "group_by", ())
    order_col = getattr(r, "order_column", None) or key_column
    if getattr(r, "kind", "") == "composite":
        c = F.col(r.column).cast("string")
        plen = len(r.prefix)
        rest = c.substr(F.lit(plen + 1), F.length(c))
        cap = F.regexp_extract(rest, r.anchored, 1)
        tail = rest.substr(F.length(cap) + F.lit(1), F.length(rest))
        matched = (
            c.isNotNull()
            & (F.substring(c, 1, plen) == F.lit(r.prefix))
            & rest.rlike(r.anchored)
            & (tail == F.lit(r.suffix))
        )
    else:
        cap = F.regexp_extract(F.col(r.column), r.pattern, r.group)
        # match detection via rlike, NOT cap != "": regexp_extract returns ""
        # for both no-match and a legitimately empty capture group (pattern
        # "id=(\\w*)" on "id="), and the latter must still count
        matched = F.col(r.column).isNotNull() & F.col(r.column).rlike(r.pattern)
    gkey = (
        F.concat_ws(
            "\x01",
            *[
                F.coalesce(F.col(c).cast("string"), F.lit("\x00NULL"))
                for c in group_by
            ],
        )
        if group_by
        else F.lit(None).cast("string")
    )
    return order_col, cap, matched, gkey


def capture_metrics(
    df: DataFrame, rules, run_id: str, key_column: str
) -> DataFrame:
    """CaptureRule executor: regexp-extract per row, ordered collect per
    partition → metrics rows (value = capture count, value_str = JSON array
    of captures in order_column order).

    The reference analog is repeated-matcher capture accumulation in
    document order (reference: tables.rs:294-366, utils.rs join_values) —
    the SURVEY §7 "capture-array ordering" hazard is handled with
    sort_array(collect_list(struct(order_key, val))): collect_list alone is
    unordered after shuffle. All rules share ONE groupBy pass."""
    from pyspark.sql import functions as F  # noqa: PLC0415 (local for clarity)

    if not rules:
        return metrics_frame(df.sparkSession)

    flat_rules = [r for r in rules if not getattr(r, "group_by", ())]
    nested_rules = [r for r in rules if getattr(r, "group_by", ())]

    wide = None
    if flat_rules:
        aggs = []
        for r in flat_rules:
            order_col, cap, matched, _ = _capture_exprs(r, key_column)
            pair = F.when(matched, F.struct(F.col(order_col).alias("k"), cap.alias("v")))
            aggs.append(
                F.sort_array(F.collect_list(pair)).getField("v").alias(f"{r.id}__vals")
            )
        wide = df.groupBy("partition_id").agg(*aggs)

    def _metric_rows(frame: DataFrame, rule_ids: list[str]) -> DataFrame:
        parts = [
            F.struct(
                F.lit(rid).alias("rule_id"),
                F.col(f"{rid}__n").cast("double").alias("value"),
                F.col(f"{rid}__json").alias("value_str"),
            )
            for rid in rule_ids
        ]
        return frame.select(
            F.col("partition_id"), F.explode(F.array(*parts)).alias("m")
        ).select(
            *metric_columns(
                run_id=run_id,
                partition_id=F.col("partition_id").cast("int"),
                rule_id=F.col("m.rule_id"),
                metric="captures",
                value=F.col("m.value"),
                value_str=F.col("m.value_str"),
            )
        )

    outs: list[DataFrame] = []
    if wide is not None:
        flat = wide.select(
            "partition_id",
            *[F.size(F.col(f"{r.id}__vals")).alias(f"{r.id}__n") for r in flat_rules],
            *[F.to_json(F.col(f"{r.id}__vals")).alias(f"{r.id}__json") for r in flat_rules],
        )
        outs.append(_metric_rows(flat, [r.id for r in flat_rules]))

    # nested captures (lists.rs:318-390): level 1 = ordered values per
    # (partition, group); level 2 = ordered array of {group, values} objects
    # per partition — two groupBys, JSON shape [{"group": g, "values": [...]}]
    for r in nested_rules:
        order_col, cap, matched, gkey = _capture_exprs(r, key_column)
        pair = F.when(matched, F.struct(F.col(order_col).alias("k"), cap.alias("v")))
        order_key = F.col(order_col)
        level1 = (
            df.select(
                F.col("partition_id"), gkey.alias("_g"), pair.alias("_p"),
                order_key.alias("_ok"),
            )
            .groupBy("partition_id", "_g")
            .agg(
                F.sort_array(F.collect_list("_p")).getField("v").alias("_vals"),
                # first appearance of the group in document order — typed, so
                # numeric group ids sort numerically, matching the reference's
                # document-order accumulation (lists.rs:318-390), not the
                # lexicographic order of the stringified group key
                F.min("_ok").alias("_ord"),
            )
        )
        level2 = (
            level1.groupBy("partition_id")
            .agg(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.struct(
                                F.col("_ord").alias("o"),
                                F.col("_g").alias("group"),
                                F.col("_vals").alias("values"),
                            )
                        )
                    ),
                    lambda s: F.struct(
                        s["group"].alias("group"), s["values"].alias("values")
                    ),
                ).alias("_groups")
            )
            .select(
                "partition_id",
                F.aggregate(
                    F.col("_groups"), F.lit(0), lambda acc, g: acc + F.size(g["values"])
                ).alias(f"{r.id}__n"),
                F.to_json(F.col("_groups")).alias(f"{r.id}__json"),
            )
        )
        outs.append(_metric_rows(level2, [r.id]))

    from functools import reduce

    return reduce(lambda a, b: a.unionByName(b), outs)


def capture_rows_metrics(
    df: DataFrame, rules, run_id: str, key_column: str
) -> DataFrame:
    """CaptureRule(as_rows=True) executor for the run lifecycle: the
    spill-safe capture_rows output projected into the metrics-table shape —
    one row per capture, metric='capture_row', value = per-partition rank,
    value_str = the captured value (grouped rules: JSON {"group","value"} so
    the group key survives the narrow schema)."""
    rows = capture_rows(df, rules, run_id, key_column)
    return rows.select(
        *metric_columns(
            run_id=F.col("run_id"),
            partition_id=F.col("partition_id"),
            rule_id=F.col("rule_id"),
            metric="capture_row",
            value=F.col("rank").cast("double"),
            value_str=F.when(
                F.col("group_key").isNotNull(),
                F.to_json(
                    F.struct(
                        F.col("group_key").alias("group"),
                        F.col("value").alias("value"),
                    )
                ),
            )
            .otherwise(F.col("value")),
        )
    )


def capture_rows(df: DataFrame, rules, run_id: str, key_column: str) -> DataFrame:
    """Scale-path capture executor: one ROW per capture with an explicit
    per-partition rank, instead of one array per partition.

    ``capture_metrics`` materializes each partition's full capture array
    inside a hash-aggregation buffer — the reference-shaped matches-JSON
    semantics (tables.rs:294-366) — but that array must fit a single task's
    heap, so at 10^12-row scale a hot partition is an OOM risk. This variant
    preserves the same document-order guarantee through a sort-based window
    (row_number over partition_id, ordered by the rule's order column),
    which SPILLS to disk instead of buffering, and emits ordered rows a
    downstream consumer can page through or re-assemble lazily. Rules with
    ``group_by`` rank within (partition, group). Pick ``capture_metrics``
    for the compact JSON report, ``capture_rows`` when captures per
    partition are unbounded.
    Known shape difference for ``group_by`` rules: capture_metrics' JSON
    includes groups with ZERO matches (as {"group": g, "values": []});
    capture_rows filters to matched rows first, so match-less groups emit
    no rows at all.
    """
    from functools import reduce

    from pyspark.sql import Window

    ddl = (
        "run_id string, partition_id int, rule_id string, group_key string, "
        "rank long, value string"
    )
    if not rules:
        return local_frame(df.sparkSession, ddl)

    outs: list[DataFrame] = []
    for r in rules:
        order_col, cap, matched, gkey = _capture_exprs(r, key_column)
        # tie-break on the capture value itself: capture_metrics sorts
        # struct(order, value), so equal order keys fall back to value order
        # there — without the same fallback here, row_number() on ties is
        # shuffle-layout-dependent and the two paths diverge
        # getattr: CompositeRegexRule(capture_as_rows=True) rides this path
        # too and has no group_by field
        part_cols = (
            ["partition_id", "_g"]
            if getattr(r, "group_by", ())
            else ["partition_id"]
        )
        w = Window.partitionBy(*part_cols).orderBy(F.col(order_col), F.col("_v"))
        outs.append(
            df.where(matched)
            .select(
                F.col("partition_id"),
                gkey.alias("_g"),
                F.col(order_col).alias(order_col),
                cap.alias("_v"),
            )
            .select(
                F.lit(run_id).alias("run_id"),
                F.col("partition_id").cast("int"),
                F.lit(r.id).alias("rule_id"),
                F.col("_g").alias("group_key"),
                F.row_number().over(w).cast("long").alias("rank"),
                F.col("_v").alias("value"),
            )
        )
    return reduce(lambda a, b: a.unionByName(b), outs)


_KLL_RANK = {
    "bigint": F.kll_sketch_get_rank_bigint,
    "double": F.kll_sketch_get_rank_double,
    "float": F.kll_sketch_get_rank_float,
}
_KLL_N = {
    "bigint": F.kll_sketch_get_n_bigint,
    "double": F.kll_sketch_get_n_double,
    "float": F.kll_sketch_get_n_float,
}


def quantile_drift_from_partials(
    partials_a: DataFrame,
    partials_b: DataFrame,
    rule: ColumnStatsRule,
    run_id: str,
    n_points: int = 32,
    threshold: float = 0.1,
) -> tuple[DataFrame, DataFrame, int]:
    """CROSS-RUN distribution drift from two runs' PERSISTED KLL quantile
    sketches — a two-sample KS statistic computed without rescanning either
    run's data: the cross-run analog of the in-table drift family, closing
    the loop on the incremental architecture (run N vs run N-1 costs
    O(sketch), not O(table)).

    Method: merge each side's per-partition sketch partials (tree fold,
    same path as the incremental stats finalize), build a shared value grid
    from BOTH sketches' quantiles at ranks i/n_points, and take
    KS = max over the grid of |rank_A(v) − rank_B(v)| (ranks are the
    sketches' normalized CDFs). With a grid covering both supports this is
    the classic two-sample KS restricted to grid points — a lower bound
    that converges as n_points grows; sketch rank error (≈1.65/√k) bounds
    the additional uncertainty. Below sketch capacity (n ≤ kll_k) sketches
    store every value exactly, so the statistic is exact on the grid.

    Everything happens in column algebra over a 1-row × 1-row cross join —
    the driver receives ONE row (ks, n_a, n_b)."""
    def _family_of(partials):
        dtype = dict(partials.dtypes).get(f"{rule.id}__min", "")
        if dtype in ("tinyint", "smallint", "int", "bigint"):
            return "bigint"
        return "float" if dtype == "float" else "double"

    fam = _family_of(partials_a)
    _, kll_merge, kll_get, cast_to = _KLL[fam]
    rank_fn = _KLL_RANK[fam]
    n_fn = _KLL_N[fam]
    kcol = f"{rule.id}__kll"
    a = _kll_tree_merge(partials_a, kcol, kll_merge).select(
        F.col(kcol).alias("_ska")
    )
    b = _kll_tree_merge(partials_b, kcol, kll_merge).select(
        F.col(kcol).alias("_skb")
    )
    both = a.crossJoin(b).persist()
    # pass 1: the value GRID — both sketches' quantiles at ranks i/n_points
    # (kll_sketch_get_rank_* demands a FOLDABLE value, so the grid must
    # round-trip through the driver: two 1-row collects total)
    grid_exprs = [
        kll_get(F.col(src), F.lit(float(i) / n_points)).alias(f"{src}_{i}")
        for i in range(n_points + 1)
        for src in ("_ska", "_skb")
    ]
    g = both.select(
        *grid_exprs,
        n_fn(F.col("_ska")).alias("na"),
        n_fn(F.col("_skb")).alias("nb"),
    ).collect()[0]
    grid = sorted(
        {g[f"{src}_{i}"] for i in range(n_points + 1) for src in ("_ska", "_skb")}
        - {None}
    )
    spark = partials_a.sparkSession
    metric_rows, viol_rows = [], []
    if not grid or g["na"] is None or g["nb"] is None:
        side = "baseline" if g["na"] is None else "current"
        both.unpersist()
        viol_rows.append(
            (
                run_id, None, rule.id, side, rule.column,
                f"non-empty {side} sketch", "no sketch", "drift",
            )
        )
    else:
        # pass 2: KS = max |rank_A(v) − rank_B(v)| over the literal grid
        diffs = [
            F.abs(
                rank_fn(F.col("_ska"), F.lit(v).cast(cast_to))
                - rank_fn(F.col("_skb"), F.lit(v).cast(cast_to))
            )
            for v in grid
        ]
        row = both.select(F.greatest(*diffs).alias("ks")).collect()[0]
        both.unpersist()
        ks = float(row["ks"])
        metric_rows = [
            (run_id, None, rule.id, "ks_stat", ks, None),
            (run_id, None, rule.id, "n_baseline", float(g["na"]), None),
            (run_id, None, rule.id, "n_current", float(g["nb"]), None),
        ]
        if ks > threshold:
            viol_rows.append(
                (
                    run_id, None, rule.id, "run_vs_run", rule.column,
                    f"ks <= {threshold}", f"{ks:.6f}", "drift",
                )
            )
    return (
        violations_frame(spark, viol_rows),
        metrics_frame(spark, metric_rows),
        len(viol_rows),
    )


def metric_bound_results(
    df: DataFrame, rules, run_id: str, keep=None
) -> tuple[DataFrame, DataFrame]:
    """Evaluate every MetricBoundRule in ONE fused aggregation pass and
    return (violations, metrics): the metric rows report each observed
    value (the same long shape as column_stats_metrics), the violation
    rows fire where the value leaves [min, max] — the reference's
    {min,max} extras semantics (matcher_extras.rs:129-157,
    lists.rs:168-264) lifted from list counts to column aggregates.

    Plan shape: one shuffle-free partial + final agg over the pruned scan
    (all rules' aggregates fuse, scoped rules gate via conditional
    aggregation), yielding a 1-row wide frame that is persisted (one row —
    negligible) so the metrics and violations selects share the single
    scan. The bound comparison itself is column algebra over that row —
    nothing is collected.

    NULL metric values (mean/stddev/quantile over zero in-scope rows, or
    stddev of a single row) VIOLATE: a bound on a value that does not
    exist is missing data, reported with actual 'no value' — never a
    silent pass (drift's empty-side contract).

    GROUPED bounds (``MetricBoundRule.group_by``): the same assertion made
    of EVERY group ("p95(w) ≤ 2048 for every source") — the north rule's
    per-partition pass/fail posture lifted to arbitrary group keys. Rules
    sharing a ``group_by`` fuse into one groupBy aggregation (single
    shuffle, map-side combined); each offending group becomes ONE violation
    row (image_id = the group key), and instead of per-group metric rows
    (O(groups) — unbounded at 10^6 sources) each rule reports two bounded
    summary metrics: ``groups_total`` and ``groups_violated``. Violating
    groups still ride the ``max_violations_per_rule`` sink cap downstream,
    and a NULL group key is a real group (same contract as
    volume_anomaly's ``__null__``)."""
    from ..errors import KIND_METRIC_BOUND

    spark = df.sparkSession
    if not rules:
        return violations_frame(spark), metrics_frame(spark)

    # public operator API (callable without compile_spec, e.g. the bench
    # entry): a boundless rule is a vacuous assertion — typed error, not a
    # bare IndexError from conds[0] downstream (ADVICE r3)
    from ..errors import SchemaError

    for r in rules:
        if r.min is None and r.max is None:
            raise SchemaError(
                f"rule '{r.id}': MetricBoundRule needs at least one of "
                "min/max — a boundless bound asserts nothing"
            )

    # ``keep``: caller-owned persist hook (ValidationRun passes its tracked
    # _keep so release() can free these frames); direct API callers get the
    # old behavior — a plain persist they own the lifecycle of
    if keep is None:
        keep = lambda f: f.persist()  # noqa: E731

    grouped: dict[str, list] = {}
    for r in rules:
        if getattr(r, "group_by", ""):
            grouped.setdefault(r.group_by, []).append(r)
    rules = tuple(r for r in rules if not getattr(r, "group_by", ""))

    g_viols, g_mets = [], []
    for gcol, grules in grouped.items():
        gv, gm = _metric_bounds_grouped(df, gcol, tuple(grules), run_id, keep)
        g_viols.append(gv)
        g_mets.append(gm)

    if not rules:
        from functools import reduce as _reduce

        return (
            _reduce(
                lambda a, b: a.unionByName(b), g_viols, violations_frame(spark)
            ),
            _reduce(lambda a, b: a.unionByName(b), g_mets, metrics_frame(spark)),
        )

    # 1-row wide frame; persisted so metrics + violations share ONE scan
    wide = keep(
        df.agg(*[_metric_bound_agg(df, r).alias(f"{r.id}__val") for r in rules])
    )

    def _fmt(x):
        return "None" if x is None else f"{float(x):g}"

    met_parts, vio_parts = [], []
    for r in rules:
        val = F.col(f"{r.id}__val")
        met_parts.append(
            F.struct(
                F.lit(r.id).alias("rule_id"),
                F.lit(r.metric).alias("metric"),
                val.alias("value"),
                F.lit(None).cast("string").alias("value_str"),
            )
        )
        conds = []
        if r.min is not None:
            conds.append(val < F.lit(float(r.min)))
        if r.max is not None:
            conds.append(val > F.lit(float(r.max)))
        out_of_bounds = conds[0] if len(conds) == 1 else (conds[0] | conds[1])
        # NULL comparison -> NULL; coalesce makes the missing value LOUD
        fail = F.coalesce(out_of_bounds, F.lit(True))
        vio_parts.append(
            F.struct(
                F.lit(r.id).alias("rule_id"),
                F.lit(r.metric).alias("image_id"),
                F.lit(r.column).alias("column"),
                F.lit(f"{r.metric} in [{_fmt(r.min)}, {_fmt(r.max)}]").alias(
                    "expected"
                ),
                F.coalesce(val.cast("string"), F.lit("no value")).alias(
                    "actual"
                ),
                fail.alias("fail"),
            )
        )

    metrics = wide.select(F.explode(F.array(*met_parts)).alias("m")).select(
        *metric_columns(
            run_id=run_id,
            rule_id=F.col("m.rule_id"),
            metric=F.col("m.metric"),
            value=F.col("m.value"),
            value_str=F.col("m.value_str"),
        )
    )
    violations = (
        wide.select(F.explode(F.array(*vio_parts)).alias("v"))
        .where(F.col("v.fail"))
        .select(
            *violation_columns(
                run_id=run_id,
                rule_id=F.col("v.rule_id"),
                image_id=F.col("v.image_id"),
                column=F.col("v.column"),
                expected=F.col("v.expected"),
                actual=F.col("v.actual"),
                kind=KIND_METRIC_BOUND,
            )
        )
    )
    for gv in g_viols:
        violations = violations.unionByName(gv)
    for gm in g_mets:
        metrics = metrics.unionByName(gm)
    return violations, metrics


def _metric_bound_agg(df: DataFrame, r) -> "F.Column":
    """The aggregate expression for one MetricBoundRule — the single
    dispatch shared by the global 1-row pass (metric_bound_results) and
    the grouped pass (_metric_bounds_grouped), so a metric-family change
    can never drift between them."""
    from ..spec import parse_bound_metric

    c = _scope_gate(F.col(r.column), r)
    family, q = parse_bound_metric(r.metric)
    kindq = r.metric if family == "simple" else "quantile"
    if kindq == "count":
        return _scoped_rows(r).cast("double")
    if kindq == "null_rate":
        rows = _scoped_rows(r).cast("double")
        nonnull = F.count(c).cast("double")
        return F.when(rows > 0, (rows - nonnull) / rows).otherwise(F.lit(0.0))
    if kindq == "distinct":
        return (
            F.count_distinct(c) if r.exact else F.approx_count_distinct(c)
        ).cast("double")
    if kindq == "mean":
        return F.avg(c.cast("double"))
    if kindq == "stddev":
        return F.stddev_samp(c.cast("double"))
    if kindq in ("min", "max"):
        return (F.min if kindq == "min" else F.max)(c.cast("double"))
    return (
        F.percentile(c, F.lit(q))
        if r.exact
        else F.approx_percentile(c, F.lit(q), F.lit(10000))
    ).cast("double")


def _metric_bounds_grouped(
    df: DataFrame, group_col: str, rules, run_id: str, keep
) -> tuple[DataFrame, DataFrame]:
    """Per-group metric bounds: one groupBy aggregation for all rules
    sharing ``group_by`` (see metric_bound_results docs). Returns
    (violations, summary metrics)."""
    from ..errors import KIND_METRIC_BOUND

    def _fmt(x):
        return "None" if x is None else f"{float(x):g}"

    key = F.coalesce(F.col(group_col).cast("string"), F.lit("__null__"))
    # deliberately NOT persisted: the violations and summary consumers each
    # pay one map-side-combined aggregation scan instead of pinning an
    # O(groups) frame (unbounded at 10^6 sources) in a cache nothing ever
    # unpersists — two scans is the honest price, a slow cache leak is not
    wide = df.groupBy(key.alias("__group")).agg(
        *[_metric_bound_agg(df, r).alias(f"{r.id}__val") for r in rules]
    )
    vio_parts = []
    for r in rules:
        val = F.col(f"{r.id}__val")
        conds = []
        if r.min is not None:
            conds.append(val < F.lit(float(r.min)))
        if r.max is not None:
            conds.append(val > F.lit(float(r.max)))
        out_of_bounds = conds[0] if len(conds) == 1 else (conds[0] | conds[1])
        fail = F.coalesce(out_of_bounds, F.lit(True))  # NULL metric is LOUD
        vio_parts.append(
            F.struct(
                F.lit(r.id).alias("rule_id"),
                F.lit(r.column).alias("column"),
                F.lit(
                    f"{r.metric} in [{_fmt(r.min)}, {_fmt(r.max)}] "
                    f"per {group_col}"
                ).alias("expected"),
                F.coalesce(val.cast("string"), F.lit("no value")).alias(
                    "actual"
                ),
                fail.alias("fail"),
            )
        )
    violations = (
        wide.select(F.col("__group"), F.explode(F.array(*vio_parts)).alias("v"))
        .where(F.col("v.fail"))
        .select(
            *violation_columns(
                run_id=run_id,
                rule_id=F.col("v.rule_id"),
                image_id=F.col("__group"),
                column=F.col("v.column"),
                expected=F.col("v.expected"),
                actual=F.col("v.actual"),
                kind=KIND_METRIC_BOUND,
            )
        )
    )
    # bounded summary metrics: groups_total / groups_violated per rule —
    # never O(groups) metric rows
    sums = []
    for r in rules:
        val = F.col(f"{r.id}__val")
        conds = []
        if r.min is not None:
            conds.append(val < F.lit(float(r.min)))
        if r.max is not None:
            conds.append(val > F.lit(float(r.max)))
        out_of_bounds = conds[0] if len(conds) == 1 else (conds[0] | conds[1])
        fail = F.coalesce(out_of_bounds, F.lit(True))
        sums += [
            F.count(F.lit(1)).cast("double").alias(f"{r.id}__total"),
            # coalesce: sum over ZERO groups is NULL — the summary metric
            # must read 0, and the emptiness itself violates loudly below
            F.coalesce(F.sum(fail.cast("int")).cast("double"), F.lit(0.0)).alias(
                f"{r.id}__bad"
            ),
        ]
    # 1-row frame, persisted like the global path's wide row (negligible)
    # so the summary metrics and the emptiness check share one scan
    summary = keep(wide.agg(*sums))
    # empty-table contract: zero groups means the assertion was made of
    # nothing — same loudness as the ungrouped path's NULL-metric 'no
    # value' violation, never a silent green run on total data loss
    empty_viols = summary.where(
        F.col(f"{rules[0].id}__total") == 0
    ).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r.id).alias("rule_id"),
                        F.lit(r.column).alias("column"),
                        F.lit(
                            f"{r.metric} in [{_fmt(r.min)}, {_fmt(r.max)}] "
                            f"per {group_col}"
                        ).alias("expected"),
                    )
                    for r in rules
                ]
            )
        ).alias("v")
    ).select(
        *violation_columns(
            run_id=run_id,
            rule_id=F.col("v.rule_id"),
            image_id="__no_groups__",
            column=F.col("v.column"),
            expected=F.col("v.expected"),
            actual="0 groups",
            kind=KIND_METRIC_BOUND,
        )
    )
    violations = violations.unionByName(empty_viols)
    met_parts = []
    for r in rules:
        met_parts += [
            F.struct(
                F.lit(r.id).alias("rule_id"),
                F.lit("groups_total").alias("metric"),
                F.col(f"{r.id}__total").alias("value"),
                F.lit(None).cast("string").alias("value_str"),
            ),
            F.struct(
                F.lit(r.id).alias("rule_id"),
                F.lit("groups_violated").alias("metric"),
                F.col(f"{r.id}__bad").alias("value"),
                F.lit(None).cast("string").alias("value_str"),
            ),
        ]
    metrics = summary.select(F.explode(F.array(*met_parts)).alias("m")).select(
        *metric_columns(
            run_id=run_id,
            rule_id=F.col("m.rule_id"),
            metric=F.col("m.metric"),
            value=F.col("m.value"),
            value_str=F.col("m.value_str"),
        )
    )
    return violations, metrics
