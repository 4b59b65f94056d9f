"""Distribution-drift detection (north-rule mandate; no reference analog —
the closest ancestor is the EOF full-revalidation global pass,
validator.rs:162-168, which is where this stage runs).

Plan shape (scale-first): the heavy work stays distributed —
  1. bin edges = approxQuantile of the *reference* slice (Greenwald-Khanna
     sketch, driver receives n_bins+1 doubles);
  2. ONE groupBy(is_probe, bin).count() histogram pass over the column —
     driver receives ≤ 2·n_bins rows;
  3. KS / PSI computed on the driver from the two histograms (O(n_bins)).
No per-row data ever reaches the driver, so the stage costs one scan + one
tiny shuffle regardless of table size.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..errors import KIND_DRIFT
from ..schemas import local_frame, metrics_frame, violations_frame
from ..spec import DriftRule

_EPS = 1e-6


def _base(df: DataFrame, rule: DriftRule) -> DataFrame:
    probe_cond = F.col(rule.group_column).cast("string") == str(rule.group_value)
    val = F.expr(rule.expr) if rule.expr else F.col(rule.column)
    x = val.cast("string") if rule.categorical else val.cast("double")
    # rows whose group membership is UNKNOWN (NULL group column → NULL probe
    # condition) belong to neither distribution: without this filter the
    # histogram groupBy's None group falls through `if r["_probe"]` into the
    # reference counts while compute_edges' where(~probe) drops it — the two
    # passes (and the SQL oracle) would disagree
    return df.select(x.alias("_x"), probe_cond.alias("_probe")).where(
        F.col("_x").isNotNull() & F.col("_probe").isNotNull()
    )


def _sweep_base(df: DataFrame, rule: DriftRule) -> DataFrame:
    """(value, group) projection for a per-group sweep — no probe slice; the
    reference for each group is everyone else (leave-one-out)."""
    val = F.expr(rule.expr) if rule.expr else F.col(rule.column)
    x = val.cast("string") if rule.categorical else val.cast("double")
    g = F.col(rule.sweep_by).cast("string")
    return df.select(x.alias("_x"), g.alias("_g")).where(
        F.col("_x").isNotNull() & F.col("_g").isNotNull()
    )


def _dedupe_edges(edges: list[float]) -> list[float]:
    """Strictly-increasing interior edges from raw quantiles (constant
    stretches collapse; degenerate inputs widen to one bin pair). ONE
    definition shared by the batch histogram, the streaming profile, and
    any future consumer — edge semantics must never fork."""
    uniq: list[float] = []
    for e in edges:
        if not uniq or e > uniq[-1]:
            uniq.append(e)
    if len(uniq) < 2:
        uniq = [uniq[0] - 0.5, uniq[0] + 0.5] if uniq else [0.0, 1.0]
    return uniq[1:-1]


def _bin_expr(x: Column, bins: list, categorical: bool) -> Column:
    """Bucket index of ``x``: category position (+ trailing __other__) for
    categorical bins, #(interior edges exceeded) for numeric. Shared by the
    batch histogram pass and the streaming per-window aggregation."""
    if categorical:
        if not bins:
            return F.lit(0)
        pos = F.array_position(F.array(*[F.lit(c) for c in bins]), x)
        return F.when(pos > 0, pos - 1).otherwise(F.lit(len(bins)))
    return sum([F.when(x > F.lit(e), 1).otherwise(0) for e in bins], F.lit(0))


def _edges_from_base(ref: DataFrame, rule: DriftRule) -> list:
    """Bin definition from a projected ``_x`` frame — ONE implementation
    shared by the in-table probe/sweep path and the two-table reference
    path, so edge semantics can never fork. Numeric: quantile edges
    (exact percentiles rounded to 6 decimals for cross-engine parity, or
    the approxQuantile sketch as the scale default). Categorical: the top
    ``n_bins`` categories by frequency via orderBy+limit — Spark plans
    this as TakeOrdered (a per-partition heap), never a full sort, and
    everything else lands in __other__, so a high-cardinality column
    cannot blow up the driver."""
    if rule.categorical:
        rows = (
            ref.groupBy("_x")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), F.col("_x"))  # deterministic ties
            .limit(rule.n_bins)
            .collect()
        )
        return [r["_x"] for r in rows]
    qs = [i / rule.n_bins for i in range(rule.n_bins + 1)]
    if rule.exact_edges:
        # exact linear-interpolated percentiles, rounded to 6 decimals so a
        # sub-ulp interpolation difference between engines can't flip the
        # strict > bin comparison for a data point sitting ON an edge
        qarr = F.array(*[F.lit(float(q)) for q in qs])
        row = ref.agg(F.percentile(F.col("_x"), qarr).alias("e")).collect()[0]["e"]
        return [round(float(e), 6) for e in (row or [])]
    return ref.approxQuantile("_x", qs, 0.001)


def compute_edges(df: DataFrame, rule: DriftRule) -> list:
    """Bin definition from the REFERENCE slice — the first of the rule's two
    driver-blocking jobs. Exposed separately so the run lifecycle can
    PREFETCH it on a driver thread overlapped with the per-partition batch
    stage instead of paying it serially inside finalize.

    For a sweep rule the bin definition comes from the GLOBAL distribution
    (every group is later compared against the rest on those shared bins)."""
    if rule.sweep_by:
        ref = _sweep_base(df, rule)
    else:
        ref = _base(df, rule).where(~F.col("_probe"))
    return _edges_from_base(ref, rule)


def _ref_base(df: DataFrame, rule: DriftRule) -> DataFrame:
    """Whole-frame (no probe split) projection of a rule's drifting
    quantity — the two-table path's analog of ``_base``."""
    val = F.expr(rule.expr) if rule.expr else F.col(rule.column)
    x = val.cast("string") if rule.categorical else val.cast("double")
    return df.select(x.alias("_x")).where(F.col("_x").isNotNull())


def reference_edges(ref: DataFrame, rule: DriftRule) -> list:
    """Bin definition for a two-table drift rule — computed from the
    REFERENCE TABLE (yesterday's snapshot / a golden sample), identical
    math to the in-table path."""
    return _edges_from_base(_ref_base(ref, rule), rule)


def _histograms(
    df: DataFrame, rule: DriftRule, edges: list | None = None
) -> tuple[list[float], list[float], bool]:
    """Return (probe_hist, ref_hist, empty_probe, empty_ref) — aligned
    density lists plus whether either side contained no rows at all."""
    base = _base(df, rule)
    if edges is None:
        edges = compute_edges(df, rule)
    if rule.categorical:
        # one bucket per reference top-category + __other__; one groupBy pass
        cats = list(edges)
        bin_expr = _bin_expr(F.col("_x"), cats, categorical=True)
        counts = (
            base.groupBy(F.col("_probe"), bin_expr.cast("int").alias("_bin"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        nb = len(cats) + 1
        probe = [0.0] * nb
        ref = [0.0] * nb
        for r in counts:
            (probe if r["_probe"] else ref)[r["_bin"]] += r["n"]
        empty_probe, empty_ref = sum(probe) == 0, sum(ref) == 0
        p_tot, r_tot = sum(probe) or 1.0, sum(ref) or 1.0
        return (
            [v / p_tot for v in probe],
            [v / r_tot for v in ref],
            empty_probe,
            empty_ref,
        )
    inner = _dedupe_edges(edges)  # interior edges; outer bins open-ended
    bin_expr = _bin_expr(F.col("_x"), inner, categorical=False)

    counts = (
        base.groupBy(F.col("_probe"), bin_expr.alias("_bin"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    nb = len(inner) + 1
    probe = [0.0] * nb
    ref = [0.0] * nb
    for r in counts:
        (probe if r["_probe"] else ref)[r["_bin"]] += r["n"]
    empty_probe, empty_ref = sum(probe) == 0, sum(ref) == 0
    p_tot, r_tot = sum(probe) or 1.0, sum(ref) or 1.0
    return (
        [v / p_tot for v in probe],
        [v / r_tot for v in ref],
        empty_probe,
        empty_ref,
    )


def psi(probe: list[float], ref: list[float]) -> float:
    return sum(
        (p - q) * math.log((p + _EPS) / (q + _EPS)) for p, q in zip(probe, ref)
    )


def ks(probe: list[float], ref: list[float]) -> float:
    stat, cp, cq = 0.0, 0.0, 0.0
    for p, q in zip(probe, ref):
        cp += p
        cq += q
        stat = max(stat, abs(cp - cq))
    return stat


def drift_check(
    df: DataFrame, rule: DriftRule, run_id: str, edges: list[float] | None = None
) -> tuple[DataFrame, DataFrame, int]:
    """Evaluate one drift rule → (violations_df, metrics_df, n_violations).
    Tiny outputs built on the driver (≤1 violation, 1 metric row), so the
    violation count is returned as a plain int — callers must not pay a
    Spark job to count a frame whose rows were assembled driver-side. Pass
    precomputed ``edges`` (see compute_edges) to skip the first of the two
    jobs. A rule with ``sweep_by`` dispatches to the per-group sweep."""
    if rule.sweep_by:
        return drift_sweep(df, rule, run_id, edges)
    spark: SparkSession = df.sparkSession
    probe_h, ref_h, empty_probe, empty_ref = _histograms(df, rule, edges)
    return _drift_verdict(spark, rule, run_id, probe_h, ref_h, empty_probe, empty_ref)


def fused_hist_aggs(
    rule: DriftRule, edges: list, prefix: str
) -> tuple[list[Column], int]:
    """Aggregate-expression form of the ``_histograms`` groupBy pass on
    FROZEN edges: 2·nb ``count_if`` columns (probe side then reference
    side, bin-major) that the run lifecycle appends to another global
    aggregation — the histogram then rides an existing full-table scan
    instead of paying its own (guide §1.2: remove passes). The counts are
    the SAME integers the groupBy pass produces: ``count_if`` over
    (in-scope ∧ side ∧ bin) replicates `_base`'s NULL-scope filter (NULL
    value or NULL group membership counts for neither side)."""
    probe_cond = (
        F.col(rule.group_column).cast("string") == str(rule.group_value)
    )
    val = F.expr(rule.expr) if rule.expr else F.col(rule.column)
    x = val.cast("string") if rule.categorical else val.cast("double")
    nb, bin_expr = _hist_nb_bin(x, rule, edges)
    in_scope = x.isNotNull() & probe_cond.isNotNull()
    aggs = []
    for side, side_cond in (("p", probe_cond), ("r", ~probe_cond)):
        for b in range(nb):
            aggs.append(
                F.count_if(in_scope & side_cond & (bin_expr == F.lit(b))).alias(
                    f"{prefix}_{side}{b}"
                )
            )
    return aggs, nb


def _hist_nb_bin(x: Column, rule: DriftRule, edges: list) -> tuple[int, Column]:
    """(bin count, bin expression over ``x``) on frozen edges — the one
    definition shared by the groupBy histogram and the fused-agg form."""
    if rule.categorical:
        bins = list(edges)
        return len(bins) + 1, _bin_expr(x, bins, categorical=True).cast("int")
    inner = _dedupe_edges(edges)
    return len(inner) + 1, _bin_expr(x, inner, categorical=False)


def drift_check_from_counts(
    spark: SparkSession,
    rule: DriftRule,
    run_id: str,
    counts: list,
    nb: int,
) -> tuple[DataFrame, DataFrame, int]:
    """Finish one drift rule from fused-agg histogram counts (the
    ``fused_hist_aggs`` layout: probe bins 0..nb-1 then reference bins) —
    identical normalization and verdict math to ``drift_check``."""
    probe = [float(c or 0) for c in counts[:nb]]
    ref = [float(c or 0) for c in counts[nb:]]
    empty_probe, empty_ref = sum(probe) == 0, sum(ref) == 0
    p_tot, r_tot = sum(probe) or 1.0, sum(ref) or 1.0
    return _drift_verdict(
        spark,
        rule,
        run_id,
        [v / p_tot for v in probe],
        [v / r_tot for v in ref],
        empty_probe,
        empty_ref,
    )


def _drift_verdict(
    spark: SparkSession,
    rule: DriftRule,
    run_id: str,
    probe_h: list[float],
    ref_h: list[float],
    empty_probe: bool,
    empty_ref: bool,
) -> tuple[DataFrame, DataFrame, int]:
    stat = psi(probe_h, ref_h) if rule.method == "psi" else ks(probe_h, ref_h)
    metric_rows = [(run_id, None, rule.id, f"{rule.method}_stat", float(stat), None)]
    if empty_ref and not empty_probe:
        # symmetric with the two-table path: an empty REFERENCE slice is a
        # missing-data condition — the epsilon-density psi (~13.8) or ks=1.0
        # artifact must not be reported as a genuine drift statistic (and
        # ks=1.0 would silently PASS a threshold >= 1.0)
        failed = ("non-empty reference distribution", "0 reference rows")
    elif empty_probe:
        # distinguishable outcome: a probe group with NO rows is a missing-
        # data condition, not a distribution statement — surface it as its
        # own violation instead of a meaningless drift statistic
        failed = ("non-empty probe group", "0 rows")
    elif stat > rule.threshold:
        failed = (f"{rule.method} <= {rule.threshold}", f"{stat:.6f}")
    else:
        failed = None
    viol_rows = []
    if failed:
        viol_rows.append(
            (
                run_id,
                None,
                rule.id,
                f"{rule.group_column}={rule.group_value}",
                rule.expr or rule.column,
                *failed,
                KIND_DRIFT,
            )
        )
    return _verdict(spark, viol_rows, metric_rows)


def _verdict(
    spark: SparkSession, viol_rows: list, metric_rows: list
) -> tuple[DataFrame, DataFrame, int]:
    """(violations, metrics, violation count) of a drift verdict's
    driver-built rows."""
    return (
        violations_frame(spark, viol_rows),
        metrics_frame(spark, metric_rows),
        len(viol_rows),
    )


# driver-traffic ceiling for a sweep's (group, bin) histogram collect: at 33
# bins this admits ~60k groups — far above any sane partitioning, far below
# driver OOM. A sweep over a key-like column (millions of groups) is a spec
# mistake and must fail LOUDLY instead of flooding the driver.
SWEEP_MAX_HIST_ROWS = 2_000_000


def drift_sweep(
    df: DataFrame, rule: DriftRule, run_id: str, edges: list | None = None
) -> tuple[DataFrame, DataFrame, int]:
    """Per-group drift sweep (the north rule's "KS/PSI tests BETWEEN
    partitions"): every distinct value of ``rule.sweep_by`` is compared
    against the rest of the table (leave-one-out), flagging the groups whose
    distribution diverges.

    Plan shape (scale-first): bins are defined once from the GLOBAL
    distribution, then ONE groupBy(group, bin).count() pass produces every
    group's histogram simultaneously — the whole sweep costs one scan + one
    tiny shuffle regardless of group count. The driver receives
    ≤ n_groups × (n_bins+1) count rows (e.g. 10k partitions × 33 bins =
    330k tiny rows at 10^12-row scale — bounded by the PARTITIONING, not the
    data), and each group's reference histogram is global − group, computed
    by subtraction with zero extra jobs."""
    spark: SparkSession = df.sparkSession
    base = _sweep_base(df, rule)
    if edges is None:
        edges = compute_edges(df, rule)
    if rule.categorical:
        bins = list(edges)
        nb = len(bins) + 1
        bin_expr = _bin_expr(F.col("_x"), bins, categorical=True).cast("int")
    else:
        inner = _dedupe_edges(edges)
        nb = len(inner) + 1
        bin_expr = _bin_expr(F.col("_x"), inner, categorical=False)
    counts = (
        base.groupBy(F.col("_g"), bin_expr.alias("_bin"))
        .agg(F.count(F.lit(1)).alias("n"))
        .limit(SWEEP_MAX_HIST_ROWS + 1)
        .collect()
    )
    return _sweep_from_counts(spark, counts, nb, rule, run_id)


def _sweep_from_counts(
    spark: SparkSession, counts, nb: int, rule: DriftRule, run_id: str
) -> tuple[DataFrame, DataFrame, int]:
    """Driver-side leave-one-out sweep math over (group, bin, n) count rows
    — shared by the one-pass batch sweep and the merged-partials
    (incremental) path, so the two can never diverge."""
    if len(counts) > SWEEP_MAX_HIST_ROWS:
        raise ValueError(
            f"rule {rule.id!r}: sweep_by={rule.sweep_by!r} produced more than "
            f"{SWEEP_MAX_HIST_ROWS} (group, bin) histogram rows — the sweep "
            "column looks key-like (millions of groups), which would flood "
            "the driver; sweep a partitioning column instead"
        )
    hists: dict[str, list[float]] = {}
    total = [0.0] * nb
    for r in counts:
        h = hists.setdefault(r["_g"], [0.0] * nb)
        h[r["_bin"]] += r["n"]
        total[r["_bin"]] += r["n"]
    metric_rows, viol_rows = [], []
    for g in sorted(hists):
        h = hists[g]
        rest = [t - v for t, v in zip(total, h)]
        r_tot = sum(rest)
        if r_tot == 0:
            continue  # single-group table: no "rest" to drift against
        p_tot = sum(h)
        hp = [v / p_tot for v in h]
        hr = [v / r_tot for v in rest]
        stat = psi(hp, hr) if rule.method == "psi" else ks(hp, hr)
        metric_rows.append(
            (run_id, None, rule.id, f"{rule.method}_stat", float(stat), g)
        )
        if stat > rule.threshold:
            viol_rows.append(
                (
                    run_id,
                    None,
                    rule.id,
                    f"{rule.sweep_by}={g}",
                    rule.expr or rule.column,
                    f"{rule.method} <= {rule.threshold}",
                    f"{stat:.6f}",
                    KIND_DRIFT,
                )
            )
    return _verdict(spark, viol_rows, metric_rows)


def _sweep_nb(rule: DriftRule, edges: list) -> tuple[int, "Column"]:
    """(bin count, bin expression over _x) for a sweep rule on FROZEN
    edges — one definition for the batch pass and the partials path."""
    if rule.categorical:
        bins = list(edges)
        return len(bins) + 1, _bin_expr(F.col("_x"), bins, categorical=True).cast("int")
    inner = _dedupe_edges(edges)
    return len(inner) + 1, _bin_expr(F.col("_x"), inner, categorical=False)


#: explicit reload schema of sweep_histogram_partials — never infer: a
#: first batch with no non-NULL values writes a part-file-less directory
SWEEP_PARTIALS_DDL = "partition_id int, _g string, _bin int, n bigint"


def sweep_histogram_partials(
    df: DataFrame, rule: DriftRule, edges: list
) -> DataFrame:
    """MERGEABLE per-engine-partition sweep-histogram partials on FROZEN
    edges: one row per (partition_id, group, bin) with its count. Tiny
    (≤ partitions × groups-per-partition × bins rows), persists to parquet
    keyed by partition_id (idempotent dynamic-overwrite on resume), and
    merges by plain summation — the drift analog of column_stats_partials.
    Edges are frozen by the caller (first validated batch) because bins
    only set the comparison's resolution: every group is compared against
    the rest on the SAME bins, whichever data defined them.

    Size bound: O(batch partitions × sweep groups × bins) rows of three
    ints per batch. With sweep_by = partition_id (the north-rule form),
    group == partition, so the whole table's partials are P × bins rows.
    For an independent sweep column the merge-time SWEEP_MAX_HIST_ROWS
    guard (~60k groups at 33 bins) bounds G, and the merge's
    groupBy(g, bin) reduces distributedly before anything reaches the
    driver."""
    val = F.expr(rule.expr) if rule.expr else F.col(rule.column)
    x = val.cast("string") if rule.categorical else val.cast("double")
    g = F.col(rule.sweep_by).cast("string")
    projected = df.select(
        F.col("partition_id").cast("int").alias("partition_id"),
        x.alias("_x"),
        g.alias("_g"),
    ).where(F.col("_x").isNotNull() & F.col("_g").isNotNull())
    _, bin_expr = _sweep_nb(rule, edges)
    return projected.groupBy(
        "partition_id", F.col("_g"), bin_expr.alias("_bin")
    ).agg(F.count(F.lit(1)).alias("n"))


def drift_sweep_from_partials(
    spark: SparkSession,
    partials: DataFrame,
    rule: DriftRule,
    run_id: str,
    edges: list,
) -> tuple[DataFrame, DataFrame, int]:
    """Merge accumulated sweep-histogram partials (sum counts per
    (group, bin)) and run the identical leave-one-out math — O(groups ×
    bins), never a table rescan: the incremental EOF pass for drift."""
    nb, _ = _sweep_nb(rule, edges)
    counts = (
        partials.groupBy("_g", "_bin")
        .agg(F.sum("n").alias("n"))
        .limit(SWEEP_MAX_HIST_ROWS + 1)
        .collect()
    )
    return _sweep_from_counts(spark, counts, nb, rule, run_id)


def drift_vs_reference(
    ref: DataFrame,
    cand: DataFrame,
    rules: list[DriftRule],
    run_id: str,
    edges_map: dict[str, list] | None = None,
) -> tuple[DataFrame, DataFrame, int]:
    """TWO-TABLE drift: each rule's column/expr distribution in the
    CANDIDATE table vs its distribution in a separate REFERENCE table
    (dataset shift vs yesterday's snapshot / a golden sample — the
    between-RUNS counterpart of the in-table probe-vs-rest and per-group
    sweep checks; reference lineage: the EOF full-revalidation global pass,
    validator.rs:162-168, generalized across two inputs).

    Plan shape (scale-first):
      1. bin definitions come from REF — all exact-percentile numeric rules
         share ONE fused aggregate (one job regardless of rule count);
         approx-sketch and categorical rules each pay one bounded job
         (approxQuantile sketch / TakeOrdered top-K per-partition heap);
      2. each table is then scanned ONCE for ALL rules: the per-rule bin
         expressions are stacked into an array of (rule, bin) structs,
         exploded, and counted in a single groupBy — map-side partial
         aggregation collapses the explode before the shuffle, and the
         driver receives ≤ Σ(n_bins+1) tiny count rows per table;
      3. PSI / KS on the driver in O(bins) per rule.
    No per-row data ever reaches the driver, so the whole multi-rule check
    costs one scan of each table (+ the REF edge pass) at any table size.

    ``edges_map`` (rule id → precomputed edges, see ``reference_edges``)
    lets the run lifecycle prefetch edge jobs on driver threads.
    """
    for r in rules:
        if r.group_column or r.sweep_by:
            raise ValueError(
                f"rule {r.id!r}: two-table drift is whole-table vs "
                "whole-table — group_column/sweep_by do not apply"
            )
        if r.categorical and r.method != "psi":
            raise ValueError(
                f"rule {r.id!r}: categorical drift requires method='psi'"
            )
    spark: SparkSession = cand.sparkSession
    edges_map = dict(edges_map or {})

    # 1. bin definitions from REF; fuse every exact-percentile numeric rule
    # into one aggregate (their qarr literals differ per n_bins — fine)
    fused = [
        r
        for r in rules
        if r.id not in edges_map and not r.categorical and r.exact_edges
    ]
    if fused:
        aggs = []
        for r in fused:
            qs = [i / r.n_bins for i in range(r.n_bins + 1)]
            qarr = F.array(*[F.lit(float(q)) for q in qs])
            x = (F.expr(r.expr) if r.expr else F.col(r.column)).cast("double")
            aggs.append(F.percentile(x, qarr).alias(r.id))
        row = ref.agg(*aggs).collect()[0]
        for r in fused:
            edges_map[r.id] = [round(float(e), 6) for e in (row[r.id] or [])]
    for r in rules:
        if r.id not in edges_map:
            edges_map[r.id] = reference_edges(ref, r)

    # per-rule bin vocabulary (shared by both sides and the driver math)
    bins = _bin_vocab(rules, edges_map)
    ref_h = _stacked_hist(ref, rules, bins)
    cand_h = _stacked_hist(cand, rules, bins)
    return _two_sample_results(spark, rules, ref_h, cand_h, run_id)


def _bin_vocab(rules: list[DriftRule], edges_map: dict[str, list]) -> dict[str, list]:
    """rule id → bin definition actually used for counting (deduped interior
    edges for numeric rules, category list for categorical)."""
    return {
        r.id: (
            list(edges_map[r.id])
            if r.categorical
            else _dedupe_edges(edges_map[r.id])
        )
        for r in rules
    }


def _stacked_hist(
    df: DataFrame, rules: list[DriftRule], bins: dict[str, list]
) -> dict[int, list[float]]:
    """ONE scan of ``df`` counting every rule's histogram at once: the
    per-rule bin expressions stack into an array of (rule, bin) structs,
    exploded and counted in a single groupBy (map-side partials collapse
    the explode before the shuffle); the driver receives ≤ Σ(n_bins+1)
    tiny count rows."""
    entries = []
    for i, r in enumerate(rules):
        val = F.expr(r.expr) if r.expr else F.col(r.column)
        x = val.cast("string") if r.categorical else val.cast("double")
        b = _bin_expr(x, bins[r.id], categorical=r.categorical)
        # a NULL value belongs to no bin for THAT rule only — other
        # rules in the same stacked row still count theirs
        entries.append(
            F.struct(
                F.lit(i).alias("c"),
                F.when(x.isNull(), F.lit(None))
                .otherwise(b)
                .cast("int")
                .alias("b"),
            )
        )
    rows = (
        df.select(F.explode(F.array(*entries)).alias("p"))
        .where(F.col("p.b").isNotNull())
        .groupBy(F.col("p.c").alias("c"), F.col("p.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    out = {i: [0.0] * (len(bins[r.id]) + 1) for i, r in enumerate(rules)}
    for rw in rows:
        out[rw["c"]][rw["b"]] += rw["n"]
    return out


def _two_sample_results(
    spark: SparkSession,
    rules: list[DriftRule],
    ref_h: dict[int, list[float]],
    cand_h: dict[int, list[float]],
    run_id: str,
) -> tuple[DataFrame, DataFrame, int]:
    """PSI/KS + violation/metric rows from two per-rule histogram maps —
    the shared tail of the live-reference and snapshot paths."""
    metric_rows, viol_rows = [], []
    for i, r in enumerate(rules):
        hr, hp = ref_h[i], cand_h[i]
        r_tot, p_tot = sum(hr), sum(hp)
        if r_tot == 0 or p_tot == 0:
            # a side with NO rows is a missing-data condition, not a
            # distribution statement (same posture as the empty probe group)
            side = "reference" if r_tot == 0 else "candidate"
            viol_rows.append(
                (
                    run_id,
                    None,
                    r.id,
                    side,
                    r.expr or r.column,
                    f"non-empty {side} distribution",
                    "0 rows",
                    KIND_DRIFT,
                )
            )
            continue
        dp = [v / p_tot for v in hp]
        dr_ = [v / r_tot for v in hr]
        stat = psi(dp, dr_) if r.method == "psi" else ks(dp, dr_)
        metric_rows.append(
            (run_id, None, r.id, f"{r.method}_stat", float(stat), None)
        )
        if stat > r.threshold:
            viol_rows.append(
                (
                    run_id,
                    None,
                    r.id,
                    "candidate_vs_reference",
                    r.expr or r.column,
                    f"{r.method} <= {r.threshold}",
                    f"{stat:.6f}",
                    KIND_DRIFT,
                )
            )
    return _verdict(spark, viol_rows, metric_rows)


# ------------------------------------------------------- profile snapshots

#: persisted drift profile: O(rules × bins) rows, three part kinds —
#: 'edge' (numeric interior bin edge at idx), 'cat' (category at idx),
#: 'hist' (reference count of bin idx). This is the "profile once,
#: ratchet everything" artifact: later runs drift-compare a candidate
#: table against the snapshot WITHOUT rescanning (or even keeping) the
#: profiled table — the right shape at 10^12 rows, where "yesterday's
#: table" as a live reference frame would double every run's IO.
SNAPSHOT_DDL = "rule_id string, part string, idx int, num double, cat string"
_SNAPSHOT_COLS = ("rule_id", "part", "idx", "num", "cat")


def is_snapshot(df: DataFrame) -> bool:
    """True when a dims frame carries the canonical snapshot schema — the
    run lifecycle uses this to route DriftRule.reference to the snapshot
    path instead of treating the frame as a raw reference table."""
    return tuple(df.columns) == _SNAPSHOT_COLS


def profile_snapshot(
    ref: DataFrame, rules: list[DriftRule], edges_map: dict[str, list] | None = None
) -> DataFrame:
    """Profile ``ref`` ONCE for the given whole-table drift rules and return
    the compact snapshot frame (SNAPSHOT_DDL): bin definitions + reference
    histogram counts. One edge pass per rule family + one stacked histogram
    scan, O(rules × bins) output rows — persist it (parquet/Iceberg) and
    hand it to later runs as the ``DriftRule.reference`` dims entry."""
    for r in rules:
        if r.group_column or r.sweep_by:
            raise ValueError(
                f"rule {r.id!r}: snapshots are whole-table profiles — "
                "group_column/sweep_by do not apply"
            )
    edges_map = dict(edges_map or {})
    for r in rules:
        if r.id not in edges_map:
            edges_map[r.id] = reference_edges(ref, r)
    bins = _bin_vocab(rules, edges_map)
    hist = _stacked_hist(ref, rules, bins)
    rows = []
    for i, r in enumerate(rules):
        for j, b in enumerate(bins[r.id]):
            if r.categorical:
                rows.append((r.id, "cat", j, None, str(b)))
            else:
                rows.append((r.id, "edge", j, float(b), None))
        for j, n in enumerate(hist[i]):
            rows.append((r.id, "hist", j, float(n), None))
    return local_frame(ref.sparkSession, SNAPSHOT_DDL, rows)


def drift_vs_snapshot(
    snap: DataFrame,
    cand: DataFrame,
    rules: list[DriftRule],
    run_id: str,
) -> tuple[DataFrame, DataFrame, int]:
    """Two-table drift where the reference side is a persisted
    ``profile_snapshot`` frame instead of a live table: the snapshot's
    O(rules × bins) rows are collected, the candidate pays ONE stacked
    histogram scan on the snapshot's frozen bins, and the PSI/KS math and
    violation semantics are identical to ``drift_vs_reference``."""
    for r in rules:
        if r.group_column or r.sweep_by:
            raise ValueError(
                f"rule {r.id!r}: snapshot drift is whole-table vs snapshot "
                "— group_column/sweep_by do not apply"
            )
        if r.categorical and r.method != "psi":
            raise ValueError(
                f"rule {r.id!r}: categorical drift requires method='psi'"
            )
    spark: SparkSession = cand.sparkSession
    by_rule: dict[str, dict[str, list]] = {}
    for rw in snap.collect():  # O(rules × bins) — bounded by construction
        d = by_rule.setdefault(rw["rule_id"], {"edge": [], "cat": [], "hist": []})
        d[rw["part"]].append((rw["idx"], rw["cat"] if rw["part"] == "cat" else rw["num"]))
    bins: dict[str, list] = {}
    ref_h: dict[int, list[float]] = {}
    for i, r in enumerate(rules):
        if r.id not in by_rule:
            raise ValueError(
                f"rule {r.id!r}: not present in the snapshot frame — the "
                "snapshot was drawn for a different rule set; re-profile"
            )
        d = by_rule[r.id]
        part = "cat" if r.categorical else "edge"
        bins[r.id] = [v for _, v in sorted(d[part])]
        ref_h[i] = [v for _, v in sorted(d["hist"])]
        if len(ref_h[i]) != len(bins[r.id]) + 1:
            raise ValueError(
                f"rule {r.id!r}: snapshot histogram has {len(ref_h[i])} "
                f"bins for {len(bins[r.id])} edges/categories — corrupt or "
                "truncated snapshot"
            )
    cand_h = _stacked_hist(cand, rules, bins)
    return _two_sample_results(spark, rules, ref_h, cand_h, run_id)


def reference_histogram(
    df: DataFrame, column: str, n_bins: int = 32, exact: bool = False,
    categorical: bool = False,
) -> tuple[list, list[float]]:
    """Frozen reference profile for STREAMING drift: (bin definition,
    per-bin densities) of a static reference frame's ``column``. Numeric:
    bins are interior quantile edges. Categorical: bins are the top
    ``n_bins`` categories by frequency, densities carry a trailing
    __other__ bucket.

    A stream cannot be quantile-sketched retroactively, so the streaming
    check compares each closed window against a profile computed ONCE from
    reference data (yesterday's table, a golden sample) and shipped as plain
    literals — no broadcast state, no stateful operator."""
    if categorical:
        base = df.select(F.col(column).cast("string").alias("_x")).where(
            F.col("_x").isNotNull()
        )
        # bounded driver traffic: LIMIT the top-K collect (a 10^8-cardinality
        # column must not ship every distinct value to the driver); the
        # __other__ mass is total − top-K, one extra count
        rows = (
            base.groupBy("_x").agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), F.col("_x"))
            .limit(n_bins)
            .collect()
        )
        cats = [r["_x"] for r in rows]
        top_total = sum(r["n"] for r in rows)
        total = base.count()
        tot = total or 1.0
        return cats, [r["n"] / tot for r in rows] + [(total - top_total) / tot]
    base = df.select(F.col(column).cast("double").alias("_x")).where(
        F.col("_x").isNotNull()
    )
    qs = [i / n_bins for i in range(n_bins + 1)]
    if exact:
        qarr = F.array(*[F.lit(float(q)) for q in qs])
        row = base.agg(F.percentile(F.col("_x"), qarr).alias("e")).collect()[0]["e"]
        edges = [round(float(e), 6) for e in (row or [])]
    else:
        edges = base.approxQuantile("_x", qs, 0.001)
    inner = _dedupe_edges(edges)
    counts = (
        base.groupBy(_bin_expr(F.col("_x"), inner, categorical=False).alias("_bin"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    nb = len(inner) + 1
    hist = [0.0] * nb
    for r in counts:
        hist[r["_bin"]] += r["n"]
    tot = sum(hist) or 1.0
    return inner, [v / tot for v in hist]


def drift_sweep_vs_reference(
    ref: DataFrame,
    cand: DataFrame,
    rule: DriftRule,
    run_id: str,
    edges: list | None = None,
) -> tuple[DataFrame, DataFrame, int]:
    """Per-GROUP two-table drift: for every value of ``rule.sweep_by``,
    the candidate's group-g distribution vs the REFERENCE table's group-g
    distribution — the composition of the in-table sweep (every partition
    vs the rest) and whole-table two-table drift (candidate vs snapshot):
    "did any SOURCE's distribution shift since yesterday", asked of all
    sources at once. A whole-table comparison dilutes a single source's
    shift by every healthy source; this sweep pins it to the group.

    Plan shape (same bounds as drift_sweep): bin edges once from REF's
    GLOBAL distribution (shared vocabulary — a per-group edge set would
    make groups incomparable and cost G jobs), then ONE
    groupBy(group, bin).count() pass per table; the driver receives
    ≤ n_groups × (n_bins+1) tiny rows per side (limit-guarded with the
    same key-like refusal as the in-table sweep) and runs PSI/KS in
    O(bins) per group. Groups present on ONE side only are loud
    missing-data violations — a disappeared or brand-new source is
    exactly the event this audit exists for ('' group keys are real:
    NULL group values bin as "__null__").
    """
    spark: SparkSession = cand.sparkSession
    if not rule.sweep_by:
        raise ValueError(f"rule {rule.id!r}: sweep_by is required")
    if rule.categorical and rule.method != "psi":
        raise ValueError(f"rule {rule.id!r}: categorical drift requires psi")
    if edges is None:
        # reference_edges (whole-frame, no group filter), NOT the in-table
        # sweep's compute_edges: this audit includes NULL-key rows as the
        # "__null__" group, so the shared bin vocabulary must see them too
        # (also keeps the run lifecycle's prefetched edges identical)
        edges = reference_edges(ref, rule)
    nb, bin_expr = _sweep_nb(rule, edges)

    def _side_counts(df: DataFrame) -> dict[str, list[float]]:
        # own projection rather than _sweep_base: the in-table sweep drops
        # NULL groups (no leave-one-out identity for them), but here a NULL
        # source key is a real auditable group ("__null__") — an
        # unattributed backfill shifting its distribution must be visible
        val = F.expr(rule.expr) if rule.expr else F.col(rule.column)
        x = val.cast("string") if rule.categorical else val.cast("double")
        gk = F.coalesce(F.col(rule.sweep_by).cast("string"), F.lit("__null__"))
        base = df.select(x.alias("_x"), gk.alias("_g")).where(
            F.col("_x").isNotNull()
        )
        rows = (
            base.groupBy(F.col("_g"), bin_expr.alias("_bin"))
            .agg(F.count(F.lit(1)).alias("n"))
            .limit(SWEEP_MAX_HIST_ROWS + 1)
            .collect()
        )
        if len(rows) > SWEEP_MAX_HIST_ROWS:
            raise ValueError(
                f"rule {rule.id!r}: sweep_by={rule.sweep_by!r} produced more "
                f"than {SWEEP_MAX_HIST_ROWS} (group, bin) histogram rows — "
                "the sweep column looks key-like (millions of groups); "
                "sweep a partitioning column instead"
            )
        out: dict[str, list[float]] = {}
        for r in rows:
            out.setdefault(r["_g"], [0.0] * nb)[r["_bin"]] += r["n"]
        return out

    ref_h = _side_counts(ref)
    cand_h = _side_counts(cand)

    metric_rows, viol_rows = [], []
    if not ref_h and not cand_h:
        # BOTH sides empty (zero rows, or a type change NULLing the drifting
        # quantity everywhere): the group loop would never run — emit the
        # module's loud missing-data violation instead of a silent pass
        # (same contract as drift_vs_reference's empty-side rows)
        viol_rows.append(
            (
                run_id,
                None,
                rule.id,
                "both_sides",
                rule.expr or rule.column,
                "non-empty distributions",
                "0 rows on both sides",
                KIND_DRIFT,
            )
        )
    for g in sorted(set(ref_h) | set(cand_h)):
        hr, hp = ref_h.get(g), cand_h.get(g)
        if hr is None or hp is None:
            side = "reference" if hr is None else "candidate"
            viol_rows.append(
                (
                    run_id,
                    None,
                    rule.id,
                    f"{rule.sweep_by}={g}",
                    rule.expr or rule.column,
                    f"group present in both tables",
                    f"missing from {side}",
                    KIND_DRIFT,
                )
            )
            continue
        p_tot, r_tot = sum(hp), sum(hr)
        dp = [v / p_tot for v in hp]
        dr_ = [v / r_tot for v in hr]
        stat = psi(dp, dr_) if rule.method == "psi" else ks(dp, dr_)
        metric_rows.append(
            (run_id, None, rule.id, f"{rule.method}_stat", float(stat), g)
        )
        if stat > rule.threshold:
            viol_rows.append(
                (
                    run_id,
                    None,
                    rule.id,
                    f"{rule.sweep_by}={g}",
                    rule.expr or rule.column,
                    f"{rule.method} <= {rule.threshold}",
                    f"{stat:.6f}",
                    KIND_DRIFT,
                )
            )
    return _verdict(spark, viol_rows, metric_rows)
