"""OutlierRule executor: robust distribution-outlier rows (IQR / MAD).

The reference's bound checks are per-value against DECLARED constants
(matcher_extras.rs:228-252); an outlier gate is the data-derived analog — the
envelope comes from the table's own robust location/scale, so it catches the
corrupt tail nobody declared a bound for (a 10^9-pixel "image width", a
negative price) without hand-tuning per column.

Two-phase plan, both phases scale-shaped:

  phase 1  envelope per group (or one global row):
           iqr — [q1 - k·IQR, q3 + k·IQR] from the 25/75 quantiles
           mad — median ± k·(1.4826·MAD)   (1.4826 = consistency constant
                 making MAD estimate sigma under normality; k is then the
                 familiar z-like threshold, default 3.5)
  phase 2  one broadcast join of the tiny envelope frame back onto the
           table + a codegen'd filter → violation rows

Quantile strategies (``exact``):

  exact=False (DEFAULT — the 10^12-row path): KLL quantile sketches
      (kll_sketch_agg_*), mergeable partials, bounded memory per task, same
      sketch family the stats rules persist. Approximate by construction.
  exact=True: F.percentile — exact interpolated quantiles, but Spark's
      implementation buffers the group's values in ONE aggregation buffer;
      only for small/medium tables and the oracle harness. At corpus scale
      use the sketch path.

Envelope bounds are rounded to 6 decimals (round(x·1e6)/1e6) before the
filter on BOTH the engine and any SQL oracle — the repo-wide parity
convention that keeps last-ulp float differences from flipping boundary
rows. MAD needs a second aggregation pass (median of |x − median|); IQR is
one pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..errors import KIND_OUTLIER
from ..schemas import violation_columns
from ..spec import OutlierRule

#: 1.4826 ≈ 1/Φ⁻¹(3/4): scales MAD to estimate sigma under normality
MAD_SIGMA = 1.4826


def _value(rule: OutlierRule):
    """The enveloped value: a raw column or a derived SQL expression
    (``expr="try_divide(length(bytes), w*h)"`` — analyzed at compile;
    try_divide, not ``/``, so ANSI mode NULLs corrupt zero-dim rows out of
    scope instead of killing the job)."""
    return F.expr(rule.expr) if rule.expr else F.col(rule.column)


def _scoped(df: DataFrame, rule: OutlierRule) -> DataFrame:
    if rule.when:
        df = df.where(F.expr(rule.when))
    return df.where(_value(rule).isNotNull())


def _quantiles(df: DataFrame, value_col, group_by, fractions, exact: bool):
    """One aggregation → one row per group with q_0..q_i columns for the
    requested fractions. value_col is a Column expression (already cast)."""
    if exact:
        aggs = [
            F.percentile(value_col, F.lit(fr)).alias(f"q_{i}")
            for i, fr in enumerate(fractions)
        ]
    else:
        sk = F.kll_sketch_agg_double(value_col)
        aggs = [
            F.kll_sketch_get_quantile_double(sk, F.lit(fr)).alias(f"q_{i}")
            for i, fr in enumerate(fractions)
        ]
    if group_by:
        return df.groupBy(*[F.col(c) for c in group_by]).agg(*aggs)
    return df.agg(*aggs)


def _round6(c):
    return F.round(c, 6)


def outlier_bounds(df: DataFrame, rule: OutlierRule) -> DataFrame:
    """Envelope frame: (group_by columns..., _lo, _hi), one row per group
    (one row total when ungrouped). Bounds rounded to 6 dp (parity
    convention). Tiny by construction — #groups rows."""
    gb = list(rule.group_by)
    c = _value(rule).cast("double")
    scoped = _scoped(df, rule)
    if rule.method == "iqr":
        q = _quantiles(scoped, c, gb, (0.25, 0.75), rule.exact)
        iqr = F.col("q_1") - F.col("q_0")
        lo = F.col("q_0") - F.lit(rule.k) * iqr
        hi = F.col("q_1") + F.lit(rule.k) * iqr
        return q.select(*gb, _round6(lo).alias("_lo"), _round6(hi).alias("_hi"))
    # mad: median, then median absolute deviation — a second aggregation
    # over |x − median(group)|, envelope = med ± k·1.4826·MAD
    med = _quantiles(scoped, c, gb, (0.5,), rule.exact).select(
        *gb, F.col("q_0").alias("_med")
    )
    joined = (
        scoped.join(F.broadcast(med), on=gb) if gb
        else scoped.crossJoin(F.broadcast(med))  # 1-row envelope side
    )
    dev = F.abs(c - F.col("_med"))
    madq = _quantiles(joined, dev, gb + ["_med"], (0.5,), rule.exact)
    half = F.lit(rule.k) * F.lit(MAD_SIGMA) * F.col("q_0")
    return madq.select(
        *gb,
        _round6(F.col("_med") - half).alias("_lo"),
        _round6(F.col("_med") + half).alias("_hi"),
    )


def outlier_violations(
    df: DataFrame, rule: OutlierRule, run_id: str, key_column: str
) -> DataFrame:
    """Violation rows for values outside the robust envelope. The envelope
    frame is broadcast (≤ #groups rows), the filter is codegen'd — the big
    side never shuffles."""
    gb = list(rule.group_by)
    bounds = outlier_bounds(df, rule)
    scoped = _scoped(df, rule)
    joined = (
        scoped.join(F.broadcast(bounds), on=gb) if gb
        else scoped.crossJoin(F.broadcast(bounds))
    )
    c = _value(rule).cast("double")
    expected = F.format_string(
        f"in [%.6f, %.6f] ({rule.method} k={rule.k:g})"
        + (f" by {','.join(gb)}" if gb else ""),
        F.col("_lo"),
        F.col("_hi"),
    )
    return (
        joined.where((c < F.col("_lo")) | (c > F.col("_hi")))
        .select(
            *violation_columns(
                run_id=run_id,
                rule_id=rule.id,
                image_id=F.col(key_column).cast("string"),
                column=rule.expr or rule.column,
                expected=expected,
                actual=F.format_string("%.6f", c),
                kind=KIND_OUTLIER,
            )
        )
    )


def quality_bins(
    df: DataFrame,
    score_col: str,
    n_bins: int,
    *,
    exact: bool = False,
    bin_col: str = "quality_bin",
) -> DataFrame:
    """Curriculum binning — the extraction sibling of OutlierRule's
    envelopes: assign every row its quantile bucket of ``score_col``
    (bin 1 = lowest scores … n_bins = highest), so a training pipeline can
    mix by quality tier or schedule low→high curriculum phases.

    Plan: ONE aggregation computes the n_bins−1 inner quantile edges (KLL
    sketch by default — mergeable partials, the 10^12-row path;
    ``exact=True`` uses F.percentile for small tables and oracle parity),
    edges are rounded to 6 dp (repo parity convention) and inlined as
    literals, and the bin is a codegen'd comparison chain — bin = 1 +
    #edges the score exceeds. No global sort, no window, no shuffle beyond
    the edge aggregation. Ties/duplicate edges (score mass on one value)
    leave some bins empty rather than splitting a tied value arbitrarily —
    deterministic beats equal-sized. NULL scores get a NULL bin (NotNull /
    MetricBound rules own missing scores)."""
    from ..errors import SchemaError

    if n_bins < 2:
        raise SchemaError(f"quality_bins needs n_bins >= 2, got {n_bins}")
    c = F.col(score_col).cast("double")
    fracs = [i / n_bins for i in range(1, n_bins)]
    edge_row = (
        _quantiles(df.where(c.isNotNull()), c, None, fracs, exact)
        .select(*[_round6(F.col(f"q_{i}")).alias(f"q_{i}") for i in range(len(fracs))])
        .first()
    )
    edges = [edge_row[f"q_{i}"] for i in range(len(fracs))]
    if any(e is None for e in edges):
        raise SchemaError(
            f"quality_bins: no non-NULL values in {score_col!r} to derive "
            "edges from"
        )
    b = F.lit(1)
    for e in edges:
        b = b + F.when(c > F.lit(float(e)), 1).otherwise(0)
    return df.withColumn(bin_col, F.when(c.isNotNull(), b))
