"""Co-missingness profile: which columns go NULL *together*.

A broken ingest rarely NULLs one field — the decoder that gave up writes
NULL bytes AND NULL w/h AND NULL phash in the same row, while organic
missingness (caption simply absent) is independent. Per-column null rates
(column_stats) can't tell those apart; the pairwise structure of the null
masks can. For every pair of profiled columns this emits the 2x2 null
contingency (both / a-only / b-only) plus two association measures:

- ``jaccard`` — |both null| / |either null|: how much of the missingness
  is shared (1.0 = the columns always fail together);
- ``phi`` — the Pearson correlation of the two null indicators: 0 for
  independent missingness, -> 1 for a common upstream cause, negative for
  complementary feeds. NULL (not 0) when a mask is degenerate (a column
  never or always NULL has no variance to correlate).

Scale shape: ONE full-scan aggregation with map-side partial combine —
k null sums + k(k-1)/2 pair sums as plain conditional-sum expressions, a
single 1-row result collected, O(k^2) driver arithmetic. No shuffle wider
than one row; safe at any row count. ``k`` is bounded loudly (the profile
is quadratic in COLUMNS, a curated list — not in rows).
"""

from __future__ import annotations

import math
from itertools import combinations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..errors import SchemaError
from ..schemas import local_frame
from .util import round6 as _r6

MAX_MISSINGNESS_COLS = 32


def null_correlation(
    df: DataFrame,
    columns: list[str] | tuple[str, ...],
    *,
    max_cols: int = MAX_MISSINGNESS_COLS,
) -> DataFrame:
    """One row per unordered column pair (col_a < col_b lexicographically):
    null counts (each / both), the jaccard overlap of the null masks, and
    the phi correlation of the null indicators — rounded to 6dp.

    Top-level NULL only (``isNull``): nested-field missingness belongs to
    the struct rules. Duplicate or unknown columns are refused loudly.
    """
    cols = list(columns)
    if len(cols) < 2:
        raise SchemaError(
            "null_correlation needs at least 2 columns — co-missingness "
            "is a pairwise property"
        )
    if len(set(cols)) != len(cols):
        raise SchemaError(f"null_correlation: duplicate columns in {cols}")
    if len(cols) > max_cols:
        raise SchemaError(
            f"null_correlation: {len(cols)} columns > max_cols={max_cols} "
            "— the profile is quadratic in columns; profile a curated "
            "subset or raise max_cols deliberately"
        )
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise SchemaError(
            f"null_correlation: columns {missing} not in the input schema"
        )
    cols = sorted(cols)
    nul = {c: F.when(F.col(c).isNull(), 1).otherwise(0) for c in cols}
    exprs = [F.count(F.lit(1)).alias("_n")]
    exprs += [F.sum(nul[c]).alias(f"_m_{i}") for i, c in enumerate(cols)]
    exprs += [
        F.sum(nul[a] * nul[b]).alias(f"_p_{i}_{j}")
        for (i, a), (j, b) in combinations(enumerate(cols), 2)
    ]
    row = df.agg(*exprs).collect()[0]
    # SUM over zero rows is NULL: an empty frame must degrade to the
    # documented degenerate rows (n=0, jaccard/phi NULL), not int(None)
    n = int(row["_n"])
    m = {i: int(row[f"_m_{i}"] or 0) for i in range(len(cols))}
    out = []
    for (i, a), (j, b) in combinations(enumerate(cols), 2):
        both = int(row[f"_p_{i}_{j}"] or 0)
        na, nb = m[i], m[j]
        either = na + nb - both
        jac = _r6(both / either) if either > 0 else None
        # phi of the null indicators; degenerate masks (no variance)
        # yield NULL, not a fake 0
        # math.sqrt (correctly-rounded IEEE sqrt), not **0.5 (libm pow),
        # so the oracle's sqrt() reproduces the value bit-for-bit
        denom = na * nb * (n - na) * (n - nb)
        phi = (
            _r6((n * both - na * nb) / math.sqrt(denom)) if denom > 0 else None
        )
        out.append((a, b, n, na, nb, both, jac, phi))
    return local_frame(
        df.sparkSession,
        "col_a string, col_b string, rows long, null_a long, null_b long, "
        "null_both long, jaccard double, phi double",
        out,
    )


def null_correlation_violations(
    df: DataFrame,
    columns: list[str] | tuple[str, ...],
    *,
    max_phi: float = 0.5,
    min_both: int = 1,
    rule_id: str = "null_correlation",
) -> DataFrame:
    """Gate form: one violation-style row per pair whose null masks are
    MORE coupled than ``max_phi`` (and co-missing at least ``min_both``
    rows — a phi estimated from one coincidence is not evidence).
    Group-level rows (pair identity, no per-row ids), same posture as
    mixture_violations."""
    if not (0.0 <= max_phi < 1.0):
        raise SchemaError(
            f"null_correlation max_phi must be in [0, 1), got {max_phi}"
        )
    rep = null_correlation(df, columns)
    return rep.where(
        F.col("phi").isNotNull()
        & (F.col("phi") > max_phi)
        & (F.col("null_both") >= min_both)
    ).select(
        F.col("col_a"),
        F.col("col_b"),
        F.lit(rule_id).alias("rule_id"),
        F.concat_ws("|", F.col("col_a"), F.col("col_b")).alias("column"),
        F.format_string("null-mask phi <= %.6f", F.lit(float(max_phi))).alias(
            "expected"
        ),
        F.format_string(
            "phi %.6f (co-missing %d of %d rows)",
            F.col("phi"),
            F.col("null_both"),
            F.col("rows"),
        ).alias("actual"),
        F.lit("null_correlation").alias("kind"),
    )
