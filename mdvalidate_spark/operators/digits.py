"""Benford first-significant-digit conformance: a forged/degenerate-data
tripwire for organically-generated numeric columns.

Naturally-occurring magnitudes spanning several orders (file sizes, order
totals, view counts, crawl byte lengths) follow Benford's law — digit d
leads with probability log10(1 + 1/d). Synthetic padding, a constant-fill
bug, truncation at an ingest boundary, or duplicated records all bend the
first-digit histogram long before a mean/quantile gate moves, which is why
the check is a forensic-accounting staple. Here it is a corpus-level data
gate: ONE scan, groupBy over at most 9 groups (map-side combined — the
shuffle moves ≤ 9·P rows), O(9) driver arithmetic. Scale-safe at any row
count by construction.

Parity discipline: the first significant digit is extracted from a FIXED
'%.6e' scientific rendering (format_string in Spark, printf in DuckDB) —
never via log10/pow, whose floating-point at exact powers of ten can
disagree between engines (log10(1000) = 2.9999999… → digit 9 instead of
1). The normalized mantissa makes every nonzero finite double in scope at
any magnitude (a '%.6f' rendering silently mapped all of [5e-7, 1e-6) to
digit 1 and excluded |x| < 5e-7 entirely); only 0, NULL, NaN and ±inf are
out of scope, visible in ``n_scoped`` vs ``rows``. Two documented edges
of the fixed 7-significant-digit rendering: (a) values within a RELATIVE
5e-8 below a power of ten round up to mantissa 1.000000 and report digit
1 — identically in both engines; (b) doubles whose shortest decimal repr
is exactly ``9.9999995e±k`` (at most one per exponent, a few hundred in
the whole double space) diverge — Java's Formatter rounds the shortest
repr HALF_UP (digit 1) while C-style printf rounds the exact binary
value (digit 9). No organically-generated column hits (b); it is a
rendering-tie pathology, not a data regime.

Applicability is the caller's judgment: ID sequences, bounded scores, and
assigned values (prices ending .99) are NOT Benford-distributed — the
docs promise a tripwire for organic magnitude columns, not a universal
gate. ``min_rows`` refuses statistically-meaningless inputs loudly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..errors import SchemaError
from ..schemas import local_frame, metrics_frame, violations_frame
from .util import round6 as _r6

# round(log10(1 + 1/d), 6) — fixed literals, identical in both engines
BENFORD_EXPECTED = {
    1: 0.30103,
    2: 0.176091,
    3: 0.124939,
    4: 0.09691,
    5: 0.079181,
    6: 0.066947,
    7: 0.057992,
    8: 0.051153,
    9: 0.045757,
}

#: Nigrini's conformity bands for the mean absolute deviation of the
#: first-digit distribution: <= 0.006 close, <= 0.012 acceptable,
#: <= 0.015 marginally acceptable, above = nonconformity.
MAD_MARGINAL = 0.015

MIN_BENFORD_ROWS = 1000


def first_digit_expr(column: str):
    """First significant digit of ``column`` as an int (NULL when none):
    the first [1-9] in the fixed '%.6e' scientific rendering of |x| — the
    normalized mantissa's lead digit, so every nonzero finite value is in
    scope at any magnitude. Rendering, not log10 math, so Spark and any
    ANSI-SQL oracle agree (module docstring documents the two rendering
    edges of the fixed 7-significant-digit precision)."""
    d = F.regexp_extract(
        F.format_string("%.6e", F.abs(F.col(column).cast("double"))),
        "[1-9]",
        0,
    )
    return F.when(d != "", d.cast("int"))


def _digit_counts(df: DataFrame, column: str) -> tuple[int, dict]:
    """ONE full-scan aggregation (map-side combined, 1 row collected):
    total row count and the per-digit counts of ``column``'s first
    significant digits."""
    agg = df.agg(
        F.count(F.lit(1)).alias("_rows"),
        *[
            # coalesce: SUM over zero rows is NULL, and an empty frame (or
            # a `when` predicate matching nothing) must degrade to all-zero
            # counts, not int(None) at the driver
            F.coalesce(
                F.sum(
                    F.when(first_digit_expr(column) == d, F.lit(1)).otherwise(0)
                ),
                F.lit(0),
            ).alias(f"_d{d}")
            for d in range(1, 10)
        ],
    ).collect()[0]
    rows = int(agg["_rows"])
    return rows, {d: int(agg[f"_d{d}"]) for d in range(1, 10)}


def _check_report_params(tol: float, min_rows: int) -> None:
    if not (0.0 < tol < 1.0):
        raise SchemaError(
            f"benford tol must be in (0, 1) (a share deviation), got {tol}"
        )
    if min_rows < 1:
        # public operator API, callable without compile_spec — min_rows=0
        # with zero in-scope values would divide by scoped=0 below
        raise SchemaError(f"benford min_rows must be >= 1, got {min_rows}")


def _report_frame(spark, rows: int, counts: dict, column: str, tol: float,
                  min_rows: int) -> DataFrame:
    """Shared report builder: the full-scan and merged-partials paths feed
    the SAME integer counts into the same arithmetic, so the incremental
    result is bit-identical to a rescan by construction."""
    scoped = sum(counts.values())
    if scoped < min_rows:
        raise SchemaError(
            f"benford_report({column!r}): only {scoped} values in scope "
            f"(non-NULL, nonzero) of {rows} rows — below min_rows="
            f"{min_rows}; a first-digit histogram this small asserts "
            "noise, not conformity (lower min_rows deliberately for "
            "fixtures)"
        )
    out = []
    for d in range(1, 10):
        share = _r6(counts[d] / scoped)
        exp = BENFORD_EXPECTED[d]
        dev = _r6(abs(share - exp))
        out.append((d, rows, scoped, counts[d], share, exp, dev, dev <= tol))
    return local_frame(
        spark,
        "digit int, rows long, n_scoped long, n long, observed_share double, "
        "expected_share double, abs_dev double, within_tol boolean",
        out,
    )


def benford_report(
    df: DataFrame,
    column: str,
    *,
    tol: float = 0.015,
    min_rows: int = MIN_BENFORD_ROWS,
) -> DataFrame:
    """Nine rows (digit 1..9, zero-count digits included): observed count
    and share vs the Benford expectation, per-digit absolute deviation,
    and the digit-level verdict at ``tol`` (default = Nigrini's marginal
    MAD band, reused as a per-digit gate). ``n_scoped`` (non-NULL, nonzero
    values) and ``rows`` ride along so the exclusion is auditable.

    Refuses loudly when fewer than ``min_rows`` values are in scope — a
    digit histogram over a handful of rows asserts noise, not conformity.
    """
    _check_report_params(tol, min_rows)
    rows, counts = _digit_counts(df, column)
    return _report_frame(df.sparkSession, rows, counts, column, tol, min_rows)


# Fixed partials schema: reloading a checkpointed partials dir MUST pass
# this explicitly (never infer) — a rule whose `when` scope matched zero
# rows in its first validated batch writes a directory with no part files,
# and schema inference on it raises, making the checkpoint unresumable.
BENFORD_PARTIALS_DDL = (
    "rows bigint, "
    + ", ".join(f"d{d} bigint" for d in range(1, 10))
    + ", partition_id int"
)


def benford_digit_partials(
    df: DataFrame,
    column: str,
    partition_col: str = "partition_id",
) -> DataFrame:
    """MERGEABLE per-partition first-digit histogram partials: one row per
    partition with its row count and nine digit counts — the Benford
    analog of association_cell_partials. Counts merge by plain summation,
    so a checkpointed run appends each batch's partials (idempotent
    dynamic-overwrite keyed on the partition, like every other partial in
    the manifest) and the EOF conformance gate never rescans the table.
    Size bound: O(partitions) rows of eleven small integers."""
    return df.groupBy(
        F.col(partition_col).cast("int").alias("partition_id")
    ).agg(
        F.count(F.lit(1)).alias("rows"),
        *[
            F.coalesce(
                F.sum(
                    F.when(first_digit_expr(column) == d, F.lit(1)).otherwise(0)
                ),
                F.lit(0),
            ).alias(f"d{d}")
            for d in range(1, 10)
        ],
    )


def benford_from_partials(
    partials: DataFrame,
    column: str,
    *,
    tol: float = 0.015,
    min_rows: int = MIN_BENFORD_ROWS,
) -> DataFrame:
    """Merge accumulated digit partials (sum per digit — one distributed
    aggregation, one row collected) and build the IDENTICAL report
    ``benford_report`` produces from a full scan: both paths feed the same
    integer counts into ``_report_frame``. The incremental EOF pass for
    Benford conformance."""
    _check_report_params(tol, min_rows)
    rows, counts = _merge_digit_partials(partials)
    return _report_frame(
        partials.sparkSession, rows, counts, column, tol, min_rows
    )


def _merge_digit_partials(partials: DataFrame) -> tuple[int, dict[int, int]]:
    """Sum accumulated digit partials — ONE distributed aggregation, one
    row collected. The single merge point for both the report and the
    rule-results incremental paths, so the partials schema and the merge
    arithmetic can never drift apart between them."""
    agg = partials.agg(
        F.coalesce(F.sum("rows"), F.lit(0)).alias("rows"),
        *[
            F.coalesce(F.sum(f"d{d}"), F.lit(0)).alias(f"d{d}")
            for d in range(1, 10)
        ],
    ).collect()[0]
    return int(agg["rows"]), {d: int(agg[f"d{d}"]) for d in range(1, 10)}


def _check_rule_params(rule) -> None:
    if not (0.0 < rule.max_mad < 1.0):
        # public operator API, callable without compile_spec — guard the
        # vacuous band here too, not just in the lint
        raise SchemaError(
            f"rule {rule.id!r}: max_mad must be in (0, 1), got {rule.max_mad}"
        )
    if rule.min_rows < 1:
        # re-guard the compile lint for the direct-call path: min_rows=0
        # with zero in-scope values would divide by scoped=0 below
        raise SchemaError(
            f"rule {rule.id!r}: min_rows must be >= 1, got {rule.min_rows}"
        )


def benford_rule_partials(df: DataFrame, rule) -> DataFrame:
    """Per-batch digit partials for an incremental BenfordRule: the rule's
    ``when`` scope applied first, then ``benford_digit_partials`` — what
    the run lifecycle persists under the checkpoint per validated batch."""
    scoped = df.where(F.expr(rule.when)) if rule.when else df
    return benford_digit_partials(scoped, rule.column)


def benford_rule_results_from_partials(partials: DataFrame, rule, run_id: str):
    """The incremental EOF pass for a BenfordRule: merge accumulated digit
    partials (one distributed summation, one row collected) and build the
    IDENTICAL (violations, metrics) frames ``benford_rule_results``
    produces from a full scan — both paths feed the same integer counts
    into ``_rule_results_from_counts``. Never rescans the table."""
    _check_rule_params(rule)
    rows, counts = _merge_digit_partials(partials)
    return _rule_results_from_counts(
        partials.sparkSession, rows, counts, rule, run_id
    )


def benford_rule_results(df, rule, run_id: str):
    """Finalize-stage evaluation of a BenfordRule: (violations, metrics)
    frames in the run's shared schemas. The verdict compares the ROUNDED
    MAD (6dp — the value reported) against ``max_mad``, so a replayed run
    can never flip on float dust. Degenerate contract per the rule's
    docstring: fewer than ``min_rows`` in-scope values violates loudly
    ('unmeasurable'), never passes silently."""
    _check_rule_params(rule)
    scoped_df = df.where(F.expr(rule.when)) if rule.when else df
    rows, counts = _digit_counts(scoped_df, rule.column)
    return _rule_results_from_counts(
        df.sparkSession, rows, counts, rule, run_id
    )


def _rule_results_from_counts(spark, rows: int, counts: dict, rule, run_id: str):
    """Shared verdict builder: full-scan and merged-partials paths feed the
    same integer counts into the same arithmetic."""
    from ..errors import KIND_BENFORD

    scoped = sum(counts.values())
    expected = f"benford mad <= {rule.max_mad}"

    viol_rows = []
    mad = None
    if scoped < rule.min_rows:
        viol_rows.append(
            (run_id, None, rule.id, None, rule.column, expected,
             f"unmeasurable: {scoped} in-scope values < min_rows="
             f"{rule.min_rows}", KIND_BENFORD)
        )
    else:
        # per-digit devs rounded first, like benford_report/benford_mad —
        # the rule's metric must equal the report's rollup exactly
        mad = _r6(
            sum(
                _r6(abs(_r6(counts[d] / scoped) - BENFORD_EXPECTED[d]))
                for d in range(1, 10)
            )
            / 9.0
        )
        if mad > rule.max_mad:
            worst = max(
                range(1, 10),
                key=lambda d: abs(_r6(counts[d] / scoped) - BENFORD_EXPECTED[d]),
            )
            viol_rows.append(
                (run_id, None, rule.id, None, rule.column, expected,
                 f"mad={mad:.6f} (worst digit {worst}: share "
                 f"{_r6(counts[worst] / scoped):.6f} vs "
                 f"{BENFORD_EXPECTED[worst]:.6f})", KIND_BENFORD)
            )

    metrics = metrics_frame(
        spark,
        [
            (run_id, None, rule.id, "benford_mad", mad, None),
            (run_id, None, rule.id, "benford_n_scoped", float(scoped), None),
        ],
    )
    return violations_frame(spark, viol_rows), metrics


def benford_mad(
    df: DataFrame,
    column: str,
    *,
    min_rows: int = MIN_BENFORD_ROWS,
) -> DataFrame:
    """One-row summary: the mean absolute deviation of the observed
    first-digit distribution from Benford, plus Nigrini's conformity
    verdict at the marginal band (mad <= 0.015). The scalar gate form of
    ``benford_report`` for spec-style pass/fail plumbing."""
    rep = benford_report(df, column, tol=MAD_MARGINAL, min_rows=min_rows)
    rows = rep.collect()
    mad = _r6(sum(r["abs_dev"] for r in rows) / 9.0)
    return local_frame(
        df.sparkSession,
        "column string, rows long, n_scoped long, mad double, conforms boolean",
        [(column, rows[0]["rows"], rows[0]["n_scoped"], mad, mad <= MAD_MARGINAL)],
    )
