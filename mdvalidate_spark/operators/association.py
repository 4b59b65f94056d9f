"""Joint-distribution association checks: chi-squared independence, Cramér's
V, and coupling drift between two categorical columns.

The drift stage (operators/drift.py) tests each column's MARGINAL
distribution; a paired corpus can pass every marginal check while the
JOINT distribution breaks — a scraper that starts attaching empty captions
to PNGs shifts fmt×caption-length coupling without moving either marginal.
For an image+caption table this is the pair-integrity statistic the north
rule's per-column KS/PSI cannot see (no reference analog; the nearest
ancestor is the EOF global revalidation pass, validator.rs:162-168, which
is where a finalize-stage check like this would run).

Plan shape (scale-first, same posture as the drift sweep):
  1. ONE groupBy over injective null-safe encoded keys per table —
     map-side combined, shuffle bounded by the number of DISTINCT (a, b)
     cells, never by row count;
  2. the contingency table (≤ ``max_cells`` rows, loudly refused above —
     a key-like column is a misuse, exactly SWEEP_MAX_HIST_ROWS's
     contract) comes to the driver;
  3. chi2 / V / PSI are O(cells) driver arithmetic.
No per-row data reaches the driver, so cost is one scan + one tiny
shuffle per table regardless of table size. NULL is a first-class
category (encoded, never dropped): a column going all-NULL is an
association shift, not invisible data loss.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..errors import SchemaError
from ..schemas import local_frame, metrics_frame, violations_frame
from .drift import psi

# contingency cells above this are a refusal, not a silent truncation: two
# key-like columns produce O(rows) cells and the statistic is meaningless
MAX_ASSOC_CELLS = 100_000


def _cat_key(col: Column) -> Column:
    """Injective, non-NULL category encoding: 'v:' + value, NULL -> 'null'.

    Injective because every real value gets the 'v:' prefix (so a literal
    string 'null' value encodes as 'v:null', distinct from NULL's 'null').
    Booleans cast via Spark to lowercase 'true'/'false', matching DuckDB's
    CAST(bool AS VARCHAR) — the oracle replica is COALESCE('v:' || CAST(x
    AS VARCHAR), 'null')."""
    return F.coalesce(F.concat(F.lit("v:"), col.cast("string")), F.lit("null"))


def _cells(
    df: DataFrame, col_a: str, col_b: str, max_cells: int, what: str
) -> list:
    rows = (
        df.groupBy(
            _cat_key(F.col(col_a)).alias("_a"),
            _cat_key(F.col(col_b)).alias("_b"),
        )
        .agg(F.count(F.lit(1)).alias("_n"))
        .limit(max_cells + 1)
        .collect()
    )
    if len(rows) > max_cells:
        raise SchemaError(
            f"{what}: ({col_a!r}, {col_b!r}) has more than {max_cells} "
            "distinct cells — association over key-like columns is "
            "meaningless and unbounded; pick categorical columns or raise "
            "max_cells deliberately"
        )
    # deterministic float-summation order (and stable across engines)
    return sorted((r["_a"], r["_b"], r["_n"]) for r in rows)


def _chi2(
    cells: list, max_cells: int, what: str
) -> tuple[int, int, int, int, float, float]:
    """(n_rows, n_a, n_b, dof, chi2, cramers_v) from (a, b, n) cells.

    chi2 sums over the FULL card_a × card_b grid — the groupBy only emits
    observed cells, but an expected-but-empty cell ((o=0 − e)²/e = e) is
    exactly where determinism shows up; skipping zeros under-reads every
    strong association. The grid is re-capped (a sparse observed table can
    have a far larger grid than cell list). Per-cell terms use the integer
    identity (o·n − rt·ct)² / (n·rt·ct) — exact int numerators, one float
    division per cell, deterministic sorted order."""
    n = sum(c[2] for c in cells)
    row_tot: dict = {}
    col_tot: dict = {}
    for a, b, c in cells:
        row_tot[a] = row_tot.get(a, 0) + c
        col_tot[b] = col_tot.get(b, 0) + c
    n_a, n_b = len(row_tot), len(col_tot)
    dof = (n_a - 1) * (n_b - 1)
    if n == 0 or dof == 0:
        return n, n_a, n_b, 0, 0.0, 0.0
    if n_a * n_b > max_cells:
        raise SchemaError(
            f"{what}: full contingency grid is {n_a}x{n_b} > {max_cells} "
            "cells — association over key-like columns is meaningless and "
            "unbounded; pick categorical columns or raise max_cells "
            "deliberately"
        )
    obs = {(a, b): c for a, b, c in cells}
    chi2 = sum(
        (obs.get((a, b), 0) * n - rt * ct) ** 2 / (n * rt * ct)
        for a, rt in sorted(row_tot.items())
        for b, ct in sorted(col_tot.items())
    )
    v = math.sqrt(chi2 / (n * (min(n_a, n_b) - 1)))
    return n, n_a, n_b, dof, chi2, v


def _profile_frame(
    spark, cells: list, col_a: str, col_b: str, max_cells: int, what: str
) -> DataFrame:
    n, n_a, n_b, dof, chi2, v = _chi2(cells, max_cells, what)
    return local_frame(
        spark,
        "col_a string, col_b string, n_rows long, n_cells long, "
        "card_a long, card_b long, dof long, chi2 double, cramers_v double",
        [(col_a, col_b, n, len(cells), n_a, n_b, dof, round(chi2, 3), round(v, 6))],
    )


def association_profile(
    df: DataFrame,
    col_a: str,
    col_b: str,
    max_cells: int = MAX_ASSOC_CELLS,
) -> DataFrame:
    """One-row association profile of two categorical columns: contingency
    size, chi-squared independence statistic, and Cramér's V (0 =
    independent, 1 = one column determines the other). Degenerate tables
    (either column constant, or empty) report chi2 = V = 0 with dof 0 —
    a vacuous association, visible as such, never a crash."""
    cells = _cells(df, col_a, col_b, max_cells, "association_profile")
    return _profile_frame(
        df.sparkSession, cells, col_a, col_b, max_cells, "association_profile"
    )


def association_cell_partials(
    df: DataFrame,
    col_a: str,
    col_b: str,
    partition_col: str = "partition_id",
) -> DataFrame:
    """MERGEABLE per-partition contingency partials: one row per
    (partition, a_key, b_key) with its count — the association analog of
    sweep_histogram_partials. Counts merge by plain summation, so a
    checkpointed run appends each batch's partials (idempotent
    dynamic-overwrite keyed on the partition, like every other partial in
    the manifest) and the EOF profile never rescans the table. Size bound:
    O(partitions × cells) rows of three small values."""
    return df.groupBy(
        F.col(partition_col).cast("int").alias("partition_id"),
        _cat_key(F.col(col_a)).alias("_a"),
        _cat_key(F.col(col_b)).alias("_b"),
    ).agg(F.count(F.lit(1)).alias("n"))


def association_from_partials(
    partials: DataFrame,
    col_a: str,
    col_b: str,
    max_cells: int = MAX_ASSOC_CELLS,
) -> DataFrame:
    """Merge accumulated cell partials (sum per cell — distributed, before
    anything reaches the driver) and compute the IDENTICAL one-row profile
    association_profile produces from a full scan. The incremental EOF
    pass for coupling: bit-identical to the full-scan result because both
    paths feed the same full-grid chi2 the same integer cell counts."""
    what = "association_from_partials"
    rows = (
        partials.groupBy("_a", "_b")
        .agg(F.sum("n").alias("_n"))
        .limit(max_cells + 1)
        .collect()
    )
    if len(rows) > max_cells:
        raise SchemaError(
            f"{what}: ({col_a!r}, {col_b!r}) has more than {max_cells} "
            "distinct cells — association over key-like columns is "
            "meaningless and unbounded; pick categorical columns or raise "
            "max_cells deliberately"
        )
    cells = sorted((r["_a"], r["_b"], r["_n"]) for r in rows)
    return _profile_frame(
        partials.sparkSession, cells, col_a, col_b, max_cells, what
    )


def association_rule_results(
    df: DataFrame, rule, run_id: str
) -> tuple[DataFrame, DataFrame]:
    """Finalize-stage evaluation of an AssociationRule: (violations,
    metrics) frames in the run's shared schemas. The verdict compares the
    ROUNDED V (6dp — the value reported) against the band, so a replayed
    run can never flip on float dust. Degenerate contract per the rule's
    docstring: empty table always violates; dof = 0 violates only an
    asserted coupling floor."""
    from ..errors import KIND_ASSOCIATION

    # public operator API, callable without compile_spec (the metric_bounds
    # precedent): guard the vacuous band here too, not just in the lint
    if rule.min_v is None and rule.max_v is None:
        raise SchemaError(
            f"rule {rule.id!r}: association rule asserts nothing without "
            "min_v and/or max_v (Cramér's V band)"
        )
    spark = df.sparkSession
    max_cells = rule.max_cells or MAX_ASSOC_CELLS
    what = f"rule {rule.id!r}"
    cells = _cells(df, rule.col_a, rule.col_b, max_cells, what)
    n, n_a, n_b, dof, chi2, v = _chi2(cells, max_cells, what)
    v_r = round(v, 6)

    if rule.min_v is not None and rule.max_v is not None:
        expected = f"cramers_v in [{rule.min_v}, {rule.max_v}]"
    elif rule.min_v is not None:
        expected = f"cramers_v >= {rule.min_v}"
    else:
        expected = f"cramers_v <= {rule.max_v}"
    col_desc = f"({rule.col_a}, {rule.col_b})"

    viol_rows = []
    if n == 0:
        viol_rows.append(
            (run_id, None, rule.id, None, col_desc,
             "non-empty joint distribution", "0 rows", KIND_ASSOCIATION)
        )
    elif dof == 0 and rule.min_v is not None:
        viol_rows.append(
            (run_id, None, rule.id, None, col_desc, expected,
             f"unmeasurable: constant column (dof=0, card {n_a}x{n_b})",
             KIND_ASSOCIATION)
        )
    elif (rule.min_v is not None and v_r < rule.min_v) or (
        rule.max_v is not None and v_r > rule.max_v
    ):
        viol_rows.append(
            (run_id, None, rule.id, None, col_desc, expected,
             f"{v_r:.6f}", KIND_ASSOCIATION)
        )

    metrics = metrics_frame(
        spark,
        [
            (run_id, None, rule.id, "chi2", round(chi2, 3), None),
            (run_id, None, rule.id, "cramers_v", v_r, None),
            (run_id, None, rule.id, "assoc_cells", float(len(cells)), None),
            (run_id, None, rule.id, "assoc_dof", float(dof), None),
        ],
    )
    return violations_frame(spark, viol_rows), metrics


def association_drift(
    ref: DataFrame,
    cand: DataFrame,
    col_a: str,
    col_b: str,
    max_cells: int = MAX_ASSOC_CELLS,
) -> DataFrame:
    """Coupling drift: PSI of the JOINT (col_a, col_b) distribution between
    a reference and a candidate table, next to each column's marginal PSI.
    ``coupling_excess`` = joint_psi − max(marginal PSIs) isolates the
    association signal: a shift every marginal already explains reads ≈ 0,
    while re-pairing (same fmts, same langs, different pairing) reads
    joint-only. Cells/categories absent on one side get probability 0 and
    the same eps clamp as drift.psi — appearing or vanishing cells are
    drift, not errors."""
    from concurrent.futures import ThreadPoolExecutor

    spark = ref.sparkSession
    # the two cell collects are independent full-table aggregations — submit
    # them from driver threads so the scans overlap (guide §2.6) instead of
    # paying the two blocking collects back to back
    with ThreadPoolExecutor(max_workers=2) as pool:
        rc_fut = pool.submit(
            _cells, ref, col_a, col_b, max_cells, "association_drift(ref)"
        )
        cc_fut = pool.submit(
            _cells, cand, col_a, col_b, max_cells, "association_drift(cand)"
        )
        rc = rc_fut.result()
        cc = cc_fut.result()
    n_ref = sum(c[2] for c in rc)
    n_cand = sum(c[2] for c in cc)
    if n_ref == 0 or n_cand == 0:
        raise SchemaError(
            f"association_drift: {'reference' if n_ref == 0 else 'candidate'}"
            " side has no rows — a distribution statement needs rows on "
            "both sides (same posture as the empty drift reference)"
        )
    rmap = {(a, b): c for a, b, c in rc}
    cmap = {(a, b): c for a, b, c in cc}

    def _psi_over(keys: list, rm: dict, cm: dict) -> float:
        dr = [rm.get(k, 0) / n_ref for k in keys]
        dc = [cm.get(k, 0) / n_cand for k in keys]
        return psi(dc, dr)

    joint_keys = sorted(set(rmap) | set(cmap))
    joint = _psi_over(joint_keys, rmap, cmap)

    def _marg(cells_map: dict, idx: int) -> dict:
        out: dict = {}
        for k, c in cells_map.items():
            out[k[idx]] = out.get(k[idx], 0) + c
        return out

    ra, ca = _marg(rmap, 0), _marg(cmap, 0)
    rb, cb = _marg(rmap, 1), _marg(cmap, 1)
    psi_a = _psi_over(sorted(set(ra) | set(ca)), ra, ca)
    psi_b = _psi_over(sorted(set(rb) | set(cb)), rb, cb)
    return local_frame(
        spark,
        "col_a string, col_b string, n_ref long, n_cand long, n_cells long, "
        "joint_psi double, marginal_psi_a double, marginal_psi_b double, "
        "coupling_excess double",
        [
            (
                col_a,
                col_b,
                n_ref,
                n_cand,
                len(joint_keys),
                round(joint, 3),
                round(psi_a, 3),
                round(psi_b, 3),
                round(joint - max(psi_a, psi_b), 3),
            )
        ],
    )
