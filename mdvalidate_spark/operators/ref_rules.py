"""Referential-integrity rules: broadcast left-anti joins.

Analog of the reference's link-destination validation (reference:
walkers/validators/links.rs:216-310 — a destination must match a literal or a
pattern; here a foreign-key value must exist in a dimension table). Dimension
tables are small by construction (format domains, source registries), so the
join side is broadcast — zero shuffle of the fact table, the anti-join runs
map-side inside the same scan stage as everything else.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..errors import KIND_ORPHAN
from ..schemas import violation_columns
from ..spec import RefIntegrityRule


def ref_violations(
    df: DataFrame,
    rule: RefIntegrityRule,
    dim: DataFrame,
    run_id: str,
    key_column: str,
) -> DataFrame:
    """Rows of df whose foreign key (single column or composite tuple) has
    no match in the dimension's key column(s).

    NULL foreign keys are skipped (NotNullRule's job) — for a composite key,
    ANY NULL component skips the row (SQL FK semantics) — matching left-anti
    NULL behavior explicitly rather than by accident.
    """
    fact_keys = rule.fact_keys()
    dim_key_names = rule.dim_keys()
    if rule.when:
        df = df.where(F.expr(rule.when))  # scope-gated integrity
    dim_keys = dim.select(
        *[
            F.col(d).alias(f"__dim_key{i}")
            for i, d in enumerate(dim_key_names)
        ]
    ).dropDuplicates()
    # broadcast_dim=False (huge dims — a 10^9-key registry cannot be
    # broadcast) leaves the join unhinted: AQE picks sort-merge/shuffled-hash
    # from the runtime sizes, with skew-join splitting on hot keys, or still
    # broadcasts if the deduped key set turns out small
    dim_side = F.broadcast(dim_keys) if rule.broadcast_dim else dim_keys
    not_null = F.lit(True)
    cond = F.lit(True)
    for i, c in enumerate(fact_keys):
        not_null = not_null & F.col(c).isNotNull()
        cond = cond & (F.col(c) == F.col(f"__dim_key{i}"))
    orphans = df.where(not_null).join(dim_side, on=cond, how="left_anti")
    if len(fact_keys) == 1:
        col_label = rule.column
        expected = f"exists in {rule.dim_name}.{rule.dim_column}"
        actual = F.col(fact_keys[0]).cast("string")
    else:
        col_label = ",".join(fact_keys)
        expected = f"exists in {rule.dim_name}.({','.join(dim_key_names)})"
        actual = F.concat_ws(
            "|", *[F.col(c).cast("string") for c in fact_keys]
        )
    return orphans.select(
        *violation_columns(
            run_id=run_id,
            partition_id=F.col("partition_id").cast("int"),
            rule_id=rule.id,
            image_id=F.col(key_column).cast("string"),
            column=col_label,
            expected=expected,
            actual=actual,
            kind=KIND_ORPHAN,
        )
    )


def ref_fused_check(
    df: DataFrame,
    rule: RefIntegrityRule,
    dim: DataFrame,
    idx: int,
):
    """Fuse one broadcast-dim referential rule into the row pass: attach a
    broadcast LEFT OUTER join marking dimension membership and return
    (joined frame, nullable violation-struct Column) shaped exactly like a
    row rule's ``_check`` output, so the orphan check rides the SAME scan
    as every fused row rule instead of paying its own full pass over the
    fact table (guide §1.2: remove passes; round-6 plan diff — the batch
    stage's `Union(row scan, ref scan)` becomes one scan with a
    BroadcastHashJoin in the same WholeStageCodegen span).

    Semantics are identical to ``ref_violations``: deduplicated dim keys,
    NULL fact-key components skip the row, ``when`` scope-gates the check;
    the emitted struct fields match field-for-field. Only
    ``broadcast_dim=True`` rules are fusable — a huge dim needs a real
    shuffle join and keeps the standalone path."""
    fact_keys = rule.fact_keys()
    dim_key_names = rule.dim_keys()
    pref = f"__ref{idx}_k"
    dim_keys = dim.select(
        *[
            F.col(d).alias(f"{pref}{i}")
            for i, d in enumerate(dim_key_names)
        ]
    ).dropDuplicates()
    not_null = F.lit(True)
    cond = F.lit(True)
    for i, c in enumerate(fact_keys):
        not_null = not_null & F.col(c).isNotNull()
        cond = cond & (F.col(c) == F.col(f"{pref}{i}"))
    joined = df.join(F.broadcast(dim_keys), on=cond, how="left")
    if len(fact_keys) == 1:
        col_label = rule.column
        expected = f"exists in {rule.dim_name}.{rule.dim_column}"
        actual = F.col(fact_keys[0]).cast("string")
    else:
        col_label = ",".join(fact_keys)
        expected = f"exists in {rule.dim_name}.({','.join(dim_key_names)})"
        actual = F.concat_ws(
            "|", *[F.col(c).cast("string") for c in fact_keys]
        )
    fail = not_null & F.col(f"{pref}0").isNull()
    viol = F.struct(
        F.lit(rule.id).alias("rule_id"),
        F.lit(col_label).alias("column"),
        F.lit(expected).cast("string").alias("expected"),
        actual.cast("string").alias("actual"),
        F.lit(KIND_ORPHAN).alias("kind"),
    )
    check = F.when(fail, viol)
    if rule.when:
        check = F.when(F.expr(rule.when), check)
    return joined, check


def table_ratio_check(
    fact: DataFrame,
    other: DataFrame,
    rule_id: str,
    min_ratio: float | None = None,
    max_ratio: float | None = None,
    fact_when: str = "",
    other_when: str = "",
) -> DataFrame:
    """Cross-TABLE cardinality consistency: rows(fact)/rows(other) must lie
    in [min_ratio, max_ratio] — the companion gate to referential integrity
    (ref checks that keys RESOLVE; this checks that the tables' SIZES still
    make sense relative to each other). A lineitem/orders ratio collapsing
    from ~4 to ~0.4 means a partially-loaded fact table; every downstream
    join then produces silently-plausible wrong answers that no per-row
    rule can see. None bounds are open (same convention as CountRule).

    Optional ``fact_when`` / ``other_when`` SQL predicates scope each side
    (e.g. compare only the same ingest date) — pushed as pre-aggregation
    filters so they reach the scans.

    Scale shape: two single-scalar counts (map-side combined, column-pruned
    to nothing by Catalyst's count(1)) cross-joined as 1-row frames — the
    whole check is one lazy plan, no driver collect, trivially parallel at
    any table size. Output is ONE row (rule_id, fact_rows, other_rows,
    ratio, expected, violated) — metric-style, so it composes with
    compare_metric_runs / anomaly_metric_history for ratio drift over time;
    ``ratio`` is NULL when other is empty, and an empty denominator is
    UNCONDITIONALLY a violation regardless of fact_rows — there is no
    bounds configuration under which "divide by an empty table" passes.
    """
    if min_ratio is None and max_ratio is None:
        # same vacuity contract as the engine's bound lints: a ratio check
        # with no bounds checks nothing
        from ..errors import SchemaError

        raise SchemaError(
            f"ratio check {rule_id!r} needs min_ratio and/or max_ratio"
        )
    if min_ratio is not None and max_ratio is not None and min_ratio > max_ratio:
        from ..errors import SchemaError

        raise SchemaError(
            f"ratio check {rule_id!r}: min_ratio {min_ratio} > max_ratio "
            f"{max_ratio}"
        )
    f = fact.where(F.expr(fact_when)) if fact_when else fact
    o = other.where(F.expr(other_when)) if other_when else other
    fc = f.agg(F.count(F.lit(1)).cast("double").alias("fact_rows"))
    oc = o.agg(F.count(F.lit(1)).cast("double").alias("other_rows"))
    j = fc.crossJoin(oc)
    ratio = F.when(
        F.col("other_rows") > 0, F.col("fact_rows") / F.col("other_rows")
    )
    conds = []
    if min_ratio is not None:
        conds.append(ratio < F.lit(float(min_ratio)))
    if max_ratio is not None:
        conds.append(ratio > F.lit(float(max_ratio)))
    out_of_bounds = conds[0] if len(conds) == 1 else (conds[0] | conds[1]) if conds else F.lit(False)
    violated = F.when(ratio.isNull(), F.lit(True)).otherwise(out_of_bounds)
    # open bounds render as one-sided comparisons, never a literal 'None'
    if min_ratio is not None and max_ratio is not None:
        expected = f"ratio in [{min_ratio}, {max_ratio}]"
    elif min_ratio is not None:
        expected = f"ratio >= {min_ratio}"
    else:
        expected = f"ratio <= {max_ratio}"
    return j.select(
        F.lit(rule_id).alias("rule_id"),
        "fact_rows",
        "other_rows",
        ratio.alias("ratio"),
        F.lit(expected).alias("expected"),
        violated.alias("violated"),
    )
