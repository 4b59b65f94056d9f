"""SequenceRule executor: ordered disjoint consumption by chained matchers.

Re-expresses the reference's biggest operator, ListVsListValidator
(reference: walkers/validators/lists.rs:92-511) — repeated matchers with
`{m,n}` bounds consume disjoint consecutive ranges of a group's items in
order (doc lists.rs:63-88; chained consumption lists.rs:309-313; bounds
errors lists.rs:168-264) — as ONE window pass plus a fused per-row check:

  rank = row_number() over (group, order); n = count() over (group)
  segment(rank)  : static offsets (all steps before the last are
                   fixed-length, enforced at compile like
                   RepeatingMatcherUnbounded, lists.rs:151-162)
  row violation  : value !~ its segment's anchored pattern   (kind=matcher)
  group violation: n outside [Σfixed+min_last, Σfixed+max_last] (kind=count)

The window shuffles once on the group key; everything after is map-side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..errors import KIND_COUNT, KIND_MATCHER
from ..schemas import violation_columns
from ..spec import SequenceRule, anchor_regex


def _anchored(p: str) -> str:
    # sequence steps are always full-value matches (see spec.anchor_regex)
    return anchor_regex(p)


def sequence_violations(
    df: DataFrame, rule: SequenceRule, run_id: str, key_column: str
) -> DataFrame:
    steps = rule.steps
    fixed = steps[:-1]
    last = steps[-1]
    sum_fixed = sum(s.min for s in fixed)
    total_min = sum_fixed + last.min
    total_max = None if last.max is None else sum_fixed + last.max

    # key_column as tie-break: equal order values would otherwise make
    # row_number() (and therefore segment assignment at boundaries)
    # shuffle-layout-dependent — violations flapping run to run
    w_order = Window.partitionBy(*rule.group_by).orderBy(
        rule.order_column, key_column
    )
    w_group = Window.partitionBy(*rule.group_by)
    ranked = df.select(
        F.col(key_column).cast("string").alias("_key"),
        F.col(rule.column).cast("string").alias("_val"),
        *[F.col(c) for c in rule.group_by],
        F.row_number().over(w_order).alias("_rank"),
        F.count(F.lit(1)).over(w_group).alias("_n"),
    )

    # per-row: which step owns this rank, and does the value match it.
    # Each step's regex stays a FOLDABLE literal (compiled once by the JVM);
    # a column-valued rlike pattern would recompile per row.
    start = 1
    seg_pattern: Column = F.lit(anchor_regex(last.pattern, end="$"))  # tail default
    row_fail: Column = F.lit(False)
    for s in fixed:
        end = start + s.min  # fixed ⇒ min == max
        in_seg = (F.col("_rank") >= start) & (F.col("_rank") < end)
        seg_pattern = F.when(
            in_seg, F.lit(anchor_regex(s.pattern, end="$"))
        ).otherwise(seg_pattern)
        row_fail = row_fail | (in_seg & ~F.col("_val").rlike(_anchored(s.pattern)))
        start = end
    in_tail = F.col("_rank") >= start
    row_fail = row_fail | (in_tail & ~F.col("_val").rlike(_anchored(last.pattern)))
    row_fail = F.col("_val").isNotNull() & row_fail
    group_key = F.concat_ws(
        "\x01", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00NULL")) for c in rule.group_by]
    )

    checked = ranked.withColumn("seg_pattern", seg_pattern)

    row_viols = checked.where(row_fail).select(
        *violation_columns(
            run_id=run_id,
            rule_id=rule.id,
            image_id=F.col("_key"),
            column=rule.column,
            expected=F.col("seg_pattern"),
            actual=F.col("_val"),
            kind=KIND_MATCHER,
        )
    )

    count_fail = F.col("_n") < total_min
    if total_max is not None:
        count_fail = count_fail | (F.col("_n") > total_max)
    group_viols = (
        checked.where((F.col("_rank") == 1) & count_fail)
        .select(
            *violation_columns(
                run_id=run_id,
                rule_id=rule.id,
                image_id=group_key,
                column=",".join(rule.group_by),
                expected=(
                    f"sequence length in [{total_min}, {total_max}]"
                    if total_max is not None
                    else f"sequence length >= {total_min}"
                ),
                actual=F.col("_n").cast("string"),
                kind=KIND_COUNT,
            )
        )
    )
    return row_viols.unionByName(group_viols)


def monotonic_violations(
    df: DataFrame, rule, run_id: str, key_column: str
) -> DataFrame:
    """MonotonicRule executor: within each group ordered by
    ``order_column`` (key tie-break for determinism), ``column`` must never
    regress — nondecreasing (default) or nonincreasing, ``strict`` forbids
    equality too. The ordering analog of SequenceRule's chained consumption
    (lists.rs:309-313): the reference walks a list asserting each item
    extends the consumed prefix; here each row must extend its group's
    running extremum.

    One window pass (single shuffle on the group key, same shape and the
    same scale contract as sequence_violations: per-group ordering means
    per-group state, so GROUPS must be bounded — check a 10^12-row table's
    global ordering per partition/day group, never in one window). Adjacent
    semantics: lag(1) respecting NULLs — a NULL value breaks the chain (the
    pair around it is out of scope; NotNullRule owns missing values), which
    is also exactly DuckDB/ANSI lag's default, keeping the SQL oracle
    bit-identical."""
    from ..errors import KIND_ORDER

    if rule.when:
        df = df.where(F.expr(rule.when))
    w = Window.partitionBy(*rule.group_by).orderBy(
        rule.order_column, key_column
    )
    c = F.col(rule.column)
    prev = F.lag(rule.column).over(w)
    if rule.direction == "nondecreasing":
        regress = (c <= prev) if rule.strict else (c < prev)
    else:
        regress = (c >= prev) if rule.strict else (c > prev)
    fail = c.isNotNull() & prev.isNotNull() & regress
    word = "strictly " if rule.strict else ""
    expected = (
        f"{word}{rule.direction} {rule.column} by {rule.order_column} "
        f"within {','.join(rule.group_by)}"
    )
    return (
        df.select(
            F.col(key_column).cast("string").alias("_key"),
            c.cast("string").alias("_val"),
            prev.cast("string").alias("_prev"),
            fail.alias("_fail"),
        )
        .where(F.col("_fail"))
        .select(
            *violation_columns(
                run_id=run_id,
                rule_id=rule.id,
                image_id=F.col("_key"),
                column=rule.column,
                expected=expected,
                actual=F.concat(
                    F.lit("prev="), F.col("_prev"), F.lit(", got="), F.col("_val")
                ),
                kind=KIND_ORDER,
            )
        )
    )
