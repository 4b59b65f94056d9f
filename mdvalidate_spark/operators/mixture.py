"""Corpus-mix validation: observed per-group share vs a declared target mix.

Training pipelines curate a DATA MIX — "40% English, 20% code, 5% of the
boilerplate-heavy crawl" — and the mix silently rotting (an ingest feed
dying, a domain exploding) is a pipeline failure no per-row rule sees.
``sample_weighted`` (operators/sampling.py) ENFORCES a mix at sampling
time; this module VALIDATES one after the fact: per group, the observed
share of the corpus (row-weighted, or token/char-weighted via
``weight_col`` — the unit LLM mixes are actually specified in) against a
curated target share, with an absolute tolerance.

Contract edges are first-class, both directions loud:
  - a group OBSERVED but not in the targets gets target 0 (an unplanned
    domain leaking in — its whole share is deviation);
  - a group TARGETED but absent observes 0 (a dead feed — the whole
    target is deviation);
  - NULL group values participate under the NULL key, never dropped.

Scale shape: ONE groupBy(group) aggregation (map-side combined, shuffle
bounded by #groups), collected under a loud ``max_groups`` refusal (a mix
is a curated dimension, not data — same posture as sample_weighted's
rates), O(groups) driver arithmetic. Shares round to 6dp before the
tolerance compare so replayed runs and the DuckDB oracle agree at the
boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..errors import SchemaError
from ..schemas import local_frame
from .util import round6 as _r6

MAX_MIX_GROUPS = 100_000


def _norm_key(k):
    # Observed groups arrive via Spark cast-to-string; target keys must
    # render identically (Spark: booleans are 'true'/'false', not 'True').
    if k is None:
        return None
    if isinstance(k, bool):
        return "true" if k else "false"
    return str(k)


def _target_map(targets, max_groups: int) -> dict:
    if isinstance(targets, DataFrame):
        cols = targets.columns
        if "target" not in cols or len(cols) != 2:
            raise SchemaError(
                "mixture targets frame needs exactly (group column, "
                f"'target') — got {cols}"
            )
        gcol = next(c for c in cols if c != "target")
        rows = (
            targets.select(
                F.col(gcol).cast("string").alias("_g"),
                F.col("target").cast("double").alias("_t"),
            )
            .limit(max_groups + 1)
            .collect()
        )
        if len(rows) > max_groups:
            raise SchemaError(
                f"mixture targets: more than {max_groups} rows — a mix is "
                "a curated dimension, not data"
            )
        tmap: dict = {}
        for r in rows:
            if r["_t"] is None:
                raise SchemaError(
                    f"mixture target for group {r['_g']!r} is NULL — every "
                    "declared group needs an explicit share"
                )
            if r["_g"] in tmap:
                raise SchemaError(
                    f"mixture targets frame declares group {r['_g']!r} more "
                    "than once — duplicate rows make the declared mix "
                    "ambiguous"
                )
            tmap[r["_g"]] = float(r["_t"])
    else:
        raw = dict(targets)
        tmap = {}
        for k, v in raw.items():
            if v is None:
                raise SchemaError(
                    f"mixture target for group {k!r} is None — every "
                    "declared group needs an explicit share"
                )
            nk = _norm_key(k)
            if nk in tmap:
                raise SchemaError(
                    f"mixture targets declare group {nk!r} more than once "
                    "after string normalization — keys must be distinct as "
                    "strings (observed groups compare as strings)"
                )
            tmap[nk] = float(v)
    if not tmap:
        raise SchemaError("mixture targets: empty — the check asserts nothing")
    for k, v in tmap.items():
        if not (0.0 <= v <= 1.0):
            raise SchemaError(
                f"mixture target for group {k!r} must be in [0, 1], got {v}"
            )
    total = sum(tmap.values())
    if abs(total - 1.0) > 1e-6:
        raise SchemaError(
            f"mixture targets must sum to 1 (got {total:.6f}) — a partial "
            "mix makes every share ambiguous; list every planned group "
            "(unplanned groups are implicitly targeted at 0)"
        )
    return tmap


def mixture_report(
    df: DataFrame,
    group_col: str,
    targets,
    *,
    weight_col: str | None = None,
    tol: float = 0.02,
    max_groups: int = MAX_MIX_GROUPS,
) -> DataFrame:
    """One row per group in (targets ∪ observed): observed weight and
    share, target share, absolute deviation, and the verdict at ``tol``.

    ``targets``: dict {group_value: share} or a 2-column DataFrame
    (group column + ``target``); shares must sum to 1 (loud refusal —
    unplanned groups are implicitly targeted at 0, so a partial list
    would silently shrink every other share). ``weight_col`` switches the
    share unit from rows to sum(weight_col) — token or char counts, the
    unit a training mix is specified in. NULL weights count 0 (visible in
    the group's weight, never a NULL share)."""
    if not (0.0 <= tol < 1.0):
        raise SchemaError(
            f"mixture tol must be in [0, 1) (a share deviation), got {tol} "
            "— negative tol violates every group, tol >= 1 asserts nothing"
        )
    tmap = _target_map(targets, max_groups)
    w = (
        F.count(F.lit(1)).cast("double")
        if weight_col is None
        else F.coalesce(F.sum(F.col(weight_col).cast("double")), F.lit(0.0))
    )
    rows = (
        df.groupBy(F.col(group_col).cast("string").alias("_g"))
        .agg(w.alias("_w"))
        .limit(max_groups + 1)
        .collect()
    )
    if len(rows) > max_groups:
        raise SchemaError(
            f"mixture_report: {group_col!r} has more than {max_groups} "
            "groups — a mix column is a curated domain, not a key; pick a "
            "categorical column or raise max_groups deliberately"
        )
    obs = {r["_g"]: float(r["_w"]) for r in rows}
    total = sum(obs.values())
    out = []
    for g in sorted(set(tmap) | set(obs), key=lambda x: (x is None, x or "")):
        weight = obs.get(g, 0.0)
        share = _r6(weight / total) if total > 0 else 0.0
        target = _r6(tmap.get(g, 0.0))
        # dev from the ROUNDED shares, like the oracle — the boundary
        # compare must see exactly the numbers the report prints.
        dev = _r6(abs(share - target))
        out.append((g, weight, share, target, dev, dev <= tol))
    spark = df.sparkSession
    return local_frame(
        spark,
        "group_value string, observed_weight double, observed_share double, "
        "target_share double, abs_dev double, within_tol boolean",
        out,
    )


def mixture_violations(
    df: DataFrame,
    group_col: str,
    targets,
    *,
    weight_col: str | None = None,
    tol: float = 0.02,
    max_groups: int = MAX_MIX_GROUPS,
    rule_id: str = "mixture",
) -> DataFrame:
    """Violation-style rows for every group outside tolerance.

    Group-level, NOT engine-shape: a mix deviation is a corpus property,
    so rows carry (group_value, rule_id, column, expected, actual, kind)
    with no run/partition/image identity — do not union with the engine's
    per-row violation frames (those lead with run_id/partition_id/image_id)."""
    rep = mixture_report(
        df, group_col, targets,
        weight_col=weight_col, tol=tol, max_groups=max_groups,
    )
    unit = "rows" if weight_col is None else weight_col
    return rep.where(~F.col("within_tol")).select(
        F.col("group_value"),
        F.lit(rule_id).alias("rule_id"),
        F.lit(group_col).alias("column"),
        F.concat(
            F.lit("share within "),
            F.format_string("%.6f", F.lit(float(tol))),
            F.lit(" of target "),
            F.format_string("%.6f", F.col("target_share")),
        ).alias("expected"),
        F.concat(
            F.format_string("%.6f", F.col("observed_share")),
            F.lit(f" of {unit}"),
        ).alias("actual"),
        F.lit("mixture").alias("kind"),
    )
