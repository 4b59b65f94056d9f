"""Smoke validation — deterministic keyed sampling with rate estimation.

At 10^12 rows a full validation pass is a cluster-scale commitment; before
making it you want a cheap, statistically honest preview: "roughly what
fraction of rows violates each rule?". The reference has no analog (it
validates one document at a time, validator.rs:86-93 collects every error);
this is a web-scale extension in the spirit of its fast-fail mode
(cmd.rs:368-398 stop-early) — answer "is this table obviously broken?"
without paying for certainty.

Design:

- **Deterministic keyed sample.** A row is in the sample iff the first 8
  hex chars of ``md5(key)`` are lexicographically below a threshold derived
  from the fraction. Properties that matter at scale:

  * *shuffle-free*: the predicate is a scan-stage filter — no sampling
    shuffle, no driver coordination, composes with partition pruning and
    the manifest/resume machinery unchanged;
  * *stable*: the same key is in the sample on every run, every resume,
    and every cluster size — estimates are reproducible and a re-run
    after a fix re-checks the same rows;
  * *key-coherent*: sampling BY KEY (not by row) keeps every row of a
    sampled key together, so key-scoped semantics survive — duplicate
    detection on the key column sees all copies of a sampled key, and
    per-key group counts are exact for sampled keys (a binomial sample
    of the key population, not a mangled per-row one);
  * *portable*: md5 hex is identical in Spark and DuckDB, so the sample —
    and therefore every estimate — is oracle-checkable end-to-end.

- **Everything downstream is the real engine.** The sample flows through
  the same ``ValidationRun`` (row rules, uniqueness, counts, refs, drift,
  pixel) — smoke mode is a frame filter plus an estimation layer, not a
  second code path that could disagree with the full run.

- **Wilson-bounded extrapolation.** Per rule: violations k among n sampled
  rows → point rate k/n with a Wilson score interval (well-behaved at
  k=0 and tiny n, unlike the normal approximation), and an estimated
  population total k / fraction. Emitted as ordinary metric rows so sinks,
  CLI, and the results table need no new schema.

Semantics note (documented, not hidden): aggregate rules evaluate over the
sample — a ``CountRule(min=100)`` bounds SAMPLED group sizes, and a
``universe`` check reports universe keys absent from the sample. Smoke
mode is for rate estimation of row-shaped violations; treat aggregate-rule
output as within-sample diagnostics.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import metrics_frame

#: hex prefix length used for the threshold compare; 8 chars = 32 bits of
#: md5 → fraction resolution of 2^-32, plenty below any useful smoke rate
_PREFIX = 8

#: rule_id carried by run-level sampling metadata metric rows
SMOKE_RULE_ID = "__smoke__"


def sample_threshold(fraction: float, prefix: int = _PREFIX) -> str:
    """Lexicographic hex threshold for ``sample_predicate`` — rows whose
    md5-prefix sorts strictly below it are in the sample. Exposed so oracle
    SQL can embed the identical literal."""
    if not (0.0 < fraction <= 1.0):
        raise ValueError(f"sample fraction must be in (0, 1], got {fraction}")
    return format(int(fraction * (16 ** prefix)), f"0{prefix}x")


def sample_predicate(key: str | Column, fraction: float) -> Column:
    """Deterministic keyed-sample membership: md5(key) hex prefix below the
    fraction threshold. Fixed-length lowercase hex compares lexicographically
    = numerically, and md5 hex is byte-identical in Spark and DuckDB, so the
    same predicate (and thus the same sample) is expressible in oracle SQL:
    ``substr(md5(CAST(key AS VARCHAR)), 1, 8) < '<threshold>'``."""
    if fraction >= 1.0:
        sample_threshold(fraction)  # still validates the range
        return F.lit(True)
    c = F.col(key) if isinstance(key, str) else key
    prefix = F.substring(F.md5(c.cast("string")), 1, _PREFIX)
    return prefix < F.lit(sample_threshold(fraction))


def wilson_interval(k: int, n: int, z: float = 1.96) -> tuple[float, float]:
    """Wilson score interval for a binomial proportion k/n — the standard
    choice when k may be 0 or n small (the normal approximation collapses to
    a zero-width interval at k=0; Wilson stays honest). Returns (lo, hi),
    both in [0, 1]; (0, 1) when n == 0 (no evidence → no confidence)."""
    if n <= 0:
        return (0.0, 1.0)
    p = k / n
    z2 = z * z
    denom = 1.0 + z2 / n
    center = (p + z2 / (2 * n)) / denom
    half = (z / denom) * math.sqrt(p * (1 - p) / n + z2 / (4 * n * n))
    return (max(0.0, center - half), min(1.0, center + half))


def smoke_metrics(
    spark: SparkSession,
    per_rule_violations: dict[str, int],
    sample_rows: int,
    fraction: float,
    run_id: str,
    rule_ids: tuple[str, ...] = (),
    z: float = 1.96,
) -> DataFrame:
    """Estimation layer as ordinary metric rows (one small driver-built
    frame — #rules × 5 + 2 rows, never data-sized).

    Per rule: ``smoke_violations`` (k in sample), ``smoke_rate`` (k/n),
    ``smoke_rate_lo``/``smoke_rate_hi`` (Wilson z≈95%), ``smoke_est_total``
    (k / fraction — the population extrapolation). Rules listed in
    ``rule_ids`` with no violations emit k=0 rows (a clean rule's 0-rate
    CI is information, not absence). Run-level rows under rule_id
    ``__smoke__``: ``sample_fraction``, ``sample_rows``."""
    rows: list[tuple] = [
        (run_id, None, SMOKE_RULE_ID, "sample_fraction", float(fraction), None),
        (run_id, None, SMOKE_RULE_ID, "sample_rows", float(sample_rows), None),
    ]
    all_rules = dict.fromkeys((*rule_ids, *per_rule_violations))
    for rid in all_rules:
        k = int(per_rule_violations.get(rid, 0))
        rate = (k / sample_rows) if sample_rows else 0.0
        lo, hi = wilson_interval(k, sample_rows, z)
        rows += [
            (run_id, None, rid, "smoke_violations", float(k), None),
            (run_id, None, rid, "smoke_rate", rate, None),
            (run_id, None, rid, "smoke_rate_lo", lo, None),
            (run_id, None, rid, "smoke_rate_hi", hi, None),
            (run_id, None, rid, "smoke_est_total", k / fraction, None),
        ]
    return metrics_frame(spark, rows)
