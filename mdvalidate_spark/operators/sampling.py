"""Deterministic sampling: violation caps + training-data extraction.

Two families share this module:

1. Bounded violation output (``cap_violations`` / ``violation_count_
   metrics``) — the validation engine's own sample cap, below.
2. Deterministic DATA sampling (``sample_hash`` / ``holdout_split`` /
   ``sample_stratified``) — the extraction ops a training-data pipeline
   runs right after validation: carve an eval holdout, thin a domain to a
   quota, draw a fixed-size per-stratum audit sample. All are HASH-derived,
   never ``rand()``: membership is a pure function of the row's key (+ an
   explicit salt), so samples are reproducible run-over-run, identical at
   any parallelism (the north rule's two-cluster-size criterion), and
   STABLE UNDER APPEND — yesterday's holdout rows stay held out when the
   table grows, which ``df.sample`` cannot promise. The k smallest hashes
   of a stratum are a uniform random sample without replacement, so
   hash-rank sampling is reservoir sampling with a deterministic reservoir.

Scale shape: ``sample_hash``/``holdout_split`` are MAP-ONLY — a filter /
projected column, no shuffle, fully codegen'd. ``sample_stratified`` pays
one tiny counts aggregation, broadcasts the per-stratum thresholds back,
pre-filters to ~``oversample``·k survivors per stratum BEFORE the rank
window, and verifies the pre-filter kept enough (falling back, loudly
bounded, for any deficit stratum) — so the window never sorts a hot
stratum's full population, the failure mode of the naive
row_number-over-everything plan at 10^12 rows.

Portability: ``method="md5"`` hashes are byte-identical in DuckDB (the
oracle re-derives membership with the same 15-hex-digit threshold
compare); ``method="xxhash64"`` stays on Spark's cheapest JVM hash for
production corpora. Multi-column keys join with ``concat_ws('|')`` —
NULL components are skipped by BOTH engines (documented collision:
('a', NULL) keys like ('a',)).

The reference materializes EVERY violation (validator.rs:86-93 collects all
errors into the report) — correct for one document, fatal at 10^12 rows
where one pathological rule (say, every caption fails a regex) makes the
violations sink itself web-scale: the results table would receive up to one
row per input row. The engine keeps the reference's EXACT per-rule /
per-partition counts — computed by an aggregation-only pass whose map-side
partials never materialize violation rows anywhere (``violation_count_
metrics``) — and bounds the materialized violation ROWS to a deterministic
sample per (rule_id, partition_id) (``cap_violations``).

Scale shape: the cap uses the same two-phase local-then-global rank as the
similarity top-k (similarity.py:23-90). Phase 1 ranks within
(rule, partition, input split): the shuffle key includes
``spark_partition_id()``, so a hot rule's rows spread over every input
split instead of landing on one reducer, and each group is bounded by its
split's size. Phase 2 ranks only the survivors — at most cap × n_splits
rows per (rule, partition) — to the final cap. Order is total
(image_id, column, kind), so the sample is reproducible run-over-run and
resume-stable: re-validating a partition regenerates the identical rows,
keeping the checkpoint's dynamic-partition overwrite idempotent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..schemas import local_frame, metric_columns

#: total order over violation rows within one (rule_id, partition_id) group —
#: (image_id, column, kind) is unique per rule for every row-level kind (a
#: rule checks one column and emits at most one row per input row; composite
#: rules emit only the first failing segment).
_ORDER = ("image_id", "column", "kind")

VIOLATIONS_TOTAL = "violations_total"


def cap_violations(viol: DataFrame, cap: int) -> DataFrame:
    """At most ``cap`` violation rows per (rule_id, partition_id),
    deterministically chosen (lowest by image_id, column, kind)."""
    order = [F.col(c).asc_nulls_first() for c in _ORDER]
    w_local = Window.partitionBy("rule_id", "partition_id", "_s").orderBy(*order)
    local = (
        viol.withColumn("_s", F.spark_partition_id())
        .withColumn("_r", F.row_number().over(w_local))
        .where(F.col("_r") <= cap)
        .drop("_r")
    )
    w_global = Window.partitionBy("rule_id", "partition_id").orderBy(*order)
    return (
        local.withColumn("_r", F.row_number().over(w_global))
        .where(F.col("_r") <= cap)
        .drop("_r", "_s")
    )


#: 15 lowercase hex digits = 60 bits: fits a signed long with headroom, and
#: fixed-width lowercase hex compares identically as a STRING (Spark, DuckDB)
#: and as the converted integer — the oracle uses the string form.
_HEX_DIGITS = 15
_HEX_SPACE = 16**_HEX_DIGITS  # 2^60


def _key_str(key_cols) -> F.Column:
    return F.concat_ws("|", *[F.col(c).cast("string") for c in key_cols])


def _hash_cols(key_cols, salt: str, method: str):
    """(order_col, unit_col): a portable total-order column and the same
    hash normalized to [0, 1) for threshold compares. md5 → 15-hex-digit
    prefix (string order == numeric order); xxhash64 → pmod into 2^60."""
    if method not in ("md5", "xxhash64"):
        from ..errors import SchemaError

        raise SchemaError(
            f"unknown sampling hash method {method!r}; use 'md5' (portable "
            "to the DuckDB oracle) or 'xxhash64' (fastest JVM path)"
        )
    k = _key_str(key_cols)
    salted = F.concat_ws("|", k, F.lit(salt)) if salt else k
    if method == "md5":
        order = F.substring(F.md5(salted), 1, _HEX_DIGITS)
        unit = F.conv(order, 16, 10).cast("long") / F.lit(float(_HEX_SPACE))
    else:
        order = F.pmod(F.xxhash64(salted), F.lit(_HEX_SPACE))
        unit = order / F.lit(float(_HEX_SPACE))
    return order, unit


def hash_threshold(fraction: float, method: str = "md5"):
    """The exact membership cutoff for ``fraction``: a 15-digit lowercase
    hex string (md5) or the integer ``round(fraction · 2^60)`` (xxhash64).
    Exposed so an external engine can reproduce membership EXACTLY — the
    DuckDB oracle compares against the same literal, with no floating
    division anywhere near the boundary.

    fraction≈1.0 rounds to 16^15, which as hex would be 16 chars and
    lexicographically SMALLER than most 15-char hashes ('1abc…' > '10…0'),
    silently excluding ~15/16 of rows — so the md5 form caps at 'g', a
    single char every hex string undercuts, in every engine that compares
    strings lexicographically."""
    t = int(round(fraction * _HEX_SPACE))
    if method != "md5":
        return t
    return "g" if t >= _HEX_SPACE else format(t, f"0{_HEX_DIGITS}x")


def _member_pred(key_cols, salt: str, method: str, fraction: float):
    order, _ = _hash_cols(key_cols, salt, method)
    # string < string for md5 (fixed-width lowercase hex: lexicographic ==
    # numeric; fraction 1.0 yields the 'g' cutoff every hex hash
    # undercuts), long < long for xxhash64 — exact in both engines
    return order < F.lit(hash_threshold(fraction, method))


def sample_hash(
    df: DataFrame,
    key_cols,
    fraction: float,
    *,
    salt: str = "",
    method: str = "xxhash64",
) -> DataFrame:
    """Deterministic Bernoulli(``fraction``) sample keyed on ``key_cols``:
    keep rows whose normalized key hash falls below ``fraction``. Map-only
    (no shuffle, codegen'd); membership is append-stable and identical at
    every parallelism. Change ``salt`` to draw an independent sample."""
    if not 0.0 <= fraction <= 1.0:
        from ..errors import SchemaError

        raise SchemaError(f"sample fraction must be in [0, 1], got {fraction}")
    return df.where(_member_pred(key_cols, salt, method, fraction))


def holdout_split(
    df: DataFrame,
    key_cols,
    holdout_fraction: float,
    *,
    salt: str = "",
    method: str = "xxhash64",
    flag_col: str = "is_holdout",
) -> DataFrame:
    """Train/eval split as a projected boolean ``flag_col`` — the same
    hash-threshold membership as ``sample_hash``, kept as a column so ONE
    scan feeds both sinks. Append-stable: new rows never flip old rows'
    split, the property that keeps a frozen eval set uncontaminated as the
    corpus grows (pair with operators/decontam.py for n-gram overlap)."""
    if not 0.0 <= holdout_fraction <= 1.0:
        from ..errors import SchemaError

        raise SchemaError(
            f"holdout fraction must be in [0, 1], got {holdout_fraction}"
        )
    return df.withColumn(
        flag_col, _member_pred(key_cols, salt, method, holdout_fraction)
    )


def sample_stratified(
    df: DataFrame,
    strata_cols,
    k: int,
    *,
    key_cols,
    salt: str = "",
    method: str = "xxhash64",
    oversample: float = 8.0,
    max_strata: int = 100_000,
    rank_col: str = "sample_rank",
) -> DataFrame:
    """Exactly ``min(k, |stratum|)`` rows per stratum — the k smallest key
    hashes, i.e. a deterministic uniform sample without replacement per
    group (audit samples, per-domain quotas, balanced eval slices).

    Plan: one counts aggregation over ``strata_cols`` (tiny result,
    broadcast back) → per-stratum pre-filter at ``oversample``·k/n →
    row_number window over the ~oversample·k survivors per stratum. The
    window never sees a hot stratum's full population; strata smaller than
    oversample·k skip the filter entirely (threshold 1). The pre-filter
    cannot change the result — the k smallest hashes all sit below any
    threshold that keeps ≥ k rows — and a deficit stratum (possible only
    for adversarial oversample settings) is detected by a survivors count
    and recomputed unfiltered, so the output is EXACT, not probabilistic.

    Refuses > ``max_strata`` strata: the counts frame stops being a
    broadcastable dimension and per-stratum quotas stop making sense —
    use ``sample_hash`` at a per-stratum rate instead.

    A NULL stratum value is a stratum like any other (the rows a validator
    most wants an audit sample of): all internal joins run on an injective
    length-prefixed encoding of the strata tuple, never on null-unsafe
    column equality that would silently drop NULL-stratum rows."""
    if isinstance(strata_cols, str):
        strata_cols = (strata_cols,)
    strata_cols = list(strata_cols)
    if k <= 0:
        from ..errors import SchemaError

        raise SchemaError(f"per-stratum k must be positive, got {k}")
    if oversample < 1.0:
        from ..errors import SchemaError

        raise SchemaError(f"oversample must be >= 1, got {oversample}")
    order, unit = _hash_cols(key_cols, salt, method)
    # injective non-null stratum key: NULL → a bare marker, value →
    # length-prefixed string, so ('a\x1f', 'b') never collides with
    # ('a', '\x1fb') and NULL strata survive every equality join below
    sk = F.concat_ws(
        "\x1f",
        *[
            F.when(F.col(c).isNull(), F.lit("\x00")).otherwise(
                F.concat(
                    F.length(F.col(c).cast("string")).cast("string"),
                    F.lit(":"),
                    F.col(c).cast("string"),
                )
            )
            for c in strata_cols
        ],
    )
    hashed = df.withColumn("__h", order).withColumn("__u", unit).withColumn(
        "__sk", sk
    )

    counts = hashed.groupBy("__sk").agg(F.count(F.lit(1)).alias("__n"))
    n_strata = counts.limit(max_strata + 1).count()
    if n_strata > max_strata:
        from ..errors import SchemaError

        raise SchemaError(
            f"sample_stratified: more than {max_strata} strata — quotas on "
            "an unbounded key space degenerate; use sample_hash with a rate"
        )
    thresholds = counts.withColumn(
        "__t",
        F.least(F.lit(1.0), F.lit(float(oversample) * k) / F.col("__n")),
    )
    joined = hashed.join(F.broadcast(thresholds), "__sk")
    pre = joined.where(F.col("__u") < F.col("__t"))

    # exactness guard: any stratum whose pre-filter kept fewer than
    # min(k, n) rows is recomputed without the filter (bounded: deficits
    # are a strata-cardinality-sized dimension, broadcast back)
    surv = pre.groupBy("__sk").agg(F.count(F.lit(1)).alias("__m"))
    # no `__t < 1.0` conjunct: even a nominal no-op threshold can drop a
    # row whose 60-bit unit hash rounds to exactly 1.0 in double, so any
    # stratum short of min(k, n) survivors is recomputed unfiltered
    deficits = (
        thresholds.join(surv, "__sk", "left")
        .where(
            F.coalesce(F.col("__m"), F.lit(0)) < F.least(F.lit(k), F.col("__n"))
        )
        .select("__sk")
    )
    if deficits.limit(1).count() > 0:
        pre = pre.join(F.broadcast(deficits), "__sk", "left_anti").unionByName(
            joined.join(F.broadcast(deficits), "__sk", "left_semi")
        )

    w = Window.partitionBy("__sk").orderBy(
        F.col("__h").asc(), _key_str(key_cols).asc()
    )
    return (
        pre.withColumn(rank_col, F.row_number().over(w))
        .where(F.col(rank_col) <= k)
        .drop("__h", "__u", "__t", "__n", "__sk")
    )


def sample_weighted(
    df: DataFrame,
    group_cols,
    rates,
    *,
    key_cols,
    salt: str = "",
    method: str = "xxhash64",
    default_fraction: float = 0.0,
    max_groups: int = 100_000,
) -> DataFrame:
    """Per-group hash sampling at group-specific rates — the domain-mixing
    step of a training pipeline (keep 100% of books, 20% of web, 5% of a
    boilerplate-heavy crawl). Membership per row is the SAME hash-threshold
    predicate as ``sample_hash``, so it inherits append-stability and
    parallelism-invariance; only the cutoff varies by group.

    ``rates``: a dict {group_value(or tuple): fraction} or a small DataFrame
    with ``group_cols`` + a ``fraction`` column (a mixing-weights dimension).
    Either way the rates are collected driver-side (refused above
    ``max_groups`` — mixing weights are a curated dimension, not data), the
    EXACT integer/hex cutoff per group is computed in Python
    (``hash_threshold``), and the tiny threshold table is broadcast back —
    the scan stays map-only, one broadcast hash join, no shuffle. Groups
    without a rate (including NULL group values) fall to
    ``default_fraction`` (default 0: unlisted domains are excluded, loudly
    visible in per-domain output counts)."""
    from ..errors import SchemaError

    if isinstance(group_cols, str):
        group_cols = (group_cols,)
    group_cols = list(group_cols)
    if isinstance(rates, DataFrame):
        rows = rates.limit(max_groups + 1).collect()
        if len(rows) > max_groups:
            raise SchemaError(
                f"sample_weighted: more than {max_groups} rate groups — "
                "mixing weights must be a bounded curated dimension"
            )
        for r in rows:
            if r["fraction"] is None:
                raise SchemaError(
                    "sample_weighted: NULL fraction for group "
                    f"{tuple(r[c] for c in group_cols)!r} — rates must be "
                    "explicit (use default_fraction for unlisted groups)"
                )
        pairs = [
            (tuple(r[c] for c in group_cols), float(r["fraction"])) for r in rows
        ]
    else:
        for k, v in rates.items():
            if v is None:
                raise SchemaError(
                    f"sample_weighted: NULL fraction for group {k!r} — "
                    "rates must be explicit (use default_fraction for "
                    "unlisted groups)"
                )
        pairs = [
            ((k if isinstance(k, tuple) else (k,)), float(v))
            for k, v in rates.items()
        ]
        if len(pairs) > max_groups:
            raise SchemaError(
                f"sample_weighted: more than {max_groups} rate groups — "
                "mixing weights must be a bounded curated dimension"
            )
    for k, f in pairs:
        if not 0.0 <= f <= 1.0:
            raise SchemaError(
                f"sample rate for group {k!r} must be in [0, 1], got {f}"
            )
    if not 0.0 <= default_fraction <= 1.0:
        raise SchemaError(
            f"default_fraction must be in [0, 1], got {default_fraction}"
        )

    def _spark_str(v):
        # match Spark's cast-to-string rendering, not Python's — str(True)
        # is 'True' but Spark renders 'true', which would silently detach
        # every boolean group from its rate
        if isinstance(v, bool):
            return "true" if v else "false"
        return None if v is None else str(v)

    keys = [tuple(_spark_str(v) for v in k) for k, _ in pairs]
    if len(set(keys)) != len(keys):
        dupes = sorted({k for k in keys if keys.count(k) > 1})
        raise SchemaError(
            f"sample_weighted: duplicate rate rows for group(s) {dupes} — "
            "each row would match both thresholds and emit sampled rows "
            "twice; dedupe the rates dimension"
        )

    gnames = [f"__g{i}" for i in range(len(group_cols))]
    ttype = "string" if method == "md5" else "long"
    thr_schema = ", ".join(f"{g} string" for g in gnames) + f", __thr {ttype}"
    thr_rows = [
        k + (hash_threshold(f, method),)
        for k, (_, f) in zip(keys, pairs)
    ]
    thr = local_frame(df.sparkSession, thr_schema, thr_rows)
    # group keys join as strings so int32/int64/decimal width never splits a
    # group from its rate; NULL group values never match (→ default)
    cond = None
    for c, g in zip(group_cols, gnames):
        eq = F.col(c).cast("string") == thr[g]
        cond = eq if cond is None else (cond & eq)
    order, _ = _hash_cols(key_cols, salt, method)
    joined = df.join(F.broadcast(thr), cond, "left")
    pred = order < F.coalesce(
        F.col("__thr"), F.lit(hash_threshold(default_fraction, method))
    )
    return joined.where(pred).drop("__thr", *gnames)


def violation_count_metrics(viol: DataFrame, run_id: str) -> DataFrame:
    """Exact per-(rule, partition) violation totals as metrics rows
    (metric='violations_total') — the information a row cap would otherwise
    lose. Aggregation-only: map-side count partials, one tiny shuffle, no
    violation row ever materialized to a sink."""
    return (
        viol.groupBy("partition_id", "rule_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            *metric_columns(
                run_id=run_id,
                partition_id=F.col("partition_id").cast("int"),
                rule_id=F.col("rule_id"),
                metric=VIOLATIONS_TOTAL,
                value=F.col("n").cast("double"),
            )
        )
    )
