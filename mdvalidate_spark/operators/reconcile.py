"""Snapshot reconciliation: order-invariant bucket fingerprints.

Answers "did the table change, and WHERE" between two snapshots of the
same logical table (yesterday's ingest vs today's re-run, a pre- vs
post-migration copy, primary vs replica) WITHOUT ever joining the two
10^12-row tables. Each side costs ONE map-only scan reduced to
``n_buckets`` fingerprint rows — exact decimal sums of portable 60-bit
row hashes, order-invariant and merge-friendly — the comparison is an
``n_buckets``-row join, and the row-level drill-down then scans ONLY
the buckets whose fingerprints disagree. A naive full-outer-join
reconciliation of two 100 TB snapshots shuffles 200 TB; this design
shuffles ``n_buckets`` rows unless something actually changed, and
then only the changed slice.

Hash design: row hash = first 15 hex digits (60 bits) of md5 over a
NULL-safe canonical encoding — the portable convention sampling.py
established (fixed-width lowercase hex, identical in Spark, DuckDB and
Python). The bucket id is key-hash mod ``n_buckets``, derived from the
KEY columns only, so a VALUE change never moves a row across buckets
and the diff localizes. Per bucket the fingerprint keeps
``(n_rows, key_sum, row_sum)`` as exact decimal(38,0): a sum of 10^12
60-bit terms stays < 10^31, inside decimal(38,0)'s exact range on both
engines — PROVIDED the terms are decimal(38,0) BEFORE the sum (Spark
widens a sum intermediate only by 10 digits of precision, so summing
decimal(20,0) terms overflows to NULL near 10^30; `_h60` therefore
emits decimal(38,0) terms; DuckDB sums the same BIGINT terms in
int128). A corrupted
value flips ``row_sum`` but not ``key_sum`` (``values_changed``); an
added/removed/re-keyed row flips both (``membership_changed``);
matching sums miss a random corruption with probability ~2^-60 per
bucket (adversarial collisions are out of scope — md5 here is a
partition checksum, not an integrity MAC).

Reference parity: the reference re-validates the full document tree on
every run (reference src/validator.rs: EOF triggers a full
revalidate); at 10^12 rows "revalidate everything because something
may have changed" is the one strategy that cannot work, and this
family is the scale-correct replacement — prove which slices changed
for the price of two scans, then re-validate only those.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import local_frame

#: 15 lowercase hex digits = 60 bits — sampling.py's portable-hash
#: convention: fits a signed long, converts identically in Spark
#: (conv), DuckDB (CAST('0x…' AS BIGINT)) and Python (int(s, 16)).
_HEX_DIGITS = 15

#: fingerprint frames and the drill-down bucket list are driver-sized
#: objects (collected lists, IN-literals, violation rows) — a bucket
#: count above this is a spec mistake, refused loudly.
MAX_BUCKETS = 1 << 16

#: changed-bucket predicates switch from an IN-literal (pushes into the
#: parquet scan) to a broadcast semi-join above this many buckets — the
#: IVF literal-budget precedent (similarity.py _LITERAL_BUDGET).
_IN_LITERAL_BUDGET = 256

FINGERPRINT_DDL = (
    "bucket int, n_rows bigint, key_sum decimal(38,0), "
    "row_sum decimal(38,0)"
)

PARTITION_FINGERPRINT_DDL = (
    "partition_id int, n_rows bigint, key_sum decimal(38,0), "
    "row_sum decimal(38,0)"
)


def _enc(columns) -> F.Column:
    """NULL-safe canonical row encoding: each column cast to string with
    NULL mapped to an explicit sentinel, parts joined on \\x01 so distinct
    tuples can never collapse (the agg_rules._key_expr convention)."""
    parts = [
        F.coalesce(F.col(c).cast("string"), F.lit("\x00NULL"))
        for c in columns
    ]
    return F.concat_ws("\x01", *parts)


def _h60(col: F.Column) -> F.Column:
    """Portable 60-bit hash of a string column as decimal(38,0).

    decimal(38,0) — not the minimal decimal(20,0) — because the terms are
    SUMMED: Spark's sum over decimal(20,0) widens the intermediate only to
    decimal(30,0) (precision+10), and at the module's own envelope (10^12
    rows/bucket × ~1.15e18 worst-case term ≈ 1.15e30) that intermediate
    overflows to NULL under non-ANSI mode — which fingerprint_diff's
    coalesce-to-0 would then silently classify as 'match'. Summing
    decimal(38,0) keeps the exact-integer headroom at ~1e38, eight orders
    of magnitude above the envelope."""
    return F.conv(F.substring(F.md5(col), 1, _HEX_DIGITS), 16, 10).cast(
        "decimal(38,0)"
    )


def _check_cols(df: DataFrame, key_columns, value_columns):
    from ..errors import SchemaError

    keys = list(key_columns)
    if not keys:
        raise SchemaError("reconcile: key_columns must be non-empty")
    have = set(df.columns)
    missing = [c for c in keys if c not in have]
    if missing:
        raise SchemaError(f"reconcile: unknown key column(s) {missing}")
    if value_columns is None:
        # deterministic default independent of physical column order —
        # two snapshots written by different jobs may order columns
        # differently without the CONTENT differing
        vals = sorted(c for c in df.columns if c not in keys)
    else:
        vals = list(value_columns)
        missing = [c for c in vals if c not in have]
        if missing:
            raise SchemaError(f"reconcile: unknown value column(s) {missing}")
        overlap = [c for c in vals if c in keys]
        if overlap:
            raise SchemaError(
                f"reconcile: column(s) {overlap} are both key and value"
            )
    return keys, vals


def _bucket_expr(keys, n_buckets: int) -> F.Column:
    return F.pmod(_h60(_enc(keys)), F.lit(n_buckets)).cast("int")


def table_fingerprint(
    df: DataFrame,
    key_columns,
    value_columns=None,
    n_buckets: int = 1024,
) -> DataFrame:
    """ONE map-only scan → ``n_buckets`` rows of ``FINGERPRINT_DDL``.

    ``value_columns=None`` fingerprints every non-key column (sorted by
    name, so physical column order never changes the fingerprint). The
    output is mergeable by plain summation over ``bucket`` — partials
    from independent scans (or micro-batches) combine exactly, the same
    contract as the stats/Benford/concentration partials families.
    """
    from ..errors import SchemaError

    if not (1 <= n_buckets <= MAX_BUCKETS):
        raise SchemaError(
            f"reconcile: n_buckets must be in [1, {MAX_BUCKETS}], got "
            f"{n_buckets} — fingerprints are driver-sized frames"
        )
    keys, vals = _check_cols(df, key_columns, value_columns)
    kh = _h60(_enc(keys))
    rh = _h60(_enc(keys + vals))
    return (
        df.select(
            F.pmod(kh, F.lit(n_buckets)).cast("int").alias("bucket"),
            kh.alias("_kh"),
            rh.alias("_rh"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("_kh").cast("decimal(38,0)").alias("key_sum"),
            F.sum("_rh").cast("decimal(38,0)").alias("row_sum"),
        )
    )


def partition_fingerprint(
    df: DataFrame,
    key_columns,
    value_columns=None,
    partition_column: str = "partition_id",
) -> DataFrame:
    """Per-PARTITION content fingerprint: ``PARTITION_FINGERPRINT_DDL``,
    one row per logical partition — the unit the run manifest tracks.

    Same hash algebra as :func:`table_fingerprint`, but grouped by the
    engine's partition id instead of a key-hash bucket, so the result
    aligns 1:1 with manifest entries: a later run diffs this against a
    persisted snapshot and re-validates ONLY the partitions whose
    content moved (run.py fingerprint_gate). One map-only scan reduced
    to #partitions rows. ``partition_column`` is excluded from the
    hashed value set by default (it is positional bookkeeping; a row
    that MOVES partition changes both partitions' ``n_rows``/``key_sum``
    anyway)."""
    from ..errors import SchemaError

    if partition_column not in df.columns:
        raise SchemaError(
            f"reconcile: partition column {partition_column!r} not in frame "
            "— attach it first (run.py with_partition_id)"
        )
    keys, vals = _check_cols(df, key_columns, value_columns)
    if value_columns is None:
        vals = [c for c in vals if c != partition_column]
    elif partition_column in vals:
        raise SchemaError(
            f"reconcile: partition column {partition_column!r} cannot be a "
            "fingerprint value column"
        )
    kh = _h60(_enc(keys))
    rh = _h60(_enc(keys + vals))
    return (
        df.select(
            F.col(partition_column).cast("int").alias("partition_id"),
            kh.alias("_kh"),
            rh.alias("_rh"),
        )
        .groupBy("partition_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("_kh").cast("decimal(38,0)").alias("key_sum"),
            F.sum("_rh").cast("decimal(38,0)").alias("row_sum"),
        )
    )


def fingerprint_diff(
    old_fp: DataFrame, new_fp: DataFrame, keep_matches: bool = False
) -> DataFrame:
    """Compare two fingerprint frames: one row per bucket present on
    either side, classified as ``values_changed`` (same rows by key,
    different content — in-place corruption/update), or
    ``membership_changed`` (rows added/removed/re-keyed). ``match``
    buckets are dropped unless ``keep_matches``. An ``n_buckets``-row
    full outer join — trivially small at any table scale."""
    o = old_fp.select(
        "bucket",
        F.col("n_rows").alias("n_old"),
        F.col("key_sum").alias("_ko"),
        F.col("row_sum").alias("_ro"),
    )
    n = new_fp.select(
        "bucket",
        F.col("n_rows").alias("n_new"),
        F.col("key_sum").alias("_kn"),
        F.col("row_sum").alias("_rn"),
    )
    zero = F.lit(0).cast("decimal(38,0)")
    j = (
        o.join(n, "bucket", "full_outer")
        .select(
            "bucket",
            F.coalesce("n_old", F.lit(0)).alias("n_old"),
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
            F.coalesce("_ko", zero).alias("_ko"),
            F.coalesce("_kn", zero).alias("_kn"),
            F.coalesce("_ro", zero).alias("_ro"),
            F.coalesce("_rn", zero).alias("_rn"),
        )
    )
    membership = (F.col("n_old") != F.col("n_new")) | (
        F.col("_ko") != F.col("_kn")
    )
    values = F.col("_ro") != F.col("_rn")
    status = (
        F.when(membership, F.lit("membership_changed"))
        .when(values, F.lit("values_changed"))
        .otherwise(F.lit("match"))
    )
    out = j.select("bucket", status.alias("status"), "n_old", "n_new")
    return out if keep_matches else out.where(F.col("status") != "match")


def _bucket_filter(df: DataFrame, keys, n_buckets: int, buckets) -> DataFrame:
    b = _bucket_expr(keys, n_buckets)
    ids = sorted({int(x) for x in buckets})
    if len(ids) <= _IN_LITERAL_BUDGET:
        return df.where(b.isin(ids))
    # collision-proof temp name + frame-qualified probe column: the
    # reconciled table may itself carry 'bucket' or '_b' columns (bucketed
    # tables commonly do), which an unqualified F.col would resolve
    # ambiguously or silently clobber
    tmp = "__mdv_reconcile_b"
    frame = local_frame(df.sparkSession, f"{tmp}_probe int", [(i,) for i in ids])
    left = df.withColumn(tmp, b)
    return left.join(
        F.broadcast(frame), left[tmp] == frame[f"{tmp}_probe"], "left_semi"
    ).drop(tmp)


def reconcile_rows(
    old_df: DataFrame,
    new_df: DataFrame,
    key_columns,
    value_columns=None,
    n_buckets: int = 1024,
    buckets=None,
) -> DataFrame:
    """Row-level drill-down: which KEYS were ``added`` / ``removed`` /
    ``changed``. With ``buckets`` (an iterable of changed bucket ids,
    normally straight from :func:`fingerprint_diff`) BOTH sides are
    pre-filtered to those buckets before anything joins — the filter is
    an IN-literal over the key-hash expression (up to
    ``_IN_LITERAL_BUDGET`` = 256 ids) or a broadcast semi-join, so the
    join input is the changed slice, not the table. ``buckets=None``
    skips the pre-filter (full reconciliation — only for small tables or
    when most buckets changed).

    Each side is first reduced PER KEY (count + content-hash sum), so
    duplicate keys never explode the join into pairs: a key whose
    multiplicity or content multiset differs reports ``changed``.
    Output: the key columns + status + per-side row counts.
    """
    keys, vals = _check_cols(old_df, key_columns, value_columns)
    # both snapshots must agree on the value-column set or every row
    # would trivially differ; surface the asymmetry loudly instead
    keys2, vals2 = _check_cols(new_df, key_columns, value_columns)
    if vals != vals2:
        from ..errors import SchemaError

        raise SchemaError(
            f"reconcile: snapshots disagree on value columns: {vals} vs "
            f"{vals2} — pass an explicit shared value_columns"
        )
    if buckets is not None:
        old_df = _bucket_filter(old_df, keys, n_buckets, buckets)
        new_df = _bucket_filter(new_df, keys, n_buckets, buckets)

    def per_key(df: DataFrame, side: str) -> DataFrame:
        return (
            df.select(
                *[F.col(c) for c in keys],
                _enc(keys).alias("_k"),
                _h60(_enc(keys + vals)).alias("_rh"),
            )
            .groupBy("_k", *keys)
            .agg(
                F.count(F.lit(1)).alias(f"n_{side}"),
                F.sum("_rh").cast("decimal(38,0)").alias(f"_s_{side}"),
            )
        )

    o = per_key(old_df, "old")
    n = per_key(new_df, "new").withColumnRenamed("_k", "_k2")
    for c in keys:
        n = n.withColumnRenamed(c, f"_n_{c}")
    j = o.join(n, F.col("_k") == F.col("_k2"), "full_outer")
    status = (
        F.when(F.col("_k").isNull(), F.lit("added"))
        .when(F.col("_k2").isNull(), F.lit("removed"))
        .when(
            (F.col("n_old") != F.col("n_new"))
            | (F.col("_s_old") != F.col("_s_new")),
            F.lit("changed"),
        )
        .otherwise(F.lit("unchanged"))
    )
    out = j.select(
        *[
            F.coalesce(F.col(c), F.col(f"_n_{c}")).alias(c)
            for c in keys
        ],
        status.alias("status"),
        F.coalesce("n_old", F.lit(0)).alias("n_old"),
        F.coalesce("n_new", F.lit(0)).alias("n_new"),
    )
    return out.where(F.col("status") != "unchanged")
