"""Custom stateful streaming operators: cross-micro-batch uniqueness and
feed-silence detection.

The batch engine finds duplicates with a salted two-phase groupBy at
finalize (operators/agg_rules.py). On an unbounded stream there is no
finalize — "have I seen this key before?" needs per-key STATE that outlives
the micro-batch. Spark's built-in `dropDuplicates` silently drops the
repeats; a validator must instead EMIT a violation row for every occurrence
after the first. Silence detection is the same shape: "how long since this
feed's LAST timestamp?" is per-key state, and only the stream side can
alert while the feed is STILL down (the batch operator in operators/gaps.py
sees a gap only after the feed recovers). These are the places the engine
needs ``applyInPandasWithState`` (per-key GroupState, Arrow-batched —
still no per-row Python crossing).

Reference lineage: the `{1,1}`-per-key repetition bound
(reference: walkers/validators/lists.rs:168-264) evaluated under the
streaming read loop (cmd.rs:88-133) — the reference re-walks from a
checkpoint instead of keeping key state because its input is one document;
a keyed table stream makes per-key state the natural checkpoint.

State size note (10^12-key scale): state is one long per key, partitioned
by the groupBy hash across executors. On an UNBOUNDED key space that state
grows forever — pass ``ttl_seconds`` to evict keys idle longer than the
TTL (ProcessingTimeTimeout). The precision trade is explicit: a duplicate
arriving AFTER its key was evicted counts as occurrence 1 again (a false
negative), which is the correct posture when uniqueness is itself
time-scoped (session ids, ingest-day image ids); leave ttl_seconds=None
for exact lifetime uniqueness when the key space is bounded.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..errors import KIND_DUPLICATE, KIND_GAP
from ..schemas import violation_columns

_OUT_SCHEMA = "key string, occurrence long"
_STATE_SCHEMA = "seen long"

_GAP_OUT_SCHEMA = "key string, prev_epoch_ms long, next_epoch_ms long"
_GAP_STATE_SCHEMA = "last_ms long, alerted int"


def _make_dup_fn(ttl_ms: int | None):
    """Build the per-key state function; a closure because the TTL must be
    re-armed on every invocation (GroupState timeouts reset per update)."""

    def _dup_fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if ttl_ms is not None and state.hasTimedOut:
            # idle past the TTL: evict. A later re-arrival of this key is
            # occurrence 1 again — the documented precision trade. The
            # (empty) Arrow batch iterator MUST still be drained — bailing
            # out early desyncs the worker's Arrow stream protocol and
            # kills the Python worker.
            for _ in pdfs:
                pass
            state.remove()
            return
        (seen,) = state.get if state.exists else (0,)
        new = sum(len(p) for p in pdfs)
        total = seen + new
        state.update((total,))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        # duplicates start right after the LAST occurrence already emitted:
        # at occurrence max(seen+1, 2) — occurrence 1 is always legitimate,
        # and everything up to `seen` was handled by earlier batches
        first_dup = max(seen + 1, 2)
        if total >= first_dup:
            yield pd.DataFrame(
                {
                    "key": [key[0]] * (total - first_dup + 1),
                    "occurrence": list(range(first_dup, total + 1)),
                }
            )

    return _dup_fn


def _make_gap_fn(thr_ms: int, alert_idle: bool):
    """Per-key silence detector. State is (last seen epoch-ms, alerted
    flag). Each invocation folds the batch's DISTINCT in-order timestamps
    into the running series and emits one row per silence strictly longer
    than ``thr_ms``. With ``alert_idle``, a ProcessingTimeTimeout fires
    when the key has been quiet for ``thr_ms`` of WALL time and emits one
    OPEN-silence row (next_epoch_ms NULL) — the alert a batch pass can
    only raise after the feed recovers; the alerted flag suppresses
    repeats until data arrives again."""

    def _gap_fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if alert_idle and state.hasTimedOut:
            # drain the (empty) Arrow iterator — see _dup_fn
            for _ in pdfs:
                pass
            last, alerted = state.get
            if not alerted:
                state.update((last, 1))
                # no re-arm: ONE open-silence alert per silence
                yield pd.DataFrame(
                    {
                        "key": [key[0]],
                        "prev_epoch_ms": pd.array([last], dtype="Int64"),
                        "next_epoch_ms": pd.array([None], dtype="Int64"),
                    }
                )
            return
        ms_vals = sorted(
            {int(v) for p in pdfs for v in p["_ms"].dropna().tolist()}
        )
        last = int(state.get[0]) if state.exists else None
        # late arrivals (ts <= last) are IGNORED for gap formation: the
        # stream detector is the low-latency alert path and assumes
        # per-key arrival roughly follows event time; exact retrospective
        # analysis (any order, any lateness) is the batch operator
        # (operators/gaps.py) over the landed table.
        fresh = [v for v in ms_vals if last is None or v > last]
        if not fresh:
            # nothing NEW this batch (all NULL, or a pure redelivery of
            # ts <= last). Do not touch (last, alerted): resetting the
            # alerted flag here would re-emit the open-silence alert on
            # every at-least-once redelivery while the feed is still
            # down. But any invocation cancels a key's pending timeout,
            # so a not-yet-fired alert must be re-registered (its clock
            # restarts from now — the documented processing-time
            # approximation); an already-fired one stays suppressed
            # until genuinely fresh data arrives.
            if alert_idle and state.exists and not int(state.get[1]):
                state.setTimeoutDuration(max(1, thr_ms))
            return
        seq = ([last] if last is not None else []) + fresh
        new_last = seq[-1]
        state.update((new_last, 0))
        if alert_idle:
            state.setTimeoutDuration(max(1, thr_ms))
        gaps = [(a, b) for a, b in zip(seq, seq[1:]) if b - a > thr_ms]
        if gaps:
            yield pd.DataFrame(
                {
                    "key": [key[0]] * len(gaps),
                    "prev_epoch_ms": pd.array(
                        [g[0] for g in gaps], dtype="Int64"
                    ),
                    "next_epoch_ms": pd.array(
                        [g[1] for g in gaps], dtype="Int64"
                    ),
                }
            )

    return _gap_fn


def stream_gap_violations(
    stream_df: DataFrame,
    ts_col: str,
    rule_id: str,
    run_id: str,
    *,
    min_gap_seconds: float,
    group_column: str | None = None,
    alert_idle: bool = False,
) -> DataFrame:
    """Streaming silence detection: one violation row (kind=gap) per
    silence strictly longer than ``min_gap_seconds`` between consecutive
    distinct ``ts_col`` values, per ``group_column`` series (None = one
    global series). The stream-side twin of ``operators.gaps`` — same
    threshold semantics (exact rounded ms, strict >), same violation
    shape — with one capability batch cannot have: ``alert_idle=True``
    raises an OPEN-silence alert (``next_epoch_ms`` NULL, actual
    'ongoing…') after ``min_gap_seconds`` of processing-time quiet,
    i.e. while the feed is STILL down, not after it recovers. State is
    two small integers per key; NULL timestamps are out of scope."""
    if min_gap_seconds <= 0:
        from ..errors import SchemaError

        raise SchemaError(
            f"stream gap {rule_id!r}: min_gap_seconds must be > 0, "
            f"got {min_gap_seconds}"
        )
    # SAME rounding as the batch twin (operators/gaps.py): a
    # sub-millisecond threshold rounds to 0 and flags every 1 ms gap in
    # BOTH paths. The max(1, ...) floor that setTimeoutDuration needs is
    # applied only at the arm sites inside _make_gap_fn.
    thr_ms = int(round(min_gap_seconds * 1000))
    key = (
        F.col(group_column).cast("string")
        if group_column
        else F.lit("*")
    )
    keyed = stream_df.where(F.col(ts_col).isNotNull()).select(
        key.alias("key"),
        F.unix_millis(F.col(ts_col).cast("timestamp")).alias("_ms"),
    )
    gaps = keyed.groupBy("key").applyInPandasWithState(
        _make_gap_fn(thr_ms, alert_idle),
        outputStructType=_GAP_OUT_SCHEMA,
        stateStructType=_GAP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if alert_idle
            else GroupStateTimeout.NoTimeout
        ),
    )
    actual = F.when(
        F.col("next_epoch_ms").isNull(),
        F.format_string(
            "ongoing: silent > %.3fs since %d",
            F.lit(float(min_gap_seconds)),
            F.col("prev_epoch_ms"),
        ),
    ).otherwise(
        F.format_string(
            "gap_s=%.3f [%d .. %d]",
            (F.col("next_epoch_ms") - F.col("prev_epoch_ms")) / F.lit(1000.0),
            F.col("prev_epoch_ms"),
            F.col("next_epoch_ms"),
        )
    )
    return gaps.select(
        *violation_columns(
            run_id=run_id,
            rule_id=rule_id,
            image_id=F.col("key"),
            column=ts_col,
            expected=(
                f"no silence > {min_gap_seconds}s between consecutive "
                f"{ts_col} values"
            ),
            actual=actual,
            kind=KIND_GAP,
        )
    )


def stream_duplicate_violations(
    stream_df: DataFrame,
    key_column: str,
    rule_id: str,
    run_id: str,
    ttl_seconds: float | None = None,
) -> DataFrame:
    """Streaming uniqueness: one violation row per duplicate occurrence of
    ``key_column`` across the lifetime of the stream (state-backed).

    ``ttl_seconds`` bounds state on unbounded key spaces: a key idle longer
    than the TTL is evicted (ProcessingTimeTimeout fires on a subsequent
    micro-batch), and a re-arrival after eviction counts as occurrence 1 —
    see the module docstring for the precision trade."""
    keyed = stream_df.select(F.col(key_column).cast("string").alias("key"))
    if ttl_seconds is not None and ttl_seconds <= 0:
        from ..errors import SchemaError

        raise SchemaError(
            f"stream uniqueness {rule_id!r}: ttl_seconds must be > 0, "
            f"got {ttl_seconds}"
        )
    ttl_ms = None if ttl_seconds is None else max(1, int(ttl_seconds * 1000))
    dups = keyed.groupBy("key").applyInPandasWithState(
        _make_dup_fn(ttl_ms),
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if ttl_ms is None
            else GroupStateTimeout.ProcessingTimeTimeout
        ),
    )
    return dups.select(
        *violation_columns(
            run_id=run_id,
            rule_id=rule_id,
            image_id=F.col("key"),
            column=key_column,
            expected="unique",
            actual=F.concat(F.lit("occurrence="), F.col("occurrence").cast("string")),
            kind=KIND_DUPLICATE,
        )
    )
