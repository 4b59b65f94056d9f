"""Pixel-stage validation: Arrow-batched decode + verify.

The reference analog is fenced-code *body* validation (reference:
walkers/validators/code.rs:189-205) — an opaque payload checked by a dedicated
kernel. Here the payload is the image bytes; the kernel runs as mapInPandas
(Iterator[pd.DataFrame] → Iterator[pd.DataFrame]), so bytes cross the
JVM→Python boundary once per Arrow batch, never per row (input_hint mandate).

This is the ONLY stage that reads the `bytes` column; every other stage's scan
is column-pruned away from it (check ReadSchema in .explain — at 100 TB the
difference between scanning bytes and not is the whole game).

Per-image checks, early-exit on first failure (the reference's "one error
once" non-cascade, cmd.rs:368-398):
  1. decodable            → kind=pixel  expected=decodable
  2. container fmt == fmt → kind=pixel  (fmt column lies about the payload)
  3. decoded dims == (w,h)→ kind=pixel
  4. recomputed phash     → kind=pixel  (stamp-derived, quantization-proof)
  5. PSNR vs regenerated reference ≥ psnr_min (lossy) / exact (lossless)

Output is one narrow row per image (ok, fail detail, psnr); the run layer
derives violation rows and per-partition metrics from it in one pass.
"""

from __future__ import annotations

import logging
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..errors import KIND_DEGENERATE, KIND_PIXEL
from ..functions import codec
from ..schemas import local_frame, metric_columns, violation_columns
from ..spec import PixelRule

log = logging.getLogger(__name__)

CHECK_SCHEMA = (
    "partition_id int, image_id string, ok boolean, expected string, "
    "actual string, psnr double"
)

# appended when the run also declares a DegenerateImageRule on the same
# bytes column: the pixel stage's decode is the expensive pass, so quality
# stats ride along instead of paying a second full decode of the corpus
CHECK_QUALITY_SCHEMA = CHECK_SCHEMA + (
    ", decoded boolean, brightness double, contrast double, "
    "saturated_frac double, channel_diff double"
)

_NO_QUALITY = (None, None, None, None, None)


def quality_stats(arr) -> tuple:
    """(brightness, contrast, saturated_frac, channel_diff) of a decoded
    HxWx3 uint8 array — global mean, global std, share of samples pinned at
    0/255, and the mean absolute inter-channel difference (average of
    |R−G| and |G−B| per pixel: ~85 for independent noise, ~0 for grayscale
    stored as RGB — the color-collapse signal a channel-MEAN spread cannot
    see, since every channel of RGB noise averages ≈127.5). Shared by the
    pixel stage's ride-along quality pass and the standalone image-quality
    operators (operators/multimodal.py)."""
    # no full float64 copy: np.mean/np.std on uint8 already accumulate in
    # float64 (this loop rides the 100 TB decode pass — an 8x scratch buffer
    # per image is exactly the memory traffic the zero-copy scan avoids)
    sat = float(
        (np.count_nonzero(arr == 0) + np.count_nonzero(arr == 255)) / arr.size
    )
    if arr.ndim == 3 and arr.shape[2] >= 3:
        # one int16 conversion shared by both channel diffs (integer
        # arithmetic — means of |int| sums are exact, so any evaluation
        # order yields bit-identical results)
        a16 = arr.astype(np.int16)
        c01 = np.abs(a16[..., 0] - a16[..., 1]).mean()
        c12 = np.abs(a16[..., 1] - a16[..., 2]).mean()
        cdiff = float((c01 + c12) / 2.0)
    else:  # single-channel payloads: color collapse is undefined
        cdiff = None
    return float(arr.mean()), float(arr.std()), sat, cdiff


def _check_one(data, fmt, w, h, phash, psnr_min: float, quality: bool = False):
    """Returns (ok, expected, actual, psnr, qstats). `data` is any buffer
    (bytes or a zero-copy arrow memoryview). ``qstats`` is
    (decoded, brightness, contrast, saturated_frac) when ``quality`` is
    requested — computed right after a successful decode so a row that later
    fails a fmt/dims/phash/psnr check still carries its pixel-space stats
    (those checks are independent verdicts; the degenerate classifier must
    see every decodable image exactly once)."""
    if data is None:
        # missing payload is NotNullRule's job; NULL-decoded (not False)
        # keeps the degenerate classifier from mislabeling it undecodable
        return True, None, None, None, _NO_QUALITY
    try:
        arr, dfmt, dw, dh = codec.decode(data)
    except Exception as e:  # noqa: BLE001 - any decode failure is a violation
        q = (False, None, None, None, None) if quality else _NO_QUALITY
        return False, "decodable", f"decode error: {type(e).__name__}", None, q
    q = (True, *quality_stats(arr)) if quality else _NO_QUALITY
    if dfmt != fmt:
        return False, f"payload fmt {fmt}", dfmt, None, q
    if (dw, dh) != (w, h):
        return False, f"dims ({w}, {h})", f"({dw}, {dh})", None, q
    pid = codec.read_pattern_id(arr)
    if codec.phash_of_pattern(pid) != phash:
        return False, f"phash {phash}", str(codec.phash_of_pattern(pid)), None, q
    orig = codec.base_image(pid, dw, dh)
    if codec.is_lossless(dfmt):
        # equality fast path (memcmp): a passing lossless image never pays
        # for a PSNR computation
        if np.array_equal(arr, orig):
            return True, None, None, None, q
        p = codec.psnr(arr, orig)
        return False, "exact pixels (lossless)", f"psnr={p:.2f}", p, q
    p = codec.psnr(arr, orig)
    if p < psnr_min:
        return False, f"psnr >= {psnr_min}", f"psnr={p:.2f}", p, q
    return True, None, None, (None if p == float("inf") else p), q


_SAMPLE_SEED = 0x5A4D1E
_SAMPLE_MOD = 1_000_000


def sample_threshold(rate: float) -> int | None:
    """Micro-unit threshold for a sample rate (None = decode every row).
    Floored at 1 for direct operator callers — a sub-micro rate must never
    silently keep ZERO rows (compile_spec additionally rejects rates below
    1e-6 loudly before a run starts)."""
    return None if rate >= 1.0 else max(1, int(round(rate * _SAMPLE_MOD)))


def sample_keep(key, threshold: int) -> bool:
    """Deterministic content-keyed sample membership: FNV-1a 64 over the key
    string's utf-8 bytes, finalized with splitmix64. Pure-Python arithmetic
    (no Spark/pyarrow hash dependency) so the native and Arrow kernels — and
    any external auditor — choose EXACTLY the same rows; the cost is trivial
    next to the decode it replaces."""
    h = 0xCBF29CE484222325
    for b in str(key).encode():
        h = ((h ^ b) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return codec.splitmix64(h ^ _SAMPLE_SEED) % _SAMPLE_MOD < threshold


def _check_columns(
    ids, datas, fmts, ws, hs, phashes, parts, psnr_min: float,
    quality: bool = False, threshold: int | None = None,
):
    """Columnar check loop shared by both input paths. ``threshold``
    (sample_threshold of the rule's sample_rate) drops non-sampled rows
    BEFORE decode — they emit no output row, so downstream counts ('checked')
    reflect the sample denominator honestly. NULL payloads are dropped the
    same way (NotNullRule owns flagging them): a check row the kernel could
    never judge would inflate 'pixel_checked' while 'degenerate_checked'
    excludes it, silently deflating the pixel rule's soft-failure rate on
    NULL-heavy corpora relative to the degenerate rule's on the same
    sample — both denominators must mean 'rows the kernel actually
    judged'."""
    ok_l, exp_l, act_l, psnr_l, q_l, id_l, part_l = [], [], [], [], [], [], []
    part_iter = parts if parts is not None else [None] * len(ids)
    for iid, data, fmt, w, h, ph, part in zip(
        ids, datas, fmts, ws, hs, phashes, part_iter
    ):
        if data is None:
            continue
        if threshold is not None and not sample_keep(iid, threshold):
            continue
        ok, exp, act, p, q = _check_one(data, fmt, w, h, ph, psnr_min, quality)
        id_l.append(iid)
        part_l.append(part)
        ok_l.append(ok)
        exp_l.append(exp)
        act_l.append(act)
        psnr_l.append(p)
        q_l.append(q)
    out = pd.DataFrame(
        {
            "partition_id": part_l,
            "image_id": id_l,
            "ok": ok_l,
            "expected": exp_l,
            "actual": act_l,
            "psnr": psnr_l,
        }
    )
    if quality:
        for j, col in enumerate(
            ("decoded", "brightness", "contrast", "saturated_frac",
             "channel_diff")
        ):
            out[col] = [q[j] for q in q_l]
    return out


def _guard_sampled_key(df: DataFrame, rule, key_column: str) -> None:
    """Public-operator re-guard of the compile_spec lint (ADVICE r4): a
    SAMPLED decode rule hashes the stringified key for membership, and the
    native kernel sees raw arrow values while the Arrow path sees Spark's
    string cast — non-string keys whose Python repr differs from Spark's
    cast (binary, large floats) would make the two paths pick DIFFERENT
    sample rows, breaking the documented path-identical sampling
    guarantee. Refuse loudly; cast the key upstream."""
    if sample_threshold(getattr(rule, "sample_rate", 1.0)) is None:
        return
    from pyspark.sql.types import StringType

    from ..errors import SchemaError

    try:
        kt = df.schema[key_column].dataType
    except Exception:
        return  # unresolvable here; compile_spec owns the typed lint
    if not isinstance(kt, StringType):
        raise SchemaError(
            f"sampled decode rule {getattr(rule, 'id', '?')!r} "
            f"(sample_rate < 1) requires a STRING key column for "
            f"path-identical sample membership; key {key_column!r} is "
            f"{kt.simpleString()} — cast it upstream"
        )


def pixel_check_results(
    df: DataFrame,
    rule: PixelRule,
    key_column: str,
    partitions: list[int] | None = None,
    cache: dict | None = None,
    scan_df: DataFrame | None = None,
    quality: bool = False,
) -> DataFrame:
    """Decode + verify every image → one result row per image.

    ``quality=True`` appends pixel-space quality stats (decoded, brightness,
    contrast, saturated_frac — CHECK_QUALITY_SCHEMA) to every row, computed
    on the array the verify pass already decoded: when a run declares both
    PixelRule and DegenerateImageRule on the same bytes column, the corpus
    is decoded ONCE (at 100 TB the decode IS the stage cost; a second pass
    would double it). The native/Arrow gate decision is independent of the
    flag (same columns, same files).

    When the source is parquet-backed AND physically carries partition_id,
    the stage runs on the native scan path (workers pyarrow-read their own
    splits — see sources/native_scan.py for the measured 5x win); otherwise
    bytes flow through the standard Arrow exchange. `partitions` optionally
    restricts to a set of engine partitions (the incremental-batch case).

    ``scan_df`` is the PRE-normalization input frame (ValidationRun passes
    the user's frame from before with_partition_id rewrote partition_id to
    ``coalesce(cast(pid as int), -1)``). The gate must probe THIS frame: the
    engine's own pid normalization reads as a recomputed column in the
    analyzed plan and would otherwise push every data-partitioned table onto
    the 5x-slower Arrow path. Reading the raw files stays sound because the
    native kernel replicates exactly that normalization (``_norm_pid``) on
    the pids it reads — NULL/uncastable → reserved partition -1, int32 — so
    native and Arrow emit identical rows. Defaults to ``df``.

    ``cache`` (any mutable dict, owned by the caller — ValidationRun passes
    one per run) memoizes the driver-side gate probing (file listing, footer
    schema, analyzed-plan allowlist) AND per-file row-group statistics, so a
    batched run pays the probe cost once instead of once per batch/call. The
    frame and rule are fixed for a run by construction, so the decision
    cannot go stale within one cache's lifetime.
    """
    _guard_sampled_key(df, rule, key_column)
    gate_df = scan_df if scan_df is not None else df
    # the decision depends on the RULE's column bindings too: a second
    # PixelRule with different columns must not reuse the first rule's gate
    # (its own column-presence / computed-column checks would be skipped)
    gate_key = (
        "gate", key_column, rule.bytes_column, rule.w_column,
        rule.h_column, rule.fmt_column, rule.phash_column,
    )
    gate = cache.get(gate_key) if cache is not None else None
    if gate is None:
        # when the RUN frame carries partition_id, the native path may engage
        # only if the run's ids are FILE-SOURCED — i.e. the scan frame itself
        # carries the column (with_partition_id passes a pre-existing column
        # through). A file that happens to contain a partition_id column
        # while the run DERIVED its ids (pmod(xxhash64) / partition_column)
        # would otherwise feed stale file ids to the batch filter and
        # manifest — rows silently skipped or mis-attributed.
        need_pid = "partition_id" in df.columns
        if need_pid and "partition_id" not in gate_df.columns:
            gate = (False, [], set())
        else:
            gate = _gate_decision(gate_df, rule, key_column, need_pid=need_pid)
        if cache is not None:
            cache[gate_key] = gate
    ok, files, cols_in_file = gate
    if ok:
        return _pixel_native(
            df.sparkSession, files, rule, key_column, partitions, cols_in_file,
            footer_cache=None if cache is None else cache.setdefault("footers", {}),
            quality=quality,
        )
    return _pixel_arrow(df, rule, key_column, partitions, quality=quality)


def _gate_decision(
    df: DataFrame, rule: PixelRule, key_column: str, need_pid: bool = True
) -> tuple[bool, list[str], set]:
    """(use_native, files, cols_in_file) — the driver-side probe, separated
    so callers can cache it per run. ``df`` is the frame whose files the
    native path would read (pixel_check_results passes the caller's
    pre-normalization ``scan_df`` when it has one). ``need_pid``: the RUN
    frame carries partition_id, so the files must physically carry it too —
    an ENGINE-DERIVED id (pmod(xxhash64)) cannot be recomputed by the native
    reader, and emitting NULL ids would desynchronize the manifest
    bookkeeping from the verdict."""
    import pyarrow as pa

    from ..sources.native_scan import common_columns, parquet_files

    needed = {
        key_column, rule.bytes_column, rule.w_column, rule.h_column,
        rule.fmt_column, rule.phash_column,
    }
    # the native gate is best-effort: ANY probing failure (remote filesystem
    # scheme pyarrow can't open, malformed footer, plan introspection error)
    # must degrade to the always-correct Arrow path, never crash the run —
    # but LOUDLY (log.warning): a permanently-broken native path silently
    # costing ~5x would otherwise be invisible in production
    try:
        files = parquet_files(df)
        if files and _native_safe(df, needed):
            # ONE footer pass gives names AND types (a column whose type
            # differs across schema-evolved files is treated as absent)
            schema = common_columns(files)
            cols_in_file = set(schema)
            if (
                needed <= cols_in_file
                and (not need_pid or "partition_id" in cols_in_file)
                # whenever the files carry partition_id the kernel will
                # _norm_pid it, which replicates with_partition_id's
                # coalesce(cast(pid as int), -1) only for integer physical
                # types — a string/float pid would need Spark's full cast
                # semantics, so fall back rather than approximate them
                and (
                    "partition_id" not in cols_in_file
                    or pa.types.is_integer(schema["partition_id"])
                )
            ):
                return True, files, cols_in_file
    except Exception as e:  # noqa: BLE001 - fall back, but observably
        log.warning(
            "pixel native-scan gate failed (%s: %s) — falling back to the "
            "Arrow-exchange path for this run",
            type(e).__name__,
            e,
        )
    return False, [], set()


def _native_safe(df: DataFrame, needed: set) -> bool:
    """The native path re-reads files raw, so it is only sound when the
    DataFrame (a) contains every file row exactly once and (b) has not
    RECOMPUTED any column the kernel reads. (a) is an ALLOWLIST of plan
    nodes — an unknown operator (Offset, Generate/explode, a new Spark node)
    falls back rather than silently validating rows the frame dropped or
    duplicated; (b) is a computed-column sniff: `<expr> AS col#` in the
    analyzed plan means col no longer matches the file bytes."""
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except Exception:
        return False
    allowed = (
        "Project", "Relation", "LogicalRelation", "Repartition",
        "RepartitionByExpression", "Sort", "SubqueryAlias", "View",
        "ResolvedHint",
    )
    for line in plan.splitlines():
        node = line.lstrip(" +-:").split(" ", 1)[0].split("[", 1)[0]
        if node and not any(node.startswith(a) for a in allowed):
            return False
    for c in set(needed) | {"partition_id"}:
        if f" AS {c}#" in plan:
            return False
    return True


def _overlapping_splits(
    files: list[str], pset: set, footer_cache: dict | None = None
) -> list[tuple[str, int, int]]:
    """Row-group-level pruning for incremental batches: contiguous runs of
    row groups whose partition_id statistics can overlap the partition set,
    as (path, rg_lo, rg_hi) splits for native_parquet_map. Strictly finer
    than the old file-level prune — a sorted-by-partition file contributes
    only the row groups the batch touches, not its whole byte payload.
    Missing/disabled statistics keep the row group (pruning is an
    optimization, never a correctness decision — the per-batch arrow_filter
    still runs); a schema-evolved file without the column is kept whole.
    A batch targeting the reserved partition -1 (NULL pids normalized by
    _norm_pid) also keeps any row group whose stats report nulls — min/max
    ignore NULL values, so they alone can't rule -1 out."""
    from ..sources.native_scan import footer_meta

    lo, hi = min(pset), max(pset)
    want_null = -1 in pset
    splits: list[tuple[str, int, int]] = []
    for f in sorted(files):
        stats = footer_meta(f, footer_cache)["pid_stats"]
        if stats is None:
            splits.append((f, 0, -1))  # schema-evolved file without the column
            continue
        run_start = None
        for rg, (mn, mx, nulls) in enumerate(stats):
            keep = (
                mn is None
                # raw stats outside int32: _norm_pid wraps such values, so
                # min/max no longer bound the normalized ids — keep the row
                # group and let the arrow_filter decide per batch
                or mn < -(1 << 31)
                or mx >= (1 << 31)
                or (mn <= hi and mx >= lo and any(mn <= p <= mx for p in pset))
                or (want_null and (nulls is None or nulls > 0))
            )
            if keep and run_start is None:
                run_start = rg
            elif not keep and run_start is not None:
                splits.append((f, run_start, rg))
                run_start = None
        if run_start is not None:
            splits.append((f, run_start, len(stats)))
    return splits


def _norm_pid(col):
    """Replicate with_partition_id's data-supplied normalization
    (row_rules.py) on a pid column read raw from parquet: NULL → reserved
    partition -1, int32 width, wrap-around cast matching Spark's non-ANSI
    int cast. The gate (_pid_integer) guarantees an integer input type."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    return pc.fill_null(col.cast(pa.int32(), safe=False), -1)


def _pixel_native(spark, files, rule: PixelRule, key_column: str, partitions,
                  cols_in_file: set, footer_cache: dict | None = None,
                  quality: bool = False):
    """Native-scan pixel stage: workers pyarrow-read their own splits and the
    `bytes` column never becomes a Python bytes object — each payload is a
    zero-copy memoryview into the arrow data buffer (sources/native_scan.py
    binary_views). On a 14 GB/s-DRAM host this halves the stage's memory
    traffic vs to_pandas; at cluster scale it's one fewer full-table copy."""
    from ..sources.native_scan import binary_views, native_parquet_map

    psnr_min = rule.psnr_min
    thr = sample_threshold(getattr(rule, "sample_rate", 1.0))
    cols = [
        "partition_id", key_column, rule.bytes_column, rule.w_column,
        rule.h_column, rule.fmt_column, rule.phash_column,
    ]
    have_part = "partition_id" in cols_in_file
    if not have_part:
        cols = cols[1:]
    schema = CHECK_QUALITY_SCHEMA if quality else CHECK_SCHEMA
    splits = None
    if partitions is not None and have_part:
        # row-group-level pruning for incremental batches: emit splits only
        # for row groups whose partition_id min/max can overlap the batch —
        # footers are tiny driver-side reads, and without this every batch
        # of a batched run streams the WHOLE table's bytes through workers
        splits = _overlapping_splits(files, set(partitions), footer_cache)
        if not splits:
            return local_frame(spark, schema)
    key_c, bytes_c = key_column, rule.bytes_column
    w_c, h_c, fmt_c, ph_c = (
        rule.w_column, rule.h_column, rule.fmt_column, rule.phash_column,
    )

    def arrow_kernel(rb) -> pd.DataFrame:
        return _check_columns(
            rb.column(key_c).to_pylist(),
            binary_views(rb.column(bytes_c)),
            rb.column(fmt_c).to_pylist(),
            rb.column(w_c).to_numpy(zero_copy_only=False),
            rb.column(h_c).to_numpy(zero_copy_only=False),
            rb.column(ph_c).to_numpy(zero_copy_only=False),
            _norm_pid(rb.column("partition_id")).to_numpy(
                zero_copy_only=False
            )
            if have_part
            else None,
            psnr_min,
            quality,
            thr,
        )

    arrow_filter = None
    if partitions is not None:
        import pyarrow as pa
        import pyarrow.compute as pc

        pset = list(partitions)

        def arrow_filter(rb):
            # normalize BEFORE filtering: a raw NULL pid never matches
            # is_in, which would silently drop the reserved -1 partition's
            # rows from the very batch that targets them
            mask = pc.is_in(
                _norm_pid(rb.column("partition_id")),
                value_set=pa.array(pset, type=pa.int32()),
            )
            return rb.filter(mask)

    return native_parquet_map(
        spark, files, cols, None, schema,
        arrow_kernel=arrow_kernel, arrow_filter=arrow_filter,
        splits=splits, footer_cache=footer_cache,
    )


def _pixel_arrow(
    df: DataFrame, rule: PixelRule, key_column: str,
    partitions: list[int] | None, quality: bool = False,
) -> DataFrame:
    psnr_min = rule.psnr_min
    thr = sample_threshold(getattr(rule, "sample_rate", 1.0))
    # same pid normalization as the native kernel's _norm_pid (and as
    # with_partition_id): NULL → reserved partition -1, BEFORE the batch
    # filter — a raw NULL never matches isin, which would silently drop the
    # -1 partition's rows when a direct caller passes an un-normalized
    # frame. Idempotent on already-normalized run frames.
    pid = F.coalesce(F.col("partition_id").cast("int"), F.lit(-1))
    if partitions is not None:
        df = df.where(pid.isin(partitions))
    cols = df.select(
        pid.alias("partition_id"),
        F.col(key_column).cast("string").alias("image_id"),
        F.col(rule.bytes_column).alias("bytes"),
        F.col(rule.w_column).cast("int").alias("w"),
        F.col(rule.h_column).cast("int").alias("h"),
        F.col(rule.fmt_column).alias("fmt"),
        F.col(rule.phash_column).cast("long").alias("phash"),
    )

    def run_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield _check_columns(
                pdf["image_id"].tolist(),
                pdf["bytes"].tolist(),
                pdf["fmt"].tolist(),
                pdf["w"].to_numpy(),
                pdf["h"].to_numpy(),
                pdf["phash"].to_numpy(),
                pdf["partition_id"].to_numpy(),
                psnr_min,
                quality,
                thr,
            )

    return cols.mapInPandas(
        run_batches, schema=CHECK_QUALITY_SCHEMA if quality else CHECK_SCHEMA
    )


def pixel_outputs(
    checks: DataFrame, rule: PixelRule, run_id: str
) -> tuple[DataFrame, DataFrame]:
    """Derive (violations, per-partition metrics) from check results.

    Caller should persist `checks` when both outputs are consumed (the run
    layer does) so images decode exactly once per batch.
    """
    violations = checks.where(~F.col("ok")).select(
        *violation_columns(
            run_id=run_id,
            partition_id=F.col("partition_id"),
            rule_id=rule.id,
            image_id=F.col("image_id"),
            column=rule.bytes_column,
            expected=F.col("expected"),
            actual=F.col("actual"),
            kind=KIND_PIXEL,
        )
    )
    metrics = (
        checks.groupBy("partition_id")
        .agg(
            F.count(F.lit(1)).alias("checked"),
            F.sum(F.when(F.col("ok"), 0).otherwise(1)).alias("failed"),
            F.avg("psnr").alias("avg_psnr"),
        )
        .select(
            F.lit(run_id).alias("run_id"),
            F.col("partition_id"),
            F.explode(
                F.array(
                    F.struct(
                        F.lit("pixel_checked").alias("metric"),
                        F.col("checked").cast("double").alias("value"),
                    ),
                    F.struct(
                        F.lit("pixel_failed").alias("metric"),
                        F.col("failed").cast("double").alias("value"),
                    ),
                    F.struct(
                        F.lit("avg_psnr").alias("metric"),
                        F.col("avg_psnr").cast("double").alias("value"),
                    ),
                )
            ).alias("m"),
        )
        .select(
            *metric_columns(
                run_id=F.col("run_id"),
                partition_id=F.col("partition_id"),
                rule_id=rule.id,
                metric=F.col("m.metric"),
                value=F.col("m.value"),
            )
        )
    )
    return violations, metrics


# ------------------------------------------------- degenerate-image stage


def quality_only_results(
    df: DataFrame,
    rule,
    key_column: str,
    partitions: list[int] | None = None,
) -> DataFrame:
    """Standalone decode→quality-stats pass for a run that declares a
    DegenerateImageRule WITHOUT a PixelRule on the same bytes column (no
    verify columns needed, so the frame is just key + bytes + pid). Emits
    CHECK_QUALITY_SCHEMA with the verify columns neutral (ok=decoded,
    expected/actual/psnr NULL) so degenerate_outputs consumes both shapes
    identically. When a PixelRule shares the bytes column, the run layer
    rides quality on that rule's decode instead — never call both."""
    _guard_sampled_key(df, rule, key_column)
    pid = F.coalesce(F.col("partition_id").cast("int"), F.lit(-1))
    if partitions is not None:
        df = df.where(pid.isin(partitions))
    cols = df.select(
        pid.alias("partition_id"),
        F.col(key_column).cast("string").alias("image_id"),
        F.col(rule.bytes_column).alias("bytes"),
    )

    thr = sample_threshold(getattr(rule, "sample_rate", 1.0))

    def run_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for pid_v, iid, data in zip(
                pdf["partition_id"], pdf["image_id"], pdf["bytes"]
            ):
                if thr is not None and not sample_keep(iid, thr):
                    continue
                if data is None:  # NotNullRule's job
                    rows.append((pid_v, iid, True, None, None, None,
                                 None, None, None, None, None))
                    continue
                try:
                    arr, _, _, _ = codec.decode(data)
                except Exception:  # noqa: BLE001 - undecodable is a verdict
                    rows.append((pid_v, iid, False, None, None, None,
                                 False, None, None, None, None))
                    continue
                b, c, s, cd = quality_stats(arr)
                rows.append((pid_v, iid, True, None, None, None,
                             True, b, c, s, cd))
            yield pd.DataFrame(
                rows,
                columns=[
                    "partition_id", "image_id", "ok", "expected", "actual",
                    "psnr", "decoded", "brightness", "contrast",
                    "saturated_frac", "channel_diff",
                ],
            )

    return cols.mapInPandas(run_batches, schema=CHECK_QUALITY_SCHEMA)


def degenerate_class_exprs(
    decoded_col: str,
    contrast_floor: float,
    saturated_ceiling: float,
    grayscale_floor: float | None,
) -> tuple:
    """(klass, expected, actual) column trio for degenerate-image
    classification — THE single definition of the class precedence and the
    violation strings, shared by the spec-rule form (degenerate_outputs)
    and the operator form (operators/multimodal.py
    degenerate_image_violations) so the two surfaces can never drift.
    ``decoded_col`` names the boolean decode-success column (NULL = missing
    payload, the caller filters those out — NotNullRule's job)."""
    d = F.col(decoded_col)
    klass = (
        F.when(~d, F.lit("undecodable"))
        .when(F.col("contrast") < contrast_floor, F.lit("blank_image"))
        .when(
            F.col("saturated_frac") > saturated_ceiling,
            F.lit("saturated_image"),
        )
    )
    if grayscale_floor is not None:
        klass = klass.when(
            F.col("channel_diff") < grayscale_floor, F.lit("grayscale_image")
        )
    expected = (
        F.when(~d, F.lit("decodable"))
        .when(
            F.col("contrast") < contrast_floor,
            F.lit(f"contrast >= {contrast_floor}"),
        )
        .when(
            F.col("saturated_frac") > saturated_ceiling,
            F.lit(f"saturated_frac <= {saturated_ceiling}"),
        )
        .otherwise(F.lit(f"channel_diff >= {grayscale_floor}"))
    )
    actual = F.when(~d, F.lit("decode error")).otherwise(
        F.concat(
            F.lit("contrast="),
            F.round(F.col("contrast"), 4).cast("string"),
            F.lit(" saturated_frac="),
            F.round(F.col("saturated_frac"), 4).cast("string"),
            F.lit(" channel_diff="),
            F.coalesce(
                F.round(F.col("channel_diff"), 4).cast("string"), F.lit("NA")
            ),
        )
    )
    return klass, expected, actual


def degenerate_outputs(
    checks: DataFrame, rule, run_id: str
) -> tuple[DataFrame, DataFrame]:
    """(violations, per-partition metrics) for a DegenerateImageRule from a
    CHECK_QUALITY_SCHEMA frame (the pixel stage's ride-along stats or
    quality_only_results). Classification is pure column algebra on the
    already-persisted checks frame — retuning thresholds never re-decodes:

      undecodable      decoded = false
      blank_image      contrast < contrast_floor (solid/near-solid color —
                       zero variance whatever the level, so all-black AND
                       all-white both land here)
      saturated_image  saturated_frac > saturated_ceiling (nearly every
                       sample pinned at 0/255 while still having contrast)
      grayscale_image  (opt-in, rule.grayscale_floor set) channel_diff <
                       floor — color collapsed to gray while stored as RGB

    Rows with decoded NULL (missing payload) are NotNullRule's job and are
    skipped."""
    klass, expected, actual = degenerate_class_exprs(
        "decoded",
        rule.contrast_floor,
        rule.saturated_ceiling,
        getattr(rule, "grayscale_floor", None),
    )
    flagged = checks.where(F.col("decoded").isNotNull()).withColumn(
        "__class", klass
    )
    violations = flagged.where(F.col("__class").isNotNull()).select(
        *violation_columns(
            run_id=run_id,
            partition_id=F.col("partition_id"),
            rule_id=rule.id,
            image_id=F.col("image_id"),
            column=rule.bytes_column,
            expected=expected,
            actual=actual,
            kind=KIND_DEGENERATE,
        )
    )
    metrics = (
        flagged.groupBy("partition_id")
        .agg(
            F.count(F.lit(1)).alias("checked"),
            F.sum(
                F.when(F.col("__class").isNotNull(), 1).otherwise(0)
            ).alias("failed"),
            F.avg("brightness").alias("avg_brightness"),
            F.avg("contrast").alias("avg_contrast"),
        )
        .select(
            F.lit(run_id).alias("run_id"),
            F.col("partition_id"),
            F.explode(
                F.array(
                    F.struct(
                        F.lit("degenerate_checked").alias("metric"),
                        F.col("checked").cast("double").alias("value"),
                    ),
                    F.struct(
                        F.lit("degenerate_failed").alias("metric"),
                        F.col("failed").cast("double").alias("value"),
                    ),
                    F.struct(
                        F.lit("avg_brightness").alias("metric"),
                        F.col("avg_brightness").cast("double").alias("value"),
                    ),
                    F.struct(
                        F.lit("avg_contrast").alias("metric"),
                        F.col("avg_contrast").cast("double").alias("value"),
                    ),
                )
            ).alias("m"),
        )
        .select(
            *metric_columns(
                run_id=F.col("run_id"),
                partition_id=F.col("partition_id"),
                rule_id=rule.id,
                metric=F.col("m.metric"),
                value=F.col("m.value"),
            )
        )
    )
    return violations, metrics
