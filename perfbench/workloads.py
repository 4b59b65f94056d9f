"""Workload inputs, specs, operations and correctness checks.

Inputs come from ``mdvalidate_spark.sources.synthetic``: row ``i`` of
``synthetic_images(n)`` depends on ``i`` only, so a seed's table is the first
``n`` rows of one base table (``n`` drawn from the seed), hash-spread over
its files by a seeded hash. The golden counts of
``expected_violation_counts(n)`` then hold for every seed.

Every table is written once into a cache directory keyed by its parameters
and moved into place with one ``os.rename`` when complete, so a failed or
killed generation never leaves a partial table under a cache key.
"""

from __future__ import annotations

import os
import random
import shutil
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from mdvalidate_spark import ValidationRun
from mdvalidate_spark.operators.pixel import pixel_check_results
from mdvalidate_spark.sources.synthetic import (
    W_CYCLE,
    W_CYCLE_SMALL,
    dim_source,
    expected_violation_counts,
    full_images_spec,
    synthetic_images,
)
from mdvalidate_spark.spec import ColumnStatsRule, DriftRule, PixelRule, Spec

import proctree
from eventlog import PROBE_LABEL, REPORT_LABEL

# the seed takes up to ROW_JITTER rows off the base size
ROW_JITTER = 1000
PIXEL_PROBE_ROWS = 4000

# expected_violation_counts key -> rule id of full_images_spec
GOLDEN_RULES = {
    "duplicate_keys": "unique_image_id",
    "fmt_domain": "fmt_domain",
    "w_range": "w_range",
    "caption_regex": "caption_regex",
    "caption_null": "caption_not_null",
    "orphan_rows": "src_ref",
}


def seed_rows(base: int, seed: int) -> int:
    return base - random.Random(seed).randrange(ROW_JITTER)


def golden_counts(rows: int) -> dict[str, int]:
    """Per-rule violation counts the synthetic injection contract implies.

    The last engine partition's widths are doubled, so the drift rule
    flags exactly one comparison."""
    exp = expected_violation_counts(rows)
    out = {rule: exp[key] for key, rule in GOLDEN_RULES.items()}
    out["w_drift"] = 1
    return out


def pixel_failures(rows: int) -> int:
    """Images whose header disagrees with the row: injected fmt or width."""
    return sum(1 for i in range(rows) if i % 400 == 399 or i % 250 == 249)


def _materialize(path: str, write) -> str:
    """Write a table at ``path`` atomically: generate beside it, then rename."""
    if os.path.exists(path):
        return path
    tmp = os.path.join(
        os.path.dirname(path), f".tmp-{os.path.basename(path)}-{uuid.uuid4().hex}"
    )
    try:
        write(tmp)
        try:
            os.rename(tmp, path)
        except OSError:
            # another process finished the same table first
            if not os.path.exists(path):
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return path


def seed_table(spark, cache: str, base_rows: int, parts: int, files: int,
               seed: int, with_bytes: bool = False) -> tuple[str, int]:
    """(path, rows) of the seed's images table."""
    os.makedirs(cache, exist_ok=True)
    kind = "bytes" if with_bytes else "nobytes"
    base = _materialize(
        os.path.join(cache, f"base-{kind}-{base_rows}-p{parts}"),
        lambda p: synthetic_images(
            spark, base_rows, with_bytes=with_bytes, n_partitions=parts,
            w_cycle=W_CYCLE_SMALL if with_bytes else W_CYCLE,
        ).write.parquet(p),
    )
    rows = seed_rows(base_rows, seed)
    path = _materialize(
        os.path.join(cache, f"{kind}-{base_rows}-p{parts}-f{files}-s{seed}"),
        lambda p: spark.read.parquet(base)
        .where(F.col("i") < rows)
        .repartition(files, F.xxhash64(F.col("i"), F.lit(seed)))
        .sortWithinPartitions("i")
        .write.parquet(p),
    )
    return path, rows


def report_signature(report) -> dict[str, tuple[int, int]]:
    """rule_id -> (violation count, order-free hash of the violation rows)."""
    sc = report.violations.sparkSession.sparkContext
    sc.setJobDescription(f"{REPORT_LABEL} check")
    try:
        cols = ["partition_id", "rule_id", "image_id", "column", "expected",
                "actual", "kind"]
        rows = (
            report.violations.groupBy("rule_id")
            .agg(F.count(F.lit(1)).alias("n"),
                 # reduced first: Spark's ANSI mode fails a long overflow
                 F.sum(F.pmod(F.xxhash64(*cols), F.lit(2**31 - 1))).alias("h"))
            .collect()
        )
    finally:
        sc.setJobDescription(None)
    return {r["rule_id"]: (int(r["n"]), int(r["h"] or 0)) for r in rows}


def count_report(report) -> tuple[int, int]:
    """The report materialization every operation pays: both frames counted."""
    sc = report.violations.sparkSession.sparkContext
    sc.setJobDescription(REPORT_LABEL)
    try:
        return report.violations.count(), report.metrics.count()
    finally:
        sc.setJobDescription(None)


@dataclass
class Sample:
    """Wall times of one operation, and whether its output was right."""

    run_s: float
    verdict_s: float
    start_ms: int
    end_ms: int
    # the whole operation, including any day-1 run it had to make first
    total_s: float
    # from the operation's start until the first validate() returned
    first_s: float
    # CPU seconds the process tree used over run_s
    cpu_s: float = 0.0
    ok: bool = True
    problems: list[str] = field(default_factory=list)

    def expect(self, what: str, got, want) -> None:
        if got != want:
            self.ok = False
            self.problems.append(f"{what}: got {got}, want {want}")


class Workload:
    name = ""
    base_rows = 0
    parts = 0
    files = 0

    def __init__(self, spark, cache: str, work: str, seed: int):
        self.work = work
        self.path, self.rows = seed_table(
            spark, cache, self.base_rows, self.parts, self.files, seed
        )
        self.spec = self.make_spec()
        self._n = 0
        self.spark = spark
        self.df = spark.read.parquet(self.path)
        self.dims = {"dim_source": dim_source(spark)}

    def make_spec(self) -> Spec:
        raise NotImplementedError

    def op(self) -> Sample:
        raise NotImplementedError

    @staticmethod
    def clocks() -> tuple[float, float]:
        """(wall, process-tree CPU) seconds now."""
        return time.time(), proctree.cpu_s(os.getpid())

    def scan_columns(self) -> list[str]:
        cols = {self.spec.key_column, "partition_id"}
        for r in self.spec.rules:
            cols.update(r.targets())
        return sorted(c for c in cols if c in self.df.columns)

    def checkpoint_stats(self) -> tuple[int, int]:
        """(files, bytes) the last operation left under its checkpoint."""
        return 0, 0


class ImagesOneshot(Workload):
    """No-bytes images table, full spec, one-shot whole-table validate()."""

    name = "images_oneshot"
    base_rows = 100_000
    parts = 16
    files = 16

    def make_spec(self) -> Spec:
        return full_images_spec(with_pixel=False, n_partitions=self.parts)

    def op(self) -> Sample:
        self._n += 1
        t0, c0 = self.clocks()
        run = ValidationRun(self.spark, self.spec, self.df, dims=self.dims,
                            run_id=f"{self.name}-{self._n}")
        report = run.validate()
        verdict = time.time() - t0
        count_report(report)
        t1, c1 = self.clocks()
        s = Sample(t1 - t0, verdict, int(t0 * 1e3), int(t1 * 1e3),
                   total_s=t1 - t0, first_s=verdict, cpu_s=c1 - c0)
        try:
            got = {k: n for k, (n, _) in report_signature(report).items()}
            s.expect("per-rule violations", got, golden_counts(self.rows))
        finally:
            run.release()
        return s


class ImagesAppend(Workload):
    """Checkpointed table with incremental stats and sweep drift.

    The first operation makes the day-1 run: half the engine partitions, in
    batches. Every operation then resumes a copy of that checkpoint over the
    full table, which validates only the new half, reloads the persisted
    lineage and merges the stats and drift partials."""

    name = "images_append"
    base_rows = 20_000
    parts = 4
    files = 4
    batch = 1
    run_id = "images_append"

    def __init__(self, *a, **kw):
        self.half = self.parts // 2
        self.reference: dict | None = None
        self.day1 = ""
        self.last_checkpoint = ""
        super().__init__(*a, **kw)

    def make_spec(self) -> Spec:
        # the global key and reference rules are images_oneshot's to measure
        base = full_images_spec(with_pixel=False, n_partitions=self.parts)
        dropped = {"unique_image_id", "src_ref"}
        swapped = {
            "stats_w": ColumnStatsRule("stats_w", column="w", incremental=True,
                                       quantiles=(0.5, 0.9)),
            "stats_caption": ColumnStatsRule("stats_caption", column="caption",
                                             incremental=True),
            "w_drift": DriftRule("w_drift", column="w", sweep_by="partition_id",
                                 method="psi", threshold=0.2, incremental=True),
        }
        return Spec(
            rules=tuple(swapped.get(r.id, r) for r in base.rules
                        if r.id not in dropped),
            key_column=base.key_column,
            n_partitions=self.parts,
        )

    def op(self) -> Sample:
        t0 = time.time()
        first = None
        if not self.day1:
            day1 = os.path.join(self.work, "day1")
            run, _ = self._validate(self.df.where(F.col("partition_id") < self.half),
                                    self.run_id, day1, self.batch)
            first = time.time() - t0
            run.release()
            self.day1 = day1
        self._n += 1
        shutil.rmtree(self.last_checkpoint, ignore_errors=True)
        self.last_checkpoint = os.path.join(self.work, f"ckpt-{self._n}")
        shutil.copytree(self.day1, self.last_checkpoint)
        t1, c1 = self.clocks()
        run = ValidationRun(self.spark, self.spec, self.df, dims=self.dims,
                            run_id=self.run_id, checkpoint_dir=self.last_checkpoint)
        pending = run.pending_partitions()
        report = run.validate()
        verdict = time.time() - t1
        count_report(report)
        t2, c2 = self.clocks()
        s = Sample(t2 - t1, verdict, int(t1 * 1e3), int(t2 * 1e3),
                   total_s=t2 - t0, first_s=first if first is not None else verdict,
                   cpu_s=c2 - c1)
        try:
            s.expect("pending partitions", pending, list(range(self.half, self.parts)))
            self._check_against_reference(report, s)
        finally:
            run.release()
        return s

    def _check_against_reference(self, report, s: Sample) -> None:
        """The resumed report must equal a one-shot run of the same spec.

        The sweep drift is left out: it freezes its bin edges on the first
        validated batch, so a resumed run and a one-shot run bin the widths
        differently by design."""
        if self.reference is None:
            run, ref = self._validate(self.df, f"{self.run_id}-reference")
            try:
                self.reference = report_signature(ref)
            finally:
                run.release()
            self.reference.pop("w_drift", None)
            got = {k: n for k, (n, _) in self.reference.items()}
            rule_ids = {r.id for r in self.spec.rules} - {"w_drift"}
            want = {k: n for k, n in golden_counts(self.rows).items() if k in rule_ids}
            s.expect("one-shot per-rule violations", got, want)
        got = report_signature(report)
        got.pop("w_drift", None)
        s.expect("resumed (count, hash) per rule", got, self.reference)

    def _validate(self, df, run_id, checkpoint_dir=None, batch_size=None):
        run = ValidationRun(self.spark, self.spec, df, dims=self.dims,
                            run_id=run_id, checkpoint_dir=checkpoint_dir)
        return run, run.validate(batch_size)

    def checkpoint_stats(self) -> tuple[int, int]:
        files = size = 0
        for root, _, names in os.walk(self.last_checkpoint):
            for n in names:
                files += 1
                size += os.path.getsize(os.path.join(root, n))
        return files, size


WORKLOADS = {w.name: w for w in (ImagesOneshot, ImagesAppend)}


def scan_probe(wl: Workload) -> float:
    """Seconds to scan the operation's input columns into a no-op sink."""
    sc = wl.spark.sparkContext
    sc.setJobDescription(f"{PROBE_LABEL} scan")
    try:
        t0 = time.time()
        wl.df.select(*wl.scan_columns()).write.format("noop").mode("overwrite").save()
        return time.time() - t0
    finally:
        sc.setJobDescription(None)


def pixel_probe(spark, cache: str, seed: int, repeats: int) -> dict:
    """Standalone pixel stage over the seed's bytes-bearing table."""
    path, rows = seed_table(spark, cache, PIXEL_PROBE_ROWS, 8, 8, seed,
                            with_bytes=True)
    df = spark.read.parquet(path)
    sc = spark.sparkContext
    plan, sink, native = [], [], None
    sc.setJobDescription(f"{PROBE_LABEL} pixel")
    try:
        for _ in range(repeats):
            gate_cache: dict = {}
            t0 = time.time()
            checks = pixel_check_results(df, PixelRule("pixel"), "image_id",
                                         cache=gate_cache)
            t1 = time.time()
            checks.write.format("noop").mode("overwrite").save()
            plan.append(t1 - t0)
            sink.append(time.time() - t1)
            native = next(v[0] for k, v in gate_cache.items() if k[0] == "gate")
        failed = checks.where(~F.col("ok")).count()
    finally:
        sc.setJobDescription(None)
    return {
        "plan_s": plan,
        "images_per_s": [rows / t for t in sink],
        "native_path": int(bool(native)),
        "ok": failed == pixel_failures(rows),
        "problem": f"pixel failures {failed} != {pixel_failures(rows)}",
    }
