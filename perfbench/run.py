"""mdvalidate_spark benchmark: end-to-end metrics, or a per-layer split.

    python3 perfbench/run.py --workload images_oneshot --seed 1 \\
        --seconds 15 --trace 0

Run from the repository root. One process drives the public API closed
loop, one operation in flight, on ``local[nproc]``:

1. Set up the Spark session (``setup_s``: process start until the session
   is up and one full-width no-op task has spawned the Python workers; the
   host calibration is not counted).
2. Build the seed's input (cached under ``.perfbench/``; not timed).
3. Run the first operation (``cold_run_s``; ``first_run_s`` is its first
   ``validate()``), then operations for ``--seconds`` (at least ``MIN_OPS``).
   Leading operations slower than the median of the rest by more than
   ``SETTLE`` are warm-up and dropped; ``cpu_s`` (CPU seconds of the process
   tree over ``run_s``), ``run_s`` and ``verdict_s`` are the medians of the
   others. Every operation's output is checked; a wrong output counts as
   failed.

An operation runs from ``ValidationRun(...)`` through ``validate()``
(``verdict_s``) and through counting ``report.violations`` and
``report.metrics`` (``run_s``); see workloads.py.

``--trace 0`` prints ``setup_s`` and ``cpu_s``. ``--trace 1`` prints the
per-layer metrics instead, with the wall times ``run_s``, ``verdict_s`` and
``rows_per_s`` and with ``cold_run_s``, ``first_run_s`` and ``peak_rss_mb``
(the process tree's peak RSS during the steady operations): too noisy on a
shared host to bound. The session has
Spark's event log on; after the steady operations, operations alternate
with the engine's public callables wrapped in timing shims and without, and
the source scan and the pixel stage are probed on their own. Job, stage and
task figures come from the event log, grouped by job description
(eventlog.py). ``trace.overhead_s`` is the median traced minus the median
untraced ``run_s`` of that process; the event log is on for both.

The last line of stdout is the result JSON; the line before it records the
host (nproc and bench.py's host calibration) and the run's samples.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

import proctree  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
# process start, carried over pin_hash_seed's re-execution
START_ENV = "PERFBENCH_PROCESS_START"
PROCESS_START = float(os.environ.pop(START_ENV, PROCESS_START))

WORKLOADS = ("images_oneshot", "images_append")
# leading operations slower than the median of the rest by more than this
# are warm-up
SETTLE = 0.10
# fewest steady operations a run reports, and a cap on all of them
MIN_OPS = 3
MAX_OPS = 100
TRACED_PAIRS = 2
PROBE_REPEATS = 3
DRIVER_MEM = "3g"

END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
}

# Times that are 0 by construction on one workload are left out, and counts
# stand for them: images_append's frozen drift edges skip the bin-edge
# prefetch, and images_oneshot has no unlabelled jobs and no checkpoint.
_SPARK_PER_PHASE = {
    f"spark.{phase}.{m}": unit
    for phase in ("batch", "finalize", "report")
    for m, unit in (("jobs", "count"), ("tasks", "count"),
                    ("exec_run_s", "s"), ("exec_cpu_s", "s"))
}
PER_LAYER = {
    # Wall times. Under the hypervisor's CPU steal on a shared host these
    # swing 20-50% for minutes at a time; their 10-run spread on
    # images_append reached 0.23 of the median, against 0.09 for cpu_s.
    "run_s": "s",
    "verdict_s": "s",
    "rows_per_s": "1/s",
    # one sample per run, or bimodal across runs: no bound can hold them
    "cold_run_s": "s",
    "first_run_s": "s",
    "peak_rss_mb": "MiB",
    "trace.run_s": "s",
    "trace.untraced_run_s": "s",
    "trace.overhead_s": "s",
    "warmup.ops": "count",
    "compile.compile_spec_s": "s",
    "run.init_s": "s",
    "run.validate_pending_s": "s",
    "run.finalize_s": "s",
    "report.materialize_s": "s",
    "plans.manifest.saves": "count",
    "checkpoint.files": "count",
    "checkpoint.bytes_per_row": "B/row",
    "sources.scan_s": "s",
    "operators.pixel.plan_s": "s",
    "operators.pixel.images_per_s": "1/s",
    "operators.pixel.native_path": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.exec_run_s": "s",
    "spark.exec_cpu_s": "s",
    "spark.driver_gap_s": "s",
    "spark.wait_s": "s",
    "spark.spill_mb": "MiB",
    "spark.shuffle_write_mb": "MiB",
    "spark.drift_prefetch.jobs": "count",
    "spark.drift_prefetch.tasks": "count",
    "spark.unlabelled.jobs": "count",
    "spark.unlabelled.tasks": "count",
    "spark.unlabelled.share": "ratio",
    "spark.finalize.shuffle_write_mb": "MiB",
    **_SPARK_PER_PHASE,
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_hash_seed() -> None:
    """Re-execute this script with ``PYTHONHASHSEED=0`` unless it has it.

    The engine builds plans while iterating over sets of names, so string
    hashing orders its jobs and fusions: one images_append operation took
    12, 14 or 17 CPU seconds under hash seeds 0, 1 and 2, each repeatable.
    A fixed seed makes every run build the same plans."""
    if os.environ.get("PYTHONHASHSEED") == "0":
        return
    os.environ["PYTHONHASHSEED"] = "0"
    os.environ[START_ENV] = repr(PROCESS_START)
    sys.stdout.flush()
    os.execv(sys.executable, [sys.executable, *sys.argv])


def pin_env(work: str) -> None:
    """Environment the JVM and the Python workers inherit."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["MDV_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    sys.path[:0] = [ROOT]


def session_conf(work: str) -> dict:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # an images_append operation compiles more than the default 100
        # generated classes; with the default cache each operation
        # recompiled some and ran 13 s falling to 8 s over ten operations,
        # with 2000 entries they stay within about 10% from the second one
        "spark.sql.codegen.cache.maxEntries": "2000",
        "spark.driver.extraJavaOptions": " ".join((
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dderby.system.home={work}",
            "-XX:-UsePerfData",
            # C1 only: under C2 each operation kept getting faster for about
            # six operations, longer than a run can wait; C1 is flat after
            # the first operation
            "-XX:TieredStopAtLevel=1",
            # C1-only code cache defaults to 48 MB; Spark's generated classes
            # fill it within a few operations and the JIT then switches off
            "-XX:ReservedCodeCacheSize=512m",
            # the whole heap resident from the start, so the process tree's
            # RSS does not follow the collector's heap resizing
            f"-Xms{DRIVER_MEM}",
            "-XX:+AlwaysPreTouch",
        )),
    }


def build_session(cpus: int, conf: dict):
    import pandas as pd
    from mdvalidate_spark import get_spark

    spark = get_spark(app_name="perfbench", master=f"local[{cpus}]",
                      shuffle_partitions=2 * cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    # one task per core, so every Python worker has been spawned
    spark.range(0, cpus, 1, cpus).mapInPandas(
        lambda it: (pd.DataFrame({"n": [len(p)]}) for p in it), "n long"
    ).write.format("noop").mode("overwrite").save()
    return spark


def shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        # the JVM exits when its stdin closes
        proc.stdin.close()
        proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


class PeakRss:
    """Samples the process tree's RSS on a thread while in a ``with`` block."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak = max(self.peak, proctree.rss_bytes(os.getpid()))
            if self._stop.wait(0.25):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


class Tracer:
    """Timing shims around public callables; spans kept in memory."""

    def __init__(self):
        self.spans: list[tuple[str, float, float]] = []
        self._undo = []

    def wrap(self, owner, attr: str, name: str) -> None:
        original = getattr(owner, attr)
        spans = self.spans

        def shim(*args, **kwargs):
            t0 = time.time()
            try:
                return original(*args, **kwargs)
            finally:
                spans.append((name, t0, time.time()))

        setattr(owner, attr, shim)
        self._undo.append((owner, attr, original))

    def restore(self) -> None:
        for owner, attr, original in reversed(self._undo):
            setattr(owner, attr, original)
        self._undo.clear()

    def in_window(self, name: str, start_ms: int, end_ms: int) -> tuple[int, float]:
        """(calls, seconds) of spans ``name`` that started inside the window."""
        hits = [e - s for n, s, e in self.spans
                if n == name and start_ms <= s * 1e3 <= end_ms]
        return len(hits), sum(hits)


def install_shims(tracer: Tracer) -> None:
    import mdvalidate_spark.run as run_mod
    from mdvalidate_spark.plans.manifest import Manifest

    tracer.wrap(run_mod, "compile_spec", "compile.compile_spec_s")
    tracer.wrap(run_mod.ValidationRun, "__init__", "run.init_s")
    tracer.wrap(run_mod.ValidationRun, "validate_pending", "run.validate_pending_s")
    tracer.wrap(run_mod.ValidationRun, "finalize", "run.finalize_s")
    tracer.wrap(Manifest, "save", "plans.manifest.save")


class Loop:
    """Closed-loop driver: one operation in flight, every output checked."""

    def __init__(self, wl, max_ops: int):
        self.wl = wl
        self.max_ops = max_ops
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def op(self):
        self.attempted += 1
        s = self.wl.op()
        if not s.ok:
            self.failed += 1
            self.problems.extend(s.problems)
        return s

    def steady(self, seconds: float):
        """Run operations for about ``seconds`` (at least ``MIN_OPS``), then
        drop the leading ones slower than the median of the rest by more
        than ``SETTLE``.

        Returns the remaining operations and how many were dropped."""
        ops = []
        start = time.time()
        while len(ops) < self.max_ops:
            ops.append(self.op())
            elapsed = time.time() - start
            # start another operation only if it should end inside the window
            if len(ops) >= MIN_OPS and elapsed * (len(ops) + 1) / len(ops) > seconds:
                break
        warm = 0
        while (len(ops) - warm > MIN_OPS
               and ops[warm].run_s > (1 + SETTLE) * med(s.run_s for s in ops[warm + 1:])):
            warm += 1
        return ops[warm:], warm


def med(values) -> float:
    return statistics.median(list(values))


def main(argv=None) -> int:
    args = parse_args(argv)
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(STATE, "work", str(os.getpid()))
    cache = os.path.join(STATE, "inputs")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    pin_env(work)
    try:
        return measure(args, cpus, work, cache)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, cpus: int, work: str, cache: str) -> int:
    import bench
    from workloads import WORKLOADS as CLASSES

    t0 = time.time()
    calibration = bench._host_calibration(cpus)
    calibration_s = time.time() - t0
    conf = session_conf(work)
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            # Spark 4 compresses with zstd by default
            "spark.eventLog.compress": "false",
        })
    spark = build_session(cpus, conf)
    setup_s = time.time() - PROCESS_START - calibration_s
    try:
        t0 = time.time()
        wl = CLASSES[args.workload](spark, cache, work, args.seed)
        input_s = time.time() - t0
        loop = Loop(wl, MAX_OPS)
        cold = loop.op()
        # the sampler walks /proc four times a second: only in traced runs
        with PeakRss() if args.trace else contextlib.nullcontext() as rss:
            samples, warm_ops = loop.steady(args.seconds)
        run_s = med(s.run_s for s in samples)
        metrics = {
            "setup_s": setup_s,
            "cpu_s": med(s.cpu_s for s in samples),
            "run_s": run_s,
            "verdict_s": med(s.verdict_s for s in samples),
            "rows_per_s": wl.rows / run_s,
        }
        if args.trace:
            metrics.update(trace_layers(loop, samples, cpus, cache, args.seed, log_dir))
            metrics.update({
                "cold_run_s": cold.total_s,
                "first_run_s": cold.first_s,
                "peak_rss_mb": rss.peak / 2**20,
                "warmup.ops": warm_ops,
            })
        units = PER_LAYER if args.trace else END_TO_END
    finally:
        shutdown(spark)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": cpus, "rows": wl.rows, "input_s": input_s,
        "wall_s": time.time() - PROCESS_START,
        "warmup_ops": warm_ops, "run_s": metrics["run_s"],
        "verdict_s": metrics["verdict_s"], "rows_per_s": metrics["rows_per_s"],
        "run_s_samples": [s.run_s for s in samples],
        "cpu_s_samples": [s.cpu_s for s in samples],
        "problems": loop.problems[:10], **calibration,
    }))
    correct = loop.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0 if correct else 1


def trace_layers(loop, untraced, cpus: int, cache: str, seed: int, log_dir: str):
    """Per-layer metrics of a session whose event log is on.

    After the steady operations (``untraced``), operations alternate with
    the timing shims on and off; the layer figures come from the ones with
    shims on."""
    from eventlog import Window, attribute, jobs_from_events, layer_metrics
    from eventlog import log_path, read_events
    from workloads import pixel_probe, scan_probe

    wl = loop.wl
    tracer = Tracer()
    untraced, samples = list(untraced), []
    for _ in range(TRACED_PAIRS):
        install_shims(tracer)
        try:
            samples.append(loop.op())
        finally:
            tracer.restore()
        untraced.append(loop.op())
    scans = [scan_probe(wl) for _ in range(PROBE_REPEATS)]
    pix = pixel_probe(wl.spark, cache, seed, PROBE_REPEATS)
    loop.attempted += 1
    if not pix["ok"]:
        loop.failed += 1
        loop.problems.append(pix["problem"])
    files, size = wl.checkpoint_stats()
    wl.spark.stop()  # flushes and closes the event log

    windows = [Window(s.start_ms, s.end_ms) for s in samples]
    attribute(jobs_from_events(read_events(log_path(log_dir))), windows)
    run_s = [s.run_s for s in samples]
    m = layer_metrics(windows, run_s, cpus)
    for name in ("compile.compile_spec_s", "run.init_s", "run.validate_pending_s",
                 "run.finalize_s"):
        m[name] = med(tracer.in_window(name, w.start_ms, w.end_ms)[1] for w in windows)
    m["plans.manifest.saves"] = med(
        tracer.in_window("plans.manifest.save", w.start_ms, w.end_ms)[0] for w in windows
    )
    m["report.materialize_s"] = med(s.run_s - s.verdict_s for s in samples)
    m["trace.run_s"] = med(run_s)
    m["trace.untraced_run_s"] = med(s.run_s for s in untraced)
    m["trace.overhead_s"] = m["trace.run_s"] - m["trace.untraced_run_s"]
    m["checkpoint.files"] = files
    m["checkpoint.bytes_per_row"] = size / wl.rows
    m["sources.scan_s"] = med(scans)
    m["operators.pixel.plan_s"] = med(pix["plan_s"])
    m["operators.pixel.images_per_s"] = med(pix["images_per_s"])
    m["operators.pixel.native_path"] = pix["native_path"]
    return m


if __name__ == "__main__":
    pin_hash_seed()
    sys.exit(main())
