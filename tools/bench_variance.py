"""Run bench.py N times in fresh processes and report per-run totals plus
per-query min/median/max — the variance evidence the round-2 verdict asked
for ("re-run the bench with trials logged so noise vs regression is
decidable", VERDICT.md What's-wrong #1).

Each run is a fresh `python bench.py` process (fresh JVM, fresh Python
workers) so runs are independent samples of the shared-VM's noise; within a
run bench.py already reports best-of-MDV_BENCH_TRIALS. Output: a markdown
table written to BENCH/VARIANCE.md plus one JSON line per run on stdout.

Usage: python tools/bench_variance.py [n_runs]
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    n_runs = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    runs: list[dict] = []
    for i in range(n_runs):
        t0 = time.time()
        out = subprocess.run(
            [sys.executable, os.path.join(REPO, "bench.py")],
            capture_output=True, text=True, timeout=3600, cwd=REPO,
        )
        line = [l for l in out.stdout.splitlines() if l.startswith("{")]
        if not line:
            print(out.stdout[-2000:], file=sys.stderr)
            print(out.stderr[-2000:], file=sys.stderr)
            raise RuntimeError(f"run {i}: no JSON line from bench.py")
        rec = json.loads(line[-1])
        rec["run_wall"] = round(time.time() - t0, 1)
        runs.append(rec)
        print(json.dumps(rec), flush=True)

    queries = list(runs[0]["queries"])
    rows = []
    for q in queries:
        vals = [r["queries"][q] for r in runs]
        rows.append(
            f"| {q} | {min(vals):.3f} | {statistics.median(vals):.3f} | "
            f"{max(vals):.3f} |"
        )
    totals = [r["value"] for r in runs]
    px = [r["pixel_images_per_sec"] for r in runs]
    sv = [r["images_per_sec"] for r in runs]
    md = f"""# BENCH variance — {n_runs} independent bench.py runs

Fresh process per run (fresh JVM + Python workers); each run's per-query
number is already best-of-{runs[0].get('trials', '?')} within the run.
sf={runs[0]['sf']}, local[{runs[0]['cpus']}], suite_rows={runs[0]['suite_rows']:,},
pixel_rows={runs[0]['pixel_rows']:,}.

| query | min (s) | median (s) | max (s) |
|---|---|---|---|
{os.linesep.join(rows)}

| run | total (s) | suite img/s | pixel img/s | host cal 1p (ops/s) | host cal 32p sum |
|---|---|---|---|---|---|
""" + "\n".join(
        f"| {i} | {r['value']} | {r['images_per_sec']:,.0f} | "
        f"{r['pixel_images_per_sec']:,.0f} | "
        f"{r.get('host_cpu_ops_per_sec_1p', 0):,} | "
        f"{r.get('host_cpu_ops_per_sec_sum', 0):,} |"
        for i, r in enumerate(runs)
    ) + f"""

Totals: min {min(totals):.2f} s, median {statistics.median(totals):.2f} s,
max {max(totals):.2f} s. Pixel throughput: best {max(px):,.0f} img/s.
Suite throughput: best {max(sv):,.0f} img/s.
"""
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "VARIANCE.md"), "w") as f:
        f.write(md)
    print(f"wrote BENCH/VARIANCE.md ({n_runs} runs)", file=sys.stderr)


if __name__ == "__main__":
    main()
