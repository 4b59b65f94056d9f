"""Event-log parser and per-layer summary.

``data/eventlog_v2_local-1792176600132`` is a rolling log recorded from
Spark 4.1.2 on local[2], split over two ``events_<n>`` files and trimmed to
the fields the parser reads. Its jobs, in order:

0. ``batch: row pass`` from the main thread;
1. no description, from the main thread;
2. ``finalize: fused global stats`` from a pool thread;
3. no description, from a pool thread;
4. ``drift bin-edge prefetch`` job group, which sets the description.

Jobs 5 (``perfbench: report``) and 6 (no description; lists job 4's
finished stage 8 again and runs stage 10) were added by hand, as was a
task end for a stage no job listed.
"""

import os

import pytest

from eventlog import (
    PHASE_NAMES,
    Window,
    attribute,
    jobs_from_events,
    layer_metrics,
    log_path,
    phase_of,
    read_events,
)

DATA = os.path.join(os.path.dirname(__file__), "data")


@pytest.fixture
def jobs():
    return jobs_from_events(read_events(log_path(DATA)))


def test_rolling_log_is_read_across_files(jobs):
    assert sorted(jobs) == [0, 1, 2, 3, 4, 5, 6]


def test_jobs_are_grouped_by_description_prefix(jobs):
    assert [jobs[i].phase for i in sorted(jobs)] == [
        "batch", "unlabelled", "finalize", "unlabelled", "drift_prefetch",
        "report", "unlabelled",
    ]


def test_task_metrics_are_summed_per_job(jobs):
    j = jobs[0]
    assert (j.stages, j.tasks, j.run_ms) == (2, 3, 331 + 330 + 105)
    assert j.cpu_ns == 223191779 + 108222899 + 86756208
    assert j.shuffle_write_bytes == 118
    assert jobs[5].spill_bytes == 2 * 2**20


def test_reused_stage_stays_with_the_job_that_ran_it(jobs):
    assert (jobs[4].stages, jobs[4].tasks, jobs[4].run_ms) == (1, 1, 105)
    assert (jobs[6].stages, jobs[6].tasks, jobs[6].run_ms) == (1, 1, 20)


def test_rolling_files_are_read_in_numeric_order(tmp_path):
    log = tmp_path / "eventlog_v2_app"
    log.mkdir()
    for n in (10, 2, 1):
        (log / f"events_{n}_app").write_text(
            f'{{"Event": "SparkListenerJobStart", "Job ID": {n}, '
            f'"Submission Time": {n}, "Stage IDs": []}}\n'
        )
    assert [e["Job ID"] for e in read_events(log_path(str(tmp_path)))] == [1, 2, 10]


def test_log_path_wants_exactly_one_log(tmp_path):
    with pytest.raises(ValueError):
        log_path(str(tmp_path))
    (tmp_path / "a").mkdir()
    (tmp_path / "b").mkdir()
    with pytest.raises(ValueError):
        log_path(str(tmp_path))


def test_phase_of():
    assert phase_of(None) == "unlabelled"
    assert phase_of("partition discovery") == "unlabelled"
    assert phase_of("batch: violation totals") == "batch"
    assert phase_of("perfbench: report check") == "report"
    assert phase_of("perfbench: probe scan") == "probe"


def test_jobs_outside_every_window_are_dropped(jobs):
    sub = {j.submitted_ms for j in jobs.values()}
    w = Window(min(sub), jobs[1].submitted_ms)
    attribute(jobs, [w])
    assert w.total().jobs == 2
    assert w.phases["batch"].jobs == 1
    assert w.phases["unlabelled"].jobs == 1
    assert set(w.phases) == set(PHASE_NAMES)


def test_layer_metrics_take_the_median_over_windows(jobs):
    first = Window(jobs[0].submitted_ms, jobs[3].submitted_ms)
    second = Window(jobs[4].submitted_ms, jobs[6].submitted_ms)
    attribute(jobs, [first, second])
    m = layer_metrics([first, second], run_s=[2.0, 1.0], cores=2)
    # first: jobs 0-3 (12 tasks, 1095 ms); second: jobs 4-6 (3 tasks, 325 ms)
    assert m["spark.jobs"] == 3.5
    assert m["spark.tasks"] == 7.5
    assert m["spark.exec_run_s"] == pytest.approx((1.095 + 0.325) / 2)
    assert m["spark.driver_gap_s"] == pytest.approx(
        ((2.0 - 1.095 / 2) + (1.0 - 0.325 / 2)) / 2
    )
    assert m["spark.unlabelled.jobs"] == 1.5
    assert m["spark.unlabelled.share"] == pytest.approx(
        ((97 + 77) / 1095 + 20 / 325) / 2
    )
    assert m["spark.report.jobs"] == 0.5
    assert m["spark.spill_mb"] == 1.0
    assert m["spark.finalize.shuffle_write_mb"] == pytest.approx(118 / 2**20 / 2)
    assert "spark.probe.jobs" not in m


def test_layer_metrics_need_one_wall_time_per_window():
    with pytest.raises(ValueError):
        layer_metrics([Window(0, 1)], run_s=[], cores=1)
