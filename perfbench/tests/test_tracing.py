"""The benchmark's own arithmetic: percentiles, self time, and the
event-log profile attributed to spans."""

from pathlib import Path

import pytest

import tracing
from tracing import Span, Tracer

FRAGMENT = Path(__file__).parent / "data" / "eventlog_fragment.jsonl"


def test_percentile_is_nearest_rank_with_sample_count():
    values = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert tracing.percentile(values, 50) == (3.0, 5)
    assert tracing.percentile(values, 90) == (5.0, 5)
    assert tracing.percentile(values, 20) == (1.0, 5)
    assert tracing.percentile(list(range(1, 101)), 90) == (90, 100)
    assert tracing.percentile([7.0], 99) == (7.0, 1)


def test_percentile_rejects_no_samples_and_bad_rank():
    with pytest.raises(ValueError):
        tracing.percentile([], 50)
    with pytest.raises(ValueError):
        tracing.percentile([1.0], 0)


def test_median_even_and_odd():
    assert tracing.median([3.0, 1.0, 2.0]) == 2.0
    assert tracing.median([4.0, 1.0, 3.0, 2.0]) == 2.5


def span(id_, start, end, parent=None, name="s"):
    return Span(id_, name, start, end, parent, None)


def test_self_time_subtracts_covered_union_of_children():
    parent = span(0, 0.0, 10.0)
    children = [
        span(1, 1.0, 3.0, 0),
        span(2, 2.0, 4.0, 0),  # overlaps the first: counted once
        span(3, 6.0, 7.0, 0),
        span(4, 9.5, 12.0, 0),  # runs past the parent: clipped
    ]
    assert tracing.self_time(parent, children) == pytest.approx(10.0 - 3.0 - 1.0 - 0.5)
    assert tracing.self_time(parent, []) == 10.0


def test_tracer_nests_spans_and_inherits_the_op():
    tr = Tracer()
    with tr.span("op", op="q1") as op:
        with tr.span("plans.build") as build:
            pass
    assert build.parent == op.id and build.op == "q1"
    assert op.parent is None and op.end >= build.end >= build.start >= op.start
    assert tracing.self_times(tr.spans) == pytest.approx(
        {"op": op.seconds - build.seconds, "plans.build": build.seconds}
    )


def fragment_jobs():
    return tracing.read_event_log(FRAGMENT.read_text().splitlines())


def fragment_spans():
    import json

    return [Span(**s) for s in json.loads((FRAGMENT.parent / "fragment_spans.json").read_text())]


def test_event_log_jobs_keep_only_stages_that_ran():
    jobs = fragment_jobs()
    assert [j.id for j in jobs] == [0, 1, 2, 3]
    # job 2 re-reads job 1's shuffle: its map stage is listed but skipped
    assert [len(j.stages) for j in jobs] == [2, 2, 1, 2]
    assert [sum(len(st.tasks) for st in j.stages) for j in jobs] == [3, 5, 3, 3]


def test_jobs_attributed_to_innermost_span_at_submit_time():
    by_span = tracing.attribute_jobs(fragment_jobs(), fragment_spans())
    # span 1 (plans.act) is inside span 0 (op): its jobs are not the op's
    assert {s: [j.id for j in js] for s, js in by_span.items()} == {1: [1, 2], 2: [3]}
    # job 0 ran before any span; job 3 came from a worker thread inside span 2


def test_spark_profile_of_one_span():
    by_span = tracing.attribute_jobs(fragment_jobs(), fragment_spans())
    prof = tracing.spark_profile(by_span[1], wall_s=1.0, cores=4)
    assert prof["spark.jobs"] == 2
    assert prof["spark.stages"] == 3
    assert prof["spark.tasks"] == 8
    assert prof["spark.shuffle_write_bytes"] == 460
    assert prof["spark.shuffle_read_bytes"] == 920
    assert prof["spark.task_s"] == pytest.approx(0.842)
    assert prof["spark.work_share"] == pytest.approx(0.842 / 4)
    assert prof["spark.small_stages"] == 1  # the 59 ms re-read stage
    assert prof["spark.underparallel_stages"] == 3
    assert tracing.spark_profile(by_span[1], 1.0, cores=2)["spark.underparallel_stages"] == 0
    assert prof["spark.failed_tasks"] == 0 and prof["spark.spill_bytes"] == 0


def test_failed_task_is_counted():
    jobs = fragment_jobs()
    jobs[3].stages[0].tasks[0].failed = True
    assert tracing.spark_profile(jobs, 1.0, 4)["spark.failed_tasks"] == 1


def test_sched_overhead_is_duration_minus_accounted_time():
    task = fragment_jobs()[1].stages[0].tasks[0]
    accounted = task.run_ms + task.deserialize_ms + task.result_ser_ms + task.fetch_wait_ms
    assert task.sched_overhead_ms == task.finish_ms - task.launch_ms - accounted
    assert 0 <= task.sched_overhead_ms < task.duration_ms
