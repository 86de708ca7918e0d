"""Event-log parsing on a recorded log: three jobs of a 2-core local
session, one per job group — a 12-file ``kafka_segment`` scan of 120
records (group ``scan``), a two-stage shuffle aggregate (``agg``), and
an ungrouped ``count()``."""

import os

import eventlog

FIXTURE = os.path.join(os.path.dirname(__file__), "eventlog_small.jsonl")


def test_jobs_stages_tasks_per_group():
    stats = eventlog.parse_file(FIXTURE)
    assert set(stats) == {"scan", "agg", None}
    assert (stats["scan"].jobs, stats["scan"].stages, stats["scan"].tasks) == (1, 1, 12)
    assert (stats["agg"].jobs, stats["agg"].stages, stats["agg"].tasks) == (1, 2, 7)
    assert (stats[None].jobs, stats[None].stages, stats[None].tasks) == (1, 2, 3)


def test_segment_rows_come_from_the_scan_node_only():
    stats = eventlog.parse_file(FIXTURE)
    assert stats["scan"].segment_rows == 120
    assert stats["agg"].segment_rows == 0


def test_shuffle_bytes_balance_and_no_spill():
    stats = eventlog.parse_file(FIXTURE)
    agg = stats["agg"]
    assert agg.shuffle_write_bytes > 0
    assert agg.shuffle_read_bytes == agg.shuffle_write_bytes
    assert stats["scan"].shuffle_write_bytes == 0
    assert all(s.spill_bytes == 0 for s in stats.values())


def test_executor_time_and_job_intervals():
    stats = eventlog.parse_file(FIXTURE)
    for st in stats.values():
        assert st.executor_run_ms > 0
        assert len(st.job_intervals) == st.jobs
        assert all(end >= start for start, end in st.job_intervals)


def test_merge_sums_groups_across_logs():
    one = eventlog.parse_file(FIXTURE)
    both = eventlog.merge([one, eventlog.parse_file(FIXTURE)])
    assert both["scan"].tasks == 2 * one["scan"].tasks
    assert both["agg"].job_intervals == one["agg"].job_intervals * 2
