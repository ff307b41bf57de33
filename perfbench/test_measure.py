"""Self-tests of the benchmark's own logic; no Spark needed.

    python3 -m pytest perfbench/test_measure.py -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import statistics
import subprocess
import sys

import pytest

from perfbench.measure import (
    GroupStats,
    Span,
    Tracer,
    fingerprint,
    group_event_log,
    read_event_log,
    reportable_percentile,
    same_fingerprint,
    self_time_by_name,
    self_times,
    summarize,
    tree_cpu_s,
)

EVENTS = os.path.join(os.path.dirname(__file__), "testdata", "events_small.jsonl")


# ---------------------------------------------------------------------------
# self time of nested spans
# ---------------------------------------------------------------------------


def test_self_time_subtracts_children_not_grandchildren():
    spans = [
        Span("iteration", 0.0, 10.0),
        Span("decode", 1.0, 4.0, parent=0),
        Span("rank", 5.0, 9.0, parent=0),
        Span("sink", 6.0, 8.0, parent=2),
    ]
    assert self_times(spans) == [3.0, 3.0, 2.0, 2.0]
    # the layers' self times plus the root's (the untraced gap) add up to the root
    assert sum(self_times(spans)) == pytest.approx(spans[0].duration)


def test_self_time_counts_overlapping_children_once():
    spans = [Span("root", 0.0, 10.0), Span("a", 1.0, 5.0, parent=0), Span("b", 3.0, 7.0, parent=0)]
    assert self_times(spans)[0] == pytest.approx(4.0)


def test_self_time_by_name_sums_repeated_spans():
    spans = [
        Span("iteration", 0.0, 6.0),
        Span("sink", 1.0, 2.0, parent=0),
        Span("sink", 4.0, 5.5, parent=0),
    ]
    assert self_time_by_name(spans) == {"iteration": 3.5, "sink": 2.5}


def test_tracer_paths_nesting_and_own_time():
    ticks = iter(range(100))
    paths = []
    tr = Tracer(on_change=paths.append, clock=lambda: float(next(ticks)))
    with tr.span("iteration"):
        with tr.span("rank"):
            pass
    assert paths == ["iteration", "iteration/rank", "iteration", None]
    root, rank = tr.spans
    assert rank.parent == 0 and root.parent is None
    assert root.start < rank.start < rank.end < root.end
    # each span takes one tick on entry and one on exit outside its interval
    assert tr.own_s == 4.0


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


def test_group_event_log_attributes_jobs_by_description_path():
    groups = group_event_log(read_event_log(EVENTS))
    total, it, decode, rank = groups["*"], groups["iteration"], groups["decode"], groups["rank"]
    # 5 jobs, one without a description (counted only in the total)
    assert (total.jobs, total.tasks, total.gc_ms) == (5, 9, 40)
    assert total.shuffle_write_bytes == 7050
    assert (it.jobs, it.tasks) == (3, 7)
    assert (decode.jobs, decode.tasks, decode.shuffle_write_bytes) == (1, 2, 6352)
    assert (rank.jobs, rank.tasks, rank.shuffle_write_bytes) == (2, 5, 698)
    assert groups["probe.stream"].jobs == 1
    assert total.spill_bytes == 0 and total.input_bytes == 0


def test_task_skew_uses_the_stage_with_most_task_time():
    groups = group_event_log(read_event_log(EVENTS))
    # rank's stages: [163, 162, 12] ms and [17, 20] ms
    assert groups["rank"].task_skew() == pytest.approx(163 / 162)
    assert GroupStats().task_skew() == 0.0


def test_read_event_log_reads_a_directory():
    events = list(read_event_log(os.path.dirname(EVENTS)))
    assert len(events) == 14


# ---------------------------------------------------------------------------
# percentile and sample-count rule
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "n, want",
    [(1, None), (19, None), (20, 50.0), (99, 50.0), (100, 90.0), (999, 90.0), (1000, 99.0), (10_000, 99.9)],
)
def test_reportable_percentile_needs_ten_samples_beyond(n, want):
    assert reportable_percentile(n) == want


def test_summarize_reports_median_count_and_supported_tail():
    vals = [float(i) for i in range(1, 101)]
    out = summarize(vals)
    assert out["median"] == statistics.median(vals)
    assert out["n"] == 100
    assert set(out) == {"median", "n", "p90"}
    assert summarize([3.0, 1.0, 2.0]) == {"median": 2.0, "n": 3}


# ---------------------------------------------------------------------------
# output fingerprints
# ---------------------------------------------------------------------------


def test_fingerprint_ignores_order_but_counts_duplicates():
    a = fingerprint([(1, "x"), (2, "y"), (2, "y")])
    assert same_fingerprint(a, fingerprint([(2, "y"), (1, "x"), (2, "y")]))
    assert not same_fingerprint(a, fingerprint([(1, "x"), (2, "y")]))
    assert not same_fingerprint(a, fingerprint([(1, "x"), (2, "y"), (2, "z")]))
    assert a["rows"] == 3


def test_fingerprint_distinguishes_value_types():
    assert not same_fingerprint(fingerprint([(1,)]), fingerprint([(1.0,)]))


# ---------------------------------------------------------------------------
# CPU time of a process tree
# ---------------------------------------------------------------------------


def test_tree_cpu_counts_reaped_children_and_skips_named_threads():
    me = os.getpid()
    before = tree_cpu_s(me)
    subprocess.run([sys.executable, "-c", "sum(i * i for i in range(3_000_000))"], check=True)
    after = tree_cpu_s(me)
    assert after - before >= 0.05
    with open(f"/proc/{me}/comm") as fh:
        main_thread = fh.read().strip()
    assert tree_cpu_s(me, (main_thread,)) < after
