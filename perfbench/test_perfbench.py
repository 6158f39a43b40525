"""Tests for the benchmark's own logic (no Spark).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.check import rank_check  # noqa: E402
from perfbench.trace import (  # noqa: E402
    JobRec,
    Span,
    StageRec,
    median,
    percentile,
    self_times,
    tail_percentile,
    trimmed_mean,
    union_length,
    window_counters,
)

# ------------------------------------------------------------ percentiles


def test_tail_percentile_needs_ten_samples_beyond():
    # p99 of 1000 samples has exactly 10 beyond it; of 999, only 9
    assert tail_percentile(1000) == 99.0
    assert tail_percentile(999) == 95.0
    assert tail_percentile(200) == 95.0  # 10 beyond p95
    assert tail_percentile(199) == 90.0
    assert tail_percentile(20) == 50.0
    assert tail_percentile(19) is None
    assert tail_percentile(10_000) == 99.9


def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 99) == 99
    assert percentile([3.0], 99) == 3.0


def test_trimmed_mean_drops_stalls_and_tracks_the_mix():
    # 100 samples: 5 stalls at the top and 5 at the bottom are dropped
    xs = [0.0] * 5 + [1.0] * 50 + [2.0] * 40 + [100.0] * 5
    assert math.isclose(trimmed_mean(xs), (50 * 1.0 + 40 * 2.0) / 90)
    # one more sample moving between the modes moves it by a little,
    # where the median jumps from one mode to the other
    a = [1.0] * 50 + [2.0] * 50
    b = [1.0] * 49 + [2.0] * 51
    assert abs(trimmed_mean(b) - trimmed_mean(a)) < 0.02
    assert median(b) - median(a) == 0.5


# ------------------------------------------------------------ spans


def test_self_time_subtracts_union_of_children():
    spans = [
        Span(0, "root", 0.0, 10.0),
        Span(1, "a", 1.0, 4.0, parent=0),
        Span(2, "b", 3.0, 6.0, parent=0),  # overlaps a: union is 1..6
        Span(3, "c", 8.0, 9.0, parent=0),
        Span(4, "a.child", 1.5, 2.0, parent=1),
    ]
    st = self_times(spans)
    assert math.isclose(st[0], 10.0 - 5.0 - 1.0)
    assert math.isclose(st[1], 3.0 - 0.5)
    assert math.isclose(st[2], 3.0)
    assert math.isclose(st[4], 0.5)


def test_union_length_clips_to_window():
    assert union_length([(0, 5), (4, 8), (10, 12)], 2, 11) == 6 + 1


# ------------------------------------------------------------ REST deltas


def _stage(sid, start, end, cpu):
    return StageRec(sid, 0, start, end, 4, cpu, cpu, 0.0, cpu, 0.0, 0.0)


def test_overlapping_stages_split_by_time_and_add_up():
    # two concurrent stage-2 jobs of a build, and a stage straddling the
    # boundary between two sequential spans
    stages = [
        _stage(1, 0.0, 4.0, 8.0),
        _stage(2, 1.0, 3.0, 2.0),
        _stage(3, 3.0, 7.0, 4.0),
    ]
    jobs = [JobRec(1, 0.0, 4.0), JobRec(2, 1.0, 3.0), JobRec(3, 3.0, 7.0)]
    first = window_counters(stages, jobs, 0.0, 5.0)
    second = window_counters(stages, jobs, 5.0, 10.0)
    # stage 3 runs 2 of its 4 s in each window
    assert math.isclose(first["executor_cpu_s"], 8.0 + 2.0 + 2.0)
    assert math.isclose(second["executor_cpu_s"], 2.0)
    total = sum(s.executor_cpu_s for s in stages)
    assert math.isclose(first["executor_cpu_s"] + second["executor_cpu_s"], total)
    assert first["jobs"] == 3 and second["jobs"] == 0
    # jobs cover 0..7: no gap in the first window, 3 of 5 s in the second
    assert math.isclose(first["driver_gap_share"], 0.0)
    assert math.isclose(second["driver_gap_share"], 3.0 / 5.0)


# ------------------------------------------------------------ rank contract


def test_rank_contract_accepts_one_ulp_swap():
    a = 0.06386309394396882
    b = math.nextafter(a, 1.0)
    expected = [(1, b), (2, a), (3, 0.01)]
    got = [(2, a), (1, b), (3, 0.01)]  # near-tie swapped
    assert rank_check(expected, got) is None


def test_rank_contract_rejects_misplaced_doc():
    expected = [(1, 0.9), (2, 0.5), (3, 0.1)]
    assert rank_check(expected, [(1, 0.9), (3, 0.1), (2, 0.5)]) is not None


def test_rank_contract_scores_and_sets():
    expected = [(1, 0.9), (2, 0.5)]
    assert rank_check(expected, [(1, 0.9), (2, 0.5 + 1e-6)]) is not None
    assert rank_check(expected, [(1, 0.9), (7, 0.5)]) is not None
    assert rank_check(expected, [(1, 0.9)]) is not None


def test_rank_contract_top_k_cut_ties():
    # docs 3 and 4 tie at the k-th score to within 1e-9: either may be cut
    expected = [(1, 0.9), (2, 0.7), (3, 0.5), (4, 0.5 - 1e-12), (5, 0.1)]
    assert rank_check(expected, [(1, 0.9), (2, 0.7), (4, 0.5 - 1e-12)], k=3) is None
    assert rank_check(expected, [(1, 0.9), (2, 0.7), (3, 0.5)], k=3) is None
    # a doc clearly above the cut must be present
    assert rank_check(expected, [(1, 0.9), (3, 0.5), (4, 0.5 - 1e-12)], k=3) is not None
    # a doc clearly below the cut may not stand in
    assert rank_check(expected, [(1, 0.9), (2, 0.7), (5, 0.1)], k=3) is not None


def test_rank_contract_nan_scores():
    nan = float("nan")
    expected = [(1, 0.4), (2, nan), (3, nan)]
    assert rank_check(expected, [(3, nan), (1, 0.4), (2, nan)]) is None
    assert rank_check(expected, [(1, 0.4), (2, 0.3), (3, nan)]) is not None
