"""Self-time and per-layer arithmetic on synthetic span trees."""

import pytest

from spans import Span, covered, layer_metrics, median_layer_metrics, self_times


def _span(i, parent, layer, start, end, **kw):
    return Span(span_id=i, parent_id=parent, run_id="r", layer=layer, name=layer,
                start=start, end=end, **kw)


def test_covered_merges_overlaps_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(-5, 1), (9, 20)], 0, 10) == 2
    assert covered([], 0, 10) == 0
    assert covered([(3, 3), (4, 2)], 0, 10) == 0


def test_self_time_subtracts_direct_children_only():
    # root 0..10 with children 1..4 and 3..6 (overlapping) and 8..9;
    # the first child has a grandchild 2..3
    tree = [
        _span(0, None, "pipeline", 0, 10),
        _span(1, 0, "blocking", 1, 4),
        _span(2, 1, "matching", 2, 3),
        _span(3, 0, "matching", 3, 6),
        _span(4, 0, "fusion", 8, 9),
    ]
    selfs = self_times(tree)
    assert selfs[0] == pytest.approx(10 - (5 + 1))
    assert selfs[1] == pytest.approx(3 - 1)
    assert selfs[2] == pytest.approx(1)
    assert selfs[3] == pytest.approx(3)
    assert selfs[4] == pytest.approx(1)
    # self times partition the root's duration, except that the 1 s
    # where two sibling spans overlap (3..4) is counted in both
    assert sum(selfs.values()) == pytest.approx(10 + 1)


def test_layer_metrics_sum_per_layer_and_split_driver_time():
    tree = [
        _span(0, None, "pipeline", 0, 10),
        _span(1, 0, "io", 0, 2, job_ids=[1], job_intervals=[(0.5, 1.5)],
              stages={"executor_s": 3.0, "shuffle_write_mb": 1.0, "spill_mb": 0.0,
                      "heaviest_executor_s": 3.0, "task_skew": 2.0}, rows_out=10),
        _span(2, 0, "io", 5, 6, job_ids=[], rows_out=None),
        _span(3, 0, "blocking", 2, 5, job_ids=[2, 3], job_intervals=[(2, 3), (2.5, 4)],
              stages={"executor_s": 8.0, "shuffle_write_mb": 4.0, "spill_mb": 0.5,
                      "heaviest_executor_s": 6.0, "task_skew": 1.5}, rows_out=100),
    ]
    m = layer_metrics(tree)
    assert set(m) == {"io", "blocking"}  # the root is not a package layer
    assert m["io"]["self_s"] == pytest.approx(3)
    assert m["io"]["driver_s"] == pytest.approx(2)  # 3 s span, 1 s in a job
    assert m["io"]["jobs"] == 1
    assert m["io"]["rows_out"] == 10
    assert m["io"]["task_skew"] == pytest.approx(2.0)
    assert m["blocking"]["driver_s"] == pytest.approx(1)  # jobs cover 2..4
    assert m["blocking"]["shuffle_write_mb"] == 4.0
    assert m["blocking"]["spill_mb"] == 0.5


def test_median_across_runs():
    runs = [{"io": {k: v for k in ("self_s", "driver_s", "jobs", "executor_s",
                                   "shuffle_write_mb", "spill_mb", "task_skew",
                                   "rows_out")}} for v in (1.0, 5.0, 2.0)]
    assert median_layer_metrics(runs)["io"]["self_s"] == 2.0
