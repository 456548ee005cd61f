"""The heavy-group split DECISION (engine._plan_group_splits), Spark-free.
Radius joins are its only callers; kNN is one pass with no planner."""

import numpy as np

from sparkkd import engine

TARGET = 4_000_000  # engine._split_heavy_cogroups' default split_target


def _batch(heavy, rest_groups, rest_work, corpus_rows=1000):
    """part_keys, candidate rows and corpus rows per group: the heavy
    groups carry ``heavy`` work units each (as cand x corpus_rows), the
    rest ``rest_work`` each."""
    cand = np.array(
        [w // corpus_rows for w in heavy] + [10] * rest_groups, np.int64
    )
    rows = np.array(
        [corpus_rows] * len(heavy) + [rest_work // 10] * rest_groups, np.int64
    )
    keys = np.arange(len(cand), dtype=np.int64) << engine.SALT_SHIFT
    return keys, cand, rows


def _plan(keys, cand, rows, par):
    return engine._plan_group_splits(keys, cand, rows, par, TARGET)


def test_critical_path_group_splits_with_unchanged_sizing():
    """One heavy group among many light ones (heaviest 18.1M of 56.9M
    units) splits by the adaptive target max(total / (3 x par),
    TARGET / 64), capped at TARGET: at parallelism 32 that is 592,708 ->
    ceil(18.1M / 592,708) = 31 sub-groups; at 4 it is the static 4M ->
    5.  The light groups stay whole."""
    keys, cand, rows = _batch([18_100_000], 388, 100_000)
    assert int((cand * rows).sum()) == 56_900_000
    assert _plan(keys, cand, rows, par=32) == {int(keys[0]): 31}
    assert _plan(keys, cand, rows, par=4) == {int(keys[0]): 5}


def test_batch_below_floor_does_not_split():
    """A batch whose total work is below the target floor (TARGET / 64)
    never splits, even with one group holding 90% of it."""
    keys, cand, rows = _batch([54_000], 10, 600)
    assert int((cand * rows).sum()) < TARGET // 64
    assert _plan(keys, cand, rows, par=4) == {}
    empty = np.array([], np.int64)
    assert _plan(empty, empty, empty, par=4) == {}


def test_split_respects_row_and_fanout_limits():
    """>= 64 candidate rows per sub-group and <= 256 sub-groups per
    group."""
    keys = np.array([0, 1 << 12], np.int64)
    few = _plan(keys, np.array([200, 1]), np.array([10**6, 1]), par=4)
    assert few == {0: 3}  # 200 // 64, not ceil(200M / 4M) = 50
    many = _plan(keys, np.array([10**6, 1]), np.array([10**6, 1]), par=4)
    assert many == {0: 256}
