"""The phase-2 split DECISION (engine._plan_group_splits), Spark-free.
A split re-exchanges the whole probed corpus and rebuilds each split
group's tree once per sub-group, so a kNN batch splits only when its
heaviest group is the critical path: more than so3engine._KNN_SPLIT_GATE
times the balanced per-core share."""

import numpy as np

from sparkkd import engine, so3engine

KNN_TARGET = so3engine._KNN_SPLIT_TARGET
KNN_GATE = so3engine._KNN_SPLIT_GATE


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


def _plan(keys, cand, rows, par, gate=KNN_GATE):
    return engine._plan_group_splits(keys, cand, rows, par, KNN_TARGET, gate)


def test_pose_knn_batch_does_not_split():
    """A pose_knn batch at local[4]: 514 groups, 14.1M units, heaviest
    4.65M = 1.3x a core's 3.5M share.  The ungated sizing would split
    the top two groups 3 ways each (re-exchanging every probed corpus row
    for it); the gate keeps the batch whole."""
    keys, cand, rows = _batch([4_650_000, 3_490_000, 1_470_000], 511, 8_790)
    assert 14_000_000 < int((cand * rows).sum()) < 14_200_000
    assert _plan(keys, cand, rows, par=4) == {}
    assert _plan(keys, cand, rows, par=4, gate=0.0) == {
        int(keys[0]): 3, int(keys[1]): 3
    }


def test_critical_path_group_splits_with_unchanged_sizing():
    """One group at ~10x a core's share (the sf0.1 se3 batch at
    parallelism 32: heaviest 18.1M of 56.9M units) opens the gate and
    splits exactly as the ungated sizing does: adaptive target
    max(total / (3 x 32), 100M / 64) = 1.5625M -> ceil(18.1M / 1.5625M)
    = 12 sub-groups; the light groups stay whole."""
    keys, cand, rows = _batch([18_100_000], 388, 100_000)
    assert int((cand * rows).sum()) == 56_900_000
    gated = _plan(keys, cand, rows, par=32)
    assert gated == {int(keys[0]): 12}
    assert gated == _plan(keys, cand, rows, par=32, gate=0.0)
    # the same batch at 4 cores: 18.1M is 1.27x a share -> no split
    assert _plan(keys, cand, rows, par=4) == {}


def test_batch_below_floor_does_not_split():
    """A batch whose total work is below the target floor (100M / 64)
    never splits, even with one group holding 90% of it."""
    keys, cand, rows = _batch([900_000], 10, 10_000)
    assert int((cand * rows).sum()) < KNN_TARGET // 64
    assert _plan(keys, cand, rows, par=4) == {}
    empty = np.array([], np.int64)
    assert _plan(empty, empty, empty, par=4) == {}


def test_split_respects_row_and_fanout_limits():
    """Past the gate: >= 64 candidate rows per sub-group and <= 256
    sub-groups per group."""
    keys = np.array([0, 1 << 12], np.int64)
    few = _plan(keys, np.array([200, 1]), np.array([10**6, 1]), par=4)
    assert few == {0: 3}  # 200 // 64, not ceil(200M / 1.5625M) = 128
    many = _plan(keys, np.array([10**6, 1]), np.array([10**6, 1]), par=4)
    assert many == {0: 256}
