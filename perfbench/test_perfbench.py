"""Tests of the benchmark's own logic: ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import itertools

import numpy as np
import pytest

from perfbench import batch, measure
from perfbench.oracle import PrefixSkyline, skyline_mask_ref, snapshot_violations


def _brute_skyline(pts: np.ndarray) -> np.ndarray:
    keep = np.ones(len(pts), dtype=bool)
    for i, j in itertools.product(range(len(pts)), repeat=2):
        if (pts[j] <= pts[i]).all() and (pts[j] < pts[i]).any():
            keep[i] = False
    return keep


@pytest.mark.parametrize(
    "n, pct",
    [(1, 50.0), (19, 50.0), (20, 50.0), (30, 66.0), (40, 75.0), (100, 90.0), (1000, 99.0),
     (10_000, 99.9)],
)
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, pct):
    vals = list(range(n, 0, -1))  # unsorted input
    p, v = measure.tail(vals)
    assert p == pct
    if n >= 20:
        assert sum(x > v for x in vals) >= 10
        # one rung higher would leave fewer than ten beyond
        higher = [q for q in (99.9, *range(99, 49, -1)) if q > p]
        if higher:
            q = min(higher)
            assert sum(x > measure.nearest_rank(sorted(vals), q) for x in vals) < 10


def test_tail_needs_samples():
    with pytest.raises(ValueError):
        measure.tail([])


def test_reference_skyline_matches_brute_force():
    rng = np.random.default_rng(3)
    pts = rng.integers(0, 6, size=(300, 3)).astype(float)  # many ties and duplicates
    assert (skyline_mask_ref(pts, block=16) == _brute_skyline(pts)).all()


def test_prefix_skyline_grows_incrementally():
    rng = np.random.default_rng(4)
    pts = rng.integers(0, 20, size=(200, 3)).astype(float)
    prefix = PrefixSkyline(pts)
    for r in (0, 17, 18, 90, 199):
        got = np.sort(prefix.advance(r))
        want = np.flatnonzero(_brute_skyline(pts[: r + 1]))
        assert (got == want).all()
    with pytest.raises(ValueError):
        prefix.advance(5)


# A hand-built stream: ids are arrival order, the trigger asks for r = 3.
# Partition 0 holds ids 0, 2, 4 and has released (it saw id 4 >= 3).
# Partition 1 holds ids 1, 3, 5 but, so far, has seen only id 1: it is
# still waiting at its barrier.
_POINTS = np.array([
    [5, 5],   # 0  p0  dominated by id 3
    [1, 9],   # 1  p1
    [9, 1],   # 2  p0  dominated by id 4 (after r)
    [3, 3],   # 3  p1
    [8, 0],   # 4  p0  after r
    [0, 10],  # 5  p1  after r
], dtype=float)
_R = 3


def _answer(ids):
    return np.array([[i, *_POINTS[i]] for i in ids])


def test_snapshot_check_accepts_superset_snapshot():
    sky = PrefixSkyline(_POINTS).advance(_R)
    assert sorted(sky.tolist()) == [1, 2, 3]
    # both partitions released: SKY of p0 {0, 4} and p1 {1, 3, 5}; it holds
    # ids past r, which a snapshot may
    held = [0, 4, 1, 3, 5]
    merged = [i for i, keep in zip(held, _brute_skyline(_POINTS[held])) if keep]
    assert sorted(merged) == [1, 3, 4, 5]
    assert snapshot_violations(_POINTS, sky, _answer(merged)) == {
        "dominated": 0, "missing": 0, "bad_rows": 0}


def test_snapshot_check_rejects_answer_from_partition_still_at_barrier():
    sky = PrefixSkyline(_POINTS).advance(_R)
    # emitted without waiting for partition 1: its stale state {1} stands in
    premature = [0, 4, 1]
    v = snapshot_violations(_POINTS, sky, _answer(premature))
    assert v["dominated"] == 1  # id 0 is dominated by id 3 <= r
    assert v["missing"] == 1  # id 3 is neither returned nor dominated


def test_snapshot_check_rejects_altered_rows():
    sky = PrefixSkyline(_POINTS).advance(_R)
    rows = _answer([1, 3, 4, 5])
    rows[0, 1] += 0.5
    rows = np.vstack([rows, [99, 0, 0]])
    assert snapshot_violations(_POINTS, sky, rows)["bad_rows"] == 2


def test_sequences_use_distinct_inputs_and_depend_on_seed():
    for wl in batch.WORKLOADS.values():
        cold, seq = wl.sequence(7)
        keys = [cold.key, *(q.key for q in seq)]
        assert len(keys) == len(set(keys)) == sum(len(v) for v in wl.pool().values())
        assert wl.sequence(7) == (cold, seq)
        assert wl.sequence(8) != (cold, seq)
    # the anti-correlated lanes alternate, starting after the cold a4 query
    cold, seq = batch.WORKLOADS["batch_anti_hd"].sequence(1)
    assert cold.key.startswith("a4:")
    assert [q.key[:2] for q in seq[:4]] == ["b3", "a4", "b3", "a4"]


@pytest.fixture(scope="module")
def spark():
    from query_skyline_qos_flink_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests", cpus=2)
    yield s
    s.stop()


def test_fingerprint_is_stable(spark):
    from perfbench.oracle import fingerprint, row_hashes

    rows = [(i, float(i % 7), float(-i), None if i == 3 else "x" * i) for i in range(40)]
    df = spark.createDataFrame(rows, "id bigint, a double, b double, s string")
    fp = fingerprint(df)
    assert fp == (40, 48252765679)  # pinned: a change here changes every pinned answer
    # independent of partitioning and row order
    assert fingerprint(df.repartition(5).orderBy("b")) == fp
    # every column counts
    assert fingerprint(df.withColumn("a", df.a + 1)) != fp
    # the per-row terms add up to the fingerprint
    assert int(row_hashes(df).sum()) == fp[1]
    assert fingerprint(df.where("id < 0")) == (0, 0)


def test_fingerprint_does_not_overflow_under_ansi(spark):
    from perfbench.oracle import fingerprint

    spark.conf.set("spark.sql.ansi.enabled", "true")
    df = spark.range(200_000).selectExpr("id", "id * 7919 AS k")
    n, h = fingerprint(df)
    assert n == 200_000 and 0 < h < n * (1 << 31)
