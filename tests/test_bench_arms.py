"""Smoke test for bench.py: every arm of its table runs once, untimed,
on the session fixture, and the session outlives the table's caches."""

import bench

from conftest import SF_DIR


def test_every_bench_arm_runs_once(spark):
    rows, cached = bench.arms(spark, SF_DIR)
    try:
        names = [name for name, _, _, _ in rows]
        assert len(rows) == 18 and len(set(names)) == 18
        assert sum(1 for *_, headline in rows if headline) == 7
        for _, fn, _, _ in rows:
            fn()
    finally:
        for df in cached.values():
            df.unpersist()
    assert spark.range(3).count() == 3
