"""Smoke test for the one timing harness in bench.py, which both
`python bench.py` and tools/perf_probe.py time with."""

from __future__ import annotations

import math

import bench


def test_warm_and_best_of_time_two_headline_queries(spark, sf_dir):
    names = bench.HEADLINE[:2]
    bench.warm(spark, names, sf_dir)
    qs = bench.queries()
    times = {
        name: bench.best_of(spark, qs[name], sf_dir, 1, sink)
        for name, sink in zip(names, ("collect", "noop"))
    }
    assert all(math.isfinite(t) and t > 0 for t in times.values()), times
    record = bench.result(times, sf_dir)
    assert set(record) == {"metric", "value", "unit", "queries", "sf"}
    assert record["queries"] == times
