"""bench.py's JSON line: the hot noop-sink series under ``queries`` and
no count()-action series beside it."""

from __future__ import annotations

import bench


def test_record_carries_the_noop_series_only():
    hot = {"a": 1.0, "b": 4.0}
    rec = bench.bench_record(hot, {"a": 2.0, "b": 5.0}, {}, "0.1", {})
    assert rec["queries"] == hot
    assert rec["value"] == 5.0 and rec["geomean"] == 2.0
    assert rec["cold_total"] == 7.0 and rec["n_queries"] == 2 and rec["sf"] == 0.1
    assert not [k for k in rec if "count" in k]
