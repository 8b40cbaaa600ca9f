"""Focused per-query timing with the noop sink (guide §1.4).

Usage: python tools/bench_one.py [-n REPS] query [query ...]
Times each query REPS times (default 5) after one warm run, via
df.write.format("noop") so the full computation (every column) is paid
without driver-transfer cost.  Prints per-rep times + min/median.

NOT the driver-contract bench (bench.py is); this is the measurement
loop for optimization work.  :func:`noop_s` is the one timing primitive:
bench.py calls it directly, the other tools (ab_bench, scaling_sf1,
profile_dedup_near) through :func:`hot_noop`.  This module imports
``daisy_spark`` only inside functions: a caller decides which tree is
first on ``sys.path`` before it calls in.
"""

from __future__ import annotations

import os
import statistics
import sys
import time


def hot_session(app: str, sf_dir: str):
    """A Spark session with the bucketed mirror built (unless
    ``SPARK_GRAFT_BUCKET=0``) and codegen warmed by one query."""
    from daisy_spark.catalog import build_bucketed_mirror
    from daisy_spark.queries import QUERIES
    from daisy_spark.session import get_spark

    spark = get_spark(app)
    spark.sparkContext.setLogLevel("ERROR")
    if os.environ.get("SPARK_GRAFT_BUCKET", "1") != "0":
        build_bucketed_mirror(spark, sf_dir)
    QUERIES["pricing_summary"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    return spark


def noop_s(spark, label: str, df_fn) -> float:
    """Seconds to build ``df_fn()`` and write it to the noop sink, after
    ``clearCache``; its jobs carry ``label`` as their description."""
    sc = spark.sparkContext
    spark.catalog.clearCache()
    sc.setJobDescription(label)
    try:
        t0 = time.perf_counter()
        df_fn().write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0
    finally:
        sc.setJobDescription(None)


def hot_noop(spark, label: str, df_fn, reps: int) -> list[float]:
    """Seconds per rep of writing ``df_fn()`` to the noop sink: one warm
    run, then ``reps`` timed runs (:func:`noop_s`)."""
    noop_s(spark, f"{label}: warm", df_fn)
    return [noop_s(spark, f"{label}: rep{i}", df_fn) for i in range(reps)]


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from daisy_spark.queries import QUERIES

    args = sys.argv[1:]
    reps = 5
    if args and args[0] == "-n":
        reps = int(args[1])
        args = args[2:]
    names = args or list(QUERIES)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = hot_session("daisy_spark_bench_one", sf_dir)
    for name in names:
        try:
            ts = hot_noop(spark, name, lambda: QUERIES[name](spark, sf_dir), reps)
            print(
                f"{name:24s} min={min(ts):.3f} med={statistics.median(ts):.3f} "
                + " ".join(f"{t:.3f}" for t in ts)
            )
        except Exception as exc:  # noqa: BLE001
            print(f"{name:24s} FAIL {type(exc).__name__}: {exc}")
    spark.stop()


if __name__ == "__main__":
    main()
