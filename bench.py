#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints one
JSON line: {"metric": ..., "value": hot_total_sec, "unit": "sec",
"queries": {name: hot_sec}, "sf": ..., "geomean": ..., "cold_total": ...}.

Each query runs twice; the reported timing is the HOT (second) run, so
the number compares like-for-like with the reference baseline's hot
timings (BASELINE.md) instead of folding Spark's one-time JIT/codegen
cost into every query.  The cold run is the first of the two and is
summed into "cold_total".

Timed action: both runs write to the NOOP SINK, which evaluates every
output column.  A ``df.count()`` action lets Catalyst prune
row-preserving final projections, so per-document/per-row metric
queries (text_stats, lang_fingerprint, window families) would time a
scan-row count instead of their compute (measured up to ~40x
under-timing at the sf1 lane; plans/r13/prune_audit.json and
OPTIMIZATION_r13.md).
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)
sys.path.append(os.path.join(ROOT, "tools"))

from bench_one import noop_s  # noqa: E402
from daisy_spark.catalog import build_bucketed_mirror  # noqa: E402
from daisy_spark.queries import QUERIES  # noqa: E402
from daisy_spark.session import get_spark  # noqa: E402


#: scan-heavy queries for the amortized sf1 lane — at ~6M lineitem rows
#: (the baseline's 10M tier) per-query job overhead stops dominating
SF1_QUERIES = [
    "pricing_summary", "shipping_priority", "region_revenue",
    "events_hourly", "events_top_types", "uniq_approx", "delta_sum",
    "rate", "retention", "window_funnel", "sequence_match",
    "dedup_exact", "text_stats", "lang_fingerprint",
]
_SF1_BIG = {"lineitem", "orders", "events", "documents"}
_SF1_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents",
]


def _ensure_sf1(spark, src_dir: str, dst_dir: str) -> None:
    """Materialize a 10x replication of sf0.1 (~sf1) once per machine.
    Timing-only data: rows are replicated verbatim — the lane measures
    scan/shuffle/agg throughput, not oracle correctness."""
    marker = os.path.join(dst_dir, "_DONE")
    # v2 = 32-file layout for the big tables; a v1 ("ok") mirror kept
    # the crossJoin's single-split layout and must be regenerated.
    layout = "v2-32files"
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read().strip() == layout:
                return
    os.makedirs(dst_dir, exist_ok=True)
    for t in _SF1_TABLES:
        df = spark.read.parquet(f"{src_dir}/{t}.parquet")
        if t in _SF1_BIG:
            df = df.crossJoin(spark.range(10).select("id")).drop("id")
            # file layout = scan parallelism (guide §6): the crossJoin
            # inherits the single-split source layout, so without this
            # the whole 10x table lands in ONE file and every scan-heavy
            # stage serializes into one task regardless of cores (r13
            # measured lang_fingerprint 9.9 s single-task).  32 files
            # matches the bucketed mirror's fixed bucket count; at real
            # scale ingest writes many files per table as a matter of
            # course.
            df = df.repartition(32)
        df.write.mode("overwrite").parquet(f"{dst_dir}/{t}.parquet")
    with open(marker, "w") as f:
        f.write(layout)


def _sf1_lane(spark, src_dir: str, budget_s: float) -> dict:
    """Hot-run the scan-heavy queries at ~sf1; returns the sub-report.
    Fully guarded: any failure (or blowing the time budget) degrades to a
    partial/skipped lane, never a broken artifact."""
    out: dict = {"queries": {}, "errors": {}}
    t_start = time.perf_counter()
    dst = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/daisy_sf1")
    try:
        _ensure_sf1(spark, src_dir, dst)
    except Exception as exc:  # noqa: BLE001
        out["errors"]["_generate"] = f"{type(exc).__name__}: {exc}"[:200]
        return out
    if os.environ.get("SPARK_GRAFT_BUCKET", "1") != "0":
        build_bucketed_mirror(spark, dst)
    out["gen_sec"] = round(time.perf_counter() - t_start, 2)
    for name in SF1_QUERIES:
        if name not in QUERIES:
            continue
        if time.perf_counter() - t_start > budget_s:
            out["errors"]["_budget"] = f"stopped after {budget_s}s"
            break
        try:
            noop_s(spark, f"sf1 {name}: cold", lambda: QUERIES[name](spark, dst))
            out["queries"][name] = round(
                noop_s(spark, f"sf1 {name}: hot", lambda: QUERIES[name](spark, dst)), 4
            )
        except Exception as exc:  # noqa: BLE001
            out["errors"][name] = f"{type(exc).__name__}: {exc}"[:200]
    if out["queries"]:
        out["geomean"] = _geomean(out["queries"])
        out["total"] = round(sum(out["queries"].values()), 4)
    return out


def _geomean(times: dict[str, float]) -> float:
    return round(
        math.exp(
            sum(math.log(max(t, 1e-4)) for t in times.values()) / max(len(times), 1)
        ),
        4,
    )


def bench_record(
    hot: dict[str, float],
    cold: dict[str, float],
    errors: dict[str, str],
    sf: str,
    sf1: dict,
) -> dict:
    """The JSON line bench.py prints: the hot noop-sink series under
    ``queries`` and the cold runs' sum under ``cold_total``."""
    return {
        "metric": "headline_queries_hot_total",
        "value": round(sum(hot.values()), 4),
        "unit": "sec",
        "queries": hot,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "geomean": _geomean(hot),
        "cold_total": round(sum(cold.values()), 4),
        "n_queries": len(hot),
        "errors": errors,
        "sf1": sf1,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("daisy_spark_bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM + parquet footers once with the cheapest query
    noop_s(spark, "warm: revenue_forecast", lambda: QUERIES["revenue_forecast"](spark, sf_dir))

    # rotation-robust warm-up (VERDICT r5 item 5): the registry order
    # rotates per round, and whoever runs first pays the one-time
    # Catalyst/codegen/JIT infrastructure ramp on top of their own hot
    # pass (r5: 10 of 12 ">=15% regressions" were exactly the first 10
    # positions).  Run a FIXED, diverse set of shapes untimed first so
    # position in the rotation no longer shows up as a fake regression.
    for _warm in (
        "pricing_summary",      # scan + groupBy agg
        "window_functions",     # window frames
        "final_versioned",      # window cancel-pair pass
        "quantiles",            # sketch aggregates
        "group_array",          # collect_list paths
        "dedup_exact",          # hash groupBy on documents
    ):
        if _warm in QUERIES:
            try:
                noop_s(spark, f"warm: {_warm}", lambda: QUERIES[_warm](spark, sf_dir))
            except Exception:  # noqa: BLE001
                pass

    # storage-side preparation: bucket lineitem/orders by orderkey
    # (catalog.build_bucketed_mirror) — the analogue of the reference's
    # MergeTree insert-time sort; orderkey joins then need no shuffle.
    # One-time write before the timing loop; SPARK_GRAFT_BUCKET=0 disables.
    if os.environ.get("SPARK_GRAFT_BUCKET", "1") != "0":
        build_bucketed_mirror(spark, sf_dir)

    hot: dict[str, float] = {}
    cold: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name, fn in QUERIES.items():
        # one broken query must never zero the whole artifact: record the
        # failure and keep timing the rest.  noop_s clears the cache
        # before each run, which bounds memory: operators that persist()
        # intermediates would otherwise accumulate across the suite
        try:
            cold[name] = round(noop_s(spark, f"{name}: cold", lambda: fn(spark, sf_dir)), 4)
            hot[name] = round(noop_s(spark, f"{name}: hot", lambda: fn(spark, sf_dir)), 4)
        except Exception as exc:  # noqa: BLE001
            errors[name] = f"{type(exc).__name__}: {exc}"[:400]
    # amortized sf1 lane (VERDICT r3 item 5): ~6M-row lineitem puts the
    # scan-heavy queries at the baseline's 10M tier where job overhead
    # stops dominating; SPARK_GRAFT_SF1=0 disables
    sf1: dict = {}
    if os.environ.get("SPARK_GRAFT_SF1", "1") != "0" and sf == "0.1":
        sf1 = _sf1_lane(spark, sf_dir, budget_s=360.0)
    print(json.dumps(bench_record(hot, cold, errors, sf, sf1)))
    spark.stop()


if __name__ == "__main__":
    main()
