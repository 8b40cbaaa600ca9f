"""8-vs-32-core scaling measurement at the sf1 lane (~6M-row mirrors).

The driver's scaling block runs at sf0.1 where every query takes
0.2-1 s — pure stage-launch/task-scheduling territory, so its ratios
measure the overhead floor, not the plans (VERDICT r12).  This tool
re-runs the comparison on the 10x-replicated sf1 mirror where scan-heavy
queries have real work, one subprocess per core count (the core budget
is a session-construction setting), hot timings with the noop sink.

Usage: python tools/scaling_sf1.py [--reps 3] [--out plans/r13/scaling_sf1.json]
Extra queries beyond the bench's SF1 lane can be added with --extra q1,q2
(they run against the sf1 mirror dir like everything else).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

from bench_one import hot_noop, hot_session  # noqa: E402  (from this script's directory)


def worker(queries: list[str], reps: int) -> None:
    sys.path.insert(0, REPO)
    from daisy_spark.queries import QUERIES

    sf1_dir = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/daisy_sf1")
    spark = hot_session("daisy_spark_scaling", sf1_dir)
    out: dict[str, list[float]] = {}
    for name in queries:
        try:
            ts = hot_noop(
                spark, f"scale:{name}", lambda: QUERIES[name](spark, sf1_dir), reps
            )
            out[name] = [round(t, 4) for t in ts]
        except Exception as exc:  # noqa: BLE001
            out[name] = []
            print(f"{name} FAIL {type(exc).__name__}: {exc}", file=sys.stderr)
    spark.stop()
    print("SCALEJSON:" + json.dumps(out))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--worker", action="store_true")
    ap.add_argument("--queries", default="")
    ap.add_argument("--extra", default="")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--out", default="")
    args = ap.parse_args()

    if args.worker:
        worker([q for q in args.queries.split(",") if q], args.reps)
        return

    sys.path.insert(0, REPO)
    import bench

    queries = list(bench.SF1_QUERIES) + [
        q for q in args.extra.split(",") if q
    ]
    # sf1 mirror must exist (bench.py materializes it); build if missing
    sf1_dir = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/daisy_sf1")
    if not os.path.exists(os.path.join(sf1_dir, "_DONE")):
        from daisy_spark.session import get_spark

        s = get_spark("scaling_gen")
        bench._ensure_sf1(
            s, os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
            sf1_dir,
        )
        s.stop()

    result: dict = {"reps": args.reps, "runs": {}}
    for cpus in ("32", "8", "32", "8"):
        env = dict(os.environ)
        env["SPARK_GRAFT_CPUS"] = cpus
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--worker",
             "--queries", ",".join(queries), "--reps", str(args.reps)],
            env=env, capture_output=True, text=True, timeout=3600,
        )
        got = None
        for line in proc.stdout.splitlines():
            if line.startswith("SCALEJSON:"):
                got = json.loads(line[len("SCALEJSON:"):])
        if got is None:
            print(proc.stdout[-2000:], proc.stderr[-2000:])
            raise RuntimeError(f"worker cpus={cpus} failed")
        result["runs"].setdefault(cpus, {q: [] for q in queries})
        for q, ts in got.items():
            result["runs"][cpus][q].extend(ts)
        print(f"cpus={cpus} done", flush=True)

    result["medians"] = {
        c: {q: round(statistics.median(ts), 4) for q, ts in qs.items() if ts}
        for c, qs in result["runs"].items()
    }
    m32, m8 = result["medians"].get("32", {}), result["medians"].get("8", {})
    result["ratio_8_over_32"] = {
        q: round(m8[q] / m32[q], 3) for q in m32 if q in m8 and m32[q]
    }
    blob = json.dumps(result, indent=1)
    if args.out:
        with open(args.out, "w") as f:
            f.write(blob + "\n")
    print(blob)


if __name__ == "__main__":
    main()
