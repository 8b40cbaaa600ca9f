"""Same-window interleaved A/B benchmark with a machine-readable artifact.

The only measurement method that has produced stable accept/reject
evidence on this box (cross-window bench deltas swing 3x on identical
code): alternate variant A / variant B blocks within one window, include
an untouched control query to calibrate window skew, and record every
rep.

Usage (orchestrator):
    python tools/ab_bench.py --old <commit-ish> \
        --queries q1,q2 --control final_summing \
        --blocks 3 --reps 3 --out plans/r13/ab_mychange.json

For each block it runs a fresh worker subprocess per variant (old code
from a git worktree at --old, new code from the repo root), alternating
A/B/A/B..., then writes JSON: per-variant per-query rep times, medians,
and the control's medians for skew calibration.

Worker mode (internal): --worker --queries ... --reps N — times each
query with the noop sink (guide §1.4) in one Spark session and prints
one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the timing loop comes from this file's directory, imported before a
# worker puts its variant's tree first on sys.path: both variants are
# timed by the same loop, and only daisy_spark differs between them
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from bench_one import hot_noop, hot_session  # noqa: E402


def worker(queries: list[str], reps: int) -> None:
    sys.path.insert(0, os.getcwd())
    from daisy_spark.queries import QUERIES

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = hot_session("daisy_spark_ab", sf_dir)
    out: dict[str, list[float]] = {}
    for name in queries:
        fn = QUERIES[name]
        ts = hot_noop(spark, f"ab:{name}", lambda: fn(spark, sf_dir), reps)
        out[name] = [round(t, 4) for t in ts]
    spark.stop()
    print("ABJSON:" + json.dumps(out))


def run_worker(cwd: str, queries: list[str], reps: int) -> dict[str, list[float]]:
    cmd = [
        sys.executable,
        os.path.join(REPO, "tools", "ab_bench.py"),
        "--worker",
        "--queries",
        ",".join(queries),
        "--reps",
        str(reps),
    ]
    env = dict(os.environ)
    env["PYTHONPATH"] = cwd
    proc = subprocess.run(
        cmd, cwd=cwd, env=env, capture_output=True, text=True, timeout=3600
    )
    for line in proc.stdout.splitlines():
        if line.startswith("ABJSON:"):
            return json.loads(line[len("ABJSON:"):])
    raise RuntimeError(
        f"worker in {cwd} produced no ABJSON\nstdout tail: {proc.stdout[-2000:]}"
        f"\nstderr tail: {proc.stderr[-2000:]}"
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--worker", action="store_true")
    ap.add_argument("--queries", required=True)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--old", help="commit-ish for the OLD variant worktree")
    ap.add_argument("--old-dir", help="existing dir for the OLD variant")
    ap.add_argument("--control", default="final_summing")
    ap.add_argument("--blocks", type=int, default=3)
    ap.add_argument("--out")
    ap.add_argument("--label", default="")
    args = ap.parse_args()

    queries = [q for q in args.queries.split(",") if q]
    if args.worker:
        worker(queries, args.reps)
        return

    if args.control and args.control not in queries:
        queries = queries + [args.control]

    old_dir = args.old_dir
    made_worktree = False
    if not old_dir:
        if not args.old:
            ap.error("need --old or --old-dir")
        old_dir = f"/tmp/ab_old_{args.old.replace('/', '_')}"
        if not os.path.isdir(old_dir):
            subprocess.run(
                ["git", "worktree", "add", "--detach", old_dir, args.old],
                cwd=REPO,
                check=True,
            )
            made_worktree = True

    result = {
        "label": args.label,
        "old": args.old or old_dir,
        "new": "HEAD(worktree state)",
        "control": args.control,
        "blocks": args.blocks,
        "reps_per_block": args.reps,
        "queries": queries,
        "runs": {"old": {q: [] for q in queries}, "new": {q: [] for q in queries}},
    }
    try:
        for b in range(args.blocks):
            for variant, cwd in (("old", old_dir), ("new", REPO)):
                print(f"block {b} variant {variant} ({cwd})", flush=True)
                got = run_worker(cwd, queries, args.reps)
                for q, ts in got.items():
                    result["runs"][variant][q].extend(ts)
    finally:
        if made_worktree:
            subprocess.run(["git", "worktree", "remove", "--force", old_dir], cwd=REPO)

    result["medians"] = {
        v: {q: round(statistics.median(ts), 4) for q, ts in result["runs"][v].items() if ts}
        for v in ("old", "new")
    }
    result["speedup_old_over_new"] = {
        q: round(result["medians"]["old"][q] / result["medians"]["new"][q], 3)
        for q in queries
        if result["medians"]["new"].get(q)
    }
    blob = json.dumps(result, indent=1)
    if args.out:
        with open(args.out, "w") as f:
            f.write(blob + "\n")
    print(blob)


if __name__ == "__main__":
    main()
