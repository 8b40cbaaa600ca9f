"""Workload ``registry``: a closed loop with one client over the query
registry (``daisy_spark.queries.QUERIES``), hot, into the noop sink.

Set-up starts the session, generates the fixed input tables and builds
the bucketed mirror.  An untimed warm-up follows: one pass collects every
query and checks it against its DuckDB oracle (``ORACLE_SQL``) with the
canonical digest of ``tools/driver_sim.py`` (``hash_pdf``), then
``WARM_PASSES`` passes run into the noop sink.  Whole timed passes
follow, each in a seed-shuffled order; a sample is the query function's
call (plan build, eager analysis and any jobs the function runs itself)
plus the noop write.
"""

from __future__ import annotations

import random
import time

import harness
from harness import Result, Tracer

#: input scale and data seed.  The tables are the same on every run so
#: that the oracle digests below stay valid; ``--seed`` orders the passes.
SF = 0.01
DATA_SEED = 42
#: the timed queries: every 5th query of the registry ranked by hot
#: noop time at this scale (slowest first), so the sample keeps the
#: registry's cost spread and all four defining modules.  One pass of
#: all 64 takes ~34 s on the 4-core reference box, which the run budget
#: cannot repeat; these 13 take ~6 s once warm.
QUERIES = (
    "dedup_simhash", "ann_ivf", "ann_topk", "uniq_approx", "map_aggs",
    "window_functions", "stats", "lang_fingerprint", "dialect_pipe",
    "moving_sum", "cross_join", "json_extract", "distinct",
)
#: checked against a recorded digest instead of running the oracle.
#: dedup_simhash is an approximate algorithm (SimHash buckets) and its
#: oracle is an exact all-pairs Jaccard stand-in: they can legitimately
#: disagree (239 vs 249 rows on the engine's sf0.1 test data), and the
#: all-pairs SQL alone costs ~11 s.  The digest is that of the oracle's
#: answer on this fixed data, where the two agree.
RECORDED = {
    "dedup_simhash": "38b73071f01495a117efc00c18a8bff7beefae7797d3bbb9ad260224a068fbf1",
}
#: untimed noop passes after the checked one.  The JIT is still compiling
#: through the first timed passes (the fourth runs 10-25% faster than the
#: first); the median over the passes absorbs that, where each further
#: warm pass would cost ~6.5 s of the run budget.
WARM_PASSES = 1
#: whole passes are timed until ``--seconds`` have gone by, and at least
#: this many: 52 samples leave 10 beyond the tail percentile
MIN_PASSES = 4
TAIL_PCT = 80
#: --scale -> (sf, queries, minimum passes); tiny is for the benchmark's test
SCALES = {
    "full": (SF, QUERIES, MIN_PASSES),
    "tiny": (0.001, ("region_revenue", "ttests", "text_stats", "distinct"), 1),
}
MODULES = ("queries", "queries_ext", "queries_llm", "queries_stats")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _warm(spark, data: str, queries, res: Result) -> None:
    """Collect each query once and check it against its oracle, then run
    ``WARM_PASSES`` untimed passes into the noop sink."""
    import duckdb

    from daisy_spark.queries import ORACLE_SQL
    from daisy_spark.queries import QUERIES as REGISTRY
    from datagen import TABLES
    from tools.driver_sim import hash_pdf

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    for name in queries:
        res.attempted += 1
        spark.catalog.clearCache()
        try:
            got = hash_pdf(REGISTRY[name](spark, data).toPandas())
            want = RECORDED.get(name) or hash_pdf(con.execute(ORACLE_SQL[name]).df())
            res.check(got == want, f"registry: {name} differs from its oracle")
        except Exception as exc:  # noqa: BLE001 - one query must not end the run
            res.failed += 1
            res.check(False, f"registry: {name} raised {type(exc).__name__}: {exc}"[:300])
    con.close()
    for name in queries * WARM_PASSES:
        spark.catalog.clearCache()
        try:
            _noop(REGISTRY[name](spark, data))
        except Exception:  # noqa: BLE001 - already counted by the check above
            pass


def run(args, res: Result, tracer: Tracer, t_start: float) -> None:
    from daisy_spark.catalog import build_bucketed_mirror
    from daisy_spark.queries import QUERIES as REGISTRY

    import datagen

    run_root = harness.RunRoot("registry")
    spark = None
    try:
        with tracer.span("session.start"):
            spark = harness.start_spark(run_root, "perfbench-registry")
        sf, queries, min_passes = SCALES[args.scale]
        data = run_root.sub("data")
        datagen.generate(data, sf, DATA_SEED)
        with tracer.span("catalog.mirror"):
            build_bucketed_mirror(spark, data)
        with tracer.span("registry.warm"):
            _warm(spark, data, queries, res)
        setup_s = time.perf_counter() - t_start

        jobs = harness.JobCounter(spark, tracer)
        rng = random.Random(args.seed)
        by_pass: list[tuple[float, list[float]]] = []  # (pass wall time, samples)
        counts: dict[str, list[tuple]] = {}
        module_exec: dict[str, list[float]] = {m: [] for m in MODULES}
        phase = harness.TimedPhase(tracer)
        while len(by_pass) < min_passes or time.perf_counter() - phase.t0 < args.seconds:
            p, samples, t_pass = len(by_pass), [], time.perf_counter()
            order = list(queries)
            rng.shuffle(order)
            for name in order:
                op = f"p{p}-{name}"
                tracer.op = op
                res.attempted += 1
                spark.catalog.clearCache()
                try:
                    fn = REGISTRY[name]
                    module = fn.__module__.rsplit(".", 1)[-1]
                    jobs.group(f"{op}-build")
                    t0 = time.perf_counter()
                    with tracer.span("registry.build", query=name):
                        df = fn(spark, data)
                    jobs.group(f"{op}-exec")
                    t1 = time.perf_counter()
                    with tracer.span("registry.exec", query=name, module=module):
                        _noop(df)
                    t2 = time.perf_counter()
                except Exception as exc:  # noqa: BLE001 - count it, keep timing the rest
                    res.failed += 1
                    res.check(False, f"registry: {name} raised {type(exc).__name__}: {exc}"[:300])
                    continue
                samples.append(t2 - t0)
                module_exec[module].append(t2 - t1)
                if tracer.enabled:
                    counts.setdefault(name, []).append(
                        jobs.counts(f"{op}-build") + jobs.counts(f"{op}-exec")
                    )
            by_pass.append((time.perf_counter() - t_pass, samples))
        phase.end()
        tracer.op = None

        samples = [x for _, xs in by_pass for x in xs]
        n = len(samples)
        res.e2e = {"setup_s": (setup_s, "s"), **harness.op_metrics(by_pass, TAIL_PCT)}
        res.detail.update(
            workload="registry", slots=harness.SLOTS, sf=sf, queries=len(queries),
            passes=len(by_pass), samples=n, tail_pct=TAIL_PCT,
            tail_support=harness.tail_support(n, TAIL_PCT),
            pass_s=[round(w, 3) for w, _ in by_pass],
            steal_frac=round(phase.steal_frac, 4),
        )
        if not tracer.enabled:
            return
        build = tracer.durations("registry.build")
        execs = tracer.durations("registry.exec")
        per = max(1, len(build))
        layer = {
            **phase.layer(n),
            "catalog.mirror_s": (tracer.total("catalog.mirror"), "s"),
            "registry.warm_s": (tracer.total("registry.warm"), "s"),
            "registry.build_s": (sum(build) / per, "s"),
            "registry.exec_s": (sum(execs) / per, "s"),
            "registry.query_s": (sum(samples) / max(1, n), "s"),
        }
        for m, xs in module_exec.items():
            layer[f"{m}.exec_s"] = (sum(xs) / max(1, len(xs)), "s")
        all_counts = [c for cs in counts.values() for c in cs]
        for i, kind in enumerate(("jobs", "stages", "tasks")):
            layer[f"spark.build.{kind}"] = (
                sum(c[i] for c in all_counts) / max(1, len(all_counts)), "count")
            layer[f"spark.exec.{kind}"] = (
                sum(c[3 + i] for c in all_counts) / max(1, len(all_counts)), "count")
        moving = sorted(q for q, cs in counts.items() if len(set(cs)) > 1)
        layer["spark.counts_repeat"] = (len(counts) - len(moving), "count")
        res.detail["counts_move"] = moving
        res.layer = layer
    finally:
        try:
            if spark is not None:
                harness.stop_spark(spark)
        finally:
            run_root.close()
