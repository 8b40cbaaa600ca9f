"""The benchmark's metric names and units, shared by every workload.

Every workload reports every end-to-end metric, each with its own
meaning of an operation:

- registry: one query, built and run hot into the noop sink;
- ingest_search: one client call (an ingest, a search, or a compaction).

Every workload also reports every per-layer metric; a layer the workload
does not reach reads 0.  ``BENCHMARK.json`` lists the same names.
"""

from __future__ import annotations

#: name -> unit
END_TO_END = {
    "setup_s": "s",
    "ops_per_min": "1/min",
    "op_p50_s": "s",
    "op_tail_s": "s",
}

PER_LAYER = {
    # set-up
    "session.start_s": "s",
    "catalog.mirror_s": "s",
    "registry.warm_s": "s",
    # registry: per timed query
    "registry.query_s": "s",
    "registry.build_s": "s",
    "registry.exec_s": "s",
    "queries.exec_s": "s",
    "queries_ext.exec_s": "s",
    "queries_llm.exec_s": "s",
    "queries_stats.exec_s": "s",
    "spark.build.jobs": "count",
    "spark.build.stages": "count",
    "spark.build.tasks": "count",
    "spark.exec.jobs": "count",
    "spark.exec.stages": "count",
    "spark.exec.tasks": "count",
    "spark.counts_repeat": "count",
    # ingest_search: per call
    "streaming.ingest_batch_s": "s",
    "streaming.ingest_rawstore_s": "s",
    "streaming.rows_appended": "count",
    "streaming.rows_deduped": "count",
    "streaming.dup_rows": "count",
    "spark.ingest.jobs": "count",
    "spark.ingest.stages": "count",
    "spark.ingest.tasks": "count",
    "maintenance.optimize_s": "s",
    "sink.files": "count",
    "sink.bytes_per_row": "B",
    "api.search_build_s": "s",
    "api.search_exec_s": "s",
    "streaming.search_rawstore_s": "s",
    "plans.dialect.translate_ms": "ms",
    # engine and host, over the timed phase
    "engine.cpu_s": "s",
    "engine.peak_rss_mb": "MB",
    "host.steal_frac": "fraction",
    "host.load1": "count",
    # the tracer's own cost
    "trace.overhead_s": "s",
    "trace.overhead_frac": "fraction",
}


def complete(res, trace: bool) -> None:
    """Fill per-layer metrics the workload does not reach with 0 and
    refuse to print a result that lacks an end-to-end metric."""
    if trace:
        for name, unit in PER_LAYER.items():
            res.layer.setdefault(name, (0, unit))
        extra = set(res.layer) - set(PER_LAYER)
    else:
        extra = set(res.e2e) ^ set(END_TO_END)
    if extra:
        raise RuntimeError(f"metric names out of line with metrics.py: {sorted(extra)}")
