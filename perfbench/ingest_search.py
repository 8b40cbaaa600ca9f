"""Workload ``ingest_search``: a closed loop with one client, writes
beside reads, over sinks that grow during the run.

Each step of the client takes the next seed-sized, time-ordered slice of
``events`` and:

- ingests it through ``streaming.ingest_batch(time_col="ts",
  idem_col="event_id")`` into a sink named ``events.parquet``, then runs
  three ``api.search`` calls (dialect or pipe SQL over a recent ``_time``
  window of that sink);
- ingests the same slice, rendered as raw log lines, through
  ``streaming.ingest_rawstore`` with no event-time column (``_time`` is
  then the ingest time), then runs three ``streaming.search_rawstore``
  regex searches.

A seed-chosen share of ingests is preceded by a re-send of an earlier
slice, as at-least-once producers do; a re-send that adds rows is a
failed operation.  Every ``OPTIMIZE_EVERY`` steps ``maintenance.optimize``
compacts the events sink.  A search is timed to the collect of its first
page.

Each search's first page is checked against the same search computed
with pandas over the slices ingested so far; the sinks are checked with
DuckDB against the generated inputs at the end.
"""

from __future__ import annotations

import collections
import datetime as dt
import os
import random
import re
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import harness
from harness import Result, Tracer

EVENTS_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)
#: --scale -> (events in the pool, slice size range, minimum steps).
#: Eight steps give 60+ timed operations, so 10+ lie beyond the tail
#: percentile.
SCALES = {
    "full": (60_000, (200, 600), 8),
    "tiny": (2_000, (50, 100), 1),
}
#: slices written in set-up, one per step: a run takes about 8 steps
MAX_SLICES = 40
#: compact the events sink every this many steps
OPTIMIZE_EVERY = 4
#: searches after each ingest: enough that searches are ~70% of the
#: operations, so the median sits inside the search times
SEARCHES_PER_INGEST = 3
PAGE = 50
TAIL_PCT = 80
#: the timed steps are cut into this many segments for ``op_metrics``
SEGMENTS = 3
WINDOWS_H = (6, 24, 72)
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

#: api.search strings; the window bound is applied by ``search`` itself
SEARCHES = {
    "by_type": (
        "SELECT event_type, count() AS c, sum(value) AS v, uniqExact(user_id) AS u "
        "FROM events GROUP BY event_type ORDER BY event_type"
    ),
    "top_users": (
        "SELECT user_id, count() AS c, sum(value) AS v FROM events "
        "WHERE event_type = '{t}' GROUP BY user_id "
        "| WHERE c >= 1 "
        "| SELECT user_id, c, v ORDER BY c DESC, user_id"
    ),
    "recent": (
        "SELECT event_id, value FROM events WHERE value > {x} "
        "ORDER BY ts DESC, event_id"
    ),
}
RAW_PATTERNS = (
    r"type=error ",
    r"type=purchase value=[0-9]{3}\.",
    r"user=1[0-9] ",
    r"k=9[0-9]$",
)


def _render(ev: dict) -> list[str]:
    """Raw log lines for a slice of events."""
    return [
        f"{np.datetime_as_string(t, unit='us')} user={u} type={e} value={v:.2f} "
        f"id={i} k={p[6:-1]}"
        for i, t, u, e, v, p in zip(
            ev["event_id"], ev["ts"], ev["user_id"], ev["event_type"],
            ev["value"], ev["props"],
        )
    ]


class Client:
    """The client's own record of what it sent, and the expected answers."""

    def __init__(self, spark, root: str, pool: dict, sizes: list[int]):
        self.spark = spark
        self.root = root
        self.events_root = os.path.join(root, "sink")
        self.events_sink = os.path.join(self.events_root, "events.parquet")
        self.raw_sink = os.path.join(root, "rawstore")
        self.slices: list[dict] = []
        self.slice_lines: list[list[str]] = []
        os.makedirs(os.path.join(root, "in"))
        lo = 0
        for i, n in enumerate(sizes):
            ev = {k: v[lo:lo + n] for k, v in pool.items()}
            lo += n
            pq.write_table(pa.table(ev), self._path(i, "parquet"))
            lines = _render(ev)
            with open(self._path(i, "txt"), "w") as f:
                f.write("\n".join(lines) + "\n")
            self.slices.append(ev)
            self.slice_lines.append(lines)
        self.sent_events: list[int] = []       # slice ids ingested (first sends)
        self.raw_sent: list[tuple[dt.datetime, list[str]]] = []  # (call start, lines)
        self.dup_rows = 0

    def _path(self, i: int, ext: str) -> str:
        return os.path.join(self.root, "in", f"slice-{i:05d}.{ext}")

    def events_df(self, i: int):
        return self.spark.read.schema(EVENTS_SCHEMA).parquet(self._path(i, "parquet"))

    def lines_df(self, i: int):
        return self.spark.read.text(self._path(i, "txt"))

    # --- expected answers -------------------------------------------------

    def ingested(self):
        import pandas as pd

        return pd.concat(
            [pd.DataFrame(self.slices[i]) for i in self.sent_events], ignore_index=True
        )

    def window_end(self) -> np.datetime64:
        last = self.slices[max(self.sent_events)]["ts"][-1]
        return (last + np.timedelta64(1, "s")).astype("datetime64[s]")


def _search_args(rng: random.Random, client: Client, kind: str):
    t = rng.choice(EVENT_TYPES)
    x = rng.choice((50, 100, 150))
    query = SEARCHES[kind].format(t=t, x=x)
    end = client.window_end()
    start = end - np.timedelta64(rng.choice(WINDOWS_H), "h")
    return kind, query, t, x, str(start).replace("T", " "), str(end).replace("T", " ")


def _expected_search(client: Client, kind, t, x, start, end):
    df = client.ingested()
    df = df[(df.ts >= np.datetime64(start)) & (df.ts < np.datetime64(end))]
    if kind == "by_type":
        g = df.groupby("event_type").agg(
            c=("event_id", "size"), v=("value", "sum"), u=("user_id", "nunique")
        ).reset_index().sort_values("event_type")
        return [tuple(r) for r in g.itertuples(index=False)][:PAGE]
    if kind == "top_users":
        g = df[df.event_type == t].groupby("user_id").agg(
            c=("event_id", "size"), v=("value", "sum")
        ).reset_index().sort_values(["c", "user_id"], ascending=[False, True])
        return [tuple(r) for r in g.itertuples(index=False)][:PAGE]
    g = df[df.value > x].sort_values(["ts", "event_id"], ascending=[False, True])
    return [tuple(r) for r in g[["event_id", "value"]].itertuples(index=False)][:PAGE]


def _same_rows(got: list[tuple], want: list[tuple]) -> bool:
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(b, float) or isinstance(a, float):
                if abs(float(a) - float(b)) > 1e-9 * max(1.0, abs(float(b))):
                    return False
            elif a != b:
                return False
    return True


class Loop:
    """Runs and times the client's operations."""

    def __init__(self, spark, client: Client, rng: random.Random, res: Result,
                 tracer: Tracer):
        self.spark = spark
        self.client = client
        self.rng = rng
        self.res = res
        self.tracer = tracer
        self.jobs = harness.JobCounter(spark, tracer)
        self.samples: list[float] = []
        self.ingest_counts: list[tuple] = []
        self.appended = self.deduped = self.new_rows = 0
        self.next_slice = 0
        self.ingests = self.steps = 0
        # search kinds and patterns take turns, so the operation mix does
        # not depend on the seed; the seed picks their parameters
        self.searches = self.raw_searches = 0
        self.resend_share = rng.uniform(0.2, 0.3)
        self.first_sends = self.resends = 0

    def _time(self, fn):
        """Run one operation; returns its result, or None if it raised."""
        self.res.attempted += 1
        self.tracer.op = self.res.attempted
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as exc:  # noqa: BLE001 - count it, keep the loop going
            self.res.failed += 1
            self.res.check(False, f"ingest_search: {type(exc).__name__}: {exc}"[:300])
            return None
        self.samples.append(time.perf_counter() - t0)
        return out

    def ingest(self, i: int, raw: bool, resend: bool) -> None:
        from daisy_spark import streaming

        c = self.client
        self.ingests += 1
        gid = f"ingest-{self.ingests}"
        self.jobs.group(gid)
        if raw:
            df = c.lines_df(i)
            start = dt.datetime.now(dt.timezone.utc)

            def call():
                with self.tracer.span("streaming.ingest_rawstore", slice=i, resend=resend):
                    return streaming.ingest_rawstore(df, c.raw_sink)
        else:
            df = c.events_df(i)

            def call():
                with self.tracer.span("streaming.ingest_batch", slice=i, resend=resend):
                    return streaming.ingest_batch(
                        df, c.events_sink, time_col="ts", idem_col="event_id")
        out = self._time(call)
        if out is None:
            return
        if self.tracer.enabled:
            self.ingest_counts.append(self.jobs.counts(gid))
        self.appended += out.appended
        self.deduped += out.deduped
        n = len(c.slices[i]["event_id"])
        if resend:
            # exactly-once: a re-send must add nothing
            if out.appended:
                self.res.failed += 1
                c.dup_rows += out.appended
        else:
            self.new_rows += n
            self.res.check(out.appended == n, f"ingest_search: slice {i} appended "
                           f"{out.appended} of {n} new rows")
            if not raw:
                c.sent_events.append(i)
        if raw and out.appended:
            c.raw_sent.append((start, c.slice_lines[i]))

    def search(self) -> None:
        from daisy_spark import api
        from daisy_spark.plans import translate

        c = self.client
        if not c.sent_events:
            return
        kind = list(SEARCHES)[self.searches % len(SEARCHES)]
        self.searches += 1
        kind, query, t, x, start, end = _search_args(self.rng, c, kind)
        if self.tracer.enabled:
            with self.tracer.span("plans.dialect.translate", kind=kind):
                translate(query)

        def call():
            with self.tracer.span("api.search_build", kind=kind):
                df = api.search(self.spark, query, c.events_root, start_time=start,
                                end_time=end, page_size=PAGE)
            with self.tracer.span("api.search_exec", kind=kind):
                return [tuple(r) for r in df.collect()]

        got = self._time(call)
        if got is not None:
            want = _expected_search(c, kind, t, x, start, end)
            self.res.check(_same_rows(got, want), f"ingest_search: search {kind} "
                           f"[{start}, {end}) gave {len(got)} rows, want {len(want)}")

    def search_raw(self) -> None:
        from daisy_spark import streaming

        c = self.client
        if not c.raw_sent:
            return
        pattern = RAW_PATTERNS[self.raw_searches % len(RAW_PATTERNS)]
        self.raw_searches += 1
        back = self.rng.randint(1, min(4, len(c.raw_sent)))
        since = c.raw_sent[-back][0]
        bound = since.strftime("%Y-%m-%d %H:%M:%S.%f")

        def call():
            with self.tracer.span("streaming.search_rawstore", pattern=pattern):
                df = streaming.search_rawstore(self.spark, c.raw_sink, pattern,
                                               start_time=bound)
                return [r["_raw"] for r in df.limit(PAGE).collect()]

        got = self._time(call)
        if got is None:
            return
        rx = re.compile(pattern)
        want = collections.Counter(
            ln for start, lines in c.raw_sent if start >= since
            for ln in lines if rx.search(ln)
        )
        ok = len(got) == min(PAGE, sum(want.values())) and not (
            collections.Counter(got) - want)
        self.res.check(ok, f"ingest_search: rawstore search {pattern!r} gave "
                       f"{len(got)} rows, want {min(PAGE, sum(want.values()))}")

    def optimize(self) -> None:
        from daisy_spark import maintenance

        def call():
            with self.tracer.span("maintenance.optimize"):
                return maintenance.optimize(self.spark, self.client.events_sink)

        out = self._time(call)
        if out is not None:
            self.res.check(out.rows_before == out.rows_after,
                           "ingest_search: optimize changed the row count")

    def step(self) -> None:
        """One slice into both sinks, each ingest followed by searches;
        a re-send of an earlier slice may come before either ingest."""
        i = self.next_slice
        self.next_slice += 1
        for raw in (False, True):
            # re-sends at exactly the seed's share of the first sends, so
            # the operation mix does not wander with the draw
            self.first_sends += 1
            if i and int(self.first_sends * self.resend_share) > self.resends:
                self.resends += 1
                self.ingest(self.rng.randrange(i), raw, resend=True)
            self.ingest(i, raw, resend=False)
            for _ in range(SEARCHES_PER_INGEST):
                self.search_raw() if raw else self.search()
        self.steps += 1
        if self.steps % OPTIMIZE_EVERY == 0:
            self.optimize()


def _check_sinks(client: Client, res: Result) -> tuple[int, int, int]:
    """Compare both sinks, read with DuckDB, with the generated inputs.
    Returns (files, bytes, rows) of the events sink."""
    import duckdb

    con = duckdb.connect()
    ev = f"read_parquet('{client.events_sink}/**/*.parquet', hive_partitioning=true)"
    n, n_ids = con.execute(f"SELECT count(*), count(DISTINCT event_id) FROM {ev}").fetchone()
    want_ids = set()
    for i in client.sent_events:
        want_ids.update(int(x) for x in client.slices[i]["event_id"])
    got_ids = {r[0] for r in con.execute(f"SELECT DISTINCT event_id FROM {ev}").fetchall()}
    res.check(n == n_ids == len(want_ids) and got_ids == want_ids,
              f"ingest_search: events sink holds {n} rows / {n_ids} ids, want {len(want_ids)}")
    if client.raw_sent:
        raw = f"read_parquet('{client.raw_sink}/**/*.parquet', hive_partitioning=true)"
        n_raw, n_lines = con.execute(
            f"SELECT count(*), count(DISTINCT _raw) FROM {raw}").fetchone()
        lines = {ln for _, ls in client.raw_sent for ln in ls}
        first = sum(len(ls) for _, ls in client.raw_sent) - client.dup_rows
        res.check(n_lines == len(lines) and n_raw == first + client.dup_rows,
                  f"ingest_search: rawstore holds {n_raw} rows / {n_lines} lines, want "
                  f"{len(lines)} lines plus {client.dup_rows} counted duplicates")
    con.close()
    files = [os.path.join(d, f) for d, _, fs in os.walk(client.events_sink)
             for f in fs if f.endswith(".parquet")]
    return len(files), sum(os.path.getsize(f) for f in files), n


def _slice_sizes(rng: random.Random, total: int, lo_hi: tuple[int, int]) -> list[int]:
    sizes = []
    while sum(sizes) + lo_hi[1] <= total:
        sizes.append(rng.randint(*lo_hi))
    return sizes


def run(args, res: Result, tracer: Tracer, t_start: float) -> None:
    import datagen

    n_pool, lo_hi, min_steps = SCALES[args.scale]
    run_root = harness.RunRoot("ingest_search")
    spark = None
    try:
        with tracer.span("session.start"):
            spark = harness.start_spark(run_root, "perfbench-ingest_search")
        rng = random.Random(args.seed)
        pool = datagen.event_rows(np.random.default_rng(args.seed), n_pool)
        sizes = _slice_sizes(rng, n_pool, lo_hi)[:MAX_SLICES]
        # untimed warm-up on a separate client and sinks: the same
        # operations once each, so the timed loop starts hot
        warm = Loop(spark, Client(spark, run_root.sub("warm"), pool, sizes[:4]),
                    random.Random(args.seed + 1), res, Tracer(False))
        warm.step()
        warm.optimize()
        _check_sinks(warm.client, res)
        client = Client(spark, run_root.sub("run"), pool, sizes)
        loop = Loop(spark, client, rng, res, tracer)
        setup_s = time.perf_counter() - t_start

        phase = harness.TimedPhase(tracer)
        steps: list[tuple[float, list[float]]] = []  # (step wall time, op times)
        while loop.steps < min_steps or time.perf_counter() - phase.t0 < args.seconds:
            if loop.next_slice >= len(sizes):
                break
            t_step, first = time.perf_counter(), len(loop.samples)
            loop.step()
            steps.append((time.perf_counter() - t_step, loop.samples[first:]))
        phase.end()
        files, nbytes, rows = _check_sinks(client, res)

        # thirds of the timed steps, in order (the sinks grow through the run)
        k = min(SEGMENTS, len(steps))
        segments = [
            (sum(w for w, _ in part), [x for _, xs in part for x in xs])
            for part in (steps[j * len(steps) // k:(j + 1) * len(steps) // k]
                         for j in range(k))
        ]
        n = len(loop.samples)
        res.e2e = {"setup_s": (setup_s, "s"), **harness.op_metrics(segments, TAIL_PCT)}
        res.detail.update(
            workload="ingest_search", slots=harness.SLOTS, samples=n,
            tail_pct=TAIL_PCT, tail_support=harness.tail_support(n, TAIL_PCT),
            segment_s=[round(w, 3) for w, _ in segments],
            ingests=loop.ingests, resend_share=round(loop.resend_share, 3),
            dup_rows=client.dup_rows, new_rows=loop.new_rows,
            steal_frac=round(phase.steal_frac, 4),
        )
        if not tracer.enabled:
            return
        def mean(name: str) -> float:
            xs = tracer.durations(name)
            return sum(xs) / len(xs) if xs else 0.0

        counts = loop.ingest_counts
        layer = {
            **phase.layer(n),
            "streaming.ingest_batch_s": (mean("streaming.ingest_batch"), "s"),
            "streaming.ingest_rawstore_s": (mean("streaming.ingest_rawstore"), "s"),
            "streaming.rows_appended": (loop.appended, "count"),
            "streaming.rows_deduped": (loop.deduped, "count"),
            "streaming.dup_rows": (client.dup_rows, "count"),
            "maintenance.optimize_s": (mean("maintenance.optimize"), "s"),
            "sink.files": (files, "count"),
            "sink.bytes_per_row": (nbytes / max(1, rows), "B"),
            "api.search_build_s": (mean("api.search_build"), "s"),
            "api.search_exec_s": (mean("api.search_exec"), "s"),
            "streaming.search_rawstore_s": (mean("streaming.search_rawstore"), "s"),
            "plans.dialect.translate_ms": (1000 * mean("plans.dialect.translate"), "ms"),
        }
        for i, kind in enumerate(("jobs", "stages", "tasks")):
            layer[f"spark.ingest.{kind}"] = (
                sum(c[i] for c in counts) / max(1, len(counts)), "count")
        ingest_s = tracer.durations("streaming.ingest_batch") + tracer.durations(
            "streaming.ingest_rawstore")
        res.detail["ingest_rows_per_s"] = loop.new_rows / max(1e-9, sum(ingest_s))
        res.layer = layer
    finally:
        try:
            if spark is not None:
                harness.stop_spark(spark)
        finally:
            run_root.close()
