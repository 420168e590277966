"""The benchmark's workloads, each a single-client closed loop over the
program's own entry points: ``sources.sync_once``, ``ParquetSink``'s
``refresh_latest`` / ``materialize_latest`` / ``create_views`` / ``prune``,
and ``spark.sql`` over the registered views.

Every call goes through ``Ops.call``, which times it, counts it as
attempted, and checks its result against ``feed.Truth``; a mismatch or an
exception counts as a failed operation. Checks run outside the timed region.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field

import feed
from execute_sync_spark.operators import dedup as dedup_ops
from execute_sync_spark.schema import parse_root_schema
from execute_sync_spark.sinks.parquet_sink import ParquetSink
from execute_sync_spark.sources import FileFeedSource, WatermarkStore, sync_once
from spans import data_files

SETUPS = 3          # base builds per run; setup_s takes their median
QUERY_ORDER = tuple(feed.QUERIES)
BACKLOG_MIX = feed.Mix(dups=6, malformed=3, identityless=3)
CHURN_MIX = feed.Mix(dups=12, malformed=8, identityless=8)


class SimulatedCrash(RuntimeError):
    """The process 'dies' between a page's append and its watermark save."""


class CrashingWatermarks(WatermarkStore):
    """A watermark store whose next ``save`` can be made to crash once."""

    armed = False

    def save(self, mark: str) -> None:
        if self.armed:
            self.armed = False
            raise SimulatedCrash(mark)
        super().save(mark)


@dataclass
class Ops:
    """Attempted/failed accounting, with each call's wall time."""

    tracer: object
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)
    busy_s: float = 0.0  # wall time inside program calls

    def call(self, name: str, fn, want=None, check=None, **span_attrs):
        """Run ``fn`` in a span named ``name``; returns (result, seconds), with
        seconds None when it raised or its result did not match."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name, **span_attrs):
                result = fn()
        except Exception as e:  # counted, reported, and the run goes on
            self.busy_s += time.perf_counter() - t0
            self._fail(name, f"{type(e).__name__}: {e}")
            return None, None
        dt = time.perf_counter() - t0
        self.busy_s += dt
        problem = check(result) if check else (None if result == want else f"got {result!r}, want {want!r}")
        if problem:
            self._fail(name, problem)
            return result, None
        return result, dt

    def verify(self, name: str, fn, want) -> None:
        """A check that needs its own read of the program's output."""
        self.call(f"check.{name}", fn, want=want)

    def _fail(self, name: str, why: str) -> None:
        self.failed += 1
        self.failures.append({"op": name, "error": why[:500]})


@dataclass
class Ctx:
    """What a workload gets from the runner."""

    seed: int
    seconds: float
    work: str
    ops: Ops
    tracer: object
    start: object          # () -> (SparkSession, seconds): start the session
    spark: object = None
    samples: dict = field(default_factory=dict)   # measured-phase samples by name
    details: dict = field(default_factory=dict)
    t0: float = field(default_factory=time.perf_counter)

    def enter(self, phase: str) -> None:
        """Start a phase; its wall-clock start goes into the details."""
        self.tracer.phase = phase
        self.details.setdefault("phase_start_s", {})[phase] = time.perf_counter() - self.t0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def sample(self, name: str, value) -> None:
        if self.tracer.phase == "measure" and value is not None:
            self.samples.setdefault(name, []).append(value)

    def setup(self, build):
        """Start the session, then build the workload's base SETUPS times,
        each from scratch; returns the last build. setup_s is the session
        start plus the median build's program time."""
        self.spark, start_s = self.start()
        builds, result = [], None
        for i in range(SETUPS):
            busy = self.ops.busy_s
            result = build(i)
            builds.append(self.ops.busy_s - busy)
        self.details.update(session_start_s=start_s, build_s=builds,
                            setup_s=start_s + statistics.median(builds))
        return result


def _write_feed(feed_dir: str, lines: list[str]) -> list[tuple[str, list[str]]]:
    feed.write_schema(feed_dir)
    return [(feed.write_page(feed_dir, i, p), p) for i, p in enumerate(feed.paginate(lines))]


def _feed_bytes(pages) -> int:
    return sum(len(line.encode()) + 1 for _, lines in pages for line in lines)


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def _snapshot_counts(sink: ParquetSink) -> dict:
    rows = sink.read_latest().groupBy("type", "deleted").count().collect()
    return {(r["type"], r["deleted"]): r["count"] for r in rows}


def _walked(ctx: Ctx, root: str) -> dict[str, int]:
    """Data files under ``root``, walked only when tracing (for byte counts)."""
    if not ctx.tracer.enabled:
        return {}
    t0 = time.perf_counter()
    files = data_files(root)
    ctx.tracer.overhead_s += time.perf_counter() - t0
    return files


def _rewritten(before: dict, after: dict) -> tuple[int, int]:
    """(bytes, partitions) of files that are new in ``after``."""
    new = {p: s for p, s in after.items() if p not in before}
    return sum(new.values()), len({os.path.dirname(p) for p in new})


class Pipeline:
    """One landing table with its feed, state and truth, driven through the
    program's entry points."""

    def __init__(self, ctx: Ctx, name: str, feed_dir: str):
        self.ctx = ctx
        self.sink = ParquetSink(ctx.spark, ctx.path(name, "EXECUTE_DOCUMENTS"))
        self.state = CrashingWatermarks(ctx.path(name, "state"))
        self.source = FileFeedSource(feed_dir)
        self.truth = feed.Truth()
        self._cursor = 0  # first span not yet counted as landed by a refresh

    @property
    def snap(self) -> str:
        return self.sink.path.rstrip("/") + "_latest"

    def sync(self, pages, force: bool, crash: bool = False):
        """``sync_once``; returns (documents landed, seconds)."""
        want = self.truth.sync(pages, force=force)
        self.state.armed = crash

        def run():
            try:
                return sync_once(self.ctx.spark, self.source, self.sink, self.state, force=force)
            except SimulatedCrash:
                return "crashed"

        return self.ctx.ops.call("sources.sync_once", run, want="crashed" if crash else want)

    def refresh(self):
        """``refresh_latest`` plus a check that the snapshot holds D2."""
        want = self.truth.refresh()
        before = _walked(self.ctx, self.snap)
        spans = self.ctx.tracer.spans
        landed = sum(s["attrs"].get("bytes_written", 0) for s in spans[self._cursor:] if s["name"] == "sinks.append")
        self._cursor = len(spans)
        touched, dt = self.ctx.ops.call(
            "sinks.refresh", self.sink.refresh_latest,
            check=lambda t: None if (t == ["*"] or set(t) == want) else f"touched {t}, want {sorted(want)}")
        if self.ctx.tracer.enabled:
            span = next(s for s in reversed(self.ctx.tracer.spans) if s["name"] == "sinks.refresh")
            nbytes, _ = _rewritten(before, _walked(self.ctx, self.snap))
            span["attrs"].update(types=len(want), bytes_rewritten=nbytes,
                                 rewrite_ratio=nbytes / landed if landed else 0.0)
        return touched, dt

    def check_tables(self) -> None:
        """The log's row count and, once materialized, the snapshot's rows per
        (type, deleted) against the truth. Run at the end of each phase: the
        per-call results are checked on every call."""
        self.ctx.ops.verify("log_rows", lambda: self.sink.read().count(), self.truth.log_rows)
        if os.path.isdir(self.snap):
            self.ctx.ops.verify("snapshot", lambda: _snapshot_counts(self.sink), self.truth.latest_by_type())

    def prune(self):
        want = self.truth.prune()
        before = _walked(self.ctx, self.sink.path)
        removed, dt = self.ctx.ops.call("sinks.prune", self.sink.prune, want=want)
        if self.ctx.tracer.enabled:
            span = next(s for s in reversed(self.ctx.tracer.spans) if s["name"] == "sinks.prune")
            nbytes, parts = _rewritten(before, _walked(self.ctx, self.sink.path))
            span["attrs"].update(rows_removed=removed or 0, bytes_rewritten=nbytes, partitions_rewritten=parts)
        return removed, dt

    def build_views(self):
        def run():
            views = self.sink.create_views(parse_root_schema(self.source.fetch_schema()))
            return sorted(v for v in views if v in feed.VIEWS)

        return self.ctx.ops.call("operators.views.build", run, want=sorted(feed.VIEWS))

    def check_views(self) -> None:
        want = self.truth.view_rows()
        sql = " UNION ALL ".join(f"SELECT '{v}', count(*) FROM {v}" for v in feed.VIEWS)
        self.ctx.ops.verify("view_rows", lambda: dict(_rows(self.ctx.spark.sql(sql))), want)
        if self.ctx.tracer.enabled:
            self.ctx.details["view_rows"] = sum(want.values())

    def query(self, q: str, answers: dict):
        return self.ctx.ops.call("operators.views.query", lambda: _rows(self.ctx.spark.sql(feed.QUERIES[q])),
                                 want=answers[q], query=q)

    def dedup_counts(self):
        """D2 and D1 over the raw log, timed as separate calls."""
        raw = self.sink.read()
        latest, _ = self.ctx.ops.call("operators.dedup.latest", lambda: dedup_ops.latest(raw).count(),
                                      want=len(self.truth.latest()))
        self.ctx.ops.call("operators.dedup.all_versions",
                          lambda: dedup_ops.latest_all_versions(raw).count(), want=len(self.truth.copies))
        if self.ctx.tracer.enabled:
            self.ctx.details["dedup"] = {"log_rows": self.truth.log_rows, "latest_rows": latest or 0}

    def storage_ratio(self, feed_bytes: int) -> float:
        """Data bytes on disk (log plus snapshot, no markers) per feed byte."""
        on_disk = sum(data_files(self.sink.path).values()) + sum(data_files(self.snap).values())
        return on_disk / feed_bytes


def _measure(ctx: Ctx, rnd, min_rounds: int) -> None:
    """Run ``rnd(i)`` until ``ctx.seconds`` are used, never fewer than
    ``min_rounds`` times. A round is not started if, at the mean round time
    so far, it would end more than half a round past the budget."""
    ctx.enter("measure")
    t0, i = time.perf_counter(), 0
    while True:
        elapsed = time.perf_counter() - t0
        if i >= min_rounds and elapsed + elapsed / i / 2 >= ctx.seconds:
            break
        rnd(i)
        i += 1
    ctx.details["measured_s"] = time.perf_counter() - t0
    ctx.details["measured_rounds"] = i


# ---------------------------------------------------------------- clone_prune

def clone_prune(ctx: Ctx) -> None:
    """Full-refresh re-land then compaction. Set-up clones a backlog in
    10,000-document pages; every step force-clones it again (the reference's
    ``sync --force``) and prunes, which must remove exactly the older copy."""
    gen = feed.FeedGen(ctx.seed, n_workorders=5400, n_customers=900, n_parts=450)
    backlog = gen.lines(gen.backlog(max_versions=2), BACKLOG_MIX)[:feed.PAGE_DOCUMENTS]
    pages = _write_feed(ctx.path("feed"), backlog)

    def build(i):
        p = Pipeline(ctx, f"t{i}", ctx.path("feed"))
        p.sync(pages, force=True)
        return p

    p = ctx.setup(build)

    def step(i):
        n, t_sync = p.sync(pages, force=True)
        _, t_prune = p.prune()
        ctx.sample("load", (n, t_sync) if t_sync else None)
        ctx.sample("prune_s", t_prune)
        ctx.sample("step_s", t_sync + t_prune if t_sync and t_prune else None)

    ctx.enter("warmup")
    for i in range(4):
        step(i)
    # the pruned log holds one copy of the backlog
    ctx.details["storage_bytes_per_input_byte"] = p.storage_ratio(_feed_bytes(pages))
    _measure(ctx, step, min_rounds=5)
    p.check_tables()

    if ctx.tracer.enabled:
        # every layer once, so the traced run reports each per-layer metric
        ctx.enter("coverage")
        p.refresh()
        p.sync(pages, force=True)
        p.refresh()
        p.build_views()
        p.check_views()
        answers = p.truth.answers()
        for q in QUERY_ORDER:
            p.query(q, answers)
        p.dedup_counts()


# ---------------------------------------------------------------- churn_views

def churn_views(ctx: Ctx) -> None:
    """Incremental sync and reads. Set-up clones a base with deep version
    history, materializes the ``_LATEST`` snapshot and builds the view
    forest. Every step lands one small incremental page through the txn
    path, refreshes the snapshot, rebuilds the views and runs one analyst
    query; query classes rotate. One page per phase is replayed after a
    simulated crash between its append and its watermark save."""
    gen = feed.FeedGen(ctx.seed, n_workorders=500, n_customers=130, n_parts=70)
    feed_dir = ctx.path("feed")
    base = _write_feed(feed_dir, gen.lines(gen.backlog(max_versions=5), BACKLOG_MIX))
    next_index = len(base)

    def build(i):
        p = Pipeline(ctx, f"t{i}", feed_dir)
        p.sync(base, force=True)
        p.refresh()
        return p

    p = ctx.setup(build)
    pending: list = []   # a crashed page, fetched again by the next sync

    def step(i, crash=False, queries=None):
        nonlocal next_index, pending
        lines = gen.lines(gen.churn(250), CHURN_MIX)
        page = (feed.write_page(feed_dir, next_index, lines), lines)
        next_index += 1
        n, t_sync = p.sync(pending + [page], force=False, crash=crash)
        pending = [page] if crash else []
        _, t_ref = p.refresh()
        _, t_views = p.build_views()
        answers = p.truth.answers()
        t_q = [p.query(q, answers)[1] for q in (queries or [QUERY_ORDER[i % len(QUERY_ORDER)]])]
        if not crash and t_sync:
            ctx.sample("load", (n, t_sync))
        ctx.sample("fresh_s", t_sync + t_ref if t_sync and t_ref else None)
        for t in t_q:
            ctx.sample("query_s", t)
        parts = [t_sync, t_ref, t_views, *t_q]
        ctx.sample("step_s", sum(parts) if all(parts) else None)

    ctx.enter("warmup")
    for i in range(2):
        step(i, crash=i == 0, queries=QUERY_ORDER)
    # nothing is pruned here: the log holds every page fed to it
    ctx.details["storage_bytes_per_input_byte"] = p.storage_ratio(p.truth.bytes_in)
    # whole rotations of the query classes, so every run's median mixes them alike
    n_rot = len(QUERY_ORDER)
    crash_at = 1

    def rotation(r):
        for j in range(n_rot):
            step(r * n_rot + j, crash=r * n_rot + j == crash_at)

    _measure(ctx, rotation, min_rounds=2)
    p.check_tables()

    if ctx.tracer.enabled:
        ctx.enter("coverage")
        p.dedup_counts()
        p.prune()
        p.check_views()
