"""Spans around the program's layer calls, kept in memory, plus Spark counters.

Every span records its name, start, end and parent. In a traced run each
span also sets a Spark job group, so every job the program runs is
attributed to the innermost open span; after the session stops, the event
log gives each job group's jobs, stages, tasks and bytes.

``instrument`` wraps the layer functions that ``sync_once`` calls
(``FileFeedSource.pages``, the ``land_ndjson_lines`` that ``sources.sync``
imports, ``ParquetSink.append`` and ``WatermarkStore.save``) at run time,
from here; nothing in the program is edited. With tracing off no span is
kept and nothing is wrapped.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager


def data_files(root: str) -> dict[str, int]:
    """Size of every data file under ``root`` by path; markers (``_txns``,
    ``_SUCCESS``) and checksum files (``.*.crc``) are not data."""
    out = {}
    for dirpath, dirnames, files in os.walk(root):
        dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
        for f in files:
            if not f.startswith(("_", ".")):
                p = os.path.join(dirpath, f)
                out[p] = os.path.getsize(p)
    return out


class Tracer:
    """In-memory spans of one run, the current phase, and the tracer's own
    cost. Disabled, ``span`` is a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.overhead_s = 0.0  # time spent in span bookkeeping and file walks
        self.sc = None          # the SparkContext job groups are set on
        self.phase = "setup"

    @contextmanager
    def span(self, name: str, **attrs):
        """Open a span; yields its attribute dict (None when tracing is off)."""
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        rec = {"id": len(self.spans), "name": name, "parent": self.stack[-1] if self.stack else None,
               "phase": self.phase, "start": 0.0, "end": 0.0, "attrs": dict(attrs)}
        self.spans.append(rec)
        self.stack.append(rec["id"])
        self._set_group(rec["id"])
        self.overhead_s += time.perf_counter() - t0
        rec["start"] = time.perf_counter()
        try:
            yield rec["attrs"]
        finally:
            rec["end"] = time.perf_counter()
            t1 = time.perf_counter()
            self.stack.pop()
            self._set_group(self.stack[-1] if self.stack else None)
            self.overhead_s += time.perf_counter() - t1

    def record(self, name: str, start: float, end: float, **attrs) -> None:
        """Add a finished span that ran no Spark job (e.g. a file read)."""
        if self.enabled:
            self.spans.append({"id": len(self.spans), "name": name,
                               "parent": self.stack[-1] if self.stack else None,
                               "phase": self.phase, "start": start, "end": end, "attrs": attrs})

    def _set_group(self, span_id):
        if self.sc is None:
            return
        if span_id is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"span-{span_id}", self.spans[span_id]["name"])


def instrument(tracer: Tracer):
    """Wrap the layer functions sync_once calls; returns an undo callable."""
    from execute_sync_spark.sinks.parquet_sink import ParquetSink
    from execute_sync_spark.sources import sync as sync_mod
    from execute_sync_spark.sources.execute_api import FileFeedSource, WatermarkStore

    orig_pages, orig_land = FileFeedSource.pages, sync_mod.land_ndjson_lines
    orig_append, orig_save = ParquetSink.append, WatermarkStore.save

    def pages(self, since):
        it = orig_pages(self, since)
        while True:
            start = time.perf_counter()
            try:
                page = next(it)
            except StopIteration:
                return
            tracer.record("sources.page", start, time.perf_counter(), lines=len(page.lines))
            yield page

    def land(spark, lines, batch_date, chunk_size=None, **kw):
        with tracer.span("landing.land", lines_in=len(lines)):
            return orig_land(spark, lines, batch_date, chunk_size=chunk_size, **kw)

    def append(self, landed, txn_id=None):
        t0 = time.perf_counter()
        before = data_files(self.path)
        tracer.overhead_s += time.perf_counter() - t0
        with tracer.span("sinks.append", txn=txn_id is not None) as a:
            n = orig_append(self, landed, txn_id=txn_id)
        t0 = time.perf_counter()
        new = {p: s for p, s in data_files(self.path).items() if p not in before}
        a.update(rows=n, files_written=len(new), bytes_written=sum(new.values()),
                 replay_skipped=int(txn_id is not None and n == 0 and not new))
        tracer.overhead_s += time.perf_counter() - t0
        return n

    def save(self, mark):
        with tracer.span("sources.watermark_save"):
            return orig_save(self, mark)

    FileFeedSource.pages, sync_mod.land_ndjson_lines = pages, land
    ParquetSink.append, WatermarkStore.save = append, save

    def undo():
        FileFeedSource.pages, sync_mod.land_ndjson_lines = orig_pages, orig_land
        ParquetSink.append, WatermarkStore.save = orig_append, orig_save

    return undo


# ---------------------------------------------------------------- counters

COUNTERS = ("jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes", "input_bytes")


def event_log_counters(event_dir: str) -> dict[str, dict[str, int]]:
    """Per job group ("span-<id>"): jobs, stages, tasks and bytes, summed from
    every uncompressed event log in ``event_dir``."""
    groups: dict[str, dict[str, int]] = {}
    for name in sorted(os.listdir(event_dir)):
        stage_group: dict[int, str] = {}
        with open(os.path.join(event_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    c = groups.setdefault(group, dict.fromkeys(COUNTERS, 0))
                    c["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    group = stage_group.get(info["Stage ID"])
                    # skipped stages (reused shuffle output) never complete
                    if group is not None:
                        groups[group]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    c = groups[group]
                    c["tasks"] += 1
                    sr = m.get("Shuffle Read Metrics", {})
                    c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    c["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    c["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
    return groups


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cursor = 0.0, s["start"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s["id"]] = s["end"] - s["start"] - covered
    return out


def median(values) -> float:
    return statistics.median(values) if values else 0.0
