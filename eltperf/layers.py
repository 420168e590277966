"""Per-layer metrics of a traced run, from its spans and Spark counters.

Each layer is named by the program module it times. A metric is a per-call
median over the layer's spans in the measured phase; a layer the workload's
measured loop does not call is taken from the traced run's coverage pass
(then warm-up, then set-up), so every traced run reports every metric.
``METRICS`` is the list ``BENCHMARK.json`` carries as ``per_layer``.
"""

from __future__ import annotations

from feed import QUERIES
from spans import COUNTERS, median, self_times

PHASES = ("measure", "coverage", "warmup", "setup")

# layers whose Spark jobs are counted (the others run none of their own)
COUNTED = ("landing.land", "sinks.append", "sinks.refresh", "sinks.prune",
           "operators.dedup.latest", "operators.dedup.all_versions",
           "operators.views.build", "operators.views.query")
SELF_TIMED = ("session.start", "sources.sync_once", "sources.page", "landing.land", "sinks.append",
              "sources.watermark_save") + COUNTED[2:]

# (name, unit, better): costs are better lower; work a call got done
# (lines, rows, types, skipped replays) is better higher
_WORK = ("sources.lines", "landing.lines_in", "landing.rows_out", "landing.kept_ratio", "sinks.append.rows",
         "sinks.append.replays_skipped", "sinks.refresh.types", "operators.dedup.log_rows",
         "operators.dedup.latest_rows", "operators.dedup.latest_ratio", "operators.views.rows",
         "sinks.prune.rows_removed")
METRICS = [(name, unit, "higher" if name in _WORK else "lower") for name, unit in (
    [("session.start_s", "s"),
     ("sources.page_s", "s"), ("sources.lines", "count"),
     ("landing.land_s", "s"), ("landing.lines_in", "count"), ("landing.rows_out", "count"),
     ("landing.kept_ratio", "ratio"),
     ("sinks.append_s", "s"), ("sinks.append.rows", "count"), ("sinks.append.files_written", "count"),
     ("sinks.append.bytes_written", "bytes"), ("sinks.append.replays_skipped", "count"),
     ("sinks.refresh_s", "s"), ("sinks.refresh.types", "count"), ("sinks.refresh.bytes_rewritten", "bytes"),
     ("sinks.refresh.rewrite_ratio", "ratio"),
     ("operators.dedup.latest_s", "s"), ("operators.dedup.all_versions_s", "s"),
     ("operators.dedup.log_rows", "count"), ("operators.dedup.latest_rows", "count"),
     ("operators.dedup.latest_ratio", "ratio"),
     ("operators.views.build_s", "s"), ("operators.views.rows", "count")]
    + [(f"operators.views.query_s.{q}", "s") for q in QUERIES]
    + [("sinks.prune_s", "s"), ("sinks.prune.rows_removed", "count"), ("sinks.prune.bytes_rewritten", "bytes"),
       ("sinks.prune.partitions_rewritten", "count")]
    + [(f"{layer}.{c}", "bytes" if c.endswith("bytes") else "count") for layer in COUNTED for c in COUNTERS]
    + [(f"{layer}.self_s", "s") for layer in SELF_TIMED]
    + [("trace.overhead_ratio", "ratio")]
)]


def per_layer(tracer, counters: dict, details: dict) -> dict[str, float]:
    spans = tracer.spans
    selfs = self_times(spans)

    def pick(name: str, **attrs) -> list[dict]:
        for phase in PHASES:
            got = [s for s in spans if s["name"] == name and s["phase"] == phase
                   and all(s["attrs"].get(k) == v for k, v in attrs.items())]
            if got:
                return got
        return []

    def dur(ss):
        return median([s["end"] - s["start"] for s in ss])

    def attr(ss, key):
        return median([s["attrs"].get(key, 0) for s in ss])

    m: dict[str, float] = {"session.start_s": dur(pick("session.start"))}
    pages = pick("sources.page")
    m.update({"sources.page_s": dur(pages), "sources.lines": attr(pages, "lines")})

    # a page's landing pairs with the append that follows it in the same sync
    lands, appends = pick("landing.land"), pick("sinks.append")
    after = {s["parent"]: [] for s in appends}
    for s in appends:
        after[s["parent"]].append(s)
    pairs = []
    for parent in {s["parent"] for s in lands}:
        mine = [s for s in lands if s["parent"] == parent]
        pairs += [(la, ap) for la, ap in zip(mine, after.get(parent, [])) if not ap["attrs"].get("replay_skipped")]
    lines_in = sum(la["attrs"]["lines_in"] for la, _ in pairs)
    m.update({
        "landing.land_s": dur(lands), "landing.lines_in": attr(lands, "lines_in"),
        "landing.rows_out": median([ap["attrs"]["rows"] for _, ap in pairs]),
        "landing.kept_ratio": sum(ap["attrs"]["rows"] for _, ap in pairs) / lines_in if lines_in else 0.0,
        "sinks.append_s": dur(appends), "sinks.append.rows": attr(appends, "rows"),
        "sinks.append.files_written": attr(appends, "files_written"),
        "sinks.append.bytes_written": attr(appends, "bytes_written"),
        "sinks.append.replays_skipped": sum(s["attrs"].get("replay_skipped", 0) for s in appends),
    })
    refreshes = pick("sinks.refresh")
    m.update({"sinks.refresh_s": dur(refreshes), "sinks.refresh.types": attr(refreshes, "types"),
              "sinks.refresh.bytes_rewritten": attr(refreshes, "bytes_rewritten"),
              "sinks.refresh.rewrite_ratio": attr(refreshes, "rewrite_ratio")})
    dedup = details.get("dedup", {})
    log_rows, latest_rows = dedup.get("log_rows", 0), dedup.get("latest_rows", 0)
    m.update({"operators.dedup.latest_s": dur(pick("operators.dedup.latest")),
              "operators.dedup.all_versions_s": dur(pick("operators.dedup.all_versions")),
              "operators.dedup.log_rows": log_rows, "operators.dedup.latest_rows": latest_rows,
              "operators.dedup.latest_ratio": latest_rows / log_rows if log_rows else 0.0,
              "operators.views.build_s": dur(pick("operators.views.build")),
              "operators.views.rows": details.get("view_rows", 0)})
    for q in QUERIES:
        m[f"operators.views.query_s.{q}"] = dur(pick("operators.views.query", query=q))
    prunes = pick("sinks.prune")
    m.update({"sinks.prune_s": dur(prunes), "sinks.prune.rows_removed": attr(prunes, "rows_removed"),
              "sinks.prune.bytes_rewritten": attr(prunes, "bytes_rewritten"),
              "sinks.prune.partitions_rewritten": attr(prunes, "partitions_rewritten")})

    zero = dict.fromkeys(COUNTERS, 0)
    for layer in COUNTED:
        calls = [counters.get(f"span-{s['id']}", zero) for s in pick(layer)]
        for c in COUNTERS:
            m[f"{layer}.{c}"] = median([x[c] for x in calls])
    for layer in SELF_TIMED:
        m[f"{layer}.self_s"] = median([selfs[s["id"]] for s in pick(layer)])
    wall = max(s["end"] for s in spans) - min(s["start"] for s in spans)
    m["trace.overhead_ratio"] = tracer.overhead_s / wall
    return m
