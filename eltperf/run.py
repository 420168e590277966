"""ELT-path benchmark for execute_sync_spark.

    python3 eltperf/run.py --workload clone_prune --seed 1 --seconds 10 --trace 0

Runs one workload (see ``workloads.py``) in one process on
``get_spark(cpus=nproc)`` and prints, as its last line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones of ``BENCHMARK.json``; with ``--trace 1``
the run is traced and the metrics are the per-layer ones. Run details
(samples, tails, warm-up halves, host record, failures, and with tracing the
spans) go to ``.eltperf/runs/``. All scratch (Spark local dirs, event log,
JVM tmpdir, Derby home, warehouse) lives in a per-run work directory under
``.eltperf/`` that is removed at the end, after the JVM has exited.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEMORY = "2g"  # get_spark's own default (48g) overcommits a small shared host


def _quantile_tail(values: list[float]) -> dict:
    """The highest of p99/p95/p90/p75 with at least ten samples beyond it."""
    n = len(values)
    for p in (99, 95, 90, 75):
        if n * (100 - p) / 100 >= 10:
            return {"percentile": p, "value": statistics.quantiles(values, n=100)[p - 1], "samples": n}
    return {"percentile": None, "value": None, "samples": n}


def _halves(values: list[float]) -> list[float] | None:
    """Median of the first half against the second half."""
    if len(values) < 4:
        return None
    h = len(values) // 2
    return [statistics.median(values[:h]), statistics.median(values[-h:])]


def host_probe(spark) -> float:
    """Wall time of a fixed job that does not touch the program (median of 3)."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(20_000_000).selectExpr("sum(id % 7)").collect()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def end_to_end(ctx) -> dict[str, float]:
    s, d = ctx.samples, ctx.details
    docs, secs = zip(*s["load"])
    return {
        "setup_s": d["setup_s"],
        "load_docs_per_s": sum(docs) / sum(secs),
        "step_p50_s": statistics.median(s["step_s"]),
        "storage_bytes_per_input_byte": d["storage_bytes_per_input_byte"],
    }


def run(bench: dict, workload: str, seed: int, seconds: float, trace: bool) -> tuple[dict, dict]:
    """One run; returns (result line, details). Raises if the run could not
    produce its metrics at all."""
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".eltperf", f"work-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    for d in ("tmp", "local", "events", "derby"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work}/derby",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })

    from execute_sync_spark import get_spark
    from pyspark import SparkContext

    import spans as tracing
    import workloads

    tracer = tracing.Tracer(trace)
    undo = tracing.instrument(tracer) if trace else (lambda: None)
    state = {"spark": None}

    def start():
        t0 = time.perf_counter()
        with tracer.span("session.start"):
            state["spark"] = get_spark("eltperf", cpus=str(nproc), extra_conf=conf)
        tracer.sc = state["spark"].sparkContext
        return state["spark"], time.perf_counter() - t0

    ops = workloads.Ops(tracer)
    ctx = workloads.Ctx(seed=seed, seconds=seconds, work=work, ops=ops, tracer=tracer, start=start)
    try:
        try:
            getattr(workloads, workload)(ctx)
            spark = state["spark"]
            ctx.enter("teardown")
            ctx.details["host"] = {
                "nproc": nproc, "driver_memory": DRIVER_MEMORY, "spark": spark.version,
                "probe_s": host_probe(spark), "jvm_pid": SparkContext._gateway.proc.pid,
            }
        finally:
            undo()
            gateway = SparkContext._gateway
            procs = _process_tree(gateway)  # before stop() ends the Python workers
            if state["spark"] is not None:
                state["spark"].stop()  # also flushes the event log
            ctx.details["stopped_pids"] = _stop_jvm(gateway, procs)
        if trace:
            counters = tracing.event_log_counters(os.path.join(work, "events"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ctx.details["wall_s"] = time.perf_counter() - ctx.t0
    details = dict(ctx.details, workload=workload, seed=seed, seconds=seconds, trace=trace,
                   work=work, failures=ops.failures)
    details["samples"] = {k: v for k, v in ctx.samples.items()}
    for name, key in (("fresh", "fresh_s"), ("query", "query_s"), ("prune", "prune_s"), ("step", "step_s")):
        if ctx.samples.get(key):
            vals = ctx.samples[key]
            details[f"{name}_p50_s"] = statistics.median(vals)
            details[f"{name}_tail_s"] = _quantile_tail(vals)
    if trace:
        import layers
        metrics = layers.per_layer(tracer, counters, ctx.details)
        details["spans"] = tracer.spans
        details["counters"] = counters
    else:
        metrics = end_to_end(ctx)
        details["halves"] = _check_halves(ctx, {m["name"]: m["bound"] for m in bench["end_to_end"]})
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    result = {
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": v, "unit": units.get(k, "")} for k, v in metrics.items()},
    }
    return result, details


def _check_halves(ctx, bounds: dict) -> dict:
    """First-half against second-half medians of every sampled series; a pair
    that differs by more than its end-to-end metric's bound is flagged as
    unsettled."""
    series = {
        "load_docs_per_s": ("load_docs_per_s", [n / t for n, t in ctx.samples.get("load", [])]),
        **{k: ("step_p50_s", ctx.samples.get(k, [])) for k in ("step_s", "fresh_s", "query_s", "prune_s")},
    }
    out = {}
    for name, (bound_of, values) in series.items():
        h = _halves(values)
        if h:
            out[name] = {"halves": h, "unsettled": abs(h[1] - h[0]) / h[0] > bounds[bound_of]}
    return out


def _process_tree(gateway) -> list[int]:
    """The JVM and every live process below it (its Python workers)."""
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return []
    parent = {}
    for p in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{p}/stat") as f:
                parent[int(p)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            pass
    out, frontier = [proc.pid], [proc.pid]
    while frontier:
        frontier = [c for c, pp in parent.items() if pp in frontier]
        out += frontier
    return out


def _alive(pid: int) -> bool:
    """Running, not exited (a zombie has exited)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _stop_jvm(gateway, procs: list[int]) -> list[int]:
    """Shut the py4j gateway, then wait for the JVM to exit (it exits when its
    stdin closes) and for every process in ``procs``; kill what outlives 30 s.
    Returns ``procs``."""
    if gateway is None:
        return procs
    try:
        gateway.shutdown()
    except Exception:  # the JVM may already be gone
        pass
    proc = gateway.proc
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    alive = procs[1:]
    while alive and time.monotonic() < deadline:
        time.sleep(0.05)
        alive = [p for p in alive if _alive(p)]
    for p in alive:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass
    from pyspark import SparkContext
    SparkContext._gateway = None
    SparkContext._jvm = None
    return procs


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import execute_sync_spark
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"eltperf: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(execute_sync_spark.__file__).startswith(ROOT + os.sep):
        print(f"eltperf: execute_sync_spark comes from outside {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.workload not in [w["name"] for w in bench["workloads"]]:
        print(f"eltperf: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    result, details = run(bench, args.workload, args.seed, args.seconds, bool(args.trace))
    out_dir = os.path.join(ROOT, ".eltperf", "runs")
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as f:
        json.dump(details, f, default=str)
    for fail in details["failures"]:
        print(f"eltperf: FAILED {fail['op']}: {fail['error']}", file=sys.stderr)
    print(f"details: {os.path.relpath(out, ROOT)}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
