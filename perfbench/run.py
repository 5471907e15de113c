#!/usr/bin/env python3
"""Pipeline benchmark: crawl -> parse -> clean -> publish -> analytics.

Run from the repository root:

    python3 perfbench/run.py --workload crawl_relist --seed 1 --seconds 5 --trace 0

Set-up (timed as ``setup_s``) starts a ``local[4]`` Spark session,
warms the Python workers, makes the workload's inputs from ``--seed``
and computes the oracle's expected outputs.  The pipeline then runs
back to back until ``--seconds`` have passed, at least once; every run
is checked against the oracle, and a run that fails the check or
raises counts as failed and gives no timing.  The last line of
standard output is one JSON object: end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1`` (Spark event log
and per-process CPU from ``/proc``, attributed to each layer's span);
a traced run prints its spans (name, parent, start, end) on the line
before.

Everything the run writes (Spark local dirs, the crawl checkpoint, the
published tables, generated inputs, the event log) lives under
``.perfbench_tmp/`` in the repository root and is removed at exit.
The exit code is non-zero when a run failed or the package is missing.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "indigent_defense_stats_spark"
CORES = min(4, os.cpu_count() or 1)
LAYERS = ("frontier", "parse", "clean", "publish", "analytics")
WAVE_WINDOWS = ("seed", "wave0", "wave1", "wave2", "wave3")


@contextlib.contextmanager
def scratch_dir(tag: str):
    """A per-process directory under ``.perfbench_tmp/``, removed (with
    ``.perfbench_tmp/`` itself once empty) on exit."""
    base = os.path.join(ROOT, ".perfbench_tmp")
    path = os.path.join(base, f"{tag}-{os.getpid()}")
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass


def _median(xs: list[float]) -> float | None:
    return statistics.median(xs) if xs else None


def _isolate(scratch: str) -> dict[str, str]:
    """Point every temporary-file location at ``scratch``; returns the
    Spark conf that does the same inside the JVM."""
    tmp = os.path.join(scratch, "tmp")
    local = os.path.join(scratch, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # every JVM spark-submit starts (its launcher too): temp files here,
    # and no hsperfdata files under the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # the synthetic world's case pool is read from the environment;
    # pin it so an inherited value cannot change the inputs
    os.environ["SPARK_GRAFT_CASE_POOL_SCALE"] = "1"
    return {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def _stop(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    for all of them to exit."""
    from pyspark import SparkContext

    from tracing import descendants

    gateway = SparkContext._gateway
    proc = gateway.proc if gateway is not None else None
    kids = descendants(proc.pid) if proc is not None else []
    try:
        spark.stop()
    finally:
        if proc is not None:
            gateway.shutdown()
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
            deadline = time.time() + 30
            while time.time() < deadline and any(
                os.path.exists(f"/proc/{p}") for p in kids
            ):
                time.sleep(0.05)


def _warm_workers(spark) -> None:
    """One Python-worker job per core: forks the workers and imports
    the package's worker-side modules into each."""

    def touch(batches):
        from indigent_defense_stats_spark.operators import parse  # noqa: F401

        for b in batches:
            yield b

    spark.range(0, CORES * 4, 1, CORES).mapInPandas(touch, "id long").count()


def bench(args, scratch: str) -> tuple[dict, bool]:
    conf = _isolate(scratch)
    events = os.path.join(scratch, "events")
    if args.trace:
        os.makedirs(events)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + events
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"

    from pyspark import SparkContext

    from tracing import EventLog, ProcCpu, Tracer
    from workloads import WORKLOADS, case_pages

    from indigent_defense_stats_spark.session import get_spark

    wl = WORKLOADS[args.workload](args.seed)
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=f"local[{CORES}]", extra_conf=conf)
    start_s = time.perf_counter() - t0
    cpu = ProcCpu(SparkContext._gateway.proc.pid)
    tracer = Tracer(cpu if args.trace else None)
    tracer.start_pss_sampler()
    runs: list[dict] = []
    attempted = failed = 0
    crawl_counts = None
    try:
        t0 = time.perf_counter()
        _warm_workers(spark)
        warmup_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        inputs = os.path.join(scratch, "inputs")
        os.makedirs(inputs)
        wl.prepare(spark, inputs)
        prepare_s = time.perf_counter() - t0
        setup_s = start_s + warmup_s + prepare_s

        deadline = time.perf_counter() + args.seconds
        while attempted == 0 or time.perf_counter() < deadline:
            workdir = os.path.join(scratch, f"run{attempted}")
            attempted += 1
            n_spans = len(tracer.spans)
            try:
                c0 = cpu.total()
                t0 = time.perf_counter()
                with tracer.span("run"):
                    out = wl.run(spark, tracer, workdir)
                wall = time.perf_counter() - t0
                cpu_s = cpu.total() - c0
                problems = wl.check(out)
                if not problems and args.trace and hasattr(wl, "crawl_counts"):
                    crawl_counts = wl.crawl_counts(out, workdir)
            except Exception:
                traceback.print_exc()
                problems = ["raised"]
            if problems:
                print(f"perfbench: run {attempted} failed: {problems}", file=sys.stderr)
                failed += 1
                del tracer.spans[n_spans:]
            else:
                runs.append({"wall": wall, "cpu": cpu_s, "out": out})
            shutil.rmtree(workdir, ignore_errors=True)
        if args.trace:
            render_s, extract_s = case_pages(wl.sample)
    finally:
        tracer.stop()
        _stop(spark)

    ok = failed == 0
    if not args.trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "run_s": (_median([r["wall"] for r in runs]), "s"),
            "run_cpu_s": (_median([r["cpu"] for r in runs]), "s"),
        }
    else:
        spans = [
            {"name": s.name, "parent": s.parent, "start": s.start, "end": s.end}
            for s in tracer.spans
        ]
        print(json.dumps({"spans": spans}))
        metrics = layer_metrics(
            tracer,
            EventLog.read(events),
            runs,
            crawl_counts,
            {
                "start_s": start_s,
                "warmup_s": warmup_s,
                "oracle_s": wl.oracle_s,
                "render_ms": 1000 * render_s / len(wl.sample),
                "extract_ms": 1000 * extract_s / len(wl.sample),
            },
        )
    return {
        "correct": ok,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }, ok


def layer_metrics(tracer, evlog, runs, crawl_counts, fixed) -> dict:
    """Per-layer metrics; span and output totals are averaged over the
    successful runs."""
    from tracing import SparkWork

    n = max(1, len(runs))
    out: dict[str, tuple[float, str]] = {}
    run_wall = sum(s.wall for s in tracer.spans if s.name == "run")

    for layer in LAYERS:
        spans = [s for s in tracer.spans if s.name == layer]
        wall = sum(s.wall for s in spans)
        jvm = sum(s.cpu1[0] - s.cpu0[0] for s in spans)
        py = sum(s.cpu1[1] - s.cpu0[1] for s in spans)
        work = [evlog.work(s.start, s.end) for s in spans]
        out[f"{layer}.wall_s"] = (wall / n, "s")
        out[f"{layer}.jvm_cpu_s"] = (jvm / n, "s")
        out[f"{layer}.py_cpu_s"] = (py / n, "s")
        out[f"{layer}.core_util"] = ((jvm + py) / (wall * CORES) if wall else 0.0, "ratio")
        out[f"{layer}.spark_jobs"] = (sum(w.jobs for w in work) / n, "count")
        out[f"{layer}.spark_stages"] = (sum(w.stages for w in work) / n, "count")
        out[f"{layer}.spark_tasks"] = (sum(w.tasks for w in work) / n, "count")
        out[f"{layer}.task_run_s"] = (sum(w.task_run_s for w in work) / n, "s")
        out[f"{layer}.gc_s"] = (sum(w.gc_s for w in work) / n, "s")
        out[f"{layer}.shuffle_write_mb"] = (sum(w.shuffle_write_mb for w in work) / n, "MB")
        out[f"{layer}.spill_mb"] = (sum(w.spill_mb for w in work) / n, "MB")
        out[f"{layer}.share"] = (wall / run_wall if run_wall else 0.0, "ratio")

    gens = [g for r in runs for g in r["out"]["gens"]]

    def per_run(key: str) -> float:
        return sum(g[key] for g in gens) / n

    out["parse.docs"] = (per_run("docs"), "count")
    out["parse.quarantined"] = (per_run("quarantined"), "count")
    out["clean.records_out"] = (per_run("clean"), "count")
    out["clean.dropped"] = (per_run("good") - per_run("clean"), "count")
    out["publish.inserted"] = (per_run("inserted"), "count")
    out["publish.hash_skipped"] = (per_run("clean") - per_run("inserted"), "count")
    out["publish.history_rows"] = (per_run("history"), "count")
    out["publish.written_mb"] = (per_run("written_mb"), "MB")
    out["analytics.rows"] = (per_run("events"), "count")

    # the frontier's own counts (from the last traced crawl), and its
    # Spark work per window: seed write, then one window per wave
    cc = crawl_counts or {}
    waves = cc.get("waves", 0)
    frontier_wall = out["frontier.wall_s"][0]
    out["frontier.waves"] = (waves, "count")
    out["frontier.s_per_wave"] = (frontier_wall / waves if waves else 0.0, "s")
    for key in ("urls", "new_urls", "case_docs", "attempts"):
        out[f"frontier.{key}"] = (cc.get(key, 0), "count")
    out["frontier.retry_ratio"] = (cc["attempts"] / cc["urls"] if cc else 0.0, "ratio")
    out["frontier.state_mb"] = (cc.get("state_mb", 0.0), "MB")
    out["frontier.urls_per_s"] = (cc["urls"] / frontier_wall if cc else 0.0, "1/s")
    frontier = [s for s in tracer.spans if s.name == "frontier"]
    edges = [frontier[-1].start, *cc["wave_ends"]] if cc else []
    for k, name in enumerate(WAVE_WINDOWS):
        w = evlog.work(edges[k], edges[k + 1]) if k + 1 < len(edges) else SparkWork()
        out[f"frontier.{name}.spark_jobs"] = (w.jobs, "count")
        out[f"frontier.{name}.spark_stages"] = (w.stages, "count")
        out[f"frontier.{name}.spark_tasks"] = (w.tasks, "count")

    out["synth.render_ms_per_page"] = (fixed["render_ms"], "ms")
    out["synth.extract_ms_per_page"] = (fixed["extract_ms"], "ms")
    out["oracle.wall_s"] = (fixed["oracle_s"], "s")
    out["session.start_s"] = (fixed["start_s"], "s")
    out["session.warmup_s"] = (fixed["warmup_s"], "s")
    out["session.peak_pss_mb"] = (tracer.peak_pss_mb, "MB")
    layers_wall = sum(out[f"{layer}.wall_s"][0] for layer in LAYERS)
    out["trace.span_coverage"] = (layers_wall * n / run_wall if run_wall else 0.0, "ratio")
    out["trace.overhead_s"] = (tracer.overhead_s, "s")
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops the JVM and removes its scratch
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: workload must be one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    with scratch_dir("run") as scratch:
        result, ok = bench(args, scratch)
    print(json.dumps(result))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
