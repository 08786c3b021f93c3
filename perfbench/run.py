"""Benchmark entry point: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload tail_mor_mirror --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the repository.  The run works in its
own directory under ``perfbench/_runs/`` (Spark's local dir, the JVM's temp
dir, the staged inputs, the tables and, when traced, the event log), and
removes it on exit, also when the run fails.

stdout ends with three kinds of lines: the per-layer table (traced runs),
one ``artifact`` JSON line with the host stamp and every sample, and, last,
the result line ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
per-layer ones.  See README.md.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()  # setup_s counts from here

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = os.path.join(HERE, "_runs")

sys.path.insert(0, HERE)
import host  # noqa: E402

E2E_UNITS = {
    "setup_s": "s",
    "ingest_events_per_s": "1/s",
    "freshness_lag_s.p50": "s",
    "commit_s.p50": "s",
    "read_s": "s",
    "lookup_s.p50": "s",
    "space_amp": "ratio",
    "peak_rss_mb": "MiB",
}

#: Layers wrapped in a traced run (span name = Spark job group).
LAYERS = [
    "cdc.lake.merge",
    "cdc.lake.compact_if_needed",
    "cdc.apply.apply_batch",
    "cdc.drift.resolve_drift",
    "cdc.follow.poll",
    "cdc.follow.apply_delivery",
    "cdc.router.replay_routed",
    "cdc.router.apply_routed",
    "matchers.get_matches",
]
SPARK_METRICS = {
    "jobs": "count",
    "tasks_failed": "count",
    "shuffle_write_bytes": "bytes",
    "executor_cpu_s": "s",
    "gc_s": "s",
}


def layer_units() -> dict:
    units = {
        "cdc.lake.merge.s": "s",
        "cdc.lake.merge.jobs": "count",
        "cdc.lake.merge.tasks": "count",
        "cdc.lake.merge.files_written": "count",
        "cdc.lake.merge.bytes_written": "bytes",
        "cdc.lake.compact_if_needed.s": "s",
        "cdc.lake.compactions": "count",
        "cdc.lake.files_live": "count",
        "cdc.lake.bytes_on_disk": "bytes",
        "cdc.apply.apply_batch.self_s": "s",
        "cdc.apply.apply_batch.jobs": "count",
        "cdc.follow.poll.s": "s",
        "cdc.follow.apply_delivery.s": "s",
        "cdc.follow.rows_delivered": "count",
        "cdc.follow.version_lag": "versions",
        "cdc.router.decode_s": "s",
        "cdc.router.apply_routed.s": "s",
        "cdc.router.dead_letters": "count",
        "cdc.drift.resolve_drift.s": "s",
        "cdc.drift.resolve_drift.calls": "count",
        "cdc.drift.mapped_cols": "count",
        "matchers.get_matches.s": "s",
    }
    units.update({f"spark.{m}": u for m, u in SPARK_METRICS.items()})
    for layer in LAYERS:
        units.update({f"spark.{layer}.{m}": u for m, u in SPARK_METRICS.items()})
    units.update({"host.loadavg_1m": "load", "host.steal_frac": "frac", "trace.overhead_frac": "frac"})
    return units


def median(xs):
    return statistics.median(xs) if xs else 0.0


class _Terminated(BaseException):
    pass


def _on_signal(signum, frame):
    raise _Terminated(signum)


def start_spark(run_dir: str, run_id: str, trace: bool):
    """A local[nproc] session whose every scratch path is inside ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # the JVM that spark-submit runs first to build the driver's command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    from pyspark.sql import SparkSession

    n = host.nproc()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(f"perfbench-{run_id}")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "1g")
        .config("spark.local.dir", os.path.join(run_dir, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
        .config(
            "spark.driver.extraJavaOptions",
            f"{host.JVM_MARKER}{run_id} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    if trace:
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + os.path.join(run_dir, "eventlog"))
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until every one of them has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    family = host.descendants(proc.pid) if proc is not None else []
    try:
        spark.stop()
    finally:
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway exits on EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
            left = host.wait_gone(family, 30)
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            host.wait_gone(left, 10)
        SparkContext._gateway = None
        SparkContext._jvm = None


def install_layers(tracer) -> None:
    """Wrap the public entry of every layer for the timed phase.  Functions
    are wrapped in each module that binds them, so calls from inside the
    library (``apply_routed`` -> ``apply_batch`` -> ``resolve_drift``) are
    traced too."""
    from valentine_spark import cdc, matchers
    from valentine_spark.cdc import apply, drift, follow, router

    def written(args, kwargs):
        data = os.path.join(args[0].root, "data")
        before = _parquet_files(data)

        def finish(result):
            new = _parquet_files(data) - before
            return {
                "cdc.lake.merge.files_written": len(new),
                "cdc.lake.merge.bytes_written": sum(os.path.getsize(p) for p in new),
            }

        return finish

    def compacted(args, kwargs):
        return lambda r: {"cdc.lake.compactions": 1 if r.get("compacted_buckets") else 0}

    def drifted(args, kwargs):
        return lambda r: {"cdc.drift.resolve_drift.calls": 1 if r[1] else 0}

    tracer.install([cdc.LakeTable], "merge", "cdc.lake.merge", probe=written)
    tracer.install([cdc.LakeTable], "compact_if_needed", "cdc.lake.compact_if_needed", probe=compacted)
    tracer.install([cdc, apply, router], "apply_batch", "cdc.apply.apply_batch")
    tracer.install([cdc, apply, drift], "resolve_drift", "cdc.drift.resolve_drift", probe=drifted)
    tracer.install([cdc.ChangelogFollower], "poll", "cdc.follow.poll")
    tracer.install([cdc, follow], "apply_delivery", "cdc.follow.apply_delivery")
    tracer.install([cdc, router], "replay_routed", "cdc.router.replay_routed")
    tracer.install([cdc, router], "apply_routed", "cdc.router.apply_routed")
    for cls in (matchers.JaccardDistanceMatcher, matchers.Cupid, matchers.DistributionBased):
        tracer.install([cls], "get_matches", "matchers.get_matches")
    tracer.install([matchers.DistributionBased], "get_pairwise_similarities", "matchers.get_matches")


def _parquet_files(root: str) -> set:
    out = set()
    for dirpath, _, files in os.walk(root):
        out.update(os.path.join(dirpath, f) for f in files if f.endswith(".parquet"))
    return out


def end_to_end(ctx, setup_s: float, peak_rss_mb: float) -> dict:
    s = ctx.samples
    return {
        "setup_s": setup_s,
        "ingest_events_per_s": ctx.metrics["ingest_events_per_s"],
        "freshness_lag_s.p50": median(s["freshness_lag_s"]),
        "commit_s.p50": median(s["commit_s"]),
        "read_s": median(s["read_s"]),
        "lookup_s.p50": median(s["lookup_s"]),
        "space_amp": ctx.metrics["space_amp"],
        "peak_rss_mb": peak_rss_mb,
    }


def per_layer(ctx, tracer, groups: dict, overhead_frac: float, stamps: tuple) -> tuple:
    """Per-layer metrics of the timed phase, and the text table."""
    wall = ctx.timed_end - ctx.timed_start
    times = tracer.layer_times(ctx.timed_start, ctx.timed_end)
    zero = {"calls": 0, "incl_s": 0.0, "self_s": 0.0}
    t = lambda layer: times.get(layer, zero)
    g = lambda name: groups.get(name, {})
    c = tracer.counters

    # decode = from replay_routed entry to its first apply_routed
    decode_s = 0.0
    for sp in tracer.spans_named("cdc.router.replay_routed"):
        if ctx.timed_start <= sp.start < ctx.timed_end:
            firsts = [ch.start for ch in sp.children if ch.name == "cdc.router.apply_routed"]
            decode_s += (min(firsts) if firsts else sp.end) - sp.start
    matcher_s = sum(
        sp.dur for sp in tracer.spans_named("matchers.get_matches")
        if ctx.timed_start <= sp.start < ctx.timed_end
        and (sp.parent is None or sp.parent.name != "matchers.get_matches")
    )
    timed_groups = LAYERS + ["bench.timed", "bench.wait"]
    m = {
        "cdc.lake.merge.s": t("cdc.lake.merge")["incl_s"],
        "cdc.lake.merge.jobs": g("cdc.lake.merge").get("jobs", 0),
        "cdc.lake.merge.tasks": g("cdc.lake.merge").get("tasks", 0),
        "cdc.lake.merge.files_written": c.get("cdc.lake.merge.files_written", 0),
        "cdc.lake.merge.bytes_written": c.get("cdc.lake.merge.bytes_written", 0),
        "cdc.lake.compact_if_needed.s": t("cdc.lake.compact_if_needed")["incl_s"],
        "cdc.lake.compactions": c.get("cdc.lake.compactions", 0),
        "cdc.lake.files_live": ctx.layer.get("cdc.lake.files_live", 0),
        "cdc.lake.bytes_on_disk": ctx.layer.get("cdc.lake.bytes_on_disk", 0),
        "cdc.apply.apply_batch.self_s": t("cdc.apply.apply_batch")["self_s"],
        "cdc.apply.apply_batch.jobs": g("cdc.apply.apply_batch").get("jobs", 0),
        "cdc.follow.poll.s": t("cdc.follow.poll")["incl_s"],
        "cdc.follow.apply_delivery.s": t("cdc.follow.apply_delivery")["incl_s"],
        "cdc.follow.rows_delivered": ctx.layer.get("cdc.follow.rows_delivered", 0),
        "cdc.follow.version_lag": statistics.mean(ctx.samples["version_lag"]) if ctx.samples.get("version_lag") else 0.0,
        "cdc.router.decode_s": decode_s,
        "cdc.router.apply_routed.s": t("cdc.router.apply_routed")["incl_s"],
        "cdc.router.dead_letters": ctx.layer.get("cdc.router.dead_letters", 0),
        "cdc.drift.resolve_drift.s": t("cdc.drift.resolve_drift")["incl_s"],
        "cdc.drift.resolve_drift.calls": c.get("cdc.drift.resolve_drift.calls", 0),
        "cdc.drift.mapped_cols": ctx.layer.get("cdc.drift.mapped_cols", 0),
        "matchers.get_matches.s": matcher_s,
    }
    for metric in SPARK_METRICS:
        m[f"spark.{metric}"] = sum(g(name).get(metric, 0) for name in timed_groups)
        for layer in LAYERS:
            m[f"spark.{layer}.{metric}"] = g(layer).get(metric, 0)
    start, end = stamps
    m["host.loadavg_1m"] = end["loadavg_1m"]
    m["host.steal_frac"] = host.steal_frac(start, end)
    m["trace.overhead_frac"] = overhead_frac

    # the table: self times plus the untraced remainder make up the wall
    self_total = sum(r["self_s"] for r in times.values())
    rows = [f"{'layer (timed phase)':<34}{'calls':>7}{'incl_s':>10}{'self_s':>10}{'share':>8}{'jobs':>7}{'tasks':>7}"]
    for name in sorted(times, key=lambda n: -times[n]["self_s"]):
        r = times[name]
        rows.append(
            f"{name:<34}{r['calls']:>7}{r['incl_s']:>10.3f}{r['self_s']:>10.3f}"
            f"{r['self_s'] / wall:>8.1%}{g(name).get('jobs', 0):>7}{g(name).get('tasks', 0):>7}"
        )
    remainder = wall - self_total
    rows.append(
        f"{'(untraced remainder)':<34}{'':>7}{'':>10}{remainder:>10.3f}{remainder / wall:>8.1%}"
        f"{g('bench.timed').get('jobs', 0):>7}{g('bench.timed').get('tasks', 0):>7}"
    )
    rows.append(f"{'timed wall':<34}{'':>7}{'':>10}{wall:>10.3f}{1:>8.1%}")
    rows.append(f"tracer bookkeeping (outside spans): {tracer.bookkeeping_s:.3f}s")
    accounted = self_total <= wall + 1e-3 and all(
        sp.self_s >= -1e-3 for sp in tracer.spans if ctx.timed_start <= sp.start < ctx.timed_end
    )
    ctx.check("trace accounting", accounted, f"self times {self_total:.3f}s exceed wall {wall:.3f}s")
    return m, rows


def reference_path(workload: str) -> str:
    return os.path.join(RUNS, f"untraced-{workload}.json")


def overhead(workload: str, ctx, tracer) -> tuple:
    """Slowdown of this traced run's per-slice step time against the last
    untraced run of the workload with the same sizes on a host with the same
    nproc; without one, the tracer's own bookkeeping share of the timed
    wall."""
    step = median(ctx.samples["step_s"])
    try:
        with open(reference_path(workload)) as fh:
            ref = json.load(fh)
    except (OSError, ValueError):
        ref = None
    same = {"nproc": host.nproc(), "scale": ctx.scale, "seconds": ctx.seconds}
    if ref and all(ref.get(k) == v for k, v in same.items()) and ref.get("step_s_p50", 0) > 0:
        return step / ref["step_s_p50"] - 1.0, "untraced reference run"
    wall = ctx.timed_end - ctx.timed_start
    return tracer.bookkeeping_s / wall, "tracer bookkeeping (no untraced reference)"


def run(args, run_dir: str, run_id: str) -> dict:
    import workloads
    from tracing import Tracer, parse_event_log

    stamp0 = host.stamp(run_dir)
    spark = start_spark(run_dir, run_id, bool(args.trace))
    try:
        from pyspark import SparkContext

        rss = host.RssSampler(SparkContext._gateway.proc.pid).start()
        tracer = Tracer(spark.sparkContext) if args.trace else None
        ctx = workloads.Ctx(spark, run_dir, args.seed, args.seconds, tracer=tracer, scale=args.scale)
        if tracer is not None:
            tracer.set_group("bench.setup")
            ctx.layer_hooks = (lambda: install_layers(tracer), tracer.uninstall)
        ctx.mark("spark")
        workloads.WORKLOADS[args.workload](ctx)
        ctx.mark("done")
        peak_rss_mb = rss.stop()
    finally:
        stop_spark(spark)
    stamp1 = host.stamp(run_dir)
    setup_s = ctx.timed_start_wall - PROCESS_START

    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale,
        "host": {
            "start": stamp0, "end": stamp1, "steal_frac": host.steal_frac(stamp0, stamp1),
            "pyspark": __import__("pyspark").__version__, "java": host.java_version(),
            "python": sys.version.split()[0],
        },
        "phases_s": {name: round(t - PROCESS_START, 3) for name, t in ctx.phases},
        "samples": ctx.samples, "errors": ctx.errors,
    }
    if args.trace:
        groups = parse_event_log(os.path.join(run_dir, "eventlog"))
        frac, basis = overhead(args.workload, ctx, tracer)
        metrics, table = per_layer(ctx, tracer, groups, frac, (stamp0, stamp1))
        units = layer_units()
        artifact["overhead_basis"] = basis
        artifact["groups"] = groups
        for line in table:
            print(line)
    else:
        metrics = end_to_end(ctx, setup_s, peak_rss_mb)
        units = E2E_UNITS
        os.makedirs(RUNS, exist_ok=True)
        with open(reference_path(args.workload), "w") as fh:
            json.dump({"nproc": host.nproc(), "scale": args.scale, "seconds": args.seconds,
                       "seed": args.seed, "step_s_p50": median(ctx.samples["step_s"])}, fh)
    artifact["metrics"] = metrics
    print("artifact " + json.dumps(artifact, default=str))
    if set(metrics) != set(units):
        raise RuntimeError(f"metric set mismatch: {sorted(set(metrics) ^ set(units))}")
    return {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in sorted(metrics)},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the smoke test runs tiny sizes)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "valentine_spark", "__init__.py")):
        print(f"perfbench: no valentine_spark package next to {HERE}; run from a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    leftover = host.wait_gone(host.marked_jvms(), 30)
    if leftover:
        print(f"perfbench: a JVM from an earlier run is still alive (pids {leftover}); refusing to start",
              file=sys.stderr)
        return 3

    run_id = f"{args.workload}-{os.getpid()}-{time.time_ns()}"
    run_dir = os.path.join(RUNS, run_id)
    for sub in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(run_dir, sub))
    signal.signal(signal.SIGTERM, _on_signal)
    signal.signal(signal.SIGINT, _on_signal)
    try:
        result = run(args, run_dir, run_id)
    except _Terminated as e:
        print(f"perfbench: terminated by signal {e.args[0]}", file=sys.stderr)
        return 143
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
