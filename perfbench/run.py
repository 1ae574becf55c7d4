"""Pipeline benchmark: one workload, one seed, one run.

Run from the repository root::

    python3 perfbench/run.py --workload {backfill,incremental,analytics} \\
        --seed N --seconds S --trace {0,1}

The run generates its inputs from the seed under ``perfbench/.work``,
starts Spark through the package's ``get_spark``, sets the workload up
(input staging, history seeding, untimed warm-up units), runs its closed
loop for ``--seconds``, checks the outputs against the DuckDB oracles and
prints a readable report followed by one JSON line::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the loop alternates untraced and traced units (untraced, traced, traced,
untraced, ...), and the metrics are the per-layer span aggregates of the
traced units plus the tracing overhead: traced minus untraced wall time
over the same number of units.  The exit code is 0 only when every output
matched its oracle and no operation failed.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "options_data_pipeline_spark"
WORKLOADS = ("backfill", "incremental", "analytics")
MAX_CORES = 4

# What each workload's unit and operation are, for the readable report.
OPERATION = {
    "backfill": ("build (median of each step)", "pipeline step",
                 "input rows (klines, trades, ticks) per second"),
    "incremental": ("sync (median)", "micro-batch sync", "delivered ticks per second"),
    "analytics": ("pass of the query mix (fastest run of each query)", "query",
                  "tick rows scanned per second"),
}
ALIASES = {
    "backfill": {"throughput_rows_per_s": "backfill_rows_per_s"},
    "incremental": {"latency_s": "sync_latency_p50_s", "op_latency_p90_s": "sync_latency_p90_s"},
    "analytics": {"op_latency_p50_s": "query_latency_p50_s", "op_latency_p90_s": "query_latency_p90_s"},
}


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="input size preset; 'tiny' is for the benchmark's own tests")
    return p.parse_args(argv)


def prepare_env(work: str) -> dict:
    """Keep every file Spark, the JVM and Python write inside ``work``;
    returns the Spark conf the run passes to ``get_spark``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # Python workers import the package (the klines data source).
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    return {
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # keep every job and stage for the failed-task count and the spans
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


@dataclass
class Loop:
    ops: list
    failed_units: int
    units: int
    wall_s: float


def run_unit(wl, n: int, loop: Loop, tracer=None) -> None:
    """Unit ``n`` of the closed loop, added to ``loop``; a unit that
    raises is counted as failed and the loop goes on."""
    t0 = time.perf_counter()
    try:
        if tracer is not None:
            with tracer.trace(f"unit-{n}"):
                loop.ops.extend(wl.unit(n))
        else:
            loop.ops.extend(wl.unit(n))
    except Exception:  # noqa: BLE001 - the loop is the boundary that must keep running
        traceback.print_exc()
        loop.failed_units += 1
    loop.units += 1
    loop.wall_s += time.perf_counter() - t0


def warm_up(wl) -> None:
    """The workload's warm-up units, part of set-up: the JVM compiles
    the hot paths over the first few units, which run up to 60 % slower
    than the steady state the loop measures."""
    for n in range(wl.warm_units):
        wl.unit(n)


def closed_loop(wl, seconds: float, first: int) -> Loop:
    """One caller: the next unit starts when the previous one returned,
    until ``seconds`` have passed and at least ``min_units`` ran."""
    loop = Loop([], 0, 0, 0.0)
    while loop.units < wl.min_units or loop.wall_s < seconds:
        run_unit(wl, first + loop.units, loop)
    return loop


def traced_loop(wl, tracer, bindings, seconds: float, first: int) -> tuple[Loop, Loop]:
    """Untraced and traced units in blocks of untraced, traced, traced,
    untraced, so a JVM still warming up favours neither half, until both
    halves together have run ``seconds``, in whole blocks.  Returns
    (untraced, traced)."""
    untraced, traced = Loop([], 0, 0, 0.0), Loop([], 0, 0, 0.0)
    n = 0
    while n % 4 or n == 0 or traced.wall_s + untraced.wall_s < seconds:
        if n % 4 in (1, 2):
            with bindings.active():
                wl.tracing = True
                run_unit(wl, first + n, traced, tracer)
                wl.tracing = False
        else:
            run_unit(wl, first + n, untraced)
        n += 1
    return untraced, traced


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def p90(values: list[float]) -> float:
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[-1]


def end_to_end(wl, loop: Loop, setup_s: float) -> dict:
    return {
        "setup_s": (setup_s, "s"),
        "latency_s": (wl.unit_latency(loop.ops) if loop.ops else 0.0, "s"),
    }


LAYERS = ("session", "sources", "functions", "operators", "plans", "jobs", "sinks", "streaming")


def per_layer(summary: dict, wall_s: float, overhead_s: float) -> dict:
    """The span aggregates reported as JSON metrics.  Time is given as
    a share of the traced loop's wall time, so a span a workload never
    calls reads 0 %; ``session.get_spark`` runs once, in set-up, and is
    given in seconds."""
    out = {}
    for name, agg in summary.items():
        if name == "session.get_spark":
            out[f"{name}.total_s"] = (agg["total_s"], "s")
            continue
        out[f"{name}.calls"] = (agg["calls"], "count")
        out[f"{name}.self_pct"] = (100.0 * agg["self_s"] / wall_s, "%")
        out[f"{name}.spark_jobs"] = (agg["spark_jobs"], "count")
        if name.startswith("sinks."):
            out[f"{name}.files_written"] = (agg["files_written"], "count")
            out[f"{name}.rows_written_per_row_changed"] = (agg["rows_written_per_row_changed"], "ratio")
    for layer in LAYERS:
        aggs = [a for n, a in summary.items() if n.split(".")[0] == layer]
        out[f"{layer}.tasks"] = (sum(a["tasks"] for a in aggs), "count")
        out[f"{layer}.failed_tasks"] = (sum(a["failed_tasks"] for a in aggs), "count")
    out["trace.overhead_s"] = (overhead_s, "s")
    out["trace.wall_s"] = (wall_s, "s")
    return out


def report_end_to_end(args, loop: Loop, metrics: dict, errors: list, attempted: int, failed: int,
                      rss_mb: float) -> None:
    """The JSON metrics, then the figures printed for information only:
    throughput, per-operation latency percentiles (too few samples per
    run for a steady tail, see README.md), error rate and peak memory."""
    unit, op, rows = OPERATION[args.workload]
    n = len(loop.ops)
    lat = [o.latency_s for o in loop.ops] or [float("nan")]
    latency = metrics["latency_s"][0]
    print(f"workload={args.workload} seed={args.seed} size={args.size} units={loop.units} "
          f"operations={n} ({op}) loop_wall_s={loop.wall_s:.3f}")
    aliases = ALIASES[args.workload]
    lines = [
        ("setup_s", *metrics["setup_s"], "process start to first timed operation, warm-up included"),
        ("latency_s", latency, "s", f"time of one {unit}, n={loop.units}"),
        ("throughput_rows_per_s", sum(o.rows for o in loop.ops) / max(loop.units, 1) / (latency or 1.0),
         "rows/s", f"informational: {rows}"),
        ("op_latency_p50_s", statistics.median(lat), "s", f"informational: median {op} latency, n={n}"),
        ("op_latency_p90_s", p90(lat), "s", f"informational: n={n}, fewer than 10 samples beyond it"),
        ("error_rate", failed / attempted, "ratio", f"{failed}/{attempted} operations failed"),
        ("peak_rss_mb", rss_mb, "MB", "informational: VmHWM of the driver Python process plus its JVM"),
    ]
    for name, value, unit, note in lines:
        label = f"{name} ({aliases[name]})" if name in aliases else name
        print(f"  {label:<44} {value:>14.4f} {unit:<7} {note}")
    print("  latencies: " + " ".join(f"{o.label}={o.latency_s:.3f}" for o in loop.ops))
    for e in errors:
        print(f"  MISMATCH {e}")


def report_layers(summary: dict, loop_untraced: Loop, loop_traced: Loop) -> None:
    from perfbench.tracing import SINK_FIELDS, STAT_FIELDS

    print(f"traced loop: {loop_traced.units} units in {loop_traced.wall_s:.3f} s; untraced: "
          f"{loop_untraced.units} units in {loop_untraced.wall_s:.3f} s; tracing overhead "
          f"{loop_traced.wall_s - loop_untraced.wall_s:+.3f} s")
    fields = STAT_FIELDS + SINK_FIELDS + ("rows_written_per_row_changed",)
    print("  " + f"{'span':<34}" + "".join(f"{f:>14}" for f in fields))
    for name, agg in summary.items():
        cells = "".join(
            f"{agg[f]:>14.4f}" if isinstance(agg[f], float) else f"{agg[f]:>14}" for f in fields
        )
        print(f"  {name:<34}{cells}")


def run(args, work: str, conf: dict) -> int:
    from options_data_pipeline_spark import session
    from perfbench import tracing, workloads

    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    tracer = tracing.Tracer() if args.trace else None
    get_spark = tracer.wrap("session.get_spark", session.get_spark) if tracer else session.get_spark
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]",
                      shuffle_partitions=cores, extra_conf=conf)
    jvm = spark.sparkContext._gateway.proc  # noqa: SLF001 - the JVM pyspark launched
    try:
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed, args.size, tracer)
        wl.setup()
        warm_up(wl)
        setup_s = time.perf_counter() - START
        if tracer is None:
            loop = closed_loop(wl, args.seconds, wl.warm_units)
        else:
            tracer.sc = spark.sparkContext
            mark = len(tracer.spans)
            bindings = tracing.Bindings(tracer, workloads.span_targets())
            untraced, loop = traced_loop(wl, tracer, bindings, args.seconds, wl.warm_units)
            tracer.resolve_spark()
            spans = tracer.spans[:1] + tracer.spans[mark:]  # get_spark + the traced units
            summary = tracing.summarize(spans, workloads.span_names())
            os.makedirs(os.path.join(HERE, ".traces"), exist_ok=True)
            tracing.dump(spans, os.path.join(HERE, ".traces", f"{args.workload}-seed{args.seed}.jsonl"))
        errors = wl.check()
        # failed Spark tasks, retried or not: jobs outside any span's job
        # group, plus those the spans already counted
        tracing.drain_listener_bus(spark.sparkContext)
        bad_tasks = tracing.spark_counts(spark.sparkContext, None)[2]
        if tracer is not None:
            bad_tasks += sum(s.counters.get("failed_tasks", 0) for s in tracer.spans)
        rss_mb = vm_hwm_mb("self") + vm_hwm_mb(jvm.pid)
    finally:
        spark.stop()
        stop_jvm(jvm)

    loops = [loop] if tracer is None else [untraced, loop]
    ops = sum(len(lp.ops) for lp in loops)
    attempted = ops + sum(lp.failed_units for lp in loops)
    failed = sum(lp.failed_units for lp in loops) + min(bad_tasks, ops) + len(errors)
    attempted = max(attempted, failed, 1)
    if tracer is None:
        metrics = end_to_end(wl, loop, setup_s)
        report_end_to_end(args, loop, metrics, errors, attempted, failed, rss_mb)
    else:
        metrics = per_layer(summary, loop.wall_s, loop.wall_s - untraced.wall_s)
        report_layers(summary, untraced, loop)
        for e in errors:
            print(f"  MISMATCH {e}")
    result = {
        "correct": not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0 if not errors and failed == 0 else 1


def stop_jvm(proc: subprocess.Popen) -> None:
    """The gateway JVM exits when its stdin closes; wait for it, and kill
    it if it does not go."""
    try:
        proc.stdin.close()
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not (os.path.isdir(os.path.join(ROOT, PACKAGE))
            and os.path.isfile(os.path.join(ROOT, "tests", "_compare.py"))):
        print(f"perfbench: {ROOT} does not hold the {PACKAGE} package and tests/_compare.py; "
              "run from a full checkout", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        conf = prepare_env(work)
        sys.path.insert(0, ROOT)
        return run(args, work, conf)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
