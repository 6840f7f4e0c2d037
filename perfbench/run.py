"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload sync_dag_sqlite --seed 1 \
        --seconds 1 --trace 0

Workloads: ``sync_dag_sqlite`` and ``analytics_headline``. Run from
the repository root. With ``--trace 0`` the last stdout line is a JSON
object with the end-to-end metrics; with ``--trace 1`` it carries the
per-layer metrics of a traced run (spans wrapped around the program's
public calls, one Spark job group per span, UI status API on). The
lines before it give each metric's sample count and the box record.
All inputs and scratch files live under ``.perfbench_work/`` in the
current directory and are removed at exit, except the spans a traced
run writes there (``spans-<workload>-<seed>.json``).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

APP_NAME = "perfbench"
# Conf the traced run adds: the status REST API (shuffle bytes) and
# enough retained jobs/stages that none is evicted before it is read.
TRACE_CONF = {
    "spark.ui.enabled": "true",
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
}
# bench.py's fixed compute probe; it exercises no program layer.
CALIBRATION_ROWS = 200_000_000


def timed(fn, *args):
    start = time.perf_counter()
    result = fn(*args)
    return time.perf_counter() - start, result


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def percentile_note(xs: list[float]) -> str:
    """Median with its sample count, plus the highest of p90/p99 that
    has at least ten samples beyond it."""
    note = f"median={median(xs):.4f} n={len(xs)}"
    for p in (99, 90):
        if len(xs) * (100 - p) / 100 >= 10:
            q = statistics.quantiles(xs, n=100)[p - 1]
            note += f" p{p}={q:.4f}"
            break
    return note


def peak_rss_mb(spark) -> float:
    """Peak resident set of this Python process plus its JVM child."""

    def hwm_kb(pid) -> int:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return (hwm_kb("self") + hwm_kb(jvm_pid)) / 1024.0


def calibrate(spark) -> float:
    start = time.perf_counter()
    spark.range(0, CALIBRATION_ROWS, 1, 32).selectExpr(
        "sum(pmod(id * 2654435761, 1000003)) AS s"
    ).collect()
    return time.perf_counter() - start


def stop_jvm() -> None:
    """Stop Spark, if it started, and wait for its JVM to exit (it
    exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def install_wrappers(tracer, conn_probe) -> None:
    """Spans around each sync layer's public calls, as the syncer and
    the backend call them (the analytics workload opens one span per
    query itself)."""
    from mydatasyncer_spark import syncer
    from mydatasyncer_spark.sinks.applier import DbApiBackend

    w = tracer.wrap
    w(syncer.Syncer, "run", "syncer", "Syncer.run")
    w(syncer, "read_file", "readers")
    w(syncer, "coerce_rfc3339", "readers")
    w(syncer, "validate_primary_keys", "validation")
    w(syncer, "diff_snapshots", "diff")
    w(syncer, "build_plan", "dryrun")
    w(syncer, "apply_diff", "applier", probe=conn_probe)
    for m in ("insert_rows", "update_rows", "delete_rows"):
        w(DbApiBackend, m, "applier", f"DbApiBackend.{m}", probe=conn_probe)
    w(DbApiBackend, "read_snapshot", "snapshot", "DbApiBackend.read_snapshot")
    w(syncer, "stage_legs", "staging")
    w(syncer, "apply_staged_deletes", "staged_apply",
      counts=lambda n: {"rows": n})
    w(syncer, "apply_staged_upserts", "staged_apply",
      counts=lambda r: {"rows": r[0] + r[1]})


def layer_metrics(ops, query_names, extra) -> dict[str, float]:
    """Per-layer metrics. For each layer: the median, over the traced
    warm operations that call it (or, if none does, over every traced
    operation that does), of the operation's total for that layer.
    ``spark.*`` totals are medians over the warm operations."""
    warm = [op for op in ops if op.kind == "warm"]

    def med(fn, layer=None, over=None) -> float:
        pool = over if over is not None else ops
        chosen = [op for op in pool if layer is None or layer in op.layers()]
        if over is None:
            chosen = [op for op in chosen if op.kind == "warm"] or chosen
        return float(median([fn(op) for op in chosen]))

    def self_s(layer):
        return med(lambda op: op.layer_self()[layer], layer)

    def spark(layer, count="jobs"):
        return med(lambda op: op.layer_spark(count)[layer], layer)

    def count(layer, key):
        return med(lambda op: op.layer_counts()[layer].get(key, 0.0), layer)

    def extra_of(key, layer):
        return med(lambda op: extra[op.op].get(key, 0.0), layer)

    out = {
        "readers.read_s": self_s("readers"),
        "readers.jobs": spark("readers"),
        "snapshot.read_s": self_s("snapshot"),
        "snapshot.rows": extra_of("snapshot_rows", "snapshot"),
        "validation.s": self_s("validation"),
        "validation.jobs": spark("validation"),
        "diff.build_s": self_s("diff"),
        "diff.jobs": spark("diff"),
        "diff.changed_rows": extra_of("changed_rows", "diff"),
        "diff.rows_examined_per_change": extra_of(
            "rows_examined_per_change", "diff"
        ),
        "dryrun.build_plan_s": self_s("dryrun"),
        "dryrun.jobs": spark("dryrun"),
        "applier.apply_s": self_s("applier"),
        "applier.db_s": count("applier", "db_s"),
        "applier.wait_spark_s": med(
            lambda op: op.layer_self()["applier"]
            - op.layer_counts()["applier"].get("db_s", 0.0),
            "applier",
        ),
        "applier.statements": count("applier", "statements"),
        "applier.rows_written": extra_of("rows_written", "applier"),
        "staging.stage_s": self_s("staging"),
        "staging.rows": extra_of("rows_written", "staging"),
        "staging.jobs": spark("staging"),
        "staged_apply.s": self_s("staged_apply"),
        "staged_apply.rows": count("staged_apply", "rows"),
        "syncer.self_s": self_s("syncer"),
        "spark.jobs_per_op": med(lambda op: op.spark_total("jobs"), over=warm),
        "spark.stages_per_op": med(lambda op: op.spark_total("stages"), over=warm),
        "spark.tasks_per_op": med(lambda op: op.spark_total("tasks"), over=warm),
        "spark.shuffle_write_mb_per_op": med(
            lambda op: op.spark_total("shuffle_write_bytes") / 1e6, over=warm
        ),
        "spark.failed_tasks": float(
            sum(op.spark_total("failed_tasks") for op in ops)
        ),
    }
    for name in query_names:
        layer = f"query.{name}"
        out[f"{layer}.s"] = self_s(layer)
        out[f"{layer}.jobs"] = spark(layer)
        out[f"{layer}.stages"] = spark(layer, "stages")
    return out


def dump_spans(tracer, path: str) -> None:
    """Write every traced span, with its Spark counts, as JSON lines."""
    with open(path, "w") as fh:
        for op in tracer.ops:
            for s in op.spans:
                fh.write(json.dumps({
                    "op": s.op, "kind": op.kind, "id": s.id, "parent": s.parent,
                    "name": s.name, "layer": s.layer, "start": s.start,
                    "end": s.end, **op.spark[s.id]._asdict(), **s.counts,
                }) + "\n")


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    trace = bool(args.trace)

    cwd = os.getcwd()
    work_root = os.path.join(cwd, ".perfbench_work")
    work_dir = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work_dir, "tmp"), exist_ok=True)
    # keep Spark's and the JVM's scratch files inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "tmp")
    os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={work_dir}/tmp -XX:-UsePerfData"
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    sys.path[:0] = [ROOT, HERE, os.path.join(ROOT, "tests")]

    try:
        return run(args, trace, work_dir)
    finally:
        stop_jvm()
        shutil.rmtree(work_dir, ignore_errors=True)
        try:
            os.rmdir(work_root)
        except OSError:
            pass


def run(args, trace: bool, work_dir: str) -> int:
    # the program under test; absent program means no result
    import pyspark

    from mydatasyncer_spark import session
    from spans import TimedConnection, Tracer
    from workloads import WORKLOADS, AnalyticsWorkload

    wl = WORKLOADS[args.workload](work_dir, args.seed)
    query_names = AnalyticsWorkload.query_names()
    inputs_s, _ = timed(wl.make_inputs)

    t0 = time.perf_counter()
    spark = session.get_spark(APP_NAME, **(TRACE_CONF if trace else {}))
    t1 = time.perf_counter()
    wl.open(spark)
    setup_s = time.perf_counter() - t0
    get_spark_s = t1 - t0
    spark.sparkContext.setLogLevel("ERROR")

    tracer = Tracer(spark) if trace else None

    failed: set[int] = set()
    errors: list[str] = []
    # wall times of the untraced and the traced warm operations
    walls: dict[bool, list[float]] = {False: [], True: []}
    extra: dict[int, dict[str, float]] = {}

    def one_op(index: int, first: bool, traced: bool) -> float:
        if traced:
            wl.set_tracer(tracer, TimedConnection)
            install_wrappers(tracer, lambda: wl.backend.conn.counters())
            sizes = wl.sizes()
            before = wl.counters()
        fn = wl.first_op if first else wl.op
        start = time.perf_counter()
        try:
            if traced:
                with tracer.begin_op("first" if first else "warm"):
                    fails = fn(spark)
            else:
                fails = fn(spark)
        except Exception as exc:  # one failed operation must still report
            fails = [f"{type(exc).__name__}: {exc}"[:300]]
        wall = time.perf_counter() - start
        fails += wl.after_op()
        if fails:
            failed.add(index)
            errors.extend(fails)
        if traced:
            tracer.unwrap_all()
            wl.set_tracer(None)
            op = tracer.end_op()
            after = wl.counters()
            info = {**sizes, **{k: after[k] - before[k] for k in after}}
            if info.get("changed_rows"):
                # each sync of the operation examines both snapshots
                info["rows_examined_per_change"] = (
                    (sizes["snapshot_rows"] + sizes["file_rows"])
                    * info["syncs"] / info["changed_rows"]
                )
            extra[op.op] = info
        return wall

    # the first operation, then warm ones until --seconds have passed
    # and at least ``wl.warm_min`` were timed. For trace.overhead_s a
    # traced run puts an untraced warm operation before and after each
    # traced one (U T U T U), so both kinds are equally warm on average.
    index = 0
    first_op_s = one_op(index, first=True, traced=trace)
    window_start = time.perf_counter()
    kinds = (True, False) if trace else (False,)
    if trace:
        index += 1
        walls[False].append(one_op(index, first=False, traced=False))
    while not errors and (
        len(walls[trace]) < wl.warm_min
        or time.perf_counter() - window_start < args.seconds
    ):
        for traced in kinds:
            index += 1
            walls[traced].append(one_op(index, first=False, traced=traced))
    warm = walls[trace]
    overhead = median(walls[True]) - median(walls[False]) if trace else 0.0

    check_s, end_failures = timed(wl.final_check)
    if end_failures:
        failed.add(index)
        errors.extend(end_failures)
    rss = peak_rss_mb(spark)
    calibration_s = calibrate(spark)
    box = {
        "nproc": len(os.sched_getaffinity(0)),
        "cpu_count": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "box.calibration_s": round(calibration_s, 4),
        "trace.overhead_s": round(overhead, 4) if trace else None,
        "memos_cleared": wl.memos,
    }
    wl.close()

    attempted = index + 1
    error_rate = len(failed) / attempted
    print(f"workload={wl.name} seed={args.seed} trace={int(trace)} "
          f"inputs_s={inputs_s:.3f} check_s={check_s:.3f} "
          f"ops={attempted} failed={len(failed)} "
          f"op_error_rate={error_rate:.4f} (of {attempted})")
    for e in errors[:20]:
        print(f"check failed: {e}")
    print(f"setup_s [s] {setup_s:.4f} n=1")
    print(f"first_op_s [s] {first_op_s:.4f} n=1")
    print(f"warm_op_s [s] {percentile_note(warm)}")
    if trace:
        print(f"warm_op_s untraced, this run [s] {percentile_note(walls[False])} "
              f"all={[round(w, 3) for w in walls[False]]} "
              f"traced all={[round(w, 3) for w in walls[True]]}")
    print(f"peak_rss_mb [MB] {rss:.1f}")
    print("box " + json.dumps(box, sort_keys=True))

    if trace:
        worst = max(abs(sum(op.layer_self().values()) - op.wall) for op in tracer.ops)
        print(f"trace ops={len(tracer.ops)} max |sum(self)-wall|={worst:.2e}s")
        dump_spans(tracer, os.path.join(
            os.path.dirname(work_dir), f"spans-{wl.name}-{args.seed}.json"))
        metrics = layer_metrics(tracer.ops, query_names, extra)
        metrics["session.get_spark_s"] = get_spark_s
        metrics["process.peak_rss_mb"] = rss
        metrics["op_error_rate"] = error_rate
        metrics["box.calibration_s"] = calibration_s
        metrics["trace.overhead_s"] = overhead
        out_metrics = {
            k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()
        }
    else:
        out_metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "first_op_s": {"value": first_op_s, "unit": "s"},
            "warm_op_s": {"value": median(warm), "unit": "s"},
        }
    print(json.dumps({
        "correct": not failed,
        "attempted": attempted,
        "failed": len(failed),
        "metrics": out_metrics,
    }))
    return 0


def unit_of(name: str) -> str:
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if "_mb" in name:
        return "MB"
    if name.endswith("per_change"):
        return "ratio"
    if name == "op_error_rate":
        return "fraction"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
