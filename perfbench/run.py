"""The repo benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --write-manifest     # rewrite BENCHMARK.json

A run generates its inputs from the seed, starts Spark on local[<cores>]
three times (setup_s is the median), runs one cold iteration
(first_iter_s), then runs iterations in a closed loop from this single
driver thread until ``--seconds`` of iteration wall time are spent.  Each
iteration's output is checked outside its timing.  The last line of
standard output is one JSON object: correct, attempted, failed and the
metrics (end-to-end with --trace 0, per-layer with --trace 1).

The traced run alternates untraced and traced iterations: spans and
Spark's status stores are read only on the traced ones, and the tracing
overhead is the difference of the two medians.  After its loop it also
measures, once each, the layers the workload's iterations do not call.

A run writes only under ``.perfbench_work/`` in the checkout and removes
its own directory at exit; a traced run keeps its spans in
``.perfbench_work/spans/``.  See NOTES.md for the workloads and predictions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

import tracing
import workloads

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CORES = workloads.CORES
SETUPS = 3
TRACED_WARM = 2  # warm samples of each kind in a traced run
MAX_FAILED = 3
T0 = time.perf_counter()

END_TO_END = [
    ("rows_per_s", "rows/s", "higher", 0.25),
    ("first_iter_s", "s", "lower", 0.25),
    ("setup_s", "s", "lower", 0.25),
    ("peak_rss_mb", "MiB", "lower", 0.25),
]

PER_LAYER = [
    ("schema.compiler.compile_s", "s", "lower"),
    ("plans.validator.plan_s", "s", "lower"),
    ("plans.validator.plan_jobs", "count", "lower"),
    ("plans.validator.violations_write_s", "s", "lower"),
    ("plans.validator.verdicts_write_s", "s", "lower"),
    ("plans.validator.summary_s", "s", "lower"),
    ("plans.json_validator.plan_s", "s", "lower"),
    ("plans.json_validator.plan_jobs", "count", "lower"),
    ("plans.json_validator.violations_write_s", "s", "lower"),
    ("plans.json_validator.verdicts_write_s", "s", "lower"),
    ("plans.json_validator.summary_s", "s", "lower"),
    ("schema.evaluate.docs_per_s", "docs/s", "higher"),
    ("schema.strict_json.docs_per_s", "docs/s", "higher"),
    ("plans.checkpoint.run_s", "s", "lower"),
    ("plans.checkpoint.violations_write_s", "s", "lower"),
    ("plans.checkpoint.verdicts_write_s", "s", "lower"),
    ("plans.checkpoint.rows_per_s", "rows/s", "higher"),
    ("plans.checkpoint.files_skipped_frac", "frac", "higher"),
    ("plans.checkpoint.state_write_bytes", "B", "lower"),
    ("plans.checkpoint.scan_rows_ratio", "ratio", "lower"),
    ("plans.checkpoint.core_idle_frac", "frac", "lower"),
    ("functions.pipeline.plan_s", "s", "lower"),
    ("functions.pipeline.plan_jobs", "count", "lower"),
    ("functions.pipeline.action_s", "s", "lower"),
    ("functions.pipeline.funnel_s", "s", "lower"),
    ("functions.pipeline.funnel_read_errors", "count", "lower"),
    ("functions.pipeline.rows_per_s", "rows/s", "higher"),
    ("functions.pipeline.jobs", "count", "lower"),
    ("functions.pipeline.stages", "count", "lower"),
    ("functions.pipeline.tasks", "count", "lower"),
    ("functions.pipeline.shuffle_write_bytes", "B", "lower"),
    ("functions.pipeline.spill_bytes", "B", "lower"),
    ("functions.pipeline.core_idle_frac", "frac", "lower"),
    ("functions.dedup.exact_s", "s", "lower"),
    ("functions.text.gates_s", "s", "lower"),
    ("functions.dedup.span_s", "s", "lower"),
    ("functions.dedup.near_dup_s", "s", "lower"),
    ("functions.pipeline.kept_frac.exact", "frac", "higher"),
    ("functions.pipeline.kept_frac.gates", "frac", "higher"),
    ("functions.pipeline.kept_frac.span_dedup", "frac", "higher"),
    ("functions.pipeline.kept_frac.near_dup", "frac", "higher"),
    ("functions.dedup.near_dup_pairs", "count", "higher"),
    ("spark.scan_rows_ratio", "ratio", "lower"),
    ("spark.python_time_s", "s", "lower"),
    ("spark.python_rows_ratio", "ratio", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.shuffle_write_bytes", "B", "lower"),
    ("spark.spill_bytes", "B", "lower"),
    ("spark.scan_time_s", "s", "lower"),
    ("spark.codegen_s", "s", "lower"),
    ("spark.write_bytes", "B", "lower"),
    ("spark.executor_run_s", "s", "lower"),
    ("spark.executor_cpu_s", "s", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("spark.core_idle_frac", "frac", "lower"),
    ("trace.overhead_s", "s", "lower"),
    ("trace.unaccounted_s", "s", "lower"),
    ("error_rate", "frac", "lower"),
]


def manifest() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": 10,
        "workloads": [{"name": w.name, "why": w.why} for w in workloads.WORKLOADS.values()],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": x}
                       for n, u, b, x in END_TO_END],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b in PER_LAYER],
    }


def start_session(work: Path):
    """One SparkSession with the bench.py settings, plus a Python worker
    warmed on every core."""
    from pyspark.sql import SparkSession
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    tmp = work / "tmp"
    spark = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(CORES))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "4g")
        .config("spark.driver.extraJavaOptions",
                f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={tmp}")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", str(tmp))
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
        .config("spark.hadoop.hadoop.tmp.dir", str(tmp))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    # A UDF binds to the context that first runs it: make a fresh one.
    warm = pandas_udf(lambda s: s, LongType())
    spark.range(0, CORES * 64, 1, CORES).select(warm("id")).collect()
    return spark


def stop_jvm() -> None:
    """Stop the active context, then the gateway JVM, and wait until it
    has exited (its Python workers are stopped with the context)."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def peak_rss_mib(jvm_pid: int) -> float:
    """VmHWM of the driver JVM plus every process below it (the Python
    worker daemon and its workers)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    total_kb, todo = 0, [jvm_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def run(args, work: Path) -> dict:
    tracer = tracing.Tracer(None, enabled=False)
    wl = workloads.WORKLOADS[args.workload](str(work), args.seed, tracer)
    wl.generate()
    log("inputs generated")

    setup_walls = []
    for k in range(SETUPS):
        start = time.perf_counter()
        spark = start_session(work)
        setup_walls.append(time.perf_counter() - start)
        if k < SETUPS - 1:
            spark.stop()
    tracer.sc = spark.sparkContext
    status = tracing.SparkStatus(spark)
    wl.spark, wl.status = spark, status
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    log(f"setup walls {[round(w, 2) for w in setup_walls]}")

    # The measured window holds the cold first iteration and then warm ones
    # until --seconds of iteration wall are spent, with at least the
    # workload's warm_samples (TRACED_WARM of each kind in a traced run).
    # Every iteration is checked and counted in attempted/failed.
    attempted = failed = 0
    problems: list[str] = []
    walls: dict[bool, list[float]] = {False: [], True: []}  # traced? -> walls
    per_iter: list[dict] = []
    first_iter = None
    spent = 0.0
    it = 0
    while True:
        if it > 0:
            if args.trace == 0:
                enough = len(walls[False]) >= wl.warm_samples
            else:
                enough = min(len(walls[False]), len(walls[True])) >= TRACED_WARM
            # the attempt cap ends a run whose iterations keep failing
            if (spent >= args.seconds and enough) or failed >= MAX_FAILED:
                break
        # untraced, traced, traced, untraced, ...: drift cancels in the medians
        traced = args.trace == 1 and it > 0 and (it - 1) % 4 in (1, 2)
        tracer.enabled = traced
        mark = status.mark() if traced else None
        attempted += 1
        start = time.perf_counter()
        try:
            with tracer.span("iteration", it):
                wl.iterate(it)
            wall = time.perf_counter() - start
            bad = wl.check(it)
        except Exception:  # noqa: BLE001 - a failed iteration is counted, not fatal
            traceback.print_exc()
            wall, bad = time.perf_counter() - start, ["iteration raised"]
        tracer.enabled = False
        spent += wall
        if bad:
            failed += 1
            problems.extend(f"iteration {it}: {b}" for b in bad)
        elif it == 0:
            first_iter = wall
        else:
            walls[traced].append(wall)
        # The next iteration starts once Spark's listener bus has processed
        # this one's events, so it does not pay for their backlog.
        status.drain()
        if traced and not bad:
            per_iter.append(iteration_stats(wl, tracer, status, it, mark, wall))
        it += 1

    log(f"{attempted} iterations done")
    rss = peak_rss_mib(jvm_pid)
    extra: dict[str, float] = {}
    if args.trace == 1:
        tracer.enabled = True
        try:
            extra = wl.side_layers()
        except Exception:  # noqa: BLE001
            traceback.print_exc()
            problems.append("layer measurement raised")
        tracer.enabled = False
        log("layer metrics done")
    try:
        problems.extend(wl.finish())
    except Exception:  # noqa: BLE001
        traceback.print_exc()
        problems.append("final check raised")

    untraced = walls[False]
    rows = wl.rows
    if args.trace == 0:
        values = {
            "rows_per_s": rows / median(untraced) if untraced else 0.0,
            "first_iter_s": first_iter or 0.0,
            "setup_s": median(setup_walls),
            "peak_rss_mb": rss,
        }
        units = {n: u for n, u, _, _ in END_TO_END}
    else:
        values = {n: 0.0 for n, _, _ in PER_LAYER}
        for key in values:
            got = [p[key] for p in per_iter if key in p]
            if got:
                values[key] = median(got)
        values.update(extra)
        values["trace.overhead_s"] = median(walls[True]) - median(untraced)
        values["error_rate"] = failed / attempted
        units = {n: u for n, u, _ in PER_LAYER}
        spans_dir = work.parent / "spans"
        spans_dir.mkdir(exist_ok=True)
        tracer.write(str(spans_dir / f"{args.workload}-s{args.seed}.json"))

    print(f"# {args.workload} seed={args.seed} trace={args.trace} rows={rows} "
          f"cores={CORES}")
    print(f"# samples: setup={len(setup_walls)} first=1 untraced={len(untraced)} "
          f"traced={len(walls[True])}; no tail percentile (fewer than ten "
          f"samples beyond any)")
    print(f"# iteration walls (s): untraced={[round(w, 3) for w in untraced]} "
          f"traced={[round(w, 3) for w in walls[True]]}")
    print(f"# output check: {'pass' if not problems else 'FAIL'}; attempted="
          f"{attempted} failed={failed} error_rate={failed / attempted:.4f}")
    for p in problems:
        print(f"#   {p}")
    for name, value in values.items():
        print(f"# {name} = {value:.6g} {units[name]}")
    return {
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": float(v), "unit": units[n]} for n, v in values.items()},
    }


def iteration_stats(wl, tracer, status, it, mark, wall) -> dict:
    """Per-layer figures of one traced iteration."""
    out: dict[str, float] = {}
    top = 0.0
    for span in tracer.spans:
        if span.iteration != it or span.name == "iteration":
            continue
        out[f"{span.name}_s"] = out.get(f"{span.name}_s", 0.0) + span.end - span.start
        top += span.end - span.start
    out["trace.unaccounted_s"] = wall - top
    groups = tracer.groups.get(it, [])
    for group in groups:
        if group.endswith(".plan"):  # jobs launched by a lazy planning call
            out[f"{group.split(':', 1)[1]}_jobs"] = len(status.jobs([group]))
    out.update(tracing.spark_metrics(status, groups, mark, wall, wl.rows))
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-manifest", action="store_true",
                    help="rewrite BENCHMARK.json from the definitions here")
    args = ap.parse_args()
    if args.write_manifest:
        with open(ROOT / "BENCHMARK.json", "w") as fh:
            json.dump(manifest(), fh, indent=2)
            fh.write("\n")
        return 0
    if args.workload is None:
        ap.error("--workload is required")

    work = ROOT / ".perfbench_work" / f"{args.workload}-s{args.seed}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    # no hsperfdata files in /tmp from the launcher JVM either
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    sys.path.insert(0, str(ROOT))
    try:
        import jsonschemaparse_spark  # noqa: F401 - fail before any work without it

        result = run(args, work)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    log("stopped")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
