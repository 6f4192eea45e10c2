"""Benchmark of the i3dm export engine at ``local[1]`` with 4 shuffle
partitions: one Spark session, one closed-loop client, no extra threads.

    python3 perfbench/run.py --workload export_skewed --seed 1 \\
        --seconds 12 --trace 0
    python3 perfbench/run.py --smoke

Run from the root of a checkout. Workloads are described in
``workloads.py``. With ``--trace 0`` the last stdout line is a JSON object
holding the end-to-end metrics; with ``--trace 1`` the same run is made
with the tracer of ``tracer.py`` installed for the timed loop, and the
JSON holds the per-layer metrics instead. Lines before it print every
metric with its unit and sample count, the failed-op ratio and the
external CPU load measured over the timed loop (a diagnostic that never
drops or retries a run).

Set-up (``setup_s``) is session start, input synthesis and its parquet
write, and one untimed pass over each timed write path: the warm-up
export for ``export_skewed``; the base export and one append for
``append_serve``. Timings are medians over the timed operations.
Metric names, units and workload names come from ``BENCHMARK.json``.

Every operation's output is checked (see ``workloads.py``); a failed
check or a raise counts in ``failed`` and makes the exit code 1. Each run
writes its op log and, when traced, its spans as JSON under
``.perfbench_work/records/`` when it ends. ``--smoke`` runs every
workload in one session at a smaller size, untraced then traced, checks the
outputs and prints the tracing overhead; it exits non-zero on any failure.
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
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
#: metric name -> unit, in BENCHMARK.json's order (the print order)
END_TO_END = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
#: program-reported append phases (``incremental_append``'s phase_walls)
PHASES = {
    "incremental.guards_s": "guards",
    "incremental.tree_and_assignment_s": "tree_and_assignment",
    "incremental.reencode_s": "reencode_dirty",
    "incremental.subtrees_s": "subtrees",
}


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


# -- session ----------------------------------------------------------------
def isolate(work: str) -> None:
    """Keep every file the run writes inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = "1g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = "1"


def start_spark(work: str):
    """``local[1]``: the inputs are small, so an export's cost is per-job
    overhead and parallel tasks buy nothing, while each extra busy core
    picks up more of a shared host's noise (at ``local[2]`` peak RSS
    spread twice as much across runs and the second of two exports in a
    run was 7-19 % slower than the first). The JVM stops at the C1 JIT
    tier, so one warm-up export takes it to a steady speed; with C2 the
    export kept getting faster for five exports, and a timed export after
    one warm-up landed on a steep part of that curve."""
    from i3dm_export_spark.session import get_spark

    return get_spark(
        app_name="perfbench", master="local[1]", shuffle_partitions=4,
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                "-XX:TieredStopAtLevel=1 -Djava.io.tmpdir="
                + os.path.join(work, "tmp"),
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until every process this run started has ended."""
    from pyspark import SparkContext

    from procstat import tree_pids, wait_gone

    pids = [p for p in tree_pids() if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    if not wait_gone(pids, timeout_s=60):
        for p in pids:
            try:
                os.kill(p, 9)
            except OSError:
                pass
        wait_gone(pids, timeout_s=10)


# -- measurement --------------------------------------------------------------
def measure(run, seconds: float, tracer=None) -> tuple[list[float], float]:
    """Closed loop: cycles until ``seconds`` are spent (at least one), or
    until an operation fails. Returns (cycle walls, external CPU cores)."""
    from procstat import ExternalLoad

    ext = ExternalLoad()
    t0 = time.perf_counter()
    walls: list[float] = []
    while not walls or time.perf_counter() - t0 < seconds:
        n_failed = sum(not o["ok"] for o in run.ops)
        tc = time.perf_counter()
        if tracer is not None:
            with tracer.span("cycle"):
                run.cycle()
        else:
            run.cycle()
        walls.append(time.perf_counter() - tc)
        if sum(not o["ok"] for o in run.ops) > n_failed:
            break
    return walls, ext.cores()


def end_to_end(run, ops: list[dict], cycle_walls: list[float],
               setup_s: float, rss_mb: float) -> dict:
    """End-to-end figures over ``ops``, the timed operations, as
    name -> (value, sample count)."""
    ok = [o for o in ops if o["ok"]]
    per_inst = [
        (o["n_instances"] if o["kind"] == "export"
         else o["n_new_instances"]) / o["wall_s"]
        for o in ok if o["kind"] in ("export", "append")
    ]
    return {
        "setup_s": (setup_s, 1),
        "write_instances_per_s": (_median(per_inst), len(per_inst)),
        "cycle_s": (_median(cycle_walls), len(cycle_walls)),
        "stored_bytes_per_instance": (
            run.final_stored_bytes / len(run.lon), 1),
        "peak_rss_mb": (rss_mb, 1),
    }


def per_layer(ops: list[dict], tracer, cycles: int) -> dict:
    """Per-layer figures from the spans of the timed loop: per-op values
    are medians over the run's ops of that kind; ``spark.*`` and
    ``trace.*`` are totals per cycle. A layer the workload's timed ops
    never reach reads 0."""
    from tracer import descendants, inclusive, self_time, wall

    spans = tracer.spans
    acc: dict[str, list[float]] = {k: [] for k in PER_LAYER}

    def add(name, value):
        acc[name].append(float(value))

    def stage(root, name):
        return [d for d in descendants(spans, root)
                if d["name"] == "checkpoint.run_stage"
                and d["attrs"].get("stage") == name]

    def sinks(root, which):
        return [d for d in descendants(spans, root)
                if d["name"] == "sinks.write_binary_files"
                and d["attrs"].get("sink") == which]

    writes = [s for s in spans if s["name"] in (
        "pipeline.run_export", "incremental.incremental_append")]
    for w in writes:
        content, subs = sinks(w, "content"), sinks(w, "subtrees")
        add("sinks.content_s", sum(wall(s) for s in content))
        add("sinks.subtrees_s", sum(wall(s) for s in subs))
        add("sinks.files_written",
            sum(s["attrs"]["files"] for s in content + subs))
        add("sinks.bytes_written",
            sum(s["attrs"]["bytes"] for s in content + subs))
        if w["name"] != "pipeline.run_export":
            add("incremental.jobs_per_append", inclusive(spans, w, "jobs"))
            continue
        add("pipeline.self_s", self_time(spans, w))
        add("spark.jobs_per_export", inclusive(spans, w, "jobs"))
        stages = [d for d in descendants(spans, w)
                  if d["name"] == "checkpoint.run_stage"]
        add("checkpoint.bookkeeping_s",
            sum(wall(s) - s["attrs"]["marker_wall_s"] for s in stages))
        add("checkpoint.bytes_written",
            sum(s["attrs"]["n_bytes"] for s in stages))
        for s in stage(w, "stage2_tiles"):
            add("tiling.tree_s", wall(s))
            add("tiling.tree_jobs", inclusive(spans, s, "jobs"))
        for s in stage(w, "stage3_assigned"):
            add("tiling.assign_s", wall(s))
            add("tiling.assign_shuffle_write_bytes",
                inclusive(spans, s, "shuffle_write_bytes"))
        for s in stage(w, "stage4_reduced"):
            add("skew.reduce_s", wall(s))
            add("skew.reduce_executor_s", inclusive(spans, s, "executor_run_s"))
            add("skew.reduce_shuffle_write_bytes",
                inclusive(spans, s, "shuffle_write_bytes"))
        for s in stage(w, "stage4_payloads"):
            add("encode.payload_s", wall(s))
            add("encode.executor_s", inclusive(spans, s, "executor_run_s"))
        for s in stage(w, "stage5_subtrees"):
            add("subtree.build_s", wall(s))

    for o in ops:
        if o["kind"] != "append" or not o["ok"]:
            continue
        for name, phase in PHASES.items():
            add(name, o["phase_walls"].get(phase, 0.0))
        add("incremental.dirty_tile_ratio",
            o["n_dirty_tiles"] / max(o["n_content_tiles"], 1))
        files = o["stage3_linked"] + o["stage3_rewritten"]
        add("incremental.stage3_rewrite_ratio",
            o["stage3_rewritten"] / max(files, 1))
        add("incremental.delta_path_ratio", 1.0 if o["delta_path"] else 0.0)

    queries = [s for s in spans if s["name"] == "serve.query_bbox_summary"]
    reads = [o for o in ops if o["kind"] == "read"]
    rows_read = rows_returned = 0
    for q, o in zip(queries, reads):
        kids = {c["name"]: c for c in spans if c["parent"] == q["id"]}
        add("serve.tiles_s", wall(kids["serve.tiles"]))
        add("serve.instances_s", wall(kids["serve.instances"]))
        add("serve.jobs_per_query", inclusive(spans, q, "jobs"))
        rows_read += inclusive(spans, q, "input_rows")
        rows_returned += o.get("n_tiles", 0) + o.get("n_instances", 0)

    out = {k: (_median(v), len(v)) for k, v in acc.items()}
    out["serve.rows_read_per_row_returned"] = (
        rows_read / max(rows_returned, 1), len(queries))
    roots = [s for s in spans if s["name"] == "cycle"]
    for name, counter in (("spark.input_rows", "input_rows"),
                          ("spark.shuffle_write_bytes", "shuffle_write_bytes"),
                          ("spark.executor_run_s", "executor_run_s"),
                          ("spark.gc_s", "gc_s")):
        total = sum(inclusive(spans, r, counter) for r in roots)
        out[name] = (total / max(cycles, 1), cycles)
    out["trace.bookkeeping_s"] = (tracer.bookkeeping_s / max(cycles, 1),
                                  cycles)
    return out


def check_trace(run, tracer) -> None:
    """The spans saw all the work: every Spark job of the traced loop
    sits in some span's job group, and no ``run_stage`` span is shorter
    than the stage wall its done marker records."""
    from tracer import wall

    missing = tracer.unattributed_jobs()
    run.check("trace_jobs_attributed", not missing, unattributed=missing,
              jobs=tracer.end_job - tracer.first_job)
    for s in tracer.spans:
        if s["name"] == "checkpoint.run_stage":
            run.check("trace_stage_wall",
                      wall(s) >= s["attrs"]["marker_wall_s"],
                      stage=s["attrs"]["stage"], span_s=wall(s),
                      marker_s=s["attrs"]["marker_wall_s"])


# -- output -------------------------------------------------------------------
def report(title: str, metrics: dict, table: dict) -> None:
    """One line per metric: name, value, unit and sample count."""
    for name, (value, n) in metrics.items():
        print(f"{title:<28} {name:<36} {value:>16.6g} {table[name]:<10} n={n}")


def result_line(run, metrics: dict, table: dict) -> str:
    attempted = len(run.ops)
    failed = sum(not o["ok"] for o in run.ops)
    return json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k][0], "unit": table[k]}
                    for k in table},
    })


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _write_record(name: str, record: dict) -> None:
    path = os.path.join(WORK, "records", name + ".json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(record, f, default=str)


def one_run(args) -> int:
    t_start = time.perf_counter()
    from procstat import peak_rss_mb
    from tracer import Tracer
    from workloads import FULL, Run

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{uuid.uuid4().hex[:8]}"
    work = os.path.join(WORK, run_id)
    isolate(work)
    spark = start_spark(work)
    _log(f"session up at {time.perf_counter() - t_start:.1f}s")
    tracer = None
    try:
        run = Run(spark, args.workload, args.seed, FULL, work, _log)
        run.setup()
        setup_s = time.perf_counter() - t_start
        _log(f"set-up done at {setup_s:.1f}s")
        if args.trace:
            tracer = Tracer(spark, run_id)
            tracer.install()
        n0 = len(run.ops)
        try:
            walls, ext = measure(run, args.seconds, tracer)
        finally:
            if tracer is not None:
                tracer.uninstall()
        timed = run.ops[n0:]
        _log(f"timed loop done at {time.perf_counter() - t_start:.1f}s")
        rss = peak_rss_mb()
        run.finish()
        _log(f"checks done at {time.perf_counter() - t_start:.1f}s")
        e2e = end_to_end(run, timed, walls, setup_s, rss)
        layers = None
        if tracer is not None:
            tracer.attach_counters()
            check_trace(run, tracer)
            layers = per_layer(timed, tracer, len(walls))
            tracer.dump(os.path.join(WORK, "records", run_id + ".spans.json"),
                        workload=args.workload, seed=args.seed)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    _log(f"stopped at {time.perf_counter() - t_start:.1f}s")
    failed = sum(not o["ok"] for o in run.ops)
    title = args.workload + (" (traced)" if tracer is not None else "")
    report(title, e2e, END_TO_END)
    if layers is not None:
        report(title, layers, PER_LAYER)
    print(f"{title:<28} {'failed_op_ratio':<36} "
          f"{failed / max(len(run.ops), 1):>16.6g} {'ratio':<10} "
          f"n={len(run.ops)}")
    print(f"{title:<28} {'external_cpu_cores':<36} {ext:>16.6g} "
          f"{'cores':<10} cycles={len(walls)}")
    _write_record(run_id, {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "cycles": len(walls), "external_cores": ext,
        "failed": failed, "e2e": e2e, "per_layer": layers, "ops": run.ops,
    })
    metrics, table = ((layers, PER_LAYER) if layers is not None
                      else (e2e, END_TO_END))
    print(result_line(run, metrics, table), flush=True)
    return 0 if failed == 0 else 1


def smoke(args) -> int:
    """Every workload in one session at the smoke size: set-up, one
    untraced cycle, one traced cycle and every output check. Prints the
    tracing overhead as the traced-minus-untraced change of each timing."""
    from procstat import peak_rss_mb
    from tracer import Tracer
    from workloads import SMOKE, Run

    work = os.path.join(WORK, "smoke-" + uuid.uuid4().hex[:8])
    isolate(work)
    spark = start_spark(work)
    failed = attempted = 0
    try:
        for name in WORKLOADS:
            t0 = time.perf_counter()
            run = Run(spark, name, args.seed, SMOKE,
                      os.path.join(work, name), _log)
            run.setup()
            setup_s = time.perf_counter() - t0
            n0 = len(run.ops)
            plain_walls, _ext = measure(run, 0.0)
            n1 = len(run.ops)
            tracer = Tracer(spark, f"smoke-{name}")
            tracer.install()
            try:
                traced_walls, _ext = measure(run, 0.0, tracer)
            finally:
                tracer.uninstall()
            run.finish()
            tracer.attach_counters()
            check_trace(run, tracer)
            rss = peak_rss_mb()
            plain = end_to_end(run, run.ops[n0:n1], plain_walls, setup_s, rss)
            traced = end_to_end(run, run.ops[n1:], traced_walls, setup_s, rss)
            report(name, plain, END_TO_END)
            report(name + " (traced)",
                   per_layer(run.ops[n1:], tracer, len(traced_walls)),
                   PER_LAYER)
            for k in ("write_instances_per_s", "cycle_s"):
                a, b = plain[k][0], traced[k][0]
                print(f"{name + ' (overhead)':<28} {k:<36} "
                      f"{(b - a) / a if a else 0.0:>+16.4f} "
                      "(traced-untraced)/untraced")
            failed += sum(not o["ok"] for o in run.ops)
            attempted += len(run.ops)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(f"smoke: {attempted} operations and checks, {failed} failed")
    return 0 if failed == 0 else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "i3dm_export_spark",
                                       "__init__.py")):
        _log(f"no i3dm_export_spark package under {ROOT}: run from the "
             "root of a full checkout")
        return 2
    sys.path.insert(0, ROOT)
    if args.smoke:
        return smoke(args)
    if args.workload is None:
        ap.error("--workload is required unless --smoke is given")
    return one_run(args)


if __name__ == "__main__":
    sys.exit(main())
