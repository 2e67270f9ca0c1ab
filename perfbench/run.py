"""Benchmark entry point.

    python3 perfbench/run.py --workload {catalog,pipeline} \
        --seed N --seconds S --trace {0,1}

Run from the repository root.  One process, one client thread, Spark on
local[min(4, nproc)].  The run sets up (session, inputs, one untimed
warm pass that checks outputs), then repeats the workload's timed pass
as many times as fit in `--seconds` on a 4-core machine (a fixed count
for a given `--seconds`, so runs stay comparable), checks the timed
passes' outputs, and prints one JSON object as its last stdout line: `--trace 0` gives the end-to-end metrics, `--trace 1`
the per-layer metrics (BENCHMARK.json names both sets).

Everything the run writes goes under `.perfbench_work/` in the current
directory: a per-run work directory (TMPDIR, SPARK_LOCAL_DIRS, sinks,
checkpoints, staged files) that is deleted at exit, and
`results/<workload>-seed<N>-trace<T>.json` with every figure and, when
traced, the spans.  `perfbench/overhead.py` compares traced and
untraced results.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ENGINE = "real_time_big_data_iot_monitoring_pipeline_spark"
HERE = os.path.dirname(os.path.abspath(__file__))
DRIVER_MEMORY = "2g"
INITIAL_HEAP = "1g"


def parse_args(argv=None):
    ap = argparse.ArgumentParser(prog="perfbench/run.py")
    ap.add_argument("--workload", required=True, choices=["catalog", "pipeline"])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def isolate(root: str, work_dir: str) -> None:
    """Point every temp location of this process and its children (JVM,
    Python workers) at the run's own directory."""
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # Python workers import the engine by name, wherever the run starts
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (root, HERE, os.environ.get("PYTHONPATH")) if p)
    tempfile.tempdir = None
    for p in (root, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


class Context:
    def __init__(self, root, work_dir, seed, seconds, trace):
        self.root = root
        self.work_dir = work_dir
        self.seed = seed
        self.seconds = seconds
        self.trace = bool(trace)
        self.spark = None
        self.tracer = None


def start_session(ctx, cpus: int):
    from real_time_big_data_iot_monitoring_pipeline_spark.session import get_session

    w = ctx.work_dir
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # A fixed heap ceiling, so the JVM does not size it from the
        # machine's memory.  Heap pages become resident only as the engine
        # touches them.  The serial collector grows the heap by occupancy
        # after a collection; G1 grows it on pause-time and GC-time goals,
        # which moved peak memory by 13-22 % between identical runs (serial:
        # 2-4 %).  The 1g start keeps serial GC from collecting so often
        # that passes slow down: the default start, 1/64 of the machine's
        # memory (~250 MB on a 16 GB, 4-core machine), made catalog ~35 %
        # slower.
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": (
            f"-XX:+UseSerialGC -Xms{INITIAL_HEAP} -XX:-UsePerfData "
            f"-Djava.io.tmpdir={w}/tmp -Dderby.system.home={w}"
        ),
        "spark.sql.warehouse.dir": f"{w}/warehouse",
        # keep every micro-batch's progress of a drain
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    if ctx.trace:
        os.makedirs(f"{w}/eventlog")
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"{w}/eventlog",
            "spark.eventLog.compress": "false",  # the default codec needs zstandard
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_session(app_name="perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session (if one started), then the JVM (it exits when its
    stdin closes), and wait until every process this run started has
    ended, killing what outlives the wait."""
    from pyspark import SparkContext

    import tracing

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        if spark is not None:
            spark.stop()
        if gateway is not None:
            gateway.shutdown()
    finally:
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        tracing.wait_for_children(timeout_s=30)


def _terminate(signum, frame):
    raise SystemExit(128 + signum)  # unwinds through the cleanup below


def main(argv=None) -> int:
    args = parse_args(argv)
    signal.signal(signal.SIGTERM, _terminate)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, ENGINE, "__init__.py")):
        print(f"perfbench: no {ENGINE} package under {root}; run from the repository root", file=sys.stderr)
        return 2
    base = os.path.join(root, ".perfbench_work")
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work_dir = os.path.join(base, f"run-{run_id}-{os.getpid()}")
    os.makedirs(work_dir)
    try:
        isolate(root, work_dir)
        out = measure(args, Context(root, work_dir, args.seed, args.seconds, args.trace), run_id)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(os.path.join(base, "results"), exist_ok=True)
    with open(os.path.join(base, "results", f"{run_id}.json"), "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps({
        "correct": out["correct"],
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": out["per_layer"] if args.trace else out["end_to_end"],
    }))
    return 0


def as_declared(declared: list[dict], values: dict, kind: str, missing) -> dict:
    """`values` keyed and ordered as BENCHMARK.json declares them, with its
    units; a value BENCHMARK.json does not declare is an error."""
    extra = set(values) - {m["name"] for m in declared}
    if extra:
        raise RuntimeError(f"{kind} metrics missing from BENCHMARK.json: {sorted(extra)}")
    out = {}
    for m in declared:
        value = values.get(m["name"], missing)
        if value is None:
            raise RuntimeError(f"{kind} metric {m['name']} was not measured")
        out[m["name"]] = {"value": value, "unit": m["unit"]}
    return out


def measure(args, ctx, run_id) -> dict:
    import statistics

    import tracing
    import workloads

    with open(os.path.join(ctx.root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    cpus = min(4, len(os.sched_getaffinity(0)))
    sampler = tracing.TreeSampler().start()
    tracer = tracing.Tracer(run_id)
    ctx.tracer = tracer
    try:
        with tracer.span("session.get_session") as sess:
            ctx.spark = start_session(ctx, cpus)
        tracer.spark = ctx.spark
        wl = workloads.WORKLOADS[args.workload](ctx)
        wl.setup()
        # peak memory covers the timed passes only: not the input
        # generator, the DuckDB oracle or the output checks of setup
        sampler.reset()
        setup_s = time.perf_counter() - T_PROCESS
        cpu = tracing.CpuWindow()
        cpu.start()
        t0_wall = time.time()
        for _ in range(wl.passes_for(args.seconds)):
            wl.run_pass()
        t1_wall = time.time()
        proc = cpu.stop()
        peak_mb = sampler.stop()
        wl.verify()
        rep = wl.report()
    finally:
        sampler.stop()
        stop_spark(ctx.spark)
    passes = len(wl.pass_s)
    layers = dict(rep["layers"])
    layers["session.get_session_s"] = sess["end"] - sess["start"]
    layers["proc.jvm_cpu_s"] = proc["jvm_cpu_s"] / passes
    layers["proc.python_cpu_s"] = proc["python_cpu_s"] / passes
    if ctx.trace:
        ev = tracing.event_log_totals(os.path.join(ctx.work_dir, "eventlog"), t0_wall * 1000, t1_wall * 1000)
        for k, v in ev.items():
            layers[f"spark.{k}"] = v / passes
    end_to_end = {
        "setup_s": setup_s,
        "peak_mem_mb": peak_mb,
        "pass_s": statistics.median(wl.pass_s),
        "item_geomean_s": rep["item_geomean_s"],
    }
    named = dict(rep["named"], setup_s=setup_s, peak_mem_mb=peak_mb, peak_mem_by_process=sampler.breakdown(),
                 passes=passes, cpus=cpus, driver_memory=DRIVER_MEMORY, initial_heap=INITIAL_HEAP)
    named["setup_spans_s"] = {sp["name"]: sp["end"] - sp["start"] for sp in tracer.spans
                              if sp["parent"] is None and sp["end"] - T_PROCESS <= setup_s}
    print(f"[{args.workload}] " + json.dumps(named), file=sys.stderr)
    return {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "end_to_end": as_declared(spec["end_to_end"], end_to_end, "end-to-end", missing=None),
        # a layer the workload never calls reads 0
        "per_layer": as_declared(spec["per_layer"], layers, "per-layer", missing=0),
        "named": named,
        "spans": tracer.spans if ctx.trace else None,
    }


if __name__ == "__main__":
    sys.exit(main())
