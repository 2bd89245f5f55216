"""Benchmark of the KG-construction engine, run from the repository root:

    python3 perfbench/run.py --workload <full_build|incremental_ingest|
        kb_queries> --seed <n> --seconds <s> --trace <0|1>

It starts one local Spark session (``local[nproc]``), builds its seeded
inputs, sets up the workload, runs the workload's operation in a closed
loop for ``--seconds`` and checks every output against an independent
evaluation. It prints every metric with its unit, then, as the last line,
one JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``; with ``--trace 1`` the per-layer
metrics of a traced run (a traced pass of the same operations between
two untraced ones, spans written to ``perfbench/out``).

Spark's own log goes to ``perfbench/out/<workload>-s<seed>-t<trace>.log``.
Exit status is 2, with no result, when the package sources are missing.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("full_build", "incremental_ingest", "kb_queries")
#: the workload set-up runs this many times per run; ``setup_s`` is the
#: session start plus their median
SETUP_REPS = 3


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input size; tiny is for smoke tests")
    ap.add_argument("--out", default=os.path.join(HERE, "out"),
                    help="logs, traces, result files and temporary stores")
    ap.add_argument("--cache", default=os.path.join(HERE, ".cache"),
                    help="generated inputs and the pristine bootstrapped "
                         "store")
    return ap.parse_args(argv)


# -- host ------------------------------------------------------------------
def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory() -> str:
    """A quarter of the host's memory, 1-2 GiB: the benchmark's inputs
    are small, and the host is shared."""
    return f"{max(1, min(2, int(mem_total_mb() / 1024 / 4)))}g"


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _pids(spark) -> tuple:
    """This Python process and the driver JVM."""
    return "self", spark._jvm.java.lang.ProcessHandle.current().pid()


def reset_peak_rss(spark) -> None:
    """Restart the peak-RSS count of both processes from their current
    resident sets (``5`` to ``clear_refs`` resets ``VmHWM``)."""
    for pid in _pids(spark):
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")


def peak_rss_mb(spark) -> float:
    """Peak resident set of this Python process plus the driver JVM."""
    return sum(vm_hwm_mb(pid) for pid in _pids(spark))


def load_benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# -- session ---------------------------------------------------------------
def start_spark(out: str, trace: bool):
    from softcite_kb_spark.session import get_spark

    n = nproc()
    mem = driver_memory()
    conf = {
        "spark.driver.memory": mem,
        "spark.local.dir": os.path.join(out, "spark-local"),
        # a fixed heap size keeps the JVM's peak RSS from depending on
        # when the collector chose to grow the heap
        "spark.driver.extraJavaOptions":
            f"-Xms{mem} -Djava.io.tmpdir={os.path.join(out, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(out, "warehouse"),
    }
    if trace:
        # keep every job's status for the span attribution
        conf.update({"spark.ui.retainedJobs": "1000000",
                     "spark.ui.retainedStages": "1000000"})
    return get_spark(master=f"local[{n}]", app_name="perfbench",
                     shuffle_partitions=n, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM (and with it the
    Python workers it forked) to exit."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits on stdin EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


# -- one run ---------------------------------------------------------------
def closed_loop(w, seconds: float) -> list:
    """Whole passes of the workload's operation until ``seconds`` have
    passed, at most ``w.max_ops()`` operations."""
    ops = []
    t0 = time.perf_counter()
    while len(ops) < w.max_ops():
        ops.append(w.op(len(ops), None))
        if (len(ops) % w.pass_ops() == 0
                and time.perf_counter() - t0 >= seconds):
            break
    return ops


def percentile(values: list[float], q: float) -> float:
    import numpy as np

    return float(np.percentile(values, q))


def run_workload(spark, args, work: str) -> dict:
    """Set up, measure and verify one workload on ``spark``; returns the
    result record (metrics with units, op counts, diagnostics)."""
    from perfbench.tracing import Tracer
    from perfbench.workloads import SCALES, WORKLOADS, Context

    ctx = Context(spark=spark, work=work, seed=args.seed,
                  scale=SCALES[args.scale], cache_dir=args.cache,
                  out=args.out)
    w = WORKLOADS[args.workload](ctx)
    phases = {}
    t_phase = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = now - t_phase
        t_phase = now

    try:
        w.prepare()
        phase("prepare_s")
        # the peak covers set-up, warm-up and the timed operations, not the
        # input caches prepare fills or the gates' oracle copies
        reset_peak_rss(spark)
        setup_s = []
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            w.setup()
            setup_s.append(time.perf_counter() - t)
        phase("setup_s")
        w.warm()
        phase("warm_s")
        tracer = None
        if not args.trace:
            ops = closed_loop(w, args.seconds)
        else:
            # untraced passes before and after the traced one, so the
            # warm-up still under way does not bias the tracing overhead
            n = w.trace_ops()
            untraced = [w.op(i, None) for i in range(n)]
            tracer = Tracer(spark.sparkContext)
            ops = [w.op(i, tracer) for i in range(n)]
            tracer.unwrap_all()
            untraced += [w.op(i, None) for i in range(n)]
        phase("ops_s")
        rss_mb = peak_rss_mb(spark)
        quality = w.verify(ops)
        phase("verify_s")
        layers = None
        if tracer is not None:
            layers = w.layers(tracer, ops)
            tracer.resolve_jobs()
            for layer in {m["name"].rsplit(".", 1)[0]
                          for m in load_benchmark()["per_layer"]}:
                recs = tracer.of(layer)
                d = layers.setdefault(layer, {})
                d.setdefault("jobs", sum(r["jobs"] for r in recs))
                d.setdefault("tasks", sum(r["tasks"] for r in recs))
            layers["perfbench"] = {"trace_overhead_ms": 1000 * (
                statistics.median(op.seconds for op in ops)
                - statistics.median(op.seconds for op in untraced))}
            tracer.dump(os.path.join(
                args.out, f"trace-{args.workload}-s{args.seed}.json"))
            phase("layers_s")
        named = w.named_metrics(ops)
    finally:
        w.close()
    ms = [op.seconds * 1000 for op in ops]
    failed = sum(1 for op in ops if not op.ok)
    e2e = {
        "setup_s": statistics.median(setup_s),
        "peak_rss_mb": rss_mb,
        "success_rate": 1.0 - failed / len(ops),
        "op_p50_ms": statistics.median(ms),
        "op_p95_ms": percentile(ms, 95),
        "work_per_s": sum(op.items for op in ops)
        / sum(op.seconds for op in ops),
        "op_cpu_ms": 1000 * sum(op.cpu_s for op in ops) / len(ops),
        **quality,
    }
    return {"ops": ops, "failed": failed, "e2e": e2e, "layers": layers,
            "named": named, "setup_reps_s": setup_s, "phases_s": phases,
            "failures": [op.info.get("req") or op.info.get("batch", i)
                         for i, op in enumerate(ops) if not op.ok][:20]}


def format_metrics(rec: dict, trace: bool) -> dict:
    """The metrics BENCHMARK.json lists for this run, with their units; a
    per-layer metric the workload's operation does not exercise is 0."""
    bench = load_benchmark()
    if not trace:
        return {m["name"]: {"value": rec["e2e"][m["name"]], "unit": m["unit"]}
                for m in bench["end_to_end"]}
    out = {}
    for m in bench["per_layer"]:
        layer, name = m["name"].rsplit(".", 1)
        out[m["name"]] = {"value": rec["layers"].get(layer, {}).get(name, 0),
                          "unit": m["unit"]}
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "softcite_kb_spark",
                                       "__init__.py")):
        print("error: softcite_kb_spark sources not found next to "
              "perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    args.out = os.path.abspath(args.out)
    for d in ("spark-local", "tmp", "work"):
        os.makedirs(os.path.join(args.out, d), exist_ok=True)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    log_path = os.path.join(args.out, f"{tag}.log")
    os.environ["TMPDIR"] = os.path.join(args.out, "tmp")

    # Spark (JVM and Python workers) logs to stderr: send it to the log file
    saved_err = os.dup(2)
    sys.stderr.flush()
    with open(log_path, "w") as log:
        os.dup2(log.fileno(), 2)
    try:
        t0 = time.perf_counter()
        spark = start_spark(args.out, bool(args.trace))
        session_s = time.perf_counter() - t0
        try:
            rec = run_workload(spark, args, os.path.join(args.out, "work"))
            rec["e2e"]["setup_s"] += session_s
            spark_version = spark.version
        finally:
            stop_spark(spark)
    except Exception:
        os.write(saved_err, traceback.format_exc().encode())
        traceback.print_exc()
        return 1
    finally:
        sys.stderr.flush()
        os.dup2(saved_err, 2)
        os.close(saved_err)

    with open(log_path, errors="replace") as f:
        acc_errors = sum("non-existent accumulator" in line for line in f)
    host = {"nproc": nproc(), "mem_total_mb": round(mem_total_mb()),
            "driver_memory": driver_memory(), "spark": spark_version,
            "python": sys.version.split()[0]}
    attempted, failed = len(rec["ops"]), rec["failed"]
    rec["named"]["error_rate"] = (failed / attempted, "ratio")
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed,
              "metrics": format_metrics(rec, bool(args.trace))}
    detail = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "scale": args.scale, "host": host,
              "setup_reps_s": rec["setup_reps_s"],
              "phases_s": {"session_s": session_s, **rec["phases_s"]},
              "op_seconds": [op.seconds for op in rec["ops"]],
              "failures": rec["failures"],
              "spark_accumulator_errors": acc_errors,
              "workload_metrics": {k: {"value": v, "unit": u} for k, (v, u)
                                   in rec["named"].items()},
              **result}
    with open(os.path.join(args.out, f"result-{tag}.json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)

    print(f"host: nproc={host['nproc']} mem_total_mb={host['mem_total_mb']}"
          f" driver_memory={host['driver_memory']} spark={host['spark']}"
          f" python={host['python']}")
    print(f"workload={args.workload} seed={args.seed} "
          f"scale={args.scale} trace={args.trace} ops={attempted} "
          f"failed={failed}")
    if rec["failures"]:
        print(f"failed operations: {rec['failures']}")
    print(f"log-only diagnostic: {acc_errors} 'non-existent accumulator' "
          f"errors in {os.path.relpath(log_path, ROOT)}")
    for name, (v, unit) in rec["named"].items():
        print(f"  {name:<46} {v:>16.6g} {unit}")
    for name, m in result["metrics"].items():
        print(f"  {name:<46} {m['value']:>16.6g} {m['unit']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
