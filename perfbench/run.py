"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload poll_dashboard --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The run generates its inputs from the
seed under ``.perfbench_work/`` in the checkout (twice, to time the
generation and to check that it is deterministic), starts a local Spark
session on every CPU this process may use (``SPARK_GRAFT_CPUS``), builds
and warms up what the workload needs, then runs the workload's closed
loop (one client; the next operation starts when the previous one has
returned) until ``--seconds`` have passed. It checks every result, stops
Spark and its JVM, deletes its work directory, and prints as its last
line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json:
set-up seconds, and the median wall seconds and median CPU seconds (of
this process and every process it started: JVM, Python workers) of one
operation.
With ``--trace 1`` every operation runs with spans around each layer
call, and at least the operations the workload's per-layer metrics need
are timed. The metrics are the per-layer ones: the tracing overhead (the
seconds tracing adds inside an operation: its spans at the measured cost
of an empty span, plus the Spark work counts taken mid-operation),
``items_per_s`` (readings committed by poll_dashboard, documents curated
by corpus_curation, over the seconds inside timed operations), the peak
memory of this process and its JVM, and each layer's times and counts; a
metric of a layer the workload does not call reads 0.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "purpleair_data_logger_spark"

#: input generation runs this many times per run; setup_s takes the
#: median, and every repetition must write the same bytes.
GEN_REPEATS = 2
#: JVM heap of the Spark session; the inputs are small.
JVM_HEAP = "2g"
#: what an untraced run measures
END_TO_END_NAMES = ("setup_s", "op_p50_s", "op_cpu_s")
#: what a traced run measures besides the workload's own layer metrics
RUN_LAYER_NAMES = (
    "items_per_s",
    "peak_rss_mb",
    "session.start_s",
    "session.warmup_s",
    "gen.inputs_s",
    "setup.build_s",
    "trace.overhead_s",
    "ops_timed",
    "failed_ops_ratio",
)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def isolate(work: str) -> None:
    """Point every temporary location of Spark, the JVM and Python at the
    run's work directory, and make Spark use every CPU we may run on."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = JVM_HEAP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # No hsperfdata file in the system's /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TZ"] = "UTC"
    time.tzset()
    # Spark puts a warehouse or metastore into the working directory
    # when anything asks for one.
    os.chdir(work)


def tree_digest(path: str) -> str:
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames.sort()
        for f in sorted(filenames):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in and the Python workers
    it started, and wait for them."""
    from pyspark import SparkContext

    import spans

    started = spans.descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        # The gateway JVM exits when its stdin closes.
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
    # The workers exit once the JVM is gone; they are no longer our
    # children then, so poll for them.
    deadline = time.monotonic() + 30
    while (alive := [pid for pid in started if spans.running(pid)]) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in alive:
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, signal.SIGKILL)


def run(workload_name: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    from pyspark import SparkContext

    from purpleair_data_logger_spark import session
    from purpleair_data_logger_spark.sources import spark_datasource

    import spans
    from workloads import WORKLOADS

    cls = WORKLOADS[workload_name]
    errors: list[str] = []

    # -- set-up: inputs (repeated), session, store build, warm-up --------
    gen_s, digests = [], set()
    for rep in range(GEN_REPEATS):
        out = os.path.join(work, f"inputs-{rep}")
        t0 = time.perf_counter()
        generated = cls.generate(out, seed, seconds)
        gen_s.append(time.perf_counter() - t0)
        digests.add(tree_digest(out))
        if rep == 0:
            inputs = generated
        else:
            shutil.rmtree(out)
    if len(digests) != 1:
        errors.append("input generation is not deterministic")

    t0 = time.perf_counter()
    spark = session.get_spark(f"perfbench-{workload_name}")
    spark.sparkContext.setLogLevel("ERROR")
    spark_datasource.register(spark)
    start_s = time.perf_counter() - t0
    try:
        # Spans cover the build and the timed operations, not the warm-up.
        tracer = spans.Tracer(trace)
        counter = spans.SparkWork(spark.sparkContext) if trace else None
        wl = cls(spark, work, tracer, counter, inputs)
        t0 = time.perf_counter()
        wl.build()
        build_s = time.perf_counter() - t0
        tracer.enabled = False
        t0 = time.perf_counter()
        errors += wl.warmup()
        warmup_s = time.perf_counter() - t0
        setup_s = statistics.median(gen_s) + start_s + build_s + warmup_s
        print(
            f"set-up {setup_s:.2f}s: generate {statistics.median(gen_s):.2f}s, session {start_s:.2f}s, "
            f"build {build_s:.2f}s, warm-up {warmup_s:.2f}s",
            file=sys.stderr,
        )

        # -- the closed loop -----------------------------------------------
        if counter:
            counter.take()
        latencies: dict[int, float] = {}
        cpu: dict[int, float] = {}
        work_done: dict[int, spans.Work] = {}
        failed: set[int] = set()
        items = 0
        k = 0
        loop_start = time.perf_counter()
        while (time.perf_counter() - loop_start < seconds or (trace and k < wl.traced_ops)) and wl.remaining(k):
            tracer.enabled = trace
            tracer.op = k
            if counter:
                counter.begin(f"op-{k}")
            cpu0 = spans.tree_cpu_s(os.getpid())
            t0 = time.perf_counter()
            try:
                items += wl.op(k)
                ok = True
            except Exception as exc:  # an operation's failure is a result
                print(f"operation {k} failed: {exc!r}", file=sys.stderr)
                ok = False
            latencies[k] = time.perf_counter() - t0
            cpu[k] = spans.tree_cpu_s(os.getpid()) - cpu0
            tracer.enabled = False
            if counter:
                work_done[k] = counter.take()
            if not (ok and wl.verify(k)):
                print(f"operation {k} failed its check", file=sys.stderr)
                failed.add(k)
            if counter:
                wl.observe(k)
                counter.take()
            k += 1
        print("operation seconds:", [round(s, 3) for s in latencies.values()], file=sys.stderr)

        op_failed, op_errors = wl.finish(list(latencies))
        failed |= op_failed
        errors += op_errors
        for e in errors:
            print(f"check failed: {e}", file=sys.stderr)

        lat = list(latencies.values())
        if trace:
            metrics = {
                "items_per_s": items / sum(latencies.values()),
                "peak_rss_mb": spans.peak_rss_mb([os.getpid(), SparkContext._gateway.proc.pid]),
                "session.start_s": start_s,
                "session.warmup_s": warmup_s,
                "gen.inputs_s": statistics.median(gen_s),
                "setup.build_s": build_s,
                "trace.overhead_s": statistics.median(tracer.overhead_s(list(latencies))),
                "ops_timed": len(lat),
                "failed_ops_ratio": len(failed) / len(lat),
            }
            layer = wl.layer_metrics(work_done)
            if set(layer) != set(cls.layer_names):
                raise KeyError(f"{workload_name} measured {sorted(layer)}, declares {sorted(cls.layer_names)}")
            metrics.update(layer)
        else:
            metrics = {"setup_s": setup_s, "op_p50_s": statistics.median(lat), "op_cpu_s": statistics.median(cpu.values())}
        return {
            "correct": not failed and not errors,
            "attempted": len(latencies),
            "failed": len(failed),
            "metrics": metrics,
        }
    finally:
        stop_spark(spark)


def with_units(metrics: dict, entries: list[dict], *, absent: float | None = None) -> dict:
    """Every metric named in ``entries``, in that order, with its unit.
    A name ``metrics`` lacks reads ``absent``, or raises if that is None."""
    missing = [e["name"] for e in entries if e["name"] not in metrics]
    if missing and absent is None:
        raise KeyError(f"metrics not measured: {missing}")
    return {e["name"]: {"value": metrics.get(e["name"], absent), "unit": e["unit"]} for e in entries}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE} not found under {ROOT}: nothing to benchmark", file=sys.stderr)
        return 2
    spec = load_spec()
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    sys.path[:0] = [ROOT, HERE]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    cwd = os.getcwd()
    isolate(work)
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    print("all metrics:", json.dumps(result["metrics"]), file=sys.stderr)
    if args.trace:
        result["metrics"] = with_units(result["metrics"], spec["per_layer"], absent=0.0)
    else:
        result["metrics"] = with_units(result["metrics"], spec["end_to_end"])
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
