"""Benchmark of the VectorDB facade: one run of one workload.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Each run is a fresh process with its own
scratch and Spark local directories under ``.perfbench/`` in the checkout,
deleted when the run ends. ``--trace 0`` measures the end-to-end metrics;
``--trace 1`` installs the tracer (``perfbench/trace.py``) and reports the
per-layer metrics. Every metric is printed as ``metric|layer <name> <value>
<unit>``; the last line of standard output is one JSON object with the
metrics ``BENCHMARK.json`` lists for the chosen mode.

Workloads: ``serve`` and ``ingest_mutate`` (``perfbench/workloads.py``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

#: set-up time counts from here, before the session and the workload's imports
T0 = time.perf_counter()

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["serve", "ingest_mutate"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "tiny"], default="full",
                   help="tiny: small inputs for the benchmark's own tests")
    return p.parse_args(argv)


def isolate(work: str) -> None:
    """Point every scratch location of this process and its JVM into
    ``work``, so nothing of one run warms or litters the next."""
    for sub in ("scratch", "local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(work, "scratch")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")


def start_spark(work: str):
    from modal_vector_db_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def sentinel_ms(spark) -> float:
    """A fixed calibration: a pure-numpy loop plus one tiny Spark job."""
    import numpy as np

    job = spark.range(0, 2_000_000, 1, 4).selectExpr("sum(id % 7) AS s")
    t = time.perf_counter()
    a = np.random.default_rng(0).random((256, 256))
    for _ in range(40):
        a = np.tanh(a @ a / 256.0)
    job.collect()
    return (time.perf_counter() - t) * 1000.0


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(d))
            except (OSError, ValueError, IndexError):
                pass
    return out


def _descendants(pid: int) -> list[int]:
    kids = _children(pid)
    return kids + [g for k in kids for g in _descendants(k)]


def _hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def jvm_proc():
    from pyspark import SparkContext

    return getattr(SparkContext._gateway, "proc", None)


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and its Python workers and wait
    for each."""
    if spark is None:
        return
    from pyspark import SparkContext

    proc = jvm_proc()
    try:
        spark.stop()
        if SparkContext._gateway is not None:
            SparkContext._gateway.shutdown()
    except Exception:
        pass  # a gateway broken by a signal mid-call: the JVM is ended below
    if proc is None:
        return
    family = _descendants(proc.pid)
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.time() + 15
    for pid in family:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def measure(spark, args, work: str):
    from perfbench.trace import Tracer, self_time_table, span_cost_ms, summarize
    from perfbench.workloads import WORKLOADS, Run

    tracer = Tracer(spark) if args.trace else None
    run = Run(spark, args.seed, args.seconds, args.size, work, tracer, T0, lambda: sentinel_ms(spark))
    WORKLOADS[args.workload](run)
    if tracer:
        tracer.uninstall()
    if run.setup_s is None:  # no call was timed
        run.setup_done()
    s_start, s_end = run.sentinel_ms[0], sentinel_ms(spark)
    run.metric("setup_s", run.setup_s, "s")
    mix_mean = run.mix_mean_ms()
    if mix_mean is not None:
        calls = sum(len(run.lat[op]) for op in run.mix)
        run.metric("mean_call_ms", mix_mean, "ms", f"medians of {calls} calls, weighted by the mix")
    run.metric("error_rate", run.failed / max(run.attempted, 1), "fraction",
               f"{run.failed} of {run.attempted}")
    run.metric("sentinel_ms", (s_start + s_end) / 2, "ms", f"start {s_start:.1f}, end {s_end:.1f}")
    run.layer["sentinel_ms"] = ((s_start + s_end) / 2, "ms")
    selftimes = {}
    if tracer:
        run.layer.update(summarize(tracer))
        # a model of the spans' share, not the traced/untraced difference (README.md)
        in_calls = sum(1 for s in tracer.spans if s["call"] is not None)
        wall = sum(c["wall_ms"] for c in tracer.calls)
        run.layer["span_cost_frac"] = (in_calls * span_cost_ms(tracer) / wall if wall else 0.0, "fraction")
        selftimes = self_time_table(tracer)
        os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
        tracer.dump(os.path.join(ROOT, ".perfbench", f"spans-{args.workload}-s{args.seed}.jsonl"))
        run.notes.append(f"tracer bookkeeping between calls: {tracer.bookkeeping_s:.2f} s")
    return run, selftimes


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its directories
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "modal_vector_db_spark")):
        print("perfbench: no modal_vector_db_spark package in this checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    work = os.path.join(ROOT, ".perfbench", f"run-{args.workload}-s{args.seed}-{os.getpid()}")
    isolate(work)
    spark = None
    try:
        spark = start_spark(work)
        run, selftimes = measure(spark, args, work)
        proc = jvm_proc()
        run.metric("peak_rss_mb", _hwm_mb(os.getpid()) + (_hwm_mb(proc.pid) if proc else 0.0), "MB")
    finally:
        try:
            stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    for problem in run.problems[:20]:
        print(f"perfbench: {problem}", file=sys.stderr)
    for name, (value, unit, note) in sorted(run.e2e.items()):
        print(f"metric {name} {value!r} {unit}" + (f"  ({note})" if note else ""))
    if args.trace:
        for name, (value, unit) in sorted(run.layer.items()):
            print(f"layer {name} {value!r} {unit}")
    for note in run.notes:
        print(f"note {note}")
    for op, layers in sorted(selftimes.items()):
        wall = layers.pop("wall")
        parts = " ".join(f"{k}={v:.1f}" for k, v in sorted(layers.items()))
        print(f"selftime {op} wall={wall:.1f} ms: {parts}")

    key = "per_layer" if args.trace else "end_to_end"
    wanted = [(m["name"], m["unit"]) for m in spec[key]]
    have = {**{n: v for n, (v, _, _) in run.e2e.items()}, **{n: v for n, (v, _) in run.layer.items()}}
    missing = [n for n, _ in wanted if n not in have]
    if missing:
        print(f"perfbench: no value for {missing}", file=sys.stderr)
        return 1
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {n: {"value": have[n], "unit": u} for n, u in wanted},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
