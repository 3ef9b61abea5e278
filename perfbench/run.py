"""Benchmark entry point.

    python3 perfbench/run.py --workload olap|point|ingest --seed N \
        --seconds S --trace 0|1

Run from the repository root.  A child process (``reference.py
prepare``) generates the inputs from the seed under a private directory
of the checkout (removed on exit).  The run then starts one Spark
session, sets the workload up twice, warms it, measures it for
``--seconds`` recording every output, reads its counters, stops Spark,
and has a second child (``reference.py check``) check the recorded
outputs against reference answers.  The last line
of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer
ones from a traced run.  The exit code is 0 only when every operation
succeeded and every output matched.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

from common import log  # noqa: E402  (perfbench/ is on sys.path)

#: JVM heap (``-Xmx``) and its initial size (``-Xms``, committed but
#: not pre-touched).  Left to itself the collector grew point's heap to
#: anywhere between 0.8 and 2.0 GB, which made peak RSS swing by a
#: quarter between runs; from a 2g start it grows only when the program
#: needs more than that.  See the README for the measurements.
DRIVER_MEM = "4g"
INITIAL_HEAP = "2g"
#: Set-ups per run; ``setup_s`` takes their median.
SETUPS = 2


class Context:
    """What a workload gets: the run directory, the tracer, the plan
    ``reference.py prepare`` drew from the seed, and once started the
    session and the engine counters."""

    def __init__(self, work: str, tracer, plan: dict):
        self.work = work
        self.tracer = tracer
        self.plan = plan
        self.spark = None
        self.counters = None


def cpu_times() -> list[int]:
    """The machine-wide CPU time counters of ``/proc/stat``."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _pin_environment(work: str) -> dict[str, str]:
    """Keep every file the run makes inside ``work`` and fix the engine
    settings the results depend on."""
    cpus = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    return {"SPARK_GRAFT_CPUS": cpus, "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "initial_heap": INITIAL_HEAP}


def _spark_conf(work: str) -> dict[str, str]:
    return {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # same code-cache size the package sets, plus a private tmpdir
        # and no hsperfdata file outside the run directory
        "spark.driver.extraJavaOptions":
            "-XX:ReservedCodeCacheSize=768m -XX:-UsePerfData "
            f"-Xms{INITIAL_HEAP} -Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Dderby.system.home={os.path.join(work, 'derby')}",
    }


def _reference(step: str, args, work: str) -> None:
    """Run one step of ``reference.py`` in a child process and wait."""
    subprocess.run(
        [sys.executable, os.path.join(HERE, "reference.py"), step,
         "--workload", args.workload, "--seed", str(args.seed),
         "--work", work, "--trace", str(args.trace)],
        check=True, stdout=sys.stderr, timeout=150)


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _workload(name: str, ctx):
    if name == "olap":
        from olap import Olap
        return Olap(ctx)
    if name == "point":
        from point import Point
        return Point(ctx)
    from ingest import Ingest
    return Ingest(ctx)


def _per_layer(values: dict, tracer, self_ms: dict) -> dict:
    """Every per-layer metric ``BENCHMARK.json`` names, with its unit:
    ``self.<layer>_ms_per_op`` is the layer's self time per operation,
    a name in ``values`` takes that value, any other ``<span>_ms`` is
    the span's median duration, and a figure the workload does not
    produce reads 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer"]
    out = {}
    for m in spec:
        name = m["name"]
        if name.startswith("self.") and name.endswith("_ms_per_op"):
            value = self_ms.get(name[len("self."):-len("_ms_per_op")], 0.0)
        elif name in values:
            value = values[name]
        elif name.endswith("_ms"):
            value = tracer.median_ms(name[:-len("_ms")])
        else:
            value = 0.0
        out[name] = (value, m["unit"])
    return out


def run(args, work: str) -> dict:
    from common import Loop, percentile
    from tracing import SparkCounters, Tracer, cpu_s, peak_rss_mb

    settings = _pin_environment(work)
    try:
        from cs186_query_optimization_project_spark import get_spark
    except ImportError as exc:
        raise SystemExit(f"cannot import the package from {ROOT}: {exc}")

    t0 = time.perf_counter()
    _reference("prepare", args, work)
    with open(os.path.join(work, "plan.pkl"), "rb") as f:
        plan = pickle.load(f)
    log(f"inputs {time.perf_counter() - t0:.2f}s")

    tracer = Tracer(bool(args.trace))
    ctx = Context(work, tracer, plan)
    wl = _workload(args.workload, ctx)
    with tracer.span("session.start", new_op=True):
        t0 = time.perf_counter()
        ctx.spark = get_spark(app_name=f"perfbench-{args.workload}",
                              extra_conf=_spark_conf(work))
        session_s = time.perf_counter() - t0
    ctx.counters = SparkCounters(ctx.spark)
    loop = Loop()
    try:
        setups = []
        for _ in range(SETUPS):
            t0 = time.perf_counter()
            wl.setup()
            setups.append(time.perf_counter() - t0)
        log(f"session {session_s:.2f}s, set-ups "
            + ", ".join(f"{s:.2f}s" for s in setups))
        values = wl.plan_metrics() if tracer.enabled else {}
        t0 = time.perf_counter()
        with tracer.paused():
            wl.warmup()
        log(f"warm-up {time.perf_counter() - t0:.2f}s")

        cpu0 = cpu_times()
        proc_cpu0 = cpu_s()
        gc0 = ctx.counters.gc_ms()
        loop.started = time.perf_counter()
        wl.run(loop.started + args.seconds, loop)
        loop.ended = time.perf_counter()
        gc_ms = ctx.counters.gc_ms() - gc0
        proc_cpu = cpu_s() - proc_cpu0
        cpu = [b - a for a, b in zip(cpu0, cpu_times())]
        rss = peak_rss_mb()
        log(f"measured {loop.elapsed:.2f}s, {len(loop.samples)} ops")
        # outputs of the final state and the traced run's layer figures
        # come after every measurement above
        finals = wl.finish()
        described = wl.describe()
        if tracer.enabled:
            values.update(wl.layer_metrics())
            values["spark.live_heap_mb"] = ctx.counters.live_heap_mb()
    finally:
        _stop(ctx.spark)

    outputs = [(s.ref, s.got) for s in loop.samples if s.ref is not None]
    outputs += finals
    with open(os.path.join(work, "outputs.pkl"), "wb") as f:
        pickle.dump(outputs, f)
    t0 = time.perf_counter()
    _reference("check", args, work)
    log(f"check {time.perf_counter() - t0:.2f}s")
    with open(os.path.join(work, "verdict.json")) as f:
        bad = json.load(f)["bad"]

    primary = [s.seconds for s in loop.samples if s.kind in wl.primary]
    attempted = len(loop.samples) + len(loop.errors) + len(finals)
    failed = len(bad) + len(loop.errors)
    info = {"workload": args.workload, "seed": args.seed,
            "samples": len(primary), "tail_percentile": wl.tail_q,
            "error_rate": failed / attempted,
            "setup_runs_s": setups,
            # share of the machine's CPU time taken by other guests of
            # the host while measuring: a noisy-neighbour indicator
            "cpu_steal_share": cpu[7] / max(sum(cpu), 1),
            "kind_p50_ms": {k: percentile([s.seconds for s in loop.samples
                                           if s.kind == k], 0.5) * 1e3
                            for k in sorted({s.kind for s in loop.samples})},
            **settings, **described}
    print(json.dumps({"info": info}), flush=True)

    if not tracer.enabled:
        metrics = {
            "setup_s": (session_s + statistics.median(setups), "s"),
            "op_p50_ms": (percentile(primary, 0.5) * 1e3, "ms"),
            "op_tail_ms": (percentile(primary, wl.tail_q) * 1e3, "ms"),
            "ops_per_s": (len(loop.samples) / loop.elapsed, "1/s"),
            "cpu_ms_per_op": (proc_cpu * 1e3 / len(loop.samples), "ms"),
            "peak_rss_mb": (rss, "MB"),
        }
    else:
        n_ops = max(len(loop.samples), 1)
        counts = tracer.counts
        values.update({
            "session.start_s": session_s,
            "spark.gc_ms_per_op": gc_ms / n_ops,
            "spark.jobs_per_op": counts.get("spark.jobs", 0) / n_ops,
            "spark.tasks_per_op": counts.get("spark.tasks", 0) / n_ops,
            "spark.failed_tasks": counts.get("spark.failed_tasks", 0),
            "partitioned.dirs_scanned_share":
                counts.get("partitioned.dirs_scanned", 0)
                / max(counts.get("partitioned.dirs_total", 0), 1),
            "trace.ops_per_s": len(loop.samples) / loop.elapsed,
            "trace.counter_ms_per_op":
                counts.get("trace.counter_s", 0) * 1e3 / n_ops,
        })
        metrics = _per_layer(values, tracer,
                             tracer.layer_self_ms(n_ops, loop.started))
        tracer.dump(os.path.join(ROOT, ".perfbench_traces",
                                 f"{args.workload}-{args.seed}.jsonl"))

    return {"correct": failed == 0, "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()}}


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True,
                        choices=("olap", "point", "ingest"))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()
    if args.seconds <= 0:
        parser.error("--seconds must be positive")
    if not os.path.isdir(os.path.join(
            ROOT, "cs186_query_optimization_project_spark")):
        log(f"no package under {ROOT}; run from the repository root")
        return 2
    sys.path.insert(0, ROOT)

    work = os.path.join(ROOT, ".perfbench_run",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, mode=0o700)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.flush()
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
