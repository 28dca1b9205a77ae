"""Seeded streaming benchmark for kafka_streams_demo_spark.

Usage (from the repository root):

    python3 perfbench/run.py --workload live_window --seed 1 --seconds 8 --trace 0

Workloads (see BENCHMARK.json for why each exists):

- ``live_window``: open loop at a fixed offered rate through the flagship
  pipeline; latency is per event, from its due time to the commit of the
  micro-batch that emitted its result. The schedule runs a warm-up first
  and times the last ``--seconds`` of it. ``latency_tail_ms`` is the
  median over batches of each batch's slowest event.
- ``catchup_state``: a backlog drained with availableNow through a keyed
  count, then one closed-loop client doing point reads on the final state;
  throughput is the median batch rate of the drain, latency is per point
  read (too few reads for a tail, so the tail is their median).

``--trace 0`` prints the end-to-end metrics, measured with tracing off.
``--trace 1`` runs the workload untraced and then traced and prints the
per-layer metrics, including the tracing overhead; layers a workload does
not exercise read 0. The spans are written to
``.bench_out/trace-<workload>-<seed>.json``.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``;
failed_ratio = failed / attempted. Operations are micro-batches, point
reads and compared result rows.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time

import spans as tr

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3
# Spark task slots. On a small shared host, tasks on every core contend
# with the driver thread, the generator, GC and the JIT compiler, and a
# stage then waits for whichever task the host delays most; two slots ran
# both workloads faster and with less run-to-run spread than four on a
# 4-core host.
CPUS = 2

E2E_UNITS = {
    "setup_s": "s",
    "throughput_eps": "events/s",
    "latency_p50_ms": "ms",
    "latency_tail_ms": "ms",
    "peak_rss_mb": "MB",
}


# -- process tree ----------------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident memory with each shared page split
    among the processes sharing it, so a process forked from the JVM (the
    Python worker daemon, its workers) does not count the parent twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


class RssSampler(threading.Thread):
    """Peak summed PSS of this process and all its descendants."""

    def __init__(self, interval_s: float = 0.5):
        super().__init__(name="rss-sampler", daemon=True)
        self.interval_s, self.peak, self._stop_evt = interval_s, 0, threading.Event()
        self.at_peak: list[int] = []

    def run(self) -> None:
        me = os.getpid()
        while not self._stop_evt.is_set():
            per_pid = {p: _pss_bytes(p) for p in [me, *descendants(me)]}
            total = sum(per_pid.values())
            if total > self.peak:
                self.peak = total
                self.at_peak = sorted((v >> 20 for v in per_pid.values()), reverse=True)
            self._stop_evt.wait(self.interval_s)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time of the machine since boot, from /proc/stat:
    steal is time the hypervisor ran something else while a vCPU of this
    machine wanted to run."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:9]]
    return fields[7], sum(fields)


# -- session ------------------------------------------------------------------------

def start_session(work: str, workload_conf: dict[str, str], cpus: int | None = None):
    from kafka_streams_demo_spark import get_spark

    tmp = os.path.join(work, "tmp")
    heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    conf = {
        **workload_conf,
        # A fixed, pre-touched heap: peak RSS then follows the engine's own
        # memory (off-heap, Python workers), not the GC's heap-sizing
        # heuristics, which swing with host load.
        "spark.driver.extraJavaOptions": (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                                          f"-Xms{heap} -XX:+AlwaysPreTouch"),
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    kw = {}
    if cpus is not None:  # same settings SPARK_GRAFT_CPUS=<cpus> gives a fresh process
        kw = {"master": f"local[{cpus}]", "shuffle_partitions": cpus}
        conf["spark.sql.files.minPartitionNum"] = str(2 * cpus)
    spark = get_spark(app_name="perfbench", extra_conf=conf, **kw)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark) -> None:
    """A JVM job and a Python worker, so the first timed call pays neither."""
    spark.range(1000).selectExpr("sum(id)").collect()

    def passthrough(batches):
        yield from batches

    spark.range(64).mapInPandas(passthrough, "id long").write.format("noop").mode("overwrite").save()


def shutdown(spark) -> None:
    """Stop Spark, end the JVM, and wait for every process this run started."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(30)
        except Exception:
            proc.kill()
            proc.wait(10)
    deadline = time.monotonic() + 20
    while (left := descendants(os.getpid())) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for pid in left:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline + 10:
            time.sleep(0.05)


# -- main ---------------------------------------------------------------------------

def traced(args, wl, spark, tracer, work):
    """The workload untraced, then traced; per-layer figures come from the
    traced pass, and the tracing overhead is the difference in
    ``latency_p50_ms`` between the two (the traced pass runs second, on a
    warmer JVM). Extra layer measurements: the Python boundary after
    ``live_window``, a single-core drain after ``catchup_state``."""
    from workloads import PythonBoundary

    tracer.sc = spark.sparkContext
    plain = wl.run(spark, tr.NullTracer())
    with tracer.span("run.traced"):
        res = wl.run(spark, tracer)
    results = [plain, res]
    metrics = dict.fromkeys(LAYER_UNITS, 0.0)
    metrics.update(res.layers)
    metrics["trace.overhead_ms"] = res.e2e["latency_p50_ms"] - plain.e2e["latency_p50_ms"]
    if args.workload == "live_window":
        py = PythonBoundary(args.seed, os.path.join(work, "python"))
        with tracer.span("run.python_boundary"):
            results.append(py.run(spark, tracer))
        metrics.update(results[-1].layers)
    for layer, secs in tr.self_times(tracer.spans).items():
        if f"self.{layer}_s" in metrics:
            metrics[f"self.{layer}_s"] = secs
    metrics["trace.spans"] = float(len(tracer.spans))
    if args.workload == "catchup_state":
        spark.stop()
        spark = start_session(work, wl.SESSION_CONF, cpus=1)
        results.append(wl.run(spark, tr.NullTracer(), lookups=False))
        metrics["baseline.throughput_eps_1core"] = results[-1].e2e["throughput_eps"]
    os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
    tracer.dump(os.path.join(ROOT, ".bench_out", f"trace-{args.workload}-{args.seed}.json"))
    return spark, metrics, results


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(ROOT, ".bench_work", args.workload)
    # The engine reads these when it is imported and when a session starts.
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    sys.path.insert(0, ROOT)
    # Fails (non-zero exit, no result line) when the engine is not beside us.
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))

    sampler = RssSampler()
    sampler.start()
    wl = WORKLOADS[args.workload](args.seed, args.seconds, work)
    tracer = tr.Tracer() if args.trace else tr.NullTracer()
    spark = None
    steal0 = cpu_jiffies()
    marks = [time.perf_counter()]
    try:
        setup, starts, warms = [], [], []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            with tracer.span("session.start"):
                spark = start_session(work, wl.SESSION_CONF, cpus=CPUS)
            t1 = time.perf_counter()
            with tracer.span("session.warmup"):
                warm_up(spark)
            t2 = time.perf_counter()
            with tracer.span("generator.inputs"):
                wl.generate(spark)
            setup.append(time.perf_counter() - t0)
            starts.append(t1 - t0)
            warms.append(t2 - t1)
            if rep < SETUP_REPS - 1:
                spark.stop()

        marks.append(time.perf_counter())
        if not args.trace:
            res = wl.run(spark, tr.NullTracer())
            results = [res]
            metrics = dict(res.e2e, setup_s=statistics.median(setup))
        else:
            spark, metrics, results = traced(args, wl, spark, tracer, work)
            metrics.update({
                "session.jvm_start_s": starts[0],
                "session.start_s": statistics.median(starts),
                "session.warmup_s": statistics.median(warms),
            })
        marks.append(time.perf_counter())
    finally:
        shutdown(spark)
        sampler.stop()

    if not args.trace:
        metrics["peak_rss_mb"] = sampler.peak / 2**20

    from bench import _conditions

    marks.append(time.perf_counter())
    steal1 = cpu_jiffies()
    conditions = _conditions()
    # A run slowed by other tenants of the host shows here, not in the
    # probes, which take a second or two after the run.
    conditions["steal_share"] = round((steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]), 4)
    shutil.rmtree(work, ignore_errors=True)
    marks.append(time.perf_counter())
    # Wall seconds of set-up, the workload, shutdown, and the host probes.
    phases = [round(b - a, 2) for a, b in zip(marks, marks[1:])]
    attempted = sum(r.attempted for r in results)
    failed = sum(r.failed for r in results)
    notes = {k: v for r in results for k, v in r.notes.items()}
    print(json.dumps({"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                      "trace": args.trace, "setup_runs_s": setup, "session_start_s": starts,
                      "warmup_s": warms, "phases_s": phases, "rss_mb_at_peak": sampler.at_peak,
                      "notes": notes, "conditions": conditions}))
    for name in sorted(metrics):
        print(f"{name} = {metrics[name]:.6g} {UNITS[name]}")
    print(f"failed_ratio = {failed / max(1, attempted):.6g} ({failed}/{attempted})")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": UNITS[n]} for n, v in sorted(metrics.items())},
    }))
    return 0


LAYER_UNITS = {
    "session.jvm_start_s": "s", "session.start_s": "s", "session.warmup_s": "s",
    "operators.build_ms": "ms",
    "sources.latest_offset_ms": "ms", "sources.get_batch_ms": "ms",
    "sources.lag_events_tail": "count",
    "streaming.batches": "count", "streaming.batch_ms_p50": "ms", "streaming.batch_ms_tail": "ms",
    "streaming.planning_ms": "ms", "streaming.add_batch_ms": "ms", "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms", "streaming.state_commit_ms": "ms",
    "streaming.state_update_ms": "ms", "streaming.state_rows_total": "count",
    "streaming.state_rows_updated": "count", "streaming.state_memory_bytes": "bytes",
    "streaming.state_cache_hit_ratio": "ratio", "streaming.checkpoint_bytes": "bytes",
    "streaming.rows_dropped_late": "count",
    "interactive.lookups": "count", "interactive.build_ms": "ms", "interactive.exec_ms": "ms",
    "interactive.snapshot_hit_ratio": "ratio", "interactive.build_jobs": "count",
    "sources.decode_s": "s", "processor.throughput_eps": "events/s",
    "processor.add_batch_ms": "ms", "processor.keys_per_batch": "count",
    "generator.events": "count", "generator.late_tail_ms": "ms",
    "baseline.throughput_eps_1core": "events/s",
    "self.session_s": "s", "self.generator_s": "s", "self.operators_s": "s", "self.sources_s": "s",
    "self.streaming_s": "s", "self.interactive_s": "s", "self.processor_s": "s",
    "trace.overhead_ms": "ms", "trace.spans": "count",
}
UNITS = {**E2E_UNITS, **LAYER_UNITS}


if __name__ == "__main__":
    sys.exit(main())
