"""The benchmark workloads, driven through the engine's public API.

Each workload has ``generate`` (seeded inputs; part of set-up) and
``run`` (the measured phase plus its output checks). ``run`` returns a
``Result``: end-to-end figures, per-layer figures and the count of
attempted and failed operations. Checks run after the measured interval.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import stats
from spans import NullTracer

from kafka_streams_demo_spark import KStream, KTable
from kafka_streams_demo_spark.operators.windows import TimeWindows
from kafka_streams_demo_spark.sources.schema_registry import (
    InMemorySchemaRegistry,
    from_avro_wire_df,
    to_avro_wire_df,
)
from kafka_streams_demo_spark.streaming import interactive
from kafka_streams_demo_spark.streaming.processor import running_count_processor


@dataclass
class Result:
    e2e: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    notes: dict = field(default_factory=dict)

    def count(self, attempted: int, failed: int, sample: list | None = None) -> None:
        self.attempted += attempted
        self.failed += failed
        if sample:
            self.notes.setdefault("mismatches", []).extend(sample)


def progress_dicts(query) -> list[dict]:
    import json

    return [json.loads(p.json) for p in query.recentProgress]


def _check_batches(res: Result, progress: list[dict], query) -> None:
    """Every micro-batch is an operation; a query that died fails them all."""
    n = max(1, len([p for p in progress if p.get("numInputRows", 0) > 0]))
    res.count(n, n if query.exception() is not None else 0)


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


# -- live_window ------------------------------------------------------------------

class LiveWindow:
    """Open loop: the benchmark writes one parquet file per tick on a fixed
    schedule; the flagship pipeline (file source -> join a global
    table -> re-key -> watermark -> tumbling count, update mode, default
    trigger) runs against it."""

    name = "live_window"
    SESSION_CONF: dict[str, str] = {}
    RATE = 4_000
    # The first seconds of a fresh query run on cold JIT-compiled code and
    # are several times slower than the rest; they are checked, not timed.
    WARM_S = 8.0

    def __init__(self, seed: int, seconds: float, work: str):
        self.seed, self.work = seed, work
        self.spec = gen.LiveSpec(rate=self.RATE, seconds=seconds, warm_s=self.WARM_S)
        self.runs = 0

    def generate(self, spark) -> int:
        self.inp = gen.live_input(self.seed, self.spec)
        self.dim_dir = _fresh(os.path.join(self.work, "dim"))
        pq.write_table(gen.dim_table(self.inp.regions), os.path.join(self.dim_dir, "dim.parquet"))
        return self.inp.n_events

    def _pipeline(self, spark, stream_dir: str):
        src = (spark.readStream.schema("user long, ts timestamp, due double")
               .parquet(stream_dir))
        dim = spark.read.parquet(self.dim_dir)
        regions = KTable.global_table(dim.selectExpr("user AS key", "region AS value"))
        s = self.spec
        return (KStream.from_df(src, key="user", value="due", timestamp="ts")
                .join(regions, lambda _due, region: region)
                .select_key(lambda _k, region: region)
                .with_watermark(f"{s.watermark_s} seconds")
                .group_by_key()
                .windowed_by(TimeWindows.of(f"{s.window_s} seconds"))
                .count())

    def run(self, spark, tracer) -> Result:
        self.runs += 1
        base = _fresh(os.path.join(self.work, f"run{self.runs}"))
        stream_dir, ckpt = _fresh(os.path.join(base, "stream")), os.path.join(base, "ckpt")
        res = Result()
        with tracer.span("operators.build"):
            t = time.perf_counter()
            out = self._pipeline(spark, stream_dir)
            res.layers["operators.build_ms"] = (time.perf_counter() - t) * 1e3
        table = f"live_{os.getpid()}_{self.runs}"
        with tracer.span("streaming.start"):
            q = (out.writeStream.format("memory").queryName(table).outputMode("update")
                 .option("checkpointLocation", ckpt).start())
        commits = os.path.join(ckpt, "commits")
        inp, spec = self.inp, self.spec

        def write(name: str, tbl: pa.Table) -> float:
            tmp = os.path.join(stream_dir, "." + name)
            pq.write_table(tbl, tmp)
            os.rename(tmp, os.path.join(stream_dir, name))
            return time.time()

        # Warm-up tick: brings the query to steady state and sets the
        # watermark before the schedule starts.
        warm = "warm.parquet"
        write(warm, gen.live_table(inp.warm_keys, inp.warm_ts_us,
                                   np.full(len(inp.warm_keys), time.time())))
        _wait_committed(q, ckpt, {warm}, timeout_s=90)

        names = [f"tick-{i:05d}.parquet" for i in range(spec.ticks)]
        lateness: list[float] = []
        t0 = time.time() + 0.05

        # The open-loop schedule: it never waits for the query, which runs in
        # the JVM; a tick's file is due once all its events were created.
        with tracer.span("generator.schedule"):
            for i, name in enumerate(names):
                due_at = t0 + (i + 1) * spec.tick_s
                pause = due_at - time.time()
                if pause > 0:
                    time.sleep(pause)
                tbl = gen.live_table(inp.keys[i], inp.ts_us[i], t0 + inp.due_off[i])
                lateness.append(write(name, tbl) - due_at)
        t_end = t0 + spec.ticks * spec.tick_s
        t_timed = t0 + spec.warm_ticks * spec.tick_s
        with tracer.span("streaming.drain"):
            _wait_committed(q, ckpt, set(names), timeout_s=60)
        q.stop()
        progress = progress_dicts(q)
        tracer.add_progress(progress)

        batch_of, committed = stats.checkpoint_batches(ckpt), stats.commit_times(commits)
        due = {n: t0 + inp.due_off[i] for i, n in enumerate(names)}
        timed = {n: due[n] for n in names[spec.warm_ticks:]}
        lat, missing = stats.event_latencies(timed, batch_of, committed)
        p50, p_tail, q_tail = stats.median_and_tail(lat * 1e3)
        per_batch = stats.batch_event_counts(due, batch_of)
        res.e2e.update({
            "latency_p50_ms": p50,
            "latency_tail_ms": 1e3 * stats.pct(
                stats.batch_worst_latencies(timed, batch_of, committed), 50),
            "throughput_eps": stats.steady_rate(per_batch, committed, t_timed, t_end),
        })
        res.notes.update({f"latency_p{q_tail}_ms": p_tail, "latency_samples": int(lat.size),
                          "uncommitted_events": missing, "offered_eps": spec.rate})
        lag = stats.lag_samples(timed, batch_of, committed)
        res.layers.update(stats.progress_summary(progress))
        res.layers.update({
            "sources.lag_events_tail": stats.median_and_tail(lag)[1],
            "streaming.checkpoint_bytes": float(stats.dir_bytes(ckpt)),
            "generator.events": float(inp.n_events),
            "generator.late_tail_ms": stats.median_and_tail(np.asarray(lateness) * 1e3)[1],
        })

        _check_batches(res, progress, q)
        got = spark.table(table).toArrow()
        spark.catalog.dropTempView(table)
        self._check(res, got, stream_dir)
        shutil.rmtree(base, ignore_errors=True)
        return res

    def _check(self, res: Result, got, stream_dir: str) -> None:
        """Windowed counts against DuckDB over the same files; too-late
        events (event time far behind the watermark) are excluded, and their
        number must equal the rows the engine dropped. ``got`` holds every
        update the sink received; a window's result is its last (largest)."""
        cutoff_us = gen.EPOCH_US - self.spec.late_by_s * 1_000_000 // 2
        w_us = self.spec.window_s * 1_000_000
        con = duckdb.connect()
        con.register("got_rows", got)
        con.execute(f"CREATE VIEW ev AS SELECT user, epoch_us(ts) AS t FROM '{stream_dir}/*.parquet'")
        con.execute(f"CREATE VIEW dim AS SELECT * FROM '{self.dim_dir}/dim.parquet'")
        res.count(*stats.compare_relations(
            con,
            f"""SELECT d.region AS k, (e.t // {w_us}) * {w_us} AS w, count(*) AS v
                FROM ev e JOIN dim d USING (user) WHERE e.t >= {cutoff_us} GROUP BY ALL""",
            "SELECT key AS k, epoch_us(window_start) AS w, max(value) AS v FROM got_rows GROUP BY ALL",
            ["k", "w"]))
        n_late = con.execute(f"SELECT count(*) FROM ev WHERE t < {cutoff_us}").fetchone()[0]
        con.close()
        dropped = int(res.layers["streaming.rows_dropped_late"])
        res.count(1, int(dropped != n_late))
        res.notes.update({"late_events": int(n_late), "dropped_late": dropped})


def _wait_committed(q, ckpt: str, names: set[str], timeout_s: float) -> None:
    """Block until every file in ``names`` was read by a committed batch and
    that batch's progress event was posted."""
    commits = os.path.join(ckpt, "commits")
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if q.exception() is not None:
            raise RuntimeError(f"streaming query failed: {q.exception()}")
        if os.path.isdir(commits):
            batch_of, committed = stats.checkpoint_batches(ckpt), stats.commit_times(commits)
            if all(batch_of.get(n) in committed for n in names):
                last = q.lastProgress
                if last is not None and last.batchId >= max(batch_of[n] for n in names):
                    return
        time.sleep(0.02)
    raise TimeoutError(f"{len(names)} files not committed within {timeout_s}s")


# -- catchup_state --------------------------------------------------------------

class CatchupState:
    """A pre-generated backlog drained with availableNow in fixed-size
    batches through ``group_by_key().count()``, then one closed-loop client
    reading single keys back with ``state_get_point``."""

    name = "catchup_state"
    # Snapshot after every delta so point reads are served from one
    # partition's snapshot. Pinned when the session starts: switching them
    # per query with ``interactive.snapshot_eager`` calls StateStore.stop(),
    # which can deadlock against a maintenance task still running from the
    # previous drain.
    SESSION_CONF = interactive.SNAPSHOT_EAGER_CONFS
    EVENTS_PER_SECOND_OF_RUN = 75_000
    FILE_EVENTS = 100_000
    # Untimed drain before the timed one, long enough for the JIT to
    # compile the scan, shuffle and state-update paths.
    WARM_EVENTS = 200_000
    N_KEYS = 1_000_000
    LOOKUPS = 6

    def __init__(self, seed: int, seconds: float, work: str):
        self.seed, self.work = seed, work
        n = int(seconds * self.EVENTS_PER_SECOND_OF_RUN)
        self.spec = gen.BacklogSpec(n_events=n, n_files=max(1, n // self.FILE_EVENTS),
                                    n_keys=self.N_KEYS, zipf_s=0.9)
        self.runs = 0

    def generate(self, spark) -> int:
        self.keys = gen.backlog_keys(self.seed, self.name, self.spec)
        self.backlog = _fresh(os.path.join(self.work, "backlog"))
        gen.write_backlog(self.keys, self.backlog, self.spec.n_files)
        rng = gen.rng_for(self.seed, self.name)
        picks = rng.choice(self.keys, self.LOOKUPS + 1)
        uniform = rng.integers(0, self.N_KEYS, self.LOOKUPS + 1)
        self.lookup_keys = np.where(np.arange(self.LOOKUPS + 1) % 4 == 3, uniform, picks)
        return self.spec.n_events

    def drain(self, spark, tracer, backlog: str, ckpt: str) -> float:
        """Drain ``backlog`` into a fresh checkpoint; returns wall seconds."""
        with tracer.span("operators.build"):
            t = time.perf_counter()
            src = (spark.readStream.schema("key long, seq long")
                   .option("maxFilesPerTrigger", 1).parquet(backlog))
            out = KStream.from_df(src, key="key", value="seq").group_by_key().count().to_df()
            self.build_ms = (time.perf_counter() - t) * 1e3
        with tracer.span("streaming.drain"):
            t = time.perf_counter()
            q = (out.writeStream.format("noop").outputMode("update")
                 .option("checkpointLocation", ckpt).trigger(availableNow=True).start())
            q.awaitTermination()
            wall = time.perf_counter() - t
        self.query = q
        if q.exception() is not None:
            raise RuntimeError(f"drain failed: {q.exception()}")
        return wall

    def run(self, spark, tracer, lookups: bool = True) -> Result:
        self.runs += 1
        base = _fresh(os.path.join(self.work, f"run{self.runs}"))
        ckpt = os.path.join(base, "ckpt")
        # Untimed: part of the backlog through the same pipeline compiles
        # the engine's code paths, so the timed drain starts warm.
        warm = _fresh(os.path.join(base, "warm"))
        gen.write_backlog(self.keys[: self.WARM_EVENTS], warm, self.WARM_EVENTS // self.FILE_EVENTS)
        self.drain(spark, NullTracer(), warm, os.path.join(base, "warm-ckpt"))
        res = Result()
        wall = self.drain(spark, tracer, self.backlog, ckpt)
        progress = progress_dicts(self.query)
        tracer.add_progress(progress)
        # Each batch reads one file of FILE_EVENTS events; the median batch
        # rate is the drain's throughput with the query's start and stop
        # left out, and a batch slowed by another tenant of the host does
        # not move it.
        rates = [p["numInputRows"] / p["durationMs"]["triggerExecution"] * 1e3
                 for p in progress if p.get("numInputRows", 0) > 0]
        res.e2e["throughput_eps"] = stats.pct(rates, 50)
        res.notes.update({"drain_s": wall, "drain_eps": self.spec.n_events / wall})
        res.layers.update(stats.progress_summary(progress))
        res.layers.update({
            "operators.build_ms": self.build_ms,
            "generator.events": float(self.spec.n_events),
            "streaming.checkpoint_bytes": float(stats.dir_bytes(ckpt)),
        })
        _check_batches(res, progress, self.query)
        files = {os.path.basename(f): np.zeros(pq.read_metadata(f).num_rows)
                 for f in _parquet_files(self.backlog)}
        res.layers["sources.lag_events_tail"] = stats.median_and_tail(stats.lag_samples(
            files, stats.checkpoint_batches(ckpt), stats.commit_times(os.path.join(ckpt, "commits"))))[1]
        if not lookups:
            return res

        con = duckdb.connect()
        con.execute(f"CREATE VIEW ref AS SELECT key AS k, count(*) AS v FROM '{self.backlog}/*.parquet' GROUP BY k")
        keys = [int(k) for k in self.lookup_keys]
        expected = dict(con.execute(f"SELECT k, v FROM ref WHERE k IN ({', '.join(map(str, keys))})").fetchall())
        build, execute, hits, found = [], [], 0, 0
        for i, k in enumerate(keys):
            with tracer.span("interactive.lookup"):
                t = time.perf_counter()
                with tracer.span("interactive.build"):
                    df = interactive.state_get_point(spark, ckpt, {"key": k})
                t1 = time.perf_counter()
                with tracer.span("interactive.exec"):
                    rows = df.collect()
                t2 = time.perf_counter()
            if i > 0:  # the first lookup warms the read path and is not timed
                build.append(t1 - t)
                execute.append(t2 - t1)
            want = [expected[k]] if k in expected else []
            res.count(1, int([r["count"] for r in rows] != want))
            if tracer.enabled and rows:
                found += 1
                hits += interactive.latest_partition_snapshot(
                    ckpt, int(rows[0]["partition_id"])) is not None
        lat = (np.asarray(build) + np.asarray(execute)) * 1e3
        p50, tail, q_tail = stats.median_and_tail(lat)
        res.e2e.update({"latency_p50_ms": p50, "latency_tail_ms": tail})
        res.notes.update({"latency_tail_pct": q_tail, "latency_samples": int(lat.size)})
        res.layers.update({
            "interactive.lookups": float(lat.size),
            "interactive.build_ms": stats.pct(np.asarray(build) * 1e3, 50),
            "interactive.exec_ms": stats.pct(np.asarray(execute) * 1e3, 50),
            "interactive.snapshot_hit_ratio": hits / found if found else 0.0,
            "interactive.build_jobs": float(tracer.job_count("interactive.build")) if tracer.enabled else 0.0,
        })
        con.register("state", interactive.state_store(spark, ckpt).select("key", "count").toArrow())
        res.count(*stats.compare_relations(con, "SELECT k, v FROM ref",
                                           'SELECT key AS k, "count" AS v FROM state', ["k"]))
        con.close()
        shutil.rmtree(base, ignore_errors=True)
        return res


def _parquet_files(d: str) -> list[str]:
    return sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet"))


# -- the Python boundary (traced runs only) ------------------------------------

AVRO_SCHEMA = ('{"type": "record", "name": "Event", "fields": ['
               '{"name": "key", "type": "string"}, {"name": "amount", "type": "long"}]}')
SUBJECT = "events-value"


class PythonBoundary:
    """A small backlog of schema-registry-framed Avro events drained with
    availableNow through ``from_avro_wire_df`` -> ``running_count_processor``
    (applyInPandasWithState): the JVM<->Python Arrow transfer, the Python
    Avro codec and per-key Python calls. Measured in the traced run of
    ``live_window`` only; it reports per-layer figures, no end-to-end ones."""

    name = "python_boundary"
    N_EVENTS = 20_000
    N_FILES = 2
    N_KEYS = 1_000

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.spec = gen.BacklogSpec(n_events=self.N_EVENTS, n_files=self.N_FILES,
                                    n_keys=self.N_KEYS, zipf_s=1.0)

    def generate(self, spark) -> None:
        keys = gen.backlog_keys(self.seed, self.name, self.spec)
        self.raw = _fresh(os.path.join(self.work, "raw"))
        gen.write_backlog(keys, self.raw, self.spec.n_files, as_string=True)
        self.wire = os.path.join(self.work, "wire")
        shutil.rmtree(self.wire, ignore_errors=True)
        self.registry = InMemorySchemaRegistry()
        events = spark.read.parquet(self.raw).selectExpr("key", "seq AS amount")
        encoded = to_avro_wire_df(events, AVRO_SCHEMA, SUBJECT, self.registry)
        encoded.repartition(self.spec.n_files).write.parquet(self.wire)

    def run(self, spark, tracer) -> Result:
        with tracer.span("processor.encode"):
            self.generate(spark)
        res = Result()
        ckpt = os.path.join(self.work, "ckpt")
        with tracer.span("processor.build"):
            src = (spark.readStream.schema("value binary").option("maxFilesPerTrigger", 1)
                   .parquet(self.wire))
            out = running_count_processor(from_avro_wire_df(src, SUBJECT, self.registry))
        table = f"proc_{os.getpid()}"
        with tracer.span("processor.drain"):
            t = time.perf_counter()
            q = (out.writeStream.format("memory").queryName(table).outputMode("update")
                 .option("checkpointLocation", ckpt).trigger(availableNow=True).start())
            q.awaitTermination()
            wall = time.perf_counter() - t
        if q.exception() is not None:
            raise RuntimeError(f"drain failed: {q.exception()}")
        progress = progress_dicts(q)
        tracer.add_progress(progress)
        data = [p for p in progress if p.get("numInputRows", 0) > 0]
        with tracer.span("sources.decode"):
            t = time.perf_counter()
            (from_avro_wire_df(spark.read.parquet(self.wire), SUBJECT, self.registry)
             .write.format("noop").mode("overwrite").save())
            decode_s = time.perf_counter() - t
        res.layers.update({
            "processor.throughput_eps": self.spec.n_events / wall,
            "processor.add_batch_ms": stats.pct([p["durationMs"].get("addBatch", 0) for p in data], 50),
            "processor.keys_per_batch": stats.pct(
                [p.get("sink", {}).get("numOutputRows", 0) for p in data], 50),
            "sources.decode_s": decode_s,
        })
        _check_batches(res, progress, q)
        con = duckdb.connect()
        con.register("got_rows", spark.table(table).toArrow())
        spark.catalog.dropTempView(table)
        res.count(*stats.compare_relations(
            con, f"SELECT key AS k, count(*) AS v FROM '{self.raw}/*.parquet' GROUP BY k",
            "SELECT key AS k, max(value) AS v FROM got_rows GROUP BY k", ["k"]))
        con.close()
        return res


WORKLOADS = {w.name: w for w in (LiveWindow, CatchupState)}
