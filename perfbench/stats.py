"""Pure helpers: percentiles, event-to-batch assignment, progress summaries
and result comparison. Nothing here needs Spark, so it is unit-tested on
synthetic logs (test_perfbench.py)."""

from __future__ import annotations

import json
import math
import os
import re

import numpy as np

MAX_TAIL_PCT = 99


def tail_percentile(n: int) -> int:
    """The highest whole percentile with at least ten samples beyond it,
    capped at p99; 50 when even the median has fewer than ten beyond."""
    if n <= 0:
        return 50
    return max(50, min(MAX_TAIL_PCT, math.floor(100 * (1 - 10 / n))))


def pct(values, q: float) -> float:
    v = np.asarray(values, dtype=np.float64)
    return float(np.percentile(v, q)) if v.size else 0.0


def median_and_tail(values) -> tuple[float, float, int]:
    """(p50, tail value, tail percentile) by the rule in tail_percentile."""
    n = len(values)
    q = tail_percentile(n)
    return pct(values, 50), pct(values, q), q


# -- micro-batch bookkeeping ------------------------------------------------

_BATCH_FILE = re.compile(r"^(\d+)(\.compact)?$")


def source_log(source_dir: str) -> dict[str, int]:
    """File name -> source log batch, from a file stream source's metadata
    log (``<checkpoint>/sources/0``). Compacted files (``N.compact``) repeat
    the entries of earlier batches; every entry carries its own ``batchId``.
    Source log batches are not query batches: see ``query_batches``."""
    out: dict[str, int] = {}
    for name in os.listdir(source_dir):
        if not _BATCH_FILE.match(name):
            continue
        with open(os.path.join(source_dir, name)) as fh:
            lines = fh.read().splitlines()
        for line in lines[1:]:  # first line is the log version ("v1")
            if line.strip():
                entry = json.loads(line)
                out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def offset_log(offsets_dir: str) -> dict[int, int]:
    """Query batch id -> the file source's end ``logOffset``, from the
    query's offset log (``<checkpoint>/offsets``: a version line, the batch
    metadata, then one offset per source)."""
    out: dict[int, int] = {}
    for name in os.listdir(offsets_dir):
        if name.isdigit():
            with open(os.path.join(offsets_dir, name)) as fh:
                lines = fh.read().splitlines()
            if len(lines) >= 3 and lines[2].strip():
                out[int(name)] = int(json.loads(lines[2])["logOffset"])
    return out


def query_batches(by_source_batch: dict[str, int], offsets: dict[int, int]) -> dict[str, int]:
    """File name -> the query batch that read it: the first query batch
    whose end offset reaches the file's source log batch. The two numberings
    drift apart whenever the query runs a batch without new files (e.g. one
    that only advances the watermark)."""
    ends = sorted((off, b) for b, off in offsets.items())
    out: dict[str, int] = {}
    for name, s in by_source_batch.items():
        for off, b in ends:
            if off >= s:
                out[name] = b
                break
    return out


def checkpoint_batches(ckpt: str) -> dict[str, int]:
    """File name -> query batch, for the file source of a checkpoint."""
    src, offs = os.path.join(ckpt, "sources", "0"), os.path.join(ckpt, "offsets")
    if not (os.path.isdir(src) and os.path.isdir(offs)):
        return {}
    return query_batches(source_log(src), offset_log(offs))


def commit_times(commit_dir: str) -> dict[int, float]:
    """Batch id -> wall time (s) its commit-log entry was written."""
    out: dict[int, float] = {}
    for name in os.listdir(commit_dir):
        if name.isdigit():
            out[int(name)] = os.stat(os.path.join(commit_dir, name)).st_mtime_ns / 1e9
    return out


def event_latencies(files: dict[str, np.ndarray], batch_of: dict[str, int],
                    committed: dict[int, float]) -> tuple[np.ndarray, int]:
    """Per event: commit time of the batch that read its file minus the
    event's due time (s). ``files`` maps file name -> due times. Returns the
    latencies of committed events and the count of events never committed."""
    lat, missing = [], 0
    for name, due in files.items():
        b = batch_of.get(name)
        if b is None or b not in committed:
            missing += len(due)
            continue
        lat.append(committed[b] - due)
    return (np.concatenate(lat) if lat else np.zeros(0)), missing


def batch_worst_latencies(files: dict[str, np.ndarray], batch_of: dict[str, int],
                          committed: dict[int, float]) -> list[float]:
    """Per committed batch: the latency (s) of its earliest-due event, the
    slowest one it emitted. Events of one batch share a commit time, so a
    run of N batches holds N independent latency samples, not one per
    event; the median of these is a tail that one slow batch cannot move."""
    worst: dict[int, float] = {}
    for name, due in files.items():
        b = batch_of.get(name)
        if b in committed and len(due):
            worst[b] = max(worst.get(b, 0.0), committed[b] - float(np.min(due)))
    return [worst[b] for b in sorted(worst)]


def batch_event_counts(files: dict[str, np.ndarray], batch_of: dict[str, int]) -> dict[int, int]:
    counts: dict[int, int] = {}
    for name, due in files.items():
        b = batch_of.get(name)
        if b is not None:
            counts[b] = counts.get(b, 0) + len(due)
    return counts


def lag_samples(files: dict[str, np.ndarray], batch_of: dict[str, int],
                committed: dict[int, float]) -> list[int]:
    """At each batch commit: events already due but not yet committed."""
    all_due = np.sort(np.concatenate(list(files.values()))) if files else np.zeros(0)
    per_batch = batch_event_counts(files, batch_of)
    done, out = 0, []
    for b in sorted(committed):
        done += per_batch.get(b, 0)
        due_by = int(np.searchsorted(all_due, committed[b], side="right"))
        out.append(max(0, due_by - done))
    return out


def steady_rate(per_batch: dict[int, int], committed: dict[int, float],
                t0: float, t1: float) -> float:
    """Events committed per second between ``t0`` and ``t1``: the
    least-squares slope of cumulative committed events over commit time,
    using the commits in that interval (fitting every commit, rather than
    differencing the first and last, damps the batch-size steps)."""
    ids = sorted(committed)
    cum = np.cumsum([per_batch.get(b, 0) for b in ids])
    pts = [(committed[b], c) for b, c in zip(ids, cum) if t0 <= committed[b] <= t1]
    if len(pts) < 2:
        return 0.0
    x, y = np.asarray(pts, dtype=np.float64).T
    return float(np.polyfit(x - x[0], y, 1)[0])


# -- progress summaries -------------------------------------------------------

PHASES = {  # durationMs key -> per-layer metric name
    "latestOffset": "sources.latest_offset_ms",
    "getBatch": "sources.get_batch_ms",
    "queryPlanning": "streaming.planning_ms",
    "addBatch": "streaming.add_batch_ms",
    "walCommit": "streaming.wal_commit_ms",
    "commitOffsets": "streaming.commit_offsets_ms",
}


def progress_summary(progress: list[dict]) -> dict[str, float]:
    """Per-layer figures from StreamingQueryProgress JSON dicts. Durations
    are medians over batches that read input; state counters are totals
    (rows updated, rows dropped) or the last batch's value (size, cache)."""
    data = [p for p in progress if p.get("numInputRows", 0) > 0]
    out: dict[str, float] = {"streaming.batches": float(len(data))}
    trig = [p["durationMs"].get("triggerExecution", 0) for p in data]
    p50, tail, _ = median_and_tail(trig)
    out["streaming.batch_ms_p50"] = p50
    out["streaming.batch_ms_tail"] = tail
    for key, name in PHASES.items():
        out[name] = pct([p["durationMs"].get(key, 0) for p in data], 50)

    def ops(p):
        return p.get("stateOperators") or []

    out["streaming.state_commit_ms"] = pct(
        [sum(o.get("commitTimeMs", 0) for o in ops(p)) for p in data], 50)
    out["streaming.state_update_ms"] = pct(
        [sum(o.get("allUpdatesTimeMs", 0) for o in ops(p)) for p in data], 50)
    out["streaming.state_rows_updated"] = float(
        sum(o.get("numRowsUpdated", 0) for p in progress for o in ops(p)))
    out["streaming.rows_dropped_late"] = float(
        sum(o.get("numRowsDroppedByWatermark", 0) for p in progress for o in ops(p)))
    last = ops(progress[-1]) if progress else []
    out["streaming.state_rows_total"] = float(sum(o.get("numRowsTotal", 0) for o in last))
    out["streaming.state_memory_bytes"] = float(
        max((sum(o.get("memoryUsedBytes", 0) for o in ops(p)) for p in progress), default=0))
    hits = sum(o.get("customMetrics", {}).get("loadedMapCacheHitCount", 0) for o in last)
    miss = sum(o.get("customMetrics", {}).get("loadedMapCacheMissCount", 0) for o in last)
    out["streaming.state_cache_hit_ratio"] = hits / (hits + miss) if hits + miss else 0.0
    return out


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(root, n))
            except OSError:
                pass
    return total


# -- result comparison ---------------------------------------------------------

def compare_relations(con, expected: str, got: str, keys: list[str]) -> tuple[int, int, list]:
    """(attempted, failed, sample) for two relations (SQL text) with the
    ``keys`` columns and one value column ``v``. Every key of either side
    is an operation; it fails when missing, extra or carrying a different
    value. The sample lists up to five failures as (keys..., want, got)."""
    on = ", ".join(keys)
    joined = (f"SELECT {on}, e.v AS want, g.v AS got "
              f"FROM ({expected}) e FULL OUTER JOIN ({got}) g USING ({on})")
    total, bad = con.execute(
        f"SELECT count(*), count(*) FILTER (WHERE want IS DISTINCT FROM got) FROM ({joined})").fetchone()
    sample = con.execute(
        f"SELECT * FROM ({joined}) WHERE want IS DISTINCT FROM got ORDER BY ALL LIMIT 5").fetchall()
    return int(total), int(bad), [tuple(map(str, r)) for r in sample]
