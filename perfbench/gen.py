"""Seeded input generators for the benchmark workloads.

Pure numpy/pyarrow: nothing here touches Spark, so the same seed gives
byte-identical arrays in any process. Event times are offsets from a fixed
epoch, so windows and watermark drops are the same on every run of a seed;
only the wall-clock ``due`` stamp written by the open-loop generator
depends on when the run started.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Event-time origin (2024-01-01T00:00:00Z, in microseconds).
EPOCH_US = 1_704_067_200_000_000

WORKLOAD_SALT = {"live_window": 1, "catchup_state": 2, "python_boundary": 3}


def rng_for(seed: int, workload: str) -> np.random.Generator:
    return np.random.default_rng([seed, WORKLOAD_SALT[workload]])


class Zipf:
    """Bounded Zipf(s) over ``n_keys`` ranks. Ranks map to key ids through
    one seeded permutation, so hot keys are not the small ids."""

    def __init__(self, rng: np.random.Generator, n_keys: int, s: float):
        weights = np.arange(1, n_keys + 1, dtype=np.float64) ** -s
        self.cdf = np.cumsum(weights) / weights.sum()
        self.ids = rng.permutation(n_keys).astype(np.int64)
        self.rng = rng

    def draw(self, n: int) -> np.ndarray:
        ranks = np.searchsorted(self.cdf, self.rng.random(n), side="right")
        return self.ids[np.minimum(ranks, len(self.ids) - 1)]


@dataclass(frozen=True)
class LiveSpec:
    """Open-loop stream: ``rate`` events/s in ``tick_s`` files, first for
    ``warm_s`` s of warm-up (checked, not timed), then for ``seconds`` s."""

    rate: int
    seconds: float
    warm_s: float = 0.0
    tick_s: float = 0.1
    n_keys: int = 100_000
    zipf_s: float = 1.0
    n_regions: int = 512
    ooo_share: float = 0.03
    late_share: float = 0.005
    watermark_s: int = 4
    window_s: int = 2
    late_by_s: int = 3600

    @property
    def ticks(self) -> int:
        return int(round((self.warm_s + self.seconds) / self.tick_s))

    @property
    def warm_ticks(self) -> int:
        return int(round(self.warm_s / self.tick_s))

    @property
    def per_tick(self) -> int:
        return int(round(self.rate * self.tick_s))


@dataclass
class LiveInput:
    """Per tick: sorted due offsets (s from the schedule start), keys and
    event times. ``late`` flags the events generated far past the
    watermark (kept for the reference only; the stream files carry no
    flag)."""

    spec: LiveSpec
    due_off: list[np.ndarray]
    keys: list[np.ndarray]
    ts_us: list[np.ndarray]
    late: list[np.ndarray]
    regions: np.ndarray  # region of each user key (the dimension table)
    warm_keys: np.ndarray
    warm_ts_us: np.ndarray

    @property
    def n_events(self) -> int:
        return sum(len(k) for k in self.keys)

    @property
    def n_late(self) -> int:
        return int(sum(int(x.sum()) for x in self.late))


def live_input(seed: int, spec: LiveSpec) -> LiveInput:
    rng = rng_for(seed, "live_window")
    regions = rng.integers(0, spec.n_regions, spec.n_keys, dtype=np.int64)
    zipf = Zipf(rng, spec.n_keys, spec.zipf_s)
    due_off, keys, ts_us, late = [], [], [], []
    m = spec.per_tick
    n_late = 0
    for t in range(spec.ticks):
        off = np.sort(rng.random(m)) * spec.tick_s + t * spec.tick_s
        k = zipf.draw(m)
        ts = EPOCH_US + np.round(off * 1e6).astype(np.int64)
        u = rng.random(m)
        ooo = u < spec.ooo_share
        lt = u > 1.0 - spec.late_share
        ts[ooo] -= (rng.random(int(ooo.sum())) * spec.watermark_s / 2 * 1e6).astype(np.int64)
        # Each too-late event gets a window of its own, far behind the
        # watermark: no two share an aggregation group, so the engine's
        # dropped-row count equals the number of too-late events.
        j = n_late + np.arange(int(lt.sum()))
        ts[lt] = EPOCH_US - (spec.late_by_s + j * spec.window_s) * 1_000_000
        n_late += len(j)
        due_off.append(off)
        keys.append(k)
        ts_us.append(ts)
        late.append(lt)
    # One warm-up file (event time just before the schedule) brings the
    # query to its steady state and sets the watermark, so every too-late
    # event of the schedule is dropped deterministically.
    warm_keys = zipf.draw(m)
    warm_ts_us = EPOCH_US - np.round(np.sort(rng.random(m)) * spec.tick_s * 1e6).astype(np.int64)
    return LiveInput(spec, due_off, keys, ts_us, late, regions, warm_keys, warm_ts_us)


def live_table(keys: np.ndarray, ts_us: np.ndarray, due_s: np.ndarray) -> pa.Table:
    return pa.table({
        "user": pa.array(keys, pa.int64()),
        "ts": pa.array(ts_us, pa.timestamp("us", tz="UTC")),
        "due": pa.array(due_s, pa.float64()),
    })


def dim_table(regions: np.ndarray) -> pa.Table:
    return pa.table({
        "user": pa.array(np.arange(len(regions), dtype=np.int64)),
        "region": pa.array(regions, pa.int64()),
    })


@dataclass(frozen=True)
class BacklogSpec:
    """A pre-generated backlog of ``n_events`` in ``n_files`` equal files."""

    n_events: int
    n_files: int
    n_keys: int
    zipf_s: float


def backlog_keys(seed: int, workload: str, spec: BacklogSpec) -> np.ndarray:
    return Zipf(rng_for(seed, workload), spec.n_keys, spec.zipf_s).draw(spec.n_events)


def write_backlog(keys: np.ndarray, out_dir: str, n_files: int, as_string: bool = False) -> None:
    """Split ``keys`` into ``n_files`` equal parquet files of
    ``(key, seq)``, where ``seq`` is the event's position in the backlog."""
    seq = np.arange(len(keys), dtype=np.int64)
    for i, (k, s) in enumerate(zip(np.array_split(keys, n_files), np.array_split(seq, n_files))):
        key_arr = pa.array([f"k{x}" for x in k]) if as_string else pa.array(k, pa.int64())
        pq.write_table(pa.table({"key": key_arr, "seq": pa.array(s)}),
                       f"{out_dir}/part-{i:05d}.parquet")
