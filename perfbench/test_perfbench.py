"""Tests of the benchmark itself (no Spark session needed).

Run from the repository root: python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402


# -- the generator is deterministic for a seed ---------------------------------------

def _live(seed: int) -> gen.LiveInput:
    return gen.live_input(seed, gen.LiveSpec(rate=2000, seconds=1.0))


def test_live_generator_is_deterministic_per_seed():
    a, b, c = _live(5), _live(5), _live(6)
    for x, y in ((a, b),):
        assert np.array_equal(x.regions, y.regions)
        assert np.array_equal(x.warm_keys, y.warm_keys)
        for field in ("due_off", "keys", "ts_us", "late"):
            assert all(np.array_equal(p, q) for p, q in zip(getattr(x, field), getattr(y, field)))
    assert not all(np.array_equal(p, q) for p, q in zip(a.keys, c.keys))


def test_backlog_generator_is_deterministic_per_seed(tmp_path):
    spec = gen.BacklogSpec(n_events=5000, n_files=3, n_keys=1000, zipf_s=0.9)
    k1 = gen.backlog_keys(9, "catchup_state", spec)
    assert np.array_equal(k1, gen.backlog_keys(9, "catchup_state", spec))
    assert not np.array_equal(k1, gen.backlog_keys(10, "catchup_state", spec))
    assert not np.array_equal(k1, gen.backlog_keys(9, "python_boundary", spec))
    for d in ("a", "b"):
        os.makedirs(tmp_path / d)
        gen.write_backlog(k1, str(tmp_path / d), spec.n_files)
    for name in os.listdir(tmp_path / "a"):
        assert pd.read_parquet(tmp_path / "a" / name).equals(pd.read_parquet(tmp_path / "b" / name))


def test_late_events_each_own_a_window_far_behind_the_watermark():
    inp = _live(3)
    spec = inp.spec
    late_ts = np.concatenate([ts[lt] for ts, lt in zip(inp.ts_us, inp.late)])
    assert inp.n_late == len(late_ts) > 0
    windows = late_ts // (spec.window_s * 1_000_000)
    assert len(np.unique(windows)) == len(late_ts)
    on_time = np.concatenate([ts[~lt] for ts, lt in zip(inp.ts_us, inp.late)])
    assert late_ts.max() < on_time.min() - spec.late_by_s * 1_000_000 // 2


# -- events are assigned to micro-batches correctly ----------------------------------

def _synthetic_checkpoint(root, source_batches: dict[int, list[str]],
                          query_offsets: dict[int, int], commit_s: dict[int, float]) -> str:
    """A checkpoint as the engine writes it: the file source's log (source
    batch 2 is a compacted file repeating batches 0 and 1), the query's
    offset log and its commit log."""
    src, offs, com = root / "sources" / "0", root / "offsets", root / "commits"
    for d in (src, offs, com):
        os.makedirs(d)

    def entries(b):
        return [json.dumps({"path": f"file:///x/stream/{n}", "timestamp": 0, "batchId": b})
                for n in source_batches[b]]

    for b in source_batches:
        lines = entries(0) + entries(1) + entries(2) if b == 2 else entries(b)
        (src / ("2.compact" if b == 2 else str(b))).write_text("v1\n" + "\n".join(lines) + "\n")
    for b, off in query_offsets.items():
        (offs / str(b)).write_text('v1\n{"batchWatermarkMs":0}\n' + json.dumps({"logOffset": off}) + "\n")
    for b, t in commit_s.items():
        p = com / str(b)
        p.write_text("v1\n{}\n")
        os.utime(p, ns=(int(t * 1e9), int(t * 1e9)))
    return str(root)


def test_events_are_assigned_to_the_batch_that_read_their_file(tmp_path):
    source_batches = {0: ["f0.parquet"], 1: ["f1.parquet", "f2.parquet"], 2: ["f3.parquet"],
                      3: ["f4.parquet"]}
    # query batch 2 reads no file (it only advances the watermark), so from
    # there on query and source batch numbers differ; batch 4 never commits
    query_offsets = {0: 0, 1: 1, 2: 1, 3: 2, 4: 3}
    commit_s = {0: 100.5, 1: 101.25, 2: 101.5, 3: 102.0}
    ckpt = _synthetic_checkpoint(tmp_path, source_batches, query_offsets, commit_s)
    assert stats.source_log(os.path.join(ckpt, "sources", "0"))["f3.parquet"] == 2
    batch_of = stats.checkpoint_batches(ckpt)
    assert batch_of == {"f0.parquet": 0, "f1.parquet": 1, "f2.parquet": 1,
                        "f3.parquet": 3, "f4.parquet": 4}
    committed = stats.commit_times(os.path.join(ckpt, "commits"))
    assert committed == pytest.approx(commit_s)
    due = {"f0.parquet": np.array([100.0, 100.25]), "f1.parquet": np.array([100.5]),
           "f2.parquet": np.array([101.0]), "f3.parquet": np.array([101.5, 101.75]),
           "f4.parquet": np.array([102.5])}
    lat, missing = stats.event_latencies(due, batch_of, committed)
    assert missing == 1
    assert sorted(lat) == pytest.approx(sorted([0.5, 0.25, 0.75, 0.25, 0.5, 0.25]))
    assert stats.batch_event_counts(due, batch_of) == {0: 2, 1: 2, 3: 2, 4: 1}
    # due by each commit: 3 / 4 / 5 / 6 events; committed through: 2 / 4 / 4 / 6
    assert stats.lag_samples(due, batch_of, committed) == [1, 0, 1, 0]
    # slope of cumulative committed events (2, 4, 4, 6) over commit times
    rate = stats.steady_rate(stats.batch_event_counts(due, batch_of), committed, 100.0, 103.0)
    assert rate == pytest.approx(3.0 / 1.171875)
    assert stats.steady_rate({}, committed, 101.6, 101.9) == 0.0
    # each committed batch's slowest event: the earliest due of its files
    assert stats.batch_worst_latencies(due, batch_of, committed) == pytest.approx([0.5, 0.75, 0.5])


def test_live_schedule_puts_the_warm_up_ticks_first():
    spec = gen.LiveSpec(rate=2000, seconds=1.0, warm_s=0.5)
    assert (spec.ticks, spec.warm_ticks) == (15, 5)
    inp = gen.live_input(7, spec)
    assert len(inp.keys) == spec.ticks and inp.n_events == 15 * spec.per_tick
    assert gen.LiveSpec(rate=2000, seconds=1.0).warm_ticks == 0


# -- the percentile rule ----------------------------------------------------------

@pytest.mark.parametrize("n,q", [(5000, 99), (1000, 99), (999, 98), (100, 90),
                                 (40, 75), (25, 60), (20, 50), (12, 50), (0, 50)])
def test_tail_percentile_leaves_ten_samples_beyond(n, q):
    assert stats.tail_percentile(n) == q


@pytest.mark.parametrize("n", [21, 40, 100, 150, 1000, 4000])
def test_reported_tail_has_at_least_ten_samples_beyond(n):
    values = np.random.default_rng(n).permutation(np.arange(n, dtype=float))
    _p50, tail, q = stats.median_and_tail(values)
    assert (values > tail).sum() >= 10
    if q < stats.MAX_TAIL_PCT:  # the next percentile up would leave fewer than ten
        assert n * (1 - (q + 1) / 100) < 10


# -- an injected wrong result raises failed_ratio --------------------------------

def test_compare_relations_counts_missing_extra_and_wrong():
    import duckdb

    con = duckdb.connect()
    exp = "SELECT * FROM (VALUES (1, 3), (2, 5), (3, 7)) t(k, v)"

    def cmp(rows):
        return stats.compare_relations(con, exp, f"SELECT * FROM (VALUES {rows}) t(k, v)", ["k"])

    assert cmp("(1, 3), (2, 5), (3, 7)") == (3, 0, [])
    assert cmp("(1, 3), (2, 6), (3, 7)") == (3, 1, [("2", "5", "6")])
    assert cmp("(1, 3), (2, 5)")[:2] == (3, 1)
    assert cmp("(1, 3), (2, 5), (3, 7), (4, 1)")[:2] == (4, 1)


def test_injected_wrong_window_count_raises_failed_ratio(tmp_path):
    import workloads

    wl = workloads.LiveWindow(seed=4, seconds=0.5, work=str(tmp_path))
    wl.generate(spark=None)
    stream = tmp_path / "stream"
    os.makedirs(stream)
    frames = []
    for i in range(wl.spec.ticks):
        tbl = gen.live_table(wl.inp.keys[i], wl.inp.ts_us[i], wl.inp.due_off[i])
        pq.write_table(tbl, str(stream / f"tick-{i}.parquet"))
        frames.append(tbl.to_pandas().assign(late=wl.inp.late[i]))
    ev = pd.concat(frames)
    on_time = ev[~ev["late"]].copy()
    on_time["key"] = wl.inp.regions[on_time["user"].to_numpy()]
    ts_us = on_time["ts"].astype("datetime64[us, UTC]").astype("int64")
    w_us = wl.spec.window_s * 1_000_000
    on_time["window_start"] = pd.to_datetime((ts_us // w_us) * w_us, unit="us")
    got = on_time.groupby(["key", "window_start"]).size().rename("value").reset_index()

    def check(frame, dropped):
        res = workloads.Result(layers={"streaming.rows_dropped_late": float(dropped)})
        wl._check(res, frame, str(stream))
        return res

    ok = check(got, int(ev["late"].sum()))
    assert ok.failed == 0 and ok.attempted == len(got) + 1
    wrong = got.copy()
    wrong.loc[0, "value"] += 1
    assert check(wrong, int(ev["late"].sum())).failed == 1
    assert check(got, int(ev["late"].sum()) - 1).failed == 1


# -- spans ---------------------------------------------------------------------------

def test_self_time_subtracts_child_coverage():
    s = [spans.Span("streaming.drain", 0.0, 10.0, None, "r"),
         spans.Span("streaming.batch", 1.0, 4.0, 0, "r"),
         spans.Span("sources.get_batch", 1.0, 2.0, 1, "r"),
         spans.Span("streaming.add_batch", 2.0, 4.0, 1, "r"),
         spans.Span("streaming.batch", 3.0, 6.0, 0, "r")]
    st = spans.self_times(s)
    assert st["streaming"] == pytest.approx((10 - 5) + 0 + 2 + 3)
    assert st["sources"] == pytest.approx(1.0)


def test_progress_spans_lay_phases_inside_the_batch():
    tr = spans.Tracer(run_id="t")
    tr.add_progress([{"timestamp": "2024-01-01T00:00:00.000Z", "batchId": 0, "numInputRows": 5,
                      "durationMs": {"triggerExecution": 100, "latestOffset": 10, "walCommit": 5,
                                     "getBatch": 5, "queryPlanning": 20, "addBatch": 55,
                                     "commitOffsets": 5}}])
    batch, *phases = tr.spans
    assert batch.name == "streaming.batch" and batch.end - batch.start == pytest.approx(0.1)
    assert [p.name for p in phases] == ["sources.latest_offset", "streaming.wal_commit",
                                        "sources.get_batch", "streaming.planning",
                                        "streaming.add_batch", "streaming.commit_offsets"]
    assert phases[-1].end == pytest.approx(batch.end, abs=1e-3)
    assert all(p.parent == 0 for p in phases)


# -- BENCHMARK.json matches what the benchmark prints ------------------------------

def test_benchmark_json_lists_the_printed_metrics_and_workloads():
    import run
    import workloads

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.LAYER_UNITS
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
