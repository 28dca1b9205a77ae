"""Property-based tests (hypothesis) — randomized invariants the
reference's example-based suite never checks (SURVEY §5: 'no
property-based/randomized testing' in the reference; we add it).

Each property reduces a Spark result to a Python-computed model on the
same random input. Example counts stay small: every example is a real
Spark job.
"""

import datetime

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from kafka_streams_demo_spark import KStream, KTable

SETTINGS = dict(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

keys = st.sampled_from(["a", "b", "c", "d"])
vals = st.one_of(st.none(), st.text(alphabet="xyz", min_size=0, max_size=3))
changelogs = st.lists(st.tuples(keys, vals), min_size=1, max_size=25)


@given(rows=changelogs)
@settings(**SETTINGS)
def test_ktable_latest_matches_python_model(spark, rows):
    """Latest-per-key with tombstone drop == the obvious sequential model,
    for any interleaving of updates and null deletes."""
    df = spark.createDataFrame(
        [(k, v, i) for i, (k, v) in enumerate(rows)],
        "key string, value string, offset long",
    )
    got = {
        r["key"]: r["value"]
        for r in KTable.from_stream(KStream(df)).to_df().select("key", "value").collect()
    }
    model: dict[str, str | None] = {}
    for k, v in rows:
        model[k] = v
    expected = {k: v for k, v in model.items() if v is not None}
    assert got == expected


@given(rows=st.lists(st.tuples(keys, st.text(alphabet="abz", max_size=4)), min_size=1, max_size=25))
@settings(**SETTINGS)
def test_branch_partitions_first_match_wins(spark, rows):
    """branch(p1..pn, default): branches are pairwise disjoint, cover every
    record, and route by FIRST matching predicate."""
    df = spark.createDataFrame(
        [(k, v, i) for i, (k, v) in enumerate(rows)],
        "key string, value string, offset long",
    )
    b = KStream(df).branch(
        lambda k, v: v.startswith("a"),
        lambda k, v: v.startswith("b"),
        lambda k, v: F.lit(True),
    )
    got = [sorted((r["offset"]) for r in s.df.collect()) for s in b]
    def route(v):
        if v.startswith("a"):
            return 0
        if v.startswith("b"):
            return 1
        return 2
    expected = [[], [], []]
    for i, (_, v) in enumerate(rows):
        expected[route(v)].append(i)
    assert got == expected


@given(
    docs=st.lists(
        st.text(alphabet=" qw", min_size=0, max_size=30), min_size=2, max_size=12
    )
)
@settings(**SETTINGS)
def test_minhash_reported_jaccard_is_exact_and_subset_of_groundtruth(spark, docs):
    """Every pair MinHash-LSH reports carries the TRUE Jaccard (verification
    is exact) and appears in the exact all-pairs ground truth; LSH may only
    lose pairs (recall), never invent or mis-score them."""
    from kafka_streams_demo_spark.functions.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    exact = {
        (r["i"], r["j"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, n=2, threshold=0.5).collect()
    }
    lsh = {
        (r["i"], r["j"]): r["jaccard"]
        for r in minhash_lsh_pairs(df, n=2, threshold=0.5).collect()
    }
    for pair, jac in lsh.items():
        assert pair in exact, (pair, exact)
        assert jac == exact[pair]


@given(
    rows=st.lists(
        st.tuples(keys, st.integers(min_value=0, max_value=3599)),
        min_size=1,
        max_size=25,
    )
)
@settings(**SETTINGS)
def test_tumbling_window_counts_partition_the_stream(spark, rows):
    """Σ per-window counts == row count and each (key, window) bucket matches
    the Python model — windows partition event time with no loss/overlap."""
    df = spark.createDataFrame(
        [(k, f"2026-01-01 00:{s // 60:02d}:{s % 60:02d}") for k, s in rows],
        "key string, ts_s string",
    ).select("key", F.col("ts_s").cast("timestamp").alias("timestamp"))
    got = {
        (r["key"], r["window"]["start"].minute // 5): r["count"]
        for r in df.groupBy(F.window("timestamp", "5 minutes"), "key")
        .count()
        .collect()
    }
    model: dict[tuple[str, int], int] = {}
    for k, s in rows:
        bucket = (k, (s // 60) // 5)
        model[bucket] = model.get(bucket, 0) + 1
    assert got == model
    assert sum(got.values()) == len(rows)


asof_ts = st.integers(min_value=0, max_value=20)
asof_keys = st.sampled_from(["k1", "k2"])


@given(
    left=st.lists(st.tuples(asof_keys, asof_ts), min_size=1, max_size=12),
    right=st.lists(st.tuples(asof_keys, asof_ts), min_size=0, max_size=12),
)
@settings(**SETTINGS)
def test_asof_join_matches_bruteforce_model(spark, left, right):
    """asof_join == the obvious per-row scan: for each left row, the right
    row with max ts <= left ts (same key), ties broken by max rid; None
    when absent. Random keys/timestamps including duplicates."""
    from datetime import datetime, timedelta

    from kafka_streams_demo_spark.operators.asof import asof_join

    base = datetime(2024, 1, 1)
    ldf = spark.createDataFrame(
        [(i, k, base + timedelta(seconds=t)) for i, (k, t) in enumerate(left)],
        "lid long, k string, ts timestamp",
    )
    rdf = spark.createDataFrame(
        [(i, k, base + timedelta(seconds=t)) for i, (k, t) in enumerate(right)],
        "rid long, k string, rts timestamp",
    )
    got = {
        r["lid"]: r["rid"]
        for r in asof_join(
            ldf, rdf, left_on="k", right_on="k",
            left_ts="ts", right_ts="rts", tie_break="rid",
        ).collect()
    }
    expected = {}
    for i, (k, t) in enumerate(left):
        cands = [(rt, ri) for ri, (rk, rt) in enumerate(right) if rk == k and rt <= t]
        expected[i] = max(cands)[1] if cands else None
    assert got == expected


@given(
    rows=st.lists(
        st.tuples(keys, st.integers(min_value=0, max_value=600)),
        min_size=1, max_size=20,
    )
)
@settings(**SETTINGS)
def test_tumbling_window_count_matches_python_model(spark, rows):
    """Tumbling 5-min window counts == bucketing ts//300 in Python, for any
    random (key, second-offset) set."""
    from datetime import datetime, timedelta

    from kafka_streams_demo_spark.operators.windows import TimeWindows

    base = datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(k, "v", base + timedelta(seconds=s), i) for i, (k, s) in enumerate(rows)],
        "key string, value string, timestamp timestamp, offset long",
    )
    got = {
        (r["key"], (r["window_start"] - base).total_seconds() // 300): r["value"]
        for r in KStream(df)
        .group_by_key()
        .windowed_by(TimeWindows.of("5 minutes"))
        .count()
        .collect()
    }
    model: dict[tuple, int] = {}
    for k, s in rows:
        model[(k, s // 300)] = model.get((k, s // 300), 0) + 1
    assert got == model


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 7)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=12,
    )
)
@settings(**{**SETTINGS, "max_examples": 3})
def test_connected_components_matches_union_find(spark, edges):
    """Min-label propagation == classic union-find, for arbitrary small
    graphs (cycles, chains, self-merging components, duplicate edges).
    Domain is kept tiny: every propagation round is a real Spark job and
    rounds scale with graph diameter (≤7 here)."""
    from kafka_streams_demo_spark.functions.dedup import connected_components

    pairs = spark.createDataFrame(edges, "i long, j long")
    got = {r["node"]: r["cluster_id"] for r in connected_components(pairs).collect()}

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {n: find(n) for n in parent}
    # canonicalize: representative = min member of each component
    comp: dict[int, list[int]] = {}
    for n, r in expected.items():
        comp.setdefault(find(r), []).append(n)
    expected = {n: min(members) for r, members in comp.items() for n in members}
    assert got == expected


@given(
    docs=st.lists(
        st.lists(st.sampled_from(list("abcdefg")), min_size=0, max_size=20).map(
            lambda toks: " ".join(toks)
        ),
        min_size=1,
        max_size=6,
    )
)
@settings(**SETTINGS)
def test_winnow_fingerprints_match_python_model(spark, docs):
    """HOF winnowing == a straightforward Python reimplementation (k-gram
    md5-prefix hashes, w-window minima, distinct), for random docs
    including empties and below-threshold lengths."""
    import hashlib

    from kafka_streams_demo_spark.functions.text import tokenize, winnow_fingerprints

    K = W = 4

    def model(text):
        toks = text.split(" ")
        kgrams = [
            hashlib.md5("_".join(toks[i : i + K]).encode()).hexdigest()[:16]
            for i in range(len(toks) - K + 1)
        ]
        if len(kgrams) < W:
            return set()
        return {min(kgrams[j : j + W]) for j in range(len(kgrams) - W + 1)}

    df = spark.createDataFrame([(i, d) for i, d in enumerate(docs)], "doc_id long, text string")
    got = df.select(
        "doc_id", winnow_fingerprints(tokenize(F.col("text")), K, W).alias("fps")
    ).collect()
    for r in got:
        assert set(r["fps"]) == model(docs[r["doc_id"]]), docs[r["doc_id"]]


# --- Avro binary codec properties (pure Python — no Spark job per example,
# so these can afford many examples) ------------------------------------

_avro_fields = st.lists(
    st.tuples(
        st.sampled_from(["boolean", "int", "long", "float", "double", "string", "bytes"]),
        st.booleans(),  # nullable?
        st.booleans(),  # null branch first? (["null",T] vs [T,"null"])
    ),
    min_size=1,
    max_size=6,
)


def _avro_value(t, rnd):
    import struct as _struct

    if t == "boolean":
        return rnd.choice([True, False])
    if t == "int":
        return rnd.randrange(-(2**31), 2**31)
    if t == "long":
        return rnd.randrange(-(2**63), 2**63)
    if t in ("float", "double"):
        v = rnd.uniform(-1e6, 1e6)
        # floats must survive the 32-bit round-trip for equality checks
        return _struct.unpack("<f", _struct.pack("<f", v))[0] if t == "float" else v
    if t == "string":
        return "".join(rnd.choice("abcdé ☃") for _ in range(rnd.randrange(0, 8)))
    return bytes(rnd.randrange(256) for _ in range(rnd.randrange(0, 8)))


@given(fields=_avro_fields, seed=st.integers(0, 2**32 - 1))
@settings(max_examples=200, deadline=None)
def test_avro_codec_roundtrips_any_record(fields, seed):
    """encode→decode is the identity for every supported schema shape,
    value domain, union order, and null placement."""
    import json
    import random

    from kafka_streams_demo_spark.sources.avro import (
        decode_record,
        encode_record,
        parse_record_schema,
    )

    rnd = random.Random(seed)
    schema = {
        "type": "record", "name": "r",
        "fields": [
            {"name": f"f{i}",
             "type": (["null", t] if null_first else [t, "null"]) if nullable else t}
            for i, (t, nullable, null_first) in enumerate(fields)
        ],
    }
    spec = parse_record_schema(json.dumps(schema))
    row = {
        f"f{i}": (None if nullable and rnd.random() < 0.3 else _avro_value(t, rnd))
        for i, (t, nullable, _) in enumerate(fields)
    }
    assert decode_record(spec, encode_record(spec, row)) == row


@given(w=st.integers(1, 40), h=st.integers(1, 40), seed=st.integers(0, 2**32 - 1),
       nw=st.integers(1, 40), nh_=st.integers(1, 40))
@settings(max_examples=100, deadline=None)
def test_ppm_codec_roundtrip_and_resize_dims(w, h, seed, nw, nh_):
    """PPM encode→decode is the identity for any dims/pixels; resize always
    yields exactly the target dims with pixels drawn from the source."""
    import numpy as np

    from kafka_streams_demo_spark.functions.codecs import (
        ppm_decode,
        ppm_encode,
        ppm_resize,
    )

    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    enc = ppm_encode(px)
    assert (ppm_decode(enc) == px).all()
    out = ppm_decode(ppm_resize(enc, nw, nh_))
    assert out.shape == (nh_, nw, 3)
    # every output pixel exists somewhere in the source (nearest-neighbor)
    src = {tuple(p) for p in px.reshape(-1, 3)}
    assert all(tuple(p) in src for p in out.reshape(-1, 3))


@given(
    rows1=st.lists(st.tuples(keys, st.integers(0, 100)), min_size=0, max_size=15),
    rows2=st.lists(st.tuples(keys, st.integers(0, 100)), min_size=0, max_size=15),
)
@settings(**SETTINGS)
def test_cogroup_matches_python_model(spark, rows1, rows2):
    """cogroup(count, sum) == the obvious per-key python fold, for any pair
    of same-keyed streams including empty ones and keys on one side only."""
    from kafka_streams_demo_spark.operators.grouped import cogroup

    if not rows1 and not rows2:
        return
    dfs = []
    for rows in (rows1, rows2):
        dfs.append(
            spark.createDataFrame(rows, "key string, value long")
            if rows else
            spark.createDataFrame([], "key string, value long")
        )
    g1, g2 = KStream(dfs[0]).group_by_key(), KStream(dfs[1]).group_by_key()
    out = cogroup([(g1, lambda v: F.count(v)), (g2, lambda v: F.sum(v))])
    got = {r["key"]: r["value"] for r in out.to_df().collect()}
    model: dict[str, int] = {}
    for k, _ in rows1:
        model[k] = model.get(k, 0) + 1          # count part
    for k, v in rows2:
        model[k] = model.get(k, 0) + v          # sum part (coalesced 0)
    assert got == model


@given(
    rows=st.lists(
        st.tuples(keys, st.integers(0, 40)),  # (key, second offset)
        min_size=1, max_size=20,
    ),
    bucketed=st.booleans(),
)
@settings(**SETTINGS)
def test_sliding_full_window_set_matches_bruteforce_model(spark, rows, bucketed):
    """The full KIP-450 window set (round 5) == the O(n²) definitional
    model: for anchors {ts} ∪ {ts+1ms}, every window [a, a+10s] (trailing,
    re-anchored as [end-10s, end]) or [a, a+10s] that CONTAINS a record is
    emitted exactly once with the in-window count — for any random record
    set, plain and bucketed alike."""
    import datetime as dt

    from kafka_streams_demo_spark.operators.windows import SlidingWindows

    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(k, "x", t0 + dt.timedelta(seconds=s)) for k, s in rows],
        "key string, value string, timestamp timestamp",
    )
    win = SlidingWindows.with_size("10 seconds").with_expiry_windows()
    if bucketed:
        win = win.bucketed_by("15 seconds")
    out = KStream(df).group_by_key().windowed_by(win).count().select(
        "key", F.unix_millis("window_start").alias("s"),
        F.unix_millis("window_end").alias("e"), "value",
    )
    got = {(r["key"], r["s"], r["e"]): r["value"] for r in out.collect()}

    ms0 = int(t0.timestamp() * 1000)
    size = 10_000
    by_key: dict[str, list[int]] = {}
    for k, s in rows:
        by_key.setdefault(k, []).append(ms0 + s * 1000)
    model: dict[tuple, int] = {}
    for k, tss in by_key.items():
        ends = {t for t in tss} | {t + 1 + size for t in tss}
        for e in ends:
            n = sum(1 for t in tss if e - size <= t <= e)
            if n > 0:
                model[(k, e - size, e)] = n
    assert got == model


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    h=st.integers(4, 40), w=st.integers(4, 40),
    color=st.booleans(),
    sub=st.sampled_from(["444", "420", "422", "440"]),
    quality=st.sampled_from([35, 70, 90]),
    ri=st.sampled_from([0, 1, 3]),
    seed=st.integers(0, 2**31 - 1),
)
def test_jpeg_progressive_and_restart_match_plain_baseline(
    h, w, color, sub, quality, ri, seed
):
    """Randomized codec invariant: for ANY image, (a) the progressive
    (SOF2, Annex G) stream decodes bit-identically to the baseline
    stream — scans only reorder coefficient bits — and (b) a baseline
    stream with restart markers decodes bit-identically to one without
    — RSTn only byte-aligns and resets predictors."""
    import numpy as np

    from kafka_streams_demo_spark.functions.codecs import (
        jpeg_decode,
        jpeg_encode,
        jpeg_encode_progressive,
    )

    rng = np.random.RandomState(seed)
    px = rng.randint(0, 256, (h, w, 3) if color else (h, w)).astype(np.uint8)
    kw = {"subsampling": sub} if color else {}
    plain = jpeg_decode(jpeg_encode(px, quality=quality, **kw))
    prog = jpeg_decode(jpeg_encode_progressive(px, quality=quality, **kw))
    assert np.array_equal(plain, prog)
    if ri:
        rst = jpeg_decode(
            jpeg_encode(px, quality=quality, restart_interval=ri, **kw)
        )
        assert np.array_equal(plain, rst)
        prog_rst = jpeg_decode(jpeg_encode_progressive(
            px, quality=quality, restart_interval=ri, **kw
        ))
        assert np.array_equal(plain, prog_rst)


@given(
    old_edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)).filter(lambda e: e[0] != e[1]),
        min_size=0, max_size=8,
    ),
    new_edges=st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)).filter(lambda e: e[0] != e[1]),
        min_size=1, max_size=8,
    ),
)
@settings(**{**SETTINGS, "max_examples": 4})
def test_dedup_clusters_incremental_equals_batch(spark, old_edges, new_edges):
    """For ANY random old graph + delta edges (including delta edges
    between old nodes, bridges, and root takeovers), incremental cluster
    maintenance over the persisted assignment equals a full batch run
    over the union."""
    from kafka_streams_demo_spark.functions.dedup import (
        dedup_clusters,
        dedup_clusters_incremental,
    )

    old_nodes = sorted({n for e in old_edges for n in e} | {0, 9})
    new_only = sorted(
        {n for e in new_edges for n in e if n not in old_nodes} | {15}
    )
    old_docs = spark.createDataFrame([(n,) for n in old_nodes], "doc_id long")
    new_docs = spark.createDataFrame([(n,) for n in new_only], "doc_id long")
    mk = lambda es: spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in es] or [(None, None)],
        "i long, j long",
    ).filter(F.col("i").isNotNull())
    assignments = dedup_clusters(old_docs, mk(old_edges)).select(
        "doc_id", "cluster_id"
    )
    got = sorted(
        tuple(r)
        for r in dedup_clusters_incremental(
            new_docs, assignments, mk(new_edges)
        ).collect()
    )
    all_docs = spark.createDataFrame(
        [(n,) for n in old_nodes + new_only], "doc_id long"
    )
    want = sorted(
        tuple(r)
        for r in dedup_clusters(
            all_docs, mk(old_edges + new_edges)
        ).collect()
    )
    assert got == want


@given(
    pairs_per_batch=st.lists(
        st.lists(
            st.tuples(st.integers(0, 11), st.integers(0, 11)).filter(
                lambda e: e[0] != e[1]
            ),
            min_size=0,
            max_size=6,
        ),
        min_size=3,
        max_size=3,
    )
)
@settings(**{**SETTINGS, "max_examples": 3})
def test_dedup_clusters_incremental_converges_over_batch_chains(
    spark, pairs_per_batch
):
    """Multi-round cluster maintenance == one-shot rebuild, for random
    BATCH SEQUENCES (VERDICT r7 task 5): the single-delta case is
    same-oracle proven; this drives chains where batch 2 merges two of
    batch 1's clusters, batch 3 bridges clusters formed in different
    earlier rounds, and — because later batches own SMALLER doc ids —
    a new doc can take over an old cluster's root (the min-label
    invariant must re-elect it). Assignments round-trip through a
    collected table between rounds, exactly like the persisted
    assignment index in production."""
    from kafka_streams_demo_spark.functions.dedup import (
        dedup_clusters,
        dedup_clusters_incremental,
    )

    # batch k owns a DESCENDING id range so new ids undercut old roots
    owned = [list(range(8, 12)), list(range(4, 8)), list(range(0, 4))]
    visible: list[int] = []
    all_pairs: list[tuple[int, int]] = []
    assignments = None
    for k, raw_pairs in enumerate(pairs_per_batch):
        visible = visible + owned[k]
        # clamp pair endpoints into the ids visible so far (keeps the
        # generated pairs meaningful without a dependent strategy)
        pairs = [
            (visible[i % len(visible)], visible[j % len(visible)])
            for i, j in raw_pairs
            if visible[i % len(visible)] != visible[j % len(visible)]
        ]
        all_pairs.extend(pairs)
        new_docs = spark.createDataFrame([(d,) for d in owned[k]], "doc_id long")
        pdf = (
            spark.createDataFrame(pairs, "i long, j long")
            if pairs
            else spark.createDataFrame([], "i long, j long")
        )
        if assignments is None:
            out = dedup_clusters(new_docs, pdf)
        else:
            asg = spark.createDataFrame(assignments, "doc_id long, cluster_id long")
            out = dedup_clusters_incremental(new_docs, asg, pdf)
        assignments = [(r["doc_id"], r["cluster_id"]) for r in out.collect()]

    docs = spark.createDataFrame([(d,) for d in visible], "doc_id long")
    pdf = (
        spark.createDataFrame(all_pairs, "i long, j long")
        if all_pairs
        else spark.createDataFrame([], "i long, j long")
    )
    expected = sorted(
        (r["doc_id"], r["cluster_id"]) for r in dedup_clusters(docs, pdf).collect()
    )
    assert sorted(assignments) == expected


@given(
    sizes=st.lists(
        st.tuples(
            st.sampled_from(["p0", "p1"]),
            st.integers(min_value=0, max_value=500),
        ),
        min_size=1,
        max_size=20,
    ),
    target=st.integers(min_value=1, max_value=400),
)
@settings(**SETTINGS)
def test_compaction_plan_matches_python_model(spark, sizes, target):
    """Random manifests: group_id equals the sequential exclusive-cumsum
    DIV target + dense renumber model, per partition, including
    zero-byte files and oversized files."""
    from kafka_streams_demo_spark.functions.layout import compaction_plan

    rows = [(p, i, b) for i, (p, b) in enumerate(sizes)]
    files = spark.createDataFrame(rows, "part string, file_id int, bytes long")
    got = {
        (r["part"], r["file_id"]): r["group_id"]
        for r in compaction_plan(files, target, ("part",)).collect()
    }
    want = {}
    for part in {p for p, _, _ in rows}:
        fs = sorted((f, b) for p, f, b in rows if p == part)
        cum, dense, seen = 0, {}, 0
        for f, b in fs:
            g = cum // target
            if g not in dense:
                seen += 1
                dense[g] = seen
            want[(part, f)] = dense[g]
            cum += b
    assert got == want


@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=255),
            st.integers(min_value=0, max_value=255),
        ),
        min_size=1,
        max_size=40,
        unique=True,
    )
)
@settings(**SETTINGS)
def test_hilbert_key_matches_reference_at_8_bits(spark, pts):
    """Random 8-bit points (identity bucketing over the pinned [0, 255]
    corner span): the unrolled chain equals the textbook xy2d recurrence
    at the production bit width, not just the exhaustively-tested 4-bit
    grid."""
    from kafka_streams_demo_spark.functions.layout import hilbert_key
    from tests.test_layout import _hilbert_ref

    # pin the bucket range so (v - mn) DIV ((mx - mn) DIV 256 + 1) = v
    pts = sorted(set(pts) | {(0, 0), (255, 255)})
    rows = [(i, x, y) for i, (x, y) in enumerate(pts)]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    got = {
        (r["x"], r["y"]): r["hval"]
        for r in hilbert_key(df, [F.col("x"), F.col("y")], bits=8).collect()
    }
    assert got == {(x, y): _hilbert_ref(256, x, y) for _, x, y in rows}


@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=255),
            st.integers(min_value=0, max_value=255),
            st.integers(min_value=0, max_value=255),
        ),
        min_size=1,
        max_size=30,
        unique=True,
    )
)
@settings(**SETTINGS)
def test_hilbert_nd_matches_skilling_at_8_bits(spark, pts):
    """Random 8-bit 3-D points (identity bucketing over the pinned
    [0, 255] corner span): the chained Skilling unroll equals the
    pure-Python transpose at the PRODUCTION bit width, not just the
    exhaustively-tested 2/3-bit grids."""
    from kafka_streams_demo_spark.functions.layout import hilbert_key_nd
    from tests.test_layout import _skilling_ref

    pts = sorted(set(pts) | {(0, 0, 0), (255, 255, 255)})
    rows = [(i, x, y, z) for i, (x, y, z) in enumerate(pts)]
    df = spark.createDataFrame(rows, "id long, x long, y long, z long")
    got = {
        (r["x"], r["y"], r["z"]): r["hval"]
        for r in hilbert_key_nd(
            df, [F.col("x"), F.col("y"), F.col("z")], bits=8
        ).collect()
    }
    assert got == {p: _skilling_ref(list(p), 8) for p in pts}


# ---- VERDICT r9 task 5: incremental dedup under pathological skew -------
#
# The hot-key guards (ngram max_doc_freq, minhash max_bucket_size) censor
# by a census over the CURRENT corpus, so the compositional invariant is
# per-chain-state: at every round, the incremental result over the
# persisted index equals the full batch rebuild at that state restricted
# to delta-touching pairs. Full-chain accumulation == final rebuild
# additionally requires the censored keys to be censored at EVERY state
# (a key CROSSING the cap mid-chain retroactively removes its earlier
# pairs from a rebuild — documented contract: capped-out work belongs to
# exact dedup). The hypothesis properties drive the per-state equality
# on skew-heavy random chains; the deterministic cases pin full-chain
# equality with an always-capped hot key AND that the guard is actually
# censoring (guard-off is a strict superset).


def _restrict_pairs(rows, delta_ids):
    return sorted(
        (r["i"], r["j"], r["jaccard"])
        for r in rows
        if r["i"] in delta_ids or r["j"] in delta_ids
    )


@given(
    batches=st.lists(
        st.lists(
            st.tuples(
                st.booleans(),
                st.lists(
                    st.sampled_from(["qq", "ww", "zz"]), min_size=2, max_size=4
                ),
            ),
            min_size=2,
            max_size=4,
        ),
        min_size=2,
        max_size=3,
    )
)
@settings(**{**SETTINGS, "max_examples": 3})
def test_ngram_jaccard_incremental_equals_batch_under_hot_shingle_skew(
    spark, batches
):
    """Hot-shingle skew (VERDICT r9 task 5): a boilerplate shingle sits
    in >=50% of docs (three deterministic hot docs lead batch 1, plus
    every even generated doc), max_doc_freq=2 keeps it censored from
    round 1 — at every chain state the incremental probe over the
    growing corpus must equal the batch rebuild at that state
    restricted to delta-touching pairs, bit-for-bit."""
    from kafka_streams_demo_spark.functions.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_incremental,
        release_caches,
    )

    HOT = "hh hh hh"
    docs: list[tuple[int, str]] = []
    chain: list[list[tuple[int, str]]] = []
    nid = 0
    for bi, b in enumerate(batches):
        rows = []
        if bi == 0:  # the hot shingle is over-cap from the FIRST census
            for _ in range(3):
                rows.append((nid, HOT + " qq ww"))
                nid += 1
        for di, (flag, toks) in enumerate(b):
            body = " ".join(toks)
            rows.append((nid, f"{HOT} {body}" if flag or di % 2 == 0 else body))
            nid += 1
        chain.append(rows)
        docs.extend(rows)

    corpus_rows: list[tuple[int, str]] = []
    for k, rows in enumerate(chain):
        corpus_rows = corpus_rows + rows
        corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
        delta = spark.createDataFrame(rows, "doc_id long, text string")
        if k == 0:
            continue  # round 0 has no prior index; batch path covers it
        inc = sorted(
            (r["i"], r["j"], r["jaccard"])
            for r in ngram_jaccard_pairs_incremental(
                delta, corpus, n=2, threshold=0.2, max_doc_freq=2
            ).collect()
        )
        batch = ngram_jaccard_pairs(
            corpus, n=2, threshold=0.2, max_doc_freq=2
        ).collect()
        want = _restrict_pairs(batch, {d for d, _ in rows})
        assert inc == want, (k, inc, want)
    release_caches()


@given(
    batches=st.lists(
        st.lists(st.integers(min_value=0, max_value=2), min_size=2, max_size=4),
        min_size=2,
        max_size=3,
    )
)
@settings(**{**SETTINGS, "max_examples": 3})
def test_minhash_lsh_incremental_equals_batch_under_dup_cluster_skew(
    spark, batches
):
    """Exact-duplicate-cluster skew — the minhash hot-key hazard (a
    cluster of identical docs shares EVERY band bucket): four copies of
    one text lead batch 1 so its buckets are over max_bucket_size=3
    from the first census; generated docs draw from a 3-text pool so
    further duplicate clusters form and may cross the cap mid-chain. At
    every chain state the incremental probe over the persisted band-row
    index must equal the batch rebuild at that state restricted to
    delta-touching pairs."""
    from kafka_streams_demo_spark.functions.dedup import (
        minhash_index,
        minhash_lsh_pairs,
        minhash_lsh_pairs_incremental,
        release_caches,
    )

    POOL = [
        "qq ww zz qq ww",
        "ww zz qq ww qq zz",
        "zz qq zz ww ww qq",
    ]
    chain: list[list[tuple[int, str]]] = []
    nid = 0
    for bi, b in enumerate(batches):
        rows = []
        if bi == 0:  # always-capped duplicate cluster
            for _ in range(4):
                rows.append((nid, POOL[0]))
                nid += 1
        for pi in b:
            rows.append((nid, POOL[pi]))
            nid += 1
        chain.append(rows)

    kw = dict(n=2, threshold=0.3, max_bucket_size=3)
    corpus_rows: list[tuple[int, str]] = []
    index = None
    for k, rows in enumerate(chain):
        corpus_rows = corpus_rows + rows
        corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
        delta = spark.createDataFrame(rows, "doc_id long, text string")
        if index is not None:
            inc = sorted(
                (r["i"], r["j"], r["jaccard"])
                for r in minhash_lsh_pairs_incremental(
                    delta, index, corpus, **kw
                ).collect()
            )
            batch = minhash_lsh_pairs(corpus, **kw).collect()
            want = _restrict_pairs(batch, {d for d, _ in rows})
            assert inc == want, (k, inc, want)
        nxt = minhash_index(delta, n=2)
        index = nxt if index is None else index.unionByName(nxt)
        index = index.localCheckpoint(eager=True)  # bound the chained plan
    release_caches()


def test_incremental_dedup_full_chain_equals_rebuild_with_stable_hot_keys(spark):
    """Full-chain accumulation == one-shot rebuild when the censored
    keys are censored at every state (the always-capped construction),
    for BOTH families — and the guards are really censoring: guard-off
    rebuilds are strict supersets carrying the hot-key-held pairs."""
    from kafka_streams_demo_spark.functions.dedup import (
        minhash_index,
        minhash_lsh_pairs,
        minhash_lsh_pairs_incremental,
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_incremental,
        release_caches,
    )

    HOT = "hh hh hh"
    # 12 docs, hot shingle in 6 (50%), near-dup tails within the cap
    texts = [
        (0, f"{HOT} qq ww zz"), (1, f"{HOT} qq ww xx"), (2, "aa bb cc dd"),
        (3, f"{HOT} rr ss tt"), (4, "aa bb cc ee"), (5, f"{HOT} uu vv"),
        (6, "ff gg hh2 ii"), (7, f"{HOT} uu ww"), (8, "ff gg hh2 jj"),
        (9, "kk ll mm"), (10, f"{HOT} rr ss yy"), (11, "kk ll nn"),
    ]
    chain = [texts[:5], texts[5:9], texts[9:]]

    acc: list[tuple] = []
    corpus_rows: list[tuple[int, str]] = []
    for k, rows in enumerate(chain):
        corpus_rows = corpus_rows + rows
        corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
        delta = spark.createDataFrame(rows, "doc_id long, text string")
        if k == 0:
            got = ngram_jaccard_pairs(corpus, n=2, threshold=0.2, max_doc_freq=2)
        else:
            got = ngram_jaccard_pairs_incremental(
                delta, corpus, n=2, threshold=0.2, max_doc_freq=2
            )
        acc.extend((r["i"], r["j"], r["jaccard"]) for r in got.collect())
    all_docs = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    rebuild = sorted(
        (r["i"], r["j"], r["jaccard"])
        for r in ngram_jaccard_pairs(
            all_docs, n=2, threshold=0.2, max_doc_freq=2
        ).collect()
    )
    assert sorted(acc) == rebuild
    unguarded = {
        (r["i"], r["j"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            all_docs, n=2, threshold=0.2, max_doc_freq=None
        ).collect()
    }
    guarded = {(i, j): jac for i, j, jac in rebuild}
    # the guard is a LOWER BOUND: it may only lose pairs or lower their
    # reported jaccard (hot shingles leave the common count but stay in
    # the set sizes) — and here it really censored something
    assert set(guarded) <= set(unguarded)
    assert all(guarded[p] <= unguarded[p] for p in guarded)
    assert guarded != unguarded

    # minhash: a 4-copy cluster (always capped at max_bucket_size=3) and a
    # 2-copy cluster split across batches (never capped, found round 2)
    T0, T1 = "qq ww zz qq ww", "ww zz qq ww qq zz"
    mh_chain = [
        [(0, T0), (1, T0), (2, T0), (3, T0), (4, T1)],
        [(5, T1), (6, "zz qq zz ww ww qq")],
    ]
    kw = dict(n=2, threshold=0.3, max_bucket_size=3)
    acc2: list[tuple] = []
    corpus_rows = []
    index = None
    for k, rows in enumerate(mh_chain):
        corpus_rows = corpus_rows + rows
        corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
        delta = spark.createDataFrame(rows, "doc_id long, text string")
        if k == 0:
            got = minhash_lsh_pairs(corpus, **kw)
        else:
            got = minhash_lsh_pairs_incremental(delta, index, corpus, **kw)
        acc2.extend((r["i"], r["j"], r["jaccard"]) for r in got.collect())
        nxt = minhash_index(delta, n=2)
        index = nxt if index is None else index.unionByName(nxt)
    all2 = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    rebuild2 = sorted(
        (r["i"], r["j"], r["jaccard"]) for r in minhash_lsh_pairs(all2, **kw).collect()
    )
    assert sorted(acc2) == rebuild2
    assert (4, 5, 1.0) in rebuild2  # the uncapped dup pair WAS found
    uncapped = sorted(
        (r["i"], r["j"], r["jaccard"])
        for r in minhash_lsh_pairs(
            all2, n=2, threshold=0.3, max_bucket_size=10_000
        ).collect()
    )
    assert set(rebuild2) < set(uncapped)  # the cap censored the 4-cluster
    release_caches()


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=0,
        max_size=40,
    ),
    train_pct=st.sampled_from([10, 50, 90]),
)
@settings(**SETTINGS)
def test_leakage_safe_split_never_straddles_any_component(
    spark, edges, train_pct
):
    """For ANY pair graph (self-loops, duplicates, multi-hop chains,
    merged components) and any cut point, no two docs connected by ANY
    path land on opposite sides of the split — the transitive closure of
    the straddle-free guarantee, checked against a union-find model."""
    from kafka_streams_demo_spark.functions.dedup import (
        dedup_clusters,
        leakage_safe_split,
    )

    n = 31
    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in range(n)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges if a != b] or [(0, 0)],
        "i long, j long",
    ).where("i <> j")
    side = {
        r["doc_id"]: r["split"]
        for r in leakage_safe_split(
            dedup_clusters(docs, pairs), train_pct=train_pct
        ).collect()
    }
    assert len(side) == n
    # union-find ground truth over the same edges
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a != b:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
    comps: dict[int, set[int]] = {}
    for i in range(n):
        comps.setdefault(find(i), set()).add(i)
    for members in comps.values():
        assert len({side[m] for m in members}) == 1, (
            f"component {sorted(members)} straddles the split"
        )


def _nullable(strategy):
    return st.one_of(st.none(), strategy)


# (column DDL, strategy) per key type the driver-side state routing hashes
HASH_COLUMNS = [
    ("b boolean", st.booleans()),
    ("i8 tinyint", st.integers(-(2**7), 2**7 - 1)),
    ("i16 smallint", st.integers(-(2**15), 2**15 - 1)),
    ("i32 int", st.integers(-(2**31), 2**31 - 1)),
    ("i64 bigint", st.integers(-(2**63), 2**63 - 1)),
    ("f float", st.one_of(st.sampled_from([0.0, -0.0]), st.floats(width=32))),
    ("d double", st.one_of(st.sampled_from([0.0, -0.0]), st.floats())),
    ("s string", st.one_of(st.sampled_from(["", "é", "日本語"]), st.text(max_size=9))),
    ("bin binary", st.binary(max_size=9)),
    ("day date", st.dates()),
    ("ts timestamp", st.datetimes(datetime.datetime(1900, 1, 2), datetime.datetime(2200, 1, 1))),
    ("ntz timestamp_ntz", st.datetimes()),
    ("iv interval day to second", st.timedeltas(
        -datetime.timedelta(days=10**6), datetime.timedelta(days=10**6))),
    ("dec decimal(12,2)", st.decimals(-(10**9), 10**9, places=2,
                                      allow_nan=False, allow_infinity=False)),
    ("wide decimal(30,4)", st.decimals(-(10**25), 10**25, places=4,
                                       allow_nan=False, allow_infinity=False)),
    ("arr array<int>", st.lists(_nullable(st.integers(-(2**31), 2**31 - 1)), max_size=4)),
    # Spark hashes map entries in their stored order, which a Python dict's
    # trip through createDataFrame does not keep; one entry has one order
    ("m map<string,bigint>", st.dictionaries(
        st.text(max_size=3), _nullable(st.integers(-(2**63), 2**63 - 1)), max_size=1)),
    # a windowed count's state key: (window struct, key)
    ("window struct<start: timestamp, end: timestamp>", st.tuples(
        st.datetimes(datetime.datetime(2000, 1, 1), datetime.datetime(2100, 1, 1)),
        st.datetimes(datetime.datetime(2000, 1, 1), datetime.datetime(2100, 1, 1)),
    )),
    ("key string", st.text(max_size=4)),
]


@given(rows=st.lists(
    st.tuples(*[_nullable(s) for _, s in HASH_COLUMNS]), min_size=1, max_size=6,
))
@settings(**SETTINGS)
def test_driver_murmur3_matches_spark_hash(spark, rows):
    """The Python Murmur3 that routes state lookups == Spark's F.hash, per
    column type and chained over a whole row (nulls skipped), for negative
    numbers, -0.0 and NaN, empty and multibyte strings, wide decimals,
    arrays, maps and a windowed count's (window, key) struct key."""
    from kafka_streams_demo_spark.streaming.interactive import spark_hash

    df = spark.createDataFrame(rows, ", ".join(c for c, _ in HASH_COLUMNS))
    types = [f.dataType for f in df.schema.fields]
    names = df.columns
    window_key = [names.index("window"), names.index("key")]
    spark.conf.set("spark.sql.legacy.allowHashOnMapType", "true")
    try:
        got = df.select(
            *[F.hash(c) for c in names],
            F.hash(*[names[i] for i in window_key]),
            F.hash(*names),
        ).collect()
    finally:
        spark.conf.unset("spark.sql.legacy.allowHashOnMapType")
    for row, spark_row in zip(rows, got):
        want = [spark_hash([v], [t]) for v, t in zip(row, types)]
        want.append(spark_hash([row[i] for i in window_key],
                               [types[i] for i in window_key]))
        want.append(spark_hash(list(row), types))
        assert list(spark_row) == want, row
