"""Streaming MinHash-LSH near-duplicate detection.

The state-store analog of the batch ``functions.dedup.minhash_lsh_pairs``:
documents arrive on a stream, each is sketched to banded MinHash signatures
**per row** (no aggregation — legal upstream of a streaming stateful op),
and an ``applyInPandasWithState`` operator keyed by ``(band, shard)``
(shard = hash of the band signature, a fixed-cardinality parallelism knob)
holds its buckets' previously-seen documents, emitting a scored pair the
moment a new arrival collides with a bucket.

Batch equivalence (the correctness contract, checked by the
``stream_dedup_minhash_lsh`` suite entry against the SAME DuckDB oracle as
the batch query): on a bounded replay, the DISTINCT emitted pair set equals
the batch query's output — same shingles, same h60 hash, same permutation
coefficients, same md5 band signatures, same ``matches/k`` scoring.  A pair
colliding in several bands is emitted once per band (different state keys
cannot coordinate); readers take ``DISTINCT``, and the score is identical on
every emission (it is a pure function of the two signatures).

Scale design: state is sharded by ``(band, hash(band_sig) % num_shards)``
— a FIXED group cardinality (``bands x num_shards``), each shard holding a
dict of its buckets.  State volume is ids + k-long signatures (never text),
spread uniformly by the signature hash; per-bucket skew follows bucket skew
exactly as the batch join's fan-out does, but per-GROUP overhead no longer
scales with the corpus (see ``lsh_dedup_pairs`` for the measured why).  On an unbounded production stream, pair recall is
traded for bounded state by expiring idle buckets with a state timeout
(``timeout='ProcessingTimeTimeout'`` + ``state.setTimeoutDuration``) —
the bounded-replay suite entry keeps NoTimeout so its output is exactly the
batch set.
"""

from __future__ import annotations

import hashlib
import re
from collections.abc import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from scanner_spark.functions.dedup import DEFAULT_BANDS, DEFAULT_MINHASH_K, DEFAULT_SHINGLE_N
from scanner_spark.functions.hashing import MINHASH_P, minhash_coeffs

PAIR_SCHEMA = "doc_a long, doc_b long, est_jaccard double"
# flattened (bucket-sig, doc, sig) parallel arrays for one state shard
_STATE_SCHEMA = "bss array<string>, docs array<long>, sigs array<array<long>>"

# Java regex \s (non-Unicode default) spelled out; re.split keeps the same
# leading/trailing empty tokens as Spark's split(..., -1)
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def banded_minhash_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = DEFAULT_MINHASH_K,
    bands: int = DEFAULT_BANDS,
    n: int = DEFAULT_SHINGLE_N,
) -> DataFrame:
    """Per-ROW banded MinHash as ONE vectorized Arrow stage: (doc, sig:
    array<long>, band, bs) rows whose signatures are bit-identical to the
    batch ``minhash_signatures`` aggregation.  Docs with no shingles (< n
    tokens) are dropped, matching the batch contract (no signature row).

    mapInArrow is stateless, so the stage stays streaming-legal upstream
    of ``applyInPandasWithState``; the r16 attribution probe
    (``stream_lsh_probe_r16.json``) showed the per-row HOF chain — NOT the
    state stage — was the sf10 row's 26-32 s floor: every shingle paid an
    interpreted ``aggregate``/``zip_with`` lambda per permutation.  Here a
    whole Arrow batch crosses into Python once and the k permutation
    minima collapse to one modular affine transform + ``minimum.reduceat``
    over the batch's flat shingle-hash array.

    Bit-exactness ledger (each JVM step of the batch signature and its
    Python twin; pinned by ``test_banded_rows_match_batch_signatures`` on
    the real corpus):
    - ``trim``       -> ``str.strip(" ")`` (Spark trim removes 0x20 only)
    - ``lower``      -> ``str.lower()`` (ASCII-identical; corpus-pinned)
    - ``split \\s+`` -> ``_JAVA_WS.split`` (Java \\s char class, and both
      keep the leading/trailing empty tokens of limit=-1 semantics)
    - ``h60``        -> ``int(md5(s).hexdigest()[:15], 16)``
    - permutation    -> ``(a * (h % P) + b) % P`` in int64 (a < 2^30 and
      h % P < 2^33, so products stay under 2^63 — same no-overflow
      argument as the JVM expression)
    - band sig       -> ``md5(",".join(str(v)))`` of the band's slice
      (Python str(int) == JVM Long.toString for the nonnegative minima)
    """
    coeffs = minhash_coeffs(k)
    A = np.array([a for a, _ in coeffs], dtype=np.int64)
    B = np.array([b for _, b in coeffs], dtype=np.int64)
    r = k // bands

    def run(batches):
        import pyarrow as pa

        md5 = hashlib.md5
        split = _JAVA_WS.split
        # Two memo tiers, both per task (pure-function memoization, NOT
        # cross-run caching): near-dup corpora repeat whole documents
        # (the bench corpus is 10x-duplicated by construction), so a
        # text -> (sig, band sigs) memo skips everything for a repeat;
        # below it, a shingle -> h60 memo dedups md5 work across the
        # distinct texts.  Both capped so a pathological partition cannot
        # balloon worker memory.
        h_memo: dict[str, int] = {}
        t_memo: dict[str, tuple | None] = {}
        T_CAP = 1 << 17
        H_CAP = 1 << 21

        def h_of(s: str) -> int:
            v = h_memo.get(s)
            if v is None:
                v = int(md5(s.encode("utf-8")).hexdigest()[:15], 16) % MINHASH_P
                if len(h_memo) < H_CAP:
                    h_memo[s] = v
            return v

        empty = pa.RecordBatch.from_arrays(
            [
                pa.array([], type=pa.int64()),
                pa.array([], type=pa.list_(pa.int64())),
                *[pa.array([], type=pa.string()) for _ in range(bands)],
            ],
            names=["doc", "sig"] + [f"bs{b}" for b in range(bands)],
        )
        for batch in batches:
            ids = batch.column(0).to_pylist()
            texts = batch.column(1).to_pylist()
            # pass 1: signatures for texts this task has not seen yet
            new_texts: list[str] = []
            counts: list[int] = []
            flat: list[int] = []
            cur: dict[str, tuple | None] = {}
            for txt in texts:
                if txt is None or txt in t_memo or txt in cur:
                    continue
                toks = split(txt.strip(" ").lower())
                if len(toks) < n:
                    cur[txt] = None
                    continue
                sh = {
                    " ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)
                }
                cur[txt] = ()  # placeholder, filled below
                new_texts.append(txt)
                counts.append(len(sh))
                flat.extend(h_of(s) for s in sh)
            if new_texts:
                hs = np.asarray(flat, dtype=np.int64)
                offsets = np.zeros(len(counts), dtype=np.int64)
                np.cumsum(
                    np.asarray(counts[:-1], dtype=np.int64), out=offsets[1:]
                )
                # (S, k) affine permutations, then per-doc column minima,
                # chunked by doc groups so the expansion stays bounded
                # however large the batch's shingle set is
                sig_rows = np.empty((len(counts), k), dtype=np.int64)
                max_s = 1 << 21
                d0 = 0
                while d0 < len(counts):
                    d1 = d0
                    s0 = offsets[d0]
                    s1 = s0
                    while d1 < len(counts) and (s1 - s0) < max_s:
                        s1 = (
                            offsets[d1] + counts[d1]
                            if d1 + 1 == len(counts)
                            else offsets[d1 + 1]
                        )
                        d1 += 1
                    Y = (hs[s0:s1, None] * A[None, :] + B[None, :]) % MINHASH_P
                    sig_rows[d0:d1] = np.minimum.reduceat(
                        Y, (offsets[d0:d1] - s0), axis=0
                    )
                    d0 = d1
                for i, txt in enumerate(new_texts):
                    vals = sig_rows[i].tolist()
                    cur[txt] = (
                        vals,
                        tuple(
                            md5(
                                ",".join(
                                    str(v) for v in vals[b * r : (b + 1) * r]
                                ).encode("utf-8")
                            ).hexdigest()
                            for b in range(bands)
                        ),
                    )
            # pass 2: assemble the batch output through the memos
            docs_out: list[int] = []
            sig_flat: list[int] = []
            bs_cols: list[list[str]] = [[] for _ in range(bands)]
            for did, txt in zip(ids, texts):
                if txt is None:
                    continue
                got = cur.get(txt)
                if got is None and txt not in cur:
                    got = t_memo[txt]
                if got is None:
                    continue
                docs_out.append(int(did))
                sig_flat.extend(got[0])
                for b in range(bands):
                    bs_cols[b].append(got[1][b])
            if len(t_memo) < T_CAP:
                t_memo.update(cur)
            if not docs_out:
                yield empty
                continue
            nd = len(docs_out)
            sig_arr = pa.ListArray.from_arrays(
                pa.array(
                    np.arange(0, (nd + 1) * k, k, dtype=np.int32)
                ),
                pa.array(np.asarray(sig_flat, dtype=np.int64)),
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.asarray(docs_out, dtype=np.int64)),
                    sig_arr,
                    *[pa.array(c, type=pa.string()) for c in bs_cols],
                ],
                names=["doc", "sig"] + [f"bs{b}" for b in range(bands)],
            )

    # ONE Arrow row per doc, flat columns only (a list-of-strings column
    # and per-band Python rows both measured materially slower to
    # serialize); the band fan-out is a JVM posexplode downstream
    out_schema = "doc long, sig array<long>, " + ", ".join(
        f"bs{b} string" for b in range(bands)
    )
    per_doc = df.select(
        F.col(id_col).alias(id_col), F.col(text_col).alias(text_col)
    ).mapInArrow(run, schema=out_schema)
    return per_doc.select(
        "doc",
        "sig",
        F.posexplode(F.array(*[F.col(f"bs{b}") for b in range(bands)])).alias(
            "band", "bs"
        ),
    )


DEFAULT_STATE_SHARDS = 32


def _advance_shard(
    entries: list[tuple[str, int, list[int]]],
    rows: Iterable[tuple[int, list[int], str]],
    k: int,
    threshold: float,
    max_docs: int | None,
) -> tuple[list[tuple[str, int, list[int]]], list[tuple[int, int, float]]]:
    """One shard's state transition, pure and unit-testable: score each
    arriving ``(doc, sig, band_sig)`` against its bucket's seen docs, append
    it, then FIFO-evict down to ``max_docs`` entries (arrival order is
    global per shard, so the evicted doc is the shard's OLDEST across all
    its buckets — the recall-for-boundedness trade of an unbounded stream).
    Returns (new_entries, emitted_pairs).

    Round 17: the per-pair Python loop (a k-element zip-compare per
    candidate pair, plus a per-row ``[int(x) for x in sig]``) is replaced
    by one numpy equality-count per bucket; emitted pairs are re-sorted to
    the retired loop's exact order ((arrival index, bucket position)) and
    est comes from a table built with the same Python ``round``, so the
    returned (entries, pairs) are identical element for element."""
    entries = list(entries)
    rows = list(rows)
    pairs: list[tuple[int, int, float]] = []
    if rows:
        est_table = [round(m / k, 6) for m in range(k + 1)]
        ok = np.array([est_table[m] >= threshold for m in range(k + 1)])
        old_docs: dict[str, list] = {}
        old_sigs: dict[str, list] = {}
        for b, d, s in entries:
            old_docs.setdefault(b, []).append(d)
            old_sigs.setdefault(b, []).append(s)
        new_by_bucket: dict[str, list[int]] = {}
        new_docs: list[int] = [0] * len(rows)
        new_sigs: list = [None] * len(rows)
        new_bs: list = [None] * len(rows)
        for j, (doc, sig, bs) in enumerate(rows):
            new_docs[j] = int(doc)
            new_sigs[j] = np.asarray(sig, dtype=np.int64)
            new_bs[j] = bs
            new_by_bucket.setdefault(bs, []).append(j)
        # (arrival idx, bucket position, doc_a, doc_b, est)
        emitted: list[tuple[int, int, int, int, float]] = []
        for bs, js in new_by_bucket.items():
            od = old_docs.get(bs, ())
            m0 = len(od)
            m1 = len(js)
            N = np.stack([new_sigs[j] for j in js])
            if m0:
                S = np.concatenate(
                    [np.asarray(old_sigs[bs], dtype=np.int64).reshape(m0, k), N]
                )
            else:
                S = N
            if m0 + m1 < 2:
                continue
            docs_all = list(od) + [new_docs[j] for j in js]
            pos = np.arange(S.shape[0])
            # chunk over arrivals so the (m0+m1) x chunk x k bool block
            # stays bounded however hot the bucket is
            step = max(1, (4 << 20) // (S.shape[0] * k))
            for c0 in range(0, m1, step):
                c1 = min(m1, c0 + step)
                M = (S[:, None, :] == N[None, c0:c1, :]).sum(axis=2)
                valid = ok[M]
                # candidate i must strictly precede arrival t in the
                # bucket: old entries always do, new ones when their
                # position m0 + t_local + c0 is below t's
                valid &= pos[:, None] < (m0 + c0 + np.arange(c1 - c0))[None, :]
                for i, t in zip(*(x.tolist() for x in np.nonzero(valid))):
                    jg = js[c0 + t]
                    a = docs_all[i]
                    bdoc = new_docs[jg]
                    lo, hi = (a, bdoc) if a < bdoc else (bdoc, a)
                    emitted.append((jg, i, int(lo), int(hi), est_table[int(M[i, t])]))
        emitted.sort(key=lambda e: (e[0], e[1]))
        pairs = [(a, b, est) for _, _, a, b, est in emitted]
        for j in range(len(rows)):
            entries.append((new_bs[j], new_docs[j], new_sigs[j].tolist()))
    if max_docs is not None and len(entries) > max_docs:
        entries = entries[-max_docs:]
    return entries, pairs


def lsh_dedup_pairs(
    banded: DataFrame,
    k: int = DEFAULT_MINHASH_K,
    threshold: float = 0.5,
    timeout: str = "NoTimeout",
    num_shards: int = DEFAULT_STATE_SHARDS,
    max_docs_per_shard: int | None = None,
    timeout_ms: int = 600_000,
) -> DataFrame:
    """Stateful pair emission: per (band, band_sig) bucket, every new doc
    is scored (matching mins / k) against the bucket's seen docs; pairs at
    or above ``threshold`` are emitted with (least, greatest) id order —
    the batch query's pair orientation.

    State sharding: the state key is ``(band, crc32(bs) % num_shards)``,
    NOT ``(band, bs)`` — a shard's state holds a dict of its buckets.  A
    per-bucket key would mean corpus-many state groups, and the stateful
    API pays a fixed Arrow+state-(de)serialization cost PER GROUP PER
    BATCH: millions of one-doc groups each paying ~ms dwarfs the actual
    work (measured 6x on the bounded-replay bench).  With sharding the
    group count is ``bands x num_shards`` — an explicit parallelism knob
    independent of corpus size (raise it on a real cluster so shards
    spread over executors; each shard's state stays ``|corpus| x bands /
    shards`` ids+sigs).  Collision semantics are untouched: docs pair only
    on equal full band-sig, now looked up in the shard's dict.

    Bounded state on an UNBOUNDED stream (both knobs trade recall against
    old docs for a hard state ceiling; the bounded-replay suite entry uses
    neither, so its output is exactly the batch set):

    - ``max_docs_per_shard``: each shard FIFO-evicts beyond this many
      (doc, sig) entries, so total state is at most
      ``bands x num_shards x max_docs_per_shard`` entries FOREVER — new
      arrivals stop pairing with docs older than the shard's window.
    - ``timeout='ProcessingTimeTimeout'`` + ``timeout_ms``: a shard that
      receives NO rows for ``timeout_ms`` is dropped whole (idle-shard
      expiry; with uniform signature hashing a shard goes idle only when
      the stream itself does).

    Operational caveat (measured, not hypothetical): once a processing-time
    timeout is configured, ``trigger(availableNow=True)`` never
    self-terminates — Spark keeps scheduling empty micro-batches for
    potential future timeouts even after the store drains to zero rows.
    The timeout knob is for genuinely long-running streams (the production
    shape); bounded replays should keep ``NoTimeout`` or stop the query
    explicitly once progress shows the drain (see
    ``test_lsh_dedup_bounded_state_on_unbounded_stream``)."""
    use_timeout = timeout == "ProcessingTimeTimeout"

    def fn(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        if use_timeout and state.hasTimedOut:
            # idle shard: drop its buckets entirely (bounded-state trade)
            state.remove()
            yield pd.DataFrame({"doc_a": [], "doc_b": [], "est_jaccard": []})
            return
        # state: parallel arrays flattened over (bucket, doc) entries,
        # stored in ARRIVAL order so FIFO eviction is a slice
        entries: list[tuple[str, int, list[int]]] = []
        if state.exists:
            st_bss, st_docs, st_sigs = state.get
            # no per-element int() here: _advance_shard stacks sigs with
            # numpy and the update below normalizes once per entry
            entries = list(zip(st_bss, st_docs, st_sigs))

        def rows():
            for pdf in pdfs:
                yield from zip(pdf["doc"], pdf["sig"], pdf["bs"])

        entries, pairs = _advance_shard(
            entries, rows(), k, threshold, max_docs_per_shard
        )
        state.update(
            (
                [b for b, _, _ in entries],
                [int(d) for _, d, _ in entries],
                [
                    s if type(s) is list else np.asarray(s).tolist()
                    for _, _, s in entries
                ],
            )
        )
        if use_timeout:
            state.setTimeoutDuration(timeout_ms)
        yield pd.DataFrame(
            {
                "doc_a": [p[0] for p in pairs],
                "doc_b": [p[1] for p in pairs],
                "est_jaccard": [p[2] for p in pairs],
            }
        )

    sharded = banded.withColumn(
        "shard", F.crc32(F.col("bs").cast("binary")) % F.lit(num_shards)
    )
    return sharded.groupBy("band", "shard").applyInPandasWithState(
        fn,
        outputStructType=PAIR_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=getattr(GroupStateTimeout, timeout),
    )
