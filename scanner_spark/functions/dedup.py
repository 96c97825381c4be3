"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash,
embedding-cosine.

Scale design (the point of each strategy at 100 TB):

- **exact**: one hash-shuffle on md5(text); map-side partial aggregation
  makes the shuffle carry only (hash, min_id) pairs.
- **ngram_jaccard**: exact pairwise Jaccard is quadratic — usable as the
  *verifier* behind a candidate generator, or alone on small slices.  The
  candidate join explodes distinct shingles and self-joins on shingle;
  frequent-shingle skew is capped with a document-frequency cutoff
  (``max_shingle_df``), the standard trick to stop a stop-shingle from
  producing O(n^2) candidates.
- **minhash_lsh**: linear sketch (k hash mins per doc), banded so only
  same-band-signature docs join — the 100 TB path.  k*|shingles| work per
  doc, then a shuffle keyed by (band, signature) whose fan-in is the
  collision rate, not n^2.
- **simhash**: one 60-bit signature per doc; near-dups = small Hamming
  distance.  Banded by signature prefix for the join.
- **embedding cosine**: exact within blocking key (label / LSH bucket).

Every hash is the shared 60-bit md5 hash (functions/hashing.py) so the
DuckDB oracle reproduces results bit-for-bit.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from scanner_spark.caching import track
from scanner_spark.functions.hashing import MINHASH_P, h60, minhash_coeffs  # noqa: F401
from scanner_spark.functions.text import tokens

DEFAULT_SHINGLE_N = 3
DEFAULT_MINHASH_K = 16
DEFAULT_BANDS = 4

# cosine_dup_pairs mega-bucket guard: buckets above this many distinct
# reps are triangle-split into (chunk_i, chunk_j) sub-tasks so one LSH
# bucket can never stack an unbounded vector matrix in a single task.
# Sized from a quiet-box measurement of the per-task block cost (see
# OPTIMIZATION_r17.md): ~seconds per 8192-rep block at dim 64, i.e. a
# bounded task, while every observed real bucket (sf10 max: 1973 reps)
# stays on the exact single-group path.
COSINE_SPLIT_CHUNK = 8192
# df cap on candidate-generating shingles: a shingle shared by d docs emits
# O(d^2) candidate pairs, so one stop-shingle ("of the and" ...) can go
# quadratic on the corpus.  1000 keeps any single shingle's pair fan-out
# under ~500k — bounded work per key at any corpus size.
DEFAULT_MAX_SHINGLE_DF = 1000


def shingles(col, n: int = DEFAULT_SHINGLE_N):
    """Distinct word n-gram shingles as an array column (JVM-side).

    Docs shorter than ``n`` tokens produce an EMPTY array — the same
    contract as ``_shingled()`` and the DuckDB oracles (which drop
    sub-n docs via ``shingle IS NOT NULL``), so the two helpers are
    interchangeable."""
    toks = tokens(col)
    return F.array_distinct(
        F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - n),
                lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))
    )


def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact-duplicate groups: content hash -> canonical (min) id + count.
    Returns only groups with >1 member."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
        .filter(F.col("n_dups") > 1)
    )


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one row (min id) per distinct content hash."""
    w = df.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("content_hash")
    )
    keep = w.groupBy("content_hash").agg(F.min(id_col).alias(id_col))
    return df.join(keep, id_col, "left_semi")


def _text_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact-duplicate collapse for the text pair operators: one
    representative row per distinct text — (doc = min id, text, __ids =
    all member ids, __m = group size).

    Real corpora are duplicate-heavy (re-crawls, mirrors; the sf1 bench
    corpus is 10x-duplicated by construction), and every text sketch —
    shingle set, MinHash signature, SimHash — is a pure function of the
    text, so a group of m copies can do the sketch work ONCE and expand
    pairs at the end: m output rows instead of m^2 join work.  Bit-exact
    parity with the uncollapsed computation is structural: identical
    strings produce identical shingles/signatures, so every cross-group
    pair metric equals the representative pair's, and intra-group metrics
    are the identical-input fixed points (jaccard 1.0, est 1.0,
    hamming 0)."""
    # group on the text ITSELF, not a hash of it: an (adversarially
    # constructible) md5 collision would merge two different documents
    # into one group and fabricate pairs.  The shuffle carries the text
    # either way (the old first(text) shipped it too), so exactness is
    # free.
    return df.groupBy(F.col(text_col)).agg(
        F.min(id_col).alias("doc"),
        F.collect_list(id_col).alias("__ids"),
        F.count(F.lit(1)).alias("__m"),
    )


def _expand_pairs(
    pairs: DataFrame, groups: DataFrame, metric_col: str
) -> DataFrame:
    """Map representative pairs back to member pairs: join each side's id
    list, double-explode, and order ids per pair.  Linear in output size."""
    ga = groups.select(F.col("doc").alias("doc_a"), F.col("__ids").alias("__ia"))
    gb = groups.select(F.col("doc").alias("doc_b"), F.col("__ids").alias("__ib"))
    return (
        pairs.join(ga, "doc_a")
        .join(gb, "doc_b")
        .select(F.explode("__ia").alias("__a"), "__ib", metric_col)
        .select("__a", F.explode("__ib").alias("__b"), metric_col)
        .select(
            F.least("__a", "__b").alias("doc_a"),
            F.greatest("__a", "__b").alias("doc_b"),
            metric_col,
        )
    )


def _intra_pairs(groups: DataFrame, metric) -> DataFrame:
    """All (id_a < id_b) pairs inside each duplicate group, tagged with the
    identical-input metric value."""
    return (
        groups.filter(F.col("__m") > 1)
        .select(F.explode("__ids").alias("doc_a"), F.col("__ids").alias("__ib"), metric)
        .select("doc_a", F.explode("__ib").alias("doc_b"), metric)
        .filter(F.col("doc_a") < F.col("doc_b"))
    )


def _shingled(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(doc, shingle) rows, distinct word n-grams per doc.

    posexplode + lead() window instead of transform/slice lambdas: Spark's
    higher-order functions are interpreted (outside whole-stage codegen)
    and cost ~ms/doc; the explode+window shape is fully codegen'd and ~4x
    faster, at the price of one shuffle on doc — which the downstream
    self-join needs anyway."""
    from pyspark.sql import Window

    tok = df.select(
        F.col(id_col).alias("doc"),
        F.posexplode(tokens(F.col(text_col))).alias("ord", "tok"),
    )
    w = Window.partitionBy("doc").orderBy("ord")
    parts = [F.col("tok")] + [F.lead("tok", i).over(w) for i in range(1, n)]
    sh = tok.select(
        "doc",
        F.when(
            parts[-1].isNotNull(), F.concat_ws(" ", *parts)
        ).alias("shingle"),
    ).filter(F.col("shingle").isNotNull())
    return sh.dropDuplicates(["doc", "shingle"])


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = DEFAULT_SHINGLE_N,
    threshold: float = 0.5,
    max_shingle_df: int | None = DEFAULT_MAX_SHINGLE_DF,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs above ``threshold``.

    candidate generation: self-join on shared shingle, skew-capped by
    ``max_shingle_df`` (ON by default — pass None to disable and accept
    quadratic fan-out on corpus-frequent shingles); verification:
    |A∩B| / (|A|+|B|-|A∩B|) with set sizes computed once per doc over the
    CAPPED shingle sets.  Output: (doc_a, doc_b, jaccard).
    """
    # exact-duplicate collapse: sketch per DISTINCT text, expand at the end
    groups = track(_text_groups(df, text_col, id_col))
    sh = _shingled(groups, text_col, "doc", n)
    # join/aggregate on the 60-bit shingle hash, not the ~25-byte string:
    # smaller shuffle keys, same results (the DuckDB oracle hashes with the
    # same md5-prefix function, so even collisions reproduce identically)
    sh = sh.select("doc", h60(F.col("shingle")).alias("shingle"))
    if max_shingle_df is not None:
        # document frequency must count COPIES (the oracle counts every
        # doc), so weight each representative by its group size.  rep_m has
        # one row per DISTINCT text — it scales with the corpus, so let AQE
        # pick the join strategy (broadcast only when it actually fits)
        rep_m = groups.select("doc", "__m")
        good = (
            sh.join(rep_m, "doc")
            .groupBy("shingle")
            .agg(F.sum("__m").alias("df"))
            .filter(F.col("df") <= max_shingle_df)
            .select("shingle")
        )
        sh = sh.join(good, "shingle", "left_semi")
    # the shingle table feeds three plan branches (sizes + both join sides);
    # materialize it once instead of re-running tokenize/explode per branch
    sh = track(sh)
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    # per-doc sizes: |docs| rows — AQE broadcasts when small enough, shuffles
    # when the corpus is too big to broadcast; don't force either
    rep_pairs = (
        common.join(sizes.withColumnRenamed("doc", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    # intra-group pairs: identical capped shingle sets -> cmn = sz_a = sz_b
    # -> jaccard sz/sz = exactly 1.0 (integer-exact double division); docs
    # whose capped set is EMPTY generate no candidates in the uncollapsed
    # pipeline, so require sz > 0
    intra = _intra_pairs(
        groups.join(sizes, "doc").filter(F.col("sz") > 0),
        F.lit(1.0).alias("jaccard"),
    ).filter(F.lit(1.0) >= threshold)
    return _expand_pairs(rep_pairs, groups, "jaccard").unionByName(intra)


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = DEFAULT_MINHASH_K,
    n: int = DEFAULT_SHINGLE_N,
) -> DataFrame:
    """Per-doc MinHash signature: for each of k universal-hash permutations
    h_i(x) = (a_i*(H(x) mod P) + b_i) mod P, the min over the doc's
    shingle hashes.

    WIDE layout — one row per doc with columns m0..m{k-1}, computed as k
    MIN aggregates in a single groupBy: ONE shuffle of the shingle table
    (map-side partial mins), no k-fold explode.  At 100 TB the shuffle
    volume is |docs| x k longs instead of |shingles| x k rows."""
    coeffs = minhash_coeffs(k)
    sh = _shingled(df, text_col, id_col, n).withColumn(
        "hm", h60(F.col("shingle")) % F.lit(MINHASH_P)
    )
    mins = [
        F.min((F.lit(a) * F.col("hm") + F.lit(b)) % F.lit(MINHASH_P)).alias(f"m{i}")
        for i, (a, b) in enumerate(coeffs)
    ]
    return sh.groupBy("doc").agg(*mins)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = DEFAULT_MINHASH_K,
    bands: int = DEFAULT_BANDS,
    n: int = DEFAULT_SHINGLE_N,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs.

    Banding: k/bands mins per band hashed to a band signature (scalar md5
    over the wide row — no second aggregation); same-band-signature docs
    become candidates via a union of b self-joins keyed by (band, sig);
    candidates are scored by full-signature agreement (est_jaccard =
    matching mins / k).  Output: (doc_a, doc_b, est_jaccard).
    """
    r = k // bands
    # exact-duplicate collapse: signatures per DISTINCT text only
    groups = track(_text_groups(df, text_col, id_col))
    sig = track(minhash_signatures(groups, text_col, "doc", k, n))
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"m{i}").cast("string") for i in range(b * r, (b + 1) * r)]
        band_cols.append(F.md5(F.concat_ws(",", *cols)).alias(f"band{b}"))
    # melt to (doc, band, bandsig) — |docs| x bands tiny rows — so candidate
    # generation is ONE equi-join on (band, bandsig) instead of b self-joins
    banded = sig.select(
        "doc", F.posexplode(F.array(*band_cols)).alias("band", "bs")
    )
    cand = (
        banded.alias("x")
        .join(
            banded.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bs") == F.col("y.bs"))
            & (F.col("x.doc") < F.col("y.doc")),
        )
        .select(F.col("x.doc").alias("doc_a"), F.col("y.doc").alias("doc_b"))
        .distinct()
    )
    matches = sum(
        F.when(F.col(f"a.m{i}") == F.col(f"b.m{i}"), 1).otherwise(0) for i in range(k)
    )
    est = (
        cand.join(sig.alias("a"), F.col("doc_a") == F.col("a.doc"))
        .join(sig.alias("b"), F.col("doc_b") == F.col("b.doc"))
        .select(
            "doc_a",
            "doc_b",
            F.round(matches / F.lit(k), 6).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
    )
    # intra-group pairs: identical text -> identical signature -> every
    # band collides and all k mins match -> est exactly 1.0.  Docs with no
    # shingles have no signature row (no candidates uncollapsed): require
    # a sig row via the inner join.
    intra = _intra_pairs(
        groups.join(sig.select("doc"), "doc"),
        F.lit(1.0).alias("est_jaccard"),
    ).filter(F.lit(1.0) >= threshold)
    return _expand_pairs(est, groups, "est_jaccard").unionByName(intra)


def _simhash_wide(df: DataFrame, text_col: str, id_col: str, bits: int) -> DataFrame:
    """Raw per-row SimHash: ``bits`` conditional SUM aggregates in a single
    groupBy over the (doc, token-hash) table — ONE shuffle of |tokens| rows
    with map-side partial aggregation, instead of exploding |tokens| x bits
    rows (a 48x shuffle amplification).  JVM-side / whole-stage codegen."""
    tok = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("tok"),
    ).withColumn("h", h60(F.col("tok")))
    aggs = [
        F.sum(
            F.when(F.expr(f"(shiftright(h, {j}) & 1) = 1"), 1).otherwise(-1)
        ).alias(f"w{j}")
        for j in range(bits)
    ]
    wide = tok.groupBy("doc").agg(*aggs)
    sig = sum(
        (F.when(F.col(f"w{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0)) for j in range(bits)),
        start=F.lit(0),
    )
    return wide.select("doc", sig.cast("long").alias("simhash"))


def _simhash_reps(
    df: DataFrame, text_col: str, id_col: str, bits: int
) -> tuple[DataFrame, DataFrame]:
    """(groups, rep_sigs): exact-duplicate collapse + signatures computed
    per DISTINCT text only (the signature is a pure function of the
    text)."""
    groups = track(_text_groups(df, text_col, id_col))
    return groups, _simhash_wide(groups, text_col, "doc", bits)


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 48) -> DataFrame:
    """Per-doc SimHash signature over distinct tokens.

    bit_j(doc) = 1 iff sum over tokens of (+1 if bit_j(H(token)) else -1)
    is positive; signature = sum of set bits << j.

    The signature aggregation (see ``_simhash_wide``) runs once per
    DISTINCT text; member docs get their representative's signature via a
    narrow expand join — identical values, duplicate-factor less work.
    Output: (doc, simhash)."""
    groups, rep_sigs = _simhash_reps(df, text_col, id_col, bits)
    member = groups.select(
        F.col("doc").alias("__rep"), F.explode("__ids").alias("doc")
    )
    return member.join(
        rep_sigs.withColumnRenamed("doc", "__rep"), "__rep"
    ).select("doc", "simhash")


def simhash_blocks(bits: int, n_blocks: int) -> list[tuple[int, int]]:
    """Partition ``bits`` into ``n_blocks`` contiguous (start, size) blocks
    (sizes differ by at most 1, LSB-first)."""
    base, extra = divmod(bits, n_blocks)
    out, start = [], 0
    for i in range(n_blocks):
        size = base + (1 if i < extra else 0)
        out.append((start, size))
        start += size
    return out


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 48,
    max_hamming: int = 3,
    n_blocks: int | None = None,
    prefix_bits: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= ``max_hamming`` with
    FULL recall inside the radius.

    The table-rotation scheme (Manku et al., Detecting Near-Duplicates for
    Web Crawling, WWW'07): split the signature into ``n_blocks`` contiguous
    blocks; by pigeonhole, two signatures within Hamming distance
    ``n_blocks - 1`` agree on at least one whole block, so blocking the
    self-join on (block_index, block_value) — each rotation's prefix,
    without materializing rotated tables — finds every qualifying pair.
    ``n_blocks`` defaults to ``max_hamming + 1``, the smallest count with
    the guarantee.  Each doc is exploded into ``n_blocks`` keyed rows (a
    constant-factor, not quadratic, blow-up); candidate pairs are deduped
    before the Hamming filter.  Output: (doc_a, doc_b, hamming).

    ``prefix_bits`` is accepted for back-compat and ignored (the old
    prefix-only blocking missed pairs differing inside the prefix).
    """
    # exact-duplicate collapse + persist: both sides of the self-join read
    # the signature table, and without materialization the whole
    # explode-48-bits pipeline runs twice
    groups, rep_sigs = _simhash_reps(df, text_col, id_col, bits)
    rep_sigs = track(rep_sigs)
    rep_pairs = simhash_pairs_from_sigs(
        rep_sigs, bits=bits, max_hamming=max_hamming, n_blocks=n_blocks
    )
    # intra-group pairs: identical text -> identical signature -> hamming 0
    # (docs with no tokens have no signature row and, uncollapsed, no pairs)
    intra = _intra_pairs(
        groups.join(rep_sigs.select("doc"), "doc"),
        F.lit(0).alias("hamming"),
    )
    return _expand_pairs(rep_pairs, groups, "hamming").unionByName(intra)


def simhash_pairs_from_sigs(
    sig: DataFrame,
    bits: int = 48,
    max_hamming: int = 3,
    n_blocks: int | None = None,
) -> DataFrame:
    """Block-rotation candidate join over a precomputed (doc, simhash)
    table — the guarantee-carrying half of ``simhash_pairs``, exposed so
    crafted signatures can pin the recall property directly."""
    if n_blocks is None:
        n_blocks = max_hamming + 1
    if n_blocks > bits:
        raise ValueError(f"n_blocks={n_blocks} exceeds signature bits={bits}")
    keys = F.array(
        *[
            F.struct(
                F.lit(i).alias("t"),
                (
                    F.shiftright(F.col("simhash"), start).bitwiseAND(
                        F.lit((1 << size) - 1)
                    )
                ).alias("blk"),
            )
            for i, (start, size) in enumerate(simhash_blocks(bits, n_blocks))
        ]
    )
    blocked = sig.select("doc", "simhash", F.explode(keys).alias("k"))
    a, b = blocked.alias("a"), blocked.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.k.t") == F.col("b.k.t"))
            & (F.col("a.k.blk") == F.col("b.k.blk"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
        .distinct()  # a pair can match in several blocks
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


# Edge count below which the CC remainder is finished on the driver.
# 500k (node, node) longs is ~8 MB collected — bounded regardless of input
# size, because contraction rounds shrink the live edge set geometrically
# before this path is taken.  Same design as GraphFrames' ConnectedComponents
# broadcast-threshold local finish.
LOCAL_CC_MAX_EDGES = 500_000


def _local_components(edges) -> dict:
    """Driver-side union-find with min-label canonicalization: returns
    {node: min reachable node id}.  Path-halving find + union-by-min keeps
    it near-linear; only ever called on an edge list bounded by
    LOCAL_CC_MAX_EDGES."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            parent[r] = parent.get(parent[r], parent[r])  # path halving
            r = parent[r]
        return r

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            # union by min: smaller id becomes the root, so the root IS
            # the component's minimum node id when all unions are done
            lo, hi = (ru, rv) if ru < rv else (rv, ru)
            parent[hi] = lo
        else:
            parent.setdefault(ru, ru)
        parent.setdefault(u, find(u))
        parent.setdefault(v, find(v))
    return {n: find(n) for n in parent}


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 20,
    local_max_edges: int = LOCAL_CC_MAX_EDGES,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph: each node is
    labeled with the MINIMUM node id reachable from it — the canonical
    cluster id for keep-one-per-cluster dedup.

    Two-tier execution, both exact:

    - **Distributed min-label edge contraction** (the MapReduce CC
      algorithm) while the live edge set is large: each round every node
      merges into least(self, min neighbor) and the graph is rewritten
      through those labels — path lengths at least halve per round, so
      O(log diameter) rounds, each one shuffle of the shrinking edge list
      (plain label propagation needs diameter rounds and was measured not
      converging in 20 on threshold-0.3 similarity graphs).
    - **Driver union-find finish** once the (contracted) edge list fits
      under ``local_max_edges``: contraction shrinks the graph
      geometrically, so the remainder is tiny; collecting ~8 MB and
      finishing locally replaces O(log d) further multi-stage rounds with
      one job.  Near-dup pair graphs at suite scale take this path
      immediately — the edge list is already a small fraction of the
      corpus.

    Output: (doc, component).
    """
    spark = pairs.sparkSession
    node_type = pairs.schema[a_col].dataType.simpleString()
    # cache the pair pipeline: near-dup pair generation (LSH joins / UDF
    # cosine) is the expensive part — the count below materializes it once
    # and every later read hits the cache
    edges0 = (
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .persist()
    )
    if edges0.count() <= local_max_edges:
        # common case for near-dup graphs: the pair list is already a
        # small fraction of the corpus — one collect, zero extra rounds
        mapping = _local_components([(r["u"], r["v"]) for r in edges0.collect()])
        edges0.unpersist()
        return spark.createDataFrame(
            list(mapping.items()), f"doc {node_type}, component {node_type}"
        )
    g = (
        edges0.unionByName(edges0.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    edges0.unpersist()
    comp = g.select(F.col("u").alias("node")).distinct().withColumn(
        "label", F.col("node")
    ).localCheckpoint(eager=True)
    for _ in range(max_iter):
        # one cheap count on the checkpointed edge list serves both the
        # emptiness test and the local-finish decision
        n_edges = g.count()
        if n_edges == 0:
            break
        if n_edges <= local_max_edges:
            # finish locally: relabel through the union-find of the
            # remaining contracted edges.  comp.label is the contraction
            # so far; the local pass maps each surviving label to its
            # final minimum.
            mapping = _local_components(
                [(r["u"], r["v"]) for r in g.collect()]
            )
            mdf = spark.createDataFrame(
                list(mapping.items()), f"node {node_type}, newlab {node_type}"
            )
            comp = comp.join(
                F.broadcast(mdf), comp.label == mdf.node, "left"
            ).select(
                comp.node.alias("node"),
                F.coalesce(F.col("newlab"), comp.label).alias("label"),
            )
            break
        # distributed contraction round.  lab is checkpointed once so the
        # groupBy shuffle runs once, not three times (comp join + both
        # edge-rewrite joins read it).
        lab = (
            g.groupBy("u")
            .agg(F.min("v").alias("m"))
            .select(
                F.col("u").alias("node"),
                F.least(F.col("u"), F.col("m")).alias("newlab"),
            )
            .localCheckpoint(eager=True)
        )
        comp = (
            comp.join(lab, comp.label == lab.node, "left")
            .select(
                comp.node.alias("node"),
                F.coalesce(F.col("newlab"), comp.label).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        lu = lab.select(F.col("node").alias("u"), F.col("newlab").alias("nu"))
        lv = lab.select(F.col("node").alias("v"), F.col("newlab").alias("nv"))
        g = (
            g.join(lu, "u")
            .join(lv, "v")
            .select(F.col("nu").alias("u"), F.col("nv").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
    return comp.select(F.col("node").alias("doc"), F.col("label").alias("component"))


def dedup_clusters(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Cluster summary for keep-one-per-cluster dedup: (component,
    n_members, keep_id) where keep_id = the cluster's minimum doc id (==
    component by construction)."""
    cc = connected_components(pairs, a_col, b_col)
    return cc.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("doc").alias("keep_id"),
    )


def dedup_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    score_col: str = "quality",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep the BEST-scoring document per near-duplicate cluster — the
    production materialization (keep-min-id is a test convenience; real
    pipelines keep the highest-quality member).  Singleton docs (no pair)
    keep themselves.  Ties break deterministically by id.

    Plan: connected components over the pair graph, a left join to tag
    every doc with its cluster (NULL -> its own id), one window per
    cluster for the argmax.  Output: (doc_id, component, score)."""
    from pyspark.sql import Window

    cc = connected_components(pairs)
    joined = df.select(F.col(id_col), F.col(score_col)).join(
        cc, F.col(id_col) == cc["doc"], "left"
    )
    tagged = joined.select(
        id_col,
        score_col,
        F.coalesce(F.col("component"), F.col(id_col)).alias("component"),
    )
    w = Window.partitionBy("component").orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    return (
        tagged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(id_col, "component", score_col)
    )


def cosine_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_col: str | None = "label",
    threshold: float = 0.98,
    lsh_bits: int | None = None,
    pairs_mode: str = "all",
    split_chunk: int | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs: cosine >= threshold within a
    blocking key.  Output: (id_a, id_b, cosine).

    Blocking is what bounds the quadratic pair term:

    - ``block_col`` alone (a semantic label, ...) is exact within the
      block but quadratic in block size — a scale-killer on a hot label.
    - ``lsh_bits`` adds a random-hyperplane LSH bucket
      (functions/simsearch.hyperplanes — deterministic, oracle-
      reproducible) to the blocking key: candidates must share BOTH the label
      and the bucket, so the per-key pair fan-out is ~|block| / 2^bits
      squared.  Near-identical vectors agree on almost every hyperplane
      sign, so recall loss at dedup thresholds (>=0.9) is the standard,
      accepted LSH tradeoff.  This is the 100 TB path.

    ``pairs_mode`` bounds the in-bucket pair term:

    - ``"all"`` (default): every qualifying pair inside a bucket — the
      full pair listing, O(m^2) on a bucket of m near-duplicates.  Right
      for pair-report queries; a scale-killer when a corpus contains hot
      near-dup CLIQUES (boilerplate pages, SEO farms: whole buckets
      mutually near-identical — m^2 true pairs that downstream connected
      components immediately collapses to one cluster anyway).
    - ``"star"``: per bucket, evaluate only (anchor, member) pairs where
      anchor = the bucket's minimum representative id — O(m) evaluations
      and at most m-1 edges per bucket, scored by the same per-bucket
      kernel as ``"all"`` (an anchor-row block, mega-bucket split
      included), so both modes give bit-identical cosines for the pairs
      they share.  Exact-duplicate groups connect their members to the
      group representative the same way.  The output is a
      connectivity-preserving SUBSET of the "all" graph whenever the
      bucket's near-dup set forms a clique containing the anchor (the hot
      case this mode exists for): CC closes the clique transitively.
      Recall contract (documented, tested in test_functions.py): an edge
      A-B is lost iff neither A nor B qualifies against the bucket anchor
      in ANY shared bucket — chains through a bucket whose anchor sits
      outside the chain.  Use for clustering (``dedup_clusters`` /
      ``dedup_keep_best``), never for pair reports.
    """
    if pairs_mode not in ("all", "star"):
        raise ValueError(f"pairs_mode must be 'all' or 'star', got {pairs_mode!r}")
    keys = []
    if block_col:
        keys.append(F.col(block_col).alias("blk"))
    if lsh_bits:
        from scanner_spark.functions.simsearch import hyperplanes, lsh_bucket

        dim = int(df.select(F.size(vec_col).alias("d")).first()["d"])
        planes = hyperplanes(dim, lsh_bits)
        keys.append(lsh_bucket(F.col(vec_col), planes).alias("__bucket"))
    if not keys:
        keys = [F.lit(0).alias("blk")]
    # Arrow-batched arithmetic with explicit j-loops over dims: the loop
    # keeps the SEQUENTIAL summation order of the scalar definition (and
    # of DuckDB's list_dot_product) — numpy's .sum() would use pairwise
    # summation and break bit-exact oracle parity.  ~50x faster than the
    # interpreted zip_with/aggregate HOFs.  Squared norms are computed
    # ONCE per vector before the pair stage (identical bits to computing
    # them per pair), so the quadratic stage does only the dot product.
    @F.pandas_udf("double")
    def sq_norm(vs: pd.Series) -> pd.Series:
        A = np.stack(vs.to_numpy()).astype("float64")
        n = np.zeros(len(A))
        for j in range(A.shape[1]):
            n += A[:, j] * A[:, j]
        return pd.Series(n)

    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        sq_norm(F.col(vec_col)).alias("n2"),
        *keys,
    )
    key_names = [c for c in base.columns if c not in ("id", "v", "n2")]
    star = pairs_mode == "star"

    # Exact-duplicate collapse BEFORE the quadratic stage: bitwise-equal
    # vectors (ubiquitous in real corpora — re-crawls, mirrors; the sf1
    # bench corpus is 10x-duplicated by construction) are grouped to one
    # representative, the pair stage runs on DISTINCT vectors only, and
    # pairs expand back afterwards.  A group of m copies costs m output
    # rows instead of m^2 pair work — the duplicate factor falls out of
    # the quadratic term entirely.  Bit-exactness is free: cosine of any
    # member pair equals the representative pair's (identical arrays ->
    # identical dot and norms).
    # persist (not eager localCheckpoint): materialization happens on first
    # action, and partitions stay recomputable from lineage if an executor
    # dies — checkpointed blocks would not be
    reps = track(
        base.groupBy(*key_names, "v", "n2").agg(
            F.min("id").alias("rid"), F.collect_list("id").alias("ids")
        )
    )

    # Pair stage as ONE per-bucket Arrow job: grouping by the blocking key
    # ships each DISTINCT vector through the Python boundary exactly once
    # and accumulates the pairwise dots bucket-locally (a rep x rep join
    # would ship both vectors of every candidate pair: ~17 GB of Arrow
    # traffic for the 16.4M candidate pairs of sf10, against ~10 MB).
    # D[a, b] accumulates dim outer products in j order — the SAME
    # sequence of scalar multiply-adds as the scalar j-loop — dot/n2
    # round-trip Arrow as exact float64, and the authoritative
    # round()/threshold filter below is a JVM expression.  The Python-side
    # screen at (threshold - 1e-6) only drops pairs the exact filter
    # would drop anyway — round(x, 6) moves x by < 5e-7 — so survivors
    # are untouched while the emitted candidate set shrinks from O(m^2)
    # rows to the near-threshold ones.  Two memory bounds apply per task:
    # the dot matrix is built in row chunks of <= 8M doubles (64 MB), and
    # the mega-bucket triangle split below caps the rows any one task
    # stacks at ~2x COSINE_SPLIT_CHUNK (hash-balanced), so both the O(m*dim) vector
    # matrix and the near-threshold survivor arrays stay bounded however
    # hot a blocking key gets.
    pre_threshold = threshold - 1e-6
    _EMPTY_PAIRS = {
        "rid_a": pd.Series([], dtype="int64"),
        "rid_b": pd.Series([], dtype="int64"),
        "dot": pd.Series([], dtype="float64"),
        "n2a": pd.Series([], dtype="float64"),
        "n2b": pd.Series([], dtype="float64"),
    }

    def _bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        # One block of a bucket: rows of chunk ci (the a side) x rows of
        # chunk cj (the b side).  ci == cj is a triangle (every row of the
        # group is in that chunk; keep b after a), ci < cj a rectangle of
        # a split mega-bucket.  Chunks are disjoint hash classes of rid, so
        # each unordered pair appears in exactly one block and the block
        # union over (ci <= cj) is exactly the bucket's full pair triangle.
        # Emitted (rid_a, rid_b) need not be rid-ordered — the cosine is
        # orientation-independent and the all-mode output normalizes ids
        # with least/greatest.
        ci, cj = int(pdf["__ci"].iat[0]), int(pdf["__cj"].iat[0])
        pdf = pdf.sort_values("rid")
        pa, pb = pdf[pdf["__c"] == ci], pdf[pdf["__c"] == cj]
        if star:
            # anchor block: the anchor is the bucket's minimum rid, so it
            # heads its (sorted) chunk __ca; it becomes the block's only
            # a-side row, scored against every other row — anchor first,
            # so star pairs come out rid-ordered
            if int(pdf["__ca"].iat[0]) != ci:
                pa, pb = pb, pa
            pa = pa.iloc[:1]
        if len(pa) == 0 or len(pb) == 0:
            return pd.DataFrame(_EMPTY_PAIRS)
        ra, rb = pa["rid"].to_numpy(), pb["rid"].to_numpy()
        na2 = pa["n2"].to_numpy(dtype="float64")
        nb2 = pb["n2"].to_numpy(dtype="float64")
        A = np.stack(pa["v"].to_numpy()).astype("float64")
        Bm = np.stack(pb["v"].to_numpy()).astype("float64")
        sqa, sqb = np.sqrt(na2), np.sqrt(nb2)
        parts: list[tuple[np.ndarray, ...]] = []
        chunk = max(1, (8 << 20) // len(pb))
        for s in range(0, len(pa), chunk):
            e = min(len(pa), s + chunk)
            D = np.zeros((e - s, len(pb)))
            Ac = A[s:e]
            for j in range(A.shape[1]):
                D += np.multiply.outer(Ac[:, j], Bm[:, j])
            with np.errstate(divide="ignore", invalid="ignore"):
                keep = D / (sqa[s:e, None] * sqb[None, :]) >= pre_threshold
            if ci == cj:  # a-side rows are the leading b-side rows
                keep &= np.arange(len(pb))[None, :] > np.arange(s, e)[:, None]
            ri, cix = np.nonzero(keep)
            parts.append((ra[s + ri], rb[cix], D[ri, cix], na2[s + ri], nb2[cix]))
        cols = [np.concatenate(c) for c in zip(*parts)]
        return pd.DataFrame(
            {"rid_a": cols[0], "rid_b": cols[1], "dot": cols[2],
             "n2a": cols[3], "n2b": cols[4]}
        )

    # na.drop gives null blocking keys join semantics (null never equals
    # null, so a null key forms no bucket and emits no cross pairs).
    # The explicit repartition is load-bearing: the reps exchange is tiny
    # (keys + one vector per distinct vector), so AQE would coalesce it
    # to ~1 partition — and the pandas stage plus the whole downstream
    # pair fan-out (broadcast joins + explodes add no exchange) would run
    # single-threaded.  A user repartition with an explicit count is
    # exempt from AQE coalescing; the count follows the session's
    # parallelism, not a local constant.
    #
    # Mega-bucket triangle split: a pathological blocking key — one LSH
    # bucket holding millions of reps — would otherwise stack the WHOLE
    # bucket's vector matrix in one task (the §2.5 skew cliff: multi-GB
    # pandas group, one straggler).  Rows of an oversized bucket are
    # hashed into nch = ceil(|bucket| / COSINE_SPLIT_CHUNK) chunks;
    # sub-group (i, j), i <= j, receives chunks i and j and computes the
    # triangle (i == j) or rectangle (i < j) block.  Every unordered rep
    # pair lands in exactly one sub-group (same chunk -> that chunk's
    # triangle, different chunks -> the one (min, max) rectangle), so the
    # union over sub-groups is exactly the unsplit pair triangle with
    # per-pair bit-identical dots, while any one task holds ~2
    # hash-balanced chunks of rows.  Star mode keeps only the sub-groups
    # that hold the anchor's chunk: nch tasks instead of nch(nch+1)/2.
    # The oversized-bucket set (with each one's anchor, min rid) is found
    # with one aggregate over the persisted reps and broadcast back — it
    # is tiny by construction (each row represents > chunk_sz reps), so
    # the common case (every real corpus so far: sf10's max block is 1973
    # reps) pays no window, no sort and no extra exchange of the vector
    # column: every row left-joins to null, lands in chunk 0 of 1 and
    # takes the whole bucket as one group.  (A first cut used
    # row_number over the bucket instead: exact chunk bounds, but the
    # window's exchange+sort of the full reps table measured +8-9 s on
    # the sf10 row — the guard must be free when it does not trigger.)
    chunk_sz = int(split_chunk if split_chunk is not None else COSINE_SPLIT_CHUNK)
    nparts = reps.sparkSession.sparkContext.defaultParallelism
    nn = reps.na.drop(subset=key_names)
    big = (
        nn.groupBy(*key_names)
        .agg(F.count(F.lit(1)).alias("__n"), F.min("rid").alias("__anchor"))
        .filter(F.col("__n") > chunk_sz)
    )
    sub = (
        F.when(
            F.col("__c") > 0,
            F.transform(
                F.sequence(F.lit(0), F.col("__c") - 1),
                lambda i: F.struct(
                    i.cast("int").alias("i"), F.col("__c").alias("j")
                ),
            ),
        )
        .otherwise(F.array().cast("array<struct<i:int,j:int>>"))
    )
    sub = F.concat(
        sub,
        F.transform(
            F.sequence(F.col("__c"), F.col("__nch") - 1),
            lambda j: F.struct(F.col("__c").alias("i"), j.cast("int").alias("j")),
        ),
    )
    cand = (
        nn.join(F.broadcast(big), key_names, "left")
        .withColumn(
            "__nch",
            F.coalesce(
                F.ceil(F.col("__n") / F.lit(chunk_sz)).cast("int"), F.lit(1)
            ),
        )
        .withColumn("__c", F.pmod(F.xxhash64("rid"), F.col("__nch")).cast("int"))
        # anchor chunk; an unsplit bucket has __nch = 1, so 0 whatever
        # the null __anchor hashes to
        .withColumn(
            "__ca", F.pmod(F.xxhash64("__anchor"), F.col("__nch")).cast("int")
        )
        .withColumn("__sub", F.explode(sub))
        .select(
            *key_names,
            "rid",
            "v",
            "n2",
            "__c",
            "__ca",
            F.col("__sub.i").alias("__ci"),
            F.col("__sub.j").alias("__cj"),
        )
    )
    if star:
        cand = cand.filter(
            (F.col("__ci") == F.col("__ca")) | (F.col("__cj") == F.col("__ca"))
        )
    cand = (
        cand.repartition(nparts, *key_names, "__ci", "__cj")
        .groupBy(*key_names, "__ci", "__cj")
        .applyInPandas(
            _bucket_pairs, "rid_a long, rid_b long, dot double, n2a double, n2b double"
        )
    )

    def scored(pairs: DataFrame, dot: str, n2a: str, n2b: str) -> DataFrame:
        return pairs.withColumn(
            "cosine",
            F.round(F.col(dot) / (F.sqrt(F.col(n2a)) * F.sqrt(F.col(n2b))), 6),
        ).filter(F.col("cosine") >= threshold)

    cross = scored(cand, "dot", "n2a", "n2b")
    # intra-group pairs: identical vectors, cosine = n2/(sqrt(n2)*sqrt(n2))
    # rounded — the same floating-point path the member pair would take
    intra = scored(reps.filter(F.size("ids") > 1), "n2", "n2", "n2")
    if star:
        # rep-level (anchor, member) edges; each exact-duplicate member
        # links to its group representative (m-1 edges per group)
        return cross.select(
            F.col("rid_a").alias("id_a"), F.col("rid_b").alias("id_b"), "cosine"
        ).unionByName(
            intra.select(
                F.col("rid").alias("id_a"), F.explode("ids").alias("id_b"), "cosine"
            ).filter(F.col("id_a") != F.col("id_b"))
        )
    idmap = reps.select("rid", "ids")
    cross = (
        # rebalance before the group-id expansion: candidate pairs leave
        # the pandas stage partitioned by blocking key (quadratic in
        # bucket size, so hot buckets skew), while (rid_a, rid_b) has
        # ~one distinct value per pair and spreads the explode fan-out
        # evenly; project first so the exchange carries only the three
        # columns the expansion needs
        cross.select("rid_a", "rid_b", "cosine")
        .repartition(nparts, "rid_a", "rid_b")
        .join(
            idmap.select(F.col("rid").alias("rid_a"), F.col("ids").alias("ids_a")),
            "rid_a",
        )
        .join(
            idmap.select(F.col("rid").alias("rid_b"), F.col("ids").alias("ids_b")),
            "rid_b",
        )
        # expand group x group; output ids ordered per-pair
        .select(F.explode("ids_a").alias("ia"), F.col("ids_b").alias("ibs"), "cosine")
        .select("ia", F.explode("ibs").alias("ib"), "cosine")
        .select(
            F.least("ia", "ib").alias("id_a"),
            F.greatest("ia", "ib").alias("id_b"),
            "cosine",
        )
    )
    intra = (
        intra.select(F.explode("ids").alias("id_a"), F.col("ids").alias("ibs"), "cosine")
        .select("id_a", F.explode("ibs").alias("id_b"), "cosine")
        .filter(F.col("id_a") < F.col("id_b"))
    )
    return cross.unionByName(intra)
