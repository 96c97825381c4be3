"""Similarity search over embedding columns (array<float>).

Two paths, same contract:

- ``knn_brute``: exact top-k by cosine — a single narrow projection
  (JVM-side zip_with/aggregate dot product) + a top-k sort.  At 100 TB the
  projection is embarrassingly parallel and the sort is a k-row
  TakeOrdered, not a full shuffle.  This is the baseline/verifier.
- ``knn_lsh``: random-hyperplane LSH — each vector gets a ``bits``-bit
  bucket from deterministic hyperplanes; the query probes its own bucket
  (and optionally neighbors at Hamming distance 1).  Bucketing is a narrow
  projection; the candidate scan reads only matching buckets — with the
  bucket as a partition key, partition pruning makes this sub-linear.
"""

from __future__ import annotations

import functools
import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _lit_vec(vec) -> "F.Column":
    return F.array(*[F.lit(float(x)) for x in vec])


def cosine_to(vec_col, query: list[float]):
    """Cosine similarity of an array column to a literal query vector."""
    q = _lit_vec(query)
    qn = math.sqrt(sum(float(x) * float(x) for x in query))
    nrm = F.sqrt(F.aggregate(vec_col, F.lit(0.0), lambda a, x: a + x * x))
    return _dot(vec_col, q) / (nrm * F.lit(qn))


def knn_brute(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k cosine neighbors of a literal query vector.
    Deterministic: ties broken by id.  Output: (id, score)."""
    scored = df.select(
        F.col(id_col).alias("id"),
        F.round(cosine_to(F.col(vec_col), query), 6).alias("score"),
    )
    return scored.orderBy(F.col("score").desc(), F.col("id").asc()).limit(k)


def hyperplanes(dim: int, bits: int, seed: int = 7) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (engine-free LCG -> uniform
    in [-1, 1]); literal constants so both Spark and the SQL oracle can
    inline them."""
    planes, x = [], seed
    for _ in range(bits):
        row = []
        for _ in range(dim):
            x = (1103515245 * x + 12345) % (1 << 31)
            row.append(round(x / float(1 << 30) - 1.0, 6))
        planes.append(row)
    return planes


@functools.lru_cache(maxsize=None)
def _plane_matrix(dim: int, bits: int) -> np.ndarray:
    return np.asarray(hyperplanes(dim, bits), dtype="float64")  # (bits, dim)


def lsh_bucket(vec_col, bits: int):
    """Bucket id = sign-bit pattern of the vector against each of ``bits``
    hyperplanes (``hyperplanes(dim, bits)``, dim = the vectors' length,
    read from each batch; vectors of mixed lengths raise ``ValueError``).

    One Arrow-batched pandas UDF doing a (batch x dim) @ (dim x bits)
    numpy matmul — a single vectorized pass.  (The per-plane JVM
    fold-expression alternative bloats Catalyst analysis/codegen with
    ``bits`` giant literal aggregates and runs slower even at small scale.)
    """
    weights = 1 << np.arange(bits, dtype="int64")

    @F.pandas_udf("long")
    def bucket(vecs: pd.Series) -> pd.Series:
        dims = set(vecs.map(len))
        if len(dims) > 1:
            raise ValueError(f"lsh_bucket: vectors of mixed lengths {sorted(dims)}")
        m = np.stack(vecs.to_numpy()).astype("float64")  # (batch, dim)
        pl = _plane_matrix(m.shape[1], bits)
        # per-dim accumulation, NOT matmul: the explicit j-loop reproduces
        # the SEQUENTIAL summation of a scalar dot product (and of DuckDB's
        # list_dot_product), so bucket sign bits are bit-identical to the
        # SQL oracle; numpy's matmul uses pairwise/blocked summation whose
        # rounding can flip a sign at the hyperplane boundary
        signs = np.empty((m.shape[0], bits), dtype=bool)
        for b in range(bits):
            acc = np.zeros(m.shape[0])
            for j in range(m.shape[1]):
                acc += m[:, j] * pl[b, j]
            signs[:, b] = acc > 0
        return pd.Series(signs @ weights)

    return bucket(vec_col)


def knn_lsh(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    bits: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    multiprobe: bool = True,
) -> DataFrame:
    """Approximate top-k: score only vectors in the query's LSH bucket
    (plus Hamming-1 neighbor buckets when ``multiprobe``).  Output:
    (id, score)."""
    qb = 0
    for j, p in enumerate(hyperplanes(len(query), bits)):
        if sum(float(a) * float(b) for a, b in zip(query, p)) > 0:
            qb |= 1 << j
    probe = [qb] + ([qb ^ (1 << j) for j in range(bits)] if multiprobe else [])
    bucketed = df.withColumn("__bucket", lsh_bucket(F.col(vec_col), bits))
    cand = bucketed.filter(F.col("__bucket").isin(probe))
    return knn_brute(cand, query, k, vec_col, id_col)


def _cell_expr(vec_col, centroids: list[list[float]]):
    """Nearest-centroid id as a JVM expression: lexicographic struct min
    over (sequential-fold sqdist, cid) — bit-reproducible by any engine
    that sums the term list left-to-right (the contract
    ``cluster.assign`` and its DuckDB oracle already share)."""
    from scanner_spark.functions.cluster import sqdist_to

    cands = F.array(
        *[
            F.struct(sqdist_to(vec_col, c).alias("dist"), F.lit(i).alias("cid"))
            for i, c in enumerate(centroids)
        ]
    )
    return F.array_min(cands)["cid"]


def ivf_index(
    df: DataFrame,
    nlist: int = 16,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[DataFrame, list[list[float]]]:
    """IVF coarse quantizer: k-means-lite centroids + per-vector cell
    assignment — the inverted-file ANN scale path (write parquet
    partitioned by ``cell`` and probes prune partitions).

    Deterministic, cross-engine-reproducible (the same contract as
    ``cluster.kmeans``): seeds are the ``nlist`` lowest-id vectors,
    assignment is the sequential-fold sqdist argmin (``_cell_expr``), and
    each Lloyd iteration recomputes means via one groupBy on (cell, dim)
    ROUNDED to 6 decimals — so a SQL twin unrolling the same iterations
    hash-matches bit for bit.  Only nlist x dim floats ever reach the
    driver.  Returns (df + ``cell`` column, centroids)."""
    seeds = (
        df.orderBy(id_col)
        .limit(nlist)
        .select(vec_col)
        .collect()
    )
    centroids = [[float(x) for x in r[vec_col]] for r in seeds]
    for _ in range(iters):
        assigned = df.withColumn("cell", _cell_expr(F.col(vec_col), centroids))
        means = (
            assigned.select("cell", F.posexplode(vec_col).alias("dim", "x"))
            .groupBy("cell", "dim")
            .agg(F.round(F.avg("x"), 6).alias("m"))
            .groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("ms"))
            .collect()
        )
        new_c = list(centroids)
        for r in means:
            new_c[r["cell"]] = [float(s["m"]) for s in r["ms"]]
        centroids = new_c
    return df.withColumn("cell", _cell_expr(F.col(vec_col), centroids)), centroids


def _probe_cells(centroids: list[list[float]], query: list[float],
                 nprobe: int) -> list[int]:
    """The ``nprobe`` cell ids nearest the query.  Ranking uses the same
    sequential left-to-right fold as the SQL twin's
    list_sum(list_transform(...)) — numpy's pairwise summation can pick a
    different probe set on near-tied cell distances (ADVICE r06)."""
    qf = [float(x) for x in query]
    d2 = []
    for c in centroids:
        acc = 0.0
        for qi, ci in zip(qf, c):
            acc += (qi - ci) * (qi - ci)
        d2.append(acc)
    return sorted(range(len(d2)), key=lambda i: (d2[i], i))[:nprobe]


def ivf_build(
    df: DataFrame,
    path: str,
    nlist: int = 16,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    data_key: str = "",
) -> list[list[float]]:
    """Train the IVF coarse quantizer ONCE and persist the inverted file:
    parquet partitioned by ``cell`` at ``path`` plus a JSON sidecar with
    the centroids and build parameters.  ``ivf_search`` then reads only
    the probed cells via partition pruning — the build/serve split the
    r7 review asked for (the previous ``knn_ivf`` retrained per call,
    conflating index construction with lookup: at 100 TB every query
    would re-scan the corpus twice).  ``data_key`` fingerprints the
    source data so a stale index is rebuilt, not silently served.
    Returns the centroids."""
    import json
    import os

    indexed, centroids = ivf_index(
        df, nlist, iters, vec_col=vec_col, id_col=id_col
    )
    # Atomic build (ADVICE r08): write the whole index — parquet AND
    # sidecar — to a staging path, then os.rename into place.  A reader
    # probing ``path`` mid-build sees either the old complete index or
    # the new complete index, never parquet-without-sidecar; and two
    # concurrent builders race on the rename, not on partial writes.
    import shutil
    import uuid

    stage = f"{path}.build-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    indexed.write.mode("overwrite").partitionBy("cell").parquet(stage)
    meta = {
        "nlist": nlist,
        "iters": iters,
        "vec_col": vec_col,
        "id_col": id_col,
        "data_key": data_key,
        "centroids": centroids,
    }
    with open(os.path.join(stage, "_ivf_meta.json"), "w") as f:
        json.dump(meta, f)
    old = None
    if os.path.exists(path):
        # move the stale index aside first — rename() can't replace a
        # non-empty directory
        old = f"{path}.old-{uuid.uuid4().hex[:8]}"
        os.rename(path, old)
    try:
        os.rename(stage, path)
    except OSError:
        # a concurrent builder won the race; its index is equivalent
        # (same data_key) — discard ours
        shutil.rmtree(stage, ignore_errors=True)
    if old is not None:
        shutil.rmtree(old, ignore_errors=True)
    return centroids


def ivf_meta(path: str) -> dict | None:
    """The build sidecar at ``path``, or None when absent/unreadable."""
    import json
    import os

    p = os.path.join(path, "_ivf_meta.json")
    try:
        with open(p) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def ivf_search(
    spark,
    path: str,
    query: list[float],
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """Serve leg of the IVF split: read ONLY the ``nprobe`` probed cells
    from the partitioned index (Spark prunes the non-probed ``cell=...``
    directories at planning time — verify with .explain: the scan's
    PartitionFilters carries ``cell IN (...)``), brute-force inside them.
    Never touches the quantizer or the rest of the corpus."""
    meta = ivf_meta(path)
    if meta is None:
        raise FileNotFoundError(
            f"no IVF index at {path} — run ivf_build first"
        )
    probes = _probe_cells(meta["centroids"], query, nprobe)
    cand = spark.read.parquet(path).filter(F.col("cell").isin(probes))
    return knn_brute(cand, query, k, meta["vec_col"], meta["id_col"])


def knn_ivf(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    index_path: str | None = None,
    data_key: str = "",
) -> DataFrame:
    """Approximate top-k via IVF: probe the ``nprobe`` cells whose
    centroids are nearest the query, brute-force only inside them.
    Output: (id, score).

    With ``index_path`` the persisted-index flow runs: build once
    (skipped when the sidecar matches nlist/data_key), then serve via
    ``ivf_search`` partition pruning.  Without it, the legacy inline
    train+filter keeps small/ad-hoc callers and the recall tests
    dependency-free."""
    if index_path is not None:
        meta = ivf_meta(index_path)
        # .get(): a sidecar from an older/foreign build missing a key must
        # fall into the rebuild branch, not crash the query with KeyError
        if (
            meta is None
            or meta.get("nlist") != nlist
            or meta.get("data_key") != data_key
            or meta.get("vec_col") != vec_col
            or meta.get("id_col") != id_col
        ):
            ivf_build(
                df, index_path, nlist, vec_col=vec_col, id_col=id_col,
                data_key=data_key,
            )
        return ivf_search(
            df.sparkSession, index_path, query, k=k, nprobe=nprobe
        )
    indexed, centroids = ivf_index(df, nlist, vec_col=vec_col, id_col=id_col)
    probes = _probe_cells(centroids, query, nprobe)
    cand = indexed.filter(F.col("cell").isin(probes))
    return knn_brute(cand, query, k, vec_col, id_col)


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bits: int = 8,
) -> DataFrame:
    """Symmetric per-vector integer quantization of an embedding column —
    the compression step a 100 TB ANN index needs (int8 cuts vector
    storage/shuffle 4x vs float32; scan cost drops proportionally).

    scale = max|x| / (2^(bits-1) - 1); q_i = floor(x_i / scale + 0.5)
    (floor(+0.5) rounding is engine-portable where banker's rounding is
    not).  All-zero vectors quantize to zeros with scale 0.  Pure JVM
    higher-order functions over the array — a narrow projection, no
    shuffle, no Python.  Output: (id, scale, q array<int>).

    Evaluate-once discipline: ``scale`` must cross a Generate barrier (the
    1-element explode) before the per-element lambda touches it — a lambda
    capturing the raw ``array_max(...)/levels`` expression lets
    CollapseProject inline the whole max scan PER ELEMENT, O(dim²) per row
    (measured 13.7 s -> 1.4 s at sf3; same trap as
    ``relevance.bigram_familiarity`` and
    ``streaming.dedup.banded_minhash_rows``)."""
    levels = float((1 << (bits - 1)) - 1)
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = amax / F.lit(levels)
    staged = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array(F.struct(v.alias("v"), scale.alias("scale")))
        ).alias("s"),
    )
    sv, sc = F.col("s.v"), F.col("s.scale")
    q = F.when(
        sc > 0,
        F.transform(sv, lambda x: F.floor(x / sc + F.lit(0.5)).cast("int")),
    ).otherwise(F.transform(sv, lambda x: F.lit(0)))
    return staged.select("id", sc.alias("scale"), q.alias("q"))


def dequantize(q_col, scale_col):
    """Inverse map: float reconstruction of a quantized vector."""
    return F.transform(q_col, lambda qi: qi.cast("double") * scale_col)


def pq_train(
    df: DataFrame,
    m: int = 8,
    ksub: int = 16,
    iters: int = 5,
    sample: int = 2048,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list:
    """Product-quantizer codebooks: the dimension splits into ``m``
    subspaces and each gets a ``ksub``-entry k-means codebook — vectors
    compress to m small codes (m bytes at ksub<=256), the standard
    memory/IO shape for billion-scale ANN (Jegou et al., PQ for nearest
    neighbor search).

    Training runs on a bounded DETERMINISTIC sample (the ``sample``
    lowest-id vectors) on the driver — the faiss practice; codebook
    training needs thousands of examples, not the corpus.  Only sample x
    dim floats ever reach the driver.  Returns (m, ksub, dsub) nested
    lists.

    Cross-engine determinism contract (same as ``cluster.kmeans`` /
    ``ivf_index``): seeds are the first ``ksub`` subvectors in id order,
    distances accumulate dimension-by-dimension left to right (the SQL
    twin's ``list_sum(list_transform(...))`` fold), argmin breaks ties
    toward the lowest centroid id, and each Lloyd update rounds the mean
    to 6 decimals HALF_UP — so the unrolled DuckDB twin in
    ``__spark_entry__`` hash-matches the trained codebooks bit for
    bit."""
    rows = df.orderBy(id_col).limit(sample).select(vec_col).collect()
    X = np.array([[float(x) for x in r[vec_col]] for r in rows], dtype="float64")
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    books = []
    for j in range(m):
        S = X[:, j * dsub : (j + 1) * dsub]
        C = S[: min(ksub, len(S))].copy()
        for _ in range(iters):
            a = _seq_sqdist_matrix(S, C).argmin(axis=1)  # first-min ties
            for c in range(len(C)):
                mask = a == c
                if mask.any():
                    C[c] = [_round_half_up6(v) for v in S[mask].mean(axis=0)]
        books.append(C.tolist())
    return books


def _seq_sqdist_matrix(S: np.ndarray, C: np.ndarray) -> np.ndarray:
    """(n, k) squared L2 distances accumulated dimension-by-dimension in a
    left-to-right fold — bit-identical to the SQL twin's
    ``list_sum(list_transform(...))`` (numpy's pairwise summation is
    not)."""
    d2 = np.zeros((S.shape[0], C.shape[0]), dtype="float64")
    for d in range(S.shape[1]):
        diff = S[:, d, None] - C[None, :, d]
        d2 += diff * diff
    return d2


def _round_half_up6(v: float) -> float:
    """round(v, 6) with HALF_UP decimal semantics — what Spark's F.round
    and DuckDB's round() implement; Python/numpy round are banker's."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(float(v)).quantize(Decimal("0.000001"), ROUND_HALF_UP))


def pq_encode(
    df: DataFrame,
    codebooks: list,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Vector -> m nearest-centroid codes.  One Arrow batch computes all
    subspace assignments with broadcast codebook matmuls — embarrassingly
    parallel, no shuffle.  Output: (id, codes array<int>)."""
    CB = [np.asarray(b, dtype="float64") for b in codebooks]
    dsub = CB[0].shape[1]

    @F.pandas_udf("array<int>")
    def enc(vecs: pd.Series) -> pd.Series:
        X = np.stack(vecs.to_numpy()).astype("float64")
        codes = np.empty((len(X), len(CB)), dtype="int32")
        for j, C in enumerate(CB):
            S = X[:, j * dsub : (j + 1) * dsub]
            # sequential-fold distances + first-min argmin: the exact
            # assignment the SQL twin's (dist, cid) ordering produces —
            # the matmul trick (|c|^2 - 2 s.c) rounds differently and can
            # flip near-tied codes across engines
            codes[:, j] = np.argmin(_seq_sqdist_matrix(S, C), axis=1)
        return pd.Series(list(codes))

    return df.select(F.col(id_col).alias("id"), enc(F.col(vec_col)).alias("codes"))


def knn_pq_adc(
    df: DataFrame,
    query: list,
    k: int = 10,
    m: int = 8,
    ksub: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    codebooks: list | None = None,
) -> DataFrame:
    """Approximate top-k by PQ asymmetric distance (ADC): precompute the
    query's (m x ksub) subspace distance table, score each code vector as
    a table-lookup sum — the scan reads m ints per vector instead of the
    full float array.  Output: (id, adc_dist), ascending (L2^2
    approximation), ties by id."""
    if codebooks is None:
        codebooks = pq_train(df, m=m, ksub=ksub, vec_col=vec_col, id_col=id_col)
    CB = [np.asarray(b, dtype="float64") for b in codebooks]
    dsub = CB[0].shape[1]
    q = np.asarray([float(x) for x in query], dtype="float64")
    # (m, ksub) subspace distance table, sequential per-dim fold (contract)
    table = np.stack(
        [
            _seq_sqdist_matrix(q[j * dsub : (j + 1) * dsub][None, :], C)[0]
            for j, C in enumerate(CB)
        ]
    )

    @F.pandas_udf("double")
    def adc(codes: pd.Series) -> pd.Series:
        M = np.stack(codes.to_numpy()).astype("int64")  # (batch, m)
        # left-to-right fold over subspaces matches the twin's ordered
        # list_sum(list(d ORDER BY j))
        acc = np.zeros(len(M), dtype="float64")
        for j in range(table.shape[0]):
            acc += table[j, M[:, j]]
        return pd.Series(acc)

    codes = pq_encode(df, codebooks, vec_col, id_col)
    return (
        codes.select("id", F.round(adc(F.col("codes")), 6).alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col("id").asc())
        .limit(k)
    )
