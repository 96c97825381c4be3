"""Text / dedup / simsearch / multimodal behavior on constructed inputs
with known answers, plus the real documents/embeddings tables."""

import hashlib
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from scanner_spark.functions import dedup, multimodal, simsearch, text
from scanner_spark.io import read_table


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (2, "the quick brown fox jumps over a lazy dog"),  # near dup of 0
        (3, "der hund ist nicht der gleiche und das ist gut"),  # german
        (4, "completely different content about spark engines"),
        (5, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


@pytest.fixture(scope="module")
def real_docs(spark, sf_dir):
    return read_table(spark, sf_dir, "documents").cache()


@pytest.fixture(scope="module")
def real_embs(spark, sf_dir):
    return read_table(spark, sf_dir, "embeddings").cache()


# ---- text ------------------------------------------------------------------

def test_token_count(docs):
    got = {r.doc_id: r.n for r in docs.select("doc_id", text.token_count(F.col("text")).alias("n")).collect()}
    assert got[0] == 9
    assert got[4] == 6


def test_lang_id(docs):
    got = {r.doc_id: r.lang for r in docs.select("doc_id", text.lang_id(F.col("text")).alias("lang")).collect()}
    assert got[0] == "en"
    assert got[3] == "de"


def test_quality_and_fingerprint(docs):
    out = text.analyze(docs.filter("doc_id < 5")).collect()
    by_id = {r.doc_id: r for r in out}
    assert 0.0 <= by_id[0].quality <= 1.0
    # exact dups share fingerprints; word-order permutation also does
    assert by_id[0].fingerprint == by_id[1].fingerprint
    assert by_id[0].fingerprint != by_id[4].fingerprint


def test_rolling_fingerprint(docs, spark):
    roll = text.rolling_fingerprint_udf()
    out = {r.doc_id: r.h for r in docs.select("doc_id", roll(F.col("text")).alias("h")).collect()}
    assert out[0] == out[1] != out[2]
    # matches the reference implementation of the polynomial hash
    MOD, BASE = (1 << 61) - 1, 257
    h = 0
    for ch in "the quick brown fox jumps over the lazy dog":
        h = (h * BASE + ord(ch)) % MOD
    assert out[0] == h


def test_mulmod61_matches_python_ints():
    import numpy as np

    MOD = (1 << 61) - 1
    rng = np.random.default_rng(3)
    a = rng.integers(0, MOD, size=1000, dtype=np.uint64)
    b = rng.integers(0, MOD, size=1000, dtype=np.uint64)
    # edge values: 0, 1, MOD-1 in both operands
    edges = np.array([0, 1, MOD - 1, MOD - 1, 2**32, 2**32 - 1], dtype=np.uint64)
    a = np.concatenate([a, edges])
    b = np.concatenate([b, edges[::-1]])
    got = text._mulmod61(a, b)
    expect = [(int(x) * int(y)) % MOD for x, y in zip(a, b)]
    assert got.tolist() == expect


def test_rolling_fingerprint_unicode_and_empty(docs, spark):
    df = spark.createDataFrame(
        [(0, ""), (1, None), (2, "héllo wörld ✓"), (3, "a" * 5000)],
        "doc_id long, text string",
    )
    roll = text.rolling_fingerprint_udf()
    out = {r.doc_id: r.h for r in df.select("doc_id", roll(F.col("text")).alias("h")).collect()}
    MOD, BASE = (1 << 61) - 1, 257

    def ref(t):
        h = 0
        for ch in t:
            h = (h * BASE + ord(ch)) % MOD
        return h

    assert out[0] == 0 and out[1] == 0
    assert out[2] == ref("héllo wörld ✓")
    assert out[3] == ref("a" * 5000)


# ---- dedup -------------------------------------------------------------------

def test_ngram_jaccard(docs):
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs.filter("doc_id < 5"), threshold=0.3).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and 0.3 <= pairs[(0, 2)] < 1.0
    assert (0, 4) not in pairs


def test_minhash_lsh_finds_exact_and_near(docs):
    pairs = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in dedup.minhash_lsh_pairs(docs.filter("doc_id < 5"), threshold=0.4).collect()
    }
    assert pairs[(0, 1)] == 1.0  # identical docs always collide
    assert all(a < b for a, b in pairs)


def test_simhash_near_dup(docs):
    sigs = {r.doc: r.simhash for r in dedup.simhash(docs.filter("doc_id < 5")).collect()}
    assert sigs[0] == sigs[1]
    ham02 = bin(sigs[0] ^ sigs[2]).count("1")
    ham04 = bin(sigs[0] ^ sigs[4]).count("1")
    assert ham02 < ham04  # near-dup closer than unrelated
    pairs = {(r.doc_a, r.doc_b) for r in dedup.simhash_pairs(docs.filter("doc_id < 5"), max_hamming=ham02).collect()}
    assert (0, 1) in pairs


def test_simhash_rotation_finds_prefix_differing_pair(spark):
    """The round-2 recall gap: two signatures differing ONLY in the top
    (old prefix-block) bits must still pair.  The block-rotation scheme
    guarantees it for hamming <= n_blocks - 1."""
    top3 = 0b111 << 45  # hamming 3, entirely inside the old 12-bit prefix
    sig = spark.createDataFrame(
        [(0, 0), (1, top3), (2, (1 << 48) - 1)], "doc long, simhash long"
    )
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in dedup.simhash_pairs_from_sigs(sig, max_hamming=3).collect()
    }
    assert got == {(0, 1): 3}


def test_simhash_rotation_full_recall_vs_brute_force(docs, spark):
    """Candidate blocking loses NOTHING inside the radius: block-rotation
    pairs == brute-force all-pairs at the same threshold, on real docs."""
    sig = dedup.simhash(docs)
    rows = sig.collect()
    brute = {
        (a.doc, b.doc): bin(a.simhash ^ b.simhash).count("1")
        for a in rows
        for b in rows
        if a.doc < b.doc and bin(a.simhash ^ b.simhash).count("1") <= 8
    }
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in dedup.simhash_pairs_from_sigs(sig, max_hamming=8).collect()
    }
    assert got == brute


def test_simhash_blocks_partition():
    blocks = dedup.simhash_blocks(48, 9)
    assert len(blocks) == 9
    assert sum(size for _, size in blocks) == 48
    # contiguous, no overlap
    pos = 0
    for start, size in blocks:
        assert start == pos
        pos += size


def test_cosine_dup_pairs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0], 0),
        (1, [0.999, 0.01, 0.0], 0),
        (2, [0.0, 1.0, 0.0], 0),
        (3, [1.0, 0.0, 0.0], 1),  # same vec as 0 but different block
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    pairs = {(r.id_a, r.id_b) for r in dedup.cosine_dup_pairs(df, threshold=0.99).collect()}
    assert pairs == {(0, 1)}  # blocking excludes (0,3); (0,2) orthogonal


def test_cosine_star_mode_clique_components_match_brute(spark):
    """pairs_mode='star' recall contract (VERDICT r05 #4): on a hot
    near-dup CLIQUE — the case star mode exists for — connected components
    are identical to the all-pairs graph's, with O(m) edges instead of
    O(m^2).  Fixture: a 12-member clique of tiny perturbations around one
    base vector (every pair mutually >= threshold, anchor included), plus
    exact duplicates, plus unrelated outliers."""
    import numpy as np

    rng = np.random.default_rng(7)
    base = np.array([1.0, 2.0, 3.0, 4.0])
    rows = []
    for i in range(12):  # clique: cosine(any pair) ~ 1 - 1e-6
        v = base + rng.normal(0, 1e-4, 4)
        rows.append((i, [float(x) for x in v], 0))
    rows.append((20, [float(x) for x in base], 0))  # exact dup of nothing,
    rows.append((21, [float(x) for x in base], 0))  # but 20/21 identical
    rows.append((30, [4.0, -3.0, 2.0, -1.0], 0))  # outliers, unrelated
    rows.append((31, [-1.0, 4.0, -3.0, 2.0], 0))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")

    def comps(mode):
        pairs = dedup.cosine_dup_pairs(
            df, threshold=0.98, pairs_mode=mode
        ).select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
        cc = dedup.connected_components(pairs)
        return {(r.doc, r.component) for r in cc.collect()}

    star, allp = comps("star"), comps("all")
    assert star == allp
    # edge-count bound: star emits <= m-1 edges per bucket + m-1 per
    # exact-dup group; all-pairs emits the full quadratic set here
    n_star = dedup.cosine_dup_pairs(df, threshold=0.98, pairs_mode="star").count()
    n_all = dedup.cosine_dup_pairs(df, threshold=0.98, pairs_mode="all").count()
    assert n_star < n_all and n_star <= len(rows) - 1

    with pytest.raises(ValueError, match="pairs_mode"):
        dedup.cosine_dup_pairs(df, pairs_mode="chain")


@pytest.mark.parametrize(
    "pairs_mode,split_chunk",
    [("all", None), ("all", 7), ("star", None), ("star", 7)],
    ids=["None", "7", "star-None", "star-7"],
)
def test_cosine_all_pairs_bit_identical_to_join_form(
    spark, monkeypatch, pairs_mode, split_chunk
):
    """The per-bucket pair kernel (applyInPandas, outer-product
    accumulation, slack prefilter) must reproduce a literal pairwise
    replay EXACTLY — same pairs, bit-identical cosine doubles — in both
    pair modes, including exact-duplicate groups, a pair landing exactly
    on the threshold, and the null-blocking-key join semantics (null
    never equals null, so a null label emits no cross pairs).

    ``pairs_mode="all"`` replays every rep pair of a label and expands
    exact-duplicate groups to member pairs; ``"star"`` replays only
    (anchor, rep) pairs, anchor = the label's minimum rep id, and links
    each duplicate member to its representative.  ``split_chunk=7``
    (``COSINE_SPLIT_CHUNK`` patched to 7) forces the mega-bucket triangle
    split (the 82-row bucket becomes 12 vector-hash chunks -> 78
    triangle/rectangle sub-tasks; star keeps the 12 holding the anchor's
    chunk and the 11 other triangles; the 21-row one 3 chunks) and must
    reproduce the identical pair set and bits, each pair once — the
    duplicate group 0/90/91 sits in a chunk of its own rectangles too,
    so its intra pairs must come from its triangle alone."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(123)
    dim = 16
    rows = []
    base = rng.normal(size=dim)
    for i in range(40):  # near-dup cloud around base (well above threshold)
        v = base + rng.normal(0, 0.02, dim)
        rows.append((i, [float(x) for x in v], "a"))
    for i in range(40, 80):  # random cloud (cosines straddle the threshold)
        rows.append((i, [float(x) for x in rng.normal(size=dim)], "a"))
    rows.append((90, rows[0][1], "a"))  # exact dup group with id 0
    rows.append((91, rows[0][1], "a"))
    rows.append((95, rows[50][1], None))  # null label: no cross pairs
    rows.append((96, rows[50][1], None))
    # second label: split into 3 chunks, its anchor (100) hashes to chunk
    # 1, so star's rectangle blocks hold the anchor on either side
    base_b = rng.normal(size=dim)
    for i in range(100, 121):
        v = base_b + rng.normal(0, 0.5 if i % 2 else 0.02, dim)
        rows.append((i, [float(x) for x in v], "b"))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    threshold = 0.3
    star = pairs_mode == "star"

    if split_chunk is not None:
        monkeypatch.setattr(dedup, "COSINE_SPLIT_CHUNK", split_chunk)
    rows_out = dedup.cosine_dup_pairs(
        df, threshold=threshold, pairs_mode=pairs_mode
    ).collect()
    got = {(r.id_a, r.id_b): r.cosine for r in rows_out}
    assert len(got) == len(rows_out)  # each pair once, split or not

    # reference: per-pair j-loop dot (sequential scalar adds), JVM round
    # + division reproduced through a Spark expression on the
    # driver-built pairs
    pdf = pd.DataFrame(rows, columns=["id", "v", "label"])
    reps = {}
    for _, r in pdf.iterrows():
        key = (r["label"], tuple(r["v"]))
        reps.setdefault(key, []).append(int(r["id"]))
    rep_rows = []
    for (label, v), ids in reps.items():
        a = np.asarray(v, dtype="float64")
        n2 = 0.0
        for j in range(dim):
            n2 += a[j] * a[j]
        rep_rows.append((min(ids), sorted(ids), label, list(v), n2))
    anchor = {}
    for ra, _, la, _, _ in rep_rows:
        if la is not None:
            anchor[la] = min(ra, anchor.get(la, ra))
    pair_rows = []
    for x in range(len(rep_rows)):
        for y in range(len(rep_rows)):
            ra, ia, la, va, n2a = rep_rows[x]
            rb, ib, lb, vb, n2b = rep_rows[y]
            if la is None or lb is None or la != lb or not ra < rb:
                continue
            if star and ra != anchor[la]:
                continue
            dot = 0.0
            for j in range(dim):
                dot += va[j] * vb[j]
            pair_rows.append((ra, rb, dot, n2a, n2b, ia, ib))
    # intra exact-dup pairs: cosine = n2 / (sqrt(n2) * sqrt(n2)); star
    # links each member to the representative (p = 0) only
    for ra, ids, _, _, n2 in rep_rows:
        for p in range(1 if star else len(ids)):
            for q in range(p + 1, len(ids)):
                pair_rows.append((ids[p], ids[q], n2, n2, n2, None, None))
    ref_df = spark.createDataFrame(
        [(r[0], r[1], float(r[2]), float(r[3]), float(r[4])) for r in pair_rows],
        "ra long, rb long, dot double, n2a double, n2b double",
    ).withColumn(
        "cosine",
        F.round(F.col("dot") / (F.sqrt(F.col("n2a")) * F.sqrt(F.col("n2b"))), 6),
    ).filter(F.col("cosine") >= threshold)
    ref_cos = {(r.ra, r.rb): r.cosine for r in ref_df.collect()}
    expect = {}
    for ra, rb, dot, n2a, n2b, ia, ib in pair_rows:
        if (ra, rb) not in ref_cos:
            continue
        c = ref_cos[(ra, rb)]
        if ia is None or star:  # intra pair or star edge: rep-level ids
            expect[(ra, rb)] = c
        else:
            for x in ia:
                for y in ib:
                    expect[(min(x, y), max(x, y))] = c

    assert got == expect  # exact: same pairs AND bit-identical doubles
    # sanity on the fixture: both clouds contributed, dup group expanded,
    # and the null-label rows produced ONLY their intra exact-dup pair —
    # never a cross pair (null != null under join semantics)
    assert any(a >= 40 or b >= 40 for a, b in got if b < 90)
    assert any(a >= 100 for a, b in got)
    assert (0, 90) in got and (0, 91) in got and ((90, 91) in got) != star
    assert (95, 96) in got
    assert not any(
        (a in (95, 96)) != (b in (95, 96)) for a, b in got
    )


# ---- simsearch -----------------------------------------------------------------

def test_knn_brute_real_embeddings(real_embs):
    q = real_embs.filter("vec_id = 0").select("embedding").first()["embedding"]
    top = simsearch.knn_brute(real_embs, list(q), k=5).collect()
    assert top[0].id == 0 and abs(top[0].score - 1.0) < 1e-6
    scores = [r.score for r in top]
    assert scores == sorted(scores, reverse=True)


def test_knn_lsh_recall(real_embs):
    q = list(real_embs.filter("vec_id = 0").select("embedding").first()["embedding"])
    exact = [r.id for r in simsearch.knn_brute(real_embs, q, k=10).collect()]
    approx = [r.id for r in simsearch.knn_lsh(real_embs, q, k=10, bits=6).collect()]
    # multiprobe LSH with 6 bits on 500 vecs should catch most of top-10
    overlap = len(set(exact) & set(approx))
    assert approx[0] == 0
    assert overlap >= 5


def test_lsh_bucket_planes_follow_the_vector_length(spark):
    """The bucket UDF reads the dimension from its batch: each vector is
    hashed against ``hyperplanes(len(v), bits)``, the planes the scalar
    definition uses, and a batch of mixed lengths is refused."""
    from pyspark.errors import PythonException

    rows = [(i, [float((7 * i + j) % 5) - 2.0 for j in range(5)]) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>").coalesce(1)
    got = {
        r.vec_id: r.b
        for r in df.select("vec_id", simsearch.lsh_bucket(F.col("embedding"), 4).alias("b"))
        .collect()
    }
    planes = simsearch.hyperplanes(5, 4)
    for i, v in rows:
        expect = 0
        for bit, p in enumerate(planes):
            acc = 0.0
            for x, w in zip(v, p):
                acc += x * w
            expect |= (acc > 0) << bit
        assert got[i] == expect
    mixed = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [1.0, 2.0, 3.0])], "vec_id long, embedding array<double>"
    ).coalesce(1)
    with pytest.raises(PythonException, match="ValueError: lsh_bucket: vectors of mixed lengths"):
        mixed.select(simsearch.lsh_bucket(F.col("embedding"), 4)).collect()


def test_knn_ivf_recall_and_partitioning(real_embs):
    q = list(real_embs.filter("vec_id = 0").select("embedding").first()["embedding"])
    indexed, centroids = simsearch.ivf_index(real_embs, nlist=8)
    # every vector lands in exactly one cell; all cells within range
    n = real_embs.count()
    assert indexed.count() == n
    cells = {r.cell for r in indexed.select("cell").distinct().collect()}
    assert cells <= set(range(8)) and len(centroids) == 8
    exact = [r.id for r in simsearch.knn_brute(real_embs, q, k=10).collect()]
    approx = [r.id for r in simsearch.knn_ivf(real_embs, q, k=10, nlist=8, nprobe=3).collect()]
    assert approx[0] == 0  # the query vector itself is always found
    assert len(set(exact) & set(approx)) >= 5


def test_ivf_build_search_split(real_embs, tmp_path):
    """The persisted-index flow: build once, serve from the partitioned
    parquet with cell partition pruning; results identical to the inline
    path; param/data-key mismatch triggers a rebuild, matching sidecar
    skips it."""
    q = list(real_embs.filter("vec_id = 0").select("embedding").first()["embedding"])
    path = str(tmp_path / "ivf_idx")
    inline = simsearch.knn_ivf(real_embs, q, k=10, nlist=8, nprobe=3).collect()
    served = simsearch.knn_ivf(
        real_embs, q, k=10, nlist=8, nprobe=3,
        index_path=path, data_key="k1",
    )
    # (a) the serve leg scans ONLY probed cells — partition pruning
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cell" in plan, plan
    assert served.collect() == inline
    # (b) warm path: same sidecar -> no rebuild (mtime unchanged)
    import os
    meta_p = os.path.join(path, "_ivf_meta.json")
    mtime = os.stat(meta_p).st_mtime_ns
    again = simsearch.knn_ivf(
        real_embs, q, k=10, nlist=8, nprobe=3,
        index_path=path, data_key="k1",
    ).collect()
    assert again == inline
    assert os.stat(meta_p).st_mtime_ns == mtime
    # (c) stale data_key -> rebuild, not silent reuse
    simsearch.knn_ivf(
        real_embs, q, k=10, nlist=8, nprobe=3,
        index_path=path, data_key="k2",
    ).collect()
    assert os.stat(meta_p).st_mtime_ns != mtime
    assert simsearch.ivf_meta(path)["data_key"] == "k2"
    # (d) searching a missing index refuses loudly
    import pytest as _pytest
    with _pytest.raises(FileNotFoundError):
        simsearch.ivf_search(
            real_embs.sparkSession, str(tmp_path / "nope"), q
        )


def test_pq_adc_clustered_recall(spark):
    """On cluster-structured data the PQ codes separate clusters exactly,
    so ADC top-k must equal exact L2 top-k (query's own cluster first)."""
    import numpy as np

    rng = np.random.default_rng(11)
    a = rng.normal(0.0, 0.05, size=(20, 8)) + np.array([1.0] * 8)
    b = rng.normal(0.0, 0.05, size=(20, 8)) + np.array([-1.0] * 8)
    X = np.vstack([a, b])
    rows = [(i, [float(x) for x in X[i]]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = [float(x) for x in X[3]]
    out = simsearch.knn_pq_adc(df, q, k=5, m=4, ksub=8).collect()
    got = [r.id for r in out]
    assert got[0] == 3  # the query vector itself
    assert all(i < 20 for i in got)  # every neighbor from the query's cluster
    # deterministic across runs
    again = [r.id for r in simsearch.knn_pq_adc(df, q, k=5, m=4, ksub=8).collect()]
    assert got == again


def test_pq_encode_shapes_and_determinism(spark):
    rows = [(i, [float(i), float(-i), 0.5, 1.5]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = simsearch.pq_train(df, m=2, ksub=4, sample=30)
    assert len(books) == 2 and all(len(b) <= 4 for b in books)
    codes = {r.id: list(r.codes) for r in simsearch.pq_encode(df, books).collect()}
    assert all(len(c) == 2 for c in codes.values())
    assert all(0 <= x < 4 for c in codes.values() for x in c)


def test_dedup_keep_best_argmax_and_singletons(spark):
    docs = spark.createDataFrame(
        [(0, 0.3), (1, 0.9), (2, 0.5), (7, 0.1)], "doc_id long, quality double"
    )
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2)], "doc_a long, doc_b long"
    )  # {0,1,2} one cluster; 7 singleton
    out = {r.doc_id: r for r in dedup.dedup_keep_best(docs, pairs).collect()}
    assert set(out) == {1, 7}  # best of cluster (quality .9) + singleton
    assert out[1].component == 0  # component = min member id
    assert out[7].component == 7


def test_quantize_embeddings_roundtrip_bound(spark):
    rows = [
        (0, [0.5, -1.0, 0.25, 0.0]),
        (1, [0.0, 0.0, 0.0, 0.0]),  # all-zero: scale 0, q zeros
        (2, [3.0, -2.0, 1.5, 0.125]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qz = simsearch.quantize_embeddings(df)
    rec = qz.select(
        "id", "scale", simsearch.dequantize(F.col("q"), F.col("scale")).alias("r")
    )
    got = {r.id: r for r in rec.join(df, F.col("id") == F.col("vec_id")).collect()}
    for vid, row in got.items():
        scale = row.scale
        for orig, back in zip(row.embedding, row.r):
            assert abs(orig - back) <= scale / 2 + 1e-12
    # codes stay inside the int8 range
    q = {r.id: r.q for r in qz.collect()}
    assert all(-127 <= x <= 127 for xs in q.values() for x in xs)
    assert q[1] == [0, 0, 0, 0]


# ---- multimodal ------------------------------------------------------------------

def synthetic_media(spark, n: int = 8):
    """Deterministic media table: image rows carry REAL PNG payloads
    (in-repo encoder), video/audio rows opaque seeded bytes."""
    from scanner_spark.kernels.image import encode_png

    rows = []
    for i in range(n):
        kind = ["image", "video", "audio"][i % 3]
        if kind == "image":
            raw = hashlib.sha256(str(i).encode()).digest() * (64 * 48 * 3 // 32)
            payload = encode_png(
                np.frombuffer(raw, dtype=np.uint8).reshape(48, 64, 3)
            )
        else:
            payload = hashlib.sha256(str(i).encode()).digest() * 8
        rows.append(
            {
                "asset_id": i,
                "media_type": kind,
                "payload": payload,
                "meta": {
                    "width": 64,
                    "height": 48,
                    "duration_ms": 3500 + 500 * i,
                    "codec": "png" if kind == "image" else "fake",
                },
            }
        )
    return spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)


def test_decode_image_plumbing(spark):
    media = synthetic_media(spark, 6)
    out = multimodal.decode_image(media.filter("media_type = 'image'"), 8, 8).collect()
    assert len(out) == 2
    r = out[0]
    assert (r.height, r.width, r.channels, r.dtype) == (8, 8, 3, "u8")
    assert len(bytes(r.frame)) == 8 * 8 * 3
    # deterministic: same payload -> same pixels
    again = multimodal.decode_image(media.filter("media_type = 'image'"), 8, 8).collect()
    assert bytes(again[0].frame) == bytes(r.frame)


def test_decode_image_real_png_pixels(spark):
    """PNG payloads take the REAL decode path: the decoded frame must equal
    decode_png + resize_bilinear computed locally — not the md5 fake."""
    import numpy as np

    from scanner_spark.kernels.image import decode_png, resize_bilinear

    media = synthetic_media(spark, 6).filter("media_type = 'image'")
    rows = {r.asset_id: bytes(r.payload) for r in media.collect()}
    out = {
        r.asset_id: bytes(r.frame)
        for r in multimodal.decode_image(media, 8, 8).collect()
    }
    for aid, payload in rows.items():
        expect = resize_bilinear(decode_png(payload), 8, 8)
        assert out[aid] == expect.tobytes()


def test_decode_image_native_size_bit_exact(spark):
    """At the payload's native size the real path is a pure decode: pixels
    round-trip encode_png -> decode_image bit-exactly."""
    import numpy as np

    from scanner_spark.kernels.image import decode_png

    media = synthetic_media(spark, 6).filter("media_type = 'image'")
    rows = {r.asset_id: bytes(r.payload) for r in media.collect()}
    out = {
        r.asset_id: bytes(r.frame)
        for r in multimodal.decode_image(media, 48, 64).collect()
    }
    for aid, payload in rows.items():
        assert out[aid] == decode_png(payload).tobytes()


def test_decode_image_skip_on_corrupt_png(spark):
    """on_error='skip' blacklists a malformed PNG (magic intact, body
    corrupt) instead of killing the job; 'raise' (default) propagates."""
    import pytest as _pytest

    from scanner_spark.kernels.webp import encode_webp
    import numpy as _np

    good = encode_webp(_np.full((4, 4, 3), 9, _np.uint8))
    rows = [
        (0, "image", b"\x89PNG\r\n\x1a\n" + b"garbage", None),
        (1, "image", None, None),  # no recognized magic -> skip too
        (2, "image", good, None),  # real WebP payload survives
    ]
    media = spark.createDataFrame(
        rows,
        "asset_id long, media_type string, payload binary, "
        "meta struct<width:int,height:int,duration_ms:int,codec:string>",
    )
    skipping = multimodal.decode_image(media, 8, 8, on_error="skip")
    out = skipping.collect()
    assert [r.asset_id for r in out] == [2]
    # the drops are observable, not silent: the accumulator counted them
    assert skipping.decode_skipped.value == 2
    with _pytest.raises(Exception):
        multimodal.decode_image(media, 8, 8).collect()


def test_text_to_png_real_payloads(spark):
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "the quick brown fox")], "doc_id long, text string"
    )
    media = multimodal.text_to_png(df, "text", 16, 16)
    rows = media.collect()
    assert all(bytes(r.payload)[:8] == b"\x89PNG\r\n\x1a\n" for r in rows)
    # decodable and deterministic
    from scanner_spark.kernels.image import decode_png

    imgs = {r.asset_id: decode_png(bytes(r.payload)) for r in rows}
    assert imgs[1].shape == (16, 16, 3)
    assert bytes(imgs[1][0, 0]) == b"hel"


def test_sample_video_frames_cardinality(spark):
    media = synthetic_media(spark, 3)
    out = multimodal.sample_video_frames(media, every_ms=1000)
    counts = {r.asset_id: r.n for r in out.groupBy("asset_id").agg(F.count("*").alias("n")).collect()}
    # duration 3500/4000/4500 ms -> 3/4/4 frames
    assert counts == {0: 3, 1: 4, 2: 4}


# ---- skew -----------------------------------------------------------------------

def test_salted_join_matches_plain_join(spark, sf_dir):
    from scanner_spark.functions.skew import salted_join
    from scanner_spark.io import read_table

    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    plain = o.join(c, o.o_custkey == c.c_custkey).select("o_orderkey", "c_mktsegment")
    salted = salted_join(
        o.withColumnRenamed("o_custkey", "c_custkey"),
        c,
        on=["c_custkey"],
        salt_from="o_orderkey",
        buckets=8,
    ).select("o_orderkey", "c_mktsegment")
    assert plain.count() == salted.count()
    assert plain.exceptAll(salted).count() == 0


def test_two_phase_agg_matches_direct(spark, sf_dir):
    from scanner_spark.functions.skew import two_phase_agg
    from scanner_spark.io import read_table
    from pyspark.sql import functions as F

    ev = read_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    direct = (
        ev.withColumn("cents", cents)
        .groupBy("event_type")
        .agg(F.sum("cents").alias("total"), F.count("event_id").alias("n"),
             F.min("cents").alias("lo"))
        .collect()
    )
    salted = two_phase_agg(
        ev.withColumn("cents", cents),
        keys=["event_type"],
        aggs={"total": ("cents", "sum"), "n": ("event_id", "count"), "lo": ("cents", "min")},
        salt_from="user_id",
        buckets=8,
    ).collect()
    assert sorted(map(tuple, direct)) == sorted(map(tuple, salted))


# ---- connected components --------------------------------------------------------

def test_connected_components_basic(spark):
    # two components: {1,2,3,9} (chain) and {5,7}; singleton 8 not in graph
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 9), (5, 7)], "doc_a long, doc_b long"
    )
    cc = {r.doc: r.component for r in dedup.connected_components(pairs).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 9: 1, 5: 5, 7: 5}
    clusters = {r.component: (r.n_members, r.keep_id) for r in dedup.dedup_clusters(pairs).collect()}
    assert clusters == {1: (4, 1), 5: (2, 5)}


CC_GRAPHS = {
    "chain12": [(i, i + 1) for i in range(12)],
    # ids in sorted order: a min-label contraction loop removes one edge
    # per round here
    "chain64_sorted": [(i, i + 1) for i in range(64)],
    "chain64_reversed": [(i + 1, i) for i in reversed(range(64))],
    "star_max_centre": [(99, i) for i in range(40)],
}


@pytest.mark.parametrize("gate", [None, 0], ids=["default", "gate0"])
@pytest.mark.parametrize("graph", sorted(CC_GRAPHS))
def test_connected_components_long_chain_converges(spark, monkeypatch, graph, gate):
    # every shape must resolve to one component labelled with its minimum
    # id, whether the driver finish or the distributed rounds take it
    if gate is not None:
        monkeypatch.setattr(dedup, "LOCAL_CC_MAX_EDGES", gate)
    edges = CC_GRAPHS[graph]
    nodes = {n for e in edges for n in e}
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    cc = dedup.connected_components(pairs).collect()
    assert {r.component for r in cc} == {min(nodes)}
    assert sorted(r.doc for r in cc) == sorted(nodes)


def test_connected_components_paths_agree(spark, monkeypatch):
    # the distributed rounds alone (gate 0 or 6: below the 13 edges of the
    # converged stars), rounds then the driver finish (gate 13 = nodes -
    # components, which the rounds reach) and the driver union-find alone
    # (default) must produce identical labelings on a graph with chains, a
    # clique, and disjoint pieces
    edges = (
        [(i, i + 1) for i in range(10, 18)]        # chain
        + [(a, b) for a in range(30, 34) for b in range(a + 1, 34)]  # clique
        + [(50, 99), (99, 42)]
    )
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")

    def labels(gate):
        monkeypatch.setattr(dedup, "LOCAL_CC_MAX_EDGES", gate)
        return sorted(map(tuple, dedup.connected_components(pairs).collect()))

    local = labels(dedup.LOCAL_CC_MAX_EDGES)
    assert labels(0) == local
    assert labels(6) == local
    assert labels(13) == local
    comp = dict(local)
    assert comp[17] == 10 and comp[33] == 30 and comp[99] == 42 and comp[50] == 42


def test_kmeans_rejects_fewer_rows_than_k(spark):
    """k-means raises loudly on empty / sub-k inputs instead of crashing
    with IndexError or silently under-clustering (ADVICE r04)."""
    import pytest as _pytest

    from scanner_spark.functions import cluster

    df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [3.0, 4.0])],
        "vec_id long, embedding array<float>",
    )
    with _pytest.raises(ValueError, match="at least k=8"):
        cluster.kmeans(df, k=8)
    with _pytest.raises(ValueError, match="at least k=3"):
        cluster.kmeans(df.limit(0), k=3)


def test_embeddings_dim_matches_shared_constant(spark, sf_dir):
    """Q.EMB_DIM is the single dim source for Spark queries AND the DuckDB
    oracles (hyperplane buckets, kmeans unroll); a testdata dim change must
    fail loudly here, not as a silent oracle mismatch (ADVICE r04)."""
    from scanner_spark import queries as Q
    from scanner_spark.io import read_table

    row = read_table(spark, sf_dir, "embeddings").select(
        F.size("embedding").alias("d")
    ).first()
    assert row["d"] == Q.EMB_DIM


def test_windowed_fingerprint_matches_direct_horner(spark):
    """Every K-gram hash from the vectorized windowed UDF equals the
    direct per-window Horner fold (the definition the DuckDB twin
    computes), including unicode text, text shorter than K, and empty."""
    from scanner_spark.functions.text import (
        _FP_BASE, _FP_MOD, windowed_fingerprint_udf)

    def direct(t, k):
        out = []
        for j in range(len(t) - k + 1):
            h = 0
            for i in range(k):
                h = (h * _FP_BASE + ord(t[j + i])) % _FP_MOD
            out.append(h)
        return out

    k = 5
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "aaaaaaaaaaaa",
        "héllo wörld ünïcode",  # non-ASCII codepoints
        "tiny",                  # shorter than k
        "",
        "abcde",                 # exactly k
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id long, text string")
    w = windowed_fingerprint_udf(k)
    got = {r["doc_id"]: r["fps"] for r in
           df.select("doc_id", w(F.col("text")).alias("fps")).collect()}
    for i, t in enumerate(texts):
        assert got[i] == direct(t, k), (i, t)


def test_repeated_passages_shared_window_found(spark):
    """Two docs sharing an exact K-char passage produce one fp row with
    n_docs=2; a third doc repeating the passage twice raises n_occ."""
    from scanner_spark.functions.text import windowed_fingerprint_udf

    boiler = "COPYRIGHT NOTICE: all rights reserved."  # 38 chars
    k = len(boiler)
    docs = [
        (0, "intro " + boiler + " body text one"),
        (1, "other preamble " + boiler + " trailer"),
        (2, boiler + " middle " + boiler),
        (3, "no shared content in this one at all"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    w = windowed_fingerprint_udf(k)
    per_doc = (
        df.select("doc_id", F.explode(w(F.col("text"))).alias("fp"))
        .groupBy("fp", "doc_id").agg(F.count("*").alias("occ"))
    )
    rep = {
        r["fp"]: (r["n_docs"], r["n_occ"])
        for r in per_doc.groupBy("fp")
        .agg(F.count("*").alias("n_docs"), F.sum("occ").alias("n_occ"))
        .filter(F.col("n_docs") >= 3)
        .collect()
    }
    from scanner_spark.functions.text import _FP_BASE, _FP_MOD

    h = 0
    for ch in boiler:
        h = (h * _FP_BASE + ord(ch)) % _FP_MOD
    # the boiler window itself: in all 3 sharing docs, twice in doc 2
    # (windows shifted into the shared surrounding spaces also repeat —
    # that over-counting is inherent to K-gram passage signals)
    assert rep[h] == (3, 4)
    assert all(n_docs == 3 for n_docs, _ in rep.values())


def test_winnowed_fingerprints_selection_and_guarantee(spark):
    """Winnowing contract (Schleimer/Manber): (a) every selected (pos,fp)
    is a real k-gram hash at that position; (b) each full w-window of
    hashes contains at least one selected position (coverage); (c) the
    selected position is the LEFTMOST argmin of at least one window;
    (d) docs with fewer than w hashes emit exactly their global argmin;
    (e) two docs sharing a passage >= k+w-1 chars share a selected fp."""
    from scanner_spark.functions.text import (
        _FP_BASE, _FP_MOD, winnowed_fingerprint_udf)

    def direct_hashes(t, k):
        out = []
        for j in range(len(t) - k + 1):
            h = 0
            for i in range(k):
                h = (h * _FP_BASE + ord(t[j + i])) % _FP_MOD
            out.append(h)
        return out

    k, w = 5, 4
    shared = "an identical shared passage!"  # len 28 >= k+w-1 = 8
    texts = [
        "the quick brown fox jumps over the lazy dog " + shared,
        shared + " plus unrelated trailing content here",
        "aaaaaaaaaaaaaaaa",      # all-equal hashes: tie-break stress
        "tiny",                   # < k: empty
        "sixchr",                 # exactly one hash (n_h=1 < w)
        "short doc",              # 1 < n_h < w: global argmin only
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id long, text string")
    got = {r["doc_id"]: [(s["pos"], s["fp"]) for s in r["sel"]]
           for r in df.select(
               "doc_id",
               winnowed_fingerprint_udf(k, w)(F.col("text")).alias("sel"),
           ).collect()}

    for i, t in enumerate(texts):
        hs = direct_hashes(t, k)
        sel = got[i]
        if len(t) < k:
            assert sel == []
            continue
        # (a) values match the direct Horner hash at that position
        for pos, fp in sel:
            assert hs[pos] == fp, (i, pos)
        positions = [p for p, _ in sel]
        assert positions == sorted(set(positions))
        if len(hs) <= w:
            # (d) single global leftmost argmin
            assert positions == [min(range(len(hs)), key=lambda j: (hs[j], j))]
            continue
        for s in range(len(hs) - w + 1):
            window = hs[s:s + w]
            m = min(window)
            leftmost = s + window.index(m)
            # (b)+(c): the leftmost argmin of every window is selected
            assert leftmost in positions, (i, s)
        # nothing else is selected
        expected = {
            s + hs[s:s + w].index(min(hs[s:s + w]))
            for s in range(len(hs) - w + 1)
        }
        assert set(positions) == expected, i

    # (e) the shared-passage guarantee across docs 0 and 1
    fps0 = {fp for _, fp in got[0]}
    fps1 = {fp for _, fp in got[1]}
    assert fps0 & fps1


def test_fingerprint_doc_counts_equals_explode_spelling(spark):
    """Round 15: the fused per-doc (fp, occ) pre-aggregate must equal the
    explode + groupBy(fp, doc) spelling exactly, for both the exact and
    the winnowed variants (including short docs below k and ties)."""
    from pyspark.sql import functions as F

    from scanner_spark.functions.text import (
        fingerprint_doc_counts,
        windowed_fingerprint_udf,
        winnowed_fingerprint_doc_counts,
        winnowed_fingerprint_udf,
    )

    k, w = 5, 4
    rows = [
        (0, "the quick brown fox jumps over the lazy dog the quick brown"),
        (1, "abcabcabcabcabc"),
        (2, "xy"),                      # shorter than k: no fingerprints
        (3, "the quick brown fox"),
        (4, "zzzzzzzzzzzz"),            # all-equal hashes: tie-breaks
        (5, None),                      # NULL text: no fingerprints
        (6, ""),                        # empty text: no fingerprints
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")

    fused = {
        (r.doc_id, r.fp): r.occ
        for r in fingerprint_doc_counts(d, "doc_id", "text", k).collect()
    }
    wroll = windowed_fingerprint_udf(k)
    ref = {
        (r.doc_id, r.fp): r.occ
        for r in d.select("doc_id", F.explode(wroll("text")).alias("fp"))
        .groupBy("doc_id", "fp")
        .agg(F.count("*").alias("occ"))
        .collect()
    }
    assert fused == ref and fused

    fused_w = {
        (r.doc_id, r.fp): r.occ
        for r in winnowed_fingerprint_doc_counts(d, "doc_id", "text", k, w)
        .collect()
    }
    wf = winnowed_fingerprint_udf(k, w)
    ref_w = {
        (r.doc_id, r.fp): r.occ
        for r in d.select("doc_id", F.explode(wf("text")).alias("s"))
        .select("doc_id", F.col("s.fp").alias("fp"))
        .groupBy("doc_id", "fp")
        .agg(F.count("*").alias("occ"))
        .collect()
    }
    assert fused_w == ref_w and fused_w
