"""Unit tests for the relevance (tf-idf / search / LM familiarity), PII,
and k-means cluster operators — small deterministic fixtures with
hand-computed or numpy oracles; cross-engine parity for the suite entries
lives in test_entry_parity.py."""

import io
import contextlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from scanner_spark.functions import cluster, pii, relevance


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "big cat sat"),
        (1, "big cat ran far"),
        (2, "dog ran"),
        (3, "cat cat cat"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_term_freqs(docs):
    got = {
        (r["doc"], r["term"]): r["tf"]
        for r in relevance.term_freqs(docs).collect()
    }
    assert got[(3, "cat")] == 3
    assert got[(0, "big")] == 1
    assert (2, "cat") not in got


def test_tfidf_rank_prefers_rare_terms(docs):
    top = {
        r["doc"]: r["term"]
        for r in relevance.tfidf_topk(docs, k=1).collect()
    }
    # doc 0: sat (df=1) beats big (df=2) and cat (df=3)
    assert top[0] == "sat"
    # doc 3: cat tf=3/df=3 = 1.0 — still its only term
    assert top[3] == "cat"


def test_search_topk_ranks_by_match_then_tf(docs):
    res = relevance.search_topk(docs, ["cat", "ran"], k=10).collect()
    ranked = [r["doc"] for r in res]
    # doc 1 matches both terms; docs 0,3 match cat (3 beats 1 on tf); doc 2 ran
    assert ranked[0] == 1
    assert ranked[1] == 3
    assert set(ranked) == {0, 1, 2, 3}


def test_bigram_familiarity_counts(spark):
    df = spark.createDataFrame(
        [(0, "a b a b"), (1, "a b c")], "doc_id long, text string"
    )
    got = {
        r["doc"]: (r["fam_total"], r["n_bigrams"])
        for r in relevance.bigram_familiarity(df).collect()
    }
    # bigrams: doc0 = [a b, b a, a b] -> ab:2, ba:1 ; doc1 = [a b, b c]
    # global: ab=3, ba=1, bc=1
    # doc0 fam = 2*3 + 1*1 = 7, n=3 ; doc1 fam = 1*3 + 1*1 = 4, n=2
    assert got[0] == (7, 3)
    assert got[1] == (4, 2)


# --- PII ------------------------------------------------------------------


def test_pii_scrub_all_classes(spark):
    df = spark.createDataFrame(
        [
            (0, "mail bob.smith+x@corp.example.org now"),
            (1, "ssn 123-45-6789 leaked"),
            (2, "from 192.168.0.1 port 80"),
            (3, "call +1 555 0100 or 44 555 0199"),
            (4, "clean text only"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["scrubbed"]
        for r in df.select(
            "doc_id", pii.pii_scrub(F.col("text")).alias("scrubbed")
        ).collect()
    }
    assert out[0] == "mail <EMAIL> now"
    assert out[1] == "ssn <SSN> leaked"
    assert out[2] == "from <IP> port 80"
    assert out[3] == "call <PHONE> or <PHONE>"
    assert out[4] == "clean text only"


def test_pii_stats_counts(spark):
    df = spark.createDataFrame(
        [(0, "a@b.co and c@d.io from 10.0.0.1")], "doc_id long, text string"
    )
    c = F.col("text")
    r = df.select(
        *[pii.pii_count(c, pat).alias(f"n_{name}") for name, pat, _repl in pii.PII_CLASSES]
    ).collect()[0]
    assert r["n_email"] == 2
    assert r["n_ipv4"] == 1
    assert r["n_ssn"] == 0


def test_pii_ssn_not_phone_shadowed(spark):
    # SSN must be scrubbed as SSN (class order), not eaten by the phone rule
    df = spark.createDataFrame([(0, "id 987-65-4321 x")], "doc_id long, text string")
    r = df.select(pii.pii_scrub(F.col("text")).alias("scrubbed")).collect()[0]
    assert r["scrubbed"] == "id <SSN> x"


# --- k-means --------------------------------------------------------------


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.RandomState(7)
    centers = np.array([[0.0, 0.0, 0.0], [10.0, 10.0, 10.0], [-10.0, 0.0, 10.0]])
    rows = []
    for i in range(90):
        c = i % 3
        v = centers[c] + rng.randn(3) * 0.3
        rows.append((i, [float(x) for x in v]))
    return (
        spark.createDataFrame(rows, "vec_id long, embedding array<float>"),
        centers,
    )


def test_kmeans_recovers_separated_clusters(emb):
    df, centers = emb
    assigned, cents = cluster.kmeans(df, k=3, iters=4, vec_col="embedding")
    rows = assigned.collect()
    # every true cluster maps to exactly one learned cluster
    by_true = {}
    for r in rows:
        by_true.setdefault(r["vec_id"] % 3, set()).add(r["cluster"])
    assert all(len(s) == 1 for s in by_true.values())
    assert len({next(iter(s)) for s in by_true.values()}) == 3
    # learned centroids ~ true centers (float32 data + rounding: loose tol)
    got = sorted(tuple(np.round(c, 0)) for _, c in cents)
    want = sorted(tuple(x) for x in centers)
    assert got == want


def test_kmeans_matches_numpy_lloyd(emb):
    df, _ = emb
    k, iters = 3, 3
    assigned, cents = cluster.kmeans(df, k=k, iters=iters, vec_col="embedding")
    # numpy replica with the same determinism contract
    pdf = df.orderBy("vec_id").toPandas()
    X = np.stack(pdf["embedding"].to_numpy()).astype(np.float32).astype(np.float64)
    C = X[:k].copy()
    for _ in range(iters):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        a = d.argmin(axis=1)
        for c in range(k):
            if (a == c).any():
                C[c] = np.round(X[a == c].mean(axis=0), 6)
    d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    want = d.argmin(axis=1)
    got = {r["vec_id"]: r["cluster"] for r in assigned.collect()}
    assert [got[i] for i in range(len(want))] == list(want)


def test_kmeans_assign_is_narrow(emb):
    df, _ = emb
    cents = cluster.seed_centroids(df, 3)
    plan_df = cluster.assign(df, cents)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        plan_df.explain("formatted")
    plan = buf.getvalue()
    assert "Exchange" not in plan  # assignment must not shuffle


def test_pii_is_single_projection(spark, sf_dir):
    from scanner_spark import queries as Q

    plan_df = Q.q_doc_pii_scrub(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        plan_df.explain("formatted")
    plan = buf.getvalue()
    # detect+scrub pipelines with the scan: no hash shuffle anywhere; the
    # only Exchange allowed is read_table's starved-scan round-robin heal
    import re

    exchanges = re.findall(r"Exchange (\w+)", plan)
    assert all(e == "RoundRobinPartitioning" for e in exchanges), plan