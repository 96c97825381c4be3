"""Replicates the driver's correctness gate locally: run every
``queries()`` entry in Spark AND its ``oracle_sql()`` twin in DuckDB on the
same parquet, then compare row count, column names, and (order-insensitive)
exact values — the same bar as CORRECTNESS_r{N}.json's value hash.

Float caveat: the driver hashes values, so parity asserts EXACT equality,
not almost-equal; every query is engineered for cross-engine bit equality
(see scanner_spark/queries.py docstring).  A failure here = a failure at
the driver's gate.
"""

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def canon(v):
    """Canonical value for hashing-equivalent comparison."""
    if v is None:
        return "<null>"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)  # full precision — exact-equality bar
    return str(v)


def rows_canon(pdf):
    cols = sorted(pdf.columns)
    recs = [tuple(canon(r[c]) for c in cols) for _, r in pdf.iterrows()]
    return sorted(recs)


def test_every_query_has_entry_or_rows_only():
    missing = [k for k in ORACLES if k not in QUERIES]
    assert not missing, f"oracles without queries: {missing}"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0 and len(df.columns) > 0


def _assert_parity(name, session, ddb):
    sdf = QUERIES[name](session, SF_DIR)
    spdf = sdf.toPandas()
    if name not in ORACLES:
        # rows-only contract: must run and return a stable schema
        assert len(spdf.columns) > 0
        assert len(spdf) >= 0
        return
    opdf = ddb.execute(ORACLES[name]).df()
    assert sorted(spdf.columns) == sorted(opdf.columns), (
        f"{name}: column mismatch {sorted(spdf.columns)} vs {sorted(opdf.columns)}"
    )
    assert len(spdf) == len(opdf), f"{name}: rowcount {len(spdf)} vs {len(opdf)}"
    s_rows, o_rows = rows_canon(spdf), rows_canon(opdf)
    mism = [i for i, (a, b) in enumerate(zip(s_rows, o_rows)) if a != b][:5]
    assert s_rows == o_rows, (
        f"{name}: value mismatch at sorted rows {mism}; "
        f"spark={[s_rows[i] for i in mism]} oracle={[o_rows[i] for i in mism]}"
    )


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_parity(name, spark, ddb):
    _assert_parity(name, spark, ddb)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_parity_stock_session(name, stock_spark, ddb):
    """Driver-session twin: stock parquet-inference confs (TIMESTAMP_NTZ
    inferred instead of the pinned session's TIMESTAMP).  Round 2 shipped a
    config-masked regression exactly here; every query — including the
    rotation tail beyond the driver's 50-entry window — must hash-match the
    oracle under BOTH sessions (judge round-2 items #2 and #9)."""
    _assert_parity(name, stock_spark, ddb)


@pytest.mark.parametrize(
    "name", ["dedup_keep_best", "dedup_minhash_clusters", "emb_dup_clusters"]
)
def test_parity_cc_distributed(name, spark, ddb, monkeypatch):
    """Scale-gate row: with the driver-finish gate at 0, connected
    components resolve through the distributed star rounds, which the
    parity SFs never reach on their own; the clusters must still
    hash-match the oracle."""
    from scanner_spark.functions import dedup

    monkeypatch.setattr(dedup, "LOCAL_CC_MAX_EDGES", 0)
    _assert_parity(name, spark, ddb)


@pytest.mark.parametrize("name", ["emb_cosine_pairs", "emb_dup_clusters"])
def test_parity_cosine_split(name, spark, ddb, monkeypatch):
    """Scale-gate row: with the mega-bucket chunk at 2 rows, most LSH
    buckets (about 3 vectors each at sf0.001) split into triangle and
    rectangle sub-groups, which the parity SFs never reach on their own;
    the pairs and the clusters must still hash-match the oracle."""
    from scanner_spark.functions import dedup

    monkeypatch.setattr(dedup, "COSINE_SPLIT_CHUNK", 2)
    _assert_parity(name, spark, ddb)


def test_kmeans_centroids_agree_across_engines(spark, ddb):
    """Early-warning for the kmeans determinism contract (ADVICE r04):
    parity of the integer OUTPUTS rests on round(…, 6) collapsing float
    noise, but the engines differ in summation order and half-rounding
    mode, so a centroid mean within an ulp of a rounding boundary would
    flip silently.  Compare the CENTROIDS themselves at decimal 4 —
    coarser than the update's 6 — so boundary drift fails here loudly
    before it ever reaches assignment outputs."""
    from scanner_spark import queries as Q
    from scanner_spark.functions import cluster
    from scanner_spark.io import read_table

    emb = read_table(spark, SF_DIR, "embeddings")
    _, cents = cluster.kmeans(emb, Q.KMEANS_K, Q.KMEANS_ITERS)
    sql = entrymod._kmeans_sql(Q.KMEANS_K, Q.EMB_DIM, Q.KMEANS_ITERS) + (
        f"SELECT cid, c FROM cents{Q.KMEANS_ITERS} ORDER BY cid"
    )
    rows = ddb.execute(sql).fetchall()
    assert len(rows) == len(cents) == Q.KMEANS_K
    for (cid_o, c_o), (cid_s, c_s) in zip(rows, cents):
        assert cid_o == cid_s
        assert len(c_o) == len(c_s) == Q.EMB_DIM
        for a, b in zip(c_o, c_s):
            assert abs(a - b) < 5e-5, (cid_s, a, b)
