"""The engine's headline query suite.

One callable per operator/capability claimed in SURVEY.md §2 + the
LLM-pipeline extensions; each has a matching ANSI-SQL oracle in
``__spark_entry__.oracle_sql`` that DuckDB runs on the same parquet for the
hash-match correctness gate.

Cross-engine determinism rules used throughout (so value hashes match):

- money/measure aggregation is done in DECIMAL (exact, order-free), cast to
  DOUBLE only at the end; averages are double(sum)/count;
- running sums use integer cents (exact) — never raw double accumulation,
  whose result depends on addition order;
- float embeddings are cast element-wise to double before dot products so
  both engines do the same double arithmetic in the same order;
- every computed column is aliased identically in Spark and SQL;
- timestamps leave query outputs as epoch integers or formatted strings.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from scanner_spark import streams as S
from scanner_spark.deploy import ship
from scanner_spark.io import normalize_events_ts, read_table
from scanner_spark.functions import curation, dedup, simsearch, text
from scanner_spark.functions.simsearch import cosine_to
from scanner_spark.ops import BoundaryMode, register_op
from scanner_spark.kernels.stateful import IncrementBounded

# ---------------------------------------------------------------------------
# shared pieces
# ---------------------------------------------------------------------------

GATHER_ROWS = [5, 3, 11, 3]
WARMUP_ROWS = [0, 10, 25, 26, 27]
WARMUP = 2
SLICE_GROUP = 100
KNN_K = 5
COSINE_THRESHOLD = 0.3
JACCARD_THRESHOLD = 0.5
MINHASH_THRESHOLD = 0.5
# LSH blocking for cosine dedup: candidates must share label AND 4-bit
# hyperplane bucket, bounding the per-key quadratic fan-out (scale path)
EMB_LSH_BITS = 4
# embeddings.embedding dimensionality — the single place both the Spark
# queries and the DuckDB oracles (hyperplane buckets, kmeans unroll) take
# the dim from; test_entry_parity asserts the data actually matches it
EMB_DIM = 64
# candidate-join skew cap for n-gram Jaccard (see dedup.DEFAULT_MAX_SHINGLE_DF)
JACCARD_MAX_SHINGLE_DF = 1000


# events_stream is rebuilt by ~15 §A suite queries; the stream DataFrame is
# cached per (session, sf_dir) so that when make_stream's auto-dispatch picks
# the distributed layout (large inputs), its eager layout job runs once per
# suite, not once per query.  Entries are lazy plans — cheap to hold.
# The cache lives ON the session object itself (never a module dict keyed
# by id(spark): a GC'd session's id can be reused by a new one, silently
# serving a plan bound to dead relations).  A cached DataFrame strongly
# references its session, so a module-level weak-key map would never
# collect either; session→dict→DataFrame→session is a plain cycle the GC
# reclaims as a unit when the session dies.
_STREAM_CACHE_ATTR = "_scanner_spark_stream_cache"


def clear_stream_cache(spark: SparkSession) -> None:
    """Drop the session's memoized events-stream frames (tests use this to
    compare plan shapes under a known cache state)."""
    if hasattr(spark, _STREAM_CACHE_ATTR):
        delattr(spark, _STREAM_CACHE_ATTR)


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as a Scanner-model stream: one stream per event_type, idx
    dense in event_id order.

    Uses ``make_stream``'s default auto-dispatch: single-window path below
    the straggler threshold, the partition-bounded distributed layout above
    it — no query in the suite ever plans a whole-stream single-task window
    on a large input."""
    per_session = getattr(spark, _STREAM_CACHE_ATTR, None)
    if per_session is None:
        per_session = {}
        setattr(spark, _STREAM_CACHE_ATTR, per_session)
    cached = per_session.get(sf_dir)
    if cached is not None:
        return cached
    ev = read_table(spark, sf_dir, "events")
    st = S.make_stream(ev, stream_col="event_type", order_col="event_id")
    out = st.select("stream_id", "idx", "event_id", "value")
    per_session[sf_dir] = out
    return out


def _dec(c: str, p: int = 12, s: int = 2):
    return F.col(c).cast(f"decimal({p},{s})")


def _dbl(col):
    return col.cast("double")


# ---------------------------------------------------------------------------
# A. Scanner index-domain operators (SURVEY §2.2-2.4)
# ---------------------------------------------------------------------------

def q_scanner_stride(spark, sf_dir):
    ship(spark)
    return S.stride(events_stream(spark, sf_dir), 8)


def q_scanner_range(spark, sf_dir):
    ship(spark)
    return S.srange(events_stream(spark, sf_dir), 100, 200)


def q_scanner_strided_ranges(spark, sf_dir):
    ship(spark)
    return S.strided_ranges(events_stream(spark, sf_dir), [(0, 40), (100, 140)], 4)


def q_scanner_gather(spark, sf_dir):
    ship(spark)
    return S.gather(events_stream(spark, sf_dir), GATHER_ROWS)


def q_scanner_repeat(spark, sf_dir):
    ship(spark)
    return S.repeat(S.srange(events_stream(spark, sf_dir), 0, 50), 3)


def q_scanner_repeat_null(spark, sf_dir):
    ship(spark)
    return S.repeat_null(S.srange(events_stream(spark, sf_dir), 0, 50), 3)


class CumCentsKernel:
    """Unbounded-state kernel: running sum of integer cents (exact)."""

    def reset(self):
        pass

    def execute(self, values: pd.Series) -> pd.Series:
        # half-AWAY-FROM-ZERO, matching the oracle's DuckDB round(v*100):
        # np.rint rounds half-to-even and would diverge on exact .5 cents
        x = values.to_numpy(dtype="float64") * 100
        cents = (np.sign(x) * np.floor(np.abs(x) + 0.5)).astype("int64")
        return pd.Series(cents.cumsum())


def _cum_cents_expr(cols, w):
    # Column twin of CumCentsKernel.execute: identical IEEE double steps
    # (x*100, half-away-from-zero via signum*floor(abs+0.5)), then an
    # exact long window sum — compiles to ONE codegen window aggregate
    # (VERDICT r11 "do this" #5: the rows path spent 16 s at sf10 in
    # ordered per-group Python that this computes JVM-side)
    x = cols[0] * F.lit(100.0)
    cents = (F.signum(x) * F.floor(F.abs(x) + F.lit(0.5))).cast("long")
    return F.sum(cents).over(w)


cum_cents_op = register_op(CumCentsKernel, unbounded_state=True,
                           name="CumCents", state_expr=_cum_cents_expr)


def q_scanner_slice_state_unslice(spark, sf_dir):
    """Slice(100) -> unbounded-state running cents sum -> Unslice: state
    resets at slice boundaries (the Scanner parallelization contract)."""
    ship(spark)
    st = events_stream(spark, sf_dir)
    sliced = S.slice_strided(st, SLICE_GROUP)
    counted = cum_cents_op(sliced, ["value"], "cum_cents", "long")
    return S.unslice(counted, SLICE_GROUP).select(
        "stream_id", "idx", "event_id", "cum_cents"
    )


def q_scanner_stencil_smooth(spark, sf_dir):
    """[-1,0,1] REPEAT_EDGE mean over the value column."""
    ship(spark)

    # expr twin compiles to JVM lag/lead (whole-stage codegen, no Python);
    # the same arithmetic works on python floats and on Columns
    @register_op(
        stencil=[-1, 0, 1],
        boundary=BoundaryMode.REPEAT_EDGE,
        expr=lambda win: (win[0] + win[1] + win[2]) / 3.0,
    )
    def smooth(win):
        return (win[0] + win[1] + win[2]) / 3.0

    st = S.srange(events_stream(spark, sf_dir), 0, 200)
    return smooth(st, ["value"], "smoothed", "double").select(
        "stream_id", "idx", "event_id", "smoothed"
    )


def q_scanner_ranges(spark, sf_dir):
    """Overlapping Ranges sampler — rows in the overlap are duplicated with
    distinct downstream indices (reference streams.py:163-203)."""
    ship(spark)
    return S.ranges(events_stream(spark, sf_dir), [(0, 30), (20, 50)])


OVERLAP_SLICES = [(0, 15), (5, 25), (15, 35)]
OVERLAP_SLICE_RANGES = [(0, 10), (5, 15), (5, 15)]


def q_scanner_overlap_slices(spark, sf_dir):
    """Overlapping Slice + per-slice Range (SliceList args), the reference's
    tests/py_test.py:361-377 shape: slices (0,15),(5,25),(15,35) sampled
    with [(0,10),(5,15),(5,15)] -> 30 rows per stream."""
    ship(spark)
    st = events_stream(spark, sf_dir)
    sliced = S.slice_ranges(st, OVERLAP_SLICES)
    return S.srange_per_slice(sliced, OVERLAP_SLICE_RANGES).select(
        "stream_id", "slice_id", "idx", "event_id", "value"
    )


def q_scanner_variadic(spark, sf_dir):
    """Variadic op: kernel over two positional input columns
    (client.py:809,834-838) — out = value*2 + idx."""
    ship(spark)

    @register_op(batch=True)
    def vmix(a: pd.Series, b: pd.Series) -> pd.Series:
        return a * 2.0 + b

    st = S.srange(events_stream(spark, sf_dir), 0, 500)
    return vmix(st, ["value", "idx"], "mixed", "double").select(
        "stream_id", "idx", "event_id", "mixed"
    )


STREAM_FACTORS = {
    "click": 2.0,
    "error": -1.0,
    "purchase": 10.0,
    "signup": 0.5,
    "view": 1.5,
}


def q_scanner_stream_args(spark, sf_dir):
    """Per-stream op args (new_stream, kernel.h:174-180): each stream binds
    a scale factor; args ride as a broadcast-joined column into the kernel."""
    ship(spark)

    @register_op(batch=True)
    def scale(v: pd.Series, f: pd.Series) -> pd.Series:
        return v * f

    st = events_stream(spark, sf_dir)
    spec = st.sparkSession.createDataFrame(
        [(k, v) for k, v in STREAM_FACTORS.items()],
        schema="stream_id string, factor double",
    )
    bound = st.join(F.broadcast(spec), "stream_id", "left")
    return scale(bound, ["value", "factor"], "scaled", "double").select(
        "stream_id", "idx", "event_id", "scaled"
    )


def q_scanner_all(spark, sf_dir):
    """The All sampler: identity on the index domain (streams.py:65-88)."""
    ship(spark)
    return S.sample_all(events_stream(spark, sf_dir))


def q_scanner_all_distributed(spark, sf_dir):
    """Same result as scanner_all, built by make_stream_distributed — the
    giant-stream scale path (per-partition offsets, no whole-stream
    window).  Sharing scanner_all's oracle proves the two index
    materializations bit-identical under the driver's hash gate."""
    ship(spark)
    ev = read_table(spark, sf_dir, "events")
    st = S.make_stream_distributed(ev, stream_col="event_type", order_col="event_id")
    return st.select("stream_id", "idx", "event_id", "value")


def q_scanner_stencil_null(spark, sf_dir):
    """[-1,0,1] stencil with NULL boundary: out-of-range neighbors arrive
    as None (rpc.proto:254-259 BoundaryCondition.NULL)."""
    ship(spark)

    @register_op(
        stencil=[-1, 0, 1],
        boundary=BoundaryMode.NULL,
        expr=lambda win: sum(F.coalesce(v, F.lit(0.0)) for v in win),
    )
    def edge_sum(win):
        return sum(v for v in win if v is not None)

    st = S.srange(events_stream(spark, sf_dir), 0, 100)
    return edge_sum(st, ["value"], "esum", "double").select(
        "stream_id", "idx", "event_id", "esum"
    )


def q_scanner_null_passthrough(spark, sf_dir):
    """NullElement passthrough: spacing nulls skip the kernel and stay NULL
    downstream (evaluate_worker null-element skip; storage.py:8-16)."""
    ship(spark)

    @register_op
    def double_it(v):
        return v * 2.0

    st = S.repeat_null(S.srange(events_stream(spark, sf_dir), 0, 50), 3)
    return double_it(st, ["value"], "doubled", "double").select(
        "stream_id", "idx", "event_id", "doubled"
    )


def q_scanner_warmup_gather(spark, sf_dir):
    """Bounded-state counter over Gather with warmup (py_test.py:407-424)."""
    ship(spark)
    op = register_op(IncrementBounded, bounded_state=WARMUP, name="Inc")
    out = op.apply_gather_with_warmup(
        events_stream(spark, sf_dir), WARMUP_ROWS, ["value"], "ctr", "long"
    )
    return out.select("stream_id", "idx", "ctr")


# ---------------------------------------------------------------------------
# B. Relational layer (SURVEY §2.7 — Spark builtins the reference lacks)
# ---------------------------------------------------------------------------

def q_tpch_q1(spark, sf_dir):
    """TPC-H Q1 pricing summary (decimal-exact sums)."""
    l = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    one = F.lit(1).cast("decimal(4,2)")
    disc_price = _dec("l_extendedprice") * (one - _dec("l_discount", 4, 2))
    charge = disc_price * (one + _dec("l_tax", 4, 2))
    g = l.groupBy("l_returnflag", "l_linestatus").agg(
        _dbl(F.sum(_dec("l_quantity"))).alias("sum_qty"),
        _dbl(F.sum(_dec("l_extendedprice"))).alias("sum_base_price"),
        _dbl(F.sum(disc_price)).alias("sum_disc_price"),
        _dbl(F.sum(charge)).alias("sum_charge"),
        F.count(F.lit(1)).alias("count_order"),
    )
    return g.select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        "sum_base_price",
        "sum_disc_price",
        "sum_charge",
        (F.col("sum_qty") / F.col("count_order")).alias("avg_qty"),
        (F.col("sum_base_price") / F.col("count_order")).alias("avg_price"),
        "count_order",
    )


def q_tpch_q3(spark, sf_dir):
    """Q3 shipping priority: top-10 unshipped-revenue orders (broadcast the
    filtered customer dim)."""
    c = read_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1996-06-30").cast("timestamp")
    )
    l = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-06-30").cast("timestamp")
    )
    one = F.lit(1).cast("decimal(4,2)")
    rev = _dec("l_extendedprice") * (one - _dec("l_discount", 4, 2))
    out = (
        l.join(F.broadcast(o), l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_dbl(F.sum(rev)).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )
    return out


def q_tpch_q5(spark, sf_dir):
    """Q5 local-supplier revenue by nation (ASIA)."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    l = read_table(spark, sf_dir, "lineitem")
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    one = F.lit(1).cast("decimal(4,2)")
    rev = _dec("l_extendedprice") * (one - _dec("l_discount", 4, 2))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(c, (o.o_custkey == c.c_custkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(_dbl(F.sum(rev)).alias("revenue"))
    )


def q_tpch_q6(spark, sf_dir):
    """Q6 forecast revenue change (single-pass filtered aggregate; filters
    and the 2-column projection push down to the parquet scan)."""
    l = read_table(spark, sf_dir, "lineitem")
    rev = _dec("l_extendedprice") * _dec("l_discount", 4, 2)
    out = l.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount").between(0.03, 0.07))
        & (F.col("l_quantity") < 24)
    ).agg(_dbl(F.sum(rev)).alias("revenue"), F.count(F.lit(1)).alias("n"))
    return out


def q_tpch_q4_priority(spark, sf_dir):
    """Q4-style: orders counted by priority where some lineitem shipped
    after the order date (left-semi join = SQL EXISTS)."""
    o = read_table(spark, sf_dir, "orders")
    l = read_table(spark, sf_dir, "lineitem")
    late = l.join(o, l.l_orderkey == o.o_orderkey).filter(
        F.col("l_shipdate") > F.col("o_orderdate")
    ).select("l_orderkey").distinct()
    return (
        o.join(late, o.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def q_tpch_q10(spark, sf_dir):
    """Q10 returned-item reporting: top-20 customers by lost revenue on
    returned lines.  Fact-side filters push to the scan; nation broadcasts;
    top-20 is TakeOrdered with a total (revenue, custkey) order."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    l = read_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = read_table(spark, sf_dir, "nation")
    one = F.lit(1).cast("decimal(4,2)")
    rev = _dec("l_extendedprice") * (one - _dec("l_discount", 4, 2))
    g = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(_dbl(F.sum(rev)).alias("revenue"))
    )
    return g.orderBy(F.desc("revenue"), "c_custkey").limit(20)


def q_tpch_q14(spark, sf_dir):
    """Q14 promo revenue share: conditional decimal aggregate over the
    part join (part broadcasts at these dims)."""
    l = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    p = read_table(spark, sf_dir, "part")
    one = F.lit(1).cast("decimal(4,2)")
    rev = _dec("l_extendedprice") * (one - _dec("l_discount", 4, 2))
    j = l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
    agg = j.agg(
        _dbl(
            F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast("decimal(12,2)")))
        ).alias("promo_rev"),
        _dbl(F.sum(rev)).alias("total_rev"),
    )
    return agg.select(
        F.round(F.lit(100.0) * F.col("promo_rev") / F.col("total_rev"), 6).alias(
            "promo_pct"
        ),
        "promo_rev",
        "total_rev",
    )


TPCH_Q18_MIN_QTY = 250


def q_tpch_q18(spark, sf_dir):
    """Q18 large-volume customers: HAVING over an order-level quantity
    rollup, then joins back to orders/customer (one shuffle per agg; the
    filtered order list is small and broadcasts into the final join)."""
    l = read_table(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(_dbl(F.sum(_dec("l_quantity"))).alias("sum_qty"))
        .filter(F.col("sum_qty") > TPCH_Q18_MIN_QTY)
    )
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.unix_timestamp(F.col("o_orderdate")).alias("orderdate_epoch"),
            "o_totalprice",
            "sum_qty",
        )
    )


def q_top_customers_per_nation(spark, sf_dir):
    """Window-function showcase: top-3 customers by revenue per nation."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    n = read_table(spark, sf_dir, "nation")
    spent = (
        o.groupBy("o_custkey")
        .agg(_dbl(F.sum(_dec("o_totalprice"))).alias("revenue"))
    )
    joined = (
        c.join(spent, c.c_custkey == spent.o_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    )
    w = Window.partitionBy("n_name").orderBy(F.col("revenue").desc(), F.col("c_custkey"))
    return (
        joined.withColumn("rnk", F.rank().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("n_name", "c_custkey", "revenue", "rnk")
    )


def q_events_sessionize(spark, sf_dir):
    """Gap-based sessionization (30 min): per-user session and event counts."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    new_sess = F.when(gap_us > 30 * 60 * 1_000_000, 1).otherwise(0)
    marked = ev.withColumn("new_sess", F.coalesce(new_sess, F.lit(0)))
    return marked.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.sum("new_sess") + 1).cast("long").alias("n_sessions"),
    )


def q_events_hourly(spark, sf_dir):
    """Tumbling 1-hour aggregation per event type (cents-exact sums)."""
    ev = read_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        ev.groupBy(
            "event_type",
            F.unix_seconds(F.date_trunc("hour", F.col("ts"))).alias("hour_epoch"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(cents) / 100.0).alias("sum_value"),
        )
    )


def q_part_brand_stats(spark, sf_dir):
    p = read_table(spark, sf_dir, "part")
    return p.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.min("p_retailprice").alias("min_price"),
        F.max("p_retailprice").alias("max_price"),
        (F.sum("p_size") / F.count(F.lit(1))).alias("avg_size"),
    )


def q_segment_intersect(spark, sf_dir):
    """Set-op showcase: BUILDING-segment customers ∩ customers holding an
    order over 400k."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    )
    b = o.filter(F.col("o_totalprice") > 400000).select(
        F.col("o_custkey").alias("custkey")
    )
    return a.intersect(b)


def q_events_user_counts(spark, sf_dir):
    """Exact distinct-count rollup per event type."""
    ev = read_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


def q_events_asof_signup(spark, sf_dir):
    """As-of (temporal) join: each purchase event matched to the user's most
    recent signup at-or-before it — the classic point-in-time-correct
    feature join, expressed as last_value(... ignore nulls) over an
    event-time window (no native asof join in Spark; this shape is the
    scalable one: single shuffle on user_id)."""
    ev = read_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(us, F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    signup_us = F.when(F.col("event_type") == "signup", us)
    out = ev.withColumn("last_signup_us", F.last(signup_us, ignorenulls=True).over(w))
    return out.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "last_signup_us"
    )


def q_orders_percentiles(spark, sf_dir):
    """Exact interpolated percentiles per order status."""
    o = read_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 6).alias("p90"),
        F.count(F.lit(1)).alias("n"),
    )


def q_orders_rollup(spark, sf_dir):
    """ROLLUP(status, priority) with cents-exact totals (subtotal + grand
    total rows carry NULL keys)."""
    o = read_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(cents) / 100.0).alias("total"),
    )


def q_orders_cube(spark, sf_dir):
    """CUBE over (status, priority): all four grouping combinations in one
    pass, with grouping_id to disambiguate subtotal rows from real NULLs."""
    o = read_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(cents) / 100.0).alias("total"),
        F.grouping_id().alias("gid"),
    )


def q_events_retention(spark, sf_dir):
    """Cohort retention: users grouped by first-seen week, counted per
    weeks-since-cohort offset — two aggregations, both shuffling on
    user_id then (cohort, offset)."""
    ev = read_table(spark, sf_dir, "events")
    wk = F.floor(F.unix_timestamp(F.col("ts")) / F.lit(604800)).cast("long")
    base = ev.select("user_id", wk.alias("wk"))
    first = base.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    j = base.join(first, "user_id").select(
        "user_id", "cohort_wk", (F.col("wk") - F.col("cohort_wk")).alias("weeks_since")
    )
    return (
        j.distinct()
        .groupBy("cohort_wk", "weeks_since")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def q_customers_without_orders(spark, sf_dir):
    """Anti join (NOT EXISTS): customers with no order above 300k.  The
    price filter is applied to the build side before the anti join, so it
    pushes into the orders scan."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


def _stream_tmpdir(prefix: str) -> str:
    """Scratch dir for a bounded-replay streaming demo's checkpoint+sink.

    Prefers tmpfs (/dev/shm): checkpoint commits fsync every microbatch,
    and on the local harness that disk latency IS the streaming floor.  A
    production deployment points checkpointLocation at durable shared
    storage instead — this helper is only for the suite's replay-and-
    compare queries, whose artifacts die with the process."""
    import os as _os
    import tempfile as _tempfile

    base = "/dev/shm" if _os.path.isdir("/dev/shm") else None
    return _tempfile.mkdtemp(prefix=prefix, dir=base)


def _stream_table(spark: SparkSession, sf_dir: str, name: str,
                  max_parts: int = 8) -> DataFrame:
    """readStream over table ``name`` of ``sf_dir``, on an isolated
    session for ONE streaming query.  The file stream source wants a
    directory, so it streams ``sf_dir`` with a glob pinned to the table's
    file; ``events.ts`` is normalized by dtype (handles long-nanos AND
    TIMESTAMP_NTZ files under any session; withWatermark requires plain
    TIMESTAMP).

    The session shares the SparkContext but owns its SQL conf, so sizing
    the state-store partition count (frozen into the checkpoint at first
    start) and the parquet nanos-as-long read flag never mutate — or race
    — the caller's session under concurrent query submission.

    State-store partition sizing: a streaming aggregation creates one
    state dir + per-batch commit per shuffle partition.  Inheriting the
    batch shuffle conf (32 here, thousands on a cluster) pays that fixed
    cost for a handful of keys; capping it to key-cardinality scale was a
    4x wall-clock win at sf0.1 (6.7s -> 1.6s)."""
    import os as _os

    ns = spark.newSession()
    # keep caller semantics for the confs that affect event-time results
    for k in (
        "spark.sql.session.timeZone",
        "spark.sql.parquet.inferTimestampNTZ.enabled",
    ):
        try:
            ns.conf.set(k, spark.conf.get(k))
        except Exception:
            pass
    ns.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    cur = int(spark.conf.get("spark.sql.shuffle.partitions"))
    ns.conf.set("spark.sql.shuffle.partitions", str(min(max_parts, cur)))
    fname = f"{name}.parquet"
    raw_schema = ns.read.parquet(_os.path.join(sf_dir, fname)).schema
    sdf = ns.readStream.schema(raw_schema).option("pathGlobFilter", fname).parquet(sf_dir)
    if name == "events":
        sdf = normalize_events_ts(sdf)
    return sdf


def q_stream_events_hourly(spark, sf_dir):
    """Structured Streaming twin of events_hourly: readStream over the
    events parquet, tumbling 1h event-time windows with a watermark,
    update-mode foreachBatch upsert into a checkpointed parquet sink, and
    the result read back FROM THE SINK.  No complete-mode memory sink: the
    driver never holds the aggregate, and the watermark bounds the state
    store — the pattern that survives an unbounded stream.  The read-back
    must hash-match the same DuckDB oracle as the batch query — streaming
    and batch semantics agree exactly."""
    import os as _os

    from scanner_spark.streaming.windows import read_upserted, to_parquet_upsert

    sdf = _stream_table(spark, sf_dir, "events")
    agg = (
        sdf.withWatermark("ts", "0 seconds")
        .groupBy("event_type", F.window("ts", "1 hour"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0).alias(
                "sum_value"
            ),
        )
        .select(
            "event_type",
            F.unix_timestamp(F.col("window.start")).alias("hour_epoch"),
            "n",
            "sum_value",
        )
    )
    base = _stream_tmpdir("stream_events_hourly_")
    sink_dir = _os.path.join(base, "sink")
    ckpt_dir = _os.path.join(base, "ckpt")
    q = to_parquet_upsert(agg, sink_dir, ckpt_dir)
    q.awaitTermination()
    # read-back on the CALLER's session: the sink parquet is plain micros
    return read_upserted(spark, sink_dir, ["event_type", "hour_epoch"]).select(
        "event_type", "hour_epoch", "n", "sum_value"
    )


def q_stream_events_sessions(spark, sf_dir):
    """Streaming SESSION windows: readStream over events, 30-minute-gap
    session_window per user, complete-mode foreachBatch overwrite sink.
    Sessions merge in the state store as events arrive; the final (user,
    start, end, n) set must hash-match a batch gaps-and-islands oracle
    (new session when gap >= 30 min — session_window's half-open
    [start, last+gap) boundary).

    Output-mode note: Spark supports session windows in append or
    complete mode only.  Append emits a session once the watermark passes
    its END — on a bounded replay each user's LAST session never
    finalizes (its end is beyond the final watermark), so a full-history
    result needs complete mode, whose state holds every open+closed
    session.  THIS query is the bounded-replay/backfill twin; the
    production shape — append mode, nonzero watermark delay,
    finalized-only contract, state bounded by open sessions — is
    ``q_stream_events_sessions_append`` below."""
    import os as _os

    sdf = _stream_table(spark, sf_dir, "events")
    agg = (
        sdf.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias("session_start_us"),
            F.unix_micros(F.col("session_window.end")).alias("session_end_us"),
            "n",
        )
    )
    base = _stream_tmpdir("stream_events_sessions_")
    sink_dir = _os.path.join(base, "sink")

    def write_batch(bdf, batch_id):
        bdf.write.mode("overwrite").parquet(sink_dir)

    q = (
        agg.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", _os.path.join(base, "ckpt"))
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(sink_dir).select(
        "user_id", "session_start_us", "session_end_us", "n"
    )


def q_stream_dedup_minhash_lsh(spark, sf_dir):
    """Streaming MinHash-LSH near-dup detection: documents readStream ->
    per-row banded signatures (narrow JVM transforms) ->
    applyInPandasWithState keyed by (band, band_sig) emitting a scored
    pair the moment a new doc collides with a bucket's seen docs.

    On this bounded replay the DISTINCT emitted pair set must hash-match
    the SAME DuckDB oracle as the batch ``dedup_minhash_lsh`` — streaming
    and batch near-dup semantics agree exactly.  (DISTINCT because a pair
    colliding in several bands is emitted once per band — different state
    keys cannot coordinate — with an identical score each time.)"""
    import os as _os

    from scanner_spark.streaming.dedup import banded_minhash_rows, lsh_dedup_pairs

    ship(spark)
    # 32 state partitions, not the session-window queries' 8: this op has
    # bands x shards = 128 state groups doing real Python work per group,
    # so the stateful stage should own every core.
    sdf = _stream_table(spark, sf_dir, "documents", max_parts=32)
    # Starved-scan healing (io.read_table's fix, restated for the stream
    # path): the single test parquet reads as 1-3 effective tasks, which
    # single-threads the md5/signature-fold narrow phase — the measured
    # bulk of this query's 133 s at sf10.  A stateless repartition is
    # streaming-legal and spreads the signature work across the session's
    # cores before the stateful exchange.
    sdf = sdf.repartition(spark.sparkContext.defaultParallelism)
    pairs = lsh_dedup_pairs(
        banded_minhash_rows(sdf), threshold=MINHASH_THRESHOLD
    )
    base = _stream_tmpdir("stream_dedup_minhash_")
    sink_dir = _os.path.join(base, "sink")
    q = (
        pairs.writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", _os.path.join(base, "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.parquet(sink_dir)
        .select("doc_a", "doc_b", "est_jaccard")
        .distinct()
    )


# append-mode watermark delay: sessions whose end is older than the final
# watermark (ms-truncated max event time minus this delay) are FINALIZED
# and emitted; later sessions stay open in the state store.
SESSION_APPEND_DELAY = "4 hours"
SESSION_APPEND_DELAY_US = 4 * 3600 * 1_000_000


def q_stream_events_sessions_append(spark, sf_dir):
    """Streaming session windows, PRODUCTION shape: append output mode
    with a nonzero watermark delay, emitting FINALIZED sessions only.

    Contract (the one that survives an unbounded stream): a session is
    emitted exactly once, when the watermark passes its end; state holds
    only open sessions plus those younger than the delay — bounded by
    recent activity, never by stream history (unlike the complete-mode
    bounded-replay twin ``q_stream_events_sessions``).

    Emission boundary, verified against Spark's state-store eviction: a
    session finalizes when ``session_end <= watermark`` where the final
    watermark is the millisecond-truncated max event time minus the
    delay.  The DuckDB oracle is the same gaps-and-islands CTE truncated
    by exactly that predicate."""
    import os as _os

    sdf = _stream_table(spark, sf_dir, "events")
    agg = (
        sdf.withWatermark("ts", SESSION_APPEND_DELAY)
        .groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias("session_start_us"),
            F.unix_micros(F.col("session_window.end")).alias("session_end_us"),
            "n",
        )
    )
    base = _stream_tmpdir("stream_events_sessions_append_")
    sink_dir = _os.path.join(base, "sink")
    q = (
        agg.writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", _os.path.join(base, "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(sink_dir).select(
        "user_id", "session_start_us", "session_end_us", "n"
    )


def q_stream_events_dedup(spark, sf_dir):
    """Streaming exact dedup: readStream over events, state-store
    dropDuplicates on (user_id, event_type), append parquet sink — each
    key emitted exactly once on first arrival.  The emitted KEY SET is
    deterministic (row choice is not, so only keys are returned), and
    must equal the batch DISTINCT — streaming and batch dedup agree.
    State = one entry per distinct key (the honest cost of exact dedup;
    bounded by key cardinality, not stream length)."""
    import os as _os

    from scanner_spark.streaming.windows import to_parquet

    sdf = _stream_table(spark, sf_dir, "events")
    dd = sdf.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    base = _stream_tmpdir("stream_events_dedup_")
    sink_dir = _os.path.join(base, "sink")
    q = to_parquet(dd, sink_dir, _os.path.join(base, "ckpt"), "append")
    q.awaitTermination()
    return spark.read.parquet(sink_dir).select("user_id", "event_type")


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_events_sliding_daily(spark, sf_dir):
    """Sliding-window batch analytics: per event type, each day's count
    plus the trailing-3-day moving count — a RANGE window frame over
    event-time days (one shuffle on event_type)."""
    ev = read_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "event_type",
            F.unix_timestamp(F.date_trunc("day", F.col("ts"))).alias("day_epoch"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day_epoch")
        .rangeBetween(-2 * 86400, 0)
    )
    return daily.withColumn("n_3d", F.sum("n").over(w))


def q_events_pivot(spark, sf_dir):
    """Pivot event counts per user (explicit value list -> stable schema)."""
    ev = read_table(spark, sf_dir, "events")
    p = ev.groupBy("user_id").pivot("event_type", EVENT_TYPES).count()
    # pivot yields NULL for empty cells; normalize to 0 like FILTER counts
    return p.select(
        "user_id", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in EVENT_TYPES]
    )


# ---------------------------------------------------------------------------
# C. LLM-pipeline: text / dedup / similarity / multimodal
# ---------------------------------------------------------------------------

def q_text_analyze(spark, sf_dir):
    d = read_table(spark, sf_dir, "documents")
    return text.analyze(d).select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "n_tokens_bpe",
        "stopword_ratio",
        "punct_ratio",
        "lang_pred",
        "fingerprint",
    )


def q_dedup_exact_groups(spark, sf_dir):
    d = read_table(spark, sf_dir, "documents")
    return (
        d.select(F.md5(F.col("text")).alias("content_hash"), F.col("doc_id"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def q_dedup_materialize(spark, sf_dir):
    """The cleaned-corpus materialization step: keep exactly one doc per
    exact-content group (lowest doc_id), emitting the surviving rows.
    Window min over the content hash — one shuffle, no self-join."""
    d = read_table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5(F.col("text")))
    kept = d.withColumn("keep_id", F.min("doc_id").over(w))
    return kept.filter(F.col("doc_id") == F.col("keep_id")).select(
        "doc_id", F.md5(F.col("text")).alias("content_hash")
    )


def q_dedup_jaccard_pairs(spark, sf_dir):
    d = read_table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(
        d, threshold=JACCARD_THRESHOLD, max_shingle_df=JACCARD_MAX_SHINGLE_DF
    )


def q_dedup_minhash_lsh(spark, sf_dir):
    d = read_table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(d, threshold=MINHASH_THRESHOLD)


def q_dedup_simhash_sigs(spark, sf_dir):
    d = read_table(spark, sf_dir, "documents")
    return dedup.simhash(d)


def q_dedup_minhash_clusters(spark, sf_dir):
    """MinHash pairs -> connected components -> cluster summary: the
    keep-one-per-cluster step of a real dedup pipeline.  CC is eager: a
    driver union-find under ``dedup.LOCAL_CC_MAX_EDGES`` edges, join-free
    large-star/small-star rounds above it; the oracle replays it with a
    recursive CTE."""
    d = read_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(d, threshold=MINHASH_THRESHOLD)
    return dedup.dedup_clusters(pairs)


# Manku WWW'07's production setting: Hamming radius 3.  radius+1 = 4 blocks
# of 12 bits each — 4096-value blocks keep LSH buckets fine-grained (the
# block width, bits/(k+1), is what conditions the candidate join; a loose
# radius like 8 would force 5-bit blocks = 32-value buckets and a
# quadratic candidate blow-up on any duplicated corpus).
SIMHASH_MAX_HAMMING = 3


def q_dedup_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs via the block-rotation scheme (Manku WWW'07):
    4 signature blocks guarantee FULL recall at Hamming radius 3, verified
    against a brute-force all-pairs oracle."""
    d = read_table(spark, sf_dir, "documents")
    return dedup.simhash_pairs(d, max_hamming=SIMHASH_MAX_HAMMING)


VOCAB_TOPK = 100


def q_vocab_topk(spark, sf_dir):
    """Corpus vocabulary: top-k tokens by document frequency.  Total order
    (df DESC, tok) makes the LIMIT deterministic; Spark plans it as
    TakeOrderedAndProject (no global sort materialization)."""
    d = read_table(spark, sf_dir, "documents")
    tok = d.select(
        F.explode(F.array_distinct(text.tokens(F.col("text")))).alias("tok")
    )
    counts = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("df_count"))
    return counts.orderBy(F.desc("df_count"), "tok").limit(VOCAB_TOPK)


EMB_Q = 1 << 20  # centroid quantization: floor(x * 2^20) — exact int sums


def q_emb_label_centroids(spark, sf_dir):
    """Per-label centroid over quantized embeddings, long format
    (label, dim, n, centroid).  Quantizing each float32 coordinate to
    floor(x * 2^20) makes the per-dim sums exact integers — associative,
    so the groupBy is order-free and bit-identical across engines (raw
    double sums are not).  One shuffle of (label, dim) pairs."""
    e = read_table(spark, sf_dir, "embeddings")
    q = e.select(
        "label",
        F.posexplode("embedding").alias("dim", "x"),
    ).withColumn(
        "xq", F.floor(F.col("x").cast("double") * EMB_Q).cast("long")
    )
    return (
        q.groupBy("label", "dim")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("xq").alias("sum_q"))
        .select(
            "label",
            "dim",
            "n",
            (F.col("sum_q").cast("double") / (F.col("n") * F.lit(float(EMB_Q)))).alias(
                "centroid"
            ),
        )
    )


def q_doc_quality(spark, sf_dir):
    """C4-style heuristic quality score + keep flag per document
    (tokenize-once barrier: the score's five token-metric expressions
    share one tokens attribute)."""
    d = read_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id", "text",
        F.explode(F.array(text.tokens(F.col("text")))).alias("__tk"),
    )
    scored = base.select(
        "doc_id",
        text.quality_score(F.col("text"), toks=F.col("__tk")).alias("quality"),
    )
    return scored.select(
        "doc_id",
        "quality",
        (F.col("quality") >= 0.5).cast("int").alias("kept"),
    )


def q_emb_dup_clusters(spark, sf_dir):
    """Embedding near-dup pairs -> connected components -> clusters: the
    semantic-dedup decision step (keep_id per cosine-similarity cluster).

    pairs_mode='star': clustering only needs a spanning subset of the
    near-dup graph, so each LSH bucket emits (anchor, member) edges — O(m)
    dots per bucket instead of the O(m^2) all-pairs listing that melts down
    on hot near-dup cliques (VERDICT r05: 1494 s of the sf10 suite).  The
    anchor rows are scored by the same per-bucket kernel as
    ``emb_cosine_pairs``, mega-bucket split included.  The DuckDB oracle
    computes the identical star graph (same anchors, same edges), so the
    driver hash check pins the semantics, not just the rowcount."""
    e = read_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform(F.col("embedding"), lambda x: x.cast("double"))
    )
    pairs = dedup.cosine_dup_pairs(
        e, threshold=COSINE_THRESHOLD, lsh_bits=EMB_LSH_BITS, pairs_mode="star"
    ).select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
    return dedup.dedup_clusters(pairs)


def q_emb_knn_brute(spark, sf_dir):
    e = read_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform(F.col("embedding"), lambda x: x.cast("double"))
    )
    q = e.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    return simsearch.knn_brute(e, list(q), k=KNN_K)


def q_emb_cosine_pairs(spark, sf_dir):
    e = read_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform(F.col("embedding"), lambda x: x.cast("double"))
    )
    return dedup.cosine_dup_pairs(e, threshold=COSINE_THRESHOLD, lsh_bits=EMB_LSH_BITS)


# --- rows-only checks (genuinely non-SQL-expressible paths) -----------------

def q_emb_knn_lsh(spark, sf_dir):
    e = read_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform(F.col("embedding"), lambda x: x.cast("double"))
    )
    q = e.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    return simsearch.knn_lsh(e, list(q), k=KNN_K, bits=6)


def q_frame_optical_flow(spark, sf_dir):
    """Reference OpticalFlow kernel (tests/test_ops.cpp:63-109): stencil
    [-1,0] over a frame stream — Scanner's flagship temporal-window shape.
    Documents become 5 parallel frame streams (dense idx); flow(0) is zero
    by REPEAT_EDGE.  Oracle-checked for everything SQL can see: stream
    mapping, stencil row alignment, output dims, and the REPEAT_EDGE
    boundary contract (flow at idx=0 compares a frame against itself, so
    it must be exactly zero — ``edge_zero_flow``); interior rows carry
    NULL there (dense Lucas-Kanade float numerics, pinned by
    tests/test_kernels.py)."""
    ship(spark)
    from scanner_spark.frames import FRAME_SCHEMA
    from scanner_spark.kernels.image import optical_flow_op

    frames = _doc_frames(spark, sf_dir)
    st = frames.select(
        (F.col("asset_id") % 5).cast("string").alias("stream_id"),
        (F.col("asset_id") / 5).cast("long").alias("idx"),
        F.struct("frame", "height", "width", "channels", "dtype").alias(
            "frame_struct"
        ),
    )
    out = optical_flow_op(st, ["frame_struct"], "flow", f"struct<{FRAME_SCHEMA}>")

    @F.pandas_udf("boolean")
    def all_zero(b: pd.Series) -> pd.Series:
        # float-level zero test: the closed-form LK solve can emit -0.0
        # (sign bit set) from products with negative gradients, which is
        # still zero flow
        return pd.Series(
            [not np.frombuffer(bytes(x), dtype=np.float32).any() for x in b]
        )

    return out.select(
        "stream_id",
        "idx",
        F.col("flow.height").alias("height"),
        F.col("flow.width").alias("width"),
        F.col("flow.channels").alias("channels"),
        F.length(F.col("flow.frame")).alias("nbytes"),
        # int 1/0 rather than boolean: NULL booleans canonicalize
        # differently across engine->pandas paths (None vs NaN); NULL
        # ints uniformly become NaN floats on both sides
        F.when(F.col("idx") == 0, all_zero(F.col("flow.frame")).cast("int"))
        .otherwise(F.lit(None).cast("int"))
        .alias("edge_zero_flow"),
    )


def _ivf_index_path(sf_dir: str, nlist: int) -> tuple[str, str]:
    """(index_path, data_key) for the persisted IVF index of an sf_dir's
    embeddings table.  The key fingerprints the source parquet
    (path+size+mtime) so a regenerated table rebuilds the index instead
    of silently serving stale cells; the path lives under a temp base
    ($SPARK_GRAFT_INDEX_DIR overrides) keyed by the same fingerprint."""
    import hashlib
    import os
    import tempfile

    src = os.path.join(sf_dir, "embeddings.parquet")
    st = os.stat(src)
    data_key = f"{os.path.abspath(src)}:{st.st_size}:{st.st_mtime_ns}"
    # Per-user base dir, mode 0700 (ADVICE r08): a predictable shared
    # path under the world-writable tmp dir could be pre-created/poisoned
    # by another local user (data_key is derivable from readable stat
    # info).  $SPARK_GRAFT_INDEX_DIR still overrides for shared-cluster
    # deployments where the store has its own ACLs.
    base = os.environ.get("SPARK_GRAFT_INDEX_DIR")
    if base is None:
        base = os.path.join(
            tempfile.gettempdir(),
            f"scanner_spark_indexes-uid{os.getuid()}",
        )
        os.makedirs(base, mode=0o700, exist_ok=True)
        os.chmod(base, 0o700)
    h = hashlib.md5(f"{data_key}:nlist={nlist}".encode()).hexdigest()[:16]
    return os.path.join(base, f"ivf_{h}"), data_key


def q_emb_knn_ivf(spark, sf_dir):
    """IVF-style ANN: probe the nearest coarse-quantizer cells only (the
    inverted-file scale path).  The coarse quantizer follows the same
    rounded-Lloyd determinism contract as cluster.kmeans, so the DuckDB
    oracle unrolls the identical 2-iteration training and hash-matches
    the probed top-k.  Recall vs knn_brute is pinned by tests.

    Build/serve split (r7 review): the index — parquet partitioned by
    ``cell`` + centroid sidecar — is built at most once per dataset
    fingerprint and persisted; this call then reads ONLY the 3 probed
    cell partitions (partition pruning at the scan).  First call on a
    fresh dataset pays the 2-pass Lloyd build; every later call is the
    pruned read + k-row TakeOrdered."""
    ship(spark)
    e = read_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform(F.col("embedding"), lambda x: x.cast("double"))
    )
    q = e.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    path, data_key = _ivf_index_path(sf_dir, nlist=8)
    return simsearch.knn_ivf(
        e, list(q), k=KNN_K, nlist=8, nprobe=3,
        index_path=path, data_key=data_key,
    )


def q_doc_rolling_fingerprint(spark, sf_dir):
    ship(spark)
    d = read_table(spark, sf_dir, "documents")
    roll = text.rolling_fingerprint_udf()
    return d.select("doc_id", roll(F.col("text")).alias("rolling_hash"))


PASSAGE_K = 24  # characters per passage window (shared with the oracle)
PASSAGE_W = 16  # winnowing window: passages >= K+W-1 chars guaranteed


def q_doc_repeated_passages(spark, sf_dir):
    """Cross-document repeated-passage detection (the corpus-self-repeat
    signal behind suffix-array-style training-data dedup, complementing
    ``doc_decontaminate``'s query-vs-corpus check): every K-char window
    of every document is fingerprinted with the Rabin-Karp rolling hash,
    and fingerprints seen in >= 2 distinct documents are reported with
    their document and occurrence counts.

    Scale shape: the windowed hashing is O(n) vectorized per document
    (no per-character Python), and the per-document (fp, occ)
    pre-aggregate is FUSED into the fingerprinting stage (round 15,
    ``text.fingerprint_doc_counts``) — each doc appears in exactly one
    input row, so its counts are complete locally and the whole query
    runs ONE shuffle, on the 61-bit hash (the old explode +
    groupBy(fp, doc) spelling shuffled the corpus twice).

    POLICY — exact variant is ORACLE-ONLY: this emits every one of the
    ~n window fingerprints per document, which at 100 TB is a shuffle of
    corpus size x K.  It exists as the ground-truth twin for the
    winnowed production operator; deployments must run
    ``q_doc_repeated_passages_winnowed`` (~2/(w+1) of the rows with the
    >= k+w-1 match-detection guarantee), never this."""
    ship(spark)
    d = read_table(spark, sf_dir, "documents")
    per_doc = text.fingerprint_doc_counts(d, "doc_id", "text", PASSAGE_K)
    return (
        per_doc.groupBy("fp")
        .agg(F.count("*").alias("n_docs"), F.sum("occ").alias("n_occ"))
        .filter(F.col("n_docs") >= 2)
    )


def q_doc_repeated_passages_winnowed(spark, sf_dir):
    """Winnowed cross-document repeated-passage detection — the
    production-scale sibling of ``doc_repeated_passages``.  The exact
    variant explodes one fingerprint row per character position (O(corpus
    chars) pre-combine volume: the r7 plan audit's heaviest query, and
    ~1e14 generated rows at 100 TB); winnowing
    (``text.winnowed_fingerprint_doc_counts``) selects only per-window
    minimum hashes at expected density 2/(W+1) while guaranteeing any
    shared passage >= PASSAGE_K+PASSAGE_W-1 chars is still detected.
    Downstream shape matches the exact variant: the per-doc (fp, occ)
    pre-aggregate is fused into the fingerprinting stage, one shuffle on
    the 61-bit hash.  Occurrence counts are counts of SELECTED positions
    (deterministic in both engines), not raw window counts."""
    ship(spark)
    d = read_table(spark, sf_dir, "documents")
    per_doc = text.winnowed_fingerprint_doc_counts(
        d, "doc_id", "text", PASSAGE_K, PASSAGE_W
    )
    return (
        per_doc.groupBy("fp")
        .agg(F.count("*").alias("n_docs"), F.sum("occ").alias("n_occ"))
        .filter(F.col("n_docs") >= 2)
    )


def q_multimodal_decode(spark, sf_dir):
    """Binary-payload pipeline on REAL compressed images in SIX formats:
    documents text -> PNG payloads (doc_id % 6 == 0, in-repo encoder),
    baseline JPEG (% 6 == 1, in-repo T.81 encoder), GIF (% 6 == 2,
    in-repo LZW encoder), lossless WebP/VP8L (% 6 == 3, in-repo
    prefix-code encoder), LZW+predictor TIFF (% 6 == 4, in-repo TIFF 6.0
    codec), and progressive JPEG (% 6 == 5, SOF2 successive
    approximation) -> format-sniffed real decode + bilinear resize ->
    frame columns.  Exercises the mapInPandas media plumbing end-to-end
    with genuine codecs on driver-provided data; no fake decode path
    exists.  Oracle-checked: lossless formats get exact pixel checksums,
    the two lossy JPEG rows NULL + dims."""
    ship(spark)
    from scanner_spark.functions import multimodal

    # the codec UDFs are ms-per-row CPU work; io.read_table's guarded
    # starved-scan heal already spreads the few-row-group documents scan
    # across every core.  Round 14 (VERDICT r13 #2): the six per-format
    # filter+union branches are FUSED into one per-row-dispatch Arrow
    # pass (multimodal.text_to_media) — one documents scan and one UDF
    # stage instead of six of each, byte-identical payloads
    d = read_table(spark, sf_dir, "documents")
    frames = multimodal.decode_image(
        multimodal.text_to_media(d, "text", 32, 32), 16, 16
    )
    # the four lossless formats decode + half-pixel-resize to exact
    # integer pixel values the DuckDB twin recomputes from the tiled text
    # bytes; JPEG (baseline and progressive) is lossy (DCT quantization)
    # so its checksum columns are NULL in both engines and only dims are
    # value-checked for it
    cks = _frame_checksum_udf()
    lossy = (F.col("asset_id") % 6).isin(1, 5)
    out = frames.select(
        "asset_id", "height", "width", "channels", cks(F.col("frame")).alias("c")
    )
    return out.select(
        "asset_id",
        "height",
        "width",
        "channels",
        F.when(lossy, F.lit(None).cast("bigint"))
        .otherwise(F.col("c.pix_sum"))
        .alias("pix_sum"),
        F.when(lossy, F.lit(None).cast("bigint"))
        .otherwise(F.col("c.pix_wsum"))
        .alias("pix_wsum"),
    )


def q_multimodal_audio(spark, sf_dir):
    """Third modality end-to-end with REAL codecs: deterministic int16
    sawtooth per doc -> 16-bit PCM RIFF/WAVE (even ids) or FLAC (odd ids,
    in-repo lossless encoder) -> magic-sniffed decode + feature
    extraction (RMS / zero-crossing rate / peak), all integer-exact so
    the DuckDB oracle recomputes every value from the closed-form sample
    formula — identically for both codecs, because FLAC is lossless.
    mapInPandas both directions; no audio libraries."""
    ship(spark)
    from scanner_spark.functions import multimodal

    # io.read_table's guarded heal supplies the scan-spreading exchange
    d = read_table(spark, sf_dir, "documents")
    # two REAL audio codecs, magic-sniffed on decode: even docs 16-bit PCM
    # RIFF/WAVE, odd docs FLAC (in-repo lossless encoder).  Features are
    # codec-invariant (FLAC round-trips the identical int16 samples), so
    # the closed-form oracle needs no codec column.  Round 14: one
    # per-row-dispatch pass (codec="auto") replaces the two filter+union
    # branches — one documents scan instead of two
    media = multimodal.synth_audio(d, codec="auto")
    return multimodal.audio_feature_table(media).select(
        F.col("asset_id").alias("doc_id"),
        "n_samples",
        "sample_rate",
        "duration_ms",
        "rms",
        "zcr",
        "peak",
    )


def _frame_checksum_udf():
    """Integer checksums of a packed uint8 frame: plain and
    position-weighted byte sums.  The frame-kernel numerics (bilinear
    half-pixel resize, [1,2,1] separable Gaussian) land on exact dyadic
    rationals before the floor(+0.5) requantize, so the DuckDB oracles
    recompute both sums bit-exactly from closed-form integer formulas
    over the tiled document bytes."""

    @F.pandas_udf("struct<pix_sum:bigint,pix_wsum:bigint>")
    def cks(frames: pd.Series) -> pd.DataFrame:
        sums, wsums = [], []
        for b in frames:
            a = np.frombuffer(bytes(b), dtype=np.uint8).astype(np.int64)
            sums.append(int(a.sum()))
            wsums.append(int((a * (np.arange(a.size) + 1)).sum()))
        return pd.DataFrame({"pix_sum": sums, "pix_wsum": wsums})

    return cks


def _doc_frames(spark, sf_dir, h=16, w=16):
    """documents -> real PNG payloads -> really-decoded frames (shared by
    the frame kernel queries; every downstream kernel consumes genuinely
    decoded pixels)."""
    from scanner_spark.functions import multimodal

    d = read_table(spark, sf_dir, "documents")
    media = multimodal.text_to_png(d, "text", h, w)
    return multimodal.decode_image(media, h, w)


def q_frame_histogram(spark, sf_dir):
    """Reference Histogram kernel (tests/test_ops.cpp:13-56) over decoded
    frames: per-channel 16-bin histograms via the op compiler's
    elementwise path, exploded to scalar (asset, channel, bin, n) rows.

    Fully oracle-checked: ``text_to_png`` tiles the document's utf-8
    bytes into the pixel grid and PNG round-trips pixel-exact, so the
    DuckDB twin recomputes every bin count from the tiled bytes (ascii()
    per position; testdata text is ASCII by construction).  The r6 driver
    run showed array columns break the canonicalizer's sort/hash —
    exploding to scalars is both the fix and what enables the oracle."""
    ship(spark)
    from scanner_spark.kernels.image import histogram_op

    frames = _doc_frames(spark, sf_dir)
    out = histogram_op(
        frames,
        ["frame", "height", "width", "channels", "dtype"],
        "hist",
        "array<array<bigint>>",
    )
    return out.select(
        "asset_id", F.posexplode("hist").alias("channel", "bins")
    ).select("asset_id", "channel", F.posexplode("bins").alias("bin", "n"))


def q_frame_resize(spark, sf_dir):
    """Reference Resize kernel (tests/test_ops.cpp:114-170): 16x16 -> 8x4
    bilinear (cv2 half-pixel-center map), returning the packed frame
    struct.  Fully oracle-checked: the half-pixel map at these exact
    scale factors makes every output pixel the floor(+0.5) of a
    4-neighbor average — (S+2)//4 in integers — over the tiled document
    bytes, so the DuckDB twin recomputes the byte-sum checksums
    exactly."""
    ship(spark)
    from scanner_spark.kernels.image import make_resize_op

    frames = _doc_frames(spark, sf_dir)
    resize = make_resize_op(8, 4)
    out = resize(
        frames,
        ["frame", "height", "width", "channels", "dtype"],
        "resized",
        "struct<frame:binary,height:int,width:int,channels:int,dtype:string>",
    )
    cks = _frame_checksum_udf()
    return out.select(
        "asset_id",
        F.col("resized.height").alias("height"),
        F.col("resized.width").alias("width"),
        F.length(F.col("resized.frame")).alias("nbytes"),
        cks(F.col("resized.frame")).alias("c"),
    ).select(
        "asset_id",
        "height",
        "width",
        "nbytes",
        F.col("c.pix_sum").alias("pix_sum"),
        F.col("c.pix_wsum").alias("pix_wsum"),
    )


def q_frame_blur(spark, sf_dir):
    """Reference Blur kernel (tests/test_ops.cpp:239-310): 3x3 separable
    Gaussian (cv2 tap table, BORDER_REFLECT_101) over decoded frames.
    Fully oracle-checked: the [1,2,1]⊗[1,2,1]/16 convolution over uint8
    stays on exact sixteenths, so every output byte is (S+8)//16 of the
    9-neighbor weighted sum of tiled document bytes — the DuckDB twin
    recomputes the checksums exactly (per-frame md5 stays pinned in
    tests/test_kernels.py)."""
    ship(spark)
    from scanner_spark.kernels.image import make_blur_op

    frames = _doc_frames(spark, sf_dir)
    blur = make_blur_op(3)
    out = blur(
        frames,
        ["frame", "height", "width", "channels", "dtype"],
        "blurred",
        "struct<frame:binary,height:int,width:int,channels:int,dtype:string>",
    )
    cks = _frame_checksum_udf()
    return out.select(
        "asset_id",
        F.col("blurred.height").alias("height"),
        F.col("blurred.width").alias("width"),
        cks(F.col("blurred.frame")).alias("c"),
    ).select(
        "asset_id",
        "height",
        "width",
        F.col("c.pix_sum").alias("pix_sum"),
        F.col("c.pix_wsum").alias("pix_wsum"),
    )


def q_pipeline_clean_corpus(spark, sf_dir):
    """The composed LLM-data pipeline in one plan: quality-filter ->
    exact-dedup (keep lowest doc_id) -> per-doc text features.  One narrow
    projection for scoring, one shuffle for the dedup window, features
    computed only on survivors (filter-before-feature ordering matters at
    100 TB).  Fully oracle-checked."""
    d = read_table(spark, sf_dir, "documents")
    # tokenize-once barriers (the text.analyze discipline): one tokens
    # attribute feeds the pre-filter quality score, a second feeds the
    # survivors' features — two tokenizer runs per doc instead of the
    # ~11 the naive helper spelling embeds; neither array crosses the
    # dedup shuffle (only doc_id/text/quality do)
    base = d.select(
        "doc_id", "text",
        F.explode(F.array(text.tokens(F.col("text")))).alias("__tq"),
    )
    scored = base.select(
        "doc_id", "text",
        text.quality_score(F.col("text"), toks=F.col("__tq")).alias("quality"),
    ).filter(F.col("quality") >= 0.5)
    w = Window.partitionBy(F.md5(F.col("text")))
    deduped = (
        scored.withColumn("keep_id", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("keep_id"))
        .drop("keep_id")
    )
    feat = deduped.select(
        "doc_id", "quality", "text",
        F.explode(F.array(text.tokens(F.col("text")))).alias("__tf"),
    )
    return feat.select(
        "doc_id",
        "quality",
        F.size(F.col("__tf")).cast("long").alias("n_tokens"),
        text.lang_id(F.col("text"), toks=F.col("__tf")).alias("lang_pred"),
    )


VIDEO_WANTED = [0, 13, 14, 39]


# Video fixture corpus for q_video_decode_pruned: one spec per committed
# GOP fixture (vid0-vid20), each avc1 entry noting the codec feature it
# oracle-benches (full prose history in git: rounds 8-14).  Synthesis is
# deterministic (synthetic_frame / np.roll) so the DuckDB twin's VALUES
# rows stay pinned.
_SCAL4_WI = np.array([[6, 13, 20, 28], [13, 20, 28, 32],
                      [20, 28, 32, 37], [28, 32, 37, 42]], np.int64)
_SCAL4_WP = np.array([[10, 14, 20, 24], [14, 20, 24, 27],
                      [20, 24, 27, 30], [24, 27, 30, 34]], np.int64)
_SCAL8_WI = (np.arange(64).reshape(8, 8) % 24) + 10
_SCAL8_WP = np.full((8, 8), 20, np.int64)
_SCAL4_FLAT = tuple(np.full((4, 4), 16, np.int64) for _ in range(6))

_VIDEO_FIXTURES = [
    # two deterministic SVF videos (keyframe index, no transcode)
    dict(name="vid0.svf", codec="svf", stream=0, n=40, h=12, w=16,
         want=VIDEO_WANTED, kw=dict(gop=8)),
    dict(name="vid1.svf", codec="svf", stream=1, n=40, h=12, w=16,
         want=[25], kw=dict(gop=8)),
    # legal raw-sample ISO-BMFF mp4 (decode straight off the sample index)
    dict(name="vid2.mp4", codec="raw", stream=2, n=40, h=12, w=16,
         want=[7, 31], kw={}),
    # I/P/B GOP avc1 (decode-order samples + ctts reordering; wanted set
    # hits a bi-predicted B and a non-IDR P)
    dict(name="vid3.mp4", codec="avc1", stream=3, n=8, h=16, w=16,
         want=[1, 6], kw=dict(qp=10, gop=4, b_frames=1)),
    # multi-slice pictures (round 8): prediction/CAVLC contexts must not
    # cross the slice boundary
    dict(name="vid4.mp4", codec="avc1", stream=4, n=8, h=16, w=16,
         want=[2, 5], kw=dict(qp=10, gop=4, b_frames=1, slices=2)),
    # CABAC entropy (round 9): origin-marker SEI unlocks the uniform-init
    # arithmetic decoder
    dict(name="vid5.mp4", codec="avc1", stream=5, n=8, h=16, w=16,
         want=[1, 6], kw=dict(qp=10, gop=4, b_frames=1, entropy="cabac")),
    # hierarchical-B pyramid (round 9): referenced B in the DPB + explicit
    # ref_pic_list_modification on trailing Ps
    dict(name="vid6.mp4", codec="avc1", stream=6, n=16, h=16, w=16,
         want=[5, 10], kw=dict(qp=10, gop=8, b_frames=3, b_pyramid=True)),
    # mixed I/P slice kinds (round 9): intra-refresh first slice per P
    dict(name="vid7.mp4", codec="avc1", stream=7, n=8, h=32, w=32,
         want=[3, 6], kw=dict(qp=10, gop=4, slices=2, p_intra_slices=1)),
    # in-loop deblocking (round 11): qp=30 so alpha/beta are active
    dict(name="vid8.mp4", codec="avc1", stream=8, n=8, h=32, w=32,
         want=[1, 6], kw=dict(qp=30, gop=4, b_frames=1, deblock=True)),
    # multi-reference P (round 11): num_ref_idx_l0_active=2, te(v) ref_idx
    dict(name="vid9.mp4", codec="avc1", stream=9, n=8, h=32, w=32,
         want=[2, 6], kw=dict(qp=30, gop=8, p_refs=2, deblock=True)),
    # implicit weighted bipred (round 11): POC-derived §8.4.2.3.1 weights
    dict(name="vid10.mp4", codec="avc1", stream=10, n=8, h=32, w=32,
         want=[1, 5], kw=dict(qp=30, gop=4, b_frames=2,
                              implicit_bipred=True, deblock=True)),
    # MMCO 4+6 long-term marking (round 12): idc-2 LT list modification
    dict(name="vid11.mp4", codec="avc1", stream=11, n=8, h=32, w=32,
         want=[3, 7], kw=dict(qp=30, gop=8, p_refs=2,
                              ref_mode="lt_anchor", deblock=True)),
    # multi-reference B lists (round 12): §8.2.4.2.3 default B lists
    dict(name="vid12.mp4", codec="avc1", stream=12, n=9, h=32, w=32,
         want=[3, 8], kw=dict(qp=30, gop=9, b_frames=1, b_refs=2,
                              deblock=True)),
    # SPS-coded 4x4 scaling matrices (round 12): §8.5.12.2 weighted dequant
    dict(name="vid13.mp4", codec="avc1", stream=13, n=6, h=32, w=32,
         want=[2, 5], kw=dict(qp=30, gop=6, deblock=True,
                              scaling4=(_SCAL4_WI, _SCAL4_WI, _SCAL4_WI,
                                        _SCAL4_WP, _SCAL4_WP, _SCAL4_WP))),
    # CABAC multi-reference B (round 13): §9.3 neighbour-context ref_idx
    dict(name="vid14.mp4", codec="avc1", stream=14, n=9, h=32, w=32,
         want=[3, 8], kw=dict(qp=30, gop=9, b_frames=1, b_refs=2,
                              entropy="cabac", deblock=True)),
    # spatial B_Direct_16x16 (round 13): §8.4.1.2.2 derivation replay
    dict(name="vid15.mp4", codec="avc1", stream=15, n=8, h=32, w=32,
         want=[1, 6], kw=dict(qp=30, gop=8, b_frames=1, b_direct=True,
                              deblock=True)),
    # High-profile transform_size_8x8 (round 13): Intra_8x8 + 8x8 dequant
    # from SPS-coded 8x8 lists + internal-edge deblock skip
    dict(name="vid16.mp4", codec="avc1", stream=16, n=8, h=32, w=32,
         want=[1, 6], kw=dict(qp=30, gop=4, b_frames=1, transform_8x8=True,
                              b_direct=True, entropy="cabac", deblock=True,
                              scaling4=_SCAL4_FLAT,
                              scaling8=(_SCAL8_WI, _SCAL8_WP))),
    # temporal direct (round 13): §8.4.1.2.3 POC-scaled co-located motion
    dict(name="vid17.mp4", codec="avc1", stream=17, n=8, h=32, w=32,
         want=[1, 6], kw=dict(qp=30, gop=4, b_frames=1, b_direct=True,
                              direct_mode="temporal", deblock=True)),
    # MMCO 5 DPB flush + frame_num/POC rebase (round 13)
    dict(name="vid18.mp4", codec="avc1", stream=18, n=8, h=32, w=32,
         want=[2, 6], kw=dict(qp=30, gop=8, ref_mode="mmco5_refresh",
                              deblock=True)),
    # P_8x8/B_8x8 sub-macroblock partitions, CABAC (round 14): Table 9-38
    # sub_mb_type trees, B_Direct_8x8 quadrants, per-4x4 §8.7.2.1 bS;
    # rolled content gives the partitions real translational motion
    dict(name="vid19.mp4", codec="avc1", stream=19, n=8, h=32, w=32,
         roll=(3, 1),
         want=[1, 6], kw=dict(qp=30, gop=4, b_frames=1, part_mode="8x8",
                              b_direct=True, entropy="cabac",
                              deblock=True)),
    # 16x8 two-partition P/B, CAVLC (round 14): §8.4.1.3 directional
    # MV-predictor shortcuts
    dict(name="vid20.mp4", codec="avc1", stream=20, n=8, h=32, w=32,
         roll=(2, 0),
         want=[1, 6], kw=dict(qp=30, gop=4, b_frames=1, part_mode="16x8",
                              deblock=True)),
]


def _video_fixture_bytes(spec: dict) -> bytes:
    """Encode one deterministic video fixture (runs on an executor)."""
    from scanner_spark.frames import synthetic_frame
    from scanner_spark.sources import mp4 as mp4mod
    from scanner_spark.sources import svf as svfmod

    roll = spec.get("roll")
    if roll:
        mult, axis = roll
        base = synthetic_frame(spec["stream"], 0, spec["h"], spec["w"], 3)
        frames = [np.roll(base, shift=mult * i, axis=axis)
                  for i in range(spec["n"])]
    else:
        frames = [synthetic_frame(spec["stream"], i, spec["h"], spec["w"], 3)
                  for i in range(spec["n"])]
    if spec["codec"] == "svf":
        return svfmod.encode_svf(frames, **spec["kw"])
    if spec["codec"] == "raw":
        return mp4mod.encode_mp4_raw(frames)
    return mp4mod.encode_mp4_avc1(frames, **spec["kw"])



def q_frame_encode_png(spark, sf_dir):
    """Reference ImageEncoder (util/image_encoder.cpp:112-117): frame ->
    PNG bytes (pure-numpy encoder; zlib is deterministic).  The shape
    `Column.load()` uses to surface video frames as images.

    Fully oracle-checked via round trip: the emitted PNG is decoded back
    on the executor and compared byte-exactly to the input frame, and the
    checksums are computed over the DECODED pixels — which must equal the
    tiled document bytes the DuckDB twin recomputes.  Any encoder or
    decoder defect flips ``roundtrip_ok`` or shifts a checksum, hash-
    mismatching the oracle.  (Exact PNG byte lengths/md5 stay pinned in
    tests/test_kernels.py — zlib output is not SQL-expressible.)"""
    ship(spark)
    from scanner_spark.kernels.image import image_encoder_op

    frames = _doc_frames(spark, sf_dir)
    out = image_encoder_op(
        frames, ["frame", "height", "width", "channels", "dtype"], "png", "binary"
    )

    @F.pandas_udf("struct<roundtrip_ok:boolean,pix_sum:bigint,pix_wsum:bigint>")
    def rt(png: pd.Series, orig: pd.Series) -> pd.DataFrame:
        from scanner_spark.kernels.image import decode_png

        oks, sums, wsums = [], [], []
        for p, o in zip(png, orig):
            img = decode_png(bytes(p))
            a = img.reshape(-1).astype(np.int64)
            oks.append(img.tobytes() == bytes(o))
            sums.append(int(a.sum()))
            wsums.append(int((a * (np.arange(a.size) + 1)).sum()))
        return pd.DataFrame(
            {"roundtrip_ok": oks, "pix_sum": sums, "pix_wsum": wsums}
        )

    return out.select(
        "asset_id", rt(F.col("png"), F.col("frame")).alias("c")
    ).select(
        "asset_id",
        F.col("c.roundtrip_ok").alias("roundtrip_ok"),
        F.col("c.pix_sum").alias("pix_sum"),
        F.col("c.pix_wsum").alias("pix_wsum"),
    )


def q_video_decode_pruned(spark, sf_dir):
    """The engine's one novel physical operator end-to-end: ingest two
    deterministic SVF videos (keyframe index, no transcode) PLUS a legal
    raw-sample mp4 PLUS a REAL compressed avc1 (H.264) mp4 with GOP
    structure (IDR + P frames, in-repo baseline codec kernels/h264.py),
    then decode a sparse frame set — the GOP-pruning join ensures only
    the GOPs containing wanted frames are decoded via bounded byte-range
    reads, mp4 frames decode straight off the sample index, and the avc1
    track has full I/P/B GOP structure (gop=4, b_frames=1: decode-order
    samples + ctts reordering) with the wanted set hitting BOTH a
    bi-predicted B frame (display 1) and a non-IDR P (display 6) —
    keyframe-forward inter decode through a general sliding-window DPB
    (CAVLC + intra + quarter-pel MC + bi-prediction).  Sibling tracks
    exercise multi-slice pictures, CABAC entropy, hierarchical-B
    pyramids (referenced B + ref_pic_list_modification), and mixed
    I/P slice-kind pictures.
    Driver testdata has no video table, so the videos are synthesized
    deterministically per call.  Oracle-checked: lossless (SVF/raw-mp4)
    frames get exact closed-form checksums; avc1 rows NULL (pixel bounds
    pinned by tests/test_video.py and tests/test_h264.py)."""
    import os
    import tempfile

    from scanner_spark.catalog import Database
    from scanner_spark.sources import ingest_videos, load_frames

    ship(spark)
    tmp = tempfile.mkdtemp(prefix="ssq_video_")
    db = Database(spark, f"{tmp}/db")
    specs = _VIDEO_FIXTURES
    # fixture synthesis runs ON EXECUTORS (round 15): the in-repo encoder
    # is pure Python and the 18 avc1 encodes cost ~6 s single-threaded on
    # the driver at EVERY scale factor; parallelize one encode per task
    # and collect the ~KB blobs (cluster-safe: bytes come back to the
    # driver, no shared executor filesystem assumed)
    blobs = (
        spark.sparkContext.parallelize(specs, len(specs))
        .map(lambda sp: (sp["name"], _video_fixture_bytes(sp)))
        .collect()
    )
    for name, data in blobs:
        with open(os.path.join(tmp, name), "wb") as f:
            f.write(data)
    paths = [os.path.join(tmp, sp["name"]) for sp in specs]
    ingest_videos(spark, db, paths)
    wanted = {os.path.join(tmp, sp["name"]): sp["want"] for sp in specs}
    out = load_frames(spark, db, wanted)

    # SVF and raw-mp4 decode pixel-exact, and synthetic_frame is closed
    # form — (7s + 13f + 3x + 5y + 11c) mod 256 — so the DuckDB twin
    # recomputes their checksums from pure VALUES/range SQL; the avc1
    # video is lossy (qp=10) so its rows carry NULL checksums in both
    # engines (pixel bounds pinned by tests/test_video.py, per-frame md5
    # by test_h264.py)
    cks = _frame_checksum_udf()
    out2 = out.select(
        F.element_at(F.split("video_path", "/"), -1).alias("video"),
        F.col("frame_no").cast("long").alias("frame_no"),
        cks(F.col("frame")).alias("c"),
    )
    lossy = F.col("video").isin(
        [sp["name"] for sp in _VIDEO_FIXTURES if sp["codec"] == "avc1"]
    )
    return out2.select(
        "video",
        "frame_no",
        F.when(lossy, F.lit(None).cast("bigint"))
        .otherwise(F.col("c.pix_sum"))
        .alias("pix_sum"),
        F.when(lossy, F.lit(None).cast("bigint"))
        .otherwise(F.col("c.pix_wsum"))
        .alias("pix_wsum"),
    )


def q_emb_knn_pq(spark, sf_dir):
    """Product-quantization ANN end-to-end: train codebooks on a bounded
    deterministic sample, encode the corpus to m x int codes (no
    shuffle), ADC table-lookup top-k for the query vector — the
    billion-scale memory/IO shape (scan reads m ints per vector).
    Rows-only (k-means training isn't ANSI-SQL); recall vs exact L2 is
    pinned by tests."""
    ship(spark)
    e = read_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform(F.col("embedding"), lambda x: x.cast("double"))
    )
    q = e.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    return simsearch.knn_pq_adc(e, list(q), k=KNN_K, m=8, ksub=16)


def q_dedup_keep_best(spark, sf_dir):
    """Production dedup materialization: MinHash-LSH near-dup clusters,
    keep the highest-QUALITY member of each (not min-id; ties by id) —
    CC + one per-cluster argmax window."""
    d = read_table(spark, sf_dir, "documents")
    base = d.select(
        *d.columns,
        F.explode(F.array(text.tokens(F.col("text")))).alias("__tk"),
    )
    scored = base.select(
        *d.columns,
        text.quality_score(F.col("text"), toks=F.col("__tk")).alias("quality"),
    )
    pairs = dedup.minhash_lsh_pairs(d, threshold=MINHASH_THRESHOLD)
    return dedup.dedup_keep_best(scored, pairs, "quality", "doc_id")


def q_emb_quantize(spark, sf_dir):
    """Symmetric int8 quantization of the embeddings table (4x vector
    compression for a 100 TB ANN index) — narrow JVM projection, no
    shuffle; emits per-vector scale + integer-code stats so both engines
    hash-compare scalars."""
    e = read_table(spark, sf_dir, "embeddings")
    qz = simsearch.quantize_embeddings(e)
    absq = F.transform(F.col("q"), lambda x: F.abs(x))
    return qz.select(
        F.col("id").alias("vec_id"),
        F.round(F.col("scale"), 9).alias("scale"),
        F.aggregate(
            absq, F.lit(0).cast("long"), lambda a, x: a + x.cast("long")
        ).alias("q_l1"),
        F.array_max(absq).cast("long").alias("q_maxabs"),
    )


def q_events_asof_join_op(spark, sf_dir):
    """The reusable two-table as-of join operator
    (functions/temporal.asof_join, union-tag shape: one shuffle on the
    key, no range explosion) on real data: each purchase event joined to
    the user's most recent signup at-or-before it.  Oracle: DuckDB's
    NATIVE ASOF LEFT JOIN — a fully independent implementation of the
    same semantics."""
    from scanner_spark.functions.temporal import asof_join

    ev = read_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    signups = ev.filter(F.col("event_type") == "signup").select("user_id", "ts")
    out = asof_join(purchases, signups, on="ts", by=["user_id"], value_cols=[])
    return out.select(
        "event_id", "user_id", F.unix_micros(F.col("ts_r")).alias("signup_us")
    )


PACK_SEQ_LEN = 128


def q_docs_pack_sequences(spark, sf_dir):
    """Greedy contiguous sequence packing: documents laid end-to-end in
    (source, doc_id) order, each assigned the 128-token training sequence
    its first token lands in.  Per-source windows parallelize (a global
    cumsum would single-partition); integer window arithmetic, exact in
    both engines."""
    d = read_table(spark, sf_dir, "documents")
    return curation.pack_sequences(d, seq_len=PACK_SEQ_LEN)


DOMAIN_RESAMPLE_TARGET = 10


def q_docs_domain_resample(spark, sf_dir):
    """Pile/DoReMi-style domain rebalancing: cap every source at ~target
    docs via hash-thresholded Bernoulli keep (p = min(1, target/|group|),
    u = h60(doc_id)/2^60) — deterministic, RNG-free, one count + broadcast
    join + narrow filter (the data itself never shuffles)."""
    d = read_table(spark, sf_dir, "documents")
    return curation.domain_resample(
        d, group_col="source", id_col="doc_id",
        target_per_group=DOMAIN_RESAMPLE_TARGET,
    )


SPARSE_LOAD_ROWS = [3, 4, 5, 6, 9, 120, 121, 122, 240, 481]
SPARSE_LOAD_RANGE = (300, 320)  # half-open


def q_scanner_sparse_load(spark, sf_dir):
    """The reference's sparse ``Column.load(rows=…)`` surface
    (python/scannerpy/column.py:114-118): explicit row indices + a dense
    range over the documents table, served by coalesced BETWEEN / IN
    predicates pushed to the parquet scan (load_sparsity_threshold
    heuristic -> row-group pruning)."""
    from scanner_spark.catalog import sparse_load

    d = read_table(spark, sf_dir, "documents")
    return sparse_load(
        d,
        columns=["doc_id", "source", "n_chars"],
        rows=SPARSE_LOAD_ROWS,
        ranges=[SPARSE_LOAD_RANGE],
        idx_col="doc_id",
    )


# ---------------------------------------------------------------------------
# §C2  Training-data curation (functions/curation.py)
# ---------------------------------------------------------------------------

# eval-set membership: doc_id % DECONTAM_EVAL_MOD == 0 — deterministic,
# oracle-reproducible stand-in for a benchmark table
DECONTAM_EVAL_MOD = 97
CHUNK_SIZE = 32
STRATA_K = 20


def q_doc_decontaminate(spark, sf_dir):
    """Benchmark decontamination: flag training docs sharing any word
    5-gram with the (deterministic) eval subset — the GPT-3/PaLM n-gram
    collision method.  Eval shingles broadcast; corpus side never
    shuffles beyond its own shingle pass."""
    d = read_table(spark, sf_dir, "documents")
    ev = d.filter(F.col("doc_id") % DECONTAM_EVAL_MOD == 0)
    train = d.filter(F.col("doc_id") % DECONTAM_EVAL_MOD != 0)
    return curation.decontaminate(train, ev)


def q_doc_repetition_filter(spark, sf_dir):
    """Gopher-style repetition signals + keep decision per document
    (duplicate-token / top-token / duplicate-bigram fractions), one
    explode + codegen'd aggregations."""
    return curation.repetition_filter(read_table(spark, sf_dir, "documents"))


def q_docs_stratified_sample(spark, sf_dir):
    """Deterministic exact-k-per-stratum sample over source strata,
    ranked by the shared 60-bit hash so both engines pick identical
    rows (no RNG state, retry-stable)."""
    return curation.stratified_sample(
        read_table(spark, sf_dir, "documents"), ["source"], STRATA_K
    )


def q_doc_chunk_windows(spark, sf_dir):
    """Context-window chunking: each doc's token sequence split into
    fixed 32-token windows (final partial kept) — the sequence-packing
    precursor.  Pure JVM slice arithmetic, no shuffle."""
    return curation.chunk_windows(
        read_table(spark, sf_dir, "documents"), size=CHUNK_SIZE
    )


# ---------------------------------------------------------------------------
# §C3  Deterministic sketches (functions/sketches.py)
# ---------------------------------------------------------------------------

KMV_K = 128
HIST_NBINS = 20
HIST_LO, HIST_HI = 0.0, 500.0


def q_events_approx_distinct(spark, sf_dir):
    """KMV distinct-user sketch per event type: k smallest h60 hashes,
    estimate (k-1)*2^60/h_(k) — the mergeable one-pass alternative to
    exact COUNT(DISTINCT) at 100 TB, with a bit-exact DuckDB twin
    (Spark's HLL++ approx_count_distinct is the production builtin but
    its sketch bytes aren't engine-portable)."""
    from scanner_spark.functions import sketches

    ev = read_table(spark, sf_dir, "events")
    return sketches.kmv_distinct(ev, ["event_type"], "user_id", k=KMV_K)


def q_events_value_histogram(spark, sf_dir):
    """Equi-width value histogram per event type (20 bins over [0, 500),
    edge-clamped): the partial-aggregatable numeric-profile primitive —
    map-side combine means the shuffle carries (group, bin) counts, not
    rows."""
    from scanner_spark.functions import sketches

    ev = read_table(spark, sf_dir, "events")
    return sketches.value_histogram(
        ev, ["event_type"], "value", HIST_NBINS, HIST_LO, HIST_HI
    )


SEARCH_TERMS = ["hash", "join", "vector", "stream"]
KMEANS_K = 8
KMEANS_ITERS = 3


def q_doc_pii_scrub(spark, sf_dir):
    """PII detection + redaction (emails / SSNs / IPv4s / phones).

    The driver corpus carries no organic PII, so the query SEEDS
    deterministic PII derived from doc_id into each text (same seeding in
    the oracle), then reports per-class counts and the md5 + length of the
    scrubbed text — the hash match proves both engines' regex passes
    edit the text identically, byte for byte.  All JVM regex, one
    projection, narrow."""
    from scanner_spark.functions import pii

    docs = read_table(spark, sf_dir, "documents")
    d = F.col("doc_id")

    def _num(col):
        return col.cast("string")

    email = F.concat(F.lit(" contact u"), _num(d), F.lit("@ex.com"))
    ssn = F.concat(
        F.lit(" ssn "),
        F.lpad(_num(d % 1000), 3, "0"),
        F.lit("-"),
        F.lpad(_num(d % 100), 2, "0"),
        F.lit("-"),
        F.lpad(_num(d % 10000), 4, "0"),
    )
    ip = F.concat(F.lit(" ip 10."), _num(d % 256), F.lit(".0."), _num(d % 100))
    phone = F.concat(F.lit(" tel +1 555 "), F.lpad(_num(d % 10000), 4, "0"))
    seeded = F.concat(
        F.col("text"),
        email,
        F.when(d % 3 == 0, ssn).otherwise(F.lit("")),
        F.when(d % 2 == 0, ip).otherwise(F.lit("")),
        F.when(d % 5 == 0, phone).otherwise(F.lit("")),
    )
    sel = docs.select("doc_id", seeded.alias("seeded"))
    return sel.select(
        "doc_id",
        *[
            pii.pii_count(F.col("seeded"), pat).alias(f"n_{name}")
            for name, pat, _repl in pii.PII_CLASSES
        ],
        F.md5(pii.pii_scrub(F.col("seeded"))).alias("scrub_md5"),
        F.length(pii.pii_scrub(F.col("seeded"))).alias("scrub_len"),
    )


def q_docs_tfidf_topk(spark, sf_dir):
    """Top-3 characteristic terms per document by tf-idf ranking (score =
    tf/df: integer operands, one exact IEEE division — idf monotone)."""
    from scanner_spark.functions import relevance

    docs = read_table(spark, sf_dir, "documents")
    return relevance.tfidf_topk(docs, k=3)


def q_docs_search_topk(spark, sf_dir):
    """Bag-of-terms retrieval: top 20 documents for a fixed query, scored
    by (#terms matched, total tf), integer-exact."""
    from scanner_spark.functions import relevance

    docs = read_table(spark, sf_dir, "documents")
    return relevance.search_topk(docs, SEARCH_TERMS, k=20)


def q_doc_lm_familiarity(spark, sf_dir):
    """Word-bigram LM familiarity per doc: sum of corpus-wide frequencies
    of the doc's bigrams (integer-exact n-gram LM quality skeleton)."""
    from scanner_spark.functions import relevance

    docs = read_table(spark, sf_dir, "documents")
    return relevance.bigram_familiarity(docs)


def q_emb_kmeans_assign(spark, sf_dir):
    """One Lloyd assignment step against the k lowest-id seed vectors —
    narrow JVM argmin over literal centroids; the emitted distance is an
    ordered fold, bit-equal to the oracle's sequential list_sum."""
    from scanner_spark.functions import cluster

    emb = read_table(spark, sf_dir, "embeddings")
    cents = cluster.seed_centroids(emb, KMEANS_K)
    return cluster.assign(emb, cents)


def q_emb_kmeans(spark, sf_dir):
    """Full distributed k-means (3 Lloyd iterations, deterministic seeds
    and rounded centroid updates): per-cluster size and min member id."""
    from scanner_spark.functions import cluster

    emb = read_table(spark, sf_dir, "embeddings")
    assigned, _cents = cluster.kmeans(emb, KMEANS_K, KMEANS_ITERS)
    return assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n"), F.min("vec_id").alias("min_vec_id")
    )


# ------------------------------------------------------------------
# Ordering = the driver's correctness window: it checks the first 50
# entries per round.  Round-17 rotation (VERDICT r16 "do this" #7): the
# five queries this round's code touches lead — stream_dedup_minhash_lsh
# (Arrow signature stage + vectorized shard scoring), multimodal_decode
# (TIFF/GIF LZW + WebP entropy-tier vectorization), multimodal_audio
# (bitpack precondition assert in its encode path), emb_cosine_pairs and
# emb_dup_clusters (mega-bucket triangle split in cosine_dup_pairs) —
# followed by the 41 entries whose latest driver evidence is round 15
# (samplers, tpch/relational, events batch, orders, doc filters), then 4
# dedup entries sharing functions/dedup.py with the cosine change to
# fill the window.  The remaining 41 were verified fresh in round 16
# (max evidence age stays one round).  Every entry stays locally
# hash-checked against its DuckDB oracle by tests/test_entry_parity.py
# regardless of window position.
QUERIES = {
    "stream_dedup_minhash_lsh": q_stream_dedup_minhash_lsh,
    "multimodal_decode": q_multimodal_decode,
    "multimodal_audio": q_multimodal_audio,
    "emb_cosine_pairs": q_emb_cosine_pairs,
    "emb_dup_clusters": q_emb_dup_clusters,
    "scanner_all": q_scanner_all,
    "scanner_all_distributed": q_scanner_all_distributed,
    "scanner_stride": q_scanner_stride,
    "scanner_range": q_scanner_range,
    "scanner_ranges": q_scanner_ranges,
    "scanner_strided_ranges": q_scanner_strided_ranges,
    "scanner_gather": q_scanner_gather,
    "scanner_repeat": q_scanner_repeat,
    "scanner_repeat_null": q_scanner_repeat_null,
    "scanner_null_passthrough": q_scanner_null_passthrough,
    "scanner_overlap_slices": q_scanner_overlap_slices,
    "scanner_stencil_smooth": q_scanner_stencil_smooth,
    "scanner_stencil_null": q_scanner_stencil_null,
    "scanner_variadic": q_scanner_variadic,
    "scanner_stream_args": q_scanner_stream_args,
    "scanner_sparse_load": q_scanner_sparse_load,
    "tpch_q1": q_tpch_q1,
    "tpch_q3": q_tpch_q3,
    "tpch_q4_priority": q_tpch_q4_priority,
    "tpch_q5": q_tpch_q5,
    "tpch_q6": q_tpch_q6,
    "tpch_q10": q_tpch_q10,
    "tpch_q14": q_tpch_q14,
    "tpch_q18": q_tpch_q18,
    "part_brand_stats": q_part_brand_stats,
    "top_customers_per_nation": q_top_customers_per_nation,
    "customers_without_orders": q_customers_without_orders,
    "segment_intersect": q_segment_intersect,
    "events_hourly": q_events_hourly,
    "events_sessionize": q_events_sessionize,
    "events_user_counts": q_events_user_counts,
    "events_retention": q_events_retention,
    "events_pivot": q_events_pivot,
    "events_sliding_daily": q_events_sliding_daily,
    "orders_percentiles": q_orders_percentiles,
    "orders_rollup": q_orders_rollup,
    "orders_cube": q_orders_cube,
    "doc_repetition_filter": q_doc_repetition_filter,
    "doc_chunk_windows": q_doc_chunk_windows,
    "doc_quality": q_doc_quality,
    "doc_lm_familiarity": q_doc_lm_familiarity,
    "dedup_keep_best": q_dedup_keep_best,
    "dedup_minhash_clusters": q_dedup_minhash_clusters,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_jaccard_pairs": q_dedup_jaccard_pairs,
    "emb_knn_lsh": q_emb_knn_lsh,
    "doc_rolling_fingerprint": q_doc_rolling_fingerprint,
    "dedup_exact_groups": q_dedup_exact_groups,
    "dedup_materialize": q_dedup_materialize,
    "dedup_simhash_sigs": q_dedup_simhash_sigs,
    "dedup_simhash_pairs": q_dedup_simhash_pairs,
    "emb_label_centroids": q_emb_label_centroids,
    "emb_quantize": q_emb_quantize,
    "emb_kmeans_assign": q_emb_kmeans_assign,
    "emb_knn_pq": q_emb_knn_pq,
    "doc_decontaminate": q_doc_decontaminate,
    "docs_stratified_sample": q_docs_stratified_sample,
    "docs_domain_resample": q_docs_domain_resample,
    "docs_pack_sequences": q_docs_pack_sequences,
    "doc_pii_scrub": q_doc_pii_scrub,
    "docs_search_topk": q_docs_search_topk,
    "vocab_topk": q_vocab_topk,
    "events_approx_distinct": q_events_approx_distinct,
    "events_value_histogram": q_events_value_histogram,
    "events_asof_join_op": q_events_asof_join_op,
    "events_asof_signup": q_events_asof_signup,
    "stream_events_dedup": q_stream_events_dedup,
    "stream_events_sessions": q_stream_events_sessions,
    "stream_events_sessions_append": q_stream_events_sessions_append,
    "stream_events_hourly": q_stream_events_hourly,
    "scanner_slice_state_unslice": q_scanner_slice_state_unslice,
    "scanner_warmup_gather": q_scanner_warmup_gather,
    "emb_knn_brute": q_emb_knn_brute,
    "emb_kmeans": q_emb_kmeans,
    "emb_knn_ivf": q_emb_knn_ivf,
    "docs_tfidf_topk": q_docs_tfidf_topk,
    "text_analyze": q_text_analyze,
    "pipeline_clean_corpus": q_pipeline_clean_corpus,
    "video_decode_pruned": q_video_decode_pruned,
    "frame_encode_png": q_frame_encode_png,
    "frame_histogram": q_frame_histogram,
    "frame_resize": q_frame_resize,
    "frame_blur": q_frame_blur,
    "frame_optical_flow": q_frame_optical_flow,
    "doc_repeated_passages": q_doc_repeated_passages,
    "doc_repeated_passages_winnowed": q_doc_repeated_passages_winnowed,
}

