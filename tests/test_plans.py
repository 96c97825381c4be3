"""Physical-plan quality gates: these assert the properties that matter at
100 TB — filter/projection pushdown into the parquet scan, broadcast joins
for dims, no shuffle in narrow samplers, whole-stage codegen coverage.
A regression here is a scale bug even when results stay correct."""

import pytest

from pyspark.sql import functions as F

from scanner_spark import queries as Q
from scanner_spark import streams as S


def plan_of(df, mode="formatted"):
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def test_q6_pushes_filters_and_prunes_columns(spark, sf_dir):
    plan = plan_of(Q.q_tpch_q6(spark, sf_dir))
    assert "PushedFilters:" in plan
    # shipdate/discount/quantity predicates reach the scan
    assert "l_shipdate" in plan.split("PushedFilters:")[1].split("\n")[0]
    # projection pruned to the 4 needed columns (no l_orderkey etc.)
    read_schema = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "l_extendedprice" in read_schema and "l_returnflag" not in read_schema


def test_q3_broadcasts_dimensions(spark, sf_dir):
    plan = plan_of(Q.q_tpch_q3(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan  # top-10 never global-sorts


def test_q5_broadcasts_small_dims(spark, sf_dir):
    plan = plan_of(Q.q_tpch_q5(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3  # supplier, nation, region


def test_narrow_samplers_have_no_shuffle(spark, sf_dir):
    # A Dataset's QueryExecution is a frozen lazy val: a memoized
    # events_stream frame explained while some equal plan was persisted
    # (e.g. by the entry-parity suite) keeps rendering the InMemoryRelation
    # substitution forever, while fresh sampler plans render under TODAY'S
    # cache state.  Clear the memo so base and samplers are planned under
    # the same cache state — this test compares plan shapes, not cache luck.
    Q.clear_stream_cache(spark)
    st = Q.events_stream(spark, sf_dir)
    base_exchanges = plan_of(st).count("Exchange")
    # single-branch samplers: exactly the base plan's exchanges, no more
    for op in (
        lambda d: S.stride(d, 8),
        lambda d: S.srange(d, 10, 50),
        lambda d: S.repeat(d, 3),
        lambda d: S.repeat_null(d, 3),
        lambda d: S.slice_strided(d, 100),
    ):
        plan = plan_of(op(st))
        assert plan.count("Exchange") == base_exchanges, (
            f"sampler added a shuffle:\n{plan}"
        )
    # union samplers replicate the base plan per interval in the *static*
    # plan (runtime ReuseExchange dedups it); still no NEW shuffle per branch
    plan = plan_of(S.strided_ranges(st, [(0, 10), (20, 40)], 2))
    assert plan.count("Exchange") == 2 * base_exchanges


def test_gather_broadcasts_request_list(spark, sf_dir):
    plan = plan_of(S.gather(Q.events_stream(spark, sf_dir), [1, 5, 9]))
    assert "BroadcastHashJoin" in plan


def test_knn_brute_is_takeordered_not_sort(spark, sf_dir):
    plan = plan_of(Q.q_emb_knn_brute(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan  # no global sort for top-k


def test_scan_queries_use_wholestage_codegen(spark, sf_dir):
    # AQE defers physical planning, so codegen subtrees are invisible in
    # any static explain; disable AQE just to inspect the compiled plan
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = plan_of(Q.q_tpch_q1(spark, sf_dir), mode="codegen")
        n = int(plan.split("Found ")[1].split(" WholeStageCodegen")[0])
        assert n >= 1
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """Co-bucketed tables sort-merge-join with neither an Exchange nor a
    per-task Sort: the shuffle was paid once at write time (the 100 TB
    co-location strategy)."""
    from scanner_spark.catalog import Database
    from scanner_spark.io import read_table

    db = Database(spark, str(tmp_path / "db"))
    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    lineitem = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    db.write_bucketed("b_orders", orders, ["o_orderkey"], 8, overwrite=True)
    db.write_bucketed("b_lineitem", lineitem, ["l_orderkey"], 8, overwrite=True)
    a, b = db.table("b_orders"), db.table("b_lineitem")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = a.join(b, a.o_orderkey == b.l_orderkey)
        plan = plan_of(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan
        # sanity: result matches the unbucketed join
        n_unbucketed = (
            read_table(spark, sf_dir, "orders")
            .join(
                read_table(spark, sf_dir, "lineitem"),
                F.col("o_orderkey") == F.col("l_orderkey"),
            )
            .count()
        )
        assert joined.count() == n_unbucketed
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        db.delete_table("b_orders")
        db.delete_table("b_lineitem")


def test_q10_broadcasts_nation_and_pushes_filters(spark, sf_dir):
    plan = plan_of(Q.q_tpch_q10(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    # the returnflag filter reaches the lineitem scan
    assert "PushedFilters:" in plan and "l_returnflag" in plan


def test_pipeline_clean_corpus_is_pure_jvm(spark, sf_dir):
    """The text pipeline must stay inside codegen: no Python/Arrow eval
    nodes anywhere in the plan (UDFs would cap throughput at 100 TB)."""
    plan = plan_of(Q.q_pipeline_clean_corpus(spark, sf_dir))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_text_analyze_is_pure_jvm(spark, sf_dir):
    plan = plan_of(Q.q_text_analyze(spark, sf_dir))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_minhash_signature_is_single_aggregate(spark, sf_dir):
    """Wide MinHash signatures: one groupBy over the shingle table — the
    plan must contain exactly one aggregate pair for the signature (no
    k-fold explode re-aggregation)."""
    from scanner_spark.functions import dedup
    from scanner_spark.io import read_table

    spark.catalog.clearCache()  # a cached sig from other tests rewrites the plan
    d = read_table(spark, sf_dir, "documents")
    plan = plan_of(dedup.minhash_signatures(d))
    # partial+final hash aggregate for the sig, plus the dropDuplicates pair
    assert plan.count("HashAggregate") <= 4


def test_jaccard_pairs_skew_capped_by_default(spark, sf_dir):
    """The candidate self-join must be bounded: ngram_jaccard_pairs caps
    shingle document frequency BY DEFAULT (a single stop-shingle would
    otherwise emit O(n^2) candidate pairs), and the suite query keeps the
    cap.  The cap manifests as a df-filtering aggregate feeding the join."""
    import inspect

    from scanner_spark.functions import dedup

    assert (
        inspect.signature(dedup.ngram_jaccard_pairs).parameters["max_shingle_df"].default
        is not None
    )
    spark.catalog.clearCache()
    plan = plan_of(Q.q_dedup_jaccard_pairs(spark, sf_dir))
    # the semi-join against the capped shingle list appears as LeftSemi
    assert "LeftSemi" in plan


def test_cosine_pairs_blocked_on_lsh_bucket(spark, sf_dir):
    """Embedding near-dup candidates must join on (label, LSH bucket), not
    label alone — the bucket key is what bounds the quadratic fan-out on a
    hot label at scale."""
    spark.catalog.clearCache()
    df = Q.q_emb_cosine_pairs(spark, sf_dir)
    plan = plan_of(df, mode="extended")
    assert "__bucket" in plan


def _physical_nodes(node, skip=()):
    """Pre-order walk of a JVM physical plan (AQE's current plan), not
    descending into nodes named in ``skip``."""
    if node.nodeName().startswith("AdaptiveSparkPlan"):
        node = node.executedPlan()
    yield node
    if node.nodeName() in skip:
        return
    ch = node.children()
    for i in range(ch.size()):
        yield from _physical_nodes(ch.apply(i), skip)


def test_cosine_pairs_one_exchange_into_the_kernel(spark, sf_dir):
    """The exact-duplicate collapse and the per-bucket kernel share one
    exchange on the blocking key (the size guard arrives by broadcast),
    and no join maps representatives back to member ids."""
    import re

    spark.catalog.clearCache()
    df = Q.q_emb_cosine_pairs(spark, sf_dir)
    nodes = list(_physical_nodes(df._jdf.queryExecution().executedPlan()))
    kernel = [n for n in nodes if n.nodeName() == "FlatMapGroupsInArrow"]
    assert len(kernel) == 1
    shuffles = [
        n.outputPartitioning().toString()
        for n in _physical_nodes(kernel[0], skip=("BroadcastExchange",))
        if n.nodeName() == "Exchange"
    ]
    assert len(shuffles) == 1 and shuffles[0].startswith("hashpartitioning("), shuffles
    assert "__bucket" in shuffles[0]
    plan = plan_of(df)
    join_keys = re.findall(r"(?:Left|Right) keys \[\d+\]: \[(.*)\]", plan)
    assert not [k for k in join_keys if "rid" in k], join_keys


def test_domain_resample_broadcasts_group_counts(spark, sf_dir):
    """The group-count dimension joins back by BROADCAST — the corpus
    itself must not shuffle for a rebalancing decision."""
    plan = plan_of(Q.q_docs_domain_resample(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_pack_sequences_single_shard_shuffle(spark, sf_dir):
    """Packing must shuffle ONCE, keyed by the shard column (a global
    cumsum would serialize into a single partition)."""
    plan = plan_of(Q.q_docs_pack_sequences(spark, sf_dir))
    assert plan.count("hashpartitioning(source") == 1
    # and never a single-partition global window
    assert "SinglePartition" not in plan


def test_asof_join_is_one_key_shuffle_no_range_join(spark, sf_dir):
    """The as-of join must be the union-tag window shape: shuffles keyed
    by user_id only, and NO broadcast-nested-loop / cartesian range join."""
    plan = plan_of(Q.q_events_asof_join_op(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan


def test_quantize_is_narrow_projection(spark, sf_dir):
    """Quantization adds NO shuffle — pure per-row array arithmetic.  The
    only Exchange allowed is io.read_table's starved-scan healing
    repartition at the INPUT (round-robin, below the projection); the
    operator itself must not hash-shuffle anything."""
    plan = plan_of(Q.q_emb_quantize(spark, sf_dir))
    import re

    exchanges = re.findall(r"Exchange (\w+)", plan)
    assert all(e == "RoundRobinPartitioning" for e in exchanges), plan


def test_make_stream_default_never_single_task_window_at_scale(spark, sf_dir):
    """Scale gate for the DEFAULT stream path: once input size crosses the
    straggler threshold, make_stream must NOT plan an unbounded
    `row_number() OVER (PARTITION BY stream_id)` window (one task per
    stream); it dispatches to the two-pass layout whose windows are bounded
    by physical partition."""
    import re

    from scanner_spark.io import read_table

    ev = read_table(spark, sf_dir, "events")
    # default call, input forced over the threshold -> distributed shape
    st = S.make_stream(ev, "event_type", "event_id", distribute_threshold=0)
    plan = plan_of(st, mode="extended")
    assert "__pid" in plan, "expected the partition-bounded distributed layout"
    # every row_number window spec partitions by MORE than stream_id alone
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        part_cols = spec.split("event_id")[0]
        assert "__pid" in part_cols, f"stream-only window partition: {spec}"
    # rows-identical to the single-window path (full contract is the
    # scanner_all_distributed oracle; this is the cheap local check)
    small = S.make_stream(ev, "event_type", "event_id", distribute=False)
    assert sorted(st.select("stream_id", "idx", "event_id").collect()) == sorted(
        small.select("stream_id", "idx", "event_id").collect()
    )


def test_make_stream_auto_dispatch_uses_plan_stats(spark):
    """The dispatch decision reads Catalyst stats (no job): a relation whose
    estimated size exceeds the DEFAULT threshold plans the distributed
    layout with no explicit opt-in from the caller."""
    big = (
        spark.range(0, 30_000_000)  # 8B/row stats => ~229 MB > 128 MB default
        .withColumn("stream_id", (F.col("id") % 4).cast("string"))
    )
    assert S.plan_size_bytes(big) > S.AUTO_DISTRIBUTE_BYTES
    st = S.make_stream(big, "stream_id", "id")
    assert "__pid" in plan_of(st, mode="extended")
    S.release_cached()
    # and a small relation keeps the cheap single-window plan
    small = spark.range(0, 100).withColumn("stream_id", F.lit("0"))
    assert "__pid" not in plan_of(S.make_stream(small, "stream_id", "id"), mode="extended")


def test_sparse_load_prunes_and_pushes(spark, sf_dir):
    plan = plan_of(Q.q_scanner_sparse_load(spark, sf_dir))
    filters = plan.split("PushedFilters:")[1].split("\n")[0]
    assert "Or(" in filters
    read_schema = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "text" not in read_schema  # projection pruned to 3 columns
