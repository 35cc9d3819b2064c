"""Physical-plan shape assertions — the scale story, checked.

Correct results with a wrong plan (no pushdown, accidental cross
join, global sort for a top-k) pass value tests but die at 100 TB;
these tests pin the plan properties that matter.
"""

from __future__ import annotations

import pytest

from map_reduce_showcase_spark.plans import REGISTRY
from map_reduce_showcase_spark.plans.registry import _load_all

_load_all()


def _plan(spark, sf_dir, name: str) -> str:
    df = REGISTRY[name].builder(spark, sf_dir)
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def test_q5_all_dim_joins_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q5_revenue_by_nation")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, "dim joins must not shuffle the fact table"


def test_brand_revenue_broadcasts_part(spark, sf_dir):
    plan = _plan(spark, sf_dir, "join_brand_revenue")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_topk_uses_take_ordered_not_global_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "topk_orders")
    assert "TakeOrderedAndProject" in plan, "top-k must not be a global sort"


def test_grep_filter_pushed_to_parquet(spark, sf_dir):
    plan = _plan(spark, sf_dir, "grep_docs")
    assert "PushedFilters" in plan
    assert "StringContains" in plan, "substring predicate should reach the scan"


def test_q1_prunes_columns(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    # ReadSchema must not include unused columns like l_orderkey
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema and "l_orderkey" not in read_schema[0]
    assert "l_returnflag" in read_schema[0]


def test_q1_partial_aggregation(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    # two HashAggregates (partial + final) around one shuffle
    assert plan.count("HashAggregate") >= 2


def test_q1_whole_stage_codegen(spark, sf_dir):
    df = REGISTRY["q1_pricing_summary"].builder(spark, sf_dir)
    df.collect()  # execute so AQE finalizes this dataframe's plan
    plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )
    assert "codegen id" in plan, "q1 must run inside whole-stage codegen"


def test_wc_explode_in_whole_stage_codegen(spark, sf_dir):
    """wc's tokenizer is native array functions, not a higher-order
    function: Spark generates no code for those, and an operator that
    holds one runs outside whole-stage codegen."""
    import re

    df = REGISTRY["wc_word_count"].builder(spark, sf_dir)
    df.collect()  # execute so AQE finalizes this dataframe's plan
    plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )
    # the tree lists the final plan's node ids before the initial plan's
    final_ids = re.findall(r"Generate \((\d+)\)", plan.split("== Initial Plan ==")[0])
    assert final_ids, plan
    for i in final_ids:
        assert re.search(rf"^\({i}\) Generate \[codegen id", plan, re.M), plan


def test_wc_partial_aggregation(spark, sf_dir):
    plan = _plan(spark, sf_dir, "wc_word_count")
    assert plan.count("HashAggregate") >= 2, "wc must combine map-side"


def test_no_cartesian_in_minhash(spark, sf_dir):
    plan = _plan(spark, sf_dir, "dedup_minhash_lsh")
    assert "CartesianProduct" not in plan, "LSH must never go pairwise"


@pytest.mark.parametrize(
    "name", ["events_asof_purchase_click", "dedup_simhash_pairs"]
)
def test_scale_sensitive_plans_avoid_cartesian(spark, sf_dir, name):
    plan = _plan(spark, sf_dir, name)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_exact_groups_fixture_offset_is_broadcast_single_row(spark, sf_dir):
    """The derived max(doc_id)+1 offset must attach via a BROADCAST
    nested-loop against a 1-row aggregate — never a data-sized
    cartesian (the only legitimate NestedLoopJoin shape this repo
    allows). Pin: exactly one BroadcastNestedLoopJoin, zero
    CartesianProduct, and the broadcast side is the aggregate."""
    import re

    plan = _plan(spark, sf_dir, "dedup_exact_groups_fixture")
    assert "CartesianProduct" not in plan
    # formatted output lists each node twice (tree + detail); the
    # "(N) <node>" detail header appears exactly once per node
    bnlj = re.findall(r"^\(\d+\) BroadcastNestedLoopJoin", plan, re.M)
    assert len(bnlj) == 1, plan
    # the build side must be the single-row max aggregate, which
    # means a BroadcastExchange feeding it exists in the same plan
    assert "BroadcastExchange" in plan


def test_grep_packed_is_nested_array_struct_agg(spark, sf_dir):
    """grep G4 parity: the aggregation genuinely builds
    ArrayType(StructType) (sort_array over collect_list(struct)) —
    the to_json in the registered output is serialization for the
    oracle hash, not the aggregate itself."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, LongType, StringType, StructType

    from map_reduce_showcase_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    packed = (
        docs.filter(F.col("text").contains("spark"))
        .groupBy("source")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("doc_id").alias("line_no"),
                        F.col("text").alias("line"),
                    )
                )
            ).alias("matches")
        )
    )
    field = packed.schema["matches"].dataType
    assert isinstance(field, ArrayType)
    assert isinstance(field.elementType, StructType)
    assert isinstance(field.elementType["line_no"].dataType, LongType)
    assert isinstance(field.elementType["line"].dataType, StringType)
    row = packed.filter(F.size("matches") > 1).first()
    if row is not None:
        nos = [m["line_no"] for m in row["matches"]]
        assert nos == sorted(nos), "per-file matches must be ordered"


def test_salted_counts_two_stage_agg(spark, sf_dir):
    """The salted registered query must really plan two aggregation
    stages (partial+final per stage → ≥4 HashAggregates) with an
    exchange between them."""
    plan = _plan(spark, sf_dir, "salted_event_counts")
    assert plan.count("HashAggregate") >= 4, plan


def test_decontam_broadcasts_benchmark_set(spark, sf_dir):
    """Decontamination must probe the corpus with a BROADCAST join
    on the benchmark shingle set — the benchmark side is tiny by
    construction and shuffling the corpus on the shingle would be
    the scale bug."""
    plan = _plan(spark, sf_dir, "decontam_benchmark_overlap")
    assert "BroadcastHashJoin" in plan, plan


def test_incremental_minhash_avoids_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "dedup_incremental_minhash")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize(
    "name",
    ["dedup_fuzzy_names", "dedup_containment_pairs"],
)
def test_blocked_joins_avoid_cartesian(spark, sf_dir, name):
    """The deletion-neighborhood fuzzy join and the containment
    inverted-index self-join must stay pure equi-joins: any
    CartesianProduct/NestedLoop means the blocking scheme
    degenerated to all-pairs."""
    plan = _plan(spark, sf_dir, name)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_triangle_joins_avoid_cartesian(spark, sf_dir):
    """The triangle closing must stay pure equi-joins: no
    CartesianProduct and no nested-loop node of ANY kind. Round 8
    moved the chunk-modulus choice to the driver (one 1-row
    ``.first()``), so even the scalar-attach BroadcastNestedLoopJoin
    that round 7 allowed is gone — K is a literal and the K=1 plan
    is the bare round-6 closing. The engaged (K>1) path's
    correctness is pinned separately by
    ``test_triangle_chunk_cap_invariant``."""
    plan = _plan(spark, sf_dir, "graph_triangle_summary")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the data-sized closing joins are real equi-joins
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_pagerank_adjacency_unchunked_without_celebrity(spark, sf_dir):
    """Round-9 port of the triangle's conditional-engagement lesson:
    when the driver-computed max degree is within ADJ_CHUNK_CAP the
    adjacency plan must be ONE aggregate over the bidirectional edge
    list — no deg join, no pmod chunk key (round 7's triangle paid
    ~+24% at the 16x sweep point for always-on scaffolding); past
    the cap the chunk machinery must actually appear. The engaged
    path's bit-exactness is pinned separately by
    ``test_pagerank_chunk_cap_invariant``."""
    from pyspark.sql import functions as F

    from map_reduce_showcase_spark.plans.queries_graph import (
        ADJ_CHUNK_CAP,
        _pagerank_adjacency,
        copurchase_edges,
    )

    edges = copurchase_edges(spark, sf_dir)
    bi = edges.unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = bi.groupBy(F.col("src").alias("vertex")).agg(
        F.count(F.lit(1)).alias("od")
    )

    def fmt(df):
        return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        )

    def n_joins(plan: str) -> int:
        return sum(plan.count(j) for j in
                   ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"))

    plain = fmt(_pagerank_adjacency(bi, deg, ADJ_CHUNK_CAP, max_od=100))
    assert "pmod" not in plain, plain
    assert "collect_list" in plain, plain
    # the only join left is the co-purchase self-join inside bi —
    # the deg attach (a whole join subtree) is gone with the chunks
    assert n_joins(plain) == n_joins(fmt(bi)), plain
    engaged = fmt(_pagerank_adjacency(bi, deg, 8, max_od=100))
    assert "pmod" in engaged, engaged
    assert n_joins(engaged) > n_joins(plain), engaged


def _n_scans(plan: str) -> int:
    # formatted explain repeats each node (tree + details); detail
    # headers are "(N) Scan parquet", exactly one per scan
    import re

    return len(re.findall(r"^\(\d+\) Scan parquet", plan, flags=re.MULTILINE))


def test_pii_scrub_is_single_scan(spark, sf_dir):
    """PII redaction must fuse into the scan: exactly one parquet
    scan of documents, no join, no extra pass per pattern."""
    plan = _plan(spark, sf_dir, "text_pii_scrub")
    assert _n_scans(plan) == 1
    assert "Join" not in plan


def test_funnel_single_scan_one_fingerprint_shuffle(spark, sf_dir):
    """The filter funnel reads documents ONCE; its only wide ops are
    the fingerprint window and the trivial 1-row final agg."""
    plan = _plan(spark, sf_dir, "pipeline_filter_funnel")
    assert _n_scans(plan) == 1
    assert "Join" not in plan


def test_rebalance_langs_never_shuffles_corpus(spark, sf_dir):
    """The keep predicate must evaluate against BROADCAST count
    frames — a SortMergeJoin would mean the doc table shuffles for
    what is scan-local integer math."""
    plan = _plan(spark, sf_dir, "sample_rebalance_langs")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_apply_near_label_join_broadcasts(spark, sf_dir):
    """Cluster labels cover only clustered docs, so the label→corpus
    join must broadcast the label side, and nothing in the component
    iteration may degenerate to a cartesian."""
    plan = _plan(spark, sf_dir, "dedup_apply_near")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_bigram_pmi_joins_vocab_not_occurrences(spark, sf_dir):
    """PMI totals ride along as broadcast single-row frames; the
    only allowed nested-loop joins are those two single-row
    broadcasts. Count aggs must be partial+final (map-side
    combined)."""
    import re

    plan = _plan(spark, sf_dir, "text_bigram_pmi")
    assert "CartesianProduct" not in plan
    n_bnlj = len(
        re.findall(r"^\(\d+\) BroadcastNestedLoopJoin", plan, flags=re.MULTILINE)
    )
    assert n_bnlj <= 2, f"only the two single-row totals may nested-loop: {n_bnlj}"
    n_agg = len(re.findall(r"^\(\d+\) HashAggregate", plan, flags=re.MULTILINE))
    assert n_agg >= 4


def test_rate_anomaly_aggregates_before_window(spark, sf_dir):
    """The trailing-24h frame must sort the hourly grid, not raw
    events: exactly one scan, and the Window's child is the hourly
    aggregate, never the scan directly."""
    plan = _plan(spark, sf_dir, "events_rate_anomaly")
    assert _n_scans(plan) == 1
    assert plan.count("HashAggregate") >= 2  # partial+final hourly agg
    assert "Window" in plan


def test_repeated_passages_shuffles_hashes_not_text(spark, sf_dir):
    """Span rows must carry the 60-bit hash: no 'shingle' string
    column may survive into an Exchange."""
    plan = _plan(spark, sf_dir, "dedup_repeated_passages")
    import re

    for m in re.finditer(r"^\(\d+\) Exchange.*$", plan, flags=re.MULTILINE):
        assert "shingle" not in m.group(0)


def test_split_estimate_agrees_with_rdd_probe(spark, sf_dir):
    """The metadata-only split estimate must make the SAME
    repartition decision as the exact (but plan-materializing) RDD
    probe for every catalog table — the guard's only contract."""
    from map_reduce_showcase_spark.functions.util import (
        _estimated_scan_partitions,
    )
    from map_reduce_showcase_spark.sources.tables import TABLE_NAMES, load_table

    par = spark.sparkContext.defaultParallelism
    for name in TABLE_NAMES:
        df = load_table(spark, sf_dir, name)
        est = _estimated_scan_partitions(spark, df.inputFiles())
        assert est is not None, f"{name}: estimator fell back"
        actual = df.rdd.getNumPartitions()
        assert (est < par) == (actual < par), (
            f"{name}: est={est} actual={actual} par={par} — guard decisions differ"
        )


def test_pack_sequences_single_shard_exchange(spark, sf_dir):
    """Packing must be shard-local: exactly ONE exchange (hash on
    shard), the window partitioned by shard (never a global/empty
    partition spec = single-reducer sort), and the per-pack aggregate
    reusing the shard partitioning instead of re-shuffling."""
    plan = _plan(spark, sf_dir, "pack_sequences_greedy")
    assert plan.count("(Exchange") + plan.count(") Exchange") <= 2  # header + node
    exchanges = [l for l in plan.splitlines() if "hashpartitioning" in l]
    assert len(exchanges) == 1, f"expected one shuffle, got: {exchanges}"
    assert "shard" in exchanges[0]
    window = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    assert window and "shard" in window[0], "window must partition by shard"


def test_chunk_spans_no_shuffle(spark, sf_dir):
    """Chunking is embarrassingly parallel: scan → project → explode,
    zero exchanges."""
    plan = _plan(spark, sf_dir, "pack_chunk_spans")
    assert "hashpartitioning" not in plan and "rangepartitioning" not in plan


def test_mixture_weights_aggregate_before_broadcast(spark, sf_dir):
    """The total-tokens frame must be broadcast into the tiny
    per-lang frame — never a window over the raw corpus."""
    plan = _plan(spark, sf_dir, "mixture_lang_weights")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "windowspecdefinition" not in plan


def test_weighted_sample_is_take_ordered(spark, sf_dir):
    """A-Res weighted sampling must be per-partition top-k heaps +
    tiny merge, never a global sort of the corpus."""
    plan = _plan(spark, sf_dir, "sample_weighted_quality")
    assert "TakeOrderedAndProject" in plan
    assert "hashpartitioning" not in plan


def test_bounded_topk_has_no_window(spark, sf_dir):
    """Grouped top-k via bounded aggregation: partial+final agg with
    K-entry state, never a rank window (which would sort the hottest
    group in one task)."""
    plan = _plan(spark, sf_dir, "topk_orders_per_segment_bounded")
    assert "windowspecdefinition" not in plan
    assert "partial_" in plan, "map-side partial aggregation expected"


def test_q21_one_fact_shuffle_at_scale(spark, sf_dir):
    """The Q21 rewrite's scale claim, pinned in the regime where it
    matters: with the orders⋈lineitem join forced to sort-merge (the
    only possible plan at 100 TB, where neither fact broadcasts),
    the per-(order,supplier) and per-order aggregates both reuse the
    join's l_orderkey hashpartitioning — exactly ONE lineitem
    exchange. The literal EXISTS/NOT-EXISTS form (three fact
    shuffles) lives only in the oracle."""
    from map_reduce_showcase_spark.plans import REGISTRY as R

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = R["q21_single_late_supplier"].builder(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    fact_exchanges = [
        l
        for l in plan.splitlines()
        if "hashpartitioning" in l and "l_orderkey" in l and "l_suppkey" not in l
        # the o_orderkey join exchange and the tiny late_supp agg
        # exchange are not lineitem re-shuffles
    ]
    assert len(fact_exchanges) == 1, f"fact should shuffle once: {fact_exchanges}"


def test_q21_broadcast_regime_two_fact_exchanges(spark, sf_dir):
    """At toy SF the optimizer instead BROADCASTS orders, which
    erases the orderkey partitioning the aggregates would reuse: the
    per-(order,supplier) aggregate then shuffles on both keys and
    the per-order aggregate on l_orderkey — exactly two, and that is
    the correct plan for this size (two cheap shuffles beat one when
    the join itself goes shuffle-free). Pinned so a regression adding
    a THIRD fact exchange (e.g. losing partition reuse between the
    stacked aggregates) fails loudly in either regime."""
    plan = _plan(spark, sf_dir, "q21_single_late_supplier")
    fact_exchanges = [
        l
        for l in plan.splitlines()
        if "hashpartitioning" in l and ("l_orderkey" in l or "l_suppkey" in l)
    ]
    assert len(fact_exchanges) == 2, f"expected exactly two: {fact_exchanges}"
    assert "BroadcastHashJoin" in plan, "supplier dim must broadcast"


def test_bucketed_q3_join_has_no_fact_exchange(spark, sf_dir):
    """The cashed-in bucketing claim: orders and lineitem written
    bucketed+sorted on orderkey join with ZERO exchange on either
    fact side — the scans are bucketed and the only shuffle in the
    whole plan is the 5-row priority rollup. This is the reference's
    static ``ihash(key) % n_reduce`` layout (src/lib.rs:201-208)
    made persistent."""
    plan = _plan(spark, sf_dir, "q3_bucketed_orders")
    assert "SortMergeJoin" in plan, "bucketed demo must not degrade to broadcast"
    assert "Bucketed: true" in plan, "scans must recognize the bucketed layout"
    fact_exchanges = [
        l for l in plan.splitlines() if "hashpartitioning" in l and "orderkey" in l
    ]
    assert not fact_exchanges, f"bucketed join must not shuffle: {fact_exchanges}"
    # exactly one shuffle exchange total: the tiny post-join rollup
    # (count detail headers, not the tree rendering of the same node)
    import re

    n_exchange = len(re.findall(r"^\(\d+\) Exchange\b", plan, flags=re.MULTILINE))
    assert n_exchange == 1, f"only the rollup may shuffle, saw {n_exchange}:\n{plan}"


def test_ensure_bucketed_idempotent_and_session_keyed(spark, sf_dir):
    """Two ensure calls for the same table must resolve to ONE
    materialization (second call is a pure catalog hit — same name,
    files untouched), and the backing location must lie under this
    application's scratch root, which no other session shares."""
    import os

    from map_reduce_showcase_spark.plans.queries_bucketed import ensure_bucketed
    from map_reduce_showcase_spark.session import scratch_dir

    n1 = ensure_bucketed(spark, sf_dir, "orders", "o_orderkey")
    loc = next(
        r[1]
        for r in spark.sql(f"DESCRIBE FORMATTED {n1}").collect()
        if r[0].strip() == "Location"
    )
    path = loc.removeprefix("file:")
    root = os.path.realpath(os.path.dirname(scratch_dir(spark, n1)))
    assert os.path.commonpath([os.path.realpath(path), root]) == root, (path, root)
    before = {f: os.path.getmtime(os.path.join(path, f)) for f in os.listdir(path)}
    n2 = ensure_bucketed(spark, sf_dir, "orders", "o_orderkey")
    assert n2 == n1
    after = {f: os.path.getmtime(os.path.join(path, f)) for f in os.listdir(path)}
    assert after == before, "second ensure call must not rewrite the table"


def test_argmin_has_no_window(spark, sf_dir):
    """The struct-min argmin must plan as a partial+final hash agg —
    no window, no sort of the fact table."""
    plan = _plan(spark, sf_dir, "argmin_cheapest_supplier")
    assert "windowspecdefinition" not in plan
    assert "partial_min" in plan, "map-side partial min expected"
    assert "BroadcastHashJoin" in plan, "part dim must broadcast"


def test_shuffle_train_order_window_is_sharded(spark, sf_dir):
    """The training-order window must partition by shard (a
    hash-distributed sort), never an empty partition spec — a global
    ORDER BY row_number is a single task sorting the corpus."""
    plan = _plan(spark, sf_dir, "shuffle_train_order")
    window = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    assert window and "shard" in window[0]
    assert "rangepartitioning" not in plan, "no global sort"


def test_udtf_chunks_no_shuffle(spark, sf_dir):
    """UDTF chunking is scan-local: the lateral join with the UDTF
    must add zero exchanges."""
    plan = _plan(spark, sf_dir, "udtf_overlap_chunks")
    assert "hashpartitioning" not in plan and "rangepartitioning" not in plan


def test_sessionize_single_user_shuffle(spark, sf_dir):
    """Gap-flag + running-sum sessionization must reuse ONE user_id
    partitioning for both windows — a second exchange would mean the
    timeline is sorted twice."""
    plan = _plan(spark, sf_dir, "events_sessionize_ids")
    exchanges = [l for l in plan.splitlines() if "hashpartitioning" in l]
    assert len(exchanges) == 1, f"expected one shuffle, got: {exchanges}"
    assert "user_id" in exchanges[0]


def test_kmeans_never_shuffles_vectors(spark, sf_dir):
    """k-means assignments are scan-local array_max expressions over
    the broadcast centroid row: no exchange may carry vec_id or the
    embedding — only the clusters×dims update aggregates shuffle."""
    plan = _plan(spark, sf_dir, "cluster_kmeans_balance")
    bad = [
        l
        for l in plan.splitlines()
        if "hashpartitioning" in l and ("vec_id" in l or "embedding" in l)
    ]
    assert not bad, f"vector-side shuffle found: {bad}"


def test_substring_runs_no_cartesian(spark, sf_dir):
    """ExactSubstr-style dedup must stay join-free: the duplicated-
    gram test is a count-over-window on the gram hash (one gram scan,
    one h-shuffle) and the island merge windows per doc — no joins,
    no pairwise anything, and exactly one parquet scan of the
    corpus (the old groupBy + semi-join shape scanned it twice)."""
    plan = _plan(spark, sf_dir, "dedup_substring_runs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" not in plan, "window formulation needs no join at all"
    assert _n_scans(plan) == 1, "corpus must be tokenized+hashed once"


def test_q18_scans_lineitem_once(spark, sf_dir):
    """Q18's HAVING subquery must reuse the per-order aggregate as
    the quantity source — the literal form scans+aggregates lineitem
    twice; the plan is pinned to exactly one lineitem scan."""
    plan = _plan(spark, sf_dir, "q18_large_volume_customers")
    assert plan.count("lineitem.parquet") == 1, "lineitem must be scanned once"
    assert "CartesianProduct" not in plan


def test_q17_broadcasts_filtered_part(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q17_small_quantity_revenue")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q9_dims_all_broadcast(spark, sf_dir):
    """Q9's star joins (part/supplier/nation) must broadcast — the
    fact table shuffles only for the orders join."""
    plan = _plan(spark, sf_dir, "q9_product_type_profit")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_q14_zero_fact_shuffles(spark, sf_dir):
    """Q14 is one broadcast join + one scalar aggregate: no
    sort-merge join, and the ship-date window reaches the scan."""
    plan = _plan(spark, sf_dir, "q14_promo_revenue_share")
    assert "SortMergeJoin" not in plan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("l_shipdate" in l for l in pushed), "shipdate must push to parquet"


def test_q19_part_side_predicates_prune_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q19_disjunctive_predicates")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q8_densest_join_tree_stays_bucketed(spark, sf_dir):
    """Seven joins, at most one fact-fact exchange pair: every dim
    joins via broadcast, never a nested loop."""
    plan = _plan(spark, sf_dir, "q8_market_share")
    assert plan.count("BroadcastHashJoin") >= 5
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q16_blocklist_is_broadcast_anti(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q16_supplier_part_variety")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_q4_exists_is_semi_join(spark, sf_dir):
    """EXISTS must decorrelate to a semi join (dedup at the join),
    with both date and returnflag filters pushed to their scans."""
    plan = _plan(spark, sf_dir, "q4_priority_with_returns")
    assert "LeftSemi" in plan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("l_returnflag" in l for l in pushed)
    assert any("o_orderdate" in l for l in pushed)


def test_semantic_dedup_pairs_only_within_cells(spark, sf_dir):
    """SemDeDup's pair generation must be an equi-join on the cell
    key — never an all-pairs cross join (the centroid broadcast is
    the only nested-loop, and it is k-rows-by-n, not n-by-n)."""
    plan = _plan(spark, sf_dir, "dedup_semantic_clusters")
    assert "CartesianProduct" not in plan


def test_runtime_bloom_filter_prunes_fact_side(spark, sf_dir):
    """Runtime row-level filtering, the 100 TB fact-fact lever AQE
    adds on top of static pushdown: with broadcast off (forcing a
    shuffle join), a selective filter on the orders side must
    inject a bloom-filter probe (`might_contain`) into the lineitem
    side, pruning fact rows BEFORE the shuffle. This is the
    runtime complement of the static bucketing demo in
    `queries_bucketed.py`."""
    from pyspark.sql import functions as F

    from map_reduce_showcase_spark.sources.tables import load_table

    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_scan = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # local test files are tiny; drop the size gate so the rule
        # fires the way it would on a real fact table
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load_table(spark, sf_dir, "lineitem")
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy()
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = j._jdf.queryExecution().toString()  # noqa: SLF001
        assert "might_contain" in plan, "bloom probe must reach the fact side"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            prev_scan,
        )


def test_split_leakage_joins_fingerprints_not_text(spark, sf_dir):
    """The leakage join must carry md5 fingerprints, never document
    text, and never go pairwise."""
    plan = _plan(spark, sf_dir, "pipeline_split_leakage")
    assert "CartesianProduct" not in plan
    read_schemas = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schemas, "expected parquet scans"
    # the join input projects fingerprint columns only; text is
    # consumed by md5 at scan level and must not survive into the
    # exchange (no 'text' in any Exchange's output would require
    # parsing; cheap proxy: the aggregate keys are fp-based)
    assert "fp" in plan


def test_threshold_sweep_single_scan(spark, sf_dir):
    """The 4-threshold sweep must be ONE corpus scan (explode of a
    literal array), not one scan per threshold."""
    plan = _plan(spark, sf_dir, "quality_threshold_sweep")
    assert plan.count("documents.parquet") == 1


def test_oov_vocab_is_take_ordered(spark, sf_dir):
    """The top-500 vocabulary must be TakeOrderedAndProject, never a
    single-partition ROW_NUMBER window over the whole vocabulary."""
    plan = _plan(spark, sf_dir, "text_oov_rate")
    assert "TakeOrderedAndProject" in plan
    assert "row_number" not in plan.lower()


def test_sparse_affinity_no_cartesian(spark, sf_dir):
    """Sparse cosine must be an equi-join on the dimension key."""
    plan = _plan(spark, sf_dir, "sim_user_affinity_sparse")
    assert "CartesianProduct" not in plan


def test_q11_two_scans_dims_broadcast(spark, sf_dir):
    """Q11's total branch re-instantiates the per-part aggregate
    (no CTE materialization in Spark — documented in the query),
    so the fact scans exactly TWICE, never more; both instances
    must broadcast their dims (no sort-merge join anywhere), and
    the threshold join is a broadcast of the 1-row total."""
    plan = _plan(spark, sf_dir, "q11_important_part_value")
    assert plan.count("lineitem.parquet") == 2
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_aqe_splits_skewed_join_partition(spark):
    """AQE skew-join splitting, demonstrated end-to-end: a join
    whose left side has one hot key (500k rows vs ~20 per cold
    key) re-plans at runtime into SortMergeJoin(skew=true) with
    the hot partition split ('coalesced and skewed' AQEShuffleRead)
    — the runtime complement of the explicit salting operator
    (`operators/skew.py`), and the default first line of defense
    this engine's SCALING.md prescribes. Thresholds are lowered to
    make a local-size dataset legibly 'skewed'; forceOptimize is
    needed because the downstream aggregate would otherwise make
    AQE decline the split (it adds a shuffle)."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        hot = spark.range(500_000).select(
            F.lit(0).alias("k"), F.md5(F.col("id").cast("string")).alias("v")
        )
        cold = spark.range(500_000, 520_000).select(
            (F.col("id") % 1000 + 1).alias("k"),
            F.md5(F.col("id").cast("string")).alias("v"),
        )
        right = spark.range(1001).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = (
            hot.union(cold)
            .join(right, "k")
            .agg(F.count(F.lit(1)).alias("n"), F.max("v").alias("m"))
        )
        j.collect()
        plan = j._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            j._jdf.queryExecution(), "formatted"
        )
        assert "skew=true" in plan, "AQE must split the skewed partition"
        assert "coalesced" in plan, "AQE must also coalesce the small partitions"
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_keep_best_quality_window_excludes_unclustered(spark, sf_dir):
    """The keeper-rank window must see only CLUSTERED docs: a filter
    on component is-not-null must sit below the window (otherwise
    every unclustered doc lands in one NULL partition — a one-task
    sort of most of the corpus)."""
    plan = _plan(spark, sf_dir, "dedup_keep_best_quality")
    import re

    # the window's child subtree must contain an isnotnull(component)
    # filter; cheap textual proxy: the plan carries the filter and
    # the window, and no CartesianProduct anywhere
    assert "isnotnull(component" in plan
    assert "row_number" in plan.lower()
    assert "CartesianProduct" not in plan


def test_distributed_cumsum_edge_cases(spark):
    """The two-pass prefix sum must agree with a plain global window
    on synthetic edges: duplicate order values (tie-break decides),
    all-equal values, and more partitions than rows."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from map_reduce_showcase_spark.operators.prefix import distributed_cumsum

    rows = [(i, v) for i, v in enumerate([5, 5, 5, 3, 3, 9, 1, 1, 1, 7])]
    df = spark.createDataFrame(rows, ["k", "v"]).select(
        "k", F.col("v").cast("decimal(10,2)").alias("v")
    )
    order = [F.col("v").desc(), F.col("k")]
    got = {
        r["k"]: float(r["c"])
        for r in distributed_cumsum(df, order, "v", n_partitions=32, out_col="c")
        .select("k", "c")
        .collect()
    }
    w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    want = {
        r["k"]: float(r["c"])
        for r in df.withColumn("c", F.sum("v").over(w)).select("k", "c").collect()
    }
    assert got == want


def test_bpe_pairs_topk_and_vocab_sized_second_shuffle(spark, sf_dir):
    """The only corpus-sized operation is the word count; pair mining
    shuffles the vocabulary and the top-20 is a bounded heap."""
    plan = _plan(spark, sf_dir, "bpe_pair_counts")
    assert "TakeOrderedAndProject" in plan, "top-20 must not be a global sort"
    assert plan.count("hashpartitioning") == 2, (
        "exactly word-count + pair-count shuffles expected"
    )
    assert "CartesianProduct" not in plan


def test_bm25_scoring_is_scan_local(spark, sf_dir):
    """BM25 never explodes or shuffles the corpus: corpus stats are
    ONE single-row aggregate broadcast back; scoring is column math;
    top-15 is a bounded heap."""
    plan = _plan(spark, sf_dir, "text_bm25_search")
    assert "TakeOrderedAndProject" in plan
    assert "explode" not in plan, "corpus must not be exploded"
    assert "hashpartitioning" not in plan, (
        "only the single-row stats aggregate may exchange"
    )
    assert "BroadcastExchange" in plan


def test_dsir_scoring_never_shuffles_docs(spark, sf_dir):
    """DSIR: the corpus is exploded ONLY to build the two bucket-count
    LMs (identical subtrees — AQE reuses the exchange, the PMI
    precedent); per-doc scoring is a scan-local fold against one
    broadcast ratio-array row, so no exchange carries doc rows."""
    import re

    plan = _plan(spark, sf_dir, "dsir_importance_weights")
    n_gen = len(re.findall(r"^\(\d+\) Generate", plan, flags=re.MULTILINE))
    assert n_gen == 2, f"scoring side must not explode (saw {n_gen} Generates)"
    for ln in plan.splitlines():
        if "hashpartitioning" in ln:
            assert "doc_id" not in ln and "toks" not in ln and "logw" not in ln, ln
    assert "BroadcastExchange" in plan
