"""Physical-plan shape assertions: the 100 TB posture is checked, not
assumed (task brief: '.explain the plan and iterate until it's the plan
you'd want').

- projection pruning reaches the parquet ReadSchema;
- predicates reach PushedFilters;
- dimension joins are broadcast, fact side never shuffles for them;
- top-k plans as TakeOrderedAndProject (no global sort);
- grouped aggregation is two-phase (partial before the exchange);
- hot-path scalar queries stay inside WholeStageCodegen.
"""

from __future__ import annotations

import contextlib
import io

from zio_kinesis_example_spark.registry import all_specs

from .conftest import SF_SMALL


def _plan(spark, name: str, mode: str = "formatted") -> str:
    df = all_specs()[name].fn(spark, SF_SMALL)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_scan_prunes_columns(spark):
    plan = _plan(spark, "q_scan_project")
    assert "ReadSchema" in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" in read_schema and "l_extendedprice" in read_schema
    assert "l_comment" not in read_schema and "l_partkey" not in read_schema


def test_filter_pushdown(spark):
    plan = _plan(spark, "q_filter_pred")
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    assert "l_quantity" in pushed and "l_returnflag" in pushed


def test_broadcast_join_strategy(spark):
    plan = _plan(spark, "q_join_broadcast")
    assert "BroadcastHashJoin" in plan
    # the fact side must not exchange before the join
    before_join = plan.split("BroadcastHashJoin")[0]
    assert "Exchange hashpartitioning(l_partkey" not in plan


def test_3way_join_broadcasts_fixed_dims(spark):
    plan = _plan(spark, "q_join_3way")
    assert plan.count("BroadcastHashJoin") >= 2  # nation & region at least


def test_topk_avoids_global_sort(spark):
    plan = _plan(spark, "q_topk")
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan.split("TakeOrderedAndProject")[0]


def test_agg_is_two_phase(spark):
    plan = _plan(spark, "q_agg_group")
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_scalar_queries_whole_stage_codegen(spark):
    # pure projections: codegen span visible statically ('*(n)' prefix)
    for name in ("q_math_funcs", "q_str_funcs"):
        plan = _plan(spark, name, mode="simple")
        assert "*(1)" in plan, name
    # aggregations sit under AdaptiveSparkPlan: check the executed plan
    df = all_specs()["q_case_when"].fn(spark, SF_SMALL)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "*(1)" in executed and "*(2)" in executed  # both agg phases codegen'd


def test_range_join_not_cartesian(spark):
    plan = _plan(spark, "q_join_range")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_join_single_exchange_no_range_join(spark):
    """The as-of join must be the union+window formulation: exactly one
    shuffle on user_id, no join operator at all (a range join would
    explode O(clicks x purchases) per user)."""
    plan = _plan(spark, "q_join_asof", mode="simple")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning(user_id") == 1


def test_session_batch_reuses_sort(spark):
    """Both window ops and the final agg run off ONE (user_id, ts) sort:
    exactly one exchange on user_id, exactly one sort."""
    plan = _plan(spark, "q_win_session_batch", mode="simple")
    assert plan.count("Exchange hashpartitioning(user_id") == 1


def test_exists_correlated_plans_semi_join(spark):
    plan = _plan(spark, "q_exists_correlated")
    assert "LeftSemi" in plan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l and "l_quantity" in l]
    assert pushed, "quantity predicate should push into the lineitem scan"


def test_tpch_q6_full_pushdown_no_shuffle(spark):
    """Q6: all four predicates reach the scan; no Exchange except the
    single-row final agg."""
    plan = _plan(spark, "q_tpch_q6")
    pushed = "".join(l for l in plan.splitlines() if "PushedFilters" in l)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, col
    simple = _plan(spark, "q_tpch_q6", mode="simple")
    assert simple.count("Exchange") == 1  # SinglePartition for final agg


def test_global_sort_uses_range_partitioning(spark):
    plan = _plan(spark, "q_sort_global", mode="simple")
    assert "rangepartitioning" in plan.lower()


def test_multi_distinct_uses_expand_single_scan(spark):
    plan = _plan(spark, "q_agg_multi_distinct", mode="simple")
    assert "Expand" in plan
    assert plan.count("Scan parquet") == 1


def test_minhash_pairs_no_candidate_dedup_exchange(spark):
    """Candidate pairs are emitted exactly once via the first-matching-band
    predicate: no aggregation on (doc_a, doc_b) between the bucket join
    and Jaccard verification — i.e. no dropDuplicates exchange. Plan has
    exactly the exchanges the data needs: bucket-join key + the verify
    joins' keys."""
    plan = _plan(spark, "q_dedup_minhash_pairs", mode="simple")
    assert "doc_a#" not in "".join(
        l for l in plan.splitlines() if "HashAggregate" in l
    )


def test_unpivot_is_map_side_expand(spark):
    """unpivot must plan as a zero-shuffle Expand: 4 output rows per input
    row, map-side only."""
    plan = _plan(spark, "q_unpivot", mode="simple")
    assert "Expand" in plan
    assert "Exchange" not in plan


def test_full_outer_join_shuffles_both_sides(spark):
    """Full outer cannot broadcast either side: expect a sort-merge (or
    shuffled hash) join with both inputs exchanged on the key."""
    plan = _plan(spark, "q_join_full", mode="simple")
    assert "FullOuter" in plan
    assert "BroadcastHashJoin" not in plan


def test_simhash_pairs_single_bucket_shuffle(spark):
    """Candidate mining shuffles once on (chunk_id, chunk_value); the
    emit-once first-zero-chunk predicate removes any pair-dedup
    aggregation between the join and the verify filter."""
    plan = _plan(spark, "q_dedup_simhash_pairs", mode="simple")
    assert "sa#" not in "".join(
        l for l in plan.splitlines() if "HashAggregate" in l
    )


def test_ivf_quantizer_is_top_k_not_full_collect(spark):
    """The IVF centroid sample must plan as TakeOrderedAndProject — the
    driver receives exactly nlist rows, never the corpus."""
    from pyspark.sql import functions as F

    from zio_kinesis_example_spark.operators.llm_similarity import (
        _IVF_NLIST, _emb,
    )
    df = (
        _emb(spark, SF_SMALL)
        .select("vec_id", "emb")
        .orderBy(F.xxhash64("vec_id"), "vec_id")
        .limit(_IVF_NLIST)
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("simple")
    assert "TakeOrderedAndProject" in buf.getvalue()


def test_ohlc_single_shared_exchange(spark):
    """Both row_number windows and the final aggregate key on the same
    projected (event_type, bucket_hour) attributes, so the whole OHLC
    resample runs on ONE hash exchange."""
    plan = _plan(spark, "q_ts_resample_ohlc", mode="simple")
    assert plan.count("Exchange hashpartitioning") == 1


def test_rollup_hypertable_partial_aggregation(spark):
    """Raw→hour must be two-phase: a partial_ HashAggregate below the
    exchange so the full-data shuffle carries only group partials."""
    plan = _plan(spark, "q_ts_rollup_hypertable", mode="simple")
    assert "partial_" in plan
    assert plan.count("Exchange hashpartitioning") <= 2


def test_gapfill_broadcasts_bounded_sides(spark):
    """The generated spine left-joins the (bounded) hourly aggregate via
    broadcast — the dense series is never shuffled for the join."""
    plan = _plan(spark, "q_ts_gapfill", mode="simple")
    assert "BroadcastHashJoin" in plan and "LeftOuter" in plan


def test_range_interval_window_single_shuffle(spark):
    """The trailing-1h range frame is one exchange on user_id and one
    ordered scan — no self-join in the plan."""
    plan = _plan(spark, "q_win_range_interval", mode="simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_tpch_q3_takeordered_and_pushdown(spark):
    """Top-10 must be TakeOrderedAndProject (no global sort), and the
    segment filter must reach the customer parquet scan."""
    plan = _plan(spark, "q_tpch_q3")
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan.split("TakeOrderedAndProject")[0]
    pushed = [l for l in plan.splitlines()
              if "PushedFilters" in l and "c_mktsegment" in l]
    assert pushed, "segment filter not pushed to customer scan"


def test_tpch_q5_broadcasts_dims(spark):
    """region⋈nation collapses to a broadcast; no shuffle exchange may
    carry the 25-row dimension side."""
    plan = _plan(spark, "q_tpch_q5", mode="simple")
    assert "BroadcastHashJoin" in plan


def test_funnel_anchors_are_partial_aggregated(spark):
    """Every funnel stage anchor is a per-user MIN with map-side partial
    aggregation; the raw events table appears once per stage, never in a
    row-to-row self-join."""
    plan = _plan(spark, "q_funnel", mode="simple")
    assert "partial_min" in plan


def test_retention_join_is_user_keyed(spark):
    """The cohort join keys on user_id; output volume is bounded by
    cohorts × offsets, so the final agg is a tiny exchange."""
    plan = _plan(spark, "q_retention_cohorts", mode="simple")
    assert "partial_" in plan


def test_pagerank_single_lazy_plan_over_cached_base(spark):
    """r13 shape: the five rounds chain lazily into ONE plan whose only
    data sources are reads of the cached edge frame (InMemoryTableScan)
    — no per-round checkpoint or eager broadcast job. Each round
    references the previous round exactly once (linear lineage), so the
    edge table and the parquet scan beneath it execute once regardless
    of iteration count; every other appearance reads the cache."""
    from zio_kinesis_example_spark.api import clear_shared_cache
    from zio_kinesis_example_spark.operators.analytics import _PR_ITERS
    try:
        plan = _plan(spark, "q_graph_pagerank", mode="simple")
        # the plan's only sources are reads of the one edge cache, one
        # per round
        df = all_specs()["q_graph_pagerank"].fn(spark, SF_SMALL)
        nodes = _exec_nodes(df._jdf.queryExecution().executedPlan()
                            .executedPlan())
        leaves = [_name(n) for n in nodes if n.children().size() == 0]
        assert leaves == ["InMemoryTableScanExec"] * _PR_ITERS
    finally:
        clear_shared_cache()
    assert "ExistingRDD" not in plan  # no checkpoint job in the query


def _name(node) -> str:
    return node.getClass().getSimpleName()


def _stage_plan(node):
    """The plan under an adaptive query stage wrapper, else the node."""
    return node.plan() if _name(node).endswith("QueryStageExec") else node


def _exec_nodes(node):
    """Pre-order walk of a physical plan through its children and query
    stages: a cached frame's build plan is an inner child of its
    InMemoryTableScan and is not entered."""
    node = _stage_plan(node)
    yield node
    kids = node.children()
    for i in range(kids.size()):
        yield from _exec_nodes(kids.apply(i))


def _unary_down(node, stop):
    """First node at or below ``node`` along single-child links whose
    class name is in ``stop`` (or the first non-unary node)."""
    node = _stage_plan(node)
    while _name(node) not in stop and node.children().size() == 1:
        node = _stage_plan(node.children().apply(0))
    return node


def _pagerank_run(spark):
    """Run q_graph_pagerank at sf0.001; return its rows and its final
    adaptive plan. The plan is read after the action because the edge
    cache reports its dst partitioning only once it is built: the
    initial plan still carries an Exchange that AQE drops when it
    re-plans the rounds over the materialized cache."""
    df = all_specs()["q_graph_pagerank"].fn(spark, SF_SMALL)
    rows = sorted(map(tuple, df.collect()))
    return rows, df._jdf.queryExecution().executedPlan().executedPlan()


def test_pagerank_broadcasts_ranks_over_dst_partitioned_edges(spark):
    """Each round after the first is a broadcast of the rank vector into
    a LOCAL join with the dst-partitioned edge cache; every round ends
    in a local aggregate on dst. Exactly one BroadcastExchange per
    joined round, each over the previous round's (vertex-sized)
    aggregate, none over the edge cache, which is every join's streamed
    side. No Exchange lies between any round's read of the edge cache
    and its aggregate, and the cache build reuses its one edge exchange
    for the degree side."""
    from zio_kinesis_example_spark.api import clear_shared_cache
    from zio_kinesis_example_spark.operators.analytics import _PR_ITERS

    scan, agg = "InMemoryTableScanExec", "HashAggregateExec"
    bhj = "BroadcastHashJoinExec"
    try:
        _, plan = _pagerank_run(spark)
        nodes = list(_exec_nodes(plan))
        bcasts = [n for n in nodes if _name(n) == "BroadcastExchangeExec"]
        tops = [_unary_down(b.children().apply(0), (scan, agg))
                for b in bcasts]
        assert [_name(t) for t in tops] == [agg] * (_PR_ITERS - 1)
        joins = [n for n in nodes if _name(n) == bhj]
        assert len(joins) == _PR_ITERS - 1
        build = _unary_down(joins[0].left(), (scan,)).relation() \
            .cachedPlan().executedPlan()
        built = [_name(n) for n in _exec_nodes(build)]
        # lineitem scanned once per edge direction; the degree side
        # reads the edge exchange back instead of scanning again
        assert built.count("FileSourceScanExec") == 2
        assert "ReusedExchangeExec" in built
        for j in joins:
            assert j.buildSide().toString() == "BuildRight"
            edge = _unary_down(j.left(), (scan,))
            assert _name(edge) == scan
            assert "dst" in edge.output().toString()
        rounds = 0
        for a in (n for n in nodes if _name(n) == agg):
            chain, n = [], a
            while n.children().size() == 1 and _name(n) != bhj:
                n = _stage_plan(n.children().apply(0))
                chain.append(_name(n))
            if _name(n) in (bhj, scan):
                rounds += 1
                assert not any("Exchange" in c for c in chain), chain
        # the final and the partial aggregate of every round
        assert rounds == 2 * _PR_ITERS
    finally:
        clear_shared_cache()


def test_pagerank_without_broadcast_matches_default(spark):
    """With spark.sql.autoBroadcastJoinThreshold=-1 the rounds fall back
    to shuffle joins: no broadcast anywhere in the executed plan, and
    rows identical to the default (broadcast) path."""
    from zio_kinesis_example_spark.api import clear_shared_cache

    key = "spark.sql.autoBroadcastJoinThreshold"
    try:
        default, _ = _pagerank_run(spark)
        clear_shared_cache()
        old = spark.conf.get(key)
        spark.conf.set(key, "-1")
        try:
            off, plan = _pagerank_run(spark)
        finally:
            spark.conf.set(key, old)
        names = {_name(n) for n in _exec_nodes(plan)}
        assert "BroadcastExchangeExec" not in names
        assert "BroadcastHashJoinExec" not in names
        assert len(default) > 0
        assert off == default
    finally:
        clear_shared_cache()


def test_scd2_single_window_exchange(spark):
    """SCD2 interval build: one exchange on user_id, one ordered scan."""
    plan = _plan(spark, "q_scd2_intervals", mode="simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_tpch_q10_topk_on_decimal_no_global_sort(spark):
    """The top-20 returned-revenue cut rides TakeOrderedAndProject on the
    exact decimal (no global sort below it), and nation is broadcast."""
    plan = _plan(spark, "q_tpch_q10")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


def test_tpch_q4_exists_becomes_semi_join(spark):
    """The EXISTS subquery must execute as ONE left-semi hash join with
    the non-equi date comparison as its residual — not a per-order probe
    and not a full join + distinct."""
    plan = _plan(spark, "q_tpch_q4")
    assert "LeftSemi" in plan
    # orders + lineitem, once each (formatted mode lists every scan twice:
    # tree node + detail block)
    import re
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2


def test_tpch_q18_having_subquery_single_lineitem_pass(spark):
    """Q18's IN-over-HAVING collapses to a semi join against the grouped
    aggregate; lineitem is scanned for the group AND the final agg but
    never self-joined row-to-row."""
    plan = _plan(spark, "q_tpch_q18")
    assert "LeftSemi" in plan


def test_tpch_q15_scalar_max_broadcast(spark):
    """The max-revenue scalar reduces to a one-row broadcast join, not a
    window over a single partition (no Sort/Window in the plan)."""
    plan = _plan(spark, "q_tpch_q15")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "Window" not in plan


def test_tpch_q19_implied_filters_pushed(spark):
    """OR-bracket factoring: the derived single-side conjuncts reach the
    parquet scans as pushed filters on both join inputs."""
    plan = _plan(spark, "q_tpch_q19")
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("p_brand" in l for l in pushed)
    assert any("l_quantity" in l for l in pushed)


def test_tpch_q21_single_orderkey_shuffle_no_self_join(spark):
    """The Q21 rewrite: one conditional-aggregation pass over the
    orders⋈lineitem join — lineitem scanned ONCE (the oracle's l1/l2/l3
    self-references all ride the same per-order aggregate)."""
    plan = _plan(spark, "q_tpch_q21")
    import re
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 3  # li + o + s
    assert "TakeOrderedAndProject" in plan


def test_kmeans_assignment_no_shuffle_before_agg(spark):
    """k-means assignment is a per-row literal-centroid fold: the plan up
    to the partial aggregate contains no Exchange (the only shuffle is
    the (cid, dim) mean aggregation)."""
    from pyspark.sql import functions as F
    from zio_kinesis_example_spark.catalog import load
    from zio_kinesis_example_spark.operators import llm_similarity as sim
    import contextlib, io
    e = load(spark, SF_SMALL, "embeddings").select(
        "vec_id",
        F.expr("transform(cast(embedding as array<double>), "
               "x -> cast(floor(x * 1000000.0D) as bigint))").alias("v"))
    cents = F.array(*[F.array(*[F.lit(i * 7 + j) for j in range(64)])
                      for i in range(8)])
    dists = F.expr(
        "transform(cents, c -> aggregate(zip_with(c, v, "
        "(x, y) -> (x - y) * (x - y)), 0L, (s, t) -> s + t))")
    assigned = (e.withColumn("cents", cents).withColumn("dists", dists)
                .withColumn("cid", F.array_position(
                    F.col("dists"), F.array_min("dists")).cast("int"))
                .drop("cents", "dists"))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        assigned.explain("formatted")
    assert "Exchange" not in buf.getvalue()


def test_unigram_logprob_tf_broadcasts(spark):
    """The vocabulary-sized TF table must broadcast into the corpus-side
    explode — the corpus never shuffles before its per-doc aggregate."""
    plan = _plan(spark, "q_text_unigram_logprob")
    assert "BroadcastHashJoin" in plan


def test_editdist_join_over_distinct_domain(spark):
    """The fuzzy join's inputs are the DISTINCT name domain (partial-agg
    collapses the fact table before the self-join)."""
    plan = _plan(spark, "q_text_editdist_join")
    assert plan.count("HashAggregate") >= 2  # distinct = two-phase agg


def test_events_pattern_single_window_sort(spark):
    """Both CEP anchors ride ONE window sort: exactly one Sort node and
    one user_id exchange before the filter."""
    plan = _plan(spark, "q_events_pattern")
    import re
    assert len(re.findall(r"\(\d+\) Sort", plan)) == 1
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1


def test_bmp_codec_plan_is_exchange_free(spark):
    """The BMP encode→decode round trip is ONE fused mapInPandas pass
    over the scan — a pure map pipeline: no Exchange anywhere (nothing
    to shuffle at any scale), one Python worker per task
    (multimodal.fused_round_trip — the round-7 worker-wave finding)."""
    plan = _plan(spark, "q_multimodal_decode_bmp", "simple")
    assert "Exchange" not in plan
    assert plan.count("MapInPandas") == 1


def test_ppm_codec_plan_is_spread_map_pipeline(spark):
    """The PPM round trip plans like the PNG/GIF compressed codecs:
    ONE explicit round-robin exchange (core spread — a single-file scan
    would run the whole codec on one core, the round-7 idle-bench
    anomaly) then ONE fused Arrow-batched kernel."""
    plan = _plan(spark, "q_multimodal_decode_ppm", "simple")
    assert plan.count("Exchange") == 1
    assert "RoundRobinPartitioning" in plan
    assert plan.count("MapInPandas") == 1


def test_ann_bench_plans_skip_exact_twin(spark):
    """bench.py must time the pure ANN plans, not the recall-contract
    forms: the bench_fn plans contain no per-pair brute-force crossJoin
    (BroadcastNestedLoopJoin is the exact baseline's signature)."""
    import contextlib
    import io

    import re

    def n_bnlj(df) -> int:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        # formatted mode names each node twice (tree entries carry the
        # join mode between name and id) — count detail entries only
        return len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin",
                              buf.getvalue()))

    for name in ("q_sim_ann_lsh", "q_sim_ann_ivf", "q_sim_ann_ivfpq"):
        spec = all_specs()[name]
        assert spec.bench_fn is not None
        assert n_bnlj(spec.bench_fn(spark, SF_SMALL)) == 0, name
    # PQ-ADC's scan is LEGITIMATELY a broadcast nested-loop — over
    # 16-bit CODES with O(1) table lookups per pair, not per-pair
    # vector folds. The bench plan must carry exactly that ONE, while
    # the recall-contract form adds the exact baseline's second BNLJ.
    pq = all_specs()["q_sim_ann_pq"]
    assert pq.bench_fn is not None
    assert n_bnlj(pq.bench_fn(spark, SF_SMALL)) == 1
    assert n_bnlj(pq.fn(spark, SF_SMALL)) >= 2


def test_interval_overlap_is_bucket_equi_join(spark):
    """The overlap join must plan as an EQUI join on the bucket key (hash
    or sort-merge), never a nested-loop/cartesian product — the whole
    point of the bucketize-then-verify rewrite."""
    plan = _plan(spark, "q_join_interval_overlap")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) \
        or ("BroadcastHashJoin" in plan)


def test_changepoint_totals_broadcast_and_shared_sort(spark):
    """Per-series totals broadcast back into the hourly table; the cumsum
    + row_number pair shares one (event_type, h) sort."""
    plan = _plan(spark, "q_ts_changepoint")
    assert "BroadcastExchange" in plan
    # hourly rollup is two-phase: partial agg before its exchange
    assert "partial_count" in plan or "partial" in plan.lower()


def test_events_paths_topk_heap(spark):
    """The top-20 path cut is a TakeOrderedAndProject heap, not a global
    sort."""
    plan = _plan(spark, "q_events_paths")
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan


def test_holt_single_series_shuffle(spark):
    """Holt's plan: partial-agged hourly rollup + ONE series-collect
    exchange; the fold itself is a projection (no window sort)."""
    plan = _plan(spark, "q_ts_holt")
    assert "Window" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2


def test_bucketed_join_zero_exchanges(spark):
    """The pre-bucketed co-located join must read both bucketed scans and
    plan join + per-key aggregation with NO exchange at all — the whole
    point of paying the layout write once."""
    plan = _plan(spark, "q_layout_bucketed_join")
    assert "Exchange" not in plan
    assert "SortMergeJoin" in plan
    assert "SelectedBucketsCount" in plan


def test_cooccurrence_pairs_no_self_join(spark):
    """Basket pair expansion (q_basket_affinity's candidate stage) runs
    as the one-shuffle collect_set + codegen fan-out — the plan must
    contain NO join on the pair path and exactly two hash exchanges
    (basket build, pair count); the old distinct + self-join paid four."""
    from zio_kinesis_example_spark.api import cooccurrence_pairs
    from zio_kinesis_example_spark.catalog import load

    li = load(spark, SF_SMALL, "lineitem")
    df = cooccurrence_pairs(li, "l_orderkey", "l_partkey", min_support=3)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "Join" not in plan
    assert plan.count("Arguments: hashpartitioning") == 2
    # both aggregations are two-phase (partial before each exchange)
    assert "partial_collect_set" in plan and "partial_count" in plan


def test_covariance_is_single_pass_over_checkpointed_moments(spark):
    """All sufficient statistics (second moments, first moments, row
    count) ride ONE kernel pass, checkpointed once: the returned plan
    must never rescan the corpus — no parquet scan, no MapInPandas,
    only bounded joins over the <= dim^2 moment rows."""
    plan = _plan(spark, "q_embed_covariance", mode="simple")
    assert "Scan parquet" not in plan
    assert "MapInPandas" not in plan
    assert "Scan ExistingRDD" in plan
    # the kernel-side pipeline itself: map-side partial agg of decimal
    # partials before its single exchange
    import contextlib
    import io

    from pyspark.sql import functions as F

    from zio_kinesis_example_spark.catalog import load
    from zio_kinesis_example_spark.operators.pipeline_ext3 import (
        _COV_SCALE, _cov_kernel)
    e = load(spark, SF_SMALL, "embeddings").select(
        F.expr(f"transform(CAST(embedding AS ARRAY<DOUBLE>), "
               f"x -> CAST(floor(x * {_COV_SCALE}.0D) AS BIGINT))")
        .alias("v"))
    partials = (e.mapInPandas(_cov_kernel, "di int, dj int, sxy long")
                .groupBy("di", "dj")
                .agg(F.sum(F.col("sxy").cast("decimal(38,0)")).alias("sxy")))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        partials.explain("formatted")
    kplan = buf.getvalue()
    assert "MapInPandas" in kplan
    assert "partial_sum(cast(sxy" in kplan
    assert kplan.count("Arguments: hashpartitioning") == 1


def test_ccnet_single_lang_window_no_corpus_shuffle(spark):
    """The surprisal score broadcasts its tf table (corpus never
    shuffles before the per-doc aggregate) and the tercile split adds
    exactly ONE lang-partitioned window sort."""
    plan = _plan(spark, "q_text_ccnet_buckets", mode="simple")
    assert plan.count("Window") == 1
    assert "SortMergeJoin" not in plan
    # the surprisal fold is the r8 ORDERED-fold shape: a partial-agged
    # collect_list per doc (the token scores fold in term-sorted order
    # driver-independently), still map-side-combined before the one
    # per-doc exchange
    assert "partial_count(1), partial_collect_list(struct(term" in plan


def test_time_to_convert_shares_one_sort_across_windows(spark):
    """row_number and the per-pair count windows ride ONE step_pair
    exchange and ONE sort; the percentile picks are then plain
    two-phase aggregation."""
    plan = _plan(spark, "q_events_time_to_convert")
    assert plan.count("Arguments: hashpartitioning(step_pair") == 1
    # one physical Sort feeds both Window nodes
    assert plan.count("+- Sort ") == 1
    assert "partial_min" in plan


def test_canonical_argmax_rides_cluster_exchange(spark):
    """After the checkpointed label frame, the argmax window and the
    per-cluster rollup share a single cluster_id exchange."""
    plan = _plan(spark, "q_dedup_canonical")
    assert plan.count("Arguments: hashpartitioning(cluster_id") == 1
    assert "Window" in plan


def test_shuffle_epoch_plan_is_per_shard_sorted(spark):
    """q_shuffle_epoch must never plan the naive global-row_number shape
    (a single-partition window): exactly one Window over a shard-keyed
    sort, and the sort's partitioning comes from the shard hash
    exchange, not a coalesce-to-1."""
    plan = _plan(spark, "q_shuffle_epoch")
    import re
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1
    assert "SinglePartition" not in plan


def test_split_assign_plan_is_stateless(spark):
    """q_split_assign is a pure projection: no Exchange, no Sort, no
    aggregation — the shape that scales to any corpus for free."""
    plan = _plan(spark, "q_split_assign", "simple")
    assert "Exchange" not in plan
    assert "Sort" not in plan


def test_seqlen_buckets_two_phase_single_exchange(spark):
    """q_text_seqlen_buckets: partial HashAggregate below one exchange on
    the ≤10-value bucket key — the corpus collapses map-side."""
    plan = _plan(spark, "q_text_seqlen_buckets", "simple")
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange hashpartitioning") == 1


def test_autocorr_lags_are_time_keyed_joins(spark):
    """q_ts_autocorr's lag-1/2/24 columns are TIME-keyed equality joins
    on the bounded hourly frame (r9: the earlier row-offset window lag
    misaligned on the sparse series) — all broadcast hash joins, no
    Window node and no per-series sort in the plan (the ordered folds
    use sort_array, not a Sort operator)."""
    plan = _plan(spark, "q_ts_autocorr", "simple")
    assert plan.count("Window") == 0
    assert plan.count("Sort [") == 0
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan       # tiny frames must broadcast


def test_power_users_single_window_sort(spark):
    """q_events_power_users' decile assignment runs one Window over one
    sort of the per-user aggregate (corpus-sized input collapses to
    |users| rows before any sort)."""
    plan = _plan(spark, "q_events_power_users", "simple")
    assert plan.count("Window") == 1
    assert plan.count("Sort [") == 1


def test_wav_codec_plan_is_exchange_free(spark):
    """Same contract as BMP/PPM for the WAV round trip: a pure map
    pipeline — ONE fused Arrow-batched kernel, no Exchange at any
    scale."""
    plan = _plan(spark, "q_multimodal_wav_decode", "simple")
    assert "Exchange" not in plan
    assert plan.count("MapInPandas") == 1


def test_ts_asof_nearest_is_union_window_not_join(spark):
    """Nearest-in-time as-of must be the union+window formulation (the
    q_join_asof shape): no join operator, one exchange, one sort, one
    Window — a range join here would explode O(left x right) per key."""
    plan = _plan(spark, "q_ts_asof_nearest", "simple")
    assert "Join" not in plan
    assert plan.count("Exchange") == 1
    assert plan.count("Sort [") == 1


def test_cc_edges_join_on_bands_never_on_shingles(spark):
    """The cluster family's edge miner must carry NO hot-shingle
    self-join (the r5 verdict's one weak item): every join in the plan
    keys on LSH band buckets or doc ids — a raw shingle equality key
    (unbounded Σ|posting|² on a stop shingle) must not appear."""
    import re

    from zio_kinesis_example_spark.operators.llm_dedup import _cc_edges

    df = _cc_edges(spark, SF_SMALL)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("simple")
    plan = buf.getvalue()
    assert "band_hash" in plan
    join_lines = [l for l in plan.splitlines() if "Join" in l]
    assert join_lines
    for l in join_lines:
        assert "shingle#" not in l, l
        assert not re.search(r"[\[, ]sh#", l), l


def test_ngram_jaccard_self_join_is_df_capped(spark):
    """q_dedup_ngram_jaccard's candidate self-join must read from the
    stop-shingle-filtered frame: the df ≤ cap filter appears upstream of
    the shingle-keyed join, bounding every posting list entering it."""
    from zio_kinesis_example_spark.operators.llm_dedup import _DF_CAP

    plan = _plan(spark, "q_dedup_ngram_jaccard", mode="simple")
    assert f"<= {_DF_CAP})" in plan, "df cap filter missing from the plan"
    # the capped join keys on the 60-bit portable shingle HASH (the r6
    # string→int swap) — but only after the guard
    import re
    assert any("Join" in l and re.search(r"[\[(, ]h#", l)
               for l in plan.splitlines())


def test_png_gif_codec_plans_one_exchange_pruned_scan(spark):
    """The compressed-codec round trips must plan as: pruned parquet
    scan → ONE round-robin exchange (the explicit core-spread for
    per-file deflate/LZW/Huffman CPU) → ONE fused mapInPandas stage
    (one Python worker per task — fused_round_trip). Any second
    exchange, a second Python stage, or an unpruned scan is a
    regression."""
    for name in ("q_multimodal_decode_png", "q_multimodal_decode_gif",
                  "q_multimodal_decode_jpeg", "q_multimodal_decode_jpeg420"):
        plan = _plan(spark, name)
        # formatted mode names each node twice (tree + detail): "X (n)"
        # in the tree, "(n) X" in the detail — count tree entries only
        assert plan.count("Exchange (") == 1, name
        assert "RoundRobinPartitioning" in plan, name
        read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
        assert "text" in read_schema and "doc_id" in read_schema, name
        assert "lang" not in read_schema, name  # pruned
        assert plan.count("MapInPandas (") == 1, name


def test_jpeg_recover_single_fused_python_stage(spark):
    """The recovery round trip obeys the codec-family rule: ONE
    repartition Exchange (RoundRobin spread) then ONE fused MapInPandas
    — corrupt-encode and recover-decode never cross the JVM boundary
    separately."""
    plan = _plan(spark, "q_multimodal_jpeg_recover", "simple")
    assert plan.count("Exchange") == 1
    assert "RoundRobinPartitioning" in plan
    assert plan.count("MapInPandas") == 1


def test_range_search_ann_is_cell_keyed_no_corpus_broadcast(spark):
    """The IVF-composed radius search must be a cell-keyed EQUI join —
    no crossJoin/cartesian, no nested-loop, and no per-query window
    (membership is a predicate, not a rank cut). This is the scale
    promise the exact twin's docstring makes: the corpus is never
    broadcast and the candidate stream is the probed-cell fraction."""
    import re

    from zio_kinesis_example_spark.operators.llm_similarity import (
        _range_search_ann_plan,
    )

    df = _range_search_ann_plan(spark, SF_SMALL)
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        df.explain("formatted")
    buf = out.getvalue()
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", buf)) == 0
    assert "CartesianProduct" not in buf
    assert "Window" not in buf
    assert ("SortMergeJoin" in buf) or ("ShuffledHashJoin" in buf) \
        or ("BroadcastHashJoin" in buf)


def test_range_search_is_broadcast_scan_without_window(spark):
    """Radius search must be the map-side scan shape: the query set
    broadcasts (one BroadcastNestedLoopJoin over the corpus — the exact
    baseline's legitimate shape), the corpus never hash-exchanges, and
    there is NO per-query window (range search needs no rank cut —
    that's what makes it cheaper than the top-k twin)."""
    import re

    plan = _plan(spark, "q_sim_range_search", "formatted")
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) == 1
    assert "Window" not in plan
    assert "hashpartitioning" not in plan


def test_ivf_corpus_side_is_spread(spark):
    """r10: the IVF-family corpus side must repartition (RoundRobin)
    before the per-candidate arithmetic — with the query side broadcast
    the whole probe otherwise inherits the corpus scan's input-split
    parallelism and a single-file corpus serializes onto one core (the
    r6 per-file-kernel rule, measured at the 30× proxy)."""
    from zio_kinesis_example_spark.operators.llm_similarity import (
        _ann_ivf_plan, _range_search_ann_plan,
    )

    for plan_fn in (_ann_ivf_plan, _range_search_ann_plan):
        df = plan_fn(spark, SF_SMALL)
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            df.explain("formatted")
        buf = out.getvalue()
        assert "RoundRobinPartitioning" in buf, plan_fn.__name__
