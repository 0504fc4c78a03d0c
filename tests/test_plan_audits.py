"""Plan-shape regression tests: the optimizer must keep producing the
scale-safe plans (pushdown, pruning, broadcasts, bounded shuffles)."""

from __future__ import annotations

from espkinesis_spark import queries
from espkinesis_spark.plans import (
    broadcast_join_count,
    exchange_count,
    pushed_filters,
    scan_columns,
)


def _q(spark, sf_dir, name):
    return queries.registry()[name](spark, sf_dir)


def test_dq21_filter_pushdown_and_pruning(spark, sf_dir):
    df = _q(spark, sf_dir, "dq21")
    assert any("l_shipdate" in f for f in pushed_filters(df)), "shipdate filter not pushed"
    (cols,) = scan_columns(df)
    # 6 needed columns, not all 11 of lineitem
    assert cols == {
        "l_quantity", "l_extendedprice", "l_discount",
        "l_returnflag", "l_linestatus", "l_shipdate",
    }
    assert exchange_count(df) == 1, "pricing summary needs exactly one shuffle"


def test_dq22_broadcasts_dims(spark, sf_dir):
    df = _q(spark, sf_dir, "dq22")
    assert broadcast_join_count(df) == 3, "orders/customer/nation should broadcast"
    assert exchange_count(df) == 1, "only the final aggregation may shuffle"


def test_semijoin_broadcasts(spark, sf_dir):
    df = _q(spark, sf_dir, "ex_semijoin")
    assert broadcast_join_count(df) >= 1


def test_point_lookup_scans_minimal_columns(spark, sf_dir):
    df = _q(spark, sf_dir, "dq04")
    assert any("c_custkey" in f for f in pushed_filters(df))
    (cols,) = scan_columns(df)
    assert cols == {"c_custkey", "c_name", "c_nationkey"}


def test_join_hints_are_honored(spark, sf_dir):
    """Users can override Catalyst's join strategy; results are identical."""
    from espkinesis_spark.plans import physical_plan
    from espkinesis_spark.tables import load_table

    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    merge = o.join(c.hint("merge"), o.o_custkey == c.c_custkey)
    shuffle_hash = o.join(c.hint("shuffle_hash"), o.o_custkey == c.c_custkey)
    assert "SortMergeJoin" in physical_plan(merge)
    assert "ShuffledHashJoin" in physical_plan(shuffle_hash)
    assert merge.count() == shuffle_hash.count()


def test_shipping_priority_pushes_all_three_filters(spark, sf_dir):
    df = _q(spark, sf_dir, "ex_shipping_priority")
    pf = " ".join(pushed_filters(df))
    assert "l_shipdate" in pf and "o_orderdate" in pf and "c_mktsegment" in pf


def test_dedup_pipeline_reuses_bucketed_shingles(spark, sf_dir):
    """The persisted pipeline must (a) read the shingle table back as a
    bucketed scan and (b) run every doc_id-keyed aggregation off the bucket
    partitioning with zero exchanges — the 'checkpoint it to a bucketed
    table' scale promise, verified in the plan."""
    from espkinesis_spark.functions.dedup import (
        minhash_signatures,
        neardup_minhash_persisted,
    )
    from espkinesis_spark.plans import physical_plan
    from espkinesis_spark.tables import load_table

    import re

    docs = load_table(spark, sf_dir, "documents")
    df = neardup_minhash_persisted(docs)  # writes + reads the bucketed table
    # the default table name is app-id-scoped (concurrent-session safety)
    app = re.sub(r"[^A-Za-z0-9_]", "_", spark.sparkContext.applicationId)
    table = f"espk_shingles_bucketed_{app}"
    sh = spark.table(table)
    sig_plan = physical_plan(minhash_signatures(sh))
    assert "SelectedBucketsCount" in sig_plan or "Bucketed: true" in sig_plan
    assert exchange_count(minhash_signatures(sh)) == 0, "bucketed groupBy reshuffled"
    assert exchange_count(sh.groupBy("doc_id").count()) == 0
    # the full pipeline plan still reads the persisted table, not a re-shingle
    assert "espk_shingles_bucketed" in physical_plan(df)


def test_projection_ops_have_zero_shuffle(spark, sf_dir):
    """pii_scrub and embed_quantize are pure projections — any Exchange in
    their plan is a silent 100x regression at corpus scale."""
    for name in ("ex_pii_scrub", "ex_embed_quantize", "ex_normalize_text"):
        df = _q(spark, sf_dir, name)
        assert exchange_count(df) == 0, f"{name} gained a shuffle"


def test_vocab_is_take_ordered_not_full_sort(spark, sf_dir):
    """Top-k vocab must plan as TakeOrderedAndProject (per-partition top-k
    + k-merge), never a global Sort of the token table."""
    from espkinesis_spark.plans import physical_plan

    df = _q(spark, sf_dir, "ex_vocab")
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "\n(Sort" not in plan and ") Sort\n" not in plan


def test_dedup_apply_broadcasts_drop_set(spark, sf_dir):
    """The final corpus subtraction must probe a broadcast drop set — the
    full document scan is never shuffled for the anti join."""
    from espkinesis_spark.plans import physical_plan

    df = _q(spark, sf_dir, "ex_dedup_apply")
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_image_dedup_apply_never_shuffles_corpus(spark, sf_dir):
    """The perceptual dedup chain must end in the same routed anti-join
    shape as the text chain: the surviving-corpus subtraction probes a
    broadcast drop set (at test scale the corpus estimate routes to
    broadcast), and the plan has no cartesian anywhere in the
    pairs→clusters→apply pipeline."""
    from espkinesis_spark.plans import physical_plan

    df = _q(spark, sf_dir, "ex_image_dedup_apply")
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_volume_shipping_pushes_nation_filter_and_broadcasts(spark, sf_dir):
    """Q7 shape: the nation In-filter reaches BOTH nation scans, the ship
    window reaches the lineitem scan, and the dim joins broadcast."""
    from espkinesis_spark.plans import physical_plan

    df = _q(spark, sf_dir, "ex_volume_shipping")
    plan = physical_plan(df)
    assert plan.count("In(n_name") >= 2
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "BroadcastHashJoin" in plan and "CartesianProduct" not in plan


def test_part_promotion_single_lineitem_scan(spark, sf_dir):
    """Q20 shape: the correlated aggregate decorrelates to a WINDOW over
    the pair table — exactly ONE lineitem scan (no self-join replay of
    the corpus), with the promo-name filter pushed to the part scan."""
    from espkinesis_spark.plans import physical_plan

    df = _q(spark, sf_dir, "ex_part_promotion")
    plan = physical_plan(df)
    li_scans = sum(
        1 for ln in plan.splitlines() if "parquet" in ln and "lineitem" in ln
    )
    assert li_scans == 1, plan
    assert "StringContains(p_name,red)" in plan
    assert "CartesianProduct" not in plan


def test_waiting_orders_decorrelates_without_self_join(spark, sf_dir):
    """Q21 shape: the EXISTS + NOT-EXISTS pair must decorrelate to the
    stacked-aggregation plan — exactly ONE lineitem scan (no lineitem
    self-join replay), no cartesian, supplier dim broadcast."""
    from espkinesis_spark.plans import physical_plan

    df = _q(spark, sf_dir, "ex_waiting_orders")
    plan = physical_plan(df)
    li_scans = sum(
        1 for ln in plan.splitlines() if "parquet" in ln and "lineitem" in ln
    )
    assert li_scans == 1, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_disjunctive_revenue_pushes_or_filter(spark, sf_dir):
    """Q19 shape: the part-side OR-of-conjunctions must reach the part
    scan as a pushed Or filter, with the extracted common size bound."""
    from espkinesis_spark.plans import physical_plan

    df = _q(spark, sf_dir, "ex_disjunctive_revenue")
    plan = physical_plan(df)
    assert "Or(Or(And(EqualTo(p_brand,Brand#1)" in plan
    assert "GreaterThanOrEqual(p_size,1)" in plan
    assert "CartesianProduct" not in plan


def test_chunk_docs_has_zero_shuffle(spark, sf_dir):
    """Chunking is a pure per-row fan-out — no Exchange allowed."""
    df = _q(spark, sf_dir, "ex_chunk_docs")
    assert exchange_count(df) == 0


def test_unigram_logprob_broadcasts_model(spark, sf_dir):
    """The unigram LM must reach the scoring join as a broadcast (the model
    is vocab-sized); the corpus-sized token stream is never shuffled for
    the probe itself."""
    from espkinesis_spark.plans import physical_plan

    df = _q(spark, sf_dir, "ex_unigram_logprob")
    assert "BroadcastHashJoin" in physical_plan(df)


def test_frame_decode_is_zero_shuffle_map(spark, sf_dir):
    """The binary wire decode (S3/F1) must stay a pure map: no exchange
    between the scan and the valid/dead split — at 100 TB the decode cost
    is the scan cost, nothing more."""
    from pyspark.sql import functions as F

    from espkinesis_spark.plans import audit
    from espkinesis_spark.streaming.sources import decode_espnow_frames
    from espkinesis_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        # data-dependent payload length so neither branch constant-folds away
        F.expr(
            "CAST(unhex(repeat('AB', CAST(16 - (event_id % 2) * 4 AS INT))) AS BINARY)"
        ).alias("data"),
    )
    frames, dead = decode_espnow_frames(ev)
    for df in (frames, dead):
        plan = audit.physical_plan(df)
        assert "Exchange" not in plan
        assert "codegen id" in plan  # decode stays inside whole-stage codegen


def test_cooccur_topk_and_broadcast_probes(spark, sf_dir):
    """Top-k pairs must plan as TakeOrderedAndProject (never a global Sort
    of the pair table), and the unigram/total probes must stay broadcast —
    the pair stream is shuffled exactly once, keyed by the pair."""
    from espkinesis_spark.plans import physical_plan

    df = _q(spark, sf_dir, "ex_cooccur")
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_embed_gram_ships_partial_gramians(spark, sf_dir):
    """The covariance reduction must run as Arrow-batched partial gramians
    (MapInPandas, asserted on the extraction stage — the assembled query
    reads the MATERIALIZED d²-sized aggregate) with only d²-sized data
    past the map — never an explode of the n×d² product space or a
    corpus-sized sort-merge join."""
    from espkinesis_spark.functions import similarity
    from espkinesis_spark.plans import physical_plan
    from espkinesis_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    parts = similarity._gram_parts(emb, "embedding", lambda it: it)
    assert "MapInPandas" in physical_plan(parts)
    df = _q(spark, sf_dir, "ex_embed_gram")
    plan = physical_plan(df)
    assert "Generate" not in plan, "product space exploded row-wise"
    assert "SortMergeJoin" not in plan, "d2-sized assembly joins must broadcast"


def test_semdedup_pairs_are_cluster_keyed(spark, sf_dir):
    """The pairwise-cosine stage must be one grouped Arrow stage per
    cluster: a FlatMapGroupsInPandas fed by a hash exchange on
    centroid_id. A CartesianProduct here is the O(n²) cliff SemDeDup
    exists to avoid, and a SortMergeJoin is the self-join form the
    cluster stage replaced."""
    import re

    from espkinesis_spark.plans import physical_plan

    plan = physical_plan(_q(spark, sf_dir, "ex_semdedup"))
    assert "FlatMapGroupsInPandas" in plan
    assert re.search(r"hashpartitioning\(centroid_id#\d+L?, \d+\)", plan)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_semdedup_build_and_collect_run_at_most_ten_jobs(spark, sf_dir, monkeypatch):
    """One ex_semdedup build plus its toPandas runs at most 10 Spark jobs
    (the auto-k count, the k-means init collect, one collect per Lloyd
    round, the cluster stage), and neither
    kmeans_train nor semdedup truncates lineage with localCheckpoint."""
    import uuid

    checkpoints = []
    frame = type(spark.range(1))
    real = frame.localCheckpoint

    def spy(self, *args, **kwargs):
        checkpoints.append(args)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(frame, "localCheckpoint", spy)
    sc = spark.sparkContext
    group = f"semdedup-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "ex_semdedup build + toPandas")
    try:
        pdf = _q(spark, sf_dir, "ex_semdedup").toPandas()
    finally:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        sc._jsc.clearJobGroup()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(pdf) > 0
    assert 0 < len(jobs) <= 10, f"{len(jobs)} jobs"
    assert checkpoints == []


def test_pagerank_iterations_have_no_cartesian(spark, sf_dir):
    """Each PageRank round is a dst-keyed aggregation over src-keyed
    equi-joins; the only nested-loop join allowed is the 1-row node-count
    broadcast."""
    from espkinesis_spark.plans import physical_plan

    df = _q(spark, sf_dir, "ex_pagerank")
    assert "CartesianProduct" not in physical_plan(df)


def test_token_entropy_is_doc_keyed_only(spark, sf_dir):
    """Entropy never aggregates corpus-globally: every Exchange in the
    plan is keyed by doc_id (no SinglePartition reduce)."""
    from espkinesis_spark.plans import physical_plan

    plan = physical_plan(_q(spark, sf_dir, "ex_token_entropy"))
    assert "SinglePartition" not in plan


def test_label_prop_rounds_have_no_cartesian(spark, sf_dir):
    """Every LPA round is a src-keyed equi-join + two map-side-partial
    vote aggregations; no nested-loop joins anywhere."""
    from espkinesis_spark.plans import physical_plan

    plan = physical_plan(_q(spark, sf_dir, "ex_label_prop"))
    assert "CartesianProduct" not in plan


def test_heavy_hitters_candidate_join_broadcasts(spark, sf_dir):
    """The exact verification pass must probe the ≤partitions·k candidate
    set via a broadcast join (never shuffle the token stream against it),
    and the only Python stage is the Arrow-batched MG pass."""
    from espkinesis_spark.plans import physical_plan

    plan = physical_plan(_q(spark, sf_dir, "ex_heavy_hitters"))
    assert "BroadcastHashJoin" in plan
    assert "ArrowEvalPython" not in plan  # MG runs via mapInPandas
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python


def test_downsample_has_no_window_over_raw_series(spark, sf_dir):
    """The only Window in the plan runs over the bucket-sized anchor
    table: the raw series side is scan → project → partial agg, and the
    anchor join is broadcast."""
    from espkinesis_spark.plans import physical_plan

    plan = physical_plan(_q(spark, sf_dir, "ex_downsample"))
    assert plan.count("Window") <= 2  # lag/lead over ≤NB anchor rows only
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_ts_similarity_topk_avoids_global_sort(spark, sf_dir):
    """The top-k must plan as TakeOrderedAndProject (per-partition top-k +
    driver k-merge), the query pattern must broadcast, and the only
    data-sized shuffle is the user-keyed window partitioning."""
    from espkinesis_spark.plans import physical_plan

    plan = physical_plan(_q(spark, sf_dir, "ex_ts_similarity"))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_runtime_bloom_filter_engages_on_selective_shuffle_join(spark, sf_dir):
    """enable_runtime_bloom_filters must actually inject the runtime
    filter: bloom_filter_agg on the filtered orders side, might_contain
    probing the lineitem side, for a non-broadcast selective join. (The
    stock 10 MB creationSideThreshold silently disables the rule — this
    pins the tuned thresholds working end-to-end.)"""
    from espkinesis_spark.plans import physical_plan
    from espkinesis_spark.session import enable_runtime_bloom_filters, restore_confs
    from espkinesis_spark.tables import load_table

    prior = enable_runtime_bloom_filters(spark, "1GB", "1KB")
    prior_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").filter(
            "o_orderpriority = '1-URGENT'"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = physical_plan(j)
        assert "bloom_filter_agg" in plan and "might_contain" in plan
        assert j.count() > 0  # the filtered join still returns rows
    finally:
        restore_confs(spark, prior)
        if prior_bc is None:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        else:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior_bc)


def test_sketch_quantile_select_pass_pushes_range(spark, sf_dir):
    """The exact select pass must reach the parquet scan as a
    single-column read with the x <= max(hi) range in PushedFilters
    (row groups above every candidate interval skip disk; rows below
    stay — they feed the offset counts), and its shuffles are
    interval-sized (value agg + per-pct window), never data-sized."""
    from espkinesis_spark.plans import physical_plan

    df = _q(spark, sf_dir, "ex_sketch_quantile")
    plan = physical_plan(df)
    assert "BatchEvalPython" not in plan  # summaries are Arrow-batched
    assert "CartesianProduct" not in plan
    (cols,) = scan_columns(df)
    assert cols == {"l_extendedprice"}
    pushed = " ".join(pushed_filters(df))
    assert "LessThanOrEqual(l_extendedprice" in pushed


def test_quality_model_is_zero_shuffle(spark, sf_dir):
    """The model-scoring pass must stay a pure projection (tokenize →
    per-token hash/weight → array fold): zero exchanges, no Python."""
    from espkinesis_spark.plans import physical_plan

    df = _q(spark, sf_dir, "ex_quality_model")
    assert exchange_count(df) == 0
    plan = physical_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_quality_filter_is_zero_shuffle(spark, sf_dir):
    """The rule-based quality gate is one per-row projection over the
    token array (the form the streaming gate runs): no exchange, no
    aggregate, no Python."""
    from espkinesis_spark.plans import physical_plan

    df = _q(spark, sf_dir, "ex_quality_filter")
    assert exchange_count(df) == 0
    plan = physical_plan(df)
    assert "HashAggregate" not in plan and "Generate" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def _lambda_bodies(plan: str) -> list[str]:
    out, start = [], 0
    while (i := plan.find("lambdafunction(", start)) >= 0:
        depth, j = 0, i + len("lambdafunction")
        while True:
            depth += {"(": 1, ")": -1}.get(plan[j], 0)
            if depth == 0:
                break
            j += 1
        out.append(plan[i : j + 1])
        start = i + 1
    return out


def test_quality_gate_lambdas_do_not_rebuild_token_arrays(spark, sf_dir):
    """``filter("keep")`` is pushed below quality_filter's projections
    with every column inlined; no lambda body may then hold the token
    split or sort, or each array element would rebuild the array (a
    sf0.001 gate over 500 docs took 50 s that way)."""
    from espkinesis_spark.functions import text
    from espkinesis_spark.tables import load_table

    gate = text.quality_gate_stateless(load_table(spark, sf_dir, "documents"))
    plan = gate._jdf.queryExecution().optimizedPlan().toString()
    bodies = _lambda_bodies(plan)
    assert bodies
    for body in bodies:
        assert "split(" not in body and "sort_array(" not in body, body


# ---- round-9 additions ----


def test_pricing_summary_single_exchange_pushed_date(spark, sf_dir):
    """Full-Q1 exact form: one lineitem scan with the date filter pushed,
    one shuffle (the 4-row group aggregation), everything else map-side."""
    df = _q(spark, sf_dir, "ex_pricing_summary")
    assert any("l_shipdate" in f for f in pushed_filters(df))
    assert exchange_count(df) == 1
    (cols,) = scan_columns(df)
    assert cols == {
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate",
    }


def test_local_supplier_volume_dims_broadcast_facts_shuffle(spark, sf_dir):
    """Q5: nation⋈region broadcast into both customer and supplier sides;
    the order-date window reaches the orders scan; no cartesian."""
    from espkinesis_spark.plans import physical_plan

    df = _q(spark, sf_dir, "ex_local_supplier_volume")
    plan = physical_plan(df)
    assert broadcast_join_count(df) >= 2
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert "CartesianProduct" not in plan


def test_forecast_revenue_zero_join_pushed_scan(spark, sf_dir):
    """Q6 is a pure filter-and-sum: no join at all, the ship window pushed
    to the scan, a 3-column read, one scalar-agg exchange."""
    from espkinesis_spark.plans import physical_plan

    df = _q(spark, sf_dir, "ex_forecast_revenue")
    plan = physical_plan(df)
    assert "Join" not in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan
    (cols,) = scan_columns(df)
    assert cols == {"l_quantity", "l_discount", "l_extendedprice", "l_shipdate"}
    assert exchange_count(df) == 1


def test_market_share_single_lineitem_scan(spark, sf_dir):
    """Q8: numerator and denominator are one conditional aggregation —
    exactly ONE lineitem scan, the type filter pushed to the part scan."""
    from espkinesis_spark.plans import physical_plan

    df = _q(spark, sf_dir, "ex_market_share")
    plan = physical_plan(df)
    li_scans = sum(
        1 for ln in plan.splitlines() if "parquet" in ln and "lineitem" in ln
    )
    assert li_scans == 1, plan
    assert "EqualTo(p_type,ECONOMY)" in plan
    assert "CartesianProduct" not in plan


def test_product_profit_pushes_name_filter(spark, sf_dir):
    """Q9: the part-name LIKE reaches the part scan; the filtered part dim
    broadcasts into the lineitem probe."""
    from espkinesis_spark.plans import physical_plan

    df = _q(spark, sf_dir, "ex_product_profit")
    plan = physical_plan(df)
    assert "StringContains(p_name,blue)" in plan
    assert broadcast_join_count(df) >= 2  # part + nation
    assert "CartesianProduct" not in plan


def test_returned_items_aggregates_before_dims_take_ordered(spark, sf_dir):
    """Q10: the returnflag filter is pushed, top-20 plans as
    TakeOrderedAndProject (no global sort), and the customer join sees
    the customer-sized aggregate, not line-level rows."""
    from espkinesis_spark.plans import physical_plan

    df = _q(spark, sf_dir, "ex_returned_items")
    plan = physical_plan(df)
    assert "EqualTo(l_returnflag,R)" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_important_stock_no_scan_replay(spark, sf_dir):
    """Q11: the part-value table is localCheckpointed before its two
    consumers (global total + probe), so the final plan replays NO
    parquet scan."""
    from espkinesis_spark.plans import physical_plan

    plan = physical_plan(_q(spark, sf_dir, "ex_important_stock"))
    assert "Scan parquet" not in plan, plan


def test_top_supplier_checkpointed_winner_broadcast(spark, sf_dir):
    """Q15: the supplier-revenue table is localCheckpointed (max scalar +
    probe share it — no lineitem replay) and the few winners broadcast
    into the supplier dim."""
    from espkinesis_spark.plans import physical_plan

    df = _q(spark, sf_dir, "ex_top_supplier")
    plan = physical_plan(df)
    li_scans = sum(
        1 for ln in plan.splitlines() if "parquet" in ln and "lineitem" in ln
    )
    assert li_scans == 0, plan
    assert broadcast_join_count(df) >= 1


def test_parts_supplier_counts_anti_join(spark, sf_dir):
    """Q16: flagged suppliers exclude via LeftAnti; the attribute filters
    reach the part scan; no cartesian."""
    from espkinesis_spark.plans import physical_plan

    df = _q(spark, sf_dir, "ex_parts_supplier_counts")
    plan = physical_plan(df)
    assert "LeftAnti" in plan
    pushed = " ".join(pushed_filters(df))
    assert "In(p_size" in pushed
    assert "CartesianProduct" not in plan


def test_global_sales_opportunity_anti_join_pruned_orders(spark, sf_dir):
    """Q22: the no-recent-orders probe is a LeftAnti against a two-column
    orders projection with the recency filter pushed to the scan."""
    from espkinesis_spark.plans import physical_plan

    df = _q(spark, sf_dir, "ex_global_sales_opportunity")
    plan = physical_plan(df)
    assert "LeftAnti" in plan
    assert {"o_custkey", "o_orderdate"} in scan_columns(df)
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert "CartesianProduct" not in plan


def test_repetition_stats_two_exchanges_no_python(spark, sf_dir):
    """Gopher repetition: (doc, gram) partial agg + doc rollup = exactly
    two exchanges, all codegen (no Python in the plan)."""
    from espkinesis_spark.plans import physical_plan

    df = _q(spark, sf_dir, "ex_repetition_stats")
    assert exchange_count(df) == 2
    plan = physical_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_asof_features_no_cartesian_bounded_exchanges(spark, sf_dir):
    """Point-in-time join: one user-keyed equi-join + the event-pk
    re-aggregation — no cartesian, no Python, shuffle count bounded."""
    from espkinesis_spark.plans import physical_plan

    df = _q(spark, sf_dir, "ex_asof_features")
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert exchange_count(df) <= 4


def test_winnow_candidates_checkpointed_fp_table(spark, sf_dir):
    """Winnowing: the fingerprint table is localCheckpointed before its
    three consumers (df counts + both join sides), so the final plan
    replays NO parquet scan; the candidate join is an equi-join."""
    from espkinesis_spark.plans import physical_plan

    df = _q(spark, sf_dir, "ex_winnow_fingerprint")
    plan = physical_plan(df)
    assert "Scan parquet" not in plan, plan
    assert "CartesianProduct" not in plan


def test_range_join_stays_equi_join(spark, sf_dir):
    """The binned range join must plan as a hash/merge EQUI-join on
    (user, bucket) — a BroadcastNestedLoopJoin here is the quadratic
    scale-killer the binning exists to avoid."""
    from espkinesis_spark.plans import physical_plan

    df = _q(spark, sf_dir, "ex_range_join")
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_codegen_fallback_capture(tmp_path):
    """VERDICT r15 #4: the plan sweep's three killers all live in the
    EXPLAINED plan; a Janino 64 KB overflow happens at COMPILE time and
    silently degrades a stage to interpreted execution — explain cannot
    see it. tools/vanilla_drive.py closes the hole: a log4j2 file
    appender captures the session's JVM log, every entry attributes the
    newly appended CodeGenerator ERROR lines to itself, and the drive
    FAILS on any. Unit leg: the matcher and the offset attribution.
    Wiring leg: the subprocess selftest emits a synthetic ERROR through
    the JVM's own CodeGenerator logger and must see it captured."""
    import subprocess
    import sys as _sys

    _sys.path.insert(0, "/root/repo/tools")
    try:
        from vanilla_drive import _read_new, codegen_errors
    finally:
        _sys.path.pop(0)

    # matcher: ERROR-on-CodeGenerator only — WARN fallbacks (the
    # hugeMethodLimit path) and other loggers' ERRORs stay out
    chunk = (
        "WARN CodeGenerator - huge method\n"
        "ERROR org.apache.spark.sql.catalyst.expressions.codegen."
        "CodeGenerator - failed to compile: ... grows beyond 64 KB\n"
        "ERROR SomeOtherLogger - unrelated\n"
    )
    hits = codegen_errors(chunk)
    assert len(hits) == 1 and "64 KB" in hits[0]

    # offset attribution: per-entry reads see only THEIR slice — and the
    # offset is BYTE-accurate across multi-byte chars (a text-mode
    # len(str) offset would desync after 'λ→é' and re-read or split lines)
    log = tmp_path / "jvm.log"
    log.write_text("ERROR CodeGenerator - first entry overflow λ→é\n")
    chunk1, off = _read_new(str(log), 0)
    assert len(codegen_errors(chunk1)) == 1
    assert off == len(chunk1.encode("utf-8"))
    with open(log, "a") as fh:
        fh.write("ok line\nERROR CodeGenerator - second entry overflow\n")
    chunk2, _ = _read_new(str(log), off)
    hits2 = codegen_errors(chunk2)
    assert len(hits2) == 1 and "second entry" in hits2[0]
    assert "first entry" not in hits2[0]

    # wiring: the subprocess owns its JVM, so the extraJavaOptions
    # log4j2 config is honored (an in-suite session can't change it)
    proc = subprocess.run(
        [_sys.executable, "/root/repo/tools/vanilla_drive.py", "--selftest"],
        capture_output=True,
        text=True,
        timeout=300,
        env={**__import__("os").environ, "PYTHONPATH": "/root/repo"},
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
    assert "SELFTEST OK" in proc.stdout
