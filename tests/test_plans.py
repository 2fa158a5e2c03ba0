"""Physical-plan shape assertions (the 100 TB regressions that row
counts can't catch): pushdown must reach the scan, dims must
broadcast, theta-form joins must not become cartesians, top-k must not
become a full sort, bucketed joins must not shuffle."""

from __future__ import annotations

import pytest

from streamingdemo_spark.registry import QUERIES


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_projection_prunes_scan_columns(spark, sf_dir):
    plan = _plan(QUERIES["proj_select"](spark, sf_dir))
    assert "ReadSchema" in plan
    assert "c_acctbal" not in plan  # unprojected column never read


def test_filter_pushdown_reaches_parquet(spark, sf_dir):
    plan = _plan(QUERIES["flt_compare"](spark, sf_dir))
    assert "PushedFilters: [" in plan
    # plan strings elide long filter lists; the prefix is stable
    assert "GreaterThanOrEqual(o_" in plan


def test_theta_equi_join_is_not_cartesian(spark, sf_dir):
    """The reference's own query shape (cross + WHERE equality,
    SparkSQLOperator.java:18) must be lifted to an equi-join."""
    plan = _plan(QUERIES["join_where_theta_equi"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan


def test_dim_join_broadcasts(spark, sf_dir):
    plan = _plan(QUERIES["join_broadcast"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_range_join_broadcasts_small_side(spark, sf_dir):
    """Non-equi joins are only safe with a broadcast side."""
    plan = _plan(QUERIES["join_theta_range"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan


def test_flagship_is_all_broadcast_joins(spark, sf_dir):
    plan = _plan(QUERIES["flagship_q3"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_global_topk_avoids_full_sort(spark, sf_dir):
    plan = _plan(QUERIES["sort_limit_topk"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    plan = _plan(QUERIES["join_bucketed"](spark, sf_dir))
    assert "SortMergeJoin" in plan
    join_subtree = plan.split("HashAggregate")[-1]
    assert "Exchange" not in join_subtree
    assert plan.count("Bucketed: true") == 2


def test_dynamic_partition_pruning_fires(spark, sf_dir):
    """The year-partitioned fact scan must carry a runtime pruning
    subquery from the dim side, not read all partitions."""
    plan = _plan(QUERIES["join_dpp"](spark, sf_dir))
    assert "dynamicpruning" in plan.lower()


def test_contamination_broadcasts_benchmark_shingles(spark, sf_dir):
    """The benchmark side is small by definition; the corpus explode
    must join it broadcast so only matching rows shuffle."""
    plan = _plan(QUERIES["ext_contamination_check"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_cosine_topk_broadcasts_queries(spark, sf_dir):
    """Exact cosine scans the corpus once against broadcast queries —
    never a shuffled or cartesian corpus-side join."""
    plan = _plan(QUERIES["ext_sim_cosine_topk"](spark, sf_dir))
    assert "Broadcast" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_knn_join_has_single_exchange(spark, sf_dir):
    """The blocked-GEMM kNN join must shuffle exactly once (the
    per-vector top-k window) — the score computation itself is
    mapInPandas over the probe scan, never a join or cartesian."""
    plan = _plan(QUERIES["ext_sim_knn_join"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_curation_pipeline_shuffles_only_twice(spark, sf_dir):
    """normalize/filter/split are narrow; only the dedup groupBy and
    the final (split, lang) aggregate may shuffle."""
    plan = _plan(QUERIES["ext_curation_pipeline"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 2


def test_cross_source_election_is_one_aggregate(spark, sf_dir):
    """Survivor election must be a single groupBy (min-struct), not a
    window + self-join. Two exchanges, not one: COUNT(DISTINCT source)
    alongside other aggregates expands to Spark's two-phase distinct
    plan ((norm, source) partial, then norm) — the correct distributed
    shape for mixed distinct aggregation."""
    plan = _plan(QUERIES["ext_dedup_cross_source"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 2
    assert "Window" not in plan
    assert "Join" not in plan


def test_quality_score_is_scan_projection_only(spark, sf_dir):
    """Featurize+score+threshold is one narrow projection: no
    exchange, no join, no aggregate."""
    plan = _plan(QUERIES["ext_quality_score"](spark, sf_dir))
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_lateral_decorrelates_to_window_group_limit(spark, sf_dir):
    """The correlated LATERAL-with-LIMIT must become a partitioned
    window with rank pushdown, never a per-outer-row nested loop."""
    plan = _plan(QUERIES["subq_lateral"](spark, sf_dir))
    assert "WindowGroupLimit" in plan
    assert "NestedLoop" not in plan
    assert "CartesianProduct" not in plan


def test_ngram_stats_stays_jvm_side(spark, sf_dir):
    """Bigram formation is a JVM higher-order function over a
    materialized token array — no Python eval on the token path."""
    plan = _plan(QUERIES["ext_ngram_stats"](spark, sf_dir))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_chunk_dedup_aggregates_map_side(spark, sf_dir):
    """Both the chunk-frequency count and the per-doc rollup must get
    partial (map-side) aggregation before their shuffles."""
    plan = _plan(QUERIES["ext_chunk_dedup"](spark, sf_dir))
    assert plan.count("partial_count") >= 1
    assert "BatchEvalPython" not in plan


def test_length_bucket_is_single_aggregate(spark, sf_dir):
    """One scan, one integer-keyed aggregate: exactly one shuffle."""
    plan = _plan(QUERIES["ext_length_bucket"](spark, sf_dir))
    assert plan.count("Exchange") <= 2  # partial->final agg exchange (+AQE read)
    assert "Join" not in plan


def test_sharded_shuffle_has_no_single_reducer(spark, sf_dir):
    """The production epoch-shuffle path must never funnel the corpus
    through one task: one range exchange on shard, a partition-local
    sort, a shard-partitioned window — and the shuffle key hashed
    exactly once per row (double projection guard)."""
    plan = _plan(QUERIES["ext_doc_shuffle_sharded"](spark, sf_dir))
    assert "SinglePartition" not in plan
    assert plan.count("Exchange") == 1
    assert "rangepartitioning(shard" in plan
    assert plan.count("aggregate(split(concat") == 1


def test_banded_range_join_is_equi_not_nested_loop(spark, sf_dir):
    """The big-big interval join must run as an equi-join on the band
    key with a residual filter — never a nested loop or cartesian."""
    plan = _plan(QUERIES["join_range_banded"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # candidate generation must stay parallel: the band key is salted
    # and pinned via explicit repartition, so AQE's input-size-based
    # coalescing cannot funnel the exploded output through few tasks
    assert "hashpartitioning(band" in plan and "salt" in plan


def test_salted_join_shuffles_on_compound_key(spark, sf_dir):
    """The salted skew join must not collapse to a broadcast (which
    would hide the salt): both sides shuffle on (part_group, salt)."""
    plan = _plan(QUERIES["join_skew_salted"](spark, sf_dir))
    assert "BroadcastHashJoin" not in plan
    assert "salt" in plan


def test_ts_resample_fill_window_partitions_by_series(spark, sf_dir):
    """The forward-fill window must partition by series — a global
    (unpartitioned) fill window is the one-reducer trap the sharded
    shuffle test also guards against. (The 1-row min/max bounds
    aggregate is allowed its scalar SinglePartition exchange.)"""
    plan = _plan(QUERIES["ext_ts_resample"](spark, sf_dir))
    assert "windowspecdefinition(event_type" in plan


def test_embedding_centroid_is_single_aggregate(spark, sf_dir):
    """posexplode + one (label, pos) aggregate: the shuffle is bounded
    by labels x dim (partial->final agg exchange only), never a join
    or a second full-data pass."""
    plan = _plan(QUERIES["ext_embedding_centroid"](spark, sf_dir))
    assert plan.count("Exchange") <= 2  # partial->final agg (+AQE read)
    assert "Join" not in plan
    assert "Generate" in plan  # the posexplode


def test_jdbc_scan_reads_from_jdbc_relation(spark, sf_dir):
    """src_jdbc_scan must actually scan the JDBC relation it wrote,
    not silently fall back to the parquet fixture."""
    plan = _plan(QUERIES["src_jdbc_scan"](spark, sf_dir))
    assert "JDBCRelation" in plan


def test_ivf_assign_broadcasts_codebook(spark, sf_dir):
    """Cell assignment must broadcast the k-row codebook and stream
    the vector side through it — the corpus is never shuffled or
    sort-merge-joined for a distance evaluation."""
    plan = _plan(QUERIES["ext_sim_ivf_assign"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_event_pattern_is_one_aggregate_no_join(spark, sf_dir):
    """CEP pattern counting must be groupBy(user) + projection — the
    naive per-stage self-join shape is the regression to catch."""
    plan = _plan(QUERIES["ext_event_pattern"](spark, sf_dir))
    assert "Join" not in plan
    assert "Window" not in plan


def test_bpe_pairs_topk_avoids_full_sort(spark, sf_dir):
    """The global top-20 merge candidates must TakeOrdered, not sort
    the whole pair vocabulary, and pair formation stays JVM-side."""
    plan = _plan(QUERIES["ext_bpe_pair_stats"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan


def test_heavy_hitters_total_rides_broadcast(spark, sf_dir):
    """The corpus total must join as a broadcast 1-row relation, and
    the key count must partially aggregate map-side."""
    plan = _plan(QUERIES["agg_heavy_hitters"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    assert "partial_count" in plan


def test_ts_motif_candidates_are_bucket_joined(spark, sf_dir):
    """Window-pair candidates must come from the sign-sketch
    equi-join — an all-windows cartesian is the regression this
    sketch exists to prevent."""
    plan = _plan(QUERIES["ext_ts_motif"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    # the pair join must hash on the sketch (tiny spine crosses with
    # the 1-row bounds relation are fine)
    assert "Join [sig" in plan or "HashJoin [sig" in plan


def test_bloom_dedup_broadcasts_filter_not_corpus(spark, sf_dir):
    """The incremental screen must broadcast the (geometry-bounded)
    filter relation and stream the incoming side — joining the
    historical corpus itself is the anti-pattern this op exists to
    avoid."""
    plan = _plan(QUERIES["ext_dedup_incremental_bloom"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_flagship_q5_broadcasts_every_dim(spark, sf_dir):
    """Q5's five dimension hops must all broadcast; only the
    lineitem side may shuffle. No cartesian anywhere despite the
    two-equality supplier condition."""
    plan = _plan(QUERIES["flagship_q5"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan
    assert plan.count("SortMergeJoin") <= 1


def test_not_in_plans_null_aware_anti_join(spark, sf_dir):
    """NOT IN over a nullable subquery must compile to the NULL-aware
    anti join (the trailing `true` flag on the LeftAnti build) — a
    plain anti join here returns wrong rows under ANSI three-valued
    logic."""
    plan = _plan(QUERIES["subq_not_in_null"](spark, sf_dir))
    assert "LeftAnti, BuildRight, true" in plan


def test_range_sorted_write_produces_prunable_files(spark, sf_dir, tmp_path):
    """repartitionByRange + sortWithinPartitions + write must yield
    files whose sort-key [min, max] ranges don't interleave — the
    physical property that lets a filtered scan skip whole files via
    parquet footer stats (the same layout discipline fn_zorder extends
    to two dimensions)."""
    import pyarrow.parquet as pq
    import os

    out = str(tmp_path / "orders_ranged")
    (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .repartitionByRange(4, "o_orderdate")
        .sortWithinPartitions("o_orderdate")
        .write.mode("overwrite")
        .parquet(out)
    )
    spans = []
    for f in os.listdir(out):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(out, f)).metadata
        names = [md.schema.column(i).name for i in range(len(md.schema))]
        idx = names.index("o_orderdate")
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        spans.append((min(mins), max(maxs)))
    spans.sort()
    assert len(spans) >= 2
    for (_, hi_prev), (lo_next, _) in zip(spans, spans[1:]):
        assert hi_prev <= lo_next, "file date ranges interleave"


def test_corr_agg_subquery_decorrelates(spark, sf_dir):
    """The Q17-shape correlated aggregate must decorrelate into one
    per-part aggregate joined back — never a per-outer-row re-scan
    (no nested loop, no scalar-subquery execution node left in the
    executed plan)."""
    plan = _plan(QUERIES["subq_corr_agg"](spark, sf_dir))
    assert "NestedLoop" not in plan
    assert "CartesianProduct" not in plan
    assert "Subquery" not in plan  # fully rewritten to joins


def test_flagship_q18_broadcasts_hot_set_and_takes_ordered(spark, sf_dir):
    """Q18's qualifying set must broadcast (never re-shuffle orders
    against full lineitem) and the top-100 must be a TakeOrdered, not
    a global sort."""
    plan = _plan(QUERIES["flagship_q18"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_python_datasource_plans_real_partitions(spark):
    """The custom Python source must scan with one task per declared
    InputPartition — distributed like a file source, not a
    driver-side collect."""
    from streamingdemo_spark.plans.python_source import register_demo_source

    register_demo_source(spark)
    gen = (
        spark.read.format("demo_range")
        .option("n", 1000).option("partitions", 8).load()
    )
    assert gen.rdd.getNumPartitions() == 8
    rows = {r["id"]: (r["mod97"], r["val"]) for r in gen.collect()}
    assert len(rows) == 1000
    assert rows[123] == ((123 * 123) % 97, float((123 * 31) % 1000) / 10.0)


def test_flagship_q7_prunes_nations_and_broadcasts_dims(spark, sf_dir):
    """Q7's disjunctive nation-pair predicate must turn into per-side
    nation pruning (pushed IN filters on both aliased nation scans),
    leaving supplier/customer/nation all broadcast; only the
    lineitem⋈orders join may shuffle."""
    plan = _plan(QUERIES["flagship_q7"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan
    assert plan.count("SortMergeJoin") <= 1
    # nation pruning reached the parquet scans: the IN filter appears
    # as pushed-down scan predicates, once per aliased nation scan
    assert plan.count("NATION_3") >= 2


def test_split_assign_is_pure_projection(spark, sf_dir):
    """The split assignment must stay a per-row expression chain: no
    exchange, no aggregate — embarrassingly parallel at any scale."""
    plan = _plan(QUERIES["ext_split_assign"](spark, sf_dir))
    assert "Exchange" not in plan
    assert "HashAggregate" not in plan


def test_compaction_shrinks_files_without_shuffle(spark, sf_dir):
    """Compaction must cut 64 splinters to the 4-file target, the
    rewrite plan must be shuffle-free (Coalesce, no Exchange between
    scan and write), and content equality is the key's oracle."""
    import streamingdemo_spark.plans.storage as st

    out = QUERIES["snk_compaction"](spark, sf_dir)
    assert out.count() > 0
    assert st._LAST_COMPACTION == {"before": 64, "after": 4}
    src = spark.read.parquet(f"{sf_dir}/orders.parquet")
    plan = _plan(src.coalesce(4))
    assert "Exchange" not in plan and "Coalesce" in plan


def test_asof_nearest_reuses_one_exchange_for_both_carries(spark, sf_dir):
    """The nearest as-of's two directed window passes must share ONE
    user_id shuffle (two Sort+Window stages over the same exchange) —
    never a second repartitioning or a range join."""
    plan = _plan(QUERIES["join_asof_nearest"](spark, sf_dir))
    lines = plan.splitlines()
    n_exchange = sum(1 for l in lines if "+- Exchange hashpartitioning" in l)
    n_window = sum(1 for l in lines if "+- Window" in l or l.strip().startswith("Window"))
    assert n_exchange == 1, plan
    assert n_window == 2, plan
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan


def test_corrupt_csv_quarantines_without_loss(spark, sf_dir):
    """PERMISSIVE + _corrupt_record must account for every fed line
    (good + quarantined = total), and the corrupt count must equal the
    deliberately-mangled subset exactly."""
    row = QUERIES["src_csv_corrupt_recovery"](spark, sf_dir).collect()[0]
    import pyspark.sql.functions as F

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    n = orders.count()
    n_bad = orders.filter(F.col("o_orderkey") % 97 == 0).count()
    assert row["n_rows"] == n
    assert row["n_corrupt"] == n_bad
    assert row["n_good"] == n - n_bad


def test_session_new_keys_avoid_cartesians_and_stray_smj(spark, sf_dir):
    """Join-shape audit for the continuation keys: no CartesianProduct
    anywhere; the only sort-merge joins are the two inherent full-outer
    joins (rank fusion, snapshot diff) — every dim/total relation rides
    a broadcast."""
    cases = {
        "ext_text_bm25": 0,
        "ext_sim_rrf": 1,        # full-outer lex⋈dense on doc_id
        "ext_tokenize_apply": 0,
        "agg_market_basket": 0,
        "ext_lang_mix_temperature": 0,
        "ext_feature_standardize": 0,
        "ext_dataset_diff": 1,   # full-outer v1⋈v2 on doc_id
        "ext_source_overlap": 0,
        "ext_corpus_drift": 0,
    }
    for key, max_smj in cases.items():
        plan = _plan(QUERIES[key](spark, sf_dir))
        assert "CartesianProduct" not in plan, key
        assert plan.count("SortMergeJoin") <= max_smj, (key, plan)


def test_flagship_q21_single_pass_over_lineitem(spark, sf_dir):
    """Q21's round-6 hand-decorrelated plan must scan lineitem ONCE
    (the EXISTS/NOT EXISTS pair is folded into order-grain window
    aggregates, not compiled to semi/anti re-scans of the fact), with
    no cartesian, and stay non-empty on the fixture."""
    df = QUERIES["flagship_q21"](spark, sf_dir)
    plan = _plan(df)
    assert plan.count("lineitem.parquet") == 1, plan
    assert "LeftSemi" not in plan and "LeftAnti" not in plan, plan
    assert "CartesianProduct" not in plan
    assert df.count() > 0


def test_flagship_q13_preserves_zero_order_customers(spark, sf_dir):
    """The ON-clause filter must keep zero-qualifying-order customers
    in the distribution (total custdist == customer count), and the
    WHERE-clause rewrite must provably lose them — pinning the
    outer-join semantics the key exists to demonstrate."""
    import pyspark.sql.functions as F

    from streamingdemo_spark.io import register_views

    df = QUERIES["flagship_q13"](spark, sf_dir)
    n_cust = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    assert df.agg(F.sum("custdist")).collect()[0][0] == n_cust
    register_views(spark, sf_dir, ("customer", "orders"))
    # the selective filter (keep ONLY urgent) makes the loss certain:
    # customers with zero urgent orders have no surviving join rows
    on_form = spark.sql(
        """
        SELECT COUNT(*) AS n FROM (
          SELECT c.c_custkey
          FROM customer c LEFT OUTER JOIN orders o
            ON c.c_custkey = o.o_custkey
           AND o.o_orderpriority = '1-URGENT'
          GROUP BY c.c_custkey)
        """
    ).collect()[0]["n"]
    where_form = spark.sql(
        """
        SELECT COUNT(*) AS n FROM (
          SELECT c.c_custkey
          FROM customer c LEFT OUTER JOIN orders o
            ON c.c_custkey = o.o_custkey
          WHERE o.o_orderpriority = '1-URGENT'
          GROUP BY c.c_custkey)
        """
    ).collect()[0]["n"]
    assert on_form == n_cust
    assert where_form < n_cust


def test_flagship_q19_pushes_or_predicates_to_both_scans(spark, sf_dir):
    """Q19's OR-of-ANDs must decompose: the part scan receives the
    brand/size disjunction, the lineitem scan a quantity predicate —
    neither side scans unfiltered — and the join stays broadcast-hash
    with no cartesian."""
    plan = _plan(QUERIES["flagship_q19"](spark, sf_dir))
    scan_lines = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("p_brand" in l for l in scan_lines), plan
    assert any("l_quantity" in l for l in scan_lines), plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_sweep_flagships_have_no_cartesian_and_bounded_smj(spark, sf_dir):
    """TPC-H sweep (flagship_sweep.py): none of the 13 shapes may plan
    a cartesian product, and shuffled (sort-merge) joins are bounded to
    the fact⋈fact / fact⋈aggregate hops each shape genuinely needs —
    every dimension hop must broadcast. q22's 1-row average relation is
    the one legitimate BroadcastNestedLoopJoin (a singleton cross)."""
    max_smj = {
        "flagship_q1": 0,
        "flagship_q4": 1,   # orders ⋈ lineitem semi
        "flagship_q6": 0,
        "flagship_q8": 1,   # lineitem ⋈ orders
        "flagship_q9": 0,
        "flagship_q10": 1,  # lineitem ⋈ orders
        "flagship_q12": 1,  # orders ⋈ lineitem
        "flagship_q14": 0,
        "flagship_q15": 1,  # supplier ⋈ revenue (tiny, AQE may bc)
        "flagship_q16": 2,  # lineitem ⋈ part grain + anti
        "flagship_q17": 2,  # fact ⋈ part_avg reuse + brand probe
        "flagship_q20": 3,  # two aggregate grains + semi
        "flagship_q22": 1,  # customer ⋈ orders anti
    }
    for key, bound in max_smj.items():
        plan = _plan(QUERIES[key](spark, sf_dir))
        assert "CartesianProduct" not in plan, key
        assert plan.count("SortMergeJoin") <= bound, (key, plan)


def test_flagship_q1_pushes_date_and_partial_aggregates(spark, sf_dir):
    """Q1's shipdate cutoff must reach the parquet scan and the 6-group
    aggregate must partial-combine (two HashAggregate phases around one
    exchange) — the map-side-combine contract that makes Q1 scan-bound
    at 100 TB."""
    plan = _plan(QUERIES["flagship_q1"](spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    assert plan.count("HashAggregate") == 2
    assert "SortMergeJoin" not in plan


def test_flagship_q12_pushes_filters_and_single_pass_agg(spark, sf_dir):
    """Q12's docstring claims must hold in the plan: the shipdate range
    AND the returnflag exclusion push into the lineitem parquet scan
    (the fact side never scans unfiltered), and both conditional counts
    come from ONE partial-combined aggregate pass — two HashAggregate
    phases around one exchange, no second scan or join of lineitem.
    Uses the formatted explain: ``executedPlan().toString()`` elides
    q12's 6-entry pushed-filter list mid-string."""
    df = QUERIES["flagship_q12"](spark, sf_dir)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = df._jdf.queryExecution().explainString(mode)
    scan_lines = [l for l in plan.splitlines() if "PushedFilters" in l]
    li_scans = [l for l in scan_lines if "l_shipdate" in l]
    assert len(li_scans) == 1, plan  # lineitem scanned exactly once
    pushed = li_scans[0]
    assert "GreaterThanOrEqual(l_shipdate" in pushed, pushed
    assert "LessThan(l_shipdate" in pushed, pushed
    assert "Not(EqualTo(l_returnflag,A))" in pushed, pushed
    import re

    # formatted explain names each node once in the tree and once in
    # the detail section — count the numbered detail headers
    n_agg = len(re.findall(r"^\(\d+\) HashAggregate", plan, re.M))
    assert n_agg == 2, plan  # one partial+final pass
    assert "CartesianProduct" not in plan


def test_flagship_q6_pushes_all_three_predicates(spark, sf_dir):
    """Q6 is the pushdown litmus test: date range, discount band and
    quantity cap must ALL appear as pushed parquet filters, and the
    scan must read only the referenced columns."""
    plan = _plan(QUERIES["flagship_q6"](spark, sf_dir))
    scan_lines = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert scan_lines, plan
    pushed = scan_lines[0]
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        assert frag in pushed, (frag, pushed)
    assert "l_orderkey" not in plan  # column pruning held


def test_flagship_q4_compiles_exists_to_semi_join(spark, sf_dir):
    plan = _plan(QUERIES["flagship_q4"](spark, sf_dir))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_flagship_q10_takes_ordered_and_broadcasts_dims(spark, sf_dir):
    plan = _plan(QUERIES["flagship_q10"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_flagship_q16_q22_compile_exclusions_to_anti_joins(spark, sf_dir):
    """Q16's NOT IN and Q22's NOT EXISTS must both become anti joins,
    never per-row subqueries."""
    for key in ("flagship_q16", "flagship_q22"):
        plan = _plan(QUERIES[key](spark, sf_dir))
        assert "Anti" in plan, key


def test_flagship_q20_pushes_name_prefix_and_semi_joins(spark, sf_dir):
    """Q20's LIKE 'red%' is prefix-anchored, so it must push into the
    part scan as StringStartsWith, and the IN-chain must compile to a
    semi join."""
    plan = _plan(QUERIES["flagship_q20"](spark, sf_dir))
    assert "StringStartsWith(p_name,red)" in plan
    assert "LeftSemi" in plan


def test_flagship_q2_decorrelates_scalar_min(spark, sf_dir):
    """Q2's correlated scalar MIN must decorrelate to an aggregate
    plus join over the shared supplier-part relation — no cartesian,
    no per-part re-execution — and the top-100 must TakeOrdered."""
    plan = _plan(QUERIES["flagship_q2"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_flagship_q11_reuses_fact_aggregate(spark, sf_dir):
    """Q11's grouped relation feeds both the row stream and the global
    total. Catalyst inlines the CTE into two identical subplans, so at
    RUNTIME AQE must stitch them back together with a ReusedExchange —
    the part-grain shuffle (and the fact scan under it) executes once.
    The static pre-execution plan shows two scans by design; the
    post-execution plan is the one that proves single-pass."""
    df = QUERIES["flagship_q11"](spark, sf_dir)
    df.collect()
    plan = _plan(df)
    assert "ReusedExchange" in plan, plan
    assert "CartesianProduct" not in plan


def test_session_batch2_keys_avoid_cartesians_and_stray_smj(spark, sf_dir):
    """Join-shape audit for the continuation-batch keys: no cartesian
    products anywhere; sort-merge joins bounded to the genuinely
    fact-sized hops (0 where everything broadcasts or no join
    exists)."""
    cases = {
        "ext_dedup_substring": 1,       # gram group join path
        "ext_dedup_span_coverage": 2,   # semi + doc join-back
        "ext_dedup_substring_mask": 3,  # semi + 2 doc join-backs
        "ext_bigram_surprisal": 2,      # c2 + c1 count joins
        "win_yoy_growth": 0,
        "win_share_of_total": 0,
        "win_moving_median": 0,
        "ext_winsorize": 0,             # cuts broadcast
        "ext_feature_pit_assembly": 0,
        "ext_attribution_last_touch": 0,
        "ext_sim_range_search": 0,      # broadcast query set only
        "ext_text_readability": 0,
        "ext_embedding_pca_project": 0,
        "ext_embedding_pca_invariants": 0,
    }
    for key, bound in cases.items():
        plan = _plan(QUERIES[key](spark, sf_dir))
        assert "CartesianProduct" not in plan, key
        assert plan.count("SortMergeJoin") <= bound, (key, plan)


def test_runtime_bloom_filter_reaches_probe_scan(spark, sf_dir):
    """join_runtime_bloom must inject might_contain() on the probe
    side under its pinned confs — asserted by replanning the same
    query under the key's conf set (the key itself checkpoints, so
    its returned plan no longer shows the join)."""
    import pyspark.sql.functions as F

    from streamingdemo_spark.io import load_tables

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        t = load_tables(spark, sf_dir, ("orders", "lineitem"))
        o = t["orders"].filter(F.col("o_orderpriority") == "1-URGENT")
        j = t["lineitem"].join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        plan = _plan(j)
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan or "Subquery" in plan
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_session_batch3_keys_avoid_cartesians_and_stray_smj(spark, sf_dir):
    """Join-shape audit for the final continuation batch."""
    cases = {
        "win_skyline_frontier": 0,
        "ext_dataset_card": 1,      # hash-grain dup join-back
        "agg_gini_concentration": 0,  # customer dim broadcasts
        "win_ohlc_bars": 0,
        "agg_ltv_cohort": 0,        # first-order relation broadcasts
        "ext_churn_label": 0,
        "ext_split_temporal": 0,    # train-user membership broadcasts
        "agg_moments_exact": 0,
        "set_union_by_name": 0,
        "src_compressed_scan": 0,
        "ext_rag_ingest": 0,
        "ext_negative_sampling": 0,  # anchors broadcast
        "snk_observe_metrics": 0,
    }
    for key, bound in cases.items():
        plan = _plan(QUERIES[key](spark, sf_dir))
        assert "CartesianProduct" not in plan, key
        assert plan.count("SortMergeJoin") <= bound, (key, plan)


def test_sql_scalar_udf_inlines_into_codegen(spark, sf_dir):
    """The docstring's core claim: a SQL UDF body is inlined by
    Catalyst — no Python evaluation boundary appears in the physical
    plan (unlike udf_scalar_py) and the aggregate stays inside
    whole-stage codegen."""
    df = QUERIES["sql_scalar_udf"](spark, sf_dir)
    plan = _plan(df)
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan, plan
    # the UDF body appears as a plain expression inside the partial
    # aggregate — proof it was inlined, not called through a boundary
    assert "partial_sum(FLOOR" in plan, plan
    assert df.count() > 0


def test_bottomk_sample_is_mergeable_topk_not_global_sort(spark, sf_dir):
    """The bottom-k sketch must evaluate as per-partition top-k + k-row
    merge (TakeOrderedAndProject) — never a full sort — and its KMV
    cardinality estimate must land within 3x of the true count (k=20
    gives ~22% relative error; 3x is a regression guard, not a CI)."""
    df = QUERIES["agg_sample_bottomk"](spark, sf_dir)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    rows = df.collect()
    from streamingdemo_spark.io import load_tables

    n = load_tables(spark, sf_dir, ("orders",))["orders"].count()
    est = rows[0]["n_est"]
    assert n / 3 <= est <= 3 * n, (est, n)
    # ranks are 1..k on distinct hashes, ascending
    hs = [r["h"] for r in sorted(rows, key=lambda r: r["rk"])]
    assert hs == sorted(hs) and len(rows) == 20


def test_zorder_write_bounds_both_dims_and_skips_files(spark, sf_dir):
    """The Morton layout's whole value: parquet footer stats must
    bound EVERY file on the second dimension too (a single-dim sort
    leaves yb spanning ~the full range in every file), and whole files
    must be skippable for the 2-d box query. The 2-d predicate must
    also reach the scan as pushed filters."""
    import glob
    import os

    import pyarrow.parquet as pq

    from streamingdemo_spark.plans.storage import _LAST_ZORDER, _Z_BOX

    df = QUERIES["snk_zorder_write"](spark, sf_dir)
    assert df.count() > 0
    assert "PushedFilters: [" in _plan(df)
    n_disjoint = 0
    wide_xb = 0
    for f in sorted(glob.glob(os.path.join(_LAST_ZORDER["path"], "*.parquet"))):
        md = pq.ParquetFile(f).metadata
        spans: dict = {}
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                if col.path_in_schema in ("xb", "yb"):
                    st = col.statistics
                    lo, hi = spans.get(col.path_in_schema, (1 << 30, -1))
                    spans[col.path_in_schema] = (
                        min(lo, st.min), max(hi, st.max)
                    )
        xs, ys = spans["xb"], spans["yb"]
        # every file bounded on the SECOND sort dimension
        assert ys[1] - ys[0] <= 0.6 * 65536, (f, ys)
        wide_xb += (xs[1] - xs[0]) > 0.7 * 65536
        lo, hi = _Z_BOX
        if xs[1] < lo or xs[0] > hi or ys[1] < lo or ys[0] > hi:
            n_disjoint += 1
    # a range-partition boundary can straddle xb once; never twice
    assert wide_xb <= 1
    assert n_disjoint >= 3  # the box query skips whole files


def test_sargable_rewrite_pushes_naive_year_does_not(spark, sf_dir):
    """Both directions of the sargability claim: the half-open range
    form reaches the parquet scan as pushed filters; the
    semantically-identical year() form provably does not (the column
    is wrapped in a function), and both return the same rows."""
    import pyspark.sql.functions as F

    from streamingdemo_spark.io import load_tables

    df = QUERIES["flt_sargable_rewrite"](spark, sf_dir)
    plan = _plan(df)
    assert "GreaterThanOrEqual(o_orderdate" in plan, plan
    naive = (
        load_tables(spark, sf_dir, ("orders",))["orders"]
        .filter(F.year("o_orderdate") == 1996)
        .filter(F.col("o_totalprice") >= 50000.0)
        .select("o_orderkey", "o_orderdate", "o_totalprice")
    )
    nplan = _plan(naive)
    assert "GreaterThanOrEqual(o_orderdate" not in nplan
    assert "LessThan(o_orderdate" not in nplan
    assert sorted(map(tuple, df.collect())) == sorted(
        map(tuple, naive.collect())
    )


def test_txn_log_snapshot_is_immutable_delete(spark, sf_dir):
    """The delete is logical: the snapshot must exclude part 0's rows
    while part 0's parquet files remain untouched on disk (time travel
    / snapshot isolation depends on that immutability), and
    add-then-remove replay order must not matter for the live set."""
    import glob
    import os

    import pyspark.sql.functions as F

    from streamingdemo_spark.io import load_tables

    df = QUERIES["src_txn_log_snapshot"](spark, sf_dir)
    assert df.filter(F.col("o_orderkey") % 4 == 0).count() == 0
    n_all = load_tables(spark, sf_dir, ("orders",))["orders"].count()
    n_part0 = (
        load_tables(spark, sf_dir, ("orders",))["orders"]
        .filter(F.col("o_orderkey") % 4 == 0)
        .count()
    )
    assert df.count() == n_all - n_part0
    # the removed file set still exists on disk — find the staged base
    # from the snapshot's input files
    a_file = df.inputFiles()[0]
    base = os.path.dirname(os.path.dirname(a_file.replace("file:", "")))
    removed = glob.glob(os.path.join(base, "part0", "*.parquet"))
    assert removed, base
    # reading the pre-delete version (commits 0 only) restores part 0
    v0 = spark.read.parquet(*[os.path.join(base, f"part{p}") for p in (0, 1, 2)])
    assert v0.filter(F.col("o_orderkey") % 4 == 0).count() == n_part0


def test_txn_log_time_travel_reads_the_log_cut_not_latest(spark, sf_dir):
    """AS OF version 1 must surface exactly the {1,2} partitions —
    different from BOTH the initial commit ({0,1}) and the latest
    snapshot ({2,3}) — and commit 2's part3 files, though present on
    disk, must not be among the scan's inputs (the classic bug is
    listing files instead of cutting the log)."""
    import pyspark.sql.functions as F

    df = QUERIES["src_txn_log_time_travel"](spark, sf_dir)
    parts = {
        r["p"]
        for r in df.select(
            (F.col("o_orderkey") % 4).alias("p")
        ).distinct().collect()
    }
    assert parts == {1, 2}, parts
    assert not any("part3" in f or "part0" in f for f in df.inputFiles())


def test_gopher_rules_are_non_vacuous_and_consistent(spark, sf_dir):
    """Every rule flag must actually vary across the corpus is too
    strong for the synthetic fixture (it contains no '#'/'...' words
    and only alphabetic tokens), so: the word-count and stopword rules
    must each have BOTH outcomes, the conjunction must equal the AND
    of its parts on every row, and the overall filter must keep a
    strict, non-empty subset."""
    rows = QUERIES["ext_quality_gopher_rules"](spark, sf_dir).collect()
    assert {r["ok_wordcount"] for r in rows} == {True, False}
    assert {r["ok_stopwords"] for r in rows} == {True, False}
    for r in rows:
        assert r["gopher_ok"] == (
            r["ok_wordcount"]
            and r["ok_meanlen"]
            and r["ok_symbol"]
            and r["ok_alpha"]
            and r["ok_stopwords"]
        )
    kept = sum(1 for r in rows if r["gopher_ok"])
    assert 0 < kept < len(rows)


def test_ivf_partitioned_probe_prunes_partitions(spark, sf_dir):
    """The on-disk IVF claim: the probe scan must carry
    PartitionFilters on cell, every file it actually reads must live
    under a probed cell= directory (a strict subset of cells), and the
    result must equal the in-memory probe key row-for-row."""
    import re

    df = QUERIES["ext_sim_ivf_partitioned"](spark, sf_dir)
    plan = _plan(df)
    m = re.search(r"PartitionFilters: \[cell#\d+ IN \(([\d,]+)\)", plan)
    assert m, plan
    cells_read = {int(c) for c in m.group(1).split(",")}
    # 2 queries x N_PROBE=2 cells: a strict subset of the 10 cells
    assert cells_read and len(cells_read) <= 4
    got = sorted(map(tuple, df.collect()))
    want = sorted(
        tuple(r)
        for r in QUERIES["ext_sim_ivf_probe_topk"](spark, sf_dir).collect()
        if r["q_id"] < 2
    )
    assert got == want


def test_reuse_exchange_shuffles_once(spark, sf_dir):
    """The twice-consumed aggregate must shuffle once: after
    execution, AQE's plan wires the second consumer to the first
    exchange's output (ReusedExchange). The static plan cannot show
    this — reuse is a runtime decision — so the assertion runs on the
    post-execution plan."""
    df = QUERIES["sql_reuse_exchange"](spark, sf_dir)
    df.collect()  # AQE finalizes the plan during execution
    plan = _plan(df)
    assert "ReusedExchange" in plan, plan


def test_setjoin_never_goes_quadratic(spark, sf_dir):
    """The exact set-similarity join must stay candidate-bounded: all
    joins are hash-keyed equi-joins (no cartesian, no nested loop), no
    single-partition funnel, and the whole pipeline stays JVM-side."""
    plan = _plan(QUERIES["ext_dedup_setjoin"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SinglePartition" not in plan
    assert "BatchEvalPython" not in plan


def test_dsir_reuses_the_scoring_aggregate(spark, sf_dir):
    """The DSIR plan must build both LMs in ONE conditional aggregate
    (no separate filtered tgt branch) and share the per-doc scoring
    aggregate between the percentile threshold and the output — the
    late-r6 rewrite collapsed 5 corpus passes to 2; the runtime
    ReusedExchange on the shared scoring aggregate pins it. (Static
    plan text duplicates DAG subtrees per consumer, so scan-count
    strings are not a valid proxy; this asserts on the post-execution
    adaptive plan, the sql_reuse_exchange discipline.)"""
    df = QUERIES["ext_dsir_weights"](spark, sf_dir)
    df.collect()
    plan = _plan(df)
    assert "ReusedExchange" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan  # all JVM-side


def test_bootstrap_final_query_holds_no_corpus_scan(spark, sf_dir):
    """The Poisson bootstrap's corpus pass must run exactly once: the
    B-row replicate relation is eagerly checkpointed, so the returned
    query's plan contains NO documents scan at all — the CI aggregate
    and the output both read the checkpointed B rows."""
    plan = _plan(QUERIES["ext_bootstrap_ci"](spark, sf_dir))
    assert "documents.parquet" not in plan, plan
    assert "CartesianProduct" not in plan


def test_setjoin_verify_stage_uses_in_row_intersect(spark, sf_dir):
    """The set-similarity verify stage must intersect per-doc token
    ARRAYS in-row (array_intersect), not re-join candidates against
    the exploded corpus relation — the late-r6 rewrite; this pins it."""
    plan = _plan(QUERIES["ext_dedup_setjoin"](spark, sf_dir))
    assert "array_intersect" in plan, plan


def test_vacuum_deletes_aged_tombstones_only(spark, sf_dir):
    """VACUUM semantics: files whose remove-commit aged out of the
    retention window are physically gone, tombstones inside the window
    keep their files (so the previous snapshot stays time-travelable),
    and the current snapshot's content is exact."""
    import os

    import pyspark.sql.functions as F

    from streamingdemo_spark.io import load_tables
    from streamingdemo_spark.plans.storage import _LAST_VACUUM

    df = QUERIES["snk_vacuum_retention"](spark, sf_dir)
    rows = df.count()
    base = _LAST_VACUUM["base"]
    assert _LAST_VACUUM["vacuumed"] == ["part0"]
    assert _LAST_VACUUM["live"] == ["part2", "part3"]
    # part0 physically deleted; part1 (tombstone in-window) survives
    assert not os.path.exists(os.path.join(base, "part0"))
    assert os.path.isdir(os.path.join(base, "part1"))
    # time travel to the c1 snapshot {1,2,3} still works
    v1 = spark.read.parquet(
        *[os.path.join(base, f"part{p}") for p in (1, 2, 3)]
    )
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    n_123 = orders.filter(F.col("o_orderkey") % 4 != 0).count()
    assert v1.count() == n_123
    # time travel beyond the horizon (c0 snapshot needs part0) fails
    import pytest as _pytest

    with _pytest.raises(Exception):
        spark.read.parquet(
            *[os.path.join(base, f"part{p}") for p in (0, 1, 2)]
        ).count()
    # current snapshot content is exact
    assert rows == orders.filter(
        F.col("o_orderkey") % 4 >= 2
    ).count()


def test_minhash_is_two_kernels_around_one_bucket_shuffle(spark, sf_dir):
    """ext_dedup_minhash's 100 TB contract in plan text: the band rows
    take exactly ONE shuffle on (band, bucket) and are verified inside
    their bucket, so nothing goes quadratic; signatures come from the
    Arrow kernel, not a per-shingle explode (the band posexplode is
    the one Generate); nothing runs row-at-a-time in Python; and no
    cached relation is left behind."""
    import re

    plan = _plan(QUERIES["ext_dedup_minhash"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    # one task (a small fixture) plans the same shuffle as SinglePartition
    bucket_shuffles = re.findall(
        r"Exchange (?:hashpartitioning\(band#\d+, bucket#\d+L?, \d+\)"
        r"|SinglePartition), REPARTITION_BY_NUM",
        plan,
    )
    assert len(bucket_shuffles) == 1, plan
    assert plan.count("hashpartitioning(band#") <= 1, plan
    assert "InMemoryRelation" not in plan
    assert "InMemoryTableScan" not in plan
    assert plan.count("Generate") <= 1, plan


def test_minhash_leaves_no_persisted_rdd(spark, sf_dir):
    """A long-lived session must not build up state: one
    ext_dedup_minhash call leaves the session's persistent RDDs as it
    found them."""
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    assert QUERIES["ext_dedup_minhash"](spark, sf_dir).count() > 0
    assert jsc.getPersistentRDDs().size() == before


@pytest.mark.parametrize(
    "key",
    [
        "ext_dedup_cluster",
        "ext_dedup_embedding_cluster",
        "ext_multimodal_phash_cluster",
    ],
)
def test_dedup_cluster_holds_one_call_of_persisted_rdds(spark, sf_dir, key):
    """A cluster key's pair caches and per-round checkpoints do not
    build up in a long-lived session: after the first call, further
    calls leave the persistent-RDD count where it was, even while the
    caller still holds every result frame."""
    jsc = spark.sparkContext._jsc.sc()
    frames, counts = [], []
    for _ in range(3):
        frames.append(QUERIES[key](spark, sf_dir))
        assert frames[-1].count() > 0
        counts.append(jsc.getPersistentRDDs().size())
    assert counts[0] == counts[1] == counts[2], counts


def test_stream_dedup_substring_winnows_map_side(spark, sf_dir):
    """The streaming substring dedup must keep winnowing MAP-SIDE:
    the vectorized Arrow UDF (winnow_pos) sits BELOW the stateful
    aggregate's gram exchange, so each micro-batch ships only the
    ~0.18/char selected grams, never raw per-position rows; exactly
    ONE stateful operator carries state; nothing is row-at-a-time
    Python. Streaming plans can't be explained pre-start, so this
    asserts on the executed plan captured from the availableNow
    replay."""
    from streamingdemo_spark.streaming import runner

    out = QUERIES["stream_dedup_substring"](spark, sf_dir)
    assert out.count() > 0
    plan = runner.LAST_STREAM_PLAN
    if not plan:
        pytest.skip(
            "executed-plan capture unavailable (StreamingQuery.explain "
            "capture failed) — plan pin skipped, correctness unaffected"
        )
    assert "ArrowEvalPython" in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert plan.count("StateStoreSave") == 1, plan
    exchange_at = plan.index("Exchange hashpartitioning(gram")
    udf_at = plan.index("ArrowEvalPython")
    # root-first tree: the exchange printing above (before) the UDF
    # means the UDF runs below the shuffle — i.e. map-side
    assert exchange_at < udf_at, plan
    assert "CartesianProduct" not in plan


def test_txn_log_stats_prune_skips_non_overlapping_files(spark, sf_dir):
    """Stats-based file skipping must actually skip: the scan's input
    files are a strict subset of the table's 8 range-bucketed files
    (only ranges overlapping the [30%, 45%] key span survive), every
    scanned file's bucket range overlaps the predicate, and the result
    is exactly the logical table's answer for that range."""
    import os
    import re

    import pyspark.sql.functions as F

    from streamingdemo_spark.io import load_tables

    df = QUERIES["src_txn_log_stats_prune"](spark, sf_dir)
    files = df.inputFiles()
    parts = {
        int(m.group(1))
        for f in files
        for m in [re.search(r"b=(\d+)", f)]
        if m
    }
    assert 0 < len(parts) < 8, parts  # pruning happened, scan non-empty
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    b = orders.agg(
        F.min("o_orderkey").alias("lo"), F.max("o_orderkey").alias("hi")
    ).collect()[0]
    lo, hi = int(b["lo"]), int(b["hi"])
    span = hi - lo + 1
    qlo, qhi = lo + span * 3 // 10, lo + span * 9 // 20
    # the surviving buckets are exactly those whose range overlaps.
    # Bounds must match the DIV bucketing `((k-lo)*8) DIV span == part`
    # exactly: part <= (k-lo)*8/span < part+1 implies a CEIL lower
    # bound and CEIL(next)-1 upper bound — a floor on both ends puts a
    # bucket's true max one key below its real bound and the subset
    # assertion can flake when qlo lands on the boundary key (r8
    # advice). ceil(a/b) for non-negative ints is -(-a // b).
    want = {
        part
        for part in range(8)
        if not (
            lo + -(-(part + 1) * span // 8) - 1 < qlo  # bucket max key
            or lo + -(-part * span // 8) > qhi          # bucket min key
        )
    }
    # writer stats are TIGHT (real min/max), so the kept set can only
    # be a subset of the geometric overlap set
    assert parts <= want, (parts, want)
    n_expected = orders.filter(
        F.col("o_orderkey").between(qlo, qhi)
    ).count()
    assert df.count() == n_expected


def test_txn_log_merge_rewrites_only_affected_files(spark, sf_dir):
    """Copy-on-write MERGE must be delta-file-bounded: the post-merge
    snapshot mixes the rewrite file with the ORIGINAL paths of every
    bucket whose stats range can't hold updated keys (those buckets
    are never rewritten), and both the old bucket files and the new
    snapshot coexist on disk (time travel intact)."""
    import os
    import re

    df = QUERIES["snk_txn_log_merge"](spark, sf_dir)
    files = df.inputFiles()
    orig = {f for f in files if re.search(r"data/b=\d+", f)}
    rewr = {f for f in files if "rewrite1" in f}
    assert rewr, files  # the rewrite is in the new snapshot
    assert orig, files  # untouched buckets kept their original paths
    # affected buckets must NOT appear as originals: every original in
    # the snapshot is outside the [55%, 65%] update span
    base = None
    for f in orig:
        m = re.match(r"(?:file:)?(/.*)/data/b=\d+/", f)
        if m:
            base = m.group(1)
            break
    assert base is not None, orig
    # the removed buckets' files still exist on disk (immutable store;
    # the PREVIOUS snapshot stays readable)
    all_buckets = {
        d for d in os.listdir(os.path.join(base, "data")) if d.startswith("b=")
    }
    snapshot_buckets = {
        m.group(1) for f in orig for m in [re.search(r"(b=\d+)", f)] if m
    }
    assert snapshot_buckets < all_buckets, (snapshot_buckets, all_buckets)


def test_txn_log_checkpoint_resolves_suffix_only(spark, sf_dir):
    """Checkpointed snapshot resolution must (a) equal the full
    O(n_commits) replay on the same log at EVERY checkpoint position,
    and (b) never open a commit file at or before the checkpoint
    version — the O(suffix) planning contract that keeps reader cost
    bounded by checkpoint cadence instead of table age."""
    import os
    import shutil
    import tempfile

    from streamingdemo_spark.plans import txn_log

    tmp = tempfile.mkdtemp(prefix="ckpt_unit_")
    try:
        # 12 commits of churn over 5 parts, incl. remove/re-add cycles
        history = [
            [{"add": "p0"}], [{"add": "p1"}], [{"add": "p2"}],
            [{"remove": "p0"}], [{"add": "p3"}], [{"add": "p0"}],
            [{"remove": "p2"}], [{"add": "p4"}], [{"remove": "p0"}],
            [{"add": "p2"}], [{"remove": "p3"}], [{"add": "p0"}],
        ]
        log_dir = txn_log.create(os.path.join(tmp, "_txn_log"), history)
        full = txn_log.snapshot(log_dir)
        # no checkpoint yet: fallback = full replay, opens every commit
        live, opened = txn_log.resolve(log_dir)
        assert live == full
        assert len(opened) == len(history)
        for v in range(len(history)):  # checkpoint at every position
            txn_log.write_checkpoint(log_dir, version=v)
            live, opened = txn_log.resolve(log_dir)
            assert live == full, f"diverged with checkpoint at v{v}"
            assert opened[0] == f"{v:08d}.checkpoint.json"
            suffix = [f"{i:08d}.json" for i in range(v + 1, len(history))]
            assert opened[1:] == suffix, (v, opened)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_txn_log_checkpointed_key_scan_matches_live_set(spark, sf_dir):
    """The registered key's scan must read exactly the final live
    parts {part0, part1, part2} — part3 (removed after the
    checkpoint) must not be scanned even though its file still exists
    on disk (time travel intact)."""
    import re

    df = QUERIES["src_txn_log_checkpointed"](spark, sf_dir)
    parts = {
        m.group(1)
        for f in df.inputFiles()
        for m in [re.search(r"(part\d)", f)]
        if m
    }
    assert parts == {"part0", "part1", "part2"}, parts


def _stage_conflict_race(spark, sf_dir, first, second):
    """Stage the overlapping-COW-merge race with ``first`` winning the
    commit and ``second`` losing it; returns (loser base_version,
    loser planned removes, log_dir)."""
    from streamingdemo_spark.plans import txn_log
    from streamingdemo_spark.plans.scans import (
        _cow_merge_txn,
        _orderkey_quantile_span,
        _stage_stats,
    )

    base, log_dir, lo, hi = _stage_stats(spark, sf_dir)
    spans = {
        "A": (*_orderkey_quantile_span(spark, sf_dir, 0.40, 0.60), 11, 10),
        "B": (*_orderkey_quantile_span(spark, sf_dir, 0.50, 0.70), 9, 10),
    }
    f_lo, f_hi, f_n, f_d = spans[first]
    s_lo, s_hi, s_n, s_d = spans[second]
    f_base, f_removes, f_actions = _cow_merge_txn(
        spark, base, log_dir, f_lo, f_hi, f_n, f_d, f"rewrite{first}"
    )
    s_base, s_removes, s_actions = _cow_merge_txn(
        spark, base, log_dir, s_lo, s_hi, s_n, s_d, f"rewrite{second}"
    )
    assert f_removes & s_removes, "race must overlap"
    assert txn_log.try_commit(log_dir, f_base, f_actions)
    assert not txn_log.try_commit(log_dir, s_base, s_actions)
    return s_base, s_removes, log_dir


@pytest.mark.parametrize("first,second", [("A", "B"), ("B", "A")])
def test_txn_log_conflict_detected_in_both_interleavings(
    spark, sf_dir, first, second
):
    """Whichever writer wins the race, the LOSER's read-set validation
    must raise on the remove-vs-remove overlap — conflict detection
    cannot depend on commit order."""
    from streamingdemo_spark.plans import txn_log

    s_base, s_removes, log_dir = _stage_conflict_race(
        spark, sf_dir, first, second
    )
    with pytest.raises(txn_log.TxnConflictError):
        txn_log.validate_read_set(log_dir, s_base, s_removes)


def test_txn_log_validation_passes_disjoint_writers(spark, sf_dir):
    """Two COW merges on DISJOINT key spans touch disjoint files (the
    staged bucket layout separates [0%,10%] from [85%,95%]): the loser
    re-validates clean and its retry commit must land — conflict
    detection must not serialize writers that actually commute."""
    from streamingdemo_spark.plans import txn_log
    from streamingdemo_spark.plans.scans import _cow_merge_txn, _stage_stats

    base, log_dir, lo, hi = _stage_stats(spark, sf_dir)
    span = hi - lo + 1
    a = _cow_merge_txn(
        spark, base, log_dir,
        lo, lo + span * 2 // 20, 11, 10, "rewriteA",
    )
    b = _cow_merge_txn(
        spark, base, log_dir,
        lo + span * 17 // 20, lo + span * 19 // 20, 9, 10, "rewriteB",
    )
    assert not (a[1] & b[1]), "spans must prune to disjoint files"
    assert txn_log.try_commit(log_dir, a[0], a[2])
    assert not txn_log.try_commit(log_dir, b[0], b[2])
    txn_log.validate_read_set(log_dir, b[0], b[1])  # must NOT raise
    assert txn_log.try_commit(log_dir, txn_log.next_version(log_dir), b[2])
    live = set(txn_log.snapshot(log_dir))
    assert {"rewriteA", "rewriteB"} <= live


def test_txn_ledger_tracks_per_app_versions(spark, sf_dir):
    """The txn-action ledger must be per-appId (two writers' epochs
    don't collide) and report -1 for an unknown app — the invariant
    snk_txn_log_stream_commit's skip decision rides on."""
    import os
    import tempfile

    from streamingdemo_spark.plans import txn_log

    log_dir = tempfile.mkdtemp(prefix="txn_ledger_")
    assert txn_log.last_txn_version(log_dir, "a") == -1
    for v, (app, epoch) in enumerate([("a", 0), ("b", 5), ("a", 1)]):
        assert txn_log.try_commit(
            log_dir, v, [{"txn": {"appId": app, "version": epoch}}]
        )
    assert txn_log.last_txn_version(log_dir, "a") == 1
    assert txn_log.last_txn_version(log_dir, "b") == 5
    assert txn_log.last_txn_version(log_dir, "c") == -1
    # checkpointing makes the ledger O(suffix): the txn state rides
    # the checkpoint, so pre-checkpoint commits are NEVER opened —
    # proven by deleting them outright
    assert txn_log.try_commit(
        log_dir, 3, [{"txn": {"appId": "a", "version": 2}}]
    )
    txn_log.write_checkpoint(log_dir, version=2)  # covers commits 0..2
    for v in range(3):
        os.unlink(os.path.join(log_dir, f"{v:08d}.json"))
    assert txn_log.last_txn_version(log_dir, "a") == 2  # ckpt(1) + c3(2)
    assert txn_log.last_txn_version(log_dir, "b") == 5  # checkpoint only
    assert txn_log.last_txn_version(log_dir, "c") == -1


def test_next_version_survives_pre_checkpoint_cleanup():
    """Commits at or before a checkpoint may be cleaned up (the ledger
    test above does exactly that). The next commit must still land
    ABOVE the checkpoint: claiming a version below it would be skipped
    by every checkpointed reader, silently losing the commit. No
    Spark."""
    import os
    import shutil
    import tempfile

    from streamingdemo_spark.plans import txn_log

    tmp = tempfile.mkdtemp(prefix="txn_cleanup_")
    try:
        log_dir = txn_log.create(
            os.path.join(tmp, "_txn_log"),
            [[{"add": f"p{v}"}] for v in range(4)],
        )
        txn_log.write_checkpoint(log_dir, version=2)
        for v in range(3):
            os.unlink(os.path.join(log_dir, f"{v:08d}.json"))
        assert txn_log.next_version(log_dir) == 4

        def no_replan():
            raise AssertionError("a blind append must never re-plan")

        # a writer planned against the stale version 3 retries past it
        rebases = txn_log.commit_with_retry(
            log_dir, (3, set(), [{"add": "p4"}]), no_replan
        )
        assert rebases == 0
        assert os.path.exists(os.path.join(log_dir, "00000004.json"))
        live, opened = txn_log.resolve(log_dir)
        assert opened == [
            "00000002.checkpoint.json", "00000003.json", "00000004.json"
        ]
        assert set(live) == {"p0", "p1", "p2", "p3", "p4"}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_compression_invariants_single_arrow_projection(spark, sf_dir):
    """The codec-contract check is one scan + one Arrow-batched
    projection: no shuffle, no join, no row-at-a-time Python."""
    plan = _plan(QUERIES["ext_compression_invariants"](spark, sf_dir))
    assert plan.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_cdf_emits_only_real_changes(spark, sf_dir, duck):
    """CDF-from-COW must not emit phantom changes: every copied-through
    row of the rewritten file is filtered out, each changed key
    appears exactly twice (pre+post), and postimage = pre * 11//10 on
    the cents grid."""
    import pyspark.sql.functions as F

    df = QUERIES["src_txn_log_cdf"](spark, sf_dir).cache()
    try:
        n_keys = df.select("o_orderkey").distinct().count()
        by_type = {
            r["_change_type"]: r["n"]
            for r in df.groupBy("_change_type").agg(
                F.count("*").alias("n")
            ).collect()
        }
        assert by_type == {
            "update_preimage": n_keys,
            "update_postimage": n_keys,
        }, by_type
        # span rows in the logical table == changed keys
        lo, hi = duck.execute(
            "SELECT CAST(FLOOR(quantile_cont(o_orderkey, 0.40)) AS BIGINT),"
            "       CAST(FLOOR(quantile_cont(o_orderkey, 0.60)) AS BIGINT) "
            "FROM orders"
        ).fetchone()
        n_span = duck.execute(
            f"SELECT COUNT(*) FROM orders "
            f"WHERE o_orderkey BETWEEN {lo} AND {hi}"
        ).fetchone()[0]
        assert n_keys == n_span, (n_keys, n_span)
    finally:
        df.unpersist()


def test_checkpoint_preserves_add_action_stats(spark, sf_dir):
    """Checkpoints must carry add actions VERBATIM: a stats-carrying
    table resolved through its checkpoint keeps exactly the same
    (path, min, max) live set as the full stats replay — a checkpoint
    that strips stats silently turns every post-checkpoint query into
    a full-table scan."""
    from streamingdemo_spark.plans import txn_log
    from streamingdemo_spark.plans.scans import _stage_stats

    base, log_dir, lo, hi = _stage_stats(spark, sf_dir)
    full = txn_log.snapshot(log_dir)
    assert all("min_key" in a and "max_key" in a for a in full.values())
    # fallback path (no checkpoint): full replay, opens the commit
    live, opened = txn_log.resolve(log_dir)
    assert live == full and opened == ["00000000.json"]
    txn_log.write_checkpoint(log_dir, version=0)
    live, opened = txn_log.resolve(log_dir)
    assert live == full, "stats lost through the checkpoint"
    assert opened == ["00000000.checkpoint.json"]


def test_schema_evolution_nulls_old_files_only(spark, sf_dir):
    """Old-era rows surface NULL for the evolved column; new-era rows
    carry real values — and the scan reads all four parts."""
    import pyspark.sql.functions as F

    df = QUERIES["src_txn_log_schema_evolution"](spark, sf_dir)
    agg = df.groupBy((F.col("o_orderkey") % 4 >= 2).alias("new_era")).agg(
        F.count("*").alias("n"),
        F.count("o_orderpriority").alias("n_prio"),
    )
    rows = {r["new_era"]: (r["n"], r["n_prio"]) for r in agg.collect()}
    assert set(rows) == {True, False}
    assert rows[False][1] == 0, "old files must surface NULL priority"
    assert rows[True][1] == rows[True][0], "new files must carry values"


def test_txn_log_ts_resolution_clamps_skewed_clocks():
    """Timestamp time travel must resolve through EFFECTIVE (clamped)
    timestamps, never raw writer clocks: a later commit with a skewed
    earlier raw ts is clamped past its predecessor, and a cutoff before
    the first commit raises instead of returning an empty snapshot."""
    import os
    import tempfile

    from streamingdemo_spark.plans import txn_log

    stamps = [1000, 3000, 2500, 2600]  # v2/v3 skew backward
    log_dir = txn_log.create(
        os.path.join(tempfile.mkdtemp(prefix="txn_ts_"), "_txn_log"),
        [
            [{"commitInfo": {"timestamp": ts}}, {"add": f"part{v}"}]
            for v, ts in enumerate(stamps)
        ],
    )
    # effective timestamps: 1000, 3000, 3001, 3002
    assert txn_log.version_at_ts(log_dir, 1000) == 0
    assert txn_log.version_at_ts(log_dir, 2999) == 0
    assert txn_log.version_at_ts(log_dir, 3000) == 1
    assert txn_log.version_at_ts(log_dir, 3001) == 2
    assert txn_log.version_at_ts(log_dir, 10_000) == 3
    with pytest.raises(ValueError):
        txn_log.version_at_ts(log_dir, 999)  # predates the table
    # a commit without a timestamp makes ts-travel undefined — loudly
    assert txn_log.try_commit(log_dir, 4, [{"add": "part4"}])
    with pytest.raises(RuntimeError):
        txn_log.version_at_ts(log_dir, 10_000)


@pytest.mark.parametrize("first", ["writer", "compactor"])
def test_txn_log_compaction_race_both_interleavings(spark, sf_dir, first):
    """OPTIMIZE-vs-writer race in BOTH orders: whichever transaction
    wins the claim, the loser's validation must raise (their file sets
    overlap), the loser's rebase must read the winner's output file,
    and the final logical table must equal the writer's update applied
    exactly once — compaction is data-identical regardless of order."""
    from streamingdemo_spark.plans import txn_log
    from streamingdemo_spark.plans.scans import (
        _compaction_txn,
        _cow_merge_txn,
        _orderkey_quantiles,
        _stage_stats,
    )
    import os

    base, log_dir, lo, hi = _stage_stats(spark, sf_dir)
    alo, ahi, clo, chi = _orderkey_quantiles(
        spark, sf_dir, 0.40, 0.60, 0.35, 0.65
    )
    w_plan = _cow_merge_txn(
        spark, base, log_dir, alo, ahi, 11, 10, "rewriteW"
    )
    c_plan = _compaction_txn(
        spark, base, log_dir, clo, chi, "compact_stale"
    )[:3]
    assert w_plan[1] & c_plan[1], "race must overlap"
    winner, loser = (
        (w_plan, c_plan) if first == "writer" else (c_plan, w_plan)
    )
    assert txn_log.try_commit(log_dir, winner[0], winner[2])
    assert not txn_log.try_commit(log_dir, loser[0], loser[2])
    with pytest.raises(txn_log.TxnConflictError):
        txn_log.validate_read_set(log_dir, loser[0], loser[1])
    # rebase: re-plan the LOSER against the post-winner snapshot
    if first == "writer":
        rb = _compaction_txn(spark, base, log_dir, clo, chi, "compact0")[:3]
        assert "rewriteW" in rb[1], "rebase must read the winner's file"
    else:
        rb = _cow_merge_txn(
            spark, base, log_dir, alo, ahi, 11, 10, "rewriteW2"
        )
        assert "compact_stale" in rb[1], (
            "rebased writer must read the compacted file"
        )
    txn_log.validate_read_set(log_dir, rb[0], rb[1])  # clean now
    assert txn_log.try_commit(log_dir, rb[0], rb[2])
    final = txn_log.snapshot(log_dir)
    got = spark.read.parquet(*(os.path.join(base, p) for p in final))
    from pyspark.sql import functions as F

    cents = "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)"
    want = (
        spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        .select(
            "o_orderkey",
            F.when(
                F.col("o_orderkey").between(alo, ahi),
                F.expr(f"({cents} * 11) DIV 10"),
            )
            .otherwise(F.expr(cents))
            .alias("cents"),
        )
    )
    got_c = got.select(
        "o_orderkey", F.expr(cents).alias("cents")
    )
    assert got_c.count() == want.count()
    assert got_c.exceptAll(want).count() == 0
    assert want.exceptAll(got_c).count() == 0


def test_txn_log_retry_loop_commutes_without_rebase(spark, sf_dir):
    """The generalized retry loop must NOT re-plan when the rival
    commits commute (disjoint files): one lost claim, zero rebases,
    same staged actions land at the next version."""
    from streamingdemo_spark.plans import txn_log
    from streamingdemo_spark.plans.scans import _cow_merge_txn, _stage_stats

    base, log_dir, lo, hi = _stage_stats(spark, sf_dir)
    span = hi - lo + 1
    a = _cow_merge_txn(
        spark, base, log_dir, lo, lo + span * 2 // 20, 11, 10, "rewriteA"
    )
    b = _cow_merge_txn(
        spark, base, log_dir,
        lo + span * 17 // 20, lo + span * 19 // 20, 9, 10, "rewriteB",
    )
    assert not (a[1] & b[1])
    assert txn_log.try_commit(log_dir, a[0], a[2])

    def no_replan():
        raise AssertionError("commuting writers must never re-plan")

    rebases = txn_log.commit_with_retry(log_dir, b, no_replan)
    assert rebases == 0
    assert txn_log.next_version(log_dir) == 3


def test_txn_log_retry_loop_bounded(spark, sf_dir):
    """Livelock turns into a loud error: a rival that steals every
    version exhausts max_attempts instead of spinning forever."""
    import os
    import tempfile

    from streamingdemo_spark.plans import txn_log

    log_dir = txn_log.create(
        os.path.join(tempfile.mkdtemp(prefix="txn_livelock_"), "_txn_log"),
        [[{"add": "part0"}]],
    )

    def rival_steals():
        # the rival both steals the next version AND conflicts (it
        # removes the file we plan to rewrite), so every re-plan is
        # immediately invalidated again — a true livelock
        v = txn_log.next_version(log_dir)
        assert txn_log.try_commit(
            log_dir, v, [{"remove": "part0"}, {"add": f"rival{v}"}]
        )
        return v, {"part0"}, [{"remove": "part0"}]

    plan = rival_steals()  # rival lands one ahead of every claim
    with pytest.raises(RuntimeError, match="retry budget"):
        txn_log.commit_with_retry(
            log_dir, plan, rival_steals, max_attempts=3
        )


def test_txn_log_vacuum_retention_and_idempotence(spark, sf_dir):
    """VACUUM honors the retention horizon (retain-everything deletes
    nothing), reclaims exactly the pre-horizon dead files otherwise,
    is idempotent, and never touches the transaction log itself."""
    import os

    from streamingdemo_spark.plans import txn_log
    from streamingdemo_spark.plans.scans import _cow_merge_txn, _stage_stats

    base, log_dir, lo, hi = _stage_stats(spark, sf_dir)
    span = hi - lo + 1
    v, _, actions = _cow_merge_txn(
        spark, base, log_dir,
        lo + span * 11 // 20, lo + span * 13 // 20, 11, 10, "rewrite1",
    )
    assert txn_log.try_commit(log_dir, v, actions)
    log_before = sorted(os.listdir(log_dir))

    # retain everything -> nothing is dead
    dead, _ = txn_log.vacuum(base, log_dir, retain_from_version=0)
    assert dead == set()

    # horizon at the latest version -> exactly the rewritten buckets die
    v0 = set(txn_log.snapshot(log_dir, as_of=0))
    v1 = set(txn_log.snapshot(log_dir, as_of=1))
    dead, referenced = txn_log.vacuum(base, log_dir, retain_from_version=1)
    assert dead == v0 - v1 and dead
    assert referenced == v1
    for p in dead:
        assert not os.path.exists(os.path.join(base, p))
    for p in referenced:
        assert os.path.exists(os.path.join(base, p))

    # idempotent: a second vacuum at the same horizon finds nothing new
    dead2, _ = txn_log.vacuum(base, log_dir, retain_from_version=1)
    assert dead2 == dead  # same logical dead set, already gone from disk
    # the log is history, not data — vacuum must never touch it
    assert sorted(os.listdir(log_dir)) == log_before


def test_txn_log_restore_round_trip(spark, sf_dir):
    """RESTORE is an append-only commit: rolling back to v0 and then
    'rolling forward' to v1 again are two MORE commits, every
    intermediate state stays time-travelable, and the final live set
    equals v1's exactly."""
    from streamingdemo_spark.plans import txn_log
    from streamingdemo_spark.plans.scans import _cow_merge_txn, _stage_stats

    def live_at(version=None):
        return set(txn_log.snapshot(log_dir, as_of=version))

    base, log_dir, lo, hi = _stage_stats(spark, sf_dir)
    span = hi - lo + 1
    v, _, actions = _cow_merge_txn(
        spark, base, log_dir,
        lo + span * 11 // 20, lo + span * 13 // 20, 11, 10, "rewrite1",
    )
    assert txn_log.try_commit(log_dir, v, actions)

    def restore_to(version):
        target = txn_log.snapshot(log_dir, as_of=version)
        current = live_at()
        actions = [
            {"remove": p} for p in sorted(current - set(target))
        ] + [target[p] for p in sorted(set(target) - current)]
        assert txn_log.try_commit(
            log_dir, txn_log.next_version(log_dir), actions
        )
        return set(target)

    v0_live = live_at(0)
    v1_live = live_at(1)
    assert restore_to(0) == live_at() == v0_live
    assert restore_to(1) == live_at() == v1_live
    assert txn_log.next_version(log_dir) == 4  # nothing erased
    # every historical state remains resolvable
    assert live_at(2) == v0_live
    assert live_at(3) == v1_live


def test_txn_log_zorder_race_rebase_and_stats_gap(spark, sf_dir):
    """Z-ORDER-vs-writer race: the clustering rewrite reads every
    live file, so ANY concurrent writer conflicts — the zorder must
    lose its claim, fail validation, and re-plan against the
    post-writer snapshot. The winner's rewrite file carries NO
    o_custkey stats (a single-column writer), exercising the
    absent-stats path: normalization bounds come from the files that
    have stats, the straggler clamps into edge lanes, and the prune
    must keep the stats-less file (absent stats never skip)."""
    import os

    from pyspark.sql import functions as F

    from streamingdemo_spark.plans import txn_log
    from streamingdemo_spark.plans.lakehouse import (
        _ck_prune,
        _zorder_stage,
        _zorder_txn,
    )
    from streamingdemo_spark.plans.scans import (
        _orderkey_quantile_span,
        _overlapping,
    )

    def cow_merge(base, log_dir, ulo, uhi, out_name):
        """Schema-preserving COW MERGE on the zorder table (+10% on
        [ulo, uhi]) whose add action records orderkey stats ONLY —
        the single-sort-column writer every mixed fleet has."""
        bv = txn_log.next_version(log_dir)
        affected = _overlapping(txn_log.snapshot(log_dir), ulo, uhi)
        rewritten = spark.read.parquet(
            *(os.path.join(base, p) for p in affected)
        ).select(
            "o_orderkey",
            "o_custkey",
            F.when(
                F.col("o_orderkey").between(ulo, uhi),
                F.expr(
                    "(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)"
                    " * 11) DIV 10"
                ).cast("double")
                / 100.0,
            )
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
        )
        rewritten.write.mode("overwrite").parquet(
            os.path.join(base, out_name)
        )
        st = rewritten.agg(
            F.min("o_orderkey").alias("mn"), F.max("o_orderkey").alias("mx")
        ).collect()[0]
        actions = [{"remove": p} for p in affected] + [
            {
                "add": out_name,
                "min_key": int(st["mn"]),
                "max_key": int(st["mx"]),
            }
        ]
        return bv, set(affected), actions

    base, log_dir = _zorder_stage(spark, sf_dir)
    alo, ahi = _orderkey_quantile_span(spark, sf_dir, 0.40, 0.60)
    z_plan = _zorder_txn(spark, base, log_dir)
    w_plan = cow_merge(base, log_dir, alo, ahi, "rewriteW")
    assert z_plan[1] & w_plan[1], "zorder reads everything: must overlap"
    assert txn_log.try_commit(log_dir, w_plan[0], w_plan[2])
    post_w = txn_log.snapshot(log_dir)
    cents = "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)"
    want = (
        spark.read.parquet(*(os.path.join(base, p) for p in post_w))
        .select("o_orderkey", F.expr(cents).alias("cents"))
    )
    assert not txn_log.try_commit(log_dir, z_plan[0], z_plan[2])
    with pytest.raises(txn_log.TxnConflictError):
        txn_log.validate_read_set(log_dir, z_plan[0], z_plan[1])
    # the stats-less rewrite is unprunable — _ck_prune must keep it
    live = txn_log.snapshot(log_dir)
    assert "min_ck" not in live["rewriteW"]
    assert "rewriteW" in _ck_prune(live, 1, 2)
    rb = _zorder_txn(spark, base, log_dir)
    assert "rewriteW" in rb[1], "rebase must read the winner's file"
    txn_log.validate_read_set(log_dir, rb[0], rb[1])
    assert txn_log.try_commit(log_dir, rb[0], rb[2])
    final = txn_log.snapshot(log_dir)
    got = (
        spark.read.parquet(*(os.path.join(base, p) for p in final))
        .select("o_orderkey", F.expr(cents).alias("cents"))
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    # post-zorder, every live file carries fresh 2-D stats again
    assert all("min_ck" in a for a in txn_log.snapshot(log_dir).values())


def test_txn_log_zorder_result_matches_logical_table(spark, sf_dir):
    """The registry key's own asserts pin the pruning mechanics
    (zero files skippable before, strictly fewer after); this pins
    the semantics: the pruned+filtered read equals a plain filter of
    the logical table, row for row."""
    from pyspark.sql import functions as F

    from streamingdemo_spark.io import load_tables

    df = QUERIES["snk_txn_log_zorder"](spark, sf_dir)
    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    row = o.agg(
        F.expr("percentile(o_custkey, array(0.35, 0.50))").alias("qs")
    ).collect()[0]
    want = o.filter(
        F.col("o_custkey").between(int(row["qs"][0]), int(row["qs"][1]))
    ).select("o_orderkey", "o_custkey", "o_totalprice")
    assert df.count() == want.count() > 0
    assert df.exceptAll(want).count() == 0


def test_txn_log_incr_mv_applies_pure_append_delta(spark, sf_dir):
    """The MV delta path with a pure-append commit (no preimage):
    the signed-delta helper must aggregate the added file alone, and
    (MV at v0) + delta == full recompute over the post-append
    snapshot — the composition a streaming foreachBatch consumer
    relies on."""
    import os

    from pyspark.sql import functions as F

    from streamingdemo_spark.plans import txn_log
    from streamingdemo_spark.plans.lakehouse import _CENTS, _mv_delta
    from streamingdemo_spark.plans.scans import _stage_stats

    base, log_dir, lo, hi = _stage_stats(spark, sf_dir)
    appended = (
        spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .filter(F.col("o_orderkey") % 97 == 0)
        .withColumn("o_orderkey", F.col("o_orderkey") + (hi + 1))
    )
    appended.coalesce(1).write.parquet(os.path.join(base, "append0"))
    st = appended.agg(
        F.min("o_orderkey").alias("mn"), F.max("o_orderkey").alias("mx")
    ).collect()[0]
    assert txn_log.try_commit(
        log_dir,
        1,
        [
            {
                "add": "append0",
                "min_key": int(st["mn"]),
                "max_key": int(st["mx"]),
            }
        ],
    )

    def agg(df):
        return df.groupBy("o_orderstatus").agg(
            F.count("*").alias("n_orders"),
            F.sum(F.expr(_CENTS)).alias("sum_cents"),
        )

    v0 = txn_log.snapshot(log_dir, as_of=0)
    mv0 = agg(spark.read.parquet(*(os.path.join(base, p) for p in v0)))
    delta, n_files = _mv_delta(spark, base, log_dir, 1)
    assert n_files == 1  # preimage-free: only the appended file read
    got = (
        mv0.unionByName(delta)
        .groupBy("o_orderstatus")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("sum_cents").alias("sum_cents"),
        )
    )
    live = txn_log.snapshot(log_dir)
    want = agg(spark.read.parquet(*(os.path.join(base, p) for p in live)))
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_txn_log_partition_evolution_reads_only_matching_partition(
    spark, sf_dir
):
    """Per-spec planning mechanics: the result must equal the logical
    filter, AND the physical scan must never touch a gen-2 file of a
    different status (the prune is metadata equality on logged
    partition values), while touching ALL gen-1 bucket files (the old
    spec bounds nothing about status)."""
    from pyspark.sql import functions as F

    from streamingdemo_spark.io import load_tables

    df = QUERIES["src_txn_log_partition_evolution"](spark, sf_dir)
    want = (
        load_tables(spark, sf_dir, ("orders",))["orders"]
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    assert df.count() == want.count() > 0
    assert df.exceptAll(want).count() == 0
    files = df.inputFiles()
    assert any("gen1/b=" in f for f in files)
    assert any("o_orderstatus=F" in f for f in files)
    assert not any(
        "o_orderstatus=O" in f or "o_orderstatus=P" in f for f in files
    )
    assert len({f for f in files if "gen1/b=" in f}) >= 4


def test_txn_log_bloom_has_no_false_negatives_and_bounded_fp(
    spark, sf_dir
):
    """The bloom contract both ways: every custkey actually present
    in a file must hit that file's bloom (a false negative would
    silently drop rows — the one failure mode bloom skipping cannot
    have), and probing keys OUTSIDE the domain must miss most files
    (a saturated bloom is useless, not wrong — pinned so sizing
    regressions surface)."""
    import os

    from pyspark.sql import functions as F

    from streamingdemo_spark.plans.lakehouse import (
        _bloom_might_contain,
        _bloom_stage,
    )
    from streamingdemo_spark.plans import txn_log

    base, log_dir, m = _bloom_stage(spark, sf_dir)
    live = txn_log.snapshot(log_dir)
    hi_ck = 0
    for path, action in live.items():
        keys = [
            int(r["o_custkey"])
            for r in spark.read.parquet(os.path.join(base, path))
            .select("o_custkey")
            .distinct()
            .collect()
        ]
        hi_ck = max(hi_ck, max(keys))
        for k in keys:
            assert _bloom_might_contain(action, k), (path, k)
    probes = range(hi_ck + 1, hi_ck + 1 + 250)
    fp = sum(
        _bloom_might_contain(a, k) for k in probes for a in live.values()
    )
    assert fp / (250 * len(live)) < 0.15
    # absent index never skips
    assert _bloom_might_contain({"other": 1}, 123)


def test_embedding_dedup_plan_is_bucketed_not_cartesian(spark, sf_dir):
    """The sign-LSH near-dup plan must be a hash-partitioned band
    equi-join (candidates via bucket equality), never a cartesian or
    nested-loop pairing — the property that makes it O(n·bands·load)
    at 100 TB. The verify stage joins candidate ids back to vectors
    by key, so every join in the plan is hash-based."""
    from streamingdemo_spark.io import forget

    forget("emb_pairs")  # force a fresh plan (the held frame is
    # persisted, and its plan string would hide the join shape)
    plan = _plan(QUERIES["ext_dedup_embedding"](spark, sf_dir))
    forget("emb_pairs")  # unpersist this build's cached relations
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
        "BroadcastHashJoin" in plan  # fixture-sized side may broadcast
    )


def test_label_noise_ann_plan_is_bucketed_not_cartesian(spark, sf_dir):
    """The ANN label screen's candidate generation must pair vectors
    through (table, bucket) equality — hash joins only. The exact
    twin is allowed its all-pairs shape; this key is the production
    path and must never degenerate to it."""
    plan = _plan(QUERIES["ext_label_noise_ann"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan
