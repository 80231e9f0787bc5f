"""Plan-property tests: assert the PHYSICAL shape that makes each
operator scale, not just its output (VERDICT r1 item 7).

A query can be value-correct with a plan that dies at 100× data —
these tests pin the plan: pushdown reaches the parquet scan, column
pruning reaches ReadSchema, small dims broadcast, the theta join
runs on its banded equi-key, and the ntile ranking partitions by
bucket. Whether a registered key's plan contains a scale-killer
(``plans.scale_killers``) is the all-keys sweep's job
(tests/test_scale_sweep.py); the tests here pin what it cannot see.
"""

from __future__ import annotations

import re

import __spark_entry__ as entry
from pyspark.sql import functions as F

from conftest import _plan


def test_scan_pushdown_reaches_parquet(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_scan_pushdown")
    assert "PushedFilters: [" in plan
    assert "IsNotNull(l_shipdate)" in plan or "GreaterThanOrEqual" in plan


def test_partitioned_source_prunes_at_plan_time(spark, sf_dir):
    """q_source_partitioned_prune must carry its event_type predicate
    as a PartitionFilters entry on the scan (directory pruning), not
    a post-scan Filter over all partitions."""
    plan = _plan(spark, sf_dir, "q_source_partitioned_prune")
    pf = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "event_type" in pf, pf


def test_scan_projection_prunes_columns(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_scan_projection")
    # ReadSchema must carry only the two projected columns
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema


def test_broadcast_join_is_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_join_broadcast")
    assert "BroadcastHashJoin" in plan


def test_theta_join_is_not_nested_loop(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_join_theta")
    assert "__band" in plan  # the banded equi-join key is in play


def test_ntile_has_no_single_partition_window(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_win_ntile")
    # the ranking window must partition by the histogram bucket, and
    # nothing in the plan may funnel everything to one partition
    assert "hashpartitioning(__bucket" in plan


def test_topk_uses_take_ordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_topk_limit")
    assert "TakeOrderedAndProject" in plan


def test_multimodal_join_is_bucketed_zero_exchange(spark, sf_dir):
    """documents⋈embeddings is 1:1 table-to-table — broadcasting either
    side grows with the corpus. The co-bucketed sort-merge join must
    run with ZERO Exchange (bucket-local scans on both sides) and no
    broadcast of the embeddings relation."""
    plan = _plan(spark, sf_dir, "q_multimodal_cols")
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan
    assert "BroadcastHashJoin" not in plan
    assert plan.count("Bucketed: true") == 2


def test_dedup_clusters_never_broadcasts_cluster_sizes(spark, sf_dir):
    """component_size must come from a cluster-partitioned window, not
    a join against an O(#clusters) relation — #clusters is within a
    constant factor of #documents on a mostly-unique corpus, so a
    static broadcast of it melts the driver at scale. (AQE may still
    broadcast genuinely-small sides inside the LSH subplans — that's
    runtime-sized and reverts to shuffle at scale; the pinned property
    is that no join is keyed on cluster_id.)"""
    import re

    plan = _plan(spark, sf_dir, "q_dedup_clusters")
    assert re.search(r"Window \[count\(1\) windowspecdefinition\(cluster_id", plan)
    assert not re.search(r"Join \[cluster_id", plan)


def test_agg_hash_is_partial_final(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_agg_hash")
    # partial (map-side) aggregation must appear before the exchange
    assert plan.count("HashAggregate") >= 2


def test_plans_inspect_utilities(spark, sf_dir):
    """Dogfood spark_sklearn_spark.plans: pushdown/pruning extraction
    and the scale-killer assertion."""
    from spark_sklearn_spark.plans import (
        assert_scalable,
        pushed_filters,
        read_schema,
    )
    import pytest as _pytest

    qs = entry.queries()
    scan = qs["q_scan_pushdown"](spark, sf_dir)
    assert pushed_filters(scan), "expected filters pushed to parquet"
    proj = qs["q_scan_projection"](spark, sf_dir)
    assert set(read_schema(proj)) == {"l_orderkey", "l_quantity"}
    assert_scalable(qs["q_join_theta"](spark, sf_dir))
    with _pytest.raises(AssertionError, match="scale-killers"):
        assert_scalable(qs["q_join_cross"](spark, sf_dir))


def test_parse_filter_list_robustness():
    """The filter tokenizer must survive Spark's node-string quirks:
    commas inside filters, ellipsis truncation mid-list, ellipsis
    inside a complete filter, and the normal closing bracket."""
    from spark_sklearn_spark.plans.inspect import _parse_filter_list

    # commas inside a filter stay in one token
    assert _parse_filter_list(
        "GreaterThan(l_shipdate,1997-01-01 00:00:00.0)], ReadSchema: x"
    ) == ["GreaterThan(l_shipdate,1997-01-01 00:00:00.0)"]
    # truncated trailing token is discarded, not returned as garbage
    assert _parse_filter_list(
        "IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipda..."
    ) == ["IsNotNull(l_shipdate)"]
    # an abbreviated-but-complete filter containing dots is kept whole
    assert _parse_filter_list(
        "StringContains(p_name,...), IsNotNull(p_name)]"
    ) == ["StringContains(p_name,...)", "IsNotNull(p_name)"]
    # plain short list
    assert _parse_filter_list("IsNotNull(a), EqualTo(b,1)]") == [
        "IsNotNull(a)",
        "EqualTo(b,1)",
    ]


def test_window_partitions_parser():
    """window_partitions_from_text must distinguish the three Window
    node prints: [funcs], [partition], [order] (partitioned);
    [funcs], [order] (global running — order tokens present); and
    [funcs], [partition] (partition-only, no ORDER BY — the shape the
    r13 parser fix addressed: it was misread as global)."""
    from spark_sklearn_spark.plans.inspect import (
        window_partitions_from_text,
    )

    plan = "\n".join(
        [
            "+- Window [row_number() windowspecdefinition(user_id#2L,"
            " ts#3 ASC NULLS FIRST, specifiedwindowframe(RowFrame,"
            " unboundedpreceding$(), currentrow$())) AS rn#9],"
            " [user_id#2L], [ts#3 ASC NULLS FIRST]",
            "   +- Window [sum(f#17L) windowspecdefinition(v#16L ASC"
            " NULLS FIRST, specifiedwindowframe(RowFrame,"
            " unboundedpreceding$(), -1)) AS _we0#23L],"
            " [v#16L ASC NULLS FIRST]",
            "      +- Window [count(1) windowspecdefinition("
            "cluster_id#5L, specifiedwindowframe(RowFrame,"
            " unboundedpreceding$(), unboundedfollowing$()))"
            " AS csize#7L], [cluster_id#5L]",
        ]
    )
    assert window_partitions_from_text(plan) == [
        ["user_id"],
        [],
        ["cluster_id"],
    ]


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """Hive-style partitioned parquet (the lake layout for time-series
    facts): a filter on the partition column must become a
    PartitionFilter — pruned at file-listing time, before any IO —
    not a post-scan predicate."""
    from spark_sklearn_spark.sources.io import load, write_parquet

    o = load(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    path = str(tmp_path / "orders_by_year")
    write_parquet(o, path, partition_by=["o_year"])
    back = spark.read.parquet(path).filter(F.col("o_year") == 1997)
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    m = re.search(r"PartitionFilters: \[(.*?)\]", plan)
    assert m and "1997" in m.group(1), plan[:2000]
    assert back.count() > 0


def test_sample_hash_filter_reaches_scan_side(spark, sf_dir):
    """The deterministic sample predicate is codegen'd ahead of the
    aggregate — no join, no Python, no extra exchange beyond the
    group-by."""
    plan = _plan(spark, sf_dir, "q_sample_hash")
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_skew_join_salts_a_shuffled_hash_join(spark, sf_dir):
    """q_join_skew must go through the salt stage (not a broadcast,
    which would make the salting decorative): the executed plan shows
    a ShuffledHashJoin keyed on (k, __salt)."""
    plan = _plan(spark, sf_dir, "q_join_skew")
    assert "ShuffledHashJoin" in plan
    assert "__salt" in plan
    assert "BroadcastHashJoin" not in plan


def test_funnel_joins_carry_no_forced_broadcast(spark, sf_dir):
    """Funnel stage relations are user-cardinality, so the query must
    not FORCE a broadcast (no hint in the logical plan) — AQE is free
    to pick one at runtime when the stage output is actually small,
    which is the scale-safe behavior."""
    import __spark_entry__ as e

    df = e.queries()["q_funnel_ordered"](spark, sf_dir)
    logical = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in logical and "broadcast" not in logical.lower()


def test_chunk_and_quantize_stay_jvm_side(spark, sf_dir):
    """Chunking and quantization are pure projections: no shuffle
    beyond the final presentation sort, no Python evaluation."""
    for name in ("q_text_chunk", "q_emb_quantize"):
        plan = _plan(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        assert "Join" not in plan, name


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """Runtime bloom-filter join pruning: a selective filter on the
    dimension side injects might_contain(bloom_filter_agg(dim_keys))
    into the fact-side scan, dropping non-joining fact rows BEFORE
    the shuffle — the selective-join strategy at 100 TB when the dim
    is too big to broadcast but selective enough to sketch.
    Thresholds are lowered so the rewrite is observable at fixture
    scale; session confs are restored afterwards."""
    from spark_sklearn_spark.sources.io import load

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {}
    for k in confs:
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load(spark, sf_dir, "lineitem")
        o = load(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan and "bloom_filter_agg" in plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_quality_and_repetition_are_two_level_hash_aggs(spark, sf_dir):
    """q_quality_gate / q_text_repetition: explode → (doc, token|gram)
    agg → per-doc rollup. No joins, no windows, no Python crossings —
    the whole corpus pass must be combinable hash aggregation."""
    for name in ("q_quality_gate", "q_text_repetition"):
        plan = _plan(spark, sf_dir, name)
        assert "Join" not in plan, name
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_decontaminate_broadcasts_benchmark_ngrams(spark, sf_dir):
    """The benchmark n-gram set is the genuinely-small relation —
    it must broadcast; the corpus n-gram stream must never shuffle
    for the join itself."""
    plan = _plan(spark, sf_dir, "q_decontaminate")
    assert "BroadcastHashJoin" in plan


def test_pii_redact_is_pure_projection(spark, sf_dir):
    """Compliance scrubbing must stream at scan speed: no join, no
    aggregation, no Python — regex count/replace inside codegen."""
    plan = _plan(spark, sf_dir, "q_pii_redact")
    assert "Join" not in plan
    assert "HashAggregate" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ts_anomaly_window_is_user_partitioned(spark, sf_dir):
    """The trailing z-score frame must partition by user_id — a global
    ordered window would serialize the event stream."""
    plan = _plan(spark, sf_dir, "q_ts_anomaly")
    assert "hashpartitioning(user_id" in plan


def test_knn_batch_partitions_topk_by_query(spark, sf_dir):
    """Batched kNN: per-query top-k must be a window partitioned by
    query_id (parallel), never a single-partition sort of all scores.
    (The probe set ships inside the Arrow-task closure — see
    test_knn_batch_python_rows_are_bounded for the mapInPandas shape.)"""
    plan = _plan(spark, sf_dir, "q_sim_knn_batch")
    assert "hashpartitioning(query_id" in plan


def test_pack_sequences_window_is_shard_partitioned(spark, sf_dir):
    """Packing must run one cumsum per (source, shard) stream — the
    shard key is what keeps the concatenation order deterministic AND
    parallel; a global cumsum would be a single-partition window."""
    plan = _plan(spark, sf_dir, "q_pack_sequences")
    assert "hashpartitioning(source" in plan


def test_sample_temperature_broadcasts_rate_table(spark, sf_dir):
    """The per-source rate relation (#sources rows) broadcasts; the
    corpus side is one scan + one combinable rollup."""
    plan = _plan(spark, sf_dir, "q_sample_temperature")
    assert "BroadcastHashJoin" in plan


def test_emb_outliers_centroids_broadcast_and_label_topk(spark, sf_dir):
    """Centroids are (label, dim) cells — bounded, broadcastable; the
    distance agg must stay combinable and the top-k window label-
    partitioned."""
    plan = _plan(spark, sf_dir, "q_emb_outliers")
    assert "BroadcastHashJoin" in plan
    assert "hashpartitioning(label" in plan


def test_no_interpreted_lambda_in_filters(spark, sf_dir):
    """Generate (explode) pruning pushes `size(arr) > 0 AND
    isnotnull(arr)` into the scan Filter; when arr is an interpreted
    higher-order transform the filter re-evaluates it per row — with
    any upstream projection (e.g. split()) re-inlined per element.
    Measured 5-9× walls on the ngram queries. Pin: no Filter node may
    contain a lambda expression — the explode_outer + null-drop idiom
    keeps the transform in a Project."""
    for name in (
        "q_decontaminate",
        "q_text_repetition",
        "q_text_boilerplate",
        "q_dedup_ngram",
        "q_text_ngram_counts",
        "q_dedup_recall_minhash",
        "q_dedup_editdist",
        "q_dedup_simhash",
        "q_emb_dimstats",
        "q_emb_outliers",
    ):
        df = entry.queries()[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        for line in plan.splitlines():
            stripped = line.lstrip(" +-:*")
            if stripped.startswith("Filter") or stripped.startswith("PushedFilters"):
                assert "lambdafunction" not in line, (name, line[:300])


def test_bm25_and_pmi_end_in_take_ordered(spark, sf_dir):
    """Both retrieval-scoring queries finish with TakeOrderedAndProject
    (top-k, never a global sort)."""
    for name in ("q_text_bm25", "q_text_pmi"):
        plan = _plan(spark, sf_dir, name)
        assert "TakeOrderedAndProject" in plan, name


def test_knn_batch_python_rows_are_bounded(spark, sf_dir):
    """The batched kNN must prune to local top-k INSIDE the Arrow task:
    the plan is mapInPandas → window top-k, with no per-row JVM fold
    join (the broadcast-NLJ shape it replaced)."""
    plan = _plan(spark, sf_dir, "q_sim_knn_batch")
    assert "MapInPandas" in plan
    assert "hashpartitioning(query_id" in plan


def test_incremental_merge_is_all_hash_aggs(spark, sf_dir):
    """Snapshot ⊕ delta merge: two partial aggs + union + re-agg —
    no join, no window, every agg partial+final."""
    plan = _plan(spark, sf_dir, "q_agg_incremental")
    assert "Join" not in plan
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 4  # partial+final × (branch, merge)


def test_zorder_key_is_codegen_no_prekey_shuffle(spark, sf_dir):
    """The Morton key build must be pure projection (no Python, no
    join); the only exchanges are the bounded stats agg + final sort."""
    plan = _plan(spark, sf_dir, "q_layout_zorder")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in plan


def test_profile_table_avoids_expand_multi_distinct(spark, sf_dir):
    """The profiler's exact ndv must come from the (column, value)
    pre-aggregation, not Spark's expand-based multi-distinct (row
    multiplication + single-partition final agg)."""
    plan = _plan(spark, sf_dir, "q_profile_table")
    assert "Expand" not in plan
    assert plan.count("HashAggregate") >= 4  # partial+final × two levels


def test_split_train_is_single_scan_agg(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_split_train")
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_partial_agg_pruned_scan_and_pca_fit_snapshot_read(spark, sf_dir):
    """q_feat_mutual_info
    is the documented bounded-grid exemption (the Lloyd-shape
    precedent): everything past the one data-sized scan+partial-agg
    operates on the ≤|priorities|×|buckets| cell grid — the flagged
    BNLJ (constant-key 1-row n join) and SinglePartition exchange
    (global n agg) both run on that bounded relation, so the test
    instead asserts the scan side aggregates map-side (partial agg
    present) and reads only the two needed columns."""
    import os

    import __spark_entry__ as entry

    from spark_sklearn_spark.plans import executed_plan
    from spark_sklearn_spark.sources.io import warehouse_path

    qs = entry.queries()
    plan = executed_plan(qs["q_feat_mutual_info"](spark, sf_dir))
    assert "partial_count" in plan  # map-side combine before shuffle
    assert "o_orderpriority" in plan and "o_totalprice" in plan
    assert "o_orderdate" not in plan  # column pruning reached the scan
    # q_ml_permutation_test: same bounded exemption — the only BNLJ is
    # the 1-row observed-statistic join onto the 16-row rep relation;
    # the data-sized stage is one scan with a map-side combinable agg.
    plan = executed_plan(qs["q_ml_permutation_test"](spark, sf_dir))
    assert "partial_count" in plan
    assert "o_orderdate" not in plan
    # q_emb_isotropy: one aggregate over the memoized 4096-row cells
    # snapshot — the global agg's SinglePartition runs on a
    # constant-size relation (Lloyd-shape exemption).
    plan = executed_plan(qs["q_emb_isotropy"](spark, sf_dir))
    fit = os.path.basename(warehouse_path("pca_fit", sf_dir))
    assert f"pca_fit/{fit}/cells" in plan  # reads the shared fit snapshot


def test_gini_funnels_only_the_count_of_counts(spark, sf_dir):
    """q_behavior_gini's single-partition stage may hold ONLY the
    count-of-counts collapse: the user-grain agg must shuffle by
    user_id, a second x-grain re-agg must sit between it and the
    (single) SinglePartition exchange, and the cumulative window must
    be global over the collapsed relation — never over users."""
    from spark_sklearn_spark.plans import window_partitions

    df = entry.queries()["q_behavior_gini"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(user_id" in plan
    assert "hashpartitioning(x" in plan  # the bounded collapse shuffle
    assert plan.count("Exchange SinglePartition") == 1
    assert window_partitions(df) == [[]]  # one global window (on cc)


def test_heaps_funnels_only_the_bucket_curve(spark, sf_dir):
    """q_text_heaps_law's cumulative window must run on the ≤4096
    doc-bucket relation (a grouping-expression agg shuffles ahead of
    it); the only nested-loop join is the 1-row max-doc broadcast."""
    df = entry.queries()["q_text_heaps_law"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(_groupingexpression" in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1
    # doc-grain relations shuffle by doc_id / term (distributed);
    # nothing data-sized reaches the single-partition stages
    assert "hashpartitioning(doc_id" in plan
    assert "hashpartitioning(term" in plan


def test_isotropy_construction_is_lazy(spark, sf_dir):
    """n_vecs must be a count AGGREGATE in q_emb_isotropy's plan, not
    a baked-in driver-side literal (ADVICE r12: the eager .count()
    paid a full embeddings scan job on every query construction,
    including plan-only inspection; a literal in the plan is the
    fingerprint of that eager path). The memoized-fit parquet re-reads
    still cost metadata-only jobs — that's the snapshot design, not
    the regression this guards."""
    df = entry.queries()["q_emb_isotropy"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert not re.search(r"\b\d+ AS n_vecs", plan), "n_vecs is a literal"
    assert "count(1)" in plan


def test_cdc_chunking_stays_in_row(spark, sf_dir):
    """The cut must be the in-row form: no Window node (a doc-
    partitioned cumsum would shuffle every gram row) and no gram-
    grain generator — the only explode is the bounded per-doc chunk
    array (the CollapseProject inlining trap made the gram-grain
    posexplode re-run the interpreted hash transform per row:
    280 s vs ~2 s at sf0.1)."""
    plan = _plan(spark, sf_dir, "q_dedup_cdc")
    assert "Window" not in plan
    assert "posexplode" not in plan


def test_removal_effect_declared_plan_is_bounded_local(spark, sf_dir):
    """The declared DataFrame is the driver-side walk's bounded
    literal output (the corpus pass happened at construction inside
    the bounded collect): nothing in the declared plan may touch the
    corpus."""
    plan = _plan(spark, sf_dir, "q_behavior_removal_effect")
    assert "LocalTableScan" in plan or "Scan ExistingRDD" in plan
    assert "parquet" not in plan.lower()
