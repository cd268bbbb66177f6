"""Plan-shape contracts: the scale design is asserted, not assumed.

If any of these fail, results are probably still correct — but the plan has
regressed in a way that turns into a 10-100x slowdown at 100 TB (a filter
stops pushing down, a dim join stops broadcasting, the salted join
degenerates into a broadcast that hides the skew path being tested)."""

from __future__ import annotations

from pyspark.sql import functions as F

from lakesail_hdfs_deltalake_guide_spark.operators.relational import (
    flagship_customer_order_analysis,
    join_broadcast_nation_region,
)
from lakesail_hdfs_deltalake_guide_spark.operators.skew import (
    SALT_BUCKETS,
    skew_salted_agg_returnflag,
    skew_salted_join_events,
)
from lakesail_hdfs_deltalake_guide_spark.plans.inspect import (
    broadcast_join_count,
    codegen_stage_count,
    explain_str,
    has_pushed_filter,
    read_schema_columns,
    shuffle_count,
)
from lakesail_hdfs_deltalake_guide_spark.tables import load_table


def test_dim_joins_broadcast(spark, sf_smoke):
    assert broadcast_join_count(join_broadcast_nation_region(spark, sf_smoke)) >= 2
    assert broadcast_join_count(flagship_customer_order_analysis(spark, sf_smoke)) >= 1


def test_filter_pushes_to_scan(spark, sf_smoke):
    li = load_table(spark, sf_smoke, "lineitem")
    q = li.where(F.col("l_quantity") > 40).select("l_orderkey", "l_quantity")
    assert has_pushed_filter(q, "l_quantity")
    cols = read_schema_columns(q)
    assert set(cols) == {"l_orderkey", "l_quantity"}


def test_flagship_is_codegen_fused(spark, sf_smoke):
    df = flagship_customer_order_analysis(spark, sf_smoke)
    assert codegen_stage_count(df) >= 2  # scan+join fused, agg fused


def test_salted_agg_has_two_aggregation_exchanges_max(spark, sf_smoke):
    df = skew_salted_agg_returnflag(spark, sf_smoke)
    # (key,salt) partial + (key) final + orderBy range exchange — the salt
    # phase must not add more shuffles than that.
    assert shuffle_count(df) <= 3


def test_salted_join_spreads_hot_keys(spark, sf_smoke):
    plan = explain_str(skew_salted_join_events(spark, sf_smoke))
    assert "_salt" in plan
    # The dim side is exploded SALT_BUCKETS ways before the join.
    assert str(SALT_BUCKETS - 1) in plan


def test_embedding_dedup_has_no_cartesian_product(spark, sf_smoke):
    """dedup_embedding_cosine must draw candidates from the LSH bucket
    equi-join — an unbounded crossJoin over the embeddings table is the
    exact plan regression that dies at 100 TB."""
    from lakesail_hdfs_deltalake_guide_spark.operators.dedup import (
        dedup_embedding_cosine,
    )

    plan = explain_str(dedup_embedding_cosine(spark, sf_smoke))
    assert "CartesianProduct" not in plan


def test_minhash_no_repartition_when_well_split(spark, sf_smoke):
    """_sketch_parallel must be a no-op when the source already has enough
    splits (at 100 TB the scan arrives pre-split; inheriting the fixture
    repartition would shuffle the raw corpus for nothing)."""
    from lakesail_hdfs_deltalake_guide_spark.operators.dedup import (
        _sketch_parallel,
    )

    docs = load_table(spark, sf_smoke, "documents")
    wide = docs.repartition(spark.sparkContext.defaultParallelism * 2)
    assert _sketch_parallel(wide) is wide


def test_cached_table_plans_inmemory_scan(spark, sf_smoke):
    """df.cache(): downstream plans must read the InMemoryRelation, not
    re-scan parquet — the multi-query working-set pattern (a 100 TB scan
    amortized across N downstream aggregates)."""
    li = load_table(spark, sf_smoke, "lineitem").select(
        "l_returnflag", "l_quantity"
    )
    cached = li.cache()
    try:
        cached.count()  # materialize
        agg = cached.groupBy("l_returnflag").count()
        assert "InMemoryTableScan" in explain_str(agg)
    finally:
        cached.unpersist()


def test_hypertable_rollup_is_one_expand_one_agg_shuffle(spark, sf_smoke):
    """GROUPING SETS must plan a single Expand + one aggregation shuffle —
    three resolutions from ONE scan, not three scans/shuffles."""
    from lakesail_hdfs_deltalake_guide_spark.operators.hypertable import (
        hypertable_multires_rollup,
    )

    df = hypertable_multires_rollup(spark, sf_smoke)
    expand_nodes = [
        line
        for line in explain_str(df).splitlines()
        if line.strip().startswith("(") and ") Expand" in line
    ]
    assert len(expand_nodes) == 1
    # one exchange for the final hash agg + one for the output sort
    assert shuffle_count(df) <= 2


def test_pagerank_iterations_do_not_rescan_facts(spark, sf_smoke):
    """After the share-table localCheckpoint, the iteration plan must be
    fact-free: re-embedding the 4-way join would scan lineitem 3x."""
    from lakesail_hdfs_deltalake_guide_spark.operators.graph import (
        graph_pagerank_trade,
    )

    df = graph_pagerank_trade(spark, sf_smoke)
    plan = explain_str(df)
    assert "lineitem" not in plan and "orders" not in plan
    # rank vector joins are broadcasts, never shuffled sort-merge joins
    assert "SortMergeJoin" not in plan


def test_runtime_bloom_filter_injects_on_selective_join(spark, sf_smoke):
    """Spark's runtime Bloom-filter join pruning (AQE) engages on a
    selective fact⋈fact join once the size thresholds match the data —
    at 100 TB the defaults (10 GB application side) make this automatic;
    here the thresholds are scaled down to fixture size to pin the
    optimizer path."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtimeFilter.number.threshold": "10",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_smoke, "lineitem")
        o = load_table(spark, sf_smoke, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        opt = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom" in opt.lower()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_centroid_seeding_is_single_pass(spark, sf_smoke):
    """min_by seeding must not reintroduce the min-then-join-back third
    scan of the embeddings table."""
    from lakesail_hdfs_deltalake_guide_spark.operators.clustering import (
        cluster_centroid_assign,
    )

    plan = explain_str(cluster_centroid_assign(spark, sf_smoke))
    assert plan.count("embeddings.parquet") <= 2


def test_contamination_semi_join_broadcasts_bench_grams(spark, sf_smoke):
    from lakesail_hdfs_deltalake_guide_spark.operators.dedup import (
        dedup_ngram_contamination,
    )

    # the benchmark gram set must broadcast — the train side may never
    # shuffle its exploded grams for the semi-join
    assert broadcast_join_count(dedup_ngram_contamination(spark, sf_smoke)) >= 1


def test_boilerplate_prunes_to_two_columns(spark, sf_smoke):
    from lakesail_hdfs_deltalake_guide_spark.operators.dedup import (
        dedup_crossdoc_boilerplate,
    )

    cols = read_schema_columns(dedup_crossdoc_boilerplate(spark, sf_smoke))
    assert set(cols) == {"doc_id", "text"}


def test_scd2_uses_single_user_exchange(spark, sf_smoke):
    from lakesail_hdfs_deltalake_guide_spark.operators.temporal import (
        temporal_scd2_user_state,
    )

    # lag-flag + lead-close reuse one (user_id) sort/partitioning; the
    # only other exchange is the final global orderBy
    assert shuffle_count(temporal_scd2_user_state(spark, sf_smoke)) <= 2


def test_quality_funnel_is_single_aggregation_pass(spark, sf_smoke):
    from lakesail_hdfs_deltalake_guide_spark.operators.cleaning import (
        pipeline_quality_funnel,
    )

    # six stages, ONE scan. Two exchanges are correct-minimal: the plain
    # conditional counts fold in one partial+final pass, and the exact
    # COUNT(DISTINCT fp) stage needs its own repartition-by-fp — there is
    # no single-exchange plan for a global exact distinct count. The
    # third exchange is spread_compute's conditional fixture spread
    # (under-split single-file scan → repartition; a no-op at any real
    # split count, asserted by test_minhash_no_repartition_when_well_split).
    assert shuffle_count(pipeline_quality_funnel(spark, sf_smoke)) <= 3


def test_quantized_topk_has_no_cartesian_product(spark, sf_smoke):
    from lakesail_hdfs_deltalake_guide_spark.operators.similarity import (
        similarity_quantized_topk,
    )

    plan = similarity_quantized_topk(spark, sf_smoke)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "Broadcast" in plan, "query set must broadcast"


def test_asof_nearest_is_merge_based(spark, sf_smoke):
    """Nearest-error as-of must stay the two-frame window over ONE user
    exchange (+ the final orderBy) — a min-abs-delta join formulation
    would show a join product here."""
    from lakesail_hdfs_deltalake_guide_spark.operators.temporal import (
        temporal_asof_nearest,
    )

    df = temporal_asof_nearest(spark, sf_smoke)
    assert shuffle_count(df) <= 2
    assert "Join" not in explain_str(df)


def test_cms_probe_broadcasts_counter_grid(spark, sf_smoke):
    """The ≤ depth×width counter grid must broadcast to the probe side —
    shuffling the per-key probe rows against it would add a facts-sized
    exchange."""
    from lakesail_hdfs_deltalake_guide_spark.operators.stats import (
        stats_countmin_heavy_hitters,
    )

    df = stats_countmin_heavy_hitters(spark, sf_smoke)
    assert broadcast_join_count(df) >= 1
    assert shuffle_count(df) <= 3  # counter agg + exact-count agg (+ top-k)


def test_band_join_is_equi_not_theta(spark, sf_smoke):
    """The ±δ price band join must run as a bucket equi-join; a
    CartesianProduct or BroadcastNestedLoopJoin means the inequality
    leaked into the join condition (the O(n²) plan)."""
    from lakesail_hdfs_deltalake_guide_spark.operators.temporal import (
        range_band_price_pairs,
    )

    plan = explain_str(range_band_price_pairs(spark, sf_smoke))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "bucket" in plan


def test_triangle_census_joins_are_keyed(spark, sf_smoke):
    """Wedge/closure joins must be hash/sort-merge equi-joins on node
    keys. BroadcastNestedLoop appears ONLY for the final 1×1×1 crossJoin
    of the four single-row aggregates — never for the edge joins."""
    from lakesail_hdfs_deltalake_guide_spark.operators.graph import (
        graph_triangle_count,
    )

    plan = explain_str(graph_triangle_count(spark, sf_smoke))
    assert "CartesianProduct" not in plan
    # edge joins resolve as equi-joins (hash or sort-merge)
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_bloom_bitset_broadcasts(spark, sf_smoke):
    """Both small sides (bit-position table, exact fingerprint set) must
    broadcast; the train probe stream stays map-side."""
    from lakesail_hdfs_deltalake_guide_spark.operators.dedup import (
        dedup_bloom_contamination,
    )

    assert broadcast_join_count(dedup_bloom_contamination(spark, sf_smoke)) >= 2


def test_semdedup_has_no_unbounded_cartesian(spark, sf_smoke):
    """The only nested-loop allowed is the broadcast of the K-row
    centroid table; within-cluster pairs must come from the cid
    equi-join."""
    from lakesail_hdfs_deltalake_guide_spark.operators.dedup import (
        dedup_semdedup_clusters,
    )

    plan = explain_str(dedup_semdedup_clusters(spark, sf_smoke))
    assert "CartesianProduct" not in plan


def test_dml_candidate_scan_pushes_predicate(spark, sf_smoke):
    """Phase 1 of copy-on-write DML (find affected files) must push the
    row predicate into the parquet scan — the `_metadata.file_path`
    column must not break pushdown, or the discovery pass degrades to a
    full decode of every live file at 100 TB."""
    import tempfile

    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        _snapshot_scan_with_file,
        delta_write,
    )

    o = load_table(spark, sf_smoke, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    path = tempfile.mkdtemp(prefix="ls_plan_dml_")
    delta_write(o.repartition(4), path)
    _, scan, _, _, _ = _snapshot_scan_with_file(spark, path)
    phase1 = scan.where(F.col("o_totalprice") > 100000.0).select("__ls_file")
    assert has_pushed_filter(phase1, "o_totalprice")


def test_merge_discovery_prunes_to_key_columns(spark, sf_smoke):
    """MERGE phase 1 joins only (keys, file) against the source keys:
    column pruning must reach the target scan — hauling non-key columns
    through the semi join would scan the wide table twice."""
    import tempfile

    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        _snapshot_scan_with_file,
        delta_write,
    )

    c = load_table(spark, sf_smoke, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    path = tempfile.mkdtemp(prefix="ls_plan_mrg_")
    delta_write(c.repartition(4), path)
    _, scan, _, _, _ = _snapshot_scan_with_file(spark, path)
    src = c.select("c_custkey").where(F.col("c_custkey") % 3 == 0)
    phase1 = (
        scan.select("c_custkey", "__ls_file")
        .join(src.distinct(), on=["c_custkey"], how="left_semi")
        .select("__ls_file")
        .distinct()
    )
    cols = set(read_schema_columns(phase1))
    assert "c_custkey" in cols
    assert not {"c_name", "c_acctbal", "c_mktsegment"} & cols, cols


def test_dml_reads_only_unskippable_files_in_few_jobs(spark):
    """Warm MERGE of 1000 rows and a 0.5 % deletion-vector delete on a
    40-file table with key stats scan only the files those stats cannot
    skip: each op runs in a handful of Spark jobs, none of them the
    parallel file listing ``spark.read.parquet`` starts above 32 paths.
    The MERGE source is built from pandas through Arrow, as in the
    ``delta_rw`` benchmark, so the planner knows its size."""
    import tempfile
    import uuid

    import pandas as pd

    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_delete_dv,
        delta_merge,
        delta_write,
    )

    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()  # noqa: SLF001

    def jobs(op) -> tuple[list, int]:
        """(names of the jobs ``op()`` starts, how many list files)."""
        group = f"plan-dml-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "dml")
        try:
            op()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        ids = sc.statusTracker().getJobIdsForGroup(group)
        listing = [
            j
            for j in ids
            if "Listing leaf files" in str(store.job(j).description())
        ]
        return [store.job(j).name() for j in sorted(ids)], len(listing)

    path = tempfile.mkdtemp(prefix="ls_plan_dml_jobs_")
    table = spark.range(0, 40_000, 1, 40).select(
        F.col("id").alias("k"), (F.col("id") % 1000).alias("v")
    )
    delta_write(table, path, stats_cols=["k"])

    def merge(lo: int):
        keys = range(lo, lo + 1000)
        src = spark.createDataFrame(pd.DataFrame({"k": keys, "v": -1}))
        return lambda: delta_merge(spark, path, src, on=["k"])

    def delete_dv(lo: int, hi: int):
        return lambda: delta_delete_dv(spark, path, F.col("k").between(lo, hi))

    jobs(merge(39_500))  # warm-up: half updates, half inserts
    names, listing = jobs(merge(40_100))
    assert len(names) <= 9 and listing == 0, "\n".join(names)
    jobs(delete_dv(1_000, 1_099))  # gives the next delete a prior DV
    names, listing = jobs(delete_dv(1_050, 1_249))
    assert len(names) <= 5 and listing == 0, "\n".join(names)


def test_curation_pipelines_run_few_jobs_and_release_checkpoints(
    spark, sf_smoke, monkeypatch
):
    """One call of each curation pipeline runs in few Spark jobs; the
    batch capstone is one pass of the incremental pipeline's stages, so
    it takes at most five local checkpoints; and neither leaves an RDD
    of its own persisted, since its ledger rows are driver-side values.
    Earlier tests' leftovers may be cleaned during the call, so the
    check compares RDD ids, not counts."""
    import uuid

    from pyspark.sql import DataFrame

    from lakesail_hdfs_deltalake_guide_spark.pipelines import (
        pipeline_curation_e2e,
        pipeline_curation_incremental,
    )

    sc = spark.sparkContext

    def persisted() -> set[int]:
        return set(sc._jsc.getPersistentRDDs().keySet())  # noqa: SLF001

    checkpoints = []
    local_checkpoint = DataFrame.localCheckpoint

    def counted(df, *args, **kwargs):
        checkpoints.append(1)
        return local_checkpoint(df, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "localCheckpoint", counted)

    def jobs(pipeline) -> int:
        """How many jobs one call of ``pipeline`` starts."""
        group = f"plan-curation-{uuid.uuid4().hex}"
        before = persisted()
        sc.setJobGroup(group, "curation")
        try:
            pipeline(spark, sf_smoke).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert not persisted() - before, pipeline.__name__
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs(pipeline_curation_e2e) <= 26
    assert len(checkpoints) <= 5
    assert jobs(pipeline_curation_incremental) <= 61


def test_domain_filter_aggregates_before_global_window(spark, sf_smoke):
    """clean_domain_filter's corpus pass is ONE exchange (groupBy on the
    canonical domain); the global-total window runs on the per-domain
    aggregate (SinglePartition over O(domains) rows), never on the raw
    docs — and the scan reads only the three columns the operator needs."""
    from lakesail_hdfs_deltalake_guide_spark.operators.cleaning import (
        clean_domain_filter,
    )

    df = clean_domain_filter(spark, sf_smoke)
    plan = explain_str(df)
    agg_pos = plan.find("hashpartitioning(domain")
    single_pos = plan.find("SinglePartition")
    assert agg_pos != -1 and single_pos != -1
    # the single-partition stage sits AFTER the domain aggregation in
    # the detail listing (it consumes the per-domain rows, not the docs)
    assert single_pos > agg_pos
    cols = set(read_schema_columns(df))
    assert cols == {"doc_id", "text", "source"}, cols


def test_dv_read_is_broadcast_anti_join(spark):
    """A snapshot read over deletion vectors must apply them as a
    BROADCAST left-anti join on (file, row position): the DV side is
    O(deleted rows), and a shuffled anti-join would move the whole fact
    scan for a point-delete's worth of positions."""
    import tempfile

    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_delete_dv,
        delta_read,
        delta_write,
    )

    df = spark.range(500).select(F.col("id"), (F.col("id") * 3).alias("v"))
    path = tempfile.mkdtemp(prefix="ls_plan_dv_")
    delta_write(df.repartition(4), path, stats_cols=["id"])
    delta_delete_dv(spark, path, "id % 9 = 0")
    back = delta_read(spark, path)
    plan = explain_str(back)
    assert "LeftAnti" in plan
    assert broadcast_join_count(back) >= 1
    # the fact side must not gain an exchange for the anti-join
    assert shuffle_count(back) == 0


def test_fuzzy_containment_broadcasts_bench_side(spark, sf_smoke):
    """Both the benchmark gram set and the per-bench-doc sizes must
    broadcast; the only exchanges aggregate (train, bench) hit pairs —
    a shuffled bench join would move the train gram stream twice."""
    from lakesail_hdfs_deltalake_guide_spark.operators.dedup import (
        dedup_fuzzy_containment,
    )

    df = dedup_fuzzy_containment(spark, sf_smoke)
    assert broadcast_join_count(df) >= 2
    assert "CartesianProduct" not in explain_str(df)


def test_span_coverage_is_two_hash_aggs_no_pairs(spark, sf_smoke):
    """Span coverage must stay per-span/per-doc aggregation — never a
    doc×doc join: no cartesian, no theta join, shuffles bounded by the
    span-df agg + per-doc agg (+ sort)."""
    from lakesail_hdfs_deltalake_guide_spark.operators.dedup import (
        dedup_span_coverage,
    )

    df = dedup_span_coverage(spark, sf_smoke)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan
    assert shuffle_count(df) <= 4


def test_global_shuffle_shards_single_exchange(spark, sf_smoke):
    """Shard assignment + within-shard order + the aggregate must reuse
    ONE hash exchange on shard_id (plus the final tiny sort) — sharding
    100 TB must not shuffle twice."""
    from lakesail_hdfs_deltalake_guide_spark.operators.sampling import (
        sample_global_shuffle_shards,
    )

    df = sample_global_shuffle_shards(spark, sf_smoke)
    assert shuffle_count(df) <= 2


def test_rarity_join_stays_on_token_key(spark, sf_smoke):
    """The frequency probe joins on the token key with no cartesian and
    no text payload in the shuffle (ReadSchema carries doc_id + text
    only at the scan; the joins move token/count pairs)."""
    from lakesail_hdfs_deltalake_guide_spark.operators.text import (
        text_token_rarity_scores,
    )

    df = text_token_rarity_scores(spark, sf_smoke)
    assert "CartesianProduct" not in explain_str(df)


def test_bm25_small_sides_broadcast(spark, sf_smoke):
    """BM25's df table (|Q| rows) and the (L, N) scalar row must reach
    the tf frame as broadcasts — the only data-sized exchange is the
    (doc, term) tf aggregation. A sort-merge join here would shuffle
    the corpus-sized tf frame twice more at 100 TB."""
    from lakesail_hdfs_deltalake_guide_spark.operators.text import (
        text_bm25_rank,
    )

    df = text_bm25_rank(spark, sf_smoke)
    assert broadcast_join_count(df) >= 2
    assert "SortMergeJoin" not in explain_str(df)


def test_group_disjoint_split_aggregates_before_tagging(spark, sf_smoke):
    """The split tag must be derived AFTER the per-source rollup: the
    plan holds exactly the source rollup exchange + the O(sources)
    split rollup (+ final sort), and the text column never leaves the
    scan."""
    from lakesail_hdfs_deltalake_guide_spark.operators.sampling import (
        sample_group_disjoint_split,
    )

    df = sample_group_disjoint_split(spark, sf_smoke)
    assert shuffle_count(df) <= 3
    assert "text" not in read_schema_columns(df)


def test_semantic_chunking_windows_are_doc_partitioned(spark, sf_smoke):
    """chunk_semantic_boundaries must never compile an unpartitioned
    window: every window (lag, running boundary count, within-segment
    row number) is keyed by doc_id — the plan may not contain a
    SinglePartition exchange anywhere, at any corpus size."""
    from lakesail_hdfs_deltalake_guide_spark.operators.chunking import (
        chunk_semantic_boundaries,
    )

    plan = explain_str(chunk_semantic_boundaries(spark, sf_smoke))
    assert "SinglePartition" not in plan
    assert "hashpartitioning(doc_id" in plan


def test_hard_negatives_reads_prune_and_stay_bounded(spark, sf_smoke):
    """similarity_hard_negatives embeds two corpus passes (IVF pool +
    MinHash state); the embeddings scan must read only vec_id+embedding
    and the plan must not contain a cartesian product."""
    from lakesail_hdfs_deltalake_guide_spark.operators.similarity import (
        similarity_hard_negatives,
    )

    plan = explain_str(similarity_hard_negatives(spark, sf_smoke))
    assert "CartesianProduct" not in plan


def test_cross_modal_routing_broadcasts_centroids(spark, sf_smoke):
    """multimodal_text_frame_topk routes frames to cells via a BROADCAST
    join against the 8-row centroid table — the frame side must never
    shuffle for the assignment, and no cartesian product may appear."""
    from lakesail_hdfs_deltalake_guide_spark.operators.multimodal import (
        multimodal_text_frame_topk,
    )

    df = multimodal_text_frame_topk(spark, sf_smoke)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan
    # the conditionless centroid join plans as BroadcastNestedLoopJoin
    # (8 centroid rows broadcast); the probed-cell equi-join is eligible
    # for AQE broadcast at runtime — the static gate is: the centroid
    # assignment must be broadcast, never an exchange of the frame side
    assert "BroadcastNestedLoopJoin" in plan or broadcast_join_count(df) >= 1


def test_binary_hamming_broadcasts_queries_only(spark, sf_smoke):
    """The binary-ANN scan must broadcast the QUERY side (tiny sign
    words) and never exchange the corpus before the candidate window:
    one broadcast join, and shuffles bounded by the two row_number
    windows + final sort — a corpus-side pre-join exchange would read
    as an extra shuffle."""
    from lakesail_hdfs_deltalake_guide_spark.operators.similarity import (
        similarity_binary_hamming_topk,
    )

    q = similarity_binary_hamming_topk(spark, sf_smoke)
    # the query block joins with no equi-key (scored against every
    # corpus row), so it plans as a broadcast NESTED LOOP join —
    # broadcast_join_count only counts BroadcastHashJoin
    assert "BroadcastExchange" in explain_str(q)
    assert shuffle_count(q) <= 3, explain_str(q)[:2000]


def test_secret_scan_is_map_plus_single_rollup(spark, sf_smoke):
    """The secret scan is a pure scan-side pass: exactly one exchange
    (the |sources|-row rollup), no joins, and only the referenced
    columns read from parquet."""
    from lakesail_hdfs_deltalake_guide_spark.operators.cleaning import (
        clean_secret_entropy_scan,
    )

    q = clean_secret_entropy_scan(spark, sf_smoke)
    # final orderBy adds a range exchange on 20 rows; scan-side work
    # contributes exactly the one partial+final aggregate exchange
    assert shuffle_count(q) <= 2, explain_str(q)[:2000]
    cols = read_schema_columns(q)
    assert set(cols) <= {"doc_id", "source", "text"}


def test_ivf_binary_joins_on_centroid_id(spark, sf_smoke):
    """The composed IVF x binary plan must route through the
    centroid_id equi-join (a SortMergeJoin/ShuffledHashJoin on
    centroid_id or a broadcast of the probed query block) — never a
    cartesian product of queries x corpus."""
    from lakesail_hdfs_deltalake_guide_spark.operators.similarity import (
        similarity_ivf_binary_topk,
    )

    q = similarity_ivf_binary_topk(spark, sf_smoke)
    plan = explain_str(q)
    assert "CartesianProduct" not in plan
    assert "centroid_id" in plan


def test_lpa_edge_frame_is_checkpointed_once(spark, sf_smoke):
    """LPA's three supersteps must run on the localCheckpointed kNN
    edge frame: the fact-table joins appear ONCE (via the checkpoint
    scan), not re-embedded per round."""
    from lakesail_hdfs_deltalake_guide_spark.operators.graph import (
        graph_label_propagation,
    )

    q = graph_label_propagation(spark, sf_smoke)
    plan = explain_str(q)
    # the lineitem/orders fact join would reappear per round without
    # the checkpoint; after it, no parquet fact scan is in the plan
    assert "lineitem" not in plan.lower()


def test_sq_perdim_broadcasts_range_and_queries_only(spark, sf_smoke):
    """SQ8/ADC: the trained 2x64 range row and the query block must
    BROADCAST; the corpus side must never shuffle into a sort-merge
    join (the brute-force-shape contract of the quantization ladder)."""
    from lakesail_hdfs_deltalake_guide_spark.operators.similarity import (
        similarity_sq_perdim_topk,
    )

    plan = explain_str(similarity_sq_perdim_topk(spark, sf_smoke))
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_hll_rolling_has_no_self_join(spark, sf_smoke):
    """The rolling merge must be the map-side fan-out (explode to
    target days), NOT a windowed self-join of daily sketches: exactly
    zero joins between two events scans."""
    from lakesail_hdfs_deltalake_guide_spark.operators.stats import (
        stats_hll_rolling,
    )

    plan = explain_str(stats_hll_rolling(spark, sf_smoke))
    # the only join is the final 30-row rolled-vs-truth combine; the
    # sketch side itself must show the explode (Generate), not a join
    assert "Generate explode" in plan or "Generate" in plan
    assert plan.count("SortMergeJoin") <= 1


def test_attribution_single_user_exchange(spark, sf_smoke):
    """First/last/linear/position credit must reuse ONE user_id hash
    partitioning for the conversion aggregate, journey join, and
    position windows — no per-model re-shuffle of the events scan."""
    from lakesail_hdfs_deltalake_guide_spark.operators.sessions import (
        session_attribution_models,
    )

    plan = explain_str(session_attribution_models(spark, sf_smoke))
    assert plan.count("hashpartitioning(user_id") <= 3, plan[:0] or (
        "events must not re-exchange per attribution model"
    )


# --- Registry-wide global-window lint (r14, VERDICT r13 item 2) -------------
#
# Every query whose ANALYZED plan contains a Window with an empty partition
# spec must either declare its bound (orderBy().limit(k) below the window —
# the DSIR / TakeOrderedAndProject pattern) or appear here with a reason why
# its global window is over a bounded DOMAIN (a grid/strata/cell frame whose
# size is a constant of the query, not of the data). Catalyst's
# InferWindowGroupLimit happens to rescue filter-on-rank formulations today,
# but the repo contract is that the bound is declared in the code, not
# recovered by an optimizer rule that a conf can disable. This lint failed
# on graph_fof_recommendations / graph_adamic_adar / sample_priority_topk
# before their r14 fix and passes after.

GLOBAL_WINDOW_BOUNDED_DOMAIN = {
    # 12-month / day / hour / week grids (calendar-bounded frames)
    "monthly_revenue_growth": "lag/cumsum over the 12-month grid",
    "stats_runs_test": "runs over the 12-month revenue sequence",
    "window_new_users_daily": "cumsum over the day grid",
    "stats_cusum_changepoint": "cusum + argmax over the hour grid",
    "stats_autocorr_lags": "lead(k) over the hour grid",
    "stats_survival_km": "KM product over the lifetime-day grid",
    "session_churn_hazard": "cumsum over the lifetime-week grid",
    "ts_kmv_rolling_distinct": "7-day rolling merge over the day grid",
    # K-cell / K-stratum frames (constant-size aggregates)
    "stats_chi2_independence": "margin sums over the R*C contingency cells",
    "stats_cramers_v": "margin sums over the R*C contingency cells",
    "session_markov_stationary": "state index over the K event types",
    "sample_neyman_allocation": "largest-remainder over the 5 strata",
    "sample_temperature_mix": "share normalization over the source strata",
    "sample_doremi_weights": "weight normalization over the source strata",
    "sample_unimax_allocation": "water-filling over the language strata",
    "stats_bh_fdr": "rank over the ~25 brand hypotheses",
    "stats_bootstrap_ci": "percentile over the B resample replicates",
    "stats_sprt_daily_peeks": "cumulative LLR over the day grid",
    "stats_theil_sen": "median over the C(12,2) month-pair slopes",
    "clean_t_closeness_audit": "EMD over the bounded quasi-class grid",
    "graph_association_rules": "rank over support-thresholded rule set",
    # 10-row decile tables (the decile CUT itself is the distributed
    # exact_ntile from operators/ranks.py — only the cumsum over the
    # ten resulting rows is a global window)
    "profile_vocab_growth": "cumsum over the 10 decile rows",
    "profile_token_lorenz": "cumsum over the 10 decile rows",
}
# r14 note: stats_ks_two_sample / stats_mann_whitney (distributed
# prefix sum + declared-bound argmax) and clean_domain_filter
# (broadcast 1-row total) were converted OFF this whitelist — see
# operators/ranks.py and the round-14 SCALE.md entry.


def test_no_undeclared_global_windows_registry_wide(spark, sf_smoke):
    from lakesail_hdfs_deltalake_guide_spark.plans.inspect import (
        undeclared_global_windows,
    )
    from lakesail_hdfs_deltalake_guide_spark.registry import build_registry

    offenders = {}
    for name, q in build_registry().defs.items():
        off = undeclared_global_windows(q.fn(spark, sf_smoke))
        if off:
            offenders[name] = off[0]
    unexpected = sorted(set(offenders) - set(GLOBAL_WINDOW_BOUNDED_DOMAIN))
    stale = sorted(set(GLOBAL_WINDOW_BOUNDED_DOMAIN) - set(offenders))
    assert not unexpected, (
        "global Window without a declared bound (add orderBy().limit(k) "
        f"below the window, or whitelist with a domain reason): "
        f"{ {n: offenders[n] for n in unexpected} }"
    )
    assert not stale, f"whitelist entries no longer needed: {stale}"


def test_fixed_topk_queries_declare_their_bound(spark, sf_smoke):
    """The three r13-flagged top-k queries now rank only limit-k survivors:
    analyzed plan shows Window over GlobalLimit, physical plan shows
    TakeOrderedAndProject feeding the rank window."""
    from lakesail_hdfs_deltalake_guide_spark.operators.graph import (
        graph_adamic_adar,
        graph_fof_recommendations,
    )
    from lakesail_hdfs_deltalake_guide_spark.operators.sampling import (
        sample_priority_topk,
    )
    from lakesail_hdfs_deltalake_guide_spark.plans.inspect import (
        undeclared_global_windows,
    )

    for fn in (
        graph_fof_recommendations,
        graph_adamic_adar,
        sample_priority_topk,
    ):
        df = fn(spark, sf_smoke)
        assert not undeclared_global_windows(df)
        assert "TakeOrderedAndProject" in explain_str(df, "simple")


def test_wedge_selfjoin_reuses_leg_exchange(spark, sf_smoke):
    """The wedge kernel's pair-emission self-join keeps both sides
    column-identical so the legs prelude (adjacency joins + rank
    window) plans to ONE shuffle that both sides reuse. The r15
    mid-round regression was exactly this breaking: a degree column on
    one side only let column pruning differentiate the subtrees, the
    planner broadcast the slimmer side, and the prelude ran twice
    (3.7x vs pin). ReusedExchange in the executed plan is the
    invariant; the SHUFFLE_HASH hint keeps the join off the broadcast
    path without the two sorts a MERGE join would add on the reused
    shuffle output (measured 11.33 s merge vs 7.18 s shuffled-hash at
    sf0.1)."""
    from lakesail_hdfs_deltalake_guide_spark.operators.graph import (
        graph_adamic_adar,
        graph_fof_recommendations,
    )

    for fn in (graph_fof_recommendations, graph_adamic_adar):
        df = fn(spark, sf_smoke)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ReusedExchange" in plan, fn.__name__
        assert "ShuffledHashJoin" in plan, fn.__name__


def test_curation_gate_is_per_row_and_band_scan_reads_band_keys(
    spark, sf_smoke, tmp_path
):
    """The curation stage-1 gate is a per-row predicate (no shuffle),
    and the incremental pipeline's band-side state scan reads only
    doc_id and the persisted band keys, never the signatures."""
    from lakesail_hdfs_deltalake_guide_spark.pipelines import (
        _curation_band_keys,
        _curation_band_rows,
        _curation_quality_ok,
        _curation_sig,
    )
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_read,
        delta_write,
    )

    docs = load_table(spark, sf_smoke, "documents")
    gate = docs.where(_curation_quality_ok(F.col("text"))).select("doc_id")
    assert shuffle_count(gate) == 0
    state = str(tmp_path / "state_sigs")
    delta_write(
        docs.where(F.col("doc_id") < 40)
        .select("doc_id", _curation_sig().alias("sig"))
        .withColumn("bands", _curation_band_keys()),
        state,
    )
    band_side = _curation_band_rows(delta_read(spark, state))
    assert read_schema_columns(band_side) == ["doc_id", "bands"]
