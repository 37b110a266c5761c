"""Physical-plan audits: the plan shapes that matter at 100 TB.

- dimension joins must be broadcast (no shuffle of the fact side)
- parquet scans must show pushed filters and pruned schemas
- aggregations must be partial (map-side combine) before the shuffle
- the linking stage must not shuffle after its repartition(conv_id)
"""

from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from grisp_spark.plans import physical_plan as _plan


def test_broadcast_dim_join_is_broadcast(spark, sf_dir):
    df = entry_mod.queries()["q03_broadcast_dim_join"](spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_filter_pushdown_and_pruning(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    df = li.filter(F.col("l_shipdate") <= "1998-09-02").select(
        "l_returnflag", "l_quantity"
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan or "LessThanOrEqual(l_shipdate" in plan
    # column pruning: scan must not read more than the 3 needed columns
    read_schema = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "l_extendedprice" not in read_schema
    assert "l_returnflag" in read_schema


def test_partial_aggregation(spark, sf_dir):
    df = entry_mod.queries()["q01_pricing_summary"](spark, sf_dir)
    plan = _plan(df)
    # partial + final hash aggregate around one shuffle
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan or "partial" in plan.lower()


def test_semi_join_stays_semi(spark, sf_dir):
    df = entry_mod.queries()["q04_semi_join"](spark, sf_dir)
    assert "LeftSemi" in _plan(df)


def test_linking_stage_single_shuffle(spark):
    """The fused detect+link stage must shuffle exactly once (the
    repartition by conv_id) — broadcast gazetteer means no join
    exchanges."""
    from grisp_spark.kg import datagen, linking

    datagen.write_dataset("/root/repo/.data/plan_probe", seed=3, n_convs=10)
    conv = spark.read.parquet("/root/repo/.data/plan_probe/conversations.parquet")
    kb = {
        n: spark.read.parquet(f"/root/repo/.data/plan_probe/{n}.parquet")
        for n in ("entities", "aliases", "label_stats")
    }
    gaz_bc, evec_bc = linking.build_broadcasts(spark, kb)
    linked = linking.link_mentions(conv, gaz_bc, evec_bc, 8)
    plan = _plan(linked)
    assert plan.count("Exchange") == 1, plan
    assert "MapInPandas" in plan


def test_session_scale_confs(spark):
    """The skew/scale posture the north rule requires must be ON in
    every session this package builds: AQE (runtime re-plan), AQE
    skew-join split, partition coalescing, Arrow for pandas UDFs,
    and the pinned UTC zone the oracle comparison depends on."""
    conf = spark.conf
    assert conf.get("spark.sql.adaptive.enabled") == "true"
    assert conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    assert conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true"
    assert conf.get("spark.sql.execution.arrow.pyspark.enabled") == "true"
    assert conf.get("spark.sql.session.timeZone") == "UTC"


def test_aqe_splits_skewed_join(spark):
    """Hot-key skew (the north rule's explicit concern) must be split
    at runtime by AQE: a join where 90% of rows share one key gets
    SortMergeJoin(skew=true) + a skewed AQEShuffleRead in the FINAL
    adaptive plan. Thresholds are shrunk so the split triggers at
    test scale; production uses the session defaults."""
    overrides = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    saved = {k: spark.conf.get(k, None) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        a = spark.range(400000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0)).otherwise(F.col("id")).alias("k"),
            F.concat(F.lit("payload-"), F.col("id").cast("string")).alias("pa"),
        )
        b = spark.range(2000).select(F.col("id").alias("k"), F.lit("dim").alias("pb"))
        j = a.join(b, "k").groupBy().count()
        # collect() finalizes THIS QueryExecution's adaptive plan
        assert j.collect()[0]["count"] == 360200
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
        assert "skewed" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_kb_bootstrap_no_single_partition_window(spark, sf_dir):
    """VERDICT r5 #2 + r6 #2: the flagship KB's dense-id assignment
    must not funnel the sense table through one task, and its
    parallelism must be range-BALANCED, not bounded by the hottest
    key prefix. _dense_ids range-partitions by the order columns
    (Exchange rangepartitioning — true zipWithIndex layout) and ranks
    within the stamped partition id via the stateful Arrow pass; the
    physical plan of BOTH flagship modes must contain the range
    exchange and the MapInPandas node, no Exchange SinglePartition
    anywhere (an unpartitioned window is exactly an Exchange
    SinglePartition followed by WindowExec), and — the late-r7
    single-shuffle pin — no second exchange on the stamped partition
    id (the old window shape re-shuffled hashpartitioning(_pid))."""
    from grisp_spark import queries_kg

    for build in (queries_kg._centroid_corpus_kb, queries_kg._prior_corpus_kb):
        _conv, kb = build(spark, sf_dir)
        plan = _plan(kb["entities"])
        assert "Exchange SinglePartition" not in plan, plan
        assert "MapInPandas" in plan, plan  # the Arrow rank pass
        assert "Exchange rangepartitioning" in plan, plan
        assert "Exchange hashpartitioning(_pid" not in plan, plan
        # the prior KB's min_eid used to be a min() window — its
        # hashpartitioning(label) exchange now rides the same Arrow
        # pass via group_min; neither entities frame windows at all
        assert "Window" not in plan, plan
    # and the final triples plan stays funnel-free too
    for q in ("q37_kg_triples_flagship", "q38_kg_triples_prior"):
        plan = _plan(entry_mod.queries()[q](spark, sf_dir))
        assert "Exchange SinglePartition" not in plan, plan


def test_neardup_lsh_is_equijoin(spark, sf_dir):
    """dd07's candidate generation must be a bucket equi-join — the
    O(n²) theta-join shape (BroadcastNestedLoopJoin / CartesianProduct)
    is allowed only in the dd06 baseline."""
    df = entry_mod.queries()["dd07_embed_neardup_lsh"](spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan, plan


def test_simhash_no_bit_explosion(spark, sf_dir):
    """dd05: exactly one Generate (the token explode) — the per-bit
    posexplode would inflate pre-shuffle rows 32×; bit votes are
    aggregate expressions over the packed md5 int instead."""
    df = entry_mod.queries()["dd05_simhash"](spark, sf_dir)
    plan = _plan(df)
    assert plan.count("Generate") == 1, plan
    # r8: with the small-scan fan-out keyed on doc_id, BOTH aggregation
    # steps ((doc_id, token) counts, then doc votes) satisfy their
    # clustering from the one REPARTITION_BY_NUM exchange — the plan
    # carries a single hash exchange total (was 2 agg exchanges before
    # the fan-out; without it, at production scale, the two agg
    # exchanges come back and the old bound applies)
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert plan.count("REPARTITION_BY_NUM") == 1, plan


def test_adjacency_single_shuffle(spark, sf_dir):
    """A5 adjacency: one shuffle for the groupBy, nothing else."""
    df = entry_mod.queries()["q08_adjacency_out"](spark, sf_dir)
    plan = _plan(df)
    # one hash-partition exchange for the agg (degree is derived from
    # the collected set, not a second distinct aggregate) + one range
    # exchange for the orderBy (presentation only)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("partial_collect_set") == 1


def test_driver_graph_paths_build_local_relations(spark):
    """r8: the driver fast paths of resolve_chains and
    connected_components must return Arrow-built LocalTableScan frames.
    The list-of-tuples createDataFrame overload compiles to a PythonRDD
    whose scan tasks each require a pickle-mode python worker — a
    32-fork spawn storm serialized on the SparkEnv.createPythonWorker
    monitor, measured at 1.2-4.6 s inside q13's timed window."""
    from grisp_spark.operators.closure import connected_components, resolve_chains

    edges = spark.range(6).selectExpr("id AS src", "id + 1 AS dst")
    chains = resolve_chains(edges)
    assert {(r.src, r.terminal) for r in chains.collect()} == {
        (i, 6) for i in range(6)
    }
    plan = _plan(chains)
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan

    comps = connected_components(edges)
    assert {(r.id, r.component) for r in comps.collect()} == {
        (i, 0) for i in range(7)
    }
    plan = _plan(comps)
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan


def test_ivf_kmeans_centroids_build_local_relation(spark):
    """The trained k-means centroids enter the plan as an Arrow-built
    LocalTableScan, not a PythonRDD (the pickle-worker spawn storm of
    test_driver_graph_paths_build_local_relations)."""
    from grisp_spark.operators.similarity import topk_ivf

    emb = spark.range(40).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.sin((F.col("id") + 1) * (d + 1)) for d in range(8)]).alias("embedding"),
    )
    df = topk_ivf(emb, n_queries=2, k=3, dim=8, n_cells=2, centroids="kmeans")
    assert df.count() > 0
    plan = _plan(df)
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan
