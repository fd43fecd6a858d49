"""_min_label_propagate: shared connected-components helper."""

from __future__ import annotations

import warnings

import pytest


def _chain_pairs(spark, n):
    # path graph 0-1-2-...-n: diameter n, worst case for propagation
    return spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "a LONG, b LONG"
    )


def test_chain_converges_to_single_component(spark):
    from flights_etl_pipeline_spark.plans.queries_dedup import (
        _min_label_propagate,
    )

    labels = _min_label_propagate(_chain_pairs(spark, 6)).collect()
    assert len(labels) == 7
    assert {r["comp"] for r in labels} == {0}


def test_round_cap_warns_instead_of_silent_partial(spark):
    from flights_etl_pipeline_spark.plans.queries_dedup import (
        _min_label_propagate,
    )

    with pytest.warns(RuntimeWarning, match="without converging"):
        labels = _min_label_propagate(
            _chain_pairs(spark, 8), max_rounds=2
        ).collect()
    # partial labels really are partial -- the far end of the chain
    # has not seen label 0 yet
    assert {r["comp"] for r in labels} != {0}


def test_converged_run_does_not_warn(spark):
    from flights_etl_pipeline_spark.plans.queries_dedup import (
        _min_label_propagate,
    )

    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        _min_label_propagate(_chain_pairs(spark, 3)).collect()


def _union_find_components(edges):
    parent = {v: v for e in edges for v in e}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # union by min root: every root is its component's minimum
    return {v: find(v) for v in parent}


def test_random_graphs_match_union_find(spark):
    """Property check: on random edge lists the distributed min-label
    propagation must produce exactly the components a pure-Python
    union-find derives (comp = min node id of the component). The
    lists keep self-pairs ``(a, a)``, duplicate pairs and reversed
    pairs, which the edge set's self-loops and ``distinct`` must
    absorb."""
    import random

    from flights_etl_pipeline_spark.plans.queries_dedup import (
        _min_label_propagate,
    )

    for seed in range(6):
        rng = random.Random(0xC0FFEE + seed)
        for _ in range(2):
            n_nodes = rng.randint(2, 16)
            edges = [
                (rng.randrange(n_nodes), rng.randrange(n_nodes))
                for _ in range(rng.randint(1, 18))
            ]
            a, b = edges[0]
            edges += [(a, a), (a, b), (b, a)]
            rng.shuffle(edges)

            df = spark.createDataFrame(edges, "a LONG, b LONG")
            got = {
                r["id"]: r["comp"]
                for r in _min_label_propagate(df).collect()
            }
            want = _union_find_components(edges)
            assert got == want, (seed, edges, got, want)


def _seq(jseq):
    return [jseq.apply(i) for i in range(jseq.length())]


def test_round_reads_edges_and_labels_once(spark):
    """Over a checkpointed edge set and checkpointed labels, one round's
    physical plan has exactly two leaves, both ExistingRDD scans: the
    edges and the labels. A second read of the labels (the old-label
    union branch) would run their shuffle twice in every fused job."""
    from flights_etl_pipeline_spark.plans.queries_dedup import (
        _propagate_edges,
        _propagate_round,
        _seed_labels,
    )

    edges = _propagate_edges(_chain_pairs(spark, 4)).localCheckpoint()
    labels = _seed_labels(edges).localCheckpoint()
    plan = _propagate_round(edges, labels)._jdf.queryExecution().sparkPlan()
    leaves = _seq(plan.collectLeaves())
    assert [leaf.nodeName() for leaf in leaves] == ["Scan ExistingRDD"] * 2
    outputs = sorted(
        sorted(a.name() for a in _seq(leaf.output())) for leaf in leaves
    )
    assert outputs == [["comp", "id"], ["dst", "src"]]


def test_fuzzy_clusters_task_budget(spark):
    """fuzzy_customer_clusters at sf0.01 under the default shuffle
    width runs at most the measured number of tasks inside the query
    function. A persisted edge set keeps its last shuffle's
    ``spark.sql.shuffle.partitions`` partitions (AQE does not coalesce
    a cached plan's final stage), and every round then runs that many
    near-empty tasks; the checkpointed edges and labels coalesce to
    one partition at this size. The only stages that scale with the
    cores are the two around the canopy's ``defaultParallelism``
    repartition."""
    from conftest import SF_ORACLE

    from flights_etl_pipeline_spark.plans.queries_dedup import (
        fuzzy_customer_clusters,
    )
    from flights_etl_pipeline_spark.session import DEFAULT_SHUFFLE_PARTITIONS

    sc = spark.sparkContext
    key = "spark.sql.shuffle.partitions"
    width = spark.conf.get(key)
    spark.conf.set(key, str(DEFAULT_SHUFFLE_PARTITIONS))
    group = "test_label_propagation.fuzzy_customer_clusters"
    sc.setJobGroup(group, group)
    try:
        fuzzy_customer_clusters(spark, SF_ORACLE)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        spark.conf.set(key, width)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    tasks = 0
    for job in tracker.getJobIdsForGroup(group):
        for stage in tracker.getJobInfo(job).stageIds:
            info = tracker.getStageInfo(stage)
            if info is not None:
                tasks += info.numCompletedTasks
    # measured at local[4]: 20 one-task stages and two 4-task stages
    budget = 20 + 2 * sc.defaultParallelism
    assert tasks <= budget, (tasks, budget)
