"""Connected-components clustering + MERGE upsert semantics."""

from __future__ import annotations

from pyspark.sql import functions as F

from cs422pp_mapreduce_spark.operators import maintenance as MT
from cs422pp_mapreduce_spark.operators.dedup import connected_components


def _cc(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {
        (r.node, r.comp) for r in connected_components(df).collect()
    }


def test_cc_chain_collapses_to_min_label(spark):
    # a chain needs label propagation across hops, not just one join
    got = _cc(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (5, 1)}


def test_cc_separate_components_stay_separate(spark):
    got = _cc(spark, [(10, 11), (20, 21), (21, 22)])
    assert got == {(10, 10), (11, 10), (20, 20), (21, 20), (22, 20)}


def test_cc_direction_and_duplicates_irrelevant(spark):
    # reversed edges and repeated edges give the same components
    got = _cc(spark, [(5, 1), (1, 5), (5, 3), (3, 1)])
    assert got == {(1, 1), (3, 1), (5, 1)}


def _cc_star(spark, edges, stats=None):
    from cs422pp_mapreduce_spark.operators.dedup import (
        connected_components_star,
    )

    df = spark.createDataFrame(edges, "src long, dst long")
    return {
        (r.node, r.comp)
        for r in connected_components_star(df, stats=stats).collect()
    }


def test_cc_star_long_chain_in_log_rounds(spark):
    # a 256-node chain has diameter 255: min-label propagation needs
    # ~255 rounds, large-star/small-star must collapse it in O(log²) —
    # well under 12 rounds in practice.
    n = 256
    stats = {}
    got = _cc_star(spark, [(i, i + 1) for i in range(1, n)], stats)
    assert got == {(i, 1) for i in range(1, n + 1)}
    assert stats["rounds"] <= 12


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_cc_releases_superseded_round_checkpoints(spark):
    """Each round's localCheckpoint is freed once the next round has
    materialized and been checked, on both paths: one build leaves at
    most the last round's checkpoint (which backs the labels) behind,
    instead of one per round, and the labels are unchanged."""
    chain = [(i, i + 1) for i in range(1, 8)]  # propagation: 7 rounds
    want = {(i, 1) for i in range(1, 9)}
    before = _persistent_rdds(spark)
    assert _cc(spark, chain) == want
    assert _persistent_rdds(spark) - before <= 1

    stats = {}
    before = _persistent_rdds(spark)
    assert _cc_star(spark, [(i, i + 1) for i in range(1, 64)], stats) == {
        (i, 1) for i in range(1, 65)
    }
    assert stats["rounds"] >= 3
    assert _persistent_rdds(spark) - before <= 1


def test_cc_star_matches_propagation_on_random_graphs(spark):
    import random

    rng = random.Random(7)
    for trial in range(3):
        n = 60
        edges = [
            (rng.randrange(1, n + 1), rng.randrange(1, n + 1))
            for _ in range(40 + trial * 20)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        assert _cc_star(spark, edges) == _cc(spark, edges)


def test_cc_dispatches_to_star_above_threshold(spark, monkeypatch):
    from cs422pp_mapreduce_spark.operators import dedup as D

    calls = []
    real = D.connected_components_star

    def spy(edges, max_iterations=50, stats=None):
        calls.append(1)
        return real(edges, max_iterations, stats)

    monkeypatch.setattr(D, "connected_components_star", spy)
    monkeypatch.setattr(D, "CC_STAR_EDGE_THRESHOLD", 2)
    got = _cc(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    assert calls, "edge count above threshold must dispatch to star CC"
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (5, 1)}


def test_dedup_clusters_consume_lsh_candidates(spark, sf_dir, monkeypatch):
    # the contract/scale path runs components over the BANDED candidate
    # graph (q_dedup_minhash), not the exact inverted-index self-join —
    # substitute a sentinel pair set and the clustering must follow it.
    from cs422pp_mapreduce_spark.operators import dedup as D

    sentinel = spark.createDataFrame(
        [(101, 102, 1.0), (102, 103, 1.0), (200, 201, 1.0)],
        "doc_a long, doc_b long, jaccard double",
    )
    monkeypatch.setattr(D, "q_dedup_minhash", lambda s, d: sentinel)
    got = {
        (r.doc_id, r.cluster_id)
        for r in D.q_dedup_clusters(spark, sf_dir).collect()
    }
    assert got == {
        (101, 101), (102, 101), (103, 101), (200, 200), (201, 200),
    }


def test_lsh_clusters_refine_exact_clusters(spark, sf_dir):
    # LSH edges ⊆ exact edges, so every LSH cluster must sit inside one
    # exact-graph cluster (refinement); on the fixtures the pair sets
    # coincide, so the labelings are identical — assert both.
    from cs422pp_mapreduce_spark.operators import dedup as D

    lsh = {
        r.doc_id: r.cluster_id
        for r in D.q_dedup_clusters(spark, sf_dir).collect()
    }
    exact_pairs = D.q_dedup_ngram(spark, sf_dir).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    exact = {
        r.node: r.comp for r in connected_components(exact_pairs).collect()
    }
    assert set(lsh) <= set(exact)
    # each LSH cluster maps into exactly one exact cluster
    mapping = {}
    for doc, cl in lsh.items():
        mapping.setdefault(cl, set()).add(exact[doc])
    assert all(len(targets) == 1 for targets in mapping.values())
    assert lsh == exact  # pair-set equality on fixtures ⇒ same labels


def test_merge_upsert_invariants(spark, sf_dir):
    from cs422pp_mapreduce_spark.sources.catalog import load_table

    orders_n = load_table(spark, sf_dir, "orders").count()
    merged = MT.q_merge_upsert(spark, sf_dir).persist()
    by_action = {
        r.merge_action: r.n
        for r in merged.groupBy("merge_action")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # every target row survives exactly once; each update spawned one insert
    assert by_action["updated"] == by_action["inserted"]
    assert by_action["kept"] + by_action["updated"] == orders_n
    assert merged.count() == orders_n + by_action["inserted"]
    # merge key stays unique
    assert merged.select("o_orderkey").distinct().count() == merged.count()
    merged.unpersist()


def test_exact_cluster_labels_match_lsh_labels_on_fixture(spark, sf_dir):
    """Fixture canary: on the shipped fixtures LSH banding recovers
    every exact pair, so the LSH-graph and exact-graph cluster labels
    coincide. The driver oracle is keyed to the EXACT variant (r04), so
    a regenerated fixture breaking this equality fails HERE, loudly,
    instead of flipping a driver row (the refinement invariant is
    pinned separately in test_lsh_clusters_refine_exact_clusters)."""
    from cs422pp_mapreduce_spark.operators import dedup as D

    lsh = {
        (r["doc_id"], r["cluster_id"])
        for r in D.q_dedup_clusters(spark, sf_dir).collect()
    }
    exact = {
        (r["doc_id"], r["cluster_id"])
        for r in D.q_dedup_clusters_exact(spark, sf_dir).collect()
    }
    assert lsh == exact
    assert len(exact) > 0
