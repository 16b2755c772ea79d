"""Greedy 1:1 parity (reference src/match_utils.py:497-511 semantics) and
connected-components correctness on hand-computed cases."""

from pyspark.sql import functions as F

from lab02_citation_matching_and_entity_resolution_spark.operators.clustering import (
    connected_components,
    connected_components_star,
)
from lab02_citation_matching_and_entity_resolution_spark.operators.resolve import (
    greedy_one_to_one,
)


def test_greedy_one_to_one_reference_semantics(spark):
    # within one block: highest score wins, used sides excluded, ties broken
    # by (left_id, right_id) after score
    rows = [
        ("blk", "a1", "b1", 0.9),
        ("blk", "a1", "b2", 0.8),   # a1 already used -> skipped
        ("blk", "a2", "b1", 0.85),  # b1 already used -> skipped
        ("blk", "a2", "b2", 0.75),
        ("blk", "a3", "b3", 0.70),
        ("blk", "a4", "b4", 0.60),  # below threshold -> dropped
    ]
    df = spark.createDataFrame(
        rows, "block_key string, left_id string, right_id string, score double"
    )
    got = {
        (r["left_id"], r["right_id"])
        for r in greedy_one_to_one(df, threshold=0.7).collect()
    }
    assert got == {("a1", "b1"), ("a2", "b2"), ("a3", "b3")}


def test_greedy_tie_break_deterministic(spark):
    # equal scores: (left_id, right_id) ascending decides
    rows = [
        ("blk", "a2", "b1", 0.9),
        ("blk", "a1", "b1", 0.9),
        ("blk", "a1", "b2", 0.9),
    ]
    df = spark.createDataFrame(
        rows, "block_key string, left_id string, right_id string, score double"
    )
    got = {
        (r["left_id"], r["right_id"])
        for r in greedy_one_to_one(df, threshold=0.5).collect()
    }
    # a1-b1 first (lowest left, right), then a2-b1 blocked, a1-b2 blocked
    assert got == {("a1", "b1")}


def test_connected_components_chain_and_singleton(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "left_id string, right_id string"
    )
    verts = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("x",), ("y",), ("lone",)], "conv_id string"
    )
    got = {
        (r["conv_id"], r["cluster_id"])
        for r in connected_components(edges, vertices=verts).collect()
    }
    assert got == {
        ("a", "a"), ("b", "a"), ("c", "a"),
        ("x", "x"), ("y", "x"),
        ("lone", "lone"),
    }


def test_connected_components_long_chain_converges(spark):
    # chain of 12 nodes: needs several min-label rounds
    names = [f"n{i:02d}" for i in range(12)]
    edges = spark.createDataFrame(
        list(zip(names, names[1:])), "left_id string, right_id string"
    )
    labels = connected_components(edges)
    assert labels.select("cluster_id").distinct().count() == 1


def test_star_cc_matches_propagation_on_random_graph(spark):
    import random

    from lab02_citation_matching_and_entity_resolution_spark.operators.clustering import (
        connected_components_star,
    )

    rng = random.Random(3)
    nodes = [f"v{i:03d}" for i in range(60)]
    edges_py = list({
        tuple(sorted(rng.sample(nodes, 2))) for _ in range(70)
    })
    edges = spark.createDataFrame(edges_py, "left_id string, right_id string")
    verts = spark.createDataFrame([(n,) for n in nodes], "conv_id string")
    prop = {
        (r["conv_id"], r["cluster_id"])
        for r in connected_components(edges, vertices=verts, max_iter=60).collect()
    }
    star = {
        (r["conv_id"], r["cluster_id"])
        for r in connected_components_star(edges, vertices=verts).collect()
    }
    assert star == prop


def test_star_cc_handles_long_chain_where_propagation_cap_fails(spark):
    """The adversarial case the star variant exists for: a 300-node path.
    Min-label propagation moves the min ONE hop per round, so the default
    25-iteration cap fails loudly; large-star/small-star halves depth per
    round and converges in ~log n rounds."""
    import pytest

    from lab02_citation_matching_and_entity_resolution_spark.operators.clustering import (
        ConvergenceError,
        connected_components_star,
    )

    names = [f"p{i:04d}" for i in range(300)]
    edges = spark.createDataFrame(
        list(zip(names, names[1:])), "left_id string, right_id string"
    )
    with pytest.raises(ConvergenceError):
        connected_components(edges)  # default max_iter=25 < 299-hop diameter
    labels = connected_components_star(edges, max_iter=15)
    rows = labels.collect()
    assert len(rows) == 300
    assert {r["cluster_id"] for r in rows} == {"p0000"}


def test_star_cc_no_edges_all_singletons(spark):
    from lab02_citation_matching_and_entity_resolution_spark.operators.clustering import (
        connected_components_star,
    )

    edges = spark.createDataFrame([], "left_id string, right_id string")
    verts = spark.createDataFrame([("a",), ("b",)], "conv_id string")
    got = {
        (r["conv_id"], r["cluster_id"])
        for r in connected_components_star(edges, vertices=verts).collect()
    }
    assert got == {("a", "a"), ("b", "b")}


def test_greedy_matches_independent_python_impl(spark, sf_dir):
    """Cross-implementation witness for j6_greedy_one_to_one: a plain-Python
    greedy — an independent reimplementation of the reference loop
    (src/match_utils.py:497-511) with the same (-score, left_id, right_id)
    order — over the COLLECTED catalog input must agree exactly with the
    distributed applyInPandas output.  Since r5 j6 ALSO carries a DuckDB
    recursive-CTE oracle (queries_catalog_ext.q_j6_sql), making the operator
    three-way witnessed: Spark applyInPandas, this Python loop, and SQL."""
    from lab02_citation_matching_and_entity_resolution_spark.queries_catalog_ext import (
        j6_greedy_one_to_one,
    )

    got = {
        (r["block_key"], r["left_id"], r["right_id"], r["score"])
        for r in j6_greedy_one_to_one(spark, sf_dir).collect()
    }

    # independent implementation: collect the same pruned input (bounded —
    # sf0.001/sf0.01 scale), group in plain Python, run the reference greedy
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.col("l_orderkey").cast("string").alias("block_key"),
        F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("left_id"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("right_id"),
        (F.col("l_discount") * 10).alias("score"),
    )
    rows = li.where(F.col("score") >= 0.2).collect()
    assert len(rows) > 1000  # non-vacuous witness
    by_block: dict[str, list] = {}
    for r in rows:
        by_block.setdefault(r["block_key"], []).append(r)
    expected = set()
    for bk, blk in by_block.items():
        blk.sort(key=lambda r: (-r["score"], r["left_id"], r["right_id"]))
        used_l, used_r = set(), set()
        for r in blk:
            if r["left_id"] in used_l or r["right_id"] in used_r:
                continue
            used_l.add(r["left_id"])
            used_r.add(r["right_id"])
            expected.add((bk, r["left_id"], r["right_id"], r["score"]))
    assert got == expected


def test_greedy_oversized_block_fails_loudly(spark):
    """An uncapped caller handing greedy_one_to_one an unbounded block is a
    one-task straggler/OOM at scale — the executor-side guard must raise with
    the block key, not silently grind."""
    import pytest

    rows = [
        ("big", f"a{i}", f"b{j}", 0.9) for i in range(5) for j in range(5)
    ]
    df = spark.createDataFrame(
        rows, "block_key string, left_id string, right_id string, score double"
    )
    with pytest.raises(Exception, match="max_block_pairs"):
        greedy_one_to_one(df, threshold=0.5, max_block_pairs=10).collect()
    # same data under the default guard (2M) passes untouched
    ok = greedy_one_to_one(df, threshold=0.5).collect()
    assert len(ok) == 5


def test_auto_cc_falls_back_to_star_on_long_chain(spark):
    """connected_components_auto: propagation's cap fails on a long chain;
    auto must converge via the star fallback without caller intervention and
    record the fallback in stats."""
    from lab02_citation_matching_and_entity_resolution_spark.operators.clustering import (
        connected_components_auto,
    )

    names = [f"c{i:03d}" for i in range(80)]
    edges = spark.createDataFrame(
        list(zip(names, names[1:])), "left_id string, right_id string"
    )
    stats: dict = {}
    labels = connected_components_auto(edges, max_iter=5, stats=stats)
    rows = labels.collect()
    assert len(rows) == 80
    assert {r["cluster_id"] for r in rows} == {"c000"}
    assert stats["fallback"] is True
    assert stats["algorithm"] == "star"
    assert stats["rounds"] >= 1


def test_auto_cc_uses_propagation_on_normal_graph(spark):
    from lab02_citation_matching_and_entity_resolution_spark.operators.clustering import (
        connected_components_auto,
    )

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "left_id string, right_id string"
    )
    stats: dict = {}
    labels = connected_components_auto(edges, stats=stats)
    got = {(r["conv_id"], r["cluster_id"]) for r in labels.collect()}
    assert got == {("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x")}
    assert stats["fallback"] is False
    assert stats["algorithm"] == "propagation"
    assert stats["rounds"] >= 1


# --- salted skew handling (north rule: "salted skew handling" in CC) -----

def _hub_edges(spark, n_leaves=500):
    """One degree-n hub component + a 4-cycle + an isolated pair."""
    rows = [("hub", f"leaf{i:04d}") for i in range(n_leaves)]
    rows += [("c1", "c2"), ("c2", "c3"), ("c3", "c4"), ("c4", "c1")]
    rows += [("x1", "x2")]
    return spark.createDataFrame(rows, "left_id string, right_id string")


def test_salted_cc_identical_output_to_unsalted(spark):
    edges = _hub_edges(spark)
    plain = connected_components(edges, id_col="cid")  # threshold 1M: no hot keys
    stats = {}
    salted = connected_components(
        edges, id_col="cid", stats=stats,
        hot_degree_threshold=100, salt_buckets=4,
    )
    # the hub (degree 500 after symmetrization) must trip the census
    assert stats["hot_keys"] >= 1
    assert stats["salt_buckets"] == 4
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))
    # and the clustering itself is right: hub+leaves one cluster, cycle one,
    # pair one
    clusters = {}
    for cid, cl in salted.collect():
        clusters.setdefault(cl, set()).add(cid)
    sizes = sorted(len(v) for v in clusters.values())
    assert sizes == [2, 4, 501]


def test_salted_cc_inactive_below_threshold(spark):
    edges = _hub_edges(spark, n_leaves=20)
    stats = {}
    out = connected_components(
        edges, id_col="cid", stats=stats, hot_degree_threshold=1000
    )
    assert stats["hot_keys"] == 0
    assert stats["salt_buckets"] == 0
    assert out.count() == 27  # 21 + 4 + 2


def test_salted_cc_hot_census_bound_fails_loudly(spark):
    import pytest as _pytest
    from lab02_citation_matching_and_entity_resolution_spark.operators.clustering import (
        SkewError,
    )
    edges = _hub_edges(spark)
    with _pytest.raises(SkewError):
        # symmetrized degree >= 2 makes EVERY vertex hot; bound of 3 trips
        connected_components(
            edges, id_col="cid", hot_degree_threshold=1, max_hot_keys=3
        )


def test_salted_cc_with_singleton_vertices(spark):
    edges = _hub_edges(spark, n_leaves=50)
    verts = spark.createDataFrame(
        [("hub",), ("solo1",), ("solo2",)] + [(f"leaf{i:04d}",) for i in range(50)],
        "cid string",
    )
    out = connected_components(
        edges, vertices=verts, id_col="cid",
        hot_degree_threshold=10, salt_buckets=3,
    )
    got = dict(out.collect())
    assert got["solo1"] == "solo1" and got["solo2"] == "solo2"
    assert got["leaf0007"] == got["hub"]


def test_salt_buckets_validation(spark):
    import pytest as _pytest
    edges = _hub_edges(spark, n_leaves=5)
    with _pytest.raises(ValueError, match="salt_buckets"):
        connected_components(edges, id_col="cid", salt_buckets=0)


def test_auto_cc_surfaces_skew_stats(spark):
    from lab02_citation_matching_and_entity_resolution_spark.operators.clustering import (
        connected_components_auto,
    )
    edges = _hub_edges(spark, n_leaves=60)
    stats = {}
    out = connected_components_auto(
        edges, id_col="cid", stats=stats,
        hot_degree_threshold=20, salt_buckets=4,
    )
    assert out.count() == 67
    # the default pipeline path must surface the skew keys, not drop them
    assert stats["algorithm"] == "propagation"
    assert stats["hot_keys"] >= 1
    assert stats["salt_buckets"] == 4


def test_cc_vertex_set_is_vertices_union_edge_endpoints(spark):
    """An edge endpoint missing from ``vertices`` still carries and passes on
    its label, so both algorithms give the same clusters: a-x-b with
    vertices {a, b} is one component {a, b, x}."""
    edges = spark.createDataFrame([("a", "x"), ("x", "b")], "left_id string, right_id string")
    verts = spark.createDataFrame([("a",), ("b",)], "conv_id string")
    prop = {r["conv_id"]: r["cluster_id"]
            for r in connected_components(edges, vertices=verts).collect()}
    star = {r["conv_id"]: r["cluster_id"]
            for r in connected_components_star(edges, vertices=verts).collect()}
    assert prop == star == {"a": "a", "b": "a", "x": "a"}
