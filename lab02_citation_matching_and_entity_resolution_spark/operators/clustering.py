"""Distributed transitive closure: iterative hash-join connected components.

The reference's final resolution is a greedy 1:1 assignment (its degenerate
clusterer, ref: src/match_utils.py:497-511); the north star requires true
transitive clustering of match edges.  Two formulations:

``connected_components`` (default) — min-label propagation:

  label(v) <- min(label(v), min over neighbors u of label(u))

iterated to fixpoint: each round is one shuffle join (labels ⋈ edges) + one
groupBy min — both native, AQE-coalesced.  The min travels ONE HOP per
round, so convergence takes O(diameter) rounds — 2-4 in practice for
ER-sized near-clique duplicate clusters; a hard iteration cap fails loudly
rather than silently under-merging.

``connected_components_star`` — alternating large-star/small-star (Kiveris
et al., "Connected Components in MapReduce and Beyond", SoCC'14, public
algorithm): each round rewires every node toward the minimum of its
neighborhood, halving component depth, so convergence is O(log n) rounds
REGARDLESS of diameter.  Costs two groupBy+join passes per round (vs one
for propagation), so it is the opt-in path for pathological long-chain
components — e.g. near-duplicate chains a..z where consecutive pairs match
but distant ones don't; on a 300-node path propagation's default cap fails
while star converges in ~9 rounds (pinned by test).

Scale notes (SURVEY §7.4.2): edges are canonicalized and deduplicated
before iterating; each round localCheckpoints to cut lineage growth; giant
components (skewed labels) only ever shuffle their *edges*, never
materialize the component, so skew is bounded by edge count per label —
with AQE skew-join as backstop.

Salted skew handling (north rule: "iterative hash-join connected
components with salted skew handling"): the per-round hash join keys the
edge list on its destination vertex, so a hub vertex of degree d lands all
d edge rows on ONE reducer regardless of AQE's post-shuffle coalescing
(AQE skew-split only helps sort-merge joins, and only after the skewed
partition is already built).  ``connected_components`` therefore detects
hot destination vertices ONCE up front (degree >= ``hot_degree_threshold``
on the fixed, deduplicated edge set) and routes their edges through an
explicit salted join: the label row of each hot vertex is replicated into
``salt_buckets`` copies (cost: n_hot x salt_buckets rows — negligible,
hot keys are few by construction) while each hot edge picks a
DETERMINISTIC salt = pmod(xxhash64(src), salt_buckets), so a degree-d hub
spreads across salt_buckets reducers instead of one.  Cold edges take the
plain hash join.  Output is bit-identical with or without salting (the
join is an exact equi-join on (dst, salt)); determinism is preserved
because the salt is a hash of the edge's own source vertex, not a random
draw.  groupBy-min label aggregation needs no salting: Spark's partial
(map-side) aggregation combines hub labels before the shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class ConvergenceError(RuntimeError):
    pass


class SkewError(RuntimeError):
    """Hot-key census exceeded its bound — the degree distribution is
    pathological beyond what salting is sized for; fail loudly rather than
    silently replicate an unbounded label set."""


def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iter: int = 25,
    id_col: str = "conv_id",
    stats: dict | None = None,
    salt_buckets: int = 16,
    hot_degree_threshold: int = 1_000_000,
    max_hot_keys: int = 100_000,
) -> DataFrame:
    """Edges (left_id, right_id) -> (conv_id, cluster_id) with cluster_id =
    min member id of the component.  ``vertices`` adds singletons: the
    output covers edge endpoints ∪ vertices.

    ``stats`` (optional dict) receives {"rounds": n, "hot_keys": n,
    "salt_buckets": n} — observability for the rehearsal/metrics sinks
    without changing the return contract.

    Skew: destination vertices with degree >= ``hot_degree_threshold`` are
    detected once on the fixed edge set and their per-round label lookup is
    salted across ``salt_buckets`` reducers (module docstring); the census
    is bounded by ``max_hot_keys`` (exceeding it raises :class:`SkewError`).
    Output is identical with salting active or not.  At test scale the
    default threshold makes salting a structural no-op; lower it to
    exercise the salted path."""
    sym = (
        edges.select(F.col("left_id").alias("src"), F.col("right_id").alias("dst"))
        .unionByName(
            edges.select(F.col("right_id").alias("src"), F.col("left_id").alias("dst"))
        )
        .distinct()
        # cut upstream lineage ONCE: iterations must join materialized edges,
        # not re-run the whole scoring pipeline every round
        .localCheckpoint()
    )
    # vertex set = edge endpoints ∪ ``vertices``: an endpoint missing from
    # ``vertices`` must still carry (and pass on) a label, as in the star
    # algorithm, or the answer would depend on which algorithm ran
    verts = sym.select("src")
    if vertices is not None:
        verts = verts.unionByName(vertices.select(F.col(id_col).alias("src")))
    labels = verts.distinct().withColumn("label", F.col("src")).localCheckpoint()

    if salt_buckets < 1:
        raise ValueError(f"salt_buckets must be >= 1, got {salt_buckets}")
    # --- one-time hot-destination census on the (fixed) edge set ---------
    # checkpoint the census BEFORE counting: count(), the broadcast flag
    # join, and the per-round replica build must all reuse one materialized
    # result, not re-run the full-edge-set aggregation
    hot_keys_df = (
        sym.groupBy("dst")
        .agg(F.count(F.lit(1)).alias("deg"))
        .where(F.col("deg") >= F.lit(hot_degree_threshold))
        .select("dst")
        .localCheckpoint()
    )
    n_hot = hot_keys_df.count()
    if n_hot > max_hot_keys:
        raise SkewError(
            f"{n_hot} vertices exceed degree {hot_degree_threshold} "
            f"(bound: {max_hot_keys}); raise hot_degree_threshold or "
            f"max_hot_keys explicitly"
        )
    if stats is not None:
        stats["hot_keys"] = n_hot
        stats["salt_buckets"] = salt_buckets if n_hot else 0
    if n_hot:
        hot_b = F.broadcast(hot_keys_df.withColumn("__hot", F.lit(True)))
        # one flag-join job; the per-round cold/hot splits are cheap
        # re-filters of this checkpointed frame
        flagged = sym.join(hot_b, "dst", "left").localCheckpoint()
        sym_cold = flagged.where(F.col("__hot").isNull()).select("src", "dst")
        sym_hot = flagged.where(F.col("__hot").isNotNull()).select(
            "src",
            "dst",
            # deterministic salt from the edge's OWN source vertex: the
            # same edge always lands in the same bucket, runs reproduce
            F.pmod(F.xxhash64("src"), F.lit(salt_buckets)).cast("int").alias("salt"),
        )
    else:
        sym_cold, sym_hot = sym, None

    for rounds in range(1, max_iter + 1):
        # candidate labels flowing along edges
        labels_r = labels.withColumnRenamed("src", "dst_v")
        neighbor_labels = (
            sym_cold.join(labels_r, sym_cold.dst == labels_r.dst_v)
            .select(F.col("src"), F.col("label").alias("nlabel"))
        )
        if sym_hot is not None:
            # labels of the (few) hot vertices, replicated once per salt;
            # each hot edge joins exactly one replica — the hub's edges
            # spread over salt_buckets reducers instead of one
            hot_labels = labels_r.join(
                F.broadcast(hot_keys_df.withColumnRenamed("dst", "dst_v")), "dst_v"
            )
            replicated = hot_labels.withColumn(
                "salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
            ).withColumn("salt", F.col("salt").cast("int"))
            hot_neighbor_labels = (
                sym_hot.join(
                    replicated,
                    (sym_hot.dst == replicated.dst_v) & (sym_hot.salt == replicated.salt),
                )
                .select(F.col("src"), F.col("label").alias("nlabel"))
            )
            neighbor_labels = neighbor_labels.unionByName(hot_neighbor_labels)
        new_labels = (
            labels.select("src", F.col("label").alias("nlabel"))
            .unionByName(neighbor_labels)
            .groupBy("src")
            .agg(F.min("nlabel").alias("new_label"))
        )
        joined = labels.join(new_labels, "src")
        changed = joined.where(F.col("new_label") != F.col("label")).limit(1).count()
        labels = joined.select("src", F.col("new_label").alias("label")).localCheckpoint()
        if changed == 0:
            if stats is not None:
                stats["rounds"] = rounds
            return labels.select(F.col("src").alias(id_col), F.col("label").alias("cluster_id"))
    if stats is not None:
        stats["rounds"] = max_iter
    raise ConvergenceError(f"connected_components did not converge in {max_iter} iterations")


def _large_star(e: DataFrame) -> DataFrame:
    """For each node u: connect every strictly-larger neighbor to
    min(neighborhood(u) ∪ {u})."""
    sym = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct()
    mins = sym.groupBy("u").agg(F.min("v").alias("mv"))
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(
            F.col("v").alias("u"),
            F.least(F.col("u"), F.col("mv")).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Orient edges toward the larger endpoint; for each node u connect all
    smaller neighbors (and u itself) to min(smaller-neighborhood(u))."""
    o = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).where(F.col("u") != F.col("v")).distinct()
    mins = o.groupBy("u").agg(F.min("v").alias("mv"))
    pairs = (
        o.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("mv").alias("v"))
        .unionByName(mins.select(F.col("u"), F.col("mv").alias("v")))
    )
    return pairs.where(F.col("u") != F.col("v")).distinct()


def connected_components_star(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iter: int = 50,
    id_col: str = "conv_id",
    stats: dict | None = None,
) -> DataFrame:
    """Large-star/small-star connected components — same contract as
    :func:`connected_components` (cluster_id = min member id), O(log n)
    rounds regardless of component diameter.  The scale path for
    long-chain components where propagation's O(diameter) bound bites.

    Convergence check: (edge count, bit_xor of xxhash64(u,v)) stable across
    a round — exact up to a 64-bit hash collision (the edge set is distinct,
    so xor cancellation needs distinct colliding sets), chosen over a
    symmetric-difference anti-join because it is one cheap overflow-free
    aggregate per round on data that is shuffling anyway.
    """
    def _sig(df: DataFrame) -> tuple:
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    e = (
        edges.select(F.col("left_id").alias("u"), F.col("right_id").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    # seed the signature from the INPUT (one cheap aggregate on checkpointed
    # data): an already-converged star forest — or an empty edge set — is
    # then detected after the single mandatory round instead of two
    prev_sig = _sig(e)
    converged = prev_sig[0] == 0  # no edges -> nothing to iterate
    rounds = 0
    for _ in range(max_iter):
        if converged:
            break
        e = _small_star(_large_star(e)).localCheckpoint()
        rounds += 1
        sig = _sig(e)
        if sig == prev_sig:
            converged = True
        prev_sig = sig
    if stats is not None:
        stats["rounds"] = rounds
    if not converged:
        raise ConvergenceError(
            f"connected_components_star did not converge in {max_iter} iterations"
        )
    # final star forest: every edge is (child, root).  label(u) = min over
    # incident edges (root for children, min child... never — roots keep
    # their own id via least(u, min)).
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    labels = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select(F.col("u"), F.least(F.col("u"), F.col("mv")).alias("label"))
    )
    if vertices is not None:
        verts = vertices.select(F.col(id_col).alias("u")).distinct()
        labels = (
            verts.join(labels, "u", "full")
            .select(F.col("u"), F.coalesce("label", F.col("u")).alias("label"))
        )
    return labels.select(F.col("u").alias(id_col), F.col("label").alias("cluster_id"))


def connected_components_auto(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iter: int = 25,
    id_col: str = "conv_id",
    star_max_iter: int = 50,
    stats: dict | None = None,
    salt_buckets: int = 16,
    hot_degree_threshold: int = 1_000_000,
    max_hot_keys: int = 100_000,
) -> DataFrame:
    """Propagation first, star on non-convergence — the right default when
    component shapes are unknown.

    ER duplicate clusters are near-cliques (diameter 2-4), so min-label
    propagation — one join per round — converges in a handful of rounds and
    is the cheap common case.  A pathological long-chain component blows its
    O(diameter) bound; instead of failing the run, fall back ONCE to
    large-star/small-star (O(log n) rounds regardless of diameter) and record
    the fallback in ``stats`` so callers can surface it to their metrics
    sink.  Deterministic: both algorithms produce cluster_id = min member id,
    so the fallback changes cost, never output.

    stats keys: algorithm ("propagation"|"star"), rounds, fallback (bool).
    """
    stats_local: dict = {}
    try:
        out = connected_components(
            edges, vertices=vertices, max_iter=max_iter, id_col=id_col, stats=stats_local,
            salt_buckets=salt_buckets, hot_degree_threshold=hot_degree_threshold,
            max_hot_keys=max_hot_keys,
        )
        if stats is not None:
            # carry the skew-observability keys (hot_keys, salt_buckets)
            # through to the caller's metrics sink alongside the algorithm tag
            stats.update(stats_local)
            stats.update(algorithm="propagation", fallback=False)
        return out
    except ConvergenceError:
        star_stats: dict = {}
        out = connected_components_star(
            edges, vertices=vertices, max_iter=star_max_iter, id_col=id_col,
            stats=star_stats,
        )
        if stats is not None:
            stats.update(
                algorithm="star",
                rounds=star_stats.get("rounds"),
                fallback=True,
                propagation_rounds_spent=stats_local.get("rounds"),
                # the hot census ran on the same edge set before propagation
                # gave up — still the right observability signal to surface
                hot_keys=stats_local.get("hot_keys"),
                salt_buckets=stats_local.get("salt_buckets"),
            )
        return out
