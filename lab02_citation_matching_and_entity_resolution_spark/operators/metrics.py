"""Evaluation metrics (SURVEY.md §2.4 A9/A10, §2.9 M7).

Pairwise precision/recall/F1 over labeled pairs — the reference's
classification report reduced to the match class (ref:
src/modeling_utils.py:307-315) — and MRR@5, the reference's ranking metric
(ref: src/modeling_utils.py:331-388): reciprocal rank of the true candidate
within the top-5 scored candidates per left entity.

Both are pure DataFrame aggregations (two small shuffles); results come back
as driver-side dicts for the metrics table / bench output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .blocking import block_pairs


def pairwise_prf(predicted: DataFrame, truth: DataFrame) -> dict[str, float]:
    """predicted: (left_id, right_id) canonical match pairs;
    truth: (left_id, right_id, label) — F1 computed on label-1 pairs."""
    pred = predicted.select("left_id", "right_id").distinct()
    pos = truth.where(F.col("label") == 1).select("left_id", "right_id").distinct()
    tp = pred.join(pos, ["left_id", "right_id"]).count()
    p_cnt = pred.count()
    t_cnt = pos.count()
    precision = tp / p_cnt if p_cnt else 0.0
    recall = tp / t_cnt if t_cnt else 0.0
    f1 = 2 * precision * recall / (precision + recall) if (precision + recall) else 0.0
    return {
        "tp": float(tp),
        "predicted": float(p_cnt),
        "actual": float(t_cnt),
        "precision": precision,
        "recall": recall,
        "f1": f1,
    }


def mrr_at_k(
    scored: DataFrame,
    truth_pairs: DataFrame,
    k: int = 5,
    query_col: str = "left_id",
    cand_col: str = "right_id",
    score_col: str = "score",
) -> float:
    """Mean reciprocal rank@k of the true candidate per query entity.

    Rank window ordered by (-score, cand) — the deterministic tie-break the
    reference applies when ranking predictions (ref: src/match_utils.py:929-937).
    """
    w = Window.partitionBy(query_col).orderBy(F.desc(score_col), F.asc(cand_col))
    ranked = scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k)
    truth = truth_pairs.where(F.col("label") == 1).select(query_col, cand_col).distinct()
    hits = ranked.join(truth, [query_col, cand_col]).select(
        query_col, (F.lit(1.0) / F.col("rk")).alias("rr")
    )
    # queries with no hit contribute 0
    queries = truth.select(query_col).distinct()
    per_query = queries.join(
        hits.groupBy(query_col).agg(F.max("rr").alias("rr")), query_col, "left"
    ).fillna({"rr": 0.0})
    row = per_query.agg(F.avg("rr").alias("mrr")).collect()[0]
    return float(row["mrr"]) if row["mrr"] is not None else 0.0


def blocking_recall(
    pairs: DataFrame, truth: DataFrame, pass_col: str = "block_passes"
) -> DataFrame:
    """Candidate-coverage of labeled true pairs, per blocking pass + overall.

    The blocking-stage observability the north rule's "F1 at shared
    blocking keys" presumes: a true pair the blocking union misses is
    unrecoverable downstream no matter how good the scorer is, so this is
    the first number to look at when e2e recall drops.  ``pairs`` is
    candidate_pairs output (canonical left<right, ``block_passes`` array);
    ``truth`` is (left_id, right_id, label), same canonical orientation.

    Returns a tiny frame (block_pass, true_pairs_covered, true_pairs_total,
    recall) with an ``__overall__`` row — shaped for the metrics sink.
    """
    pos = truth.where(F.col("label") == 1).select("left_id", "right_id").distinct()
    total = pos.count()
    # explode the pass array FIRST, then count DISTINCT pairs per pass: a
    # pre-dedup pass union (multiple rows per pair, each with its own
    # block_passes array) then attributes a pair to the UNION of its rows'
    # passes instead of an arbitrary surviving row's array (round-4 ADVICE —
    # dropDuplicates-then-explode undercounted nondeterministically).  The
    # synthetic "__overall__" pass rides the same explode so the expensive
    # pairs⋈truth join runs in ONE action, not two
    counts = {
        r["block_pass"]: r["n"]
        for r in (
            pairs.select("left_id", "right_id", pass_col)
            .join(pos, ["left_id", "right_id"])
            .select(
                "left_id",
                "right_id",
                F.explode(
                    F.concat(F.col(pass_col), F.array(F.lit("__overall__")))
                ).alias("block_pass"),
            )
            .groupBy("block_pass")
            .agg(F.countDistinct("left_id", "right_id").alias("n"))
            .collect()
        )
    }  # tiny: one row per blocking pass
    overall = counts.pop("__overall__", 0)
    rows = sorted(counts.items()) + [("__overall__", overall)]
    return pairs.sparkSession.createDataFrame(
        [
            (name, int(n), int(total), (float(n) / total) if total else 0.0)
            for name, n in rows
        ],
        "block_pass string, true_pairs_covered long, true_pairs_total long, recall double",
    )


def cluster_quality(
    clusters: DataFrame, truth_membership: DataFrame
) -> dict[str, float]:
    """Pairwise P/R/F1 induced by cluster co-membership vs truth co-membership."""
    def co_pairs(df: DataFrame, id_col: str, grp_col: str) -> DataFrame:
        return block_pairs(df, [grp_col], id_col)[0].select("left_id", "right_id")

    pred_pairs = co_pairs(clusters, "conv_id", "cluster_id")
    true_pairs = co_pairs(truth_membership, "conv_id", "entity_id").withColumn(
        "label", F.lit(1)
    )
    return pairwise_prf(pred_pairs, true_pairs)
