"""Fused block-local pair scoring — the single-shuffle ER hot path.

The classic pipeline (candidate_pairs -> pair_features -> pair_tfidf_cosine
-> score_pairs_rule) attaches both documents' payloads to every pair via two
equi-joins; the second join re-shuffles the l-enriched pair rows, so each
document's ~7 KB payload (hashed shingle sets, token set, prefixes, TF-IDF
vector) crosses the wire once PER PAIR.  At ~77 pairs/doc (10x rehearsal)
that is a ~22 GB shuffle per scoring pass — the round-5 verdict's open
scale question.

This operator computes the SAME features at block-self-join time instead:

    doc payload (built once, cached)         ~0.5 GB at 10x
      -> join onto each blocking pass's (conv_id, block_key) rows
      -> self-join on block_key              payload ships once per BLOCK
                                             MEMBERSHIP, never per pair
      -> all feature columns + TF-IDF dot + rule score, pipelined in the
         same stage (the enriched pair row exists only inside the task)
      -> slim scored rows (ids + 12 features + cosine + score + reason)
      -> one groupBy(left, right) dedups across passes/bands and collects
         block_passes

Measured duplication (docs scored once per shared pass/band occurrence,
deduped after): occurrences / distinct pairs = 1.18x at n_base=6000 — the
redundant compute is 18%, the shuffle saved is >10x (the block-key shuffle
moves each doc once per block: token 1x + signature 1x + minhash bands 6x
vs ~77x per-pair replication).

Pair-set, feature, and score parity with the classic path is exact by
construction: the two paths differ only in how pair rows meet the per-doc
payload (per-pair joins vs this block self-join).  Both read the same
blocking.keyed_passes memberships (keys, caps, rankings), the same
features.scoring_payload, the same features.with_pair_feature_columns, the
same tfidf.tfidf_cosine_col and the same score_pairs_rule.
tests/test_fused_scoring.py pins bit-identical frames on a synthetic corpus.

Reference analogue: the notebooks score candidates inside each paper-block
loop (ref: notebooks/match_and_fe.ipynb, src/match_utils.py:427-495) —
block-local scoring IS the reference's shape; the classic two-join form was
the translation artifact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# erbench/traced.py imports _keyed_passes from this module
from .blocking import BlockingConfig, keyed_passes as _keyed_passes, union_all
from .features import (
    FEATURE_COLS,
    prefixed_payload,
    scoring_payload,
    with_pair_feature_columns,
)
from .scoring import score_pairs_rule
from .tfidf import tfidf_cosine_col

# slim output carried per scored pair (everything downstream needs; no
# payload arrays survive past the scoring stage)
SCORED_COLS = [*FEATURE_COLS, "tfidf_cosine", "score", "reason"]


def fused_scored_pairs(
    docs: DataFrame,
    cfg: BlockingConfig | None = None,
    scope_cols: tuple[str, ...] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """docs -> (scored pairs, cap_metrics) in ONE fused blocking+scoring plan.

    Returns (scored[left_id, right_id, block_passes, FEATURE_COLS...,
    tfidf_cosine, score, reason], cap_metrics[block_key, block_size, cap,
    rows_dropped, block_pass]) — the same rows score_pairs_rule(
    pair_tfidf_cosine(pair_features(candidate_pairs(docs), docs))) produces,
    without ever shuffling payload-enriched pair rows.

    The per-doc payload (features.scoring_payload, ~8 KB/doc) is persisted
    so the six self-join branches (l/r x 3 passes) read the cache instead of
    recomputing the TF-IDF sub-pipeline; at 72k docs that is ~0.6 GB.

    Memory precondition of the shuffle_hash hints: a ShuffledHashJoin BUILD
    side must fit in task memory and does not spill.  The block-key
    self-join's build side is one partition's payload-enriched membership
    rows (~7 KB each); at the default shuffle partitioning that is
    docs_rows x memberships / partitions x 7 KB per task.  For much larger
    corpora, fewer shuffle partitions, or heavily skewed block keys, either
    raise spark.sql.shuffle.partitions so per-partition builds stay in the
    tens of MB, or strip the hints (SortMergeJoin spills gracefully at the
    cost of re-sorting the heavy rows).
    """
    cfg = cfg or BlockingConfig()
    pay = scoring_payload(docs, scope_cols=scope_cols)

    scored_parts = []
    metrics_parts = []
    for pass_name, keyed, m in _keyed_passes(docs, cfg):
        metrics_parts.append(m)
        # l side ships terms+weights (fold iterates the left vector), r side
        # ships the lookup map — neither side carries the other's tfidf shape.
        # shuffle_hash hints on every join: the default SortMergeJoin SORTS
        # the payload-enriched membership rows (~7 KB each) — an external
        # sort whose allocation/memcpy traffic is the shared-bandwidth wall
        # this box measures (BENCH/cpu_scaling.py alloc leg); hashing the
        # bounded per-partition build side skips the sort entirely, the same
        # reasoning as pair_features' hints (features.py)
        l = keyed.select(F.col("conv_id").alias("left_id"), "block_key").join(
            prefixed_payload(pay, "l", "left_id", extra_cols=["terms", "weights"]).hint(
                "shuffle_hash"
            ),
            "left_id",
        )
        r = keyed.select(F.col("conv_id").alias("right_id"), "block_key").join(
            prefixed_payload(pay, "r", "right_id", extra_cols=["vec"]).hint(
                "shuffle_hash"
            ),
            "right_id",
        )
        joined = l.join(r.hint("shuffle_hash"), "block_key").where(
            F.col("left_id") < F.col("right_id")
        )
        feat = with_pair_feature_columns(joined).withColumn(
            "tfidf_cosine", tfidf_cosine_col()
        )
        scored_parts.append(
            score_pairs_rule(feat).select(
                "left_id",
                "right_id",
                F.lit(pass_name).alias("block_pass"),
                *SCORED_COLS,
            )
        )

    unioned = union_all(scored_parts)
    # cross-pass/band dedup on SLIM rows: every occurrence of a pair carries
    # identical feature values (deterministic expressions over the same two
    # payloads), so first() is exact, not a tie-break
    scored = unioned.groupBy("left_id", "right_id").agg(
        F.sort_array(F.collect_set("block_pass")).alias("block_passes"),
        *[F.first(c).alias(c) for c in SCORED_COLS],
    )

    return scored, union_all(metrics_parts)
