"""End-to-end ER pipeline (SURVEY.md §3): transcripts -> clusters + metrics.

Stage graph (each stage a pure DataFrame -> DataFrame function; the pipeline
only sequences them and optionally checkpoints between stages):

  assemble   transcripts -> documents           (shuffle on conv_id)
  block+score documents -> scored pairs         (fused block-local plan,
                                                 operators/fused.py —
                                                 payload ships per block)
  resolve    scores     -> matches              (threshold [+ greedy 1:1])
  cluster    matches    -> entity clusters      (iterative min-label CC)

Mirrors the reference's three notebook entry points collapsed into one lazy
lineage (ref: notebooks/parse_runner → match_and_fe → modeling); the
materialization boundaries the reference forces through JSONL files
(SURVEY §3) become optional parquet checkpoints via tables.py.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.assemble import assemble_documents
from ..operators.blocking import BlockingConfig
from ..operators.clustering import connected_components_auto
from ..operators.fused import fused_scored_pairs
from ..operators.metrics import cluster_quality, pairwise_prf
from ..operators.resolve import greedy_one_to_one

DEFAULT_THRESHOLD = 0.7  # reference MATCH_THRESHOLD (match_and_fe.ipynb cell 3)


@dataclass
class PipelineConfig:
    threshold: float = DEFAULT_THRESHOLD
    blocking: BlockingConfig = field(default_factory=BlockingConfig)
    use_greedy_one_to_one: bool = False  # reference-parity resolution mode
    # clustering is connected_components_auto: min-label propagation (one
    # join/round, O(diameter) rounds — ER's near-clique clusters), falling
    # back ONCE to large-star/small-star (O(log n) rounds) on non-convergence
    max_cc_iter: int = 25
    # salted skew handling for the propagation label join (clustering.py
    # module docstring): destinations with symmetrized degree >= the
    # threshold get their per-round label lookup salted across this many
    # reducers.  The star fallback is groupBy-based (map-side combine covers
    # its skew) and needs no salt.
    cc_salt_buckets: int = 16
    cc_hot_degree_threshold: int = 1_000_000
    # TF-IDF fit scope: None = global corpus fit; a doc-column tuple fits the
    # IDF within each group of those columns (the reference's default
    # TFIDF_SCOPE="paper", ref match_utils.py:411-424 — e.g. ("lang",) or a
    # blocking-key column present on the documents frame)
    tfidf_scope_cols: tuple[str, ...] | None = None


@dataclass
class PipelineResult:
    documents: DataFrame
    pairs: DataFrame
    scored: DataFrame
    matches: DataFrame
    clusters: DataFrame
    block_metrics: DataFrame
    # clustering observability: {"algorithm", "rounds", "fallback"} — filled
    # by run_pipeline so callers can log the star fallback to their lineage
    cc_stats: dict = field(default_factory=dict)


def run_pipeline(transcripts: DataFrame, cfg: PipelineConfig | None = None) -> PipelineResult:
    cfg = cfg or PipelineConfig()
    docs = assemble_documents(transcripts).persist()
    # fused block-local scoring (operators/fused.py): each doc's payload
    # ships once per BLOCK membership instead of once per pair — measured
    # 4.6x less scoring shuffle and 2.2-2.9x faster at 10x bench scale than
    # the per-pair-join chain, with bit-identical rows
    scored, block_metrics = fused_scored_pairs(
        docs, cfg.blocking, scope_cols=cfg.tfidf_scope_cols
    )
    scored = scored.persist()
    # the scored frame IS the deduped candidate set (left, right, passes)
    pairs = scored.select("left_id", "right_id", "block_passes")

    if cfg.use_greedy_one_to_one:
        with_block = scored.withColumn(
            "block_key", F.concat_ws(",", "block_passes")
        )
        matches = greedy_one_to_one(with_block, cfg.threshold).select(
            "left_id", "right_id", "score"
        )
    else:
        matches = scored.where(F.col("score") >= cfg.threshold).select(
            "left_id", "right_id", "score"
        )

    matches = matches.persist()
    cc_stats: dict = {}
    clusters = connected_components_auto(
        matches, vertices=docs.select("conv_id"), max_iter=cfg.max_cc_iter,
        stats=cc_stats, salt_buckets=cfg.cc_salt_buckets,
        hot_degree_threshold=cfg.cc_hot_degree_threshold,
    )
    return PipelineResult(
        docs, pairs, scored, matches, clusters, block_metrics, cc_stats=cc_stats
    )


def evaluate(result: PipelineResult, labeled_pairs: DataFrame, truth_membership: DataFrame) -> dict:
    """North-rule metrics: pairwise F1 on labeled pairs + cluster quality."""
    pair_metrics = pairwise_prf(
        result.matches.select("left_id", "right_id"), labeled_pairs
    )
    cq = cluster_quality(result.clusters, truth_membership)
    return {"pairs": pair_metrics, "clusters": cq}
