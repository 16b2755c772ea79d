"""End-to-end pipeline test (SURVEY.md §5.2.3): synthetic transcripts with
planted duplicate clusters -> full pipeline -> pairwise F1 >= 0.99 (the north
metric) plus cluster membership quality, determinism, and stable ordering."""

import pytest
from pyspark.sql import functions as F

from lab02_citation_matching_and_entity_resolution_spark.plans.pipeline import (
    PipelineConfig,
    evaluate,
    run_pipeline,
)
from lab02_citation_matching_and_entity_resolution_spark.synth import (
    SynthConfig,
    cluster_truth_df,
    labeled_pairs_df,
    transcripts_df,
)

CFG = SynthConfig(n_base=60)


@pytest.fixture(scope="module")
def corpus(spark):
    transcripts = transcripts_df(spark, CFG).persist()
    truth = cluster_truth_df(spark, CFG).persist()
    pairs = labeled_pairs_df(spark, CFG).persist()
    return transcripts, truth, pairs


@pytest.fixture(scope="module")
def default_result(spark, corpus):
    # run the default-config pipeline ONCE for every test that inspects it
    # (it is the slowest stage of the module)
    transcripts, _, _ = corpus
    return run_pipeline(transcripts, PipelineConfig())


def test_end_to_end_f1(spark, corpus, default_result):
    _, truth, labeled = corpus
    metrics = evaluate(default_result, labeled, truth)
    # north rule: pairwise F1 >= 0.99 on labeled pairs at shared blocking keys
    assert metrics["pairs"]["recall"] >= 0.99, metrics
    assert metrics["pairs"]["f1"] >= 0.99, metrics
    # transitive clusters must reproduce planted entities
    assert metrics["clusters"]["f1"] >= 0.99, metrics


def test_blocking_recall_audit(spark, corpus, default_result):
    """blocking_recall: the stage-level coverage number e2e F1 presumes —
    overall recall of labeled true pairs in the candidate set must be ~1
    on the planted corpus, every per-pass row bounded by it, and the
    schema shaped for the metrics sink."""
    from lab02_citation_matching_and_entity_resolution_spark.operators.metrics import (
        blocking_recall,
    )

    _, _, labeled = corpus
    audit = {r["block_pass"]: r for r in blocking_recall(default_result.pairs, labeled).collect()}
    overall = audit.pop("__overall__")
    assert overall["recall"] >= 0.99
    assert overall["true_pairs_total"] == labeled.where("label = 1").count()
    assert audit, "expected per-pass rows"
    for row in audit.values():
        assert 0.0 <= row["recall"] <= overall["recall"] + 1e-9
        assert row["true_pairs_covered"] <= overall["true_pairs_covered"]


def test_blocking_recall(spark, corpus):
    """Every positive labeled pair must be produced by some blocking pass."""
    transcripts, _, labeled = corpus
    from lab02_citation_matching_and_entity_resolution_spark.operators.assemble import (
        assemble_documents,
    )
    from lab02_citation_matching_and_entity_resolution_spark.operators.blocking import (
        candidate_pairs,
    )

    docs = assemble_documents(transcripts).persist()
    pairs, _ = candidate_pairs(docs)
    pos = labeled.where(F.col("label") == 1).select("left_id", "right_id")
    missed = pos.join(pairs, ["left_id", "right_id"], "left_anti").count()
    docs.unpersist()
    assert missed == 0


def test_determinism_same_seed(spark, corpus):
    """Two runs, same seed -> identical match pair sets (SURVEY §5.2.6)."""
    transcripts, _, _ = corpus
    r1 = run_pipeline(transcripts, PipelineConfig())
    r2 = run_pipeline(transcripts, PipelineConfig())
    m1 = r1.matches.select("left_id", "right_id").distinct()
    m2 = r2.matches.select("left_id", "right_id").distinct()
    assert m1.exceptAll(m2).count() == 0
    assert m2.exceptAll(m1).count() == 0


def test_stable_ordering_under_shuffle(spark, corpus):
    """Shuffled input row order -> byte-identical documents (SURVEY §5.2.7)."""
    from lab02_citation_matching_and_entity_resolution_spark.operators.assemble import (
        assemble_documents,
    )

    transcripts, _, _ = corpus
    base = assemble_documents(transcripts).select("conv_id", "doc_text")
    shuffled = assemble_documents(
        transcripts.orderBy(F.xxhash64("conv_id", "turn_idx", F.lit(99))).repartition(7)
    ).select("conv_id", "doc_text")
    diff = base.join(
        shuffled.withColumnRenamed("doc_text", "doc_text2"), "conv_id"
    ).where(F.col("doc_text") != F.col("doc_text2"))
    assert diff.count() == 0


def test_cap_metrics_no_silent_truncation(spark, corpus):
    """Oversized blocks must be reported in the cap-metrics frame."""
    transcripts, _, _ = corpus
    from lab02_citation_matching_and_entity_resolution_spark.operators.assemble import (
        assemble_documents,
    )
    from lab02_citation_matching_and_entity_resolution_spark.operators.blocking import (
        BlockingConfig,
        candidate_pairs,
    )

    docs = assemble_documents(transcripts).persist()
    tiny_cap = BlockingConfig(block_cap=2, passes=("token", "signature"))
    pairs, metrics = candidate_pairs(docs, tiny_cap)
    reported = metrics.agg(F.sum("rows_dropped")).collect()[0][0]
    docs.unpersist()
    assert reported is not None and reported > 0


def test_distributed_synth_identical_to_driver(spark):
    """Executor-side generation must be bit-identical to driver generation."""
    from lab02_citation_matching_and_entity_resolution_spark.synth import (
        SynthConfig,
        transcripts_df,
        transcripts_df_distributed,
    )

    cfg = SynthConfig(n_base=15)
    a = transcripts_df(spark, cfg)
    b = transcripts_df_distributed(spark, cfg)
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_end_to_end_f1_with_block_scoped_tfidf(spark, corpus):
    """Reference default TFIDF_SCOPE="paper": the pipeline with per-block IDF
    fitting must still clear the north F1 bar on the synthetic corpus."""
    transcripts, truth, labeled = corpus
    result = run_pipeline(
        transcripts, PipelineConfig(tfidf_scope_cols=("n_turns",))
    )
    metrics = evaluate(result, labeled, truth)
    assert metrics["pairs"]["f1"] >= 0.99, metrics
    assert metrics["clusters"]["f1"] >= 0.99, metrics


def test_blocking_recall_exact_on_pre_dedup_union(spark):
    """Round-4 ADVICE: with multiple rows per pair (a pre-dedup pass union),
    per-pass attribution must be the UNION of the rows' passes — exact and
    deterministic — not an arbitrary surviving row's array."""
    from lab02_citation_matching_and_entity_resolution_spark.operators.metrics import (
        blocking_recall,
    )

    pairs = spark.createDataFrame(
        [
            ("a", "b", ["token"]),
            ("a", "b", ["minhash"]),        # same pair, second pass row
            ("c", "d", ["token", "minhash"]),
            ("e", "f", ["signature"]),      # not a true pair
        ],
        "left_id string, right_id string, block_passes array<string>",
    )
    truth = spark.createDataFrame(
        [("a", "b", 1), ("c", "d", 1), ("x", "y", 1)],
        "left_id string, right_id string, label int",
    )
    audit = {r["block_pass"]: r for r in blocking_recall(pairs, truth).collect()}
    assert audit["__overall__"]["true_pairs_covered"] == 2
    assert audit["__overall__"]["true_pairs_total"] == 3
    # (a,b) counts for BOTH token and minhash regardless of row layout
    assert audit["token"]["true_pairs_covered"] == 2
    assert audit["minhash"]["true_pairs_covered"] == 2
    assert "signature" not in audit  # covered no true pair -> no row


def test_pipeline_default_cc_is_auto_and_records_stats(spark, default_result):
    """The pipeline clusters with the auto CC (fallback-capable) and the
    result carries the observability record the CLI logs to lineage."""
    stats = default_result.cc_stats
    assert stats.get("algorithm") == "propagation"  # near-clique corpus
    assert stats.get("fallback") is False
    assert stats.get("rounds", 0) >= 1
