"""Fused block-local scoring vs the classic two-join path: bit parity.

fused_scored_pairs must reproduce the classic pipeline
(candidate_pairs -> pair_features -> pair_tfidf_cosine -> score_pairs_rule)
EXACTLY — same pair set, same block_passes, same feature doubles, same
score/reason strings — while never shuffling payload-enriched pair rows.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lab02_citation_matching_and_entity_resolution_spark.operators.assemble import (
    assemble_documents,
)
from lab02_citation_matching_and_entity_resolution_spark.operators.blocking import (
    BlockingConfig,
    candidate_pairs,
)
from lab02_citation_matching_and_entity_resolution_spark.operators.features import (
    FEATURE_COLS,
    pair_features,
)
from lab02_citation_matching_and_entity_resolution_spark.operators.fused import (
    SCORED_COLS,
    fused_scored_pairs,
)
from lab02_citation_matching_and_entity_resolution_spark.operators.scoring import (
    score_pairs_rule,
)
from lab02_citation_matching_and_entity_resolution_spark.operators.tfidf import (
    pair_tfidf_cosine,
)
from lab02_citation_matching_and_entity_resolution_spark.synth import (
    SynthConfig,
    transcripts_df_distributed,
)


@pytest.fixture(scope="module")
def docs(spark):
    tr = transcripts_df_distributed(spark, SynthConfig(n_base=120))
    d = assemble_documents(tr).persist()
    d.count()
    yield d
    d.unpersist()


def _classic(docs, cfg):
    pairs, metrics = candidate_pairs(docs, cfg)
    scored = score_pairs_rule(pair_tfidf_cosine(pair_features(pairs, docs), docs))
    return (
        scored.select(
            "left_id", "right_id",
            F.col("block_passes").cast("string").alias("passes"),
            *SCORED_COLS,
        ),
        metrics,
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_fused_matches_classic_bit_exact(spark, docs):
    cfg = BlockingConfig()
    classic, classic_m = _classic(docs, cfg)
    fused, fused_m = fused_scored_pairs(docs, cfg)
    fused_sel = fused.select(
        "left_id", "right_id",
        F.col("block_passes").cast("string").alias("passes"),
        *SCORED_COLS,
    )
    got, want = _rows(fused_sel), _rows(classic)
    assert len(got) == len(want) and len(got) > 0
    assert got == want  # ids, passes, every feature double, score, reason
    # cap audits agree too (same cap rankings per pass)
    cm = sorted(tuple(r) for r in classic_m.collect())
    fm = sorted(tuple(r) for r in fused_m.collect())
    assert fm == cm


def test_fused_matches_classic_with_tight_cap(spark, docs):
    """A tight block cap makes the capped survivor sets the load-bearing
    detail — both paths must drop the same rows."""
    cfg = BlockingConfig(block_cap=5)
    classic, _ = _classic(docs, cfg)
    fused, metrics = fused_scored_pairs(docs, cfg)
    fused_sel = fused.select(
        "left_id", "right_id",
        F.col("block_passes").cast("string").alias("passes"),
        *SCORED_COLS,
    )
    assert _rows(fused_sel) == _rows(classic)
    assert metrics.count() > 0  # the tight cap actually fired


def test_fused_no_payload_on_pair_shuffles(spark, docs):
    """The scale pin: no exchange in the fused plan carries the heavy
    payload columns.  Every Exchange's output schema must be free of the
    shingle-set arrays (sh3/sh4/sh5) — payload crosses the wire only keyed
    by block_key on the DOC side (bounded rows), and pair rows shuffle only
    in the slim dedup groupBy."""
    fused, _ = fused_scored_pairs(docs, BlockingConfig())
    plan = fused._jdf.queryExecution().executedPlan().toString()
    import re

    # every shuffle exchange's schema line
    for line in plan.splitlines():
        if "Exchange hashpartitioning" not in line:
            continue
        # doc-side payload exchanges are keyed by conv_id/left_id/right_id
        # or block-key columns and carry payload ONCE PER DOC ROW —
        # acceptable; what must never appear is a shuffle keyed by the PAIR
        # (left_id AND right_id together) carrying payload arrays.
        if re.search(r"left_id#\d+, right_id#\d+", line):
            assert "l_sh3" not in line and "r_sh3" not in line, line
            assert "l_tokset" not in line and "r_tokset" not in line, line
            assert "l_pfx" not in line and "r_pfx" not in line, line


def test_fused_output_columns(spark, docs):
    fused, _ = fused_scored_pairs(docs, BlockingConfig())
    assert set(["left_id", "right_id", "block_passes", *SCORED_COLS]) == set(
        fused.columns
    )
    assert set(FEATURE_COLS) <= set(fused.columns)


def test_hashed_vec_keys_bit_parity(spark, docs):
    """The production ride-along TF-IDF vectors use xxhash64 int64 term keys
    (round-7: the term strings were the widest columns of the heavy second
    pair join's shuffle rows); the dot product is exact-match lookups only,
    so the cosine must be BIT-IDENTICAL to pair_tfidf_cosine's join path,
    which joins the public string-keyed doc_tfidf_maps vectors."""
    pairs, _ = candidate_pairs(docs, BlockingConfig())
    cols = ["left_id", "right_id", "tfidf_cosine"]
    hashed = pair_tfidf_cosine(pair_features(pairs, docs), docs).select(*cols)
    stringk = pair_tfidf_cosine(pairs, docs).select(*cols)
    got, want = _rows(hashed), _rows(stringk)
    assert len(got) > 0 and any(r[2] > 0 for r in want)
    assert got == want


def test_sig_tool_features_match_reference_functions(spark, docs):
    """doc_payload ships sig/tools as pre-distinct hashed sets and the chain
    computes role_tool_overlap / signature_match by size arithmetic; both
    must equal the reference column functions (either_empty_jaccard_col /
    any_shared_col, pinned by unit tests) applied to the RAW doc arrays."""
    from lab02_citation_matching_and_entity_resolution_spark.operators.features import (
        any_shared_col,
        either_empty_jaccard_col,
    )

    pairs, _ = candidate_pairs(docs, BlockingConfig())
    got = pair_features(pairs, docs).select(
        "left_id", "right_id", "role_tool_overlap", "signature_match"
    )
    raw = docs.select(
        "conv_id",
        F.concat(F.col("roles"), F.col("tools")).alias("sig_raw"),
        F.col("tools").alias("tools_raw"),
    )
    want = (
        pairs.select("left_id", "right_id")
        .join(raw.select(F.col("conv_id").alias("left_id"),
                         F.col("sig_raw").alias("l_s"),
                         F.col("tools_raw").alias("l_t")), "left_id")
        .join(raw.select(F.col("conv_id").alias("right_id"),
                         F.col("sig_raw").alias("r_s"),
                         F.col("tools_raw").alias("r_t")), "right_id")
        .select(
            "left_id", "right_id",
            either_empty_jaccard_col(F.col("l_s"), F.col("r_s")).alias("role_tool_overlap"),
            any_shared_col(F.col("l_t"), F.col("r_t")).alias("signature_match"),
        )
    )
    assert _rows(got) == _rows(want)
