#!/usr/bin/env python
"""Dump .explain('formatted') for every bench-timed query path to
plans/r07/<name>_<tag>.txt (tag=before|after, argv[1])."""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TAG = sys.argv[1] if len(sys.argv) > 1 else "before"
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "plans", "r07")
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))


def main() -> None:
    from pyspark.sql import functions as F

    from lab02_citation_matching_and_entity_resolution_spark.session import get_spark
    from lab02_citation_matching_and_entity_resolution_spark.synth import (
        SynthConfig,
        transcripts_df_distributed,
    )
    from lab02_citation_matching_and_entity_resolution_spark.operators.assemble import (
        assemble_documents,
    )
    from lab02_citation_matching_and_entity_resolution_spark.operators.blocking import (
        candidate_pairs,
    )
    from lab02_citation_matching_and_entity_resolution_spark.operators.features import (
        pair_features,
    )
    from lab02_citation_matching_and_entity_resolution_spark.operators.tfidf import (
        pair_tfidf_cosine,
    )
    from lab02_citation_matching_and_entity_resolution_spark.operators.scoring import (
        fit_logistic,
        score_pairs_logistic,
        score_pairs_rule,
    )
    from lab02_citation_matching_and_entity_resolution_spark.operators.fused import (
        fused_scored_pairs,
    )
    from lab02_citation_matching_and_entity_resolution_spark.operators import (
        ann,
        dedup,
        sessions as sess_ops,
        textstats,
    )
    from lab02_citation_matching_and_entity_resolution_spark.queries_catalog import (
        REGISTRY,
        T,
    )

    os.makedirs(OUT, exist_ok=True)
    spark = get_spark(app_name="dump-plans", master=f"local[{CPUS}]",
                      shuffle_partitions=max(CPUS, 32))
    spark.sparkContext.setLogLevel("ERROR")

    # small corpus: plan SHAPE is scale-independent, keep the dump fast
    tr = transcripts_df_distributed(spark, SynthConfig(n_base=400)).persist()
    docs = assemble_documents(tr).persist()
    docs.count()
    pairs, _ = candidate_pairs(docs)
    pairs = pairs.persist()
    pairs.count()

    plans: dict = {}
    plans["assemble"] = assemble_documents(tr)
    plans["blocking"] = candidate_pairs(docs)[0]
    chain = score_pairs_rule(pair_tfidf_cosine(pair_features(pairs, docs), docs))
    plans["score_pairs_rule"] = chain.select("left_id", "right_id", "score")
    plans["score_pairs_allfeatures"] = pair_tfidf_cosine(pair_features(pairs, docs), docs)
    plans["fused"] = fused_scored_pairs(docs)[0].select("left_id", "right_id", "score")

    train = score_pairs_rule(
        pair_tfidf_cosine(pair_features(pairs.limit(2000), docs), docs)
    ).withColumn("label", (F.col("score") >= 0.5).cast("int"))
    model = fit_logistic(train, "label")
    plans["score_pairs_model"] = score_pairs_logistic(
        model, pair_tfidf_cosine(pair_features(pairs, docs), docs)
    ).select("left_id", "right_id", "model_score")

    for name in ["a5_sum_rollups", "j1_blocked_all_pairs", "w3_topk_per_group",
                 "m1_skew_cap", "a6_doc_freq_idf"]:
        plans[name] = REGISTRY[name].fn(spark, SF_DIR)

    docs_tbl = T(spark, SF_DIR, "documents")
    sigs = dedup.minhash_signatures(docs_tbl, hash_fn="xxhash64")
    plans["dedup_minhash_lsh"] = dedup.minhash_band_pairs(sigs)
    plans["dedup_exact"] = dedup.exact_dedup(docs_tbl)
    emb = T(spark, SF_DIR, "embeddings")
    queries = emb.limit(16).select(F.col("vec_id").alias("query_id"), "embedding")
    plans["ann_brute_topk"] = ann.brute_force_topk(emb, queries, k=10)
    plans["text_pii_scrub"] = textstats.pii_scrub(docs_tbl)
    plans["text_repetition"] = textstats.repetition_stats(docs_tbl)
    plans["text_decontaminate"] = textstats.decontaminate(
        docs_tbl.where(F.col("doc_id") % 50 != 0).select("doc_id", "text"),
        docs_tbl.where(F.col("doc_id") % 50 == 0).select("text"),
        n=3,
    )
    ev = T(spark, SF_DIR, "events").select("event_id", "user_id", "ts")
    plans["sessionize"] = sess_ops.session_stats(
        sess_ops.sessionize(ev, key_col="user_id", ts_col="ts", gap_seconds=21600,
                            tiebreak_cols=("event_id",))
    )

    for name, df in plans.items():
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        with open(os.path.join(OUT, f"{name}_{TAG}.txt"), "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {name}_{TAG}.txt")
    spark.stop()


if __name__ == "__main__":
    main()
