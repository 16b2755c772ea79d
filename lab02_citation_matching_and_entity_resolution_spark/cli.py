"""spark-submit entry point (north rule: ``spark-submit --py-files engine.zip cli.py``).

Runs the ER pipeline against a transcripts table (parquet path or Iceberg
table name), writing documents / pairs / matches / clusters plus per-partition
lineage + metrics to the TableStore, with --resume support.

Usage:
  spark-submit --py-files er_engine.zip -m lab02_..._spark.cli \
      --input /path/transcripts --output /path/er_out \
      [--synthetic N_BASE] [--threshold 0.7] [--resume RUN_ID] [--greedy]

Streaming ingest mode (--stream-input DIR): drain a JSONL turn-record
directory through the Structured Streaming front (readStream ->
incremental re-assembly -> partition-bounded upsert of documents_live),
then exit; the checkpoint lives under <output>/_stream_ckpt, so
re-invoking after new files arrive processes only the new data.
"""

from __future__ import annotations

import argparse
import os
import sys
import time
import uuid

from pyspark.sql import functions as F


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="transcripts parquet path (or Iceberg table)")
    ap.add_argument("--output", required=True, help="TableStore root")
    ap.add_argument("--synthetic", type=int, default=0,
                    help="generate a synthetic corpus with N base entities instead of --input")
    ap.add_argument("--threshold", type=float, default=0.7)
    ap.add_argument("--greedy", action="store_true", help="reference-parity greedy 1:1 resolution")
    ap.add_argument("--cc-salt-buckets", type=int, default=16,
                    help="salted skew handling: reducers per hot vertex in "
                         "the CC label join (propagation rounds; the star "
                         "fallback needs none)")
    ap.add_argument("--cc-hot-degree-threshold", type=int, default=1_000_000,
                    help="symmetrized degree at which a vertex counts as hot "
                         "for CC salting")
    ap.add_argument("--stream-input", default=None,
                    help="JSONL turn-record directory: drain it through the "
                         "streaming ingest front into documents_live, then "
                         "exit (checkpointed; re-invocation is incremental)")
    ap.add_argument("--stream-near-dups", action="store_true",
                    help="with --stream-input: LSH-band each batch's "
                         "documents against the persisted corpus band index "
                         "(dedup_band_index) and upsert near_dup_flags; the "
                         "index grows incrementally, the corpus is never "
                         "re-shingled")
    ap.add_argument("--stream-stats", action="store_true",
                    help="with --stream-input: also drain the live-stats "
                         "queries — watermarked per-role turn_rate_5m and "
                         "timeout-closed conversations_closed tables "
                         "(own checkpoints; incremental like the ingest)")
    ap.add_argument("--stream-gap-seconds", type=int, default=1800,
                    help="idle gap after which --stream-stats closes a "
                         "conversation")
    ap.add_argument("--dedup", action="store_true",
                    help="corpus-dedup mode: --input is a documents parquet "
                         "(id/text via --id-col/--text-col); runs the composed "
                         "dedup pipeline (passes -> union -> transitive groups "
                         "-> keepers) and writes dedup_pairs / dedup_groups / "
                         "dedup_keepers plus per-pass cap audits and metrics")
    ap.add_argument("--dedup-passes", default="exact,minhash",
                    help="comma list from {exact,minhash,simhash,ngram,"
                         "embedding}; embedding requires --embeddings")
    ap.add_argument("--band-cap", type=int, default=1000,
                    help="LSH band-bucket cap for the minhash/simhash passes "
                         "(audited, never silent)")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--embeddings", default=None,
                    help="embeddings parquet for the embedding pass (ids must "
                         "be the document ids); enables the IVF recall audit")
    ap.add_argument("--embedding-cells", type=int, default=256,
                    help="IVF cell count blocking the embedding cosine "
                         "self-join; size so corpus/cells pairs fit a task "
                         "(cells >= corpus size degenerates to no blocking "
                         "-> zero pairs)")
    ap.add_argument("--mix", default=None,
                    help="after dedup, re-mix the keepers to this domain "
                         "composition, e.g. 'web:0.6,wiki:0.4' (writes "
                         "corpus_sample; shortfalls audited to metrics)")
    ap.add_argument("--mix-n", type=int, default=0,
                    help="target corpus_sample size for --mix")
    ap.add_argument("--mix-col", default="source",
                    help="strata column for --mix")
    ap.add_argument("--resume", default=None, help="run_id to resume")
    ap.add_argument("--n-partitions", type=int, default=64,
                    help="lineage partition count (cluster-size independent)")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    from .session import get_spark
    from .sources.tables import TableStore
    from .plans.lineage import LineageLog, partition_key_col
    from .plans.pipeline import PipelineConfig, run_pipeline
    from .synth import SynthConfig, transcripts_df

    spark = get_spark(app_name="er-pipeline", master=args.master)
    store = TableStore(spark, args.output)

    if args.stream_input:
        _run_stream(spark, store, args)
        spark.stop()
        return

    run_id = args.resume or uuid.uuid4().hex[:12]
    log = LineageLog(store, run_id)

    if args.dedup:
        _run_dedup(spark, store, log, run_id, args)
        spark.stop()
        return

    if args.synthetic:
        transcripts = transcripts_df(spark, SynthConfig(n_base=args.synthetic))
    else:
        transcripts = spark.read.parquet(args.input)

    t0 = time.time()
    cfg = PipelineConfig(threshold=args.threshold, use_greedy_one_to_one=args.greedy,
                         cc_salt_buckets=args.cc_salt_buckets,
                         cc_hot_degree_threshold=args.cc_hot_degree_threshold)
    result = run_pipeline(transcripts, cfg)

    # partition everything by the lineage partition key for resumable writes
    docs = result.documents.withColumn(
        "partition_key", partition_key_col("conv_id", args.n_partitions)
    )
    if args.resume:
        docs = log.resume_filter(docs, "documents")
    store.overwrite_partitions(docs, "documents", ["partition_key"])
    done = [
        (r["partition_key"], r["n"])
        for r in docs.groupBy("partition_key").agg(F.count("*").alias("n")).collect()
    ]
    log.mark_done("documents", done)

    matches = result.matches.withColumn(
        "partition_key", partition_key_col("left_id", args.n_partitions)
    )
    store.overwrite_partitions(matches, "matches", ["partition_key"])
    store.create_or_replace(result.clusters, "clusters")
    store.append(
        result.block_metrics.withColumn("run_id", F.lit(run_id)), "block_cap_metrics"
    )

    n_pairs = result.pairs.count()
    n_matches = store.read("matches").count()
    n_clusters = store.read("clusters").select("cluster_id").distinct().count()
    wall = time.time() - t0
    log.log_metrics(
        "pipeline",
        [
            (0, "pairs_scored", float(n_pairs)),
            (0, "matches", float(n_matches)),
            (0, "clusters", float(n_clusters)),
            (0, "wall_sec", wall),
            (0, "pairs_per_sec", n_pairs / wall if wall > 0 else 0.0),
            # clustering observability: which CC variant actually ran and
            # whether auto fell back to star (the lineage record the fallback
            # design promises)
            (0, "cc_rounds", float(result.cc_stats.get("rounds") or 0)),
            (0, "cc_fallback_to_star", 1.0 if result.cc_stats.get("fallback") else 0.0),
        ],
    )
    print(
        f"run_id={run_id} pairs={n_pairs} matches={n_matches} "
        f"clusters={n_clusters} wall={wall:.1f}s pairs/sec={n_pairs / wall:.0f}"
    )
    spark.stop()


def _run_stream(spark, store, args) -> None:
    """--stream-input mode body: drain the JSONL turn directory into
    documents_live (checkpointed under <output>/_stream_ckpt, at most
    DRAIN_MAX_FILES_PER_TRIGGER files per micro-batch), then optionally the
    live-stats queries; prints the drained table counts."""
    from .streaming.ingest import (
        DRAIN_MAX_FILES_PER_TRIGGER,
        read_transcript_stream,
        start_ingest,
    )

    ckpt = os.path.join(args.output, "_stream_ckpt")
    stream = read_transcript_stream(
        spark, args.stream_input, max_files_per_trigger=DRAIN_MAX_FILES_PER_TRIGGER
    )
    q = start_ingest(stream, store, ckpt, near_dups=args.stream_near_dups)
    drained = q.awaitTermination(600)
    if not drained:
        # timeout: counts would be mid-drain lies and spark.stop() would
        # kill an active batch — stop the query cleanly and fail loudly
        q.stop()
        print("stream drain TIMED OUT after 600s — partial state, re-run "
              "to resume from checkpoint", file=sys.stderr)
        spark.stop()
        sys.exit(2)
    n_turns = store.read("turns_raw").count() if store.exists("turns_raw") else 0
    n_docs = (
        store.read("documents_live").count()
        if store.exists("documents_live")
        else 0
    )
    print(f"stream drained: turns_raw={n_turns} documents_live={n_docs}")
    if args.stream_stats:
        from .streaming.live_stats import start_live_stats_drain

        qs = start_live_stats_drain(
            read_transcript_stream(spark, args.stream_input),
            store,
            os.path.join(args.output, "_stream_stats_ckpt"),
            gap_seconds=args.stream_gap_seconds,
        )
        for q2 in qs:
            if not q2.awaitTermination(600):
                # stop EVERY stats query, not just the timed-out one:
                # a sibling still active when spark.stop() runs is the
                # mid-batch kill the ingest path avoids by stopping the
                # query first (round-5 ADVICE)
                for q3 in qs:
                    q3.stop()
                print("stream stats drain TIMED OUT after 600s — re-run "
                      "to resume from checkpoint", file=sys.stderr)
                spark.stop()
                sys.exit(2)
        def _n(table: str) -> int:
            # a drain that closed nothing leaves a metadata-only sink
            # dir; parquet schema inference fails there -> count is 0.
            # Only THAT failure maps to 0 — a genuinely corrupted sink
            # must not masquerade as a clean empty drain (round-5
            # ADVICE), so anything else logs and re-raises.
            from pyspark.errors import AnalysisException

            if not store.exists(table):
                return 0
            try:
                return store.read(table).count()
            except AnalysisException as exc:
                msg = str(exc)
                if "UNABLE_TO_INFER_SCHEMA" in msg or "Unable to infer schema" in msg:
                    return 0  # metadata-only sink dir: nothing was closed
                print(f"reading {table} failed: {msg}", file=sys.stderr)
                raise

        n_rate = _n("turn_rate_5m")
        n_closed = _n("conversations_closed")
        print(f"stream stats: turn_rate_5m={n_rate} "
              f"conversations_closed={n_closed}")


def _run_dedup(spark, store, log, run_id: str, args) -> None:
    """--dedup mode body: composed corpus dedup through TableStore + lineage.

    Mirrors the ER flagship's write discipline: the keep/drop assignment
    (dedup_groups) is the resumable partitioned output; evidence tables
    (dedup_pairs, dedup_cap_metrics) and every audit the operators produce
    (per-pass caps, CC stats, IVF recall, mix shortfalls) land in the same
    TableStore/metrics surface so "dedup this corpus" has the observability
    a 100 TB run needs without hand-wiring (round-5 verdict tasks 3 and 8).
    """
    from .plans.dedup_pipeline import DedupConfig, run_dedup_pipeline
    from .plans.lineage import partition_key_col

    if not args.input:
        sys.exit("--dedup requires --input (a documents parquet)")
    docs = spark.read.parquet(args.input)
    emb = spark.read.parquet(args.embeddings) if args.embeddings else None

    passes = tuple(p.strip() for p in args.dedup_passes.split(",") if p.strip())
    cfg = DedupConfig(
        passes=passes,
        id_col=args.id_col,
        text_col=args.text_col,
        band_cap=args.band_cap,
        embedding_n_cells=args.embedding_cells,
    )
    t0 = time.time()
    result = run_dedup_pipeline(docs, cfg, embeddings=emb)

    store.create_or_replace(result.pairs, "dedup_pairs")
    groups = result.groups.withColumn(
        "partition_key", partition_key_col(args.id_col, args.n_partitions)
    )
    if args.resume:
        groups = log.resume_filter(groups, "dedup_groups")
    store.overwrite_partitions(groups, "dedup_groups", ["partition_key"])
    done = [
        (r["partition_key"], r["n"])
        for r in groups.groupBy("partition_key").agg(F.count("*").alias("n")).collect()
    ]
    log.mark_done("dedup_groups", done)
    store.create_or_replace(result.keepers, "dedup_keepers")
    store.append(
        result.cap_metrics.withColumn("run_id", F.lit(run_id)), "dedup_cap_metrics"
    )

    # bounded audit scalars -> metrics (one row per pass / per probe / per
    # stratum; every .collect() here is audit-sized by construction)
    pass_counts = {
        r["pass"]: r["n"]
        for r in store.read("dedup_pairs").groupBy("pass").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    cap_totals = {
        r["pass"]: (r["blocks"], r["dropped"])
        for r in result.cap_metrics.groupBy("pass").agg(
            F.count(F.lit(1)).alias("blocks"),
            F.coalesce(F.sum("rows_dropped"), F.lit(0)).alias("dropped"),
        ).collect()
    }
    metric_rows: list[tuple[int, str, float]] = []
    for p in passes:
        metric_rows.append((0, f"pairs_{p}", float(pass_counts.get(p, 0))))
        blocks, dropped = cap_totals.get(p, (0, 0))
        metric_rows.append((0, f"capped_blocks_{p}", float(blocks)))
        metric_rows.append((0, f"cap_rows_dropped_{p}", float(dropped)))
    n_docs = docs.count()
    n_keepers = store.read("dedup_keepers").count()
    n_groups = (
        store.read("dedup_groups").where(~F.col("is_keeper")).count()
    )  # docs dropped
    wall = time.time() - t0
    metric_rows += [
        (0, "docs_in", float(n_docs)),
        (0, "keepers", float(n_keepers)),
        (0, "docs_dropped", float(n_groups)),
        (0, "wall_sec", wall),
        (0, "docs_per_sec", n_docs / wall if wall > 0 else 0.0),
        (0, "cc_rounds", float(result.cc_stats.get("rounds") or 0)),
        (0, "cc_fallback_to_star", 1.0 if result.cc_stats.get("fallback") else 0.0),
    ]
    if result.ivf_audit is not None:
        for r in result.ivf_audit.collect():
            metric_rows.append(
                (0, f"ivf_recall_mean_p{r['n_probe']}", float(r["mean_recall"]))
            )
            metric_rows.append(
                (0, f"ivf_recall_min_p{r['n_probe']}", float(r["min_recall"]))
            )
    if args.mix:
        from .operators.mixing import mix_audit, mix_sample

        if args.mix_n <= 0:
            sys.exit("--mix requires --mix-n > 0")
        targets = {}
        for part in args.mix.split(","):
            k, v = part.split(":")
            targets[k.strip()] = float(v)
        keepers = store.read("dedup_keepers")
        sample = mix_sample(
            keepers, targets, args.mix_n, strata_col=args.mix_col,
            id_col=args.id_col,
        )
        store.create_or_replace(sample, "corpus_sample")
        for r in mix_audit(
            store.read("corpus_sample"), targets, args.mix_n, strata_col=args.mix_col
        ).collect():
            metric_rows.append(
                (0, f"mix_shortfall_{r[args.mix_col]}", float(r["shortfall"]))
            )
    log.log_metrics("dedup", metric_rows)
    print(
        f"run_id={run_id} passes={','.join(passes)} docs={n_docs} "
        f"keepers={n_keepers} dropped={n_groups} wall={wall:.1f}s"
    )


if __name__ == "__main__":
    main()
