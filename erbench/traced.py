#!/usr/bin/env python3
"""Traced pass: time every layer of one workload from outside the program.

Started by ``run.py --trace 1`` in a fresh process (so a fresh JVM, like the
untraced round it is compared with) on the inputs that run already wrote:

    python3 erbench/traced.py --workload er_batch --input PATH --work DIR

Each layer is one call of the package's public functions whose output is
materialized (persisted and counted) before the next layer starts, inside a
span of wall time.  Spark's own task metrics of the tasks launched inside a
layer's spans (event log, ``sparklog.py``) give its CPU, wait, shuffle,
spill and GC.  Prints one JSON object of ``<layer>.<metric>`` values; layers
a workload does not run read 0.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

import sparkenv
import sparklog

LAYERS = ("assemble", "tfidf", "features", "fused", "resolve", "clustering",
          "dedup", "tables", "streaming")
# layers whose spans are disjoint and together cover a workload's operation
# (tfidf and features run again inside fused; assemble and tables run
# inside the streaming micro-batches)
CLOSURE = {
    "er_batch": ("assemble", "fused", "resolve", "clustering", "tables"),
    "dedup_corpus": ("dedup", "clustering", "tables"),
    "stream_ingest": ("streaming",),
}
COUNTS = {
    "blocking.candidate_pairs": "count", "blocking.cap_rows_dropped": "count",
    "fused.occurrences_per_pair": "ratio", "fused.exchanges": "count",
    "resolve.matches": "count", "resolve.pairwise_f1": "ratio",
    "clustering.rounds": "count", "clustering.round_s": "s",
    "dedup.candidate_pairs": "count", "tables.bytes_written": "bytes",
    "tables.files_written": "count", "streaming.batches": "count",
    "streaming.batch_s": "s",
}


class Ledger:
    def __init__(self):
        self.spans = defaultdict(list)  # layer -> [(start, end)] epoch seconds
        self.counts = {k: 0 for k in COUNTS}

    @contextmanager
    def span(self, layer: str):
        t0 = time.time()
        try:
            yield
        finally:
            self.spans[layer].append((t0, time.time()))

    def wall(self, layer: str) -> float:
        return sum(b - a for a, b in self.spans[layer])


def materialize(df):
    df = df.persist()
    df.count()
    return df


def _files(root: str) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            if not n.startswith((".", "_")):
                p = os.path.join(d, n)
                out[p] = os.path.getsize(p)
    return out


@contextmanager
def _tables(ledger: Ledger, root: str):
    """A ``tables`` span that also counts the data files it leaves new."""
    before = _files(root)
    with ledger.span("tables"):
        yield
    new = {p: s for p, s in _files(root).items() if p not in before}
    ledger.counts["tables.files_written"] += len(new)
    ledger.counts["tables.bytes_written"] += sum(new.values())


def _exchanges(df) -> int:
    """Exchange nodes (shuffle, broadcast, reused) in the physical plan of
    ``df`` as planned before it runs (AQE may re-plan stages later); the
    plan of a cached frame it scans counts once."""
    seen_cached = set()

    def count(node) -> int:
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            return count(node.executedPlan())
        n = int(name.endswith("Exchange"))
        if name == "InMemoryTableScan":
            cached = node.relation().cachedPlan()
            key = cached.toString()
            if key not in seen_cached:
                seen_cached.add(key)
                n += count(cached)
        kids = node.children()
        return n + sum(count(kids.apply(i)) for i in range(kids.size()))

    return count(df._jdf.queryExecution().executedPlan())


def trace_er(spark, path: str, out: str, ledger: Ledger) -> None:
    from pyspark.sql import functions as F

    from lab02_citation_matching_and_entity_resolution_spark.operators.assemble import (
        assemble_documents,
    )
    from lab02_citation_matching_and_entity_resolution_spark.operators.clustering import (
        connected_components_auto,
    )
    from lab02_citation_matching_and_entity_resolution_spark.operators.features import doc_payload
    from lab02_citation_matching_and_entity_resolution_spark.operators.fused import (
        _keyed_passes,
        fused_scored_pairs,
    )
    from lab02_citation_matching_and_entity_resolution_spark.operators.tfidf import doc_tfidf_maps
    from lab02_citation_matching_and_entity_resolution_spark.plans.dedup_pipeline import (
        DedupConfig,
    )
    from lab02_citation_matching_and_entity_resolution_spark.plans.lineage import (
        partition_key_col,
    )
    from lab02_citation_matching_and_entity_resolution_spark.plans.pipeline import PipelineConfig
    from lab02_citation_matching_and_entity_resolution_spark.sources.tables import TableStore

    cfg = PipelineConfig()  # the CLI's defaults
    with ledger.span("assemble"):
        docs = materialize(assemble_documents(spark.read.parquet(path)))
    with ledger.span("tfidf"):
        materialize(doc_tfidf_maps(docs)).unpersist()
    with ledger.span("features"):
        materialize(doc_payload(docs)).unpersist()
    with ledger.span("fused"):
        scored, block_metrics = fused_scored_pairs(docs, cfg.blocking)
        exchanges = _exchanges(scored)
        scored = materialize(scored)
        block_metrics = materialize(block_metrics)
    ledger.counts["blocking.candidate_pairs"] = n_pairs = scored.count()
    ledger.counts["blocking.cap_rows_dropped"] = (
        block_metrics.agg(F.sum("rows_dropped")).first()[0] or 0
    )
    ledger.counts["fused.exchanges"] = exchanges
    # every (left < right) pair of a block is scored once per block it
    # shares, before the cross-pass dedup
    occurrences = 0
    for _, keyed, _ in _keyed_passes(docs, cfg.blocking):
        sizes = keyed.groupBy("block_key").count()
        occurrences += sizes.agg(F.sum(F.col("count") * (F.col("count") - 1) / 2)).first()[0] or 0
    ledger.counts["fused.occurrences_per_pair"] = occurrences / max(1, n_pairs)

    with ledger.span("resolve"):
        matches = materialize(
            scored.where(F.col("score") >= cfg.threshold).select("left_id", "right_id", "score")
        )
    ledger.counts["resolve.matches"] = matches.count()
    stats: dict = {}
    with ledger.span("clustering"):
        clusters = materialize(connected_components_auto(
            matches, vertices=docs.select("conv_id"), max_iter=cfg.max_cc_iter, stats=stats,
            salt_buckets=cfg.cc_salt_buckets, hot_degree_threshold=cfg.cc_hot_degree_threshold,
        ))
    ledger.counts["clustering.rounds"] = stats.get("rounds") or 0

    store = TableStore(spark, out)
    n_parts = 64  # the CLI's --n-partitions default
    with _tables(ledger, out):
        store.overwrite_partitions(
            docs.withColumn("partition_key", partition_key_col("conv_id", n_parts)),
            "documents", ["partition_key"])
        store.overwrite_partitions(
            matches.withColumn("partition_key", partition_key_col("left_id", n_parts)),
            "matches", ["partition_key"])
        store.create_or_replace(clusters, "clusters")
        store.append(block_metrics.withColumn("run_id", F.lit("traced")), "block_cap_metrics")

    # the dedup layer (exact pass, minhash signatures and band pairs) over the
    # same documents: traced here because no benchmarked workload runs it end
    # to end, and kept out of the closure
    dedup_layer(ledger, docs.select("conv_id", "doc_text"),
                DedupConfig(id_col="conv_id", text_col="doc_text"))


def dedup_layer(ledger: Ledger, docs, cfg):
    """The dedup layer: the exact pass, ``minhash_signatures`` and
    ``minhash_band_pairs`` over ``docs``, in ``dedup`` spans.  Returns
    (pairs, band cap metrics) materialized."""
    from dataclasses import replace

    from pyspark.sql import functions as F

    from lab02_citation_matching_and_entity_resolution_spark.operators.dedup import (
        minhash_band_pairs,
        minhash_signatures,
    )
    from lab02_citation_matching_and_entity_resolution_spark.plans.dedup_pipeline import (
        dedup_pass_pairs,
    )

    with ledger.span("dedup"):
        exact = materialize(dedup_pass_pairs(docs, replace(cfg, passes=("exact",)))[0])
        sigs = materialize(minhash_signatures(
            docs, n_hashes=cfg.minhash_n_hashes, shingle_n=cfg.shingle_n, id_col=cfg.id_col,
            text_col=cfg.text_col, hash_fn=cfg.minhash_hash_fn,
        ))
        band, caps = minhash_band_pairs(
            sigs, n_hashes=cfg.minhash_n_hashes, bands=cfg.minhash_bands, id_col=cfg.id_col,
            band_cap=cfg.band_cap, cap_seed=cfg.cap_seed, return_metrics=True,
        )
        band = materialize(band)
        caps = materialize(caps.withColumn("pass", F.lit("minhash")))
    pairs = exact.unionByName(band.select(
        F.lit("minhash").alias("pass"), "left_id", "right_id",
        F.lit(None).cast("double").alias("detail"),
    ))
    ledger.counts["dedup.candidate_pairs"] = pairs.count()
    return pairs, caps


def trace_dedup(spark, path: str, out: str, ledger: Ledger) -> None:
    from pyspark.sql import functions as F

    from lab02_citation_matching_and_entity_resolution_spark.operators.dedup import (
        near_dup_groups,
    )
    from lab02_citation_matching_and_entity_resolution_spark.plans.dedup_pipeline import (
        DedupConfig,
    )
    from lab02_citation_matching_and_entity_resolution_spark.plans.lineage import (
        partition_key_col,
    )
    from lab02_citation_matching_and_entity_resolution_spark.sources.tables import TableStore

    cfg = DedupConfig(passes=("exact", "minhash"))  # the CLI's defaults
    docs = spark.read.parquet(path)
    pairs, caps = dedup_layer(ledger, docs, cfg)
    stats: dict = {}
    with ledger.span("clustering"):
        groups = materialize(near_dup_groups(
            pairs.select("left_id", "right_id"), docs=docs, id_col=cfg.id_col, stats=stats,
        ))
    ledger.counts["clustering.rounds"] = stats.get("rounds") or 0

    store = TableStore(spark, out)
    with _tables(ledger, out):
        store.create_or_replace(pairs, "dedup_pairs")
        store.overwrite_partitions(
            groups.withColumn("partition_key", partition_key_col(cfg.id_col, 64)),
            "dedup_groups", ["partition_key"])
        keepers = docs.join(
            groups.where(F.col("is_keeper")).select(cfg.id_col), cfg.id_col, "left_semi")
        store.create_or_replace(keepers, "dedup_keepers")
        store.append(caps.withColumn("run_id", F.lit("traced")), "dedup_cap_metrics")


def trace_stream(spark, path: str, out: str, ledger: Ledger) -> None:
    """The real ``start_ingest`` drain, one file per trigger, over a
    TableStore whose writes are ``tables`` spans; the documents it upserts
    are materialized first, in an ``assemble`` span.  Micro-batch spans come
    from the query's own progress reports."""
    import datetime as dt

    from lab02_citation_matching_and_entity_resolution_spark.sources.tables import TableStore
    from lab02_citation_matching_and_entity_resolution_spark.streaming import ingest

    class TracedStore(TableStore):
        def append(self, df, name, partition_by=None):
            with _tables(ledger, self.root):
                super().append(df, name, partition_by)

        def merge_upsert_partitioned(self, df, name, key_cols, partition_col):
            if name == ingest.DOCS_TABLE:
                with ledger.span("assemble"):
                    df = materialize(df)
            try:
                with _tables(ledger, self.root):
                    super().merge_upsert_partitioned(df, name, key_cols, partition_col)
            finally:
                df.unpersist()

    store = TracedStore(spark, out)
    q = ingest.start_ingest(
        ingest.read_transcript_stream(spark, path, max_files_per_trigger=1), store,
        os.path.join(out, "_stream_ckpt"),
    )
    if not q.awaitTermination(150) or q.exception() is not None:
        q.stop()
        raise RuntimeError(f"traced stream drain failed: {q.exception()}")
    for p in q.recentProgress:
        if p.numInputRows > 0:
            start = dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
            ledger.spans["streaming"].append((start, start + p.durationMs["triggerExecution"] / 1e3))
    batch_walls = [b - a for a, b in ledger.spans["streaming"]]
    ledger.counts["streaming.batches"] = len(batch_walls)
    ledger.counts["streaming.batch_s"] = statistics.median(batch_walls)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(CLOSURE))
    ap.add_argument("--input", required=True)
    ap.add_argument("--work", required=True)
    args = ap.parse_args()
    events = os.path.join(args.work, "events")
    sparkenv.configure(args.work, events)
    from lab02_citation_matching_and_entity_resolution_spark.session import get_spark

    spark = get_spark(app_name="er-pipeline-traced", master=sparkenv.master())
    ledger = Ledger()
    run = {"er_batch": trace_er, "dedup_corpus": trace_dedup, "stream_ingest": trace_stream}
    run[args.workload](spark, args.input, os.path.join(args.work, "out"), ledger)
    if ledger.counts["clustering.rounds"]:
        ledger.counts["clustering.round_s"] = (
            ledger.wall("clustering") / ledger.counts["clustering.rounds"]
        )
    sparkenv.stop_jvm()

    tasks = sparklog.read_tasks(events)
    metrics = {}
    for layer in LAYERS:
        t = sparklog.totals_in(tasks, ledger.spans[layer])
        for name, value, unit in (
            ("wall_s", ledger.wall(layer), "s"), ("cpu_s", t.cpu_s, "s"),
            ("wait_s", t.wait_s, "s"), ("shuffle_bytes", t.shuffle_bytes, "bytes"),
            ("spill_bytes", t.spill_bytes, "bytes"), ("gc_s", t.gc_s, "s"),
        ):
            metrics[f"{layer}.{name}"] = {"value": value, "unit": unit}
    for name, unit in COUNTS.items():
        metrics[name] = {"value": ledger.counts[name], "unit": unit}
    metrics["closure.layer_wall_s"] = {
        "value": sum(ledger.wall(layer) for layer in CLOSURE[args.workload]), "unit": "s",
    }
    print(json.dumps(metrics))
    return 0


if __name__ == "__main__":
    sys.exit(main())
