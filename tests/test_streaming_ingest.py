"""Streaming transcript ingest: file-source stream -> incremental assembly ->
live documents table, with conversations SPANNING restarts (the checkpoint
contract) and batch/stream parity (same assemble_documents semantics)."""

import json
import os

from pyspark.sql import functions as F

from lab02_citation_matching_and_entity_resolution_spark.operators.assemble import (
    assemble_documents,
)
from lab02_citation_matching_and_entity_resolution_spark.sources.tables import TableStore
from lab02_citation_matching_and_entity_resolution_spark.streaming.ingest import (
    read_transcript_stream,
    start_ingest,
)


def _write_turns(path, name, rows):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


TURNS_A = [
    {"conv_id": "c1", "turn_idx": 0, "role": "user", "text": "Hello there agent", "tool": None, "ts": "2026-01-01T10:00:00"},
    {"conv_id": "c1", "turn_idx": 1, "role": "assistant", "text": "Hi, how can I help", "tool": None, "ts": "2026-01-01T10:00:05"},
    {"conv_id": "c2", "turn_idx": 0, "role": "user", "text": "Resolve these entities", "tool": "resolver", "ts": "2026-01-01T11:00:00"},
]
TURNS_B = [
    # c1 continues in a LATER file: the incremental path must re-assemble it
    {"conv_id": "c1", "turn_idx": 2, "role": "user", "text": "Thanks for the help", "tool": None, "ts": "2026-01-01T10:01:00"},
    {"conv_id": "c3", "turn_idx": 0, "role": "user", "text": "A brand new conversation", "tool": None, "ts": "2026-01-01T12:00:00"},
]


def _run_drain(spark, src, store, ckpt):
    q = start_ingest(read_transcript_stream(spark, src), store, ckpt)
    q.awaitTermination(120)
    assert not q.isActive


def test_stream_ingest_incremental_and_restart_safe(spark, tmp_path):
    src = str(tmp_path / "incoming")
    ckpt = str(tmp_path / "ckpt")
    store = TableStore(spark, str(tmp_path / "tables"))

    _write_turns(src, "batch_a.jsonl", TURNS_A)
    _run_drain(spark, src, store, ckpt)
    docs1 = {r["conv_id"]: r for r in store.read("documents_live").collect()}
    assert set(docs1) == {"c1", "c2"}
    assert docs1["c1"]["n_turns"] == 2

    # second arrival: c1 grows, c3 appears; restart the query from checkpoint
    _write_turns(src, "batch_b.jsonl", TURNS_B)
    _run_drain(spark, src, store, ckpt)
    docs2 = {r["conv_id"]: r for r in store.read("documents_live").collect()}
    assert set(docs2) == {"c1", "c2", "c3"}
    assert docs2["c1"]["n_turns"] == 3          # re-assembled, not duplicated
    assert docs2["c2"]["doc_text"] == docs1["c2"]["doc_text"]  # untouched conv survives

    # stream/batch parity: the live table must equal assemble_documents over
    # the full batch input (same code path, same semantics)
    all_turns = spark.createDataFrame(
        [tuple(r.values()) for r in TURNS_A + TURNS_B],
        "conv_id string, turn_idx int, role string, text string, tool string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    expected = {r["conv_id"]: r for r in assemble_documents(all_turns).collect()}
    for cid, row in expected.items():
        assert docs2[cid]["doc_text"] == row["doc_text"], cid
        assert docs2[cid]["n_turns"] == row["n_turns"], cid

    # checkpoint really is the dedup: a third drain with NO new files is a no-op
    _run_drain(spark, src, store, ckpt)
    assert store.read("turns_raw").count() == len(TURNS_A + TURNS_B)


def test_stream_ingest_batch_replay_is_idempotent(spark, tmp_path):
    """Crash-replay contract: invoking the foreachBatch handler twice with
    the SAME micro-batch (what Structured Streaming does after a failure
    between the side-effect and the checkpoint commit) must leave the
    documents table identical to a single delivery."""
    from lab02_citation_matching_and_entity_resolution_spark.streaming.ingest import (
        incremental_assemble,
    )

    store = TableStore(spark, str(tmp_path / "tables"))
    handler = incremental_assemble(store)
    batch = spark.createDataFrame(
        [tuple(r.values()) for r in TURNS_A],
        "conv_id string, turn_idx int, role string, text string, tool string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    handler(batch, 0)
    once = {r["conv_id"]: (r["doc_text"], r["n_turns"])
            for r in store.read("documents_live").collect()}
    handler(batch, 0)  # replay
    twice = {r["conv_id"]: (r["doc_text"], r["n_turns"])
             for r in store.read("documents_live").collect()}
    assert twice == once
    assert twice["c1"][1] == 2  # not doubled


def test_history_read_prunes_partitions(spark, tmp_path):
    """The per-batch history read must PRUNE the turns_raw scan to the
    batch's conv_bucket partitions (PartitionFilters in the plan), not read
    the whole raw table and rely on the semi-join — at 100 TB an unpruned
    scan is a per-batch full-table read (round-3 verdict finding #1)."""
    from lab02_citation_matching_and_entity_resolution_spark.streaming.ingest import (
        incremental_assemble,
        pruned_history,
    )

    store = TableStore(spark, str(tmp_path / "tables"))
    handler = incremental_assemble(store)
    batch = spark.createDataFrame(
        [tuple(r.values()) for r in TURNS_A + TURNS_B],
        "conv_id string, turn_idx int, role string, text string, tool string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    handler(batch, 0)

    # turns_raw is physically partitioned by conv_bucket
    raw_dir = tmp_path / "tables" / "turns_raw"
    assert any(p.name.startswith("conv_bucket=") for p in raw_dir.iterdir())

    affected = batch.select("conv_id").distinct().where(F.col("conv_id") == "c1")
    hist = pruned_history(store, "turns_raw", affected, [3])
    plan = hist._sc._jvm.PythonSQLUtils.explainString(
        hist._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters")[1][:300]
    assert "conv_bucket" in pf

    # and the pruned read still returns exactly the touched conversations
    # when given the real bucket set
    real_buckets = [
        r[0]
        for r in batch.select(
            F.pmod(F.xxhash64("conv_id"), F.lit(64)).cast("int")
        ).distinct().collect()
    ]
    full = pruned_history(store, "turns_raw", batch.select("conv_id").distinct(), real_buckets)
    assert full.count() == len(TURNS_A + TURNS_B)
    assert "conv_bucket" not in full.columns


def test_docs_upsert_rewrites_only_touched_partitions(spark, tmp_path):
    """documents_live is bucket-partitioned and a batch's upsert must leave
    every untouched bucket's files byte-identical on disk — the whole-table
    rewrite of the plain parquet merge_upsert is a per-batch scale bug in a
    streaming loop."""
    from lab02_citation_matching_and_entity_resolution_spark.streaming.ingest import (
        incremental_assemble,
    )

    def _ddl(rows):
        return spark.createDataFrame(
            [tuple(r.values()) for r in rows],
            "conv_id string, turn_idx int, role string, text string, tool string, ts string",
        ).withColumn("ts", F.to_timestamp("ts"))

    store = TableStore(spark, str(tmp_path / "tables"))
    handler = incremental_assemble(store)
    handler(_ddl(TURNS_A), 0)  # creates docs for c1, c2

    docs_dir = tmp_path / "tables" / "documents_live"
    bucket_dirs = [p for p in docs_dir.iterdir() if p.name.startswith("conv_bucket=")]
    assert bucket_dirs  # partitioned layout
    before = {
        p.name: sorted((f.name, f.stat().st_mtime_ns) for f in p.glob("*.parquet"))
        for p in bucket_dirs
    }

    handler(_ddl(TURNS_B), 1)  # touches c1 (grows) and c3 (new), NOT c2
    touched = {
        r[0]
        for r in _ddl(TURNS_B)
        .select(F.pmod(F.xxhash64("conv_id"), F.lit(64)).cast("int"))
        .distinct()
        .collect()
    }
    after = {
        p.name: sorted((f.name, f.stat().st_mtime_ns) for f in p.glob("*.parquet"))
        for p in docs_dir.iterdir()
        if p.name.startswith("conv_bucket=")
    }
    for name, files in before.items():
        bucket = int(name.split("=")[1])
        if bucket not in touched:
            assert after[name] == files, f"untouched {name} was rewritten"
    # and the merged table is still correct
    docs = {r["conv_id"]: r for r in store.read("documents_live").collect()}
    assert set(docs) == {"c1", "c2", "c3"}
    assert docs["c1"]["n_turns"] == 3


def test_bucket_count_drift_fails_loudly(spark, tmp_path):
    """Restarting the handler with a different n_buckets would silently
    lose history (pruned reads miss the stored partitions) — it must raise
    instead (code-review finding, round 4)."""
    import pytest

    from lab02_citation_matching_and_entity_resolution_spark.streaming.ingest import (
        incremental_assemble,
    )

    store = TableStore(spark, str(tmp_path / "tables"))
    batch = spark.createDataFrame(
        [tuple(r.values()) for r in TURNS_A],
        "conv_id string, turn_idx int, role string, text string, tool string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    incremental_assemble(store)(batch, 0)  # records n_buckets=64
    with pytest.raises(RuntimeError, match="n_buckets=64"):
        incremental_assemble(store, n_buckets=32)(batch, 1)
    # same bucket count restarts fine
    incremental_assemble(store)(batch, 1)


def test_legacy_unpartitioned_turns_table_fails_loudly(spark, tmp_path):
    """Appending bucketed files beside a pre-bucketing flat turns_raw would
    give Spark's conflicting-directory-structures error on every later read
    — the handler must refuse up front with a migration message."""
    import pytest

    from lab02_citation_matching_and_entity_resolution_spark.streaming.ingest import (
        incremental_assemble,
    )

    store = TableStore(spark, str(tmp_path / "tables"))
    batch = spark.createDataFrame(
        [tuple(r.values()) for r in TURNS_A],
        "conv_id string, turn_idx int, role string, text string, tool string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    store.append(batch, "turns_raw")  # legacy: unpartitioned
    with pytest.raises(RuntimeError, match="UNPARTITIONED"):
        incremental_assemble(store)(batch, 0)


def test_missing_meta_on_bucketed_table_refuses(spark, tmp_path):
    """A bucketed turns_raw whose meta file was deleted (or created
    out-of-band) must NOT be re-legitimized with the handler's configured
    count — a wrong count silently loses history in pruned reads (round-4
    ADVICE)."""
    import os

    import pytest

    from lab02_citation_matching_and_entity_resolution_spark.streaming.ingest import (
        incremental_assemble,
    )

    store = TableStore(spark, str(tmp_path / "tables"))
    batch = spark.createDataFrame(
        [tuple(r.values()) for r in TURNS_A],
        "conv_id string, turn_idx int, role string, text string, tool string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    incremental_assemble(store)(batch, 0)  # records n_buckets=64
    os.unlink(str(tmp_path / "tables" / "turns_raw.__buckets.json"))
    with pytest.raises(RuntimeError, match="no turns_raw.__buckets.json"):
        incremental_assemble(store)(batch, 1)


def test_bucket_meta_concurrent_first_init_first_writer_wins(spark, tmp_path):
    """Two handlers first-initializing the same store concurrently: the meta
    publish is atomic (temp + hard link), the loser validates the winner's
    value — no torn file, no exception for agreeing configs, a loud error
    for disagreeing ones."""
    import json
    import threading

    from lab02_citation_matching_and_entity_resolution_spark.streaming.ingest import (
        _check_bucket_layout,
    )

    store = TableStore(spark, str(tmp_path / "tables"))
    errs: list = []

    def init(n):
        try:
            _check_bucket_layout(store, "turns_raw", n)
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=init, args=(64,)) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    meta = tmp_path / "tables" / "turns_raw.__buckets.json"
    assert json.loads(meta.read_text()) == {"n_buckets": 64}
    # no orphan temp files
    assert not list((tmp_path / "tables").glob("*.tmp.*"))
    # a disagreeing late-comer still fails loudly
    import pytest

    with pytest.raises(RuntimeError, match="n_buckets=64"):
        _check_bucket_layout(store, "turns_raw", 32)


# ---------------------------------------------------------------------------
# incremental near-dup flagging (round-6: incremental_band_pairs wired into
# the ingest loop — the operator's stated purpose)
# ---------------------------------------------------------------------------

_ND_TEXT = (
    "the quarterly report shows revenue grew twelve percent while costs "
    "stayed flat across every region we operate in this year"
)

ND_BATCH_A = [
    {"conv_id": "nd1", "turn_idx": 0, "role": "user", "text": _ND_TEXT, "tool": None, "ts": "2026-01-01T10:00:00"},
    {"conv_id": "nd2", "turn_idx": 0, "role": "user", "text": _ND_TEXT, "tool": None, "ts": "2026-01-01T10:05:00"},
    {"conv_id": "nd3", "turn_idx": 0, "role": "user", "text": "a completely unrelated conversation about gardening tools", "tool": None, "ts": "2026-01-01T10:10:00"},
]
ND_BATCH_B = [
    # nd4 duplicates the BATCH-A text: must be flagged against the standing
    # corpus index (cross), never by re-shingling the corpus
    {"conv_id": "nd4", "turn_idx": 0, "role": "user", "text": _ND_TEXT, "tool": None, "ts": "2026-01-01T11:00:00"},
    # nd3 grows: its signature must be REPLACED in the index, and it must
    # not be matched against its own stale rows
    {"conv_id": "nd3", "turn_idx": 1, "role": "assistant", "text": "sure, let us talk about pruning shears then", "tool": None, "ts": "2026-01-01T11:05:00"},
]


def _drain_near_dups(spark, src, store, ckpt):
    q = start_ingest(read_transcript_stream(spark, src), store, ckpt, near_dups=True)
    q.awaitTermination(120)
    assert not q.isActive


def test_stream_near_dup_flags_incremental(spark, tmp_path):
    src = str(tmp_path / "incoming")
    ckpt = str(tmp_path / "ckpt")
    store = TableStore(spark, str(tmp_path / "tables"))

    _write_turns(src, "batch_a.jsonl", ND_BATCH_A)
    _drain_near_dups(spark, src, store, ckpt)

    # intra-batch: the two identical batch-A conversations flag each other
    flags1 = {(r["left_id"], r["right_id"]): r["origin"]
              for r in store.read("near_dup_flags").collect()}
    assert flags1 == {("nd1", "nd2"): "batch"}
    # index holds one row per (conv, band): 3 convs x 4 bands
    idx1 = store.read("dedup_band_index")
    assert idx1.count() == 12
    assert idx1.select("conv_id").distinct().count() == 3

    # second arrival drains from the checkpoint (restart safety)
    _write_turns(src, "batch_b.jsonl", ND_BATCH_B)
    _drain_near_dups(spark, src, store, ckpt)

    flags2 = {(r["left_id"], r["right_id"]): r["origin"]
              for r in store.read("near_dup_flags").collect()}
    # nd4 hits BOTH standing duplicates via the persisted index
    assert flags2[("nd4", "nd1")] == "cross"
    assert flags2[("nd4", "nd2")] == "cross"
    # the batch-A intra flag survives the upsert
    assert flags2[("nd1", "nd2")] == "batch"
    # re-assembled nd3 never matches its own stale index rows
    assert ("nd3", "nd3") not in flags2

    # index grew by the new conv and REPLACED (not duplicated) nd3's rows
    idx2 = store.read("dedup_band_index")
    assert idx2.count() == 16  # 4 convs x 4 bands
    assert idx2.where(F.col("conv_id") == "nd3").count() == 4

    # no-op drain: nothing new, tables stable (checkpoint is the dedup)
    _drain_near_dups(spark, src, store, ckpt)
    assert store.read("near_dup_flags").count() == len(flags2)
    assert store.read("dedup_band_index").count() == 16


def test_near_dup_flagging_replay_is_idempotent(spark, tmp_path):
    """Crash-replay: delivering the same micro-batch twice must leave flags
    and index identical to a single delivery (both writes are keyed
    merge-upserts)."""
    from lab02_citation_matching_and_entity_resolution_spark.streaming.ingest import (
        incremental_assemble,
    )

    store = TableStore(spark, str(tmp_path / "tables"))
    handler = incremental_assemble(store, near_dups=True)
    batch = spark.createDataFrame(
        [tuple(r.values()) for r in ND_BATCH_A],
        "conv_id string, turn_idx int, role string, text string, tool string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    handler(batch, 0)
    once_flags = sorted(
        (r["left_id"], r["right_id"]) for r in store.read("near_dup_flags").collect()
    )
    once_idx = store.read("dedup_band_index").count()
    handler(batch, 0)  # replay
    assert sorted(
        (r["left_id"], r["right_id"]) for r in store.read("near_dup_flags").collect()
    ) == once_flags
    assert store.read("dedup_band_index").count() == once_idx


def test_band_index_read_prunes_partitions(spark, tmp_path):
    """The per-batch standing-index read must PRUNE the dedup_band_index
    scan to the batch's band_bucket partitions (PartitionFilters in the
    plan), not scan the whole index and rely on the join — at 10^12 turns an
    unpruned read is a per-batch full corpus-index scan (round-6 verdict
    finding #1)."""
    from lab02_citation_matching_and_entity_resolution_spark.streaming.ingest import (
        incremental_assemble,
        pruned_band_index,
    )

    store = TableStore(spark, str(tmp_path / "tables"))
    handler = incremental_assemble(store, near_dups=True)
    batch = spark.createDataFrame(
        [tuple(r.values()) for r in ND_BATCH_A],
        "conv_id string, turn_idx int, role string, text string, tool string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    handler(batch, 0)

    # the index is physically partitioned by band_bucket
    idx_dir = tmp_path / "tables" / "dedup_band_index"
    assert any(p.name.startswith("band_bucket=") for p in idx_dir.iterdir())

    affected = batch.select("conv_id").distinct()
    pruned = pruned_band_index(store, "dedup_band_index", [1, 2], affected)
    plan = pruned._sc._jvm.PythonSQLUtils.explainString(
        pruned._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters")[1][:300]
    assert "band_bucket" in pf


def test_near_dup_cap_audits_are_recorded(spark, tmp_path):
    """A band bucket truncated by band_cap is recorded in the near-dup
    cap-metrics table, tagged with the pair generator it came from: the
    intra-batch one ("batch") and the batch-vs-index one ("cross").  Rows
    land in the micro-batch's own partition, so a replay does not add them
    twice, and the cross audit names only standing-index buckets the batch
    shares (one band bucket here, so every index row is read each batch)."""
    from lab02_citation_matching_and_entity_resolution_spark.streaming.ingest import (
        flag_near_dups,
    )

    store = TableStore(spark, str(tmp_path / "tables"))
    schema = "conv_id string, doc_text string"

    def flag(batch_id, *docs):
        df = spark.createDataFrame(list(docs), schema)
        flag_near_dups(
            store, df, df.select("conv_id"), band_cap=1, n_band_buckets=1,
            batch_id=batch_id,
        )
        return [
            (r["origin"], r["rows_dropped"])
            for r in store.read("near_dup_cap_metrics")
            .where(F.col("batch_id") == batch_id).collect()
        ]

    a = [("nd1", _ND_TEXT), ("nd2", _ND_TEXT), ("nd3", "gardening tools and pruning shears")]
    # nd1/nd2 share all 4 bands: 4 capped 2-row buckets
    assert flag(0, *a) == [("batch", 1)] * 4
    assert flag(0, *a) == [("batch", 1)] * 4  # replay
    # an unrelated doc shares no band with the capped index buckets
    assert flag(1, ("nd5", "an unrelated note about train timetables")) == []
    # nd4 shares nd1/nd2's bands: the standing index buckets are capped
    assert flag(2, ("nd4", _ND_TEXT)) == [("cross", 1)] * 4
    assert store.read("near_dup_cap_metrics").count() == 8


def test_band_index_legacy_layout_refused(spark, tmp_path):
    """A conv-bucketed (round-6 layout) index must be refused loudly — the
    pruned match read cannot prune on it, and silently falling back to a
    full scan per batch is the exact regression the bucketing fixes."""
    import pytest

    from lab02_citation_matching_and_entity_resolution_spark.streaming.ingest import (
        flag_near_dups,
    )

    store = TableStore(spark, str(tmp_path / "tables"))
    legacy = spark.createDataFrame(
        [("c1", 0, "k0", 3)],
        "conv_id string, band_idx int, band_key string, conv_bucket int",
    )
    legacy.write.partitionBy("conv_bucket").parquet(
        str(tmp_path / "tables" / "dedup_band_index")
    )
    docs = spark.createDataFrame([("c9", "some doc text here")],
                                 "conv_id string, doc_text string")
    with pytest.raises(RuntimeError, match="legacy conv_bucket layout"):
        flag_near_dups(store, docs, docs.select("conv_id"))


def test_cli_stream_drain_is_bounded_per_trigger(spark, tmp_path):
    """cli --stream-input drains a backlog larger than the per-trigger file
    bound in more than one micro-batch, and the live table still equals a
    batch assemble_documents of every turn (conversations span batches)."""
    import argparse

    from lab02_citation_matching_and_entity_resolution_spark.cli import _run_stream
    from lab02_citation_matching_and_entity_resolution_spark.streaming.ingest import (
        DRAIN_MAX_FILES_PER_TRIGGER,
    )

    src = str(tmp_path / "incoming")
    out = str(tmp_path / "out")
    turns = []
    for i in range(DRAIN_MAX_FILES_PER_TRIGGER + 1):
        rows = [{
            "conv_id": f"c{i % 3}", "turn_idx": i // 3,
            "role": "user" if i % 2 == 0 else "assistant",
            "text": f"backlog turn number {i}", "tool": None,
            "ts": f"2026-01-01T{10 + i // 60:02d}:{i % 60:02d}:00",
        }]
        _write_turns(src, f"part_{i:03d}.jsonl", rows)
        turns += rows

    args = argparse.Namespace(
        stream_input=src, output=out, stream_near_dups=False,
        stream_stats=False, stream_gap_seconds=1800,
    )
    _run_stream(spark, TableStore(spark, out), args)

    commits = os.listdir(os.path.join(out, "_stream_ckpt", "commits"))
    assert len([c for c in commits if not c.startswith(".")]) > 1, commits
    all_turns = spark.createDataFrame(
        [tuple(r.values()) for r in turns],
        "conv_id string, turn_idx int, role string, text string, tool string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    expected = assemble_documents(all_turns)
    live = {
        r["conv_id"]: r
        for r in TableStore(spark, out).read("documents_live").select(*expected.columns).collect()
    }
    want = {r["conv_id"]: r for r in expected.collect()}
    assert live == want
