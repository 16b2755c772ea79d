"""Seeded input generators for the three benchmark workloads.

Python + pyarrow: no Spark job runs while inputs are made, so set-up time is
session start plus this.  Conversations come from the package's own
generator (``synth._base_turns`` and ``synth._perturb_text``); only the
loop that fixes the counts is here.  Every size is a constant and does not
depend on the seed; the seed changes the text and the tool choices, so
record counts repeat exactly across seeds and runs of different seeds do the
same amount of work.

The program receives only the files written here; the ground truth returned
alongside them (planted membership, planted copies) is for the checks.
"""

from __future__ import annotations

import datetime as dt
import importlib
import json
import os
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

import sparkenv

EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

# --- er_batch --------------------------------------------------------------
ER_ENTITIES = 160          # planted entities
ER_COPIES = (2, 3, 4, 5)   # conversations per entity, cycling by entity index
ER_TURNS = (8, 12)         # turns per conversation: 8 + e % 5 for entity e

# --- dedup_corpus ----------------------------------------------------------
DEDUP_BASES = 600          # distinct base documents
DEDUP_WORDS = 60           # words per document
DEDUP_EXACT_COPIES = 2     # byte-identical copies of every "exact" base
DEDUP_CHAIN_LEN = 6        # documents per near-duplicate chain
DEDUP_CHAIN_EDITS = 3      # words replaced at each step of a chain

# --- stream_ingest ---------------------------------------------------------
STREAM_CONVS = 400         # conversations in the backlog
STREAM_TURNS = 8           # turns per conversation
STREAM_FILES = 5           # JSONL files in the backlog (one micro-batch each);
                           # a round's time grows with these, not with the turns
STREAM_SPAN = 2            # consecutive files (wrapping) one conversation spans


def _synth():
    """The package's own synthetic-transcript module (imported late, so a
    checkout without the package fails in ``run.py``'s import check)."""
    return importlib.import_module(f"{sparkenv.PACKAGE}.synth")


@dataclass
class ErInput:
    path: str
    n_turns: int
    membership: dict[str, str]  # conv_id -> planted entity id


def make_er_batch(out_dir: str, seed: int, n_entities: int = ER_ENTITIES) -> ErInput:
    """Transcripts parquet from the package's own conversation generator
    (``synth._base_turns`` and ``synth._perturb_text``) at fixed counts:
    entity e has ER_COPIES[e % 4] conversations of 8 + e % 5 turns, the
    first verbatim and the rest noisy copies (every third one near).
    Entities sharing a topic are the distractors the scorer has to keep
    apart; each draws its tool pair at random, as ``synth`` does."""
    synth = _synth()
    rng = random.Random(seed)
    cols = {k: [] for k in ("conv_id", "turn_idx", "role", "text", "tool", "ts")}
    membership = {}
    for e in range(n_entities):
        n_turns = ER_TURNS[0] + e % (ER_TURNS[1] - ER_TURNS[0] + 1)
        base = synth._base_turns(rng, synth._TOPICS[e % len(synth._TOPICS)], n_turns)
        for k in range(ER_COPIES[e % len(ER_COPIES)]):
            conv = f"c{e:05d}x{k}"
            membership[conv] = f"e{e:05d}"
            for t, (role, text, tool) in enumerate(base):
                cols["conv_id"].append(conv)
                cols["turn_idx"].append(t)
                cols["role"].append(role)
                cols["text"].append(text if k == 0 else synth._perturb_text(rng, text, k % 3 == 2))
                cols["tool"].append(tool)
                cols["ts"].append(EPOCH + dt.timedelta(days=e, minutes=5 * t + k))
    schema = pa.schema([
        ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
        ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us", tz="UTC")),
    ])
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "transcripts.parquet")
    pq.write_table(pa.table(cols, schema=schema), path)
    return ErInput(path, len(cols["conv_id"]), membership)


@dataclass
class DedupInput:
    path: str
    n_docs: int
    texts: dict[str, str]  # doc_id -> text


def make_dedup_corpus(out_dir: str, seed: int) -> DedupInput:
    """Documents parquet (doc_id, text).  Base b is a random 60-word text;
    b % 3 == 0 gets DEDUP_EXACT_COPIES byte-identical copies, b % 3 == 1
    heads a chain of DEDUP_CHAIN_LEN documents, each DEDUP_CHAIN_EDITS words
    away from the previous one, and b % 3 == 2 stays alone."""
    rng = random.Random(seed)
    vocab = sorted({f"w{rng.getrandbits(30):08x}"[: rng.randint(4, 9)] for _ in range(6000)})
    docs: list[str] = []
    for b in range(DEDUP_BASES):
        words = [rng.choice(vocab) for _ in range(DEDUP_WORDS)]
        docs.append(" ".join(words))
        if b % 3 == 0:
            docs.extend([docs[-1]] * DEDUP_EXACT_COPIES)
        elif b % 3 == 1:
            for _ in range(DEDUP_CHAIN_LEN - 1):
                words = list(words)
                for i in rng.sample(range(DEDUP_WORDS), DEDUP_CHAIN_EDITS):
                    words[i] = rng.choice(vocab)
                docs.append(" ".join(words))
    # shuffle the id assignment so copies are not adjacent ids
    order = list(range(len(docs)))
    rng.shuffle(order)
    texts = {f"d{i:06d}": docs[j] for i, j in enumerate(order)}
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "documents.parquet")
    ids = sorted(texts)
    pq.write_table(pa.table({"doc_id": ids, "text": [texts[i] for i in ids]}), path)
    return DedupInput(path, len(ids), texts)


@dataclass
class StreamInput:
    dir: str
    n_turns: int
    files: list[str]


def make_stream_backlog(out_dir: str, seed: int) -> StreamInput:
    """JSONL turn files of ``synth`` conversations.  Conversation c starts in file c % STREAM_FILES and
    its turns spread over STREAM_SPAN consecutive files, wrapping to the
    first, so every file holds the same number of turns and every
    conversation is re-assembled STREAM_SPAN times.  File modification times
    increase with the file number, which fixes the micro-batch order."""
    synth = _synth()
    rng = random.Random(seed)
    per_file: list[list[str]] = [[] for _ in range(STREAM_FILES)]
    n = 0
    for c in range(STREAM_CONVS):
        conv = f"s{c:05d}"
        start = c % STREAM_FILES
        topic = synth._TOPICS[c % len(synth._TOPICS)]
        for t, (role, text, tool) in enumerate(synth._base_turns(rng, topic, STREAM_TURNS)):
            file_no = (start + t * STREAM_SPAN // STREAM_TURNS) % STREAM_FILES
            ts = EPOCH + dt.timedelta(hours=c, minutes=3 * t)
            per_file[file_no].append(json.dumps({
                "conv_id": conv, "turn_idx": t, "role": role, "text": text,
                "tool": tool, "ts": ts.strftime("%Y-%m-%dT%H:%M:%SZ"),
            }))
            n += 1
    os.makedirs(out_dir, exist_ok=True)
    files = []
    for i, lines in enumerate(per_file):
        path = os.path.join(out_dir, f"turns-{i:03d}.jsonl")
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
        os.utime(path, (EPOCH.timestamp() + i, EPOCH.timestamp() + i))
        files.append(path)
    return StreamInput(out_dir, n, files)
