"""Each output check accepts correct outputs and rejects corrupted ones.

JVM-free; run from the repository root with

    python3 -m pytest erbench/test_checks.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402

# --- er_batch --------------------------------------------------------------
# entities: a = {c1, c2, c3}, b = {c4, c5}, c = {c6}
MEMBERSHIP = {"c1": "a", "c2": "a", "c3": "a", "c4": "b", "c5": "b", "c6": "c"}
MATCHES = [("c1", "c2", 0.9), ("c2", "c3", 0.8), ("c4", "c5", 1.0)]
CLUSTERS = [("c1", "c1"), ("c2", "c1"), ("c3", "c1"), ("c4", "c4"), ("c5", "c4"), ("c6", "c6")]


def er(clusters=CLUSTERS, matches=MATCHES):
    return checks.check_er(MEMBERSHIP, clusters, matches, threshold=0.7)


def test_er_accepts_correct_output():
    assert er() == []


def test_er_rejects_dropped_conversation():
    fails = er(clusters=[r for r in CLUSTERS if r[0] != "c6"])
    assert any("missing" in f for f in fails)


def test_er_rejects_duplicated_conversation():
    assert any("more than once" in f for f in er(clusters=CLUSTERS + [("c6", "c6")]))


def test_er_rejects_split_cluster():
    # c3 split off into its own cluster although matches connect it to c2
    split = [(c, "c3" if c == "c3" else k) for c, k in CLUSTERS]
    assert any("union-find" in f for f in er(clusters=split))


def test_er_rejects_cluster_id_that_is_not_the_minimum_member():
    relabeled = [(c, "c2" if k == "c1" else k) for c, k in CLUSTERS]
    fails = er(clusters=relabeled)
    assert any("minimum member" in f for f in fails)


def test_er_rejects_match_below_threshold():
    low = MATCHES[:2] + [("c4", "c5", 0.69)]
    assert any("below 0.7" in f for f in er(matches=low))


def test_er_rejects_non_canonical_match():
    flipped = MATCHES[:2] + [("c5", "c4", 1.0)]
    assert any("left_id >= right_id" in f for f in er(matches=flipped))


def test_er_rejects_low_pairwise_recall():
    # b split in two, consistently with the matches
    split = [(c, "c5" if c == "c5" else k) for c, k in CLUSTERS]
    fails = er(clusters=split, matches=MATCHES[:2])
    assert any("pairwise recall" in f for f in fails)
    assert not any("union-find" in f for f in fails)


def test_er_accepts_false_merge_consistent_with_matches():
    # a and b wrongly merged: precision drops, which is reported, not gated
    merged = [(c, "c1") for c, _ in CLUSTERS if c != "c6"] + [("c6", "c6")]
    assert er(clusters=merged, matches=MATCHES + [("c3", "c4", 0.75)]) == []


def test_pairwise_prf():
    truth = {"x": "1", "y": "1", "z": "2"}
    assert checks.pairwise_prf({"x": "x", "y": "x", "z": "z"}, truth) == (1.0, 1.0, 1.0)
    assert checks.pairwise_prf({"x": "x", "y": "y", "z": "z"}, truth) == (1.0, 0.0, 0.0)
    assert checks.pairwise_prf({"x": "x", "y": "x", "z": "x"}, truth) == (1 / 3, 1.0, 0.5)


# --- dedup_corpus ----------------------------------------------------------
TEXTS = {"d1": "same", "d2": "other", "d3": "same", "d4": "near other", "d5": "alone"}
GROUPS = [("d1", "d1", True), ("d2", "d2", True), ("d3", "d1", False),
          ("d4", "d2", False), ("d5", "d5", True)]
PAIRS = [("d1", "d3"), ("d2", "d4")]
KEEPERS = ["d1", "d2", "d5"]


def dedup(groups=GROUPS, pairs=PAIRS, keepers=KEEPERS):
    return checks.check_dedup(TEXTS, groups, pairs, keepers)


def test_dedup_accepts_correct_output():
    assert dedup() == []


def test_dedup_rejects_dropped_document():
    assert any("missing" in f for f in dedup(groups=GROUPS[:-1]))


def test_dedup_rejects_two_keepers():
    two = [(d, g, True) for d, g, _ in GROUPS]
    assert any("exactly one keeper" in f for f in dedup(groups=two, keepers=list(TEXTS)))


def test_dedup_rejects_split_group():
    split = [(d, d, True) if d == "d4" else (d, g, k) for d, g, k in GROUPS]
    assert any("union-find" in f for f in dedup(groups=split, keepers=KEEPERS + ["d4"]))


def test_dedup_rejects_identical_texts_in_different_groups():
    # d1 and d3 hold the same bytes; without their pair they end up apart
    apart = [(d, d, True) if d == "d3" else (d, g, k) for d, g, k in GROUPS]
    fails = dedup(groups=apart, pairs=PAIRS[1:], keepers=KEEPERS + ["d3"])
    assert any("byte-identical" in f for f in fails)


def test_dedup_rejects_wrong_keepers_table():
    assert any("dedup_keepers" in f for f in dedup(keepers=KEEPERS[:2]))


# --- stream_ingest ---------------------------------------------------------
EXPECTED = {"s1": (3, 10, 30, ("assistant", "user")), "s2": (1, 5, 5, ("user",))}
LIVE = [("s1", 3, 10, 30, ("assistant", "user"), "a b c"), ("s2", 1, 5, 5, ("user",), "d")]
BATCH_TEXT = {"s1": "a b c", "s2": "d"}


def stream(live=LIVE, batch_text=BATCH_TEXT):
    return checks.check_stream(EXPECTED, live, batch_text)


def test_stream_accepts_correct_output():
    assert stream() == []


def test_stream_rejects_wrong_n_turns():
    wrong = [("s1", 2, 10, 30, ("assistant", "user"), "a b c"), LIVE[1]]
    assert any("n_turns" in f for f in stream(live=wrong))


def test_stream_rejects_duplicate_document():
    assert any("more than once" in f for f in stream(live=LIVE + [LIVE[1]]))


def test_stream_rejects_missing_document():
    assert any("missing" in f for f in stream(live=LIVE[:1]))


def test_stream_rejects_doc_text_that_differs_from_batch_assembly():
    assert any("doc_text" in f for f in stream(batch_text={"s1": "a c b", "s2": "d"}))


# --- loaders over written files ---------------------------------------------

def test_load_stream_aggregates_jsonl_and_live_table(tmp_path):
    jsonl = tmp_path / "in"
    jsonl.mkdir()
    rows = [
        {"conv_id": "s1", "turn_idx": 1, "role": "user", "text": "b", "tool": "",
         "ts": "2024-01-01T00:00:10Z"},
        {"conv_id": "s1", "turn_idx": 0, "role": "assistant", "text": "a", "tool": "",
         "ts": "2024-01-01T00:00:05Z"},
    ]
    (jsonl / "turns-000.jsonl").write_text("\n".join(json.dumps(r) for r in rows) + "\n")
    live_dir = tmp_path / "out" / "documents_live" / "conv_bucket=3"
    live_dir.mkdir(parents=True)
    ts = pa.array([1704067205000000], pa.timestamp("us", tz="UTC"))
    pq.write_table(pa.table({
        "conv_id": ["s1"], "doc_text": ["a\nb"], "n_turns": pa.array([2], pa.int32()),
        "roles": [["assistant", "user"]], "first_ts": ts,
        "last_ts": pa.array([1704067210000000], pa.timestamp("us", tz="UTC")),
    }), live_dir / "part-0.parquet")
    expected, live = checks.load_stream(str(tmp_path / "out"), str(jsonl))
    assert expected == {"s1": (2, 1704067205000000, 1704067210000000, ("assistant", "user"))}
    assert live == [("s1", 2, 1704067205000000, 1704067210000000, ("assistant", "user"), "a\nb")]
    assert checks.check_stream(expected, live, {"s1": "a\nb"}) == []


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
