"""Output checks, computed apart from the program.

Each ``check_*`` function takes plain Python data (the program's written
tables, read back by the ``load_*`` functions with DuckDB, and the truth the
generator kept) and returns a list of failure messages; an empty list means
the outputs are correct.  Nothing here calls the package except the second
``assemble_documents`` path of the stream check, which ``run.py`` computes.
"""

from __future__ import annotations

import hashlib
from collections import Counter, defaultdict

import duckdb


class UnionFind:
    def __init__(self, items=()):
        self.parent = {}
        for x in items:
            self.add(x)

    def add(self, x) -> None:
        self.parent.setdefault(x, x)

    def find(self, x):
        self.add(x)
        root = x
        while self.parent[root] != root:
            root = self.parent[root]
        while self.parent[x] != root:
            self.parent[x], x = root, self.parent[x]
        return root

    def union(self, a, b) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[max(ra, rb)] = min(ra, rb)

    def min_labels(self) -> dict:
        """item -> minimum item of its component (the program's cluster_id
        and group_id convention)."""
        mins: dict = {}
        for x in self.parent:
            r = self.find(x)
            mins[r] = min(mins.get(r, x), x)
        return {x: mins[self.find(x)] for x in self.parent}


def _partition_failures(what: str, expected_ids, rows_ids) -> list[str]:
    counts = Counter(rows_ids)
    expected = set(expected_ids)
    out = []
    missing = expected - counts.keys()
    if missing:
        out.append(f"{what}: {len(missing)} input ids missing, e.g. {sorted(missing)[:3]}")
    extra = counts.keys() - expected
    if extra:
        out.append(f"{what}: {len(extra)} ids not in the input, e.g. {sorted(extra)[:3]}")
    dup = [k for k, n in counts.items() if n > 1]
    if dup:
        out.append(f"{what}: {len(dup)} ids appear more than once, e.g. {sorted(dup)[:3]}")
    return out


def _closure_failures(what: str, ids, edges, assigned: dict) -> list[str]:
    """Union-find over ``edges`` (plus every id as a singleton) must give
    every id the label ``assigned`` gives it."""
    uf = UnionFind(ids)
    for a, b in edges:
        uf.union(a, b)
    expect = uf.min_labels()
    wrong = sorted(x for x in assigned if expect.get(x) != assigned[x])
    if wrong:
        x = wrong[0]
        return [f"{what}: {len(wrong)} ids disagree with union-find over the edges, "
                f"e.g. {x}: written {assigned[x]}, union-find {expect.get(x)}"]
    return []


def pairwise_prf(clusters: dict[str, str], truth: dict[str, str]) -> tuple[float, float, float]:
    """(precision, recall, F1) of the co-clustered pairs against the
    planted co-membership."""
    both = Counter((clusters[x], truth[x]) for x in clusters if x in truth)
    pred = Counter(clusters.values())
    gold = Counter(truth.values())

    def pairs(counter) -> int:
        return sum(n * (n - 1) // 2 for n in counter.values())

    tp, p, t = pairs(both), pairs(pred), pairs(gold)
    precision = tp / p if p else 1.0
    recall = tp / t if t else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return precision, recall, f1


def check_er(
    membership: dict[str, str],
    clusters: list[tuple[str, str]],
    matches: list[tuple[str, str, float]],
    threshold: float,
    min_recall: float = 0.99,
) -> list[str]:
    """``membership``: input conv_id -> planted entity; ``clusters``:
    (conv_id, cluster_id) rows; ``matches``: (left_id, right_id, score).

    Pairwise precision is not gated: the rule scorer merges same-topic
    entities that share a tool on every seed (README, "Checks"), so F1 is
    reported as ``resolve.pairwise_f1`` instead."""
    fails = _partition_failures("clusters", membership, [c for c, _ in clusters])
    assigned = dict(clusters)
    members = defaultdict(list)
    for conv, cid in clusters:
        members[cid].append(conv)
    bad_ids = sorted(cid for cid, convs in members.items() if cid != min(convs))
    if bad_ids:
        fails.append(f"clusters: {len(bad_ids)} cluster_ids are not the minimum "
                     f"member id, e.g. {bad_ids[0]}")
    fails += _closure_failures(
        "clusters", membership, [(a, b) for a, b, _ in matches], assigned
    )
    bad_order = [m for m in matches if not m[0] < m[1]]
    if bad_order:
        fails.append(f"matches: {len(bad_order)} rows with left_id >= right_id, "
                     f"e.g. {bad_order[0]}")
    low = [m for m in matches if not m[2] >= threshold]
    if low:
        fails.append(f"matches: {len(low)} rows scored below {threshold}, e.g. {low[0]}")
    recall = pairwise_prf(assigned, membership)[1]
    if recall < min_recall:
        fails.append(f"clusters: pairwise recall {recall:.4f} of the planted "
                     f"membership is below {min_recall}")
    return fails


def check_dedup(
    texts: dict[str, str],
    groups: list[tuple[str, str, bool]],
    pairs: list[tuple[str, str]],
    keepers: list[str],
) -> list[str]:
    """``texts``: input doc_id -> text; ``groups``: (doc_id, group_id,
    is_keeper) rows; ``pairs``: (left_id, right_id) of every pass;
    ``keepers``: doc_ids of the keepers table."""
    fails = _partition_failures("dedup_groups", texts, [d for d, _, _ in groups])
    group_of = {d: g for d, g, _ in groups}
    members = defaultdict(list)
    kept = defaultdict(list)
    for d, g, k in groups:
        members[g].append(d)
        if k:
            kept[g].append(d)
    bad = sorted(g for g, ds in members.items() if kept.get(g) != [min(ds)] or g != min(ds))
    if bad:
        fails.append(f"dedup_groups: {len(bad)} groups without exactly one keeper "
                     f"that is the minimum id and the group_id, e.g. {bad[0]}")
    fails += _closure_failures("dedup_groups", texts, pairs, group_of)
    by_hash = defaultdict(set)
    for d, text in texts.items():
        by_hash[hashlib.sha256(text.encode()).digest()].add(group_of.get(d))
    split = sum(1 for gs in by_hash.values() if len(gs) > 1)
    if split:
        fails.append(f"dedup_groups: {split} sets of byte-identical texts span "
                     "more than one group")
    want = {d for d, _, k in groups if k}
    if set(keepers) != want or len(keepers) != len(want):
        fails.append(f"dedup_keepers: {len(keepers)} rows, expected the "
                     f"{len(want)} keepers of dedup_groups")
    return fails


def check_stream(
    expected: dict[str, tuple[int, int, int, tuple[str, ...]]],
    live: list[tuple[str, int, int, int, tuple[str, ...], str]],
    batch_text: dict[str, str],
) -> list[str]:
    """``expected``: conv_id -> (n_turns, first_ts_us, last_ts_us, roles)
    aggregated by DuckDB over the JSONL; ``live``: documents_live rows
    (conv_id, n_turns, first_ts_us, last_ts_us, roles, doc_text);
    ``batch_text``: conv_id -> doc_text of a batch assemble over the same
    turns."""
    fails = _partition_failures("documents_live", expected, [r[0] for r in live])
    wrong = sorted(r[0] for r in live if r[0] in expected and tuple(r[1:5]) != expected[r[0]])
    if wrong:
        c = wrong[0]
        got = next(r for r in live if r[0] == c)
        fails.append(f"documents_live: {len(wrong)} rows whose n_turns/first_ts/"
                     f"last_ts/roles differ from the JSONL, e.g. {c}: "
                     f"{tuple(got[1:5])} vs {expected[c]}")
    text_wrong = sorted(r[0] for r in live if batch_text.get(r[0]) != r[5])
    if text_wrong:
        fails.append(f"documents_live: {len(text_wrong)} doc_text values differ "
                     f"from a batch assemble of the same turns, e.g. {text_wrong[0]}")
    return fails


# --- loaders ---------------------------------------------------------------

def _rows(sql: str) -> list[tuple]:
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        return con.execute(sql).fetchall()
    finally:
        con.close()


def load_er(out: str) -> tuple[list, list]:
    clusters = _rows(f"SELECT conv_id, cluster_id FROM read_parquet('{out}/clusters/*.parquet')")
    matches = _rows(
        f"SELECT left_id, right_id, score FROM read_parquet('{out}/matches/**/*.parquet')"
    )
    return clusters, matches


def load_dedup(out: str) -> tuple[list, list, list]:
    groups = _rows(
        f"SELECT doc_id, group_id, is_keeper FROM read_parquet('{out}/dedup_groups/**/*.parquet')"
    )
    pairs = _rows(f"SELECT left_id, right_id FROM read_parquet('{out}/dedup_pairs/*.parquet')")
    keepers = [r[0] for r in _rows(
        f"SELECT doc_id FROM read_parquet('{out}/dedup_keepers/*.parquet')"
    )]
    return groups, pairs, keepers


def load_stream(out: str, jsonl_dir: str) -> tuple[dict, list]:
    expected = {
        r[0]: (r[1], r[2], r[3], tuple(r[4]))
        for r in _rows(
            "SELECT conv_id, count(*)::INT, "
            "epoch_us(min(strptime(ts, '%Y-%m-%dT%H:%M:%SZ'))), "
            "epoch_us(max(strptime(ts, '%Y-%m-%dT%H:%M:%SZ'))), "
            "list_sort(list_distinct(list(role))) "
            f"FROM read_json('{jsonl_dir}/*.jsonl', format='newline_delimited', "
            "columns={conv_id: 'VARCHAR', turn_idx: 'INTEGER', role: 'VARCHAR', "
            "text: 'VARCHAR', tool: 'VARCHAR', ts: 'VARCHAR'}) GROUP BY conv_id"
        )
    }
    live = [
        (r[0], r[1], r[2], r[3], tuple(r[4]), r[5])
        for r in _rows(
            "SELECT conv_id, n_turns, epoch_us(first_ts), epoch_us(last_ts), roles, doc_text "
            f"FROM read_parquet('{out}/documents_live/**/*.parquet')"
        )
    ]
    return expected, live
