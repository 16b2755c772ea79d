"""Pairwise similarity features (SURVEY.md §2.7 F13-F26).

Semantics mirror the reference's ``compute_features``
(ref: src/feature_engineering_utils.py:158-201) with the transcript analog of
its bibliographic fields:

  reference field            transcript analog
  -----------------          ------------------------------------------
  norm_text (title/note)     doc_text (normalized assembled document)
  title_tokens               tokens (stopword/len>1 filtered)
  authors_norm               roles ∪ tools (role/tool signature list)
  author_overlap       F21   role_tool_overlap (Jaccard, either-empty→0.0)
  author_lastname_match F22  signature_match (any shared tool, either-empty→0.0)
  year                 F7    year_like (first 4-digit group of doc_text)

Edge rules preserved exactly (pinned by unit tests):
  levenshtein: equal-and-nonempty→1.0, equal-and-empty→0.0, either-empty→0.0
    (ref :25-31); jaccard both-empty→0.0 (:50-51); token_overlap_ratio uses RAW
    list lengths as denominator (:62-68); char n-gram either-empty→0.0
    (:85-86); year_diff missing→100 sentinel (:198).

Execution: every feature except Jaro-Winkler is a native Catalyst expression
(whole-stage codegen; `levenshtein` is a JVM builtin).  Jaro-Winkler (required
by the north star; absent from the reference) runs in one Arrow-batched pandas
UDF over capped-length prefixes.  TF-IDF cosine is a separate relational
pipeline (explode→IDF join→normalized dot product) in tfidf.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from .blocking import clean_for_shingles, shingle_expr, shingle_expr_cleaned
from .tfidf import doc_tfidf_maps, hashed_key_maps

YEAR_DIFF_SENTINEL = 100  # ref: src/feature_engineering_utils.py:198

# The reference computes its string similarities on title-ish norm_text
# (~100 chars, ref feature_engineering_utils.py:99-102); transcript documents
# are 10-100x longer, and Levenshtein/JW/char-ngrams are quadratic-ish in
# length.  Prefix caps bound per-pair cost at scale while staying faithful to
# the reference's effective operating range; caps are engine constants so
# features remain deterministic and comparable across runs.
JW_PREFIX_CAP = 100       # Jaro-Winkler window search is O(n*m)
LEV_PREFIX_CAP = 250      # JVM levenshtein DP is O(n*k) banded
LEV_MAX_DIST = 100        # band width: sims below 1-k/len carry no signal
NGRAM_PREFIX_CAP = 256    # shingle-set build + intersect is O(n)·O(set)


# ---------------------------------------------------------------------------
# Native column expressions
# ---------------------------------------------------------------------------

def levenshtein_sim_col(a: Column, b: Column, max_dist: int | None = None) -> Column:
    """Normalized Levenshtein similarity with the reference's edge rules.

    ``max_dist`` switches to the banded DP (JVM ``levenshtein(l, r, k)``):
    distances beyond k clamp to similarity 0.0.  O(n*k) instead of O(n*m) —
    the hot scoring path passes k = LEV_PREFIX_CAP * 0.4 (similarities below
    0.6 carry no matching signal); the exact operator remains the default for
    parity queries/tests.
    """
    max_len = F.greatest(F.length(a), F.length(b))
    if max_dist is None:
        sim = F.lit(1.0) - F.levenshtein(a, b) / max_len
    else:
        d = F.levenshtein(a, b, max_dist)  # banded; -1 when dist > max_dist
        sim = F.when(d < 0, F.lit(0.0)).otherwise(F.lit(1.0) - d / max_len)
    return (
        F.when(a.isNull() | b.isNull(), F.lit(0.0))
        .when((a == b) & (F.length(a) > 0), F.lit(1.0))
        .when(a == b, F.lit(0.0))  # both empty
        .when((F.length(a) == 0) | (F.length(b) == 0), F.lit(0.0))
        .otherwise(sim)
    )


def jaccard_col(a: Column, b: Column) -> Column:
    """Jaccard on token arrays; both-empty → 0.0 (ref F14)."""
    a_d, b_d = F.array_distinct(a), F.array_distinct(b)
    union = F.size(F.array_union(a_d, b_d))
    return F.when(union == 0, F.lit(0.0)).otherwise(
        F.size(F.array_intersect(a_d, b_d)) / union
    )


def overlap_count_col(a: Column, b: Column) -> Column:
    """|set(a) ∩ set(b)| (ref F15)."""
    return F.size(F.array_intersect(F.array_distinct(a), F.array_distinct(b)))


def overlap_ratio_col(a: Column, b: Column) -> Column:
    """|set∩| / max(RAW list lengths); either-empty → 0.0 (ref F16)."""
    return F.when((F.size(a) == 0) | (F.size(b) == 0), F.lit(0.0)).otherwise(
        overlap_count_col(a, b) / F.greatest(F.size(a), F.size(b))
    )


def either_empty_jaccard_col(a: Column, b: Column) -> Column:
    """Jaccard with EITHER-empty → 0.0 (ref F21 author_overlap convention)."""
    a_d, b_d = F.array_distinct(a), F.array_distinct(b)
    return F.when((F.size(a_d) == 0) | (F.size(b_d) == 0), F.lit(0.0)).otherwise(
        F.size(F.array_intersect(a_d, b_d)) / F.size(F.array_union(a_d, b_d))
    )


def any_shared_col(a: Column, b: Column) -> Column:
    """1.0 if sets intersect, either-empty → 0.0 (ref F22 lastname rule)."""
    a_d, b_d = F.array_distinct(a), F.array_distinct(b)
    return F.when((F.size(a_d) == 0) | (F.size(b_d) == 0), F.lit(0.0)).otherwise(
        F.when(F.size(F.array_intersect(a_d, b_d)) > 0, F.lit(1.0)).otherwise(F.lit(0.0))
    )


def digit_overlap_col(a_text: Column, b_text: Column) -> Column:
    """F18: count of shared numeric tokens between two texts.

    Parity with reference ``digit_overlap`` (ref:
    src/feature_engineering_utils.py:92-96): sets of ``\\d+`` matches,
    intersection size as an int.  NOTE the reference computes this inside
    ``compute_features`` but never writes it into the emitted feature dict, so
    it stays OUT of FEATURE_COLS here too — available for callers, unused by
    the default model, matching observed reference behavior (SURVEY §2.7 F18).
    """
    a_nums = F.array_distinct(F.regexp_extract_all(a_text, F.lit(r"\d+"), 0))
    b_nums = F.array_distinct(F.regexp_extract_all(b_text, F.lit(r"\d+"), 0))
    return F.size(F.array_intersect(a_nums, b_nums))


def _author_first_tokens(c: Column) -> Column:
    # python str.split() both strips and splits on whitespace runs; trim+\s+
    # reproduces it, and a whitespace-only author yields "" exactly like the
    # reference's first_name("   ") == ""
    non_empty = F.filter(c, lambda x: x.isNotNull() & (x != ""))
    return F.transform(
        non_empty, lambda x: F.element_at(F.split(F.trim(x), r"\s+"), 1)
    )


def author_firstname_match_col(a_authors: Column, b_authors: Column) -> Column:
    """F23: 1.0 if any author FIRST name is shared, either-empty → 0.0.

    Parity with reference ``author_firstname_match`` (ref:
    src/feature_engineering_utils.py:145-155).  NOTE the reference lists this
    in FEATURE_COLS (src/modeling_utils.py:30-39) but ``compute_features``
    (:187-201) never emits it — a latent upstream bug (SURVEY §5.4).  We
    mirror the reference's EFFECTIVE behavior: the function exists and is
    tested, but the default feature frame does not include it, so models
    train on exactly the columns the reference actually produces.
    """
    return any_shared_col(_author_first_tokens(a_authors), _author_first_tokens(b_authors))


def char_ngram_jaccard_cols(a_text: str, b_text: str, n: int) -> Column:
    """Char n-gram set Jaccard; either-empty → 0.0 (ref F17).

    Uses the same native shingler as the MinHash pass — one implementation of
    the n-gram semantics for blocking and features.
    """
    a_sh = shingle_expr(a_text, n)
    b_sh = shingle_expr(b_text, n)
    return F.when((F.size(a_sh) == 0) | (F.size(b_sh) == 0), F.lit(0.0)).otherwise(
        F.size(F.array_intersect(a_sh, b_sh)) / F.size(F.array_union(a_sh, b_sh))
    )


def year_match_col(a: Column, b: Column) -> Column:
    return F.when(a.isNotNull() & b.isNotNull() & (a == b), F.lit(1)).otherwise(F.lit(0))


def year_diff_col(a: Column, b: Column) -> Column:
    return F.when(
        a.isNotNull() & b.isNotNull(), F.abs(a - b)
    ).otherwise(F.lit(YEAR_DIFF_SENTINEL))


# ---------------------------------------------------------------------------
# Jaro-Winkler (Arrow pandas UDF; numpy per pair, batched transfer)
# ---------------------------------------------------------------------------

def _jaro(a: str, b: str) -> float:
    # plain-python loops: per-row numpy calls cost ~1us each in overhead,
    # which at one call per character made the batched UDF 50x slower than
    # this (profiled at 861k pairs)
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return 0.0  # both-empty also 0.0 (engine convention)
    if a == b:
        return 1.0
    window = max(la, lb) // 2 - 1
    if window < 0:
        window = 0
    b_used = bytearray(lb)
    a_matched: list[str] = []
    b_flags = b_used  # alias for clarity
    matches = 0
    for i in range(la):
        ca = a[i]
        lo = i - window
        if lo < 0:
            lo = 0
        hi = i + window + 1
        if hi > lb:
            hi = lb
        for j in range(lo, hi):
            if not b_flags[j] and b[j] == ca:
                b_flags[j] = 1
                a_matched.append(ca)
                matches += 1
                break
    if matches == 0:
        return 0.0
    b_matched = [b[j] for j in range(lb) if b_flags[j]]
    transpositions = sum(1 for x, y in zip(a_matched, b_matched) if x != y) // 2
    m = float(matches)
    return (m / la + m / lb + (m - transpositions) / m) / 3.0


def jaro_winkler(a: str, b: str, prefix_weight: float = 0.1) -> float:
    """Jaro-Winkler similarity (standard Winkler boost, prefix ≤ 4)."""
    j = _jaro(a, b)
    if j <= 0.7:
        return j
    prefix = 0
    for ca, cb in zip(a[:4], b[:4]):
        if ca != cb:
            break
        prefix += 1
    return j + prefix * prefix_weight * (1.0 - j)


def jaro_winkler_udf():
    """The Arrow-batched Jaro-Winkler UDF over prefixes capped at
    JW_PREFIX_CAP.  Built per call: a UDF object kept across SparkContexts
    holds the first context's Python accumulator, and every task of a later
    context then fails to update it (an ERROR log line per task)."""

    @pandas_udf(DoubleType())
    def jaro_winkler_udf(a: pd.Series, b: pd.Series) -> pd.Series:
        out = np.empty(len(a), dtype=np.float64)
        av, bv = a.fillna("").to_numpy(), b.fillna("").to_numpy()
        for i in range(len(av)):
            out[i] = jaro_winkler(av[i][:JW_PREFIX_CAP], bv[i][:JW_PREFIX_CAP])
        return pd.Series(out)

    return jaro_winkler_udf


# ---------------------------------------------------------------------------
# Assembled feature frame
# ---------------------------------------------------------------------------

FEATURE_COLS = [
    "levenshtein",
    "jaccard",
    "token_overlap",
    "token_overlap_ratio",
    "char_ngram_3",
    "char_ngram_4",
    "char_ngram_5",
    "role_tool_overlap",
    "signature_match",
    "year_match",
    "year_diff",
    "jaro_winkler",
]


# Per-doc scoring payload column names (doc_payload output, minus conv_id).
PAYLOAD_COLS = [
    "text_sig", "text_len", "pfx", "tokset", "ntok", "sig", "tools", "year",
    "sh3", "sh4", "sh5", "nsh3", "nsh4", "nsh5",
]


def doc_payload(docs: DataFrame) -> DataFrame:
    """One row per document with every doc-side input the pair features need
    (conv_id + PAYLOAD_COLS) — the reusable half of pair_features.

    Shingle arrays and prefixes are computed ONCE PER DOCUMENT here, on the
    small side of whatever join replicates them.  Computing them per pair
    looks equivalent but is catastrophically slower: CollapseProject inlines
    the shingle expression into every consumer (intersect, union, both
    empty-guards, x3 n-gram sizes), so each pair row rebuilds ~36
    distinct-arrays.  A join boundary is a hard materialization line the
    optimizer cannot re-inline across.  (Profiled: per-pair shingling was
    the slowest feature path by >10x at 737k pairs.)

    Set elements are xxhash64-encoded to array<long>: 8-byte fixed-width
    elements make the per-pair array_intersect memory-bandwidth-light
    (string sets were the dominant shuffle+intersect cost; 64-bit collisions
    are negligible at these set sizes).  Full doc_text is NOT shipped: its
    only consumers are the exact-equality guards (with_pair_feature_columns
    and score_pairs_rule), which (xxhash64, length) witnesses at 8+4 bytes
    instead of the full payload — the round-5 rehearsal measured enriched
    pair rows at ~4 KB compressed each (21.9 GB shuffle for 5.5M pairs), and
    the text was a leading term.
    """

    def hashed(arr: Column) -> Column:
        return F.transform(arr, lambda s: F.xxhash64(s))

    # Three-stage projection (the stages stay separate — CollapseProject
    # does not inline expensive, multiply-referenced aliases, SPARK-36718):
    #   1. materialize the cleaned shingle text ONCE (expressions inside a
    #      HOF lambda are re-evaluated per element, so inlining the regexp
    #      into the shingle lambda costs O(text) per shingle position —
    #      measured 5.7 s/eval -> ~0.8 s at 18.5k docs, round-7 probe);
    #   2. build each raw distinct-shingle array once;
    #   3. hash it and take its size (nsh == size of the hashed array —
    #      transform preserves cardinality).
    cleaned = docs.select(
        "*", clean_for_shingles(F.substring("doc_text", 1, NGRAM_PREFIX_CAP)).alias("_shclean")
    )
    shingled = cleaned.select(
        "*", *[shingle_expr_cleaned(F.col("_shclean"), n).alias(f"_shr{n}") for n in (3, 4, 5)]
    )
    return shingled.select(
        F.col("conv_id"),
        F.xxhash64("doc_text").alias("text_sig"),
        F.length("doc_text").alias("text_len"),
        F.substring("doc_text", 1, LEV_PREFIX_CAP).alias("pfx"),
        hashed(F.array_distinct(F.col("tokens"))).alias("tokset"),
        F.size(F.col("tokens")).alias("ntok"),
        # sig/tools ship as xxhash64 int64 SETS (distinct applied doc-side;
        # roles/tools are null-free collect_set outputs, and the consumers
        # — role_tool_overlap's jaccard, signature_match's any-shared — are
        # set ops, so per-pair array_distinct + string compares are replaced
        # by long-set size arithmetic (same move as tokset; round-7 §14)
        hashed(F.array_distinct(F.concat(F.col("roles"), F.col("tools")))).alias("sig"),
        hashed(F.col("tools")).alias("tools"),
        F.col("year_like").alias("year"),
        *[hashed(F.col(f"_shr{n}")).alias(f"sh{n}") for n in (3, 4, 5)],
        *[F.size(F.col(f"_shr{n}")).alias(f"nsh{n}") for n in (3, 4, 5)],
    )


def prefixed_payload(
    pay: DataFrame, prefix: str, id_name: str, extra_cols: list[str] | None = None
) -> DataFrame:
    """Rename a doc_payload frame to the ``l_``/``r_`` convention the feature
    expressions expect; ``extra_cols`` appends further payload columns (e.g.
    TF-IDF vectors) under the same prefix."""
    cols = PAYLOAD_COLS + (extra_cols or [])
    return pay.select(
        F.col("conv_id").alias(id_name),
        *[F.col(c).alias(f"{prefix}_{c}") for c in cols],
    )


def scoring_payload(
    docs: DataFrame, scope_cols: tuple[str, ...] | None = None
) -> DataFrame:
    """doc_payload plus each doc's TF-IDF vector (terms, weights, vec), the
    one per-doc input of both pair scorers, persisted.

    Left join: token-less docs keep NULL vectors, which tfidf_cosine_col
    coalesces to 0.0.  Term keys ship xxhash64-encoded (tfidf.hashed_key_maps):
    the vector columns are the widest part of the rows the pair joins and
    the block self-join shuffle, and the dot only does exact-match lookups.
    ``scope_cols`` selects the IDF fit scope (see tfidf.doc_tfidf_vectors).

    Persisted so one materialization feeds every join side.  Without it,
    column pruning projects the l side to (payload, terms, weights) and the
    r side to (payload, vec) BELOW their exchanges, the subplans stop being
    equal, ReuseExchange cannot fire, and the whole doc-side payload+TF-IDF
    pipeline (4 aggregations + join) runs once per side (round-7 event-log
    capture: 2-9 s per stage on the 4x corpus).
    """
    return (
        doc_payload(docs)
        .join(hashed_key_maps(doc_tfidf_maps(docs, scope_cols=scope_cols)), "conv_id", "left")
        .persist()
    )


def pair_features(pairs: DataFrame, docs: DataFrame, attach_tfidf: bool = True) -> DataFrame:
    """Attach the full feature vector to candidate pairs.

    ``pairs``: (left_id, right_id, ...); ``docs``: assemble_documents output.
    Two shuffle joins on conv_id recover both sides' document attributes; all
    features are computed pipeline-local after the joins (no extra shuffle).

    The payload (scoring_payload) also carries each doc's GLOBAL-scope
    TF-IDF vector (l_terms/l_weights on the left side, r_vec lookup map on
    the right), so pair_tfidf_cosine computes the cosine from these columns
    WITHOUT its own two joins (round-7: the vector joins were +15 s of the
    56 s all-features wall at 861k pairs).  ``attach_tfidf=False`` ships the
    plain doc_payload, for callers that never compute the cosine.

    NOTE the second join still re-shuffles the l-enriched pair rows — the
    production hot path is fused.fused_scored_pairs, which ships payload
    per block membership, never per pair; this two-join form remains the
    right shape when the caller has an arbitrary (not block-derived) pair
    list.
    """
    # shuffle_hash hint on the DOC sides: by construction candidates >> docs,
    # and the enriched pair rows are heavy (~750 hashed longs of shingle
    # sets + prefixes each side).  The default SortMergeJoin SORTS the pair
    # side — twice, once per join — which at 5.5M pairs is an external sort
    # of ~70 GB of enriched rows and dominated the full-feature stage wall
    # (round-5 rehearsal).  Hash-building the small doc side instead streams
    # the pair side unsorted: measured 2-2.9x on the full-feature path at
    # 5.5M pairs.  The build side per task is docs_rows/shuffle_partitions x
    # ~12 KB — trivially in-memory at any realistic partitioning.
    if attach_tfidf:
        pay = scoring_payload(docs)
        l_extra, r_extra = ["terms", "weights"], ["vec"]
    else:
        pay = doc_payload(docs).persist()
        l_extra, r_extra = [], []
    joined = pairs.join(
        prefixed_payload(pay, "l", "left_id", extra_cols=l_extra).hint("shuffle_hash"),
        "left_id",
    ).join(
        prefixed_payload(pay, "r", "right_id", extra_cols=r_extra).hint("shuffle_hash"),
        "right_id",
    )
    return with_pair_feature_columns(joined)


def with_pair_feature_columns(joined: DataFrame) -> DataFrame:
    """Apply every pair feature to a frame carrying ``l_``/``r_`` prefixed
    doc_payload columns (however those got there — per-pair joins in
    pair_features, or the block self-join in fused.fused_scored_pairs), then
    drop the heavy payload arrays."""

    def ngram_jac(n: int) -> Column:
        # one array_intersect per pair; |union| = na + nb - |inter| from the
        # doc-side set sizes (array_union would rebuild a 2x-size hash set)
        a, b = F.col(f"l_sh{n}"), F.col(f"r_sh{n}")
        na, nb = F.col(f"l_nsh{n}"), F.col(f"r_nsh{n}")
        inter = F.size(F.array_intersect(a, b))
        return F.when((na == 0) | (nb == 0), F.lit(0.0)).otherwise(
            inter / (na + nb - inter)
        )

    # token-set jaccard denominator by the same size arithmetic (sets are
    # already distinct doc-side, so |union| = na + nb - |inter| exactly)
    tok_inter = F.size(F.array_intersect("l_tokset", "r_tokset"))
    tok_union_n = F.size("l_tokset") + F.size("r_tokset") - tok_inter
    sig_inter = F.size(F.array_intersect("l_sig", "r_sig"))

    return (
        joined.withColumn(
            "levenshtein",
            # exact-equality guard covers the FULL text via (hash, length)
            # (so true exact dupes score 1.0 even beyond the prefix);
            # banded DP on prefixes
            F.when(
                (F.col("l_text_sig") == F.col("r_text_sig"))
                & (F.col("l_text_len") == F.col("r_text_len"))
                & (F.col("l_text_len") > 0),
                F.lit(1.0),
            ).otherwise(
                levenshtein_sim_col(F.col("l_pfx"), F.col("r_pfx"), max_dist=LEV_MAX_DIST)
            ),
        )
        # token set ops on the PRE-DEDUPED doc-side arrays (same reference
        # semantics as jaccard_col/overlap_*_col, which the unit tests pin;
        # computing array_distinct per pair would repeat it 4x per row).
        # Size-arithmetic union skips building the per-pair union hash set
        # + output array (array_union) — allocation bandwidth is this box's
        # shared wall (BENCH/cpu_scaling.py alloc leg); values identical
        # (tok_union_n == 0 iff both sets empty, the old predicate)
        .withColumn(
            "jaccard",
            F.when(tok_union_n == 0, F.lit(0.0)).otherwise(tok_inter / tok_union_n),
        )
        .withColumn("token_overlap", tok_inter)
        .withColumn(
            "token_overlap_ratio",
            F.when((F.col("l_ntok") == 0) | (F.col("r_ntok") == 0), F.lit(0.0)).otherwise(
                tok_inter / F.greatest("l_ntok", "r_ntok")
            ),
        )
        .withColumn("char_ngram_3", ngram_jac(3))
        .withColumn("char_ngram_4", ngram_jac(4))
        .withColumn("char_ngram_5", ngram_jac(5))
        # l_sig/l_tools arrive as pre-distinct hashed sets from doc_payload:
        # the same jaccard/any-shared semantics as either_empty_jaccard_col/
        # any_shared_col (pinned equivalent by
        # tests/test_fused_scoring.py::test_sig_tool_features_match_reference_functions)
        # without the per-pair array_distinct/array_union allocations
        .withColumn(
            "role_tool_overlap",
            F.when(
                (F.size("l_sig") == 0) | (F.size("r_sig") == 0), F.lit(0.0)
            ).otherwise(sig_inter / (F.size("l_sig") + F.size("r_sig") - sig_inter)),
        )
        .withColumn(
            "signature_match",
            F.when(
                (F.size("l_tools") == 0) | (F.size("r_tools") == 0), F.lit(0.0)
            ).otherwise(
                F.when(
                    F.size(F.array_intersect("l_tools", "r_tools")) > 0, F.lit(1.0)
                ).otherwise(F.lit(0.0))
            ),
        )
        .withColumn("year_match", year_match_col(F.col("l_year"), F.col("r_year")))
        .withColumn("year_diff", year_diff_col(F.col("l_year"), F.col("r_year")))
        .withColumn("source_year", F.col("l_year"))
        .withColumn("cand_year", F.col("r_year"))
        .withColumn("jaro_winkler", jaro_winkler_udf()(F.col("l_pfx"), F.col("r_pfx")))
        .drop(
            "l_pfx", "r_pfx", "l_tokset", "r_tokset", "l_ntok", "r_ntok",
            *[f"{s}_sh{n}" for s in "lr" for n in (3, 4, 5)],
            *[f"{s}_nsh{n}" for s in "lr" for n in (3, 4, 5)],
        )
    )
