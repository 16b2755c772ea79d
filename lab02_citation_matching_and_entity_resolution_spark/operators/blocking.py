"""Multi-pass candidate-pair blocking with skew capping (SURVEY.md §2.3 J1/J2, §2.9 M1).

The reference blocks on a single equi-key (paper_id) and takes the per-block
cross product (ref: src/match_utils.py:427-495), capping oversized blocks by
random downsample (MAX_REFS/MAX_BIBS=200, :592-595).  At transcript scale one
key is not enough: we run several independent blocking passes and union their
candidate pairs —

  pass "token"     : prefix of the normalized document text (exact-dup key —
                     the analogue of the reference's arxiv_exact short-circuit
                     join, :446-448)
  pass "signature" : role/tool multiset + turn-count bucket (structural key)
  pass "minhash"   : banded MinHash-LSH over the token sets (recall extender)

keyed_passes defines every pass's (conv_id, block_key) memberships once;
candidate_pairs self-joins them on block_key into canonical (left_id <
right_id) pairs and dedups across passes with one groupBy, and
fused.fused_scored_pairs scores the same memberships block-locally.  Skew:
any block larger than ``block_cap`` is capped BEFORE the self-join by a
deterministic hash-ranked row_number — order-free (no rand(); reference's
random.sample is row-order dependent, see SURVEY §7.4.4) — and every cap
event is counted into a metrics DataFrame (no silent truncation).

block_pairs is the one capped block self-join: candidate_pairs, every dedup
pair generator (operators/dedup.py) and metrics.cluster_quality key their
rows and call it; audited_result is the one return policy around its audit.

Scale notes: the self-join per pass shuffles on block_key; the cap bounds the
worst block to cap^2/2 pairs.  AQE skew-join splits residual imbalance.  The
LSH pass's join is bucketed by (band hash) — bounded fan-out by construction.
"""

from __future__ import annotations

import warnings
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_BLOCK_CAP = 200  # reference MAX_REFS = MAX_BIBS = 200 (notebook cell 3)
DEFAULT_CAP_SEED = 23120334
# one row per capped block: the audit every capped operator returns
CAP_METRICS_SCHEMA = "block_key string, block_size long, cap int, rows_dropped long"


@dataclass
class BlockingConfig:
    token_prefix_len: int = 48      # chars of normalized doc_text in the token key
    block_cap: int = DEFAULT_BLOCK_CAP
    seed: int = DEFAULT_CAP_SEED
    minhash_tables: int = 6         # LSH bands
    minhash_rows: int = 4           # minhashes per band (s-curve knee ~0.64)
    passes: tuple[str, ...] = ("token", "signature", "minhash")


def _md5_rank(id_col: str, seed: int) -> F.Column:
    """Engine-portable deterministic rank key: md5(id || '#seed').

    md5 (not xxhash64) so a DuckDB oracle applying the same cap reproduces
    the exact survivor set; stable under any partitioning."""
    return F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f"#{seed}")))


def _cap_block(
    df: DataFrame,
    block_cols: list[str],
    id_col: str,
    cap: int,
    seed: int,
    rank: str = "md5",
) -> tuple[DataFrame, DataFrame]:
    """Deterministically keep at most ``cap`` rows per block.

    The one skew-cap primitive of every self-joining operator (blocking
    passes, the dedup operators, the entry demo): a hot block (boilerplate
    text, one dominant language slice) otherwise goes quadratic at corpus
    scale.  Rows are ranked by a hash of (id, seed) — stable under any
    partitioning/row order, unlike rand().  ``rank="md5"`` is engine-portable
    (the DuckDB oracles reproduce its survivors); ``rank="xxhash64"`` is the
    cheaper rank the token and signature blocking passes use.  Returns
    (survivors, metrics-of-capped-blocks).
    """
    from pyspark.sql.window import Window

    if rank == "md5":
        rank_col = _md5_rank(id_col, seed)
    elif rank == "xxhash64":
        rank_col = F.xxhash64(F.col(id_col), F.lit(seed))
    else:
        raise ValueError(f"unknown rank {rank!r}")
    w = Window.partitionBy(*block_cols).orderBy(rank_col, F.col(id_col))
    ranked = df.withColumn("_rk", F.row_number().over(w))
    metrics = (
        ranked.groupBy(*block_cols)
        .agg(F.count(F.lit(1)).alias("block_size"))
        .where(F.col("block_size") > cap)
        .select(
            F.concat_ws("|", *[F.col(c).cast("string") for c in block_cols]).alias(
                "block_key"
            ),
            "block_size",
            F.lit(cap).alias("cap"),
            (F.col("block_size") - cap).alias("rows_dropped"),
        )
    )
    return ranked.where(F.col("_rk") <= cap).drop("_rk"), metrics


def empty_cap_audit(spark: SparkSession) -> DataFrame:
    """The cap audit of an uncapped pass: CAP_METRICS_SCHEMA, no rows."""
    return spark.createDataFrame([], CAP_METRICS_SCHEMA)


def block_pairs(
    keyed: DataFrame,
    key_cols: list[str] | tuple[str, ...],
    id_col: str,
    cap: int | None = None,
    cap_seed: int = DEFAULT_CAP_SEED,
    carry: tuple[str, ...] = (),
) -> tuple[DataFrame, DataFrame | None]:
    """The capped block self-join: (pairs, cap audit).

    ``keyed`` holds one row per (id, block) membership.  Rows sharing every
    ``key_cols`` value meet once as a canonical ``left_id < right_id`` pair;
    each ``carry`` column rides along as ``l_<c>`` / ``r_<c>``.  The pairs
    keep the key columns, so a pair sharing several blocks appears once per
    shared block — callers that need set semantics dedup after their filter.

    Cap discipline (every self-joining pair generator): at corpus scale a
    coarse or boilerplate block — the whole ("en", "web") slice, a hot LSH
    band bucket, one 16-bit simhash prefix — goes quadratic, so ``cap``
    bounds every block BEFORE the join to ``cap`` rows ranked by md5(id ||
    '#seed') (_cap_block: stable under any partitioning and engine-portable,
    so a DuckDB oracle with the same cap reproduces the exact pair set).
    The cap DOES drop rows in hot blocks; the audit frame
    (CAP_METRICS_SCHEMA) has one row per truncated block, and an empty
    audit certifies that nothing was dropped.  ``cap=None`` is exhaustive
    (quadratic-risk) and returns audit None (audited_result hands a caller
    that asked for it an empty audit).  At 100 TB, prefer finer
    keys (LSH band, fingerprint prefix) over raising the cap.
    """
    key_cols = list(key_cols)
    audit = None
    if cap is not None:
        keyed, audit = _cap_block(keyed, key_cols, id_col, cap, cap_seed)

    def side(prefix: str, id_alias: str) -> DataFrame:
        return keyed.select(
            *key_cols,
            F.col(id_col).alias(id_alias),
            *[F.col(c).alias(f"{prefix}_{c}") for c in carry],
        )

    pairs = side("l", "left_id").join(side("r", "right_id"), key_cols)
    return pairs.where(F.col("left_id") < F.col("right_id")), audit


def audited_result(
    op: str,
    out: DataFrame,
    audit: DataFrame | None,
    cap: int | None,
    return_metrics: bool,
    param: str = "block_cap",
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """The return policy of a capped operator: ``(out, audit)`` when the
    caller asked for the audit (an empty one when uncapped, ``audit`` None);
    otherwise ``out``, with a RuntimeWarning when an active cap's audit is
    being discarded."""
    if return_metrics:
        return out, (audit if audit is not None else empty_cap_audit(out.sparkSession))
    if cap is not None:
        warnings.warn(
            f"{op}: {param}={cap} is active — rows beyond the cap in hot "
            "buckets are dropped deterministically (md5-ranked). Pass "
            "return_metrics=True to receive the per-block truncation audit, "
            f"or {param}=None for exhaustive (quadratic-risk) behavior.",
            RuntimeWarning,
            stacklevel=3,
        )
    return out


def keyed_passes(docs: DataFrame, cfg: BlockingConfig):
    """[(pass_name, keyed(conv_id, block_key), cap_metrics)] — each enabled
    pass's capped block memberships.  The one definition of the blocking
    keys: candidate_pairs self-joins these rows on block_key, and
    fused.fused_scored_pairs joins the scoring payload onto them first.

      token     : prefix of the normalized doc_text (xxhash64-ranked cap)
      signature : sha1 of role/tool multiset + turn-count bucket (xxhash64)
      minhash   : one row per LSH band, keyed "band_idx#band_key" (md5 cap)
    """
    out = []
    if "token" in cfg.passes:
        keyed = docs.select(
            "conv_id",
            F.substring("doc_text", 1, cfg.token_prefix_len).alias("block_key"),
        ).where(F.length("block_key") > 0)
        capped, m = _cap_block(
            keyed, ["block_key"], "conv_id", cfg.block_cap, cfg.seed, rank="xxhash64"
        )
        out.append(("token", capped, m.withColumn("block_pass", F.lit("token"))))
    if "signature" in cfg.passes:
        keyed = docs.select(
            "conv_id",
            F.sha1(
                F.concat_ws(
                    "|",
                    F.concat_ws(",", "roles"),
                    F.concat_ws(",", "tools"),
                    (F.col("n_turns") / 4).cast("int").cast("string"),
                )
            ).alias("block_key"),
        )
        capped, m = _cap_block(
            keyed, ["block_key"], "conv_id", cfg.block_cap, cfg.seed, rank="xxhash64"
        )
        out.append(("signature", capped, m.withColumn("block_pass", F.lit("signature"))))
    if "minhash" in cfg.passes:
        from .dedup import minhash_band_index

        # Native banded MinHash-LSH (token explode -> salted-min signature ->
        # band keys) rather than Spark ML's MinHashLSH: the ML variant pays
        # vector-UDT construction plus an approxSimilarityJoin whose explode
        # dominated the blocking stage (~6x this pass's cost at bench scale).
        # Token-level: near-duplicate conversations keep a nearly identical
        # token SET under word swaps/insertions, and tokens are ~10-30x fewer
        # than char shingles (char-shingle minhash stays in dedup.py, where
        # sub-token granularity matters).  array_distinct before the explode:
        # min() is duplicate-invariant, so the signatures are IDENTICAL while
        # the exploded rows (each pays n_hashes xxhash64 evals) drop by the
        # per-doc token repetition factor.  Band buckets are skew-capped too:
        # a boilerplate band shared by thousands of docs would otherwise
        # explode the self-join quadratically.
        n_hashes = cfg.minhash_tables * cfg.minhash_rows
        exploded = docs.select(
            "conv_id", F.explode(F.array_distinct("tokens")).alias("tok")
        )
        sigs = exploded.groupBy("conv_id").agg(
            *[
                F.min(F.xxhash64(F.col("tok"), F.lit(i))).alias(f"h{i}")
                for i in range(n_hashes)
            ]
        )
        keyed = minhash_band_index(
            sigs, n_hashes=n_hashes, bands=cfg.minhash_tables, id_col="conv_id"
        )
        capped, m = _cap_block(
            keyed, ["band_idx", "band_key"], "conv_id", cfg.block_cap, cfg.seed
        )
        capped = capped.select(
            "conv_id", F.concat_ws("#", "band_idx", "band_key").alias("block_key")
        )
        out.append(("minhash", capped, m.withColumn("block_pass", F.lit("minhash"))))
    return out


def clean_for_shingles(col: F.Column) -> F.Column:
    """The shingler's text canonicalization: lowercase, all whitespace removed."""
    return F.regexp_replace(F.lower(col), r"\s+", "")


def shingle_expr_cleaned(cleaned: F.Column, n: int) -> F.Column:
    """Distinct char n-grams of an ALREADY-cleaned (clean_for_shingles) column.

    Callers should materialize the cleaned text as a named column in a
    separate projection and pass the attribute here: expressions inside a
    higher-order-function lambda are re-evaluated PER ELEMENT, so inlining
    the regexp_replace(lower(...)) subtree into the lambda re-runs the
    whitespace regexp once per shingle position (~250x per doc per n).
    Measured on the round-7 probe: doc_payload's three shingle sets cost
    5.7 s/eval at 18.5k docs with the inlined subtree vs ~0.8 s against a
    materialized attribute.  CollapseProject keeps the two projections
    separate because the cleaned column is expensive and multiply
    referenced (SPARK-36718), so no shuffle or barrier is needed.
    """
    return F.when(
        F.length(cleaned) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.length(cleaned) - n + 1),
                lambda i: cleaned.substr(i, F.lit(n)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def shingle_expr(text_col: str, n: int) -> F.Column:
    """Distinct char n-grams of the whitespace-stripped lowercase text.

    Native equivalent of the reference's _char_ngrams
    (src/feature_engineering_utils.py:71-78) — transform over sequence keeps
    it inside codegen; no Python.  Inlines the cleaning into the lambda (see
    shingle_expr_cleaned): fine for the per-pair feature column, hot paths
    materialize clean_for_shingles first.
    """
    return shingle_expr_cleaned(clean_for_shingles(F.col(text_col)), n)


def union_all(frames: list[DataFrame]) -> DataFrame:
    """unionByName over a non-empty list of same-schema frames."""
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def candidate_pairs(docs: DataFrame, cfg: BlockingConfig | None = None) -> tuple[DataFrame, DataFrame]:
    """Union of all blocking passes, canonical + deduplicated.

    Each keyed pass (already capped by keyed_passes) self-joins on
    block_key; one groupBy dedups pairs across passes and bands.  Every
    pass reads ``docs`` — persist it first, the caller owns the cache.

    Returns (pairs_df[left_id, right_id, block_passes], cap_metrics_df).
    """
    cfg = cfg or BlockingConfig()
    passes = keyed_passes(docs, cfg)
    all_pairs = []
    for pass_name, keyed, _ in passes:
        all_pairs.append(
            block_pairs(keyed, ["block_key"], "conv_id")[0].select(
                "left_id", "right_id", F.lit(pass_name).alias("block_pass")
            )
        )
    pairs = (
        union_all(all_pairs)
        .groupBy("left_id", "right_id")
        .agg(F.sort_array(F.collect_set("block_pass")).alias("block_passes"))
    )
    return pairs, union_all([m for _, _, m in passes])
