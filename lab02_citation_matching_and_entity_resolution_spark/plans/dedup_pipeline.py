"""Composed corpus-dedup pipeline: documents -> near-dup groups -> keepers.

Round-6 composition task: every dedup operator (exact, MinHash LSH, SimHash
bands, n-gram Jaccard, embedding cosine) is a tested library function and an
oracled catalog query, but a user who wants "dedup this corpus" should not
have to hand-wire ``minhash_signatures -> band_pairs -> near_dup_groups ->
keepers``.  This plan sequences them the way ``plans/pipeline.py`` sequences
the ER flagship — the reference's analogous stages are composed notebook
entry points (ref: notebooks/match_and_fe.ipynb), not loose functions.

Stage graph (pure DataFrame -> DataFrame; the CLI adds TableStore
materialization, lineage, and resume around it):

  passes     documents  -> near-dup pairs        (one frame per enabled pass,
                                                  each with its cap audit)
  union      pass pairs -> edge list             (pass kept as a column)
  closure    edges      -> duplicate groups      (connected_components_auto)
  keep       groups     -> keeper documents      (min-id keeper per group)
  [mix]      keepers    -> quota sample          (optional domain re-mix)

Every pass is cap-audited (the no-silent-caps rule): the combined audit
frame carries one row per truncated block per pass, and the CLI sinks it to
the lineage metrics table.  100 TB shape: each pass is one posexplode + one
banded self-join (bounded by its cap), the closure is the salted-auto CC,
and nothing collects to the driver beyond bounded audit scalars.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.blocking import empty_cap_audit
from ..operators.dedup import (
    embedding_near_dup,
    minhash_band_pairs,
    minhash_signatures,
    near_dup_groups,
    ngram_jaccard_pairs,
    simhash64,
    simhash_band_pairs,
)

PASS_NAMES = ("exact", "minhash", "simhash", "ngram", "embedding")

# (pass, left_id, right_id, detail) — detail is pass-specific evidence:
# NULL for exact/minhash (band membership is boolean), hamming distance for
# simhash, jaccard for ngram, cosine for embedding.
PAIRS_SCHEMA = "pass string, left_id string, right_id string, detail double"


@dataclass
class DedupConfig:
    passes: tuple[str, ...] = ("exact", "minhash")
    id_col: str = "doc_id"
    text_col: str = "text"
    # minhash pass
    minhash_n_hashes: int = 16
    minhash_bands: int = 4
    shingle_n: int = 4
    band_cap: int = 1000
    minhash_hash_fn: str = "xxhash64"  # production default; "md5" for oracle parity
    # simhash pass
    simhash_max_hamming: int = 3
    simhash_bands: int = 4
    simhash_hash_fn: str = "xxhash64"
    # ngram pass
    ngram_n: int = 3
    ngram_threshold: float = 0.8
    ngram_block_cols: tuple[str, ...] = ("lang", "source")
    ngram_block_cap: int = 2000
    # embedding pass (requires an embeddings frame at run time)
    embedding_threshold: float = 0.95
    embedding_n_cells: int = 16
    embedding_refine_rounds: int = 1
    embedding_vec_col: str = "embedding"
    # run the IVF recall audit alongside the embedding pass (bounded sample)
    embedding_audit: bool = True
    embedding_audit_k: int = 10
    embedding_audit_queries: int = 32
    cap_seed: int = 23120334


@dataclass
class DedupResult:
    pairs: DataFrame        # PAIRS_SCHEMA — evidence, one row per pass-pair
    groups: DataFrame       # (id_col, group_id, is_keeper) — complete assignment
    keepers: DataFrame      # input doc rows filtered to keepers
    cap_metrics: DataFrame  # CAP_METRICS_SCHEMA + pass column
    ivf_audit: DataFrame | None  # (n_probe, k, n_queries, mean/min recall)
    cc_stats: dict = field(default_factory=dict)


def _exact_pairs(docs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Byte-identical duplicates as star edges to the group's min id.

    A giant exact-dup group (boilerplate pages repeated millions of times)
    must NOT become an all-pairs clique — the star to the min-id member is
    linear in group size and closure-equivalent under connected components.
    """
    hashed = docs.select(
        F.col(cfg.id_col), F.md5(F.col(cfg.text_col)).alias("content_hash")
    )
    mins = hashed.groupBy("content_hash").agg(F.min(cfg.id_col).alias("left_id"))
    return (
        hashed.join(mins, "content_hash")
        .where(F.col(cfg.id_col) != F.col("left_id"))
        .select("left_id", F.col(cfg.id_col).alias("right_id"))
    )


def dedup_pass_pairs(
    docs: DataFrame,
    cfg: DedupConfig,
    embeddings: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame | None]:
    """(pairs, cap_metrics, ivf_audit) for every pass enabled in ``cfg``.

    ``pairs`` follows PAIRS_SCHEMA; ``cap_metrics`` is the per-pass union of
    each operator's truncation audit (pass column prepended).  The embedding
    pass blocks the cosine self-join on IVF cell assignments — the scale
    path embedding_near_dup's docstring demands — and, when
    ``cfg.embedding_audit``, measures cell recall on a bounded query sample.
    """
    unknown = set(cfg.passes) - set(PASS_NAMES)
    if unknown:
        raise ValueError(f"unknown dedup pass(es) {sorted(unknown)}; known: {PASS_NAMES}")
    if "embedding" in cfg.passes and embeddings is None:
        raise ValueError("dedup pass 'embedding' requires an embeddings frame")

    def tag(pairs: DataFrame, name: str, detail_col: str | None) -> DataFrame:
        detail = (
            F.col(detail_col).cast("double") if detail_col else F.lit(None).cast("double")
        )
        return pairs.select(
            F.lit(name).alias("pass"), "left_id", "right_id", detail.alias("detail")
        )

    pair_frames: list[DataFrame] = []
    cap_frames: list[DataFrame] = []
    ivf_audit: DataFrame | None = None

    for name in cfg.passes:
        if name == "exact":
            pair_frames.append(tag(_exact_pairs(docs, cfg), "exact", None))
            cap_frames.append(empty_cap_audit(docs.sparkSession))
        elif name == "minhash":
            sigs = minhash_signatures(
                docs,
                n_hashes=cfg.minhash_n_hashes,
                shingle_n=cfg.shingle_n,
                id_col=cfg.id_col,
                text_col=cfg.text_col,
                hash_fn=cfg.minhash_hash_fn,
            )
            p, m = minhash_band_pairs(
                sigs,
                n_hashes=cfg.minhash_n_hashes,
                bands=cfg.minhash_bands,
                id_col=cfg.id_col,
                band_cap=cfg.band_cap,
                cap_seed=cfg.cap_seed,
                return_metrics=True,
            )
            pair_frames.append(tag(p, "minhash", None))
            cap_frames.append(m)
        elif name == "simhash":
            sim = simhash64(
                docs, id_col=cfg.id_col, text_col=cfg.text_col,
                hash_fn=cfg.simhash_hash_fn,
            )
            p, m = simhash_band_pairs(
                sim,
                max_hamming=cfg.simhash_max_hamming,
                bands=cfg.simhash_bands,
                id_col=cfg.id_col,
                block_cap=cfg.band_cap,
                cap_seed=cfg.cap_seed,
                return_metrics=True,
            )
            pair_frames.append(tag(p, "simhash", "hamming"))
            cap_frames.append(m)
        elif name == "ngram":
            missing = [c for c in cfg.ngram_block_cols if c not in docs.columns]
            if missing:
                raise ValueError(
                    f"ngram pass blocks on {cfg.ngram_block_cols} but the input "
                    f"lacks {missing}; set ngram_block_cols to existing columns"
                )
            p, m = ngram_jaccard_pairs(
                docs,
                n=cfg.ngram_n,
                threshold=cfg.ngram_threshold,
                block_cols=cfg.ngram_block_cols,
                id_col=cfg.id_col,
                text_col=cfg.text_col,
                block_cap=cfg.ngram_block_cap,
                cap_seed=cfg.cap_seed,
                return_metrics=True,
            )
            pair_frames.append(tag(p, "ngram", "jaccard"))
            cap_frames.append(m)
        elif name == "embedding":
            from ..operators.ann import (
                assign_cells,
                ivf_recall_audit,
                refine_centroids,
                seed_centroids,
            )

            emb_id = cfg.id_col if cfg.id_col in embeddings.columns else "vec_id"
            cents = seed_centroids(
                embeddings, cfg.embedding_n_cells, id_col=emb_id,
                vec_col=cfg.embedding_vec_col,
            )
            if cfg.embedding_refine_rounds:
                cents = refine_centroids(
                    embeddings, cents, rounds=cfg.embedding_refine_rounds,
                    id_col=emb_id, vec_col=cfg.embedding_vec_col,
                )
            assigned = assign_cells(
                embeddings, cents, id_col=emb_id, vec_col=cfg.embedding_vec_col,
                n_probe=1, out_id=emb_id,
            )
            p = embedding_near_dup(
                assigned,
                threshold=cfg.embedding_threshold,
                id_col=emb_id,
                vec_col=cfg.embedding_vec_col,
                block_expr=F.col("cell_id"),
            )
            pair_frames.append(tag(p, "embedding", "cosine"))
            cap_frames.append(empty_cap_audit(docs.sparkSession))
            if cfg.embedding_audit:
                # the corpus audits itself: query side = the same vectors,
                # id renamed so the items x queries self-join keeps distinct
                # output attributes
                audit_queries = embeddings.select(
                    F.col(emb_id).alias("query_id"), F.col(cfg.embedding_vec_col)
                )
                ivf_audit = ivf_recall_audit(
                    embeddings,
                    audit_queries,
                    k=cfg.embedding_audit_k,
                    n_cells=cfg.embedding_n_cells,
                    sample_queries=cfg.embedding_audit_queries,
                    refine=cfg.embedding_refine_rounds,
                    id_col=emb_id,
                    vec_col=cfg.embedding_vec_col,
                    query_id_col="query_id",
                )

    pairs = pair_frames[0]
    for f in pair_frames[1:]:
        pairs = pairs.unionByName(f)
    caps = cap_frames[0].withColumn("pass", F.lit(cfg.passes[0]))
    for name, f in zip(cfg.passes[1:], cap_frames[1:]):
        caps = caps.unionByName(f.withColumn("pass", F.lit(name)))
    return pairs, caps.select("pass", *[c for c in caps.columns if c != "pass"]), ivf_audit


def run_dedup_pipeline(
    docs: DataFrame,
    cfg: DedupConfig | None = None,
    embeddings: DataFrame | None = None,
) -> DedupResult:
    """documents -> (pairs, groups, keepers, audits).

    ``groups`` is a COMPLETE keep/drop assignment (singletons included, via
    near_dup_groups' vertex completion); ``keepers`` is the input frame
    filtered to group keepers, so ``keepers`` is the deduplicated corpus a
    training pipeline feeds downstream.
    """
    cfg = cfg or DedupConfig()
    pairs, caps, ivf_audit = dedup_pass_pairs(docs, cfg, embeddings=embeddings)
    cc_stats: dict = {}
    groups = near_dup_groups(
        pairs.select("left_id", "right_id"), docs=docs, id_col=cfg.id_col,
        stats=cc_stats,
    )
    keepers = docs.join(
        groups.where(F.col("is_keeper")).select(cfg.id_col), cfg.id_col, "left_semi"
    )
    return DedupResult(
        pairs=pairs,
        groups=groups,
        keepers=keepers,
        cap_metrics=caps,
        ivf_audit=ivf_audit,
        cc_stats=cc_stats,
    )
