"""TF-IDF document vectors and pair cosine, fully relational (SURVEY.md §2.4 A6/A7).

The reference fits sklearn's TfidfVectorizer per block or per split and takes
the dense cosine matrix (ref: src/match_utils.py:411-424, :561-581).  Dense
matrices don't scale; the sparse dot product does:

    explode tokens → per-(doc, term) tf → doc-frequency agg → idf join
    → L2 normalize per doc → pairs ⋈ left-vector ⋈ right-vector on term
    → groupBy(pair) sum(w_l * w_r)

Every step is a native shuffle-parallel DataFrame op; the per-term join is the
classic sparse-cosine plan (terms are the join key, so common-term fan-out is
bounded by the IDF weighting being cheap to carry).

IDF uses sklearn's smooth formulation ln((1+n)/(1+df)) + 1 to keep the scoring
scale compatible with the reference's vectorizer defaults.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def block_scope_idf(
    docs: DataFrame,
    block_cols: tuple[str, ...],
    id_col: str = "conv_id",
    token_col: str = "tokens",
) -> DataFrame:
    """(block_cols..., term, df, idf) — IDF fit WITHIN each block.

    The reference's default config is TFIDF_SCOPE="paper": the vectorizer is
    fit per block (ref: src/match_utils.py:411-424, vectorizer=None branch);
    the global corpus fit is the alternate path (:561-581).  Per-block n and
    df are one extra groupBy each — no collect, no applyInPandas; the idf
    join keys on (block, term) so everything stays shuffle-parallel.
    """
    bc = list(block_cols)
    n_per_block = docs.groupBy(*bc).agg(F.countDistinct(id_col).alias("_n"))
    terms = docs.select(*bc, F.col(id_col), F.explode(token_col).alias("term"))
    dfreq = terms.groupBy(*bc, "term").agg(F.countDistinct(id_col).alias("df"))
    return dfreq.join(n_per_block, bc).select(
        *bc,
        "term",
        "df",
        (F.log((F.col("_n") + 1.0) / (F.col("df") + 1.0)) + 1.0).alias("idf"),
    )


def doc_tfidf_vectors(
    docs: DataFrame,
    token_col: str = "tokens",
    scope_cols: tuple[str, ...] | None = None,
) -> DataFrame:
    """(conv_id, term, w_norm) sparse L2-normalized TF-IDF vectors.

    scope_cols=None fits one global IDF (reference TFIDF_SCOPE="global",
    ref: src/match_utils.py:561-581); scope_cols=(...) fits the IDF within
    each block, the reference's default TFIDF_SCOPE="paper" (:411-424) —
    same vectors as fitting a separate vectorizer per block.
    """
    if scope_cols:
        bc = list(scope_cols)
        terms = docs.select(*bc, "conv_id", F.explode(token_col).alias("term"))
        tf = terms.groupBy(*bc, "conv_id", "term").agg(F.count(F.lit(1)).alias("tf"))
        idf = block_scope_idf(docs, tuple(bc), token_col=token_col)
        w = tf.join(idf.select(*bc, "term", "idf"), bc + ["term"]).select(
            "conv_id", "term", (F.col("tf") * F.col("idf")).alias("w")
        )
    else:
        terms = docs.select("conv_id", F.explode(token_col).alias("term"))
        tf = terms.groupBy("conv_id", "term").agg(F.count(F.lit(1)).alias("tf"))
        # n_docs as a broadcast scalar, not a driver collect: the collect ran
        # a blocking job at PLAN BUILD time, serializing ~0.5 s ahead of
        # every leg that fits a global IDF (guide §5: the driver should do
        # no data work).  cast to double matches float(n_docs) bit-for-bit,
        # so idf values are unchanged (a7 oracle parity).
        n_frame = docs.agg(
            F.countDistinct("conv_id").cast("double").alias("_n_docs")
        )
        df = tf.groupBy("term").agg(F.countDistinct("conv_id").alias("df"))
        idf = df.crossJoin(F.broadcast(n_frame)).select(
            "term",
            (F.log((F.col("_n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0).alias("idf"),
        )
        w = tf.join(idf, "term").select(
            "conv_id", "term", (F.col("tf") * F.col("idf")).alias("w")
        )
    norms = w.groupBy("conv_id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("norm"))
    return w.join(norms, "conv_id").select(
        "conv_id", "term", (F.col("w") / F.col("norm")).alias("w_norm")
    )


def doc_tfidf_maps(
    docs: DataFrame,
    token_col: str = "tokens",
    scope_cols: tuple[str, ...] | None = None,
) -> DataFrame:
    """(conv_id, terms array, weights array, vec map<term,w_norm>) — one row
    per document, term-sorted for float determinism (SURVEY §7.4.3)."""
    vec = doc_tfidf_vectors(docs, token_col, scope_cols=scope_cols)
    return (
        vec.groupBy("conv_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("term"), F.col("w_norm")))
            ).alias("tw")
        )
        .select(
            "conv_id",
            F.expr("transform(tw, x -> x.term)").alias("terms"),
            F.expr("transform(tw, x -> x.w_norm)").alias("weights"),
            F.map_from_arrays(
                F.expr("transform(tw, x -> x.term)"),
                F.expr("transform(tw, x -> x.w_norm)"),
            ).alias("vec"),
        )
    )


def hashed_key_maps(tw: DataFrame) -> DataFrame:
    """doc_tfidf_maps output with term keys xxhash64-encoded to int64.

    The ride-along vector columns (l_terms strings + r_vec string-keyed map)
    are the widest columns of the heavy second pair join's shuffle rows;
    8-byte long keys shrink them ~2x (guide §2.3 "narrower types") and the
    cosine fold's map probe compares longs instead of UTF8Strings.  The dot
    product only ever does exact-match lookups within one fit, so values are
    unchanged absent a 64-bit collision inside a single vocabulary
    (P < 1e-10 at realistic vocabulary sizes; bit-parity with the string
    path is pinned by tests).  The string-keyed frame remains the public
    doc_tfidf_maps output — catalog/oracle queries never see hashed keys.
    """
    hashed = tw.select(
        "conv_id",
        F.transform("terms", lambda t: F.xxhash64(t)).alias("terms"),
        "weights",
    )
    return hashed.select(
        "conv_id",
        "terms",
        "weights",
        F.map_from_arrays("terms", "weights").alias("vec"),
    )


def tfidf_cosine_col() -> Column:
    """The pair cosine over ``l_terms``/``l_weights`` and the ``r_vec`` map
    (either key encoding): a JVM map-lookup fold over the left side's terms,

        sum over (t, w) in left:  w * right_map[t]

    O(terms) per pair, whole-stage codegen; 0.0 when either side has no
    vector (token-less docs join as NULL)."""
    dot = F.expr(
        "aggregate(zip_with(l_terms, l_weights,"
        " (t, w) -> w * coalesce(element_at(r_vec, t), 0D)),"
        " 0D, (acc, x) -> acc + x)"
    )
    return F.coalesce(dot, F.lit(0.0))


def pair_tfidf_cosine(
    pairs: DataFrame,
    docs: DataFrame,
    scope_cols: tuple[str, ...] | None = None,
) -> DataFrame:
    """pairs + tfidf_cosine column (0.0 when no shared terms).

    scope_cols selects the IDF fit scope (per-block = reference default
    TFIDF_SCOPE="paper"; None = global corpus fit) — see doc_tfidf_vectors.

    Shape matters at scale: the naive plan (pairs ⋈ left-terms ⋈ right-terms
    on term, then re-aggregate per pair) multiplies the pair count by terms-
    per-doc (~60x) through two wide shuffles.  Instead both sides' sparse
    vectors join ON conv_id (row count never exceeds |pairs|) and the dot
    product is tfidf_cosine_col — zero extra shuffle.
    """
    # Zero-join fast path: pair_features already ships each side's
    # GLOBAL-scope vector through its payload joins (l_terms/l_weights/
    # r_vec), so the cosine is a pipelined map-lookup fold — no exchange at
    # all.  The classic chain drops from 4 shuffles of the heavy pair rows
    # to 2 (round-7: the two vector joins were +15 s of the 56 s
    # all-features wall at 861k pairs).  Only valid for the global fit —
    # a scoped fit must rebuild the vectors, so it takes the join path.
    if scope_cols is None and {"l_terms", "l_weights", "r_vec"}.issubset(
        set(pairs.columns)
    ):
        return pairs.withColumn("tfidf_cosine", tfidf_cosine_col()).drop(
            "l_terms", "l_weights", "r_vec"
        )

    tw = doc_tfidf_maps(docs, scope_cols=scope_cols)
    l = tw.select(
        F.col("conv_id").alias("left_id"),
        F.col("terms").alias("l_terms"),
        F.col("weights").alias("l_weights"),
    )
    r = tw.select(F.col("conv_id").alias("right_id"), F.col("vec").alias("r_vec"))
    # a caller-supplied frame may already carry (stale-scope) vector
    # columns — drop them so the join below binds unambiguous names
    pairs = pairs.drop("l_terms", "l_weights", "r_vec")
    # shuffle_hash: build the small per-doc vector side, stream the pair
    # side unsorted — the pair rows upstream of this join already carry the
    # full feature payload, and SortMergeJoin would sort them twice more
    # (same rationale and measurement as pair_features' doc-side hint)
    return (
        pairs.join(l.hint("shuffle_hash"), "left_id", "left")
        .join(r.hint("shuffle_hash"), "right_id", "left")
        .withColumn("tfidf_cosine", tfidf_cosine_col())
        .drop("l_terms", "l_weights", "r_vec")
    )
