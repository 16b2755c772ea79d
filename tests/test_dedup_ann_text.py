"""Unit tests for the training-data operators: dedup suite, ANN, text stats."""

import warnings

import pytest
from pyspark.sql import functions as F

from lab02_citation_matching_and_entity_resolution_spark.operators import (
    ann,
    dedup,
    textstats,
)


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en", "s1"),
        (2, "the quick brown fox jumps over the lazy dog", "en", "s1"),  # exact dup of 1
        (3, "the quick brown fox jumped over the lazy dog", "en", "s1"),  # near dup
        (4, "completely different text about spark shuffles", "en", "s1"),
        (5, "der hund ist nicht mit der katze", "de", "s2"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")


def test_exact_dedup(spark):
    got = dedup.exact_dedup(_docs(spark)).collect()
    groups = {r["keeper_id"]: r["group_size"] for r in got}
    assert groups[1] == 2  # docs 1 and 2 identical
    assert sum(groups.values()) == 5


def test_ngram_jaccard_pairs(spark):
    pairs = dedup.ngram_jaccard_pairs(_docs(spark), n=3, threshold=0.5).collect()
    got = {(r["left_id"], r["right_id"]) for r in pairs}
    assert (1, 2) in got and (1, 3) in got and (2, 3) in got
    assert not any(4 in p or 5 in p for p in got)
    exact = [r for r in pairs if (r["left_id"], r["right_id"]) == (1, 2)][0]
    assert exact["jaccard"] == 1.0


def test_minhash_lsh_finds_near_dups(spark):
    sigs = dedup.minhash_signatures(_docs(spark), n_hashes=16, shingle_n=4)
    pairs = {
        (r["left_id"], r["right_id"])
        for r in dedup.minhash_band_pairs(sigs, n_hashes=16, bands=8).collect()
    }
    assert (1, 2) in pairs  # identical docs always collide
    assert (1, 3) in pairs  # near dup: high shingle overlap
    assert (1, 4) not in pairs


def test_simhash_near_pairs(spark):
    sim = dedup.simhash64(_docs(spark))
    vals = {r["doc_id"]: r["simhash"] for r in sim.collect()}
    assert vals[1] == vals[2]  # identical token multiset -> identical simhash
    pairs = {
        (r["left_id"], r["right_id"])
        for r in dedup.simhash_near_pairs(sim, max_hamming=16).collect()
    }
    assert (1, 2) in pairs


def test_simhash_band_pairs_recall_guarantee_vs_prefix_probe(spark):
    """Pigeonhole guarantee: with 4 bands, EVERY pair at hamming<=3 shares a
    whole 16-bit band and must be found — including pairs differing only in
    the TOP bits, which the single-prefix probe structurally misses."""
    def s64(x):  # two's-complement wrap into Spark's signed long range
        return x - (1 << 64) if x >= (1 << 63) else x

    base = 0x0123456789ABCDEF
    rows = [
        (0, s64(base)),
        (1, s64(base ^ (1 << 63))),            # 1 bit, in the top prefix
        (2, s64(base ^ (1 << 63) ^ (1 << 0))), # 2 bits, spanning top and bottom
        (3, s64(base ^ 0b111)),                # 3 bits, bottom band
        (4, s64(base ^ ((1 << 60) | (1 << 40) | (1 << 20) | (1 << 1)))),  # 4 bits
    ]
    sim = spark.createDataFrame(rows, "doc_id long, simhash long")
    banded = {
        (r["left_id"], r["right_id"]): r["hamming"]
        for r in dedup.simhash_band_pairs(sim, max_hamming=3, bands=4).collect()
    }
    # every hamming<=3 pair with doc 0 is present, with exact distances
    assert banded[(0, 1)] == 1
    assert banded[(0, 2)] == 2
    assert banded[(0, 3)] == 3
    assert (0, 4) not in banded  # hamming 4 > max_hamming
    # exhaustive cross-check: banded == brute-force filter at <=3
    import itertools

    vals = dict(rows)

    def ham(a, b):  # mask to 64 bits: xor of negative Python ints
        return bin((vals[a] ^ vals[b]) & ((1 << 64) - 1)).count("1")

    brute = {
        (a, b): ham(a, b)
        for a, b in itertools.combinations(sorted(vals), 2)
        if ham(a, b) <= 3
    }
    assert banded == brute
    # the prefix probe misses the top-bit pairs (documented weakness)
    prefix = {
        (r["left_id"], r["right_id"])
        for r in dedup.simhash_near_pairs(sim, max_hamming=3).collect()
    }
    assert (0, 1) not in prefix and (0, 3) in prefix


def test_simhash_band_pairs_rejects_bad_bands(spark):
    import pytest

    sim = spark.createDataFrame([(0, 1)], "doc_id long, simhash long")
    with pytest.raises(ValueError, match="divide 64"):
        dedup.simhash_band_pairs(sim, bands=5)


def test_embedding_near_dup_and_ann(spark):
    rows = [
        (1, [1.0, 0.0, 0.0], 0),
        (2, [0.99, 0.05, 0.0], 0),   # near dup of 1
        (3, [0.0, 1.0, 0.0], 0),
        (4, [0.0, 0.0, 1.0], 1),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    near = {
        (r["left_id"], r["right_id"])
        for r in dedup.embedding_near_dup(emb, threshold=0.95, block_expr=F.col("label")).collect()
    }
    assert near == {(1, 2)}

    queries = emb.where("vec_id = 1").select(F.col("vec_id").alias("query_id"), "embedding")
    topk = ann.brute_force_topk(emb, queries, k=2).collect()
    order = [r["vec_id"] for r in sorted(topk, key=lambda r: r["rk"])]
    assert order == [1, 2]


def test_ivf_recall_vs_brute(spark):
    import random

    rng = random.Random(5)
    rows = [
        (i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(200)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.where("vec_id < 5").select(F.col("vec_id").alias("query_id"), "embedding")
    brute = ann.brute_force_topk(emb, queries, k=5)
    ivf = ann.ivf_topk(emb, queries, k=5, n_cells=8, n_probe=4)
    b = {(r["query_id"], r["vec_id"]) for r in brute.collect()}
    i = {(r["query_id"], r["vec_id"]) for r in ivf.collect()}
    # probing half the cells must recover at least 60% of true neighbors
    assert len(b & i) / len(b) >= 0.6
    # the query vector itself is always its own top hit in both
    assert all((q, q) in i for q in range(5))

    # one Lloyd re-centering round must not hurt recall (typically helps:
    # re-centered cells are better balanced at fixed n_probe), and the
    # refined plan must stay exchange-clean (no SinglePartition anywhere)
    ivf_r = ann.ivf_topk(emb, queries, k=5, n_cells=8, n_probe=4, refine=1)
    ir = {(r["query_id"], r["vec_id"]) for r in ivf_r.collect()}
    assert len(b & ir) >= len(b & i)
    plan = ivf_r._sc._jvm.PythonSQLUtils.explainString(
        ivf_r._jdf.queryExecution(), "formatted"
    )
    assert "SinglePartition" not in plan


def test_refine_centroids_keeps_empty_cells_and_cell_count(spark):
    """Refinement must preserve the cell-id set even when a seed centroid
    attracts no vectors (coalesce keeps the seed)."""
    rows = [(i, [float(i % 2), 1.0 - (i % 2)]) for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    seeds = ann.seed_centroids(emb, 6)
    refined = ann.refine_centroids(emb, seeds, rounds=1)
    got = refined.select("cell_id").orderBy("cell_id").collect()
    assert [r["cell_id"] for r in got] == list(range(6))
    # every refined centroid still has a usable norm
    assert all(r["cnorm"] > 0 for r in refined.collect())


def test_language_id(spark):
    got = {r["doc_id"]: r["lang_guess"] for r in textstats.language_id(_docs(spark)).collect()}
    assert got[1] == "en"
    assert got[5] == "de"


def test_quality_and_tokens(spark):
    q = {r["doc_id"]: r for r in textstats.quality_score(_docs(spark)).collect()}
    assert q[1]["n_tokens"] == 9
    assert 0.0 <= q[1]["quality"] <= 1.0
    t = {r["doc_id"]: r for r in textstats.token_counts(_docs(spark)).collect()}
    assert t[1]["ws_tokens"] == 9
    assert t[1]["bpe_pieces"] >= 9


def test_fingerprint_stability(spark):
    fp1 = {r["doc_id"]: r["fingerprint"] for r in textstats.fingerprint(_docs(spark)).collect()}
    fp2 = {r["doc_id"]: r["fingerprint"] for r in textstats.fingerprint(_docs(spark)).collect()}
    assert fp1 == fp2
    assert fp1[1] == fp1[2]  # identical content -> identical fingerprint
    assert fp1[1] != fp1[4]


def test_embedding_near_dup_refuses_implicit_full_scan(spark):
    """No block_expr means an O(n^2) cross product — must be an explicit opt-in."""
    import pytest

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="full_scan"):
        dedup.embedding_near_dup(emb, threshold=0.9)
    got = dedup.embedding_near_dup(emb, threshold=0.9, allow_full_scan=True).collect()
    assert {(r["left_id"], r["right_id"]) for r in got} == {(1, 2)}


def test_simhash_block_cap_bounds_hot_bucket(spark):
    """Plant one degenerate bucket (identical boilerplate text -> one simhash
    block) and assert the cap bounds the pair blowup AND records metrics —
    the same no-silent-truncation discipline as blocking/_cap_block."""
    n = 40
    rows = [(i, "same boilerplate text shared by every doc") for i in range(n)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sim = dedup.simhash64(docs)
    cap = 10
    pairs, metrics = dedup.simhash_near_pairs(
        sim, max_hamming=8, block_cap=cap, return_metrics=True
    )
    n_pairs = pairs.count()
    assert n_pairs == cap * (cap - 1) / 2  # identical docs: every kept pair survives
    m = metrics.collect()
    assert len(m) == 1
    assert m[0]["block_size"] == n and m[0]["rows_dropped"] == n - cap
    # uncapped: the full quadratic set (the round-1 behavior, now opt-in)
    assert dedup.simhash_near_pairs(sim, max_hamming=8, block_cap=None).count() == n * (n - 1) / 2


def _capped_generator_inputs(spark, name):
    docs = _docs(spark)
    if name == "ngram_jaccard_pairs":
        return (docs,), "block_cap"
    if name in ("simhash_band_pairs", "simhash_near_pairs"):
        return (dedup.simhash64(docs),), "block_cap"
    sigs = dedup.minhash_signatures(docs, n_hashes=16, shingle_n=4)
    if name == "minhash_band_pairs":
        return (sigs,), "band_cap"
    return (sigs, dedup.minhash_band_index(sigs)), "band_cap"  # incremental_band_pairs


@pytest.mark.parametrize(
    "name",
    [
        "ngram_jaccard_pairs",
        "minhash_band_pairs",
        "incremental_band_pairs",
        "simhash_band_pairs",
        "simhash_near_pairs",
    ],
)
def test_cap_audit_policy(spark, name):
    """Every capped pair generator shares one audit policy: a RuntimeWarning
    when an active cap's audit is discarded, none when the caller takes the
    audit or turns the cap off, and an audit frame with CAP_METRICS_SCHEMA
    whether or not the cap is on."""
    from lab02_citation_matching_and_entity_resolution_spark.operators.blocking import (
        CAP_METRICS_SCHEMA,
    )

    fn = getattr(dedup, name)
    args, cap_param = _capped_generator_inputs(spark, name)

    def cap_warnings(**kw):
        with warnings.catch_warnings(record=True) as seen:
            warnings.simplefilter("always")
            out = fn(*args, **kw)
        return out, [
            w for w in seen if issubclass(w.category, RuntimeWarning) and name in str(w.message)
        ]

    _, seen = cap_warnings(**{cap_param: 2})
    assert len(seen) == 1 and f"{cap_param}=2" in str(seen[0].message)
    assert cap_warnings(**{cap_param: None})[1] == []
    want = [(f.name, f.dataType) for f in spark.createDataFrame([], CAP_METRICS_SCHEMA).schema]
    for cap in (2, None):
        (pairs, audit), seen = cap_warnings(**{cap_param: cap, "return_metrics": True})
        assert seen == []
        assert [(f.name, f.dataType) for f in audit.schema] == want, cap
        assert {"left_id", "right_id"} <= set(pairs.columns)


def test_simhash_md5_variant_matches_xxhash_semantics(spark):
    """The md5 (oracle-portable) variant must find the same identical-doc
    pairs as the production xxhash64 variant."""
    docs = _docs(spark)
    for fn in ("xxhash64", "md5"):
        sim = dedup.simhash64(docs, hash_fn=fn)
        vals = {r["doc_id"]: r["simhash"] for r in sim.collect()}
        assert vals[1] == vals[2], fn


def test_ivf_plan_has_no_global_single_partition_window(spark):
    """Round 1's seed_centroids pulled the whole corpus through one task
    (unpartitioned Window).  The seeding is now TakeOrdered + a tiny local
    relation: the ivf_topk plan must contain no SinglePartition exchange and
    must read the centroids from a local relation."""
    emb = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 3), 1.0]) for i in range(64)],
        "vec_id long, embedding array<double>",
    )
    queries = emb.where("vec_id < 3").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    df = ann.ivf_topk(emb, queries, k=3, n_cells=4, n_probe=2)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "SinglePartition" not in plan, plan
    # centroids are a driver-merged local relation (printed as LocalTableScan
    # or Scan ExistingRDD depending on the createDataFrame path)
    assert ("LocalTableScan" in plan) or ("ExistingRDD" in plan)


def test_minhash_band_cap_bounds_hot_bucket(spark):
    """Default-ON band cap (round-2 verdict #2): identical boilerplate puts
    every doc in the same band buckets; the cap must bound the self-join and
    record the truncation, and the uncapped behavior stays opt-in."""
    import warnings as _w

    n = 40
    rows = [(i, "same boilerplate text shared by every doc") for i in range(n)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = dedup.minhash_signatures(docs, n_hashes=8, shingle_n=4)
    cap = 10
    pairs, metrics = dedup.minhash_band_pairs(
        sigs, n_hashes=8, bands=4, band_cap=cap, return_metrics=True
    )
    assert pairs.count() == cap * (cap - 1) / 2
    m = metrics.collect()
    assert len(m) == 4  # one hot bucket per band
    assert all(r["block_size"] == n and r["rows_dropped"] == n - cap for r in m)
    assert (
        dedup.minhash_band_pairs(sigs, n_hashes=8, bands=4, band_cap=None).count()
        == n * (n - 1) / 2
    )
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        dedup.minhash_band_pairs(sigs, n_hashes=8, bands=4, band_cap=cap)
        assert any("band_cap" in str(x.message) for x in rec)


def test_ngram_jaccard_cap_bounds_hot_block(spark):
    """The (lang, source) self-join was the last uncapped quadratic block
    (round-2 verdict #3); identical docs in one block must be capped with
    metrics, exhaustive only on opt-out."""
    n = 40
    rows = [(i, "the same text body", "en", "web") for i in range(n)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    cap = 10
    pairs, metrics = dedup.ngram_jaccard_pairs(
        docs, n=3, threshold=0.5, block_cap=cap, return_metrics=True
    )
    assert pairs.count() == cap * (cap - 1) / 2
    m = metrics.collect()
    assert len(m) == 1
    assert m[0]["block_key"] == "en|web"
    assert m[0]["block_size"] == n and m[0]["rows_dropped"] == n - cap
    assert (
        dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5, block_cap=None).count()
        == n * (n - 1) / 2
    )


def test_minhash_cap_ranking_is_engine_portable(spark, tmp_path):
    """The md5(id)-ranked cap survivor set must be identical in DuckDB —
    this is what keeps the catalog oracle green when the cap binds (it does
    not bind at sf0.01, so this test plants a corpus where it does)."""
    import duckdb

    from lab02_citation_matching_and_entity_resolution_spark.queries_catalog_ext import (
        q_minhash_pairs_sql,
    )

    n = 30
    rows = [(i, "identical boilerplate body for cap parity") for i in range(n)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pq = str(tmp_path / "documents.parquet")
    docs.toPandas().to_parquet(pq)
    sigs = dedup.minhash_signatures(docs, n_hashes=8, shingle_n=4)
    got = {
        (r["left_id"], r["right_id"])
        for r in dedup.minhash_band_pairs(
            sigs, n_hashes=8, bands=4, band_cap=5
        ).collect()
    }
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{pq}'")
    sql = q_minhash_pairs_sql.replace("<= 1000", "<= 5")
    want = {(int(a), int(b)) for a, b in con.sql(sql).fetchall()}
    assert got == want and len(got) == 10


def test_language_id_ten_language_profiles(spark):
    """The profile scorer must identify languages beyond the old 4 and weigh
    OCCURRENCES (not distinct hits)."""
    rows = [
        (10, "il gatto non è sul tavolo che di solito usa per dormire"),
        (11, "o gato não está na mesa que ele usa para dormir com os outros"),
        (12, "de kat is niet op de tafel dat hij voor het slapen gebruikt"),
        (13, "och det som en katt på bordet är av den för med"),
        (14, "zzz qqq xxx"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["lang_guess"] for r in textstats.language_id(docs).collect()}
    assert got[10] == "it"
    assert got[11] == "pt"
    assert got[12] == "nl"
    assert got[13] == "sv"
    assert got[14] == "und"
    # occurrences weigh: "the the the" (3x14) must beat one-each "and of"
    d2 = spark.createDataFrame(
        [(1, "the the the"), (2, "and of")], "doc_id long, text string"
    )
    s = {r["doc_id"]: r["score_en"] for r in textstats.language_id(d2).collect()}
    assert s[1] == 42 and s[2] == 25


def test_embedding_near_dup_ivf_blocked_scale_path(spark):
    """The documented 100 TB path for embedding near-dup: block by IVF cell
    (ann.assign_cells) instead of a full O(n^2) scan.  Must find the planted
    within-cluster near-dups whose members share a cell, be a subset of the
    exhaustive result, and keep the join cell-local (no cartesian product
    between the vector sides)."""
    rows = []
    for c in range(4):
        base = [1.0 if i == c else 0.0 for i in range(8)]
        for j in range(5):
            rows.append((c * 10 + j, [v + 0.001 * j * (i + 1) for i, v in enumerate(base)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = ann.seed_centroids(emb, n_cells=4)
    assigned = ann.assign_cells(emb, cents, n_probe=1)
    blocked = dedup.embedding_near_dup(
        assigned, threshold=0.999, block_expr=F.col("cell_id")
    )
    got = {(r["left_id"], r["right_id"]) for r in blocked.collect()}
    full = {
        (r["left_id"], r["right_id"])
        for r in dedup.embedding_near_dup(
            emb, threshold=0.999, allow_full_scan=True
        ).collect()
    }
    assert got, "IVF-blocked near-dup found nothing"
    assert got <= full
    # every pair is within one planted cluster (cross-cluster cosine ~0)
    assert all(l // 10 == r // 10 for l, r in got)
    # the vector-vector join is cell-local: no cartesian/nested-loop join
    # between the two vector sides (the centroid broadcast crossJoin in
    # assign_cells is bounded by n_cells and allowed)
    plan = blocked._sc._jvm.PythonSQLUtils.explainString(
        blocked._jdf.queryExecution(), "formatted"
    )
    assert "CartesianProduct" not in plan, plan


def test_ivf_recall_audit_shape_and_monotonicity(spark):
    """ivf_recall_audit: runtime recall observability (round-4 verdict task).
    Probing all cells must be exhaustive (recall 1.0); more probes never
    reduce mean recall; shape fits the metrics sink."""
    import random

    rng = random.Random(11)
    rows = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(200)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.where("vec_id < 40").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    audit = ann.ivf_recall_audit(
        emb, queries, k=5, n_cells=8, n_probes=(1, 4, 8), sample_queries=16
    )
    got = {r["n_probe"]: r for r in audit.collect()}
    assert set(got) == {1, 4, 8}
    for r in got.values():
        assert r["k"] == 5
        assert r["n_queries"] == 16  # deterministic md5 sample, bounded
        assert 0.0 <= r["min_recall"] <= r["mean_recall"] <= 1.0
    # monotone in n_probe; probing every cell == brute force
    assert got[1]["mean_recall"] <= got[4]["mean_recall"] <= got[8]["mean_recall"]
    assert got[8]["mean_recall"] == 1.0
    assert got[8]["min_recall"] == 1.0


def test_ivf_recall_audit_truth_set_smaller_than_k(spark):
    """Recall denominates by the per-query TRUTH-set size, not k: a corpus
    with fewer than k items retrieved perfectly must read recall 1.0, not
    n_items/k (a false alarm in the metrics sink)."""
    import random

    rng = random.Random(5)
    rows = [(i, [rng.gauss(0, 1) for _ in range(4)]) for i in range(5)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    audit = ann.ivf_recall_audit(
        emb, queries, k=10, n_cells=2, n_probes=(2,), sample_queries=5
    )
    r = audit.collect()[0]
    assert r["n_queries"] == 5
    assert r["mean_recall"] == 1.0
    assert r["min_recall"] == 1.0


# ---- round-5 pipeline stages: PII scrub / repetition stats / decontam ----


def test_pii_scrub_redacts_and_counts(spark):
    from lab02_citation_matching_and_entity_resolution_spark.operators import (
        textstats,
    )

    rows = [
        (1, "mail me at alice.smith+x@sub.example.org today"),
        (2, "server 10.0.255.7 then call +1-555-123-4567 now"),
        (3, "plain text, nothing to redact"),
        (4, "two mails a@b.co and c@d.io plus 192.168.0.1"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in textstats.pii_scrub(docs).collect()}
    assert got[1]["n_email"] == 1 and "<EMAIL>" in got[1]["text_scrubbed"]
    assert "alice" not in got[1]["text_scrubbed"]
    assert got[2]["n_ip"] == 1 and got[2]["n_phone"] == 1
    assert "<IP>" in got[2]["text_scrubbed"] and "<PHONE>" in got[2]["text_scrubbed"]
    assert "555" not in got[2]["text_scrubbed"]
    assert got[3]["n_email"] == got[3]["n_ip"] == got[3]["n_phone"] == 0
    assert got[3]["text_scrubbed"] == rows[2][1]
    assert got[4]["n_email"] == 2 and got[4]["n_ip"] == 1
    # an IP must be redacted AS an IP, never double-counted as a phone
    assert got[4]["n_phone"] == 0


def test_repetition_stats_flags_repetitive_docs(spark):
    from lab02_citation_matching_and_entity_resolution_spark.operators import (
        textstats,
    )

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam"),          # one word repeated
            (2, "all words here are fully distinct ones"),  # clean
            (3, "a b c\na b c\nx y z"),                     # duplicate line
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in textstats.repetition_stats(docs, ngram_n=2).collect()}
    assert got[1]["top_word_frac"] == 1.0
    assert got[1]["dup_ngram_frac"] == 0.8  # 5 bigrams, 1 distinct
    assert got[2]["top_word_frac"] < 0.2
    assert got[2]["dup_ngram_frac"] == 0.0
    assert got[3]["n_lines"] == 3
    assert abs(got[3]["dup_line_frac"] - 1 / 3) < 1e-9
    assert got[2]["dup_line_frac"] == 0.0
    assert got[1]["n_words"] == 6


def test_decontaminate_flags_benchmark_overlap(spark):
    from lab02_citation_matching_and_entity_resolution_spark.operators import (
        textstats,
    )

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "completely unrelated training sentence with fresh words"),
            (3, "prefix words then the quick brown fox appears here"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "we ask about the quick brown fox in this eval item")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in textstats.decontaminate(train, bench, n=4).collect()}
    # docs 1 and 3 share the 4-gram "the quick brown fox"; doc 2 is clean
    assert set(out) == {1, 3}
    assert out[1]["sample_ngram"] == "the quick brown fox"
    assert out[1]["n_hits"] >= 1
    # short-doc rule: a benchmark shorter than n contaminates nothing
    tiny = spark.createDataFrame([(0, "too short")], "doc_id long, text string")
    assert textstats.decontaminate(train, tiny, n=4).count() == 0


def test_decontaminate_broadcasts_benchmark_side(spark):
    from lab02_citation_matching_and_entity_resolution_spark.operators import (
        textstats,
    )

    train = spark.createDataFrame(
        [(1, "one two three four five six")], "doc_id long, text string"
    )
    bench = spark.createDataFrame(
        [(9, "one two three four nine")], "doc_id long, text string"
    )
    df = textstats.decontaminate(train, bench, n=4)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastHashJoin" in plan, plan


def test_pack_sequences_concat_and_chunk_semantics(spark):
    from lab02_citation_matching_and_entity_resolution_spark.operators.packing import (
        pack_sequences,
        pack_summary,
    )

    docs = spark.createDataFrame(
        [(i, 30) for i in range(20)] + [(100, 0)],  # 20 docs x 30 tok + empty
        "doc_id long, n_tokens long",
    )
    out = pack_sequences(docs, budget=100, n_shards=2).collect()
    by_id = {r["doc_id"]: r for r in out}
    # offsets are a gapless concat stream per shard
    for shard in (0, 1):
        rows = sorted((r for r in out if r["shard"] == shard),
                      key=lambda r: r["start_offset"])
        off = 0
        for r in rows:
            assert r["start_offset"] == off
            assert r["pack_id"] == off // 100
            off += r["n_tokens"]
    # a 30-token doc starting at offset 90 straddles the 100 boundary
    for r in out:
        expected = r["n_tokens"] > 0 and (
            (r["start_offset"] + r["n_tokens"] - 1) // 100 != r["start_offset"] // 100
        )
        assert r["straddles"] == expected, r
    assert by_id[100]["n_tokens"] == 0 and not by_id[100]["straddles"]
    # determinism: same seed -> same packing
    again = pack_sequences(docs, budget=100, n_shards=2).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))
    # summary fill: interior packs receive >= budget-29 started tokens
    summ = pack_summary(pack_sequences(docs, budget=100, n_shards=2), 100)
    assert {"shard", "pack_id", "n_docs", "tokens_started", "fill_frac"} <= set(summ.columns)

    import pytest

    with pytest.raises(ValueError, match="budget"):
        pack_sequences(docs, budget=0)


def test_pack_sequences_no_single_partition_window(spark):
    """The packing window partitions by shard — no global SinglePartition
    exchange may appear in the plan (the scale guarantee)."""
    from lab02_citation_matching_and_entity_resolution_spark.operators.packing import (
        pack_sequences,
    )

    docs = spark.createDataFrame(
        [(i, 10) for i in range(50)], "doc_id long, n_tokens long"
    )
    df = pack_sequences(docs, budget=64, n_shards=8)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "SinglePartition" not in plan, plan


def test_pack_sequences_refuses_null_tokens(spark):
    from lab02_citation_matching_and_entity_resolution_spark.operators.packing import (
        pack_sequences,
    )

    docs = spark.createDataFrame(
        [(1, 10), (2, None)], "doc_id long, n_tokens long"
    )
    import pytest

    with pytest.raises(Exception, match="NULL or negative token count"):
        pack_sequences(docs, budget=100).collect()


def test_pack_sequences_enumerates_multi_pack_spans(spark):
    """A doc with n_tokens > budget spans 3+ packs; n_packs_spanned must
    enumerate the full span, not just flag one boundary (round-5 verdict
    #3).  Checked against the offset arithmetic for every row."""
    from lab02_citation_matching_and_entity_resolution_spark.operators.packing import (
        pack_sequences,
    )

    # 350-token doc in a budget-100 stream spans 4-5 packs depending on its
    # start offset; single shard makes the stream order deterministic
    docs = spark.createDataFrame(
        [(1, 30), (2, 350), (3, 30), (4, 0), (5, 250)],
        "doc_id long, n_tokens long",
    )
    out = pack_sequences(docs, budget=100, n_shards=1).collect()
    for r in out:
        if r["n_tokens"] == 0:
            assert r["n_packs_spanned"] == 0 and not r["straddles"], r
            continue
        first = r["start_offset"] // 100
        last = (r["start_offset"] + r["n_tokens"] - 1) // 100
        assert r["pack_id"] == first, r
        assert r["n_packs_spanned"] == last - first + 1, r
        assert r["straddles"] == (last != first), r
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[2]["n_packs_spanned"] >= 4  # 350 tokens can't fit 3 packs' interior
    assert max(r["n_packs_spanned"] for r in out) >= 4


def test_ivf_paths_accept_non_default_id_col(spark):
    """ivf_topk / ivf_recall_audit with id_col != 'vec_id' (regression: the
    item-side assign_cells used the default out_id, so any other id_col
    raised UNRESOLVED_COLUMN)."""
    import random

    rng = random.Random(3)
    rows = [(i, [rng.gauss(0, 1) for _ in range(4)]) for i in range(40)]
    emb = spark.createDataFrame(rows, "item_id long, embedding array<double>")
    queries = emb.limit(4).select(F.col("item_id").alias("qid"), "embedding")
    out = ann.ivf_topk(
        emb, queries, k=3, n_cells=4, n_probe=4,
        id_col="item_id", query_id_col="qid",
    )
    assert out.columns[:2] == ["qid", "item_id"]
    assert out.count() == 12
    audit = ann.ivf_recall_audit(
        emb, queries, k=3, n_cells=4, n_probes=(4,), sample_queries=4,
        id_col="item_id", query_id_col="qid",
    ).collect()[0]
    assert audit["mean_recall"] == 1.0  # probing all cells is exhaustive


def test_fan_out_skips_shuffle_bearing_lineage(spark):
    """fan_out_narrow_input must return shuffle-bearing frames untouched
    (their parallelism is AQE/shuffle.partitions-governed, and probing .rdd
    would execute the upstream stages under AQE)."""
    from lab02_citation_matching_and_entity_resolution_spark.operators.dedup import (
        fan_out_narrow_input,
    )

    docs = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, text string")
    agg = docs.groupBy("text").count()
    assert fan_out_narrow_input(agg) is agg
    joined = docs.join(docs.select("doc_id"), "doc_id")
    assert fan_out_narrow_input(joined) is joined


def test_mix_sample_quota_semantics(spark):
    from lab02_citation_matching_and_entity_resolution_spark.operators.mixing import (
        largest_remainder_quotas,
        mix_audit,
        mix_sample,
    )

    # largest-remainder: quotas sum exactly, remainder to largest fractions
    q = largest_remainder_quotas({"a": 0.5, "b": 0.3, "c": 0.2}, 7)
    assert sum(q.values()) == 7 and q == {"a": 4, "b": 2, "c": 1}

    docs = spark.createDataFrame(
        [(i, "a" if i < 40 else ("b" if i < 70 else "c")) for i in range(100)]
        + [(200, "dropme")],
        "doc_id long, source string",
    )
    out = mix_sample(docs, {"a": 0.5, "b": 0.3, "c": 0.2}, 20)
    by_src = {r["source"]: r["count"] for r in out.groupBy("source").count().collect()}
    assert by_src == {"a": 10, "b": 6, "c": 4}
    assert out.where("source = 'dropme'").count() == 0
    # determinism: same call selects the same ids
    ids1 = sorted(r["doc_id"] for r in out.collect())
    ids2 = sorted(r["doc_id"] for r in mix_sample(docs, {"a": 0.5, "b": 0.3, "c": 0.2}, 20).collect())
    assert ids1 == ids2
    # shortfall: stratum c has 30 docs but quota 40 -> audit flags 10
    big = mix_sample(docs, {"c": 1.0}, 40)
    audit = {r["source"]: r for r in mix_audit(big, {"c": 1.0}, 40).collect()}
    assert audit["c"]["delivered"] == 30 and audit["c"]["shortfall"] == 10

    import pytest

    with pytest.raises(ValueError, match="sum to 1"):
        mix_sample(docs, {"a": 0.5}, 10)


def test_mix_sample_no_single_partition_window(spark):
    from lab02_citation_matching_and_entity_resolution_spark.operators.mixing import (
        mix_sample,
    )

    docs = spark.createDataFrame(
        [(i, "s" + str(i % 4)) for i in range(50)], "doc_id long, source string"
    )
    df = mix_sample(docs, {"s0": 0.25, "s1": 0.25, "s2": 0.25, "s3": 0.25}, 20)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "SinglePartition" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_near_dup_groups_transitive_closure_and_keepers(spark):
    """near_dup_groups: pairs from any generator -> transitive groups with
    min-id keepers; docs= adds singletons for a complete keep/drop list."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "left_id long, right_id long"
    )
    docs = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 99)], "doc_id long"
    )
    stats = {}
    out = {r["doc_id"]: r for r in dedup.near_dup_groups(
        pairs, docs=docs, stats=stats
    ).collect()}
    assert {i: out[i]["group_id"] for i in sorted(out)} == {
        1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99
    }
    assert {i for i in out if out[i]["is_keeper"]} == {1, 10, 99}
    assert stats["algorithm"] in ("propagation", "star")
    # without docs: only ids appearing in pairs
    bare = dedup.near_dup_groups(pairs)
    assert bare.count() == 5


def test_pack_sequences_matches_independent_python_impl(spark):
    """Cross-implementation witness (same discipline as the j6 greedy
    witness): a plain-Python reimplementation of the packing contract —
    md5-shard, md5-rank order, running offsets, floor(start/budget),
    straddle — must agree exactly with the distributed operator on a
    300-doc corpus of seeded pseudo-random token counts."""
    import hashlib
    import random

    from lab02_citation_matching_and_entity_resolution_spark.operators.packing import (
        pack_sequences,
    )

    rng = random.Random(17)
    rows = [(i, rng.randrange(0, 400)) for i in range(300)]
    docs = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    budget, n_shards, seed = 256, 4, 7
    got = sorted(
        (r["doc_id"], r["n_tokens"], r["shard"], r["start_offset"], r["pack_id"], r["straddles"])
        for r in pack_sequences(docs, budget=budget, n_shards=n_shards).collect()
    )

    def md5_i64(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    expected = []
    shards: dict[int, list] = {}
    for i, n in rows:
        sh = md5_i64(f"{i}#{seed}") % n_shards
        shards.setdefault(sh, []).append(
            (hashlib.md5(f"{i}#rank{seed}".encode()).hexdigest(), i, n)
        )
    for sh, lst in shards.items():
        off = 0
        for _rank, i, n in sorted(lst):
            straddle = n > 0 and (off + n - 1) // budget != off // budget
            expected.append((i, n, sh, off, off // budget, straddle))
            off += n
    assert got == sorted(expected)


def test_mix_quotas_normalize_inexact_fraction_sums():
    """Fractions passing the 1e-6 gate but not summing to exactly 1 must
    still produce quotas summing to exactly n_out (regression: rem could go
    negative / overflow the stratum count at large n_out)."""
    from lab02_citation_matching_and_entity_resolution_spark.operators.mixing import (
        largest_remainder_quotas,
    )

    over = {s: 0.3333335 for s in ("a", "b", "c")}   # sums to 1.0000005
    q = largest_remainder_quotas(over, 30_000_000)
    assert sum(q.values()) == 30_000_000
    under = {s: 0.3333332 for s in ("a", "b", "c")}  # sums to 0.9999996
    q2 = largest_remainder_quotas(under, 30_000_000)
    assert sum(q2.values()) == 30_000_000


def test_near_dup_groups_keeps_pair_ids_missing_from_docs(spark):
    """A pair id absent from docs (e.g. docs is a post-filter subset) must
    stay in the closure: dropping it would truncate the component AND make
    propagation and star disagree (regression)."""
    pairs = spark.createDataFrame([(1, 5), (5, 3)], "left_id long, right_id long")
    docs = spark.createDataFrame([(1,), (3,)], "doc_id long")
    out = {r["doc_id"]: r for r in dedup.near_dup_groups(pairs, docs=docs).collect()}
    assert {i: out[i]["group_id"] for i in sorted(out)} == {1: 1, 3: 1, 5: 1}
    assert {i for i in out if out[i]["is_keeper"]} == {1}


def test_incremental_band_pairs_new_vs_corpus(spark):
    """Incremental dedup: a new batch joins the persisted corpus band index;
    cross pairs only (batch-internal dups via minhash_band_pairs), re-ingested
    ids excluded, and the result matches the full self-join restricted to
    cross pairs."""
    corpus = _docs(spark)  # ids 1-5
    new = spark.createDataFrame(
        [
            (101, "the quick brown fox jumps over the lazy dog", "en", "s1"),  # dup of 1/2
            (102, "totally novel content about window frames", "en", "s1"),
            (1, "the quick brown fox jumps over the lazy dog", "en", "s1"),    # re-ingest
        ],
        "doc_id long, text string, lang string, source string",
    )
    corpus_sigs = dedup.minhash_signatures(corpus, n_hashes=16, shingle_n=4)
    index = dedup.minhash_band_index(corpus_sigs, n_hashes=16, bands=8)
    new_sigs = dedup.minhash_signatures(new, n_hashes=16, shingle_n=4)
    got = {
        (r["left_id"], r["right_id"])
        for r in dedup.incremental_band_pairs(
            new_sigs, index, n_hashes=16, bands=8
        ).collect()
    }
    assert (101, 1) in got and (101, 2) in got
    assert not any(lid == 102 for lid, _ in got)
    assert (1, 1) not in got  # identical-id self pair excluded...
    assert (1, 2) in got      # ...but a re-ingested doc still matches OTHER corpus dups
    # parity with the full self-join restricted to new-x-corpus pairs
    # (disjoint batch only: an id on both sides has no self-join analogue)
    new2 = new.where("doc_id > 100")
    got2 = {
        (r["left_id"], r["right_id"])
        for r in dedup.incremental_band_pairs(
            dedup.minhash_signatures(new2, n_hashes=16, shingle_n=4),
            index, n_hashes=16, bands=8,
        ).collect()
    }
    both = corpus.unionByName(new2)
    full = dedup.minhash_band_pairs(
        dedup.minhash_signatures(both, n_hashes=16, shingle_n=4),
        n_hashes=16, bands=8,
    )
    new_ids = {101, 102}
    cross = {
        (l, r) if l in new_ids else (r, l)
        for l, r in ((x["left_id"], x["right_id"]) for x in full.collect())
        if (l in new_ids) != (r in new_ids)
    }
    assert got2 == cross


def test_c4_line_filter_rules(spark):
    """Each drop rule fires independently; keeper lines survive with order
    preserved; counts add up."""
    from lab02_citation_matching_and_entity_resolution_spark.operators import (
        textstats,
    )

    text = "\n".join([
        "This first sentence is perfectly fine.",     # keep
        "Click here now",                              # no terminal punct
        "Enable JavaScript to continue browsing.",     # bad substring (ci)
        "Nope.",                                       # < 3 words
        "var x = { a: 1 };",                           # brace
        'He said "it works!"',                         # ends quote after !
        "",                                            # blank: not counted
        "  A second keeper line stays here too.  ",    # keep (trimmed)
    ])
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    row = textstats.c4_line_filter(df).collect()[0]
    assert row["n_lines_kept"] == 3
    assert row["n_lines_dropped"] == 4
    assert row["text_clean"].split("\n") == [
        "This first sentence is perfectly fine.",
        'He said "it works!"',
        "A second keeper line stays here too.",
    ]
    # page-level flags (Raffel et al. apply brace/lorem at DOC level):
    # this doc has a brace line -> doc_drop_curly, no lorem -> not lorem
    assert row["doc_drop_curly"] and not row["doc_drop_lorem"]
    clean = spark.createDataFrame(
        [(2, "A Lorem Ipsum generator placed this text here today.")],
        "doc_id long, text string",
    )
    r2 = textstats.c4_line_filter(clean).collect()[0]
    assert r2["doc_drop_lorem"] and not r2["doc_drop_curly"]


def test_c4_line_filter_no_terminal_punct_requirement(spark):
    from lab02_citation_matching_and_entity_resolution_spark.operators import (
        textstats,
    )

    df = spark.createDataFrame(
        [(1, "three plain words\nanother good line here")],
        "doc_id long, text string",
    )
    row = textstats.c4_line_filter(df, require_terminal_punct=False).collect()[0]
    assert row["n_lines_kept"] == 2 and row["n_lines_dropped"] == 0


def test_c4_line_filter_stays_codegen(spark):
    """Scale pin: pure array expressions — no shuffle, no Python eval."""
    from lab02_citation_matching_and_entity_resolution_spark.operators import (
        textstats,
    )

    df = spark.createDataFrame([(1, "a line here.")], "doc_id long, text string")
    plan = textstats.c4_line_filter(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan


# -------------------------------------------------------------------------
# duplicate_window_spans / strip_duplicate_spans (exact-substring dedup)
# -------------------------------------------------------------------------

def _span_docs(spark):
    # docs 1 and 2 share the verbatim 6-token boilerplate "all rights
    # reserved by the corp"; doc 3 is clean; doc 4 is too short to window.
    rows = [
        (1, "intro text here all rights reserved by the corp and more tail"),
        (2, "all rights reserved by the corp something else entirely here"),
        (3, "nothing repeated in this document at all whatsoever"),
        (4, "too short"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_duplicate_window_spans_keep_first_flags_repeats_only(spark):
    spans = dedup.duplicate_window_spans(
        _span_docs(spark), window_tokens=4
    ).collect()
    by_doc = {}
    for r in spans:
        by_doc.setdefault(r["doc_id"], []).append(
            (r["span_start"], r["span_end"], r["n_windows"])
        )
    # first occurrence (min (doc_id, start) per window hash) is exempt:
    # doc 1 holds every shared window's first occurrence, so only doc 2 is
    # flagged, and its three overlapping 4-token windows merge into one
    # maximal span covering tokens 1..6 ("all rights reserved by the corp").
    assert 1 not in by_doc and 3 not in by_doc and 4 not in by_doc
    assert by_doc[2] == [(1, 6, 3)]


def test_duplicate_window_spans_flag_all_and_stride(spark):
    spans = dedup.duplicate_window_spans(
        _span_docs(spark), window_tokens=4, keep_first=False
    ).collect()
    docs_flagged = {r["doc_id"] for r in spans}
    assert docs_flagged == {1, 2}
    d1 = [r for r in spans if r["doc_id"] == 1][0]
    # doc 1's copy sits at tokens 4..9
    assert (d1["span_start"], d1["span_end"]) == (4, 9)
    # stride=2 probes only odd starts: doc 1's copies sit at starts 4 and 6,
    # which are NOT probed, so every probed hash is unique corpus-wide and
    # nothing is flagged — the documented precision cost of stride > 1.
    strided = dedup.duplicate_window_spans(
        _span_docs(spark), window_tokens=4, stride=2, keep_first=False
    ).collect()
    assert strided == []
    # shift doc 2 by one token so both copies land on probed (odd) starts:
    # now stride=2 recovers the duplicate and the span still merges.
    shifted = spark.createDataFrame(
        [
            (1, "intro text here all rights reserved by the corp and more tail"),
            (2, "x all rights reserved by the corp something else here"),
        ],
        "doc_id long, text string",
    )
    strided2 = dedup.duplicate_window_spans(
        shifted, window_tokens=4, stride=2, keep_first=False
    ).collect()
    got = {(r["doc_id"], r["span_start"], r["span_end"]) for r in strided2}
    # probed duplicated hashes: doc1 starts {5} ("rights reserved by the"),
    # doc2 starts {6} — stride-2 probing sees the SAME window text at odd
    # starts in both docs only where alignment allows; assert both docs carry
    # at least one span and each span covers a real 4-token window.
    assert {d for d, *_ in got} == {1, 2}
    assert all(e - s + 1 >= 4 for _, s, e in got)


def test_strip_duplicate_spans_roundtrip(spark):
    docs = _span_docs(spark)
    spans = dedup.duplicate_window_spans(docs, window_tokens=4)
    out = {r["doc_id"]: r for r in dedup.strip_duplicate_spans(docs, spans).collect()}
    assert out[2]["text"] == "something else entirely here"
    assert out[2]["n_tokens_removed"] == 6
    # untouched docs pass through verbatim with zero removed
    assert out[1]["n_tokens_removed"] == 0
    assert out[1]["text"].startswith("intro text here")
    assert out[3]["n_tokens_removed"] == 0 and out[4]["n_tokens_removed"] == 0
    assert set(out) == {1, 2, 3, 4}


def test_duplicate_window_spans_validates_params(spark):
    import pytest as _pytest

    docs = _span_docs(spark)
    with _pytest.raises(ValueError):
        dedup.duplicate_window_spans(docs, window_tokens=0)
    with _pytest.raises(ValueError):
        dedup.duplicate_window_spans(docs, stride=0)
    with _pytest.raises(ValueError):
        dedup.duplicate_window_spans(docs, min_occurrences=1)


def test_duplicate_window_spans_stays_codegen(spark):
    plan = (
        dedup.duplicate_window_spans(_span_docs(spark), window_tokens=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan


def test_duplicate_window_spans_xxhash64_matches_md5(spark):
    """hash_fn="xxhash64" (production: 8-byte window keys, ~4x less shuffle
    than the 32-hex md5 the DuckDB oracle needs) must produce the identical
    span set — the hash only keys the occurrence count."""
    docs = _span_docs(spark)
    md5_spans = sorted(
        (r["doc_id"], r["span_start"], r["span_end"], r["n_windows"])
        for r in dedup.duplicate_window_spans(docs, window_tokens=4).collect()
    )
    xx_spans = sorted(
        (r["doc_id"], r["span_start"], r["span_end"], r["n_windows"])
        for r in dedup.duplicate_window_spans(
            docs, window_tokens=4, hash_fn="xxhash64"
        ).collect()
    )
    assert md5_spans == xx_spans and md5_spans

    import pytest

    with pytest.raises(ValueError, match="unknown hash_fn"):
        dedup.duplicate_window_spans(docs, hash_fn="sha9")
