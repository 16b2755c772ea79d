"""Source adapter tests: JSONL permissive scan, nested label-map scan,
@-record entry-stream splitter."""

from pyspark.sql.types import StringType, StructField, StructType

from lab02_citation_matching_and_entity_resolution_spark.sources.adapters import (
    read_entry_stream,
    read_jsonl,
    read_nested_label_map,
    split_at_entries,
)


def test_read_jsonl_skips_bad_lines(spark, tmp_path):
    p = tmp_path / "rows.jsonl"
    p.write_text(
        '{"conv_id": "a", "text": "hello"}\n'
        "NOT JSON AT ALL\n"
        '{"conv_id": "", "text": "dropped: empty key"}\n'
        '{"conv_id": "b", "text": "world"}\n'
    )
    schema = StructType(
        [StructField("conv_id", StringType()), StructField("text", StringType())]
    )
    got = read_jsonl(spark, str(p), schema, group_key="conv_id").collect()
    assert {r["conv_id"] for r in got} == {"a", "b"}


def test_read_nested_label_map(spark, tmp_path):
    p = tmp_path / "manual.json"
    p.write_text('{"g1": {"k1": "r1", "k2": "r2"}, "g2": {"k9": "r9"}}')
    got = {
        (r["group_id"], r["left_key"], r["right_id"])
        for r in read_nested_label_map(spark, str(p)).collect()
    }
    assert got == {("g1", "k1", "r1"), ("g1", "k2", "r2"), ("g2", "k9", "r9")}


def test_split_at_entries_depth_and_skips():
    text = """
% a comment with @fake{nope}
@string{abbrev = "X"}
@article{key1, title = {Nested {Braces} Work}, year = {2020}}
@misc{key2,
  note = {multi
  line}
}
"""
    entries = split_at_entries(text)
    assert [(e[0], e[1]) for e in entries] == [("article", "key1"), ("misc", "key2")]
    assert "Nested {Braces} Work" in entries[0][2]


def test_read_entry_stream(spark, tmp_path):
    (tmp_path / "one.bib").write_text(
        "@article{a1, title={T1}}\n@inproceedings{b2, title={T2}}"
    )
    (tmp_path / "two.bib").write_text("@misc{c3, title={T3}}")
    got = read_entry_stream(spark, str(tmp_path) + "/*.bib").collect()
    assert {r["entry_key"] for r in got} == {"a1", "b2", "c3"}
    assert all(r["src_file"] for r in got)


def _upsert_by_left_id(store, df, name):
    """Keyed upsert on left_id, partitioned by a key-derived column."""
    from lab02_citation_matching_and_entity_resolution_spark.plans.lineage import (
        partition_key_col,
    )

    store.merge_upsert_partitioned(
        df.withColumn("pk", partition_key_col("left_id", 4)), name,
        key_cols=["left_id"], partition_col="pk",
    )


def test_merge_upsert_parquet_is_per_key_update_not_append(spark, tmp_path):
    """Reference parity (modeling_utils.py:391-481): rescoring with a changed
    model must UPDATE each key's predictions row in place; unrelated keys
    survive, nothing is appended twice."""
    from lab02_citation_matching_and_entity_resolution_spark.sources.tables import (
        TableStore,
    )

    store = TableStore(spark, str(tmp_path))
    v1 = spark.createDataFrame(
        [("a", 0.9, "m1"), ("b", 0.8, "m1"), ("c", 0.7, "m1")],
        "left_id string, score double, model string",
    )
    _upsert_by_left_id(store, v1, "preds")
    # rescore: a and b change, d is new, c untouched
    v2 = spark.createDataFrame(
        [("a", 0.4, "m2"), ("b", 0.5, "m2"), ("d", 0.6, "m2")],
        "left_id string, score double, model string",
    )
    _upsert_by_left_id(store, v2, "preds")
    got = {r["left_id"]: (r["score"], r["model"]) for r in store.read("preds").collect()}
    assert got == {
        "a": (0.4, "m2"),
        "b": (0.5, "m2"),
        "c": (0.7, "m1"),
        "d": (0.6, "m2"),
    }
    assert store.read("preds").count() == 4  # upsert, never append


def test_merge_upsert_end_to_end_rescore(spark, tmp_path):
    """Write a predictions table, rescore with a different model, upsert:
    every overlapping left_id must carry the NEW model's scores."""
    from lab02_citation_matching_and_entity_resolution_spark.sources.tables import (
        TableStore,
    )

    store = TableStore(spark, str(tmp_path))
    scored_a = spark.createDataFrame(
        [("e1", "x1", 0.99), ("e1", "x2", 0.10), ("e2", "x3", 0.95)],
        "left_id string, right_id string, model_score double",
    )
    scored_b = spark.createDataFrame(
        [("e1", "x2", 0.98), ("e1", "x1", 0.20)],  # model B flips e1's ranking
        "left_id string, right_id string, model_score double",
    )
    labeled = spark.createDataFrame(
        [("e1", "x1", 1), ("e2", "x3", 1)], "left_id string, right_id string, label int"
    )
    from lab02_citation_matching_and_entity_resolution_spark.plans.model import (
        predictions_table,
    )

    # array columns serialize fine to parquet; only driver-oracle rows ban them
    pa = predictions_table(scored_a, labeled, k=5)
    _upsert_by_left_id(store, pa, "pred_table")
    # the rescore batch covers e1 only — scope truth to the batch, else the
    # labels full-join manufactures empty rows for every labeled entity and
    # the upsert would wipe them (the reference merges only the papers it
    # rescored, modeling_utils.py:391-481)
    pb = predictions_table(scored_b, labeled.where("left_id = 'e1'"), k=5)
    _upsert_by_left_id(store, pb, "pred_table")
    rows = {r["left_id"]: r for r in store.read("pred_table").collect()}
    assert set(rows) == {"e1", "e2"}
    # e1 was rescored: top prediction is now x2 (model B's ranking)
    assert rows["e1"]["predictions"][0]["right_id"] == "x2"
    # e2 was not in the rescore batch: model A's row survives
    assert rows["e2"]["predictions"][0]["right_id"] == "x3"


def test_merge_upsert_partitioned_deletes_emptied_extra_partition(spark, tmp_path):
    """A key whose row moves partition (the caller passes its old partition
    as an extra): the old partition, left with no rows, is deleted — no
    stale row survives in it — and an untouched partition is left as is."""
    from lab02_citation_matching_and_entity_resolution_spark.sources.tables import (
        TableStore,
    )

    store = TableStore(spark, str(tmp_path))
    schema = "k string, i int, v string, p int"
    store.merge_upsert_partitioned(
        spark.createDataFrame([("a", 0, "old", 1), ("b", 0, "b0", 2)], schema),
        "idx", key_cols=["k", "i"], partition_col="p",
    )
    untouched = sorted(f.name for f in (tmp_path / "idx" / "p=2").iterdir())
    store.merge_upsert_partitioned(
        spark.createDataFrame([("a", 0, "new", 3)], schema),
        "idx", key_cols=["k", "i"], partition_col="p", extra_partition_vals=(1,),
    )
    assert not (tmp_path / "idx" / "p=1").exists()
    assert sorted(f.name for f in (tmp_path / "idx" / "p=2").iterdir()) == untouched
    got = sorted(tuple(r) for r in store.read("idx").select("k", "i", "v", "p").collect())
    assert got == [("a", 0, "new", 3), ("b", 0, "b0", 2)]


def test_store_on_uri_root_sees_its_tables(spark, tmp_path):
    """A root given as a URI (file:// here, as hdfs:// or s3a:// would be)
    is seen through its Hadoop FileSystem: the second upsert merges into the
    table instead of taking the bootstrap branch and overwriting it."""
    from lab02_citation_matching_and_entity_resolution_spark.sources.tables import (
        TableStore,
    )

    store = TableStore(spark, tmp_path.as_uri())
    schema = "k string, v int, p int"
    assert not store.exists("t")
    store.merge_upsert_partitioned(
        spark.createDataFrame([("a", 1, 0), ("b", 1, 1)], schema), "t", ["k"], "p"
    )
    assert store.exists("t")
    store.merge_upsert_partitioned(
        spark.createDataFrame([("a", 2, 0)], schema), "t", ["k"], "p"
    )
    assert sorted(tuple(r) for r in store.read("t").select("k", "v").collect()) == [
        ("a", 2), ("b", 1)
    ]


# --- S4: per-group references.json scan (ref parse_util.py:593-630) -------

def test_read_references_json(spark, tmp_path):
    import json

    from lab02_citation_matching_and_entity_resolution_spark.sources.adapters import (
        read_references_json,
    )

    a = tmp_path / "paperA"
    a.mkdir()
    (a / "references.json").write_text(json.dumps({
        "1901.00001": {
            "paper_title": "Deep Things",
            "authors": ["Ada Lovelace", "Alan Turing"],
            "submission_date": "2019-01-02",
        },
        "old42": {
            "paper_title": "Very Old",
            "authors": [],
            "submission_date": "circa 1987 maybe",
        },
    }))
    b = tmp_path / "paperB"
    b.mkdir()
    (b / "references.json").write_text("{NOT VALID JSON")  # whole group dropped
    c = tmp_path / "paperC"
    c.mkdir()
    (c / "references.json").write_text(json.dumps({
        "x": {"paper_title": "No Date No Authors"},
    }))

    rows = {
        (r["paper_id"], r["ref_id"]): r
        for r in read_references_json(
            spark, str(tmp_path / "*" / "references.json")
        ).collect()
    }
    assert set(rows) == {("paperA", "1901.00001"), ("paperA", "old42"), ("paperC", "x")}
    r1 = rows[("paperA", "1901.00001")]
    assert r1["title"] == "Deep Things"
    assert r1["authors"] == ["Ada Lovelace", "Alan Turing"]
    assert r1["year"] == "2019"
    assert r1["arxiv"] == "1901.00001"
    assert rows[("paperA", "old42")]["year"] == "1987"  # regex finds year anywhere
    rc = rows[("paperC", "x")]
    assert rc["authors"] == [] and rc["year"] == ""  # missing fields coalesce


# --- S6: LaTeX project scan (ref parse_util.py:1037-1095) -----------------

def _latex_df(spark, rows):
    return spark.createDataFrame(
        rows, "project_id string, relpath string, content string"
    )


def test_latex_assemble_inline_and_includeonly(spark):
    from lab02_citation_matching_and_entity_resolution_spark.sources.latex import (
        assemble_latex_projects,
    )

    rows = [
        ("p1", "main.tex",
         "\\documentclass{article}\\includeonly{appendix}\n"
         "BODY % trailing comment with \\input{ghost}\n"
         "\\input{sec/intro}\n"
         "\\include{appendix}\n"
         "\\include{blocked}\n"
         "\\import{extra/}{note}\n"),
        ("p1", "sec/intro.tex", "INTRO \\input{../shared}"),
        ("p1", "shared.tex", "SHARED"),
        ("p1", "appendix.tex", "APPENDIX"),
        ("p1", "blocked.tex", "MUST NOT APPEAR"),
        ("p1", "extra/note.tex", "NOTE"),
    ]
    out = assemble_latex_projects(_latex_df(spark, rows)).collect()
    assert len(out) == 1
    row = out[0]
    assert row["main_path"] == "main.tex"
    text = row["text"]
    assert "BODY" in text and "INTRO" in text and "SHARED" in text
    assert "APPENDIX" in text and "NOTE" in text
    assert "MUST NOT APPEAR" not in text      # \include filtered by \includeonly
    assert "ghost" not in text                 # comment stripped before parsing
    assert "\\includeonly" not in text         # directive removed from output


def test_latex_assemble_cycle_and_missing_include(spark):
    from lab02_citation_matching_and_entity_resolution_spark.sources.latex import (
        assemble_latex_projects,
    )

    rows = [
        ("p1", "main.tex", "\\documentclass{x} A\\input{b}\\input{nowhere}"),
        ("p1", "b.tex", "B\\input{main}"),   # cycle back to main -> ""
    ]
    out = assemble_latex_projects(_latex_df(spark, rows)).collect()
    assert len(out) == 1
    assert out[0]["text"].replace(" ", "") == "\\documentclass{x}AB"


def test_latex_main_detection_priority(spark):
    from lab02_citation_matching_and_entity_resolution_spark.sources.latex import (
        assemble_latex_projects,
        find_main_tex,
    )

    # 1) well-known root name beats everything
    assert find_main_tex({
        "zzz.tex": "\\documentclass{a}\\input{x}",
        "paper.tex": "no markers at all",
    }) == "paper.tex"
    # 2) include-command head probe beats documentclass
    assert find_main_tex({
        "b_class.tex": "\\documentclass{a}",
        "a_incl.tex": "\\input{something}",
    }) == "a_incl.tex"
    # 3) documentclass fallback
    assert find_main_tex({
        "x.tex": "plain", "y.tex": "\\documentclass{a}",
    }) == "y.tex"
    # 4) none -> project emits no row
    out = assemble_latex_projects(
        _latex_df(spark, [("p9", "x.tex", "nothing"), ("p9", "y.tex", "here")])
    ).collect()
    assert out == []


def test_latex_loader_roundtrip(spark, tmp_path):
    from lab02_citation_matching_and_entity_resolution_spark.sources.latex import (
        assemble_latex_projects,
        read_latex_project_files,
    )

    proj = tmp_path / "arxiv_1234"
    (proj / "sec").mkdir(parents=True)
    (proj / "main.tex").write_text("\\documentclass{a}ROOT\\input{sec/body}")
    (proj / "sec" / "body.tex").write_text("LEAF")
    (proj / "notes.txt").write_text("not tex; ignored")
    stray = tmp_path / "stray.tex"
    stray.write_text("no project dir; dropped")

    files = read_latex_project_files(spark, str(tmp_path))
    got = {(r["project_id"], r["relpath"]) for r in files.collect()}
    assert got == {("arxiv_1234", "main.tex"), ("arxiv_1234", "sec/body.tex")}

    out = assemble_latex_projects(files).collect()
    assert len(out) == 1
    assert out[0]["project_id"] == "arxiv_1234"
    assert "ROOT" in out[0]["text"] and "LEAF" in out[0]["text"]


def test_latex_loader_root_with_uri_encoded_chars(spark, tmp_path):
    """input_file_name() returns the Hadoop Path URI, which percent-encodes
    spaces: pre-r5 the raw-root string match silently failed and every file
    collapsed into project_id 'file:'.  The loader now matches the encoded
    spelling too."""
    from lab02_citation_matching_and_entity_resolution_spark.sources.latex import (
        read_latex_project_files,
    )

    root = tmp_path / "c++ my projects"  # space (encoded) AND '+' (raw)
    proj = root / "p one"
    proj.mkdir(parents=True)
    (proj / "main.tex").write_text("\\documentclass{a}BODY")
    plus = root / "p+q"  # literal '+' must survive the URI round-trip
    plus.mkdir()
    (plus / "main.tex").write_text("\\documentclass{a}PLUS")

    files = read_latex_project_files(spark, str(root))
    got = {(r["project_id"], r["relpath"]) for r in files.collect()}
    assert got == {("p one", "main.tex"), ("p+q", "main.tex")}
