"""TableStore's Iceberg branch (sources/tables.py) has no runtime jar in this
sandbox, so the real-cluster call path is pinned with mocks: when a catalog is
configured, every verb must go through the writeTo/table API (never the
parquet path), exactly the calls a configured cluster would execute."""

from unittest.mock import MagicMock

from pyspark.sql import functions as F

from lab02_citation_matching_and_entity_resolution_spark.sources.tables import TableStore


def _fake_spark_with_catalog():
    fake = MagicMock()
    fake.conf.get.side_effect = (
        lambda key, default=None: "org.apache.iceberg.spark.SparkCatalog"
        if key == "spark.sql.catalog.er"
        else default
    )
    return fake


def test_iceberg_create_or_replace_and_partitioning(spark):
    # `spark` fixture keeps a JVM up so F.col() resolves; the store itself
    # talks to the mock only
    fake = _fake_spark_with_catalog()
    store = TableStore(fake, "/tmp/unused", catalog="er")
    df = MagicMock()

    store.create_or_replace(df, "docs", partition_by=["lang"])
    df.writeTo.assert_called_once_with("er.docs")
    chain = df.writeTo.return_value.using
    chain.assert_called_once_with("iceberg")
    chain.return_value.partitionedBy.assert_called_once()
    chain.return_value.partitionedBy.return_value.createOrReplace.assert_called_once()
    df.write.mode.assert_not_called()  # parquet path must not run


def test_iceberg_append_and_overwrite_partitions(spark):
    fake = _fake_spark_with_catalog()
    store = TableStore(fake, "/tmp/unused", catalog="er")

    df = MagicMock()
    store.append(df, "metrics")
    df.writeTo.assert_called_once_with("er.metrics")
    df.writeTo.return_value.append.assert_called_once()
    df.write.mode.assert_not_called()

    df2 = MagicMock()
    store.overwrite_partitions(df2, "pairs", partition_by=["partition_key"])
    df2.writeTo.assert_called_once_with("er.pairs")
    df2.writeTo.return_value.overwritePartitions.assert_called_once()
    df2.write.mode.assert_not_called()
    # the parquet fallback's dynamic-overwrite conf must not be touched
    fake.conf.set.assert_not_called()

    # overwritePartitions needs the table: a missing one is created with its
    # partition spec
    fake.catalog.tableExists.return_value = False
    df3 = MagicMock()
    store.overwrite_partitions(df3, "audit", partition_by=["batch_id"])
    chain = df3.writeTo.return_value.using.return_value
    chain.partitionedBy.return_value.create.assert_called_once()
    df3.writeTo.return_value.overwritePartitions.assert_not_called()


def test_iceberg_read_and_exists(spark):
    fake = _fake_spark_with_catalog()
    store = TableStore(fake, "/tmp/unused", catalog="er")

    store.read("docs")
    fake.read.table.assert_called_once_with("er.docs")
    store.exists("docs")
    fake.catalog.tableExists.assert_called_once_with("er.docs")


def test_catalog_configured_but_unavailable_falls_back(spark, tmp_path):
    """catalog name set but no catalog conf -> parquet path (the sandbox)."""
    fake = MagicMock()
    fake.conf.get.side_effect = lambda key, default=None: default
    store = TableStore(fake, str(tmp_path), catalog="er")
    df = MagicMock()
    store.append(df, "t")
    df.writeTo.assert_not_called()
    df.write.mode.assert_called_once_with("append")


def test_iceberg_append_bootstrap_declares_partition_spec(spark):
    """Iceberg partition SPEC lives on the table: the first append of a
    partitioned table must CREATE it with partitionedBy — silently dropping
    partition_by would void every pruning claim on the scale substrate
    (code-review finding, round 4)."""
    fake = _fake_spark_with_catalog()
    fake.catalog.tableExists.return_value = False
    store = TableStore(fake, "/tmp/unused", catalog="er")
    df = MagicMock()
    store.append(df, "turns_raw", partition_by=["conv_bucket"])
    chain = df.writeTo.return_value.using
    chain.assert_called_once_with("iceberg")
    chain.return_value.partitionedBy.assert_called_once()
    chain.return_value.partitionedBy.return_value.create.assert_called_once()
    df.writeTo.return_value.append.assert_not_called()
    df.write.mode.assert_not_called()


def test_iceberg_merge_upsert_partitioned_bootstrap_and_merge(spark):
    """merge_upsert_partitioned: bootstrap creates WITH the partition spec;
    existing table goes through the plain MERGE INTO."""
    fake = _fake_spark_with_catalog()
    fake.catalog.tableExists.return_value = False
    store = TableStore(fake, "/tmp/unused", catalog="er")
    df = MagicMock()
    df.select.return_value.distinct.return_value.collect.return_value = [(7,)]
    store.merge_upsert_partitioned(
        df, "documents_live", key_cols=["conv_id"], partition_col="conv_bucket"
    )
    chain = df.writeTo.return_value.using
    chain.assert_called_once_with("iceberg")
    chain.return_value.partitionedBy.assert_called_once()
    chain.return_value.partitionedBy.return_value.create.assert_called_once()
    fake.sql.assert_not_called()

    fake2 = _fake_spark_with_catalog()
    store2 = TableStore(fake2, "/tmp/unused", catalog="er")
    df2 = MagicMock()
    df2.select.return_value.distinct.return_value.collect.return_value = [(7,), (3,)]
    store2.merge_upsert_partitioned(
        df2, "documents_live", key_cols=["conv_id"], partition_col="conv_bucket"
    )
    sql = fake2.sql.call_args[0][0]
    assert "MERGE INTO er.documents_live t" in sql
    # the ON clause must let Iceberg prune the target scan to the touched
    # partitions: s-side equality AND a literal IN list (round-4 ADVICE —
    # a key-only ON clause voids the bounded-upsert-cost claim on the
    # documented scale substrate)
    assert "t.conv_id = s.conv_id" in sql
    assert "t.conv_bucket = s.conv_bucket" in sql
    assert "t.conv_bucket IN (3, 7)" in sql
    df2.write.mode.assert_not_called()


def test_iceberg_merge_upsert_partitioned_string_partition_quoted(spark):
    """String partition values must be quoted (and escaped) in the IN list."""
    fake = _fake_spark_with_catalog()
    store = TableStore(fake, "/tmp/unused", catalog="er")
    df = MagicMock()
    df.select.return_value.distinct.return_value.collect.return_value = [
        ("b'x",), ("a",),
    ]
    store.merge_upsert_partitioned(
        df, "docs", key_cols=["conv_id"], partition_col="shard"
    )
    sql = fake.sql.call_args[0][0]
    assert "t.shard IN ('a', 'b''x')" in sql


def test_iceberg_merge_upsert_issues_merge_into(spark):
    """M8 on a configured catalog must be a real MERGE INTO (update-or-insert
    by key), never the parquet rewrite."""
    fake = _fake_spark_with_catalog()
    store = TableStore(fake, "/tmp/unused", catalog="er")
    df = MagicMock()  # carries pk = partition_key_col("left_id", n)
    df.select.return_value.distinct.return_value.collect.return_value = [(1,)]
    store.merge_upsert_partitioned(df, "predictions", key_cols=["left_id"], partition_col="pk")
    df.createOrReplaceTempView.assert_called_once()
    view = df.createOrReplaceTempView.call_args[0][0]
    sql = fake.sql.call_args[0][0]
    assert "MERGE INTO er.predictions t" in sql
    assert f"USING {view} s" in sql
    assert "t.left_id = s.left_id" in sql
    assert "WHEN MATCHED THEN UPDATE SET *" in sql
    assert "WHEN NOT MATCHED THEN INSERT *" in sql
    df.write.mode.assert_not_called()


def test_iceberg_merge_upsert_bootstraps_missing_table(spark):
    """First upsert to a brand-new table must CREATE it (MERGE INTO on a
    missing table raises), and must not fall back to parquet."""
    fake = _fake_spark_with_catalog()
    fake.catalog.tableExists.return_value = False
    store = TableStore(fake, "/tmp/unused", catalog="er")
    df = MagicMock()
    df.select.return_value.distinct.return_value.collect.return_value = [(7,)]
    store.merge_upsert_partitioned(
        df, "documents_live", key_cols=["conv_id"], partition_col="conv_bucket"
    )
    df.writeTo.assert_called_once_with("er.documents_live")
    df.writeTo.return_value.using.assert_called_once_with("iceberg")
    df.writeTo.return_value.using.return_value.partitionedBy.return_value.create.assert_called_once()
    fake.sql.assert_not_called()
    df.write.mode.assert_not_called()


def test_iceberg_band_index_upsert_is_one_merge(spark):
    """The band-index upsert (extra partitions: the old buckets of re-signed
    conversations) is ONE MERGE INTO keyed on (conv_id, band_idx), pruned to
    touched ∪ old buckets, without the partition equality (a matched row
    moves bucket) and without a DELETE + append pair."""
    fake = _fake_spark_with_catalog()
    store = TableStore(fake, "/tmp/unused", catalog="er")
    df = MagicMock()
    df.select.return_value.distinct.return_value.collect.return_value = [(3,), (5,)]
    store.merge_upsert_partitioned(
        df, "dedup_band_index", key_cols=["conv_id", "band_idx"],
        partition_col="band_bucket", extra_partition_vals=(9, 5),
    )
    assert fake.sql.call_count == 1
    sql = fake.sql.call_args[0][0]
    assert "MERGE INTO er.dedup_band_index t" in sql
    assert "t.conv_id = s.conv_id AND t.band_idx = s.band_idx" in sql
    assert "t.band_bucket IN (3, 5, 9)" in sql
    assert "t.band_bucket = s.band_bucket" not in sql
    assert "DELETE" not in sql
    df.writeTo.return_value.append.assert_not_called()
    df.write.mode.assert_not_called()


def test_iceberg_merge_upsert_partitioned_refuses_null_partition(spark):
    """A NULL partition value can never equality-match in the MERGE ON
    clause, so the same key would re-INSERT on every merge — refuse loudly
    instead of rendering the Python None as the string literal 'None'."""
    import pytest

    fake = _fake_spark_with_catalog()
    store = TableStore(fake, "/tmp/unused", catalog="er")
    df = MagicMock()
    df.select.return_value.distinct.return_value.collect.return_value = [
        (None,), (3,),
    ]
    with pytest.raises(ValueError, match="NULL value in partition column"):
        store.merge_upsert_partitioned(
            df, "docs", key_cols=["conv_id"], partition_col="conv_bucket"
        )
    fake.sql.assert_not_called()


def test_sql_literal_rejects_unsupported_types():
    """Non-scalar partition values must raise, not stringify."""
    import datetime

    import pytest

    from lab02_citation_matching_and_entity_resolution_spark.sources.tables import (
        _sql_literal,
    )

    assert _sql_literal(7) == "7"
    assert _sql_literal(True) == "TRUE"
    assert _sql_literal("o'k") == "'o''k'"
    with pytest.raises(TypeError):
        _sql_literal(None)
    with pytest.raises(TypeError):
        _sql_literal(datetime.date(2026, 1, 1))
