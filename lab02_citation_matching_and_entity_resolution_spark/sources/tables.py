"""Iceberg-or-parquet table layer (SURVEY.md §2.1, §7.0).

On a real cluster the engine targets Iceberg (``USING iceberg`` +
``overwritePartitions`` snapshots — the north rule's per-partition resume
substrate).  The sandbox has no Iceberg runtime jar and no network, so the
same API is backed by parquet directories with partition-dir overwrite
(``partitionOverwriteMode=dynamic``), keeping all pipeline code
format-agnostic: swap the catalog in one place, nothing downstream changes.

Replaces the reference's materialized-JSONL stage boundaries
(ref: src/parse_util.py:1575-1581 _append_jsonl; src/match_utils.py:554-556
append-mode restart; :854-874 partitioned split sink).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


def _sql_literal(v) -> str:
    """SQL literal for a partition value (int/float/bool/str ONLY).

    Anything else raises: silently rendering e.g. None as the string 'None'
    would make the MERGE ON clause never match existing rows, so every
    re-merge of that key would INSERT a duplicate — the exact corruption
    merge semantics exist to prevent."""
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        return repr(v)
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    raise TypeError(
        f"unsupported partition-value type {type(v).__name__!r} ({v!r}); "
        "partition values must be int/float/bool/str and non-null"
    )


def _check_partition_values(vals: list, partition_col: str) -> None:
    """NULL partition values break upserts in BOTH store backends: SQL
    equality in the Iceberg MERGE ON clause is never true for NULL (the row
    re-inserts forever), and ``isin(vals)`` in the parquet path never selects
    NULL-partition rows for the anti-join (same duplicate-key outcome).
    Refuse loudly instead."""
    if any(v is None for v in vals):
        raise ValueError(
            f"merge_upsert_partitioned: NULL value in partition column "
            f"{partition_col!r} — NULL never equality-matches in the merge "
            "condition, so the upsert invariant cannot hold; filter or "
            "default the partition value upstream"
        )


def _iceberg_available(spark: SparkSession) -> bool:
    return bool(
        spark.conf.get("spark.sql.catalog.spark_catalog", None)
        or spark.conf.get("spark.sql.catalog.er", None)
    )


@dataclass
class TableStore:
    """Named-table IO rooted at ``root`` (parquet) or an Iceberg catalog."""

    spark: SparkSession
    root: str
    catalog: str | None = None  # e.g. "er" when an Iceberg catalog is configured

    def _use_iceberg(self) -> bool:
        return self.catalog is not None and _iceberg_available(self.spark)

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def sink_path(self, name: str) -> str:
        """Public filesystem path for ``name`` — for writers the store does
        not own (e.g. ``writeStream.format("parquet").option("path", ...)``),
        so callers never reach into ``_path`` (round-5 ADVICE).  Only valid
        in parquet mode: an Iceberg-configured store has no path sink —
        streaming writers must target ``writeStream.toTable`` there, and a
        loud error beats a parquet directory silently shadowing the catalog
        table."""
        if self._use_iceberg():
            raise ValueError(
                f"sink_path({name!r}): store is Iceberg-backed; use "
                f"writeStream.toTable('{self.catalog}.{name}') instead of a path sink"
            )
        return self._path(name)

    def exists(self, name: str) -> bool:
        if self._use_iceberg():
            return self.spark.catalog.tableExists(f"{self.catalog}.{name}")
        fs, path = self._fs_path(self._path(name))
        return bool(fs.exists(path))

    def read(self, name: str) -> DataFrame:
        if self._use_iceberg():
            return self.spark.read.table(f"{self.catalog}.{name}")
        return self.spark.read.parquet(self._path(name))

    def create_or_replace(self, df: DataFrame, name: str, partition_by: list[str] | None = None):
        """S11 output-truncate semantics (ref parse_util.py:1620-1631)."""
        if self._use_iceberg():
            w = df.writeTo(f"{self.catalog}.{name}").using("iceberg")
            if partition_by:
                from pyspark.sql.functions import col

                w = w.partitionedBy(*[col(c) for c in partition_by])
            w.createOrReplace()
            return
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self._path(name))

    def append(self, df: DataFrame, name: str, partition_by: list[str] | None = None):
        """S7 append-sink semantics (ref parse_util.py:1575-1581).

        Iceberg: the partition SPEC lives on the table, not the write, so the
        first append of a partitioned table must CREATE it with
        ``partitionedBy`` — silently dropping ``partition_by`` there would
        leave every downstream "partition pruning" claim void on exactly the
        substrate documented as the scale path."""
        if self._use_iceberg():
            if not self.exists(name):
                w = df.writeTo(f"{self.catalog}.{name}").using("iceberg")
                if partition_by:
                    from pyspark.sql.functions import col

                    w = w.partitionedBy(*[col(c) for c in partition_by])
                w.create()
                return
            df.writeTo(f"{self.catalog}.{name}").append()
            return
        w = df.write.mode("append")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self._path(name))

    def merge_upsert_partitioned(
        self, df: DataFrame, name: str, key_cols: list[str], partition_col: str,
        extra_partition_vals: tuple = (),
    ):
        """M8 MERGE semantics, the one keyed write: per-key upsert (matched
        keys update, new keys insert; the reference UPDATES existing
        per-paper pred.json files in place, ref: src/modeling_utils.py:
        391-481) that rewrites only the touched ``partition_col`` partitions
        — the partitions of ``df``'s rows plus ``extra_partition_vals`` —
        bounding merge cost to those partitions instead of the table.

        PRECONDITION (caller's contract, not validated here): every stored
        row of a key in ``df`` lives in a touched partition, otherwise the
        partition-bounded anti-join cannot see the old row and the "upsert"
        leaves duplicate keys.  Either ``partition_col`` is a deterministic
        function of ``key_cols`` (conv_bucket = pmod(xxhash64(conv_id), n),
        or ``lineage.partition_key_col`` of a key column), or the caller
        passes the old rows' partitions as ``extra_partition_vals`` (the
        streaming band index, bucketed by band-key hash: a re-signed
        conversation's (conv_id, band_idx) rows move between buckets).

        Iceberg: one MERGE INTO whose ON clause carries the key equality and
        a literal IN list of the touched partition values (bounded by the
        partition count, e.g. 64 buckets) so Iceberg statically prunes the
        target scan (round-4 ADVICE: a key-only ON clause voids the bounded
        cost on the documented scale substrate).  Without extra partitions
        the partition is a function of the key, so ``t.p = s.p`` is added
        too; with them a matched row may move partition, so it is not.  The
        bootstrap CREATE declares the partition spec so the engine can
        prune.

        Parquet: read ONLY the touched partitions, anti-join out the updated
        keys, union the new rows, localCheckpoint to sever lineage from the
        files about to be replaced (reading lazily from a path being
        overwritten corrupts the table), then dynamic-partition-overwrite
        exactly those partitions.  Dynamic overwrite only rewrites
        partitions present in the result, so an extra partition whose only
        rows moved out (the one kind that can come out empty) is deleted
        through the Hadoop FileSystem of its path — no local-filesystem
        call, so the write path holds on object stores too.  A crash
        mid-write can leave a subset of touched partitions new and the rest
        old; the streaming caller's batch REPLAY re-merges the same rows,
        which converges because the merge is idempotent per key.
        """
        from pyspark.sql.functions import col

        # ONE bounded driver-side collect up front (one row per touched
        # partition), validating NULL-freedom on EVERY path INCLUDING the
        # bootstrap writes: a NULL-partition row written at bootstrap could
        # never be upserted afterwards (every later merge of that key would
        # refuse), so it must be refused before anything lands on disk
        own = [r[0] for r in df.select(partition_col).distinct().collect()]
        vals = sorted(set(own) | set(extra_partition_vals), key=str)
        _check_partition_values(vals, partition_col)
        if self._use_iceberg():
            if not self.exists(name):
                (
                    df.writeTo(f"{self.catalog}.{name}")
                    .using("iceberg")
                    .partitionedBy(col(partition_col))
                    .create()
                )
                return
            view = f"_merge_src_{name}"
            df.createOrReplaceTempView(view)
            on = " AND ".join(f"t.{c} = s.{c}" for c in key_cols)
            if not extra_partition_vals:
                on += f" AND t.{partition_col} = s.{partition_col}"
            if vals:
                lits = ", ".join(_sql_literal(v) for v in vals)
                on += f" AND t.{partition_col} IN ({lits})"
            self.spark.sql(
                f"MERGE INTO {self.catalog}.{name} t USING {view} s ON {on} "
                "WHEN MATCHED THEN UPDATE SET * "
                "WHEN NOT MATCHED THEN INSERT *"
            )
            return
        if not self.exists(name):
            df.write.mode("overwrite").partitionBy(partition_col).parquet(self._path(name))
            return
        existing = self.read(name).where(col(partition_col).isin(vals))
        keep = existing.join(df.select(*key_cols).distinct(), key_cols, "left_anti")
        result = keep.unionByName(df).localCheckpoint(eager=True)
        self.overwrite_partitions(result, name, [partition_col])
        movable = set(extra_partition_vals) - set(own)
        if movable:
            present = {
                r[0]
                for r in result.where(col(partition_col).isin(list(movable)))
                .select(partition_col).distinct().collect()
            }
            for v in movable - present:
                fs, path = self._fs_path(f"{self._path(name)}/{partition_col}={v}")
                fs.delete(path, True)  # recursive; a missing path is a no-op

    def _fs_path(self, path: str):
        """(Hadoop FileSystem, Path) of ``path``: local, HDFS or an object
        store alike, so no store call is tied to the local filesystem."""
        p = self.spark._jvm.org.apache.hadoop.fs.Path(path)
        return p.getFileSystem(self.spark._jsc.hadoopConfiguration()), p

    def overwrite_partitions(self, df: DataFrame, name: str, partition_by: list[str]):
        """Replace only the partitions present in ``df`` — the resume
        substrate (Iceberg overwritePartitions / dynamic parquet overwrite)."""
        if self._use_iceberg():
            if not self.exists(name):  # overwritePartitions needs the table
                return self.append(df, name, partition_by)
            df.writeTo(f"{self.catalog}.{name}").overwritePartitions()
            return
        prev = self.spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        self.spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            df.write.mode("overwrite").partitionBy(*partition_by).parquet(self._path(name))
        finally:
            self.spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
