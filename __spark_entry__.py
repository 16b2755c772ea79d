"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship ER/dedup slice over the sf0.001
``documents`` table; ``queries()``/``oracle_sql()`` expose one entry per
implemented operator from SURVEY.md §2 (registry in
lab02_citation_matching_and_entity_resolution_spark/queries_catalog.py), each
with a DuckDB-equivalent oracle.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Reference block cap (MAX_REFS = MAX_BIBS = 200); see entry() docstring.
_ENTRY_BLOCK_CAP = 200


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: near-duplicate document detection over sf0.001.

    Blocks documents by (lang, source), scores within-block pairs with
    normalized-Levenshtein + token-Jaccard, thresholds, and returns the
    candidate duplicate pairs — the engine's core ER slice on the driver's
    documents table.

    The within-block self-join rides the engine's skew-cap discipline
    (blocking._cap_block): at most ``_ENTRY_BLOCK_CAP`` docs per (lang,
    source) block, xxhash64-ranked deterministically — the same rule every
    dedup operator enforces (no uncapped within-block cross join anywhere,
    including this demo).  At sf0.001 every block is far below the cap, so
    the output is identical to the uncapped join (pinned by test).
    """
    from pyspark.sql import functions as F

    from lab02_citation_matching_and_entity_resolution_spark.operators.blocking import (
        _cap_block,
    )
    from lab02_citation_matching_and_entity_resolution_spark.operators.features import (
        jaccard_col,
        levenshtein_sim_col,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id",
        "lang",
        "source",
        F.col("text"),
        F.array_distinct(F.split("text", " ")).alias("tokens"),
    )
    # cap key is computed from (lang, source) with null markers so capping
    # groups exactly like the join below (which, like any equi-join, drops
    # null keys); the key column itself never leaves this function
    keyed = docs.withColumn(
        "_blk",
        F.concat_ws(
            "\x1f",
            F.coalesce(F.col("lang"), F.lit("\x00")),
            F.coalesce(F.col("source"), F.lit("\x00")),
        ),
    )
    capped, _ = _cap_block(
        keyed, ["_blk"], "doc_id", _ENTRY_BLOCK_CAP, seed=23120334, rank="xxhash64"
    )
    capped = capped.drop("_blk")
    a = capped.select(
        "lang",
        "source",
        F.col("doc_id").alias("left_id"),
        F.col("text").alias("l_text"),
        F.col("tokens").alias("l_tokens"),
    )
    b = capped.select(
        "lang",
        "source",
        F.col("doc_id").alias("right_id"),
        F.col("text").alias("r_text"),
        F.col("tokens").alias("r_tokens"),
    )
    pairs = a.join(b, ["lang", "source"]).where(F.col("left_id") < F.col("right_id"))
    scored = pairs.select(
        "lang",
        "source",
        "left_id",
        "right_id",
        F.round(
            levenshtein_sim_col(
                F.substring("l_text", 1, 120), F.substring("r_text", 1, 120)
            ),
            4,
        ).alias("lev_sim"),
        F.round(jaccard_col(F.col("l_tokens"), F.col("r_tokens")), 4).alias("jaccard"),
    )
    return scored.where((F.col("jaccard") >= 0.3) | (F.col("lev_sim") >= 0.5))


def _registry():
    from lab02_citation_matching_and_entity_resolution_spark import (
        queries_catalog,
        queries_catalog_ext,  # noqa: F401  (import registers batch-2 queries)
    )

    return queries_catalog.REGISTRY


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.fn for name, spec in _registry().items() if spec.driver}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.sql
        for name, spec in _registry().items()
        if spec.driver and spec.sql is not None
    }
