"""The pandas UDFs must work in every SparkContext of a process.

A UDF object kept across contexts (module level, or behind a cache) holds
the Python accumulator of the context it was first used in; once that
context stops, every task of a later context logs ``ERROR DAGScheduler:
Failed to update accumulator``.  cli.main stops its session, so a second
run in one process hit this.  The check runs in a subprocess: it stops
sessions, and the shared test session must stay up.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = r"""
from pyspark.sql import functions as F

from lab02_citation_matching_and_entity_resolution_spark.operators.assemble import (
    assemble_documents,
)
from lab02_citation_matching_and_entity_resolution_spark.operators.features import (
    pair_features,
)
from lab02_citation_matching_and_entity_resolution_spark.session import get_spark
from lab02_citation_matching_and_entity_resolution_spark.synth import (
    SynthConfig,
    transcripts_df,
)

for run in range(2):
    spark = get_spark(app_name=f"udf-session-{run}", master="local[2]", shuffle_partitions=2)
    # normalize_text_udf runs in assemble_documents, jaro_winkler_udf in
    # pair_features
    docs = assemble_documents(transcripts_df(spark, SynthConfig(n_base=3)))
    pairs = docs.select(F.col("conv_id").alias("left_id")).crossJoin(
        docs.select(F.col("conv_id").alias("right_id"))
    ).where("left_id < right_id")
    n = pair_features(pairs, docs).where(F.col("jaro_winkler") >= 0).count()
    print(f"run {run}: {n} scored pairs", flush=True)
    spark.stop()
"""


def test_udfs_work_in_a_second_session(tmp_path):
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")])),
        SPARK_GRAFT_DRIVER_MEM="1g",
        SPARK_LOCAL_DIRS=str(tmp_path),
    )
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    counts = [int(line.split()[2]) for line in proc.stdout.splitlines() if line.startswith("run ")]
    assert len(counts) == 2 and counts[0] == counts[1] > 0, proc.stdout
    failed = [
        line for line in proc.stderr.splitlines() if "Failed to update accumulator" in line
    ]
    assert not failed, "\n".join(failed[:5])
