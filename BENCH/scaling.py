#!/usr/bin/env python
"""Scaling-efficiency evidence runner (north rule: >=0.8 from N to 4N).

No real cluster exists in this sandbox, so per BASELINE.md the same job runs
at local[N] and local[4N] on the SAME synthetic input; efficiency =
(T_N / T_4N) / 4.  Each run is a fresh JVM (subprocess) so executor-thread
pools don't bleed between measurements.

Writes BENCH/scaling_results.json and prints a summary table.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_BASE = int(os.environ.get("SPARK_GRAFT_SCALING_NBASE", "6000"))
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
# N and 4N parallelism levels, 4N = min(8, host CPUs): a pure-compute control
# (cpu_scaling.py) showed a 32-vCPU box saturating at ~8 schedulable cores
# (throughput at 16 threads LOWER than at 8 — hypervisor oversubscription),
# so 8->32 measures the hypervisor, not the dataflow.  2->8 there; 1->4 on a
# 4-vCPU host.
_TOP = min(8, CPUS)
CORE_LEVELS = tuple(
    int(c)
    for c in os.environ.get(
        "SPARK_GRAFT_SCALING_CORES", f"{max(1, _TOP // 4)},{_TOP}"
    ).split(",")
)

# PREP runs once, unpinned at full width: synth -> assemble -> blocking,
# persisted to parquet.  Every measured leg then only reads the SAME bytes
# and times the score stage — identical input across levels, and the pinned
# legs don't waste their core budget regenerating data.
PREP = r"""
import json, os, sys
sys.path.insert(0, "@REPO@")
n_base = int(sys.argv[1]); out_dir = sys.argv[2]; cpus = int(sys.argv[3])
from lab02_citation_matching_and_entity_resolution_spark.session import get_spark
from lab02_citation_matching_and_entity_resolution_spark.synth import SynthConfig, transcripts_df_distributed
from lab02_citation_matching_and_entity_resolution_spark.operators.assemble import assemble_documents
from lab02_citation_matching_and_entity_resolution_spark.operators.blocking import candidate_pairs

spark = get_spark(app_name="er-scale-prep", master=f"local[{cpus}]",
                  shuffle_partitions=max(cpus, 32))
spark.sparkContext.setLogLevel("ERROR")
tr = transcripts_df_distributed(spark, SynthConfig(n_base=n_base)).persist(); tr.count()
docs = assemble_documents(tr).persist(); docs.count()
pairs, _ = candidate_pairs(docs)
docs.write.mode("overwrite").parquet(os.path.join(out_dir, "docs"))
pairs.write.mode("overwrite").parquet(os.path.join(out_dir, "pairs"))
with open(os.path.join(out_dir, "meta.json"), "w") as f:
    json.dump({"n_base": n_base}, f)
print(json.dumps({"prepared": n_base}))
spark.stop()
"""

RUNNER = r"""
import json, os, sys, time
sys.path.insert(0, "@REPO@")
cores = int(sys.argv[1]); data_dir = sys.argv[2]
from lab02_citation_matching_and_entity_resolution_spark.session import get_spark
from lab02_citation_matching_and_entity_resolution_spark.operators.features import pair_features
from lab02_citation_matching_and_entity_resolution_spark.operators.tfidf import pair_tfidf_cosine
from lab02_citation_matching_and_entity_resolution_spark.operators.scoring import score_pairs_rule

# sweep knobs (round-3): shuffle-partition factor and Arrow batch size —
# the fixed ~32s small-corpus overhead pointed at scheduling/Arrow-init, so
# the retest sweeps these on the small-core legs
sp_mult = float(os.environ.get("SPARK_GRAFT_SCALING_SHUFFLE_MULT", "2"))
sp_min = int(os.environ.get("SPARK_GRAFT_SCALING_SHUFFLE_MIN", "16"))
arrow_batch = int(os.environ.get("SPARK_GRAFT_SCALING_ARROW_BATCH", "10000"))
spark = get_spark(app_name=f"er-scale-{cores}", master=f"local[{cores}]",
                  shuffle_partitions=max(int(cores * sp_mult), sp_min))
spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch))
# fused-scaling diagnosis knob (round-6): "-1" disables auto-broadcast.
# NOTE (round-7 ADVICE): this knob predates the explicit shuffle_hash hints
# on fused's six per-pass payload joins — join-strategy hints take
# precedence over autoBroadcastJoinThreshold, so the knob no longer affects
# those joins; it only changes the strategy of UNHINTED joins (e.g. the
# classic stage's IDF join).  Kept for those legs and for historical
# comparability of recorded runs.
bcast = os.environ.get("SPARK_GRAFT_SCALING_BROADCAST", "")
if bcast:
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
spark.sparkContext.setLogLevel("ERROR")
docs = spark.read.parquet(os.path.join(data_dir, "docs")).persist(); docs.count()
pairs = spark.read.parquet(os.path.join(data_dir, "pairs")).persist()
n_pairs = pairs.count()
# min-of-N in-JVM passes — the SAME discipline bench.py uses for the
# headline: pass 0 carries one-time JIT/codegen/Arrow-worker warm-up
# (~30s, identical at every core count, pure measurement floor for a
# stage a production job runs for hours); the min pass is the steady
# state.  Every pass is reported.
passes = []
# stage=fused measures the round-6 production default (fused block-local
# blocking+scoring, operators/fused.py — its wall includes the blocking
# passes, identically at every core level so the ratio stays fair);
# stage=classic keeps the historical two-join leg for cross-round
# comparability.  Both produce the same scored pair set (parity pinned).
stage = os.environ.get("SPARK_GRAFT_SCALING_STAGE", "classic")
for _ in range(int(os.environ.get("SPARK_GRAFT_SCALING_PASSES", "3"))):
    t0 = time.time()
    if stage == "fused":
        from lab02_citation_matching_and_entity_resolution_spark.operators.fused import fused_scored_pairs
        scored, _m = fused_scored_pairs(docs)
    else:
        scored = score_pairs_rule(pair_tfidf_cosine(pair_features(pairs, docs), docs))
    scored.select("left_id", "right_id", "score").write.format("noop").mode("overwrite").save()
    passes.append(time.time() - t0)
dt = min(passes)
# pure-compute control IN THE SAME JVM/WINDOW: map-only sha2, no shuffle, no
# Python — measures what the environment gives THIS leg, so the normalized
# efficiency compares pipeline and control under the same external load
t0 = time.time()
spark.range(0, 40_000_000, 1, cores * 4).selectExpr(
    "sum(length(sha2(cast(id as string), 256))) as s").collect()
control = time.time() - t0
print(json.dumps({"cores": cores, "n_pairs": n_pairs, "score_sec": dt,
                  "stage": stage,
                  "pass_times": [round(x, 2) for x in passes],
                  "pairs_per_sec": n_pairs / dt, "control_sec": control}))
spark.stop()
"""


DATA_DIR = os.environ.get("SPARK_GRAFT_SCALING_DATA", "/tmp/er_scaling_data")

# "strong" (default): same corpus at every core level; efficiency =
# (T_lo/T_hi)/(hi/lo).  "weak": corpus scales WITH cores (fixed work per
# core, n_base = N_BASE * cores / max_cores); efficiency compares
# per-core THROUGHPUT: (rate_hi/rate_lo)/(hi/lo), which is 1.0 when each
# core keeps its own working set at constant speed.  If strong-scaling
# efficiency falls short but weak-scaling recovers, the shortfall is
# per-core working-set bandwidth (cache/memory), not dataflow serialization
# — the round-3 verdict asked for exactly this discriminator.
MODE = os.environ.get("SPARK_GRAFT_SCALING_MODE", "strong")


def _env() -> dict:
    # PYTHONPATH + cwd=REPO so Spark PYTHON WORKERS (not just the driver)
    # can unpickle package UDFs regardless of where scaling.py is invoked
    return dict(
        os.environ,
        PYTHONPATH=REPO + os.pathsep + os.environ.get("PYTHONPATH", ""),
    )


def prepare_data(n_base: int = N_BASE, data_dir: str = DATA_DIR) -> None:
    meta = os.path.join(data_dir, "meta.json")
    if os.path.exists(meta):
        with open(meta) as f:
            if json.load(f).get("n_base") == n_base:
                print(f"reusing prepared corpus n_base={n_base} at {data_dir}")
                return
    os.makedirs(data_dir, exist_ok=True)
    print(f"preparing corpus n_base={n_base} at {data_dir} (unpinned local[{CPUS}])",
          flush=True)
    out = subprocess.run(
        [sys.executable, "-c", PREP.replace("@REPO@", REPO), str(n_base), data_dir,
         str(CPUS)],
        capture_output=True, text=True, timeout=3600, env=_env(), cwd=REPO,
    )
    if "prepared" not in out.stdout:
        raise RuntimeError(f"prep failed:\n{out.stderr[-3000:]}")


def run_at(cores: int, data_dir: str = DATA_DIR, retries: int = 1) -> dict:
    import shutil

    code = RUNNER.replace("@REPO@", REPO)
    last_err = ""
    for attempt in range(retries + 1):
        env = _env()
        cmd = [sys.executable, "-c", code, str(cores), data_dir]
        # PIN the whole process tree (JVM + GC + Python Arrow workers + IO
        # threads) to exactly `cores` CPUs: local[N] alone only bounds task
        # slots, and on a quiet box the 2-core leg leaks 3-4 extra cores of
        # GC/Python/IO work, silently deflating measured scaling.  taskset is
        # the faithful N-core-executor emulation.  The pin set is SPREAD
        # across the CPUs this process may run on (its affinity mask, never
        # a CPU outside it): a measured hypervisor artifact makes
        # contiguous low-numbered vCPUs ~2x slower than evenly-spaced ones
        # for the same count (diagnostic in BENCH/BASELINE.md), so both
        # levels use the same spread policy for a fair ratio.
        if shutil.which("taskset") and os.environ.get("SPARK_GRAFT_SCALING_PIN", "1") == "1":
            allowed = sorted(os.sched_getaffinity(0))
            if cores > len(allowed):
                # fewer pins than the level would report a false scaling ratio
                raise ValueError(
                    f"level {cores} exceeds the {len(allowed)} CPUs this process may use"
                )
            step = max(1, len(allowed) // cores)
            pins = ",".join(str(c) for c in allowed[::step][:cores])
            cmd = ["taskset", "-c", pins] + cmd
        out = subprocess.run(
            cmd,
            capture_output=True, text=True, timeout=3600, env=env, cwd=REPO,
        )
        lines = [l for l in out.stdout.strip().splitlines() if l.startswith("{")]
        if lines:
            return json.loads(lines[-1])
        last_err = (
            f"leg local[{cores}] attempt {attempt}: no JSON (rc={out.returncode})\n"
            f"stderr tail:\n{out.stderr[-3000:]}\n"
        )
        print(last_err, file=sys.stderr, flush=True)
    raise RuntimeError(last_err)


REPEATS = int(os.environ.get("SPARK_GRAFT_SCALING_REPEATS", "3"))


def _count_pairs(data_dir: str) -> int:
    """Row count of the prepared pairs table from parquet footers (no JVM)."""
    import glob

    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(f).metadata.num_rows
        for f in glob.glob(os.path.join(data_dir, "pairs", "*.parquet"))
    )


# calibration tolerance for |pairs_per_core / target - 1| and attempt budget
WEAK_CAL_TOL = float(os.environ.get("SPARK_GRAFT_SCALING_WEAK_TOL", "0.15"))
WEAK_CAL_ATTEMPTS = int(os.environ.get("SPARK_GRAFT_SCALING_WEAK_ATTEMPTS", "3"))


def main_weak() -> None:
    """Fixed work PER CORE — CALIBRATED: blocking pairs grow superlinearly in
    n_base, so scaling n_base linearly with cores gives the big leg ~3x more
    pairs per core than the small leg (round-4 ADVICE: the resulting 1.13
    'efficiency' partly reflected fixed-overhead amortization at the larger
    per-core workload).  Here each lower level's n_base is iterated (sqrt
    adjustment, <= WEAK_CAL_ATTEMPTS preps) until its measured
    pairs-per-core is within WEAK_CAL_TOL of the hi level's, and the final
    work-per-core ratio is recorded next to the efficiency so readers can
    see how close the calibration landed.

    eff_weak = (rate_hi / rate_lo) / (hi / lo), rate = n_pairs / score_sec —
    1.0 when each core keeps its own (now genuinely constant-size) working
    set at constant speed."""
    hi = max(CORE_LEVELS)
    level_dirs: dict[int, str] = {}
    level_pairs: dict[int, int] = {}
    d_hi = f"{DATA_DIR}_weak{hi}"
    prepare_data(N_BASE, d_hi)
    level_dirs[hi] = d_hi
    level_pairs[hi] = _count_pairs(d_hi)
    target_per_core = level_pairs[hi] / hi
    calibration: dict[str, list] = {}
    for cores in CORE_LEVELS:
        if cores == hi:
            continue
        d = f"{DATA_DIR}_weak{cores}"
        n_base = max(200, N_BASE * cores // hi)  # linear first guess
        tries = []
        for _ in range(WEAK_CAL_ATTEMPTS):
            prepare_data(n_base, d)
            pairs = _count_pairs(d)
            per_core = pairs / cores
            tries.append({"n_base": n_base, "pairs": pairs,
                          "pairs_per_core": per_core})
            print(f"calibrate local[{cores}]: n_base={n_base} -> "
                  f"{per_core:.0f} pairs/core (target {target_per_core:.0f})",
                  flush=True)
            if abs(per_core / target_per_core - 1.0) <= WEAK_CAL_TOL:
                break
            # pairs ~ quadratic-ish in n_base within fixed corpus structure
            n_base = max(200, int(n_base * (target_per_core / per_core) ** 0.5))
        level_dirs[cores] = d
        level_pairs[cores] = tries[-1]["pairs"]
        calibration[f"local[{cores}]"] = tries
    results: dict = {"mode": "weak", "n_base_hi": N_BASE,
                     "calibration": calibration,
                     "target_pairs_per_core": target_per_core}
    times: dict[int, list[dict]] = {c: [] for c in CORE_LEVELS}
    for rep in range(REPEATS):
        for cores in CORE_LEVELS:
            r = run_at(cores, level_dirs[cores])
            times[cores].append(r)
            print(f"rep{rep} weak local[{cores}]: {r['n_pairs']} pairs in "
                  f"{r['score_sec']:.1f}s = {r['pairs_per_sec']:.0f} pairs/sec",
                  flush=True)
    for cores in CORE_LEVELS:
        best = min(times[cores], key=lambda r: r["score_sec"])
        results[f"local[{cores}]"] = dict(
            best, all_times=[round(r["score_sec"], 2) for r in times[cores]],
            control_sec=min(r["control_sec"] for r in times[cores]),
        )
    lo = CORE_LEVELS[0]
    r_lo, r_hi = results[f"local[{lo}]"], results[f"local[{hi}]"]
    eff = (r_hi["pairs_per_sec"] / r_lo["pairs_per_sec"]) / (hi / lo)
    results[f"weak_scaling_efficiency_{lo}_to_{hi}"] = eff
    # honesty metric next to the headline: >1 means the big leg still did
    # more work per core than the small leg (efficiency biased up), <1 the
    # reverse; calibration targets 1.0 +/- WEAK_CAL_TOL
    work_ratio = (level_pairs[hi] / hi) / (level_pairs[lo] / lo)
    results["work_per_core_ratio_hi_over_lo"] = work_ratio
    ctrl = r_lo["control_sec"] / r_hi["control_sec"]
    results["control_speedup"] = ctrl
    results["normalized_weak_efficiency"] = eff * (hi / lo) / ctrl
    print(f"weak-scaling efficiency (rate{hi}/rate{lo})/{hi // lo} = {eff:.3f}; "
          f"work/core ratio hi/lo = {work_ratio:.3f}; "
          f"control speedup {ctrl:.2f}x; normalized = {eff * (hi / lo) / ctrl:.3f}")
    stage = os.environ.get("SPARK_GRAFT_SCALING_STAGE", "classic")
    results["stage"] = stage
    suffix = "" if stage == "classic" else f"_{stage}"
    with open(
        os.path.join(REPO, "BENCH", f"scaling_results_weak{suffix}.json"), "w"
    ) as f:
        json.dump(results, f, indent=2)


def main() -> None:
    if MODE == "weak":
        main_weak()
        return
    prepare_data()
    # interleave legs and take the MIN time per level: the sandbox shares its
    # CPUs with the round driver's periodic jobs, so single measurements can
    # be 2x off; min-of-3 interleaved is robust to that noise
    results = {}
    times: dict[int, list[float]] = {c: [] for c in CORE_LEVELS}
    ctrl_runs: dict[int, list[dict]] = {c: [] for c in CORE_LEVELS}
    last = {}
    for rep in range(REPEATS):
        for cores in CORE_LEVELS:
            r = run_at(cores)
            times[cores].append(r["score_sec"])
            ctrl_runs[cores].append(r)
            last[cores] = r
            print(f"rep{rep} local[{cores}]: {r['n_pairs']} pairs in "
                  f"{r['score_sec']:.1f}s = {r['pairs_per_sec']:.0f} pairs/sec",
                  flush=True)
    for cores in CORE_LEVELS:
        best = min(times[cores])
        r = dict(last[cores], score_sec=best,
                 pairs_per_sec=last[cores]["n_pairs"] / best, all_times=times[cores])
        r["control_sec"] = min(x.get("control_sec", 1e9) for x in ctrl_runs[cores])
        results[f"local[{cores}]"] = r
        print(f"local[{cores}] best-of-{REPEATS}: {r['n_pairs']} pairs in "
              f"{best:.1f}s = {r['pairs_per_sec']:.0f} pairs/sec")
    lo, hi = CORE_LEVELS[0], CORE_LEVELS[-1]
    t_lo = results[f"local[{lo}]"]["score_sec"]
    t_hi = results[f"local[{hi}]"]["score_sec"]
    ratio = hi / lo
    eff = (t_lo / t_hi) / ratio
    results[f"scaling_efficiency_{lo}_to_{hi}"] = eff
    print(f"scaling efficiency (T{lo}/T{hi})/{ratio:.0f} = {eff:.3f}")
    c_lo = min(r["control_sec"] for r in [results[f"local[{lo}]"]] ) if "control_sec" in results[f"local[{lo}]"] else None
    if c_lo:
        ctrl_speedup = results[f"local[{lo}]"]["control_sec"] / results[f"local[{hi}]"]["control_sec"]
        pipe_speedup = t_lo / t_hi
        results["control_speedup"] = ctrl_speedup
        results["pipeline_speedup"] = pipe_speedup
        results["normalized_efficiency"] = pipe_speedup / ctrl_speedup
        print(f"control (pure-compute) speedup {lo}->{hi}: {ctrl_speedup:.2f}x; "
              f"pipeline speedup: {pipe_speedup:.2f}x; "
              f"normalized efficiency = {pipe_speedup / ctrl_speedup:.3f}")
    results["n_base"] = N_BASE
    stage = os.environ.get("SPARK_GRAFT_SCALING_STAGE", "classic")
    results["stage"] = stage
    suffix = "" if stage == "classic" else f"_{stage}"
    with open(
        os.path.join(REPO, "BENCH", f"scaling_results{suffix}.json"), "w"
    ) as f:
        json.dump(results, f, indent=2)


if __name__ == "__main__":
    main()
