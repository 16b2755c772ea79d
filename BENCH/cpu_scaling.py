#!/usr/bin/env python
"""Control experiment: pure-compute (no-shuffle) scaling on this box.

Separates "the engine's plans don't scale" from "the sandbox's CPU topology
caps multi-thread throughput".  Two map-only legs, zero shuffle, zero skew,
zero Python:

- ``compute``: a 16-deep xxhash64 chain over ``spark.range`` — allocation-free
  long->long arithmetic inside whole-stage codegen.  This is the honest
  environment ceiling: whatever speedup THIS leg gets from lo->hi threads is
  the most any dataflow can get.
- ``alloc``: sha2 over a casted string (the historical control) — each row
  allocates UTF8Strings, so it additionally measures allocation/GC bandwidth,
  which is SHARED across threads and saturates far below the compute ceiling.

Round-6 finding (quiet window, load < 0.1): the ``compute`` leg scales
3.0x from 8->32 threads across interleaved reps (0.76 of the 4x thread
ratio — the SMT ceiling: the 32 visible vCPUs are hyperthread siblings, a
pure-Python multiprocessing burn measures ~22 effective cores), while the
``alloc`` leg saturates at ~16M rows/s at BOTH 8 and 32 threads (allocation
bandwidth, not CPU).  Earlier captures of this file at n=40M (4s of work)
reported 0.18-0.34 "efficiency" — that was JVM fixed cost (~3s of job
scheduling + codegen JIT) masquerading as a scaling ceiling, plus the
allocation-bound leg.  The work sizes below keep every leg >= ~15s at the
widest level so fixed costs stay <5%.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

COMPUTE_ROWS = int(os.environ.get("SPARK_GRAFT_CPU_SCALING_ROWS", "4000000000"))
ALLOC_ROWS = int(os.environ.get("SPARK_GRAFT_CPU_SCALING_ALLOC_ROWS", "240000000"))
REPS = int(os.environ.get("SPARK_GRAFT_CPU_SCALING_REPS", "2"))
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
# N and 4N threads, 4N = the host's CPUs (8,32 on the 32-vCPU box above)
LEVELS = tuple(
    int(c)
    for c in os.environ.get(
        "SPARK_GRAFT_CPU_SCALING_CORES", f"{max(1, CPUS // 4)},{CPUS}"
    ).split(",")
)

RUNNER = r"""
import json, sys, time
sys.path.insert(0, "@REPO@")
cores = int(sys.argv[1]); leg = sys.argv[2]; n = int(sys.argv[3])
from lab02_citation_matching_and_entity_resolution_spark.session import get_spark
spark = get_spark(app_name=f"cpu-scale-{leg}-{cores}", master=f"local[{cores}]",
                  shuffle_partitions=cores * 4)
spark.sparkContext.setLogLevel("ERROR")
df = spark.range(0, n, numPartitions=cores * 4)
if leg == "compute":
    inner = "id"
    for _ in range(16):
        inner = f"xxhash64({inner})"
    q = lambda d: d.selectExpr(f"bit_xor({inner}) AS s").collect()
else:
    q = lambda d: d.selectExpr(
        "sum(length(sha2(cast(id as string), 256))) AS s").collect()
q(df.limit(1000))  # codegen JIT warm-up outside the timer
t0 = time.time()
q(df)
dt = time.time() - t0
print(json.dumps({"cores": cores, "leg": leg, "rows": n, "sec": dt,
                  "rows_per_sec": n / dt}))
spark.stop()
"""


def run_at(cores: int, leg: str, rows: int) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", RUNNER.replace("@REPO@", REPO),
         str(cores), leg, str(rows)],
        capture_output=True, text=True, timeout=1800,
    )
    lines = [l for l in out.stdout.strip().splitlines() if l.startswith("{")]
    if out.returncode != 0 or not lines:
        # keep the diagnostic: an OOM/crash at the 4B-row default otherwise
        # surfaces as a bare IndexError with stderr discarded (round-7 ADVICE)
        raise RuntimeError(
            f"runner local[{cores}] leg={leg} rows={rows} failed "
            f"(rc={out.returncode}); stderr tail:\n"
            + "\n".join(out.stderr.strip().splitlines()[-15:])
        )
    return json.loads(lines[-1])


def main() -> None:
    results: dict = {"levels": list(LEVELS), "reps": REPS}
    lo, hi = LEVELS[0], LEVELS[-1]
    for leg, rows in (("compute", COMPUTE_ROWS), ("alloc", ALLOC_ROWS)):
        times: dict[int, list[float]] = {c: [] for c in LEVELS}
        # interleave lo/hi reps so a load burst hits both levels, not one
        for _ in range(REPS):
            for cores in LEVELS:
                r = run_at(cores, leg, rows)
                times[cores].append(r["sec"])
                print(f"{leg} local[{cores}]: {rows} rows in {r['sec']:.1f}s = "
                      f"{rows / r['sec']:.0f} rows/sec", flush=True)
        leg_res = {}
        for cores in LEVELS:
            best = min(times[cores])
            leg_res[f"local[{cores}]"] = {
                "cores": cores, "rows": rows, "sec": best,
                "rows_per_sec": rows / best, "all_times": times[cores],
            }
        speedup = leg_res[f"local[{lo}]"]["sec"] / leg_res[f"local[{hi}]"]["sec"]
        leg_res["speedup"] = speedup
        leg_res[f"thread_efficiency_{lo}_to_{hi}"] = speedup / (hi / lo)
        results[leg] = leg_res
        print(f"{leg}: {lo}->{hi} speedup {speedup:.2f}x "
              f"(thread efficiency {speedup / (hi / lo):.3f})")
    # headline: the compute leg IS the environment ceiling
    results["cpu_scaling_efficiency_%d_to_%d" % (lo, hi)] = (
        results["compute"][f"thread_efficiency_{lo}_to_{hi}"]
    )
    with open(os.path.join(REPO, "BENCH", "cpu_scaling_results.json"), "w") as f:
        json.dump(results, f, indent=2)


if __name__ == "__main__":
    main()
