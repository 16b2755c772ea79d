#!/usr/bin/env python3
"""spark-er benchmark: batch ER, corpus dedup and streaming ingest.

Run from the repository root:

    python3 erbench/run.py --workload er_batch --seed 1 --seconds 5 --trace 0

Each run starts one JVM, generates its inputs from ``--seed``, runs the
workload's operation through the program's own entry point in whole rounds
until ``--seconds`` have passed (one round is longer than that at the sizes
in ``gen.py``, so a run is one round on a fresh JVM), checks every round's
outputs with ``checks.py`` and prints one JSON line as the last line of
standard output.  ``--trace 1`` adds a traced pass in a second fresh JVM
(``traced.py``) and prints the per-layer metrics instead of the end-to-end
ones.  See README.md.
"""

from __future__ import annotations

import sparkenv

T_START = sparkenv.process_start()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import time  # noqa: E402
import traceback  # noqa: E402

import checks  # noqa: E402
import gen  # noqa: E402
import sparklog  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
PKG = sparkenv.PACKAGE
THRESHOLD = 0.7        # the CLI's default --threshold
STREAM_TIMEOUT_S = 150  # a drain that takes longer fails the round
RUN_LIMIT_S = 175      # a traced child is killed past this run age


def _pkg(module: str):
    return importlib.import_module(f"{PKG}.{module}")


def _spark():
    return _pkg("session").get_spark(app_name="er-pipeline", master=sparkenv.master())


def _cli(argv: list[str]) -> None:
    _pkg("cli").main(argv + ["--master", sparkenv.master()])


class Workload:
    def ledger(self, inp, out: str) -> dict:
        """Per-layer entries computed from an untraced round's output."""
        return {}


class ErBatch(Workload):
    def setup(self, work, seed):
        return gen.make_er_batch(os.path.join(work, "input"), seed)

    def records(self, inp):
        return inp.n_turns

    def operate(self, inp, out):
        _cli(["--input", inp.path, "--output", out])

    def check(self, inp, out):
        clusters, matches = checks.load_er(out)
        return checks.check_er(inp.membership, clusters, matches, THRESHOLD)

    def ledger(self, inp, out):
        clusters, _ = checks.load_er(out)
        f1 = checks.pairwise_prf(dict(clusters), inp.membership)[2]
        return {"resolve.pairwise_f1": _metric(f1, "ratio")}


class DedupCorpus(Workload):
    def setup(self, work, seed):
        return gen.make_dedup_corpus(os.path.join(work, "input"), seed)

    def records(self, inp):
        return inp.n_docs

    def operate(self, inp, out):
        _cli(["--dedup", "--dedup-passes", "exact,minhash", "--input", inp.path, "--output", out])

    def check(self, inp, out):
        return checks.check_dedup(inp.texts, *checks.load_dedup(out))


class StreamIngest(Workload):
    def setup(self, work, seed):
        return gen.make_stream_backlog(os.path.join(work, "input"), seed)

    def records(self, inp):
        return inp.n_turns

    def operate(self, inp, out):
        ingest = _pkg("streaming.ingest")
        store = _pkg("sources.tables").TableStore(_spark(), out)
        q = ingest.start_ingest(
            ingest.read_transcript_stream(store.spark, inp.dir, max_files_per_trigger=1),
            store,
            os.path.join(out, "_stream_ckpt"),
        )
        if not q.awaitTermination(STREAM_TIMEOUT_S):
            q.stop()
            raise RuntimeError(f"stream drain did not finish in {STREAM_TIMEOUT_S}s")
        if q.exception() is not None:
            raise RuntimeError(f"stream query failed: {q.exception()}")
        batches = [p for p in q.recentProgress if p.numInputRows > 0]
        if len(batches) != len(inp.files):
            raise RuntimeError(f"{len(batches)} micro-batches for {len(inp.files)} files")

    def check(self, inp, out):
        expected, live = checks.load_stream(out, inp.dir)
        turns = _spark().read.schema(_pkg("streaming.ingest").TRANSCRIPT_DDL).json(inp.dir)
        batch = _pkg("operators.assemble").assemble_documents(turns).select("conv_id", "doc_text")
        return checks.check_stream(expected, live, {r[0]: r[1] for r in batch.collect()})


WORKLOADS = {"er_batch": ErBatch(), "dedup_corpus": DedupCorpus(), "stream_ingest": StreamIngest()}


def _check(wl, inp, out: str) -> list[str]:
    """The workload's check failures; outputs that cannot be read fail too."""
    try:
        return wl.check(inp, out)
    except Exception as exc:  # noqa: BLE001 - reported as a failed check
        traceback.print_exc()
        return [f"{out}: outputs could not be checked: {exc!r}"]


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def _traced(args, work: str, inp, run_s: float) -> dict:
    """Per-layer metrics from ``traced.py`` in a fresh JVM, plus the
    closure against this run's untraced ``run_s``."""
    budget = RUN_LIMIT_S - (time.time() - T_START)
    path = inp.dir if args.workload == "stream_ingest" else inp.path
    # own process group, so a timeout also ends the child's JVM
    child = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "traced.py"), "--workload", args.workload,
         "--input", path, "--work", os.path.join(work, "traced")],
        stdout=subprocess.PIPE, text=True, start_new_session=True,
    )
    try:
        stdout, _ = child.communicate(timeout=max(1.0, budget))
    except subprocess.TimeoutExpired:
        os.killpg(child.pid, signal.SIGKILL)
        child.communicate()
        raise
    if child.returncode != 0:
        raise RuntimeError(f"traced.py exited with {child.returncode}")
    layers = json.loads(stdout.strip().splitlines()[-1])
    summed = layers["closure.layer_wall_s"]["value"]
    layers["closure.run_s"] = _metric(run_s, "s")
    layers["closure.residual_s"] = _metric(run_s - summed, "s")
    layers["closure.residual_share"] = _metric((run_s - summed) / run_s, "ratio")
    return layers


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]

    work = os.path.join(sparkenv.ROOT, ".erbench", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    events = os.path.join(work, "events")
    sparkenv.configure(work, events)
    try:
        _pkg("cli")
    except ImportError as exc:
        print(f"erbench: cannot import {PKG}: {exc}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2

    # --- set-up: session start, input generation and writing --------------
    _spark()
    inp = wl.setup(work, args.seed)
    setup_s = time.time() - T_START

    # --- measured rounds ---------------------------------------------------
    windows, outs, attempted, failed = [], [], 0, 0
    began = time.time()
    while attempted == 0 or time.time() - began < args.seconds:
        out = os.path.join(work, f"out{attempted}")
        attempted += 1
        t0 = time.time()
        try:
            wl.operate(inp, out)
        except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
            traceback.print_exc()
            failed += 1
            continue
        windows.append((t0, time.time()))
        outs.append(out)
    if not outs:
        print("erbench: every round failed", file=sys.stderr)
        return 1
    fails = [f for out in outs for f in _check(wl, inp, out)]
    for f in fails:
        print(f"erbench: CHECK FAILED: {f}", file=sys.stderr)
    sparkenv.stop_jvm()

    tasks = sparklog.read_tasks(events)
    run_s = statistics.median(b - a for a, b in windows)
    shuffle = statistics.median(sparklog.totals_in(tasks, [w]).shuffle_bytes for w in windows)
    if args.trace:
        metrics = _traced(args, work, inp, run_s)
        metrics.update(wl.ledger(inp, outs[0]))
    else:
        metrics = {
            "setup_s": _metric(setup_s, "s"),
            "run_s": _metric(run_s, "s"),
            "records_per_s": _metric(wl.records(inp) / run_s, "records/s"),
            "shuffle_bytes": _metric(shuffle, "bytes"),
        }
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": not fails, "attempted": attempted, "failed": failed, "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
