#!/usr/bin/env python3
"""Benchmark of the kiri_ocr_spark extraction engine.

    python3 perfbench/run.py --workload ocr_accurate --seed 1 --seconds 10 --trace 0

Run from the repository root. One invocation:

1. starts the Spark session on ``local[nproc]`` (timed: session start);
2. set-up round 1: loads the model and runs one untimed warm-up pass on a
   small seed-independent input;
3. generates the workload's inputs from ``--seed`` (once per seed; cached
   under ``.perfbench_work/``, reported on stderr, not a metric);
4. set-up rounds 2 and 3, each after restarting the Spark context, and
   reports ``setup_s`` = session start + the median of the three rounds;
5. runs timed iterations of the workload's entry point for ``--seconds``
   seconds (at least two; metrics are medians) and checks every
   iteration's sink output against the DuckDB construction oracle;
6. with ``--trace 1``, then runs one traced iteration and probe jobs and
   reports per-layer metrics instead of the end-to-end ones.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

SETUP_ROUNDS = 3
# two keep a run of either kept workload near a minute, inside the time
# budget of BENCHMARK.json (README, "Bounds and steadiness")
MIN_ITERATIONS = 2
WORK_DIR = ".perfbench_work"


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _confine(work: str) -> None:
    """Keep every file Spark, the JVM and the workers write under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + " " + java_opts
    ).strip()
    # the session factory sizes local[N] and its shuffle partitions from this
    os.environ["SPARK_GRAFT_CPUS"] = str(_nproc())


def _forget_udf_bindings() -> None:
    """Module-level pandas UDFs (``functions.text.nfc_udf``) cache their JVM
    function, which points at the accumulator server of the context that
    first used them; drop that binding after a context restart."""
    for name, module in list(sys.modules.items()):
        if name.startswith("kiri_ocr_spark"):
            for obj in vars(module).values():
                udf = getattr(obj, "_unwrapped", None)
                if udf is not None and hasattr(udf, "_judf_placeholder"):
                    udf._judf_placeholder = None


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Bench:
    def __init__(self, args, root: str):
        from perfbench.tracing import Recorder
        from perfbench.workloads import WORKLOADS

        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.work = os.path.join(root, WORK_DIR)
        self.run_id = f"{self.wl.name}-s{args.seed}-p{os.getpid()}"
        self.rec = Recorder(self.run_id)
        self.spark = None
        self.attempted = 0
        self.failed = 0  # documents that differ from the oracle
        self.structural = 0  # ... other than by recognition misses
        self.broken = False  # a commit-protocol check failed

    # -- session ---------------------------------------------------------

    def start(self) -> float:
        from kiri_ocr_spark.session import get_spark

        with self.rec.span("session.start") as s:
            self.spark = get_spark(app_name="perfbench", ui=bool(self.args.trace))
        self.spark.sparkContext.setLogLevel("ERROR")
        return (s["end"] - s["start"]) / 1e9

    def restart(self) -> None:
        from kiri_ocr_spark.session import get_spark

        self.spark.stop()
        self.spark = get_spark(app_name="perfbench", ui=bool(self.args.trace))
        self.spark.sparkContext.setLogLevel("ERROR")
        _forget_udf_bindings()

    def shutdown(self) -> None:
        """Stop Spark and wait for the JVM (and with it every worker)."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    @property
    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    # -- setup -----------------------------------------------------------

    def setup_round(self, warm_inputs) -> tuple[float, float]:
        """Model load + one warm-up pass; returns (load_s, round_s)."""
        from perfbench.workloads import Runner

        load = 0.0
        if self.wl.has_media:
            from kiri_ocr_spark.operators.model import load_model
            from kiri_ocr_spark.queries import trained_model_path

            with self.rec.span("operators.model.load") as s:
                load_model(trained_model_path())
            load = (s["end"] - s["start"]) / 1e9
        warm = Runner(self.spark, self.wl, warm_inputs, self.iter_dir, warm=True)
        warm.prepare()
        with self.rec.span("setup.warmup") as s:
            warm.run()
        return load, load + (s["end"] - s["start"]) / 1e9

    # -- timed iterations ------------------------------------------------

    def iterate(self, runner, label: str, traced=None, min_iterations=MIN_ITERATIONS,
                seconds=None) -> list[dict]:
        """Timed iterations for ``seconds`` (default ``--seconds``) and at
        least ``min_iterations``. Each iteration's sink is checked against
        the oracle, untimed. ``traced(group)`` runs before each iteration."""
        from perfbench import oracle
        from perfbench.procstat import cpu_seconds, python_rss_peak_mb
        from perfbench.workloads import committed_parts_on_disk

        sc = self.spark.sparkContext
        seconds = self.args.seconds if seconds is None else seconds
        samples = []
        t_loop = time.monotonic()
        while len(samples) < min_iterations or time.monotonic() - t_loop < seconds:
            group = f"{self.run_id}-{label}{len(samples)}"
            if traced is not None:
                traced(group)
            runner.prepare()
            sc.setJobGroup(group, group)
            cpu0 = cpu_seconds(self.jvm_pid)
            chk = None
            with self.rec.span(f"iteration.{label}") as span:
                span["group"] = group
                try:
                    runner.run()
                except Exception:  # a failed job fails all its documents
                    traceback.print_exc()
                    span["failed"] = True
            cpu = cpu_seconds(self.jvm_pid) - cpu0
            rss = python_rss_peak_mb(self.jvm_pid)
            if not span.get("failed"):
                chk = oracle.check(
                    self.inputs.expected(), runner.sink, resume=runner.resume,
                    committed_before=runner.committed_before,
                    committed_after=committed_parts_on_disk(runner.sink), ckpt=runner.ckpt,
                )
            self._account(runner, chk)
            samples.append({
                "wall": (span["end"] - span["start"]) / 1e9, "cpu": cpu, "rss_mb": rss,
                "span": span, "group": group,
                "extracted": chk.extracted if chk else 0,
                "recomputed": chk.recomputed if chk else 0,
                "parts_processed": runner.parts_processed,
            })
        return samples

    def _account(self, runner, chk) -> None:
        """Add one iteration's documents to the run's counts; ``chk`` is
        None when the job failed."""
        if chk is None:
            attempted = failed = structural = self._input_docs()
        else:
            attempted, failed, structural = chk.attempted, chk.failed, chk.structural
            if chk.recognizer_broken:
                structural = failed
            if runner.resume and (
                chk.recomputed or not chk.lineage_ok
                or chk.new_parts != runner.parts_processed
            ):  # a broken commit protocol fails the whole job
                self.broken = True
                failed = structural = attempted
        self.attempted += attempted
        self.failed += failed
        self.structural += structural

    def _input_docs(self) -> int:
        import duckdb

        expected = self.inputs.expected()
        return duckdb.sql(f"SELECT count(*) FROM read_parquet({expected})").fetchone()[0]

    # -- main ------------------------------------------------------------

    def run(self) -> dict:
        from perfbench.procstat import host_ticks
        from perfbench.workloads import WARM_SEED, Runner, materialize

        steal0, total0 = host_ticks()
        data = os.path.join(self.work, "data")
        self.iter_dir = os.path.join(self.work, "runs", self.run_id)
        t0 = time.monotonic()
        phases = {}  # seconds since start at the end of each phase, for tuning

        def mark(phase):
            phases[phase] = round(time.monotonic() - t0, 3)

        cold = self.start()
        # round 1 runs in the fresh session; the seed's inputs are generated
        # between it and the restarted rounds, outside every timed region
        warm_inputs, _ = materialize(self.spark, self.wl, WARM_SEED, data, warm=True)
        rounds = [self.setup_round(warm_inputs)]
        mark("setup_round_1")
        self.inputs, gen_s = materialize(self.spark, self.wl, self.args.seed, data)
        mark("generate")
        for _ in range(SETUP_ROUNDS - 1):
            self.restart()
            rounds.append(self.setup_round(warm_inputs))
        mark("setup_rounds")
        setup = {"rounds": [r for _, r in rounds], "load_s": _median([ld for ld, _ in rounds])}
        runner = Runner(self.spark, self.wl, self.inputs, self.iter_dir)
        plain = self.iterate(runner, "plain")
        mark("iterations")
        info = {"workload": self.wl.name, "seed": self.args.seed, "gen_s": round(gen_s, 3),
                "session_start_s": cold, "setup_rounds_s": setup["rounds"],
                "iterations_s": [round(s["wall"], 3) for s in plain],
                "recognition_misses": self.failed - self.structural, "phases_s": phases}
        steal1, total1 = host_ticks()
        info["host_steal_share"] = round((steal1 - steal0) / max(total1 - total0, 1), 4)
        if not self.args.trace:
            metrics = self.end_to_end(cold, setup, plain)
        else:
            from perfbench.layers import LayerReport

            metrics = LayerReport(self, runner, cold, setup, plain).metrics()
        print(json.dumps({"info": info}), file=sys.stderr)
        shutil.rmtree(self.iter_dir, ignore_errors=True)
        return {
            # failures other than recognition misses mean the dataflow is wrong
            "correct": self.structural == 0 and not self.broken,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }

    def end_to_end(self, cold: float, setup: dict, samples: list[dict]) -> dict:
        dps = [s["extracted"] / s["wall"] for s in samples]
        cpu = [1000 * s["cpu"] / max(s["extracted"], 1) for s in samples]
        return {
            "docs_per_s": {"value": _median(dps), "unit": "1/s"},
            "setup_s": {"value": cold + _median(setup["rounds"]), "unit": "s"},
            "doc_ok_share": {
                "value": 1 - self.failed / max(self.attempted, 1), "unit": "share"
            },
            "worker_rss_peak_mb": {"value": max(s["rss_mb"] for s in samples), "unit": "MB"},
            "cpu_ms_per_doc": {"value": _median(cpu), "unit": "ms"},
        }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "kiri_ocr_spark")):
        print("perfbench: kiri_ocr_spark/ not found; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    _confine(os.path.join(root, WORK_DIR))
    bench = Bench(args, root)
    try:
        result = bench.run()
    finally:
        bench.shutdown()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
