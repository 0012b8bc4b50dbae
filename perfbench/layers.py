"""Per-layer metrics from the traced run (``--trace 1``).

After the untraced iterations, the same runner runs once more with the OCR
kernel wrapped (``tracing.traced_kernel_factory``), under its own Spark job
group. Layer metrics come from three places:

- worker spans around the kernel's layer calls (self and inclusive time,
  pages, lines);
- the iteration's Spark stages from the status API (OCR stage = the stages
  that ran the kernel's partitions; sink-writing stages);
- probe jobs the benchmark composes from a layer's public functions
  (scan, text normalization, committed-parts read).

Every metric is reported on every workload; a layer the workload never
calls reads 0.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics

from perfbench import tracing

PROBE_REPEATS = 3

# microseconds per unit of work of a worker span: (metric, span, unit)
US_PER_UNIT = (
    ("imaging.png.decode_us_per_page", "imaging.png.decode", "us/page"),
    ("operators.detect.binarize_us_per_page", "operators.detect.binarize", "us/page"),
    ("operators.detect.lines_us_per_page", "operators.detect.lines", "us/page"),
    ("operators.detect.crop_prep_us_per_line", "operators.detect.crop_prep", "us/line"),
    ("operators.detect.row_normalize_us_per_page", "operators.detect.row_normalize", "us/page"),
    ("operators.facade.detect_batch_us_per_page", "operators.facade.detect_batch", "us/page"),
    ("operators.db_forward.forward_us_per_page", "operators.db_forward.forward", "us/page"),
    ("operators.model.encode_us_per_line", "operators.model.encode", "us/line"),
    ("operators.model.ctc_greedy_us_per_line", "operators.model.ctc_greedy", "us/line"),
    ("operators.model.beam_us_per_line", "operators.model.beam", "us/line"),
)

# worker span names, in kernel order; each one's self time is reported
KERNEL_LAYERS = (
    "imaging.png.decode",
    "operators.detect.binarize",
    "operators.detect.lines",
    "operators.facade.detect_batch",
    "operators.db_forward.forward",
    "operators.detect.row_normalize",
    "operators.detect.crop_prep",
    "operators.model.decode_crops_memo",
    "operators.model.encode",
    "operators.model.ctc_greedy",
    "operators.model.beam",
    "pipeline.ocr_partition",
)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class LayerReport:
    def __init__(self, bench, runner, cold: float, setup: dict, plain: list[dict]):
        self.bench, self.runner = bench, runner
        self.cold, self.setup, self.plain = cold, setup, plain
        self.spark = bench.spark
        self.trace_dir = os.path.join(bench.work, "traces", bench.run_id)
        shutil.rmtree(self.trace_dir, ignore_errors=True)
        os.makedirs(self.trace_dir)
        self.status = tracing.SparkStatus(self.spark.sparkContext)
        self.spark_spans: list[dict] = []

    # -- traced iterations ---------------------------------------------------

    def _traced_iterations(self) -> list[dict]:
        from kiri_ocr_spark import pipeline

        original = pipeline._ocr_batches_trained

        def patch(group: str) -> None:
            pipeline._ocr_batches_trained = tracing.traced_kernel_factory(
                original, self.trace_dir, group
            )

        try:
            # one traced iteration: the untimed ones already warmed the JVM,
            # and the spans, not a median, carry the per-layer numbers
            samples = self.bench.iterate(
                self.runner, "traced", traced=patch, min_iterations=1, seconds=0
            )
        finally:
            pipeline._ocr_batches_trained = original
        for s in samples:
            self.spark_spans += self.status.group_spans(s["group"], s["span"]["id"])
        return samples

    # -- probe jobs ------------------------------------------------------------

    def _timed_job(self, name: str, action) -> tuple[float, int]:
        """Median wall of ``action`` over PROBE_REPEATS, and the task count
        of its stages (last repeat)."""
        sc = self.spark.sparkContext
        walls, spans = [], []
        for i in range(PROBE_REPEATS):
            group = f"{self.bench.run_id}-{name}{i}"
            sc.setJobGroup(group, group)
            with self.bench.rec.span(name) as s:
                action()
            walls.append((s["end"] - s["start"]) / 1e9)
            spans = self.status.group_spans(group, s["id"])
            self.spark_spans += spans
        tasks = sum(sp["units"] for sp in spans if sp["name"] == "spark.stage")
        return _median(walls), tasks

    def _probes(self) -> dict:
        from pyspark.sql import functions as F

        from kiri_ocr_spark.functions.text import normalize_text

        docs_paths = self.bench.inputs.paths("docs")

        def spans():
            return self.spark.read.parquet(*docs_paths).select(
                "doc_id", F.explode("spans").alias("s")
            )

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        scan_s, scan_tasks = self._timed_job(
            "probe.scan", lambda: noop(spans().select("doc_id", "s.text"))
        )
        text = spans().filter(F.col("s.kind") == "text")
        ident_s, _ = self._timed_job(
            "probe.text_identity",
            lambda: noop(text.select("doc_id", F.col("s.text").alias("t"))),
        )
        norm_s, _ = self._timed_job(
            "probe.text_normalize",
            lambda: noop(text.select("doc_id", normalize_text(F.col("s.text")).alias("t"))),
        )
        out = {"scan_s": scan_s, "scan_tasks": scan_tasks,
               "normalize_s": max(norm_s - ident_s, 0.0), "committed_read_s": 0.0}
        if self.bench.wl.resume:
            from kiri_ocr_spark.operators.checkpoint import committed_parts

            from perfbench.workloads import RESUME_RUN_ID

            self.runner.prepare()
            out["committed_read_s"], _ = self._timed_job(
                "probe.committed_read",
                lambda: committed_parts(self.spark, self.runner.ckpt, RESUME_RUN_ID).count(),
            )
        return out

    # -- report ------------------------------------------------------------------

    def metrics(self) -> dict:
        traced = self._traced_iterations()
        probes = self._probes()
        traced_groups = {s["group"] for s in traced}
        worker = tracing.read_worker_spans(self.trace_dir)
        self._write_trace(worker)

        k = len(traced)
        tot = tracing.totals(worker)
        selfs = tracing.self_times(worker)

        def units(name):
            return tot.get(name, (0.0, 0))[1]

        def us_per(name):
            return tot[name][0] * 1e6 / units(name) if units(name) else 0.0

        parts = [s for s in worker if s["name"] == "pipeline.ocr_partition"]
        kernel_busy = sum(s["kernel_us"] for s in parts) / 1e6
        # OCR stages: the stages during which a kernel partition of the same
        # iteration was running
        ocr_stages = [
            st for st in self.spark_spans if st["name"] == "spark.stage" and any(
                p["run_id"] == st["run_id"]
                and st["start"] <= (p["start"] + p["end"]) // 2 <= st["end"]
                for p in parts
            )
        ]
        stages = [st for st in self.spark_spans
                  if st["name"] == "spark.stage" and st["run_id"] in traced_groups]
        writes = [st for st in stages if st["outputBytes"] > 0]
        assembly = [st for st in writes if st["shuffleReadBytes"] > 0]

        def wall(sts):
            return sum((st["end"] - st["start"]) / 1e9 for st in sts)

        extracted = sum(s["extracted"] for s in traced)
        ocr_run_s = sum(st["executorRunTime"] for st in ocr_stages) / 1000
        skew = []
        for g in traced_groups:
            d = [p["end"] - p["start"] for p in parts if p["run_id"] == g and p["units"]]
            if d:
                skew.append(max(d) / statistics.median(d))
        part_total = sum((p["end"] - p["start"]) / 1e9 for p in parts)
        named = sum(v for n, v in selfs.items() if n != "pipeline.ocr_partition")
        detect_bytes = [s.get("bytes", 0) for s in worker
                        if s["name"] == "operators.facade.detect_batch"]
        # against the untraced iteration just before it: both run warm
        plain_dps = self.plain[-1]["extracted"] / self.plain[-1]["wall"]
        traced_dps = _median([s["extracted"] / s["wall"] for s in traced])
        resume = self.bench.wl.resume

        m = {
            "session.start_s": (self.cold, "s"),
            "operators.model.load_s": (self.setup["load_s"], "s"),
            "pipeline.scan_stage_s": (probes["scan_s"], "s"),
            "pipeline.scan_tasks": (probes["scan_tasks"], "count"),
            "functions.text.normalize_s": (probes["normalize_s"], "s"),
            "pipeline.assembly_stage_s": (wall(assembly) / k, "s"),
            "pipeline.shuffle_write_bytes_per_doc": (
                sum(st["shuffleWriteBytes"] for st in stages) / max(extracted, 1), "B/doc"),
            "pipeline.ocr_stage_s": (wall(ocr_stages) / k, "s"),
            "pipeline.ocr_task_max_over_median": (_median(skew), "ratio"),
            "pipeline.kernel_busy_s": (kernel_busy / k, "s"),
            "pipeline.udf_boundary_share": (
                1 - kernel_busy / ocr_run_s if ocr_run_s else 0.0, "share"),
            "pipeline.quarantined_rows": (sum(p["quarantined"] for p in parts) / k, "count"),
            "operators.facade.resident_pages_peak_mb": (
                max(detect_bytes, default=0) / 2**20, "MB"),
            "operators.model.memo_hit_share": (
                1 - units("operators.model.encode") / units("operators.model.decode_crops_memo")
                if units("operators.model.decode_crops_memo") else 0.0, "share"),
            "operators.checkpoint.committed_read_s": (probes["committed_read_s"], "s"),
            "operators.checkpoint.commit_stage_s": (wall(writes) / k if resume else 0.0, "s"),
            "operators.checkpoint.parts_processed": (
                _median([s["parts_processed"] for s in traced]) if resume else 0, "count"),
            "operators.checkpoint.parts_recomputed": (
                max(s["recomputed"] for s in traced) if resume else 0, "count"),
            "operators.checkpoint.out_bytes_per_doc": (
                sum(st["outputBytes"] for st in assembly) / max(extracted, 1) if resume
                else 0.0, "B/doc"),
            "trace.overhead_share": (1 - traced_dps / plain_dps if plain_dps else 0.0, "share"),
            "trace.ocr_attributed_share": (named / part_total if part_total else 0.0, "share"),
        }
        for metric, span, unit in US_PER_UNIT:
            m[metric] = (us_per(span), unit)
        for name in KERNEL_LAYERS:
            m[f"trace.self_s.{name}"] = (selfs.get(name, 0.0) / k, "s")
        return {n: {"value": v, "unit": u} for n, (v, u) in m.items()}

    def _write_trace(self, worker: list[dict]) -> None:
        path = os.path.join(self.trace_dir, "trace.json")
        with open(path, "w") as f:
            json.dump({"run_id": self.bench.run_id,
                       "spans": self.bench.rec.spans + self.spark_spans + worker}, f)
