"""Spans for the traced benchmark run.

A span is ``(id, name, start_ns, end_ns, parent, run_id, units)``: ``units``
counts the work the call did (pages, lines, rows). Spans are kept in memory
and written out when their run ends.

Three sources feed one trace:

- the benchmark process records spans around each call it makes into the package
  (session start, model load, warm-up, each timed iteration, probe jobs);
- inside the Python workers, the OCR kernel and the layer functions it
  calls are wrapped from this module (``install_worker_hooks``); nothing in
  ``kiri_ocr_spark`` is edited. Each worker appends its spans to a file in
  the trace directory when its partition ends;
- Spark's jobs and stages come from the status REST API, filtered by the
  job group the benchmark set for the iteration.

Wall-clock nanoseconds (``time.time_ns``) are used everywhere, so spans
from the benchmark process, the workers and Spark line up on one axis.
"""

from __future__ import annotations

import functools
import json
import os
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime


class Recorder:
    """In-memory spans of one process."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._open: list[str] = []
        self._next = 0
        self._pid = os.getpid()

    @contextmanager
    def span(self, name: str, units: int = 0):
        sid = f"{self._pid}:{self._next}"
        self._next += 1
        rec = {
            "id": sid,
            "name": name,
            "start": time.time_ns(),
            "end": None,
            "parent": self._open[-1] if self._open else None,
            "run_id": self.run_id,
            "units": units,
        }
        self.spans.append(rec)
        self._open.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time_ns()
            self._open.pop()

    def flush(self, path: str) -> None:
        with open(path, "a") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
        self.spans = []


# -- worker side -------------------------------------------------------------

# (module, attribute, span name, units of work per call from the args)
_HOOKS = (
    ("kiri_ocr_spark.imaging.png", "decode_gray", "imaging.png.decode", lambda a: 1),
    ("kiri_ocr_spark.operators.detect", "orient_and_binarize",
     "operators.detect.binarize", lambda a: 1),
    ("kiri_ocr_spark.operators.detect", "detect_lines",
     "operators.detect.lines", lambda a: 1),
    ("kiri_ocr_spark.operators.detect", "pad_training_margins",
     "operators.detect.crop_prep", lambda a: 0),
    ("kiri_ocr_spark.operators.detect", "resize_keep_ratio_pad",
     "operators.detect.crop_prep", lambda a: 1),
    ("kiri_ocr_spark.operators.detect", "merge_boxes_into_rows",
     "operators.detect.row_normalize", lambda a: 1),
    ("kiri_ocr_spark.operators.detect", "split_box_at_blank_rows",
     "operators.detect.row_normalize", lambda a: 0),
    ("kiri_ocr_spark.operators.facade", "TextDetector.detect_boxes_batch",
     "operators.facade.detect_batch", lambda a: len(a[1])),
    ("kiri_ocr_spark.operators.db_forward", "db_prob_map_batch",
     "operators.db_forward.forward", lambda a: len(a[0])),
    ("kiri_ocr_spark.operators.model", "decode_crops_memo",
     "operators.model.decode_crops_memo", lambda a: len(a[1])),
    ("kiri_ocr_spark.operators.model", "NumpyKiriModel.encode",
     "operators.model.encode", lambda a: len(a[1])),
    ("kiri_ocr_spark.operators.model", "NumpyKiriModel.ctc_greedy",
     "operators.model.ctc_greedy", lambda a: len(a[1])),
    ("kiri_ocr_spark.operators.model", "NumpyKiriModel.beam_decode_batch",
     "operators.model.beam", lambda a: len(a[1])),
)

_WORKER: dict = {}


def _wrap(fn, name: str, units, resident: bool):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with _WORKER["rec"].span(name, units(args)) as s:
            if resident:  # gray pages held by one batched detect call
                s["bytes"] = sum(int(g.nbytes) for g in args[1])
            return fn(*args, **kwargs)

    return traced


def install_worker_hooks(run_id: str) -> Recorder:
    """Wrap the layer functions in this worker once; later calls only
    switch the recorder to the new run id."""
    import importlib

    if "rec" not in _WORKER:
        for module, attr, name, units in _HOOKS:
            owner = importlib.import_module(module)
            *path, leaf = attr.split(".")
            for part in path:
                owner = getattr(owner, part)
            setattr(owner, leaf, _wrap(getattr(owner, leaf), name, units,
                                       name == "operators.facade.detect_batch"))
        _WORKER["rec"] = Recorder(run_id)
    _WORKER["rec"].run_id = run_id
    return _WORKER["rec"]


def traced_kernel_factory(factory, trace_dir: str, run_id: str):
    """Wrap an OCR kernel factory (``pipeline._ocr_batches_trained``) so
    that each partition it runs is one span whose children are the layer
    calls, and carries the rows, ``kernel_us`` and quarantined rows the
    kernel emitted."""

    def traced_factory(*args, **kwargs):
        inner = factory(*args, **kwargs)

        def kernel(batches):
            rec = install_worker_hooks(run_id)
            try:
                with rec.span("pipeline.ocr_partition") as s:
                    s["kernel_us"] = s["quarantined"] = 0
                    for pdf in inner(batches):
                        s["units"] += len(pdf)
                        s["kernel_us"] += int(pdf["kernel_us"].sum())
                        s["quarantined"] += int((pdf["n_lines"] == -1).sum())
                        yield pdf
            finally:
                rec.flush(os.path.join(trace_dir, f"worker-{os.getpid()}.jsonl"))

        return kernel

    return traced_factory


def read_worker_spans(trace_dir: str) -> list[dict]:
    spans = []
    for name in sorted(os.listdir(trace_dir)):
        if name.startswith("worker-"):
            with open(os.path.join(trace_dir, name)) as f:
                spans.extend(json.loads(line) for line in f)
    return spans


# -- Spark status API ----------------------------------------------------------


def _ns(stamp: str | None) -> int | None:
    if not stamp:
        return None
    # the REST API stamps UTC as e.g. 2026-01-02T03:04:05.678GMT
    parsed = datetime.strptime(stamp.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z")
    return int(parsed.timestamp() * 1e9)


class SparkStatus:
    """Jobs and stages of one job group, from the UI's REST API."""

    def __init__(self, sc):
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=10) as r:
            return json.load(r)

    def group_spans(self, group: str, parent: str) -> list[dict]:
        """Job and completed-stage spans of ``group``; waits (bounded) for
        the listener to record the group's last events."""
        deadline = time.monotonic() + 10
        while True:
            jobs = [j for j in self._get("jobs") if j.get("jobGroup") == group]
            if all(j["status"] != "RUNNING" for j in jobs) or time.monotonic() > deadline:
                break
            time.sleep(0.1)
        spans = []
        for job in jobs:
            jid = f"job:{job['jobId']}"
            spans.append({
                "id": jid, "name": "spark.job", "parent": parent, "run_id": group,
                "start": _ns(job.get("submissionTime")),
                "end": _ns(job.get("completionTime")), "units": 0,
            })
            for sid in job["stageIds"]:
                for st in self._get(f"stages/{sid}"):
                    if st["status"] != "COMPLETE":
                        continue
                    spans.append({
                        "id": f"stage:{sid}.{st['attemptId']}", "name": "spark.stage",
                        "parent": jid, "run_id": group,
                        "start": _ns(st.get("submissionTime")),
                        "end": _ns(st.get("completionTime")),
                        "units": st["numTasks"],
                        **{k: st[k] for k in (
                            "executorRunTime", "shuffleWriteBytes", "shuffleReadBytes",
                            "outputBytes", "inputBytes")},
                    })
        return [s for s in spans if s["start"] and s["end"]]


# -- analysis ------------------------------------------------------------------


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds per span name of duration minus the part of the interval
    its children cover (children of one parent may overlap)."""
    kids: dict[str, list[tuple[int, int]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        covered, reach = 0, s["start"]
        for a, b in sorted(kids.get(s["id"], ())):
            a, b = max(a, reach), min(b, s["end"])
            if b > a:
                covered += b - a
                reach = b
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - covered) / 1e9
    return out


def totals(spans: list[dict]) -> dict[str, tuple[float, int]]:
    """name -> (inclusive seconds, units), counting a recursive call's time
    and units once (only at its outermost span)."""
    by_id = {s["id"]: s for s in spans}
    out: dict[str, tuple[float, int]] = {}
    for s in spans:
        parent = by_id.get(s["parent"])
        if parent is not None and parent["name"] == s["name"]:
            continue
        sec, units = out.get(s["name"], (0.0, 0))
        out[s["name"]] = (sec + (s["end"] - s["start"]) / 1e9, units + s["units"])
    return out
