"""Seeded workload generator and the one-iteration runner.

Every workload is a flat ``(doc_id, text)`` table drawn from ``--seed``.
The generator turns it into the engine's inputs with the package's own
fixture functions (``fixtures.build_documents`` / ``build_media``) once per
seed, outside any timed region, and parks them as parquet under the
benchmark's work directory. The program under test only ever reads those
tables.

Documents are drawn by seed from the engine's sf0.1 testdata corpus,
vendored as ``perfbench/data/documents.parquet`` (its ``doc_id`` and
``text`` columns, 5,000 rows). A document's media count is a function of
its ``doc_id`` (``doc_id % 3`` pages, plus 16 when ``doc_id % 97 == 0``),
so the generator shapes each workload's text/media mix by choosing rows:
it fills page classes (and the 16-page skew tail) to exact quotas, so two
seeds differ in which documents they draw, not in how much OCR work they
carry. Only ``text_dense`` needs more documents than the corpus holds; it
keeps corpus texts and gives them fresh text-only ``doc_id``s.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

CORPUS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "documents.parquet")

GEN_VERSION = 6
DOC_FILES = 16  # the docs table is a multi-file parquet table
WARM_DOCS = 8  # documents in the seed-independent warm-up input
WARM_SEED = 0
HISTORY_SEED = 0  # job_resume's committed half, the same for every seed
HOT_DOCS = 2
# production defaults of scripts/extract_job.py
RESUME_RUN_ID = "perfbench"
RESUME_KW = dict(n_parts=64, waves=4, salt_buckets=64, broadcast_media=False)


@dataclass(frozen=True)
class Workload:
    name: str
    n_docs: int
    # page classes to fill in equal shares: class c has c media pages
    page_classes: tuple[int, ...] = (0, 1, 2)
    skew_share: float = 0.0  # documents with 16 extra pages
    # crawl-style duplicates: this share of documents copies the text of
    # one of HOT_DOCS source documents (boilerplate pages)
    dup_share: float = 0.0
    extract_kw: dict = field(default_factory=dict)
    resume: bool = False  # operators.checkpoint.run_extraction, else extract_flat

    @property
    def has_media(self) -> bool:
        return self.page_classes != (0,) or self.skew_share > 0


# Sizes keep one run near a minute on 4 cores. BENCHMARK.json lists the two
# workloads that fit its time budget; the other two run on request (README).
WORKLOADS = {
    w.name: w
    for w in (
        Workload("ocr_dense", 600, skew_share=0.01),
        Workload("text_dense", 100_000, page_classes=(0,)),
        Workload(
            "ocr_accurate",
            200,
            page_classes=(1, 2),
            extract_kw=dict(recognizer="beam", detector="db"),
        ),
        Workload("job_resume", 300, skew_share=0.01, dup_share=0.3, resume=True),
    )
}


_P1, _P2, _P3, _P4, _P5 = (np.uint64(p) for p in (
    0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
    0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5))


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def part_of(doc_ids: np.ndarray, n_parts: int) -> np.ndarray:
    """The checkpoint's part_id, Spark's ``pmod(xxhash64(doc_id), n_parts)``
    (XXH64 of one long, seed 42), computed in numpy."""
    with np.errstate(over="ignore"):
        h = np.uint64(42) + _P5 + np.uint64(8)
        h = h ^ (_rotl(doc_ids.astype(np.int64).view(np.uint64) * _P2, 31) * _P1)
        h = _rotl(h, 27) * _P1 + _P4
        h ^= h >> np.uint64(33)
        h *= _P2
        h ^= h >> np.uint64(29)
        h *= _P3
        h ^= h >> np.uint64(32)
    return h.view(np.int64) % n_parts


def committed(parts: np.ndarray) -> np.ndarray:
    """Parts a resumed job finds committed: those of its first half of
    waves, as if the job had been killed after them."""
    waves = RESUME_KW["waves"]
    return parts % waves < waves // 2


def _corpus() -> pd.DataFrame:
    return pd.read_parquet(CORPUS, columns=["doc_id", "text"])


def doc_table(wl: Workload, seed: int, n: int, pending: bool | None = None) -> pd.DataFrame:
    """The flat (doc_id, text) table of ``n`` corpus documents for ``seed``.
    With ``pending`` set, every document's checkpoint part is pending (True)
    or committed (False), so the two kinds never share a document."""
    rng = np.random.default_rng([seed, n, GEN_VERSION, {None: 0, False: 1, True: 2}[pending]])
    corpus = _corpus()
    if wl.page_classes == (0,) and n > len(corpus):
        return _text_only(rng, corpus, n)
    ids = corpus["doc_id"].to_numpy()
    pool_class = ids % 3
    pool_skew = ids % 97 == 0
    eligible = np.ones(len(ids), dtype=bool)
    if pending is not None:
        eligible = committed(part_of(ids, RESUME_KW["n_parts"])) != pending
    order = rng.permutation(n)
    classes = np.resize(np.array(wl.page_classes), n)[order]
    skew = (np.arange(n) < round(n * wl.skew_share))[order]
    rows = np.empty(n, dtype=np.int64)
    for c in np.unique(classes):
        for k in (False, True):
            want = np.flatnonzero((classes == c) & (skew == k))
            pool = np.flatnonzero(eligible & (pool_class == c) & (pool_skew == k))
            rows[want] = rng.choice(pool, len(want), replace=False)
    table = corpus.iloc[rows].reset_index(drop=True)
    n_dup = round(n * wl.dup_share)
    if n_dup:  # the last n_dup documents copy the text of one of the first
        # HOT_DOCS; page m of a copy renders exactly as the source's page m
        src = rng.integers(0, HOT_DOCS, n_dup)
        table.loc[n - n_dup :, "text"] = table["text"].to_numpy()[src]
    return table


def _text_only(rng, corpus: pd.DataFrame, n: int) -> pd.DataFrame:
    """``n`` corpus texts, drawn with replacement, under distinct fresh
    ``doc_id``s that carry no media (``doc_id % 3 == 0``, not a multiple of
    97) and lie above the corpus's ids."""
    base = int(corpus["doc_id"].max()) + 1
    k = rng.choice(2 * n, int(n * 1.1), replace=False)
    ids = 3 * (base + k)
    ids = ids[ids % 97 != 0][:n]
    texts = corpus["text"].to_numpy()[rng.integers(0, len(corpus), n)]
    return pd.DataFrame({"doc_id": ids, "text": texts})


class Inputs:
    """Materialized inputs: one or more table sets, each a directory with
    ``flat/``, ``docs/``, ``media/`` and the oracle's ``expected.parquet``.
    ``job_resume`` reads two sets, its committed history and the seed's
    pending documents, plus the checkpoint that committed the history; the
    oracle checks only the ``checked`` sets, the ones an iteration writes."""

    def __init__(self, bases: list[str], prep: str | None = None,
                 checked: list[str] | None = None):
        self.bases, self.prep = bases, prep
        self.checked = bases if checked is None else checked

    def paths(self, name: str) -> list[str]:
        return [os.path.join(b, name) for b in self.bases]

    def expected(self) -> list[str]:
        return [os.path.join(b, "expected.parquet") for b in self.checked]


def materialize(
    spark, wl: Workload, seed: int, data_dir: str, warm: bool = False
) -> tuple[Inputs, float]:
    """Generate the workload's tables for ``seed`` once; returns the inputs
    and the seconds spent generating (0 when earlier runs built them all).
    ``warm`` builds the small warm-up input instead.

    ``job_resume``'s committed half is seed-independent: the job's history,
    built and committed once per checkout. The seed draws the other half,
    whose documents all fall into the parts of the waves still pending."""
    t0 = time.monotonic()
    if warm:
        inputs = Inputs([_tables(spark, wl, WARM_SEED, WARM_DOCS, data_dir)])
    elif not wl.resume:
        inputs = Inputs([_tables(spark, wl, seed, wl.n_docs, data_dir)])
    else:
        half = wl.n_docs // 2
        history = _tables(spark, wl, HISTORY_SEED, half, data_dir, pending=False)
        pending = _tables(spark, wl, seed, half, data_dir, pending=True)
        inputs = Inputs(
            [history, pending], prep=_prepare_checkpoint(spark, history), checked=[pending]
        )
    return inputs, time.monotonic() - t0


def _tables(spark, wl, seed: int, n: int, data_dir: str, pending=None) -> str:
    from kiri_ocr_spark.fixtures import build_documents, build_media

    from perfbench import oracle

    role = {None: "", False: "-history", True: "-pending"}[pending]
    base = os.path.join(data_dir, f"{wl.name}{role}-n{n}-s{seed}-v{GEN_VERSION}")
    if not os.path.exists(os.path.join(base, "_COMPLETE")):
        shutil.rmtree(base, ignore_errors=True)
        spark.createDataFrame(doc_table(wl, seed, n, pending)).repartition(
            DOC_FILES, "doc_id"
        ).write.parquet(os.path.join(base, "flat"))
        flat = spark.read.parquet(os.path.join(base, "flat"))
        build_documents(flat).write.parquet(os.path.join(base, "docs"))
        build_media(flat).write.parquet(os.path.join(base, "media"))
        oracle.write_expected(os.path.join(base, "flat"), os.path.join(base, "expected.parquet"))
        open(os.path.join(base, "_COMPLETE"), "w").close()
    return base


def _prepare_checkpoint(spark, history: str) -> str:
    """Commit the history with the program itself, in one pass; its
    documents all fall into the parts of the job's first two waves."""
    from kiri_ocr_spark.operators.checkpoint import run_extraction

    prep = os.path.join(history, "prep")
    if not os.path.exists(os.path.join(prep, "_COMPLETE")):
        shutil.rmtree(prep, ignore_errors=True)
        run_extraction(
            spark,
            spark.read.parquet(os.path.join(history, "docs")),
            spark.read.parquet(os.path.join(history, "media")),
            out_dir=os.path.join(prep, "out"),
            ckpt_dir=os.path.join(prep, "ckpt"),
            run_id=RESUME_RUN_ID,
            **{**RESUME_KW, "waves": 1},
        )
        open(os.path.join(prep, "_COMPLETE"), "w").close()
    return prep


def committed_parts_on_disk(out_dir: str) -> dict[int, tuple]:
    """part_id -> sorted (file, size, mtime) listing of its output dir."""
    listing = {}
    if not os.path.isdir(out_dir):
        return listing
    for entry in os.listdir(out_dir):
        if entry.startswith("part_id="):
            d = os.path.join(out_dir, entry)
            listing[int(entry.split("=", 1)[1])] = tuple(sorted(
                (f, os.path.getsize(os.path.join(d, f)), os.path.getmtime(os.path.join(d, f)))
                for f in os.listdir(d)
            ))
    return listing


class Runner:
    """One iteration of a workload through its public entry point:
    ``pipeline.extract_flat`` into a parquet sink, or
    ``operators.checkpoint.run_extraction`` resuming a prepared checkpoint.
    The warm-up runner always uses ``extract_flat`` with the workload's
    detector and recognizer: it spawns the workers and loads the model."""

    def __init__(self, spark, wl: Workload, inputs: Inputs, work: str, warm: bool = False):
        self.spark, self.wl, self.inputs = spark, wl, inputs
        self.resume = wl.resume and not warm
        self.work = os.path.join(work, "warm" if warm else "main")
        self.sink = os.path.join(self.work, "sink")
        self.ckpt = os.path.join(self.work, "ckpt")
        self.committed_before: dict[int, tuple] = {}
        self.parts_processed = 0

    def prepare(self) -> None:
        """Untimed: reset the sink, or restore the prepared checkpoint."""
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        if self.resume:
            shutil.copytree(os.path.join(self.inputs.prep, "out"), self.sink)
            shutil.copytree(os.path.join(self.inputs.prep, "ckpt"), self.ckpt)
        self.committed_before = committed_parts_on_disk(self.sink)

    def run(self) -> None:
        """Timed: input scan to the complete result at the sink."""
        docs = self.spark.read.parquet(*self.inputs.paths("docs"))
        media = self.spark.read.parquet(*self.inputs.paths("media"))
        if self.resume:
            from kiri_ocr_spark.operators.checkpoint import run_extraction

            self.parts_processed = run_extraction(
                self.spark, docs, media, out_dir=self.sink, ckpt_dir=self.ckpt,
                run_id=RESUME_RUN_ID, **RESUME_KW,
            )
        else:
            from kiri_ocr_spark.pipeline import extract_flat

            out = extract_flat(docs, media, broadcast_media=True, **self.wl.extract_kw)
            out.write.mode("overwrite").parquet(self.sink)
