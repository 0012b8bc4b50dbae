"""Drop-in single-machine ``OCR`` class — the reference's top-level API
(/root/reference/kiri_ocr/core.py:40-1160) re-expressed over this
engine's kernels, so a reference user's driver-side code ports verbatim:

    from kiri_ocr_spark.ocr import OCR
    ocr = OCR(det_method="legacy", decode_method="fast")
    text, results = ocr.extract_text("page.png")
    for chunk in ocr.extract_text_stream_chars("page.png"): ...

Spark is the scale surface (pipeline.py / streaming/); this class is the
reference-parity convenience wrapper for one image at a time — exactly
the role the reference's OCR class plays (its own batch story is a
Python loop). Method/decode switches mirror the reference:

- ``det_method``: 'legacy' | 'db' | 'craft' through the TextDetector
  facade (db/craft resolve the in-repo numpy forwards by default;
  legacy fallback with a warning only if resolution fails).
- ``decode_method`` (core.py:141-158 normalization, aliases included):
  'fast'/'ctc' -> the loaded model's CTC head when ``model_path`` is
  given (the reference's fast path; the in-sandbox-trained artifacts
  models/trained_full.npz (full 146-glyph charset) and
  models/trained_small.npz (corpus-only) decode exactly, including
  words never seen in training), else the glyph-template CTC
  construction (this
  engine's no-weights exactness path); 'accurate'/'decoder' -> the
  transformer's greedy decode; 'beam' -> its beam search. Weights load
  via the S3 loader when ``model_path`` is given (save_model/
  load_model), else the deterministic seed build.

INTENTIONAL default divergence: the reference defaults
``decode_method='accurate'`` (its trained transformer beats its CTC
head); this class defaults ``'fast'`` because in-sandbox the template
CTC path is the exact one while the transformer runs seed weights —
flip the default back when shipping trained weights via model_path.
"""

from __future__ import annotations

import os
from typing import Iterator, Union

import numpy as np

from .imaging.png import decode_gray
from .operators.detect import invert_if_dark, resize_keep_ratio_pad, binarize
from .operators.facade import TextDetector
from .operators.model import get_model
from .operators.recognize import recognize_line

_DECODE_ALIASES = {
    "fast": "ctc",
    "ctc": "ctc",
    "accurate": "decoder",
    "decoder": "decoder",
    "beam": "beam",
}


def _normalize_decode_method(method: str) -> str:
    """core.py:141-158: alias normalization with the same error shape."""
    method = method.lower().strip()
    if method not in _DECODE_ALIASES:
        raise ValueError(
            f"Invalid decode_method '{method}'. Choose from: 'fast', "
            "'accurate', 'beam' (or aliases: 'ctc', 'decoder')"
        )
    return _DECODE_ALIASES[method]


class OCR:
    def __init__(
        self,
        model_path: str | None = None,
        det_method: str = "legacy",
        decode_method: str = "fast",
        heatmap_fn=None,
        padding: int = 0,
    ):
        self.decode_method = _normalize_decode_method(decode_method)
        # db runs component-pixel scoring (det_db_score_mode='slow',
        # DBNet's box_score_slow / PaddleOCR's det_db_score_mode): the
        # default fast quad-mean drops a fused two-stacked-lines
        # component whose minAreaRect spans the inter-line gap; the slow
        # score keeps it and process_document's row-normalize step
        # (merge + blank-row band split) separates the lines. The bare
        # TextDetector facade keeps the reference's fast default.
        det_kwargs = {"det_db_score_mode": "slow"} if det_method == "db" else {}
        self.detector = TextDetector(
            method=det_method, heatmap_fn=heatmap_fn, **det_kwargs
        )
        self.padding = padding
        self._model = None
        self._model_path = model_path

    @property
    def model(self):
        """Lazy transformer load (M8 cache underneath): only the
        'decoder'/'beam' paths need it."""
        if self._model is None:
            self._model = get_model(path=self._model_path)
        return self._model

    # -- input handling ----------------------------------------------------

    @staticmethod
    def _load_gray(image: Union[str, os.PathLike, np.ndarray]) -> np.ndarray:
        if isinstance(image, np.ndarray):
            gray = image if image.ndim == 2 else None
            if gray is None:
                from .imaging.png import rgb_to_gray

                gray = rgb_to_gray(image)
        else:
            with open(image, "rb") as f:
                gray = decode_gray(f.read())
        return invert_if_dark(np.asarray(gray, dtype=np.uint8))

    # -- recognition per region --------------------------------------------

    def _recognize_region(self, gray: np.ndarray, ink: np.ndarray, box) -> tuple[str, float]:
        x, y, w, h = (int(v) for v in box[:4])
        p = self.padding
        x0, y0 = max(x - p, 0), max(y - p, 0)
        x1 = min(x + w + p, gray.shape[1])
        y1 = min(y + h + p, gray.shape[0])
        if self.decode_method == "ctc" and self._model_path is None:
            # no weights shipped: the template path is this engine's CTC
            # exactness construction. Tighten to the ink bounds inside the
            # (possibly padded) box: the template recognizer's unit-scale
            # subsampling needs the crop aligned to the glyph grid, and
            # detector paddings vary
            sub = ink[y0:y1, x0:x1]
            ys, xs = np.nonzero(sub)
            if len(ys) == 0:
                return "", 0.0
            tx0, ty0 = x0 + int(xs.min()), y0 + int(ys.min())
            tw = int(xs.max()) - int(xs.min()) + 1
            th = int(ys.max()) - int(ys.min()) + 1
            return recognize_line(ink, np.array([tx0, ty0, tw, th]))
        # neural paths: tighten to the ink bounds (detector paddings vary
        # by method) then restore the training geometry — the renderer's
        # PAD_Y/PAD_X background margins around the line, padded with the
        # crop's OWN background luma (255 plain pages, 239 tinted codec
        # pages) — before resize. This is the in-sandbox-trained
        # artifact's preprocessing contract, the role the reference's
        # normalize constants play for its weights.
        from .operators.detect import pad_training_margins

        sub = ink[y0:y1, x0:x1]
        ys, xs = np.nonzero(sub)
        if len(ys) == 0:
            return "", 0.0
        ty0, ty1 = y0 + int(ys.min()), y0 + int(ys.max()) + 1
        tx0, tx1 = x0 + int(xs.min()), x0 + int(xs.max()) + 1
        crop = pad_training_margins(gray[ty0:ty1, tx0:tx1])
        # fp32 inference for TRAINED weights — the reference's deployment
        # dtype (its torch / ONNX checkpoints are float32); decode margins
        # dwarf the ~4e-6 forward divergence, re-verified by the
        # text-equality oracles. Seed weights (model_path=None) stay f64:
        # seed logits are tie-fragile in fp32 (model.encode docstring) and
        # streaming/extract.decode_step_events keeps seed decode f64 —
        # gating here keeps OCR and stream seed decodes in agreement.
        mem = self.model.encode(
            resize_keep_ratio_pad(crop)[None].astype(np.float32),
            fp32=self._model_path is not None,
        )[0]
        if self.decode_method == "ctc":
            # model_path given: 'fast' IS the loaded model's CTC head,
            # exactly the reference's fast path (core.py:141-158)
            return self.model.ctc_greedy(mem[None])[0]
        if self.decode_method == "beam":
            return self.model.beam_decode(mem)
        return self.model.greedy_decode(mem)

    def _detect_line_boxes(self, gray: np.ndarray, ink: np.ndarray):
        """Lines-mode detection shared by process_document AND
        extract_text_stream_chars (both must see identical regions —
        the stream contract is 'same text, token at a time').

        The in-sandbox-calibrated neural detectors emit word/
        region-grade boxes; normalize to recognition-grade text
        lines: W3 row clustering over the boxes, then a blank-
        row band split inside each row hull (DB's unclipped
        regions can span two tight lines). A production-trained
        DBNet/CRAFT emits line-grade regions and both steps
        reduce to no-ops. Text-match verified per line against
        the construction oracle (media_text_db/_craft queries)."""
        return self._normalize_boxes(ink, self.detector.detect_boxes(gray))

    def _normalize_boxes(self, ink: np.ndarray, boxes: list) -> list:
        """db/craft row normalization of one page's raw detector boxes
        (the tail of _detect_line_boxes, shared with process_documents);
        other methods' boxes pass through unchanged."""
        if self.detector.method not in ("db", "craft"):
            return boxes
        from .operators.detect import (
            merge_boxes_into_rows,
            split_box_at_blank_rows,
        )

        return [
            (int(b[0]), int(b[1]), int(b[2]), int(b[3]), float(row[4]))
            for row in merge_boxes_into_rows(boxes)
            for b in split_box_at_blank_rows(ink, row)
        ]

    def _recognize_boxes(
        self, gray: np.ndarray, ink: np.ndarray, boxes: list
    ) -> list[dict]:
        """Recognize each box of one page into process_document's
        result dicts."""
        results = []
        for i, box in enumerate(boxes, start=1):
            text, conf = self._recognize_region(gray, ink, box)
            results.append(
                {
                    "box": [int(v) for v in box[:4]],
                    "text": text,
                    "confidence": float(conf),
                    "det_confidence": float(box[4]) if len(box) > 4 else 1.0,
                    "line_number": i,
                }
            )
        return results

    # -- reference public surface ------------------------------------------

    def process_document(self, image, mode: str = "lines") -> list[dict]:
        """core.py:719-793: detect regions (lines or words), recognize
        each; result dicts carry box/text/confidence/det_confidence/
        line_number."""
        gray = self._load_gray(image)
        ink = binarize(gray)
        if mode == "lines":
            boxes = self._detect_line_boxes(gray, ink)
        elif mode == "words":
            boxes = [(bx, by, bw, bh, 1.0) for bx, by, bw, bh in
                     self.detector.detect_words(gray)]
        else:
            raise ValueError(f"unknown mode {mode!r}")
        return self._recognize_boxes(gray, ink, boxes)

    def process_documents(
        self, images: list, mode: str = "lines"
    ) -> list[list[dict]]:
        """Batch variant of ``process_document`` for table-scope kernels:
        neural detection runs batched across same-shape pages
        (TextDetector.detect_boxes_batch — bitwise the per-page path),
        everything else is the per-page flow. Results per page equal
        ``process_document``'s."""
        if mode != "lines":
            return [self.process_document(im, mode) for im in images]
        grays = [self._load_gray(im) for im in images]
        inks = [binarize(g) for g in grays]
        raw_list = self.detector.detect_boxes_batch(grays)
        return [
            self._recognize_boxes(gray, ink, self._normalize_boxes(ink, raw))
            for gray, ink, raw in zip(grays, inks, raw_list)
        ]

    def extract_text(self, image, mode: str = "lines") -> tuple[str, list[dict]]:
        """core.py:1104-1160: recognize then group results into text lines
        by vertical center with 0.8*max-height tolerance, words joined by
        spaces, lines by newlines."""
        results = self.process_document(image, mode)
        if not results:
            return "", results
        lines: list[list[str]] = []
        prev_cy = prev_h = None
        for res in results:
            y, h = res["box"][1], res["box"][3]
            cy = y + h / 2
            if prev_cy is not None and abs(cy - prev_cy) < max(h, prev_h) * 0.8:
                lines[-1].append(res["text"])
            else:
                lines.append([res["text"]])
            prev_cy, prev_h = cy, h
        return "\n".join(" ".join(ln) for ln in lines), results

    def extract_text_stream_chars(
        self, image, mode: str = "lines"
    ) -> Iterator[dict]:
        """core.py:887-1026 chunk contract: per-region start marker, then
        one chunk per emitted token with the cumulative document text and
        the region/document finished flags. The Spark-scale analogues are
        streaming/extract.stream_token_decode (CTC, monotone) and
        stream_beam_retraction (decoder mode); this is the reference's
        driver-side generator shape."""
        gray = self._load_gray(image)
        ink = binarize(gray)
        boxes = (
            self._detect_line_boxes(gray, ink)
            if mode == "lines"
            else [(bx, by, bw, bh, 1.0) for bx, by, bw, bh in
                  self.detector.detect_words(gray)]
        )
        total = len(boxes)
        all_texts: list[str] = []
        for region_num, box in enumerate(boxes, start=1):
            yield {
                "token": "",
                "text": "",
                "cumulative_text": "\n".join(all_texts),
                "region_number": region_num,
                "total_regions": total,
                "step": 0,
                "region_finished": False,
                "document_finished": False,
                "region_start": True,
                "box": [int(v) for v in box[:4]],
                "det_confidence": float(box[4]) if len(box) > 4 else 1.0,
            }
            text, conf = self._recognize_region(gray, ink, box)
            so_far = ""
            for step, ch in enumerate(text, start=1):
                so_far += ch
                last = step == len(text)
                yield {
                    "token": ch,
                    "text": so_far,
                    "cumulative_text": "\n".join(all_texts + [so_far]),
                    "region_number": region_num,
                    "total_regions": total,
                    "step": step,
                    "confidence": float(conf),
                    "region_finished": last,
                    "document_finished": last and region_num == total,
                    "region_start": False,
                    "box": [int(v) for v in box[:4]],
                    "det_confidence": float(box[4]) if len(box) > 4 else 1.0,
                }
            if not text:  # empty region: single finished marker
                yield {
                    "token": "",
                    "text": "",
                    "cumulative_text": "\n".join(all_texts),
                    "region_number": region_num,
                    "total_regions": total,
                    "step": 0,
                    "region_finished": True,
                    "document_finished": region_num == total,
                    "region_start": False,
                    "box": [int(v) for v in box[:4]],
                    "det_confidence": float(box[4]) if len(box) > 4 else 1.0,
                }
            else:
                all_texts.append(text)
