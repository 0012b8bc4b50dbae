#!/usr/bin/env python
"""Round-7 kernel micro-benchmarks (guide §1.4 noop-isolation analogue
for driver-side kernels). NOT part of the frozen driver contract
(bench.py is untouched); this file reproduces the per-kernel numbers
cited in OPTIMIZATION_r07.md on demand:

    python bench_extra.py [sf_dir=/root/testdata/sf0.1]

Prints one JSON line with:
- encode_ctc_ms_per_line  : stacked fp32 encode + CTC greedy, cold memo
- beam_lockstep_ms_per_line / beam_per_line_ms_per_line : one lockstep
  wave over all lines vs per-line beam_decode (a wave of one line each)
  on the same memories (texts are asserted identical — the lockstep
  equality contract)
- min_area_rect_ms        : rotating-calipers geometry on dense sets
- db_detect_ms_per_page / craft_detect_ms_per_page : full detector
  forward + postprocess per fixture page
All kernels run with 1 BLAS thread (the per-worker deployment pin).
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import numpy as np


def fixture_crops_and_pages(sf_dir: str, n_pages: int = 96):
    """Line crops + raw pages straight from the materialized bench
    fixture (or rendered on the fly when absent)."""
    import pyarrow.parquet as pq

    from kiri_ocr_spark.imaging.png import decode_gray
    from kiri_ocr_spark.operators.detect import (
        detect_lines,
        orient_and_binarize,
        pad_training_margins,
        resize_keep_ratio_pad,
    )

    sf_label = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    media_dirs = sorted(glob.glob(f"/tmp/kiri_fixture_{sf_label}_*/media"))
    pages = []
    if media_dirs:
        for f in sorted(glob.glob(os.path.join(media_dirs[0], "*.parquet"))):
            t = pq.read_table(f, columns=["png_bytes"])
            pages += [decode_gray(bytes(b))
                      for b in t.column("png_bytes").to_pylist()]
            if len(pages) >= n_pages:
                break
    else:  # no materialized fixture: render via the fixture builder
        from kiri_ocr_spark.fixtures import build_fixture
        from kiri_ocr_spark.session import get_spark

        spark = get_spark(app_name="bench-extra", master="local[8]")
        _, media = build_fixture(spark, sf_dir)
        pages = [decode_gray(bytes(r.png_bytes))
                 for r in media.limit(n_pages).collect()]
        spark.stop()
    pages = pages[:n_pages]
    crops = []
    for g in pages:
        gray, ink = orient_and_binarize(g)
        for b in detect_lines(gray, ink=ink):
            x, y, w, h = (int(v) for v in b[:4])
            crops.append(
                resize_keep_ratio_pad(
                    pad_training_margins(gray[y : y + h, x : x + w])
                )
            )
    return crops, pages


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    from kiri_ocr_spark.operators.blas import pin_blas_threads

    pin_blas_threads(1)
    from kiri_ocr_spark.operators.model import (
        ENCODE_CHUNK,
        decode_crops_memo,
        get_model,
    )
    from kiri_ocr_spark.queries import trained_model_path

    model = get_model(path=trained_model_path())
    crops, pages = fixture_crops_and_pages(sf_dir)
    out: dict = {"crops": len(crops), "pages": len(pages)}

    # encode + CTC, cold memo
    n = min(len(crops), 128)
    decode_crops_memo(model, crops[:ENCODE_CHUNK], {})  # warm the worker
    t0 = time.perf_counter()
    decode_crops_memo(model, crops[:n], {})
    out["encode_ctc_ms_per_line"] = round(
        (time.perf_counter() - t0) / n * 1e3, 2
    )

    # beam: one wave over all lines vs one wave per line (beam_decode),
    # on identical memories
    nb = min(len(crops), 96)
    mems = np.concatenate(
        [
            model.encode(
                np.stack(crops[j : j + ENCODE_CHUNK]).astype(np.float32),
                fp32=True,
            )
            for j in range(0, nb, ENCODE_CHUNK)
        ],
        axis=0,
    )
    model.beam_decode_batch(mems[:8])  # warm
    t0 = time.perf_counter()
    batch = model.beam_decode_batch(mems)
    out["beam_lockstep_ms_per_line"] = round(
        (time.perf_counter() - t0) / nb * 1e3, 2
    )
    t0 = time.perf_counter()
    per_line = [model.beam_decode(mems[i]) for i in range(nb)]
    out["beam_per_line_ms_per_line"] = round(
        (time.perf_counter() - t0) / nb * 1e3, 2
    )
    assert [t for t, _ in batch] == [t for t, _ in per_line], (
        "lockstep/per-line beam text divergence"
    )

    # geometry kernel
    from kiri_ocr_spark.operators.heatmap_post import min_area_rect

    rng = np.random.default_rng(0)
    sets = [
        np.argwhere(rng.random((40, 218)) > 0.6).astype(np.float64)
        for _ in range(50)
    ]
    t0 = time.perf_counter()
    for p in sets:
        min_area_rect(p)
    out["min_area_rect_ms"] = round((time.perf_counter() - t0) / 50 * 1e3, 3)

    # detector paths per page
    from kiri_ocr_spark.operators.facade import TextDetector

    for method, kwargs in (
        ("db", {"det_db_score_mode": "slow"}),
        ("craft", {}),
    ):
        det = TextDetector(method=method, **kwargs)
        det.detect_boxes(pages[0])
        t0 = time.perf_counter()
        for g in pages:
            det.detect_boxes(g)
        out[f"{method}_detect_ms_per_page"] = round(
            (time.perf_counter() - t0) / len(pages) * 1e3, 2
        )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
