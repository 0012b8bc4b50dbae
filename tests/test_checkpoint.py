"""Kill/resume semantics (SURVEY.md §5.2 item 6, FIXTURES.md §5)."""

from __future__ import annotations

import glob
import shutil
import os

import pytest
from pyspark.sql import functions as F

from kiri_ocr_spark.fixtures import build_fixture
from kiri_ocr_spark.operators.checkpoint import (
    CHECKPOINT_SCHEMA,
    committed_parts,
    pending_parts,
    run_extraction,
    with_part_id,
)

N_PARTS = 8


@pytest.fixture(scope="module")
def fixture_tables(spark, sf_tiny):
    docs, media = build_fixture(spark, sf_tiny)
    return docs.cache(), media.cache()


def _listing(*dirs):
    """(path, size, mtime) of every file under ``dirs``."""
    return sorted(
        (p, os.path.getsize(p), os.path.getmtime(p))
        for d in dirs
        for p in glob.glob(os.path.join(d, "**"), recursive=True)
        if os.path.isfile(p)
    )


def _jobs_in_group(spark, group, action):
    """Run ``action`` under job group ``group``; returns its result and the
    number of Spark jobs it launched."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status store is fed by the listener bus: drain it before counting
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def _kill_parts(spark, out_dir, ckpt_dir, dead):
    """Simulate a crash that lost the output partitions AND checkpoint rows
    of the part_ids in ``dead``."""
    for pid in dead:
        for path in glob.glob(os.path.join(out_dir, f"part_id={pid}")):
            shutil.rmtree(path)
    surviving = (
        spark.read.parquet(ckpt_dir)
        .filter(~F.col("part_id").isin(list(dead)))
        .toPandas()
    )
    for f in glob.glob(os.path.join(ckpt_dir, "*.parquet")):
        os.remove(f)
    spark.createDataFrame(surviving, CHECKPOINT_SCHEMA).write.mode(
        "overwrite"
    ).parquet(ckpt_dir)


def _read_sorted(spark, out_dir):
    return (
        spark.read.parquet(out_dir)
        .select("doc_id", F.expr("to_json(spans)").alias("j"))
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )


def test_single_shot_then_noop_resume(spark, fixture_tables, tmp_path):
    docs, media = fixture_tables
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    n = run_extraction(spark, docs, media, out, ckpt, "run1", n_parts=N_PARTS)
    assert n == N_PARTS
    assert committed_parts(spark, ckpt, "run1").count() == N_PARTS
    # re-invocation: everything committed -> zero partitions recomputed
    n2 = run_extraction(spark, docs, media, out, ckpt, "run1", n_parts=N_PARTS)
    assert n2 == 0


def test_kill_and_resume_recomputes_only_missing(spark, fixture_tables, tmp_path):
    docs, media = fixture_tables
    out_a, ckpt_a = str(tmp_path / "out_a"), str(tmp_path / "ckpt_a")
    out_b, ckpt_b = str(tmp_path / "out_b"), str(tmp_path / "ckpt_b")

    # reference single-shot run
    run_extraction(spark, docs, media, out_a, ckpt_a, "ref", n_parts=N_PARTS)
    ref = _read_sorted(spark, out_a)

    # "killed" run: full run, then simulate the crash by deleting the output
    # partitions AND checkpoint rows for half the part_ids
    run_extraction(spark, docs, media, out_b, ckpt_b, "r2", n_parts=N_PARTS)
    dead = set(range(N_PARTS // 2))
    _kill_parts(spark, out_b, ckpt_b, dead)

    # resume: must process exactly the dead partitions
    n = run_extraction(spark, docs, media, out_b, ckpt_b, "r2", n_parts=N_PARTS)
    assert n == len(dead)

    # final output identical to single-shot
    got = _read_sorted(spark, out_b)
    assert got.equals(ref)

    # surviving partitions were NOT recomputed: exactly one checkpoint row
    # each; dead ones have two (original + resume append ... original rows
    # were deleted, so also one) -> every part has exactly one row and
    # totals cover all docs
    ckpt_rows = spark.read.parquet(ckpt_b).toPandas()
    assert sorted(ckpt_rows["part_id"].tolist()) == list(range(N_PARTS))
    assert ckpt_rows["docs_done"].sum() == docs.count()


def test_per_partition_kernel_time_is_distinct(spark, fixture_tables, tmp_path):
    """A15 honesty: kernel_ms must be the partition's OWN kernel time (sum
    of per-row batch shares), not one wave-level wall stamped everywhere.
    Partitions hold different media loads, so the values must differ;
    wave_wall_ms is the per-wave constant and must dominate each part."""
    docs, media = fixture_tables
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    # The fused+memoized recognizer dropped the per-span kernel cost to
    # ~0.35 ms (decode+detect dominate), so the near-uniform hash split
    # of the full fixture no longer separates partitions beyond shared-
    # host noise. Engineer a 10x span contrast instead: the 16-image
    # skew-tail docs vs single-media docs — multiplicative contention
    # inflates both sides and preserves the ordering, and the 3x-median
    # trim below absorbs additive single-task preemption spikes.
    n_media = F.expr("size(filter(spans, s -> s.kind = 'media'))")
    heavy_docs = docs.filter(n_media >= 16).limit(1)
    light_docs = docs.filter(n_media <= 1).limit(12)
    skew = heavy_docs.unionByName(light_docs)
    run_extraction(spark, skew, media, out, ckpt, "kt", n_parts=4)
    rows = spark.read.parquet(ckpt).toPandas()
    assert len(rows) == 4
    # distinct per-partition values (a constant stamp would collapse to 1)
    assert rows["kernel_ms"].nunique() > 1
    assert (rows["kernel_ms"] >= 0).all()
    # the wave wall is a single per-wave constant and bounds any part's time
    assert rows["wave_wall_ms"].nunique() == 1
    assert (rows["kernel_ms"] <= rows["wave_wall_ms"]).all()
    # partitions with more media spans accumulate more kernel time.
    # Preemption spikes are ADDITIVE and hit the near-zero light
    # partitions, so only lights are trimmed against the median; the
    # heavy partition is the signal and is never trimmed (in a QUIET
    # window the memoized recognizer reads 0 ms on every light, the
    # median is 0, and a global trim would discard the heavy's
    # legitimate ~10 ms as the 'outlier').
    med = max(float(rows["kernel_ms"].median()), 1.0)
    heavy_idx = rows["media_spans"].idxmax()
    lights = rows.drop(index=heavy_idx)
    light = float(
        lights["kernel_ms"].where(lights["kernel_ms"] <= 3 * med)
        .fillna(med).max()
    )
    heavy = float(rows.loc[heavy_idx, "kernel_ms"])
    assert rows["media_spans"].max() >= 3 * rows["media_spans"].min() + 4
    assert heavy > light, (rows.to_dict("records"), heavy, light)


def test_pre_v2_checkpoint_dir_refused(spark, tmp_path):
    """Schema-versioning guard (advisor r3): a checkpoint dir written by
    the pre-rename schema (no schema_version column) must be refused, not
    silently appended to — mixed-schema parquet makes metric reads
    file-order dependent."""
    ckpt = str(tmp_path / "old_ckpt")
    spark.createDataFrame(
        [("r1", 0, 5_000)], "run_id string, part_id int, wall_ms long"
    ).write.parquet(ckpt)
    with pytest.raises(ValueError, match="pre-v2"):
        committed_parts(spark, ckpt, "r1")


def test_part_id_stability(spark, fixture_tables):
    """part_id depends only on doc_id and n_parts — stable across runs and
    cluster sizes (resume correctness at any parallelism)."""
    docs, _ = fixture_tables
    a = with_part_id(docs, N_PARTS).select("doc_id", "part_id").toPandas()
    b = with_part_id(docs, N_PARTS).select("doc_id", "part_id").toPandas()
    assert a.sort_values("doc_id").equals(b.sort_values("doc_id"))
    assert a["part_id"].between(0, N_PARTS - 1).all()


def test_waves_kill_and_resume(spark, fixture_tables, tmp_path):
    """waves=4 (the production default): a run killed after committing all
    but one wave resumes exactly that wave's parts, with the same output as
    a single-shot run."""
    docs, media = fixture_tables
    out_a, ckpt_a = str(tmp_path / "out_a"), str(tmp_path / "ckpt_a")
    out_b, ckpt_b = str(tmp_path / "out_b"), str(tmp_path / "ckpt_b")
    run_extraction(spark, docs, media, out_a, ckpt_a, "ref", n_parts=N_PARTS)
    ref = _read_sorted(spark, out_a)

    n_all = run_extraction(
        spark, docs, media, out_b, ckpt_b, "w4", n_parts=N_PARTS, waves=4
    )
    assert n_all == N_PARTS
    dead = {p for p in range(N_PARTS) if p % 4 == 1}
    _kill_parts(spark, out_b, ckpt_b, dead)

    n = run_extraction(
        spark, docs, media, out_b, ckpt_b, "w4", n_parts=N_PARTS, waves=4
    )
    assert n == len(dead)
    assert _read_sorted(spark, out_b).equals(ref)
    ckpt_rows = spark.read.parquet(ckpt_b).toPandas()
    assert sorted(ckpt_rows["part_id"].tolist()) == list(range(N_PARTS))
    assert ckpt_rows["docs_done"].sum() == docs.count()


def test_noop_resume_runs_only_the_census(spark, fixture_tables, tmp_path):
    """Resuming a fully committed checkpoint whose n_parts exceeds the doc
    count (so some parts are empty and never get a lineage row) launches
    no job beyond the census query and touches no file."""
    docs, media = fixture_tables
    ids = [r.doc_id for r in docs.select("doc_id").orderBy("doc_id").limit(5).collect()]
    few = docs.filter(F.col("doc_id").isin(ids))
    n_parts = 16
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    n = run_extraction(spark, few, media, out, ckpt, "noop", n_parts=n_parts, waves=4)
    assert 0 < n <= len(ids) < n_parts
    before = _listing(out, ckpt)

    pending, census_jobs = _jobs_in_group(
        spark, "ckpt-census", lambda: pending_parts(spark, few, ckpt, "noop", n_parts)
    )
    assert pending == []
    n2, resume_jobs = _jobs_in_group(
        spark,
        "ckpt-noop-resume",
        lambda: run_extraction(
            spark, few, media, out, ckpt, "noop", n_parts=n_parts, waves=4
        ),
    )
    assert n2 == 0
    assert resume_jobs <= census_jobs
    assert _listing(out, ckpt) == before


def test_run_extraction_keeps_caller_session_state(spark, fixture_tables, tmp_path):
    """The output's dynamic overwrite is a write option, not a session
    setting, and the per-wave job descriptions are restored afterwards."""
    docs, media = fixture_tables
    few = docs.orderBy("doc_id").limit(3)
    sc = spark.sparkContext
    key = "spark.sql.sources.partitionOverwriteMode"
    session_mode = spark.conf.get(key)
    # pin the default so a leak from any earlier caller cannot mask one here
    spark.conf.set(key, "STATIC")
    sc.setJobDescription("caller")
    try:
        run_extraction(
            spark, few, media, str(tmp_path / "out"), str(tmp_path / "ckpt"),
            "state", n_parts=4, waves=2,
        )
        assert spark.conf.get(key) == "STATIC"
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setLocalProperty("spark.job.description", None)
        spark.conf.set(key, session_mode)


@pytest.mark.parametrize("make_dir", [False, True], ids=["missing", "empty"])
def test_committed_parts_without_checkpoint(spark, tmp_path, make_dir):
    """A missing or empty checkpoint dir means nothing is committed."""
    ckpt = tmp_path / "ckpt"
    if make_dir:
        ckpt.mkdir()
    assert committed_parts(spark, str(ckpt), "r1").count() == 0
