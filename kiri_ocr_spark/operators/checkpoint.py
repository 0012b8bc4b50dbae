"""Checkpoint / resume protocol (SURVEY.md §2.1 S11 analogue, north_star:
"a killed job resumes from the last committed snapshot without recomputing
finished partitions").

Design (FIXTURES.md §5 schema):
- documents are bucketed into ``n_parts`` logical partitions by
  ``pmod(xxhash64(doc_id), n_parts)`` — stable across runs and cluster
  sizes;
- the extraction output is written ``partitionBy(part_id)`` with dynamic
  partition-overwrite (a write option, so the caller's session keeps its
  own overwrite mode), so re-processing a partition is idempotent
  (overwrites exactly its own files, an Iceberg-snapshot-commit stand-in);
- after the output for the pending partitions lands, one lineage+metrics
  row per partition is appended to the checkpoint table
  (run_id, part_id, docs_done, spans_done, media_spans, mean_conf,
  kernel_ms, wave_wall_ms, committed_at) — kernel_ms is the TRUE
  per-partition OCR kernel time (sum of per-row batch-time shares the
  kernel stamps), wave_wall_ms the wave-level wall clock shared by every
  row of the wave;
- resume is planned once, on the driver, before any wave runs: one census
  query takes the distinct part_ids of documents holding at least one
  span, left-anti-joins them against the committed part_ids (J7) and
  collects the pending ones — at most ``n_parts`` ints. A wave with no
  pending part launches no Spark job; a pending wave selects its
  documents with ``part_id IN (<its parts>)``, so finished partitions are
  never read past the scan filter, let alone recomputed. A part with no
  span produces no output, so the census never plans it and an empty
  part cannot re-run on every resume. A crash between output-write and
  checkpoint-append only causes those in-flight partitions to be
  redone — idempotently.

At 100 TB the same protocol holds: part_id is the Iceberg partition key,
the census is one aggregate over it anti-joined with a tiny
committed-parts table, each wave's part list is a partition filter, and
dynamic overwrite maps to Iceberg's overwrite-by-filter snapshot.
"""

from __future__ import annotations

import time

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..pipeline import assemble_documents, extract_span_rows

# v2: wall_ms split into kernel_ms (true per-partition kernel time) +
# wave_wall_ms (per-wave constant). A checkpoint dir written by an older
# schema must not be appended to — mixed-schema parquet makes metric
# reads file-order dependent — so every row carries schema_version and
# both the reader and the writer refuse unversioned (pre-v2) dirs.
CHECKPOINT_SCHEMA_VERSION = 2
CHECKPOINT_SCHEMA = (
    "run_id string, part_id int, docs_done long, spans_done long, "
    "media_spans long, mean_conf double, kernel_ms long, wave_wall_ms long, "
    "committed_at timestamp, schema_version int"
)

# what reading a missing or still-empty checkpoint dir raises: no commits
_NO_CHECKPOINT = ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")


def with_part_id(docs: DataFrame, n_parts: int) -> DataFrame:
    return docs.withColumn(
        "part_id", F.pmod(F.xxhash64("doc_id"), F.lit(n_parts)).cast("int")
    )


def committed_parts(spark: SparkSession, ckpt_dir: str, run_id: str) -> DataFrame:
    # read through Spark, not the local filesystem, so hdfs:// and s3a://
    # checkpoints resume too
    try:
        table = spark.read.parquet(ckpt_dir)
    except AnalysisException as e:
        if e.getCondition() not in _NO_CHECKPOINT:
            raise
        return spark.createDataFrame([], "part_id int")
    if "schema_version" not in table.columns:
        raise ValueError(
            f"checkpoint dir {ckpt_dir!r} was written by a pre-v2 "
            "schema (no schema_version column); appending would mix "
            "schemas in one parquet table. Start a fresh checkpoint "
            "dir — resume lineage does not carry across the upgrade."
        )
    return table.filter(F.col("run_id") == run_id).select("part_id").distinct()


def pending_parts(
    spark: SparkSession, docs: DataFrame, ckpt_dir: str, run_id: str, n_parts: int
) -> list[int]:
    """The resume census: sorted part_ids that hold at least one span and
    are not committed for ``run_id``. One Spark query; the result is at
    most ``n_parts`` ints."""
    done = committed_parts(spark, ckpt_dir, run_id)
    todo = (
        with_part_id(docs.filter(F.size("spans") > 0), n_parts)
        .select("part_id")
        .distinct()
        .join(F.broadcast(done), "part_id", "left_anti")
    )
    return sorted(r.part_id for r in todo.collect())


def run_extraction(
    spark: SparkSession,
    docs: DataFrame,
    media: DataFrame,
    out_dir: str,
    ckpt_dir: str,
    run_id: str,
    n_parts: int = 16,
    waves: int = 1,
    **extract_kwargs,
) -> int:
    """Checkpointed extraction. Returns number of partitions processed this
    invocation (0 = everything was already committed).

    ``waves`` > 1 commits output + lineage incrementally in that many
    sub-jobs (wave w = partitions with part_id % waves == w), so a job
    killed mid-run loses at most one wave of work instead of everything —
    the commit cadence knob for the north_star's "resumes from the last
    committed snapshot". At 10^12 docs each wave is one Iceberg snapshot.
    Waves are planned from one census (``pending_parts``); a wave with
    nothing pending launches no Spark job."""
    pending = pending_parts(spark, docs, ckpt_dir, run_id, n_parts)
    sc = spark.sparkContext
    caller_description = sc.getLocalProperty("spark.job.description")
    total = 0
    try:
        for w in range(waves):
            parts = [p for p in pending if p % waves == w]
            if not parts:
                continue
            sc.setJobDescription(
                f"run_extraction {run_id} wave {w}/{waves}: {len(parts)} parts"
            )
            total += _run_wave(
                spark, docs, media, out_dir, ckpt_dir, run_id, n_parts, parts,
                **extract_kwargs,
            )
    finally:
        sc.setLocalProperty("spark.job.description", caller_description)
    return total


def _run_wave(
    spark: SparkSession,
    docs: DataFrame,
    media: DataFrame,
    out_dir: str,
    ckpt_dir: str,
    run_id: str,
    n_parts: int,
    parts: list[int],
    **extract_kwargs,
) -> int:
    """Extract, write and log the documents of ``parts``. Returns
    ``len(parts)``: the census only plans parts holding a span, and every
    span yields an output row, so each part gets exactly one lineage row."""
    todo = (
        with_part_id(docs, n_parts)
        .filter(F.col("part_id").isin(parts))
        .drop("part_id")
    )

    t0 = time.monotonic()
    rows = extract_span_rows(todo, media, keep_kernel_us=True, **extract_kwargs)
    # both the output write and the metrics agg consume `rows`: persist so
    # the OCR kernel runs ONCE per wave, not twice (and the committed
    # lineage metrics describe exactly the rows that were written)
    rows = with_part_id(rows, n_parts).persist()
    assembled = with_part_id(
        assemble_documents(rows.drop("part_id", "conf", "n_lines", "kernel_us")),
        n_parts,
    )
    assembled.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("part_id").parquet(out_dir)

    # lineage + metrics, one row per partition just committed
    metrics = (
        rows.groupBy("part_id")
        .agg(
            F.countDistinct("doc_id").alias("docs_done"),
            F.count("*").alias("spans_done"),
            F.sum(F.when(F.col("kind") == "media", 1).otherwise(0)).alias(
                "media_spans"
            ),
            F.avg("conf").alias("mean_conf"),
            # A15: honest per-partition kernel time — the sum of the
            # per-row timings the OCR kernel stamps inside its row loop
            # (each row carries its own measured cost, so skewed rows
            # show up in their partition, unlike a wave-level stamp)
            (F.sum("kernel_us") / 1000).cast("long").alias("kernel_ms"),
        )
        .withColumn("run_id", F.lit(run_id))
        .withColumn(
            "wave_wall_ms",
            F.lit(int((time.monotonic() - t0) * 1000)).cast("long"),
        )
        .withColumn("committed_at", F.current_timestamp())
        .withColumn("schema_version", F.lit(CHECKPOINT_SCHEMA_VERSION))
        # column order and types of the v2 table
        .to(StructType.fromDDL(CHECKPOINT_SCHEMA))
    )
    metrics.coalesce(1).write.mode("append").parquet(ckpt_dir)
    rows.unpersist()
    return len(parts)
