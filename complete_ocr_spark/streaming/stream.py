"""Structured-Streaming evolution path (SURVEY.md §2.10).

The reference is strictly batch (directories end-to-end) and the north_rule
asks for batch + checkpoint restart, which ``complete_ocr_spark.io`` provides.
This module is the optional streaming form: because every stage is a
deterministic per-document map (no cross-document state, no event-time
windows — the W1/W2 session logic is *within* a page), the identical pipeline
body runs under ``readStream`` with ``foreachBatch``.

Exactly-once semantics: foreachBatch is at-least-once — a micro-batch that
fails after its write but before the checkpoint commit is re-delivered, so a
plain append would duplicate rows. Here every micro-batch writes with dynamic
partition overwrite keyed by ``(bucket, batch_id)`` (and lineage by
``batch_id``): batch content is deterministic, so a re-delivered batch
replaces its own partitions byte-for-byte — idempotent, no dedupe-on-read
needed.

Lineage quarantine: streaming lineage rows describe a *slice* of a bucket per
micro-batch, so they must never satisfy ``TableIO.completed_buckets()`` — a
bucket would look finished after its first partial slice and batch resume
would wrongly skip documents. They are therefore written to a separate
``lineage_stream`` path (with ``batch_id``) that the batch resume path never
reads; the streamed output lives under ``docs_out_stream``. Promotion to the
batch table is an explicit full rewrite through ``TableIO.write`` once the
stream is drained — never an implicit lineage merge.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from ..io import lineage_rows, with_bucket, write_partitioned
from ..pipeline import run_extraction
from ..schemas import DOC_SCHEMA


def stream_paths(out_root: str) -> tuple[str, str]:
    """(docs_out_stream, lineage_stream) — deliberately distinct from the
    batch TableIO paths (see lineage-quarantine note in the module doc)."""
    return (
        os.path.join(out_root, "docs_out_stream"),
        os.path.join(out_root, "lineage_stream"),
    )


def make_process_batch(spark: SparkSession, out_root: str, n_buckets: int):
    """foreachBatch body, exposed for direct re-delivery testing."""
    docs_path, lineage_path = stream_paths(out_root)

    def process_batch(batch_df, batch_id: int) -> None:
        docs_out = run_extraction(spark, batch_df)
        out = with_bucket(docs_out, n_buckets)
        write_partitioned(
            out.withColumn("batch_id", F.lit(int(batch_id)))
            .repartition(n_buckets, "bucket"),
            docs_path, "bucket", "batch_id")
        # lineage from the files just written (no second DAG execution);
        # batch_id partition pruning keeps the re-scan to this batch only
        back = (
            spark.read.parquet(docs_path)
            .filter(F.col("batch_id") == int(batch_id))
            .drop("batch_id")
        )
        write_partitioned(
            lineage_rows(back).withColumn("batch_id", F.lit(int(batch_id)))
            .coalesce(1),
            lineage_path, "batch_id")

    return process_batch


def finalize_stream(spark: SparkSession, out_root: str, n_buckets: int = 32,
                    allow_overwrite: bool = False) -> dict:
    """Promote a DRAINED stream's output into the batch table.

    Bucket-level completion is only true once the stream has consumed all
    input (availableNow query terminated); this is therefore an explicit full
    rewrite of the streamed rows through ``TableIO.write`` — batch lineage
    then marks the buckets complete and ``run_job`` resumes past them. Never
    merge stream lineage into batch lineage directly: its rows describe
    per-micro-batch slices, not whole buckets (module doc).

    Guard: if the root's BATCH table already holds completed buckets that the
    streamed docs also hash into, the dynamic overwrite would silently drop
    those batch documents while lineage keeps marking the bucket complete —
    resume would skip them forever. Promotion therefore refuses when the
    streamed bucket set intersects ``completed_buckets()`` unless the caller
    passes ``allow_overwrite=True`` (legitimate when re-finalizing the same
    drained stream: the rewrite is then byte-identical)."""
    from ..io import TableIO

    docs_path, _ = stream_paths(out_root)
    # recompute buckets for the TARGET n_buckets — the stream may have been
    # written with a different bucket count
    streamed = with_bucket(
        spark.read.parquet(docs_path).drop("bucket", "batch_id"), n_buckets
    )
    io = TableIO(spark, out_root, n_buckets)
    done = io.completed_buckets()
    if done is not None and not allow_overwrite:
        clash = (
            streamed.select("bucket").distinct()
            .join(F.broadcast(done), "bucket", "left_semi")
            .limit(1)
            .collect()
        )
        if clash:
            raise ValueError(
                f"finalize_stream: batch table at {out_root} already has "
                f"completed lineage for bucket {clash[0]['bucket']} that the "
                "streamed rows also hash into; promoting would overwrite "
                "batch documents. Pass allow_overwrite=True only if re-"
                "finalizing the same drained stream."
            )
    return io.write(streamed.drop("bucket"))


def run_streaming_extraction(
    spark: SparkSession,
    source_dir: str,
    out_root: str,
    checkpoint_dir: str,
    n_buckets: int = 32,
    max_files_per_trigger: int = 4,
) -> StreamingQuery:
    """Stream docs parquet files from ``source_dir``; each micro-batch runs the
    batch pipeline body and writes idempotently (see module doc)."""
    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )
    return (
        stream.writeStream.foreachBatch(make_process_batch(spark, out_root, n_buckets))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
