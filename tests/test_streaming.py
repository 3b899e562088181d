"""Streaming form: output equals batch, micro-batch re-delivery is idempotent,
checkpoint restart processes only new files, and stream lineage can never
satisfy the batch resume path."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from complete_ocr_spark.io import TableIO, run_job
from complete_ocr_spark.pipeline import run_extraction
from complete_ocr_spark.schemas import DOC_SCHEMA
from complete_ocr_spark.streaming import run_streaming_extraction
from complete_ocr_spark.streaming.stream import make_process_batch, stream_paths
from complete_ocr_spark.synth import make_docs


def _rows(docs):
    return [(d["doc_id"], [tuple(s.values()) for s in d["spans"]]) for d in docs]


def _spans_by_doc(df):
    return {
        r["doc_id"]: [tuple(s) for s in r["spans"]]
        for r in df.select("doc_id", "spans").collect()
    }


def test_streaming_equals_batch_and_is_idempotent(spark, tmp_path):
    docs = make_docs(40)
    rows = _rows(docs)
    src = str(tmp_path / "src")
    os.makedirs(src)
    spark.createDataFrame(rows[:20], schema=DOC_SCHEMA).write.parquet(src + "/f1")
    spark.createDataFrame(rows[20:30], schema=DOC_SCHEMA).write.parquet(src + "/f2")

    out_root = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = run_streaming_extraction(
        spark, source_dir=src + "/*", out_root=out_root,
        checkpoint_dir=ckpt, n_buckets=4, max_files_per_trigger=1,
    )
    q.awaitTermination(300)

    docs_path, lineage_path = stream_paths(out_root)
    got = _spans_by_doc(spark.read.parquet(docs_path))
    want = _spans_by_doc(
        run_extraction(spark, spark.createDataFrame(rows[:30], schema=DOC_SCHEMA))
    )
    assert got == want

    # --- re-delivery: re-running a committed batch must change nothing ----
    # (foreachBatch is at-least-once; (bucket, batch_id) overwrite makes the
    # redo byte-idempotent). Re-deliver exactly batch 0's doc set.
    b0_ids = {
        r["doc_id"]
        for r in spark.read.parquet(docs_path).filter("batch_id = 0").collect()
    }
    assert b0_ids
    b0_rows = [r for r in rows[:30] if r[0] in b0_ids]
    n_before = spark.read.parquet(docs_path).count()
    pb = make_process_batch(spark, out_root, n_buckets=4)
    pb(spark.createDataFrame(b0_rows, schema=DOC_SCHEMA), 0)
    assert spark.read.parquet(docs_path).count() == n_before
    assert _spans_by_doc(spark.read.parquet(docs_path)) == got
    lin = spark.read.parquet(lineage_path)
    assert lin.groupBy("batch_id", "bucket").count().filter("count > 1").count() == 0

    # --- checkpoint restart: only the new file is processed ---------------
    spark.createDataFrame(rows[30:], schema=DOC_SCHEMA).write.parquet(src + "/f3")
    q2 = run_streaming_extraction(
        spark, source_dir=src + "/*", out_root=out_root,
        checkpoint_dir=ckpt, n_buckets=4, max_files_per_trigger=1,
    )
    q2.awaitTermination(300)
    final = spark.read.parquet(docs_path)
    assert final.count() == 40  # no duplicates across restarts
    assert _spans_by_doc(final) == _spans_by_doc(
        run_extraction(spark, spark.createDataFrame(rows, schema=DOC_SCHEMA))
    )

    # --- finalize: promote drained stream output to the batch table -------
    from complete_ocr_spark.streaming.stream import finalize_stream

    stats = finalize_stream(spark, out_root, n_buckets=4)
    assert stats["doc_count"] == 40
    all_df = spark.createDataFrame(rows, schema=DOC_SCHEMA)
    r = run_job(spark, all_df, out_root, n_buckets=4)
    assert r == {"docs_processed": 0, "skipped": True}  # batch resumes past it


def test_stream_lineage_never_marks_batch_buckets_complete(spark, tmp_path):
    """Half-streamed data must not let a later batch run skip documents:
    stream lineage lives under lineage_stream, which batch resume ignores."""
    docs = make_docs(30)
    rows = _rows(docs)
    src = str(tmp_path / "src")
    os.makedirs(src)
    # stream only HALF the table into out_root
    spark.createDataFrame(rows[:15], schema=DOC_SCHEMA).write.parquet(src + "/f1")
    out_root = str(tmp_path / "out")
    q = run_streaming_extraction(
        spark, source_dir=src + "/*", out_root=out_root,
        checkpoint_dir=str(tmp_path / "ckpt"), n_buckets=4,
    )
    q.awaitTermination(300)
    # every bucket now has a partial slice streamed
    docs_path, lineage_path = stream_paths(out_root)
    assert spark.read.parquet(lineage_path).select("bucket").distinct().count() > 0

    # a batch run over the FULL table into the same root must process all 30
    all_df = spark.createDataFrame(rows, schema=DOC_SCHEMA)
    r = run_job(spark, all_df, out_root, n_buckets=4)
    assert r == {"docs_processed": 30, "skipped": False}
    io = TableIO(spark, out_root, 4)
    assert io.read_docs_out().count() == 30
    # and a rerun resumes off BATCH lineage only
    r2 = run_job(spark, all_df, out_root, n_buckets=4)
    assert r2 == {"docs_processed": 0, "skipped": True}
    # streamed artifacts untouched by the batch write
    assert spark.read.parquet(docs_path).count() == 15


def test_finalize_refuses_to_clobber_batch_buckets(spark, tmp_path):
    """ADVICE r2: batch-then-finalize must not silently drop batch docs whose
    buckets the streamed data also hashes into."""
    import pytest

    from complete_ocr_spark.streaming.stream import finalize_stream

    docs = make_docs(30)
    rows = _rows(docs)
    out_root = str(tmp_path / "out")

    # batch job first: all buckets complete in batch lineage
    all_df = spark.createDataFrame(rows, schema=DOC_SCHEMA)
    assert run_job(spark, all_df, out_root, n_buckets=4)["docs_processed"] == 30

    # then a stream writes (a subset of) the same docs into the same root
    src = str(tmp_path / "src")
    os.makedirs(src)
    spark.createDataFrame(rows[:10], schema=DOC_SCHEMA).write.parquet(src + "/f1")
    q = run_streaming_extraction(
        spark, source_dir=src + "/*", out_root=out_root,
        checkpoint_dir=str(tmp_path / "ckpt"), n_buckets=4,
    )
    q.awaitTermination(300)

    with pytest.raises(ValueError, match="completed lineage"):
        finalize_stream(spark, out_root, n_buckets=4)
    # batch table untouched by the refused promotion
    assert TableIO(spark, out_root, 4).read_docs_out().count() == 30

    # explicit override still promotes (rewrites the streamed buckets)
    stats = finalize_stream(spark, out_root, n_buckets=4, allow_overwrite=True)
    assert stats["buckets"] > 0


def test_double_write_keeps_single_lineage_row_per_bucket(spark, docs_df, tmp_path):
    """ADVICE r2: lineage uses per-bucket dynamic overwrite, so writing the
    same root twice without exclude_buckets cannot stack duplicate rows."""
    d = str(tmp_path / "twice_lineage")
    run_job(spark, docs_df, d, n_buckets=4)
    io = TableIO(spark, d, 4)
    first = {r["bucket"]: r["checksum"] for r in io.read_lineage().collect()}
    io.write(run_extraction(spark, docs_df))  # second write, no exclude
    lin = io.read_lineage()
    assert lin.groupBy("bucket").count().filter("count > 1").count() == 0
    assert {r["bucket"]: r["checksum"] for r in lin.collect()} == first


def test_write_of_empty_frame_short_circuits(spark, docs_df, tmp_path):
    """An empty write returns zeros instead of leaving an unreadable path."""
    io = TableIO(spark, str(tmp_path / "empty"), 4)
    empty = run_extraction(spark, docs_df).filter("doc_id = 'no-such-doc'")
    assert io.write(empty) == {"doc_count": 0, "span_count": 0, "buckets": 0}
