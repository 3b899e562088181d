"""Incremental SEGMENT-level exact dedup for ARRIVING documents (round-5
verdict #4) — the streaming form of functions.dedup.segment_dup_spans.

Doc-level streaming dedup (dedup_stream) flags whole near-duplicate
documents; this module flags duplicated SPANS: an arriving document's
window fingerprints are probed against a persisted fingerprint store of
everything that arrived before it, so a boilerplate paragraph first seen in
batch 3 is detected in every later batch without rescanning old text.

Semantics (deterministic, so re-delivery is idempotent):

    window w of doc D in micro-batch k is a DUP span iff some doc C holds
    the same win-token fingerprint and C arrived STRICTLY earlier —
    (batch(C), C) < (k, D) lexicographically; ``dup_of`` is the earliest
    such holder (the canonical owner, arrival-order form of
    segment_dup_spans' min-doc rule). Adjacent duplicate windows against
    the same owner merge into maximal spans (gaps-and-islands on the
    stride grid), exactly as in batch.

Store layout (the dedup_stream signature-table pattern):

* ``seg_fps/batch_id=K/fb=B`` — (doc, ws, we, fp) span fingerprints
  (stride windows or content-defined chunks, per ``scheme``),
  partitioned by arrival batch and fingerprint bucket
  fb = first-16-bits-of-fp mod ``n_fp_buckets``. The per-batch probe reads
  only the fb buckets its OWN fingerprints hash into (io.prior_partitions).
  Size n_fp_buckets ~ the corpus partition count at deployment.
* ``seg_spans/batch_id=K`` — the merged duplicate spans detected for batch
  K's docs: (doc_id, dup_of, span_start, span_end, n_windows).

Both writes are dynamic-partition-overwrite keyed by batch_id, so a
re-delivered batch recomputes from ``batch_id < k`` partitions (its own
partial write is excluded by the filter) and replaces exactly its own
partitions. The fingerprint store IS the whole state — no derived index to
rebuild on restart.

Skew: the corpus side collapses to ONE canonical-owner row per fingerprint
before the probe join (``_first_arrival_dups``, the segment_dup_spans canon
rule), so the join is |batch windows| x 1 per matching fp.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F
from pyspark.sql.streaming import StreamingQuery

from ..functions.dedup import (
    _strip_spans,
    cdc_chunk_fingerprints,
    segment_fingerprints,
)
from ..io import (
    geometry_guard,
    has_parquet,
    parallel_actions,
    prior_partitions,
    require_local,
    write_partitioned,
)

N_FP_BUCKETS = 16


def segment_paths(out_root: str) -> tuple[str, str]:
    return (
        os.path.join(out_root, "seg_fps"),
        os.path.join(out_root, "seg_spans"),
    )


def clean_path(out_root: str) -> str:
    return os.path.join(out_root, "seg_clean")


def _fb(col, n_fp_buckets: int):
    return F.pmod(
        F.conv(F.substring(col, 1, 4), 16, 10).cast("bigint"),
        F.lit(n_fp_buckets),
    ).cast("int")


def _first_arrival_dups(spark: SparkSession, fp_path: str, fps: DataFrame,
                       bid: int) -> DataFrame:
    """The rows of batch ``bid``'s fingerprints ``fps`` (doc, fp, batch_id,
    fb, ...) that an EARLIER arrival also holds, with ``o`` = the canonical
    owner: min (batch_id, doc) over the prior store rows and this batch. A
    groupBy partial agg, so a fingerprint held by 10^7 earlier docs reaches
    the join as one row."""
    corpus = fps.select("doc", "fp", "batch_id")
    prior = prior_partitions(spark, fp_path, fps, "fb", bid)
    if prior is not None:
        corpus = prior.select("doc", "fp", "batch_id").unionByName(corpus)
    owner = corpus.groupBy("fp").agg(
        F.min(F.struct("batch_id", "doc")).alias("o")
    )
    return fps.join(owner, "fp").filter(F.struct("batch_id", "doc") > F.col("o"))


def make_segment_dedup_batch(spark: SparkSession, out_root: str,
                             id_col: str = "doc_id", text_col: str = "text",
                             win: int = 20, stride: int = 10,
                             n_fp_buckets: int = N_FP_BUCKETS,
                             scheme: str = "stride",
                             cdc_avg_chunk: int = 8, cdc_min_tokens: int = 5,
                             cdc_window_k: int = 3,
                             emit_clean: bool = False):
    """foreachBatch body, exposed for direct re-delivery testing.

    ``scheme`` picks the span detector, exactly as in curate_corpus:
    ``"stride"`` probes win-token stride-grid window fingerprints
    (segment_fingerprints + gaps-and-islands merge); ``"cdc"`` probes
    content-defined chunk fingerprints (cdc_chunk_fingerprints) — the
    shift-robust route: a copied paragraph arriving behind an insertion
    still collides with the earlier arrival's chunks, where every grid
    window lands off alignment. Chunk spans are emitted as-is (chunks are
    content-maximal, matching the batch operator). The fingerprint store's
    geometry records the scheme, so a resume under the other detector
    refuses loudly instead of probing an incompatible fingerprint space.

    ``emit_clean=True`` additionally writes ``seg_clean/batch_id=K``:
    every batch doc re-emitted with its detected duplicate spans STRIPPED
    (doc_id, text_clean, n_kept, n_dropped — the strip consumer applied
    online, under whichever detector ``scheme`` selected), so the stream's
    output IS the cleaned training text, not just the span report. Docs
    with no detected spans keep their full normalized token stream. Same
    dynamic-overwrite idempotence as the other writes."""
    if scheme not in ("stride", "cdc"):
        raise ValueError(f"unknown segment scheme {scheme!r}")
    out_root = require_local(out_root, "streaming-segment-dedup out_root")
    fp_path, span_path = segment_paths(out_root)
    if scheme == "stride":
        geometry = {
            "kind": "segment",
            "win": win,
            "stride": stride,
            "n_fp_buckets": n_fp_buckets,
        }
    else:
        geometry = {
            "kind": "segment-cdc",
            "avg_chunk": cdc_avg_chunk,
            "min_tokens": cdc_min_tokens,
            "window_k": cdc_window_k,
            "n_fp_buckets": n_fp_buckets,
        }

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        bid = int(batch_id)
        if batch_df.isEmpty():
            return
        geometry_guard(out_root, geometry)
        # the fingerprint pass feeds three consumers (touched-bucket probe,
        # owner join, store write) — materialize the batch-sized result
        # once. Both schemes normalize to (doc_id, ws, we, fp): ws/we =
        # span extent (stride windows: [ws, ws+win); cdc: chunk bounds).
        if scheme == "stride":
            raw = segment_fingerprints(
                batch_df, id_col, text_col, win, stride
            ).withColumn("we", (F.col("ws") + win).cast("int"))
        else:
            raw = cdc_chunk_fingerprints(
                batch_df, id_col, text_col, avg_chunk=cdc_avg_chunk,
                min_tokens=cdc_min_tokens, window_k=cdc_window_k,
            ).select(
                "doc_id",
                F.col("chunk_start").alias("ws"),
                F.col("chunk_end").alias("we"),
                "fp",
            )
        fps = (
            raw.withColumnRenamed("doc_id", "doc")
            .withColumn("batch_id", F.lit(bid))
            .withColumn("fb", _fb(F.col("fp"), n_fp_buckets))
            .localCheckpoint()
        )
        hits = _first_arrival_dups(spark, fp_path, fps, bid).select(
            F.col("doc").alias("doc_id"), F.col("o.doc").alias("dup_of"),
            "ws", "we",
        )
        if scheme == "stride":
            run = F.expr(f"ws div {stride}") - F.row_number().over(
                W.partitionBy("doc_id", "dup_of").orderBy("ws")
            )
            spans = (
                hits.withColumn("g", run)
                .groupBy("doc_id", "dup_of", "g")
                .agg(
                    F.min("ws").alias("span_start"),
                    (F.max("ws") + win).cast("int").alias("span_end"),
                    F.count("*").alias("n_windows"),
                )
                .drop("g")
            )
        else:  # chunks are content-maximal: one span per dup chunk
            spans = hits.select(
                "doc_id", "dup_of",
                F.col("ws").alias("span_start"),
                F.col("we").alias("span_end"),
                F.lit(1).cast("bigint").alias("n_windows"),
            )
        if emit_clean:
            # spans feed the report write AND the clean join — batch-sized;
            # materialize once instead of re-running the probe per consumer
            spans = spans.localCheckpoint()

        def _write_fps():
            write_partitioned(
                fps.select("doc", "ws", "we", "fp", "batch_id", "fb")
                .repartition("fb"),
                fp_path, "batch_id", "fb")

        def _write_spans():
            write_partitioned(
                spans.withColumn("batch_id", F.lit(bid)).coalesce(1),
                span_path, "batch_id")

        # independent stores (guide §2.6): the fps write touches only its
        # own batch_id=bid partitions; the spans plan reads the fp store
        # PRUNED to batch_id < bid (plus the checkpointed batch fps), so
        # neither job reads what the other writes — overlap them. Crash
        # mid-batch leaves any subset, exactly as before; re-delivery
        # overwrites both deterministically.
        parallel_actions(_write_fps, _write_spans)
        if emit_clean:
            cleaned = _strip_spans(
                batch_df, id_col, text_col,
                spans.select("doc_id", "span_start", "span_end"),
            )
            write_partitioned(
                cleaned.withColumn("batch_id", F.lit(bid)).coalesce(1),
                clean_path(out_root), "batch_id")

    return process_batch


def read_segment_spans(spark: SparkSession, out_root: str,
                       id_type: str = "bigint") -> DataFrame:
    """All duplicate spans detected so far: (doc_id, dup_of, span_start,
    span_end, n_windows, batch_id). Empty (typed) frame before the first
    non-trivial batch."""
    span_path = segment_paths(require_local(out_root, "out_root"))[1]
    if not has_parquet(span_path):
        return spark.createDataFrame(
            [],
            f"doc_id {id_type}, dup_of {id_type}, span_start int, "
            f"span_end int, n_windows bigint, batch_id int",
        )
    return spark.read.parquet(span_path)


def read_clean_docs(spark: SparkSession, out_root: str,
                    id_type: str = "bigint") -> DataFrame:
    """The cleaned per-batch output (emit_clean=True): (doc_id, text_clean,
    n_kept, n_dropped, batch_id) for EVERY doc of every processed batch.
    Empty typed frame before the first batch."""
    path = clean_path(require_local(out_root, "out_root"))
    if not has_parquet(path):
        return spark.createDataFrame(
            [],
            f"doc_id {id_type}, text_clean string, n_kept bigint, "
            f"n_dropped bigint, batch_id int",
        )
    return spark.read.parquet(path)


def run_streaming_segment_dedup(
    spark: SparkSession, source: DataFrame, out_root: str,
    checkpoint: str, id_col: str = "doc_id", text_col: str = "text",
    win: int = 20, stride: int = 10,
    n_fp_buckets: int = N_FP_BUCKETS, scheme: str = "stride",
    cdc_avg_chunk: int = 8, cdc_min_tokens: int = 5, cdc_window_k: int = 3,
    emit_clean: bool = False,
) -> StreamingQuery:
    """Wire a streaming source through the segment-dedup batch body with
    exactly-once foreachBatch semantics (availableNow callers drain the
    backlog; long-running callers leave the query active)."""
    pb = make_segment_dedup_batch(
        spark, out_root, id_col=id_col, text_col=text_col,
        win=win, stride=stride, n_fp_buckets=n_fp_buckets,
        scheme=scheme, cdc_avg_chunk=cdc_avg_chunk,
        cdc_min_tokens=cdc_min_tokens, cdc_window_k=cdc_window_k,
        emit_clean=emit_clean,
    )
    return (
        source.writeStream.foreachBatch(pb)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
