"""Incremental BM25 posting-index maintenance for ARRIVING documents —
the streaming form of functions.retrieval.build_term_index, completing the
pattern that every at-rest store in this engine has a streaming twin
(doc dedup: dedup_stream; segment dedup: segment_stream; media dedup:
media_sig_fn; now the keyword index).

Store layout (the segment_stream fingerprint-store pattern):

* ``postings/batch_id=K/tb=B`` — (doc_id, dl, term, tf) posting rows of
  batch K, partitioned by arrival batch and term hash bucket tb =
  md5(term) % n_buckets. A query prunes to its terms' tb values across
  ALL batch partitions — per-query read cost tracks |terms|/n_buckets of
  the store, independent of corpus size.
* ``stats/batch_id=K`` — batch K's (n_docs, total_tokens). Global BM25
  stats are the SUM over batch rows: a bounded driver read of n_batches
  1-row partitions (rebase collapses them when file counts matter).

Semantics: documents are IMMUTABLE arrivals (the training-corpus setting —
upstream streaming dedup already collapses re-encounters of the same
content); each doc_id must be delivered in exactly one batch. Re-delivery
of a BATCH is idempotent: both writes are dynamic-partition-overwrite
keyed by batch_id, so a replayed batch replaces exactly its own
partitions and the global stats never double-count. In-place document
UPDATES are out of scope by design — versioned postings would force every
query through a doc-version anti-join whose lookup side cannot be
partition-pruned by term.

Query-time: ``bm25_topk_incr`` scores the pruned postings with the exact
integer-closed contract of the batch routes (retrieval.score_postings),
so streaming-built and batch-built indexes over the same corpus return
bit-identical rows — pinned by test and by the shared DuckDB oracle.

File-count growth: n_batches x touched-tb partitions per query. Two
remedies, one in-band and one manual:

* **Scheduled in-place rebase** (``rebase_every=K`` on make_index_batch /
  run_streaming_index — the cluster-log scheduled-compaction pattern):
  after every K-th batch the foreachBatch body folds all delta partitions
  into a tb-partitioned BASE under the same root (``base_<bid>/``) and
  advances ``_rebase_watermark.json``; queries transparently read
  base + deltas-past-the-watermark, so per-query file counts stay
  <= (1 + K) x touched buckets forever. The watermark write is the commit
  point (os.replace — atomic on POSIX): a crash mid-rebase leaves the old
  watermark and the old base/deltas fully consistent, and the half-written
  new base dir is overwritten by the next attempt. A re-delivered batch
  that was already folded (bid <= watermark) is a NO-OP — its rows live in
  the base; rewriting its delta partitions would double-count.
* ``rebase`` rewrites the accumulated store into the batch
  build_term_index layout at a DESTINATION root — the manual form; the
  caller swaps paths; the streaming root is left untouched."""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from ..functions import retrieval
from ..io import geometry_guard, has_parquet, require_local, write_partitioned

N_TB_BUCKETS = 16

_WATERMARK = "_rebase_watermark.json"


def _read_watermark(out_root: str) -> tuple[int, str | None]:
    """(through_batch, base_dir_abspath) — (-1, None) before any rebase."""
    p = os.path.join(out_root, _WATERMARK)
    if not os.path.exists(p):
        return -1, None
    with open(p) as f:
        d = json.load(f)
    return int(d["through_batch"]), os.path.join(out_root, d["base_dir"])


def index_paths(out_root: str) -> tuple[str, str]:
    return (
        os.path.join(out_root, "postings"),
        os.path.join(out_root, "stats"),
    )


def make_index_batch(spark: SparkSession, out_root: str,
                     id_col: str = "doc_id", text_col: str = "text",
                     n_buckets: int = N_TB_BUCKETS,
                     rebase_every: int | None = None):
    """foreachBatch body, exposed for direct re-delivery testing. Per
    batch: one doc_term_pairs map over the batch (batch-sized, no corpus
    read at all — index maintenance is append-shaped), one partitioned
    write, one 1-row stats write. The store's geometry records n_buckets;
    a resume under a different bucketing refuses loudly instead of
    writing postings a query would prune incorrectly.

    ``rebase_every=K`` folds the delta partitions into the tb-partitioned
    base after every K-th batch (bid + 1 divisible by K) — module
    docstring; keyed on bid so a re-delivered batch re-rebases
    idempotently (the watermark check makes the second fold a no-op)."""
    if rebase_every is not None and rebase_every < 1:
        raise ValueError(f"rebase_every must be >= 1, got {rebase_every}")
    out_root = require_local(out_root, "streaming-index out_root")
    post_path, stats_path = index_paths(out_root)
    geometry = {"kind": "bm25-index", "n_buckets": n_buckets}

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        bid = int(batch_id)
        if bid <= _read_watermark(out_root)[0]:
            return  # already folded into the base: re-writing the delta
            # partitions would double-count the batch (module docstring)
        if batch_df.isEmpty():
            return
        geometry_guard(out_root, geometry, filename="_index_geometry.json")
        pairs = retrieval.doc_term_pairs(
            batch_df, id_col, text_col, n_buckets
        ).localCheckpoint()  # feeds the stats agg AND the store write
        write_partitioned(
            pairs.withColumn("batch_id", F.lit(bid)).repartition("tb"),
            post_path, "batch_id", "tb")
        write_partitioned(
            pairs.groupBy("doc_id").agg(F.first("dl").alias("dl"))
            .agg(
                F.count("*").cast("bigint").alias("n_docs"),
                F.sum("dl").cast("bigint").alias("total_tokens"),
            )
            .withColumn("batch_id", F.lit(bid))
            .coalesce(1),
            stats_path, "batch_id")
        if rebase_every is not None and (bid + 1) % rebase_every == 0:
            rebase_in_place(spark, out_root, through=bid)

    return process_batch


def rebase_in_place(spark: SparkSession, out_root: str, through: int) -> None:
    """Fold every delta partition with batch_id <= ``through`` (plus the
    previous base, if any) into a fresh tb-partitioned base under
    ``out_root/base_<through>``, advance the watermark atomically, then
    delete the folded deltas and the old base. Idempotent: through <= the
    current watermark is a no-op; a crash before the watermark write
    leaves the store exactly as it was (the half-written base dir is
    overwritten by the next attempt)."""
    out_root = require_local(out_root, "out_root")
    through_old, base_old = _read_watermark(out_root)
    if through <= through_old:
        return
    post_path, stats_path = index_paths(out_root)

    parts = []
    sparts = []
    if base_old is not None:
        parts.append(
            spark.read.parquet(os.path.join(base_old, "postings"))
            .select("doc_id", "dl", "term", "tf", "tb"))
        sparts.append(
            spark.read.parquet(os.path.join(base_old, "stats"))
            .select("n_docs", "total_tokens"))
    if has_parquet(post_path):
        parts.append(
            spark.read.parquet(post_path)
            .filter(F.col("batch_id") <= through)
            .select("doc_id", "dl", "term", "tf", "tb"))
    if has_parquet(stats_path):
        sparts.append(
            spark.read.parquet(stats_path)
            .filter(F.col("batch_id") <= through)
            .select("n_docs", "total_tokens"))
    if not parts:
        return  # nothing to fold

    base_new = os.path.join(out_root, f"base_{through}")
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p)
    (
        merged.repartition("tb")
        .write.partitionBy("tb").mode("overwrite")
        .parquet(os.path.join(base_new, "postings"))
    )
    stats = sparts[0]
    for s in sparts[1:]:
        stats = stats.unionByName(s)
    (
        stats.agg(
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("total_tokens").cast("bigint").alias("total_tokens"),
        )
        .write.mode("overwrite")
        .parquet(os.path.join(base_new, "stats"))
    )
    # COMMIT POINT: queries switch to the new base the instant this lands
    tmp = os.path.join(out_root, _WATERMARK + ".tmp")
    with open(tmp, "w") as f:
        json.dump({"through_batch": through,
                   "base_dir": f"base_{through}"}, f)
    os.replace(tmp, os.path.join(out_root, _WATERMARK))
    # cleanup: folded deltas and the dethroned base are now unreachable
    for root in (post_path, stats_path):
        if not os.path.isdir(root):
            continue
        for d in os.listdir(root):
            if d.startswith("batch_id=") and \
                    int(d.split("=", 1)[1]) <= through:
                shutil.rmtree(os.path.join(root, d), ignore_errors=True)
    if base_old is not None:
        shutil.rmtree(base_old, ignore_errors=True)


def read_index_stats(spark: SparkSession, out_root: str) -> tuple[int, int]:
    """Global (n_docs, total_tokens) = the base's 1-row aggregate (if a
    rebase has run) + the per-batch stats rows past the watermark — a
    bounded driver read of <= 1 + rebase_every 1-row partitions."""
    out_root = require_local(out_root, "out_root")
    stats_path = index_paths(out_root)[1]
    through, base = _read_watermark(out_root)
    n = tt = 0
    if base is not None:
        row = spark.read.parquet(os.path.join(base, "stats")).head()
        n, tt = int(row["n_docs"]), int(row["total_tokens"])
    if has_parquet(stats_path):
        row = (
            spark.read.parquet(stats_path)
            .filter(F.col("batch_id") > through)
            .agg(F.sum("n_docs").alias("n"),
                 F.sum("total_tokens").alias("tt"))
            .head()
        )
        n += int(row["n"] or 0)
        tt += int(row["tt"] or 0)
    return n, tt


def bm25_topk_incr(spark: SparkSession, out_root: str, terms: list[str],
                   k: int = 20, n_buckets: int = N_TB_BUCKETS) -> DataFrame:
    """BM25 top-k over everything indexed so far: prune the store to the
    query terms' tb partitions (across all batches), then the shared
    integer-closed scoring tail — bit-identical to the batch index routes
    over the same corpus."""
    out_root = require_local(out_root, "out_root")
    post_path = index_paths(out_root)[0]
    uniq = sorted(set(terms))
    through, base = _read_watermark(out_root)
    n_docs, total_tokens = read_index_stats(spark, out_root)
    if n_docs == 0:
        return spark.createDataFrame(
            [], "doc_id bigint, dl bigint, n_matched int, score_micros bigint"
        )
    pred = (
        F.col("tb").isin(retrieval.query_buckets(uniq, n_buckets))
        & F.col("term").isin(uniq)
    )
    parts = []
    if base is not None:
        parts.append(
            spark.read.parquet(os.path.join(base, "postings")).filter(pred)
            .select("doc_id", "dl", "term", "tf"))
    if has_parquet(post_path):
        parts.append(
            spark.read.parquet(post_path)
            .filter(pred & (F.col("batch_id") > through))
            .select("doc_id", "dl", "term", "tf"))
    if not parts:
        return spark.createDataFrame(
            [], "doc_id bigint, dl bigint, n_matched int, score_micros bigint"
        )
    post = parts[0]
    for p in parts[1:]:
        post = post.unionByName(p)
    return retrieval.score_postings(post, uniq, n_docs, total_tokens, k)


def rebase(spark: SparkSession, out_root: str, dest_root: str) -> None:
    """Collapse the accumulated per-batch store into the batch
    build_term_index layout at dest_root (postings/tb=B, 1-row stats) —
    one shuffle on tb over the full posting table, run when per-query
    file counts (n_batches x touched buckets) start to matter. The
    caller swaps query paths; the streaming root is left untouched.
    Respects a scheduled-rebase base: folds base + deltas past the
    watermark, exactly what queries see."""
    out_root = require_local(out_root, "out_root")
    dest_root = require_local(dest_root, "dest_root")
    post_path, stats_path = index_paths(out_root)
    through, base = _read_watermark(out_root)
    parts, sparts = [], []
    if base is not None:
        parts.append(spark.read.parquet(os.path.join(base, "postings"))
                     .select("doc_id", "dl", "term", "tf", "tb"))
        sparts.append(spark.read.parquet(os.path.join(base, "stats"))
                      .select("n_docs", "total_tokens"))
    if has_parquet(post_path):
        parts.append(spark.read.parquet(post_path)
                     .filter(F.col("batch_id") > through)
                     .select("doc_id", "dl", "term", "tf", "tb"))
        sparts.append(spark.read.parquet(stats_path)
                      .filter(F.col("batch_id") > through)
                      .select("n_docs", "total_tokens"))
    merged, stats = parts[0], sparts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p)
    for s in sparts[1:]:
        stats = stats.unionByName(s)
    (
        merged
        .repartition("tb")
        .write.partitionBy("tb").mode("overwrite")
        .parquet(os.path.join(dest_root, "postings"))
    )
    (
        stats.agg(
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("total_tokens").cast("bigint").alias("total_tokens"),
        )
        .write.mode("overwrite")
        .parquet(os.path.join(dest_root, "stats"))
    )


def run_streaming_index(spark: SparkSession, source: DataFrame,
                        out_root: str, checkpoint: str,
                        id_col: str = "doc_id", text_col: str = "text",
                        n_buckets: int = N_TB_BUCKETS,
                        rebase_every: int | None = None) -> StreamingQuery:
    """Wire a streaming source through the index-maintenance batch body
    with exactly-once foreachBatch semantics (availableNow callers drain
    the backlog; long-running callers leave the query active).
    ``rebase_every=K`` schedules the in-place base fold (module
    docstring) so per-query file counts stay bounded without operator
    intervention."""
    pb = make_index_batch(spark, out_root, id_col=id_col,
                          text_col=text_col, n_buckets=n_buckets,
                          rebase_every=rebase_every)
    return (
        source.writeStream.foreachBatch(pb)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
