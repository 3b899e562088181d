"""The engine's one storage sink: partitioned writes, lineage, resume, guards.

The reference's resumability is "skip PDF→image if Images/ non-empty"
(optimized_code/main.py:67-69) and its run metadata is a wall-clock print
(src/pdf_ocr_frcnn_tesseract_ocr.py:219-222). The engine generalizes both per
the north_rule: documents hash into ``bucket = pmod(xxhash64(doc_id), B)``;
``docs_out`` is written partitioned by bucket with *dynamic partition
overwrite* (idempotent — a re-run of a bucket replaces it byte-for-byte);
``lineage`` records (bucket, doc_range, doc_count, span_count, checksum) and a
restart left-anti-joins docs against completed buckets (broadcast — lineage is
tiny) so finished work is pruned at the scan.

This module is the engine's single sink: every partitioned store write in
the package (batch tables and streaming stores) goes through
``write_partitioned``, the one place that knows the storage format and the
overwrite policy. Locally that is parquet; on a real cluster it and the reads
map to ``spark.read/writeTo("iceberg.db.<table>")`` with identity
partitioning on the same columns (this build has no Iceberg runtime jar), and
nothing else changes. The curated outputs share ``bucket_lineage`` and the
resume path below with ``TableIO``; every store sidecar shares
``geometry_guard``, and every streaming store's read of earlier batches is
``prior_partitions``.
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from .config import DEFAULT_N_BUCKETS


def require_local(path: str, what: str = "output root") -> str:
    """The driver-side file probes in this module (``os.walk`` short-circuit,
    ``os.path.exists`` resume checks) and in ``streaming.dedup_stream`` see
    only the LOCAL filesystem. On an ``hdfs://`` / ``s3a://`` root they would
    find nothing and silently report an empty write (skipping the lineage
    row) instead of failing — so non-local URIs are rejected loudly here. A
    cluster deployment swaps these probes for the Hadoop FileSystem API (or
    Iceberg snapshot metadata) at this single choke point.

    Returns the bare local path (``file://`` prefix stripped)."""
    scheme = path.split("://", 1)[0] if "://" in path else ""
    if scheme not in ("", "file"):
        raise ValueError(
            f"{what} {path!r} is not a local path: this build's file probes "
            "are local-FS only (see io.require_local); use a file:// root or "
            "swap the probes for the Hadoop FileSystem API"
        )
    return path[len("file://"):] if path.startswith("file://") else path


def with_bucket(df: DataFrame, n_buckets: int = DEFAULT_N_BUCKETS,
                id_col: str = "doc_id") -> DataFrame:
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64(id_col), F.lit(n_buckets)).cast("int")
    )


def has_parquet(path: str) -> bool:
    """True iff ``path`` holds at least one parquet data file. The probe
    every resume/read-back decision must use instead of os.path.exists: a
    crash mid-write leaves the directory present with only _temporary
    droppings, and reading it would fail schema inference forever after."""
    return os.path.exists(path) and any(
        f.endswith(".parquet")
        for _, _, files in os.walk(path)
        for f in files
    )


def prior_partitions(spark: SparkSession, path: str, new: DataFrame,
                     key: str, bid: int) -> DataFrame | None:
    """The rows of the (batch_id, ``key``)-partitioned store at ``path``
    that micro-batch ``bid`` can match: batches strictly before it, in the
    ``key`` buckets the frame ``new`` touches. Both bounds are partition
    filters, so per-batch read cost tracks |batch| x store/buckets, and a
    re-delivered batch never reads its own partial write. The distinct-key
    collect is a bounded driver read (at most one value per bucket). None
    when the store has no files yet (the collect is skipped) or ``new``
    touches no bucket: no earlier row can match."""
    if not has_parquet(path):
        return None
    touched = [r[key] for r in new.select(key).distinct().collect()]
    if not touched:
        return None
    return spark.read.parquet(path).filter(
        (F.col("batch_id") < bid) & F.col(key).isin(touched)
    )


def parallel_actions(*thunks) -> None:
    """Run INDEPENDENT Spark actions concurrently from driver threads
    (optimization guide §2.6: actions are only sequential because driver
    code calls them sequentially; later jobs back-fill executors freed by
    the current job's tail). Each thunk issues one action — typically a
    store write whose job is dominated by task-commit/file latency with
    most executor cores idle, which is exactly when overlap pays.

    ONLY for actions with no read/write dependence on each other's outputs
    (each streaming body documents its grouping at the call site). Spark's
    scheduler handles concurrent jobs natively (FIFO back-fill). At most 3
    run at once — no caller passes more, and a longer list queues instead
    of starting one driver thread per thunk. Any thunk exception re-raises
    here after all threads finish, so a failed write still fails the
    batch."""
    if len(thunks) == 1:
        thunks[0]()
        return
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(len(thunks), 3)) as pool:
        futures = [pool.submit(t) for t in thunks]
    errs = [f.exception() for f in futures]
    for e in errs:
        if e is not None:
            raise e


def write_partitioned(df: DataFrame, path: str, *cols: str) -> None:
    """The one partitioned store write: ``df`` replaces exactly the
    partitions of ``path`` (by ``cols``) it holds rows for, so a re-run or
    a re-delivered micro-batch is idempotent.

    The caller sets the file layout on ``df``, by the kind of store:

    - a per-micro-batch store with a bucket key (``fb``/``vb``/``db``/``tb``
      in ``streaming/``) is written ``repartition(key)``: each key value
      lands in one task, so one file per partition, and AQE sizes the tasks
      to the data, where ``repartition(n, key)`` starts n tasks whatever the
      batch size;
    - a store partitioned by ``batch_id`` alone is written ``coalesce(1)``,
      one file per batch: the curate runner's 10,000-doc batches write their
      training partition in ~0.2 s that way on a 4-core host, against ~0.9 s
      for a 32-bucket fan-out; ROADMAP lists the stores whose batches are
      not bounded;
    - a batch table (``TableIO``, ``curate_io``, ``prep_io``, the streaming
      extraction sink) is written ``repartition(n_buckets, "bucket")``, one
      task per bucket with every core busy. AQE folds a
      ``repartition("bucket")`` of 101 extracted docs into one task that
      writes all 32 files in turn, and the perfbench ``extract`` op ran
      ~11 % slower that way (median of 7 pairs, ``local[4]``, 4-core host).
      The bucket lineage's few collected rows are written as they are.

    Dynamic overwrite is a per-write option, NOT ``spark.conf.set``:
    foreachBatch runs under a cloned micro-batch session whose conf
    snapshot ignores later driver conf mutations, so a session setting
    silently degrades to static overwrite (wiping prior partitions)."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*cols)
        .parquet(path)
    )


def weights_fingerprint(*tables) -> str:
    """md5 over one or more integer weight tables (``|``-separated): pins a
    model artifact's identity in a geometry sidecar without storing the
    table itself (a 2^20-bucket table would make the sidecar unreadable)."""
    return hashlib.md5("|".join(
        ",".join(str(int(w)) for w in t) for t in tables
    ).encode()).hexdigest()


def geometry_guard(out_root: str, geometry: dict,
                   filename: str = "_dedup_geometry.json") -> None:
    """Persist a store's decision-relevant parameters next to it on first
    use; refuse to run under a DIFFERENT geometry — probing or resuming a
    store built under other parameters (banding, bucket count, thresholds,
    model weights) silently mixes incompatible key or decision spaces.

    ``geometry`` is compared after a JSON round trip (tuples become
    lists), i.e. exactly as it will read back from the sidecar. The error
    names the store — its ``kind``, or the sidecar filename when the
    geometry has none — and every key that differs.

    One ADDITIVE upgrade is allowed: a dedup store written before cluster
    maintenance existed lacks the 'n_doc_buckets' key; enabling clusters on
    it only adds that key (the banding key space is unchanged), so the
    stored geometry is upgraded in place — the missing cluster log itself
    is then rebuilt by ``dedup_stream._rebuild_cluster_log``."""
    geometry = json.loads(json.dumps(geometry))
    path = os.path.join(out_root, filename)
    if os.path.exists(path):
        try:
            with open(path) as f:
                stored = json.load(f)
        except ValueError:
            stored = None  # crash mid-write left a truncated file: rewrite it
        if stored is not None:
            additive_upgrade = (
                stored != geometry
                and set(geometry) - set(stored) == {"n_doc_buckets"}
                and {k: geometry[k] for k in stored} == stored
            )
            if stored != geometry and not additive_upgrade:
                diff = ", ".join(
                    f"{k}: {stored.get(k)!r} -> {geometry.get(k)!r}"
                    for k in sorted(set(stored) | set(geometry))
                    if stored.get(k) != geometry.get(k)
                )
                store = geometry.get("kind") or stored.get("kind") or filename
                raise ValueError(
                    f"{store} geometry mismatch at {out_root}: the store was "
                    f"built with different parameters ({diff}); rebuild it "
                    "or restore the original parameters"
                )
            if not additive_upgrade:
                return  # exact match: nothing to rewrite
    os.makedirs(out_root, exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(geometry, f)
    os.replace(tmp, path)  # atomic: no truncated file survives a crash


def doc_checksum() -> F.Column:
    """Order-sensitive per-document content hash over the output span sequence."""
    return F.xxhash64(F.col("doc_id"), F.to_json(F.col("spans")))


def lineage_rows(docs_out_bucketed: DataFrame) -> DataFrame:
    """Per-bucket lineage: doc range, counts, xor-combined checksum (order-
    insensitive combine of order-sensitive per-doc hashes)."""
    return (
        docs_out_bucketed.withColumn("doc_hash", doc_checksum())
        .groupBy("bucket")
        .agg(
            F.min("doc_id").alias("doc_range_min"),
            F.max("doc_id").alias("doc_range_max"),
            F.count("*").alias("doc_count"),
            F.sum(F.size("spans")).alias("span_count"),
            F.expr("bit_xor(doc_hash)").alias("checksum"),
        )
    )


def bucket_lineage(audit: DataFrame, training: DataFrame | None,
                   id_col: str, text_col: str,
                   token_col: str) -> DataFrame:
    """Per-bucket lineage of a curated output: (bucket, doc_range_min,
    doc_range_max, doc_count, kept_count, token_count, checksum). Audit rows
    drive, so a bucket that kept nothing still gets a row. ``training`` is
    None when nothing was kept (no files written); token_count and the
    xor-combined (id, text) checksum are then NULL."""
    lin = audit.groupBy("bucket").agg(
        F.min(id_col).alias("doc_range_min"),
        F.max(id_col).alias("doc_range_max"),
        F.count("*").alias("doc_count"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("kept_count"),
    )
    if training is None:
        return lin.withColumn(
            "token_count", F.lit(None).cast("bigint")
        ).withColumn("checksum", F.lit(None).cast("bigint"))
    return lin.join(
        training.withColumn("h", F.xxhash64(F.col(id_col), F.col(text_col)))
        .groupBy("bucket")
        .agg(
            F.sum(token_col).alias("token_count"),
            F.expr("bit_xor(h)").alias("checksum"),
        ),
        "bucket", "left",
    )


# --- the one resume path -----------------------------------------------------
# A bucketed batch output is complete per bucket once its lineage row exists.
# A run reads the completed set once (completed_buckets), prunes its frames to
# the rest (pending_buckets), writes them with write_partitioned, computes
# lineage over what it just wrote minus the completed set (read_written), and
# records it last (write_lineage): a crash anywhere before that re-runs the
# bucket, and the dynamic overwrite makes the re-run idempotent.

def completed_buckets(spark: SparkSession,
                      lineage_path: str) -> DataFrame | None:
    """Buckets with a lineage row, or None when there are none. has_parquet,
    not exists: a crash DURING the lineage write leaves the directory
    present but file-less, and resume must re-run, not wedge on schema
    inference."""
    if not has_parquet(lineage_path):
        return None
    return spark.read.parquet(lineage_path).select("bucket").distinct()


def _exclude(df: DataFrame, done: DataFrame | None) -> DataFrame:
    # broadcast anti-join: the completed-bucket set is <= n_buckets rows
    return df if done is None else df.join(F.broadcast(done), "bucket",
                                           "left_anti")


def pending_buckets(frames: list[DataFrame], done: DataFrame | None,
                    fail_after_buckets: int | None = None
                    ) -> list[DataFrame] | None:
    """``frames`` (each with a ``bucket`` column) pruned to the buckets not
    in ``done``. ``fail_after_buckets`` simulates a mid-job crash for
    restart tests: only the first k pending buckets of ``frames[0]`` (the
    frame that covers every bucket) are kept. None when ``frames[0]`` has
    nothing pending — a limit-1 emptiness probe, not a full count."""
    frames = [_exclude(f, done) for f in frames]
    if fail_after_buckets is not None:
        keep = [
            r["bucket"]
            for r in frames[0].select("bucket").distinct()
            .orderBy("bucket").collect()
        ][:fail_after_buckets]
        frames = [f.filter(F.col("bucket").isin(keep)) for f in frames]
    if frames[0].isEmpty():
        return None
    return frames


def read_written(spark: SparkSession, path: str,
                 done: DataFrame | None) -> DataFrame | None:
    """This run's buckets of a table just written (lineage is computed from
    the files — one cheap scan — not by re-running the plan). None when the
    table holds no files: an empty write leaves nothing a read could infer
    a schema from."""
    if not has_parquet(path):
        return None
    return _exclude(spark.read.parquet(path), done)


def write_lineage(spark: SparkSession, lineage_path: str,
                  lin: DataFrame) -> list:
    """Collect the per-bucket lineage rows (<= n_buckets, bounded at any
    scale — run stats come for free) and record them with per-bucket
    dynamic overwrite, not append: a second write over the same root
    replaces each touched bucket's row instead of stacking duplicates."""
    rows = lin.collect()
    if rows:
        write_partitioned(spark.createDataFrame(rows, lin.schema),
                          lineage_path, "bucket")
    return rows


class TableIO:
    """Parquet-backed local implementation of the Iceberg-shaped sink."""

    def __init__(self, spark: SparkSession, root: str, n_buckets: int = DEFAULT_N_BUCKETS):
        self.spark = spark
        self.root = require_local(root, "TableIO root")
        self.n_buckets = n_buckets
        self.docs_out_path = os.path.join(self.root, "docs_out")
        self.lineage_path = os.path.join(self.root, "lineage")

    # --- resume ---------------------------------------------------------
    def completed_buckets(self) -> DataFrame | None:
        return completed_buckets(self.spark, self.lineage_path)

    # --- write ----------------------------------------------------------
    def write(self, docs_out: DataFrame,
              exclude_buckets: DataFrame | None = None) -> dict:
        """Idempotent per-bucket overwrite + lineage (the resume path above).

        The extraction DAG executes exactly once (the parquet write); lineage
        is then computed from the files just written. ``exclude_buckets``
        (bucket DataFrame) limits lineage to this run's buckets when the
        output directory already holds completed ones. A write that produced
        no files (empty input) records no lineage.
        Returns {'doc_count', 'span_count', 'buckets'} for the written set.
        """
        write_partitioned(
            with_bucket(docs_out, self.n_buckets)
            .repartition(self.n_buckets, "bucket"),
            self.docs_out_path, "bucket",
        )
        back = read_written(self.spark, self.docs_out_path, exclude_buckets)
        if back is None:
            return {"doc_count": 0, "span_count": 0, "buckets": 0}
        rows = write_lineage(self.spark, self.lineage_path, lineage_rows(back))
        return {
            "doc_count": sum(r["doc_count"] for r in rows),
            "span_count": sum(r["span_count"] for r in rows),
            "buckets": len(rows),
        }

    # --- read -----------------------------------------------------------
    def read_docs_out(self) -> DataFrame:
        return self.spark.read.parquet(self.docs_out_path)

    def read_lineage(self) -> DataFrame:
        return self.spark.read.parquet(self.lineage_path)


def run_job(
    spark: SparkSession,
    docs: DataFrame,
    out_root: str,
    n_buckets: int = DEFAULT_N_BUCKETS,
    fail_after_buckets: int | None = None,
) -> dict:
    """End-to-end resumable job: prune completed buckets, extract, write.

    Extraction is per-document, so the INPUT is pruned before the pipeline
    runs; ``fail_after_buckets`` simulates a mid-job crash for the restart
    test: only the first k pending buckets are processed this run.
    """
    from .pipeline import run_extraction

    io = TableIO(spark, out_root, n_buckets)
    done = io.completed_buckets()
    pending = pending_buckets([with_bucket(docs, n_buckets)], done,
                              fail_after_buckets)
    if pending is None:
        return {"docs_processed": 0, "skipped": True}
    docs_out = run_extraction(spark, pending[0].drop("bucket"))
    stats = io.write(docs_out, exclude_buckets=done)
    return {"docs_processed": stats["doc_count"], "skipped": False}
