"""Incremental corpus data card for arriving documents — the streaming
twin of functions.report.corpus_report, so a continuously-refreshed corpus
always has current release stats without a full recompute.

The twin is cheap by construction: every report metric is a per-doc SUM
(n_docs and total are both additive over any partition of the corpus into
batches), so the per-batch body is ONE map + bounded-key groupBy over the
BATCH only, the store is the per-batch report rows partitioned by arrival
batch, and the promoted view is a groupBy(metric) SUM over report-sized
rows (#metrics x #batches — never corpus-sized).  No cross-batch evidence,
no promotion pass: stream == batch == SQL under ANY arrival order.

Store layout: ``report/batch_id=K`` — (metric, n_docs, total) for batch
K, dynamic-overwrite partitioned by arrival batch so a re-delivered batch
replaces exactly its own rows (exactly-once under retries).

Geometry: the lang column name (present or absent) — merging stores built
with different metric schemas would silently mix two data-card standards,
so it refuses loudly instead (the package-wide geometry-guard contract).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from ..functions.report import corpus_report
from ..io import geometry_guard, has_parquet, require_local, write_partitioned


def report_paths(out_root: str) -> str:
    return os.path.join(require_local(out_root, "report out_root"), "report")


def make_report_batch(spark: SparkSession, out_root: str,
                      id_col: str = "doc_id", text_col: str = "text",
                      lang_col: str | None = None):
    """foreachBatch body, exposed for direct re-delivery testing."""
    out_root = require_local(out_root, "report out_root")
    path = report_paths(out_root)
    geometry = {
        "kind": "report-stream",
        "lang_col": lang_col,
    }

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        bid = int(batch_id)
        if batch_df.isEmpty():
            return
        geometry_guard(out_root, geometry, filename="_report_geometry.json")
        rep = corpus_report(batch_df, id_col, text_col, lang_col=lang_col)
        write_partitioned(rep.withColumn("batch_id", F.lit(bid)).coalesce(1),
                          path, "batch_id")

    return process_batch


def read_report_incr(spark: SparkSession, out_root: str) -> DataFrame:
    """The corpus data card over everything arrived so far: (metric,
    n_docs, total) — per-batch partial rows summed per metric (both
    columns are additive), equal to batch corpus_report over the union of
    all arrived batches under ANY arrival order."""
    path = report_paths(out_root)
    if not has_parquet(path):
        return spark.createDataFrame(
            [], "metric string, n_docs bigint, total bigint")
    return (
        spark.read.parquet(path)
        .groupBy("metric")
        .agg(
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("total").cast("bigint").alias("total"),
        )
    )


def run_streaming_report(spark: SparkSession, source: DataFrame,
                         out_root: str, checkpoint: str,
                         **kwargs) -> StreamingQuery:
    """Wire a streaming source through the report batch body with
    exactly-once foreachBatch semantics (availableNow callers drain the
    backlog). ``kwargs`` as in make_report_batch."""
    pb = make_report_batch(spark, out_root, **kwargs)
    return (
        source.writeStream.foreachBatch(pb)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
