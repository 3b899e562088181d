"""The extraction pipeline: explode -> extract (mapInPandas) -> reassemble.

Plan shape (exactly two executor-boundary crossings):

    docs ──read(parquet/Iceberg)──►
      ├─ resume filter: broadcast left-anti join against lineage buckets (J3)
      ├─ explode(spans) → (doc_id, kind, text, media_ref, offset)
      ├─ repartition(4 × shuffle.partitions, doc_id, offset)   ← shuffle #1
      │     offset = salt: spans of a media-heavy doc spread across ALL
      │     partitions, so one 2000-span doc cannot skew the kernel stage;
      │     4x-finer tasks smooth per-PAGE cost skew that byte-based planning
      │     (and AQE coalescing) cannot see — the kernel is CPU-bound per row.
      ├─ mapInPandas(extract_spans_batch)  — ONE Arrow pass handles both span
      │     kinds and emits FLAT rows; flat columns serialize vectorized
      │     (returning nested array<struct> from Python measured ~2.5x slower)
      ├─ union with a per-doc null seed row (docs whose spans are empty /
      │     all-boilerplate / unknown-kind must stay present in the output)
      └─ groupBy(doc_id): array_sort(collect_list(struct(offset, sub, …)))
            → drop seed nulls → dense output offsets        ← shuffle #2

At 100 TB the same plan holds: the explode fan-out is map-side, the kernel
stage is embarrassingly parallel, AQE coalesces the post-aggregation
partitions, and the only per-key state is one document's output spans
(bounded by document size, not table size).

Considered and measured alternatives (kept out):

* A JVM text path: text spans stripped by a Catalyst array expression
  shuffle-free in the scan stage, only media spans crossing into Python.
  It lost every interleaved run. 1,000 synth docs on a 4-core host,
  local[4], noop sink, best of 4: 7.70 s (runs 7.70-8.93) against the fused
  kernel's 5.25 s (5.25-6.82); 4,000 docs at local[32]: 4.55 s against
  3.08 s. The per-block regexes inside higher-order functions run ~3x
  slower on the JVM than CPython's ``re``. It was deleted; re-measure it on
  a cluster where the text shuffle or Python worker memory is the limit.
* Skew-splitting the salt: only docs with > T spans routed through the
  repartition, light docs flowing scan→kernel shuffle-free. On local inputs
  the scan-split granularity then bounds kernel parallelism and stragglers
  erase the saved shuffle (±15%, within this sandbox's noise); on a cluster
  with 128MB splits it may win — revisit when input sizes justify it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .operators.extract import FLAT_SCHEMA, make_extract_spans_batch


def explode_spans(docs: DataFrame) -> DataFrame:
    """docs -> one row per span. ``explode`` not ``posexplode``: the span's own
    ``offset`` is the authoritative reading-order key (deterministic, unlike
    the reference's unsorted os.listdir — src/pdf_ocr_frcnn_tesseract_ocr.py:123)."""
    return docs.select("doc_id", F.explode("spans").alias("span")).select(
        "doc_id", "span.kind", "span.text", "span.media_ref", "span.offset"
    )


def _seed(docs: DataFrame) -> DataFrame:
    """One null row per doc so empty/all-boilerplate docs stay present."""
    return docs.select(
        "doc_id",
        F.lit(-1).alias("offset"),
        F.lit(None).cast("int").alias("sub"),
        F.lit(None).cast("string").alias("kind"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
    )


def extract_flat(spark: SparkSession, docs: DataFrame,
                 n_partitions: int | None = None,
                 variant: str = "src") -> DataFrame:
    """docs -> flat extracted-span rows (doc_id, offset, sub, kind, text,
    media_ref), including one null seed row per doc: the fused kernel, one
    mapInPandas pass for both span kinds after the salt repartition."""
    n_partitions = n_partitions or 4 * int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    exploded = explode_spans(docs).repartition(n_partitions, "doc_id", "offset")
    flat = exploded.mapInPandas(
        make_extract_spans_batch(variant), schema=FLAT_SCHEMA
    )
    return flat.unionByName(_seed(docs))


def reassemble(flat: DataFrame) -> DataFrame:
    """Flat extracted rows -> docs_out(doc_id, spans) with dense offsets in
    (source offset, within-page position) order."""
    arr = F.array_sort(
        F.collect_list(F.struct("offset", "sub", "kind", "text", "media_ref"))
    )
    g = flat.groupBy("doc_id").agg(arr.alias("arr"))
    kept = F.filter(F.col("arr"), lambda x: x["kind"].isNotNull())
    spans = F.transform(
        kept,
        lambda s, i: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )
    return g.select("doc_id", spans.alias("spans"))


def run_extraction(
    spark: SparkSession,
    docs: DataFrame,
    n_partitions: int | None = None,
    variant: str = "src",
) -> DataFrame:
    """docs(doc_id, spans) -> docs_out(doc_id, spans) with extracted content.

    ``variant``: "src" (Current Version figure semantics) or "optimized"
    (optimized_code's figure-detect-on-masked-array semantics)."""
    return reassemble(extract_flat(spark, docs, n_partitions, variant))
