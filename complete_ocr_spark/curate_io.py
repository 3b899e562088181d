"""Curation-integrated output writer (round-5 verdict #5): one pass from a
raw document table to the TRAINING table + the AUDIT table, through the
TableIO conventions (bucketed dynamic-overwrite writes, per-bucket lineage,
broadcast anti-join resume).

* ``training`` — the kept documents, with their duplicated segments
  STRIPPED (functions.dedup.strip_dup_segments over the kept set): doc_id,
  text_clean, n_kept, n_dropped, bucket. What a tokenizer consumes.
* ``audit``    — EVERY input document with its curation verdict (keep,
  drop_reason, and each gate's measured signal): the judge of any dropped
  doc can see which gate fired and at what value. kept + every drop_reason
  reconciles to the input row count by construction (curate_corpus emits
  exactly one row per input doc).
* ``lineage``  — per-bucket (doc_range, doc_count, token_count, checksum)
  over the training table, the TableIO lineage shape with tokens in place
  of spans.

Resume semantics: curation DECISIONS are global (every dedup tier compares
docs across the whole corpus), so the curate computation always runs over
the FULL input — deterministic, byte-identical across runs (curate_corpus
docstring) — and only the WRITES are pruned to buckets without a lineage
row. A crashed run resumes by rewriting exactly the missing buckets; a
completed run is a no-op. This mirrors run_job: recomputing the decision
plan is the price of global dedup; rewriting finished output is not.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .config import DEFAULT_N_BUCKETS
from .functions.curate import curate_corpus
from .functions.dedup import strip_dup_chunks, strip_dup_segments
from .io import (
    bucket_lineage,
    completed_buckets,
    geometry_guard,
    pending_buckets,
    read_written,
    require_local,
    weights_fingerprint,
    with_bucket,
    write_lineage,
    write_partitioned,
)

# curate_kwargs that do not change the curation DECISIONS (or cannot be
# fingerprinted): excluded from the persisted geometry so a resume under a
# different scratch path or embedding frame identity is not refused.
# ``embeddings``/``doc_media``/``media``/``media_clusters`` are DataFrames;
# their PRESENCE is recorded as the boolean ``semantic``/``media_tier`` keys
# — the decision-relevant facts — since the frames themselves have no stable
# serialization.
_GEOMETRY_EXCLUDED = ("embeddings", "near_dup_sig_store", "doc_media",
                      "media", "media_clusters", "media_sig_store",
                      "clf_weights")  # identity pinned via the clf fingerprint

AUDIT_COLS = ("lang", "quality", "n_tokens", "dup_line_frac",
              "top_bigram_frac", "sym_ratio", "keep", "drop_reason")


def curated_paths(out_root: str) -> tuple[str, str, str]:
    return (
        os.path.join(out_root, "training"),
        os.path.join(out_root, "audit"),
        os.path.join(out_root, "curated_lineage"),
    )


def curate_kwargs_geometry(curate_kwargs: dict) -> dict:
    """The geometry keys a curate_corpus kwargs dict contributes to a batch
    output's sidecar (write_curated, prep_io.write_training_data): the
    optional tiers' presence, the model gate's weight identity, and every
    fingerprintable kwarg (module constant ``_GEOMETRY_EXCLUDED``)."""
    clf = curate_kwargs.get("clf_weights")
    return {
        "semantic": curate_kwargs.get("embeddings") is not None,
        "media_tier": curate_kwargs.get("doc_media") is not None,
        "clf": None if clf is None else {
            "n_buckets": len(clf), "fingerprint": weights_fingerprint(clf),
        },
        **{k: v for k, v in sorted(curate_kwargs.items())
           if k not in _GEOMETRY_EXCLUDED},
    }


def write_curated(spark: SparkSession, docs: DataFrame, out_root: str,
                  id_col: str = "doc_id", text_col: str = "text",
                  n_buckets: int = DEFAULT_N_BUCKETS,
                  segment_scheme: str = "stride",
                  seg_win: int = 20, seg_stride: int = 10,
                  cdc_avg_chunk: int = 8, cdc_min_tokens: int = 5,
                  cdc_window_k: int = 3,
                  fail_after_buckets: int | None = None,
                  **curate_kwargs) -> dict:
    """Curate + strip + write (module doc). ``curate_kwargs`` pass through
    to curate_corpus (thresholds, embeddings=...); ``segment_scheme`` picks
    BOTH the coverage detector inside curation and the strip consumer that
    cleans the kept docs' text (stride -> strip_dup_segments, cdc ->
    strip_dup_chunks — the cleaned text always matches the detector the
    drop decision used); ``fail_after_buckets`` simulates a mid-job crash
    for restart tests.

    Returns {'docs_in', 'kept', 'buckets_written', 'skipped'}."""
    out_root = require_local(out_root, "write_curated out_root")
    train_path, audit_path, lin_path = curated_paths(out_root)
    # resume-parameter guard: the lineage probe below prunes writes by bucket
    # id, which is only meaningful if this run's n_buckets / scheme /
    # thresholds match the run that wrote those buckets — a silent mismatch
    # would anti-join new bucket ids against old ones and leave a training
    # table whose partitions were produced under inconsistent parameters.
    geometry_guard(out_root, {
        "kind": "curated",
        "n_buckets": n_buckets,
        "segment_scheme": segment_scheme,
        "seg_win": seg_win, "seg_stride": seg_stride,
        "cdc_avg_chunk": cdc_avg_chunk, "cdc_min_tokens": cdc_min_tokens,
        "cdc_window_k": cdc_window_k,
        **curate_kwargs_geometry(curate_kwargs),
    }, filename="_curated_geometry.json")

    def _bucket(df):
        # io.with_bucket — ONE copy of the bucket rule keeps curated buckets
        # aligned with docs_out buckets forever
        return with_bucket(df, n_buckets, id_col=id_col)

    done = completed_buckets(spark, lin_path)
    curated = curate_corpus(
        docs, id_col, text_col,
        segment_scheme=segment_scheme, seg_win=seg_win,
        seg_stride=seg_stride, cdc_avg_chunk=cdc_avg_chunk,
        cdc_min_tokens=cdc_min_tokens, cdc_window_k=cdc_window_k,
        **curate_kwargs
    ).localCheckpoint(eager=False)  # feeds audit AND the kept/strip branch
    kept = curated.filter("keep").select(id_col, text_col)
    if segment_scheme == "cdc":
        stripped = strip_dup_chunks(
            kept, id_col, text_col, avg_chunk=cdc_avg_chunk,
            min_tokens=cdc_min_tokens, window_k=cdc_window_k,
        )
    else:
        stripped = strip_dup_segments(
            kept, id_col, text_col, win=seg_win, stride=seg_stride
        )
    training = _bucket(stripped.withColumnRenamed("doc_id", id_col))
    audit_cols = list(AUDIT_COLS)
    if "dup_media_frac" in curated.columns:  # media tier on: audit its signal
        audit_cols.insert(audit_cols.index("keep"), "dup_media_frac")
    if "model_quality_micros" in curated.columns:  # model tier on: ditto
        audit_cols.insert(audit_cols.index("keep"), "model_quality_micros")
    audit = _bucket(curated.select(id_col, *audit_cols))
    # global decisions, pruned writes: only pending buckets are written
    pending = pending_buckets([audit, training], done, fail_after_buckets)
    if pending is None:
        return {"docs_in": 0, "kept": 0, "buckets_written": 0, "skipped": True}
    audit, training = pending
    for frame, path in ((training, train_path), (audit, audit_path)):
        write_partitioned(frame.repartition(n_buckets, "bucket"), path,
                          "bucket")
    rows = write_lineage(spark, lin_path, bucket_lineage(
        read_written(spark, audit_path, done),
        read_written(spark, train_path, done),  # None: all docs dropped
        id_col, "text_clean", "n_kept",
    ))
    return {
        "docs_in": sum(r["doc_count"] for r in rows),
        "kept": sum(r["kept_count"] for r in rows),
        "buckets_written": len(rows),
        "skipped": False,
    }


def read_training(spark: SparkSession, out_root: str) -> DataFrame:
    return spark.read.parquet(curated_paths(require_local(out_root, "root"))[0])


def read_audit(spark: SparkSession, out_root: str) -> DataFrame:
    return spark.read.parquet(curated_paths(require_local(out_root, "root"))[1])
