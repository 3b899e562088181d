"""Incremental corpus CURATION for arriving documents (round-6 verdict #1)
— the foreachBatch composition of the whole streaming-dedup stack into the
product a 100 TB pipeline actually runs.

Batch curation (functions.curate.curate_corpus + curate_io.write_curated)
recomputes global dedup over the FULL input on every run; at corpus scale
the recompute-per-refresh is the real cost. This runner instead curates
each arriving micro-batch against PERSISTED evidence:

per batch k, in the batch-curation tier order:

1. heuristics — the shared ``annotate_gates``/``heuristic_reason`` map
   (empty/lang/quality/dup_lines/bigram_repeat/symbol_ratio): pure per-doc
   signals, final at batch time, literally the same Column expressions the
   batch path evaluates.
2. exact dedup — md5 fingerprints of the heuristic survivors probed
   against a persisted ``fps/batch_id=K/fb=B`` store with the
   strictly-earlier (batch, doc) rule (the segment_stream store pattern:
   fb-partition-pruned probe, groupBy-min canonical owner before the join,
   dynamic-overwrite idempotent). Final at batch time: later arrivals can
   never become EARLIER owners.
3. segment dedup — exact survivors feed the real
   streaming.segment_stream.make_segment_dedup_batch body (its own
   fingerprint store under ``seg/``); this batch's detected spans are read
   back and stripped (dedup._strip_spans) — ONE pass that yields both the
   duplicated-span coverage for the optional ``dup_segments`` gate and the
   cleaned training text. Also final at batch time (same earliest-owner
   argument).
4. near dedup — segment survivors feed the real
   streaming.dedup_stream.make_dedup_batch body (signature + band-index
   stores and the ONLINE CLUSTER LOG under ``dedup/``); this batch's flags
   are the batch-time ``near_dup`` evidence.

Per batch the runner writes ``audit/batch_id=K/bucket=B`` (every batch doc
with its gate signals + batch-time decision), ``training/batch_id=K/
bucket=B`` (kept docs, duplicated spans stripped) and
``curated_lineage/batch_id=K/bucket=B`` — the curate_io conventions,
batch-partitioned so re-delivery overwrites exactly its own rows.

PROMOTION (the q_dup_clusters_incr pattern, curate-shaped): batch-time
near-dup flags are pairwise "has a strictly-earlier match" evidence, but
batch curation drops every non-minimum member of each near-dup CLUSTER — a
doc can be kept at arrival and only later be revealed as a cluster
non-minimum (a later arrival bridges its cluster to one with a smaller
minimum, or connects it through a chain). ``read_curated_incr`` therefore
resolves the online cluster log (dedup_stream.read_cluster_labels — proven
equal to a full recluster at every prefix) and flips exactly those kept
docs to ``near_dup``. Promotion only ever moves keep -> drop; every other
tier's batch-time decision is final.

EQUALITY INVARIANT (tested, and the driver query's oracle): under
monotone-id arrival — every batch's doc ids exceed the previous batch's,
i.e. ids are ingest sequence numbers, the natural crawl layout — the
promoted view equals batch ``curate_corpus`` over the union of all arrived
batches AT EVERY PREFIX: strictly-earlier == smaller id, so the stores'
arrival-order owner rules coincide with the batch min-id canon, and the
cluster-log promotion equals batch connected components under ANY order.
(Under non-monotone arrival the runner remains deterministic and
idempotent; its canon is first-arrival instead of min-id — the honest
streaming semantics.)

5. semantic dedup (optional, round 8) — near survivors with an embedding
   row feed the real streaming.semantic_stream body (SRP band + vector +
   verified-pair stores under ``sem/``); batch-time flags (strictly-earlier
   verified match) are the ``semantic_dup`` evidence. Because the batch
   tier runs over NEAR-DUP SURVIVORS — a set that itself changes under
   near-dup promotion — promotion reruns connected components over the
   persisted verified pairs RESTRICTED to current upstream survivors
   (|pairs|-sized, never corpus-sized): exact batch semantics at every
   prefix.
6. media dedup (optional, round 8) — the arriving docs' media links are
   persisted under ``links/``; media payloads not seen in a strictly
   earlier batch feed the real dedup_stream body with the PERCEPTUAL
   signature kernel (media_dedup.media_sig_fn) under ``media/`` — the
   whole banded/flag/cluster-log stack on visual hashes. Batch-time gate:
   fraction of the doc's links flagged so far > max_dup_media_frac =>
   ``media_dup``. Promotion recomputes the fraction against the media
   CLUSTER LOG's non-minimums (labels = component min media_ref — the
   same canon batch clusters use, so the media gate is exact at every
   prefix under ANY arrival order; the gate is a per-doc test against
   corpus-level media evidence, independent of which docs survive).

Scale shape: per batch = the cheap-gate map + one fb-pruned fp probe + the
segment, dedup, semantic and media bodies' own pruned probes — cost tracks
|batch|, never the corpus. ``curate_corpus`` remains the full-recompute
reference; the promoted view equals it at every prefix (monotone-id
arrival for the lexical tiers; the semantic CC and media gate are
arrival-order-free).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from ..config import DEFAULT_N_BUCKETS
from ..curate_io import AUDIT_COLS  # one audit schema, batch and stream
from ..functions.curate import annotate_gates, heuristic_reason
from ..functions.dedup import _strip_spans, normalized
from ..io import (
    bucket_lineage,
    geometry_guard,
    has_parquet,
    parallel_actions,
    require_local,
    weights_fingerprint,
    with_bucket,
    write_partitioned,
)
from .dedup_stream import (
    make_dedup_batch,
    read_cluster_labels,
    read_flags,
)
from .segment_stream import (
    _fb,
    _first_arrival_dups,
    make_segment_dedup_batch,
    read_segment_spans,
)

N_FP_BUCKETS = 16


def curate_stream_paths(out_root: str) -> dict[str, str]:
    out_root = require_local(out_root, "curate-stream out_root")
    return {
        "fps": os.path.join(out_root, "fps"),
        "seg": os.path.join(out_root, "seg"),
        "dedup": os.path.join(out_root, "dedup"),
        "sem": os.path.join(out_root, "sem"),
        "media": os.path.join(out_root, "media"),
        "links": os.path.join(out_root, "links"),
        "training": os.path.join(out_root, "training"),
        "audit": os.path.join(out_root, "audit"),
        "lineage": os.path.join(out_root, "curated_lineage"),
    }


def make_curate_batch(spark: SparkSession, out_root: str,
                      id_col: str = "doc_id", text_col: str = "text",
                      languages: tuple[str, ...] = ("en",),
                      min_quality: float = 0.6,
                      max_dup_line_frac: float = 0.3,
                      max_top_bigram_frac: float = 0.1,
                      min_bigram_tokens: int = 20,
                      max_symbol_ratio: float = 0.25,
                      max_dup_segment_frac: float | None = None,
                      segment_scheme: str = "stride",
                      seg_win: int = 20, seg_stride: int = 10,
                      cdc_avg_chunk: int = 8, cdc_min_tokens: int = 5,
                      cdc_window_k: int = 3,
                      max_hamming: int = 3, n_blocks: int = 4,
                      n_fp_buckets: int = N_FP_BUCKETS,
                      n_buckets: int = DEFAULT_N_BUCKETS,
                      sig_fn=None,
                      maintenance_every: int | None = None,
                      embeddings: DataFrame | None = None,
                      emb_id_col: str = "vec_id",
                      emb_vec_col: str = "embedding",
                      emb_dim: int = 64,
                      semantic_threshold: float = 0.95,
                      sem_bits: int = 10, sem_tables: int = 2,
                      doc_media: DataFrame | None = None,
                      media: DataFrame | None = None,
                      max_dup_media_frac: float = 0.5,
                      media_max_hamming: int = 3,
                      media_n_blocks: int = 8,
                      clf_weights: list[int] | None = None,
                      clf_bias_micros: int = 0,
                      clf_threshold_micros: int = 0,
                      lm_w1_micros: list[int] | None = None,
                      lm_w2_micros: list[int] | None = None,
                      max_avg_nll_micros: int = 0):
    """foreachBatch body, exposed for direct re-delivery testing (module
    doc). Parameters mirror curate_corpus' lexical tiers; ``sig_fn`` and
    ``maintenance_every`` pass through to the near-dup body
    (dedup_stream.make_dedup_batch). The full parameter set persists in
    ``_curate_geometry.json`` and a resume under different parameters
    refuses loudly (probing stores built under other thresholds silently
    mixes incompatible decision spaces — the write_curated guard, stream
    form)."""
    out_root = require_local(out_root, "curate-stream out_root")
    paths = curate_stream_paths(out_root)
    geometry = {
        "kind": "curate-stream",
        "languages": languages, "min_quality": min_quality,
        "max_dup_line_frac": max_dup_line_frac,
        "max_top_bigram_frac": max_top_bigram_frac,
        "min_bigram_tokens": min_bigram_tokens,
        "max_symbol_ratio": max_symbol_ratio,
        "max_dup_segment_frac": max_dup_segment_frac,
        "segment_scheme": segment_scheme,
        "seg_win": seg_win, "seg_stride": seg_stride,
        "cdc_avg_chunk": cdc_avg_chunk, "cdc_min_tokens": cdc_min_tokens,
        "cdc_window_k": cdc_window_k,
        "max_hamming": max_hamming, "n_blocks": n_blocks,
        "n_fp_buckets": n_fp_buckets, "n_buckets": n_buckets,
        # the optional corpus-evidence tiers (round 8): presence + the
        # decision-relevant parameters (the frames themselves have no
        # stable serialization — curate_io._GEOMETRY_EXCLUDED rationale)
        "semantic": embeddings is not None,
        "emb_dim": emb_dim, "semantic_threshold": semantic_threshold,
        "sem_bits": sem_bits, "sem_tables": sem_tables,
        "media_tier": doc_media is not None,
        "max_dup_media_frac": max_dup_media_frac,
        "media_max_hamming": media_max_hamming,
        "media_n_blocks": media_n_blocks,
        # model gate (round 8): the weight ARTIFACT is decision-relevant
        # state, so its identity (not the list — geometry stays readable)
        # pins the store: resuming under different weights would mix two
        # quality standards (the decon_stream benchmark-fingerprint rule)
        "clf": None if clf_weights is None else {
            "n_buckets": len(clf_weights),
            "fingerprint": weights_fingerprint(clf_weights),
            "bias_micros": int(clf_bias_micros),
            "threshold_micros": int(clf_threshold_micros),
        },
        # perplexity gate (round 8): the LM table pair's identity, same rule
        "lm": None if lm_w1_micros is None else {
            "n_buckets": len(lm_w1_micros),
            "fingerprint": weights_fingerprint(lm_w1_micros,
                                               lm_w2_micros or []),
            "max_avg_nll_micros": int(max_avg_nll_micros),
        },
    }
    heur = heuristic_reason(
        text_col, languages, min_quality, max_dup_line_frac,
        max_top_bigram_frac, min_bigram_tokens, max_symbol_ratio,
    )
    if clf_weights is not None:
        # the shared gate semantics: same margin column batch curation
        # computes (prep.quality_margin_col appends it in process_batch
        # step 1 below, before _hr is materialized)
        heur = heur.when(
            ~(
                F.col("model_quality_micros").isNotNull()
                & (F.col("model_quality_micros")
                   >= F.lit(int(clf_threshold_micros)))
            ),
            "model_quality",
        )
    if (lm_w1_micros is None) != (lm_w2_micros is None):
        raise ValueError(
            "perplexity gate needs BOTH lm_w1_micros and lm_w2_micros")
    if lm_w1_micros is not None:
        # batch curation's perplexity rule: NULL avg (no bigram evidence)
        # passes; above-bound surprise drops
        heur = heur.when(
            F.col("avg_nll_micros").isNotNull()
            & (F.col("avg_nll_micros") > F.lit(int(max_avg_nll_micros))),
            "perplexity",
        )
    # the real streaming bodies own their stores (and their own geometry
    # guards) under nested roots
    pb_seg = make_segment_dedup_batch(
        spark, paths["seg"], id_col=id_col, text_col=text_col,
        win=seg_win, stride=seg_stride, scheme=segment_scheme,
        cdc_avg_chunk=cdc_avg_chunk, cdc_min_tokens=cdc_min_tokens,
        cdc_window_k=cdc_window_k,
    )
    pb_near = make_dedup_batch(
        spark, paths["dedup"], id_col=id_col, text_col=text_col,
        max_hamming=max_hamming, n_blocks=n_blocks,
        maintain_clusters=True, sig_fn=sig_fn,
        maintenance_every=maintenance_every,
    )
    pb_sem = pb_media = None
    if embeddings is not None:
        from .semantic_stream import make_semantic_dedup_batch

        pb_sem = make_semantic_dedup_batch(
            spark, paths["sem"], id_col=id_col, vec_col=emb_vec_col,
            dim=emb_dim, threshold=semantic_threshold,
            n_bits=sem_bits, n_tables=sem_tables,
        )
    if doc_media is not None:
        from ..functions.media_dedup import media_sig_fn

        if media is None:
            raise ValueError(
                "doc_media requires the media table (payload rows) — the "
                "incremental tier signs arriving media itself")
        pb_media = make_dedup_batch(
            spark, paths["media"], id_col="media_ref", text_col="payload",
            max_hamming=media_max_hamming, n_blocks=media_n_blocks,
            maintain_clusters=True, sig_fn=media_sig_fn,
        )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        bid = int(batch_id)
        if batch_df.isEmpty():
            return
        geometry_guard(out_root, geometry, filename="_curate_geometry.json")
        id_type = dict(batch_df.dtypes)[id_col]
        # 1. heuristic gates (+ the model margin when the tier is on): one
        # narrow map, materialized once (feeds the survivor filter AND the
        # audit write). The exact-tier fingerprint (+ its store bucket)
        # rides the SAME checkpoint as survivor-only columns — a separate
        # fps checkpoint was one more driver-coordinated job per batch for
        # rows already materialized here (round 9; md5 count unchanged:
        # only heuristic survivors get one)
        ann = annotate_gates(batch_df.select(id_col, text_col), text_col)
        if clf_weights is not None:
            from ..functions.prep import quality_margin_col

            ann = quality_margin_col(
                ann, text_col, clf_weights, bias_micros=clf_bias_micros,
            )
        if lm_w1_micros is not None:
            from ..functions.lm import lm_margin_col

            ann = lm_margin_col(ann, text_col, lm_w1_micros, lm_w2_micros)
        ann = (
            ann.withColumn("_hr", heur)
            .withColumn(
                "fp",
                F.when(F.col("_hr").isNull(),
                       F.md5(normalized(F.col(text_col)))),
            )
            .withColumn("fb", _fb(F.col("fp"), n_fp_buckets))
            .localCheckpoint()
        )
        passed = ann.filter(F.col("_hr").isNull()).select(id_col, text_col)
        # 2. exact tier: fp store probe with the strictly-earlier rule
        # (the segment_stream owner probe: fb-pruned scan, canon owner
        # groupBy); a narrow projection of the checkpointed rows, not a
        # new job
        fps = (
            ann.filter(F.col("_hr").isNull())
            .select(F.col(id_col).alias("doc"), "fp", "fb")
            .withColumn("batch_id", F.lit(bid))
        )
        exact_drops = (
            _first_arrival_dups(spark, paths["fps"], fps, bid)
            .select("doc")
            .localCheckpoint()  # feeds the survivor anti-join AND the audit
        )
        # the fp-store write touches only batch_id=bid partitions and the
        # survivor checkpoint's plan reads only the ann/exact_drops
        # checkpoints — independent actions, overlapped (guide §2.6)
        _surv = {}

        def _write_fps():
            write_partitioned(fps.repartition(n_fp_buckets, "fb"),
                              paths["fps"], "batch_id", "fb")

        def _ck_surv():
            _surv["df"] = passed.join(
                exact_drops.withColumnRenamed("doc", id_col),
                id_col, "left_anti",
            ).localCheckpoint()  # feeds the segment body, strip, near body

        parallel_actions(_write_fps, _ck_surv)
        exact_surv = _surv["df"]
        # 3. segment tier: the real segment_stream body over the exact
        # survivors; this batch's spans read back for coverage + stripping
        pb_seg(exact_surv, bid)
        spans = read_segment_spans(spark, paths["seg"], id_type).filter(
            F.col("batch_id") == bid
        )
        stripped = _strip_spans(
            exact_surv, id_col, text_col,
            spans.select("doc_id", "span_start", "span_end"),
        ).localCheckpoint()  # feeds coverage gate AND training write
        seg_drops = None
        seg_surv = exact_surv
        if max_dup_segment_frac is not None:
            # a filter over the CHECKPOINTED stripped frame — each consumer
            # (survivor anti-join, audit join) re-reads materialized rows,
            # so its own checkpoint was one more per-batch job for nothing
            seg_drops = (
                stripped.filter(
                    F.col("n_dropped")
                    / F.greatest(F.col("n_kept") + F.col("n_dropped"), F.lit(1))
                    > max_dup_segment_frac
                )
                .select(F.col("doc_id").alias(id_col))
            )
            seg_surv = exact_surv.join(seg_drops, id_col, "left_anti")
        # 4. near tier: the real dedup_stream body (stores + cluster log);
        # this batch's flags are the batch-time near_dup evidence
        pb_near(seg_surv, bid)
        # a batch_id-pruned read of the flag store just written — both
        # consumers (the sem-input anti-join and the audit join) re-read
        # the one tiny flag file; a checkpoint here was another per-batch
        # job that cost more than the re-read it saved
        near_flagged = (
            read_flags(spark, paths["dedup"], id_type)
            .filter(F.col("batch_id") == bid)
            .select(F.col("doc").alias(id_col))
        )
        # 5. semantic tier (module doc #5): near survivors with embeddings
        sem_flagged = None
        if pb_sem is not None:
            from .semantic_stream import read_semantic_flags

            sem_in = (
                seg_surv.join(near_flagged, id_col, "left_anti")
                .select(id_col)
                .join(
                    embeddings.select(
                        F.col(emb_id_col).alias(id_col),
                        F.col(emb_vec_col),
                    ),
                    id_col,
                )
            )
            pb_sem(sem_in, bid)
            sem_flagged = (
                read_semantic_flags(spark, paths["sem"], id_type)
                .filter(F.col("batch_id") == bid)
                .select(F.col("doc").alias(id_col))
            )
        # 6. media tier (module doc #6): persist this batch's links, sign
        # media not seen in a strictly-earlier batch, gate on flags so far
        media_frac = None
        if pb_media is not None:
            batch_links = (
                doc_media.join(
                    batch_df.select(id_col).distinct(), id_col
                ).select(id_col, "media_ref").localCheckpoint()
            )
            write_partitioned(
                batch_links.withColumn("batch_id", F.lit(bid)).coalesce(1),
                paths["links"], "batch_id")
            new_refs = batch_links.select("media_ref").distinct()
            media_sig_path = os.path.join(paths["media"], "sigs")
            if has_parquet(media_sig_path):
                # strictly-earlier batches only: a re-delivered batch then
                # recomputes the same new-media set (idempotent overwrite)
                seen = (
                    spark.read.parquet(media_sig_path)
                    .filter(F.col("batch_id") < bid)
                    .select(F.col("doc").alias("media_ref")).distinct()
                )
                new_refs = new_refs.join(seen, "media_ref", "left_anti")
            media_batch = media.join(new_refs, "media_ref")
            if not media_batch.isEmpty():
                pb_media(media_batch, bid)
            flagged_media = (
                read_flags(spark, paths["media"], "string")
                .filter(F.col("batch_id") <= bid)
                .select(F.col("doc").alias("media_ref"),
                        F.lit(True).alias("_mf"))
            )
            media_frac = (
                batch_links.join(flagged_media, "media_ref", "left")
                .groupBy(id_col)
                .agg(F.round(
                    F.sum(F.when(F.col("_mf"), 1).otherwise(0))
                    / F.count("*"), 6).alias("dup_media_frac"))
            )
        # batch-time decision: first failing tier, in batch-curation order
        audit = (
            ann.join(
                exact_drops.select(F.col("doc").alias(id_col))
                .withColumn("_ex", F.lit(True)),
                id_col, "left",
            )
            .join(
                near_flagged.withColumn("_nd", F.lit(True)), id_col, "left"
            )
        )
        if seg_drops is not None:
            audit = audit.join(
                seg_drops.withColumn("_sg", F.lit(True)), id_col, "left"
            )
        else:
            audit = audit.withColumn("_sg", F.lit(False))
        if sem_flagged is not None:
            audit = audit.join(
                sem_flagged.withColumn("_sd", F.lit(True)), id_col, "left")
        else:
            audit = audit.withColumn("_sd", F.lit(False))
        audit_cols = list(AUDIT_COLS)
        if clf_weights is not None:
            audit_cols.insert(audit_cols.index("keep"),
                              "model_quality_micros")
        if lm_w1_micros is not None:
            audit_cols.insert(audit_cols.index("keep"), "avg_nll_micros")
        if media_frac is not None:
            audit = audit.join(media_frac, id_col, "left").withColumn(
                "dup_media_frac",
                F.coalesce("dup_media_frac", F.lit(0.0)))
            audit_cols.insert(audit_cols.index("keep"), "dup_media_frac")
        else:
            audit = audit.withColumn("_md", F.lit(False))
        audit = (
            audit.withColumn(
                "drop_reason",
                F.coalesce(
                    F.col("_hr"),
                    F.when(F.coalesce("_ex", F.lit(False)), "exact_dup"),
                    F.when(F.coalesce("_sg", F.lit(False)), "dup_segments"),
                    F.when(F.coalesce("_nd", F.lit(False)), "near_dup"),
                    F.when(F.coalesce("_sd", F.lit(False)), "semantic_dup"),
                    F.when(
                        F.col("dup_media_frac") > max_dup_media_frac,
                        "media_dup",
                    ) if media_frac is not None else F.when(
                        F.col("_md"), "media_dup"),
                ),
            )
            .withColumn("keep", F.col("drop_reason").isNull())
            .select(id_col, *audit_cols)
        )
        audit = with_bucket(audit, n_buckets, id_col=id_col).localCheckpoint()

        # the audit-store write and the training checkpoint are independent
        # (the training plan reads the audit/stripped CHECKPOINTS, not the
        # store) — overlap them; likewise the training-store write and the
        # lineage aggregation below (both read only checkpointed frames).
        # All writes stay (batch_id, ...)-keyed dynamic overwrite, so crash/
        # re-delivery semantics are unchanged by the overlap.
        def _write_audit():
            write_partitioned(
                audit.withColumn("batch_id", F.lit(bid))
                .repartition(n_buckets, "bucket"),
                paths["audit"], "batch_id", "bucket")

        # training: kept docs with their duplicated spans stripped (the one
        # strip pass above). May be EMPTY for an all-dropped batch — skip
        # the write (empty partitioned writes leave unreadable paths).
        _tr = {}

        def _ck_training():
            t = with_bucket(
                stripped.join(
                    audit.filter("keep").select(
                        F.col(id_col).alias("doc_id")),
                    "doc_id",
                ).withColumnRenamed("doc_id", id_col),
                n_buckets, id_col=id_col,
            ).localCheckpoint()  # feeds the write AND the lineage agg
            _tr["df"] = t
            _tr["has"] = not t.isEmpty()

        parallel_actions(_write_audit, _ck_training)
        training, has_training = _tr["df"], _tr["has"]

        def _write_training():
            if has_training:
                write_partitioned(
                    training.withColumn("batch_id", F.lit(bid))
                    .repartition(n_buckets, "bucket"),
                    paths["training"], "batch_id", "bucket")

        def _write_lineage():
            # lineage per (batch, bucket), computed from the checkpointed
            # frames — fully distributed, <= n_buckets rows per batch
            lin = bucket_lineage(audit, training if has_training else None,
                                 id_col, "text_clean", "n_kept")
            write_partitioned(
                lin.withColumn("batch_id", F.lit(bid)).coalesce(1),
                paths["lineage"], "batch_id", "bucket")

        parallel_actions(_write_training, _write_lineage)

    return process_batch


def read_curated_incr(spark: SparkSession, out_root: str,
                      id_col: str = "doc_id",
                      id_type: str = "bigint") -> DataFrame:
    """The PROMOTED curation view (module doc): every processed doc's audit
    row with the corpus-evidence tiers RE-RESOLVED against everything seen
    so far. Equals batch curate_corpus over all arrived docs at every
    prefix (monotone-id arrival for the lexical tiers; the semantic CC and
    media gate are arrival-order-free — module doc #5/#6).

    * near_dup: online-cluster-log non-minimums (as before).
    * semantic_dup: connected components over the persisted verified pairs
      RESTRICTED to docs surviving every earlier tier under promotion —
      |pairs|-sized, exact batch semantics (a near-promoted doc's edges
      drop out, exactly as batch recomputation would exclude the doc).
    * media_dup: dup_media_frac recomputed against the media cluster log's
      non-minimums over ALL persisted links (the audit column is updated
      too — batch curation reports the final-cluster fraction).

    Batch-time evidence is a sound subset of each promoted set, so
    promotion only ever refines WHICH final tier names a doc and moves
    keep -> drop, never drop -> keep. Tier order is batch curation's:
    lexical reasons (final at batch time), then near, semantic, media."""
    from ..functions.dedup import connected_components

    paths = curate_stream_paths(out_root)
    geo_path = os.path.join(out_root, "_curate_geometry.json")
    geo = {}
    if os.path.exists(geo_path):
        with open(geo_path) as f:
            geo = json.load(f)
    audit = spark.read.parquet(paths["audit"])
    # lexical tiers are final at batch time; the promoted tiers' batch-time
    # reasons are re-derived below (a batch-time semantic_dup doc can be
    # revealed as a near_dup cluster member by a later bridge — batch
    # recomputation would name near_dup, and so must promotion)
    promoted = ("near_dup", "semantic_dup", "media_dup")
    audit = audit.withColumn(
        "_lex", F.when(~F.col("drop_reason").isin(*promoted),
                       F.col("drop_reason")))
    nd = (
        read_cluster_labels(spark, paths["dedup"], id_type)
        .filter(F.col("doc") != F.col("cluster"))
        .select(F.col("doc").alias(id_col), F.lit(True).alias("_pnd"))
    )
    audit = audit.join(nd, id_col, "left")
    if geo.get("semantic") and has_parquet(
            os.path.join(paths["sem"], "pairs")):
        from .semantic_stream import read_semantic_pairs

        surv = audit.filter(
            F.col("_lex").isNull() & F.col("_pnd").isNull()
        ).select(F.col(id_col).alias("_s"))
        pairs = read_semantic_pairs(spark, paths["sem"], id_type)
        edges = (
            pairs.join(surv.withColumnRenamed("_s", "doc"), "doc")
            .join(surv.withColumnRenamed("_s", "dup_of"), "dup_of")
            .select(F.col("dup_of").alias("doc1"), F.col("doc").alias("doc2"))
        )
        sd = (
            connected_components(edges)
            .filter(F.col("doc") != F.col("cluster"))
            .select(F.col("doc").alias(id_col), F.lit(True).alias("_psd"))
        )
        audit = audit.join(sd, id_col, "left")
    else:
        audit = audit.withColumn("_psd", F.lit(None).cast("boolean"))
    has_media = geo.get("media_tier") and has_parquet(paths["links"])
    if has_media:
        noncanon = (
            read_cluster_labels(spark, paths["media"], "string")
            .filter(F.col("doc") != F.col("cluster"))
            .select(F.col("doc").alias("media_ref"),
                    F.lit(True).alias("_mf"))
        )
        frac = (
            spark.read.parquet(paths["links"])
            .join(noncanon, "media_ref", "left")
            .groupBy(id_col)
            .agg(F.round(
                F.sum(F.when(F.col("_mf"), 1).otherwise(0))
                / F.count("*"), 6).alias("_dmf"))
        )
        audit = (
            audit.drop("dup_media_frac")
            .join(frac, id_col, "left")
            .withColumn("dup_media_frac",
                        F.coalesce("_dmf", F.lit(0.0)))
            .withColumn(
                "_pmd",
                F.col("dup_media_frac")
                > float(geo.get("max_dup_media_frac", 0.5)))
            .drop("_dmf")
        )
    else:
        audit = audit.withColumn("_pmd", F.lit(None).cast("boolean"))
    out = (
        audit.withColumn(
            "drop_reason",
            F.coalesce(
                "_lex",
                F.when(F.col("_pnd"), "near_dup"),
                F.when(F.col("_psd"), "semantic_dup"),
                F.when(F.col("_pmd"), "media_dup"),
            ),
        )
        .withColumn("keep", F.col("drop_reason").isNull())
        .drop("_lex", "_pnd", "_psd", "_pmd")
    )
    return out


def read_incr_training(spark: SparkSession, out_root: str) -> DataFrame:
    """All per-batch training partitions written so far. NOTE: batch-time
    kept docs that promotion later flips to near_dup remain in their
    arrival batch's partition — consumers wanting the promoted set join
    ``read_curated_incr`` on keep (the audit table is the decision record;
    training partitions are immutable arrival-time artifacts)."""
    paths = curate_stream_paths(out_root)
    return spark.read.parquet(paths["training"])


def run_streaming_curation(
    spark: SparkSession, source: DataFrame, out_root: str,
    checkpoint: str, **kwargs,
) -> StreamingQuery:
    """Wire a streaming source through the curation batch body with
    exactly-once foreachBatch semantics (availableNow callers drain the
    backlog). ``kwargs`` as in make_curate_batch."""
    pb = make_curate_batch(spark, out_root, **kwargs)
    return (
        source.writeStream.foreachBatch(pb)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
