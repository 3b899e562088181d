"""End-to-end training-data product (round-7 verdict #1): ONE
lineage-tracked, resumable job composing every prep stage the package
ships — the pipeline a 100 TB training run actually executes — under the
write_curated conventions (geometry guard, bucketed dynamic-overwrite
writes, per-bucket lineage, broadcast anti-join resume).

Stage chain (each the already-oracled operator; first failing stage is the
doc's audited verdict):

1. **curate**       — functions.curate.curate_corpus: the staged keep/drop
   decision (empty/lang/quality/heuristics/exact/segment/near/... exactly
   as configured). Dropped docs carry curation's own drop_reason.
2. **strip**        — the kept docs' duplicated spans removed
   (strip_dup_segments over the KEPT set — write_curated's cleaning
   contract); everything downstream sees ``text_clean``.
3. **decontaminate**— eval-benchmark n-gram overlap vs ``bench`` over the
   cleaned text (the text a model would memorize); hits drop as
   ``contaminated`` with their overlap fraction audited.
4. **redact_pii**   — emails/IPv4/phones -> typed placeholders over
   text_clean => ``text_final`` (what the tokenizer consumes); per-class
   counts audited. Not a drop stage.
5. **temperature_mix** — deterministic domain-rebalanced sampling;
   non-sampled docs drop as ``mix_sampled`` with their domain rate
   audited (temperature_mix(annotate=True)).
6. **upsample_domains** — per-domain repetition factors over the final
   kept set; each copy is a distinct stream element downstream.
7. **bpe_train / bpe_encode** — tokenizer trained ON THE FINAL KEPT
   CORPUS's text_final (or a caller-provided merge table), every kept doc
   encoded; packs are denominated in these BPE token counts, NOT
   whitespace counts (the round-7 integration gap).
8. **pack_sequences** — the concat-and-chop ctx_len layout over the
   upsampled (doc, copy) stream, count_col = the BPE n_tokens; stream
   order is ``doc_id * copy_span + copy`` (copy_span = the max possible
   copies per doc, driver-computed from the factor table), so copies of a
   doc are adjacent and the layout is a pure function of the corpus +
   parameters.

Outputs under ``out_root`` (all bucketed by io.with_bucket except merges):

* ``texts``    — (doc_id, domain, text_final, n_bpe_tokens, bucket): the
  final training text, one row per KEPT doc (copies share the payload —
  the pack table references it, payloads never duplicate on disk).
* ``packs``    — (doc_id, copy, n_tokens, tok_start, pack_start,
  pack_end, n_packs, bucket): the training-stream layout.
* ``audit``    — EVERY input doc: curation signals + contamination + PII
  counts + mix rate + repetition factor + n_copies + (keep, stage).
  Row count == input row count by construction; kept + every stage
  reconciles (tested).
* ``merges``   — the learned BPE merge table (n_merges rows; written once,
  REUSED on resume — retraining is deterministic but not free).
* ``prep_lineage`` — per-bucket (doc_range, doc_count, kept_count,
  token_count, checksum) — the TableIO lineage shape over texts.

Resume semantics = write_curated's: decisions are GLOBAL (dedup tiers,
mix quotas and the BPE vocabulary all depend on the whole corpus), so the
decision plan always recomputes over the full input — deterministic,
byte-identical across runs — and only the WRITES are pruned to buckets
without a lineage row. A crashed run resumes by writing exactly the
missing buckets; a completed run is a no-op.

Scale shape: the chain adds NO shuffle beyond its constituent operators'
(each documented in its own module); the only new joins are broadcast
(decon gram set, mix rate table, factor table) or doc-keyed 1:1
(audit assembly, enc -> packs). BPE training cost is corpus-independent
after its one word-count shuffle; the pack scan is the two-level
prefix-sum, never a global window.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from .config import DEFAULT_N_BUCKETS
from .curate_io import curate_kwargs_geometry
from .functions.bpe import bpe_encode, bpe_train
from .functions.curate import curate_corpus
from .functions.dedup import strip_dup_segments
from .functions.prep import (
    decontaminate,
    pack_sequences,
    pii_counts,
    redact_pii,
    temperature_mix,
    upsample_domains,
)
from .io import (
    bucket_lineage,
    completed_buckets,
    geometry_guard,
    has_parquet,
    parallel_actions,
    pending_buckets,
    read_written,
    require_local,
    with_bucket,
    write_lineage,
    write_partitioned,
)

AUDIT_COLS = ("lang", "quality", "n_tokens", "dup_line_frac",
              "top_bigram_frac", "sym_ratio", "eval_overlap",
              "n_emails", "n_ips", "n_phones", "rate_bp", "factor_bp",
              "n_copies", "keep", "stage")


def training_paths(out_root: str) -> tuple[str, str, str, str, str]:
    return tuple(
        os.path.join(out_root, p)
        for p in ("texts", "packs", "audit", "merges", "prep_lineage")
    )


def write_training_data(
    spark: SparkSession,
    docs: DataFrame,
    bench: DataFrame,
    out_root: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    domain_col: str = "source",
    n_buckets: int = DEFAULT_N_BUCKETS,
    seg_win: int = 20,
    seg_stride: int = 10,
    decon_n: int = 5,
    decon_min_hits: int = 1,
    mix_tau: float = 0.5,
    mix_num: int = 1,
    mix_den: int = 2,
    upsample_bp: dict[str, int] | None = None,
    n_merges: int = 24,
    bpe_min_pair_count: int = 2,
    merges: DataFrame | list | None = None,
    ctx_len: int = 2048,
    pack_bucket_span: int = 1024,
    fail_after_buckets: int | None = None,
    **curate_kwargs,
) -> dict:
    """Run the full chain (module doc) and write the product tables.

    ``bench`` is the eval-benchmark table ((id_col, text_col)) the
    decontamination stage screens against. ``merges`` skips training and
    uses the given merge table (bpe_train output or [(lhs, rhs)] list).
    ``fail_after_buckets`` simulates a mid-job crash for restart tests.
    ``curate_kwargs`` pass through to curate_corpus (thresholds,
    languages=, embeddings=, ...).

    Returns {'docs_in', 'kept', 'buckets_written', 'skipped', 'n_merges',
    'total_tokens'}."""
    out_root = require_local(out_root, "write_training_data out_root")
    texts_path, packs_path, audit_path, merges_path, lin_path = \
        training_paths(out_root)
    upsample_bp = dict(upsample_bp or {})
    geometry_guard(out_root, {
        "kind": "training-data",
        "n_buckets": n_buckets,
        "seg_win": seg_win, "seg_stride": seg_stride,
        "decon_n": decon_n, "decon_min_hits": decon_min_hits,
        "mix_tau": mix_tau, "mix_num": mix_num, "mix_den": mix_den,
        "upsample_bp": {k: upsample_bp[k] for k in sorted(upsample_bp)},
        "n_merges": n_merges, "bpe_min_pair_count": bpe_min_pair_count,
        "merges_provided": merges is not None,
        "ctx_len": ctx_len,
        **curate_kwargs_geometry(curate_kwargs),
    }, filename="_training_geometry.json")
    done = completed_buckets(spark, lin_path)

    # -- stages 1-2: curation decisions + stripped text ---------------------
    curated = curate_corpus(
        docs, id_col, text_col, seg_win=seg_win, seg_stride=seg_stride,
        **curate_kwargs
    ).localCheckpoint(eager=False)  # feeds audit AND the kept branch
    kept = curated.filter("keep").select(id_col, text_col)
    stripped = strip_dup_segments(
        kept, id_col, text_col, win=seg_win, stride=seg_stride
    ).select(id_col, "text_clean").localCheckpoint(eager=False)

    # -- stage 3: decontamination over the cleaned text ---------------------
    bench_n = bench.select(F.col(id_col),
                           F.col(text_col).alias("text_clean"))
    contaminated = decontaminate(
        stripped, bench_n, id_col, "text_clean", n=decon_n,
        min_hits=decon_min_hits,
    ).select(F.col("doc_id").alias(id_col), "contamination"
             # feeds the clean anti-join AND the audit join — materialize
             # once instead of re-running the gram pass per consumer (r9)
             ).localCheckpoint(eager=False)
    clean = stripped.join(contaminated.select(id_col), id_col, "left_anti")

    # -- stage 4: PII redaction => text_final --------------------------------
    n_em, n_ip, n_ph = pii_counts(F.col("text_clean"))
    finals = clean.select(
        id_col,
        redact_pii(F.col("text_clean")).alias("text_final"),
        n_em.alias("n_emails"), n_ip.alias("n_ips"), n_ph.alias("n_phones"),
    ).localCheckpoint(eager=False)

    # -- stage 5: temperature mix (annotated — dropped docs keep their rate)
    domains = docs.select(F.col(id_col), F.col(domain_col).alias("domain"))
    mix = temperature_mix(
        finals.join(domains, id_col), id_col, "domain",
        tau=mix_tau, target_num=mix_num, target_den=mix_den, annotate=True,
    ).localCheckpoint(eager=False)
    final_ids = mix.filter("keep").select(
        F.col("doc_id").alias(id_col), "domain")

    # -- stage 6: repetition factors over the mix survivors ------------------
    # annotate form: n_copies = 0 (a downsampled-away doc) is an audited
    # drop stage ('upsample_dropped'), not a silent disappearance
    ups = upsample_domains(final_ids, id_col, "domain", upsample_bp,
                           annotate=True).localCheckpoint(eager=False)
    stream_ids = ups.filter("n_copies > 0")
    # max copies any doc can get: floor(max factor) + 1 fractional extra
    copy_span = max(
        [bp // 10_000 for bp in upsample_bp.values()] + [1]
    ) + 1

    # -- stage 7: tokenizer (trained on the docs actually trained on) --------
    corpus_final = finals.join(stream_ids.select(id_col), id_col)
    if merges is None:
        if has_parquet(merges_path):
            merges_df = spark.read.parquet(merges_path)  # resume: reuse
        else:
            merges_df = bpe_train(corpus_final, "text_final", n_merges,
                                  min_pair_count=bpe_min_pair_count)
            merges_df.write.mode("overwrite").parquet(merges_path)
            merges_df = spark.read.parquet(merges_path)
    else:
        merges_df = merges
        if isinstance(merges_df, DataFrame):
            if not has_parquet(merges_path):
                merges_df.write.mode("overwrite").parquet(merges_path)
        else:
            if not has_parquet(merges_path):
                spark.createDataFrame(
                    [(i, l, r, None) for i, (l, r) in enumerate(merges_df)],
                    "rank: bigint, lhs: string, rhs: string, pair_count: bigint",
                ).write.mode("overwrite").parquet(merges_path)
    enc = bpe_encode(
        corpus_final, [id_col], "text_final", merges_df
    ).select(id_col, F.col("n_tokens").alias("n_bpe_tokens"))
    # EAGER checkpoint (not lazy): enc feeds the texts AND packs writes,
    # which round 9 overlaps below — concurrent first-consumers of a lazy
    # checkpoint would each recompute the encode kernel before either
    # materializes it; eager runs it exactly once, up front
    enc = enc.localCheckpoint()

    # -- stage 8: pack layout over (doc, copy) in BPE tokens ------------------
    # the stream element is a (doc, copy) pair; pack on the composite key
    # _seq = doc_id * copy_span + copy (copies adjacent, order total) and
    # decode (doc_id, copy) back out of the packed rows — exact integer
    # round-trip since copy < copy_span by construction
    stream = (
        stream_ids
        .select(id_col,
                F.explode(F.sequence(F.lit(0), F.col("n_copies") - 1))
                .alias("copy"))
        .join(enc, id_col)
        .withColumn("_seq", F.col(id_col).cast("bigint") * copy_span
                    + F.col("copy"))
    )
    packed = pack_sequences(
        stream, "_seq", "n_bpe_tokens", ctx_len=ctx_len,
        bucket_span=pack_bucket_span, count_col="n_bpe_tokens",
    )
    packs = with_bucket(
        packed.select(
            F.expr(f"doc_id div {copy_span}").alias("doc_id"),
            F.pmod(F.col("doc_id"), F.lit(copy_span)).cast("bigint")
            .alias("copy"),
            "n_tokens", "tok_start", "pack_start", "pack_end", "n_packs",
        ),
        n_buckets, id_col="doc_id",
    )

    texts = with_bucket(
        finals.join(stream_ids.select(id_col, "domain"), id_col)
        .select(id_col, "domain", "text_final")
        .join(enc, id_col),
        n_buckets, id_col=id_col,
    )

    # -- audit: every input doc, one row -------------------------------------
    audit = (
        curated.select(
            id_col, "lang", "quality", "n_tokens", "dup_line_frac",
            "top_bigram_frac", "sym_ratio",
            F.col("keep").alias("_cur_keep"),
            F.col("drop_reason").alias("_cur_reason"),
        )
        .join(contaminated.withColumnRenamed(
            "contamination", "_contam"), id_col, "left")
        .join(finals.select(id_col, "n_emails", "n_ips", "n_phones"),
              id_col, "left")
        .join(mix.select(F.col("doc_id").alias(id_col),
                         F.col("rate_bp"),
                         F.col("keep").alias("_mix_keep")), id_col, "left")
        .join(ups.select(F.col("doc_id").alias(id_col),
                         "n_copies", "factor_bp"), id_col, "left")
        .withColumn("stage", F.when(
            ~F.col("_cur_keep"), F.col("_cur_reason")
        ).when(
            F.col("_contam").isNotNull(), F.lit("contaminated")
        ).when(
            ~F.coalesce(F.col("_mix_keep"), F.lit(False)),
            F.lit("mix_sampled"),
        ).when(
            F.col("n_copies") == 0, F.lit("upsample_dropped")
        ))
        .withColumn(
            # named so the audit's alphabetically-first column stays the
            # unique doc_id (the driver's compare sorts columns by name;
            # a nullable first sort key breaks row canonicalization)
            "eval_overlap",
            F.when(F.col("_cur_keep"),
                   F.coalesce(F.col("_contam"), F.lit(0.0))),
        )
        .withColumn("keep", F.col("stage").isNull())
        .select(id_col, *AUDIT_COLS)
    )
    audit = with_bucket(audit, n_buckets, id_col=id_col)

    # audit covers every bucket: it drives the crash simulation and the
    # emptiness short-circuit
    pending = pending_buckets([audit, texts, packs], done, fail_after_buckets)
    if pending is None:
        return {"docs_in": 0, "kept": 0, "buckets_written": 0,
                "skipped": True, "n_merges": 0, "total_tokens": 0}
    audit, texts, packs = pending
    # The three product-table writes are independent (distinct paths; every
    # shared upstream frame — curated/stripped/finals/mix/ups/enc/
    # contaminated — is already a MATERIALIZED checkpoint by this point:
    # BPE training and the audit emptiness probe above forced them), so
    # they overlap (io.parallel_actions, guide §2.6). The lineage read-back
    # below stays strictly after all three.
    def _writer(frame, path):
        return lambda: write_partitioned(
            frame.repartition(n_buckets, "bucket"), path, "bucket")

    parallel_actions(_writer(texts, texts_path), _writer(packs, packs_path),
                     _writer(audit, audit_path))
    rows = write_lineage(spark, lin_path, bucket_lineage(
        read_written(spark, audit_path, done),
        read_written(spark, texts_path, done),  # None: everything dropped
        id_col, "text_final", "n_bpe_tokens",
    ))
    n_m = (spark.read.parquet(merges_path).count()
           if has_parquet(merges_path) else 0)
    return {
        "docs_in": sum(r["doc_count"] for r in rows),
        "kept": sum(r["kept_count"] for r in rows),
        "buckets_written": len(rows),
        "skipped": False,
        "n_merges": n_m,
        "total_tokens": sum(r["token_count"] or 0 for r in rows),
    }


def read_training_texts(spark: SparkSession, out_root: str) -> DataFrame:
    return spark.read.parquet(
        training_paths(require_local(out_root, "root"))[0])


def read_training_packs(spark: SparkSession, out_root: str) -> DataFrame:
    return spark.read.parquet(
        training_paths(require_local(out_root, "root"))[1])


def read_training_audit(spark: SparkSession, out_root: str) -> DataFrame:
    return spark.read.parquet(
        training_paths(require_local(out_root, "root"))[2])
