"""The benchmark's workloads. Each one owns its inputs, its warm-up, the
measured op, the correctness check of every measured op (run outside the
timed region) and the per-layer timings of the traced run.

Layer timings call the engine's public functions from here, around the
layer boundary, and never patch the engine."""

from __future__ import annotations

import math
import os
import statistics

import inputs
from probes import Tracer


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class _Layers:
    """Per-layer timings of the traced run: each call is one span of the
    run's tracer (set by the runner), named after the layer it times."""

    tracer = Tracer(False)

    def _timed(self, name: str, fn) -> float:
        with self.tracer.span(name) as rec:
            fn()
        return rec["wall_s"]


class Extract(_Layers):
    """``io.run_job`` over seeded interleaved docs; one op = one run_job
    into a fresh output root."""

    name = "extract"
    # the first op after the warm-up op still runs ~20 % slower than the ones
    # after it; the median of three measured ops leaves it out
    warm_ops, min_ops, max_ops = 1, 3, 12
    stop_on_error = False  # ops are independent: each has its own root

    def __init__(self, work: str, seed: int, light_docs: int = inputs.LIGHT_DOCS,
                 heavy_docs: int = inputs.HEAVY_DOCS):
        self.work, self.seed = work, seed
        self.sizes = (light_docs, heavy_docs)

    def prepare(self, cache: str) -> None:
        self.inp = inputs.extract_inputs(cache, self.seed, *self.sizes)
        self.oracle = self.inp["oracle"]

    def _run(self, spark, out: str) -> dict:
        from complete_ocr_spark.io import run_job

        return run_job(spark, spark.read.parquet(self.inp["docs_path"]), out)

    def warm(self, spark) -> None:
        for k in range(self.warm_ops):
            self._run(spark, os.path.join(self.work, f"warm-{k}"))

    def out_dir(self, i: int) -> str:
        return os.path.join(self.work, f"op-{i}")

    def op(self, spark, i: int) -> dict:
        return {"docs": self.inp["n_docs"], "res": self._run(spark, self.out_dir(i))}

    def check(self, spark, ops: list[dict]) -> list[bool]:
        from complete_ocr_spark.io import TableIO

        oks = []
        for op in ops:
            rows = TableIO(spark, op["out_dir"]).read_docs_out().select(
                "doc_id", "spans").collect()
            got = {
                r["doc_id"]: [
                    {"kind": s["kind"], "text": s["text"],
                     "media_ref": s["media_ref"], "offset": s["offset"]}
                    for s in r["spans"]
                ]
                for r in rows
            }
            oks.append(op["res"].get("docs_processed") == len(self.oracle)
                       and got == self.oracle)
        return oks

    def layers(self, spark, ops: list[dict]) -> dict:
        import pandas as pd
        import pyarrow.parquet as pq
        from complete_ocr_spark import pipeline
        from complete_ocr_spark.kernels.page import extract_page_np
        from complete_ocr_spark.kernels.textstrip import strip_blocks
        from complete_ocr_spark.operators.extract import make_extract_spans_batch
        from complete_ocr_spark.synth import resolve_descriptor

        docs_t = pq.read_table(self.inp["docs_path"]).to_pylist()
        spans = [(d["doc_id"], s) for d in docs_t for s in d["spans"]]
        pages = [s for _d, s in spans if s["kind"] == "media_ref"]
        texts = [s["text"] for _d, s in spans if s["kind"] == "text"]
        out = {}
        descs = []
        out["synth.resolve_s"] = self._timed("synth.resolve", lambda: descs.extend(
            resolve_descriptor(s["media_ref"]) for s in pages))
        out["kernels.page_s"] = self._timed("kernels.page", lambda: [
            extract_page_np(dsc, s["offset"], s["media_ref"])
            for dsc, s in zip(descs, pages)])
        out["kernels.textstrip_s"] = self._timed(
            "kernels.textstrip", lambda: [strip_blocks(t) for t in texts])
        frame = pd.DataFrame({
            "doc_id": [d for d, _s in spans],
            "kind": [s["kind"] for _d, s in spans],
            "text": [s["text"] for _d, s in spans],
            "media_ref": [s["media_ref"] for _d, s in spans],
            "offset": [s["offset"] for _d, s in spans],
        })
        batches = [frame.iloc[i:i + 512] for i in range(0, len(frame), 512)]
        fn = make_extract_spans_batch()
        out["operators.extract_s"] = self._timed(
            "operators.extract", lambda: list(fn(iter(batches))))

        def docs():
            return spark.read.parquet(self.inp["docs_path"])

        out["pipeline.explode_s"] = self._timed(
            "pipeline.explode", lambda: _noop(pipeline.explode_spans(docs())))
        out["pipeline.extract_flat_s"] = self._timed(
            "pipeline.extract_flat",
            lambda: _noop(pipeline.extract_flat(spark, docs())))
        flat_path = os.path.join(self.work, "flat")
        pipeline.extract_flat(spark, docs()).write.parquet(flat_path)
        out["pipeline.reassemble_s"] = self._timed(
            "pipeline.reassemble",
            lambda: _noop(pipeline.reassemble(spark.read.parquet(flat_path))))
        extraction_s = self._timed(
            "pipeline.run_extraction",
            lambda: _noop(pipeline.run_extraction(spark, docs())))
        op_p50 = statistics.median(op["wall_s"] for op in ops)
        out["io.write_s"] = max(0.0, op_p50 - extraction_s)
        cores = spark.sparkContext.defaultParallelism
        out["pipeline.kernel_par_eff"] = (
            out["operators.extract_s"] / (cores * out["pipeline.extract_flat_s"]))
        return out


def curate_params() -> dict:
    """The incremental-curation parameters of queries.q_curate_incr."""
    from complete_ocr_spark import queries as q

    return dict(
        id_col="doc_id", text_col="text",
        languages=q._CUR_LANGS, min_quality=q._CUR_MIN_Q,
        max_dup_line_frac=q._CUR_MAX_DLF, max_top_bigram_frac=q._CUR_MAX_TBF,
        min_bigram_tokens=q._CUR_MIN_BGT, max_symbol_ratio=q._CUR_MAX_SYM,
        max_dup_segment_frac=q._CUR_MAX_SEGF,
        seg_win=q._SEG_WIN, seg_stride=q._SEG_STRIDE,
        max_hamming=q._SH_MAX_HAMMING, n_blocks=4,
    )


CURATE_COLS = ("doc_id", "lang", "quality", "n_tokens", "dup_line_frac",
               "top_bigram_frac", "sym_ratio", "keep", "drop_reason")


def canon_rows(cols, rows) -> list[tuple]:
    """Order-insensitive multiset form of a result, as the DuckDB query gate
    canonicalizes it: columns by name, floats to 9 places, rows sorted."""

    def cell(v):
        if isinstance(v, float):
            return "nan" if math.isnan(v) else round(v, 9)
        return v

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(cell(r[i]) for i in order) for r in rows)


class CurateIncr(_Layers):
    """The ``streaming.curate_stream.make_curate_batch`` body over monotone
    doc-id batches. Batch 0 of the sequence is the warm-up; every later
    batch is one measured op on the same store root."""

    name = "curate_incr"
    # the first measured batch is the first to meet non-empty stores and runs
    # ~1.5 s slower than the next. A third measured batch, so that the median
    # leaves it out, gave no smaller run-to-run spread (README.md,
    # "Steadiness") and costs ~13 s of a run's time budget
    warm_ops, min_ops = 1, 2
    stop_on_error = True  # every batch builds on the stores of the last

    def __init__(self, work: str, seed: int, n_batches: int = inputs.N_BATCHES,
                 batch_docs: int = inputs.BATCH_DOCS):
        self.work, self.seed = work, seed
        self.sizes = (n_batches, batch_docs)
        self.max_ops = n_batches - self.warm_ops
        self.root = os.path.join(work, "curate")

    def prepare(self, cache: str) -> None:
        self.inp = inputs.curate_inputs(cache, self.seed, *self.sizes)
        self.expected = None  # oracle rows, computed at check time

    def _batch(self, spark, k: int) -> None:
        self.body(spark.read.parquet(self.inp["batches"][k]), k)

    def warm(self, spark) -> None:
        from complete_ocr_spark.streaming.curate_stream import make_curate_batch

        self.body = make_curate_batch(spark, self.root, **curate_params())
        for k in range(self.warm_ops):
            self._batch(spark, k)

    def out_dir(self, i: int) -> str:
        return self.root

    def op(self, spark, i: int) -> dict:
        self._batch(spark, self.warm_ops + i)
        return {"docs": self.inp["sizes"][self.warm_ops + i]}

    def oracle(self, n_batches: int) -> list[tuple]:
        """DuckDB's q_curate_incr oracle over the first ``n_batches``."""
        import duckdb
        from complete_ocr_spark.queries import oracle_sql

        files = ", ".join(f"'{p}'" for p in self.inp["batches"][:n_batches])
        con = duckdb.connect()
        try:
            con.execute(
                f"CREATE VIEW documents AS SELECT * FROM read_parquet([{files}])")
            res = con.sql(oracle_sql()["q_curate_incr"])
            return canon_rows([c.lower() for c in res.columns], res.fetchall())
        finally:
            con.close()

    def check(self, spark, ops: list[dict]) -> list[bool]:
        """The promoted view after the last delivered batch must equal the
        full recompute over every delivered doc: one verdict that covers
        every measured batch of the sequence."""
        from complete_ocr_spark.streaming.curate_stream import read_curated_incr

        if not ops:
            return []
        delivered = self.warm_ops + len(ops)
        if self.expected is None:
            self.expected = self.oracle(delivered)
        rows = read_curated_incr(spark, self.root).select(*CURATE_COLS).collect()
        ok = canon_rows(list(CURATE_COLS), [tuple(r) for r in rows]) == self.expected
        return [ok] * len(ops)

    def layers(self, spark, ops: list[dict]) -> dict:
        from complete_ocr_spark.functions.curate import annotate_gates, heuristic_reason
        from complete_ocr_spark.streaming.curate_stream import read_curated_incr
        from complete_ocr_spark.streaming.dedup_stream import make_dedup_batch
        from complete_ocr_spark.streaming.segment_stream import make_segment_dedup_batch

        p = curate_params()
        delivered = range(self.warm_ops + len(ops))
        frames = [spark.read.parquet(self.inp["batches"][k]) for k in delivered]
        seg = make_segment_dedup_batch(
            spark, os.path.join(self.work, "seg"), id_col="doc_id",
            text_col="text", win=p["seg_win"], stride=p["seg_stride"])
        near = make_dedup_batch(
            spark, os.path.join(self.work, "near"), id_col="doc_id",
            text_col="text", max_hamming=p["max_hamming"], n_blocks=p["n_blocks"])
        # the medians skip each body's warm-up batches, like the measured ops
        seg_s = [self._timed("segment_stream.batch", lambda: seg(f, k))
                 for k, f in zip(delivered, frames)][self.warm_ops:]
        near_s = [self._timed("dedup_stream.batch", lambda: near(f, k))
                  for k, f in zip(delivered, frames)][self.warm_ops:]
        reason_args = (p["text_col"], p["languages"], p["min_quality"],
                       p["max_dup_line_frac"], p["max_top_bigram_frac"],
                       p["min_bigram_tokens"], p["max_symbol_ratio"])
        build_s = [
            self._timed("functions.curate.build", lambda: annotate_gates(
                f, "text").withColumn("drop_reason", heuristic_reason(*reason_args)))
            for f in frames]
        out = {
            "segment_stream.batch_s": statistics.median(seg_s),
            "dedup_stream.batch_s": statistics.median(near_s),
            "functions.curate.build_s": statistics.median(build_s),
            "curate_stream.read_s": self._timed(
                "curate_stream.read",
                lambda: _noop(read_curated_incr(spark, self.root))),
        }
        out.update(self._prep_layers(spark, len(frames)))
        return out

    def _prep_layers(self, spark, n_batches: int) -> dict:
        """The batch training-data chain's layers (prep_io.write_training_data
        composes them), each timed once over every delivered doc with the
        parameters of queries._td_root."""
        from pyspark.sql import functions as F

        from complete_ocr_spark import queries as q
        from complete_ocr_spark.functions.bpe import bpe_train
        from complete_ocr_spark.functions.curate import curate_corpus
        from complete_ocr_spark.functions.prep import decontaminate, pack_sequences

        p = {k: v for k, v in curate_params().items()
             if k not in ("id_col", "text_col")}
        docs = spark.read.parquet(*self.inp["batches"][:n_batches])
        bench = docs.filter(F.col("doc_id") % q._TD_BENCH_MOD == 0).select(
            "doc_id", "text")
        return {
            "functions.curate.corpus_s": self._timed(
                "functions.curate.corpus",
                lambda: _noop(curate_corpus(docs, "doc_id", "text", **p))),
            "functions.prep.decontaminate_s": self._timed(
                "functions.prep.decontaminate", lambda: _noop(decontaminate(
                docs, bench, "doc_id", "text", n=q._TD_DECON_N))),
            "functions.bpe.train_s": self._timed(
                "functions.bpe.train",
                lambda: bpe_train(docs, "text", q._TD_MERGES).collect()),
            "functions.prep.pack_s": self._timed(
                "functions.prep.pack", lambda: _noop(pack_sequences(
                docs, "doc_id", "text", ctx_len=q._TD_CTX))),
        }


WORKLOADS = {w.name: w for w in (Extract, CurateIncr)}
