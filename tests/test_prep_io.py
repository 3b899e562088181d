"""End-to-end training-data product (prep_io.write_training_data): audit
reconciliation, crash-resume, geometry guard, merge-table reuse, and the
INDEPENDENT full-composition gate — DuckDB runs the composed SQL through
the last SQL-expressible stage (text_final of every stream member), the
pure-Python BPE reference (oracle/bpe.py) trains + encodes, a Python
prefix-sum lays out the packs, and the result must equal the engine's
texts/packs tables exactly. The audit's cross-engine hash gate is the
q_training_data driver row (test_queries_duckdb)."""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from complete_ocr_spark import prep_io
from complete_ocr_spark.oracle import bpe as obpe
from complete_ocr_spark.queries import (
    _CUR_LANGS,
    _CUR_MAX_DLF,
    _CUR_MAX_SEGF,
    _CUR_MAX_SYM,
    _CUR_MAX_TBF,
    _CUR_MIN_BGT,
    _CUR_MIN_Q,
    _SEG_STRIDE,
    _SEG_WIN,
    _SH_MAX_HAMMING,
    _TD_BENCH_MOD,
    _TD_FACTORS,
    _training_texts_sql,
)

SF_DIR = "/root/testdata/sf0.001"
CTX, N_MERGES = 128, 12


def _write(spark, root, **over):
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    bench = d.filter(F.col("doc_id") % _TD_BENCH_MOD == 0).select(
        "doc_id", "text")
    kw = dict(
        languages=_CUR_LANGS, min_quality=_CUR_MIN_Q,
        max_dup_line_frac=_CUR_MAX_DLF, max_top_bigram_frac=_CUR_MAX_TBF,
        min_bigram_tokens=_CUR_MIN_BGT, max_symbol_ratio=_CUR_MAX_SYM,
        max_dup_segment_frac=_CUR_MAX_SEGF,
        seg_win=_SEG_WIN, seg_stride=_SEG_STRIDE,
        max_hamming=_SH_MAX_HAMMING, n_blocks=4,
        upsample_bp=_TD_FACTORS, n_merges=N_MERGES, ctx_len=CTX,
    )
    kw.update(over)
    return prep_io.write_training_data(spark, d, bench, str(root), **kw)


@pytest.fixture(scope="module")
def product(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("td") / "product"
    res = _write(spark, root)
    return str(root), res


def test_audit_reconciles_to_input(spark, product):
    root, res = product
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    audit = prep_io.read_training_audit(spark, root)
    n_in = d.count()
    assert audit.count() == n_in == res["docs_in"]
    by_stage = {r["stage"]: r["n"] for r in
                audit.groupBy("stage").agg(F.count("*").alias("n")).collect()}
    # kept (stage NULL) + every per-stage drop sums back to the input
    assert sum(by_stage.values()) == n_in
    assert by_stage.get(None, 0) == res["kept"]
    # the chain's own stages all fired on this corpus (non-vacuous config)
    for stage in ("contaminated", "mix_sampled", "upsample_dropped"):
        assert by_stage.get(stage, 0) > 0, (stage, by_stage)
    # keep column is exactly stage IS NULL
    assert audit.filter(F.col("keep") != F.col("stage").isNull()).count() == 0
    # texts table holds exactly the kept docs
    texts = prep_io.read_training_texts(spark, root)
    kept_ids = {r["doc_id"] for r in
                audit.filter("keep").select("doc_id").collect()}
    assert {r["doc_id"] for r in texts.select("doc_id").collect()} == kept_ids


def test_packs_are_contiguous_in_bpe_tokens(spark, product):
    root, _ = product
    packs = sorted(
        prep_io.read_training_packs(spark, root).collect(),
        key=lambda r: r["tok_start"],
    )
    texts = {r["doc_id"]: r["n_bpe_tokens"] for r in
             prep_io.read_training_texts(spark, root).collect()}
    pos = 0
    for r in packs:
        assert r["tok_start"] == pos, f"gap at {(r['doc_id'], r['copy'])}"
        # the packed count IS the BPE count, not a whitespace count
        assert r["n_tokens"] == texts[r["doc_id"]]
        assert r["pack_start"] == r["tok_start"] // CTX
        assert r["pack_end"] == (r["tok_start"] + r["n_tokens"] - 1) // CTX
        pos += r["n_tokens"]
    # every copy the audit promises is present exactly once
    from collections import Counter

    audit = prep_io.read_training_audit(spark, root)
    promised = {r["doc_id"]: r["n_copies"] for r in
                audit.filter("keep").collect()}
    got = Counter(r["doc_id"] for r in packs)
    assert dict(got) == {k: v for k, v in promised.items() if v}


def test_independent_composition_matches_engine(spark, product):
    """DuckDB (composed SQL through text_final) + pure-Python BPE +
    Python prefix-sum == the engine's merges/texts/packs, exactly."""
    root, _ = product
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'")
    ind = con.execute(_training_texts_sql()).fetchall()
    ind_rows = {r[0]: (r[1], int(r[2])) for r in ind}

    # engine texts: same membership, same final text
    texts = {r["doc_id"]: (r["text_final"], r["n_bpe_tokens"]) for r in
             prep_io.read_training_texts(spark, root).collect()}
    assert set(texts) == set(ind_rows)
    for doc, (tf, _) in ind_rows.items():
        assert texts[doc][0] == tf, f"text_final mismatch doc {doc}"

    # independent BPE train over the same corpus, then encode
    merges, _ = obpe.train((tf for tf, _ in ind_rows.values()),
                           n_merges=N_MERGES)
    eng_merges = sorted(
        (r["rank"], r["lhs"], r["rhs"], r["pair_count"]) for r in
        spark.read.parquet(os.path.join(root, "merges")).collect())
    assert eng_merges == merges
    n_tok = {doc: len(obpe.encode(tf, merges))
             for doc, (tf, _) in ind_rows.items()}
    for doc, (_, eng_n) in texts.items():
        assert eng_n == n_tok[doc], f"BPE count mismatch doc {doc}"

    # independent pack layout: copies adjacent, ordered by
    # doc_id * copy_span + copy — the runner's documented stream order
    copy_span = max(bp // 10_000 for bp in _TD_FACTORS.values()) + 1
    stream = sorted(
        (doc * copy_span + c, doc, c)
        for doc, (_, n_copies) in ind_rows.items()
        for c in range(n_copies)
    )
    exp, pos = {}, 0
    for _, doc, c in stream:
        n = n_tok[doc]
        exp[(doc, c)] = (n, pos, pos // CTX, (pos + n - 1) // CTX)
        pos += n
    got = {(r["doc_id"], r["copy"]):
           (r["n_tokens"], r["tok_start"], r["pack_start"], r["pack_end"])
           for r in prep_io.read_training_packs(spark, root).collect()}
    assert got == exp


def test_crash_resume_completes_missing_buckets(spark, product, tmp_path):
    """A crashed run resumes to exactly the single-shot product (the
    module fixture, written in one run with the same parameters)."""
    root = tmp_path / "resume"
    partial = _write(spark, root, fail_after_buckets=7)
    assert partial["buckets_written"] == 7
    merges_mtime = max(
        os.path.getmtime(os.path.join(root, "merges", f))
        for f in os.listdir(root / "merges"))
    full = _write(spark, root)  # resume: writes exactly the missing buckets
    assert full["buckets_written"] > 0
    # merge table reused, not retrained (decisions depend on it)
    assert merges_mtime == max(
        os.path.getmtime(os.path.join(root, "merges", f))
        for f in os.listdir(root / "merges"))
    again = _write(spark, root)
    assert again["skipped"] is True

    clean, _ = product
    for reader in (prep_io.read_training_audit, prep_io.read_training_texts,
                   prep_io.read_training_packs):
        a = sorted(map(tuple, reader(spark, str(root)).collect()))
        b = sorted(map(tuple, reader(spark, str(clean)).collect()))
        assert a == b, reader.__name__


def test_geometry_guard_refuses_parameter_drift(spark, product, tmp_path):
    # a copy of the product's stores: the guard reads only the sidecar, and
    # a guard that failed to refuse must not touch the shared product
    import shutil

    root = tmp_path / "g"
    shutil.copytree(product[0], root)
    with pytest.raises(
            ValueError, match=r"training-data geometry mismatch.*ctx_len"):
        _write(spark, root, ctx_len=CTX * 2)
    with pytest.raises(Exception, match="geometry"):
        _write(spark, root, upsample_bp={"src1": 15_000})
