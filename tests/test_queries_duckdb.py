"""Mimics the driver's correctness gate: run every REGISTRY query on Spark and
its oracle SQL on DuckDB at sf0.01; compare row count, column names, and the
order-insensitive multiset of values. ANCHOR_REGISTRY (oracle anchors folded
out of the <=50-entry driver window) is checked identically. The same frame's
physical plan is checked for the no-Python-hot-path rule before it runs, so
each query is built once for both checks (several build stores eagerly)."""

from __future__ import annotations

import math
import os

import duckdb
import pytest

from complete_ocr_spark.queries import ANCHOR_REGISTRY, REGISTRY

ALL_CHECKED = {**REGISTRY, **ANCHOR_REGISTRY}

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")

# Queries that intentionally contain the pandas kernels; every other query
# must stay JVM-side (whole-stage codegen), per the no-Python-hot-path rule.
PY_KERNEL_QUERIES = frozenset({
    "q_extract_pipeline",
    "q_extract_pipeline_opt",
    "q_media_frame_sample",
    "q_media_features",
    "q_nested_hocr",
    "q_layout_classes",
    "q_layout_classes_prima",
    "q_page_text_unmasked",
    "q_singular_word_merge",
    # simhash64 defaults to the Arrow kernel — measured 3.4x faster
    # than the Catalyst vote agg (BASELINE.md §simhash64 A/B)
    # SRP buckets default to the matmul kernel — measured 2.6x
    # (BASELINE.md §SRP bucket kernel)
    "q_embed_near_dup_srp",
    "q_simhash",
    "q_simhash64",
    "q_simhash_near_dup",
    "q_simhash_near_dup_mb",
    "q_stream_dedup_flags",
    "q_dup_clusters",
    "q_dup_clusters_incr",
    "q_corpus_curation",
    # BPE encode is the documented Arrow kernel (merge table in the
    # closure, per-batch word memo); training stays JVM-side and is
    # NOT excluded
    "q_bpe_encode",
})

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _duck():
    con = duckdb.connect()
    # statistics propagation is an optimizer pass (no effect on results)
    # that spends ~35 s of planning on the longest oracle SQL (q_ann_recall)
    con.execute("SET disabled_optimizers = 'statistics_propagation'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _canon_cell(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return bool(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    if isinstance(v, int):
        return int(v)
    return v


def _canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon_cell(r[i]) for i in order) for r in rows)


def test_driver_registry_fits_correctness_window():
    assert len(REGISTRY) <= 50, (
        f"{len(REGISTRY)} registry entries; the driver checks only 50 — "
        "fold oracle anchors into ANCHOR_REGISTRY (round-3 verdict)"
    )


@pytest.mark.parametrize("name", sorted(ALL_CHECKED))
def test_query_matches_duckdb(spark, name):
    fn, sql = ALL_CHECKED[name]
    sdf = fn(spark, SF_DIR)
    if name not in PY_KERNEL_QUERIES:
        plan = sdf._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan, name
    s_cols = [c.lower() for c in sdf.columns]
    s_rows = [tuple(r) for r in sdf.collect()]
    if sql is None:  # rows-only check (non-SQL-expressible operator)
        assert len(s_rows) > 0
        return

    con = _duck()
    res = con.sql(sql)
    d_cols = [c.lower() for c in res.columns]
    d_rows = res.fetchall()
    con.close()

    assert sorted(s_cols) == sorted(d_cols), f"{name}: column mismatch {s_cols} vs {d_cols}"
    assert len(s_rows) == len(d_rows), f"{name}: row count {len(s_rows)} vs {len(d_rows)}"
    assert len(s_rows) > 0, f"{name}: empty result — weak check, generate data with signal"
    cs, cd = _canon_rows(s_cols, s_rows), _canon_rows(d_cols, d_rows)
    if cs != cd:
        diffs = [(a, b) for a, b in zip(cs, cd) if a != b][:3]
        raise AssertionError(f"{name}: value mismatch, first diffs {diffs}")
