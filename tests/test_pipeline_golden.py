"""The north_rule gate: the Spark pipeline's output must equal the pure-Python
oracle's span sequence exactly — (kind, text, media_ref, order) per document."""

from __future__ import annotations

from complete_ocr_spark.oracle import extract_document
from complete_ocr_spark.pipeline import run_extraction
from complete_ocr_spark.synth import make_docs


def test_pipeline_matches_oracle_exactly(spark, docs_df):
    result = {r["doc_id"]: r["spans"] for r in run_extraction(spark, docs_df).collect()}
    docs = make_docs(120)
    assert len(result) == len(docs)
    mismatches = []
    for doc in docs:
        golden = extract_document(doc)
        got = [
            {"kind": s["kind"], "text": s["text"], "media_ref": s["media_ref"], "offset": s["offset"]}
            for s in (result[doc["doc_id"]] or [])
        ]
        if got != golden:
            mismatches.append((doc["doc_id"], golden, got))
    assert not mismatches, f"{len(mismatches)} docs mismatched; first: {mismatches[0][:1]}"


def test_pipeline_output_offsets_dense(spark, docs_df):
    for r in run_extraction(spark, docs_df).collect():
        offs = [s["offset"] for s in r["spans"]]
        assert offs == list(range(len(offs)))


def test_catalyst_link_chars_counts_tab_edged_anchors_like_python(spark):
    """ADVICE r2: Spark trim strips only ASCII spaces, so anchor text with
    leading/trailing tab/newline must be whitespace-collapsed BEFORE the trim
    or the Catalyst link-character count (functions.stripexpr._link_chars,
    used by q_strip_text_blocks) drifts from the Python kernel's
    len(" ".join(m.split()))."""
    from pyspark.sql import functions as F

    from complete_ocr_spark.functions.stripexpr import _link_chars

    # python counts the anchor as 7 chars; trim-before-collapse counted 9
    block = 'aa <a href="x">\tfoo bar\n</a> bb cc dd ee x'
    got = spark.createDataFrame([(block,)], "block string").select(
        _link_chars(F.col("block"))).head()[0]
    assert got == len(" ".join("\tfoo bar\n".split())) == 7
