"""Pipeline-level properties (SURVEY §5.2.3)."""

from __future__ import annotations

from complete_ocr_spark.oracle import extract_document
from complete_ocr_spark.pipeline import run_extraction
from complete_ocr_spark.schemas import DOC_SCHEMA
from complete_ocr_spark.synth import make_docs

DEGENERATE_DOCS = [
    ("doc-empty", []),
    ("doc-null-text", [("text", None, None, 0)]),
    ("doc-unknown-kind", [("mystery", "x", None, 0)]),
    ("doc-null-mref", [("media_ref", None, None, 0)]),
    ("doc-all-boilerplate", [("text", '<div class="nav"><a href="#">home</a></div>', None, 0)]),
]


def test_mega_doc_extracts_exactly(spark):
    """Skew food: one 8,000-span doc (~25x the synth long-tail p99) next to a
    tiny doc. The salt repartition spreads its spans across partitions and
    the reassembly collect_list stays bounded by the doc itself — output must
    equal the oracle exactly, offsets dense."""
    spans = []
    for off in range(8000):
        if off % 5 == 0:
            spans.append(("media_ref", None, f"synth://page/mega/{off}", off))
        else:
            spans.append(("text", "<p>" + "alpha beta gamma delta epsilon " * 3 + "</p>", None, off))
    rows = [("doc-mega", spans), ("doc-tiny", [("text", "<p>one two three four five six</p>", None, 0)])]
    out = {
        r["doc_id"]: [tuple(s) for s in r["spans"]]
        for r in run_extraction(spark, spark.createDataFrame(rows, DOC_SCHEMA)).collect()
    }
    golden = extract_document(
        {"doc_id": "doc-mega",
         "spans": [dict(zip(("kind", "text", "media_ref", "offset"), s)) for s in spans]}
    )
    assert out["doc-mega"] == [
        (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in golden
    ]
    assert len(out["doc-tiny"]) == 1
    offs = [s[3] for s in out["doc-mega"]]
    assert offs == list(range(len(offs)))


def test_degenerate_docs_stay_present_with_empty_spans(spark):
    """Empty/null/unknown/all-boilerplate docs must yield a PRESENT output
    row with spans=[] (seed-union), never vanish or crash."""
    df = spark.createDataFrame(DEGENERATE_DOCS, DOC_SCHEMA)
    out = {
        r["doc_id"]: [tuple(s) for s in r["spans"]]
        for r in run_extraction(spark, df).collect()
    }
    assert out == {doc_id: [] for doc_id, _ in DEGENERATE_DOCS}


def test_output_independent_of_span_array_order(spark):
    """Reading order comes from the offset field, not array position — a
    permuted spans array must extract identically (the reference's unsorted
    os.listdir bug, fixed by contract)."""
    docs = make_docs(30)
    rows = [(d["doc_id"], [tuple(s.values()) for s in d["spans"]]) for d in docs]
    shuffled = [
        (doc_id, list(reversed(spans)))  # deterministic permutation
        for doc_id, spans in rows
    ]
    a = {
        r["doc_id"]: [tuple(s) for s in r["spans"]]
        for r in run_extraction(spark, spark.createDataFrame(rows, DOC_SCHEMA)).collect()
    }
    b = {
        r["doc_id"]: [tuple(s) for s in r["spans"]]
        for r in run_extraction(
            spark, spark.createDataFrame(shuffled, DOC_SCHEMA)
        ).collect()
    }
    assert a == b


def test_output_spans_preserve_source_order(spark):
    """Every output span traces to a source span; source offsets are visited
    in order (offsets dense asc is asserted elsewhere; here: the text of the
    oracle equals pipeline even for docs with duplicate content)."""
    docs = make_docs(10)
    # duplicate one doc's spans under a new id: identical content must give
    # identical extraction (pure function of content)
    clone = dict(docs[3], doc_id="doc-clone")
    rows = [(d["doc_id"], [tuple(s.values()) for s in d["spans"]]) for d in [docs[3], clone]]
    out = {
        r["doc_id"]: [tuple(s) for s in r["spans"]]
        for r in run_extraction(spark, spark.createDataFrame(rows, DOC_SCHEMA)).collect()
    }
    golden = extract_document(docs[3])
    assert out[docs[3]["doc_id"]] == out["doc-clone"]
    assert len(out["doc-clone"]) == len(golden)
