"""Extraction operators: the only Python that touches row data in the pipeline.

All Arrow-batched — the engine's replacement for the reference's per-item
subprocesses (tesseract per word/cell: src/get_nested_ocr.py:292,
src/table_cellwise_detection.py:186) and its per-page model reload
(src/table_cellwise_detection.py:64-70). A real deployment swaps the kernel
bodies (synthetic descriptor -> real detector/recognizer, loaded once per
executor as a module-level singleton); the UDF boundary and the plan stay
identical.

``make_extract_spans_batch`` builds the pipeline's mapInPandas kernel. It handles both
span kinds in ONE pass and emits FLAT rows (doc_id, offset, sub, kind, text,
media_ref). Flat string/int columns convert to Arrow vectorized; returning
nested array<struct> from a pandas UDF walks Python objects per span and
measured ~2.5x slower end-to-end.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from ..kernels.page import extract_page_np
from ..kernels.textstrip import strip_blocks
from ..synth import resolve_descriptor

# flat output schema of extract_spans_batch; `sub` is the within-source-span
# output position (reading order inside a page)
FLAT_SCHEMA = (
    "doc_id string, offset int, sub int, kind string, text string, media_ref string"
)


def _flat_frame(rows: list) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "doc_id": [r[0] for r in rows],
            "offset": pd.Series([r[1] for r in rows], dtype="int32"),
            "sub": pd.Series([r[2] for r in rows], dtype="int32"),
            "kind": [r[3] for r in rows],
            "text": [r[4] for r in rows],
            "media_ref": [r[5] for r in rows],
        }
    )


def make_extract_spans_batch(variant: str = "src"):
    """mapInPandas kernel factory: (doc_id, kind, text, media_ref, offset)
    span rows -> flat extracted-span rows. Unknown kinds and null payloads
    emit nothing. ``variant`` selects the reference entry point's figure
    semantics (see kernels.page.extract_page_np)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list = []
            for doc_id, kind, text, mref, off in zip(
                pdf["doc_id"], pdf["kind"], pdf["text"], pdf["media_ref"], pdf["offset"]
            ):
                if kind == "text":
                    s = strip_blocks(text)
                    outs = [] if s is None else [("text", s, None)]
                elif kind == "media_ref" and mref is not None:
                    outs = extract_page_np(
                        resolve_descriptor(mref), int(off), mref, variant
                    )
                else:
                    outs = []
                rows.extend(
                    (doc_id, off, i, k, t, m) for i, (k, t, m) in enumerate(outs)
                )
            yield _flat_frame(rows)

    return fn


extract_spans_batch = make_extract_spans_batch()


LAYOUT_SCHEMA = (
    "doc_id string, offset int, media_ref string, label string, "
    "x1 int, y1 int, x2 int, y2 int, score double"
)

# label_map configs the reference runs the same detector boundary under
# (notebooks/nested_ocr.ipynb cells 1-3); the synthetic detector emits class
# INDICES 0..4 surfaced as PubLayNet names, and an alternate config relabels
# index i to its map's (min_key + i) entry — the model-swap is config-level,
# the UDF boundary and plan are identical.
LAYOUT_LABEL_MAPS: dict[str, dict[int, str]] = {
    "publaynet": {0: "Text", 1: "Title", 2: "List", 3: "Table", 4: "Figure"},
    "hjdataset": {1: "Page Frame", 2: "Row", 3: "Title Region", 4: "Text Region",
                  5: "Title", 6: "Subtitle", 7: "Other"},
    "primalayout": {1: "TextRegion", 2: "ImageRegion", 3: "TableRegion",
                    4: "MathsRegion", 5: "SeparatorRegion", 6: "OtherRegion"},
}
_PUBLAYNET_INDEX = {v: k for k, v in LAYOUT_LABEL_MAPS["publaynet"].items()}
_LAYOUT_CLASSES = frozenset(_PUBLAYNET_INDEX)
_LAYOUT_THRESHOLD = 0.8  # MODEL.ROI_HEADS.SCORE_THRESH_TEST (frcnn entry :120)


def make_layout_regions_batch(config: str = "publaynet"):
    """mapInPandas kernel factory: (doc_id, offset, media_ref) media-span rows
    -> layout detector rows (U2, src/pdf_ocr_frcnn_tesseract_ocr.py:119-120)
    under the given label_map config (LAYOUT_LABEL_MAPS). The extraction
    pipeline itself consumes only Figure (:240-241, bug-compatible); this
    surfaces the other regions the reference's detector emits."""
    label_map = LAYOUT_LABEL_MAPS[config]
    base = min(label_map)  # PubLayNet is 0-based, HJDataset/PrimaLayout 1-based

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("doc_id", "offset", "media_ref", "label",
                                   "x1", "y1", "x2", "y2", "score")}
            for doc_id, off, mref in zip(pdf["doc_id"], pdf["offset"], pdf["media_ref"]):
                for d in resolve_descriptor(mref)["detections"]:
                    if d["label"] in _LAYOUT_CLASSES and d["score"] >= _LAYOUT_THRESHOLD:
                        out["doc_id"].append(doc_id)
                        out["offset"].append(off)
                        out["media_ref"].append(mref)
                        out["label"].append(
                            label_map[base + _PUBLAYNET_INDEX[d["label"]]]
                        )
                        for c, v in zip(("x1", "y1", "x2", "y2"), d["box"]):
                            out[c].append(v)
                        out["score"].append(d["score"])
            pdf_out = pd.DataFrame(out)
            for c in ("offset", "x1", "y1", "x2", "y2"):
                pdf_out[c] = pdf_out[c].astype("int32")
            pdf_out["score"] = pdf_out["score"].astype("float64")
            yield pdf_out

    return fn


layout_regions_batch = make_layout_regions_batch()


PAGE_VIEWS_SCHEMA = (
    "doc_id string, offset int, media_ref string, txt_unmasked string, "
    "n_words_unmasked int, n_words_masked int"
)


def page_views_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """(doc_id, offset, media_ref) media-span rows -> the U4 .txt/.hocr
    asymmetry views (kernels.page.page_text_views_np)."""
    from ..kernels.page import page_text_views_np

    for pdf in batches:
        out = {k: [] for k in ("doc_id", "offset", "media_ref", "txt_unmasked",
                               "n_words_unmasked", "n_words_masked")}
        for doc_id, off, mref in zip(pdf["doc_id"], pdf["offset"], pdf["media_ref"]):
            txt, nu, nm = page_text_views_np(resolve_descriptor(mref))
            out["doc_id"].append(doc_id)
            out["offset"].append(off)
            out["media_ref"].append(mref)
            out["txt_unmasked"].append(txt)
            out["n_words_unmasked"].append(nu)
            out["n_words_masked"].append(nm)
        pdf_out = pd.DataFrame(out)
        for c in ("offset", "n_words_unmasked", "n_words_masked"):
            pdf_out[c] = pdf_out[c].astype("int32")
        yield pdf_out

