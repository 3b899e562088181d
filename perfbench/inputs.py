"""Seeded benchmark inputs, built outside every timed region and cached on
disk per (workload, seed).

* ``extract``: interleaved docs from ``synth.make_doc(doc_id, seed)``. The
  seed changes every doc's spans; the selection below keeps the amount of
  work per input nearly constant across seeds (see README.md, "Seeds").
* ``curate_incr``: a ``documents`` table shaped like the sf0.1 fixture
  (``doc_id, text, lang, source, n_chars``; 30-word vocabulary, 10-100
  words per doc, 5 % copies of another doc with a ``dup`` suffix), cut into
  monotone doc-id batches, one parquet file per batch.
"""

from __future__ import annotations

import json
import multiprocessing
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# --- extract ---------------------------------------------------------------
LIGHT_DOCS = 100           # docs per op with the generator's usual 1-40 spans
HEAVY_DOCS = 1             # docs per op from the generator's 1 % long tail
HEAVY_PAGES = 200          # a heavy doc is cut after its 200th page span
LIGHT_MEAN_PAGES = 4.1     # make_doc: uniform 1..40 spans, 20 % of them pages
LIGHT_SLACK = 3            # running page total stays within this of target
POOL_WORKERS = 4
_CHUNK = 64
MAX_SCAN = 20_000          # ids walked per wanted doc before giving up

# --- curate_incr -----------------------------------------------------------
N_BATCHES = 10
BATCH_DOCS = 150
CUT_JITTER = 3             # seeded cut points: BATCH_DOCS * k +- 3
_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14))
_N_SOURCES = 20
_DUP_FRAC = 0.05


def _gen_docs(args):
    from complete_ocr_spark.synth import make_doc

    ids, seed = args
    return [make_doc(f"doc-{i:08d}", seed) for i in ids]


def _long_tail(seed: int, i: int) -> bool:
    """Whether make_doc's first draw for id ``i`` opens the 1 % long tail.
    Only a shortcut that spares generating docs of the wrong kind: every
    candidate is generated and checked for real before it is kept, and the
    search gives up after MAX_SCAN ids per wanted doc should make_doc's draw
    order ever change."""
    from complete_ocr_spark.synth import _rng

    return _rng("doc", f"doc-{i:08d}", seed).rand() < 0.01


def _pages(doc: dict) -> int:
    return sum(s["kind"] == "media_ref" for s in doc["spans"])


def _select_extract_docs(pool, seed: int, n_light: int,
                         n_heavy: int) -> list[dict]:
    """Walk make_doc's id space in order. Keep ``n_light`` light docs whose
    running page total tracks LIGHT_MEAN_PAGES per doc, and ``n_heavy``
    long-tail docs cut right after their HEAVY_PAGES-th page span, so every
    seed yields the same page count (the dominant cost) within
    LIGHT_SLACK. Deterministic in ``seed``."""
    light, heavy = [], []
    light_pages = 0
    nxt_light = nxt_heavy = 0
    max_id = MAX_SCAN * (n_light + n_heavy)
    while len(light) < n_light or len(heavy) < n_heavy:
        if max(nxt_light, nxt_heavy) > max_id:
            raise RuntimeError(
                f"extract inputs: found {len(light)}/{n_light} light and "
                f"{len(heavy)}/{n_heavy} heavy docs in {max_id} ids; "
                "has synth.make_doc changed?")
        jobs = []
        if len(light) < n_light:
            ids = range(nxt_light, nxt_light + _CHUNK * POOL_WORKERS)
            nxt_light = ids.stop
            ids = [i for i in ids if not _long_tail(seed, i)]
            jobs += [(ids[k::POOL_WORKERS], seed) for k in range(POOL_WORKERS)]
        while (len(jobs) < POOL_WORKERS * 2 and len(heavy) < n_heavy
               and nxt_heavy <= max_id):
            if _long_tail(seed, nxt_heavy):
                jobs.append(([nxt_heavy], seed))
            nxt_heavy += 1
        docs = sorted((d for chunk in pool.map(_gen_docs, jobs) for d in chunk),
                      key=lambda d: d["doc_id"])
        for doc in docs:
            if len(doc["spans"]) > 40:
                if len(heavy) < n_heavy and _pages(doc) >= HEAVY_PAGES:
                    cut = [i for i, s in enumerate(doc["spans"])
                           if s["kind"] == "media_ref"][HEAVY_PAGES - 1]
                    heavy.append(dict(doc, spans=doc["spans"][:cut + 1]))
            elif len(light) < n_light:
                p = _pages(doc)
                target = (len(light) + 1) * LIGHT_MEAN_PAGES
                if abs(light_pages + p - target) <= LIGHT_SLACK:
                    light.append(doc)
                    light_pages += p
    return sorted(light + heavy, key=lambda d: d["doc_id"])


def _oracle_chunk(docs):
    from complete_ocr_spark.oracle.reference_oracle import extract_document

    # descriptors always resolve at the synth default seed (the pipeline's
    # resolve_descriptor is called without one), so the oracle uses it too
    return [(d["doc_id"], extract_document(d)) for d in docs]


def extract_inputs(cache: str, seed: int, n_light: int = LIGHT_DOCS,
                   n_heavy: int = HEAVY_DOCS) -> dict:
    """-> {'docs_path', 'oracle' {doc_id: spans}, 'n_docs', 'n_spans',
    'n_pages'}; built once per (seed, sizes) under ``cache``."""
    d = os.path.join(cache, f"extract-{seed}-{n_light}-{n_heavy}")
    meta_path = os.path.join(d, "meta.json")
    if not os.path.exists(meta_path):
        ctx = multiprocessing.get_context("spawn")
        with ctx.Pool(POOL_WORKERS) as pool:
            docs = _select_extract_docs(pool, seed, n_light, n_heavy)
            parts = [docs[i::POOL_WORKERS] for i in range(POOL_WORKERS)]
            oracle = dict(kv for part in pool.map(_oracle_chunk, parts)
                          for kv in part)
        os.makedirs(d, exist_ok=True)
        # synth.write_docs_parquet's schema and row-group size
        span_t = pa.struct([("kind", pa.string()), ("text", pa.string()),
                            ("media_ref", pa.string()), ("offset", pa.int32())])
        schema = pa.schema([("doc_id", pa.string()),
                            ("spans", pa.list_(span_t))])
        pq.write_table(pa.Table.from_pylist(docs, schema=schema),
                       os.path.join(d, "docs.parquet"), row_group_size=256)
        with open(os.path.join(d, "oracle.json"), "w") as f:
            json.dump(oracle, f)
        meta = {
            "n_docs": len(docs),
            "n_spans": sum(len(x["spans"]) for x in docs),
            "n_pages": sum(_pages(x) for x in docs),
        }
        with open(meta_path, "w") as f:
            json.dump(meta, f)
    with open(meta_path) as f:
        meta = json.load(f)
    with open(os.path.join(d, "oracle.json")) as f:
        oracle = json.load(f)
    return dict(meta, docs_path=os.path.join(d, "docs.parquet"), oracle=oracle)


def make_documents(seed: int, n_docs: int) -> list[dict]:
    """sf0.1-shaped documents rows, a pure function of (seed, n_docs)."""
    rng = random.Random(f"documents-{seed}")
    langs, weights = zip(*_LANGS)
    texts = [
        " ".join(rng.choice(_VOCAB) for _ in range(rng.randint(10, 100)))
        for _ in range(n_docs)
    ]
    base = list(texts)
    for i in rng.sample(range(n_docs), int(n_docs * _DUP_FRAC)):
        j = rng.randrange(n_docs - 1)
        texts[i] = base[j + (j >= i)] + " dup"
    return [
        {"doc_id": i, "text": t, "lang": rng.choices(langs, weights)[0],
         "source": f"src{i % _N_SOURCES}", "n_chars": len(t)}
        for i, t in enumerate(texts)
    ]


def curate_inputs(cache: str, seed: int, n_batches: int = N_BATCHES,
                  batch_docs: int = BATCH_DOCS) -> dict:
    """-> {'batches': [parquet path per batch], 'sizes': [docs per batch]}:
    ``n_batches`` monotone doc-id ranges with seeded cut points."""
    d = os.path.join(cache, f"curate_incr-{seed}-{n_batches}-{batch_docs}")
    meta_path = os.path.join(d, "meta.json")
    if not os.path.exists(meta_path):
        rows = make_documents(seed, n_batches * batch_docs)
        rng = random.Random(f"cuts-{seed}")
        cuts = [0] + [
            k * batch_docs + rng.randint(-CUT_JITTER, CUT_JITTER)
            for k in range(1, n_batches)
        ] + [len(rows)]
        schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                            ("lang", pa.string()), ("source", pa.string()),
                            ("n_chars", pa.int64())])
        os.makedirs(d, exist_ok=True)
        for k in range(n_batches):
            pq.write_table(
                pa.Table.from_pylist(rows[cuts[k]:cuts[k + 1]], schema=schema),
                os.path.join(d, f"batch-{k:02d}.parquet"))
        with open(meta_path, "w") as f:
            json.dump({"sizes": [cuts[k + 1] - cuts[k]
                                 for k in range(n_batches)]}, f)
    with open(meta_path) as f:
        meta = json.load(f)
    return dict(meta, batches=[os.path.join(d, f"batch-{k:02d}.parquet")
                               for k in range(n_batches)])
