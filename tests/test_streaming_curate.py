"""Incremental curation runner (round-6 verdict #1): prefix-equality vs
batch curate_corpus, re-delivery idempotence, restart resume, parameter
guard, the promotion flip (a later bridge dethrones an earlier keep), the
all-dropped batch edge, and the real readStream wiring."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from complete_ocr_spark.functions.curate import curate_corpus
from complete_ocr_spark.streaming.curate_stream import (
    curate_stream_paths,
    make_curate_batch,
    read_curated_incr,
    read_incr_training,
    run_streaming_curation,
)

GOOD = ("the spark engine shuffles partitioned batches of arrow pages "
        "and the reader prunes nested columns in a distributed plan " * 3)
UNIQ2 = ("a query optimizer rewrites relational trees into physical "
         "operators while the scheduler assigns tasks to executor slots " * 3)
UNIQ3 = ("the storage layer compacts sorted runs of immutable files and "
         "a manifest tracks snapshots for time travel in the table " * 3)

# identical parameter set for the runner and the batch reference
CURATE_KW = dict(
    languages=("en",), min_quality=0.6, max_dup_line_frac=0.3,
    max_top_bigram_frac=0.1, min_bigram_tokens=20, max_symbol_ratio=0.25,
    max_dup_segment_frac=0.5, seg_win=20, seg_stride=10,
    max_hamming=3, n_blocks=4,
)

# monotone-id batches (ids are ingest sequence numbers — the module-doc
# precondition for exact batch equality)
BATCHES = [
    [(0, GOOD),
     (1, "extended " + GOOD),        # shifted near-copy: seg-blind, SimHash-visible
     (2, "zzz qqq xxx " * 20),       # lang drop
     (3, GOOD)],                     # within-batch exact dup of 0
    [(10, UNIQ2),
     (11, GOOD),                     # CROSS-BATCH exact dup of 0
     (12, " ".join(GOOD.split()[:40]) + " "
          + " ".join(f"tail{i}" for i in range(8))),  # 40/48 copied tokens
     (13, "extended " + UNIQ2)],     # cross-batch shifted near-copy of 10
    [(20, "   "),                    # empty
     (21, UNIQ3),
     (22, GOOD + " extended")],      # cross-batch aligned mostly-copy of 0
]

SCHEMA = "doc_id bigint, text string"


def _batch_snapshot(spark, rows):
    cur = curate_corpus(
        spark.createDataFrame(rows, SCHEMA), "doc_id", "text", **CURATE_KW
    )
    return {
        r["doc_id"]: (r["keep"], r["drop_reason"], r["lang"],
                      r["quality"], r["n_tokens"])
        for r in cur.collect()
    }


def _incr_snapshot(spark, root):
    return {
        r["doc_id"]: (r["keep"], r["drop_reason"], r["lang"],
                      r["quality"], r["n_tokens"])
        for r in read_curated_incr(spark, root).collect()
    }


def test_prefix_equality_vs_batch_curation(spark, tmp_path):
    """THE invariant: after every prefix of monotone-id batches, the
    promoted incremental view equals batch curate_corpus over the union of
    everything arrived — decisions AND gate signals — while the fixture
    exercises lang/empty gates, within- and cross-batch exact dups, the
    aligned mostly-copy (dup_segments), and shifted near-copies
    (near_dup)."""
    root = str(tmp_path / "ci")
    pb = make_curate_batch(spark, root, **CURATE_KW)
    seen = []
    for k, rows in enumerate(BATCHES):
        pb(spark.createDataFrame(rows, SCHEMA), k)
        seen += rows
        assert _incr_snapshot(spark, root) == _batch_snapshot(spark, seen), (
            f"prefix {k}"
        )
    # the fixture really exercised every lexical tier
    reasons = {v[1] for v in _incr_snapshot(spark, root).values()}
    assert {"lang", "empty", "exact_dup", "dup_segments", None} <= reasons
    # training: exactly the batch-time kept docs, cleaned text present
    tr = {r["doc_id"] for r in read_incr_training(spark, root).collect()}
    batch_time_kept = {
        r["doc_id"]
        for r in spark.read.parquet(curate_stream_paths(root)["audit"])
        .filter("keep").collect()
    }
    assert tr == batch_time_kept
    # lineage reconciles to the audit row count
    lin = spark.read.parquet(curate_stream_paths(root)["lineage"])
    assert lin.agg(F.sum("doc_count")).collect()[0][0] == len(seen)
    _assert_store_layout(root, len(BATCHES))


def _assert_store_layout(root, n_batches):
    """The per-batch file layout: the three batch outputs hold one file per
    batch_id partition with ``bucket`` a data column; the evidence stores
    keep one file per (batch_id, bucket key) partition."""
    from complete_ocr_spark.streaming.dedup_stream import (
        cluster_paths,
        dedup_paths,
    )
    from complete_ocr_spark.streaming.segment_stream import segment_paths

    def n_files(d):
        return len(glob.glob(os.path.join(d, "*.parquet")))

    paths = curate_stream_paths(root)
    for store in ("audit", "training", "lineage"):
        for k in range(n_batches):
            part = os.path.join(paths[store], f"batch_id={k}")
            assert n_files(part) == 1, (store, k)
            assert not glob.glob(os.path.join(part, "bucket=*")), (store, k)
    for store, key in ((paths["fps"], "fb="),
                       (segment_paths(paths["seg"])[0], "fb="),
                       (dedup_paths(paths["dedup"])[2], "vb="),
                       (cluster_paths(paths["dedup"])[0], "db=")):
        parts = [d for d in glob.glob(os.path.join(store, "batch_id=*", "*"))
                 if os.path.isdir(d)]
        assert parts, store
        assert all(os.path.basename(d).startswith(key) for d in parts), store
        assert all(n_files(d) == 1 for d in parts), store


def test_redelivery_and_restart_are_idempotent(spark, tmp_path):
    """A re-delivered batch (even an OLD one, long after later batches
    landed) rewrites exactly its own partitions and changes nothing; a
    fresh body instance (process restart) resumes from the persisted
    stores; different thresholds on the same stores refuse loudly."""
    root = str(tmp_path / "ci_redeliver")
    pb = make_curate_batch(spark, root, **CURATE_KW)
    frames = [spark.createDataFrame(rows, SCHEMA) for rows in BATCHES[:2]]
    pb(frames[0], 0)
    pb(frames[1], 1)
    before = _incr_snapshot(spark, root)
    pb(frames[0], 0)  # stale re-delivery of batch 0
    assert _incr_snapshot(spark, root) == before
    pb(frames[1], 1)  # re-delivery of the latest batch
    assert _incr_snapshot(spark, root) == before
    # restart: a NEW body continues against the same stores
    pb2 = make_curate_batch(spark, root, **CURATE_KW)
    pb2(spark.createDataFrame(BATCHES[2], SCHEMA), 2)
    assert _incr_snapshot(spark, root) == _batch_snapshot(
        spark, [r for rows in BATCHES for r in rows]
    )
    # parameter drift refuses before touching any store
    bad = make_curate_batch(spark, root, **{**CURATE_KW, "min_quality": 0.9})
    with pytest.raises(
            ValueError, match=r"curate-stream geometry mismatch.*min_quality"):
        bad(frames[0], 3)
    # a store without the layout version (the older batch_id=K/bucket=B
    # partitions) refuses loudly instead of failing at a later read
    geo_path = os.path.join(root, "_curate_geometry.json")
    with open(geo_path) as f:
        geo = json.load(f)
    del geo["store_layout"]
    with open(geo_path, "w") as f:
        json.dump(geo, f)
    with pytest.raises(ValueError, match="store_layout"):
        make_curate_batch(spark, root, **CURATE_KW)(frames[0], 3)


def test_redelivered_batch_reuses_compiled_plans(spark, tmp_path):
    """A re-delivered batch runs the plans its first delivery compiled, so
    the session's generated-class cache must hold one batch's worth of
    plans: with the default 100 entries every batch evicted its own and
    recompiled ~250 classes."""
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    root = str(tmp_path / "ci_codegen")
    pb = make_curate_batch(spark, root, **CURATE_KW)
    for k, rows in enumerate(BATCHES[:2]):
        pb(spark.createDataFrame(rows, SCHEMA), k)
    before = codegen.METRIC_COMPILATION_TIME().getCount()
    pb(spark.createDataFrame(BATCHES[1], SCHEMA), 1)
    compiled = codegen.METRIC_COMPILATION_TIME().getCount() - before
    assert compiled < 20, compiled


def test_promotion_flips_bridged_keep_to_near_dup(spark, tmp_path):
    """The reason the promoted view exists: doc 20 arrives far (hamming 6)
    from doc 10 and is KEPT at batch time; doc 30 later lands within
    hamming 3 of BOTH, bridging them into one cluster with minimum 10 —
    the promoted view must flip 20 to near_dup (batch curation over the
    union would drop it), while the immutable batch-time audit row still
    records the keep. Signatures injected via sig_fn to pin the exact
    geometry."""
    A = 0x0F0F0F0F0F0F0F0F
    B = A ^ (0x3F << 10)   # hamming 6 from A
    C = A ^ (0x07 << 10)   # hamming 3 from A AND from B
    SIGS = {10: A, 20: B, 30: C}

    def pinned_sigs(batch_df, id_col, text_col):
        ids = [r[0] for r in batch_df.select(id_col).collect()]
        return batch_df.sparkSession.createDataFrame(
            [(i, SIGS[i] >> 32, SIGS[i] & 0xFFFFFFFF) for i in ids],
            "doc bigint, simhash_hi bigint, simhash_lo bigint",
        )

    root = str(tmp_path / "ci_bridge")
    pb = make_curate_batch(spark, root, **CURATE_KW, sig_fn=pinned_sigs)
    texts = {10: GOOD, 20: UNIQ2, 30: UNIQ3}
    for k, doc in enumerate([10, 20, 30]):
        pb(spark.createDataFrame([(doc, texts[doc])], SCHEMA), k)
        if doc == 20:
            snap = _incr_snapshot(spark, root)
            assert snap[10] == (True, None, snap[10][2], snap[10][3],
                                snap[10][4])
            assert snap[20][0] is True  # far from 10 at arrival: kept
    snap = _incr_snapshot(spark, root)
    assert snap[10][0] is True
    assert snap[20][:2] == (False, "near_dup")  # flipped by the bridge
    assert snap[30][:2] == (False, "near_dup")  # flagged at batch time
    # the arrival-time audit row for 20 is immutable (keep=true): promotion
    # is a VIEW over the log, not a rewrite of history
    audit = spark.read.parquet(curate_stream_paths(root)["audit"])
    assert audit.filter("doc_id = 20").collect()[0]["keep"] is True


def test_all_dropped_batch_then_recovery(spark, tmp_path):
    """A batch where every doc drops writes audit + lineage (null
    token_count) and NO training partition; the next batch proceeds
    normally and the promoted view covers both."""
    root = str(tmp_path / "ci_empty")
    pb = make_curate_batch(spark, root, **CURATE_KW)
    pb(spark.createDataFrame(
        [(0, "zzz qqq xxx " * 20), (1, None)], SCHEMA), 0)
    snap = _incr_snapshot(spark, root)
    assert snap[0][:2] == (False, "lang") and snap[1][:2] == (False, "empty")
    lin = spark.read.parquet(curate_stream_paths(root)["lineage"])
    assert lin.filter("token_count is not null").count() == 0
    pb(spark.createDataFrame([(10, GOOD)], SCHEMA), 1)
    snap = _incr_snapshot(spark, root)
    assert snap[10][:2] == (True, None)
    assert {r["doc_id"] for r in read_incr_training(spark, root).collect()} == {10}


def test_cdc_scheme_catches_shifted_cross_batch_copy(spark, tmp_path):
    """segment_scheme='cdc' passes through to the segment body AND the
    coverage gate: a later batch's doc that embeds an earlier doc's text
    behind a one-token insertion (every stride window off-grid) still
    drops as dup_segments under cdc, and the incremental view equals batch
    curate_corpus under the same scheme at both prefixes."""
    kw = {**CURATE_KW, "segment_scheme": "cdc",
          "cdc_avg_chunk": 8, "cdc_min_tokens": 5, "cdc_window_k": 3}
    batches = [
        [(0, GOOD), (1, UNIQ2)],
        [(10, "inserted " + GOOD + " "
              + " ".join(f"tail{i}" for i in range(6)))],
    ]
    root = str(tmp_path / "ci_cdc")
    pb = make_curate_batch(spark, root, **kw)
    seen = []
    for k, rows in enumerate(batches):
        pb(spark.createDataFrame(rows, SCHEMA), k)
        seen += rows
        batch_ref = {
            r["doc_id"]: (r["keep"], r["drop_reason"])
            for r in curate_corpus(
                spark.createDataFrame(seen, SCHEMA), "doc_id", "text", **kw
            ).collect()
        }
        got = {
            k2: v[:2] for k2, v in _incr_snapshot(spark, root).items()
        }
        assert got == batch_ref, f"prefix {k}"
    assert got[10] == (False, "dup_segments")


def test_run_streaming_curation_end_to_end(spark, tmp_path):
    """The real readStream wiring: one micro-batch per parquet part-file,
    availableNow drains the backlog exactly once; a cross-batch exact dup
    is dropped, the training table holds only kept docs, and re-running
    the drained stream (same checkpoint) is a no-op."""
    import os

    src = str(tmp_path / "src")
    os.makedirs(src)
    f1 = spark.createDataFrame([(0, GOOD), (2, "zzz qqq xxx " * 20)], SCHEMA)
    f2 = spark.createDataFrame([(11, GOOD), (12, UNIQ2)], SCHEMA)
    # one part-file per frame -> one micro-batch each (file-source rule)
    f1.coalesce(1).write.mode("append").parquet(src)
    f2.coalesce(1).write.mode("append").parquet(src)
    root = str(tmp_path / "ci_stream")
    ckpt = str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = run_streaming_curation(spark, stream, root, ckpt, **CURATE_KW)
    q.awaitTermination(120)
    snap = _incr_snapshot(spark, root)
    assert len(snap) == 4
    assert snap[0][:2] == (True, None)
    assert snap[2][:2] == (False, "lang")
    assert snap[12][:2] == (True, None)
    # the GOOD re-arrival is an exact dup of whichever copy arrived first
    first_good = min(k for k, v in snap.items() if k in (0, 11) and v[0])
    other = 11 if first_good == 0 else 0
    assert snap[other][:2] == (False, "exact_dup")
    kept = {k for k, v in snap.items() if v[0]}
    assert {r["doc_id"] for r in read_incr_training(spark, root).collect()} == kept
    # drained: a rerun against the same checkpoint processes nothing new
    stream2 = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q2 = run_streaming_curation(spark, stream2, root, ckpt, **CURATE_KW)
    q2.awaitTermination(120)
    assert _incr_snapshot(spark, root) == snap


# ---------------------------------------------------------------------------
# round 8: the semantic + media tiers in the incremental runner
# ---------------------------------------------------------------------------

UNIQ4 = ("the vectorized engine executes columnar batches in fused "
         "kernels and a planner re-splits the skewed exchanges of a run " * 3)
UNIQ5 = ("checkpointed state stores replay idempotent updates after a "
         "failure and watermarks bound the lateness of streaming rows " * 3)
UNIQ6 = ("broadcast hash joins ship the dimension side to every task and "
         "probe local tables without moving the large fact relation " * 3)


def _keystream(seed, n):
    import hashlib

    out = bytearray()
    c = 0
    while len(out) < n:
        out += hashlib.blake2b(f"{seed}:{c}".encode(),
                               digest_size=64).digest()
        c += 1
    return bytes(out[:n])


def _full_fixture(spark):
    """Docs + embeddings + media engineered so every round-8 tier fires:
    doc 10's embedding duplicates doc 0's (semantic_dup), doc 21's
    embedding BRIDGES docs 0 and 1 (the semantic promotion case), doc 12's
    only linked media is a re-encode of batch-0 media (media_dup)."""
    A = [1.0, 0.0, 0.0, 0.0]
    B = [0.8, 0.6, 0.0, 0.0]          # cos(A,B)=0.8 < thr: no direct edge
    M = [0.95, 0.312, 0.0, 0.0]       # cos(M,A)=.95, cos(M,B)=.947 >= thr
    C, D, E = [0.0, 0.0, 1.0, 0.0], [0.0, 0.0, 0.0, 1.0], [0.0, 1.0, 0.0, 0.0]
    batches = [
        [(0, GOOD), (1, UNIQ2)],
        [(10, UNIQ3), (11, UNIQ4), (12, UNIQ5)],
        [(21, UNIQ6)],
    ]
    emb = spark.createDataFrame(
        [(0, A), (1, B), (10, A), (11, C), (12, D), (21, M)],
        "vec_id bigint, embedding array<double>",
    )
    base = _keystream("page", 64 * 64)
    reenc = bytearray(base)
    for k in range(0, len(reenc), 997):
        reenc[k] = (reenc[k] + 5) % 256
    media = spark.createDataFrame(
        [("m0", 64, 64, 1, base),
         ("m1", 48, 80, 1, _keystream("one", 48 * 80)),
         ("m0re", 64, 64, 1, bytes(reenc)),   # visual dup of m0
         ("m2", 32, 96, 1, _keystream("two", 32 * 96))],
        "media_ref string, width int, height int, n_frames int, payload binary",
    )
    links = spark.createDataFrame(
        [(0, "m0"), (1, "m1"),
         (10, "m2"), (11, "m0re"), (11, "m2"),  # frac 0.5: not > 0.5, keeps
         (12, "m0re"),                          # frac 1.0: media_dup
         (21, "m1")],
        "doc_id bigint, media_ref string",
    )
    kw = dict(
        CURATE_KW,
        embeddings=emb, emb_dim=4, semantic_threshold=0.9,
        sem_bits=1, sem_tables=2,
        doc_media=links, media=media,
        max_dup_media_frac=0.5, media_max_hamming=3, media_n_blocks=8,
    )
    return batches, emb, media, links, kw


def _full_batch_snapshot(spark, rows, emb, media, links, kw):
    """Batch curate_corpus over the union, with media restricted to what
    the arrived docs link (exactly what the stream has signed)."""
    docs = spark.createDataFrame(rows, SCHEMA)
    seen_media = media.join(
        links.join(docs.select("doc_id"), "doc_id")
        .select("media_ref").distinct(), "media_ref")
    bkw = dict(kw)
    bkw.pop("sem_bits"), bkw.pop("sem_tables")
    bkw.update(sem_bits=kw["sem_bits"], sem_tables=kw["sem_tables"],
               media=seen_media)
    cur = curate_corpus(docs, "doc_id", "text", **bkw)
    return {
        r["doc_id"]: (r["keep"], r["drop_reason"],
                      round(r["dup_media_frac"], 6))
        for r in cur.collect()
    }


def _full_incr_snapshot(spark, root):
    return {
        r["doc_id"]: (r["keep"], r["drop_reason"],
                      round(r["dup_media_frac"], 6))
        for r in read_curated_incr(spark, root).collect()
    }


@pytest.fixture(scope="module")
def full_tier_run(spark, tmp_path_factory):
    """The full-tier batches through ONE body instance, with the promoted
    view snapshotted after every prefix and the stores copied as batch 0
    left them. The prefix-equality, re-delivery and restart tests all
    start from this run, so it is made once."""
    import shutil
    from types import SimpleNamespace

    batches, emb, media, links, kw = _full_fixture(spark)
    base = tmp_path_factory.mktemp("full_tier")
    root = str(base / "cif")
    after_first = str(base / "cif_after_batch0")
    pb = make_curate_batch(spark, root, **kw)
    snaps = []
    for k, rows in enumerate(batches):
        pb(spark.createDataFrame(rows, SCHEMA), k)
        snaps.append(_full_incr_snapshot(spark, root))
        if k == 0:
            shutil.copytree(root, after_first)
    return SimpleNamespace(batches=batches, emb=emb, media=media,
                           links=links, kw=kw, root=root, pb=pb,
                           snaps=snaps, after_first=after_first)


def test_full_tier_prefix_equality_and_promotion(spark, full_tier_run):
    """All-tiers prefix equality: after every monotone batch, the promoted
    incremental view (cluster-log near_dup, pair-CC semantic_dup,
    cluster-log media_dup + recomputed dup_media_frac) equals batch
    curate_corpus with segment+semantic+media on, over everything arrived.
    The batch-2 bridge (doc 21's embedding links docs 0 and 1) must FLIP
    doc 1 from kept (prefix 1) to semantic_dup (prefix 2)."""
    run = full_tier_run
    snaps = run.snaps
    seen = []
    for k, rows in enumerate(run.batches):
        seen += rows
        got = snaps[k]
        exp = _full_batch_snapshot(spark, seen, run.emb, run.media,
                                   run.links, run.kw)
        assert got == exp, f"prefix {k}: {got} != {exp}"
    # the engineered evidence actually fired (non-vacuous fixture)
    assert snaps[1][10][:2] == (False, "semantic_dup")   # identical embedding
    assert snaps[1][12][:2] == (False, "media_dup")      # all links visual dups
    assert snaps[1][12][2] == 1.0
    assert snaps[1][11][:2] == (True, None)              # frac 0.5 not > 0.5
    assert snaps[1][11][2] == 0.5
    assert snaps[1][1][:2] == (True, None)               # kept at prefix 1...
    assert snaps[2][1][:2] == (False, "semantic_dup")    # ...bridged at 2


def test_full_tier_redelivery_is_idempotent(spark, full_tier_run):
    run = full_tier_run
    run.pb(spark.createDataFrame(run.batches[1], SCHEMA), 1)  # replay mid batch
    assert _full_incr_snapshot(spark, run.root) == run.snaps[-1]


def test_full_tier_restart_resumes_from_stores(spark, full_tier_run, tmp_path):
    """A fresh batch-body instance (new process after a crash) over the
    same stores continues where the old one stopped — all three evidence
    stores (fps/seg/dedup + sem + media) are the state, not the object.
    The stores are the fixture run's, as its instance left them after
    batch 0."""
    import shutil

    run = full_tier_run
    root = str(tmp_path / "cif")
    shutil.copytree(run.after_first, root)
    pb2 = make_curate_batch(spark, root, **run.kw)  # "restarted" instance
    for k, rows in enumerate(run.batches[1:], start=1):
        pb2(spark.createDataFrame(rows, SCHEMA), k)
    seen = [r for b in run.batches for r in b]
    assert _full_incr_snapshot(spark, root) == _full_batch_snapshot(
        spark, seen, run.emb, run.media, run.links, run.kw)


def test_media_signed_in_earlier_batch_is_not_resigned(spark, tmp_path):
    """Doc 10 re-links m0, which batch 0 already signed. The batch-time
    probe must find m0 in the media signature store and skip it: signed
    again, m0 would match its own batch-0 signature and doc 10 would drop
    as media_dup at batch time while the promoted view keeps it, i.e. a
    drop -> keep move that promotion never makes."""
    media = spark.createDataFrame(
        [("m0", 64, 64, 1, _keystream("page", 64 * 64))],
        "media_ref string, width int, height int, n_frames int, payload binary",
    )
    links = spark.createDataFrame(
        [(0, "m0"), (10, "m0")], "doc_id bigint, media_ref string")
    kw = dict(CURATE_KW, doc_media=links, media=media,
              max_dup_media_frac=0.5, media_max_hamming=3, media_n_blocks=8)
    root = str(tmp_path / "ci_media")
    pb = make_curate_batch(spark, root, **kw)
    pb(spark.createDataFrame([(0, GOOD)], SCHEMA), 0)
    pb(spark.createDataFrame([(10, UNIQ2)], SCHEMA), 1)
    cols = ("keep", "drop_reason", "dup_media_frac")
    audit = spark.read.parquet(curate_stream_paths(root)["audit"])
    at_batch = audit.filter("doc_id = 10").select(*cols).collect()
    promoted = (read_curated_incr(spark, root).filter("doc_id = 10")
                .select(*cols).collect())
    assert [tuple(r) for r in at_batch] == [(True, None, 0.0)]
    assert [tuple(r) for r in promoted] == [(True, None, 0.0)]
    training = read_incr_training(spark, root).filter("batch_id = 1")
    assert [r["doc_id"] for r in training.collect()] == [10]


def test_model_gate_prefix_equality_and_geometry(spark, tmp_path):
    """The model-quality tier in the incremental runner (round 8): with a
    crafted weight table (one poisoned bucket), the promoted view equals
    batch curate_corpus with the same clf parameters at every prefix; the
    margin rides the audit; resuming under different weights refuses."""
    from complete_ocr_spark.oracle.classifier import bucket

    nb = 1024
    marker = "badtokenxyz"
    w = [1_000_000] * nb
    w[bucket(marker, nb)] = -100_000_000  # collision-checked vs fixture tokens
    bad = ("the quick brown fox likes "
           + " ".join(f"{marker} filler{i}" for i in range(30))
           + " over the lazy dog")
    batches = [
        [(0, GOOD), (1, bad)],                       # model drop arrives
        [(10, UNIQ2), (11, GOOD), (12, bad)],        # 11 exact dup, 12 model
        [(20, "zzz qqq " + marker * 3), (21, UNIQ3)],  # lang beats model
    ]
    kw = dict(CURATE_KW, clf_weights=w, clf_threshold_micros=0)
    root = str(tmp_path / "cm")
    pb = make_curate_batch(spark, root, **kw)
    seen = []
    for k, rows in enumerate(batches):
        pb(spark.createDataFrame(rows, SCHEMA), k)
        seen += rows
        got = {
            r["doc_id"]: (r["keep"], r["drop_reason"],
                          r["model_quality_micros"])
            for r in read_curated_incr(spark, root).collect()
        }
        exp = {
            r["doc_id"]: (r["keep"], r["drop_reason"],
                          r["model_quality_micros"])
            for r in curate_corpus(
                spark.createDataFrame(seen, SCHEMA), "doc_id", "text", **kw
            ).collect()
        }
        assert got == exp, f"prefix {k}"
    reasons = {v[1] for v in got.values()}
    assert "model_quality" in reasons
    assert got[1][1] == "model_quality"
    assert got[11][1] == "exact_dup"
    assert got[20][1] == "lang"          # earlier gate wins
    # geometry: different weights refuse loudly
    w2 = list(w)
    w2[0] += 1
    import pytest as _pytest

    with _pytest.raises(Exception, match="geometry"):
        make_curate_batch(spark, root, **dict(kw, clf_weights=w2))(
            spark.createDataFrame([(30, GOOD)], SCHEMA), 3)


def test_lm_gate_prefix_equality_and_geometry(spark, tmp_path):
    """The perplexity tier in the incremental runner (round 8): with LM
    tables fit on a fixed target, the promoted view equals batch
    curate_corpus with the same lm parameters at every prefix; the avg
    rides the audit; resuming under different tables refuses."""
    from complete_ocr_spark.functions import lm as lmod

    target = spark.createDataFrame(
        [(900 + i, GOOD) for i in range(4)]
        + [(950 + i, UNIQ2) for i in range(3)], SCHEMA)
    t = lmod.lm_tables(target, "doc_id", "text", n_buckets=128)
    trows = t.orderBy("bucket").collect()
    w1 = [r["w1_micros"] for r in trows]
    w2 = [r["w2_micros"] for r in trows]
    garbage = ("the " + " ".join(f"zx{i} vb{i} mk{i}"
                                 for i in range(12)))  # distinct bigrams:
    # only the LM sees it (bigram_repeat can't fire). The bound is set
    # BETWEEN the in-domain docs' avg surprise and the garbage doc's,
    # computed from the independent oracle so the fixture can't drift.
    from complete_ocr_spark.oracle import lm as OLM

    scored = dict(
        (d, avg) for d, _n, _nll, avg in OLM.score(
            [(1, GOOD), (2, UNIQ2), (3, UNIQ3), (4, garbage)],
            w1, w2, 128)
    )
    thr = (max(scored[1], scored[2], scored[3]) + scored[4]) // 2
    assert max(scored[1], scored[2], scored[3]) < thr < scored[4]
    batches = [
        [(0, GOOD), (1, garbage)],               # 1 trips perplexity
        [(10, UNIQ2), (11, GOOD), (12, garbage)],  # 11 exact dup, 12 lm
        [(20, "the"), (21, UNIQ3)],              # 20: 1 token = no bigram evidence, passes
    ]
    kw = dict(CURATE_KW, lm_w1_micros=w1, lm_w2_micros=w2,
              max_avg_nll_micros=int(thr))
    root = str(tmp_path / "cl")
    pb = make_curate_batch(spark, root, **kw)
    seen = []
    for k, rows in enumerate(batches):
        pb(spark.createDataFrame(rows, SCHEMA), k)
        seen += rows
        got = {
            r["doc_id"]: (r["keep"], r["drop_reason"], r["avg_nll_micros"])
            for r in read_curated_incr(spark, root).collect()
        }
        exp = {
            r["doc_id"]: (r["keep"], r["drop_reason"], r["avg_nll_micros"])
            for r in curate_corpus(
                spark.createDataFrame(seen, SCHEMA), "doc_id", "text", **kw
            ).collect()
        }
        assert got == exp, f"prefix {k}"
    assert got[1][1] == "perplexity"
    assert got[12][1] == "perplexity"
    assert got[11][1] == "exact_dup"
    assert got[20][0] and got[20][2] is None     # no evidence passes
    import pytest as _pytest

    with _pytest.raises(Exception, match="geometry"):
        make_curate_batch(
            spark, root, **dict(kw, max_avg_nll_micros=int(thr) + 1)
        )(spark.createDataFrame([(30, GOOD)], SCHEMA), 3)
