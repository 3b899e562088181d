"""Incremental streaming dedup: a near-dup arriving in a later micro-batch is
detected against an earlier batch's corpus; within-batch order breaks ties;
re-delivery and checkpoint restart are idempotent."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from complete_ocr_spark.streaming.dedup_stream import (
    dedup_paths,
    make_dedup_batch,
    near_dup_flags,
    read_flags,
    run_streaming_dedup,
)

SCHEMA = "doc_id bigint, text string"
BASE = ("spark shuffles partitioned batches of vectorized arrow pages "
        "through catalyst while the reader prunes nested columns")
UNIQ1 = "a completely different document about table detection and ocr lines"
UNIQ2 = "the quick brown fox jumps over the lazy dog near the river bank"


def _flags(spark, out_root):
    return {
        r["doc"]: (r["dup_of"], r["dup_batch"], r["hamming"], r["batch_id"])
        for r in read_flags(spark, out_root).collect()
    }


def _sidecar(out_root):
    with open(os.path.join(out_root, "_dedup_geometry.json")) as f:
        return f.read()


def _run(spark, src, out_root, ckpt):
    q = run_streaming_dedup(
        spark, source_dir=src + "/*", out_root=out_root,
        checkpoint_dir=ckpt, schema=SCHEMA,
    )
    q.awaitTermination(300)


def test_cross_batch_and_within_batch_dedup(spark, tmp_path):
    src = str(tmp_path / "src")
    out_root = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    # batch 0: the seed corpus
    spark.createDataFrame([(1, BASE), (2, UNIQ1)], SCHEMA).coalesce(1).write.parquet(src + "/f1")
    _run(spark, src, out_root, ckpt)
    assert _flags(spark, out_root) == {}

    # batch 1: doc 3 repeats batch 0's doc 1 (cross-batch dup); docs 4/5 are
    # identical within the batch (within-batch order flags only the later id)
    spark.createDataFrame(
        [(3, BASE), (4, UNIQ2), (5, UNIQ2)], SCHEMA
    ).coalesce(1).write.parquet(src + "/f2")
    _run(spark, src, out_root, ckpt)
    got = _flags(spark, out_root)
    assert got == {3: (1, 0, 0, 1), 5: (4, 1, 0, 1)}

    # signature table holds every doc regardless of flagging
    sig_path, _, band_path = dedup_paths(out_root)
    sigs = spark.read.parquet(sig_path)
    assert sigs.count() == 5
    assert sigs.groupBy("doc").count().filter("count > 1").count() == 0

    # --- re-delivery: re-running committed batch 1 changes nothing ---------
    pb = make_dedup_batch(spark, out_root)
    pb(spark.createDataFrame([(3, BASE), (4, UNIQ2), (5, UNIQ2)], SCHEMA), 1)
    assert _flags(spark, out_root) == got
    assert spark.read.parquet(sig_path).count() == 5

    # --- checkpoint restart: only the new file is processed ----------------
    # doc 6 repeats UNIQ1 (batch 0's doc 2) — detected across a restart
    spark.createDataFrame([(6, UNIQ1)], SCHEMA).coalesce(1).write.parquet(src + "/f3")
    _run(spark, src, out_root, ckpt)
    got3 = _flags(spark, out_root)
    assert got3 == {3: (1, 0, 0, 1), 5: (4, 1, 0, 1), 6: (2, 0, 0, 2)}
    assert spark.read.parquet(sig_path).count() == 6


def test_near_dup_flags_picks_minimum_match(spark):
    """dup_of is the earlier match with the smallest (hamming, id); docs with
    no earlier match (incl. the very first copy) are never flagged."""
    rows = [(10, 0, 5, 5), (11, 0, 5, 5), (20, 1, 5, 5), (21, 1, 9999, 5)]
    sigs = spark.createDataFrame(
        rows, "doc bigint, batch_id bigint, simhash_hi bigint, simhash_lo bigint"
    )
    got = {
        r["doc"]: (r["dup_of"], r["dup_batch"], r["hamming"])
        for r in near_dup_flags(sigs, sigs).collect()
    }
    # 11 matches 10 in-batch; 20 matches 10 and 11 -> min id 10; 21 shares a
    # band value with nothing within hamming 3 except... hi differs by 9999^5
    assert got[11] == (10, 0, 0)
    assert got[20] == (10, 0, 0)
    assert 10 not in got
    assert 21 not in got  # hamming(9999, 5) > 3 despite sharing lo bands


def test_band_index_probe_is_partition_pruned(spark, tmp_path):
    """The corpus side of a micro-batch probe must scan only the vb
    partitions the batch's own band values hash into (PartitionFilters on
    the band_index read), not the whole corpus."""
    from pyspark.sql import functions as F

    from complete_ocr_spark.streaming.dedup_stream import _bands
    from complete_ocr_spark.functions.dedup import simhash64
    from complete_ocr_spark.io import prior_partitions

    src_rows = [(i, f"corpus document number {i} with words {i % 7}") for i in range(1, 40)]
    out_root = str(tmp_path / "out")
    pb = make_dedup_batch(spark, out_root)
    pb(spark.createDataFrame(src_rows, SCHEMA), 0)

    _, _, band_path = dedup_paths(out_root)
    new = spark.createDataFrame([(100, BASE)], SCHEMA)
    sigs = simhash64(new, "doc_id", "text").withColumn("batch_id", F.lit(1))
    nb = _bands(sigs, 4, 3).withColumn("vb", F.pmod("value", F.lit(16)).cast("int"))
    touched = [r["vb"] for r in nb.select("vb").distinct().collect()]
    pruned = prior_partitions(spark, band_path, nb, "vb", 1)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "vb" in plan.split("PartitionFilters")[1][:200], plan
    # pruned read is a strict subset of the corpus partitions when the batch
    # touches fewer than all vb buckets
    n_all = spark.read.parquet(band_path).select("vb").distinct().count()
    if len(touched) < n_all:
        assert pruned.select("vb").distinct().count() <= len(touched)


def test_prior_partitions_reads_earlier_touched_buckets_only(spark, tmp_path):
    """The shared prior-batch probe (io.prior_partitions) returns exactly
    the store rows with batch_id < bid in a bucket the new frame touches,
    and both bounds are partition filters of its scan; a store with no
    files yet gives None."""
    from complete_ocr_spark.io import prior_partitions, write_partitioned

    path = str(tmp_path / "store")
    assert prior_partitions(spark, path, None, "vb", 2) is None
    rows = [(10 * b + v, b, v) for b in range(3) for v in range(4)]
    write_partitioned(
        spark.createDataFrame(rows, "doc bigint, batch_id int, vb int"),
        path, "batch_id", "vb")
    new = spark.createDataFrame([(1,), (3,), (3,)], "vb int")
    prior = prior_partitions(spark, path, new, "vb", 2)
    assert sorted(tuple(r) for r in prior.select("doc", "batch_id", "vb").collect()) == [
        (1, 0, 1), (3, 0, 3), (11, 1, 1), (13, 1, 3)]
    plan = prior._jdf.queryExecution().executedPlan().toString()
    scans = plan.split("FileScan parquet")[1:]
    assert len(scans) == 1, plan
    filters = scans[0].split("PartitionFilters:")[1].split("]")[0]
    assert "batch_id" in filters and "vb" in filters, plan


def test_geometry_change_on_existing_index_is_refused(spark, tmp_path):
    """Joining new band keys against an index built under a different
    geometry would silently un-flag duplicates — refuse instead."""
    import pytest

    out_root = str(tmp_path / "out")
    pb4 = make_dedup_batch(spark, out_root, n_blocks=4)
    pb4(spark.createDataFrame([(1, BASE)], SCHEMA), 0)
    # the sidecar's exact bytes: stores written by earlier code must resume
    assert _sidecar(out_root) == (
        '{"n_blocks": 4, "max_hamming": 3, "n_value_buckets": 16, '
        '"n_doc_buckets": 16}')
    pb8 = make_dedup_batch(spark, out_root, n_blocks=8)
    with pytest.raises(ValueError, match="geometry mismatch"):
        pb8(spark.createDataFrame([(2, BASE)], SCHEMA), 1)
    # same geometry keeps working
    pb4(spark.createDataFrame([(2, BASE)], SCHEMA), 1)
    assert _flags(spark, out_root) == {2: (1, 0, 0, 1)}


def test_missing_band_index_is_rebuilt_from_signatures(spark, tmp_path):
    """An out_root holding signatures but no band index (pre-index layout or
    a wiped index) must rebuild the index, not treat the corpus as empty."""
    import shutil

    out_root = str(tmp_path / "out")
    pb = make_dedup_batch(spark, out_root)
    pb(spark.createDataFrame([(1, BASE)], SCHEMA), 0)
    _, _, band_path = dedup_paths(out_root)
    shutil.rmtree(band_path)  # simulate the legacy layout
    pb(spark.createDataFrame([(2, BASE)], SCHEMA), 1)
    assert _flags(spark, out_root) == {2: (1, 0, 0, 1)}  # cross-batch dup found


# --- online cluster maintenance (round-4 verdict #2) ------------------------


def _sig_fn_from_map(sig_map):
    """Inject hand-built signatures (doc -> (hi, lo)) in place of the text
    kernel, so tests can pin exact Hamming geometries."""
    def fn(batch_df, id_col, text_col):
        spark = batch_df.sparkSession
        m = spark.createDataFrame(
            [(d, hi, lo) for d, (hi, lo) in sig_map.items()],
            "doc bigint, simhash_hi bigint, simhash_lo bigint",
        )
        return batch_df.select(F.col(id_col).alias("doc")).join(m, "doc")
    return fn


# Hamming geometry: A-cluster {10, 11} near lo=0, B-cluster {20, 21} near
# lo=240 (dist 4 from A — NOT near-dups of A), bridge doc 30 at lo=48
# (dist 2 from A's root, dist 2 from B's root).
SIGS = {
    10: (0, 0), 11: (0, 1),
    20: (0, 240), 21: (0, 241),
    30: (0, 48),
}


def _labels(spark, out_root):
    from complete_ocr_spark.streaming.dedup_stream import read_cluster_labels

    return {
        r["doc"]: (r["cluster"], r["n_members"])
        for r in read_cluster_labels(spark, out_root).collect()
    }


def _mk_batch(spark, docs):
    return spark.createDataFrame([(d, "t") for d in docs], SCHEMA)


def test_arriving_doc_bridges_two_existing_clusters(spark, tmp_path):
    """Batch 2's doc 30 is within Hamming 3 of BOTH the batch-0 cluster and
    the batch-1 cluster: the promoted label table must show ONE merged
    cluster of all five docs (the round-3 verdict's staleness scenario)."""
    out_root = str(tmp_path / "out")
    pb = make_dedup_batch(spark, out_root, sig_fn=_sig_fn_from_map(SIGS))

    pb(_mk_batch(spark, [10, 11]), 0)
    assert _labels(spark, out_root) == {10: (10, 2), 11: (10, 2)}

    pb(_mk_batch(spark, [20, 21]), 1)
    assert _labels(spark, out_root) == {
        10: (10, 2), 11: (10, 2), 20: (20, 2), 21: (20, 2)
    }

    pb(_mk_batch(spark, [30]), 2)
    merged = {d: (10, 5) for d in (10, 11, 20, 21, 30)}
    assert _labels(spark, out_root) == merged

    # the bridge recorded exactly one merge event: losing root 20 -> 10
    from complete_ocr_spark.streaming.dedup_stream import cluster_paths

    mv = spark.read.parquet(cluster_paths(out_root)[1]).collect()
    assert [(r["src"], r["dst"], r["batch_id"]) for r in mv] == [(20, 10, 2)]

    # --- re-delivery of the bridging batch is idempotent -------------------
    pb(_mk_batch(spark, [30]), 2)
    assert _labels(spark, out_root) == merged
    mv2 = spark.read.parquet(cluster_paths(out_root)[1]).collect()
    assert len(mv2) == 1


def test_wiped_cluster_log_is_replayed_from_signatures(spark, tmp_path):
    """Deleting the cluster log (pre-cluster layout upgrade, or a wipe) must
    trigger a full replay from the signature table — resuming with an empty
    log would silently label every earlier doc a singleton."""
    import shutil

    out_root = str(tmp_path / "out")
    pb = make_dedup_batch(spark, out_root, sig_fn=_sig_fn_from_map(SIGS))
    pb(_mk_batch(spark, [10, 11]), 0)
    pb(_mk_batch(spark, [20, 21]), 1)

    from complete_ocr_spark.streaming.dedup_stream import cluster_paths

    asg_path, mov_path = cluster_paths(out_root)
    shutil.rmtree(asg_path)
    shutil.rmtree(mov_path, ignore_errors=True)

    pb(_mk_batch(spark, [30]), 2)  # replays batches 0/1, then bridges
    assert _labels(spark, out_root) == {d: (10, 5) for d in (10, 11, 20, 21, 30)}


def test_new_doc_with_smaller_id_becomes_the_root(spark, tmp_path):
    """Labels are min doc ids, and arrival order is NOT id order: a late doc
    with the smallest id must take over as cluster root via a move."""
    sigs = {50: (0, 0), 51: (0, 1), 7: (0, 2)}
    out_root = str(tmp_path / "out")
    pb = make_dedup_batch(spark, out_root, sig_fn=_sig_fn_from_map(sigs))
    pb(_mk_batch(spark, [50, 51]), 0)
    assert _labels(spark, out_root) == {50: (50, 2), 51: (50, 2)}
    pb(_mk_batch(spark, [7]), 1)
    assert _labels(spark, out_root) == {d: (7, 3) for d in (7, 50, 51)}


# --- MinHash (Jaccard-space) streaming option (round-4 verdict #7) ----------


def _expected_minhash_bands(text, n_bands=4, n_rows=2):
    """Independent oracle for the band keys: hashlib transcription of the
    minhash_band_keys_df definition (hash i = min over distinct words of
    md5(i|w); band key = md5 of its rows' min-hashes joined in hash order)."""
    import hashlib
    import re

    words = sorted(set(re.sub(r"\s+", " ", text.strip().lower()).split(" ")))
    keys = []
    for band in range(n_bands):
        mhs = []
        for r in range(n_rows):
            i = band * n_rows + r
            mhs.append(min(
                hashlib.md5(f"{i}|{w}".encode()).hexdigest() for w in words
            ))
        key = hashlib.md5("|".join(mhs).encode()).hexdigest()
        keys.append(int(key[:15], 16))
    return keys


def test_minhash_streaming_dedup_cross_batch(spark, tmp_path):
    """Jaccard-space incremental dedup: batch-1 docs are flagged against the
    batch-0 corpus iff they share >= 1 MinHash band key, with n_bands_hit
    counted — checked against an independent hashlib band-key oracle; the
    online cluster log groups the near-dups; re-delivery is idempotent."""
    from complete_ocr_spark.streaming.dedup_stream import (
        make_minhash_dedup_batch,
    )

    base = ("spark shuffles partitioned batches of vectorized arrow pages "
            "through catalyst while the reader prunes nested columns")
    near = base + " quickly"   # high word-Jaccard near-dup of base
    far = "an entirely different document about ocr tables and figures"
    docs = {1: base, 2: far, 3: near, 4: base}
    bands = {d: _expected_minhash_bands(t) for d, t in docs.items()}
    # expected flags for batch-1 docs (3, 4) vs earlier (1, 2) + within-batch
    def hits(a, b):
        return sum(1 for x, y in zip(bands[a], bands[b]) if x == y)

    assert hits(1, 4) == 4          # identical text: all bands
    assert hits(1, 2) == 0          # unrelated: no bands

    out_root = str(tmp_path / "out")
    pb = make_minhash_dedup_batch(spark, out_root)
    pb(spark.createDataFrame([(1, base), (2, far)], SCHEMA), 0)
    assert _flags(spark, out_root) == {}
    assert _sidecar(out_root) == (
        '{"scheme": "minhash", "n_bands": 4, "n_rows": 2, '
        '"n_value_buckets": 16, "n_doc_buckets": 16}')

    pb(spark.createDataFrame([(3, near), (4, base)], SCHEMA), 1)
    got = {
        r["doc"]: (r["dup_of"], r["dup_batch"], r["n_bands_hit"], r["batch_id"])
        for r in read_flags(spark, out_root).collect()
    }
    expected = {}
    for d in (3, 4):
        cands = [(h, o, 0) for o in (1, 2) if (h := hits(d, o)) > 0]
        if d == 4:
            cands += [(hits(4, 3), 3, 1)] if hits(4, 3) > 0 else []
        if cands:
            h, o, b = max(cands, key=lambda c: (c[0], -c[1], -c[2]))
            expected[d] = (o, b, h, 1)
    assert got == expected
    assert 4 in got and got[4][0] == 1 and got[4][2] == 4  # exact dup, all bands

    # near-dup doc 3 collides with base in >= 1 band under this seed/text
    # (if this ever fails, the fixture text changed — not the operator)
    assert 3 in got, f"fixture lost its band collision: {bands}"

    # online cluster log groups the flagged docs with their matches
    labels = _labels(spark, out_root)
    assert labels[4][0] == 1 and labels[1][0] == 1

    # re-delivery of batch 1 is idempotent
    pb(spark.createDataFrame([(3, near), (4, base)], SCHEMA), 1)
    got2 = {
        r["doc"]: (r["dup_of"], r["dup_batch"], r["n_bands_hit"], r["batch_id"])
        for r in read_flags(spark, out_root).collect()
    }
    assert got2 == got


def test_minhash_and_simhash_geometries_refuse_to_mix(spark, tmp_path):
    """A MinHash probe against a SimHash-built index (or vice versa) compares
    incompatible key spaces — the geometry guard must refuse."""
    import pytest

    from complete_ocr_spark.streaming.dedup_stream import (
        make_minhash_dedup_batch,
    )

    out_root = str(tmp_path / "out")
    pb_sim = make_dedup_batch(spark, out_root)
    pb_sim(spark.createDataFrame([(1, BASE)], SCHEMA), 0)
    pb_min = make_minhash_dedup_batch(spark, out_root)
    with pytest.raises(ValueError, match="geometry mismatch"):
        pb_min(spark.createDataFrame([(2, BASE)], SCHEMA), 1)


def test_compact_cluster_log_preserves_view_and_clears_moves(spark, tmp_path):
    """Path compression: after compaction the promoted view is unchanged, the
    move log is gone, and subsequent batches keep working (new merges start a
    fresh move log)."""
    import os as _os

    from complete_ocr_spark.streaming.dedup_stream import (
        cluster_paths,
        compact_cluster_log,
    )

    out_root = str(tmp_path / "out")
    pb = make_dedup_batch(spark, out_root, sig_fn=_sig_fn_from_map(SIGS))
    pb(_mk_batch(spark, [10, 11]), 0)
    pb(_mk_batch(spark, [20, 21]), 1)
    pb(_mk_batch(spark, [30]), 2)  # bridges: move (20 -> 10) recorded
    before = _labels(spark, out_root)
    asg_path, mov_path = cluster_paths(out_root)
    assert _os.path.exists(mov_path)

    compact_cluster_log(spark, out_root)
    assert not _os.path.exists(mov_path)
    assert _labels(spark, out_root) == before
    # every stored label is already the root — resolution is now 0 hops
    stored = {r["doc"]: r["label"]
              for r in spark.read.parquet(asg_path).collect()}
    assert stored == {d: 10 for d in (10, 11, 20, 21, 30)}

    # compaction is idempotent
    compact_cluster_log(spark, out_root)
    assert _labels(spark, out_root) == before


def test_stream_continues_after_compaction_with_new_merges(spark, tmp_path):
    """A merge AFTER compaction starts a fresh move log and still resolves."""
    from complete_ocr_spark.streaming.dedup_stream import compact_cluster_log

    sigs = dict(SIGS)
    sigs[5] = (0, 49)  # near the bridge doc 30 (lo=48): hamming 1
    out_root = str(tmp_path / "out")
    pb = make_dedup_batch(spark, out_root, sig_fn=_sig_fn_from_map(sigs))
    pb(_mk_batch(spark, [10, 11]), 0)
    pb(_mk_batch(spark, [20, 21]), 1)
    compact_cluster_log(spark, out_root)  # no moves yet: no-op
    pb(_mk_batch(spark, [30]), 2)         # bridge -> move (20 -> 10)
    compact_cluster_log(spark, out_root)
    pb(_mk_batch(spark, [5]), 3)          # joins the merged cluster; 5 < 10
    # doc 5 has the smallest id: it takes over as root via a NEW move
    assert _labels(spark, out_root) == {d: (5, 6) for d in (5, 10, 11, 20, 21, 30)}


def test_recrawled_doc_keeps_single_assignment(spark, tmp_path):
    """A doc re-delivered in a LATER batch (re-crawl, not a batch redelivery)
    must not grow a second assignment row: first arrival wins, n_members stay
    exact, and compaction cannot fan out."""
    from complete_ocr_spark.streaming.dedup_stream import (
        cluster_paths,
        compact_cluster_log,
    )

    out_root = str(tmp_path / "out")
    pb = make_dedup_batch(spark, out_root, sig_fn=_sig_fn_from_map(SIGS))
    pb(_mk_batch(spark, [10, 11]), 0)
    pb(_mk_batch(spark, [10, 20, 21]), 1)  # doc 10 re-crawled in batch 1
    asg = spark.read.parquet(cluster_paths(out_root)[0])
    assert asg.filter("doc = 10").count() == 1
    assert _labels(spark, out_root)[10] == (10, 2)  # not double-counted
    compact_cluster_log(spark, out_root)  # no moves: no-op, but safe
    pb(_mk_batch(spark, [30]), 2)  # bridge still merges both clusters
    assert _labels(spark, out_root) == {d: (10, 5) for d in (10, 11, 20, 21, 30)}
    assert spark.read.parquet(cluster_paths(out_root)[0]).count() == 5


def test_fully_recrawled_batch_records_completion(spark, tmp_path):
    """A batch whose docs ALL carry prior assignments writes zero assignment
    rows (first arrival wins) — completion must still be recorded, or
    _cluster_backlog would see that batch_id as missing forever and every
    later batch would replay the whole corpus prefix (O(corpus) per batch,
    the round-4 ADVICE finding)."""
    import os as _os

    from complete_ocr_spark.streaming.dedup_stream import (
        _cluster_backlog,
        cluster_paths,
        dedup_paths,
    )

    out_root = str(tmp_path / "out")
    pb = make_dedup_batch(spark, out_root, sig_fn=_sig_fn_from_map(SIGS))
    pb(_mk_batch(spark, [10, 11]), 0)
    pb(_mk_batch(spark, [10, 11]), 1)  # a FULLY re-crawled batch: zero rows

    sig_path = dedup_paths(out_root)[0]
    asg_path = cluster_paths(out_root)[0]
    # the completion marker exists even though no rows were written
    assert _os.path.isdir(_os.path.join(asg_path, "batch_id=1"))
    assert _cluster_backlog(sig_path, asg_path, 2) == []

    # the stream continues normally (no replay, labels stay exact)
    pb(_mk_batch(spark, [30]), 2)
    assert _labels(spark, out_root) == {d: (10, 3) for d in (10, 11, 30)}
    assert _cluster_backlog(sig_path, asg_path, 3) == []


def test_minhash_wiped_cluster_log_replays_from_band_table(spark, tmp_path):
    """MinHash path: the band table IS the signature table — a wiped cluster
    log must replay from it instead of silently dropping earlier docs."""
    import shutil

    from complete_ocr_spark.streaming.dedup_stream import (
        cluster_paths,
        make_minhash_dedup_batch,
    )

    base = ("spark shuffles partitioned batches of vectorized arrow pages "
            "through catalyst while the reader prunes nested columns")
    far = "an entirely different document about ocr tables and figures"
    out_root = str(tmp_path / "out")
    pb = make_minhash_dedup_batch(spark, out_root)
    pb(spark.createDataFrame([(1, base), (2, far)], SCHEMA), 0)
    pb(spark.createDataFrame([(3, base)], SCHEMA), 1)
    before = _labels(spark, out_root)
    assert before[3][0] == 1  # exact dup joined doc 1's cluster

    asg_path, mov_path = cluster_paths(out_root)
    shutil.rmtree(asg_path)
    shutil.rmtree(mov_path, ignore_errors=True)
    pb(spark.createDataFrame([(4, far)], SCHEMA), 2)  # triggers replay
    after = _labels(spark, out_root)
    assert after[1] == (1, 2) and after[3] == (1, 2)  # replayed, not lost
    assert after[4] == (2, 2) and after[2] == (2, 2)


def test_geometry_additive_cluster_upgrade_is_allowed(spark, tmp_path):
    """A store written with maintain_clusters=False (no n_doc_buckets key)
    upgrades in place when clusters are enabled — the banding key space is
    unchanged and the missing log replays; any OTHER geometry change still
    refuses."""
    import pytest

    out_root = str(tmp_path / "out")
    pb_off = make_dedup_batch(spark, out_root, sig_fn=_sig_fn_from_map(SIGS),
                              maintain_clusters=False)
    pb_off(_mk_batch(spark, [10, 11]), 0)
    assert _labels(spark, out_root) == {}  # no log yet

    pb_on = make_dedup_batch(spark, out_root, sig_fn=_sig_fn_from_map(SIGS))
    pb_on(_mk_batch(spark, [20, 21]), 1)  # upgrade: replays batch 0 too
    assert _labels(spark, out_root) == {
        10: (10, 2), 11: (10, 2), 20: (20, 2), 21: (20, 2)
    }
    with pytest.raises(ValueError, match="geometry mismatch"):
        make_dedup_batch(spark, out_root, n_blocks=8)(_mk_batch(spark, [30]), 2)


def test_truncated_cluster_log_backlog_is_replayed(spark, tmp_path):
    """A replay that crashed mid-way leaves the log truncated (some batches
    logged, later ones not). The backlog gate must detect and replay exactly
    the missing batches — the old missing-entirely gate skipped them."""
    import shutil

    from complete_ocr_spark.streaming.dedup_stream import cluster_paths

    out_root = str(tmp_path / "out")
    pb = make_dedup_batch(spark, out_root, sig_fn=_sig_fn_from_map(SIGS))
    pb(_mk_batch(spark, [10, 11]), 0)
    pb(_mk_batch(spark, [20, 21]), 1)
    pb(_mk_batch(spark, [30]), 2)
    full = _labels(spark, out_root)

    # simulate the crashed-replay state: log holds batch 0 only, no moves
    asg_path, mov_path = cluster_paths(out_root)
    for b in (1, 2):
        shutil.rmtree(f"{asg_path}/batch_id={b}")
    shutil.rmtree(mov_path, ignore_errors=True)
    assert _labels(spark, out_root) != full  # truncation is visible

    sigs4 = dict(SIGS)
    sigs4[40] = (0x00FF00FF, 0x0F0F0F0F)  # hamming >= 16 from everything
    pb4 = make_dedup_batch(spark, out_root, sig_fn=_sig_fn_from_map(sigs4))
    pb4(_mk_batch(spark, [40]), 3)  # backlog {1, 2} (+ boundary 0) replays
    assert _labels(spark, out_root) == full


def test_recrawl_with_changed_content_still_merges_old_cluster(spark, tmp_path):
    """A re-crawled doc whose CONTENT changed links its old cluster to its
    new matches through the doc id itself: without the prior-root edge the
    promoted view would split what a batch recluster joins."""
    live = {7: (0, 0), 10: (0, 1), 15: (0, 240), 16: (0, 241)}

    def sig_fn(batch_df, id_col, text_col):
        m = spark.createDataFrame(
            [(d, hi, lo) for d, (hi, lo) in live.items()],
            "doc bigint, simhash_hi bigint, simhash_lo bigint",
        )
        return batch_df.select(F.col(id_col).alias("doc")).join(m, "doc")

    out_root = str(tmp_path / "out")
    pb = make_dedup_batch(spark, out_root, sig_fn=sig_fn)
    pb(_mk_batch(spark, [7, 10]), 0)    # cluster {7, 10} root 7
    pb(_mk_batch(spark, [15, 16]), 1)   # cluster {15, 16} root 15
    # doc 10 re-crawled with REVISED content: now matches 15/16 (hamming
    # 1/2 from lo=242), no longer within 3 of its own old signature (ham 6)
    live[10] = (0, 242)
    pb(_mk_batch(spark, [10]), 2)
    assert _labels(spark, out_root) == {d: (7, 4) for d in (7, 10, 15, 16)}
    from complete_ocr_spark.streaming.dedup_stream import cluster_paths

    asg = spark.read.parquet(cluster_paths(out_root)[0])
    assert asg.filter("doc = 10").count() == 1  # first arrival still wins


def test_run_streaming_dedup_minhash_scheme_end_to_end(spark, tmp_path):
    """The readStream wrapper's scheme='minhash' branch: file-source batches
    flow through the MinHash body (band flags + cluster log) with scheduled
    compaction threaded through (maintenance_every=1 compacts after every
    batch — the move log must be empty at stream end while the promoted
    labels stay exact), and an unknown scheme is refused."""
    import pytest

    src = str(tmp_path / "src")
    out_root = str(tmp_path / "out")
    os.makedirs(src)
    base = ("spark shuffles partitioned batches of vectorized arrow pages "
            "through catalyst while the reader prunes nested columns")
    # doc 2 arrives FIRST: batch 1's doc 1 takes over as cluster root, so a
    # real label_move is recorded — the compaction assert below would be
    # vacuous with ids in arrival order (no dethroning, no move log at all)
    spark.createDataFrame([(2, base)], SCHEMA).coalesce(1).write.parquet(src + "/f1")
    spark.createDataFrame([(1, base)], SCHEMA).coalesce(1).write.parquet(src + "/f2")
    q = run_streaming_dedup(
        spark, source_dir=src + "/*", out_root=out_root,
        checkpoint_dir=str(tmp_path / "ckpt"), schema=SCHEMA,
        scheme="minhash", maintenance_every=1,
    )
    q.awaitTermination(300)
    flags = {r["doc"]: (r["dup_of"], r["n_bands_hit"])
             for r in read_flags(spark, out_root).collect()}
    assert flags == {1: (2, 4)}  # identical text: all 4 bands collide
    assert _labels(spark, out_root) == {1: (1, 2), 2: (1, 2)}

    from complete_ocr_spark.streaming.dedup_stream import cluster_paths

    # per-batch compaction ran inside foreachBatch: no move log survives
    assert not os.path.exists(cluster_paths(out_root)[1])

    with pytest.raises(ValueError, match="unknown dedup scheme"):
        run_streaming_dedup(
            spark, source_dir=src + "/*", out_root=out_root,
            checkpoint_dir=str(tmp_path / "ckpt2"), schema=SCHEMA,
            scheme="simhash64",
        )


def test_incremental_clusters_match_python_union_find_oracle(spark, tmp_path):
    """Randomized invariant check against an INDEPENDENT oracle: stream
    random signatures (small bit-space to force collisions) through the real
    batch body — including one re-crawled doc with a new signature — and
    compare the promoted view against a pure-python union-find over every
    match the stream semantics define (hamming <= 3 vs all strictly-earlier
    signature rows). Three seeds; any divergence of the log machinery
    (bridging, moves, first-arrival-wins, re-crawl linkage) fails here even
    if the hand-built scenarios above miss it."""
    import itertools
    import random

    for seed in (11, 23, 47):
        rng = random.Random(seed)
        docs = list(range(1, 15))
        arrivals = []  # (batch, doc, (hi, lo))
        for b in range(3):
            chunk = docs[b * 5:(b + 1) * 5]
            for d in chunk:
                arrivals.append((b, d, (0, rng.getrandbits(5))))
        # one re-crawl: a batch-0 doc reappears in batch 2 with a NEW sig
        recrawl_doc = docs[rng.randrange(5)]
        arrivals.append((2, recrawl_doc, (0, rng.getrandbits(5))))

        # python oracle: union-find over all stream-visible matches
        def ham(a, b):
            return bin(a[0] ^ b[0]).count("1") + bin(a[1] ^ b[1]).count("1")

        parent = {d: d for d in docs}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        def union(a, b):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)

        for i, (b1, d1, s1) in enumerate(arrivals):
            for b2, d2, s2 in arrivals[:i] + arrivals[i + 1:]:
                strictly_earlier = b2 < b1 or (b2 == b1 and d2 < d1)
                if strictly_earlier and ham(s1, s2) <= 3:
                    union(d1, d2)
        comp = {}
        for d in docs:
            comp.setdefault(find(d), []).append(d)
        expected = {
            d: (root, len(members))
            for root, members in comp.items()
            if len(members) > 1
            for d in members
        }

        # stream the same arrivals through the real body (per-batch sig maps)
        out_root = str(tmp_path / f"out_{seed}")
        for b in range(3):
            batch = [(d, s) for bb, d, s in arrivals if bb == b]
            sig_map = dict(batch)
            pb = make_dedup_batch(spark, out_root, sig_fn=_sig_fn_from_map(sig_map))
            pb(_mk_batch(spark, [d for d, _ in batch]), b)
        got = _labels(spark, out_root)
        assert got == expected, f"seed {seed}: {got} != {expected}"


def test_scheduled_compaction_bounds_move_chain_depth(spark, tmp_path,
                                                      monkeypatch):
    """A long stream where every batch dethrones the current cluster root
    (each new doc has a smaller id) grows the move chain one hop per batch.
    With maintenance_every=2 the foreachBatch body compacts the log itself,
    so resolution stays within 2 hops; without it the same stream needs one
    hop per dethroning and a tight _apply_moves budget blows up — the
    round-4 verdict #5 scenario."""
    import pytest

    from complete_ocr_spark.streaming.dedup_stream import (
        _apply_moves,
        _read_moves,
        cluster_paths,
    )

    # lo values all within Hamming 3 of each other: every arrival merges
    # into the one cluster; ids DESCEND so each arrival takes over as root
    sigs = {100: (0, 0), 101: (0, 1), 90: (0, 2), 80: (0, 3),
            70: (0, 1), 60: (0, 2), 50: (0, 3)}
    batches = [[100, 101], [90], [80], [70], [60], [50]]

    def run(root, **kw):
        pb = make_dedup_batch(spark, root, sig_fn=_sig_fn_from_map(sigs), **kw)
        for i, docs in enumerate(batches):
            pb(_mk_batch(spark, docs), i)
        return root

    want = {d: (50, 7) for d in sigs}

    off = run(str(tmp_path / "off"))
    assert _labels(spark, off) == want
    asg_off, mov_off = cluster_paths(off)
    lab = spark.read.parquet(asg_off).select("doc", "label")
    moves = _read_moves(spark, mov_off, "bigint")
    assert moves.count() == 5  # one dethroning per batch 1..5
    # the bounded driver fast path (round 9) resolves any small log in one
    # broadcast join; its labels must equal the distributed loop's
    import complete_ocr_spark.streaming.dedup_stream as ds

    fast = {(r["doc"], r["label"])
            for r in _apply_moves(lab, moves).collect()}
    monkeypatch.setattr(ds, "_MOVES_LOCAL_MAX", -1)  # force the loop
    slow = {(r["doc"], r["label"])
            for r in _apply_moves(lab, moves, max_iters=10).collect()}
    assert fast == slow
    # with the loop forced, a tight hop budget on the 5-deep chain must
    # still refuse loudly (the round-4 verdict #5 scenario)
    with pytest.raises(RuntimeError, match="compact_cluster_log"):
        _apply_moves(lab, moves, max_iters=3)
    monkeypatch.undo()

    on = run(str(tmp_path / "on"), maintenance_every=2)
    assert _labels(spark, on) == want  # same promoted view
    asg_on, mov_on = cluster_paths(on)
    lab_on = spark.read.parquet(asg_on).select("doc", "label")
    moves_on = _read_moves(spark, mov_on, "bigint")
    # compacted after batches 1, 3, 5 -> at most the last stretch survives
    assert moves_on.count() <= 2
    resolved = _apply_moves(lab_on, moves_on, max_iters=2)
    assert {r["label"] for r in resolved.collect()} == {50}

    with pytest.raises(ValueError, match="maintenance_every"):
        make_dedup_batch(spark, str(tmp_path / "bad"), maintenance_every=0)


def test_streaming_dedup_runs_on_media_signatures(spark, tmp_path):
    """The incremental-dedup stack is signature-scheme-agnostic: wiring
    media_dedup.media_sig_fn through make_dedup_batch flags an arriving
    RE-ENCODED image (perturbed payload, perceptual Hamming <= 3) against
    an earlier batch's original, leaves distinct images unflagged, and
    maintains visual clusters online."""
    import hashlib

    from complete_ocr_spark.functions.media_dedup import media_sig_fn
    from complete_ocr_spark.streaming.dedup_stream import read_cluster_labels

    def keystream(seed, n):
        out = bytearray()
        c = 0
        while len(out) < n:
            out += hashlib.blake2b(f"{seed}:{c}".encode(), digest_size=64).digest()
            c += 1
        return bytes(out[:n])

    mschema = ("media_ref string, width int, height int, n_frames int, "
               "payload binary")
    base = keystream("stream-page", 64 * 64)
    reenc = bytearray(base)
    for k in range(0, len(reenc), 997):
        reenc[k] = (reenc[k] + 5) % 256
    out_root = str(tmp_path / "media_dedup")
    pb = make_dedup_batch(
        spark, out_root, id_col="media_ref", text_col="payload",
        n_blocks=8, sig_fn=media_sig_fn,
    )
    pb(spark.createDataFrame(
        [("img-base", 64, 64, 1, base),
         ("img-other", 48, 80, 1, keystream("other", 48 * 80))], mschema), 0)
    assert _flags(spark, out_root) == {}
    assert _sidecar(out_root) == (
        '{"n_blocks": 8, "max_hamming": 3, "n_value_buckets": 16, '
        '"scheme": "simhash-sig:media_sig_fn", "n_doc_buckets": 16}')
    pb(spark.createDataFrame(
        [("img-reenc", 64, 64, 1, bytes(reenc)),
         ("img-third", 32, 96, 1, keystream("third", 32 * 96))], mschema), 1)
    got = _flags(spark, out_root)
    assert set(got) == {"img-reenc"}
    dup_of, dup_batch, hamming, batch_id = got["img-reenc"]
    assert (dup_of, dup_batch, batch_id) == ("img-base", 0, 1)
    assert hamming <= 3
    labels = {
        r["doc"]: r["cluster"]
        for r in read_cluster_labels(spark, out_root, "string").collect()
    }
    assert labels == {"img-base": "img-base", "img-reenc": "img-base"}


def test_geometry_guard_refuses_signature_scheme_mixes(spark, tmp_path):
    """An injected signature kernel is part of the on-disk contract: a store
    built with the default text SimHash refuses a resume under
    media_sig_fn (and vice versa) — same band geometry, incompatible
    signature meaning (review fix)."""
    import pytest

    from complete_ocr_spark.functions.media_dedup import media_sig_fn

    out_root = str(tmp_path / "mix")
    pb_text = make_dedup_batch(spark, out_root)
    pb_text(spark.createDataFrame([(1, BASE)], SCHEMA), 0)
    pb_media = make_dedup_batch(
        spark, out_root, id_col="media_ref", text_col="payload",
        sig_fn=media_sig_fn,
    )
    mrow = spark.createDataFrame(
        [("img", 32, 32, 1, b"\x01" * 1024)],
        "media_ref string, width int, height int, n_frames int, payload binary",
    )
    with pytest.raises(ValueError, match="geometry"):
        pb_media(mrow, 1)
    # and a media-built store refuses the text kernel
    root2 = str(tmp_path / "mix2")
    pb_media2 = make_dedup_batch(
        spark, root2, id_col="media_ref", text_col="payload",
        n_blocks=4, sig_fn=media_sig_fn,
    )
    pb_media2(mrow, 0)
    pb_text2 = make_dedup_batch(spark, root2)
    with pytest.raises(ValueError, match="geometry"):
        pb_text2(spark.createDataFrame([(2, BASE)], SCHEMA), 1)


def test_empty_store_readers_type_like_a_real_read(spark, tmp_path):
    """Every streaming store reader returns ONE schema: its typed empty frame
    (no batch has written files yet) has the dtypes a real read infers
    after one batch (int batch columns: F.lit(bid) and partition inference
    are both IntegerType)."""
    from complete_ocr_spark.streaming.decon_stream import (
        make_decon_batch,
        read_decon_incr,
    )
    from complete_ocr_spark.streaming.dedup_stream import (
        make_minhash_dedup_batch,
    )
    from complete_ocr_spark.streaming.segment_stream import (
        make_segment_dedup_batch,
        read_segment_spans,
    )
    from complete_ocr_spark.streaming.semantic_stream import (
        make_semantic_dedup_batch,
        read_semantic_flags,
        read_semantic_pairs,
    )

    long_text = " ".join(f"w{i}" for i in range(30))
    docs = spark.createDataFrame([(1, long_text), (2, long_text)], SCHEMA)
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.5, 0.0, 0.25]), (2, [1.0, 0.5, 0.0, 0.25])],
        "doc_id bigint, embedding array<double>")
    bench = spark.createDataFrame([(9, long_text)], SCHEMA)

    def root(name):
        return str(tmp_path / name)

    cases = [
        (lambda: make_dedup_batch(spark, root("sim"), maintain_clusters=False),
         docs, lambda: read_flags(spark, root("sim"))),
        (lambda: make_minhash_dedup_batch(spark, root("min"),
                                          maintain_clusters=False),
         docs, lambda: read_flags(spark, root("min"), scheme="minhash")),
        (lambda: make_segment_dedup_batch(spark, root("seg")),
         docs, lambda: read_segment_spans(spark, root("seg"))),
        (lambda: make_semantic_dedup_batch(spark, root("sem"), dim=4),
         vecs, lambda: (read_semantic_pairs(spark, root("sem")),
                        read_semantic_flags(spark, root("sem")))),
        (lambda: make_decon_batch(spark, root("dec"), bench, n=5),
         docs, lambda: read_decon_incr(spark, root("dec"))),
    ]
    for make, batch, read in cases:
        def frames():
            out = read()
            return out if isinstance(out, tuple) else (out,)

        empty = [f.dtypes for f in frames()]
        make()(batch, 0)
        real = frames()
        assert all(f.count() > 0 for f in real)  # files exist: a real read
        assert empty == [f.dtypes for f in real]
