"""Loud-failure guards: non-local output roots, degenerate parameters and
store-geometry drift; the bounded driver-thread pool of
io.parallel_actions."""

from __future__ import annotations

import threading
import time

import pytest

from complete_ocr_spark.functions.similarity import ivf_train_kmeans
from complete_ocr_spark.io import geometry_guard, parallel_actions, require_local


def test_require_local_rejects_remote_uris():
    for uri in ("hdfs://nn:8020/warehouse/x", "s3a://bucket/x", "s3://b/x"):
        with pytest.raises(ValueError, match="not a local path"):
            require_local(uri)


def test_require_local_passes_and_normalizes_local_paths():
    assert require_local("/tmp/x") == "/tmp/x"
    assert require_local("file:///tmp/x") == "/tmp/x"


def test_dedup_paths_reject_remote_root():
    from complete_ocr_spark.streaming.dedup_stream import dedup_paths

    with pytest.raises(ValueError, match="not a local path"):
        dedup_paths("s3a://bucket/dedup")


def test_geometry_guard_names_a_kindless_store_by_its_sidecar(tmp_path):
    root = str(tmp_path / "store")
    geometry_guard(root, {"n_blocks": 4, "max_hamming": 3})
    geometry_guard(root, {"n_blocks": 4, "max_hamming": 3})  # same: passes
    with pytest.raises(ValueError, match=r"_dedup_geometry\.json geometry "
                                         r"mismatch.*max_hamming: 3 -> 5"):
        geometry_guard(root, {"n_blocks": 4, "max_hamming": 5})


def test_parallel_actions_runs_at_most_three_at_once():
    lock = threading.Lock()
    live, peak, ran = [0], [0], []

    def thunk(i):
        def run():
            with lock:
                live[0] += 1
                peak[0] = max(peak[0], live[0])
            time.sleep(0.05)
            with lock:
                live[0] -= 1
                ran.append(i)
        return run

    parallel_actions(*(thunk(i) for i in range(6)))
    assert sorted(ran) == list(range(6))
    assert peak[0] <= 3


def test_parallel_actions_reraises_after_the_others_finish():
    finished = []

    def slow(i):
        def run():
            time.sleep(0.05)
            finished.append(i)
        return run

    def boom():
        raise RuntimeError("write failed")

    with pytest.raises(RuntimeError, match="write failed"):
        parallel_actions(boom, slow(0), slow(1), slow(2), slow(3))
    assert sorted(finished) == [0, 1, 2, 3]


def test_kmeans_rejects_zero_iterations(spark):
    df = spark.createDataFrame([(1, [0.1, 0.2])], "vid bigint, v array<double>")
    with pytest.raises(ValueError, match="n_iters"):
        ivf_train_kmeans(df, "vid", "v", [[0.0, 0.0]], n_iters=0)


def test_tableio_file_uri_root_normalizes_for_probes(spark, tmp_path, docs_df):
    """A file:// root (the form require_local's error message recommends)
    must write lineage and resume correctly — the os.walk/exists probes see
    the normalized local path, not the URI."""
    from complete_ocr_spark.io import TableIO, run_job

    root = f"file://{tmp_path}/out"
    stats = run_job(spark, docs_df.limit(20), root, n_buckets=4)
    assert stats["docs_processed"] == 20
    io = TableIO(spark, root, 4)
    assert io.read_lineage().count() > 0  # lineage written, not skipped
    again = run_job(spark, docs_df.limit(20), root, n_buckets=4)
    assert again == {"docs_processed": 0, "skipped": True}  # resume works
