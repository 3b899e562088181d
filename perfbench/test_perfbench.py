"""The benchmark's own tests, at tiny sizes: ``python3 -m pytest perfbench -q``
from the repository root. Each Spark run starts its own JVM (~40 s)."""

from __future__ import annotations

import math
import multiprocessing
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import inputs  # noqa: E402
import run  # noqa: E402
from workloads import CurateIncr, Extract  # noqa: E402

TINY = {
    "extract": lambda work, seed: Extract(work, seed, light_docs=12, heavy_docs=1),
    "curate_incr": lambda work, seed: CurateIncr(work, seed, n_batches=4,
                                                 batch_docs=40),
}
CACHE = os.path.join(run.WORK, "cache")


@pytest.fixture
def scratch():
    path = os.path.join(run.WORK, f"test-{os.getpid()}")
    run._isolate(path)
    yield path
    shutil.rmtree(path, ignore_errors=True)


def _bench_here(name, work, seed, trace, corrupt):
    wl = TINY[name](work, seed)
    wl.prepare(CACHE)
    if corrupt:
        corrupt(wl)
    return run.run(wl, 0, trace, work)


def _bench(name, scratch, seed=1, trace=False, corrupt=None):
    """One benchmark run in a fresh process, as run.py gives every run:
    the engine memoizes Columns per process, so a second session in one
    process would reuse Columns bound to the first session's JVM."""
    work = os.path.join(scratch, f"run-{len(os.listdir(scratch))}")
    os.makedirs(work)
    TINY[name](work, seed).prepare(CACHE)  # pool workers may not fork pools
    with multiprocessing.get_context("spawn").Pool(1) as pool:
        return pool.apply(_bench_here, (name, work, seed, trace, corrupt))


def _assert_metrics(result, spec):
    assert set(result["metrics"]) == set(spec)
    for k, m in result["metrics"].items():
        assert m["unit"] == spec[k], k
        assert isinstance(m["value"], (int, float)) and math.isfinite(m["value"]), k


@pytest.mark.parametrize("name", sorted(TINY))
def test_smoke_untraced(name, scratch):
    res = _bench(name, scratch)
    wl = {"extract": Extract, "curate_incr": CurateIncr}[name]
    assert res["correct"] and res["failed"] == 0 and res["attempted"] == wl.min_ops
    _assert_metrics(res, run.END_TO_END)
    assert all(m["value"] > 0 for m in res["metrics"].values())
    assert res["metrics"]["ok_frac"]["value"] == 1.0


def test_extract_traced_jobs_per_op_repeats(scratch):
    first = _bench("extract", scratch, trace=True)
    second = _bench("extract", scratch, trace=True)
    for res in (first, second):
        assert res["correct"]
        _assert_metrics(res, run.PER_LAYER)
    jobs = [r["metrics"]["spark.jobs_per_op"]["value"] for r in (first, second)]
    assert jobs[0] == jobs[1] > 0
    m = first["metrics"]
    for k in ("operators.extract_s", "pipeline.extract_flat_s", "kernels.page_s",
              "pyworker.cpu_s", "config.build_spark_s"):
        assert m[k]["value"] > 0, k


def test_curate_traced_emits_every_layer(scratch):
    res = _bench("curate_incr", scratch, trace=True)
    assert res["correct"]
    _assert_metrics(res, run.PER_LAYER)
    m = res["metrics"]
    for k in ("spark.jobs_per_op", "segment_stream.batch_s", "dedup_stream.batch_s",
              "functions.curate.corpus_s", "functions.bpe.train_s",
              "jvm.cpu_s", "spark.driver_gap_s"):
        assert m[k]["value"] > 0, k


def _corrupt_extract(wl):
    doc = sorted(wl.oracle)[0]
    wl.oracle[doc] = wl.oracle[doc][1:] + [{"kind": "text", "text": "x",
                                            "media_ref": None, "offset": 0}]


def _corrupt_curate(wl):
    wl.expected = wl.oracle(wl.warm_ops + wl.min_ops)[1:]  # one row missing


@pytest.mark.parametrize("name,corrupt", [("extract", _corrupt_extract),
                                          ("curate_incr", _corrupt_curate)])
def test_corrupted_expected_output_counts_as_failure(name, corrupt, scratch):
    res = _bench(name, scratch, corrupt=corrupt)
    assert not res["correct"]
    assert res["failed"] > 0
    assert res["metrics"]["ok_frac"]["value"] < 1.0


def _raise_in_first_extract_op(wl):
    op = wl.op

    def failing(spark, i):
        if i == 0:
            raise RuntimeError("injected op failure")
        return op(spark, i)

    wl.op = failing


def _raise_in_curate_check(wl):
    def failing(spark, ops):
        raise RuntimeError("injected check failure")

    wl.check = failing


def test_raising_op_counts_as_failure_and_later_ops_still_run(scratch):
    res = _bench("extract", scratch, corrupt=_raise_in_first_extract_op)
    assert not res["correct"]
    assert (res["attempted"], res["failed"]) == (Extract.min_ops, 1)
    _assert_metrics(res, run.END_TO_END)
    assert res["metrics"]["op_s_p50"]["value"] > 0


def test_raising_check_fails_every_measured_op(scratch):
    res = _bench("curate_incr", scratch, corrupt=_raise_in_curate_check)
    assert not res["correct"]
    assert res["attempted"] == res["failed"] == CurateIncr.min_ops
    assert res["metrics"]["ok_frac"]["value"] == 0.0


def test_inputs_are_a_function_of_the_seed(scratch):
    a = inputs.extract_inputs(CACHE, 7, 12, 1)
    b = inputs.extract_inputs(os.path.join(scratch, "fresh"), 7, 12, 1)
    c = inputs.extract_inputs(CACHE, 8, 12, 1)
    assert a["oracle"] == b["oracle"]
    assert a["oracle"] != c["oracle"]
    for x in (a, c):
        assert x["n_docs"] == 13
        light_pages = x["n_pages"] - inputs.HEAVY_PAGES
        assert abs(light_pages - 12 * inputs.LIGHT_MEAN_PAGES) <= inputs.LIGHT_SLACK
    assert inputs.make_documents(3, 50) == inputs.make_documents(3, 50)
    assert inputs.make_documents(3, 50) != inputs.make_documents(4, 50)


def test_extract_input_search_gives_up(monkeypatch):
    """Should make_doc's draw order change, the long-tail shortcut finds no
    heavy doc; the search must stop with an error, not spin."""

    class InProcess:
        def map(self, fn, jobs):
            return list(map(fn, jobs))

    monkeypatch.setattr(inputs, "_long_tail", lambda seed, i: False)
    monkeypatch.setattr(inputs, "MAX_SCAN", 2)
    monkeypatch.setattr(inputs, "_CHUNK", 1)
    with pytest.raises(RuntimeError, match="make_doc"):
        inputs._select_extract_docs(InProcess(), 1, 1, 1)


def test_refuses_to_run_without_the_engine(scratch):
    bare = os.path.join(scratch, "bare")
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "extract", "--seed",
         "1", "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_supervisor_stops_and_reaps_orphans():
    # a child leaves a sleeper behind and exits; the subreaper inherits the
    # orphan, kills it past the grace deadline and reaps it
    script = f"""
import os, subprocess, sys, time
sys.path.insert(0, {HERE!r})
import run
from probes import children
assert run._become_subreaper()
out = subprocess.run([sys.executable, "-c",
    "import subprocess; print(subprocess.Popen(['sleep', '60'], "
    "stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL).pid)"],
    capture_output=True, text=True, check=True).stdout
orphan = int(out)
assert os.path.exists(f"/proc/{{orphan}}")
run._reap_all(time.monotonic() + 0.5)
assert not os.path.exists(f"/proc/{{orphan}}")
assert children(os.getpid()) == []
"""
    proc = subprocess.run([sys.executable, "-c", script], capture_output=True,
                          text=True, timeout=30)
    assert proc.returncode == 0, proc.stderr


def test_benchmark_json_names_what_the_runs_emit():
    import json

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == {"extract", "curate_incr"}
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


def test_self_time_subtracts_direct_children():
    from probes import Tracer

    t = Tracer(True)
    with t.span("op"):
        with t.span("layer"):
            with t.span("leaf"):
                pass
    for s, wall in zip(t.spans, (10.0, 4.0, 1.0)):
        s["wall_s"] = wall
    assert t.self_times() == {"op": 6.0, "layer": 3.0, "leaf": 1.0}


def test_jobs_are_counted_by_id_range_inside_the_op_window():
    from probes import op_event_metrics

    op = {"start": 10.0, "end": 12.0}
    # ids 7..9 fall in the window whatever thread or job group submitted them
    jobs = [{"id": 6, "submit_ms": 9_900}, {"id": 7, "submit_ms": 10_050},
            {"id": 8, "submit_ms": 10_060}, {"id": 9, "submit_ms": 11_500},
            {"id": 10, "submit_ms": 12_100}]
    task = {"cpu_s": 0.1, "gc_s": 0.0, "shuffle_write_b": 2**20}
    tasks = [dict(task, launch_ms=10_100, finish_ms=10_600, run_s=0.5),
             dict(task, launch_ms=10_400, finish_ms=10_900, run_s=0.5),
             dict(task, launch_ms=11_600, finish_ms=12_400, run_s=0.8)]
    m = op_event_metrics(op, jobs, tasks)
    assert m["spark.jobs_per_op"] == 3
    assert m["spark.shuffle_write_mb"] == 3.0
    # busy 10.1-10.9 and 11.6-12.0 (clipped at the window's end)
    assert abs(m["spark.driver_gap_s"] - 0.8) < 1e-9
