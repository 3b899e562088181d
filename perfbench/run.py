#!/usr/bin/env python3
"""Benchmark entry point. From the repository root:

    python3 perfbench/run.py --workload extract --seed 1 --seconds 10 --trace 0

One driver process runs the engine at ``local[4]``. Set-up (timed as
``setup_s``) is ``config.build_spark`` plus the workload's warm-up ops; then ops
run back to back until ``--seconds`` have passed (and at least the
workload's minimum count ran), each checked against its oracle outside the
timed region. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``, a separate
run with the Spark event log on and spans recorded).

Everything the run writes stays under ``.perfbench_work/`` in the
repository root: inputs and oracles are cached there per (workload, seed),
per-run scratch is removed at exit.

The command is a small supervisor: it marks itself a child subreaper, runs
the benchmark in a child process, and when that child has exited it stops and
reaps every process left under it (the JVM's Python daemon, the input pool's
resource tracker, anything orphaned), so no process outlives the command.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

CORES = 4                 # local[4]: one driver process, four task slots
DRIVER_MEM = "3g"         # pinned well below the host's RAM (engine default 24g)

END_TO_END = {"docs_per_s": "docs/s", "op_s_p50": "s", "setup_s": "s",
              "peak_rss_mb": "MB", "ok_frac": "frac"}
PER_LAYER = {
    "spark.jobs_per_op": "count", "driver.cpu_s": "s", "jvm.cpu_s": "s",
    "pyworker.cpu_s": "s", "spark.task_s": "s", "spark.task_cpu_s": "s",
    "spark.gc_s": "s", "spark.shuffle_write_mb": "MB",
    "spark.driver_gap_s": "s", "io.out_mb": "MB", "io.out_files": "count",
    "config.build_spark_s": "s", "trace.op_s_p50": "s",
    "synth.resolve_s": "s", "kernels.page_s": "s", "kernels.textstrip_s": "s",
    "operators.extract_s": "s", "pipeline.explode_s": "s",
    "pipeline.extract_flat_s": "s", "pipeline.reassemble_s": "s",
    "io.write_s": "s", "pipeline.kernel_par_eff": "ratio",
    "segment_stream.batch_s": "s", "dedup_stream.batch_s": "s",
    "functions.curate.build_s": "s", "curate_stream.read_s": "s",
    "functions.curate.corpus_s": "s", "functions.prep.decontaminate_s": "s",
    "functions.bpe.train_s": "s", "functions.prep.pack_s": "s",
}


def _isolate(work: str) -> None:
    """Point every temp and scratch location of this process, the JVM and
    the Python workers into ``work``; pin the engine's session knobs."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR if this process cached /tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    try:
        spark.stop()
    except Exception:  # a signal may have cut a gateway call short
        traceback.print_exc()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway exits on stdin EOF
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def run(wl, seconds: float, trace: bool, scratch: str) -> dict:
    """Set up, measure, check and (traced) split one workload instance whose
    inputs are already prepared. Returns the result object."""
    from complete_ocr_spark.config import build_spark

    from probes import (Procs, Tracer, dir_size, jvm_gc_s,
                        op_event_metrics, read_event_log, steal_s)

    tracer = wl.tracer = Tracer(trace)
    conf = {"spark.ui.showConsoleProgress": "false"}
    events = os.path.join(scratch, "events")
    if trace:
        os.makedirs(events, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": events,
                     "spark.eventLog.compress": "false"})
    t0 = time.perf_counter()
    with tracer.span("config.build_spark") as b:
        spark = build_spark("perfbench", master=f"local[{CORES}]",
                            extra_conf=conf)
    try:
        with tracer.span("warmup"):
            wl.warm(spark)
        setup_s = time.perf_counter() - t0
        procs = Procs(spark)
        ops: list[dict] = []
        raised = 0
        t_run, steal0, gc0, run_cpu0 = (time.perf_counter(), steal_s(),
                                        jvm_gc_s(spark), procs.cpu())
        while len(ops) + raised < wl.max_ops and (
                len(ops) + raised < wl.min_ops
                or time.perf_counter() - t_run < seconds):
            i = len(ops) + raised
            out_dir = wl.out_dir(i)
            if trace:
                cpu0, size0 = procs.cpu(), dir_size(out_dir)
            try:
                with tracer.span("op", index=i) as rec:
                    res = wl.op(spark, i)
            except Exception:
                traceback.print_exc()
                raised += 1
                if wl.stop_on_error:
                    break  # later ops of the sequence build on this one
                continue
            res.update(wall_s=rec["wall_s"], start=rec["start"], end=rec["end"],
                       out_dir=out_dir)
            if trace:
                cpu1, size1 = procs.cpu(), dir_size(out_dir)
                res["cpu"] = {k: cpu1[k] - cpu0[k] for k in cpu0}
                res["out"] = [b - a for a, b in zip(size0, size1)]
            ops.append(res)
        t_run, steal, gc = (time.perf_counter() - t_run, steal_s() - steal0,
                            jvm_gc_s(spark) - gc0)
        run_cpu = {k: v - run_cpu0[k] for k, v in procs.cpu().items()}
        with tracer.span("check"):
            try:
                oks = wl.check(spark, ops)
            except Exception:
                traceback.print_exc()
                oks = [False] * len(ops)
        failed = raised + oks.count(False)
        layers = {}
        if trace and ops:
            with tracer.span("layers"):
                layers = wl.layers(spark, ops)
        rss = procs.peak_rss()
    finally:
        _stop(spark)

    attempted = len(ops) + raised
    walls = [op["wall_s"] for op in ops]
    op_p50 = statistics.median(walls) if walls else 0.0
    n = max(len(ops), 1)
    print(f"# {wl.name}: {len(ops)} ops, op_s {['%.3f' % w for w in walls]}, "
          f"setup_s {setup_s:.3f}, failed {failed}/{attempted}, "
          f"steal {steal:.2f} s of {CORES * t_run:.1f} core-s measured, "
          f"cpu_s/op {', '.join(f'{k} {v / n:.2f}' for k, v in run_cpu.items())}, "
          f"jvm gc_s/op {gc / n:.2f}, "
          f"rss_mb {', '.join(f'{k} {v:.0f}' for k, v in rss.items())}",
          file=sys.stderr)
    if not trace:
        metrics = {
            "docs_per_s": sum(op["docs"] for op in ops) / sum(walls) if ops else 0.0,
            "op_s_p50": op_p50,
            "setup_s": setup_s,
            "peak_rss_mb": rss["driver"] + rss["jvm"] + rss["pyworker"],
            "ok_frac": (attempted - failed) / attempted,
        }
        units = END_TO_END
    else:
        jobs, tasks = read_event_log(events)
        per_op = [op_event_metrics(op, jobs, tasks) for op in ops]
        metrics = dict.fromkeys(PER_LAYER, 0.0)
        for k in (per_op[0] if per_op else ()):
            metrics[k] = statistics.median(m[k] for m in per_op)
        if ops:
            for k in ("driver", "jvm", "pyworker"):
                metrics[f"{k}.cpu_s"] = statistics.median(
                    op["cpu"][k] for op in ops)
            metrics["io.out_mb"] = statistics.median(op["out"][0] for op in ops)
            metrics["io.out_files"] = statistics.median(op["out"][1] for op in ops)
        metrics["config.build_spark_s"] = b["wall_s"]
        # tracing overhead = this minus op_s_p50 of an untraced run
        metrics["trace.op_s_p50"] = op_p50
        metrics.update(layers)
        tracer.dump(os.path.join(WORK, f"spans-{wl.name}-{wl.seed}.jsonl"))
        print("# self time: " + ", ".join(
            f"{k} {v:.3f}" for k, v in tracer.self_times().items()), file=sys.stderr)
        units = PER_LAYER
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


_INNER = "PERFBENCH_INNER"
_PR_SET_CHILD_SUBREAPER = 36
_GRACE_S = 10.0   # time left processes get to exit on their own


def _reap_all(deadline: float) -> None:
    """Wait for every process below this one to end; past ``deadline`` kill
    what is still alive. As child subreaper this process inherits every
    orphaned descendant, so ``waitpid`` can collect all of them."""
    from probes import children

    killed = False
    while True:
        while True:  # collect whatever has already ended
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pid = 0
            if pid == 0:
                break
        live = children(os.getpid())
        if not live:
            return
        if not killed and time.monotonic() > deadline:
            for pid in live:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed = True
        time.sleep(0.05)


def _become_subreaper() -> bool:
    """Have orphaned descendants reparented to this process (Linux)."""
    prctl = ctypes.CDLL(None, use_errno=True).prctl
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    return prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) == 0


def _supervise(argv: list[str]) -> int:
    """Run the benchmark in a child and stop everything it leaves behind."""
    if not _become_subreaper():
        print("perfbench: cannot become child subreaper", file=sys.stderr)
        return 2
    child = subprocess.Popen([sys.executable, os.path.abspath(__file__), *argv],
                             env=dict(os.environ, **{_INNER: "1"}))

    def forward(signum, _frame):
        if child.poll() is None:
            child.send_signal(signum)

    signal.signal(signal.SIGTERM, forward)
    signal.signal(signal.SIGINT, forward)
    try:
        rc = child.wait()
    finally:
        if child.poll() is None:
            child.kill()
            child.wait()
        _reap_all(time.monotonic() + _GRACE_S)
    return rc


def main(argv=None) -> int:
    if argv is None:
        argv = sys.argv[1:]
    if os.environ.get(_INNER) != "1":
        return _supervise(argv)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "complete_ocr_spark")):
        print(f"perfbench: no complete_ocr_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    scratch = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(os.path.join(WORK, "cache"), exist_ok=True)
    _isolate(scratch)
    try:
        wl = WORKLOADS[args.workload](scratch, args.seed)
        t0 = time.perf_counter()
        wl.prepare(os.path.join(WORK, "cache"))
        print(f"# inputs ready in {time.perf_counter() - t0:.1f} s", file=sys.stderr)
        result = run(wl, args.seconds, bool(args.trace), scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
