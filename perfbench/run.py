#!/usr/bin/env python3
"""Benchmark of the engine's user jobs, run from the repository root:

    python3 perfbench/run.py --workload {extract,analytics} \
        --seed N --seconds S --trace {0,1}

One client, one Spark job at a time (closed loop), at local[<cores>]. The
run generates (or reuses) its seeded inputs, sets up a session and warms it
up, then repeats the workload's operation until ``--seconds`` of operations
have run (at least ``min_ops``), checking every operation's output outside
the timed section. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

End-to-end metrics (``--trace 0``):
  setup_s      median of three fresh JVM + session starts, plus the
               workload's warm-up operations on the last session
  op_s         best operation time in the run (steady state, as bench.py
               times): extract = batch job to committed manifest,
               analytics = suite time, the sum of each query's best time
               over the passes
  item_ms      extract: op_s per input doc (1000 / docs_per_s);
               analytics: geometric mean of the per-query best times
  peak_rss_mb  peak resident memory (summed PSS, so pages the forked Python
               workers share count once) of the Spark JVM and its Python
               workers while operations run

``--trace 1`` repeats the run untraced (one session start), then again with
a Spark event log and spans, probes each layer, and prints the per-layer
metrics (a layer that the workload does not run reports 0) plus
``trace.overhead_frac``. The traced ``extract`` run also runs the corpus job
(``main.py --corpus``) once, checks it and probes its dedup and sink layers.
Everything the run writes stays under ``.perfbench_work/``.

The command runs the benchmark in a child process and, as the child
subreaper of everything below it, ends and reaps every process the run
leaves behind (a JVM still shutting down, Python workers, the
multiprocessing resource tracker) before it exits.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
SESSION_STARTS = 3
MAX_OPS = 40
HEAP = "2g"
WORKER_ENV = "PERFBENCH_WORKER"
PR_SET_CHILD_SUBREAPER = 36
LEFTOVER_GRACE_S = 5.0


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(cores: int) -> dict:
    """Spark settings supplied from outside the package: every temporary
    file inside the work dir, the session width, and a JVM heap that
    leaves room on a shared host."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_LOCAL_DIRS": tmp,
            "TMPDIR": tmp,
            "SPARK_DRIVER_MEMORY": HEAP,
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "PYSPARK_PYTHON": sys.executable,
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
        }
    )
    return dict(os.environ)


class Session:
    """One SparkSession in its own JVM. ``stop`` shuts the JVM down and
    waits for it, so the next start pays the full launch again."""

    def __init__(self, cores: int, eventlog_dir: str | None = None):
        self.cores = cores
        self.eventlog_dir = eventlog_dir

    def start(self) -> float:
        from ocr_model_spark.session import get_spark

        # a fixed, pre-touched JVM heap: without it the JVM's resident
        # size follows when G1 decides to grow the heap, not the workload
        args = [
            "--conf spark.ui.showConsoleProgress=false",
            f'--driver-java-options "-Xms{HEAP} -XX:+AlwaysPreTouch"',
        ]
        if self.eventlog_dir:
            os.makedirs(self.eventlog_dir, exist_ok=True)
            args += [
                "--conf spark.eventLog.enabled=true",
                f"--conf spark.eventLog.dir=file://{self.eventlog_dir}",
                "--conf spark.eventLog.compress=false",
                "--conf spark.eventLog.rolling.enabled=false",
            ]
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", master=f"local[{self.cores}]")
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    @property
    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def stop(self) -> None:
        stop_spark(self.spark)
        _forget_jvm_udfs()


def stop_spark(spark) -> None:
    """Stop the session, shut its JVM down and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _forget_jvm_udfs() -> None:
    """A Python UDF caches its JVM-side function on first use; after the JVM
    that holds it is gone, drop the cache so the next session builds its own."""
    for name, mod in list(sys.modules.items()):
        if not name.startswith("ocr_model_spark"):
            continue
        for obj in vars(mod).values():
            udf = getattr(obj, "_unwrapped", None)
            if udf is not None and hasattr(udf, "_judf_placeholder"):
                udf._judf_placeholder = None


def timed_loop(w, sess: Session, seconds: float, spans=None) -> dict:
    """Closed loop of operations; only the operations themselves are timed
    and sampled for memory, never the output checks."""
    from perfbench.tracing import PeakMemory, label

    times, results = [], []
    attempted = failed = 0
    busy = 0.0
    sc = sess.spark.sparkContext
    with PeakMemory(sess.jvm_pid) as rss:
        i = 0
        while (busy < seconds or i < w.min_ops) and i < MAX_OPS:
            rss.active = True
            t0 = time.perf_counter()
            try:
                with spans.span(label("op", w.name, i), sc) if spans else nullcontext():
                    res = w.op(sess.spark, i, spans)
            except Exception:  # counted as a failed operation
                print(traceback.format_exc(), file=sys.stderr)
                res = None
            dt = time.perf_counter() - t0
            rss.active = False
            busy += dt
            i += 1
            if res is None:
                attempted += 1
                failed += 1
                continue
            n, bad = w.check(sess.spark, res)
            attempted += n
            failed += len(bad)
            for msg in bad:
                print(f"[perfbench] check failed: {msg}", file=sys.stderr)
            times.append(dt)
            results.append(res)
        peak = rss.peak
    print(f"[perfbench] {w.name} op times: {[round(t, 3) for t in times]}", file=sys.stderr)
    return {
        "times": times,
        "results": results,
        "attempted": attempted,
        "failed": failed,
        "peak_rss_mb": peak,
    }


def end_to_end(w, setup_s: float, loop: dict) -> dict:
    times = loop["times"]
    return {
        "setup_s": setup_s,
        "op_s": w.op_s(times, loop["results"]),
        "item_ms": w.item_ms(times, loop["results"]),
        "peak_rss_mb": loop["peak_rss_mb"],
    }


def run_phase(w, cores: int, seconds: float, n_starts: int, eventlog_dir=None, spans=None):
    """Set up (``n_starts`` fresh sessions, the last one kept and warmed up
    by ``w.warmup_ops`` operations), then run the timed loop. Returns
    (session, setup_s, loop)."""
    from perfbench.tracing import label

    starts = []
    for k in range(n_starts):
        sess = Session(cores, eventlog_dir if k == n_starts - 1 else None)
        starts.append(sess.start())
        if k < n_starts - 1:
            sess.stop()
    t0 = time.perf_counter()
    for k in range(w.warmup_ops):
        with spans.span(label("warmup", w.name, k), sess.spark.sparkContext) if spans else nullcontext():
            w.op(sess.spark, -1 - k)
    setup_s = statistics.median(starts) + (time.perf_counter() - t0)
    return sess, setup_s, timed_loop(w, sess, seconds, spans)


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def engine_metrics(w, folded: dict, n_ops: int) -> dict:
    """Per-op Spark engine numbers from the folded event log. An analytics
    op is one pass; its jobs are labelled per query."""
    from perfbench.tracing import LABEL_PREFIX, task_skew

    kind = "query" if w.name == "analytics" else "op"
    per_op: dict[int, list[dict]] = {}
    for lbl, f in folded.items():
        k, _name, i = lbl[len(LABEL_PREFIX) :].split("|")
        if k == kind:
            per_op.setdefault(int(i), []).append(f)
    ops = [per_op.get(i, []) for i in range(n_ops)]

    def total(key):
        return _median(sum(f[key] for f in fs) for fs in ops)

    def skew(fs):
        return task_skew({sid: ms for f in fs for sid, ms in f["task_ms"].items()})

    return {
        "spark.stages": total("stages"),
        "spark.tasks": total("tasks"),
        "spark.executor_cpu_s": total("cpu_s"),
        "spark.executor_run_s": total("run_s"),
        "spark.jvm_gc_s": total("gc_s"),
        "spark.shuffle_write_bytes": total("shuffle_write_bytes"),
        "spark.spill_bytes": total("spill_bytes"),
        "spark.task_skew": _median(skew(fs) for fs in ops),
    }


def traced_metrics(w, folded: dict, loop: dict) -> dict:
    from perfbench.tracing import label
    from perfbench.workloads import QUERIES

    n_ops = len(loop["times"])
    m = engine_metrics(w, folded, n_ops)
    if w.name == "extract":
        m["extract.udf_passes_per_job"] = _median(
            sum("ArrowEvalPython" in p for p in folded.get(label("op", w.name, i), {}).get("sql_plans", []))
            for i in range(n_ops)
        )
    if w.name == "analytics":
        best = w.query_best(loop["results"])
        for q in QUERIES:
            runs = [folded.get(label("query", q, i)) for i in range(n_ops)]
            runs = [f for f in runs if f]
            m[f"query_s.{q}"] = best[q]
            m[f"query_stages.{q}"] = _median(f["stages"] for f in runs)
            m[f"query_shuffle_bytes.{q}"] = _median(f["shuffle_write_bytes"] for f in runs)
    return m


def corpus_job(spark, spans, seed: int, cores: int) -> tuple[int, list[str], dict]:
    """Run the corpus job once, check it and probe its layers. Returns
    (operations attempted, failure messages, per-layer metrics)."""
    from perfbench.tracing import label
    from perfbench.workloads import Corpus

    c = Corpus(WORK, seed)
    c.prepare()
    try:
        with spans.span(label("probe", "corpus.job", 0), spark.sparkContext):
            res = c.op(spark, 0)
        n, bad = c.check(spark, res)
        return n, bad, c.probes(spark, spans, [res], cores)
    finally:
        c.cleanup()


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["extract", "analytics"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    cores = _cores()
    env = configure_env(cores)
    from perfbench import workloads
    from perfbench.tracing import Spans, fold_jobs, read_event_log

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    w = {"extract": workloads.Extract, "analytics": workloads.Analytics}[args.workload](
        WORK, args.seed
    )
    w.prepare()

    sess = None
    try:
        # a traced run reports no setup_s, so its untraced phase starts once
        n_starts = 1 if args.trace else SESSION_STARTS
        sess, setup_s, loop = run_phase(w, cores, args.seconds, n_starts)
        attempted, failed = loop["attempted"], loop["failed"]
        if not loop["times"]:
            raise RuntimeError("every operation raised")
        metrics = end_to_end(w, setup_s, loop)
        sess.stop()
        sess = None
        if args.trace:
            run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
            eventlog = os.path.join(WORK, "eventlog", run_id)
            shutil.rmtree(eventlog, ignore_errors=True)
            spans = Spans(run_id)
            sess, _, tloop = run_phase(w, cores, args.seconds, 1, eventlog, spans)
            attempted += tloop["attempted"]
            failed += tloop["failed"]
            if not tloop["times"]:
                raise RuntimeError("every traced operation raised")
            layer = w.probes(sess.spark, spans, tloop["results"], cores)
            if w.name == "extract":
                n, bad, corpus_layer = corpus_job(sess.spark, spans, args.seed, cores)
                attempted += n
                failed += len(bad)
                for msg in bad:
                    print(f"[perfbench] check failed: {msg}", file=sys.stderr)
                layer.update(corpus_layer)
            sess.stop()
            sess = None
            folded = fold_jobs(read_event_log(eventlog), spans.spans)
            shutil.rmtree(eventlog, ignore_errors=True)
            layer.update(traced_metrics(w, folded, tloop))
            if w.name == "extract":
                from perfbench import inputs, scaling

                head = inputs.head_pages(w.meta["pages"], 5000)
                low = scaling.run_level(head, 1, cores, 2, env)
                high = scaling.run_level(head, cores, cores, 2, env)
                layer["sched.scaling_eff"] = high / (cores * low)
            traced_op = w.op_s(tloop["times"], tloop["results"])
            layer["trace.overhead_frac"] = traced_op / metrics["op_s"] - 1
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            spans.dump(os.path.join(WORK, "traces", f"{run_id}.json"))
            metrics = {m["name"]: layer.get(m["name"], 0) for m in spec["per_layer"]}
    finally:
        if sess is not None:
            sess.stop()
        w.cleanup()

    out = {
        "correct": failed == 0 and all(math.isfinite(v) for v in metrics.values()),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(out))
    return 0


def _reap_leftovers(child_pids) -> None:
    """Reap every process reparented to this subreaper; whatever is still
    running after ``LEFTOVER_GRACE_S`` is killed. Returns once none is left."""
    deadline = time.monotonic() + LEFTOVER_GRACE_S
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return
        if time.monotonic() > deadline:
            # a killed parent's children are reparented here and killed
            # on the next pass
            for pid in child_pids(os.getpid()):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def supervise(argv: list[str]) -> int:
    """Run the benchmark in a child process; once it exits, end and reap
    every process started below it, and exit with the child's code."""
    sys.path.insert(0, ROOT)
    # imported before the child starts, so the reaping at the end cannot fail
    from perfbench.tracing import child_pids

    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")
    child = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), *argv],
        env={**os.environ, WORKER_ENV: "1"},
    )

    def forward(signum, _frame):
        child.send_signal(signum)

    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, forward)
    try:
        rc = child.wait()
    finally:
        _reap_leftovers(child_pids)
    return rc if rc >= 0 else 2


if __name__ == "__main__":
    if os.environ.get(WORKER_ENV) != "1":
        sys.exit(supervise(sys.argv[1:]))
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(2)
