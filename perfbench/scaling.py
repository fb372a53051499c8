"""``sched.scaling_eff``: docs/s at local[N] ÷ (N × docs/s at local[1]) on a
fixed slice of the extract input, by ``bench_scaling.py``'s equal-load
method: while one level runs, SCHED_IDLE busy loops fill the cores it leaves
idle, so both levels run at the all-core clock and the 1-core side is not
inflated by turbo frequency.

Each level runs in its own process (one JVM per master). As a script:
``python3 perfbench/scaling.py PAGES CORES REPS`` prints one JSON line."""

from __future__ import annotations

import json
import multiprocessing
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _burn_idle() -> None:
    os.sched_setscheduler(0, os.SCHED_IDLE, os.sched_param(0))
    x = 0
    while True:
        x = (x + 1) & 0xFFFF


def run_level(pages: str, cores: int, total_cores: int, reps: int, env: dict) -> float:
    """docs/s of the extraction pass at local[cores], best of ``reps`` after
    one warm-up, with ``total_cores - cores`` idle burners running."""
    ctx = multiprocessing.get_context("spawn")
    burners = [ctx.Process(target=_burn_idle, daemon=True) for _ in range(total_cores - cores)]
    for p in burners:
        p.start()
    try:
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), pages, str(cores), str(reps)],
            capture_output=True,
            text=True,
            check=True,
            cwd=ROOT,
            env=env,
            timeout=150,
        )
    finally:
        for p in burners:
            p.terminate()
        for p in burners:
            p.join(timeout=10)
    return json.loads(out.stdout.strip().splitlines()[-1])["docs_per_s"]


def _child(pages: str, cores: int, reps: int) -> None:
    sys.path.insert(0, ROOT)
    from pyspark.sql import functions as F

    from ocr_model_spark.pipeline import run_extraction
    from ocr_model_spark.session import get_spark
    from perfbench.run import stop_spark

    spark = get_spark(app_name=f"perfbench_scaling_{cores}", master=f"local[{cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        n = spark.read.parquet(pages).count()
        # bench_scaling.py's pass; the aggregate reads UDF outputs, so the
        # UDF stays in the plan
        work = run_extraction(spark, pages)["docs"].agg(
            F.count(F.lit(1)),
            F.sum(F.length("text_extracted")),
            F.sum(F.size(F.coalesce(F.col("regions"), F.array()))),
        )
        work.first()
        best = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter()
            work.first()
            best = min(best, time.perf_counter() - t0)
    finally:
        # wait for the JVM, so it is gone before the next level starts
        stop_spark(spark)
    print(json.dumps({"cores": cores, "docs_per_s": n / best}))


if __name__ == "__main__":
    _child(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]))
