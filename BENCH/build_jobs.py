"""Where an untraced build spends its time, job by job.

Usage: python BENCH/build_jobs.py <seed> [--cores N]

Runs one ``Pipeline.run`` in a fresh perfbench session over the corpus the
``build_bulk`` workload generates for ``seed``, without the perfbench
tracer (which persists and counts inside every layer, so a traced build
runs a longer plan). Then prints the build's wall time, its Spark job
count, and one line per job and per stage read from Spark's status store:
start offset and duration in ms, the call site, and the stage's task count
and summed executor run time. Spark's stderr goes to stderr as usual.
"""

from __future__ import annotations

import argparse
import shutil
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))


def _seq(seq) -> list:
    """A Scala Seq reached over py4j, as a Python list."""
    return [seq.apply(i) for i in range(seq.size())]


def _ms(opt_date) -> int | None:
    return opt_date.get().getTime() if opt_date.isDefined() else None


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("seed", type=int)
    ap.add_argument("--cores", type=int, default=4)
    args = ap.parse_args()

    import pandas as pd

    from perfbench import gen
    from perfbench.session import start_session, stop_session
    from raptor_spark.pipeline import Pipeline
    from raptor_spark.schemas import FILES_SCHEMA

    workdir = Path(tempfile.mkdtemp(prefix="build_jobs_"))
    spark = start_session(args.cores, workdir)
    try:
        rows = gen.corpus_rows(args.seed, gen.BULK_FILES, gen.BULK_PAD_BYTES)
        spark.createDataFrame(pd.DataFrame(rows), schema=FILES_SCHEMA).repartition(
            2 * args.cores
        ).write.parquet(str(workdir / "files"))
        files = spark.read.parquet(str(workdir / "files"))

        sc = spark.sparkContext
        listener = sc._jsc.sc().listenerBus()
        listener.waitUntilEmpty(60_000)
        store = sc._jsc.sc().statusStore()
        before = {j.jobId() for j in _seq(store.jobsList(None))}
        t0_ms = int(time.time() * 1000)
        t0 = time.perf_counter()
        Pipeline(spark, str(workdir / "build")).run(files)
        wall = time.perf_counter() - t0
        listener.waitUntilEmpty(60_000)

        jobs = sorted(
            (j for j in _seq(store.jobsList(None)) if j.jobId() not in before),
            key=lambda j: j.jobId(),
        )
        print(f"wall_s {wall:.3f}")
        print(f"spark_jobs {len(jobs)}")
        print("job  start_ms    dur_ms  call site")
        for j in jobs:
            start, end = _ms(j.submissionTime()), _ms(j.completionTime())
            print(
                f"{j.jobId():>3} {start - t0_ms:>9} {end - start if end else -1:>9}  {j.name()}"
            )
            for sid in _seq(j.stageIds()):
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # skipped (its shuffle output was reused)
                    continue
                s_start, s_end = _ms(sd.submissionTime()), _ms(sd.completionTime())
                if s_start is None:
                    continue
                print(
                    f"      stage {sid:>4} {s_start - t0_ms:>9} "
                    f"{s_end - s_start if s_end else -1:>9}  tasks={sd.numTasks()} "
                    f"run_ms={sd.executorRunTime()}  {sd.name()}"
                )
    finally:
        stop_session(spark)
        shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    main()
