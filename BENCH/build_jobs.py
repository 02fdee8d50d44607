"""Where an untraced build spends its time, job by job.

Usage: python BENCH/build_jobs.py <seed> [--cores N]

Runs one ``Pipeline.run`` in a fresh perfbench session over the corpus the
``build_bulk`` workload generates for ``seed``, without the perfbench
tracer (which persists and counts inside every layer, so a traced build
runs a longer plan). Then prints the build's wall time, its Spark job
count, the build's milliseconds with no Spark job running (``no_job_ms``:
the wall minus the union of the jobs' submission-to-completion intervals),
and one line per job and per stage read from Spark's status store:
the pipeline stage the job ran in, start offset and duration in ms, the call
site, and the stage's task count and summed executor run, CPU and JVM GC
time. Last comes one line per pipeline stage: its wall time, its jobs and
the summed executor run, CPU and GC time of their stages. Jobs outside
every ``Pipeline._stage`` step (the input roll-up the fingerprint is taken
from, the triple counts and the lineage append) are labelled ``-``. The labels come from a job group
this tool sets around each ``Pipeline._stage`` call; the program sets
none. Spark's stderr goes to stderr as usual.
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


def _uncovered_ms(intervals: list[tuple[int, int]], wall_ms: int) -> int:
    """The milliseconds of ``[0, wall_ms]`` that no ``(start, end)`` interval
    covers."""
    covered = reach = 0
    for start, end in sorted(intervals):
        start, end = max(start, reach), min(end, wall_ms)
        if end > start:
            covered += end - start
            reach = end
    return wall_ms - covered


def _label_stages(pipeline_cls, sc, walls: dict[str, float]) -> None:
    """Run each ``Pipeline._stage`` step under a job group named after its
    stage, and record the step's wall seconds in ``walls``."""
    step = pipeline_cls._stage

    def grouped(self, stage, *args, **kwargs):
        sc.setJobGroup(stage, f"pipeline stage {stage}")
        start = time.perf_counter()
        try:
            return step(self, stage, *args, **kwargs)
        finally:
            walls[stage] = time.perf_counter() - start
            sc.setLocalProperty("spark.jobGroup.id", None)

    pipeline_cls._stage = grouped


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
        walls: dict[str, float] = {}
        _label_stages(Pipeline, sc, walls)
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
        spans = [(_ms(j.submissionTime()) - t0_ms, _ms(j.completionTime()) - t0_ms) for j in jobs]
        print(f"no_job_ms {_uncovered_ms(spans, round(wall * 1000))}")
        print("job  stage        start_ms    dur_ms  call site")
        # stage → [jobs, run ms, cpu ms, gc ms]
        summary = {stage: [0, 0, 0, 0] for stage in (*walls, "-")}
        for j in jobs:
            stage = j.jobGroup().get() if j.jobGroup().isDefined() else "-"
            start, end = _ms(j.submissionTime()), _ms(j.completionTime())
            print(
                f"{j.jobId():>3}  {stage:<10} {start - t0_ms:>9} "
                f"{end - start if end else -1:>9}  {j.name()}"
            )
            summary[stage][0] += 1
            for sid in _seq(j.stageIds()):
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # skipped (its shuffle output was reused)
                    continue
                s_start, s_end = _ms(sd.submissionTime()), _ms(sd.completionTime())
                if s_start is None:
                    continue
                times = (sd.executorRunTime(), sd.executorCpuTime() // 10**6, sd.jvmGcTime())
                for i, t in enumerate(times, 1):
                    summary[stage][i] += t
                print(
                    f"      stage {sid:>4} {s_start - t0_ms:>9} "
                    f"{s_end - s_start if s_end else -1:>9}  tasks={sd.numTasks()} "
                    f"run_ms={times[0]} cpu_ms={times[1]} gc_ms={times[2]}  {sd.name()}"
                )
        print("stage        wall_ms  jobs    run_ms    cpu_ms     gc_ms")
        outside = wall - sum(walls.values())
        for stage, (n_jobs, run_ms, cpu_ms, gc_ms) in summary.items():
            stage_wall = walls.get(stage, outside)
            print(
                f"{stage:<10} {stage_wall * 1000:>9.0f} {n_jobs:>5} {run_ms:>9} "
                f"{cpu_ms:>9} {gc_ms:>9}"
            )
    finally:
        stop_session(spark)
        shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    main()
