"""Spark session lifecycle for one benchmark process."""

from __future__ import annotations

import os
import tempfile
from pathlib import Path

from pyspark import SparkContext

from perfbench import sysmon

ROOT = Path(__file__).resolve().parent.parent


def _warm_batch(batches):
    import pandas as pd

    for pdf in batches:
        yield pd.DataFrame({"n": [len(pdf)]})


def _isolate(workdir: Path) -> None:
    """Keep Spark's and Python's scratch files inside ``workdir``, and let
    the Python workers import the program and this package."""
    tmp = workdir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(workdir / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    tempfile.tempdir = str(tmp)


def start_session(cores: int, workdir: Path):
    """A ``local[cores]`` session of the program's own configuration, with
    one warm Python worker per core."""
    from raptor_spark.session import build_session

    _isolate(workdir)

    spark = build_session(
        "perfbench",
        master=f"local[{cores}]",
        extra={
            "spark.driver.memory": "2g",
            # no hsperfdata file in /tmp: the JVM writes only under workdir
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={workdir / 'tmp'} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": str(workdir / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    # start one Python worker per core before anything is timed; the
    # function is pickled by reference, so this also proves workers can
    # import this package
    spark.range(0, cores, numPartitions=cores).mapInPandas(
        _warm_batch, schema="n long"
    ).count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM and its Python workers to end."""
    gateway = SparkContext._gateway
    descendants = sysmon.tree_pids() - {os.getpid()}
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None  # a later session relaunches
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    sysmon.reap(descendants)
