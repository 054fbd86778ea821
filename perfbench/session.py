"""The benchmark's own Spark session, sized for a 4-core, 16 GB box.

The driver heap is fixed and pre-touched (``-Xms`` = ``-Xmx``,
``AlwaysPreTouch``), so the JVM's peak resident set is the heap plus
whatever it uses off-heap, not an accident of when the collector
chose to grow the heap.

``spark_conf.json`` beside this file is the whole configuration, so the
parent commit and a change run identical settings.  It repeats the
runtime SQL conf that ``schema_validator_spark.session.get_spark`` sets:
``cli.main`` calls ``get_spark``, whose ``getOrCreate`` re-applies that
conf to the live session, and ``SPARK_GRAFT_CPUS`` (exported here to
the session's core count) keeps its ``spark.sql.shuffle.partitions``
equal to ours.

Everything Spark, py4j and the JVM write (shuffle and spill files,
temp files, the warehouse) goes under the work directory, so a run
reads and writes only inside its checkout.
"""

from __future__ import annotations

import json
import os
import re
import time

CONF_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "spark_conf.json")


def load_conf() -> dict[str, str]:
    with open(CONF_FILE) as f:
        return json.load(f)


def cores_of(master: str) -> int:
    m = re.fullmatch(r"local\[(\d+)\]", master)
    if not m:
        raise ValueError(f"benchmark master must be local[N], got {master!r}")
    return int(m.group(1))


def start(work_dir: str):
    """Start the session; returns (spark, seconds it took)."""
    conf = load_conf()
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # py4j's gateway handshake file and pandas-UDF workers use tempfile
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cores_of(conf["spark.master"]))
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    import tempfile

    tempfile.tempdir = tmp
    from pyspark.sql import SparkSession

    t0 = time.perf_counter()
    b = SparkSession.builder.appName("perfbench")
    for k, v in conf.items():
        b = b.config(k, v)
    spark = (
        b.config("spark.local.dir", os.path.join(work_dir, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"{conf.get('spark.driver.extraJavaOptions', '')} -Djava.io.tmpdir={tmp}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def driver_pid(spark) -> int:
    return int(spark.sparkContext._jvm.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def stop(spark) -> None:
    """Stop Spark, then shut the gateway JVM down and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
