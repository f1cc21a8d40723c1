"""The run environment the benchmark pins for itself, and the Spark
session lifecycle around it.

The library's defaults target a large host (a 16g driver heap, scratch
under the source tree), so every run here sizes the heap from host RAM,
uses ``local[<usable cpus / 2>]``, keeps Spark's scratch inside the
benchmark's work directory and exports ``PYTHONPATH`` so Python workers
can import the engine wherever the process was started from.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

HEAP_SHARE = 0.25  # of host RAM; the host is shared and inputs are small


def host_ram_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def pin_environment(root: str, work: str) -> dict:
    """Set the process environment every session of this run inherits and
    return it as a record for the result."""
    cpus = len(os.sched_getaffinity(0))
    # Every task slot running the pandas UDF keeps a JVM task thread and a
    # Python worker busy at once, next to the JIT, GC and driver threads;
    # one slot per two cpus keeps the runnable threads within the cpus, so
    # a run measures the engine rather than the host's scheduler.
    slots = max(1, cpus // 2)
    heap_mb = max(1024, min(16 * 1024, int(host_ram_bytes() * HEAP_SHARE) >> 20))
    local_dir = os.path.join(work, "spark-local")
    os.makedirs(local_dir, exist_ok=True)
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(
            [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        "SPARK_LOCAL_DIRS": local_dir,
        "SPARK_GRAFT_LOCAL_DIR": local_dir,
        "SPARK_GRAFT_CPUS": str(slots),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "PYSPARK_PYTHON": sys.executable,
    })
    import pyarrow
    import pyspark

    return {
        "cpus": cpus,
        "task_slots": slots,
        "master": f"local[{slots}]",
        "heap_mb": heap_mb,
        "host_ram_mb": host_ram_bytes() >> 20,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
        "loadavg_start": loadavg(),
    }


def launch(env: dict, app_name: str):
    """A fresh JVM and SparkSession (``get_spark`` applies the pinned
    environment); the first job forces executor start-up."""
    from llm_document_parser_spark.session import get_spark

    spark = get_spark(app_name=app_name, master=env["master"])
    spark.range(1).count()
    return spark


def shutdown(spark) -> None:
    """Stop the session and wait for its JVM to exit, so no process
    outlives the run."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        # the JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM (executors run inside it in local mode)."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing")


def persisted_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def group_stats(spark, group: str) -> dict:
    """Jobs, stages and tasks Spark ran under job group ``group``."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for s in info.stageIds:
            stages += 1
            sinfo = st.getStageInfo(s)
            tasks += sinfo.numTasks if sinfo is not None else 0
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def _rest(spark, path: str):
    url = spark.sparkContext.uiWebUrl
    if not url:
        raise RuntimeError("Spark UI disabled; status REST API unavailable")
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{url}/api/v1/applications/{app}/{path}", timeout=30) as r:
        return json.loads(r.read())


def stage_ids(spark) -> set[int]:
    return {s["stageId"] for s in _rest(spark, "stages")}


def stage_totals(spark, since: set[int]) -> dict:
    """Executor CPU, GC, shuffle-write, spill and failed-task totals over
    the stages that are not in ``since``, from the local status REST API.
    The listener updates the store asynchronously, so wait until no stage
    of the window is still active."""
    for _ in range(50):
        stages = [s for s in _rest(spark, "stages") if s["stageId"] not in since]
        if all(s["status"] in ("COMPLETE", "FAILED", "SKIPPED") for s in stages):
            break
        time.sleep(0.1)
    return {
        "executor_cpu_s": sum(s.get("executorCpuTime", 0) for s in stages) / 1e9,
        "gc_s": sum(s.get("jvmGcTime", 0) for s in stages) / 1e3,
        "shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in stages),
        "spill_bytes": sum(
            s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0) for s in stages
        ),
        "failed_tasks": sum(s.get("numFailedTasks", 0) for s in stages),
    }


def process_age_s() -> float:
    """Seconds since this process started (kernel start time, 10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")
