"""Kill-a-worker resilience: a python worker SIGKILLed mid-task must not
cost the JOB (round-4 VERDICT task 4).

Background: two 10M-page runs in round 4 wedged when a python worker died
silently under co-tenant pressure (BENCH/BASELINE.md round-4 notes). The
mitigations are (a) task retries — local masters hard-default to ONE
attempt, so ``get_spark(task_retries=2)`` rewrites the master to
``local[N,2]`` (cluster mode already defaults to 4), and (b) the
``SPARK_GRAFT_WORKER_REUSE=0`` escape hatch. This test provides the live
evidence: it spawns a fresh-JVM subprocess, runs a deliberately slow
Arrow-batched job, SIGKILLs a live worker mid-batch from a watcher
thread, and requires the job to COMPLETE with the correct result.

The killer walks /proc and only touches pyspark.daemon descendants of its
own process tree, so a concurrently running benchmark's workers are never
collateral damage.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD = r"""
import json, os, signal, sys, threading, time
sys.path.insert(0, %(repo)r)
os.environ["SPARK_GRAFT_WORKER_REUSE"] = %(reuse)r

from llm_document_parser_spark.session import get_spark

ME = os.getpid()


def _stat(pid):
    try:
        with open(f"/proc/{pid}/stat") as f:
            parts = f.read().split()
        return parts[1], int(parts[3])  # (comm, ppid)
    except OSError:
        return None, None


def _cmdline(pid):
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode("utf-8", "replace")
    except OSError:
        return ""


def _is_mine(pid):
    # walk the ppid chain; only processes under THIS test process qualify
    seen = 0
    while pid and pid != 1 and seen < 30:
        if pid == ME:
            return True
        _, pid = _stat(pid)
        seen += 1
    return False


def _find_workers():
    # A real daemon is `python -m pyspark.daemon`; matching on a bare
    # substring would also match THIS script (its own source rides in the
    # `python -c` cmdline) and get the JVM shot instead of a worker.
    daemons, workers = set(), []
    pids = [int(p) for p in os.listdir("/proc") if p.isdigit()]
    for pid in pids:
        cmd = _cmdline(pid)
        if " -m pyspark.daemon" in cmd and pid != ME and _is_mine(pid):
            daemons.add(pid)
    for pid in pids:
        _, ppid = _stat(pid)
        if ppid in daemons:
            workers.append(pid)
    return workers


killed = {"pid": None}


def killer():
    deadline = time.time() + 120
    while time.time() < deadline:
        ws = _find_workers()
        if ws:
            time.sleep(0.5)  # let it get INTO the batch
            ws = _find_workers()
            if ws:
                os.kill(ws[0], signal.SIGKILL)
                killed["pid"] = ws[0]
                return
        time.sleep(0.2)


spark = get_spark(master="local[4]", app_name="kill-worker-test",
                  task_retries=2, shuffle_partitions=8)

import pandas as pd  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.functions import pandas_udf  # noqa: E402


@pandas_udf("long")
def slow_inc(x: pd.Series) -> pd.Series:
    time.sleep(4)  # keep workers alive long enough to be shot
    return x + 1


t = threading.Thread(target=killer, daemon=True)
t.start()
df = spark.range(0, 8, numPartitions=8).select(F.sum(slow_inc("id")).alias("s"))
(row,) = df.collect()
t.join(timeout=5)
print(json.dumps({"sum": row["s"], "killed": killed["pid"]}))
spark.stop()
"""


@pytest.mark.parametrize("reuse", ["1", "0"])
def test_job_survives_worker_sigkill(reuse):
    script = _CHILD % {"repo": REPO, "reuse": reuse}
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, f"job did not survive (reuse={reuse}):\n" + (
        out.stderr[-3000:]
    )
    line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    res = json.loads(line)
    assert res["killed"] is not None, "killer never found a worker to shoot"
    # sum(id+1 for id in range(8)) == 36, exactly once per row despite retry
    assert res["sum"] == 36


def test_task_retries_master_rewrite_rules():
    from llm_document_parser_spark.session import (
        _parallelism_hint,
        _with_task_retries,
    )

    assert _with_task_retries("local[4]", 2) == "local[4,2]"
    assert _with_task_retries("local[*]", 3) == "local[*,3]"
    # explicit failure count and cluster masters pass through untouched
    assert _with_task_retries("local[4,3]", 2) == "local[4,3]"
    assert _with_task_retries("spark://host:7077", 2) == "spark://host:7077"
    # the parallelism hint must still read the core count, not the pair
    assert _parallelism_hint("local[4,2]") == 4
    assert _parallelism_hint("local[16]") == 16


def test_default_driver_memory_is_half_host_ram(monkeypatch):
    from llm_document_parser_spark import session

    def host(ram_bytes):
        pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": ram_bytes // 4096}
        monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)
        return session._default_driver_memory()

    gib = 2**30
    assert host(15 * gib) == f"{15 * 1024 // 2}m"
    assert host(512 * gib) == f"{16 * 1024}m"
    assert host(1 * gib) == "1024m"
