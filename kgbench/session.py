"""Spark session lifetime for the benchmark: every file Spark, the JVM or
the Python workers write stays under one work directory of the checkout,
and stopping a session also ends its JVM and every worker process."""

from __future__ import annotations

import os
import tempfile
import time
from pathlib import Path

JVM_MEM = "2g"


def prepare_env(root: Path, work: Path) -> None:
    """Process environment inherited by the JVM and its Python workers.
    Must run before the first session starts."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(root), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)  # this process may have cached an older one
    # no hsperfdata file: HotSpot writes it under /tmp whatever the tmpdir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_DRIVER_MEM"] = JVM_MEM


def start(work: Path, cores: int, event_log: Path | None = None):
    """A session built by the engine's own ``get_spark`` at ``local[cores]``
    with shuffle partitions = cores; the extra conf only relocates temporary
    files and, for traced runs, turns the event log on."""
    from unsupervised_ner_spark.session import get_spark

    conf = {
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log.as_uri(),
            "spark.eventLog.compress": "false",
        })
    return get_spark("kgbench", cores=cores, shuffle_partitions=cores, extra_conf=conf)


def descendants(pid: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def stop(spark, keep_jvm: bool = False) -> None:
    """Stop the session, shut the JVM down and wait until the JVM and every
    Python worker it forked have exited. ``keep_jvm`` keeps the JVM (and its
    warm code caches) for a next session at another core count."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if keep_jvm:
        return
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits on EOF of its stdin
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    alive = {p for p in procs if Path(f"/proc/{p}").exists()}
    while alive and time.monotonic() < deadline:
        time.sleep(0.05)
        alive = {p for p in alive if _running(p)}
    for p in alive:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            state = fh.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    if state == "Z":  # our own exited child: reap it
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass
        return False
    return True
