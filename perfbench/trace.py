"""Spans, Spark status-store dumps, stream progress and host facts.

A span is a dict with ``id``, ``parent``, ``run``, ``name``, ``kind``,
``start``/``end`` (seconds since the run started), ``wall_start`` (epoch
seconds) and ``job_lo``/``job_hi`` — the scheduler's next job id at the
span's start and end, which ``metrics.attribute`` turns into the span's
Spark counters. Spans stay in memory; the run writes them out at its end.
"""

from __future__ import annotations

import json
import os
import platform
import time
from contextlib import contextmanager


def next_job_id(spark) -> int:
    """The id the scheduler gives the next submitted job (one counter for
    every thread of the application)."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


class Tracer:
    """Span recorder. ``detailed=False`` records only the run, pass and
    operation levels (what the untraced metrics need); ``True`` adds the
    calls inside an operation: ``Context.ref``, the action, each
    ``TxnTable`` method and each stream trigger."""

    COARSE = ("run", "pass", "op")

    def __init__(self, spark, run_id: str, detailed: bool):
        self.spark = spark
        self.run_id = run_id
        self.detailed = detailed
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    def now(self) -> float:
        return time.perf_counter() - self._t0

    @contextmanager
    def span(self, name: str, kind: str, **attrs):
        if not self.detailed and kind not in self.COARSE:
            yield {}
            return
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "name": name,
            "kind": kind,
            "wall_start": time.time(),
            "job_lo": next_job_id(self.spark),
            "start": self.now(),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = self.now()
            rec["job_hi"] = next_job_id(self.spark)
            rec["wall_end"] = time.time()
            self._stack.pop()

    def descendants(self, root_id: int) -> list[dict]:
        out, frontier = [], {root_id}
        for s in self.spans[root_id + 1 :]:  # children are always later
            if s["parent"] in frontier:
                out.append(s)
                frontier.add(s["id"])
        return out


def _mapper(jvm):
    """A Jackson mapper that serializes Spark's status-store API objects
    (Scala case classes) to JSON — one py4j call per list instead of one
    per field."""
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala = (
        jvm.java.lang.Class.forName("com.fasterxml.jackson.module.scala.DefaultScalaModule$")
        .getField("MODULE$")
        .get(None)
    )
    mapper.registerModule(scala)
    return mapper


def dump_status(spark) -> tuple[dict, dict]:
    """({job id: [stage ids]}, {stage id: summed STAGE_FIELDS}) for every
    job and stage the status store retains. Skipped stage attempts carry
    no work and are left out."""
    from perfbench.metrics import STAGE_FIELDS

    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    mapper = _mapper(sc._jvm)
    empty = sc._jvm.java.util.ArrayList()
    jobs = {
        j["jobId"]: list(j["stageIds"])
        for j in json.loads(mapper.writeValueAsString(store.jobsList(empty)))
    }
    defaults = [getattr(store, f"stageList$default${i}")() for i in range(2, 6)]
    stages: dict = {}
    for s in json.loads(mapper.writeValueAsString(store.stageList(empty, *defaults))):
        if s["status"] == "SKIPPED":
            continue
        acc = stages.setdefault(s["stageId"], {f: 0 for f in STAGE_FIELDS})
        for f in STAGE_FIELDS:
            acc[f] += s.get(f) or 0
    return jobs, stages


def _tree_cpu_s(pid: int) -> float:
    """CPU seconds of process ``pid`` (utime + stime), of its exited
    children (cutime + cstime) and, recursively, of its live children."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            # fields 14-17 (utime, stime, cutime, cstime) follow the
            # parenthesised name
            ticks = fh.read().rsplit(")", 1)[1].split()[11:15]
        kids = []
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                kids += [int(k) for k in fh.read().split()]
    except OSError:  # the process exited meanwhile
        return 0.0
    return sum(int(t) for t in ticks) / os.sysconf("SC_CLK_TCK") + sum(_tree_cpu_s(k) for k in kids)


def process_cpu_s(spark) -> float:
    """CPU seconds used so far by the JVM (driver, local executors, JIT,
    GC) and its Python workers, plus this Python driver process (the
    DuckDB threads of a check too, which is why checks run outside the
    measured pass). Time the hypervisor steals from the guest is charged
    to no process, so this stays put where walls swing with steal."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return _tree_cpu_s(pid) + time.process_time()


def storage_mb(spark) -> float:
    """Block storage (memory + disk) held by persisted RDDs right now —
    the eager ``localCheckpoint`` barriers live here."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def progress_of(query) -> list[dict]:
    """Progress events of a finished streaming query, as dicts — what a
    StreamingQueryListener would receive. (A Python listener needs the
    py4j callback server, whose shutdown blocks the JVM's exit on Spark 4.1.)"""
    return [json.loads(p.json) if hasattr(p, "json") else dict(p) for p in query.recentProgress]


def epoch_of(progress: dict) -> float:
    """Trigger start of a progress event in epoch seconds."""
    from datetime import datetime, timezone

    ts = progress["timestamp"].rstrip("Z")
    return datetime.fromisoformat(ts).replace(tzinfo=timezone.utc).timestamp()


# ----------------------------------------------------------- host facts


def cpu_ticks() -> list[int] | None:
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def steal_pct(before, after) -> float | None:
    """Hypervisor steal as a percent of non-idle time between two
    ``cpu_ticks`` samples."""
    if before is None or after is None:
        return None
    d = [b - a for a, b in zip(before, after)]
    busy = sum(d) - d[3] - d[4]
    return 100.0 * d[7] / busy if busy > 0 else 0.0


def loadavg() -> list[float] | None:
    try:
        return [float(x) for x in os.getloadavg()]
    except OSError:
        return None


def host_facts(spark, heap: str, shuffle_partitions: int) -> dict:
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "nproc": os.cpu_count(),
        "heap": heap,
        "heap_max_mb": int(jvm.java.lang.Runtime.getRuntime().maxMemory()) // 2**20,
        "shuffle_partitions": shuffle_partitions,
        "master": spark.sparkContext.master,
        "spark": pyspark.__version__,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }
