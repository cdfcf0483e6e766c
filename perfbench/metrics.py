"""Pure metric arithmetic for the benchmark: no Spark, no I/O.

Everything here works on plain numbers, span dicts and the status-store
dump that ``trace.dump_status`` returns, so the rules are unit-tested in
isolation (perfbench/tests/test_perfbench_metrics.py).
"""

from __future__ import annotations

import statistics

#: ``op_tail_s`` is the highest percentile that still has at least this
#: many pooled samples above it.
TAIL_MIN_BEYOND = 10


def median(values):
    values = [v for v in values if v is not None]
    return statistics.median(values) if values else 0.0


def tail_percentile(samples, min_beyond: int = TAIL_MIN_BEYOND):
    """(value, percentile, n) of the highest order statistic with at least
    ``min_beyond`` samples strictly above it in sorted order.

    With n samples that is the (n - min_beyond)-th smallest, i.e. the
    ``floor(100 * (n - min_beyond) / n)``-th percentile: p90 at n=100,
    p75 at n=40. Below ``2 * min_beyond`` samples no percentile at or
    above the median qualifies, so the median is returned and labelled
    p50 — the record then says plainly that the run had too few samples
    for a tail."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return 0.0, 0, 0
    if n < 2 * min_beyond:
        return statistics.median(xs), 50, n
    k = n - min_beyond  # 1-based rank of the tail sample
    return xs[k - 1], (100 * k) // n, n


def quartile_spread(values):
    """(q1, median, q3, (q3 - q1) / median) exactly as
    ``statistics.quantiles(values, n=4)`` gives the quartiles."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3, ((q3 - q1) / q2 if q2 else float("inf"))


# ---------------------------------------------------------------- spans


def _covered(intervals) -> float:
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans) -> dict:
    """{span id: self seconds}: a span's duration minus the time its
    direct children cover. Children are clipped to the parent and their
    overlaps counted once, so concurrent children (worker threads) never
    drive a self time negative."""
    kids: dict = {}
    for s in spans:
        if s.get("parent") is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        clipped = [
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in kids.get(s["id"], ())
            if c["end"] > s["start"] and c["start"] < s["end"]
        ]
        out[s["id"]] = (s["end"] - s["start"]) - _covered(clipped)
    return out


# ------------------------------------------------------- spark counters

#: stage fields summed per span; units as the status store reports them
STAGE_FIELDS = (
    "numTasks",
    "executorRunTime",  # ms
    "executorCpuTime",  # ns
    "jvmGcTime",  # ms
    "shuffleWriteBytes",
    "shuffleReadBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
    "inputBytes",
    "inputRecords",
)


def stage_owners(jobs: dict) -> dict:
    """{stage id: id of the job that ran it}. A stage listed by several
    jobs was computed by the first of them and skipped by the rest (stage
    ids are allocated when a job is submitted, and later jobs only reuse
    finished stages), so the smallest job id owns it."""
    owner: dict = {}
    for job_id in sorted(jobs):
        for sid in jobs[job_id]:
            owner.setdefault(sid, job_id)
    return owner


def attribute(job_lo: int, job_hi: int, jobs: dict, stages: dict) -> dict:
    """Spark counters of every job whose id lies in ``[job_lo, job_hi)``.

    Job ids come from one scheduler-wide counter, so the range taken from
    the counter at a span's start and end holds every job submitted
    during the span — from any thread. That is what job groups miss: a
    group is a thread-local property, and ``build_warehouse`` and the
    multi-batch dedup submit jobs from worker threads.

    ``jobs`` maps job id to its stage ids; ``stages`` maps stage id to a
    dict of STAGE_FIELDS summed over the stage's attempts (skipped stages
    absent). Returns jobs / stages / the summed fields."""
    owner = stage_owners(jobs)
    in_range = [j for j in jobs if job_lo <= j < job_hi]
    totals = {f: 0 for f in STAGE_FIELDS}
    n_stages = 0
    for sid, j in owner.items():
        if job_lo <= j < job_hi and sid in stages:
            n_stages += 1
            for f in STAGE_FIELDS:
                totals[f] += stages[sid].get(f, 0) or 0
    return {"jobs": len(in_range), "stages": n_stages, **totals}


def core_util(task_busy_s: float, wall_s: float, cores: int) -> float:
    """Task busy time over the capacity the wall offered: 1.0 means every
    core ran a task for the whole wall."""
    return task_busy_s / (wall_s * cores) if wall_s > 0 and cores else 0.0


# ------------------------------------------------------------ warehouse


def level_tables(timings: dict) -> list[list[str]]:
    """Split ``build_warehouse(timings=...)`` per-table rows into levels.

    A table's row is inserted when its write finishes, and a level starts
    only after the previous one finished, so insertion order groups the
    tables by level; ``timings["levels"]`` gives each level's size."""
    names = list(timings.get("tables", {}))
    out, i = [], 0
    for lvl in timings.get("levels", []):
        out.append(names[i : i + lvl["n_tables"]])
        i += lvl["n_tables"]
    return out


def lane_idle_s(timings: dict, lanes: int) -> float:
    """Sum over levels of (level wall x lanes - that level's table walls):
    lane time the level's schedule left unused."""
    tables = timings.get("tables", {})
    idle = 0.0
    for lvl, names in zip(timings.get("levels", []), level_tables(timings)):
        idle += lvl["sec"] * lanes - sum(tables[n] for n in names)
    return idle
