"""Tests of the benchmark's own metric code and input generator (no Spark).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import os
import statistics
import subprocess
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import inputs  # noqa: E402
from perfbench import metrics as M  # noqa: E402

# ------------------------------------------------------------------ tail


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    xs = list(range(1, 101))  # 1..100
    value, pct, n = M.tail_percentile(xs[::-1])  # input order is irrelevant
    assert (value, pct, n) == (90, 90, 100)
    assert sum(1 for x in xs if x > value) == 10


def test_tail_percentile_moves_with_sample_count():
    value, pct, n = M.tail_percentile([float(i) for i in range(40)])
    assert (pct, n) == (75, 40)
    assert sum(1 for i in range(40) if i > value) == 10


def test_tail_falls_back_to_a_labelled_median_below_twenty_samples():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert M.tail_percentile(xs) == (3.0, 50, 5)
    assert M.tail_percentile([]) == (0.0, 0, 0)


def test_quartile_spread_uses_statistics_quantiles():
    vals = [10.0, 11.0, 9.0, 10.5, 10.2, 9.8, 10.1, 10.4, 9.9, 10.3]
    q1, q2, q3, spread = M.quartile_spread(vals)
    assert [q1, q2, q3] == statistics.quantiles(vals, n=4)
    assert spread == pytest.approx((q3 - q1) / q2)


# ----------------------------------------------------------------- spans


def _span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_children_once_and_clips_them():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 3.0),
        _span(2, 0, 2.0, 5.0),  # overlaps span 1: [1, 5] covered once
        _span(3, 0, 8.0, 12.0),  # runs past the parent: clipped to [8, 10]
        _span(4, 1, 1.5, 2.5),  # grandchild: only span 1's self time
    ]
    st = M.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st[1] == pytest.approx(2.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)


def test_self_time_of_a_leaf_is_its_duration():
    assert M.self_times([_span(0, None, 2.0, 2.5)]) == {0: 0.5}


# ----------------------------------------------------- job attribution


def _stage(tasks, cpu_ns):
    s = {f: 0 for f in M.STAGE_FIELDS}
    s.update(numTasks=tasks, executorCpuTime=cpu_ns)
    return s


def test_job_range_attribution_counts_each_stage_once():
    # job 4 re-uses (skips) stage 10, which job 3 ran
    jobs = {3: [10, 11], 4: [10, 12], 5: [13]}
    stages = {10: _stage(4, 100), 11: _stage(1, 10), 12: _stage(2, 20), 13: _stage(8, 800)}
    assert M.stage_owners(jobs)[10] == 3
    a = M.attribute(3, 5, jobs, stages)
    assert (a["jobs"], a["stages"], a["numTasks"], a["executorCpuTime"]) == (2, 3, 7, 130)
    b = M.attribute(4, 6, jobs, stages)
    assert (b["jobs"], b["stages"], b["executorCpuTime"]) == (2, 2, 820)


def test_job_range_attribution_includes_worker_thread_jobs():
    # A span holds the scheduler's job counter at its start (7) and end
    # (11). Jobs 8 and 9 came from worker threads with no job group of the
    # span's thread; the id range still attributes them.
    job_group = {7: "span", 8: None, 9: None, 10: "span", 11: "next"}
    jobs = {j: [100 + j] for j in job_group}
    stages = {100 + j: _stage(1, 1000 * j) for j in job_group}
    by_range = M.attribute(7, 11, jobs, stages)
    by_group = [j for j, g in job_group.items() if g == "span"]
    assert by_range["jobs"] == 4 and len(by_group) == 2
    assert by_range["executorCpuTime"] == 1000 * (7 + 8 + 9 + 10)


# ------------------------------------------------------------- warehouse


def test_levels_and_lane_idle_from_build_timings():
    timings = {
        "tables": {"a": 1.0, "b": 2.0, "c": 3.0, "d": 4.0, "e": 0.5},
        "levels": [{"n_tables": 3, "sec": 3.2}, {"n_tables": 2, "sec": 4.1}],
    }
    assert M.level_tables(timings) == [["a", "b", "c"], ["d", "e"]]
    assert M.lane_idle_s(timings, 4) == pytest.approx((3.2 * 4 - 6.0) + (4.1 * 4 - 4.5))


def test_core_util():
    assert M.core_util(8.0, 4.0, 4) == pytest.approx(0.5)
    assert M.core_util(1.0, 0.0, 4) == 0.0


# ------------------------------------------------------------------- cpu


def test_process_tree_cpu_counts_live_and_exited_children():
    # a process's CPU counts its live children (the JVM's Python workers)
    # and, once reaped, its exited ones
    from perfbench.trace import _tree_cpu_s

    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.6: pass\n"
    before = _tree_cpu_s(os.getpid())
    child = subprocess.Popen([sys.executable, "-c", burn + "time.sleep(30)"])
    try:
        deadline = time.time() + 20
        while _tree_cpu_s(os.getpid()) - before < 0.5 and time.time() < deadline:
            time.sleep(0.1)
        assert _tree_cpu_s(os.getpid()) - before >= 0.5
    finally:
        child.kill()
        child.wait()
    assert _tree_cpu_s(os.getpid()) - before >= 0.5


# ------------------------------------------------------------- generator


def _tree_digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    inputs.generate("txn_ingest", 3, str(tmp_path / "a"))
    inputs.generate("txn_ingest", 3, str(tmp_path / "b"))
    assert _tree_digest(tmp_path / "a") == _tree_digest(tmp_path / "b")


def test_other_seed_changes_layout_not_content(tmp_path):
    inputs.generate_corpus(3, str(tmp_path / "a"))
    inputs.generate_corpus(4, str(tmp_path / "b"))
    assert _tree_digest(tmp_path / "a") != _tree_digest(tmp_path / "b")
    for t in inputs.TABLES:
        a = pq.read_table(str(tmp_path / "a" / f"{t}.parquet"))
        b = pq.read_table(str(tmp_path / "b" / f"{t}.parquet"))
        src = inputs.read_source(t)
        key = [(f.name, "ascending") for f in src.schema if not pa.types.is_list(f.type)]
        assert a.sort_by(key).equals(src.sort_by(key))
        assert b.sort_by(key).equals(src.sort_by(key))


def test_txn_log_updates_only_keys_loaded_before_the_step(tmp_path):
    log = inputs.generate_txn_log(5, str(tmp_path))
    for i, step in enumerate(log["steps"]):
        batch = pq.read_table(str(tmp_path / f"append_{i}.parquet"))
        upd = pq.read_table(str(tmp_path / f"update_{i}.parquet"))
        lo = min(batch.column("o_orderkey").to_pylist())
        assert max(upd.column("o_orderkey").to_pylist()) < lo
        assert step["delete_keys"][1] < lo
        assert step["append_keys"] == [lo, max(batch.column("o_orderkey").to_pylist())]
