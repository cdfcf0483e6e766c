"""bench.py's stdout record must ALWAYS fit the driver's ~1.8 KB stdout
tail capture (VERDICT r8 #7 fixed the overflow; VERDICT r9 #8 + round-9
ADVICE demand the budget be ASSERTED, not assumed — the record grows with
every headline query and error lists are unbounded on failing rounds).
The compact key set is pinned exactly, and the profiling tools must
share bench's one status-store walk.

Pure-Python: no SparkSession, no testdata.
"""

from __future__ import annotations

import json

import bench


#: the compact stdout record of a healthy round, exactly: its parser
#: reads these keys, and full-record-only fields must not leak in
COMPACT_KEYS = {
    "metric",
    "value",
    "unit",
    "queries",
    "sf",
    "n_queries",
    "n_failed",
    "solo",
    "stable20_subtotal_sec",
    "full_dag_build_sec",
    "full_dag_tables",
    "effective_cores",
    "steal_pct",
    "full_record",
}


def _record(n_queries: int, n_error_queries: int, n_setup_errors: int) -> dict:
    errors = {
        f"events_operator_query_{i:03d}": "traceback tail"
        for i in range(n_error_queries)
    }
    errors.update(
        {f"_setup_step_{i}": "traceback tail" for i in range(n_setup_errors)}
    )
    rec = {
        "metric": "headline_queries_total_sec",
        "value": None if errors else 123.456,
        "unit": "sec",
        "queries": {
            f"events_operator_query_{i:03d}": 12.345
            for i in range(n_queries)
        },
        "sf": 0.1,
        "n_queries": n_queries,
        "n_failed": n_error_queries,
        "solo": True,
        "stable20_subtotal_sec": 64.5,
        "full_dag_build_sec": 43.6,
        "full_dag_tables": 50,
        "effective_cores": 20.1,
        "steal_pct": 1.1,
    }
    if errors:
        rec["errors"] = errors
    return rec


def test_healthy_round_fits_budget_untruncated():
    # pin the LIVE headline NAMES (35 at round 11) so growth that would
    # overflow the driver's stdout tail capture fails here first. Real
    # names, not synthetic ones: the budget is spent on actual name
    # bytes, so this is the enforcement point for "keep headline names
    # short" — at 35 queries the old 22-char synthetic names would
    # overflow while the live set fits with ~200 B headroom.
    n = len(bench.HEADLINE)
    assert n >= 31
    rec = _record(n, 0, 0)
    rec["queries"] = {name: 12.345 for name in bench.HEADLINE}
    c = bench.compact_record(rec, "/x/BENCH_LAST_FULL.json")
    assert len(json.dumps(c)) <= bench._COMPACT_BUDGET
    assert "queries" in c and len(c["queries"]) == n
    assert "error_queries" not in c


def test_failing_round_truncates_error_lists_before_queries():
    c = bench.compact_record(_record(35, 30, 6), "/x/BENCH_LAST_FULL.json")
    assert len(json.dumps(c)) <= bench._COMPACT_BUDGET
    assert c["error_queries"] == sorted(
        f"events_operator_query_{i:03d}" for i in range(30)
    )[:5]
    assert c["error_queries_elided"] == 25
    # per-query walls survive as long as the truncated record fits
    assert "queries" in c or c.get("queries_elided_see_full_record")


def test_pathological_round_always_fits():
    """Worst realistic shape: a huge headline set AND mass failure —
    the record must still parse and carry counts + the sidecar pointer."""
    c = bench.compact_record(_record(120, 120, 10), "/x/BENCH_LAST_FULL.json")
    assert len(json.dumps(c)) <= bench._COMPACT_BUDGET
    assert c["n_queries"] == 120 and c["n_failed"] == 120
    assert c["full_record"] == "/x/BENCH_LAST_FULL.json"
    assert c.get("queries_elided_see_full_record") is True


def test_compact_keys_are_stable():
    """The driver-side parser reads these keys; renames are breaking."""
    c = bench.compact_record(_record(5, 0, 0), None)
    for key in COMPACT_KEYS:
        assert key in c, key


def test_healthy_compact_record_has_exact_key_set():
    """A healthy full record, with its full-record-only fields, projects
    to exactly COMPACT_KEYS."""
    rec = _record(len(bench.HEADLINE), 0, 0)
    rec.update(
        {
            "queries": {n: 12.345 for n in bench.HEADLINE},
            "queries_cpu_sec": {n: 1.0 for n in bench.HEADLINE},
            "queries_steal_pct": {n: 0.5 for n in bench.HEADLINE},
            "dag_tables": {"fct_orders": 1.0},
            "dag_levels": [1.0],
            "setup_split_sec": 2.0,
            "loadavg_before": [0.1, 0.1, 0.1],
            "loadavg_after": [0.2, 0.2, 0.2],
            "calib_sec": 1.0,
            "calib32_sec": 1.5,
        }
    )
    c = bench.compact_record(rec, "/x/BENCH_LAST_FULL.json")
    assert set(c) == COMPACT_KEYS


def test_full_record_keeps_process_cpu_per_query():
    """The full record carries process-level CPU per query beside the
    executor stage sums; it stays out of the compact stdout record, and
    the /proc reader covers the given process and the driver."""
    import os
    import time

    assert "queries_proc_cpu_sec" in bench.main.__code__.co_consts
    rec = _record(5, 0, 0)
    rec["queries_proc_cpu_sec"] = {n: 2.0 for n in rec["queries"]}
    assert "queries_proc_cpu_sec" not in bench.compact_record(rec, None)

    driver = time.process_time()
    own = bench._process_cpu_sec(os.getpid())
    # this process counted as the "JVM" plus itself as the driver
    assert own is not None and own >= 2 * driver - 0.05
    assert bench._process_cpu_sec(None) is None


def test_tools_share_the_one_status_store_walk():
    """profile_queries.py and scale_probe.py import the stage walk from
    bench; a rename there must fail here. And the walk exists once: no
    other module outside perfbench/ calls the status store's stageList."""
    import pathlib

    import profile_queries
    import scale_probe

    assert profile_queries.retained_stages is bench.retained_stages
    assert profile_queries.stage_totals is bench.stage_totals
    assert scale_probe.stage_totals is bench.stage_totals

    root = pathlib.Path(bench.__file__).resolve().parent
    callers = [
        p.relative_to(root).as_posix()
        for p in [*root.glob("*.py"), *root.glob("dbt_tpch_spark/**/*.py")]
        if ".stageList(" in p.read_text()
    ]
    assert callers == ["bench.py"]
    assert bench.retained_stages.__code__.co_names.count("stageList") == 1
