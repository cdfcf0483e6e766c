"""The one plan barrier (:func:`dbt_tpch_spark.functions.barrier`): its
blocks are freed between queries by ``release_barriers``, the graph
operators' edge caches do not outlive their query, and no module cuts a
plan any other way."""

from __future__ import annotations

import pathlib

import pytest
from pyspark.sql import functions as F

from dbt_tpch_spark import functions as fx
from dbt_tpch_spark.plans import Context, import_all_models

ROOT = pathlib.Path(__file__).resolve().parent.parent

import_all_models()


def _digest(df):
    return df.agg(F.max(F.xxhash64(*df.columns))).collect()[0][0]


def _cache_entries(spark) -> int:
    """Entries in the session's CacheManager (``cachedData`` is private in
    Scala, so read it reflectively)."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    return field.get(cm).size()


def test_release_frees_every_recorded_barrier(spark, sf_dir):
    fx.release_barriers(spark)
    names = ("parts_pagerank", "dedup_ppjoin")
    ctx = Context(spark, sf_dir)
    first = {n: _digest(ctx.ref(n)) for n in names}
    recorded = set(fx._BARRIER_RDD_IDS)
    assert recorded, "the queries took no barrier"
    fx.release_barriers(spark)
    held = {
        info.id() for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    }
    assert not recorded & held, sorted(recorded & held)
    assert not fx._BARRIER_RDD_IDS
    # a fresh Context rebuilds every barrier: same rows after the release
    ctx = Context(spark, sf_dir)
    assert {n: _digest(ctx.ref(n)) for n in names} == first


def test_release_forgets_bounded_registrations(spark, sf_dir):
    from dbt_tpch_spark.plans import audit

    e = Context(spark, sf_dir).source("embeddings").select("vec_id")
    capped = fx.barrier(e.orderBy("vec_id").limit(16), bounded=True)
    rdd_id = capped._jdf.queryExecution().logical().rdd().id()
    assert rdd_id in audit._BOUNDED_RDD_IDS
    fx.release_barriers(spark)
    assert rdd_id not in audit._BOUNDED_RDD_IDS


def test_barriers_from_worker_threads_are_all_recorded(spark):
    """Build lanes and the dedup multibatch pool take barriers from worker
    threads: every id must land in the record (lazy barriers run no job)."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    fx.release_barriers(spark)
    frame = spark.range(4)

    def take(_):
        return [
            fx.barrier(frame, eager=False)
            ._jdf.queryExecution()
            .logical()
            .rdd()
            .id()
            for _ in range(4)
        ]

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            futs = [pool.submit(take, i) for i in range(16)]
            taken = {i for f in futs for i in f.result(timeout=120)}
    finally:
        sys.setswitchinterval(interval)
    assert len(taken) == 64
    assert taken <= fx._BARRIER_RDD_IDS


@pytest.mark.parametrize("name", ["parts_kcore", "customers_entity_clusters"])
def test_edge_caches_do_not_outlive_their_query(spark, sf_dir, name):
    """The graph operators cache their edge lists to keep the hash(src)
    layout; the CacheManager pins a cached entry until it is unpersisted,
    so each query must drop its own once the last consumer is
    materialized."""
    before = _cache_entries(spark)
    _digest(Context(spark, sf_dir).ref(name))
    assert _cache_entries(spark) == before


def _engine_sources():
    return {
        p.relative_to(ROOT).as_posix(): p.read_text()
        for p in (ROOT / "dbt_tpch_spark").rglob("*.py")
    }


def test_barrier_is_the_only_local_checkpoint():
    sites = [
        (path, i + 1)
        for path, text in _engine_sources().items()
        for i, line in enumerate(text.splitlines())
        if ".localCheckpoint(" in line
    ]
    assert [p for p, _ in sites] == ["dbt_tpch_spark/functions/__init__.py"]
    assert "localCheckpoint" in fx.barrier.__code__.co_names


def test_retired_gates_are_gone():
    # spelled in pieces so this file does not name them either
    retired = (
        "bounded_" + "checkpoint",
        "_node_" + "state",
        "BROADCAST_STATE_MAX_" + "NODES",
    )
    files = {
        **_engine_sources(),
        **{
            p.relative_to(ROOT).as_posix(): p.read_text()
            for p in (ROOT / "tests").glob("*.py")
        },
    }
    hits = [(p, w) for p, text in files.items() for w in retired if w in text]
    assert not hits, hits


def test_query_drivers_release_barriers():
    import bench
    import profile_queries
    import scale_probe

    for mod in (bench, profile_queries, scale_probe):
        text = pathlib.Path(mod.__file__).read_text()
        assert "from dbt_tpch_spark.functions import release_barriers" in text
        assert "release_barriers(spark)" in text, mod.__name__
