"""Model registry + lazy materializer — the engine's equivalent of dbt's
Jinja-compile + DAG scheduler (reference: dbt_project.yml:26-40, layer
materializations; README.md:9-13, layer DAG).

A *model* is a pure function ``Context -> DataFrame`` registered with a name,
layer, and materialization. ``ref()``/``source()`` mirror dbt's functions
(reference call shape: models/ods/orders_items.sql:8,13):

* ``ephemeral``  (all of base/)          -> plain function composition;
  Catalyst inlines the subplan exactly like dbt inlines base models as CTEs
  (dbt_project.yml:29-30).
* ``view``       (intermediate/)         -> lazy, memoized DataFrame.
* ``table``      (ods/wh/metrics/reports)-> a real optimization boundary in
  the reference (CREATE TABLE AS, dbt_project.yml:31-40). ``ref()`` keeps
  composing it lazily (best for single-query runs — Catalyst prunes columns
  across the whole DAG); ``warehouse.build_warehouse`` is the faithful CTAS
  (what a 100 TB deployment does per layer): it writes every table model
  through ``warehouse.write_table`` and downstream models read the written
  artifacts.
"""

from __future__ import annotations

import dataclasses
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from dbt_tpch_spark.sources import read_table

#: engine config vars (reference: dbt_project.yml:42-43 + housekeeping
#: constants injected at compile time by dbt, fixed here for oracle parity).
DEFAULT_VARS = {
    "max_ship_date": "1998-12-01",
    "batch_id": "spark-graft-batch-0",
    "batch_ts": "2026-01-01 00:00:00",
}


@dataclasses.dataclass(frozen=True)
class ModelSpec:
    name: str
    layer: str
    materialization: str  # ephemeral | view | table
    fn: Callable[["Context"], DataFrame]


MODELS: dict[str, ModelSpec] = {}

#: temp views Context.sql registered itself: view name -> weakref to the
#: owning Context. Lets a later Context (different sf_dir/vars) rebind
#: them without ever touching user-created views.
_ENGINE_VIEWS: dict = {}


def model(name: str, layer: str, materialization: str = "view"):
    def decorator(fn: Callable[["Context"], DataFrame]):
        MODELS[name] = ModelSpec(name, layer, materialization, fn)
        return fn

    return decorator


class Context:
    """Resolution context handed to every model function."""

    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str,
        variables: dict | None = None,
        warehouse_dir: str | None = None,
    ):
        self.spark = spark
        self.sf_dir = sf_dir
        self.vars = {**DEFAULT_VARS, **(variables or {})}
        self.warehouse_dir = warehouse_dir
        self._built: dict[str, DataFrame] = {}
        # build_warehouse writes tables from worker threads; the lock keeps
        # ref() memoization single-writer (DataFrames themselves are
        # immutable, so races would only waste plan construction)
        import threading

        self._lock = threading.RLock()

    def source(self, name: str) -> DataFrame:
        return read_table(self.spark, self.sf_dir, name)

    def var(self, key: str):
        return self.vars[key]

    def ref(self, name: str) -> DataFrame:
        with self._lock:
            if name not in self._built:
                self._built[name] = MODELS[name].fn(self)
            return self._built[name]

    def sql(self, query: str) -> DataFrame:
        """Run ad-hoc Spark SQL against the model catalog — the interface a
        user of the reference actually has (their warehouse speaks SQL over
        dbt-materialized tables). Model/source names the query references
        are exposed as temp views on demand (models stay lazy: registering
        a view just names the unexecuted plan, so Catalyst still prunes/
        pushes through model boundaries exactly as with ``ref()``
        composition).

        Name resolution is analyzer-driven: the query is analyzed as-is and
        only a genuinely unresolved relation whose name matches a model or
        source gets a view (then the analysis retries). A model name inside
        a string literal or comment is never registered — so mentioning a
        checkpoint-eager model in a comment no longer builds it — and a
        user's existing temp view with the same name resolves first and is
        never clobbered (only views this engine registered itself are ever
        replaced, and only when a different Context — e.g. another sf_dir —
        takes over)."""
        from pyspark.errors import AnalysisException

        from dbt_tpch_spark.sources import TABLES

        # a view registered by a PREVIOUS Context must not satisfy this
        # context's query (it would pin the old sf_dir/vars): drop it and
        # let the lazy re-registration below rebind only what's referenced.
        # If the user has since REPLACED the view with their own, cede
        # ownership and leave it alone (sameResult check against the plan
        # we registered).
        with self._lock:
            for vname, (owner, jplan) in list(_ENGINE_VIEWS.items()):
                if owner() is self:
                    continue
                del _ENGINE_VIEWS[vname]
                try:
                    cur = (
                        self.spark.table(vname)
                        ._jdf.queryExecution()
                        .analyzed()
                    )
                    still_ours = cur.sameResult(jplan)
                except Exception:
                    still_ours = False
                if still_ours:
                    self.spark.catalog.dropTempView(vname)

        tried: set[str] = set()
        while True:
            try:
                return self.spark.sql(query)
            except AnalysisException as exc:
                cls = (
                    exc.getCondition()
                    if hasattr(exc, "getCondition")
                    else exc.getErrorClass()
                ) or ""
                params = exc.getMessageParameters() or {}
                name = (
                    (params.get("relationName") or "")
                    .strip("`")
                    .split("`.`")[-1]
                )
                if (
                    not cls.startswith("TABLE_OR_VIEW_NOT_FOUND")
                    or not name
                    or name in tried
                ):
                    raise
                tried.add(name)
                with self._lock:
                    if name in MODELS:
                        vdf = self.ref(name)
                    elif name in TABLES:
                        vdf = self.source(name)
                    else:
                        raise
                    vdf.createOrReplaceTempView(name)
                    import weakref

                    _ENGINE_VIEWS[name] = (
                        weakref.ref(self),
                        vdf._jdf.queryExecution().analyzed(),
                    )

    def audit(self, name: str) -> dict:
        """Physical-plan audit of a model: shuffle count, scan columns and
        pushed filters, broadcasts, unpartitioned-window offenders — the
        scale-review facts as data (see plans/audit.py)."""
        from dbt_tpch_spark.plans.audit import audit_plan

        return audit_plan(self.ref(name))


def import_all_models() -> None:
    """Import every model module so the registry is populated."""
    from dbt_tpch_spark import models  # noqa: F401

    models.load_all()
