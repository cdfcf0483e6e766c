"""Table-level lineage over the model DAG — dbt's `docs`/`list
--select +model+` answered as data: which sources and models feed a
model, what depends on it, and a topologically-ordered impact set for a
change. The edges come from the declared dependency registry (the same
deps the oracle resolver and build_warehouse already trust), so lineage,
correctness checking, and the DAG scheduler can never disagree.

Scale note: this is pure driver-side metadata (a few hundred nodes) —
no Spark jobs.
"""

from __future__ import annotations


def _deps() -> dict[str, tuple[str, ...]]:
    from dbt_tpch_spark.models.oracle import ORACLE
    from dbt_tpch_spark.plans import MODELS, import_all_models

    import_all_models()
    # models without an oracle entry (none today) contribute no edges
    return {n: ORACLE.get(n, ((), ""))[0] for n in MODELS}


def upstream(name: str) -> dict[str, set[str]]:
    """Transitive inputs of ``name``, split into raw ``sources`` and
    ``models`` (the dbt `+model` selector)."""
    from dbt_tpch_spark.models.oracle import SOURCE_TABLES

    deps = _deps()
    if name not in deps:
        raise KeyError(f"unknown model {name!r}")
    sources: set[str] = set()
    models: set[str] = set()
    stack = list(deps[name])
    while stack:
        d = stack.pop()
        if d in SOURCE_TABLES:
            sources.add(d)
        elif d not in models:
            models.add(d)
            stack.extend(deps.get(d, ()))
    return {"sources": sources, "models": models}


def downstream(name: str) -> set[str]:
    """Every model that (transitively) reads ``name`` — the impact set of
    changing it (the dbt `model+` selector). ``name`` may be a raw source
    table or a model."""
    deps = _deps()
    out: set[str] = set()
    changed = True
    while changed:
        changed = False
        for m, ds in deps.items():
            if m not in out and any(d == name or d in out for d in ds):
                out.add(m)
                changed = True
    return out


def to_dot(root: str | None = None) -> str:
    """Graphviz DOT text of the lineage graph (whole DAG, or the
    upstream+downstream neighborhood of ``root``)."""
    from dbt_tpch_spark.models.oracle import SOURCE_TABLES

    deps = _deps()
    if root is None:
        keep = set(deps)
    else:
        up = upstream(root)
        keep = {root} | up["models"] | downstream(root)
    lines = ["digraph lineage {", "  rankdir=LR;"]
    srcs = set()
    for m in sorted(keep):
        for d in deps.get(m, ()):
            if d in SOURCE_TABLES:
                srcs.add(d)
                lines.append(f'  "{d}" -> "{m}";')
            elif d in keep:
                lines.append(f'  "{d}" -> "{m}";')
    for s in sorted(srcs):
        lines.append(f'  "{s}" [shape=cylinder];')
    lines.append("}")
    return "\n".join(lines)
