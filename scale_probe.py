"""Empirical 10x scale probe (VERDICT r9 #1).

The repo's 100 TB posture rested on STRUCTURAL evidence: three CI plan
invariants (unpartitioned windows, ungated broadcasts, unbounded pair
stages) that walk every query plan. This probe adds MEASURED evidence:
build a deterministic 10x replica of the sf0.1 corpus, run the most
expensive queries plus the pair-stage family at 1x and 10x, and record
wall, executor CPU, and shuffle-write bytes at both scales. A query whose
wall grows superlinearly beyond the log factor (ratio > ~13x for a 10x
input) is a scale bug regardless of what the plan shape claims.

Corpus construction (deterministic, seedless):
- Every fact/entity table is unioned ``replicas`` times with per-replica
  key shifts that PRESERVE FK consistency (replica k's lineitem references
  replica k's orders/parts/suppliers), so joins behave like a corpus that
  actually grew instead of degenerating into key collisions.
- ``documents.text`` gets a per-replica suffix appended to EVERY token
  (an injective token rename). Within a replica, shingle-set Jaccard is
  EXACTLY preserved (the dup/near-dup structure replicates); across
  replicas every 3-gram shingle differs, so replicas are not near-dups of
  each other — without this, a 10x corpus would plant ~45 artificial
  cross-replica dup pairs per document and the pair stage would measure a
  fake quadratic workload, not scale-up.
- ``events`` keeps its time range (user/event ids shift): a 10x corpus
  means 10x denser traffic over the same window — the realistic growth
  mode for a telemetry table, and the one that stresses per-hour grids.
- region/nation stay single-copy (fixed dimensions at any SF).
- The 1x baseline is replica 0 alone WRITTEN THROUGH THE SAME PIPELINE
  (same token transform, same multi-file layout), so 1x vs 10x differ
  only in scale, never in format.

Recall leg (round 11, VERDICT r10 #1): the cost probe cannot see recall —
the round-10 adaptive band width bounds cost by design, so the residual
failure mode is silent recall decay at scale. plant_recall_fixtures builds
a SIBLING corpus per scale point (symlinks + planted near-dup pairs at
known cosine/Jaccard tiers appended to embeddings/documents) and
measure_recall records the fraction of planted pairs each LSH dedup head
finds at 1x and Nx; any tier below RECALL_FLOOR lands in
``recall_below_floor``. The cost corpus stays unplanted, so wall/CPU
numbers remain comparable across rounds.

Usage: python scale_probe.py [--replicas 10] [--runs 2] [--skip-recall]
Writes SCALE_PROBE_LAST.json; the per-round record is copied to
SCALE_PROBE_r{N}.json and adjudicated in PLANS.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import time

from pyspark.sql import functions as F

from bench import _calibrate, _cpu_ticks, _loadavg, _steal_pct, stage_totals

#: queries the probe measures: the round-9 top-5 by solo wall, plus the
#: pair-stage family the verdict names, plus the full-LSH head.
PROBE_QUERIES = [
    "parts_pagerank",
    "parts_neighbor_similarity",
    "customer_rfm_segments",
    "dedup_ppjoin",
    "events_gapfill_hourly",
    "dedup_minhash_lsh",
    # extended coverage: the other pair-stage/window families with
    # scale-sensitive shapes (substring winnowing, banded sign-LSH over
    # embeddings, gap-based sessionization)
    "docs_winnow_dups",
    "dedup_embedding_cosine",
    "events_session_30m",
    # round-11 (VERDICT r10 #2): the remaining top-CPU bench queries with
    # no measured exponent — ADC scan, window-family report, per-doc
    # n-gram repetition, Gram-matrix PCA, and the 3-commit TxnTable
    # ingest-dedup cycle end-to-end
    "ann_pq_adc_topk",
    "rpt_minimum_cost_suppliers_adapted",
    "doc_repetition_stats",
    "embeddings_pca_variance",
    "dedup_multibatch_txn",
    # round-11 new operator: positional dup spans claims NO pair stage
    # (strictly linear) — measure the claim like the others
    "docs_dup_spans",
    # round-11: the excision rewrite shares dup_spans' census/islands but
    # adds the checkpointed span materialization + token-cut + reassembly
    "docs_excise_spans",
    # round-12 (VERDICT r11 #8): the round-11 in-row basket expansion —
    # prove the per-order C(basket,2) fan-out stays linear in orders
    # (replicated corpora repeat the ≤7-item TPC-H basket distribution;
    # the >7-item skew tail is pinned separately in tests/test_skew.py)
    "int_market_basket",
]


def max_ok_ratio(replicas: int) -> float:
    """Superlinear gate, scaled to the probe size: an N-replica input may
    cost up to N x a 1.3 log-factor (13x at the canonical 10x probe);
    beyond this the query is adjudicated or fixed. Round-11 ADVICE: the
    former fixed 13.0 would have passed a clearly quadratic 4x run."""
    return round(1.3 * replicas, 2)

_KEYED = {
    "customer": {"c_custkey": "cust"},
    "supplier": {"s_suppkey": "supp"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "order", "o_custkey": "cust"},
    "lineitem": {
        "l_orderkey": "order",
        "l_partkey": "part",
        "l_suppkey": "supp",
    },
    "events": {"event_id": "event", "user_id": "user"},
    "documents": {"doc_id": "doc"},
    "embeddings": {"vec_id": "vec"},
}
_DIMS = ("region", "nation")


def _offsets(spark, src_dir: str) -> dict[str, int]:
    """Per-key-domain shift: next power of 10 above the max key, so
    replica ids never collide and stay human-readable in debugging."""
    offs: dict[str, int] = {}
    for table, cols in _KEYED.items():
        df = spark.read.parquet(f"{src_dir}/{table}.parquet")
        for col, domain in cols.items():
            mx = df.agg(F.max(col)).first()[0] or 0
            need = 10 ** math.ceil(math.log10(max(int(mx) + 1, 10)))
            offs[domain] = max(offs.get(domain, 0), need)
    return offs


def build_scaled_corpus(
    spark, src_dir: str, out_dir: str, replicas: int, n_files: int = 32
) -> None:
    """Write the deterministic ``replicas``x corpus (see module docstring)."""
    # the per-replica orthogonal map (Walsh signs on i & k + rotation by
    # 6k mod 64) cycles back to the IDENTITY at k=64 — replica 64 would be
    # an exact copy of replica 0 and plant the cross-replica dups the
    # transform exists to prevent; fail loudly instead
    if replicas > 64:
        raise ValueError(
            "build_scaled_corpus supports at most 64 replicas (the "
            "embedding decorrelation map cycles at k=64)"
        )
    offs = _offsets(spark, src_dir)
    for table, cols in _KEYED.items():
        src = spark.read.parquet(f"{src_dir}/{table}.parquet")
        parts = []
        for k in range(replicas):
            rep = src
            for col, domain in cols.items():
                rep = rep.withColumn(
                    col, (F.col(col) + F.lit(k * offs[domain])).cast("long")
                )
            if table == "documents":
                # injective per-replica token rename: within-replica
                # Jaccard exactly preserved, cross-replica ~0
                rep = rep.withColumn(
                    "text", F.regexp_replace("text", r"(\S+)", f"$1x{k}")
                ).withColumn("n_chars", F.length("text").cast("long"))
            if table == "embeddings":
                # per-replica ORTHOGONAL transform (Walsh sign flips +
                # coordinate rotation): within-replica cosines preserved
                # EXACTLY, cross-replica copies decorrelated — otherwise
                # every vector ships 9 exact duplicates and the sign-LSH
                # pair stage measures a planted quadratic workload, not
                # scale-up (same reasoning as the documents token rename).
                # k=0 is the identity, so the 1x baseline is untouched.
                dim = 64
                signs = [
                    1.0 if bin(i & k).count("1") % 2 == 0 else -1.0
                    for i in range(dim)
                ]
                rot = (6 * k) % dim
                emb = F.col("embedding")
                if rot:
                    emb = F.concat(
                        F.slice(emb, rot + 1, dim - rot), F.slice(emb, 1, rot)
                    )
                rep = rep.withColumn(
                    "embedding",
                    F.zip_with(
                        emb,
                        F.array(*[F.lit(s) for s in signs]),
                        lambda x, s: (x * s).cast("float"),
                    ),
                )
            parts.append(rep)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.repartition(n_files).write.mode("overwrite").parquet(
            f"{out_dir}/{table}.parquet"
        )
    for t in _DIMS:
        shutil.copyfile(f"{src_dir}/{t}.parquet", f"{out_dir}/{t}.parquet")


# --------------------------------------------------------------------------
# recall leg (VERDICT r10 #1): the cost probe measures wall/CPU/shuffle at
# scale; the round-10 band-width fix moved the embedding-dedup failure mode
# from cost to RECALL, which was asserted analytically. This leg measures
# it: plant near-dup pairs at known similarity tiers into a SIBLING corpus
# (symlinks + appended rows — the cost corpus stays unplanted and
# cross-round comparable), run the two LSH dedup heads, and record the
# fraction of planted pairs each finds at 1x and Nx.
# --------------------------------------------------------------------------

#: embedding tiers: exact target cosines (w = c*v + sqrt(1-c^2)*u, u ⊥ v).
RECALL_COSINE_TIERS = (0.90, 0.95, 0.99)
#: MinHash tiers as (shared_prefix_tokens, doc_tokens): B keeps the first
#: p of A's m tokens and replaces the tail with fresh ones, so shingle
#: Jaccard is exactly (p-2) / (2(m-2) - (p-2)) — tiers 0.9048 / 0.9512 /
#: 1.0 (exact dup), all comfortably above the 0.5 verify threshold and
#: with (4x4)-LSH design recall 0.988 / 0.9989 / 1.0.
RECALL_JACCARD_TIERS = ((40, 42), (41, 42), (42, 42))
RECALL_PAIRS_PER_TIER = 64  # 64 pairs/tier: binomial sigma ~0.04 at the
#: 0.90-cosine tier's 32x analytic recall (0.898) — enough resolution to
#: distinguish "tracks analytic" from a floor breach at the widest width
#: pinned floor (VERDICT r10 #1 wording): measured recall on every planted
#: tier must stay >= this at BOTH scales.
RECALL_FLOOR = 0.8
#: planted ids start here — far above any replicated key domain, so
#: membership checks are a cheap id-range filter.
RECALL_ID_BASE = 10**12


def _jaccard_for_tier(prefix: int, m: int) -> float:
    shared = prefix - 2 if prefix < m else m - 2
    return round(shared / (2 * (m - 2) - shared), 6)


def plant_recall_fixtures(spark, base_dir: str, out_dir: str) -> dict:
    """Build the recall corpus next to ``base_dir``: every table symlinks
    to the base corpus except documents/embeddings, which are rewritten
    with RECALL_PAIRS_PER_TIER planted near-dup pairs per tier appended.
    Deterministic (fixed RandomState; token vocab keyed by tier/pair).
    Returns {"cosine": {tier: [(id_a, id_b), ...]}, "jaccard": {...}}."""
    import numpy as np
    import pandas as pd

    from dbt_tpch_spark.sources import TABLES

    os.makedirs(out_dir, exist_ok=True)
    for t in TABLES:
        if t not in ("documents", "embeddings"):
            dst = f"{out_dir}/{t}.parquet"
            if not os.path.exists(dst):
                os.symlink(f"{base_dir}/{t}.parquet", dst)

    planted: dict[str, dict] = {"cosine": {}, "jaccard": {}}
    rng = np.random.RandomState(110)
    dim = 64

    # embeddings: pairs of fresh unit vectors at EXACT target cosine
    emb = spark.read.parquet(f"{base_dir}/embeddings.parquet")
    rows = []
    next_id = RECALL_ID_BASE
    for c in RECALL_COSINE_TIERS:
        pairs = []
        for _ in range(RECALL_PAIRS_PER_TIER):
            v = rng.randn(dim)
            v /= np.linalg.norm(v)
            u = rng.randn(dim)
            u -= u.dot(v) * v
            u /= np.linalg.norm(u)
            w = c * v + math.sqrt(1.0 - c * c) * u
            rows.append((next_id, v))
            rows.append((next_id + 1, w))
            pairs.append((next_id, next_id + 1))
            next_id += 2
        planted["cosine"][str(c)] = pairs
    pdf = pd.DataFrame(
        {
            "vec_id": [r[0] for r in rows],
            "embedding": [np.asarray(r[1], dtype=np.float32) for r in rows],
        }
    )
    pad = {
        f.name: f.dataType.simpleString()
        for f in emb.schema.fields
        if f.name not in pdf.columns
    }
    planted_emb = spark.createDataFrame(
        pdf, schema="vec_id long, embedding array<float>"
    )
    for name, typ in pad.items():  # corpus extras (e.g. label): neutral fill
        planted_emb = planted_emb.withColumn(name, F.lit(0).cast(typ))
    emb.unionByName(planted_emb.select(emb.columns)).repartition(8).write.mode(
        "overwrite"
    ).parquet(f"{out_dir}/embeddings.parquet")

    # documents: prefix-shared token docs at EXACT shingle-Jaccard tiers
    docs = spark.read.parquet(f"{base_dir}/documents.parquet")
    doc_rows = []
    next_id = RECALL_ID_BASE
    for ti, (prefix, m) in enumerate(RECALL_JACCARD_TIERS):
        pairs = []
        for i in range(RECALL_PAIRS_PER_TIER):
            base_toks = [f"zq{ti}p{i}t{j}" for j in range(m)]
            tail = [f"zq{ti}p{i}f{j}" for j in range(m - prefix)]
            text_a = " ".join(base_toks)
            text_b = " ".join(base_toks[:prefix] + tail)
            doc_rows.append((next_id, text_a))
            doc_rows.append((next_id + 1, text_b))
            pairs.append((next_id, next_id + 1))
            next_id += 2
        planted["jaccard"][str(_jaccard_for_tier(prefix, m))] = pairs
    dpdf = pd.DataFrame(
        {
            "doc_id": [r[0] for r in doc_rows],
            "text": [r[1] for r in doc_rows],
        }
    )
    planted_docs = spark.createDataFrame(dpdf).withColumn(
        "n_chars", F.length("text").cast("long")
    )
    for f_ in docs.schema.fields:
        if f_.name not in planted_docs.columns:
            planted_docs = planted_docs.withColumn(
                f_.name, F.lit("planted").cast(f_.dataType.simpleString())
            )
    docs.unionByName(planted_docs.select(docs.columns)).repartition(
        8
    ).write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")
    return planted


def measure_recall(spark, corpus_dir: str, planted: dict) -> dict:
    """Run the two LSH dedup heads on the planted corpus and return
    per-tier measured recall (found planted pairs / planted pairs). The
    membership check filters to the reserved id range first, so the
    collect is bounded by the planted set size at any corpus scale."""
    from dbt_tpch_spark.functions import release_barriers
    from dbt_tpch_spark.plans import Context, import_all_models

    import_all_models()
    out: dict[str, dict] = {}
    for query, kind, ca, cb in (
        ("dedup_embedding_cosine", "cosine", "vec_a", "vec_b"),
        ("dedup_minhash_lsh", "jaccard", "doc_a", "doc_b"),
    ):
        found = {
            (r[ca], r[cb])
            for r in Context(spark, corpus_dir)
            .ref(query)
            .filter(F.col(ca) >= RECALL_ID_BASE)
            .select(ca, cb)
            .collect()
        }
        release_barriers(spark)
        out[query] = {
            tier: round(
                sum((a, b) in found for a, b in pairs) / len(pairs), 4
            )
            for tier, pairs in planted[kind].items()
        }
    return out


def _run_query(spark, sf_dir: str, name: str) -> dict:
    """Execute the full plan (noop sink: no driver collect, no output
    skew) and return wall / CPU / shuffle-write deltas plus row count.
    The query's barrier blocks are freed once it is measured."""
    from dbt_tpch_spark.functions import release_barriers
    from dbt_tpch_spark.plans import Context, import_all_models

    import_all_models()
    ctx = Context(spark, sf_dir)
    cpu0, shuf0 = stage_totals(spark)
    t0 = time.perf_counter()
    df = ctx.ref(name)
    df.write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    cpu1, shuf1 = stage_totals(spark)
    release_barriers(spark)
    return {
        "wall_sec": round(wall, 3),
        "cpu_sec": round((cpu1 - cpu0) / 1e9, 3),
        "shuffle_write_mb": round((shuf1 - shuf0) / 1e6, 3),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--replicas", type=int, default=10)
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument(
        "--src", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    ap.add_argument("--workdir", default="/tmp/spark_graft_scale_probe")
    ap.add_argument(
        "--queries",
        default=None,
        help="comma-separated subset of PROBE_QUERIES (default: all)",
    )
    ap.add_argument(
        "--skip-recall",
        action="store_true",
        help="cost leg only (e.g. quick mid-point corroboration runs)",
    )
    args = ap.parse_args()
    probe_names = args.queries.split(",") if args.queries else PROBE_QUERIES
    # label derived from the actual replica count (round-11 ADVICE: the 4x
    # mid-point used to store its results under a literal "10x" key)
    scaled = f"{args.replicas}x"
    gate = max_ok_ratio(args.replicas)

    from dbt_tpch_spark.session import get_spark

    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")

    ticks0, load0 = _cpu_ticks(), _loadavg()
    calib_sec, calib32_sec, effective_cores = _calibrate()

    dirs = {}
    build_secs = {}
    for label, reps in (("1x", 1), (scaled, args.replicas)):
        d = os.path.join(args.workdir, label)
        t0 = time.perf_counter()
        build_scaled_corpus(spark, args.src, d, reps)
        build_secs[label] = round(time.perf_counter() - t0, 3)
        dirs[label] = d

    results: dict[str, dict] = {}
    for name in probe_names:
        results[name] = {}
        for label in ("1x", scaled):
            samples = [
                _run_query(spark, dirs[label], name) for _ in range(args.runs)
            ]
            best = min(samples, key=lambda s: s["wall_sec"])
            results[name][label] = {
                **best,
                "wall_samples": [s["wall_sec"] for s in samples],
            }
        w1 = results[name]["1x"]["wall_sec"]
        w10 = results[name][scaled]["wall_sec"]
        ratio = round(w10 / w1, 2) if w1 > 0 else None
        results[name]["wall_ratio"] = ratio
        # measured scaling exponent: wall ~ N^e  =>  e = log(ratio)/log(N)
        results[name]["exponent"] = (
            round(math.log(ratio) / math.log(args.replicas), 3)
            if ratio and ratio > 0
            else None
        )
        results[name]["superlinear"] = bool(ratio and ratio > gate)
        c1 = results[name]["1x"]["shuffle_write_mb"]
        c10 = results[name][scaled]["shuffle_write_mb"]
        results[name]["shuffle_ratio"] = round(c10 / c1, 2) if c1 else None
        print(
            f"{name}: {w1:.2f}s -> {w10:.2f}s (x{ratio}), "
            f"shuffle {c1:.1f} -> {c10:.1f} MB",
            flush=True,
        )

    recall: dict = {}
    recall_below_floor: list[str] = []
    if not args.skip_recall:
        for label in ("1x", scaled):
            rdir = os.path.join(args.workdir, f"recall_{label}")
            planted = plant_recall_fixtures(spark, dirs[label], rdir)
            t0 = time.perf_counter()
            measured = measure_recall(spark, rdir, planted)
            for q, tiers in measured.items():
                recall.setdefault(q, {})[label] = tiers
                recall_below_floor.extend(
                    f"{q}@{label}:{tier}={r}"
                    for tier, r in tiers.items()
                    if r < RECALL_FLOOR
                )
            print(
                f"recall@{label}: {measured} "
                f"({time.perf_counter() - t0:.1f}s)",
                flush=True,
            )
        recall["pairs_per_tier"] = RECALL_PAIRS_PER_TIER
        recall["floor"] = RECALL_FLOOR

    record = {
        "metric": f"scale_probe_{scaled}",
        "replicas": args.replicas,
        "runs_per_point": args.runs,
        "src": args.src,
        "queries": results,
        "corpus_build_sec": build_secs,
        "max_ok_ratio": gate,
        "superlinear": sorted(
            n for n, r in results.items() if r.get("superlinear")
        ),
        "recall": recall,
        "recall_below_floor": sorted(recall_below_floor),
        "loadavg_before": load0,
        "loadavg_after": _loadavg(),
        "steal_pct": _steal_pct(ticks0, _cpu_ticks()),
        "calib_sec": calib_sec,
        "calib32_sec": calib32_sec,
        "effective_cores": effective_cores,
        "solo": os.environ.get("SPARK_GRAFT_SOLO", "0") == "1",
    }
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "SCALE_PROBE_LAST.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    print(
        json.dumps(
            {
                k: record[k]
                for k in (
                    "metric",
                    "superlinear",
                    "recall_below_floor",
                    "steal_pct",
                    "effective_cores",
                )
            }
        )
    )
    shutil.rmtree(args.workdir, ignore_errors=True)


if __name__ == "__main__":
    main()
