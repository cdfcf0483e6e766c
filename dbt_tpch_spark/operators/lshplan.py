"""LSH parameter planner: measured band-collision cost for candidate
(bands × rows) MinHash-LSH configurations.

Extension surface (the reference — DataRecce/dbt-tpch — has no dedup at
all; SURVEY §2.9): before running MinHash-LSH dedup over a 100 TB corpus
you pick (b, r) — how many bands and rows-per-band to slice the K-hash
signature into. The theory gives the S-curve ``P(candidate) = 1-(1-s^r)^b``
and its half-recall point ``s* = (1 - 0.5^(1/b))^(1/r)``; what the theory
can NOT give you is the *cost* side — how many candidate pairs each config
generates on YOUR corpus, which is exactly the verify-join row count the
cluster pays for. This operator measures it: every (b, r) with b·r ≤ K is
banded over the SAME K minhashes the production path (dedup.py
dedup_minhash_lsh) uses, and per config it reports bucket census, colliding
buckets, the exact candidate-pair workload ``Σ C(bucket, 2)`` (with
cross-band multiplicity — each band's bucket is a separate join task), the
hottest bucket, and the analytic s* threshold. Run it on a corpus sample,
pick the config whose s* matches the dedup threshold at the lowest pair
workload, then run the real LSH.

Scale shape: ONE signature projection (identical cost to production LSH
signatures — the md5-per-shingle trick, see dedup.py:100), one explode
bounded by Σb = 30 structs/doc, ONE shuffle to (config, band, hash) bucket
grain (map-side partial agg absorbs per-doc repeats), then a bounded
second agg to |CONFIGS| = 4 rows. No pairs are ever materialized — the
workload is computed from bucket counts, so the planner is strictly
cheaper than any config it evaluates.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dbt_tpch_spark.functions import isum, rnd
from dbt_tpch_spark.models.oracle import isum_sql, oracle, rnd_sql
from dbt_tpch_spark.operators.dedup import (
    _SHINGLE3_DUCK,
    MINHASH_K,
    _doc_parallelism,
    hashpair_duck,
    minhash_exprs_duck,
    minhash_sig_rows,
)
from dbt_tpch_spark.plans import model

#: candidate (n_bands, rows_per_band) grid — every factorization of K=16.
LSH_CONFIGS: tuple[tuple[int, int], ...] = ((2, 8), (4, 4), (8, 2), (16, 1))

assert all(b * r == MINHASH_K for b, r in LSH_CONFIGS)


def _band_hash(nb: int, b: int, rpb: int, concat: str, md5: str) -> str:
    """md5 over the band's row slice — identical text on both engines."""
    cols = ", ".join(f"mh{b * rpb + r}" for r in range(rpb))
    return f"{md5}({concat}('|', {cols}))"


def _struct_entries_spark() -> str:
    entries = []
    for nb, rpb in LSH_CONFIGS:
        for b in range(nb):
            h = _band_hash(nb, b, rpb, "concat_ws", "md5")
            entries.append(
                f"named_struct('n_bands', {nb}, 'band_idx', {b}, 'band_hash', {h})"
            )
    return "array(" + ", ".join(entries) + ")"


def _struct_entries_duck() -> str:
    entries = []
    for nb, rpb in LSH_CONFIGS:
        for b in range(nb):
            h = _band_hash(nb, b, rpb, "concat_ws", "md5")
            entries.append(
                f"struct_pack(n_bands := {nb}, band_idx := {b}, band_hash := {h})"
            )
    return "[" + ", ".join(entries) + "]"


@model("lsh_band_collision_stats", layer="operators", materialization="view")
def lsh_band_collision_stats(ctx):
    """Per-(bands, rows) LSH cost census over the production MinHash
    signatures: bucket counts, colliding buckets, exact candidate-pair
    workload Σ C(cnt, 2), max bucket, and the analytic half-recall
    threshold s* = (1 - 0.5^(1/b))^(1/r)."""
    sigs = minhash_sig_rows(ctx.source("documents"), _doc_parallelism(ctx))
    flat = sigs.selectExpr(
        "doc_id", f"explode({_struct_entries_spark()}) AS e"
    ).select(
        F.col("e.n_bands").cast("long").alias("n_bands"),
        F.col("e.band_idx").cast("long").alias("band_idx"),
        F.col("e.band_hash").alias("band_hash"),
    )
    buckets = flat.groupBy("n_bands", "band_idx", "band_hash").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    rpb = (F.lit(MINHASH_K) / F.col("n_bands")).cast("long")
    s_half = F.pow(
        F.lit(1.0) - F.pow(F.lit(0.5), F.lit(1.0) / F.col("n_bands")),
        F.lit(1.0) / rpb,
    )
    return (
        buckets.groupBy("n_bands")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            isum(F.when(F.col("cnt") > 1, F.lit(1)).otherwise(F.lit(0))).alias(
                "colliding_buckets"
            ),
            isum((F.col("cnt") * (F.col("cnt") - 1) / 2).cast("long")).alias(
                "candidate_pairs"
            ),
            F.max("cnt").alias("max_bucket"),
        )
        .select(
            "n_bands",
            rpb.alias("rows_per_band"),
            "n_buckets",
            "colliding_buckets",
            "candidate_pairs",
            "max_bucket",
            rnd(s_half, 6).alias("s_half"),
        )
    )


oracle(
    "lsh_band_collision_stats",
    ("documents",),
    f"""WITH sets AS (
    SELECT doc_id, {_SHINGLE3_DUCK} AS words FROM documents
),
hashed AS (
    SELECT doc_id, list_transform(words, w -> md5(w)) AS hs FROM sets
),
pairs AS (
    SELECT doc_id, {hashpair_duck()} AS hp FROM hashed
),
mh AS (
    SELECT doc_id, {", ".join(minhash_exprs_duck())} FROM pairs
),
flat AS (
    SELECT
        CAST(e.n_bands AS BIGINT) AS n_bands,
        CAST(e.band_idx AS BIGINT) AS band_idx,
        e.band_hash AS band_hash
    FROM (SELECT doc_id, UNNEST({_struct_entries_duck()}) AS e FROM mh)
),
buckets AS (
    SELECT n_bands, band_idx, band_hash, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM flat GROUP BY 1, 2, 3
)
SELECT
    n_bands,
    CAST({MINHASH_K} // n_bands AS BIGINT) AS rows_per_band,
    CAST(COUNT(*) AS BIGINT) AS n_buckets,
    {isum_sql("CASE WHEN cnt > 1 THEN 1 ELSE 0 END")} AS colliding_buckets,
    {isum_sql("CAST(cnt * (cnt - 1) // 2 AS BIGINT)")} AS candidate_pairs,
    MAX(cnt) AS max_bucket,
    {rnd_sql("power(1.0 - power(0.5, 1.0 / n_bands), 1.0 * n_bands / " + str(MINHASH_K) + ")", 6)} AS s_half
FROM buckets
GROUP BY 1""",
)
