"""Distributed k-means (Lloyd's) over the ``embeddings`` table, and the
IVF-ANN variant that searches with the learned centroids — the upgrade the
fixed-slice ``ann_ivf_topk`` docstring promises.

This is an *iterative* DataFrame algorithm with full DuckDB-oracle parity,
which most engines can't hash-match because Lloyd's is floating-point all
the way down. It works here because every arithmetic step uses the repo's
determinism conventions:

- distances: squared L2 decomposed into three exact-decimal dot products
  (``d2 = <v,v> - 2<v,c> + <c,c>``, each DECIMAL(38,18)-accumulated then
  cast to double) — identical IEEE results on both engines;
- argmin: ties broken on cell_id;
- centroid update: per-dimension mean as exact DECIMAL(27,6) sum / count
  (the dsum convention) — order-independent;
- seeding: the K vectors with the smallest ``md5('kmeans|' || vec_id)`` —
  no RNG, a deterministic uniform scatter.

The oracle unrolls the fixed ITERS Lloyd's rounds as generated CTE text
(assign_i → cents_i), the SQL mirror of the Spark loop.

Scale shapes: each round is one broadcast of K·DIMS doubles against the
corpus (linear scan, no shuffle for assignment) plus one (cell, dim)
aggregation (K·DIMS groups — tiny). Seeding's global sort is a top-K, not a
full sort. At 100 TB you run the *fit* on a hash-sample (docs_sample_*
machinery) and only the final assignment over the full corpus; the
per-round plan here is exactly that final-assignment plan.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from dbt_tpch_spark.functions import barrier, dsum, global_topk, rnd
from dbt_tpch_spark.plans import model
from dbt_tpch_spark.models.oracle import dsum_sql, oracle, rnd_sql
from dbt_tpch_spark.operators.dedup import DOT_SPARK, dot_duck
from dbt_tpch_spark.operators.similarity import N_QUERIES, TOP_K

K_CELLS = 16
ITERS = 3
DIMS = 64
N_PROBE = 4
SEED_SALT = "kmeans|"


# --------------------------------------------------------------------------
# Spark side
# --------------------------------------------------------------------------


def _d2():
    """Squared L2 via three exact-decimal dots (columns vv, emb, cent, cc)."""
    return (
        F.col("vv")
        - F.lit(2.0) * F.expr(DOT_SPARK.format(a="emb", b="cent"))
        + F.col("cc")
    )


def _vectors(ctx):
    from dbt_tpch_spark.operators.dedup import _doc_parallelism

    # the corpus parquet is a single row group -> one input partition; the
    # per-round assignment is CPU-bound decimal math, so spread it across
    # cores. Physical spread is all that matters here: the per-round argmin
    # is a map-side-combinable aggregation (see _fit), so each round's
    # shuffle moves only the 1-row-per-vector partials regardless of
    # metadata (localCheckpoint drops outputPartitioning in this Spark
    # version — the old rank-window design silently re-shuffled)
    e = ctx.source("embeddings").repartition(_doc_parallelism(ctx), "vec_id")
    return e.select(
        "vec_id",
        F.col("embedding").alias("emb"),
        F.expr(DOT_SPARK.format(a="embedding", b="embedding")).alias("vv"),
    )


def _fit(ctx):
    """Run ITERS Lloyd's rounds; returns (vectors, final centroids with cc).
    localCheckpoint per round keeps the logical plan shallow (same pattern
    as dedup_clusters)."""
    v = barrier(_vectors(ctx))
    seeds = ctx.source("embeddings").select(
        "embedding",
        F.md5(F.concat(F.lit(SEED_SALT), F.col("vec_id").cast("string"))).alias("sk"),
    )
    # global_topk: md5-prefix-grouped parallel rank + tiny candidate merge —
    # replaces the old whole-corpus single-partition Window.orderBy("sk")
    # bounded barrier: the centroid state is K_CELLS rows at any SF —
    # register it so the pair-stage invariant sees the crossJoin as a
    # bounded-grid broadcast, not an all-pairs stage
    cents = barrier(
        global_topk(seeds, "sk", K_CELLS, ["embedding"]).select(
            (F.col("rn") - 1).cast("long").alias("cell_id"),
            F.col("embedding").alias("cent"),
        ),
        bounded=True,
    )
    for _ in range(ITERS):
        # argmin as an aggregation, not a rank window: min(struct(d2,
        # cell_id)) reproduces the (d2 asc, cell_id) tie-break exactly, is
        # map-side combinable (1 row/vector crosses the wire instead of K
        # sorted rows), and needs no partitioning metadata — which
        # localCheckpoint drops in this Spark version, so the old window
        # was silently re-shuffling the corpus every round
        assigned = (
            v.crossJoin(
                F.broadcast(
                    cents.withColumn(
                        "cc", F.expr(DOT_SPARK.format(a="cent", b="cent"))
                    )
                )
            )
            .withColumn("d2", _d2())
            .groupBy("vec_id")
            .agg(
                F.min(F.struct("d2", "cell_id")).alias("a"),
                F.first("emb").alias("emb"),
            )
            .select("vec_id", F.col("a.cell_id").alias("cell_id"), "emb")
        )
        # centroid means via posexplode -> (cell, pos) aggregate ->
        # re-assemble. A column-wise form (ONE groupBy(cell_id) with DIMS
        # separate dsum aggregates) was tried in round 11 to drop the
        # second shuffle — and MEASURED 3x slower per round (2.4-4.4 s vs
        # 0.7-1.1 s isolated A/B at sf0.1): 64 wide-decimal aggregate
        # buffers fall off the hash-aggregate fast path and the generated
        # code is enormous, while the "saved" re-assemble shuffle only
        # ever carries K_CELLS*DIMS rows (~1k) after partial aggregation,
        # at ANY corpus size. The explode's shuffle is equally bounded:
        # map-side partial aggregation reduces it to K*DIMS groups per
        # task, so bytes-on-the-wire stay O(K*DIMS*tasks), not O(n).
        cents = barrier(
            assigned.select("cell_id", F.posexplode("emb").alias("pos", "val"))
            .groupBy("cell_id", "pos")
            .agg(
                (dsum(F.col("val").cast("double")) / F.count(F.lit(1))).alias("m")
            )
            .groupBy("cell_id")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("cent")
            ),
            bounded=True,
        )
    return v, cents.withColumn("cc", F.expr(DOT_SPARK.format(a="cent", b="cent")))


def _assign_ranked(v, cents, n: int):
    """Every vector's n nearest final centroids, ranked by (d2, cell_id).

    Aggregation-shaped top-n (sort_array(collect_list) over the K=16
    candidate structs, sliced to n) instead of a rank window — same
    tie-breaks, map-side combinable, no corpus re-sort."""
    scored = v.crossJoin(F.broadcast(cents)).withColumn("d2", _d2())
    return (
        scored.groupBy("vec_id")
        .agg(
            F.slice(
                F.sort_array(F.collect_list(F.struct("d2", "cell_id", "cc"))),
                1,
                n,
            ).alias("top"),
            F.first("emb").alias("emb"),
            F.first("vv").alias("vv"),
        )
        .select("vec_id", "emb", "vv", F.posexplode("top").alias("p", "s"))
        .select(
            "vec_id",
            "emb",
            "vv",
            F.col("s.d2").alias("d2"),
            F.col("s.cell_id").alias("cell_id"),
            F.col("s.cc").alias("cc"),
            (F.col("p") + 1).alias("rn"),
        )
    )


@model("kmeans_cells", layer="operators", materialization="view")
def kmeans_cells(ctx):
    """Per-cell summary after ITERS Lloyd's rounds: membership count,
    centroid norm, and within-cell inertia (sum of squared distances)."""
    v, cents = _fit(ctx)
    final = _assign_ranked(v, cents, 1)
    return final.groupBy("cell_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        rnd(F.sqrt(F.first("cc")), 6).alias("centroid_norm"),
        rnd(dsum(F.col("d2")), 6).alias("inertia"),
    )


@model("ann_ivf_kmeans_topk", layer="operators", materialization="view")
def ann_ivf_kmeans_topk(ctx):
    """IVF ANN over learned k-means cells: queries (vec_id < N_QUERIES)
    probe their N_PROBE nearest cells; candidates are ranked by exact
    cosine within the probed cells only."""
    v, cents = _fit(ctx)
    ranked = _assign_ranked(v, cents, N_PROBE)
    members = ranked.filter(F.col("rn") == 1).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("emb").alias("c_emb"),
        F.col("vv").alias("c_vv"),
        "cell_id",
    )
    probes = ranked.filter(
        (F.col("rn") <= N_PROBE) & (F.col("vec_id") < N_QUERIES)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
        F.col("vv").alias("q_vv"),
        "cell_id",
    )
    cos = F.expr(DOT_SPARK.format(a="q_emb", b="c_emb")) / (
        F.sqrt(F.col("q_vv")) * F.sqrt(F.col("c_vv"))
    )
    scored = (
        probes.join(members, "cell_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", rnd(cos, 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cell_id", "cosine", "rank")
    )


# --------------------------------------------------------------------------
# oracle: the same Lloyd's rounds unrolled as generated CTEs
# --------------------------------------------------------------------------


def _d2_sql(emb: str, cent: str, vv: str, cc: str) -> str:
    return f"({vv} - 2.0 * {dot_duck(emb, cent)} + {cc})"


def _kmeans_prelude() -> str:
    parts = [
        f"""v AS (
    SELECT vec_id, embedding AS emb,
           {dot_duck('embedding', 'embedding')} AS vv
    FROM embeddings
)""",
        f"""cents0 AS (
    SELECT CAST(rn - 1 AS BIGINT) AS cell_id, embedding AS cent
    FROM (
        SELECT embedding,
               ROW_NUMBER() OVER (
                   ORDER BY md5('{SEED_SALT}' || CAST(vec_id AS VARCHAR))
               ) AS rn
        FROM embeddings
    ) WHERE rn <= {K_CELLS}
)""",
    ]
    prev = "cents0"
    for i in range(1, ITERS + 1):
        parts.append(
            f"""assign{i} AS (
    SELECT vec_id, emb, cell_id
    FROM (
        SELECT s.vec_id, s.emb, s.cell_id,
               ROW_NUMBER() OVER (
                   PARTITION BY s.vec_id ORDER BY s.d2 ASC, s.cell_id
               ) AS rn
        FROM (
            SELECT v.vec_id, v.emb, c.cell_id,
                   {_d2_sql('v.emb', 'c.cent', 'v.vv',
                            dot_duck('c.cent', 'c.cent'))} AS d2
            FROM v CROSS JOIN {prev} c
        ) s
    ) WHERE rn = 1
)"""
        )
        parts.append(
            f"""cents{i} AS (
    SELECT cell_id, list(m ORDER BY pos) AS cent
    FROM (
        SELECT a.cell_id, p.pos,
               {dsum_sql('CAST(a.emb[p.pos] AS DOUBLE)')} / COUNT(*) AS m
        FROM assign{i} a
        CROSS JOIN (SELECT UNNEST(range(1, {DIMS + 1})) AS pos) p
        GROUP BY 1, 2
    ) GROUP BY cell_id
)"""
        )
        prev = f"cents{i}"
    parts.append(
        f"""final_cents AS (
    SELECT cell_id, cent, {dot_duck('cent', 'cent')} AS cc
    FROM {prev}
)""",
    )
    parts.append(
        """final_ranked AS (
    SELECT s.vec_id, s.emb, s.vv, s.cell_id, s.d2,
           ROW_NUMBER() OVER (
               PARTITION BY s.vec_id ORDER BY s.d2 ASC, s.cell_id
           ) AS rn
    FROM (
        SELECT v.vec_id, v.emb, v.vv, c.cell_id, c.cc,
               %s AS d2
        FROM v CROSS JOIN final_cents c
    ) s
)"""
        % _d2_sql("v.emb", "c.cent", "v.vv", "c.cc")
    )
    return ",\n".join(parts)


oracle(
    "kmeans_cells",
    ("embeddings",),
    f"""WITH {_kmeans_prelude()}
SELECT
    f.cell_id,
    COUNT(*) AS n_members,
    {rnd_sql('sqrt(ANY_VALUE(c.cc))', 6)} AS centroid_norm,
    {rnd_sql(dsum_sql('f.d2'), 6)} AS inertia
FROM final_ranked f
JOIN final_cents c ON f.cell_id = c.cell_id
WHERE f.rn = 1
GROUP BY 1""",
)


oracle(
    "ann_ivf_kmeans_topk",
    ("embeddings",),
    f"""WITH {_kmeans_prelude()},
members AS (
    SELECT vec_id AS neighbor_id, emb AS c_emb, vv AS c_vv, cell_id
    FROM final_ranked WHERE rn = 1
),
probes AS (
    SELECT vec_id AS query_id, emb AS q_emb, vv AS q_vv, cell_id
    FROM final_ranked WHERE rn <= {N_PROBE} AND vec_id < {N_QUERIES}
),
scored AS (
    SELECT
        p.query_id, m.neighbor_id, m.cell_id,
        {rnd_sql(f"{dot_duck('p.q_emb', 'm.c_emb')} / (sqrt(p.q_vv) * sqrt(m.c_vv))", 6)} AS cosine
    FROM probes p
    JOIN members m ON p.cell_id = m.cell_id AND p.query_id != m.neighbor_id
),
ranked AS (
    SELECT *,
        CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, cell_id, cosine, rank
FROM ranked WHERE rank <= {TOP_K}""",
)


#: fixed-size deterministic sample for the silhouette report (bottom-k by
#: salted md5) — the pairwise stage is O(SIL_SAMPLE²) at ANY corpus size.
SIL_SAMPLE = 256
_SIL_SALT = "sil|"


@model(
    "kmeans_silhouette_sample", layer="operators", materialization="view"
)
def kmeans_silhouette_sample(ctx):
    """Clustering-quality report: silhouette coefficient (Rousseeuw '87)
    of the learned k-means cells, measured on a fixed-size deterministic
    sample — s(i) = (b−a)/max(a,b) with a = mean distance to same-cell
    sampled vectors, b = the nearest other cell's mean distance. The
    number that tells you whether K_CELLS fits the corpus before you
    trust SemDeDup/IVF built on those cells. Vectors that are their
    cell's only sampled member have no a(i) and are excluded (the
    standard convention), so per-cell n_scored can be < n_sampled.

    Scale shape: assignment is the existing broadcast-centroid scan; the
    pairwise stage runs ONLY on the bottom-SIL_SAMPLE-by-md5 sample
    (a bounded barrier, O(SIL_SAMPLE²) anywhere); distances
    are 6-dp-quantized exact-decimal means so both engines agree."""
    v, cents = _fit(ctx)
    assign = _assign_ranked(v, cents, 1).filter(F.col("rn") == 1)
    skey = F.md5(
        F.concat(F.lit(_SIL_SALT), F.col("vec_id").cast("string"))
    )
    sample = barrier(
        assign.select("vec_id", "emb", "vv", "cell_id", skey.alias("sk"))
        .orderBy("sk")
        .limit(SIL_SAMPLE)
        .drop("sk"),
        bounded=True,
    )
    a_side = sample.select(
        F.col("vec_id").alias("vec_a"),
        F.col("emb").alias("emb_a"),
        F.col("vv").alias("vv_a"),
        F.col("cell_id").alias("cell_a"),
    )
    b_side = sample.select(
        F.col("vec_id").alias("vec_b"),
        F.col("emb").alias("emb_b"),
        F.col("vv").alias("vv_b"),
        F.col("cell_id").alias("cell_b"),
    )
    d2 = (
        F.col("vv_a")
        - F.lit(2.0) * F.expr(DOT_SPARK.format(a="emb_a", b="emb_b"))
        + F.col("vv_b")
    )
    pairs = (
        a_side.join(b_side, F.col("vec_a") != F.col("vec_b"))
        .select(
            "vec_a",
            "cell_a",
            "cell_b",
            rnd(F.sqrt(F.greatest(d2, F.lit(0.0))), 6).alias("dist"),
        )
        .transform(barrier)
    )
    a_tbl = (
        pairs.filter(F.col("cell_a") == F.col("cell_b"))
        .groupBy("vec_a", "cell_a")
        .agg(rnd(dsum(F.col("dist")) / F.count(F.lit(1)), 6).alias("a_mean"))
    )
    b_tbl = (
        pairs.filter(F.col("cell_a") != F.col("cell_b"))
        .groupBy("vec_a", "cell_b")
        .agg(rnd(dsum(F.col("dist")) / F.count(F.lit(1)), 6).alias("cmean"))
        .groupBy("vec_a")
        .agg(F.min("cmean").alias("b_mean"))
    )
    s = a_tbl.join(b_tbl, "vec_a").select(
        "vec_a",
        "cell_a",
        rnd(
            (F.col("b_mean") - F.col("a_mean"))
            / F.greatest(F.col("a_mean"), F.col("b_mean")),
            6,
        ).alias("sil"),
    )
    return s.groupBy(F.col("cell_a").alias("cell_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_scored"),
        rnd(dsum(F.col("sil")) / F.count(F.lit(1)), 6).alias(
            "mean_silhouette"
        ),
        rnd(F.min("sil"), 6).alias("min_silhouette"),
        rnd(F.max("sil"), 6).alias("max_silhouette"),
    )


def _silhouette_oracle() -> str:
    d2 = f"(a.vv - 2.0 * {dot_duck('a.emb', 'b.emb')} + b.vv)"
    return f"""WITH {_kmeans_prelude()},
sample AS (
    SELECT vec_id, emb, vv, cell_id
    FROM final_ranked WHERE rn = 1
    ORDER BY md5('{_SIL_SALT}' || CAST(vec_id AS VARCHAR))
    LIMIT {SIL_SAMPLE}
),
pairs AS (
    SELECT a.vec_id AS vec_a, a.cell_id AS cell_a, b.cell_id AS cell_b,
        {rnd_sql(f'sqrt(GREATEST({d2}, 0.0))', 6)} AS dist
    FROM sample a JOIN sample b ON a.vec_id != b.vec_id
),
a_tbl AS (
    SELECT vec_a, cell_a,
        {rnd_sql(f"{dsum_sql('dist')} / COUNT(*)", 6)} AS a_mean
    FROM pairs WHERE cell_a = cell_b GROUP BY 1, 2
),
b_tbl AS (
    SELECT vec_a, MIN(cmean) AS b_mean FROM (
        SELECT vec_a, cell_b,
            {rnd_sql(f"{dsum_sql('dist')} / COUNT(*)", 6)} AS cmean
        FROM pairs WHERE cell_a != cell_b GROUP BY 1, 2
    ) GROUP BY 1
),
s AS (
    SELECT a.vec_a, a.cell_a,
        {rnd_sql('(b.b_mean - a.a_mean) / GREATEST(a.a_mean, b.b_mean)', 6)} AS sil
    FROM a_tbl a JOIN b_tbl b ON a.vec_a = b.vec_a
)
SELECT cell_a AS cell_id,
    CAST(COUNT(*) AS BIGINT) AS n_scored,
    {rnd_sql(f"{dsum_sql('sil')} / COUNT(*)", 6)} AS mean_silhouette,
    {rnd_sql('MIN(sil)', 6)} AS min_silhouette,
    {rnd_sql('MAX(sil)', 6)} AS max_silhouette
FROM s
GROUP BY 1"""


oracle("kmeans_silhouette_sample", ("embeddings",), _silhouette_oracle())


# --------------------------------------------------------------------------
# SemDeDup: cluster-scoped semantic dedup (Abbas et al. 2023)
# --------------------------------------------------------------------------

#: within-cell cosine at/above which two embeddings are semantic duplicates.
#: The paper uses ~0.95+ on real embeddings; the synthetic corpus's
#: within-cell cosines top out near 0.45-0.51 (p99 ~0.35), so the
#: threshold sits at the tail's edge to keep the verdict branch exercised
#: at every test SF — same operator, tuned cut.
SEMDEDUP_THRESHOLD = 0.32


@model("dedup_semantic_pairs", layer="operators", materialization="view")
def dedup_semantic_pairs(ctx):
    """SemDeDup: semantic near-dup pairs found WITHIN learned k-means
    cells only — pairwise cosine runs per cell, never across the corpus.
    This is the scale story that makes semantic dedup tractable at 100 TB:
    candidate generation is the k-means assignment (a broadcast linear
    scan) and the quadratic step is bounded by max cell size — the
    cell-scoped counterpart of `dedup_embedding_cosine`'s banded sign-LSH
    (round 6: that query is candidate-bounded too; no registered query
    runs corpus-grain all-pairs anymore). The
    deterministic keep/drop verdict keeps the lower vec_id — the paper
    keeps the point farthest from the centroid; with the corpus's exact-
    decimal distances either rule is deterministic, the simpler one reads
    cleaner cross-engine.

    Recall caveat: pairs straddling a cell boundary are missed
    (measurable by diffing with dedup_embedding_cosine, whose band-OR
    construction catches most boundary-straddlers) — the standard
    SemDeDup trade."""
    v, cents = _fit(ctx)
    # both pair sides consume the assignment; materialize it once (a
    # deployment persists cell assignments next to the index anyway)
    members = (
        _assign_ranked(v, cents, 1)
        .filter(F.col("rn") == 1)
        .transform(barrier)
    )
    a = members.select(
        F.col("cell_id"),
        F.col("vec_id").alias("vec_a"),
        F.col("emb").alias("emb_a"),
        F.col("vv").alias("vv_a"),
    )
    b = members.select(
        F.col("cell_id"),
        F.col("vec_id").alias("vec_b"),
        F.col("emb").alias("emb_b"),
        F.col("vv").alias("vv_b"),
    )
    cos = F.expr(DOT_SPARK.format(a="emb_a", b="emb_b")) / (
        F.sqrt(F.col("vv_a")) * F.sqrt(F.col("vv_b"))
    )
    return (
        a.join(b, "cell_id")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cosine", rnd(cos, 6))
        .filter(F.col("cosine") >= SEMDEDUP_THRESHOLD)
        .select(
            "cell_id",
            "vec_a",
            "vec_b",
            "cosine",
            F.greatest("vec_a", "vec_b").alias("drop_vec"),
        )
    )


oracle(
    "dedup_semantic_pairs",
    ("embeddings",),
    f"""WITH {_kmeans_prelude()},
members AS (
    SELECT vec_id, emb, vv, cell_id
    FROM final_ranked WHERE rn = 1
),
pairs AS (
    SELECT
        a.cell_id,
        a.vec_id AS vec_a,
        b.vec_id AS vec_b,
        {rnd_sql(f"{dot_duck('a.emb', 'b.emb')} / (sqrt(a.vv) * sqrt(b.vv))", 6)} AS cosine
    FROM members a
    JOIN members b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
)
SELECT cell_id, vec_a, vec_b, cosine,
       greatest(vec_a, vec_b) AS drop_vec
FROM pairs
WHERE cosine >= {SEMDEDUP_THRESHOLD}""",
)
