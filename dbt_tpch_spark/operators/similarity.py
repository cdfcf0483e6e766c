"""Similarity search over the ``embeddings`` table: brute-force cosine
top-k (exactness baseline) and a random-hyperplane LSH-bucketed variant
(the scale path: bucket first, rank only within buckets).

Vector math is exact-decimal dot products (see dedup.DOT_SPARK) evaluated
JVM-side with zip_with/aggregate — no per-element explode on the Spark hot
path, no Python UDFs. Hyperplanes are deterministic md5-derived constants
shared verbatim with the DuckDB oracle.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Window
from pyspark.sql import functions as F

from dbt_tpch_spark.functions import rnd
from dbt_tpch_spark.plans import model
from dbt_tpch_spark.plans.audit import register_bounded_filter
from dbt_tpch_spark.models.oracle import dsum_sql, oracle, rnd_sql
from dbt_tpch_spark.operators.dedup import DOT_SPARK, dot_duck

TOP_K = 10
N_QUERIES = 10  # vec_id < 10 act as the query set
# declare the query-set prefix an SF-independent fixed sample: N_QUERIES is
# a module constant, never derived from the data, so the pair-stage
# invariant may treat a side filtered by it as bounded
register_bounded_filter(f"vec_id < {N_QUERIES}")
# 8 sign bits -> 256 buckets: sized for the test corpus (500 vectors) so
# buckets actually collide; a 100 TB deployment raises this with corpus size
# (and/or multi-probe) to trade recall vs candidate count.
N_HYPERPLANES = 8
EMBEDDING_DIM = 64


def hyperplanes() -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1): md5-derived so
    both engines share identical literals (no RNG, no seed state)."""
    planes = []
    for i in range(N_HYPERPLANES):
        row = []
        for d in range(EMBEDDING_DIM):
            h = hashlib.md5(f"{i}|{d}".encode()).hexdigest()[:8]
            row.append(round(int(h, 16) / 2**32 * 2 - 1, 6))
        planes.append(row)
    return planes


def _norms(e):
    return e.select(
        "vec_id",
        "label",
        F.col("embedding").alias("emb"),
        F.sqrt(F.expr(DOT_SPARK.format(a="embedding", b="embedding"))).alias("norm"),
    )


@model("ann_cosine_topk", layer="operators", materialization="view")
def ann_cosine_topk(ctx):
    """Brute-force cosine top-10 neighbors for the query set (vec_id < 10).
    Exactness baseline: O(Q x N) with the corpus side broadcast when small;
    at 100 TB the LSH variant below replaces the full scan."""
    e = ctx.source("embeddings")
    n = _norms(e)
    q = n.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )
    c = n.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        F.col("emb").alias("c_emb"),
        F.col("norm").alias("c_norm"),
    )
    cos = F.expr(DOT_SPARK.format(a="q_emb", b="c_emb")) / (
        F.col("q_norm") * F.col("c_norm")
    )
    scored = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", rnd(cos, 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "neighbor_label", "cosine", "rank")
    )


oracle(
    "ann_cosine_topk",
    ("embeddings",),
    f"""WITH norms AS (
    SELECT vec_id, label, embedding,
           sqrt({dot_duck('embedding', 'embedding')}) AS norm
    FROM embeddings
),
scored AS (
    SELECT
        q.vec_id AS query_id,
        c.vec_id AS neighbor_id,
        c.label AS neighbor_label,
        {rnd_sql(f"{dot_duck('q.embedding', 'c.embedding')} / (q.norm * c.norm)", 6)} AS cosine
    FROM norms q
    JOIN norms c ON q.vec_id < {N_QUERIES} AND q.vec_id != c.vec_id
),
ranked AS (
    SELECT *,
        CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, neighbor_label, cosine, rank
FROM ranked
WHERE rank <= {TOP_K}""",
)


def _bucket_spark():
    """Sign-bucket string from the 16 hyperplane dot products."""
    signs = []
    for plane in hyperplanes():
        arr = "array(" + ", ".join(f"CAST({v} AS DOUBLE)" for v in plane) + ")"
        dot = DOT_SPARK.format(a="embedding", b=arr)
        signs.append(f"CASE WHEN {dot} > 0 THEN '1' ELSE '0' END")
    return F.expr("concat(" + ", ".join(signs) + ")")


def _bucket_duck() -> str:
    signs = []
    for plane in hyperplanes():
        arr = "[" + ", ".join(str(v) for v in plane) + "]"
        dot = dot_duck("embedding", arr)
        signs.append(f"CASE WHEN {dot} > 0 THEN '1' ELSE '0' END")
    return "concat(" + ", ".join(signs) + ")"


@model("ann_lsh_topk", layer="operators", materialization="view")
def ann_lsh_topk(ctx):
    """Random-hyperplane LSH ANN: 16-bit sign buckets, candidates share the
    query's bucket, ranked by exact cosine within the bucket.

    Scale shape: bucketing is a single projection; the candidate join
    shuffles on the bucket key (2^16 buckets), so no full cross product —
    recall trades off against bucket granularity."""
    e = ctx.source("embeddings")
    n = _norms(e.withColumn("bucket", _bucket_spark()))
    buckets = ctx.source("embeddings").withColumn("bucket", _bucket_spark()).select(
        "vec_id", "bucket"
    )
    n = n.join(buckets, "vec_id")
    q = n.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
        F.col("norm").alias("q_norm"),
        "bucket",
    )
    c = n.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("emb").alias("c_emb"),
        F.col("norm").alias("c_norm"),
        "bucket",
    )
    cos = F.expr(DOT_SPARK.format(a="q_emb", b="c_emb")) / (
        F.col("q_norm") * F.col("c_norm")
    )
    scored = (
        q.join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", rnd(cos, 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "bucket", "cosine", "rank")
    )


oracle(
    "ann_lsh_topk",
    ("embeddings",),
    f"""WITH bucketed AS (
    SELECT vec_id, embedding, {_bucket_duck()} AS bucket,
           sqrt({dot_duck('embedding', 'embedding')}) AS norm
    FROM embeddings
),
scored AS (
    SELECT
        q.vec_id AS query_id,
        c.vec_id AS neighbor_id,
        q.bucket,
        {rnd_sql(f"{dot_duck('q.embedding', 'c.embedding')} / (q.norm * c.norm)", 6)} AS cosine
    FROM bucketed q
    JOIN bucketed c ON q.bucket = c.bucket AND q.vec_id != c.vec_id
    WHERE q.vec_id < {N_QUERIES}
),
ranked AS (
    SELECT *,
        CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, bucket, cosine, rank
FROM ranked
WHERE rank <= {TOP_K}""",
)


# --------------------------------------------------------------------------
# IVF (inverted-file) ANN
# --------------------------------------------------------------------------

N_CELLS = 16
N_PROBE = 4
#: deterministic centroid choice: a fixed mid-corpus slice of vectors. A real
#: deployment would k-means these; the IVF *plan shape* (assign -> probe ->
#: rank within probed cells) is identical either way.
CENTROID_LO, CENTROID_HI = 100, 100 + N_CELLS
# the centroid slice is a fixed N_CELLS-row window of the key space —
# SF-independent by construction (both bounds are module constants)
register_bounded_filter(f"vec_id < {CENTROID_HI}")


@model("ann_ivf_topk", layer="operators", materialization="view")
def ann_ivf_topk(ctx):
    """IVF ANN: corpus vectors are assigned to their nearest of 16 centroid
    cells (one broadcast join against the centroids — no O(n^2) stage);
    each query probes its 4 nearest cells and ranks candidates by exact
    cosine within them.

    Scale shape: assignment is linear with a broadcast centroid table;
    search touches ~nprobe/ncells of the corpus. Recall < 1 by design —
    ann_cosine_topk is the exactness baseline."""
    e = ctx.source("embeddings")
    n = _norms(e)
    cents = n.filter(
        (F.col("vec_id") >= CENTROID_LO) & (F.col("vec_id") < CENTROID_HI)
    ).select(
        F.col("vec_id").alias("cell_id"),
        F.col("emb").alias("cent_emb"),
        F.col("norm").alias("cent_norm"),
    )
    cos_to_cent = F.expr(DOT_SPARK.format(a="emb", b="cent_emb")) / (
        F.col("norm") * F.col("cent_norm")
    )
    scored_cells = n.crossJoin(F.broadcast(cents)).withColumn(
        "cell_cos", cos_to_cent
    )
    w_cell = Window.partitionBy("vec_id").orderBy(
        F.col("cell_cos").desc(), F.col("cell_id")
    )
    ranked_cells = scored_cells.withColumn(
        "cell_rank", F.row_number().over(w_cell)
    ).select("vec_id", "label", "emb", "norm", "cell_id", "cell_rank")
    assign = ranked_cells.filter(F.col("cell_rank") == 1).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("emb").alias("c_emb"),
        F.col("norm").alias("c_norm"),
        "cell_id",
    )
    probes = ranked_cells.filter(
        (F.col("cell_rank") <= N_PROBE) & (F.col("vec_id") < N_QUERIES)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
        F.col("norm").alias("q_norm"),
        "cell_id",
    )
    cos = F.expr(DOT_SPARK.format(a="q_emb", b="c_emb")) / (
        F.col("q_norm") * F.col("c_norm")
    )
    scored = (
        probes.join(assign, "cell_id")
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


oracle(
    "ann_ivf_topk",
    ("embeddings",),
    f"""WITH norms AS (
    SELECT vec_id, label, embedding,
           sqrt({dot_duck('embedding', 'embedding')}) AS norm
    FROM embeddings
),
cents AS (
    SELECT vec_id AS cell_id, embedding AS cent_emb, norm AS cent_norm
    FROM norms WHERE vec_id >= {CENTROID_LO} AND vec_id < {CENTROID_HI}
),
ranked_cells AS (
    SELECT
        n.vec_id, n.embedding, n.norm, c.cell_id,
        ROW_NUMBER() OVER (
            PARTITION BY n.vec_id
            ORDER BY {dot_duck('n.embedding', 'c.cent_emb')} / (n.norm * c.cent_norm) DESC, c.cell_id
        ) AS cell_rank
    FROM norms n CROSS JOIN cents c
),
assign AS (
    SELECT vec_id AS neighbor_id, embedding AS c_emb, norm AS c_norm, cell_id
    FROM ranked_cells WHERE cell_rank = 1
),
probes AS (
    SELECT vec_id AS query_id, embedding AS q_emb, norm AS q_norm, cell_id
    FROM ranked_cells WHERE cell_rank <= {N_PROBE} AND vec_id < {N_QUERIES}
),
scored AS (
    SELECT
        p.query_id, a.neighbor_id, a.cell_id,
        {rnd_sql(f"{dot_duck('p.q_emb', 'a.c_emb')} / (p.q_norm * a.c_norm)", 6)} AS cosine
    FROM probes p
    JOIN assign a ON p.cell_id = a.cell_id AND p.query_id != a.neighbor_id
),
ranked AS (
    SELECT *,
        CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, cell_id, cosine, rank
FROM ranked WHERE rank <= {TOP_K}""",
)


# --------------------------------------------------------------------------
# multi-probe LSH
# --------------------------------------------------------------------------


def _flip_sql(bucket: str, k: str) -> str:
    """Bucket with bit ``k`` flipped (k=0 -> unchanged) — portable SQL."""
    nb = N_HYPERPLANES
    return (
        f"CASE WHEN {k} = 0 THEN {bucket} ELSE concat("
        f"substr({bucket}, 1, {k} - 1), "
        f"CASE substr({bucket}, {k}, 1) WHEN '1' THEN '0' ELSE '1' END, "
        f"substr({bucket}, {k} + 1, {nb} - {k})) END"
    )


@model("ann_lsh_multiprobe_topk", layer="operators", materialization="view")
def ann_lsh_multiprobe_topk(ctx):
    """Multi-probe LSH ANN: each query probes its own sign bucket plus the
    8 hamming-distance-1 buckets, then ranks candidates by exact cosine.

    Scale shape: probes multiply the *query* side only (9x a tiny set); the
    corpus is still bucketed once. Multi-probe is the standard recall lever
    that avoids doubling hyperplanes (which would halve bucket occupancy).
    """
    e = ctx.source("embeddings")
    n = _norms(e).join(
        ctx.source("embeddings").withColumn("bucket", _bucket_spark()).select("vec_id", "bucket"),
        "vec_id",
    )
    c = n.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("emb").alias("c_emb"),
        F.col("norm").alias("c_norm"),
        "bucket",
    )
    q = (
        n.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("emb").alias("q_emb"),
            F.col("norm").alias("q_norm"),
            "bucket",
            F.explode(F.sequence(F.lit(0), F.lit(N_HYPERPLANES))).alias("k"),
        )
        .withColumn("probe_bucket", F.expr(_flip_sql("bucket", "k")))
        .select("query_id", "q_emb", "q_norm", F.col("probe_bucket").alias("bucket"))
    )
    cos = F.expr(DOT_SPARK.format(a="q_emb", b="c_emb")) / (
        F.col("q_norm") * F.col("c_norm")
    )
    scored = (
        q.join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cos.alias("cosine"))
        .distinct()  # a neighbor can surface via several probes
        .withColumn("cosine", rnd(F.col("cosine"), 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


oracle(
    "ann_lsh_multiprobe_topk",
    ("embeddings",),
    f"""WITH bucketed AS (
    SELECT vec_id, embedding, {_bucket_duck()} AS bucket,
           sqrt({dot_duck('embedding', 'embedding')}) AS norm
    FROM embeddings
),
probes AS (
    SELECT
        b.vec_id AS query_id, b.embedding AS q_emb, b.norm AS q_norm,
        {_flip_sql('b.bucket', 'k.k')} AS bucket
    FROM bucketed b
    CROSS JOIN (SELECT UNNEST(range(0, {N_HYPERPLANES + 1})) AS k) k
    WHERE b.vec_id < {N_QUERIES}
),
scored AS (
    SELECT DISTINCT
        p.query_id, c.vec_id AS neighbor_id,
        {dot_duck('p.q_emb', 'c.embedding')} / (p.q_norm * c.norm) AS raw_cos
    FROM probes p
    JOIN bucketed c ON p.bucket = c.bucket AND p.query_id != c.vec_id
),
ranked AS (
    SELECT query_id, neighbor_id,
        {rnd_sql('raw_cos', 6)} AS cosine,
        CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY {rnd_sql('raw_cos', 6)} DESC, neighbor_id) AS BIGINT) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, cosine, rank
FROM ranked WHERE rank <= {TOP_K}""",
)


# --------------------------------------------------------------------------
# int8 scalar quantization (embedding compression for storage / ANN)
# --------------------------------------------------------------------------


@model("embeddings_quantize_int8", layer="operators", materialization="view")
def embeddings_quantize_int8(ctx):
    """Per-vector symmetric int8 quantization: scale = max|x|, code =
    floor(x/scale*127 + 0.5) in [-127, 127] — 4x compression of a float32
    embedding column. Reports per-vector reconstruction quality (cosine of
    the original vs dequantized vector, max absolute error) so a pipeline
    can gate compression on measured fidelity.

    Shuffle-free per-row array math; rounding uses the repo's explicit
    floor(x+0.5) convention so codes are engine-identical (a bare round()
    diverges: banker's vs half-up)."""
    e = ctx.source("embeddings")
    with_scale = e.select(
        "vec_id",
        F.col("embedding").alias("emb"),
        F.expr(
            "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))"
        ).alias("scale"),
    )
    quant = with_scale.withColumn(
        "codes",
        F.expr(
            "transform(emb, x -> CAST(FLOOR(CAST(x AS DOUBLE) / scale * 127.0"
            " + 0.5) AS BIGINT))"
        ),
    ).withColumn(
        "recon",
        F.expr("transform(codes, c -> CAST(c AS DOUBLE) * scale / 127.0)"),
    )
    cos = F.expr(DOT_SPARK.format(a="emb", b="recon")) / (
        F.sqrt(F.expr(DOT_SPARK.format(a="emb", b="emb")))
        * F.sqrt(F.expr(DOT_SPARK.format(a="recon", b="recon")))
    )
    max_err = F.expr(
        "array_max(zip_with(emb, recon, (x, y) -> abs(CAST(x AS DOUBLE) - y)))"
    )
    return quant.select(
        "vec_id",
        rnd(F.col("scale"), 6).alias("scale"),
        F.expr("aggregate(codes, CAST(0 AS BIGINT), (a, c) -> a + abs(c))").alias(
            "code_l1"
        ),
        rnd(cos, 6).alias("recon_cosine"),
        rnd(max_err, 6).alias("max_abs_err"),
    )


oracle(
    "embeddings_quantize_int8",
    ("embeddings",),
    f"""WITH scaled AS (
    SELECT vec_id, embedding AS emb,
           list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale
    FROM embeddings
),
quant AS (
    SELECT *,
        list_transform(emb, x -> CAST(FLOOR(CAST(x AS DOUBLE) / scale * 127.0 + 0.5) AS BIGINT)) AS codes
    FROM scaled
),
recon AS (
    SELECT *,
        list_transform(codes, c -> CAST(c AS DOUBLE) * scale / 127.0) AS rec
    FROM quant
)
SELECT
    vec_id,
    {rnd_sql('scale', 6)} AS scale,
    CAST(list_sum(list_transform(codes, c -> abs(c))) AS BIGINT) AS code_l1,
    {rnd_sql(f"{dot_duck('emb', 'rec')} / (sqrt({dot_duck('emb', 'emb')}) * sqrt({dot_duck('rec', 'rec')}))", 6)} AS recon_cosine,
    {rnd_sql('list_max(list_transform(range(1, 65), i -> abs(CAST(emb[i] AS DOUBLE) - rec[i])))', 6)} AS max_abs_err
FROM recon""",
)


ANN_VARIANTS = {
    "lsh": "ann_lsh_topk",
    "lsh_multiprobe": "ann_lsh_multiprobe_topk",
    "ivf_fixed": "ann_ivf_topk",
    "ivf_kmeans": "ann_ivf_kmeans_topk",
    "pq_adc": "ann_pq_adc_topk",
    "pq_adc_rotated": "ann_pq_rotated_topk",
}


@model("ann_recall_report", layer="operators", materialization="view")
def ann_recall_report(ctx):
    """Recall@10 of every approximate-ANN variant against the brute-force
    cosine truth — the evaluation harness as a first-class query, so a
    pipeline can gate an index build on measured recall instead of hope.

    Scale shape: each variant's top-k is tiny (queries x k); the truth set
    broadcasts into the hit-check join and everything downstream is a
    |variants|-row aggregate."""
    truth = ctx.ref("ann_cosine_topk").select("query_id", "neighbor_id")
    n_truth = truth.count()  # queries x k, driver-side scalar is fine
    retrieved = None
    for label, model_name in ANN_VARIANTS.items():
        part = ctx.ref(model_name).select(
            F.lit(label).alias("variant"), "query_id", "neighbor_id"
        )
        retrieved = part if retrieved is None else retrieved.unionByName(part)
    hits = retrieved.join(
        F.broadcast(truth.withColumn("is_hit", F.lit(1))),
        ["query_id", "neighbor_id"],
        "left",
    )
    return hits.groupBy("variant").agg(
        F.count(F.lit(1)).cast("long").alias("n_retrieved"),
        F.sum(F.coalesce(F.col("is_hit"), F.lit(0))).cast("long").alias("n_hits"),
        rnd(
            F.sum(F.coalesce(F.col("is_hit"), F.lit(0))).cast("double")
            / F.lit(float(n_truth)),
            6,
        ).alias("recall_at_k"),
    )


oracle(
    "ann_recall_report",
    ("ann_cosine_topk", "ann_lsh_topk", "ann_lsh_multiprobe_topk", "ann_ivf_topk", "ann_ivf_kmeans_topk", "ann_pq_adc_topk", "ann_pq_rotated_topk"),
    """WITH retrieved AS (
    SELECT 'lsh' AS variant, query_id, neighbor_id FROM ann_lsh_topk
    UNION ALL
    SELECT 'lsh_multiprobe' AS variant, query_id, neighbor_id FROM ann_lsh_multiprobe_topk
    UNION ALL
    SELECT 'ivf_fixed' AS variant, query_id, neighbor_id FROM ann_ivf_topk
    UNION ALL
    SELECT 'ivf_kmeans' AS variant, query_id, neighbor_id FROM ann_ivf_kmeans_topk
    UNION ALL
    SELECT 'pq_adc' AS variant, query_id, neighbor_id FROM ann_pq_adc_topk
    UNION ALL
    SELECT 'pq_adc_rotated' AS variant, query_id, neighbor_id FROM ann_pq_rotated_topk
),
marked AS (
    SELECT r.variant,
           CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS is_hit
    FROM retrieved r
    LEFT JOIN ann_cosine_topk t
      ON r.query_id = t.query_id AND r.neighbor_id = t.neighbor_id
),
truth_n AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM ann_cosine_topk
)
SELECT
    variant,
    CAST(COUNT(*) AS BIGINT) AS n_retrieved,
    CAST(SUM(is_hit) AS BIGINT) AS n_hits,
    (FLOOR((CAST(SUM(is_hit) AS DOUBLE) / ANY_VALUE(t.n)) * 1000000.0 + 0.5)
        / 1000000.0) AS recall_at_k
FROM marked CROSS JOIN truth_n t
GROUP BY 1""",
)



# --------------------------------------------------------------------------
# label-cohesion health report
# --------------------------------------------------------------------------

EMB_DIMS = 64


@model("embeddings_label_cohesion", layer="operators", materialization="view")
def embeddings_label_cohesion(ctx):
    """Per-label embedding-cluster health: centroid norm, mean and max
    squared distance to the label centroid — the gate that catches noisy
    labels and collapsed/duplicated embedding regions before a training
    run consumes them.

    Scale: centroids are one (label, dim) aggregation (labels x 64 rows);
    the distance pass re-joins the label-sized centroid table by
    broadcast — the corpus streams exactly twice and never shuffles by
    vector."""
    from dbt_tpch_spark.operators.dedup import DOT_SPARK

    e = ctx.source("embeddings")
    per_dim = (
        e.select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(
            rnd(
                F.sum(F.col("val").cast("double").cast("decimal(38,18)")).cast(
                    "double"
                )
                / F.count(F.lit(1)),
                12,
            ).alias("mv")
        )
    )
    cents = per_dim.groupBy("label").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "mv"))), lambda s: s["mv"]
        ).alias("cent")
    )
    cents = cents.withColumn("cc", F.expr(DOT_SPARK.format(a="cent", b="cent")))
    scored = (
        e.join(F.broadcast(cents), "label")
        .withColumn("vv", F.expr(DOT_SPARK.format(a="embedding", b="embedding")))
        .withColumn(
            "d2",
            F.col("vv")
            - F.lit(2.0) * F.expr(DOT_SPARK.format(a="embedding", b="cent"))
            + F.col("cc"),
        )
    )
    return scored.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        rnd(F.sqrt(F.max("cc")), 6).alias("centroid_norm"),
        rnd(
            F.sum(F.col("d2").cast("decimal(38,18)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_d2"),
        rnd(F.max("d2"), 6).alias("max_d2"),
    )


def _cohesion_oracle() -> str:
    from dbt_tpch_spark.operators.dedup import dot_duck

    dsum18 = lambda x: (  # noqa: E731
        f"CAST(SUM(CAST(({x}) AS DECIMAL(38,18))) AS DOUBLE)"
    )
    return f"""WITH per_dim AS (
    SELECT label, p.pos,
           {rnd_sql(dsum18('CAST(embedding[p.pos] AS DOUBLE)') + ' / COUNT(*)', 12)} AS mv
    FROM embeddings
    CROSS JOIN (SELECT UNNEST(range(1, {EMB_DIMS + 1})) AS pos) p
    GROUP BY 1, 2
),
cents AS (
    SELECT label, list(mv ORDER BY pos) AS cent FROM per_dim GROUP BY label
),
cents_cc AS (
    SELECT label, cent, {dot_duck('cent', 'cent')} AS cc FROM cents
),
scored AS (
    SELECT e.label, c.cc,
           {dot_duck('e.embedding', 'e.embedding')} AS vv,
           {dot_duck('e.embedding', 'c.cent')} AS dp
    FROM embeddings e JOIN cents_cc c ON e.label = c.label
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       {rnd_sql('sqrt(MAX(cc))', 6)} AS centroid_norm,
       {rnd_sql(dsum18('vv - 2.0 * dp + cc') + ' / COUNT(*)', 6)} AS mean_d2,
       {rnd_sql('MAX(vv - 2.0 * dp + cc)', 6)} AS max_d2
FROM scored
GROUP BY label"""


oracle("embeddings_label_cohesion", (), _cohesion_oracle())


# --------------------------------------------------------------------------
# deterministic contrastive negative sampling
# --------------------------------------------------------------------------

NEG_K = 5
NEG_BUCKETS = 16
NEG_PROBES = 4
NEG_SALT = "neg|"
NEG_BUCKET_SALT = "negb|"
NEG_PROBE_SALT = "negq|"


@model("embeddings_negative_samples", layer="operators", materialization="view")
def embeddings_negative_samples(ctx):
    """Deterministic negative sampling for contrastive training: each query
    (vec_id < N_QUERIES) draws NEG_K pseudo-random negatives — vectors with
    a DIFFERENT ground-truth label — plus the exact cosine of each pair
    (the stat a hard-negative-mining curriculum consumes).

    Scale shape (the reason this is not a cross join): every corpus vector
    hashes into one of NEG_BUCKETS buckets; a query probes only the
    NEG_PROBES buckets derived from its own id, so candidate generation is
    an equi-join touching NEG_PROBES/NEG_BUCKETS of the corpus per query —
    the same bucket-then-rank discipline as the LSH ANN path. Within the
    probed slice, the salted md5 of the (query, candidate) pair is the
    sampling key: uniform, reproducible run-to-run and engine-to-engine,
    independent of partition layout. At 100 TB you raise NEG_BUCKETS to
    keep the probed slice constant-sized per query."""
    e = ctx.source("embeddings")
    cand = e.select(
        F.col("vec_id").alias("neg_id"),
        F.col("label").alias("neg_label"),
        F.col("embedding").alias("c_emb"),
        F.expr(DOT_SPARK.format(a="embedding", b="embedding")).alias("c_vv"),
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(NEG_BUCKET_SALT), F.col("vec_id").cast("string")
                    )
                ),
                1,
                1,
            ),
            16,
            10,
        )
        .cast("int")
        .alias("bucket"),
    )
    q = (
        e.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("q_label"),
            F.col("embedding").alias("q_emb"),
            F.expr(DOT_SPARK.format(a="embedding", b="embedding")).alias("q_vv"),
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(NEG_PROBE_SALT),
                            F.col("vec_id").cast("string"),
                        )
                    ),
                    1,
                    1,
                ),
                16,
                10,
            )
            .cast("int")
            .alias("b0"),
            F.explode(
                F.sequence(F.lit(0), F.lit(NEG_PROBES - 1))
            ).alias("probe"),
        )
        .withColumn("bucket", (F.col("b0") + F.col("probe")) % NEG_BUCKETS)
    )
    score = F.md5(
        F.concat(
            F.lit(NEG_SALT),
            F.col("query_id").cast("string"),
            F.lit("|"),
            F.col("neg_id").cast("string"),
        )
    )
    cos = F.expr(DOT_SPARK.format(a="q_emb", b="c_emb")) / (
        F.sqrt(F.col("q_vv")) * F.sqrt(F.col("c_vv"))
    )
    w = Window.partitionBy("query_id").orderBy("sample_key", "neg_id")
    return (
        q.join(cand, "bucket")
        .filter(F.col("q_label") != F.col("neg_label"))
        .withColumn("sample_key", score)
        .withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sample_rank") <= NEG_K)
        .select(
            "query_id",
            "neg_id",
            "neg_label",
            "sample_rank",
            rnd(cos, 6).alias("cosine"),
        )
    )


oracle(
    "embeddings_negative_samples",
    ("embeddings",),
    f"""WITH cand AS (
    SELECT vec_id AS neg_id, label AS neg_label, embedding AS c_emb,
           {dot_duck('embedding', 'embedding')} AS c_vv,
           CAST(strpos('0123456789abcdef', substring(md5(concat('{NEG_BUCKET_SALT}', CAST(vec_id AS VARCHAR))), 1, 1)) - 1 AS INTEGER) AS bucket
    FROM embeddings
),
q AS (
    SELECT e.vec_id AS query_id, e.label AS q_label, e.embedding AS q_emb,
           {dot_duck('e.embedding', 'e.embedding')} AS q_vv,
           (CAST(strpos('0123456789abcdef', substring(md5(concat('{NEG_PROBE_SALT}', CAST(e.vec_id AS VARCHAR))), 1, 1)) - 1 AS INTEGER) + p.probe) % {NEG_BUCKETS} AS bucket
    FROM embeddings e
    CROSS JOIN (SELECT UNNEST(range(0, {NEG_PROBES})) AS probe) p
    WHERE e.vec_id < {N_QUERIES}
),
scored AS (
    SELECT q.query_id, c.neg_id, c.neg_label,
           md5(concat('{NEG_SALT}', CAST(q.query_id AS VARCHAR), '|', CAST(c.neg_id AS VARCHAR))) AS sample_key,
           {rnd_sql(f"{dot_duck('q.q_emb', 'c.c_emb')} / (sqrt(q.q_vv) * sqrt(c.c_vv))", 6)} AS cosine
    FROM q JOIN cand c ON q.bucket = c.bucket AND q.q_label != c.neg_label
),
ranked AS (
    SELECT *,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY sample_key, neg_id
           ) AS BIGINT) AS sample_rank
    FROM scored
)
SELECT query_id, neg_id, neg_label, sample_rank, cosine
FROM ranked WHERE sample_rank <= {NEG_K}""",
)


# --------------------------------------------------------------------------
# cross-label margin-based pair mining (bitext-mining primitive)
# --------------------------------------------------------------------------

#: source / target "language" labels for the mining pass
XL_SRC_LABEL = 0
XL_DST_LABEL = 1
#: neighborhood size for the margin denominator
XL_K = 4
#: fixed-size deterministic per-side sample (bottom-k by salted md5, the
#: sampled-quantiles convention): bounds the A x B stage at O(XL_SAMPLE²)
#: at ANY corpus size. Test corpora have <= ~1000 vectors per label, so at
#: every test SF the sample IS the side and the mining is exact; at 100 TB
#: the sample is the statistically-honest bounded form (or swap the
#: candidate stage for the IVF/LSH bucketing — the margin math is
#: candidate-source-agnostic).
XL_SAMPLE = 1024
_XL_SALT = "xlm|"


@model("embeddings_xlabel_margin", layer="operators", materialization="view")
def embeddings_xlabel_margin(ctx):
    """Margin-based cross-label pair mining (the bitext-mining scoring of
    Artetxe & Schwenk, ACL'19): for every source-label vector, its best
    target-label match scored by the RATIO margin

        margin(x, y) = cos(x, y) / ((fwd_mean(x) + bwd_mean(y)) / 2)

    where fwd_mean(x) is the mean cosine of x to its XL_K nearest
    target-label neighbors and bwd_mean(y) the symmetric quantity — the
    normalization that suppresses "hub" vectors which are close to
    everything and would dominate a raw-cosine mining pass. One row per
    source vector: its argmax-margin match, the raw cosine, both
    neighborhood means, and the margin.

    Each side is a fixed-size deterministic sample (bottom-XL_SAMPLE by
    salted md5 — TakeOrderedAndProject, never a full sort), so the A x B
    stage is O(XL_SAMPLE²) at ANY corpus size; every test SF has fewer
    vectors per label than the sample, so the mining is exact there. At
    100 TB either accept the sampled estimate or feed candidates from the
    IVF/LSH bucketing alongside — the margin math is unchanged either
    way. Neighborhood means are exact decimal sums of 6-dp cosines
    divided by the true neighborhood size, so both engines accumulate
    identically."""
    from dbt_tpch_spark.functions import dsum
    from dbt_tpch_spark.operators.dedup import _doc_parallelism

    e = ctx.source("embeddings")
    skey = F.md5(F.concat(F.lit(_XL_SALT), F.col("vec_id").cast("string")))
    side = lambda lbl: (  # noqa: E731
        _norms(
            e.filter(F.col("label") == lbl)
            .select("vec_id", "label", "embedding", skey.alias("skey"))
            .orderBy("skey")
            .limit(XL_SAMPLE)
            .drop("skey")
            .repartition(_doc_parallelism(ctx), "vec_id")
        )
    )
    a = side(XL_SRC_LABEL).select(
        F.col("vec_id").alias("src_id"),
        F.col("emb").alias("a_emb"),
        F.col("norm").alias("a_norm"),
    )
    b = side(XL_DST_LABEL).select(
        F.col("vec_id").alias("dst_id"),
        F.col("emb").alias("b_emb"),
        F.col("norm").alias("b_norm"),
    )
    cos = F.expr(DOT_SPARK.format(a="a_emb", b="b_emb")) / (
        F.col("a_norm") * F.col("b_norm")
    )
    scored = (
        a.crossJoin(b)
        .withColumn("cosine", rnd(cos, 6))
        .select("src_id", "dst_id", "cosine")
        .localCheckpoint(eager=True)
    )
    w_f = Window.partitionBy("src_id").orderBy(F.col("cosine").desc(), "dst_id")
    w_b = Window.partitionBy("dst_id").orderBy(F.col("cosine").desc(), "src_id")
    r = scored.withColumn("fr", F.row_number().over(w_f)).withColumn(
        "br", F.row_number().over(w_b)
    )
    fm = (
        r.filter(F.col("fr") <= XL_K)
        .groupBy("src_id")
        .agg((dsum(F.col("cosine")) / F.count(F.lit(1))).alias("fwd_mean"))
    )
    bm = (
        r.filter(F.col("br") <= XL_K)
        .groupBy("dst_id")
        .agg((dsum(F.col("cosine")) / F.count(F.lit(1))).alias("bwd_mean"))
    )
    m = (
        scored.join(fm, "src_id")
        .join(bm, "dst_id")
        .withColumn(
            "margin",
            rnd(
                F.col("cosine")
                / ((F.col("fwd_mean") + F.col("bwd_mean")) / F.lit(2.0)),
                6,
            ),
        )
    )
    w_m = Window.partitionBy("src_id").orderBy(
        F.col("margin").desc(), F.col("dst_id")
    )
    return (
        m.withColumn("mr", F.row_number().over(w_m))
        .filter(F.col("mr") == 1)
        .select(
            "src_id",
            F.col("dst_id").alias("matched_id"),
            "cosine",
            rnd(F.col("fwd_mean"), 6).alias("fwd_mean"),
            rnd(F.col("bwd_mean"), 6).alias("bwd_mean"),
            "margin",
        )
    )


oracle(
    "embeddings_xlabel_margin",
    ("embeddings",),
    f"""WITH norms AS (
    SELECT vec_id, label, embedding,
           sqrt({dot_duck('embedding', 'embedding')}) AS norm
    FROM embeddings
),
src AS (
    SELECT vec_id, embedding, norm FROM norms
    WHERE label = {XL_SRC_LABEL}
    ORDER BY md5('{_XL_SALT}' || CAST(vec_id AS VARCHAR))
    LIMIT {XL_SAMPLE}
),
dst AS (
    SELECT vec_id, embedding, norm FROM norms
    WHERE label = {XL_DST_LABEL}
    ORDER BY md5('{_XL_SALT}' || CAST(vec_id AS VARCHAR))
    LIMIT {XL_SAMPLE}
),
scored AS (
    SELECT
        a.vec_id AS src_id,
        b.vec_id AS dst_id,
        {rnd_sql(f"{dot_duck('a.embedding', 'b.embedding')} / (a.norm * b.norm)", 6)} AS cosine
    FROM src a
    CROSS JOIN dst b
),
r AS (
    SELECT *,
        ROW_NUMBER() OVER (PARTITION BY src_id ORDER BY cosine DESC, dst_id) AS fr,
        ROW_NUMBER() OVER (PARTITION BY dst_id ORDER BY cosine DESC, src_id) AS br
    FROM scored
),
fm AS (
    SELECT src_id, {dsum_sql('cosine')} / COUNT(*) AS fwd_mean
    FROM r WHERE fr <= {XL_K} GROUP BY 1
),
bm AS (
    SELECT dst_id, {dsum_sql('cosine')} / COUNT(*) AS bwd_mean
    FROM r WHERE br <= {XL_K} GROUP BY 1
),
m AS (
    SELECT s.src_id, s.dst_id, s.cosine, f.fwd_mean, b.bwd_mean,
        {rnd_sql('s.cosine / ((f.fwd_mean + b.bwd_mean) / 2.0)', 6)} AS margin
    FROM scored s
    JOIN fm f ON s.src_id = f.src_id
    JOIN bm b ON s.dst_id = b.dst_id
)
SELECT src_id, dst_id AS matched_id, cosine,
    {rnd_sql('fwd_mean', 6)} AS fwd_mean,
    {rnd_sql('bwd_mean', 6)} AS bwd_mean,
    margin
FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY src_id ORDER BY margin DESC, dst_id
    ) AS mr FROM m
)
WHERE mr = 1""",
)


# --------------------------------------------------------------------------
# k-center greedy (Gonzalez) diverse sample
# --------------------------------------------------------------------------

#: number of centers picked by the greedy farthest-point pass
KCENTER_K = 8


def _d2_spark(a: str, b: str):
    return (
        F.expr(DOT_SPARK.format(a=a, b=a))
        + F.expr(DOT_SPARK.format(a=b, b=b))
        - F.lit(2.0) * F.expr(DOT_SPARK.format(a=a, b=b))
    )


@model("embeddings_kcenter_sample", layer="operators", materialization="view")
def embeddings_kcenter_sample(ctx):
    """Greedy k-center (farthest-point) sampling — Gonzalez's 2-approx
    algorithm for the k-center objective: seed with the lowest vec_id,
    then repeatedly add the vector FARTHEST from the chosen set (max of
    min squared euclidean distance, ties to the lower vec_id). The
    coreset / diverse-sample primitive of data curation: K points that
    cover the embedding space, unlike a uniform sample that lands K
    points in the densest mode. Each center reports its selection radius
    (its distance to the set when picked — a monotone non-increasing
    coverage profile of the corpus).

    Scale: each of the K rounds is one narrow map (update the running
    min-distance column against the single new center — a 1-row
    broadcast) plus one TakeOrdered(1) argmax; nothing quadratic, no
    KxN literal matrix. Distances quantize to 6 dp BEFORE the argmax so
    both engines pick identical centers."""
    v = ctx.source("embeddings").select("vec_id", "label", "embedding")
    seed = v.orderBy("vec_id").limit(1).localCheckpoint(eager=True)
    mind = (
        v.crossJoin(F.broadcast(seed.select(F.col("embedding").alias("c_emb"))))
        .select(
            "vec_id",
            "label",
            "embedding",
            rnd(_d2_spark("embedding", "c_emb"), 6).alias("mind"),
        )
        .localCheckpoint(eager=True)
    )
    picked = [
        seed.select(
            F.lit(1).cast("long").alias("center_rank"),
            "vec_id",
            "label",
            F.lit(0.0).alias("radius"),
        )
    ]
    for r in range(2, KCENTER_K + 1):
        nxt = (
            mind.orderBy(F.col("mind").desc(), "vec_id")
            .limit(1)
            .localCheckpoint(eager=True)
        )
        picked.append(
            nxt.select(
                F.lit(r).cast("long").alias("center_rank"),
                "vec_id",
                "label",
                F.col("mind").alias("radius"),
            )
        )
        if r < KCENTER_K:
            mind = (
                mind.crossJoin(
                    F.broadcast(nxt.select(F.col("embedding").alias("c_emb")))
                )
                .select(
                    "vec_id",
                    "label",
                    "embedding",
                    F.least(
                        F.col("mind"),
                        rnd(_d2_spark("embedding", "c_emb"), 6),
                    ).alias("mind"),
                )
                .localCheckpoint(eager=True)
            )
    out = picked[0]
    for p in picked[1:]:
        out = out.unionByName(p)
    return out


def _kcenter_oracle() -> str:
    d2 = (
        lambda a, b: f"({dot_duck(a, a)} + {dot_duck(b, b)}"
        f" - 2 * {dot_duck(a, b)})"
    )
    parts = [
        "c1 AS (SELECT vec_id, label, embedding FROM embeddings"
        " ORDER BY vec_id LIMIT 1)",
        f"""m1 AS (
    SELECT e.vec_id, e.label, e.embedding,
           {rnd_sql(d2('e.embedding', 'c.embedding'), 6)} AS mind
    FROM embeddings e CROSS JOIN c1 c
)""",
    ]
    sels = [
        "SELECT CAST(1 AS BIGINT) AS center_rank, vec_id, label,"
        " 0.0 AS radius FROM c1"
    ]
    for r in range(2, KCENTER_K + 1):
        parts.append(
            f"c{r} AS (SELECT vec_id, label, embedding, mind FROM m{r - 1}"
            " ORDER BY mind DESC, vec_id LIMIT 1)"
        )
        sels.append(
            f"SELECT CAST({r} AS BIGINT), vec_id, label, mind FROM c{r}"
        )
        if r < KCENTER_K:
            parts.append(
                f"""m{r} AS (
    SELECT e.vec_id, e.label, e.embedding,
           LEAST(e.mind, {rnd_sql(d2('e.embedding', 'c.embedding'), 6)}) AS mind
    FROM m{r - 1} e CROSS JOIN c{r} c
)"""
            )
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(sels)


oracle("embeddings_kcenter_sample", ("embeddings",), _kcenter_oracle())


# --------------------------------------------------------------------------
# near-duplicate threshold sweep: pair counts per cosine bin
# --------------------------------------------------------------------------

#: sweep floor — on this corpus the interesting mass sits in [0.2, 0.5]
#: (synthetic embeddings are near-orthogonal; see TESTDATA.md), so the
#: sweep starts low enough to expose the elbow.
CURVE_MIN_COS = 0.2
#: bin width for the threshold curve (0.05 cosine per bin).
CURVE_BINS_PER_UNIT = 20
#: fixed-size deterministic sample for the pair stage: bottom-k vectors by
#: salted md5 (the events_sampled_quantiles convention). The curve is a
#: distribution estimate, so a uniform sample is statistically honest and
#: makes the all-pairs stage O(SAMPLE^2) — constant at any SF. Measured:
#: the unsampled pair join took 187 s at sf0.1 (50k^2 pairs) vs ~2 s sampled.
CURVE_SAMPLE = 1024
CURVE_SALT = "curve|"


@model("embeddings_dup_threshold_curve", layer="operators", materialization="view")
def embeddings_dup_threshold_curve(ctx):
    """Dedup-threshold planning curve: for each 0.05-wide cosine bin at or
    above the sweep floor, the number of embedding pairs in the bin and the cumulative
    pairs AT OR ABOVE the bin's lower edge — i.e. how many near-duplicate
    pairs (and thus how much survivor-selection work, and how much corpus
    you delete) each candidate threshold implies. Run before committing
    SEMDEDUP_THRESHOLD-style cutoffs: the elbow of this curve is the
    defensible threshold, not a folklore constant.

    Scale shape: the pair stage runs on a FIXED-SIZE deterministic sample
    (bottom-CURVE_SAMPLE vectors by salted md5 — TakeOrderedAndProject,
    never a full sort), so it costs O(CURVE_SAMPLE²) at ANY corpus size;
    the curve is a distribution estimate, so uniform sampling is
    statistically honest in a way it is NOT for dedup itself. Below the
    sample size (sf0.001) the sample is the whole corpus and the curve is
    exact — the oracle applies the identical selection. The histogram
    itself is one bounded agg (<= 11 bins) plus a single-partition window
    over those bins — bounded grain, invariant-exempt."""
    from dbt_tpch_spark.operators.dedup import _doc_parallelism

    e = ctx.source("embeddings")
    skey = F.md5(F.concat(F.lit(CURVE_SALT), F.col("vec_id").cast("string")))
    # limit() leaves ONE partition and AQE would re-coalesce a column-only
    # repartition (the sample is ~300 KB but each row costs a 64-element
    # decimal dot per pair) — fan out with an EXPLICIT partition count,
    # which AQE respects (measured 171 s single-threaded vs ~8 s fanned)
    sampled = (
        e.select("vec_id", "embedding", skey.alias("skey"))
        .orderBy("skey")
        .limit(CURVE_SAMPLE)
        .repartition(_doc_parallelism(ctx), "vec_id")
    )
    # checkpoint per-VECTOR norms: inlined, the norm_sq decimal dot would
    # be re-evaluated per PAIR on both sides (measured 3x the pair cost).
    # bounded_checkpoint registers the frame as fixed-size (it descends
    # from the CURVE_SAMPLE limit) so the pair-stage invariant can see
    # through the checkpoint's provenance erasure.
    from dbt_tpch_spark.plans.audit import bounded_checkpoint

    norms = bounded_checkpoint(
        sampled.select(
            "vec_id",
            F.col("embedding").alias("emb"),
            F.expr(DOT_SPARK.format(a="embedding", b="embedding")).alias(
                "norm_sq"
            ),
        )
    )
    a = norms.select(
        F.col("vec_id").alias("vec_a"),
        F.col("emb").alias("emb_a"),
        F.col("norm_sq").alias("norm_a"),
    )
    b = norms.select(
        F.col("vec_id").alias("vec_b"),
        F.col("emb").alias("emb_b"),
        F.col("norm_sq").alias("norm_b"),
    )
    cos = rnd(
        F.expr(DOT_SPARK.format(a="emb_a", b="emb_b"))
        / (F.sqrt(F.col("norm_a")) * F.sqrt(F.col("norm_b"))),
        6,
    )
    # checkpoint the cosine-only frame: the filter below would otherwise
    # be pushed under the projection and re-evaluate the decimal dot per
    # reference (the multi-reference inlining hazard, PLANS.md round-4)
    scored = (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select(cos.alias("cosine"))
        .localCheckpoint(eager=True)
    )
    binned = scored.filter(F.col("cosine") >= CURVE_MIN_COS).select(
        (
            F.floor(F.col("cosine") * CURVE_BINS_PER_UNIT)
            / CURVE_BINS_PER_UNIT
        ).alias("threshold"),
    )
    hist = binned.groupBy("threshold").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    w = (
        Window.orderBy(F.desc("threshold"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return hist.select(
        "threshold",
        "n_pairs",
        F.sum("n_pairs").over(w).cast("long").alias("pairs_at_or_above"),
    )


oracle(
    "embeddings_dup_threshold_curve",
    ("embeddings",),
    f"""WITH sampled AS (
    SELECT vec_id, embedding
    FROM embeddings
    ORDER BY md5('{CURVE_SALT}' || CAST(vec_id AS VARCHAR))
    LIMIT {CURVE_SAMPLE}
),
norms AS (
    SELECT vec_id, embedding, {dot_duck('embedding', 'embedding')} AS norm_sq
    FROM sampled
),
pairs AS (
    SELECT {rnd_sql(
        f"{dot_duck('a.embedding', 'b.embedding')}"
        " / (sqrt(a.norm_sq) * sqrt(b.norm_sq))", 6
    )} AS cosine
    FROM norms a JOIN norms b ON a.vec_id < b.vec_id
),
hist AS (
    SELECT floor(cosine * {CURVE_BINS_PER_UNIT}) / {CURVE_BINS_PER_UNIT} AS threshold,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM pairs
    WHERE cosine >= {CURVE_MIN_COS}
    GROUP BY 1
)
SELECT threshold, n_pairs,
       CAST(SUM(n_pairs) OVER (ORDER BY threshold DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS pairs_at_or_above
FROM hist""",
)


# --------------------------------------------------------------------------
# leave-one-out k-NN label accuracy (embedding-quality gate)
# --------------------------------------------------------------------------

#: fixed-size deterministic sample for the LOO k-NN report (bottom-k by
#: salted md5) — the pairwise stage is O(KNN_SAMPLE²) at ANY corpus size.
KNN_SAMPLE = 256
KNN_K = 5
_KNN_SALT = "knn|"


@model(
    "embeddings_knn_label_accuracy",
    layer="operators",
    materialization="view",
)
def embeddings_knn_label_accuracy(ctx):
    """Leave-one-out k-NN label accuracy on a fixed-size deterministic
    sample: each sampled vector is classified by the majority label of
    its KNN_K nearest sampled neighbors by cosine (ties: higher cosine
    sum wins, then smaller label) and scored against its own label — the
    embedding-quality gate that turns label_cohesion's geometry into an
    accuracy number a model card can state. One row per true label plus
    counts to compute the overall rate.

    Scale shape: the pairwise stage runs ONLY on the
    bottom-KNN_SAMPLE-by-md5 sample (bounded_checkpoint-registered); the
    neighbor rank is a sample-grain window; everything downstream is
    label-cardinality."""
    from dbt_tpch_spark.functions import dsum
    from dbt_tpch_spark.plans.audit import bounded_checkpoint

    e = ctx.source("embeddings")
    skey = F.md5(
        F.concat(F.lit(_KNN_SALT), F.col("vec_id").cast("string"))
    )
    sample = bounded_checkpoint(
        _norms(e)
        .select("vec_id", "label", "emb", "norm", skey.alias("sk"))
        .orderBy("sk")
        .limit(KNN_SAMPLE)
        .drop("sk")
    )
    q = sample.select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("true_label"),
        F.col("emb").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )
    c = sample.select(
        F.col("vec_id").alias("nid"),
        F.col("label").alias("n_label"),
        F.col("emb").alias("c_emb"),
        F.col("norm").alias("c_norm"),
    )
    cos = F.expr(DOT_SPARK.format(a="q_emb", b="c_emb")) / (
        F.col("q_norm") * F.col("c_norm")
    )
    scored = (
        q.join(c, F.col("qid") != F.col("nid"))
        .select(
            "qid",
            "true_label",
            "nid",
            "n_label",
            rnd(cos, 6).alias("cosine"),
        )
        .localCheckpoint(eager=True)
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), "nid")
    knn = scored.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= KNN_K
    )
    votes = knn.groupBy("qid", "true_label", "n_label").agg(
        F.count(F.lit(1)).cast("long").alias("n_votes"),
        dsum(F.col("cosine")).alias("cos_sum"),
    )
    w_v = Window.partitionBy("qid").orderBy(
        F.desc("n_votes"), F.desc("cos_sum"), "n_label"
    )
    pred = (
        votes.withColumn("vrk", F.row_number().over(w_v))
        .filter(F.col("vrk") == 1)
        .select(
            "qid",
            "true_label",
            F.col("n_label").alias("predicted_label"),
        )
    )
    return pred.groupBy(F.col("true_label").alias("label")).agg(
        F.count(F.lit(1)).cast("long").alias("n_scored"),
        F.sum(
            F.when(F.col("true_label") == F.col("predicted_label"), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("n_correct"),
        rnd(
            F.sum(
                F.when(
                    F.col("true_label") == F.col("predicted_label"), 1
                ).otherwise(0)
            ).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("accuracy"),
    )


def _knn_accuracy_oracle() -> str:
    from dbt_tpch_spark.models.oracle import dsum_sql

    return f"""WITH sample AS (
    SELECT vec_id, label, embedding,
           sqrt({dot_duck('embedding', 'embedding')}) AS norm
    FROM embeddings
    ORDER BY md5('{_KNN_SALT}' || CAST(vec_id AS VARCHAR))
    LIMIT {KNN_SAMPLE}
),
scored AS (
    SELECT
        q.vec_id AS qid, q.label AS true_label, c.vec_id AS nid,
        c.label AS n_label,
        {rnd_sql(f"{dot_duck('q.embedding', 'c.embedding')} / (q.norm * c.norm)", 6)} AS cosine
    FROM sample q JOIN sample c ON q.vec_id != c.vec_id
),
knn AS (
    SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY qid ORDER BY cosine DESC, nid
        ) AS rk FROM scored
    ) WHERE rk <= {KNN_K}
),
votes AS (
    SELECT qid, true_label, n_label,
        CAST(COUNT(*) AS BIGINT) AS n_votes,
        {dsum_sql('cosine')} AS cos_sum
    FROM knn GROUP BY 1, 2, 3
),
pred AS (
    SELECT qid, true_label, n_label AS predicted_label FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY qid
            ORDER BY n_votes DESC, cos_sum DESC, n_label
        ) AS vrk FROM votes
    ) WHERE vrk = 1
)
SELECT true_label AS label,
    CAST(COUNT(*) AS BIGINT) AS n_scored,
    CAST(SUM(CASE WHEN true_label = predicted_label THEN 1 ELSE 0 END)
        AS BIGINT) AS n_correct,
    {rnd_sql('CAST(SUM(CASE WHEN true_label = predicted_label THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)', 6)}
        AS accuracy
FROM pred
GROUP BY 1"""


oracle(
    "embeddings_knn_label_accuracy",
    ("embeddings",),
    _knn_accuracy_oracle(),
)
