"""Distributed PCA over the ``embeddings`` table: covariance from
sufficient statistics plus a fixed-round power iteration for the top
principal component — the whitening/compression primitive next to PQ
(operators/pq.py) in an embedding-pipeline toolbox.

Extension surface (the reference has no counterpart). Fourth user of the
iterative-parity playbook (kmeans, PQ, PageRank before it): fixed
PCA_ITERS power-iteration rounds unrolled as oracle CTEs, exact-decimal
sums everywhere, state re-quantized (rnd 12) every round so both engines
carry bit-identical vectors into the next iteration.

Scale shape — the part that matters at 100 TB: the ONLY pass over the
corpus computes sufficient statistics with map-side partial aggregation:
per-dimension sums (64 groups) and raw second moments S_ij = sum(x_i*x_j)
(DIMS^2 = 4096 groups after an in-row (i, j) pair expansion — no join, no
second scan). Covariance derives exactly as C = (S - n*m*m^T)/(n-1).
Everything after — the power iteration — runs on DIMS^2-row frames,
independent of corpus size. This is the textbook "aggregate sufficient
statistics, then solve small" decomposition (e.g. Spark MLlib's own
RowMatrix.computeCovariance does the same reduction).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dbt_tpch_spark.functions import barrier, rnd
from dbt_tpch_spark.models.oracle import oracle, rnd_sql
from dbt_tpch_spark.plans import model

DIMS = 64
PCA_ITERS = 5

#: exact accumulation type for moment sums (products of O(1) floats)
_MOM_DECIMAL = "decimal(38,18)"


def _msum(col):
    return F.sum(col.cast(_MOM_DECIMAL)).cast("double")


def _msum_sql(expr: str) -> str:
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(38,18))) AS DOUBLE)"


def _covariance(ctx):
    """(n, means-broadcast, C) — C has one row per (i, j), 1-based dims."""
    e = ctx.source("embeddings").select("embedding")
    n = e.count()
    # single corpus pass: per-dim first moments + raw second moments, both
    # map-side-combinable aggregations over the in-row pair expansion
    xi = e.select(F.posexplode("embedding").alias("i0", "x"))
    means = (
        xi.groupBy((F.col("i0") + 1).alias("i"))
        .agg((_msum(F.col("x").cast("double")) / F.lit(float(n))).alias("m"))
    )
    # round-11: exploit S_ij = S_ji exactly — x_i * x_j is the SAME double
    # product in either order and the decimal sum is order-free, so the
    # upper triangle (j >= i) carries every distinct value bit-identically.
    # The pair expansion (the query's dominant CPU: n * DIMS^2 rows of
    # exact-decimal accumulation) halves to n * DIMS*(DIMS+1)/2 rows; the
    # full matrix is restored by mirroring the DIMS^2-row *result* frame.
    # The inner explode runs over the suffix slice, so the halved rows are
    # never generated at all (a post-explode filter would still pay them).
    pairs = e.select(
        F.posexplode("embedding").alias("i0", "xi"), "embedding"
    ).select(
        (F.col("i0") + 1).alias("i"),
        F.col("xi").cast("double").alias("xi"),
        F.posexplode(
            F.expr("slice(embedding, i0 + 1, size(embedding) - i0)")
        ).alias("j0", "xj"),
    )
    s = pairs.groupBy("i", (F.col("i") + F.col("j0")).alias("j")).agg(
        _msum(F.col("xi") * F.col("xj").cast("double")).alias("s")
    )
    mi = means.select(F.col("i"), F.col("m").alias("mi"))
    mj = means.select(F.col("i").alias("j"), F.col("m").alias("mj"))
    c_upper = (
        s.join(F.broadcast(mi), "i")
        .join(F.broadcast(mj), "j")
        .select(
            "i",
            "j",
            rnd(
                (F.col("s") - F.lit(float(n)) * F.col("mi") * F.col("mj"))
                / F.lit(float(n - 1)),
                12,
            ).alias("c"),
        )
        .transform(barrier)
    )
    # mirror the strict upper triangle; c_ij = c_ji by the identity above
    # (n*mi*mj is symmetric too), so the union IS the old full matrix
    c = c_upper.unionByName(
        c_upper.filter(F.col("i") != F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "c"
        )
    )
    return n, c


@model("embeddings_pca_variance", layer="operators", materialization="view")
def embeddings_pca_variance(ctx):
    """Top principal component of the embedding corpus: per-dimension
    loading, the dominant eigenvalue (Rayleigh quotient), total variance
    (trace of the covariance), and the explained-variance ratio.

    Power iteration from the exact uniform start v0 = 1/8 (= 1/sqrt(DIMS),
    exactly representable): each round is one join of the DIMS^2-row C with
    the DIMS-row v, a DIMS-group exact-decimal matvec, and an IEEE
    normalize — corpus-size-independent, tiny, checkpointed per round to
    keep the plan shallow."""
    n, c = _covariance(ctx)
    spark = ctx.spark
    v = spark.range(1, DIMS + 1).select(
        F.col("id").alias("j"), F.lit(0.125).alias("v")
    )
    for _ in range(PCA_ITERS):
        w = (
            c.join(F.broadcast(v), "j")
            .groupBy("i")
            .agg(_msum(F.col("c") * F.col("v")).alias("w"))
        )
        norm = w.agg(F.sqrt(_msum(F.col("w") * F.col("w"))).alias("nrm"))
        v = (
            w.crossJoin(F.broadcast(norm))
            .select(
                F.col("i").alias("j"),
                rnd(F.col("w") / F.col("nrm"), 12).alias("v"),
            )
            .transform(barrier)
        )
    vi = v.select(F.col("j").alias("i"), F.col("v").alias("vi"))
    lam = (
        c.join(F.broadcast(vi), "i")
        .join(F.broadcast(v), "j")
        .agg(rnd(_msum(F.col("vi") * F.col("c") * F.col("v")), 8).alias("eigenvalue"))
    )
    trace = c.filter(F.col("i") == F.col("j")).agg(
        rnd(_msum(F.col("c")), 8).alias("total_variance")
    )
    return (
        v.crossJoin(F.broadcast(lam))
        .crossJoin(F.broadcast(trace))
        .select(
            F.col("j").cast("long").alias("dim"),
            F.col("v").alias("loading"),
            "eigenvalue",
            "total_variance",
            rnd(F.col("eigenvalue") / F.col("total_variance"), 8).alias(
                "explained_ratio"
            ),
        )
    )


def _pca_prelude() -> str:
    parts = [
        f"""dims AS (SELECT UNNEST(range(1, {DIMS + 1})) AS i)""",
        """nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM embeddings)""",
        f"""means AS (
    SELECT d.i,
           {_msum_sql('CAST(embedding[d.i] AS DOUBLE)')} / ANY_VALUE(nn.n) AS m
    FROM embeddings CROSS JOIN dims d CROSS JOIN nn
    GROUP BY d.i
)""",
        f"""smom AS (
    SELECT di.i, dj.i AS j,
           {_msum_sql('CAST(embedding[di.i] AS DOUBLE) * CAST(embedding[dj.i] AS DOUBLE)')} AS s
    FROM embeddings CROSS JOIN dims di CROSS JOIN dims dj
    GROUP BY di.i, dj.i
)""",
        f"""cov AS (
    SELECT s.i, s.j,
           {rnd_sql('(s.s - nn.n * mi.m * mj.m) / (nn.n - 1.0)', 12)} AS c
    FROM smom s
    JOIN means mi ON s.i = mi.i
    JOIN means mj ON s.j = mj.i
    CROSS JOIN nn
)""",
        f"""v0 AS (SELECT i AS j, 0.125 AS v FROM dims)""",
    ]
    for t in range(1, PCA_ITERS + 1):
        parts.append(
            f"""w{t} AS (
    SELECT c.i, {_msum_sql('c.c * v.v')} AS w
    FROM cov c JOIN v{t - 1} v ON c.j = v.j
    GROUP BY c.i
)"""
        )
        parts.append(
            f"""n{t} AS (SELECT sqrt({_msum_sql('w * w')}) AS nrm FROM w{t})"""
        )
        parts.append(
            f"""v{t} AS (
    SELECT w.i AS j, {rnd_sql('w.w / n.nrm', 12)} AS v
    FROM w{t} w CROSS JOIN n{t} n
)"""
        )
    parts.append(
        f"""lam AS (
    SELECT {rnd_sql(_msum_sql('vi.v * c.c * vj.v'), 8)} AS eigenvalue
    FROM cov c
    JOIN v{PCA_ITERS} vi ON c.i = vi.j
    JOIN v{PCA_ITERS} vj ON c.j = vj.j
)"""
    )
    parts.append(
        f"""tr AS (
    SELECT {rnd_sql(_msum_sql('c'), 8)} AS total_variance
    FROM cov WHERE i = j
)"""
    )
    return ",\n".join(parts)


oracle(
    "embeddings_pca_variance",
    ("embeddings",),
    f"""WITH {_pca_prelude()}
SELECT
    CAST(v.j AS BIGINT) AS dim,
    v.v AS loading,
    lam.eigenvalue,
    tr.total_variance,
    {rnd_sql('lam.eigenvalue / tr.total_variance', 8)} AS explained_ratio
FROM v{PCA_ITERS} v CROSS JOIN lam CROSS JOIN tr""",
)


# --------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection (data-independent dim reduction)
# --------------------------------------------------------------------------

RP_DIMS = 16
RP_SAMPLE_MAX_ID = 32  # distortion report pairs drawn from vec_id < 32
# a module-constant prefix sample: declare it SF-independent so the
# pair-stage invariant accepts the all-pairs distortion report over it
from dbt_tpch_spark.plans.audit import register_bounded_filter  # noqa: E402

register_bounded_filter(f"vec_id < {RP_SAMPLE_MAX_ID}")


def _rp_signs() -> list[list[int]]:
    """Deterministic ±1 projection matrix from md5 parity — computed once
    in Python and embedded as LITERALS into both the Spark plan and the
    oracle SQL, so cross-engine identity holds by construction (no engine
    hashing involved)."""
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"rp|{i}|{j}".encode()).hexdigest()[-1], 16) % 2
            else -1
            for i in range(64)
        ]
        for j in range(RP_DIMS)
    ]


def _rp_proj_spark(j: int, signs) -> F.Column:
    """Projected coordinate j: exact-decimal dot of the embedding with the
    literal sign row, scaled by 1/sqrt(RP_DIMS) — the same DECIMAL(38,18)
    accumulation as every other vector op, so it is order-independent."""
    from dbt_tpch_spark.operators.dedup import DOT_SPARK

    arr = "array(" + ", ".join(f"CAST({s} AS DOUBLE)" for s in signs[j]) + ")"
    dot = F.expr(DOT_SPARK.format(a="embedding", b=arr))
    return dot / (RP_DIMS ** 0.5)


def _rp_proj_duck(j: int, signs) -> str:
    from dbt_tpch_spark.operators.dedup import dot_duck

    arr = "[" + ", ".join(f"CAST({s} AS DOUBLE)" for s in signs[j]) + "]"
    return f"({dot_duck('embedding', arr)} / {RP_DIMS ** 0.5!r})"


@model("embeddings_random_projection", layer="operators", materialization="view")
def embeddings_random_projection(ctx):
    """Johnson-Lindenstrauss random projection 64 -> RP_DIMS dims with a
    deterministic ±1 matrix — the data-independent companion to PCA: no
    training pass, no corpus statistics, so at 100 TB it is a pure
    map-only scan (zero shuffles) that any executor can apply
    independently. The embedded sign matrix is the broadcast-free
    equivalent of shipping a codebook."""
    signs = _rp_signs()
    e = ctx.source("embeddings")
    return e.select(
        "vec_id",
        "label",
        *[
            rnd(_rp_proj_spark(j, signs), 6).alias(f"rp{j}")
            for j in range(RP_DIMS)
        ],
    )


def _rp_oracle() -> str:
    signs = _rp_signs()
    cols = ",\n    ".join(
        f"{rnd_sql(_rp_proj_duck(j, signs), 6)} AS rp{j}"
        for j in range(RP_DIMS)
    )
    return f"""SELECT
    vec_id,
    label,
    {cols}
FROM embeddings"""


oracle("embeddings_random_projection", ("embeddings",), _rp_oracle())


@model("embeddings_rp_distortion", layer="operators", materialization="view")
def embeddings_rp_distortion(ctx):
    """JL quality report: over all pairs among vec_id < RP_SAMPLE_MAX_ID,
    compare original-space cosine to projected-space cosine and report
    count, mean and max absolute error — the measured guarantee behind
    using the projection as an ANN pre-filter. Per-pair errors are 9-dp
    quantized then exact-decimal summed (order-free)."""
    from dbt_tpch_spark.functions import dsum
    from dbt_tpch_spark.operators.dedup import DOT_SPARK

    signs = _rp_signs()
    e = ctx.source("embeddings").filter(F.col("vec_id") < RP_SAMPLE_MAX_ID)
    proj = e.select(
        "vec_id",
        F.col("embedding").alias("emb"),
        F.expr(DOT_SPARK.format(a="embedding", b="embedding")).alias("vv"),
        F.array(
            *[_rp_proj_spark(j, signs) for j in range(RP_DIMS)]
        ).alias("p"),
    )
    a = proj.select(
        F.col("vec_id").alias("vec_a"),
        F.col("emb").alias("emb_a"),
        F.col("vv").alias("vv_a"),
        F.col("p").alias("p_a"),
    )
    b = proj.select(
        F.col("vec_id").alias("vec_b"),
        F.col("emb").alias("emb_b"),
        F.col("vv").alias("vv_b"),
        F.col("p").alias("p_b"),
    )
    pairs = a.join(b, F.col("vec_a") < F.col("vec_b"))
    cos_orig = F.expr(DOT_SPARK.format(a="emb_a", b="emb_b")) / (
        F.sqrt(F.col("vv_a")) * F.sqrt(F.col("vv_b"))
    )
    cos_rp = F.expr(DOT_SPARK.format(a="p_a", b="p_b")) / (
        F.sqrt(F.expr(DOT_SPARK.format(a="p_a", b="p_a")))
        * F.sqrt(F.expr(DOT_SPARK.format(a="p_b", b="p_b")))
    )
    err = rnd(F.abs(cos_rp - cos_orig), 9)
    return pairs.select(err.alias("abs_err")).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        rnd(dsum(F.col("abs_err")) / F.count(F.lit(1)), 6).alias(
            "mean_abs_cos_err"
        ),
        rnd(F.max("abs_err"), 6).alias("max_abs_cos_err"),
    )


def _rp_distortion_oracle() -> str:
    from dbt_tpch_spark.models.oracle import dsum_sql
    from dbt_tpch_spark.operators.dedup import dot_duck

    signs = _rp_signs()
    parr = (
        "["
        + ", ".join(_rp_proj_duck(j, signs) for j in range(RP_DIMS))
        + "]"
    )
    return f"""WITH proj AS (
    SELECT vec_id, embedding AS emb,
           {dot_duck('embedding', 'embedding')} AS vv,
           {parr} AS p
    FROM embeddings WHERE vec_id < {RP_SAMPLE_MAX_ID}
),
pairs AS (
    SELECT
        {rnd_sql(
            f"abs({dot_duck('a.p', 'b.p')}"
            f" / (sqrt({dot_duck('a.p', 'a.p')}) * sqrt({dot_duck('b.p', 'b.p')}))"
            f" - {dot_duck('a.emb', 'b.emb')} / (sqrt(a.vv) * sqrt(b.vv)))",
            9,
        )} AS abs_err
    FROM proj a JOIN proj b ON a.vec_id < b.vec_id
)
SELECT
    CAST(COUNT(*) AS BIGINT) AS n_pairs,
    {rnd_sql(dsum_sql('abs_err') + ' / COUNT(*)', 6)} AS mean_abs_cos_err,
    {rnd_sql('MAX(abs_err)', 6)} AS max_abs_cos_err
FROM pairs"""


oracle("embeddings_rp_distortion", ("embeddings",), _rp_distortion_oracle())


# --------------------------------------------------------------------------
# label-centroid similarity (confusion-risk screen)
# --------------------------------------------------------------------------


@model("embeddings_centroid_similarity", layer="operators", materialization="view")
def embeddings_centroid_similarity(ctx):
    """Pairwise cosine similarity between per-label centroid vectors —
    the label-confusion screen run before trusting a labeled embedding
    corpus (two labels whose centroids sit at cosine ~1 will not
    separate under any downstream classifier; also the cluster-merge
    heuristic for taxonomy cleanup).

    Scale: one posexplode pass to (label, dim) grain — |labels| x DIMS
    rows regardless of SF, map-side combinable — then all pair math runs
    on that tiny frame. Determinism: per-dim means and all dot/norm
    accumulations through DECIMAL(38,18) (the PCA moment convention),
    final cosine rounded at 6 dp."""
    e = ctx.source("embeddings")
    dims = e.select("label", F.posexplode("embedding").alias("pos", "val"))
    cents = dims.groupBy("label", "pos").agg(
        (_msum(F.col("val").cast("double")) / F.count(F.lit(1))).alias("c")
    )
    norms = cents.groupBy("label").agg(
        _msum(F.col("c") * F.col("c")).alias("nn")
    )
    counts = e.groupBy("label").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = cents.withColumnsRenamed({"label": "label_a", "c": "ca"})
    b = cents.withColumnsRenamed({"label": "label_b", "c": "cb"})
    dots = (
        a.join(b, "pos")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(_msum(F.col("ca") * F.col("cb")).alias("dot"))
    )
    na = norms.withColumnsRenamed({"label": "label_a", "nn": "nna"})
    nb = norms.withColumnsRenamed({"label": "label_b", "nn": "nnb"})
    ca_ = counts.withColumnsRenamed({"label": "label_a", "n": "n_a"})
    cb_ = counts.withColumnsRenamed({"label": "label_b", "n": "n_b"})
    return (
        dots.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .join(F.broadcast(ca_), "label_a")
        .join(F.broadcast(cb_), "label_b")
        .select(
            "label_a",
            "label_b",
            "n_a",
            "n_b",
            rnd(
                F.col("dot") / (F.sqrt(F.col("nna")) * F.sqrt(F.col("nnb"))),
                6,
            ).alias("centroid_cosine"),
        )
    )


oracle(
    "embeddings_centroid_similarity",
    ("embeddings",),
    f"""WITH dims AS (
    SELECT UNNEST(range(1, {DIMS + 1})) AS i
),
cents AS (
    SELECT label, d.i AS pos,
           {_msum_sql('CAST(embedding[d.i] AS DOUBLE)')} / COUNT(*) AS c
    FROM embeddings CROSS JOIN dims d
    GROUP BY label, d.i
),
norms AS (
    SELECT label, {_msum_sql('c * c')} AS nn FROM cents GROUP BY label
),
counts AS (
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n FROM embeddings GROUP BY label
),
dots AS (
    SELECT a.label AS label_a, b.label AS label_b,
           {_msum_sql('a.c * b.c')} AS dot
    FROM cents a
    JOIN cents b ON a.pos = b.pos AND a.label < b.label
    GROUP BY 1, 2
)
SELECT
    d.label_a,
    d.label_b,
    ca.n AS n_a,
    cb.n AS n_b,
    {rnd_sql('d.dot / (SQRT(na.nn) * SQRT(nb.nn))', 6)} AS centroid_cosine
FROM dots d
JOIN norms na ON d.label_a = na.label
JOIN norms nb ON d.label_b = nb.label
JOIN counts ca ON d.label_a = ca.label
JOIN counts cb ON d.label_b = cb.label""",
)


# --------------------------------------------------------------------------
# per-label embedding outliers (diagonal Mahalanobis distance)
# --------------------------------------------------------------------------

#: outliers reported per label
OUTLIER_K = 5


@model("embeddings_label_outliers", layer="operators", materialization="view")
def embeddings_label_outliers(ctx):
    """Label-noise screening: the OUTLIER_K vectors farthest from their
    label's centroid under the diagonal Mahalanobis distance
    sum_d ((x_d - mu_d) / sigma_d)^2 — per-dimension standardization so a
    high-variance dimension cannot dominate the way raw euclidean
    distance lets it. The standard embedding-QA pass that surfaces
    mislabeled / garbage vectors before centroid or classifier training.

    Scale: per-(label, dim) sufficient statistics are ONE aggregation to
    a bounded |labels| x DIMS frame that broadcasts back; scoring is a
    map-side join + per-vector exact-decimal sum; the per-label rank
    filter plans as WindowGroupLimit (running top-k per label, no full
    sort materialization)."""
    from pyspark.sql.window import Window

    e = ctx.source("embeddings")
    xi = e.select(
        "vec_id", "label", F.posexplode("embedding").alias("i0", "x0")
    ).select("vec_id", "label", "i0", F.col("x0").cast("double").alias("x"))
    stats = (
        xi.groupBy("label", "i0")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            _msum(F.col("x")).alias("m1"),
            _msum(F.col("x") * F.col("x")).alias("m2"),
        )
        .withColumn("mu", F.col("m1") / F.col("n"))
        .withColumn(
            "var",
            (F.col("m2") - F.col("n") * F.col("mu") * F.col("mu"))
            / (F.col("n") - F.lit(1)),
        )
    )
    term = rnd(
        F.coalesce(
            (F.col("x") - F.col("mu"))
            * (F.col("x") - F.col("mu"))
            / F.nullif(F.col("var"), F.lit(0.0)),
            F.lit(0.0),
        ),
        9,
    )
    z2 = (
        xi.join(F.broadcast(stats.select("label", "i0", "mu", "var")), ["label", "i0"])
        .withColumn("term", term)
        .groupBy("vec_id", "label")
        .agg(rnd(_msum(F.col("term")), 6).alias("mahal2_diag"))
    )
    w = Window.partitionBy("label").orderBy(
        F.col("mahal2_diag").desc(), F.col("vec_id")
    )
    return (
        z2.withColumn("outlier_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("outlier_rank") <= OUTLIER_K)
        .select("label", "vec_id", "mahal2_diag", "outlier_rank")
    )


oracle(
    "embeddings_label_outliers",
    ("embeddings",),
    f"""WITH dims AS (
    SELECT UNNEST(range(1, {DIMS + 1})) AS i
),
xi AS (
    SELECT e.vec_id, e.label, d.i,
           CAST(e.embedding[d.i] AS DOUBLE) AS x
    FROM embeddings e CROSS JOIN dims d
),
stats AS (
    SELECT label, i,
        CAST(COUNT(*) AS BIGINT) AS n,
        {_msum_sql('x')} AS m1,
        {_msum_sql('x * x')} AS m2
    FROM xi GROUP BY 1, 2
),
mv AS (
    SELECT label, i,
        m1 / n AS mu,
        (m2 - n * (m1 / n) * (m1 / n)) / (n - 1) AS var
    FROM stats
),
scored AS (
    SELECT x.vec_id, x.label,
        {rnd_sql(
            "COALESCE((x.x - s.mu) * (x.x - s.mu) / NULLIF(s.var, 0.0), 0.0)",
            9,
        )} AS term
    FROM xi x JOIN mv s ON x.label = s.label AND x.i = s.i
),
z2 AS (
    SELECT vec_id, label, {rnd_sql(_msum_sql('term'), 6)} AS mahal2_diag
    FROM scored GROUP BY 1, 2
)
SELECT label, vec_id, mahal2_diag,
    CAST(ROW_NUMBER() OVER (
        PARTITION BY label ORDER BY mahal2_diag DESC, vec_id
    ) AS BIGINT) AS outlier_rank
FROM z2
QUALIFY outlier_rank <= {OUTLIER_K}""",
)
