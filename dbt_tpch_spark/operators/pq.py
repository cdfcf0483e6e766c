"""Product quantization (PQ) over the ``embeddings`` table: per-subvector
codebook training, code assignment, and asymmetric-distance (ADC) top-k
search — the bandwidth-saving companion to the k-means IVF in
operators/kmeans.py (Jegou et al., "Product Quantization for Nearest
Neighbor Search", TPAMI 2011).

A 64-dim float vector (256 bytes) compresses to M=8 one-byte codes: each
of the 8 contiguous 8-dim subvectors is replaced by the id of its nearest
entry in a per-subvector 16-entry codebook. Search never decompresses:
the query precomputes a (subvector x code) -> partial-d2 lookup table and
a candidate's approximate distance is the sum of 8 table lookups.

Iterative-parity playbook (third user after kmeans.py and the
connected-components dedup): fixed PQ_ITERS Lloyd rounds, seeded by the
md5-smallest vectors (no RNG), distances decomposed into exact-decimal
dot products, per-dimension means via the dsum convention, ties broken on
code id, rank state re-quantized every round. Unlike kmeans, the M
independent per-subvector fits need NO extra unrolling: the subvector
index ``m`` is simply a grouping column, so one grouped Lloyd round
trains all 8 codebooks at once — on both engines.

Scale shape: training is one broadcast of the (M*K = 128)-row codebook
against the exploded subvector table per round (map-side only) plus one
(m, code, dim) aggregation (M*K*SUBDIM = 1024 groups). Encoding is the
same broadcast assignment. ADC search joins the candidate code table
(N x M rows of small ints — the whole point: this is the only thing that
streams) against a broadcast Q x M x K lookup table and tree-reduces the
per-(query, candidate) sum. At 100 TB you fit on a hash-sample and only
the encode + ADC passes touch the full corpus.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from dbt_tpch_spark.functions import barrier, dsum, global_topk, rnd
from dbt_tpch_spark.models.oracle import dsum_sql, oracle, rnd_sql
from dbt_tpch_spark.plans import model
from dbt_tpch_spark.operators.dedup import DOT_SPARK, dot_duck
from dbt_tpch_spark.operators.similarity import N_QUERIES, TOP_K

M_SUBVECTORS = 8
SUBDIM = 8
K_CODES = 16
PQ_ITERS = 2
SEED_SALT = "pq|"


def _d2():
    """Squared L2 between subv and cent (columns vv, subv, cent, cc)."""
    return (
        F.col("vv")
        - F.lit(2.0) * F.expr(DOT_SPARK.format(a="subv", b="cent"))
        + F.col("cc")
    )


DIMS = M_SUBVECTORS * SUBDIM
ROT_SALT = "rot|"
SIGN_SALT = "sign|"


def _rotation_spec() -> tuple[list[int], list[float]]:
    """Deterministic signed permutation (an orthogonal transform): output
    position j reads source dim perm[j] (1-indexed) scaled by sign[j].
    Derived from md5 of the dimension index at compile time, so both
    engines inline identical literals — no runtime hashing at all. This is
    the random-rotation PQ baseline (OPQ's cheap ancestor): it breaks up
    the contiguous-dim subspace structure before slicing."""
    import hashlib

    def h(salt: str, d: int) -> str:
        return hashlib.md5(f"{salt}{d}".encode()).hexdigest()

    perm = sorted(range(1, DIMS + 1), key=lambda d: (h(ROT_SALT, d), d))
    signs = [1.0 if int(h(SIGN_SALT, p)[0], 16) < 8 else -1.0 for p in perm]
    return perm, signs


def _rotated_source(ctx):
    """(vec_id, embedding) with the signed-permutation rotation applied."""
    perm, signs = _rotation_spec()
    e = ctx.source("embeddings")
    rot = F.array(
        *[
            (F.col("embedding")[p - 1].cast("double") * F.lit(s))
            for p, s in zip(perm, signs)
        ]
    )
    return e.select("vec_id", rot.alias("embedding"))


def _rotemb_sql() -> str:
    perm, signs = _rotation_spec()
    terms = ", ".join(
        f"{s} * CAST(embedding[{p}] AS DOUBLE)" for p, s in zip(perm, signs)
    )
    return f"SELECT vec_id, list_value({terms}) AS embedding FROM embeddings"


def _subvectors(ctx, emb=None):
    """One row per (vec_id, m): the m-th contiguous SUBDIM-slice."""
    from dbt_tpch_spark.operators.dedup import _doc_parallelism

    e = emb if emb is not None else ctx.source("embeddings")
    return (
        e.select(
            "vec_id",
            F.explode(F.sequence(F.lit(0), F.lit(M_SUBVECTORS - 1))).alias("m"),
            "embedding",
        )
        # spread the single-row-group corpus across cores for the CPU-bound
        # decimal math; per-round argmin is an aggregation with map-side
        # combine (see _fit), so rounds never re-shuffle the table body
        .repartition(_doc_parallelism(ctx), "vec_id", "m")
        .select(
            "vec_id",
            "m",
            F.expr(f"slice(embedding, m * {SUBDIM} + 1, {SUBDIM})").alias("subv"),
        )
        .withColumn("vv", F.expr(DOT_SPARK.format(a="subv", b="subv")))
    )


def _with_cc(cents):
    return cents.withColumn("cc", F.expr(DOT_SPARK.format(a="cent", b="cent")))


def _fit(ctx, iters: int = PQ_ITERS, emb=None):
    """Train all M codebooks with ``iters`` grouped Lloyd rounds; returns
    (subvectors, codebook with cc)."""
    sub = barrier(_subvectors(ctx, emb=emb))
    seeds = (emb if emb is not None else ctx.source("embeddings")).select(
        "embedding",
        F.md5(F.concat(F.lit(SEED_SALT), F.col("vec_id").cast("string"))).alias("sk"),
    )
    # global_topk: parallel grouped rank + tiny merge, not a whole-corpus
    # single-partition window (see functions.global_topk)
    cents = (
        global_topk(seeds, "sk", K_CODES, ["embedding"])
        .select(
            F.explode(F.sequence(F.lit(0), F.lit(M_SUBVECTORS - 1))).alias("m"),
            (F.col("rn") - 1).cast("long").alias("code"),
            "embedding",
        )
        .select(
            "m",
            "code",
            F.expr(f"slice(embedding, m * {SUBDIM} + 1, {SUBDIM})").alias("cent"),
        )
        .transform(barrier)
    )
    for _ in range(iters):
        # argmin as a map-side-combinable aggregation (see kmeans._fit):
        # min(struct(d2, code)) == the (d2 asc, code) rank-1 row, without
        # re-shuffling the subvector table every round
        assigned = (
            sub.join(F.broadcast(_with_cc(cents)), "m")
            .withColumn("d2", _d2())
            .groupBy("vec_id", "m")
            .agg(
                F.min(F.struct("d2", "code")).alias("a"),
                F.first("subv").alias("subv"),
            )
            .select("vec_id", "m", F.col("a.code").alias("code"), "subv")
        )
        cents = (
            assigned.select("m", "code", F.posexplode("subv").alias("pos", "val"))
            .groupBy("m", "code", "pos")
            .agg((dsum(F.col("val").cast("double")) / F.count(F.lit(1))).alias("mv"))
            .groupBy("m", "code")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "mv"))),
                    lambda s: s["mv"],
                ).alias("cent")
            )
            .transform(barrier)
        )
    return sub, _with_cc(cents)


def _encode(sub, cents):
    """Nearest-code assignment per (vec_id, m) against the final codebook
    (aggregation-shaped argmin, see _fit)."""
    return (
        sub.join(F.broadcast(cents), "m")
        .withColumn("d2", _d2())
        .groupBy("vec_id", "m")
        .agg(F.min(F.struct("d2", "code")).alias("a"))
        .select(
            "vec_id",
            "m",
            F.col("a.code").alias("code"),
            F.col("a.d2").alias("d2"),
        )
    )


@model("embeddings_pq_codes", layer="operators", materialization="view")
def embeddings_pq_codes(ctx):
    """PQ encoding of the corpus: the packed 8-code string (the compressed
    representation a serving tier would ship — 8 bytes vs 256) plus the
    exact reconstruction error of the quantization."""
    sub, cents = _fit(ctx)
    codes = _encode(sub, cents)
    packed = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("m", "code"))),
            lambda s: s["code"].cast("string"),
        ),
        "-",
    )
    return codes.groupBy("vec_id").agg(
        packed.alias("pq_code"),
        F.count(F.lit(1)).cast("long").alias("n_subvectors"),
        rnd(dsum(F.col("d2")), 6).alias("recon_error"),
    )


def _adc_topk(sub, cents):
    """ADC scoring in CODE-ARRAY form (round-11 optimization).

    The old plan joined the (vec_id, m, code) table against the broadcast
    (query, m, code) -> partial-d2 lookup and shuffled the resulting
    N x Q x M rows into a (query, neighbor) aggregate — the bench's
    single largest exchange for this query. But the aggregate is a sum of
    exactly M lookups, all known in-row once the candidate's M codes and
    the query's M x K table travel as arrays: candidates collapse to one
    row of M codes, the lookup table to one row of M*K partial distances
    per query, and the per-pair distance becomes an in-row
    ``aggregate()`` over M array index reads — the N x Q x M exchange
    and its 10^6-group hash aggregate disappear; only the (already
    present) per-query top-k window shuffle remains.

    Exactness: dsum's convention is a sum of DECIMAL(27,6)-quantized
    terms — exact and order-free — so the in-row decimal fold below is
    bit-identical to the old grouped dsum, then the same rnd(6)."""
    codes = _encode(sub, cents).select("vec_id", "m", "code")
    # one row per candidate: codes[m] at position m (m is 0..M-1, dense)
    codes_arr = codes.groupBy("vec_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("m", "code"))),
            lambda s: s["code"],
        ).alias("codes")
    )
    lut = (
        sub.filter(F.col("vec_id") < N_QUERIES)
        .withColumnRenamed("vec_id", "query_id")
        .join(F.broadcast(cents), "m")
        .withColumn("pd2", _d2())
        .select("query_id", "m", "code", "pd2")
    )
    # one row per query: pd2 at position m * K_CODES + code ((m, code) is
    # dense and unique per query, so the (m, code) sort is positional).
    # The frame is N_QUERIES rows — a FIXED module constant, not an
    # SF-linear grain — so it rides a bounded checkpoint: mark_bounded
    # is the registered proof the CI scale sweep (audit.py) accepts for
    # the hard broadcast hint and the equality-free scoring join below
    # (the lazy barrier costs nothing extra: the frame is consumed once,
    # by the broadcast build).
    lut_arr = barrier(
        lut.groupBy("query_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("m", "code", "pd2"))),
                lambda s: s["pd2"],
            ).alias("pd2s")
        ),
        eager=False,
        bounded=True,
    )
    # exact decimal fold of the M lookups (element_at is 1-based), the
    # in-row twin of dsum: quantize each term to DECIMAL(27,6), accumulate
    # exactly, cast double
    adc_sum = F.expr(
        "CAST(aggregate(sequence(0, {mm}), CAST(0 AS DECIMAL(38,6)),"
        " (acc, m) -> CAST(acc + CAST(element_at(pd2s,"
        " CAST(m * {k} + element_at(codes, m + 1) + 1 AS INT)) AS DECIMAL(27,6))"
        " AS DECIMAL(38,6))) AS DOUBLE)".format(
            mm=M_SUBVECTORS - 1, k=K_CODES
        )
    )
    adc = (
        codes_arr.crossJoin(F.broadcast(lut_arr))
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            rnd(adc_sum, 6).alias("adc_d2"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adc_d2").asc(), F.col("neighbor_id"))
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "adc_d2", "rank")
    )


@model("ann_pq_adc_topk", layer="operators", materialization="view")
def ann_pq_adc_topk(ctx):
    """ADC top-10: queries (vec_id < N_QUERIES) score every candidate as
    the sum of M codebook-table lookups — no candidate vector is ever
    decompressed."""
    sub, cents = _fit(ctx)
    return _adc_topk(sub, cents)


@model("ann_pq_rotated_topk", layer="operators", materialization="view")
def ann_pq_rotated_topk(ctx):
    """Rotation-PQ ADC top-10: identical pipeline, but the corpus (and so
    the queries) pass through a deterministic signed-permutation rotation
    first (random-rotation PQ, the OPQ baseline). The rotation is
    orthogonal — true distances are unchanged — but subspaces stop being
    contiguous dims, which decorrelates per-subvector energy and changes
    (usually improves) the quantization; ann_recall_report-style
    comparison against ann_pq_adc_topk shows the effect."""
    emb = _rotated_source(ctx)
    sub, cents = _fit(ctx, emb=emb)
    return _adc_topk(sub, cents)


# --------------------------------------------------------------------------
# oracle: the grouped Lloyd rounds unrolled as generated CTEs
# --------------------------------------------------------------------------


def _d2_sql(subv: str, cent: str, vv: str, cc: str) -> str:
    return f"({vv} - 2.0 * {dot_duck(subv, cent)} + {cc})"


def _pq_prelude(iters: int = PQ_ITERS, table: str = "embeddings") -> str:
    parts = [
        f"""ms AS (
    SELECT UNNEST(range(0, {M_SUBVECTORS})) AS m
)""",
        f"""sub0 AS (
    SELECT vec_id, ms.m,
           list_slice(embedding, ms.m * {SUBDIM} + 1, ms.m * {SUBDIM} + {SUBDIM})
               AS subv
    FROM {table} CROSS JOIN ms
)""",
        f"""sub AS (
    SELECT *, {dot_duck('subv', 'subv')} AS vv FROM sub0
)""",
        f"""pqcents0 AS (
    SELECT ms.m, CAST(rn - 1 AS BIGINT) AS code,
           list_slice(embedding, ms.m * {SUBDIM} + 1, ms.m * {SUBDIM} + {SUBDIM})
               AS cent
    FROM (
        SELECT embedding,
               ROW_NUMBER() OVER (
                   ORDER BY md5('{SEED_SALT}' || CAST(vec_id AS VARCHAR))
               ) AS rn
        FROM {table}
    ) CROSS JOIN ms
    WHERE rn <= {K_CODES}
)""",
    ]
    prev = "pqcents0"
    for i in range(1, iters + 1):
        parts.append(
            f"""pqassign{i} AS (
    SELECT vec_id, m, subv, code
    FROM (
        SELECT s.vec_id, s.m, s.subv, s.code,
               ROW_NUMBER() OVER (
                   PARTITION BY s.vec_id, s.m ORDER BY s.d2 ASC, s.code
               ) AS rn
        FROM (
            SELECT u.vec_id, u.m, u.subv, c.code,
                   {_d2_sql('u.subv', 'c.cent', 'u.vv',
                            dot_duck('c.cent', 'c.cent'))} AS d2
            FROM sub u JOIN {prev} c USING (m)
        ) s
    ) WHERE rn = 1
)"""
        )
        parts.append(
            f"""pqcents{i} AS (
    SELECT m, code, list(mv ORDER BY pos) AS cent
    FROM (
        SELECT a.m, a.code, p.pos,
               {dsum_sql('CAST(a.subv[p.pos] AS DOUBLE)')} / COUNT(*) AS mv
        FROM pqassign{i} a
        CROSS JOIN (SELECT UNNEST(range(1, {SUBDIM + 1})) AS pos) p
        GROUP BY 1, 2, 3
    ) GROUP BY m, code
)"""
        )
        prev = f"pqcents{i}"
    parts.append(
        f"""fcents AS (
    SELECT m, code, cent, {dot_duck('cent', 'cent')} AS cc FROM {prev}
)"""
    )
    parts.append(
        f"""fassign AS (
    SELECT vec_id, m, code, d2
    FROM (
        SELECT s.vec_id, s.m, s.code, s.d2,
               ROW_NUMBER() OVER (
                   PARTITION BY s.vec_id, s.m ORDER BY s.d2 ASC, s.code
               ) AS rn
        FROM (
            SELECT u.vec_id, u.m, c.code,
                   {_d2_sql('u.subv', 'c.cent', 'u.vv', 'c.cc')} AS d2
            FROM sub u JOIN fcents c USING (m)
        ) s
    ) WHERE rn = 1
)"""
    )
    return ",\n".join(parts)


oracle(
    "embeddings_pq_codes",
    ("embeddings",),
    f"""WITH {_pq_prelude()}
SELECT
    vec_id,
    string_agg(CAST(code AS VARCHAR), '-' ORDER BY m) AS pq_code,
    CAST(COUNT(*) AS BIGINT) AS n_subvectors,
    {rnd_sql(dsum_sql('d2'), 6)} AS recon_error
FROM fassign
GROUP BY vec_id""",
)


oracle(
    "ann_pq_adc_topk",
    ("embeddings",),
    f"""WITH {_pq_prelude()},
lut AS (
    SELECT u.vec_id AS query_id, u.m, c.code,
           {_d2_sql('u.subv', 'c.cent', 'u.vv', 'c.cc')} AS pd2
    FROM sub u JOIN fcents c USING (m)
    WHERE u.vec_id < {N_QUERIES}
),
adc AS (
    SELECT
        l.query_id,
        a.vec_id AS neighbor_id,
        {rnd_sql(dsum_sql('l.pd2'), 6)} AS adc_d2
    FROM fassign a
    JOIN lut l ON a.m = l.m AND a.code = l.code AND l.query_id != a.vec_id
    GROUP BY 1, 2
),
ranked AS (
    SELECT *,
        CAST(ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY adc_d2 ASC, neighbor_id
        ) AS BIGINT) AS rank
    FROM adc
)
SELECT query_id, neighbor_id, adc_d2, rank
FROM ranked
WHERE rank <= {TOP_K}""",
)


_ADC_TAIL_SQL = f""",
lut AS (
    SELECT u.vec_id AS query_id, u.m, c.code,
           {_d2_sql('u.subv', 'c.cent', 'u.vv', 'c.cc')} AS pd2
    FROM sub u JOIN fcents c USING (m)
    WHERE u.vec_id < {N_QUERIES}
),
adc AS (
    SELECT
        l.query_id,
        a.vec_id AS neighbor_id,
        {rnd_sql(dsum_sql('l.pd2'), 6)} AS adc_d2
    FROM fassign a
    JOIN lut l ON a.m = l.m AND a.code = l.code AND l.query_id != a.vec_id
    GROUP BY 1, 2
),
ranked AS (
    SELECT *,
        CAST(ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY adc_d2 ASC, neighbor_id
        ) AS BIGINT) AS rank
    FROM adc
)
SELECT query_id, neighbor_id, adc_d2, rank
FROM ranked
WHERE rank <= {TOP_K}"""


oracle(
    "ann_pq_rotated_topk",
    ("embeddings",),
    f"""WITH rotemb AS (
    {_rotemb_sql()}
),
{_pq_prelude(table="rotemb")}{_ADC_TAIL_SQL}""",
)


# --------------------------------------------------------------------------
# Scalar (int8) quantization with measured reconstruction error
# --------------------------------------------------------------------------

#: full vector dimensionality (M subvectors x SUBDIM dims)
_SQ_DIMS = M_SUBVECTORS * SUBDIM
#: int8 code range: codes 0..255 mapped affinely onto [lo_d, hi_d]
_SQ_LEVELS = 255.0


@model("embeddings_int8_quant", layer="operators", materialization="view")
def embeddings_int8_quant(ctx):
    """Per-dimension affine int8 scalar quantization of the embedding
    table with the realized reconstruction error, reported per label —
    the 4x-bandwidth-compression sibling of PQ (one byte per DIMENSION
    instead of one byte per 8-dim subvector): cheaper to encode/decode,
    4x bigger codes, far lower error. This operator is the calibration
    harness that tells you which compression tier a corpus tolerates.

    Per dimension d: codes ``round((x - lo_d) / ((hi_d - lo_d)/255))``
    (constant dimensions encode to 0 losslessly); dequantized value
    ``lo_d + code * step_d``; per-label mean-squared and max-absolute
    reconstruction error over all n*64 cells.

    Determinism: lo/hi are exact min/max; every derived quantity is the
    same IEEE expression on identical doubles in both engines; squared
    errors are rnd-quantized at 15 dp (err^2 <= 1e-4, so 11 significant
    digits survive) and accumulated through DECIMAL(38,15).

    Scale: one posexplode pass to (row, dim) grain, a 64-row min/max
    aggregate joined back through the broadcast gate, one bounded
    per-label reduction. No windows, no SF-dependent state."""
    from dbt_tpch_spark.functions import gated_broadcast

    e = ctx.source("embeddings")
    xi = e.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("i0", "x0"),
    ).select(
        "vec_id",
        "label",
        (F.col("i0") + 1).cast("long").alias("dim"),
        F.col("x0").cast("double").alias("x"),
    )
    rng = xi.groupBy("dim").agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    step = (F.col("hi") - F.col("lo")) / F.lit(_SQ_LEVELS)
    code = F.when(
        F.col("hi") > F.col("lo"),
        F.floor((F.col("x") - F.col("lo")) / step + F.lit(0.5)),
    ).otherwise(F.lit(0))
    q = xi.join(gated_broadcast(rng, _SQ_DIMS), "dim").withColumn(
        "err", F.col("x") - (F.col("lo") + code.cast("double") * step)
    )
    n = F.count(F.lit(1)).cast("double")
    return q.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        rnd(
            F.sum(rnd(F.col("err") * F.col("err"), 15).cast("decimal(38,15)"))
            .cast("double") / n,
            12,
        ).alias("mse"),
        F.max(rnd(F.abs(F.col("err")), 9)).alias("max_abs_err"),
    )


oracle(
    "embeddings_int8_quant",
    ("embeddings",),
    f"""WITH dims AS (SELECT UNNEST(range(1, {_SQ_DIMS + 1})) AS i),
xi AS (
    SELECT vec_id, label, d.i AS dim, CAST(embedding[d.i] AS DOUBLE) AS x
    FROM embeddings CROSS JOIN dims d
),
rng AS (SELECT dim, MIN(x) AS lo, MAX(x) AS hi FROM xi GROUP BY dim),
q AS (
    SELECT label, x, lo, hi,
        CASE WHEN hi > lo
             THEN FLOOR((x - lo) / ((hi - lo) / {_SQ_LEVELS!r}) + 0.5)
             ELSE 0 END AS code
    FROM xi JOIN rng USING (dim)
),
er AS (
    SELECT label,
        x - (lo + code * ((hi - lo) / {_SQ_LEVELS!r})) AS err
    FROM q
)
SELECT label,
    CAST(COUNT(*) AS BIGINT) AS n_cells,
    {rnd_sql(
        'CAST(SUM(CAST(' + rnd_sql('err * err', 15) + ' AS DECIMAL(38,15)))'
        ' AS DOUBLE) / COUNT(*)', 12)} AS mse,
    MAX({rnd_sql('ABS(err)', 9)}) AS max_abs_err
FROM er
GROUP BY label""",
)
