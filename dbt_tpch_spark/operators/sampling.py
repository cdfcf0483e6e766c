"""Deterministic sampling / sharding / chunking operators — the corpus-
management half of a training-data pipeline (the reference has no
counterpart; extension surface mandated by the task).

Design rule: every "random" choice is a pure function of the row key via a
salted md5, so results are reproducible run-to-run, engine-to-engine, and
partition-layout-independent — the property that makes a 100 TB sampling
job resumable and auditable. No ``rand()`` anywhere (Spark's ``rand`` is
seed+partition dependent and would never hash-match an oracle).

Bernoulli-by-hash: md5 hex is uniform over [0, 16^32); "keep with rate r"
becomes the *string* comparison ``md5(salt|key) < hex_threshold(r)``, which
both engines evaluate identically on lowercase hex — no hex→int conversion
needed (DuckDB has no ``conv``). Rates are expressed in 1/16ths here
(one-hex-digit thresholds); finer rates just use longer prefixes.

Scale notes: sampling and chunking are stateless per-row maps — no shuffle,
fully pushdown-friendly; shard stats are one hash aggregation on a
16-value key (tiny result, map-side combine does nearly all the work).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dbt_tpch_spark.plans import model
from dbt_tpch_spark.functions import barrier, dsum, isum, rnd
from dbt_tpch_spark.models.oracle import dsum_sql, isum_sql, oracle, rnd_sql

#: per-language keep rates in 1/16ths (hex-digit threshold). The majority
#: class (en) is downsampled hard, mid-resource kept at half, the rarest
#: (zh) kept fully — the standard rebalancing shape.
LANG_RATES = {"en": 4, "de": 8, "es": 8, "fr": 8, "zh": 16}

#: threshold char for rate r/16: md5 < chr — 'g' sorts above every hex char.
_THRESH = {k: ("g" if v >= 16 else format(v, "x")) for k, v in LANG_RATES.items()}

CHUNK_TOKENS = 64
CHUNK_STRIDE = 48
N_SHARDS = 16

SAMPLE_SALT = "sample|"
SHARD_SALT = "shard|"


@model("docs_sample_stratified", layer="operators", materialization="view")
def docs_sample_stratified(ctx):
    """Stratified deterministic Bernoulli sample of ``documents`` with
    per-language keep rates (LANG_RATES/16). A doc survives iff
    ``md5('sample|' || doc_id) < threshold(lang)`` — reproducible and
    engine-portable by construction."""
    d = ctx.source("documents")
    key = F.md5(F.concat(F.lit(SAMPLE_SALT), F.col("doc_id").cast("string")))
    thresh = F.create_map(
        *[x for k, v in sorted(_THRESH.items()) for x in (F.lit(k), F.lit(v))]
    )[F.col("lang")]
    return (
        d.withColumn("sample_key", key)
        .filter(F.col("sample_key") < thresh)
        .select("doc_id", "lang", "source", "n_chars", "sample_key")
    )


def _sample_oracle() -> str:
    cases = " ".join(
        f"WHEN '{k}' THEN '{v}'" for k, v in sorted(_THRESH.items())
    )
    return f"""SELECT
    doc_id,
    lang,
    source,
    n_chars,
    md5('{SAMPLE_SALT}' || CAST(doc_id AS VARCHAR)) AS sample_key
FROM documents
WHERE md5('{SAMPLE_SALT}' || CAST(doc_id AS VARCHAR))
      < (CASE lang {cases} END)"""


oracle("docs_sample_stratified", ("documents",), _sample_oracle())


@model("docs_shard_assignment", layer="operators", materialization="view")
def docs_shard_assignment(ctx):
    """Hash-sharding for training output: shard = first hex nibble of the
    salted doc hash (16 shards), with per-shard balance stats (doc count,
    token mass, language spread). At scale this is the write-partitioning
    key: ``df.repartition('shard_id').write.partitionBy('shard_id')`` gives
    statistically balanced shards regardless of input order or skew."""
    d = ctx.source("documents")
    nibble = F.substring(
        F.md5(F.concat(F.lit(SHARD_SALT), F.col("doc_id").cast("string"))), 1, 1
    )
    shard = (F.instr(F.lit("0123456789abcdef"), nibble) - 1).cast("long")
    n_tokens = F.size(F.split(F.lower(F.trim(F.col("text"))), " ")).cast("long")
    return (
        d.select(
            shard.alias("shard_id"),
            n_tokens.alias("n_tokens"),
            "doc_id",
            "lang",
        )
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.countDistinct("lang").alias("n_langs"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .withColumn("total_tokens", F.col("total_tokens").cast("long"))
    )


oracle(
    "docs_shard_assignment",
    ("documents",),
    f"""WITH assigned AS (
    SELECT
        CAST(strpos('0123456789abcdef',
                    substring(md5('{SHARD_SALT}' || CAST(doc_id AS VARCHAR)), 1, 1))
             - 1 AS BIGINT) AS shard_id,
        CAST(len(string_split(lower(trim(text)), ' ')) AS BIGINT) AS n_tokens,
        doc_id,
        lang
    FROM documents
)
SELECT
    shard_id,
    COUNT(*) AS n_docs,
    {isum_sql('n_tokens')} AS total_tokens,
    COUNT(DISTINCT lang) AS n_langs,
    MIN(doc_id) AS min_doc_id,
    MAX(doc_id) AS max_doc_id
FROM assigned
GROUP BY 1""",
)


@model("doc_chunks", layer="operators", materialization="view")
def doc_chunks(ctx):
    """Context-window chunking: split each document's token stream into
    CHUNK_TOKENS-token windows advancing by CHUNK_STRIDE (16-token overlap)
    — the standard pretraining sequence-packing precursor. Emits chunk
    index, exact token count, and an md5 content fingerprint per chunk.

    Pure per-row array math (sequence → slice → explode): no shuffle, scales
    as a map over the corpus. chunk_idx derives arithmetically from the
    start offset, so no ordering dependency survives the explode."""
    d = ctx.source("documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), " ")
    starts = F.sequence(F.lit(1), F.size(toks), F.lit(CHUNK_STRIDE))
    exploded = d.select(
        "doc_id",
        toks.alias("toks"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.explode(starts).alias("start"),
    )
    chunk = F.slice(F.col("toks"), F.col("start"), CHUNK_TOKENS)
    return exploded.select(
        "doc_id",
        ((F.col("start") - 1) / CHUNK_STRIDE).cast("long").alias("chunk_idx"),
        F.least(
            F.lit(CHUNK_TOKENS).cast("long"),
            F.col("n_tokens") - F.col("start") + 1,
        ).alias("n_chunk_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_md5"),
    )


oracle(
    "doc_chunks",
    ("documents",),
    f"""WITH base AS (
    SELECT
        doc_id,
        string_split(lower(trim(text)), ' ') AS toks,
        CAST(len(string_split(lower(trim(text)), ' ')) AS BIGINT) AS n_tokens
    FROM documents
),
exploded AS (
    SELECT
        doc_id,
        toks,
        n_tokens,
        UNNEST(range(1, n_tokens + 1, {CHUNK_STRIDE})) AS start
    FROM base
)
SELECT
    doc_id,
    CAST((start - 1) // {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
    CAST(least({CHUNK_TOKENS}, n_tokens - start + 1) AS BIGINT) AS n_chunk_tokens,
    md5(array_to_string(list_slice(toks, start, start + {CHUNK_TOKENS} - 1), ' ')) AS chunk_md5
FROM exploded""",
)


# --------------------------------------------------------------------------
# sequence packing (concatenate-and-split over chunks)
# --------------------------------------------------------------------------

SEQ_CAPACITY = 256  # tokens per training sequence (4 full chunks)


def _shard_expr_spark():
    nibble = F.substring(
        F.md5(F.concat(F.lit(SHARD_SALT), F.col("doc_id").cast("string"))), 1, 1
    )
    return (F.instr(F.lit("0123456789abcdef"), nibble) - 1).cast("long")


_SHARD_EXPR_DUCK = (
    f"CAST(strpos('0123456789abcdef', "
    f"substring(md5('{SHARD_SALT}' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS BIGINT)"
)


@model("doc_pack_sequences", layer="operators", materialization="view")
def doc_pack_sequences(ctx):
    """Concatenate-and-split sequence packing: within each shard, chunks are
    laid out in (doc_id, chunk_idx) order and cut into SEQ_CAPACITY-token
    training sequences; a chunk belongs to the sequence where its first
    token lands (``seq_id = start_offset div capacity``). Reports per-
    sequence packing stats.

    Scale shape: ONE window cumsum per shard partition (integer-exact, no
    float accumulation) + one small aggregation — this is the whole cost of
    packing a 100 TB corpus, and the shard key keeps every partition
    independent (no global ordering, no driver loop)."""
    from pyspark.sql import Window

    chunks = ctx.ref("doc_chunks").withColumn("shard_id", _shard_expr_spark())
    w = (
        Window.partitionBy("shard_id")
        .orderBy("doc_id", "chunk_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_chunk_tokens").over(w).cast("long")
    with_seq = chunks.withColumn(
        "seq_id",
        ((cum - F.col("n_chunk_tokens")) / SEQ_CAPACITY).cast("long"),
    )
    return (
        with_seq.groupBy("shard_id", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.sum("n_chunk_tokens").cast("long").alias("seq_tokens"),
            F.min("doc_id").alias("first_doc_id"),
            F.max("doc_id").alias("last_doc_id"),
        )
        .withColumn(
            "fill_ratio",
            F.floor(
                F.col("seq_tokens") / F.lit(float(SEQ_CAPACITY)) * 1000000.0 + 0.5
            )
            / 1000000.0,
        )
    )


oracle(
    "doc_pack_sequences",
    ("doc_chunks",),
    f"""WITH sharded AS (
    SELECT
        doc_id, chunk_idx, n_chunk_tokens,
        {_SHARD_EXPR_DUCK} AS shard_id
    FROM doc_chunks
),
offs AS (
    SELECT
        *,
        CAST(SUM(n_chunk_tokens) OVER (
            PARTITION BY shard_id ORDER BY doc_id, chunk_idx
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS BIGINT) - n_chunk_tokens AS start_off
    FROM sharded
)
SELECT
    shard_id,
    CAST(start_off // {SEQ_CAPACITY} AS BIGINT) AS seq_id,
    COUNT(*) AS n_chunks,
    COUNT(DISTINCT doc_id) AS n_docs,
    CAST(SUM(n_chunk_tokens) AS BIGINT) AS seq_tokens,
    MIN(doc_id) AS first_doc_id,
    MAX(doc_id) AS last_doc_id,
    FLOOR(CAST(SUM(n_chunk_tokens) AS BIGINT) / {float(SEQ_CAPACITY)} * 1000000.0 + 0.5) / 1000000.0 AS fill_ratio
FROM offs
GROUP BY 1, 2""",
)


TOPN_SALT = "samplen|"
TOPN_PER_LANG = 50


@model("docs_sample_topn_per_lang", layer="operators", materialization="view")
def docs_sample_topn_per_lang(ctx):
    """Fixed-size per-stratum sample: exactly TOPN_PER_LANG docs per
    language (fewer only if the stratum is smaller), chosen as the smallest
    salted-md5 keys — the deterministic, engine-portable equivalent of a
    per-stratum reservoir sample. Fixed *budgets* (not rates) are what a
    training-mix spec actually pins ("50k docs per language").

    Scale shape: one shuffle on the stratum key; the per-stratum top-N is a
    rank-filter window, so partial sorts stay distributed (no global sort).
    """
    from pyspark.sql import Window

    d = ctx.source("documents")
    key = F.md5(F.concat(F.lit(TOPN_SALT), F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang").orderBy(key, F.col("doc_id"))
    return (
        d.withColumn("sample_key", key)
        .withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sample_rank") <= TOPN_PER_LANG)
        .select("doc_id", "lang", "source", "sample_key", "sample_rank")
    )


oracle(
    "docs_sample_topn_per_lang",
    ("documents",),
    f"""SELECT doc_id, lang, source, sample_key, sample_rank
FROM (
    SELECT
        doc_id, lang, source,
        md5('{TOPN_SALT}' || CAST(doc_id AS VARCHAR)) AS sample_key,
        CAST(ROW_NUMBER() OVER (
            PARTITION BY lang
            ORDER BY md5('{TOPN_SALT}' || CAST(doc_id AS VARCHAR)), doc_id
        ) AS BIGINT) AS sample_rank
    FROM documents
)
WHERE sample_rank <= {TOPN_PER_LANG}""",
)


WEIGHTED_SALT = "samplew|"
WEIGHTED_PER_LANG = 40
_HEX16 = "0123456789abcdef"
_U_SCALE = 16 ** 8  # 4294967296, exact in double


def _u_expr_spark():
    """Uniform u in (0,1) from the first 8 md5 hex digits of column ``h``:
    digit-decode (no hex->int builtin needed) -> (val + 0.5) / 16^8."""
    from pyspark.sql import functions as F

    # CAST each digit term to BIGINT: ANSI mode overflows INT32 on the
    # high-digit scale multiply (memory: spark-pitfalls)
    terms = " + ".join(
        f"CAST(instr('{_HEX16}', substring(h, {i}, 1)) - 1 AS BIGINT)"
        f" * {16 ** (8 - i)}"
        for i in range(1, 9)
    )
    return (F.expr(terms).cast("double") + F.lit(0.5)) / F.lit(float(_U_SCALE))


def _u_expr_sql() -> str:
    terms = " + ".join(
        f"(strpos('{_HEX16}', substring(h, {i}, 1)) - 1) * {16 ** (8 - i)}"
        for i in range(1, 9)
    )
    return f"((CAST({terms} AS DOUBLE) + 0.5) / {float(_U_SCALE)})"


@model("docs_sample_weighted", layer="operators", materialization="view")
def docs_sample_weighted(ctx):
    """Weighted sampling without replacement (Efraimidis-Spirakis A-ES,
    exponential-keys form): per language, the WEIGHTED_PER_LANG docs with
    the smallest ``-ln(u)/w`` where u is a salted-md5 uniform and the
    weight w is the document length — longer docs proportionally likelier,
    still fully deterministic (no rand(), resumable, engine-portable).

    Scale shape: the key is a stateless per-row map; selection is the same
    rank-filter window as the fixed-budget sampler (one shuffle on the
    stratum key, distributed partial sorts)."""
    from pyspark.sql import Window
    from dbt_tpch_spark.functions import rnd

    d = ctx.source("documents").withColumn(
        "h",
        F.md5(F.concat(F.lit(WEIGHTED_SALT), F.col("doc_id").cast("string"))),
    )
    key = -F.log(_u_expr_spark()) / F.col("n_chars").cast("double")
    w = Window.partitionBy("lang").orderBy(F.col("sample_key"), F.col("doc_id"))
    return (
        d.withColumn("sample_key", rnd(key, 12))
        .withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sample_rank") <= WEIGHTED_PER_LANG)
        .select("doc_id", "lang", "n_chars", "sample_key", "sample_rank")
    )


oracle(
    "docs_sample_weighted",
    ("documents",),
    f"""WITH keyed AS (
    SELECT doc_id, lang, n_chars,
           {{rnd}} AS sample_key
    FROM (
        SELECT *,
               md5('{WEIGHTED_SALT}' || CAST(doc_id AS VARCHAR)) AS h
        FROM documents
    )
),
ranked AS (
    SELECT *,
        CAST(ROW_NUMBER() OVER (
            PARTITION BY lang ORDER BY sample_key, doc_id
        ) AS BIGINT) AS sample_rank
    FROM keyed
)
SELECT doc_id, lang, n_chars, sample_key, sample_rank
FROM ranked
WHERE sample_rank <= {WEIGHTED_PER_LANG}""".format(
        rnd=__import__(
            "dbt_tpch_spark.models.oracle", fromlist=["rnd_sql"]
        ).rnd_sql(f"-ln({_u_expr_sql()}) / CAST(n_chars AS DOUBLE)", 12)
    ),
)


# --------------------------------------------------------------------------
# corpus mixing + global shuffle
# --------------------------------------------------------------------------

#: target mixture over sources for the training blend (sums to 1) and the
#: share of the whole corpus the blend may spend.
MIX_TARGETS = {"src0": 0.40, "src1": 0.25, "src2": 0.20, "src3": 0.15}
MIX_BUDGET_FRAC = 0.5
MIX_SALT = "mix|"
SHUFFLE_SALT = "shuffle|"


@model("docs_mixture_sample", layer="operators", materialization="view")
def docs_mixture_sample(ctx):
    """Down-sample each source to a target mixture (MIX_TARGETS) over a
    global budget (MIX_BUDGET_FRAC of the corpus): the data-blending step
    of a training run, with the shortfall made visible instead of silently
    re-normalized.

    Selection inside a source is by smallest salted md5 (deterministic
    reservoir); a source smaller than its target keeps everything and
    reports the deficit. One window per source partition + one tiny
    aggregate — the corpus never shuffles more than once."""
    from pyspark.sql.window import Window

    d = ctx.source("documents").select("doc_id", "source")
    total = d.agg(F.count(F.lit(1)).cast("double").alias("n_total"))
    share = F.coalesce(
        F.create_map(
            *[x for k, v in sorted(MIX_TARGETS.items()) for x in (F.lit(k), F.lit(v))]
        )[F.col("source")],
        F.lit(0.0),
    )
    w = Window.partitionBy("source").orderBy(
        F.md5(F.concat(F.lit(MIX_SALT), F.col("doc_id").cast("string"))),
        F.col("doc_id"),
    )
    ranked = (
        d.withColumn("rk", F.row_number().over(w))
        .crossJoin(F.broadcast(total))
        .withColumn(
            "n_target",
            F.floor(share * F.floor(F.col("n_total") * F.lit(MIX_BUDGET_FRAC))).cast(
                "long"
            ),
        )
    )
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_available"),
            F.max("n_target").alias("n_target"),
            F.sum(F.when(F.col("rk") <= F.col("n_target"), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
        )
        .withColumn(
            "deficit", F.greatest(F.col("n_target") - F.col("n_kept"), F.lit(0))
        )
    )


def _mix_share_sql() -> str:
    cases = " ".join(
        f"WHEN '{k}' THEN {v}" for k, v in sorted(MIX_TARGETS.items())
    )
    return f"CASE source {cases} ELSE 0.0 END"


oracle(
    "docs_mixture_sample",
    (),
    f"""WITH d AS (SELECT doc_id, source FROM documents),
total AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_total FROM d),
ranked AS (
    SELECT source,
           ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(concat('{MIX_SALT}', CAST(doc_id AS VARCHAR))), doc_id
           ) AS rk,
           CAST(FLOOR(({_mix_share_sql()}) *
                FLOOR(n_total * {MIX_BUDGET_FRAC})) AS BIGINT) AS n_target
    FROM d CROSS JOIN total
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_available,
       MAX(n_target) AS n_target,
       CAST(SUM(CASE WHEN rk <= n_target THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       GREATEST(MAX(n_target) - CAST(SUM(CASE WHEN rk <= n_target THEN 1 ELSE 0 END) AS BIGINT), 0) AS deficit
FROM ranked
GROUP BY source""",
)


#: range-partition fan-out for the global shuffle's tera-sort pattern.
SHUFFLE_BUCKETS = 32


@model("docs_shuffle_global", layer="operators", materialization="view")
def docs_shuffle_global(ctx):
    """Deterministic global shuffle: every document gets a pseudorandom
    position (its rank under the salted md5 of its id) and an interleaved
    shard assignment ((pos-1) mod N_SHARDS) — so reading any single shard
    sequentially is already an unbiased sample of the corpus, the property
    training loaders rely on.

    Scale (the tera-sort pattern, spelled out rather than left to a global
    window): md5 keys are uniform, and fixed-length lowercase-hex strings
    sort lexicographically exactly as their numeric value — so the leading
    16 bits of the key ARE a balanced range partitioner. Rows hash into
    SHUFFLE_BUCKETS ordered buckets, ranks are computed per-bucket
    (partitioned window — parallel), and bucket offsets (a SHUFFLE_BUCKETS-row
    aggregate) are broadcast back to lift local ranks to global positions.
    No single-partition WindowExec anywhere; the only unpartitioned window
    runs over the 32-row offset table. At 100 TB the same plan holds —
    just raise SHUFFLE_BUCKETS (the prefix gives 65536 ordered buckets for
    free, longer prefixes give more)."""
    from pyspark.sql.window import Window

    d = ctx.source("documents").select("doc_id", "lang", "source")
    key = F.md5(F.concat(F.lit(SHUFFLE_SALT), F.col("doc_id").cast("string")))
    base = d.withColumn("shuffle_key", key).withColumn(
        "_bucket",
        F.floor(
            F.conv(F.substring("shuffle_key", 1, 4), 16, 10).cast("long")
            / (65536 // SHUFFLE_BUCKETS)
        ).cast("int"),
    )
    # bucket offsets: tiny (SHUFFLE_BUCKETS rows) — cumulative count of all
    # strictly-smaller buckets; unpartitioned window is post-aggregation.
    counts = base.groupBy("_bucket").agg(F.count(F.lit(1)).alias("_n"))
    offsets = counts.withColumn(
        "_offset",
        F.coalesce(
            F.sum("_n").over(
                Window.orderBy("_bucket").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ),
    ).select("_bucket", "_offset")
    w_local = Window.partitionBy("_bucket").orderBy("shuffle_key", "doc_id")
    return (
        base.join(F.broadcast(offsets), "_bucket")
        .withColumn(
            "shuffle_pos",
            (F.col("_offset") + F.row_number().over(w_local)).cast("long"),
        )
        .withColumn(
            "shard_id", ((F.col("shuffle_pos") - 1) % N_SHARDS).cast("long")
        )
        .select(
            "doc_id", "lang", "source", "shuffle_key", "shuffle_pos", "shard_id"
        )
    )


oracle(
    "docs_shuffle_global",
    (),
    f"""SELECT doc_id, lang, source,
       md5(concat('{SHUFFLE_SALT}', CAST(doc_id AS VARCHAR))) AS shuffle_key,
       CAST(ROW_NUMBER() OVER (
           ORDER BY md5(concat('{SHUFFLE_SALT}', CAST(doc_id AS VARCHAR))), doc_id
       ) AS BIGINT) AS shuffle_pos,
       CAST((ROW_NUMBER() OVER (
           ORDER BY md5(concat('{SHUFFLE_SALT}', CAST(doc_id AS VARCHAR))), doc_id
       ) - 1) % {N_SHARDS} AS BIGINT) AS shard_id
FROM documents""",
)


# --------------------------------------------------------------------------
# train / val / test split
# --------------------------------------------------------------------------

SPLIT_SALT = "split|"
#: cumulative md5-prefix thresholds: first hex digit 0-d -> train (14/16),
#: e -> val (1/16), f -> test (1/16). Coarse by design: the knob is the
#: hex-prefix length, same convention as the stratified sampler.
SPLIT_BOUNDS = [("train", "e"), ("val", "f"), ("test", "g")]


@model("docs_split_assign", layer="operators", materialization="view")
def docs_split_assign(ctx):
    """Deterministic train/val/test assignment (14/1/1 sixteenths by md5
    prefix — stable under corpus growth: a document's split never changes
    when other documents arrive, the property random shuffles lack) plus
    the per-split census a training run logs.

    Stateless per-row map + one tiny aggregation; the per-doc assignment
    is exercised through the census (sum of n_docs == corpus size)."""
    d = ctx.source("documents")
    key = F.md5(F.concat(F.lit(SPLIT_SALT), F.col("doc_id").cast("string")))
    split = (
        F.when(key < F.lit(SPLIT_BOUNDS[0][1]), SPLIT_BOUNDS[0][0])
        .when(key < F.lit(SPLIT_BOUNDS[1][1]), SPLIT_BOUNDS[1][0])
        .otherwise(SPLIT_BOUNDS[2][0])
    )
    return (
        d.withColumn("split", split)
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


oracle(
    "docs_split_assign",
    (),
    f"""SELECT
    CASE
        WHEN md5(concat('{SPLIT_SALT}', CAST(doc_id AS VARCHAR))) < 'e' THEN 'train'
        WHEN md5(concat('{SPLIT_SALT}', CAST(doc_id AS VARCHAR))) < 'f' THEN 'val'
        ELSE 'test'
    END AS split,
    lang,
    CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY 1, 2""",
)


# --------------------------------------------------------------------------
# temperature-scaled mixture (multilingual/source upsampling knob)
# --------------------------------------------------------------------------

#: mixing temperature τ: source weights ∝ share^(1/τ). τ=2 (exponent 0.5)
#: is the standard "flatten toward uniform" upsampling used for low-resource
#: sources/languages; exponent 0.5 is computed as SQRT — correctly rounded
#: per IEEE-754, so bit-identical cross-engine (a general pow() is not).
MIX_TEMPERATURE = 2.0


@model("docs_mixture_temperature", layer="operators", materialization="view")
def docs_mixture_temperature(ctx):
    """Temperature-scaled data mixing: instead of fixed MIX_TARGETS, each
    source's sampling weight is its natural corpus share raised to 1/τ and
    renormalized — the standard knob that upsamples small sources (τ>1
    flattens toward uniform, τ=1 is proportional). Targets come out of the
    same global budget (MIX_BUDGET_FRAC) and selection inside a source is
    the same deterministic smallest-salted-md5 rank, so the blend is
    reproducible end to end.

    Determinism: the weight denominator Σ share^(1/τ) is a 4-row sum of
    12-dp-quantized sqrt values accumulated in exact decimal; all other
    arithmetic is identical IEEE ops. Scale: one window per source
    partition + source-cardinality aggregates — the corpus shuffles once."""
    from pyspark.sql.window import Window

    d = ctx.source("documents").select("doc_id", "source")
    # the stats frame is source-cardinality (a handful of rows) but feeds
    # four consumers (denominator agg, weight projection, rank join, final
    # join) — checkpoint it once so the corpus aggregate underneath is not
    # re-executed per consumer
    counts = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_available")
    ).transform(barrier)
    total = counts.agg(
        F.sum("n_available").cast("double").alias("n_total")
    )
    q = rnd(F.sqrt(F.col("n_available") / F.col("n_total")), 12)
    stats = counts.crossJoin(F.broadcast(total)).withColumn("q", q)
    denom = stats.agg(dsum(F.col("q")).alias("q_sum"))
    stats = (
        stats.crossJoin(F.broadcast(denom))
        .withColumns(
            {
                "temp_weight": F.col("q") / F.col("q_sum"),
                "n_target": F.floor(
                    (F.col("q") / F.col("q_sum"))
                    * F.floor(F.col("n_total") * F.lit(MIX_BUDGET_FRAC))
                ).cast("long"),
            }
        )
        .transform(barrier)
    )
    w = Window.partitionBy("source").orderBy(
        F.md5(F.concat(F.lit(MIX_SALT), F.col("doc_id").cast("string"))),
        F.col("doc_id"),
    )
    kept = (
        d.withColumn("rk", F.row_number().over(w))
        .join(F.broadcast(stats.select("source", "n_target")), "source")
        .groupBy("source")
        .agg(
            F.sum(F.when(F.col("rk") <= F.col("n_target"), 1).otherwise(0))
            .cast("long")
            .alias("n_kept")
        )
    )
    return (
        stats.join(kept, "source")
        .select(
            "source",
            "n_available",
            rnd(F.col("n_available") / F.col("n_total"), 6).alias(
                "natural_share"
            ),
            rnd(F.col("temp_weight"), 6).alias("temp_weight"),
            "n_target",
            "n_kept",
            F.greatest(F.col("n_target") - F.col("n_kept"), F.lit(0)).alias(
                "deficit"
            ),
        )
    )


oracle(
    "docs_mixture_temperature",
    (),
    f"""WITH d AS (SELECT doc_id, source FROM documents),
counts AS (
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_available FROM d GROUP BY 1
),
total AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_total FROM d),
qs AS (
    SELECT source, n_available, n_total,
           {rnd_sql('SQRT(n_available / n_total)', 12)} AS q
    FROM counts CROSS JOIN total
),
denom AS (SELECT {dsum_sql('q')} AS q_sum FROM qs),
stats AS (
    SELECT source, n_available, n_total, q / q_sum AS temp_weight,
           CAST(FLOOR((q / q_sum) * FLOOR(n_total * {MIX_BUDGET_FRAC}))
                AS BIGINT) AS n_target
    FROM qs CROSS JOIN denom
),
ranked AS (
    SELECT source,
           ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(concat('{MIX_SALT}', CAST(doc_id AS VARCHAR))), doc_id
           ) AS rk
    FROM d
),
kept AS (
    SELECT r.source,
           CAST(SUM(CASE WHEN r.rk <= s.n_target THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept
    FROM ranked r JOIN stats s ON r.source = s.source
    GROUP BY 1
)
SELECT
    s.source,
    s.n_available,
    {rnd_sql('s.n_available / s.n_total', 6)} AS natural_share,
    {rnd_sql('s.temp_weight', 6)} AS temp_weight,
    s.n_target,
    k.n_kept,
    GREATEST(s.n_target - k.n_kept, 0) AS deficit
FROM stats s JOIN kept k ON s.source = k.source""",
)


# --------------------------------------------------------------------------
# leakage-safe (group-aware) splitting + contamination audit
# --------------------------------------------------------------------------


def _split_col(key) -> F.Column:
    """train/val/test from md5(SPLIT_SALT|key) — the same thresholds as
    docs_split_assign, parameterized by the hashing key so callers can
    split by doc_id (per-doc) or by dedup-cluster id (group-aware)."""
    h = F.md5(F.concat(F.lit(SPLIT_SALT), key.cast("string")))
    return (
        F.when(h < F.lit(SPLIT_BOUNDS[0][1]), SPLIT_BOUNDS[0][0])
        .when(h < F.lit(SPLIT_BOUNDS[1][1]), SPLIT_BOUNDS[1][0])
        .otherwise(SPLIT_BOUNDS[2][0])
    )


def _split_sql(key_expr: str) -> str:
    return (
        f"CASE WHEN md5(concat('{SPLIT_SALT}', CAST({key_expr} AS VARCHAR)))"
        f" < '{SPLIT_BOUNDS[0][1]}' THEN '{SPLIT_BOUNDS[0][0]}'"
        f" WHEN md5(concat('{SPLIT_SALT}', CAST({key_expr} AS VARCHAR)))"
        f" < '{SPLIT_BOUNDS[1][1]}' THEN '{SPLIT_BOUNDS[1][0]}'"
        f" ELSE '{SPLIT_BOUNDS[2][0]}' END"
    )


@model("docs_split_by_cluster", layer="operators", materialization="view")
def docs_split_by_cluster(ctx):
    """Leakage-safe train/val/test split: documents are assigned by the
    md5 of their DEDUP-CLUSTER id (dedup_doc_labels), not their own id,
    so every member of a near-duplicate component lands in the same
    split — the contamination guarantee a per-doc split cannot give
    (docs_split_leakage measures exactly that gap). Census output at
    (split, lang) grain, like docs_split_assign, plus the cluster count
    so the stratification loss from moving whole groups is visible.

    Scale: one hash join to labels (SF-linear both sides, co-keyed on
    doc_id) + a stateless split map + one bounded-grain aggregation."""
    labels = ctx.ref("dedup_doc_labels")
    d = ctx.source("documents").select("doc_id", "lang", "n_chars")
    return (
        d.join(labels, "doc_id")
        .withColumn("split", _split_col(F.col("cluster_id")))
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("cluster_id").cast("long").alias("n_clusters"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


oracle(
    "docs_split_by_cluster",
    ("dedup_doc_labels", "documents"),
    f"""SELECT
    {_split_sql('l.cluster_id')} AS split,
    d.lang,
    CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(COUNT(DISTINCT l.cluster_id) AS BIGINT) AS n_clusters,
    CAST(SUM(d.n_chars) AS BIGINT) AS total_chars
FROM documents d
JOIN dedup_doc_labels l ON d.doc_id = l.doc_id
GROUP BY 1, 2""",
)


@model("docs_split_leakage", layer="operators", materialization="view")
def docs_split_leakage(ctx):
    """Train/test contamination audit: for each verified near-dup pair,
    where do its two members land under (a) the naive per-doc split and
    (b) the cluster-aware split? One row per (scheme, split_a, split_b)
    with the pair count — the `per_doc` scheme's off-diagonal rows ARE
    the leaked eval pairs; the `by_cluster` scheme is zero off-diagonal
    by construction (asserted in tests). This is the audit artifact an
    eval-integrity review asks for before trusting held-out numbers.

    Scale: the pair list is tiny next to the corpus, so it is enriched
    with both endpoints' cluster ids in ONE pass and checkpointed (the
    post-materialization plan — without the barrier each scheme branch
    would re-run the LSH pipeline and both label joins); both schemes'
    splits then derive from the enriched rows as a stateless explode +
    one bounded-grain (2x3x3) aggregation."""
    pairs = ctx.ref("dedup_minhash_lsh").select("doc_a", "doc_b")
    labels = ctx.ref("dedup_doc_labels")
    la = labels.withColumnsRenamed({"doc_id": "doc_a", "cluster_id": "ca"})
    lb = labels.withColumnsRenamed({"doc_id": "doc_b", "cluster_id": "cb"})
    enriched = (
        pairs.join(la, "doc_a").join(lb, "doc_b").transform(barrier)
    )
    scheme_rows = enriched.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("per_doc").alias("scheme"),
                    _split_col(F.col("doc_a")).alias("split_a"),
                    _split_col(F.col("doc_b")).alias("split_b"),
                ),
                F.struct(
                    F.lit("by_cluster").alias("scheme"),
                    _split_col(F.col("ca")).alias("split_a"),
                    _split_col(F.col("cb")).alias("split_b"),
                ),
            )
        ).alias("s")
    ).select("s.scheme", "s.split_a", "s.split_b")
    return (
        scheme_rows.groupBy("scheme", "split_a", "split_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .withColumn(
            "is_leak", (F.col("split_a") != F.col("split_b")).cast("boolean")
        )
    )


oracle(
    "docs_split_leakage",
    ("dedup_minhash_lsh", "dedup_doc_labels"),
    f"""WITH schemes AS (
    SELECT 'per_doc' AS scheme, doc_id, {_split_sql('doc_id')} AS split
    FROM dedup_doc_labels
    UNION ALL
    SELECT 'by_cluster' AS scheme, doc_id, {_split_sql('cluster_id')} AS split
    FROM dedup_doc_labels
)
SELECT
    s.scheme,
    sa.split AS split_a,
    sb.split AS split_b,
    CAST(COUNT(*) AS BIGINT) AS n_pairs,
    sa.split <> sb.split AS is_leak
FROM dedup_minhash_lsh p
CROSS JOIN (SELECT DISTINCT scheme FROM schemes) s
JOIN schemes sa ON sa.scheme = s.scheme AND sa.doc_id = p.doc_a
JOIN schemes sb ON sb.scheme = s.scheme AND sb.doc_id = p.doc_b
GROUP BY 1, 2, 3""",
)


@model("docs_shard_by_cluster", layer="operators", materialization="view")
def docs_shard_by_cluster(ctx):
    """Group-aware hash sharding: the shard key is the md5 of the
    DEDUP-CLUSTER id (dedup_doc_labels), so every member of a
    near-duplicate component lands in the SAME shard — the property that
    lets shard-local dedup passes (the only affordable kind at 100 TB)
    still catch every known near-dup pair. Same 16-way nibble scheme and
    balance census as docs_shard_assignment, plus the cluster count per
    shard so the balance cost of moving whole groups is visible.
    Zero-straddle is asserted in tests."""
    labels = ctx.ref("dedup_doc_labels")
    d = ctx.source("documents").select("doc_id", "lang", "n_chars")
    nibble = F.substring(
        F.md5(F.concat(F.lit(SHARD_SALT), F.col("cluster_id").cast("string"))),
        1,
        1,
    )
    shard = (F.instr(F.lit("0123456789abcdef"), nibble) - 1).cast("long")
    return (
        d.join(labels, "doc_id")
        .select(shard.alias("shard_id"), "doc_id", "lang", "n_chars", "cluster_id")
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("cluster_id").cast("long").alias("n_clusters"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
        )
    )


oracle(
    "docs_shard_by_cluster",
    ("dedup_doc_labels", "documents"),
    f"""SELECT
    CAST(strpos('0123456789abcdef',
                substring(md5('{SHARD_SALT}' || CAST(l.cluster_id AS VARCHAR)), 1, 1))
         - 1 AS BIGINT) AS shard_id,
    CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(COUNT(DISTINCT l.cluster_id) AS BIGINT) AS n_clusters,
    CAST(SUM(d.n_chars) AS BIGINT) AS total_chars,
    CAST(COUNT(DISTINCT d.lang) AS BIGINT) AS n_langs
FROM documents d
JOIN dedup_doc_labels l ON d.doc_id = l.doc_id
GROUP BY 1""",
)


# --------------------------------------------------------------------------
# per-source token-budget waterfilling
# --------------------------------------------------------------------------

#: fraction of the corpus token count used as the training budget T
WATERFILL_FRACTION = 0.5


@model("docs_token_waterfill", layer="operators", materialization="view")
def docs_token_waterfill(ctx):
    """Waterfilling allocation of a token budget across sources: find the
    cap λ with Σ min(tokens_s, λ) = T (T = WATERFILL_FRACTION of corpus
    tokens) and give every source min(tokens_s, λ) — the max-min-fair
    mixture a data-curation pipeline uses to stop one giant crawl from
    swallowing the whole budget while small high-quality sources keep
    every token they have. One row per source: its token count, its
    allocation, the shared cap, and whether the source is capped.

    λ has the closed form (T - P_j) / (m - j) where P_j is the prefix
    sum of the j smallest sources — found by scanning the SORTED source
    frame once (sources are a bounded domain, so the sort/windows run on
    a tiny aggregate, never the corpus). If T >= total tokens the cap is
    NULL and every source keeps everything."""
    from pyspark.sql import Window

    d = ctx.source("documents")
    src = d.groupBy("source").agg(
        F.sum(F.size(F.split(F.lower(F.trim(F.col("text"))), " ")))
        .cast("long")
        .alias("n_tokens")
    )
    tot = src.agg(
        F.sum("n_tokens").cast("double").alias("total"),
        F.count(F.lit(1)).cast("long").alias("m"),
    )
    w = Window.orderBy("n_tokens", "source")
    ranked = (
        src.crossJoin(F.broadcast(tot))
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .withColumn(
            "pref",
            F.sum("n_tokens").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .withColumn("prev_c", F.lag("n_tokens").over(w))
        .transform(barrier)
    )
    t_budget = F.lit(WATERFILL_FRACTION) * F.col("total")
    lam = (t_budget - (F.col("pref") - F.col("n_tokens")).cast("double")) / (
        F.col("m") - F.col("rk") + 1
    ).cast("double")
    valid = (lam < F.col("n_tokens")) & (
        F.col("prev_c").isNull() | (lam >= F.col("prev_c"))
    )
    cap = (
        ranked.withColumn("lam", lam)
        .filter(valid)
        .orderBy("rk")
        .limit(1)
        .select(rnd(F.col("lam"), 6).alias("cap"))
    )
    return (
        # LEFT join on TRUE, not a cross join: when T >= total tokens the
        # cap frame is EMPTY and a cross join would wipe the output; the
        # left join keeps every source with a NULL cap (= keep everything)
        ranked.join(F.broadcast(cap), F.lit(True), "left")
        .select(
            "source",
            "n_tokens",
            F.coalesce(
                F.least(F.col("n_tokens").cast("double"), F.col("cap")),
                F.col("n_tokens").cast("double"),
            ).alias("_alloc"),
            "cap",
        )
        .select(
            "source",
            "n_tokens",
            rnd(F.col("_alloc"), 6).alias("allocation"),
            "cap",
            (
                F.col("cap").isNotNull()
                & (F.col("n_tokens").cast("double") > F.col("cap"))
            ).alias("is_capped"),
        )
    )


oracle(
    "docs_token_waterfill",
    ("documents",),
    f"""WITH src AS (
    SELECT source,
        CAST(SUM(len(string_split(lower(trim(text)), ' '))) AS BIGINT)
            AS n_tokens
    FROM documents GROUP BY 1
),
tot AS (
    SELECT CAST(SUM(n_tokens) AS DOUBLE) AS total,
           CAST(COUNT(*) AS BIGINT) AS m
    FROM src
),
ranked AS (
    SELECT s.*, t.total, t.m,
        CAST(ROW_NUMBER() OVER w AS BIGINT) AS rk,
        SUM(n_tokens) OVER (
            ORDER BY n_tokens, source
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS pref,
        LAG(n_tokens) OVER w AS prev_c
    FROM src s CROSS JOIN tot t
    WINDOW w AS (ORDER BY n_tokens, source)
),
cand AS (
    SELECT rk,
        ({WATERFILL_FRACTION} * total - CAST(pref - n_tokens AS DOUBLE))
            / CAST(m - rk + 1 AS DOUBLE) AS lam,
        n_tokens, prev_c
    FROM ranked
),
cap AS (
    SELECT {rnd_sql('lam', 6)} AS cap FROM cand
    WHERE lam < n_tokens AND (prev_c IS NULL OR lam >= prev_c)
    ORDER BY rk LIMIT 1
)
SELECT
    r.source,
    r.n_tokens,
    {rnd_sql(
        'COALESCE(LEAST(CAST(r.n_tokens AS DOUBLE), c.cap),'
        ' CAST(r.n_tokens AS DOUBLE))', 6
    )} AS allocation,
    c.cap,
    (c.cap IS NOT NULL AND CAST(r.n_tokens AS DOUBLE) > c.cap) AS is_capped
FROM ranked r LEFT JOIN cap c ON TRUE""",
)


# --------------------------------------------------------------------------
# Gumbel-top-k: deterministic weighted sampling WITHOUT replacement
# --------------------------------------------------------------------------

#: sample size for the weighted draw
GUMBEL_K = 64
GUMBEL_SALT = "gumbel|"
_GHEX = "0123456789abcdef"


@model("docs_gumbel_topk", layer="operators", materialization="view")
def docs_gumbel_topk(ctx):
    """Weighted sample of K documents WITHOUT replacement, probability
    proportional to size (n_chars), via the Gumbel-top-k trick: the top K
    documents by ``ln(w) + G`` where ``G = -ln(-ln(u))`` is a Gumbel
    perturbation, are EXACTLY a w-proportional sample without replacement
    (Yellott 1977 / the exponential-clocks equivalence) — the one-pass,
    join-free way to draw a weighted subset of a 100 TB corpus.

    Determinism: u comes from 6 hex digits of a salted md5 of the doc id
    (u = (v + 0.5)/16^6 — never 0 or 1), so the "randomness" is a pure
    function of the key: reproducible, resumable, engine-identical. The
    perturbed key is rnd-quantized at 9 dp BEFORE ranking, with doc_id as
    the tie-break, so both engines rank the same order.

    Scale: a stateless per-row map, then ``row_number() <= K`` over the
    quantized key, which Catalyst plans as TakeOrderedAndProject (a
    per-partition K-heap + K-row merge) — no global sort, no shuffle of
    the corpus. Output is K rows."""
    from pyspark.sql.window import Window

    d = ctx.source("documents").filter(F.col("n_chars") > 0)
    v = None
    for i in range(1, 7):
        dig = F.expr(f"instr('{_GHEX}', substring(md5('{GUMBEL_SALT}' || CAST(doc_id AS STRING)), {i}, 1)) - 1")
        v = dig if v is None else v * F.lit(16) + dig
    u = (v.cast("double") + F.lit(0.5)) / F.lit(float(16**6))
    gkey = rnd(F.log(F.col("n_chars").cast("double")) - F.log(-F.log(u)), 9)
    scored = d.select(
        "doc_id", "source", "lang", "n_chars", gkey.alias("gumbel_key")
    )
    w = Window.orderBy(F.col("gumbel_key").desc(), F.col("doc_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= GUMBEL_K)
        .select("rn", "doc_id", "source", "lang", "n_chars", "gumbel_key")
    )


def _gumbel_digit_sql(i: int) -> str:
    return (
        f"(strpos('{_GHEX}', substring(md5('{GUMBEL_SALT}' ||"
        f" CAST(doc_id AS VARCHAR)), {i}, 1)) - 1)"
    )


oracle(
    "docs_gumbel_topk",
    ("documents",),
    f"""WITH v AS (
    SELECT doc_id, source, lang, n_chars,
        ((((({_gumbel_digit_sql(1)}) * 16 + {_gumbel_digit_sql(2)}) * 16
            + {_gumbel_digit_sql(3)}) * 16 + {_gumbel_digit_sql(4)}) * 16
            + {_gumbel_digit_sql(5)}) * 16 + {_gumbel_digit_sql(6)} AS hv
    FROM documents WHERE n_chars > 0
),
s AS (
    SELECT doc_id, source, lang, n_chars,
        {rnd_sql(
            'ln(CAST(n_chars AS DOUBLE))'
            f' - ln(-ln((CAST(hv AS DOUBLE) + 0.5) / {float(16**6)!r}))', 9)}
            AS gumbel_key
    FROM v
),
r AS (
    SELECT *, CAST(ROW_NUMBER() OVER (
        ORDER BY gumbel_key DESC, doc_id) AS BIGINT) AS rn
    FROM s
)
SELECT rn, doc_id, source, lang, n_chars, gumbel_key
FROM r WHERE rn <= {GUMBEL_K}""",
)


# --------------------------------------------------------------------------
# Per-group reservoir: fixed-k deterministic uniform sample per source
# --------------------------------------------------------------------------

RESERVOIR_K = 5
RESERVOIR_SALT = "reservoir|"


@model("docs_reservoir_per_source", layer="operators", materialization="view")
def docs_reservoir_per_source(ctx):
    """Fixed-size (k=5) uniform sample per source — the per-group
    "show me a few examples" primitive every corpus review needs. Keeping
    the k smallest salted-md5 keys within each group IS a uniform
    k-reservoir (bottom-k by a random-uniform key), but deterministic,
    mergeable across shards (re-rank the union), and engine-identical.

    Scale: ``row_number() <= k`` over a window PARTITIONED by source
    plans as WindowGroupLimit — a running per-group k-heap, no global
    sort, no group materialization. Output is |sources| x k rows."""
    from pyspark.sql.window import Window

    d = ctx.source("documents")
    key = F.md5(
        F.concat(F.lit(RESERVOIR_SALT), F.col("doc_id").cast("string"))
    )
    w = Window.partitionBy("source").orderBy(key.asc(), F.col("doc_id"))
    return (
        d.withColumn("slot", F.row_number().over(w).cast("long"))
        .filter(F.col("slot") <= RESERVOIR_K)
        .select("source", "slot", "doc_id", "lang", "n_chars")
    )


oracle(
    "docs_reservoir_per_source",
    ("documents",),
    f"""WITH r AS (
    SELECT source, doc_id, lang, n_chars,
        CAST(ROW_NUMBER() OVER (
            PARTITION BY source
            ORDER BY md5('{RESERVOIR_SALT}' || CAST(doc_id AS VARCHAR)), doc_id
        ) AS BIGINT) AS slot
    FROM documents
)
SELECT source, slot, doc_id, lang, n_chars
FROM r WHERE slot <= {RESERVOIR_K}""",
)


# --------------------------------------------------------------------------
# leave-one-source-out impact: what does each source do to corpus quality?
# --------------------------------------------------------------------------


@model("source_loo_impact", layer="operators", materialization="view")
def source_loo_impact(ctx):
    """Leave-one-source-out influence: for each source, the corpus mean
    quality WITHOUT that source and the delta vs the full-corpus mean — a
    positive delta means dropping the source would raise average quality
    (it drags the mix down). The cheap, exact form of data valuation a
    mixture decision actually needs: because the mean is algebraic,
    "recompute the corpus N_sources times" collapses to one pass —
    mean_loo = (Q_total − Q_s) / (N − n_s).

    Scale shape: ONE corpus pass to per-source sufficient statistics
    (count, token sum, decimal-exact quality sum); the global totals are
    re-sums of that bounded frame kept in DECIMAL so addition order can
    never leak into the doubles; everything downstream is a broadcast of
    a 1-row frame. Zero joins against the corpus."""
    from dbt_tpch_spark.operators.text import doc_quality_cols

    c = doc_quality_cols()
    per_doc = ctx.source("documents").select(
        "source",
        c["n_tokens"].alias("n_tokens"),
        c["quality_prob"].alias("q"),
    )
    per_source = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.sum(F.col("q").cast("decimal(27,6)")).alias("q_dec"),
    )
    tot = per_source.agg(
        F.sum("n_docs").cast("long").alias("n_total"),
        F.sum("n_tokens").cast("long").alias("tok_total"),
        F.sum("q_dec").alias("q_total"),
    )
    mean_all = F.col("q_total").cast("double") / F.col("n_total")
    mean_loo = (F.col("q_total") - F.col("q_dec")).cast("double") / (
        F.col("n_total") - F.col("n_docs")
    )
    return per_source.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        rnd(F.col("n_tokens").cast("double") / F.col("tok_total"), 6).alias(
            "token_share"
        ),
        rnd(mean_all, 6).alias("mean_quality"),
        rnd(mean_loo, 6).alias("mean_quality_loo"),
        rnd(mean_loo - mean_all, 6).alias("delta_quality"),
    )


_LOO_MEAN_ALL = "CAST(t.q_total AS DOUBLE) / t.n_total"
_LOO_MEAN_LOO = "CAST(t.q_total - s.q_dec AS DOUBLE) / (t.n_total - s.n_docs)"

oracle(
    "source_loo_impact",
    ("documents", "doc_quality_classifier"),
    """WITH per_doc AS (
    SELECT d.source,
           CAST(len(string_split(lower(trim(d.text)), ' ')) AS BIGINT)
               AS n_tokens,
           c.quality_prob AS q
    FROM documents d JOIN doc_quality_classifier c USING (doc_id)
),
per_source AS (
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           SUM(CAST(q AS DECIMAL(27,6))) AS q_dec
    FROM per_doc GROUP BY 1
),
tot AS (
    SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total,
           CAST(SUM(n_tokens) AS BIGINT) AS tok_total,
           SUM(q_dec) AS q_total
    FROM per_source
)
SELECT
    s.source,
    s.n_docs,
    s.n_tokens,
    {ts} AS token_share,
    {mq} AS mean_quality,
    {ml} AS mean_quality_loo,
    {dq} AS delta_quality
FROM per_source s CROSS JOIN tot t""".format(
        ts=rnd_sql("CAST(s.n_tokens AS DOUBLE) / t.tok_total", 6),
        mq=rnd_sql(_LOO_MEAN_ALL, 6),
        ml=rnd_sql(_LOO_MEAN_LOO, 6),
        dq=rnd_sql(f"({_LOO_MEAN_LOO}) - ({_LOO_MEAN_ALL})", 6),
    ),
)


# --------------------------------------------------------------------------
# quality-aware dedup survivor election
# --------------------------------------------------------------------------


@model("docs_quality_survivors", layer="operators", materialization="view")
def docs_quality_survivors(ctx):
    """Survivor election that keeps the BEST near-duplicate, not the
    first: within each dedup cluster the survivor is the member with the
    highest classifier quality (ties to the lowest doc_id), compared in
    the same report against the naive keep-min-doc_id policy. The output
    is the one-row policy audit: docs retained, mean quality under each
    policy, and the quality gain the smarter election buys — the number a
    curation review actually asks for before a 100 TB dedup pass.

    Scale shape: cluster labels and quality scores join at doc grain (two
    corpus-grain inputs, one hash join); election is a per-cluster
    max(struct) aggregation — single shuffle on cluster_id, no windows;
    the final report is a scalar rollup of the bounded survivor frame.
    max(struct(quality, -doc_id)) keeps the whole election inside one
    map-side-combinable aggregate (the dedup_exact survivor trick, with
    quality promoted above recency)."""
    from dbt_tpch_spark.operators.text import doc_quality_cols

    c = doc_quality_cols()
    scored = ctx.source("documents").select(
        "doc_id", c["quality_prob"].alias("q")
    )
    labeled = ctx.ref("dedup_doc_labels").join(scored, "doc_id")
    elected = labeled.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.max(
            F.struct(F.col("q"), (-F.col("doc_id")).alias("neg_id"))
        ).alias("best"),
        F.min("doc_id").alias("naive_doc_id"),
        F.min(F.struct(F.col("doc_id"), F.col("q"))).alias("naive"),
        F.sum(F.col("q").cast("decimal(27,6)")).alias("q_sum"),
    )
    return elected.agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum("n_members").cast("long").alias("n_docs"),
        isum(F.when(F.col("n_members") > 1, F.lit(1)).otherwise(F.lit(0))).alias(
            "n_dup_clusters"
        ),
        rnd(
            F.sum("q_sum").cast("double") / F.sum("n_members"), 6
        ).alias("mean_quality_all"),
        rnd(
            F.sum(F.col("best.q").cast("decimal(27,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_quality_best_policy"),
        rnd(
            F.sum(F.col("naive.q").cast("decimal(27,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_quality_naive_policy"),
        isum(
            F.when((-F.col("best.neg_id")) != F.col("naive_doc_id"), F.lit(1))
            .otherwise(F.lit(0))
        ).alias("n_elections_changed"),
    ).select(
        "*",
        rnd(
            F.col("mean_quality_best_policy")
            - F.col("mean_quality_naive_policy"),
            6,
        ).alias("quality_gain"),
    )


oracle(
    "docs_quality_survivors",
    ("dedup_doc_labels", "doc_quality_classifier"),
    f"""WITH labeled AS (
    SELECT l.cluster_id, l.doc_id, c.quality_prob AS q
    FROM dedup_doc_labels l
    JOIN doc_quality_classifier c USING (doc_id)
),
elected AS (
    SELECT cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           MAX(struct_pack(q := q, nid := -doc_id)) AS best,
           MIN(doc_id) AS naive_doc_id,
           MIN(struct_pack(d := doc_id, q := q)) AS naive,
           SUM(CAST(q AS DECIMAL(27,6))) AS q_sum
    FROM labeled GROUP BY 1
)
SELECT
    CAST(COUNT(*) AS BIGINT) AS n_clusters,
    CAST(SUM(n_members) AS BIGINT) AS n_docs,
    {isum_sql('CASE WHEN n_members > 1 THEN 1 ELSE 0 END')} AS n_dup_clusters,
    {rnd_sql('CAST(SUM(q_sum) AS DOUBLE) / SUM(n_members)', 6)} AS mean_quality_all,
    {rnd_sql("CAST(SUM(CAST(best['q'] AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*)", 6)} AS mean_quality_best_policy,
    {rnd_sql("CAST(SUM(CAST(naive['q'] AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*)", 6)} AS mean_quality_naive_policy,
    {isum_sql("CASE WHEN -best['nid'] != naive_doc_id THEN 1 ELSE 0 END")} AS n_elections_changed,
    {rnd_sql(
        rnd_sql("CAST(SUM(CAST(best['q'] AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*)", 6)
        + " - "
        + rnd_sql("CAST(SUM(CAST(naive['q'] AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*)", 6), 6
    )} AS quality_gain
FROM elected""",
)
