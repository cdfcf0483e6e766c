"""Substring-level duplication operators over ``documents``: C4-style
boilerplate n-gram pruning and winnowing (MOSS) fingerprints with
fingerprint-bucketed substring-dup pair detection.

Extension surface (the reference has no text processing — SURVEY §2.9);
these complete the dedup family in dedup.py: exact (whole-doc), MinHash-LSH
(set-similarity), SimHash (bit-similarity), embedding-cosine (semantic) —
and here *substring-level*: repeated n-grams across documents (boilerplate)
and shared winnow fingerprints (local substring overlap, the
plagiarism/contamination detector of Schleimer et al. 2003, "Winnowing:
Local Algorithms for Document Fingerprinting").

Everything is Catalyst expressions (split/transform/slice/array lambdas) —
zero Python UDFs. Scale shapes:

* boilerplate: one repartition on doc_id before the explode (hash(doc_id)
  satisfies every downstream per-doc clustering by the subset rule), one
  shuffle for the shingle document-frequency census; the boilerplate set is
  df-bounded and broadcasts back.
* winnowing: fingerprints are computed per-row (array ops, no shuffle);
  the pair join is bucketed by fingerprint value — the winnow guarantee
  (one fingerprint per w-window, density ~2/(w+1)) bounds per-doc
  fingerprints, and the WINNOW_MAX_FP_DOCS valve drops ubiquitous
  (boilerplate) fingerprints so no bucket goes quadratic — the same
  hot-bucket discipline as dedup.py's MAX_BAND_BUCKET.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dbt_tpch_spark.functions import barrier, rnd
from dbt_tpch_spark.models.oracle import oracle, rnd_sql
from dbt_tpch_spark.operators.dedup import (
    _NORM_TEXT_DUCK,
    _doc_parallelism,
    _hex32,
)
from dbt_tpch_spark.plans import model

#: boilerplate census: n-gram width, min distinct docs to call an n-gram
#: boilerplate, and the per-doc boilerplate-coverage drop threshold.
BOILER_N = 5
BOILER_MIN_DOCS = 3
BOILER_MAX_FRACTION = 0.5

#: winnowing: k-gram width, window width (guarantee: any match of length
#: >= WINNOW_K + WINNOW_W - 1 = 12 tokens shares a fingerprint),
#: pair-report minimum shared fingerprints, and the ubiquitous-fingerprint
#: valve. k/w are sized for selectivity on a SMALL-vocabulary corpus:
#: 3-grams over ~30 word types collide so heavily that fp buckets go
#: quadratic (measured 122 s at sf0.1); 5-grams make the k-gram keyspace
#: vocab^5 so a bucket is "docs genuinely sharing a 5-gram", and w=8 cuts
#: fingerprint density to ~2/(w+1) = 0.22 of positions.
WINNOW_K = 5
WINNOW_W = 8
WINNOW_MIN_SHARED = 3
WINNOW_MAX_FP_DOCS = 50


def _shingle_expr(n: int) -> str:
    """SQL text for the n-gram string array over space-split tokens —
    identical text on both engines modulo the slice/transform names, so
    build it per-engine below."""
    return (
        f"CASE WHEN size(split(lower(trim(text)), ' ')) >= {n}"
        f" THEN transform(sequence(1, size(split(lower(trim(text)), ' ')) - {n - 1}),"
        f" i -> concat_ws(' ', slice(split(lower(trim(text)), ' '), i, {n})))"
        f" ELSE array() END"
    )


def _shingle_duck(n: int) -> str:
    return (
        f"CASE WHEN len(string_split(lower(trim(text)), ' ')) >= {n}"
        f" THEN list_transform(range(1, len(string_split(lower(trim(text)), ' ')) - {n - 2}),"
        f" i -> array_to_string(list_slice(string_split(lower(trim(text)), ' '),"
        f" i, i + {n - 1}), ' '))"
        f" ELSE [] END"
    )


# --------------------------------------------------------------------------
# boilerplate n-gram pruning (C4-style repeated-n-gram removal signal)
# --------------------------------------------------------------------------


@model("docs_boilerplate_ngrams", layer="operators", materialization="view")
def docs_boilerplate_ngrams(ctx):
    """Per-document boilerplate coverage: the fraction of a document's
    distinct BOILER_N-grams that appear in >= BOILER_MIN_DOCS distinct
    documents, and the resulting keep/drop flag — the C4/RefinedWeb
    "repeated n-gram" cleanup signal that catches templated/boilerplate
    text which per-doc quality scores miss.

    Scale: corpus repartitions on doc_id before the explode; the
    (doc_id, shingle) distinct and both per-doc aggregates are satisfied
    by hash(doc_id) (subset rule) — the only other exchange is the
    shingle document-frequency census, whose output (the boilerplate set)
    is df-bounded and broadcasts back onto the per-doc frame."""
    d = (
        ctx.source("documents")
        .select("doc_id", "lang", "source", "text")
        .repartition(_doc_parallelism(ctx), "doc_id")
    )
    ds = d.select(
        "doc_id",
        "lang",
        "source",
        F.explode(F.expr(_shingle_expr(BOILER_N))).alias("shingle"),
    ).dropDuplicates(["doc_id", "shingle"])
    df_census = (
        ds.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= BOILER_MIN_DOCS)
    )
    per_doc = ds.groupBy("doc_id", "lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_shingles")
    )
    # the boilerplate census is shingle-grain (corpus-growing): hint-free,
    # AQE broadcasts while small and demotes at scale
    boiled = (
        ds.join(df_census.select("shingle"), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_boiler"))
    )
    frac = F.coalesce(F.col("n_boiler"), F.lit(0)).cast("double") / F.col(
        "n_shingles"
    ).cast("double")
    return (
        per_doc.join(boiled, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            "source",
            "n_shingles",
            F.coalesce(F.col("n_boiler"), F.lit(0)).cast("long").alias("n_boiler"),
            rnd(frac, 6).alias("boiler_fraction"),
            (frac > BOILER_MAX_FRACTION).alias("boiler_flag"),
        )
    )


oracle(
    "docs_boilerplate_ngrams",
    ("documents",),
    f"""WITH ds AS (
    SELECT DISTINCT doc_id, lang, source, shingle
    FROM (
        SELECT doc_id, lang, source,
               unnest({_shingle_duck(BOILER_N)}) AS shingle
        FROM documents
    )
),
census AS (
    SELECT shingle FROM ds GROUP BY 1 HAVING COUNT(*) >= {BOILER_MIN_DOCS}
),
per_doc AS (
    SELECT doc_id, lang, source, CAST(COUNT(*) AS BIGINT) AS n_shingles
    FROM ds GROUP BY 1, 2, 3
),
boiled AS (
    SELECT ds.doc_id, CAST(COUNT(*) AS BIGINT) AS n_boiler
    FROM ds JOIN census USING (shingle)
    GROUP BY 1
)
SELECT
    p.doc_id,
    p.lang,
    p.source,
    p.n_shingles,
    CAST(COALESCE(b.n_boiler, 0) AS BIGINT) AS n_boiler,
    {rnd_sql('CAST(COALESCE(b.n_boiler, 0) AS DOUBLE) / CAST(p.n_shingles AS DOUBLE)', 6)}
        AS boiler_fraction,
    (CAST(COALESCE(b.n_boiler, 0) AS DOUBLE) / CAST(p.n_shingles AS DOUBLE)
        > {BOILER_MAX_FRACTION}) AS boiler_flag
FROM per_doc p
LEFT JOIN boiled b ON p.doc_id = b.doc_id""",
)


# --------------------------------------------------------------------------
# winnowing fingerprints (Schleimer et al. 2003)
# --------------------------------------------------------------------------

#: shared SQL text: 32-bit hash per k-gram via md5 (engine-portable nibble
#: arithmetic, dedup.py's _hex32)
_HASH_LAMBDA = _hex32("h", 0)


def _fp_expr_spark() -> str:
    n_kg = f"size(split(lower(trim(text)), ' ')) - {WINNOW_K - 1}"
    return (
        f"CASE WHEN ({n_kg}) >= {WINNOW_W} THEN array_distinct("
        f" transform(sequence(1, ({n_kg}) - {WINNOW_W - 1}),"
        f" i -> array_min(slice(kg_hashes, i, {WINNOW_W}))))"
        f" ELSE CAST(array() AS ARRAY<BIGINT>) END"
    )


def _fp_expr_duck() -> str:
    n_kg = f"len(string_split(lower(trim(text)), ' ')) - {WINNOW_K - 1}"
    return (
        f"CASE WHEN ({n_kg}) >= {WINNOW_W} THEN list_distinct("
        f" list_transform(range(1, ({n_kg}) - {WINNOW_W - 2}),"
        f" i -> list_min(list_slice(kg_hashes, i, i + {WINNOW_W - 1}))))"
        f" ELSE CAST([] AS BIGINT[]) END"
    )


def _with_fps_spark(d):
    """Array-form fingerprints (kg_hashes + fps columns).

    SAFE ONLY for consumers that reference kg_hashes/fps MORE than once
    (as doc_winnow_fingerprints does via size/min/max): multiple
    references stop CollapseProject from inlining the hash-array
    expression into the sliding-window lambda. A single-reference consumer
    gets the O(n² · md5) collapse — use the posexplode + window-min form
    (docs_winnow_dups) instead."""
    kg = d.withColumn(
        "kg_hashes",
        F.expr(
            f"transform(transform({_shingle_expr(WINNOW_K)}, s -> md5(s)),"
            f" h -> {_HASH_LAMBDA})"
        ),
    )
    return kg.withColumn("fps", F.expr(_fp_expr_spark()))


_FPS_DUCK = f"""
    SELECT doc_id, lang, source,
           {_fp_expr_duck()} AS fps,
           len(kg_hashes) AS n_kgrams
    FROM (
        SELECT doc_id, lang, source, text,
               list_transform(
                   list_transform({_shingle_duck(WINNOW_K)}, s -> md5(s)),
                   h -> {_HASH_LAMBDA}) AS kg_hashes
        FROM documents
    )
"""


@model("doc_winnow_fingerprints", layer="operators", materialization="view")
def doc_winnow_fingerprints(ctx):
    """Winnowing fingerprint summary per document: the distinct minima of
    WINNOW_W-sized sliding windows over 32-bit k-gram hashes. The winnow
    guarantee: any shared token run of length >= WINNOW_K + WINNOW_W - 1
    between two documents shares at least one fingerprint — the
    substring-level contamination detector.

    Per-row array arithmetic only — no shuffle at all (pinned in
    tests/test_plan_budgets.py)."""
    d = ctx.source("documents").select("doc_id", "lang", "source", "text")
    fps = _with_fps_spark(d)
    return fps.select(
        "doc_id",
        "lang",
        "source",
        F.size("kg_hashes").cast("long").alias("n_kgrams"),
        F.size("fps").cast("long").alias("n_fingerprints"),
        rnd(
            F.size("fps").cast("double")
            / F.nullif(F.size("kg_hashes"), F.lit(0)).cast("double"),
            6,
        ).alias("fp_density"),
        F.array_min("fps").alias("min_fp"),
        F.array_max("fps").alias("max_fp"),
    )


oracle(
    "doc_winnow_fingerprints",
    ("documents",),
    f"""WITH fps AS ({_FPS_DUCK})
SELECT
    doc_id,
    lang,
    source,
    CAST(n_kgrams AS BIGINT) AS n_kgrams,
    CAST(len(fps) AS BIGINT) AS n_fingerprints,
    {rnd_sql('CAST(len(fps) AS DOUBLE) / CAST(NULLIF(n_kgrams, 0) AS DOUBLE)', 6)}
        AS fp_density,
    list_min(fps) AS min_fp,
    list_max(fps) AS max_fp
FROM fps""",
)


@model("docs_winnow_dups", layer="operators", materialization="view")
def docs_winnow_dups(ctx):
    """Substring-level near-dup pairs: documents sharing >=
    WINNOW_MIN_SHARED winnow fingerprints, with the fingerprint-overlap
    Jaccard. Candidate generation is bucketed by fingerprint value (never
    all-pairs); fingerprints present in > WINNOW_MAX_FP_DOCS documents are
    boilerplate and excluded from pairing (the hot-bucket valve —
    documented recall tradeoff, same discipline as MinHash-LSH's
    MAX_BAND_BUCKET)."""
    from pyspark.sql import Window

    d = (
        ctx.source("documents")
        .select("doc_id", "text")
        .repartition(_doc_parallelism(ctx), "doc_id")
    )
    # Fingerprints via posexplode + window-frame sliding min, NOT the
    # per-row array lambda used by doc_winnow_fingerprints. Reason: when a
    # consumer references the fps array exactly once (as this model's
    # explode does), CollapseProject inlines the whole kg_hashes expression
    # into the sliding-window lambda and every window position recomputes
    # the ENTIRE md5 hash array — O(n² · md5) per document (measured 115 s
    # at sf0.1 vs ~3 s for this form). The exploded form evaluates the
    # hash array once per doc row; the frame min is linear; and both the
    # window and the (doc_id, fp) distinct are satisfied by the hash
    # (doc_id) repartition — no further exchanges.
    kg = d.withColumn(
        "kg_hashes",
        F.expr(
            f"transform(transform({_shingle_expr(WINNOW_K)}, s -> md5(s)),"
            f" h -> {_HASH_LAMBDA})"
        ),
    )
    hashes = kg.select(
        "doc_id",
        F.size("kg_hashes").alias("n_kg"),
        F.posexplode("kg_hashes").alias("pos", "h"),
    )
    w_min = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, WINNOW_W - 1)
    )
    fps = (
        hashes.withColumn("fp", F.min("h").over(w_min))
        .filter(F.col("pos") <= F.col("n_kg") - WINNOW_W)
        .select("doc_id", "fp")
        .dropDuplicates(["doc_id", "fp"])
        # four consumers (per-doc census, hot-fp valve, both join sides)
        # would each re-run hashing+winnowing; a deployment persists the
        # fingerprint index, so materialize it once here too
        .transform(barrier)
    )
    per_doc = fps.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_fps")
    )
    hot = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > WINNOW_MAX_FP_DOCS)
        .select("fp")
    )
    cool = fps.join(F.broadcast(hot), "fp", "left_anti")
    a = cool.select(F.col("doc_id").alias("doc_a"), "fp")
    b = cool.select(F.col("doc_id").alias("doc_b"), "fp")
    shared = (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= WINNOW_MIN_SHARED)
    )
    # per_doc is doc-cardinality — no broadcast hint; AQE picks the
    # strategy by actual size (the PageRank state-broadcast lesson)
    na = per_doc.select(F.col("doc_id").alias("doc_a"), F.col("n_fps").alias("fps_a"))
    nb = per_doc.select(F.col("doc_id").alias("doc_b"), F.col("n_fps").alias("fps_b"))
    return (
        shared.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            rnd(
                F.col("n_shared").cast("double")
                / (F.col("fps_a") + F.col("fps_b") - F.col("n_shared")).cast(
                    "double"
                ),
                6,
            ).alias("fp_jaccard"),
        )
    )


oracle(
    "docs_winnow_dups",
    ("documents",),
    f"""WITH fps AS ({_FPS_DUCK}),
flat AS (
    SELECT DISTINCT doc_id, fp
    FROM (SELECT doc_id, unnest(fps) AS fp FROM fps)
),
per_doc AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fps FROM flat GROUP BY 1
),
cool AS (
    SELECT doc_id, fp FROM flat
    WHERE fp NOT IN (
        SELECT fp FROM flat GROUP BY 1 HAVING COUNT(*) > {WINNOW_MAX_FP_DOCS}
    )
),
shared AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM cool a JOIN cool b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING COUNT(*) >= {WINNOW_MIN_SHARED}
)
SELECT
    s.doc_a,
    s.doc_b,
    s.n_shared,
    {rnd_sql('CAST(s.n_shared AS DOUBLE)'
             ' / CAST(pa.n_fps + pb.n_fps - s.n_shared AS DOUBLE)', 6)}
        AS fp_jaccard
FROM shared s
JOIN per_doc pa ON s.doc_a = pa.doc_id
JOIN per_doc pb ON s.doc_b = pb.doc_id""",
)


# --------------------------------------------------------------------------
# cross-document duplicate spans (ExactSubstr-style, Lee et al. 2022)
# --------------------------------------------------------------------------

#: duplicate-span detection: shingle width (tokens) and the minimum
#: merged-span length worth reporting. K=8 keeps chance collisions
#: negligible even on a small-vocabulary corpus (the winnowing sizing
#: note above: the k-gram keyspace is vocab^k), and MIN=12 matches the
#: winnowing guarantee length (WINNOW_K + WINNOW_W - 1) so the two
#: operators agree on what "a real shared run" means.
DUPSPAN_K = 8
DUPSPAN_MIN_TOKENS = 12


@model("docs_dup_spans", layer="operators", materialization="view")
def docs_dup_spans(ctx):
    """Per-document MAXIMAL cross-document duplicate spans — the
    position-aware complement of docs_boilerplate_ngrams (which reports
    only the distinct-shingle fraction) and of the winnowing pair
    reporter (which samples fingerprints): every K-token shingle that
    appears in >= 2 distinct documents marks its position duplicated,
    and consecutive duplicated positions (gap <= K, i.e. overlapping or
    adjacent covered-token ranges) merge into maximal spans. Reported
    per document: span count, EXACT union token coverage (merged spans
    are disjoint by construction, so the sum never double-counts),
    longest span, and coverage fraction — the span-level dedup signal
    of Lee et al., "Deduplicating Training Data Makes Language Models
    Better" (ACL 2022), whose suffix-array ExactSubstr this re-expresses
    as two relational passes.

    Scale: NO pair stage anywhere — unlike the Jaccard/winnowing
    reporters this never forms (doc_a, doc_b) rows, so output is bounded
    by input positions and the plan is strictly linear in corpus size.
    Shuffles: the shingle census (groupBy sh, two-phase distinct-count)
    and — only at scale — the census join (hint-free: AQE broadcasts the
    df-bounded duplicate-shingle set while small, demotes to a shuffle
    join when it grows); the islands window and both per-doc aggregates
    are satisfied by tokens_df's hash(doc_id) partitioning (subset
    rule), so nothing exploded ever re-shuffles on the broadcast path.
    Hot shingles need no valve: a position row matches at most one
    census row, so the join fan-out is 1:1 regardless of how many
    documents share a shingle."""
    from pyspark.sql.window import Window

    from dbt_tpch_spark.operators.dedup import shingle_col, tokens_df

    # the position frame feeds TWO sites (the census groupBy and the
    # probe join) and each re-ran the whole normalize + shingle + md5
    # pipeline over the raw corpus; materialize it once (round-11). The
    # storage cost is one position-grain pass — the same order as the
    # census shuffle that follows it either way.
    pos = (
        tokens_df(ctx)
        .select(
            "doc_id",
            F.size("toks").cast("long").alias("n_tokens"),
            F.posexplode(shingle_col(DUPSPAN_K, distinct=False)).alias(
                "pos0", "sh_str"
            ),
        )
        .select(
            "doc_id",
            "n_tokens",
            (F.col("pos0") + 1).alias("pos"),
            F.md5("sh_str").alias("sh"),
        )
        .transform(barrier)
    )
    dup = (
        pos.groupBy("sh")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .select("sh")
    )
    dpos = pos.join(dup, "sh").select("doc_id", "n_tokens", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    brk = F.when(
        F.col("pos") - F.lag("pos").over(w) <= DUPSPAN_K, F.lit(0)
    ).otherwise(F.lit(1))
    spans = (
        dpos.withColumn("brk", brk)
        .withColumn(
            "island",
            F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("doc_id", "n_tokens", "island")
        .agg(
            (F.max("pos") - F.min("pos") + DUPSPAN_K)
            .cast("long")
            .alias("span_tokens")
        )
        .filter(F.col("span_tokens") >= DUPSPAN_MIN_TOKENS)
    )
    frac = F.col("dup_tokens").cast("double") / F.col("n_tokens").cast(
        "double"
    )
    return (
        spans.groupBy("doc_id", "n_tokens")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dup_spans"),
            F.sum("span_tokens").cast("long").alias("dup_tokens"),
            F.max("span_tokens").cast("long").alias("max_span_tokens"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_dup_spans",
            "dup_tokens",
            "max_span_tokens",
            rnd(frac, 6).alias("dup_frac"),
        )
    )


oracle(
    "docs_dup_spans",
    ("documents",),
    f"""WITH toks AS (
    SELECT doc_id, string_split({_NORM_TEXT_DUCK}, ' ') AS t FROM documents
),
base AS (
    SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n_tokens,
           UNNEST(range(1, len(t) - {DUPSPAN_K} + 2)) AS pos
    FROM toks WHERE len(t) >= {DUPSPAN_K}
),
pos AS (
    SELECT doc_id, n_tokens, pos,
           md5(array_to_string(
               list_slice(t, pos, pos + {DUPSPAN_K} - 1), ' ')) AS sh
    FROM base
),
dup AS (
    SELECT sh FROM pos GROUP BY sh HAVING COUNT(DISTINCT doc_id) >= 2
),
dpos AS (
    SELECT p.doc_id, p.n_tokens, p.pos FROM pos p JOIN dup USING (sh)
),
isl AS (
    SELECT doc_id, n_tokens, pos,
           CASE WHEN pos - lag(pos) OVER (
                    PARTITION BY doc_id ORDER BY pos) <= {DUPSPAN_K}
                THEN 0 ELSE 1 END AS brk
    FROM dpos
),
isl2 AS (
    SELECT doc_id, n_tokens, pos,
           SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS UNBOUNDED PRECEDING) AS island
    FROM isl
),
spans AS (
    SELECT doc_id, n_tokens, island,
           CAST(MAX(pos) - MIN(pos) + {DUPSPAN_K} AS BIGINT) AS span_tokens
    FROM isl2 GROUP BY 1, 2, 3
    HAVING MAX(pos) - MIN(pos) + {DUPSPAN_K} >= {DUPSPAN_MIN_TOKENS}
)
SELECT
    doc_id,
    n_tokens,
    CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
    CAST(SUM(span_tokens) AS BIGINT) AS dup_tokens,
    CAST(MAX(span_tokens) AS BIGINT) AS max_span_tokens,
    {rnd_sql('CAST(SUM(span_tokens) AS DOUBLE) / CAST(n_tokens AS DOUBLE)', 6)}
        AS dup_frac
FROM spans
GROUP BY doc_id, n_tokens""",
)


@model("docs_excise_spans", layer="operators", materialization="view")
def docs_excise_spans(ctx):
    """The REMOVAL step docs_dup_spans only signals — span-level dedup
    that rewrites documents instead of dropping them (the ExactSubstr
    excision of Lee et al. 2022, vs docs_clean_corpus's whole-doc
    anti-join): every duplicated K-shingle position whose shingle also
    appears in a SMALLER doc_id is excisable (the minimal holder is the
    canonical occurrence and keeps it — within-doc repeats of a
    cross-doc shingle all survive in the canonical doc and all excise
    elsewhere, a stated doc-granularity simplification of the paper's
    remove-all-but-one-position policy); excisable positions merge into
    maximal spans exactly like docs_dup_spans, spans under
    DUPSPAN_MIN_TOKENS are kept (too short to be evidence of copying),
    and every token covered by a surviving span is cut. Output: ALL
    documents (never empty), rewritten text + before/after token counts
    + spans excised.

    Scale: the census / islands plumbing is docs_dup_spans' (no pair
    stage, linear); the two additions are both linear too — the removal
    set is spans exploded to (doc_id, tpos) keys feeding a left_anti
    equi-join against the token frame (disjoint spans, so no dup keys),
    and reassembly is one per-doc sort-by-position aggregation riding
    hash(doc_id). Nothing here is quadratic in corpus size."""
    from dbt_tpch_spark.operators.dedup import shingle_col, tokens_df

    # the token frame feeds THREE sites (the shingle-position pass, the
    # token-position frame, and the before-count) and each re-ran the
    # regex normalize + split over the raw corpus — materialize it once
    # (round-11); pos additionally feeds the census AND the probe join,
    # so it gets its own barrier (same reasoning as docs_dup_spans)
    toks_b = barrier(tokens_df(ctx))
    pos = (
        toks_b.select(
            "doc_id",
            F.posexplode(shingle_col(DUPSPAN_K, distinct=False)).alias(
                "pos0", "sh_str"
            ),
        )
        .select(
            "doc_id",
            (F.col("pos0") + 1).alias("pos"),
            F.md5("sh_str").alias("sh"),
        )
        .transform(barrier)
    )
    census = (
        pos.groupBy("sh")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
        )
        .filter(F.col("n_docs") >= 2)
        .select("sh", "min_doc")
    )
    exc = (
        pos.join(census, "sh")
        .filter(F.col("doc_id") > F.col("min_doc"))
        .select("doc_id", "pos")
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy("pos")
    brk = F.when(
        F.col("pos") - F.lag("pos").over(w) <= DUPSPAN_K, F.lit(0)
    ).otherwise(F.lit(1))
    spans = (
        exc.withColumn("brk", brk)
        .withColumn(
            "island",
            F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + DUPSPAN_K - 1).alias("span_end"),
        )
        .filter(
            F.col("span_end") - F.col("span_start") + 1
            >= DUPSPAN_MIN_TOKENS
        )
        # two consumers (the removal explode and the per-doc span count)
        # would each re-run the census+islands subtree — the dominant
        # cost at scale; the surviving-span frame is tiny (bounded by
        # excisable dup structure), so materialize it once
        .transform(barrier)
    )
    removed = spans.select(
        "doc_id",
        F.explode(
            F.sequence(F.col("span_start"), F.col("span_end"))
        ).alias("tpos"),
    )
    toks = toks_b.select(
        "doc_id",
        F.posexplode("toks").alias("tpos0", "word"),
    ).select("doc_id", (F.col("tpos0") + 1).alias("tpos"), "word")
    kept = toks.join(removed, ["doc_id", "tpos"], "left_anti")
    span_counts = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_spans_excised")
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens_after"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("tpos", "word"))),
                lambda s: s.word,
            ),
            " ",
        ).alias("cleaned_text"),
    )
    before = toks_b.select(
        "doc_id", F.size("toks").cast("long").alias("n_tokens_before")
    )
    return (
        before.join(rebuilt, "doc_id", "left")
        .join(span_counts, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens_before",
            F.coalesce(F.col("n_tokens_after"), F.lit(0))
            .cast("long")
            .alias("n_tokens_after"),
            F.coalesce(F.col("n_spans_excised"), F.lit(0))
            .cast("long")
            .alias("n_spans_excised"),
            F.coalesce(F.col("cleaned_text"), F.lit("")).alias(
                "cleaned_text"
            ),
        )
    )


oracle(
    "docs_excise_spans",
    ("documents",),
    f"""WITH toks AS (
    SELECT doc_id, string_split({_NORM_TEXT_DUCK}, ' ') AS t FROM documents
),
base AS (
    SELECT doc_id, t, UNNEST(range(1, len(t) - {DUPSPAN_K} + 2)) AS pos
    FROM toks WHERE len(t) >= {DUPSPAN_K}
),
pos AS (
    SELECT doc_id, pos,
           md5(array_to_string(
               list_slice(t, pos, pos + {DUPSPAN_K} - 1), ' ')) AS sh
    FROM base
),
census AS (
    SELECT sh, MIN(doc_id) AS min_doc FROM pos
    GROUP BY sh HAVING COUNT(DISTINCT doc_id) >= 2
),
exc AS (
    SELECT p.doc_id, p.pos FROM pos p JOIN census c USING (sh)
    WHERE p.doc_id > c.min_doc
),
isl AS (
    SELECT doc_id, pos,
           CASE WHEN pos - lag(pos) OVER (
                    PARTITION BY doc_id ORDER BY pos) <= {DUPSPAN_K}
                THEN 0 ELSE 1 END AS brk
    FROM exc
),
isl2 AS (
    SELECT doc_id, pos,
           SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS UNBOUNDED PRECEDING) AS island
    FROM isl
),
spans AS (
    SELECT doc_id, MIN(pos) AS span_start,
           MAX(pos) + {DUPSPAN_K} - 1 AS span_end
    FROM isl2 GROUP BY doc_id, island
    HAVING MAX(pos) + {DUPSPAN_K} - 1 - MIN(pos) + 1
           >= {DUPSPAN_MIN_TOKENS}
),
removed AS (
    SELECT doc_id, UNNEST(range(span_start, span_end + 1)) AS tpos
    FROM spans
),
words AS (
    SELECT doc_id, UNNEST(t) AS word,
           generate_subscripts(t, 1) AS tpos
    FROM toks
),
kept AS (
    SELECT w.doc_id, w.tpos, w.word FROM words w
    WHERE NOT EXISTS (
        SELECT 1 FROM removed r
        WHERE r.doc_id = w.doc_id AND r.tpos = w.tpos
    )
),
rebuilt AS (
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens_after,
           string_agg(word, ' ' ORDER BY tpos) AS cleaned_text
    FROM kept GROUP BY doc_id
),
span_counts AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans_excised
    FROM spans GROUP BY doc_id
)
SELECT
    tk.doc_id,
    CAST(len(tk.t) AS BIGINT) AS n_tokens_before,
    CAST(COALESCE(r.n_tokens_after, 0) AS BIGINT) AS n_tokens_after,
    CAST(COALESCE(s.n_spans_excised, 0) AS BIGINT) AS n_spans_excised,
    COALESCE(r.cleaned_text, '') AS cleaned_text
FROM toks tk
LEFT JOIN rebuilt r ON tk.doc_id = r.doc_id
LEFT JOIN span_counts s ON tk.doc_id = s.doc_id""",
)
