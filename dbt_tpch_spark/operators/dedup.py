"""Deduplication operators over ``documents`` / ``embeddings``: exact
(hash-groupBy), n-gram Jaccard, MinHash+LSH, SimHash, and embedding-cosine
near-dup. All JVM-side Column expressions — no Python UDFs.

Hash-function parity with the DuckDB oracle: every hash is md5 (identical
hex on both engines); min-hashes are lexicographic minima of md5 strings;
SimHash bits come from md5 nibble arithmetic written with engine-portable
SQL (instr/substr/floor/%), generated once and used verbatim on both sides.

Scale shapes (the reason each variant exists):
* exact        — one shuffle on the content hash; linear.
* ngram 5-gram — pairs via shared-shingle join: shuffle on shingle; output
                 bounded by true near-dups (shingle specificity).
* MinHash LSH  — the 100 TB path: K=16 signatures, 4 bands x 4 rows;
                 candidate generation is a groupBy-join on band hashes
                 (no quadratic stage); verification only touches candidates.
* SimHash      — 64-bit signatures; 16-bit band blocking; hamming verify.
* embedding    — brute-force O(n^2) at test scale; the LSH-bucketed ANN in
                 similarity.py is the scale path.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dbt_tpch_spark.functions import dsum, rnd
from dbt_tpch_spark.plans import model
from dbt_tpch_spark.models.oracle import dsum_sql, oracle, rnd_sql

# --------------------------------------------------------------------------
# shared expression text (valid in BOTH Spark SQL and DuckDB)
# --------------------------------------------------------------------------

_NORM_TEXT_DUCK = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"


def norm_text_col() -> F.Column:
    """Whitespace-normalized lowercase text. Built with the Python API, NOT
    F.expr — Spark SQL string literals eat the backslash in '\\s+'."""
    return F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")


def _nib(k: int, h: str = "h") -> str:
    return f"(instr('0123456789abcdef', substr({h}, {k + 1}, 1)) - 1)"


def _bit(j: int, h: str = "h") -> str:
    p = 2 ** (3 - j % 4)
    return f"(CAST(FLOOR({_nib(j // 4, h)} / {p}) AS INT) % 2)"


def simhash_sum_exprs() -> list[str]:
    """64 per-bit +1/-1 sums over md5('h') — portable SQL text."""
    return [f"SUM(2 * {_bit(j)} - 1) AS s{j}" for j in range(64)]


def simhash_bits_expr() -> str:
    cases = ", ".join(f"CASE WHEN s{j} > 0 THEN '1' ELSE '0' END" for j in range(64))
    return f"concat({cases})"


def hamming_expr(a: str, b: str) -> str:
    terms = " + ".join(
        f"CASE WHEN substr({a}, {j + 1}, 1) <> substr({b}, {j + 1}, 1) THEN 1 ELSE 0 END"
        for j in range(64)
    )
    return f"CAST({terms} AS BIGINT)"


MINHASH_K = 16
LSH_BANDS = 4  # 4 bands x 4 rows
# 3-gram-shingle Jaccard threshold: the corpus's tiny vocabulary makes word
# sets nearly identical across ALL documents (unigram LSH degenerates into
# an O(n^2) bucket), while 3-gram shingles cleanly separate the planted
# near-duplicates (bimodal at ~0.5).
JACCARD_THRESHOLD = 0.5
SIMHASH_MAX_HAMMING = 16
COSINE_THRESHOLD = 0.5
#: LSH hot-bucket valve: a band bucket larger than this is skipped for
#: candidate generation (quadratic blowup guard for degenerate data — the
#: unigram corpus showed 2,300-doc buckets => 2.8M pairs per bucket). A
#: no-op on healthy 3-gram buckets; documented recall tradeoff when it trips.
MAX_BAND_BUCKET = 1000


def _hex32(h: str, off: int) -> str:
    """32-bit unsigned int from 8 hex nibbles of ``h`` starting at ``off``
    (0-based) — portable instr/substr arithmetic, same text both engines."""
    terms = " + ".join(
        # BIGINT before the scale multiply: nibble * 16^7 overflows INT32
        # under Spark's ANSI arithmetic
        f"CAST(instr('0123456789abcdef', substr({h}, {off + k + 1}, 1)) - 1"
        f" AS BIGINT) * {16 ** (7 - k)}"
        for k in range(8)
    )
    return f"({terms})"


_MOD32 = 4294967296

# Carter-Wegman K-minhash: ONE md5 per shingle (not K) giving two 32-bit
# words (h1, h2 | h2 forced odd), then hash_i(w) = (h1 + i*h2) mod 2^32 —
# a pairwise-independent family computed with integer ops. ~8x cheaper than
# K salted md5 calls at equal LSH quality; the md5 happens in a separate
# projection so codegen evaluates it once per element, not once per i.


def hashpair_spark(hs: str = "hs") -> str:
    return (
        f"transform({hs}, h -> named_struct("
        f"'h1', CAST({_hex32('h', 0)} AS BIGINT), "
        f"'h2', CAST({_hex32('h', 8)} AS BIGINT) * 2 + 1))"
    )


def hashpair_duck(hs: str = "hs") -> str:
    return (
        f"list_transform({hs}, h -> struct_pack("
        f"h1 := CAST({_hex32('h', 0)} AS BIGINT), "
        f"h2 := CAST({_hex32('h', 8)} AS BIGINT) * 2 + 1))"
    )


def minhash_exprs(hp: str = "hp") -> list[str]:
    """K min-hashes over the (h1, h2) pair array (Carter-Wegman family)."""
    return [
        f"array_min(transform({hp}, p -> (p.h1 + {i} * p.h2) % {_MOD32})) AS mh{i}"
        for i in range(MINHASH_K)
    ]


def minhash_exprs_duck(hp: str = "hp") -> list[str]:
    return [
        f"list_min(list_transform({hp}, p -> (p.h1 + {i} * p.h2) % {_MOD32})) AS mh{i}"
        for i in range(MINHASH_K)
    ]


def band_exprs() -> list[str]:
    per = MINHASH_K // LSH_BANDS
    return [
        "md5(concat_ws('|', "
        + ", ".join(f"mh{b * per + r}" for r in range(per))
        + f")) AS band{b}"
        for b in range(LSH_BANDS)
    ]


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------


@model("dedup_exact", layer="operators", materialization="view")
def dedup_exact(ctx):
    """Exact duplicate groups by md5 of normalized text: one groupBy shuffle
    on the hash, linear at any scale."""
    d = ctx.source("documents")
    fp = F.md5(norm_text_col())
    return (
        d.select("doc_id", fp.alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.min("doc_id").alias("canonical_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .filter(F.col("dup_count") > 1)
    )


oracle(
    "dedup_exact",
    ("documents",),
    f"""SELECT
    md5({_NORM_TEXT_DUCK}) AS content_hash,
    COUNT(*) AS dup_count,
    MIN(doc_id) AS canonical_doc_id,
    MAX(doc_id) AS max_doc_id
FROM documents
GROUP BY 1
HAVING COUNT(*) > 1""",
)


# --------------------------------------------------------------------------
# n-gram (5-gram shingle) Jaccard
# --------------------------------------------------------------------------


@model("dedup_ngram_jaccard", layer="operators", materialization="view")
def dedup_ngram_jaccard(ctx):
    """Pairwise 5-gram-shingle Jaccard for documents sharing at least one
    shingle. The shared-shingle equi-join keeps this far from quadratic:
    shuffle key is the shingle hash."""
    sh = tokens_df(ctx).select(
        "doc_id", F.explode(shingle_col(5)).alias("shingle")
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.withColumnsRenamed({"doc_id": "doc_a"})
    b = sh.withColumnsRenamed({"doc_id": "doc_b"})
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("intersection_size"))
    )
    sa = sizes.withColumnsRenamed({"doc_id": "doc_a", "n_shingles": "size_a"})
    sb = sizes.withColumnsRenamed({"doc_id": "doc_b", "n_shingles": "size_b"})
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "intersection_size",
            (F.col("size_a") + F.col("size_b") - F.col("intersection_size")).alias(
                "union_size"
            ),
            rnd(
                F.col("intersection_size").cast("double")
                / (F.col("size_a") + F.col("size_b") - F.col("intersection_size")),
                6,
            ).alias("jaccard"),
        )
    )


oracle(
    "dedup_ngram_jaccard",
    ("documents",),
    f"""WITH toks AS (
    SELECT doc_id, string_split({_NORM_TEXT_DUCK}, ' ') AS t FROM documents
),
sh AS (
    SELECT doc_id, UNNEST(
        CASE WHEN len(t) >= 5
             THEN list_distinct(list_transform(range(1, len(t) - 3),
                  i -> array_to_string(list_slice(t, i, i + 4), ' ')))
             ELSE [] END) AS shingle
    FROM toks
),
sizes AS (
    SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY 1
),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS intersection_size
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT
    i.doc_a,
    i.doc_b,
    i.intersection_size,
    sa.n_shingles + sb.n_shingles - i.intersection_size AS union_size,
    {rnd_sql('CAST(i.intersection_size AS DOUBLE) / (sa.n_shingles + sb.n_shingles - i.intersection_size)', 6)} AS jaccard
FROM inter i
JOIN sizes sa ON i.doc_a = sa.doc_id
JOIN sizes sb ON i.doc_b = sb.doc_id""",
)


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------


def _doc_parallelism(ctx) -> int:
    return ctx.spark.sparkContext.defaultParallelism


def tokens_df(ctx, extra_cols=()):
    """(doc_id[, extra...], toks): the normalized token array MATERIALIZED
    behind an Exchange barrier. Building a shingle lambda directly over
    the ``split(regexp_replace(...))`` expression looks identical but is
    O(words^2) regex work per document: Catalyst inlines the token
    expression into the lambda body (the CollapseProject hazard, PLANS.md
    note) and re-normalizes + re-splits the document at EVERY shingle
    position — measured 7.2 s vs 1.75 s for the 3-gram explode on the
    sf0.1 corpus. The repartition doubles as the CPU-spread knob the
    shingle hashing needs anyway (see _word_set_df)."""
    d = ctx.source("documents").select(
        "doc_id", *extra_cols, F.split(norm_text_col(), " ").alias("toks")
    )
    return d.repartition(_doc_parallelism(ctx), "doc_id")


def shingle_col(n: int, distinct: bool = True) -> F.Column:
    """Word n-gram shingle array from the materialized ``toks`` column
    (use over :func:`tokens_df` output only — see the hazard note there).
    """
    t = F.col("toks")
    arr = F.transform(
        F.sequence(F.lit(1), F.size(t) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(t, i, n)),
    )
    if distinct:
        arr = F.array_distinct(arr)
    return F.when(F.size(t) >= n, arr).otherwise(
        F.array().cast("array<string>")
    )


def _word_set_df(ctx):
    # documents is a single small parquet file -> one input partition; the
    # downstream per-token hashing is CPU-bound, so spread it across cores
    # (at 100 TB the scan itself produces enough partitions and this
    # repartition is a no-op policy knob)
    d = ctx.source("documents").repartition(_doc_parallelism(ctx), "doc_id")
    words = F.array_distinct(F.split(norm_text_col(), " "))
    return d.select("doc_id", words.alias("words"))


_WORDS_DUCK = f"list_distinct(string_split({_NORM_TEXT_DUCK}, ' '))"


def _shingle3_set_df(ctx):
    """Distinct 3-gram word shingles per document (MinHash feedstock) —
    delegates to :func:`shingle_sets`, the shared core the incremental
    batch API uses, so the convention lives in exactly one place."""
    return shingle_sets(ctx.source("documents"), _doc_parallelism(ctx))


_SHINGLE3_DUCK = (
    f"CASE WHEN len(string_split({_NORM_TEXT_DUCK}, ' ')) >= 3 THEN "
    f"list_distinct(list_transform(range(1, len(string_split({_NORM_TEXT_DUCK}, ' ')) - 1), "
    f"i -> array_to_string(list_slice(string_split({_NORM_TEXT_DUCK}, ' '), i, i + 2), ' '))) "
    f"ELSE [] END"
)


@model("dedup_minhash_lsh", layer="operators", materialization="view")
def dedup_minhash_lsh(ctx):
    """MinHash(K=16) + LSH(4 bands x 4) candidate generation over 3-gram
    shingle sets, with exact-Jaccard verification of candidates at >= 0.5.

    This is the 100 TB dedup path: signatures are a single projection,
    candidates come from a groupBy-join on band hashes (shuffle bounded by
    band-bucket sizes), and the expensive exact verify runs only on
    candidate pairs. It is :func:`incremental_dedup_batch` with an EMPTY
    index: every document is in the increment, so the combined-bucket
    valve is the full-corpus valve and the orientation filter reduces to
    ``doc_a < doc_b``."""
    docs = ctx.source("documents")
    n_parts = _doc_parallelism(ctx)
    # the one materialized band frame is the whole increment, and its
    # .limit(0) is the empty index with the band schema
    bands = lsh_band_rows(docs, n_parts).localCheckpoint(eager=True)
    verified, _ = incremental_dedup_batch(
        docs, bands.limit(0), docs, n_parts, inc_bands=bands
    )
    return verified.withColumnsRenamed(
        {"doc_inc": "doc_a", "doc_other": "doc_b"}
    ).drop("match_scope")


oracle(
    "dedup_minhash_lsh",
    ("documents",),
    f"""WITH toks AS (
    SELECT doc_id, {_SHINGLE3_DUCK} AS words FROM documents
),
hashed AS (
    SELECT doc_id, list_transform(words, w -> md5(w)) AS hs FROM toks
),
paired AS (
    SELECT doc_id, {hashpair_duck()} AS hp FROM hashed
),
sigs AS (
    SELECT doc_id, {', '.join(minhash_exprs_duck())} FROM paired
),
banded AS (
    SELECT doc_id, {', '.join(band_exprs())} FROM sigs
),
bands_all AS (
    SELECT doc_id, k.k AS band_idx,
        CASE k.k {' '.join(f'WHEN {b} THEN band{b}' for b in range(LSH_BANDS))} END AS band_hash
    FROM banded CROSS JOIN (SELECT UNNEST([{', '.join(str(b) for b in range(LSH_BANDS))}]) AS k) k
),
bands AS (
    SELECT doc_id, band_idx, band_hash FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY band_idx, band_hash) AS bsize
        FROM bands_all
    ) WHERE bsize <= {MAX_BAND_BUCKET}
),
cands AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
),
verified AS (
    SELECT
        c.doc_a,
        c.doc_b,
        CAST(len(list_intersect(ta.words, tb.words)) AS BIGINT) AS intersection_size,
        CAST(len(ta.words) + len(tb.words) - len(list_intersect(ta.words, tb.words)) AS BIGINT) AS union_size,
        {rnd_sql('CAST(len(list_intersect(ta.words, tb.words)) AS DOUBLE) / (len(ta.words) + len(tb.words) - len(list_intersect(ta.words, tb.words)))', 6)} AS jaccard
    FROM cands c
    JOIN toks ta ON c.doc_a = ta.doc_id
    JOIN toks tb ON c.doc_b = tb.doc_id
)
SELECT * FROM verified
WHERE jaccard >= {JACCARD_THRESHOLD}""",
)


#: deterministic history/increment split for the incremental-dedup shape:
#: doc_id % INC_MOD == 0 is "today's batch", the rest is "history".
INC_MOD = 3


@model("dedup_minhash_incremental", layer="operators", materialization="view")
def dedup_minhash_incremental(ctx):
    """INCREMENTAL MinHash-LSH dedup — the production shape at 100 TB:
    new documents are deduped against the EXISTING corpus (and each
    other) without ever re-pairing history against itself. The corpus is
    split deterministically (doc_id % INC_MOD == 0 = today's increment,
    rest = history) and handed to :func:`incremental_dedup_batch` with
    the history's band rows as the index — in deployment that index is
    the persisted signature table (a TxnTable appended per batch); here
    it derives from the same corpus so the DuckDB oracle can replay it.
    Candidate generation is O(increment x bucket): history-history pairs
    are structurally impossible, and only candidate partners are
    shingled for the verify.

    Output: verified (Jaccard >= threshold) pairs anchored on the
    increment doc, labeled ``match_scope`` = 'vs_history' (near-dup of an
    existing doc -> drop the new one) or 'within_increment' (new-batch
    internal dup). The valve counts the combined (index + increment)
    bucket, i.e. every band row of the corpus."""
    docs = ctx.source("documents")
    n_parts = _doc_parallelism(ctx)
    is_inc = F.col("doc_id") % INC_MOD == 0
    verified, _ = incremental_dedup_batch(
        docs.filter(is_inc),
        lsh_band_rows(docs.filter(~is_inc), n_parts),
        docs,
        n_parts,
    )
    return verified


oracle(
    "dedup_minhash_incremental",
    ("documents",),
    f"""WITH toks AS (
    SELECT doc_id, {_SHINGLE3_DUCK} AS words FROM documents
),
hashed AS (
    SELECT doc_id, list_transform(words, w -> md5(w)) AS hs FROM toks
),
paired AS (
    SELECT doc_id, {hashpair_duck()} AS hp FROM hashed
),
sigs AS (
    SELECT doc_id, {', '.join(minhash_exprs_duck())} FROM paired
),
banded AS (
    SELECT doc_id, {', '.join(band_exprs())} FROM sigs
),
bands_all AS (
    SELECT doc_id, k.k AS band_idx,
        CASE k.k {' '.join(f'WHEN {b} THEN band{b}' for b in range(LSH_BANDS))} END AS band_hash
    FROM banded CROSS JOIN (SELECT UNNEST([{', '.join(str(b) for b in range(LSH_BANDS))}]) AS k) k
),
bands AS (
    SELECT doc_id, band_idx, band_hash FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY band_idx, band_hash) AS bsize
        FROM bands_all
    ) WHERE bsize <= {MAX_BAND_BUCKET}
),
cands AS (
    SELECT DISTINCT a.doc_id AS doc_inc, b.doc_id AS doc_other
    FROM bands a
    JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
    WHERE a.doc_id % {INC_MOD} = 0
      AND a.doc_id <> b.doc_id
      AND (b.doc_id % {INC_MOD} <> 0 OR a.doc_id < b.doc_id)
),
verified AS (
    SELECT
        c.doc_inc,
        c.doc_other,
        CASE WHEN c.doc_other % {INC_MOD} <> 0 THEN 'vs_history'
             ELSE 'within_increment' END AS match_scope,
        CAST(len(list_intersect(ta.words, tb.words)) AS BIGINT) AS intersection_size,
        CAST(len(ta.words) + len(tb.words) - len(list_intersect(ta.words, tb.words)) AS BIGINT) AS union_size,
        {rnd_sql('CAST(len(list_intersect(ta.words, tb.words)) AS DOUBLE) / (len(ta.words) + len(tb.words) - len(list_intersect(ta.words, tb.words)))', 6)} AS jaccard
    FROM cands c
    JOIN toks ta ON c.doc_inc = ta.doc_id
    JOIN toks tb ON c.doc_other = tb.doc_id
)
SELECT * FROM verified
WHERE jaccard >= {JACCARD_THRESHOLD}""",
)


# --------------------------------------------------------------------------
# the MinHash-LSH core: signatures -> bands -> hot-bucket valve -> band join
# -> exact-Jaccard verify
#
# ``incremental_dedup_batch`` is the one filter-and-verify pipeline: per
# batch it computes the increment's band rows, probes them against (index ∪
# increment), verifies candidates, and hands back the band rows to append.
# ``dedup_minhash_lsh`` calls it with an empty index, ``dedup_minhash_incremental``
# with the history split as the index, and ``dedup_multibatch_txn`` with a
# persisted TxnTable index. Candidates stay O(increment × bucket);
# history–history pairs are structurally impossible. The across-commit
# completeness invariant (union of per-batch verified pairs == full-LSH pair
# set on the final corpus) is pinned in
# tests/test_operator_invariants.py::test_incremental_dedup_multibatch_txn.
# Every MinHash signature on the Spark side is built by ``minhash_sig_rows``.
# --------------------------------------------------------------------------


def shingle_sets(docs_df, n_parts: int = 32):
    """``(doc_id, words)`` distinct 3-gram shingle sets — the MinHash
    feedstock and the exact-verify operand. The tokens materialize behind
    the repartition (the CollapseProject hazard, see :func:`tokens_df`)."""
    toks = docs_df.select(
        "doc_id", F.split(norm_text_col(), " ").alias("toks")
    ).repartition(n_parts, "doc_id")
    return toks.select("doc_id", shingle_col(3).alias("words"))


def minhash_sig_rows(docs_df, n_parts: int = 32):
    """``(doc_id, words, mh0..mh{K-1})`` full MinHash signatures (3-gram
    shingles, one md5 per shingle, Carter-Wegman K-minhash) for a raw
    documents frame. ``words`` rides along for consumers that verify or
    persist the shingle set; Catalyst prunes it wherever it is unused."""
    return (
        shingle_sets(docs_df, n_parts)
        .selectExpr("doc_id", "words", "transform(words, w -> md5(w)) AS hs")
        .selectExpr("doc_id", "words", f"{hashpair_spark()} AS hp")
        .selectExpr("doc_id", "words", *minhash_exprs())
    )


def _explode_bands(sigs):
    """``(doc_id, band0..)`` -> ``(doc_id, band_idx, band_hash)`` rows."""
    return sigs.select(
        "doc_id",
        F.posexplode(
            F.array(*[F.col(f"band{b}") for b in range(LSH_BANDS)])
        ).alias("band_idx", "band_hash"),
    )


def lsh_band_rows(docs_df, n_parts: int = 32):
    """``(doc_id, band_idx, band_hash)`` LSH band rows for a raw documents
    frame — the payload the incremental index persists per ingest batch."""
    return _explode_bands(
        minhash_sig_rows(docs_df, n_parts).selectExpr("doc_id", *band_exprs())
    )


def incremental_dedup_batch(increment_docs_df, history_bands_df, all_docs_df,
                            n_parts: int = 32, inc_bands=None):
    """One ingest batch of the production incremental-dedup shape.

    ``increment_docs_df``: raw documents arriving this batch.
    ``history_bands_df``: the persisted band index (every PRIOR batch's
    :func:`lsh_band_rows` output, e.g. a ``TxnTable.read()``).
    ``all_docs_df``: the document store (history + increment texts) — the
    verify join prunes it to candidate partners only.

    Returns ``(verified_pairs_df, increment_bands_df)``: the pairs frame
    matches ``dedup_minhash_incremental``'s schema (``doc_inc, doc_other,
    match_scope, intersection_size, union_size, jaccard``), and the band
    frame is what the caller appends to the index after the batch commits.
    The hot-bucket valve applies to the COMBINED (index ∪ increment)
    bucket; with an empty index that is the full-corpus valve.

    Valve semantics across batches (round-9 review): the per-batch cost
    bound (≤ MAX_BAND_BUCKET² candidate pairs per bucket) holds
    UNCONDITIONALLY. Exact pair-set equality with a full-corpus LSH run
    additionally requires that no bucket crosses MAX_BAND_BUCKET between
    batches: once a bucket goes degenerate mid-stream, earlier batches
    have already emitted its small-bucket pairs and keep them, whereas a
    full re-run would drop the whole bucket. That early-pairs-survive
    behavior is the graceful degradation an append-only ingest wants —
    but it means the across-commit completeness tests pin equality only
    on corpora whose buckets stay under the valve throughout.

    Precondition (round-9 ADVICE): each ``doc_id`` must be ingested
    EXACTLY ONCE across batches. Re-ingesting an already-indexed doc_id
    would append duplicate band rows to the persisted index (inflating
    combined bucket sizes toward MAX_BAND_BUCKET and closing the valve
    early) and double-emit its candidate pairs. Transport-level
    redeliveries belong in an upstream exactly-once layer (e.g.
    ``dropDuplicatesWithinWatermark`` on doc_id, or an anti-join of the
    increment against the index's doc_ids) — this operator does not
    re-check, because the anti-join would charge every clean batch for
    a contract the ingest layer already owns."""
    # the increment's band rows feed THREE sites (both sides of the
    # candidate join through the union below, plus the caller's index
    # append) and each would re-run the full signature DAG — the batch's
    # dominant cost; the frame is LSH_BANDS rows per increment doc, so
    # materialize it once (round-11 optimization: measured 3x -> 1x
    # signature passes per ingest batch). Round-12: a caller that knows
    # its batches up front may pass the MATERIALIZED band frame in
    # (``inc_bands``) so the signature jobs of successive batches can be
    # computed concurrently (guide §2.6) — the band frame depends only on
    # the increment, never on the index.
    if inc_bands is None:
        inc_bands = lsh_band_rows(increment_docs_df, n_parts).localCheckpoint(
            eager=True
        )
    # membership travels as a literal column through the union — zero
    # joins, so the probe restriction costs nothing at any batch size
    all_bands = (
        history_bands_df.select("doc_id", "band_idx", "band_hash")
        .withColumn("is_inc", F.lit(False))
        .unionByName(inc_bands.withColumn("is_inc", F.lit(True)))
    )
    from pyspark.sql import Window

    w_bucket = Window.partitionBy("band_idx", "band_hash")
    all_bands = (
        all_bands.withColumn("bsize", F.count(F.lit(1)).over(w_bucket))
        .filter(F.col("bsize") <= MAX_BAND_BUCKET)
        .drop("bsize")
    )
    probe = (
        all_bands.filter(F.col("is_inc"))
        .drop("is_inc")
        .withColumnsRenamed({"doc_id": "doc_inc"})
    )
    build = all_bands.withColumnsRenamed({"doc_id": "doc_other"})
    other_is_history = ~F.col("is_inc")
    cands = (
        probe.join(build, ["band_idx", "band_hash"])
        .filter(
            (F.col("doc_inc") != F.col("doc_other"))
            # inc-inc pairs once (orientation); inc-history pairs always
            & (other_is_history | (F.col("doc_inc") < F.col("doc_other")))
        )
        .select("doc_inc", "doc_other", other_is_history.alias("vs_hist"))
        .distinct()
    )
    # the candidate set is small (O(increment x bucket)) but feeds THREE
    # consumers (the id semi-join + both verify joins) — checkpoint it so
    # the band join runs once per batch
    cands = cands.localCheckpoint(eager=True)
    # shingle ONLY candidate partners: without the semi-join every batch
    # would re-normalize + re-shingle the ENTIRE document store (the
    # pipeline's measured-expensive step — see tokens_df) for a candidate
    # set touching a handful of docs (round-9 review)
    cand_ids = (
        cands.select(F.col("doc_inc").alias("doc_id"))
        .unionByName(cands.select(F.col("doc_other").alias("doc_id")))
        .distinct()
    )
    toks = shingle_sets(
        all_docs_df.join(cand_ids, "doc_id", "leftsemi"), n_parts
    )
    ta = toks.select(
        F.col("doc_id").alias("doc_inc"), F.col("words").alias("words_a")
    )
    tb = toks.select(
        F.col("doc_id").alias("doc_other"), F.col("words").alias("words_b")
    )
    joined = cands.join(ta, "doc_inc").join(tb, "doc_other")
    inter = F.size(F.array_intersect("words_a", "words_b")).cast("long")
    union = (F.size("words_a") + F.size("words_b")).cast("long") - inter
    jac = inter.cast("double") / union
    verified = (
        joined.select(
            "doc_inc",
            "doc_other",
            F.when(F.col("vs_hist"), "vs_history")
            .otherwise("within_increment")
            .alias("match_scope"),
            inter.alias("intersection_size"),
            union.alias("union_size"),
            rnd(jac, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
    return verified, inc_bands


@model("dedup_incremental_census", layer="operators", materialization="view")
def dedup_incremental_census(ctx):
    """The number a pipeline operator actually watches per ingest batch:
    how much of today's increment is redundant. Each increment doc is
    classified 'dup_of_history' (>=1 verified match against the existing
    corpus — drop it), else 'new_dup_cluster' (only matches other new
    docs — keep one survivor), else 'unique'. Rides the verified pair
    table of dedup_minhash_incremental; grain is the 3-value status."""
    d = ctx.source("documents").select("doc_id").filter(
        F.col("doc_id") % INC_MOD == 0
    )
    # three consumers (history-dup probe + both sides of the within union)
    # would each rebuild the whole signature DAG — materialize the verified
    # pair table once (it is tiny next to the corpus: near-dup pairs only)
    pairs = ctx.ref("dedup_minhash_incremental").localCheckpoint(eager=True)
    hist_dup = (
        pairs.filter(F.col("match_scope") == "vs_history")
        .select(F.col("doc_inc").alias("doc_id"))
        .distinct()
        .withColumn("hist_dup", F.lit(1))
    )
    within = pairs.filter(F.col("match_scope") == "within_increment")
    within_docs = (
        within.select(F.col("doc_inc").alias("doc_id"))
        .unionByName(within.select(F.col("doc_other").alias("doc_id")))
        .distinct()
        .withColumn("within_dup", F.lit(1))
    )
    n_inc = d.count()
    status = (
        F.when(F.col("hist_dup") == 1, "dup_of_history")
        .when(F.col("within_dup") == 1, "new_dup_cluster")
        .otherwise("unique")
    )
    return (
        d.join(hist_dup, "doc_id", "left")
        .join(within_docs, "doc_id", "left")
        .groupBy(status.alias("status"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .withColumn(
            "pct_of_increment",
            rnd(F.col("n_docs") * 100.0 / F.lit(float(n_inc)), 2),
        )
    )


oracle(
    "dedup_incremental_census",
    ("documents", "dedup_minhash_incremental"),
    f"""WITH inc AS (
    SELECT doc_id FROM documents WHERE doc_id % {INC_MOD} = 0
),
hist_dup AS (
    SELECT DISTINCT doc_inc AS doc_id, 1 AS hist_dup
    FROM dedup_minhash_incremental WHERE match_scope = 'vs_history'
),
within_docs AS (
    SELECT DISTINCT doc_id, 1 AS within_dup FROM (
        SELECT doc_inc AS doc_id FROM dedup_minhash_incremental
        WHERE match_scope = 'within_increment'
        UNION
        SELECT doc_other AS doc_id FROM dedup_minhash_incremental
        WHERE match_scope = 'within_increment'
    )
),
classified AS (
    SELECT CASE WHEN h.hist_dup = 1 THEN 'dup_of_history'
                WHEN w.within_dup = 1 THEN 'new_dup_cluster'
                ELSE 'unique' END AS status
    FROM inc i
    LEFT JOIN hist_dup h ON i.doc_id = h.doc_id
    LEFT JOIN within_docs w ON i.doc_id = w.doc_id
)
SELECT status, CAST(COUNT(*) AS BIGINT) AS n_docs,
    {rnd_sql('COUNT(*) * 100.0 / (SELECT CAST(COUNT(*) AS DOUBLE) FROM inc)', 2)} AS pct_of_increment
FROM classified
GROUP BY 1""",
)


@model("dedup_multibatch_txn", layer="operators", materialization="view")
def dedup_multibatch_txn(ctx):
    """The PRODUCTION ingest shape of the incremental dedup, promoted from
    a pytest-only witness to an oracle-checked query (VERDICT r9 #6): the
    corpus arrives in THREE deterministic batches (``doc_id % 3`` = ingest
    order), each batch runs :func:`incremental_dedup_batch` against a
    PERSISTED band index — a :class:`~dbt_tpch_spark.tableformat.TxnTable`
    appended one commit per batch — and the output is the union of the
    per-batch verified pairs, tagged with the ingest batch that emitted
    them. History-history pairs are structurally impossible in every
    batch; per-batch cost stays O(increment x bucket).

    Oracle: the full-LSH pair set on the final corpus with orientation,
    ``match_scope`` and ``batch`` DERIVED from the batch indices — a pair
    is emitted exactly once, in the batch of its later-ingested doc
    (within-batch pairs keep the ``doc_inc < doc_other`` orientation).
    Equality with the full run holds while no corpus bucket crosses the
    hot-bucket valve between batches (the API's stated precondition,
    pinned with the valve-crossing boundary in tests/
    test_operator_invariants.py::test_incremental_dedup_multibatch_txn);
    the corpus never trips the valve at test SFs, and the degenerate-
    bucket branch has its own planted-fixture test.

    Index location (round-11, VERDICT r10 #5): the band index is a REAL
    table, so it lives under ``ctx.warehouse_dir`` when the Context has
    one — the same executor-shared location every other materialized
    table uses on a cluster. Only for a Context without ``warehouse_dir``
    does it fall back to a driver-local tempdir, which is correct on
    local[n] but assumes executors share the driver's filesystem — a
    production ingest always passes a warehouse/object-store path."""
    import shutil
    import tempfile

    from dbt_tpch_spark.tableformat import TxnTable

    docs = ctx.source("documents")
    n_parts = _doc_parallelism(ctx)
    if ctx.warehouse_dir:
        path = f"{ctx.warehouse_dir}/_scratch_dedup_multibatch_txn_index"
        shutil.rmtree(path, ignore_errors=True)
    else:
        path = tempfile.mkdtemp(prefix="dedup_multibatch_txn_")
    # Round-12 (guide §2.6 — overlap independent jobs; VERDICT r11 #6):
    # the loop used to serialize ~9 jobs (signatures -> candidates ->
    # verify -> commit, three times). Two of those dependencies are not
    # real: (a) a batch's band/signature frame depends only on its OWN
    # documents, never on the index, so all three signature jobs run
    # CONCURRENTLY up front; (b) batch k's verify stage reads only the
    # already-materialized candidate/token frames plus the PINNED file
    # list of the pre-append snapshot (TxnTable.read() resolves explicit
    # data-file paths at call time, and append only ever ADDS files), so
    # its checkpoint job runs in a worker thread WHILE the main thread
    # commits batch k and generates batch k+1's candidates. The commit/
    # read boundary the oracle depends on is untouched: batch k+1's
    # history is still table.read() AFTER append(k) returns, and the
    # per-batch verdicts are still materialized before the finally-block
    # deletes the index.
    from concurrent.futures import ThreadPoolExecutor

    try:
        with ThreadPoolExecutor(max_workers=3) as pool:
            batches = [docs.filter(F.col("doc_id") % 3 == k) for k in range(3)]
            band_futs = [
                pool.submit(
                    lambda b=b: lsh_band_rows(b, n_parts).localCheckpoint(
                        eager=True
                    )
                )
                for b in batches
            ]
            verify_futs = []
            table = None
            for k in range(3):
                batch = batches[k]
                inc_bands = band_futs[k].result()
                history = (
                    table.read().select("doc_id", "band_idx", "band_hash")
                    if table is not None
                    else inc_bands.limit(0)
                )
                store = docs.filter(F.col("doc_id") % 3 <= k)
                verified, _ = incremental_dedup_batch(
                    batch, history, store, n_parts, inc_bands=inc_bands
                )
                verify_futs.append(
                    pool.submit(
                        lambda v=verified, k=k: v.withColumn(
                            "batch", F.lit(k)
                        ).localCheckpoint(eager=True)
                    )
                )
                if table is None:
                    table = TxnTable.create(ctx.spark, path, inc_bands)
                else:
                    table.append(inc_bands)
            per_batch = [f.result() for f in verify_futs]
    finally:
        # the checkpointed verdicts no longer reference the index files
        # (the pool context-exit joins every in-flight checkpoint first)
        shutil.rmtree(path, ignore_errors=True)
    out = per_batch[0]
    for v in per_batch[1:]:
        out = out.unionByName(v)
    return out.select(
        "batch",
        "doc_inc",
        "doc_other",
        "match_scope",
        "intersection_size",
        "union_size",
        "jaccard",
    )


oracle(
    "dedup_multibatch_txn",
    ("dedup_minhash_lsh",),
    """SELECT
    CAST(GREATEST(doc_a % 3, doc_b % 3) AS INT) AS batch,
    CASE WHEN doc_a % 3 >= doc_b % 3 THEN doc_a ELSE doc_b END AS doc_inc,
    CASE WHEN doc_a % 3 >= doc_b % 3 THEN doc_b ELSE doc_a END AS doc_other,
    CASE WHEN doc_a % 3 = doc_b % 3 THEN 'within_increment'
         ELSE 'vs_history' END AS match_scope,
    intersection_size,
    union_size,
    jaccard
FROM dedup_minhash_lsh""",
)


# --------------------------------------------------------------------------
# b-bit MinHash (Li & König, WWW'10)
# --------------------------------------------------------------------------

#: bits kept per MinHash value in the compacted signature. At 100 TB the
#: signature table is itself TB-scale (K x 4 bytes per doc); keeping only
#: the lowest BBIT_B bits cuts signature storage 16x (32 -> 2 bits per
#: hash) at a quantified variance cost — the Li & König estimator below
#: unbiases the match fraction for random collisions.
BBIT_B = 2
_BBIT_MOD = 2**BBIT_B


@model("dedup_bbit_minhash", layer="operators", materialization="view")
def dedup_bbit_minhash(ctx):
    """b-bit MinHash Jaccard estimation over the verified near-dup pairs:
    the storage-compacted form of the signature index (Li & König,
    WWW'10 — b-bit minwise hashing). Each of the K=16 MinHash values
    keeps only its lowest BBIT_B bits; for a pair, the match fraction M
    over the K compacted values estimates Jaccard via the
    large-domain correction  J ≈ (M - C) / (1 - C),  C = 2^-b  (random
    low-bit collisions contribute C even at J=0). Emitted per verified
    pair next to the exact Jaccard so the estimator's error is
    measurable on real data — the report that justifies (or rejects)
    deploying 2-bit signatures at a scale where the index itself is
    TB-sized.

    Scale shape: the pair set is the already-bounded LSH output; the
    signature frame is one corpus projection; two hash joins on doc id.
    No new pair stage — reuses dedup_minhash_lsh's candidates."""
    # the pair list is the LSH detector's bounded output — materialize it
    # once (it feeds the id semi-join plus the scoring join) and compute
    # full signatures ONLY for docs that appear in a pair: the corpus-wide
    # signature pass ran twice here (sa and sb both re-evaluated it) for a
    # result that touches a handful of docs (round-11 optimization)
    pairs = (
        ctx.ref("dedup_minhash_lsh")
        .select("doc_a", "doc_b", "jaccard")
        .localCheckpoint(eager=True)
    )
    pair_ids = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sigs = (
        minhash_sig_rows(
            ctx.source("documents").join(pair_ids, "doc_id", "leftsemi"),
            _doc_parallelism(ctx),
        )
        .drop("words")
        .localCheckpoint(eager=True)
    )
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{i}").alias(f"ma{i}") for i in range(MINHASH_K)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{i}").alias(f"mb{i}") for i in range(MINHASH_K)],
    )
    match_cnt = F.expr(
        " + ".join(
            f"CASE WHEN ma{i} % {_BBIT_MOD} = mb{i} % {_BBIT_MOD} "
            f"THEN 1 ELSE 0 END"
            for i in range(MINHASH_K)
        )
    ).cast("long")
    joined = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("bbit_matches", match_cnt)
    )
    # (M - C)/(1 - C) with M = matches/K, C = 1/2^b reduces to one exact
    # integer-fed division: (matches - K*C) / (K - K*C) — identical
    # arithmetic text on both engines, so the 6dp round is bit-stable
    k_c = MINHASH_K // _BBIT_MOD  # K * 2^-b, exact for K=16, b<=4
    est = F.greatest(
        F.lit(0.0),
        (F.col("bbit_matches") - F.lit(k_c)) / F.lit(float(MINHASH_K - k_c)),
    )
    return joined.select(
        "doc_a",
        "doc_b",
        "jaccard",
        "bbit_matches",
        rnd(F.col("bbit_matches") / F.lit(float(MINHASH_K)), 6).alias(
            "bbit_match_fraction"
        ),
        rnd(est, 6).alias("jaccard_bbit"),
        rnd(F.abs(rnd(est, 6) - F.col("jaccard")), 6).alias("abs_err"),
    )


def _bbit_oracle() -> str:
    k_c = MINHASH_K // _BBIT_MOD
    match_cnt = " + ".join(
        f"CASE WHEN a.mh{i} % {_BBIT_MOD} = b.mh{i} % {_BBIT_MOD} "
        f"THEN 1 ELSE 0 END"
        for i in range(MINHASH_K)
    )
    est = f"GREATEST(0.0, (bbit_matches - {k_c}) / {float(MINHASH_K - k_c)})"
    return f"""WITH toks AS (
    SELECT doc_id, {_SHINGLE3_DUCK} AS words FROM documents
),
hashed AS (
    SELECT doc_id, list_transform(words, w -> md5(w)) AS hs FROM toks
),
paired AS (
    SELECT doc_id, {hashpair_duck()} AS hp FROM hashed
),
sigs AS (
    SELECT doc_id, {', '.join(minhash_exprs_duck())} FROM paired
),
matched AS (
    SELECT
        p.doc_a,
        p.doc_b,
        p.jaccard,
        CAST({match_cnt} AS BIGINT) AS bbit_matches
    FROM dedup_minhash_lsh p
    JOIN sigs a ON p.doc_a = a.doc_id
    JOIN sigs b ON p.doc_b = b.doc_id
)
SELECT
    doc_a,
    doc_b,
    jaccard,
    bbit_matches,
    {rnd_sql(f'bbit_matches / {float(MINHASH_K)}', 6)} AS bbit_match_fraction,
    {rnd_sql(est, 6)} AS jaccard_bbit,
    {rnd_sql(f'ABS({rnd_sql(est, 6)} - jaccard)', 6)} AS abs_err
FROM matched"""


oracle(
    "dedup_bbit_minhash",
    ("documents", "dedup_minhash_lsh"),
    _bbit_oracle(),
)


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------


def _simhash_signatures_df(ctx):
    ex = _word_set_df(ctx).select(
        "doc_id", F.explode("words").alias("w")
    ).select("doc_id", F.md5("w").alias("h"))
    sums = ex.groupBy("doc_id").agg(
        *[F.expr(e) for e in simhash_sum_exprs()]
    )
    per = 16
    return sums.select(
        "doc_id", F.expr(simhash_bits_expr()).alias("sig_bits")
    ).select(
        "doc_id",
        "sig_bits",
        *[
            F.substring("sig_bits", 1 + b * per, per).alias(f"band{b}")
            for b in range(4)
        ],
    )


_SIMHASH_SIG_DUCK = f"""WITH ex AS (
    SELECT doc_id, md5(UNNEST(words)) AS h
    FROM (SELECT doc_id, {_WORDS_DUCK} AS words FROM documents)
),
sums AS (
    SELECT doc_id, {', '.join(simhash_sum_exprs())} FROM ex GROUP BY doc_id
),
sigs AS (
    SELECT doc_id, {simhash_bits_expr()} AS sig_bits FROM sums
)
SELECT doc_id, sig_bits,
    substr(sig_bits, 1, 16) AS band0,
    substr(sig_bits, 17, 16) AS band1,
    substr(sig_bits, 33, 16) AS band2,
    substr(sig_bits, 49, 16) AS band3
FROM sigs"""


@model("dedup_simhash_signatures", layer="operators", materialization="view")
def dedup_simhash_signatures(ctx):
    """64-bit SimHash signatures (as bit strings) over document word sets,
    plus 16-bit band keys for blocking."""
    return _simhash_signatures_df(ctx)


oracle("dedup_simhash_signatures", ("documents",), _SIMHASH_SIG_DUCK)


@model("dedup_simhash_pairs", layer="operators", materialization="view")
def dedup_simhash_pairs(ctx):
    """SimHash near-dup candidates: documents sharing any 16-bit band,
    verified by Hamming distance <= 16. Band blocking keeps candidate
    generation a hash join, never a cross product."""
    sigs = _simhash_signatures_df(ctx)
    bands = sigs.select(
        "doc_id",
        "sig_bits",
        F.posexplode(F.array(*[F.col(f"band{b}") for b in range(4)])).alias(
            "band_idx", "band_val"
        ),
    )
    a = bands.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sig_bits").alias("sig_a"),
        "band_idx",
        "band_val",
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sig_bits").alias("sig_b"),
        "band_idx",
        "band_val",
    )
    pairs = (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sig_a", "sig_b")
        .distinct()
    )
    return (
        pairs.withColumn("hamming_distance", F.expr(hamming_expr("sig_a", "sig_b")))
        .filter(F.col("hamming_distance") <= SIMHASH_MAX_HAMMING)
        .select("doc_a", "doc_b", "hamming_distance")
    )


oracle(
    "dedup_simhash_pairs",
    ("documents",),
    f"""WITH sigs AS (
{_SIMHASH_SIG_DUCK}
),
bands AS (
    SELECT doc_id, sig_bits, k.k AS band_idx,
        CASE k.k WHEN 0 THEN band0 WHEN 1 THEN band1 WHEN 2 THEN band2 ELSE band3 END AS band_val
    FROM sigs CROSS JOIN (SELECT UNNEST([0, 1, 2, 3]) AS k) k
),
pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    a.sig_bits AS sig_a, b.sig_bits AS sig_b
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, {hamming_expr('sig_a', 'sig_b')} AS hamming_distance
FROM pairs
WHERE {hamming_expr('sig_a', 'sig_b')} <= {SIMHASH_MAX_HAMMING}""",
)


# --------------------------------------------------------------------------
# embedding-cosine near-dup
# --------------------------------------------------------------------------

#: exact-decimal dot product of two float vectors: products quantized to
#: DECIMAL(38,18) (deterministic nearest-rounding on both engines, no ties
#: possible from dyadic doubles), summed exactly, cast back to double.
DOT_SPARK = (
    "CAST(aggregate(zip_with({a}, {b}, (x, y) ->"
    " CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) AS DECIMAL(38,18))),"
    " CAST(0 AS DECIMAL(38,18)), (acc, v) -> CAST(acc + v AS DECIMAL(38,18)))"
    " AS DOUBLE)"
)


def dot_duck(a: str, b: str) -> str:
    return (
        f"CAST((SELECT SUM(CAST(CAST(z.xa AS DOUBLE) * CAST(z.xb AS DOUBLE)"
        f" AS DECIMAL(38,18))) FROM (SELECT UNNEST({a}) AS xa, UNNEST({b}) AS xb) z)"
        f" AS DOUBLE)"
    )


#: banded random-hyperplane sign-LSH for embedding dedup: EMB_LSH_BANDS
#: bands of EMB_LSH_BITS sign bits each (OR-construction — a pair is a
#: candidate if it collides in ANY band). At the 0.5 cosine threshold the
#: per-bit collision probability is 1 - arccos(0.5)/pi = 2/3, so candidate
#: recall is 1-(1-(2/3)^4)^8 ≈ 0.83 at the threshold edge and ≥ 0.99 for
#: cosine ≥ 0.9 (true near-dups). Band width/count trade recall against
#: bucket size exactly like the MinHash (b, r) planner (lshplan.py).
EMB_LSH_BANDS = 8
EMB_LSH_BITS = 4
#: embedding dimensionality of the corpus (TESTDATA.md: array<float>[64]).
EMB_DIM = 64
#: hot-bucket valve for the embedding band join — same quadratic-blowup
#: guard as MAX_BAND_BUCKET on the MinHash path.
MAX_EMB_BUCKET = 512
_EMB_PLANE_SALT = "ed"


def emb_planes() -> list[list[float]]:
    """Deterministic md5-derived hyperplanes in [-1, 1) for the dedup
    sign-LSH — same construction as similarity.hyperplanes() but a
    disjoint salt so the two hash families are independent."""
    import hashlib

    planes = []
    for i in range(EMB_LSH_BANDS * EMB_LSH_BITS):
        row = []
        for d in range(EMB_DIM):
            h = hashlib.md5(
                f"{_EMB_PLANE_SALT}|{i}|{d}".encode()
            ).hexdigest()[:8]
            row.append(round(int(h, 16) / 2**32 * 2 - 1, 6))
        planes.append(row)
    return planes


_EMB_PLANES = emb_planes()


#: corpus size the default band width is designed for: at EMB_LSH_BITS
#: sign bits a band has 2^bits hash values, so expected bucket size is
#: n / 2^bits — past ~2048 vectors the 16-value domain saturates, every
#: bucket crosses MAX_EMB_BUCKET, and the valve silently zeroes the pair
#: stage (recall collapse). MEASURED by the round-10 scale probe: at 10x
#: sf0.1 (20k vectors) the query's CPU went DOWN 28% because the valve
#: had dropped all 16 buckets of every band.
EMB_BITS_BASE_N = 2048


def emb_bits_for(n: int) -> int:
    """Adaptive band width: add one sign bit per doubling of the corpus
    beyond the base design point, keeping the EXPECTED bucket size at the
    base value (n / 2^bits ~ EMB_BITS_BASE_N / 2^EMB_LSH_BITS = 128) so
    the valve stays a degenerate-data guard instead of becoming the
    common path. Per-band recall at the 0.5-cosine threshold edge decays
    with width (p^bits); true near-dups (cosine >= 0.9) stay >= 0.93
    through 8 bits, and EXACT duplicates collide at any width. Past
    8 bits the band COUNT grows too (:func:`emb_bands_for`) to hold that
    design recall — the round-11 64x probe MEASURED the width-only
    policy's recall at 10 bits falling to 0.797, through the 0.8 floor."""
    import math

    if n <= EMB_BITS_BASE_N:
        return EMB_LSH_BITS
    return EMB_LSH_BITS + math.ceil(math.log2(n / EMB_BITS_BASE_N))


#: the recall design point the adaptive band COUNT defends: the
#: OR-construction recall at the cosine-0.9 "true near-dup" edge stays
#: >= this at ANY adaptive width. Round-11 64x probe finding: width-only
#: adaptation (bits=10 at 128k vectors, 8 fixed bands) measured 0.7969
#: recall on planted 0.90-cosine pairs — through the pinned 0.8 floor
#: (SCALE_PROBE_r11_64x.json recall_below_floor). More bands recover
#: recall at bounded cost: the index grows by bands*n rows and the hash
#: by bands*bits dots/vector, both logarithmic-family factors, while
#: expected bucket size (n / 2^bits) is unchanged.
EMB_RECALL_DESIGN_COSINE = 0.9
EMB_RECALL_DESIGN_TARGET = 0.93


def emb_bands_for(bits: int) -> int:
    """Band count holding the OR-construction recall at the
    EMB_RECALL_DESIGN_COSINE edge >= EMB_RECALL_DESIGN_TARGET at band
    width ``bits``: the smallest B with 1-(1-p^bits)^B >= target, where
    p = 1 - arccos(c)/pi (Charikar STOC'02) — never below the static
    EMB_LSH_BANDS, so every configuration through 8 bits (all test SFs
    and the 10x probe) is bit-identical to the pre-adaptive-bands code.
    Values: bits 4-8 -> 8 bands, 9 -> 10, 10 -> 12, 11 -> 14, 12 -> 16."""
    import math

    p = 1.0 - math.acos(EMB_RECALL_DESIGN_COSINE) / math.pi
    need = math.ceil(
        math.log(1.0 - EMB_RECALL_DESIGN_TARGET) / math.log(1.0 - p**bits)
    )
    return max(EMB_LSH_BANDS, need)


_EMB_EXT_PLANES: dict[tuple[int, int], list[float]] = {}


def _emb_plane(b: int, r: int) -> list[float]:
    """Hyperplane for sign bit ``r`` of band ``b``. Bits below
    EMB_LSH_BITS of the base EMB_LSH_BANDS bands come from the fixed base
    family (so the widened hash is a strict REFINEMENT of the base hash:
    any width is a prefix of any wider one, which lets the DuckDB oracle
    emit EMB_BITS_MAX-bit strings and SUBSTRING-truncate to the corpus
    width); extension bits AND extension bands (b >= EMB_LSH_BANDS,
    round-11 adaptive band count) use a disjoint md5 salt. Every (b, r)
    plane is fixed, so a band-count of B is a strict prefix of B+1 the
    same way a width of W is a prefix of W+1."""
    if b < EMB_LSH_BANDS and r < EMB_LSH_BITS:
        return _EMB_PLANES[b * EMB_LSH_BITS + r]
    key = (b, r)
    if key not in _EMB_EXT_PLANES:
        import hashlib

        row = []
        for d in range(EMB_DIM):
            h = hashlib.md5(
                f"{_EMB_PLANE_SALT}x|{b}|{r}|{d}".encode()
            ).hexdigest()[:8]
            row.append(round(int(h, 16) / 2**32 * 2 - 1, 6))
        _EMB_EXT_PLANES[key] = row
    return _EMB_EXT_PLANES[key]


def _emb_band_spark(b: int, bits: int = EMB_LSH_BITS) -> str:
    """Sign-bit string of band ``b`` (``bits`` chars)."""
    signs = []
    for r in range(bits):
        plane = _emb_plane(b, r)
        arr = "array(" + ", ".join(f"CAST({v} AS DOUBLE)" for v in plane) + ")"
        dot = DOT_SPARK.format(a="embedding", b=arr)
        signs.append(f"CASE WHEN {dot} > 0 THEN '1' ELSE '0' END")
    return "concat(" + ", ".join(signs) + ")"


def _emb_band_duck(b: int, bits: int = EMB_LSH_BITS) -> str:
    """DuckDB twin of :func:`_emb_band_spark` — ``bits`` sign bits of band
    ``b`` drawn from the same prefix-consistent plane family
    (:func:`_emb_plane`), so ``_emb_band_duck(b, W)`` is a strict prefix of
    ``_emb_band_duck(b, W+1)`` and a wide string can be SUBSTRING-truncated
    to replay any narrower width."""
    signs = []
    for r in range(bits):
        plane = _emb_plane(b, r)
        arr = "[" + ", ".join(str(v) for v in plane) + "]"
        dot = dot_duck("embedding", arr)
        signs.append(f"CASE WHEN {dot} > 0 THEN '1' ELSE '0' END")
    return "concat(" + ", ".join(signs) + ")"


#: widest band the STATIC DuckDB oracle can replay: the oracle emits
#: EMB_BITS_MAX-bit sign strings as literals and truncates to the
#: corpus-adaptive width in SQL, so it stays exact for any corpus up to
#: EMB_BITS_BASE_N * 2^(EMB_BITS_MAX - EMB_LSH_BITS) vectors (= 524 288)
#: and raises a NAMED error() past that instead of silently diverging
#: (round-11 ADVICE: the r10 oracle was hard-coded to 4 bits with only
#: 2.4% corpus headroom). The Spark side has no such cap — _emb_plane
#: generates extension planes on demand.
EMB_BITS_MAX = 12

#: widest band COUNT the static oracle can replay — emb_bands_for at the
#: widest replayable width, so the band-count cap is implied by the same
#: 524k-vector error() that guards the width cap.
EMB_BANDS_MAX = emb_bands_for(EMB_BITS_MAX)


def _emb_bands_duck_case(bits_expr: str) -> str:
    """SQL lookup from band width to adaptive band count — the literal
    pairs are EMITTED from :func:`emb_bands_for` itself (never a second
    SQL transcription of the formula: ceil-at-a-float-boundary could
    diverge between engines; a Python-emitted CASE cannot). Portable
    simple-CASE text, identical in Spark SQL and DuckDB."""
    whens = " ".join(
        f"WHEN {w} THEN {emb_bands_for(w)}"
        for w in range(EMB_LSH_BITS, EMB_BITS_MAX + 1)
    )
    return f"CASE ({bits_expr}) {whens} END"


def _emb_bits_duck(table: str = "embeddings") -> str:
    """SQL expression (scalar subquery body) computing the adaptive band
    width for ``table``'s corpus size — the exact SQL twin of
    :func:`emb_bits_for`, with a loud error() past EMB_BITS_MAX."""
    max_n = EMB_BITS_BASE_N * 2 ** (EMB_BITS_MAX - EMB_LSH_BITS)
    widened = (
        f"{EMB_LSH_BITS} + CAST(CEIL(LOG2(n / {EMB_BITS_BASE_N}.0)) AS INT)"
    )
    return f"""SELECT CASE
        WHEN n <= {EMB_BITS_BASE_N} THEN {EMB_LSH_BITS}
        WHEN n > {max_n} THEN CAST(error(
            'dedup_embedding_cosine oracle: corpus ('
            || n || ' vectors) exceeds the {EMB_BITS_MAX}-bit literal plane'
            || ' family (max {max_n}); raise EMB_BITS_MAX') AS INT)
        ELSE {widened}
    END AS bits
    FROM (SELECT COUNT(*) AS n FROM {table})"""


@model("dedup_embedding_cosine", layer="operators", materialization="view")
def dedup_embedding_cosine(ctx):
    """Embedding near-dup at cosine >= 0.5, candidate-bounded: banded
    random-hyperplane sign-LSH generates candidates (pairs colliding in
    any of EMB_LSH_BANDS bands), exact-decimal cosine verifies them.
    This replaces the former all-pairs theta join — the pair stage is now
    a band-key equi-join with a hot-bucket valve, the same production
    shape as dedup_minhash_lsh, so it never materializes O(n²) pairs at
    any corpus size. Recall vs brute force is measured by
    ``dedup_embedding_lsh_recall`` on a fixed-size sample.

    Pair-stage constants (kept from the measured 279 s → 20 s incident):
    per-VECTOR norms are checkpointed so multi-reference inlining can't
    re-evaluate the decimal norm dot per PAIR, the input is fanned out
    with an explicit partition count AQE won't re-coalesce, and the
    cosine projection gets a barrier so the threshold filter can't push
    below it and run the pair dot twice.

    API note: ``ref()`` on this model is NOT lazy — the eager norm
    checkpoint and the ``count()`` that gates the verify-join strategy
    (the checkpoint erases size stats) run Spark jobs at BUILD time, a
    deliberate trade documented in PLANS.md (round-6). The streaming
    witnesses (events_stream_*) share this build-time-job property."""
    e = ctx.source("embeddings").repartition(_doc_parallelism(ctx), "vec_id")
    norms = e.select(
        "vec_id",
        F.col("embedding").alias("emb"),
        F.expr(DOT_SPARK.format(a="embedding", b="embedding")).alias(
            "norm_sq"
        ),
    ).localCheckpoint(eager=True)
    # the checkpoint erased norms' size stats, so the verify joins below
    # would default to sort-merge (two full sorts of the candidate set);
    # gate on the MEASURED row count — broadcast when vector-table-sized,
    # co-partitioned shuffle-hash when corpus-sized at 100 TB
    from dbt_tpch_spark.functions import gated_broadcast

    n_vecs = norms.count()
    from pyspark.sql import Window

    # adaptive band width (round-10 scale probe finding): at the default
    # 4 bits a 20k-vector corpus saturates all 16 hash values per band
    # and the valve drops EVERYTHING — widen with log2(n) so expected
    # bucket size stays at the design point. The DuckDB oracle computes
    # the SAME width from COUNT(*) and truncates its EMB_BITS_MAX-bit
    # literal strings to it (errors loudly past 524k vectors), so parity
    # holds at widened widths too; pinned by tests/
    # test_operator_invariants.py::test_emb_dedup_band_width_adapts and
    # ::test_emb_cosine_oracle_tracks_adaptive_width.
    bits = emb_bits_for(n_vecs)
    # adaptive band COUNT (round-11 64x probe finding): width-only
    # adaptation measured 0.797 recall at 10 bits on planted 0.90-cosine
    # pairs — below the 0.8 floor; emb_bands_for grows the OR-construction
    # to hold the 0.93 design recall at any width. The oracle derives the
    # SAME count from its SQL-computed width via a Python-emitted lookup.
    nb = emb_bands_for(bits)
    bands = e.selectExpr(
        "vec_id",
        *[f"{_emb_band_spark(b, bits)} AS eband{b}" for b in range(nb)],
    ).select(
        "vec_id",
        F.posexplode(
            F.array(*[F.col(f"eband{b}") for b in range(nb)])
        ).alias("band_idx", "band_hash"),
    )
    # hot-bucket valve: one window count on the same key the join shuffles
    # on (partitioning reused), drop degenerate buckets before pairing
    w_bucket = Window.partitionBy("band_idx", "band_hash")
    bands = (
        bands.withColumn("bsize", F.count(F.lit(1)).over(w_bucket))
        .filter(F.col("bsize") <= MAX_EMB_BUCKET)
        .drop("bsize")
    )
    # the band table is tiny in BYTES but the join it feeds fans out to
    # ~bucket² pair rows — AQE would coalesce the window/join exchanges to
    # one partition (small-bytes/expensive-rows, the threshold-curve
    # incident); explicit partition counts are respected (measured 12.7 s
    # → ~3 s for the candidate stage at sf0.1)
    par = _doc_parallelism(ctx)
    banded = bands.repartition(par, "band_idx", "band_hash")
    a = banded.withColumnsRenamed({"vec_id": "vec_a"})
    b = banded.withColumnsRenamed({"vec_id": "vec_b"})
    cands = (
        a.join(b, ["band_idx", "band_hash"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .repartition(par, "vec_a", "vec_b")
        .distinct()
    )
    na = norms.select(
        F.col("vec_id").alias("vec_a"),
        F.col("emb").alias("emb_a"),
        F.col("norm_sq").alias("norm_a"),
    )
    nb = norms.select(
        F.col("vec_id").alias("vec_b"),
        F.col("emb").alias("emb_b"),
        F.col("norm_sq").alias("norm_b"),
    )
    cos = F.expr(DOT_SPARK.format(a="emb_a", b="emb_b")) / (
        F.sqrt(F.col("norm_a")) * F.sqrt(F.col("norm_b"))
    )
    scored = (
        cands.join(gated_broadcast(na, n_vecs), "vec_a")
        .join(gated_broadcast(nb, n_vecs), "vec_b")
        .select("vec_a", "vec_b", rnd(cos, 6).alias("cosine"))
        .localCheckpoint(eager=True)
    )
    return scored.filter(F.col("cosine") >= COSINE_THRESHOLD)


def _emb_cosine_oracle() -> str:
    """Width-ADAPTIVE oracle: emits full EMB_BITS_MAX-bit sign strings
    (prefix-consistent with the Spark family) and truncates to the
    corpus-derived width in SQL, mirroring emb_bits_for exactly — so the
    oracle stays bit-exact for corpora past EMB_BITS_BASE_N instead of
    silently replaying the saturating 4-bit hash (round-11 ADVICE).
    Band-COUNT-adaptive too (round-11 64x probe): all EMB_BANDS_MAX band
    strings are emitted and the cross join is truncated to the count
    emb_bands_for derives from the SQL-computed width — band prefixes
    are consistent the same way bit prefixes are, so truncating the band
    list replays any narrower configuration exactly."""
    band_cases = " ".join(
        f"WHEN {b} THEN eband{b}" for b in range(EMB_BANDS_MAX)
    )
    band_defs = ", ".join(
        f"{_emb_band_duck(b, EMB_BITS_MAX)} AS eband{b}"
        for b in range(EMB_BANDS_MAX)
    )
    ks = ", ".join(str(b) for b in range(EMB_BANDS_MAX))
    bands_case = _emb_bands_duck_case("SELECT bits FROM cfg")
    return f"""WITH cfg AS (
    {_emb_bits_duck()}
),
banded AS (
    SELECT vec_id, {band_defs} FROM embeddings
),
bands_all AS (
    SELECT vec_id, k.k AS band_idx,
        SUBSTRING(CASE k.k {band_cases} END, 1, (SELECT bits FROM cfg))
            AS band_hash
    FROM banded CROSS JOIN (SELECT UNNEST([{ks}]) AS k) k
    WHERE k.k < ({bands_case})
),
bands AS (
    SELECT vec_id, band_idx, band_hash FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY band_idx, band_hash) AS bsize
        FROM bands_all
    ) WHERE bsize <= {MAX_EMB_BUCKET}
),
cands AS (
    SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
     AND a.vec_id < b.vec_id
),
norms AS (
    SELECT vec_id, embedding, {dot_duck('embedding', 'embedding')} AS norm_sq
    FROM embeddings
),
scored AS (
    SELECT
        c.vec_a,
        c.vec_b,
        {rnd_sql(f"{dot_duck('a.embedding', 'b.embedding')} / (sqrt(a.norm_sq) * sqrt(b.norm_sq))", 6)} AS cosine
    FROM cands c
    JOIN norms a ON c.vec_a = a.vec_id
    JOIN norms b ON c.vec_b = b.vec_id
)
SELECT vec_a, vec_b, cosine
FROM scored
WHERE cosine >= {COSINE_THRESHOLD}"""


oracle("dedup_embedding_cosine", ("embeddings",), _emb_cosine_oracle())


#: fixed-size deterministic sample for the recall harness: bottom-k vectors
#: by salted md5 (the sampled-quantiles convention) — the brute-force ground
#: truth runs on O(SAMPLE²) pairs at ANY corpus size.
EMB_RECALL_SAMPLE = 512
_EMB_RECALL_SALT = "edrecall|"


@model(
    "dedup_embedding_lsh_recall", layer="operators", materialization="view"
)
def dedup_embedding_lsh_recall(ctx):
    """Measured recall of the banded sign-LSH candidate generation against
    brute-force ground truth, on a fixed-size deterministic sample
    (bottom-EMB_RECALL_SAMPLE vectors by salted md5 — TakeOrderedAndProject,
    never a full sort). The brute all-pairs stage only ever sees the
    GlobalLimit-bounded sample, so the harness costs O(SAMPLE²) at any SF;
    the production query (dedup_embedding_cosine) never runs brute force.
    One row: sample size, true near-dup pairs in the sample, LSH-surviving
    pairs, and recall = survivors / truth (LSH output is a subset of truth
    because the verify stage is exact)."""
    from pyspark.sql import Window

    from dbt_tpch_spark.plans.audit import bounded_checkpoint

    e = ctx.source("embeddings")
    skey = F.md5(
        F.concat(F.lit(_EMB_RECALL_SALT), F.col("vec_id").cast("string"))
    )
    sampled = bounded_checkpoint(
        e.select("vec_id", "embedding", skey.alias("skey"))
        .orderBy("skey")
        .limit(EMB_RECALL_SAMPLE)
        .repartition(_doc_parallelism(ctx), "vec_id")
    )
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
    cos = F.expr(DOT_SPARK.format(a="emb_a", b="emb_b")) / (
        F.sqrt(F.col("norm_a")) * F.sqrt(F.col("norm_b"))
    )
    truth = (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", rnd(cos, 6).alias("cosine"))
        .localCheckpoint(eager=True)
        .filter(F.col("cosine") >= COSINE_THRESHOLD)
    )
    bands = sampled.selectExpr(
        "vec_id",
        *[f"{_emb_band_spark(b)} AS eband{b}" for b in range(EMB_LSH_BANDS)],
    ).select(
        "vec_id",
        F.posexplode(
            F.array(*[F.col(f"eband{b}") for b in range(EMB_LSH_BANDS)])
        ).alias("band_idx", "band_hash"),
    )
    w_bucket = Window.partitionBy("band_idx", "band_hash")
    bands = (
        bands.withColumn("bsize", F.count(F.lit(1)).over(w_bucket))
        .filter(F.col("bsize") <= MAX_EMB_BUCKET)
        .drop("bsize")
    )
    ba = bands.withColumnsRenamed({"vec_id": "vec_a"})
    bb = bands.withColumnsRenamed({"vec_id": "vec_b"})
    cands = (
        ba.join(bb, ["band_idx", "band_hash"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    n_sample = sampled.agg(
        F.count(F.lit(1)).cast("long").alias("sample_size")
    )
    n_truth = truth.agg(F.count(F.lit(1)).cast("long").alias("n_true_pairs"))
    n_cands = cands.agg(
        F.count(F.lit(1)).cast("long").alias("n_candidate_pairs")
    )
    n_hit = (
        truth.join(cands, ["vec_a", "vec_b"], "left_semi")
        .agg(F.count(F.lit(1)).cast("long").alias("n_lsh_pairs"))
    )
    return (
        n_sample.crossJoin(n_truth)
        .crossJoin(n_cands)
        .crossJoin(n_hit)
        .select(
            "sample_size",
            "n_true_pairs",
            "n_candidate_pairs",
            "n_lsh_pairs",
            rnd(
                F.col("n_lsh_pairs")
                / F.nullif(F.col("n_true_pairs"), F.lit(0)).cast("double"),
                6,
            ).alias("recall"),
        )
    )


def _emb_recall_oracle() -> str:
    band_cases = " ".join(
        f"WHEN {b} THEN eband{b}" for b in range(EMB_LSH_BANDS)
    )
    band_defs = ", ".join(
        f"{_emb_band_duck(b)} AS eband{b}" for b in range(EMB_LSH_BANDS)
    )
    ks = ", ".join(str(b) for b in range(EMB_LSH_BANDS))
    return f"""WITH sampled AS (
    SELECT vec_id, embedding
    FROM embeddings
    ORDER BY md5('{_EMB_RECALL_SALT}' || CAST(vec_id AS VARCHAR))
    LIMIT {EMB_RECALL_SAMPLE}
),
norms AS (
    SELECT vec_id, embedding, {dot_duck('embedding', 'embedding')} AS norm_sq
    FROM sampled
),
truth AS (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM norms a JOIN norms b ON a.vec_id < b.vec_id
    WHERE {rnd_sql(f"{dot_duck('a.embedding', 'b.embedding')} / (sqrt(a.norm_sq) * sqrt(b.norm_sq))", 6)} >= {COSINE_THRESHOLD}
),
banded AS (
    SELECT vec_id, {band_defs} FROM sampled
),
bands_all AS (
    SELECT vec_id, k.k AS band_idx,
        CASE k.k {band_cases} END AS band_hash
    FROM banded CROSS JOIN (SELECT UNNEST([{ks}]) AS k) k
),
bands AS (
    SELECT vec_id, band_idx, band_hash FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY band_idx, band_hash) AS bsize
        FROM bands_all
    ) WHERE bsize <= {MAX_EMB_BUCKET}
),
cands AS (
    SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
     AND a.vec_id < b.vec_id
),
counts AS (
    SELECT
        (SELECT CAST(COUNT(*) AS BIGINT) FROM sampled) AS sample_size,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_true_pairs,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM cands) AS n_candidate_pairs,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM truth t
          WHERE EXISTS (SELECT 1 FROM cands c
                        WHERE c.vec_a = t.vec_a AND c.vec_b = t.vec_b))
            AS n_lsh_pairs
)
SELECT sample_size, n_true_pairs, n_candidate_pairs, n_lsh_pairs,
    {rnd_sql('CAST(n_lsh_pairs AS DOUBLE) / NULLIF(n_true_pairs, 0)', 6)} AS recall
FROM counts"""


oracle(
    "dedup_embedding_lsh_recall", ("embeddings",), _emb_recall_oracle()
)


#: portable SQL (identical text both engines) for the width emb_bits_for
#: would pick at the corpus size carried in ``n_vectors`` — the in-plan
#: twin of the Python formula, pinned against it in
#: tests/test_operator_invariants.py.
_ADAPTIVE_BITS_SQL = (
    f"CASE WHEN n_vectors <= {EMB_BITS_BASE_N} THEN {EMB_LSH_BITS} "
    f"ELSE {EMB_LSH_BITS} + CAST(CEIL(LOG2(n_vectors / "
    f"{EMB_BITS_BASE_N}.0)) AS INT) END"
)


@model("emb_lsh_band_stats", layer="operators", materialization="view")
def emb_lsh_band_stats(ctx):
    """Cost/recall planner for the banded sign-LSH dedup path: per band,
    the bucket census (bucket count, max bucket, implied candidate pairs
    Σ s·(s−1)/2) computed WITHOUT materializing a single pair — the
    number that decides whether a (bands, bits) config is affordable at
    the current corpus — plus the theoretical OR-construction recall of
    the whole config at cosine 0.5 and 0.9 (per-bit collision probability
    1 − arccos(c)/π, Charikar STOC'02). The lshplan.py analog for the
    embedding path: run this before committing EMB_LSH_BANDS/EMB_LSH_BITS
    at a new corpus scale.

    Scale shape: one corpus projection + two bounded aggregations (bucket
    grain, then the 8-row band grain); the recall formulas are constant
    expressions.

    The census itself is taken at the BASE width (the fixed family the
    static config commits to); ``adaptive_bits`` / ``adaptive_bands``
    report the (width, band count) :func:`emb_bits_for` /
    :func:`emb_bands_for` would actually use for this corpus — derived
    in-plan from the per-band vector count (every vector appears once
    per band, so n_vectors IS the corpus size; no extra job), keeping the
    planner honest about the production hash under the round-10/11
    adaptive (bits, bands) policy."""
    e = ctx.source("embeddings").repartition(_doc_parallelism(ctx), "vec_id")
    bands = e.selectExpr(
        "vec_id",
        *[f"{_emb_band_spark(b)} AS eband{b}" for b in range(EMB_LSH_BANDS)],
    ).select(
        "vec_id",
        F.posexplode(
            F.array(*[F.col(f"eband{b}") for b in range(EMB_LSH_BANDS)])
        ).alias("band_idx", "band_hash"),
    )
    sizes = bands.groupBy("band_idx", "band_hash").agg(
        F.count(F.lit(1)).cast("long").alias("s")
    )
    r, b = EMB_LSH_BITS, EMB_LSH_BANDS
    recall = (
        f"1.0 - POWER(1.0 - POWER(1.0 - ACOS({{c}})/PI(), {r}), {b})"
    )
    return sizes.groupBy("band_idx").agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum("s").cast("long").alias("n_vectors"),
        F.max("s").cast("long").alias("max_bucket_size"),
        F.sum(F.expr("(s * (s - 1)) DIV 2")).cast("long").alias(
            "candidate_pairs"
        ),
    ).select(
        "band_idx",
        "n_buckets",
        "n_vectors",
        "max_bucket_size",
        "candidate_pairs",
        F.expr(_ADAPTIVE_BITS_SQL).cast("int").alias("adaptive_bits"),
        F.expr(_emb_bands_duck_case(_ADAPTIVE_BITS_SQL))
        .cast("int")
        .alias("adaptive_bands"),
        rnd(F.expr(recall.format(c=0.5)), 6).alias("config_recall_at_05"),
        rnd(F.expr(recall.format(c=0.9)), 6).alias("config_recall_at_09"),
    )


def _emb_band_stats_oracle() -> str:
    band_cases = " ".join(
        f"WHEN {b} THEN eband{b}" for b in range(EMB_LSH_BANDS)
    )
    band_defs = ", ".join(
        f"{_emb_band_duck(b)} AS eband{b}" for b in range(EMB_LSH_BANDS)
    )
    ks = ", ".join(str(b) for b in range(EMB_LSH_BANDS))
    r, b = EMB_LSH_BITS, EMB_LSH_BANDS
    recall = (
        f"1.0 - POWER(1.0 - POWER(1.0 - ACOS({{c}})/PI(), {r}), {b})"
    )
    return f"""WITH banded AS (
    SELECT vec_id, {band_defs} FROM embeddings
),
bands_all AS (
    SELECT vec_id, k.k AS band_idx,
        CASE k.k {band_cases} END AS band_hash
    FROM banded CROSS JOIN (SELECT UNNEST([{ks}]) AS k) k
),
sizes AS (
    SELECT band_idx, band_hash, CAST(COUNT(*) AS BIGINT) AS s
    FROM bands_all GROUP BY 1, 2
),
grouped AS (
    SELECT
        band_idx,
        CAST(COUNT(*) AS BIGINT) AS n_buckets,
        CAST(SUM(s) AS BIGINT) AS n_vectors,
        CAST(MAX(s) AS BIGINT) AS max_bucket_size,
        CAST(SUM((s * (s - 1)) // 2) AS BIGINT) AS candidate_pairs
    FROM sizes
    GROUP BY 1
)
SELECT
    band_idx,
    n_buckets,
    n_vectors,
    max_bucket_size,
    candidate_pairs,
    CAST({_ADAPTIVE_BITS_SQL} AS INT) AS adaptive_bits,
    CAST({_emb_bands_duck_case(_ADAPTIVE_BITS_SQL)} AS INT)
        AS adaptive_bands,
    {rnd_sql(recall.format(c=0.5), 6)} AS config_recall_at_05,
    {rnd_sql(recall.format(c=0.9), 6)} AS config_recall_at_09
FROM grouped"""


oracle("emb_lsh_band_stats", ("embeddings",), _emb_band_stats_oracle())


# --------------------------------------------------------------------------
# dedup clusters (connected components over verified near-dup pairs)
# --------------------------------------------------------------------------


def _component_labels(ctx):
    """(doc_id, cluster_id) min-label fixpoint over the verified MinHash
    near-dup pairs — only documents that appear in at least one pair.
    Shared feedstock of :func:`dedup_clusters` (per-cluster rollup) and
    :func:`dedup_doc_labels` (per-doc labels incl. singletons)."""
    pairs = ctx.ref("dedup_minhash_lsh").select("doc_a", "doc_b")
    # undirected edges, both directions; cached partitioned on the per-round
    # join key (cache keeps hash(doc_b) outputPartitioning where
    # localCheckpoint would drop it — same pattern as parts_pagerank), so
    # every propagation round consumes the edge table with zero further
    # exchanges on the edge side
    n_part = int(ctx.spark.conf.get("spark.sql.shuffle.partitions", "32"))
    edges = (
        pairs.union(
            pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
        )
        .distinct()
        .repartition(n_part, "doc_b")
        .cache()
    )
    edges.count()
    labels = (
        edges.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )
    max_rounds = 16  # >> any realistic near-dup component diameter
    for _ in range(max_rounds):
        neighbor_min = (
            edges.join(labels, edges.doc_b == labels.doc_id)
            .groupBy("doc_a")
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.doc_id == neighbor_min.doc_a, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("cluster_id"),
                    F.coalesce(F.col("nbr_min"), F.col("cluster_id")),
                ).alias("cluster_id"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    # labels are checkpointed; release the pinned edge table (without this
    # every consumer of the fixpoint leaked one SF-linear cached frame)
    edges.unpersist()
    return labels


@model("dedup_clusters", layer="operators", materialization="view")
def dedup_clusters(ctx):
    """Connected components over the verified MinHash near-dup pairs:
    every document in a component gets the component's minimum doc_id as
    cluster id (the canonical survivor a dedup pass keeps).

    Implemented as iterative min-label propagation — the standard
    large-graph DataFrame pattern: join + re-aggregate until fixpoint, with
    an eager ``localCheckpoint`` per round to truncate lineage (without it
    the logical plan nests exponentially and analysis alone stalls).
    Converges in O(component diameter) rounds; early-stops when labels are
    stable. The oracle reaches the same fixpoint with a recursive CTE
    (transitive closure + MIN per node).

    Derives from the ``dedup_doc_labels`` model (memoized per Context) so
    a build touching both models runs the fixpoint ONCE; a component from
    the pair graph always has >= 2 members, so the size filter exactly
    separates components from the per-doc model's singletons."""
    labels = ctx.ref("dedup_doc_labels")
    return (
        labels.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.min("doc_id").alias("canonical_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .filter(F.col("cluster_size") >= 2)
    )


oracle(
    "dedup_clusters",
    ("dedup_minhash_lsh",),
    """WITH RECURSIVE edges AS (
    SELECT doc_a, doc_b FROM dedup_minhash_lsh
    UNION
    SELECT doc_b, doc_a FROM dedup_minhash_lsh
),
nodes AS (
    SELECT DISTINCT doc_a AS doc_id FROM edges
),
reach(src, dst) AS (
    SELECT doc_id, doc_id FROM nodes
    UNION
    SELECT r.src, e.doc_b
    FROM reach r JOIN edges e ON r.dst = e.doc_a
),
labels AS (
    SELECT src AS doc_id, MIN(dst) AS cluster_id
    FROM reach
    GROUP BY src
)
SELECT
    cluster_id,
    COUNT(*) AS cluster_size,
    MIN(doc_id) AS canonical_doc_id,
    MAX(doc_id) AS max_doc_id
FROM labels
GROUP BY 1""",
)


@model("dedup_doc_labels", layer="operators", materialization="view")
def dedup_doc_labels(ctx):
    """Per-document canonical component label over the WHOLE corpus:
    documents in a near-dup component carry the component's min doc_id;
    singletons (never in a verified pair) are their own label. This is
    the frame group-aware downstream stages key on — leakage-safe
    train/test splitting (docs_split_by_cluster), group-aware sharding,
    survivor election — so it is materialized as a first-class model
    rather than recomputed per consumer.

    Plan: the min-label fixpoint runs only over docs that appear in
    pairs; the corpus-wide frame is one left hash join + coalesce (the
    label side is SF-linear in the worst case, so it is NOT broadcast —
    AQE will still pick broadcast when the pair set is actually small).
    """
    labels = _component_labels(ctx)
    d = ctx.source("documents").select("doc_id")
    return d.join(labels, "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
    )


oracle(
    "dedup_doc_labels",
    ("dedup_minhash_lsh", "documents"),
    """WITH RECURSIVE edges AS (
    SELECT doc_a, doc_b FROM dedup_minhash_lsh
    UNION
    SELECT doc_b, doc_a FROM dedup_minhash_lsh
),
nodes AS (
    SELECT DISTINCT doc_a AS doc_id FROM edges
),
reach(src, dst) AS (
    SELECT doc_id, doc_id FROM nodes
    UNION
    SELECT r.src, e.doc_b
    FROM reach r JOIN edges e ON r.dst = e.doc_a
),
labels AS (
    SELECT src AS doc_id, MIN(dst) AS cluster_id
    FROM reach
    GROUP BY src
)
SELECT
    d.doc_id,
    COALESCE(l.cluster_id, d.doc_id) AS cluster_id
FROM documents d
LEFT JOIN labels l ON d.doc_id = l.doc_id""",
)


@model("dedup_source_matrix", layer="operators", materialization="view")
def dedup_source_matrix(ctx):
    """Cross-source duplication forensics: the MinHash-LSH near-dup pairs
    rolled up to (source, source) cells — which sources copy from which,
    how many near-dup pairs cross the boundary, and how similar they are.
    The standard corpus-audit artifact before fixing mixture weights
    (within-source duplication inflates a source's effective weight;
    cross-source duplication leaks eval/train boundaries).

    Composition, not reimplementation: rides ``ctx.ref('dedup_minhash_lsh')``
    (the model DAG edge), joins the pair list — tiny next to the corpus —
    against the broadcast (doc_id, source) projection twice, and
    aggregates to the source-pair grain with least/greatest
    canonicalization so each cell appears once."""
    pairs = ctx.ref("dedup_minhash_lsh")
    src = ctx.source("documents").select("doc_id", "source")
    sa = src.withColumnsRenamed({"doc_id": "doc_a", "source": "src_a"})
    sb = src.withColumnsRenamed({"doc_id": "doc_b", "source": "src_b"})
    return (
        pairs.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .select(
            F.least("src_a", "src_b").alias("source_lo"),
            F.greatest("src_a", "src_b").alias("source_hi"),
            "jaccard",
        )
        .groupBy("source_lo", "source_hi")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            rnd(dsum(F.col("jaccard")) / F.count(F.lit(1)), 6).alias(
                "mean_jaccard"
            ),
        )
        .withColumn(
            "is_cross_source", F.col("source_lo") != F.col("source_hi")
        )
    )


oracle(
    "dedup_source_matrix",
    ("dedup_minhash_lsh", "documents"),
    f"""SELECT
    LEAST(sa.source, sb.source) AS source_lo,
    GREATEST(sa.source, sb.source) AS source_hi,
    CAST(COUNT(*) AS BIGINT) AS n_pairs,
    {rnd_sql(dsum_sql('p.jaccard') + ' / COUNT(*)', 6)} AS mean_jaccard,
    LEAST(sa.source, sb.source) != GREATEST(sa.source, sb.source)
        AS is_cross_source
FROM dedup_minhash_lsh p
JOIN documents sa ON p.doc_a = sa.doc_id
JOIN documents sb ON p.doc_b = sb.doc_id
GROUP BY 1, 2""",
)


# --------------------------------------------------------------------------
# incremental-ingest dedup (new batch probed against the standing index)
# --------------------------------------------------------------------------

#: deterministic batch split: doc_id % INGEST_MOD == 0 is the incoming
#: batch (~1/INGEST_MOD of the corpus), the rest is the standing index.
INGEST_MOD = 5


def ingest_verdicts(incoming_docs, index_docs):
    """The incremental-ingest dedup core, shared by the batch model and
    the streaming foreachBatch twin (tests/test_streaming_ingest.py):
    band the incoming frame, probe the index's banded signatures, verify
    candidates by exact Jaccard, and emit one deterministic verdict row
    per incoming document. Verdicts depend only on the document itself
    and the index, so any partitioning of the incoming set into
    micro-batches yields the same union of verdicts.

    Not routed through :func:`incremental_dedup_batch`: here the valve
    counts the INDEX bucket only (the standing side that can degenerate),
    the core counts the combined bucket. The two differ once incoming docs
    push an index bucket over MAX_BAND_BUCKET (pinned in
    tests/test_operator_invariants.py::
    test_lsh_hot_bucket_valve_drops_degenerate_buckets)."""
    from pyspark.sql import Window

    n_parts = incoming_docs.sparkSession.sparkContext.defaultParallelism

    def banded(docs):
        # the persisted signature table (doc_id, words, band*) a deployment
        # keeps as its standing index: every consumer (probe, valve,
        # verify) reads the checkpoint, not the pipeline
        return (
            minhash_sig_rows(docs, n_parts)
            .selectExpr("doc_id", "words", *band_exprs())
            .localCheckpoint(eager=True)
        )

    in_sigs = banded(incoming_docs)
    ix_sigs = banded(index_docs)
    w_bucket = Window.partitionBy("band_idx", "band_hash")
    idx = (
        _explode_bands(ix_sigs)
        .withColumn("bsize", F.count(F.lit(1)).over(w_bucket))
        .filter(F.col("bsize") <= MAX_BAND_BUCKET)
        .drop("bsize")
        .withColumnsRenamed({"doc_id": "doc_old"})
    )
    probe = _explode_bands(in_sigs).withColumnsRenamed({"doc_id": "doc_new"})
    cands = (
        probe.join(idx, ["band_idx", "band_hash"])
        .select("doc_new", "doc_old")
        .distinct()
    )
    tn = in_sigs.select(
        F.col("doc_id").alias("doc_new"), F.col("words").alias("words_n")
    )
    to = ix_sigs.select(
        F.col("doc_id").alias("doc_old"), F.col("words").alias("words_o")
    )
    inter = F.size(F.array_intersect("words_n", "words_o")).cast("long")
    union = (F.size("words_n") + F.size("words_o")).cast("long") - inter
    verified = (
        cands.join(tn, "doc_new")
        .join(to, "doc_old")
        .withColumn("jaccard", rnd(inter.cast("double") / union, 6))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_new", "doc_old", "jaccard")
    )
    w_best = Window.partitionBy("doc_new").orderBy(
        F.col("jaccard").desc(), F.col("doc_old")
    )
    best = (
        verified.withColumn("rn", F.row_number().over(w_best))
        .groupBy("doc_new")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dup_matches"),
            F.max(F.when(F.col("rn") == 1, F.col("doc_old"))).alias(
                "best_match_doc"
            ),
            F.max(F.when(F.col("rn") == 1, F.col("jaccard"))).alias(
                "best_jaccard"
            ),
        )
    )
    incoming = incoming_docs.select(
        F.col("doc_id").alias("doc_new"), "source"
    )
    return incoming.join(best, "doc_new", "left").select(
        "doc_new",
        "source",
        F.coalesce(F.col("n_dup_matches"), F.lit(0)).cast("long").alias(
            "n_dup_matches"
        ),
        "best_match_doc",
        "best_jaccard",
        F.col("n_dup_matches").isNull().alias("is_new"),
    )


@model("dedup_incremental_ingest", layer="operators", materialization="view")
def dedup_incremental_ingest(ctx):
    """Continuous-ingestion dedup: an incoming batch's MinHash bands probe
    the standing corpus index — the asymmetric LSH join a production
    pipeline runs per ingest, where only the (small) new batch is on the
    probe side and the index is the previously-banded corpus. One verdict
    row per incoming document: verified match count, best match
    (jaccard desc, then lowest index doc_id — deterministic), is_new flag.

    Core logic lives in :func:`ingest_verdicts` (shared with the
    streaming foreachBatch twin). Scale: the band join shuffles on
    (band_idx, band_hash) exactly like dedup_minhash_lsh; the verify
    stage touches candidate pairs only; the hot-bucket valve applies to
    the standing index side (the side that can degenerate)."""
    d = ctx.source("documents").select("doc_id", "source", "text").repartition(
        _doc_parallelism(ctx), "doc_id"
    )
    is_incoming = (F.col("doc_id") % INGEST_MOD) == 0
    return ingest_verdicts(d.filter(is_incoming), d.filter(~is_incoming))


oracle(
    "dedup_incremental_ingest",
    ("documents",),
    f"""WITH toks AS (
    SELECT doc_id, {_SHINGLE3_DUCK} AS words FROM documents
),
hashed AS (
    SELECT doc_id, words, list_transform(words, w -> md5(w)) AS hs FROM toks
),
paired AS (
    SELECT doc_id, words, {hashpair_duck()} AS hp FROM hashed
),
sigs AS (
    SELECT doc_id, words, {', '.join(minhash_exprs_duck())} FROM paired
),
banded AS (
    SELECT doc_id, {', '.join(band_exprs())} FROM sigs
),
bands_all AS (
    SELECT doc_id, k.k AS band_idx,
        CASE k.k {' '.join(f'WHEN {b} THEN band{b}' for b in range(LSH_BANDS))} END AS band_hash
    FROM banded CROSS JOIN (SELECT UNNEST([{', '.join(str(b) for b in range(LSH_BANDS))}]) AS k) k
),
index_bands AS (
    SELECT doc_id AS doc_old, band_idx, band_hash FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY band_idx, band_hash) AS bsize
        FROM bands_all WHERE doc_id % {INGEST_MOD} != 0
    ) WHERE bsize <= {MAX_BAND_BUCKET}
),
probe AS (
    SELECT doc_id AS doc_new, band_idx, band_hash
    FROM bands_all WHERE doc_id % {INGEST_MOD} = 0
),
cands AS (
    SELECT DISTINCT p.doc_new, i.doc_old
    FROM probe p JOIN index_bands i
      ON p.band_idx = i.band_idx AND p.band_hash = i.band_hash
),
verified AS (
    SELECT doc_new, doc_old, jaccard FROM (
        SELECT
            c.doc_new,
            c.doc_old,
            {rnd_sql('CAST(len(list_intersect(tn.words, tob.words)) AS DOUBLE)'
                     ' / (len(tn.words) + len(tob.words)'
                     ' - len(list_intersect(tn.words, tob.words)))', 6)} AS jaccard
        FROM cands c
        JOIN toks tn ON c.doc_new = tn.doc_id
        JOIN toks tob ON c.doc_old = tob.doc_id
    ) WHERE jaccard >= {JACCARD_THRESHOLD}
),
best AS (
    SELECT
        doc_new,
        CAST(COUNT(*) AS BIGINT) AS n_dup_matches,
        MAX(CASE WHEN rn = 1 THEN doc_old END) AS best_match_doc,
        MAX(CASE WHEN rn = 1 THEN jaccard END) AS best_jaccard
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY doc_new ORDER BY jaccard DESC, doc_old
        ) AS rn
        FROM verified
    )
    GROUP BY 1
)
SELECT
    d.doc_id AS doc_new,
    d.source,
    CAST(COALESCE(b.n_dup_matches, 0) AS BIGINT) AS n_dup_matches,
    b.best_match_doc,
    b.best_jaccard,
    b.n_dup_matches IS NULL AS is_new
FROM documents d
LEFT JOIN best b ON d.doc_id = b.doc_new
WHERE d.doc_id % {INGEST_MOD} = 0""",
)


@model("docs_dedup_survivors", layer="operators", materialization="view")
def docs_dedup_survivors(ctx):
    """Quality-argmax survivor selection: within each exact-duplicate
    group, keep the member with the highest quality score (doc_id
    ascending breaks ties) — the dedup policy real pipelines prefer over
    keep-lowest-id, since duplicates can differ in surrounding whitespace
    or metadata quality. Singles pass through as their own survivor.

    Shape: the argmax is one max(struct(quality, -doc_id)) aggregation on
    the content-hash shuffle — map-side combinable, no rank window."""
    stats = ctx.ref("doc_text_stats").select("doc_id", "quality_score")
    d = ctx.source("documents").select(
        "doc_id", F.md5(norm_text_col()).alias("content_hash")
    )
    j = d.join(stats, "doc_id")
    best = F.max(
        F.struct(
            F.col("quality_score").alias("q"),
            (-F.col("doc_id")).alias("neg_id"),
        )
    )
    return (
        j.groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).cast("long").alias("group_size"),
            best.alias("b"),
        )
        .select(
            "content_hash",
            "group_size",
            (-F.col("b.neg_id")).cast("long").alias("survivor_doc_id"),
            F.col("b.q").alias("survivor_quality"),
            (F.col("group_size") > 1).alias("had_duplicates"),
        )
    )


oracle(
    "docs_dedup_survivors",
    ("documents", "doc_text_stats"),
    """WITH j AS (
    SELECT d.doc_id,
           md5(regexp_replace(lower(trim(d.text)), '\\s+', ' ', 'g'))
               AS content_hash,
           s.quality_score
    FROM documents d
    JOIN doc_text_stats s ON d.doc_id = s.doc_id
),
ranked AS (
    SELECT *,
           ROW_NUMBER() OVER (
               PARTITION BY content_hash
               ORDER BY quality_score DESC, doc_id
           ) AS rn,
           COUNT(*) OVER (PARTITION BY content_hash) AS group_size
    FROM j
)
SELECT
    content_hash,
    CAST(group_size AS BIGINT) AS group_size,
    CAST(doc_id AS BIGINT) AS survivor_doc_id,
    quality_score AS survivor_quality,
    group_size > 1 AS had_duplicates
FROM ranked
WHERE rn = 1""",
)


@model("dedup_method_agreement", layer="operators", materialization="view")
def dedup_method_agreement(ctx):
    """Cross-detector audit: pairwise agreement between the three
    near-dup detectors (MinHash-LSH verified pairs, SimHash band pairs,
    winnow substring pairs) as pair-set overlap counts and Jaccard — the
    report that tells a pipeline owner which detector is loose or tight
    on THIS corpus before picking thresholds (here SimHash's band
    blocking is visibly the permissive one).

    Shape: three model refs union into a labeled pair set; one self-join
    on the (doc_a, doc_b) key computes every intersection; the 3x3 grid
    is method-cardinality."""
    sets = [
        ("minhash_lsh", ctx.ref("dedup_minhash_lsh")),
        ("simhash", ctx.ref("dedup_simhash_pairs")),
        ("winnow", ctx.ref("docs_winnow_dups")),
    ]
    labeled = None
    for name, df in sets:
        part = df.select(
            "doc_a", "doc_b", F.lit(name).alias("method")
        )
        labeled = part if labeled is None else labeled.unionByName(part)
    # three downstream consumers (census + both self-join sides) would each
    # re-execute all three detector pipelines; the labeled pair set is tiny
    # (pair-cardinality), so materialize it once
    labeled = labeled.localCheckpoint(eager=True)
    per_method = labeled.groupBy("method").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    a = labeled.withColumnsRenamed({"method": "method_a"})
    b = labeled.withColumnsRenamed({"method": "method_b"})
    both = (
        a.join(b, ["doc_a", "doc_b"])
        .filter(F.col("method_a") < F.col("method_b"))
        .groupBy("method_a", "method_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    # the grid comes from a LITERAL 3-method frame (the keys are static),
    # not from the observed pair set: a detector returning zero pairs must
    # still appear in the agreement matrix with n=0, or the "which detector
    # is loose/tight" report silently drops it
    # createDataFrame of a literal list lands as an opaque LogicalRDD;
    # mark_bounded records its 3-row bound for the pair-stage invariant
    from dbt_tpch_spark.plans.audit import mark_bounded

    methods = mark_bounded(
        ctx.spark.createDataFrame(
            [(name,) for name, _ in sets], "method string"
        )
    )
    counted = methods.join(F.broadcast(per_method), "method", "left").select(
        "method", F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs")
    )
    ma = counted.select(
        F.col("method").alias("method_a"), F.col("n_pairs").alias("n_a")
    )
    mb = counted.select(
        F.col("method").alias("method_b"), F.col("n_pairs").alias("n_b")
    )
    grid = ma.crossJoin(mb).filter(F.col("method_a") < F.col("method_b"))
    n_both = F.coalesce("n_both", F.lit(0))
    return (
        grid.join(both, ["method_a", "method_b"], "left")
        .select(
            "method_a",
            "method_b",
            "n_a",
            "n_b",
            n_both.cast("long").alias("n_both"),
            rnd(
                n_both.cast("double")
                # NULLIF guard: two empty detectors would divide 0/0 —
                # Spark yields NULL but DuckDB IEEE-floats to NaN
                / F.nullif(
                    F.col("n_a") + F.col("n_b") - n_both, F.lit(0)
                ),
                6,
            ).alias("pair_jaccard"),
        )
    )


oracle(
    "dedup_method_agreement",
    ("dedup_minhash_lsh", "dedup_simhash_pairs", "docs_winnow_dups"),
    f"""WITH labeled AS (
    SELECT doc_a, doc_b, 'minhash_lsh' AS method FROM dedup_minhash_lsh
    UNION ALL
    SELECT doc_a, doc_b, 'simhash' AS method FROM dedup_simhash_pairs
    UNION ALL
    SELECT doc_a, doc_b, 'winnow' AS method FROM docs_winnow_dups
),
methods AS (
    SELECT * FROM (VALUES ('minhash_lsh'), ('simhash'), ('winnow'))
        AS t(method)
),
per_method AS (
    SELECT m.method,
           CAST(COALESCE(c.n_pairs, 0) AS BIGINT) AS n_pairs
    FROM methods m
    LEFT JOIN (
        SELECT method, COUNT(*) AS n_pairs FROM labeled GROUP BY 1
    ) c ON c.method = m.method
),
ov AS (
    SELECT a.method AS method_a, b.method AS method_b,
           CAST(COUNT(*) AS BIGINT) AS n_both
    FROM labeled a
    JOIN labeled b
      ON a.doc_a = b.doc_a AND a.doc_b = b.doc_b AND a.method < b.method
    GROUP BY 1, 2
)
SELECT
    ma.method AS method_a,
    mb.method AS method_b,
    ma.n_pairs AS n_a,
    mb.n_pairs AS n_b,
    CAST(COALESCE(o.n_both, 0) AS BIGINT) AS n_both,
    {rnd_sql('CAST(COALESCE(o.n_both, 0) AS DOUBLE)'
             ' / NULLIF(ma.n_pairs + mb.n_pairs - COALESCE(o.n_both, 0), 0)', 6)}
        AS pair_jaccard
FROM per_method ma
CROSS JOIN per_method mb
LEFT JOIN ov o ON o.method_a = ma.method AND o.method_b = mb.method
WHERE ma.method < mb.method""",
)


# --------------------------------------------------------------------------
# directional n-gram containment (sub-document duplication)
# --------------------------------------------------------------------------

#: minimum directional containment to report a pair
CONTAINMENT_MIN = 0.8


@model("dedup_ngram_containment", layer="operators", materialization="view")
def dedup_ngram_containment(ctx):
    """Directional 5-gram containment |A ∩ B| / |A|: the sub-document
    duplication signal symmetric Jaccard misses — a short document quoted
    wholesale inside a long one has high containment but low Jaccard
    (union is dominated by the long side), and dedup policy differs (drop
    the contained copy, keep the superset). Same shared-shingle blocking
    as dedup_ngram_jaccard (shuffle key = shingle, never all-pairs); only
    pairs with max-direction containment >= CONTAINMENT_MIN survive."""
    sh = tokens_df(ctx).select(
        "doc_id", F.explode(shingle_col(5)).alias("shingle")
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.withColumnsRenamed({"doc_id": "doc_a"})
    b = sh.withColumnsRenamed({"doc_id": "doc_b"})
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("intersection_size"))
    )
    sa = sizes.withColumnsRenamed({"doc_id": "doc_a", "n_shingles": "size_a"})
    sb = sizes.withColumnsRenamed({"doc_id": "doc_b", "n_shingles": "size_b"})
    c_ab = F.col("intersection_size").cast("double") / F.col("size_a")
    c_ba = F.col("intersection_size").cast("double") / F.col("size_b")
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(F.greatest(c_ab, c_ba) >= F.lit(CONTAINMENT_MIN))
        .select(
            "doc_a",
            "doc_b",
            "intersection_size",
            F.col("size_a").cast("long").alias("size_a"),
            F.col("size_b").cast("long").alias("size_b"),
            rnd(c_ab, 6).alias("containment_a_in_b"),
            rnd(c_ba, 6).alias("containment_b_in_a"),
            F.when(c_ab >= c_ba, "a_in_b").otherwise("b_in_a").alias(
                "direction"
            ),
        )
    )


oracle(
    "dedup_ngram_containment",
    ("documents",),
    f"""WITH toks AS (
    SELECT doc_id, string_split({_NORM_TEXT_DUCK}, ' ') AS t FROM documents
),
sh AS (
    SELECT doc_id, UNNEST(
        CASE WHEN len(t) >= 5
             THEN list_distinct(list_transform(range(1, len(t) - 3),
                  i -> array_to_string(list_slice(t, i, i + 4), ' ')))
             ELSE [] END) AS shingle
    FROM toks
),
sizes AS (
    SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY 1
),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS intersection_size
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT
    i.doc_a,
    i.doc_b,
    i.intersection_size,
    CAST(sa.n_shingles AS BIGINT) AS size_a,
    CAST(sb.n_shingles AS BIGINT) AS size_b,
    {rnd_sql('CAST(i.intersection_size AS DOUBLE) / sa.n_shingles', 6)} AS containment_a_in_b,
    {rnd_sql('CAST(i.intersection_size AS DOUBLE) / sb.n_shingles', 6)} AS containment_b_in_a,
    CASE WHEN CAST(i.intersection_size AS DOUBLE) / sa.n_shingles
              >= CAST(i.intersection_size AS DOUBLE) / sb.n_shingles
         THEN 'a_in_b' ELSE 'b_in_a' END AS direction
FROM inter i
JOIN sizes sa ON i.doc_a = sa.doc_id
JOIN sizes sb ON i.doc_b = sb.doc_id
WHERE GREATEST(CAST(i.intersection_size AS DOUBLE) / sa.n_shingles,
               CAST(i.intersection_size AS DOUBLE) / sb.n_shingles)
      >= {CONTAINMENT_MIN}""",
)


# --------------------------------------------------------------------------
# MinHash sketch-quality gate
# --------------------------------------------------------------------------


@model("minhash_estimate_error", layer="operators", materialization="view")
def minhash_estimate_error(ctx):
    """Sketch-quality gate for the MinHash signatures, as a query: for
    every verified near-dup pair, the K=16 signature-agreement fraction
    (the unbiased MinHash estimate of Jaccard) next to the EXACT Jaccard
    the verifier computed, with the absolute error. The companion of
    ann_recall_report for the dedup index — the number an operator reads
    before trusting banding parameters at a new scale or corpus.

    Scale: the pair list is tiny; signatures join in by doc id (the
    standing signature table in production). Only the pair grain flows.
    """
    pairs = ctx.ref("dedup_minhash_lsh").select("doc_a", "doc_b", "jaccard")
    # the signature table is the standing artifact (materialized once, as
    # a deployment persists it); both pair sides read the checkpoint
    # instead of re-running the hash pipeline
    sigs = (
        minhash_sig_rows(ctx.source("documents"), _doc_parallelism(ctx))
        .drop("words")
        .localCheckpoint(eager=True)
    )
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(MINHASH_K)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(MINHASH_K)],
    )
    agree = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(MINHASH_K)
    ).cast("long")
    est = agree.cast("double") / F.lit(float(MINHASH_K))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            agree.alias("n_agree"),
            rnd(est, 6).alias("minhash_estimate"),
            rnd(F.abs(est - F.col("jaccard")), 6).alias("abs_err"),
        )
    )


def _minhash_err_oracle() -> str:
    agree = " + ".join(
        f"CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END"
        for i in range(MINHASH_K)
    )
    return f"""WITH toks AS (
    SELECT doc_id, {_SHINGLE3_DUCK} AS words FROM documents
),
hashed AS (
    SELECT doc_id, list_transform(words, w -> md5(w)) AS hs FROM toks
),
paired AS (
    SELECT doc_id, {hashpair_duck()} AS hp FROM hashed
),
sigs AS (
    SELECT doc_id, {', '.join(minhash_exprs_duck())} FROM paired
)
SELECT
    p.doc_a,
    p.doc_b,
    p.jaccard,
    CAST({agree} AS BIGINT) AS n_agree,
    {rnd_sql(f'CAST({agree} AS DOUBLE) / {MINHASH_K}', 6)} AS minhash_estimate,
    {rnd_sql(f'ABS(CAST({agree} AS DOUBLE) / {MINHASH_K} - p.jaccard)', 6)} AS abs_err
FROM dedup_minhash_lsh p
JOIN sigs a ON p.doc_a = a.doc_id
JOIN sigs b ON p.doc_b = b.doc_id"""


oracle(
    "minhash_estimate_error",
    ("dedup_minhash_lsh", "documents"),
    _minhash_err_oracle(),
)


# --------------------------------------------------------------------------
# near-dup cluster purity: crawl echo vs cross-source syndication
# --------------------------------------------------------------------------


@model(
    "docs_dedup_cluster_purity", layer="operators", materialization="view"
)
def docs_dedup_cluster_purity(ctx):
    """Source composition of each near-dup cluster (size >= 2): member
    count, distinct sources, the majority source and its share — the
    report that says whether duplication on THIS corpus is intra-source
    crawl echo (purity 1.0: fix the crawler) or cross-source syndication
    (purity < 1: dedup is doing real work). Majority ties break by source
    name ascending on both engines.

    Scale shape: rides the materialized component labels
    (dedup_doc_labels), one (cluster, source) aggregate, and a
    cluster-grain window — no pair-grain work."""
    from pyspark.sql import Window

    labels = ctx.ref("dedup_doc_labels").select("doc_id", "cluster_id")
    d = ctx.source("documents").select("doc_id", "source")
    per_cs = (
        labels.join(d, "doc_id")
        .groupBy("cluster_id", "source")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    w = Window.partitionBy("cluster_id").orderBy(F.desc("n"), "source")
    top = (
        per_cs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "cluster_id",
            F.col("source").alias("majority_source"),
            F.col("n").alias("majority_n"),
        )
    )
    stats = per_cs.groupBy("cluster_id").agg(
        F.sum("n").cast("long").alias("n_members"),
        F.count(F.lit(1)).cast("long").alias("n_sources"),
    )
    return (
        stats.join(top, "cluster_id")
        .filter(F.col("n_members") >= 2)
        .select(
            "cluster_id",
            "n_members",
            "n_sources",
            "majority_source",
            rnd(
                F.col("majority_n").cast("double") / F.col("n_members"), 6
            ).alias("purity"),
            (F.col("n_sources") > 1).alias("is_cross_source"),
        )
    )


oracle(
    "docs_dedup_cluster_purity",
    ("dedup_doc_labels", "documents"),
    f"""WITH per_cs AS (
    SELECT l.cluster_id, d.source, CAST(COUNT(*) AS BIGINT) AS n
    FROM dedup_doc_labels l
    JOIN documents d ON l.doc_id = d.doc_id
    GROUP BY 1, 2
),
top AS (
    SELECT cluster_id, source AS majority_source, n AS majority_n
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY cluster_id ORDER BY n DESC, source
        ) AS rk FROM per_cs
    ) WHERE rk = 1
),
stats AS (
    SELECT cluster_id,
        CAST(SUM(n) AS BIGINT) AS n_members,
        CAST(COUNT(*) AS BIGINT) AS n_sources
    FROM per_cs GROUP BY 1
)
SELECT s.cluster_id, s.n_members, s.n_sources, t.majority_source,
    {rnd_sql('CAST(t.majority_n AS DOUBLE) / s.n_members', 6)} AS purity,
    (s.n_sources > 1) AS is_cross_source
FROM stats s
JOIN top t ON s.cluster_id = t.cluster_id
WHERE s.n_members >= 2""",
)


@model(
    "docs_quality_by_dup_status", layer="operators", materialization="view"
)
def docs_quality_by_dup_status(ctx):
    """Does near-duplication correlate with quality on THIS corpus? Two
    rows — documents inside a near-dup cluster (size >= 2) vs uniques —
    with counts and mean quality score / token count (exact-decimal
    means). If duplicated docs score LOWER, dedup doubles as a quality
    filter; if HIGHER, aggressive dedup is deleting good text and the
    survivor-election policy (docs_quality_survivors) matters more.

    Scale shape: rides the materialized component labels; one cluster-
    size aggregate + one corpus join + a 2-row rollup."""
    labels = ctx.ref("dedup_doc_labels").select("doc_id", "cluster_id")
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("csize")
    )
    flagged = labels.join(sizes, "cluster_id").select(
        "doc_id",
        F.when(F.col("csize") >= 2, F.lit("near_dup"))
        .otherwise(F.lit("unique"))
        .alias("dup_status"),
    )
    stats = ctx.ref("doc_text_stats").select(
        "doc_id", "quality_score", "n_tokens"
    )
    from dbt_tpch_spark.functions import dsum

    return (
        stats.join(flagged, "doc_id")
        .groupBy("dup_status")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            rnd(
                dsum(F.col("quality_score")) / F.count(F.lit(1)), 6
            ).alias("mean_quality"),
            rnd(
                dsum(F.col("n_tokens").cast("double")) / F.count(F.lit(1)),
                6,
            ).alias("mean_tokens"),
        )
    )


oracle(
    "docs_quality_by_dup_status",
    ("dedup_doc_labels", "doc_text_stats"),
    f"""WITH sizes AS (
    SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS csize
    FROM dedup_doc_labels GROUP BY 1
),
flagged AS (
    SELECT l.doc_id,
        CASE WHEN s.csize >= 2 THEN 'near_dup' ELSE 'unique' END
            AS dup_status
    FROM dedup_doc_labels l JOIN sizes s ON l.cluster_id = s.cluster_id
)
SELECT f.dup_status,
    CAST(COUNT(*) AS BIGINT) AS n_docs,
    {rnd_sql(f"{dsum_sql('t.quality_score')} / COUNT(*)", 6)} AS mean_quality,
    {rnd_sql(f"{dsum_sql('CAST(t.n_tokens AS DOUBLE)')} / COUNT(*)", 6)} AS mean_tokens
FROM doc_text_stats t
JOIN flagged f ON t.doc_id = f.doc_id
GROUP BY 1""",
)


@model("docs_crosslingual_dup_census", layer="operators", materialization="view")
def docs_crosslingual_dup_census(ctx):
    """Near-duplicate pairs by (language, language) cell: how much of the
    corpus's duplication is same-language boilerplate vs CROSS-language
    (the machine-translated-spam / parallel-crawl signal a multilingual
    pretraining pipeline triages before choosing per-language dedup
    thresholds). Pair languages are normalized to an unordered cell
    (least/greatest) so en-fr and fr-en land together.

    Scale shape: the pair set is dedup_minhash_lsh's verified output
    (pair-grain, already bounded by the LSH band structure); two equi
    joins tag each side's language from one documents projection, and
    the census is a bounded (lang, lang) rollup with a window-free share
    computed off a 1-row broadcast."""
    pairs = ctx.ref("dedup_minhash_lsh").select("doc_a", "doc_b")
    langs = ctx.source("documents").select("doc_id", "lang")
    la = langs.withColumnsRenamed({"doc_id": "doc_a", "lang": "lang_a"})
    lb = langs.withColumnsRenamed({"doc_id": "doc_b", "lang": "lang_b"})
    tagged = (
        pairs.join(la, "doc_a")
        .join(lb, "doc_b")
        .select(
            F.least("lang_a", "lang_b").alias("lang_lo"),
            F.greatest("lang_a", "lang_b").alias("lang_hi"),
        )
    )
    from dbt_tpch_spark.plans.audit import bounded_checkpoint

    # the census is <=|lang|^2 rows but feeds TWO consumers (rows + the
    # share denominator) — checkpoint so the LSH pipeline runs once
    census = bounded_checkpoint(
        tagged.groupBy("lang_lo", "lang_hi").agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs")
        ),
        eager=False,
    )
    total = census.agg(F.sum("n_pairs").cast("double").alias("t"))
    return (
        census.crossJoin(F.broadcast(total))
        .select(
            "lang_lo",
            "lang_hi",
            (F.col("lang_lo") == F.col("lang_hi")).alias("same_lang"),
            "n_pairs",
            rnd(F.col("n_pairs") / F.col("t"), 6).alias("share"),
        )
    )


oracle(
    "docs_crosslingual_dup_census",
    ("dedup_minhash_lsh", "documents"),
    """WITH tagged AS (
    SELECT least(da.lang, db.lang) AS lang_lo,
           greatest(da.lang, db.lang) AS lang_hi
    FROM dedup_minhash_lsh p
    JOIN documents da ON da.doc_id = p.doc_a
    JOIN documents db ON db.doc_id = p.doc_b
),
census AS (
    SELECT lang_lo, lang_hi, CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM tagged GROUP BY 1, 2
)
SELECT lang_lo, lang_hi,
       lang_lo = lang_hi AS same_lang,
       n_pairs,
       CAST(FLOOR((n_pairs / SUM(n_pairs) OVER ()) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0 AS share
FROM census""",
)
