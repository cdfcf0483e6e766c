"""Exact set-similarity joins — the *no-false-negative* complement of the
probabilistic dedup detectors in :mod:`dbt_tpch_spark.operators.dedup`.

Two classic algorithms from the record-linkage / similarity-join
literature, both re-expressed as shuffle-friendly DataFrame plans:

* ``dedup_ppjoin`` — AllPairs/PPJoin-style **prefix-filtered exact Jaccard
  join** (Bayardo et al., WWW'07; Xiao et al., WWW'08). Tokens are
  globally ordered rarest-first by document frequency; a document only
  emits its *prefix* (the first ``|T| - ceil(t*|T|) + 1`` tokens) into the
  candidate join. Any pair with Jaccard >= t must share at least one
  prefix token under this ordering, so the candidate set is complete —
  unlike MinHash-LSH there are no false negatives — while the
  rarest-first ordering keeps stopword-grade hot tokens out of prefixes
  (the skew guard LSH needs a valve for).
* ``dedup_sorted_neighborhood`` — the **sorted-neighborhood method**
  (Hernández & Stolfo, SIGMOD'95): sort by a domain key, compare each
  record only with its w nearest neighbors in sort order. Distributed
  here without a single-partition global sort via *halo exchange*: rows
  are range-bucketed by the key's first character (bounded domain), each
  bucket's first w rows are additionally copied into the preceding bucket
  as read-only "ghosts", and a per-bucket window then reproduces the
  GLOBAL sorted adjacency exactly — the oracle is the plain global
  ``lead()`` and the hash gate proves the halo construction equal to it.

Scale shapes: PPJoin shuffles on (rare) prefix tokens and verifies only
candidates with one array_intersect per pair; SNM is one bucketed sort +
a w-row halo per bucket boundary (halo volume = w x n_buckets, constant).

Reference parity: the reference engine ships no similarity joins; this is
extension surface mandated by the task (SURVEY §2.12-ext), sharing the
3-gram shingle feedstock and threshold with the LSH detector so the
detectors are directly comparable (see dedup_method_agreement).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dbt_tpch_spark.functions import barrier, davg, isum, rnd
from dbt_tpch_spark.models.oracle import (
    davg_sql,
    dsum_sql,
    isum_sql,
    oracle,
    rnd_sql,
)
from dbt_tpch_spark.operators.dedup import (
    _NORM_TEXT_DUCK,
    _SHINGLE3_DUCK,
    _shingle3_set_df,
    JACCARD_THRESHOLD,
    norm_text_col,
    shingle_col,
    tokens_df,
)
from dbt_tpch_spark.plans import model

# --------------------------------------------------------------------------
# PPJoin: prefix-filtered exact Jaccard self-join
# --------------------------------------------------------------------------

#: Jaccard threshold t (shared with the LSH detector so outputs compare).
PPJOIN_THRESHOLD = JACCARD_THRESHOLD


def _pair_jaccard_cols():
    """(intersection, union, jaccard) from two shingle-array columns —
    engine-portable arithmetic: |A∩B| = |A| + |B| - |A∪B| with the union
    via distinct-concat, so both engines count the same multiset-free
    sizes. 0/0 (two shingle-less docs) is NULL-guarded on both sides."""
    inter = (
        F.size("words_a") + F.size("words_b")
        - F.size(F.array_distinct(F.concat("words_a", "words_b")))
    ).cast("long")
    union = (F.size("words_a") + F.size("words_b")).cast("long") - inter
    jac = inter.cast("double") / F.nullif(union, F.lit(0))
    return inter, union, jac


_PAIR_JACCARD_DUCK = {
    "inter": (
        "CAST(len(wa) + len(wb) - len(list_distinct(list_concat(wa, wb))) AS BIGINT)"
    ),
    "union": (
        "CAST(len(wa) AS BIGINT) + CAST(len(wb) AS BIGINT) "
        "- CAST(len(wa) + len(wb) - len(list_distinct(list_concat(wa, wb))) AS BIGINT)"
    ),
}
_PAIR_JACCARD_DUCK["jac"] = (
    f"CAST({_PAIR_JACCARD_DUCK['inter']} AS DOUBLE) "
    f"/ NULLIF({_PAIR_JACCARD_DUCK['union']}, 0)"
)


@model("dedup_ppjoin", layer="operators", materialization="view")
def dedup_ppjoin(ctx):
    """Exact Jaccard >= t self-join over 3-gram shingle sets via prefix
    filtering. Candidate completeness: order every document's shingles by
    (global df ASC, shingle ASC) and emit only the first
    ``sz - ceil(t*sz) + 1`` as prefix tokens; a pair missing ALL of one
    side's prefix can share at most ``ceil(t*sz) - 1 < t*sz`` tokens with
    it, so every true pair survives candidate generation. Verification is
    one JVM-side array intersection per candidate — no re-join on tokens.

    Scale: the candidate shuffle keys are the *rarest* tokens per doc, so
    bucket sizes stay small even with stopword-grade hot shingles; output
    equals the full exact similarity join (superset of the LSH detector's
    verified pairs — asserted in tests)."""
    t = PPJOIN_THRESHOLD
    # explode the shingle EXPRESSION directly over the token barrier, not
    # the projected `words` alias: exploding a projected array makes
    # InferFiltersFromGenerate push a size(<full shingle CASE>)>0 filter
    # below the projection, re-running the whole normalize+shingle
    # pipeline on raw text per row (measured 10.2 s vs 0.8 s at sf0.1).
    # The token frame itself is materialized once (round-11): sh feeds
    # BOTH the document-frequency census and the rank join, and each
    # consumer re-ran the regex normalize + split over the raw corpus —
    # the pipeline's measured-expensive step (see tokens_df).
    toks_b = barrier(tokens_df(ctx))
    sh = toks_b.select(
        "doc_id", F.explode(shingle_col(3)).alias("shingle")
    )
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    w_doc = Window.partitionBy("doc_id").orderBy("df", "shingle")
    ranked = (
        sh.join(dfreq, "shingle")
        .withColumn("rk", F.row_number().over(w_doc))
        .withColumn("sz", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
    )
    # 1e-9 slack mirrors the alpha/length filters: a 1-ulp float
    # OVERestimate of t*sz would raise the ceil and silently shorten the
    # prefix — reintroducing false negatives into an exact operator; the
    # slack can only lengthen it (a strictly safe superset of candidates)
    prefix_len = F.col("sz") - F.ceil(F.lit(t) * F.col("sz") - F.lit(1e-9)) + 1
    # the prefix index is the standing artifact of this operator (~half the
    # token postings); materialize it once — the candidate self-join
    # references it twice and would otherwise run the df-join + rank
    # window pipeline twice
    pref = (
        ranked.filter(F.col("rk") <= prefix_len)
        .select("doc_id", "shingle", "rk", "sz")
        .transform(barrier)
    )
    a = pref.withColumnsRenamed({"doc_id": "doc_a", "rk": "rk_a", "sz": "sz_a"})
    b = pref.withColumnsRenamed({"doc_id": "doc_b", "rk": "rk_b", "sz": "sz_b"})
    # PPJoin's candidate pruning on top of the prefix filter — both only
    # discard pairs that PROVABLY cannot reach t, so exactness holds:
    # * length filter: J(x,y) >= t forces t*|x| <= |y| (and symmetric);
    # * positional filter: overlap needed is alpha = ceil(t/(1+t)(|x|+|y|));
    #   a shared prefix token at positions (p, q) bounds the achievable
    #   overlap by 1 + min(|x|-p, |y|-q).
    # the -1e-9 slack makes a 1-ulp overestimate of the float bound unable
    # to discard a pair that meets it exactly (weaker filter = still exact)
    alpha = F.ceil(
        F.lit(t / (1.0 + t)) * (F.col("sz_a") + F.col("sz_b")) - F.lit(1e-9)
    )
    ubound = F.lit(1) + F.least(
        F.col("sz_a") - F.col("rk_a"), F.col("sz_b") - F.col("rk_b")
    )
    cands = (
        a.join(b, "shingle")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.col("sz_b") >= F.lit(t) * F.col("sz_a") - F.lit(1e-9))
            & (F.col("sz_a") >= F.lit(t) * F.col("sz_b") - F.lit(1e-9))
            & (ubound >= alpha)
        )
        .select("doc_a", "doc_b")
        .distinct()
        # Round-12 (VERDICT r11 #1, guide §2.2/§5): cands is deliberately
        # NOT checkpointed. The round-11 eager barrier here serialized the
        # verify stage behind candidate generation and regressed the
        # in-suite wall ~+18% (6.48 -> 7.63 s); keeping the pair join lazy
        # under the `scored` barrier lets its stages overlap the verify
        # side again. The prefix frame feeding it is still the eager
        # `pref` checkpoint above, so the expensive window pipeline runs
        # once either way. In-suite A/B on a 0.03%-steal window
        # (bench_runs_r12/): base (r11 pre-barrier) 6.48 s, both-barriers
        # 7.63 s, THIS form 5.45 s; isolated interleave agrees (min 9.76
        # vs 11.07 s). The pair list is tiny, so the duplicated subtree
        # its two consumers share is cheap at bench scale (the 10x probe
        # priced the duplication at +33-64% CPU there — the documented
        # trade; see the rejected alternative below).
    )
    # shingle ONLY candidate partners for the verify (round-11): the old
    # plan re-shingled the ENTIRE corpus twice (once per join side) for a
    # candidate set touching a handful of docs — the same semi-join
    # restriction incremental_dedup_batch uses.
    # Round-12: tried and REVERTED — deriving the partner set from `pref`
    # alone (docs holding a prefix shingle with >=2 prefix postings — a
    # provable superset of the docs in `cands`, so semantically free)
    # would make `cands` single-consumer and delete the 10x pair-join
    # recompute, but it measured SLOWER in-suite at sf0.1: ppjoin
    # 5.04 -> 6.37 s min-of-legs (+2 s exec-CPU; bench_runs_r12/
    # head_c_x* vs head_f_*, steal <=0.18%). The superset is ~the whole
    # corpus here (5000/5000 docs vs 4801 exact), so the "restriction"
    # re-shingles everything anyway while its aggregate + semi-join +
    # distinct land on the critical path; the recomputed pair join it
    # saves is cheaper than that at any SF where near-dup partners are
    # dense. The isolated profile had predicted the opposite (bench_total
    # 12.67 -> 10.51 s) — in-suite adjudication per VERDICT r11 #7.
    cand_ids = (
        cands.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cands.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # derive the verify shingle sets from the ALREADY-MATERIALIZED token
    # frame instead of shingle_sets(source(...)) — the latter re-scanned
    # the raw parquet and re-ran the regex normalize per partner, the one
    # expensive step toks_b exists to amortize (measured -8% query wall,
    # identical rows; shingle_col over the checkpointed `toks` attribute
    # is exactly shingle_sets' words definition)
    sets = toks_b.join(cand_ids, "doc_id", "leftsemi").select(
        "doc_id", shingle_col(3).alias("words")
    )
    ta = sets.select(F.col("doc_id").alias("doc_a"), F.col("words").alias("words_a"))
    tb = sets.select(F.col("doc_id").alias("doc_b"), F.col("words").alias("words_b"))
    # evaluate the expensive |A∪B| distinct-concat ONCE per candidate into
    # a materialized integer frame — referencing it from the
    # inter/union/jaccard projections and the threshold filter would
    # otherwise inline (and re-run) the array expression 4-5x per pair
    scored = (
        cands.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size("words_a").cast("long").alias("sa"),
            F.size("words_b").cast("long").alias("sb"),
            F.size(F.array_distinct(F.concat("words_a", "words_b")))
            .cast("long")
            .alias("udist"),
        )
        # the one barrier kept (round-12 variant study: dropping THIS one
        # costs +3-6 s — the downstream projection+filter would re-run the
        # whole verify join): inter/union/jaccard and the threshold filter
        # all read these three integers per pair
        .transform(barrier)
    )
    inter = F.col("sa") + F.col("sb") - F.col("udist")
    jac = inter.cast("double") / F.nullif(F.col("udist"), F.lit(0))
    return (
        scored.select(
            "doc_a",
            "doc_b",
            inter.alias("intersection_size"),
            F.col("udist").alias("union_size"),
            rnd(jac, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= PPJOIN_THRESHOLD)
    )


# The oracle is DELIBERATELY the brute-force exact similarity join (full
# shared-shingle pairing, no prefix/positional/length pruning): the Spark
# side's entire filter stack is an optimization whose output must equal
# the unpruned join, so the hash gate IS the no-false-negative proof.
oracle(
    "dedup_ppjoin",
    ("documents",),
    f"""WITH sets AS (
    SELECT doc_id, {_SHINGLE3_DUCK} AS words FROM documents
),
sh AS (
    SELECT doc_id, UNNEST(words) AS shingle FROM sets
),
cands AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
),
scored AS (
    SELECT c.doc_a, c.doc_b, ta.words AS wa, tb.words AS wb
    FROM cands c
    JOIN sets ta ON c.doc_a = ta.doc_id
    JOIN sets tb ON c.doc_b = tb.doc_id
)
SELECT
    doc_a,
    doc_b,
    {_PAIR_JACCARD_DUCK['inter']} AS intersection_size,
    {_PAIR_JACCARD_DUCK['union']} AS union_size,
    {rnd_sql(_PAIR_JACCARD_DUCK['jac'], 6)} AS jaccard
FROM scored
WHERE {rnd_sql(_PAIR_JACCARD_DUCK['jac'], 6)} >= {PPJOIN_THRESHOLD}""",
)


# --------------------------------------------------------------------------
# sorted-neighborhood method with halo exchange
# --------------------------------------------------------------------------

#: neighborhood width: each row is compared with the next W rows in global
#: (sort_key, doc_id) order.
SNM_WINDOW = 2

#: sort-key length — enough normalized-text prefix that near-duplicates
#: collate adjacently, short enough that the key is cheap to carry.
SNM_KEY_LEN = 24


def _snm_adjacency(d, carry_cols=()):
    """Shared halo-exchange machinery for sorted-neighborhood models:
    given ``d`` with columns (doc_id, skey) plus ``carry_cols``, return
    the W-adjacency pair frame (doc_a, doc_b, gap, <c>_a, <c>_b …) that
    exactly reproduces a global ``lead()`` over (skey, doc_id) order —
    the construction both dedup_sorted_neighborhood and
    dedup_editdist_pairs verify against their oracles' plain global
    windows.

    Rows range-bucket by the key's first character (bounded domain, a
    pure function of the key so ties never straddle buckets); each
    bucket's first W rows are also copied into every *preceding* bucket
    as ghost rows (their keys sort strictly after every native key
    there, and ghost groups from successive buckets collate in bucket
    order), so a per-bucket ``lead()`` sees past the boundary exactly
    the first W rows of the global suffix — even when intervening
    buckets hold fewer than W rows. Ghosts serve only as lead targets —
    they emit no pairs. Halo volume is <= W x n_buckets^2 rows —
    constant, independent of SF. The heads frame is checkpointed so the
    corpus window that extracts it runs once (it feeds the ghosts AND
    the bucket map)."""
    d = d.withColumn("bucket", F.substring("skey", 1, 1))
    w_b = Window.partitionBy("bucket").orderBy("skey", "doc_id")
    heads = (
        d.withColumn("_rn", F.row_number().over(w_b))
        .filter(F.col("_rn") <= SNM_WINDOW)
        .drop("_rn")
        .transform(barrier)
    )
    buckets = heads.select("bucket").distinct()
    pred_map = buckets.withColumnRenamed("bucket", "from_bucket").join(
        buckets.withColumnRenamed("bucket", "to_bucket"),
        F.col("from_bucket") > F.col("to_bucket"),
    )
    ghosts = heads.join(
        F.broadcast(pred_map), heads["bucket"] == F.col("from_bucket")
    ).select(
        "doc_id",
        "skey",
        *carry_cols,
        F.col("to_bucket").alias("bucket"),
        F.lit(1).alias("is_ghost"),
    )
    frame = d.select(
        "doc_id", "skey", *carry_cols, "bucket", F.lit(0).alias("is_ghost")
    ).unionByName(ghosts)
    w_adj = Window.partitionBy("bucket").orderBy("skey", "doc_id")
    leads = [
        F.lead("doc_id", k).over(w_adj).alias(f"_d{k}")
        for k in range(1, SNM_WINDOW + 1)
    ]
    for c in carry_cols:
        leads += [
            F.lead(c, k).over(w_adj).alias(f"_{c}{k}")
            for k in range(1, SNM_WINDOW + 1)
        ]
    adj = frame.select(
        "doc_id", *carry_cols, "is_ghost", *leads
    ).filter(F.col("is_ghost") == 0)
    pairs = None
    for k in range(1, SNM_WINDOW + 1):
        p = adj.filter(F.col(f"_d{k}").isNotNull()).select(
            F.col("doc_id").alias("doc_a"),
            F.col(f"_d{k}").alias("doc_b"),
            F.lit(k).alias("gap"),
            *[F.col(c).alias(f"{c}_a") for c in carry_cols],
            *[F.col(f"_{c}{k}").alias(f"{c}_b") for c in carry_cols],
        )
        pairs = p if pairs is None else pairs.unionByName(p)
    return pairs


@model("dedup_sorted_neighborhood", layer="operators", materialization="view")
def dedup_sorted_neighborhood(ctx):
    """Sorted-neighborhood dedup: global sort by a 24-char normalized-text
    key, compare each doc with its next ``SNM_WINDOW`` neighbors, keep
    pairs with shingle-Jaccard >= threshold.

    The global sorted adjacency is computed WITHOUT a single-partition
    window: rows range-bucket by the key's first character (bounded
    domain, pure function of the key so ties never straddle buckets);
    each bucket's first W rows are also copied into every *preceding*
    bucket as ghost rows (their keys sort strictly after every native
    key there, because their first character is strictly larger, and
    ghost groups from successive buckets collate in bucket order), so a
    per-bucket ``lead()`` sees past the boundary exactly the first W
    rows of the global suffix — even when intervening buckets hold
    fewer than W rows. Ghosts serve only as lead targets — they emit
    no pairs themselves. Halo volume is <= W x n_buckets^2 rows —
    constant, independent of SF. The oracle runs the plain global
    ``lead()``; the hash gate is the equality proof of the halo
    construction.

    Scale: one shuffle to bucket, per-bucket parallel sort, halo volume
    W rows per boundary — constant; versus LSH this trades recall for a
    bound (only sort-adjacent pairs are found) but costs no token join
    at all — the classic cheap first pass of a multi-pass dedup."""
    sets = _shingle3_set_df(ctx)
    # the sort/halo machinery moves ONLY (doc_id, skey) — the shingle
    # arrays join in at the end against the pair list, never riding
    # through the sort exchange or the lead() frames
    d = ctx.source("documents").select(
        "doc_id", F.substring(norm_text_col(), 1, SNM_KEY_LEN).alias("skey")
    )
    pairs = _snm_adjacency(d)
    ta = sets.select(F.col("doc_id").alias("doc_a"), F.col("words").alias("words_a"))
    tb = sets.select(F.col("doc_id").alias("doc_b"), F.col("words").alias("words_b"))
    inter, union, jac = _pair_jaccard_cols()
    return (
        pairs.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "gap",
            inter.alias("intersection_size"),
            rnd(jac, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= PPJOIN_THRESHOLD)
    )


oracle(
    "dedup_sorted_neighborhood",
    ("documents",),
    f"""WITH sets AS (
    SELECT doc_id,
        substr({_NORM_TEXT_DUCK}, 1, {SNM_KEY_LEN}) AS skey,
        {_SHINGLE3_DUCK} AS words
    FROM documents
),
ord AS (
    SELECT doc_id, words,
        {', '.join(f'lead(doc_id, {k}) OVER w AS d{k}, lead(words, {k}) OVER w AS w{k}' for k in range(1, SNM_WINDOW + 1))}
    FROM sets
    WINDOW w AS (ORDER BY skey, doc_id)
),
pairs AS (
    {' UNION ALL '.join(f'''SELECT doc_id AS doc_a, d{k} AS doc_b, {k} AS gap,
        words AS wa, w{k} AS wb FROM ord WHERE d{k} IS NOT NULL''' for k in range(1, SNM_WINDOW + 1))}
)
SELECT
    doc_a,
    doc_b,
    gap,
    {_PAIR_JACCARD_DUCK['inter']} AS intersection_size,
    {rnd_sql(_PAIR_JACCARD_DUCK['jac'], 6)} AS jaccard
FROM pairs
WHERE {rnd_sql(_PAIR_JACCARD_DUCK['jac'], 6)} >= {PPJOIN_THRESHOLD}""",
)


# --------------------------------------------------------------------------
# edit-distance record linkage over the SNM neighborhood
# --------------------------------------------------------------------------

#: prefix length scored by edit distance (longer than the sort key so the
#: score sees text the collation key truncated away)
EDIT_PREFIX_LEN = 80

#: normalized-similarity threshold: 1 - dist/max(len) >= this keeps a pair
EDIT_SIM_MIN = 0.8


@model("dedup_editdist_pairs", layer="operators", materialization="view")
def dedup_editdist_pairs(ctx):
    """Edit-distance record linkage: the classic fuzzy-matching verifier
    (Levenshtein over normalized text prefixes) run ONLY on the sorted-
    neighborhood candidate pairs — the sort supplies locality, the DP
    distance supplies the score, and the quadratic explosion never
    happens because candidates are the W-adjacency, not all pairs.
    Token-set Jaccard (the other verifiers) is order-blind; edit
    distance catches in-place edits/transpositions it misses.

    Both engines compute byte-identical Levenshtein (standard DP), so
    the scores — not just the pair set — pass the hash gate."""
    d = ctx.source("documents").select(
        "doc_id",
        F.substring(norm_text_col(), 1, SNM_KEY_LEN).alias("skey"),
        F.substring(norm_text_col(), 1, EDIT_PREFIX_LEN).alias("etext"),
    )
    pairs = _snm_adjacency(d, ("etext",)).withColumnsRenamed(
        {"etext_a": "text_a", "etext_b": "text_b"}
    )
    dist = F.levenshtein("text_a", "text_b")
    maxlen = F.greatest(F.length("text_a"), F.length("text_b"))
    sim = F.lit(1.0) - dist.cast("double") / F.nullif(maxlen, F.lit(0))
    return (
        pairs.select(
            "doc_a",
            "doc_b",
            dist.cast("long").alias("edit_distance"),
            rnd(sim, 6).alias("edit_similarity"),
        )
        .filter(F.col("edit_similarity") >= EDIT_SIM_MIN)
    )


oracle(
    "dedup_editdist_pairs",
    ("documents",),
    f"""WITH keyed AS (
    SELECT doc_id,
        substr({_NORM_TEXT_DUCK}, 1, {SNM_KEY_LEN}) AS skey,
        substr({_NORM_TEXT_DUCK}, 1, {EDIT_PREFIX_LEN}) AS etext
    FROM documents
),
ord AS (
    SELECT doc_id, etext,
        {', '.join(f'lead(doc_id, {k}) OVER w AS d{k}, lead(etext, {k}) OVER w AS e{k}' for k in range(1, SNM_WINDOW + 1))}
    FROM keyed
    WINDOW w AS (ORDER BY skey, doc_id)
),
pairs AS (
    {' UNION ALL '.join(f'''SELECT doc_id AS doc_a, d{k} AS doc_b,
        etext AS text_a, e{k} AS text_b FROM ord WHERE d{k} IS NOT NULL''' for k in range(1, SNM_WINDOW + 1))}
)
SELECT
    doc_a,
    doc_b,
    CAST(levenshtein(text_a, text_b) AS BIGINT) AS edit_distance,
    {rnd_sql('1.0 - CAST(levenshtein(text_a, text_b) AS DOUBLE) / NULLIF(GREATEST(length(text_a), length(text_b)), 0)', 6)} AS edit_similarity
FROM pairs
WHERE {rnd_sql('1.0 - CAST(levenshtein(text_a, text_b) AS DOUBLE) / NULLIF(GREATEST(length(text_a), length(text_b)), 0)', 6)} >= {EDIT_SIM_MIN}""",
)


# --------------------------------------------------------------------------
# Fellegi-Sunter probabilistic record-linkage scoring
# --------------------------------------------------------------------------

#: assumed per-field agreement probability among TRUE matches (the
#: Fellegi-Sunter m-probability; fixed priors — the EM-fitted variant
#: would estimate these, but fixed m with data-derived u is the standard
#: deterministic deployment and keeps both engines bit-identical)
FS_M = {"nation": 0.95, "segment": 0.90, "band": 0.85}

#: acctbal band width for the balance-agreement field
FS_BAND_WIDTH = 1000.0


@model("customers_linkage_scores", layer="operators", materialization="view")
def customers_linkage_scores(ctx):
    """Fellegi-Sunter probabilistic record linkage (Fellegi & Sunter,
    JASA 1969) over sorted-neighborhood candidate pairs of customers:
    each candidate pair gets a log-likelihood-ratio match score summed
    over field comparisons (nation, market segment, balance band), where
    each field contributes ln(m/u) on agreement and ln((1-m)/(1-u)) on
    disagreement.

    The u-probabilities (chance agreement between two RANDOM records) are
    estimated exactly from the data as sum(p_v^2) over each field's value
    frequencies — the textbook frequency-based u — so rare-value
    agreement earns a larger weight without any training data. The
    m-probabilities are fixed priors (FS_M).

    Candidates come from the shared sorted-neighborhood halo machinery
    (_snm_adjacency) over the composite key nation||balance-cents, so the
    pair count is W x n_customers (never quadratic) and the global sorted
    adjacency is exact at any scale. Every per-field u is a bounded
    aggregation (<= |values| rows) that rides 1-row broadcasts into the
    pair frame."""
    from dbt_tpch_spark.functions import dsum

    c = ctx.source("customer")
    # order-preserving fixed-width sort key: nation then balance cents
    # (offset keeps it non-negative; floor(x+0.5) is the engine-portable
    # half-up used by money())
    balcents = F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long")
    d = c.select(
        F.col("c_custkey").alias("doc_id"),
        F.concat(
            F.lpad(F.col("c_nationkey").cast("string"), 2, "0"),
            F.lpad((balcents + F.lit(100000)).cast("string"), 7, "0"),
        ).alias("skey"),
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.floor(F.col("c_acctbal") / F.lit(FS_BAND_WIDTH)).cast("long").alias("band"),
    )
    pairs = _snm_adjacency(d, ("nation", "segment", "band"))
    n_tot = d.count()  # ONE count over the customer scan, shared by all u's

    def _u(field):
        per_v = d.groupBy(field).agg(F.count(F.lit(1)).alias("n"))
        p = F.col("n") / F.lit(float(n_tot))
        return per_v.agg(
            dsum(rnd(p * p, 12)).alias(f"u_{field}")
        )
    # 1-row frame; a bounded barrier keeps its SF-independence visible to
    # the pair-stage invariant after the checkpoint erases provenance
    u = barrier(
        _u("nation").crossJoin(_u("segment")).crossJoin(_u("band")),
        bounded=True,
    )

    def _w(field):
        m = F.lit(FS_M[field])
        uf = F.col(f"u_{field}")
        agree = F.col(f"{field}_a") == F.col(f"{field}_b")
        return F.when(agree, F.log(m / uf)).otherwise(
            F.log((F.lit(1.0) - m) / (F.lit(1.0) - uf))
        )
    score = rnd(
        rnd(_w("nation"), 9) + rnd(_w("segment"), 9) + rnd(_w("band"), 9), 6
    )
    return pairs.crossJoin(F.broadcast(u)).select(
        F.col("doc_a").alias("customer_a"),
        F.col("doc_b").alias("customer_b"),
        "gap",
        (F.col("nation_a") == F.col("nation_b")).alias("nation_agree"),
        (F.col("segment_a") == F.col("segment_b")).alias("segment_agree"),
        (F.col("band_a") == F.col("band_b")).alias("band_agree"),
        score.alias("fs_score"),
        (score >= 0).alias("is_candidate_match"),
    )


def _fs_u_sql(field: str, col: str) -> str:
    return f"""u_{field} AS (
    SELECT {dsum_sql(rnd_sql(f'(CAST(n AS DOUBLE) / t.total) * (CAST(n AS DOUBLE) / t.total)', 12))} AS u_{field}
    FROM (SELECT {col} AS v, COUNT(*) AS n FROM keyed GROUP BY 1)
    CROSS JOIN (SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM keyed) t
)"""


def _fs_w_sql(field: str) -> str:
    m = FS_M[field]
    return (
        f"CASE WHEN {field}_a = {field}_b THEN LN({m} / u_{field}) "
        f"ELSE LN({1.0 - m} / (1.0 - u_{field})) END"
    )


_FS_SCORE_SQL = rnd_sql(
    " + ".join(rnd_sql(_fs_w_sql(f), 9) for f in ("nation", "segment", "band")),
    6,
)

oracle(
    "customers_linkage_scores",
    ("customer",),
    f"""WITH keyed AS (
    SELECT
        c_custkey AS doc_id,
        lpad(CAST(c_nationkey AS VARCHAR), 2, '0')
            || lpad(CAST(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) + 100000 AS VARCHAR), 7, '0')
            AS skey,
        c_nationkey AS nation,
        c_mktsegment AS segment,
        CAST(floor(c_acctbal / {FS_BAND_WIDTH}) AS BIGINT) AS band
    FROM customer
),
{_fs_u_sql('nation', 'nation')},
{_fs_u_sql('segment', 'segment')},
{_fs_u_sql('band', 'band')},
ord AS (
    SELECT doc_id, nation, segment, band,
        {', '.join(
            f'lead(doc_id, {k}) OVER w AS d{k}, '
            f'lead(nation, {k}) OVER w AS n{k}, '
            f'lead(segment, {k}) OVER w AS s{k}, '
            f'lead(band, {k}) OVER w AS b{k}'
            for k in range(1, SNM_WINDOW + 1)
        )}
    FROM keyed
    WINDOW w AS (ORDER BY skey, doc_id)
),
pairs AS (
    {' UNION ALL '.join(
        f'''SELECT doc_id AS doc_a, d{k} AS doc_b, {k} AS gap,
        nation AS nation_a, n{k} AS nation_b,
        segment AS segment_a, s{k} AS segment_b,
        band AS band_a, b{k} AS band_b
    FROM ord WHERE d{k} IS NOT NULL'''
        for k in range(1, SNM_WINDOW + 1)
    )}
)
SELECT
    doc_a AS customer_a,
    doc_b AS customer_b,
    gap,
    nation_a = nation_b AS nation_agree,
    segment_a = segment_b AS segment_agree,
    band_a = band_b AS band_agree,
    {_FS_SCORE_SQL} AS fs_score,
    {_FS_SCORE_SQL} >= 0 AS is_candidate_match
FROM pairs
CROSS JOIN u_nation CROSS JOIN u_segment CROSS JOIN u_band""",
)


# --------------------------------------------------------------------------
# entity resolution: connected components over linkage matches
# --------------------------------------------------------------------------

#: propagation-round ceiling (>> any realistic match-component diameter;
#: the loop exits early at the fixpoint)
ER_MAX_ROUNDS = 16


@model("customers_entity_clusters", layer="operators", materialization="view")
def customers_entity_clusters(ctx):
    """Entity resolution on top of the Fellegi-Sunter scores: customers
    joined by any positive-score candidate pair collapse into one entity
    (connected components via min-label propagation, the
    dedup_doc_labels machinery applied to the customer graph). One row
    per customer with its canonical entity id (component-min customer
    key), the entity's size, and a singleton flag — the duplicate-party
    ledger a master-data pipeline materializes.

    Scale: propagation runs only over customers that appear in a match
    pair (the W x N sorted-neighborhood candidates filtered to positive
    scores — far smaller than the corpus); the per-round join is edge
    co-partitioned with node-grain state, and the corpus-wide frame is
    one left join + coalesce at the end. Unlike the dense near-dup
    components of dedup_doc_labels, SNM match graphs are CHAINS (sorted
    adjacency), so plain min-label propagation would need diameter
    rounds — every round here therefore also POINTER-JUMPS
    (l(v) := l(l(v)), the path-halving of parallel connected-components
    algorithms), making convergence O(log diameter): 16 rounds cover a
    diameter of 2^16. The oracle computes the true transitive closure
    with WITH RECURSIVE; the early-exit fixpoint must match it exactly —
    the hash gate proves convergence."""
    matches = (
        ctx.ref("customers_linkage_scores")
        .filter(F.col("is_candidate_match"))
        .select(F.col("customer_a").alias("a"), F.col("customer_b").alias("b"))
    )
    n_part = int(ctx.spark.conf.get("spark.sql.shuffle.partitions", "32"))
    edges = (
        matches.union(
            matches.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        .distinct()
        .repartition(n_part, "b")
        .cache()
    )
    edges.count()
    labels = (
        edges.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("entity_id", F.col("node"))
        .transform(barrier)
    )
    for _ in range(ER_MAX_ROUNDS):
        nbr_min = (
            edges.join(labels, edges.b == labels.node)
            .groupBy("a")
            .agg(F.min("entity_id").alias("nbr_min"))
        )
        prop = labels.join(nbr_min, labels.node == nbr_min.a, "left").select(
            "node",
            F.least(
                F.col("entity_id"),
                F.coalesce(F.col("nbr_min"), F.col("entity_id")),
            ).alias("entity_id"),
        )
        # pointer-jump (path-halving): follow the label one hop — labels
        # are themselves node ids, so l(l(v)) is defined for every node
        parent = prop.select(
            F.col("node").alias("p_node"), F.col("entity_id").alias("p_ent")
        )
        new_labels = (
            prop.join(parent, prop.entity_id == parent.p_node, "left")
            .select(
                "node",
                F.coalesce(F.col("p_ent"), F.col("entity_id")).alias(
                    "entity_id"
                ),
            )
            .transform(barrier)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.entity_id") != F.col("o.entity_id"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    # every round's labels are materialized — the edge cache has no
    # consumer left
    edges.unpersist()
    c = ctx.source("customer").select(F.col("c_custkey").alias("customer_key"))
    full = c.join(labels, c.customer_key == labels.node, "left").select(
        "customer_key",
        F.coalesce(F.col("entity_id"), F.col("customer_key")).alias("entity_id"),
    )
    sizes = full.groupBy("entity_id").agg(
        F.count(F.lit(1)).cast("long").alias("entity_size")
    )
    return full.join(sizes, "entity_id").select(
        "customer_key",
        "entity_id",
        "entity_size",
        (F.col("entity_size") == 1).alias("is_singleton"),
    )


oracle(
    "customers_entity_clusters",
    ("customers_linkage_scores", "customer"),
    """WITH RECURSIVE matches AS (
    SELECT customer_a AS a, customer_b AS b
    FROM customers_linkage_scores WHERE is_candidate_match
),
edges AS (
    SELECT a, b FROM matches
    UNION
    SELECT b, a FROM matches
),
nodes AS (
    SELECT DISTINCT a AS node FROM edges
),
reach(src, dst) AS (
    SELECT node, node FROM nodes
    UNION
    SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
),
labels AS (
    SELECT src AS node, MIN(dst) AS entity_id FROM reach GROUP BY 1
),
full_frame AS (
    SELECT c.c_custkey AS customer_key,
           COALESCE(l.entity_id, c.c_custkey) AS entity_id
    FROM customer c LEFT JOIN labels l ON c.c_custkey = l.node
),
sizes AS (
    SELECT entity_id, CAST(COUNT(*) AS BIGINT) AS entity_size
    FROM full_frame GROUP BY 1
)
SELECT f.customer_key, f.entity_id, s.entity_size,
       s.entity_size = 1 AS is_singleton
FROM full_frame f JOIN sizes s USING (entity_id)""",
)


# --------------------------------------------------------------------------
# LSH recall report: banded candidates vs the exact join, as a query
# --------------------------------------------------------------------------


@model("dedup_lsh_recall_report", layer="operators", materialization="view")
def dedup_lsh_recall_report(ctx):
    """Measured recall of the production MinHash-LSH detector against the
    exact PPJoin ground truth at the same Jaccard threshold — the
    companion number to lsh_band_collision_stats' cost curve: that query
    prices each (bands, rows) config, this one reports what the deployed
    config actually catches. Precision is 1 by construction (LSH verifies
    candidates with exact Jaccard), so the one row here is the complete
    quality contract of the banded path: exact pairs, LSH pairs, misses,
    recall, and the mean Jaccard of the missed pairs (banding misses
    low-similarity pairs first — a mean miss similarity near the
    threshold is the expected, benign failure mode).

    Scale: both inputs are pair-grain model outputs (already sublinear);
    the report is one left join + scalar rollup."""
    exact = ctx.ref("dedup_ppjoin").select("doc_a", "doc_b", "jaccard")
    lsh = ctx.ref("dedup_minhash_lsh").select(
        "doc_a", "doc_b", F.lit(1).alias("in_lsh")
    )
    j = exact.join(lsh, ["doc_a", "doc_b"], "left")
    missed_jac = F.when(F.col("in_lsh").isNull(), F.col("jaccard"))
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_exact_pairs"),
        F.count("in_lsh").cast("long").alias("n_lsh_pairs"),
        isum(
            F.when(F.col("in_lsh").isNull(), F.lit(1)).otherwise(F.lit(0))
        ).alias("n_missed"),
        rnd(
            F.count("in_lsh").cast("double") / F.count(F.lit(1)), 6
        ).alias("recall"),
        rnd(davg(missed_jac), 6).alias("mean_missed_jaccard"),
    )


oracle(
    "dedup_lsh_recall_report",
    ("dedup_ppjoin", "dedup_minhash_lsh"),
    f"""WITH j AS (
    SELECT e.jaccard, l.doc_a AS hit
    FROM dedup_ppjoin e
    LEFT JOIN dedup_minhash_lsh l
      ON e.doc_a = l.doc_a AND e.doc_b = l.doc_b
)
SELECT
    CAST(COUNT(*) AS BIGINT) AS n_exact_pairs,
    CAST(COUNT(hit) AS BIGINT) AS n_lsh_pairs,
    {isum_sql('CASE WHEN hit IS NULL THEN 1 ELSE 0 END')} AS n_missed,
    {rnd_sql('CAST(COUNT(hit) AS DOUBLE) / COUNT(*)', 6)} AS recall,
    {rnd_sql(davg_sql('CASE WHEN hit IS NULL THEN jaccard END'), 6)} AS mean_missed_jaccard
FROM j""",
)
