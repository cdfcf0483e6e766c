"""Lexical retrieval over the ``documents`` table: per-document TF-IDF
top terms and BM25 ranked search for a fixed query set.

Extension surface (the reference — DataRecce/dbt-tpch — has no text
retrieval; SURVEY §2.9 notes its string processing stops at md5 surrogate
keys): a training-data pipeline needs corpus-level term statistics both for
quality filtering (boilerplate detection via top-term skew) and for
retrieval-based decontamination ("find training docs that match eval-set
queries" — the standard BM25 decontam pass).

Scale shape (the 100 TB story):

- one explode pass over the corpus -> groupBy (doc_id, term): map-side
  partial aggregation absorbs the within-doc repeats before the shuffle;
- document length comes from a window over the aggregated (doc, term)
  rows — NOT a second pass over raw tokens;
- the document-frequency table (one row per distinct term) and the query
  term list are broadcast: vocabulary grows ~log(corpus), never join-key
  shuffle material;
- corpus-wide scalars (N, avgdl) use the scalar-agg + 1-row-broadcast
  rewrite (functions.with_global_aggs rationale) instead of a whole-table
  window.

Determinism: ln() is the one non-algebraic function here; both engines
evaluate IEEE-double ``ln`` on identical operands and every ln-derived
value is quantized with the repo-wide rnd() convention before it is used
for ranking or summation (BM25 sums per-term scores as exact decimals via
dsum, so accumulation order cannot flip results).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from dbt_tpch_spark.functions import barrier, davg, dsum, isum, rnd
from dbt_tpch_spark.models.oracle import (
    davg_sql,
    dsum_sql,
    isum_sql,
    oracle,
    rnd_sql,
)
from dbt_tpch_spark.plans import model

#: BM25 free parameters (standard Robertson defaults).
BM25_K1 = 1.2
BM25_B = 0.75
TOP_DOCS = 10
TOP_TERMS = 3

#: fixed query set over the corpus vocabulary (see TESTDATA.md); literal on
#: both engines so the oracle is self-contained.
QUERIES: dict[str, tuple[str, ...]] = {
    "q_join": ("hash", "join", "merge"),
    "q_stream": ("stream", "window", "agg"),
    "q_scan": ("fast", "vector", "scan"),
}


def _doc_term_freq(ctx):
    """(doc_id, term, tf) — one corpus pass, partial-agg before shuffle."""
    d = ctx.source("documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("term"),
    )
    return toks.groupBy("doc_id", "term").agg(F.count("*").cast("long").alias("tf"))


_TF_CTE = """dtf AS (
    SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM (
        SELECT doc_id,
               unnest(string_split(lower(trim(text)), ' ')) AS term
        FROM documents
    )
    GROUP BY doc_id, term
),
dtf_dl AS (
    SELECT *, CAST(SUM(tf) OVER (PARTITION BY doc_id) AS BIGINT) AS dl
    FROM dtf
),
termdf AS (
    SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM dtf GROUP BY term
),
doclens AS (
    SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM dtf GROUP BY doc_id
),
totals AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, {avgdl} AS avgdl
    FROM doclens
)"""


def _tf_cte() -> str:
    return _TF_CTE.format(avgdl=davg_sql("CAST(dl AS DOUBLE)"))


@model("doc_tfidf_terms", layer="operators", materialization="view")
def doc_tfidf_terms(ctx):
    """Top-3 terms per document by smoothed TF-IDF
    (sklearn convention: idf = ln((1+N)/(1+df)) + 1, tf normalized by
    document length). The boilerplate-detection / keyword-extraction
    primitive of a corpus pipeline."""
    dtf = _doc_term_freq(ctx)
    dl_w = Window.partitionBy("doc_id")
    dtf = dtf.withColumn("dl", F.sum("tf").over(dl_w).cast("long"))
    termdf = dtf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    n_docs = dtf.select("doc_id").distinct().agg(
        F.count("*").cast("double").alias("n_docs")
    )
    idf = F.log((F.lit(1.0) + F.col("n_docs")) / (F.lit(1.0) + F.col("df"))) + F.lit(
        1.0
    )
    tfidf = (F.col("tf").cast("double") / F.col("dl")) * F.col("idf")
    # termdf is vocab-grain (Heaps-law corpus growth): no hard hint — AQE
    # broadcasts it while its measured size is small and demotes at scale
    scored = (
        dtf.join(termdf, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("idf", rnd(idf, 6))
        .withColumn("tfidf", rnd(tfidf, 6))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_TERMS)
        .select("doc_id", "term", "tf", "df", "idf", "tfidf", "rank")
    )


oracle(
    "doc_tfidf_terms",
    ("documents",),
    f"""WITH {_tf_cte()},
scored AS (
    SELECT
        t.doc_id,
        t.term,
        t.tf,
        f.df,
        {rnd_sql("ln((1.0 + g.n_docs) / (1.0 + f.df)) + 1.0", 6)} AS idf,
        {rnd_sql(
            "(CAST(t.tf AS DOUBLE) / t.dl) * ("
            + rnd_sql("ln((1.0 + g.n_docs) / (1.0 + f.df)) + 1.0", 6)
            + ")",
            6,
        )} AS tfidf
    FROM dtf_dl t
    JOIN termdf f USING (term)
    CROSS JOIN totals g
),
ranked AS (
    SELECT *,
        CAST(ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, term
        ) AS BIGINT) AS rank
    FROM scored
)
SELECT doc_id, term, tf, df, idf, tfidf, rank
FROM ranked
WHERE rank <= {TOP_TERMS}""",
)


@model("docs_bm25_topk", layer="operators", materialization="view")
def docs_bm25_topk(ctx):
    """BM25 top-10 documents for each fixed query (Robertson idf,
    k1=1.2, b=0.75) — the retrieval/decontamination primitive.

    Per-term scores are quantized (rnd 6) then summed as exact decimals
    (dsum), so the per-(query, doc) total is accumulation-order-free.

    The (doc_id, term, tf) feedstock feeds five consumers (doclens, termdf,
    totals, and both sides of the hit join); left lazy, Catalyst would
    re-tokenize the corpus once per consumer, so it is materialized eagerly
    once — the same boundary a 100 TB deployment would persist."""
    dtf = barrier(_doc_term_freq(ctx))
    doclens = dtf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
    totals = doclens.agg(
        F.count("*").cast("double").alias("n_docs"),
        davg(F.col("dl").cast("double")).alias("avgdl"),
    )
    qterms = ctx.spark.createDataFrame(
        [(qid, t) for qid, terms in QUERIES.items() for t in terms],
        "query_id string, term string",
    )
    # round-11: df is only ever read for terms that appear in a query (the
    # hit join is inner on term via qterms), so count df over the semi-join
    # restriction instead of the whole vocabulary — the map-side filter
    # kills the vocab-grain shuffle and the ~|qterms|-row result broadcasts
    # into the hit join. df values for surviving terms are counted over the
    # same full dtf rows, so every emitted row is unchanged. The term set
    # is deduped in Python (it is a fixed literal), not with a distinct()
    # that would cost its own exchange.
    qterm_set = ctx.spark.createDataFrame(
        [(t,) for t in sorted({t for ts in QUERIES.values() for t in ts})],
        "term string",
    )
    termdf = (
        dtf.join(F.broadcast(qterm_set), "term", "leftsemi")
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("df"))
    )
    # qterms is a fixed literal set (hard broadcast is safe); termdf is
    # vocab-grain — hint-free, AQE decides by measured size
    hit = (
        dtf.join(F.broadcast(qterms), "term")
        .join(termdf, "term")
        .join(doclens, "doc_id")
        .crossJoin(F.broadcast(totals))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tf_d = F.col("tf").cast("double")
    denom = tf_d + F.lit(BM25_K1) * (
        F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("dl") / F.col("avgdl")
    )
    term_score = rnd(idf * tf_d * F.lit(BM25_K1 + 1.0) / denom, 6)
    scores = (
        hit.withColumn("term_score", term_score)
        .groupBy("query_id", "doc_id")
        .agg(
            F.count("*").cast("long").alias("n_hit_terms"),
            dsum(F.col("term_score")).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("doc_id"))
    return (
        scores.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_DOCS)
        .select("query_id", "doc_id", "n_hit_terms", "score", "rank")
    )


def _queries_values_sql() -> str:
    rows = ", ".join(
        f"('{qid}', '{t}')" for qid, terms in QUERIES.items() for t in terms
    )
    return f"(VALUES {rows}) AS q(query_id, term)"


_BM25_TERM_SCORE = (
    "ln(1.0 + (g.n_docs - f.df + 0.5) / (f.df + 0.5))"
    f" * CAST(t.tf AS DOUBLE) * {BM25_K1 + 1.0}"
    f" / (CAST(t.tf AS DOUBLE) + {BM25_K1} * ({1.0 - BM25_B} + {BM25_B}"
    " * l.dl / g.avgdl))"
)

oracle(
    "docs_bm25_topk",
    ("documents",),
    f"""WITH {_tf_cte()},
hit AS (
    SELECT
        q.query_id,
        t.doc_id,
        {rnd_sql(_BM25_TERM_SCORE, 6)} AS term_score
    FROM dtf t
    JOIN {_queries_values_sql()} USING (term)
    JOIN termdf f USING (term)
    JOIN doclens l ON t.doc_id = l.doc_id
    CROSS JOIN totals g
),
scores AS (
    SELECT
        query_id,
        doc_id,
        CAST(COUNT(*) AS BIGINT) AS n_hit_terms,
        {dsum_sql("term_score")} AS score
    FROM hit
    GROUP BY query_id, doc_id
),
ranked AS (
    SELECT *,
        CAST(ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY score DESC, doc_id
        ) AS BIGINT) AS rank
    FROM scores
)
SELECT query_id, doc_id, n_hit_terms, score, rank
FROM ranked
WHERE rank <= {TOP_DOCS}""",
)


PMI_MIN_COUNT = 5
PMI_TOP = 50


@model("doc_bigram_pmi", layer="operators", materialization="view")
def doc_bigram_pmi(ctx):
    """Top-50 adjacent-bigram collocations by pointwise mutual information
    (PMI = ln(p(a,b) / (p(a) p(b))), count >= PMI_MIN_COUNT) — the
    boilerplate/template-phrase detector of a corpus pipeline.

    Scale shape: bigrams are generated positionally inside the row
    (transform over an index sequence — no self-join, no explode-then-lag
    window); both count tables aggregate with map-side combine; the unigram
    table is broadcast twice (vocabulary-sized) and corpus totals ride the
    1-row-broadcast rewrite. The final global top-50 ranks the *filtered*
    collocation table (bounded by vocabulary^2), not the corpus."""
    d = ctx.source("documents")
    words = d.select(
        F.split(F.lower(F.trim(F.col("text"))), " ").alias("words")
    )
    bg_structs = F.expr(
        "transform(sequence(1, size(words) - 1),"
        " i -> struct(element_at(words, i) AS w1,"
        " element_at(words, CAST(i + 1 AS INT)) AS w2))"
    )
    bg = (
        words.select(F.explode(bg_structs).alias("b"))
        .select(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("pair_count"))
    )
    ug = (
        words.select(F.explode("words").alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("w_count"))
    )
    totals_src = bg.agg(
        F.sum("pair_count").cast("double").alias("t_bigrams"),
    )
    u_total = ug.agg(F.sum("w_count").cast("double").alias("u_tokens"))
    pmi = F.log(
        (F.col("pair_count").cast("double") * F.col("u_tokens") * F.col("u_tokens"))
        / (F.col("t_bigrams") * F.col("w1_count") * F.col("w2_count"))
    )
    ug1 = ug.select(F.col("w").alias("w1"), F.col("w_count").alias("w1_count"))
    ug2 = ug.select(F.col("w").alias("w2"), F.col("w_count").alias("w2_count"))
    from pyspark.sql import Window

    w_rank = Window.orderBy(F.col("pmi").desc(), F.col("w1"), F.col("w2"))
    return (
        # unigram tables are vocab-grain: hint-free, AQE decides
        bg.filter(F.col("pair_count") >= PMI_MIN_COUNT)
        .join(ug1, "w1")
        .join(ug2, "w2")
        .crossJoin(F.broadcast(totals_src))
        .crossJoin(F.broadcast(u_total))
        .withColumn("pmi", rnd(pmi, 6))
        .withColumn("rank", F.row_number().over(w_rank).cast("long"))
        .filter(F.col("rank") <= PMI_TOP)
        .select("w1", "w2", "pair_count", "w1_count", "w2_count", "pmi", "rank")
    )


oracle(
    "doc_bigram_pmi",
    ("documents",),
    f"""WITH dwords AS (
    SELECT string_split(lower(trim(text)), ' ') AS words FROM documents
),
pos AS (
    SELECT words, unnest(range(1, len(words))) AS i FROM dwords
),
bg AS (
    SELECT words[i] AS w1, words[i + 1] AS w2,
           CAST(COUNT(*) AS BIGINT) AS pair_count
    FROM pos GROUP BY 1, 2
),
ug AS (
    SELECT w, CAST(COUNT(*) AS BIGINT) AS w_count
    FROM (SELECT unnest(words) AS w FROM dwords) GROUP BY 1
),
tot AS (
    SELECT CAST(SUM(pair_count) AS DOUBLE) AS t_bigrams FROM bg
),
utot AS (
    SELECT CAST(SUM(w_count) AS DOUBLE) AS u_tokens FROM ug
),
scored AS (
    SELECT
        b.w1, b.w2, b.pair_count,
        a.w_count AS w1_count,
        c.w_count AS w2_count,
        {rnd_sql(
            "ln((CAST(b.pair_count AS DOUBLE) * u.u_tokens * u.u_tokens)"
            " / (t.t_bigrams * a.w_count * c.w_count))",
            6,
        )} AS pmi
    FROM bg b
    JOIN ug a ON b.w1 = a.w
    JOIN ug c ON b.w2 = c.w
    CROSS JOIN tot t CROSS JOIN utot u
    WHERE b.pair_count >= {PMI_MIN_COUNT}
),
ranked AS (
    SELECT *,
        CAST(ROW_NUMBER() OVER (ORDER BY pmi DESC, w1, w2) AS BIGINT) AS rank
    FROM scored
)
SELECT w1, w2, pair_count, w1_count, w2_count, pmi, rank
FROM ranked
WHERE rank <= {PMI_TOP}""",
)


POSTINGS_CAP = 50


@model("docs_inverted_index", layer="operators", materialization="view")
def docs_inverted_index(ctx):
    """Inverted-index materialization: per term, document frequency, total
    term frequency, and the first POSTINGS_CAP postings (doc_ids ascending,
    '-'-joined — the serialized posting-list head a serving shard would
    store). Postings capped so hot terms can't blow up a row; the cap is
    the oracle-visible twin of a posting-list block.

    Scale shape: reuses the (doc, term) aggregate; one shuffle on term with
    map-side combine; collect_list only ever sees per-term postings AFTER
    the cap filter logic (slice post-sort), bounded by POSTINGS_CAP."""
    dtf = _doc_term_freq(ctx)
    return dtf.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("tf").cast("long").alias("total_tf"),
        F.array_join(
            F.slice(
                F.sort_array(F.collect_list("doc_id")), 1, POSTINGS_CAP
            ).cast("array<string>"),
            "-",
        ).alias("postings_head"),
    )


oracle(
    "docs_inverted_index",
    ("documents",),
    f"""WITH {_tf_cte()}
SELECT
    term,
    CAST(COUNT(*) AS BIGINT) AS df,
    CAST(SUM(tf) AS BIGINT) AS total_tf,
    array_to_string(
        list_transform(
            list_slice(list(doc_id ORDER BY doc_id), 1, {POSTINGS_CAP}),
            d -> CAST(d AS VARCHAR)
        ),
        '-'
    ) AS postings_head
FROM dtf
GROUP BY term""",
)


@model("source_vocab_divergence", layer="operators", materialization="view")
def source_vocab_divergence(ctx):
    """Per-source KL divergence of the source's unigram distribution from
    the corpus distribution (add-one smoothed over the corpus vocabulary) —
    the distribution-drift / contamination detector of a corpus pipeline:
    a source whose vocabulary departs from the mix stands out before it
    poisons a training run.

    KL(p_source || p_corpus) = sum_w p_s(w) * ln(p_s(w) / p(w)) over the
    source's observed terms (smoothing keeps every ratio finite).

    Scale shape: (source, term) and (term) count tables from one explode
    pass; the corpus unigram table broadcasts; per-term KL contributions
    are rnd-quantized then decimal-summed, so the divergence is
    accumulation-order-free."""
    d = ctx.source("documents")
    toks = d.select(
        "source",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("term"),
    )
    st = toks.groupBy("source", "term").agg(
        F.count("*").cast("long").alias("c_sw")
    )
    ug = st.groupBy("term").agg(F.sum("c_sw").cast("long").alias("c_w"))
    stot = st.groupBy("source").agg(F.sum("c_sw").cast("double").alias("n_s"))
    tot = ug.agg(
        F.sum("c_w").cast("double").alias("n_tokens"),
        F.count(F.lit(1)).cast("double").alias("vocab"),
    )
    p_s = (F.col("c_sw") + F.lit(1.0)) / (F.col("n_s") + F.col("vocab"))
    p_c = (F.col("c_w") + F.lit(1.0)) / (F.col("n_tokens") + F.col("vocab"))
    contrib = rnd(p_s * F.log(p_s / p_c), 9)
    # corpus unigram table is vocab-grain: hint-free, AQE decides
    scored = (
        st.join(ug, "term")
        .join(F.broadcast(stot), "source")
        .crossJoin(F.broadcast(tot))
        .withColumn("kl_term", contrib)
    )
    agg = scored.groupBy("source").agg(
        F.first("n_s").cast("long").alias("n_tokens_source"),
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        rnd(dsum(F.col("kl_term")), 6).alias("kl_divergence"),
    )
    w = Window.orderBy(F.col("kl_divergence").desc(), F.col("source"))
    return agg.withColumn(
        "divergence_rank", F.row_number().over(w).cast("long")
    )


oracle(
    "source_vocab_divergence",
    ("documents",),
    f"""WITH toks AS (
    SELECT source,
           unnest(string_split(lower(trim(text)), ' ')) AS term
    FROM documents
),
st AS (
    SELECT source, term, CAST(COUNT(*) AS BIGINT) AS c_sw
    FROM toks GROUP BY 1, 2
),
ug AS (
    SELECT term, CAST(SUM(c_sw) AS BIGINT) AS c_w FROM st GROUP BY 1
),
stot AS (
    SELECT source, CAST(SUM(c_sw) AS DOUBLE) AS n_s FROM st GROUP BY 1
),
tot AS (
    SELECT CAST(SUM(c_w) AS DOUBLE) AS n_tokens,
           CAST(COUNT(*) AS DOUBLE) AS vocab
    FROM ug
),
scored AS (
    SELECT s.source, o.n_s,
        {rnd_sql(
            "((s.c_sw + 1.0) / (o.n_s + t.vocab))"
            " * ln(((s.c_sw + 1.0) / (o.n_s + t.vocab))"
            " / ((u.c_w + 1.0) / (t.n_tokens + t.vocab)))",
            9,
        )} AS kl_term
    FROM st s
    JOIN ug u ON s.term = u.term
    JOIN stot o ON s.source = o.source
    CROSS JOIN tot t
),
agg AS (
    SELECT
        source,
        CAST(ANY_VALUE(n_s) AS BIGINT) AS n_tokens_source,
        CAST(COUNT(*) AS BIGINT) AS n_terms,
        {rnd_sql(dsum_sql('kl_term'), 6)} AS kl_divergence
    FROM scored
    GROUP BY 1
)
SELECT *,
    CAST(ROW_NUMBER() OVER (ORDER BY kl_divergence DESC, source) AS BIGINT)
        AS divergence_rank
FROM agg""",
)


@model("docs_decontaminated", layer="operators", materialization="view")
def docs_decontaminated(ctx):
    """The decontamination pass itself: the corpus minus every document a
    BM25 search for the (stand-in) eval queries retrieves — the anti-join
    composition that actually ships a clean training set. Output is the
    per-language survivor census plus how many docs the pass removed.

    Scale shape: the hit list is top-k per query (tiny) and broadcasts
    into a left_anti join — the full corpus streams through unjoined."""
    hits = ctx.ref("docs_bm25_topk").select("doc_id").distinct()
    d = ctx.source("documents")
    clean = d.join(F.broadcast(hits), "doc_id", "left_anti")
    return clean.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


oracle(
    "docs_decontaminated",
    ("documents", "docs_bm25_topk"),
    """SELECT
    lang,
    CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents d
WHERE NOT EXISTS (
    SELECT 1 FROM docs_bm25_topk h WHERE h.doc_id = d.doc_id
)
GROUP BY 1""",
)


# --------------------------------------------------------------------------
# n-gram decontamination (the exact-overlap method LM training pipelines
# use alongside lexical search): flag any training document sharing an
# 8-gram with the eval set. The stand-in eval set is a deterministic ~1%
# of the corpus (doc_id % DECON_MOD == 0, ~5%), which guarantees the overlap
# path is exercised (leaked eval documents overlap themselves and their
# near-duplicates).
# --------------------------------------------------------------------------

DECON_N = 8
DECON_MOD = 20


def _gram8_df(ctx):
    from dbt_tpch_spark.operators.dedup import shingle_col, tokens_df

    return tokens_df(ctx).select(
        "doc_id", F.explode(shingle_col(DECON_N)).alias("gram")
    )


@model("docs_ngram_decontam", layer="operators", materialization="view")
def docs_ngram_decontam(ctx):
    """Training docs contaminated by 8-gram overlap with the eval split:
    per flagged doc, its distinct 8-gram count, how many of those grams
    appear anywhere in the eval set, and the overlap ratio.

    Scale shape: eval grams are a distinct projection of a tiny split and
    broadcast into the match join; the training grams stream through once
    (checkpointed — they feed both the totals and the match)."""
    grams = barrier(_gram8_df(ctx))
    eval_grams = (
        grams.filter(F.col("doc_id") % DECON_MOD == 0).select("gram").distinct()
    )
    train = grams.filter(F.col("doc_id") % DECON_MOD != 0)
    totals = train.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams")
    )
    # eval_grams grows with the eval split (Heaps): hint-free, AQE decides
    matched = (
        train.join(eval_grams, "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_matched"))
    )
    return (
        totals.join(matched, "doc_id")
        .withColumn(
            "overlap_ratio",
            rnd(F.col("n_matched").cast("double") / F.col("n_grams"), 6),
        )
        .select("doc_id", "n_grams", "n_matched", "overlap_ratio")
    )


def _gram8_duck() -> str:
    from dbt_tpch_spark.operators.dedup import _NORM_TEXT_DUCK

    toks = f"string_split({_NORM_TEXT_DUCK}, ' ')"
    return (
        f"CASE WHEN len({toks}) >= {DECON_N} THEN "
        f"list_distinct(list_transform(range(1, len({toks}) - {DECON_N - 2}), "
        f"i -> array_to_string(list_slice({toks}, i, i + {DECON_N - 1}), ' '))) "
        f"ELSE [] END"
    )


def _decon_oracle() -> str:
    return f"""WITH grams AS (
    SELECT doc_id, unnest({_gram8_duck()}) AS gram FROM documents
),
eval_grams AS (
    SELECT DISTINCT gram FROM grams WHERE doc_id % {DECON_MOD} = 0
),
train AS (SELECT * FROM grams WHERE doc_id % {DECON_MOD} <> 0),
totals AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams FROM train GROUP BY 1
),
matched AS (
    SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_matched
    FROM train t JOIN eval_grams e ON t.gram = e.gram
    GROUP BY t.doc_id
)
SELECT t.doc_id, t.n_grams, m.n_matched,
       {rnd_sql('CAST(m.n_matched AS DOUBLE) / t.n_grams', 6)} AS overlap_ratio
FROM totals t JOIN matched m ON t.doc_id = m.doc_id"""


oracle("docs_ngram_decontam", (), _decon_oracle())


@model("doc_token_entropy", layer="operators", materialization="view")
def doc_token_entropy(ctx):
    """Per-document token-distribution entropy H = -sum p_w ln p_w (and its
    0..1 normalization by ln(vocab)) — the lexical-diversity quality
    signal: near-zero entropy flags repetition/boilerplate, near-one flags
    natural text. Complements the length/stopword gates in doc_text_stats
    and the corpus-level KL drift in source_vocab_divergence.

    Determinism: each -p ln p term is rnd-quantized then summed as exact
    decimals (the repo-wide ln convention); one (doc, term) aggregation +
    one per-doc reduce — no joins."""
    dtf = _doc_term_freq(ctx)
    dl_w = Window.partitionBy("doc_id")
    dtf = dtf.withColumn("dl", F.sum("tf").over(dl_w).cast("long"))
    p = F.col("tf").cast("double") / F.col("dl").cast("double")
    term_h = rnd(-p * F.log(p), 8)
    per_doc = dtf.withColumn("term_h", term_h).groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_unique_terms"),
        F.max("dl").alias("n_tokens"),
        rnd(dsum(F.col("term_h")), 6).alias("entropy"),
    )
    return per_doc.withColumn(
        "normalized_entropy",
        F.when(
            F.col("n_unique_terms") > 1,
            rnd(
                F.col("entropy") / F.log(F.col("n_unique_terms").cast("double")), 6
            ),
        ).otherwise(F.lit(0.0)),
    )


oracle(
    "doc_token_entropy",
    ("documents",),
    f"""WITH {_tf_cte()},
scored AS (
    SELECT doc_id, dl,
           {rnd_sql(
               "-(CAST(tf AS DOUBLE) / CAST(dl AS DOUBLE))"
               " * ln(CAST(tf AS DOUBLE) / CAST(dl AS DOUBLE))",
               8,
           )} AS term_h
    FROM dtf_dl
),
per_doc AS (
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_unique_terms,
           MAX(dl) AS n_tokens,
           {rnd_sql(dsum_sql('term_h'), 6)} AS entropy
    FROM scored
    GROUP BY doc_id
)
SELECT *,
    CASE WHEN n_unique_terms > 1
         THEN {rnd_sql('entropy / ln(CAST(n_unique_terms AS DOUBLE))', 6)}
         ELSE 0.0 END AS normalized_entropy
FROM per_doc""",
)


# --------------------------------------------------------------------------
# ranking agreement: BM25 vs plain TF-IDF top-k overlap
# --------------------------------------------------------------------------


def _tfidf_topk(ctx):
    """Plain TF-IDF (tf × ln(N/df), no length normalization) top-k
    ranking over the fixed query set — the second ranker shared by
    docs_rank_overlap and docs_rrf_fusion. Returns (query_id, doc_id,
    rank)."""
    dtf = barrier(_doc_term_freq(ctx))
    termdf = dtf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    totals = dtf.agg(
        F.countDistinct("doc_id").cast("double").alias("n_docs")
    )
    qterms = ctx.spark.createDataFrame(
        [(qid, t) for qid, terms in QUERIES.items() for t in terms],
        "query_id string, term string",
    )
    tscore = rnd(
        F.col("tf").cast("double") * F.log(F.col("n_docs") / F.col("df")), 6
    )
    # qterms: fixed literal set (hard hint safe); termdf: vocab-grain,
    # hint-free so AQE decides by measured size
    scores = (
        dtf.join(F.broadcast(qterms), "term")
        .join(termdf, "term")
        .crossJoin(F.broadcast(totals))
        .withColumn("tscore", tscore)
        .groupBy("query_id", "doc_id")
        .agg(dsum(F.col("tscore")).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    return (
        scores.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_DOCS)
        .select("query_id", "doc_id", "rank")
    )


def _tfidf_top_cte() -> str:
    """SQL twin of :func:`_tfidf_topk` — `scores` + `tfidf_top(query_id,
    doc_id, rank)` CTE bodies; the caller supplies WITH {_tf_cte()}."""
    return f"""scores AS (
    SELECT
        q.query_id,
        t.doc_id,
        {dsum_sql(rnd_sql('CAST(t.tf AS DOUBLE) * ln(g.n_docs / f.df)', 6))} AS score
    FROM dtf t
    JOIN {_queries_values_sql()} ON t.term = q.term
    JOIN termdf f ON t.term = f.term
    CROSS JOIN totals g
    GROUP BY 1, 2
),
tfidf_top AS (
    SELECT query_id, doc_id, rank FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY score DESC, doc_id
        ) AS BIGINT) AS rank FROM scores
    ) WHERE rank <= {TOP_DOCS}
)"""


@model("docs_rank_overlap", layer="operators", materialization="view")
def docs_rank_overlap(ctx):
    """Retrieval-evaluation primitive: per query, the overlap@k between
    the BM25 top-k (docs_bm25_topk, the model DAG edge) and a plain
    TF-IDF ranking (tf x ln(N/df), no length normalization) computed
    over the same fixed query set — the cheap ranking-agreement check
    run before swapping scorers in a retrieval/decontamination pipeline
    (low overlap = the swap changes WHAT gets retrieved, not just the
    order). Queries where the rankings share nothing still report (zero
    overlap), via the literal query list.

    Scale: rides the same one-pass (doc, term, tf) feedstock as BM25;
    the overlap join is top-k x top-k per query — bounded."""
    bm = ctx.ref("docs_bm25_topk").select("query_id", "doc_id")
    tfidf_top = _tfidf_topk(ctx).select("query_id", "doc_id")
    ov = (
        bm.join(tfidf_top, ["query_id", "doc_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
    )
    qlist = ctx.spark.createDataFrame(
        [(qid,) for qid in QUERIES], "query_id string"
    )
    return (
        qlist.join(ov, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_overlap"), F.lit(0))
            .cast("long")
            .alias("n_overlap"),
            rnd(
                F.coalesce(F.col("n_overlap"), F.lit(0))
                / F.lit(float(TOP_DOCS)),
                4,
            ).alias("overlap_at_k"),
        )
    )


def _rank_overlap_oracle() -> str:
    qids = ", ".join(f"('{qid}')" for qid in QUERIES)
    return f"""WITH {_tf_cte()},
{_tfidf_top_cte()},
ov AS (
    SELECT b.query_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
    FROM docs_bm25_topk b
    JOIN tfidf_top t ON b.query_id = t.query_id AND b.doc_id = t.doc_id
    GROUP BY 1
),
qlist AS (SELECT * FROM (VALUES {qids}) AS ql(query_id))
SELECT
    ql.query_id,
    COALESCE(o.n_overlap, 0) AS n_overlap,
    {rnd_sql(f'COALESCE(o.n_overlap, 0) / CAST({TOP_DOCS} AS DOUBLE)', 4)} AS overlap_at_k
FROM qlist ql LEFT JOIN ov o ON ql.query_id = o.query_id"""


oracle(
    "docs_rank_overlap",
    ("documents", "docs_bm25_topk"),
    _rank_overlap_oracle(),
)


#: RRF smoothing constant (Cormack, Clarke & Buettcher, SIGIR'09 — k=60
#: is the paper's recommendation and the de-facto default everywhere)
RRF_K = 60


@model("docs_rrf_fusion", layer="operators", materialization="view")
def docs_rrf_fusion(ctx):
    """Reciprocal-rank fusion of the BM25 and TF-IDF top-k rankings over
    the fixed query set: RRF(d) = Σ_r 1/(k + rank_r(d)) over the rankers
    that retrieved d (standard truncated-list RRF, k=60) — the
    zero-training ensemble that routinely beats either ranker alone and
    the standard first stage of a hybrid retrieval pipeline.

    Determinism: each contribution is 1/(60+rank) with rank ≤ TOP_DOCS —
    a small fixed rational set, bit-identical on both engines; a doc has
    at most two contributions and two-term IEEE addition is commutative,
    so no decimal accumulator is needed. The fusion frame is bounded
    (|queries| × 2·TOP_DOCS rows), so the final per-query window is over
    bounded cardinality."""
    bm = ctx.ref("docs_bm25_topk").select(
        "query_id", "doc_id", F.col("rank").alias("r_bm25")
    )
    tf = _tfidf_topk(ctx).select(
        "query_id", "doc_id", F.col("rank").alias("r_tfidf")
    )
    both = bm.join(tf, ["query_id", "doc_id"], "full_outer")
    contrib = F.coalesce(
        F.lit(1.0) / (F.lit(float(RRF_K)) + F.col("r_bm25")), F.lit(0.0)
    ) + F.coalesce(
        F.lit(1.0) / (F.lit(float(RRF_K)) + F.col("r_tfidf")), F.lit(0.0)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col("doc_id")
    )
    return (
        both.withColumn("rrf_score", rnd(contrib, 9))
        .withColumn("fused_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("fused_rank") <= TOP_DOCS)
        .select(
            "query_id",
            "doc_id",
            "r_bm25",
            "r_tfidf",
            "rrf_score",
            "fused_rank",
        )
    )


oracle(
    "docs_rrf_fusion",
    ("documents", "docs_bm25_topk"),
    f"""WITH {_tf_cte()},
{_tfidf_top_cte()},
both_ AS (
    SELECT
        COALESCE(b.query_id, t.query_id) AS query_id,
        COALESCE(b.doc_id, t.doc_id) AS doc_id,
        b.rank AS r_bm25,
        t.rank AS r_tfidf,
        {rnd_sql(
            f'COALESCE(1.0 / ({RRF_K} + b.rank), 0.0)'
            f' + COALESCE(1.0 / ({RRF_K} + t.rank), 0.0)', 9
        )} AS rrf_score
    FROM docs_bm25_topk b
    FULL JOIN tfidf_top t
      ON b.query_id = t.query_id AND b.doc_id = t.doc_id
)
SELECT query_id, doc_id, r_bm25, r_tfidf, rrf_score, fused_rank
FROM (
    SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY rrf_score DESC, doc_id
    ) AS BIGINT) AS fused_rank
    FROM both_
) WHERE fused_rank <= {TOP_DOCS}""",
)


# --------------------------------------------------------------------------
# Jensen-Shannon divergence: each source vs the rest of the corpus
# --------------------------------------------------------------------------

#: ln(2) as a literal so both engines use the identical constant (JSD's
#: natural-log upper bound) instead of trusting two libm ln(2.0) calls
_LN2 = 0.6931471805599453


@model("source_js_divergence", layer="operators", materialization="view")
def source_js_divergence(ctx):
    """Per-source Jensen-Shannon divergence between the source's unigram
    distribution and the REST of the corpus (leave-one-out) — the
    symmetric, bounded ([0, ln 2]) complement to source_vocab_divergence's
    KL: JS never blows up on disjoint vocabulary, so it ranks genuinely
    alien sources instead of saturating on them.

    JSD(P||Q) = 0.5*Σ p*ln(p/m) + 0.5*Σ q*ln(q/m), m=(p+q)/2, with the
    mass of terms ABSENT from the source folded in closed form:
    Σ_{t∉s} 0.5*q_t*ln 2 = 0.5*ln 2*(1 - Σ_{t∈s} q_t). That keeps the
    scored frame at (source, observed-term) grain — never |vocab|×|sources|.

    Scale shape: ONE tokenize pass -> (source,term) counts, materialized
    once (localCheckpoint) because THREE consumers read it (unigram table,
    per-source totals, the scored join) — without the barrier each one
    re-tokenizes the corpus; the term join is a plain shuffle join at
    vocabulary grain (no broadcast of an unbounded frame); per-term
    contributions are rnd-quantized to 9 dp and accumulated through
    DECIMAL(30,9) so the sum is order-free."""
    d = ctx.source("documents")
    toks = d.select(
        "source",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("term"),
    )
    st = toks.groupBy("source", "term").agg(
        F.count(F.lit(1)).cast("long").alias("c_sw")
    ).transform(barrier, eager=False)
    ug = st.groupBy("term").agg(F.sum("c_sw").cast("long").alias("c_w"))
    stot = st.groupBy("source").agg(F.sum("c_sw").cast("double").alias("n_s"))
    tot = ug.agg(F.sum("c_w").cast("double").alias("n_tokens"))

    p = F.col("c_sw") / F.col("n_s")
    nr = F.col("n_tokens") - F.col("n_s")
    q = (F.col("c_w") - F.col("c_sw")).cast("double") / nr
    m = (p + q) / F.lit(2.0)
    contrib = (
        F.lit(0.5) * p * F.log(p / m)
        + F.when(q > 0, F.lit(0.5) * q * F.log(q / m)).otherwise(F.lit(0.0))
    )
    scored = (
        st.join(ug, "term")
        .join(F.broadcast(stot), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.col("n_s"),
            rnd(contrib, 9).alias("js_term"),
            rnd(q, 12).alias("q_term"),
        )
    )
    agg = scored.groupBy("source").agg(
        F.max("n_s").cast("long").alias("n_tokens_source"),
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum(F.col("js_term").cast("decimal(30,9)")).cast("double").alias("_js_obs"),
        F.sum(F.col("q_term").cast("decimal(32,12)")).cast("double").alias("_sq"),
    )
    jsd = F.col("_js_obs") + F.lit(0.5 * _LN2) * (F.lit(1.0) - F.col("_sq"))
    agg = agg.select(
        "source",
        "n_tokens_source",
        "n_terms",
        rnd(jsd, 6).alias("js_divergence"),
    )
    w = Window.orderBy(F.col("js_divergence").desc(), F.col("source"))
    return agg.withColumn(
        "divergence_rank", F.row_number().over(w).cast("long")
    )


oracle(
    "source_js_divergence",
    ("documents",),
    f"""WITH toks AS (
    SELECT source,
           unnest(string_split(lower(trim(text)), ' ')) AS term
    FROM documents
),
st AS (
    SELECT source, term, CAST(COUNT(*) AS BIGINT) AS c_sw
    FROM toks GROUP BY 1, 2
),
ug AS (
    SELECT term, CAST(SUM(c_sw) AS BIGINT) AS c_w FROM st GROUP BY 1
),
stot AS (
    SELECT source, CAST(SUM(c_sw) AS DOUBLE) AS n_s FROM st GROUP BY 1
),
tot AS (SELECT CAST(SUM(c_w) AS DOUBLE) AS n_tokens FROM ug),
scored AS (
    SELECT s.source, o.n_s,
        {rnd_sql(
            "0.5 * (s.c_sw / o.n_s)"
            " * ln((s.c_sw / o.n_s) / (((s.c_sw / o.n_s)"
            "   + ((u.c_w - s.c_sw) / (t.n_tokens - o.n_s))) / 2.0))"
            " + CASE WHEN (u.c_w - s.c_sw) > 0 THEN"
            "   0.5 * ((u.c_w - s.c_sw) / (t.n_tokens - o.n_s))"
            "   * ln(((u.c_w - s.c_sw) / (t.n_tokens - o.n_s))"
            "     / (((s.c_sw / o.n_s)"
            "       + ((u.c_w - s.c_sw) / (t.n_tokens - o.n_s))) / 2.0))"
            " ELSE 0.0 END",
            9,
        )} AS js_term,
        {rnd_sql("(u.c_w - s.c_sw) / (t.n_tokens - o.n_s)", 12)} AS q_term
    FROM st s
    JOIN ug u ON s.term = u.term
    JOIN stot o ON s.source = o.source
    CROSS JOIN tot t
),
agg AS (
    SELECT
        source,
        CAST(MAX(n_s) AS BIGINT) AS n_tokens_source,
        CAST(COUNT(*) AS BIGINT) AS n_terms,
        CAST(SUM(CAST(js_term AS DECIMAL(30,9))) AS DOUBLE) AS js_obs,
        CAST(SUM(CAST(q_term AS DECIMAL(32,12))) AS DOUBLE) AS sq
    FROM scored
    GROUP BY 1
)
SELECT source, n_tokens_source, n_terms,
    {rnd_sql(f'js_obs + 0.5 * {_LN2!r} * (1.0 - sq)', 6)} AS js_divergence,
    CAST(ROW_NUMBER() OVER (
        ORDER BY {rnd_sql(f'js_obs + 0.5 * {_LN2!r} * (1.0 - sq)', 6)} DESC,
                 source) AS BIGINT) AS divergence_rank
FROM agg""",
)


@model("docs_ndcg_fused", layer="operators", materialization="view")
def docs_ndcg_fused(ctx):
    """nDCG@k of the RRF-fused ranking against binary BM25-membership
    relevance — "how much of the BM25 signal does the fusion preserve
    after mixing in TF-IDF", the standard ranking-quality readout for a
    hybrid retrieval stage. Relevance of a fused doc is carried BY the
    fusion frame itself (``r_bm25 IS NOT NULL``); the ideal DCG comes
    from the BM25 list's own ranks, so no third corpus pass exists.

    Per-position gains 1/log2(i+1) are 9-dp-quantized and accumulated
    through DECIMAL(30,9) (≤ TOP_DOCS terms per query — bounded).
    Output: one row per query."""
    fused = ctx.ref("docs_rrf_fusion")
    acc9 = "decimal(30,9)"
    gain = rnd(
        F.when(F.col("r_bm25").isNotNull(), F.lit(1.0)).otherwise(F.lit(0.0))
        / F.log2(F.col("fused_rank").cast("double") + F.lit(1.0)),
        9,
    )
    dcg = fused.groupBy("query_id").agg(
        F.sum(gain.cast(acc9)).cast("double").alias("dcg"),
        F.sum(F.when(F.col("r_bm25").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_relevant_in_fused"),
    )
    ideal_gain = rnd(
        F.lit(1.0) / F.log2(F.col("rank").cast("double") + F.lit(1.0)), 9
    )
    idcg = (
        ctx.ref("docs_bm25_topk")
        .groupBy("query_id")
        .agg(F.sum(ideal_gain.cast(acc9)).cast("double").alias("idcg"))
    )
    return dcg.join(idcg, "query_id").select(
        "query_id",
        "n_relevant_in_fused",
        rnd(F.col("dcg"), 6).alias("dcg"),
        rnd(F.col("idcg"), 6).alias("idcg"),
        rnd(F.col("dcg") / F.col("idcg"), 6).alias("ndcg_at_k"),
    )


oracle(
    "docs_ndcg_fused",
    ("docs_rrf_fusion", "docs_bm25_topk"),
    f"""WITH d AS (
    SELECT query_id,
        CAST(SUM(CAST({rnd_sql(
            'CASE WHEN r_bm25 IS NOT NULL THEN 1.0 ELSE 0.0 END'
            ' / log2(CAST(fused_rank AS DOUBLE) + 1.0)', 9
        )} AS DECIMAL(30,9))) AS DOUBLE) AS dcg,
        CAST(SUM(CASE WHEN r_bm25 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_relevant_in_fused
    FROM docs_rrf_fusion GROUP BY query_id
),
i AS (
    SELECT query_id,
        CAST(SUM(CAST({rnd_sql(
            '1.0 / log2(CAST(rank AS DOUBLE) + 1.0)', 9
        )} AS DECIMAL(30,9))) AS DOUBLE) AS idcg
    FROM docs_bm25_topk GROUP BY query_id
)
SELECT d.query_id, d.n_relevant_in_fused,
    {rnd_sql('d.dcg', 6)} AS dcg,
    {rnd_sql('i.idcg', 6)} AS idcg,
    {rnd_sql('d.dcg / i.idcg', 6)} AS ndcg_at_k
FROM d JOIN i ON d.query_id = i.query_id""",
)


# --------------------------------------------------------------------------
# vocabulary coverage / OOV rate per source
# --------------------------------------------------------------------------

#: top-V vocabulary size for the coverage report (tokenizer-budget proxy).
VOCAB_V = 50


@model("docs_oov_rate", layer="operators", materialization="view")
def docs_oov_rate(ctx):
    """Vocabulary coverage: build the top-V global vocabulary by term
    frequency (ties broken lexicographically, deterministic on both
    engines) and report each source's out-of-vocabulary token rate — the
    standard tokenizer-budget diagnostic before committing a vocab size
    for a pretraining corpus.

    Scale shape: ONE corpus pass to (source, term) counts (map-side
    partial agg absorbs repeats); the global census aggregates the
    already-reduced (source, term) frame, not raw tokens; the top-V vocab
    is a global top-k (TakeOrderedAndProject — V rows cross the wire) and
    broadcasts back; the final per-source rollup shuffles only the
    (source, term) grain. The corpus is scanned exactly once."""
    d = ctx.source("documents")
    toks = d.select(
        "source",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("term"),
    )
    # the (source, term) frame feeds both the census and the final rollup;
    # checkpoint it so the corpus explode runs exactly once (the MI
    # cells-feedstock convention, operators/stats.py)
    stf = (
        toks.groupBy("source", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .transform(barrier)
    )
    census = stf.groupBy("term").agg(isum(F.col("cnt")).alias("total"))
    vocab = (
        census.orderBy(F.desc("total"), "term")
        .limit(VOCAB_V)
        .select("term", F.lit(1).alias("in_vocab"))
    )
    joined = stf.join(F.broadcast(vocab), "term", "left")
    oov_cnt = F.when(F.col("in_vocab").isNull(), F.col("cnt")).otherwise(F.lit(0))
    return joined.groupBy("source").agg(
        isum(F.col("cnt")).alias("total_tokens"),
        isum(oov_cnt).alias("oov_tokens"),
        rnd(
            dsum(oov_cnt) / dsum(F.col("cnt")),
            6,
        ).alias("oov_rate"),
        F.count_distinct(
            F.when(F.col("in_vocab").isNull(), F.col("term"))
        ).alias("distinct_oov_terms"),
    )


oracle(
    "docs_oov_rate",
    ("documents",),
    f"""WITH toks AS (
    SELECT source,
           unnest(string_split(lower(trim(text)), ' ')) AS term
    FROM documents
),
stf AS (
    SELECT source, term, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM toks GROUP BY 1, 2
),
census AS (
    SELECT term, {isum_sql('cnt')} AS total FROM stf GROUP BY term
),
vocab AS (
    SELECT term, 1 AS in_vocab
    FROM census ORDER BY total DESC, term LIMIT {VOCAB_V}
),
joined AS (
    SELECT stf.*, vocab.in_vocab
    FROM stf LEFT JOIN vocab ON stf.term = vocab.term
)
SELECT
    source,
    {isum_sql('cnt')} AS total_tokens,
    {isum_sql('CASE WHEN in_vocab IS NULL THEN cnt ELSE 0 END')} AS oov_tokens,
    {rnd_sql(dsum_sql('CASE WHEN in_vocab IS NULL THEN cnt ELSE 0 END') + ' / ' + dsum_sql('cnt'), 6)} AS oov_rate,
    CAST(COUNT(DISTINCT CASE WHEN in_vocab IS NULL THEN term END) AS BIGINT)
        AS distinct_oov_terms
FROM joined
GROUP BY source""",
)


# --------------------------------------------------------------------------
# n-gram novelty of the held-out splits vs the train split
# --------------------------------------------------------------------------


@model("docs_ngram_novelty", layer="operators", materialization="view")
def docs_ngram_novelty(ctx):
    """Novelty of the held-out splits: per val/test split, how many of
    its distinct-per-doc 3-gram shingles never occur in the TRAIN split —
    the complement of the contamination audit (docs_ngram_decontam flags
    train docs leaking INTO eval; this measures how much of eval is
    genuinely unseen, the generalization-vs-memorization denominator an
    eval harness reports next to its scores). Splits are the engine's
    deterministic md5 assignment (sampling._split_col), so the metric is
    stable under corpus growth.

    Scale shape: one corpus shingle explode (checkpointed — it feeds the
    train vocabulary AND the eval side), a vocabulary-grain distinct, and
    one hash join on the gram key (the train vocabulary is corpus-growing
    — Heaps' law — so it is NOT broadcast); the output is 2 rows."""
    from dbt_tpch_spark.operators.dedup import _shingle3_set_df
    from dbt_tpch_spark.operators.sampling import _split_col

    toks = _shingle3_set_df(ctx)
    ex = toks.select(
        "doc_id",
        _split_col(F.col("doc_id")).alias("split"),
        F.explode("words").alias("gram"),
    ).transform(barrier)
    train_vocab = (
        ex.filter(F.col("split") == "train").select("gram").distinct()
    )
    ev = ex.filter(F.col("split") != "train")
    seen = ev.join(
        train_vocab.withColumn("in_train", F.lit(1)), "gram", "left"
    )
    novel = F.sum(
        F.when(F.col("in_train").isNull(), 1).otherwise(0)
    ).cast("long")
    return seen.groupBy("split").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_grams"),
        novel.alias("novel_grams"),
        rnd(
            F.sum(F.when(F.col("in_train").isNull(), 1).otherwise(0)).cast(
                "double"
            )
            / F.count(F.lit(1)),
            6,
        ).alias("novelty_rate"),
    )


def _ngram_novelty_oracle() -> str:
    from dbt_tpch_spark.operators.dedup import _SHINGLE3_DUCK
    from dbt_tpch_spark.operators.sampling import _split_sql

    return f"""WITH toks AS (
    SELECT doc_id, {_SHINGLE3_DUCK} AS words FROM documents
),
ex AS (
    SELECT doc_id, {_split_sql('doc_id')} AS split, UNNEST(words) AS gram
    FROM toks
),
tv AS (SELECT DISTINCT gram FROM ex WHERE split = 'train'),
ev AS (
    SELECT e.split, e.doc_id,
        EXISTS (SELECT 1 FROM tv WHERE tv.gram = e.gram) AS in_train
    FROM ex e WHERE e.split != 'train'
)
SELECT split,
    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
    CAST(COUNT(*) AS BIGINT) AS n_grams,
    CAST(SUM(CASE WHEN in_train THEN 0 ELSE 1 END) AS BIGINT)
        AS novel_grams,
    {rnd_sql('CAST(SUM(CASE WHEN in_train THEN 0 ELSE 1 END) AS DOUBLE) / COUNT(*)', 6)}
        AS novelty_rate
FROM ev
GROUP BY 1"""


oracle("docs_ngram_novelty", ("documents",), _ngram_novelty_oracle())
