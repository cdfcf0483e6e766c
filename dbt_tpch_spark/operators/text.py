"""Text-analysis operators over the ``documents`` table: token counting,
quality scoring, language-ID heuristics, and document fingerprinting.

These are extension operators (no counterpart in the reference, which has no
string processing beyond md5 surrogate keys — SURVEY §2.9); they are the
text half of a training-data pipeline. Everything compiles to JVM Catalyst
expressions (split/transform/filter/aggregate lambdas) — zero Python UDFs —
so the operators scale like any other relational op: one scan, no shuffle
for per-doc stats.

Tokenization convention shared with the DuckDB oracle: lowercase, trim,
split on single space; "BPE-ish" token count via regexp_extract_all with a
simple letters/digits/other pattern (same RE2-compatible pattern on both
engines).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dbt_tpch_spark.functions import barrier, rnd
from dbt_tpch_spark.plans import model
from dbt_tpch_spark.models.oracle import dsum_sql, oracle, rnd_sql

#: small English-ish stopword inventory (shared with the oracle SQL).
STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "on", "for", "with")

#: language marker words for the n-gram/marker heuristic. The driver corpus
#: is synthetic (English-ish word salad tagged with a lang label), so the
#: heuristic's *accuracy* is structural — what matters is the operator shape.
LANG_MARKERS = {
    "de": ("der", "die", "und", "nicht", "das"),
    "en": ("the", "a", "and", "of", "is"),
    "es": ("el", "la", "de", "que", "los"),
    "fr": ("le", "la", "et", "les", "des"),
}

BPE_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def _sql_list(words) -> str:
    return ", ".join(f"'{w}'" for w in words)


@model("doc_text_stats", layer="operators", materialization="view")
def doc_text_stats(ctx):
    """Per-document token/char counts, punctuation & stopword ratios, and a
    composite quality score — the standard quality-filter features of a
    pretraining data pipeline."""
    d = ctx.source("documents")
    c = doc_quality_cols()
    ltext = F.lower(F.trim(F.col("text")))
    words = F.split(ltext, " ")
    n_tokens = c["n_tokens"]
    token_chars = F.expr(
        "aggregate(transform(split(lower(trim(text)), ' '), w -> length(w)),"
        " 0L, (acc, v) -> acc + v)"
    )
    n_bpe = F.size(F.regexp_extract_all(ltext, F.lit(BPE_PATTERN), 0)).cast("long")
    return d.select(
        "doc_id",
        "lang",
        "source",
        n_tokens.alias("n_tokens"),
        F.size(F.array_distinct(words)).cast("long").alias("n_distinct_tokens"),
        n_bpe.alias("n_bpe_tokens"),
        c["n_chars"].alias("n_chars"),
        rnd(token_chars.cast("double") / F.nullif(n_tokens, F.lit(0)), 4).alias(
            "avg_token_len"
        ),
        rnd(c["punct_ratio"], 6).alias("punct_ratio"),
        rnd(c["stop_ratio"], 6).alias("stopword_ratio"),
        c["quality_score"].alias("quality_score"),
    )


oracle(
    "doc_text_stats",
    ("documents",),
    f"""WITH base AS (
    SELECT
        doc_id,
        lang,
        source,
        text,
        lower(trim(text)) AS ltext,
        string_split(lower(trim(text)), ' ') AS words
    FROM documents
),
feat AS (
    SELECT
        doc_id,
        lang,
        source,
        CAST(len(words) AS BIGINT) AS n_tokens,
        CAST(len(list_distinct(words)) AS BIGINT) AS n_distinct_tokens,
        CAST(len(regexp_extract_all(ltext, '{BPE_PATTERN}')) AS BIGINT) AS n_bpe_tokens,
        CAST(length(text) AS BIGINT) AS n_chars,
        CAST(list_sum(list_transform(words, w -> length(w))) AS BIGINT) AS token_chars,
        CAST(len(list_filter(words, w -> w IN ({_sql_list(STOPWORDS)}))) AS BIGINT) AS n_stop,
        CAST(length(regexp_replace(ltext, '[a-z0-9 ]', '', 'g')) AS BIGINT) AS punct_chars
    FROM base
)
SELECT
    doc_id,
    lang,
    source,
    n_tokens,
    n_distinct_tokens,
    n_bpe_tokens,
    n_chars,
    {rnd_sql('CAST(token_chars AS DOUBLE) / NULLIF(n_tokens, 0)', 4)} AS avg_token_len,
    {rnd_sql('CAST(punct_chars AS DOUBLE) / NULLIF(n_chars, 0)', 6)} AS punct_ratio,
    {rnd_sql('CAST(n_stop AS DOUBLE) / NULLIF(n_tokens, 0)', 6)} AS stopword_ratio,
    {rnd_sql('0.4 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)'
             ' + 0.3 * (1.0 - CAST(punct_chars AS DOUBLE) / NULLIF(n_chars, 0))'
             ' + 0.3 * CAST(n_stop AS DOUBLE) / NULLIF(n_tokens, 0)', 6)} AS quality_score
FROM feat""",
)


@model("doc_language_id", layer="operators", materialization="view")
def doc_language_id(ctx):
    """Marker-word language-ID heuristic with per-language scores and an
    accuracy flag against the corpus label. Argmax ties break alphabetically
    (deterministic on both engines)."""
    d = ctx.source("documents")
    words = F.split(F.lower(F.trim(F.col("text"))), " ")

    def _marker_pred(markers):
        # single-arg lambda required: pyspark binds one Column per parameter
        return lambda w: w.isin(*markers)

    scores = {
        lang: F.size(F.filter(words, _marker_pred(markers))).cast("long")
        for lang, markers in LANG_MARKERS.items()
    }
    df = d.select("doc_id", "lang", *[s.alias(f"score_{k}") for k, s in scores.items()])
    langs = sorted(LANG_MARKERS)  # alphabetical tie-break
    best = F.col(f"score_{langs[0]}")
    pred = F.lit(langs[0])
    for k in langs[1:]:
        cond = F.col(f"score_{k}") > best
        pred = F.when(cond, k).otherwise(pred)
        best = F.when(cond, F.col(f"score_{k}")).otherwise(best)
    return df.select(
        "doc_id",
        "lang",
        *[f"score_{k}" for k in langs],
        pred.alias("predicted_lang"),
        (pred == F.col("lang")).alias("is_correct"),
    )


def _lang_id_oracle() -> str:
    langs = sorted(LANG_MARKERS)
    score_cols = ",\n        ".join(
        f"CAST(len(list_filter(words, w -> w IN ({_sql_list(LANG_MARKERS[k])}))) AS BIGINT) AS score_{k}"
        for k in langs
    )
    # same fold as the Spark side: later lang wins only on strictly greater
    pred = f"'{langs[0]}'"
    best = f"score_{langs[0]}"
    for k in langs[1:]:
        pred = f"CASE WHEN score_{k} > {best} THEN '{k}' ELSE {pred} END"
        best = f"CASE WHEN score_{k} > {best} THEN score_{k} ELSE {best} END"
    return f"""WITH base AS (
    SELECT doc_id, lang, string_split(lower(trim(text)), ' ') AS words
    FROM documents
),
scored AS (
    SELECT
        doc_id,
        lang,
        {score_cols}
    FROM base
)
SELECT
    doc_id,
    lang,
    {', '.join(f'score_{k}' for k in langs)},
    {pred} AS predicted_lang,
    ({pred} = lang) AS is_correct
FROM scored"""


oracle("doc_language_id", ("documents",), _lang_id_oracle())


@model("doc_fingerprints", layer="operators", materialization="view")
def doc_fingerprints(ctx):
    """Document fingerprints: md5 of whitespace-normalized text (exact-dup
    key) and a 3-gram min-hash fingerprint (rolling-window content hash)."""
    from dbt_tpch_spark.operators.dedup import (
        _doc_parallelism,
        shingle_col,
    )

    d = ctx.source("documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    # tokens materialize behind the repartition barrier (CollapseProject
    # hazard — see dedup.tokens_df); positional (non-distinct) shingles
    base = d.select(
        "doc_id", norm.alias("norm_text"), F.split(norm, " ").alias("toks")
    ).repartition(_doc_parallelism(ctx), "doc_id")
    shingles = shingle_col(3, distinct=False)
    return base.select(
        "doc_id",
        F.md5(F.col("norm_text")).alias("exact_fp"),
        F.array_min(F.transform(shingles, F.md5)).alias("minhash_fp"),
        F.size(shingles).cast("long").alias("n_shingles"),
    )


oracle(
    "doc_fingerprints",
    ("documents",),
    r"""WITH base AS (
    SELECT
        doc_id,
        regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm,
        string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
    FROM documents
),
sh AS (
    SELECT
        doc_id,
        norm,
        CASE WHEN len(toks) >= 3
             THEN list_transform(range(1, len(toks) - 1),
                                 i -> array_to_string(list_slice(toks, i, i + 2), ' '))
             ELSE [] END AS shingles
    FROM base
)
SELECT
    doc_id,
    md5(norm) AS exact_fp,
    list_min(list_transform(shingles, s -> md5(s))) AS minhash_fp,
    CAST(len(shingles) AS BIGINT) AS n_shingles
FROM sh""",
)


@model("doc_unigram_surprisal", layer="operators", materialization="view")
def doc_unigram_surprisal(ctx):
    """Per-document mean unigram surprisal (-ln p(w) under the corpus
    unigram LM, add-one smoothed) — the cheap language-model quality score
    of a pretraining pipeline: word-salad and boilerplate docs sit at the
    distribution's tails.

    Scale shape: one token explode -> (doc, term) aggregate; the unigram
    model (vocabulary-sized) broadcasts; corpus totals ride the 1-row
    broadcast. Per-token surprisals are rnd-quantized then decimal-summed
    (dsum) so the per-doc mean is accumulation-order-free."""
    from dbt_tpch_spark.functions import dsum

    d = ctx.source("documents")
    toks = d.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("term"),
    )
    dtf = toks.groupBy("doc_id", "lang", "term").agg(
        F.count("*").cast("long").alias("tf")
    )
    ug = dtf.groupBy("term").agg(F.sum("tf").cast("long").alias("c_w"))
    totals = ug.agg(
        F.sum("c_w").cast("double").alias("n_tokens"),
        F.count(F.lit(1)).cast("double").alias("vocab"),
    )
    # add-one smoothing: p(w) = (c_w + 1) / (N + V)
    surprisal = -F.log(
        (F.col("c_w") + F.lit(1.0)) / (F.col("n_tokens") + F.col("vocab"))
    )
    # the unigram LM is vocab-grain (Heaps-law growth): hint-free, AQE
    # broadcasts it while small and demotes at scale
    scored = (
        dtf.join(ug, "term")
        .crossJoin(F.broadcast(totals))
        .withColumn("tok_surprisal", rnd(surprisal, 6))
    )
    return scored.groupBy("doc_id", "lang").agg(
        F.sum("tf").cast("long").alias("n_tokens_doc"),
        rnd(
            dsum(F.col("tok_surprisal") * F.col("tf"))
            / F.sum("tf").cast("double"),
            6,
        ).alias("mean_surprisal"),
    )


oracle(
    "doc_unigram_surprisal",
    ("documents",),
    f"""WITH toks AS (
    SELECT doc_id, lang,
           unnest(string_split(lower(trim(text)), ' ')) AS term
    FROM documents
),
dtf AS (
    SELECT doc_id, lang, term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM toks GROUP BY 1, 2, 3
),
ug AS (
    SELECT term, CAST(SUM(tf) AS BIGINT) AS c_w FROM dtf GROUP BY 1
),
tot AS (
    SELECT CAST(SUM(c_w) AS DOUBLE) AS n_tokens,
           CAST(COUNT(*) AS DOUBLE) AS vocab
    FROM ug
),
scored AS (
    SELECT d.doc_id, d.lang, d.tf,
           {rnd_sql('-ln((u.c_w + 1.0) / (t.n_tokens + t.vocab))', 6)}
               AS tok_surprisal
    FROM dtf d
    JOIN ug u ON d.term = u.term
    CROSS JOIN tot t
)
SELECT
    doc_id,
    lang,
    CAST(SUM(tf) AS BIGINT) AS n_tokens_doc,
    {rnd_sql(
        "CAST(SUM(CAST((tok_surprisal * tf) AS DECIMAL(27,6))) AS DOUBLE)"
        " / CAST(SUM(tf) AS DOUBLE)",
        6,
    )} AS mean_surprisal
FROM scored
GROUP BY 1, 2""",
)


# --------------------------------------------------------------------------
# repetition-based quality signals (Gopher-style rules)
# --------------------------------------------------------------------------

#: Gopher-rule thresholds (Rae et al. 2021, "Scaling Language Models" §A1.1
#: give the spirit; exact cutoffs tuned to the synthetic corpus)
REP_DUP_WORD_MAX = 0.6
REP_RUN_MAX = 2


@model("doc_repetition_stats", layer="operators", materialization="view")
def doc_repetition_stats(ctx):
    """Per-document repetition signals — the quality-filter family that
    catches boilerplate/looping text which length or stopword ratios miss
    (Gopher-style rules): duplicate-word ratio, most-frequent-word and
    most-frequent-bigram mass, longest consecutive same-word run, and the
    resulting keep/drop flag.

    Only the max COUNTS are reported (never the argmax token — ties would
    make the winning token engine-order-dependent). Runs are found with a
    consecutive-equality fold (the in-row twin of the islands trick:
    pos - row_number within (doc, word) is constant exactly along a
    consecutive run).

    Scale (round-11 rewrite): every reported signal is a per-document
    function of that document's own word array, so the whole query is ONE
    projection over the corpus scan — no explode, no window, no
    aggregation, ZERO exchanges (pinned in tests/test_plan_budgets.py).
    Frequency maxima come from run-length folds over the array_sort'ed
    word/bigram arrays (sorting groups equal tokens adjacently — only
    equality matters, so collation is irrelevant); the longest
    consecutive run is the same fold over the UNSORTED array. The folds
    are exact integer counts over the same ``split(lower(trim(text)))``
    tokens the exploded form produced, so every output value is
    bit-identical. Per-row cost is O(words log words) — the same bound
    the old per-branch sorts paid, without shuffling token-grain rows.

    Grain subtlety preserved from the exploded form: a document with a
    single word has no bigram rows, and the old inner join on the bigram
    branch therefore DROPPED it (the oracle does the same) — the rewrite
    keeps that with an explicit ``size(ws) >= 2`` filter."""

    def _max_run(arr):
        # longest run of consecutive equal elements: fold carrying
        # (previous element, current run length, best run length).
        # split() never yields NULL elements, so prev IS NULL only marks
        # the initial accumulator.
        return F.expr(
            f"aggregate({arr},"
            " struct(CAST(NULL AS STRING) AS prev, CAST(0 AS BIGINT) AS run,"
            "        CAST(0 AS BIGINT) AS best),"
            " (acc, x) -> CASE WHEN acc.prev <=> x THEN"
            "   struct(x AS prev, acc.run + 1L AS run,"
            "          greatest(acc.best, acc.run + 1L) AS best)"
            " ELSE struct(x AS prev, 1L AS run,"
            "             greatest(acc.best, 1L) AS best) END,"
            " acc -> acc.best)"
        )

    d = ctx.source("documents").select("doc_id", "lang", "text")
    ws = (
        d.withColumn("ws", F.split(F.lower(F.trim(F.col("text"))), " "))
        # the exploded form emitted no bigram row for single-word docs and
        # its inner join dropped them — same membership here
        .filter(F.size("ws") >= 2)
        .withColumn(
            "bg",
            F.expr(
                "zip_with("
                " slice(ws, 1, size(ws) - 1),"
                " slice(ws, 2, size(ws) - 1),"
                " (x, y) -> concat(x, ' ', y))"
            ),
        )
    )
    stats = ws.select(
        "doc_id",
        "lang",
        F.size("ws").cast("long").alias("n_words"),
        F.size(F.array_distinct("ws")).cast("long").alias("n_distinct_words"),
        _max_run("array_sort(ws)").alias("top_word_count"),
        _max_run("array_sort(bg)").alias("top_bigram_count"),
        _max_run("ws").alias("max_run_len"),
    )
    dup_ratio = (
        F.lit(1.0)
        - F.col("n_distinct_words") / F.col("n_words").cast("double")
    )
    return (
        stats.select(
            "doc_id",
            "lang",
            "n_words",
            "n_distinct_words",
            rnd(dup_ratio, 6).alias("dup_word_ratio"),
            rnd(
                F.col("top_word_count") / F.col("n_words").cast("double"), 6
            ).alias("top_word_fraction"),
            rnd(
                F.col("top_bigram_count")
                / (F.col("n_words") - 1).cast("double"),
                6,
            ).alias("top_bigram_fraction"),
            "max_run_len",
            (
                (dup_ratio > REP_DUP_WORD_MAX)
                | (F.col("max_run_len") > REP_RUN_MAX)
            ).alias("repetition_flag"),
        )
    )


oracle(
    "doc_repetition_stats",
    ("documents",),
    f"""WITH words AS (
    SELECT doc_id, lang,
           unnest(string_split(lower(trim(text)), ' ')) AS word,
           generate_subscripts(string_split(lower(trim(text)), ' '), 1) AS pos
    FROM documents
),
runs AS (
    SELECT doc_id, CAST(MAX(run_len) AS BIGINT) AS max_run_len
    FROM (
        SELECT doc_id, word, island, COUNT(*) AS run_len
        FROM (
            SELECT doc_id, word, pos,
                   pos - ROW_NUMBER() OVER (
                       PARTITION BY doc_id, word ORDER BY pos
                   ) AS island
            FROM words
        )
        GROUP BY doc_id, word, island
    )
    GROUP BY doc_id
),
wc AS (
    SELECT doc_id, lang, word, COUNT(*) AS n
    FROM words GROUP BY 1, 2, 3
),
base AS (
    SELECT doc_id, lang,
           CAST(SUM(n) AS BIGINT) AS n_words,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_words,
           CAST(MAX(n) AS BIGINT) AS top_word_count
    FROM wc GROUP BY 1, 2
),
bigrams AS (
    SELECT a.doc_id, CAST(MAX(n) AS BIGINT) AS top_bigram_count
    FROM (
        SELECT x.doc_id, concat(x.word, ' ', y.word) AS bigram, COUNT(*) AS n
        FROM words x
        JOIN words y ON x.doc_id = y.doc_id AND y.pos = x.pos + 1
        GROUP BY 1, 2
    ) a
    GROUP BY a.doc_id
)
SELECT
    b.doc_id,
    b.lang,
    b.n_words,
    b.n_distinct_words,
    {rnd_sql('1.0 - b.n_distinct_words / CAST(b.n_words AS DOUBLE)', 6)} AS dup_word_ratio,
    {rnd_sql('b.top_word_count / CAST(b.n_words AS DOUBLE)', 6)} AS top_word_fraction,
    {rnd_sql('g.top_bigram_count / CAST(b.n_words - 1 AS DOUBLE)', 6)} AS top_bigram_fraction,
    r.max_run_len,
    ((1.0 - b.n_distinct_words / CAST(b.n_words AS DOUBLE)) > {REP_DUP_WORD_MAX}
     OR r.max_run_len > {REP_RUN_MAX}) AS repetition_flag
FROM base b
JOIN runs r ON b.doc_id = r.doc_id
JOIN bigrams g ON b.doc_id = g.doc_id""",
)


# --------------------------------------------------------------------------
# BPE merge-candidate scan (distributed tokenizer-training step)
# --------------------------------------------------------------------------

BPE_TOP_MERGES = 20


@model("doc_bpe_merges", layer="operators", materialization="view")
def doc_bpe_merges(ctx):
    """The first step of BPE tokenizer training as a query: adjacent
    character-pair frequencies over the corpus (weighted by word
    occurrence counts, the classic word-type x count formulation) and the
    BPE_TOP_MERGES best merge candidates. A full BPE trainer loops this
    scan with re-segmentation; the expensive distributed part — the
    corpus-wide pair census — is exactly this plan, re-run per merge round
    on the (small) word-type table.

    Scale: the corpus collapses to the word-type table first (one shuffle,
    map-side combined), so pair expansion runs over distinct words (vocab,
    ~log corpus), not raw tokens. The final ranking window is
    unpartitioned but runs over the aggregated pair table (alphabet^2
    bounded)."""
    from pyspark.sql.window import Window

    d = ctx.source("documents")
    words = d.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("word")
    )
    wc = words.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
    pairs = (
        wc.filter(F.length("word") >= 2)
        .select(
            "word",
            "n",
            F.explode(
                F.sequence(F.lit(1), F.length("word") - 1)
            ).alias("i"),
        )
        .select("word", "n", F.expr("substr(word, i, 2)").alias("pair"))
    )
    agg = pairs.groupBy("pair").agg(
        F.sum("n").cast("long").alias("n_occurrences"),
        F.countDistinct("word").cast("long").alias("n_word_types"),
    )
    w = Window.orderBy(F.col("n_occurrences").desc(), F.col("pair"))
    return (
        agg.withColumn("merge_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("merge_rank") <= BPE_TOP_MERGES)
        .select("merge_rank", "pair", "n_occurrences", "n_word_types")
    )


oracle(
    "doc_bpe_merges",
    ("documents",),
    f"""WITH words AS (
    SELECT unnest(string_split(lower(trim(text)), ' ')) AS word
    FROM documents
),
wc AS (
    SELECT word, COUNT(*) AS n FROM words GROUP BY 1
),
pairs AS (
    SELECT substr(word, CAST(i AS INTEGER), 2) AS pair, n, word
    FROM (
        SELECT word, n, unnest(range(1, length(word))) AS i
        FROM wc WHERE length(word) >= 2
    )
),
agg AS (
    SELECT pair,
           CAST(SUM(n) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT word) AS BIGINT) AS n_word_types
    FROM pairs GROUP BY 1
)
SELECT
    CAST(ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, pair) AS BIGINT)
        AS merge_rank,
    pair, n_occurrences, n_word_types
FROM agg
QUALIFY merge_rank <= {BPE_TOP_MERGES}""",
)


# --------------------------------------------------------------------------
# PII / log scrubbing (regexp redaction cascade)
# --------------------------------------------------------------------------

#: redaction patterns, applied in order (most-specific first so an email's
#: digits aren't pre-consumed by the number rule). RE2-safe syntax only —
#: DuckDB is RE2; Java regex accepts the same subset — so both engines run
#: the identical pattern text.
PII_PATTERNS = (
    ("email", r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}", "<EMAIL>"),
    ("ipv4", r"([0-9]{1,3}\.){3}[0-9]{1,3}", "<IP>"),
    ("number", r"[0-9]+", "<NUM>"),
)


@model("events_props_redaction", layer="operators", materialization="view")
def events_props_redaction(ctx):
    """PII scrubbing over the structured event-log payload (``props``) —
    the log-to-training-data redaction pass: count and redact emails,
    IPv4 literals, and digit runs with an ordered regexp cascade. The
    driver corpus's props exercise the number branch (JSON int values);
    the email/IP branches are structurally identical and share the same
    cascade machinery.

    Each category is counted on the PROGRESSIVELY-REDACTED text (after the
    previous patterns' replacements), so the counts agree with the replace
    cascade: a digit run inside an already-redacted email/IP is not also
    counted as a number.

    Pure per-row JVM regex (zero Python UDFs, zero shuffles) — the scrub
    pass at 100 TB is a map-only scan, exactly this plan."""
    e = ctx.source("events")
    stage = F.lower(F.col("props"))
    counts = {}
    for name, pat, token in PII_PATTERNS:
        counts[name] = F.size(
            F.regexp_extract_all(stage, F.lit(pat), 0)
        ).cast("long")
        stage = F.regexp_replace(stage, pat, token)
    redacted = stage
    return e.select(
        "event_id",
        "user_id",
        "event_type",
        *[c.alias(f"n_{name}") for name, c in counts.items()],
        redacted.alias("redacted_props"),
        (sum(counts.values()) > 0).alias("had_pii"),
    )


def _pii_oracle() -> str:
    # mirror the Spark cascade: each category counts on the text AFTER the
    # previous patterns' replacements
    stage = "lower(props)"
    count_exprs, totals = [], []
    for name, pat, token in PII_PATTERNS:
        count_exprs.append(
            f"CAST(len(regexp_extract_all({stage}, '{pat}')) AS BIGINT) AS n_{name}"
        )
        totals.append(f"len(regexp_extract_all({stage}, '{pat}'))")
        stage = f"regexp_replace({stage}, '{pat}', '{token}', 'g')"
    count_cols = ",\n    ".join(count_exprs)
    red = stage
    total = " + ".join(totals)
    return f"""SELECT
    event_id,
    user_id,
    event_type,
    {count_cols},
    {red} AS redacted_props,
    ({total}) > 0 AS had_pii
FROM events"""


oracle("events_props_redaction", ("events",), _pii_oracle())


@model("lang_tokenizer_fertility", layer="operators", materialization="view")
def lang_tokenizer_fertility(ctx):
    """Per-language tokenizer-fertility diagnostics: characters per
    BPE-ish token, BPE tokens per whitespace word, and corpus share — the
    standard check that a tokenizer does not tax some languages with 2-3x
    the tokens per character (fertility) of others. Integer count sums
    (exact), ratios formed once at language grain."""
    d = ctx.source("documents")
    ltext = F.lower(F.trim(F.col("text")))
    n_words = F.size(F.split(ltext, " ")).cast("long")
    n_bpe = F.size(F.regexp_extract_all(ltext, F.lit(BPE_PATTERN), 0)).cast("long")
    n_chars = F.length(F.col("text")).cast("long")
    per_doc = d.select(
        "lang",
        n_words.alias("w"),
        n_bpe.alias("b"),
        n_chars.alias("c"),
    )
    agg = per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("w").cast("long").alias("n_words"),
        F.sum("b").cast("long").alias("n_bpe_tokens"),
        F.sum("c").cast("long").alias("n_chars"),
    )
    total = agg.agg(F.sum("n_bpe_tokens").cast("double").alias("total_bpe"))
    return agg.crossJoin(F.broadcast(total)).select(
        "lang",
        "n_docs",
        "n_words",
        "n_bpe_tokens",
        "n_chars",
        rnd(F.col("n_chars") / F.col("n_bpe_tokens").cast("double"), 6).alias(
            "chars_per_token"
        ),
        rnd(
            F.col("n_bpe_tokens") / F.col("n_words").cast("double"), 6
        ).alias("tokens_per_word"),
        rnd(F.col("n_bpe_tokens") / F.col("total_bpe"), 6).alias(
            "token_share"
        ),
    )


oracle(
    "lang_tokenizer_fertility",
    ("documents",),
    f"""WITH per_doc AS (
    SELECT lang,
           CAST(len(string_split(lower(trim(text)), ' ')) AS BIGINT) AS w,
           CAST(len(regexp_extract_all(lower(trim(text)), '{BPE_PATTERN}')) AS BIGINT) AS b,
           CAST(length(text) AS BIGINT) AS c
    FROM documents
),
agg AS (
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(w) AS BIGINT) AS n_words,
           CAST(SUM(b) AS BIGINT) AS n_bpe_tokens,
           CAST(SUM(c) AS BIGINT) AS n_chars
    FROM per_doc GROUP BY 1
),
tot AS (
    SELECT CAST(SUM(n_bpe_tokens) AS DOUBLE) AS total_bpe FROM agg
)
SELECT
    lang,
    n_docs,
    n_words,
    n_bpe_tokens,
    n_chars,
    {rnd_sql('n_chars / CAST(n_bpe_tokens AS DOUBLE)', 6)} AS chars_per_token,
    {rnd_sql('n_bpe_tokens / CAST(n_words AS DOUBLE)', 6)} AS tokens_per_word,
    {rnd_sql('n_bpe_tokens / total_bpe', 6)} AS token_share
FROM agg CROSS JOIN tot""",
)


@model("doc_bigram_surprisal", layer="operators", materialization="view")
def doc_bigram_surprisal(ctx):
    """Per-document mean bigram surprisal -ln p(w | prev) under the
    add-one-smoothed corpus bigram LM — the conditional upgrade of
    doc_unigram_surprisal: word-salad text scores high here even when its
    unigram mix looks normal, because transitions carry the signal.

    Scale: one positional-bigram explode -> (doc, prev, w) aggregate; the
    bigram and context-count models broadcast (vocab²-bounded); vocabulary
    size rides a 1-row broadcast. Per-token surprisals are 9-dp quantized
    then decimal-summed, so the per-doc mean is accumulation-order-free."""
    from dbt_tpch_spark.functions import dsum

    d = ctx.source("documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), " ")
    bigrams = d.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "zip_with("
                " slice(split(lower(trim(text)), ' '), 1,"
                "       size(split(lower(trim(text)), ' ')) - 1),"
                " slice(split(lower(trim(text)), ' '), 2,"
                "       size(split(lower(trim(text)), ' ')) - 1),"
                " (x, y) -> struct(x AS prev, y AS w))"
            )
        ).alias("bg"),
    ).select("doc_id", "lang", F.col("bg.prev").alias("prev"), F.col("bg.w").alias("w"))
    # three consumers (bigram model, context model, scoring join) — the
    # (doc, prev, w) tf table is the artifact an LM pipeline persists, so
    # materialize it once rather than re-exploding the corpus per consumer
    dtf = (
        bigrams.groupBy("doc_id", "lang", "prev", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .transform(barrier)
    )
    bc = dtf.groupBy("prev", "w").agg(F.sum("tf").cast("long").alias("c_bg"))
    cc = bc.groupBy("prev").agg(F.sum("c_bg").cast("long").alias("c_prev"))
    vocab = (
        d.select(F.explode(toks).alias("term"))
        .agg(F.countDistinct("term").cast("double").alias("v"))
    )
    surprisal = -F.log(
        (F.col("c_bg") + F.lit(1.0)) / (F.col("c_prev") + F.col("v"))
    )
    # bigram/context LMs are vocab-grain (bigram table grows faster than
    # Heaps): hint-free, AQE decides by measured size; vocab is one row
    scored = (
        dtf.join(bc, ["prev", "w"])
        .join(cc, "prev")
        .crossJoin(F.broadcast(vocab))
        .withColumn("tok_surprisal", rnd(surprisal, 9))
    )
    return scored.groupBy("doc_id", "lang").agg(
        F.sum("tf").cast("long").alias("n_bigrams"),
        rnd(
            dsum(F.col("tok_surprisal") * F.col("tf"))
            / F.sum("tf").cast("double"),
            6,
        ).alias("mean_bigram_surprisal"),
    )


def _bigram_surprisal_oracle() -> str:
    from dbt_tpch_spark.models.oracle import dsum_sql

    return f"""WITH toks AS (
    SELECT doc_id, lang,
           unnest(string_split(lower(trim(text)), ' ')) AS w,
           generate_subscripts(string_split(lower(trim(text)), ' '), 1) AS pos
    FROM documents
),
bigrams AS (
    SELECT a.doc_id, a.lang, a.w AS prev, b.w AS w
    FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
dtf AS (
    SELECT doc_id, lang, prev, w, CAST(COUNT(*) AS BIGINT) AS tf
    FROM bigrams GROUP BY 1, 2, 3, 4
),
bc AS (
    SELECT prev, w, CAST(SUM(tf) AS BIGINT) AS c_bg FROM dtf GROUP BY 1, 2
),
cc AS (
    SELECT prev, CAST(SUM(c_bg) AS BIGINT) AS c_prev FROM bc GROUP BY 1
),
vocab AS (
    SELECT CAST(COUNT(DISTINCT w) AS DOUBLE) AS v FROM toks
),
scored AS (
    SELECT d.doc_id, d.lang, d.tf,
           {rnd_sql('-ln((b.c_bg + 1.0) / (c.c_prev + vb.v))', 9)}
               AS tok_surprisal
    FROM dtf d
    JOIN bc b ON d.prev = b.prev AND d.w = b.w
    JOIN cc c ON d.prev = c.prev
    CROSS JOIN vocab vb
)
SELECT
    doc_id,
    lang,
    CAST(SUM(tf) AS BIGINT) AS n_bigrams,
    {rnd_sql(
        "CAST(SUM(CAST((tok_surprisal * tf) AS DECIMAL(27,6))) AS DOUBLE)"
        " / CAST(SUM(tf) AS DOUBLE)",
        6,
    )} AS mean_bigram_surprisal
FROM scored
GROUP BY 1, 2"""


oracle("doc_bigram_surprisal", ("documents",), _bigram_surprisal_oracle())


# --------------------------------------------------------------------------
# model-based quality filter (logistic scorer with swappable weights)
# --------------------------------------------------------------------------

#: fixed logistic weights (bias, length, lexical diversity, stopwords,
#: punctuation). Stand-ins for a trained fastText-style quality
#: classifier: a real deployment exports its linear head here and the
#: whole stage — feature extraction, score, threshold — stays this exact
#: plan. Kept as literals so both engines run identical arithmetic.
QC_WEIGHTS = (-1.0, 2.0, 1.5, 1.0, -3.0)
QC_KEEP_THRESHOLD = 0.5


def doc_quality_cols() -> dict:
    """The rule-based and classifier quality expressions over ``text`` as
    named Columns — the single source of truth shared by
    ``doc_text_stats``, ``doc_quality_classifier``, and the classifier
    evals (operators/modeleval.py), so an eval can read BOTH the score
    and its ground-truth label from one map-only scan instead of a
    doc_id self-join of two projections of the same table (two
    corpus-grain shuffles at 100 TB). Unused entries cost nothing —
    Catalyst prunes columns that are never selected."""
    ltext = F.lower(F.trim(F.col("text")))
    words = F.split(ltext, " ")
    n_tokens = F.size(words).cast("long")
    n_chars = F.length(F.col("text")).cast("long")
    n_stop = F.size(F.filter(words, lambda w: w.isin(*STOPWORDS))).cast(
        "long"
    )
    punct_chars = F.length(F.regexp_replace(ltext, "[a-z0-9 ]", "")).cast(
        "long"
    )
    punct_ratio = punct_chars.cast("double") / F.nullif(n_chars, F.lit(0))
    stop_ratio = n_stop.cast("double") / F.nullif(n_tokens, F.lit(0))
    quality_score = rnd(
        F.lit(0.4) * F.least(n_tokens.cast("double") / 100.0, F.lit(1.0))
        + F.lit(0.3) * (F.lit(1.0) - punct_ratio)
        + F.lit(0.3) * stop_ratio,
        6,
    )
    x_len = F.least(n_tokens.cast("double") / F.lit(100.0), F.lit(1.0))
    x_div = F.size(F.array_distinct(words)).cast("double") / F.nullif(
        n_tokens, F.lit(0)
    )
    x_punct = punct_chars.cast("double") / F.nullif(n_chars, F.lit(0))
    w0, w1, w2, w3, w4 = QC_WEIGHTS
    logit = rnd(
        F.lit(w0)
        + F.lit(w1) * x_len
        + F.lit(w2) * x_div
        + F.lit(w3) * stop_ratio
        + F.lit(w4) * x_punct,
        6,
    )
    quality_prob = rnd(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6)
    return {
        "n_tokens": n_tokens,
        "n_chars": n_chars,
        "punct_ratio": punct_ratio,
        "stop_ratio": stop_ratio,
        "quality_score": quality_score,
        "x_len": x_len,
        "x_div": x_div,
        "x_stop": stop_ratio,
        "x_punct": x_punct,
        "logit": logit,
        "quality_prob": quality_prob,
    }


@model("doc_quality_classifier", layer="operators", materialization="view")
def doc_quality_classifier(ctx):
    """Model-based quality filtering: per-document logistic score
    sigmoid(w·x) over the standard cheap features (capped length, lexical
    diversity, stopword ratio, punctuation ratio) with a keep/drop verdict
    at QC_KEEP_THRESHOLD — the classifier-filter stage of a pretraining
    pipeline (CCNet/fastText-style) as a map-only scan, zero shuffles.

    Determinism: the logit is 6-dp-quantized before the sigmoid so a
    sub-ULP libm exp() divergence cannot flip the rounded output."""
    d = ctx.source("documents")
    c = doc_quality_cols()
    return d.select(
        "doc_id",
        "lang",
        "source",
        rnd(c["x_len"], 6).alias("x_length"),
        rnd(c["x_div"], 6).alias("x_diversity"),
        rnd(c["x_stop"], 6).alias("x_stopword"),
        rnd(c["x_punct"], 6).alias("x_punct"),
        c["logit"].alias("logit"),
        c["quality_prob"].alias("quality_prob"),
        (c["quality_prob"] >= F.lit(QC_KEEP_THRESHOLD)).alias("keep"),
    )


def _qc_oracle() -> str:
    w0, w1, w2, w3, w4 = QC_WEIGHTS
    z = (
        f"{w0} + {w1} * least(CAST(len(words) AS DOUBLE) / 100.0, 1.0)"
        f" + {w2} * (CAST(len(list_distinct(words)) AS DOUBLE)"
        " / NULLIF(len(words), 0))"
        f" + {w3} * (CAST(len(list_filter(words, w -> w IN"
        f" ({_sql_list(STOPWORDS)}))) AS DOUBLE) / NULLIF(len(words), 0))"
        f" + {w4} * (CAST(length(regexp_replace(ltext, '[a-z0-9 ]', '', 'g'))"
        " AS DOUBLE) / NULLIF(CAST(length(text) AS BIGINT), 0))"
    )
    zq = rnd_sql(z, 6)
    p = rnd_sql(f"1.0 / (1.0 + exp(-({zq})))", 6)
    return f"""WITH base AS (
    SELECT doc_id, lang, source, text,
           lower(trim(text)) AS ltext,
           string_split(lower(trim(text)), ' ') AS words
    FROM documents
)
SELECT
    doc_id,
    lang,
    source,
    {rnd_sql('least(CAST(len(words) AS DOUBLE) / 100.0, 1.0)', 6)} AS x_length,
    {rnd_sql('CAST(len(list_distinct(words)) AS DOUBLE) / NULLIF(len(words), 0)', 6)} AS x_diversity,
    {rnd_sql(f'CAST(len(list_filter(words, w -> w IN ({_sql_list(STOPWORDS)}))) AS DOUBLE) / NULLIF(len(words), 0)', 6)} AS x_stopword,
    {rnd_sql("CAST(length(regexp_replace(ltext, '[a-z0-9 ]', '', 'g')) AS DOUBLE) / NULLIF(CAST(length(text) AS BIGINT), 0)", 6)} AS x_punct,
    {zq} AS logit,
    {p} AS quality_prob,
    ({p}) >= {QC_KEEP_THRESHOLD} AS keep
FROM base"""


oracle("doc_quality_classifier", ("documents",), _qc_oracle())


# --------------------------------------------------------------------------
# DSIR-style importance weights: target-domain vs corpus likelihood ratio
# --------------------------------------------------------------------------

#: the "target domain" whose distribution the resampling should match
DSIR_TARGET_LANG = "en"


@model("docs_dsir_weights", layer="operators", materialization="view")
def docs_dsir_weights(ctx):
    """Data Selection with Importance Resampling (Xie et al., NeurIPS'23)
    reduced to its unigram-LM core: every document's importance weight is
    its average per-token log-likelihood ratio between a TARGET-domain
    unigram LM (here: the ``DSIR_TARGET_LANG`` slice, standing in for
    "high-quality domain") and the full-corpus unigram LM, both add-one
    smoothed over the shared corpus vocabulary:

        avg_lr(d) = (1/|d|) * sum_w tf(w,d) * ln(p_target(w) / p_corpus(w))

    Positive means "more target-like than the corpus average" — the
    upweight set a domain-matching resampler would prefer. This composes
    with docs_sample_weighted / docs_mixture_temperature for the actual
    resampling pass.

    Scale shape: one token explode -> (doc, term) aggregate; both LMs are
    vocabulary-grain aggregates joined hint-free (AQE broadcasts them
    while small; Heaps-law growth rules out a hard hint); totals ride
    1-row broadcasts.
    Per-token ratios are 6-dp-quantized then decimal-summed so the
    per-doc average is accumulation-order-free."""
    from dbt_tpch_spark.functions import dsum

    d = ctx.source("documents")
    toks = d.select(
        "doc_id",
        "lang",
        "source",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("term"),
    )
    # the (doc, term) tf table feeds THREE consumers (corpus LM, target LM,
    # scoring); materialize it once — same post-materialization convention
    # as the bigram-LM feedstock (doc_bigram_surprisal)
    dtf = (
        toks.groupBy("doc_id", "lang", "source", "term")
        .agg(F.count("*").cast("long").alias("tf"))
        .transform(barrier)
    )
    ug_c = dtf.groupBy("term").agg(F.sum("tf").cast("long").alias("c_c"))
    ug_t = (
        dtf.filter(F.col("lang") == DSIR_TARGET_LANG)
        .groupBy("term")
        .agg(F.sum("tf").cast("long").alias("c_t"))
    )
    totals = ug_c.agg(
        F.sum("c_c").cast("double").alias("n_c"),
        F.count(F.lit(1)).cast("double").alias("vocab"),
    ).crossJoin(ug_t.agg(F.sum("c_t").cast("double").alias("n_t")))
    p_t = (F.coalesce(F.col("c_t"), F.lit(0)) + F.lit(1.0)) / (
        F.col("n_t") + F.col("vocab")
    )
    p_c = (F.col("c_c") + F.lit(1.0)) / (F.col("n_c") + F.col("vocab"))
    # both unigram LMs are vocab-grain: hint-free, AQE decides by
    # measured size (Heaps-law growth rules out a hard hint)
    scored = (
        dtf.join(ug_c, "term")
        .join(ug_t, "term", "left")
        .crossJoin(F.broadcast(totals))
        .withColumn("tok_lr", rnd(F.log(p_t / p_c), 6))
    )
    avg_lr = rnd(
        dsum(F.col("tok_lr") * F.col("tf")) / F.sum("tf").cast("double"), 6
    )
    return scored.groupBy("doc_id", "lang", "source").agg(
        F.sum("tf").cast("long").alias("n_tokens_doc"),
        avg_lr.alias("avg_log_ratio"),
        (avg_lr > 0).alias("is_upweighted"),
    )


oracle(
    "docs_dsir_weights",
    ("documents",),
    f"""WITH toks AS (
    SELECT doc_id, lang, source,
           unnest(string_split(lower(trim(text)), ' ')) AS term
    FROM documents
),
dtf AS (
    SELECT doc_id, lang, source, term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM toks GROUP BY 1, 2, 3, 4
),
ug_c AS (
    SELECT term, CAST(SUM(tf) AS BIGINT) AS c_c FROM dtf GROUP BY 1
),
ug_t AS (
    SELECT term, CAST(SUM(tf) AS BIGINT) AS c_t
    FROM dtf WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY 1
),
totals AS (
    SELECT
        (SELECT CAST(SUM(c_c) AS DOUBLE) FROM ug_c) AS n_c,
        (SELECT CAST(COUNT(*) AS DOUBLE) FROM ug_c) AS vocab,
        (SELECT CAST(SUM(c_t) AS DOUBLE) FROM ug_t) AS n_t
),
scored AS (
    SELECT
        d.doc_id, d.lang, d.source, d.tf,
        {rnd_sql(
            'LN((( COALESCE(t.c_t, 0) + 1.0) / (x.n_t + x.vocab)) '
            '/ ((c.c_c + 1.0) / (x.n_c + x.vocab)))', 6
        )} AS tok_lr
    FROM dtf d
    JOIN ug_c c USING (term)
    LEFT JOIN ug_t t USING (term)
    CROSS JOIN totals x
)
SELECT
    doc_id, lang, source,
    CAST(SUM(tf) AS BIGINT) AS n_tokens_doc,
    {rnd_sql(f"{dsum_sql('tok_lr * tf')} / CAST(SUM(tf) AS DOUBLE)", 6)} AS avg_log_ratio,
    {rnd_sql(f"{dsum_sql('tok_lr * tf')} / CAST(SUM(tf) AS DOUBLE)", 6)} > 0 AS is_upweighted
FROM scored
GROUP BY 1, 2, 3""",
)


# --------------------------------------------------------------------------
# held-out bigram-LM perplexity (train split -> eval split)
# --------------------------------------------------------------------------

#: split convention shared with docs_split_assign (operators/sampling.py):
#: md5('split|'||doc_id) first hex digit 0-d = train (14/16), e-f = eval
LM_SPLIT_SALT = "split|"
LM_TRAIN_BOUND = "e"


@model("lm_heldout_perplexity", layer="operators", materialization="view")
def lm_heldout_perplexity(ctx):
    """Held-out perplexity of the add-one-smoothed bigram LM: the model
    trains on the deterministic train split (the docs_split_assign
    convention) and is evaluated on the held-out sixteenths — the honest
    generalization number, where doc_bigram_surprisal scores in-sample.
    Unseen eval bigrams/contexts fall back to the smoothing mass
    ((0+1)/(0+V)) instead of crashing — exactly what add-one is for.
    One row: split sizes, eval bigram count, train vocabulary, mean
    held-out NLL, and perplexity = exp(NLL).

    Scale: same feedstock shape as doc_bigram_surprisal (one positional
    bigram explode, vocab²-bounded LM broadcasts); the split predicate
    is a pure row-local md5 — no split materialization needed."""
    from dbt_tpch_spark.functions import dsum

    d = ctx.source("documents")
    skey = F.md5(F.concat(F.lit(LM_SPLIT_SALT), F.col("doc_id").cast("string")))
    d = d.withColumn("is_train", skey < F.lit(LM_TRAIN_BOUND))
    bigrams = d.select(
        "doc_id",
        "is_train",
        F.explode(
            F.expr(
                "zip_with("
                " slice(split(lower(trim(text)), ' '), 1,"
                "       size(split(lower(trim(text)), ' ')) - 1),"
                " slice(split(lower(trim(text)), ' '), 2,"
                "       size(split(lower(trim(text)), ' ')) - 1),"
                " (x, y) -> struct(x AS prev, y AS w))"
            )
        ).alias("bg"),
    ).select(
        "doc_id",
        "is_train",
        F.col("bg.prev").alias("prev"),
        F.col("bg.w").alias("w"),
    )
    dtf = (
        bigrams.groupBy("doc_id", "is_train", "prev", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .transform(barrier)
    )
    train = dtf.filter(F.col("is_train"))
    bc = train.groupBy("prev", "w").agg(F.sum("tf").cast("long").alias("c_bg"))
    cc = bc.groupBy("prev").agg(F.sum("c_bg").cast("long").alias("c_prev"))
    vocab = (
        d.filter(F.col("is_train"))
        .select(
            F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("t")
        )
        .agg(F.countDistinct("t").cast("double").alias("v"))
    )
    counts = d.groupBy().agg(
        F.sum(F.when(F.col("is_train"), 1).otherwise(0))
        .cast("long")
        .alias("n_train_docs"),
        F.sum(F.when(F.col("is_train"), 0).otherwise(1))
        .cast("long")
        .alias("n_eval_docs"),
    )
    nll = -F.log(
        (F.coalesce(F.col("c_bg"), F.lit(0)) + F.lit(1.0))
        / (F.coalesce(F.col("c_prev"), F.lit(0)) + F.col("v"))
    )
    # train LMs are vocab-grain: hint-free, AQE decides; vocab is one row
    scored = (
        dtf.filter(~F.col("is_train"))
        .join(bc, ["prev", "w"], "left")
        .join(cc, "prev", "left")
        .crossJoin(F.broadcast(vocab))
        .withColumn("tok_nll", rnd(nll, 9))
    )
    agg = scored.agg(
        F.sum("tf").cast("long").alias("n_eval_bigrams"),
        (dsum(F.col("tok_nll") * F.col("tf")) / F.sum("tf").cast("double")).alias(
            "_avg"
        ),
        F.any_value(F.col("v")).alias("_v"),
    )
    return agg.crossJoin(F.broadcast(counts)).select(
        "n_train_docs",
        "n_eval_docs",
        "n_eval_bigrams",
        F.col("_v").cast("long").alias("train_vocab"),
        rnd(F.col("_avg"), 6).alias("avg_nll"),
        rnd(F.exp(rnd(F.col("_avg"), 6)), 4).alias("perplexity"),
    )


oracle(
    "lm_heldout_perplexity",
    ("documents",),
    f"""WITH d AS (
    SELECT doc_id, text,
           md5('{LM_SPLIT_SALT}' || CAST(doc_id AS VARCHAR)) < '{LM_TRAIN_BOUND}'
               AS is_train
    FROM documents
),
toks AS (
    SELECT doc_id, is_train,
           unnest(string_split(lower(trim(text)), ' ')) AS w,
           generate_subscripts(string_split(lower(trim(text)), ' '), 1) AS pos
    FROM d
),
pairs AS (
    SELECT a.doc_id, a.is_train, a.w AS prev, b.w AS w
    FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
dtf AS (
    SELECT doc_id, is_train, prev, w, CAST(COUNT(*) AS BIGINT) AS tf
    FROM pairs GROUP BY 1, 2, 3, 4
),
bc AS (
    SELECT prev, w, CAST(SUM(tf) AS BIGINT) AS c_bg
    FROM dtf WHERE is_train GROUP BY 1, 2
),
cc AS (
    SELECT prev, CAST(SUM(c_bg) AS BIGINT) AS c_prev FROM bc GROUP BY 1
),
vocab AS (
    SELECT CAST(COUNT(DISTINCT t) AS DOUBLE) AS v FROM (
        SELECT unnest(string_split(lower(trim(text)), ' ')) AS t
        FROM d WHERE is_train
    )
),
counts AS (
    SELECT
        CAST(SUM(CASE WHEN is_train THEN 1 ELSE 0 END) AS BIGINT) AS n_train_docs,
        CAST(SUM(CASE WHEN is_train THEN 0 ELSE 1 END) AS BIGINT) AS n_eval_docs
    FROM d
),
scored AS (
    SELECT t.tf,
        {rnd_sql(
            '-LN((COALESCE(b.c_bg, 0) + 1.0)'
            ' / (COALESCE(c.c_prev, 0) + v.v))', 9
        )} AS tok_nll,
        v.v
    FROM dtf t
    LEFT JOIN bc b ON t.prev = b.prev AND t.w = b.w
    LEFT JOIN cc c ON t.prev = c.prev
    CROSS JOIN vocab v
    WHERE NOT t.is_train
),
agg AS (
    SELECT
        CAST(SUM(tf) AS BIGINT) AS n_eval_bigrams,
        {dsum_sql('tok_nll * tf')} / CAST(SUM(tf) AS DOUBLE) AS _avg,
        ANY_VALUE(v) AS _v
    FROM scored
)
SELECT
    counts.n_train_docs,
    counts.n_eval_docs,
    agg.n_eval_bigrams,
    CAST(agg._v AS BIGINT) AS train_vocab,
    {rnd_sql('agg._avg', 6)} AS avg_nll,
    {rnd_sql(f"exp({rnd_sql('agg._avg', 6)})", 4)} AS perplexity
FROM agg CROSS JOIN counts""",
)


# --------------------------------------------------------------------------
# Language-ID confusion matrix (evaluation primitive over doc_language_id)
# --------------------------------------------------------------------------


@model("doc_lang_confusion", layer="operators", materialization="view")
def doc_lang_confusion(ctx):
    """Confusion matrix of the marker-word language-ID against the corpus
    label — the evaluation primitive that turns a per-doc classifier into
    reviewable quality numbers (which languages bleed into which). One row
    per (actual, predicted) pair: count, row-share (recall contribution),
    column-share (precision contribution), diagonal flag.

    Scale: the classifier output reduces to a <=|langs|^2-cell frame in
    one aggregation; marginals join back on bounded keys. Everything past
    the (reused) doc_language_id scan is bounded-cardinality."""
    p = ctx.ref("doc_language_id").select("lang", "predicted_lang")
    cm = p.groupBy("lang", "predicted_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    actual = cm.groupBy("lang").agg(F.sum("n").cast("long").alias("n_actual"))
    pred = cm.groupBy("predicted_lang").agg(
        F.sum("n").cast("long").alias("n_predicted")
    )
    return (
        cm.join(actual, "lang")
        .join(pred, "predicted_lang")
        .select(
            "lang",
            "predicted_lang",
            "n",
            "n_actual",
            "n_predicted",
            rnd(F.col("n") / F.col("n_actual"), 9).alias("share_of_actual"),
            rnd(F.col("n") / F.col("n_predicted"), 9).alias("share_of_predicted"),
            (F.col("lang") == F.col("predicted_lang")).alias("is_diagonal"),
        )
    )


oracle(
    "doc_lang_confusion",
    ("documents", "doc_language_id"),
    """WITH cm AS (
    SELECT lang, predicted_lang, CAST(COUNT(*) AS BIGINT) AS n
    FROM doc_language_id GROUP BY 1, 2
),
actual AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS n_actual FROM cm GROUP BY 1),
pred AS (SELECT predicted_lang, CAST(SUM(n) AS BIGINT) AS n_predicted FROM cm GROUP BY 1)
SELECT cm.lang, cm.predicted_lang, cm.n, actual.n_actual, pred.n_predicted,
    (FLOOR((CAST(cm.n AS DOUBLE) / actual.n_actual) * 1000000000.0 + 0.5) / 1000000000.0) AS share_of_actual,
    (FLOOR((CAST(cm.n AS DOUBLE) / pred.n_predicted) * 1000000000.0 + 0.5) / 1000000000.0) AS share_of_predicted,
    (cm.lang = cm.predicted_lang) AS is_diagonal
FROM cm
JOIN actual USING (lang)
JOIN pred USING (predicted_lang)""",
)


# --------------------------------------------------------------------------
# BPE trainer: iterative greedy merges with compression tracking
# --------------------------------------------------------------------------

#: number of greedy merge rounds the trainer runs (each round = one pair
#: census + one re-segmentation of the word-type table).
BPE_ROUNDS = 5
#: merged symbols are single private-use-area codepoints so symbol count
#: stays length() on both engines (U+E001, U+E002, ... per round).
BPE_MERGE_BASE = 0xE000


def _bpe_census(wc):
    """Adjacent symbol-pair census over the word-type table."""
    return (
        wc.filter(F.length("word") >= 2)
        .select(
            "n",
            F.explode(F.sequence(F.lit(1), F.length("word") - 1)).alias("i"),
            F.col("word"),
        )
        .select(F.expr("substr(word, i, 2)").alias("pair"), "n")
        .groupBy("pair")
        .agg(F.sum("n").cast("long").alias("cnt"))
    )


def _bpe_train_loop(wc):
    """Run the greedy merge loop over a ``(word, n)`` word-type frame.

    Factored out of :func:`bpe_train_merges` so tests can drive it with a
    corpus whose round-2 winning pair CONTAINS the round-1 merge symbol
    (the chained-merge case where a mod-256 ``chr`` would diverge from the
    DuckDB oracle's codepoint ``chr``)."""
    syms_of = lambda t: t.agg(  # noqa: E731
        F.sum(F.length("word").cast("long") * F.col("n")).cast("long").alias("syms")
    )
    base = syms_of(wc).withColumnRenamed("syms", "base_syms")
    rounds = []
    cur = wc
    for i in range(1, BPE_ROUNDS + 1):
        best = (
            _bpe_census(cur)
            .orderBy(F.desc("cnt"), "pair")
            .limit(1)
            .select(
                F.col("pair").alias("merged_pair"),
                F.col("cnt").alias("n_occurrences"),
            )
        )
        # Spark's SQL chr() is mod-256 ASCII (chr(57345) == '\x01') while
        # DuckDB's is codepoint-based (U+E001); embed the private-use
        # codepoint as a Python-side literal so both engines use the SAME
        # merge symbol and chained merges stay parity-identical.
        merge_sym = chr(BPE_MERGE_BASE + i)
        cur = (
            cur.crossJoin(F.broadcast(best))
            .select(
                F.replace(
                    F.col("word"), F.col("merged_pair"), F.lit(merge_sym)
                ).alias("word"),
                "n",
            )
            .transform(barrier)
        )
        rounds.append(
            best.crossJoin(syms_of(cur))
            .select(
                F.lit(i).cast("long").alias("round"),
                "merged_pair",
                "n_occurrences",
                F.col("syms").alias("total_symbols"),
            )
        )
    out = rounds[0]
    for r in rounds[1:]:
        out = out.unionByName(r)
    return out.crossJoin(F.broadcast(base)).select(
        "round",
        "merged_pair",
        "n_occurrences",
        "total_symbols",
        rnd(F.col("total_symbols") / F.col("base_syms"), 6).alias(
            "compression_ratio"
        ),
    )


@model("bpe_train_merges", layer="operators", materialization="view")
def bpe_train_merges(ctx):
    """Greedy BPE training, the real loop (Sennrich et al., ACL'16): per
    round, census adjacent symbol pairs over the word-type table weighted
    by occurrence count, merge the most frequent pair (ties broken
    lexicographically) into a fresh private-use codepoint, re-segment, and
    record the corpus compression achieved. ``doc_bpe_merges`` is the
    single-round census; this runs the actual merge iteration and reports
    the learning curve — merged pair, its frequency at selection time, and
    total corpus symbols / compression ratio after each merge.

    Scale shape: the corpus collapses ONCE to the word-type table (the one
    corpus-sized shuffle, map-side combined) and every round after runs on
    that vocabulary-grain frame — pair census (alphabet²-bounded output),
    a 1-row top-1 (TakeOrderedAndProject), a broadcast of that single merge
    rule, and a re-segmentation projection. Each round's word table is
    checkpointed (the pagerank rounds-as-jobs discipline) so lineage does
    not compound. This is exactly how you'd train BPE on 100 TB: the
    corpus pass is once; the loop is vocab-sized."""
    d = ctx.source("documents")
    words = d.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("word")
    )
    wc = (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .transform(barrier)
    )
    return _bpe_train_loop(wc)


def _bpe_oracle() -> str:
    parts = [
        """words AS (
    SELECT unnest(string_split(lower(trim(text)), ' ')) AS word
    FROM documents
),
wc0 AS (
    SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM words GROUP BY 1
),
base AS (
    SELECT CAST(SUM(length(word) * n) AS BIGINT) AS base_syms FROM wc0
)"""
    ]
    selects = []
    for i in range(1, BPE_ROUNDS + 1):
        prev = f"wc{i - 1}"
        parts.append(
            f"""c{i} AS (
    SELECT substr(word, CAST(i AS INTEGER), 2) AS pair,
           CAST(SUM(n) AS BIGINT) AS cnt
    FROM (
        SELECT word, n, unnest(range(1, length(word))) AS i
        FROM {prev} WHERE length(word) >= 2
    )
    GROUP BY 1
),
m{i} AS (
    SELECT pair AS merged_pair, cnt AS n_occurrences
    FROM c{i} ORDER BY cnt DESC, pair LIMIT 1
),
wc{i} AS (
    SELECT replace(word, (SELECT merged_pair FROM m{i}),
                   chr({BPE_MERGE_BASE + i})) AS word, n
    FROM {prev}
),
s{i} AS (
    SELECT CAST(SUM(length(word) * n) AS BIGINT) AS total_symbols FROM wc{i}
)"""
        )
        selects.append(
            f"""SELECT CAST({i} AS BIGINT) AS round, m{i}.merged_pair,
       m{i}.n_occurrences, s{i}.total_symbols,
       {rnd_sql(f'CAST(s{i}.total_symbols AS DOUBLE) / base.base_syms', 6)}
           AS compression_ratio
FROM m{i}, s{i}, base"""
        )
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


oracle("bpe_train_merges", ("documents",), _bpe_oracle())


@model("docs_bpe_token_counts", layer="operators", materialization="view")
def docs_bpe_token_counts(ctx):
    """APPLY the learned BPE merge table to the corpus (the other half of
    the train→apply tokenizer loop): each document's text is re-segmented
    by replaying the ``bpe_train_merges`` rules in round order with the
    same private-use merge symbols, then per-source symbol counts before/
    after and the realized compression are reported — what a tokenizer
    rollout measures before committing a vocabulary.

    Merge pairs never contain spaces (they are within-word bigrams), so
    replaying replace() over the whole text cannot merge across a word
    boundary — the word-grain trainer and this text-grain application
    segment identically. Scale shape: the 5-row merge table broadcasts
    into one corpus projection; the only shuffle is the source-grain
    aggregate."""
    d = ctx.source("documents")
    merges = ctx.ref("bpe_train_merges").select("round", "merged_pair")
    mrow = merges.agg(
        *[
            F.first(
                F.when(F.col("round") == i, F.col("merged_pair")),
                ignorenulls=True,
            ).alias(f"mp{i}")
            for i in range(1, BPE_ROUNDS + 1)
        ]
    )
    ltext = F.lower(F.trim(F.col("text")))
    applied = d.crossJoin(F.broadcast(mrow))
    expr = ltext
    for i in range(1, BPE_ROUNDS + 1):
        # a degenerate corpus can exhaust merges before BPE_ROUNDS rounds:
        # mp{i} is then NULL and replace(text, NULL, ...) would null the
        # whole text — coalesce the needle to a control-char bigram that
        # never occurs in text, making the exhausted round a no-op (the
        # DuckDB oracle applies the same guard)
        needle = F.coalesce(F.col(f"mp{i}"), F.lit("\x01\x01"))
        expr = F.replace(expr, needle, F.lit(chr(BPE_MERGE_BASE + i)))
    nosp_b = F.length(F.replace(ltext, F.lit(" "), F.lit("")))
    nosp_a = F.length(F.replace(expr, F.lit(" "), F.lit("")))
    per = applied.select(
        "source", nosp_b.cast("long").alias("b"), nosp_a.cast("long").alias("a")
    )
    return (
        per.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("b").cast("long").alias("symbols_before"),
            F.sum("a").cast("long").alias("symbols_after"),
        )
        .select(
            "source",
            "n_docs",
            "symbols_before",
            "symbols_after",
            rnd(
                F.col("symbols_after") / F.col("symbols_before"), 6
            ).alias("compression_ratio"),
        )
    )


def _bpe_apply_oracle() -> str:
    expr = "lower(trim(text))"
    for i in range(1, BPE_ROUNDS + 1):
        # same exhausted-round guard as the Spark side: a missing round's
        # merge pair coalesces to a never-present control-char bigram
        expr = (
            f"replace({expr}, coalesce((SELECT merged_pair FROM"
            f" bpe_train_merges WHERE round = {i}), chr(1) || chr(1)),"
            f" chr({BPE_MERGE_BASE + i}))"
        )
    return f"""WITH applied AS (
    SELECT source,
        CAST(length(replace(lower(trim(text)), ' ', '')) AS BIGINT) AS b,
        CAST(length(replace({expr}, ' ', '')) AS BIGINT) AS a
    FROM documents
)
SELECT source,
    CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(b) AS BIGINT) AS symbols_before,
    CAST(SUM(a) AS BIGINT) AS symbols_after,
    {rnd_sql('CAST(SUM(a) AS DOUBLE) / SUM(b)', 6)} AS compression_ratio
FROM applied
GROUP BY 1"""


oracle(
    "docs_bpe_token_counts",
    ("documents", "bpe_train_merges"),
    _bpe_apply_oracle(),
)


# --------------------------------------------------------------------------
# PII-pattern census (round 9) — the redaction-triage step of a training-data
# pipeline: how much PII-looking text each source carries, BEFORE deciding
# which sources need a real (NER-grade) scrubbing pass.
# --------------------------------------------------------------------------

#: PII detector regexes, written in the RE2-compatible subset that Java's
#: regex engine (Spark) and RE2 (DuckDB) interpret identically: character
#: classes, bounded repetition, and \b word boundaries only — no lookaround,
#: no backreferences.
PII_DETECTORS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\b\d{3}[- ]\d{3}[- ]\d{4}\b",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "card": r"\b\d{13,16}\b",
}


@model("docs_pii_census", layer="operators", materialization="view")
def docs_pii_census(ctx):
    """Per-source census of PII-looking patterns (emails, phone numbers,
    SSN-shaped ids, IPv4 addresses, long card-like digit runs).

    The synthetic corpus is digit-free, so the corpus run proves the
    zero path; the non-trivial path (planted PII on both engines) is
    pinned by tests/test_operator_invariants.py::
    test_pii_census_on_planted_pii.

    Scale shape: per-row counts are ONE projection of JVM regexp_count
    expressions evaluated once each (materialized as attributes before
    the aggregate, so Catalyst cannot inline a pattern twice), then a
    single groupBy(source) — one scan, one shuffle at source grain."""
    d = ctx.source("documents")
    counts = d.select(
        "source",
        *[
            F.regexp_count(F.col("text"), F.lit(p)).alias(f"c_{k}")
            for k, p in PII_DETECTORS.items()
        ],
    )
    any_hit = None
    for k in PII_DETECTORS:
        c = F.col(f"c_{k}")
        any_hit = c if any_hit is None else any_hit + c
    from dbt_tpch_spark.functions import isum

    agg = counts.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        *[isum(F.col(f"c_{k}")).alias(f"{k}_hits") for k in PII_DETECTORS],
        isum(F.when(any_hit > 0, F.lit(1)).otherwise(F.lit(0))).alias(
            "docs_with_pii"
        ),
    )
    return agg.withColumn(
        "pii_doc_rate",
        rnd(F.col("docs_with_pii") / F.col("n_docs"), 6),
    )


def _pii_census_oracle() -> str:
    hit_cols = ",\n    ".join(
        f"CAST(SUM(len(regexp_extract_all(text, '{p}'))) AS BIGINT) AS {k}_hits"
        for k, p in PII_DETECTORS.items()
    )
    any_expr = " + ".join(
        f"len(regexp_extract_all(text, '{p}'))" for p in PII_DETECTORS.values()
    )
    return f"""SELECT
    source,
    CAST(COUNT(*) AS BIGINT) AS n_docs,
    {hit_cols},
    CAST(SUM(CASE WHEN {any_expr} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
    {rnd_sql(f'CAST(SUM(CASE WHEN {any_expr} > 0 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)', 6)} AS pii_doc_rate
FROM documents
GROUP BY source"""


oracle("docs_pii_census", ("documents",), _pii_census_oracle())
