"""Model-evaluation operators for the training-data pipeline: how good is
the cheap quality classifier, and is the corpus statistically healthy?

* ``doc_quality_auc`` — exact ROC-AUC of the logistic quality classifier
  (:mod:`~dbt_tpch_spark.operators.text` ``doc_quality_classifier``)
  against the rule-based quality gate (``doc_text_stats.quality_score``
  thresholded at the pipeline's MIN_QUALITY) as ground truth — "how well
  does the distilled classifier reproduce the heuristic filter", the
  fastText-distillation eval every pretraining pipeline runs. Score and
  label come from ONE map-only scan (shared column expressions, no
  doc_id self-join). AUC is the Mann-Whitney statistic on score ranks
  with the standard 0.5 tie credit:
  ``2U = Σ_v npos(v)·(2·cumneg(<v) + nneg(v))`` over per-distinct-score
  counts — an exact integer (scores are 6-dp-quantized so ties are real,
  and the score grain is bounded at ≤10⁶+1 rows), with the cumulative
  negative count from the bucketed exact-cumsum machinery. No per-row
  ranks, no single-task sort.
* ``doc_quality_calibration`` — 10-bin reliability diagram of the same
  (score, label) pairs: per fixed-width score decile, observed positive
  rate vs mean predicted probability, the per-bin |gap|, and the expected
  calibration error ECE = Σ (n_b/N)·|gap_b| replicated onto every row.
  Bounded output (≤10 rows + 1-row broadcast).
* ``doc_quality_pr_auc`` — step-interpolated average precision over the
  same (score, label) pairs — the rare-positive complement to ROC-AUC;
  exact integer cumulatives, 9-dp-quantized per-threshold terms.
* ``docs_dsir_ess`` — Kish effective sample size (Σw)²/Σw² of the DSIR
  importance weights per source — the resampling go/no-go diagnostic.
* ``vocab_heaps_fit`` — OLS fit of ln(vocab) on ln(tokens) along the
  ingestion order (Heaps' law V = K·nᵝ) — the growth-law companion to
  the static Zipf fit below.
* ``vocab_zipf_fit`` — least-squares fit of ln(frequency) on ln(rank)
  over the corpus unigram vocabulary (Zipf's law; slope ≈ -1 for natural
  language, far from it for boilerplate/spam corpora). The frequency rank
  is vocabulary-grain (corpus-growing) so it runs on bucketed_windows;
  the OLS moments accumulate 9-dp-quantized logs through DECIMAL(30,9)
  so the normal equations are addition-order-free on both engines.
* ``events_user_spearman`` — Spearman rank correlation between per-user
  activity (event count) and monetary value (exact-decimal value sum),
  with deterministic total-order ranks (ties broken by user_id, i.e.
  row_number ranks — documented convention, identical on both engines).
  Both rank passes use bucketed_windows; the correlation of two integer
  rank columns is computed from exact integer moments (n ≤ 2^17 per
  sf0.1, Σr² ≤ n³ < 2^53; at larger n the same plan runs with
  DECIMAL(38,0) accumulators).
* ``events_temporal_split_embargo`` — leakage-safe temporal train/test
  split for time-series models: cut at min + 80% of the observed epoch-ms
  span (integer arithmetic, engine-identical), discard a 1-day embargo
  buffer after the cut so boundary-straddling user state cannot leak
  forward (the purged split of de Prado's "Advances in Financial ML",
  ch. 7). Emits one row per split with event/user counts and the exact
  boundary timestamps; the gap between train.max_ts and test.min_ts is
  the auditable embargo proof.

Reference parity: the reference's test suite stops at relational models
(reference models/ *.sql); these extend the engine's LLM-pipeline surface
(SURVEY.md §6) — classifier eval, corpus law checks, split hygiene.

Scale notes (100 TB): every operator is (a) map-side feature extraction
fused by Catalyst with the upstream classifier scan, (b) hash aggregation
to score/term/user grain, (c) at most one bucketed exact cumsum/rank
(32-way parallel + ≤32-row offset broadcast), and (d) a bounded final
frame (1, 3, or ≤10 rows). Nothing broadcasts an SF-linear frame.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dbt_tpch_spark.functions import barrier, bucketed_windows, dsum, rnd
from dbt_tpch_spark.models.oracle import dsum_sql, oracle, rnd_sql
from dbt_tpch_spark.plans import model

#: ground-truth gate for classifier eval: the rule-based quality score
#: (doc_text_stats) thresholded at the pipeline's corpus-cleaning cut.
EVAL_LABEL_MIN_QUALITY = 0.5

#: reliability-diagram bin count (fixed-width bins over [0, 1]).
CALIBRATION_BINS = 10

#: temporal split: train fraction of the observed epoch-ms span, and the
#: embargo buffer (ms) discarded after the cut.
SPLIT_TRAIN_FRAC_PCT = 80
SPLIT_EMBARGO_MS = 86_400_000


def _scored_labels(ctx):
    """(doc_id, score, is_pos) in ONE map-only scan of ``documents``.

    Both the classifier probability and the rule-gate label are
    deterministic expressions over ``text``, shared with
    ``doc_quality_classifier`` / ``doc_text_stats`` through
    :func:`~dbt_tpch_spark.operators.text.doc_quality_cols` — so the eval
    does NOT pay the doc_id self-join of two projections of the same
    table (two corpus-grain shuffles at 100 TB; the oracle composes the
    two model CTEs instead, which is semantically identical because
    doc_id is unique)."""
    from dbt_tpch_spark.operators.text import doc_quality_cols

    c = doc_quality_cols()
    return ctx.source("documents").select(
        "doc_id",
        c["quality_prob"].alias("score"),
        (c["quality_score"] >= F.lit(EVAL_LABEL_MIN_QUALITY)).alias("is_pos"),
    )


_SCORED_SQL = f"""
    SELECT c.doc_id, c.quality_prob AS score,
           (s.quality_score >= {EVAL_LABEL_MIN_QUALITY}) AS is_pos
    FROM doc_quality_classifier c
    JOIN doc_text_stats s ON c.doc_id = s.doc_id"""


@model("doc_quality_auc", layer="operators", materialization="view")
def doc_quality_auc(ctx):
    """Exact ROC-AUC of the quality classifier against the rule-based
    gate. Per-distinct-score (npos, nneg) counts, ascending-score bucketed
    cumsum of nneg, then the tie-credited rank-sum identity
    ``2U = Σ npos·(2·cumneg(<v) + nneg)`` — AUC = U / (P·N) as a ratio of
    exact integers. ONE corpus pass (join-free, see _scored_labels) whose
    map-side combine collapses to score grain — BOUNDED at ≤10⁶+1 rows by
    the 6-dp quantization of the score, so the cumsum input and everything
    downstream is corpus-size-independent."""
    pv = (
        _scored_labels(ctx)
        .groupBy("score")
        .agg(
            F.sum(F.when(F.col("is_pos"), 1).otherwise(0))
            .cast("long")
            .alias("n_pos"),
            F.sum(F.when(F.col("is_pos"), 0).otherwise(1))
            .cast("long")
            .alias("n_neg"),
        )
    )
    b = bucketed_windows(
        pv, "score", [], ascending=True, running_sum=("n_neg", "cum_neg")
    )
    two_u = (
        F.col("n_pos")
        * (F.lit(2) * (F.col("cum_neg") - F.col("n_neg")) + F.col("n_neg"))
    ).cast("long")
    res = b.agg(
        F.sum(two_u).cast("long").alias("two_u"),
        F.sum("n_pos").cast("long").alias("n_pos"),
        F.sum("n_neg").cast("long").alias("n_neg"),
    )
    auc = F.col("two_u").cast("double") / (
        F.lit(2.0) * F.col("n_pos").cast("double") * F.col("n_neg").cast("double")
    )
    return res.select(
        "n_pos",
        "n_neg",
        "two_u",
        rnd(auc, 9).alias("auc"),
    )


oracle(
    "doc_quality_auc",
    ("doc_quality_classifier", "doc_text_stats"),
    f"""WITH sl AS ({_SCORED_SQL}),
pv AS (
    SELECT score,
        CAST(SUM(CASE WHEN is_pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        CAST(SUM(CASE WHEN is_pos THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
    FROM sl GROUP BY score
),
c AS (
    SELECT n_pos, n_neg,
           CAST(SUM(n_neg) OVER (ORDER BY score) AS BIGINT) AS cum_neg
    FROM pv
),
s AS (
    SELECT
        CAST(SUM(n_pos * (2 * (cum_neg - n_neg) + n_neg)) AS BIGINT) AS two_u,
        CAST(SUM(n_pos) AS BIGINT) AS n_pos,
        CAST(SUM(n_neg) AS BIGINT) AS n_neg
    FROM c
)
SELECT n_pos, n_neg, two_u,
    {rnd_sql('two_u / (2.0 * CAST(n_pos AS DOUBLE) * n_neg)', 9)} AS auc
FROM s""",
)


@model("doc_quality_calibration", layer="operators", materialization="view")
def doc_quality_calibration(ctx):
    """Reliability diagram + ECE for the quality classifier. Fixed-width
    deciles of the predicted probability (bin = min(⌊score·10⌋, 9) —
    integer arithmetic on the 6-dp-quantized score, engine-identical);
    per bin: count, observed positive rate, mean predicted score, |gap|;
    ECE = Σ (n_b/N)·|gap_b| replicated onto each row via a 1-row
    broadcast. Bounded output (≤10 rows)."""
    binned = _scored_labels(ctx).select(
        F.least(
            F.floor(F.col("score") * F.lit(CALIBRATION_BINS)).cast("long"),
            F.lit(CALIBRATION_BINS - 1),
        ).alias("bin"),
        "score",
        "is_pos",
    )
    per_bin = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("is_pos"), 1).otherwise(0))
        .cast("long")
        .alias("n_pos"),
        dsum(F.col("score")).alias("s_score"),
    )
    nd = F.col("n").cast("double")
    avg_score = F.col("s_score") / nd
    pos_rate = F.col("n_pos").cast("double") / nd
    gap = F.abs(avg_score - pos_rate)
    # ≤10-row frame read by two plan sites (the rows and the ECE rollup);
    # the lazy checkpoint stops the corpus scan from running twice.
    per_bin = barrier(per_bin, eager=False)
    rows = per_bin.select(
        "bin",
        "n",
        "n_pos",
        rnd(avg_score, 6).alias("avg_score"),
        rnd(pos_rate, 6).alias("pos_rate"),
        rnd(gap, 6).alias("abs_gap"),
    )
    # ECE from the 6-dp per-bin gaps (so Spark and the oracle weight the
    # SAME quantized bin summaries; a raw-sum ECE would be 1-ulp fragile).
    tot = rows.agg(
        F.sum("n").cast("long").alias("n_total"),
        dsum(F.col("n").cast("double") * F.col("abs_gap")).alias("w_gap"),
    ).select(
        rnd(F.col("w_gap") / F.col("n_total").cast("double"), 6).alias("ece")
    )
    return rows.crossJoin(F.broadcast(tot))


oracle(
    "doc_quality_calibration",
    ("doc_quality_classifier", "doc_text_stats"),
    f"""WITH sl AS ({_SCORED_SQL}),
b AS (
    SELECT LEAST(CAST(FLOOR(score * {CALIBRATION_BINS}) AS BIGINT),
                 {CALIBRATION_BINS - 1}) AS bin,
           score, is_pos
    FROM sl
),
per_bin AS (
    SELECT bin,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CASE WHEN is_pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        {dsum_sql('score')} AS s_score
    FROM b GROUP BY bin
),
rows_ AS (
    SELECT bin, n, n_pos,
        {rnd_sql('s_score / CAST(n AS DOUBLE)', 6)} AS avg_score,
        {rnd_sql('CAST(n_pos AS DOUBLE) / n', 6)} AS pos_rate,
        {rnd_sql('ABS(s_score / CAST(n AS DOUBLE) - CAST(n_pos AS DOUBLE) / n)', 6)} AS abs_gap
    FROM per_bin
),
tot AS (
    SELECT {rnd_sql(dsum_sql('n * abs_gap') + ' / CAST(SUM(n) AS DOUBLE)', 6)} AS ece
    FROM rows_
)
SELECT rows_.*, tot.ece FROM rows_ CROSS JOIN tot""",
)


@model("vocab_zipf_fit", layer="operators", materialization="view")
def vocab_zipf_fit(ctx):
    """OLS fit of ln(freq) ~ ln(rank) over the corpus unigram vocabulary
    (Zipf's law). Term counts at vocabulary grain, frequency rank from
    bucketed_windows (desc by count, term tie-break — a total order, so
    both engines rank identically), logs 9-dp-quantized before the
    DECIMAL(30,9) moment accumulation, closed-form slope/intercept/R²
    from the five exact moments. Output: 1 row."""
    tf = (
        ctx.source("documents")
        .select(
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), " ")
            ).alias("term")
        )
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    ranked = bucketed_windows(
        tf, "freq", ["term"], ascending=False, rank_out="rank"
    )
    acc9 = "decimal(30,9)"
    xy = ranked.select(
        rnd(F.log(F.col("rank").cast("double")), 9).alias("x"),
        rnd(F.log(F.col("freq").cast("double")), 9).alias("y"),
    )
    m = xy.agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum(F.col("x").cast(acc9)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(acc9)).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(acc9)).cast("double").alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(acc9)).cast("double").alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(acc9)).cast("double").alias("syy"),
    )
    n = F.col("n_terms").cast("double")
    cov = F.col("sxy") - F.col("sx") * F.col("sy") / n
    vx = F.col("sxx") - F.col("sx") * F.col("sx") / n
    vy = F.col("syy") - F.col("sy") * F.col("sy") / n
    slope = cov / vx
    intercept = (F.col("sy") - slope * F.col("sx")) / n
    r2 = cov * cov / (vx * vy)
    return m.select(
        "n_terms",
        rnd(slope, 6).alias("zipf_slope"),
        rnd(intercept, 6).alias("zipf_intercept"),
        rnd(r2, 6).alias("r_squared"),
    )


oracle(
    "vocab_zipf_fit",
    ("documents",),
    f"""WITH tf AS (
    SELECT term, CAST(COUNT(*) AS BIGINT) AS freq
    FROM (
        SELECT unnest(string_split(lower(trim(text)), ' ')) AS term
        FROM documents
    )
    WHERE term <> ''
    GROUP BY term
),
r AS (
    SELECT freq,
           CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, term) AS BIGINT) AS rank
    FROM tf
),
xy AS (
    SELECT {rnd_sql('LN(CAST(rank AS DOUBLE))', 9)} AS x,
           {rnd_sql('LN(CAST(freq AS DOUBLE))', 9)} AS y
    FROM r
),
m AS (
    SELECT
        CAST(COUNT(*) AS BIGINT) AS n_terms,
        CAST(SUM(CAST(x AS DECIMAL(30,9))) AS DOUBLE) AS sx,
        CAST(SUM(CAST(y AS DECIMAL(30,9))) AS DOUBLE) AS sy,
        CAST(SUM(CAST(x * y AS DECIMAL(30,9))) AS DOUBLE) AS sxy,
        CAST(SUM(CAST(x * x AS DECIMAL(30,9))) AS DOUBLE) AS sxx,
        CAST(SUM(CAST(y * y AS DECIMAL(30,9))) AS DOUBLE) AS syy
    FROM xy
)
SELECT n_terms,
    {rnd_sql(
        '(sxy - sx * sy / CAST(n_terms AS DOUBLE))'
        ' / (sxx - sx * sx / CAST(n_terms AS DOUBLE))', 6)} AS zipf_slope,
    {rnd_sql(
        '(sy - ((sxy - sx * sy / CAST(n_terms AS DOUBLE))'
        ' / (sxx - sx * sx / CAST(n_terms AS DOUBLE))) * sx)'
        ' / CAST(n_terms AS DOUBLE)', 6)} AS zipf_intercept,
    {rnd_sql(
        '((sxy - sx * sy / CAST(n_terms AS DOUBLE))'
        ' * (sxy - sx * sy / CAST(n_terms AS DOUBLE)))'
        ' / ((sxx - sx * sx / CAST(n_terms AS DOUBLE))'
        ' * (syy - sy * sy / CAST(n_terms AS DOUBLE)))', 6)} AS r_squared
FROM m""",
)


@model("events_user_spearman", layer="operators", materialization="view")
def events_user_spearman(ctx):
    """Spearman rank correlation between per-user event count and
    exact-decimal value sum. Ranks are deterministic total-order
    row-numbers (metric, then user_id) from two bucketed_windows passes —
    the documented tie convention, mirrored exactly by the oracle's
    ROW_NUMBER. Pearson on the two integer rank columns uses exact
    integer moments (BIGINT up to n³; the same plan swaps in
    DECIMAL(38,0) accumulators beyond ~2^17 users). Output: 1 row."""
    per_user = ctx.source("events").groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        dsum(F.col("value")).alias("total_value"),
    )
    ra = bucketed_windows(
        per_user, "n_events", ["user_id"], ascending=True, rank_out="r_a"
    )
    rb = bucketed_windows(
        ra, "total_value", ["user_id"], ascending=True, rank_out="r_b"
    )
    m = rb.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(F.col("r_a") * F.col("r_b")).cast("long").alias("s_ab"),
        F.sum(F.col("r_a")).cast("long").alias("s_a"),
        F.sum(F.col("r_a") * F.col("r_a")).cast("long").alias("s_aa"),
    )
    # both rank columns are permutations of 1..n, so Σr_b = Σr_a and
    # Σr_b² = Σr_a²: the correlation needs only s_ab and the shared
    # marginal moments.
    n = F.col("n_users").cast("double")
    sa = F.col("s_a").cast("double")
    saa = F.col("s_aa").cast("double")
    cov = F.col("s_ab").cast("double") - sa * sa / n
    var = saa - sa * sa / n
    return m.select(
        "n_users",
        F.col("s_ab"),
        rnd(cov / var, 9).alias("spearman_rho"),
    )


oracle(
    "events_user_spearman",
    ("events",),
    f"""WITH pu AS (
    SELECT user_id,
        CAST(COUNT(*) AS BIGINT) AS n_events,
        {dsum_sql('value')} AS total_value
    FROM events GROUP BY user_id
),
r AS (
    SELECT
        CAST(ROW_NUMBER() OVER (ORDER BY n_events, user_id) AS BIGINT) AS r_a,
        CAST(ROW_NUMBER() OVER (ORDER BY total_value, user_id) AS BIGINT) AS r_b
    FROM pu
),
m AS (
    SELECT
        CAST(COUNT(*) AS BIGINT) AS n_users,
        CAST(SUM(r_a * r_b) AS BIGINT) AS s_ab,
        CAST(SUM(r_a) AS BIGINT) AS s_a,
        CAST(SUM(r_a * r_a) AS BIGINT) AS s_aa
    FROM r
)
SELECT n_users, s_ab,
    {rnd_sql(
        '(s_ab - CAST(s_a AS DOUBLE) * s_a / n_users)'
        ' / (s_aa - CAST(s_a AS DOUBLE) * s_a / n_users)', 9)} AS spearman_rho
FROM m""",
)


@model("doc_quality_pr_auc", layer="operators", materialization="view")
def doc_quality_pr_auc(ctx):
    """Average precision (PR-AUC) of the quality classifier against the
    rule-based gate — the eval that matters when positives are rare and
    ROC-AUC flatters (Davis & Goadrich, ICML'06). Step-interpolated AP
    over distinct-score thresholds, descending:

        AP = Σ_v (n_pos(v)/P) · (cum_pos(v) / cum_tot(v))

    with cum_pos/cum_tot from two descending bucketed cumsums over the
    BOUNDED (≤10⁶+1-row, 6-dp) score-grain frame. Per-threshold terms are
    9-dp-quantized and accumulated through DECIMAL(30,9) so the sum is
    addition-order-free; the /P division happens once on the final
    scalar. Output: 1 row."""
    pv = (
        _scored_labels(ctx)
        .groupBy("score")
        .agg(
            F.sum(F.when(F.col("is_pos"), 1).otherwise(0))
            .cast("long")
            .alias("n_pos"),
            F.count(F.lit(1)).cast("long").alias("n_tot"),
        )
    )
    b1 = bucketed_windows(
        pv, "score", [], ascending=False, running_sum=("n_pos", "cum_pos")
    )
    b2 = bucketed_windows(
        b1, "score", [], ascending=False, running_sum=("n_tot", "cum_tot")
    )
    term = rnd(
        F.col("n_pos").cast("double")
        * F.col("cum_pos")
        / F.col("cum_tot"),
        9,
    )
    acc9 = "decimal(30,9)"
    res = b2.agg(
        F.sum(F.col("n_pos")).cast("long").alias("n_pos"),
        F.sum(F.col("n_tot") - F.col("n_pos")).cast("long").alias("n_neg"),
        F.sum(term.cast(acc9)).cast("double").alias("ap_raw"),
    )
    return res.select(
        "n_pos",
        "n_neg",
        rnd(F.col("ap_raw") / F.col("n_pos").cast("double"), 9).alias(
            "avg_precision"
        ),
    )


oracle(
    "doc_quality_pr_auc",
    ("doc_quality_classifier", "doc_text_stats"),
    f"""WITH sl AS ({_SCORED_SQL}),
pv AS (
    SELECT score,
        CAST(SUM(CASE WHEN is_pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        CAST(COUNT(*) AS BIGINT) AS n_tot
    FROM sl GROUP BY score
),
c AS (
    SELECT n_pos, n_tot,
        CAST(SUM(n_pos) OVER (ORDER BY score DESC) AS BIGINT) AS cum_pos,
        CAST(SUM(n_tot) OVER (ORDER BY score DESC) AS BIGINT) AS cum_tot
    FROM pv
),
s AS (
    SELECT
        CAST(SUM(n_pos) AS BIGINT) AS n_pos,
        CAST(SUM(n_tot - n_pos) AS BIGINT) AS n_neg,
        CAST(SUM(CAST({rnd_sql(
            'CAST(n_pos AS DOUBLE) * cum_pos / cum_tot', 9
        )} AS DECIMAL(30,9))) AS DOUBLE) AS ap_raw
    FROM c
)
SELECT n_pos, n_neg,
    {rnd_sql('ap_raw / CAST(n_pos AS DOUBLE)', 9)} AS avg_precision
FROM s""",
)


@model("vocab_heaps_fit", layer="operators", materialization="view")
def vocab_heaps_fit(ctx):
    """OLS fit of ln(vocab size) ~ ln(corpus tokens) along the doc_id
    ingestion order (Heaps'/Herdan's law: V = K·nᵝ, β ≈ 0.4-0.6 for
    natural text; β near 1 means the corpus never stops minting tokens —
    a tokenizer-budget red flag). Companion to vocab_zipf_fit: Zipf is
    the static frequency law, Heaps the growth law.

    ONE tokenization pass materializes the standing (doc, term, tf)
    feedstock (the bm25 checkpoint pattern — two lazy consumers would
    each re-tokenize the corpus); per-doc token counts (Σtf) and per-doc
    new-term counts (term first-seen at min(doc_id)) are cheap aggregates
    of it. Both cumulate along doc_id through the bucketed exact-cumsum
    machinery (doc-grain frame, SF-linear, no single-task sort), logs are
    9-dp-quantized into the DECIMAL(30,9) OLS moments. Output: 1 row."""
    dtf = (
        ctx.source("documents")
        .select(
            "doc_id",
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), " ")
            ).alias("term"),
        )
        .filter(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .transform(barrier)
    )
    dt = dtf.groupBy("doc_id").agg(
        F.sum("tf").cast("long").alias("n_tokens")
    )
    nv = (
        dtf.groupBy("term")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("new_terms"))
    )
    d = dt.join(nv, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.col("new_terms"), F.lit(0)).cast("long").alias(
            "new_terms"
        ),
    )
    b1 = bucketed_windows(
        d, "doc_id", [], ascending=True, running_sum=("n_tokens", "cum_tokens")
    )
    b2 = bucketed_windows(
        b1, "doc_id", [], ascending=True, running_sum=("new_terms", "cum_vocab")
    )
    xy = b2.filter(
        (F.col("cum_tokens") > 0) & (F.col("cum_vocab") > 0)
    ).select(
        rnd(F.log(F.col("cum_tokens")), 9).alias("x"),
        rnd(F.log(F.col("cum_vocab")), 9).alias("y"),
    )
    acc9 = "decimal(30,9)"
    m = xy.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("x").cast(acc9)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(acc9)).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(acc9)).cast("double").alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(acc9)).cast("double").alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(acc9)).cast("double").alias("syy"),
    )
    n = F.col("n_docs").cast("double")
    cov = F.col("sxy") - F.col("sx") * F.col("sy") / n
    vx = F.col("sxx") - F.col("sx") * F.col("sx") / n
    vy = F.col("syy") - F.col("sy") * F.col("sy") / n
    slope = cov / vx
    intercept = (F.col("sy") - slope * F.col("sx")) / n
    return m.select(
        "n_docs",
        rnd(slope, 6).alias("heaps_beta"),
        rnd(intercept, 6).alias("heaps_ln_k"),
        rnd(cov * cov / (vx * vy), 6).alias("r_squared"),
    )


oracle(
    "vocab_heaps_fit",
    ("documents",),
    f"""WITH toks AS (
    SELECT doc_id, term FROM (
        SELECT doc_id,
               unnest(string_split(lower(trim(text)), ' ')) AS term
        FROM documents
    ) WHERE term <> ''
),
dt AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens
    FROM toks GROUP BY doc_id
),
nv AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS new_terms
    FROM (SELECT term, MIN(doc_id) AS doc_id FROM toks GROUP BY term)
    GROUP BY doc_id
),
d AS (
    SELECT dt.doc_id, dt.n_tokens,
           CAST(COALESCE(nv.new_terms, 0) AS BIGINT) AS new_terms
    FROM dt LEFT JOIN nv USING (doc_id)
),
c AS (
    SELECT
        CAST(SUM(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS cum_tokens,
        CAST(SUM(new_terms) OVER (ORDER BY doc_id) AS BIGINT) AS cum_vocab
    FROM d
),
xy AS (
    SELECT {rnd_sql('LN(CAST(cum_tokens AS DOUBLE))', 9)} AS x,
           {rnd_sql('LN(CAST(cum_vocab AS DOUBLE))', 9)} AS y
    FROM c WHERE cum_tokens > 0 AND cum_vocab > 0
),
m AS (
    SELECT
        CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(CAST(x AS DECIMAL(30,9))) AS DOUBLE) AS sx,
        CAST(SUM(CAST(y AS DECIMAL(30,9))) AS DOUBLE) AS sy,
        CAST(SUM(CAST(x * y AS DECIMAL(30,9))) AS DOUBLE) AS sxy,
        CAST(SUM(CAST(x * x AS DECIMAL(30,9))) AS DOUBLE) AS sxx,
        CAST(SUM(CAST(y * y AS DECIMAL(30,9))) AS DOUBLE) AS syy
    FROM xy
)
SELECT n_docs,
    {rnd_sql(
        '(sxy - sx * sy / CAST(n_docs AS DOUBLE))'
        ' / (sxx - sx * sx / CAST(n_docs AS DOUBLE))', 6)} AS heaps_beta,
    {rnd_sql(
        '(sy - ((sxy - sx * sy / CAST(n_docs AS DOUBLE))'
        ' / (sxx - sx * sx / CAST(n_docs AS DOUBLE))) * sx)'
        ' / CAST(n_docs AS DOUBLE)', 6)} AS heaps_ln_k,
    {rnd_sql(
        '((sxy - sx * sy / CAST(n_docs AS DOUBLE))'
        ' * (sxy - sx * sy / CAST(n_docs AS DOUBLE)))'
        ' / ((sxx - sx * sx / CAST(n_docs AS DOUBLE))'
        ' * (syy - sy * sy / CAST(n_docs AS DOUBLE)))', 6)} AS r_squared
FROM m""",
)


@model("docs_dsir_ess", layer="operators", materialization="view")
def docs_dsir_ess(ctx):
    """Kish effective sample size of the DSIR importance weights, per
    source — the go/no-go diagnostic before importance resampling: with
    w = exp(avg_log_ratio), ESS = (Σw)²/Σw². An ESS ratio near 1 means
    the reweighting barely changes the distribution; near 0 means a few
    documents dominate and the resample would collapse onto them.

    Weights are 6-dp-quantized after the exp (the shared quantized-libm
    convention) and both moments accumulate through DECIMAL(30,9).
    Source-grain output (bounded)."""
    w = ctx.ref("docs_dsir_weights").select(
        "source", rnd(F.exp(F.col("avg_log_ratio")), 6).alias("w")
    )
    acc9 = "decimal(30,9)"
    g = w.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("w").cast(acc9)).cast("double").alias("sw"),
        F.sum((F.col("w") * F.col("w")).cast(acc9)).cast("double").alias("sww"),
    )
    ess = F.col("sw") * F.col("sw") / F.col("sww")
    return g.select(
        "source",
        "n_docs",
        rnd(F.col("sw"), 6).alias("sum_w"),
        rnd(ess, 6).alias("ess"),
        rnd(ess / F.col("n_docs").cast("double"), 6).alias("ess_ratio"),
    )


oracle(
    "docs_dsir_ess",
    ("docs_dsir_weights",),
    f"""WITH w AS (
    SELECT source, {rnd_sql('EXP(avg_log_ratio)', 6)} AS w
    FROM docs_dsir_weights
),
g AS (
    SELECT source,
        CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(CAST(w AS DECIMAL(30,9))) AS DOUBLE) AS sw,
        CAST(SUM(CAST(w * w AS DECIMAL(30,9))) AS DOUBLE) AS sww
    FROM w GROUP BY source
)
SELECT source, n_docs,
    {rnd_sql('sw', 6)} AS sum_w,
    {rnd_sql('sw * sw / sww', 6)} AS ess,
    {rnd_sql('sw * sw / (sww * n_docs)', 6)} AS ess_ratio
FROM g""",
)


@model(
    "events_temporal_split_embargo", layer="operators", materialization="view"
)
def events_temporal_split_embargo(ctx):
    """Purged temporal split: train = first 80% of the observed epoch-ms
    span, a 1-day embargo buffer after the cut is DISCARDED, test = the
    rest — so features built from trailing user state in train cannot
    overlap test's lookback horizon. The cut is integer arithmetic on
    epoch ms (min + 80%·span via exact BIGINT div), engine-identical.
    One scan for the bounds (2-value broadcast), one scan to census the
    three splits; output 3 rows with the boundary timestamps — the
    train.max/test.min gap IS the embargo audit."""
    e = ctx.source("events").select(
        F.expr("unix_millis(ts)").alias("ms"), "user_id"
    )
    bounds = e.agg(
        F.min("ms").alias("lo"), F.max("ms").alias("hi")
    ).select(
        F.expr(
            f"lo + ((hi - lo) * {SPLIT_TRAIN_FRAC_PCT}) div 100"
        ).alias("t_cut")
    )
    tagged = e.crossJoin(F.broadcast(bounds)).select(
        F.when(F.col("ms") <= F.col("t_cut"), "train")
        .when(F.col("ms") > F.col("t_cut") + F.lit(SPLIT_EMBARGO_MS), "test")
        .otherwise("embargo")
        .alias("split"),
        "ms",
        "user_id",
    )
    return (
        tagged.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.min("ms").alias("min_ms"),
            F.max("ms").alias("max_ms"),
        )
    )


oracle(
    "events_temporal_split_embargo",
    ("events",),
    f"""WITH e AS (
    SELECT epoch_ms(ts) AS ms, user_id FROM events
),
b AS (
    SELECT MIN(ms) + (MAX(ms) - MIN(ms)) * {SPLIT_TRAIN_FRAC_PCT} // 100 AS t_cut
    FROM e
),
t AS (
    SELECT CASE
        WHEN ms <= t_cut THEN 'train'
        WHEN ms > t_cut + {SPLIT_EMBARGO_MS} THEN 'test'
        ELSE 'embargo' END AS split,
        ms, user_id
    FROM e CROSS JOIN b
)
SELECT split,
    CAST(COUNT(*) AS BIGINT) AS n_events,
    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
    MIN(ms) AS min_ms,
    MAX(ms) AS max_ms
FROM t
GROUP BY split""",
)


@model("doc_quality_mcnemar", layer="operators", materialization="view")
def doc_quality_mcnemar(ctx):
    """McNemar's test (continuity-corrected) between the two quality
    gates — rule-based keep (quality_score ≥ MIN_QUALITY) vs classifier
    keep (quality_prob ≥ QC_KEEP_THRESHOLD) on the SAME documents. The
    paired-classifier comparison the independent-sample tests get wrong:
    only the discordant cells b (rule-only keep) and c (classifier-only
    keep) carry signal; χ² = (|b−c|−1)²/(b+c).

    One map-only scan (shared quality expressions), four exact integer
    cells, 1-row output."""
    from dbt_tpch_spark.operators.text import QC_KEEP_THRESHOLD

    d = _scored_labels(ctx).select(
        "is_pos",
        (F.col("score") >= F.lit(QC_KEEP_THRESHOLD)).alias("clf_keep"),
    )
    g = d.agg(
        F.sum(F.when(F.col("is_pos") & F.col("clf_keep"), 1).otherwise(0))
        .cast("long")
        .alias("n_both_keep"),
        F.sum(F.when(F.col("is_pos") & ~F.col("clf_keep"), 1).otherwise(0))
        .cast("long")
        .alias("n_rule_only"),
        F.sum(F.when(~F.col("is_pos") & F.col("clf_keep"), 1).otherwise(0))
        .cast("long")
        .alias("n_clf_only"),
        F.sum(F.when(~F.col("is_pos") & ~F.col("clf_keep"), 1).otherwise(0))
        .cast("long")
        .alias("n_both_drop"),
    )
    b, c = F.col("n_rule_only").cast("double"), F.col("n_clf_only").cast("double")
    chi2 = F.when(
        b + c > F.lit(0.0),
        (F.abs(b - c) - F.lit(1.0)) * (F.abs(b - c) - F.lit(1.0)) / (b + c),
    ).otherwise(F.lit(0.0))
    return g.select(
        "n_both_keep",
        "n_rule_only",
        "n_clf_only",
        "n_both_drop",
        rnd(chi2, 6).alias("mcnemar_chi2"),
    )


def _mcnemar_oracle() -> str:
    from dbt_tpch_spark.operators.text import QC_KEEP_THRESHOLD

    return f"""WITH sl AS ({_SCORED_SQL}),
cells AS (
    SELECT
        CAST(SUM(CASE WHEN is_pos AND score >= {QC_KEEP_THRESHOLD} THEN 1 ELSE 0 END) AS BIGINT) AS n_both_keep,
        CAST(SUM(CASE WHEN is_pos AND score < {QC_KEEP_THRESHOLD} THEN 1 ELSE 0 END) AS BIGINT) AS n_rule_only,
        CAST(SUM(CASE WHEN NOT is_pos AND score >= {QC_KEEP_THRESHOLD} THEN 1 ELSE 0 END) AS BIGINT) AS n_clf_only,
        CAST(SUM(CASE WHEN NOT is_pos AND score < {QC_KEEP_THRESHOLD} THEN 1 ELSE 0 END) AS BIGINT) AS n_both_drop
    FROM sl
)
SELECT n_both_keep, n_rule_only, n_clf_only, n_both_drop,
    {rnd_sql(
        'CASE WHEN n_rule_only + n_clf_only > 0 THEN'
        ' (ABS(CAST(n_rule_only AS DOUBLE) - n_clf_only) - 1.0)'
        ' * (ABS(CAST(n_rule_only AS DOUBLE) - n_clf_only) - 1.0)'
        ' / (CAST(n_rule_only AS DOUBLE) + n_clf_only)'
        ' ELSE 0.0 END', 6)} AS mcnemar_chi2
FROM cells"""


oracle(
    "doc_quality_mcnemar",
    ("doc_quality_classifier", "doc_text_stats"),
    _mcnemar_oracle(),
)


@model("doc_langid_kappa", layer="operators", materialization="view")
def doc_langid_kappa(ctx):
    """Cohen's kappa for the marker-word language-ID against the corpus
    label — the chance-corrected single-number summary of
    doc_lang_confusion (accuracy alone flatters when one language
    dominates). κ = (N·Σdiag − Σ_ℓ row_ℓ·col_ℓ) / (N² − Σ_ℓ row_ℓ·col_ℓ)
    — a ratio of exact integers; the marginal products accumulate
    through DECIMAL(38,0) so the identity survives corpus scale.

    Label-grain marginal frames (bounded |langs|), 1-row output."""
    p = ctx.ref("doc_language_id").select("lang", "predicted_lang")
    act = p.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("n_a"))
    prd = p.groupBy("predicted_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_p")
    )
    marg = (
        act.join(
            prd, act["lang"] == prd["predicted_lang"], "full_outer"
        ).select(
            F.coalesce(F.col("n_a"), F.lit(0)).alias("n_a"),
            F.coalesce(F.col("n_p"), F.lit(0)).alias("n_p"),
        )
    )
    pe = marg.agg(
        F.sum((F.col("n_a") * F.col("n_p")).cast("decimal(38,0)"))
        .cast("double")
        .alias("pe_num"),
        F.sum("n_a").cast("long").alias("n_docs"),
    )
    agree = p.agg(
        F.sum(
            F.when(F.col("lang") == F.col("predicted_lang"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_agree")
    )
    j = pe.crossJoin(F.broadcast(agree))
    n = F.col("n_docs").cast("double")
    kappa = (n * F.col("n_agree") - F.col("pe_num")) / (
        n * n - F.col("pe_num")
    )
    return j.select(
        "n_docs",
        "n_agree",
        rnd(F.col("n_agree") / n, 9).alias("accuracy"),
        rnd(kappa, 9).alias("cohens_kappa"),
    )


oracle(
    "doc_langid_kappa",
    ("doc_language_id",),
    f"""WITH p AS (
    SELECT lang, predicted_lang FROM doc_language_id
),
act AS (SELECT lang AS l, CAST(COUNT(*) AS BIGINT) AS n_a FROM p GROUP BY 1),
prd AS (SELECT predicted_lang AS l, CAST(COUNT(*) AS BIGINT) AS n_p FROM p GROUP BY 1),
marg AS (
    SELECT COALESCE(a.n_a, 0) AS n_a, COALESCE(r.n_p, 0) AS n_p
    FROM act a FULL JOIN prd r ON a.l = r.l
),
pe AS (
    SELECT CAST(SUM(CAST(n_a * n_p AS DECIMAL(38,0))) AS DOUBLE) AS pe_num,
           CAST(SUM(n_a) AS BIGINT) AS n_docs
    FROM marg
),
ag AS (
    SELECT CAST(SUM(CASE WHEN lang = predicted_lang THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
    FROM p
)
SELECT n_docs, n_agree,
    {rnd_sql('CAST(n_agree AS DOUBLE) / n_docs', 9)} AS accuracy,
    {rnd_sql(
        '(CAST(n_docs AS DOUBLE) * n_agree - pe_num)'
        ' / (CAST(n_docs AS DOUBLE) * n_docs - pe_num)', 9)} AS cohens_kappa
FROM pe CROSS JOIN ag""",
)
