"""Distributed statistics operators: categorical independence testing and
sample-based quantile estimation with measured error.

* ``events_chi_square`` — Pearson chi-square test of independence between
  two categorical dimensions of the event stream (event_type x day-of-
  week). The whole computation is three bounded-cardinality hash
  aggregations (cells, two margins) plus broadcast joins — the shape a
  feature-drift / AB-test gate runs over 100 TB without any window.
* ``events_sampled_quantiles`` — bottom-k-by-md5 fixed-size uniform
  sample (k = 2048) -> quantiles of the sample, reported NEXT TO the
  exact corpus quantiles (bucketed global ranks) with the absolute
  error. This is the "quantile without a global pass" pattern: the
  sample is a deterministic function of row keys (resumable, engine-
  portable, no rand()), its size is FIXED so the quantile step is O(k)
  regardless of SF, and the operator doubles as the error-measurement
  harness that justifies using it at scale.

Determinism notes: day-of-week is epoch-day arithmetic ((days+4) % 7,
0 = Sunday) — identical integer math on both engines, no locale-dependent
date functions. The chi-square statistic sums per-cell doubles through
DECIMAL(27,6) (dsum) so the total is addition-order-independent.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dbt_tpch_spark.functions import (
    barrier,
    dsum,
    global_row_number,
    global_topk,
    isum,
    rnd,
)
from dbt_tpch_spark.models.oracle import (
    davg_sql,
    dstddev_samp_sql,
    dsum_sql,
    isum_sql,
    oracle,
    rnd_sql,
)
from dbt_tpch_spark.plans import model

#: scale-9 exact accumulator for 9-dp-quantized libm terms (MI/entropy):
#: the shared dsum's DECIMAL(27,6) would silently re-truncate them to 6 dp
_ACC9 = "decimal(30,9)"


def _dsum9(col):
    return F.sum(col.cast(_ACC9)).cast("double")


def _dsum9_sql(expr: str) -> str:
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(30,9))) AS DOUBLE)"

# --------------------------------------------------------------------------
# chi-square independence: event_type x day-of-week
# --------------------------------------------------------------------------


def _dow_col():
    """0=Sunday..6=Saturday via epoch-day arithmetic (1970-01-01 was a
    Thursday -> +4). Pure integer math, identical on both engines."""
    days = F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
    return ((days + 4) % 7).cast("int")


_DOW_DUCK = (
    "CAST((DATEDIFF('day', DATE '1970-01-01', CAST(ts AS DATE)) + 4) % 7 AS INT)"
)


@model("events_chi_square", layer="operators", materialization="view")
def events_chi_square(ctx):
    """Pearson chi-square test: is event_type independent of day-of-week?
    One row per contingency cell with observed/expected counts and the
    cell's contribution, plus the (repeated) global statistic and degrees
    of freedom — the Benford-report convention for scalar+detail outputs.

    Scale: cells/margins are bounded-domain aggregations (|types| x 7);
    every join after the first groupBy is a broadcast of a tiny frame.
    The cells frame (<= |types| x 7 rows) is checkpointed once — it feeds
    margins, total AND the scored output, and without the barrier each
    consumer would re-aggregate the corpus. Expected counts use exact
    BIGINT margin products divided as DOUBLE — bit-identical
    cross-engine; the statistic is a decimal-summed total.
    """
    e = ctx.source("events").select(
        "event_type", _dow_col().alias("dow")
    )
    cells = (
        e.groupBy("event_type", "dow")
        .agg(F.count(F.lit(1)).alias("n_obs"))
        .transform(barrier)
    )
    row_m = cells.groupBy("event_type").agg(F.sum("n_obs").alias("row_total"))
    col_m = cells.groupBy("dow").agg(F.sum("n_obs").alias("col_total"))
    tot = cells.agg(F.sum("n_obs").alias("n_total"))
    expected = (
        F.col("row_total").cast("double")
        * F.col("col_total").cast("double")
        / F.col("n_total")
    )
    scored = (
        cells.join(F.broadcast(row_m), "event_type")
        .join(F.broadcast(col_m), "dow")
        .crossJoin(F.broadcast(tot))
        .withColumn("expected_raw", expected)
        .withColumn(
            "contribution_raw",
            (F.col("n_obs") - F.col("expected_raw"))
            * (F.col("n_obs") - F.col("expected_raw"))
            / F.col("expected_raw"),
        )
    )
    stat = scored.agg(
        rnd(dsum(F.col("contribution_raw")), 6).alias("chi_square"),
        (
            (F.countDistinct("event_type") - 1) * (F.countDistinct("dow") - 1)
        ).cast("long").alias("dof"),
    )
    return (
        scored.crossJoin(F.broadcast(stat))
        .select(
            "event_type",
            "dow",
            "n_obs",
            rnd(F.col("expected_raw"), 6).alias("expected"),
            rnd(F.col("contribution_raw"), 6).alias("contribution"),
            "chi_square",
            "dof",
        )
    )


oracle(
    "events_chi_square",
    ("events",),
    f"""WITH base AS (
    SELECT event_type, {_DOW_DUCK} AS dow FROM events
),
cells AS (
    SELECT event_type, dow, COUNT(*) AS n_obs FROM base GROUP BY 1, 2
),
row_m AS (
    SELECT event_type, SUM(n_obs) AS row_total FROM cells GROUP BY 1
),
col_m AS (
    SELECT dow, SUM(n_obs) AS col_total FROM cells GROUP BY 1
),
tot AS (
    SELECT SUM(n_obs) AS n_total FROM cells
),
scored AS (
    SELECT
        c.event_type,
        c.dow,
        c.n_obs,
        CAST(r.row_total AS DOUBLE) * CAST(m.col_total AS DOUBLE) / t.n_total
            AS expected_raw,
        (c.n_obs - CAST(r.row_total AS DOUBLE) * CAST(m.col_total AS DOUBLE) / t.n_total)
        * (c.n_obs - CAST(r.row_total AS DOUBLE) * CAST(m.col_total AS DOUBLE) / t.n_total)
        / (CAST(r.row_total AS DOUBLE) * CAST(m.col_total AS DOUBLE) / t.n_total)
            AS contribution_raw
    FROM cells c
    JOIN row_m r USING (event_type)
    JOIN col_m m USING (dow)
    CROSS JOIN tot t
),
stat AS (
    SELECT
        {rnd_sql(dsum_sql('contribution_raw'), 6)} AS chi_square,
        CAST((COUNT(DISTINCT event_type) - 1) * (COUNT(DISTINCT dow) - 1) AS BIGINT)
            AS dof
    FROM scored
)
SELECT
    s.event_type,
    s.dow,
    s.n_obs,
    {rnd_sql('s.expected_raw', 6)} AS expected,
    {rnd_sql('s.contribution_raw', 6)} AS contribution,
    st.chi_square,
    st.dof
FROM scored s CROSS JOIN stat st""",
)


# --------------------------------------------------------------------------
# fixed-size uniform sample quantiles vs exact quantiles
# --------------------------------------------------------------------------

SQ_SALT = "sq|"
SQ_K = 2048
SQ_PROBS = (0.5, 0.9, 0.99)


@model("events_sampled_quantiles", layer="operators", materialization="view")
def events_sampled_quantiles(ctx):
    """Quantiles of ``events.value`` from a fixed-size bottom-k-by-md5
    sample, with the exact quantile and absolute error beside each.

    The sample is the k rows with the smallest md5(salt|event_id) — a
    uniform random subset that is a pure function of the row keys
    (reproducible, engine-portable) and whose SIZE IS CONSTANT: the
    quantile step costs O(k log k) no matter the corpus size, which is
    the whole trade at 100 TB. The k winners come from
    ``functions.global_topk`` (16-way hex-prefix-partitioned running
    top-k, no single-partition sort). The EXACT side uses
    ``functions.global_row_number`` bucketed ranks — one parallel pass —
    and serves as the in-query error report that tells an operator
    whether k is large enough for their tolerance.

    Quantile convention: discrete (lower) — element at 1-based position
    ceil(p * n) of the ascending multiset; identical index arithmetic on
    both engines.
    """
    e = ctx.source("events").select("event_id", "value")
    hashed = e.select(
        F.md5(F.concat(F.lit(SQ_SALT), F.col("event_id").cast("string"))).alias("h"),
        "value",
    )
    samp = global_topk(hashed, "h", SQ_K, ["value"])
    sarr = samp.agg(
        F.count(F.lit(1)).alias("sample_k"),
        F.sort_array(F.collect_list("value")).alias("vs"),
    )
    probs = F.array(*[F.lit(p) for p in SQ_PROBS])
    sampled = sarr.select(
        F.explode(probs).alias("p"),
        "sample_k",
        F.element_at(
            "vs",
            F.ceil(F.col("p") * F.col("sample_k")).cast("int"),
        ).alias("sampled_value"),
    ).select("p", "sample_k", rnd(F.col("sampled_value"), 6).alias("sampled_value"))
    ranked = global_row_number(e, "value", True, ["event_id"], out="rn")
    tot = e.agg(F.count(F.lit(1)).alias("n_total"))
    targets = tot.select(
        F.explode(probs).alias("p"),
        "n_total",
        F.ceil(F.col("p") * F.col("n_total")).cast("long").alias("target_rn"),
    )
    exact = (
        ranked.join(
            F.broadcast(targets), F.col("rn") == F.col("target_rn"), "inner"
        )
        .select("p", "n_total", rnd(F.col("value"), 6).alias("exact_value"))
    )
    return (
        exact.join(sampled, "p")
        .select(
            "p",
            "n_total",
            "sample_k",
            "exact_value",
            "sampled_value",
            rnd(F.abs(F.col("sampled_value") - F.col("exact_value")), 6).alias(
                "abs_err"
            ),
        )
    )


oracle(
    "events_sampled_quantiles",
    ("events",),
    f"""WITH hashed AS (
    SELECT value, md5(concat('{SQ_SALT}', CAST(event_id AS VARCHAR))) AS h
    FROM events
),
samp AS (
    SELECT value FROM hashed ORDER BY h LIMIT {SQ_K}
),
sarr AS (
    SELECT COUNT(*) AS sample_k, list_sort(list(value)) AS vs FROM samp
),
ps AS (
    -- CASTs matter: bare 0.5 literals are DECIMAL in DuckDB; Spark's are
    -- DOUBLE — the join key and index arithmetic must agree bit-for-bit
    SELECT UNNEST([{', '.join(f'CAST({p} AS DOUBLE)' for p in SQ_PROBS)}]) AS p
),
sampled AS (
    SELECT p, sample_k,
        {rnd_sql('vs[CAST(CEIL(p * sample_k) AS INT)]', 6)} AS sampled_value
    FROM sarr CROSS JOIN ps
),
ranked AS (
    SELECT value, ROW_NUMBER() OVER (ORDER BY value, event_id) AS rn FROM events
),
tot AS (
    SELECT COUNT(*) AS n_total FROM events
),
targets AS (
    SELECT p, n_total, CAST(CEIL(p * n_total) AS BIGINT) AS target_rn
    FROM tot CROSS JOIN ps
),
exact AS (
    SELECT t.p, t.n_total, {rnd_sql('r.value', 6)} AS exact_value
    FROM ranked r JOIN targets t ON r.rn = t.target_rn
)
SELECT
    e.p,
    e.n_total,
    s.sample_k,
    e.exact_value,
    s.sampled_value,
    {rnd_sql('ABS(s.sampled_value - e.exact_value)', 6)} AS abs_err
FROM exact e JOIN sampled s USING (p)""",
)


# --------------------------------------------------------------------------
# one-pass correlation matrix
# --------------------------------------------------------------------------

CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


@model("lineitem_corr_matrix", layer="operators", materialization="view")
def lineitem_corr_matrix(ctx):
    """Pearson correlation matrix of the lineitem measures from ONE
    corpus pass: every pairwise r comes from sufficient statistics
    (n, Σx, Σx², Σxy) accumulated in a single whole-table aggregation —
    the feature-correlation screen a modeling pipeline runs before
    training, with none of the per-pair re-scans a naive corr() loop
    costs (4 cols = 6 pairs = ONE scan here, not 6).

    Determinism: native ``corr()`` accumulates doubles in engine order
    and never hash-matches across engines; here every Σ runs through
    DECIMAL(27,6) (order-independent), and the final r arithmetic is a
    fixed double expression — bit-identical on both sides. Scale: one
    map-side-combinable aggregation to a single row; the pair explode is
    a 6-row projection."""
    li = ctx.source("lineitem")
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for c in CORR_COLS:
        aggs.append(dsum(F.col(c)).alias(f"s_{c}"))
        aggs.append(dsum(F.col(c) * F.col(c)).alias(f"ss_{c}"))
    pairs = [
        (a, b) for i, a in enumerate(CORR_COLS) for b in CORR_COLS[i + 1 :]
    ]
    for a, b in pairs:
        aggs.append(dsum(F.col(a) * F.col(b)).alias(f"sp_{a}_{b}"))
    stats = li.agg(*aggs)

    def r_expr(a: str, b: str):
        n = F.col("n").cast("double")
        cov = n * F.col(f"sp_{a}_{b}") - F.col(f"s_{a}") * F.col(f"s_{b}")
        var_a = n * F.col(f"ss_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}")
        var_b = n * F.col(f"ss_{b}") - F.col(f"s_{b}") * F.col(f"s_{b}")
        # NULL (not inf/NaN) for a zero-variance column — and identically
        # on both engines (DuckDB would produce inf for x/0.0)
        return cov / F.nullif(F.sqrt(var_a * var_b), F.lit(0.0))

    cells = F.array(
        *[
            F.struct(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                rnd(r_expr(a, b), 6).alias("corr"),
            )
            for a, b in pairs
        ]
    )
    return stats.select(F.col("n").alias("n_rows"), F.explode(cells).alias("c")).select(
        "c.col_a", "c.col_b", "n_rows", "c.corr"
    )


def _corr_oracle() -> str:
    aggs = ["CAST(COUNT(*) AS BIGINT) AS n"]
    for c in CORR_COLS:
        aggs.append(f"{dsum_sql(c)} AS s_{c}")
        aggs.append(f"{dsum_sql(f'{c} * {c}')} AS ss_{c}")
    pairs = [(a, b) for i, a in enumerate(CORR_COLS) for b in CORR_COLS[i + 1 :]]
    for a, b in pairs:
        aggs.append(f"{dsum_sql(f'{a} * {b}')} AS sp_{a}_{b}")
    arms = []
    for a, b in pairs:
        r = (
            f"(CAST(n AS DOUBLE) * sp_{a}_{b} - s_{a} * s_{b}) / "
            f"NULLIF(SQRT((CAST(n AS DOUBLE) * ss_{a} - s_{a} * s_{a}) "
            f"* (CAST(n AS DOUBLE) * ss_{b} - s_{b} * s_{b})), 0.0)"
        )
        arms.append(
            f"SELECT '{a}' AS col_a, '{b}' AS col_b, n AS n_rows, "
            f"{rnd_sql(r, 6)} AS corr FROM stats"
        )
    return (
        "WITH stats AS (\n    SELECT " + ",\n        ".join(aggs)
        + "\n    FROM lineitem\n)\n" + "\nUNION ALL\n".join(arms)
    )


oracle("lineitem_corr_matrix", ("lineitem",), _corr_oracle())


# --------------------------------------------------------------------------
# mutual information: event_type x day-of-week
# --------------------------------------------------------------------------


@model("events_mutual_information", layer="operators", materialization="view")
def events_mutual_information(ctx):
    """Mutual information between event_type and day-of-week, with the
    margin entropies and the normalized coefficient — the
    feature-dependence screen that, unlike chi-square, is directly
    comparable across tables (bits-of-shared-information). Same bounded
    contingency machinery as events_chi_square: one corpus aggregation
    to the checkpointed cell frame, broadcast margins, everything after
    is arithmetic on <= |types| x 7 rows.

    Determinism: per-cell terms (p * ln ratio) are 9-dp-quantized before
    the exact-decimal total (the PSI convention for libm-sourced
    values); margin entropies likewise. The accumulator is DECIMAL(30,9)
    — scale 9, honoring the quantization (the shared dsum's scale-6
    accumulator would silently re-truncate the terms); both engines use
    the same scale so totals stay bit-identical.
    NMI = MI / sqrt(H_a * H_b)."""
    e = ctx.source("events").select("event_type", _dow_col().alias("dow"))
    cells = (
        e.groupBy("event_type", "dow")
        .agg(F.count(F.lit(1)).alias("n_obs"))
        .transform(barrier)
    )
    row_m = cells.groupBy("event_type").agg(F.sum("n_obs").alias("row_total"))
    col_m = cells.groupBy("dow").agg(F.sum("n_obs").alias("col_total"))
    tot = cells.agg(F.sum("n_obs").alias("n_total"))
    scored = (
        cells.join(F.broadcast(row_m), "event_type")
        .join(F.broadcast(col_m), "dow")
        .crossJoin(F.broadcast(tot))
        .withColumn("p_ab", F.col("n_obs") / F.col("n_total"))
        .withColumn(
            "pmi",
            F.log(
                (F.col("n_obs").cast("double") * F.col("n_total"))
                / (F.col("row_total").cast("double") * F.col("col_total"))
            ),
        )
        .withColumn("term", rnd(F.col("p_ab") * F.col("pmi"), 9))
    )
    h_a = row_m.crossJoin(F.broadcast(tot)).agg(
        _dsum9(
            rnd(
                -(F.col("row_total") / F.col("n_total"))
                * F.log(F.col("row_total") / F.col("n_total")),
                9,
            )
        ).alias("h_types")
    )
    h_b = col_m.crossJoin(F.broadcast(tot)).agg(
        _dsum9(
            rnd(
                -(F.col("col_total") / F.col("n_total"))
                * F.log(F.col("col_total") / F.col("n_total")),
                9,
            )
        ).alias("h_dow")
    )
    mi = scored.agg(_dsum9(F.col("term")).alias("mi_raw"))
    return (
        mi.crossJoin(F.broadcast(h_a))
        .crossJoin(F.broadcast(h_b))
        .select(
            rnd(F.col("mi_raw"), 6).alias("mutual_information"),
            rnd(F.col("h_types"), 6).alias("entropy_types"),
            rnd(F.col("h_dow"), 6).alias("entropy_dow"),
            rnd(
                F.col("mi_raw")
                / F.nullif(F.sqrt(F.col("h_types") * F.col("h_dow")), F.lit(0.0)),
                6,
            ).alias("normalized_mi"),
        )
    )


oracle(
    "events_mutual_information",
    ("events",),
    f"""WITH base AS (
    SELECT event_type, {_DOW_DUCK} AS dow FROM events
),
cells AS (
    SELECT event_type, dow, COUNT(*) AS n_obs FROM base GROUP BY 1, 2
),
row_m AS (
    SELECT event_type, SUM(n_obs) AS row_total FROM cells GROUP BY 1
),
col_m AS (
    SELECT dow, SUM(n_obs) AS col_total FROM cells GROUP BY 1
),
tot AS (
    SELECT SUM(n_obs) AS n_total FROM cells
),
scored AS (
    SELECT
        {rnd_sql('(c.n_obs / t.n_total) * LN((CAST(c.n_obs AS DOUBLE) * t.n_total) / (CAST(r.row_total AS DOUBLE) * m.col_total))', 9)} AS term
    FROM cells c
    JOIN row_m r USING (event_type)
    JOIN col_m m USING (dow)
    CROSS JOIN tot t
),
ha AS (
    SELECT {_dsum9_sql(rnd_sql('-(r.row_total / t.n_total) * LN(r.row_total / t.n_total)', 9))} AS h_types
    FROM row_m r CROSS JOIN tot t
),
hb AS (
    SELECT {_dsum9_sql(rnd_sql('-(m.col_total / t.n_total) * LN(m.col_total / t.n_total)', 9))} AS h_dow
    FROM col_m m CROSS JOIN tot t
),
mi AS (
    SELECT {_dsum9_sql('term')} AS mi_raw FROM scored
)
SELECT
    {rnd_sql('mi.mi_raw', 6)} AS mutual_information,
    {rnd_sql('ha.h_types', 6)} AS entropy_types,
    {rnd_sql('hb.h_dow', 6)} AS entropy_dow,
    {rnd_sql('mi.mi_raw / NULLIF(SQRT(ha.h_types * hb.h_dow), 0.0)', 6)} AS normalized_mi
FROM mi CROSS JOIN ha CROSS JOIN hb""",
)


# --------------------------------------------------------------------------
# bottom-k sampler mergeability proof
# --------------------------------------------------------------------------

BK_SALT = "bk|"
BK_K = 256


@model("events_bottomk_merge_check", layer="operators", materialization="view")
def events_bottomk_merge_check(ctx):
    """Mergeability proof for the bottom-k-by-md5 sampler (the machinery
    behind events_sampled_quantiles), as a hash-checked query: the
    bottom-k of the UNION of two shards' bottom-k samples must be
    bit-identical to the bottom-k of the whole stream. This is what
    makes the sampler a distributed SKETCH — shards sample locally,
    a coordinator merges k-sized states — completing the merge-proof
    family (HLL registers, CMS cells, incremental rollups).

    The certificate compares md5 fingerprints of the two sorted key
    lists, so the equality is over exact content, not counts."""
    e = ctx.source("events").select(
        "event_id",
        F.md5(F.concat(F.lit(BK_SALT), F.col("event_id").cast("string"))).alias(
            "h"
        ),
    ).withColumn("hv", F.col("h"))

    def bottomk(df):
        # payload carries the key under a second name — global_topk's
        # winner struct cannot hold the same field twice
        return global_topk(df, "h", BK_K, ["hv"]).select(
            F.col("hv").alias("h")
        )

    def fingerprint(df, fp_name, n_name):
        return df.agg(
            F.md5(
                F.concat_ws("|", F.slice(F.sort_array(F.collect_list("h")), 1, BK_K))
            ).alias(fp_name),
            F.count(F.lit(1)).cast("long").alias(n_name),
        )

    direct = fingerprint(bottomk(e), "direct_fp", "n_direct")
    shard0 = bottomk(e.filter(F.col("event_id") % 2 == 0))
    shard1 = bottomk(e.filter(F.col("event_id") % 2 == 1))
    merged_rows = shard0.unionByName(shard1).agg(
        F.md5(
            F.concat_ws("|", F.slice(F.sort_array(F.collect_list("h")), 1, BK_K))
        ).alias("merged_fp"),
        F.least(F.count(F.lit(1)), F.lit(BK_K).cast("long")).alias("n_merged"),
    )
    return (
        direct.crossJoin(F.broadcast(merged_rows))
        .select(
            F.lit(BK_K).cast("long").alias("sample_k"),
            "n_direct",
            "n_merged",
            "direct_fp",
            "merged_fp",
            (F.col("direct_fp") == F.col("merged_fp")).alias("merge_exact"),
        )
    )


oracle(
    "events_bottomk_merge_check",
    ("events",),
    f"""WITH hashed AS (
    SELECT event_id, md5(concat('{BK_SALT}', CAST(event_id AS VARCHAR))) AS h
    FROM events
),
d AS (
    SELECT h FROM hashed ORDER BY h LIMIT {BK_K}
),
direct AS (
    SELECT md5(string_agg(h, '|' ORDER BY h)) AS direct_fp,
           CAST(COUNT(*) AS BIGINT) AS n_direct
    FROM d
),
s0 AS (
    SELECT h FROM hashed WHERE event_id % 2 = 0 ORDER BY h LIMIT {BK_K}
),
s1 AS (
    SELECT h FROM hashed WHERE event_id % 2 = 1 ORDER BY h LIMIT {BK_K}
),
m AS (
    SELECT h FROM (SELECT h FROM s0 UNION ALL SELECT h FROM s1)
    ORDER BY h LIMIT {BK_K}
),
merged AS (
    SELECT md5(string_agg(h, '|' ORDER BY h)) AS merged_fp,
           CAST(COUNT(*) AS BIGINT) AS n_merged
    FROM m
)
SELECT
    CAST({BK_K} AS BIGINT) AS sample_k,
    direct.n_direct,
    merged.n_merged,
    direct.direct_fp,
    merged.merged_fp,
    direct.direct_fp = merged.merged_fp AS merge_exact
FROM direct CROSS JOIN merged""",
)


# --------------------------------------------------------------------------
# Welch's two-sample t-test: purchase vs view event values
# --------------------------------------------------------------------------

#: the two event-type "arms" compared by the test
WELCH_A = "purchase"
WELCH_B = "click"


@model("events_ab_welch", layer="operators", materialization="view")
def events_ab_welch(ctx):
    """Welch's unequal-variance two-sample t-test between the value
    distributions of two event types — the A/B-test primitive that,
    unlike the pooled t-test, stays valid when the arms differ in both
    size and variance. One row: per-arm n/mean/variance, the mean
    difference, Welch's t statistic, and the Welch-Satterthwaite
    effective degrees of freedom.

    Determinism: each arm reduces to (n, sum, sum-of-squares) via exact
    decimal sums in ONE bounded aggregation; every derived quantity is
    the same IEEE expression on both engines (the lineitem_corr_matrix
    convention). Scale: one corpus pass to a 2-row frame."""
    e = ctx.source("events").filter(
        F.col("event_type").isin(WELCH_A, WELCH_B)
    )
    m = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        dsum(F.col("value")).alias("s1"),
        dsum(F.col("value") * F.col("value")).alias("s2"),
    )
    nn = F.col("n").cast("double")
    mean = F.col("s1") / nn
    var = (F.col("s2") - nn * mean * mean) / (nn - F.lit(1.0))
    m = m.select(
        "event_type", "n", mean.alias("mean"), var.alias("var")
    )
    a = m.filter(F.col("event_type") == WELCH_A).select(
        F.col("n").alias("n_a"),
        F.col("mean").alias("mean_a"),
        F.col("var").alias("var_a"),
    )
    b = m.filter(F.col("event_type") == WELCH_B).select(
        F.col("n").alias("n_b"),
        F.col("mean").alias("mean_b"),
        F.col("var").alias("var_b"),
    )
    va_n = F.col("var_a") / F.col("n_a").cast("double")
    vb_n = F.col("var_b") / F.col("n_b").cast("double")
    t = (F.col("mean_a") - F.col("mean_b")) / F.sqrt(va_n + vb_n)
    dof = ((va_n + vb_n) * (va_n + vb_n)) / (
        va_n * va_n / (F.col("n_a").cast("double") - F.lit(1.0))
        + vb_n * vb_n / (F.col("n_b").cast("double") - F.lit(1.0))
    )
    return a.crossJoin(b).select(
        F.lit(WELCH_A).alias("arm_a"),
        F.lit(WELCH_B).alias("arm_b"),
        "n_a",
        "n_b",
        rnd(F.col("mean_a"), 6).alias("mean_a"),
        rnd(F.col("mean_b"), 6).alias("mean_b"),
        rnd(F.col("var_a"), 6).alias("var_a"),
        rnd(F.col("var_b"), 6).alias("var_b"),
        rnd(F.col("mean_a") - F.col("mean_b"), 6).alias("mean_diff"),
        rnd(t, 6).alias("t_stat"),
        rnd(dof, 4).alias("welch_dof"),
    )


oracle(
    "events_ab_welch",
    ("events",),
    f"""WITH m AS (
    SELECT event_type,
        CAST(COUNT(*) AS BIGINT) AS n,
        {dsum_sql('value')} AS s1,
        {dsum_sql('value * value')} AS s2
    FROM events WHERE event_type IN ('{WELCH_A}', '{WELCH_B}')
    GROUP BY 1
),
mv AS (
    SELECT event_type, n,
        s1 / CAST(n AS DOUBLE) AS mean,
        (s2 - CAST(n AS DOUBLE) * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)))
            / (CAST(n AS DOUBLE) - 1.0) AS var
    FROM m
),
j AS (
    SELECT
        a.n AS n_a, b.n AS n_b,
        a.mean AS mean_a, b.mean AS mean_b,
        a.var AS var_a, b.var AS var_b,
        a.var / CAST(a.n AS DOUBLE) AS va_n,
        b.var / CAST(b.n AS DOUBLE) AS vb_n
    FROM (SELECT * FROM mv WHERE event_type = '{WELCH_A}') a
    CROSS JOIN (SELECT * FROM mv WHERE event_type = '{WELCH_B}') b
)
SELECT
    '{WELCH_A}' AS arm_a,
    '{WELCH_B}' AS arm_b,
    n_a, n_b,
    {rnd_sql('mean_a', 6)} AS mean_a,
    {rnd_sql('mean_b', 6)} AS mean_b,
    {rnd_sql('var_a', 6)} AS var_a,
    {rnd_sql('var_b', 6)} AS var_b,
    {rnd_sql('mean_a - mean_b', 6)} AS mean_diff,
    {rnd_sql('(mean_a - mean_b) / sqrt(va_n + vb_n)', 6)} AS t_stat,
    {rnd_sql(
        '((va_n + vb_n) * (va_n + vb_n))'
        ' / (va_n * va_n / (CAST(n_a AS DOUBLE) - 1.0)'
        ' + vb_n * vb_n / (CAST(n_b AS DOUBLE) - 1.0))', 4
    )} AS welch_dof
FROM j""",
)


# --------------------------------------------------------------------------
# table column statistics (the ANALYZE primitive)
# --------------------------------------------------------------------------

#: (column, is_numeric) — numeric columns report min/max as doubles;
#: string/timestamp columns report NULL bounds (cross-engine string
#: formatting of doubles/timestamps is not canonical, so bounds stay in
#: the numeric domain where IEEE equality is exact)
LI_STAT_COLS = (
    ("l_orderkey", True),
    ("l_partkey", True),
    ("l_suppkey", True),
    ("l_linenumber", True),
    ("l_quantity", True),
    ("l_extendedprice", True),
    ("l_discount", True),
    ("l_tax", True),
    ("l_returnflag", False),
    ("l_linestatus", False),
    ("l_shipdate", False),
)


@model("lineitem_column_stats", layer="operators", materialization="view")
def lineitem_column_stats(ctx):
    """Per-column table statistics — the ANALYZE primitive a cost-based
    optimizer feeds on: row count, null count/fraction, exact NDV, and
    (for numeric columns) min/max. One row per column.

    Scale: ONE aggregation pass computes every per-column metric
    simultaneously (the multi-count-distinct expands map-side; at true
    100 TB the exact NDVs swap for the repo's md5-register HLL sketches
    — events_hll_users — column by column, same output schema), then a
    single in-row struct explode unpivots the wide row to the per-column
    ledger. No per-column rescans."""
    l = ctx.source("lineitem")
    aggs = [F.count(F.lit(1)).cast("long").alias("_rows")]
    for c, numeric in LI_STAT_COLS:
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("long")
            .alias(f"nn_{c}")
        )
        aggs.append(F.countDistinct(c).cast("long").alias(f"ndv_{c}"))
        if numeric:
            aggs.append(F.min(F.col(c).cast("double")).alias(f"mn_{c}"))
            aggs.append(F.max(F.col(c).cast("double")).alias(f"mx_{c}"))
    wide = l.agg(*aggs)
    structs = [
        F.struct(
            F.lit(c).alias("column"),
            F.col("_rows").alias("n_rows"),
            F.col(f"nn_{c}").alias("n_null"),
            F.col(f"ndv_{c}").alias("ndv"),
            (
                F.col(f"mn_{c}") if numeric else F.lit(None).cast("double")
            ).alias("min_value"),
            (
                F.col(f"mx_{c}") if numeric else F.lit(None).cast("double")
            ).alias("max_value"),
        )
        for c, numeric in LI_STAT_COLS
    ]
    return (
        wide.select(F.explode(F.array(*structs)).alias("s"))
        .select("s.*")
        .withColumn(
            "null_frac",
            rnd(F.col("n_null") / F.col("n_rows").cast("double"), 6),
        )
    )


def _col_stats_oracle() -> str:
    aggs = ["CAST(COUNT(*) AS BIGINT) AS _rows"]
    for c, numeric in LI_STAT_COLS:
        aggs.append(
            f"CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS nn_{c}"
        )
        aggs.append(f"CAST(COUNT(DISTINCT {c}) AS BIGINT) AS ndv_{c}")
        if numeric:
            aggs.append(f"MIN(CAST({c} AS DOUBLE)) AS mn_{c}")
            aggs.append(f"MAX(CAST({c} AS DOUBLE)) AS mx_{c}")
    sels = []
    for c, numeric in LI_STAT_COLS:
        mn = f"mn_{c}" if numeric else "CAST(NULL AS DOUBLE)"
        mx = f"mx_{c}" if numeric else "CAST(NULL AS DOUBLE)"
        sels.append(
            f"""SELECT '{c}' AS column, _rows AS n_rows, nn_{c} AS n_null,
    ndv_{c} AS ndv, {mn} AS min_value, {mx} AS max_value,
    {rnd_sql(f'CAST(nn_{c} AS DOUBLE) / _rows', 6)} AS null_frac
FROM wide"""
        )
    return (
        "WITH wide AS (\n    SELECT "
        + ",\n        ".join(aggs)
        + "\n    FROM lineitem\n)\n"
        + "\nUNION ALL\n".join(sels)
    )


oracle("lineitem_column_stats", ("lineitem",), _col_stats_oracle())


# --------------------------------------------------------------------------
# experimentation stack: CUPED variance reduction + sample-ratio mismatch
# --------------------------------------------------------------------------

#: deterministic synthetic A/B assignment (user_id parity) standing in for
#: the experiment's assignment column — a real deployment swaps the
#: expression; everything downstream is the production plan.
_ARM = "CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END"


@model("events_ab_cuped", layer="operators", materialization="view")
def events_ab_cuped(ctx):
    """CUPED (Controlled-experiment Using Pre-Experiment Data, Deng et
    al., WSDM'13): adjust each user's experiment-period metric Y by the
    pre-period covariate X — Y' = Y − θ·(X − E[X]), θ = cov(X,Y)/var(X) —
    and report per-arm adjusted means plus the variance-reduction factor
    ρ² = cov²/(var_x·var_y). The pre/post cut is the midpoint of the
    observed epoch-ms span (integer arithmetic); the covariate is the
    user's pre-period value sum, the metric the post-period value sum.

    Determinism: per-user X/Y are exact-decimal sums quantized to 6 dp;
    pooled moments accumulate their products through DECIMAL(30,9), so θ
    is the same IEEE expression on both engines. Scale: ONE user-grain
    aggregation (checkpointed — it feeds the pooled-moment and per-arm
    consumers), then 1-row/2-row bounded frames."""
    e = ctx.source("events").select(
        "user_id", F.expr("unix_millis(ts)").alias("ms"), "value"
    )
    bounds = e.agg(
        F.expr("min(ms) + (max(ms) - min(ms)) div 2").alias("t_mid")
    )
    per_user = (
        e.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            rnd(
                dsum(
                    F.when(F.col("ms") <= F.col("t_mid"), F.col("value"))
                    .otherwise(F.lit(0.0))
                ),
                6,
            ).alias("x"),
            rnd(
                dsum(
                    F.when(F.col("ms") > F.col("t_mid"), F.col("value"))
                    .otherwise(F.lit(0.0))
                ),
                6,
            ).alias("y"),
        )
        .withColumn("arm", F.expr(_ARM))
        .transform(barrier, eager=False)
    )
    pooled = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        _dsum9(F.col("x")).alias("sx"),
        _dsum9(F.col("y")).alias("sy"),
        _dsum9(F.col("x") * F.col("y")).alias("sxy"),
        _dsum9(F.col("x") * F.col("x")).alias("sxx"),
        _dsum9(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n").cast("double")
    cov = F.col("sxy") - F.col("sx") * F.col("sy") / n
    vx = F.col("sxx") - F.col("sx") * F.col("sx") / n
    vy = F.col("syy") - F.col("sy") * F.col("sy") / n
    scalars = pooled.select(
        rnd(
            F.when(vx > F.lit(0.0), cov / vx).otherwise(F.lit(0.0)), 9
        ).alias("theta"),
        rnd(F.col("sx") / n, 6).alias("mean_x_pooled"),
        rnd(
            F.when(
                (vx > F.lit(0.0)) & (vy > F.lit(0.0)),
                cov * cov / (vx * vy),
            ).otherwise(F.lit(0.0)),
            9,
        ).alias("var_reduction"),
    )
    arms = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        _dsum9(F.col("x")).alias("sx_a"),
        _dsum9(F.col("y")).alias("sy_a"),
    )
    j = arms.crossJoin(F.broadcast(scalars))
    na = F.col("n_users").cast("double")
    mean_y = F.col("sy_a") / na
    mean_x = F.col("sx_a") / na
    adj = mean_y - F.col("theta") * (mean_x - F.col("mean_x_pooled"))
    return j.select(
        "arm",
        "n_users",
        rnd(mean_y, 6).alias("mean_post"),
        rnd(adj, 6).alias("mean_post_adjusted"),
        "theta",
        "var_reduction",
    )


def _cuped_oracle() -> str:
    mid = "SELECT MIN(ms) + (MAX(ms) - MIN(ms)) // 2 AS t_mid FROM e"
    return f"""WITH e AS (
    SELECT user_id, epoch_ms(ts) AS ms, value FROM events
),
b AS ({mid}),
pu AS (
    SELECT user_id,
        {rnd_sql(dsum_sql(
            'CASE WHEN ms <= t_mid THEN value ELSE 0.0 END'), 6)} AS x,
        {rnd_sql(dsum_sql(
            'CASE WHEN ms > t_mid THEN value ELSE 0.0 END'), 6)} AS y,
        {_ARM} AS arm
    FROM e CROSS JOIN b
    GROUP BY user_id
),
pooled AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
        {_dsum9_sql('x')} AS sx, {_dsum9_sql('y')} AS sy,
        {_dsum9_sql('x * y')} AS sxy,
        {_dsum9_sql('x * x')} AS sxx,
        {_dsum9_sql('y * y')} AS syy
    FROM pu
),
scalars AS (
    SELECT
        {rnd_sql(
            'CASE WHEN sxx - sx * sx / n > 0.0'
            ' THEN (sxy - sx * sy / n) / (sxx - sx * sx / n)'
            ' ELSE 0.0 END', 9)} AS theta,
        {rnd_sql('sx / n', 6)} AS mean_x_pooled,
        {rnd_sql(
            'CASE WHEN sxx - sx * sx / n > 0.0 AND syy - sy * sy / n > 0.0'
            ' THEN (sxy - sx * sy / n) * (sxy - sx * sy / n)'
            ' / ((sxx - sx * sx / n) * (syy - sy * sy / n))'
            ' ELSE 0.0 END', 9)} AS var_reduction
    FROM pooled
),
arms AS (
    SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_users,
        {_dsum9_sql('x')} AS sx_a, {_dsum9_sql('y')} AS sy_a
    FROM pu GROUP BY arm
)
SELECT arm, n_users,
    {rnd_sql('sy_a / n_users', 6)} AS mean_post,
    {rnd_sql(
        'sy_a / n_users - theta * (sx_a / n_users - mean_x_pooled)', 6
    )} AS mean_post_adjusted,
    theta,
    var_reduction
FROM arms CROSS JOIN scalars"""


oracle("events_ab_cuped", ("events",), _cuped_oracle())


@model("events_ab_srm_check", layer="operators", materialization="view")
def events_ab_srm_check(ctx):
    """Sample-ratio-mismatch guardrail for the A/B assignment: chi-square
    of the per-arm USER counts against the designed 50/50 split —
    χ² = (n_A − n_B)²/(n_A + n_B), flagged at the 1-dof 5% critical value
    3.841. The first thing to check before reading any experiment metric;
    a failed SRM invalidates the whole readout. One distinct-user census
    to a 1-row frame."""
    u = (
        ctx.source("events")
        .select("user_id")
        .distinct()
        .withColumn("arm", F.expr(_ARM))
    )
    g = u.agg(
        F.sum(F.when(F.col("arm") == "A", 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("arm") == "B", 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    chi2 = (na - nb) * (na - nb) / (na + nb)
    return g.select(
        "n_a",
        "n_b",
        rnd(chi2, 6).alias("srm_chi2"),
        (chi2 > F.lit(3.841)).alias("srm_flag"),
    )


oracle(
    "events_ab_srm_check",
    ("events",),
    f"""WITH u AS (
    SELECT DISTINCT user_id FROM events
),
a AS (
    SELECT
        CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_b
    FROM u
)
SELECT n_a, n_b,
    {rnd_sql(
        '(CAST(n_a AS DOUBLE) - n_b) * (CAST(n_a AS DOUBLE) - n_b)'
        ' / (CAST(n_a AS DOUBLE) + n_b)', 6)} AS srm_chi2,
    ((CAST(n_a AS DOUBLE) - n_b) * (CAST(n_a AS DOUBLE) - n_b)
     / (CAST(n_a AS DOUBLE) + n_b)) > 3.841 AS srm_flag
FROM a""",
)


# --------------------------------------------------------------------------
# resampling-free uncertainty: block jackknife + delta-method ratio CI
# --------------------------------------------------------------------------

#: jackknife block count (md5-keyed, so blocks are growth-stable)
_JK_BLOCKS = 32


@model("order_mean_jackknife_ci", layer="operators", materialization="view")
def order_mean_jackknife_ci(ctx):
    """Block-jackknife 95% CI for the mean order value — the uncertainty
    estimate that needs NO distributional assumption and NO random
    resampling: orders hash deterministically (md5) into 32 blocks, each
    leave-one-block-out mean is closed-form from the per-block (n, sum),
    and the jackknife variance is (B−1)/B · Σ(θ_i − θ̄)². At 100 TB this
    is ONE aggregation to a 32-row frame; a bootstrap would need R full
    resample passes.

    Determinism: per-block sums are exact decimal; θ_i is 9-dp-quantized
    and θ_i² 6-dp-quantized before the DECIMAL(30,9) reduction (θ² at
    9 dp would push floor()'s argument past 2^63 — Spark's floor(double)
    returns BIGINT and silently wraps where DuckDB's stays double; 6 dp
    keeps the argument < 2^63 for θ up to ~3e6), so the variance is
    addition-order-free on both engines."""
    h = F.md5(F.col("o_orderkey").cast("string"))
    hexd = "0123456789abcdef"
    n1 = F.instr(F.lit(hexd), F.substring(h, 1, 1)) - 1
    n2 = F.instr(F.lit(hexd), F.substring(h, 2, 1)) - 1
    o = ctx.source("orders").select(
        F.pmod(n1 * 16 + n2, F.lit(_JK_BLOCKS)).cast("long").alias("blk"),
        "o_totalprice",
    )
    per_blk = o.groupBy("blk").agg(
        F.count(F.lit(1)).cast("long").alias("n_i"),
        dsum(F.col("o_totalprice")).alias("s_i"),
    )
    tot = per_blk.agg(
        F.sum("n_i").cast("long").alias("n"),
        _dsum9(F.col("s_i")).alias("s"),
        F.count(F.lit(1)).cast("long").alias("b"),
    )
    j = per_blk.crossJoin(F.broadcast(tot))
    theta = rnd(
        (F.col("s") - F.col("s_i"))
        / (F.col("n") - F.col("n_i")).cast("double"),
        9,
    )
    m = j.agg(
        _dsum9(theta).alias("st"),
        _dsum9(rnd(theta * theta, 6)).alias("stt"),
        F.max("n").alias("n"),
        F.max("s").alias("s"),
        F.max("b").alias("b"),
    )
    bd = F.col("b").cast("double")
    var_jack = (
        (bd - F.lit(1.0))
        / bd
        * (F.col("stt") - F.col("st") * F.col("st") / bd)
    )
    mean = F.col("s") / F.col("n").cast("double")
    se = F.sqrt(F.greatest(var_jack, F.lit(0.0)))
    return m.select(
        "n",
        F.col("b").alias("n_blocks"),
        rnd(mean, 6).alias("mean"),
        rnd(se, 6).alias("jackknife_se"),
        rnd(mean - F.lit(1.96) * se, 6).alias("ci_lo"),
        rnd(mean + F.lit(1.96) * se, 6).alias("ci_hi"),
    )


oracle(
    "order_mean_jackknife_ci",
    ("orders",),
    f"""WITH o AS (
    SELECT CAST((
        (strpos('0123456789abcdef', substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) - 1) * 16
        + (strpos('0123456789abcdef', substring(md5(CAST(o_orderkey AS VARCHAR)), 2, 1)) - 1)
    ) % {_JK_BLOCKS} AS BIGINT) AS blk,
           o_totalprice
    FROM orders
),
pb AS (
    SELECT blk, CAST(COUNT(*) AS BIGINT) AS n_i,
           {dsum_sql('o_totalprice')} AS s_i
    FROM o GROUP BY blk
),
tot AS (
    SELECT CAST(SUM(n_i) AS BIGINT) AS n,
           {_dsum9_sql('s_i')} AS s,
           CAST(COUNT(*) AS BIGINT) AS b
    FROM pb
),
th AS (
    SELECT {rnd_sql('(t.s - pb.s_i) / (t.n - pb.n_i)', 9)} AS theta,
           t.n, t.s, t.b
    FROM pb CROSS JOIN tot t
),
m AS (
    SELECT {_dsum9_sql('theta')} AS st,
           {_dsum9_sql(rnd_sql('theta * theta', 6))} AS stt,
           MAX(n) AS n, MAX(s) AS s, MAX(b) AS b
    FROM th
)
SELECT n, b AS n_blocks,
    {rnd_sql('s / n', 6)} AS mean,
    {rnd_sql(
        'SQRT(GREATEST((b - 1.0) / b * (stt - st * st / b), 0.0))', 6
    )} AS jackknife_se,
    {rnd_sql(
        's / n - 1.96 * SQRT(GREATEST((b - 1.0) / b * (stt - st * st / b), 0.0))', 6
    )} AS ci_lo,
    {rnd_sql(
        's / n + 1.96 * SQRT(GREATEST((b - 1.0) / b * (stt - st * st / b), 0.0))', 6
    )} AS ci_hi
FROM m""",
)


@model("events_ratio_metric_ci", layer="operators", materialization="view")
def events_ratio_metric_ci(ctx):
    """Delta-method 95% CI for the ratio metric "value per event"
    (Σ value / Σ events over users) — ratio metrics are the norm in
    experimentation and a naive per-event variance is WRONG because the
    denominator is random too; the delta method gives
    var(x̄/ȳ) ≈ (s²_x + R²·s²_y − 2R·s_xy) / (n·ȳ²) from the same
    user-grain moments CUPED uses. One user-grain aggregation, 1-row
    output."""
    pu = (
        ctx.source("events")
        .groupBy("user_id")
        .agg(
            rnd(dsum(F.col("value")), 6).alias("x"),
            F.count(F.lit(1)).cast("long").alias("y"),
        )
    )
    m = pu.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        _dsum9(F.col("x")).alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        _dsum9(F.col("x") * F.col("y")).alias("sxy"),
        _dsum9(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    n = F.col("n").cast("double")
    xbar = F.col("sx") / n
    ybar = F.col("sy").cast("double") / n
    r = F.col("sx") / F.col("sy").cast("double")
    vx = (F.col("sxx") - F.col("sx") * F.col("sx") / n) / (n - F.lit(1.0))
    vy = (
        F.col("syy").cast("double")
        - F.col("sy").cast("double") * F.col("sy").cast("double") / n
    ) / (n - F.lit(1.0))
    cxy = (
        F.col("sxy") - F.col("sx") * F.col("sy").cast("double") / n
    ) / (n - F.lit(1.0))
    se = F.sqrt(
        F.greatest(
            (vx + r * r * vy - F.lit(2.0) * r * cxy) / (n * ybar * ybar),
            F.lit(0.0),
        )
    )
    return m.select(
        "n",
        rnd(r, 6).alias("ratio"),
        rnd(xbar, 6).alias("mean_value_per_user"),
        rnd(ybar, 6).alias("mean_events_per_user"),
        rnd(se, 9).alias("delta_se"),
        rnd(r - F.lit(1.96) * se, 6).alias("ci_lo"),
        rnd(r + F.lit(1.96) * se, 6).alias("ci_hi"),
    )


def _ratio_ci_oracle() -> str:
    vx = "(sxx - sx * sx / n) / (n - 1.0)"
    vy = "(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n) / (n - 1.0)"
    cxy = "(sxy - sx * CAST(sy AS DOUBLE) / n) / (n - 1.0)"
    r = "(sx / CAST(sy AS DOUBLE))"
    ybar = "(CAST(sy AS DOUBLE) / n)"
    se = (
        f"SQRT(GREATEST((({vx}) + {r} * {r} * ({vy})"
        f" - 2.0 * {r} * ({cxy})) / (n * {ybar} * {ybar}), 0.0))"
    )
    return f"""WITH pu AS (
    SELECT user_id,
        {rnd_sql(dsum_sql('value'), 6)} AS x,
        CAST(COUNT(*) AS BIGINT) AS y
    FROM events GROUP BY user_id
),
m AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
        {_dsum9_sql('x')} AS sx,
        CAST(SUM(y) AS BIGINT) AS sy,
        {_dsum9_sql('x * y')} AS sxy,
        {_dsum9_sql('x * x')} AS sxx,
        CAST(SUM(y * y) AS BIGINT) AS syy
    FROM pu
)
SELECT n,
    {rnd_sql(r, 6)} AS ratio,
    {rnd_sql('sx / n', 6)} AS mean_value_per_user,
    {rnd_sql(ybar, 6)} AS mean_events_per_user,
    {rnd_sql(se, 9)} AS delta_se,
    {rnd_sql(f'{r} - 1.96 * {se}', 6)} AS ci_lo,
    {rnd_sql(f'{r} + 1.96 * {se}', 6)} AS ci_hi
FROM m"""


oracle("events_ratio_metric_ci", ("events",), _ratio_ci_oracle())


# --------------------------------------------------------------------------
# l-diversity privacy census over documents
# --------------------------------------------------------------------------

#: sensitive-attribute banding: document length in 100-char bands (a
#: bounded domain — n_chars is capped by the ingest contract).
LDIV_BAND_CHARS = 100


@model("docs_l_diversity", layer="operators", materialization="view")
def docs_l_diversity(ctx):
    """l-diversity census (Machanavajjhala et al., ICDE'06) for a document
    release keyed by the quasi-identifiers (lang, source), with the
    length band (n_chars // 100) as the sensitive attribute: per QI
    group, k-anonymity (group size), distinct-l (distinct sensitive
    values), and entropy-l = exp(H(sensitive | group)) — the release is
    "entropy l-diverse" iff min(entropy_l) >= l. Complements the k-anon
    release gate (models/extended.py) with the diversity dimension k-anon
    alone misses (a group of 1000 docs all in one length band is
    1000-anonymous yet fully determined on the sensitive attribute).

    Scale shape: one bounded-grain aggregation to (lang, source, band)
    cells, one window over those cells on the SAME (lang, source) key the
    final groupBy shuffles on (partitioning reused, no extra exchange),
    then the bounded group rollup — no frame here grows with the corpus.
    Entropy terms are quantized (rnd 9) before the scale-9 decimal
    accumulation, the repo-wide ln determinism convention."""
    from pyspark.sql import Window

    d = ctx.source("documents")
    band = (F.col("n_chars") / LDIV_BAND_CHARS).cast("long")
    cells = (
        d.select("lang", "source", band.alias("band"))
        .groupBy("lang", "source", "band")
        .agg(F.count(F.lit(1)).cast("long").alias("n_band"))
    )
    w = Window.partitionBy("lang", "source")
    p = F.col("n_band") / F.col("k_anonymity")
    return (
        cells.withColumn("k_anonymity", F.sum("n_band").over(w).cast("long"))
        .withColumn("term", rnd(-p * F.log(p), 9))
        .groupBy("lang", "source")
        .agg(
            F.max("k_anonymity").alias("k_anonymity"),
            F.count(F.lit(1)).cast("long").alias("l_distinct"),
            _dsum9(F.col("term")).alias("_h"),
        )
        .select(
            "lang",
            "source",
            "k_anonymity",
            "l_distinct",
            rnd(F.exp(F.col("_h")), 6).alias("entropy_l"),
        )
    )


oracle(
    "docs_l_diversity",
    ("documents",),
    f"""WITH cells AS (
    SELECT lang, source,
           CAST(n_chars // {LDIV_BAND_CHARS} AS BIGINT) AS band,
           CAST(COUNT(*) AS BIGINT) AS n_band
    FROM documents
    GROUP BY 1, 2, 3
),
with_k AS (
    SELECT *,
           CAST(SUM(n_band) OVER (PARTITION BY lang, source) AS BIGINT)
               AS k_anonymity
    FROM cells
)
SELECT lang, source,
       MAX(k_anonymity) AS k_anonymity,
       CAST(COUNT(*) AS BIGINT) AS l_distinct,
       {rnd_sql('exp(' + _dsum9_sql(rnd_sql(
           '-(CAST(n_band AS DOUBLE) / k_anonymity)'
           ' * ln(CAST(n_band AS DOUBLE) / k_anonymity)', 9
       )) + ')', 6)} AS entropy_l
FROM with_k
GROUP BY 1, 2""",
)


# --------------------------------------------------------------------------
# quantile normalization: cross-source score calibration
# --------------------------------------------------------------------------

#: score-grid resolution: quality_prob quantized to 1e-3 — the grid (and
#: with it every frame below) is bounded at 1001 × n_sources rows.
QNORM_GRID = 1000


@model("docs_quality_quantile_norm", layer="operators", materialization="view")
def docs_quality_quantile_norm(ctx):
    """Quantile normalization of the quality-classifier score across
    sources: each source's score distribution is mapped onto the GLOBAL
    score distribution (source CDF -> smallest global score bin at or
    above that CDF). The curation problem this solves: a fixed
    quality_prob cutoff keeps 80% of one source and 8% of another purely
    because their score distributions differ; normalized scores make one
    threshold mean the same percentile everywhere (the quantile-mapping
    trick used for batch-effect removal in bioinformatics, applied to
    corpus curation).

    Scale shape: ONE corpus-grain aggregation to the (source, score-bin)
    grid; everything downstream — per-source CDFs (window keyed on the
    same source grain), the global CDF, and the CDF-alignment range join
    against the broadcast 1001-row global grid — runs on bounded frames.
    CDF values are exact ratios of integers, so the >= alignment compares
    identical doubles on both engines."""
    from pyspark.sql import Window

    scored = ctx.ref("doc_quality_classifier").select(
        "source",
        (F.floor(F.col("quality_prob") * QNORM_GRID) / QNORM_GRID).alias("bin"),
    )
    cells = (
        scored.groupBy("source", "bin")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .transform(barrier)
    )
    w_src = (
        Window.partitionBy("source")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_src_all = Window.partitionBy("source")
    src = cells.select(
        "source",
        "bin",
        "n_docs",
        (
            F.sum("n_docs").over(w_src).cast("double")
            / F.sum("n_docs").over(w_src_all)
        ).alias("source_cdf"),
    )
    w_g = Window.orderBy("gbin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    glob = (
        cells.groupBy(F.col("bin").alias("gbin"))
        .agg(F.sum("n_docs").cast("long").alias("gn"))
        .select(
            "gbin",
            (
                F.sum("gn").over(w_g).cast("double")
                / F.sum("gn").over(Window.partitionBy())
            ).alias("global_cdf"),
        )
    )
    # alignment: smallest global bin whose CDF reaches the source CDF —
    # a range join against the broadcast bounded global grid
    joined = src.join(
        F.broadcast(glob), F.col("global_cdf") >= F.col("source_cdf")
    )
    return joined.groupBy("source", "bin", "n_docs", "source_cdf").agg(
        F.min("gbin").alias("normalized_score")
    ).select(
        "source",
        F.col("bin").alias("score_bin"),
        "n_docs",
        rnd(F.col("source_cdf"), 6).alias("source_cdf"),
        "normalized_score",
    )


oracle(
    "docs_quality_quantile_norm",
    ("doc_quality_classifier",),
    f"""WITH cells AS (
    SELECT source,
           floor(quality_prob * {QNORM_GRID}) / {QNORM_GRID} AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM doc_quality_classifier
    GROUP BY 1, 2
),
src AS (
    SELECT source, bin, n_docs,
           CAST(SUM(n_docs) OVER (PARTITION BY source ORDER BY bin
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           / SUM(n_docs) OVER (PARTITION BY source) AS source_cdf
    FROM cells
),
gcdf AS (
    SELECT gbin,
           CAST(SUM(gn) OVER (ORDER BY gbin
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           / SUM(gn) OVER () AS global_cdf
    FROM (
        SELECT bin AS gbin, CAST(SUM(n_docs) AS BIGINT) AS gn
        FROM cells GROUP BY 1
    )
)
SELECT src.source, src.bin AS score_bin, src.n_docs,
       {rnd_sql('src.source_cdf', 6)} AS source_cdf,
       MIN(gcdf.gbin) AS normalized_score
FROM src JOIN gcdf ON gcdf.global_cdf >= src.source_cdf
GROUP BY 1, 2, 3, 4""",
)


# --------------------------------------------------------------------------
# five-number summary + Tukey outlier census per event type
# --------------------------------------------------------------------------

#: Tukey fence multiplier (1.5 × IQR, the boxplot convention).
TUKEY_K = 1.5


@model("events_boxplot_stats", layer="operators", materialization="view")
def events_boxplot_stats(ctx):
    """Per-event-type boxplot: exact five-number summary (min, q1, median,
    q3, max), the Tukey fences q1/q3 ∓ 1.5·IQR, and the count of rows
    outside them — the distribution-shape gate a pipeline puts on every
    numeric feed (complements events_mad_anomaly, which judges the
    day-grain series; this judges the raw value distribution per type).

    Scale shape: quartiles are per-GROUP exact percentiles computed in one
    hash aggregation over a bounded group domain (|event_type| groups);
    fences broadcast back (bounded frame) and the outlier census is a
    second single aggregation. Two passes over the corpus, zero windows —
    at unbounded group cardinality you'd swap in the sampled-quantile
    machinery (events_sampled_quantiles)."""
    e = ctx.source("events").select("event_type", "value")
    q = e.groupBy("event_type").agg(
        F.min("value").alias("vmin"),
        rnd(F.percentile("value", F.lit(0.25)), 6).alias("q1"),
        rnd(F.percentile("value", F.lit(0.5)), 6).alias("median"),
        rnd(F.percentile("value", F.lit(0.75)), 6).alias("q3"),
        F.max("value").alias("vmax"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )
    iqr = F.col("q3") - F.col("q1")
    fenced = q.select(
        "*",
        rnd(F.col("q1") - TUKEY_K * iqr, 6).alias("lo_fence"),
        rnd(F.col("q3") + TUKEY_K * iqr, 6).alias("hi_fence"),
    )
    out = (
        e.join(F.broadcast(fenced), "event_type")
        .groupBy(
            "event_type",
            "n_rows",
            "vmin",
            "q1",
            "median",
            "q3",
            "vmax",
            "lo_fence",
            "hi_fence",
        )
        .agg(
            isum(
                F.when(
                    (F.col("value") < F.col("lo_fence"))
                    | (F.col("value") > F.col("hi_fence")),
                    F.lit(1),
                ).otherwise(F.lit(0))
            ).alias("n_outliers")
        )
    )
    return out.select(
        "event_type",
        "n_rows",
        rnd(F.col("vmin"), 6).alias("vmin"),
        "q1",
        "median",
        "q3",
        rnd(F.col("vmax"), 6).alias("vmax"),
        "lo_fence",
        "hi_fence",
        "n_outliers",
    )


oracle(
    "events_boxplot_stats",
    ("events",),
    f"""WITH q AS (
    SELECT event_type,
           MIN(value) AS vmin,
           {rnd_sql('percentile_cont(0.25) WITHIN GROUP (ORDER BY value)', 6)} AS q1,
           {rnd_sql('percentile_cont(0.5) WITHIN GROUP (ORDER BY value)', 6)} AS median,
           {rnd_sql('percentile_cont(0.75) WITHIN GROUP (ORDER BY value)', 6)} AS q3,
           MAX(value) AS vmax,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM events GROUP BY 1
),
fenced AS (
    SELECT *,
           {rnd_sql(f'q1 - {TUKEY_K} * (q3 - q1)', 6)} AS lo_fence,
           {rnd_sql(f'q3 + {TUKEY_K} * (q3 - q1)', 6)} AS hi_fence
    FROM q
)
SELECT
    e.event_type,
    f.n_rows,
    {rnd_sql('f.vmin', 6)} AS vmin,
    f.q1,
    f.median,
    f.q3,
    {rnd_sql('f.vmax', 6)} AS vmax,
    f.lo_fence,
    f.hi_fence,
    {isum_sql('CASE WHEN e.value < f.lo_fence OR e.value > f.hi_fence THEN 1 ELSE 0 END')} AS n_outliers
FROM events e JOIN fenced f USING (event_type)
GROUP BY 1, 2, 3, 4, 5, 6, 7, 8, 9""",
)


# --------------------------------------------------------------------------
# functional-dependency discovery census (data profiling)
# --------------------------------------------------------------------------

#: candidate FDs X -> Y probed over documents. doc_id -> lang is the
#: positive control (keys determine everything); the cross-attribute pairs
#: are the profiling targets.
FD_CANDIDATES: tuple[tuple[str, str, str], ...] = (
    ("doc_id_to_lang", "CAST(doc_id AS STRING)", "lang"),
    ("lang_to_source", "lang", "source"),
    ("source_to_lang", "source", "lang"),
    ("band_to_lang", "CAST(n_chars DIV 100 AS STRING)", "lang"),
)

_FD_CANDIDATES_DUCK: tuple[tuple[str, str, str], ...] = (
    ("doc_id_to_lang", "CAST(doc_id AS VARCHAR)", "lang"),
    ("lang_to_source", "lang", "source"),
    ("source_to_lang", "source", "lang"),
    ("band_to_lang", "CAST(n_chars // 100 AS VARCHAR)", "lang"),
)


@model("docs_fd_violations", layer="operators", materialization="view")
def docs_fd_violations(ctx):
    """Functional-dependency discovery census (the TANE/Metanome profiling
    primitive, reduced to the verification step): for each candidate
    X -> Y, how many X groups exist, how many have more than one distinct
    Y (violations), and the worst fan-out. An exact FD has zero violating
    groups — doc_id -> lang rides along as the positive control a broken
    census would fail. Schema profiling like this is how a pipeline
    discovers which columns are safe dedup/partition/join keys.

    Scale shape: one groupBy per candidate at the X grain (the key-grain
    control is the only corpus-sized one — a plain map-side-combined
    count-distinct shuffle), then a bounded per-FD rollup; candidates are
    unioned so the output is |FD_CANDIDATES| rows."""
    d = ctx.source("documents")
    parts = []
    for fd, x, y in FD_CANDIDATES:
        groups = (
            d.selectExpr(f"{x} AS x", f"{y} AS y")
            .groupBy("x")
            .agg(F.countDistinct("y").cast("long").alias("n_y"))
        )
        parts.append(
            groups.agg(
                F.lit(fd).alias("fd"),
                F.count(F.lit(1)).cast("long").alias("n_groups"),
                isum(
                    F.when(F.col("n_y") > 1, F.lit(1)).otherwise(F.lit(0))
                ).alias("violating_groups"),
                F.max("n_y").alias("max_distinct_y"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        "fd",
        "n_groups",
        "violating_groups",
        rnd(
            F.col("violating_groups").cast("double") / F.col("n_groups"), 6
        ).alias("violation_rate"),
        "max_distinct_y",
        (F.col("violating_groups") == 0).alias("holds"),
    )


def _fd_oracle() -> str:
    selects = []
    for fd, x, y in _FD_CANDIDATES_DUCK:
        selects.append(
            f"""SELECT '{fd}' AS fd,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       {isum_sql('CASE WHEN n_y > 1 THEN 1 ELSE 0 END')} AS violating_groups,
       {rnd_sql(isum_sql('CASE WHEN n_y > 1 THEN 1 ELSE 0 END') + ' * 1.0 / COUNT(*)', 6)} AS violation_rate,
       MAX(n_y) AS max_distinct_y,
       ({isum_sql('CASE WHEN n_y > 1 THEN 1 ELSE 0 END')} = 0) AS holds
FROM (
    SELECT {x} AS x, CAST(COUNT(DISTINCT {y}) AS BIGINT) AS n_y
    FROM documents GROUP BY 1
)"""
        )
    return "\nUNION ALL\n".join(selects)


oracle("docs_fd_violations", ("documents",), _fd_oracle())


# --------------------------------------------------------------------------
# A/B power analysis (sample-size / minimum-detectable-effect report)
# --------------------------------------------------------------------------

#: two-sided alpha=0.05 and power=0.80 normal quantiles, shared as Python
#: literals so both engines use identical constants (no erf inverse in SQL)
PWR_Z_ALPHA = 1.959963984540054
PWR_Z_BETA = 0.8416212335729143
PWR_REL_LIFT = 0.05  # the "design" lift the sample-size column targets


@model("events_power_analysis", layer="operators", materialization="view")
def events_power_analysis(ctx):
    """Pre-experiment power analysis from observed traffic: per event
    type, the minimum detectable effect (MDE) a 50/50 A/B test on the
    CURRENT volume could resolve at alpha=0.05 / power=0.80, and the
    per-arm sample size a 5% relative lift would need — the go/no-go
    sizing report that precedes events_ab_welch/events_ab_cuped.

        mde_abs = (z_a + z_b) * sqrt(2 * s² / n_arm),  n_arm = n/2
        n_arm(lift) = 2 * (z_a + z_b)² * s² / (lift·mean)²

    Scale shape: one bounded-grain aggregation (exact-decimal moments per
    event type); everything after is row-local arithmetic on the
    |event_type|-row frame. Determinism: stddev is quantized (rnd 6)
    before the closed-form math, the repo's libm convention."""
    from dbt_tpch_spark.functions import davg, dstddev_samp

    z = PWR_Z_ALPHA + PWR_Z_BETA
    g = ctx.source("events").groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        rnd(davg(F.col("value")), 6).alias("mean_value"),
        rnd(dstddev_samp(F.col("value")), 6).alias("stddev_value"),
    )
    n_arm = F.col("n_events").cast("double") / F.lit(2.0)
    var = F.col("stddev_value") * F.col("stddev_value")
    mde_abs = rnd(
        F.lit(z) * F.sqrt(F.lit(2.0) * var / n_arm), 6
    )
    return g.select(
        "event_type",
        "n_events",
        "mean_value",
        "stddev_value",
        mde_abs.alias("mde_abs"),
        rnd(mde_abs / F.col("mean_value"), 6).alias("mde_rel"),
        F.ceil(
            rnd(
                F.lit(2.0 * z * z)
                * var
                / (
                    (F.lit(PWR_REL_LIFT) * F.col("mean_value"))
                    * (F.lit(PWR_REL_LIFT) * F.col("mean_value"))
                ),
                6,
            )
        )
        .cast("long")
        .alias("n_per_arm_for_5pct_lift"),
    )


def _power_oracle() -> str:
    z = PWR_Z_ALPHA + PWR_Z_BETA
    mde = rnd_sql(
        f"{z} * sqrt(2.0 * (stddev_value * stddev_value)"
        " / (CAST(n_events AS DOUBLE) / 2.0))",
        6,
    )
    n_req = rnd_sql(
        f"{2.0 * z * z} * (stddev_value * stddev_value)"
        f" / (({PWR_REL_LIFT} * mean_value) * ({PWR_REL_LIFT} * mean_value))",
        6,
    )
    return f"""WITH g AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {rnd_sql(davg_sql('value'), 6)} AS mean_value,
           {rnd_sql(dstddev_samp_sql('value'), 6)} AS stddev_value
    FROM events GROUP BY 1
)
SELECT event_type, n_events, mean_value, stddev_value,
       {mde} AS mde_abs,
       {rnd_sql(f'({mde}) / mean_value', 6)} AS mde_rel,
       CAST(CEIL({n_req}) AS BIGINT) AS n_per_arm_for_5pct_lift
FROM g"""


oracle("events_power_analysis", ("events",), _power_oracle())
