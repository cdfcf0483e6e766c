"""Deterministic HyperLogLog over ``events``: a cardinality sketch whose
registers are pure functions of md5, so BOTH engines build bit-identical
sketches and the estimate itself passes the hash-parity gate — unlike
native ``approx_count_distinct`` (Spark HLL++) vs DuckDB ``approx_*``,
whose internal hashes differ and which can only ever get a rows-only
check.

Flajolet et al., "HyperLogLog: the analysis of a near-optimal cardinality
estimation algorithm" (AofA 2007): m=256 registers; each value hashes to
(bucket = first 2 hex digits, rho = 1 + leading zero BITS of the next 12
hex digits); estimate = alpha_m * m^2 / sum(2^-M_j) with the small-range
linear-counting correction.

Hex digits convert without any hex->int builtin (DuckDB has no conv()):
digit value = strpos('0123456789abcdef', c) - 1, and the leading-zero-bit
count decomposes as 4 * (zero-digit prefix length, via regexp '^0*') +
a 4-case CASE on the first nonzero digit. All string ops both engines
share.

Why it matters at 100 TB: the register table IS the mergeable sketch —
groupBy(key, bucket).max(rho) does map-side combine into at most
groups x 256 rows, replacing the full shuffle a COUNT(DISTINCT) needs;
registers from different days/shards union and re-max losslessly.

Determinism: 2^-M_j terms are exact doubles; their sum is accumulated as
DECIMAL(38,18) (identical quantization + exact addition on both engines);
ln() in the linear-counting branch is rnd-quantized like every ln-score
in the repo (tests/test_determinism_properties.py::test_quantized_ln...).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dbt_tpch_spark.functions import gated_broadcast, rnd
from dbt_tpch_spark.models.oracle import oracle, rnd_sql
from dbt_tpch_spark.plans import model

HLL_M = 256  # 2 hex digits of bucket
HLL_SALT = "hll|"
#: standard bias constant for m >= 128
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)
#: 12 hex digits feed rho -> max register value 4*12 + 1
HLL_RHO_MAX = 49

_HEX = "0123456789abcdef"


def _spark_register_cols():
    """(bucket, rho) columns from column ``h`` (md5 hex)."""
    hv = lambda c: F.expr(f"instr('{_HEX}', {c}) - 1")  # noqa: E731
    bucket = (hv("substring(h, 1, 1)") * 16 + hv("substring(h, 2, 1)")).cast("long")
    tail = F.expr("substring(h, 3, 12)")
    zeros = F.length(F.regexp_extract(tail, r"^0*", 0))
    first_nz = F.expr("substring(substring(h, 3, 12), length(regexp_extract(substring(h, 3, 12), '^0*', 0)) + 1, 1)")
    lz_in_digit = (
        F.when(first_nz == "", F.lit(0))  # all-zero tail
        .when(first_nz == "1", F.lit(3))
        .when(first_nz.isin("2", "3"), F.lit(2))
        .when(first_nz.isin("4", "5", "6", "7"), F.lit(1))
        .otherwise(F.lit(0))
    )
    rho = F.least(zeros * 4 + lz_in_digit + 1, F.lit(HLL_RHO_MAX)).cast("long")
    return bucket.alias("bucket"), rho.alias("rho")


def _register_sql() -> str:
    """SQL fragment computing (bucket, rho) from column h — shared shape."""
    hv = lambda c: f"(strpos('{_HEX}', {c}) - 1)"  # noqa: E731
    return f"""
        CAST({hv('substring(h, 1, 1)')} * 16 + {hv('substring(h, 2, 1)')} AS BIGINT)
            AS bucket,
        CAST(LEAST(
            4 * length(regexp_extract(substring(h, 3, 12), '^0*')) +
            CASE substring(substring(h, 3, 12),
                           length(regexp_extract(substring(h, 3, 12), '^0*')) + 1, 1)
                WHEN '' THEN 0
                WHEN '1' THEN 3
                WHEN '2' THEN 2 WHEN '3' THEN 2
                WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1 WHEN '7' THEN 1
                ELSE 0
            END + 1,
            {HLL_RHO_MAX}) AS BIGINT) AS rho"""


@model("events_hll_users", layer="operators", materialization="view")
def events_hll_users(ctx):
    """Per-event-type HLL estimate of distinct users (m=256), side by side
    with the exact count and the realized relative error — the
    approximate-distinct primitive whose sketch both engines agree on
    bit-for-bit."""
    e = ctx.source("events")
    hashed = e.select(
        "event_type",
        F.md5(
            F.concat(F.lit(HLL_SALT), F.col("user_id").cast("string"))
        ).alias("h"),
        "user_id",
    )
    regs = hashed.select("event_type", "user_id", *_spark_register_cols())
    per_bucket = regs.groupBy("event_type", "bucket").agg(
        F.max("rho").alias("m_j")
    )
    # exact-decimal accumulation of the 2^-M_j series (order-free);
    # absent buckets contribute 2^0 = 1 each, added as (m - n_present)
    z_present = (
        F.sum(F.pow(F.lit(2.0), -F.col("m_j").cast("double")).cast("decimal(38,18)"))
        .cast("double")
    )
    sketch = per_bucket.groupBy("event_type").agg(
        z_present.alias("z_present"),
        F.count(F.lit(1)).cast("long").alias("n_present"),
    )
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact_users")
    )
    m = float(HLL_M)
    z = F.col("z_present") + (F.lit(m) - F.col("n_present"))
    e_raw = F.lit(HLL_ALPHA * m * m) / z
    v = F.lit(m) - F.col("n_present")  # zero registers
    small = (e_raw <= 2.5 * m) & (v > 0)
    estimate = F.when(
        small, rnd(F.lit(m) * F.log(F.lit(m) / v), 4)
    ).otherwise(rnd(e_raw, 4))
    return (
        sketch.join(exact, "event_type")
        .withColumn("hll_estimate", estimate)
        .withColumn(
            "rel_error",
            rnd(
                F.abs(F.col("hll_estimate") - F.col("exact_users"))
                / F.col("exact_users"),
                6,
            ),
        )
        .select("event_type", "n_present", "hll_estimate", "exact_users", "rel_error")
    )


oracle(
    "events_hll_users",
    ("events",),
    f"""WITH hashed AS (
    SELECT event_type, user_id,
           md5('{HLL_SALT}' || CAST(user_id AS VARCHAR)) AS h
    FROM events
),
regs AS (
    SELECT event_type, user_id, {_register_sql()}
    FROM hashed
),
per_bucket AS (
    SELECT event_type, bucket, max(rho) AS m_j
    FROM regs GROUP BY 1, 2
),
sketch AS (
    SELECT
        event_type,
        CAST(SUM(CAST(pow(2.0, -CAST(m_j AS DOUBLE)) AS DECIMAL(38,18)))
             AS DOUBLE) AS z_present,
        CAST(COUNT(*) AS BIGINT) AS n_present
    FROM per_bucket GROUP BY 1
),
exact AS (
    SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
    FROM events GROUP BY 1
),
scored AS (
    SELECT
        s.event_type, s.n_present, x.exact_users,
        CASE
            WHEN {HLL_ALPHA * HLL_M * HLL_M} / (s.z_present + ({HLL_M} - s.n_present))
                     <= {2.5 * HLL_M}
                 AND ({HLL_M} - s.n_present) > 0
            THEN {rnd_sql(
                f"{HLL_M} * ln({HLL_M} / ({HLL_M} - s.n_present))", 4
            )}
            ELSE {rnd_sql(
                f"{HLL_ALPHA * HLL_M * HLL_M}"
                f" / (s.z_present + ({HLL_M} - s.n_present))", 4
            )}
        END AS hll_estimate
    FROM sketch s JOIN exact x USING (event_type)
)
SELECT
    event_type, n_present, hll_estimate, exact_users,
    {rnd_sql('abs(hll_estimate - exact_users) / exact_users', 6)} AS rel_error
FROM scored""",
)


# --------------------------------------------------------------------------
# Count-Min Sketch (Cormode & Muthukrishnan, J.Alg 2005): frequency
# estimation in d*w integer cells. Like the HLL above, the hash family is
# md5-derived so both engines build the identical sketch and the whole
# query — sketch, point estimates, heavy-hitter ranking — passes the exact
# hash-parity gate (integer counts end to end, no floats at all).
#
# Why it matters at 100 TB: the cell table is d*w rows (here 4*256) no
# matter how many events stream in; groupBy(salt,bucket) does map-side
# combine, and sketches from different shards/days merge by cell-wise SUM.
# Point lookups broadcast the cells against the (tiny) distinct-key side.
# --------------------------------------------------------------------------

CMS_D = 4  # hash functions (rows)
CMS_W = 256  # buckets per row (2 hex digits)
CMS_TOPK = 20


def _cms_bucket_spark(h: str) -> F.Column:
    hv = lambda c: F.expr(f"instr('{_HEX}', {c}) - 1")  # noqa: E731
    return (hv(f"substring({h}, 1, 1)") * 16 + hv(f"substring({h}, 2, 1)")).cast(
        "long"
    )


def _cms_bucket_sql(h: str) -> str:
    hv = lambda c: f"(strpos('{_HEX}', {c}) - 1)"  # noqa: E731
    return (
        f"CAST({hv(f'substring({h}, 1, 1)')} * 16 + "
        f"{hv(f'substring({h}, 2, 1)')} AS BIGINT)"
    )


@model("events_cms_topusers", layer="operators", materialization="view")
def events_cms_topusers(ctx):
    """Count-Min estimate of per-user event counts next to the exact counts
    for the top-20 most active users: the heavy-hitters primitive.

    Construction: every event row hashes into CMS_D=4 rows of CMS_W=256
    buckets (bucket = first 2 hex digits of md5('cms'||salt||'|'||user));
    a point estimate is the MIN over the 4 cells — always >= the true
    count, so `overcount` is the realized CMS error."""
    e = ctx.source("events").select("user_id")
    salted = e.select(
        "user_id",
        F.explode(F.array(*[F.lit(i) for i in range(CMS_D)])).alias("salt"),
    ).withColumn(
        "h",
        F.md5(
            F.concat(
                F.lit("cms"),
                F.col("salt").cast("string"),
                F.lit("|"),
                F.col("user_id").cast("string"),
            )
        ),
    )
    bucketed = salted.withColumn("bucket", _cms_bucket_spark("h"))
    cells = bucketed.groupBy("salt", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    probe = bucketed.select("user_id", "salt", "bucket").distinct()
    est = (
        probe.join(F.broadcast(cells), ["salt", "bucket"])
        .groupBy("user_id")
        .agg(F.min("n").alias("cms_n"))
    )
    exact = e.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("exact_n"))
    from pyspark.sql.window import Window

    ranked = (
        exact.join(est, "user_id")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.orderBy(F.col("exact_n").desc(), F.col("user_id"))
            ),
        )
        .filter(F.col("rn") <= CMS_TOPK)
    )
    return ranked.select(
        "user_id",
        "exact_n",
        "cms_n",
        (F.col("cms_n") - F.col("exact_n")).alias("overcount"),
    )


oracle(
    "events_cms_topusers",
    (),
    f"""WITH ev AS (SELECT user_id FROM events),
salts AS (SELECT * FROM (VALUES (0), (1), (2), (3)) s(salt)),
bucketed AS (
    SELECT user_id, salt,
           {_cms_bucket_sql("md5(concat('cms', CAST(salt AS VARCHAR), '|', CAST(user_id AS VARCHAR)))")} AS bucket
    FROM ev CROSS JOIN salts
),
cells AS (
    SELECT salt, bucket, CAST(COUNT(*) AS BIGINT) AS n
    FROM bucketed GROUP BY 1, 2
),
probe AS (SELECT DISTINCT user_id, salt, bucket FROM bucketed),
est AS (
    SELECT p.user_id, MIN(c.n) AS cms_n
    FROM probe p JOIN cells c ON p.salt = c.salt AND p.bucket = c.bucket
    GROUP BY 1
),
exact AS (
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_n FROM ev GROUP BY 1
),
ranked AS (
    SELECT e.user_id, e.exact_n, s.cms_n,
           ROW_NUMBER() OVER (ORDER BY e.exact_n DESC, e.user_id) AS rn
    FROM exact e JOIN est s ON e.user_id = s.user_id
)
SELECT user_id, exact_n, cms_n, cms_n - exact_n AS overcount
FROM ranked WHERE rn <= {CMS_TOPK}""",
)


# --------------------------------------------------------------------------
# Bloom filter (Bloom, CACM 1970): set-membership bits for join pruning.
# At 100 TB this is THE scan-side shuffle killer: build the bits over the
# (small) key set, broadcast them, and drop non-candidate rows before they
# reach the join exchange — Spark's runtime row-level filtering does the
# same thing adaptively; here it is declarative, deterministic, and its
# false-positive rate is measured by the query itself.
# --------------------------------------------------------------------------

BLOOM_K = 4  # hash functions
BLOOM_M = 4096  # bits (3 hex digits)
BLOOM_BALANCE_CUTOFF = 7500.0


def _bloom_pos_spark(key: F.Column, salt: int) -> F.Column:
    """Bit position 0..BLOOM_M-1 from the first 3 hex digits of the salted
    md5 of the key (helpers operate on named SQL fragments, so inline the
    hash via a scalar subexpression column)."""
    h = F.md5(
        F.concat(F.lit("bloom"), F.lit(str(salt)), F.lit("|"), key.cast("string"))
    )
    hv = lambda i: F.instr(F.lit(_HEX), F.substring(h, i, 1)) - 1  # noqa: E731
    return (hv(1) * 256 + hv(2) * 16 + hv(3)).cast("long")


def _bloom_pos_sql(h: str) -> str:
    hv = lambda c: f"(strpos('{_HEX}', {c}) - 1)"  # noqa: E731
    return (
        f"CAST({hv(f'substring({h}, 1, 1)')} * 256 + "
        f"{hv(f'substring({h}, 2, 1)')} * 16 + "
        f"{hv(f'substring({h}, 3, 1)')} AS BIGINT)"
    )


@model("customers_bloom_prune", layer="operators", materialization="view")
def customers_bloom_prune(ctx):
    """Bloom-filter membership pruning measured per market segment: build
    k=4/m=4096 bits over the high-balance customer keys, probe EVERY
    customer through the filter, and report candidates vs true members vs
    false positives per segment.

    A candidate is a key whose 4 positions are all set — exactly the rows a
    scan-side prune would keep; `false_positives` is the extra work the
    prune could not avoid (the Bloom guarantee: no false negatives)."""
    c = ctx.ref("dim_customer").select(
        "customer_key", "customer_market_segment_name", "customer_account_balance"
    )
    members = c.filter(
        F.col("customer_account_balance") > BLOOM_BALANCE_CUTOFF
    ).select("customer_key")
    bits = (
        members.select(
            F.explode(
                F.array(
                    *[
                        _bloom_pos_spark(F.col("customer_key"), i)
                        for i in range(BLOOM_K)
                    ]
                )
            ).alias("pos")
        )
        .distinct()
    )
    probe = c.select(
        "customer_key",
        "customer_market_segment_name",
        F.explode(
            F.array(
                *[
                    _bloom_pos_spark(F.col("customer_key"), i)
                    for i in range(BLOOM_K)
                ]
            )
        ).alias("pos"),
    )
    hits = (
        probe.join(F.broadcast(bits), "pos", "left_semi")
        .groupBy("customer_key", "customer_market_segment_name")
        .agg(F.count(F.lit(1)).alias("set_positions"))
        .filter(F.col("set_positions") == BLOOM_K)
        .select("customer_key", "customer_market_segment_name")
    )
    is_member = F.col("customer_account_balance") > BLOOM_BALANCE_CUTOFF
    # the candidate set is bounded by members + false positives — a
    # balance-cut FRACTION of customers, i.e. still SF-linear, so the
    # tagging broadcast is gated on the corpus size (parquet metadata
    # count); above the gate the join shuffle-hashes instead
    n_cust = ctx.source("customer").count()
    tagged = c.join(
        gated_broadcast(
            hits.select("customer_key").withColumn("is_candidate", F.lit(1)),
            n_cust,
        ),
        "customer_key",
        "left",
    )
    return (
        tagged.groupBy("customer_market_segment_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum(F.when(is_member, 1).otherwise(0)).cast("long").alias("n_members"),
            F.sum(F.coalesce(F.col("is_candidate"), F.lit(0)))
            .cast("long")
            .alias("n_candidates"),
            F.sum(
                F.when(
                    (F.col("is_candidate") == 1) & ~is_member, 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("false_positives"),
        )
        .withColumn(
            "fp_rate",
            # all-members segment -> NULL on both engines (Spark's /0 gives
            # NULL, DuckDB's ieee default gives inf — the CASE unifies them)
            F.when(
                F.col("n_customers") > F.col("n_members"),
                rnd(
                    F.col("false_positives")
                    / (F.col("n_customers") - F.col("n_members")),
                    6,
                ),
            ),
        )
    )


oracle(
    "customers_bloom_prune",
    ("dim_customer",),
    f"""WITH c AS (
    SELECT customer_key, customer_market_segment_name, customer_account_balance
    FROM dim_customer
),
salts AS (SELECT * FROM (VALUES (0), (1), (2), (3)) s(salt)),
keyed AS (
    SELECT c.customer_key, c.customer_market_segment_name,
           c.customer_account_balance, s.salt,
           {_bloom_pos_sql("md5(concat('bloom', CAST(s.salt AS VARCHAR), '|', CAST(c.customer_key AS VARCHAR)))")} AS pos
    FROM c CROSS JOIN salts s
),
bits AS (
    SELECT DISTINCT pos FROM keyed
    WHERE customer_account_balance > {BLOOM_BALANCE_CUTOFF}
),
hits AS (
    SELECT customer_key
    FROM keyed k
    WHERE EXISTS (SELECT 1 FROM bits b WHERE b.pos = k.pos)
    GROUP BY customer_key
    HAVING COUNT(*) = {BLOOM_K}
),
tagged AS (
    SELECT c.*, CASE WHEN h.customer_key IS NOT NULL THEN 1 ELSE 0 END AS is_candidate
    FROM c LEFT JOIN hits h ON c.customer_key = h.customer_key
)
SELECT customer_market_segment_name,
    CAST(COUNT(*) AS BIGINT) AS n_customers,
    CAST(SUM(CASE WHEN customer_account_balance > {BLOOM_BALANCE_CUTOFF} THEN 1 ELSE 0 END) AS BIGINT) AS n_members,
    CAST(SUM(is_candidate) AS BIGINT) AS n_candidates,
    CAST(SUM(CASE WHEN is_candidate = 1 AND NOT (customer_account_balance > {BLOOM_BALANCE_CUTOFF}) THEN 1 ELSE 0 END) AS BIGINT) AS false_positives,
    CASE WHEN COUNT(*) > SUM(CASE WHEN customer_account_balance > {BLOOM_BALANCE_CUTOFF} THEN 1 ELSE 0 END)
         THEN {rnd_sql(f"SUM(CASE WHEN is_candidate = 1 AND NOT (customer_account_balance > {BLOOM_BALANCE_CUTOFF}) THEN 1 ELSE 0 END) * 1.0 / (COUNT(*) - SUM(CASE WHEN customer_account_balance > {BLOOM_BALANCE_CUTOFF} THEN 1 ELSE 0 END))", 6)}
         END AS fp_rate
FROM tagged
GROUP BY 1""",
)


@model("events_hll_merge_check", layer="operators", materialization="view")
def events_hll_merge_check(ctx):
    """The HLL mergeability proof as a query: per-(type, day) register
    tables max-merged up to per-type must yield the IDENTICAL registers —
    and so the identical estimate — as sketching the whole period
    directly. This is the property that lets a 100 TB deployment keep
    per-day/per-shard sketches and answer any coarser distinct-count
    rollup without touching raw data again."""
    e = ctx.source("events")
    hashed = e.select(
        "event_type",
        F.to_date("ts").alias("day"),
        F.md5(F.concat(F.lit(HLL_SALT), F.col("user_id").cast("string"))).alias("h"),
    )
    regs = hashed.select("event_type", "day", *_spark_register_cols())
    daily = regs.groupBy("event_type", "day", "bucket").agg(
        F.max("rho").alias("m_j")
    )
    merged = daily.groupBy("event_type", "bucket").agg(F.max("m_j").alias("m_j"))
    direct = regs.groupBy("event_type", "bucket").agg(F.max("rho").alias("m_j"))

    def _z(df):
        return df.groupBy("event_type").agg(
            F.sum(
                F.pow(F.lit(2.0), -F.col("m_j").cast("double")).cast(
                    "decimal(38,18)"
                )
            )
            .cast("double")
            .alias("z_present"),
            F.count(F.lit(1)).cast("long").alias("n_present"),
        )

    m = float(HLL_M)

    def _est(prefix):
        z = F.col(f"{prefix}_z") + (F.lit(m) - F.col(f"{prefix}_n"))
        e_raw = F.lit(HLL_ALPHA * m * m) / z
        v = F.lit(m) - F.col(f"{prefix}_n")
        small = (e_raw <= 2.5 * m) & (v > 0)
        return F.when(small, rnd(F.lit(m) * F.log(F.lit(m) / v), 4)).otherwise(
            rnd(e_raw, 4)
        )

    a = _z(merged).withColumnsRenamed(
        {"z_present": "merged_z", "n_present": "merged_n"}
    )
    b = _z(direct).withColumnsRenamed(
        {"z_present": "direct_z", "n_present": "direct_n"}
    )
    return (
        a.join(b, "event_type")
        .withColumn("merged_estimate", _est("merged"))
        .withColumn("direct_estimate", _est("direct"))
        .withColumn(
            "registers_identical",
            (
                (F.col("merged_z") == F.col("direct_z"))
                & (F.col("merged_n") == F.col("direct_n"))
            ).cast("int"),
        )
        .select(
            "event_type",
            "merged_n",
            "direct_n",
            "merged_estimate",
            "direct_estimate",
            "registers_identical",
        )
    )


def _hll_merge_oracle() -> str:
    est = lambda z, n: (  # noqa: E731
        f"""CASE
            WHEN {HLL_ALPHA * HLL_M * HLL_M} / ({z} + ({HLL_M} - {n}))
                     <= {2.5 * HLL_M}
                 AND ({HLL_M} - {n}) > 0
            THEN {rnd_sql(f"{HLL_M} * ln({HLL_M} / ({HLL_M} - {n}))", 4)}
            ELSE {rnd_sql(f"{HLL_ALPHA * HLL_M * HLL_M} / ({z} + ({HLL_M} - {n}))", 4)}
        END"""
    )
    zq = (
        "CAST(SUM(CAST(pow(2.0, -CAST(m_j AS DOUBLE)) AS DECIMAL(38,18)))"
        " AS DOUBLE)"
    )
    return f"""WITH hashed AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           md5('{HLL_SALT}' || CAST(user_id AS VARCHAR)) AS h
    FROM events
),
regs AS (
    SELECT event_type, day, {_register_sql()}
    FROM hashed
),
daily AS (
    SELECT event_type, day, bucket, MAX(rho) AS m_j
    FROM regs GROUP BY 1, 2, 3
),
merged AS (
    SELECT event_type, bucket, MAX(m_j) AS m_j FROM daily GROUP BY 1, 2
),
direct AS (
    SELECT event_type, bucket, MAX(rho) AS m_j FROM regs GROUP BY 1, 2
),
mz AS (
    SELECT event_type, {zq} AS merged_z,
           CAST(COUNT(*) AS BIGINT) AS merged_n
    FROM merged GROUP BY 1
),
dz AS (
    SELECT event_type, {zq} AS direct_z,
           CAST(COUNT(*) AS BIGINT) AS direct_n
    FROM direct GROUP BY 1
)
SELECT m.event_type, m.merged_n, d.direct_n,
       {est('m.merged_z', 'm.merged_n')} AS merged_estimate,
       {est('d.direct_z', 'd.direct_n')} AS direct_estimate,
       CAST(m.merged_z = d.direct_z AND m.merged_n = d.direct_n AS INTEGER)
           AS registers_identical
FROM mz m JOIN dz d ON m.event_type = d.event_type"""


oracle("events_hll_merge_check", (), _hll_merge_oracle())


# --------------------------------------------------------------------------
# HLL set algebra: audience overlap via register-max union +
# inclusion-exclusion
# --------------------------------------------------------------------------


def _hll_estimate_col(z_present, n_present):
    """The HLL estimate (with small-range correction) from the two sketch
    summary columns — the SAME arithmetic as events_hll_users, factored
    for reuse by the set-algebra model."""
    m = float(HLL_M)
    z = z_present + (F.lit(m) - n_present)
    e_raw = F.lit(HLL_ALPHA * m * m) / z
    v = F.lit(m) - n_present
    small = (e_raw <= 2.5 * m) & (v > 0)
    return F.when(small, rnd(F.lit(m) * F.log(F.lit(m) / v), 4)).otherwise(
        rnd(e_raw, 4)
    )


def _hll_estimate_sql(z: str, n: str) -> str:
    return (
        f"CASE WHEN {HLL_ALPHA * HLL_M * HLL_M} / ({z} + ({HLL_M} - {n}))"
        f" <= {2.5 * HLL_M} AND ({HLL_M} - {n}) > 0"
        f" THEN {rnd_sql(f'{HLL_M} * ln({HLL_M} / ({HLL_M} - {n}))', 4)}"
        f" ELSE {rnd_sql(f'{HLL_ALPHA * HLL_M * HLL_M} / ({z} + ({HLL_M} - {n}))', 4)}"
        f" END"
    )


@model("events_hll_type_overlap", layer="operators", materialization="view")
def events_hll_type_overlap(ctx):
    """Sketch SET ALGEBRA: pairwise distinct-user overlap between event
    types estimated from HLL sketches alone — |A∩B| ≈ E(A) + E(B) −
    E(A∪B), where the union sketch is the per-bucket register MAX (the
    lossless HLL union) — next to the exact overlap and absolute error.
    This is the audience-overlap / segment-intersection query at 100 TB:
    per-segment sketches are m=256 longs kept from a single corpus pass;
    every pairwise intersection afterwards costs register math only, no
    re-scan and no pairwise distinct join.

    Scale: per-type registers come from one (type, bucket) aggregation;
    the pair expansion and union-max run on the ≤ |types|·m register
    frame. The exact side (for the error column) is the expensive
    pairwise distinct join the sketch replaces."""
    e = ctx.source("events")
    hashed = e.select(
        "event_type",
        F.md5(F.concat(F.lit(HLL_SALT), F.col("user_id").cast("string"))).alias("h"),
        "user_id",
    )
    regs = hashed.select("event_type", "user_id", *_spark_register_cols())
    per_bucket = regs.groupBy("event_type", "bucket").agg(
        F.max("rho").alias("m_j")
    ).localCheckpoint(eager=True)

    def summarize(df, keys):
        z_present = (
            F.sum(
                F.pow(F.lit(2.0), -F.col("m_j").cast("double")).cast(
                    "decimal(38,18)"
                )
            ).cast("double")
        )
        return df.groupBy(*keys).agg(
            z_present.alias("z_present"),
            F.count(F.lit(1)).cast("long").alias("n_present"),
        )

    types = per_bucket.select("event_type").distinct()
    pairs = (
        types.withColumnRenamed("event_type", "type_a")
        .join(
            types.withColumnRenamed("event_type", "type_b"),
            F.col("type_a") < F.col("type_b"),
        )
    )
    u_regs = (
        pairs.join(
            per_bucket,
            (F.col("event_type") == F.col("type_a"))
            | (F.col("event_type") == F.col("type_b")),
        )
        .groupBy("type_a", "type_b", "bucket")
        .agg(F.max("m_j").alias("m_j"))
    )
    est_u = summarize(u_regs, ["type_a", "type_b"]).select(
        "type_a",
        "type_b",
        _hll_estimate_col(F.col("z_present"), F.col("n_present")).alias("est_union"),
    )
    est_t = summarize(per_bucket, ["event_type"]).select(
        "event_type",
        _hll_estimate_col(F.col("z_present"), F.col("n_present")).alias("est"),
    )
    ea = est_t.withColumnsRenamed({"event_type": "type_a", "est": "est_a"})
    eb = est_t.withColumnsRenamed({"event_type": "type_b", "est": "est_b"})
    tu = e.select("event_type", "user_id").distinct()
    ua = tu.withColumnsRenamed({"event_type": "type_a"})
    ub = tu.withColumnsRenamed({"event_type": "type_b"})
    exact = (
        ua.join(ub, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.countDistinct("user_id").cast("long").alias("exact_overlap"))
    )
    est_overlap = F.greatest(
        F.col("est_a") + F.col("est_b") - F.col("est_union"), F.lit(0.0)
    )
    return (
        est_u.join(F.broadcast(ea), "type_a")
        .join(F.broadcast(eb), "type_b")
        .join(exact, ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            F.coalesce(F.col("exact_overlap"), F.lit(0).cast("long")).alias(
                "exact_overlap"
            ),
            rnd(est_overlap, 4).alias("hll_overlap_estimate"),
            rnd(
                F.abs(
                    est_overlap
                    - F.coalesce(F.col("exact_overlap"), F.lit(0)).cast("double")
                ),
                4,
            ).alias("abs_err"),
        )
    )


oracle(
    "events_hll_type_overlap",
    ("events",),
    f"""WITH hashed AS (
    SELECT event_type, user_id,
           md5('{HLL_SALT}' || CAST(user_id AS VARCHAR)) AS h
    FROM events
),
regs AS (
    SELECT event_type, user_id, {_register_sql()}
    FROM hashed
),
per_bucket AS (
    SELECT event_type, bucket, max(rho) AS m_j
    FROM regs GROUP BY 1, 2
),
types AS (SELECT DISTINCT event_type FROM per_bucket),
pairs AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b
    FROM types a JOIN types b ON a.event_type < b.event_type
),
u_regs AS (
    SELECT p.type_a, p.type_b, r.bucket, max(r.m_j) AS m_j
    FROM pairs p
    JOIN per_bucket r
      ON r.event_type = p.type_a OR r.event_type = p.type_b
    GROUP BY 1, 2, 3
),
sk_u AS (
    SELECT type_a, type_b,
        CAST(SUM(CAST(pow(2.0, -CAST(m_j AS DOUBLE)) AS DECIMAL(38,18)))
             AS DOUBLE) AS z_present,
        CAST(COUNT(*) AS BIGINT) AS n_present
    FROM u_regs GROUP BY 1, 2
),
sk_t AS (
    SELECT event_type,
        CAST(SUM(CAST(pow(2.0, -CAST(m_j AS DOUBLE)) AS DECIMAL(38,18)))
             AS DOUBLE) AS z_present,
        CAST(COUNT(*) AS BIGINT) AS n_present
    FROM per_bucket GROUP BY 1
),
est_u AS (
    SELECT type_a, type_b,
           {_hll_estimate_sql('z_present', 'n_present')} AS est_union
    FROM sk_u
),
est_t AS (
    SELECT event_type,
           {_hll_estimate_sql('z_present', 'n_present')} AS est
    FROM sk_t
),
tu AS (SELECT DISTINCT event_type, user_id FROM events),
exact AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS exact_overlap
    FROM tu a JOIN tu b ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY 1, 2
)
SELECT
    u.type_a,
    u.type_b,
    COALESCE(x.exact_overlap, 0) AS exact_overlap,
    {rnd_sql('GREATEST(ea.est + eb.est - u.est_union, 0.0)', 4)} AS hll_overlap_estimate,
    {rnd_sql('ABS(GREATEST(ea.est + eb.est - u.est_union, 0.0) - CAST(COALESCE(x.exact_overlap, 0) AS DOUBLE))', 4)} AS abs_err
FROM est_u u
JOIN est_t ea ON u.type_a = ea.event_type
JOIN est_t eb ON u.type_b = eb.event_type
LEFT JOIN exact x ON u.type_a = x.type_a AND u.type_b = x.type_b""",
)


# --------------------------------------------------------------------------
# CMS inner-product join-size estimation (AMS-style, min over rows)
# --------------------------------------------------------------------------

#: salt prefix for the join-size sketches (distinct from the heavy-hitter
#: CMS so the two sketch families never share buckets)
CJ_SALT = "cj"


def _cj_cells(df, key_col: str, side: str):
    """CMS_D x CMS_W multiplicity-weighted cell counts for one join side:
    cell (salt, bucket) holds the number of ROWS whose key hashes there —
    the frequency-vector projection whose per-row inner product estimates
    the join size."""
    salted = df.select(F.col(key_col).alias("k")).select(
        "k",
        F.explode(F.array(*[F.lit(i) for i in range(CMS_D)])).alias("salt"),
    ).withColumn(
        "h",
        F.md5(
            F.concat(
                F.lit(CJ_SALT),
                F.col("salt").cast("string"),
                F.lit("|"),
                F.col("k").cast("string"),
            )
        ),
    )
    return (
        salted.withColumn("bucket", _cms_bucket_spark("h"))
        .groupBy("salt", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias(f"n_{side}"))
    )


def _cj_cells_sql(table: str, key: str, side: str) -> str:
    return f"""cells_{side} AS (
    SELECT s.salt,
           {_cms_bucket_sql(f"md5('{CJ_SALT}' || CAST(s.salt AS VARCHAR) || '|' || CAST(t.{key} AS VARCHAR))")} AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_{side}
    FROM {table} t
    CROSS JOIN (SELECT unnest(range({CMS_D})) AS salt) s
    GROUP BY 1, 2
)"""


@model("lineitem_joinsize_cms", layer="operators", materialization="view")
def lineitem_joinsize_cms(ctx):
    """Sketch-based join-cardinality estimation (the AMS/Count-Min inner
    product, Alon-Matias-Szegedy STOC'96 / Cormode-Muthukrishnan '05):
    |A join_k B| = sum_k f_A(k) * f_B(k) is estimated per CMS row as the
    dot product of the two sides' bucket-count vectors, taking the MIN
    over the CMS_D rows (each row's estimate is truth plus non-negative
    collision mass, so min is the tightest). Two estimates, each beside
    its EXACT value and realized relative error:

    * ``orders_joinsize``  — lineitem join orders on the order key (the
      fact-fact FK shape every optimizer must size before picking a
      strategy);
    * ``partkey_selfjoin`` — lineitem's self-join size on part key, i.e.
      the second frequency moment F2 — the AMS classic that prices a
      skewed key's blowup BEFORE running the join.

    Scale: each side collapses to a CMS_D x CMS_W cell table in one
    aggregation pass; the inner products and the exact sizes are
    arithmetic over bounded (<= 1024-cell) or key-grain aggregate frames
    — the join itself is never materialized."""
    l = ctx.source("lineitem")
    o = ctx.source("orders")
    cl = _cj_cells(l, "l_orderkey", "a").localCheckpoint(eager=True)
    co = _cj_cells(o, "o_orderkey", "b")
    cp = _cj_cells(l, "l_partkey", "p").localCheckpoint(eager=True)
    est_fk = (
        cl.join(co, ["salt", "bucket"])
        .groupBy("salt")
        .agg(F.sum(F.col("n_a") * F.col("n_b")).cast("long").alias("ip"))
        .agg(F.min("ip").alias("cms_estimate"))
    )
    cp2 = cp.withColumnsRenamed({"n_p": "n_q"})
    est_f2 = (
        cp.join(cp2, ["salt", "bucket"])
        .groupBy("salt")
        .agg(F.sum(F.col("n_p") * F.col("n_q")).cast("long").alias("ip"))
        .agg(F.min("ip").alias("cms_estimate"))
    )
    # exact sizes from aggregates — never the quadratic join itself
    exact_fk = (
        l.select(F.col("l_orderkey").alias("k"))
        .join(o.select(F.col("o_orderkey").alias("k")), "k")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_size"))
    )
    exact_f2 = (
        l.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.sum(F.col("n") * F.col("n")).cast("long").alias("exact_size"))
    )
    rel = rnd(
        (F.col("cms_estimate") - F.col("exact_size")).cast("double")
        / F.col("exact_size"),
        6,
    )
    fk = (
        est_fk.crossJoin(exact_fk)
        .select(
            F.lit("orders_joinsize").alias("join_name"),
            "cms_estimate",
            "exact_size",
            rel.alias("rel_error"),
        )
    )
    f2 = (
        est_f2.crossJoin(exact_f2)
        .select(
            F.lit("partkey_selfjoin").alias("join_name"),
            "cms_estimate",
            "exact_size",
            rel.alias("rel_error"),
        )
    )
    return fk.unionByName(f2)


oracle(
    "lineitem_joinsize_cms",
    ("lineitem", "orders"),
    f"""WITH {_cj_cells_sql('lineitem', 'l_orderkey', 'a')},
{_cj_cells_sql('orders', 'o_orderkey', 'b')},
{_cj_cells_sql('lineitem', 'l_partkey', 'p')},
est_fk AS (
    SELECT MIN(ip) AS cms_estimate FROM (
        SELECT a.salt, CAST(SUM(a.n_a * b.n_b) AS BIGINT) AS ip
        FROM cells_a a JOIN cells_b b USING (salt, bucket)
        GROUP BY 1
    )
),
est_f2 AS (
    SELECT MIN(ip) AS cms_estimate FROM (
        SELECT p.salt, CAST(SUM(p.n_p * q.n_p) AS BIGINT) AS ip
        FROM cells_p p JOIN cells_p q USING (salt, bucket)
        GROUP BY 1
    )
),
exact_fk AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS exact_size
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
exact_f2 AS (
    SELECT CAST(SUM(n * n) AS BIGINT) AS exact_size FROM (
        SELECT l_partkey, COUNT(*) AS n FROM lineitem GROUP BY 1
    )
)
SELECT 'orders_joinsize' AS join_name, e.cms_estimate, x.exact_size,
    {rnd_sql('CAST(e.cms_estimate - x.exact_size AS DOUBLE) / x.exact_size', 6)} AS rel_error
FROM est_fk e CROSS JOIN exact_fk x
UNION ALL
SELECT 'partkey_selfjoin', e.cms_estimate, x.exact_size,
    {rnd_sql('CAST(e.cms_estimate - x.exact_size AS DOUBLE) / x.exact_size', 6)} AS rel_error
FROM est_f2 e CROSS JOIN exact_f2 x""",
)


# --------------------------------------------------------------------------
# System-R NDV join-cardinality estimate (the optimizer's textbook model)
# --------------------------------------------------------------------------


@model("joinsize_ndv_estimate", layer="operators", materialization="view")
def joinsize_ndv_estimate(ctx):
    """The Selinger/System-R cardinality model — ``|A join_k B| =
    n_A * n_B / max(ndv_A(k), ndv_B(k))`` (uniformity + containment
    assumptions) — evaluated against the EXACT join sizes for the same two
    joins lineitem_joinsize_cms sketches: the fact-fact FK join
    (lineitem x orders on order key) and the skewed self-join (lineitem on
    part key, i.e. F2). One row: both estimates, both exact sizes, and the
    realized relative error of each — the three-way comparison (NDV model
    vs CMS sketch vs truth) an optimizer bake-off needs.

    Exact sizes come from the sum-of-frequency-products identity over
    key-grain aggregates — the join itself is never materialized.

    Scale: two scalar aggregation passes (the multi-count-distinct expand)
    plus two key-grain frequency aggregations and one co-partitioned join
    at key grain; everything downstream is 1-row arithmetic."""
    l = ctx.source("lineitem")
    o = ctx.source("orders")
    s1 = l.agg(
        F.count(F.lit(1)).cast("long").alias("n_l"),
        F.countDistinct("l_orderkey").cast("long").alias("ndv_l_orderkey"),
        F.countDistinct("l_partkey").cast("long").alias("ndv_l_partkey"),
    )
    s2 = o.agg(
        F.count(F.lit(1)).cast("long").alias("n_o"),
        F.countDistinct("o_orderkey").cast("long").alias("ndv_o_orderkey"),
    )
    fl = l.groupBy("l_orderkey").agg(F.count(F.lit(1)).cast("long").alias("f_l"))
    fo = o.groupBy("o_orderkey").agg(F.count(F.lit(1)).cast("long").alias("f_o"))
    exact_fk = (
        fl.join(fo, fl.l_orderkey == fo.o_orderkey)
        .agg(F.sum(F.col("f_l") * F.col("f_o")).cast("long").alias("exact_fk"))
    )
    fp = l.groupBy("l_partkey").agg(F.count(F.lit(1)).cast("long").alias("f_p"))
    exact_self = fp.agg(
        F.sum(F.col("f_p") * F.col("f_p")).cast("long").alias("exact_self")
    )
    r = (
        s1.crossJoin(F.broadcast(s2))
        .crossJoin(F.broadcast(exact_fk))
        .crossJoin(F.broadcast(exact_self))
    )
    est_fk = (
        F.col("n_l").cast("double")
        * F.col("n_o").cast("double")
        / F.greatest("ndv_l_orderkey", "ndv_o_orderkey").cast("double")
    )
    est_self = (
        F.col("n_l").cast("double")
        * F.col("n_l").cast("double")
        / F.col("ndv_l_partkey").cast("double")
    )
    return r.select(
        "n_l",
        "n_o",
        "ndv_l_orderkey",
        "ndv_o_orderkey",
        "ndv_l_partkey",
        rnd(est_fk, 2).alias("est_fk"),
        "exact_fk",
        rnd((est_fk - F.col("exact_fk")) / F.col("exact_fk"), 6).alias(
            "err_fk"
        ),
        rnd(est_self, 2).alias("est_self"),
        "exact_self",
        rnd((est_self - F.col("exact_self")) / F.col("exact_self"), 6).alias(
            "err_self"
        ),
    )


oracle(
    "joinsize_ndv_estimate",
    ("lineitem", "orders"),
    f"""WITH s1 AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_l,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS ndv_l_orderkey,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS ndv_l_partkey
    FROM lineitem
),
s2 AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_o,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS ndv_o_orderkey
    FROM orders
),
fl AS (SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS f_l FROM lineitem GROUP BY 1),
fo AS (SELECT o_orderkey, CAST(COUNT(*) AS BIGINT) AS f_o FROM orders GROUP BY 1),
efk AS (
    SELECT CAST(SUM(f_l * f_o) AS BIGINT) AS exact_fk
    FROM fl JOIN fo ON fl.l_orderkey = fo.o_orderkey
),
fp AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS f_p FROM lineitem GROUP BY 1),
esj AS (SELECT CAST(SUM(f_p * f_p) AS BIGINT) AS exact_self FROM fp)
SELECT n_l, n_o, ndv_l_orderkey, ndv_o_orderkey, ndv_l_partkey,
    {rnd_sql('CAST(n_l AS DOUBLE) * n_o / GREATEST(ndv_l_orderkey, ndv_o_orderkey)', 2)} AS est_fk,
    exact_fk,
    {rnd_sql(
        '(CAST(n_l AS DOUBLE) * n_o / GREATEST(ndv_l_orderkey, ndv_o_orderkey)'
        ' - exact_fk) / exact_fk', 6)} AS err_fk,
    {rnd_sql('CAST(n_l AS DOUBLE) * n_l / ndv_l_partkey', 2)} AS est_self,
    exact_self,
    {rnd_sql(
        '(CAST(n_l AS DOUBLE) * n_l / ndv_l_partkey - exact_self)'
        ' / exact_self', 6)} AS err_self
FROM s1 CROSS JOIN s2 CROSS JOIN efk CROSS JOIN esj""",
)


# --------------------------------------------------------------------------
# sliding-window distinct users from merged HLL panes
# --------------------------------------------------------------------------

#: sliding window width in hours (panes merged per window-end).
HLL_WINDOW_HOURS = 6


def _hll_hashed_events(e):
    """(hour_idx, h, user_id) projection shared by pane building and the
    exact-side harness."""
    hour_idx = F.floor(F.col("ts").cast("long") / 3600).cast("long")
    return e.select(
        hour_idx.alias("hour_idx"),
        F.md5(
            F.concat(F.lit(HLL_SALT), F.col("user_id").cast("string"))
        ).alias("h"),
        "user_id",
    )


def hll_hour_panes(events_df):
    """Per-hour HLL register panes (hour_idx, bucket, m_j) from a raw
    events frame. Register max is associative and commutative, so panes
    from ANY partition of the stream — micro-batches, shards, days —
    union and re-max to exactly the panes of the whole (the property the
    streaming twin test proves); this is the incremental structure a
    foreachBatch sink appends to."""
    return (
        _hll_hashed_events(events_df)
        .select("hour_idx", *_spark_register_cols())
        .groupBy("hour_idx", "bucket")
        .agg(F.max("rho").alias("m_j"))
    )


@model("events_hll_sliding_users", layer="operators", materialization="view")
def events_hll_sliding_users(ctx):
    """Sliding 6-hour distinct-user estimates from MERGED per-hour HLL
    panes, with the exact sliding count and realized error beside them.
    This is THE reason sketches earn their keep at 100 TB: per-hour
    register panes are computed from the raw data ONCE (bounded —
    hours × 256 rows); after that, ANY window over the timeline is a
    register-max merge over the pane table, while the exact count must
    re-touch every raw event for every window it participates in (the
    6× explode the exact side below pays is the honest price tag).

    Scale shape: one corpus-grain shuffle to (hour, bucket) panes; the
    densified hours × 256 grid is calendar-bounded, the per-bucket RANGE
    window runs over that bounded grid, and the estimate is a bounded
    rollup. The exact side (error harness) is the only corpus×window-width
    cost, kept to quantify what the sketch saves."""
    from pyspark.sql import Window

    e = ctx.source("events")
    hashed = _hll_hashed_events(e)
    panes = hll_hour_panes(e).localCheckpoint(eager=True)
    hours = panes.select("hour_idx").distinct()
    grid = hours.select(
        "hour_idx", F.explode(F.sequence(F.lit(0), F.lit(HLL_M - 1))).alias("bucket")
    ).join(panes, ["hour_idx", "bucket"], "left")
    w = (
        Window.partitionBy("bucket")
        .orderBy("hour_idx")
        .rangeBetween(-(HLL_WINDOW_HOURS - 1), 0)
    )
    merged = grid.withColumn("mj_win", F.max("m_j").over(w))
    contrib = F.when(
        F.col("mj_win").isNull(), F.lit(1.0).cast("decimal(38,18)")
    ).otherwise(
        F.pow(F.lit(2.0), -F.col("mj_win").cast("double")).cast("decimal(38,18)")
    )
    sketch = merged.groupBy("hour_idx").agg(
        F.sum(contrib).cast("double").alias("z"),
        F.count("mj_win").cast("long").alias("n_active_buckets"),
    )
    m = float(HLL_M)
    e_raw = F.lit(HLL_ALPHA * m * m) / F.col("z")
    v = F.lit(m) - F.col("n_active_buckets")
    small = (e_raw <= 2.5 * m) & (v > 0)
    estimate = F.when(small, rnd(F.lit(m) * F.log(F.lit(m) / v), 4)).otherwise(
        rnd(e_raw, 4)
    )
    # exact harness: every event contributes to the <= 6 window-ends it
    # falls in; anchor only at observed hours
    ends = (
        hashed.select(
            "user_id",
            "hour_idx",
            F.explode(
                F.sequence(F.lit(0), F.lit(HLL_WINDOW_HOURS - 1))
            ).alias("o"),
        )
        .select("user_id", (F.col("hour_idx") + F.col("o")).alias("hour_idx"))
        .join(hours, "hour_idx", "left_semi")
    )
    exact = ends.groupBy("hour_idx").agg(
        F.countDistinct("user_id").cast("long").alias("exact_users")
    )
    return (
        sketch.join(exact, "hour_idx")
        .withColumn("hll_estimate", estimate)
        .select(
            F.timestamp_seconds(F.col("hour_idx") * 3600).alias("window_end_hour"),
            "n_active_buckets",
            "hll_estimate",
            "exact_users",
            rnd(
                F.abs(F.col("hll_estimate") - F.col("exact_users"))
                / F.col("exact_users"),
                6,
            ).alias("rel_error"),
        )
    )


oracle(
    "events_hll_sliding_users",
    ("events",),
    f"""WITH hashed AS (
    SELECT CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS hour_idx,
           md5('{HLL_SALT}' || CAST(user_id AS VARCHAR)) AS h,
           user_id
    FROM events
),
regs AS (
    SELECT hour_idx, user_id, {_register_sql()}
    FROM hashed
),
panes AS (
    SELECT hour_idx, bucket, MAX(rho) AS m_j
    FROM regs GROUP BY 1, 2
),
hours AS (
    SELECT DISTINCT hour_idx FROM panes
),
grid AS (
    SELECT h.hour_idx, b.bucket, p.m_j
    FROM hours h
    CROSS JOIN (SELECT UNNEST(range(0, {HLL_M})) AS bucket) b
    LEFT JOIN panes p ON p.hour_idx = h.hour_idx AND p.bucket = b.bucket
),
merged AS (
    SELECT hour_idx, bucket,
           MAX(m_j) OVER (PARTITION BY bucket ORDER BY hour_idx
                RANGE BETWEEN {HLL_WINDOW_HOURS - 1} PRECEDING AND CURRENT ROW)
               AS mj_win
    FROM grid
),
sketch AS (
    SELECT hour_idx,
           CAST(SUM(CASE WHEN mj_win IS NULL THEN CAST(1.0 AS DECIMAL(38,18))
                ELSE CAST(pow(2.0, -CAST(mj_win AS DOUBLE)) AS DECIMAL(38,18))
                END) AS DOUBLE) AS z,
           CAST(COUNT(mj_win) AS BIGINT) AS n_active_buckets
    FROM merged GROUP BY 1
),
ends AS (
    SELECT user_id, hour_idx + o AS hour_idx
    FROM hashed CROSS JOIN (SELECT UNNEST(range(0, {HLL_WINDOW_HOURS})) AS o)
),
exact AS (
    SELECT e.hour_idx, CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS exact_users
    FROM ends e SEMI JOIN hours h ON e.hour_idx = h.hour_idx
    GROUP BY 1
),
est AS (
    SELECT s.hour_idx, s.n_active_buckets, x.exact_users,
           CASE WHEN ({HLL_ALPHA * HLL_M * HLL_M} / s.z) <= {2.5 * HLL_M}
                     AND ({HLL_M} - s.n_active_buckets) > 0
                THEN {rnd_sql(f"{HLL_M} * ln({HLL_M} / ({HLL_M} - s.n_active_buckets))", 4)}
                ELSE {rnd_sql(f"{HLL_ALPHA * HLL_M * HLL_M} / s.z", 4)}
           END AS hll_estimate
    FROM sketch s JOIN exact x ON s.hour_idx = x.hour_idx
)
SELECT make_timestamp(hour_idx * 3600 * 1000000) AS window_end_hour,
       n_active_buckets,
       hll_estimate,
       exact_users,
       {rnd_sql('abs(hll_estimate - exact_users) / exact_users', 6)} AS rel_error
FROM est""",
)


# --------------------------------------------------------------------------
# Mergeable log-histogram quantile sketch (DDSketch-style fixed buckets)
# --------------------------------------------------------------------------

#: relative-accuracy knob: bucket edges are gamma^k, so any estimate is
#: within ~(gamma-1)/2 ≈ 1% of the true value's bucket. gamma=1.02 puts
#: the whole positive range of ``events.value`` (0.01..~500) into ~550
#: buckets — the sketch is a <=buckets-row frame at ANY corpus size.
QSK_GAMMA = 1.02
#: ln(QSK_GAMMA) precomputed in Python so BOTH engines share the exact
#: double literal (libm ln(1.02) could round differently).
QSK_LN_GAMMA = 0.01980262729617973
QSK_QUANTILES = (0.5, 0.9, 0.99)


@model("events_quantile_sketch", layer="operators", materialization="view")
def events_quantile_sketch(ctx):
    """DDSketch-style quantile estimation (Masson, Rim & Lee, VLDB'19:
    "DDSketch: a fast and fully-mergeable quantile sketch with
    relative-error guarantees") next to the exact answer: values land in
    log-scale buckets k = ceil(ln(v)/ln(gamma)); the per-bucket count
    table IS the sketch (mergeable by addition across shards/days), and
    the q-quantile estimate is the value midpoint of the first bucket
    whose cumulative count reaches ceil(q*N). One row per q in
    {0.5, 0.9, 0.99}: estimate, exact percentile, and realized relative
    error (guaranteed <= (gamma-1)/(gamma+1) by construction).

    Why it matters at 100 TB: the exact side needs a full sort or
    percentile aggregation per query, while the sketch is one map-side
    combinable aggregation into <=550 rows that answers EVERY quantile
    afterwards — the p99-latency / value-distribution primitive.

    Determinism: ln(v)/ln(gamma) is rnd-quantized at 9 dp before ceil
    (the repo's quantized-libm convention) and gamma^k at 6 dp, so both
    engines bucket and estimate bit-identically. Scale shape: one
    aggregation at bucket grain, cumulative window over the <=550-row
    sketch, zero joins at corpus grain.

    The log-bucket domain is positive values only, and the guard is
    ENFORCED (not assumed): ln(0)/ln(negative) raises in DuckDB but
    yields NULL in Spark, so an unguarded corpus drift would diverge
    the engines instead of erroring. Both sides filter value > 0 with
    the identical predicate (DDSketch proper keeps separate negative /
    zero stores; this sketch covers the positive store)."""
    e = ctx.source("events").select("value").filter(F.col("value") > 0)
    k = F.ceil(rnd(F.log("value") / F.lit(QSK_LN_GAMMA), 9)).cast("long")
    sketch = e.groupBy(k.alias("qbucket")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    from pyspark.sql import Window

    w_cum = Window.orderBy("qbucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = sketch.select(
        "qbucket",
        F.sum("cnt").over(w_cum).cast("long").alias("cum"),
        F.sum("cnt").over(Window.partitionBy()).cast("long").alias("n"),
    )
    picks = [
        F.min(
            F.when(
                F.col("cum") >= F.ceil(F.lit(q) * F.col("n")), F.col("qbucket")
            )
        ).alias(f"k{int(q * 100)}")
        for q in QSK_QUANTILES
    ]
    picked = cum.agg(*picks, F.max("n").alias("n_rows"))
    exact = e.agg(
        *[
            rnd(F.percentile("value", F.lit(q)), 6).alias(
                f"exact{int(q * 100)}"
            )
            for q in QSK_QUANTILES
        ]
    )
    est = lambda kc: rnd(  # noqa: E731
        F.lit(2.0) * F.pow(F.lit(QSK_GAMMA), kc) / F.lit(QSK_GAMMA + 1.0), 6
    )
    # unpivot the single joined row with stack() — a UNION of per-q
    # selects would re-execute the corpus aggregations once per quantile
    one = picked.crossJoin(exact).select(
        "n_rows",
        *[
            est(F.col(f"k{int(q * 100)}")).alias(f"est{int(q * 100)}")
            for q in QSK_QUANTILES
        ],
        *[F.col(f"exact{int(q * 100)}") for q in QSK_QUANTILES],
    )
    stack_args = ", ".join(
        f"{q}D, est{int(q * 100)}, exact{int(q * 100)}"
        for q in QSK_QUANTILES
    )
    out = one.selectExpr(
        "n_rows",
        f"stack({len(QSK_QUANTILES)}, {stack_args})"
        " as (q, estimate, exact)",
    )
    return out.select(
        "q",
        "n_rows",
        "estimate",
        "exact",
        rnd(F.abs(F.col("estimate") - F.col("exact")) / F.col("exact"), 6).alias(
            "rel_error"
        ),
    )


def _qsk_oracle() -> str:
    ks = ", ".join(
        f"MIN(CASE WHEN cum >= CAST(ceil({q} * n) AS BIGINT)"
        f" THEN qbucket END) AS k{int(q * 100)}"
        for q in QSK_QUANTILES
    )
    exacts = ", ".join(
        rnd_sql(
            f"percentile_cont({q}) WITHIN GROUP (ORDER BY value)", 6
        )
        + f" AS exact{int(q * 100)}"
        for q in QSK_QUANTILES
    )
    def est(tag: int) -> str:
        return rnd_sql(
            f"2.0 * power({QSK_GAMMA}, k{tag}) / {QSK_GAMMA + 1.0}", 6
        )
    selects = "\nUNION ALL\n".join(
        f"""SELECT {q} AS q, p.n_rows,
       {est(int(q * 100))} AS estimate,
       x.exact{int(q * 100)} AS exact,
       {rnd_sql(f"abs({est(int(q * 100))} - x.exact{int(q * 100)}) / x.exact{int(q * 100)}", 6)} AS rel_error
FROM picked p CROSS JOIN exact x"""
        for q in QSK_QUANTILES
    )
    return f"""WITH sk AS (
    SELECT CAST(ceil({rnd_sql(f'ln(value) / {QSK_LN_GAMMA}', 9)}) AS BIGINT) AS qbucket,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events WHERE value > 0 GROUP BY 1
),
cum AS (
    SELECT qbucket,
           CAST(SUM(cnt) OVER (ORDER BY qbucket) AS BIGINT) AS cum,
           CAST(SUM(cnt) OVER () AS BIGINT) AS n
    FROM sk
),
picked AS (
    SELECT {ks}, CAST(MAX(n) AS BIGINT) AS n_rows FROM cum
),
exact AS (
    SELECT {exacts} FROM events WHERE value > 0
)
{selects}"""


oracle("events_quantile_sketch", ("events",), _qsk_oracle())


@model("events_qsketch_merge_check", layer="operators", materialization="view")
def events_qsketch_merge_check(ctx):
    """The quantile-sketch mergeability proof as a query (VERDICT r7 #7 —
    the DDSketch analogue of events_hll_merge_check): per-DAY bucket-count
    sketches summed up to the whole period must yield the IDENTICAL
    bucket table — and so identical p50/p99 estimates — as sketching the
    whole corpus directly. This is the property that lets a 100 TB
    deployment keep per-day/per-shard ~550-row sketches and answer any
    coarser quantile rollup by pure addition, never re-reading raw data.

    Output is one row: bucket-table agreement (n_mismatched_buckets must
    be 0), row totals, and the p50/p99 estimates computed from BOTH
    paths. Scale shape: two bucket-grain aggregations + one full-outer
    join and windows over the <=550-row joined sketch."""
    from pyspark.sql import Window

    e = ctx.source("events").select("ts", "value").filter(F.col("value") > 0)
    k = F.ceil(rnd(F.log("value") / F.lit(QSK_LN_GAMMA), 9)).cast("long")
    daily = e.groupBy(
        F.to_date("ts").alias("day"), k.alias("qbucket")
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    merged = daily.groupBy("qbucket").agg(
        F.sum("cnt").cast("long").alias("m_cnt")
    )
    direct = e.groupBy(k.alias("qbucket")).agg(
        F.count(F.lit(1)).cast("long").alias("d_cnt")
    )
    j = merged.join(direct, "qbucket", "full_outer").select(
        "qbucket",
        F.coalesce("m_cnt", F.lit(0)).cast("long").alias("m_cnt"),
        F.coalesce("d_cnt", F.lit(0)).cast("long").alias("d_cnt"),
    )
    w_cum = Window.orderBy("qbucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    cum = j.select(
        "qbucket",
        "m_cnt",
        "d_cnt",
        F.sum("m_cnt").over(w_cum).cast("long").alias("m_cum"),
        F.sum("d_cnt").over(w_cum).cast("long").alias("d_cum"),
        F.sum("m_cnt").over(w_all).cast("long").alias("m_n"),
        F.sum("d_cnt").over(w_all).cast("long").alias("d_n"),
    )
    qs = (0.5, 0.99)
    row = cum.agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum((F.col("m_cnt") != F.col("d_cnt")).cast("long"))
        .cast("long")
        .alias("n_mismatched_buckets"),
        F.max("m_n").cast("long").alias("merged_n"),
        F.max("d_n").cast("long").alias("direct_n"),
        *[
            F.min(
                F.when(
                    F.col(f"{side}_cum")
                    >= F.ceil(F.lit(q) * F.col(f"{side}_n")),
                    F.col("qbucket"),
                )
            ).alias(f"{side}k{int(q * 100)}")
            for q in qs
            for side in ("m", "d")
        ],
    )
    est = lambda kc: rnd(  # noqa: E731
        F.lit(2.0) * F.pow(F.lit(QSK_GAMMA), kc) / F.lit(QSK_GAMMA + 1.0), 6
    )
    return row.select(
        "n_buckets",
        "n_mismatched_buckets",
        "merged_n",
        "direct_n",
        est(F.col("mk50")).alias("p50_merged"),
        est(F.col("dk50")).alias("p50_direct"),
        est(F.col("mk99")).alias("p99_merged"),
        est(F.col("dk99")).alias("p99_direct"),
    )


def _qsk_merge_oracle() -> str:
    bucket = f"CAST(ceil({rnd_sql(f'ln(value) / {QSK_LN_GAMMA}', 9)}) AS BIGINT)"
    def est(col: str) -> str:
        return rnd_sql(f"2.0 * power({QSK_GAMMA}, {col}) / {QSK_GAMMA + 1.0}", 6)
    picks = ", ".join(
        f"MIN(CASE WHEN {side}_cum >= CAST(ceil({q} * {side}_n) AS BIGINT)"
        f" THEN qbucket END) AS {side}k{int(q * 100)}"
        for q in (0.5, 0.99)
        for side in ("m", "d")
    )
    return f"""WITH daily AS (
    SELECT CAST(ts AS DATE) AS day, {bucket} AS qbucket,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events WHERE value > 0 GROUP BY 1, 2
),
merged AS (
    SELECT qbucket, CAST(SUM(cnt) AS BIGINT) AS m_cnt FROM daily GROUP BY 1
),
direct AS (
    SELECT {bucket} AS qbucket, CAST(COUNT(*) AS BIGINT) AS d_cnt
    FROM events WHERE value > 0 GROUP BY 1
),
j AS (
    SELECT COALESCE(m.qbucket, d.qbucket) AS qbucket,
           CAST(COALESCE(m_cnt, 0) AS BIGINT) AS m_cnt,
           CAST(COALESCE(d_cnt, 0) AS BIGINT) AS d_cnt
    FROM merged m FULL OUTER JOIN direct d ON m.qbucket = d.qbucket
),
cum AS (
    SELECT qbucket, m_cnt, d_cnt,
           CAST(SUM(m_cnt) OVER (ORDER BY qbucket) AS BIGINT) AS m_cum,
           CAST(SUM(d_cnt) OVER (ORDER BY qbucket) AS BIGINT) AS d_cum,
           CAST(SUM(m_cnt) OVER () AS BIGINT) AS m_n,
           CAST(SUM(d_cnt) OVER () AS BIGINT) AS d_n
    FROM j
),
picked AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(CAST(m_cnt <> d_cnt AS BIGINT)) AS BIGINT) AS n_mismatched_buckets,
           CAST(MAX(m_n) AS BIGINT) AS merged_n,
           CAST(MAX(d_n) AS BIGINT) AS direct_n,
           {picks}
    FROM cum
)
SELECT n_buckets, n_mismatched_buckets, merged_n, direct_n,
       {est('mk50')} AS p50_merged,
       {est('dk50')} AS p50_direct,
       {est('mk99')} AS p99_merged,
       {est('dk99')} AS p99_direct
FROM picked"""


oracle("events_qsketch_merge_check", ("events",), _qsk_merge_oracle())
