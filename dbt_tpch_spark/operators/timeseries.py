"""Time-series gap-fill over ``events``: the hypertable/gapfill primitive
(TimescaleDB ``time_bucket_gapfill`` + ``locf()`` + ``interpolate()``
semantics) re-expressed as DataFrame compositions.

Extension surface: the reference (DataRecce/dbt-tpch) has no time-series
densification; a metrics/training pipeline needs regular grids (model
features, rate computations) from irregular event streams.

Scale shape:

- events aggregate to (user, hour) buckets first — map-side partial agg
  absorbs the raw stream before any shuffle;
- the dense grid is *generated* per key with ``sequence()`` + ``explode``
  from that key's [min, max] bucket — no join against a calendar table,
  no cross join;
- LOCF/interpolation uses the union + ordered-window trick (same family
  as the as-of join in operators/temporal.py): tag observed and grid
  rows, one shuffle on the key, ``last(..., ignorenulls)`` backward and
  ``first(..., ignorenulls)`` forward over the same sort — Catalyst
  reuses one sort for both frames, and there are ZERO join nodes.

At 100 TB the grid is bounded by keys x buckets (not raw events), and the
single shuffle key (user_id) is the natural partitioning for any
downstream per-entity feature pipeline.

Determinism: bucket values are rnd(dsum(value), 4) so LOCF copies exact
quantized doubles; interpolation arithmetic is identical IEEE double ops
on both engines, quantized rnd 6 at the output.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from dbt_tpch_spark.functions import barrier, dsum, rnd
from dbt_tpch_spark.models.oracle import (
    davg_sql,
    dstddev_samp_sql,
    dsum_sql,
    oracle,
    rnd_sql,
    wsum_sql,
)
from dbt_tpch_spark.plans import model


@model("events_gapfill_hourly", layer="operators", materialization="view")
def events_gapfill_hourly(ctx):
    """Dense per-user hourly grid over each user's observed [first, last]
    bucket with last-observation-carried-forward and linear interpolation.

    Output: one row per (user_id, hour bucket); ``is_gap`` flags generated
    rows, ``locf_value`` carries the last observed bucket value forward,
    ``interp_value`` linearly interpolates between the surrounding observed
    buckets (trailing gaps fall back to LOCF; leading gaps cannot occur —
    the grid starts at the first observation).
    """
    e = ctx.source("events")
    obs = e.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("bucket")
    ).agg(
        F.count("*").cast("long").alias("n_events"),
        rnd(dsum(F.col("value")), 4).alias("bucket_value"),
    )
    # Round-12 rewrite (guide §2.1/§5): the old form UNIONED the observed
    # buckets with the dense generated grid and ran TWO unbounded windows
    # (back/fwd) over the union — the dense grid is ~11x the observed
    # frame at every SF, so the sort and the WindowExec partition buffers
    # paid grid-sized cost for values that are pure functions of the
    # SURROUNDING OBSERVED rows. Now the windows run over the observed
    # frame only, and every gap row between consecutive observed buckets
    # is generated IN-ROW (sequence/transform) with its LOCF/interp values
    # computed positionally — no union, no grid-sized sort, no grid-sized
    # window buffers, and `obs` has a single consumer so its barrier is
    # gone too: 4 exchanges -> 2, window input 11x smaller.
    #
    # Exactness vs the union+window form (the oracle keeps it): grid rows
    # exist strictly between consecutive observed buckets of a user (the
    # grid spans [min, max] of OBSERVED buckets), so for a gap row
    #   locf_bucket = previous observed bucket, next_bucket = next observed
    #   bucket, locf/next_value = running last/first NON-NULL bucket_value
    # — reproduced here by `locf_v` (backward ignorenulls over obs),
    # `next_v` (forward ignorenulls over obs, then lead() to look past the
    # current row), and dh/span = the gap's position in the hour sequence
    # (timestampdiff(HOUR) of hour-truncated UTC stamps is exactly that
    # integer). Observed rows take the when-branch (next_bucket ==
    # locf_bucket == own bucket), i.e. interp = locf_value, also
    # reproduced verbatim.
    w = Window.partitionBy("user_id").orderBy("bucket")
    back = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    fwd = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    o2 = obs.select(
        "user_id",
        "bucket",
        "n_events",
        "bucket_value",
        F.last("bucket_value", ignorenulls=True).over(back).alias("locf_v"),
        F.first("bucket_value", ignorenulls=True).over(fwd).alias("next_v"),
    )
    # second window pass (same sort, no new exchange): the NEXT observed
    # row's bucket and its forward-carried non-null value
    o3 = o2.select(
        "user_id",
        "bucket",
        "n_events",
        "bucket_value",
        "locf_v",
        F.lead("bucket").over(w).alias("nb"),
        F.lead("next_v").over(w).alias("nnv"),
    ).withColumn(
        "_ngaps",
        F.coalesce(
            F.expr("timestampdiff(HOUR, bucket, nb)").cast("int") - 1,
            F.lit(0),
        ),
    )
    obs_struct = F.struct(
        F.col("bucket").alias("bucket"),
        F.lit(0).alias("is_gap"),
        F.col("n_events").alias("n_events"),
        F.col("bucket_value").alias("bucket_value"),
        F.col("locf_v").alias("locf_value"),
        # observed rows: next_bucket == locf_bucket -> interp = locf_value
        F.col("locf_v").alias("interp_value"),
    )

    def _gap_struct(k):
        dh = k.cast("double")
        span = F.expr("timestampdiff(HOUR, bucket, nb)").cast("double")
        return F.struct(
            F.timestamp_add("HOUR", k, F.col("bucket")).alias("bucket"),
            F.lit(1).alias("is_gap"),
            F.lit(0).cast("long").alias("n_events"),
            F.lit(None).cast("double").alias("bucket_value"),
            F.col("locf_v").alias("locf_value"),
            rnd(
                F.col("locf_v") + (F.col("nnv") - F.col("locf_v")) * dh / span,
                6,
            ).alias("interp_value"),
        )

    # sequence(1, max(n,1)) sliced back to n elements: slice(arr, 1, 0) is
    # the typed empty array, so rows with no gap (or no next bucket) emit
    # only their observed struct — sequence(1, 0) itself would be illegal
    gap_arr = F.slice(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.col("_ngaps"), F.lit(1))),
            lambda k: _gap_struct(k),
        ),
        1,
        F.col("_ngaps"),
    )
    rows = o3.select(
        "user_id",
        F.explode(F.concat(F.array(obs_struct), gap_arr)).alias("r"),
    )
    return rows.select(
        "user_id",
        F.col("r.bucket").alias("bucket"),
        F.col("r.is_gap").alias("is_gap"),
        F.col("r.n_events").alias("n_events"),
        F.col("r.bucket_value").alias("bucket_value"),
        F.col("r.locf_value").alias("locf_value"),
        F.col("r.interp_value").alias("interp_value"),
    )


oracle(
    "events_gapfill_hourly",
    ("events",),
    f"""WITH obs AS (
    SELECT
        user_id,
        date_trunc('hour', ts) AS bucket,
        CAST(COUNT(*) AS BIGINT) AS n_events,
        {rnd_sql(dsum_sql("value"), 4)} AS bucket_value
    FROM events
    GROUP BY 1, 2
),
bounds AS (
    SELECT user_id, min(bucket) AS b0, max(bucket) AS b1 FROM obs GROUP BY 1
),
grid AS (
    SELECT user_id, unnest(generate_series(b0, b1, INTERVAL '1 hour')) AS bucket
    FROM bounds
),
tagged AS (
    SELECT user_id, bucket, 1 AS is_obs, n_events, bucket_value FROM obs
    UNION ALL
    SELECT user_id, bucket, 0, NULL, NULL FROM grid
),
filled AS (
    SELECT *,
        last_value(bucket_value IGNORE NULLS) OVER back AS locf_value,
        last_value(CASE WHEN is_obs = 1 THEN bucket END IGNORE NULLS)
            OVER back AS locf_bucket,
        first_value(bucket_value IGNORE NULLS) OVER fwd AS next_value,
        first_value(CASE WHEN is_obs = 1 THEN bucket END IGNORE NULLS)
            OVER fwd AS next_bucket
    FROM tagged
    WINDOW
        back AS (PARTITION BY user_id ORDER BY bucket, is_obs DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        fwd AS (PARTITION BY user_id ORDER BY bucket, is_obs DESC
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT
    user_id,
    bucket,
    CAST(is_obs = 0 AS INTEGER) AS is_gap,
    CAST(COALESCE(n_events, 0) AS BIGINT) AS n_events,
    bucket_value,
    locf_value,
    CASE
        WHEN next_bucket IS NULL OR next_bucket = locf_bucket THEN locf_value
        ELSE {rnd_sql(
            "locf_value + (next_value - locf_value)"
            " * CAST(date_diff('hour', locf_bucket, bucket) AS DOUBLE)"
            " / CAST(date_diff('hour', locf_bucket, next_bucket) AS DOUBLE)",
            6,
        )}
    END AS interp_value
FROM filled
WHERE is_obs = 1 OR locf_bucket != bucket""",
)


ZSCORE_LOOKBACK = 20
ZSCORE_MIN_PRIOR = 5
ZSCORE_THRESHOLD = 3.0

#: the shared rolling frame: strictly-prior events per user, bounded lookback
_Z_OVER = (
    "PARTITION BY user_id ORDER BY ts, event_id "
    f"ROWS BETWEEN {ZSCORE_LOOKBACK} PRECEDING AND 1 PRECEDING"
)


@model("events_value_zscore", layer="operators", materialization="view")
def events_value_zscore(ctx):
    """Rolling z-score anomaly detection: each event's ``value`` against
    the mean/stddev of its user's previous ZSCORE_LOOKBACK events (strictly
    prior — no self-leakage). ``z_score`` is NULL until ZSCORE_MIN_PRIOR
    history exists or when the window is constant; ``is_anomaly`` flags
    |z| > 3. The streaming-shaped outlier gate of a metrics pipeline.

    Scale shape: one shuffle on user_id, one sort, three aggregates over
    the same ROWS frame (Spark evaluates them in a single WindowExec).
    Variance uses the exact-decimal moment convention (functions.dvar_samp
    rationale) so both engines carry identical doubles."""
    from dbt_tpch_spark.functions import dsum_over

    e = ctx.source("events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-ZSCORE_LOOKBACK, -1)
    )
    n = F.count("value").over(w)
    sx = dsum_over(F.col("value"), w)
    sxx = dsum_over(F.col("value") * F.col("value"), w)
    mean = sx / n
    var = (sxx - sx * sx / n) / (n - F.lit(1))
    z = F.when(
        (n >= ZSCORE_MIN_PRIOR) & (var > 0),
        (F.col("value") - mean) / F.sqrt(var),
    )
    out = (
        e.withColumn("n_prior", n.cast("long"))
        .withColumn("prior_mean", rnd(mean, 6))
        .withColumn("z_score", rnd(z, 6))
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        "value",
        "n_prior",
        "prior_mean",
        "z_score",
        F.when(
            F.abs(F.col("z_score")) > ZSCORE_THRESHOLD, F.lit(1)
        ).otherwise(F.lit(0)).alias("is_anomaly"),
    )


def _wsum_sql(expr: str) -> str:
    return (
        f"CAST(SUM(CAST(({expr}) AS DECIMAL(27,6))) OVER ({_Z_OVER}) AS DOUBLE)"
    )


oracle(
    "events_value_zscore",
    ("events",),
    f"""WITH rolled AS (
    SELECT
        event_id, user_id, ts, event_type, value,
        CAST(COUNT(value) OVER ({_Z_OVER}) AS BIGINT) AS n_prior,
        {_wsum_sql('value')} AS sx,
        {_wsum_sql('value * value')} AS sxx
    FROM events
),
scored AS (
    SELECT
        event_id, user_id, ts, event_type, value, n_prior,
        {rnd_sql('sx / n_prior', 6)} AS prior_mean,
        CASE
            WHEN n_prior >= {ZSCORE_MIN_PRIOR}
                 AND (sxx - sx * sx / n_prior) / (n_prior - 1) > 0
            THEN {rnd_sql(
                '(value - sx / n_prior)'
                ' / sqrt((sxx - sx * sx / n_prior) / (n_prior - 1))',
                6,
            )}
        END AS z_score
    FROM rolled
)
SELECT *,
    CASE WHEN abs(z_score) > {ZSCORE_THRESHOLD} THEN 1 ELSE 0 END AS is_anomaly
FROM scored""",
)


@model("events_conversion_funnel", layer="operators", materialization="view")
def events_conversion_funnel(ctx):
    """Ordered conversion funnel signup -> click -> purchase: per user the
    first signup, the first click strictly after it, the first purchase
    strictly after that; one summary row per funnel stage with conversion
    counts and median hours-to-convert. The standard product-analytics
    sequence query (the reference has nothing event-ordered).

    Scale shape: three conditional-min aggregates over one groupBy(user) —
    a single shuffle, no self-joins; the per-stage rollup is a tiny second
    aggregation. Ordered-sequence semantics come from conditional
    aggregation (min ts after a prior stage's min ts), which Catalyst
    folds into one hash aggregate."""
    e = ctx.source("events")
    # stage timestamps per user: each stage's min ts strictly after the
    # previous stage; two-phase because the predicate needs the prior min
    per_user = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t_signup")
    )
    stage2 = (
        e.join(per_user, "user_id")
        .groupBy("user_id", "t_signup")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts") > F.col("t_signup")),
                    F.col("ts"),
                )
            ).alias("t_click")
        )
    )
    stage3 = (
        e.join(stage2, "user_id")
        .groupBy("user_id", "t_signup", "t_click")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("t_click")),
                    F.col("ts"),
                )
            ).alias("t_purchase")
        )
    )
    # medians interpolate over integer MICROsecond gaps and divide to hours
    # afterwards: unix_timestamp() would truncate to seconds (DuckDB's epoch
    # keeps fraction) and per-row pre-division would change the
    # interpolation operands — both would break cross-engine parity
    us_per_hour = 3_600_000_000.0
    return stage3.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.count("t_signup").cast("long").alias("n_signup"),
        F.count(F.when(F.col("t_click").isNotNull(), 1)).cast("long").alias(
            "n_signup_click"
        ),
        F.count(F.when(F.col("t_purchase").isNotNull(), 1)).cast("long").alias(
            "n_full_funnel"
        ),
        rnd(
            F.expr(
                "percentile(CASE WHEN t_click IS NOT NULL THEN "
                "unix_micros(t_click) - unix_micros(t_signup) END, 0.5)"
            )
            / F.lit(us_per_hour),
            6,
        ).alias("median_hours_to_click"),
        rnd(
            F.expr(
                "percentile(CASE WHEN t_purchase IS NOT NULL THEN "
                "unix_micros(t_purchase) - unix_micros(t_click) END, 0.5)"
            )
            / F.lit(us_per_hour),
            6,
        ).alias("median_hours_to_purchase"),
    )


oracle(
    "events_conversion_funnel",
    ("events",),
    f"""WITH s1 AS (
    SELECT user_id,
           min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup
    FROM events GROUP BY 1
),
s2 AS (
    SELECT e.user_id, s1.t_signup,
           min(CASE WHEN e.event_type = 'click' AND e.ts > s1.t_signup
               THEN e.ts END) AS t_click
    FROM events e JOIN s1 ON e.user_id = s1.user_id
    GROUP BY 1, 2
),
s3 AS (
    SELECT e.user_id, s2.t_signup, s2.t_click,
           min(CASE WHEN e.event_type = 'purchase' AND e.ts > s2.t_click
               THEN e.ts END) AS t_purchase
    FROM events e JOIN s2 ON e.user_id = s2.user_id
    GROUP BY 1, 2, 3
)
SELECT
    CAST(COUNT(*) AS BIGINT) AS n_users,
    CAST(COUNT(t_signup) AS BIGINT) AS n_signup,
    CAST(COUNT(CASE WHEN t_click IS NOT NULL THEN 1 END) AS BIGINT)
        AS n_signup_click,
    CAST(COUNT(CASE WHEN t_purchase IS NOT NULL THEN 1 END) AS BIGINT)
        AS n_full_funnel,
    {rnd_sql(
        "quantile_cont(CASE WHEN t_click IS NOT NULL THEN "
        "epoch_us(t_click) - epoch_us(t_signup) END, 0.5) / 3600000000.0",
        6,
    )} AS median_hours_to_click,
    {rnd_sql(
        "quantile_cont(CASE WHEN t_purchase IS NOT NULL THEN "
        "epoch_us(t_purchase) - epoch_us(t_click) END, 0.5) / 3600000000.0",
        6,
    )} AS median_hours_to_purchase
FROM s3""",
)


RETENTION_MAX_OFFSET = 7


@model("events_retention_cohorts", layer="operators", materialization="view")
def events_retention_cohorts(ctx):
    """Daily retention cohorts: users grouped by first-seen day; for day
    offsets 0..RETENTION_MAX_OFFSET, the share of each cohort active again
    that day — the classic triangle retention matrix.

    Scale shape: one groupBy(user) for cohort assignment, one distinct on
    (user, day) for activity, one shuffle join on user_id, then a tiny
    (cohort x offset) aggregation; cohort sizes broadcast back."""
    e = ctx.source("events")
    day = F.date_trunc("day", F.col("ts"))
    first = e.groupBy("user_id").agg(F.min(day).alias("cohort_day"))
    activity = e.select("user_id", day.alias("active_day")).distinct()
    sizes = first.groupBy("cohort_day").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_size")
    )
    joined = (
        activity.join(first, "user_id")
        .withColumn(
            "day_offset", F.datediff("active_day", "cohort_day").cast("long")
        )
        .filter(F.col("day_offset") <= RETENTION_MAX_OFFSET)
    )
    counts = joined.groupBy("cohort_day", "day_offset").agg(
        F.countDistinct("user_id").cast("long").alias("n_active")
    )
    return (
        counts.join(F.broadcast(sizes), "cohort_day")
        .withColumn(
            "retention_rate",
            rnd(F.col("n_active").cast("double") / F.col("cohort_size"), 6),
        )
        .select("cohort_day", "day_offset", "n_active", "cohort_size", "retention_rate")
    )


oracle(
    "events_retention_cohorts",
    ("events",),
    f"""WITH first_seen AS (
    SELECT user_id, min(date_trunc('day', ts)) AS cohort_day
    FROM events GROUP BY 1
),
activity AS (
    SELECT DISTINCT user_id, date_trunc('day', ts) AS active_day FROM events
),
sizes AS (
    SELECT cohort_day, CAST(COUNT(*) AS BIGINT) AS cohort_size
    FROM first_seen GROUP BY 1
),
counts AS (
    SELECT
        f.cohort_day,
        CAST(date_diff('day', f.cohort_day, a.active_day) AS BIGINT)
            AS day_offset,
        CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_active
    FROM activity a
    JOIN first_seen f ON a.user_id = f.user_id
    WHERE date_diff('day', f.cohort_day, a.active_day) <= {RETENTION_MAX_OFFSET}
    GROUP BY 1, 2
)
SELECT
    c.cohort_day, c.day_offset, c.n_active, s.cohort_size,
    {rnd_sql('CAST(c.n_active AS DOUBLE) / s.cohort_size', 6)}
        AS retention_rate
FROM counts c
JOIN sizes s ON c.cohort_day = s.cohort_day""",
)


@model("events_transition_matrix", layer="operators", materialization="view")
def events_transition_matrix(ctx):
    """First-order Markov transition matrix over per-user event sequences:
    P(next event type | current event type), with pair counts — the
    sequence-statistics primitive behind next-action models and anomaly
    path detection.

    Scale shape: one shuffle on user_id for the lead() window, then a tiny
    (|types|^2) aggregation with map-side combine; the per-row-type totals
    come from a window over the aggregated matrix, not a second pass."""
    e = ctx.source("events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count("*").cast("long").alias("n_transitions"))
    )
    w_from = Window.partitionBy("from_type")
    return (
        pairs.withColumn(
            "from_total", F.sum("n_transitions").over(w_from).cast("long")
        )
        .withColumn(
            "probability",
            rnd(
                F.col("n_transitions").cast("double") / F.col("from_total"), 6
            ),
        )
        .select("from_type", "to_type", "n_transitions", "from_total", "probability")
    )


oracle(
    "events_transition_matrix",
    ("events",),
    f"""WITH pairs AS (
    SELECT event_type AS from_type,
           lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS to_type
    FROM events
),
counts AS (
    SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n_transitions
    FROM pairs WHERE to_type IS NOT NULL
    GROUP BY 1, 2
)
SELECT
    from_type, to_type, n_transitions,
    CAST(SUM(n_transitions) OVER (PARTITION BY from_type) AS BIGINT)
        AS from_total,
    {rnd_sql(
        "CAST(n_transitions AS DOUBLE)"
        " / CAST(SUM(n_transitions) OVER (PARTITION BY from_type) AS DOUBLE)",
        6,
    )} AS probability
FROM counts""",
)


@model("user_state_scd", layer="operators", materialization="view")
def user_state_scd(ctx):
    """SCD-type-2 state history from the event stream: consecutive runs of
    the same event type per user collapse into validity intervals
    [valid_from, valid_to) with a version number and an is_current flag —
    the dbt *snapshot* pattern (the reference declares an empty snapshot
    path) rebuilt from immutable events.

    Scale shape: classic gaps-and-islands — one shuffle on user_id, change
    flags + running island ids in one window pass, then a per-island
    aggregate and a lead() for interval close; all three reuse the same
    partitioning."""
    e = ctx.source("events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changed = (
        F.lag("event_type").over(w).isNull()
        | (F.lag("event_type").over(w) != F.col("event_type"))
    ).cast("int")
    islands = (
        e.withColumn("chg", changed)
        .withColumn(
            "version",
            F.sum("chg")
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("long"),
        )
        .groupBy("user_id", "version")
        .agg(
            F.first("event_type").alias("event_type"),
            F.min("ts").alias("valid_from"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
    )
    w_v = Window.partitionBy("user_id").orderBy("version")
    return (
        islands.withColumn("valid_to", F.lead("valid_from").over(w_v))
        .withColumn("is_current", F.col("valid_to").isNull().cast("int"))
        .select(
            "user_id",
            "version",
            "event_type",
            "valid_from",
            "valid_to",
            "n_events",
            "is_current",
        )
    )


oracle(
    "user_state_scd",
    ("events",),
    """WITH flagged AS (
    SELECT user_id, event_type, ts, event_id,
        CASE WHEN lag(event_type) OVER w IS NULL
                  OR lag(event_type) OVER w != event_type
             THEN 1 ELSE 0 END AS chg
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
runs AS (
    SELECT *,
        CAST(SUM(chg) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS BIGINT) AS version
    FROM flagged
),
islands AS (
    SELECT user_id, version,
           ANY_VALUE(event_type) AS event_type,
           min(ts) AS valid_from,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM runs GROUP BY 1, 2
)
SELECT user_id, version, event_type, valid_from,
       lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
           AS valid_to,
       n_events,
       CAST(lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
            IS NULL AS INTEGER) AS is_current
FROM islands""",
)


@model("events_time_rollup", layer="operators", materialization="view")
def events_time_rollup(ctx):
    """Multi-granularity time rollup in ONE pass: day / week / month
    aggregates of the event stream via GROUPING SETS — the hypertable
    "continuous aggregate ladder" without re-scanning per grain.

    Scale shape: one scan, one shuffle; Spark expands the grouping sets
    internally and map-side partial aggregation still applies per set. A
    per-grain union of three groupBys would scan three times."""
    e = ctx.source("events").select(
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.date_trunc("week", F.col("ts")).alias("week"),
        F.date_trunc("month", F.col("ts")).alias("month"),
        "user_id",
        "value",
    )
    g = e.groupingSets(
        [["day"], ["week"], ["month"]], "day", "week", "month"
    ).agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
        rnd(dsum(F.col("value")), 4).alias("total_value"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )
    grain = (
        F.when(F.col("gid") == 3, F.lit("day"))
        .when(F.col("gid") == 5, F.lit("week"))
        .otherwise(F.lit("month"))
    )
    return g.select(
        grain.alias("grain"),
        F.coalesce("day", "week", "month").alias("period_start"),
        "n_events",
        "total_value",
        "n_users",
    )


oracle(
    "events_time_rollup",
    ("events",),
    f"""WITH base AS (
    SELECT
        date_trunc('day', ts) AS day,
        date_trunc('week', ts) AS week,
        date_trunc('month', ts) AS month,
        user_id,
        value
    FROM events
),
g AS (
    SELECT
        day, week, month,
        -- DuckDB has no GROUPING_ID(); reconstruct Spark's bit order
        GROUPING(day) * 4 + GROUPING(week) * 2 + GROUPING(month) AS gid,
        CAST(COUNT(*) AS BIGINT) AS n_events,
        {rnd_sql(dsum_sql('value'), 4)} AS total_value,
        CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM base
    GROUP BY GROUPING SETS ((day), (week), (month))
)
SELECT
    CASE gid WHEN 3 THEN 'day' WHEN 5 THEN 'week' ELSE 'month' END AS grain,
    COALESCE(day, week, month) AS period_start,
    n_events,
    total_value,
    n_users
FROM g""",
)


# --------------------------------------------------------------------------
# truncated EWMA smoothing
# --------------------------------------------------------------------------

EWMA_ALPHA = 0.2
EWMA_TERMS = 20


@model("events_value_ewma", layer="operators", materialization="view")
def events_value_ewma(ctx):
    """Per-user exponentially weighted moving average of event values,
    truncated to the EWMA_TERMS most recent observations (the standard
    smoothing signal next to the rolling z-score's gate).

    The recursive EWMA is unrolled to its closed form over a bounded
    window: ewma_t = sum_i w_i * x_{t-i} / sum_i w_i with
    w_i = alpha * (1-alpha)^i over the non-null lags. Both engines
    evaluate the SAME fixed-association arithmetic expression (generated
    term list, no aggregate), so IEEE doubles agree bit-for-bit before the
    final quantization. One window sort per user — no joins, no state."""
    from pyspark.sql.window import Window

    e = ctx.source("events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    weights = [EWMA_ALPHA * (1.0 - EWMA_ALPHA) ** i for i in range(EWMA_TERMS)]
    lags = [F.lag("value", i).over(w) for i in range(EWMA_TERMS)]
    num = None
    den = None
    for wt, lg in zip(weights, lags):
        term = F.when(lg.isNotNull(), lg * F.lit(wt)).otherwise(F.lit(0.0))
        dterm = F.when(lg.isNotNull(), F.lit(wt)).otherwise(F.lit(0.0))
        num = term if num is None else num + term
        den = dterm if den is None else den + dterm
    return e.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        rnd(num / den, 6).alias("ewma_value"),
    )


def _ewma_oracle() -> str:
    weights = [EWMA_ALPHA * (1.0 - EWMA_ALPHA) ** i for i in range(EWMA_TERMS)]
    over = "PARTITION BY user_id ORDER BY ts, event_id"
    # weights as explicit DOUBLE casts: a bare numeric literal is DECIMAL to
    # DuckDB, which would accumulate the denominator exactly vs Spark's
    # IEEE-double sum — the CAST keeps both engines on identical doubles
    nums = " + ".join(
        f"CASE WHEN LAG(value, {i}) OVER ({over}) IS NOT NULL "
        f"THEN LAG(value, {i}) OVER ({over}) * CAST({w!r} AS DOUBLE) ELSE 0.0 END"
        for i, w in enumerate(weights)
    )
    dens = " + ".join(
        f"CASE WHEN LAG(value, {i}) OVER ({over}) IS NOT NULL "
        f"THEN CAST({w!r} AS DOUBLE) ELSE 0.0 END"
        for i, w in enumerate(weights)
    )
    return f"""SELECT
    event_id, user_id, ts, value,
    {rnd_sql(f'({nums}) / ({dens})', 6)} AS ewma_value
FROM events"""


oracle("events_value_ewma", (), _ewma_oracle())


N_VALUE_BUCKETS = 32
N_TILES = 10


@model("events_value_quantile_bins", layer="operators", materialization="view")
def events_value_quantile_bins(ctx):
    """Equi-depth (decile) histogram of event values — the companion to the
    fixed-bin histogram: bin edges adapt to the distribution, so each bin
    carries ~the same row count (what a skew-aware partitioner or a
    feature-binning step actually wants).

    Scale (exact NTILE without the single-partition window): an
    unpartitioned ``ntile(10)`` moves the whole table to one task. Instead,
    approx-quantile edges (a tiny sketch collected once, inlined as
    literals) range-bucket the rows; ranks are computed per-bucket in
    parallel and lifted to exact global ranks with the bucket-offset
    broadcast (same tera-sort pattern as docs_shuffle_global); NTILE's
    first-tiles-get-the-remainder arithmetic is then applied to the exact
    rank. Bit-identical to the oracle's NTILE because the ranks are exact —
    the approximate edges only choose where the parallelism cuts fall.
    Ties: equal values share a bucket by construction (bucket is a function
    of value), so the event_id tie-break stays within one partition."""
    from pyspark.sql.window import Window

    e = ctx.source("events").select("event_id", "value")
    probs = [i / N_VALUE_BUCKETS for i in range(1, N_VALUE_BUCKETS)]
    edges_row = e.agg(
        F.percentile_approx("value", probs, 10000).alias("edges")
    ).head()
    edges = sorted(set(edges_row["edges"] or []))
    chain = None
    for i, ed in enumerate(edges):
        cond = F.col("value") < F.lit(float(ed))
        chain = F.when(cond, i) if chain is None else chain.when(cond, i)
    bucket = (
        chain.otherwise(len(edges)) if chain is not None else F.lit(0)
    ).cast("int")
    base = e.withColumn("_b", bucket)
    counts = base.groupBy("_b").agg(F.count(F.lit(1)).alias("_n"))
    # offsets/total: unpartitioned windows over the <=N_VALUE_BUCKETS-row
    # post-aggregation frame only
    w_off = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.orderBy("_b").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = (
        counts.withColumn("_off", F.coalesce(F.sum("_n").over(w_off), F.lit(0)))
        .withColumn("_total", F.sum("_n").over(w_all))
        .select("_b", "_off", "_total")
    )
    w_local = Window.partitionBy("_b").orderBy("value", "event_id")
    rk = F.col("_off") + F.row_number().over(w_local)
    n, t = F.col("_total"), F.lit(N_TILES)
    tile_base, rem = F.floor(n / t), n % t
    big = rem * (tile_base + 1)  # rows covered by the (base+1)-sized tiles
    bin_ = (
        F.when(rk <= big, F.floor((rk - 1) / (tile_base + 1)))
        .otherwise(rem + F.floor((rk - big - 1) / tile_base))
        + 1
    )
    binned = base.join(F.broadcast(offsets), "_b").withColumn(
        "bin", bin_.cast("long")
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
        rnd(dsum(F.col("value")) / F.count(F.lit(1)), 6).alias("avg_value"),
    )


oracle(
    "events_value_quantile_bins",
    ("events",),
    f"""WITH binned AS (
    SELECT value,
           CAST(NTILE(10) OVER (ORDER BY value, event_id) AS BIGINT) AS bin
    FROM events
)
SELECT bin,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MIN(value) AS lo,
       MAX(value) AS hi,
       {rnd_sql(dsum_sql('value') + ' / COUNT(*)', 6)} AS avg_value
FROM binned
GROUP BY bin""",
)


# --------------------------------------------------------------------------
# seasonal-baseline anomaly detection
# --------------------------------------------------------------------------

SEASONAL_Z = 2.0


def _seasonal_sd_sql() -> str:
    return dstddev_samp_sql("CAST(n_events AS DOUBLE)")


@model("events_seasonal_anomaly", layer="operators", materialization="view")
def events_seasonal_anomaly(ctx):
    """Hourly event volumes scored against their hour-of-day seasonal
    baseline (per event type): unlike the rolling z-score's trailing
    window, the baseline here is the *seasonal* profile — 3am traffic is
    judged against other 3ams, so a quiet night hour can still flag as
    anomalous even though the trailing average is dominated by daytime.

    Two aggregations (bucket counts, then per-slot exact-decimal moments)
    and one broadcast join of the 24-slot-per-type baseline — the corpus
    never shuffles twice."""
    from dbt_tpch_spark.functions import davg, dstddev_samp

    e = ctx.source("events")
    hourly = (
        e.groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .transform(barrier)
    )
    hod = F.hour("bucket").cast("long")
    baseline = (
        hourly.withColumn("hour_of_day", hod)
        .groupBy("event_type", "hour_of_day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            rnd(davg(F.col("n_events").cast("double")), 6).alias("expected"),
            rnd(dstddev_samp(F.col("n_events").cast("double")), 6).alias("sd"),
        )
    )
    z = F.when(
        F.col("sd") > 0.0,
        rnd((F.col("n_events") - F.col("expected")) / F.col("sd"), 6),
    )
    return (
        hourly.withColumn("hour_of_day", hod)
        .join(F.broadcast(baseline), ["event_type", "hour_of_day"])
        .withColumn("zscore", z)
        .withColumn(
            "is_anomaly",
            (F.abs(F.coalesce(F.col("zscore"), F.lit(0.0))) > SEASONAL_Z).cast(
                "int"
            ),
        )
        .select(
            "event_type",
            "bucket",
            "hour_of_day",
            "n_events",
            "expected",
            "sd",
            "zscore",
            "is_anomaly",
        )
    )


oracle(
    "events_seasonal_anomaly",
    (),
    f"""WITH hourly AS (
    SELECT event_type, date_trunc('hour', ts) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY 1, 2
),
baseline AS (
    SELECT event_type,
           CAST(EXTRACT(hour FROM bucket) AS BIGINT) AS hour_of_day,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           {rnd_sql(davg_sql('CAST(n_events AS DOUBLE)'), 6)} AS expected,
           {rnd_sql(_seasonal_sd_sql(), 6)} AS sd
    FROM hourly
    GROUP BY 1, 2
)
SELECT h.event_type, h.bucket,
       CAST(EXTRACT(hour FROM h.bucket) AS BIGINT) AS hour_of_day,
       h.n_events, b.expected, b.sd,
       CASE WHEN b.sd > 0.0
            THEN {rnd_sql('(h.n_events - b.expected) / b.sd', 6)} END AS zscore,
       CAST(ABS(COALESCE(CASE WHEN b.sd > 0.0
            THEN {rnd_sql('(h.n_events - b.expected) / b.sd', 6)} END, 0.0))
            > {SEASONAL_Z} AS INTEGER) AS is_anomaly
FROM hourly h
JOIN baseline b
  ON h.event_type = b.event_type
 AND CAST(EXTRACT(hour FROM h.bucket) AS BIGINT) = b.hour_of_day""",
)


# --------------------------------------------------------------------------
# incremental-rollup mergeability proof
# --------------------------------------------------------------------------

#: days after the corpus min(ts) where the old/delta split falls
INCR_SPLIT_DAYS = 14


@model("events_incremental_rollup_check", layer="operators", materialization="view")
def events_incremental_rollup_check(ctx):
    """Partial-aggregation mergeability proof as a query (the ordinary-agg
    companion to events_hll_merge_check): splitting the corpus at a cutoff,
    aggregating each half, and MERGING the partials must equal aggregating
    the whole — per event_type, for count / exact-decimal sum / min / max.
    This is the algebraic property every incremental warehouse rollup and
    every Spark map-side partial aggregation relies on; materializing it as
    a hash-checked query pins it against regression (e.g. someone 'fixing'
    dsum to round partials early would break exact associativity — and this
    query).

    The intermediate sums stay DECIMAL end-to-end and only the MERGED
    result casts to double: rounding partials before merging is exactly the
    bug this proof exists to catch. Scale: three aggregations over one
    scan's worth of data, all map-side combinable; the cutoff is
    min(ts) + INCR_SPLIT_DAYS computed once and broadcast."""
    e = ctx.source("events")
    cutoff = e.agg(
        F.date_add(F.to_date(F.min("ts")), INCR_SPLIT_DAYS).alias("cut")
    )
    t = e.crossJoin(F.broadcast(cutoff)).withColumn(
        "is_old", F.to_date("ts") < F.col("cut")
    )
    acc = F.col("value").cast("decimal(27,6)")
    partials = t.groupBy("event_type", "is_old").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(acc).alias("s"),
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
    )
    merged = partials.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("n_merged"),
        F.sum("s").cast("double").alias("total_merged"),
        F.min("mn").alias("min_merged"),
        F.max("mx").alias("max_merged"),
    )
    direct = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_direct"),
        F.sum(acc).cast("double").alias("total_direct"),
        F.min("value").alias("min_direct"),
        F.max("value").alias("max_direct"),
    )
    return (
        direct.join(merged, "event_type")
        .select(
            "event_type",
            "n_direct",
            "n_merged",
            "total_direct",
            "total_merged",
            "min_direct",
            "min_merged",
            "max_direct",
            "max_merged",
            (
                (F.col("n_direct") == F.col("n_merged"))
                & (F.col("total_direct") == F.col("total_merged"))
                & (F.col("min_direct") == F.col("min_merged"))
                & (F.col("max_direct") == F.col("max_merged"))
            ).alias("rollup_consistent"),
        )
    )


oracle(
    "events_incremental_rollup_check",
    ("events",),
    f"""WITH cut AS (
    SELECT CAST(MIN(ts) AS DATE) + {INCR_SPLIT_DAYS} AS cut FROM events
),
partials AS (
    SELECT event_type,
           CAST(ts AS DATE) < (SELECT cut FROM cut) AS is_old,
           COUNT(*) AS n,
           SUM(CAST(value AS DECIMAL(27,6))) AS s,
           MIN(value) AS mn,
           MAX(value) AS mx
    FROM events
    GROUP BY 1, 2
),
merged AS (
    SELECT event_type,
           CAST(SUM(n) AS BIGINT) AS n_merged,
           CAST(SUM(s) AS DOUBLE) AS total_merged,
           MIN(mn) AS min_merged,
           MAX(mx) AS max_merged
    FROM partials GROUP BY 1
),
direct AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_direct,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS total_direct,
           MIN(value) AS min_direct,
           MAX(value) AS max_direct
    FROM events GROUP BY 1
)
SELECT
    d.event_type,
    d.n_direct, m.n_merged,
    d.total_direct, m.total_merged,
    d.min_direct, m.min_merged,
    d.max_direct, m.max_merged,
    (d.n_direct = m.n_merged
     AND d.total_direct = m.total_merged
     AND d.min_direct = m.min_merged
     AND d.max_direct = m.max_merged) AS rollup_consistent
FROM direct d JOIN merged m ON d.event_type = m.event_type""",
)


# --------------------------------------------------------------------------
# last-touch attribution
# --------------------------------------------------------------------------

ATTR_WINDOW_HOURS = 168  # 7 days
ATTR_TOUCH_TYPES = ("click", "signup", "view")


@model("events_attribution", layer="operators", materialization="view")
def events_attribution(ctx):
    """Last-touch revenue attribution: every purchase credits the most
    recent preceding touch event (click/signup/view) by the same user
    within ATTR_WINDOW_HOURS; purchases with no qualifying touch land in
    the 'unattributed' bucket. The output is the per-channel report a
    marketing/metrics stack derives from raw event streams.

    Join-free (the as-of-join family, operators/temporal.py): touches and
    purchases union into one frame, ONE shuffle on user_id, and
    ``last(..., ignorenulls)`` over the ordered window carries the latest
    touch type/time onto each purchase row. Ties at identical timestamps
    resolve touch-before-purchase then by event_id — deterministic on both
    engines."""
    from pyspark.sql.window import Window

    e = ctx.source("events")
    touches = e.filter(F.col("event_type").isin(*ATTR_TOUCH_TYPES)).select(
        "user_id",
        "ts",
        "event_id",
        F.lit(1).alias("is_touch"),
        F.col("event_type").alias("touch_type"),
        F.lit(None).cast("double").alias("purchase_value"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        "event_id",
        F.lit(0).alias("is_touch"),
        F.lit(None).cast("string").alias("touch_type"),
        F.col("value").alias("purchase_value"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("is_touch").desc(), F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    touch_ts = F.when(F.col("is_touch") == 1, F.col("ts"))
    tagged = (
        touches.unionByName(purchases)
        .withColumn(
            "last_touch_type",
            F.last("touch_type", ignorenulls=True).over(w),
        )
        .withColumn("last_touch_ts", F.last(touch_ts, ignorenulls=True).over(w))
    )
    mins = (
        F.col("ts").cast("double") - F.col("last_touch_ts").cast("double")
    ) / 60.0
    in_window = F.col("last_touch_ts").isNotNull() & (
        mins <= ATTR_WINDOW_HOURS * 60.0
    )
    return (
        tagged.filter(F.col("is_touch") == 0)
        .select(
            F.when(in_window, F.col("last_touch_type"))
            .otherwise(F.lit("unattributed"))
            .alias("touch_type"),
            "purchase_value",
            F.when(in_window, mins).alias("mins_since_touch"),
        )
        .groupBy("touch_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            rnd(dsum(F.col("purchase_value")), 4).alias("attributed_value"),
            rnd(
                dsum(F.col("mins_since_touch"))
                / F.count("mins_since_touch"),
                4,
            ).alias("avg_mins_since_touch"),
        )
    )


oracle(
    "events_attribution",
    ("events",),
    f"""WITH u AS (
    SELECT user_id, ts, event_id, 1 AS is_touch,
           event_type AS touch_type, CAST(NULL AS DOUBLE) AS purchase_value
    FROM events WHERE event_type IN ('click', 'signup', 'view')
    UNION ALL
    SELECT user_id, ts, event_id, 0, NULL, value
    FROM events WHERE event_type = 'purchase'
),
tagged AS (
    SELECT *,
        last_value(touch_type IGNORE NULLS) OVER w AS last_touch_type,
        last_value(CASE WHEN is_touch = 1 THEN ts END IGNORE NULLS)
            OVER w AS last_touch_ts
    FROM u
    WINDOW w AS (
        PARTITION BY user_id
        ORDER BY ts, is_touch DESC, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    )
),
p AS (
    SELECT
        CASE WHEN last_touch_ts IS NOT NULL
                  AND (epoch(ts) - epoch(last_touch_ts)) / 60.0
                      <= {ATTR_WINDOW_HOURS * 60.0}
             THEN last_touch_type ELSE 'unattributed' END AS touch_type,
        purchase_value,
        CASE WHEN last_touch_ts IS NOT NULL
                  AND (epoch(ts) - epoch(last_touch_ts)) / 60.0
                      <= {ATTR_WINDOW_HOURS * 60.0}
             THEN (epoch(ts) - epoch(last_touch_ts)) / 60.0 END
            AS mins_since_touch
    FROM tagged WHERE is_touch = 0
)
SELECT
    touch_type,
    CAST(COUNT(*) AS BIGINT) AS n_purchases,
    {rnd_sql(dsum_sql('purchase_value'), 4)} AS attributed_value,
    {rnd_sql(dsum_sql('mins_since_touch') + ' / COUNT(mins_since_touch)', 4)}
        AS avg_mins_since_touch
FROM p
GROUP BY 1""",
)


# --------------------------------------------------------------------------
# robust (MAD) outlier scoring
# --------------------------------------------------------------------------

MAD_Z_CUTOFF = 3.5  # Iglewicz-Hoaglin modified z-score threshold
MAD_CONSISTENCY = 0.6745  # Phi^-1(0.75): scales MAD to sigma under normality


@model("events_value_mad_outliers", layer="operators", materialization="view")
def events_value_mad_outliers(ctx):
    """Robust outlier report per event type: median / MAD (median absolute
    deviation) and the count of modified-z outliers
    (|0.6745 * (x - med) / mad| > 3.5, Iglewicz-Hoaglin). The robust
    companion to the rolling z-score gate — a single fat-fingered value
    shifts a mean/stddev gate but not this one.

    Two exact-percentile passes (median, then median of absolute
    deviations), each quantized rnd 6 BEFORE the next arithmetic step so
    both engines carry identical doubles; group medians broadcast back.
    Scale: exact per-group percentiles sort within groups only; at
    extreme group cardinality swap in approx_percentile, same contract."""
    e = ctx.source("events").select("event_type", "value")
    med = e.groupBy("event_type").agg(
        rnd(F.percentile("value", F.lit(0.5)), 6).alias("med")
    )
    dev = e.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.first("med").alias("med"),
        rnd(F.percentile("adev", F.lit(0.5)), 6).alias("mad"),
    )
    z = rnd(
        F.lit(MAD_CONSISTENCY)
        * (F.col("value") - F.col("med"))
        / F.col("mad"),
        6,
    )
    scored = (
        e.join(F.broadcast(mad), "event_type")
        .withColumn(
            "z", F.when(F.col("mad") > 0, z)
        )
    )
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.first("med").alias("median_value"),
        F.first("mad").alias("mad_value"),
        F.sum(
            F.when(F.abs(F.col("z")) > MAD_Z_CUTOFF, 1).otherwise(0)
        )
        .cast("long")
        .alias("n_outliers"),
        rnd(F.max(F.abs(F.col("z"))), 6).alias("max_abs_z"),
    )


oracle(
    "events_value_mad_outliers",
    ("events",),
    f"""WITH med AS (
    SELECT event_type,
           {rnd_sql('percentile_cont(0.5) WITHIN GROUP (ORDER BY value)', 6)}
               AS med
    FROM events GROUP BY 1
),
dev AS (
    SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev
    FROM events e JOIN med m USING (event_type)
),
mad AS (
    SELECT event_type, ANY_VALUE(med) AS med,
           {rnd_sql('percentile_cont(0.5) WITHIN GROUP (ORDER BY adev)', 6)}
               AS mad
    FROM dev GROUP BY 1
),
scored AS (
    SELECT e.event_type, e.value, m.med, m.mad,
           CASE WHEN m.mad > 0 THEN
               {rnd_sql(f'{MAD_CONSISTENCY} * (e.value - m.med) / m.mad', 6)}
           END AS z
    FROM events e JOIN mad m USING (event_type)
)
SELECT
    event_type,
    CAST(COUNT(*) AS BIGINT) AS n_events,
    ANY_VALUE(med) AS median_value,
    ANY_VALUE(mad) AS mad_value,
    CAST(SUM(CASE WHEN abs(z) > {MAD_Z_CUTOFF} THEN 1 ELSE 0 END) AS BIGINT)
        AS n_outliers,
    {rnd_sql('MAX(abs(z))', 6)} AS max_abs_z
FROM scored
GROUP BY 1""",
)


# --------------------------------------------------------------------------
# population-stability drift monitor (PSI)
# --------------------------------------------------------------------------

#: PSI configuration: fixed equal-width bins (portable across engines and
#: batches — quantile edges would drift with the data), Laplace smoothing,
#: and the conventional 0.1 "investigate" threshold.
PSI_SPLIT = "2024-01-15"
PSI_N_BINS = 10
PSI_BIN_WIDTH = 50.0
PSI_EPS = 0.5
PSI_DRIFT_THRESHOLD = 0.1


@model("events_value_psi", layer="operators", materialization="view")
def events_value_psi(ctx):
    """Population-stability-index drift monitor: per event type, compare
    the value distribution before vs after PSI_SPLIT over fixed
    equal-width bins — the standard between-batch data-quality gate a
    production feed runs before letting a new batch into training.
    Smoothed with PSI_EPS so empty bins stay finite; every bin
    contributes (including bins empty on both sides — with unequal totals
    their smoothed frequencies differ, which is part of the statistic).

    Determinism: per-bin PSI terms are 9-dp quantized then exact-decimal
    summed, so the 10-term sum is accumulation-order-free. One scan, one
    (type, period, bin) aggregate; the 10×type grid is generated, not
    scanned."""
    from dbt_tpch_spark.functions import dsum

    e = ctx.source("events")
    # clamp at BOTH ends: without the greatest(), a negative value bins to
    # -1, falls off the generated 0..N-1 grid, and silently vanishes from
    # bin counts AND period totals (the drift monitor would ignore
    # negative-value mass)
    bin_col = F.greatest(
        F.least(
            F.floor(F.col("value") / PSI_BIN_WIDTH).cast("long"),
            F.lit(PSI_N_BINS - 1),
        ),
        F.lit(0).cast("long"),
    )
    period = F.when(
        F.col("ts") < F.to_timestamp(F.lit(PSI_SPLIT)), "base"
    ).otherwise("cur")
    counts = (
        e.select("event_type", period.alias("period"), bin_col.alias("bin"))
        .groupBy("event_type", "bin")
        .agg(
            F.sum(F.when(F.col("period") == "base", 1).otherwise(0))
            .cast("long")
            .alias("n_base_bin"),
            F.sum(F.when(F.col("period") == "cur", 1).otherwise(0))
            .cast("long")
            .alias("n_cur_bin"),
        )
    )
    grid = (
        e.select("event_type")
        .distinct()
        .crossJoin(
            ctx.spark.range(PSI_N_BINS).select(F.col("id").alias("bin"))
        )
    )
    full = grid.join(counts, ["event_type", "bin"], "left").select(
        "event_type",
        "bin",
        F.coalesce("n_base_bin", F.lit(0)).alias("nb"),
        F.coalesce("n_cur_bin", F.lit(0)).alias("nc"),
    )
    totals = full.groupBy("event_type").agg(
        F.sum("nb").cast("long").alias("n_base"),
        F.sum("nc").cast("long").alias("n_cur"),
    )
    j = full.join(F.broadcast(totals), "event_type")
    pb = (F.col("nb") + PSI_EPS) / (
        F.col("n_base") + PSI_N_BINS * PSI_EPS
    )
    pc = (F.col("nc") + PSI_EPS) / (F.col("n_cur") + PSI_N_BINS * PSI_EPS)
    term = rnd((pc - pb) * F.log(pc / pb), 9)
    return (
        j.withColumn("term", term)
        .groupBy("event_type")
        .agg(
            F.max("n_base").alias("n_base"),
            F.max("n_cur").alias("n_cur"),
            rnd(dsum(F.col("term")), 6).alias("psi"),
        )
        .select(
            "event_type",
            "n_base",
            "n_cur",
            "psi",
            (F.col("psi") > PSI_DRIFT_THRESHOLD).alias("drift_flag"),
        )
    )


def _psi_oracle() -> str:
    from dbt_tpch_spark.models.oracle import dsum_sql

    # CAST to DOUBLE before dividing: bare decimal literals would keep
    # DuckDB in exact-decimal arithmetic up to the ln() while Spark runs
    # IEEE doubles throughout — a latent ULP divergence under corpus drift
    # (the round-2 EWMA lesson)
    pb = (
        f"(CAST(nb + {PSI_EPS} AS DOUBLE)"
        f" / CAST(n_base + {PSI_N_BINS} * {PSI_EPS} AS DOUBLE))"
    )
    pc = (
        f"(CAST(nc + {PSI_EPS} AS DOUBLE)"
        f" / CAST(n_cur + {PSI_N_BINS} * {PSI_EPS} AS DOUBLE))"
    )
    term = rnd_sql(f"({pc} - {pb}) * ln({pc} / {pb})", 9)
    return f"""WITH binned AS (
    SELECT event_type,
           CASE WHEN ts < TIMESTAMP '{PSI_SPLIT}' THEN 'base' ELSE 'cur' END
               AS period,
           greatest(least(CAST(floor(value / {PSI_BIN_WIDTH}) AS BIGINT),
                 {PSI_N_BINS - 1}), 0) AS bin
    FROM events
),
counts AS (
    SELECT event_type, bin,
           CAST(SUM(CASE WHEN period = 'base' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_base_bin,
           CAST(SUM(CASE WHEN period = 'cur' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_cur_bin
    FROM binned GROUP BY 1, 2
),
grid AS (
    SELECT t.event_type, b.bin
    FROM (SELECT DISTINCT event_type FROM events) t
    CROSS JOIN (SELECT UNNEST(range(0, {PSI_N_BINS})) AS bin) b
),
full_grid AS (
    SELECT g.event_type, g.bin,
           COALESCE(c.n_base_bin, 0) AS nb,
           COALESCE(c.n_cur_bin, 0) AS nc
    FROM grid g LEFT JOIN counts c
      ON g.event_type = c.event_type AND g.bin = c.bin
),
totals AS (
    SELECT event_type,
           CAST(SUM(nb) AS BIGINT) AS n_base,
           CAST(SUM(nc) AS BIGINT) AS n_cur
    FROM full_grid GROUP BY 1
),
terms AS (
    SELECT f.event_type, t.n_base, t.n_cur, {term} AS term
    FROM full_grid f JOIN totals t ON f.event_type = t.event_type
)
SELECT
    event_type,
    MAX(n_base) AS n_base,
    MAX(n_cur) AS n_cur,
    {rnd_sql(dsum_sql('term'), 6)} AS psi,
    {rnd_sql(dsum_sql('term'), 6)} > {PSI_DRIFT_THRESHOLD} AS drift_flag
FROM terms
GROUP BY 1""";


oracle("events_value_psi", ("events",), _psi_oracle())


@model("events_attribution_multitouch", layer="operators", materialization="view")
def events_attribution_multitouch(ctx):
    """Linear multi-touch attribution: every purchase splits its value
    EQUALLY across all of the user's touch events (click/signup/view)
    within ATTR_WINDOW_HOURS before it — the companion report to
    last-touch `events_attribution`, measuring how much each channel's
    credit changes when intermediate touches count.

    Scale path: the touch gather is the bucketed range join from
    events_range_context (bucket width == window, each purchase probes
    two buckets — an equi-join, never a theta NLJ); per-purchase credit
    is value/n with the n from one aggregate; per-credit amounts are
    9-dp quantized then exact-decimal summed per channel."""
    from dbt_tpch_spark.functions import dsum

    window_us = int(ATTR_WINDOW_HOURS * 3600) * 1_000_000
    e = ctx.source("events")
    touches = e.filter(F.col("event_type").isin(*ATTR_TOUCH_TYPES)).select(
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("t_ts"),
        F.col("event_type").alias("touch_type"),
        F.expr(f"unix_micros(ts) div {window_us}").alias("bucket"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("p_value"),
    )
    probes = purchases.withColumn(
        "bucket",
        F.explode(
            F.array(
                F.expr(f"unix_micros(p_ts) div {window_us}") - 1,
                F.expr(f"unix_micros(p_ts) div {window_us}"),
            )
        ),
    )
    matched = probes.join(
        touches,
        (probes.p_user == touches.t_user) & (probes.bucket == touches.bucket),
    ).filter(
        (F.expr("unix_micros(t_ts)") <= F.expr("unix_micros(p_ts)"))
        & (
            F.expr("unix_micros(t_ts)")
            > F.expr("unix_micros(p_ts)") - F.lit(window_us)
        )
    )
    per_purchase = matched.groupBy("p_id").agg(
        F.count(F.lit(1)).alias("n_touches")
    )
    credited = (
        matched.join(per_purchase, "p_id")
        .withColumn("credit", rnd(F.col("p_value") / F.col("n_touches"), 9))
        .groupBy("touch_type")
        .agg(
            F.countDistinct("p_id").cast("long").alias("n_purchases"),
            F.count(F.lit(1)).cast("long").alias("n_touch_credits"),
            rnd(dsum(F.col("credit")), 6).alias("credited_value"),
        )
    )
    unattributed = (
        purchases.join(per_purchase, purchases.p_id == per_purchase.p_id, "left_anti")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            rnd(dsum(F.col("p_value")), 6).alias("credited_value"),
        )
        .select(
            F.lit("unattributed").alias("touch_type"),
            "n_purchases",
            F.lit(0).cast("long").alias("n_touch_credits"),
            "credited_value",
        )
        .filter(F.col("n_purchases") > 0)
    )
    return credited.unionByName(unattributed)


def _multitouch_oracle() -> str:
    window_us = int(ATTR_WINDOW_HOURS * 3600) * 1_000_000
    return f"""WITH touches AS (
    SELECT user_id AS t_user, ts AS t_ts, event_type AS touch_type
    FROM events WHERE event_type IN ({", ".join(f"'{t}'" for t in ATTR_TOUCH_TYPES)})
),
purchases AS (
    SELECT event_id AS p_id, user_id AS p_user, ts AS p_ts, value AS p_value
    FROM events WHERE event_type = 'purchase'
),
matched AS (
    SELECT p.p_id, p.p_value, t.touch_type
    FROM purchases p
    JOIN touches t
      ON t.t_user = p.p_user
     AND epoch_us(t.t_ts) <= epoch_us(p.p_ts)
     AND epoch_us(t.t_ts) > epoch_us(p.p_ts) - {window_us}
),
per_purchase AS (
    SELECT p_id, COUNT(*) AS n_touches FROM matched GROUP BY 1
),
credited AS (
    SELECT
        m.touch_type,
        CAST(COUNT(DISTINCT m.p_id) AS BIGINT) AS n_purchases,
        CAST(COUNT(*) AS BIGINT) AS n_touch_credits,
        {rnd_sql(dsum_sql(rnd_sql('m.p_value / pp.n_touches', 9)), 6)}
            AS credited_value
    FROM matched m JOIN per_purchase pp ON m.p_id = pp.p_id
    GROUP BY 1
),
unattributed AS (
    SELECT
        'unattributed' AS touch_type,
        CAST(COUNT(*) AS BIGINT) AS n_purchases,
        CAST(0 AS BIGINT) AS n_touch_credits,
        {rnd_sql(dsum_sql('p.p_value'), 6)} AS credited_value
    FROM purchases p
    WHERE p.p_id NOT IN (SELECT p_id FROM per_purchase)
    HAVING COUNT(*) > 0
)
SELECT * FROM credited
UNION ALL
SELECT * FROM unattributed"""


oracle("events_attribution_multitouch", ("events",), _multitouch_oracle())


#: bot heuristics (thresholds sized to the synthetic corpus so both
#: branches exercise; a real feed raises them)
BOT_MAX_PER_MIN = 2
BOT_MAX_TOTAL = 80


@model("user_bot_score", layer="operators", materialization="view")
def user_bot_score(ctx):
    """Rate-based bot/automation scoring per user — the log-cleaning gate
    run before behavioral events enter a training corpus: total volume,
    active-minute count, burstiest minute, mean events per active minute,
    and the flag (burst >= BOT_MAX_PER_MIN or volume >= BOT_MAX_TOTAL).

    Two aggregates (user×minute then user): the frame repartitions on
    user_id once up front — hash(user_id) satisfies BOTH clusterings by
    the subset rule (a partitioning on a subset of the grouping keys
    co-locates every group), so a single exchange feeds the whole
    ladder."""
    n_part = int(ctx.spark.conf.get("spark.sql.shuffle.partitions", "32"))
    e = ctx.source("events")
    per_min = (
        e.select("user_id", F.date_trunc("minute", F.col("ts")).alias("m"))
        .repartition(n_part, "user_id")
        .groupBy("user_id", "m")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    agg = per_min.groupBy("user_id").agg(
        F.sum("n").cast("long").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("n_active_minutes"),
        F.max("n").cast("long").alias("max_per_minute"),
    )
    epm = F.col("n_events") / F.col("n_active_minutes").cast("double")
    return agg.select(
        "user_id",
        "n_events",
        "n_active_minutes",
        "max_per_minute",
        rnd(epm, 6).alias("events_per_active_minute"),
        (
            (F.col("max_per_minute") >= BOT_MAX_PER_MIN)
            | (F.col("n_events") >= BOT_MAX_TOTAL)
        ).alias("bot_flag"),
    )


oracle(
    "user_bot_score",
    ("events",),
    f"""WITH per_min AS (
    SELECT user_id, date_trunc('minute', ts) AS m,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
),
agg AS (
    SELECT user_id,
           CAST(SUM(n) AS BIGINT) AS n_events,
           CAST(COUNT(*) AS BIGINT) AS n_active_minutes,
           CAST(MAX(n) AS BIGINT) AS max_per_minute
    FROM per_min GROUP BY 1
)
SELECT
    user_id,
    n_events,
    n_active_minutes,
    max_per_minute,
    {rnd_sql('n_events / CAST(n_active_minutes AS DOUBLE)', 6)}
        AS events_per_active_minute,
    (max_per_minute >= {BOT_MAX_PER_MIN} OR n_events >= {BOT_MAX_TOTAL})
        AS bot_flag
FROM agg""",
)


@model("events_dau_wau", layer="operators", materialization="view")
def events_dau_wau(ctx):
    """Exact DAU / trailing-7-day WAU / stickiness per day — the standard
    engagement ladder. Exact rolling DISTINCT cannot be merged from daily
    partials, so the scale trick is contribute-to-window: each (user, day)
    activity row explodes into the 7 target days it supports, and WAU is
    a plain distinct count per target day — one bounded ×7 fan-out
    instead of a 7-way self-join or an approximate sketch (the HLL path
    exists separately when approximation is acceptable).

    Days are midnight timestamps (repo date convention). Only days with
    activity emit rows; trailing windows at the corpus start are
    naturally partial."""
    e = ctx.source("events")
    ud = (
        e.select(
            "user_id", F.date_trunc("day", F.col("ts")).alias("day")
        ).distinct()
    )
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).cast("long").alias("dau"))
    contrib = ud.select(
        "user_id",
        F.explode(
            F.expr("transform(sequence(0, 6), i -> timestampadd(DAY, i, day))")
        ).alias("target_day"),
    ).distinct()
    wau = contrib.groupBy("target_day").agg(
        F.count(F.lit(1)).cast("long").alias("wau")
    )
    return (
        dau.join(wau, dau.day == wau.target_day)
        .select(
            "day",
            "dau",
            "wau",
            rnd(F.col("dau") / F.col("wau").cast("double"), 6).alias(
                "stickiness"
            ),
        )
    )


oracle(
    "events_dau_wau",
    ("events",),
    f"""WITH ud AS (
    SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
),
dau AS (
    SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY 1
),
wau AS (
    SELECT d.day,
           CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS wau
    FROM (SELECT DISTINCT day FROM ud) d
    JOIN ud u
      ON u.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
    GROUP BY 1
)
SELECT
    dau.day,
    dau.dau,
    wau.wau,
    {rnd_sql('dau.dau / CAST(wau.wau AS DOUBLE)', 6)} AS stickiness
FROM dau JOIN wau ON dau.day = wau.day""",
)


# --------------------------------------------------------------------------
# changepoint detection: single best mean-shift split per series
# --------------------------------------------------------------------------


@model("events_mean_shift", layer="operators", materialization="view")
def events_mean_shift(ctx):
    """Changepoint detection per event type: the hourly-bucket split point
    that maximizes |mean(before) - mean(after)| — the binary-segmentation
    primitive a feed-quality monitor runs to localize WHEN a metric
    shifted (PSI above says IF the distribution drifted; this says when
    the level moved).

    Scale: raw events collapse to (type, hour) buckets first (map-side
    partial agg), so every window below runs at bucket grain — bounded by
    time span, not SF — partitioned by event_type. Evaluating all N-1
    candidate splits is two running sums + one full-frame sum over the
    same sort; no self-join against the candidate set.

    Determinism: bucket sums and their running/total sums accumulate in
    exact decimal (dsum/dsum_over); the split statistic is identical IEEE
    double arithmetic on identical operands; ties on the statistic break
    to the earliest bucket."""
    e = ctx.source("events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        dsum(F.col("value")).alias("hr_sum"),
    )
    w = Window.partitionBy("event_type").orderBy("bucket")
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy("event_type")
    from dbt_tpch_spark.functions import dsum_over

    scored = hourly.withColumns(
        {
            "cum_n": F.sum("n_events").over(w_run).cast("long"),
            "cum_s": dsum_over(F.col("hr_sum"), w_run),
            "tot_n": F.sum("n_events").over(w_all).cast("long"),
            "tot_s": dsum_over(F.col("hr_sum"), w_all),
            "idx": F.row_number().over(w),
            "n_buckets": F.count(F.lit(1)).over(w_all),
        }
    ).filter(F.col("idx") < F.col("n_buckets"))  # right side must be non-empty
    mean_l = F.col("cum_s") / F.col("cum_n")
    mean_r = (F.col("tot_s") - F.col("cum_s")) / (F.col("tot_n") - F.col("cum_n"))
    shift = F.abs(mean_l - mean_r)
    ranked = scored.withColumn("shift_mag", shift).withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(
                F.col("shift_mag").desc(), F.col("bucket")
            )
        ),
    )
    return ranked.filter(F.col("rk") == 1).select(
        "event_type",
        F.col("bucket").alias("split_after_bucket"),
        F.col("cum_n").alias("n_before"),
        (F.col("tot_n") - F.col("cum_n")).alias("n_after"),
        rnd(mean_l, 6).alias("mean_before"),
        rnd(mean_r, 6).alias("mean_after"),
        rnd(F.col("shift_mag"), 6).alias("mean_shift"),
    )


_MS_OVER = "PARTITION BY event_type ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
_MS_ALL = "PARTITION BY event_type"
oracle(
    "events_mean_shift",
    ("events",),
    f"""WITH hourly AS (
    SELECT event_type, date_trunc('hour', ts) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {dsum_sql('value')} AS hr_sum
    FROM events
    GROUP BY 1, 2
),
scored AS (
    SELECT *,
        CAST(SUM(n_events) OVER ({_MS_OVER}) AS BIGINT) AS cum_n,
        {wsum_sql('hr_sum', _MS_OVER)} AS cum_s,
        CAST(SUM(n_events) OVER ({_MS_ALL}) AS BIGINT) AS tot_n,
        {wsum_sql('hr_sum', _MS_ALL)} AS tot_s,
        ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY bucket) AS idx,
        COUNT(*) OVER ({_MS_ALL}) AS n_buckets
    FROM hourly
),
cand AS (
    SELECT *,
        ABS(cum_s / cum_n - (tot_s - cum_s) / (tot_n - cum_n)) AS shift_mag
    FROM scored WHERE idx < n_buckets
),
best AS (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY event_type ORDER BY shift_mag DESC, bucket) AS rk
    FROM cand
)
SELECT
    event_type,
    bucket AS split_after_bucket,
    cum_n AS n_before,
    tot_n - cum_n AS n_after,
    {rnd_sql('cum_s / cum_n', 6)} AS mean_before,
    {rnd_sql('(tot_s - cum_s) / (tot_n - cum_n)', 6)} AS mean_after,
    {rnd_sql('shift_mag', 6)} AS mean_shift
FROM best WHERE rk = 1""",
)


# --------------------------------------------------------------------------
# autocorrelation function of the daily revenue series
# --------------------------------------------------------------------------

#: lags (in days) reported by the ACF
ACF_MAX_LAG = 7


@model("daily_revenue_acf", layer="operators", materialization="view")
def daily_revenue_acf(ctx):
    """Autocorrelation of daily order revenue at lags 1..ACF_MAX_LAG days —
    the seasonality detector that tells a forecaster which lag features
    matter (a weekly cycle shows as a lag-7 peak) and a data pipeline
    whether its daily volumes are i.i.d. or trending.

    Lag pairing is a DATE-ARITHMETIC self-join (day = day + lag), not a
    row-lag window, so missing days pair with nothing instead of silently
    pairing with the wrong predecessor — correct on gappy series with no
    gap-fill pass. The Pearson correlation per lag uses one-pass exact-
    decimal moment sums over the paired frame (the lineitem_corr_matrix
    convention), so both engines accumulate identically.

    Scale: the series frame is day-grain (bounded by the calendar — a
    few thousand rows per century); everything after the one fact
    aggregation is arithmetic on that bounded frame."""
    o = ctx.source("orders")
    series = (
        o.groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(dsum(F.col("o_totalprice")).alias("rev"))
        .transform(barrier)
    )
    lags = ctx.spark.range(1, ACF_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    lagged = series.select(
        F.col("day").alias("lday"), F.col("rev").alias("lrev")
    )
    pairs = (
        series.crossJoin(F.broadcast(lags))
        .join(
            lagged,
            F.col("lday") == F.date_add(F.col("day"), F.col("lag")),
        )
    )
    n = F.count(F.lit(1)).cast("double")
    sx, sy = dsum(F.col("rev")), dsum(F.col("lrev"))
    sxx = dsum(F.col("rev") * F.col("rev"))
    syy = dsum(F.col("lrev") * F.col("lrev"))
    sxy = dsum(F.col("rev") * F.col("lrev"))
    agg = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        sx.alias("sx"),
        sy.alias("sy"),
        sxx.alias("sxx"),
        syy.alias("syy"),
        sxy.alias("sxy"),
    )
    nn = F.col("n_pairs").cast("double")
    num = nn * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (nn * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (nn * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return agg.select(
        "lag",
        "n_pairs",
        rnd(num / F.nullif(den, F.lit(0.0)), 6).alias("acf"),
    )


oracle(
    "daily_revenue_acf",
    ("orders",),
    f"""WITH series AS (
    SELECT CAST(o_orderdate AS DATE) AS day, {dsum_sql('o_totalprice')} AS rev
    FROM orders GROUP BY 1
),
lags AS (
    SELECT unnest(range(1, {ACF_MAX_LAG + 1})) AS lag
),
pairs AS (
    SELECT l.lag, s.rev, t.rev AS lrev
    FROM series s
    CROSS JOIN lags l
    JOIN series t ON t.day = s.day + CAST(l.lag AS INT)
),
agg AS (
    SELECT
        lag,
        CAST(COUNT(*) AS BIGINT) AS n_pairs,
        {dsum_sql('rev')} AS sx,
        {dsum_sql('lrev')} AS sy,
        {dsum_sql('rev * rev')} AS sxx,
        {dsum_sql('lrev * lrev')} AS syy,
        {dsum_sql('rev * lrev')} AS sxy
    FROM pairs GROUP BY 1
)
SELECT
    CAST(lag AS INT) AS lag,
    n_pairs,
    {rnd_sql(
        '(CAST(n_pairs AS DOUBLE) * sxy - sx * sy)'
        ' / NULLIF(sqrt((CAST(n_pairs AS DOUBLE) * sxx - sx * sx)'
        ' * (CAST(n_pairs AS DOUBLE) * syy - sy * sy)), 0.0)', 6
    )} AS acf
FROM agg""",
)


# --------------------------------------------------------------------------
# Theil-Sen robust trend of the daily revenue series
# --------------------------------------------------------------------------

#: epoch for day numbering (TPC-H order dates start 1992)
TS_EPOCH = "1992-01-01"


@model("daily_revenue_theilsen", layer="operators", materialization="view")
def daily_revenue_theilsen(ctx):
    """Theil-Sen robust trend estimate of daily revenue: the slope is the
    MEDIAN of all pairwise slopes (rev_j - rev_i) / (day_j - day_i), the
    intercept the median residual at the chosen slope — the estimator
    with a 29% breakdown point that one promo-day spike cannot bend the
    way OLS (monthly_revenue_forecast) can. One output row: slope/day,
    annualized trend, intercept, and the pair/day counts.

    Medians are the deterministic LOWER median (rank (n+1)/2 under a
    total tie-broken order) — no averaging, so the chosen value is an
    actual data point and both engines pick the identical row.

    Scale: the series is day-grain — bounded by the CALENDAR, not by SF
    (a century is ~36.5K days) — so the pairwise O(days^2) frame and its
    rank are bounded regardless of corpus size; the one corpus-sized
    operation is the initial day aggregation."""
    o = ctx.source("orders")
    # bounded barrier: the series is day-grain (calendar-bounded, not
    # SF-linear) — register it so the pairwise-slope theta join is seen as
    # a bounded pair stage, not an all-pairs scale killer
    series = barrier(
        o.groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(dsum(F.col("o_totalprice")).alias("rev"))
        .select(
            F.datediff(F.col("day"), F.lit(TS_EPOCH).cast("date")).alias("dn"),
            "rev",
        ),
        bounded=True,
    )
    a = series.withColumnsRenamed({"dn": "dn_i", "rev": "rev_i"})
    b = series.withColumnsRenamed({"dn": "dn_j", "rev": "rev_j"})
    pairs = a.join(b, F.col("dn_i") < F.col("dn_j")).withColumn(
        "slope",
        (F.col("rev_j") - F.col("rev_i"))
        / (F.col("dn_j") - F.col("dn_i")).cast("double"),
    )
    w_s = Window.orderBy("slope", "dn_i", "dn_j")
    np_ = pairs.agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    med_slope = (
        pairs.crossJoin(F.broadcast(np_))
        .withColumn("rk", F.row_number().over(w_s).cast("long"))
        .filter(F.col("rk") == F.floor((F.col("n_pairs") + 1) / F.lit(2)).cast("long"))
        .select("slope", "n_pairs")
    )
    nd = series.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    resid = (
        series.crossJoin(F.broadcast(med_slope))
        .crossJoin(F.broadcast(nd))
        .withColumn("resid", F.col("rev") - F.col("slope") * F.col("dn"))
    )
    w_r = Window.orderBy("resid", "dn")
    return (
        resid.withColumn("rk", F.row_number().over(w_r).cast("long"))
        .filter(F.col("rk") == F.floor((F.col("n_days") + 1) / F.lit(2)).cast("long"))
        .select(
            "n_days",
            "n_pairs",
            rnd(F.col("slope"), 6).alias("slope_per_day"),
            rnd(F.col("slope") * F.lit(365.0), 4).alias("trend_per_year"),
            rnd(F.col("resid"), 4).alias("intercept"),
        )
    )


oracle(
    "daily_revenue_theilsen",
    ("orders",),
    f"""WITH series AS (
    SELECT
        DATEDIFF('day', DATE '{TS_EPOCH}', CAST(o_orderdate AS DATE)) AS dn,
        {dsum_sql('o_totalprice')} AS rev
    FROM orders GROUP BY CAST(o_orderdate AS DATE)
),
pairs AS (
    SELECT a.dn AS dn_i, b.dn AS dn_j,
        (b.rev - a.rev) / CAST(b.dn - a.dn AS DOUBLE) AS slope
    FROM series a JOIN series b ON a.dn < b.dn
),
np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs FROM pairs),
med_slope AS (
    SELECT slope, n_pairs FROM (
        SELECT p.slope, np.n_pairs,
            CAST(ROW_NUMBER() OVER (ORDER BY p.slope, p.dn_i, p.dn_j) AS BIGINT) AS rk
        FROM pairs p CROSS JOIN np
    ) WHERE rk = CAST(floor((n_pairs + 1) / 2.0) AS BIGINT)
),
nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM series),
resid AS (
    SELECT s.dn, m.slope, m.n_pairs, nd.n_days,
        s.rev - m.slope * s.dn AS resid
    FROM series s CROSS JOIN med_slope m CROSS JOIN nd
)
SELECT n_days, n_pairs,
    {rnd_sql('slope', 6)} AS slope_per_day,
    {rnd_sql('slope * 365.0', 4)} AS trend_per_year,
    {rnd_sql('resid', 4)} AS intercept
FROM (
    SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY resid, dn) AS BIGINT) AS rk
    FROM resid
) WHERE rk = CAST(floor((n_days + 1) / 2.0) AS BIGINT)""",
)


# --------------------------------------------------------------------------
# Kaplan-Meier survival: time from first view to first purchase
# --------------------------------------------------------------------------

#: milliseconds per day (integer division makes durations engine-identical)
_MS_PER_DAY = 86_400_000


@model("user_survival_km", layer="operators", materialization="view")
def user_survival_km(ctx):
    """Kaplan-Meier product-limit estimate of time-to-conversion: per
    user, duration in whole days from the first ``view`` to the first
    ``purchase`` at-or-after it, right-CENSORED at the corpus's last
    event for users who never convert — the survival curve no naive
    "average days to purchase over converters only" can replace (that
    estimator is biased low exactly when conversion is slow).

    S(t) = Π_{d≤t, events} (1 − d_t/n_t) computed as exp of a running
    sum of 9-dp-quantized ln(1 − d/n) factors (DECIMAL(30,9)
    accumulation); the d_t = n_t terminal day is handled explicitly on
    both engines (DuckDB ln(0) raises, Spark yields NULL — neither is
    trusted) via a running had-terminal-day flag that pins S to 0.

    Scale: user-grain aggregations (the sessionization shape), then
    everything lives at duration-day grain — bounded by the observation
    span in DAYS, not by corpus size, so the unpartitioned windows are
    over a calendar-bounded frame. Durations are integer epoch-ms
    arithmetic (div), engine-identical."""
    e = ctx.source("events").select(
        "user_id", "event_type", F.expr("unix_millis(ts)").alias("ms")
    )
    t0 = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ms").alias("t0"))
    )
    tp = (
        e.filter(F.col("event_type") == "purchase")
        .join(t0, "user_id")
        .filter(F.col("ms") >= F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ms").alias("t1"))
    )
    obs = e.agg(F.max("ms").alias("tmax"))
    u = (
        t0.join(tp, "user_id", "left")
        .crossJoin(F.broadcast(obs))
        .select(
            F.when(
                F.col("t1").isNotNull(),
                F.expr(f"(t1 - t0) div {_MS_PER_DAY}"),
            )
            .otherwise(F.expr(f"(tmax - t0) div {_MS_PER_DAY}"))
            .alias("dur_day"),
            F.col("t1").isNotNull().alias("observed"),
        )
    )
    pd_ = u.groupBy("dur_day").agg(
        F.sum(F.when(F.col("observed"), 1).otherwise(0))
        .cast("long")
        .alias("d"),
        F.sum(F.when(F.col("observed"), 0).otherwise(1))
        .cast("long")
        .alias("c"),
    )
    w_ord = Window.orderBy("dur_day")
    w_ex = w_ord.rowsBetween(Window.unboundedPreceding, -1)
    w_in = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = w_ord.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    n_total = F.sum(F.col("d") + F.col("c")).over(w_all)
    n_risk = (n_total - F.coalesce(F.sum(F.col("d") + F.col("c")).over(w_ex), F.lit(0))).cast("long")
    r = pd_.withColumn("n_risk", n_risk)
    term = F.when(
        F.col("d") < F.col("n_risk"),
        rnd(
            F.log(
                F.lit(1.0)
                - F.col("d").cast("double") / F.col("n_risk").cast("double")
            ),
            9,
        ),
    )
    dead = F.max(
        F.when(F.col("d") == F.col("n_risk"), 1).otherwise(0)
    ).over(w_in)
    cum = (
        F.sum(term.cast("decimal(30,9)")).over(w_in).cast("double")
    )
    s = r.withColumn("_term", term).withColumn("_dead", dead).withColumn(
        "_cum", cum
    )
    survival = F.when(F.col("_dead") == 1, F.lit(0.0)).otherwise(
        rnd(F.exp(F.coalesce(F.col("_cum"), F.lit(0.0))), 6)
    )
    return s.select(
        "dur_day",
        F.col("n_risk"),
        F.col("d").alias("n_events"),
        F.col("c").alias("n_censored"),
        survival.alias("survival"),
    )


oracle(
    "user_survival_km",
    ("events",),
    f"""WITH e AS (
    SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events
),
t0 AS (
    SELECT user_id, MIN(ms) AS t0 FROM e
    WHERE event_type = 'view' GROUP BY user_id
),
tp AS (
    SELECT e.user_id, MIN(e.ms) AS t1
    FROM e JOIN t0 USING (user_id)
    WHERE e.event_type = 'purchase' AND e.ms >= t0.t0
    GROUP BY e.user_id
),
obs AS (SELECT MAX(ms) AS tmax FROM e),
u AS (
    SELECT
        CASE WHEN tp.t1 IS NOT NULL
             THEN (tp.t1 - t0.t0) // {_MS_PER_DAY}
             ELSE (obs.tmax - t0.t0) // {_MS_PER_DAY} END AS dur_day,
        tp.t1 IS NOT NULL AS observed
    FROM t0 LEFT JOIN tp USING (user_id) CROSS JOIN obs
),
pd AS (
    SELECT dur_day,
        CAST(SUM(CASE WHEN observed THEN 1 ELSE 0 END) AS BIGINT) AS d,
        CAST(SUM(CASE WHEN observed THEN 0 ELSE 1 END) AS BIGINT) AS c
    FROM u GROUP BY dur_day
),
r AS (
    SELECT *,
        CAST(SUM(d + c) OVER () -
             COALESCE(SUM(d + c) OVER (
                 ORDER BY dur_day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS n_risk
    FROM pd
),
s AS (
    SELECT *,
        CASE WHEN d < n_risk THEN {rnd_sql(
            'LN(1.0 - CAST(d AS DOUBLE) / n_risk)', 9
        )} END AS term,
        MAX(CASE WHEN d = n_risk THEN 1 ELSE 0 END) OVER (
            ORDER BY dur_day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead
    FROM r
),
z AS (
    SELECT *,
        CAST(SUM(CAST(term AS DECIMAL(30,9))) OVER (
            ORDER BY dur_day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS DOUBLE) AS cum
    FROM s
)
SELECT dur_day, n_risk,
    d AS n_events,
    c AS n_censored,
    CASE WHEN dead = 1 THEN 0.0
         ELSE {rnd_sql('EXP(COALESCE(cum, 0.0))', 6)} END AS survival
FROM z""",
)


# --------------------------------------------------------------------------
# robust anomaly detection: median/MAD flags on the daily revenue series
# --------------------------------------------------------------------------

#: modified z-score constants (Iglewicz & Hoaglin 1993): 0.6745 rescales
#: MAD to sigma-equivalent units; |z| > 3.5 is the standard outlier cut.
MAD_SCALE = 0.6745
MAD_Z_CUT = 3.5


@model("events_mad_anomaly", layer="operators", materialization="view")
def events_mad_anomaly(ctx):
    """Robust outlier flags on the daily event-revenue series via the
    modified z-score: z = 0.6745 · (x − median) / MAD, flagged at
    |z| > 3.5. Median/MAD (not mean/stddev) so the detector's own
    baseline is not dragged by the anomalies it hunts — the standard
    data-quality tripwire on an ingest pipeline's volume/revenue feed.

    Scale shape: the corpus-size shuffle is the ONE groupBy to day grain
    (map-side partials absorb within-day rows); everything after runs on
    the calendar-bounded daily frame — two exact percentiles reduced to a
    1-row frame that broadcasts back (J7 cross-join-scalar shape, no
    whole-table window). Exact medians are fine here BECAUSE the frame is
    day-grain; on an unbounded series you'd swap in the sampled-quantile
    machinery (events_sampled_quantiles)."""
    e = ctx.source("events")
    # the day-grain frame feeds three consumers (median, MAD, final scoring);
    # checkpoint it so the corpus is scanned/shuffled exactly once (the MI
    # cells-feedstock convention, operators/stats.py)
    daily = (
        e.groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(dsum(F.col("value")).alias("revenue"))
        .transform(barrier)
    )
    med = daily.agg(
        rnd(F.percentile("revenue", F.lit(0.5)), 6).alias("med")
    )
    with_med = daily.crossJoin(F.broadcast(med))
    mad = with_med.agg(
        rnd(
            F.percentile(F.abs(F.col("revenue") - F.col("med")), F.lit(0.5)), 6
        ).alias("mad")
    )
    z = (
        F.lit(MAD_SCALE)
        * (F.col("revenue") - F.col("med"))
        / F.nullif(F.col("mad"), F.lit(0.0))
    )
    return (
        with_med.crossJoin(F.broadcast(mad))
        .withColumn("robust_z", rnd(z, 6))
        .select(
            "day",
            rnd(F.col("revenue"), 6).alias("revenue"),
            "robust_z",
            (F.abs(F.col("robust_z")) > MAD_Z_CUT).alias("is_anomaly"),
        )
    )


oracle(
    "events_mad_anomaly",
    ("events",),
    f"""WITH daily AS (
    SELECT date_trunc('day', ts) AS day, {dsum_sql('value')} AS revenue
    FROM events GROUP BY 1
),
med AS (
    SELECT {rnd_sql('percentile_cont(0.5) WITHIN GROUP (ORDER BY revenue)', 6)} AS med
    FROM daily
),
mad AS (
    SELECT {rnd_sql('percentile_cont(0.5) WITHIN GROUP (ORDER BY abs(revenue - med))', 6)} AS mad
    FROM daily, med
),
scored AS (
    SELECT day, revenue, med, mad,
           {rnd_sql(f'{MAD_SCALE} * (revenue - med) / nullif(mad, 0.0)', 6)} AS robust_z
    FROM daily, med, mad
)
SELECT day,
       {rnd_sql('revenue', 6)} AS revenue,
       robust_z,
       (abs(robust_z) > {MAD_Z_CUT}) AS is_anomaly
FROM scored""",
)


# --------------------------------------------------------------------------
# Watermark lateness profile
# --------------------------------------------------------------------------

#: lateness histogram edges in MICROSECONDS: in-order, <=1 min, <=10 min,
#: <=1 h, >1 h — the bands a watermark policy chooses between.
_LATE_EDGES = ((0, "0_in_order"), (60_000_000, "1_under_1m"),
               (600_000_000, "2_under_10m"), (3_600_000_000, "3_under_1h"))
_LATE_OVER = "4_over_1h"


@model(
    "events_watermark_lateness_profile",
    layer="operators",
    materialization="view",
)
def events_watermark_lateness_profile(ctx):
    """How late does this feed actually arrive? Per event, lateness =
    (max event-time seen at or before it in INGEST order, i.e. event_id)
    minus its own event-time, bucketed into the bands a
    ``withWatermark`` policy chooses between. This is the measurement a
    streaming deployment takes BEFORE sizing its watermark: the
    histogram's tail mass is exactly the data a candidate watermark
    would drop (streaming/windows.py twins use 1 h — this profiles
    whether that holds).

    Scale shape: the running max over ingest order is the tera-sort
    bucketing pattern (functions.range_bucket_expr): range-bucket on
    event_id, per-bucket running max in parallel (window partitioned on
    the bucket), then lift with a <=32-row prefix-max offset frame — the
    only unpartitioned window runs over the bucket-grain aggregate.
    One corpus pass, one bounded broadcast join."""
    from dbt_tpch_spark.functions import range_bucket_expr

    e = ctx.source("events").select(
        "event_id", F.unix_micros(F.col("ts")).alias("us")
    )
    b = range_bucket_expr(e, "event_id", True, 32)
    base = barrier(e.withColumn("_b", b), eager=False)
    w_local = (
        Window.partitionBy("_b")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = base.withColumn("run_us", F.max("us").over(w_local))
    offs = base.groupBy("_b").agg(F.max("us").alias("bmax"))
    w_prev = Window.orderBy("_b").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = offs.select(
        "_b", F.max("bmax").over(w_prev).alias("prev_max")
    )
    late = (
        local.join(F.broadcast(offs), "_b")
        .select(
            (
                F.greatest(
                    F.col("run_us"), F.coalesce(F.col("prev_max"), F.lit(0))
                )
                - F.col("us")
            ).alias("late_us")
        )
    )
    label = F.lit(_LATE_OVER)
    for edge, name in reversed(_LATE_EDGES):
        label = F.when(F.col("late_us") <= F.lit(edge), F.lit(name)).otherwise(
            label
        )
    hist = late.select(label.alias("lateness_band")).groupBy(
        "lateness_band"
    ).agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    total = F.sum("n_events").over(Window.partitionBy())
    return hist.select(
        "lateness_band",
        "n_events",
        rnd(F.col("n_events") / total.cast("double"), 6).alias("pct"),
    )


def _lateness_oracle() -> str:
    cases = " ".join(
        f"WHEN late_us <= {edge} THEN '{name}'"
        for edge, name in _LATE_EDGES
    )
    return f"""WITH base AS (
    SELECT epoch_us(ts) AS us,
           MAX(epoch_us(ts)) OVER (
               ORDER BY event_id ROWS UNBOUNDED PRECEDING
           ) AS run_us
    FROM events
),
late AS (
    SELECT run_us - us AS late_us FROM base
),
hist AS (
    SELECT CASE {cases} ELSE '{_LATE_OVER}' END AS lateness_band,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM late GROUP BY 1
)
SELECT lateness_band, n_events,
       {rnd_sql('CAST(n_events AS DOUBLE) / SUM(n_events) OVER ()', 6)} AS pct
FROM hist"""


oracle(
    "events_watermark_lateness_profile", ("events",), _lateness_oracle()
)


# --------------------------------------------------------------------------
# Open-order backlog: the interval -> delta-event rewrite
# --------------------------------------------------------------------------


@model("orders_backlog_timeseries", layer="operators", materialization="view")
def orders_backlog_timeseries(ctx):
    """Daily open-order backlog: how many orders are placed but not yet
    fully shipped on each day. An order is open on [order day, last
    lineitem ship day) — the naive form is an interval-stabbing join
    (days x orders), O(days·n); the scale form used here decomposes every
    interval into a +1 open / -1 close DELTA EVENT, aggregates to day
    grain, and takes one running sum — O(n) + a window over the
    calendar-bounded day table. This interval->delta rewrite is THE
    pattern for concurrent-intervals analytics (active sessions, open
    connections, WIP inventory) at 100 TB.

    Scale shape: one orders∪lineitem-rollup union at day grain (two
    shuffles), a running sum over the bounded day table (unpartitioned
    window over a calendar-grain aggregate — allowed by the window
    invariant because the frame cannot grow with SF), zero interval
    joins."""
    o = ctx.source("orders").select(
        F.col("o_orderkey").alias("ok"),
        F.date_trunc("day", F.col("o_orderdate")).alias("open_day"),
    )
    close = (
        ctx.source("lineitem")
        .groupBy(F.col("l_orderkey").alias("ok"))
        .agg(F.date_trunc("day", F.max("l_shipdate")).alias("close_day"))
    )
    deltas = o.select(
        F.col("open_day").alias("day"),
        F.lit(1).alias("opened"),
        F.lit(0).alias("closed"),
    ).unionByName(
        close.select(
            F.col("close_day").alias("day"),
            F.lit(0).alias("opened"),
            F.lit(1).alias("closed"),
        )
    )
    daily = deltas.groupBy("day").agg(
        F.sum("opened").cast("long").alias("n_opened"),
        F.sum("closed").cast("long").alias("n_closed"),
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return daily.select(
        "day",
        "n_opened",
        "n_closed",
        F.sum(F.col("n_opened") - F.col("n_closed"))
        .over(w)
        .cast("long")
        .alias("open_backlog"),
    )


oracle(
    "orders_backlog_timeseries",
    ("orders", "lineitem"),
    """WITH close AS (
    SELECT l_orderkey, date_trunc('day', MAX(l_shipdate)) AS close_day
    FROM lineitem GROUP BY 1
),
deltas AS (
    SELECT date_trunc('day', o_orderdate) AS day, 1 AS opened, 0 AS closed
    FROM orders
    UNION ALL
    SELECT close_day AS day, 0 AS opened, 1 AS closed FROM close
),
daily AS (
    SELECT day,
           CAST(SUM(opened) AS BIGINT) AS n_opened,
           CAST(SUM(closed) AS BIGINT) AS n_closed
    FROM deltas GROUP BY 1
)
SELECT day, n_opened, n_closed,
       CAST(SUM(n_opened - n_closed) OVER (
           ORDER BY day ROWS UNBOUNDED PRECEDING
       ) AS BIGINT) AS open_backlog
FROM daily""",
)


# --------------------------------------------------------------------------
# Time-boxed ordered funnel
# --------------------------------------------------------------------------

FUNNEL_BOX_MIN = 60  # max minutes between consecutive funnel steps


@model("events_funnel_1h", layer="operators", materialization="view")
def events_funnel_1h(ctx):
    """Ordered time-boxed funnel signup -> view -> purchase: a user
    converts a step only if it happens AFTER the previous step and within
    FUNNEL_BOX_MIN minutes of it (first-touch per step). One row: users
    entering, reaching each step, and the step/overall conversion rates —
    the product-analytics staple.

    Scale shape: three user-grain aggregations chained by equi-joins on
    user_id (co-partitioned — one shuffle key end to end), no windows, no
    self-join at event grain: each step filters the corpus against the
    previous step's per-user first-touch frame."""
    e = ctx.source("events").select("user_id", "event_type", "ts")
    box = F.expr(f"INTERVAL {FUNNEL_BOX_MIN} MINUTES")
    # each step frame feeds TWO consumers (the next step's join and its
    # own census) — checkpoint the user-grain frames so the corpus scans
    # and step joins run once, not once per consumer
    s1 = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
        .transform(barrier, eager=False)
    )
    s2 = (
        e.filter(F.col("event_type") == "view")
        .join(s1, "user_id")
        .filter((F.col("ts") > F.col("t1")) & (F.col("ts") <= F.col("t1") + box))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
        .transform(barrier, eager=False)
    )
    s3 = (
        e.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter((F.col("ts") > F.col("t2")) & (F.col("ts") <= F.col("t2") + box))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    n1 = s1.agg(F.count(F.lit(1)).cast("long").alias("n_signup"))
    n2 = s2.agg(F.count(F.lit(1)).cast("long").alias("n_view"))
    n3 = s3.agg(F.count(F.lit(1)).cast("long").alias("n_purchase"))
    return (
        n1.crossJoin(n2)
        .crossJoin(n3)
        .select(
            "n_signup",
            "n_view",
            "n_purchase",
            rnd(F.col("n_view") / F.col("n_signup").cast("double"), 6).alias(
                "view_rate"
            ),
            rnd(
                F.col("n_purchase") / F.nullif(F.col("n_view"), F.lit(0)).cast("double"),
                6,
            ).alias("purchase_rate"),
            rnd(
                F.col("n_purchase") / F.col("n_signup").cast("double"), 6
            ).alias("overall_rate"),
        )
    )


oracle(
    "events_funnel_1h",
    ("events",),
    f"""WITH s1 AS (
    SELECT user_id, MIN(ts) AS t1 FROM events
    WHERE event_type = 'signup' GROUP BY 1
),
s2 AS (
    SELECT e.user_id, MIN(e.ts) AS t2
    FROM events e JOIN s1 USING (user_id)
    WHERE e.event_type = 'view'
      AND e.ts > s1.t1 AND e.ts <= s1.t1 + INTERVAL {FUNNEL_BOX_MIN} MINUTES
    GROUP BY 1
),
s3 AS (
    SELECT e.user_id, MIN(e.ts) AS t3
    FROM events e JOIN s2 USING (user_id)
    WHERE e.event_type = 'purchase'
      AND e.ts > s2.t2 AND e.ts <= s2.t2 + INTERVAL {FUNNEL_BOX_MIN} MINUTES
    GROUP BY 1
),
n AS (
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM s1) AS n_signup,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM s2) AS n_view,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM s3) AS n_purchase
)
SELECT n_signup, n_view, n_purchase,
       {rnd_sql('CAST(n_view AS DOUBLE) / n_signup', 6)} AS view_rate,
       {rnd_sql('CAST(n_purchase AS DOUBLE) / NULLIF(n_view, 0)', 6)} AS purchase_rate,
       {rnd_sql('CAST(n_purchase AS DOUBLE) / n_signup', 6)} AS overall_rate
FROM n""",
)


@model(
    "orders_fulfillment_latency", layer="operators", materialization="view"
)
def orders_fulfillment_latency(ctx):
    """Order-to-ship latency distribution per order priority: days from
    order date to FIRST lineitem ship (the customer-visible response
    time) — count, mean, exact p50/p90, plus the share of orders fully
    shipped (last lineitem) within 30 days. The fulfillment-SLA report a
    warehouse runs weekly; the reference's supplier lead-time model needs
    the blocked receipt-date column, so this covers the latency SHAPE on
    the available ship dates.

    Scale shape: one lineitem rollup to order grain, one equi join to
    orders (both shuffle on the order key), one bounded-grain (priority)
    aggregate with exact per-group percentiles — no windows."""
    from dbt_tpch_spark.functions import davg

    ships = ctx.source("lineitem").groupBy(
        F.col("l_orderkey").alias("o_orderkey")
    ).agg(
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
    )
    o = ctx.source("orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lat = o.join(ships, "o_orderkey").select(
        "o_orderpriority",
        F.datediff("first_ship", "o_orderdate").cast("long").alias("d_first"),
        F.datediff("last_ship", "o_orderdate").cast("long").alias("d_last"),
    )
    return (
        lat.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            rnd(davg(F.col("d_first").cast("double")), 6).alias(
                "avg_days_to_first_ship"
            ),
            rnd(F.percentile("d_first", F.lit(0.5)), 6).alias("p50_days"),
            rnd(F.percentile("d_first", F.lit(0.9)), 6).alias("p90_days"),
            rnd(
                F.sum(
                    F.when(F.col("d_last") <= 30, 1).otherwise(0)
                ).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("pct_fully_shipped_30d"),
        )
        .select(
            "o_orderpriority",
            "n_orders",
            "avg_days_to_first_ship",
            "p50_days",
            "p90_days",
            "pct_fully_shipped_30d",
        )
    )


oracle(
    "orders_fulfillment_latency",
    ("orders", "lineitem"),
    f"""WITH ships AS (
    SELECT l_orderkey AS o_orderkey,
           MIN(l_shipdate) AS first_ship,
           MAX(l_shipdate) AS last_ship
    FROM lineitem GROUP BY 1
),
lat AS (
    SELECT o.o_orderpriority,
           CAST(date_diff('day', o.o_orderdate, s.first_ship) AS BIGINT) AS d_first,
           CAST(date_diff('day', o.o_orderdate, s.last_ship) AS BIGINT) AS d_last
    FROM orders o JOIN ships s USING (o_orderkey)
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       {rnd_sql(davg_sql('CAST(d_first AS DOUBLE)'), 6)} AS avg_days_to_first_ship,
       {rnd_sql('percentile_cont(0.5) WITHIN GROUP (ORDER BY d_first)', 6)} AS p50_days,
       {rnd_sql('percentile_cont(0.9) WITHIN GROUP (ORDER BY d_first)', 6)} AS p90_days,
       {rnd_sql('CAST(SUM(CASE WHEN d_last <= 30 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)', 6)} AS pct_fully_shipped_30d
FROM lat GROUP BY 1""",
)


@model("events_retention_triangle", layer="operators", materialization="view")
def events_retention_triangle(ctx):
    """Weekly cohort retention triangle over the event log — the classic
    product-analytics matrix (cohort week x weeks-since-signup ->
    retention pct), the EVENTS twin of the orders-based monthly
    customer_cohort_retention. Cohort = the Monday-truncated week of a
    user's FIRST event; a user is retained at age k if they emitted any
    event in cohort_week + k weeks.

    Scale shape: one user-grain first-event aggregate, one distinct
    (user, week) projection, one equi-join back on user_id, then an
    aggregate at the bounded (weeks x ages) triangle grain — no windows,
    no SF-linear output. At 100 TB the (user, week) distinct is the only
    corpus-scale shuffle and is map-side combinable."""
    e = ctx.source("events").select("user_id", "ts")
    cohort = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    active = e.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("week")
    ).distinct()
    # active is distinct (user, week), so count(*) per cell == distinct users
    grid = (
        active.join(cohort, "user_id")
        .groupBy("cohort_week", "week")
        .agg(F.count(F.lit(1)).cast("long").alias("n_active_users"))
    )
    sizes = cohort.groupBy("cohort_week").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_size")
    )
    return (
        grid.join(sizes, "cohort_week")
        .select(
            "cohort_week",
            (F.datediff(F.col("week"), F.col("cohort_week")) / 7)
            .cast("long")
            .alias("age_weeks"),
            "n_active_users",
            "cohort_size",
            rnd(
                F.col("n_active_users") * 100.0 / F.col("cohort_size"), 2
            ).alias("retention_pct"),
        )
    )


oracle(
    "events_retention_triangle",
    ("events",),
    f"""WITH cohort AS (
    SELECT user_id, DATE_TRUNC('week', MIN(ts)) AS cohort_week
    FROM events GROUP BY 1
),
active AS (
    SELECT DISTINCT user_id, DATE_TRUNC('week', ts) AS week FROM events
),
grid AS (
    SELECT c.cohort_week, a.week, CAST(COUNT(*) AS BIGINT) AS n_active_users
    FROM active a JOIN cohort c ON a.user_id = c.user_id
    GROUP BY 1, 2
),
sizes AS (
    SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS cohort_size
    FROM cohort GROUP BY 1
)
SELECT
    g.cohort_week,
    CAST(DATEDIFF('day', g.cohort_week, g.week) / 7 AS BIGINT) AS age_weeks,
    g.n_active_users,
    s.cohort_size,
    {rnd_sql('g.n_active_users * 100.0 / s.cohort_size', 2)} AS retention_pct
FROM grid g JOIN sizes s ON g.cohort_week = s.cohort_week""",
)


@model("events_type_transitions", layer="operators", materialization="view")
def events_type_transitions(ctx):
    """First-order Markov transition matrix over each user's ordered event
    stream: P(next event type | current event type), with counts — the
    behavioral-model primitive behind next-action prediction and
    anomaly-flow detection (funnels check ONE path; this scores all 5x5).

    Scale shape: one per-user partitioned LAG (parallel — partitioned by
    the shuffle key, never a global window), aggregate at the bounded
    |types|^2 grain, then the row-conditional probabilities from a
    broadcast of the <=|types|-row margin frame."""
    e = ctx.source("events").select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_transitions"))
    )
    margins = pairs.groupBy("prev_type").agg(
        F.sum("n_transitions").cast("long").alias("n_from")
    )
    return pairs.join(F.broadcast(margins), "prev_type").select(
        "prev_type",
        "next_type",
        "n_transitions",
        "n_from",
        rnd(
            F.col("n_transitions").cast("double") / F.col("n_from"), 6
        ).alias("transition_prob"),
    )


oracle(
    "events_type_transitions",
    ("events",),
    f"""WITH ordered AS (
    SELECT user_id, event_type,
           LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type
    FROM events
),
pairs AS (
    SELECT prev_type, event_type AS next_type,
           CAST(COUNT(*) AS BIGINT) AS n_transitions
    FROM ordered WHERE prev_type IS NOT NULL
    GROUP BY 1, 2
),
margins AS (
    SELECT prev_type, CAST(SUM(n_transitions) AS BIGINT) AS n_from
    FROM pairs GROUP BY 1
)
SELECT p.prev_type, p.next_type, p.n_transitions, m.n_from,
       {rnd_sql('CAST(p.n_transitions AS DOUBLE) / m.n_from', 6)} AS transition_prob
FROM pairs p JOIN margins m ON p.prev_type = m.prev_type""",
)
