"""The macro layer: reference Jinja macros re-expressed as Column helpers.

Reference parity:
* ``money()``        <- macros/dt_convert_money.sql:1-3 (``::decimal(16,4)``)
* ``surrogate_key()``<- dbt_utils.generate_surrogate_key (dbt_utils 1.3.3,
                        pinned at package-lock.yml:1-5), call sites
                        models/ods/orders_items.sql:19,
                        models/ods/parts_suppliers.sql:23
* ``housekeeping()`` <- macros/dbt_housekeeping.sql:1-4
* ``days_between``   <- date - date integer-days semantics used at
                        models/intermediate/int_shipping_delays.sql:27-29 etc.

Determinism conventions (why every helper here has a twin in
:mod:`dbt_tpch_spark.models.oracle` that emits the same SQL for DuckDB):

The driver hash-compares Spark results against a DuckDB oracle. Floating
point SUM/AVG are accumulation-order-dependent, so any ``sum(double)`` would
be nondeterministic across engines. Instead every aggregate over a money/
measure column is computed as an **exact DECIMAL sum** (order-independent)
and cast to DOUBLE at the final projection; averages divide the exact sum by
the non-null count in IEEE double arithmetic, which is bit-identical across
engines for identical operands. Money values themselves are rounded once to
4 decimals (the reference's ``::decimal(16,4)``) and carried as DOUBLE.
"""

from __future__ import annotations

import threading

from pyspark.sql import Column
from pyspark.sql import functions as F

#: decimal type wide enough for SF-100TB money sums (21 integer digits).
_ACC_DECIMAL = "decimal(27,6)"

SURROGATE_KEY_NULL = "_dbt_utils_surrogate_key_null_"

#: above this measured row count an explicit ``F.broadcast`` hint is
#: refused and the frame ships with a ``shuffle_hash`` hint instead: the
#: broadcast hint is *hard* (AQE never demotes it), so hinting an
#: SF-linear frame is a guaranteed executor/driver OOM at some scale
#: factor.  Shared by every gated-broadcast site (graph state rounds,
#: market-basket part totals, bloom candidate tagging); CI zeroes it to
#: pin the large-scale plan shape (tests/test_plan_budgets.py).
BROADCAST_STATE_MAX_ROWS = 1_000_000


def gated_broadcast(df, n_rows: int):
    """``F.broadcast(df)`` when ``n_rows`` (a measured or metadata-derived
    upper bound on df's cardinality) fits under BROADCAST_STATE_MAX_ROWS,
    else ``df.hint("shuffle_hash")`` — the join still avoids a sort, and
    only the state-sized side builds hash tables.  Import the module and
    read the gate at call time so tests can force the co-partitioned
    path."""
    import dbt_tpch_spark.functions as _self

    if n_rows <= _self.BROADCAST_STATE_MAX_ROWS:
        return F.broadcast(df)
    return df.hint("shuffle_hash")


#: JVM RDD ids of the checkpoints :func:`barrier` took that
#: :func:`release_barriers` has not freed yet.  Ints only: holding the
#: frames would pin every barrier's blocks in a session that never
#: releases.  Build lanes and the dedup multibatch pool take barriers from
#: worker threads, hence the lock.
_BARRIER_RDD_IDS: set[int] = set()
_BARRIER_LOCK = threading.Lock()


def barrier(df, eager: bool = True, bounded: bool = False):
    """Cut ``df``'s plan at a ``localCheckpoint``: the engine's one plan
    barrier.  ``eager`` materializes the blocks now (one job); a lazy
    barrier materializes on the first action that reads it.  ``bounded``
    registers the result as SF-independent for the pair-stage audit
    (:func:`dbt_tpch_spark.plans.audit.mark_bounded`), because the
    checkpoint erases the plan that proved it.  The checkpoint's RDD id
    is recorded so :func:`release_barriers` can free its blocks once the
    query that reads them is done."""
    out = df.localCheckpoint(eager=eager)
    if bounded:
        from dbt_tpch_spark.plans.audit import mark_bounded

        mark_bounded(out)
    rdd_id = out._jdf.queryExecution().logical().rdd().id()
    with _BARRIER_LOCK:
        _BARRIER_RDD_IDS.add(rdd_id)
    return out


def release_barriers(spark) -> None:
    """Unpersist every recorded barrier's blocks that the session still
    holds, and forget the recorded ids (here and in the pair-stage audit's
    bounded registry).  Call it only after the last action on every frame
    built over those barriers: a released local checkpoint cannot be
    recomputed."""
    from dbt_tpch_spark.plans import audit

    with _BARRIER_LOCK:
        ids = set(_BARRIER_RDD_IDS)
        _BARRIER_RDD_IDS.clear()
    persistent = spark.sparkContext._jsc.getPersistentRDDs()
    for rdd_id in ids:
        rdd = persistent.get(rdd_id)
        if rdd is not None:
            rdd.unpersist(True)
    audit._BOUNDED_RDD_IDS.difference_update(ids)


def money(col: Column) -> Column:
    """Reference ``money()`` macro: round to 4 decimals (decimal(16,4)).

    Implemented as ``floor(x*10000 + 0.5)/10000`` in IEEE double on BOTH
    engines: Spark's decimal cast (exact BigDecimal expansion, HALF_UP) and
    DuckDB's (scaled multiply) disagree near rounding boundaries, while this
    explicit formula is bit-identical everywhere. Result stays DOUBLE.
    """
    return F.floor(col * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)


def dsum(col: Column) -> Column:
    """Order-independent SUM of a double measure: exact decimal accumulate,
    final cast to double."""
    return F.sum(col.cast(_ACC_DECIMAL)).cast("double")


def davg(col: Column) -> Column:
    """Order-independent AVG: exact decimal sum / non-null count, divided in
    IEEE double arithmetic."""
    return dsum(col) / F.count(col)


def dsum_over(col: Column, window) -> Column:
    """Order-independent windowed SUM of a double measure (exact decimal
    accumulate inside the frame, final cast to double). Required because FP
    accumulation inside window frames is engine-internal-order-dependent."""
    return F.sum(col.cast(_ACC_DECIMAL)).over(window).cast("double")


def isum(col: Column) -> Column:
    """SUM of an integral column as BIGINT (matches DuckDB's cast-to-bigint)."""
    return F.sum(col).cast("long")


def dvar_samp(col: Column) -> Column:
    """Order-independent sample variance from exact decimal sums:
    (sum(x^2) - sum(x)^2/n) / (n-1). Native stddev/variance aggregate in
    either engine accumulates doubles in engine order — nondeterministic
    across engines — so the moments are decimal-exact and the final
    arithmetic is identical IEEE double ops."""
    n = F.count(col)
    sx = F.sum(col.cast(_ACC_DECIMAL)).cast("double")
    sxx = F.sum((col * col).cast(_ACC_DECIMAL)).cast("double")
    return F.when(n > 1, (sxx - sx * sx / n) / (n - F.lit(1)))


def dstddev_samp(col: Column) -> Column:
    """Order-independent sample standard deviation (see dvar_samp)."""
    return F.sqrt(dvar_samp(col))


def days_between(end: Column, start: Column) -> Column:
    """date - date -> integer days (DuckDB/Postgres semantics), as BIGINT."""
    return F.datediff(end, start).cast("long")


def safe_div(num: Column, den: Column) -> Column:
    """num / nullif(den, 0) — the pervasive division guard."""
    return num / F.nullif(den, F.lit(0))


def rnd(col: Column, n: int) -> Column:
    """round(x, n) on doubles as ``floor(x*10^n + 0.5)/10^n``.

    Same rationale as :func:`money`: Spark's ROUND (BigDecimal HALF_UP on the
    exact binary expansion) and DuckDB's (scaled multiply) disagree near
    boundaries; this explicit IEEE formula is bit-identical on both engines.
    """
    scale = F.lit(float(10**n))
    return F.floor(col * scale + F.lit(0.5)) / scale


def month_of(col: Column) -> Column:
    """date_trunc('month', d) — TIMESTAMP on both engines."""
    return F.date_trunc("month", col)


def surrogate_key(*cols: Column) -> Column:
    """dbt_utils.generate_surrogate_key semantics: md5 of '-'-joined,
    null-sentinel-coalesced, stringified parts."""
    parts = [
        F.coalesce(c.cast("string"), F.lit(SURROGATE_KEY_NULL)) for c in cols
    ]
    return F.md5(F.concat_ws("-", *parts))


def housekeeping(batch_id: str, batch_ts: str):
    """Reference dbt_housekeeping() batch-audit columns as fixed literals.

    dbt stamps invocation_id/run_started_at; the engine injects them from
    config so oracle parity holds (both sides see the same constants).
    Returns a list of Columns to splat into a select.
    """
    return [
        F.lit(batch_id).alias("dbt_batch_id"),
        F.lit(batch_ts).cast("timestamp").alias("dbt_batch_ts"),
    ]


def explode_sorted_pairs(df, arr: str, a_name: str, b_name: str, *keep: str):
    """One row ``(*keep, a_name, b_name)`` per unordered pair ``x < y`` of
    the SORTED, DISTINCT array column ``arr`` — the co-purchase/basket
    expansion shared by ``int_market_basket`` and the graph family
    (replaces a key self-join + a<b filter with one in-row expansion of
    half the rows and zero join machinery). ``posexplode`` + ``explode``
    of the suffix slice are compiled generators under whole-stage codegen,
    where a ``transform`` lambda is interpreted (CodegenFallback). Emits
    exactly ``size(arr) * (size(arr) - 1) / 2`` rows per input row;
    callers bound ``size(arr)`` by construction (basket size) and the
    skew-tail fixture in tests/test_skew.py pins the expansion's
    equivalence to the self-join on planted baskets up to 500 items."""
    return df.select(*keep, arr, F.posexplode(arr).alias("_pair_i", a_name)).select(
        *keep,
        a_name,
        F.explode(F.slice(arr, F.col("_pair_i") + 2, F.size(arr))).alias(b_name),
    )


def global_topk(df, key: str, k: int, payload_cols):
    """The 100 TB-safe rewrite of a whole-table top-k
    (``row_number().over(Window.orderBy(key)) <= k``): an unpartitioned
    window single-partitions the entire input, while the answer only needs
    k rows. Because the keys here are salted md5 hex (uniform, and
    fixed-length lowercase hex sorts lexicographically exactly as its
    numeric value), the key's own first hex digit is a free 16-way
    partitioner: rank within each digit-group in parallel (plans as
    WindowGroupLimit — a running top-k, no full sort), keep k per group,
    then one tiny ``sort_array(collect_list(...))`` over the <=16k
    candidates picks the global top k.

    Returns one row per winner with ``rn`` (1-based global rank by ``key``)
    plus ``payload_cols``. Requires ``key`` values to be unique (md5 of a
    unique id) — ties would fall through to struct comparison.
    """
    from pyspark.sql.window import Window

    w_g = Window.partitionBy("_g").orderBy(key)
    cand = (
        df.withColumn("_g", F.substring(F.col(key), 1, 1))
        .withColumn("_rn", F.row_number().over(w_g))
        .filter(F.col("_rn") <= k)
    )
    s = F.struct(F.col(key), *[F.col(c) for c in payload_cols])
    return (
        cand.groupBy()
        .agg(F.slice(F.sort_array(F.collect_list(s)), 1, k).alias("_top"))
        .select(F.posexplode("_top").alias("_pos", "_s"))
        .select(
            (F.col("_pos") + 1).alias("rn"),
            *[F.col(f"_s.{c}").alias(c) for c in payload_cols],
        )
    )


def range_bucket_expr(df, first_key: str, ascending: bool, n_buckets: int):
    """Range-bucket Column for ``first_key`` from an approx-quantile sketch
    (collected once, inlined as literals). The bucket is a PURE FUNCTION of
    the key value, so tied keys never straddle buckets — the property every
    bucketed exact-rank/cumsum/ntile helper below relies on. The edges are
    approximate; they only choose where the parallelism cuts fall."""
    probs = [i / n_buckets for i in range(1, n_buckets)]
    edges_row = df.agg(
        F.percentile_approx(first_key, probs, 10000).alias("e")
    ).head()
    edges = sorted(set(edges_row["e"] or []), reverse=not ascending)
    chain = None
    for i, ed in enumerate(edges):
        cond = (
            F.col(first_key) < F.lit(float(ed))
            if ascending
            else F.col(first_key) > F.lit(float(ed))
        )
        chain = F.when(cond, i) if chain is None else chain.when(cond, i)
    return (
        chain.otherwise(len(edges)) if chain is not None else F.lit(0)
    ).cast("int")


def global_row_number(
    df,
    first_key: str,
    ascending: bool,
    tiebreak_cols,
    out: str = "rn",
    n_buckets: int = 32,
):
    """Exact global ``row_number() over (order by first_key [desc], *ties)``
    without a single-partition window (which moves the whole input to one
    task). Approx-quantile edges on ``first_key`` — a tiny sketch collected
    once and inlined as literals — range-bucket the rows; a bucket is a
    pure function of ``first_key``, so tied keys never straddle buckets and
    the tie-break columns resolve within one partition. Per-bucket ranks
    run in parallel (plain partitioned window); bucket-count offsets (a
    <=n_buckets-row post-aggregation frame, the only unpartitioned window)
    lift them to exact global positions. The approximate edges only choose
    where the parallelism cuts fall — the ranks are exact.

    ``first_key`` must be numeric (percentile sketch). Returns ``df`` plus
    the ``out`` rank column.
    """
    from pyspark.sql.window import Window

    bucket = range_bucket_expr(df, first_key, ascending, n_buckets)
    base = df.withColumn("_b", bucket)
    counts = base.groupBy("_b").agg(F.count(F.lit(1)).alias("_n"))
    w_off = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn(
        "_off", F.coalesce(F.sum("_n").over(w_off), F.lit(0))
    ).select("_b", "_off")
    order = [
        F.col(first_key).asc() if ascending else F.col(first_key).desc()
    ] + [F.col(c) for c in tiebreak_cols]
    w_local = Window.partitionBy("_b").orderBy(*order)
    return (
        base.join(F.broadcast(offsets), "_b")
        .withColumn(
            out, (F.col("_off") + F.row_number().over(w_local)).cast("long")
        )
        .drop("_b", "_off")
    )


def bucketed_windows(
    df,
    first_key: str,
    tiebreak_cols,
    *,
    ascending: bool = False,
    partition_cols=(),
    rank_out: str | None = None,
    running_sum: tuple[str, str] | None = None,
    grand_sum: tuple[str, str] | None = None,
    count_out: str | None = None,
    n_buckets: int = 32,
):
    """Exact rank / exact-decimal running sum / grand total / total count
    over ``order by first_key [desc], *ties`` — the 100 TB-safe rewrite of
    the Pareto-report window stack (``row_number + sum over (rows unbounded
    preceding) + sum over () + count over ()``), which would otherwise move
    the whole (customer/part/supplier-grain, SF-linear) frame through ONE
    WindowExec task.

    Same tera-sort shape as :func:`global_row_number`: range-bucket on an
    approx-quantile sketch of ``first_key`` (bucket = pure function of the
    key, so ties never straddle buckets), rank and running-sum per bucket in
    parallel, then lift with per-bucket count/sum offsets (a <=n_buckets-row
    broadcast — the only unpartitioned window). Sums accumulate in exact
    DECIMAL (associative, so bucket-offset + local running sum is
    bit-identical to the oracle's single-frame ``wsum_sql``) and cast to
    double at the end, matching :func:`dsum_over`.

    ``partition_cols``: optional window partition keys (e.g. a per-nation
    rank); buckets then subdivide each partition and the offset frame is
    |partitions|×n_buckets rows.

    Because every caller's ordering ends in a unique tie-break key,
    ``rank()`` has no peer rows and equals ``row_number()`` — callers that
    previously used ``F.rank()`` keep identical values.

    The input is localCheckpoint-materialized first: the frame feeds THREE
    plan sites (the quantile sketch, the per-bucket stats aggregate, and
    the final join) and is typically itself an expensive aggregate;
    without the barrier each site re-executes the whole upstream and
    cascaded calls (e.g. three NTILEs) compound it exponentially (observed
    45 exchanges in customer_rfm_segments before the barrier). The frame
    is entity-grain by design — far smaller than the facts it came from.
    """
    from pyspark.sql.window import Window

    # lazy checkpoint: the quantile sketch's head() below is the first
    # action and materializes it — fusing the checkpoint write into a pass
    # that must run anyway (eager=True would add a separate blocking pass)
    df = barrier(df, eager=False)
    part = list(partition_cols)
    sum_col = running_sum[0] if running_sum else (grand_sum[0] if grand_sum else None)
    if grand_sum and running_sum and grand_sum[0] != running_sum[0]:
        raise ValueError("running_sum and grand_sum must share the measure column")

    bucket = range_bucket_expr(df, first_key, ascending, n_buckets)
    base = df.withColumn("_b", bucket)
    aggs = [F.count(F.lit(1)).alias("_n")]
    if sum_col is not None:
        aggs.append(F.sum(F.col(sum_col).cast(_ACC_DECIMAL)).alias("_s"))
    stats = base.groupBy(*part, "_b").agg(*aggs)
    w_off = (
        Window.partitionBy(*part)
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all = (
        Window.partitionBy(*part)
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    off_cols = {"_off_n": F.coalesce(F.sum("_n").over(w_off), F.lit(0))}
    if count_out is not None:
        off_cols["_tot_n"] = F.sum("_n").over(w_all)
    if sum_col is not None:
        off_cols["_off_s"] = F.coalesce(
            F.sum("_s").over(w_off), F.lit(0).cast("decimal(38,6)")
        )
    if grand_sum is not None:
        off_cols["_tot_s"] = F.sum("_s").over(w_all)
    offsets = stats.withColumns(off_cols).drop("_n", *(["_s"] if sum_col else []))

    order = [
        F.col(first_key).asc() if ascending else F.col(first_key).desc()
    ] + [F.col(c) for c in tiebreak_cols]
    w_local = Window.partitionBy(*part, "_b").orderBy(*order)
    w_run = w_local.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    res = base.join(F.broadcast(offsets), part + ["_b"])
    out_cols = {}
    if rank_out is not None:
        out_cols[rank_out] = (
            F.col("_off_n") + F.row_number().over(w_local)
        ).cast("long")
    if running_sum is not None:
        out_cols[running_sum[1]] = (
            F.col("_off_s")
            + F.sum(F.col(running_sum[0]).cast(_ACC_DECIMAL)).over(w_run)
        ).cast("double")
    if grand_sum is not None:
        out_cols[grand_sum[1]] = F.col("_tot_s").cast("double")
    if count_out is not None:
        out_cols[count_out] = F.col("_tot_n")
    drop = ["_b", "_off_n"] + [
        c for c in ("_off_s", "_tot_s", "_tot_n") if c in offsets.columns
    ]
    return res.withColumns(out_cols).drop(*drop)


def global_ntile(
    df,
    n: int,
    first_key: str,
    tiebreak_cols,
    out: str,
    *,
    ascending: bool = True,
    n_buckets: int = 32,
):
    """Exact ``ntile(n) over (order by first_key [desc], *ties)`` without
    the single-partition window: exact global ranks from
    :func:`bucketed_windows`, then NTILE's first-tiles-get-the-remainder
    arithmetic applied to the exact rank (bit-identical to the engine
    ntile because the ranks are exact). Same pattern as
    events_value_quantile_bins (operators/timeseries.py)."""
    ranked = bucketed_windows(
        df,
        first_key,
        tiebreak_cols,
        ascending=ascending,
        rank_out="_ntile_rk",
        count_out="_ntile_tot",
        n_buckets=n_buckets,
    )
    rk, tot, t = F.col("_ntile_rk"), F.col("_ntile_tot"), F.lit(n)
    tile_base, rem = F.floor(tot / t), tot % t
    big = rem * (tile_base + 1)
    # tiny-frame guard (VERDICT r11 #9): when tot < n, tile_base is 0 and
    # the .otherwise divisor would be zero — no row ever TAKES that branch
    # (rem == tot makes every rank <= big), but clamping the DIVISOR only
    # keeps the expression total under eager/ANSI evaluation; for tot >= n
    # the clamp is the identity, so tiles are unchanged.
    tile = (
        F.when(rk <= big, F.floor((rk - 1) / (tile_base + 1)))
        .otherwise(rem + F.floor((rk - big - 1) / F.greatest(tile_base, F.lit(1))))
        + 1
    )
    return ranked.withColumn(out, tile.cast("long")).drop(
        "_ntile_rk", "_ntile_tot"
    )


def global_ntiles(df, n, specs, n_buckets: int = 32):
    """Several exact ``ntile(n)`` scores over the SAME frame in one pass
    (round-11 optimization). ``specs``: iterable of ``(first_key,
    tiebreak_cols, out, ascending)``.

    Cascading :func:`global_ntile` calls each re-checkpoint the growing
    frame and each pay their own quantile-sketch action — 3 barriers + 3
    sketch jobs for customer_rfm_segments. The scores are mutually
    independent (each reads only its own key column), so one barrier and
    TWO bounded actions (one aggregate holding every percentile sketch,
    one ≤ len(specs)×n_buckets-row bucket-count collect whose offsets are
    integer cumsums computed driver-side) suffice; the per-key
    bucket/rank/NTILE plumbing is the exact same arithmetic as
    :func:`global_ntile` (exact ranks lifted by <=n_buckets broadcast
    offsets, first-tiles-get-the-remainder), chained lazily so the engine
    evaluates all score columns in one final pass whose only shuffles are
    the per-key bucket-window sorts. Ranks are exact, so the scores are
    bit-identical to the cascaded form.

    Driver safety: both actions are bounded by construction (1 row of
    sketches; len(specs)×n_buckets count rows) at ANY scale factor — the
    same class as the quantile ``head()`` in :func:`bucketed_windows`,
    not a data-sized collect."""
    from pyspark.sql.window import Window

    df = barrier(df, eager=False)
    probs = [i / n_buckets for i in range(1, n_buckets)]
    sketch = df.agg(
        *[
            F.percentile_approx(key, probs, 10000).alias(f"_e{idx}")
            for idx, (key, _, _, _) in enumerate(specs)
        ]
    ).head()
    buckets = []
    for idx, (first_key, _, _, ascending) in enumerate(specs):
        edges = sorted(set(sketch[f"_e{idx}"] or []), reverse=not ascending)
        chain = None
        for i, ed in enumerate(edges):
            cond = (
                F.col(first_key) < F.lit(float(ed))
                if ascending
                else F.col(first_key) > F.lit(float(ed))
            )
            chain = F.when(cond, i) if chain is None else chain.when(cond, i)
        buckets.append(
            (
                chain.otherwise(len(edges)) if chain is not None else F.lit(0)
            ).cast("int")
        )
    # round-12 (guide §2.3): ONE scan of the checkpointed frame for all
    # bucket counts — the unioned-groupBy form scanned it len(specs)
    # times inside the same job. posexplode tags each spec's bucket id
    # with its spec index; the aggregate output stays bounded by
    # len(specs) x n_buckets rows, same values as the union, so the
    # driver-side offsets (and therefore the tiles) are unchanged.
    counts_all = (
        df.select(
            F.posexplode(F.array(*buckets)).alias("_i", "_b")
        )
        .groupBy("_i", "_b")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    per: dict[int, dict[int, int]] = {}
    for r in counts_all.collect():
        per.setdefault(r["_i"], {})[r["_b"]] = r["_n"]
    out = df
    for idx, (first_key, tiebreak_cols, out_name, ascending) in enumerate(
        specs
    ):
        cnts = sorted(per.get(idx, {}).items())
        tot = sum(n_ for _, n_ in cnts)
        rows, acc = [], 0
        for b_, n_ in cnts:
            rows.append((b_, acc))
            acc += n_
        offsets = df.sparkSession.createDataFrame(
            rows, "_b int, _off long"
        )
        order = [
            F.col(first_key).asc() if ascending else F.col(first_key).desc()
        ] + [F.col(c) for c in tiebreak_cols]
        w_local = Window.partitionBy("_b").orderBy(*order)
        rk = (F.col("_off") + F.row_number().over(w_local)).cast("long")
        tile_base, rem = tot // n, F.lit(tot % n)
        big = rem * (tile_base + 1)
        # tiny-frame guard (VERDICT r11 #9): tile_base == 0 when tot < n;
        # the .otherwise branch is unreachable then (rem == tot makes
        # every rank <= big) but its divisor must still be non-zero —
        # clamp the divisor only, identity for tot >= n.
        tile = (
            F.when(rk <= big, F.floor((rk - 1) / F.lit(tile_base + 1)))
            .otherwise(rem + F.floor((rk - big - 1) / F.lit(max(tile_base, 1))))
            + 1
        )
        out = (
            out.withColumn("_b", buckets[idx])
            .join(F.broadcast(offsets), "_b")
            .withColumn(out_name, tile.cast("long"))
            .drop("_b", "_off")
        )
    return out


def with_global_aggs(df, aggs):
    """The 100 TB-safe rewrite of a whole-table window
    (``F.sum(x).over(Window.partitionBy())``): compute the scalar
    aggregates ONCE, then broadcast the 1-row result back with a cross
    join. A whole-table WindowExec moves every row to a single partition;
    this plans as partial+final agg (tree reduction) plus a 1-row
    broadcast — no data movement beyond the aggregate itself.

    ``aggs``: mapping of output column name -> aggregate Column.
    """
    totals = df.agg(*[c.alias(n) for n, c in aggs.items()])
    return df.crossJoin(F.broadcast(totals))
