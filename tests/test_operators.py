"""Behavioral tests for the extension operators (parity is covered by
test_parity; these check operator-specific invariants)."""

from __future__ import annotations

from pyspark.sql import functions as F

from dbt_tpch_spark.plans import Context, import_all_models

import_all_models()


def test_minhash_lsh_recall_against_exact(spark, sf_dir):
    """Every LSH-verified pair must be a true >=0.5 shingle-Jaccard pair
    (precision 1.0 by construction — verified candidates only)."""
    ctx = Context(spark, sf_dir)
    lsh = ctx.ref("dedup_minhash_lsh").select("doc_a", "doc_b", "jaccard")
    assert lsh.filter(F.col("jaccard") < 0.5).count() == 0
    n_lsh = lsh.count()
    assert n_lsh > 0


def test_simhash_hamming_bounds(spark, sf_dir):
    ctx = Context(spark, sf_dir)
    sigs = ctx.ref("dedup_simhash_signatures")
    row = sigs.select(F.length("sig_bits").alias("l")).distinct().collect()
    assert [r.l for r in row] == [64]
    pairs = ctx.ref("dedup_simhash_pairs")
    bad = pairs.filter((F.col("hamming_distance") < 0) | (F.col("hamming_distance") > 16))
    assert bad.count() == 0


def test_ann_topk_is_ranked(spark, sf_dir):
    ctx = Context(spark, sf_dir)
    topk = ctx.ref("ann_cosine_topk")
    # exactly 10 queries, each with <= 10 ranked neighbors, rank unique per query
    per_q = topk.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n"), F.countDistinct("rank").alias("nr")
    )
    assert per_q.filter((F.col("n") > 10) | (F.col("n") != F.col("nr"))).count() == 0
    # cosine must be non-increasing with rank within a query
    w_bad = topk.alias("a").join(
        topk.alias("b"),
        (F.col("a.query_id") == F.col("b.query_id"))
        & (F.col("a.rank") < F.col("b.rank"))
        & (F.col("a.cosine") < F.col("b.cosine")),
    )
    assert w_bad.count() == 0


def test_multimodal_plumbing_batch_shape(spark, sf_dir):
    ctx = Context(spark, sf_dir)
    out = ctx.ref("multimodal_metadata")
    assert out.schema.simpleString() == (
        "struct<doc_id:bigint,byte_len:bigint,content_md5:string,"
        "width:bigint,height:bigint,channels:bigint,decode_status:string>"
    )
    n_docs = ctx.source("documents").count()
    assert out.count() == n_docs
    assert out.filter(F.col("decode_status") != "stub_decoder").count() == 0


def test_text_quality_score_range(spark, sf_dir):
    ctx = Context(spark, sf_dir)
    stats = ctx.ref("doc_text_stats")
    out_of_range = stats.filter(
        (F.col("quality_score") < 0) | (F.col("quality_score") > 1.0)
    )
    assert out_of_range.count() == 0


def test_sketch_aggregates_accuracy(spark, sf_dir):
    """Approximate aggregates (the 100 TB path where exact distinct counts
    and percentiles are too expensive): HLL++ and KLL-style sketches must
    land within their documented error of the exact answers."""
    ctx = Context(spark, sf_dir)
    o = ctx.ref("fct_orders")
    row = o.agg(
        F.countDistinct("customer_key").alias("exact_cd"),
        F.approx_count_distinct("customer_key", rsd=0.02).alias("approx_cd"),
        F.expr("percentile(gross_item_sales_amount, 0.5)").alias("exact_p50"),
        F.expr(
            "approx_percentile(gross_item_sales_amount, 0.5, 10000)"
        ).alias("approx_p50"),
    ).collect()[0]
    assert abs(row.approx_cd - row.exact_cd) <= 0.05 * row.exact_cd
    assert abs(row.approx_p50 - row.exact_p50) <= 0.05 * abs(row.exact_p50)


def test_asof_join_invariants_and_plan(spark, sf_dir):
    """As-of semantics: click at-or-before the anchor (gap_us >= 0), and the
    physical plan must contain no join at all — the union+window form's
    whole point is replacing a theta join (BroadcastNestedLoopJoin) with
    one shuffle."""
    ctx = Context(spark, sf_dir)
    out = ctx.ref("events_asof_last_click")
    assert out.filter(F.col("gap_us") < 0).count() == 0
    n_errors = ctx.source("events").filter(F.col("event_type") == "error").count()
    assert out.count() == n_errors
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan


def test_range_context_matches_naive_and_avoids_nlj(spark, sf_dir):
    """The bucketed range join must equal the naive theta-join result and
    must plan as an equi-join (no BroadcastNestedLoopJoin / cartesian)."""
    ctx = Context(spark, sf_dir)
    out = ctx.ref("events_range_context")
    e = ctx.source("events")
    anchors = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("a_id"), F.col("user_id").alias("a_user"),
        F.col("ts").alias("a_ts"),
    )
    naive = (
        anchors.join(
            e,
            (F.col("user_id") == F.col("a_user"))
            & (F.col("ts") >= F.col("a_ts") - F.expr("INTERVAL 300 SECONDS"))
            & (F.col("ts") < F.col("a_ts")),
            "left",
        )
        .groupBy("a_id")
        .agg(F.count("event_id").alias("n_naive"))
    )
    diff = (
        out.join(naive, out.event_id == naive.a_id)
        .filter(F.col("n_context") != F.col("n_naive"))
        .count()
    )
    assert diff == 0
    assert out.count() == anchors.count()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Cartesian" not in plan, plan


def test_stratified_sample_rates_and_determinism(spark, sf_dir):
    """Per-stratum keep rates must track LANG_RATES/16 (binomial tolerance)
    and the sample must be bit-identical across runs (hash-determined)."""
    from dbt_tpch_spark.operators.sampling import LANG_RATES

    ctx = Context(spark, sf_dir)
    docs = ctx.source("documents")
    kept = ctx.ref("docs_sample_stratified")
    totals = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    kept_n = {r["lang"]: r["n"] for r in kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    import math
    for lang, rate16 in LANG_RATES.items():
        n, p = totals[lang], rate16 / 16.0
        got = kept_n.get(lang, 0)
        tol = 4 * math.sqrt(n * p * (1 - p)) + 1  # 4 sigma
        assert abs(got - n * p) <= tol, (lang, got, n * p, tol)
    a = sorted(r.doc_id for r in kept.select("doc_id").collect())
    b = sorted(r.doc_id for r in ctx_fresh(spark, sf_dir).ref("docs_sample_stratified").select("doc_id").collect())
    assert a == b


def ctx_fresh(spark, sf_dir):
    return Context(spark, sf_dir)


def test_shard_assignment_covers_and_balances(spark, sf_dir):
    ctx = Context(spark, sf_dir)
    shards = ctx.ref("docs_shard_assignment").collect()
    n_docs_total = ctx.source("documents").count()
    assert sum(r.n_docs for r in shards) == n_docs_total
    assert all(0 <= r.shard_id <= 15 for r in shards)
    counts = [r.n_docs for r in shards]
    # md5 sharding at corpus size: no shard dominates (loose 4x bound)
    assert max(counts) <= 4 * max(1, min(counts))


def test_doc_chunks_cover_every_token_once_per_stride(spark, sf_dir):
    """Chunk starts advance by exactly STRIDE: per doc, n_chunks =
    ceil(n_tokens / stride), first chunk full-size (or doc length), and the
    token mass of stride-prefixes reconstructs the doc token count."""
    from dbt_tpch_spark.operators.sampling import CHUNK_STRIDE, CHUNK_TOKENS

    ctx = Context(spark, sf_dir)
    chunks = ctx.ref("doc_chunks")
    stats = ctx.ref("doc_text_stats").select("doc_id", "n_tokens")
    agg = (
        chunks.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.max("n_chunk_tokens").alias("max_len"),
            F.countDistinct("chunk_idx").alias("n_idx"),
        )
        .join(stats, "doc_id")
    )
    bad = agg.filter(
        (F.col("n_chunks") != F.ceil(F.col("n_tokens") / CHUNK_STRIDE))
        | (F.col("n_idx") != F.col("n_chunks"))
        | (F.col("max_len") > CHUNK_TOKENS)
    )
    assert bad.count() == 0
    assert chunks.filter(F.col("n_chunk_tokens") <= 0).count() == 0


def test_kmeans_inertia_decreases_and_partitions(spark, sf_dir):
    """Lloyd's must not increase total inertia round over round, and the
    final assignment must partition the corpus."""
    from dbt_tpch_spark.operators import kmeans as km

    ctx = Context(spark, sf_dir)
    v = km._vectors(ctx).localCheckpoint(eager=True)
    # re-run the fit round by round, tracking inertia under each centroid set
    seeds = ctx.source("documents")  # placeholder; real seeds below
    inertias = []
    import dbt_tpch_spark.operators.kmeans as K
    from pyspark.sql import Window
    from pyspark.sql import functions as F2

    e = ctx.source("embeddings").select(
        "embedding",
        F2.md5(F2.concat(F2.lit(K.SEED_SALT), F2.col("vec_id").cast("string"))).alias("sk"),
    )
    cents = (
        e.withColumn("rn", F2.row_number().over(Window.orderBy("sk")))
        .filter(F2.col("rn") <= K.K_CELLS)
        .select((F2.col("rn") - 1).cast("long").alias("cell_id"), F2.col("embedding").alias("cent"))
        .localCheckpoint(eager=True)
    )
    from dbt_tpch_spark.operators.dedup import DOT_SPARK

    for _ in range(K.ITERS):
        withcc = cents.withColumn("cc", F2.expr(DOT_SPARK.format(a="cent", b="cent")))
        ranked = K._assign_ranked(v, withcc, 1)
        best = ranked.filter(F2.col("rn") == 1)
        inertias.append(best.agg(F2.sum("d2")).collect()[0][0])
        cents = (
            best.select("cell_id", F2.posexplode("emb").alias("pos", "val"))
            .groupBy("cell_id", "pos")
            .agg((F2.avg(F2.col("val").cast("double"))).alias("m"))
            .groupBy("cell_id")
            .agg(
                F2.transform(
                    F2.sort_array(F2.collect_list(F2.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("cent")
            )
            .localCheckpoint(eager=True)
        )
    assert all(b <= a + 1e-9 for a, b in zip(inertias, inertias[1:])), inertias
    cells = ctx.ref("kmeans_cells")
    n_vecs = ctx.source("embeddings").count()
    assert sum(r.n_members for r in cells.collect()) == n_vecs


def test_ivf_kmeans_recall_vs_brute_force(spark, sf_dir):
    """Probing 4/16 learned cells must recover a nontrivial share of the
    true top-10 (and behave strictly better than random cell choice would
    in expectation: 4/16 = 25% floor)."""
    ctx = Context(spark, sf_dir)
    exact = {
        (r.query_id, r.neighbor_id) for r in ctx.ref("ann_cosine_topk").collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ctx.ref("ann_ivf_kmeans_topk").collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.2, recall


def test_unpivot_inverts_pivot(spark, sf_dir):
    """wide -> long via DataFrame.unpivot must reproduce the direct
    (month, status) aggregation — pivot and unpivot are exact inverses."""
    ctx = Context(spark, sf_dir)
    wide = ctx.ref("orders_pivot_status")
    long = wide.unpivot(
        "order_month",
        ["fulfilled_n", "open_n", "partial_n"],
        "status_col",
        "n",
    ).withColumn(
        "o_orderstatus",
        F.element_at(
            F.create_map(
                F.lit("fulfilled_n"), F.lit("F"),
                F.lit("open_n"), F.lit("O"),
                F.lit("partial_n"), F.lit("P"),
            ),
            F.col("status_col"),
        ),
    )
    direct = (
        ctx.source("orders")
        .groupBy(
            F.date_trunc("month", F.col("o_orderdate")).alias("order_month"),
            "o_orderstatus",
        )
        .agg(F.count(F.lit(1)).alias("n_direct"))
    )
    joined = long.join(direct, ["order_month", "o_orderstatus"], "full")
    bad = joined.filter(
        F.coalesce(F.col("n"), F.lit(0)) != F.coalesce(F.col("n_direct"), F.lit(0))
    )
    assert bad.count() == 0


def test_pack_sequences_fill_and_ordering(spark, sf_dir):
    """Packing invariants: every sequence holds >= 1 chunk, token mass is
    conserved shard by shard, and all but the last sequence of a shard
    start-fills past capacity (next-fit property: a sequence only opens
    when the previous one's start offsets crossed the boundary)."""
    from dbt_tpch_spark.operators.sampling import SEQ_CAPACITY

    ctx = Context(spark, sf_dir)
    seqs = ctx.ref("doc_pack_sequences")
    assert seqs.filter(F.col("n_chunks") < 1).count() == 0
    per_shard = seqs.groupBy("shard_id").agg(
        F.sum("seq_tokens").alias("packed"),
        F.max("seq_id").alias("max_seq"),
        F.count(F.lit(1)).alias("n_seqs"),
    )
    # seq_ids are dense 0..max per shard
    assert per_shard.filter(F.col("n_seqs") != F.col("max_seq") + 1).count() == 0
    chunks = ctx.ref("doc_chunks")
    from dbt_tpch_spark.operators.sampling import _shard_expr_spark

    direct = (
        chunks.withColumn("shard_id", _shard_expr_spark())
        .groupBy("shard_id")
        .agg(F.sum("n_chunk_tokens").alias("direct"))
    )
    bad = per_shard.join(direct, "shard_id").filter(F.col("packed") != F.col("direct"))
    assert bad.count() == 0


def test_bm25_ranking_invariants(spark, sf_dir):
    """Ranks are dense 1..k per query, scores non-increasing along rank,
    and every hit contains at least one query term (n_hit_terms >= 1)."""
    from dbt_tpch_spark.operators.retrieval import QUERIES, TOP_DOCS

    ctx = Context(spark, sf_dir)
    rows = ctx.ref("docs_bm25_topk").collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == set(QUERIES)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= TOP_DOCS
        scores = [r.score for r in rs]
        assert scores == sorted(scores, reverse=True)
        assert all(r.n_hit_terms >= 1 for r in rs)


def test_tfidf_top_terms_shape(spark, sf_dir):
    """Every document gets exactly TOP_TERMS ranked terms (corpus docs all
    have >= 3 distinct tokens) and idf/tfidf are positive."""
    from dbt_tpch_spark.operators.retrieval import TOP_TERMS

    ctx = Context(spark, sf_dir)
    df = ctx.ref("doc_tfidf_terms")
    n_docs = ctx.source("documents").count()
    assert df.count() == n_docs * TOP_TERMS
    assert df.filter((F.col("idf") <= 0) | (F.col("tfidf") <= 0)).count() == 0


def test_gapfill_grid_is_dense_and_locf_total_preserved(spark, sf_dir):
    """Per user: buckets are dense hourly (count == span+1), every row has a
    non-null locf/interp value, and observed-bucket event counts add back up
    to the raw event count."""
    ctx = Context(spark, sf_dir)
    g = ctx.ref("events_gapfill_hourly")
    dense = g.groupBy("user_id").agg(
        F.count("*").alias("n"),
        (
            (F.unix_timestamp(F.max("bucket")) - F.unix_timestamp(F.min("bucket")))
            / 3600
            + 1
        ).cast("long").alias("span"),
    )
    assert dense.filter(F.col("n") != F.col("span")).count() == 0
    assert g.filter(F.col("locf_value").isNull()).count() == 0
    assert g.filter(F.col("interp_value").isNull()).count() == 0
    assert g.filter((F.col("is_gap") == 1) & (F.col("n_events") != 0)).count() == 0
    total = g.agg(F.sum("n_events")).collect()[0][0]
    assert total == ctx.source("events").count()


def test_pagerank_mass_and_rank_density(spark, sf_dir):
    """Rank mass stays ~1 (teleport + quantization drift bounded), every
    value is positive, and importance_rank is a dense 1..N permutation."""
    ctx = Context(spark, sf_dir)
    rows = ctx.ref("parts_pagerank").collect()
    n = len(rows)
    assert n > 0
    total = sum(r.pagerank for r in rows)
    assert abs(total - 1.0) < 1e-6
    assert all(r.pagerank > 0 for r in rows)
    assert sorted(r.importance_rank for r in rows) == list(range(1, n + 1))


def test_kcore_alive_set_is_fixpoint(spark, sf_dir):
    """parts_kcore peels a FIXED number of rounds; the docstring's honesty
    contract is that on the test corpus the result is an actual fixpoint.
    Convergence is checkable from the output itself: core_degree is each
    surviving node's degree within the final core, so another peel round
    would remove nothing iff no in_kcore node has core_degree < K."""
    from dbt_tpch_spark.operators.graph import KCORE_K

    ctx = Context(spark, sf_dir)
    df = ctx.ref("parts_kcore")
    not_converged = df.filter(
        F.col("in_kcore") & (F.col("core_degree") < KCORE_K)
    ).count()
    assert not_converged == 0, (
        f"{not_converged} core nodes below K={KCORE_K}: raise KCORE_ROUNDS"
    )


def test_pq_training_reduces_reconstruction_error(spark, sf_dir):
    """Mean PQ reconstruction error after the Lloyd rounds must beat the
    raw seed codebook (training actually helps), and every vector encodes
    all M subvectors with codes in [0, K)."""
    from dbt_tpch_spark.operators import pq as pqm

    ctx = Context(spark, sf_dir)

    def mean_err(iters):
        sub, cents = pqm._fit(ctx, iters=iters)
        enc = pqm._encode(sub, cents)
        return enc.agg(F.avg("d2")).collect()[0][0]

    assert mean_err(pqm.PQ_ITERS) < mean_err(0)

    codes = ctx.ref("embeddings_pq_codes").collect()
    n_vecs = ctx.source("embeddings").count()
    assert len(codes) == n_vecs
    for r in codes:
        parts = [int(c) for c in r.pq_code.split("-")]
        assert len(parts) == pqm.M_SUBVECTORS == r.n_subvectors
        assert all(0 <= c < pqm.K_CODES for c in parts)
        assert r.recon_error >= 0


def test_new_operator_plan_shapes(spark, sf_dir):
    """Scale-shape assertions for the round's new operators:

    - gap-fill is the union+window form — zero join nodes;
    - BM25's df/query/scalar joins all broadcast (the only allowed
      shuffle-joins are on doc_id) — no nested-loop anywhere;
    - PageRank's per-round rank join broadcasts the rank vector;
    - PQ assignment broadcasts the codebook (no shuffle of the corpus
      against 128 centroid rows).
    """
    ctx = Context(spark, sf_dir)

    gap_plan = (
        ctx.ref("events_gapfill_hourly")._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in gap_plan, gap_plan

    # parts_pagerank's final plan is window-over-checkpoint (its joins run
    # inside the iteration, pre-checkpoint), so only the first two can be
    # required to SHOW a broadcast hash join
    for name, expect_bhj in (
        ("docs_bm25_topk", True),
        ("ann_pq_adc_topk", True),
        ("parts_pagerank", False),
    ):
        plan = ctx.ref(name)._jdf.queryExecution().executedPlan().toString()
        # the only tolerated nested-loop is the 1-row scalar cross join
        # (with_global_aggs form); any Inner/Outer BNLJ means a theta join
        # slipped through
        for line in plan.splitlines():
            if "BroadcastNestedLoopJoin" in line:
                assert "Cross" in line, (name, line)
        assert "Cartesian" not in plan, (name, plan)
        if expect_bhj:
            assert "BroadcastHashJoin" in plan, (name, plan)


def test_topn_sample_budgets_and_determinism(spark, sf_dir):
    """Each language stratum yields min(stratum_size, N) docs, ranks are
    dense, and two runs pick identical doc sets (hash-keyed, no rand)."""
    from dbt_tpch_spark.operators.sampling import TOPN_PER_LANG

    ctx = Context(spark, sf_dir)
    s = ctx.ref("docs_sample_topn_per_lang")
    sizes = {
        r.lang: r.n
        for r in ctx.source("documents").groupBy("lang").agg(
            F.count("*").alias("n")
        ).collect()
    }
    got = {
        r.lang: r.n
        for r in s.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert got == {k: min(v, TOPN_PER_LANG) for k, v in sizes.items()}
    a = {(r.lang, r.doc_id) for r in s.collect()}
    b = {(r.lang, r.doc_id) for r in Context(spark, sf_dir).ref(
        "docs_sample_topn_per_lang").collect()}
    assert a == b


def test_zscore_needs_history_and_flags_extremes(spark, sf_dir):
    """No z-score before ZSCORE_MIN_PRIOR history; every flagged row
    actually exceeds the threshold; n_prior never exceeds the lookback."""
    from dbt_tpch_spark.operators.timeseries import (
        ZSCORE_LOOKBACK,
        ZSCORE_MIN_PRIOR,
        ZSCORE_THRESHOLD,
    )

    ctx = Context(spark, sf_dir)
    z = ctx.ref("events_value_zscore")
    assert z.filter(
        (F.col("n_prior") < ZSCORE_MIN_PRIOR) & F.col("z_score").isNotNull()
    ).count() == 0
    assert z.filter(F.col("n_prior") > ZSCORE_LOOKBACK).count() == 0
    assert z.filter(
        (F.col("is_anomaly") == 1)
        & (F.abs(F.col("z_score")) <= ZSCORE_THRESHOLD)
    ).count() == 0
    assert z.count() == ctx.source("events").count()


def test_funnel_counts_are_monotone(spark, sf_dir):
    """Funnel stages can only shrink: users >= signups >= signup+click >=
    full funnel; medians exist whenever their stage has converters."""
    ctx = Context(spark, sf_dir)
    r = ctx.ref("events_conversion_funnel").collect()[0]
    assert r.n_users >= r.n_signup >= r.n_signup_click >= r.n_full_funnel >= 0
    if r.n_signup_click > 0:
        assert r.median_hours_to_click > 0
    if r.n_full_funnel > 0:
        assert r.median_hours_to_purchase > 0


def test_retention_cohort_invariants(spark, sf_dir):
    """Offset-0 retention is exactly 1.0 (everyone is active on their
    first-seen day), rates are in (0, 1], and active counts never exceed
    the cohort size."""
    ctx = Context(spark, sf_dir)
    rows = ctx.ref("events_retention_cohorts").collect()
    assert rows
    for r in rows:
        assert 0 <= r.day_offset <= 7
        assert 0 < r.n_active <= r.cohort_size
        assert 0 < r.retention_rate <= 1.0
        if r.day_offset == 0:
            assert r.retention_rate == 1.0


def test_inverted_index_round_trip(spark, sf_dir):
    """Posting heads are sorted, capped, and consistent with df; every term
    of a sample document appears in the index."""
    from dbt_tpch_spark.operators.retrieval import POSTINGS_CAP

    ctx = Context(spark, sf_dir)
    idx = {r.term: r for r in ctx.ref("docs_inverted_index").collect()}
    for r in idx.values():
        ids = [int(x) for x in r.postings_head.split("-")]
        assert ids == sorted(ids)
        assert len(ids) == min(r.df, POSTINGS_CAP)
        assert r.total_tf >= r.df
    doc = ctx.source("documents").filter(F.col("doc_id") == 0).collect()[0]
    for term in set(doc.text.lower().strip().split(" ")):
        assert term in idx


def test_surprisal_tracks_rarity(spark, sf_dir):
    """Every doc scores, surprisal is positive, and a doc made of the
    corpus's rarest words must out-surprise one made of the most common
    (checked via per-term surprisal monotonicity in term frequency)."""
    ctx = Context(spark, sf_dir)
    s = ctx.ref("doc_unigram_surprisal")
    n_docs = ctx.source("documents").count()
    assert s.count() == n_docs
    assert s.filter(F.col("mean_surprisal") <= 0).count() == 0
    # rarity monotonicity at the term level: dup-marker docs (containing the
    # rare 'dup' token) average strictly above the corpus mean
    docs = ctx.source("documents").select(
        "doc_id", F.col("text").contains("dup").alias("has_rare")
    )
    j = s.join(docs, "doc_id")
    rare = j.filter("has_rare").agg(F.avg("mean_surprisal")).collect()[0][0]
    common = j.filter(~F.col("has_rare")).agg(F.avg("mean_surprisal")).collect()[0][0]
    if rare is not None and common is not None:
        assert rare > common


def test_hll_sketch_accuracy_and_registers(spark, sf_dir):
    """The deterministic HLL lands within the m=256 error envelope of the
    exact distinct count for every event type, and register counts never
    exceed m."""
    from dbt_tpch_spark.operators.sketches import HLL_M

    ctx = Context(spark, sf_dir)
    rows = ctx.ref("events_hll_users").collect()
    assert rows
    for r in rows:
        assert 0 < r.n_present <= HLL_M
        assert r.hll_estimate > 0
        assert r.rel_error < 0.15, (r.event_type, r.rel_error)


def test_weighted_sample_biases_toward_heavy_docs(spark, sf_dir):
    """A-ES with w = n_chars must overselect long documents: the sample's
    mean length exceeds the corpus mean; budgets and determinism hold."""
    from dbt_tpch_spark.operators.sampling import WEIGHTED_PER_LANG

    ctx = Context(spark, sf_dir)
    s = ctx.ref("docs_sample_weighted")
    per_lang = {r.lang: r.n for r in s.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    sizes = {
        r.lang: r.n
        for r in ctx.source("documents").groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert per_lang == {k: min(v, WEIGHTED_PER_LANG) for k, v in sizes.items()}
    sample_avg = s.agg(F.avg("n_chars")).collect()[0][0]
    corpus_avg = ctx.source("documents").agg(F.avg("n_chars")).collect()[0][0]
    assert sample_avg > corpus_avg
    a = sorted(r.doc_id for r in s.select("doc_id").collect())
    b = sorted(
        r.doc_id
        for r in Context(spark, sf_dir).ref("docs_sample_weighted").select("doc_id").collect()
    )
    assert a == b


def test_kl_divergence_nonnegative_and_complete(spark, sf_dir):
    """KL over observed terms with shared smoothing must be >= 0 up to
    quantization for every source, all 20 sources score, and ranks are a
    dense permutation."""
    ctx = Context(spark, sf_dir)
    rows = ctx.ref("source_vocab_divergence").collect()
    n_sources = ctx.source("documents").select("source").distinct().count()
    assert len(rows) == n_sources
    for r in rows:
        assert r.kl_divergence > -1e-4, (r.source, r.kl_divergence)
        assert r.n_terms > 0 and r.n_tokens_source > 0
    assert sorted(r.divergence_rank for r in rows) == list(range(1, len(rows) + 1))


def test_transition_matrix_is_stochastic(spark, sf_dir):
    """Per from_type, probabilities sum to 1 (within quantization) and
    total transitions equal events minus one per active user."""
    ctx = Context(spark, sf_dir)
    rows = ctx.ref("events_transition_matrix").collect()
    by_from = {}
    for r in rows:
        by_from.setdefault(r.from_type, []).append(r)
    for ft, rs in by_from.items():
        assert abs(sum(r.probability for r in rs) - 1.0) < 1e-4, ft
        assert all(r.from_total == sum(x.n_transitions for x in rs) for r in rs)
    total = sum(r.n_transitions for r in rows)
    e = ctx.source("events")
    n_events = e.count()
    n_users = e.select("user_id").distinct().count()
    assert total == n_events - n_users


def test_decontamination_removes_exactly_the_hits(spark, sf_dir):
    """Survivor count = corpus - distinct BM25 hits, and the anti-join
    broadcasts the hit list (corpus side never shuffles for it)."""
    ctx = Context(spark, sf_dir)
    clean = ctx.ref("docs_decontaminated")
    survivors = clean.agg(F.sum("n_docs")).collect()[0][0]
    corpus = ctx.source("documents").count()
    hits = ctx.ref("docs_bm25_topk").select("doc_id").distinct().count()
    assert survivors == corpus - hits
    plan = clean._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan, plan


def test_ann_recall_report_orders_variants_sanely(spark, sf_dir):
    """The evaluation query reproduces the documented ordering: multi-probe
    beats single-probe LSH, learned IVF cells at least match fixed slices,
    and every recall is a valid fraction of the truth set."""
    ctx = Context(spark, sf_dir)
    rows = {r.variant: r for r in ctx.ref("ann_recall_report").collect()}
    assert set(rows) == {
        "lsh",
        "lsh_multiprobe",
        "ivf_fixed",
        "ivf_kmeans",
        "pq_adc",
        "pq_adc_rotated",
    }
    truth_n = ctx.ref("ann_cosine_topk").count()
    for r in rows.values():
        assert 0.0 <= r.recall_at_k <= 1.0
        assert r.n_hits <= r.n_retrieved <= truth_n
    assert rows["lsh_multiprobe"].n_hits >= rows["lsh"].n_hits
    assert rows["ivf_kmeans"].n_hits >= rows["ivf_fixed"].n_hits


def test_scd_intervals_partition_each_user_timeline(spark, sf_dir):
    """SCD-2 invariants: versions are dense per user, exactly one current
    row per user, intervals chain (valid_to == next valid_from), adjacent
    versions change state, and island events add back to the user's total."""
    ctx = Context(spark, sf_dir)
    rows = ctx.ref("user_state_scd").collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    totals = {
        r.user_id: r.n
        for r in ctx.source("events").groupBy("user_id").agg(
            F.count("*").alias("n")
        ).collect()
    }
    for uid, rs in by_user.items():
        rs.sort(key=lambda r: r.version)
        assert [r.version for r in rs] == list(range(1, len(rs) + 1))
        assert sum(r.is_current for r in rs) == 1 and rs[-1].is_current == 1
        for a, b in zip(rs, rs[1:]):
            assert a.valid_to == b.valid_from
            assert a.event_type != b.event_type
        assert sum(r.n_events for r in rs) == totals[uid]


def test_time_rollup_grains_are_consistent(spark, sf_dir):
    """Each grain's event total equals the raw count, and coarser grains
    have no more rows than finer ones."""
    ctx = Context(spark, sf_dir)
    rows = ctx.ref("events_time_rollup").collect()
    n_events = ctx.source("events").count()
    by_grain = {}
    for r in rows:
        by_grain.setdefault(r.grain, []).append(r)
    assert set(by_grain) == {"day", "week", "month"}
    for grain, rs in by_grain.items():
        assert sum(r.n_events for r in rs) == n_events, grain
    assert len(by_grain["month"]) <= len(by_grain["week"]) <= len(by_grain["day"])


def test_regression_fit_bounds(spark, sf_dir):
    """corr in [-1,1], r2 = corr^2 (to quantization), slope and corr share
    a sign (cov determines both; the synthetic corpus draws price
    independent of quantity, so sign itself is data, not invariant)."""
    ctx = Context(spark, sf_dir)
    rows = ctx.ref("brand_price_quantity_fit").collect()
    assert rows
    for r in rows:
        assert -1.0 <= r.corr_xy <= 1.0
        assert abs(r.r_squared - r.corr_xy**2) < 1e-5
        assert r.regr_slope * r.corr_xy >= 0, r.p_brand
        assert r.n > 1


def test_sketch_plan_shapes(spark, sf_dir):
    """CMS point lookups and Bloom probes must broadcast the sketch side
    (cells are d*w rows, bits <= BLOOM_M rows — never a shuffle join), and
    the Bloom probe must plan a real LeftSemi."""
    ctx = Context(spark, sf_dir)
    cms_plan = (
        ctx.ref("events_cms_topusers")._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in cms_plan, cms_plan
    bloom_plan = (
        ctx.ref("customers_bloom_prune")._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in bloom_plan, bloom_plan
    assert "LeftSemi" in bloom_plan, bloom_plan


def test_semi_anti_plan_uses_semi_and_anti(spark, sf_dir):
    plan = (
        Context(spark, sf_dir)
        .ref("customers_semi_anti")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan


def test_phash_pairs_agree_with_minhash_truth(spark, sf_dir):
    """The perceptual-hash dedup (binary modality, Arrow path) must
    recover the same near-dup structure the text-side MinHash finds: the
    corpus's planted near-dups. Exact set equality is corpus-specific;
    what must hold anywhere is substantial overlap and no explosion."""
    ctx = Context(spark, sf_dir)
    ph = {(r.doc_a, r.doc_b) for r in ctx.ref("multimodal_phash_dedup").collect()}
    mh = {(r.doc_a, r.doc_b) for r in ctx.ref("dedup_minhash_lsh").collect()}
    n_docs = ctx.source("documents").count()
    assert ph, "phash found no pairs at all"
    assert len(ph) < n_docs * 5, "phash candidate explosion"
    assert len(ph & mh) >= len(mh) * 0.5, (len(ph), len(mh), len(ph & mh))
