"""Semantic invariants for the late-round-3 operators — properties the
oracle hash parity cannot express (parity proves both engines agree; these
prove the agreed answer has the right shape): credit conservation,
non-negativity, redaction completeness, suppression consistency."""

from __future__ import annotations

from pyspark.sql import functions as F

from dbt_tpch_spark.plans import Context, import_all_models

import_all_models()


def test_psi_is_nonnegative(spark, sf_dir):
    rows = Context(spark, sf_dir).ref("events_value_psi").collect()
    assert rows
    for r in rows:
        assert r["psi"] is not None and r["psi"] >= 0.0, r


def test_redaction_leaves_no_digits(spark, sf_dir):
    df = Context(spark, sf_dir).ref("events_props_redaction")
    leaked = df.filter(F.col("redacted_props").rlike("[0-9]")).count()
    assert leaked == 0
    # the number branch is actually exercised on this corpus
    assert df.filter(F.col("n_number") > 0).count() > 0


def test_audio_energy_bounds_and_sample_conservation(spark, sf_dir):
    ctx = Context(spark, sf_dir)
    frames = ctx.ref("multimodal_audio_energy")
    bad = frames.filter(
        (F.col("energy") < 0)
        | (F.col("peak") < 0)
        | (F.col("peak") >= 32768)
        | (F.col("n_frame_samples") <= 0)
    ).count()
    assert bad == 0
    # per-doc frame samples must reassemble to len(utf8(text)) // 2
    per_doc = frames.groupBy("doc_id").agg(
        F.sum("n_frame_samples").alias("n_samples")
    )
    docs = ctx.source("documents").select(
        "doc_id",
        (F.length(F.encode(F.col("text"), "utf-8")) / 2)
        .cast("long")
        .alias("expect"),
    )
    mism = (
        per_doc.join(docs, "doc_id")
        .filter(F.col("n_samples") != F.col("expect"))
        .count()
    )
    assert mism == 0


def test_multitouch_credit_is_conserved(spark, sf_dir):
    """Linear attribution must neither mint nor destroy revenue: channel
    credits (including the unattributed bucket) sum to total purchase
    value, within the documented 9-dp per-credit quantization."""
    ctx = Context(spark, sf_dir)
    report = ctx.ref("events_attribution_multitouch")
    credited = sum(r["credited_value"] for r in report.collect())
    total = (
        ctx.source("events")
        .filter(F.col("event_type") == "purchase")
        .agg(F.sum("value"))
        .first()[0]
    )
    assert abs(credited - total) < 1e-3, (credited, total)


def test_kanon_suppression_is_consistent(spark, sf_dir):
    rows = Context(spark, sf_dir).ref("customer_kanon_report").collect()
    from dbt_tpch_spark.models.extended import KANON_K

    assert rows
    for r in rows:
        if r["suppressed"]:
            assert r["n_customers"] < KANON_K
            assert r["avg_balance"] is None and r["total_balance"] is None
        else:
            assert r["n_customers"] >= KANON_K
            assert r["avg_balance"] is not None


def test_incremental_ingest_verdicts_cover_the_batch(spark, sf_dir):
    from dbt_tpch_spark.operators.dedup import INGEST_MOD

    ctx = Context(spark, sf_dir)
    out = ctx.ref("dedup_incremental_ingest")
    n_batch = (
        ctx.source("documents")
        .filter((F.col("doc_id") % INGEST_MOD) == 0)
        .count()
    )
    assert out.count() == n_batch
    # is_new XOR has-a-match, row by row
    bad = out.filter(
        (F.col("is_new") & F.col("best_match_doc").isNotNull())
        | (~F.col("is_new") & F.col("best_match_doc").isNull())
    ).count()
    assert bad == 0


# ---------------------------------------------------------------------------
# round-4 additions: exact similarity joins + leakage-safe splitting
# ---------------------------------------------------------------------------


def test_ppjoin_is_superset_of_lsh_pairs(spark, sf_dir):
    """PPJoin is the EXACT Jaccard>=t join (prefix filtering is lossless);
    MinHash-LSH verifies the same Jaccard on a probabilistically banded
    candidate set. Every LSH pair must therefore appear in the PPJoin
    output — LSH ⊆ exact (the reverse can miss: banding has false
    negatives)."""
    ctx = Context(spark, sf_dir)
    pp = ctx.ref("dedup_ppjoin").select("doc_a", "doc_b")
    lsh = ctx.ref("dedup_minhash_lsh").select("doc_a", "doc_b")
    missing = lsh.join(pp, ["doc_a", "doc_b"], "left_anti").count()
    assert missing == 0
    assert pp.count() >= lsh.count() > 0


def test_snm_pairs_match_global_adjacency(spark, sf_dir):
    """The halo-exchange bucketed plan must reproduce the single-window
    global sorted adjacency exactly (the oracle hash already proves this
    vs DuckDB; this is the in-repo proof against a Spark global lead,
    run only at test scale)."""
    from pyspark.sql.window import Window

    from dbt_tpch_spark.operators.dedup import norm_text_col
    from dbt_tpch_spark.operators.simjoin import SNM_KEY_LEN, SNM_WINDOW

    ctx = Context(spark, sf_dir)
    got = set(
        (r["doc_a"], r["doc_b"], r["gap"])
        for r in ctx.ref("dedup_sorted_neighborhood").collect()
    )
    d = ctx.source("documents").select(
        "doc_id", F.substring(norm_text_col(), 1, SNM_KEY_LEN).alias("skey")
    )
    w = Window.orderBy("skey", "doc_id")
    adj = d.select(
        "doc_id",
        *[F.lead("doc_id", k).over(w).alias(f"d{k}") for k in range(1, SNM_WINDOW + 1)],
    ).collect()
    want_pairs = set()
    for r in adj:
        for k in range(1, SNM_WINDOW + 1):
            if r[f"d{k}"] is not None:
                want_pairs.add((r["doc_id"], r[f"d{k}"], k))
    # every reported pair is a true global-adjacency pair at its gap
    assert all(p in want_pairs for p in got)
    assert len(got) > 0
    # COMPLETENESS (the direction a halo bug that silently drops boundary
    # pairs would break): every global-adjacency pair whose shingle
    # Jaccard meets the threshold must be reported — computed here with
    # the same rounded jaccard the model emits
    from dbt_tpch_spark.operators.simjoin import (
        PPJOIN_THRESHOLD,
        _pair_jaccard_cols,
        _shingle3_set_df,
    )
    from dbt_tpch_spark.functions import rnd

    sets = _shingle3_set_df(ctx)
    want_df = spark.createDataFrame(
        [(a, b, g) for (a, b, g) in want_pairs], "doc_a long, doc_b long, gap int"
    )
    _, _, jac = _pair_jaccard_cols()
    expected = (
        want_df.join(
            sets.select(F.col("doc_id").alias("doc_a"), F.col("words").alias("words_a")),
            "doc_a",
        )
        .join(
            sets.select(F.col("doc_id").alias("doc_b"), F.col("words").alias("words_b")),
            "doc_b",
        )
        .filter(rnd(jac, 6) >= PPJOIN_THRESHOLD)
        .select("doc_a", "doc_b", "gap")
        .collect()
    )
    missing = {(r["doc_a"], r["doc_b"], r["gap"]) for r in expected} - got
    assert not missing, f"halo dropped true adjacency pairs: {sorted(missing)[:5]}"


def test_cluster_split_has_zero_leakage(spark, sf_dir):
    """The whole point of docs_split_by_cluster: no verified near-dup pair
    may straddle splits under the cluster-keyed assignment, while the
    naive per-doc split does leak on this corpus (otherwise the audit
    report is vacuous)."""
    ctx = Context(spark, sf_dir)
    leak = ctx.ref("docs_split_leakage")
    cluster_leaks = leak.filter(
        (F.col("scheme") == "by_cluster") & F.col("is_leak")
    ).count()
    assert cluster_leaks == 0
    per_doc_rows = leak.filter(F.col("scheme") == "per_doc").count()
    assert per_doc_rows > 0


def test_doc_labels_cover_corpus_and_respect_pairs(spark, sf_dir):
    """dedup_doc_labels: total row count == corpus size; both ends of every
    near-dup pair share a label; labels are component minima (label <=
    doc_id)."""
    ctx = Context(spark, sf_dir)
    labels = ctx.ref("dedup_doc_labels")
    n_docs = ctx.source("documents").count()
    assert labels.count() == n_docs
    assert labels.filter(F.col("cluster_id") > F.col("doc_id")).count() == 0
    pairs = ctx.ref("dedup_minhash_lsh").select("doc_a", "doc_b")
    la = labels.withColumnsRenamed({"doc_id": "doc_a", "cluster_id": "ca"})
    lb = labels.withColumnsRenamed({"doc_id": "doc_b", "cluster_id": "cb"})
    split_pairs = (
        pairs.join(la, "doc_a").join(lb, "doc_b").filter(F.col("ca") != F.col("cb"))
    ).count()
    assert split_pairs == 0


def test_sampled_quantiles_error_is_bounded(spark, sf_dir):
    """With k=2048 on a sf0.001 corpus the sample IS the corpus (k >= n),
    so sampled == exact; at larger SF the error must stay within the
    DKW-style tolerance for k=2048 (~2.5 value-quantile percentiles —
    generous envelope: 10% of the exact value's magnitude + 5.0)."""
    ctx = Context(spark, sf_dir)
    rows = ctx.ref("events_sampled_quantiles").collect()
    assert len(rows) == 3
    for r in rows:
        if r["sample_k"] >= r["n_total"]:
            assert r["abs_err"] == 0.0, r
        else:
            assert r["abs_err"] <= 0.1 * abs(r["exact_value"]) + 5.0, r


def test_cluster_sharding_never_straddles_pairs(spark, sf_dir):
    """docs_shard_by_cluster's guarantee: both ends of every verified
    near-dup pair hash to the same shard (shard key = cluster id), so a
    shard-local dedup pass still sees every known pair; and the census
    conserves the corpus."""
    from dbt_tpch_spark.operators.sampling import SHARD_SALT

    ctx = Context(spark, sf_dir)
    labels = ctx.ref("dedup_doc_labels")
    nibble = F.substring(
        F.md5(F.concat(F.lit(SHARD_SALT), F.col("cluster_id").cast("string"))), 1, 1
    )
    shard = (F.instr(F.lit("0123456789abcdef"), nibble) - 1).cast("long")
    assign = labels.select("doc_id", shard.alias("shard_id"))
    pairs = ctx.ref("dedup_minhash_lsh").select("doc_a", "doc_b")
    sa = assign.withColumnsRenamed({"doc_id": "doc_a", "shard_id": "sh_a"})
    sb = assign.withColumnsRenamed({"doc_id": "doc_b", "shard_id": "sh_b"})
    straddling = (
        pairs.join(sa, "doc_a").join(sb, "doc_b").filter(F.col("sh_a") != F.col("sh_b"))
    ).count()
    assert straddling == 0
    census = ctx.ref("docs_shard_by_cluster")
    total = census.agg(F.sum("n_docs")).head()[0]
    assert total == ctx.source("documents").count()


# ---------------------------------------------------------------------------
# round-5 additions: waterfilling, k-center, entity clusters
# ---------------------------------------------------------------------------


def test_waterfill_allocations_sum_to_budget(spark, sf_dir):
    """The waterfilling contract: when a cap exists, sum(allocation) must
    equal the budget T (= fraction x total tokens) up to the 6-dp cap
    rounding, capped sources must be exactly the ones above the cap, and
    uncapped sources keep every token."""
    from dbt_tpch_spark.operators.sampling import WATERFILL_FRACTION

    ctx = Context(spark, sf_dir)
    rows = ctx.ref("docs_token_waterfill").collect()
    assert rows
    total = sum(r["n_tokens"] for r in rows)
    budget = WATERFILL_FRACTION * total
    got = sum(r["allocation"] for r in rows)
    # each of the <= |sources| capped rows carries <= 5e-7 cap rounding
    assert abs(got - budget) <= 1e-6 * len(rows) + 1e-6
    for r in rows:
        if r["is_capped"]:
            assert r["n_tokens"] > r["cap"] and r["allocation"] == r["cap"]
        else:
            assert r["allocation"] == float(r["n_tokens"])


def test_kcenter_radii_nonincreasing(spark, sf_dir):
    """Gonzalez greedy picks the FARTHEST point each round, so selection
    radii are non-increasing after the seed; all centers are distinct."""
    ctx = Context(spark, sf_dir)
    rows = sorted(
        ctx.ref("embeddings_kcenter_sample").collect(),
        key=lambda r: r["center_rank"],
    )
    assert rows[0]["center_rank"] == 1 and rows[0]["radius"] == 0.0
    radii = [r["radius"] for r in rows[1:]]
    assert all(a >= b for a, b in zip(radii, radii[1:]))
    ids = [r["vec_id"] for r in rows]
    assert len(ids) == len(set(ids))


def test_entity_clusters_respect_linkage_pairs(spark, sf_dir):
    """Both endpoints of every positive-score linkage pair must share an
    entity label; labels are component minima (entity_id <= customer_key);
    entity sizes sum to the corpus."""
    ctx = Context(spark, sf_dir)
    labels = {
        r["customer_key"]: r["entity_id"]
        for r in ctx.ref("customers_entity_clusters").collect()
    }
    n_cust = ctx.source("customer").count()
    assert len(labels) == n_cust
    assert all(eid <= ck for ck, eid in labels.items())
    matches = (
        ctx.ref("customers_linkage_scores")
        .filter(F.col("is_candidate_match"))
        .select("customer_a", "customer_b")
        .collect()
    )
    assert matches
    for m in matches:
        assert labels[m["customer_a"]] == labels[m["customer_b"]]


# ---------------------------------------------------------------- round 5


def test_auc_matches_bruteforce(spark, sf_dir):
    """The bucketed-cumsum AUC must equal the O(P*N) tie-credited
    definition computed in plain Python from the same scored frame."""
    from dbt_tpch_spark.operators.modeleval import _scored_labels

    ctx = Context(spark, sf_dir)
    row = ctx.ref("doc_quality_auc").head()
    rows = _scored_labels(ctx).collect()
    pos = [r["score"] for r in rows if r["is_pos"]]
    neg = [r["score"] for r in rows if not r["is_pos"]]
    assert row["n_pos"] == len(pos) and row["n_neg"] == len(neg)
    u = sum(
        1.0 if p > n else (0.5 if p == n else 0.0) for p in pos for n in neg
    )
    assert abs(row["auc"] - u / (len(pos) * len(neg))) < 1e-6


def test_pr_auc_matches_bruteforce(spark, sf_dir):
    """Step-interpolated AP recomputed from per-distinct-score blocks."""
    from collections import Counter

    from dbt_tpch_spark.operators.modeleval import _scored_labels

    ctx = Context(spark, sf_dir)
    row = ctx.ref("doc_quality_pr_auc").head()
    rows = _scored_labels(ctx).collect()
    by_score = Counter()
    pos_by_score = Counter()
    for r in rows:
        by_score[r["score"]] += 1
        pos_by_score[r["score"]] += 1 if r["is_pos"] else 0
    cum_pos = cum_tot = 0
    ap = 0.0
    p_total = sum(pos_by_score.values())
    for s in sorted(by_score, reverse=True):
        cum_pos += pos_by_score[s]
        cum_tot += by_score[s]
        ap += pos_by_score[s] * cum_pos / cum_tot
    assert abs(row["avg_precision"] - ap / p_total) < 1e-6
    assert 0.0 < row["avg_precision"] <= 1.0


def test_calibration_bins_partition_and_ece_consistent(spark, sf_dir):
    rows = Context(spark, sf_dir).ref("doc_quality_calibration").collect()
    assert rows
    n_docs = Context(spark, sf_dir).source("documents").count()
    assert sum(r["n"] for r in rows) == n_docs
    ece = sum(r["n"] * r["abs_gap"] for r in rows) / sum(r["n"] for r in rows)
    for r in rows:
        assert 0 <= r["bin"] <= 9
        assert 0.0 <= r["pos_rate"] <= 1.0
        assert abs(r["ece"] - ece) < 1e-5, (r["ece"], ece)


def test_spearman_matches_bruteforce(spark, sf_dir):
    """Rank correlation recomputed in Python with the SAME deterministic
    tie convention (order by metric, then user_id)."""
    from dbt_tpch_spark.functions import dsum

    ctx = Context(spark, sf_dir)
    row = ctx.ref("events_user_spearman").head()
    pu = (
        ctx.source("events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("a"),
            dsum(F.col("value")).alias("b"),
        )
        .collect()
    )
    ra = {
        r["user_id"]: i + 1
        for i, r in enumerate(sorted(pu, key=lambda r: (r["a"], r["user_id"])))
    }
    rb = {
        r["user_id"]: i + 1
        for i, r in enumerate(sorted(pu, key=lambda r: (r["b"], r["user_id"])))
    }
    n = len(pu)
    sa = sum(ra.values())
    saa = sum(v * v for v in ra.values())
    sab = sum(ra[u] * rb[u] for u in ra)
    rho = (sab - sa * sa / n) / (saa - sa * sa / n)
    assert row["n_users"] == n
    assert abs(row["spearman_rho"] - rho) < 1e-6
    assert -1.0 <= row["spearman_rho"] <= 1.0


def test_ks_matches_bruteforce(spark, sf_dir):
    """Exact two-sample KS recomputed from raw per-arm value lists."""
    from dbt_tpch_spark.operators.rankstats import RANK_ARM_A, RANK_ARM_B

    ctx = Context(spark, sf_dir)
    row = ctx.ref("events_ks_test").head()
    ev = (
        ctx.source("events")
        .filter(F.col("event_type").isin(RANK_ARM_A, RANK_ARM_B))
        .select("event_type", "value")
        .collect()
    )
    a = sorted(r["value"] for r in ev if r["event_type"] == RANK_ARM_A)
    b = sorted(r["value"] for r in ev if r["event_type"] == RANK_ARM_B)
    vals = sorted(set(a) | set(b))
    import bisect

    d = max(
        abs(
            bisect.bisect_right(a, v) / len(a)
            - bisect.bisect_right(b, v) / len(b)
        )
        for v in vals
    )
    assert abs(row["ks_stat"] - d) < 1e-6


def test_temporal_split_embargo_gap_holds(spark, sf_dir):
    from dbt_tpch_spark.operators.modeleval import SPLIT_EMBARGO_MS

    ctx = Context(spark, sf_dir)
    rows = {r["split"]: r for r in ctx.ref("events_temporal_split_embargo").collect()}
    total = ctx.source("events").count()
    assert sum(r["n_events"] for r in rows.values()) == total
    assert "train" in rows and "test" in rows
    # min(test) > t_cut + E and max(train) <= t_cut  =>  gap > E
    assert rows["test"]["min_ms"] - rows["train"]["max_ms"] > SPLIT_EMBARGO_MS
    if "embargo" in rows:
        assert rows["embargo"]["min_ms"] > rows["train"]["max_ms"]
        assert rows["embargo"]["max_ms"] < rows["test"]["min_ms"]


def test_rrf_fused_list_is_consistent(spark, sf_dir):
    """Fused ranks are dense 1..k per query, every fused doc cites at
    least one source rank, the cited BM25 rank matches the BM25 model,
    and the RRF score equals its definition."""
    ctx = Context(spark, sf_dir)
    fused = ctx.ref("docs_rrf_fusion").collect()
    bm = {
        (r["query_id"], r["doc_id"]): r["rank"]
        for r in ctx.ref("docs_bm25_topk").collect()
    }
    by_q = {}
    for r in fused:
        by_q.setdefault(r["query_id"], []).append(r)
        assert r["r_bm25"] is not None or r["r_tfidf"] is not None, r
        if r["r_bm25"] is not None:
            assert bm[(r["query_id"], r["doc_id"])] == r["r_bm25"]
        want = (1.0 / (60 + r["r_bm25"]) if r["r_bm25"] else 0.0) + (
            1.0 / (60 + r["r_tfidf"]) if r["r_tfidf"] else 0.0
        )
        assert abs(r["rrf_score"] - want) < 1e-8, r
    for q, rs in by_q.items():
        assert sorted(r["fused_rank"] for r in rs) == list(range(1, len(rs) + 1))


def test_ndcg_bounded_by_one(spark, sf_dir):
    rows = Context(spark, sf_dir).ref("docs_ndcg_fused").collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["ndcg_at_k"] <= 1.0 + 1e-9, r
        assert r["dcg"] <= r["idcg"] + 1e-9, r


def test_kappa_and_mcnemar_cells_consistent(spark, sf_dir):
    ctx = Context(spark, sf_dir)
    k = ctx.ref("doc_langid_kappa").head()
    assert k["cohens_kappa"] <= k["accuracy"] + 1e-9 <= 1.0 + 1e-9
    m = ctx.ref("doc_quality_mcnemar").head()
    n_docs = ctx.source("documents").count()
    cells = (
        m["n_both_keep"] + m["n_rule_only"] + m["n_clf_only"] + m["n_both_drop"]
    )
    assert cells == n_docs
    assert m["mcnemar_chi2"] >= 0.0


def test_trimmed_mean_is_interior(spark, sf_dir):
    ctx = Context(spark, sf_dir)
    r = ctx.ref("order_trimmed_mean").head()
    lohi = ctx.source("orders").agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    ).head()
    trim = r["n_total"] * 1 // 100
    assert r["n_kept"] == r["n_total"] - 2 * trim
    assert lohi["lo"] <= r["trimmed_mean"] <= lohi["hi"]
    assert lohi["lo"] <= r["raw_mean"] <= lohi["hi"]


def test_ess_within_kish_bounds(spark, sf_dir):
    rows = Context(spark, sf_dir).ref("docs_dsir_ess").collect()
    assert rows
    for r in rows:
        assert 1.0 - 1e-6 <= r["ess"] <= r["n_docs"] + 1e-6, r
        assert 0.0 < r["ess_ratio"] <= 1.0 + 1e-6


def test_gini_benford_bounds(spark, sf_dir):
    ctx = Context(spark, sf_dir)
    g = ctx.ref("customer_gini").head()
    assert 0.0 <= g["gini"] < 1.0
    rows = ctx.ref("events_benford").collect()
    assert {r["digit"] for r in rows} <= set("123456789")
    assert sum(r["n"] for r in rows) == rows[0]["n_tot"]
    assert abs(sum(r["observed_p"] for r in rows) - 1.0) < 1e-6


def test_zipf_heaps_fits_are_sane(spark, sf_dir):
    ctx = Context(spark, sf_dir)
    z = ctx.ref("vocab_zipf_fit").head()
    assert z["zipf_slope"] < 0.0 and 0.0 <= z["r_squared"] <= 1.0
    h = ctx.ref("vocab_heaps_fit").head()
    assert 0.0 < h["heaps_beta"] <= 1.0 and 0.0 <= h["r_squared"] <= 1.0


def test_km_survival_is_monotone_and_risk_telescopes(spark, sf_dir):
    """S(t) nonincreasing from S<=1; the at-risk count telescopes exactly
    (n_risk[t+1] = n_risk[t] - d[t] - c[t]); total at-risk at day 0 equals
    the users-with-a-view population."""
    ctx = Context(spark, sf_dir)
    rows = sorted(
        ctx.ref("user_survival_km").collect(), key=lambda r: r["dur_day"]
    )
    assert rows and rows[0]["survival"] <= 1.0 + 1e-9
    for a, b in zip(rows, rows[1:]):
        assert b["survival"] <= a["survival"] + 1e-9
        assert b["n_risk"] == a["n_risk"] - a["n_events"] - a["n_censored"]
    n_viewers = (
        ctx.source("events")
        .filter(F.col("event_type") == "view")
        .select("user_id")
        .distinct()
        .count()
    )
    assert rows[0]["n_risk"] == n_viewers


def test_cuped_adjustment_preserves_pooled_mean(spark, sf_dir):
    """CUPED is mean-preserving in the pooled population: the
    user-weighted average of adjusted arm means equals the raw pooled
    post-period mean (θ·(X − E[X]) integrates to zero). Also ρ² ∈ [0,1]
    and the SRM census covers every user exactly once."""
    ctx = Context(spark, sf_dir)
    rows = ctx.ref("events_ab_cuped").collect()
    assert len(rows) == 2
    n = sum(r["n_users"] for r in rows)
    raw = sum(r["n_users"] * r["mean_post"] for r in rows) / n
    adj = sum(r["n_users"] * r["mean_post_adjusted"] for r in rows) / n
    assert abs(raw - adj) < 1e-4, (raw, adj)
    assert 0.0 <= rows[0]["var_reduction"] <= 1.0 + 1e-9
    srm = ctx.ref("events_ab_srm_check").head()
    n_users = ctx.source("events").select("user_id").distinct().count()
    assert srm["n_a"] + srm["n_b"] == n_users
    assert srm["srm_chi2"] >= 0.0


def test_uncertainty_intervals_contain_their_estimates(spark, sf_dir):
    """Jackknife and delta-method CIs must bracket their point estimates
    with strictly positive width (the floor-overflow regression that
    zeroed the jackknife SE made the interval degenerate)."""
    ctx = Context(spark, sf_dir)
    jk = ctx.ref("order_mean_jackknife_ci").head()
    assert jk["n_blocks"] == 32
    assert jk["jackknife_se"] > 0.0
    assert jk["ci_lo"] < jk["mean"] < jk["ci_hi"]
    rc = ctx.ref("events_ratio_metric_ci").head()
    assert rc["delta_se"] > 0.0
    assert rc["ci_lo"] < rc["ratio"] < rc["ci_hi"]


def test_lsh_planner_monotone_and_bounds_production(spark, sf_dir):
    """With K fixed, more bands means finer buckets (n_buckets grows),
    lower half-recall threshold (s_half falls), and at least as much
    candidate work; and the production LSH config's candidate workload
    must upper-bound the verified-pair count the production path emits
    (verified pairs are a subset of candidates)."""
    ctx = Context(spark, sf_dir)
    rows = sorted(
        ctx.ref("lsh_band_collision_stats").collect(),
        key=lambda r: r["n_bands"],
    )
    assert [r["n_bands"] * r["rows_per_band"] for r in rows] == [16] * len(rows)
    for a, b in zip(rows, rows[1:]):
        assert a["n_buckets"] < b["n_buckets"], (a, b)
        assert a["s_half"] > b["s_half"], (a, b)
        assert a["candidate_pairs"] <= b["candidate_pairs"], (a, b)
    for r in rows:
        assert r["candidate_pairs"] >= r["colliding_buckets"] * 1
        assert (r["max_bucket"] >= 2) == (r["colliding_buckets"] > 0)
    from dbt_tpch_spark.operators.dedup import LSH_BANDS, MINHASH_K

    prod = next(r for r in rows if r["n_bands"] == LSH_BANDS)
    assert prod["rows_per_band"] == MINHASH_K // LSH_BANDS
    n_verified = ctx.ref("dedup_minhash_lsh").count()
    assert prod["candidate_pairs"] >= n_verified


def test_oov_rate_matches_bruteforce(spark, sf_dir):
    """Brute-force recompute of the top-V vocabulary (count desc, term asc)
    and per-source OOV tallies in plain Python."""
    from collections import Counter

    from dbt_tpch_spark.operators.retrieval import VOCAB_V

    ctx = Context(spark, sf_dir)
    docs = ctx.source("documents").select("source", "text").collect()
    census: Counter = Counter()
    per_source: dict[str, Counter] = {}
    for r in docs:
        toks = r["text"].strip().lower().split(" ")
        census.update(toks)
        per_source.setdefault(r["source"], Counter()).update(toks)
    vocab = {
        t for t, _ in sorted(census.items(), key=lambda kv: (-kv[1], kv[0]))[:VOCAB_V]
    }
    got = {r["source"]: r for r in ctx.ref("docs_oov_rate").collect()}
    assert set(got) == set(per_source)
    for src, cnt in per_source.items():
        total = sum(cnt.values())
        oov = sum(c for t, c in cnt.items() if t not in vocab)
        distinct_oov = sum(1 for t in cnt if t not in vocab)
        row = got[src]
        assert row["total_tokens"] == total, src
        assert row["oov_tokens"] == oov, src
        assert row["distinct_oov_terms"] == distinct_oov, src
        assert abs(row["oov_rate"] - oov / total) < 1e-6, src


def test_l_diversity_bounds_and_conservation(spark, sf_dir):
    """1 <= l_distinct <= k; 1 <= entropy_l <= l_distinct (entropy of a
    discrete distribution is at most ln of its support size); group sizes
    sum to the corpus."""
    ctx = Context(spark, sf_dir)
    rows = ctx.ref("docs_l_diversity").collect()
    assert rows
    n_docs = ctx.source("documents").count()
    assert sum(r["k_anonymity"] for r in rows) == n_docs
    for r in rows:
        assert 1 <= r["l_distinct"] <= r["k_anonymity"], r
        assert 1.0 - 1e-6 <= r["entropy_l"] <= r["l_distinct"] + 1e-6, r


def test_mad_anomaly_matches_bruteforce(spark, sf_dir):
    """Recompute median/MAD/modified-z in plain Python with the repo rnd
    convention and compare flags exactly."""
    import math

    from dbt_tpch_spark.operators.timeseries import MAD_SCALE, MAD_Z_CUT

    def rnd6(x: float) -> float:
        return math.floor(x * 1e6 + 0.5) / 1e6

    def median(xs: list[float]) -> float:
        s = sorted(xs)
        n = len(s)
        mid = n // 2
        return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2.0

    ctx = Context(spark, sf_dir)
    rows = ctx.ref("events_mad_anomaly").collect()
    assert rows
    # output revenues are rnd6-quantized while the model's median/MAD run
    # on the raw sums, so the recompute carries a <= 5e-7 input shift:
    # compare z at 1e-4, far below the 3.5 decision boundary
    revs = [r["revenue"] for r in rows]
    med = rnd6(median(revs))
    mad = rnd6(median([abs(x - med) for x in revs]))
    for r in rows:
        z = rnd6(MAD_SCALE * (r["revenue"] - med) / mad)
        assert abs(r["robust_z"] - z) < 1e-4, r
        assert r["is_anomaly"] == (abs(r["robust_z"]) > MAD_Z_CUT), r


def test_dup_threshold_curve_is_a_consistent_suffix_sum(spark, sf_dir):
    """pairs_at_or_above must be the exact suffix sum of n_pairs over
    descending thresholds, strictly non-increasing in threshold, with the
    lowest bin's cumulative equal to the total pair mass."""
    ctx = Context(spark, sf_dir)
    rows = sorted(
        ctx.ref("embeddings_dup_threshold_curve").collect(),
        key=lambda r: -r["threshold"],
    )
    assert rows
    cum = 0
    for r in rows:
        assert r["n_pairs"] > 0, r  # empty bins are absent, not zero
        cum += r["n_pairs"]
        assert r["pairs_at_or_above"] == cum, r
    total = sum(r["n_pairs"] for r in rows)
    assert rows[-1]["pairs_at_or_above"] == total


def test_bpe_merges_match_bruteforce_trainer(spark, sf_dir):
    """Run the same greedy BPE loop in plain Python (dict census, max by
    (count, -pair) with lexicographic ties, str.replace re-segmentation)
    and compare every round's pair, count, and symbol total exactly."""
    from collections import Counter

    from dbt_tpch_spark.operators.text import BPE_MERGE_BASE, BPE_ROUNDS

    ctx = Context(spark, sf_dir)
    docs = ctx.source("documents").select("text").collect()
    wc: Counter = Counter()
    for r in docs:
        wc.update(r["text"].strip().lower().split(" "))
    expect = []
    for i in range(1, BPE_ROUNDS + 1):
        census: Counter = Counter()
        for w, n in wc.items():
            for j in range(len(w) - 1):
                census[w[j : j + 2]] += n
        pair = min(census, key=lambda p: (-census[p], p))
        cnt = census[pair]
        merged = chr(BPE_MERGE_BASE + i)
        nxt: Counter = Counter()
        for w, n in wc.items():
            nxt[w.replace(pair, merged)] += n
        wc = nxt
        syms = sum(len(w) * n for w, n in wc.items())
        expect.append((i, pair, cnt, syms))
    got = sorted(
        (
            r["round"],
            r["merged_pair"],
            r["n_occurrences"],
            r["total_symbols"],
        )
        for r in Context(spark, sf_dir).ref("bpe_train_merges").collect()
    )
    assert got == expect


def test_bpe_chained_merge_uses_codepoint_symbols(spark, sf_dir):
    """Regression for the mod-256 chr() divergence: a corpus where round
    2's winning pair CONTAINS the round-1 merge symbol. With Spark SQL
    chr() the round-1 symbol would be '\\x01' instead of U+E001 and every
    subsequent round's merged_pair / tie-break ordering would diverge from
    the codepoint-based oracle. Drives the same Spark loop directly and
    compares against a plain-Python trainer."""
    from collections import Counter

    from dbt_tpch_spark.operators.text import (
        BPE_MERGE_BASE,
        BPE_ROUNDS,
        _bpe_train_loop,
    )

    # 'abc' dominates: round 1 merges 'ab' (ties with 'bc' broken lexi),
    # round 2 merges '<s1>c' — the chained case. Filler words keep later
    # rounds non-degenerate.
    corpus = {"abc": 50, "abd": 10, "xyz": 7, "wxyz": 5, "qq": 3}
    wc_df = spark.createDataFrame(
        [(w, n) for w, n in corpus.items()], "word string, n long"
    )
    got = sorted(
        (r["round"], r["merged_pair"], r["n_occurrences"], r["total_symbols"])
        for r in _bpe_train_loop(wc_df).collect()
    )

    wc: Counter = Counter(corpus)
    expect = []
    for i in range(1, BPE_ROUNDS + 1):
        census: Counter = Counter()
        for w, n in wc.items():
            for j in range(len(w) - 1):
                census[w[j : j + 2]] += n
        pair = min(census, key=lambda p: (-census[p], p))
        merged = chr(BPE_MERGE_BASE + i)
        nxt: Counter = Counter()
        for w, n in wc.items():
            nxt[w.replace(pair, merged)] += n
        cnt = census[pair]
        wc = nxt
        syms = sum(len(w) * n for w, n in wc.items())
        expect.append((i, pair, cnt, syms))
    assert got == expect
    # the chain actually happened: round 2's pair contains round 1's symbol
    assert chr(BPE_MERGE_BASE + 1) in expect[1][1]


def test_bpe_application_matches_python_replay(spark, sf_dir):
    """Applying the learned merge table to the corpus must reproduce a
    plain-Python replay exactly: per source, symbol counts before/after
    and after <= before (a merge never grows text)."""
    from dbt_tpch_spark.operators.text import BPE_MERGE_BASE, BPE_ROUNDS

    ctx = Context(spark, sf_dir)
    merges = {
        r["round"]: r["merged_pair"]
        for r in ctx.ref("bpe_train_merges").collect()
    }
    docs = ctx.source("documents").select("source", "text").collect()
    expect: dict = {}
    for r in docs:
        t = r["text"].strip().lower()
        before = len(t.replace(" ", ""))
        for i in range(1, BPE_ROUNDS + 1):
            t = t.replace(merges[i], chr(BPE_MERGE_BASE + i))
        after = len(t.replace(" ", ""))
        e = expect.setdefault(r["source"], [0, 0, 0])
        e[0] += 1
        e[1] += before
        e[2] += after
    got = {
        r["source"]: [r["n_docs"], r["symbols_before"], r["symbols_after"]]
        for r in ctx.ref("docs_bpe_token_counts").collect()
    }
    assert got == expect
    for n, b, a in got.values():
        assert a <= b


def test_rollup_subtotals_are_consistent(spark, sf_dir):
    """Detail rows must sum to their status subtotal, subtotals to the
    grand total, and grouping flags must partition the output."""
    rows = Context(spark, sf_dir).ref("orders_rollup_revenue").collect()
    detail = [r for r in rows if not r["is_total_status"] and not r["is_total_year"]]
    sub = [r for r in rows if not r["is_total_status"] and r["is_total_year"]]
    grand = [r for r in rows if r["is_total_status"] and r["is_total_year"]]
    assert len(grand) == 1
    assert sum(r["n_orders"] for r in detail) == grand[0]["n_orders"]
    assert sum(r["n_orders"] for r in sub) == grand[0]["n_orders"]
    by_status = {}
    for r in detail:
        by_status[r["status"]] = by_status.get(r["status"], 0) + r["n_orders"]
    for r in sub:
        assert by_status[r["status"]] == r["n_orders"], r
    # rollup (not cube): no year-only subtotal rows
    assert not [r for r in rows if r["is_total_status"] and not r["is_total_year"]]


def test_quantile_norm_is_monotone_and_percentile_preserving(spark, sf_dir):
    """Within a source, normalized score must be non-decreasing in the raw
    score bin; doc counts must conserve; and the normalized score of the
    global distribution's own bins is (at most one grid step off) the
    identity — mapping a distribution onto itself is a no-op."""
    ctx = Context(spark, sf_dir)
    rows = ctx.ref("docs_quality_quantile_norm").collect()
    assert rows
    n_docs = ctx.source("documents").count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    by_src: dict = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    for src, rs in by_src.items():
        rs.sort(key=lambda r: r["score_bin"])
        for a, b in zip(rs, rs[1:]):
            assert a["normalized_score"] <= b["normalized_score"], (src, a, b)
        # CDF endpoints: last bin maps to the global maximum bin
        assert abs(rs[-1]["source_cdf"] - 1.0) < 1e-6


def test_boxplot_fences_and_outlier_census(spark, sf_dir):
    """Five-number ordering, fence arithmetic, and the outlier count
    recomputed brute-force from the raw values."""
    from dbt_tpch_spark.operators.stats import TUKEY_K

    ctx = Context(spark, sf_dir)
    rows = {r["event_type"]: r for r in ctx.ref("events_boxplot_stats").collect()}
    assert rows
    vals: dict = {}
    for r in ctx.source("events").select("event_type", "value").collect():
        vals.setdefault(r["event_type"], []).append(r["value"])
    total = 0
    for et, r in rows.items():
        assert r["vmin"] <= r["q1"] <= r["median"] <= r["q3"] <= r["vmax"], r
        assert abs(r["lo_fence"] - (r["q1"] - TUKEY_K * (r["q3"] - r["q1"]))) < 2e-6
        assert abs(r["hi_fence"] - (r["q3"] + TUKEY_K * (r["q3"] - r["q1"]))) < 2e-6
        brute = sum(
            1 for v in vals[et] if v < r["lo_fence"] or v > r["hi_fence"]
        )
        assert r["n_outliers"] == brute, (et, r["n_outliers"], brute)
        assert r["n_rows"] == len(vals[et])
        total += r["n_rows"]
    assert total == sum(len(v) for v in vals.values())


def test_loo_impact_is_algebraically_consistent(spark, sf_dir):
    """Weighted recombination: n_s · mean-contribution must reconstruct the
    global mean ((N−n_s)·mean_loo + Q_s ≡ Q_total for every source), token
    shares sum to 1, and the delta's sign matches whether the source's own
    mean quality is below the corpus mean."""
    ctx = Context(spark, sf_dir)
    rows = ctx.ref("source_loo_impact").collect()
    assert rows
    assert abs(sum(r["token_share"] for r in rows) - 1.0) < 1e-4
    n_total = sum(r["n_docs"] for r in rows)
    for r in rows:
        # reconstruct Q_total two ways: via mean_quality and via mean_loo
        q_total = r["mean_quality"] * n_total
        q_s = q_total - r["mean_quality_loo"] * (n_total - r["n_docs"])
        own_mean = q_s / r["n_docs"]
        if r["delta_quality"] > 1e-4:
            assert own_mean < r["mean_quality"] + 1e-3, r
        if r["delta_quality"] < -1e-4:
            assert own_mean > r["mean_quality"] - 1e-3, r
        assert abs(r["delta_quality"] - (r["mean_quality_loo"] - r["mean_quality"])) < 2e-6, r


def test_sliding_hll_merge_is_lossless(spark, sf_dir):
    """Merging per-hour register panes must give EXACTLY the estimate a
    fresh HLL over the raw window would give (register max is a lossless
    union). Recomputed in plain Python (hashlib md5 == engine md5) for
    five sample window ends; plus the m=256 error bound sanity check."""
    import hashlib
    import math

    from dbt_tpch_spark.operators.sketches import (
        HLL_ALPHA,
        HLL_M,
        HLL_RHO_MAX,
        HLL_SALT,
        HLL_WINDOW_HOURS,
    )

    def rnd4(x):
        return math.floor(x * 1e4 + 0.5) / 1e4

    def estimate(users):
        regs = {}
        for u in users:
            h = hashlib.md5(f"{HLL_SALT}{u}".encode()).hexdigest()
            bucket = int(h[:2], 16)
            tail = h[2:14]
            stripped = tail.lstrip("0")
            zeros = len(tail) - len(stripped)
            first = stripped[0] if stripped else ""
            lz = {"": 0, "1": 3, "2": 2, "3": 2}.get(
                first, 1 if first in "4567" else 0
            )
            rho = min(zeros * 4 + lz + 1, HLL_RHO_MAX)
            regs[bucket] = max(regs.get(bucket, 0), rho)
        z = sum(2.0 ** -v for v in regs.values()) + (HLL_M - len(regs))
        e_raw = HLL_ALPHA * HLL_M * HLL_M / z
        v = HLL_M - len(regs)
        if e_raw <= 2.5 * HLL_M and v > 0:
            return rnd4(HLL_M * math.log(HLL_M / v))
        return rnd4(e_raw)

    ctx = Context(spark, sf_dir)
    rows = sorted(
        ctx.ref("events_hll_sliding_users").collect(),
        key=lambda r: r["window_end_hour"],
    )
    assert rows
    assert max(r["rel_error"] for r in rows) < 0.2
    events = ctx.source("events").select("ts", "user_id").collect()
    by_hour: dict = {}
    for r in events:
        h = int(r["ts"].timestamp() // 3600)
        by_hour.setdefault(h, []).append(r["user_id"])
    step = max(1, len(rows) // 5)
    for row in rows[::step]:
        end = int(row["window_end_hour"].timestamp() // 3600)
        users = [
            u
            for h in range(end - HLL_WINDOW_HOURS + 1, end + 1)
            for u in by_hour.get(h, [])
        ]
        assert row["exact_users"] == len(set(users)), row
        assert abs(row["hll_estimate"] - estimate(users)) < 1e-9, row


def test_fd_census_matches_bruteforce(spark, sf_dir):
    """Recompute every candidate FD census in plain Python and compare;
    the doc_id control must hold exactly (keys determine everything)."""
    ctx = Context(spark, sf_dir)
    docs = ctx.source("documents").select(
        "doc_id", "lang", "source", "n_chars"
    ).collect()
    cands = {
        "doc_id_to_lang": lambda r: (str(r["doc_id"]), r["lang"]),
        "lang_to_source": lambda r: (r["lang"], r["source"]),
        "source_to_lang": lambda r: (r["source"], r["lang"]),
        "band_to_lang": lambda r: (str(r["n_chars"] // 100), r["lang"]),
    }
    got = {r["fd"]: r for r in ctx.ref("docs_fd_violations").collect()}
    assert set(got) == set(cands)
    for fd, keyfn in cands.items():
        groups: dict = {}
        for r in docs:
            x, y = keyfn(r)
            groups.setdefault(x, set()).add(y)
        viol = sum(1 for ys in groups.values() if len(ys) > 1)
        row = got[fd]
        assert row["n_groups"] == len(groups), fd
        assert row["violating_groups"] == viol, fd
        assert row["max_distinct_y"] == max(len(ys) for ys in groups.values()), fd
        assert row["holds"] == (viol == 0), fd
    assert got["doc_id_to_lang"]["holds"] is True


def test_quality_survivor_election_matches_bruteforce(spark, sf_dir):
    """Recompute the election in plain Python from the labels + scores:
    best-policy mean, naive-policy mean, and the changed-election count
    must match; the best policy can never be worse than naive."""
    import math

    ctx = Context(spark, sf_dir)
    labels = {
        r["doc_id"]: r["cluster_id"]
        for r in ctx.ref("dedup_doc_labels").collect()
    }
    q = {
        r["doc_id"]: r["quality_prob"]
        for r in ctx.ref("doc_quality_classifier").collect()
    }
    clusters: dict = {}
    for d, c in labels.items():
        clusters.setdefault(c, []).append(d)
    best, naive, changed = [], [], 0
    for members in clusters.values():
        b = max(members, key=lambda d: (q[d], -d))
        n = min(members)
        best.append(q[b])
        naive.append(q[n])
        changed += b != n
    row = ctx.ref("docs_quality_survivors").head()
    rnd6 = lambda x: math.floor(x * 1e6 + 0.5) / 1e6  # noqa: E731
    assert row["n_clusters"] == len(clusters)
    assert row["n_docs"] == len(labels)
    assert row["n_elections_changed"] == changed
    assert abs(row["mean_quality_best_policy"] - rnd6(sum(best) / len(best))) < 2e-6
    assert abs(row["mean_quality_naive_policy"] - rnd6(sum(naive) / len(naive))) < 2e-6
    assert row["quality_gain"] >= 0.0


def test_lsh_recall_report_counts_are_consistent(spark, sf_dir):
    """The report's counts must reconcile with the two pair models it
    composes, and recall must be the exact ratio."""
    ctx = Context(spark, sf_dir)
    row = ctx.ref("dedup_lsh_recall_report").head()
    n_exact = ctx.ref("dedup_ppjoin").count()
    n_lsh = ctx.ref("dedup_minhash_lsh").count()
    assert row["n_exact_pairs"] == n_exact
    assert row["n_lsh_pairs"] == n_lsh  # LSH ⊆ exact, so the join loses none
    assert row["n_missed"] == n_exact - n_lsh
    assert abs(row["recall"] - n_lsh / n_exact) < 1e-6
    if row["n_missed"] == 0:
        assert row["mean_missed_jaccard"] is None


def test_embedding_lsh_is_subset_of_bruteforce_and_recall_consistent(
    spark, sf_dir
):
    """The banded sign-LSH dedup output must be a SUBSET of the brute-force
    threshold set (the verify stage is exact, so LSH can only miss, never
    invent), and the recall harness's counts must reconcile: lsh ≤ truth,
    candidates ≤ C(sample, 2), recall the exact ratio."""
    from dbt_tpch_spark.operators.dedup import (
        COSINE_THRESHOLD,
        DOT_SPARK,
        EMB_RECALL_SAMPLE,
    )
    from dbt_tpch_spark.functions import rnd as _rnd

    ctx = Context(spark, sf_dir)
    lsh_pairs = {
        (r["vec_a"], r["vec_b"])
        for r in ctx.ref("dedup_embedding_cosine").collect()
    }
    # brute-force truth over the whole corpus (test scale only)
    e = ctx.source("embeddings")
    norms = e.select(
        "vec_id",
        F.col("embedding").alias("emb"),
        F.expr(DOT_SPARK.format(a="embedding", b="embedding")).alias("nn"),
    ).localCheckpoint(eager=True)
    a = norms.select(
        F.col("vec_id").alias("vec_a"),
        F.col("emb").alias("ea"),
        F.col("nn").alias("na"),
    )
    b = norms.select(
        F.col("vec_id").alias("vec_b"),
        F.col("emb").alias("eb"),
        F.col("nn").alias("nb"),
    )
    cos = F.expr(DOT_SPARK.format(a="ea", b="eb")) / (
        F.sqrt(F.col("na")) * F.sqrt(F.col("nb"))
    )
    truth = {
        (r["vec_a"], r["vec_b"])
        for r in a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", _rnd(cos, 6).alias("c"))
        .filter(F.col("c") >= COSINE_THRESHOLD)
        .collect()
    }
    assert lsh_pairs <= truth, lsh_pairs - truth
    row = ctx.ref("dedup_embedding_lsh_recall").head()
    s = row["sample_size"]
    assert s <= EMB_RECALL_SAMPLE
    assert row["n_lsh_pairs"] <= row["n_true_pairs"]
    assert row["n_candidate_pairs"] <= s * (s - 1) // 2
    if row["n_true_pairs"]:
        assert (
            abs(row["recall"] - row["n_lsh_pairs"] / row["n_true_pairs"])
            < 1e-6
        )
    else:
        assert row["recall"] is None


def test_emb_band_stats_reconcile_with_corpus(spark, sf_dir):
    """Every band's bucket census must cover the whole corpus exactly
    once, candidate pairs must be bounded by C(n, 2), and the theoretical
    config recall must match the closed form."""
    import math

    from dbt_tpch_spark.operators.dedup import EMB_LSH_BANDS, EMB_LSH_BITS

    ctx = Context(spark, sf_dir)
    n = ctx.source("embeddings").count()
    rows = ctx.ref("emb_lsh_band_stats").collect()
    assert len(rows) == EMB_LSH_BANDS
    p_bit = lambda c: 1 - math.acos(c) / math.pi  # noqa: E731
    for r in rows:
        assert r["n_vectors"] == n, r
        assert r["max_bucket_size"] <= n
        assert r["n_buckets"] <= 2**EMB_LSH_BITS
        assert 0 < r["candidate_pairs"] <= n * (n - 1) // 2
        for col, c in (("config_recall_at_05", 0.5), ("config_recall_at_09", 0.9)):
            want = 1 - (1 - p_bit(c) ** EMB_LSH_BITS) ** EMB_LSH_BANDS
            assert abs(r[col] - want) < 1e-5, (col, r[col], want)


def test_knn_accuracy_matches_python_loo(spark, sf_dir):
    """Recompute the LOO k-NN vote in plain Python over the same sample
    (same md5 sample order, same cosine quantization, same tie-breaks)."""
    import hashlib

    from dbt_tpch_spark.operators.similarity import (
        KNN_K,
        KNN_SAMPLE,
        _KNN_SALT,
    )

    ctx = Context(spark, sf_dir)
    vecs = {
        r["vec_id"]: (r["label"], r["embedding"])
        for r in ctx.source("embeddings").collect()
    }
    ids = sorted(
        vecs,
        key=lambda i: hashlib.md5(f"{_KNN_SALT}{i}".encode()).hexdigest(),
    )[:KNN_SAMPLE]

    import math

    def q6(x):
        return math.floor(x * 1e6 + 0.5) / 1e6

    norms = {
        i: math.sqrt(sum(float(x) * float(x) for x in vecs[i][1]))
        for i in ids
    }
    correct: dict = {}
    totals: dict = {}
    for qid in ids:
        scored = []
        for nid in ids:
            if nid == qid:
                continue
            dot = sum(
                float(a) * float(b)
                for a, b in zip(vecs[qid][1], vecs[nid][1])
            )
            scored.append(
                (q6(dot / (norms[qid] * norms[nid])), nid, vecs[nid][0])
            )
        scored.sort(key=lambda t: (-t[0], t[1]))
        top = scored[:KNN_K]
        votes: dict = {}
        for cosv, _nid, lab in top:
            n, s = votes.get(lab, (0, 0.0))
            votes[lab] = (n + 1, s + cosv)
        pred = min(votes, key=lambda lb: (-votes[lb][0], -votes[lb][1], lb))
        lab = vecs[qid][0]
        totals[lab] = totals.get(lab, 0) + 1
        if pred == lab:
            correct[lab] = correct.get(lab, 0) + 1
    got = {
        r["label"]: (r["n_scored"], r["n_correct"])
        for r in ctx.ref("embeddings_knn_label_accuracy").collect()
    }
    want = {lb: (totals[lb], correct.get(lb, 0)) for lb in totals}
    assert got == want


def test_quality_by_dup_status_reconciles(spark, sf_dir):
    """The two dup-status populations must partition the corpus."""
    ctx = Context(spark, sf_dir)
    rows = {
        r["dup_status"]: r
        for r in ctx.ref("docs_quality_by_dup_status").collect()
    }
    assert set(rows) <= {"near_dup", "unique"}
    n_total = ctx.source("documents").count()
    assert sum(r["n_docs"] for r in rows.values()) == n_total
    for r in rows.values():
        assert r["mean_quality"] is not None and r["mean_tokens"] > 0


def test_ngram_novelty_bounds_and_splits(spark, sf_dir):
    """Novelty rates live in [0, 1], novel <= total, and only the
    held-out splits appear."""
    rows = Context(spark, sf_dir).ref("docs_ngram_novelty").collect()
    assert {r["split"] for r in rows} <= {"val", "test"}
    for r in rows:
        assert 0 <= r["novel_grams"] <= r["n_grams"], r
        assert 0.0 <= r["novelty_rate"] <= 1.0, r
        assert r["n_docs"] > 0


def test_cluster_purity_reconciles_with_labels(spark, sf_dir):
    """Purity rows must reconcile with the component labels: member
    counts match the label table's group sizes, purity in (0, 1],
    majority count integral, cross-source flag consistent."""
    ctx = Context(spark, sf_dir)
    sizes = {
        r["cluster_id"]: r["n"]
        for r in ctx.ref("dedup_doc_labels")
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
        if r["n"] >= 2
    }
    rows = ctx.ref("docs_dedup_cluster_purity").collect()
    assert {r["cluster_id"] for r in rows} == set(sizes)
    for r in rows:
        assert r["n_members"] == sizes[r["cluster_id"]], r
        assert 0.0 < r["purity"] <= 1.0, r
        maj = r["purity"] * r["n_members"]
        assert abs(maj - round(maj)) < 1e-3, r
        assert r["is_cross_source"] == (r["n_sources"] > 1), r


def test_pipeline_funnel_reconciles_with_clean_corpus(spark, sf_dir):
    """The funnel must be monotone non-increasing, each stage's removal
    must reconcile with the previous stage, and the terminal stage must
    be >= the docs_clean_corpus population (the funnel's exact-dedup
    stage can only remove docs clean_corpus keeps, never add)."""
    ctx = Context(spark, sf_dir)
    rows = sorted(
        ctx.ref("docs_pipeline_funnel").collect(),
        key=lambda r: r["stage_order"],
    )
    assert [r["stage"] for r in rows] == [
        "raw",
        "quality_filter",
        "exact_dedup",
        "near_dedup",
    ]
    raw = rows[0]["n_docs"]
    assert raw == ctx.source("documents").count()
    prev = raw
    for r in rows[1:]:
        assert r["n_docs"] <= prev
        assert r["n_removed"] == prev - r["n_docs"], r
        prev = r["n_docs"]
    clean = ctx.ref("docs_clean_corpus").count()
    # clean_corpus applies quality + near-dup but not exact dedup
    assert rows[3]["n_docs"] <= clean


def test_silhouette_sample_is_bounded_and_in_range(spark, sf_dir):
    """Silhouette values live in [-1, 1] by construction; the scored
    population is bounded by the fixed sample; per-cell mins/maxes bracket
    the mean."""
    from dbt_tpch_spark.operators.kmeans import SIL_SAMPLE

    rows = Context(spark, sf_dir).ref("kmeans_silhouette_sample").collect()
    assert rows
    assert sum(r["n_scored"] for r in rows) <= SIL_SAMPLE
    for r in rows:
        assert -1.0 <= r["min_silhouette"] <= r["mean_silhouette"], r
        assert r["mean_silhouette"] <= r["max_silhouette"] <= 1.0, r


def test_assortativity_matches_bruteforce(spark, sf_dir):
    """Recompute degrees and the Pearson coefficient over the symmetric
    edge list in plain Python (exact integer sums, one double formula)."""
    import math

    ctx = Context(spark, sf_dir)
    li = ctx.source("lineitem").select("l_orderkey", "l_partkey").collect()
    baskets: dict = {}
    for r in li:
        baskets.setdefault(r["l_orderkey"], set()).add(r["l_partkey"])
    pairs = set()
    for ps in baskets.values():
        ps = sorted(ps)
        for ii in range(len(ps)):
            for jj in range(ii + 1, len(ps)):
                pairs.add((ps[ii], ps[jj]))
    deg: dict = {}
    for a, b in pairs:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    xs, ys = [], []
    for a, b in pairs:  # symmetric edges = both orientations
        xs += [deg[a], deg[b]]
        ys += [deg[b], deg[a]]
    m = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    syy = sum(y * y for y in ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    r_num = m * sxy - sx * sy
    r_den = math.sqrt(m * sxx - sx * sx) * math.sqrt(m * syy - sy * sy)
    rnd6 = lambda v: math.floor(v * 1e6 + 0.5) / 1e6  # noqa: E731
    row = ctx.ref("parts_degree_assortativity").head()
    assert row["n_nodes"] == len(deg)
    assert row["n_edges"] == len(pairs)
    assert row["max_degree"] == max(deg.values())
    assert abs(row["avg_degree"] - rnd6(sum(deg.values()) / len(deg))) < 2e-6
    assert abs(row["assortativity"] - rnd6(r_num / r_den)) < 2e-6


def _mini_corpus(tmp_path, sf_dir, **tables):
    """Materialize a corpus dir for Context/duckdb_connection: the given
    pandas frames are written as single-file parquet; every other corpus
    table symlinks to the real sf_dir fixture (both readers want all ten
    files present)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from dbt_tpch_spark.sources import TABLES

    d = str(tmp_path)
    for t in TABLES:
        if t in tables:
            pq.write_table(pa.Table.from_pandas(tables[t]), f"{d}/{t}.parquet")
        else:
            os.symlink(f"{sf_dir}/{t}.parquet", f"{d}/{t}.parquet")
    return d


def test_bpe_apply_survives_merge_exhaustion(spark, sf_dir, tmp_path):
    """Round-6 ADVICE: on a corpus whose merges exhaust before BPE_ROUNDS
    (here every word collapses to one symbol after round 1), the missing
    rounds' merge pairs are NULL — the apply pass must treat them as
    no-ops, not null the whole text (replace(text, NULL, ...) = NULL).
    Both engines carry the guard, so this checks values AND parity."""
    import pandas as pd

    from dbt_tpch_spark.parity import check_query

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": ["ab ab ab", "ab ab", "ab"],
            "lang": ["en", "en", "de"],
            "source": ["src0", "src0", "src1"],
            "n_chars": [8, 5, 2],
        }
    )
    d = _mini_corpus(tmp_path, sf_dir, documents=docs)
    ctx = Context(spark, d)
    trained = ctx.ref("bpe_train_merges").collect()
    # the corpus genuinely exhausts: only round 1 can merge
    assert len(trained) == 1 and trained[0]["merged_pair"] == "ab"
    rows = {
        r["source"]: r for r in ctx.ref("docs_bpe_token_counts").collect()
    }
    # 'ab' -> one merge symbol: after = before / 2, never NULL
    assert rows["src0"]["symbols_before"] == 10
    assert rows["src0"]["symbols_after"] == 5
    assert rows["src1"]["symbols_before"] == 2
    assert rows["src1"]["symbols_after"] == 1
    for r in rows.values():
        assert r["symbols_after"] is not None
        assert r["compression_ratio"] == 0.5
    # and the DuckDB oracle agrees on the guarded replay
    import __spark_entry__ as entrymod

    rep = check_query(
        spark,
        d,
        entrymod.queries()["docs_bpe_token_counts"],
        entrymod.oracle_sql()["docs_bpe_token_counts"],
    )
    assert rep["rows_match"] and rep["cols_match"] and rep["values_match"]


def test_embedding_lsh_recall_floor(spark, sf_dir, tmp_path):
    """VERDICT r6 #3: pin a measured-recall FLOOR for the banded sign-LSH
    dedup path so band-constant tuning can't silently shed recall. The
    corpus is synthetic threshold-EDGE pairs (cosine 0.55-0.80 — where
    OR-construction recall is actually sensitive to band count; clone
    pairs at cosine ~1 collide in any single band and would hide a
    detune). At the shipped 8x4 constants measured recall is ~0.93;
    the floor asserts >= 0.8, and dropping EMB_LSH_BANDS to 2 measurably
    fails it (~0.51 — asserted below as the detune canary)."""
    import numpy as np
    import pandas as pd

    import dbt_tpch_spark.operators.dedup as dd

    rng = np.random.RandomState(7)
    dim = dd.EMB_DIM

    def unit(v):
        return v / np.linalg.norm(v)

    vecs: list = []
    for c in (0.55, 0.60, 0.65, 0.70, 0.80):
        for _ in range(30):
            u = unit(rng.randn(dim))
            w = rng.randn(dim)
            w = unit(w - w.dot(u) * u)
            vecs.append(u)
            vecs.append(c * u + np.sqrt(1 - c * c) * w)
    for _ in range(100):
        vecs.append(unit(rng.randn(dim)))
    emb = pd.DataFrame(
        {
            "vec_id": np.arange(len(vecs), dtype=np.int64),
            "embedding": [np.asarray(v, dtype=np.float32) for v in vecs],
            "label": np.zeros(len(vecs), dtype=np.int32),
        }
    )
    d = _mini_corpus(tmp_path, sf_dir, embeddings=emb)
    row = Context(spark, d).ref("dedup_embedding_lsh_recall").head()
    # the sample covers the whole 400-vector corpus and truth is non-empty
    # (the r6 verdict called the sf0.001 check vacuous: 0 true pairs)
    assert row["sample_size"] == len(vecs)
    assert row["n_true_pairs"] >= 140
    assert row["recall"] >= 0.8, (
        f"banded sign-LSH recall {row['recall']} fell below the 0.8 floor "
        f"at the 0.5-threshold edge (bands={dd.EMB_LSH_BANDS})"
    )
    # detune canary: the floor genuinely bites — 2 bands measurably fails
    saved = dd.EMB_LSH_BANDS
    dd.EMB_LSH_BANDS = 2
    try:
        detuned = Context(spark, d).ref("dedup_embedding_lsh_recall").head()
    finally:
        dd.EMB_LSH_BANDS = saved
    assert detuned["recall"] < 0.8, (
        "the floor must be able to fail: 2 bands should shed recall "
        f"but measured {detuned['recall']}"
    )


def test_multibatch_txn_index_routes_through_warehouse(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Round-11 (VERDICT r10 #5): when the Context carries a warehouse
    dir, the model's band index must be created UNDER it (the
    executor-shared location on a real cluster), not in a driver-local
    tempdir — and the scratch index is removed after the build."""
    import os

    from dbt_tpch_spark.tableformat import TxnTable

    wh = str(tmp_path / "wh")
    os.makedirs(wh)
    created: list[str] = []
    orig = TxnTable.create.__func__  # the classmethod's raw function

    def spy(cls, spark_, path, df, **kw):
        created.append(path)
        return orig(cls, spark_, path, df, **kw)

    monkeypatch.setattr(TxnTable, "create", classmethod(spy))
    out = Context(spark, sf_dir, warehouse_dir=wh).ref("dedup_multibatch_txn")
    assert out.count() > 0
    assert created and created[0].startswith(wh), created
    assert not os.path.exists(created[0])  # scratch removed post-build


def test_incremental_dedup_multibatch_txn(spark, sf_dir, tmp_path):
    """VERDICT r8 #5: the deployment shape of the incremental dedup — a
    PERSISTED TxnTable band index appended per ingest batch — must be as
    complete ACROSS COMMITS as one full-LSH run on the final corpus.
    Ingests the corpus in three batches; per batch the probe side holds
    only that batch's band rows and history arrives via ``TxnTable.read()``
    of every prior commit. Asserts (a) the union of per-batch verified
    pairs equals the full-LSH pair set, (b) match_scope labels agree with
    actual batch membership, and (c) the index ends at one version per
    append. Equality holds because no corpus bucket crosses the hot-bucket
    valve between batches (the API's stated precondition — see
    incremental_dedup_batch's docstring; a mid-stream crossing KEEPS the
    early small-bucket pairs a full re-run would drop)."""
    import dbt_tpch_spark.operators.dedup as dd
    from dbt_tpch_spark.tableformat import TxnTable

    ctx = Context(spark, sf_dir)
    docs = ctx.source("documents")
    batch_of = lambda d: d % 3  # noqa: E731
    path = str(tmp_path / "band_index")
    table = None
    got: set[tuple[int, int]] = set()
    for k in range(3):
        batch = docs.filter(F.col("doc_id") % 3 == k)
        history_bands = (
            table.read()
            if table is not None
            else dd.lsh_band_rows(batch, n_parts=8).limit(0)
        )
        store = docs.filter(F.col("doc_id") % 3 <= k)
        verified, inc_bands = dd.incremental_dedup_batch(
            batch, history_bands, store, n_parts=8
        )
        for r in verified.collect():
            a, b = r["doc_inc"], r["doc_other"]
            assert batch_of(a) == k, (a, k)
            expect_scope = (
                "vs_history" if batch_of(b) != k else "within_increment"
            )
            assert r["match_scope"] == expect_scope, (a, b, r["match_scope"])
            got.add((min(a, b), max(a, b)))
        if table is None:
            table = TxnTable.create(spark, path, inc_bands)
        else:
            table.append(inc_bands)
    full = {
        (min(r["doc_a"], r["doc_b"]), max(r["doc_a"], r["doc_b"]))
        for r in ctx.ref("dedup_minhash_lsh").collect()
    }
    assert got == full
    # three commits -> three snapshot versions of the persisted index,
    # whose final state holds every corpus band row exactly once
    assert len(table.versions()) == 3
    assert table.read().count() == dd.lsh_band_rows(docs, n_parts=8).count()


def test_incremental_dedup_is_complete_vs_full_lsh(spark, sf_dir):
    """The incremental path (probe side filtered to the increment split)
    must find EXACTLY the full-LSH verified pairs that touch an increment
    doc — no pair lost by filtering the probe side, none invented, and
    history-history pairs structurally absent."""
    import dbt_tpch_spark.operators.dedup as dd

    ctx = Context(spark, sf_dir)
    full = {
        (r["doc_a"], r["doc_b"])
        for r in ctx.ref("dedup_minhash_lsh").collect()
    }
    is_inc = lambda d: d % dd.INC_MOD == 0  # noqa: E731
    expected = set()
    for a, b in full:
        if is_inc(a) and is_inc(b):
            expected.add((min(a, b), max(a, b)))
        elif is_inc(a):
            expected.add((a, b))
        elif is_inc(b):
            expected.add((b, a))
    got = {
        (r["doc_inc"], r["doc_other"])
        for r in ctx.ref("dedup_minhash_incremental").collect()
    }
    assert got == expected
    for inc_doc, other in got:
        assert is_inc(inc_doc)


def test_dedup_exact_on_planted_duplicates(spark, sf_dir, tmp_path):
    """VERDICT r7 'what's wrong' #1: dedup_exact's corpus output is 0 rows
    at every checked SF (the fixture has near-dups but no byte-exact dups
    after normalization), so its green hash gate only ever proved the
    EMPTY set matches. This plants byte-exact and normalization-equal
    duplicates and checks the non-empty path on BOTH engines."""
    import pandas as pd

    from dbt_tpch_spark.parity import check_query

    texts = [
        "The quick brown fox",      # trio: one raw dup + one that only
        "The quick brown fox",      #   normalization (case/whitespace)
        "  the QUICK   brown fox ", #   makes equal
        "a unique document",
        "another unique document",
        "pair of equals",
        "pair of equals",
    ]
    docs = pd.DataFrame(
        {
            "doc_id": range(1, len(texts) + 1),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["src0"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    )
    d = _mini_corpus(tmp_path, sf_dir, documents=docs)
    rows = Context(spark, d).ref("dedup_exact").collect()
    got = {
        (r["dup_count"], r["canonical_doc_id"], r["max_doc_id"]) for r in rows
    }
    # the fox trio collapses to one group of 3; the pair to one group of 2
    assert got == {(3, 1, 3), (2, 6, 7)}, got
    import __spark_entry__ as entrymod

    rep = check_query(
        spark,
        d,
        entrymod.queries()["dedup_exact"],
        entrymod.oracle_sql()["dedup_exact"],
    )
    assert rep["rows_match"] and rep["cols_match"] and rep["values_match"]


def test_tpch_q22_on_planted_never_ordered_customers(spark, sf_dir, tmp_path):
    """VERDICT r7 'what's wrong' #2: every above-average-balance customer
    in the fixture corpus has ordered, so Q22's LEFT ANTI + scalar
    threshold (the whole point of the query) never fired through a
    non-empty gate. Plants high-balance never-ordered customers across
    two nations and checks the non-empty path on BOTH engines."""
    import pandas as pd

    from dbt_tpch_spark.parity import check_query

    # balances: positive-balance average = (100+200+9000+8000+7000)/5
    # = 4860 → customers 3,4,5 are above it; 3 and 4 never ordered
    # (different nations), 5 has an order; 1-2 below threshold.
    cust = pd.DataFrame(
        {
            "c_custkey": [1, 2, 3, 4, 5, 6],
            "c_name": [f"Customer#{i}" for i in range(1, 7)],
            "c_nationkey": pd.array([0, 1, 0, 1, 2, 2], dtype="int32"),
            "c_acctbal": [100.0, 200.0, 9000.0, 8000.0, 7000.0, -50.0],
            "c_mktsegment": ["BUILDING"] * 6,
        }
    )
    orders = pd.DataFrame(
        {
            "o_orderkey": [10, 11],
            "o_custkey": [5, 1],
            "o_orderstatus": ["F", "O"],
            "o_totalprice": [1000.0, 2000.0],
            "o_orderdate": pd.Series(
                ["1995-01-01", "1995-02-01"]
            ).astype("datetime64[us]"),
            "o_orderpriority": ["1-URGENT", "2-HIGH"],
        }
    )
    d = _mini_corpus(tmp_path, sf_dir, customer=cust, orders=orders)
    rows = Context(spark, d).ref("tpch_q22_global_sales_opportunity").collect()
    got = {(r["cntrycode"], r["numcust"], float(r["totacctbal"])) for r in rows}
    nations = {
        r["n_nationkey"]: r["n_name"]
        for r in Context(spark, d).source("nation").collect()
    }
    assert got == {
        (nations[0], 1, 9000.0),
        (nations[1], 1, 8000.0),
    }, got
    import __spark_entry__ as entrymod

    rep = check_query(
        spark,
        d,
        entrymod.queries()["tpch_q22_global_sales_opportunity"],
        entrymod.oracle_sql()["tpch_q22_global_sales_opportunity"],
    )
    assert rep["rows_match"] and rep["cols_match"] and rep["values_match"]


def test_watermark_lateness_profile_bands(spark, sf_dir, tmp_path):
    """The driver corpus arrives fully ordered (every SF: zero late rows),
    so the hash gate only ever exercises the in-order band — this test
    feeds an engineered out-of-order corpus and pins every band: one
    event 30 s late, one 5 min, one 30 min, one 2 h."""
    import numpy as np
    import pandas as pd

    n = 100
    base = pd.Timestamp("2024-03-01 00:00:00")
    ts = [base + pd.Timedelta(minutes=i) for i in range(n)]
    # lateness = prev running max (event i-1, one minute earlier) minus
    # own ts, so a band-b lateness needs a (b + 1-minute-spacing) shift
    ts[10] -= pd.Timedelta(seconds=90)       # late 30 s  -> 1_under_1m
    ts[20] -= pd.Timedelta(minutes=6)        # late 5 min -> 2_under_10m
    ts[30] -= pd.Timedelta(minutes=31)       # late 30 min-> 3_under_1h
    ts[40] -= pd.Timedelta(minutes=121)      # late 2 h   -> 4_over_1h
    ev = pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pd.Series(ts).astype("datetime64[us]"),
            "user_id": np.arange(n, dtype=np.int64) % 7,
            "event_type": ["view"] * n,
            "value": np.ones(n),
            "props": ["{}"] * n,
        }
    )
    d = _mini_corpus(tmp_path, sf_dir, events=ev)
    rows = {
        r["lateness_band"]: r["n_events"]
        for r in Context(spark, d)
        .ref("events_watermark_lateness_profile")
        .collect()
    }
    assert rows == {
        "0_in_order": 96,
        "1_under_1m": 1,
        "2_under_10m": 1,
        "3_under_1h": 1,
        "4_over_1h": 1,
    }
    # and the DuckDB oracle agrees on the banded replay
    import __spark_entry__ as entrymod
    from dbt_tpch_spark.parity import check_query

    rep = check_query(
        spark,
        d,
        entrymod.queries()["events_watermark_lateness_profile"],
        entrymod.oracle_sql()["events_watermark_lateness_profile"],
    )
    assert rep["rows_match"] and rep["cols_match"] and rep["values_match"]


def test_backlog_delta_rewrite_matches_interval_stabbing(spark, sf_dir):
    """The interval -> delta-event rewrite must equal the NAIVE semantics:
    for every emitted day, open_backlog == the count of orders with
    open_day <= day < close_day (the O(days x orders) stabbing join the
    rewrite exists to avoid)."""
    import bisect

    ctx = Context(spark, sf_dir)
    o = {
        r["o_orderkey"]: r["o_orderdate"].date()
        for r in ctx.source("orders").select("o_orderkey", "o_orderdate").collect()
    }
    close = {
        r["l_orderkey"]: r["mx"].date()
        for r in ctx.source("lineitem")
        .groupBy("l_orderkey")
        .agg(F.max("l_shipdate").alias("mx"))
        .collect()
    }
    opens = sorted(d for d in o.values())
    # an order with no lineitems never ships: it stays in the backlog
    closes = sorted(close[k] for k in o if k in close)
    rows = ctx.ref("orders_backlog_timeseries").collect()
    assert rows, "backlog series is empty"
    for r in rows:
        day = r["day"].date()
        n_open_le = bisect.bisect_right(opens, day)
        n_close_le = bisect.bisect_right(closes, day)
        assert r["open_backlog"] == n_open_le - n_close_le, day
    # census columns reconcile with the raw tables
    assert sum(r["n_opened"] for r in rows) == len(o)
    assert sum(r["n_closed"] for r in rows) == len(close)


def test_quantile_sketch_honors_relative_error_guarantee(spark, sf_dir):
    """DDSketch guarantee: every estimate within (gamma-1)/(gamma+1) of a
    value in the true quantile's bucket. percentile_cont interpolates
    between samples, so allow a small slack on top of the bound."""
    from dbt_tpch_spark.operators.sketches import QSK_GAMMA

    bound = (QSK_GAMMA - 1) / (QSK_GAMMA + 1) + 0.005
    rows = Context(spark, sf_dir).ref("events_quantile_sketch").collect()
    assert len(rows) == 3
    for r in rows:
        assert r["rel_error"] is not None and r["rel_error"] <= bound, (
            r["q"],
            r["rel_error"],
        )


def test_pii_census_on_planted_pii(spark, sf_dir, tmp_path):
    """The synthetic corpus is digit-free, so docs_pii_census's corpus gate
    only ever proves the all-zero path. Plants documents carrying every
    PII pattern kind (and near-miss decoys that must NOT count) and checks
    exact per-kind counts plus cross-engine parity on the non-trivial path."""
    import pandas as pd

    from dbt_tpch_spark.parity import check_query

    texts = [
        # 2 emails, 1 phone
        "contact alice@example.com or bob.smith+x@mail.co, call 555-123-4567",
        # ssn + ipv4 + card-like run
        "ssn 123-45-6789 from host 192.168.10.1 card 4111111111111111",
        # decoys: 12-digit run (too short for card), 3-2-4 with letters,
        # bare domain without local part
        "order 123456789012 ref abc-12-3456x at example.com",
        # clean doc
        "nothing sensitive here at all",
    ]
    docs = pd.DataFrame(
        {
            "doc_id": range(1, len(texts) + 1),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["srcA", "srcA", "srcB", "srcB"],
            "n_chars": [len(t) for t in texts],
        }
    )
    d = _mini_corpus(tmp_path, sf_dir, documents=docs)
    rows = {r["source"]: r for r in Context(spark, d).ref("docs_pii_census").collect()}
    a, b = rows["srcA"], rows["srcB"]
    assert (a["email_hits"], a["phone_hits"], a["ssn_hits"], a["ipv4_hits"], a["card_hits"]) == (2, 1, 1, 1, 1)
    assert a["docs_with_pii"] == 2 and a["n_docs"] == 2
    # decoy doc counts nothing; 'example.com' alone is not an email
    assert (b["email_hits"], b["phone_hits"], b["ssn_hits"], b["ipv4_hits"], b["card_hits"]) == (0, 0, 0, 0, 0)
    assert b["docs_with_pii"] == 0
    import __spark_entry__ as entrymod

    rep = check_query(
        spark,
        d,
        entrymod.queries()["docs_pii_census"],
        entrymod.oracle_sql()["docs_pii_census"],
    )
    assert rep["rows_match"] and rep["cols_match"] and rep["values_match"]


def test_stream_dedup_collapses_redeliveries(spark, sf_dir, tmp_path):
    """events_stream_dedup's corpus gate only proves the identity path
    (every corpus event_id is unique). Plants at-least-once redeliveries
    (byte-identical copies, the transport-dedup contract) and checks the
    streaming dropDuplicatesWithinWatermark state actually collapses them,
    with cross-engine parity on the non-trivial path."""
    import pandas as pd

    from dbt_tpch_spark.parity import check_query

    base = pd.Timestamp("2024-01-01 00:00:00")
    rows = []
    # event 1 delivered 3x, event 2 delivered 2x, events 3-4 once; event 4
    # arrives past the 1 h watermark horizon of the others (state for them
    # is expirable by then — the dedup verdict must be unaffected)
    for eid, n_deliveries, minute in [(1, 3, 0), (2, 2, 5), (3, 1, 10), (4, 1, 65)]:
        for _ in range(n_deliveries):
            rows.append(
                (eid, base + pd.Timedelta(minutes=minute), 7, "click", 1.5, "{}")
            )
    ev = pd.DataFrame(
        rows,
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    ev["ts"] = ev["ts"].astype("datetime64[us]")
    d = _mini_corpus(tmp_path, sf_dir, events=ev)
    out = Context(spark, d).ref("events_stream_dedup")
    assert out.count() == 4
    assert {r["event_id"] for r in out.collect()} == {1, 2, 3, 4}
    import __spark_entry__ as entrymod

    rep = check_query(
        spark,
        d,
        entrymod.queries()["events_stream_dedup"],
        entrymod.oracle_sql()["events_stream_dedup"],
    )
    assert rep["rows_match"] and rep["cols_match"] and rep["values_match"]


def test_lsh_hot_bucket_valve_drops_degenerate_buckets(spark, sf_dir, tmp_path):
    """The hot-bucket valve (bsize <= MAX_BAND_BUCKET) is the guard that
    keeps LSH candidate generation sub-quadratic at 100 TB, but no test
    SF ever trips it. Plants MAX_BAND_BUCKET+50 byte-identical documents
    (one degenerate bucket in every band — their pair set would be ~0.5M
    candidates) plus one genuine near-dup pair in healthy buckets. The
    valve must drop ALL degenerate-bucket pairs (exact dedup is the right
    tool for identical docs) while the healthy pair is still found — on
    BOTH engines, and on the incremental path's combined-bucket valve.
    The ingest path's valve counts only the index side, so there the hot
    bucket stays open: both semantics are pinned against their oracles."""
    import pandas as pd

    import dbt_tpch_spark.operators.dedup as dd
    from dbt_tpch_spark.parity import check_query

    n_hot = dd.MAX_BAND_BUCKET + 50
    hot_text = "hot bucket duplicate boilerplate block repeated verbatim"
    texts = [hot_text] * n_hot + [
        "the quick brown fox jumps over the lazy dog tonight",
        "the quick brown fox jumps over the lazy dog today",
    ]
    # healthy-pair ids chosen so the LATER one is an increment doc
    # (1053 % INC_MOD == 0): the incremental assertion below is then a
    # real vs_history witness, not vacuously empty
    pair_ids = (n_hot + 2, n_hot + 3)
    assert pair_ids[1] % dd.INC_MOD == 0
    docs = pd.DataFrame(
        {
            "doc_id": list(range(1, n_hot + 1)) + list(pair_ids),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["src0"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    )
    d = _mini_corpus(tmp_path, sf_dir, documents=docs)
    pairs = Context(spark, d).ref("dedup_minhash_lsh").collect()
    got = {(r["doc_a"], r["doc_b"]) for r in pairs}
    assert pair_ids in got, "healthy near-dup pair lost by the valve"
    hot_pairs = [p for p in got if p != pair_ids]
    assert not hot_pairs, f"degenerate-bucket pairs leaked: {len(hot_pairs)}"
    # the incremental probe applies the same valve on the COMBINED bucket:
    # the hot docs with doc_id % INC_MOD == 0 probe it and must be dropped,
    # while the increment doc of the healthy pair still finds its partner
    inc = Context(spark, d).ref("dedup_minhash_incremental").collect()
    inc_pairs = {(r["doc_inc"], r["doc_other"], r["match_scope"]) for r in inc}
    assert inc_pairs == {(pair_ids[1], pair_ids[0], "vs_history")}, inc_pairs
    import __spark_entry__ as entrymod

    for name in (
        "dedup_minhash_lsh",
        "dedup_minhash_incremental",
        "dedup_incremental_ingest",
    ):
        rep = check_query(
            spark, d, entrymod.queries()[name], entrymod.oracle_sql()[name]
        )
        assert rep["rows_match"] and rep["cols_match"] and rep["values_match"], name
    # the ingest valve counts the INDEX bucket only: the 840 hot index docs
    # stay under MAX_BAND_BUCKET (the combined 1050-doc bucket trips it), so
    # every hot incoming doc matches every hot index doc
    ingest = Context(spark, d).ref("dedup_incremental_ingest").collect()
    hot_new = [r for r in ingest if r["doc_new"] <= n_hot]
    n_hot_index = n_hot - len(hot_new)
    assert len(hot_new) == n_hot // dd.INGEST_MOD
    assert n_hot_index <= dd.MAX_BAND_BUCKET < n_hot
    assert {r["n_dup_matches"] for r in hot_new} == {n_hot_index}


def test_emb_hot_bucket_valve_drops_degenerate_buckets(spark, sf_dir, tmp_path):
    """The embedding sign-LSH twin of the MinHash valve test above:
    MAX_EMB_BUCKET+50 IDENTICAL vectors collide into one degenerate bucket
    per band (a ~0.16M-candidate bucket if unguarded) and must produce
    ZERO verified pairs, while a healthy duplicate pair in a different
    sign-pattern bucket is still found at cosine 1.0 — on both engines."""
    import numpy as np
    import pandas as pd

    import dbt_tpch_spark.operators.dedup as dd
    from dbt_tpch_spark.parity import check_query

    n_hot = dd.MAX_EMB_BUCKET + 50
    hot = np.ones(dd.EMB_DIM, dtype=np.float32)
    # a clearly different direction: alternating signs flips roughly half
    # of every band's plane dots, so its buckets differ from the hot one
    healthy = np.array(
        [1.0 if d % 2 == 0 else -1.0 for d in range(dd.EMB_DIM)],
        dtype=np.float32,
    )
    pair_ids = (n_hot + 1, n_hot + 2)
    emb = pd.DataFrame(
        {
            "vec_id": list(range(1, n_hot + 1)) + list(pair_ids),
            "embedding": [hot] * n_hot + [healthy, healthy],
            "label": np.int32(0),
        }
    )
    d = _mini_corpus(tmp_path, sf_dir, embeddings=emb)
    rows = Context(spark, d).ref("dedup_embedding_cosine").collect()
    got = {(r["vec_a"], r["vec_b"]): r["cosine"] for r in rows}
    assert pair_ids in got, "healthy duplicate pair lost by the valve"
    assert got[pair_ids] == 1.0
    assert set(got) == {pair_ids}, f"degenerate pairs leaked: {len(got) - 1}"
    import __spark_entry__ as entrymod

    rep = check_query(
        spark,
        d,
        entrymod.queries()["dedup_embedding_cosine"],
        entrymod.oracle_sql()["dedup_embedding_cosine"],
    )
    assert rep["rows_match"] and rep["cols_match"] and rep["values_match"]


def test_incremental_valve_crossing_keeps_early_pairs(spark, monkeypatch):
    """The documented degradation when a bucket crosses the hot-bucket
    valve BETWEEN batches (incremental_dedup_batch docstring): the early
    batch's small-bucket pairs were already emitted and survive, later
    batches emit NOTHING for the now-degenerate bucket — so the union
    diverges from a full re-run (which would drop the whole bucket, losing
    the early pairs too). This is the precondition boundary of the
    across-commit completeness tests, pinned instead of assumed."""
    import pandas as pd

    import dbt_tpch_spark.operators.dedup as dd

    monkeypatch.setattr(dd, "MAX_BAND_BUCKET", 40)
    text = "identical hot bucket document text repeated verbatim"

    def docs_df(ids):
        return spark.createDataFrame(
            pd.DataFrame({"doc_id": list(ids), "text": text})
        )

    batch1, batch2 = docs_df(range(1, 31)), docs_df(range(31, 61))
    empty = dd.lsh_band_rows(batch1, n_parts=4).limit(0)
    v1, b1 = dd.incremental_dedup_batch(batch1, empty, batch1, n_parts=4)
    # batch 1's bucket holds 30 <= 40 docs: all C(30,2) pairs emitted
    assert v1.count() == 30 * 29 // 2
    store = batch1.unionByName(batch2)
    v2, _ = dd.incremental_dedup_batch(batch2, b1, store, n_parts=4)
    # combined bucket is 60 > 40: the valve closes, batch 2 emits nothing
    # (a full re-run at this cap would emit zero pairs TOTAL — the early
    # 435 survive only on the incremental path)
    assert v2.count() == 0


def test_emb_bits_for_is_log_adaptive():
    """Pure math: the band width holds the base value through the design
    point and adds one bit per corpus doubling past it."""
    import dbt_tpch_spark.operators.dedup as dd

    assert dd.emb_bits_for(100) == dd.EMB_LSH_BITS
    assert dd.emb_bits_for(dd.EMB_BITS_BASE_N) == dd.EMB_LSH_BITS
    assert dd.emb_bits_for(dd.EMB_BITS_BASE_N + 1) == dd.EMB_LSH_BITS + 1
    assert dd.emb_bits_for(4 * dd.EMB_BITS_BASE_N) == dd.EMB_LSH_BITS + 2
    assert dd.emb_bits_for(20000) == dd.EMB_LSH_BITS + 4


def test_adaptive_bits_sql_matches_python_formula():
    """emb_lsh_band_stats' in-plan adaptive_bits expression (identical
    text both engines) must replay emb_bits_for at every probe point."""
    import duckdb

    import dbt_tpch_spark.operators.dedup as dd

    con = duckdb.connect()
    try:
        for n in (1, 100, 2047, 2048, 2049, 4096, 4097, 12020, 20000, 10**6):
            got = con.execute(
                f"SELECT {dd._ADAPTIVE_BITS_SQL} FROM "
                f"(SELECT CAST({n} AS BIGINT) AS n_vectors)"
            ).fetchone()[0]
            assert got == dd.emb_bits_for(n), (n, got)
    finally:
        con.close()


def test_emb_dedup_band_width_adapts(spark, sf_dir, tmp_path):
    """Round-10 scale probe finding: at the fixed 4-bit width a corpus
    past ~8k vectors saturates every 16-value band domain, ALL buckets
    cross MAX_EMB_BUCKET, and the valve silently zeroes the pair stage —
    planted exact duplicates vanish. The adaptive width must keep finding
    them (exact dups collide in every band at ANY width), and the fixed
    width must demonstrably lose them (the canary that proves the test
    can fail)."""
    import numpy as np
    import pandas as pd

    import dbt_tpch_spark.operators.dedup as dd

    rng = np.random.RandomState(10)
    n_base, n_dups = 12000, 20
    vecs = [v / np.linalg.norm(v) for v in rng.randn(n_base, 64)]
    # plant exact duplicates of the first n_dups vectors at the tail
    vecs.extend(vecs[i] for i in range(n_dups))
    emb = pd.DataFrame(
        {
            "vec_id": np.arange(len(vecs), dtype=np.int64),
            "embedding": [np.asarray(v, dtype=np.float32) for v in vecs],
            "label": np.zeros(len(vecs), dtype=np.int32),
        }
    )
    d = _mini_corpus(tmp_path, sf_dir, embeddings=emb)
    expected = {(i, n_base + i) for i in range(n_dups)}

    out = Context(spark, d).ref("dedup_embedding_cosine")
    found = {
        (r["vec_a"], r["vec_b"])
        for r in out.filter(F.col("cosine") >= 0.999999).collect()
    }
    missing = expected - found
    assert not missing, (
        f"adaptive width lost {len(missing)} planted exact-dup pairs "
        f"(bits={dd.emb_bits_for(len(vecs))})"
    )

    # canary: pin the width at the 4-bit base and the same corpus loses
    # planted dups to the saturated-bucket valve
    saved = dd.emb_bits_for
    dd.emb_bits_for = lambda n: dd.EMB_LSH_BITS
    try:
        detuned = Context(spark, d).ref("dedup_embedding_cosine")
        found_fixed = {
            (r["vec_a"], r["vec_b"])
            for r in detuned.filter(F.col("cosine") >= 0.999999).collect()
        }
    finally:
        dd.emb_bits_for = saved
    assert expected - found_fixed, (
        "fixed 4-bit width should lose planted dups at 12k vectors; "
        "if it stops losing them, the saturation premise changed — "
        "re-derive EMB_BITS_BASE_N"
    )


def test_bbit_minhash_estimator_properties(spark, sf_dir, tmp_path):
    """b-bit compaction invariants (Li & König): an exact duplicate pair
    matches on ALL K compacted values (identical signatures survive any
    bit truncation), the estimator is clamped to [0, 1], and the planted
    fixture round-trips check_query parity — the non-vacuity guard for a
    query whose corpus output can be small."""
    import pandas as pd

    import __spark_entry__ as entrymod
    from dbt_tpch_spark.operators.dedup import MINHASH_K
    from dbt_tpch_spark.parity import check_query

    dup = "alpha beta gamma delta epsilon zeta eta theta"
    near = "alpha beta gamma delta epsilon zeta eta iota"
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [dup, dup, near, "one two three four five six"],
            "lang": ["en"] * 4,
            "source": ["s"] * 4,
            "n_chars": [len(dup), len(dup), len(near), 27],
        }
    )
    d = _mini_corpus(tmp_path, sf_dir, documents=docs)
    rows = {
        (r["doc_a"], r["doc_b"]): r
        for r in Context(spark, d).ref("dedup_bbit_minhash").collect()
    }
    assert (1, 2) in rows  # the exact dup pair survives LSH + verify
    exact = rows[(1, 2)]
    assert exact["bbit_matches"] == MINHASH_K
    assert exact["jaccard_bbit"] == 1.0
    assert exact["abs_err"] == 0.0
    for r in rows.values():
        assert 0.0 <= r["jaccard_bbit"] <= 1.0
        assert 0.0 <= r["bbit_match_fraction"] <= 1.0
        assert 0 <= r["bbit_matches"] <= MINHASH_K
    rep = check_query(
        spark,
        d,
        entrymod.queries()["dedup_bbit_minhash"],
        entrymod.oracle_sql()["dedup_bbit_minhash"],
    )
    assert rep["rows_match"] and rep["cols_match"] and rep["values_match"], rep


def test_emb_bits_duck_matches_python_formula():
    """The oracle's SQL width expression (_emb_bits_duck) must replay
    emb_bits_for exactly across the threshold, the doublings, and up to
    the literal-plane cap — and error() loudly past the cap instead of
    silently truncating to a narrower hash (round-11 ADVICE)."""
    import duckdb

    import dbt_tpch_spark.operators.dedup as dd

    max_n = dd.EMB_BITS_BASE_N * 2 ** (dd.EMB_BITS_MAX - dd.EMB_LSH_BITS)
    probe_ns = [
        1,
        100,
        dd.EMB_BITS_BASE_N - 1,
        dd.EMB_BITS_BASE_N,
        dd.EMB_BITS_BASE_N + 1,
        2 * dd.EMB_BITS_BASE_N,
        2 * dd.EMB_BITS_BASE_N + 1,
        12020,
        20000,
        max_n - 1,
        max_n,
    ]
    con = duckdb.connect()
    try:
        for n in probe_ns:
            sql = dd._emb_bits_duck(f"(SELECT 1 FROM range({n}))")
            got = con.execute(sql).fetchone()[0]
            assert got == dd.emb_bits_for(n), (n, got, dd.emb_bits_for(n))
        import pytest

        with pytest.raises(duckdb.Error, match="EMB_BITS_MAX"):
            con.execute(
                dd._emb_bits_duck(f"(SELECT 1 FROM range({max_n + 1}))")
            ).fetchone()
    finally:
        con.close()


def test_emb_cosine_oracle_tracks_adaptive_width(spark, sf_dir, tmp_path):
    """Round-11 ADVICE (medium): the r10 oracle hard-coded the 4-bit band
    hash, so any parity corpus past 2048 vectors made the Spark output a
    strict subset of the oracle's pair set. The oracle now derives the
    width from COUNT(*) in SQL and truncates its full-width literal
    strings — full check_query parity on a planted 2100-vector corpus
    (bits widens to 5) must hold all three gates."""
    import numpy as np
    import pandas as pd

    import __spark_entry__ as entrymod
    import dbt_tpch_spark.operators.dedup as dd
    from dbt_tpch_spark.parity import check_query

    n_base, n_dups = 2080, 20
    assert n_base + n_dups > dd.EMB_BITS_BASE_N
    rng = np.random.RandomState(11)
    vecs = [v / np.linalg.norm(v) for v in rng.randn(n_base, 64)]
    vecs.extend(vecs[i] for i in range(n_dups))
    assert dd.emb_bits_for(len(vecs)) == dd.EMB_LSH_BITS + 1
    emb = pd.DataFrame(
        {
            "vec_id": np.arange(len(vecs), dtype=np.int64),
            "embedding": [np.asarray(v, dtype=np.float32) for v in vecs],
            "label": np.zeros(len(vecs), dtype=np.int32),
        }
    )
    d = _mini_corpus(tmp_path, sf_dir, embeddings=emb)
    rep = check_query(
        spark,
        d,
        entrymod.queries()["dedup_embedding_cosine"],
        entrymod.oracle_sql()["dedup_embedding_cosine"],
    )
    assert rep["rows_match"] and rep["cols_match"] and rep["values_match"], rep
    # the gate is non-vacuous: the planted exact dups are in the output
    assert rep["rows_spark"] >= n_dups, rep


def test_emb_bands_for_holds_design_recall():
    """Round-11 64x probe finding: width-only adaptation measured 0.797
    recall at 10 bits on planted 0.90-cosine pairs — below the 0.8 floor.
    emb_bands_for must (a) leave every config through 8 bits at the
    static 8 bands (bit-identical history: test SFs, the 10x probe),
    (b) grow monotonically past that, and (c) hold the OR-construction
    analytic recall at the design edge >= the 0.93 target at EVERY width
    the oracle can replay."""
    import math

    import dbt_tpch_spark.operators.dedup as dd

    assert [dd.emb_bands_for(w) for w in range(4, 13)] == [
        8, 8, 8, 8, 8, 10, 12, 14, 16,
    ]
    p = 1.0 - math.acos(dd.EMB_RECALL_DESIGN_COSINE) / math.pi
    for w in range(dd.EMB_LSH_BITS, dd.EMB_BITS_MAX + 1):
        B = dd.emb_bands_for(w)
        analytic = 1.0 - (1.0 - p**w) ** B
        assert analytic >= dd.EMB_RECALL_DESIGN_TARGET, (w, B, analytic)
        # and B is MINIMAL: one fewer band breaks the target (except at
        # the static floor, where 8 bands over-deliver by design)
        if B > dd.EMB_LSH_BANDS:
            assert 1.0 - (1.0 - p**w) ** (B - 1) < (
                dd.EMB_RECALL_DESIGN_TARGET
            ), (w, B)
    assert dd.EMB_BANDS_MAX == dd.emb_bands_for(dd.EMB_BITS_MAX)


def test_emb_bands_duck_case_matches_python():
    """The oracle's width->bands lookup is EMITTED from emb_bands_for
    (never transcribed), so equivalence should hold by construction —
    this pins the emission (and the CASE syntax) against the function on
    every replayable width, in DuckDB itself."""
    import duckdb

    import dbt_tpch_spark.operators.dedup as dd

    con = duckdb.connect()
    try:
        case = dd._emb_bands_duck_case("SELECT w FROM t")
        for w in range(dd.EMB_LSH_BITS, dd.EMB_BITS_MAX + 1):
            got = con.execute(
                f"WITH t AS (SELECT {w} AS w) SELECT {case}"
            ).fetchone()[0]
            assert got == dd.emb_bands_for(w), (w, got)
    finally:
        con.close()


def test_emb_extension_band_planes_parity(spark):
    """Extension BANDS (b >= EMB_LSH_BANDS) draw every plane from the
    md5-extension family — _emb_plane used to index past the 32-entry
    base family for them. The Spark and DuckDB sign strings must agree
    bit-for-bit on extension bands at full width, on vectors that
    exercise both sign outcomes."""
    import duckdb
    import numpy as np

    import dbt_tpch_spark.operators.dedup as dd

    rng = np.random.RandomState(64)
    vecs = [
        [float(x) for x in v / np.linalg.norm(v)]
        for v in rng.randn(8, dd.EMB_DIM)
    ]
    con = duckdb.connect()
    try:
        for b in (dd.EMB_LSH_BANDS, 11, dd.EMB_BANDS_MAX - 1):
            spark_expr = dd._emb_band_spark(b, dd.EMB_BITS_MAX)
            duck_expr = dd._emb_band_duck(b, dd.EMB_BITS_MAX)
            for v in vecs:
                lit = "array(" + ", ".join(
                    f"CAST({x} AS DOUBLE)" for x in v
                ) + ")"
                s = spark.sql(
                    "SELECT "
                    + spark_expr.replace("embedding", lit)
                ).first()[0]
                d_ = con.execute(
                    "SELECT "
                    + duck_expr.replace(
                        "embedding", "[" + ", ".join(map(str, v)) + "]"
                    )
                ).fetchone()[0]
                assert s == d_, (b, s, d_)
                assert len(s) == dd.EMB_BITS_MAX
    finally:
        con.close()


def test_emb_cosine_oracle_tracks_adaptive_bands(
    spark, sf_dir, tmp_path, monkeypatch
):
    """End-to-end parity at a GROWN band count without a 65k-vector
    corpus: shrinking EMB_BITS_BASE_N to 64 makes a 2100-vector corpus
    resolve to 10 bits -> 12 bands on both engines (the Spark model reads
    the constant at call time; the oracle SQL is re-emitted after the
    patch, exactly as a fresh session would emit it for a corpus whose
    COUNT(*) crosses the real threshold). All three parity gates must
    hold and the planted exact dups must be in the output — pinning that
    the 4 extension bands generate, hash, and join identically through
    both engines."""
    import numpy as np
    import pandas as pd

    import __spark_entry__ as entrymod
    import dbt_tpch_spark.operators.dedup as dd
    from dbt_tpch_spark.parity import check_query

    monkeypatch.setattr(dd, "EMB_BITS_BASE_N", 64)
    n_base, n_dups = 2080, 20
    assert dd.emb_bits_for(n_base + n_dups) == 10
    assert dd.emb_bands_for(10) == 12 > dd.EMB_LSH_BANDS
    rng = np.random.RandomState(12)
    vecs = [v / np.linalg.norm(v) for v in rng.randn(n_base, 64)]
    vecs.extend(vecs[i] for i in range(n_dups))
    emb = pd.DataFrame(
        {
            "vec_id": np.arange(len(vecs), dtype=np.int64),
            "embedding": [np.asarray(v, dtype=np.float32) for v in vecs],
            "label": np.zeros(len(vecs), dtype=np.int32),
        }
    )
    d = _mini_corpus(tmp_path, sf_dir, embeddings=emb)
    rep = check_query(
        spark,
        d,
        entrymod.queries()["dedup_embedding_cosine"],
        dd._emb_cosine_oracle(),
    )
    assert rep["rows_match"] and rep["cols_match"] and rep["values_match"], rep
    assert rep["rows_spark"] >= n_dups, rep


def test_dup_spans_merge_filter_and_orientation(tmp_path, spark, sf_dir):
    """docs_dup_spans boundary semantics on a planted corpus, checked on
    BOTH engines (the query is empty-output-capable, so its green parity
    gate is vacuous without planted structure):

    * a 20-token shared run merges into ONE span (13 consecutive dup
      positions), exact union coverage 20;
    * two shared runs separated by > K unique tokens stay TWO spans;
    * a positional gap of exactly K MERGES (adjacent covered ranges):
      doc 7 reports one 16-token A+B span while doc 8 — the SAME shared
      material split by one unique token (gap K+1) — reports nothing,
      because each side alone is an 8-token span below the 12 floor;
    * an 11-token shared run (< DUPSPAN_MIN_TOKENS) is filtered;
    * a WITHIN-doc-only repeated shingle never marks a position (the
      census needs >= 2 distinct doc_ids)."""
    import math

    import pandas as pd

    from dbt_tpch_spark.parity import check_query
    from __spark_entry__ import oracle_sql, queries

    def toks(*parts):
        out = []
        for p in parts:
            out.extend(p)
        return " ".join(out)

    R = [f"r{i}" for i in range(20)]
    A = [f"a{i}" for i in range(12)]
    B = [f"b{i}" for i in range(13)]
    C = [f"c{i}" for i in range(11)]
    E = [f"e{i}" for i in range(8)]
    A2 = [f"p{i}" for i in range(8)]
    B2 = [f"q{i}" for i in range(8)]
    u = lambda d, n: [f"u{d}x{i}" for i in range(n)]  # noqa: E731

    texts = {
        1: toks(u(1, 5), R, u(1, 5)),        # one 20-token span
        2: toks(R, u(2, 10)),                # one 20-token span
        3: toks(A, u(3, 9), B),              # two spans: 12 + 13
        9: toks(B, u(9, 9), A),              # two spans: 13 + 12
        4: toks(C, u(4, 19)),                # 11 < 12 -> filtered
        5: toks(u(5, 19), C),                # 11 < 12 -> filtered
        6: toks(E, u(6, 3), E, u(6, 3)[:3]), # within-doc only -> absent
        7: toks(u(7, 4), A2, B2, u(7, 4)),   # gap == K merges: 16 tokens
        8: toks(A2, ["x8only"], B2, u(8, 13)),  # gap K+1: two 8s, filtered
    }
    docs = pd.DataFrame(
        {
            "doc_id": list(texts),
            "text": [texts[k] for k in texts],
            "lang": ["en"] * len(texts),
            "source": ["srcp"] * len(texts),
            "n_chars": [len(texts[k]) for k in texts],
        }
    )
    d = _mini_corpus(tmp_path, sf_dir, documents=docs)
    r = check_query(
        spark, d, queries()["docs_dup_spans"], oracle_sql()["docs_dup_spans"]
    )
    assert r["values_match"], r

    rnd6 = lambda v: math.floor(v * 1e6 + 0.5) / 1e6  # noqa: E731
    ctx = Context(spark, d)
    rows = {r["doc_id"]: r for r in ctx.ref("docs_dup_spans").collect()}
    assert set(rows) == {1, 2, 3, 9, 7}
    for did, (nt, ns, dup, mx) in {
        1: (30, 1, 20, 20),
        2: (30, 1, 20, 20),
        3: (34, 2, 25, 13),
        9: (34, 2, 25, 13),
        7: (24, 1, 16, 16),
    }.items():
        row = rows[did]
        assert row["n_tokens"] == nt, (did, row)
        assert row["n_dup_spans"] == ns, (did, row)
        assert row["dup_tokens"] == dup, (did, row)
        assert row["max_span_tokens"] == mx, (did, row)
        assert abs(row["dup_frac"] - rnd6(dup / nt)) < 2e-6, (did, row)


def test_excise_spans_keeps_canonical_and_rewrites_copies(
    tmp_path, spark, sf_dir
):
    """docs_excise_spans excision policy on the dup-spans planted corpus
    (same fixture as test_dup_spans_merge_filter_and_orientation),
    parity-checked on both engines:

    * the MINIMAL doc_id holding a shared run is canonical and keeps its
      text byte-identical (docs 1, 3, 7);
    * the larger holder excises exactly the shared tokens (doc 2 loses
      the 20-token run R; doc 9 loses both A and B = 25 tokens, keeping
      only its 9 fillers);
    * spans below DUPSPAN_MIN_TOKENS survive in BOTH holders (docs 4/5:
      an 11-token shared run; doc 8: two 8-token sides split by one
      unique token) — too short to be excision evidence;
    * within-doc-only repetition is never excised (doc 6);
    * the arithmetic invariant n_tokens_after == n_tokens_before - cut
      holds row-wise, and n_spans_excised == 0 implies text unchanged."""
    import pandas as pd

    from dbt_tpch_spark.parity import check_query
    from __spark_entry__ import oracle_sql, queries

    def toks(*parts):
        out = []
        for p in parts:
            out.extend(p)
        return " ".join(out)

    R = [f"r{i}" for i in range(20)]
    A = [f"a{i}" for i in range(12)]
    B = [f"b{i}" for i in range(13)]
    C = [f"c{i}" for i in range(11)]
    E = [f"e{i}" for i in range(8)]
    A2 = [f"p{i}" for i in range(8)]
    B2 = [f"q{i}" for i in range(8)]
    u = lambda d, n: [f"u{d}x{i}" for i in range(n)]  # noqa: E731

    texts = {
        1: toks(u(1, 5), R, u(1, 5)),
        2: toks(R, u(2, 10)),
        3: toks(A, u(3, 9), B),
        9: toks(B, u(9, 9), A),
        4: toks(C, u(4, 19)),
        5: toks(u(5, 19), C),
        6: toks(E, u(6, 3), E, u(6, 3)[:3]),
        7: toks(u(7, 4), A2, B2, u(7, 4)),
        8: toks(A2, ["x8only"], B2, u(8, 13)),
    }
    docs = pd.DataFrame(
        {
            "doc_id": list(texts),
            "text": [texts[k] for k in texts],
            "lang": ["en"] * len(texts),
            "source": ["srcp"] * len(texts),
            "n_chars": [len(texts[k]) for k in texts],
        }
    )
    d = _mini_corpus(tmp_path, sf_dir, documents=docs)
    r = check_query(
        spark,
        d,
        queries()["docs_excise_spans"],
        oracle_sql()["docs_excise_spans"],
    )
    assert r["values_match"], r

    ctx = Context(spark, d)
    rows = {r["doc_id"]: r for r in ctx.ref("docs_excise_spans").collect()}
    assert set(rows) == set(texts)
    for did, row in rows.items():
        assert row["n_tokens_before"] == len(texts[did].split(" "))
        assert (
            row["n_tokens_after"]
            == row["n_tokens_before"]
            - (len(texts[did].split(" ")) - len(row["cleaned_text"].split(" ")))
            if row["cleaned_text"]
            else True
        )
        if row["n_spans_excised"] == 0:
            assert row["cleaned_text"] == texts[did], did
    # canonical holders keep their text
    for did in (1, 3, 7):
        assert rows[did]["n_spans_excised"] == 0, rows[did]
    # sub-threshold sharers are untouched on both sides
    for did in (4, 5, 6, 8):
        assert rows[did]["n_spans_excised"] == 0, rows[did]
    # the copies are rewritten exactly
    assert rows[2]["n_spans_excised"] == 1
    assert rows[2]["n_tokens_after"] == 10
    assert rows[2]["cleaned_text"] == " ".join(u(2, 10))
    assert rows[9]["n_spans_excised"] == 2
    assert rows[9]["n_tokens_after"] == 9
    assert rows[9]["cleaned_text"] == " ".join(u(9, 9))
