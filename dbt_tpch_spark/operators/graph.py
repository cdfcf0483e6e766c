"""Graph analytics over the part co-purchase graph: PageRank.

Extension surface: the reference (DataRecce/dbt-tpch) computes co-purchase
*pairs* (models/intermediate/int_market_basket.sql:1-47) but stops at pair
statistics; PageRank turns the same graph into a part-importance score —
the standard "centrality over an interaction graph" primitive (product
ranking, link-graph quality weighting for web-scale training corpora).

This is the second *iterative* algorithm with full DuckDB-oracle parity
(after operators/kmeans.py — same playbook):

- the iteration count is fixed (ITERS) and the oracle unrolls the rounds
  as generated CTE text (contrib_i -> pr_i), the SQL mirror of the Spark
  loop;
- per-node in-sums quantize each contribution to DECIMAL(38,18) and sum
  exactly (accumulation-order-free, like dedup.DOT_SPARK); the Spark side
  quantizes once per source node on the node-grain state frame, not once
  per edge — the same cast of the same double, so the sums are identical;
- rank values are re-quantized (rnd 12) every round so both engines carry
  bit-identical state into the next iteration.

Scale shape: the edge list is built once (distinct self-join on order key
— equi conjunct keeps it hash/sort-merge, the ``<`` theta only dedups
direction), symmetrized, and checkpointed. Each round is ONE join of the
static edges with the current rank vector (the rank vector is tiny —
one row per *node*, not per edge — so it broadcasts; on a trillion-edge
graph you'd co-partition edges and ranks on src instead and the join is
shuffle-free after the first round) plus one groupBy(dst) with map-side
partial aggregation. Every node of the symmetric graph has outdeg >= 1,
so there is no dangling-mass term.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dbt_tpch_spark.models.oracle import oracle, rnd_sql
from dbt_tpch_spark.plans import model
from dbt_tpch_spark.functions import explode_sorted_pairs, global_row_number, rnd

DAMPING = 0.85
TELEPORT = 0.15  # 1 - DAMPING, kept as an exact literal on both engines
ITERS = 3

#: exact accumulation type for rank contributions (pr/outdeg ~ 1e-6..1e-1;
#: 18 fractional digits keeps every quantized step identical cross-engine)
_PR_DECIMAL = "decimal(38,18)"


def _psum_sql(expr: str) -> str:
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(38,18))) AS DOUBLE)"


def _baskets(ctx):
    """Per-order sorted distinct part set ``(o, ps)`` from lineitem."""
    return (
        ctx.source("lineitem")
        .groupBy(F.col("l_orderkey").alias("o"))
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
    )


def _pairs(ctx):
    """Canonical distinct co-purchase pairs (src < dst) from lineitem.

    Pair generation is in-row, not a self-join: parts collect (sorted,
    deduped) per order and the x<y pairs expand positionally with compiled
    generators (functions.explode_sorted_pairs) — one shuffle on the order
    key instead of shuffle+join+shuffle. Per-order fan-out is quadratic in
    basket size, which is small and bounded (TPC-H ~4 items/order); the
    oracle keeps the equivalent self-join formulation (same pair SET,
    different plan)."""
    return explode_sorted_pairs(_baskets(ctx), "ps", "src", "dst").distinct()


def _edges(ctx, n_part: int | None = None):
    """Symmetric distinct co-purchase edges (src, dst), hash-partitioned
    on ``src``.

    Round-11 optimization: the old form (``_pairs().unionByName(flip)``)
    evaluated the basket-explode + distinct pipeline TWICE (once per union
    branch) and spent three exchanges (groupBy(o), distinct(src,dst), the
    callers' repartition(src)). Every x<y pair now expands in-row from the
    basket (functions.explode_sorted_pairs) and one more generator emits
    both directions of it, and the dedup aggregate runs ON TOP of the
    hash(src) repartition — hash(src) satisfies the (src, dst) clustering
    requirement (subset rule), so the whole build is ONE basket shuffle +
    ONE edge shuffle, already laid out the way every consumer (degree
    aggregates, per-src windows, per-round joins) wants it."""
    if n_part is None:
        n_part = int(ctx.spark.conf.get("spark.sql.shuffle.partitions", "32"))
    x, y = F.col("x"), F.col("y")
    return (
        explode_sorted_pairs(_baskets(ctx), "ps", "x", "y")
        .select(
            F.inline(
                F.array(
                    F.struct(x.alias("src"), y.alias("dst")),
                    F.struct(y.alias("src"), x.alias("dst")),
                )
            )
        )
        .repartition(n_part, "src")
        .dropDuplicates(["src", "dst"])
    )


#: above this node count the per-round rank state stops being broadcast
#: (at SF1000 that's ~200M rows/round — a driver/executor memory killer)
#: and the co-partitioned path takes over; tests force it to 0 to pin the
#: large-graph plan shape.
BROADCAST_STATE_MAX_NODES = 1_000_000


def _node_state(n_nodes: int):
    """State-join strategy for node-cardinality frames, gated on the
    measured node count: broadcast below BROADCAST_STATE_MAX_NODES,
    shuffle-hash above it (the node-sized side builds hash tables; the
    edge side is never sorted).  Every node-grain join in this module
    routes through this gate — an ungated ``F.broadcast`` of a node-grain
    frame is the class of scale bug the CI broadcast invariant flags
    (plans/audit.py:broadcast_hint_offenders)."""
    broadcast_state = n_nodes <= BROADCAST_STATE_MAX_NODES

    def _state(df):
        return F.broadcast(df) if broadcast_state else df.hint("shuffle_hash")

    return _state


@model("parts_pagerank", layer="operators", materialization="view")
def parts_pagerank(ctx):
    """PageRank (d=0.85, ITERS fixed rounds, uniform init) over the
    symmetric part co-purchase graph; emits every node's out-degree, final
    rank value, and dense importance rank.

    State-join strategy is node-count-gated: below
    BROADCAST_STATE_MAX_NODES the node-sized rank vector broadcasts
    (zero-shuffle rounds); above it, edges are hash-partitioned ONCE on
    ``src`` and each round joins the state with a shuffle-hash hint — the
    trillion-edge side is never reshuffled or sorted per round, only the
    node-sized state moves. Either way the per-round groupBy(dst) is the
    one fundamental edge shuffle, with map-side partial aggregation."""
    n_part = int(ctx.spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # cache, not localCheckpoint: the cached InMemoryRelation KEEPS the
    # hash(src) outputPartitioning (localCheckpoint drops it in this Spark
    # version), so deg and every co-partitioned round below consume edges
    # with zero further exchanges; deg.count() materializes it
    edges = _edges(ctx, n_part).cache()
    deg = edges.groupBy("src").agg(F.count("*").cast("long").alias("outdeg"))
    n_nodes = deg.count()
    _state = _node_state(n_nodes)

    pr = (
        deg.withColumn("n", F.lit(float(n_nodes)))
        .select(
            F.col("src").alias("node"),
            "outdeg",
            "n",
            rnd(F.lit(1.0) / F.col("n"), 12).alias("pr"),
        )
        .localCheckpoint(eager=True)
    )
    for _ in range(ITERS):
        # quantize each node's contribution ONCE on the node-grain state:
        # the oracle's per-edge cast of the same double, so bit-identical
        c = (F.col("pr") / F.col("outdeg")).cast(_PR_DECIMAL).alias("c")
        contrib = (
            edges.join(_state(pr.select("node", c)), edges.src == F.col("node"))
            .groupBy("dst")
            .agg(F.sum("c").cast("double").alias("insum"))
        )
        pr = (
            pr.drop("pr")
            # contrib is node-sized (one row per part, not per edge)
            .join(_state(contrib), pr.node == contrib.dst, "left")
            .select(
                "node",
                "outdeg",
                "n",
                rnd(
                    F.lit(TELEPORT) / F.col("n")
                    + F.lit(DAMPING) * F.coalesce(F.col("insum"), F.lit(0.0)),
                    12,
                ).alias("pr"),
            )
            .localCheckpoint(eager=True)
        )
    # every consumer of the edge cache has materialized (each round's pr is
    # an eager checkpoint) — release the executors' memory now instead of
    # holding the edge list for the rest of the session
    edges.unpersist()
    # final importance rank is a global order over node-cardinality state:
    # bucketed exact ranking, not a single-partition window
    ranked = global_row_number(
        pr, "pr", ascending=False, tiebreak_cols=["node"],
        out="importance_rank",
    )
    return ranked.select(
        F.col("node").alias("part_key"),
        "outdeg",
        rnd(F.col("pr"), 12).alias("pagerank"),
        "importance_rank",
    )


def _pagerank_prelude() -> str:
    parts = [
        """op AS (
    SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
)""",
        """pairs AS (
    SELECT DISTINCT a.p AS src, b.p AS dst
    FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
)""",
        """edges AS (
    SELECT src, dst FROM pairs
    UNION ALL
    SELECT dst AS src, src AS dst FROM pairs
)""",
        """deg AS (
    SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM edges GROUP BY src
)""",
        """tot AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg
)""",
        f"""pr0 AS (
    SELECT d.src AS node, d.outdeg, t.n, {rnd_sql('1.0 / t.n', 12)} AS pr
    FROM deg d CROSS JOIN tot t
)""",
    ]
    for i in range(1, ITERS + 1):
        parts.append(
            f"""contrib{i} AS (
    SELECT e.dst, {_psum_sql('p.pr / p.outdeg')} AS insum
    FROM edges e JOIN pr{i - 1} p ON e.src = p.node
    GROUP BY e.dst
)"""
        )
        parts.append(
            f"""pr{i} AS (
    SELECT p.node, p.outdeg, p.n,
           {rnd_sql(
               f'{TELEPORT} / p.n + {DAMPING} * COALESCE(c.insum, 0.0)', 12
           )} AS pr
    FROM pr{i - 1} p LEFT JOIN contrib{i} c ON p.node = c.dst
)"""
        )
    return ",\n".join(parts)


oracle(
    "parts_pagerank",
    ("lineitem",),
    f"""WITH {_pagerank_prelude()}
SELECT
    node AS part_key,
    outdeg,
    {rnd_sql('pr', 12)} AS pagerank,
    CAST(ROW_NUMBER() OVER (ORDER BY pr DESC, node) AS BIGINT)
        AS importance_rank
FROM pr{ITERS}""",
)


@model("parts_triangle_count", layer="operators", materialization="view")
def parts_triangle_count(ctx):
    """Per-node triangle counts and local clustering coefficient over the
    co-purchase graph — the standard cohesion/community signal next to
    PageRank's centrality.

    Degree-oriented node-iterator (the "node-iterator++" / forward
    algorithm): rank nodes by (degree, id), orient every edge from the
    lower- to the higher-ranked endpoint, enumerate wedges only from each
    node's OUT-neighbors, and close them with a LEFT SEMI probe on the
    oriented edge set.  Every triangle is found exactly once (its
    rank-minimal vertex is the wedge center), and the wedge fan-out is
    Σ outdeg² ≤ O(m^1.5) for ANY degree distribution — a hub of degree d
    has out-degree O(√m) after orientation, so the deg² blowup the naive
    value-ordered wedge join suffers on skewed graphs cannot happen.
    Node-grain side frames (degrees, per-node counts) route through the
    _node_state gate.  Clustering coefficient = 2T / (deg * (deg - 1)),
    0 when deg < 2."""
    p = _pairs(ctx).localCheckpoint(eager=True)
    edges = p.unionByName(
        p.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = (
        edges.groupBy(F.col("src").alias("part_key"))
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
        .localCheckpoint(eager=True)
    )
    n_nodes = deg.count()
    _state = _node_state(n_nodes)
    d1 = deg.select(F.col("part_key").alias("src"), F.col("degree").alias("ds"))
    d2 = deg.select(F.col("part_key").alias("dst"), F.col("degree").alias("dd"))
    src_first = (F.col("ds") < F.col("dd")) | (
        (F.col("ds") == F.col("dd")) & (F.col("src") < F.col("dst"))
    )
    oriented = (
        p.join(_state(d1), "src")
        .join(_state(d2), "dst")
        .select(
            F.when(src_first, F.col("src")).otherwise(F.col("dst")).alias("u"),
            F.when(src_first, F.col("dst")).otherwise(F.col("src")).alias("v"),
            # carry the head's rank key for the wedge ordering below
            F.when(src_first, F.col("dd")).otherwise(F.col("ds")).alias("dv"),
        )
        .localCheckpoint(eager=True)
    )
    o2 = oriented.withColumnsRenamed({"v": "w", "dv": "dw"})
    wedge = oriented.join(o2, "u").filter(
        (F.col("dv") < F.col("dw"))
        | ((F.col("dv") == F.col("dw")) & (F.col("v") < F.col("w")))
    )
    close = oriented.select(F.col("u").alias("v"), F.col("v").alias("w"))
    tri = wedge.join(close, ["v", "w"], "left_semi").select("u", "v", "w")
    per_node = (
        tri.select(F.explode(F.array("u", "v", "w")).alias("part_key"))
        .groupBy("part_key")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    d = F.col("degree").cast("double")
    return (
        deg.join(_state(per_node), "part_key", "left")
        .withColumn("n_triangles", F.coalesce(F.col("n_triangles"), F.lit(0)))
        .withColumn(
            "clustering_coeff",
            F.when(
                F.col("degree") >= 2,
                rnd(F.lit(2.0) * F.col("n_triangles") / (d * (d - F.lit(1.0))), 6),
            ).otherwise(F.lit(0.0)),
        )
        .select("part_key", "degree", "n_triangles", "clustering_coeff")
    )


oracle(
    "parts_triangle_count",
    (),
    f"""WITH op AS (
    SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
),
pairs AS (
    SELECT DISTINCT a.p AS src, b.p AS dst
    FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
),
edges AS (
    SELECT src, dst FROM pairs
    UNION ALL
    SELECT dst AS src, src AS dst FROM pairs
),
deg AS (
    SELECT src AS part_key, CAST(COUNT(*) AS BIGINT) AS degree
    FROM edges GROUP BY 1
),
tri AS (
    SELECT ab.src AS a, ab.dst AS b, bc.dst AS c
    FROM pairs ab
    JOIN pairs bc ON ab.dst = bc.src
    WHERE EXISTS (
        SELECT 1 FROM pairs ac WHERE ac.src = ab.src AND ac.dst = bc.dst
    )
),
per_node AS (
    SELECT part_key, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM (
        SELECT a AS part_key FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    )
    GROUP BY 1
)
SELECT
    d.part_key,
    d.degree,
    COALESCE(t.n_triangles, 0) AS n_triangles,
    CASE WHEN d.degree >= 2
         THEN {rnd_sql('2.0 * COALESCE(t.n_triangles, 0) / (CAST(d.degree AS DOUBLE) * (CAST(d.degree AS DOUBLE) - 1.0))', 6)}
         ELSE 0.0 END AS clustering_coeff
FROM deg d LEFT JOIN per_node t ON d.part_key = t.part_key""",
)


# --------------------------------------------------------------------------
# k-core decomposition (iterative peeling, fixed rounds)
# --------------------------------------------------------------------------

#: k-core threshold and FIXED peel rounds (the oracle unrolls the same
#: count — no early stop, so both engines run identical iterations).
KCORE_K = 70
#: 7 is the converged depth on the test corpora (sf0.001 needs exactly 7
#: peels to reach a fixpoint, sf0.01 needs 5; asserted by
#: tests/test_operators.py::test_kcore_alive_set_is_fixpoint)
KCORE_ROUNDS = 7


@model("parts_kcore", layer="operators", materialization="view")
def parts_kcore(ctx):
    """K-core membership of the part co-purchase graph: KCORE_ROUNDS
    rounds of peeling (drop nodes whose degree within the surviving
    subgraph is < KCORE_K), then each node's verdict and its degree
    inside the final core — the dense-subgraph extraction that finds the
    stable co-purchase backbone (graph ML's standard noise filter before
    embedding training).

    The verdict is "after KCORE_ROUNDS peels", a FIXED-round
    approximation: a converged decomposition may remove further nodes if
    the corpus needs more rounds. tests/test_graph.py asserts the alive
    set is an actual fixpoint on the test corpus (every in_kcore node's
    core_degree >= KCORE_K — the convergence condition, checkable from
    the output itself); at a new corpus/scale, raise KCORE_ROUNDS until
    that holds.

    Scale: edges are hash-partitioned ONCE on src and cached; every
    round's alive-set semi-joins broadcast below
    BROADCAST_STATE_MAX_NODES (node-cardinality state, the PageRank
    gate) and the per-round degree count is the one edge-shuffle-free
    aggregate on the cached layout. Fixed rounds keep the oracle an
    unrolled CTE chain."""
    n_part = int(ctx.spark.conf.get("spark.sql.shuffle.partitions", "32"))
    edges = _edges(ctx, n_part).cache()
    all_nodes = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_nodes = all_nodes.count()
    _state = _node_state(n_nodes)

    alive = all_nodes.localCheckpoint(eager=True)
    for _ in range(KCORE_ROUNDS):
        deg = (
            edges.join(_state(alive.withColumnRenamed("node", "src")), "src")
            .join(_state(alive.withColumnRenamed("node", "dst")), "dst")
            .groupBy("src")
            .agg(F.count(F.lit(1)).cast("long").alias("d"))
        )
        alive = (
            deg.filter(F.col("d") >= KCORE_K)
            .select(F.col("src").alias("node"))
            .localCheckpoint(eager=True)
        )
    # the core table is the artifact; checkpoint it so the emitted plan is
    # the verdict join, not a re-derivation of the edge pipeline (same
    # shape as PageRank's severed final rank)
    core_deg = (
        edges.join(_state(alive.withColumnRenamed("node", "src")), "src")
        .join(_state(alive.withColumnRenamed("node", "dst")), "dst")
        .groupBy("src")
        .agg(F.count(F.lit(1)).cast("long").alias("core_degree"))
        .localCheckpoint(eager=True)
    )
    return (
        all_nodes.join(
            core_deg.withColumnRenamed("src", "node"), "node", "left"
        )
        .select(
            F.col("node").alias("part_key"),
            F.col("core_degree").isNotNull().alias("in_kcore"),
            "core_degree",
        )
    )


def _kcore_oracle() -> str:
    parts = [
        """op AS (
    SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
)""",
        """pairs AS (
    SELECT DISTINCT a.p AS src, b.p AS dst
    FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
)""",
        """edges AS (
    SELECT src, dst FROM pairs
    UNION ALL
    SELECT dst AS src, src AS dst FROM pairs
)""",
        """alive0 AS (
    SELECT DISTINCT src AS node FROM edges
)""",
    ]
    prev = "alive0"
    for i in range(1, KCORE_ROUNDS + 1):
        parts.append(
            f"""alive{i} AS (
    SELECT src AS node FROM (
        SELECT e.src, COUNT(*) AS d
        FROM edges e
        JOIN {prev} a ON e.src = a.node
        JOIN {prev} b ON e.dst = b.node
        GROUP BY e.src
    ) WHERE d >= {KCORE_K}
)"""
        )
        prev = f"alive{i}"
    parts.append(
        f"""core_deg AS (
    SELECT e.src AS node, CAST(COUNT(*) AS BIGINT) AS core_degree
    FROM edges e
    JOIN {prev} a ON e.src = a.node
    JOIN {prev} b ON e.dst = b.node
    GROUP BY e.src
)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + """
SELECT
    n.node AS part_key,
    c.core_degree IS NOT NULL AS in_kcore,
    c.core_degree
FROM alive0 n
LEFT JOIN core_deg c ON n.node = c.node"""
    )


oracle("parts_kcore", ("lineitem",), _kcore_oracle())


# --------------------------------------------------------------------------
# node similarity: neighborhood Jaccard ("parts like this part")
# --------------------------------------------------------------------------

#: top-k similar neighbors kept per part
NEIGHBOR_TOP_K = 5
#: a node with FULL degree above this cap is excluded from serving as the
#: SHARED neighbor in the wedge join: even with sampled adjacency lists, a
#: hub n still lands in many OTHER nodes' sampled lists (its in-sample
#: popularity is Σ H/deg(m) over its neighbors), so its wedge fan-out
#: would dominate while contributing near-zero similarity signal — the
#: same hot-key valve idea as the LSH hot-bucket cap.
NEIGHBOR_DEG_CAP = 200
#: per-node adjacency sample size: each node contributes at most H salted-
#: md5-ranked neighbors to the wedge join, so the wedge row count is
#: bounded by nodes x H² at ANY scale factor (the full wedge join grows
#: with deg² — measured 103 s at sf0.1 vs ~8 s sampled). Similarity is
#: then the standard sampled-adjacency ESTIMATE (GraphSAGE-style neighbor
#: sampling); full degrees are still reported exactly.
NEIGHBOR_SAMPLE_H = 32


@model("parts_neighbor_similarity", layer="operators", materialization="view")
def parts_neighbor_similarity(ctx):
    """Item-item similarity over the co-purchase graph: for each part, the
    NEIGHBOR_TOP_K most similar parts by neighborhood Jaccard over SAMPLED
    adjacency — the classic co-occurrence recommender ("parts bought with
    parts like this") and the graph-native near-dup signal for entity
    collapsing.

    Scale contract: every node's neighbor list is capped at
    NEIGHBOR_SAMPLE_H deterministically-salted-md5-ranked neighbors before
    the wedge join, so common-neighbor counting is bounded by nodes x H²
    rows regardless of SF — the neighbor-sampling estimate production
    item-item similarity actually ships (exact deg² wedges are quadratic
    in density). ``jaccard_est`` = |S(a) ∩ S(b)| / |S(a) ∪ S(b)| over the
    sampled lists; full degrees are reported exactly alongside. The
    hot-node valve drops ultra-hubs from serving as the shared neighbor.
    Per-source top-k is a partitioned rank window (WindowGroupLimit).
    Every node-grain side frame (degree tables, sampled degrees, the hub
    valve) joins through the _node_state gate — broadcast only below
    BROADCAST_STATE_MAX_NODES, shuffle-hash above."""
    from pyspark.sql.window import Window

    # cache, not localCheckpoint: the cached InMemoryRelation keeps the
    # hash(src) partitioning _edges now establishes, so the degree
    # aggregate AND the per-src sample window below both run exchange-free
    # on the cached layout (the checkpoint dropped it and re-shuffled)
    edges = _edges(ctx).cache()
    # node-cardinality degree table feeds THREE consumers (hub valve +
    # both endpoint joins) — materialize once instead of re-aggregating
    deg = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
        .localCheckpoint(eager=True)
    )
    # deterministic per-node neighbor sample (partitioned window — the
    # rank runs inside each node's list, never globally)
    w_s = Window.partitionBy("src").orderBy(
        F.md5(
            F.concat_ws(
                "|", F.col("src").cast("string"), F.col("dst").cast("string")
            )
        ),
        "dst",
    )
    n_nodes = deg.count()
    _state = _node_state(n_nodes)
    adj = (
        edges.withColumn("_srk", F.row_number().over(w_s))
        .filter(F.col("_srk") <= NEIGHBOR_SAMPLE_H)
        .drop("_srk")
        .localCheckpoint(eager=True)
    )
    # deg and adj are materialized — the edge cache has no consumer left
    edges.unpersist()
    sdeg = adj.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("sdeg")
    )
    # wedge: a -n- b through shared SAMPLED neighbor n (valve on full deg).
    # The valve semi-join runs on adj BEFORE the self-join (round-11):
    # filtering the shared-neighbor column on each input row is the same
    # predicate as filtering the joined wedge on n, but hub wedges are
    # never GENERATED instead of generated-then-dropped.
    hub_ok = deg.filter(F.col("degree") <= NEIGHBOR_DEG_CAP).select(
        F.col("node").alias("dst")
    )
    adj_w = adj.join(_state(hub_ok), "dst", "left_semi")
    # Round-12: tried and REVERTED (VERDICT r11 #5) — expanding each
    # unordered wedge in-row from the shared neighbor's sorted src list
    # (collect_list + the _edges/_pairs basket trick, halving emitted
    # rows and dropping the self-join) measured consistently SLOWER than
    # this join: isolated noop 6.5 -> 13.0 s with exec-CPU 112 -> 135 s,
    # and in-suite 7.18 -> 9.34 s on a 0.03%-steal window
    # (bench_runs_r12/base_1 vs head_a_1). The halved row count does not
    # pay for losing the codegen'd SMJ + hash-agg pipeline: the per-group
    # state is a <=200-entry list whose quadratic struct expansion runs
    # through interpreted higher-order functions, and the join's extra
    # rows were cheap narrow longs. The a<b-filtered self-join stays.
    an = adj_w.select(F.col("src").alias("a"), F.col("dst").alias("n"))
    bn = adj_w.select(F.col("src").alias("b"), F.col("dst").alias("n"))
    common = (
        an.join(bn, "n")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    # one node-stats frame joined once per endpoint (was 4 separate
    # broadcast joins: deg_a, deg_b, sdeg_a, sdeg_b — round-11)
    ns = deg.join(sdeg, "node")
    nsa = ns.withColumnsRenamed(
        {"node": "a", "degree": "deg_a", "sdeg": "sdeg_a"}
    )
    nsb = ns.withColumnsRenamed(
        {"node": "b", "degree": "deg_b", "sdeg": "sdeg_b"}
    )
    sim = (
        common.join(_state(nsa), "a")
        .join(_state(nsb), "b")
        .withColumn(
            "jaccard_est",
            rnd(
                F.col("n_common").cast("double")
                / (F.col("sdeg_a") + F.col("sdeg_b") - F.col("n_common")),
                6,
            ),
        )
        # the pair-grain similarity frame feeds BOTH branches of the
        # direction union below; without a barrier the whole wedge join +
        # count aggregate (this query's dominant stage) runs TWICE
        # (round-11: the plan carried two complete wedge subtrees)
        .localCheckpoint(eager=True)
    )
    # emit both directions so every part gets its own top-k list
    both = sim.unionByName(
        sim.select(
            F.col("b").alias("a"),
            F.col("a").alias("b"),
            "n_common",
            F.col("deg_b").alias("deg_a"),
            F.col("deg_a").alias("deg_b"),
            F.col("sdeg_b").alias("sdeg_a"),
            F.col("sdeg_a").alias("sdeg_b"),
            "jaccard_est",
        )
    )
    w = Window.partitionBy("a").orderBy(
        F.col("jaccard_est").desc(), F.col("n_common").desc(), F.col("b")
    )
    return (
        both.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= NEIGHBOR_TOP_K)
        .select(
            F.col("a").alias("part_key"),
            F.col("b").alias("similar_part_key"),
            "n_common",
            F.col("deg_a").alias("degree"),
            F.col("deg_b").alias("similar_degree"),
            "jaccard_est",
            F.col("rk").alias("similarity_rank"),
        )
    )


oracle(
    "parts_neighbor_similarity",
    (),
    f"""WITH op AS (
    SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
),
pairs AS (
    SELECT DISTINCT a.p AS src, b.p AS dst
    FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
),
edges AS (
    SELECT src, dst FROM pairs
    UNION ALL
    SELECT dst AS src, src AS dst FROM pairs
),
deg AS (
    SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS degree
    FROM edges GROUP BY 1
),
adj AS (
    SELECT src, dst FROM (
        SELECT src, dst,
               ROW_NUMBER() OVER (
                   PARTITION BY src
                   ORDER BY md5(concat(CAST(src AS VARCHAR), '|',
                                       CAST(dst AS VARCHAR))), dst
               ) AS srk
        FROM edges
    ) WHERE srk <= {NEIGHBOR_SAMPLE_H}
),
sdeg AS (
    SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS sdeg
    FROM adj GROUP BY 1
),
common AS (
    SELECT an.src AS a, bn.src AS b, CAST(COUNT(*) AS BIGINT) AS n_common
    FROM adj an
    JOIN adj bn ON an.dst = bn.dst AND an.src < bn.src
    JOIN deg h ON h.node = an.dst AND h.degree <= {NEIGHBOR_DEG_CAP}
    GROUP BY 1, 2
),
sim AS (
    SELECT c.a, c.b, c.n_common,
           da.degree AS deg_a, db.degree AS deg_b,
           sa.sdeg AS sdeg_a, sb.sdeg AS sdeg_b,
           {rnd_sql('CAST(c.n_common AS DOUBLE) / (sa.sdeg + sb.sdeg - c.n_common)', 6)} AS jaccard_est
    FROM common c
    JOIN deg da ON da.node = c.a
    JOIN deg db ON db.node = c.b
    JOIN sdeg sa ON sa.node = c.a
    JOIN sdeg sb ON sb.node = c.b
),
bidir AS (
    SELECT a, b, n_common, deg_a, deg_b, jaccard_est FROM sim
    UNION ALL
    SELECT b AS a, a AS b, n_common, deg_b AS deg_a, deg_a AS deg_b,
           jaccard_est
    FROM sim
)
SELECT
    a AS part_key,
    b AS similar_part_key,
    n_common,
    deg_a AS degree,
    deg_b AS similar_degree,
    jaccard_est,
    CAST(ROW_NUMBER() OVER (
        PARTITION BY a ORDER BY jaccard_est DESC, n_common DESC, b
    ) AS BIGINT) AS similarity_rank
FROM bidir
QUALIFY similarity_rank <= {NEIGHBOR_TOP_K}""",
)


# --------------------------------------------------------------------------
# degree assortativity (Newman 2002): do hubs connect to hubs?
# --------------------------------------------------------------------------


@model("parts_degree_assortativity", layer="operators", materialization="view")
def parts_degree_assortativity(ctx):
    """Degree assortativity coefficient of the co-purchase graph (Newman,
    PRL 2002): the Pearson correlation of endpoint degrees over the
    symmetric edge list, plus the degree census (nodes, edges, mean/max
    degree). Negative r = hubs attach to leaves (dissortative, typical of
    catalogs/baskets); positive = hub-hub cores. This is the one-number
    topology probe you run before choosing graph-algorithm mitigations
    (a strongly dissortative graph makes degree-oriented wedge
    enumeration — parts_triangle_count's trick — maximally effective).

    Determinism and scale: degrees are integers, so every sufficient
    statistic (Σx, Σx², Σxy over edges) is an exact BIGINT sum — no float
    accumulation anywhere; the coefficient is one double expression over
    those integers. Plan: the degree frame joins the edge list on both
    endpoints — node-grain hash joins, NOT broadcasts (node state is
    SF-linear; same discipline as pagerank above the gate), then a single
    scalar rollup."""
    # edges feed three consumers (deg + both join probes): checkpoint once
    # or each re-expands the basket-explode pipeline (measured 21 -> 5
    # exchanges); partitioned on src so deg and the src-side join reuse it
    n_part = int(ctx.spark.conf.get("spark.sql.shuffle.partitions", "32"))
    edges = _edges(ctx, n_part).localCheckpoint(eager=True)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    da = deg.select(F.col("src").alias("_a"), F.col("deg").alias("da"))
    db = deg.select(F.col("src").alias("_b"), F.col("deg").alias("db"))
    scored = (
        edges.join(da, edges.src == F.col("_a"))
        .join(db, edges.dst == F.col("_b"))
        .select("da", "db")
    )
    i = lambda c: F.sum(c).cast("long")  # noqa: E731
    stats = scored.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        i(F.col("da")).alias("sx"),
        i(F.col("db")).alias("sy"),
        i(F.col("da") * F.col("da")).alias("sxx"),
        i(F.col("db") * F.col("db")).alias("syy"),
        i(F.col("da") * F.col("db")).alias("sxy"),
    )
    census = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.max("deg").alias("max_degree"),
        F.sum("deg").cast("long").alias("_degsum"),
    )
    m = F.col("m").cast("double")
    num = m * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    den = F.sqrt(
        m * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    ) * F.sqrt(m * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
    return stats.crossJoin(F.broadcast(census)).select(
        "n_nodes",
        (F.col("m") / 2).cast("long").alias("n_edges"),
        rnd(F.col("_degsum").cast("double") / F.col("n_nodes"), 6).alias(
            "avg_degree"
        ),
        "max_degree",
        rnd(num / F.nullif(den, F.lit(0.0)), 6).alias("assortativity"),
    )


oracle(
    "parts_degree_assortativity",
    ("lineitem",),
    f"""WITH op AS (
    SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
),
pairs AS (
    SELECT DISTINCT a.p AS src, b.p AS dst
    FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
),
edges AS (
    SELECT src, dst FROM pairs
    UNION ALL
    SELECT dst AS src, src AS dst FROM pairs
),
deg AS (
    SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src
),
scored AS (
    SELECT x.deg AS da, y.deg AS db
    FROM edges e
    JOIN deg x ON e.src = x.src
    JOIN deg y ON e.dst = y.src
),
stats AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS m,
           CAST(SUM(da) AS BIGINT) AS sx,
           CAST(SUM(db) AS BIGINT) AS sy,
           CAST(SUM(da * da) AS BIGINT) AS sxx,
           CAST(SUM(db * db) AS BIGINT) AS syy,
           CAST(SUM(da * db) AS BIGINT) AS sxy
    FROM scored
),
census AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
           MAX(deg) AS max_degree,
           CAST(SUM(deg) AS BIGINT) AS degsum
    FROM deg
)
SELECT
    c.n_nodes,
    CAST(s.m // 2 AS BIGINT) AS n_edges,
    {rnd_sql('CAST(c.degsum AS DOUBLE) / c.n_nodes', 6)} AS avg_degree,
    c.max_degree,
    {rnd_sql(
        '(CAST(s.m AS DOUBLE) * s.sxy - CAST(s.sx AS DOUBLE) * s.sy)'
        ' / nullif(sqrt(CAST(s.m AS DOUBLE) * s.sxx - CAST(s.sx AS DOUBLE) * s.sx)'
        ' * sqrt(CAST(s.m AS DOUBLE) * s.syy - CAST(s.sy AS DOUBLE) * s.sy), 0.0)', 6
    )} AS assortativity
FROM stats s CROSS JOIN census c""",
)
