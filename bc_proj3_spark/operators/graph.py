"""Connected-components dedup clustering over the near-dup pair graph.

The canonical last mile of web-scale corpus dedup (reference analogue:
its sha2 dedup-insert handles row identity only,
silver_nyt_archive.py:102-120): near-dup detection (d4) yields PAIRS,
but what a training pipeline needs is CLUSTERS — "these 9 documents are
all the same article" — so one canonical doc survives per transitive
group, not per pairwise match. A pair list alone under-deduplicates:
A~B and B~C without A~C leaves two survivors where there should be one.

cc1 assigns every document a ``component_id`` = the smallest doc_id
reachable from it over the verified LSH near-dup edges (its own id when
isolated). The DuckDB oracle replays the identical graph with a
``WITH RECURSIVE`` min-label reachability query, so the driver's
value-hash gate covers an *iterative* distributed algorithm end-to-end.

Scale shape (100 TB posture):

- the iteration runs on the near-dup SUBGRAPH only — nodes that appear
  in at least one verified pair, a set bounded by 2 × |pairs| and tiny
  relative to the corpus. The full corpus is touched exactly twice: once
  by d4's candidate generation and once by the final left join stamping
  isolated docs with their own id (labels side is small → AQE broadcast).
- each round is one shuffle-on-key join + one map-side-combinable min
  aggregate; intermediates are persisted per round and the previous
  round's cache dropped, so lineage stays O(1) deep (no AQE recompute
  races, no stack-depth growth).
- min-label propagation converges in O(graph diameter) rounds. Near-dup
  clusters are dense (every member shares most shingles, so most pairs
  exist) — diameter is small in practice; MAX_CC_ITERS is a safeguard,
  not the expected path. For adversarial chain-shaped graphs the
  alternating large-star/small-star algorithm (Kiveris et al., "CC in
  MapReduce and Beyond") brings rounds to O(log² n) with the same
  per-round plan shape; the hook is the ``edges`` frame below.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bc_proj3_spark.operators.dedup import d4_pairs_artifact
from bc_proj3_spark.plans.tables import local_rows_df, table
from bc_proj3_spark.registry import register
from bc_proj3_spark.session import scoped_conf

#: Shuffle width for the ITERATION phases. The iterated frames (rank
#: vectors, label tables, star edges) are subgraph-sized — bounded by
#: the verified near-dup pair list, tiny relative to the corpus — while
#: per-round cost at the session's corpus-sized width is pure task and
#: state overhead (measured: cc3 7.1 s → 4.2 s at sf0.1 switching the
#: rounds from 32 to 4 partitions). The corpus-scale stage (d4's pair
#: generation) materializes BEFORE the iteration starts (persisted by
#: _verified_jaccard), so sizing here never touches corpus shuffles.
#: On a cluster, size to the expected pair-subgraph volume. Set for
#: each iteration phase only (``scoped_conf``).
_ITER_CONF = {"spark.sql.shuffle.partitions": "8"}

#: AQE inside an iteration phase whose small side is EXPLICITLY
#: broadcast (g13's gated rank-vector broadcast): adaptive re-planning
#: then has nothing left to improve — the join strategy is already
#: decided — while every Exchange still becomes its own materialized
#: query stage (a separate job + driver re-optimization), so an
#: 8-half-round loop pays ~40 extra scheduling round-trips per query
#: (measured on g13 at sf0.1: 51 jobs → 15, 5.0 s → 3.5 s, identical
#: output). Loops WITHOUT an explicit broadcast must keep AQE: its
#: runtime size discovery is what converts their per-round shuffle
#: joins to broadcast joins (measured: disabling it cost g11/g12/cc2
#: +1.2-2 s each).
_ITER_BCAST_CONF = {**_ITER_CONF, "spark.sql.adaptive.enabled": "false"}


#: Convergence safeguard. Propagation needs diameter(G) rounds; a
#: near-dup cluster's diameter is tiny (dense by construction). Hitting
#: this bound raises rather than silently returning half-merged labels.
MAX_CC_ITERS = 25


def min_label_components(edges: DataFrame) -> DataFrame:
    """(doc_id, label) for every node of an undirected edge list.

    ``edges`` must carry (src, dst) BOTH directions. Classic min-label
    propagation: label(v) ← min(label(v), min over neighbors' labels),
    iterated to fixpoint.

    Lineage is truncated with ``localCheckpoint(eager=True)`` every
    round — each round's plan embeds the previous labels plan TWICE
    (neighbor aggregate + join back), so with plain persist the logical
    plan doubles per iteration and plan re-normalization in
    ``cacheQuery`` blows the driver heap after a handful of rounds (the
    textbook iterative-lineage explosion; GraphX checkpoints for the
    same reason). With the checkpoint each round's plan is O(1): two
    joins and a min-groupBy over materialized blocks. On a cluster with
    executor churn, swap for reliable ``checkpoint()`` with a
    checkpoint dir — same plan shape, fault-tolerant storage.

    Convergence is detected from the per-round label SUM (labels only
    ever decrease, so the sum is strictly decreasing until fixpoint).
    The sum rides the checkpoint job itself via ``df.observe`` — the
    eager materialization IS the action that fills the observation, so
    each round is exactly ONE job (no separate scalar-aggregate
    collect; verified the metric fires on eager localCheckpoint).
    """
    from pyspark.sql import Observation

    def _ckpt_with_sum(df: DataFrame) -> tuple[DataFrame, object]:
        obs = Observation()
        out = df.observe(
            obs, F.sum(F.col("label").cast("decimal(38,0)")).alias("label_sum")
        ).localCheckpoint(eager=True)
        return out, obs.get["label_sum"]

    spark = edges.sparkSession
    with scoped_conf(spark, _ITER_CONF):
        return _min_label_iterate(edges, _ckpt_with_sum)


def _min_label_iterate(edges: DataFrame, _ckpt_with_sum) -> DataFrame:
    edges = edges.localCheckpoint(eager=True)
    labels, prev_sum = _ckpt_with_sum(
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
    )
    for _ in range(MAX_CC_ITERS):
        nbr_min = (
            edges.join(labels, edges["src"] == labels["doc_id"])
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("label").alias("nbr_label"))
        )
        labels, new_sum = _ckpt_with_sum(
            labels.alias("l")
            .join(nbr_min.alias("n"), "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("l.label"), F.coalesce("n.nbr_label", F.col("l.label"))
                ).alias("label"),
            )
        )
        if new_sum == prev_sum:
            return labels
        prev_sum = new_sum
    raise RuntimeError(
        f"connected components did not converge in {MAX_CC_ITERS} rounds"
    )


def _cc_oracle() -> str:
    """WITH RECURSIVE twin: pairs come from the d4 oracle's CTE chain
    (same deterministic MinHash family), components from min-label
    reachability. DuckDB's recursive UNION (distinct) terminates because
    the (node, lab) state space is finite."""
    from bc_proj3_spark.operators.dedup import _D4_ORACLE

    # _D4_ORACLE is a full SELECT over a WITH chain; wrap it as a CTE.
    return f"""
WITH RECURSIVE pairs AS (
{_D4_ORACLE}
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
reach(node, lab) AS (
  SELECT src, src FROM (SELECT DISTINCT src FROM edges) n
  UNION
  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
),
comp AS (SELECT node AS doc_id, MIN(lab) AS component_id FROM reach GROUP BY node)
SELECT d.doc_id,
       CAST(COALESCE(c.component_id, d.doc_id) AS BIGINT) AS component_id
FROM documents d
LEFT JOIN comp c USING (doc_id)
"""


@register("cc1_dedup_components", _cc_oracle())
def cc1_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full component assignment: every document's component_id is the
    min doc_id transitively reachable over verified near-dup pairs
    (d4_minhash_lsh_pairs), its own id when isolated. The iterative
    propagation runs on the pair subgraph only; the corpus-wide left
    join at the end is a broadcast of the (small) label table."""
    pairs = d4_pairs_artifact(spark, sf_dir).select("doc_a", "doc_b")
    edges = pairs.selectExpr("doc_a AS src", "doc_b AS dst").unionAll(
        pairs.selectExpr("doc_b AS src", "doc_a AS dst")
    )
    labels = min_label_components(edges)
    docs = table(spark, sf_dir, "documents").select("doc_id")
    out = docs.join(labels, "doc_id", "left").select(
        "doc_id",
        F.coalesce("label", F.col("doc_id")).cast("bigint").alias("component_id"),
    )
    return out


# ---------------------------------------------------------------------------
# cc2 — alternating large-star / small-star components (Kiveris et al.)
# ---------------------------------------------------------------------------


def _canon(df: DataFrame) -> DataFrame:
    """Undirected edge set in canonical (c > d) form, self-loops dropped."""
    return (
        df.select(
            F.greatest("a", "b").alias("c"), F.least("a", "b").alias("d")
        )
        .filter(F.col("c") != F.col("d"))
        .distinct()
    )


def star_components(edges: DataFrame, max_iters: int = 40) -> DataFrame:
    """(doc_id, label) via alternating large-star/small-star rounds
    ("Connected Components in MapReduce and Beyond", Kiveris et al.,
    SoCC'14) — the algorithm that holds the round count to O(log² n)
    on ADVERSARIAL chain-shaped graphs where plain min-label
    propagation (min_label_components) needs O(diameter) rounds.

    Each round is two shuffle-on-node joins against a per-node min
    aggregate (map-side combinable) — the same per-round plan shape as
    min-label, just with edge rewriting:

    - large-star: every node u links each STRICTLY LARGER neighbor to
      m(u) = min(Γ(u) ∪ {u}) — tall trees flatten geometrically;
    - small-star: every node u links its smaller neighbors (and
      itself) to m(u) — stars tighten onto component minima.

    Convergence: the canonical edge set is a fixpoint of small-star.
    Detected by (edge count, exact-decimal sum of per-edge xxhash64)
    equality, both riding the round's checkpoint job as observed
    metrics — one job per half-round, no extra collect (a 2⁻⁶⁴-scale
    hash-collision risk, vs joining old-vs-new edge sets every round).
    Lineage is truncated per half-round with eager localCheckpoint
    exactly as in min_label_components.

    At fixpoint every component is a star centered on its minimum, so
    label(u) = min over u's outgoing canonical edges (u itself for
    centers/isolated nodes)."""
    from pyspark.sql import Observation

    def _ckpt_with_sig(df: DataFrame) -> tuple[DataFrame, tuple]:
        obs = Observation()
        out = df.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.xxhash64(F.col("c"), F.col("d")).cast("decimal(38,0)")
            ).alias("hsum"),
        ).localCheckpoint(eager=True)
        m = obs.get
        return out, (m["n"], m["hsum"])

    with scoped_conf(edges.sparkSession, _ITER_CONF):
        return _star_iterate(edges, max_iters, _ckpt_with_sig)


def _star_iterate(edges: DataFrame, max_iters: int, _ckpt_with_sig) -> DataFrame:
    nodes = (
        _canon(edges.select(F.col("src").alias("a"), F.col("dst").alias("b")))
        .select(F.explode(F.array("c", "d")).alias("doc_id"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    E, sig = _ckpt_with_sig(
        _canon(edges.select(F.col("src").alias("a"), F.col("dst").alias("b")))
    )
    for _ in range(max_iters):
        # large-star over both directions: (u → every neighbor), gather min
        both = E.select(F.col("c").alias("u"), F.col("d").alias("v")).unionAll(
            E.select(F.col("d").alias("u"), F.col("c").alias("v"))
        )
        mins = both.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        large = _canon(
            both.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
        ).localCheckpoint(eager=True)

        # small-star on canonical (c > d) edges: attach c and its smaller
        # neighbors to m(c) = min(d's); c itself re-links via (c, m)
        smins = large.groupBy("c").agg(F.min("d").alias("m"))
        joined = large.join(smins, "c")
        small = _canon(
            joined.select(F.col("d").alias("a"), F.col("m").alias("b"))
            .unionAll(
                joined.select(F.col("c").alias("a"), F.col("m").alias("b"))
            )
        )
        E, new_sig = _ckpt_with_sig(small)
        if new_sig == sig:
            labels = E.groupBy(F.col("c").alias("doc_id")).agg(
                F.min("d").alias("label")
            )
            return (
                nodes.join(labels, "doc_id", "left")
                .select(
                    "doc_id",
                    F.coalesce("label", F.col("doc_id")).alias("label"),
                )
            )
        sig = new_sig
    raise RuntimeError(
        f"star components did not converge in {max_iters} rounds"
    )


@register("cc2_star_components", _cc_oracle())
def cc2_star_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cc1's component assignment computed by the alternating-star
    algorithm instead of min-label propagation — identical output
    (and identical WITH RECURSIVE oracle), logarithmic instead of
    linear round count on high-diameter graphs. Same corpus-wide
    broadcast left join stamps isolated docs with their own id."""
    pairs = d4_pairs_artifact(spark, sf_dir).select("doc_a", "doc_b")
    edges = pairs.selectExpr("doc_a AS src", "doc_b AS dst").unionAll(
        pairs.selectExpr("doc_b AS src", "doc_a AS dst")
    )
    labels = star_components(edges)
    docs = table(spark, sf_dir, "documents").select("doc_id")
    return docs.join(labels, "doc_id", "left").select(
        "doc_id",
        F.coalesce("label", F.col("doc_id")).cast("bigint").alias("component_id"),
    )


# ---------------------------------------------------------------------------
# cc3 — PageRank over the near-dup graph (scaled-integer iteration)
# ---------------------------------------------------------------------------

PR_ITERS = 5
#: ranks live as integers in units of 1e-12 (rank 1.0 = PR_SCALE).
PR_SCALE = 10**12
#: damping 0.85 as the exact rational 17/20 (see _pr_halfup).
PR_DAMP_NUM, PR_DAMP_DEN = 17, 20


def _pr_halfup(a: str, b: str) -> str:
    """Round-half-up integer division a/b (positive operands), in pure
    integer arithmetic: (2a + b) // (2b) — bit-identical on any engine
    at any scale, unlike ROUND(double) whose tie direction depends on
    the binary neighborhood of the value (the r6 sf0.1 seam: ranks sit
    ON the 1e-12 lattice, so halving by even degrees makes .5 ties
    COMMON, and Spark half-up vs DuckDB binary-round diverged by one
    grid point on 27 nodes)."""
    return f"((2 * ({a}) + ({b})) // (2 * ({b})))"


def _pr_oracle() -> str:
    """DuckDB oracle for cc3: the d4 near-dup pairs, the undirected
    edge list and degrees, then PR_ITERS unrolled rank steps
    contrib{k}/r{k} in the same integer lattice as the Spark loop.
    Every step is MATERIALIZED so DuckDB evaluates the embedded d4
    pairs query once, not once per reference along the round chain
    (g6/g11 discipline; inlined, the sf0.1 oracle spills until the
    disk is full). Each step is deterministic, so materializing
    changes only the evaluation, never the rows."""
    from bc_proj3_spark.operators.dedup import _D4_ORACLE

    ctes = [
        f"""
pairs AS MATERIALIZED (
{_D4_ORACLE}
),
edges AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM nodes),
deg AS MATERIALIZED (SELECT src AS node, COUNT(*) AS d FROM edges GROUP BY src),
base AS MATERIALIZED (
  SELECT {_pr_halfup(f"{15 * 10 ** 10}", "(SELECT n FROM nn)")} AS b
),
r0 AS MATERIALIZED (
  SELECT node,
         {_pr_halfup(str(PR_SCALE), "(SELECT n FROM nn)")} AS r
  FROM nodes
)"""
    ]
    for k in range(1, PR_ITERS + 1):
        p = k - 1
        ctes.append(
            f"""
contrib{k} AS MATERIALIZED (
  SELECT e.dst AS node,
         SUM({_pr_halfup(f"r{p}.r", "deg.d")}) AS s
  FROM edges e
  JOIN r{p} ON e.src = r{p}.node
  JOIN deg ON e.src = deg.node
  GROUP BY e.dst
),
r{k} AS MATERIALIZED (
  SELECT nodes.node,
         CAST((SELECT b FROM base)
              + {_pr_halfup(f"{PR_DAMP_NUM} * COALESCE(contrib{k}.s, 0)", str(PR_DAMP_DEN))}
              AS BIGINT) AS r
  FROM nodes LEFT JOIN contrib{k} ON nodes.node = contrib{k}.node
)"""
        )
    final = f"""
SELECT node AS doc_id, CAST(r AS DOUBLE) / {float(PR_SCALE)} AS pagerank
FROM r{PR_ITERS}
"""
    return "WITH " + ",".join(ctes) + final


@register("cc3_pagerank", _pr_oracle())
def cc3_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 17/20, {PR_ITERS} fixed rounds) over the
    verified near-dup graph — ranks the most-connected documents inside
    duplicate neighborhoods (the doc to KEEP is usually the highest-
    centrality one, a smarter survivor policy than min-id). The classic
    iterative-graph workload, in SCALED-INTEGER arithmetic: ranks are
    BIGINTs in units of 1e-12, every division is explicit round-half-up
    integer division ((2a+b)//(2b)), and damping is the exact rational
    17/20 — so every intermediate is bit-identical on any engine at any
    corpus scale, with no float rounding anywhere (the earlier
    ROUND(double, 12) protocol hit .5-tie divergence at sf0.1: the
    operands sit ON the 1e-12 lattice, where halving makes ties
    common). The single float op is the final /1e12 display cast
    (ranks < 2^53, conversion exact). Each round is one shuffle join
    of the edge list against the rank vector plus a map-side-
    combinable sum — cost ∝ subgraph edges, never corpus size; the
    damped product runs in DECIMAL(38,0) so a hot node's summed
    contributions cannot overflow 64 bits at any scale."""
    pairs = d4_pairs_artifact(spark, sf_dir).select("doc_a", "doc_b")
    with scoped_conf(spark, _ITER_CONF):
        return _pagerank_iterate(spark, pairs, sf_dir)


def _pagerank_iterate(
    spark: SparkSession, pairs: DataFrame, sf_dir: str
) -> DataFrame:
    edges = pairs.selectExpr("doc_a AS src", "doc_b AS dst").unionAll(
        pairs.selectExpr("doc_b AS src", "doc_a AS dst")
    ).localCheckpoint(eager=True)
    # deg's key set IS the node set (distinct src), so one checkpointed
    # frame serves both roles — the previous shape recomputed the
    # `nodes` distinct from the edge list in every round's left join
    # (an extra exchange per round) and joined `deg` separately inside
    # every contrib aggregate. The rank vector now CARRIES the constant
    # out-degree column d, so each round is exactly one edge⋈rank join
    # + one aggregate + one node-keyed left join, all in one
    # checkpoint job. Arithmetic unchanged: same per-edge half-up
    # share, same damped sum, bit-identical ranks.
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    ).localCheckpoint(eager=True)
    n = deg.count()

    def halfup_py(a: int, b: int) -> int:
        return (2 * a + b) // (2 * b)

    base = halfup_py(15 * 10 ** 10, n)  # teleport 0.15/n, scaled
    r = deg.select(
        "node", "d", F.lit(halfup_py(PR_SCALE, n)).cast("bigint").alias("r")
    )
    for _ in range(PR_ITERS):
        contrib = (
            edges.join(r, edges["src"] == r["node"])
            .groupBy(F.col("dst").alias("cnode"))
            .agg(
                F.sum(
                    F.expr("(2 * r + d) div (2 * d)")
                ).alias("s")
            )
        )
        damped = F.expr(
            f"CAST((2 * CAST({PR_DAMP_NUM} AS DECIMAL(38,0)) * COALESCE(s, 0)"
            f" + {PR_DAMP_DEN}) div (2 * {PR_DAMP_DEN}) AS BIGINT)"
        )
        r = (
            deg.join(contrib, deg["node"] == contrib["cnode"], "left")
            .select(
                "node",
                "d",
                (F.lit(base).cast("bigint") + damped).cast("bigint").alias("r"),
            )
            .localCheckpoint(eager=True)
        )
    return r.select(
        F.col("node").alias("doc_id"),
        (F.col("r").cast("double") / F.lit(float(PR_SCALE))).alias("pagerank"),
    )


# ---------------------------------------------------------------------------
# tc1 — triangle census of the co-purchase graph (degree-ordered)
# ---------------------------------------------------------------------------

_TC1_ORACLE = """
WITH e AS (
  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
  FROM lineitem a
  JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
deg AS (
  SELECT node, COUNT(*) AS d
  FROM (SELECT pa AS node FROM e UNION ALL SELECT pb AS node FROM e)
  GROUP BY node
),
tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM e e1
  JOIN e e2 ON e2.pa = e1.pa AND e2.pb > e1.pb
  JOIN e e3 ON e3.pa = e1.pb AND e3.pb = e2.pb
),
base AS (
  SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
         (SELECT COUNT(*) FROM e) AS n_edges,
         (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) FROM deg) AS n_wedges,
         (SELECT n_triangles FROM tri) AS n_triangles
)
SELECT n_nodes, n_edges, n_wedges, n_triangles,
       ROUND(3.0 * n_triangles / n_wedges, 9) AS global_clustering
FROM base
"""


def copurchase_pairs(li: DataFrame) -> DataFrame:
    """One (u, v) row (u < v) per order that contains both parts.

    ONE lineitem scan into a per-order sorted distinct part array
    (collect_set dedups duplicate part lines BEFORE the quadratic
    fan-out), then map-side pair expansion from the array — no
    self-join, so lineitem is neither scanned twice nor shuffled into
    a join (tc1's edge build, r9 verdict item 4: measured ~2× faster
    at sf0.1 than the items-self-join build with an identical pair
    list). Per-order fan-out is k(k-1)/2 on basket size k — bounded by
    the order schema (TPC-H ≤ 7 lines), the same bound the self-join
    had. ``.distinct()`` of this frame is the unweighted co-purchase
    edge list; aggregating it by (u, v) gives the co-purchase support
    (number of distinct orders containing the pair) — both identical
    to the items-self-join forms, since each order contributes each
    pair exactly once. Shared by tc1/g3/g4/g6/g9/g10/g11/g12/mb1."""
    pair_expr = (
        "flatten(transform(ps, (x, i) -> "
        "transform(slice(ps, i + 2, size(ps) - i - 1), "
        "y -> struct(x AS u, y AS v))))"
    )
    return (
        li.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
        .select(F.explode(F.expr(pair_expr)).alias("e"))
        .select("e.u", "e.v")
    )


@register("tc1_triangle_census", _TC1_ORACLE)
def tc1_triangle_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the part
    co-purchase graph (parts sharing an order, the market-basket graph
    the reference's data model implies but never analyzes).

    Scale shape — the MapReduce-classic degree-ordered node-iterator
    (Suri & Vassilvitskii, "Counting Triangles and the Curse of the
    Last Reducer"): every edge is oriented from its lower-(degree, id)
    endpoint to the higher, so wedge generation fans out from each
    node's OUT-degree, bounded by O(sqrt(m)) even on power-law hubs —
    the skewed celebrity node never enumerates its full neighborhood.
    Each triangle has exactly one source under an acyclic orientation,
    so the count needs no deduplication. The plan is three equi-joins +
    one groupBy: edge build shuffles on l_orderkey once, wedge+closure
    shuffle on node keys; nothing is quadratic in the corpus.

    The DuckDB oracle replays the naive canonical-order join (identical
    count by the orientation-invariance argument above) — the oracle
    verifies the NUMBER; the Spark plan carries the scale posture."""
    # Edge build: shared map-side pair expansion (copurchase_pairs).
    edges = (
        copurchase_pairs(table(spark, sf_dir, "lineitem"))
        .select(F.col("u").alias("pa"), F.col("v").alias("pb"))
        .distinct()
    )
    return triangle_census(edges)


#: Broadcast the oriented adjacency (and degree) tables only while the
#: graph is small: the adjacency is EDGE-sized (every oriented edge
#: appears in exactly one neighbor array — O(m), not node-bounded), so
#: an unconditional broadcast OOMs executors at 100× scale. ~16 bytes
#: per edge in array payload → 2M edges ≈ 50 MB, inside broadcast
#: comfort; past that both lookups degrade to shuffle joins keyed on
#: src/dst (same intersect kernel; AQE may still convert at runtime if
#: the materialized side turns out small). Same measured-count gate as
#: d7 (dedup.py D7_BROADCAST_MAX_ROWS).
TC1_BROADCAST_MAX_EDGES = 2_000_000


def triangle_census(
    edges: DataFrame, broadcast_max_edges: int = TC1_BROADCAST_MAX_EDGES
) -> DataFrame:
    """Degree-ordered triangle census over canonical (pa < pb) edges.

    Kernel of tc1, factored over an arbitrary edge frame so the
    orientation-invariance property (same count as the naive canonical
    join) is unit-testable on crafted graphs.

    Algorithm (compact-forward with adjacency arrays): orient every
    edge from its lower-(degree, id) endpoint, build each node's
    OUT-neighbor array, then for each oriented edge (u, v) count
    |N+(u) ∩ N+(v)| — each triangle {u, v, w} has exactly one node
    with out-degree 2 inside it, so it is counted exactly once, at its
    (u → v) edge. Degree ordering bounds every out-neighborhood at
    O(sqrt(m)) even on power-law hubs, so no wedge set is ever
    materialized (the naive wedge join materializes sum-of-d² rows —
    measured 14× slower at sf0.1). The adjacency table is EDGE-sized
    (m rows spread over ≤ n arrays), so joining it is broadcast only
    under the measured-edge-count gate above; at scale the plan is two
    shuffle joins on src/dst — one edge shuffle each, never quadratic."""
    edges = edges.persist()
    m = edges.count()  # materializes the persist; gates the broadcasts
    small = m <= broadcast_max_edges

    def _maybe_bcast(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if small else df

    deg = (
        edges.select(F.col("pa").alias("node"))
        .unionAll(edges.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # Orient each edge low-(deg,id) → high-(deg,id). The degree table
    # is node-sized (≤ 2m, usually ≪) — gated like the adjacency.
    e_deg = (
        edges.join(_maybe_bcast(deg.withColumnRenamed("node", "pa")), "pa")
        .withColumnRenamed("d", "da")
        .join(
            _maybe_bcast(
                deg.withColumnRenamed("node", "pb").withColumnRenamed("d", "db")
            ),
            "pb",
        )
    )
    fwd = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("pa") < F.col("pb"))
    )
    # consumed twice (adjacency build + probe stream) → persist.
    oriented = e_deg.select(
        F.when(fwd, F.col("pa")).otherwise(F.col("pb")).alias("src"),
        F.when(fwd, F.col("pb")).otherwise(F.col("pa")).alias("dst"),
    ).persist()
    adj = oriented.groupBy("src").agg(F.collect_list("dst").alias("nbrs"))
    tri = (
        oriented.join(
            _maybe_bcast(
                adj.select(F.col("src"), F.col("nbrs").alias("src_nbrs"))
            ),
            "src",
        )
        .join(
            _maybe_bcast(
                adj.select(
                    F.col("src").alias("dst"), F.col("nbrs").alias("dst_nbrs")
                )
            ),
            "dst",
            "left",
        )
        .select(
            F.size(
                F.array_intersect(
                    F.col("src_nbrs"),
                    F.coalesce("dst_nbrs", F.array().cast("array<bigint>")),
                )
            ).alias("k")
        )
        .agg(F.sum("k").alias("n_triangles"))
    )
    base = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.expr("d * (d - 1) DIV 2")).alias("n_wedges"),
    )
    return (
        base.crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            # already counted for the broadcast gate — no extra job
            F.lit(m).cast("bigint").alias("n_edges"),
            "n_wedges",
            "n_triangles",
            F.round(
                F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 9
            ).alias("global_clustering"),
        )
    )


# ---------------------------------------------------------------------------
# cc4 — bounded multi-source BFS distance (hop count to a seed set)
# ---------------------------------------------------------------------------

#: deterministic seed rule (documents with doc_id % MOD == 0) — scales
#: with the corpus, non-empty at every SF; depth bound caps the state.
BFS_SEED_MOD = 17
BFS_MAX_DEPTH = 6


def bfs_distances(edges: DataFrame, seeds: DataFrame) -> DataFrame:
    """(doc_id, dist): minimum hop count from any seed, depth-bounded.

    ``edges`` must carry (src, dst) both directions; ``seeds`` one
    doc_id column. Classic frontier BFS: round k joins the previous
    frontier against the edge list, anti-joins already-visited nodes,
    and tags survivors dist=k. The visited set is localCheckpoint-ed
    each round (same lineage-explosion defense as min_label_components)
    with the NEW-node count riding the checkpoint job via df.observe,
    so each round is exactly one job and the loop exits the first empty
    frontier. Per-round cost ∝ frontier × degree — never corpus-sized.
    """
    from pyspark.sql import Observation

    spark = edges.sparkSession

    def _ckpt_count_at(df: DataFrame, k: int) -> tuple[DataFrame, int]:
        obs = Observation()
        out = df.observe(
            obs,
            F.sum(F.when(F.col("dist") == k, 1).otherwise(0)).alias("n_new"),
        ).localCheckpoint(eager=True)
        return out, obs.get["n_new"]

    with scoped_conf(spark, _ITER_CONF):
        edges = edges.localCheckpoint(eager=True)
        known, _ = _ckpt_count_at(
            seeds.select("doc_id", F.lit(0).cast("int").alias("dist")), 0
        )
        for k in range(1, BFS_MAX_DEPTH + 1):
            frontier = known.filter(F.col("dist") == k - 1)
            nxt = (
                edges.join(frontier, edges["src"] == frontier["doc_id"])
                .select(F.col("dst").alias("doc_id"))
                .distinct()
                .join(known, "doc_id", "left_anti")
                .withColumn("dist", F.lit(k).cast("int"))
            )
            known, n_new = _ckpt_count_at(known.unionAll(nxt), k)
            if n_new == 0:
                break
        return known


def _bfs_oracle() -> str:
    from bc_proj3_spark.operators.dedup import _D4_ORACLE

    return f"""
WITH RECURSIVE pairs AS (
{_D4_ORACLE}
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
seeds AS (SELECT doc_id FROM documents WHERE doc_id % {BFS_SEED_MOD} = 0),
reach(node, dist) AS (
  SELECT doc_id, 0 FROM seeds
  UNION
  SELECT e.dst, r.dist + 1
  FROM reach r JOIN edges e ON e.src = r.node
  WHERE r.dist < {BFS_MAX_DEPTH}
)
SELECT node AS doc_id, CAST(MIN(dist) AS INT) AS dist
FROM reach GROUP BY node
"""


@register("cc4_bfs_distance", _bfs_oracle())
def cc4_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop distance from a deterministic seed set over the verified
    near-dup graph, depth-bounded — the "how close is this document to
    a known-bad/known-labeled node" contagion signal (seed = flagged
    docs in production; here doc_id % {MOD} keeps it reproducible).
    Unreached nodes are absent (an outer join against the corpus would
    just add NULLs). The driver-checked twin of a WITH RECURSIVE
    shortest-reach query — evidence the iterative frontier loop, not
    just one round, matches exact SQL semantics."""
    pairs = d4_pairs_artifact(spark, sf_dir).select("doc_a", "doc_b")
    edges = pairs.selectExpr("doc_a AS src", "doc_b AS dst").unionAll(
        pairs.selectExpr("doc_b AS src", "doc_a AS dst")
    )
    seeds = (
        table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") % BFS_SEED_MOD == 0)
    )
    return bfs_distances(edges, seeds).select(
        "doc_id", F.col("dist").cast("int").alias("dist")
    )


# ---------------------------------------------------------------------------
# cc5 — cluster-size distribution of the near-dup components
# ---------------------------------------------------------------------------


def _cc5_oracle() -> str:
    base = _cc_oracle().rstrip()
    return f"""
WITH assign AS (
{base}
),
sizes AS (
  SELECT component_id, COUNT(*) AS cluster_size
  FROM assign GROUP BY component_id
)
SELECT cluster_size,
       COUNT(*) AS n_clusters,
       CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
FROM sizes GROUP BY cluster_size
"""


@register("cc5_cluster_sizes", _cc5_oracle())
def cc5_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup-cluster size distribution: how many near-dup clusters
    exist at each size — the histogram a corpus curator reads before
    choosing a dedup policy (a fat tail of large clusters means
    template flooding and argues for keep-one; all-singletons means
    the threshold is too tight to matter). Reuses cc1's full component
    assignment verbatim, then two bounded aggregates: sizes are
    component-keyed, the histogram is size-keyed — output rows ≤
    max cluster size, trivially small at any corpus scale. n_docs per
    row cross-checks the histogram against the corpus total
    (Σ n_docs = |documents|)."""
    assign = cc1_dedup_components(spark, sf_dir)
    sizes = assign.groupBy("component_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1)))
        .cast("bigint")
        .alias("n_docs"),
    )


# ---------------------------------------------------------------------------
# g3 — degree assortativity of the co-purchase graph
# ---------------------------------------------------------------------------

_G3_ORACLE = """
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
edges AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
directed AS (
  SELECT u AS src, v AS dst FROM edges
  UNION ALL
  SELECT v, u FROM edges
),
deg AS (
  SELECT src AS node, COUNT(*) AS d FROM directed GROUP BY src
),
stamped AS (
  SELECT CAST(ds.d AS HUGEINT) AS x, CAST(dd.d AS HUGEINT) AS y
  FROM directed e
  JOIN deg ds ON ds.node = e.src
  JOIN deg dd ON dd.node = e.dst
),
s AS (
  SELECT COUNT(*) AS m, SUM(x) AS sx, SUM(x * y) AS sxy, SUM(x * x) AS sxx
  FROM stamped
)
SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
       CAST((SELECT COUNT(*) FROM edges) AS BIGINT) AS n_edges,
       CAST(m * sxy - sx * sx AS DOUBLE)
         / CAST(m * sxx - sx * sx AS DOUBLE) AS assortativity
FROM s
"""


@register("g3_degree_assortativity", _G3_ORACLE)
def g3_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase part graph (mb1's edge
    contract): the Pearson correlation of endpoint degrees across
    edges — positive means hubs link to hubs (a core/periphery corpus
    graph dedups and samples very differently from a disassortative
    one), and the sign is the first thing to check before trusting
    sampled-subgraph statistics at scale. Newman's formula, applied
    over the symmetrized directed edge list, where Sum(x) = Sum(y) and
    Sum(x^2) = Sum(y^2), so r collapses to
    (M*Sxy - Sx^2) / (M*Sxx - Sx^2) — NO square root: the whole
    statistic is exact integer algebra with ONE final IEEE division
    (EXACT_DOUBLE_OK; both engines convert the identical exact
    integers). Intermediates ride DECIMAL(38,0) / HUGEINT so the
    moment products cannot overflow 64 bits.

    Scale shape: the basket self-join is bounded by the data contract
    (<= 7 lines per order, see mb1); degrees come from one groupBy on
    the directed list; stamping degrees onto edges is two shuffle
    joins on node id (degree table is node-sized — never broadcast
    unmeasured, but these joins are plain hash equi-joins); the five
    moments collapse in one combiner-absorbed aggregate to a single
    row. The two 1-row count frames are crossJoined in (BNLJ-gated
    pattern, tc1 precedent)."""
    li = table(spark, sf_dir, "lineitem")
    # edge build: shared map-side pair expansion (copurchase_pairs)
    edges = copurchase_pairs(li).distinct().persist()
    directed = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).select(F.col("u").alias("src"), F.col("v").alias("dst"))
    # deg feeds both stamp joins and the node count: persist it (node-
    # sized) so the directed list — two passes over the cached edge
    # list — aggregates ONCE, not once per reference (r6 shared-subplan
    # discipline; the r7 FileScan/IMTS audit caught the recompute)
    deg = directed.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    ).persist()
    stamped = (
        directed.join(deg.withColumnRenamed("node", "src"), "src")
        .withColumnRenamed("d", "x")
        .join(
            deg.select(F.col("node").alias("dst"), F.col("d").alias("y")),
            "dst",
        )
        .select(
            F.col("x").cast("decimal(38,0)").alias("x"),
            F.col("y").cast("decimal(38,0)").alias("y"),
        )
    )
    s = stamped.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("m"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n_nodes = deg.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    n_edges = edges.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    return (
        n_nodes.crossJoin(n_edges)
        .crossJoin(s)
        .select(
            "n_nodes",
            "n_edges",
            (
                (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sx")).cast(
                    "double"
                )
                / (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                    "double"
                )
            ).alias("assortativity"),
        )
    )


# ---------------------------------------------------------------------------
# g4 — rich-club coefficient of the co-purchase graph
# ---------------------------------------------------------------------------

#: degree thresholds at which the rich-club density is evaluated
RICH_CLUB_KS = (2, 4, 8, 16)

_G4_KS_SQL = ", ".join(str(k) for k in RICH_CLUB_KS)

_G4_ORACLE = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
edges AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
directed AS (
  SELECT u AS src FROM edges
  UNION ALL
  SELECT v FROM edges
),
deg AS (
  SELECT src AS node, COUNT(*) AS d FROM directed GROUP BY src
),
stamped AS (
  SELECT ds.d AS du, dd.d AS dv
  FROM edges e
  JOIN deg ds ON ds.node = e.u
  JOIN deg dd ON dd.node = e.v
),
ks AS (SELECT UNNEST([{_G4_KS_SQL}]) AS k),
agg AS (
  SELECT k,
         (SELECT CAST(COUNT(*) AS HUGEINT) FROM deg WHERE d > k) AS nk,
         (SELECT CAST(COUNT(*) AS HUGEINT) FROM stamped
           WHERE du > k AND dv > k) AS ek
  FROM ks
)
SELECT CAST(k AS INT) AS k,
       CAST(nk AS BIGINT) AS n_rich,
       CAST(ek AS BIGINT) AS n_edges_rich,
       CAST(2 * ek AS DOUBLE) / CAST(nk * (nk - 1) AS DOUBLE) AS phi
FROM agg
WHERE nk >= 2
"""


@register("g4_rich_club", _G4_ORACLE)
def g4_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient of the co-purchase part graph (g3's edge
    contract): at each degree threshold k, the edge density phi(k) =
    2*E_k / (N_k*(N_k-1)) among the nodes of degree > k. A rising
    phi(k) means the hubs form a densely wired core — the structural
    signature behind g3's assortativity sign, and the thing to know
    before sampling "representative" subgraphs or trusting that
    removing one hub breaks few duplicate clusters.

    Exactness: N_k and E_k are exact integer conditional counts; phi
    is ONE IEEE division of two exact integers (EXACT_DOUBLE_OK;
    intermediates ride DECIMAL(38,0)/HUGEINT so N_k^2 survives past
    2^63 at any corpus size). Degenerate thresholds (fewer than two
    rich nodes) are dropped identically on both engines.

    Scale shape: the basket self-join is contract-bounded (mb1); the
    degree table comes from one groupBy; stamping degrees onto the
    undirected edge list is two hash equi-joins on node id; then ALL
    thresholds reduce in ONE pass each over deg and stamped —
    conditional sums per k, so adding thresholds adds columns, not
    scans. The two 1-row threshold frames cross in (BNLJ-gated) and
    inline-explode to the per-k output."""
    li = table(spark, sf_dir, "lineitem")
    # edge build: shared map-side pair expansion (copurchase_pairs)
    edges = copurchase_pairs(li).distinct().persist()
    directed = edges.select(F.col("u").alias("src")).union(
        edges.select(F.col("v").alias("src"))
    )
    # persist deg (g3's discipline): it feeds both stamp joins and the
    # per-threshold rich-node census
    deg = directed.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    ).persist()
    stamped = (
        edges.join(
            deg.select(F.col("node").alias("u"), F.col("d").alias("du")), "u"
        ).join(
            deg.select(F.col("node").alias("v"), F.col("d").alias("dv")), "v"
        )
    )
    nk_row = deg.agg(
        *[
            F.sum((F.col("d") > k).cast("long"))
            .cast("decimal(38,0)")
            .alias(f"nk_{k}")
            for k in RICH_CLUB_KS
        ]
    )
    ek_row = stamped.agg(
        *[
            F.sum(((F.col("du") > k) & (F.col("dv") > k)).cast("long"))
            .cast("decimal(38,0)")
            .alias(f"ek_{k}")
            for k in RICH_CLUB_KS
        ]
    )
    per_k = nk_row.crossJoin(ek_row).select(
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(k).cast("int").alias("k"),
                        F.col(f"nk_{k}").alias("nk"),
                        F.col(f"ek_{k}").alias("ek"),
                    )
                    for k in RICH_CLUB_KS
                ]
            )
        )
    )
    return per_k.filter(F.col("nk") >= 2).select(
        "k",
        F.col("nk").cast("bigint").alias("n_rich"),
        F.col("ek").cast("bigint").alias("n_edges_rich"),
        (
            (F.lit(2) * F.col("ek")).cast("double")
            / (F.col("nk") * (F.col("nk") - 1)).cast("double")
        ).alias("phi"),
    )


# ---------------------------------------------------------------------------
# g6 — k-core peeling census of the supported co-purchase graph
# ---------------------------------------------------------------------------

KCORE_K = 3  # induced-degree floor a node needs to survive a peel
KCORE_MIN_SUPPORT = 2  # edge keep-threshold: co-purchased in >= 2 orders
KCORE_ROUNDS = 6  # unrolled peel rounds (census trajectory, cc3's style)


def _g6_oracle() -> str:
    head = f"""WITH items AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
e0 AS MATERIALIZED (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY u, v HAVING COUNT(*) >= {KCORE_MIN_SUPPORT}
),
a0 AS MATERIALIZED (
  SELECT DISTINCT n FROM (SELECT u AS n FROM e0 UNION ALL SELECT v FROM e0) t
)"""
    steps, rows = [head], [
        "SELECT 0 AS round, (SELECT COUNT(*) FROM a0) AS n_nodes,"
        " (SELECT COUNT(*) FROM e0) AS n_edges"
    ]
    for i in range(1, KCORE_ROUNDS + 1):
        p = i - 1
        steps.append(f"""deg{i} AS (
  SELECT n, COUNT(*) AS d
  FROM (SELECT u AS n FROM e{p} UNION ALL SELECT v FROM e{p}) t GROUP BY n
),
a{i} AS MATERIALIZED (SELECT n FROM deg{i} WHERE d >= {KCORE_K}),
e{i} AS MATERIALIZED (
  SELECT u, v FROM e{p}
  WHERE u IN (SELECT n FROM a{i}) AND v IN (SELECT n FROM a{i})
)""")
        rows.append(
            f"SELECT {i}, (SELECT COUNT(*) FROM a{i}),"
            f" (SELECT COUNT(*) FROM e{i})"
        )
    return (
        ",\n".join(steps)
        + "\nSELECT CAST(round AS INTEGER) AS round,"
        " CAST(n_nodes AS BIGINT) AS n_nodes,"
        " CAST(n_edges AS BIGINT) AS n_edges FROM ("
        + " UNION ALL ".join(rows)
        + ") census"
    )


@register("g6_kcore", _g6_oracle())
def g6_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling census of the support-thresholded co-purchase
    graph: repeatedly delete nodes whose induced degree falls below
    KCORE_K and report the (round, nodes, edges) trajectory. The
    k-core is the standard "dense backbone" extractor - what survives
    is the part of the graph where tc1's triangles and cc3's rank mass
    concentrate, and the peel DEPTH at which a node dies (its coreness
    round) is a robust centrality that, unlike raw degree, cannot be
    inflated by pendant spam edges. The support>=KCORE_MIN_SUPPORT
    edge filter is the principled sparsifier: a single shared order is
    coincidence, repeated co-purchase is signal (mb1's lift logic).

    Exactness: every quantity is an exact integer count; the peel is a
    deterministic set fixpoint - no ordering, no floats - so both
    engines' trajectories agree row-for-row (the oracle unrolls the
    same KCORE_ROUNDS steps as MATERIALIZED CTEs, pi2's lesson).

    Scale shape: the edge list shuffles once to build (support
    aggregate); each peel round is one map-side-combinable degree
    aggregate over the CURRENT edge list plus two semi joins against
    the surviving-node set, and the edge list only ever SHRINKS -
    per-round cost is O(current edges), the classic distributed
    k-core schedule. Rounds are localCheckpointed eagerly (cc-family
    O(1)-lineage discipline); the census rides those bounded per-round
    jobs and assembles driver-side (KCORE_ROUNDS+1 rows of three
    ints - a bounded collect, Bloom-literal precedent)."""
    li = table(spark, sf_dir, "lineitem")
    # edge build: shared map-side pair expansion (copurchase_pairs)
    edges = (
        copurchase_pairs(li)
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= KCORE_MIN_SUPPORT)
        .select("u", "v")
        .localCheckpoint(eager=True)
    )
    n_nodes = (
        edges.select(F.col("u").alias("n"))
        .union(edges.select("v"))
        .distinct()
        .count()
    )
    census = [(0, n_nodes, edges.count())]
    e = edges
    from pyspark.sql import Observation

    with scoped_conf(spark, _ITER_CONF):
        for i in range(1, KCORE_ROUNDS + 1):
            # One degree aggregate per round: the survivor set is
            # checkpointed (it is referenced twice by the semi joins
            # AND counted for the census — the previous shape re-ran
            # the union+groupBy degree build for each of those three
            # uses), and its census count rides the checkpoint job via
            # df.observe.
            obs = Observation()
            alive = (
                e.select(F.col("u").alias("n"))
                .union(e.select("v"))
                .groupBy("n")
                .agg(F.count(F.lit(1)).alias("d"))
                .filter(F.col("d") >= KCORE_K)
                .select("n")
                .observe(obs, F.count(F.lit(1)).alias("n_alive"))
                .localCheckpoint(eager=True)
            )
            e = (
                e.join(alive.withColumnRenamed("n", "u"), "u", "left_semi")
                .join(alive.withColumnRenamed("n", "v"), "v", "left_semi")
                .select("u", "v")
                .localCheckpoint(eager=True)
            )
            census.append((i, obs.get["n_alive"], e.count()))
    return local_rows_df(
        spark,
        [(int(r), int(n), int(m)) for r, n, m in census],
        "round int, n_nodes long, n_edges long",
    )


# ---------------------------------------------------------------------------
# g9 — Adamic–Adar link prediction over the co-purchase graph
# ---------------------------------------------------------------------------

#: wedge centers with degree above this cap are excluded from the
#: Adamic–Adar sum ("hub-pruned AA", the standard production variant):
#: a center of degree d generates d² wedges but contributes only
#: 1/ln(d) per pair, so hubs cost quadratically and inform least. The
#: cap bounds wedge work by Σ min(d, CAP)² regardless of corpus size;
#: it is part of the operator's SEMANTICS and mirrored in the oracle.
AA_DEG_CAP = 30

#: minimum co-purchase support for an edge to exist (g6's contract):
#: the raw distinct-pair graph is DENSE (measured mean degree ~116 at
#: sf0.01 — every node over any sane hub cap); requiring the pair in
#: >= 2 distinct orders keeps real repeat-affinity edges and makes the
#: graph sparse at every scale.
AA_MIN_SUPPORT = 2

#: predicted links reported (total order: score desc, then u, v)
AA_TOP_K = 20

_G9_ORACLE = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
edges AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= {AA_MIN_SUPPORT}
),
directed AS (
  SELECT u AS src, v AS dst FROM edges
  UNION ALL
  SELECT v, u FROM edges
),
deg AS (
  SELECT src AS node, COUNT(*) AS d FROM directed GROUP BY src
),
nbr AS (
  SELECT e.src AS w, e.dst AS x, deg.d AS dw
  FROM directed e JOIN deg ON deg.node = e.src
  WHERE deg.d <= {AA_DEG_CAP}
),
wedge AS (
  SELECT a.x AS u, b.x AS v, a.dw
  FROM nbr a JOIN nbr b ON a.w = b.w AND a.x < b.x
),
cand AS (
  SELECT w.u, w.v, w.dw FROM wedge w
  WHERE NOT EXISTS (
    SELECT 1 FROM edges e WHERE e.u = w.u AND e.v = w.v
  )
),
scored AS (
  SELECT u, v,
         CAST(COUNT(*) AS BIGINT) AS n_common,
         SUM(CAST(ROUND(1.0 / LN(dw), 9) AS DECIMAL(28,10))) AS s
  FROM cand GROUP BY u, v
)
SELECT u, v, n_common, CAST(s AS DOUBLE) AS aa_score
FROM scored
ORDER BY s DESC, u, v
LIMIT {AA_TOP_K}
"""


@register("g9_adamic_adar", _G9_ORACLE)
def g9_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{K} predicted co-purchase links by hub-pruned Adamic–Adar:
    for every non-adjacent pair at distance 2, the sum over common
    neighbors w of 1/ln(deg(w)) — rare shared neighbors say more than
    popular ones (Adamic & Adar 2003), and this is the classic
    "frequently bought together" candidate generator / the baseline
    every learned link predictor is measured against. Recommender
    candidates, basket completion, and graph-densification for the
    dedup components all start here.

    Exactness: degrees are exact integers; each wedge contributes one
    ROUND(1/LN(int), 9) lattice term summed as DECIMAL (t21's log
    discipline), so scores — and therefore the top-k ORDER — are
    bit-identical on both engines; ties break on (u, v). The final
    cast to double is exact.

    Scale shape: wedge enumeration is the ONLY superlinear step and is
    bounded by design — centers are degree-capped (Σ min(d,{CAP})²
    wedges, the cap is semantics shared with the oracle), so no hub
    can go quadratic; the neighbor table shuffles once on the center
    key; existing edges are removed with an anti join (never a filter
    against a collected set); the (u,v) aggregate is combiner-absorbed
    and top-k compiles to TakeOrderedAndProject — K rows cross the
    wire, never a global sort."""
    li = table(spark, sf_dir, "lineitem")
    # edge build: shared map-side pair expansion (copurchase_pairs)
    edges = (
        copurchase_pairs(li)
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= AA_MIN_SUPPORT)
        .select("u", "v")
        .persist()
    )
    edges.count()  # materialize before the union's two branches race
    directed = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).select(F.col("u").alias("src"), F.col("v").alias("dst"))
    deg = directed.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    nbr = (
        directed.join(
            deg.filter(F.col("d") <= AA_DEG_CAP),
            F.col("src") == F.col("node"),
        )
        .select(
            F.col("src").alias("w"), F.col("dst").alias("x"), F.col("d").alias("dw")
        )
        .persist()
    )
    nbr.count()  # one materialization feeds both wedge-join sides
    wa, wb = nbr.alias("wa"), nbr.alias("wb")
    wedge = wa.join(
        wb, (F.col("wa.w") == F.col("wb.w")) & (F.col("wa.x") < F.col("wb.x"))
    ).select(
        F.col("wa.x").alias("u"),
        F.col("wb.x").alias("v"),
        F.col("wa.dw").alias("dw"),
    )
    cand = wedge.join(edges, ["u", "v"], "left_anti")
    dec = "decimal(28,10)"
    scored = cand.groupBy("u", "v").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_common"),
        F.sum(F.round(F.lit(1.0) / F.log(F.col("dw")), 9).cast(dec)).alias(
            "s"
        ),
    )
    return (
        scored.orderBy(F.col("s").desc(), "u", "v")
        .limit(AA_TOP_K)
        .select("u", "v", "n_common", F.col("s").cast("double").alias("aa_score"))
    )


# ---------------------------------------------------------------------------
# g10 — per-node clustering coefficient (top-k) of the supported graph
# ---------------------------------------------------------------------------

CC_TOP_K = 20

_G10_ORACLE = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
edges AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= {AA_MIN_SUPPORT}
),
directed AS (
  SELECT u AS src, v AS dst FROM edges
  UNION ALL
  SELECT v, u FROM edges
),
deg AS (
  SELECT src AS node, COUNT(*) AS d FROM directed GROUP BY src
),
tri AS (
  SELECT a.u AS x, a.v AS y, b.v AS z
  FROM edges a
  JOIN edges b ON b.u = a.v
  JOIN edges c ON c.u = a.u AND c.v = b.v
),
credit AS (
  SELECT x AS node FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri
),
tcount AS (SELECT node, COUNT(*) AS t FROM credit GROUP BY node),
cc AS (
  SELECT deg.node, CAST(deg.d AS BIGINT) AS degree,
         CAST(COALESCE(t.t, 0) AS BIGINT) AS n_triangles,
         CASE WHEN deg.d >= 2
              THEN CAST(2 * COALESCE(t.t, 0) AS DOUBLE)
                   / CAST(deg.d * (deg.d - 1) AS DOUBLE)
              ELSE 0.0 END AS clustering_coeff
  FROM deg LEFT JOIN tcount t ON t.node = deg.node
)
SELECT node, degree, n_triangles, clustering_coeff
FROM cc
ORDER BY clustering_coeff DESC, node
LIMIT {CC_TOP_K}
"""


@register("g10_clustering_coefficient", _G10_ORACLE)
def g10_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{K} nodes by LOCAL clustering coefficient in the support>=2
    co-purchase graph: c_v = 2*tri(v) / (deg(v)*(deg(v)-1)) — the
    per-node companion to tc1's global census. High-c nodes sit inside
    tight co-purchase cliques (bundle candidates; in the dedup graph,
    template families), low-c hubs are generic connectors — the number
    that separates them drives both recommendation bundling and
    community pre-screening before cc1/cc2 component runs.

    Exactness: triangle listing is the ORIENTED 3-way equi-join (every
    triangle u<v<w materializes exactly once); credits, degrees and
    the coefficient's 2t / d(d-1) are exact integers with ONE IEEE
    division (both engines divide identical integers — EXACT_DOUBLE
    class), so the top-k order (node tiebreak) is bit-identical.

    Scale shape: wedge work in the a.v=b.u join is bounded by the
    oriented degrees of the SUPPORTED graph (the support>=2 contract
    keeps it sparse — measured max degree 13 at sf0.01, 6 at sf0.1 —
    and orientation caps out-degree at O(sqrt m) for any graph); the
    closure check c.u=a.u AND c.v=b.v is a hash equi-join, no wedge
    set survives it; credits shuffle triangle-count rows only; top-k
    compiles to TakeOrderedAndProject."""
    li = table(spark, sf_dir, "lineitem")
    # edge build: shared map-side pair expansion (copurchase_pairs)
    edges = (
        copurchase_pairs(li)
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= AA_MIN_SUPPORT)
        .select("u", "v")
        .persist()
    )
    edges.count()  # one materialization feeds deg + all three tri-join sides
    directed = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).select(F.col("u").alias("src"), F.col("v").alias("dst"))
    deg = directed.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    ea, eb, ec = edges.alias("ea"), edges.alias("eb"), edges.alias("ec")
    tri = (
        ea.join(eb, F.col("eb.u") == F.col("ea.v"))
        .join(
            ec,
            (F.col("ec.u") == F.col("ea.u")) & (F.col("ec.v") == F.col("eb.v")),
        )
        .select(
            F.col("ea.u").alias("x"),
            F.col("ea.v").alias("y"),
            F.col("eb.v").alias("z"),
        )
    )
    credit = (
        tri.select(F.col("x").alias("node"))
        .union(tri.select("y"))
        .union(tri.select("z"))
    )
    tcount = credit.groupBy("node").agg(F.count(F.lit(1)).alias("t"))
    cc = (
        deg.join(tcount.withColumnRenamed("node", "tn"),
                 F.col("node") == F.col("tn"), "left_outer")
        .select(
            "node",
            F.col("d").cast("bigint").alias("degree"),
            F.coalesce(F.col("t"), F.lit(0)).cast("bigint").alias(
                "n_triangles"
            ),
            F.when(
                F.col("d") >= 2,
                (2 * F.coalesce(F.col("t"), F.lit(0))).cast("double")
                / (F.col("d") * (F.col("d") - 1)).cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering_coeff"),
        )
    )
    return cc.orderBy(F.col("clustering_coeff").desc(), "node").limit(
        CC_TOP_K
    )


# ---------------------------------------------------------------------------
# g11/g12 — label-propagation communities + their modularity
# ---------------------------------------------------------------------------

LP_ROUNDS = 3  # synchronous propagation rounds (unrolled, pi2's lesson)
LP_MIN_SUPPORT = 2  # the family's co-purchase edge sparsifier
MOD_TOP_K = 15  # communities reported by g12 (size desc, label asc)


def _lp_ctes() -> str:
    """Shared DuckDB CTE block: the supported co-purchase graph plus
    LP_ROUNDS unrolled synchronous label-propagation steps l0..lN.
    Each step is MATERIALIZED so the oracle evaluates the same
    trajectory the Spark loop checkpoints (g6/pi2 discipline)."""
    steps = [f"""items AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
e0 AS MATERIALIZED (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY u, v HAVING COUNT(*) >= {LP_MIN_SUPPORT}
),
directed AS MATERIALIZED (
  SELECT u AS src, v AS dst FROM e0 UNION ALL SELECT v, u FROM e0
),
l0 AS MATERIALIZED (
  SELECT DISTINCT src AS node, src AS lab FROM directed
)"""]
    for i in range(1, LP_ROUNDS + 1):
        p = i - 1
        steps.append(f"""l{i} AS MATERIALIZED (
  SELECT node, lab FROM (
    SELECT node, lab,
           ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, lab) AS rn
    FROM (
      SELECT d.src AS node, p.lab AS lab, COUNT(*) AS c
      FROM directed d JOIN l{p} p ON p.node = d.dst
      GROUP BY 1, 2
    ) g
  ) t WHERE rn = 1
)""")
    return ",\n".join(steps)


def _g11_oracle() -> str:
    rows = [
        "SELECT 0 AS round, (SELECT COUNT(*) FROM l0) AS n_communities,"
        " 0 AS n_moved"
    ]
    for i in range(1, LP_ROUNDS + 1):
        p = i - 1
        rows.append(
            f"SELECT {i}, (SELECT COUNT(DISTINCT lab) FROM l{i}),"
            f" (SELECT COUNT(*) FROM l{i} a JOIN l{p} b USING (node)"
            f"  WHERE a.lab <> b.lab)"
        )
    return (
        "WITH "
        + _lp_ctes()
        + "\nSELECT CAST(round AS INTEGER) AS round,"
        " CAST(n_communities AS BIGINT) AS n_communities,"
        " CAST(n_moved AS BIGINT) AS n_moved FROM ("
        + " UNION ALL ".join(rows)
        + ") census"
    )


def _lp_edges(
    spark: SparkSession, sf_dir: str
) -> "tuple[DataFrame, DataFrame]":
    """(undirected support-filtered edges, symmetrized directed view) —
    the directed frame is built here so both g11 and g12 share one
    symmetrization rule."""
    li = table(spark, sf_dir, "lineitem")
    # edge build: shared map-side pair expansion (copurchase_pairs)
    edges = (
        copurchase_pairs(li)
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= LP_MIN_SUPPORT)
        .select("u", "v")
        .localCheckpoint(eager=True)
    )
    directed = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).select(F.col("u").alias("src"), F.col("v").alias("dst"))
    return edges, directed


def _lp_iterate(directed: DataFrame) -> list[DataFrame]:
    """l0..lN (node, lab, plab) frames, each eagerly checkpointed
    (O(1) lineage). Each round's frame CARRIES the node's previous
    label (plab) so census consumers need no per-round join-back, and
    the per-node argmax runs as a ``max_by`` hash aggregate over the
    (c, -lab) key — value-identical to the previous
    ``row_number() == 1`` window (labels are distinct within a node
    group, so the key is tie-free) without the per-partition sort
    (guide §2.2)."""
    labels = [
        directed.select(F.col("src").alias("node"))
        .distinct()
        .select(
            "node",
            F.col("node").alias("lab"),
            F.col("node").alias("plab"),
        )
        .localCheckpoint(eager=True)
    ]
    for _ in range(LP_ROUNDS):
        prev = labels[-1]
        prevnl = prev.select("node", "lab")
        cnt = (
            directed.join(prevnl, directed["dst"] == prevnl["node"])
            .groupBy(F.col("src").alias("node2"), "lab")
            .agg(F.count(F.lit(1)).alias("c"))
            .withColumnRenamed("node2", "node")
        )
        top = cnt.groupBy("node").agg(
            F.max_by(
                "lab", F.struct(F.col("c"), (-F.col("lab")).alias("nl"))
            ).alias("lab")
        )
        nxt = top.join(
            prev.select("node", F.col("lab").alias("plab")), "node"
        ).localCheckpoint(eager=True)
        labels.append(nxt)
    return labels


@register("g11_label_propagation", _g11_oracle())
def g11_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label-propagation community census over the
    support>={LP_MIN_SUPPORT} co-purchase graph (Raghavan et al. 2007):
    every node starts as its own community and each round adopts the
    most frequent label among its NEIGHBORS (ties to the smallest
    label), reported as the (round, n_communities, n_moved) trajectory.
    Where cc2's connected components answer "what is reachable",
    label propagation answers "what is DENSE" — the near-linear
    community detector used to group substitutable products, shard
    co-occurring vocabulary, and pre-cluster dedup candidates.

    Exactness: labels are node ids (exact integers); the per-round
    argmax is an exact (count DESC, label ASC) order statistic, so the
    whole trajectory is bit-identical on both engines; the oracle
    unrolls the same LP_ROUNDS synchronous steps as MATERIALIZED CTEs
    (pi2's lesson — synchronous, not DuckDB's recursive semantics).

    Scale shape: the edge list shuffles once (support aggregate); each
    round is one equi-join of the directed edges against the current
    (node, label) frame — both sides partitioned on the join key — plus
    one map-side-combinable count and a per-node top-1 window whose
    partitions are bounded by degree. Labels are eagerly
    localCheckpointed per round (cc-family O(1)-lineage discipline);
    the census rides those bounded per-round jobs and assembles
    driver-side (LP_ROUNDS+1 rows of three ints, g6's precedent)."""
    edges, directed = _lp_edges(spark, sf_dir)
    with scoped_conf(spark, _ITER_CONF):
        labels = _lp_iterate(directed)
        # ONE census job for the whole trajectory: every checkpointed
        # round already carries (lab, plab), so a union of the bounded
        # (node, lab, plab) frames + one grouped aggregate replaces the
        # former per-round join+collect jobs (LP_ROUNDS+1 jobs -> 1).
        # Round 0 falls out of the same aggregate: plab == lab there,
        # so n_moved sums to 0 and COUNT(DISTINCT lab) is the node
        # count.
        u = labels[0].select(F.lit(0).alias("round"), "lab", "plab")
        for i in range(1, LP_ROUNDS + 1):
            u = u.unionAll(
                labels[i].select(F.lit(i).alias("round"), "lab", "plab")
            )
        rows = (
            u.groupBy("round")
            .agg(
                F.count_distinct("lab").alias("nc"),
                F.sum(
                    (F.col("lab") != F.col("plab")).cast("int")
                ).alias("mv"),
            )
            .collect()
        )
    census = sorted(
        (int(r["round"]), int(r["nc"]), int(r["mv"] or 0)) for r in rows
    )
    return local_rows_df(
        spark,
        census,
        "round int, n_communities long, n_moved long",
    )


def _g12_oracle() -> str:
    n = LP_ROUNDS
    return f"""
WITH {_lp_ctes()},
m AS (SELECT COUNT(*) AS m FROM e0),
deg AS (SELECT src AS node, COUNT(*) AS d FROM directed GROUP BY src),
comm AS (
  SELECT l.lab, COUNT(*) AS n_nodes, SUM(deg.d) AS d_sum
  FROM l{n} l JOIN deg USING (node) GROUP BY l.lab
),
intra AS (
  SELECT a.lab, COUNT(*) AS m_intra
  FROM e0
  JOIN l{n} a ON a.node = e0.u
  JOIN l{n} b ON b.node = e0.v
  WHERE a.lab = b.lab GROUP BY a.lab
),
scored AS (
  SELECT comm.lab AS community,
         CAST(comm.n_nodes AS BIGINT) AS n_nodes,
         CAST(comm.d_sum AS BIGINT) AS degree_sum,
         CAST(COALESCE(intra.m_intra, 0) AS BIGINT) AS intra_edges,
         CAST(4 * m.m * COALESCE(intra.m_intra, 0)
              - comm.d_sum * comm.d_sum AS BIGINT) AS q_num
  FROM comm LEFT JOIN intra USING (lab) CROSS JOIN m
),
total AS (
  SELECT CAST(SUM(q_num) AS DOUBLE)
         / CAST(4 * (SELECT m FROM m) * (SELECT m FROM m) AS DOUBLE) AS q
  FROM scored
)
SELECT community, n_nodes, degree_sum, intra_edges,
       CAST(q_num AS DOUBLE)
         / CAST(4 * (SELECT m FROM m) * (SELECT m FROM m) AS DOUBLE)
         AS contribution,
       (SELECT q FROM total) AS modularity
FROM scored
ORDER BY n_nodes DESC, community
LIMIT {MOD_TOP_K}
"""


@register("g12_modularity", _g12_oracle())
def g12_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity scorecard of g11's label-propagation
    communities: per community (top-{MOD_TOP_K} by size) the node
    count, degree mass, intra-community edge count and modularity
    contribution (m_c/m - (d_c/2m)^2), plus the graph-level Q on every
    row — the acceptance test for ANY clustering of the co-purchase
    graph. Q near 0 says the "communities" are no better than random
    wiring (don't shard by them); Q >> 0 certifies the partition
    before it drives assortment planning or co-occurrence sharding.

    Exactness: every quantity is exact integer algebra — the
    contribution numerator is 4*m*m_c - d_c^2 over the common
    denominator 4m^2, so each output double is ONE IEEE division of
    exact integers (bit-identical cross-engine; the integers stay far
    below 2^53 here — the DECIMAL(38) path is the documented upgrade
    once 4m^2 approaches that bound). Label trajectory = g11's.

    Scale shape: g11's per-round joins plus, at the end, one degree
    aggregate, one (label) roll-up, and one edge→label equi-join pair
    to count intra edges — all partitioned on node/label keys; the
    final top-k compiles to TakeOrderedAndProject. Nothing
    community-count-sized is ever collected or broadcast."""
    edges, directed = _lp_edges(spark, sf_dir)
    with scoped_conf(spark, _ITER_CONF):
        final = _lp_iterate(directed)[-1]
    m = edges.count()
    deg = directed.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    comm = (
        final.join(deg, "node")
        .groupBy("lab")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.sum("d").cast("bigint").alias("d_sum"),
        )
    )
    la, lb = final.alias("la"), final.alias("lb")
    intra = (
        edges.join(la, F.col("la.node") == F.col("u"))
        .join(lb, F.col("lb.node") == F.col("v"))
        .filter(F.col("la.lab") == F.col("lb.lab"))
        .groupBy(F.col("la.lab").alias("lab"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("m_intra"))
    )
    denom = float(4 * m * m)
    scored = (
        comm.join(intra, "lab", "left")
        .select(
            F.col("lab").alias("community"),
            "n_nodes",
            F.col("d_sum").alias("degree_sum"),
            F.coalesce(F.col("m_intra"), F.lit(0))
            .cast("bigint")
            .alias("intra_edges"),
            (
                4 * F.lit(m) * F.coalesce(F.col("m_intra"), F.lit(0))
                - F.col("d_sum") * F.col("d_sum")
            )
            .cast("bigint")
            .alias("q_num"),
        )
        .localCheckpoint(eager=True)
    )
    q = scored.agg(
        (F.sum("q_num").cast("double") / F.lit(denom)).alias("q")
    )
    return (
        scored.crossJoin(F.broadcast(q))
        .select(
            "community",
            "n_nodes",
            "degree_sum",
            "intra_edges",
            (F.col("q_num").cast("double") / F.lit(denom)).alias(
                "contribution"
            ),
            F.col("q").alias("modularity"),
        )
        .orderBy(F.col("n_nodes").desc(), "community")
        .limit(MOD_TOP_K)
    )


# ---------------------------------------------------------------------------
# g13 — HITS hubs/authorities over the customer→part purchase bipartite
#       graph (sum-normalized, scaled-integer power iteration)
# ---------------------------------------------------------------------------

HITS_SCALE = 10 ** 6
HITS_ROUNDS = 4
HITS_TOP_K = 10
#: Broadcast the per-round hub/authority vectors while the edge list
#: (an upper bound on either vector's row count) stays under this many
#: rows (~16 bytes/row → tens of MB built); past it, plain shuffle
#: joins. Same gating idea as tc1's _maybe_bcast.
HITS_BCAST_MAX_EDGES = 5_000_000


def _hits_halfup(a: str, b: str) -> str:
    return f"((2 * ({a}) + ({b})) // (2 * ({b})))"


def _g13_oracle() -> str:
    s = HITS_SCALE
    steps = [f"""edges AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS u, l_partkey AS v
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
),
hubs AS (SELECT DISTINCT u FROM edges),
auths AS (SELECT DISTINCT v FROM edges),
h0 AS MATERIALIZED (
  SELECT u, CAST({s} // (SELECT COUNT(*) FROM hubs) AS BIGINT) AS h
  FROM hubs
)"""]
    for k in range(1, HITS_ROUNDS + 1):
        p = k - 1
        steps.append(f"""ar{k} AS (
  SELECT e.v, CAST(SUM(h{p}.h) AS BIGINT) AS a_raw
  FROM edges e JOIN h{p} ON h{p}.u = e.u GROUP BY e.v
),
a{k} AS MATERIALIZED (
  SELECT v, {_hits_halfup(f'a_raw * {s}', f'(SELECT SUM(a_raw) FROM ar{k})')}
           AS a
  FROM ar{k}
),
hr{k} AS (
  SELECT e.u, CAST(SUM(a{k}.a) AS BIGINT) AS h_raw
  FROM edges e JOIN a{k} ON a{k}.v = e.v GROUP BY e.u
),
h{k} AS MATERIALIZED (
  SELECT u, {_hits_halfup(f'h_raw * {s}', f'(SELECT SUM(h_raw) FROM hr{k})')}
           AS h
  FROM hr{k}
)""")
    return (
        "WITH "
        + ",\n".join(steps)
        + f"""
SELECT v AS part_key,
       CAST(a AS BIGINT) AS auth_scaled,
       CAST(a AS DOUBLE) / {s} AS authority
FROM a{HITS_ROUNDS}
ORDER BY a DESC, v
LIMIT {HITS_TOP_K}
"""
    )


@register("g13_hits_authorities", _g13_oracle())
def g13_hits_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg 1999) over the customer→part purchase bipartite
    graph, sum-normalized: a part's authority is the total hub score of
    the customers buying it, a customer's hub score the total authority
    of the parts they buy — the mutually-reinforcing centrality that
    separates 'bought by broad, well-connected buyers' from raw
    purchase counts (the same recursion a retrieval stack runs on
    query↔document click graphs). Emits the top-k authority parts.

    Exactness: the cc3/e24 half-up scaled-integer protocol with L1
    (sum) normalization so no square root is ever taken: scores live in
    1e-6 fixed-point BIGINTs, each round's raw sums are exact integer
    aggregates, each normalization is ONE explicit half-up; products
    stay under 2^63 while max-degree·SCALE² < 2^63 (degree < ~9·10⁶ —
    orders of magnitude above any SF here; documented bound, not a
    silent one). Top-k selection is on exact integers with the part
    key as tiebreak.

    Scale shape: the fact tables are scanned ONCE into the distinct
    edge list (checkpointed); every round is two edge-keyed
    aggregations + a 1-row normalizer broadcast — O(edges) per round
    with O(1) lineage via per-round eager checkpoints; the top-k
    compiles to TakeOrderedAndProject."""
    s = HITS_SCALE
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    # corpus-scale stage: runs OUTSIDE the iteration context (session
    # shuffle width, AQE skew handling active)
    edges = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_custkey").alias("u"), F.col("l_partkey").alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_hubs = edges.select("u").distinct().count()
    if n_hubs == 0:
        # degenerate input (no purchases): the oracle's final select
        # over the empty authority table yields zero rows — mirror it
        # instead of crashing on SCALE // 0
        return spark.createDataFrame(
            [], "part_key long, auth_scaled long, authority double"
        )
    h = (
        edges.select("u")
        .distinct()
        .select("u", F.lit(s // n_hubs).cast("bigint").alias("h"))
        .localCheckpoint(eager=True)
    )
    from pyspark.sql import Observation

    # Size-gated broadcast of the per-round score vectors (bounded by
    # the edge count, known from the checkpoint for the price of a
    # metadata-cheap count): joining edges against a broadcast rank
    # vector leaves the big edge side entirely unshuffled each round —
    # the §2.4 "broadcast join replaces a shuffle of the large side"
    # rule. Past the gate the loop degrades to the plain shuffle join.
    _use_bcast = edges.count() <= HITS_BCAST_MAX_EDGES
    _mb = F.broadcast if _use_bcast else (lambda df: df)
    a = None
    # AQE is pinned off only on the broadcast path (strategy already
    # decided; see _ITER_BCAST_CONF) — past the gate the shuffle joins
    # keep AQE's runtime re-planning.
    with scoped_conf(spark, _ITER_BCAST_CONF if _use_bcast else _ITER_CONF):
        for _ in range(HITS_ROUNDS):
            # One job per half-round: the raw edge-keyed aggregate is
            # the checkpoint, and the 1-row L1 normalizer rides that
            # same job via df.observe (the cc-family discipline). The
            # previous shape — a scalar-aggregate broadcast crossJoined
            # back — cost a second full edges⋈scores+groupBy evaluation
            # per half-round (the broadcast-build job recomputed the
            # un-cached subtree) plus a broadcast exchange; the
            # normalization itself is then a lazy projection with a
            # LITERAL total, bit-identical half-up arithmetic.
            obs_a = Observation()
            ar = (
                edges.join(_mb(h), "u")
                .groupBy("v")
                .agg(F.sum("h").cast("bigint").alias("a_raw"))
                .observe(obs_a, F.sum("a_raw").cast("bigint").alias("tot"))
                .localCheckpoint(eager=True)
            )
            tot_a = obs_a.get["tot"]
            a = ar.select(
                "v",
                F.expr(f"(2 * a_raw * {s} + {tot_a}) div (2 * {tot_a})")
                .cast("bigint")
                .alias("a"),
            )
            obs_h = Observation()
            hr = (
                edges.join(_mb(a), "v")
                .groupBy("u")
                .agg(F.sum("a").cast("bigint").alias("h_raw"))
                .observe(obs_h, F.sum("h_raw").cast("bigint").alias("tot"))
                .localCheckpoint(eager=True)
            )
            tot_h = obs_h.get["tot"]
            h = hr.select(
                "u",
                F.expr(f"(2 * h_raw * {s} + {tot_h}) div (2 * {tot_h})")
                .cast("bigint")
                .alias("h"),
            )
    return (
        a.orderBy(F.col("a").desc(), "v")
        .limit(HITS_TOP_K)
        .select(
            F.col("v").alias("part_key"),
            F.col("a").cast("bigint").alias("auth_scaled"),
            (F.col("a").cast("double") / F.lit(float(s))).alias("authority"),
        )
    )
