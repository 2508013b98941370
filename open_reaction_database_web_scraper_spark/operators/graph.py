"""Graph operators over relational tables [E].

The reference's crawl frontier is an implicit graph walk — dataset
pages link to detail pages (web_scrpaer_2.py:250-281 pages through a
listing and fans out to per-dataset links). A production corpus
engine needs the explicit-graph versions of that: link-importance
(PageRank over the part–supplier bipartite graph), community
structure (triangle counting over a co-occurrence graph) and
behavioral transition structure (the Markov matrix of event-type
transitions).

Scale shapes, shared by all three:
- edges are DISTINCT'd once and then every step is an equi-join /
  hash-agg keyed on a vertex id — nothing broadcast grows with the
  graph;
- PageRank runs in FIXED-POINT BIGINT arithmetic, so the result is
  bit-identical at any parallelism (float PageRank diverges in the
  last ulps between partition merge orders — unacceptable when a
  100 TB job's output feeds a diff-based regression gate);
- triangle counting orients edges from low-degree to high-degree
  endpoints, which bounds per-vertex wedge generation by
  O(sqrt(|E|)) out-neighbors — the standard trick that makes
  power-law graphs countable without a hub blow-up.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..registry import register

# Fixed-point scale for PageRank ranks: 1.0 == 10^12.
_PR_SCALE = 1_000_000_000_000

# graph_triangle_count's intersection stage has two provably
# output-identical forms whose costs cross with data size (round-14
# interleaved A/Bs; OPTIMIZATION_r14.md):
# - BROADCAST regime (adjacency fits the planner's broadcast
#   threshold): join the oriented edges to adjacency TWICE — both
#   joins become broadcast hash probes, no extra exchange, and each
#   edge pays two map lookups. The explode form is ~35% SLOWER here
#   (sf0.1: 6.52 vs 4.77 s med) because Generate materializes a copy
#   of the tail's out-list per edge row for no shuffle saving.
# - SHUFFLE regime (adjacency exceeds broadcast): EXPLODE the
#   adjacency — it regenerates the oriented edges with the tail's
#   out-list attached as a narrow op, removing a full |E|-row
#   sort-merge join and its exchange. Wins sf1 13.8 vs 17.4 s med
#   and sf10 327/371 vs 627 s (1.7–1.9×).
# The switch keys on the same quantity the planner's own broadcast
# decision reads — estimated adjacency bytes — via the lineitem file
# size: distinct co-purchase pairs per lineitem byte measured stable
# across decades (0.111/B at sf0.1, 0.109/B at sf1), so adjacency
# bytes ≈ 8 B × 0.11 × lineitem bytes ≈ 0.9 × lineitem bytes; the
# 10 MB default broadcast threshold then sits at ~12 MB of lineitem.
# 32 MB keeps a safety margin for the cliff (choosing the two-join
# form just past broadcast costs ~25%, not the 1.9× of running the
# explode form under it). Both branches are value-checked: the
# 3-driver-SF sweep + shuffle-row pin exercise the broadcast branch,
# the sf1 DuckDB diff + sf10 10×-identity the explode branch, and a
# planted test pins branch-vs-branch equality on one corpus.
_TRI_EXPLODE_MIN_BYTES = 32 * 1024 * 1024


def _tri_use_explode(sf_dir: str) -> bool:
    import os
    path = f"{sf_dir}/lineitem.parquet"
    if os.path.isfile(path):
        size = os.path.getsize(path)
    elif os.path.isdir(path):
        size = sum(os.path.getsize(os.path.join(r, f))
                   for r, _, fs in os.walk(path) for f in fs)
    else:
        size = 0
    return size >= _TRI_EXPLODE_MIN_BYTES


def _bipartite_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric part–supplier edge list: distinct (part, supplier)
    pairs from lineitem, vertex ids 'p:<key>' / 's:<key>', both
    directions. Shared by graph_pagerank and graph_bfs_levels (the
    two oracle SQL texts carry matching copies)."""
    pairs = (load(spark, sf_dir, "lineitem")
             .select("l_partkey", "l_suppkey").distinct())
    p = F.concat(F.lit("p:"), F.col("l_partkey").cast("string"))
    s = F.concat(F.lit("s:"), F.col("l_suppkey").cast("string"))
    return (pairs.select(p.alias("src"), s.alias("dst"))
            .unionAll(pairs.select(s.alias("src"), p.alias("dst"))))


_PAGERANK_ORACLE = f"""
WITH pairs AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
), edges AS (
  SELECT 'p:' || l_partkey AS src, 's:' || l_suppkey AS dst FROM pairs
  UNION ALL
  SELECT 's:' || l_suppkey AS src, 'p:' || l_partkey AS dst FROM pairs
), deg AS (
  SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src
), n AS (
  SELECT COUNT(*) AS n_nodes FROM deg
), r0 AS (
  SELECT node, deg,
         CAST({_PR_SCALE} // n_nodes AS BIGINT) AS rank_fp
  FROM deg, n
), i1 AS (
  SELECT e.dst AS node, SUM((85 * (r.rank_fp // r.deg)) // 100) AS s
  FROM r0 r JOIN edges e ON r.node = e.src GROUP BY e.dst
), r1 AS (
  SELECT d.node, d.deg,
         CAST((15 * {_PR_SCALE}) // (100 * n.n_nodes) + i.s AS BIGINT)
           AS rank_fp
  FROM deg d JOIN i1 i ON d.node = i.node, n
), i2 AS (
  SELECT e.dst AS node, SUM((85 * (r.rank_fp // r.deg)) // 100) AS s
  FROM r1 r JOIN edges e ON r.node = e.src GROUP BY e.dst
), r2 AS (
  SELECT d.node, d.deg,
         CAST((15 * {_PR_SCALE}) // (100 * n.n_nodes) + i.s AS BIGINT)
           AS rank_fp
  FROM deg d JOIN i2 i ON d.node = i.node, n
), i3 AS (
  SELECT e.dst AS node, SUM((85 * (r.rank_fp // r.deg)) // 100) AS s
  FROM r2 r JOIN edges e ON r.node = e.src GROUP BY e.dst
)
SELECT d.node,
       CAST((15 * {_PR_SCALE}) // (100 * n.n_nodes) + i.s AS BIGINT)
         AS rank_fp
FROM deg d JOIN i3 i ON d.node = i.node, n
"""


@register("graph_pagerank", oracle=_PAGERANK_ORACLE,
          tags=("graph", "iterative"))
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three damped PageRank iterations over the part–supplier
    bipartite graph (edges = distinct (part, supplier) pairs seen in
    lineitem, both directions), in fixed-point BIGINT.

    Why fixed point: float PageRank sums contributions in partition
    order, so two runs at different parallelism disagree in the last
    ulps — and rank-ordered downstream cuts flap. Integer arithmetic
    (rank // deg, damping as *85 // 100, unit = 1e-12) is exact and
    associative: bit-identical on 1 core or 1000 executors, and the
    DuckDB oracle reproduces it exactly — no ROUND() tolerance.

    Scale shape: each iteration is ONE shuffle (hash-agg of
    contributions on dst) plus a join back to the static degree
    table; the damping base needs |V|, carried as a 1-row broadcast
    join, never collected. Edges are re-read per iteration from the
    same exchange (AQE reuse); a long-running production loop would
    persist+localCheckpoint the rank table every ~10 iterations to
    truncate lineage — with 3 unrolled iterations the plan stays
    shallow enough that checkpointing would cost more than it saves.
    """
    edges = _bipartite_edges(spark, sf_dir)
    deg = (edges.groupBy("src").agg(F.count("*").alias("deg"))
           .withColumnRenamed("src", "node"))
    n = deg.agg(F.count("*").alias("n_nodes"))
    rank = (deg.crossJoin(F.broadcast(n))
            .select("node", "deg", "n_nodes",
                    F.expr(f"CAST({_PR_SCALE} DIV n_nodes AS BIGINT)")
                    .alias("rank_fp")))
    for _ in range(3):
        contrib = (rank.join(edges, rank.node == edges.src)
                   .select(F.col("dst"),
                           F.expr("(85 * (rank_fp DIV deg)) DIV 100")
                           .alias("c"))
                   .groupBy("dst").agg(F.sum("c").alias("s")))
        rank = (deg.crossJoin(F.broadcast(n))
                .join(contrib, deg.node == contrib.dst)
                .select("node", "deg", "n_nodes",
                        F.expr(f"CAST((15 * {_PR_SCALE}) DIV "
                               "(100 * n_nodes) + s AS BIGINT)")
                        .alias("rank_fp")))
    return rank.select("node", "rank_fp")


_TRIANGLE_ORACLE = """
WITH und AS (
  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), deg AS (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT pa AS node FROM und UNION ALL SELECT pb AS node FROM und
  ) GROUP BY node
), tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM und e1
  JOIN und e2 ON e2.pa = e1.pb
  JOIN und e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
)
SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
       (SELECT COUNT(*) FROM und) AS n_edges,
       (SELECT CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) FROM deg)
         AS n_wedges,
       n_triangles
FROM tri
"""


@register("graph_triangle_count", oracle=_TRIANGLE_ORACLE,
          tags=("graph", "join"))
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle census of the part co-purchase graph (two
    parts are adjacent iff some order contains both).

    Orientation trick: every edge is directed from its lower-DEGREE
    endpoint to the higher (ties by id), wedges are generated only
    at each edge's tail, and a closing oriented edge between the two
    heads completes a triangle. Each triangle then has exactly one
    generating vertex (its minimum-degree corner), so the count
    needs no /3 correction — and per-vertex out-degree is bounded by
    O(sqrt(|E|)) even on power-law graphs, which is what keeps the
    wedge join from exploding at the 100 TB hub nodes. The DuckDB
    oracle orients by id instead — a different wedge set but provably
    the same triangle count (any total order works), which is itself
    a correctness check of the orientation argument.

    Scale shape: co-occurrence pairs expand INSIDE each order's row
    (sort_array + a nested-transform HOF over the per-order part
    set — one groupBy shuffle, no lineitem self-join; 2.7× faster
    than the join+distinct form at sf0.1). Triangles are counted by
    adjacency-list intersection — for each oriented edge (u→v),
    |N⁺(u) ∩ N⁺(v)| — instead of materializing the wedge set: the
    intersect runs as one codegen'd array op per edge, so the big
    shuffle carries |E| rows with degree-bounded arrays rather than
    Σ C(out-deg, 2) wedge rows (~35M at sf0.1 on this graph).
    Orientation bounds every adjacency array by O(sqrt(|E|)).
    n_wedges uses the closed form sum(deg·(deg−1)/2), which is
    orientation-independent.
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    sets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps"))
    und = (sets.select(F.explode(F.flatten(F.expr(
        "transform(ps, (x, i) -> transform("
        "slice(ps, i + 2, size(ps) - i - 1), "
        "y -> struct(x AS pa, y AS pb)))"))).alias("e"))
        .select("e.pa", "e.pb").distinct())
    deg = (und.select(F.col("pa").alias("node"))
           .unionAll(und.select(F.col("pb").alias("node")))
           .groupBy("node").agg(F.count("*").alias("deg")))
    # Orient: lower (deg, id) -> higher (deg, id). Each triangle is
    # then counted exactly once, on the edge joining its two
    # smallest corners under that total order.
    da, db = deg.alias("da"), deg.alias("db")
    keyed = (und.join(da, F.col("pa") == F.col("da.node"))
             .join(db, F.col("pb") == F.col("db.node"))
             .select("pa", "pb", F.col("da.deg").alias("dega"),
                     F.col("db.deg").alias("degb")))
    fwd = (F.col("dega") < F.col("degb")) | (
        (F.col("dega") == F.col("degb")) & (F.col("pa") < F.col("pb")))
    oriented = keyed.select(
        F.when(fwd, F.col("pa")).otherwise(F.col("pb")).alias("src"),
        F.when(fwd, F.col("pb")).otherwise(F.col("pa")).alias("dst"))
    adj = (oriented.groupBy("src")
           .agg(F.sort_array(F.collect_list("dst")).alias("nbrs"))
           .withColumnRenamed("src", "node"))
    # Round 14: regime-adaptive intersection stage (rationale and
    # measured crossover at _TRI_EXPLODE_MIN_BYTES above). Both
    # branches compute Σ_{(u,v) oriented} |N⁺(u) ∩ N⁺(v)| over the
    # SAME adj frame and are pinned output-identical.
    av = adj.alias("av")
    if _tri_use_explode(sf_dir):
        # shuffle regime: explode regenerates (src_nbrs, dst) per
        # edge narrowly — no |E|-row src-side join, one less exchange
        probe = adj.select(
            F.col("nbrs").alias("src_nbrs"), F.explode("nbrs").alias("dst"))
    else:
        # broadcast regime: two broadcast hash probes, no Generate
        # copy of the out-list per edge
        au = adj.alias("au")
        probe = (oriented
                 .join(au, F.col("src") == F.col("au.node"))
                 .select(F.col("au.nbrs").alias("src_nbrs"), "dst"))
    tri = (probe
           .join(av, F.col("dst") == F.col("av.node"))
           .select(F.size(F.array_intersect(
               F.col("src_nbrs"), F.col("av.nbrs"))).alias("k"))
           # an edge whose head has no out-neighbors drops out of the
           # inner adjacency join (contributes 0 triangles); with NO
           # closable edge at all the sum is over zero rows — 0, not
           # NULL (the triangle-free-graph case)
           .agg(F.coalesce(F.sum("k"), F.lit(0)).cast("bigint")
                .alias("n_triangles")))
    stats = deg.agg(
        F.count("*").alias("n_nodes"),
        F.expr("SUM(deg * (deg - 1) DIV 2)").alias("n_wedges"))
    n_edges = und.agg(F.count("*").alias("n_edges"))
    return (stats.crossJoin(n_edges).crossJoin(tri)
            .select("n_nodes", "n_edges", "n_wedges", "n_triangles"))


_BFS_ORACLE = """
WITH pairs AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
), edges AS (
  SELECT 'p:' || l_partkey AS src, 's:' || l_suppkey AS dst FROM pairs
  UNION ALL
  SELECT 's:' || l_suppkey AS src, 'p:' || l_partkey AS dst FROM pairs
), l0 AS (
  SELECT DISTINCT 's:' || s_suppkey AS node, 0 AS level
  FROM supplier WHERE s_suppkey <= 2
), r1 AS (
  SELECT node, MIN(level) AS level FROM (
    SELECT node, level FROM l0
    UNION ALL
    SELECT e.dst AS node, 1 AS level FROM l0 JOIN edges e ON l0.node = e.src
  ) GROUP BY node
), r2 AS (
  SELECT node, MIN(level) AS level FROM (
    SELECT node, level FROM r1
    UNION ALL
    SELECT e.dst AS node, r1.level + 1 AS level
    FROM r1 JOIN edges e ON r1.node = e.src
  ) GROUP BY node
), r3 AS (
  SELECT node, MIN(level) AS level FROM (
    SELECT node, level FROM r2
    UNION ALL
    SELECT e.dst AS node, r2.level + 1 AS level
    FROM r2 JOIN edges e ON r2.node = e.src
  ) GROUP BY node
)
SELECT node, CAST(level AS BIGINT) AS level FROM r3 WHERE level <= 3
"""


@register("graph_bfs_levels", oracle=_BFS_ORACLE, tags=("graph", "iterative"))
def graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-hop reachability: hop distance (≤3) from a fixed seed
    set of suppliers through the part–supplier graph — the supply-chain
    blast-radius query ("if these suppliers fail, which parts and
    which second-tier suppliers are affected, and how directly").

    Scale shape: textbook frontier BFS as three unrolled
    expand-and-min rounds — each round is one equi-join of the
    current reachable set against the edge table plus one min-level
    hash agg, both keyed on the vertex id. The reachable set is
    carried whole (not just the frontier) so the min-agg
    deduplicates revisits in the same shuffle that merges levels; no
    driver-side visited set, nothing broadcast that grows with the
    graph. An unbounded-depth variant would loop until
    `new_level == old_level` row counts converge, checkpointing
    every ~10 rounds (same recipe as dedup_clusters' label
    propagation, dedup.py:226).
    """
    edges = _bipartite_edges(spark, sf_dir)
    reached = (load(spark, sf_dir, "supplier")
               .filter(F.col("s_suppkey") <= 2)
               .select(F.concat(F.lit("s:"),
                                F.col("s_suppkey").cast("string"))
                       .alias("node"))
               .distinct()
               .withColumn("level", F.lit(0)))
    for _ in range(3):
        expanded = (reached.join(edges, reached.node == edges.src)
                    .select(F.col("dst").alias("node"),
                            (F.col("level") + 1).alias("level")))
        reached = (reached.unionAll(expanded)
                   .groupBy("node").agg(F.min("level").alias("level")))
    return reached.filter(F.col("level") <= 3) \
                  .select("node", F.col("level").cast("bigint").alias("level"))


_MARKOV_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
)
SELECT prev_type, event_type AS next_type, COUNT(*) AS n,
       ROUND(CAST(COUNT(*) AS DOUBLE)
             / SUM(COUNT(*)) OVER (PARTITION BY prev_type), 6) AS p
FROM seq
WHERE prev_type IS NOT NULL
GROUP BY prev_type, event_type
"""


@register("event_markov_transitions", oracle=_MARKOV_ORACLE,
          tags=("graph", "analytics", "window"))
def event_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of event types: for each
    (prev → next) pair, the transition count and the row-normalized
    probability. The graph view of event_path_topk — edges instead
    of paths.

    Scale shape: ONE user_id exchange carries the LAG window
    ((ts, event_id) order is total, so the predecessor is
    deterministic), the pair count is a map-side-combined hash agg
    on the tiny event_type×event_type domain, and the normalizing
    row sum is a window over that domain — at most |types|² rows
    ever shuffle after the first agg. p divides exact integers, so
    both engines round the identical double.
    """
    w = Window.partitionBy("user_id").orderBy(
        F.asc_nulls_last("ts"), "event_id")
    seq = (load(spark, sf_dir, "events")
           .select("user_id", "event_type", "ts", "event_id")
           .withColumn("prev_type", F.lag("event_type").over(w))
           .filter(F.col("prev_type").isNotNull()))
    counts = seq.groupBy("prev_type",
                         F.col("event_type").alias("next_type")) \
                .agg(F.count("*").alias("n"))
    wrow = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type", "next_type", "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(wrow), 6)
        .alias("p"))


JACCARD_PROBES = 16  # fixed probe set: p_partkey <= 16 at every SF
JACCARD_K = 5


@register(
    "graph_jaccard_neighbors",
    oracle=f"""
    WITH pairs AS (
      SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
    ), deg AS (
      SELECT l_partkey, COUNT(*) AS d FROM pairs GROUP BY l_partkey
    ), probes AS (
      SELECT l_partkey AS probe, l_suppkey AS s FROM pairs
      WHERE l_partkey <= {JACCARD_PROBES}
    ), inter AS (
      SELECT pr.probe, c.l_partkey AS cand, COUNT(*) AS n_common
      FROM probes pr JOIN pairs c
        ON c.l_suppkey = pr.s AND c.l_partkey <> pr.probe
      GROUP BY pr.probe, c.l_partkey
    ), scored AS (
      SELECT i.probe, i.cand, CAST(i.n_common AS BIGINT) AS n_common,
             ROUND(i.n_common
                   / (dp.d + dc.d - i.n_common), 9) AS jaccard
      FROM inter i
      JOIN deg dp ON dp.l_partkey = i.probe
      JOIN deg dc ON dc.l_partkey = i.cand
    ), ranked AS (
      SELECT *, CAST(ROW_NUMBER() OVER (
               PARTITION BY probe
               ORDER BY jaccard DESC, cand) AS INTEGER) AS rnk
      FROM scored
    )
    SELECT probe, cand, n_common, jaccard, rnk
    FROM ranked WHERE rnk <= {JACCARD_K}
    """,
    tags=("graph", "dedup-adjacent"),
)
def graph_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbor-set Jaccard similarity: for each probe part (fixed
    set, p_partkey ≤ {JACCARD_PROBES}), the top-{JACCARD_K} other
    parts by Jaccard of their supplier sets — the graph-native
    "entities with the same relationships" similarity that embedding
    cosine approximates, computed exactly on the bipartite graph.

    Scale shape: the all-pairs neighbor-Jaccard is the wedge-join
    anti-pattern (O(Σ deg²) pairs — the recorded triangle-count
    lesson), so candidates generate from the PROBE side only: the
    fixed probe set's supplier lists join back through the shared
    supplier, bounding pair work at O(probes · avg-deg²) regardless
    of graph size. Intersections are exact counts on the DISTINCT
    pair set; Jaccard = n/(d_a + d_b − n) on integer counts, rounded
    at 9 dp; the per-probe rank window rides the inferred partial
    WindowGroupLimit.
    """
    pairs = (load(spark, sf_dir, "lineitem")
             .select("l_partkey", "l_suppkey").distinct())
    deg = pairs.groupBy("l_partkey").agg(F.count("*").alias("d"))
    probes = (pairs.filter(F.col("l_partkey") <= JACCARD_PROBES)
              .select(F.col("l_partkey").alias("probe"),
                      F.col("l_suppkey").alias("s")))
    inter = (pairs.join(F.broadcast(probes),
                        (F.col("l_suppkey") == F.col("s"))
                        & (F.col("l_partkey") != F.col("probe")))
             .groupBy("probe", F.col("l_partkey").alias("cand"))
             .agg(F.count("*").alias("n_common")))
    dp = deg.select(F.col("l_partkey").alias("probe"),
                    F.col("d").alias("dp"))
    dc = deg.select(F.col("l_partkey").alias("cand"),
                    F.col("d").alias("dc"))
    scored = (inter.join(F.broadcast(dp), "probe").join(dc, "cand")
              .select("probe", "cand",
                      F.col("n_common").cast("long").alias("n_common"),
                      F.round(F.col("n_common")
                              / (F.col("dp") + F.col("dc")
                                 - F.col("n_common")), 9)
                      .alias("jaccard")))
    w = Window.partitionBy("probe").orderBy(F.col("jaccard").desc(), "cand")
    return (scored.withColumn("rnk", F.row_number().over(w).cast("int"))
            .filter(F.col("rnk") <= JACCARD_K)
            .select("probe", "cand", "n_common", "jaccard", "rnk"))


@register(
    "graph_degree_topk",
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
    ), edges AS (
      SELECT 'p:' || l_partkey AS src, 's:' || l_suppkey AS dst
      FROM pairs
      UNION ALL
      SELECT 's:' || l_suppkey AS src, 'p:' || l_partkey AS dst
      FROM pairs
    )
    SELECT src AS node, COUNT(*) AS degree
    FROM edges GROUP BY src
    ORDER BY degree DESC, node
    LIMIT 20
    """,
    tags=("graph", "topk"),
)
def graph_degree_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hub extraction: the 20 highest-degree vertices of the
    part–supplier graph (degree ties broken by node id). The "who
    dominates connectivity" diagnostic that motivates skew handling
    downstream — a hub found here is exactly the key a salted join
    (join_salted_skew) would salt.

    Plan shape: the shared edge builder's distinct, one hash agg
    with map-side partials, then a TakeOrderedAndProject — the
    bounded-k sort that never materializes a global order. Scales
    as the degree distribution's hash agg; nothing driver-side.
    """
    edges = _bipartite_edges(spark, sf_dir)
    return (edges.groupBy(F.col("src").alias("node"))
            .agg(F.count("*").alias("degree"))
            .orderBy(F.col("degree").desc(), "node")
            .limit(20))
