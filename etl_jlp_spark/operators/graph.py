"""Graph analytics over the verified near-duplicate pair graph.

The dedup pipeline's pair graph (MinHash-LSH candidates verified at
Jaccard >= tau, see operators/similarity.py) is a graph worth analyzing
in its own right: PageRank surfaces the most-connected duplicates (the
"template" documents spam farms stamp out — high centrality = high
boilerplate suspicion), and the triangle census measures how clique-like
the duplicate clusters are (near-dup clusters from one template are
near-cliques; chains of pairwise-similar-but-drifting revisions are
triangle-free — the two need different curation responses).

The edge list is match-bounded (≪ corpus at any scale — millions of
edges at 100 TB, not trillions), so iteration cost is ∝ duplication,
not corpus size. Every iterative operator here (PageRank, LPA, k-hop,
k-core) runs through ``components.solve_edges``, the one scale-adaptive
solver connected components and TextRank use too: a tiny measured edge
list solves in microseconds on the driver; a big one runs the canonical
iterative-Spark shape — join + aggregate per round with
``localCheckpoint`` lineage truncation.

Reference: the reference has no graph layer at all (its dedup story
stops at pandas drop_duplicates, dwh_lab/dwh/general_lib.py); this
module is part of the beyond-reference training-data surface.

Oracles: the shared ``_MINHASH_PAIRS_CTES`` pair pipeline (so the graph,
CC and dedup operators can never disagree about what an edge is), then
each iterative algorithm unrolled to its fixed round count in chained
CTEs (PageRank, LPA, k-hop, k-core) or one closed-form query (the
triangle census as one 3-way self-join). The pipeline's final ``pairs``
CTE is MATERIALIZED, so it runs once per oracle however many unrolled
rounds reference ``edges``/``nodes``/``deg``/``und``; DuckDB still
inlines every other CTE at each reference, so a round chain that
references its previous round more than once re-runs those rounds
(k-core therefore materializes its own chain).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_jlp_spark.operators.components import _sym_edges, solve_edges
from etl_jlp_spark.operators.similarity import _MINHASH_PAIRS_CTES, dedup_minhash_lsh
from etl_jlp_spark.registry import query

PR_DAMPING = 0.85
PR_ITERS = 5  # fixed (not to-convergence) so the oracle can unroll it
PR_ROUND = 6

_GRAPH_CTES = (
    _MINHASH_PAIRS_CTES
    + """
, edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
), nodes AS (
  SELECT DISTINCT a AS node FROM edges
), deg AS (
  SELECT a AS node, CAST(count(*) AS DOUBLE) AS deg FROM edges GROUP BY a
)"""
)


def _degrees(edges):
    """(node, deg) from a symmetrized edge relation."""
    return edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )


def _pagerank_iter_ctes() -> str:
    """r1..rK chained CTEs, each one power-iteration step. The float
    expressions are written so BOTH engines evaluate the identical IEEE
    ops: ``1 - 0.85`` stays symbolic (each engine computes the same
    double), contributions are rank/deg sums over the same edge rows."""
    out = f"""
, nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes)
, r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)"""
    for i in range(1, PR_ITERS + 1):
        out += f"""
, r{i} AS (
  SELECT n.node,
         (1 - {PR_DAMPING}) / (SELECT n FROM nn) + {PR_DAMPING} * COALESCE(s.c, 0) AS rank
  FROM nodes n LEFT JOIN (
    SELECT e.b AS node, sum(r.rank / d.deg) AS c
    FROM edges e JOIN r{i - 1} r ON e.a = r.node JOIN deg d ON e.a = d.node
    GROUP BY e.b
  ) s ON n.node = s.node
)"""
    return out


def _driver_pagerank(rows: list, damping: float, iters: int) -> list[tuple]:
    """Weighted power iteration over collected (src, dst, w) rows — the
    tiny-graph shortcut. Same arithmetic as the distributed loop and
    both oracles: rank·w/wdeg edge contributions, (1−d)/n teleport."""
    nbrs: dict = {}
    wdeg: dict = {}
    for s, d, w in rows:
        nbrs.setdefault(s, []).append((d, w))
        wdeg[s] = wdeg.get(s, 0.0) + w
    n = float(len(nbrs))
    ranks = {v: 1.0 / n for v in nbrs}
    for _ in range(iters):
        contrib = {v: 0.0 for v in nbrs}
        for src, outs in nbrs.items():
            for dst, w in outs:
                contrib[dst] += ranks[src] * w / wdeg[src]
        ranks = {v: (1 - damping) / n + damping * contrib[v] for v in nbrs}
    return sorted(ranks.items())


def _pagerank(edges: DataFrame, damping: float, iters: int) -> DataFrame:
    """(node, rank) after ``iters`` weighted power-iteration rounds over
    a symmetric (src, dst, w) edge relation — the one PageRank behind
    graph_pagerank (w = 1) and textrank_keywords (w = co-occurrence
    count). Ranks come back unrounded; callers round in Spark on both
    paths."""
    spark = edges.sparkSession
    node_type = edges.schema["src"].dataType.simpleString()

    def driver(rows):
        out = _driver_pagerank(rows, damping, iters)
        return spark.createDataFrame(out, f"node {node_type}, rank double")

    def distributed(edges):
        deg = edges.groupBy("src").agg(F.sum("w").cast("double").alias("deg"))
        n_nodes = deg.count()
        ranks = deg.select(
            F.col("src").alias("node"), "deg", F.lit(1.0 / n_nodes).alias("rank")
        ).localCheckpoint(eager=True)
        for _ in range(iters):
            contrib = (
                edges.join(ranks, edges.src == ranks.node)
                .groupBy("dst")
                .agg(F.sum(F.col("rank") * F.col("w") / F.col("deg")).alias("c"))
            )
            ranks = (
                ranks.drop("rank")
                .join(contrib, ranks.node == contrib.dst, "left")
                .select(
                    "node",
                    "deg",
                    (
                        F.lit((1 - damping) / n_nodes)
                        + F.lit(damping) * F.coalesce("c", F.lit(0.0))
                    ).alias("rank"),
                )
                .localCheckpoint(eager=True)
            )
        return ranks.select("node", "rank")

    return solve_edges(edges, driver, distributed)


@query(
    "graph_pagerank",
    oracle=_GRAPH_CTES
    + _pagerank_iter_ctes()
    + f"""
SELECT CAST(node AS BIGINT) AS node, round(rank, {PR_ROUND}) AS pagerank
FROM r{PR_ITERS}
""",
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 5 fixed iterations) over the undirected
    near-dup pair graph: rank mass concentrates on the hub documents
    every other duplicate links to — template/boilerplate detectors
    threshold on it. Undirected graph ⇒ no dangling nodes (every node
    has degree ≥ 1), so the teleport term is the only mass correction.

    Scale: iteration operand is the match-bounded edge list, never the
    corpus; ``_pagerank`` (w = 1) solves tiny graphs driver-side and
    otherwise runs the join-agg loop with ``localCheckpoint``
    truncating lineage per round."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    ranks = _pagerank(_sym_edges(pairs).withColumn("w", F.lit(1)), PR_DAMPING, PR_ITERS)
    return ranks.select(
        F.col("node").cast("long").alias("node"),
        F.round("rank", PR_ROUND).alias("pagerank"),
    )


@query(
    "graph_triangle_stats",
    oracle=_GRAPH_CTES
    + """
, und AS (SELECT doc_a AS a, doc_b AS b FROM pairs)
, tri AS (
  SELECT CAST(count(*) AS BIGINT) AS n
  FROM und e1 JOIN und e2 ON e1.b = e2.a
  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
), wedges AS (
  SELECT CAST(sum(CAST(deg AS BIGINT) * (CAST(deg AS BIGINT) - 1)) / 2 AS BIGINT) AS w
  FROM deg
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM nodes) AS n_nodes,
       (SELECT CAST(count(*) AS BIGINT) FROM und) AS n_edges,
       (SELECT n FROM tri) AS n_triangles,
       CASE WHEN (SELECT w FROM wedges) > 0
            THEN round(3.0 * (SELECT n FROM tri) / (SELECT w FROM wedges), 6)
       END AS clustering_coeff
""",
)
def graph_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the near-dup graph: count of triangles plus
    the global clustering coefficient 3·triangles / wedges — ≈1 means
    duplicate clusters are cliques (one template, many stamps), ≈0
    means pairwise drift chains (revision histories). One row out.

    Plan: triangles via the a<b<c oriented 3-way self-join of the
    UNIQUE-edge list — each triangle counted exactly once, join
    operands are the match-bounded pair list (broadcast at any
    realistic dup rate); wedges are one agg over the degree table.
    All-pairs never materializes anywhere."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b").persist()
    e1, e2, e3 = pairs.alias("e1"), pairs.alias("e2"), pairs.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.doc_b") == F.col("e2.doc_a"))
        .join(
            e3,
            (F.col("e3.doc_a") == F.col("e1.doc_a")) & (F.col("e3.doc_b") == F.col("e2.doc_b")),
        )
        .count()
    )
    edges = pairs.unionAll(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).distinct()
    deg = edges.groupBy("doc_a").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    stats = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        (F.sum(F.col("deg") * (F.col("deg") - F.lit(1))) / F.lit(2)).cast("long").alias("w"),
    ).first()
    n_edges = pairs.count()
    pairs.unpersist()
    n_nodes, wedges = stats["n_nodes"], stats["w"]
    coeff = round(3.0 * tri / wedges, 6) if wedges and wedges > 0 else None
    return spark.createDataFrame(
        [(n_nodes, n_edges, tri, coeff)],
        "n_nodes long, n_edges long, n_triangles long, clustering_coeff double",
    )


# ---------------------------------------------------------------------------
# Label propagation (Raghavan et al. 2007), synchronous variant with a
# deterministic tie-break — community labels for the near-dup graph
# without CC's full transitive closure: after k rounds every node holds
# the (max-frequency, then min) label of its neighborhood, which
# separates template clusters that CC would merge through one weak
# bridge pair.
# ---------------------------------------------------------------------------

LPA_ITERS = 4  # fixed so the oracle can unroll it


def _lpa_iter_ctes() -> str:
    out = """
, l0 AS (SELECT node, node AS label FROM nodes)"""
    for i in range(1, LPA_ITERS + 1):
        out += f"""
, l{i} AS (
  SELECT node, label FROM (
    SELECT t.node, t.label,
           row_number() OVER (PARTITION BY t.node ORDER BY t.c DESC, t.label) AS rn
    FROM (
      SELECT e.b AS node, l.label, count(*) AS c
      FROM edges e JOIN l{i - 1} l ON e.a = l.node
      GROUP BY e.b, l.label
    ) t
  ) q WHERE rn = 1
)"""
    return out


def _driver_lpa(rows: list) -> list[tuple[int, int]]:
    """Synchronous LPA over collected (src, dst) rows — the tiny-graph
    shortcut, same update rule as the distributed loop and the oracle."""
    nbrs: dict[int, list[int]] = {}
    for s, d in rows:
        nbrs.setdefault(d, []).append(s)
    labels = {v: v for v in nbrs}
    for _ in range(LPA_ITERS):
        nxt = {}
        for v, ins in nbrs.items():
            freq: dict[int, int] = {}
            for u in ins:
                lab = labels[u]
                freq[lab] = freq.get(lab, 0) + 1
            nxt[v] = min(lab for lab, c in freq.items() if c == max(freq.values()))
        labels = nxt
    return sorted(labels.items())


@query(
    "graph_label_propagation",
    oracle=_GRAPH_CTES
    + _lpa_iter_ctes()
    + f"""
SELECT CAST(node AS BIGINT) AS node, CAST(label AS BIGINT) AS community,
       CAST(count(*) OVER (PARTITION BY label) AS BIGINT) AS community_size
FROM l{LPA_ITERS}
""",
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``LPA_ITERS`` synchronous label-propagation rounds over the
    near-dup graph: each node adopts its neighborhood's
    (max-frequency, min-on-tie) label; output is (node, community,
    community_size).

    Plan: per round ONE edges⋈labels join + a (node, label) count +
    a per-node top-1 window — all keyed on the match-bounded edge
    list, with ``localCheckpoint`` truncating lineage between rounds;
    tiny graphs short-circuit to the driver (``solve_edges``). The
    oracle unrolls the same ``LPA_ITERS`` rounds as chained CTEs."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    return _lpa_from_pairs(spark, pairs)


def _lpa_from_pairs(spark: SparkSession, pairs) -> DataFrame:
    """LPA over an already-built pair relation — split out so composite
    reports (graph_modularity) can compute the near-dup pairs ONCE,
    persist them, and feed both the label loop and their own
    aggregations instead of re-running the full MinHash pipeline for
    each consumer (the labels materialize eagerly — driver shortcut or
    localCheckpoint — so plan-fragment reuse can never bridge the two)."""
    from pyspark.sql import Window

    def driver(rows):
        labs = _driver_lpa(rows)
        sizes: dict[int, int] = {}
        for _, lab in labs:
            sizes[lab] = sizes.get(lab, 0) + 1
        return spark.createDataFrame(
            [(n, lab, sizes[lab]) for n, lab in labs],
            "node long, community long, community_size long",
        )

    def distributed(edges):
        labels = (
            edges.select(F.col("dst").alias("node"))
            .distinct()
            .select("node", F.col("node").alias("label"))
            .localCheckpoint(eager=True)
        )
        w = Window.partitionBy("node").orderBy(F.desc("c"), "label")
        for _ in range(LPA_ITERS):
            labels = (
                edges.join(labels, edges.src == labels.node)
                .groupBy(F.col("dst").alias("node2"), "label")
                .agg(F.count(F.lit(1)).alias("c"))
                .withColumnRenamed("node2", "node")
                .withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select("node", "label")
                .localCheckpoint(eager=True)
            )
        wsize = Window.partitionBy("label")
        return labels.select(
            F.col("node").cast("long").alias("node"),
            F.col("label").cast("long").alias("community"),
            F.count(F.lit(1)).over(wsize).cast("long").alias("community_size"),
        )

    return solve_edges(_sym_edges(pairs), driver, distributed, key="dst")


# ---------------------------------------------------------------------------
# K-hop reachability + common-neighbor link prediction — the two
# remaining standard graph reports over the near-dup pair graph: how
# FAR the duplication neighborhood of each document extends (revision
# chains keep growing with k; template cliques saturate at hop 1), and
# WHICH non-edges the wedge structure predicts (a pair sharing many
# verified neighbors is a near-dup the banding step missed — a recall
# probe for the LSH parameters).
# ---------------------------------------------------------------------------

KHOP_ITERS = 4  # fixed relaxation rounds so the oracle can unroll them
# Multi-source BFS is O(sum |component| * |component edges|) on the
# driver, not O(E) — cap far lower than the single-source ops.
DRIVER_KHOP_MAX_EDGES = 5_000


def _khop_iter_ctes() -> str:
    """d1..dK chained CTEs, each one (root, node) min-distance
    relaxation round, seeded from EVERY node at distance 0.

    Each round references the previous CTE exactly ONCE: the
    keep-your-distance case rides along as zero-weight self-loops in
    ``eplus`` instead of a second d_{i-1} reference in a UNION — DuckDB
    inlines CTEs per reference, so a two-reference round would
    re-evaluate the earlier rounds 2^K times. The upstream ``pairs`` is
    MATERIALIZED and runs once either way."""
    out = """
, eplus AS (
  SELECT a, b, 1 AS w FROM edges
  UNION ALL
  SELECT node, node, 0 AS w FROM nodes
), d0 AS (SELECT node AS root, node, 0 AS dist FROM nodes)"""
    for i in range(1, KHOP_ITERS + 1):
        out += f"""
, d{i} AS (
  SELECT d.root, e.b AS node, min(d.dist + e.w) AS dist
  FROM d{i - 1} d JOIN eplus e ON e.a = d.node
  GROUP BY d.root, e.b
)"""
    return out


def _driver_khop(rows: list) -> list[tuple]:
    """Per-node BFS over collected (src, dst) rows — the tiny-graph
    shortcut; identical semantics to the distributed loop and the
    unrolled oracle. Cost is bounded by component sizes, which is why
    the driver cap for this op is lower than the single-source ones."""
    nbrs: dict[int, list[int]] = {}
    for s, d in rows:
        nbrs.setdefault(s, []).append(d)
    out = []
    for source in nbrs:
        dist = {source: 0}
        frontier = [source]
        reach = [0] * KHOP_ITERS
        for depth in range(1, KHOP_ITERS + 1):
            nxt = []
            for u in frontier:
                for v in nbrs.get(u, ()):
                    if v not in dist:
                        dist[v] = depth
                        nxt.append(v)
            reach[depth - 1] = len(dist) - 1  # exclude self
            frontier = nxt
        out.append((source, *reach))
    return sorted(out)


_KHOP_REACH_COLS = ", ".join(
    f"CAST(sum(CASE WHEN dist BETWEEN 1 AND {k} THEN 1 ELSE 0 END) AS BIGINT)"
    f" AS reach_{k}"
    for k in range(1, KHOP_ITERS + 1)
)


@query(
    "graph_khop_reach",
    oracle=_GRAPH_CTES
    + _khop_iter_ctes()
    + f"""
SELECT CAST(root AS BIGINT) AS node, {_KHOP_REACH_COLS}
FROM d{KHOP_ITERS} GROUP BY root
""",
)
def graph_khop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-hop neighborhood profile of the near-dup graph: for EVERY
    node, how many other documents are within 1, 2, ... ``KHOP_ITERS``
    hops — the geodesic shape of each duplicate cluster (a clique
    saturates at hop 1; a revision chain keeps growing), and a
    standard structural feature for downstream cluster triage.

    Plan: multi-source min-dist relaxation keyed (root, node) — state
    is bounded by Σ component², i.e. by duplication, never the corpus.
    Per round ONE state⋈edges join + a min aggregate with
    ``localCheckpoint`` truncating lineage; ≤
    ``DRIVER_KHOP_MAX_EDGES`` measured edges short-circuits to a
    driver BFS. The oracle unrolls the same rounds as chained
    single-reference CTEs seeded from every node."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    schema = "node long, " + ", ".join(f"reach_{k} long" for k in range(1, KHOP_ITERS + 1))

    def distributed(edges):
        dist = (
            edges.select(F.col("src").alias("root"))
            .distinct()
            .select("root", F.col("root").alias("node"), F.lit(0).alias("dist"))
            .localCheckpoint(eager=True)
        )
        for _ in range(KHOP_ITERS):
            dist = (
                edges.join(dist, edges.src == dist.node)
                .select("root", F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist"))
                .unionAll(dist)
                .groupBy("root", "node")
                .agg(F.min("dist").alias("dist"))
                .localCheckpoint(eager=True)
            )
        return dist.groupBy(F.col("root").cast("long").alias("node")).agg(
            *[
                F.sum(F.when(F.col("dist").between(1, k), 1).otherwise(0))
                .cast("long")
                .alias(f"reach_{k}")
                for k in range(1, KHOP_ITERS + 1)
            ]
        )

    return solve_edges(
        _sym_edges(pairs),
        lambda rows: spark.createDataFrame(_driver_khop(rows), schema),
        distributed,
        max_edges=DRIVER_KHOP_MAX_EDGES,
    )


@query(
    "graph_link_prediction",
    oracle=_GRAPH_CTES
    + """
, und AS (SELECT doc_a AS a, doc_b AS b FROM pairs)
, wedge AS (
  SELECT e1.b AS a, e2.b AS c, CAST(count(*) AS BIGINT) AS cn
  FROM edges e1 JOIN edges e2 ON e1.a = e2.a AND e1.b < e2.b
  GROUP BY 1, 2
), nonedge AS (
  SELECT wedge.* FROM wedge
  LEFT JOIN und ON und.a = wedge.a AND und.b = wedge.c
  WHERE und.a IS NULL
)
SELECT m.a AS doc_a, m.c AS doc_b, m.cn AS common_neighbors,
       round(CAST(m.cn AS DOUBLE)
             / (CAST(da.deg AS DOUBLE) + CAST(dc.deg AS DOUBLE) - m.cn), 6) AS jaccard
FROM nonedge m
JOIN deg da ON da.node = m.a
JOIN deg dc ON dc.node = m.c
""",
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction on the near-dup graph: every
    non-edge pair sharing >= 1 verified neighbor, scored by common
    count and neighborhood Jaccard cn/(deg_a+deg_b-cn). High scores
    are near-dups the LSH banding missed — an offline recall probe.

    Plan: one wedge self-join on the shared-neighbor key (cost
    Σ deg(v)² over the match-bounded graph, NOT the corpus), an
    anti-join against existing edges, then two degree joins against
    the node-count-sized degree table. No all-pairs anywhere."""
    # Materialize the match-bounded pair list ONCE (eager localCheckpoint
    # — the contrastive_triplets r11 pattern, no CacheManager entry to
    # leak): the plan references it five ways (wedge join's two edge
    # sides, the degree table's two sides, the anti-join) and runtime
    # ReusedExchange only dedupes the subset with byte-identical
    # exchanges — measured 6.4 s lazy vs 2.6 s materialized at sf0.1.
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b").localCheckpoint(
        eager=True
    )
    edges = _sym_edges(pairs)
    deg = _degrees(edges)
    e1 = edges.select(F.col("src").alias("mid"), F.col("dst").alias("a"))
    e2 = edges.select(F.col("src").alias("mid"), F.col("dst").alias("c"))
    cand = (
        e1.join(e2, "mid")
        .filter(F.col("a") < F.col("c"))
        .groupBy("a", "c")
        .agg(F.count(F.lit(1)).cast("long").alias("cn"))
    )
    missing = cand.join(
        pairs,
        (cand.a == pairs.doc_a) & (cand.c == pairs.doc_b),
        "left_anti",
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    dc = deg.select(F.col("node").alias("c"), F.col("deg").alias("deg_c"))
    out = (
        missing.join(da, "a")
        .join(dc, "c")
        .select(
            F.col("a").alias("doc_a"),
            F.col("c").alias("doc_b"),
            F.col("cn").alias("common_neighbors"),
            F.round(
                F.col("cn").cast("double")
                / (F.col("deg_a").cast("double") + F.col("deg_c").cast("double") - F.col("cn")),
                6,
            ).alias("jaccard"),
        )
    )
    return out


@query(
    "graph_modularity",
    oracle=_GRAPH_CTES
    + _lpa_iter_ctes()
    + f"""
, und AS (SELECT doc_a AS a, doc_b AS b FROM pairs)
, m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM und)
, intra AS (
  SELECT la.label AS community, CAST(count(*) AS BIGINT) AS intra_edges
  FROM und u
  JOIN l{LPA_ITERS} la ON u.a = la.node
  JOIN l{LPA_ITERS} lb ON u.b = lb.node AND la.label = lb.label
  GROUP BY la.label
), degs AS (
  SELECT l.label AS community,
         CAST(count(*) AS BIGINT) AS n_nodes,
         CAST(sum(d.deg) AS BIGINT) AS degree_sum
  FROM l{LPA_ITERS} l JOIN deg d ON l.node = d.node
  GROUP BY l.label
)
SELECT CAST(dg.community AS BIGINT) AS community,
       dg.n_nodes,
       COALESCE(i.intra_edges, 0) AS intra_edges,
       dg.degree_sum,
       round(CAST(4 * mm.m * COALESCE(i.intra_edges, 0)
                  - dg.degree_sum * dg.degree_sum AS DOUBLE)
             / CAST(4 * mm.m * mm.m AS DOUBLE), 8) + 0.0 AS q_contrib
FROM degs dg LEFT JOIN intra i ON dg.community = i.community
CROSS JOIN m mm
""",
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity decomposition of the LPA communities over the
    near-dup graph: per community, its node count, intra-community
    edge count, degree mass, and exact contribution
    (4·m·m_c − d_c²)/(4m²) — all-integer numerator so the sum of
    q_contrib IS the graph's modularity Q without float-association
    drift. Q near the maximum ⇒ LPA found real cluster structure; Q≈0
    ⇒ the near-dup graph is one blob and community-level curation
    decisions are unsafe.

    Plan: labels ride the LPA machinery (driver shortcut / distributed
    loop); modularity itself is two joins + two aggregates over the
    match-bounded edge and label relations."""
    # ONE pair materialization for both consumers: the label loop ends
    # in an eager materialization (driver shortcut / localCheckpoint),
    # so without the persist the MinHash pipeline would run twice —
    # once inside LPA, once for intra/deg below.
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b").persist()
    try:
        labels = _lpa_from_pairs(spark, pairs).select("node", "community")
        deg = _degrees(_sym_edges(pairs))
        m = pairs.agg(F.count(F.lit(1)).cast("long").alias("m"))
        la = labels.select(F.col("node").alias("doc_a"), F.col("community").alias("ca"))
        lb = labels.select(F.col("node").alias("doc_b"), F.col("community").alias("cb"))
        intra = (
            pairs.join(la, "doc_a")
            .join(lb, "doc_b")
            .filter(F.col("ca") == F.col("cb"))
            .groupBy(F.col("ca").alias("community"))
            .agg(F.count(F.lit(1)).cast("long").alias("intra_edges"))
        )
        degs = (
            labels.join(deg, "node")
            .groupBy("community")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_nodes"),
                F.sum("deg").cast("long").alias("degree_sum"),
            )
        )
        report = (
            degs.join(intra, "community", "left")
            .crossJoin(F.broadcast(m))
            .select(
                F.col("community").cast("long").alias("community"),
                "n_nodes",
                F.coalesce("intra_edges", F.lit(0)).cast("long").alias("intra_edges"),
                "degree_sum",
                (
                    F.round(
                        (
                            4 * F.col("m") * F.coalesce("intra_edges", F.lit(0))
                            - F.col("degree_sum") * F.col("degree_sum")
                        ).cast("double")
                        / (4 * F.col("m") * F.col("m")).cast("double"),
                        8,
                    )
                    + 0.0
                ).alias("q_contrib"),
            )
        )
        # Materialize the ≤|communities|-row report eagerly and RELEASE the
        # pair cache NOW (the ivf_append_report teardown convention). A
        # lingering CacheManager entry for the pair subtree hijacks every
        # later dedup_minhash_lsh consumer in the session into an
        # InMemoryRelation whose blocks may long be evicted —
        # graph_link_prediction measured 2× slower across a full bench
        # sweep with the entry left behind.
        report = report.localCheckpoint(eager=True)
    finally:
        pairs.unpersist()
    return report


# ---------------------------------------------------------------------------
# HITS (Kleinberg hubs & authorities) on the user ↔ event-type
# bipartite graph: authorities = event types that attract the
# best-connected users, hubs = users whose activity spans the
# highest-authority types. The bipartite shape is the one PageRank
# (above, on the doc near-dup graph) doesn't cover, and the same loop
# serves any entity↔category affinity graph (user↔domain,
# doc↔source). Fixed iterations + per-round L1 normalization with 6dp
# rounding in BOTH engines, so grouped-sum association order re-syncs
# every round instead of compounding.
# ---------------------------------------------------------------------------

HITS_ITERS = 3
HITS_ROUND = 6
HITS_TOP_HUBS = 10


def _hits_ctes() -> str:
    out = """
e AS (SELECT DISTINCT user_id AS u, event_type AS t FROM events),
h0 AS (SELECT DISTINCT u, 1.0 AS h FROM e)"""
    prev_h = "h0"
    for i in range(1, HITS_ITERS + 1):
        out += f""",
a{i}r AS (SELECT t, sum(h) AS s FROM e JOIN {prev_h} USING (u) GROUP BY t),
a{i} AS (SELECT t, round(s / (SELECT sum(s) FROM a{i}r), {HITS_ROUND}) AS a FROM a{i}r),
h{i}r AS (SELECT u, sum(a) AS s FROM e JOIN a{i} USING (t) GROUP BY u),
h{i} AS (SELECT u, round(s / (SELECT sum(s) FROM h{i}r), {HITS_ROUND}) AS h FROM h{i}r)"""
        prev_h = f"h{i}"
    return out


def _hits_frames(spark: SparkSession, sf_dir: str):
    """(authorities, hubs) DataFrames after HITS_ITERS rounds — the
    shared core of both registered queries."""
    from etl_jlp_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    # (r10 note: repartition("u") before the distinct was tried so the
    # loop's u-keyed joins/aggregates could reuse the layout — but
    # localCheckpoint under AQE reports UnknownPartitioning, so nothing
    # downstream can reuse it and the swap measured net-neutral at
    # best; reverted.)
    e = ev.select(F.col("user_id").alias("u"), F.col("event_type").alias("t")).distinct()
    # Eagerly materialize: the callers return a LAZY DataFrame, so a
    # persist() here would never populate before their pre-return
    # unpersist — each of the HITS_ITERS rounds plus the degree branch
    # would re-derive the distinct edge relation. localCheckpoint (the
    # TextRank/k-core pattern) computes it once, now.
    e = e.localCheckpoint(eager=True)
    h = e.select("u").distinct().withColumn("h", F.lit(1.0))
    a = None
    for _ in range(HITS_ITERS):
        ar = e.join(h, "u").groupBy("t").agg(F.sum("h").alias("s"))
        atot = ar.agg(F.sum("s").alias("tot"))
        a = ar.crossJoin(F.broadcast(atot)).select(
            "t", F.round(F.col("s") / F.col("tot"), HITS_ROUND).alias("a")
        )
        hr = e.join(F.broadcast(a), "t").groupBy("u").agg(F.sum("a").alias("s"))
        htot = hr.agg(F.sum("s").alias("tot"))
        h = hr.crossJoin(F.broadcast(htot)).select(
            "u", F.round(F.col("s") / F.col("tot"), HITS_ROUND).alias("h")
        )
        # Truncate lineage each round (the PageRank/LPA discipline —
        # r11): every crossJoin with a total embeds its source subtree
        # TWICE, so the unrolled lazy chain grew ~4× per round — the
        # hits_top_hubs static plan reached 888 Exchanges and Catalyst
        # planning dominated the bench cost. One tiny user-count-sized
        # checkpoint per round keeps the plan depth constant.
        h = h.localCheckpoint(eager=True)
    return e, a, h


@query(
    "hits_authorities",
    oracle=f"""
WITH {_hits_ctes()},
na AS (SELECT t, CAST(count(*) AS BIGINT) AS n_users FROM e GROUP BY t)
SELECT a.t AS event_type, na.n_users, a.a AS authority,
       CAST(row_number() OVER (ORDER BY a.a DESC, a.t) AS INT) AS rank
FROM a{HITS_ITERS} a JOIN na ON na.t = a.t
""",
)
def hits_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type authority scores after {it} HITS rounds on the
    distinct user↔type bipartite graph (L1-normalized, {r}dp-rounded
    per round), with each type's distinct-user degree — the affinity
    ranking of categories by the quality, not just the count, of the
    users they attract.

    Plan: the edge list is distinct (user, type) — built once,
    persisted for the loop, ∝ user-type incidence not raw events. Each
    round is two join+agg passes; every type-side relation is
    ≤|types| rows and broadcast, so the only shuffled relation is the
    user-keyed hub aggregate. Unrolled identically in the oracle."""
    e, a, _h = _hits_frames(spark, sf_dir)
    na = e.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    from pyspark.sql import Window

    out = (
        a.join(F.broadcast(na), "t")
        .select(
            F.col("t").alias("event_type"),
            "n_users",
            F.col("a").alias("authority"),
            F.row_number()
            .over(Window.orderBy(F.desc("a"), "t"))
            .cast("int")
            .alias("rank"),
        )
    )
    return out


hits_authorities.__doc__ = (hits_authorities.__doc__ or "").format(
    it=HITS_ITERS, r=HITS_ROUND
)


@query(
    "hits_top_hubs",
    oracle=f"""
WITH {_hits_ctes()},
deg AS (SELECT u, CAST(count(*) AS BIGINT) AS n_types FROM e GROUP BY u)
SELECT h.u AS user_id, d.n_types, h.h AS hub_score,
       CAST(row_number() OVER (ORDER BY h.h DESC, h.u) AS INT) AS rank
FROM h{HITS_ITERS} h JOIN deg d ON d.u = h.u
QUALIFY rank <= {HITS_TOP_HUBS}
""",
)
def hits_top_hubs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} hub users after the same {it} HITS rounds (deterministic
    (score DESC, user) order) with each user's type-degree — the
    best-connected-entity report paired with ``hits_authorities``.

    Plan: shares the iteration core; the final top-k is a
    TakeOrdered-shaped limit over the user-keyed hub relation, never a
    global materialized sort of all users."""
    e, _a, h = _hits_frames(spark, sf_dir)
    deg = e.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("n_types"))
    ranked = (
        h.join(deg, "u")
        .orderBy(F.desc("h"), "u")
        .limit(HITS_TOP_HUBS)
    )
    from pyspark.sql import Window

    out = ranked.select(
        F.col("u").alias("user_id"),
        "n_types",
        F.col("h").alias("hub_score"),
        F.row_number()
        .over(Window.orderBy(F.desc("h"), "u"))
        .cast("int")
        .alias("rank"),
    )
    return out


hits_top_hubs.__doc__ = (hits_top_hubs.__doc__ or "").format(
    k=HITS_TOP_HUBS, it=HITS_ITERS
)


# ---------------------------------------------------------------------------
# k-core peeling: iterative degeneracy decomposition of the pair graph.
# ---------------------------------------------------------------------------

KCORE_K = 3
KCORE_ROUNDS = 4  # fixed peel rounds so the oracle can unroll them


def _kcore_ctes() -> str:
    """e1..eR chained CTEs — one peel round each: drop every node whose
    degree in the CURRENT surviving subgraph is < K, then restrict the
    edge list to survivors. Counts are integers; both engines agree.

    Every CTE is MATERIALIZED: e{{i}} is referenced by k{{i+1}},
    e{{i+1}} AND the final stats row — inlined, the chain re-evaluates
    its earlier peel rounds ~3^R times, materialized it is R linear
    passes. The upstream ``pairs`` is MATERIALIZED and runs once either
    way."""
    out = """
, e0 AS MATERIALIZED (SELECT a, b FROM edges)"""
    for i in range(1, KCORE_ROUNDS + 1):
        out += f"""
, k{i} AS MATERIALIZED (
  SELECT a AS node FROM e{i - 1} GROUP BY a HAVING count(*) >= {KCORE_K}
), e{i} AS MATERIALIZED (
  SELECT e.a, e.b FROM e{i - 1} e
  JOIN k{i} ka ON e.a = ka.node JOIN k{i} kb ON e.b = kb.node
)"""
    return out


def _driver_kcore(rows: list) -> list[tuple[int, int, int]]:
    """The peel rounds over collected (src, dst) rows — the tiny-graph
    shortcut, same rule as the distributed loop and the oracle."""
    edges = {(s, d) for s, d in rows}
    out = []
    for rnd in range(1, KCORE_ROUNDS + 1):
        deg: dict[int, int] = {}
        for s, _d in edges:
            deg[s] = deg.get(s, 0) + 1
        keep = {v for v, c in deg.items() if c >= KCORE_K}
        edges = {(s, t) for s, t in edges if s in keep and t in keep}
        out.append((rnd, len(keep), len(edges) // 2))
    return out


@query(
    "graph_kcore_peel",
    oracle=_GRAPH_CTES
    + _kcore_ctes()
    + "\nSELECT * FROM (\n"
    + "\nUNION ALL\n".join(
        f"""SELECT CAST({i} AS BIGINT) AS round,
       CAST((SELECT count(*) FROM k{i}) AS BIGINT) AS n_nodes,
       CAST((SELECT count(*) FROM e{i}) / 2 AS BIGINT) AS n_pairs"""
        for i in range(1, KCORE_ROUNDS + 1)
    )
    + "\n)",
)
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling (k={k}, {r} fixed rounds) of the near-duplicate
    pair graph: each round removes every node with degree < k in the
    surviving subgraph and reports (survivor count, surviving pair
    count). Convergence to the true k-core shows up as consecutive
    equal rows; the dense residue is the template/boilerplate CORE the
    duplicate graph hangs off (PageRank ranks nodes; the k-core
    isolates the clique-like heart that cluster-level dedup should
    treat as one unit).

    Scale posture of the module: iteration operand is the
    match-bounded edge list (∝ duplication, not corpus); each round is
    one groupBy + two semi-joins with localCheckpoint truncating
    lineage, and a tiny graph solves driver-side (``solve_edges``)."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    schema = "round long, n_nodes long, n_pairs long"

    def distributed(edges):
        stats = []
        for rnd in range(1, KCORE_ROUNDS + 1):
            keep = (
                edges.groupBy(F.col("src").alias("node"))
                .agg(F.count(F.lit(1)).alias("c"))
                .filter(F.col("c") >= KCORE_K)
                .select("node")
            )
            edges = (
                edges.join(keep.withColumnRenamed("node", "src"), "src")
                .join(keep.withColumnRenamed("node", "dst"), "dst")
                .select("src", "dst")
                .localCheckpoint(eager=True)
            )
            stats.append((rnd, keep.count(), edges.count() // 2))
        return spark.createDataFrame(stats, schema)

    return solve_edges(
        _sym_edges(pairs),
        lambda rows: spark.createDataFrame(_driver_kcore(rows), schema),
        distributed,
    )


graph_kcore_peel.__doc__ = (graph_kcore_peel.__doc__ or "").format(k=KCORE_K, r=KCORE_ROUNDS)


# ---------------------------------------------------------------------------
# Degree assortativity: do high-degree near-dup documents link to
# other high-degree documents (template hubs clustering together) or
# to leaves? The Pearson correlation of endpoint degrees over the
# edge list — Newman's mixing coefficient, the one-number summary the
# degree histogram can't give.
# ---------------------------------------------------------------------------


@query(
    "graph_degree_assortativity",
    oracle=_GRAPH_CTES
    + """
, degl AS (
  SELECT a AS node, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY a
), epts AS (
  SELECT da.d AS x, db.d AS y
  FROM edges e JOIN degl da ON e.a = da.node JOIN degl db ON e.b = db.node
), mom AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxy,
         CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx,
         CAST(sum(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS syy
  FROM epts
)
SELECT CAST((SELECT count(*) FROM nodes) AS BIGINT) AS n_nodes,
       m // 2 AS n_edges,
       round((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
             / sqrt((CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                    * (CAST(m AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy)),
             6) + 0.0 AS assortativity
FROM mom
""",
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman degree-assortativity coefficient of the near-dup graph:
    Pearson r of (deg(a), deg(b)) over every DIRECTED edge of the
    symmetrized relation. Degrees and all cross-moments are exact
    integer/DECIMAL(38,0) sums; r is one double expression.

    Plan: edge list is match-bounded (the LSH pair relation); two
    broadcast degree joins and a 1-row moment agg — never touches the
    corpus."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    # lazy checkpoint: materialized once on first action, shared by the
    # degree, endpoint, and node-count consumers — but building/explaining
    # the plan stays free of any job
    edges = _sym_edges(pairs).localCheckpoint(eager=False)
    deg = _degrees(edges)
    da = deg.select(F.col("node").alias("src"), F.col("deg").alias("x"))
    db = deg.select(F.col("node").alias("dst"), F.col("deg").alias("y"))
    epts = edges.join(F.broadcast(da), "src").join(F.broadcast(db), "dst")
    mom = epts.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).cast("decimal(38,0)").alias("sxy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).cast("decimal(38,0)").alias("syy"),
    )
    # n_nodes stays lazy (the oracle's scalar subquery): an eager
    # .count() here would run the whole LSH job at plan-construction
    # time, even for callers that only build or explain the plan.
    nn = edges.select("src").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )
    m = F.col("m").cast("double")
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    r = (m * d("sxy") - d("sx") * F.col("sy")) / F.sqrt(
        (m * d("sxx") - d("sx") * F.col("sx")) * (m * d("syy") - d("sy") * F.col("sy"))
    )
    return mom.crossJoin(F.broadcast(nn)).select(
        "n_nodes",
        (F.col("m") / 2).cast("long").alias("n_edges"),
        F.round(r, 6).alias("assortativity"),
    )
