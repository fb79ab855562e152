"""Connected components over the near-duplicate pair graph.

The missing last step of every dedup pipeline: pairwise matches
(dedup_minhash_lsh output) → clusters → one canonical doc per cluster.
Implemented as iterative min-label propagation entirely in DataFrame
ops: each round, every node takes the min label among itself and its
neighbors; convergence when no label changes (checked driver-side with
a count — the canonical Spark iterative-algorithm shape, same loop
structure as PageRank/CC in GraphX but with no extra library).

Rounds needed = graph diameter (near-dup clusters are tiny, so 2-4);
each round is one join + one aggregation on the (small) edge list —
at 100 TB the edge list is ≪ corpus size, so iteration cost is
bounded by matches, not documents.

Oracle: DuckDB recursive CTE computes the transitive closure and takes
the min reachable id — same fixpoint, declarative form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_jlp_spark import stores
from etl_jlp_spark.catalog import load_table, read_parquet
from etl_jlp_spark.operators.similarity import MH_BATCH_HEX, dedup_minhash_lsh
from etl_jlp_spark.registry import query

MAX_ROUNDS = 64  # hard safety cap only; the loop exits on convergence

# Edge lists at or below this size skip the iterative job entirely:
# union-find on the driver is microseconds, while every distributed
# round costs a join + checkpoint + count action (~1 s of fixed
# scheduling latency each). The count that gates this is paid anyway
# to size the iteration's shuffle width.
DRIVER_CC_MAX_EDGES = 100_000


def _driver_union_find(rows: list) -> list[tuple[int, int]]:
    """Min-label connected components over collected (src, dst) rows."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for s, d in rows:
        parent.setdefault(s, s)
        parent.setdefault(d, d)
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[max(rs, rd)] = min(rs, rd)  # union by min label
    return sorted((n, find(n)) for n in parent)


def connected_components(pairs: DataFrame, a: str = "doc_a", b: str = "doc_b") -> DataFrame:
    """(node, component) for every node in `pairs`; component = min
    node id in the connected component.

    Scale-adaptive: the measured edge count picks the strategy — tiny
    edge lists (the common case: verified near-dup pairs ≪ corpus)
    resolve with driver-side union-find in one collect; big ones run
    the distributed min-label propagation loop."""
    edges = (
        pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
        .unionAll(pairs.select(F.col(b).alias("src"), F.col(a).alias("dst")))
        .distinct()
        .persist()
    )
    # Size the iteration's shuffle width from the MEASURED edge count:
    # near-dup edge lists are ≪ the corpus (thousands at sf0.1, still
    # only millions at 100 TB), so fixed 32-wide shuffles waste a full
    # task wave per round on scheduler overhead. ~100k edges/partition.
    n_edges = edges.count()
    if n_edges <= DRIVER_CC_MAX_EDGES:
        comps = _driver_union_find([(r["src"], r["dst"]) for r in edges.collect()])
        return edges.sparkSession.createDataFrame(
            comps, "node long, component long"
        )
    n_part = max(1, min(edges.sparkSession.sparkContext.defaultParallelism, n_edges // 100_000 + 1))
    edges = edges.repartition(n_part, "dst").persist()
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .repartition(n_part, "node")
        .localCheckpoint(eager=True)
    )
    changed = 1
    for _ in range(MAX_ROUNDS):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        # localCheckpoint truncates the lineage: without it each round's
        # plan nests the previous one and the driver OOMs on deep
        # graphs (the classic iterative-Spark pitfall). The changed
        # flag rides along so convergence needs no second join.
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("nbr_label", F.col("label"))).alias("label"),
                (F.coalesce("nbr_label", F.col("label")) < F.col("label")).cast("int").alias("chg"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.agg(F.sum("chg")).first()[0]
        labels = new_labels.select("node", "label")
        if not changed:
            break
    if changed:
        # a silent early exit would return WRONG (unconverged) component
        # ids on long chain-shaped clusters — fail loudly instead
        raise RuntimeError(
            f"connected_components did not converge within {MAX_ROUNDS} rounds "
            f"({changed} labels still changing); graph diameter exceeds the cap"
        )
    return labels.select("node", F.col("label").alias("component"))


# Recursive-CTE transitive closure over the verified minhash-LSH pair
# graph — shared by the components oracle and the cluster-representative
# oracle below.
_CC_CTES = f"""
WITH RECURSIVE
toks AS (
  SELECT doc_id, tok, row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS pos
  FROM (
    SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok,
           generate_subscripts(regexp_split_to_array(trim(lower(text)), '\\s+'), 1) AS pos
    FROM documents
  )
), shingles AS (
  SELECT DISTINCT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS sh
  FROM toks a
  JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  JOIN toks c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
), hashed AS (
  SELECT s.doc_id, h.h, min(md5(CAST(h.h AS VARCHAR) || ':' || s.sh)) AS sig
  FROM shingles s CROSS JOIN (SELECT unnest(range(8)) AS h) h
  GROUP BY s.doc_id, h.h
), sigs AS (
  SELECT doc_id,
         min(CASE WHEN h = 0 THEN sig END) AS s0, min(CASE WHEN h = 1 THEN sig END) AS s1,
         min(CASE WHEN h = 2 THEN sig END) AS s2, min(CASE WHEN h = 3 THEN sig END) AS s3,
         min(CASE WHEN h = 4 THEN sig END) AS s4, min(CASE WHEN h = 5 THEN sig END) AS s5,
         min(CASE WHEN h = 6 THEN sig END) AS s6, min(CASE WHEN h = 7 THEN sig END) AS s7
  FROM hashed GROUP BY doc_id
), bands AS (
  SELECT doc_id, 0 AS band, md5(s0 || s1) AS key FROM sigs UNION ALL
  SELECT doc_id, 1, md5(s2 || s3) FROM sigs UNION ALL
  SELECT doc_id, 2, md5(s4 || s5) FROM sigs UNION ALL
  SELECT doc_id, 3, md5(s6 || s7) FROM sigs
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
), sizes AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM shingles GROUP BY doc_id
), inter AS (
  SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS i
  FROM cand c
  JOIN shingles x ON x.doc_id = c.doc_a
  JOIN shingles y ON y.doc_id = c.doc_b AND y.sh = x.sh
  GROUP BY c.doc_a, c.doc_b
), pairs AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i JOIN sizes sa ON i.doc_a = sa.doc_id JOIN sizes sb ON i.doc_b = sb.doc_id
  WHERE round(i.i * 1.0 / (sa.n_sh + sb.n_sh - i.i), 4) >= 0.5
), edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs UNION SELECT doc_b, doc_a FROM pairs
), reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
)
"""


@query(
    "dedup_connected_components",
    oracle=_CC_CTES
    + """
SELECT n.a AS node,
       CAST(least(n.a, min(r.b)) AS BIGINT) AS component
FROM (SELECT DISTINCT a FROM edges) n LEFT JOIN reach r ON n.a = r.a
GROUP BY n.a
""",
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clusters from minhash-LSH verified pairs (Jaccard ≥ 0.5):
    component id = min doc_id in the cluster; keep that doc, drop the
    rest — the canonical dedup decision."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    return connected_components(pairs).select(
        F.col("node").cast("long").alias("node"),
        F.col("component").cast("long").alias("component"),
    )


@query(
    "dedup_cluster_representative",
    oracle=_CC_CTES
    + """
, comp AS (
  SELECT n.a AS node, least(n.a, min(r.b)) AS component
  FROM (SELECT DISTINCT a FROM edges) n LEFT JOIN reach r ON n.a = r.a
  GROUP BY n.a
), ranked AS (
  SELECT c.component, c.node, d.n_chars,
         row_number() OVER (PARTITION BY c.component
                            ORDER BY d.n_chars DESC, c.node ASC) AS rn,
         count(*) OVER (PARTITION BY c.component) AS n_docs
  FROM comp c JOIN documents d ON c.node = d.doc_id
)
SELECT CAST(component AS BIGINT) AS component,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(node AS BIGINT) AS rep_doc,
       CAST(n_chars AS BIGINT) AS rep_chars
FROM ranked WHERE rn = 1
""",
)
def dedup_cluster_representative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup decision refined: instead of blindly keeping the min
    doc_id, each near-dup cluster keeps its LONGEST member (max n_chars,
    ties → min doc_id) — the standard representative-selection heuristic
    when duplicates are truncations/fragments of one another.

    One hash agg over (component ⋈ doc metadata): ``max_by`` with a
    (n_chars, -doc_id) key picks the representative map-side — no
    per-component sort, no window, shuffle carries one row per
    component. Cluster discovery itself is ``dedup_connected_components``
    (scale-adaptive driver/distributed switch)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    cc = dedup_connected_components(spark, sf_dir)
    joined = cc.join(docs, cc["node"] == docs["doc_id"]).select("component", "node", "n_chars")
    key = F.struct(F.col("n_chars").alias("c"), (-F.col("node")).alias("nn"))
    return joined.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.max_by("node", key).cast("long").alias("rep_doc"),
        F.max("n_chars").cast("long").alias("rep_chars"),
    )


@query(
    "softdedup_weights",
    oracle=_CC_CTES
    + """
, comp AS (
  SELECT n.a AS node, least(n.a, min(r.b)) AS component
  FROM (SELECT DISTINCT a FROM edges) n LEFT JOIN reach r ON n.a = r.a
  GROUP BY n.a
), csize AS (
  SELECT component, CAST(count(*) AS BIGINT) AS cluster_size FROM comp GROUP BY component
), perdoc AS (
  SELECT d.doc_id, d.source,
         COALESCE(s.cluster_size, 1) AS cluster_size
  FROM documents d
  LEFT JOIN comp c ON d.doc_id = c.node
  LEFT JOIN csize s ON c.component = s.component
)
SELECT doc_id, source,
       CAST(cluster_size AS BIGINT) AS cluster_size,
       round(1.0 / cluster_size, 4) AS weight
FROM perdoc
""",
)
def softdedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SoftDeDup (arXiv:2401.04578): instead of DROPPING near-duplicate
    documents, reweight them — each doc's training weight is
    1/cluster_size over its near-dup cluster, so a passage duplicated k
    times contributes the same total gradient mass as a unique one, and
    no information is destroyed by a hard keep/drop call.

    Plan: cluster discovery is ``dedup_connected_components`` (the
    scale-adaptive min-label job over verified MinHash pairs); cluster
    sizes are ONE count agg over the node list (∝ near-dup docs, ≪
    corpus); the corpus then takes two LEFT joins against those
    match-bounded sides — AQE broadcasts both at any realistic dup rate.
    Unclustered docs default to weight 1.0 without joining anything
    corpus-sized."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    cc = dedup_connected_components(spark, sf_dir)
    csize = cc.groupBy("component").agg(F.count(F.lit(1)).cast("long").alias("cluster_size"))
    member = cc.join(csize, "component").select(
        F.col("node").alias("doc_id"), "cluster_size"
    )
    return docs.join(member, "doc_id", "left").select(
        "doc_id",
        "source",
        F.coalesce("cluster_size", F.lit(1)).cast("long").alias("cluster_size"),
        F.round(F.lit(1.0) / F.coalesce("cluster_size", F.lit(1)), 4).alias("weight"),
    )


# ---------------------------------------------------------------------------
# Incremental connected components: fold an arriving batch's verified
# near-dup pairs into STORED clusters, recomputing only the affected
# subgraph — the cluster-maintenance step of an incremental crawl-dedup
# pipeline (completing the dedup_minhash_prebuilt story: that operator
# finds the new pairs, this one updates the cluster state).
# ---------------------------------------------------------------------------


CC_STORE = stores.Family("cc", ("edges", "labels"), "documents", f"ccinc-v1-{MH_BATCH_HEX}")


def ensure_cc_store(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Materialize the EXISTING corpus's near-dup graph once: its
    verified pair list (the edges — needed so merges can re-resolve
    affected clusters) and its component labels, over the same
    md5-slice corpus split as ``ensure_minhash_store``."""
    from etl_jlp_spark.operators.similarity import (
        MINHASH_TAU,
        _jaccard_on_candidates,
        _minhash_bands,
        _word_shingles,
    )

    paths = CC_STORE.paths(sf_dir)
    if CC_STORE.built(*paths):
        return paths
    docs = load_table(spark, sf_dir, "documents")
    existing = docs.filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) >= MH_BATCH_HEX
    )
    sh = _word_shingles(existing).persist()
    bands = _minhash_bands(sh)
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    pairs = _jaccard_on_candidates(sh, cand, MINHASH_TAU).select("doc_a", "doc_b")
    labels = connected_components(pairs)
    for path, df in zip(paths, (pairs, labels)):
        stores.publish(path, df.write.mode("overwrite").parquet)
    sh.unpersist()
    return paths


@query(
    "dedup_cc_incremental",
    oracle=_CC_CTES
    + """
SELECT n.a AS node,
       CAST(least(n.a, min(r.b)) AS BIGINT) AS component
FROM (SELECT DISTINCT a FROM edges) n LEFT JOIN reach r ON n.a = r.a
GROUP BY n.a
""",
)
def dedup_cc_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental cluster maintenance, verified against the FULL
    rebuild: the arriving batch's pairs (new↔indexed from the prebuilt
    probe, plus new↔new from the batch's own bands) touch only SOME
    stored components; exactly those components' edges are re-solved
    together with the new pairs, every other stored label passes
    through untouched — and the result must hash-equal rebuilding
    connected components over the whole corpus (the oracle IS the full
    rebuild; per-doc band signatures don't depend on the corpus split,
    so old∪probe∪batch pairs = the full pair set).

    Scale: stored edges ∝ near-dup matches ≪ corpus; affected
    components ∝ the batch's matches; the untouched majority moves via
    one anti-join. No stored text is re-shingled (the probe reads the
    persisted band/shingle store), and the BATCH is tokenized once too:
    the probe pairs and the new↔new self-join share the session-cached
    (shingles, bands) from ``batch_shingles_bands`` (the round-5
    verdict's duplicated-work fix — previously this function re-ran
    ``_word_shingles`` + ``_minhash_bands`` on the same batch that
    ``dedup_minhash_prebuilt`` had just computed internally)."""
    from etl_jlp_spark.operators.similarity import (
        MINHASH_TAU,
        _jaccard_on_candidates,
        _minhash_probe,
        batch_shingles_bands,
        ensure_minhash_store,
    )

    edges_path, labels_path = ensure_cc_store(spark, sf_dir)
    stored_edges = read_parquet(spark, edges_path)
    stored_labels = read_parquet(spark, labels_path)

    bands_path, sh_path = ensure_minhash_store(spark, sf_dir)
    bsh, bb = batch_shingles_bands(spark, sf_dir, bands_path)
    new_old = _minhash_probe(spark, bands_path, sh_path, bsh, bb).select(
        F.col("doc_new").alias("doc_a"), F.col("doc_old").alias("doc_b")
    )
    a = bb.alias("a")
    b = bb.alias("b")
    bcand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    new_new = _jaccard_on_candidates(bsh, bcand, MINHASH_TAU).select("doc_a", "doc_b")
    new_pairs = new_old.unionByName(new_new)
    return merge_pairs_into_clusters(stored_labels, stored_edges, new_pairs)


def merge_pairs_into_clusters(
    stored_labels: DataFrame, stored_edges: DataFrame, new_pairs: DataFrame
) -> DataFrame:
    """(node, component) after folding ``new_pairs`` into the stored
    cluster state: only the components touched by a new pair re-solve
    (their stored edges ∪ the new pairs), everything else passes
    through one anti-join. IDEMPOTENT BY ALGEBRA — cluster merge is a
    join-semilattice (re-merging already-merged pairs changes nothing),
    which is what makes the streaming maintainer replay-safe. Shared by
    the batch operator and streaming_cc_maintain."""
    touched = (
        new_pairs.select(F.col("doc_a").alias("node"))
        .unionByName(new_pairs.select(F.col("doc_b").alias("node")))
        .distinct()
    )
    aff = stored_labels.join(touched, "node").select("component").distinct()
    aff_edges = (
        stored_edges.join(
            stored_labels.withColumnRenamed("node", "doc_a"), "doc_a"
        )
        .join(aff, "component")
        .select("doc_a", "doc_b")
    )
    merged = connected_components(aff_edges.unionByName(new_pairs))
    untouched = stored_labels.join(merged.select("node"), "node", "left_anti")
    return (
        untouched.unionByName(merged)
        .select(F.col("node").cast("long"), F.col("component").cast("long"))
    )


@query(
    "dup_cluster_size_histogram",
    oracle=_CC_CTES
    + """
, comp AS (
  SELECT n.a AS node, least(n.a, min(r.b)) AS component
  FROM (SELECT DISTINCT a FROM edges) n LEFT JOIN reach r ON n.a = r.a
  GROUP BY n.a
), csizes AS (
  SELECT component, CAST(count(*) AS BIGINT) AS cluster_size FROM comp GROUP BY component
)
SELECT cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(cluster_size) AS BIGINT) AS n_docs
FROM csizes GROUP BY cluster_size
""",
)
def dup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of near-dup cluster sizes: how many clusters of 2,
    of 3, ... — the single chart that separates a pairwise-noise corpus
    (all size 2) from a template-farm corpus (heavy tail). Operates on
    the same verified components as dedup_connected_components, so the
    histogram always reconciles with the cluster assignment.

    Plan: two tiny aggregates downstream of the match-bounded
    component relation — output ∝ distinct cluster sizes."""
    from etl_jlp_spark.operators.similarity import dedup_minhash_lsh

    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    comp = connected_components(pairs)
    return (
        comp.groupBy("component")
        .agg(F.count(F.lit(1)).cast("long").alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum("cluster_size").cast("long").alias("n_docs"),
        )
    )


# ---------------------------------------------------------------------------
# Golden-record survivorship — the MDM merge step after clustering.
# ---------------------------------------------------------------------------


@query(
    "golden_record_merge",
    oracle=_CC_CTES
    + """
, comp AS (
  SELECT n.a AS node, least(n.a, min(r.b)) AS component
  FROM (SELECT DISTINCT a FROM edges) n LEFT JOIN reach r ON n.a = r.a
  GROUP BY n.a
), joined AS (
  SELECT c.component, c.node, d.source, d.lang, d.n_chars,
         md5(d.text) AS text_hash
  FROM comp c JOIN documents d ON c.node = d.doc_id
), rep AS (
  SELECT component, CAST(node AS BIGINT) AS rep_doc
  FROM (SELECT component, node,
               row_number() OVER (PARTITION BY component
                                  ORDER BY n_chars DESC, node ASC) AS rn
        FROM joined)
  WHERE rn = 1
), stats AS (
  SELECT j.component,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(any_value(r.rep_doc) AS BIGINT) AS rep_doc,
         CAST(CAST(count(DISTINCT source) > 1 AS INTEGER)
              + CAST(count(DISTINCT lang) > 1 AS INTEGER)
              + CAST(count(DISTINCT text_hash) > 1 AS INTEGER) AS BIGINT)
           AS n_conflicting_fields
  FROM joined j JOIN rep r ON r.component = j.component
  GROUP BY j.component
), fv AS (
  SELECT component, 'source' AS field, source AS val FROM joined
  UNION ALL
  SELECT component, 'lang', lang FROM joined
), counted AS (
  SELECT component, field, val, count(*) AS cnt FROM fv GROUP BY 1, 2, 3
), modes AS (
  SELECT component, field, val
  FROM (SELECT *, row_number() OVER (PARTITION BY component, field
                                     ORDER BY cnt DESC, val ASC) AS rn
        FROM counted)
  WHERE rn = 1
), pivoted AS (
  SELECT component,
         max(CASE WHEN field = 'source' THEN val END) AS golden_source,
         max(CASE WHEN field = 'lang' THEN val END) AS golden_lang
  FROM modes GROUP BY component
)
SELECT CAST(s.component AS BIGINT) AS component, s.n_docs, s.rep_doc,
       p.golden_source, p.golden_lang, s.n_conflicting_fields
FROM stats s JOIN pivoted p ON p.component = s.component
""",
)
def golden_record_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record survivorship over the near-dup clusters — the MDM
    merge step AFTER dedup_connected_components decides who is the same
    entity: per cluster, the representative body (longest member, ties
    → min doc_id), the MODE of each categorical field (most frequent
    value, ties → alphabetical — "most records agree" survivorship),
    and a conflict audit counting fields where members disagree (the
    rows a steward reviews; silently merging them is the classic MDM
    data-loss bug).

    Plan: clusters come from the scale-adaptive CC solver; field modes
    UNPIVOT (component, field, value) long-form so ONE count agg + one
    cluster-bounded window ranks every field's values together; the
    per-cluster stats are a second combinable agg (max_by for the
    representative — no per-cluster sort). Everything after the CC join
    is cluster-count-sized."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "n_chars", F.md5("text").alias("text_hash")
    )
    cc = dedup_connected_components(spark, sf_dir)
    joined = cc.join(docs, cc.node == docs.doc_id).select(
        "component", "node", "source", "lang", "n_chars", "text_hash"
    )
    stats = joined.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.max_by("node", F.struct(F.col("n_chars"), (-F.col("node")).alias("nn")))
        .cast("long")
        .alias("rep_doc"),
        (
            (F.count_distinct("source") > 1).cast("integer")
            + (F.count_distinct("lang") > 1).cast("integer")
            + (F.count_distinct("text_hash") > 1).cast("integer")
        )
        .cast("long")
        .alias("n_conflicting_fields"),
    )
    # one reference to `joined` instead of a two-branch unionAll (each
    # branch replanted the CC join + doc scan): explode a 2-struct array
    # per row — same (component, field, val) rows, §2.4 map-side reshape
    fv = joined.select(
        "component",
        F.explode(
            F.array(
                F.struct(F.lit("source").alias("field"), F.col("source").alias("val")),
                F.struct(F.lit("lang").alias("field"), F.col("lang").alias("val")),
            )
        ).alias("cv"),
    ).select("component", F.col("cv.field").alias("field"), F.col("cv.val").alias("val"))
    counted = fv.groupBy("component", "field", "val").agg(F.count(F.lit(1)).alias("cnt"))
    from pyspark.sql import Window

    wf = Window.partitionBy("component", "field").orderBy(F.desc("cnt"), F.asc("val"))
    modes = counted.withColumn("rn", F.row_number().over(wf)).filter(F.col("rn") == 1)
    pivoted = modes.groupBy("component").agg(
        F.max(F.when(F.col("field") == "source", F.col("val"))).alias("golden_source"),
        F.max(F.when(F.col("field") == "lang", F.col("val"))).alias("golden_lang"),
    )
    return stats.join(pivoted, "component").select(
        F.col("component").cast("long").alias("component"),
        "n_docs",
        "rep_doc",
        "golden_source",
        "golden_lang",
        "n_conflicting_fields",
    )
