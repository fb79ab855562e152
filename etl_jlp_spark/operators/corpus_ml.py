"""Corpus-level ML utilities: TextRank keyword extraction,
Jensen-Shannon source divergence, pooled quantile score normalization,
and feature-hashing collision profiling.

Reference tie-in: the reference's text layer stops at keyword n-grams
(dwh_lab/dwh/preprocessing_streaming_incremental_load.py keyword
extraction); graph-ranked keywords, cross-source distribution
divergence, score renormalization and hashing-trick diagnostics are
the corpus-ML layer a training-data pipeline adds on top.

Exactness strategy: every estimator input is an exact integer count
(term counts, e4-scaled scores, edge weights); float work is either a
single closed-form expression from identical operands or an iterative
sum whose cross-engine accumulation noise (~1e-15 relative) is far
below the output rounding — the same contract graph.py's PageRank
oracle already relies on.

Scale shapes:
- textrank_keywords: edge list is adjacency-pair-bounded (∝ corpus
  positions, grouped to the vocabulary² ceiling that co-occurrence
  actually realizes — in practice ≪ vocab²); 5 fixed rounds of
  operators/graph.py's weighted PageRank, driver-side on a tiny graph.
- js_divergence_sources: one corpus scan → vocab-sized (source, term)
  counts; the pair join is term-equi over that bounded relation; the
  missing-vocabulary mass enters algebraically ((1−P_shared)·ln2 per
  side), so no full-outer join is ever materialized.
- quantile_normalize_scores: the pooled distribution is a BOUNDED
  histogram (scores are e4 ints in [0, 1e4]), so the pooled quantile
  grid comes from a 10k-row cumulative sum, NOT a global sort of the
  corpus; docs join the 200-row grid by exact bucket id (broadcast).
- feature_hash_collisions: vocab-sized agg; output is the bucket-load
  histogram.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_jlp_spark.catalog import load_table
from etl_jlp_spark.operators.corpus_stats import _tok_arrays
from etl_jlp_spark.operators.ir import WORD_PATTERN
from etl_jlp_spark.operators.textstats import text_quality_score
from etl_jlp_spark.registry import ORACLES, query

TR_DAMPING = 0.85
TR_ITERS = 5  # fixed so the oracle can unroll it (graph.py convention)
TR_MIN_LEN = 3  # drop 1-2 letter tokens from the keyword graph
TR_TOP_K = 25
TR_ROUND = 6

JS_ROUND = 6
QN_GRID = 200  # pooled-quantile resolution (1/200 of the pooled CDF)
FH_BUCKETS = 1024

# ---------------------------------------------------------------------------
# TextRank keywords: weighted PageRank over the term-adjacency graph.
# ---------------------------------------------------------------------------

_TR_CTES = f"""
WITH tokd AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{WORD_PATTERN}') AS toks
  FROM documents
), big AS (
  SELECT toks[i] AS a, toks[i+1] AS b
  FROM (SELECT toks, CAST(len(toks) AS BIGINT) AS n FROM tokd WHERE len(toks) >= 2),
       unnest(generate_series(1, n - 1)) AS t(i)
), cano AS (
  SELECT least(a, b) AS a, greatest(a, b) AS b, CAST(count(*) AS BIGINT) AS w
  FROM big
  WHERE a <> b AND length(a) >= {TR_MIN_LEN} AND length(b) >= {TR_MIN_LEN}
  GROUP BY 1, 2
), edges AS (
  SELECT a, b, w FROM cano UNION ALL SELECT b, a, w FROM cano
), nodes AS (
  SELECT DISTINCT a AS node FROM edges
), deg AS (
  SELECT a AS node, CAST(sum(w) AS DOUBLE) AS wdeg FROM edges GROUP BY a
)"""


def _textrank_iter_ctes() -> str:
    """r1..rK chained CTEs — one weighted power-iteration step each,
    written so both engines evaluate identical IEEE expressions (the
    graph.py _pagerank_iter_ctes convention, with rank·w/wdeg edge
    contributions)."""
    out = """
, nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes)
, r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)"""
    for i in range(1, TR_ITERS + 1):
        out += f"""
, r{i} AS (
  SELECT n.node,
         (1 - {TR_DAMPING}) / (SELECT n FROM nn) + {TR_DAMPING} * COALESCE(s.c, 0) AS rank
  FROM nodes n LEFT JOIN (
    SELECT e.b AS node, sum(r.rank * e.w / d.wdeg) AS c
    FROM edges e JOIN r{i - 1} r ON e.a = r.node JOIN deg d ON e.a = d.node
    GROUP BY e.b
  ) s ON n.node = s.node
)"""
    return out


@query(
    "textrank_keywords",
    oracle=_TR_CTES
    + _textrank_iter_ctes()
    + f"""
, top AS (
  SELECT node AS term, rank FROM r{TR_ITERS}
  ORDER BY round(rank, 9) DESC, node LIMIT {TR_TOP_K}
)
SELECT term, round(rank, {TR_ROUND}) + 0.0 AS textrank,
       CAST(row_number() OVER (ORDER BY round(rank, 9) DESC, term) AS BIGINT) AS rk
FROM top
""",
)
def textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank: weighted PageRank (damping 0.85, 5 fixed iterations)
    over the term co-occurrence graph (adjacent token pairs, terms
    ≥3 chars), top-{k} terms — the classic unsupervised keyword
    extractor (Mihalcea & Tarau 2004), here as a corpus-level query.

    Plan: one tokenized scan → adjacency pairs via zip_with (no
    self-join), grouped to the realized co-occurrence vocabulary, then
    graph.py's weighted PageRank (driver-side on a tiny graph, else
    the join-agg loop with localCheckpoint lineage truncation).
    Selection orders by round(rank, 9) so both engines pick the
    identical top set despite ~1e-15 float-sum noise."""
    from etl_jlp_spark.operators.graph import _pagerank

    tokd = _tok_arrays(spark, sf_dir)
    big = (
        tokd.filter(F.col("n_toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "zip_with(slice(toks, 1, cast(n_toks - 1 as int)),"
                    " slice(toks, 2, cast(n_toks - 1 as int)),"
                    " (a, b) -> struct(a AS a, b AS b))"
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
    )
    cano = (
        big.filter(
            (F.col("a") != F.col("b"))
            & (F.length("a") >= TR_MIN_LEN)
            & (F.length("b") >= TR_MIN_LEN)
        )
        .groupBy(
            F.least("a", "b").alias("src"),
            F.greatest("a", "b").alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    edges = cano.unionAll(cano.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w"))
    ranked = _pagerank(edges, TR_DAMPING, TR_ITERS).withColumnRenamed("node", "term")
    top = ranked.orderBy(F.round("rank", 9).desc(), "term").limit(TR_TOP_K)
    return top.select(
        "term",
        F.round("rank", TR_ROUND).alias("textrank"),
        F.row_number()
        .over(Window.orderBy(F.round("rank", 9).desc(), "term"))
        .cast("long")
        .alias("rk"),
    )


textrank_keywords.__doc__ = (textrank_keywords.__doc__ or "").format(k=TR_TOP_K)


# ---------------------------------------------------------------------------
# Jensen-Shannon divergence between per-source unigram distributions.
# ---------------------------------------------------------------------------


@query(
    "js_divergence_sources",
    oracle=f"""
WITH tok AS (
  SELECT source, unnest(regexp_extract_all(lower(text), '{WORD_PATTERN}')) AS term
  FROM documents
), cnt AS (
  SELECT source, term, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2
), tot AS (
  SELECT source, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY 1
), shared AS (
  SELECT a.source AS src_a, b.source AS src_b, a.c AS ca, b.c AS cb,
         ta.n AS na, tb.n AS nb
  FROM cnt a
  JOIN cnt b ON a.term = b.term AND a.source < b.source
  JOIN tot ta ON ta.source = a.source
  JOIN tot tb ON tb.source = b.source
), agg AS (
  SELECT src_a, src_b,
         CAST(count(*) AS BIGINT) AS shared_terms,
         CAST(sum(ca) AS BIGINT) AS ca_sh, CAST(sum(cb) AS BIGINT) AS cb_sh,
         max(na) AS na, max(nb) AS nb,
         sum(  (CAST(ca AS DOUBLE) / na)
             * ln(2 * (CAST(ca AS DOUBLE) / na)
                  / ((CAST(ca AS DOUBLE) / na) + (CAST(cb AS DOUBLE) / nb)))
             + (CAST(cb AS DOUBLE) / nb)
             * ln(2 * (CAST(cb AS DOUBLE) / nb)
                  / ((CAST(ca AS DOUBLE) / na) + (CAST(cb AS DOUBLE) / nb)))
         ) AS both_part
  FROM shared GROUP BY 1, 2
)
SELECT src_a, src_b, shared_terms,
       round((both_part
              + (1 - CAST(ca_sh AS DOUBLE) / na) * ln(2)
              + (1 - CAST(cb_sh AS DOUBLE) / nb) * ln(2)) / 2, {JS_ROUND}) + 0.0
         AS js_nats
FROM agg
""",
)
def js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence (nats) between the unigram
    distributions of every source pair — the principled "how different
    is this source's language" number behind source-mix decisions
    (0 = identical, ln 2 = disjoint). Terms present in only ONE source
    enter algebraically — their KL contribution is exactly
    (1 − P_shared)·ln 2 per side — so only the inner term join is ever
    materialized, never a full-outer over the union vocabulary.

    Plan: one corpus scan → (source, term) counts (vocab-bounded), a
    term-equi self-join restricted to src_a < src_b, one (pair)-sized
    agg. Float log-sums carry ~1e-15 accumulation noise, absorbed by
    the 6-digit rounding (the PageRank-oracle contract)."""
    docs = load_table(spark, sf_dir, "documents")
    cnt = (
        docs.select(
            "source",
            F.explode(F.regexp_extract_all(F.lower("text"), F.lit(WORD_PATTERN), 0)).alias(
                "term"
            ),
        )
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    tot = cnt.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    a, b = cnt.alias("a"), cnt.alias("b")
    ta, tb = tot.alias("ta"), tot.alias("tb")
    shared = (
        a.join(b, (F.col("a.term") == F.col("b.term")) & (F.col("a.source") < F.col("b.source")))
        .join(F.broadcast(ta), F.col("ta.source") == F.col("a.source"))
        .join(F.broadcast(tb), F.col("tb.source") == F.col("b.source"))
        .select(
            F.col("a.source").alias("src_a"),
            F.col("b.source").alias("src_b"),
            F.col("a.c").alias("ca"),
            F.col("b.c").alias("cb"),
            F.col("ta.n").alias("na"),
            F.col("tb.n").alias("nb"),
        )
    )
    p = F.col("ca").cast("double") / F.col("na")
    q = F.col("cb").cast("double") / F.col("nb")
    agg = shared.groupBy("src_a", "src_b").agg(
        F.count(F.lit(1)).cast("long").alias("shared_terms"),
        F.sum("ca").cast("long").alias("ca_sh"),
        F.sum("cb").cast("long").alias("cb_sh"),
        F.max("na").alias("na"),
        F.max("nb").alias("nb"),
        F.sum(p * F.log(2 * p / (p + q)) + q * F.log(2 * q / (p + q))).alias("both_part"),
    )
    ln2 = F.log(F.lit(2.0))
    return agg.select(
        "src_a",
        "src_b",
        "shared_terms",
        F.round(
            (
                F.col("both_part")
                + (1 - F.col("ca_sh").cast("double") / F.col("na")) * ln2
                + (1 - F.col("cb_sh").cast("double") / F.col("nb")) * ln2
            )
            / 2,
            JS_ROUND,
        ).alias("js_nats"),
    )


# ---------------------------------------------------------------------------
# Pooled quantile normalization of per-source quality scores.
# ---------------------------------------------------------------------------


def _qn_oracle() -> str:
    score_sql = ORACLES["text_quality_score"]
    return f"""
WITH score AS ({score_sql}),
pts AS (
  SELECT s.doc_id, d.source,
         CAST(round(s.quality_score * 10000) AS BIGINT) AS s_e4
  FROM score s JOIN documents d ON s.doc_id = d.doc_id
), ranked AS (
  SELECT doc_id, source, s_e4,
         CAST(row_number() OVER (PARTITION BY source ORDER BY s_e4, doc_id) AS BIGINT) AS r,
         CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_s
  FROM pts
), hist AS (
  SELECT s_e4, CAST(count(*) AS BIGINT) AS c FROM pts GROUP BY 1
), cdf AS (
  SELECT s_e4, CAST(sum(c) OVER (ORDER BY s_e4) AS BIGINT) AS cum FROM hist
), nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM pts),
grid AS (
  SELECT CAST(k AS BIGINT) AS k,
         (SELECT min(s_e4) FROM cdf
          WHERE cum >= ((k * (SELECT n FROM nn)) + {QN_GRID} - 1) // {QN_GRID})
           AS b_e4
  FROM unnest(generate_series(1, {QN_GRID})) AS g(k)
)
SELECT p.doc_id, p.source,
       round(p.s_e4 / 10000.0, 4) AS score,
       round(g.b_e4 / 10000.0, 4) AS norm_score
FROM ranked p JOIN grid g
  ON g.k = (p.r * {QN_GRID} + p.n_s - 1) // p.n_s
"""


@query("quantile_normalize_scores", oracle=_qn_oracle())
def quantile_normalize_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of text_quality_score across sources:
    each doc's score is replaced by the POOLED corpus quantile at the
    doc's within-source rank fraction, so every source's score
    distribution maps onto the same pooled shape (the cross-source
    de-biasing step before a single global threshold is applied —
    otherwise one source's generous scorer floods the keep set).

    Scale shape: scores are e4 integers in [0, 1e4], so the pooled
    distribution is a BOUNDED histogram — the pooled quantile grid
    ({g} points) comes from a ≤10k-row cumulative sum, never a global
    sort of the corpus; docs then join the grid by exact integer
    bucket (broadcast). Per-source ranking is a window partitioned by
    source (parallel across sources). All join keys and grid
    boundaries are exact integers — bit-identical in both engines."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    pts = (
        text_quality_score(spark, sf_dir)
        .select("doc_id", F.round(F.col("quality_score") * 10000).cast("long").alias("s_e4"))
        .join(docs, "doc_id")
    )
    w_src = Window.partitionBy("source")
    ranked = pts.select(
        "doc_id",
        "source",
        "s_e4",
        F.row_number().over(w_src.orderBy("s_e4", "doc_id")).cast("long").alias("r"),
        F.count(F.lit(1)).over(w_src).cast("long").alias("n_s"),
    )
    hist = pts.groupBy("s_e4").agg(F.count(F.lit(1)).cast("long").alias("c"))
    cdf = hist.select(
        "s_e4",
        F.sum("c").over(Window.orderBy("s_e4")).cast("long").alias("cum"),
    )
    n = pts.count()  # 1 scalar (the oracle's nn CTE)
    grid_k = spark.range(1, QN_GRID + 1).select(F.col("id").cast("long").alias("k"))
    # floor division on longs in BOTH engines (`div` / `//`) — plain `/`
    # is true division whose CAST rounds in DuckDB but truncates in
    # Spark (the cohort_ltv lesson); all operands are positive here.
    target = F.expr(f"(k * {n}L + {QN_GRID - 1}) div {QN_GRID}")
    boundaries = (
        grid_k.join(F.broadcast(cdf), F.col("cum") >= target)
        .groupBy("k")
        .agg(F.min("s_e4").alias("b_e4"))
    )
    k_of_doc = F.expr(f"(r * {QN_GRID} + n_s - 1) div n_s")
    return ranked.join(
        F.broadcast(boundaries), k_of_doc == F.col("k")
    ).select(
        "doc_id",
        "source",
        F.round(F.col("s_e4") / 10000.0, 4).alias("score"),
        F.round(F.col("b_e4") / 10000.0, 4).alias("norm_score"),
    )


quantile_normalize_scores.__doc__ = (quantile_normalize_scores.__doc__ or "").format(g=QN_GRID)


# ---------------------------------------------------------------------------
# Feature-hashing collision profile.
# ---------------------------------------------------------------------------


@query(
    "feature_hash_collisions",
    oracle=f"""
WITH tok AS (
  SELECT unnest(regexp_extract_all(lower(text), '{WORD_PATTERN}')) AS term
  FROM documents
), vocab AS (
  SELECT term, CAST(count(*) AS BIGINT) AS tok_count FROM tok GROUP BY 1
), hashed AS (
  SELECT ('0x' || substr(md5(term), 1, 15))::BIGINT % {FH_BUCKETS} AS bucket,
         tok_count
  FROM vocab
), buckets AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS n_terms,
         CAST(sum(tok_count) AS BIGINT) AS token_mass
  FROM hashed GROUP BY 1
)
SELECT n_terms AS terms_in_bucket,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(sum(token_mass) AS BIGINT) AS token_mass
FROM buckets GROUP BY 1
""",
)
def feature_hash_collisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick diagnostic: hash the corpus vocabulary into
    {d} buckets (md5-deterministic) and report the bucket-load
    histogram — how many buckets hold k distinct terms, and how much
    token MASS sits in them. The share of mass in buckets with ≥2
    terms is the collision cost a hashed-feature model silently pays;
    this report is how you pick the dimension before training.

    Plan: one corpus scan → vocab-sized agg → {d}-bucket agg → load
    histogram. All integers; at 100 TB the vocab agg is the only
    shuffle and it is map-side combinable."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(
            F.explode(F.regexp_extract_all(F.lower("text"), F.lit(WORD_PATTERN), 0)).alias(
                "term"
            )
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("tok_count"))
    )
    bucket = (
        F.conv(F.substring(F.md5("term"), 1, 15), 16, 10).cast("long") % FH_BUCKETS
    )
    buckets = vocab.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum("tok_count").cast("long").alias("token_mass"),
    )
    return buckets.groupBy(F.col("n_terms").alias("terms_in_bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum("token_mass").cast("long").alias("token_mass"),
    )


feature_hash_collisions.__doc__ = (feature_hash_collisions.__doc__ or "").format(d=FH_BUCKETS)
