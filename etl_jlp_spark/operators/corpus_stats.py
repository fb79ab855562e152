"""Corpus-level lexical statistics: PMI collocations and per-document
lexical diversity.

Extends the reference's per-row keyword frequency ranking
(dwh_lab/dwh/preprocessing_streaming_incremental_load.py:188-315 ranks
n-grams by raw count inside one row) with the corpus-level statistics a
training-data pipeline uses: pointwise mutual information finds the
*collocations* raw frequency hides (high-count pairs of high-count
words score low; "tokyo olympics" beats "of the"), and lexical
diversity (type-token ratio, Shannon entropy, hapax fraction) is a
standard quality signal for filtering template/spam text whose token
histogram is degenerate.

Scale (100 TB):
- One tokenize pass each; bigram/unigram relations shrink map-side to
  (pair → count) / (term → count) before their shuffles (plain groupBy,
  partial aggregation — never count-over-window on a Zipf key).
- Corpus totals are 1-row aggregates attached by broadcast cross join.
- PMI's final top-K is orderBy+limit — Spark plans TakeOrdered (per-
  partition heap + driver merge of K), no global sort; the rank window
  runs over the ≤K-row result.
- All floating-point formulas are written with identical literal
  structure in Spark and the DuckDB oracle (left-to-right IEEE product
  then one division, one ln) so 4-decimal rounding is engine-stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_jlp_spark.catalog import load_table, widen
from etl_jlp_spark.operators.ir import WORD_PATTERN
from etl_jlp_spark.registry import query

PMI_MIN_PAIR = 5  # discard bigrams seen fewer times (PMI is noise at low counts)
PMI_TOP_K = 40


def _tok_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, toks, n_toks) token arrays; conditionally widened scan
    (no shuffle when the input already has ≥cores splits)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        widen(spark, docs, sf_dir, "documents", "doc_id")
        .select(
            "doc_id",
            F.regexp_extract_all(F.lower("text"), F.lit(WORD_PATTERN), 0).alias("toks"),
        )
        .withColumn("n_toks", F.size("toks").cast("long"))
    )


@query(
    "pmi_collocations",
    oracle=f"""
WITH tokd AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{WORD_PATTERN}') AS toks
  FROM documents
), big AS (
  SELECT toks[i] AS term_a, toks[i+1] AS term_b
  FROM (SELECT toks, CAST(len(toks) AS BIGINT) AS n FROM tokd WHERE len(toks) >= 2),
       unnest(generate_series(1, n - 1)) AS t(i)
), cab AS (
  SELECT term_a, term_b, CAST(count(*) AS BIGINT) AS c_ab
  FROM big GROUP BY term_a, term_b HAVING count(*) >= {PMI_MIN_PAIR}
), uni AS (
  SELECT term, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(toks) AS term FROM tokd) GROUP BY term
), tot AS (
  SELECT CAST(sum(len(toks)) AS DOUBLE) AS n_uni,
         CAST(sum(CASE WHEN len(toks) >= 2 THEN len(toks) - 1 ELSE 0 END) AS DOUBLE) AS n_bi
  FROM tokd
), scored AS (
  SELECT c.term_a, c.term_b, c.c_ab, ua.c AS c_a, ub.c AS c_b,
         round(ln((CAST(c.c_ab AS DOUBLE) * t.n_uni * t.n_uni)
                  / (t.n_bi * CAST(ua.c AS DOUBLE) * CAST(ub.c AS DOUBLE))), 4) AS pmi
  FROM cab c
  JOIN uni ua ON c.term_a = ua.term
  JOIN uni ub ON c.term_b = ub.term
  CROSS JOIN tot t
), top AS (
  SELECT * FROM scored ORDER BY pmi DESC, term_a, term_b LIMIT {PMI_TOP_K}
)
SELECT term_a, term_b, c_ab, c_a, c_b, pmi,
       CAST(row_number() OVER (ORDER BY pmi DESC, term_a, term_b) AS BIGINT) AS rk
FROM top
""",
)
def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{K} collocations by pointwise mutual information:
    PMI(a,b) = ln( p(a,b) / (p(a)·p(b)) ) with p(a,b) over adjacent-pair
    occurrences and p(·) over unigram occurrences. Bigrams come from one
    array zip over the tokenized scan (no self-join); unigram counts and
    the two corpus totals are vocabulary-sized / 1-row sides."""
    tokd = _tok_arrays(spark, sf_dir)
    big = (
        tokd.filter(F.col("n_toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "zip_with(slice(toks, 1, cast(n_toks - 1 as int)),"
                    " slice(toks, 2, cast(n_toks - 1 as int)),"
                    " (a, b) -> struct(a AS term_a, b AS term_b))"
                )
            ).alias("p")
        )
        .select("p.term_a", "p.term_b")
    )
    cab_all = big.groupBy("term_a", "term_b").agg(
        F.count(F.lit(1)).cast("long").alias("c_ab")
    )
    cab = cab_all.filter(F.col("c_ab") >= PMI_MIN_PAIR)
    uni = (
        tokd.select(F.explode("toks").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    # corpus totals DERIVED from the two vocab-sized aggregates (their
    # shuffles get reused — ReusedExchange), never a third corpus pass:
    # Σ c over uni = total tokens, Σ c_ab over the unfiltered pair
    # relation = total adjacent pairs.
    tot = (
        uni.agg(F.sum("c").cast("double").alias("n_uni"))
        .crossJoin(F.broadcast(cab_all.agg(F.sum("c_ab").cast("double").alias("n_bi"))))
    )
    ua = uni.select(F.col("term").alias("term_a"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("term").alias("term_b"), F.col("c").alias("c_b"))
    scored = (
        cab.join(ua, "term_a")
        .join(ub, "term_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "term_a",
            "term_b",
            "c_ab",
            "c_a",
            "c_b",
            F.round(
                F.log(
                    (F.col("c_ab").cast("double") * F.col("n_uni") * F.col("n_uni"))
                    / (F.col("n_bi") * F.col("c_a").cast("double") * F.col("c_b").cast("double"))
                ),
                4,
            ).alias("pmi"),
        )
    )
    top = scored.orderBy(F.desc("pmi"), "term_a", "term_b").limit(PMI_TOP_K)
    rk = Window.orderBy(F.desc("pmi"), "term_a", "term_b")
    return top.withColumn("rk", F.row_number().over(rk).cast("long"))


@query(
    "lexical_diversity",
    oracle=f"""
WITH tc AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '{WORD_PATTERN}')) AS term
        FROM documents)
  GROUP BY doc_id, term
)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_toks,
       CAST(count(*) AS BIGINT) AS n_types,
       round(CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 4) AS ttr,
       round(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 4) AS hapax_frac,
       round(ln(CAST(sum(c) AS DOUBLE))
             - sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) / CAST(sum(c) AS DOUBLE),
             4) AS entropy
FROM tc GROUP BY doc_id
""",
)
def lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document lexical diversity: type-token ratio, hapax-legomenon
    fraction, and Shannon entropy of the term histogram. Entropy uses
    the one-pass identity H = ln(n) − (Σ c·ln c)/n, so the whole
    operator is ONE (doc, term) count plus ONE per-document aggregate —
    both doc-keyed, both map-side combinable. Degenerate/templated text
    (low entropy, low TTR) is the filter target."""
    docs = load_table(spark, sf_dir, "documents")
    tc = (
        widen(spark, docs, sf_dir, "documents", "doc_id")
        .select(
            "doc_id",
            F.explode(F.regexp_extract_all(F.lower("text"), F.lit(WORD_PATTERN), 0)).alias(
                "term"
            ),
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    n = F.sum("c").cast("double")
    return tc.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_toks"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.round(F.count(F.lit(1)).cast("double") / n, 4).alias("ttr"),
        F.round(
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)).cast("double"),
            4,
        ).alias("hapax_frac"),
        F.round(
            F.log(n) - F.sum(F.col("c").cast("double") * F.log(F.col("c").cast("double"))) / n,
            4,
        ).alias("entropy"),
    )


# ---------------------------------------------------------------------------
# Per-source distinctive terms: weighted log-odds with an informative
# Dirichlet prior (Monroe, Colaresi & Quinn 2008, "Fightin' Words").
# Raw per-source frequency ranking surfaces stopwords; the prior
# (scaled corpus distribution) shrinks common words to zero and the
# variance-normalized z puts rare-but-exclusive and common-but-skewed
# terms on one scale — the "what does this feed talk about" table a
# source-mix owner reads next to domain_mix_report.
# ---------------------------------------------------------------------------

LOGODDS_ALPHA0 = 100.0  # total prior mass (pseudo-tokens)
LOGODDS_MIN_COUNT = 3  # min in-source occurrences to report
LOGODDS_TOP_K = 5  # terms per source


@query(
    "source_logodds_terms",
    oracle=f"""
WITH toks AS (
  SELECT source, unnest(regexp_extract_all(lower(text), '{WORD_PATTERN}')) AS term
  FROM documents
), ts_c AS (
  SELECT source, term, CAST(count(*) AS BIGINT) AS y_ts FROM toks GROUP BY 1, 2
), t_c AS (
  SELECT term, CAST(sum(y_ts) AS BIGINT) AS y_t FROM ts_c GROUP BY term
), s_c AS (
  SELECT source, CAST(sum(y_ts) AS BIGINT) AS n_s FROM ts_c GROUP BY source
), tot AS (SELECT CAST(sum(y_ts) AS DOUBLE) AS n FROM ts_c),
sc AS (
  SELECT c.source, c.term, c.y_ts,
         {LOGODDS_ALPHA0} * t.y_t / tot.n AS a_t,
         t.y_t - c.y_ts AS y_rest,
         s.n_s, tot.n - s.n_s AS n_rest
  FROM ts_c c JOIN t_c t ON c.term = t.term
  JOIN s_c s ON c.source = s.source CROSS JOIN tot
  WHERE c.y_ts >= {LOGODDS_MIN_COUNT}
), z AS (
  SELECT source, term, y_ts,
         round((ln((y_ts + a_t) / (n_s + {LOGODDS_ALPHA0} - y_ts - a_t))
                - ln((y_rest + a_t) / (n_rest + {LOGODDS_ALPHA0} - y_rest - a_t)))
               / sqrt(1.0 / (y_ts + a_t) + 1.0 / (y_rest + a_t)), 4) + 0.0 AS z
  FROM sc
)
SELECT source, term, y_ts, z, CAST(rk AS INT) AS rk FROM (
  SELECT *, row_number() OVER (PARTITION BY source ORDER BY z DESC, term) AS rk
  FROM z
) WHERE rk <= {LOGODDS_TOP_K}
""",
)
def source_logodds_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``LOGODDS_TOP_K`` distinctive terms per source by
    prior-shrunk, variance-normalized log-odds vs the rest of the
    corpus (Monroe et al. 2008).

    Plan: ONE tokenize pass collapses to (source, term) counts
    map-side; term/source totals derive from that vocab-bounded
    relation (ReusedExchange, no second corpus pass); the z algebra
    and the per-source top-k window run entirely on vocab-sized rows.
    Ranking sorts the ROUNDED z (identical in both engines) with the
    term as tiebreak, so the report is engine-deterministic."""
    toks = load_table(spark, sf_dir, "documents").select(
        "source",
        F.explode(F.regexp_extract_all(F.lower("text"), F.lit(WORD_PATTERN), 0)).alias(
            "term"
        ),
    )
    ts_c = toks.groupBy("source", "term").agg(
        F.count(F.lit(1)).cast("long").alias("y_ts")
    )
    t_c = ts_c.groupBy("term").agg(F.sum("y_ts").cast("long").alias("y_t"))
    s_c = ts_c.groupBy("source").agg(F.sum("y_ts").cast("long").alias("n_s"))
    tot = ts_c.agg(F.sum("y_ts").cast("double").alias("n"))
    a0 = F.lit(LOGODDS_ALPHA0)
    sc = (
        ts_c.filter(F.col("y_ts") >= LOGODDS_MIN_COUNT)
        .join(t_c, "term")
        .join(F.broadcast(s_c), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "term",
            "y_ts",
            (a0 * F.col("y_t") / F.col("n")).alias("a_t"),
            (F.col("y_t") - F.col("y_ts")).alias("y_rest"),
            "n_s",
            (F.col("n") - F.col("n_s")).alias("n_rest"),
        )
    )
    delta = F.log(
        (F.col("y_ts") + F.col("a_t")) / (F.col("n_s") + a0 - F.col("y_ts") - F.col("a_t"))
    ) - F.log(
        (F.col("y_rest") + F.col("a_t"))
        / (F.col("n_rest") + a0 - F.col("y_rest") - F.col("a_t"))
    )
    sigma = F.sqrt(
        1.0 / (F.col("y_ts") + F.col("a_t")) + 1.0 / (F.col("y_rest") + F.col("a_t"))
    )
    z = sc.select(
        "source", "term", "y_ts", (F.round(delta / sigma, 4) + 0.0).alias("z")
    )
    w = Window.partitionBy("source").orderBy(F.desc("z"), "term")
    return (
        z.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= LOGODDS_TOP_K)
        .select("source", "term", "y_ts", "z", "rk")
    )


# ---------------------------------------------------------------------------
# Zipf rank-frequency fit — corpus health in one number. Natural text
# follows count ∝ rank^s with s ≈ −1; template/boilerplate-heavy or
# synthetic corpora bend the log-log line (|s| far from 1, low R²), so
# the fitted slope is a cheap whole-corpus drift alarm to run beside
# the per-document quality gates (quality_rules.py).
# ---------------------------------------------------------------------------

ZIPF_TOP_N = 1000  # fit over the head of the rank-frequency curve


@query(
    "zipf_rank_slope",
    oracle=f"""
WITH term_counts AS (
  SELECT t.term, CAST(count(*) AS BIGINT) AS cnt
  FROM documents, unnest(regexp_extract_all(lower(text), '{WORD_PATTERN}')) AS t(term)
  GROUP BY t.term
), ranked AS (
  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, term ASC) AS rk
  FROM term_counts
), pts AS (
  SELECT ln(CAST(rk AS DOUBLE)) AS x, ln(CAST(cnt AS DOUBLE)) AS y
  FROM ranked WHERE rk <= {ZIPF_TOP_N}
), s AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
  FROM pts
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM term_counts) AS n_terms,
       CAST(n AS BIGINT) AS n_fit,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) + 0.0 AS zipf_slope,
       round(sy / n - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx / n, 6) + 0.0
         AS intercept,
       round((n * sxy - sx * sy) * (n * sxy - sx * sy)
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) + 0.0 AS r2
FROM s
""",
)
def zipf_rank_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf fit: OLS slope of ln(count) on ln(rank) over the corpus's
    top-``ZIPF_TOP_N`` terms (rank ties broken by term so both engines
    rank identically), plus intercept and R². One row out.

    Plan: one tokenize pass → (term, count) groupBy with partial
    aggregation; the head is TakeOrdered-``ZIPF_TOP_N`` (per-partition
    heap + driver merge, no global sort); the OLS runs over the
    ``ZIPF_TOP_N``-row result. Log sums are engine-stable at 6 decimals:
    ≤1 ulp libm noise × 1k terms ≪ the rounding quantum."""
    tok = _tok_arrays(spark, sf_dir)
    term_counts = (
        tok.select(F.explode("toks").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    # No persist: term_counts appears as an IDENTICAL subtree under both
    # consumers (vocabulary count + TakeOrdered head), so ReusedExchange
    # dedupes the shuffle at runtime — same rationale as ab_test_report.
    totals = term_counts.agg(F.count(F.lit(1)).cast("long").alias("n_terms"))
    head = term_counts.orderBy(F.desc("cnt"), F.asc("term")).limit(ZIPF_TOP_N)
    w = Window.orderBy(F.desc("cnt"), F.asc("term"))
    pts = head.select(
        F.log(F.row_number().over(w).cast("double")).alias("x"),
        F.log(F.col("cnt").cast("double")).alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, sxy, syy = F.col("sxx"), F.col("sxy"), F.col("syy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.crossJoin(F.broadcast(totals)).select(
        "n_terms",
        n.cast("long").alias("n_fit"),
        (F.round(slope, 6) + 0.0).alias("zipf_slope"),
        (F.round(sy / n - slope * sx / n, 6) + 0.0).alias("intercept"),
        (
            F.round(
                (n * sxy - sx * sy) * (n * sxy - sx * sy)
                / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
                6,
            )
            + 0.0
        ).alias("r2"),
    )


# ---------------------------------------------------------------------------
# Frequency-of-frequencies spectrum + Good-Turing unseen mass — the
# count-of-counts view a smoothing/coverage analysis starts from.
# ---------------------------------------------------------------------------

FREQ_SPECTRUM_MAX_K = 10

# spectrum runs over word-TRIGRAM document frequencies: the unigram
# vocabulary of the synthetic corpus is ~31 types all with huge counts
# (empty spectrum below k=10), while trigram DF has the Zipf head/tail
# a Good-Turing analysis is about. Same shingle relation as the
# MinHash family.
from etl_jlp_spark.operators.similarity import (  # noqa: E402
    _SHINGLES_CTE as _FS_SHINGLES_CTE,
    _word_shingles as _fs_word_shingles,
)


@query(
    "term_freq_spectrum",
    oracle="WITH "
    + _FS_SHINGLES_CTE
    + f""",
tc AS (
  SELECT sh AS term, CAST(count(*) AS BIGINT) AS c
  FROM shingles
  GROUP BY sh
), tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS n_tokens, CAST(count(*) AS BIGINT) AS n_types FROM tc
), spec AS (
  SELECT c AS k, CAST(count(*) AS BIGINT) AS n_types_k
  FROM tc WHERE c <= {FREQ_SPECTRUM_MAX_K} GROUP BY c
)
SELECT spec.k, spec.n_types_k,
       round(spec.n_types_k * 1.0 / tot.n_types, 6) AS type_share,
       round(spec.k * spec.n_types_k * 1.0 / tot.n_tokens, 6) AS token_share,
       round((spec.k + 1.0)
             * coalesce((SELECT n_types_k FROM spec s2 WHERE s2.k = spec.k + 1), 0)
             / spec.n_types_k / tot.n_tokens, 8) + 0.0 AS gt_prob_per_type
FROM spec CROSS JOIN tot
""",
)
def term_freq_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-of-frequencies spectrum N_k over word-trigram document
    frequencies (how many trigram types appear in exactly k documents,
    k ≤ {K}) with each class's type/token share and the Good-Turing
    re-estimated per-type probability p_GT(k) = (k+1)·N_(k+1)/(N_k·N):
    the relation every smoothing / coverage / "how much mass would an
    unseen phrase get" analysis is built from (k=1's token_share is the
    hapax mass; gt_prob at k=1 estimates what a NEW unseen type
    deserves).

    Plan: one shingle pass (shared shape with the MinHash family) →
    type-bounded counts → a ≤{K}-row count-of-counts aggregate; the
    N_(k+1) self-lookup is a lead window over that tiny relation.
    Everything after the first groupBy is vocabulary- then k-bounded."""
    docs = load_table(spark, sf_dir, "documents")
    tc = (
        _fs_word_shingles(docs)
        .groupBy(F.col("sh").alias("term"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        # vocab-sized; feeds both the totals and the spectrum without
        # re-tokenizing (column pruning would otherwise specialize the
        # two subtrees and replant the corpus scan)
        .localCheckpoint(eager=True)
    )
    tot = tc.agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
    )
    spec = (
        tc.filter(F.col("c") <= FREQ_SPECTRUM_MAX_K)
        .groupBy(F.col("c").alias("k"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_types_k"))
    )
    wlead = Window.orderBy("k")
    spec2 = spec.select(
        "k",
        "n_types_k",
        F.when(F.lead("k").over(wlead) == F.col("k") + 1, F.lead("n_types_k").over(wlead))
        .otherwise(F.lit(0))
        .alias("n_next"),
    )
    return spec2.crossJoin(F.broadcast(tot)).select(
        "k",
        "n_types_k",
        F.round(F.col("n_types_k") * 1.0 / F.col("n_types"), 6).alias("type_share"),
        F.round(F.col("k") * F.col("n_types_k") * 1.0 / F.col("n_tokens"), 6).alias(
            "token_share"
        ),
        (
            F.round(
                (F.col("k") + 1.0)
                * F.col("n_next")
                / F.col("n_types_k")
                / F.col("n_tokens"),
                8,
            )
            + 0.0
        ).alias("gt_prob_per_type"),
    )


@query(
    "source_vocab_overlap",
    oracle=f"""
WITH sv AS (
  SELECT DISTINCT source, term
  FROM (SELECT source, unnest(regexp_extract_all(lower(text), '{WORD_PATTERN}')) AS term
        FROM documents)
), sizes AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_terms FROM sv GROUP BY source
), inter AS (
  SELECT a.source AS source_a, b.source AS source_b, CAST(count(*) AS BIGINT) AS i
  FROM sv a JOIN sv b ON a.term = b.term AND a.source < b.source
  GROUP BY 1, 2
)
SELECT source_a, source_b, sa.n_terms AS terms_a, sb.n_terms AS terms_b, i AS n_shared,
       round(i * 1.0 / (sa.n_terms + sb.n_terms - i), 4) AS vocab_jaccard
FROM inter
JOIN sizes sa ON sa.source = source_a
JOIN sizes sb ON sb.source = source_b
""",
)
def source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between sources — the mix-design
    signal for "are these two crawls the same text?" (near-1 overlap →
    candidates for source-level dedup; near-0 → genuinely new domain).

    Plan: the corpus collapses to the DISTINCT (source, term) relation
    first (vocab × sources bounded — this is what makes a sources²
    comparison safe at 100 TB: the pair join runs on vocabularies, not
    documents); intersections via a term-keyed self-join, sizes
    broadcast back onto the ≤ sources² result."""
    docs = load_table(spark, sf_dir, "documents")
    sv = (
        widen(spark, docs, sf_dir, "documents", "doc_id")
        .select(
            "source",
            F.explode(F.regexp_extract_all(F.lower("text"), F.lit(WORD_PATTERN), 0)).alias(
                "term"
            ),
        )
        .distinct()
        .localCheckpoint(eager=True)  # vocab×sources-bounded, reused 3×
    )
    sizes = sv.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n_terms"))
    a = sv.withColumnsRenamed({"source": "source_a"})
    b = sv.withColumnsRenamed({"source": "source_b"})
    inter = (
        a.join(b, ["term"])
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    return (
        inter.join(
            F.broadcast(sizes.withColumnsRenamed({"source": "source_a", "n_terms": "terms_a"})),
            "source_a",
        )
        .join(
            F.broadcast(sizes.withColumnsRenamed({"source": "source_b", "n_terms": "terms_b"})),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "terms_a",
            "terms_b",
            "n_shared",
            F.round(
                F.col("n_shared") * 1.0 / (F.col("terms_a") + F.col("terms_b") - F.col("n_shared")),
                4,
            ).alias("vocab_jaccard"),
        )
    )


term_freq_spectrum.__doc__ = (term_freq_spectrum.__doc__ or "").format(
    K=FREQ_SPECTRUM_MAX_K
)


# ---------------------------------------------------------------------------
# Vocabulary growth (Heaps' law): distinct vocabulary V as a function
# of corpus volume N, V ≈ K·N^β. A healthy natural corpus grows with
# β ≈ 0.4–0.8; β near 0 means the marginal shard adds re-crawled
# duplicates (no fresh vocabulary — the aggregate twin of the dedup
# family's per-doc verdicts), β near 1 means ID/hash soup. The curve
# is THE cheap answer to "is ingesting the next shard of this source
# still worth it". The vocabulary unit is the word TRIGRAM: unigram
# vocabularies saturate at any corpus size (closed word list), while
# n-gram shapes keep growing exactly when the text is genuinely new —
# the same unit the dedup/containment family shingles on.
# ---------------------------------------------------------------------------

HEAPS_BUCKET_DOCS = 50  # docs per growth bucket (doc_id order = ingest order)
HEAPS_N = 3  # shingle width


@query(
    "vocab_growth_curve",
    oracle=f"""
WITH arr AS (
  SELECT CAST(doc_id // {HEAPS_BUCKET_DOCS} AS BIGINT) AS bucket, doc_id,
         regexp_extract_all(lower(text), '[a-z]+') AS a
  FROM documents
), toks AS (
  SELECT bucket, doc_id, a[i] || ' ' || a[i + 1] || ' ' || a[i + 2] AS term
  FROM arr, unnest(generate_series(1, len(a) - {HEAPS_N - 1})) AS g(i)
  WHERE len(a) >= {HEAPS_N}
), per_bucket AS (
  SELECT bucket, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         CAST(count(*) AS BIGINT) AS bucket_ngrams
  FROM toks GROUP BY bucket
), firsts AS (
  SELECT min(bucket) AS bucket, term FROM toks GROUP BY term
), news AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS new_terms FROM firsts GROUP BY bucket
), curve AS (
  SELECT p.bucket, p.n_docs, p.bucket_ngrams,
         sum(p.bucket_ngrams) OVER (ORDER BY p.bucket) AS cum_ngrams,
         sum(coalesce(n.new_terms, 0)) OVER (ORDER BY p.bucket) AS cum_distinct,
         coalesce(n.new_terms, 0) AS new_terms
  FROM per_bucket p LEFT JOIN news n ON n.bucket = p.bucket
), fit AS (
  SELECT count(*) AS n,
         sum(ln(cum_ngrams)) AS sx, sum(ln(cum_distinct)) AS sy,
         sum(ln(cum_ngrams) * ln(cum_ngrams)) AS sxx,
         sum(ln(cum_ngrams) * ln(cum_distinct)) AS sxy
  FROM curve
)
SELECT c.bucket, c.n_docs, c.bucket_ngrams,
       CAST(c.cum_ngrams AS BIGINT) AS cum_ngrams,
       CAST(c.new_terms AS BIGINT) AS new_terms,
       CAST(c.cum_distinct AS BIGINT) AS cum_distinct,
       round(c.new_terms / CAST(c.bucket_ngrams AS DOUBLE), 4) AS novelty_rate,
       CASE WHEN f.n >= 2
            THEN round((f.n * f.sxy - f.sx * f.sy) / (f.n * f.sxx - f.sx * f.sx), 4)
            END AS heaps_beta
FROM curve c CROSS JOIN fit f
""",
)
def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth over ingest order: per
    {b}-document bucket, the word-{n}-gram volume, the NEW distinct
    {n}-grams the bucket contributes, cumulative volume/vocabulary,
    the novelty rate, and the fitted log-log growth exponent β (same
    closed-form OLS shape as zipf_rank_slope; NULL when the curve has
    a single point) — low β ⇒ the marginal shard adds duplicates, not
    language.

    Plan: ONE tokenize pass (array + position explode, ∝ corpus
    tokens); "new terms per bucket" is min(bucket) per term then a
    count — vocabulary-bounded, never a cumulative distinct over raw
    shingles; the curve is a window over the |buckets|-row relation
    and the fit is a 1-row aggregate of it, broadcast back. Exact
    BIGINT counts feed the one double fit expression.""".replace(
        "{b}", str(HEAPS_BUCKET_DOCS)
    ).replace("{n}", str(HEAPS_N))
    docs = widen(spark, load_table(spark, sf_dir, "documents"), sf_dir, "documents")
    arr = docs.select(
        (F.col("doc_id") / HEAPS_BUCKET_DOCS).cast("long").alias("bucket"),
        "doc_id",
        F.regexp_extract_all(F.lower("text"), F.lit(WORD_PATTERN), 0).alias("a"),
    ).filter(F.size("a") >= HEAPS_N)
    toks = arr.select(
        "bucket",
        "doc_id",
        F.explode(F.expr(f"sequence(0, size(a) - {HEAPS_N})")).alias("i"),
        "a",
    ).select(
        "bucket",
        "doc_id",
        F.concat_ws(" ", F.expr("a[i]"), F.expr("a[i + 1]"), F.expr("a[i + 2]")).alias(
            "term"
        ),
    )
    per_bucket = toks.groupBy("bucket").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("bucket_ngrams"),
    )
    news = (
        toks.groupBy("term")
        .agg(F.min("bucket").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("new_terms"))
    )
    wc = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    curve = (
        per_bucket.join(news, "bucket", "left")
        .select(
            "bucket",
            "n_docs",
            "bucket_ngrams",
            F.coalesce("new_terms", F.lit(0)).cast("long").alias("new_terms"),
        )
        .select(
            "*",
            F.sum("bucket_ngrams").over(wc).cast("long").alias("cum_ngrams"),
            F.sum("new_terms").over(wc).cast("long").alias("cum_distinct"),
        )
    )
    lx, ly = F.log("cum_ngrams"), F.log("cum_distinct")
    fit = curve.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(lx).alias("sx"),
        F.sum(ly).alias("sy"),
        F.sum(lx * lx).alias("sxx"),
        F.sum(lx * ly).alias("sxy"),
    )
    return curve.crossJoin(F.broadcast(fit)).select(
        "bucket",
        "n_docs",
        "bucket_ngrams",
        "cum_ngrams",
        "new_terms",
        "cum_distinct",
        F.round(F.col("new_terms") / F.col("bucket_ngrams").cast("double"), 4).alias(
            "novelty_rate"
        ),
        F.when(
            F.col("n") >= 2,
            F.round(
                (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
                / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")),
                4,
            ),
        ).alias("heaps_beta"),
    )


# ---------------------------------------------------------------------------
# Character coverage (the SentencePiece `character_coverage` knob made
# observable): rank characters by corpus frequency, find how many are
# needed to cover 99.5% / 99.9% of all character occurrences, and
# which high-rank stragglers fall outside — the report that decides
# the tokenizer's base alphabet and predicts the UNK rate before
# training anything.
# ---------------------------------------------------------------------------

CHAR_COVERAGE_TARGETS = [0.995, 0.999]


@query(
    "char_coverage_report",
    oracle=f"""
WITH chars AS (
  SELECT substr(t, i, 1) AS ch FROM (
    SELECT lower(text) AS t FROM documents WHERE length(text) > 0
  ), unnest(generate_series(1, length(t))) AS g(i)
), counts AS (
  SELECT ch, CAST(count(*) AS BIGINT) AS c FROM chars GROUP BY ch
), ranked AS (
  SELECT ch, c,
         row_number() OVER (ORDER BY c DESC, ch) AS rk,
         sum(c) OVER (ORDER BY c DESC, ch) AS cum,
         sum(c) OVER () AS tot,
         count(*) OVER () AS n_chars
  FROM counts
), tg AS (
  SELECT CAST(t.target AS DOUBLE) AS target
  FROM (VALUES {", ".join(f"({t})" for t in CHAR_COVERAGE_TARGETS)}) t(target)
)
SELECT g.target,
       CAST(max(r.n_chars) AS BIGINT) AS alphabet_size,
       CAST(min(CASE WHEN r.cum >= g.target * r.tot THEN r.rk END) AS BIGINT)
         AS chars_needed,
       CAST(max(r.n_chars) - min(CASE WHEN r.cum >= g.target * r.tot THEN r.rk END)
            AS BIGINT) AS chars_dropped,
       round(1.0 - min(CASE WHEN r.cum >= g.target * r.tot THEN r.cum END)
                   / CAST(max(r.tot) AS DOUBLE), 6) AS residual_unk_rate
FROM tg g CROSS JOIN ranked r
GROUP BY g.target
""",
)
def char_coverage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For coverage targets {ts}: the corpus alphabet size, the number
    of top-frequency characters needed to hit the target, how many are
    left out of the base vocabulary, and the residual UNK mass — the
    SentencePiece character_coverage decision as a measured table.

    Plan: one position-explode pass (∝ characters) collapses to the
    ≤|alphabet| count relation; ranking, cumulative mass and the
    target probe are all windows/aggregates over that tiny relation
    with a 2-row broadcast target join.""".replace(
        "{ts}", "{" + ", ".join(str(t) for t in CHAR_COVERAGE_TARGETS) + "}"
    )
    docs = widen(spark, load_table(spark, sf_dir, "documents"), sf_dir, "documents")
    chars = (
        docs.filter(F.length("text") > 0)
        .select(F.lower("text").alias("t"))
        .select(F.explode(F.expr("sequence(1, length(t))")).alias("i"), "t")
        .select(F.expr("substring(t, i, 1)").alias("ch"))
    )
    counts = chars.groupBy("ch").agg(F.count(F.lit(1)).cast("long").alias("c"))
    wr = Window.orderBy(F.desc("c"), "ch")
    wall = Window.partitionBy()
    ranked = counts.select(
        "c",
        F.row_number().over(wr).alias("rk"),
        F.sum("c").over(wr.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.sum("c").over(wall).alias("tot"),
        F.count(F.lit(1)).over(wall).alias("n_chars"),
    )
    tg = spark.createDataFrame([(t,) for t in CHAR_COVERAGE_TARGETS], "target double")
    hit = F.when(F.col("cum") >= F.col("target") * F.col("tot"), F.col("rk"))
    return (
        F.broadcast(tg)
        .crossJoin(ranked)
        .groupBy("target")
        .agg(
            F.max("n_chars").cast("long").alias("alphabet_size"),
            F.min(hit).cast("long").alias("chars_needed"),
            (F.max("n_chars") - F.min(hit)).cast("long").alias("chars_dropped"),
            F.round(
                1.0
                - F.min(F.when(F.col("cum") >= F.col("target") * F.col("tot"), F.col("cum")))
                / F.max("tot").cast("double"),
                6,
            ).alias("residual_unk_rate"),
        )
    )


# ---------------------------------------------------------------------------
# OOV-rate curve: token mass NOT covered by the top-K vocabulary, for
# a grid of vocabulary sizes — the word-level twin of
# char_coverage_report and THE sizing chart for a fixed-vocab
# tokenizer (pick K where the marginal OOV gain flattens).
# ---------------------------------------------------------------------------

OOV_K_GRID = (100, 200, 400, 800, 1600, 3200)


@query(
    "oov_rate_curve",
    oracle=f"""
WITH uni AS (
  SELECT term, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(regexp_extract_all(lower(text), '{WORD_PATTERN}')) AS term
        FROM documents)
  GROUP BY 1
), ranked AS (
  SELECT c, CAST(row_number() OVER (ORDER BY c DESC, term) AS BIGINT) AS rk,
         CAST(sum(c) OVER () AS BIGINT) AS tot,
         CAST(count(*) OVER () AS BIGINT) AS vocab
  FROM uni
), grid AS (
  SELECT CAST(k AS BIGINT) AS vocab_size
  FROM unnest([{", ".join(str(k) for k in OOV_K_GRID)}]) AS g(k)
)
SELECT g.vocab_size,
       CAST(least(g.vocab_size, max(r.vocab)) AS BIGINT) AS n_terms_used,
       round(1.0 - CAST(COALESCE(sum(r.c) FILTER (WHERE r.rk <= g.vocab_size), 0)
                        AS DOUBLE) / max(r.tot), 6) + 0.0 AS oov_rate
FROM grid g CROSS JOIN ranked r
GROUP BY 1
""",
)
def oov_rate_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OOV (out-of-vocabulary) token-mass rate for vocabulary sizes
    {grid}: rank terms by corpus frequency (count desc, term
    tie-break), then 1 − covered_mass/total at each cutoff. Reading
    the curve: the K where OOV flattens is the vocab budget a
    fixed-vocabulary tokenizer actually needs on this corpus.

    Plan: one tokenize scan → vocab-sized counts; the rank window
    sorts the VOCABULARY (≪ corpus — bounded by distinct terms, the
    same budget every vocab-side IR op here accepts), and the K-grid
    sweep is one conditional agg over the broadcast-ranked relation —
    never re-scans the corpus per cutoff."""
    docs = load_table(spark, sf_dir, "documents")
    uni = (
        docs.select(
            F.explode(
                F.regexp_extract_all(F.lower("text"), F.lit(WORD_PATTERN), 0)
            ).alias("term")
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    w = Window.orderBy(F.desc("c"), F.asc("term"))
    wall = Window.partitionBy()
    ranked = uni.select(
        "c",
        F.row_number().over(w).cast("long").alias("rk"),
        F.sum("c").over(wall).cast("long").alias("tot"),
        F.count(F.lit(1)).over(wall).cast("long").alias("vocab"),
    )
    grid = spark.createDataFrame([(k,) for k in OOV_K_GRID], "vocab_size long")
    return (
        F.broadcast(grid)
        .crossJoin(ranked)
        .groupBy("vocab_size")
        .agg(
            F.least(F.col("vocab_size"), F.max("vocab")).cast("long").alias("n_terms_used"),
            F.round(
                1.0
                - F.coalesce(
                    F.sum(F.when(F.col("rk") <= F.col("vocab_size"), F.col("c"))), F.lit(0)
                ).cast("double")
                / F.max("tot"),
                6,
            ).alias("oov_rate"),
        )
    )


oov_rate_curve.__doc__ = (oov_rate_curve.__doc__ or "").format(grid=OOV_K_GRID)


# ---------------------------------------------------------------------------
# Vocabulary coverage estimators: Chao1 richness (how many terms exist
# in the population the corpus samples) and Good–Turing unseen mass
# (what probability mass the NEXT document will spend on never-seen
# terms) — the two numbers that decide whether a corpus is big enough
# for its tokenizer (vocab_growth_curve shows the trend; these are the
# asymptote estimates).
# ---------------------------------------------------------------------------


@query(
    "vocab_coverage_estimate",
    oracle=f"""
WITH toks AS (
  SELECT unnest(regexp_extract_all(lower(text), '{WORD_PATTERN}')) AS term
  FROM documents
), tf AS (
  SELECT term, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY 1
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS v,
         CAST(sum(c) AS BIGINT) AS n,
         CAST(count(*) FILTER (WHERE c = 1) AS BIGINT) AS f1,
         CAST(count(*) FILTER (WHERE c = 2) AS BIGINT) AS f2
  FROM tf
)
SELECT n AS n_tokens, v AS vocab_seen, f1 AS hapax, f2 AS dis,
       CAST(v + (f1 * (f1 - 1)) // (2 * (f2 + 1)) AS BIGINT) AS chao1_vocab,
       round(CAST(f1 AS DOUBLE) / n, 6) + 0.0 AS gt_unseen_mass,
       round(1.0 - CAST(f1 AS DOUBLE) / n, 6) + 0.0 AS gt_coverage
FROM agg
""",
)
def vocab_coverage_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 vocabulary-richness estimate V̂ = V + F1(F1−1)/(2(F2+1))
    (bias-corrected, F2=0-safe) and the Good–Turing unseen-probability
    mass F1/N over the corpus term counts — integer frequency-of-
    frequency statistics with the Chao1 correction in pure integer
    division, one double ratio for the GT mass.

    Plan: one tokenize pass → vocab-bounded term counts → 1-row
    frequency-spectrum agg (the term_freq_spectrum relation collapsed
    to its two leading cells)."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(
            F.explode(
                F.expr(f"regexp_extract_all(lower(text), '{WORD_PATTERN}', 0)")
            ).alias("term")
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    agg = tf.agg(
        F.count(F.lit(1)).cast("long").alias("v"),
        F.sum("c").cast("long").alias("n"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long").alias("f1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).cast("long").alias("f2"),
    )
    v, n, f1, f2 = F.col("v"), F.col("n"), F.col("f1"), F.col("f2")
    return agg.select(
        n.alias("n_tokens"),
        v.alias("vocab_seen"),
        f1.alias("hapax"),
        f2.alias("dis"),
        (v + F.expr("(f1 * (f1 - 1)) div (2 * (f2 + 1))")).cast("long").alias("chao1_vocab"),
        F.round(f1.cast("double") / n, 6).alias("gt_unseen_mass"),
        F.round(1.0 - f1.cast("double") / n, 6).alias("gt_coverage"),
    )


# ---------------------------------------------------------------------------
# Gries' DP (deviation of proportions): how UNEVENLY a term spreads
# across sources — raw frequency can't tell a corpus-wide term from
# one source's tic (source_logodds_terms finds source-typical terms;
# DP scores each top term's burstiness across the whole source mix).
# ---------------------------------------------------------------------------

DP_TOP_TERMS = 20


def _dp_oracle() -> str:
    return f"""
WITH toks AS (
  SELECT source, unnest(regexp_extract_all(lower(text), '{WORD_PATTERN}')) AS term
  FROM documents
), src AS (
  SELECT source, CAST(count(*) AS BIGINT) AS nt FROM toks GROUP BY 1
), tot AS (
  SELECT CAST(sum(nt) AS BIGINT) AS n FROM src
), tc AS (
  SELECT term, source, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY 1, 2
), top AS (
  SELECT term, CAST(sum(c) AS BIGINT) AS ct
  FROM tc GROUP BY 1
  ORDER BY sum(c) DESC, term LIMIT {DP_TOP_TERMS}
), present AS (
  SELECT t.term, t.ct,
         sum(abs(CAST(tc.c AS DOUBLE) / t.ct - CAST(s.nt AS DOUBLE) / tot.n))
           AS sum_present,
         sum(CAST(s.nt AS DOUBLE) / tot.n) AS e_present
  FROM top t
  JOIN tc ON tc.term = t.term
  JOIN src s ON s.source = tc.source
  CROSS JOIN tot
  GROUP BY t.term, t.ct
)
SELECT term, ct AS n_occurrences,
       round((sum_present + (1.0 - e_present)) / 2.0, 4) + 0.0 AS dp
FROM present
"""


@query("term_dispersion_dp", oracle=_dp_oracle())
def term_dispersion_dp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gries' DP per top-{K} corpus term: Σ_s |obs_share − exp_share|/2
    where the expected share is the source's token share. Sources
    where the term is ABSENT contribute |0 − e_s| = e_s, folded in
    algebraically as (1 − Σ_present e_s) — so only the realized
    (term, source) cells are ever materialized, no dense grid.

    Plan: one tokenize pass → (term, source) counts (vocab-bounded),
    TakeOrdered top-k, broadcast source-size join."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(F.expr(f"regexp_extract_all(lower(text), '{WORD_PATTERN}', 0)")).alias(
            "term"
        ),
    )
    tc = toks.groupBy("term", "source").agg(F.count(F.lit(1)).cast("long").alias("c"))
    tc = tc.localCheckpoint(eager=True)  # vocab-bounded; consumed by top + present
    src = tc.groupBy("source").agg(F.sum("c").cast("long").alias("nt"))
    tot = src.agg(F.sum("nt").cast("long").alias("n"))
    top = (
        tc.groupBy("term")
        .agg(F.sum("c").cast("long").alias("ct"))
        .orderBy(F.desc("ct"), "term")
        .limit(DP_TOP_TERMS)
    )
    present = (
        top.join(tc, "term")
        .join(F.broadcast(src), "source")
        .crossJoin(F.broadcast(tot))
        .groupBy("term", "ct")
        .agg(
            F.sum(
                F.abs(
                    F.col("c").cast("double") / F.col("ct")
                    - F.col("nt").cast("double") / F.col("n")
                )
            ).alias("sum_present"),
            F.sum(F.col("nt").cast("double") / F.col("n")).alias("e_present"),
        )
    )
    return present.select(
        "term",
        F.col("ct").alias("n_occurrences"),
        F.round((F.col("sum_present") + (1.0 - F.col("e_present"))) / 2.0, 4).alias("dp"),
    )


# ---------------------------------------------------------------------------
# Burrows' Delta: the classic stylometric distance between sources
# over the most-frequent-term profile — which sources "write alike"
# (shared boilerplate/template register), upstream of any
# deduplication (cross_source_neardup_matrix finds shared CONTENT;
# Delta finds shared STYLE).
# ---------------------------------------------------------------------------

BD_TOP_TERMS = 20
BD_F_SCALE = 1_000_000  # e6-quantized per-source relative frequencies


def _burrows_oracle() -> str:
    return f"""
WITH toks AS (
  SELECT source, unnest(regexp_extract_all(lower(text), '{WORD_PATTERN}')) AS term
  FROM documents
), src AS (
  SELECT source, CAST(count(*) AS BIGINT) AS nt FROM toks GROUP BY 1
), tc AS (
  SELECT term, source, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY 1, 2
), top AS (
  SELECT term FROM tc GROUP BY term
  ORDER BY sum(c) DESC, term LIMIT {BD_TOP_TERMS}
), fq AS (
  SELECT t.term, s.source,
         CAST(round(CAST(coalesce(tc.c, 0) AS DOUBLE) * {BD_F_SCALE} / s.nt)
              AS BIGINT) AS f
  FROM top t CROSS JOIN src s
  LEFT JOIN tc ON tc.term = t.term AND tc.source = s.source
), mom AS (
  SELECT term, CAST(count(*) AS BIGINT) AS k,
         CAST(sum(f) AS BIGINT) AS s,
         CAST(sum(CAST(f AS DECIMAL(38,0)) * f) AS DECIMAL(38,0)) AS ss
  FROM fq GROUP BY 1
), sd AS (
  SELECT term,
         sqrt((CAST(k AS DOUBLE) * CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s)
              / (CAST(k AS DOUBLE) * k)) AS sigma
  FROM mom
), pairs AS (
  SELECT a.source AS source_a, b.source AS source_b,
         round(sum(abs(a.f - b.f) / sd.sigma) / {BD_TOP_TERMS}, 4) + 0.0 AS delta
  FROM fq a
  JOIN fq b ON a.term = b.term AND a.source < b.source
  JOIN sd ON sd.term = a.term
  GROUP BY 1, 2
)
SELECT * FROM pairs
"""


@query("stylometry_burrows_delta", oracle=_burrows_oracle())
def stylometry_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta between every source pair over the {K}
    most-frequent terms: per-source relative frequencies e6-quantized
    to integers, per-term σ across sources from the exact kΣf² − (Σf)²
    expansion (population form), Δ_ab = mean_t |f_ta − f_tb|/σ_t —
    since z_a − z_b = (f_a − f_b)/σ, the per-term means never enter
    and the numerator stays an exact integer difference.

    Plan: one tokenize pass; the dense (top-k term × source) grid is
    k·|sources| rows; the pair join is over that bounded grid."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(F.expr(f"regexp_extract_all(lower(text), '{WORD_PATTERN}', 0)")).alias(
            "term"
        ),
    )
    tc = toks.groupBy("term", "source").agg(F.count(F.lit(1)).cast("long").alias("c"))
    tc = tc.localCheckpoint(eager=True)
    src = tc.groupBy("source").agg(F.sum("c").cast("long").alias("nt"))
    top = (
        tc.groupBy("term")
        .agg(F.sum("c").cast("long").alias("ct"))
        .orderBy(F.desc("ct"), "term")
        .limit(BD_TOP_TERMS)
        .select("term")
    )
    fq = (
        top.crossJoin(F.broadcast(src))
        .join(tc, ["term", "source"], "left")
        .select(
            "term",
            "source",
            F.round(F.coalesce("c", F.lit(0)).cast("double") * BD_F_SCALE / F.col("nt"))
            .cast("long")
            .alias("f"),
        )
        .localCheckpoint(eager=True)  # k×|sources|; consumed by mom + both pair sides
    )
    mom = fq.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("f").cast("long").alias("s"),
        F.sum(F.col("f").cast("decimal(38,0)") * F.col("f")).cast("decimal(38,0)").alias("ss"),
    )
    kk = F.col("k").cast("double")
    sd = mom.select(
        "term",
        F.sqrt(
            (kk * F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s"))
            / (kk * F.col("k"))
        ).alias("sigma"),
    )
    a = fq.select("term", F.col("source").alias("source_a"), F.col("f").alias("fa"))
    b = fq.select("term", F.col("source").alias("source_b"), F.col("f").alias("fb"))
    return (
        a.join(b, "term")
        .where(F.col("source_a") < F.col("source_b"))
        .join(F.broadcast(sd), "term")
        .groupBy("source_a", "source_b")
        .agg(
            F.round(
                F.sum(F.abs(F.col("fa") - F.col("fb")) / F.col("sigma")) / BD_TOP_TERMS, 4
            ).alias("delta")
        )
    )


stylometry_burrows_delta.__doc__ = (stylometry_burrows_delta.__doc__ or "").format(
    K=BD_TOP_TERMS
)


# ---------------------------------------------------------------------------
# UMass topic coherence per source: do a source's top terms actually
# CO-OCCUR in its documents, or is its vocabulary a grab bag? The
# standard intrinsic coherence score (Mimno et al. 2011) applied with
# each source's top-m document-frequency terms as its "topic" — low
# coherence flags scraped/boilerplate feeds whose frequent terms never
# appear together, the corpus-level smell neither TF-IDF nor
# log-odds surfaces.
# ---------------------------------------------------------------------------

COHERENCE_TOP_M = 10  # terms per source forming the pseudo-topic


@query(
    "topic_coherence_report",
    oracle=f"""
WITH tokd AS (
  SELECT DISTINCT source, doc_id, term FROM (
    SELECT source, doc_id, unnest(regexp_extract_all(lower(text), '{{WORD_PATTERN}}')) AS term
    FROM documents
  )
), df AS (
  SELECT source, term, CAST(count(*) AS BIGINT) AS df FROM tokd GROUP BY 1, 2
), topm AS (
  SELECT source, term, df,
         CAST(row_number() OVER (PARTITION BY source ORDER BY df DESC, term ASC) AS BIGINT) AS rk
  FROM df QUALIFY rk <= {{M}}
), dt AS (
  SELECT t.source, t.term, t.df, t.rk, d.doc_id
  FROM topm t JOIN tokd d ON d.source = t.source AND d.term = t.term
), cooc AS (
  SELECT a.source, a.term AS term_a, b.term AS term_b,
         CAST(count(*) AS BIGINT) AS c_ab
  FROM dt a JOIN dt b ON a.source = b.source AND a.doc_id = b.doc_id AND a.rk < b.rk
  GROUP BY 1, 2, 3
), pairs AS (
  SELECT a.source, a.term AS term_a, a.df AS df_a, b.term AS term_b,
         coalesce(c.c_ab, 0) AS c_ab
  FROM topm a
  JOIN topm b ON a.source = b.source AND a.rk < b.rk
  LEFT JOIN cooc c ON c.source = a.source AND c.term_a = a.term AND c.term_b = b.term
), scored AS (
  SELECT source, round(ln((c_ab + 1.0) / df_a), 6) AS s FROM pairs
), nd AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY source
), terms AS (
  SELECT source, string_agg(term, ',' ORDER BY rk) AS top_terms,
         CAST(count(*) AS BIGINT) AS n_terms
  FROM topm GROUP BY source
)
SELECT n.source, n.n_docs, t.n_terms, t.top_terms,
       round(avg(sc.s), 4) + 0.0 AS coherence
FROM nd n JOIN terms t ON t.source = n.source
JOIN scored sc ON sc.source = n.source
GROUP BY 1, 2, 3, 4
""".format(WORD_PATTERN=WORD_PATTERN, M=COHERENCE_TOP_M),
)
def topic_coherence_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UMass coherence of each source's top-{M} document-frequency
    terms: C = avg over ranked pairs (a more frequent than b) of
    ln((D(a,b) + 1) / D(a)), with D = within-source document
    frequencies. Per-pair scores are rounded to 6 dp before the
    {M}·({M}−1)/2-term average so both engines aggregate identical
    values.

    Scale shape: the corpus is tokenized twice but FULLY shuffled only
    once — the document-frequency branch pays the one corpus-wide
    distinct; the postings branch broadcast-joins the m·sources top-term
    list onto the RAW token stream BEFORE its (tiny, top-m-only)
    distinct, so the second derivation never shuffles the vocabulary.
    The co-occurrence self-join then runs only over top-m postings —
    pair volume is bounded by m² per source plus posting-list sizes,
    never vocabulary²."""
    docs = load_table(spark, sf_dir, "documents")
    raw_toks = widen(spark, docs, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit(WORD_PATTERN), 0)
        ).alias("term"),
    )
    tokd = raw_toks.distinct()
    df = tokd.groupBy("source", "term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    w = Window.partitionBy("source").orderBy(F.col("df").desc(), F.col("term").asc())
    topm = (
        df.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= COHERENCE_TOP_M)
        .localCheckpoint(eager=True)  # m×sources rows, consumed 4 ways
    )
    # filter raw tokens by the broadcast top-m list FIRST, then distinct:
    # the corpus-wide distinct shuffle is paid only in the df branch above.
    dt = (
        raw_toks.join(F.broadcast(topm.select("source", "term", "rk")), ["source", "term"])
        .select("source", "term", "rk", "doc_id")
        .distinct()
    )
    cooc = (
        dt.alias("a")
        .join(
            dt.alias("b"),
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.rk") < F.col("b.rk")),
        )
        .groupBy(
            F.col("a.source").alias("source"),
            F.col("a.term").alias("term_a"),
            F.col("b.term").alias("term_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c_ab"))
    )
    a = topm.select(
        "source", F.col("term").alias("term_a"), F.col("df").alias("df_a"), F.col("rk").alias("rk_a")
    )
    b = topm.select("source", F.col("term").alias("term_b"), F.col("rk").alias("rk_b"))
    pairs = (
        a.join(b, "source")
        .filter(F.col("rk_a") < F.col("rk_b"))
        .join(cooc, ["source", "term_a", "term_b"], "left")
        .select(
            "source",
            F.round(
                F.log((F.coalesce("c_ab", F.lit(0)) + F.lit(1.0)) / F.col("df_a")), 6
            ).alias("s"),
        )
    )
    coh = pairs.groupBy("source").agg(F.round(F.avg("s"), 4).alias("coherence"))
    nd = docs.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    terms = topm.groupBy("source").agg(
        F.concat_ws(",", F.array_sort(F.collect_list(F.struct("rk", "term"))).getField("term")).alias(
            "top_terms"
        ),
        F.count(F.lit(1)).cast("long").alias("n_terms"),
    )
    # all three are sources-bounded — broadcast, no sort-merge exchanges
    return (
        nd.join(F.broadcast(terms), "source")
        .join(F.broadcast(coh), "source")
        .select("source", "n_docs", "n_terms", "top_terms", "coherence")
    )


topic_coherence_report.__doc__ = (topic_coherence_report.__doc__ or "").format(
    M=COHERENCE_TOP_M
)
