"""Rule-based corpus curation: repetition, quality gates, PII, mixing.

The standard pre-training data-quality stack (the public Gopher /
C4-style heuristics) expressed Spark-first:

- ``text_repetition`` — repeated-content signals: distinct-word ratio,
  most-common-word coverage, most-common-bigram character coverage.
  One explode → one (doc, gram) aggregation; tops picked with a
  row_number window over the PRE-REDUCED counts, never the raw tokens.
- ``gopher_quality_filter`` — keep/drop + reason per document from
  scalar rules (word count bounds, mean word length, stopword
  presence). Pure projection: zero shuffles, whole-stage codegen.
- ``pii_scrub`` — regex detect + redact. Digit runs stand in for the
  numeric-identifier class (emails/phones don't occur in this corpus
  but the same regexp_replace plumbing applies); counts + redacted
  payload hash so the oracle proves both engines redact identically.
- ``domain_mix_report`` — per-source document/token counts and corpus
  token share (the mixing-weights input of a training-data pipeline).
  Token share = window total over the tiny per-source aggregate.

Reference parity: extends dwh/quality_report.py's per-column predicate
checks (track_clean_success_rate, reference quality_report.py) to the
document-corpus domain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_jlp_spark.catalog import load_table
from etl_jlp_spark.registry import query

STOPWORDS = ("the", "a", "of", "and", "in")


@query(
    "text_repetition",
    oracle="""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS g,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents
), grams AS (
  SELECT doc_id, 'u' AS t, g FROM toks
  UNION ALL
  SELECT a.doc_id, 'b', a.g || ' ' || b.g
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
), counts AS (
  SELECT doc_id, t, g, CAST(count(*) AS BIGINT) AS cnt
  FROM grams GROUP BY doc_id, t, g
), ranked AS (
  SELECT doc_id, t, g, cnt,
         row_number() OVER (PARTITION BY doc_id, t ORDER BY cnt DESC, g) AS rn
  FROM counts
), tops AS (
  SELECT doc_id,
         min(CASE WHEN t = 'u' THEN g END) AS top_word,
         min(CASE WHEN t = 'u' THEN cnt END) AS top_word_cnt,
         min(CASE WHEN t = 'b' THEN g END) AS top_bigram,
         min(CASE WHEN t = 'b' THEN cnt END) AS top_bigram_cnt
  FROM ranked WHERE rn = 1 GROUP BY doc_id
), ndist AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_distinct
  FROM counts WHERE t = 'u' GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_words,
       round(n.n_distinct * 1.0 / len(string_split(d.text, ' ')), 4) AS distinct_ratio,
       t.top_word,
       round(t.top_word_cnt * 1.0 / len(string_split(d.text, ' ')), 4) AS top_word_frac,
       t.top_bigram,
       round(t.top_bigram_cnt * length(t.top_bigram) * 1.0 / length(d.text), 4)
         AS top_bigram_frac
FROM documents d JOIN tops t ON d.doc_id = t.doc_id
JOIN ndist n ON d.doc_id = n.doc_id
""",
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document (Rae et al. 2021
    §A1.1 heuristics, re-expressed as one gram-count aggregation)."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )
    words = F.split(F.col("text"), " ")
    base = docs.select(
        "doc_id",
        F.col("text"),
        words.alias("w"),
        F.size(words).cast("long").alias("n_words"),
        F.length("text").alias("n_chars"),
    )
    # unigrams and bigrams tagged into ONE array → ONE explode → ONE
    # (doc, t, gram) aggregation; grams never leave their partition
    # before the count reduction.
    tagged = F.concat(
        F.transform(F.col("w"), lambda x: F.struct(F.lit("u").alias("t"), x.alias("g"))),
        F.transform(
            F.slice(F.col("w"), 1, F.size(F.col("w")) - 1),
            lambda x, i: F.struct(
                F.lit("b").alias("t"),
                F.concat_ws(" ", x, F.element_at(F.col("w"), i + 2)).alias("g"),
            ),
        ),
    )
    grams = base.select("doc_id", F.explode(tagged).alias("tg")).select(
        "doc_id", F.col("tg.t").alias("t"), F.col("tg.g").alias("g")
    )
    counts = grams.groupBy("doc_id", "t", "g").agg(F.count(F.lit(1)).alias("cnt"))
    rn = F.row_number().over(
        Window.partitionBy("doc_id", "t").orderBy(F.col("cnt").desc(), F.col("g").asc())
    )
    ranked = counts.withColumn("rn", rn).filter(F.col("rn") == 1)
    tops = ranked.groupBy("doc_id").agg(
        F.min(F.when(F.col("t") == "u", F.col("g"))).alias("top_word"),
        F.min(F.when(F.col("t") == "u", F.col("cnt"))).alias("top_word_cnt"),
        F.min(F.when(F.col("t") == "b", F.col("g"))).alias("top_bigram"),
        F.min(F.when(F.col("t") == "b", F.col("cnt"))).alias("top_bigram_cnt"),
    )
    ndist = (
        counts.filter(F.col("t") == "u")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_distinct"))
    )
    return (
        base.join(tops, "doc_id")
        .join(ndist, "doc_id")
        .select(
            "doc_id",
            "n_words",
            F.round(F.col("n_distinct") / F.col("n_words"), 4).alias("distinct_ratio"),
            "top_word",
            F.round(F.col("top_word_cnt") / F.col("n_words"), 4).alias("top_word_frac"),
            "top_bigram",
            F.round(
                F.col("top_bigram_cnt") * F.length("top_bigram") / F.col("n_chars"), 4
            ).alias("top_bigram_frac"),
        )
    )


def _stop_hits_sql() -> str:
    return " + ".join(
        f"(CASE WHEN contains(' ' || text || ' ', ' {w} ') THEN 1 ELSE 0 END)"
        for w in STOPWORDS
    )


@query(
    "gopher_quality_filter",
    oracle=f"""
WITH sig AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         round(length(replace(text, ' ', '')) * 1.0
               / len(string_split(text, ' ')), 4) AS mean_word_len,
         CAST({_stop_hits_sql()} AS BIGINT) AS n_stop
  FROM documents)
SELECT doc_id, n_words, mean_word_len, n_stop,
       (n_words >= 30 AND n_words <= 10000
        AND mean_word_len >= 2.0 AND mean_word_len <= 8.0
        AND n_stop >= 2) AS keep,
       concat_ws(',',
         CASE WHEN n_words < 30 THEN 'too_short' END,
         CASE WHEN n_words > 10000 THEN 'too_long' END,
         CASE WHEN mean_word_len < 2.0 OR mean_word_len > 8.0
              THEN 'word_len' END,
         CASE WHEN n_stop < 2 THEN 'no_stopwords' END) AS reasons
FROM sig
""",
)
def gopher_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based keep/drop per document (Gopher §A1.1-style gates:
    word-count bounds, mean word length, stopword presence). Pure
    scalar projection — no shuffle, whole-stage codegen end to end."""
    docs = load_table(spark, sf_dir, "documents")
    padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    n_words = F.size(F.split(F.col("text"), " ")).cast("long")
    mean_wl = F.round(
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) / n_words, 4
    )
    n_stop = sum(
        F.when(padded.contains(f" {w} "), 1).otherwise(0) for w in STOPWORDS
    ).cast("long")
    sig = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        n_stop.alias("n_stop"),
    )
    keep = (
        (F.col("n_words") >= 30)
        & (F.col("n_words") <= 10000)
        & (F.col("mean_word_len") >= 2.0)
        & (F.col("mean_word_len") <= 8.0)
        & (F.col("n_stop") >= 2)
    )
    return sig.select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "n_stop",
        keep.alias("keep"),
        F.concat_ws(
            ",",
            F.when(F.col("n_words") < 30, "too_short"),
            F.when(F.col("n_words") > 10000, "too_long"),
            F.when(
                (F.col("mean_word_len") < 2.0) | (F.col("mean_word_len") > 8.0), "word_len"
            ),
            F.when(F.col("n_stop") < 2, "no_stopwords"),
        ).alias("reasons"),
    )


@query(
    "pii_scrub",
    oracle="""
SELECT event_id,
       CAST(len(regexp_extract_all(props, '[0-9]+')) AS BIGINT) AS n_digit_runs,
       CAST(CASE WHEN regexp_matches(props,
            '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}') THEN 1 ELSE 0 END
            AS BIGINT) AS has_email,
       md5(regexp_replace(props, '[0-9]+', '<NUM>', 'g')) AS redacted_md5
FROM events
""",
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex PII pass over the event payload: count numeric-identifier
    runs, flag emails, and hash the redacted payload (both engines
    must redact byte-identically for the hash to match). At 100 TB
    this is the same zero-shuffle projection."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "props")
    return ev.select(
        "event_id",
        F.regexp_count("props", F.lit("[0-9]+")).cast("long").alias("n_digit_runs"),
        F.when(
            F.col("props").rlike("[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"), 1
        )
        .otherwise(0)
        .cast("long")
        .alias("has_email"),
        F.md5(F.regexp_replace("props", "[0-9]+", "<NUM>").cast("binary")).alias(
            "redacted_md5"
        ),
    )


@query(
    "domain_mix_report",
    oracle="""
WITH per_src AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source)
SELECT source, n_docs, n_tokens,
       round(n_tokens * 1.0 / sum(n_tokens) OVER (), 4) AS token_share
FROM per_src
""",
)
def domain_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source doc/token counts and corpus token share — the
    mixing-weights table of a pre-training pipeline. One map-side
    partial agg; the share window runs over #sources rows."""
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " "))).cast("long").alias("n_tokens"),
    )
    total = F.sum("n_tokens").over(Window.partitionBy())
    return per_src.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens") / total, 4).alias("token_share"),
    )


@query(
    "source_keep_rate",
    oracle=f"""
WITH sig AS (
  SELECT source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         round(length(replace(text, ' ', '')) * 1.0
               / len(string_split(text, ' ')), 4) AS mean_word_len,
         CAST({_stop_hits_sql()} AS BIGINT) AS n_stop
  FROM documents)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN n_words >= 30 AND n_words <= 10000
                      AND mean_word_len >= 2.0 AND mean_word_len <= 8.0
                      AND n_stop >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       round(sum(CASE WHEN n_words >= 30 AND n_words <= 10000
                      AND mean_word_len >= 2.0 AND mean_word_len <= 8.0
                      AND n_stop >= 2 THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
         AS keep_rate
FROM sig GROUP BY source
""",
)
def source_keep_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation dashboard: per-source document counts and the fraction
    surviving the gopher gates — the number that tells you which
    crawl/source to drop before spending dedup compute on it. Same
    scalar rules as gopher_quality_filter, reduced map-side to one
    row per source."""
    docs = load_table(spark, sf_dir, "documents")
    padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    n_words = F.size(F.split(F.col("text"), " ")).cast("long")
    mean_wl = F.round(
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) / n_words, 4
    )
    n_stop = sum(
        F.when(padded.contains(f" {w} "), 1).otherwise(0) for w in STOPWORDS
    ).cast("long")
    keep = (
        (n_words >= 30)
        & (n_words <= 10000)
        & (mean_wl >= 2.0)
        & (mean_wl <= 8.0)
        & (n_stop >= 2)
    ).cast("int")
    return (
        docs.select("source", keep.alias("k"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("k").cast("long").alias("n_keep"),
            F.round(F.sum("k") / F.count(F.lit(1)), 4).alias("keep_rate"),
        )
    )


# per-source percentile gate: drop each source's bottom GATE_P quantile
GATE_P = 0.3


def _gate_oracle() -> str:
    """Reuses text_quality_score's oracle verbatim as the score CTE, so
    the two queries can never drift apart."""
    # import registers the score oracle (this module loads first
    # alphabetically, so the registry doesn't have it yet)
    from etl_jlp_spark.operators import textstats  # noqa: F401
    from etl_jlp_spark.registry import ORACLES

    score_sql = ORACLES["text_quality_score"].strip().rstrip(";")
    return f"""
WITH s AS (
  SELECT q.doc_id, q.quality_score, d.source
  FROM ({score_sql}) q JOIN documents d ON q.doc_id = d.doc_id
), thr AS (
  SELECT source,
         round(quantile_cont(quality_score, {GATE_P}), 4) AS threshold,
         CAST(count(*) AS BIGINT) AS n_docs
  FROM s GROUP BY source
)
SELECT t.source, t.threshold, t.n_docs,
       CAST(sum(CASE WHEN s.quality_score >= t.threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       round(sum(CASE WHEN s.quality_score >= t.threshold THEN 1 ELSE 0 END) * 1.0
             / t.n_docs, 4) AS keep_rate
FROM s JOIN thr t ON s.source = t.source
GROUP BY t.source, t.threshold, t.n_docs
"""


@query("quality_percentile_gate", oracle=_gate_oracle())
def quality_percentile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality-percentile curation (the FineWeb-style gate:
    each source drops its own bottom quantile rather than sharing one
    global threshold, so a clean source isn't starved by a noisy one).
    Reuses `text_quality_score` for the per-doc score (rounded to 4dp
    in BOTH engines — threshold comparisons are float-safe), computes
    each source's exact interpolated ``GATE_P``-quantile (Spark
    `percentile` ≡ DuckDB quantile_cont; `approx_percentile` is the
    documented 100 TB swap-in, as in percentile_stats), broadcasts the
    #sources-row threshold table back, and reports the keep decision
    per source. Output is source-cardinality-sized."""
    from etl_jlp_spark.operators.textstats import text_quality_score

    scores = text_quality_score(spark, sf_dir).select("doc_id", "quality_score")
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    s = scores.join(src, "doc_id")
    thr = s.groupBy("source").agg(
        F.round(F.expr(f"percentile(quality_score, {GATE_P})"), 4).alias("threshold"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )
    kept = F.sum(
        F.when(F.col("quality_score") >= F.col("threshold"), 1).otherwise(0)
    ).cast("long")
    return (
        s.join(F.broadcast(thr), "source")
        .groupBy("source", "threshold", "n_docs")
        .agg(
            kept.alias("n_kept"),
            F.round(kept * 1.0 / F.col("n_docs"), 4).alias("keep_rate"),
        )
    )


ISO_EPS = 1e-6  # rank-tail clamp so the extreme rank stays finite
ISO_THRESHOLD = 9.0  # ~2 features simultaneously in their 1% tails


@query(
    "quality_isolation_outliers",
    oracle=f"""
WITH feats AS (
  SELECT doc_id,
         CAST(n_chars AS DOUBLE) AS f_chars,
         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE) AS f_words,
         CAST(n_chars AS DOUBLE)
           / len(regexp_split_to_array(trim(text), '\\s+')) AS f_wlen
  FROM documents WHERE length(trim(text)) > 0
), ranked AS (
  SELECT doc_id,
         percent_rank() OVER (ORDER BY f_chars, doc_id) AS p1,
         percent_rank() OVER (ORDER BY f_words, doc_id) AS p2,
         percent_rank() OVER (ORDER BY f_wlen, doc_id) AS p3
  FROM feats
)
SELECT doc_id,
       round(-(ln(2 * least(p1, 1 - p1) + {ISO_EPS})
             + ln(2 * least(p2, 1 - p2) + {ISO_EPS})
             + ln(2 * least(p3, 1 - p3) + {ISO_EPS})), 4) AS iso_score,
       -(ln(2 * least(p1, 1 - p1) + {ISO_EPS})
         + ln(2 * least(p2, 1 - p2) + {ISO_EPS})
         + ln(2 * least(p3, 1 - p3) + {ISO_EPS})) >= {ISO_THRESHOLD} AS is_outlier
FROM ranked
""",
)
def quality_isolation_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-isolation outlier score — the model-free cousin of an
    isolation forest: a document is anomalous when it sits in the TAIL
    of several feature distributions at once. Per feature (length,
    word count, mean word length) the two-sided tail mass is
    2·min(p, 1-p) of the doc_id-tiebroken percent_rank; the score sums
    -ln tail masses (independent-feature surprise, in nats), and
    {thr}+ nats — roughly two simultaneous 1% tails — flags the doc.
    Rank-based, so it needs no distributional assumptions and both
    engines agree exactly (ranks are integers; ln differs below the
    4-decimal round).

    Scale note: exact global percent_rank is a single-partition sort —
    fine for the registered exact form, and the documented 100 TB swap
    is per-feature approx_percentile cut tables broadcast back (the
    quality_percentile_gate pattern); the score algebra is unchanged."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    feats = docs.select(
        "doc_id",
        F.col("n_chars").cast("double").alias("f_chars"),
        F.size(F.split(F.trim("text"), r"\s+")).cast("double").alias("f_words"),
        (
            F.col("n_chars").cast("double")
            / F.size(F.split(F.trim("text"), r"\s+"))
        ).alias("f_wlen"),
    )
    ps = []
    ranked = feats
    for i, c in enumerate(("f_chars", "f_words", "f_wlen"), start=1):
        ranked = ranked.withColumn(
            f"p{i}", F.percent_rank().over(Window.orderBy(c, "doc_id"))
        )
        ps.append(F.col(f"p{i}"))
    surprise = None
    for p in ps:
        term = -F.log(F.lit(2.0) * F.least(p, F.lit(1.0) - p) + F.lit(ISO_EPS))
        surprise = term if surprise is None else surprise + term
    return ranked.select(
        "doc_id",
        F.round(surprise, 4).alias("iso_score"),
        (surprise >= ISO_THRESHOLD).alias("is_outlier"),
    )


quality_isolation_outliers.__doc__ = (quality_isolation_outliers.__doc__ or "").format(
    thr=ISO_THRESHOLD
)


# ---------------------------------------------------------------------------
# Score-vs-rules agreement: the PR curve of the continuous quality
# score against the rule-based gopher verdict. Before replacing a
# hand-tuned rule filter with a scored threshold (or vice versa), this
# is the report that says WHERE the two disagree and what threshold
# recovers the rules' keep set — standard filter-migration diligence
# in crawl pipelines.
# ---------------------------------------------------------------------------

PR_THRESHOLDS = [round(0.1 * i, 1) for i in range(1, 10)]


def _pr_oracle() -> str:
    from etl_jlp_spark.registry import ORACLES

    score_sql = ORACLES["text_quality_score"]
    gopher_sql = ORACLES["gopher_quality_filter"]
    ths = ", ".join(f"({t})" for t in PR_THRESHOLDS)
    return f"""
WITH score AS ({score_sql}),
gopher AS ({gopher_sql}),
joined AS (
  SELECT s.doc_id, s.quality_score, g.keep
  FROM score s JOIN gopher g ON s.doc_id = g.doc_id
), th AS (
  SELECT CAST(t.threshold AS DOUBLE) AS threshold
  FROM (VALUES {ths}) t(threshold)
),
cells AS (
  SELECT t.threshold,
         CAST(count(*) FILTER (WHERE j.quality_score >= t.threshold) AS BIGINT) AS n_pred,
         CAST(count(*) FILTER (WHERE j.quality_score >= t.threshold AND j.keep) AS BIGINT) AS tp,
         CAST(count(*) FILTER (WHERE j.keep) AS BIGINT) AS n_keep,
         CAST(count(*) AS BIGINT) AS n_docs
  FROM th t CROSS JOIN joined j GROUP BY t.threshold
)
SELECT threshold, n_pred, tp, n_keep,
       round(tp / CAST(nullif(n_pred, 0) AS DOUBLE), 4) AS precision,
       round(tp / CAST(nullif(n_keep, 0) AS DOUBLE), 4) AS recall,
       round(2.0 * tp / nullif(n_pred + n_keep, 0), 4) AS f1
FROM cells
"""


@query("quality_score_pr_curve", oracle=_pr_oracle())
def quality_score_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall/F1 of thresholding ``text_quality_score``
    against the ``gopher_quality_filter`` keep verdict, swept over
    thresholds 0.1..0.9 — the migration report for swapping a rule
    filter and a scored filter (F1 = 2·tp/(pred+keep), algebraically
    the harmonic PR mean, computed from exact counts).

    Plan: both per-doc relations come from single passes (the score's
    tokenize agg, the filter's zero-shuffle projection), joined once on
    doc_id; the 9-threshold sweep is a broadcast-range cross join
    reduced by conditional counts, so the fact table is NOT re-scanned
    per threshold. Oracle embeds both constituent oracles verbatim —
    the three queries can never drift apart."""
    from etl_jlp_spark.operators.textstats import text_quality_score

    score = text_quality_score(spark, sf_dir).select("doc_id", "quality_score")
    keep = gopher_quality_filter(spark, sf_dir).select("doc_id", "keep")
    joined = score.join(keep, "doc_id")
    th = spark.createDataFrame([(t,) for t in PR_THRESHOLDS], "threshold double")
    cells = (
        F.broadcast(th)
        .crossJoin(joined)
        .groupBy("threshold")
        .agg(
            F.sum(F.when(F.col("quality_score") >= F.col("threshold"), 1).otherwise(0))
            .cast("long")
            .alias("n_pred"),
            F.sum(
                F.when(
                    (F.col("quality_score") >= F.col("threshold")) & F.col("keep"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("tp"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("long").alias("n_keep"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
        )
    )
    return cells.select(
        "threshold",
        "n_pred",
        "tp",
        "n_keep",
        F.round(F.col("tp") / F.nullif(F.col("n_pred"), F.lit(0)).cast("double"), 4).alias(
            "precision"
        ),
        F.round(F.col("tp") / F.nullif(F.col("n_keep"), F.lit(0)).cast("double"), 4).alias(
            "recall"
        ),
        F.round(
            2.0 * F.col("tp") / F.nullif(F.col("n_pred") + F.col("n_keep"), F.lit(0)), 4
        ).alias("f1"),
    )


# ---------------------------------------------------------------------------
# Code-vs-prose composition — the training-mix axis langid can't see.
# ---------------------------------------------------------------------------

CODE_SYM_PATTERN = r"[{}()\[\];=<>#|\\]"  # code-ish punctuation classes
CODE_SYM_TAU = 0.02  # symbol density above which a doc reads as code-like


@query(
    "code_prose_ratio",
    oracle=f"""
WITH per_doc AS (
  SELECT source,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(len(regexp_extract_all(text, '[{{}}()\\[\\];=<>#|\\\\]')) AS BIGINT)
           AS n_sym,
         CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digit
  FROM documents WHERE length(text) > 0
), scored AS (
  SELECT source, n_chars, n_sym, n_digit,
         CAST(n_sym * 1.0 / n_chars > {CODE_SYM_TAU} AS INTEGER) AS code_like
  FROM per_doc
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(code_like) AS BIGINT) AS n_code_like,
       round(sum(code_like) * 1.0 / count(*), 4) + 0.0 AS code_rate,
       round(sum(n_sym) * 1.0 / sum(n_chars), 6) + 0.0 AS sym_density,
       round(sum(n_digit) * 1.0 / sum(n_chars), 6) + 0.0 AS digit_density
FROM scored GROUP BY source
""",
)
def code_prose_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source code-vs-prose composition: documents whose code-ish
    symbol density ({{}}()[];=<>#|\\ per char) exceeds {tau} are flagged
    code-like, and each source reports its code rate plus corpus-level
    symbol/digit densities — the mix axis a language-balanced training
    recipe still has to control (langid reads code as its comment
    language; this reads the syntax). A crawl source whose code_rate
    drifts is the classic silent-mix-shift incident.

    Plan: one narrow projection (two regexp_extract_all counts — array
    expressions in whole-stage codegen, no explode) and one combinable
    groupBy(source) agg; output ∝ |sources|."""
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    per_doc = docs.select(
        "source",
        F.length("text").cast("long").alias("n_chars"),
        F.size(F.regexp_extract_all("text", F.lit(CODE_SYM_PATTERN), 0))
        .cast("long")
        .alias("n_sym"),
        F.size(F.regexp_extract_all("text", F.lit("[0-9]"), 0))
        .cast("long")
        .alias("n_digit"),
    )
    scored = per_doc.withColumn(
        "code_like",
        (F.col("n_sym") * 1.0 / F.col("n_chars") > CODE_SYM_TAU).cast("integer"),
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("code_like").cast("long").alias("n_code_like"),
        (F.round(F.sum("code_like") * 1.0 / F.count(F.lit(1)), 4) + 0.0).alias("code_rate"),
        (F.round(F.sum("n_sym") * 1.0 / F.sum("n_chars"), 6) + 0.0).alias("sym_density"),
        (F.round(F.sum("n_digit") * 1.0 / F.sum("n_chars"), 6) + 0.0).alias(
            "digit_density"
        ),
    )


code_prose_ratio.__doc__ = (code_prose_ratio.__doc__ or "").format(tau=CODE_SYM_TAU)
