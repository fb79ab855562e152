"""Training-data curation flagship: the full document-curation pass as
ONE composed plan — quality scoring → language ID → exact dedup →
fingerprinting → filter.

This is the canonical 100 TB pre-training data pipeline shape: every
per-doc signal (quality, language, fingerprint) is a narrow projection
fused by Catalyst into the same scan; the only shuffle is the dedup
hash-group. Output = the curated corpus manifest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_jlp_spark.catalog import load_table
from etl_jlp_spark.functions.text import LANG_MARKERS, STOPWORDS, sql_stopword_list
from etl_jlp_spark.operators.textstats import (
    FINGERPRINT_K,
    FINGERPRINT_STRIDE,
    _LANGID_CASE_SQL,
    _LANGID_HITS_SQL,
)
from etl_jlp_spark.registry import query

MIN_QUALITY = 0.5  # curation threshold on the composite quality score


@query(
    "curate_documents",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
  FROM documents WHERE length(trim(text)) > 0
), per_doc AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(CASE WHEN tok IN {sql_stopword_list()} THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
  FROM toks GROUP BY doc_id
), scored AS (
  SELECT d.doc_id, d.text,
         round(0.5 * (length(regexp_replace(d.text, '[^a-zA-Z]', '', 'g')) * 1.0 / length(d.text))
             + 0.3 * least(p.n_stop * 1.0 / p.n_tokens, 0.5) / 0.5
             + 0.2 * least(p.n_tokens, 100) / 100.0, 4) AS quality_score
  FROM documents d JOIN per_doc p ON d.doc_id = p.doc_id
), langs AS (
  SELECT doc_id,
       {_LANGID_HITS_SQL.replace("FROM documents", "FROM documents")}
  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents)
), deduped AS (
  SELECT doc_id, md5(lower(trim(text))) AS text_hash,
         row_number() OVER (PARTITION BY md5(lower(trim(text))) ORDER BY doc_id) AS rn
  FROM documents
), fp AS (
  SELECT doc_id, min(md5(substr(t, CAST(i AS INTEGER), {FINGERPRINT_K}))) AS fingerprint
  FROM (
    SELECT doc_id, lower(text) AS t,
           unnest(range(1, greatest(length(text) - {FINGERPRINT_K} + 1, 1) + 1, {FINGERPRINT_STRIDE})) AS i
    FROM documents
  ) GROUP BY doc_id
)
SELECT s.doc_id,
       s.quality_score,
       {_LANGID_CASE_SQL} AS lang_pred,
       dd.text_hash,
       f.fingerprint
FROM scored s
JOIN langs l ON s.doc_id = l.doc_id
JOIN deduped dd ON s.doc_id = dd.doc_id
JOIN fp f ON s.doc_id = f.doc_id
WHERE s.quality_score >= {MIN_QUALITY} AND dd.rn = 1
""",
)
def curate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.length(F.trim("text")) > 0)
        .repartition("doc_id")
    )

    # quality score (one explode-agg, same definition as text_quality_score)
    toks = docs.select("doc_id", F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("tok"))
    per_doc = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("tok").isin(*STOPWORDS), 1).otherwise(0)).cast("long").alias("n_stop"),
    )
    alpha_ratio = F.length(F.regexp_replace("text", "[^a-zA-Z]", "")) * 1.0 / F.length("text")
    stop_ratio = F.col("n_stop") * 1.0 / F.col("n_tokens")
    quality = F.round(
        0.5 * alpha_ratio
        + 0.3 * F.least(stop_ratio, F.lit(0.5)) / 0.5
        + 0.2 * F.least(F.col("n_tokens"), F.lit(100)) / 100.0,
        4,
    )

    # language ID (zero-shuffle array expressions, same as text_langid)
    langs = sorted(LANG_MARKERS)
    lang_hits = [
        F.expr(
            "size(filter(split(trim(lower(text)), '\\\\s+'), t -> t IN ("
            + ",".join(f"'{w}'" for w in LANG_MARKERS[lang])
            + ")))"
        ).alias(f"h_{lang}")
        for lang in langs
    ]
    pred = None
    for i, lang in enumerate(langs):
        cond = F.col(f"h_{lang}") > 0
        for other in langs[i + 1 :]:
            cond = cond & (F.col(f"h_{lang}") >= F.col(f"h_{other}"))
        pred = F.when(cond, lang) if pred is None else pred.when(cond, lang)
    pred = pred.otherwise("unknown")

    # fingerprint (zero-shuffle array expression, same as doc_fingerprint)
    fingerprint = F.expr(
        f"array_min(transform(sequence(1, greatest(length(text) - {FINGERPRINT_K - 1}, 1), "
        f"{FINGERPRINT_STRIDE}), i -> md5(substr(lower(text), i, {FINGERPRINT_K}))))"
    )

    enriched = (
        docs.join(per_doc, "doc_id")
        .select(
            "doc_id",
            "text",
            quality.alias("quality_score"),
            *lang_hits,
            F.md5(F.lower(F.trim("text"))).alias("text_hash"),
            fingerprint.alias("fingerprint"),
        )
    )
    w = Window.partitionBy("text_hash").orderBy("doc_id")
    return (
        enriched.withColumn("rn", F.row_number().over(w))
        .filter((F.col("quality_score") >= MIN_QUALITY) & (F.col("rn") == 1))
        .select("doc_id", "quality_score", pred.alias("lang_pred"), "text_hash", "fingerprint")
    )


# ---------------------------------------------------------------------------
# Flagship 2: the full LLM training-data preparation pass
# ---------------------------------------------------------------------------

from etl_jlp_spark.operators.quality_rules import _stop_hits_sql  # noqa: E402
from etl_jlp_spark.operators.similarity import (  # noqa: E402
    _SHINGLES_CTE,
    DECON_BENCH_HEX,
    DECON_MIN_SHARED,
    _word_shingles,
    bench_shingle_set,
)


@query(
    "training_data_pipeline",
    oracle=f"""
WITH {_SHINGLES_CTE},
bench AS (
  SELECT DISTINCT sh FROM shingles
  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{DECON_BENCH_HEX}'
), corpus0 AS (
  SELECT doc_id, text, source FROM documents
  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) >= '{DECON_BENCH_HEX}'
    AND length(trim(text)) > 0
), gated AS (
  SELECT doc_id, text, source, n_words FROM (
    SELECT doc_id, text, source,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
           round(length(replace(text, ' ', '')) * 1.0
                 / len(string_split(text, ' ')), 4) AS mwl,
           CAST({_stop_hits_sql()} AS BIGINT) AS n_stop
    FROM corpus0)
  WHERE n_words >= 30 AND n_words <= 10000
    AND mwl >= 2.0 AND mwl <= 8.0 AND n_stop >= 2
), contaminated AS (
  SELECT s.doc_id FROM shingles s JOIN bench b ON s.sh = b.sh
  GROUP BY s.doc_id HAVING count(*) >= {DECON_MIN_SHARED}
), surviving AS (
  SELECT g.doc_id, g.source, g.n_words,
         row_number() OVER (PARTITION BY md5(lower(trim(g.text)))
                            ORDER BY g.doc_id) AS rn
  FROM gated g LEFT JOIN contaminated x ON g.doc_id = x.doc_id
  WHERE x.doc_id IS NULL
)
SELECT doc_id, source,
       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'train'
            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'f3' THEN 'val'
            ELSE 'test' END AS split,
       n_words
FROM surviving WHERE rn = 1
""",
)
def training_data_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship 2 — the complete LLM training-data preparation pass as
    ONE composed plan: Gopher quality gate → benchmark decontamination
    → exact dedup → train/val/test split. The output is the training
    manifest (doc, source, split, length).

    100 TB shape, stage by stage: the quality gate is a zero-shuffle
    projection fused into the scan; decontamination joins the gated
    corpus against a BROADCAST benchmark shingle set (bounded by eval
    size) and anti-joins the ≥``DECON_MIN_SHARED``-shared hits;
    exact dedup is the single hash-partitioned window; the split is an
    md5-threshold projection. One broadcast + two hash exchanges total,
    independent of corpus size; every gate drops rows BEFORE the next
    stage pays for them."""
    docs = load_table(spark, sf_dir, "documents")
    is_bench = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < DECON_BENCH_HEX
    corpus = docs.filter(~is_bench & (F.length(F.trim("text")) > 0)).repartition("doc_id")

    # Gopher gate (same rules as gopher_quality_filter): pure projection
    padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    n_words = F.size(F.split(F.col("text"), " ")).cast("long")
    mean_wl = F.round(F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) / n_words, 4)
    n_stop = sum(
        F.when(padded.contains(f" {w} "), 1).otherwise(0) for w in STOPWORDS
    ).cast("long")
    gated = (
        corpus.select(
            "doc_id", "text", "source",
            n_words.alias("n_words"), mean_wl.alias("mwl"), n_stop.alias("n_stop"),
        )
        .filter(
            (F.col("n_words") >= 30) & (F.col("n_words") <= 10000)
            & (F.col("mwl") >= 2.0) & (F.col("mwl") <= 8.0) & (F.col("n_stop") >= 2)
        )
        .drop("mwl", "n_stop")
    )

    # decontamination: broadcast bench shingles, anti-join contaminated
    contaminated = (
        _word_shingles(gated.select("doc_id", "text"))
        .join(F.broadcast(bench_shingle_set(docs)), "sh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= DECON_MIN_SHARED)
        .select("doc_id")
    )
    clean = gated.join(contaminated, "doc_id", "left_anti")

    # exact dedup: first doc per normalized-text digest
    w = Window.partitionBy(F.md5(F.lower(F.trim("text")))).orderBy("doc_id")
    deduped = clean.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)

    # deterministic split assignment (same thresholds as dataset_split)
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = F.when(h < "e6", "train").when(h < "f3", "val").otherwise("test")
    return deduped.select("doc_id", "source", split.alias("split"), "n_words")


from etl_jlp_spark.operators.ir import (  # noqa: E402
    LM_ALPHA,
    LM_TRAIN_PREFIX,
    TFIDF_TOP_K,
    WORD_PATTERN,
    _with_df,
    _words,
    score_docs_with_lm,
    train_unigram_lm,
)

_CIP_QUANT = """
SELECT vec_id,
       round(CASE WHEN list_max(list_transform(v, x -> abs(x))) = 0 THEN 1.0
             ELSE list_max(list_transform(v, x -> abs(x))) / 127.0 END, 6) AS emb_scale
FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
"""


@query(
    "corpus_index_pipeline",
    oracle=f"""
WITH base AS (
  SELECT doc_id, text, source FROM documents WHERE length(trim(text)) > 0
), dd AS (
  SELECT *, row_number() OVER (PARTITION BY md5(lower(trim(text)))
                               ORDER BY doc_id) AS rn
  FROM base
), corpus AS (
  SELECT doc_id, text, source FROM dd WHERE rn = 1
), toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '{WORD_PATTERN}')) AS term
  FROM corpus
), train AS (
  SELECT term, CAST(count(*) AS DOUBLE) AS cnt
  FROM toks WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{LM_TRAIN_PREFIX}'
  GROUP BY term
), lstats AS (
  SELECT sum(cnt) AS total, CAST(count(*) AS DOUBLE) AS vocab FROM train
), lm AS (
  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         avg(ln((coalesce(tr.cnt, 0) + {LM_ALPHA})
                / (lstats.total + {LM_ALPHA} * (lstats.vocab + 1)))) AS lp
  FROM toks t LEFT JOIN train tr USING (term) CROSS JOIN lstats
  GROUP BY t.doc_id
), tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY doc_id, term
), dfreq AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
), n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM corpus),
ranked AS (
  SELECT tf.doc_id, tf.term,
         row_number() OVER (PARTITION BY tf.doc_id
             ORDER BY round(tf.tf * (ln((1.0 + n.n_docs) / (1.0 + dfreq.df)) + 1.0), 4) DESC,
                      tf.term) AS rk
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
), topt AS (SELECT doc_id, term AS top_term FROM ranked WHERE rk = 1),
quant AS ({_CIP_QUANT})
SELECT c.doc_id, c.source, l.n_tokens,
       round(l.lp, 4) AS avg_logprob, round(exp(-l.lp), 4) AS ppl,
       t.top_term, q.emb_scale,
       CASE WHEN substr(md5(CAST(c.doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'train'
            WHEN substr(md5(CAST(c.doc_id AS VARCHAR)), 1, 2) < 'f3' THEN 'val'
            ELSE 'test' END AS split
FROM corpus c
JOIN lm l USING (doc_id)
JOIN topt t USING (doc_id)
JOIN quant q ON c.doc_id = q.vec_id
""",
)
def corpus_index_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship 3 — the index-build pass that follows curation: exact
    dedup → unigram-LM quality scoring → per-doc TF-IDF topic key →
    embedding-quantization storage metadata → split assignment, as ONE
    composed plan producing the serving/training manifest (what a
    search or training job reads instead of raw text).

    100 TB shape: dedup is the single hash-partitioned window; the LM
    is trained on a deterministic md5-prefix slice of the DEDUPED
    corpus and joins back as a vocabulary-sized broadcast; the TF-IDF
    topic key reuses the same tokenized relation (df as a window count
    — no second tokenize); embedding scales are a zero-shuffle
    projection joined on the aligned vec_id; the split is a pure
    projection. Every stage drops rows before the next pays for them."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(F.length(F.trim("text")) > 0)
    w = Window.partitionBy(F.md5(F.lower(F.trim("text")))).orderBy("doc_id")
    corpus = (
        base.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "text", "source")
    )

    train, lstats = train_unigram_lm(corpus)
    lm = score_docs_with_lm(corpus, train, lstats)  # doc_id, n_tokens, avg_logprob, ppl

    tf = _words(corpus).groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    n_docs = corpus.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    # df via groupBy + term-keyed join, not a window over the Zipf-skewed
    # term key (see ir._with_df — r4 verdict finding #2)
    scored = (
        _with_df(tf)
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf") * (F.log((1.0 + F.col("n_docs")) / (1.0 + F.col("df"))) + 1.0), 4
            ),
        )
    )
    wt = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    topt = (
        scored.withColumn("rk", F.row_number().over(wt))
        .filter(F.col("rk") == 1)
        .select("doc_id", F.col("term").alias("top_term"))
    )

    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    m = F.array_max(F.transform(v, lambda x: F.abs(x)))
    quant = emb.select(
        F.col("vec_id").alias("doc_id"),
        F.round(F.when(m == 0.0, F.lit(1.0)).otherwise(m / 127.0), 6).alias("emb_scale"),
    )

    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = F.when(h < "e6", "train").when(h < "f3", "val").otherwise("test")
    return (
        corpus.select("doc_id", "source")
        .join(lm, "doc_id")
        .join(topt, "doc_id")
        .join(quant, "doc_id")
        .select(
            "doc_id", "source", "n_tokens", "avg_logprob", "ppl",
            "top_term", "emb_scale", split.alias("split"),
        )
    )


# ---------------------------------------------------------------------------
# Cross-split leakage audit (round 6)
# ---------------------------------------------------------------------------

from etl_jlp_spark.operators.sampling import split_case_sql, split_expr  # noqa: E402
from etl_jlp_spark.operators.similarity import (  # noqa: E402
    _MINHASH_PAIRS_CTES,
    MINHASH_TAU,
    _jaccard_on_candidates,
    _minhash_bands,
)


@query(
    "split_leakage_check",
    oracle=_MINHASH_PAIRS_CTES + f"""
SELECT doc_a, doc_b,
       {split_case_sql("doc_a")} AS split_a,
       {split_case_sql("doc_b")} AS split_b,
       jaccard
FROM pairs
WHERE {split_case_sql("doc_a")} <> {split_case_sql("doc_b")}
""",
)
def split_leakage_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evaluation-integrity audit: near-duplicate pairs (the verified
    MinHash-LSH pairs `dedup_minhash_lsh` finds, Jaccard ≥ 0.5) that
    STRADDLE train/val/test — a val/test document with a near-copy in
    train silently inflates eval scores, so this must be EMPTY (or
    explicitly adjudicated) before a split ships. Builds on the shared
    `split_expr` definition (thresholds can't drift from
    `dataset_split`) and the shared `_MINHASH_PAIRS_CTES` oracle text
    (pair semantics can't drift from the dedup operator).

    Scale shape: identical to `dedup_minhash_lsh` — banded equi-join
    candidates + exact verification on a persisted shingle relation;
    the split labels are md5 projections added AFTER the pair pipeline
    (zero extra joins or shuffles — the label derives from the doc_id
    already on the pair row)."""
    docs = load_table(spark, sf_dir, "documents")
    shingles = _word_shingles(docs).persist()
    band_df = _minhash_bands(shingles)
    a, b = band_df.alias("a"), band_df.alias("b")
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
    pairs = _jaccard_on_candidates(shingles, cand, MINHASH_TAU)
    out = pairs.select(
        "doc_a",
        "doc_b",
        split_expr(F.col("doc_a")).alias("split_a"),
        split_expr(F.col("doc_b")).alias("split_b"),
        "jaccard",
    )
    return out.filter(F.col("split_a") != F.col("split_b"))


# ---------------------------------------------------------------------------
# Dataset card: the one-table corpus summary (size, composition,
# duplication, quality spread) that ships next to a training dataset.
# ---------------------------------------------------------------------------

_CARD_TOKENS = "len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\\s]'))"


@query(
    "dataset_card_report",
    oracle=f"""
WITH scalars AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         CAST(count(DISTINCT source) AS DOUBLE) AS n_sources,
         CAST(count(DISTINCT lang) AS DOUBLE) AS n_langs,
         CAST(sum(length(text)) AS DOUBLE) AS total_chars,
         CAST(sum({_CARD_TOKENS}) AS DOUBLE) AS total_tokens,
         1.0 - CAST(count(DISTINCT md5(text)) AS DOUBLE) / count(*) AS dup_rate,
         avg(CASE WHEN length(trim(text)) = 0 THEN 1.0 ELSE 0.0 END) AS empty_rate,
         quantile_cont(CAST({_CARD_TOKENS} AS DOUBLE), 0.5) AS tokens_p50,
         quantile_cont(CAST({_CARD_TOKENS} AS DOUBLE), 0.9) AS tokens_p90
  FROM documents
)
SELECT metric, round(value, 4) AS value FROM (
  SELECT 'n_docs' AS metric, n_docs AS value FROM scalars
  UNION ALL SELECT 'n_sources', n_sources FROM scalars
  UNION ALL SELECT 'n_langs', n_langs FROM scalars
  UNION ALL SELECT 'total_chars', total_chars FROM scalars
  UNION ALL SELECT 'total_bpe_tokens', total_tokens FROM scalars
  UNION ALL SELECT 'exact_dup_rate', dup_rate FROM scalars
  UNION ALL SELECT 'empty_doc_rate', empty_rate FROM scalars
  UNION ALL SELECT 'tokens_p50', tokens_p50 FROM scalars
  UNION ALL SELECT 'tokens_p90', tokens_p90 FROM scalars
  UNION ALL
  SELECT 'lang_share:' || lang, CAST(count(*) AS DOUBLE) / sum(count(*)) OVER ()
  FROM documents GROUP BY lang
  UNION ALL
  SELECT 'source_share:' || source, CAST(count(*) AS DOUBLE) / sum(count(*)) OVER ()
  FROM documents GROUP BY source
)
""",
)
def dataset_card_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-format dataset card: corpus size, token mass, exact-dup
    rate, empty rate, token-count quantiles, and the lang/source
    composition — the summary table a dataset release publishes and a
    drift monitor diffs between snapshots.

    Plan: THREE aggregates over one cached scan projection (a global
    scalar pass incl. exact percentiles, a 5-row lang rollup, a 20-row
    source rollup), unioned into (metric, value) rows. Every output is
    vocabulary-sized; only the scalar pass touches full text, and its
    heavy inputs (token counts, md5) are computed once in the
    projection. At 100 TB the exact count(DISTINCT md5) and
    percentile are the growing stages — the documented swap-ins are
    the repo's own HLL registers (operators/sketches.py) and
    approx_percentile, same report shape."""
    docs = load_table(spark, sf_dir, "documents").select(
        "lang",
        "source",
        "text",
        F.length("text").cast("double").alias("n_chars"),
        F.regexp_count("text", F.lit("[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\\s]"))
        .cast("double")
        .alias("n_tok"),
        F.md5("text").alias("text_md5"),
    )
    scalars = docs.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.count_distinct("source").cast("double").alias("n_sources"),
        F.count_distinct("lang").cast("double").alias("n_langs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("n_tok").alias("total_tokens"),
        (1.0 - F.count_distinct("text_md5") / F.count(F.lit(1))).alias("dup_rate"),
        F.avg(F.when(F.length(F.trim("text")) == 0, 1.0).otherwise(0.0)).alias(
            "empty_rate"
        ),
        F.expr("percentile(n_tok, 0.5D)").alias("tokens_p50"),
        F.expr("percentile(n_tok, 0.9D)").alias("tokens_p90"),
    )
    long_scalars = scalars.select(
        F.explode(
            F.create_map(
                F.lit("n_docs"), F.col("n_docs"),
                F.lit("n_sources"), F.col("n_sources"),
                F.lit("n_langs"), F.col("n_langs"),
                F.lit("total_chars"), F.col("total_chars"),
                F.lit("total_bpe_tokens"), F.col("total_tokens"),
                F.lit("exact_dup_rate"), F.col("dup_rate"),
                F.lit("empty_doc_rate"), F.col("empty_rate"),
                F.lit("tokens_p50"), F.col("tokens_p50"),
                F.lit("tokens_p90"), F.col("tokens_p90"),
            )
        ).alias("metric", "value")
    )
    wall = Window.partitionBy()
    lang_rows = (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
        .select(
            F.concat(F.lit("lang_share:"), F.col("lang")).alias("metric"),
            (F.col("c") / F.sum("c").over(wall)).alias("value"),
        )
    )
    source_rows = (
        docs.groupBy("source")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
        .select(
            F.concat(F.lit("source_share:"), F.col("source")).alias("metric"),
            (F.col("c") / F.sum("c").over(wall)).alias("value"),
        )
    )
    out = long_scalars.unionByName(lang_rows).unionByName(source_rows)
    return out.select("metric", F.round("value", 4).alias("value"))


# ---------------------------------------------------------------------------
# Filter-cascade survival report: the per-stage funnel through the
# curation gates — the first chart in every training-data pipeline
# review (FineWeb/RefinedWeb-style ablation tables start here).
# ---------------------------------------------------------------------------

CASCADE_MIN_DISTINCT = 0.3  # repetition gate: distinct-word ratio floor
CASCADE_MAX_BIGRAM = 0.25  # and top-bigram mass ceiling


def _cascade_oracle() -> str:
    from etl_jlp_spark.registry import ORACLES

    langid = ORACLES["text_langid"]
    gopher = ORACLES["gopher_quality_filter"]
    rep = ORACLES["text_repetition"]
    exact = ORACLES["dedup_exact_docs"]
    pairs = ORACLES["dedup_minhash_lsh"]
    stages = []
    for i, name in enumerate(
        ["langid", "gopher", "repetition", "exact_dedup", "neardup"], start=1
    ):
        prev = "(SELECT doc_id FROM documents)" if i == 1 else f"s{i - 1}"
        pred = {
            "langid": "doc_id IN (SELECT doc_id FROM lang_rel WHERE lang_pred <> 'unknown')",
            "gopher": "doc_id IN (SELECT doc_id FROM gopher_rel WHERE keep)",
            "repetition": f"doc_id IN (SELECT doc_id FROM rep_rel WHERE distinct_ratio >= {CASCADE_MIN_DISTINCT} AND top_bigram_frac <= {CASCADE_MAX_BIGRAM})",
            "exact_dedup": "doc_id IN (SELECT keep_doc_id FROM exact_rel)",
            "neardup": "doc_id NOT IN (SELECT doc_b FROM pair_rel)",
        }[name]
        stages.append(
            f", s{i} AS MATERIALIZED (SELECT doc_id FROM {prev} WHERE {pred})"
        )
    rows = ",\n".join(
        f"({i}, '{name}', (SELECT count(*) FROM "
        + ("documents" if i == 1 else f"s{i - 1}")
        + f"), (SELECT count(*) FROM s{i}))"
        for i, name in enumerate(
            ["langid", "gopher", "repetition", "exact_dedup", "neardup"], start=1
        )
    )
    return f"""
WITH lang_rel AS MATERIALIZED ({langid}),
gopher_rel AS MATERIALIZED ({gopher}),
rep_rel AS MATERIALIZED ({rep}),
exact_rel AS MATERIALIZED ({exact}),
pair_rel AS MATERIALIZED ({pairs})
{''.join(stages)}
SELECT CAST(stage_no AS BIGINT) AS stage_no, stage,
       CAST(n_in AS BIGINT) AS n_in, CAST(n_kept AS BIGINT) AS n_kept,
       round(1.0 - CAST(n_kept AS DOUBLE) / n_in, 4) + 0.0 AS drop_rate,
       round(CAST(n_kept AS DOUBLE) / (SELECT count(*) FROM documents), 4) + 0.0
         AS cum_survival
FROM (VALUES
{rows}
) v(stage_no, stage, n_in, n_kept)
"""


@query("filter_cascade_report", oracle=_cascade_oracle())
def filter_cascade_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-by-stage survival funnel through the curation cascade —
    language-ID → gopher rules → repetition gate → exact dedup →
    near-dup (min-id representative) — reporting per stage the input
    count, survivors, drop rate and cumulative survival vs the raw
    corpus. This is the ablation table a curation review reads before
    any threshold is moved: WHERE the corpus dies, in order.

    The stage predicates are the REGISTERED operators' own relations
    (oracles embedded verbatim), so the funnel can never disagree with
    the gates it audits; each stage relation is single-pass and the
    funnel itself is five semi-joins on doc_id."""
    from etl_jlp_spark.operators.dedup import dedup_exact_docs
    from etl_jlp_spark.operators.quality_rules import gopher_quality_filter
    from etl_jlp_spark.operators.similarity import dedup_minhash_lsh
    from etl_jlp_spark.operators.textstats import text_langid
    from etl_jlp_spark.operators.quality_rules import text_repetition

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    keep_sets = [
        (
            "langid",
            text_langid(spark, sf_dir)
            .filter(F.col("lang_pred") != "unknown")
            .select("doc_id"),
        ),
        ("gopher", gopher_quality_filter(spark, sf_dir).filter("keep").select("doc_id")),
        (
            "repetition",
            text_repetition(spark, sf_dir)
            .filter(
                (F.col("distinct_ratio") >= CASCADE_MIN_DISTINCT)
                & (F.col("top_bigram_frac") <= CASCADE_MAX_BIGRAM)
            )
            .select("doc_id"),
        ),
        (
            "exact_dedup",
            dedup_exact_docs(spark, sf_dir).select(F.col("keep_doc_id").alias("doc_id")),
        ),
    ]
    drop_b = dedup_minhash_lsh(spark, sf_dir).select(F.col("doc_b").alias("doc_id"))
    # ONE job instead of eleven: each stage's keep set becomes a boolean
    # flag (left join on the deduped per-doc id set — set semantics
    # identical to the old left_semi), and every funnel count is a
    # conditional sum over prefix conjunctions in a single aggregation.
    # The old shape ran 6 sequential .count() actions with 4 eager
    # localCheckpoints between them, serializing five independent stage
    # pipelines; here Spark schedules them as concurrent stages of one
    # job. Intersection counts are order-independent, so the numbers are
    # unchanged.
    flagged = docs
    flag_cols = []
    for i, (_name, keep) in enumerate(keep_sets, start=1):
        fc = f"f{i}"
        flagged = flagged.join(
            keep.distinct().withColumn(fc, F.lit(1)), "doc_id", "left"
        )
        flag_cols.append(fc)
    flagged = flagged.join(
        drop_b.distinct().withColumn("fdrop", F.lit(1)), "doc_id", "left"
    )
    prefix = []
    survived = []  # survived[k] = docs passing stages 1..k+1
    for fc in flag_cols:
        prefix.append(F.col(fc).isNotNull())
        cond = prefix[0]
        for p in prefix[1:]:
            cond = cond & p
        survived.append(cond)
    neardup_keep = survived[-1] & F.col("fdrop").isNull()
    agg_row = flagged.agg(
        F.count(F.lit(1)).alias("n_total"),
        *[F.sum(F.when(c, 1).otherwise(0)).alias(f"s{i}") for i, c in enumerate(survived)],
        F.sum(F.when(neardup_keep, 1).otherwise(0)).alias("s_neardup"),
    ).first()
    n_total = agg_row["n_total"]
    kept = [agg_row[f"s{i}"] for i in range(len(keep_sets))] + [agg_row["s_neardup"]]
    names = [name for name, _ in keep_sets] + ["neardup"]
    counts = []
    for i, (name, n_kept) in enumerate(zip(names, kept)):
        n_in = n_total if i == 0 else kept[i - 1]
        counts.append((name, n_in, n_kept))
    rows = [
        (i + 1, name, n_in, n_kept)
        for i, (name, n_in, n_kept) in enumerate(counts)
    ]
    base = spark.createDataFrame(
        rows, "stage_no long, stage string, n_in long, n_kept long"
    )
    # Ratios rendered through SQL round (half-away-from-zero) so a count
    # ratio landing exactly on a .xxxx5 boundary matches the oracle —
    # Python round() is banker's rounding and would diverge there.
    return base.select(
        "stage_no",
        "stage",
        "n_in",
        "n_kept",
        (F.round(F.lit(1.0) - F.col("n_kept").cast("double") / F.col("n_in"), 4) + 0.0).alias(
            "drop_rate"
        ),
        (F.round(F.col("n_kept").cast("double") / F.lit(float(n_total)), 4) + 0.0).alias(
            "cum_survival"
        ),
    )


# ---------------------------------------------------------------------------
# Curriculum shard plan: deterministic easy→hard phase assignment with
# balanced shards and token budgets — the layout a curriculum-ordered
# training run feeds its data loader.
# ---------------------------------------------------------------------------

CURRICULUM_PHASES = 3  # quality terciles: phase 1 = highest scores first
CURRICULUM_SHARDS = 8


def _curriculum_oracle() -> str:
    from etl_jlp_spark.registry import ORACLES

    score = ORACLES["text_quality_score"]
    toks = ORACLES["token_count"]
    return f"""
WITH score AS ({score}), toks AS ({toks}),
pts AS (
  SELECT s.doc_id,
         CAST(round(s.quality_score * 10000) AS BIGINT) AS s_e4,
         t.ws_tokens
  FROM score s JOIN toks t ON s.doc_id = t.doc_id
), hist AS (
  SELECT s_e4, CAST(count(*) AS BIGINT) AS c FROM pts GROUP BY 1
), cdf AS (
  SELECT s_e4,
         CAST(sum(c) OVER (ORDER BY s_e4 DESC) AS BIGINT) AS cum,
         CAST(sum(c) OVER () AS BIGINT) AS n
  FROM hist
), assigned AS (
  SELECT p.doc_id, p.ws_tokens, p.s_e4,
         (c.cum * {CURRICULUM_PHASES} + c.n - 1) // c.n AS phase,
         ('0x' || substr(md5(CAST(p.doc_id AS VARCHAR)), 1, 15))::BIGINT
           % {CURRICULUM_SHARDS} AS shard
  FROM pts p JOIN cdf c ON p.s_e4 = c.s_e4
)
SELECT phase, shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(ws_tokens) AS BIGINT) AS total_tokens,
       round(CAST(sum(s_e4) AS DOUBLE) / count(*) / 10000.0, 4) + 0.0 AS avg_quality
FROM assigned GROUP BY 1, 2
"""


@query("curriculum_shard_plan", oracle=_curriculum_oracle())
def curriculum_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic curriculum layout: docs split into quality
    TERCILES from the top (phase 1 = highest text_quality_score — the
    'easy/clean first' schedule), then md5-balanced into {s} shards
    per phase, reporting each shard's doc count, whitespace-token
    budget and mean quality. A training loader consumes phases in
    order and shards in parallel; everything here is reproducible from
    doc ids alone (no RNG, no global sort — terciles come from the
    bounded e4-score histogram CDF, ties inherit their value's
    last-member phase).

    One scan feeds both constituent relations (oracles embedded), one
    doc-keyed join, one {p}×{s}-cell agg."""
    from etl_jlp_spark.operators.textstats import text_quality_score, token_count

    pts = (
        text_quality_score(spark, sf_dir)
        .select("doc_id", F.round(F.col("quality_score") * 10000).cast("long").alias("s_e4"))
        .join(token_count(spark, sf_dir).select("doc_id", "ws_tokens"), "doc_id")
    )
    hist = pts.groupBy("s_e4").agg(F.count(F.lit(1)).cast("long").alias("c"))
    cdf = hist.select(
        "s_e4",
        F.sum("c").over(Window.orderBy(F.desc("s_e4"))).cast("long").alias("cum"),
        F.sum("c").over(Window.partitionBy()).cast("long").alias("n"),
    )
    assigned = pts.join(F.broadcast(cdf), "s_e4").select(
        "doc_id",
        "ws_tokens",
        "s_e4",
        F.expr(f"(cum * {CURRICULUM_PHASES} + n - 1) div n").alias("phase"),
        (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10).cast(
                "long"
            )
            % CURRICULUM_SHARDS
        ).alias("shard"),
    )
    return assigned.groupBy("phase", "shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("ws_tokens").cast("long").alias("total_tokens"),
        F.round(F.sum("s_e4").cast("double") / F.count(F.lit(1)) / 10000.0, 4).alias(
            "avg_quality"
        ),
    )
