"""Exact duplicated-span detection (ExactSubstr-style dedup).

MinHash/Jaccard dedup (operators/similarity.py) treats documents as
bags of shingles and finds *whole-document* near-duplicates; it is
blind to a long verbatim passage pasted into an otherwise-unique page
(license boilerplate, quoted articles, templated footers). "Deduplicating
Training Data Makes Language Models Better" (Lee et al., 2021,
arXiv:2107.06499) removes any substring of ≥50 tokens shared between
documents; this operator computes the same signal with relational ops:
positional k-gram fingerprints → cross-document duplicated grams →
per-document maximal duplicated SPANS (gaps-and-islands interval
merge), reported as a span count + duplicated-token fraction per doc.

Reference origin: the reference's dedup is whole-row
(``remove_duplicates_browsing_history``,
dwh_lab/dwh/preprocessing_streaming_incremental_load.py:64-80); span
detection is the training-data-pipeline extension of that idea to
sub-document granularity.

Scale (100 TB):
- The gram relation is one narrow projection of the scan: tokenize once
  (array expression, no UDF), emit one md5 per token position.
  Volume ∝ corpus tokens — the same order as any inverted-index build.
- Duplicated grams are found with ``groupBy(gram)`` — map-side partial
  aggregation collapses each gram to one row per task before the
  shuffle, and md5 gram keys are high-entropy (a k-token gram is far
  past Zipf head skew, unlike single terms), so partitions balance.
- The ≥2-distinct-docs HAVING prunes the join side to genuinely
  duplicated grams (≪ vocabulary at any scale) before it re-joins the
  positional relation on the gram key — an equi-join AQE can broadcast
  when small and skew-split when not.
- Island merging is a per-document window (partition key = doc_id,
  bounded by tokens-per-doc), never a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_jlp_spark.catalog import load_table, widen
from etl_jlp_spark.operators.ir import WORD_PATTERN
from etl_jlp_spark.registry import query

SPAN_K = 5  # probe-gram width in tokens (Lee et al. use 50 BPE tokens;
# 5 words fits the synthetic corpus' ~40-token documents — the
# algebra is width-independent)


def positional_grams(docs: DataFrame) -> DataFrame:
    """(doc_id, n_toks, pos, g): one md5 fingerprint per k-token window
    start position (1-based). Docs shorter than SPAN_K emit nothing.
    Pure projection + posexplode — no shuffle."""
    sized = docs.select(
        "doc_id",
        F.regexp_extract_all(F.lower("text"), F.lit(WORD_PATTERN), 0).alias("toks"),
    ).withColumn("n_toks", F.size("toks").cast("long"))
    gram_expr = (
        f"transform(sequence(1, n_toks - {SPAN_K} + 1), "
        f"i -> md5(concat_ws(' ', slice(toks, i, {SPAN_K}))))"
    )
    return (
        sized.filter(F.col("n_toks") >= SPAN_K)
        .select("doc_id", "n_toks", F.posexplode(F.expr(gram_expr)).alias("p0", "g"))
        .select("doc_id", "n_toks", (F.col("p0") + 1).cast("long").alias("pos"), "g")
    )


@query(
    "dup_span_report",
    oracle=f"""
WITH tokd AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{WORD_PATTERN}') AS toks
  FROM documents
), sized AS (
  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_toks
  FROM tokd WHERE len(toks) >= {SPAN_K}
), grams AS (
  SELECT doc_id, n_toks, CAST(i AS BIGINT) AS pos,
         md5(array_to_string(toks[i:i+{SPAN_K}-1], ' ')) AS g
  FROM sized, unnest(generate_series(1, n_toks - {SPAN_K} + 1)) AS t(i)
), dupg AS (
  SELECT g FROM grams GROUP BY g HAVING count(DISTINCT doc_id) >= 2
), cov AS (
  SELECT doc_id, n_toks, pos FROM grams JOIN dupg USING (g)
), brk AS (
  SELECT doc_id, n_toks, pos,
         CASE WHEN lag(pos) OVER w IS NULL OR pos - lag(pos) OVER w > {SPAN_K}
              THEN 1 ELSE 0 END AS new_island
  FROM cov WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
), isl AS (
  SELECT doc_id, n_toks, pos,
         sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM brk
), spans AS (
  SELECT doc_id, any_value(n_toks) AS n_toks,
         max(pos) - min(pos) + {SPAN_K} AS span_len
  FROM isl GROUP BY doc_id, island
)
SELECT doc_id,
       CAST(n_toks AS BIGINT) AS n_toks,
       CAST(count(*) AS BIGINT) AS n_dup_spans,
       CAST(sum(span_len) AS BIGINT) AS dup_tokens,
       round(sum(span_len) * 1.0 / n_toks, 4) AS dup_frac
FROM spans GROUP BY doc_id, n_toks
""",
)
def dup_span_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-span report: maximal token spans covered
    by some ``SPAN_K``-gram that also occurs in ANOTHER document.
    Overlapping/adjacent duplicated windows merge into one span
    (positions p, q with q - p ≤ k cover a contiguous range), so
    ``dup_tokens`` is the union length of all duplicated intervals and
    ``dup_frac`` the fraction of the document that is verbatim-shared —
    the Lee-et-al. removal signal. Only documents with at least one
    duplicated span appear (output ∝ duplication, not corpus)."""
    docs = load_table(spark, sf_dir, "documents")
    grams = positional_grams(widen(spark, docs, sf_dir, "documents", "doc_id"))
    dupg = (
        grams.groupBy("g")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("g")
    )
    cov = grams.join(dupg, "g").select("doc_id", "n_toks", "pos")
    return coverage_report(cov)


def coverage_report(cov: DataFrame) -> DataFrame:
    """(doc_id, n_toks, pos) duplicated-window positions → per-doc span
    report via gaps-and-islands merge. Shared by the batch operator and
    the streaming twin; the windows partition on doc_id (bounded)."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    brk = cov.withColumn(
        "new_island",
        F.when(
            F.lag("pos").over(w).isNull() | (F.col("pos") - F.lag("pos").over(w) > SPAN_K),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    isl = brk.withColumn("island", F.sum("new_island").over(w))
    spans = isl.groupBy("doc_id", "island").agg(
        F.any_value("n_toks").alias("n_toks"),
        (F.max("pos") - F.min("pos") + SPAN_K).alias("span_len"),
    )
    return spans.groupBy("doc_id", "n_toks").agg(
        F.count(F.lit(1)).cast("long").alias("n_dup_spans"),
        F.sum("span_len").cast("long").alias("dup_tokens"),
        F.round(F.sum("span_len") / F.col("n_toks"), 4).alias("dup_frac"),
    ).select(
        "doc_id",
        F.col("n_toks").cast("long").alias("n_toks"),
        "n_dup_spans",
        "dup_tokens",
        "dup_frac",
    )


def gram_directory(docs: DataFrame) -> DataFrame:
    """(g, nd, only_doc): per-gram distinct-document count plus the
    single holder when nd = 1 — the static reference a STREAM checks
    arriving docs against. A gram duplicates doc d iff nd ≥ 2 or its
    one holder is another doc; carrying (nd, only_doc) instead of the
    full (g, doc_id) posting list keeps the reference gram-set-sized,
    and replaying the reference corpus through the check reproduces the
    batch operator's rows exactly (self-grams never self-match)."""
    return positional_grams(docs).groupBy("g").agg(
        F.count_distinct("doc_id").cast("long").alias("nd"),
        F.min("doc_id").cast("long").alias("only_doc"),
    )


def span_report_vs_directory(docs: DataFrame, directory: DataFrame) -> DataFrame:
    """Span report of ``docs`` against a prebuilt ``gram_directory`` —
    the probe side of the amortized/streaming path: the arriving shard
    expands its own positional grams only, equi-joins the directory on
    the gram key, and excludes self-matches via (nd, only_doc)."""
    grams = positional_grams(docs)
    cov = (
        grams.join(directory, "g")
        .filter((F.col("nd") >= 2) | (F.col("only_doc") != F.col("doc_id")))
        .select("doc_id", "n_toks", "pos")
    )
    return coverage_report(cov)


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the
# MOSS algorithm): from every k-gram hash stream, keep the RIGHTMOST
# MINIMUM of each sliding window of W consecutive grams. The selected
# set is position-robust (any match of length ≥ W+k−1 is guaranteed to
# share a fingerprint) at an expected density of 2/(W+1) — the
# guarantee-carrying alternative to doc_fingerprint's fixed-stride
# sampling above.
# ---------------------------------------------------------------------------

WIN_K = 8  # k-gram width (chars)
WIN_W = 8  # winnow window (grams)


@query(
    "winnowing_fingerprint_stats",
    oracle=f"""
WITH d AS (
  SELECT doc_id, source, lower(text) AS t FROM documents
  WHERE length(text) >= {WIN_K + WIN_W - 1}
), grams AS (
  SELECT doc_id, source, i AS pos,
         ('0x' || substr(md5(substr(t, i, {WIN_K})), 1, 8))::BIGINT AS h
  FROM d, unnest(generate_series(1, length(t) - {WIN_K} + 1)) AS g(i)
), nw AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams FROM grams GROUP BY doc_id
), wmin AS (
  SELECT doc_id, pos AS s,
         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND {WIN_W - 1} FOLLOWING) AS m
  FROM grams QUALIFY pos <= (SELECT n_grams FROM nw n WHERE n.doc_id = grams.doc_id)
                      - {WIN_W - 1}
), sel AS (
  SELECT w.doc_id, max(g.pos) AS pos, w.m AS h
  FROM wmin w
  JOIN grams g ON g.doc_id = w.doc_id
             AND g.pos BETWEEN w.s AND w.s + {WIN_W - 1} AND g.h = w.m
  GROUP BY w.doc_id, w.s, w.m
), fp AS (
  SELECT DISTINCT doc_id, pos, h FROM sel
), per_doc AS (
  SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_fp FROM fp f GROUP BY f.doc_id
), shared AS (
  SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS nd FROM fp GROUP BY h)
  WHERE nd >= 2
)
SELECT d.source,
       CAST(count(DISTINCT d.doc_id) AS BIGINT) AS n_docs,
       CAST(sum(n.n_grams) AS BIGINT) AS n_grams,
       CAST(sum(p.n_fp) AS BIGINT) AS n_fingerprints,
       round(sum(p.n_fp) / CAST(sum(n.n_grams) AS DOUBLE), 4) AS density,
       CAST((SELECT count(*) FROM shared) AS BIGINT) AS n_shared_hashes
FROM d JOIN nw n ON n.doc_id = d.doc_id
JOIN per_doc p ON p.doc_id = d.doc_id
GROUP BY d.source
""",
)
def winnowing_fingerprint_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source winnowing statistics (k={k} char grams, window
    W={w}): gram volume, selected fingerprints, realized density
    (theory: → 2/(W+1) ≈ {dens:.3f}), and the count of fingerprint
    hashes shared across ≥2 documents corpus-wide — the
    guarantee-carrying local fingerprint layer (any ≥{g}-char verbatim
    match MUST share a fingerprint) under the span/dup family.

    Plan: one position-explode gram pass; window minima are a
    doc-partitioned running min (ROWS frame, no global sort); the
    rightmost-min selection re-joins each window's min against its ≤W
    member grams (an equi-join on (doc, h) bounded by the W-row
    offset range). Everything downstream is fingerprint-sized
    (expected 2/(W+1) of gram volume).""".format(
        k=WIN_K, w=WIN_W, dens=2 / (WIN_W + 1), g=WIN_K + WIN_W - 1
    )
    docs = widen(spark, load_table(spark, sf_dir, "documents"), sf_dir, "documents")
    d = docs.filter(F.length("text") >= WIN_K + WIN_W - 1).select(
        "doc_id", "source", F.lower("text").alias("t")
    )
    grams = d.select(
        "doc_id",
        "source",
        F.explode(F.expr(f"sequence(1, length(t) - {WIN_K} + 1)")).alias("pos"),
        "t",
    ).select(
        "doc_id",
        "source",
        "pos",
        F.conv(F.substring(F.md5(F.expr(f"substring(t, pos, {WIN_K})")), 1, 8), 16, 10)
        .cast("long")
        .alias("h"),
    ).localCheckpoint(eager=False)
    nw = grams.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n_grams"))
    wmin_w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, WIN_W - 1)
    )
    # Window-only rightmost-min selection (replaces the r10 self-join of
    # each window's min back against its ≤W member grams — one join, its
    # Exchange and a sort gone, §2.4): over the SAME frame that computes
    # the window min, max_by(pos, struct(-h, pos)) returns the position
    # of the minimal hash with rightmost-position tie-breaking — struct
    # ordering compares -h first (max ⇒ min h), then pos (max ⇒ rightmost).
    # pos is gapless 1..n_grams per doc, so the ROWS frame spans exactly
    # the window's W grams; tests pin set-equality against the join form.
    # the tie-break struct is projected BEFORE the window so min and
    # max_by land in ONE Window node (one running-frame pass over the
    # sorted grams, not two)
    wmin = (
        grams.join(nw, "doc_id")
        .withColumn("st", F.struct((-F.col("h")).alias("nh"), F.col("pos").alias("p")))
        .select(
            "doc_id",
            "pos",
            "n_grams",
            F.min("h").over(wmin_w).alias("m"),
            F.max_by("pos", F.col("st")).over(wmin_w).alias("pos_sel"),
        )
        .filter(F.col("pos") <= F.col("n_grams") - (WIN_W - 1))
    )
    # NOT checkpointed: fp ends in the distinct's Exchange, so its two
    # consumers (per_doc, shared) dedupe via ReusedExchange inside the
    # one result job — an eager checkpoint here measured WORSE (it
    # serializes a job barrier the runtime reuse makes redundant)
    fp = wmin.select(
        "doc_id", F.col("pos_sel").alias("pos"), F.col("m").alias("h")
    ).distinct()
    per_doc = fp.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n_fp"))
    shared = (
        fp.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    return (
        d.select("doc_id", "source")
        .join(nw, "doc_id")
        .join(per_doc, "doc_id")
        .groupBy("source")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.sum("n_grams").cast("long").alias("n_grams"),
            F.sum("n_fp").cast("long").alias("n_fingerprints"),
            F.round(F.sum("n_fp") / F.sum("n_grams").cast("double"), 4).alias("density"),
        )
        .crossJoin(F.broadcast(shared))
        .select(
            "source",
            "n_docs",
            "n_grams",
            "n_fingerprints",
            "density",
            F.col("n_shared").alias("n_shared_hashes"),
        )
    )


# ---------------------------------------------------------------------------
# Span EXCISION — the apply side of dup_span_report (Lee et al. §3:
# keep one copy of every repeated passage, cut the rest).
# ---------------------------------------------------------------------------


@query(
    "dup_span_excise",
    oracle=f"""
WITH tokd AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{WORD_PATTERN}') AS toks
  FROM documents
), sized AS (
  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_toks
  FROM tokd WHERE len(toks) >= {SPAN_K}
), grams AS (
  SELECT doc_id, n_toks, CAST(i AS BIGINT) AS pos,
         md5(array_to_string(toks[i:i+{SPAN_K}-1], ' ')) AS g
  FROM sized, unnest(generate_series(1, n_toks - {SPAN_K} + 1)) AS t(i)
), ranked AS (
  SELECT doc_id, n_toks, pos,
         row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn,
         count(*) OVER (PARTITION BY g) AS cnt
  FROM grams
), marked AS (
  SELECT doc_id, n_toks, pos FROM ranked WHERE cnt >= 2 AND rn >= 2
), brk AS (
  SELECT doc_id, n_toks, pos,
         CASE WHEN lag(pos) OVER w IS NULL OR pos - lag(pos) OVER w > {SPAN_K}
              THEN 1 ELSE 0 END AS new_island
  FROM marked WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
), isl AS (
  SELECT doc_id, n_toks, pos,
         sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM brk
), spans AS (
  SELECT doc_id, any_value(n_toks) AS n_toks,
         min(pos) AS s, least(max(pos) + {SPAN_K} - 1, any_value(n_toks)) AS e
  FROM isl GROUP BY doc_id, island
), covered AS (
  SELECT DISTINCT doc_id, CAST(p AS BIGINT) AS pos
  FROM spans, unnest(generate_series(s, e)) AS u(p)
), toks_pos AS (
  SELECT z.doc_id, CAST(i AS BIGINT) AS pos, z.toks[i] AS tok
  FROM (SELECT * FROM sized WHERE doc_id IN (SELECT doc_id FROM spans)) z,
       unnest(generate_series(1, len(z.toks))) AS u(i)
), kept AS (
  SELECT t.doc_id, t.pos, t.tok
  FROM toks_pos t LEFT JOIN covered c ON c.doc_id = t.doc_id AND c.pos = t.pos
  WHERE c.pos IS NULL
), stats AS (
  SELECT doc_id, any_value(n_toks) AS n_toks,
         CAST(count(*) AS BIGINT) AS n_spans,
         CAST(sum(e - s + 1) AS BIGINT) AS removed_tokens
  FROM spans GROUP BY doc_id
)
SELECT s.doc_id, CAST(s.n_toks AS BIGINT) AS n_toks, s.n_spans, s.removed_tokens,
       coalesce(string_agg(k.tok, ' ' ORDER BY k.pos), '') AS clean_text
FROM stats s LEFT JOIN kept k ON k.doc_id = s.doc_id
GROUP BY s.doc_id, s.n_toks, s.n_spans, s.removed_tokens
""",
)
def dup_span_excise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY side of dup_span_report — Lee et al.'s actual edit:
    every ``SPAN_K``-gram occurring ≥2 times corpus-wide (WITHIN-doc
    repeats included, unlike the cross-doc report) keeps only its
    globally-first occurrence (min (doc_id, pos)); all later
    occurrences are merged into maximal spans (gaps-and-islands) and
    CUT from the document, and the surviving tokens are reassembled in
    order. Exactly one copy of every repeated passage survives the
    corpus; output rows are only the edited docs.

    Scale shape: the gram relation is the report's (one projection
    pass); first-vs-later is one window on the gram key (high-entropy
    md5 partitioning); token re-assembly explodes ONLY the affected
    documents (semi-join before the posexplode) and removes covered
    positions with a position equi-join (covered volume ∝ removed
    tokens, never corpus tokens)."""
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id",
        F.regexp_extract_all(F.lower("text"), F.lit(WORD_PATTERN), 0).alias("toks"),
    ).withColumn("n_toks", F.size("toks").cast("long")).filter(
        F.col("n_toks") >= SPAN_K
    )
    grams = positional_grams(docs)
    wg = Window.partitionBy("g")
    marked = (
        grams.select(
            "doc_id",
            "n_toks",
            "pos",
            F.row_number().over(wg.orderBy("doc_id", "pos")).alias("rn"),
            F.count(F.lit(1)).over(wg).alias("cnt"),
        )
        .filter((F.col("cnt") >= 2) & (F.col("rn") >= 2))
        .select("doc_id", "n_toks", "pos")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    brk = marked.withColumn(
        "new_island",
        F.when(
            F.lag("pos").over(w).isNull() | (F.col("pos") - F.lag("pos").over(w) > SPAN_K),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    isl = brk.withColumn("island", F.sum("new_island").over(w))
    spans = isl.groupBy("doc_id", "island").agg(
        F.any_value("n_toks").alias("n_toks"),
        F.min("pos").alias("s"),
        F.least(F.max("pos") + SPAN_K - 1, F.any_value("n_toks")).alias("e"),
    ).localCheckpoint(eager=False)
    covered = spans.select(
        "doc_id", F.explode(F.sequence("s", "e")).alias("pos")
    ).distinct()
    affected = spans.select("doc_id").distinct()
    toks_pos = (
        sized.join(affected, "doc_id", "left_semi")
        .select("doc_id", F.posexplode("toks").alias("p0", "tok"))
        .select("doc_id", (F.col("p0") + 1).cast("long").alias("pos"), "tok")
    )
    kept = toks_pos.join(covered, ["doc_id", "pos"], "left_anti")
    stats = spans.groupBy("doc_id").agg(
        F.any_value("n_toks").cast("long").alias("n_toks"),
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + 1).cast("long").alias("removed_tokens"),
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.expr("transform(array_sort(collect_list(struct(pos, tok))), x -> x.tok)"),
            " ",
        ).alias("clean_text")
    )
    return stats.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        "n_toks",
        "n_spans",
        "removed_tokens",
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )
