"""Deterministic sampling and sequence-packing operators.

``stratified_sample`` — per-stratum rates like ``DataFrame.sampleBy``,
but via the md5-prefix threshold trick so the sample is reproducible
across engines, partitionings and cluster sizes (seed-based Bernoulli
is none of those). This generalizes the reference's
``df.sample(frac=0.1, random_state=42)`` ingest sampling
(ingest_batch_sources_full_load_ProblemLog_original.py:63-64).

``sequence_packing`` — packs documents into fixed token-budget bins
(the batching step of an LLM pre-training pipeline). Greedy global
packing is inherently sequential, so the scalable form packs WITHIN a
partition key (here ``source``): a running token-count window over a
deterministic order, bin = cumsum div budget. One shuffle, bounded
per-key state, and bins never cross source shards.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_jlp_spark.catalog import load_table
from etl_jlp_spark.registry import query

# event_type → md5-prefix bound ('33' ≈ 20%, '80' = 50%, 'ff'+1 = 100%)
STRATA_BOUNDS = {"click": "33", "view": "33", "purchase": "ff", "signup": "ff", "error": "80"}

TOKEN_BUDGET = 512  # tokens per packed sequence bin


_STRATA_SQL = " ".join(
    f"WHEN event_type = '{t}' THEN substr(md5(CAST(event_id AS VARCHAR)), 1, 2) < '{b}'"
    for t, b in STRATA_BOUNDS.items()
)


@query(
    "stratified_sample",
    oracle=f"""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_sampled,
       round(sum(value), 2) AS sum_value
FROM events
WHERE CASE {_STRATA_SQL} ELSE FALSE END
GROUP BY event_type
""",
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep rare strata (purchase/signup) fully, downsample the common
    ones — the class-rebalancing sample of a training pipeline, fully
    deterministic."""
    events = load_table(spark, sf_dir, "events")
    pred = None
    h = F.substring(F.md5(F.col("event_id").cast("string")), 1, 2)
    for t, b in STRATA_BOUNDS.items():
        cond = (F.col("event_type") == t) & (h < b)
        pred = cond if pred is None else pred | cond
    return (
        events.filter(pred)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sampled"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


MIX_QUANT = 256  # keep-rates quantized to 1/256 md5-prefix steps


def doc_token_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, source, n_tokens) — whitespace token sizing, a pure
    projection (works identically on a batch or streaming frame)."""
    trimmed = F.trim("text")
    return docs.select(
        "doc_id",
        "source",
        F.when(F.length(trimmed) == 0, F.lit(0))
        .otherwise(F.size(F.split(trimmed, r"\s+")))
        .cast("long")
        .alias("n_tokens"),
    )


def mix_rates(sized: DataFrame) -> DataFrame:
    """Per-source quantized keep-rate table (one row per source —
    broadcast-size at any corpus scale). A zero-token source gets
    bound 0 explicitly: 256·min/0 would be NaN, which Spark's floor
    nulls while other engines error — degenerate data must not
    diverge (ADVICE r2)."""
    totals = sized.groupBy("source").agg(F.sum("n_tokens").cast("long").alias("tok"))
    return totals.withColumn("min_tok", F.min("tok").over(Window.partitionBy())).select(
        "source",
        F.when(F.col("tok") == 0, F.lit(0))
        .otherwise(F.floor(MIX_QUANT * 1.0 * F.col("min_tok") / F.col("tok")))
        .cast("long")
        .alias("bound"),
    )


def apply_mix_filter(sized: DataFrame, rates: DataFrame) -> DataFrame:
    """Keep-filter against a (static, broadcast) rate table: stateless
    md5-prefix compare — no per-doc RNG, safe on a stream (each doc's
    fate is a pure function of doc_id + its source's rate)."""
    return sized.join(F.broadcast(rates), "source").filter(
        (F.col("bound") >= MIX_QUANT)
        | (
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
            < F.lpad(F.lower(F.hex("bound")), 2, "0")
        )
    )


@query(
    "balance_source_mix",
    oracle=f"""
WITH sized AS (
  SELECT doc_id, source,
         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_tokens
  FROM documents
), totals AS (
  SELECT source, CAST(sum(n_tokens) AS BIGINT) AS tok FROM sized GROUP BY source
), target AS (SELECT min(tok) AS min_tok FROM totals),
rates AS (
  SELECT t.source,
         CASE WHEN t.tok = 0 THEN CAST(0 AS BIGINT)
              ELSE CAST(floor({MIX_QUANT}.0 * g.min_tok / t.tok) AS BIGINT) END AS bound
  FROM totals t CROSS JOIN target g
), kept AS (
  SELECT s.doc_id, s.source, s.n_tokens
  FROM sized s JOIN rates r ON s.source = r.source
  WHERE r.bound >= {MIX_QUANT}
     OR substr(md5(CAST(s.doc_id AS VARCHAR)), 1, 2) < lpad(lower(to_hex(r.bound)), 2, '0')
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs_kept,
       CAST(sum(n_tokens) AS BIGINT) AS tokens_kept
FROM kept GROUP BY source
""",
)
def balance_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture balancing — downsample every source to the smallest
    source's token count (equal-share data mixing). Two-phase plan:
    per-source token totals (tiny — one row per source) set a
    deterministic md5-prefix keep-rate, quantized to 1/``MIX_QUANT``
    steps so the rate is a portable hex-prefix compare; the corpus then
    streams through one broadcast rate join + filter + agg. The rate
    table is bounded by #sources, so the broadcast holds at any corpus
    scale; no global sort, no per-doc RNG state. ``apply_mix_filter``
    over ``doc_token_counts`` and the static rate table streams per
    micro-batch through ``streaming.pipeline.sink_batches``."""
    sized = doc_token_counts(load_table(spark, sf_dir, "documents"))
    kept = apply_mix_filter(sized, mix_rates(sized))
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_kept"),
        F.sum("n_tokens").cast("long").alias("tokens_kept"),
    )


TEMP_ALPHA = 0.5  # mixing temperature (mT5 uses α=0.3; 0.5 = sqrt scaling)


@query(
    "source_mix_temperature",
    oracle=f"""
WITH sized AS (
  SELECT doc_id, source,
         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_tokens
  FROM documents
), totals AS (
  SELECT source, CAST(sum(n_tokens) AS BIGINT) AS tok FROM sized GROUP BY source
), w AS (
  SELECT source, tok, power(CAST(tok AS DOUBLE), {TEMP_ALPHA}) AS wt FROM totals
), g AS (
  SELECT CAST(sum(tok) AS DOUBLE) AS n_all, sum(wt) AS wsum FROM w
), rates AS (
  SELECT w.source,
         CASE WHEN w.tok = 0 THEN CAST(0 AS BIGINT)
              ELSE CAST(floor({MIX_QUANT}.0 * least(1.0,
                        (g.n_all * w.wt / g.wsum) / CAST(w.tok AS DOUBLE))) AS BIGINT)
         END AS bound
  FROM w CROSS JOIN g
), kept AS (
  SELECT s.doc_id, s.source, s.n_tokens
  FROM sized s JOIN rates r ON s.source = r.source
  WHERE r.bound >= {MIX_QUANT}
     OR substr(md5(CAST(s.doc_id AS VARCHAR)), 1, 2) < lpad(lower(to_hex(r.bound)), 2, '0')
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs_kept,
       CAST(sum(n_tokens) AS BIGINT) AS tokens_kept
FROM kept GROUP BY source
""",
)
def source_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing (the mT5/XLM-R recipe,
    arXiv:1910.10683 §3.4.2 / arXiv:1911.02116 §3): sources are kept at
    rates proportional to share^α/share, so small sources are boosted
    and dominant ones capped — softer than ``balance_source_mix``'s
    equal-share floor. target_s = N·(tok_s^α / Σ tok^α); keep-rate =
    min(1, target_s/tok_s), quantized to 1/``MIX_QUANT`` md5-prefix steps
    (deterministic, RNG-free, streaming-safe). The rate table is
    #sources rows — broadcast at any corpus scale; the corpus pays one
    sizing projection + one broadcast-join filter + one agg."""
    sized = doc_token_counts(load_table(spark, sf_dir, "documents"))
    totals = sized.groupBy("source").agg(F.sum("n_tokens").cast("long").alias("tok"))
    w = totals.withColumn("wt", F.pow(F.col("tok").cast("double"), F.lit(TEMP_ALPHA)))
    g = w.agg(
        F.sum("tok").cast("double").alias("n_all"),
        F.sum("wt").alias("wsum"),
    )
    rates = w.crossJoin(F.broadcast(g)).select(
        "source",
        F.when(F.col("tok") == 0, F.lit(0))
        .otherwise(
            F.floor(
                MIX_QUANT
                * F.least(
                    F.lit(1.0),
                    (F.col("n_all") * F.col("wt") / F.col("wsum"))
                    / F.col("tok").cast("double"),
                )
            )
        )
        .cast("long")
        .alias("bound"),
    )
    kept = apply_mix_filter(sized, rates)
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_kept"),
        F.sum("n_tokens").cast("long").alias("tokens_kept"),
    )


@query(
    "sequence_packing",
    oracle=f"""
WITH sized AS (
  SELECT doc_id, source,
         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_tokens
  FROM documents
), packed AS (
  SELECT doc_id, source, n_tokens,
         CAST((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1) // {TOKEN_BUDGET} AS BIGINT) AS bin_id
  FROM sized
)
SELECT source, bin_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(min(doc_id) AS BIGINT) AS first_doc,
       CAST(max(doc_id) AS BIGINT) AS last_doc
FROM packed
GROUP BY source, bin_id
""",
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    trimmed = F.trim("text")
    sized = docs.select(
        "doc_id",
        "source",
        F.when(F.length(trimmed) == 0, F.lit(0))
        .otherwise(F.size(F.split(trimmed, r"\s+")))
        .cast("long")
        .alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # floor division (not truncate-toward-zero) so a leading zero-token
    # doc (cumsum-1 = -1) bins identically to DuckDB's `//`
    packed = sized.withColumn(
        "bin_id", F.floor((F.sum("n_tokens").over(w) - 1) / TOKEN_BUDGET).cast("long")
    )
    return packed.groupBy("source", "bin_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.min("doc_id").cast("long").alias("first_doc"),
        F.max("doc_id").cast("long").alias("last_doc"),
    )


# (split, md5-prefix upper bound): cumulative hex thresholds over the
# first two digest chars — ~90% / ~5% / rest. Hex-string comparison is
# engine-portable (same md5, same collation in Spark and DuckDB).
SPLIT_BOUNDS = [("train", "e6"), ("val", "f3"), ("test", None)]


def split_expr(col):
    """Split label as a Column for any doc-id column — THE split
    definition; every operator that reasons about splits (dataset_split,
    split_leakage_check) must build on this so thresholds can't drift."""
    h = F.substring(F.md5(col.cast("string")), 1, 2)
    out = None
    for name, bound in SPLIT_BOUNDS:
        if bound is None:
            out = out.otherwise(name)
        else:
            out = (out.when if out is not None else F.when)(h < bound, name)
    return out


def split_case_sql(col: str) -> str:
    """The same split definition as ANSI SQL text for the oracles."""
    h = f"substr(md5(CAST({col} AS VARCHAR)), 1, 2)"
    whens = " ".join(
        f"WHEN {h} < '{bound}' THEN '{name}'"
        for name, bound in SPLIT_BOUNDS
        if bound is not None
    )
    default = next(name for name, bound in SPLIT_BOUNDS if bound is None)
    return f"CASE {whens} ELSE '{default}' END"


@query(
    "dataset_split",
    oracle=f"""
SELECT doc_id,
       {split_case_sql("doc_id")} AS split,
       CAST(length(text) AS BIGINT) AS n_chars_actual
FROM documents
""",
)
def dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (~90/5/5) by md5-prefix
    threshold on doc_id — the held-out-split step of a training-data
    pipeline. Like ``stratified_sample``, hash thresholds (not RNG)
    make the split reproducible across engines, partitionings, and
    re-runs, and a document NEVER migrates between splits when the
    corpus grows — the property per-run random splits can't give.
    Zero-shuffle projection."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        split_expr(F.col("doc_id")).alias("split"),
        F.length("text").cast("long").alias("n_chars_actual"),
    )


SAMPLE_K = 20  # docs kept per source
SAMPLE_OVER = 8  # md5-prefilter oversampling factor (bounds window input)


@query(
    "per_source_sample_k",
    oracle=f"""
WITH tot AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY source
), rates AS (
  SELECT source,
         CASE WHEN n <= {SAMPLE_K * SAMPLE_OVER} THEN CAST({MIX_QUANT} AS BIGINT)
              ELSE CAST(floor({MIX_QUANT}.0 * {SAMPLE_K * SAMPLE_OVER} / n) AS BIGINT)
         END AS bound
  FROM tot
), pre AS (
  SELECT d.source, d.doc_id
  FROM documents d JOIN rates r ON d.source = r.source
  WHERE r.bound >= {MIX_QUANT}
     OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 2) < lpad(lower(to_hex(r.bound)), 2, '0')
), ranked AS (
  SELECT source, doc_id,
         CAST(row_number() OVER (PARTITION BY source
                                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rk
  FROM pre
)
SELECT source, doc_id, rk FROM ranked WHERE rk <= {SAMPLE_K}
""",
)
def per_source_sample_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k-per-source inspection sample (the 'show me {K} random
    docs from every source' debugging/eval query), deterministic and
    engine-portable via md5 ordering.

    The naive form — row_number over PARTITION BY source on the raw
    corpus — puts all of a dominant source's rows in ONE window task at
    100 TB. Two phases bound it: per-source counts (tiny) set an
    md5-prefix pre-filter that passes ~{OVER}×k rows per source
    map-side (no shuffle of dropped rows), and the exact rank window
    runs over that bounded survivor set only. Both engines apply the
    SAME deterministic filter, so parity holds by construction; the
    {OVER}× oversample makes a short sample (< k survivors) a
    vanishing-probability data property, and sub-k sources keep every
    doc (bound saturates)."""
    docs = load_table(spark, sf_dir, "documents").select("source", "doc_id")
    tot = docs.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n"))
    target = SAMPLE_K * SAMPLE_OVER
    rates = tot.select(
        "source",
        F.when(F.col("n") <= target, F.lit(MIX_QUANT))
        .otherwise(F.floor(MIX_QUANT * float(target) / F.col("n")))
        .cast("long")
        .alias("bound"),
    )
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    pre = (
        docs.join(F.broadcast(rates), "source")
        .filter(
            (F.col("bound") >= MIX_QUANT)
            | (h < F.lpad(F.lower(F.hex("bound")), 2, "0"))
        )
        .select("source", "doc_id")
    )
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        pre.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= SAMPLE_K)
    )


# ---------------------------------------------------------------------------
# Budget-aware document selection: Pareto frontier and weighted
# reservoir sampling (Efraimidis–Spirakis). Both pick training docs
# under a token budget; the frontier gives the non-dominated
# quality/cost set, ES gives a size-k sample whose inclusion odds are
# proportional to weight — deterministic here because the "uniform"
# is an md5-derived rational, not an RNG (re-runs and both engines
# agree bit-for-bit on who is sampled).
# ---------------------------------------------------------------------------

ES_SAMPLE_K = 50
_ALPHA_EXPR = (
    "CAST(length(regexp_replace(text, '[^a-zA-Z]', '')) AS DOUBLE) / length(text)"
)
_ALPHA_SQL = "length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0 / length(text)"


@query(
    "pareto_frontier_docs",
    oracle=f"""
WITH sc AS (
  SELECT doc_id, round({_ALPHA_SQL}, 4) AS alpha_ratio,
         CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\\s]')) AS BIGINT)
           AS n_tokens
  FROM documents WHERE length(text) > 0
)
SELECT a.doc_id, a.alpha_ratio, a.n_tokens
FROM sc a
WHERE NOT EXISTS (
  SELECT 1 FROM sc b
  WHERE b.alpha_ratio >= a.alpha_ratio AND b.n_tokens <= a.n_tokens
    AND (b.alpha_ratio > a.alpha_ratio OR b.n_tokens < a.n_tokens)
)
""",
)
def pareto_frontier_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline of documents on (maximize alpha_ratio, minimize
    n_tokens): the non-dominated quality-vs-token-cost set a budgeted
    curation sweep starts from.

    Plan: the 2-D skyline needs NO pair join — score each doc in the
    scan projection, collapse to per-quality min-tokens (quality
    rounded to 4dp ⇒ ≤10⁴ groups at ANY corpus size), one running-min
    window over that bounded relation marks the frontier, and a
    semi-join brings back the surviving doc_ids. The oracle is the
    O(n²) NOT EXISTS dominance definition — a different algorithm
    entirely, so the hash match doubles as an algebraic proof of the
    window formulation."""
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    sc = docs.select(
        "doc_id",
        F.round(F.expr(_ALPHA_EXPR), 4).alias("alpha_ratio"),
        F.regexp_count("text", F.lit("[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\\s]"))
        .cast("long")
        .alias("n_tokens"),
    )
    per_q = sc.groupBy("alpha_ratio").agg(F.min("n_tokens").alias("t_min"))
    w = Window.orderBy(F.desc("alpha_ratio")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    frontier_q = (
        per_q.withColumn("prev_min", F.min("t_min").over(w))
        .filter(F.col("prev_min").isNull() | (F.col("t_min") < F.col("prev_min")))
        .select(F.col("alpha_ratio").alias("f_q"), F.col("t_min").alias("f_t"))
    )
    return sc.join(
        F.broadcast(frontier_q),
        (sc["alpha_ratio"] == F.col("f_q")) & (sc["n_tokens"] == F.col("f_t")),
    ).select("doc_id", "alpha_ratio", "n_tokens")


@query(
    "weighted_sample_es",
    oracle=f"""
WITH keyed AS (
  SELECT doc_id, source,
         CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\\s]')) AS BIGINT) + 1
           AS w,
         ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT + 1)
            / 1152921504606846976.0)
           / (CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\\s]')) AS BIGINT) + 1)
           AS k
  FROM documents
)
SELECT doc_id, source, w, round(k, 8) + 0.0 AS es_key
FROM keyed
ORDER BY k DESC, doc_id LIMIT {ES_SAMPLE_K}
""",
)
def weighted_sample_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis–Spirakis weighted sample without replacement: k docs
    with inclusion probability ∝ token count (weight), via the
    one-pass keying u^(1/w) — here in log space, with u an md5-derived
    rational in (0,1], so the sample is a pure function of the data.

    Plan: key each doc in the scan projection (zero shuffle), then ONE
    TakeOrdered(k) — the distributed top-k that never materializes a
    global sort, the property that makes ES THE weighted-sampling
    shape for 100 TB (each partition keeps its local top-k; the driver
    merges p×k rows)."""
    docs = load_table(spark, sf_dir, "documents")
    w_col = (
        F.regexp_count("text", F.lit("[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\\s]")).cast("long") + 1
    )
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10).cast(
        "long"
    )
    u = (h + 1) / F.lit(1152921504606846976.0)  # 2^60; u ∈ (0, 1]
    keyed = docs.select(
        "doc_id",
        "source",
        w_col.alias("w"),
        (F.log(u) / w_col).alias("k"),
    )
    return (
        keyed.orderBy(F.desc("k"), "doc_id")
        .limit(ES_SAMPLE_K)
        .select("doc_id", "source", "w", (F.round("k", 8) + 0.0).alias("es_key"))
    )


# ---------------------------------------------------------------------------
# Contrastive triplet mining: (anchor, positive, negative) training
# examples for a similarity/embedding model, built ENTIRELY from
# deterministic relational ops — positives from the MinHash near-dup
# pairs, negatives from a fixed md5-ordered pool anti-joined against
# each anchor's known partners.
# ---------------------------------------------------------------------------

TRIPLET_NEG_POOL = 64  # fixed-size deterministic negative pool


def _triplets_oracle() -> str:
    from etl_jlp_spark.operators.similarity import _MINHASH_PAIRS_CTES

    return (
        _MINHASH_PAIRS_CTES
        + f"""
, partners AS (
  SELECT doc_a AS anchor, doc_b AS partner, jaccard FROM pairs
  UNION ALL
  SELECT doc_b, doc_a, jaccard FROM pairs
), pos AS (
  SELECT anchor, partner AS positive, jaccard AS pos_jaccard
  FROM (SELECT *, row_number() OVER (PARTITION BY anchor
               ORDER BY jaccard DESC, partner) AS rk FROM partners)
  WHERE rk = 1
), pool AS (
  SELECT doc_id FROM documents
  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT {TRIPLET_NEG_POOL}
), neg_cand AS (
  SELECT p.anchor, pl.doc_id AS cand
  FROM pos p CROSS JOIN pool pl
  WHERE pl.doc_id <> p.anchor
    AND NOT EXISTS (SELECT 1 FROM partners x
                    WHERE x.anchor = p.anchor AND x.partner = pl.doc_id)
), neg AS (
  SELECT anchor, cand AS negative
  FROM (SELECT *, row_number() OVER (PARTITION BY anchor
               ORDER BY md5(CAST(anchor AS VARCHAR) || ':' || CAST(cand AS VARCHAR)), cand)
               AS rk FROM neg_cand)
  WHERE rk = 1
)
SELECT pos.anchor, pos.positive, pos.pos_jaccard, neg.negative
FROM pos JOIN neg USING (anchor)
"""
    )


@query("contrastive_triplets", oracle=_triplets_oracle())
def contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(anchor, positive, negative) triplets for contrastive training:
    positive = the anchor's highest-Jaccard MinHash near-dup partner,
    negative = a deterministic draw from a fixed {N}-doc md5-ordered
    pool, anti-filtered against everything the anchor is near-dup with
    (so a negative can never be a known positive).

    Scale: anchors ∝ near-dup pairs (match-bounded); the negative pool
    is a {N}-row TakeOrdered broadcast, so negative assignment is a
    |anchors|×{N} broadcast product filtered by an anti-join — no
    corpus-sized shuffle anywhere, and every choice is md5-determined
    (reproducible across engines, partitionings and reruns)."""
    from etl_jlp_spark.operators.similarity import dedup_minhash_lsh

    # Materialize the match-bounded pair list ONCE (eager localCheckpoint,
    # graph_modularity's teardown-free variant — no CacheManager entry to
    # leak): the plan below references it four times (pos ×2, the anchor
    # projection, the anti-join's partner side), and each lazy reference
    # re-ran the full MinHash candidate+verify pipeline — 157 Exchanges
    # in the r11 before-plan, ~4 band-join executions per run (§2.4).
    pairs = dedup_minhash_lsh(spark, sf_dir).localCheckpoint(eager=True)
    partners = pairs.select(
        F.col("doc_a").alias("anchor"), F.col("doc_b").alias("partner"), "jaccard"
    ).unionAll(
        pairs.select(
            F.col("doc_b").alias("anchor"), F.col("doc_a").alias("partner"), "jaccard"
        )
    )
    wpos = Window.partitionBy("anchor").orderBy(F.desc("jaccard"), "partner")
    pos = (
        partners.withColumn("rk", F.row_number().over(wpos))
        .filter(F.col("rk") == 1)
        .select("anchor", F.col("partner").alias("positive"), F.col("jaccard").alias("pos_jaccard"))
    )
    docs = load_table(spark, sf_dir, "documents")
    pool = (
        docs.select("doc_id", F.md5(F.col("doc_id").cast("string")).alias("h"))
        .orderBy("h", "doc_id")
        .limit(TRIPLET_NEG_POOL)
        .select("doc_id")
    )
    neg_cand = (
        pos.select("anchor")
        .crossJoin(F.broadcast(pool.withColumnsRenamed({"doc_id": "cand"})))
        .filter(F.col("cand") != F.col("anchor"))
        .join(
            partners.select("anchor", F.col("partner").alias("cand")),
            ["anchor", "cand"],
            "left_anti",
        )
    )
    wneg = Window.partitionBy("anchor").orderBy(
        F.md5(F.concat(F.col("anchor").cast("string"), F.lit(":"), F.col("cand").cast("string"))),
        "cand",
    )
    neg = (
        neg_cand.withColumn("rk", F.row_number().over(wneg))
        .filter(F.col("rk") == 1)
        .select("anchor", F.col("cand").alias("negative"))
    )
    return pos.join(neg, "anchor")


contrastive_triplets.__doc__ = (contrastive_triplets.__doc__ or "").format(
    N=TRIPLET_NEG_POOL
)


# ---------------------------------------------------------------------------
# Neyman allocation — the survey-sampling optimal design for stratified
# estimation of the mean, from one exact-sufficient-stats pass.
# ---------------------------------------------------------------------------

NEYMAN_BUDGET = 1000  # total sample size to allocate across strata


@query(
    "neyman_allocation_plan",
    oracle=f"""
WITH s AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS nh,
         CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS sx,
         CAST(sum(CAST(CAST(round(value * 10000) AS BIGINT) AS DECIMAL(38,0))
                  * CAST(round(value * 10000) AS BIGINT)) AS DECIMAL(38,0)) AS sxx
  FROM events GROUP BY event_type
), sd AS (
  SELECT event_type, nh,
         sqrt((CAST(nh AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              / (CAST(nh AS DOUBLE) * (CAST(nh AS DOUBLE) - 1))) / 10000.0 AS sh
  FROM s
), tot AS (
  SELECT sum(nh) AS n_tot, sum(nh * sh) AS w_tot FROM sd
)
SELECT event_type,
       nh AS stratum_size,
       round(sh, 4) + 0.0 AS stratum_sd,
       CAST(round({NEYMAN_BUDGET} * nh * sh / w_tot) AS BIGINT) AS n_neyman,
       CAST(round({NEYMAN_BUDGET} * nh / CAST(n_tot AS DOUBLE)) AS BIGINT)
         AS n_proportional,
       round(nh * sh / w_tot - nh / CAST(n_tot AS DOUBLE), 4) + 0.0
         AS alloc_shift
FROM sd CROSS JOIN tot
""",
)
def neyman_allocation_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal allocation of a {n}-row sample across event-type
    strata — n_h ∝ N_h·S_h, the design that minimizes the variance of
    the stratified mean of `value` — next to proportional allocation
    and the shift between them (a high-variance stratum earns more than
    its population share; that shift IS the payoff of knowing S_h).
    This is the design-stage complement of stratified_sample /
    per_source_sample_k, which EXECUTE a given allocation.

    One combinable aggregate builds per-stratum (N_h, Σx, Σx²) with
    e4-scaled exact sums (DECIMAL(38,0) second order — the
    plans/regression.py contract), so S_h is closed-form and
    bit-identical in both engines; everything after the agg is algebra
    over |strata| rows."""
    ev = load_table(spark, sf_dir, "events")
    x = F.round(F.col("value") * 10000).cast("long")
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("nh"),
        F.sum(x).cast("long").alias("sx"),
        F.sum(x.cast("decimal(38,0)") * x).cast("decimal(38,0)").alias("sxx"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    sd = s.select(
        "event_type",
        "nh",
        (
            F.sqrt(
                (d("nh") * d("sxx") - d("sx") * d("sx")) / (d("nh") * (d("nh") - 1))
            )
            / 10000.0
        ).alias("sh"),
    )
    tot = sd.agg(
        F.sum("nh").alias("n_tot"), F.sum(F.col("nh") * F.col("sh")).alias("w_tot")
    )
    return sd.crossJoin(F.broadcast(tot)).select(
        "event_type",
        F.col("nh").alias("stratum_size"),
        (F.round("sh", 4) + 0.0).alias("stratum_sd"),
        F.round(NEYMAN_BUDGET * F.col("nh") * F.col("sh") / F.col("w_tot"))
        .cast("long")
        .alias("n_neyman"),
        F.round(NEYMAN_BUDGET * F.col("nh") / F.col("n_tot").cast("double"))
        .cast("long")
        .alias("n_proportional"),
        (
            F.round(
                F.col("nh") * F.col("sh") / F.col("w_tot")
                - F.col("nh") / F.col("n_tot").cast("double"),
                4,
            )
            + 0.0
        ).alias("alloc_shift"),
    )


neyman_allocation_plan.__doc__ = (neyman_allocation_plan.__doc__ or "").format(
    n=NEYMAN_BUDGET
)


# ---------------------------------------------------------------------------
# PPS systematic sampling: probability-proportional-to-size selection
# of parts by revenue with midpoint systematic thresholds — the
# classical survey-sampling design next to weighted_sample_es (ES is
# per-row randomized; systematic PPS is the zero-RNG, fixed-interval
# design auditors can replay by hand).
# ---------------------------------------------------------------------------

PPS_N_SEL = 25  # systematic draws


@query(
    "pps_systematic_sample",
    oracle=f"""
WITH part_rev AS (
  SELECT l_partkey,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
              AS BIGINT) AS rev
  FROM lineitem GROUP BY 1
), ranked AS (
  SELECT l_partkey, rev,
         sum(rev) OVER (ORDER BY l_partkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(rev) OVER () AS total
  FROM part_rev
), ks AS (
  SELECT CAST(unnest(range({PPS_N_SEL})) AS BIGINT) AS k
), sel AS (
  SELECT r.l_partkey, r.rev, ks.k
  FROM ranked r JOIN ks
    ON 2 * {PPS_N_SEL} * (r.cum - r.rev) < (2 * ks.k + 1) * r.total
   AND (2 * ks.k + 1) * r.total <= 2 * {PPS_N_SEL} * r.cum
)
SELECT l_partkey, round(rev / 100.0, 2) + 0.0 AS revenue,
       CAST(count(*) AS BIGINT) AS times_selected,
       CAST(min(k) AS BIGINT) AS first_draw
FROM sel GROUP BY 1, 2
""",
)
def pps_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic probability-proportional-to-size sample of
    {N} parts by exact cents revenue: parts laid on the cumulative
    revenue line in partkey order; draw k selects the part whose
    cumulative interval contains the midpoint threshold
    (2k+1)·T/(2n). Selection is decided by INTEGER cross-products
    (2n·cum vs (2k+1)·T), so boundary hits resolve identically in
    both engines and the design is replayable with no RNG; a part
    larger than one interval is selected multiple times
    (times_selected), the textbook PPS behavior.

    Plan: fact table reduces to part grain first; the cumulative
    window is over |parts| (two-phase cumsum is the documented
    cluster-scale fallback); the threshold join is |parts| × n_sel
    with an AQE-broadcast 25-row side."""
    li = load_table(spark, sf_dir, "lineitem")
    part_rev = li.groupBy("l_partkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long"))
        .cast("long")
        .alias("rev")
    )
    w_cum = Window.orderBy("l_partkey").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = part_rev.select(
        "l_partkey",
        "rev",
        F.sum("rev").over(w_cum).alias("cum"),
        F.sum("rev").over(Window.partitionBy()).alias("total"),
    )
    ks = spark.range(PPS_N_SEL).select(F.col("id").alias("k"))
    cond = (
        (2 * PPS_N_SEL * (F.col("cum") - F.col("rev")) < (2 * F.col("k") + 1) * F.col("total"))
        & ((2 * F.col("k") + 1) * F.col("total") <= 2 * PPS_N_SEL * F.col("cum"))
    )
    sel = ranked.join(F.broadcast(ks), cond)
    return sel.groupBy("l_partkey", F.round(F.col("rev") / 100.0, 2).alias("revenue")).agg(
        F.count(F.lit(1)).cast("long").alias("times_selected"),
        F.min("k").cast("long").alias("first_draw"),
    )


pps_systematic_sample.__doc__ = (pps_systematic_sample.__doc__ or "").format(N=PPS_N_SEL)
