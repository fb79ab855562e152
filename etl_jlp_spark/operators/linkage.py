"""Record linkage: edit-distance similarity join with partition-based
(PassJoin-style) candidate generation.

The reference platform deduplicates browsing history on EXACT column
equality (dwh_lab/dwh/preprocessing_streaming_incremental_load.py:103,
``remove_duplicates_browsing_history``); real crawled/user-entered keys
also need FUZZY matching — "the same title, give or take a few typos".
A naive edit-distance join is O(n²) levenshtein calls; at 100 TB that
is never an option.

Candidate generation is the partition scheme of PassJoin (Li/Deng/
Wang/Feng, PVLDB 2011): split every indexed key into K+1 segments; if
ed(a, b) ≤ K then by pigeonhole at least one of b's K+1 segments is
untouched by the edit script, and it appears in `a` VERBATIM at a
position shifted by at most K (the net length change of the prefix
edits). So the probe enumerates, for every candidate target length lb
∈ [la−K, la+K] and every segment position, the ≤ 2K+1 aligned
substrings of `a` — a bounded, data-independent ≤ (2K+1)·(K+1)·(2K+1)
keys per key — and candidates are an EQUI-join on (seg_id, lb,
segment_text). Exact ``levenshtein`` verifies candidates only; the
free length filter (|la−lb| ≤ K lower-bounds edit distance) rides
along.

Why not q-gram prefix filtering (Ed-Join): its "rare gram" assumption
collapses on small-alphabet corpora — this repo's own scale rehearsal
caught the degeneracy (3-gram vocabulary saturates at ~375 grams on
the synthetic corpus, average document frequency 461 at sf0.1 → the
candidate join went quadratic). Segment values are an order of
magnitude longer (≈10 chars), so their frequency stays flat as the
corpus grows (measured avg df 2.2 at sf0.1); candidate volume scales
with true-match density, not corpus².

Plan shape: one segment-keyed equi-join (high-cardinality key), one
distinct, one verify join — no cross join, no window over a skewed
key. The per-key probe expansion is a pure array expression (JVM-side,
zero shuffles until the join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_jlp_spark import stores
from etl_jlp_spark.catalog import load_table, read_parquet, widen
from etl_jlp_spark.registry import query

FUZZY_PFX_LEN = 40  # the linkage key: first chars of the document text
FUZZY_K = 3  # max edit distance
FUZZY_SEGS = FUZZY_K + 1  # pigeonhole partition count
FUZZY_MIN_LEN = FUZZY_SEGS  # shorter keys have empty segments — excluded


def _keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, pfx): the fuzzy-match key. Keys shorter than K+1 chars
    are excluded on BOTH sides (oracle mirrors this)."""
    docs = load_table(spark, sf_dir, "documents")
    keys = docs.select(
        "doc_id", F.substring("text", 1, FUZZY_PFX_LEN).alias("pfx")
    ).filter(F.length("pfx") >= FUZZY_MIN_LEN)
    return widen(spark, keys, sf_dir, "documents", "doc_id")


# segment i of an L-length key: start 1 + i*(L div S) + min(i, L mod S)
# (1-based), length (L div S) + (i < L mod S) — even split, remainder
# spread over the leading segments
_INDEX_SEGS = f"""
transform(sequence(0, {FUZZY_SEGS - 1}), i -> named_struct(
  'seg_id', i,
  'lb', length(pfx),
  'seg', substring(pfx,
            1 + i * (length(pfx) div {FUZZY_SEGS}) + least(i, length(pfx) % {FUZZY_SEGS}),
            (length(pfx) div {FUZZY_SEGS}) + if(i < length(pfx) % {FUZZY_SEGS}, 1, 0))))
"""

# static (seg_id, lb-offset, shift) grid: (K+1)·(2K+1)² combos. The
# probe used to be one nested transform/filter/flatten/array_distinct
# higher-order expression over these — interpreted PER ELEMENT, and
# measured as ~5 s of the query's 8 s at sf0.1. Exploding the constant
# grid first and computing the substring per exploded row keeps every
# op inside whole-stage codegen; the trailing dropDuplicates replays
# array_distinct's per-doc (seg_id, lb, seg) dedup so the candidate
# join sees the identical probe set.
_PROBE_COMBOS = ", ".join(
    f"named_struct('seg_id', {i}, 'dl', {dl}, 'd', {d})"
    for i in range(FUZZY_SEGS)
    for dl in range(-FUZZY_K, FUZZY_K + 1)
    for d in range(-FUZZY_K, FUZZY_K + 1)
)


def _probe_segments(keys, id_alias: str):
    """(id, seg_id, lb, seg): every PassJoin probe substring of each
    key — all shifted segment windows for every plausible partner
    length lb ∈ [max(MIN_LEN, len−K), len+K]."""
    s = FUZZY_SEGS
    start0 = F.expr(f"seg_id * (lb div {s}) + least(seg_id, lb % {s}) + d")
    seglen = F.expr(f"(lb div {s}) + if(seg_id < lb % {s}, 1, 0)")
    return (
        keys.select(
            F.col("doc_id").alias(id_alias),
            "pfx",
            F.explode(F.expr(f"array({_PROBE_COMBOS})")).alias("c"),
        )
        .select(
            id_alias,
            "pfx",
            F.col("c.seg_id").alias("seg_id"),
            (F.length("pfx") + F.col("c.dl")).alias("lb"),
            F.col("c.d").alias("d"),
        )
        .filter(F.col("lb") >= FUZZY_MIN_LEN)
        .withColumn("p0", start0)
        .withColumn("sl", seglen)
        .filter((F.col("p0") >= 0) & (F.col("p0") + F.col("sl") <= F.length("pfx")))
        .select(
            id_alias,
            "seg_id",
            "lb",
            F.expr("substring(pfx, 1 + p0, sl)").alias("seg"),
        )
        .dropDuplicates([id_alias, "seg_id", "lb", "seg"])
    )


@query(
    "fuzzy_join_editdist",
    oracle=f"""
WITH d AS (
  SELECT doc_id, substr(text, 1, {FUZZY_PFX_LEN}) AS pfx
  FROM documents
  WHERE length(substr(text, 1, {FUZZY_PFX_LEN})) >= {FUZZY_MIN_LEN}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(levenshtein(a.pfx, b.pfx) AS BIGINT) AS dist
FROM d a JOIN d b
  ON a.doc_id < b.doc_id
 AND abs(length(a.pfx) - length(b.pfx)) <= {FUZZY_K}
 AND levenshtein(a.pfx, b.pfx) <= {FUZZY_K}
""",
)
def fuzzy_join_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All document pairs whose {FUZZY_PFX_LEN}-char text prefix is
    within edit distance K — typo-tolerant linkage of near-identical
    titles/keys. Candidates via the PassJoin segment partition (see
    module doc); exact levenshtein verifies. The oracle brute-forces
    the same join, so the hash match doubles as a completeness proof
    of the partition scheme."""
    keys = _keys(spark, sf_dir)
    idx = keys.select(
        F.col("doc_id").alias("doc_b"), F.explode(F.expr(_INDEX_SEGS)).alias("s")
    ).select("doc_b", "s.seg_id", "s.lb", "s.seg")
    probe = _probe_segments(keys, "doc_a")
    cand = (
        probe.join(idx, ["seg_id", "lb", "seg"])
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"),
        )
        .distinct()
    )
    ka = keys.select(F.col("doc_id").alias("doc_a"), F.col("pfx").alias("pfx_a"))
    kb = keys.select(F.col("doc_id").alias("doc_b"), F.col("pfx").alias("pfx_b"))
    return (
        cand.join(ka, "doc_a")
        .join(kb, "doc_b")
        .filter(
            (F.abs(F.length("pfx_a") - F.length("pfx_b")) <= FUZZY_K)
            & (F.levenshtein("pfx_a", "pfx_b") <= FUZZY_K)
        )
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("pfx_a", "pfx_b").cast("bigint").alias("dist"),
        )
    )


# incremental-linkage batch split: md5(doc_id)[:2] < '28' (~16%) is the
# "arriving batch"; the rest is the already-indexed corpus (same split
# protocol as dedup_minhash_prebuilt)
FUZZY_BATCH_HEX = "28"


FUZZY_STORE = stores.Family(
    "fj", ("segs", "keys"), "documents", f"fj-v1-{FUZZY_K}-{FUZZY_BATCH_HEX}"
)


def ensure_fuzzy_store(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Materialize the existing corpus's PassJoin index once: the
    segment relation (seg_id, lb, seg, doc_id) probes equi-join
    against, and the key relation (doc_id, pfx) verification reads."""
    paths = FUZZY_STORE.paths(sf_dir)
    if FUZZY_STORE.built(*paths):
        return paths
    existing = _keys(spark, sf_dir).filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) >= FUZZY_BATCH_HEX
    )
    segs = existing.select(
        F.col("doc_id"), F.explode(F.expr(_INDEX_SEGS)).alias("s")
    ).select("doc_id", "s.seg_id", "s.lb", "s.seg")
    for path, df in zip(paths, (segs, existing)):
        stores.publish(path, df.write.mode("overwrite").parquet)
    return paths


@query(
    "fuzzy_join_prebuilt",
    oracle=f"""
WITH d AS (
  SELECT doc_id, substr(text, 1, {FUZZY_PFX_LEN}) AS pfx
  FROM documents
  WHERE length(substr(text, 1, {FUZZY_PFX_LEN})) >= {FUZZY_MIN_LEN}
), split AS (
  SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{FUZZY_BATCH_HEX}' AS is_new
  FROM documents
)
SELECT n.doc_id AS doc_new, o.doc_id AS doc_old,
       CAST(levenshtein(n.pfx, o.pfx) AS BIGINT) AS dist
FROM d n JOIN split sn ON sn.doc_id = n.doc_id AND sn.is_new
JOIN d o ON abs(length(n.pfx) - length(o.pfx)) <= {FUZZY_K}
        AND levenshtein(n.pfx, o.pfx) <= {FUZZY_K}
JOIN split so ON so.doc_id = o.doc_id AND NOT so.is_new
""",
)
def fuzzy_join_prebuilt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental linkage — the production shape: the existing
    corpus's PassJoin segment index is built ONCE
    (``ensure_fuzzy_store``); an arriving batch (~16% md5 slice)
    expands only ITS OWN probe substrings, equi-joins the stored
    segments, and verifies by exact levenshtein against the STORED
    keys — indexed text is never re-read or re-segmented at probe
    time. Output: (doc_new, doc_old, dist ≤ K) pairs telling the
    pipeline which arriving docs are typo-level duplicates of
    already-kept ones. Same brute-force oracle contract as
    fuzzy_join_editdist, restricted to the batch × corpus split."""
    segs_path, keys_path = ensure_fuzzy_store(spark, sf_dir)
    batch = _keys(spark, sf_dir).filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < FUZZY_BATCH_HEX
    )
    probe = _probe_segments(batch, "doc_new")
    idx = read_parquet(spark, segs_path).withColumnRenamed("doc_id", "doc_old")
    cand = probe.join(idx, ["seg_id", "lb", "seg"]).select("doc_new", "doc_old").distinct()
    kn = batch.select(F.col("doc_id").alias("doc_new"), F.col("pfx").alias("pfx_n"))
    ko = read_parquet(spark, keys_path).select(
        F.col("doc_id").alias("doc_old"), F.col("pfx").alias("pfx_o")
    )
    return (
        cand.join(kn, "doc_new")
        .join(ko, "doc_old")
        .filter(
            (F.abs(F.length("pfx_n") - F.length("pfx_o")) <= FUZZY_K)
            & (F.levenshtein("pfx_n", "pfx_o") <= FUZZY_K)
        )
        .select(
            "doc_new",
            "doc_old",
            F.levenshtein("pfx_n", "pfx_o").cast("bigint").alias("dist"),
        )
    )


BLOCK_PFX = 8  # prefix-blocking key length
BLOCK_LEN_BAND = 5  # length-band width


def _blocking_strategies():
    """(name, duckdb_expr, spark_col_fn) per blocking scheme, over the
    SAME pfx key universe the fuzzy join links on."""
    return [
        (
            "prefix8",
            f"substr(pfx, 1, {BLOCK_PFX})",
            lambda: F.substring("pfx", 1, BLOCK_PFX),
        ),
        (
            "length_band",
            f"CAST(length(pfx) // {BLOCK_LEN_BAND} AS VARCHAR)",
            lambda: (F.length("pfx").cast("long") / BLOCK_LEN_BAND).cast("long").cast("string"),
        ),
        (
            "prefix8_len",
            f"substr(pfx, 1, {BLOCK_PFX}) || ':' || CAST(length(pfx) AS VARCHAR)",
            lambda: F.concat_ws(":", F.substring("pfx", 1, BLOCK_PFX), F.length("pfx").cast("string")),
        ),
    ]


_ER_KEYS_CTE = f"""
keys AS (
  SELECT doc_id, substr(text, 1, {FUZZY_PFX_LEN}) AS pfx
  FROM documents WHERE length(substr(text, 1, {FUZZY_PFX_LEN})) >= {FUZZY_MIN_LEN}
)"""


def _er_oracle() -> str:
    branches = []
    for name, expr, _ in _blocking_strategies():
        branches.append(f"""
SELECT '{name}' AS strategy,
       CAST(count(*) AS BIGINT) AS n_blocks,
       CAST(max(k) AS BIGINT) AS max_block_size,
       CAST(sum(k * (k - 1) / 2) AS BIGINT) AS n_candidate_pairs,
       round(1.0 - sum(k * (k - 1) / 2)
             / ((SELECT count(*) FROM keys) * ((SELECT count(*) FROM keys) - 1) / 2.0), 6)
         AS reduction_ratio
FROM (SELECT {expr} AS bkey, CAST(count(*) AS BIGINT) AS k FROM keys GROUP BY 1)""")
    return f"WITH {_ER_KEYS_CTE}" + " UNION ALL ".join(branches)


@query("entity_resolution_blocking", oracle=_er_oracle())
def entity_resolution_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-scheme comparison — the sizing table every record-
    linkage deployment builds BEFORE committing to a scheme: for each
    candidate blocking key (8-char prefix, length band, prefix+length)
    over the SAME key universe the fuzzy join links on, the block
    count, the largest block (the skew that decides the worst task),
    the candidate-pair volume Σ k(k-1)/2 (the verify-join cost), and
    the reduction ratio vs the n(n-1)/2 all-pairs baseline. PassJoin
    (the registered fuzzy join) replaces all of these at verify time —
    this report is how you PROVE that on your own key distribution.

    Plan: one #keys-sized projection feeding three map-side-combinable
    group-counts (one per scheme) plus a 1-row total, unioned into a
    3-row report. No pair ever materializes — the pair count is
    arithmetic over block sizes."""
    keys = _keys(spark, sf_dir).persist()
    n_total = keys.count()
    all_pairs = n_total * (n_total - 1) / 2.0
    outs = []
    for name, _expr, col_fn in _blocking_strategies():
        blocks = keys.groupBy(col_fn().alias("bkey")).agg(
            F.count(F.lit(1)).cast("long").alias("k")
        )
        outs.append(
            blocks.agg(
                F.lit(name).alias("strategy"),
                F.count(F.lit(1)).cast("long").alias("n_blocks"),
                F.max("k").cast("long").alias("max_block_size"),
                F.sum(F.col("k") * (F.col("k") - 1) / 2).cast("long").alias("n_candidate_pairs"),
                F.round(
                    F.lit(1.0) - F.sum(F.col("k") * (F.col("k") - 1) / 2) / F.lit(all_pairs),
                    6,
                ).alias("reduction_ratio"),
            )
        )
    result = outs[0]
    for o in outs[1:]:
        result = result.unionAll(o)
    keys.unpersist()
    return result


# ---------------------------------------------------------------------------
# Fellegi-Sunter field weights from value-frequency tables.
# ---------------------------------------------------------------------------

FS_M_PROB = 0.95  # assumed P(field agrees | true match) — stable-field prior
FS_ROUND = 6


@query(
    "fellegi_sunter_weights",
    oracle=f"""
WITH vals AS (
  SELECT 'nation' AS field, CAST(c_nationkey AS VARCHAR) AS v FROM customer
  UNION ALL
  SELECT 'mktsegment', c_mktsegment FROM customer
  UNION ALL
  SELECT 'acctbal_band', CAST(CAST(floor(c_acctbal / 1000) AS BIGINT) AS VARCHAR)
  FROM customer
  UNION ALL
  SELECT 'name_tail2', substr(c_name, length(c_name) - 1, 2) FROM customer
), freq AS (
  SELECT field, v, CAST(count(*) AS BIGINT) AS c FROM vals GROUP BY 1, 2
), per AS (
  SELECT field,
         CAST(count(*) AS BIGINT) AS n_distinct,
         CAST(sum(c) AS BIGINT) AS n,
         CAST(sum(CAST(c AS DECIMAL(38,0)) * (c - 1)) AS DECIMAL(38,0)) AS agree_pairs
  FROM freq GROUP BY 1
)
SELECT field, n_distinct,
       round(CAST(agree_pairs AS DOUBLE)
             / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)), {FS_ROUND}) + 0.0 AS u_prob,
       CAST({FS_M_PROB} AS DOUBLE) AS m_prob,
       round(log2({FS_M_PROB} / (CAST(agree_pairs AS DOUBLE)
             / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)))), {FS_ROUND}) + 0.0
         AS agree_weight,
       round(log2((1 - {FS_M_PROB}) / (1 - CAST(agree_pairs AS DOUBLE)
             / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)))), {FS_ROUND}) + 0.0
         AS disagree_weight
FROM per
""",
)
def fellegi_sunter_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter (JASA 1969) match/non-match field weights from
    value-frequency tables: u = P(two RANDOM records agree on the
    field) = Σ_v c_v(c_v−1) / N(N−1) (exact, from the frequency
    table), m = the stable-field prior {m}; agreement weight
    log2(m/u) and disagreement weight log2((1−m)/(1−u)) are the
    per-field log-likelihood contributions a probabilistic linker
    sums over compared fields before thresholding. High-cardinality
    fields (name_tail2) earn large agreement weights; a nation match
    is worth little — THE sizing table for composing match rules on
    top of the PassJoin candidate join (fuzzy_join_editdist).

    Plan: ONE customer scan stacked into (field, value) rows
    (JVM-side explode, no UNION re-scans), one map-side-combinable
    (field, value) agg, one 4-row rollup. Pair counts run in
    DECIMAL(38,0) — c² overflows int64 on low-cardinality fields at
    warehouse row counts."""
    cust = load_table(spark, sf_dir, "customer")
    stacked = cust.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("nation").alias("field"),
                    F.col("c_nationkey").cast("string").alias("v"),
                ),
                F.struct(
                    F.lit("mktsegment").alias("field"),
                    F.col("c_mktsegment").alias("v"),
                ),
                F.struct(
                    F.lit("acctbal_band").alias("field"),
                    F.floor(F.col("c_acctbal") / 1000).cast("long").cast("string").alias("v"),
                ),
                F.struct(
                    F.lit("name_tail2").alias("field"),
                    F.substring(F.col("c_name"), -2, 2).alias("v"),
                ),
            )
        ).alias("fv")
    ).select("fv.field", "fv.v")
    freq = stacked.groupBy("field", "v").agg(F.count(F.lit(1)).cast("long").alias("c"))
    per = freq.groupBy("field").agg(
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("c").cast("decimal(38,0)") * (F.col("c") - 1))
        .cast("decimal(38,0)")
        .alias("agree_pairs"),
    )
    nd = F.col("n").cast("double")
    u = F.col("agree_pairs").cast("double") / (nd * (nd - 1))
    return per.select(
        "field",
        "n_distinct",
        F.round(u, FS_ROUND).alias("u_prob"),
        F.lit(FS_M_PROB).alias("m_prob"),
        F.round(F.log2(FS_M_PROB / u), FS_ROUND).alias("agree_weight"),
        F.round(F.log2((1 - FS_M_PROB) / (1 - u)), FS_ROUND).alias("disagree_weight"),
    )
