"""Data-profiling operators: functional-dependency discovery and
column information content — the Deequ/TANE-style checks a warehouse
runs before trusting keys, building dimensions, or choosing
clustering columns.

- ``fd_profile_report``: for candidate (determinant → dependent)
  pairs, the FD satisfaction rate = Σ_lhs max_rhs(count) / N — the
  fraction of rows consistent with the strongest RHS per LHS value
  (1.0 ⟺ the FD holds exactly; a primary key scores 1.0 against every
  column). All-integer arithmetic until one final division.

- ``column_entropy_report``: Shannon entropy (nats) + distinct count
  per column — the "is this worth indexing / is this column constant"
  number, and the input to choosing z-order dimensions
  (operators/layout.py wants high-entropy columns).

Scale shape: each candidate pair/column is ONE map-side-combinable
groupBy over a projected scan; everything downstream is
value-cardinality-sized. Reports are a UNION of per-candidate 1-row
relations — Spark evaluates them as independent jobs over shared
scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_jlp_spark.catalog import load_table
from etl_jlp_spark.registry import query

# candidate FDs over events: a true key FD, a strong-but-inexact one,
# and a clearly-false one — the report must separate all three
FD_CANDIDATES = [
    ("event_id", "user_id"),  # PK → anything: exact
    ("user_id", "event_type"),  # users repeat types: inexact
    ("event_type", "user_id"),  # reverse: near-uniform, weak
]

ENTROPY_COLS = ["event_type", "user_id", "event_id"]


def fd_confidence(df: DataFrame, lhs: str, rhs: str) -> DataFrame:
    """1-row FD profile for lhs → rhs (see module docstring)."""
    pair = df.groupBy(lhs, rhs).agg(F.count(F.lit(1)).alias("c"))
    per_lhs = pair.groupBy(lhs).agg(
        F.max("c").alias("max_c"), F.sum("c").alias("n_c"), F.count(F.lit(1)).alias("n_rhs")
    )
    return per_lhs.agg(
        F.lit(lhs).alias("determinant"),
        F.lit(rhs).alias("dependent"),
        F.sum("n_c").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_lhs"),
        F.sum("n_rhs").cast("long").alias("n_pairs"),
        (F.sum("max_c") == F.sum("n_c")).alias("exact_fd"),
        F.round(F.sum("max_c") / F.sum("n_c").cast("double"), 6).alias("fd_confidence"),
    )


def _fd_oracle() -> str:
    parts = []
    for lhs, rhs in FD_CANDIDATES:
        parts.append(f"""
SELECT '{lhs}' AS determinant, '{rhs}' AS dependent,
       CAST(sum(n_c) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_lhs,
       CAST(sum(n_rhs) AS BIGINT) AS n_pairs,
       sum(max_c) = sum(n_c) AS exact_fd,
       round(sum(max_c) / CAST(sum(n_c) AS DOUBLE), 6) AS fd_confidence
FROM (
  SELECT {lhs}, max(c) AS max_c, sum(c) AS n_c, count(*) AS n_rhs
  FROM (SELECT {lhs}, {rhs}, count(*) AS c FROM events GROUP BY 1, 2)
  GROUP BY 1
)""")
    return " UNION ALL ".join(parts)


@query("fd_profile_report", oracle=_fd_oracle())
def fd_profile_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FD satisfaction rate for each candidate determinant → dependent
    pair over events (TANE's g3-style error, reported as confidence).
    event_id → user_id must score exactly 1.0 (primary key); the other
    candidates quantify HOW functional the relationship is — the
    number that justifies a dimension split or a denormalization."""
    ev = load_table(spark, sf_dir, "events")
    out = None
    for lhs, rhs in FD_CANDIDATES:
        one = fd_confidence(ev, lhs, rhs)
        out = one if out is None else out.unionByName(one)
    return out


def _entropy_oracle() -> str:
    parts = []
    for c in ENTROPY_COLS:
        parts.append(f"""
SELECT '{c}' AS column_name,
       CAST(sum(c) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_distinct,
       round(-sum((c / CAST(total AS DOUBLE)) * ln(c / CAST(total AS DOUBLE))), 4)
         + 0.0 AS entropy_nats,
       round(count(*) / CAST(sum(c) AS DOUBLE), 6) AS distinct_ratio
FROM (
  SELECT c, sum(c) OVER () AS total
  FROM (SELECT {c}, count(*) AS c FROM events GROUP BY 1)
)""")
    return " UNION ALL ".join(parts)


@query("column_entropy_report", oracle=_entropy_oracle())
def column_entropy_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (nats) + distinct count + distinct ratio per
    profiled events column: 0 ⟺ constant column, ln(n_distinct) ⟺
    uniform key — the ranking signal for z-order dimension choice and
    dictionary-encoding decisions.

    Plan: one combinable groupBy per column; the p·ln p sum runs over
    the value-cardinality relation (≤ |distinct|), with the total as a
    1-row broadcast window. Entropy of a PK column costs a |rows|
    groupBy — same cost class as any distinct count."""
    ev = load_table(spark, sf_dir, "events")
    out = None
    for c in ENTROPY_COLS:
        counts = ev.groupBy(c).agg(F.count(F.lit(1)).alias("c"))
        tot = counts.agg(F.sum("c").alias("total"))
        p = F.col("c") / F.col("total").cast("double")
        one = counts.crossJoin(F.broadcast(tot)).agg(
            F.lit(c).alias("column_name"),
            F.sum("c").cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            (F.round(-F.sum(p * F.log(p)), 4) + 0.0).alias("entropy_nats"),
            F.round(
                F.count(F.lit(1)) / F.sum("c").cast("double"), 6
            ).alias("distinct_ratio"),
        )
        out = one if out is None else out.unionByName(one)
    return out


# ---------------------------------------------------------------------------
# Per-entity behavioral entropy + equi-depth histogram — the profiling
# pair the column-level reports don't cover: HOW diverse each user's
# behavior is (a bot replays one event type; entropy ≈ 0), and where
# the value mass actually sits (equi-depth deciles adapt to skew that
# fixed-width value_histogram bins smear).
# ---------------------------------------------------------------------------

EQUIDEPTH_BUCKETS = 10


@query(
    "user_event_entropy",
    oracle="""
WITH counts AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
), tot AS (
  SELECT user_id, c, sum(c) OVER (PARTITION BY user_id) AS total,
         count(*) OVER (PARTITION BY user_id) AS n_types
  FROM counts
)
SELECT user_id,
       CAST(max(total) AS BIGINT) AS n_events,
       CAST(max(n_types) AS BIGINT) AS n_types,
       round(-sum((c / CAST(total AS DOUBLE)) * ln(c / CAST(total AS DOUBLE))), 4)
         + 0.0 AS entropy_nats
FROM tot GROUP BY user_id
""",
)
def user_event_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (nats) of each user's event-type mix, with
    event and distinct-type counts — the single-number behavioral
    diversity signal (≈0 flags single-action bots/replays; ln(#types)
    is the uniform ceiling). Same p·ln p shape as
    column_entropy_report, keyed per user: one combinable groupBy to
    (user, type) counts, per-user totals as a partition window over
    the ≤|types|-row groups, never a second scan."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("user_id")
    tot = counts.select(
        "user_id",
        "c",
        F.sum("c").over(w).alias("total"),
        F.count(F.lit(1)).over(w).alias("n_types"),
    )
    p = F.col("c") / F.col("total").cast("double")
    return tot.groupBy("user_id").agg(
        F.max("total").cast("long").alias("n_events"),
        F.max("n_types").cast("long").alias("n_types"),
        (F.round(-F.sum(p * F.log(p)), 4) + 0.0).alias("entropy_nats"),
    )


@query(
    "equidepth_histogram",
    oracle=f"""
WITH ranked AS (
  SELECT value, ntile({EQUIDEPTH_BUCKETS}) OVER (ORDER BY value, event_id) AS bucket
  FROM events
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       round(min(value), 2) AS lo,
       round(max(value), 2) AS hi
FROM ranked GROUP BY bucket
""",
)
def equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth deciles of the event value: ``EQUIDEPTH_BUCKETS``
    buckets of (near-)equal row count with their value ranges — the
    skew-adaptive complement to the fixed-width value_histogram, and
    the boundary source for range-partition tuning. ntile over the
    unique (value, event_id) order is engine-identical.

    Scale: the exact form global-sorts once (rangepartitioning —
    Spark samples boundaries, so data is NOT funneled through one
    task, but the sort is still the cost). At 100 TB the swap-in is
    approx_percentile boundaries + a bin-assign projection, same
    output shape; the exact form is the correctness anchor."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.orderBy("value", "event_id")
    return (
        ev.select("value", F.ntile(EQUIDEPTH_BUCKETS).over(w).alias("bucket"))
        .groupBy(F.col("bucket").cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.min("value"), 2).alias("lo"),
            F.round(F.max("value"), 2).alias("hi"),
        )
    )


@query(
    "event_weekday_mi",
    oracle="""
WITH base AS (
  SELECT event_type AS x, CAST(isodow(CAST(ts AS DATE)) AS BIGINT) AS y FROM events
), cells AS (
  SELECT x, y, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY 1, 2
), m AS (
  SELECT x, y, c,
         sum(c) OVER (PARTITION BY x) AS rx,
         sum(c) OVER (PARTITION BY y) AS ry,
         sum(c) OVER () AS total
  FROM cells
), mi AS (
  SELECT CAST(max(total) AS BIGINT) AS n_events,
         CAST(count(*) AS BIGINT) AS n_cells,
         sum((c / CAST(total AS DOUBLE)) * ln((c * total) / CAST(rx * ry AS DOUBLE)))
           AS mi
  FROM m
), hx AS (
  SELECT -sum((cx / CAST(t AS DOUBLE)) * ln(cx / CAST(t AS DOUBLE))) AS h
  FROM (SELECT x, sum(c) AS cx, sum(sum(c)) OVER () AS t FROM cells GROUP BY x)
), hy AS (
  SELECT -sum((cy / CAST(t AS DOUBLE)) * ln(cy / CAST(t AS DOUBLE))) AS h
  FROM (SELECT y, sum(c) AS cy, sum(sum(c)) OVER () AS t FROM cells GROUP BY y)
)
SELECT n_events, n_cells,
       round(mi, 4) + 0.0 AS mi_nats,
       round((SELECT h FROM hx), 4) + 0.0 AS h_event_type,
       round((SELECT h FROM hy), 4) + 0.0 AS h_weekday,
       round(mi / sqrt((SELECT h FROM hx) * (SELECT h FROM hy)), 4) + 0.0 AS nmi
FROM mi
""",
)
def event_weekday_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (nats) between event type and ISO weekday,
    with the two marginal entropies and the normalized MI — the
    dependence detector for categorical column pairs (0 ⟺ behavior is
    day-independent), extending the per-column entropy report to
    pairwise structure.

    Plan: ONE combinable groupBy to the ≤|x|·|y| contingency cells;
    margins are windows over that tiny relation; the fact table is
    scanned once. Same shape profiles any categorical pair at any
    scale — cost is the groupBy, output is O(cells)."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        F.col("event_type").alias("x"),
        (F.weekday(F.to_date("ts")) + 1).cast("long").alias("y"),
    )
    cells = base.groupBy("x", "y").agg(F.count(F.lit(1)).cast("long").alias("c"))
    m = cells.select(
        "x",
        "y",
        "c",
        F.sum("c").over(Window.partitionBy("x")).alias("rx"),
        F.sum("c").over(Window.partitionBy("y")).alias("ry"),
        F.sum("c").over(Window.partitionBy()).alias("total"),
    )
    mi = m.agg(
        F.max("total").cast("long").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum(
            (F.col("c") / F.col("total").cast("double"))
            * F.log((F.col("c") * F.col("total")) / (F.col("rx") * F.col("ry")).cast("double"))
        ).alias("mi"),
    )

    def _marg(col: str) -> DataFrame:
        cx = cells.groupBy(col).agg(F.sum("c").alias("cx"))
        cx = cx.select("cx", F.sum("cx").over(Window.partitionBy()).alias("t"))
        p = F.col("cx") / F.col("t").cast("double")
        return cx.agg((-F.sum(p * F.log(p))).alias("h"))

    hx = _marg("x").select(F.col("h").alias("h_x"))
    hy = _marg("y").select(F.col("h").alias("h_y"))
    return (
        mi.crossJoin(F.broadcast(hx))
        .crossJoin(F.broadcast(hy))
        .select(
            "n_events",
            "n_cells",
            (F.round("mi", 4) + 0.0).alias("mi_nats"),
            (F.round("h_x", 4) + 0.0).alias("h_event_type"),
            (F.round("h_y", 4) + 0.0).alias("h_weekday"),
            (F.round(F.col("mi") / F.sqrt(F.col("h_x") * F.col("h_y")), 4) + 0.0).alias("nmi"),
        )
    )


# candidate key combos over events: the true PK, a plausible composite,
# a near-key, and a clearly non-unique combo — the report must order them
KEY_CANDIDATES = [
    ["event_id"],
    ["user_id", "ts"],
    ["user_id", "event_type", "ts"],
    ["event_type", "ts"],
]


def _candidate_key_oracle() -> str:
    parts = []
    for combo in KEY_CANDIDATES:
        name = "+".join(combo)
        cols = ", ".join(combo)
        parts.append(f"""
SELECT '{name}' AS candidate,
       (SELECT CAST(count(*) AS BIGINT) FROM events) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_distinct,
       count(*) = (SELECT count(*) FROM events) AS is_key,
       round(count(*) * 1.0 / (SELECT count(*) FROM events), 6) AS uniqueness
FROM (SELECT DISTINCT {cols} FROM events)""")
    return " UNION ALL ".join(parts)


@query("candidate_key_report", oracle=_candidate_key_oracle())
def candidate_key_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-key discovery over events: for each column combo, its
    distinct-combination count, exact-key verdict, and uniqueness
    ratio — the profiling step before trusting a natural key or
    choosing a merge key (complements fd_profile_report's pairwise
    FDs with multi-column uniqueness).

    Plan: one distinct-count aggregate per candidate (map-side
    combinable); at 100 TB swap approx_count_distinct per candidate
    into ONE pass — same output shape, documented error bound."""
    ev = load_table(spark, sf_dir, "events")
    # lazy scalar (the oracle's subquery): an eager ev.count() here
    # would scan events at plan-construction time
    tot = ev.agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    out = None
    for combo in KEY_CANDIDATES:
        one = (
            ev.select(*combo)
            .distinct()
            .agg(
                F.lit("+".join(combo)).alias("candidate"),
                F.count(F.lit(1)).cast("long").alias("n_distinct"),
            )
            .crossJoin(F.broadcast(tot))
        )
        out = one if out is None else out.unionByName(one)
    return out.select(
        "candidate",
        "n_rows",
        "n_distinct",
        (F.col("n_distinct") == F.col("n_rows")).alias("is_key"),
        F.round(F.col("n_distinct") * 1.0 / F.col("n_rows"), 6).alias("uniqueness"),
    )


# ---------------------------------------------------------------------------
# Value-mask profiling: collapse every value to its character-class
# shape (digit runs → '9', letter runs → 'A') and rank the shapes.
# The classic data-profiling primitive (Potter's-Wheel-style structure
# discovery): dominant masks document the de-facto format of a column,
# and low-share stragglers ARE the malformed rows a format check
# should quarantine. Complements quality_format_check (which tests a
# KNOWN format) by discovering the format instead.
# ---------------------------------------------------------------------------

MASK_COLUMNS = [
    ("customer", "c_name"),
    ("supplier", "s_name"),
    ("part", "p_brand"),
    ("part", "p_type"),
    ("orders", "o_orderpriority"),
]
MASK_TOP = 3


def _mask_sql(expr: str) -> str:
    return (
        f"regexp_replace(regexp_replace({expr}, '[0-9]+', '9', 'g'),"
        f" '[A-Za-z]+', 'A', 'g')"
    )


def _mask_col(col) -> F.Column:
    return F.regexp_replace(F.regexp_replace(col, "[0-9]+", "9"), "[A-Za-z]+", "A")


_MASK_UNION_SQL = " UNION ALL ".join(
    f"SELECT '{t}' AS tbl, '{c}' AS col, {_mask_sql(c)} AS mask FROM {t}"
    for t, c in MASK_COLUMNS
)


@query(
    "value_mask_profile",
    oracle=f"""
WITH masked AS ({_MASK_UNION_SQL}),
counts AS (
  SELECT tbl, col, mask, CAST(count(*) AS BIGINT) AS n
  FROM masked GROUP BY 1, 2, 3
), ranked AS (
  SELECT tbl, col, mask, n,
         CAST(row_number() OVER (PARTITION BY tbl, col ORDER BY n DESC, mask) AS INT) AS rk,
         sum(n) OVER (PARTITION BY tbl, col) AS tot
  FROM counts
)
SELECT tbl, col, mask, n, rk, round(n / CAST(tot AS DOUBLE), 4) AS share
FROM ranked WHERE rk <= {MASK_TOP}
""",
)
def value_mask_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{top} character-class masks per profiled column (digit runs
    → ``9``, letter runs → ``A``), with counts and share — format
    discovery across customer/supplier names, part brand/type, and
    order priority.

    Plan: per column, mask is a codegen regexp projection feeding a
    map-side-combinable (tbl, col, mask) count; the rank window runs
    over the mask-cardinality-bounded count relation (masks collapse
    the value space, so this is small no matter the row count). The
    per-table scans are unioned AFTER aggregation — each table is read
    once, pruned to the one profiled column.""".replace("{top}", str(MASK_TOP))
    out = None
    for t, c in MASK_COLUMNS:
        tbl = load_table(spark, sf_dir, t)
        one = (
            tbl.select(_mask_col(F.col(c)).alias("mask"))
            .groupBy("mask")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .select(F.lit(t).alias("tbl"), F.lit(c).alias("col"), "mask", "n")
        )
        out = one if out is None else out.unionByName(one)
    w = Window.partitionBy("tbl", "col")
    ranked = out.select(
        "tbl",
        "col",
        "mask",
        "n",
        F.row_number().over(w.orderBy(F.desc("n"), "mask")).cast("int").alias("rk"),
        F.sum("n").over(w).alias("tot"),
    )
    return ranked.filter(F.col("rk") <= MASK_TOP).select(
        "tbl", "col", "mask", "n", "rk",
        F.round(F.col("n") / F.col("tot").cast("double"), 4).alias("share"),
    )


# ---------------------------------------------------------------------------
# k-anonymity: the re-identification-risk report that pairs with the
# erasure machinery in ingest/maintenance.py. A row is k-anonymous if
# its quasi-identifier combination is shared by ≥ k rows; classes
# below k are the joinable fingerprints an attacker links to external
# data. QIs here: (event_type, day, value decile) — the columns a
# "de-identified" analytics export would plausibly keep.
# ---------------------------------------------------------------------------

K_ANON_THRESHOLDS = [2, 5, 10]
_K_ANON_QS = [round(0.1 * i, 1) for i in range(1, 10)]


@query(
    "k_anonymity_report",
    oracle=f"""
WITH b AS (
  SELECT quantile_cont(value, [{", ".join(str(q) for q in _K_ANON_QS)}]) AS bs
  FROM events
), deciled AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         len(list_filter(b.bs, x -> x < value)) AS vdec
  FROM events CROSS JOIN b
), classes AS (
  SELECT event_type, day, vdec, CAST(count(*) AS BIGINT) AS cls_n
  FROM deciled GROUP BY 1, 2, 3
), th AS (SELECT unnest([{", ".join(str(k) for k in K_ANON_THRESHOLDS)}]) AS k)
SELECT t.k,
       CAST((SELECT count(*) FROM classes) AS BIGINT) AS n_classes,
       CAST((SELECT min(cls_n) FROM classes) AS BIGINT) AS min_class_size,
       CAST(count(*) FILTER (WHERE c.cls_n < t.k) AS BIGINT) AS n_classes_at_risk,
       CAST(coalesce(sum(c.cls_n) FILTER (WHERE c.cls_n < t.k), 0) AS BIGINT)
         AS n_rows_at_risk,
       round(coalesce(sum(c.cls_n) FILTER (WHERE c.cls_n < t.k), 0)
             / CAST((SELECT sum(cls_n) FROM classes) AS DOUBLE), 4)
         AS rows_at_risk_share
FROM th t CROSS JOIN classes c
GROUP BY t.k
""",
)
def k_anonymity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of the (event_type, day, value-decile)
    quasi-identifier: for k ∈ {ks}, how many equivalence classes and
    rows fall below k — the release-gate number privacy reviews ask
    for before an export ships, next to the erasure operators this
    repo already carries.

    Plan: value deciles come from ONE percentile aggregate whose 9
    boundaries broadcast onto the scan as a codegen bucket expression
    (count of boundaries < value) — NO global ntile window, so there
    is no single-partition sort to die at 100 TB (the rehearsal
    measured the windowed variant 2.3× at 10× events; this shape keeps
    the only wide operation a combinable class count). Thresholds ride
    a 3-row broadcast cross join over the class-bounded relation.""".replace(
        "{ks}", "{" + ", ".join(str(k) for k in K_ANON_THRESHOLDS) + "}"
    )
    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(
        F.expr(
            "percentile(value, array(" + ", ".join(str(q) for q in _K_ANON_QS) + "))"
        ).alias("bs")
    )
    deciled = ev.crossJoin(F.broadcast(b)).select(
        "event_type",
        F.to_date("ts").alias("day"),
        F.size(F.filter("bs", lambda x: x < F.col("value"))).alias("vdec"),
    )
    classes = deciled.groupBy("event_type", "day", "vdec").agg(
        F.count(F.lit(1)).cast("long").alias("cls_n")
    ).localCheckpoint(eager=False)
    th = spark.createDataFrame([(k,) for k in K_ANON_THRESHOLDS], "k int")
    joined = F.broadcast(th).crossJoin(classes)
    return (
        joined.groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_classes"),
            F.min("cls_n").cast("long").alias("min_class_size"),
            F.sum(F.when(F.col("cls_n") < F.col("k"), 1).otherwise(0))
            .cast("long")
            .alias("n_classes_at_risk"),
            F.sum(F.when(F.col("cls_n") < F.col("k"), F.col("cls_n")).otherwise(0))
            .cast("long")
            .alias("n_rows_at_risk"),
            F.round(
                F.sum(F.when(F.col("cls_n") < F.col("k"), F.col("cls_n")).otherwise(0))
                / F.sum("cls_n").cast("double"),
                4,
            ).alias("rows_at_risk_share"),
        )
    )


# ---------------------------------------------------------------------------
# Cramér's V association matrix between categorical order dimensions.
# ---------------------------------------------------------------------------

CRAMERS_ROUND = 6


@query(
    "cramers_v_matrix",
    oracle=f"""
WITH cube_c AS (
  SELECT o_orderpriority AS pri, o_orderstatus AS st,
         CAST(year(o_orderdate) AS BIGINT) AS yr,
         CAST(count(*) AS BIGINT) AS n
  FROM orders GROUP BY 1, 2, 3
), pairs AS (
  SELECT 'priority~status' AS pair, pri AS a, st AS b, CAST(sum(n) AS BIGINT) AS n
  FROM cube_c GROUP BY 2, 3
  UNION ALL
  SELECT 'priority~year', pri, CAST(yr AS VARCHAR), CAST(sum(n) AS BIGINT)
  FROM cube_c GROUP BY 2, 3
  UNION ALL
  SELECT 'status~year', st, CAST(yr AS VARCHAR), CAST(sum(n) AS BIGINT)
  FROM cube_c GROUP BY 2, 3
), ma AS (
  SELECT pair, a, CAST(sum(n) AS BIGINT) AS na FROM pairs GROUP BY 1, 2
), mb AS (
  SELECT pair, b, CAST(sum(n) AS BIGINT) AS nb FROM pairs GROUP BY 1, 2
), mt AS (
  SELECT pair, CAST(sum(n) AS BIGINT) AS nt FROM pairs GROUP BY 1
), marg AS (
  -- FULL a x b cross per pair so unobserved cells contribute their
  -- expected mass to chi-square (observed-only would understate it)
  SELECT ma.pair, ma.a, mb.b, CAST(COALESCE(p.n, 0) AS BIGINT) AS n,
         ma.na, mb.nb, mt.nt
  FROM ma JOIN mb ON ma.pair = mb.pair
  JOIN mt ON mt.pair = ma.pair
  LEFT JOIN pairs p ON p.pair = ma.pair AND p.a = ma.a AND p.b = mb.b
), chi AS (
  SELECT pair,
         sum((CAST(n AS DOUBLE) - CAST(na AS DOUBLE) * nb / nt)
             * (CAST(n AS DOUBLE) - CAST(na AS DOUBLE) * nb / nt)
             / (CAST(na AS DOUBLE) * nb / nt)) AS chi2,
         max(nt) AS nt,
         CAST(count(DISTINCT a) AS BIGINT) AS r, CAST(count(DISTINCT b) AS BIGINT) AS c
  FROM marg GROUP BY 1
)
SELECT pair, r AS n_rows_dim, c AS n_cols_dim,
       round(chi2, 4) + 0.0 AS chi2,
       round(sqrt(chi2 / (CAST(nt AS DOUBLE) * (least(r, c) - 1))), {CRAMERS_ROUND})
         + 0.0 AS cramers_v
FROM chi
""",
)
def cramers_v_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V (bias-uncorrected) for every pair of the categorical
    order dimensions (priority, status, order year): the
    scale-free 0..1 association strength that says WHICH dimensions
    are redundant before a model or a cube design treats them as
    independent (priority_mix_chisq tests ONE pair for drift; this is
    the profiling matrix).

    Plan: ONE orders scan builds the (priority, status, year) cube
    (≤ |pri|·|st|·|yr| cells); every pairwise contingency table and
    its margins derive from cube sums — adding dimensions never adds
    scans. The contingency table is the FULL margin cross (bounded by
    category cardinalities), so unobserved cells contribute their
    expected mass; expected counts are always > 0 because both margins
    are."""
    cube = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("pri"),
            F.col("o_orderstatus").alias("st"),
            F.year("o_orderdate").cast("long").alias("yr"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    outs = []
    for pair, ca, cb in (
        ("priority~status", F.col("pri"), F.col("st")),
        ("priority~year", F.col("pri"), F.col("yr").cast("string")),
        ("status~year", F.col("st"), F.col("yr").cast("string")),
    ):
        outs.append(
            cube.groupBy(ca.alias("a"), cb.alias("b"))
            .agg(F.sum("n").cast("long").alias("n"))
            .select(F.lit(pair).alias("pair"), "a", "b", "n")
        )
    pairs = outs[0].unionAll(outs[1]).unionAll(outs[2])
    ma = pairs.groupBy("pair", "a").agg(F.sum("n").cast("long").alias("na"))
    mb = pairs.groupBy("pair", "b").agg(F.sum("n").cast("long").alias("nb"))
    mt = pairs.groupBy("pair").agg(F.sum("n").cast("long").alias("nt"))
    # full a x b cross per pair: unobserved cells must contribute their
    # expected mass to chi-square (bounded: <= |a| x |b| cells per pair)
    marg = (
        ma.join(mb, "pair")
        .join(F.broadcast(mt), "pair")
        .join(pairs, ["pair", "a", "b"], "left")
        .select(
            "pair", "a", "b",
            F.coalesce("n", F.lit(0)).cast("long").alias("n"),
            "na", "nb", "nt",
        )
    )
    e = F.col("na").cast("double") * F.col("nb") / F.col("nt")
    chi = marg.groupBy("pair").agg(
        F.sum((F.col("n").cast("double") - e) * (F.col("n").cast("double") - e) / e).alias(
            "chi2"
        ),
        F.max("nt").alias("nt"),
        F.countDistinct("a").cast("long").alias("r"),
        F.countDistinct("b").cast("long").alias("c"),
    )
    return chi.select(
        "pair",
        F.col("r").alias("n_rows_dim"),
        F.col("c").alias("n_cols_dim"),
        F.round("chi2", 4).alias("chi2"),
        F.round(
            F.sqrt(
                F.col("chi2")
                / (F.col("nt").cast("double") * (F.least("r", "c") - F.lit(1)))
            ),
            CRAMERS_ROUND,
        ).alias("cramers_v"),
    )


# ---------------------------------------------------------------------------
# l-diversity — the audit AFTER k-anonymity: big-enough classes can
# still leak when everyone in them shares the sensitive value.
# ---------------------------------------------------------------------------

L_DIV_THRESHOLDS = [2, 3, 5]


@query(
    "l_diversity_report",
    oracle=f"""
WITH b AS (
  SELECT quantile_cont(value, [{", ".join(str(q) for q in _K_ANON_QS)}]) AS bs
  FROM events
), deciled AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         len(list_filter(b.bs, x -> x < value)) AS vdec
  FROM events CROSS JOIN b
), classes AS (
  SELECT event_type, day,
         CAST(count(*) AS BIGINT) AS cls_n,
         CAST(count(DISTINCT vdec) AS BIGINT) AS l
  FROM deciled GROUP BY 1, 2
), th AS (SELECT unnest([{", ".join(str(l) for l in L_DIV_THRESHOLDS)}]) AS l_min)
SELECT t.l_min,
       CAST((SELECT count(*) FROM classes) AS BIGINT) AS n_classes,
       CAST((SELECT min(l) FROM classes) AS BIGINT) AS min_l,
       CAST(count(*) FILTER (WHERE c.l < t.l_min) AS BIGINT) AS n_classes_at_risk,
       CAST(coalesce(sum(c.cls_n) FILTER (WHERE c.l < t.l_min), 0) AS BIGINT)
         AS n_rows_at_risk,
       round(coalesce(sum(c.cls_n) FILTER (WHERE c.l < t.l_min), 0)
             / CAST((SELECT sum(cls_n) FROM classes) AS DOUBLE), 4)
         AS rows_at_risk_share
FROM th t CROSS JOIN classes c
GROUP BY t.l_min
""",
)
def l_diversity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit over the (event_type, day) quasi-identifier
    with the value decile as the sensitive attribute: per threshold
    l ∈ {ls}, the classes whose sensitive attribute takes FEWER than l
    distinct values and the rows exposed by them — the leak
    k-anonymity cannot see (a class of 10,000 rows is k-safe and still
    tells an attacker the sensitive value exactly when all 10,000
    agree). Pairs with k_anonymity_report as the second release gate.

    Plan: same broadcast decile bucketing as the k-anonymity twin (no
    global ntile sort), ONE class aggregate carrying both the class
    size and the distinct-sensitive count, thresholds on a 3-row
    broadcast.""".replace(
        "{ls}", "{" + ", ".join(str(l) for l in L_DIV_THRESHOLDS) + "}"
    )
    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(
        F.expr(
            "percentile(value, array(" + ", ".join(str(q) for q in _K_ANON_QS) + "))"
        ).alias("bs")
    )
    deciled = ev.crossJoin(F.broadcast(b)).select(
        "event_type",
        F.to_date("ts").alias("day"),
        F.size(F.filter("bs", lambda x: x < F.col("value"))).alias("vdec"),
    )
    classes = deciled.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("long").alias("cls_n"),
        F.count_distinct("vdec").cast("long").alias("l"),
    ).localCheckpoint(eager=False)
    th = spark.createDataFrame([(l,) for l in L_DIV_THRESHOLDS], "l_min int")
    tot = classes.agg(
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.min("l").cast("long").alias("min_l"),
        F.sum("cls_n").cast("double").alias("tot_rows"),
    )
    return (
        F.broadcast(th)
        .crossJoin(classes)
        .groupBy("l_min")
        .agg(
            F.count_if(F.col("l") < F.col("l_min")).cast("long").alias("n_classes_at_risk"),
            F.coalesce(F.sum(F.when(F.col("l") < F.col("l_min"), F.col("cls_n"))), F.lit(0))
            .cast("long")
            .alias("n_rows_at_risk"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "l_min",
            "n_classes",
            "min_l",
            "n_classes_at_risk",
            "n_rows_at_risk",
            F.round(F.col("n_rows_at_risk") / F.col("tot_rows"), 4).alias(
                "rows_at_risk_share"
            ),
        )
    )


# ---------------------------------------------------------------------------
# t-closeness — the third privacy gate: a class can be k-big and
# l-diverse and still leak by its sensitive DISTRIBUTION being far
# from the table's.
# ---------------------------------------------------------------------------

T_CLOSE_THRESHOLDS = ["0.2", "0.3", "0.5"]  # EMD bounds (decimal strings)


@query(
    "t_closeness_report",
    oracle=f"""
WITH b AS (
  SELECT quantile_cont(value, [{", ".join(str(q) for q in _K_ANON_QS)}]) AS bs
  FROM events
), deciled AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         len(list_filter(b.bs, x -> x < value)) AS vdec
  FROM events CROSS JOIN b
), decs AS (SELECT unnest(range(10)) AS vdec),
cls AS (SELECT event_type, day, CAST(count(*) AS BIGINT) AS cls_n
        FROM deciled GROUP BY 1, 2),
cell AS (
  SELECT event_type, day, vdec, CAST(count(*) AS BIGINT) AS c
  FROM deciled GROUP BY 1, 2, 3
), gdist AS (
  SELECT vdec, sum(c) AS g, sum(sum(c)) OVER () AS n FROM cell GROUP BY vdec
), grid AS (
  SELECT k.event_type, k.day, k.cls_n, d.vdec,
         coalesce(c.c, 0) / CAST(k.cls_n AS DOUBLE) AS p,
         g.g / CAST(g.n AS DOUBLE) AS q
  FROM cls k CROSS JOIN decs d
  LEFT JOIN cell c ON c.event_type = k.event_type AND c.day = k.day
                  AND c.vdec = d.vdec
  JOIN gdist g ON g.vdec = d.vdec
), emd AS (
  SELECT event_type, day, any_value(cls_n) AS cls_n,
         round(sum(abs(cum)) / 9.0, 6) AS t FROM (
    SELECT event_type, day, cls_n, vdec,
           sum(p - q) OVER (PARTITION BY event_type, day ORDER BY vdec) AS cum
    FROM grid
  ) GROUP BY event_type, day
), th AS (SELECT unnest([{", ".join(f"CAST({t} AS DOUBLE)" for t in T_CLOSE_THRESHOLDS)}]) AS t_max)
SELECT th.t_max,
       CAST((SELECT count(*) FROM emd) AS BIGINT) AS n_classes,
       round((SELECT max(t) FROM emd), 6) + 0.0 AS max_t,
       CAST(count(*) FILTER (WHERE e.t > th.t_max) AS BIGINT) AS n_classes_at_risk,
       CAST(coalesce(sum(e.cls_n) FILTER (WHERE e.t > th.t_max), 0) AS BIGINT)
         AS n_rows_at_risk
FROM th CROSS JOIN emd e
GROUP BY th.t_max
""",
)
def t_closeness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit completing the privacy trio: per
    (event_type, day) class, the Earth-Mover's Distance between the
    class's sensitive-decile distribution and the TABLE's (ordered
    attribute ⇒ EMD = mean |cumulative difference|, Li et al. ICDE'07
    §3), then per threshold t the classes whose distribution drifts
    further — the skew leak that survives BOTH k-anonymity (class is
    big) and l-diversity (all values present, one dominates).

    Plan: the same broadcast decile bucketing; cells = one class×decile
    agg; the dense grid is classes × 10 via a broadcast decile spine
    (absent cells must contribute p=0 — a LEFT join, the classic EMD
    bug is dropping them); EMD is a 10-row bounded window per class."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(
        F.expr(
            "percentile(value, array(" + ", ".join(str(q) for q in _K_ANON_QS) + "))"
        ).alias("bs")
    )
    deciled = ev.crossJoin(F.broadcast(b)).select(
        "event_type",
        F.to_date("ts").alias("day"),
        F.size(F.filter("bs", lambda x: x < F.col("value"))).alias("vdec"),
    )
    cell = deciled.groupBy("event_type", "day", "vdec").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ).localCheckpoint(eager=False)
    cls = cell.groupBy("event_type", "day").agg(F.sum("c").cast("long").alias("cls_n"))
    glob = cell.groupBy("vdec").agg(F.sum("c").alias("g")).select(
        "vdec", "g", F.sum("g").over(Window.partitionBy()).alias("n")
    )
    decs = spark.range(10).select(F.col("id").cast("bigint").alias("vdec"))
    grid = (
        cls.crossJoin(F.broadcast(decs))
        .join(cell, ["event_type", "day", "vdec"], "left")
        .join(F.broadcast(glob), "vdec")
        .select(
            "event_type",
            "day",
            "cls_n",
            "vdec",
            (F.coalesce("c", F.lit(0)) / F.col("cls_n").cast("double")).alias("p"),
            (F.col("g") / F.col("n").cast("double")).alias("q"),
        )
    )
    wc = Window.partitionBy("event_type", "day").orderBy("vdec")
    emd = (
        grid.withColumn("cum", F.sum(F.col("p") - F.col("q")).over(wc))
        .groupBy("event_type", "day")
        .agg(
            F.any_value("cls_n").alias("cls_n"),
            F.round(F.sum(F.abs("cum")) / 9.0, 6).alias("t"),
        )
        .localCheckpoint(eager=False)
    )
    th = spark.createDataFrame(
        [(float(t),) for t in T_CLOSE_THRESHOLDS], "t_max double"
    )
    tot = emd.agg(
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        (F.round(F.max("t"), 6) + 0.0).alias("max_t"),
    )
    return (
        F.broadcast(th)
        .crossJoin(emd)
        .groupBy("t_max")
        .agg(
            F.count_if(F.col("t") > F.col("t_max")).cast("long").alias("n_classes_at_risk"),
            F.coalesce(F.sum(F.when(F.col("t") > F.col("t_max"), F.col("cls_n"))), F.lit(0))
            .cast("long")
            .alias("n_rows_at_risk"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "t_max", "n_classes", "max_t", "n_classes_at_risk", "n_rows_at_risk"
        )
    )


# ---------------------------------------------------------------------------
# Histogram bin-width advisor: Freedman–Diaconis and Sturges rules per
# numeric metric — the question every histogram operator
# (value_histogram, equidepth_histogram, docs_length_histogram) leaves
# open: HOW MANY bins should downstream dashboards use?
# ---------------------------------------------------------------------------

FD_ROUND = 6


def _fd_metric_sql(metric: str, table: str, expr: str) -> str:
    return f"""
  SELECT '{metric}' AS metric,
         CAST(count(*) AS BIGINT) AS n,
         CAST(min(x) AS BIGINT) AS vmin,
         CAST(max(x) AS BIGINT) AS vmax,
         quantile_cont(x, 0.25) AS q1,
         quantile_cont(x, 0.75) AS q3
  FROM (SELECT {expr} AS x FROM {table})
"""


_FD_METRICS = [
    ("event_value_cents", "events", "CAST(round(value * 100) AS BIGINT)"),
    ("order_totalprice_cents", "orders", "CAST(round(o_totalprice * 100) AS BIGINT)"),
    ("lineitem_quantity", "lineitem", "CAST(round(l_quantity) AS BIGINT)"),
]


@query(
    "freedman_diaconis_bins",
    oracle=f"""
WITH stats AS (
{" UNION ALL ".join(_fd_metric_sql(m, t, e) for m, t, e in _FD_METRICS)}
)
SELECT metric, n, vmin, vmax,
       round(q1, 2) + 0.0 AS q1, round(q3, 2) + 0.0 AS q3,
       round(2.0 * (q3 - q1) / cbrt(n), {FD_ROUND}) + 0.0 AS fd_bin_width,
       CAST(ceil((vmax - vmin) / (2.0 * (q3 - q1) / cbrt(n))) AS BIGINT) AS fd_bins,
       CAST(ceil(log2(n)) + 1 AS BIGINT) AS sturges_bins
FROM stats
""",
)
def freedman_diaconis_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bin-count advisor per numeric metric (event value cents, order
    totalprice cents, lineitem quantity): exact quartiles → IQR →
    Freedman–Diaconis width 2·IQR·n^(−1/3) and the implied bin count,
    with Sturges ⌈log₂n⌉+1 as the small-n cross-check. Quartiles are
    interpolated over INTEGER domains, so q1/q3 land on exact .0/.25/
    .5/.75 doubles in both engines; the width/count are single double
    expressions from identical operands.

    Plan: three independent single-pass aggs (one per table), each
    map-side-combinable, unioned into a 3-row report — column-pruned
    scans read exactly one column per table."""
    parts = []
    specs = [
        ("event_value_cents", "events", F.round(F.col("value") * 100).cast("long")),
        ("order_totalprice_cents", "orders", F.round(F.col("o_totalprice") * 100).cast("long")),
        ("lineitem_quantity", "lineitem", F.round("l_quantity").cast("long")),
    ]
    for metric, table, expr in specs:
        t = load_table(spark, sf_dir, table).select(expr.alias("x"))
        parts.append(
            t.agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.min("x").cast("long").alias("vmin"),
                F.max("x").cast("long").alias("vmax"),
                F.expr("percentile(x, 0.25D)").alias("q1"),
                F.expr("percentile(x, 0.75D)").alias("q3"),
            ).select(F.lit(metric).alias("metric"), "*")
        )
    stats = parts[0].unionAll(parts[1]).unionAll(parts[2])
    width = 2.0 * (F.col("q3") - F.col("q1")) / F.cbrt("n")
    return stats.select(
        "metric",
        "n",
        "vmin",
        "vmax",
        F.round("q1", 2).alias("q1"),
        F.round("q3", 2).alias("q3"),
        F.round(width, FD_ROUND).alias("fd_bin_width"),
        F.ceil((F.col("vmax") - F.col("vmin")) / width).cast("long").alias("fd_bins"),
        (F.ceil(F.log2("n")) + 1).cast("long").alias("sturges_bins"),
    )


# ---------------------------------------------------------------------------
# Missingness co-occurrence on the enriched customer-360: when a LEFT
# JOIN enrichment layer is built (events activity, purchase recency,
# returns history onto the customer dim), which enrichments are missing
# TOGETHER? The phi coefficient between nullity indicators separates
# "one upstream feed is the common cause" (phi → 1, fix one ingest)
# from independent coverage gaps (phi ≈ 0, fix each) — the first
# question a missing-data triage asks, asked of the join layer itself.
# ---------------------------------------------------------------------------


@query(
    "enrichment_null_pattern",
    oracle="""
WITH ev AS (
  SELECT user_id,
         max(ts) AS last_event_ts,
         max(CASE WHEN event_type = 'purchase' THEN ts END) AS last_purchase_ts
  FROM events GROUP BY user_id
), ret AS (
  SELECT o.o_custkey, min(o.o_orderdate) AS first_return_order_date
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_returnflag = 'R' GROUP BY o.o_custkey
), c360 AS (
  SELECT CASE WHEN ev.last_event_ts IS NULL THEN 1 ELSE 0 END AS a,
         CASE WHEN ev.last_purchase_ts IS NULL THEN 1 ELSE 0 END AS b,
         CASE WHEN ret.first_return_order_date IS NULL THEN 1 ELSE 0 END AS c
  FROM customer cu
  LEFT JOIN ev ON ev.user_id = cu.c_custkey
  LEFT JOIN ret ON ret.o_custkey = cu.c_custkey
), s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(a) AS BIGINT) AS na, CAST(sum(b) AS BIGINT) AS nb,
         CAST(sum(c) AS BIGINT) AS nc,
         CAST(sum(a * b) AS BIGINT) AS nab,
         CAST(sum(a * c) AS BIGINT) AS nac,
         CAST(sum(b * c) AS BIGINT) AS nbc
  FROM c360
), pairs AS (
  SELECT 'last_event_ts' AS col_a, 'last_purchase_ts' AS col_b,
         n, na AS null_a, nb AS null_b, nab AS both_null FROM s
  UNION ALL
  SELECT 'last_event_ts', 'first_return_order_date', n, na, nc, nac FROM s
  UNION ALL
  SELECT 'last_purchase_ts', 'first_return_order_date', n, nb, nc, nbc FROM s
)
SELECT col_a, col_b, n, null_a, null_b, both_null,
       CASE WHEN null_a > 0 AND null_a < n AND null_b > 0 AND null_b < n THEN
         round((CAST(n AS DOUBLE) * both_null - CAST(null_a AS DOUBLE) * null_b)
               / sqrt(CAST(null_a AS DOUBLE) * (n - null_a) * null_b * (n - null_b)),
               6) + 0.0
       END AS phi,
       CASE WHEN null_a + null_b - both_null > 0 THEN
         round(CAST(both_null AS DOUBLE) / (null_a + null_b - both_null), 6)
       END AS jaccard_null
FROM pairs
""",
)
def enrichment_null_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise nullity co-occurrence (phi coefficient + missing-set
    Jaccard) of the three customer-360 enrichment columns: events
    activity (``last_event_ts``), purchase recency
    (``last_purchase_ts``) and returns history
    (``first_return_order_date``).

    Scale shape: two map-side-combinable fact aggregates (events by
    user — BOTH recency columns from the one scan; returned lineitems
    joined to orders, grouped by customer) LEFT-JOINed onto the
    customer dim co-keyed on the customer key, then ONE 1-row
    indicator-sum aggregate; the 3 output pair rows are projections of
    that single row (no second scan). Counts are exact integers; phi
    and Jaccard are one guarded division each, so both engines emit
    identical doubles (NULL when an indicator is constant)."""
    ev = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max("ts").alias("last_event_ts"),
            F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
                "last_purchase_ts"
            ),
        )
    )
    ret = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_returnflag") == "R")
        .select("l_orderkey")
        .join(
            load_table(spark, sf_dir, "orders").select(
                "o_orderkey", "o_custkey", "o_orderdate"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_custkey")
        .agg(F.min("o_orderdate").alias("first_return_order_date"))
    )
    cu = load_table(spark, sf_dir, "customer").select("c_custkey")
    c360 = (
        cu.join(ev, cu["c_custkey"] == ev["user_id"], "left")
        .join(ret, cu["c_custkey"] == ret["o_custkey"], "left")
        .select(
            F.col("last_event_ts").isNull().cast("long").alias("a"),
            F.col("last_purchase_ts").isNull().cast("long").alias("b"),
            F.col("first_return_order_date").isNull().cast("long").alias("c"),
        )
    )
    s = c360.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("a").cast("long").alias("na"),
        F.sum("b").cast("long").alias("nb"),
        F.sum("c").cast("long").alias("nc"),
        F.sum(F.col("a") * F.col("b")).cast("long").alias("nab"),
        F.sum(F.col("a") * F.col("c")).cast("long").alias("nac"),
        F.sum(F.col("b") * F.col("c")).cast("long").alias("nbc"),
    ).localCheckpoint(eager=True)  # 1 row, projected into 3 pair rows
    pair_specs = [
        ("last_event_ts", "last_purchase_ts", "na", "nb", "nab"),
        ("last_event_ts", "first_return_order_date", "na", "nc", "nac"),
        ("last_purchase_ts", "first_return_order_date", "nb", "nc", "nbc"),
    ]
    out = None
    for col_a, col_b, a_, b_, ab_ in pair_specs:
        part = s.select(
            F.lit(col_a).alias("col_a"),
            F.lit(col_b).alias("col_b"),
            "n",
            F.col(a_).alias("null_a"),
            F.col(b_).alias("null_b"),
            F.col(ab_).alias("both_null"),
        )
        out = part if out is None else out.unionByName(part)
    n, na, nb, ab = (F.col(x) for x in ("n", "null_a", "null_b", "both_null"))
    phi = (n.cast("double") * ab - na.cast("double") * nb) / F.sqrt(
        na.cast("double") * (n - na) * nb * (n - nb)
    )
    return out.select(
        "col_a",
        "col_b",
        "n",
        "null_a",
        "null_b",
        "both_null",
        F.when(
            (na > 0) & (na < n) & (nb > 0) & (nb < n), F.round(phi, 6)
        ).alias("phi"),
        F.when(
            na + nb - ab > 0, F.round(ab.cast("double") / (na + nb - ab), 6)
        ).alias("jaccard_null"),
    )
