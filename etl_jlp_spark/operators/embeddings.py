"""Embedding-column analytics: norm stats, label centroids, nearest-
centroid assignment.

The evaluation layer of an embedding pipeline (complementing the
dedup/ANN operators in operators/similarity.py): per-class geometry
stats and a centroid-purity confusion table. All vector math stays
JVM-side; the only Python-lambda expressions (zip_with/aggregate dots
against runtime centroid arrays) run over #vectors × #labels rows —
the pre-reduced small side — never over raw × raw pairs.

Float parity: dots are sequential-sum expressions matching DuckDB's
list_dot_product bit-for-bit; centroid components are rounded to 6 dp
before distances so both engines rank identical values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_jlp_spark.catalog import load_table, read_parquet, widen
from etl_jlp_spark.functions.vectors import as_double_array, static_dot
from etl_jlp_spark.registry import query


def _emb_dim(emb: DataFrame) -> int:
    return len(emb.select("embedding").head()[0])


@query(
    "embedding_norm_stats",
    oracle="""
WITH e AS (
  SELECT label, sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                      CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings)
SELECT label,
       CAST(count(*) AS BIGINT) AS n,
       round(avg(nrm), 4) AS avg_norm,
       round(min(nrm), 4) AS min_norm,
       round(max(nrm), 4) AS max_norm
FROM e GROUP BY label
""",
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label L2-norm distribution — the first sanity check on any
    embedding table (collapsed or exploding norms ⇒ upstream bug).
    One narrow projection + one tiny groupBy."""
    emb = load_table(spark, sf_dir, "embeddings")
    dim = _emb_dim(emb)
    v = as_double_array(F.col("embedding"))
    nrm = F.sqrt(static_dot(v, v, dim))
    return (
        emb.select("label", nrm.alias("nrm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.avg("nrm"), 4).alias("avg_norm"),
            F.round(F.min("nrm"), 4).alias("min_norm"),
            F.round(F.max("nrm"), 4).alias("max_norm"),
        )
    )


@query(
    "embedding_label_centroids",
    oracle="""
WITH x AS (
  SELECT label, unnest(embedding) AS x,
         generate_subscripts(embedding, 1) AS dim
  FROM embeddings)
SELECT label, CAST(dim AS INTEGER) AS dim,
       round(avg(CAST(x AS DOUBLE)), 4) + 0.0 AS centroid
FROM x GROUP BY label, dim
""",
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid, one row per (label, dimension). posexplode
    fans each vector into #dim rows; the aggregate reduces map-side so
    the shuffle carries ≤ #labels × #dim groups per partition."""
    emb = widen(
        spark, load_table(spark, sf_dir, "embeddings"), sf_dir, "embeddings"
    )
    return (
        emb.select("label", F.posexplode(as_double_array(F.col("embedding"))).alias("pos", "x"))
        .groupBy("label", (F.col("pos") + 1).cast("int").alias("dim"))
        # + 0.0 normalizes IEEE -0.0 (round can emit it and the two
        # engines disagree on the sign of a zero mean)
        .agg((F.round(F.avg("x"), 4) + F.lit(0.0)).alias("centroid"))
    )


@query(
    "nearest_centroid_assign",
    oracle="""
WITH x AS (
  SELECT label, unnest(embedding) AS x,
         generate_subscripts(embedding, 1) AS dim
  FROM embeddings
), comps AS (
  SELECT label, CAST(dim AS INTEGER) AS dim,
         round(avg(CAST(x AS DOUBLE)), 6) AS m
  FROM x GROUP BY label, dim
), cent AS (
  SELECT label AS cent_label, list(m ORDER BY dim) AS c FROM comps GROUP BY cent_label
), e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), scored AS (
  SELECT e.vec_id, e.label, cent.cent_label,
         round(list_dot_product(e.v, e.v)
               - 2 * list_dot_product(e.v, cent.c)
               + list_dot_product(cent.c, cent.c), 6) AS d2
  FROM e CROSS JOIN cent
), best AS (
  SELECT vec_id, label, cent_label,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_label) AS rn
  FROM scored)
SELECT label, cent_label, CAST(count(*) AS BIGINT) AS n
FROM best WHERE rn = 1
GROUP BY label, cent_label
""",
)
def nearest_centroid_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-purity confusion table: each vector is assigned to its
    nearest label centroid (squared euclidean, d² = v·v − 2·v·c + c·c
    so both engines sum in the same order); output counts of
    (true label, assigned centroid). The centroid table is #labels
    rows — broadcast; the corpus streams through one stage."""
    emb = load_table(spark, sf_dir, "embeddings")
    dim = _emb_dim(emb)
    v = as_double_array(F.col("embedding"))
    comps = (
        widen(spark, emb, sf_dir, "embeddings")
        .select("label", F.posexplode(v).alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg("x"), 6).alias("m"))
    )
    cent = comps.groupBy(F.col("label").alias("cent_label")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
        ).alias("c")
    )
    e = widen(
        spark,
        emb.select("vec_id", "label", v.alias("v"), static_dot(v, v, dim).alias("vv")),
        sf_dir,
        "embeddings",
    )
    vc = F.aggregate(
        F.zip_with("v", "c", lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    cc = F.aggregate(
        F.transform("c", lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
    )
    scored = e.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "label",
        "cent_label",
        F.round(F.col("vv") - 2 * vc + cc, 6).alias("d2"),
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "cent_label")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy("label", "cent_label")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


# symmetric int8 quantization: q = clamp(floor(v/scale + 0.5), ±127)
QUANT_LEVELS = 127.0

# quantized ANN shares the query-set/top-k contract with the float
# baseline in similarity.py so ranks are directly comparable
from etl_jlp_spark.operators.similarity import (  # noqa: E402
    ANN_QUERY_MOD as _ANN_QUERY_MOD,
    ANN_TOP_K as _ANN_TOP_K,
)


@query(
    "embedding_quantize",
    oracle=f"""
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings
), scaled AS (
  SELECT vec_id, label, v,
         list_max(list_transform(v, x -> abs(x))) AS m
  FROM e
), q AS (
  SELECT vec_id, label, v,
         CASE WHEN m = 0 THEN 1.0 ELSE m / {QUANT_LEVELS} END AS scale
  FROM scaled
)
SELECT vec_id, label,
       round(scale, 6) AS scale,
       array_to_string(list_transform(v, x ->
           CAST(greatest(-{QUANT_LEVELS}, least({QUANT_LEVELS}, floor(x / scale + 0.5))) AS BIGINT)), ',') AS qvec,
       round(list_max(list_transform(v, x ->
           abs(greatest(-{QUANT_LEVELS}, least({QUANT_LEVELS}, floor(x / scale + 0.5))) * scale - x))), 6) AS max_abs_err
FROM q
""",
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization (the storage-compression
    step before ANN serving at scale: 4x smaller than float32, exact
    scale recorded per vector). A pure array-expression projection —
    zero shuffles, zero UDFs; ``max_abs_err`` proves the reconstruction
    contract ≤ scale/2 per component. Elements are cast to double
    before any arithmetic so both engines compute identical IEEE
    doubles; the quantized vector serializes as a comma string (the
    engine-portable array serialization used by exact_keywords_set)."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = as_double_array(F.col("embedding"))
    m = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = F.when(m == 0.0, F.lit(1.0)).otherwise(m / QUANT_LEVELS)
    qed = emb.select(
        "vec_id",
        "label",
        scale.alias("s"),
        v.alias("v"),
    )
    qcomp = lambda x: F.greatest(  # noqa: E731
        F.lit(-QUANT_LEVELS), F.least(F.lit(QUANT_LEVELS), F.floor(x / F.col("s") + 0.5))
    )
    return qed.select(
        "vec_id",
        "label",
        F.round("s", 6).alias("scale"),
        F.array_join(
            F.transform(F.col("v"), lambda x: qcomp(x).cast("long").cast("string")), ","
        ).alias("qvec"),
        F.round(
            F.array_max(
                F.transform(F.col("v"), lambda x: F.abs(qcomp(x) * F.col("s") - x))
            ),
            6,
        ).alias("max_abs_err"),
    )


def _dequantized(emb: DataFrame) -> DataFrame:
    """(vec_id, v): each embedding round-tripped through symmetric int8
    quantization — the vectors an int8-serving ANN tier actually scores
    with. Quantize and dequantize are IEEE-exact in both engines, so the
    oracle reproduces the lattice values bit-for-bit."""
    v = as_double_array(F.col("embedding"))
    m = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = F.when(m == 0.0, F.lit(1.0)).otherwise(m / QUANT_LEVELS)
    qd = lambda x: (  # noqa: E731
        F.greatest(
            F.lit(-QUANT_LEVELS),
            F.least(F.lit(QUANT_LEVELS), F.floor(x / F.col("s") + 0.5)),
        )
        * F.col("s")
    )
    return emb.select("vec_id", v.alias("v0"), scale.alias("s")).select(
        "vec_id", F.transform("v0", qd).alias("v")
    )


@query(
    "ann_quantized_topk",
    oracle=f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS raw FROM embeddings
), s AS (
  SELECT vec_id, raw,
         CASE WHEN list_max(list_transform(raw, x -> abs(x))) = 0 THEN 1.0
              ELSE list_max(list_transform(raw, x -> abs(x))) / {QUANT_LEVELS} END AS sc
  FROM e
), dq AS (
  SELECT vec_id,
         list_transform(raw, x ->
             greatest(-{QUANT_LEVELS}, least({QUANT_LEVELS}, floor(x / sc + 0.5))) * sc) AS v
  FROM s
), q AS (SELECT * FROM dq WHERE vec_id % {_ANN_QUERY_MOD} = 0),
scored AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         round(list_dot_product(q.v, e.v) /
               (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v))), 6) AS c6
  FROM q JOIN dq e ON q.vec_id <> e.vec_id
)
SELECT query_id, neighbor_id, round(c6, 4) AS cos_sim,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY c6 DESC, neighbor_id ASC) AS BIGINT) AS rank
FROM scored
QUALIFY rank <= {_ANN_TOP_K}
""",
)
def ann_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine top-k scored on int8-DEQUANTIZED vectors — the memory-
    bandwidth-bound serving path at 100 TB (4× smaller vectors than
    float32; `embedding_quantize` is the storage step, this is the
    scoring step). Same plan shape as `ann_topk_cosine` (broadcast
    query set, corpus streams through one codegen'd stage, per-query
    top-k window); hash-matching the oracle certifies that quantized
    scoring is reproducible across engines, and diffing against
    `ann_topk_cosine`'s ranks measures the recall cost of int8."""
    emb = load_table(spark, sf_dir, "embeddings")
    dim = _emb_dim(emb)
    dq = _dequantized(emb)
    corpus = widen(
        spark,
        dq.select(F.col("vec_id").alias("neighbor_id"), "v"),
        sf_dir,
        "embeddings",
    )
    queries = dq.filter(F.col("vec_id") % _ANN_QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    # constant-key equi join (see ann_topk_cosine): a != theta join
    # would plan BroadcastNestedLoopJoin and fall out of codegen
    scored = (
        corpus.withColumn("bk", F.pmod(F.col("neighbor_id"), F.lit(1)))
        .join(F.broadcast(queries.withColumn("bk", F.pmod(F.col("query_id"), F.lit(1)))), "bk")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                static_dot(F.col("qv"), F.col("v"), dim)
                / (
                    F.sqrt(static_dot(F.col("qv"), F.col("qv"), dim))
                    * F.sqrt(static_dot(F.col("v"), F.col("v"), dim))
                ),
                6,
            ).alias("c6"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("c6").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _ANN_TOP_K)
        .select("query_id", "neighbor_id", F.round("c6", 4).alias("cos_sim"), "rank")
    )


# ---------------------------------------------------------------------------
# Random projection (Achlioptas/JL): 64 → 16 dims with a DETERMINISTIC
# ±1 sign matrix derived from md5("rp:{j}:{i}") — computed once in
# Python at import, embedded as literal arrays in BOTH engines' plans,
# so the projection is a pure codegen expression over constants (no
# per-row hashing, no RNG, no UDF).
# ---------------------------------------------------------------------------
RP_IN_DIM = 64
RP_OUT_DIM = 16


def _rp_sign(j: int, i: int) -> int:
    import hashlib

    return 1 if hashlib.md5(f"rp:{j}:{i}".encode()).digest()[0] % 2 == 0 else -1


RP_SIGNS = [[_rp_sign(j, i) for i in range(RP_IN_DIM)] for j in range(RP_OUT_DIM)]
_RP_SCALE = 4.0  # sqrt(RP_OUT_DIM): unit-variance JL scaling


def _rp_oracle() -> str:
    # identical sign-partitioned sum text as the Spark selectExpr
    # (left-to-right (Σ pos) − (Σ neg)) so 4-dp rounding is engine-
    # stable; DuckDB lists are 1-based.
    def col(j: int) -> str:
        pos = " + ".join(f"v[{i + 1}]" for i, s in enumerate(RP_SIGNS[j]) if s > 0)
        neg = " + ".join(f"v[{i + 1}]" for i, s in enumerate(RP_SIGNS[j]) if s < 0)
        expr = f"({pos}) - ({neg})" if neg else f"({pos})"
        # "+ 0.0" canonicalizes IEEE negative zero: round() yields -0.0
        # for tiny negatives and the engines disagree on which side of
        # zero a projection lands ulp-wise; -0.0 + 0.0 = +0.0 in both.
        return f"round(({expr}) / {_RP_SCALE}, 4) + 0.0 AS p{j}"

    cols = ",\n       ".join(col(j) for j in range(RP_OUT_DIM))
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT vec_id,
       {cols}
FROM e
"""


@query("embedding_random_projection", oracle=_rp_oracle())
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection ({IN}→{OUT} dims,
    Achlioptas ±1 signs): the standard dimensionality reduction before
    ANN indexing/serving — 4× less vector bandwidth while pairwise
    distances concentrate within JL distortion (test-pinned on sampled
    pairs). Zero shuffle: one projection expression per output dim,
    sequential-sum dot against a LITERAL sign vector (bit-identical in
    DuckDB's list_dot_product), whole-stage codegen."""
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select("vec_id", as_double_array(F.col("embedding")).alias("vv"))

    def proj_sql(j: int) -> str:
        # sign-partitioned sum: (Σ v[i over +1]) − (Σ v[i over −1]) —
        # 64 adds instead of 64 multiply-adds. Emitted as ONE SQL text
        # parsed JVM-side: building the same tree with Column operators
        # costs ~46k Py4J round trips (~8 s of DRIVER time per call,
        # measured) — a reminder that plan-construction cost is real at
        # this expression width even though execution is sub-second.
        pos = " + ".join(f"vv[{i}]" for i, s in enumerate(RP_SIGNS[j]) if s > 0)
        neg = " + ".join(f"vv[{i}]" for i, s in enumerate(RP_SIGNS[j]) if s < 0)
        expr = f"({pos}) - ({neg})" if neg else f"({pos})"
        # "+ 0.0" canonicalizes IEEE negative zero: round() yields -0.0
        # for tiny negatives and the engines disagree on which side of
        # zero a projection lands ulp-wise; -0.0 + 0.0 = +0.0 in both.
        return f"round(({expr}) / {_RP_SCALE}, 4) + 0.0 AS p{j}"

    return base.selectExpr("vec_id", *[proj_sql(j) for j in range(RP_OUT_DIM)])


PCA_ITERS = 5  # fixed so the oracle can unroll the recurrence


def _pca_oracle() -> str:
    """Power iteration unrolled in chained CTEs: center once, then
    d_k = C v_{k-1} per-vector dots, y_k = C^T d_k per-dim sums,
    v_k = y_k / ||y_k||. Same IEEE recurrence the Spark side runs.

    ``c`` and every ``v{k}`` are MATERIALIZED: DuckDB inlines a CTE at
    each reference, and v{k} reads y{k} twice — directly and through
    n{k} — so inlined, the chain doubles every round (142 s at sf0.001;
    0.2 s materialized). ``c`` is read by every d{k} and y{k}."""
    sql = """
WITH x AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS val
  FROM embeddings
), mu AS (
  SELECT pos, avg(val) AS mu FROM x GROUP BY pos
), c AS MATERIALIZED (
  SELECT x.vec_id, x.pos, x.val - m.mu AS val FROM x JOIN mu m USING (pos)
), nn AS (SELECT CAST(count(DISTINCT vec_id) AS DOUBLE) AS n FROM x
), v0 AS (
  SELECT pos, 1.0 / sqrt(CAST((SELECT count(*) FROM mu) AS DOUBLE)) AS val FROM mu
)"""
    for k in range(1, PCA_ITERS + 1):
        sql += f"""
, d{k} AS (
  SELECT c.vec_id, sum(c.val * v.val) AS dot
  FROM c JOIN v{k - 1} v USING (pos) GROUP BY c.vec_id
), y{k} AS (
  SELECT c.pos, sum(c.val * d.dot) AS y
  FROM c JOIN d{k} d USING (vec_id) GROUP BY c.pos
), n{k} AS (SELECT sqrt(sum(y * y)) AS nrm FROM y{k})
, v{k} AS MATERIALIZED (SELECT pos, y / (SELECT nrm FROM n{k}) AS val FROM y{k})"""
    sql += f"""
SELECT CAST(pos AS INTEGER) AS dim,
       round(val, 5) + 0.0 AS loading,
       round((SELECT nrm FROM n{PCA_ITERS}) / ((SELECT n FROM nn) - 1), 4) AS explained_variance
FROM v{PCA_ITERS}
"""
    return sql


@query("embedding_pca_power", oracle=_pca_oracle())
def embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding table by POWER
    ITERATION ({it} fixed steps from the uniform start) — the
    dominant drift/variance axis every embedding-health dashboard
    tracks (a runaway first component = collapsed representation; its
    explained variance is the alarm metric). Output: one row per
    dimension with the unit-norm loading, plus the component's
    explained variance (scatter-norm / (n-1)).

    Scale shape: each iteration is two map-side-combinable aggregates
    over the table — per-vector dot against the BROADCAST current
    direction (a {d}-element literal), then per-dimension recombine —
    never a d×d covariance materialization and never a driver-side
    data copy; only the {d}-float direction vector leaves the cluster
    each step. 2·{it}+1 linear passes total; at 100 TB persist the
    centered projection once and the passes are columnar scans.

    Centering subtracts the per-dimension mean (computed in the same
    plan) so this is true PCA, not uncentered SVD."""
    import math

    emb = load_table(spark, sf_dir, "embeddings")
    dim = _emb_dim(emb)
    x_sql = "CAST(embedding AS ARRAY<DOUBLE>)"
    # mean AND count in ONE aggregate job (was two scans); expression
    # built as parsed SQL — the per-dimension Column-API loops cost
    # ~4 py4j round trips per term and dominated this operator's
    # driver-side build time (measured r10)
    mu_row = emb.agg(
        F.count(F.lit(1)).alias("n"),
        *[F.expr(f"avg({x_sql}[{j}])").alias(f"m{j}") for j in range(dim)],
    ).first()
    mu = [mu_row[f"m{j}"] for j in range(dim)]
    n = mu_row["n"]
    # exact double literals: repr() round-trips, CAST('…' AS DOUBLE)
    # parses back the identical IEEE value the old F.lit carried.
    # None (all-NULL dimension) must render as a SQL NULL, not the
    # string 'None' — identical under the current non-ANSI session but
    # an error if spark.sql.ansi.enabled is ever turned on.
    def _dlit(x: float | None) -> str:
        return "CAST(NULL AS DOUBLE)" if x is None else f"CAST('{x!r}' AS DOUBLE)"

    centered_sql = "array(" + ", ".join(
        f"{x_sql}[{j}] - {_dlit(mu[j])}" for j in range(dim)
    ) + ")"
    # centered array materialized ONCE: each iteration re-reads the
    # cached d-double rows, not the parquet scan; and the per-dimension
    # recombine is a posexplode + (pos) agg — d×n skinny rows through a
    # shallow codegen expression, NOT d sum columns each inlining the
    # d-term dot product (that shape compiles a d²-term stage per
    # iteration and measured 2.6× slower at sf0.1)
    centered = emb.select(F.expr(centered_sql).alias("c")).persist()
    v = [1.0 / math.sqrt(dim)] * dim
    nrm = 0.0
    for _ in range(PCA_ITERS):
        dot = F.expr(" + ".join(f"c[{j}] * {_dlit(v[j])}" for j in range(dim)))
        y_rows = (
            centered.withColumn("dot", dot)
            .select(F.posexplode("c").alias("pos", "val"), "dot")
            .groupBy("pos")
            .agg(F.sum(F.col("val") * F.col("dot")).alias("y"))
            .collect()
        )
        y = [0.0] * dim
        for r in y_rows:
            y[r["pos"]] = r["y"]
        nrm = math.sqrt(sum(c * c for c in y))
        v = [c / nrm for c in y]
    centered.unpersist()
    ev = round(nrm / (n - 1), 4)
    return spark.createDataFrame(
        [(j + 1, round(v[j], 5) + 0.0, ev) for j in range(dim)],
        "dim int, loading double, explained_variance double",
    )


embedding_pca_power.__doc__ = (embedding_pca_power.__doc__ or "").format(
    it=PCA_ITERS, d="dim"
)


# ---------------------------------------------------------------------------
# Full Lloyd k-means (the to-convergence complement of ann_ivf's
# hash-sampled quantizer training): fixed k and iteration count so the
# oracle can unroll the loop, deterministic min-vec_id seeding, and
# per-iteration 6dp centroid rounding in BOTH engines so grouped-sum
# association order (which differs between engines) cannot compound
# across rounds. Distances use the identical three-dot expansion
# |v|²−2v·c+|c|² with index-sequential dots in both engines.
# ---------------------------------------------------------------------------

KM_K = 4
KM_ITERS = 3
_KM_DOT_SPARK = "aggregate(zip_with({a}, {b}, (p, q) -> p * q), CAST(0.0 AS DOUBLE), (s, x) -> s + x)"


def _km_d2_spark() -> str:
    vv = _KM_DOT_SPARK.format(a="v", b="v")
    vc = _KM_DOT_SPARK.format(a="v", b="cv")
    cc = _KM_DOT_SPARK.format(a="cv", b="cv")
    return f"({vv}) - 2 * ({vc}) + ({cc})"


def _km_oracle() -> str:
    sql = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cl, v AS cv
  FROM e ORDER BY vec_id LIMIT {KM_K}
)"""
    d2 = (
        "list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, c.cv)"
        " + list_dot_product(c.cv, c.cv)"
    )
    for i in range(1, KM_ITERS + 1):
        sql += f"""
, a{i} AS (
  SELECT vec_id, cl, v FROM (
    SELECT e.vec_id, c.cl, e.v,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {d2}, c.cl) AS rn
    FROM e CROSS JOIN c{i - 1} c
  ) WHERE rn = 1
), m{i} AS (
  SELECT cl, pos, round(avg(val), 6) AS mval FROM (
    SELECT cl, generate_subscripts(v, 1) AS pos, unnest(v) AS val FROM a{i}
  ) GROUP BY cl, pos
), c{i} AS (
  SELECT cl, list(mval ORDER BY pos) AS cv FROM m{i} GROUP BY cl
)"""
    sql += f"""
SELECT fin.vec_id, CAST(fin.cl AS INT) AS cluster,
       round(fin.d2, 4) AS d2,
       CAST(count(*) OVER (PARTITION BY fin.cl) AS BIGINT) AS cluster_size
FROM (
  SELECT vec_id, cl, d2 FROM (
    SELECT e.vec_id, c.cl, {d2} AS d2,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {d2}, c.cl) AS rn
    FROM e CROSS JOIN c{KM_ITERS} c
  ) WHERE rn = 1
) fin
"""
    return sql


@query("kmeans_lloyd_assign", oracle=_km_oracle())
def kmeans_lloyd_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Lloyd k-means over the embedding table ({k} clusters,
    {it} fixed rounds, min-vec_id seeding): final assignment with the
    squared distance and cluster sizes — the clustering that feeds
    topic/quality stratification when labels don't exist.

    Plan: ONE lazy composed plan, no driver-side centroid collect —
    each round is a k-way broadcast cross join (k rows of centroids)
    + per-vector top-1 window + a (cl, pos) mean re-pack. At 100 TB
    each round is two linear passes; k and d bound every non-scan
    relation. The oracle unrolls the identical rounds; 6dp centroid
    rounding per round keeps grouped-sum association order from
    diverging the engines."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", as_double_array(F.col("embedding")).alias("v"))
    # Seeds: the k smallest vec_ids via TakeOrderedAndProject (distributed
    # top-k, no single-partition global window), numbered after the limit
    # when the relation is already k rows.
    cent = (
        e.orderBy("vec_id")
        .limit(KM_K)
        .withColumn("rn", F.row_number().over(Window.orderBy("vec_id")))
        .select((F.col("rn") - 1).cast("int").alias("cl"), F.col("v").alias("cv"))
    )
    d2 = _km_d2_spark()
    wv = Window.partitionBy("vec_id").orderBy(F.expr(d2), "cl")
    for _ in range(KM_ITERS):
        asg = (
            e.crossJoin(F.broadcast(cent))
            .withColumn("rn", F.row_number().over(wv))
            .filter(F.col("rn") == 1)
            .select("vec_id", "cl", "v")
        )
        cent = (
            asg.select("cl", F.posexplode("v").alias("pos", "val"))
            .groupBy("cl", "pos")
            .agg(F.round(F.avg("val"), 6).alias("mval"))
            .groupBy("cl")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "mval"))),
                    lambda s: s["mval"],
                ).alias("cv")
            )
        )
    fin = (
        e.crossJoin(F.broadcast(cent))
        .withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cl", F.expr(d2).alias("d2"))
    )
    wsz = Window.partitionBy("cl")
    return fin.select(
        "vec_id",
        F.col("cl").cast("int").alias("cluster"),
        F.round("d2", 4).alias("d2"),
        F.count(F.lit(1)).over(wsz).cast("long").alias("cluster_size"),
    )


kmeans_lloyd_assign.__doc__ = (kmeans_lloyd_assign.__doc__ or "").format(
    k=KM_K, it=KM_ITERS
)


# ---------------------------------------------------------------------------
# Leave-one-out 1-NN label accuracy — the standard embedding-quality
# gate: if an embedding space is any good, a vector's nearest neighbor
# usually shares its label. Run per label to catch classes whose
# neighborhoods collapsed (e.g. after quantization or a projection —
# compare against the ann_recall_report family).
# ---------------------------------------------------------------------------


KNN_EVAL_SAMPLE_HEX = "4"  # md5(vec_id)[:1] < '4' → ~25% of vectors query


@query(
    "knn_loo_accuracy",
    oracle=f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
scored AS (
  SELECT a.vec_id, a.label AS true_label, b.label AS pred_label,
         round(list_dot_product(a.v, b.v) /
               (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS c6,
         b.vec_id AS nb
  FROM e a JOIN e b ON a.vec_id <> b.vec_id
  WHERE substr(md5(CAST(a.vec_id AS VARCHAR)), 1, 1) < '{KNN_EVAL_SAMPLE_HEX}'
), nn AS (
  SELECT vec_id, true_label, pred_label,
         row_number() OVER (PARTITION BY vec_id ORDER BY c6 DESC, nb ASC) AS rk
  FROM scored
)
SELECT CAST(true_label AS BIGINT) AS label,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       round(CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 4) AS accuracy
FROM nn WHERE rk = 1
GROUP BY true_label
""",
)
def knn_loo_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out 1-NN classification accuracy per label: each
    vector's nearest OTHER vector by cosine (rounded to 6 before
    ranking, neighbor-id tie-break — the engine-stable ordering the
    whole ANN family uses) votes with its label.

    Plan (two exact phases, §4.2 batches-to-native): the corpus side —
    the same relation the old BroadcastNestedLoopJoin shipped to every
    task — is collected once and broadcast as a numpy matrix; the
    deterministic ~25% md5 query sample streams through ONE Arrow
    ``mapInPandas`` pass that accumulates every query-vs-corpus cosine
    in SEQUENTIAL dimension order (bit-identical IEEE ops to the
    ``static_dot`` left-deep chain: per-dim multiply then add, then one
    divide by the norm product) and keeps, per query, every neighbor
    within MARGIN=1e-5 of the row maximum. Because ranking uses
    round(cos, 6), any neighbor more than 1e-5 below the max has a
    strictly smaller c6 (1e-5 > 2·0.5e-6 rounding slack) and can never
    win even via the tie-break — the survivor set provably contains
    the true winner (pinned by tests/test_r11_optimizations.py).
    Spark then computes c6 = round(dot/(qn·nn), 6) on the ~1-per-query
    survivors with the SAME expressions as before, so every emitted
    value is unchanged. This replaces a 1M-row fused BNLJ stage whose
    generated 25 KB-bytecode method had to be janino-compiled and
    JIT-warmed on every run (measured 4.1 → ~1.4 s at sf0.1) while
    numpy does the O(|sample|·N·d) arithmetic. The broadcast-corpus
    memory posture is unchanged from the BNLJ form — this stays the
    declared EVAL baseline; serving-scale paths are the LSH/IVF
    operators."""
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    dim = _emb_dim(emb)
    rows = emb.select("vec_id", "label", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    labels = np.array([r["label"] for r in rows], dtype=np.int64)
    V = np.array([r["embedding"] for r in rows], dtype=np.float64)  # exact widen
    # corpus norms accumulated in the static_dot chain's sequential order
    acc = V[:, 0] * V[:, 0]
    for i in range(1, dim):
        acc = acc + V[:, i] * V[:, i]
    cn = np.sqrt(acc)
    bc = spark.sparkContext.broadcast((ids, labels, V, cn))
    MARGIN = 1e-5

    def score_batches(it):
        b_ids, b_labels, b_V, b_cn = bc.value
        for pdf in it:
            if not len(pdf):
                continue
            Q = np.array(list(pdf["embedding"]), dtype=np.float64)
            qid = pdf["vec_id"].to_numpy(dtype=np.int64)
            tl = pdf["true_label"].to_numpy(dtype=np.int64)
            acc_q = Q[:, 0] * Q[:, 0]
            for i in range(1, dim):
                acc_q = acc_q + Q[:, i] * Q[:, i]
            qn = np.sqrt(acc_q)
            out = {k: [] for k in ("qid", "true_label", "pred_label", "nb", "dot", "qn", "nn")}
            for s in range(0, len(qid), 256):  # bound the (chunk x N) matrices
                e = min(s + 256, len(qid))
                qc, qnc = Q[s:e], qn[s:e]
                dot = qc[:, 0][:, None] * b_V[:, 0][None, :]
                for i in range(1, dim):
                    dot = dot + qc[:, i][:, None] * b_V[:, i][None, :]
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = dot / (qnc[:, None] * b_cn[None, :])
                # a zero-norm vector has no cosine: mask it (and
                # self-pairs) so one NaN cannot poison every row max,
                # and skip queries left with no neighbor at all
                cos[~np.isfinite(cos)] = -np.inf
                cos[qid[s:e][:, None] == b_ids[None, :]] = -np.inf
                m = cos.max(axis=1, keepdims=True)
                keep = (cos >= m - MARGIN) & (m > -np.inf)
                qi, ci = np.nonzero(keep)
                out["qid"].append(qid[s:e][qi])
                out["true_label"].append(tl[s:e][qi])
                out["pred_label"].append(b_labels[ci])
                out["nb"].append(b_ids[ci])
                out["dot"].append(dot[qi, ci])
                out["qn"].append(qnc[qi])
                out["nn"].append(b_cn[ci])
            yield pd.DataFrame({k: np.concatenate(v) for k, v in out.items()})

    par = spark.sparkContext.defaultParallelism
    cand = (
        emb.filter(
            F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1) < KNN_EVAL_SAMPLE_HEX
        )
        .select("vec_id", F.col("label").alias("true_label"), "embedding")
        # pinned spread: the N-row sample is one input partition and AQE
        # would coalesce an unpinned repartition — REPARTITION_BY_NUM
        # keeps the scoring pass parallel (same note as the old form)
        .repartition(par, "vec_id")
        .mapInPandas(
            score_batches,
            "qid long, true_label long, pred_label long, nb long, "
            "dot double, qn double, nn double",
        )
    )
    # final ranking values computed by SPARK expressions on the tiny
    # survivor relation — identical ops to the old full-pair plan's c6
    scored = cand.select(
        "qid",
        "true_label",
        "pred_label",
        "nb",
        F.round(F.col("dot") / (F.col("qn") * F.col("nn")), 6).alias("c6"),
    )
    # Rank-1 via a map-side-combinable max over (c6, -nb) — NEVER a
    # row_number window, which would shuffle and sort the full N²
    # pair relation (measured: the window form ground for 30+ min at
    # 4x corpus in rehearsal; the aggregate form reduces per-partition
    # before any exchange). Struct max compares fields in order, so
    # ties on rounded cosine resolve to the smallest neighbor id —
    # identical semantics to the oracle's (c6 DESC, nb ASC) ranking.
    nn = scored.groupBy("qid", "true_label").agg(
        F.max(
            F.struct(
                F.col("c6"),
                (-F.col("nb")).alias("neg_nb"),
                F.col("pred_label"),
            )
        ).alias("m")
    )
    correct = F.sum(
        F.when(F.col("m.pred_label") == F.col("true_label"), 1).otherwise(0)
    )
    return nn.groupBy(F.col("true_label").cast("long").alias("label")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        correct.cast("long").alias("n_correct"),
        F.round(correct.cast("double") / F.count(F.lit(1)), 4).alias("accuracy"),
    )


# ---------------------------------------------------------------------------
# Fisher class-separation of the embedding space: between-class vs
# within-class scatter per label — the one-number answer to "do these
# embeddings actually separate the labels?" before anything trains on
# them. All sufficient statistics are EXACT integers (e6-scaled
# components, DECIMAL(38,0) power sums), so the report is bit-stable
# across engines and partitionings; doubles appear only in the final
# per-label division.
# ---------------------------------------------------------------------------


@query(
    "embedding_fisher_separation",
    oracle="""
WITH x AS (
  SELECT label, CAST(generate_subscripts(embedding, 1) AS INTEGER) AS dim,
         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS v
  FROM embeddings
), ld AS (
  SELECT label, dim, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(v AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s1,
         CAST(sum(CAST(v AS DECIMAL(38,0)) * CAST(v AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s2
  FROM x GROUP BY label, dim
), gd AS (
  SELECT dim, CAST(sum(n) AS BIGINT) AS nn, CAST(sum(s1) AS DECIMAL(38,0)) AS g1
  FROM ld GROUP BY dim
), per AS (
  SELECT ld.label, any_value(ld.n) AS n, any_value(gd.nn) AS nn,
         sum(ld.n * ld.s2 - ld.s1 * ld.s1) AS within_num,
         sum((ld.s1 * gd.nn - gd.g1 * ld.n) * (ld.s1 * gd.nn - gd.g1 * ld.n))
           AS between_num
  FROM ld JOIN gd USING (dim)
  GROUP BY ld.label
)
SELECT CAST(label AS BIGINT) AS label, n AS n_vectors,
       round(CAST(within_num AS DOUBLE)
             / (CAST(n AS DOUBLE) * n) / 1e12, 6) + 0.0 AS within_trace,
       round(CAST(between_num AS DOUBLE)
             / (CAST(n AS DOUBLE) * n * nn * nn) / 1e12, 6) + 0.0 AS between_trace,
       round((CAST(between_num AS DOUBLE) / (CAST(n AS DOUBLE) * n * nn * nn))
             / (CAST(within_num AS DOUBLE) / (CAST(n AS DOUBLE) * n)), 4) + 0.0
         AS fisher_ratio
FROM per
""",
)
def embedding_fisher_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label Fisher separation of the embedding space: the trace of
    the within-class scatter (Σ_dim per-dim variance inside the label),
    the label centroid's squared distance to the global centroid
    weighted as between-class scatter, and their ratio — labels whose
    ratio ≈ 0 are inseparable in this space and a classifier trained on
    it will confuse them.

    Exactness: components scale to e6 integers; per-(label, dim) power
    sums and both scatter numerators (n·s2 − s1², (s1·N − G1·n)²) stay
    in DECIMAL(38,0) — order-insensitive, so both engines aggregate
    bit-identically — and only the final normalizations divide in
    doubles. Plan: one posexplode (∝ vectors × dims) → combinable
    (label, dim) agg → dims-sized join + per-label reduce."""
    emb = widen(
        spark, load_table(spark, sf_dir, "embeddings"), sf_dir, "embeddings"
    )
    x = emb.select(
        "label",
        F.posexplode(as_double_array(F.col("embedding"))).alias("pos", "xv"),
    ).select(
        "label",
        (F.col("pos") + 1).cast("int").alias("dim"),
        F.round(F.col("xv") * 1000000).cast("long").alias("v"),
    )
    dec = F.col("v").cast("decimal(38,0)")
    ld = x.groupBy("label", "dim").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec).cast("decimal(38,0)").alias("s1"),
        F.sum(dec * dec).cast("decimal(38,0)").alias("s2"),
    )
    gd = ld.groupBy("dim").agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum("s1").cast("decimal(38,0)").alias("g1"),
    )
    j = ld.join(F.broadcast(gd), "dim")
    per = j.groupBy("label").agg(
        F.any_value("n").alias("n"),
        F.any_value("nn").alias("nn"),
        F.sum(F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")).alias("within_num"),
        F.sum(
            (F.col("s1") * F.col("nn") - F.col("g1") * F.col("n"))
            * (F.col("s1") * F.col("nn") - F.col("g1") * F.col("n"))
        ).alias("between_num"),
    )
    wd = F.col("within_num").cast("double") / (F.col("n").cast("double") * F.col("n")) / 1e12
    bd = (
        F.col("between_num").cast("double")
        / (F.col("n").cast("double") * F.col("n") * F.col("nn") * F.col("nn"))
        / 1e12
    )
    return per.select(
        F.col("label").cast("long").alias("label"),
        F.col("n").alias("n_vectors"),
        (F.round(wd, 6) + 0.0).alias("within_trace"),
        (F.round(bd, 6) + 0.0).alias("between_trace"),
        (
            F.round(
                (
                    F.col("between_num").cast("double")
                    / (F.col("n").cast("double") * F.col("n") * F.col("nn") * F.col("nn"))
                )
                / (F.col("within_num").cast("double") / (F.col("n").cast("double") * F.col("n"))),
                4,
            )
            + 0.0
        ).alias("fisher_ratio"),
    )


# ---------------------------------------------------------------------------
# Simplified (centroid) silhouette: the cluster-quality score that the
# full silhouette can't deliver at scale (it needs all-pairs
# distances, O(N²)); the centroid form replaces the mean intra/inter
# distance with point→centroid distances — O(N·k) and the standard
# large-N approximation (e.g. sklearn's tradeoff guidance). Scores the
# LABEL partition of the embedding table the way semantic_dedup /
# nearest_centroid consumers would experience it.
# ---------------------------------------------------------------------------


@query(
    "centroid_silhouette_report",
    oracle="""
WITH x AS (
  SELECT label, unnest(embedding) AS x,
         generate_subscripts(embedding, 1) AS dim
  FROM embeddings
), comps AS (
  SELECT label, CAST(dim AS INTEGER) AS dim,
         round(avg(CAST(x AS DOUBLE)), 6) AS m
  FROM x GROUP BY label, dim
), cent AS (
  SELECT label AS cent_label, list(m ORDER BY dim) AS c FROM comps GROUP BY cent_label
), e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), d AS (
  SELECT e.vec_id, e.label, cent.cent_label,
         round(sqrt(greatest(list_dot_product(e.v, e.v)
               - 2 * list_dot_product(e.v, cent.c)
               + list_dot_product(cent.c, cent.c), 0.0)), 6) AS dist
  FROM e CROSS JOIN cent
), ab AS (
  SELECT vec_id, label,
         min(dist) FILTER (WHERE cent_label = label) AS a,
         min(dist) FILTER (WHERE cent_label <> label) AS b
  FROM d GROUP BY vec_id, label
), s AS (
  SELECT vec_id, label, a, b,
         round((b - a) / greatest(a, b), 6) AS sil
  FROM ab
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       round(avg(a), 4) AS mean_intra,
       round(avg(b), 4) AS mean_inter,
       round(avg(sil), 4) + 0.0 AS mean_silhouette,
       CAST(count(*) FILTER (WHERE sil < 0) AS BIGINT) AS n_misplaced
FROM s GROUP BY label
""",
)
def centroid_silhouette_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid silhouette: mean distance to the own-label
    centroid (a), to the nearest other centroid (b), the silhouette
    (b−a)/max(a,b), and how many points sit closer to a foreign
    centroid (sil < 0) — the cluster-separation report that grades a
    labeling/clustering before it is trusted for stratified sampling
    or semantic dedup.

    Plan: centroids via posexplode + (label, dim) mean (map-side
    combined, 6dp-rounded in both engines so association order can't
    drift), then ONE broadcast cross join of vectors × k centroids with
    the distances reduced by a conditional min — O(N·k), never the
    O(N²) full silhouette; per-point sil is 6dp-rounded before the
    4dp-rounded label means so engine summation order has 2 guard
    digits."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", "label", as_double_array(F.col("embedding")).alias("v"))
    cent = (
        e.select("label", F.posexplode("v").alias("pos", "x"))
        .groupBy(F.col("label").alias("cent_label"), "pos")
        .agg(F.round(F.avg("x"), 6).alias("m"))
        .groupBy("cent_label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
            ).alias("c")
        )
    )
    dot = "aggregate(zip_with({a}, {b}, (p, q) -> p * q), CAST(0.0 AS DOUBLE), (s, x) -> s + x)"
    d2 = (
        f"({dot.format(a='v', b='v')}) - 2 * ({dot.format(a='v', b='c')})"
        f" + ({dot.format(a='c', b='c')})"
    )
    d = e.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "label",
        "cent_label",
        F.round(F.sqrt(F.greatest(F.expr(d2), F.lit(0.0))), 6).alias("dist"),
    )
    ab = d.groupBy("vec_id", "label").agg(
        F.min(F.when(F.col("cent_label") == F.col("label"), F.col("dist"))).alias("a"),
        F.min(F.when(F.col("cent_label") != F.col("label"), F.col("dist"))).alias("b"),
    )
    s = ab.select(
        "label",
        "a",
        "b",
        F.round((F.col("b") - F.col("a")) / F.greatest("a", "b"), 6).alias("sil"),
    )
    return s.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.round(F.avg("a"), 4).alias("mean_intra"),
        F.round(F.avg("b"), 4).alias("mean_inter"),
        (F.round(F.avg("sil"), 4) + F.lit(0.0)).alias("mean_silhouette"),
        F.sum(F.when(F.col("sil") < 0, 1).otherwise(0)).cast("long").alias("n_misplaced"),
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) ANN — the third serving geometry next to
# the IVF cell store (similarity.ann_ivf_topk) and the int8 scalar
# quantizer (ann_quantized_topk): split each vector into M subspaces,
# k-means each subspace to K codes, store each vector as M small codes
# (M·log2 K bits ≈ 12 bits/vector here vs 64×32 float bits), and
# answer queries with an asymmetric-distance (ADC) lookup table — the
# Jégou/Douze/Schmid PQ paper's shape and the memory layout every
# billion-vector serving system (FAISS IVFPQ) uses. Training reuses
# the fixed-iteration/deterministic-seed Lloyd conventions of
# kmeans_lloyd_assign, keyed by subspace so ONE relational loop trains
# all M codebooks at once.
# ---------------------------------------------------------------------------

PQ_M = 4  # subspaces
PQ_K = 8  # codes per subspace
PQ_ITERS = 2  # fixed Lloyd rounds per codebook


def _pq_d2_duck(a: str, b: str) -> str:
    return (
        f"list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b})"
        f" + list_dot_product({b}, {b})"
    )


def _pq_train_ctes() -> str:
    """CTE fragment (expects an ``e(vec_id, v DOUBLE[])`` relation in
    scope): subspace slices → C0 seeding → PQ_ITERS Lloyd rounds →
    per-vector code table. Shared by ann_pq_topk and ann_ivfpq_topk so
    the two oracles can never train different codebooks."""
    d2 = _pq_d2_duck("s.sv", "c.cv")
    sql = f"""
sub AS (
  SELECT vec_id, m, v[m * (len(v) // {PQ_M}) + 1 : (m + 1) * (len(v) // {PQ_M})] AS sv
  FROM e, unnest([{", ".join(str(m) for m in range(PQ_M))}]) AS t(m)
),
pqc0 AS (
  SELECT m, CAST(row_number() OVER (PARTITION BY m ORDER BY vec_id) - 1 AS INT) AS cl,
         sv AS cv
  FROM sub QUALIFY cl < {PQ_K}
)"""
    for i in range(1, PQ_ITERS + 1):
        sql += f""",
pqa{i} AS (
  SELECT vec_id, m, cl, sv FROM (
    SELECT s.vec_id, s.m, c.cl, s.sv,
           row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY {d2}, c.cl) AS rn
    FROM sub s JOIN pqc{i - 1} c ON s.m = c.m
  ) WHERE rn = 1
),
pqm{i} AS (
  SELECT m, cl, pos, round(avg(val), 6) AS mval FROM (
    SELECT m, cl, generate_subscripts(sv, 1) AS pos, unnest(sv) AS val FROM pqa{i}
  ) GROUP BY m, cl, pos
),
pqc{i} AS (SELECT m, cl, list(mval ORDER BY pos) AS cv FROM pqm{i} GROUP BY m, cl)"""
    sql += f""",
codes AS (
  SELECT vec_id, m, cl FROM (
    SELECT s.vec_id, s.m, c.cl,
           row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY {d2}, c.cl) AS rn
    FROM sub s JOIN pqc{PQ_ITERS} c ON s.m = c.m
  ) WHERE rn = 1
)"""
    return sql


_PQ_SERVE_TAIL = f""",
pqq AS (SELECT vec_id AS query_id, m, sv AS qsv FROM sub WHERE vec_id % 50 = 0),
lut AS (
  SELECT q.query_id, c.m, c.cl,
         {_pq_d2_duck("q.qsv", "c.cv")} AS d2
  FROM pqq q JOIN pqc{PQ_ITERS} c ON q.m = c.m
),
adc AS (
  SELECT l.query_id, cd.vec_id AS neighbor_id, round(sum(l.d2), 6) AS adc6
  FROM codes cd JOIN lut l ON l.m = cd.m AND l.cl = cd.cl
  WHERE cd.vec_id <> l.query_id
  GROUP BY l.query_id, cd.vec_id
)
SELECT query_id, neighbor_id, round(adc6, 4) AS adc_d2,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY adc6, neighbor_id)
            AS INT) AS rank
FROM adc QUALIFY rank <= 5
"""


def _pq_oracle() -> str:
    return (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),"
        + _pq_train_ctes()
        + _PQ_SERVE_TAIL
    )


_PQ_DOT = "aggregate(zip_with({a}, {b}, (p, q) -> p * q), CAST(0.0 AS DOUBLE), (s, x) -> s + x)"


def _pq_d2_spark(a: str, b: str) -> str:
    return (
        f"({_PQ_DOT.format(a=a, b=a)}) - 2 * ({_PQ_DOT.format(a=a, b=b)})"
        f" + ({_PQ_DOT.format(a=b, b=b)})"
    )


def _pq_model(spark: SparkSession, sf_dir: str):
    """(sub, codes, cent): subspace slices, the trained per-vector code
    table, and the M×K codebook — the PQ training core shared by
    ann_pq_topk and ann_ivfpq_topk (one Lloyd loop trains all M
    codebooks; see ann_pq_topk docstring for the plan shape)."""
    emb = load_table(spark, sf_dir, "embeddings")
    dim = _emb_dim(emb)
    sublen = dim // PQ_M
    e = emb.select("vec_id", as_double_array(F.col("embedding")).alias("v"))
    sub = e.select(
        "vec_id",
        F.posexplode(
            F.array(*[F.slice("v", m * sublen + 1, sublen) for m in range(PQ_M)])
        ).alias("m", "sv"),
    ).localCheckpoint(eager=False)
    w_seed = Window.partitionBy("m").orderBy("vec_id")
    cent = (
        sub.withColumn("cl", (F.row_number().over(w_seed) - 1).cast("int"))
        .filter(F.col("cl") < PQ_K)
        .select("m", "cl", F.col("sv").alias("cv"))
    )
    d2 = _pq_d2_spark("sv", "cv")
    w_asg = Window.partitionBy("vec_id", "m").orderBy(F.expr(d2), "cl")
    for _ in range(PQ_ITERS):
        asg = (
            sub.join(F.broadcast(cent), "m")
            .withColumn("rn", F.row_number().over(w_asg))
            .filter(F.col("rn") == 1)
            .select("vec_id", "m", "cl", "sv")
        )
        cent = (
            asg.select("m", "cl", F.posexplode("sv").alias("pos", "val"))
            .groupBy("m", "cl", "pos")
            .agg(F.round(F.avg("val"), 6).alias("mval"))
            .groupBy("m", "cl")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "mval"))),
                    lambda s: s["mval"],
                ).alias("cv")
            )
        )
    codes = (
        sub.join(F.broadcast(cent), "m")
        .withColumn("rn", F.row_number().over(w_asg))
        .filter(F.col("rn") == 1)
        .select("vec_id", "m", "cl")
    )
    return sub, codes, cent


@query("ann_pq_topk", oracle=_pq_oracle())
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization top-k: each vector stored as {m} codes
    ({k} centroids per subspace, {it} fixed Lloyd rounds per codebook,
    min-vec_id seeding), queries answered through the asymmetric
    (query-to-centroid) distance lookup table — the FAISS-PQ memory
    layout where the corpus never materializes floats at query time.

    Plan: ONE relational Lloyd loop trains all {m} codebooks at once
    (subspace id is just a key column: slice-explode → per-(vec, m)
    argmin window → per-(m, cl, pos) mean repack, all codebook-side
    relations ≤ m·k rows and broadcast). Serving joins the code table
    against the |Q|·m·k-row ADC lookup and sums m terms per
    (query, vector) — at 100 TB the scan side is the code table
    (m small ints per vector), not the embeddings. The brute-force
    twin ann_topk_cosine stays the recall baseline; 6dp-rounded
    centroids per round keep both engines' grouped means in sync."""
    sub, codes, cent = _pq_model(spark, sf_dir)
    q = sub.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "m", F.col("sv").alias("qsv")
    )
    lut = q.join(F.broadcast(cent), "m").select(
        "query_id", "m", "cl", F.expr(_pq_d2_spark("qsv", "cv")).alias("d2")
    )
    adc = (
        codes.join(F.broadcast(lut), ["m", "cl"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.round(F.sum("d2"), 6).alias("adc6"))
    )
    w_rank = Window.partitionBy("query_id").orderBy("adc6", "neighbor_id")
    return (
        adc.withColumn("rank", F.row_number().over(w_rank).cast("int"))
        .filter(F.col("rank") <= 5)
        .select(
            "query_id",
            "neighbor_id",
            F.round("adc6", 4).alias("adc_d2"),
            "rank",
        )
    )


ann_pq_topk.__doc__ = (ann_pq_topk.__doc__ or "").format(m=PQ_M, k=PQ_K, it=PQ_ITERS)


def _pq_distortion_oracle() -> str:
    return (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),"
        + _pq_train_ctes()
        + f""",
asg AS (
  SELECT cd.m, s.sv, c.cv
  FROM codes cd
  JOIN sub s ON s.vec_id = cd.vec_id AND s.m = cd.m
  JOIN pqc{PQ_ITERS} c ON c.m = cd.m AND c.cl = cd.cl
), d AS (
  SELECT m, round({_pq_d2_duck("sv", "cv")}, 6) AS d2,
         round(list_dot_product(sv, sv), 6) AS en
  FROM asg
)
SELECT CAST(m AS INT) AS m,
       CAST(count(*) AS BIGINT) AS n_vectors,
       round(avg(d2), 4) + 0.0 AS mean_d2,
       round(max(d2), 6) + 0.0 AS max_d2,
       round(avg(en), 4) + 0.0 AS mean_energy,
       round(100.0 * avg(d2) / avg(en), 2) + 0.0 AS distortion_pct
FROM d GROUP BY m
"""
    )


@query("pq_distortion_report", oracle=_pq_distortion_oracle())
def pq_distortion_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantization-quality gate for the PQ codebooks: per subspace the
    mean/max squared reconstruction error ‖sv − code‖² and its share of
    the mean subvector energy — THE number that decides whether
    M={m}/K={k} code budgets are adequate before an ADC index ships
    (Jégou et al.'s distortion-vs-code-size trade, measured on the
    production codebooks rather than assumed). A subspace whose
    distortion share spikes is where raising K (or re-slicing) pays.

    Reuses ``_pq_model``'s training core verbatim (same codebooks as
    ann_pq_topk — the gate can never audit different codes than the
    index serves); per-row d2 is rounded to 6dp in both engines so the
    per-subspace means are engine-stable. Plan: training is the shared
    fixed-iteration relational Lloyd loop; the report adds one
    broadcast codebook join + a ≤M-cell aggregate."""
    sub, codes, cent = _pq_model(spark, sf_dir)
    asg = sub.join(codes, ["vec_id", "m"]).join(F.broadcast(cent), ["m", "cl"])
    d = asg.select(
        "m",
        F.round(F.expr(_pq_d2_spark("sv", "cv")), 6).alias("d2"),
        F.round(F.expr(_PQ_DOT.format(a="sv", b="sv")), 6).alias("en"),
    )
    return d.groupBy(F.col("m").cast("int").alias("m")).agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.round(F.avg("d2"), 4).alias("mean_d2"),
        F.round(F.max("d2"), 6).alias("max_d2"),
        F.round(F.avg("en"), 4).alias("mean_energy"),
        F.round(100.0 * F.avg("d2") / F.avg("en"), 2).alias("distortion_pct"),
    )


pq_distortion_report.__doc__ = (pq_distortion_report.__doc__ or "").format(m=PQ_M, k=PQ_K)


# ---------------------------------------------------------------------------
# Embedding drift: per-dimension standardized mean difference between
# a reference slice and a current slice — the ML-ops check run when a
# new encoder version or data mix lands, BEFORE stale embeddings
# poison ANN serving / dedup thresholds. Split here is the
# deterministic vec_id parity (stand-in for "yesterday vs today").
# ---------------------------------------------------------------------------

DRIFT_TOP_DIMS = 10


@query(
    "embedding_drift_report",
    oracle=f"""
WITH x AS (
  SELECT vec_id % 2 AS half, generate_subscripts(embedding, 1) AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS val
  FROM embeddings
), stats AS (
  SELECT dim,
         CAST(count(*) FILTER (WHERE half = 0) AS BIGINT) AS n_ref,
         CAST(count(*) FILTER (WHERE half = 1) AS BIGINT) AS n_cur,
         round(avg(val) FILTER (WHERE half = 0), 6) AS m_ref,
         round(avg(val) FILTER (WHERE half = 1), 6) AS m_cur,
         round(var_samp(val), 6) AS v_all
  FROM x GROUP BY dim
), smd AS (
  SELECT CAST(dim AS INT) AS dim, m_ref, m_cur,
         round(abs(m_cur - m_ref) / sqrt(v_all), 4) AS smd
  FROM stats
)
SELECT dim, m_ref, m_cur, smd,
       CAST(row_number() OVER (ORDER BY smd DESC, dim) AS INT) AS rank
FROM smd
QUALIFY rank <= {DRIFT_TOP_DIMS}
""",
)
def embedding_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} drifting embedding dimensions between the even- and
    odd-vec_id halves: per dim the two means (6dp, engine-synced) and
    the standardized mean difference |Δ|/σ — the encoder-regression
    alarm an embedding pipeline checks before republishing an ANN
    index.

    Plan: ONE posexplode pass → a (dim)-keyed conditional aggregate
    (map-side combinable, output = #dims rows); the rank window runs
    over that dims-bounded relation. At 100 TB the only wide relation
    is the explode, and a column-stats sketch can stand in for it."""
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select(
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode(as_double_array(F.col("embedding"))).alias("pos", "val"),
    ).select("half", (F.col("pos") + 1).alias("dim"), "val")
    stats = x.groupBy("dim").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).cast("long").alias("n_ref"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).cast("long").alias("n_cur"),
        F.round(F.avg(F.when(F.col("half") == 0, F.col("val"))), 6).alias("m_ref"),
        F.round(F.avg(F.when(F.col("half") == 1, F.col("val"))), 6).alias("m_cur"),
        F.round(F.var_samp("val"), 6).alias("v_all"),
    )
    smd = stats.select(
        F.col("dim").cast("int").alias("dim"),
        "m_ref",
        "m_cur",
        F.round(F.abs(F.col("m_cur") - F.col("m_ref")) / F.sqrt("v_all"), 4).alias("smd"),
    )
    w = Window.orderBy(F.desc("smd"), "dim")
    return (
        smd.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= DRIFT_TOP_DIMS)
    )


embedding_drift_report.__doc__ = (embedding_drift_report.__doc__ or "").format(
    k=DRIFT_TOP_DIMS
)


# ---------------------------------------------------------------------------
# IVF-PQ: the combined production ANN shape — coarse cells prune the
# candidate set, PQ codes + an ADC lookup price the survivors.
# ---------------------------------------------------------------------------


def _ivfpq_oracle() -> str:
    from etl_jlp_spark.operators.similarity import (
        _IVF_ASSIGN_CTES,
        ANN_QUERY_MOD,
        IVF_N_PROBE,
    )

    return (
        _IVF_ASSIGN_CTES
        + ","
        + _pq_train_ctes()
        + f""",
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % {ANN_QUERY_MOD} = 0),
probes AS (
  SELECT query_id, cell FROM (
    SELECT q.query_id, c.cell,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY list_dot_product(q.qv, c.cv) DESC, c.cell ASC)
             AS prn
    FROM q CROSS JOIN cent c
  ) WHERE prn <= {IVF_N_PROBE}
),
pqq AS (SELECT vec_id AS query_id, m, sv AS qsv FROM sub
        WHERE vec_id % {ANN_QUERY_MOD} = 0),
lut AS (
  SELECT q.query_id, c.m, c.cl, {_pq_d2_duck("q.qsv", "c.cv")} AS d2
  FROM pqq q JOIN pqc{PQ_ITERS} c ON q.m = c.m
),
cand AS (
  SELECT p.query_id, a.vec_id
  FROM probes p JOIN assigned a ON a.cell = p.cell
  WHERE a.vec_id <> p.query_id
),
adc AS (
  SELECT ca.query_id, ca.vec_id AS neighbor_id, round(sum(l.d2), 6) AS adc6
  FROM cand ca
  JOIN codes cd ON cd.vec_id = ca.vec_id
  JOIN lut l ON l.query_id = ca.query_id AND l.m = cd.m AND l.cl = cd.cl
  GROUP BY ca.query_id, ca.vec_id
)
SELECT query_id, neighbor_id, round(adc6, 4) AS adc_d2,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY adc6, neighbor_id)
            AS INT) AS rank
FROM adc QUALIFY rank <= 5
"""
    )


@query("ann_ivfpq_topk", oracle=_ivfpq_oracle())
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-k — the two serving-side compressions COMBINED into
    the production ANN layout (the FAISS IVFPQ shape): the coarse
    quantizer's probed cells bound WHICH vectors are priced (directory-
    partition pruning against the persisted IVF store), and PQ codes +
    the per-query ADC lookup bound HOW MUCH each candidate costs (m
    small ints per vector; the corpus floats never load at query time).
    ann_ivf_topk_prebuilt prices survivors with full-precision floats;
    ann_pq_topk prices EVERY vector — this operator is both cuts at
    once, which is why it is the shape a 100 TB serving tier actually
    deploys (recall gated offline by ann_recall_report /
    ann_ndcg_eval).

    Plan: probe selection = the IVF broadcast centroid join; candidates
    = probed cells' partitions of the persisted store (vec_id + cell
    only — column pruning drops the stored floats); pricing = candidate
    ⋈ code table ⋈ broadcast |Q|·m·k ADC table, one sum per
    (query, vector), TakeOrdered top-k."""
    from etl_jlp_spark.operators.similarity import (
        _ivf_probes,
        _load_centroids,
        _with_norm,
        ensure_ivf_store,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    dim = _emb_dim(emb)
    assigned_path, cent_path = ensure_ivf_store(spark, sf_dir)
    cent_rows = _load_centroids(spark, cent_path)
    queries = _with_norm(
        emb.filter(F.col("vec_id") % _ANN_QUERY_MOD == 0), dim, "query_id", "qv"
    ).withColumnRenamed("nrm_query_id", "nrm_q")
    probes = _ivf_probes(queries, cent_rows, dim).select("query_id", "cell")
    probe_cells = sorted({r["cell"] for r in probes.select("cell").distinct().collect()})
    # candidate ids from the probed cells' directory partitions only;
    # the stored float vectors are never read (column pruning)
    assigned = (
        read_parquet(spark, assigned_path)
        .filter(F.col("cell").isin(probe_cells))
        .select("vec_id", "cell")
    )
    cand = assigned.join(F.broadcast(probes), "cell").filter(
        F.col("query_id") != F.col("vec_id")
    )
    sub, codes, cent = _pq_model(spark, sf_dir)
    pqq = sub.filter(F.col("vec_id") % _ANN_QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), "m", F.col("sv").alias("qsv")
    )
    lut = pqq.join(F.broadcast(cent), "m").select(
        "query_id", "m", "cl", F.expr(_pq_d2_spark("qsv", "cv")).alias("d2")
    )
    adc = (
        cand.join(codes, "vec_id")
        .join(F.broadcast(lut), ["query_id", "m", "cl"])
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.round(F.sum("d2"), 6).alias("adc6"))
    )
    w_rank = Window.partitionBy("query_id").orderBy("adc6", "neighbor_id")
    return (
        adc.withColumn("rank", F.row_number().over(w_rank).cast("int"))
        .filter(F.col("rank") <= 5)
        .select(
            "query_id",
            "neighbor_id",
            F.round("adc6", 4).alias("adc_d2"),
            "rank",
        )
    )


# ---------------------------------------------------------------------------
# Davies–Bouldin index: the scatter/separation cluster-quality score
# next to centroid_silhouette_report (silhouette grades each POINT's
# placement; DB grades each CLUSTER by its worst scatter-to-separation
# ratio against any other cluster — the metric sklearn pairs with
# silhouette for k selection). Same O(N·k) centroid geometry, never
# all-pairs.
# ---------------------------------------------------------------------------


@query(
    "davies_bouldin_report",
    oracle="""
WITH x AS (
  SELECT label, unnest(embedding) AS x,
         generate_subscripts(embedding, 1) AS dim
  FROM embeddings
), comps AS (
  SELECT label, CAST(dim AS INTEGER) AS dim,
         round(avg(CAST(x AS DOUBLE)), 6) AS m
  FROM x GROUP BY label, dim
), cent AS (
  SELECT label AS cent_label, list(m ORDER BY dim) AS c FROM comps GROUP BY cent_label
), e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), s AS (
  SELECT e.label,
         CAST(count(*) AS BIGINT) AS n_vecs,
         round(avg(round(sqrt(greatest(list_dot_product(e.v, e.v)
               - 2 * list_dot_product(e.v, cent.c)
               + list_dot_product(cent.c, cent.c), 0.0)), 6)), 4) AS scatter
  FROM e JOIN cent ON e.label = cent.cent_label
  GROUP BY e.label
), m AS (
  SELECT a.cent_label AS la, b.cent_label AS lb,
         round(sqrt(greatest(list_dot_product(a.c, a.c)
               - 2 * list_dot_product(a.c, b.c)
               + list_dot_product(b.c, b.c), 0.0)), 6) AS sep
  FROM cent a JOIN cent b ON a.cent_label <> b.cent_label
), r AS (
  SELECT m.la AS label, m.lb AS other_label,
         round((sa.scatter + sb.scatter) / m.sep, 6) AS ratio
  FROM m JOIN s sa ON m.la = sa.label JOIN s sb ON m.lb = sb.label
), rmax AS (
  SELECT label, max(ratio) AS r_max FROM r GROUP BY label
), worst AS (
  SELECT r.label, rmax.r_max, CAST(min(r.other_label) AS INTEGER) AS worst_other_label
  FROM r JOIN rmax ON r.label = rmax.label AND r.ratio = rmax.r_max
  GROUP BY r.label, rmax.r_max
), db AS (
  SELECT round(avg(r_max), 4) AS db_index FROM rmax
)
SELECT s.label, s.n_vecs, s.scatter + 0.0 AS scatter,
       w.worst_other_label, w.r_max + 0.0 AS r_max,
       db.db_index + 0.0 AS db_index
FROM s JOIN worst w ON s.label = w.label CROSS JOIN db
""",
)
def davies_bouldin_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Davies–Bouldin cluster-quality report over the labeled
    embeddings: per-label scatter S_i (mean distance to own centroid),
    the worst ratio R_i = max_j (S_i + S_j)/M_ij against every other
    centroid (with the offending label, ties → smallest), and the
    DB index = mean_i R_i. Distance/rounding conventions are
    centroid_silhouette_report's (6dp centroids and distances, 4dp
    means — two guard digits over engine summation order); ratios are
    6dp-rounded before the max so argmax ties are well-defined.

    Plan: one posexplode pass for centroids, one O(N·k) broadcast
    join for scatters, then everything is k²-sized arithmetic —
    never an all-pairs vector join."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", "label", as_double_array(F.col("embedding")).alias("v"))
    cent = (
        e.select("label", F.posexplode("v").alias("pos", "x"))
        .groupBy(F.col("label").alias("cent_label"), "pos")
        .agg(F.round(F.avg("x"), 6).alias("m"))
        .groupBy("cent_label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
            ).alias("c")
        )
        .localCheckpoint(eager=True)  # k rows, consumed by scatter + k² separation
    )
    dot = "aggregate(zip_with({a}, {b}, (p, q) -> p * q), CAST(0.0 AS DOUBLE), (s, x) -> s + x)"

    def dist2(a: str, b: str) -> str:
        return (
            f"({dot.format(a=a, b=a)}) - 2 * ({dot.format(a=a, b=b)})"
            f" + ({dot.format(a=b, b=b)})"
        )

    s = (
        e.join(F.broadcast(cent), e.label == cent.cent_label)
        .select(
            "label",
            F.round(F.sqrt(F.greatest(F.expr(dist2("v", "c")), F.lit(0.0))), 6).alias("dist"),
        )
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.round(F.avg("dist"), 4).alias("scatter"),
        )
        .localCheckpoint(eager=True)  # k rows, consumed by both ratio sides
    )
    a = cent.select(F.col("cent_label").alias("la"), F.col("c").alias("ca"))
    b = cent.select(F.col("cent_label").alias("lb"), F.col("c").alias("cb"))
    m = (
        a.join(b, F.col("la") != F.col("lb"))
        .select(
            "la",
            "lb",
            F.round(F.sqrt(F.greatest(F.expr(dist2("ca", "cb")), F.lit(0.0))), 6).alias("sep"),
        )
    )
    sa = s.select(F.col("label").alias("la"), F.col("scatter").alias("s_a"))
    sb = s.select(F.col("label").alias("lb"), F.col("scatter").alias("s_b"))
    r = (
        m.join(sa, "la")
        .join(sb, "lb")
        .select(
            F.col("la").alias("label"),
            F.col("lb").alias("other_label"),
            F.round((F.col("s_a") + F.col("s_b")) / F.col("sep"), 6).alias("ratio"),
        )
        .localCheckpoint(eager=True)  # k² rows, consumed by rmax + worst
    )
    rmax = r.groupBy("label").agg(F.max("ratio").alias("r_max")).localCheckpoint(eager=True)
    worst = (
        r.join(rmax, "label")
        .where(F.col("ratio") == F.col("r_max"))
        .groupBy("label", "r_max")
        .agg(F.min("other_label").cast("int").alias("worst_other_label"))
    )
    db = rmax.agg(F.round(F.avg("r_max"), 4).alias("db_index"))
    return (
        s.join(worst, "label")
        .crossJoin(F.broadcast(db))
        .select(
            "label", "n_vecs", "scatter", "worst_other_label", "r_max", "db_index"
        )
    )


# ---------------------------------------------------------------------------
# Matryoshka truncation eval: how much retrieval quality survives when
# the served index keeps only the first d components of each embedding
# (MRL-style prefix truncation — the standard lever for shrinking a
# vector index 2-8× without retraining). For each truncation dim the
# report scores recall@k and top-1 agreement of truncated-cosine
# retrieval against full-dim retrieval over a fixed query sample — the
# number that decides which d the production ANN store can serve.
# ---------------------------------------------------------------------------

MRL_DIMS = (8, 16, 32)  # prefix dims evaluated (full dim is the reference)
MRL_QUERY_MOD = 50  # query sample: vec_id % MOD == 0 (matches the ANN evals)
MRL_TOP_K = 5


@query(
    "matryoshka_truncation_eval",
    oracle=f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id, v FROM e WHERE vec_id % {MRL_QUERY_MOD} = 0),
dims AS (SELECT unnest([{", ".join(str(d) for d in MRL_DIMS)}]) AS d),
full_scored AS (
  SELECT q.vec_id AS qid, e.vec_id AS nid,
         CASE WHEN list_dot_product(q.v, q.v) > 0
               AND list_dot_product(e.v, e.v) > 0 THEN
           round(list_dot_product(q.v, e.v) /
                 (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v))),
                 6)
         END AS c6
  FROM q JOIN e ON q.vec_id <> e.vec_id
), full_k AS (
  SELECT qid, nid,
         row_number() OVER (PARTITION BY qid ORDER BY c6 DESC NULLS LAST, nid ASC) AS rk
  FROM full_scored QUALIFY rk <= {MRL_TOP_K}
), tr_scored AS (
  SELECT dm.d, q.vec_id AS qid, e.vec_id AS nid,
         CASE WHEN list_dot_product(q.v[1:dm.d], q.v[1:dm.d]) > 0
               AND list_dot_product(e.v[1:dm.d], e.v[1:dm.d]) > 0 THEN
           round(list_dot_product(q.v[1:dm.d], e.v[1:dm.d]) /
                 (sqrt(list_dot_product(q.v[1:dm.d], q.v[1:dm.d]))
                  * sqrt(list_dot_product(e.v[1:dm.d], e.v[1:dm.d]))),
                 6)
         END AS c6
  FROM q JOIN e ON q.vec_id <> e.vec_id CROSS JOIN dims dm
), tr_k AS (
  SELECT d, qid, nid,
         row_number() OVER (PARTITION BY d, qid
                            ORDER BY c6 DESC NULLS LAST, nid ASC) AS rk
  FROM tr_scored QUALIFY rk <= {MRL_TOP_K}
), ov AS (
  SELECT t.d, t.qid,
         CAST(count(f.nid) AS BIGINT) AS hits,
         CAST(max(CASE WHEN t.rk = 1 AND f.rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS top1
  FROM tr_k t LEFT JOIN full_k f ON f.qid = t.qid AND f.nid = t.nid
  GROUP BY t.d, t.qid
)
SELECT CAST(d AS BIGINT) AS trunc_dim,
       CAST(count(*) AS BIGINT) AS n_queries,
       round(CAST(sum(hits) AS DOUBLE) / ({MRL_TOP_K} * count(*)), 4) AS avg_recall_at_k,
       round(CAST(sum(top1) AS DOUBLE) / count(*), 4) AS top1_rate
FROM ov GROUP BY d
""",
)
def matryoshka_truncation_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{k} and top-1 agreement of prefix-truncated cosine
    retrieval (dims {MRL_DIMS}) against full-dim retrieval over the
    mod-{MRL_QUERY_MOD} query sample.

    The four cosines per pair (one per dim, sequential-sum prefix dots
    matching DuckDB's sliced list_dot_product bit-for-bit, rounded to
    6 dp before ranking) come out of ONE broadcast-join pass — the
    corpus streams once, never once per dim. Recall/top-1 are exact
    integer sums with a single final division, so the averages cannot
    drift between engines.

    Scale: an EVAL op on the bounded query sample (like
    knn_loo_accuracy / ann_recall_report) — pairs = |sample| × N, one
    narrow codegen stage plus k-row-per-query windows; the production
    serving path at the chosen d is the prebuilt IVF/PQ store."""
    emb = load_table(spark, sf_dir, "embeddings")
    dim = _emb_dim(emb)
    if dim < max(MRL_DIMS):
        # static_dot past the array end would yield NULL cosines while
        # the oracle's v[1:d] slice silently truncates — fail fast
        # instead of silently diverging on a narrower embedding table.
        raise ValueError(
            f"matryoshka_truncation_eval: embedding dim {dim} < max trunc dim "
            f"{max(MRL_DIMS)}; shrink MRL_DIMS for this corpus"
        )
    # dedupe: a trunc dim equal to the full dim must not double a column
    all_dims = tuple(dict.fromkeys((*MRL_DIMS, dim)))
    v = as_double_array(F.col("embedding"))

    def sides(id_alias: str, v_alias: str) -> DataFrame:
        cols = [F.col("vec_id").alias(id_alias), v.alias(v_alias)]
        cols += [
            F.sqrt(static_dot(v, v, d)).alias(f"n{d}_{id_alias}") for d in all_dims
        ]
        return emb.select(*cols)

    corpus = widen(spark, sides("nid", "cv"), sf_dir, "embeddings")
    queries = sides("qid", "qv").filter(F.col("qid") % MRL_QUERY_MOD == 0)
    # constant-key equi join (see ann_topk_cosine): BroadcastHashJoin
    # keeps the expanded prefix dots inside whole-stage codegen.
    pairs = (
        corpus.withColumn("bk", F.pmod(F.col("nid"), F.lit(1)))
        .join(F.broadcast(queries.withColumn("bk", F.pmod(F.col("qid"), F.lit(1)))), "bk")
        .filter(F.col("qid") != F.col("nid"))
    )
    scored = pairs.select(
        "qid",
        "nid",
        *[
            # gate on BOTH prefix norms > 0: an all-zero d-prefix would
            # make Spark emit NULL but DuckDB inf/nan — NULL in both
            # engines (ranked last) keeps the top-k identical.
            F.when(
                (F.col(f"n{d}_qid") > 0) & (F.col(f"n{d}_nid") > 0),
                F.round(
                    static_dot(F.col("qv"), F.col("cv"), d)
                    / (F.col(f"n{d}_qid") * F.col(f"n{d}_nid")),
                    6,
                ),
            ).alias(f"c{d}")
            for d in all_dims
        ],
    ).localCheckpoint(eager=True)  # sample×N rows, consumed by |dims|+1 windows

    def topk(d: int) -> DataFrame:
        w = Window.partitionBy("qid").orderBy(
            F.col(f"c{d}").desc_nulls_last(), F.col("nid").asc()
        )
        return (
            scored.select("qid", "nid", F.row_number().over(w).alias("rk"))
            .filter(F.col("rk") <= MRL_TOP_K)
        )

    full_k = topk(dim)
    tr_k = None
    for d in MRL_DIMS:
        part = topk(d).select(F.lit(d).cast("long").alias("trunc_dim"), "qid", "nid", "rk")
        tr_k = part if tr_k is None else tr_k.unionByName(part)
    ov = (
        tr_k.join(
            # sample×k rows — broadcast, not a sort-merge on (qid, nid)
            F.broadcast(full_k.select("qid", "nid", F.col("rk").alias("f_rk"))),
            ["qid", "nid"],
            "left",
        )
        .groupBy("trunc_dim", "qid")
        .agg(
            F.count("f_rk").cast("long").alias("hits"),
            F.max(
                F.when((F.col("rk") == 1) & (F.col("f_rk") == 1), 1).otherwise(0)
            )
            .cast("long")
            .alias("top1"),
        )
    )
    return ov.groupBy("trunc_dim").agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.round(
            F.sum("hits").cast("double") / (MRL_TOP_K * F.count(F.lit(1))), 4
        ).alias("avg_recall_at_k"),
        F.round(F.sum("top1").cast("double") / F.count(F.lit(1)), 4).alias("top1_rate"),
    )


matryoshka_truncation_eval.__doc__ = (matryoshka_truncation_eval.__doc__ or "").format(
    MRL_DIMS=MRL_DIMS, MRL_QUERY_MOD=MRL_QUERY_MOD, k=MRL_TOP_K
)
