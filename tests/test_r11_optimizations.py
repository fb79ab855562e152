"""Equivalence pins for the round-11 optimization rewrites.

Each test pins a rewrite to the shape it replaced (the r10 form), so a
future regression in the optimized path is caught as a VALUE diff, not
just a perf drift:

- winnowing rightmost-min: window-only max_by form == the old
  min-selection self-join form (set-identical fingerprints on sf0.01);
- FLAC: table-driven CRCs == the bit-loop definition; the vectorized
  Rice writer/reader round-trip byte-identical streams against the old
  per-value layout (pinned via a reference bit-loop reimplementation);
- fixed-predictor cumsum reconstruction == the FIXED_COEFS recurrence;
- stateful sessionize vectorization == the per-row loop semantics.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


# ---------------------------------------------------------------------------
# winnowing: window-only rightmost-min == the r10 selection join
# ---------------------------------------------------------------------------


def test_winnowing_window_form_matches_join_form(spark):
    from pyspark.sql import Window

    from etl_jlp_spark.catalog import load_table
    from etl_jlp_spark.operators.spans import WIN_K, WIN_W

    docs = load_table(spark, SF_MEDIUM, "documents")
    d = docs.filter(F.length("text") >= WIN_K + WIN_W - 1).select(
        "doc_id", F.lower("text").alias("t")
    )
    grams = (
        d.select(
            "doc_id",
            F.explode(F.expr(f"sequence(1, length(t) - {WIN_K} + 1)")).alias("pos"),
            "t",
        )
        .select(
            "doc_id",
            "pos",
            F.conv(
                F.substring(F.md5(F.expr(f"substring(t, pos, {WIN_K})")), 1, 8), 16, 10
            )
            .cast("long")
            .alias("h"),
        )
        .localCheckpoint(eager=False)
    )
    nw = grams.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n_grams"))
    wmin_w = (
        Window.partitionBy("doc_id").orderBy("pos").rowsBetween(Window.currentRow, WIN_W - 1)
    )
    # NEW window-only form (mirrors operators/spans.py)
    new_fp = (
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
        .select("doc_id", F.col("pos_sel").alias("pos"), F.col("m").alias("h"))
        .distinct()
    )
    # OLD r10 join form: each window's min re-joined against its ≤W grams
    wmin_old = (
        grams.join(nw, "doc_id")
        .withColumn("m", F.min("h").over(wmin_w))
        .filter(F.col("pos") <= F.col("n_grams") - (WIN_W - 1))
        .select("doc_id", F.col("pos").alias("s"), "m")
    )
    g2 = grams.select(
        F.col("doc_id").alias("doc_id2"), F.col("pos").alias("gpos"), F.col("h").alias("gh")
    )
    old_fp = (
        wmin_old.join(
            g2,
            (wmin_old.doc_id == g2.doc_id2)
            & (F.col("gpos") >= F.col("s"))
            & (F.col("gpos") <= F.col("s") + (WIN_W - 1))
            & (F.col("gh") == F.col("m")),
        )
        .groupBy("doc_id", "s", "m")
        .agg(F.max("gpos").alias("pos"))
        .select("doc_id", "pos", F.col("m").alias("h"))
        .distinct()
    )
    new_rows = {tuple(r) for r in new_fp.collect()}
    old_rows = {tuple(r) for r in old_fp.collect()}
    assert new_rows == old_rows and len(new_rows) > 0


# ---------------------------------------------------------------------------
# FLAC: table CRCs == the per-bit definition
# ---------------------------------------------------------------------------


def _crc8_ref(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _crc16_ref(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 else (crc << 1) & 0xFFFF
    return crc


def test_flac_crc_tables_match_bit_loop():
    from etl_jlp_spark.multimodal.flac import _crc8, _crc16

    rng = np.random.RandomState(11)
    for n in (0, 1, 7, 64, 1000):
        data = bytes(rng.randint(0, 256, n, dtype=np.uint8))
        assert _crc8(data) == _crc8_ref(data)
        assert _crc16(data) == _crc16_ref(data)


# ---------------------------------------------------------------------------
# FLAC: vectorized Rice writer == per-value layout; vectorized reader
# round-trips it (wide residual ranges exercise every k and long unary
# runs; partition orders exercise the multi-partition path)
# ---------------------------------------------------------------------------


def _rice_write_ref(bw, residual, order, blocksize, partition_order=0):
    """The r10 per-value Rice writer, kept as the layout reference."""
    bw.write(0, 2)
    bw.write(partition_order, 4)
    nparts = 1 << partition_order
    part_len = blocksize >> partition_order
    idx = 0
    for p in range(nparts):
        n = part_len - (order if p == 0 else 0)
        chunk = residual[idx : idx + n]
        idx += n
        u = np.where(
            chunk >= 0,
            chunk.astype(np.int64) << 1,
            ((-chunk.astype(np.int64)) << 1) - 1,
        )
        best_k, best_cost = 0, None
        for k in range(15):
            cost = int(np.sum(u >> k)) + n * (k + 1)
            if best_cost is None or cost < best_cost:
                best_k, best_cost = k, cost
        bw.write(best_k, 4)
        for val in u:
            bw.write_unary(int(val) >> best_k)
            if best_k:
                bw.write(int(val) & ((1 << best_k) - 1), best_k)


@pytest.mark.parametrize("scale,partition_order", [(3, 0), (300, 0), (30000, 2), (1, 2)])
def test_flac_rice_write_matches_reference_and_roundtrips(scale, partition_order):
    from etl_jlp_spark.multimodal.flac import (
        _BitReader,
        _BitWriter,
        _rice_read,
        _rice_write,
    )

    rng = np.random.RandomState(scale)
    blocksize, order = 256, 2
    residual = rng.randint(-scale, scale + 1, blocksize - order).astype(np.int64)

    bw_new, bw_ref = _BitWriter(), _BitWriter()
    _rice_write(bw_new, residual, order, blocksize, partition_order)
    _rice_write_ref(bw_ref, residual, order, blocksize, partition_order)
    bw_new.align(), bw_ref.align()
    assert bw_new.bytes() == bw_ref.bytes()

    got = _rice_read(_BitReader(bw_new.bytes()), order, blocksize)
    assert np.array_equal(got, residual)


def test_flac_rice_reader_rejects_truncation():
    from etl_jlp_spark.multimodal.flac import _BitReader, _BitWriter, _rice_read, _rice_write

    bw = _BitWriter()
    res = np.arange(-40, 214, dtype=np.int64)
    _rice_write(bw, res, 2, 256)
    bw.align()
    data = bw.bytes()
    with pytest.raises(ValueError):
        _rice_read(_BitReader(data[: len(data) // 2]), 2, 256)


def test_flac_rice_reader_accepts_empty_first_partition():
    """blocksize >> partition_order == order leaves the first partition
    with no residuals — spec-legal, and it must decode as empty."""
    from etl_jlp_spark.multimodal.flac import _BitReader, _BitWriter, _rice_read, _rice_write

    bw = _BitWriter()
    res = np.array([5, -3, 0, 7], dtype=np.int64)
    _rice_write(bw, res, 4, 8, partition_order=1)
    bw.align()
    assert np.array_equal(_rice_read(_BitReader(bw.bytes()), 4, 8), res)


def test_flac_fixed_predictor_rejects_residual_beyond_int64_headroom():
    """A residual of 2^47 passes a 2^48 guard, yet 2^16 such samples
    would sum past 2^63. It can only come from a corrupt stream (bps ≤ 32
    keeps real differences near 2^37), so the decoder must reject it."""
    from etl_jlp_spark.multimodal.flac import _BitReader, _BitWriter, _read_subframe

    bw = _BitWriter()
    bw.write(0, 1)  # padding
    bw.write(8 + 1, 6)  # FIXED, order 1
    bw.write(0, 1)  # no wasted bits
    bw.write(0, 16)  # warm-up sample
    bw.write(1, 2)  # coding method 1: 5-bit rice parameters
    bw.write(0, 4)  # one partition
    k = 30
    bw.write(k, 5)
    for u in (2 * (1 << 47), 0, 0):  # zigzag of +2^47, 0, 0
        bw.write_unary(u >> k)
        bw.write(u & ((1 << k) - 1), k)
    bw.align()
    with pytest.raises(ValueError, match="overflow"):
        _read_subframe(_BitReader(bw.bytes()), 4, 16)


# ---------------------------------------------------------------------------
# FLAC: cumsum fixed-predictor reconstruction == the coefficient recurrence
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("order", [0, 1, 2, 3, 4])
def test_flac_fixed_predictor_cumsum_matches_recurrence(order):
    from etl_jlp_spark.multimodal.containers import encode_flac_streaminfo
    from etl_jlp_spark.multimodal.flac import FIXED_COEFS, decode_flac_samples, encode_flac

    rng = np.random.RandomState(order)
    # staircase+noise keeps every fixed order in play across blocks
    n = 1500
    samples = (
        np.cumsum(rng.randint(-60, 61, n)) + (np.arange(n) * order)
    ).astype(np.int16)
    payload = encode_flac(8000, samples, block_size=256)
    _, _, _, got = decode_flac_samples(payload)
    assert np.array_equal(got[:, 0], samples.astype(np.int64))
    # and the recurrence itself on a raw residual array
    res = rng.randint(-500, 501, 64 - order).astype(np.int64)
    warm = rng.randint(-500, 501, order).astype(np.int64)
    want = np.empty(64, dtype=np.int64)
    want[:order] = warm
    coefs = FIXED_COEFS[order]
    for i in range(order, 64):
        want[i] = int(res[i - order]) + sum(
            c * int(want[i - 1 - j]) for j, c in enumerate(coefs)
        )
    out = np.empty(64, dtype=np.int64)
    out[:order] = warm
    level = res
    for lvl in range(order - 1, -1, -1):
        seed = np.diff(warm, n=lvl)[-1] if order else 0
        level = seed + np.cumsum(level)
    out[order:] = level
    assert np.array_equal(out, want)


# ---------------------------------------------------------------------------
# stateful sessionize: vectorized ordinals == the per-row loop
# ---------------------------------------------------------------------------


def test_stateful_sessionize_vectorization_semantics():
    from etl_jlp_spark.operators.sessionize import SESSION_GAP_S

    gap_us = SESSION_GAP_S * 1_000_000
    rng = np.random.RandomState(5)
    ts = np.cumsum(rng.randint(1, gap_us * 2, 200)).astype(np.int64)
    for last_ts_us, session_ord in [(None, 0), (int(ts[0]) - 1, 7), (int(ts[0]) - gap_us * 3, 2)]:
        # reference per-row loop (the r10 implementation)
        ref, lt, so = [], last_ts_us, session_ord
        for t in ts:
            if lt is None or (t - lt) > gap_us:
                so += 1
            ref.append(so)
            lt = int(t)
        # vectorized form (mirrors streaming/stateful.py)
        prev = np.concatenate(([last_ts_us if last_ts_us is not None else ts[0]], ts[:-1]))
        starts = (ts - prev) > gap_us
        if last_ts_us is None:
            starts[0] = True
        got = session_ord + np.cumsum(starts)
        assert np.array_equal(got, np.array(ref))

# ---------------------------------------------------------------------------
# knn_loo numpy phase: sequential-order numpy cosine is bit-identical to
# the static_dot chain Spark evaluates (the margin proof's foundation)
# ---------------------------------------------------------------------------


def test_knn_numpy_cosine_bit_identical_to_static_dot(spark):
    from etl_jlp_spark.catalog import load_table
    from etl_jlp_spark.functions.vectors import as_double_array, static_dot

    emb = load_table(spark, SF_MEDIUM, "embeddings").limit(64)
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    V = np.array([r["embedding"] for r in rows], dtype=np.float64)
    dim = V.shape[1]
    acc = V[:, 0] * V[:, 0]
    for i in range(1, dim):
        acc = acc + V[:, i] * V[:, i]
    nrm = np.sqrt(acc)
    # numpy pairwise cosine, sequential dim order
    dot = V[:, 0][:, None] * V[:, 0][None, :]
    for i in range(1, dim):
        dot = dot + V[:, i][:, None] * V[:, i][None, :]
    cos_np = dot / (nrm[:, None] * nrm[None, :])
    # Spark static_dot chain over the same pairs
    v = as_double_array(F.col("embedding"))
    base = emb.select("vec_id", v.alias("v"), F.sqrt(static_dot(v, v, dim)).alias("nrm"))
    a = base.select(F.col("vec_id").alias("qid"), F.col("v").alias("qv"), F.col("nrm").alias("qn"))
    b = base.select(F.col("vec_id").alias("nb"), F.col("v").alias("nv"), F.col("nrm").alias("nn"))
    got = {
        (r["qid"], r["nb"]): r["c"]
        for r in a.crossJoin(F.broadcast(b))
        .select(
            "qid",
            "nb",
            (static_dot(F.col("qv"), F.col("nv"), dim) / (F.col("qn") * F.col("nn"))).alias("c"),
        )
        .collect()
    }
    idx = {int(i): k for k, i in enumerate(ids)}
    for (qid, nb), c_spark in got.items():
        assert cos_np[idx[qid], idx[nb]] == c_spark  # bit-identical, no tolerance
