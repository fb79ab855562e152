"""Structured Streaming pipeline tests: file-source incremental load
with audit stamping, windowed event-time aggregation, session windows,
and every stateless streaming twin (a batch operator run per micro-batch
by ``sink_batches``) — each checked against its batch twin."""

import os
from collections import Counter
from dataclasses import dataclass
from functools import cached_property, partial, reduce
from typing import Callable

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

import __spark_entry__ as ent
from tests.conftest import SF_SMALL
from tests.test_phash import H, W, _blocks, _media_df, _noisy_ring, _ring
from etl_jlp_spark.catalog import load_table
from etl_jlp_spark.multimodal.binary import MEDIA_SCHEMA, encode_bmp, encode_png
from etl_jlp_spark.multimodal.containers import (
    encode_flac_streaminfo,
    encode_mp4_skeleton,
    media_metadata_report,
)
from etl_jlp_spark.multimodal.id3 import encode_id3
from etl_jlp_spark.multimodal.phash import image_phash, phash_pairs_vs_index
from etl_jlp_spark.operators.ir import (
    BM25_QUERY_TERMS,
    BM25_TOP_K,
    bm25_search_queries,
    score_docs_with_lm,
    train_unigram_lm,
)
from etl_jlp_spark.operators.kmv import kmv_sketch
from etl_jlp_spark.operators.sampling import apply_mix_filter, doc_token_counts, mix_rates
from etl_jlp_spark.operators.scd import enrich_asof, scd2_build
from etl_jlp_spark.operators.similarity import DECON_BENCH_HEX, bench_shingle_set, decon_overlap
from etl_jlp_spark.operators.sketches import cms_counters, hll_registers
from etl_jlp_spark.operators.spans import gram_directory, span_report_vs_directory
from etl_jlp_spark.plans.nonparam import (
    W1_REF_DAYS,
    ad_against_reference,
    cents_counts,
    w1_against_reference,
)
from etl_jlp_spark.plans.regression import did_cells
from etl_jlp_spark.plans.timeseries import baseline_stats, daily_counts, score_daily_anomaly
from etl_jlp_spark.quality.drift import bucket_counts, psi_against_reference
from etl_jlp_spark.streaming.pipeline import (
    cms_view,
    did_view,
    hll_view,
    incremental_to_bronze,
    kmv_view,
    sink_batches,
    sink_store,
    stream_events,
    streaming_sessionize,
    windowed_event_counts,
)

# Wall-clock-bound (streaming triggers / state timeouts): part of the
# default run; select or exclude them with -m slow / -m "not slow".
pytestmark = pytest.mark.slow

QS = ent.queries()


@pytest.fixture()
def events_dir(spark, tmp_path):
    """Re-materialize sf0.001 events as a micro-batched source dir
    (two files = two 'incremental loads')."""
    src = str(tmp_path / "src")
    ev = load_table(spark, SF_SMALL, "events")
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode("overwrite").parquet(src)
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)
    return src


def test_incremental_to_bronze_exactly_once(spark, events_dir, tmp_path):
    dest = str(tmp_path / "bronze")
    ckpt = str(tmp_path / "ckpt")
    q = incremental_to_bronze(spark, events_dir, dest, ckpt)
    assert q.awaitTermination(120)
    out = spark.read.parquet(dest)
    n_src = spark.read.parquet(events_dir).count()
    assert out.count() == n_src
    assert out.filter(F.col("source_name") != "clickhouse-streaming-data").count() == 0
    # restart with same checkpoint: no reprocessing (exactly-once)
    q2 = incremental_to_bronze(spark, events_dir, dest, ckpt)
    assert q2.awaitTermination(120)
    assert spark.read.parquet(dest).count() == n_src


def test_windowed_counts_match_batch(spark, events_dir, tmp_path):
    stream = stream_events(spark, events_dir)
    agg = windowed_event_counts(stream, window="1 day")
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("select * from win_counts").collect()
    }
    batch = load_table(spark, SF_SMALL, "events").groupBy(
        F.date_trunc("day", "ts").alias("window_start"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("s"))
    want = {
        (r["window_start"], r["event_type"]): (r["n"], r["s"]) for r in batch.collect()
    }
    assert got == want


def test_streaming_sessionize_bounded_sessions(spark, events_dir):
    stream = stream_events(spark, events_dir)
    sess = streaming_sessionize(stream)
    q = (
        sess.writeStream.format("memory")
        .queryName("sessions")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    rows = spark.sql("select * from sessions").collect()
    assert rows
    # sessions are per-user and non-overlapping in time
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append((r["session_start"], r["session_end"]))
    for spans in by_user.values():
        spans.sort()
        for (s1, e1), (s2, _e2) in zip(spans, spans[1:]):
            assert e1 <= s2, "overlapping sessions for one user"


def test_streaming_quality_monitor_matches_batch(spark, events_dir):
    from etl_jlp_spark.streaming.pipeline import streaming_quality_monitor

    q = (
        streaming_quality_monitor(stream_events(spark, events_dir), window="1 day")
        .writeStream.format("memory")
        .queryName("q_monitor")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = {
        r["window_start"]: (
            r["n_events"],
            r["rate_value_nonneg"],
            r["rate_event_type_known"],
            r["rate_props_json"],
        )
        for r in spark.sql("select * from q_monitor").collect()
    }

    def rate(pred, name):
        return F.round(100.0 * F.sum(F.when(pred, 1).otherwise(0)) / F.count(F.lit(1)), 2).alias(
            name
        )

    batch = (
        load_table(spark, SF_SMALL, "events")
        .groupBy(F.date_trunc("day", "ts").alias("window_start"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            rate(F.col("value") >= 0, "r1"),
            rate(
                F.col("event_type").isin("click", "view", "purchase", "signup", "error"), "r2"
            ),
            rate(F.col("props").startswith("{"), "r3"),
        )
        .collect()
    )
    want = {r["window_start"]: (r["n_events"], r["r1"], r["r2"], r["r3"]) for r in batch}
    assert got == want and len(got) > 1


def test_write_batch_idempotent_replay_no_duplicates(spark, tmp_path):
    """The crash-replay scenario the checkpoint cannot cover: the batch
    parquet write succeeded but the commit did not, so foreachBatch
    re-runs with the SAME batch_id. The per-batch_id overwrite must
    absorb the replay instead of appending duplicates."""
    from etl_jlp_spark.streaming.pipeline import write_batch_idempotent

    dest = str(tmp_path / "idem_out")
    df = spark.range(10).withColumnRenamed("id", "doc_id")
    write_batch_idempotent(df, dest, 0)
    write_batch_idempotent(df, dest, 0)  # replay of batch 0
    write_batch_idempotent(df, dest, 1)
    out = spark.read.parquet(dest)
    assert out.count() == 20  # 10 per DISTINCT batch, replay absorbed
    assert out.select("batch_id").distinct().count() == 2


def test_streaming_rolling_distinct_matches_batch(spark, tmp_path):
    """The stateful delta-segment stream, replayed over time-ordered
    micro-batches, must reproduce the batch operator's exact trailing-7d
    distinct timeline — including the retraction case (a user active on
    overlapping segments)."""
    from etl_jlp_spark.streaming.stateful import (
        rolling_distinct_deltas_stateful,
        rolling_view,
    )

    ev = load_table(spark, SF_SMALL, "events").select("user_id", "ts", "event_id")
    # three TIME-ordered chunks (the per-user cross-batch ordering the
    # operator contracts on), written as separate files
    src = str(tmp_path / "src")
    bounds = ev.agg(
        F.expr("timestamp_micros(CAST(percentile(unix_micros(ts), 0.33) AS BIGINT))").alias("t1"),
        F.expr("timestamp_micros(CAST(percentile(unix_micros(ts), 0.66) AS BIGINT))").alias("t2"),
    ).collect()[0]
    t1, t2 = bounds["t1"], bounds["t2"]
    ev.filter(F.col("ts") <= t1).coalesce(1).write.mode("overwrite").parquet(src)
    ev.filter((F.col("ts") > t1) & (F.col("ts") <= t2)).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    ev.filter(F.col("ts") > t2).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.format("parquet")
        .schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .load(src)
    )
    deltas = rolling_distinct_deltas_stateful(stream)
    dest = str(tmp_path / "deltas")
    ckpt = str(tmp_path / "ckpt")
    q = (
        deltas.writeStream.format("parquet")
        .option("path", dest)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)

    got_df = spark.read.parquet(dest)
    batch = QS["rolling_distinct_users_exact"](spark, SF_SMALL)
    days = batch.select("day")
    got = {
        (r["day"], r["rolling_users"])
        for r in rolling_view(got_df, days).collect()
    }
    want = {(r["day"], r["rolling_users"]) for r in batch.collect()}
    assert got == want


def test_streaming_sprt_monitor_matches_batch(spark, tmp_path):
    """Cumulative SPRT over two micro-batches must land exactly on the
    registered batch query's final-day row per arm (same hypotheses),
    and a re-run with the same checkpoint must not move state or
    output (exactly-once)."""
    import os

    from etl_jlp_spark.plans.experiment import (
        AB_SPLIT_HEX,
        SPRT_P1_SCALE_E6,
        sprt_ab_monitor,
    )
    from etl_jlp_spark.streaming.pipeline import streaming_sprt_monitor
    from tests.conftest import SF_SMALL

    ev = load_table(spark, SF_SMALL, "events")
    # the batch query's hypotheses: exact e6 rationals off arm A totals
    a = ev.where(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) < AB_SPLIT_HEX
    )
    bn = a.count()
    bc = a.where(F.col("event_type") == "purchase").count()
    p0_e6 = (2 * 1000000 * bc + bn) // (2 * bn)
    p1_e6 = (2 * SPRT_P1_SCALE_E6 * bc + bn) // (2 * bn)

    d0 = ev.agg(F.min(F.to_date("ts"))).collect()[0][0]
    half1 = ev.filter(F.to_date("ts") < F.date_add(F.lit(d0), 15))
    half2 = ev.filter(F.to_date("ts") >= F.date_add(F.lit(d0), 15))

    src = str(tmp_path / "src")
    dest, state, ckpt = (
        str(tmp_path / "sprt"),
        str(tmp_path / "state"),
        str(tmp_path / "ckpt"),
    )
    half1.coalesce(1).write.mode("overwrite").parquet(src)
    assert streaming_sprt_monitor(
        spark, src, p0_e6, p1_e6, dest, state, ckpt
    ).awaitTermination(120)
    half2.coalesce(1).write.mode("append").parquet(src)
    assert streaming_sprt_monitor(
        spark, src, p0_e6, p1_e6, dest, state, ckpt
    ).awaitTermination(120)

    out = spark.read.parquet(dest)
    assert {r["batch_id"] for r in out.select("batch_id").distinct().collect()} == {0, 1}
    # batch-0 cumulative == half1 totals; batch-1 cumulative == full totals
    final = {r["arm"]: r for r in out.filter(F.col("batch_id") == 1).collect()}
    batch_rows = sprt_ab_monitor(spark, SF_SMALL).collect()
    # each arm's final cumulative row is at ITS OWN last active day
    last_day = {}
    for r in batch_rows:
        if r["arm"] not in last_day or r["day"] > last_day[r["arm"]]:
            last_day[r["arm"]] = r["day"]
    want = {r["arm"]: r for r in batch_rows if r["day"] == last_day[r["arm"]]}
    assert set(final) == set(want)
    for arm in want:
        assert final[arm]["cum_n"] == want[arm]["cum_n"]
        assert final[arm]["cum_conv"] == want[arm]["cum_conv"]
        assert final[arm]["llr"] == want[arm]["llr"]
        assert final[arm]["decision"] == want[arm]["decision"]
    # the null-calibrated control arm never rejects
    assert final["A"]["decision"] != "reject_h0"

    # exactly-once: with batch 1's commit dropped from the checkpoint, a
    # third run replays it and changes neither the state nor the output
    def listing():
        return sorted(
            os.path.relpath(os.path.join(d, f), state)
            for d, _, files in os.walk(state)
            for f in files
        )

    before = sorted(map(tuple, out.collect()))
    state_before = listing()
    for name in ("1", ".1.crc"):
        path = os.path.join(ckpt, "commits", name)
        if os.path.exists(path):
            os.remove(path)
    q = streaming_sprt_monitor(spark, src, p0_e6, p1_e6, dest, state, ckpt)
    assert q.awaitTermination(120)
    assert [p["batchId"] for p in q.recentProgress] == [1]
    after = sorted(map(tuple, spark.read.parquet(dest).collect()))
    assert after == before
    assert listing() == state_before



# ---------------------------------------------------------------------------
# Streaming twins. A stateless twin is no engine function: it is
# sink_batches(stream_events(spark, src, schema), op, dest, ckpt) with
# ``op`` the batch operator closed over its static side input. Each row
# lands its input files (one inner list per availableNow run on one
# checkpoint), and the sink as served must give the batch twin's rows.
# ---------------------------------------------------------------------------


def _halves(df, key):
    return [df.filter(F.col(key) % 2 == i) for i in (0, 1)]


def _media_rows(n=12):
    rows = []
    for i in range(n):
        kind = ["mp3", "flac", "mp4"][i % 3]
        if kind == "mp3":
            payload = encode_id3(title=f"T{i}")
        elif kind == "flac":
            payload = encode_flac_streaminfo(8000 + i, 1, 16, 100 + i)
        else:
            payload = encode_mp4_skeleton(1.0 + i, 1000, 1 + i % 3)
        rows.append((i, kind, bytearray(payload), ("s", len(payload), 0, 0)))
    return rows


class Inputs:
    """sf0.001 inputs and the twins' static side inputs, built once."""

    def __init__(self, spark):
        self.spark = spark
        self.ev = load_table(spark, SF_SMALL, "events")
        self.docs = load_table(spark, SF_SMALL, "documents")
        self.ev_halves = _halves(self.ev, "event_id")
        self.doc_halves = _halves(self.docs, "doc_id")

    @cached_property
    def decon_corpus(self):
        # only the corpus side streams; the eval set never does
        md5 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
        return _halves(self.docs.filter(md5 >= DECON_BENCH_HEX), "doc_id")

    @cached_property
    def lm(self):
        return train_unigram_lm(self.docs)

    @cached_property
    def mix_rates(self):
        return mix_rates(doc_token_counts(self.docs))

    @cached_property
    def scd_dim(self):
        return scd2_build(self.spark, SF_SMALL)

    @cached_property
    def psi_ref(self):
        return bucket_counts(self.ev)

    @cached_property
    def anomaly_baseline(self):
        return baseline_stats(daily_counts(self.ev))

    @cached_property
    def w1_split(self):
        """(the first W1_REF_DAYS days, the rest) — the registered drift
        queries' reference/current split."""
        d0 = self.ev.agg(F.min(F.to_date("ts"))).first()[0]
        is_ref = F.to_date("ts") < F.date_add(F.lit(d0), W1_REF_DAYS)
        return self.ev.filter(is_ref), self.ev.filter(~is_ref)

    @cached_property
    def w1_ref(self):
        return cents_counts(self.w1_split[0])

    @cached_property
    def search_queries(self):
        # query 1 tokenizes to the batch probe's term list; query 2
        # shares its batch, exercising the multi-query rank window
        return self.spark.createDataFrame(
            [(1, " ".join(BM25_QUERY_TERMS)), (2, "vector vector")],
            "query_id long, query_text string",
        )

    @cached_property
    def phash_index(self):
        index = [("bmp", encode_bmp(W, H, _ring)), ("bmp", encode_bmp(W, H, _blocks))]
        return image_phash(_media_df(self.spark, index))

    @cached_property
    def phash_arriving(self):
        """A noisy near-dup of index image 0 and a PNG re-encode of 1."""
        payloads = [("bmp", encode_bmp(W, H, _noisy_ring)), ("png", encode_png(W, H, _blocks))]
        return self.spark.createDataFrame(
            [
                (100 + i, kind, bytearray(p), (f"s{i}", len(p), W, H))
                for i, (kind, p) in enumerate(payloads)
            ],
            MEDIA_SCHEMA,
        )

    @cached_property
    def media(self):
        return self.spark.createDataFrame(_media_rows(), MEDIA_SCHEMA)


def _psi(batch, ref):
    return psi_against_reference(bucket_counts(batch), ref).select("event_type", "psi", "n_cur")


def _anomaly(batch, baseline):
    cols = ["day", "event_type", "n_events", "zscore", "is_anomaly"]
    return score_daily_anomaly(batch, baseline).select(*cols)


def _w1(batch, ref):
    return w1_against_reference(cents_counts(batch), ref)


def _ad(batch, ref):
    return ad_against_reference(cents_counts(batch), ref)


def _mix(docs, rates):
    return apply_mix_filter(doc_token_counts(docs), rates).select("doc_id", "source", "n_tokens")


def _day_registers(batch):
    return hll_registers(
        batch.select(F.col("ts").cast("date").alias("day"), "event_id"), "event_id", ["day"]
    )


def _phash_pairs(media, index_hashed):
    pairs = phash_pairs_vs_index(image_phash(media), index_hashed)
    return pairs.select("id_a", "id_b", "hamming")


def _media_report(media):
    return media_metadata_report(media).select("media_id", "summary", "has_meta")


def _per_batch(op, batches):
    """A per-batch monitor's batch twin: ``op`` on each run's rows,
    tagged with the batch id the sink writes them under."""
    out = [op(rows).withColumn("batch_id", F.lit(i)) for i, rows in enumerate(batches)]
    return reduce(lambda a, b: a.unionByName(b), out)


def _batch_max(c, dest, col, batch_id):
    rows = c.spark.read.parquet(dest).filter(F.col("batch_id") == batch_id)
    return rows.agg(F.max(col)).first()[0]


def _served(c, dest):
    return c.spark.read.parquet(dest)


@dataclass(frozen=True)
class Twin:
    runs: Callable  # Inputs -> [[frame landed as one file, ...] per run]
    op: Callable  # (Inputs, batch) -> the batch operator over its side input
    want: Callable  # Inputs -> the batch twin's rows
    read: Callable = _served  # (Inputs, dest) -> the sink as served
    sink: Callable = sink_batches  # (stream, op, dest, ckpt) -> the launched stream
    holds: Callable = lambda c, dest: True  # property beyond equality


TWINS = {
    "decontaminate": Twin(
        runs=lambda c: [c.decon_corpus],
        op=lambda c, b: decon_overlap(b, bench_shingle_set(c.docs)),
        want=lambda c: QS["decontaminate_docs"](c.spark, SF_SMALL),
    ),
    "lm_score": Twin(
        runs=lambda c: [c.doc_halves],
        op=lambda c, b: score_docs_with_lm(b, *c.lm),
        want=lambda c: QS["ngram_lm_score"](c.spark, SF_SMALL),
    ),
    "span_check": Twin(
        runs=lambda c: [c.doc_halves],
        op=lambda c, b: span_report_vs_directory(b, gram_directory(c.docs)),
        want=lambda c: QS["dup_span_report"](c.spark, SF_SMALL),
    ),
    "balance_mix": Twin(
        runs=lambda c: [c.doc_halves],
        op=lambda c, b: _mix(b, c.mix_rates),
        want=lambda c: _mix(c.docs, c.mix_rates),
        holds=lambda c, dest: _served(c, dest).count() > 0,
    ),
    "scd2_enrich": Twin(
        runs=lambda c: [c.ev_halves],
        op=lambda c, b: enrich_asof(b, c.scd_dim),
        want=lambda c: enrich_asof(c.ev, c.scd_dim).select("event_id", "attr_asof"),
    ),
    # two runs on one checkpoint make each batch's rows deterministic
    "psi_monitor": Twin(
        runs=lambda c: [[h] for h in c.ev_halves],
        op=lambda c, b: _psi(b, c.psi_ref),
        want=lambda c: _per_batch(lambda b: _psi(b, c.psi_ref), c.ev_halves),
        # each half is a same-distribution sample of the reference
        holds=lambda c, dest: max(_batch_max(c, dest, "psi", i) for i in (0, 1)) < 0.1,
    ),
    "anomaly_monitor": Twin(
        runs=lambda c: [[h] for h in c.ev_halves],
        op=lambda c, b: _anomaly(b, c.anomaly_baseline),
        want=lambda c: _per_batch(lambda b: _anomaly(b, c.anomaly_baseline), c.ev_halves),
        # half-volume days against a full-volume baseline must alarm
        holds=lambda c, dest: _served(c, dest).filter(F.col("is_anomaly")).count() > 0,
    ),
    # batch 0 is the registered query (the rest against the reference
    # window); batch 1 is the reference rows themselves and scores 0
    "w1_monitor": Twin(
        runs=lambda c: [[c.w1_split[1]], [c.w1_split[0]]],
        op=lambda c, b: _w1(b, c.w1_ref),
        want=lambda c: QS["wasserstein_value_drift"](c.spark, SF_SMALL)
        .withColumn("batch_id", F.lit(0))
        .unionByName(_w1(c.w1_split[0], c.w1_ref).withColumn("batch_id", F.lit(1))),
        holds=lambda c, dest: _batch_max(c, dest, "w1_dollars", 1) == 0.0,
    ),
    "ad_monitor": Twin(
        runs=lambda c: [[c.w1_split[1]], [c.w1_split[0]]],
        op=lambda c, b: _ad(b, c.w1_ref),
        want=lambda c: QS["anderson_darling_drift"](c.spark, SF_SMALL)
        .withColumn("batch_id", F.lit(0))
        .unionByName(_ad(c.w1_split[0], c.w1_ref).withColumn("batch_id", F.lit(1))),
        # every CDF gap is identically 0: A² = 0 exactly (integer algebra)
        holds=lambda c, dest: _batch_max(c, dest, "ad_stat", 1) == 0.0,
    ),
    # mergeable per-batch state: a store at dest, whose view merged over
    # the two runs' deltas equals the batch build
    "cms_monitor": Twin(
        runs=lambda c: [[h] for h in c.ev_halves],
        op=lambda c, b: cms_counters(b),
        want=lambda c: cms_counters(c.ev),
        read=lambda c, dest: cms_view(c.spark, dest),
        sink=sink_store,
    ),
    "hll_monitor": Twin(
        runs=lambda c: [[h] for h in c.ev_halves],
        op=lambda c, b: _day_registers(b),
        want=lambda c: QS["hll_distinct_daily"](c.spark, SF_SMALL).select("day", "est_distinct"),
        read=lambda c, dest: hll_view(c.spark, dest),
        sink=sink_store,
    ),
    "kmv_monitor": Twin(
        runs=lambda c: [[h] for h in c.ev_halves],
        op=lambda c, b: kmv_sketch(b, "event_type", "user_id").select("g", "hv"),
        want=lambda c: QS["kmv_distinct_by_type"](c.spark, SF_SMALL).select(
            "event_type", "est_distinct"
        ),
        read=lambda c, dest: kmv_view(c.spark, dest),
        sink=sink_store,
    ),
    "did_monitor": Twin(
        runs=lambda c: [[h] for h in c.ev_halves],
        op=lambda c, b: did_cells(b),
        want=lambda c: QS["did_lift_report"](c.spark, SF_SMALL),
        read=lambda c, dest: did_view(c.spark, dest),
        sink=sink_store,
    ),
    # query 1 returns the registered probe's top-K in its order; the
    # single-term query 2 returns results too, capped at top-K
    "bm25_search": Twin(
        runs=lambda c: [[c.search_queries]],
        op=lambda c, b: bm25_search_queries(b, SF_SMALL),
        want=lambda c: QS["bm25_search_prebuilt"](c.spark, SF_SMALL).select(
            F.lit(1).cast("long").alias("query_id"),
            "doc_id",
            "bm25",
            F.row_number().over(Window.orderBy(F.desc("bm25"), "doc_id")).alias("rank"),
        ),
        read=lambda c, dest: _served(c, dest).filter(F.col("query_id") == 1),
        holds=lambda c, dest: 0
        < _served(c, dest).filter(F.col("query_id") == 2).count()
        <= BM25_TOP_K,
    ),
    "phash_dedup": Twin(
        runs=lambda c: [[c.phash_arriving.filter(F.col("media_id") == i) for i in (100, 101)]],
        op=lambda c, b: _phash_pairs(b, c.phash_index),
        want=lambda c: _phash_pairs(c.phash_arriving, c.phash_index),
        holds=lambda c, dest: {(r["id_a"], r["id_b"]) for r in _served(c, dest).collect()}
        == {(100, 0), (101, 1)},
    ),
    "media_metadata": Twin(
        runs=lambda c: [[c.media]],
        op=lambda c, b: _media_report(b),
        want=lambda c: _media_report(c.media),
        holds=lambda c, dest: _served(c, dest).count() == 12,
    ),
}


@pytest.fixture(scope="module")
def inputs(spark):
    return Inputs(spark)


@pytest.mark.parametrize("name", sorted(TWINS))
def test_streaming_twin_matches_batch(spark, inputs, tmp_path, name):
    twin = TWINS[name]
    src, dest, ckpt = (str(tmp_path / d) for d in ("src", "dest", "ckpt"))
    runs = twin.runs(inputs)
    want = twin.want(inputs)

    def run_stream():
        stream = stream_events(spark, src, runs[0][0].schema)
        assert twin.sink(stream, partial(twin.op, inputs), dest, ckpt).awaitTermination(120)

    def served():
        rows = twin.read(inputs, dest).select(*want.columns).collect()
        return Counter(map(tuple, rows)), sorted(os.listdir(dest))

    for files in runs:
        for df in files:
            df.coalesce(1).write.mode("append").parquet(src)
        run_stream()
    got = served()
    assert got[0] == Counter(map(tuple, want.collect()))
    assert twin.holds(inputs, dest)
    run_stream()  # a replay on the same checkpoint changes nothing
    assert served() == got
