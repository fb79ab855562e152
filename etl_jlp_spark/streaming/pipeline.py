"""Structured Streaming re-expression of the reference's polled
incremental pipeline.

Reference: preprocessing_streaming_incremental_load.py:39-101 polls a
lake folder, lists files newer than a watermark row in a CSV, reads
them, transforms, writes, and advances the watermark by hand. In
Spark, ``readStream`` + checkpointing IS that loop: the file source
tracks processed files (the watermark) and ``withWatermark`` bounds
event-time state. The transforms reuse the batch operator functions —
one definition, two execution modes.

The exactly-once protocol, here and in ``store``:

- ``launch`` starts every stream as one ``availableNow`` catch-up run
  (process the backlog, then stop — the scheduled run of the
  reference's Airflow DAG) checkpointed in its own directory. The
  checkpoint delivers each micro-batch at least once: a batch whose
  commit did not land replays on restart.
- Each micro-batch writes its output with ``write_batch_idempotent``
  to its own ``batch_id=N`` directory, overwriting, so a replay lands
  on the same path and the sink is exactly-once. ``sink_batches`` is
  that sink for one transform per batch. (``incremental_to_bronze``
  uses Spark's parquet file sink, whose own commit log is
  exactly-once.)
- A stateless streaming twin of a batch operator is no function of its
  own: it is ``sink_batches(stream_events(spark, src, schema), op,
  dest, ckpt)``, where ``op`` is the batch operator closed over its
  static side input (a reference distribution, a trained model, an
  index). ``op`` must need no cross-batch state: a per-document result
  holds because a document lives in one file, so in one micro-batch.
- A mergeable per-batch state (the rollup, ``cms_counters``,
  ``hll_registers``, ``kmv_sketch``, ``did_cells``, the SPRT arm
  counts) lives in a ``store``: ``sink_store`` appends each batch's
  partial as a delta, ``store.compact`` folds the deltas into a
  versioned base committed by a pointer swap, and each ``*_view`` is
  its estimator over ``store.view`` with the state's exact merge.
- State replaced as a whole (the cluster store) goes to a new
  versioned directory and is committed by swapping a JSON pointer
  (``stores.write_pointer``); the pointer's batch watermark drops
  replays it already covers.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from etl_jlp_spark.catalog import read_parquet
from etl_jlp_spark.operators.audit import with_audit_columns
from etl_jlp_spark.stores import read_pointer, write_pointer
from etl_jlp_spark.streaming import store
from etl_jlp_spark.streaming.store import summed, write_batch_idempotent

EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

SESSION_GAP = "30 minutes"
DEFAULT_WATERMARK_DELAY = "1 hour"


def launch(
    stream: DataFrame, checkpoint_dir: str, sink: Callable[[DataFrame, int], None] | str
) -> StreamingQuery:
    """Start ``stream`` as one availableNow run checkpointed in
    ``checkpoint_dir``; every stream of the engine starts here. ``sink``
    is a ``foreachBatch`` handler, or a directory that Spark's parquet
    file sink appends to."""
    writer = stream.writeStream
    if isinstance(sink, str):
        writer = writer.format("parquet").option("path", sink).outputMode("append")
    else:
        writer = writer.foreachBatch(sink)
    return writer.option("checkpointLocation", checkpoint_dir).trigger(availableNow=True).start()


def sink_batches(
    stream: DataFrame,
    transform: Callable[[DataFrame], DataFrame],
    dest_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Launch ``stream`` writing ``transform(batch)`` of each micro-batch
    to ``dest_dir`` with ``write_batch_idempotent``."""
    return launch(
        stream,
        checkpoint_dir,
        lambda batch_df, batch_id: write_batch_idempotent(transform(batch_df), dest_dir, batch_id),
    )


def sink_store(
    stream: DataFrame,
    transform: Callable[[DataFrame], DataFrame],
    store_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Launch ``stream`` appending ``transform(batch)`` of each
    micro-batch, a mergeable partial, to the ``store`` at ``store_dir``."""
    return launch(
        stream,
        checkpoint_dir,
        lambda batch_df, batch_id: store.append(transform(batch_df), store_dir, batch_id),
    )


def stream_events(
    spark: SparkSession,
    src_dir: str,
    schema: StructType = EVENTS_SCHEMA,
    fmt: str = "parquet",
    options: dict | None = None,
) -> DataFrame:
    """File-source stream of ``schema`` rows (events by default; also
    corpus documents, search queries, media): new files in src_dir are
    the 'incremental loads'; Spark's checkpoint replaces the reference's
    watermark CSV. ``options`` passes SOURCE options through (e.g.
    maxFilesPerTrigger to bound micro-batch size — a reader option, not
    a writer one)."""
    reader = spark.readStream.format(fmt).schema(schema)
    if fmt == "json":
        reader = reader.option("multiLine", "false")
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    return reader.load(src_dir)


def windowed_event_counts(
    events: DataFrame, window: str = "1 day", delay: str = DEFAULT_WATERMARK_DELAY
) -> DataFrame:
    """Tumbling event-time window agg with late-data bound. State per
    key is one window row; the watermark lets Spark drop state for
    closed windows — bounded memory at any scale."""
    return (
        events.withWatermark("ts", delay)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def streaming_sessionize(
    events: DataFrame, gap: str = SESSION_GAP, delay: str = DEFAULT_WATERMARK_DELAY
) -> DataFrame:
    """Native session windows: same 30-min-inactivity semantics as the
    batch ``with_session_id`` but with streaming state management —
    sessions close when the watermark passes (start + gap)."""
    return (
        events.withWatermark("ts", delay)
        .groupBy(F.session_window("ts", gap).alias("sess"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def incremental_to_bronze(
    spark: SparkSession,
    src_dir: str,
    dest_dir: str,
    checkpoint_dir: str,
    fmt: str = "parquet",
) -> StreamingQuery:
    """Land-zone → bronze incremental load: read new files, stamp audit
    columns, append parquet through Spark's file sink (exactly-once by
    its own commit log)."""
    return launch(
        with_audit_columns(stream_events(spark, src_dir, fmt=fmt)), checkpoint_dir, dest_dir
    )


def streaming_dedup(
    events: DataFrame,
    keys: tuple[str, ...] = ("user_id", "event_type", "value"),
    delay: str = DEFAULT_WATERMARK_DELAY,
) -> DataFrame:
    """Streaming twin of operators.dedup.dedup_exact: keep the first
    event per key, with state bounded by the watermark —
    ``dropDuplicatesWithinWatermark`` evicts a key's dedup state once
    the watermark passes it, so memory is O(keys-per-delay-window),
    not O(all history). (Exact global dedup at 100 TB is the batch
    operator; this is the ingest-time guard.)"""
    return events.withWatermark("ts", delay).dropDuplicatesWithinWatermark(list(keys))


def click_attribution_join(
    spark: SparkSession,
    src_dir: str,
    gap_minutes: int = 30,
    delay: str = DEFAULT_WATERMARK_DELAY,
) -> DataFrame:
    """Stream-stream interval join: attribute each click to the view
    events of the same user in the preceding ``gap_minutes``. Both
    sides carry watermarks and the join condition bounds the time
    range, so Spark can evict buffered state — the canonical bounded
    stream-stream join. Inner join ⇒ results identical to the batch
    twin once all data is processed."""
    views = (
        stream_events(spark, src_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", delay)
    )
    clicks = (
        stream_events(spark, src_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", delay)
    )
    return views.join(
        clicks,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (F.col("click_ts") < F.col("view_ts") + F.expr(f"INTERVAL {gap_minutes} MINUTES")),
    ).select("view_id", "click_id", "v_user", "view_ts", "click_ts")


def streaming_quality_monitor(
    events: DataFrame, window: str = "1 day", delay: str = DEFAULT_WATERMARK_DELAY
) -> DataFrame:
    """Streaming twin of the quality checks (``quality_format_check`` /
    ``quality_clean_rate``): per event-time window, the share of rows
    passing each format rule — negative values, unknown event types,
    non-JSON props. The reference runs its QualityReport per scheduled
    batch (dwh_lab/dwh/quality_report.py); here the same predicates run
    continuously so a bad upstream deploy shows up one watermark later,
    not at the next nightly report.

    Conditional-sum aggs are mergeable partial aggregates — streaming
    state is ONE row per (window), bounded by the watermark."""

    def rate(pred, name: str):
        return F.round(
            100.0 * F.sum(F.when(pred, 1).otherwise(0)) / F.count(F.lit(1)), 2
        ).alias(name)

    return (
        events.withWatermark("ts", delay)
        .groupBy(F.window("ts", window).alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            rate(F.col("value") >= 0, "rate_value_nonneg"),
            rate(
                F.col("event_type").isin("click", "view", "purchase", "signup", "error"),
                "rate_event_type_known",
            ),
            rate(F.col("props").startswith("{"), "rate_props_json"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "n_events",
            "rate_value_nonneg",
            "rate_event_type_known",
            "rate_props_json",
        )
    )


def streaming_cc_maintain(
    spark: SparkSession,
    docs_src_dir: str,
    docs_schema,
    sf_dir: str,
    state_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Continuous cluster maintenance — the streaming completion of the
    incremental dedup story: arriving corpus shards probe the STATIC
    minhash store for verified pairs (plus their own internal pairs),
    and the (edges, labels) cluster state advances through versioned
    directories committed by the pointer swap of the module protocol.
    Two independent replay guards: the pointer drops
    batches at/below its watermark, and cluster merge itself is a
    join-semilattice (``merge_pairs_into_clusters``) — re-merging the
    same pairs is a no-op, so even a duplicated delivery cannot corrupt
    the clustering."""
    from etl_jlp_spark.operators.components import (
        ensure_cc_store,
        merge_pairs_into_clusters,
    )
    from etl_jlp_spark.operators.similarity import (
        MINHASH_TAU,
        _jaccard_on_candidates,
        _minhash_bands,
        _word_shingles,
        ensure_minhash_store,
    )

    os.makedirs(state_dir, exist_ok=True)
    pointer_path = os.path.join(state_dir, "_POINTER.json")
    bands_path, sh_path = ensure_minhash_store(spark, sf_dir)
    edges0, labels0 = ensure_cc_store(spark, sf_dir)

    xbands_dir = os.path.join(state_dir, "xbands")
    xsh_dir = os.path.join(state_dir, "xshingles")

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        ptr = read_pointer(pointer_path, {"edges": edges0, "labels": labels0, "through_batch": -1})
        if int(batch_id) <= ptr["through_batch"]:
            return
        stored_edges = read_parquet(spark, ptr["edges"])
        stored_labels = read_parquet(spark, ptr["labels"])
        bsh = _word_shingles(batch_df).persist()
        try:  # release the batch cache even on a failed batch (r11 ADVICE pattern)
            bands = _minhash_bands(bsh)
            # the probe target is the static indexed corpus PLUS every
            # EARLIER streamed batch (their band/shingle deltas accumulate
            # per-batch_id — idempotent overwrite) so cross-batch near-dups
            # are found no matter how the arriving corpus is sliced. On a
            # replay the current batch's own delta may already be present;
            # the resulting self-probe pairs re-merge as no-ops (semilattice).
            prev_bands = read_parquet(spark, bands_path)
            prev_sh = read_parquet(spark, sh_path)
            if os.path.isdir(xbands_dir):
                prev_bands = prev_bands.unionByName(
                    read_parquet(spark, xbands_dir).drop("batch_id")
                )
                prev_sh = prev_sh.unionByName(read_parquet(spark, xsh_dir).drop("batch_id"))
            o = prev_bands.alias("o")
            n = bands.alias("n")
            probe_cand = (
                n.join(
                    o,
                    (F.col("n.band") == F.col("o.band"))
                    & (F.col("n.key") == F.col("o.key"))
                    & (F.col("n.doc_id") != F.col("o.doc_id")),
                )
                .select(F.col("n.doc_id").alias("doc_a"), F.col("o.doc_id").alias("doc_b"))
                .distinct()
            )
            a, b = bands.alias("a"), bands.alias("b")
            int_cand = (
                a.join(
                    b,
                    (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.key") == F.col("b.key"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")),
                )
                .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
                .distinct()
            )
            probe_pairs = _jaccard_on_candidates(
                bsh.unionByName(prev_sh), probe_cand, MINHASH_TAU
            ).select("doc_a", "doc_b")
            int_pairs = _jaccard_on_candidates(bsh, int_cand, MINHASH_TAU).select(
                "doc_a", "doc_b"
            )
            new_pairs = probe_pairs.unionByName(int_pairs)
            write_batch_idempotent(bands, xbands_dir, batch_id)
            write_batch_idempotent(bsh, xsh_dir, batch_id)
            labels = merge_pairs_into_clusters(stored_labels, stored_edges, new_pairs)
            edges = stored_edges.unionByName(new_pairs).distinct()
            v_edges = os.path.join(state_dir, f"edges_v{int(batch_id)}")
            v_labels = os.path.join(state_dir, f"labels_v{int(batch_id)}")
            edges.write.mode("overwrite").parquet(v_edges)
            labels.write.mode("overwrite").parquet(v_labels)
            write_pointer(
                pointer_path, {"edges": v_edges, "labels": v_labels, "through_batch": int(batch_id)}
            )
            # superseded state versions are garbage after the swap
            for d in os.listdir(state_dir):
                full = os.path.join(state_dir, d)
                if (
                    d.startswith(("edges_v", "labels_v"))
                    and full not in (v_edges, v_labels)
                    and os.path.isdir(full)
                ):
                    shutil.rmtree(full, ignore_errors=True)
        finally:
            bsh.unpersist()

    return launch(stream_events(spark, docs_src_dir, docs_schema), checkpoint_dir, handle)


def cc_state_labels(spark: SparkSession, state_dir: str) -> DataFrame:
    """Current cluster labels from the maintainer's pointer."""
    return read_parquet(spark, read_pointer(os.path.join(state_dir, "_POINTER.json"))["labels"])


cms_merge = summed(("r", "bucket"), ("c",))
did_merge = summed(("event_type", "treated", "post"), ("n", "s"))
_sprt_merge = summed(("arm",), ("n", "conv"))


def hll_merge(registers: DataFrame) -> DataFrame:
    """Per-day ``hll_registers`` merged by max (exact: a register holds
    the max rank seen)."""
    return registers.groupBy("day", "bucket").agg(F.max("m").alias("m"))


def kmv_merge(sketches: DataFrame) -> DataFrame:
    """``kmv_sketch`` (g, hv) rows re-ranked to the K smallest per type
    (exact: sketch(A∪B) = topK(sketch(A) ∪ sketch(B)))."""
    from etl_jlp_spark.operators.kmv import KMV_K

    rn = F.row_number().over(Window.partitionBy("g").orderBy("hv"))
    return sketches.distinct().withColumn("rn", rn).filter(F.col("rn") <= KMV_K).drop("rn")


def cms_view(spark: SparkSession, store_dir: str) -> DataFrame:
    """The merged count-min sketch of a store of ``cms_counters``."""
    return store.view(spark, store_dir, cms_merge)


def hll_view(spark: SparkSession, store_dir: str) -> DataFrame:
    """The standard small-range-corrected estimate per day over the
    merged registers of a store of ``hll_registers``."""
    from etl_jlp_spark.operators.sketches import hll_estimate

    return hll_estimate(store.view(spark, store_dir, hll_merge), ["day"])


def kmv_view(spark: SparkSession, store_dir: str) -> DataFrame:
    """Per-type distinct estimate over the merged sketch of a store of
    ``kmv_sketch`` rows: the (K−1)·M/h_(K) estimator; an unsaturated
    merged sketch IS the distinct hash set, so the estimate falls back
    to its size."""
    from etl_jlp_spark.operators.kmv import KMV_K, KMV_M

    agg = store.view(spark, store_dir, kmv_merge).groupBy("g").agg(
        F.max("hv").alias("h_max"),
        F.count(F.lit(1)).cast("long").alias("n_sk"),
    )
    hk = F.when(F.col("n_sk") == KMV_K, F.col("h_max"))
    return agg.select(
        F.col("g").alias("event_type"),
        F.coalesce(
            F.round((KMV_K - 1) * F.lit(float(KMV_M)) / hk),
            F.col("n_sk").cast("double"),
        )
        .cast("long")
        .alias("est_distinct"),
    )


def did_view(spark: SparkSession, store_dir: str) -> DataFrame:
    """The experiment readout over the merged cells of a store of
    ``did_cells``: the shared batch readout algebra, so it equals
    ``did_lift_report`` over the arrived rows."""
    from etl_jlp_spark.plans.regression import did_readout

    return did_readout(store.view(spark, store_dir, did_merge))


def streaming_sprt_monitor(
    spark: SparkSession,
    src_dir: str,
    p0_e6: int,
    p1_e6: int,
    dest_dir: str,
    state_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Continuous anytime-valid experiment monitor: the streaming half
    of ``sprt_ab_monitor``. Each arriving micro-batch's per-arm
    (trials, conversions) counts are folded into a CUMULATIVE state and
    re-scored with the shared Wald SPRT core
    (plans/experiment.sprt_score — identical LLR expression and ±ln 19
    boundaries, so the streaming decision can never drift from the
    registered batch query). Hypotheses arrive as the same exact e6
    integer rationals the batch query derives.

    The running totals are a ``store`` at ``state_dir``: each batch
    appends its counts, compacts, and scores the base. A replay of
    batch N is dropped by the pointer, its compaction is a no-op, and
    it re-scores the same ``base/vN`` into the same output."""
    from etl_jlp_spark.plans.experiment import AB_SPLIT_HEX, sprt_score

    hyp = spark.createDataFrame([(int(p0_e6), int(p1_e6))], "p0_e6 long, p1_e6 long")

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        batch_counts = (
            batch_df.select(
                F.when(
                    F.substring(F.md5(F.col("user_id").cast("string")), 1, 1)
                    < AB_SPLIT_HEX,
                    "A",
                )
                .otherwise("B")
                .alias("arm"),
                (F.col("event_type") == "purchase").cast("long").alias("conv"),
            )
            .groupBy("arm")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("conv").cast("long").alias("conv"),
            )
        )
        store.append(batch_counts, state_dir, batch_id)
        store.compact(spark, state_dir, _sprt_merge)
        cum = store.view(spark, state_dir, _sprt_merge).select(
            "arm", F.col("n").alias("cum_n"), F.col("conv").alias("cum_conv")
        )
        out = sprt_score(cum, hyp).join(batch_counts, "arm", "left").select(
            "arm",
            F.coalesce("n", F.lit(0)).alias("n"),
            F.coalesce("conv", F.lit(0)).alias("conv"),
            "cum_n",
            "cum_conv",
            "llr",
            "decision",
        )
        write_batch_idempotent(out, dest_dir, batch_id)

    return launch(stream_events(spark, src_dir), checkpoint_dir, handle)
