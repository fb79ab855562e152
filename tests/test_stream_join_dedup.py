"""Stream-stream interval join and watermarked streaming dedup, each
verified against its batch twin on the same source files."""

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL
from etl_jlp_spark.catalog import load_table
from etl_jlp_spark.streaming.pipeline import (
    click_attribution_join,
    stream_events,
    streaming_dedup,
)

import pytest

# Wall-clock-bound (streaming triggers / state timeouts): part of the
# default run; select or exclude them with -m slow / -m "not slow".
pytestmark = pytest.mark.slow


def _write_events(spark, path, dup_factor=1):
    ev = load_table(spark, SF_SMALL, "events")
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode("overwrite").parquet(path)
    for _ in range(dup_factor):
        ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode("append").parquet(path)
    return ev


def test_stream_stream_click_attribution_matches_batch(spark, tmp_path):
    src = str(tmp_path / "src")
    ev = _write_events(spark, src)
    out = click_attribution_join(spark, src, gap_minutes=30)
    q = (
        out.writeStream.format("memory")
        .queryName("attrib")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = {
        (r["view_id"], r["click_id"]) for r in spark.sql("select * from attrib").collect()
    }
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), F.col("user_id").alias("vu"), F.col("ts").alias("vt")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("user_id").alias("cu"), F.col("ts").alias("ct")
    )
    want = {
        (r["view_id"], r["click_id"])
        for r in views.join(
            clicks,
            (F.col("vu") == F.col("cu"))
            & (F.col("ct") >= F.col("vt"))
            & (F.col("ct") < F.col("vt") + F.expr("INTERVAL 30 MINUTES")),
        ).collect()
    }
    assert len(want) > 0
    assert got == want


def test_streaming_dedup_bounds_to_distinct_keys(spark, tmp_path):
    src = str(tmp_path / "dup")
    # write the odd half twice: every odd event is an exact duplicate
    ev = _write_events(spark, src, dup_factor=2)
    out = streaming_dedup(
        stream_events(spark, src), keys=("event_id",), delay="10 seconds"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = spark.sql("select count(*) c, count(distinct event_id) d from dedup_stream").head()
    # every key survives exactly once and nothing is lost
    assert got["c"] == got["d"] == ev.count()


def test_streaming_cc_maintain_converges_to_full_rebuild(spark, tmp_path):
    """Arriving corpus shards (2 micro-batches) folded into the stored
    cluster state must converge to EXACTLY the full-corpus rebuild —
    including near-dup pairs that STRADDLE the two batches (the
    accumulated band/shingle deltas) — and a checkpoint replay must
    change nothing (merge is a semilattice)."""
    from pyspark.sql import functions as F

    from etl_jlp_spark.catalog import load_table
    from etl_jlp_spark.operators.components import dedup_connected_components
    from etl_jlp_spark.operators.similarity import MH_BATCH_HEX
    from etl_jlp_spark.streaming.pipeline import cc_state_labels, streaming_cc_maintain
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents")
    batch = docs.filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < MH_BATCH_HEX
    )
    src = str(tmp_path / "docs_src")
    batch.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.mode("overwrite").parquet(src)
    batch.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)
    state = str(tmp_path / "cc_state")
    ckpt = str(tmp_path / "cc_ckpt")

    q = streaming_cc_maintain(spark, src, docs.schema, SF_SMALL, state, ckpt)
    assert q.awaitTermination(240)
    got = {(r["node"], r["component"]) for r in cc_state_labels(spark, state).collect()}
    want = {
        (r["node"], r["component"])
        for r in dedup_connected_components(spark, SF_SMALL).collect()
    }
    assert got == want and got
    q2 = streaming_cc_maintain(spark, src, docs.schema, SF_SMALL, state, ckpt)
    assert q2.awaitTermination(240)
    assert {(r["node"], r["component"]) for r in cc_state_labels(spark, state).collect()} == want
