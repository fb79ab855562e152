"""Streaming CDC application: merge_changes inside foreachBatch keeps a
parquet snapshot correct across micro-batches."""

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL
from etl_jlp_spark.catalog import load_table
from etl_jlp_spark.operators.cdc import merge_changes
from etl_jlp_spark.streaming.pipeline import stream_events
import pytest
# Wall-clock-bound (streaming triggers / state timeouts): excluded from the
# default run so the driver test window completes (r11); run via -m slow.
pytestmark = pytest.mark.slow



def test_foreach_batch_cdc_apply(spark, tmp_path):
    src = str(tmp_path / "changes")
    snap = str(tmp_path / "snapshot")
    ckpt = str(tmp_path / "ckpt")

    ev = load_table(spark, SF_SMALL, "events")
    # initial snapshot: odd event ids
    base_cols = ["event_id", "user_id", "event_type", "value"]
    ev.filter(F.col("event_id") % 2 == 1).select(*base_cols).write.parquet(snap)
    # changes feed: even ids (inserts) + some odd ids (updates/deletes)
    changes = ev.filter(
        (F.col("event_id") % 2 == 0) | (F.col("event_id") % 5 == 0)
    ).select("event_id", "user_id", "event_type", "value", "ts", "props")
    changes.coalesce(1).write.parquet(src)

    def apply_batch(batch_df, batch_id):
        ch = batch_df.select(
            *base_cols, (F.col("event_id") % 10 == 0).alias("is_delete")
        )
        base = spark.read.parquet(snap)
        merged = merge_changes(base, ch, "event_id", base_cols[1:])
        merged.write.mode("overwrite").parquet(snap + "_next")
        # atomic-ish swap for the test (a lakehouse table format does
        # this transactionally in production)
        next_df = spark.read.parquet(snap + "_next")
        next_df.write.mode("overwrite").parquet(snap)

    q = (
        stream_events(spark, src)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)

    result = spark.read.parquet(snap)
    ids = {r["event_id"] for r in result.select("event_id").collect()}
    all_ids = {r["event_id"] for r in ev.select("event_id").collect()}
    odd = {i for i in all_ids if i % 2 == 1}
    changed = {i for i in all_ids if i % 2 == 0 or i % 5 == 0}
    deleted = {i for i in changed if i % 10 == 0}
    expect = (odd | changed) - deleted
    assert ids == expect
