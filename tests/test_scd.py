"""SCD Type 2 behavior: interval semantics, no-op-update collapse,
as-of reconstruction, and the incremental-apply plan shape."""

import datetime as dt

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def _t(minute):
    return dt.datetime(2024, 1, 1, 10, minute)


def test_scd2_intervals_known_answer(spark):
    """A,A,B,A per key → three intervals; the duplicate A creates none;
    only the last interval is open/current."""
    from etl_jlp_spark.operators.scd import _intervals_from_changelog

    log = spark.createDataFrame(
        [
            (7, 1, _t(0), "A"),
            (7, 2, _t(10), "A"),  # no-op update: must collapse
            (7, 3, _t(20), "B"),
            (7, 4, _t(30), "A"),
            (9, 5, _t(5), "X"),
        ],
        "user_id long, event_id long, ts timestamp, attr string",
    )
    rows = sorted(
        map(tuple, _intervals_from_changelog(log).collect()),
        key=lambda r: (r[0], r[2]),
    )
    assert rows == [
        (7, "A", _t(0), _t(20), False),
        (7, "B", _t(20), _t(30), False),
        (7, "A", _t(30), None, True),
        (9, "X", _t(5), None, True),
    ]


def test_scd2_as_of_reconstruction(spark):
    """The point of Type 2: an as-of predicate reconstructs any past
    state, and it must agree with replaying the changelog to that
    instant."""
    from etl_jlp_spark.operators.scd import scd2_build

    dim = scd2_build(spark, SF_SMALL).cache()
    as_of = dt.datetime(2024, 1, 15, 12, 0)
    got = {
        r["user_id"]: r["attr"]
        for r in dim.filter(
            (F.col("valid_from") <= F.lit(as_of))
            & (F.col("valid_to").isNull() | (F.col("valid_to") > F.lit(as_of)))
        ).collect()
    }
    # replay: newest event ≤ as_of per user
    from etl_jlp_spark.catalog import load_table

    events = load_table(spark, SF_SMALL, "events").filter(F.col("ts") <= F.lit(as_of))
    want = {
        r["user_id"]: r["attr"]
        for r in events.groupBy("user_id")
        .agg(
            F.max_by(
                F.col("event_type"), F.struct(F.col("ts"), F.col("event_id"))
            ).alias("attr")
        )
        .collect()
    }
    assert got == want and len(got) > 0
    # exactly one current row per key over the full history
    per_key = dim.groupBy("user_id").agg(
        F.sum(F.col("is_current").cast("int")).alias("n_cur")
    )
    assert per_key.filter(F.col("n_cur") != 1).count() == 0
    dim.unpersist()


def test_scd2_apply_plan_skips_untouched_keys(spark):
    """The incremental path's scale contract: untouched keys pass
    through an anti-join on the broadcast changed-key set (no shuffle
    of the dimension by batch contents, no cartesian)."""
    from etl_jlp_spark.operators.scd import scd2_apply

    plan = scd2_apply(spark, SF_SMALL)._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti, BuildRight" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_enrich_asof_self_consistency(spark):
    """Every changelog event enriched against the dimension built FROM
    that changelog must get back its own attribute: a change event sits
    at its interval's valid_from (inclusive), a no-op repeat falls
    inside the interval carrying the same value."""
    from etl_jlp_spark.operators.scd import enrich_asof, scd2_build
    from tests.conftest import SF_SMALL
    from etl_jlp_spark.catalog import load_table
    from pyspark.sql import functions as F

    dim = scd2_build(spark, SF_SMALL)
    events = load_table(spark, SF_SMALL, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    out = enrich_asof(events, dim)
    assert out.count() == events.count()  # at-most-one interval matched
    assert out.filter(F.col("attr_asof") != F.col("event_type")).count() == 0
    assert out.filter(F.col("attr_asof").isNull()).count() == 0
