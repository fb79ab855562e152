"""Lake maintenance: compaction must preserve data while collapsing
file count, and the sort_by layout must demonstrably enable file-level
data skipping in the real parquet footer stats."""

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL
from etl_jlp_spark.catalog import load_table
from etl_jlp_spark.ingest.maintenance import (
    compact_small_files,
    dir_file_stats,
    file_key_ranges,
    overlap_count,
)


def _fragmented(spark, tmp_path, n_files=32):
    src = str(tmp_path / "frag")
    ev = load_table(spark, SF_SMALL, "events")
    ev.repartition(n_files).write.mode("overwrite").parquet(src)
    return src, ev


def test_compaction_preserves_rows_and_collapses_files(spark, tmp_path):
    src, ev = _fragmented(spark, tmp_path)
    dest = str(tmp_path / "compact")
    stats = compact_small_files(spark, src, dest, target_bytes=1 << 30)
    assert stats.files_in >= 32
    assert stats.files_out == 1  # tiny table, one target-sized file
    out = spark.read.parquet(dest)
    assert out.count() == ev.count()
    a = {tuple(r) for r in out.select("event_id", "event_type").collect()}
    b = {tuple(r) for r in ev.select("event_id", "event_type").collect()}
    assert a == b


def test_sorted_layout_enables_file_skipping(spark, tmp_path):
    src, ev = _fragmented(spark, tmp_path)
    plain = str(tmp_path / "plain")
    sorted_ = str(tmp_path / "sorted")
    # force multiple output files so there are ranges to compare
    n_rows = ev.count()
    _, total = dir_file_stats(src)
    target = max(1, total // 8)
    compact_small_files(spark, src, plain, target_bytes=target)
    stats = compact_small_files(
        spark, src, sorted_, target_bytes=target, sort_by=["event_id"]
    )
    assert stats.files_out > 2
    probe = n_rows // 2  # a mid-range event_id point query
    r_plain = file_key_ranges(plain, "event_id")
    r_sorted = file_key_ranges(sorted_, "event_id")
    # round-robin fragments all span ~the full id range: no skipping
    assert overlap_count(r_plain, probe) == len(r_plain)
    # range layout: the probe hits exactly one file's [min, max]
    assert overlap_count(r_sorted, probe) == 1
    # and the data survived the shuffle
    assert spark.read.parquet(sorted_).count() == n_rows


def test_compaction_is_atomic_over_existing_dest(spark, tmp_path):
    src, ev = _fragmented(spark, tmp_path, n_files=4)
    dest = str(tmp_path / "compact")
    compact_small_files(spark, src, dest)
    # re-compacting over an existing destination replaces it cleanly
    stats = compact_small_files(spark, src, dest)
    assert spark.read.parquet(dest).count() == ev.count()
    assert stats.files_out >= 1


def test_compaction_failed_publish_keeps_existing_dest(spark, tmp_path, monkeypatch):
    """A failed final rename must leave the old destination in place,
    not an empty path where the table used to be."""
    import os

    import pytest

    src, ev = _fragmented(spark, tmp_path, n_files=4)
    dest = str(tmp_path / "compact")
    compact_small_files(spark, src, dest)
    before = sorted(os.listdir(dest))
    rename = os.rename

    def failing_rename(a, b):
        if ".compact-" in str(a):  # the new version's publish
            raise OSError("injected rename failure")
        rename(a, b)

    monkeypatch.setattr(os, "rename", failing_rename)
    with pytest.raises(OSError, match="injected"):
        compact_small_files(spark, src, dest)
    monkeypatch.undo()
    assert sorted(os.listdir(dest)) == before
    assert spark.read.parquet(dest).count() == ev.count()


def test_store_janitor_sweeps_only_stale_store_dirs(tmp_path):
    """The janitor must remove content-keyed stores for corpora that no
    longer exist, keep live ones, sweep crashed .build temps, and never
    touch non-store directories sharing the warehouse."""
    import os

    from etl_jlp_spark.ingest.maintenance import sweep_stale_stores

    wh = tmp_path / "warehouse"
    names = [
        "ir_postings_deadbeef",       # stale store
        "mv_priority_revenue_0badcafe",  # stale MV store
        "fj_segs_0badf00d.build-99",  # crashed builder temp
        "ivf_cells_12345678",         # live store
        "my_table",                   # not a store — must survive
        "checkpoint",                 # not a store — must survive
    ]
    for n in names:
        os.makedirs(wh / n)
    live = {str(wh / "ivf_cells_12345678")}

    would = sweep_stale_stores(str(wh), live, dry_run=True)
    assert sorted(os.path.basename(p) for p in would) == [
        "fj_segs_0badf00d.build-99",
        "ir_postings_deadbeef",
        "mv_priority_revenue_0badcafe",
    ]
    assert sorted(os.listdir(wh)) == sorted(names)  # dry run touched nothing

    removed = sweep_stale_stores(str(wh), live)
    assert sorted(os.path.basename(p) for p in removed) == [
        "fj_segs_0badf00d.build-99",
        "ir_postings_deadbeef",
        "mv_priority_revenue_0badcafe",
    ]
    assert sorted(os.listdir(wh)) == ["checkpoint", "ivf_cells_12345678", "my_table"]


def test_live_store_paths_cover_every_family(spark):
    """Every path any ``ensure_*`` returns is live and passes the
    janitor's name check, and every registered family has an ``ensure_*``
    — so the janitor can neither reclaim a store in use nor miss a
    family (the MV store once escaped it)."""
    import importlib
    import os
    import pkgutil

    import etl_jlp_spark
    from etl_jlp_spark import stores
    from etl_jlp_spark.ingest.maintenance import live_store_paths

    live = live_store_paths([SF_SMALL])
    returned = set()
    for mod in pkgutil.walk_packages(etl_jlp_spark.__path__, "etl_jlp_spark."):
        m = importlib.import_module(mod.name)
        for name, fn in vars(m).items():
            if name.startswith("ensure_") and getattr(fn, "__module__", None) == m.__name__:
                out = fn(spark, SF_SMALL)
                paths = {out} if isinstance(out, str) else {p for p in out if isinstance(p, str)}
                returned |= paths
    assert returned and returned <= live
    assert all(stores.parse_name(os.path.basename(p)) for p in live)
    fams = {os.path.basename(p).split("_")[0] for p in returned}
    assert fams == {f.name for f in stores.families()}


def test_zorder_layout_skips_on_both_columns(spark, tmp_path):
    """The Morton layout must beat a linear sort where it matters: a
    point predicate on the SECOND column. Linear sort on (user_id)
    leaves every file spanning the full value domain (zero skipping on
    value); z-order gives both columns rectangular file footprints, so
    each column's point query opens a strict subset of files."""
    src = str(tmp_path / "frag")
    n = 4096
    df = spark.range(n).selectExpr(
        "id AS event_id",
        "CAST(pmod(hash(id), 1024) AS LONG) AS user_id",
        "CAST(pmod(hash(id + 7), 1024) AS DOUBLE) AS value",
    )
    df.repartition(16).write.mode("overwrite").parquet(src)
    _, total = dir_file_stats(src)
    target = max(1, total // 16)

    linear = str(tmp_path / "linear")
    compact_small_files(spark, src, linear, target_bytes=target, sort_by=["user_id"])
    zordered = str(tmp_path / "zorder")
    stats = compact_small_files(
        spark, src, zordered, target_bytes=target, zorder_by=("user_id", "value")
    )
    assert stats.files_out > 4
    assert "zorder" in stats.sorted_by

    # data integrity through the z-shuffle (and no leaked helper cols)
    out = spark.read.parquet(zordered)
    assert out.count() == n
    assert set(out.columns) == {"event_id", "user_id", "value"}

    u_probe, v_probe = 512, 512.0
    lin_u = file_key_ranges(linear, "user_id")
    lin_v = file_key_ranges(linear, "value")
    z_u = file_key_ranges(zordered, "user_id")
    z_v = file_key_ranges(zordered, "value")
    # linear: leading column skips hard, trailing column not at all
    assert overlap_count(lin_u, u_probe) <= 2
    assert overlap_count(lin_v, v_probe) == len(lin_v)
    # z-order: BOTH columns prune a strict majority of the files
    assert overlap_count(z_u, u_probe) <= len(z_u) // 2, (overlap_count(z_u, u_probe), len(z_u))
    assert overlap_count(z_v, v_probe) <= len(z_v) // 2, (overlap_count(z_v, v_probe), len(z_v))


def test_delete_propagation_rewrites_only_affected_files(spark, tmp_path):
    import os

    from etl_jlp_spark.ingest.maintenance import propagate_deletes

    src, ev = _fragmented(spark, tmp_path)
    laid = str(tmp_path / "laid")
    # key-sorted layout: each file covers a narrow user_id range
    compact_small_files(spark, src, laid, target_bytes=16 * 1024, sort_by=["user_id"])
    n_files_before = dir_file_stats(laid)[0]
    assert n_files_before > 4, "need a multi-file layout for the pruning claim"
    users = [r["user_id"] for r in ev.select("user_id").distinct().limit(2).collect()]
    want_deleted = ev.filter(F.col("user_id").isin(users)).count()
    inode_before = {
        f: os.stat(os.path.join(laid, f)).st_ino
        for f in os.listdir(laid)
        if f.endswith(".parquet")
    }

    report = propagate_deletes(spark, laid, "user_id", users)
    assert report.rows_deleted == want_deleted > 0
    # footer-stat pruning must beat a full rewrite on the sorted layout
    assert report.files_rewritten < report.files_total
    assert report.files_rewritten + report.files_linked == report.files_total
    out = spark.read.parquet(laid)
    assert out.filter(F.col("user_id").isin(users)).count() == 0
    assert out.count() == ev.count() - want_deleted
    # untouched files carried over as hardlinks: same inode, zero copy
    survivors = {
        f: os.stat(os.path.join(laid, f)).st_ino
        for f in os.listdir(laid)
        if f.endswith(".parquet") and not f.startswith("rw-")
    }
    assert survivors, "some files must be untouched on a sorted layout"
    for f, ino in survivors.items():
        assert inode_before.get(f) == ino


def test_delete_propagation_no_matching_keys_is_lossless(spark, tmp_path):
    from etl_jlp_spark.ingest.maintenance import propagate_deletes

    src, ev = _fragmented(spark, tmp_path, n_files=4)
    report = propagate_deletes(spark, src, "user_id", [10**12])
    assert report.rows_deleted == 0 and report.files_rewritten == 0
    assert spark.read.parquet(src).count() == ev.count()


def test_delete_classifies_statless_files_as_must_rewrite(spark, tmp_path):
    """A parquet file with NO usable min/max stats for the delete column
    must land in the must-rewrite set — for an erasure operator the
    failure mode has to be extra rewriting, never silent retention."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_jlp_spark.ingest.maintenance import affected_delete_files

    d = tmp_path / "statless"
    d.mkdir()
    tbl = pa.table({"user_id": [1, 2, 3], "v": [10.0, 20.0, 30.0]})
    pq.write_table(tbl, str(d / "with_stats.parquet"))
    pq.write_table(tbl, str(d / "no_stats.parquet"), write_statistics=False)
    # keys hit neither file's range → stats-bearing file is untouched,
    # stats-less file must still be rewritten
    hit, miss = affected_delete_files(str(d), "user_id", [999])
    assert [f.rsplit("/", 1)[-1] for f in hit] == ["no_stats.parquet"]
    assert [f.rsplit("/", 1)[-1] for f in miss] == ["with_stats.parquet"]


def test_delete_propagation_statless_layout_still_erases(spark, tmp_path):
    """End-to-end on a stats-disabled layout: every file rewrites (no
    pruning possible) and the keys are really gone."""
    import pyarrow.parquet as pq
    import pyarrow as pa

    from etl_jlp_spark.ingest.maintenance import propagate_deletes

    d = tmp_path / "nostats"
    d.mkdir()
    for i in range(3):
        tbl = pa.table({"user_id": list(range(i * 10, i * 10 + 10))})
        pq.write_table(tbl, str(d / f"part-{i}.parquet"), write_statistics=False)
    report = propagate_deletes(spark, str(d), "user_id", [5, 15])
    assert report.files_rewritten == report.files_total == 3
    out = spark.read.parquet(str(d))
    assert out.filter(F.col("user_id").isin([5, 15])).count() == 0
    assert out.count() == 28


def test_delete_propagation_preserves_hive_partitions(spark, tmp_path):
    """On a Hive-partitioned layout the new directory version must keep
    the k=v subpaths (partition columns survive), and rows under every
    partition — including null delete-keys — are handled correctly."""
    import os

    from etl_jlp_spark.ingest.maintenance import propagate_deletes

    src = str(tmp_path / "parts")
    ev = load_table(spark, SF_SMALL, "events").limit(2000)
    ev.withColumn("day", F.to_date("ts")).write.mode("overwrite").partitionBy(
        "event_type"
    ).parquet(src)
    before = spark.read.parquet(src)
    users = [r["user_id"] for r in before.select("user_id").distinct().limit(2).collect()]
    want_deleted = before.filter(F.col("user_id").isin(users)).count()
    assert want_deleted > 0
    n_before = before.count()
    # materialize expectations BEFORE the swap invalidates `before`'s files
    exp = {
        (r["event_type"], r["n"])
        for r in before.filter(~F.col("user_id").isin(users))
        .groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }

    report = propagate_deletes(spark, src, "user_id", users)
    assert report.rows_deleted == want_deleted
    # layout preserved: partition dirs still present, readable WITH the
    # partition column, and no flattened files at the top level
    top_files = [f for f in os.listdir(src) if f.endswith(".parquet")]
    assert top_files == []
    assert any(d.startswith("event_type=") for d in os.listdir(src))
    out = spark.read.parquet(src)
    assert "event_type" in out.columns
    assert out.count() == n_before - want_deleted
    assert out.filter(F.col("user_id").isin(users)).count() == 0
    got = {
        (r["event_type"], r["n"])
        for r in out.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == exp


def test_delete_propagation_keeps_null_keyed_rows(spark, tmp_path):
    """NULL in the delete column is never an erasure target: the keep
    predicate must be null-safe (`col.isNull() | ~col.isin(keys)`), not
    the three-valued `~isin` that silently drops null rows."""
    from etl_jlp_spark.ingest.maintenance import propagate_deletes

    src = str(tmp_path / "withnulls")
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (None, "c"), (None, "d"), (3, "e")],
        "user_id bigint, payload string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(src)
    report = propagate_deletes(spark, src, "user_id", [2])
    assert report.rows_deleted == 1
    out = spark.read.parquet(src)
    assert out.count() == 4
    assert out.filter(F.col("user_id").isNull()).count() == 2


def test_store_inventory_and_vacuum_invariance(spark):
    """store_inventory_report must surface orphaned generations and
    crashed builder temps, and vacuuming an orphaned generation must
    never change any probe result served from the live store."""
    import os
    import shutil

    import __spark_entry__ as ent
    from etl_jlp_spark.ingest.maintenance import sweep_stale_stores
    from etl_jlp_spark.operators.similarity import ensure_minhash_store

    qs = ent.queries()
    bands, _sh = ensure_minhash_store(spark, SF_SMALL)
    wh = os.path.dirname(bands)

    def probe():
        return sorted(
            tuple(r) for r in qs["dedup_minhash_prebuilt"](spark, SF_SMALL).collect()
        )

    before = probe()
    orphan = os.path.join(wh, "mh_bands_00000000")
    temp = os.path.join(wh, "mh_shingles_00000000.build-1")
    shutil.rmtree(orphan, ignore_errors=True)
    shutil.copytree(bands, orphan)
    os.makedirs(temp, exist_ok=True)
    try:
        inv = {
            r["family"]: r
            for r in qs["store_inventory_report"](spark, SF_SMALL).collect()
        }
        # fixed subfamily registry: one row per registered family part
        from etl_jlp_spark import stores

        subs = {f"{f.name}_{p}" for f in stores.families() for p in f.parts}
        assert set(inv) == subs
        assert {"mh_bands", "mh_shingles", "ivf_centroids", "mv_priority_revenue"} <= subs
        assert inv["mh_bands"]["n_orphaned"] >= 1
        assert inv["mh_bands"]["n_live_built"] >= 1
        assert inv["mh_shingles"]["n_build_temps"] >= 1
        assert inv["mh_bands"]["total_bytes"] > 0

        # vacuum exactly the orphan + temp; every other dir is declared live
        live = {
            os.path.abspath(os.path.join(wh, n)) for n in os.listdir(wh)
        } - {os.path.abspath(orphan), os.path.abspath(temp)}
        removed = sweep_stale_stores(wh, live)
        assert {os.path.basename(p) for p in removed} == {
            "mh_bands_00000000",
            "mh_shingles_00000000.build-1",
        }
        inv2 = {
            r["family"]: r
            for r in qs["store_inventory_report"](spark, SF_SMALL).collect()
        }
        assert inv2["mh_bands"]["n_orphaned"] == inv["mh_bands"]["n_orphaned"] - 1
        # the probe result is served from the live generation, untouched
        assert probe() == before
    finally:
        shutil.rmtree(orphan, ignore_errors=True)
        shutil.rmtree(temp, ignore_errors=True)


def test_store_inventory_counts_built_rollup_store(spark):
    """The rollup store publishes its marker under ``agg/``, not at the
    part root; the inventory must still count its live store as built."""
    import __spark_entry__ as ent
    from etl_jlp_spark.operators.rollup import ROLLUP_STORE, ensure_rollup_store

    store, _cutoff = ensure_rollup_store(spark, SF_SMALL)
    assert ROLLUP_STORE.built(store)
    inv = {
        r["family"]: r
        for r in ent.queries()["store_inventory_report"](spark, SF_SMALL).collect()
    }
    assert inv["rollup_events"]["n_live_keys"] == 1
    assert inv["rollup_events"]["n_live_built"] == 1
