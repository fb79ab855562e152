"""Lake maintenance: small-file compaction and sort-ordered layout.

The reference writes its landzone in CHUNKS (general_lib.py chunked
read/transform/archive): every incremental run appends another small
file. At 100 TB that is the classic small-file problem — a scan pays
per-file open/footer costs, and the driver pays listing; both scale
with file COUNT, not bytes. Compaction rewrites a directory into
~target-sized files:

- ``coalesce`` mode (default): narrow — merges input splits with NO
  shuffle, the right default for pure de-fragmentation.
- ``sort_by`` mode: ``repartitionByRange`` + ``sortWithinPartitions``
  — one range shuffle that buys DATA SKIPPING forever after: each
  output file covers a narrow, near-disjoint range of the sort key, so
  a key-range predicate prunes whole files/row-groups via parquet
  min/max stats (verified against the real footer metadata in tests).
- ``zorder_by`` mode: TWO-column skipping. A linear sort prunes only
  on its leading column — the trailing column's min/max spans the
  whole domain in every file. Z-ordering range-sorts on the Morton
  interleave of both columns' 16-bit min-max ranks, so each file
  covers a RECTANGLE in (a, b) space and a predicate on EITHER column
  prunes ~√#files of the files. The interleave is a pure bit
  expression (shiftleft/|) — JVM codegen, no UDF — and the transient
  z-key column is dropped before the write.

Both paths write to a temp dir then atomically rename over the
destination, so readers never observe a half-compacted directory.
"""

from __future__ import annotations

import math
import os
import shutil

from pyspark.sql import DataFrame, Row, SparkSession

from etl_jlp_spark import stores
from etl_jlp_spark.catalog import read_parquet

DEFAULT_TARGET_BYTES = 128 * 1024 * 1024
ZORDER_BITS = 16  # per-column rank resolution (2 × 16 → 32-bit z-key)


def zorder_key(a, b, a_min, a_max, b_min, b_max):
    """Morton interleave of two columns as a pure Column expression:
    each value is min-max scaled to a 16-bit rank, then rank bits
    alternate (a even, b odd). Stays inside whole-stage codegen —
    32 shift/mask/or terms, no UDF, no shuffle of its own."""
    from pyspark.sql import functions as F

    def rank(col, lo, hi):
        span = F.when(hi > lo, hi - lo).otherwise(F.lit(1.0))
        scaled = (col.cast("double") - lo) / span * ((1 << ZORDER_BITS) - 1)
        return F.round(scaled).cast("long")

    ra, rb = rank(a, a_min, a_max), rank(b, b_min, b_max)
    z = F.lit(0).cast("long")
    for i in range(ZORDER_BITS):
        z = (
            z.bitwiseOR(F.shiftleft(ra.bitwiseAND(F.lit(1 << i)), i))
            .bitwiseOR(F.shiftleft(rb.bitwiseAND(F.lit(1 << i)), i + 1))
        )
    return z


def dir_file_stats(path: str) -> tuple[int, int]:
    """(#data files, total bytes) under a parquet directory, ignoring
    _SUCCESS/_metadata markers."""
    n = b = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            n += 1
            b += os.path.getsize(os.path.join(root, f))
    return n, b


def compact_small_files(
    spark: SparkSession,
    src_dir: str,
    dest_dir: str,
    target_bytes: int = DEFAULT_TARGET_BYTES,
    sort_by: list[str] | None = None,
    zorder_by: tuple[str, str] | None = None,
) -> Row:
    """Rewrite ``src_dir`` into ``dest_dir`` with ~``target_bytes``
    files; returns a stats row (the maintenance job's audit record).
    ``sort_by`` switches to the range-layout path, ``zorder_by`` (a
    column pair) to the two-dimensional Morton layout (see module
    doc). The min/max needed for z-ranking is ONE 1-row agg over the
    input — no extra pass beyond the rewrite itself."""
    files_in, bytes_in = dir_file_stats(src_dir)
    n_out = max(1, math.ceil(bytes_in / target_bytes))
    df = read_parquet(spark, src_dir)
    if zorder_by:
        from pyspark.sql import functions as F

        ca, cb = zorder_by
        bounds = df.agg(
            F.min(ca).alias("a_min"), F.max(ca).alias("a_max"),
            F.min(cb).alias("b_min"), F.max(cb).alias("b_max"),
        )
        zkey = zorder_key(
            F.col(ca), F.col(cb),
            F.col("a_min").cast("double"), F.col("a_max").cast("double"),
            F.col("b_min").cast("double"), F.col("b_max").cast("double"),
        )
        out = (
            df.crossJoin(F.broadcast(bounds))
            .withColumn("__zkey", zkey)
            .repartitionByRange(n_out, "__zkey")
            .sortWithinPartitions("__zkey")
            .drop("__zkey", "a_min", "a_max", "b_min", "b_max")
        )
    elif sort_by:
        out = df.repartitionByRange(n_out, *sort_by).sortWithinPartitions(*sort_by)
    else:
        out = df.coalesce(n_out)
    tmp = f"{dest_dir}.compact-{os.getpid()}"
    out.write.mode("overwrite").parquet(tmp)
    stores.replace_dir(tmp, dest_dir)
    files_out, bytes_out = dir_file_stats(dest_dir)
    return Row(
        files_in=files_in,
        bytes_in=bytes_in,
        files_out=files_out,
        bytes_out=bytes_out,
        target_bytes=target_bytes,
        sorted_by=",".join(zorder_by) + " (zorder)" if zorder_by else ",".join(sort_by or []),
    )


def file_key_ranges(path: str, column: str) -> list[tuple[object, object]]:
    """Per-data-file (min, max) of ``column`` straight from the parquet
    footer statistics — the metadata a scan's predicate pushdown prunes
    with. Public pyarrow API; no Spark needed."""
    import pyarrow.parquet as pq

    ranges = []
    for root, _dirs, files in os.walk(path):
        for f in sorted(files):
            if f.startswith(("_", ".")) or not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(root, f)).metadata
            lo = hi = None
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    col = md.row_group(rg).column(ci)
                    if col.path_in_schema == column and col.statistics is not None:
                        s = col.statistics
                        lo = s.min if lo is None else min(lo, s.min)
                        hi = s.max if hi is None else max(hi, s.max)
            if lo is not None:
                ranges.append((lo, hi))
    return ranges


def overlap_count(ranges: list[tuple[object, object]], point: object) -> int:
    """How many files a point-predicate scan must open = files whose
    [min, max] contains the point. 1 is perfect skipping."""
    return sum(1 for lo, hi in ranges if lo <= point <= hi)


def sweep_stale_stores(
    warehouse_dir: str, live_paths: set[str], dry_run: bool = False
) -> list[str]:
    """Delete content-keyed store directories not in ``live_paths``
    (absolute paths of every store the CURRENT corpora resolve to —
    ``live_store_paths``). A regenerated corpus resolves to a NEW key
    and abandons its old store; this janitor reclaims it. Only names
    matching a registered family's ``{family}_…_{8hexkey}`` convention
    are ever touched, so tables or checkpoints sharing the warehouse
    are safe; orphaned ``.build-{pid}`` temp dirs (crashed builders)
    are swept too. Returns the removed paths (or would-remove, when
    dry_run)."""
    live = {os.path.abspath(p) for p in live_paths}
    removed = []
    if not os.path.isdir(warehouse_dir):
        return removed
    for name in sorted(os.listdir(warehouse_dir)):
        full = os.path.abspath(os.path.join(warehouse_dir, name))
        if not os.path.isdir(full) or stores.parse_name(name) is None or full in live:
            continue
        removed.append(full)
        if not dry_run:
            shutil.rmtree(full, ignore_errors=True)
    return removed


def live_store_paths(sf_dirs: list[str]) -> set[str]:
    """Every store path the given corpora currently resolve to, across
    all registered store families and their live algo variants — the
    ``live_paths`` input to ``sweep_stale_stores``."""
    return {
        p
        for sf in sf_dirs
        for fam in stores.families()
        for algo in fam.algos
        for p in fam.paths(sf, algo)
    }


def affected_delete_files(
    path: str, column: str, keys: list
) -> tuple[list[str], list[str]]:
    """Split a parquet directory's data files into (must-rewrite,
    untouched) for a key-delete, using ONLY footer min/max statistics —
    the same metadata predicate pushdown prunes with. On a range- or
    z-ordered layout (compact_small_files sort_by/zorder_by) the
    affected set is ~#keys files; on an unsorted layout it honestly
    degrades toward all files — the report makes that visible.

    Safety default: a file whose footer carries NO usable min/max for
    the delete column (stats absent, truncated, stats-disabled writer,
    or a min/max that can't be compared to the keys) is classified
    MUST-REWRITE, never untouched — for an erasure operator the failure
    mode must be extra rewriting, not silent data retention. A file
    with stats but ANY row group missing them is likewise rewritten:
    the gap could hide an affected key."""
    import pyarrow.parquet as pq

    hit, miss = [], []
    for root, _dirs, files in os.walk(path):
        for f in sorted(files):
            if f.startswith(("_", ".")) or not f.endswith(".parquet"):
                continue
            fp = os.path.join(root, f)
            md = pq.ParquetFile(fp).metadata
            lo = hi = None
            stats_complete = True
            for rg in range(md.num_row_groups):
                rg_found = False
                for ci in range(md.num_columns):
                    col = md.row_group(rg).column(ci)
                    if col.path_in_schema != column:
                        continue
                    s = col.statistics
                    if s is None or not s.has_min_max:
                        break
                    rg_found = True
                    lo = s.min if lo is None else min(lo, s.min)
                    hi = s.max if hi is None else max(hi, s.max)
                if not rg_found:
                    stats_complete = False
            if lo is None or not stats_complete:
                hit.append(fp)  # no usable stats → must-rewrite (fail safe)
                continue
            try:
                affected = any(lo <= k <= hi for k in keys)
            except TypeError:
                affected = True  # incomparable stats/key types → rewrite
            (hit if affected else miss).append(fp)
    return hit, miss


def propagate_deletes(
    spark: SparkSession,
    src_dir: str,
    column: str,
    keys: list,
    dest_dir: str | None = None,
) -> Row:
    """GDPR/right-to-erasure delete propagation: remove every row whose
    ``column`` value is in ``keys``, rewriting ONLY the files whose
    footer min/max can contain an affected key. Untouched files are
    HARDLINKED into the new directory version (zero bytes copied —
    the Delta/Iceberg copy-on-write file-level rewrite), and the swap
    is the same temp-dir + atomic rename protocol as compaction, so a
    reader never observes a half-deleted table.

    At 100 TB the cost is (affected files × rewrite) + (directory
    linking), not a full-table rewrite — and pairing with a key-sorted
    layout (``sort_by``/``zorder_by`` compaction) bounds affected files
    to ~#tombstones. Returns the audit Row a compliance job records.

    Partition-aware: files keep their RELATIVE subpath in the new
    directory version, so Hive-partitioned layouts (``k=v/…``) survive
    — linked files land at the same subpath, and affected files are
    rewritten per-subdirectory so the partition-path columns are never
    flattened away. A same-path collision is a layout corruption and
    fails loudly (FileExistsError), never a silent overwrite. Rows
    whose delete-column is NULL are never erasure targets and are
    always kept (null-safe predicate, not the SQL three-valued trap)."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    dest = dest_dir or src_dir
    src_abs = os.path.abspath(src_dir)
    hit, miss = affected_delete_files(src_dir, column, keys)
    files_total = len(hit) + len(miss)
    tmp = f"{dest}.delete-{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)

    def _place(src_fp: str, rel: str) -> None:
        """Hardlink (zero-copy) at the same relative subpath; copy only
        when linking is impossible (cross-device). An existing target
        means two inputs mapped to one output — corrupt, raise."""
        link = os.path.join(tmp, rel)
        os.makedirs(os.path.dirname(link), exist_ok=True)
        try:
            os.link(src_fp, link)
        except FileExistsError:
            raise
        except OSError:
            if os.path.exists(link):
                raise FileExistsError(link)
            shutil.copy2(src_fp, link)

    for fp in miss:  # zero-copy carry-over of unaffected files
        _place(fp, os.path.relpath(os.path.abspath(fp), src_abs))
    rows_deleted = 0
    if hit:
        # Rewrite per subdirectory: within one partition dir the
        # partition-path values are constant, so writing the filtered
        # rows back into the same relative dir preserves the layout.
        by_dir: dict[str, list[str]] = defaultdict(list)
        for fp in hit:
            by_dir[os.path.relpath(os.path.dirname(os.path.abspath(fp)), src_abs)].append(fp)
        keep = F.col(column).isNull() | ~F.col(column).isin(keys)
        for rel_dir, fps in sorted(by_dir.items()):
            aff = read_parquet(spark, *fps)
            n_before = aff.count()
            rewrite = f"{tmp}.rewrite"
            aff.filter(keep).write.mode("overwrite").parquet(rewrite)
            n_after = read_parquet(spark, rewrite).count()
            rows_deleted += n_before - n_after
            i = 0
            for root, _dirs, files in os.walk(rewrite):
                for f in sorted(files):
                    if f.startswith(("_", ".")) or not f.endswith(".parquet"):
                        continue
                    rel = os.path.join("" if rel_dir == "." else rel_dir, f"rw-{i:05d}-{f}")
                    _place(os.path.join(root, f), rel)
                    i += 1
            shutil.rmtree(rewrite)
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    stores.replace_dir(tmp, dest)
    return Row(
        files_total=files_total,
        files_rewritten=len(hit),
        files_linked=len(miss),
        rows_deleted=int(rows_deleted),
    )


# ---------------------------------------------------------------------------
# Registered erasure queries: the audit record every GDPR deletion job
# files BEFORE erasing (oracle-backed), and an end-to-end exercise of
# the stats-pruned delete propagation itself (rows-only: file-level
# classification is invisible to a SQL view).
# ---------------------------------------------------------------------------

# Deterministic erasure cohort: user_ids whose md5 hex starts '0'
# (~1/16 of users) — the RNG-free subset convention the sampling
# operators already use, so the "deletion request list" is stable
# across engines and testdata regenerations.
ERASE_PREFIX = "0"


def _register_erasure_queries() -> None:
    from etl_jlp_spark.catalog import load_table
    from etl_jlp_spark.registry import query

    @query(
        "gdpr_erasure_audit",
        oracle=f"""
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(CAST(ts AS DATE)) AS DATE) AS first_day,
       CAST(max(CAST(ts AS DATE)) AS DATE) AS last_day,
       CAST(count(DISTINCT event_type) AS BIGINT) AS n_event_types,
       round(sum(value), 2) AS total_value
FROM events
WHERE substr(md5(CAST(user_id AS VARCHAR)), 1, 1) = '{ERASE_PREFIX}'
GROUP BY user_id
""",
    )
    def gdpr_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Pre-erasure audit record: for every user in the deletion
        cohort, the row count, activity span, distinct event types and
        total value about to be destroyed — the evidence row a
        compliance job must file before ``propagate_deletes`` runs.
        One map-side-combinable agg over a pushed-down hash filter;
        at 100 TB a key-sorted layout prunes to ~#cohort files."""
        from pyspark.sql import functions as F

        events = load_table(spark, sf_dir, "events")
        return (
            events.filter(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) == ERASE_PREFIX
            )
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.min(F.to_date("ts")).alias("first_day"),
                F.max(F.to_date("ts")).alias("last_day"),
                F.countDistinct("event_type").cast("long").alias("n_event_types"),
                F.round(F.sum("value"), 2).alias("total_value"),
            )
        )

    @query("propagate_deletes_report")  # rows-only: file classification isn't a SQL view
    def propagate_deletes_report(spark: SparkSession, sf_dir: str) -> DataFrame:
        """End-to-end erasure drill on a THROWAWAY copy: write events
        key-sorted (the layout that makes stats pruning work), erase
        the md5-prefix cohort via the real ``propagate_deletes``
        (footer-stats file classification, hardlinked carry-over,
        atomic swap), and report what happened — files rewritten vs
        linked, rows before/after, and that after-count cross-checked
        by re-reading the swapped directory. The file-level split is
        exactly what a SQL oracle CANNOT see, hence rows-only."""
        import tempfile

        from pyspark.sql import functions as F

        events = load_table(spark, sf_dir, "events")
        cohort = [
            r["user_id"]
            for r in events.select("user_id")
            .distinct()
            .filter(F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) == ERASE_PREFIX)
            .collect()
        ]
        work = tempfile.mkdtemp(prefix="erasure_drill_")
        store = os.path.join(work, "events_store")
        (
            events.repartitionByRange(8, "user_id")
            .sortWithinPartitions("user_id")
            .write.mode("overwrite")
            .parquet(store)
        )
        rows_before = read_parquet(spark, store).count()
        audit = propagate_deletes(spark, store, "user_id", cohort)
        rows_after = read_parquet(spark, store).count()
        out = spark.createDataFrame(
            [
                (
                    audit["files_total"],
                    audit["files_rewritten"],
                    audit["files_linked"],
                    len(cohort),
                    rows_before,
                    audit["rows_deleted"],
                    rows_after,
                )
            ],
            "n_files long, n_files_rewritten long, n_files_linked long, "
            "n_keys long, rows_before long, rows_deleted long, rows_after long",
        )
        shutil.rmtree(work, ignore_errors=True)
        return out


def store_subfamily_inventory(sf_dir: str) -> list[tuple]:
    """Audit rows for every persisted-index store SUBFAMILY (cc_edges,
    ivf_centroids, …): generations on disk, whether the generation the
    CURRENT corpus resolves to is built, orphaned generations (what
    ``sweep_stale_stores`` would reclaim), crashed ``.build-`` temps,
    and file/byte footprint. Pure filesystem metadata — the subfamily
    list derives from the store family registry, so the row count is
    fixed by CODE, not by what happens to be on disk."""
    wh = stores.WAREHOUSE
    on_disk = sorted(os.listdir(wh)) if os.path.isdir(wh) else []
    parsed = {n: stores.parse_name(n) for n in on_disk}
    live: dict[str, tuple[stores.Family, set[str]]] = {}  # subfamily -> (family, live paths)
    for fam in stores.families():
        for algo in fam.algos:
            for part, path in zip(fam.parts, fam.paths(sf_dir, algo)):
                live.setdefault(f"{fam.name}_{part}", (fam, set()))[1].add(path)
    rows = []
    for sub, (fam, live_paths) in sorted(live.items()):
        gens = [n for n in on_disk if parsed[n] == (sub, False)]
        temps = [n for n in on_disk if parsed[n] == (sub, True)]
        built = sum(1 for p in live_paths if fam.built(p))
        orphans = [n for n in gens if os.path.join(wh, n) not in live_paths]
        n_files = t_bytes = 0
        for n in gens + temps:
            f, b = dir_file_stats(os.path.join(wh, n))
            n_files += f
            t_bytes += b
        rows.append(
            (
                sub,
                len(live_paths),
                built,
                len(gens),
                len(orphans),
                len(temps),
                n_files,
                t_bytes,
            )
        )
    return rows


def _register_store_inventory() -> None:
    from etl_jlp_spark.registry import query

    @query("store_inventory_report")  # rows-only: filesystem state isn't a SQL view
    def store_inventory_report(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Store-janitor audit over every content-keyed index family:
        per subfamily, the live-generation count the current corpus
        resolves to, how many of those are actually built, total
        generations on disk, orphaned generations (reclaimable by
        ``sweep_stale_stores`` — stale corpus keys), crashed builder
        temps, and the file/byte footprint. The vacuum-discipline
        counterpart of the rollup store's retention: content-keyed
        stores are abandoned (never mutated) on corpus regeneration,
        so this report IS the reclaim queue. Row count is fixed by the
        store family registry (one row per family part),
        so the rows-only gate pins a stable shape. At 100 TB this is
        one object-store LIST per family prefix — output bounded by
        #families, never by data."""
        return spark.createDataFrame(
            store_subfamily_inventory(sf_dir),
            "family string, n_live_keys long, n_live_built long, "
            "n_generations long, n_orphaned long, n_build_temps long, "
            "n_files long, total_bytes long",
        )


_register_erasure_queries()
_register_store_inventory()
