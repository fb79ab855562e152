"""The mergeable streaming store: how a per-batch state is written,
read merged, folded and reclaimed — the watermark-table incremental
load of the reference, once for every stream whose state merges.

A naive ``foreachBatch`` "read store, merge, overwrite store" is NOT
exactly-once: replaying a crashed batch re-merges rows the store
already absorbed (double counting), and a crash mid-overwrite corrupts
the store. A store is instead, under ``store_dir``:

- **deltas**: each micro-batch's partial state in
  ``deltas/batch_id=N``, written by ``append`` through the idempotent
  per-batch write, never touching other batches' data;
- **base**: a folded partial in a versioned ``base/v{N}`` directory,
  committed by swapping ``_POINTER.json {base, through_batch}``
  (``stores.write_pointer``). The pointer IS the dedup state:
  ``append`` drops a batch at or below its watermark, and an unreadable
  pointer raises instead of reading as an empty store.

Each store is parameterized by its ``merge``: a map from a union of
partials to one partial of the same schema (sum for counters, max for
HyperLogLog registers, bottom-K for KMV sketches). Every merge is exact,
so ``compact`` — fold the view into a new base, swap the pointer, sweep
— never changes a view's answer; it bounds the files a view reads by
the base plus the deltas since the last fold.
"""

from __future__ import annotations

import math
import os
import shutil
from collections.abc import Callable
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_jlp_spark.catalog import read_parquet
from etl_jlp_spark.stores import read_pointer, write_pointer

Merge = Callable[[DataFrame], DataFrame]

_POINTER = "_POINTER.json"


def write_batch_idempotent(df: DataFrame, dest_dir: str, batch_id: int) -> None:
    """Idempotent ``foreachBatch`` parquet write. A blind
    ``.mode("append")`` inside foreachBatch is only AT-LEAST-once: a
    crash after the parquet write but before the checkpoint commit
    replays the batch on restart and duplicates its rows. Writing each
    batch to its own ``batch_id=N`` partition directory with overwrite
    makes the replay land on the same path — idempotent, so the sink is
    exactly-once end-to-end. Readers see ``dest_dir`` as a
    batch_id-partitioned parquet tree (drop the ``batch_id`` column if
    unwanted)."""
    df.write.mode("overwrite").parquet(os.path.join(dest_dir, f"batch_id={int(batch_id)}"))


def batch_ids(dest_dir: str) -> list[int]:
    """Ascending ids of the ``batch_id=N`` directories under
    ``dest_dir``; none while it does not exist."""
    try:
        names = os.listdir(dest_dir)
    except FileNotFoundError:
        return []
    return sorted(int(d.split("=", 1)[1]) for d in names if d.startswith("batch_id="))


def summed(keys: tuple[str, ...], values: tuple[str, ...]) -> Merge:
    """The merge of additive partials: ``values`` summed per ``keys``."""
    return lambda df: df.groupBy(*keys).agg(*(F.sum(v).alias(v) for v in values))


def _pointer(store_dir: str) -> dict:
    return read_pointer(os.path.join(store_dir, _POINTER), {"base": None, "through_batch": -1})


def append(partial: DataFrame, store_dir: str, batch_id: int) -> None:
    """Write one micro-batch's partial as delta ``batch_id``. Idempotent
    under replay; a batch already folded by ``compact`` is dropped."""
    if int(batch_id) <= _pointer(store_dir)["through_batch"]:
        return
    write_batch_idempotent(partial, os.path.join(store_dir, "deltas"), batch_id)


def view(
    spark: SparkSession, store_dir: str, merge: Merge, as_of: int | None = None
) -> DataFrame:
    """The merged state: base ∪ the deltas after it, through ``merge``.

    With ``as_of`` it is time travel — the state as it stood after batch
    ``as_of``: the newest retained base version at or below it plus the
    retained deltas in between. That needs the history kept
    (``compact(retain=True)`` and no ``vacuum`` since); a vacuumed
    watermark raises rather than serving a partial state."""
    ptr = _pointer(store_dir)
    if as_of is None:
        base, through = ptr["base"], math.inf
    else:
        through = int(as_of)
        older = [v for v in _versions(store_dir) if v <= through]
        base = f"v{max(older)}" if older else None
    # explicit None check: base v0 is a real version, so delta 0 is
    # already in it
    floor = -1 if base is None else int(base[1:])
    deltas_dir = os.path.join(store_dir, "deltas")
    deltas = [b for b in batch_ids(deltas_dir) if floor < b <= through]
    if base is None and not deltas and ptr["through_batch"] > through:
        raise ValueError(
            f"history before batch {through} was vacuumed from {store_dir}; "
            "compact with retain=True to keep time travel"
        )
    parts = [read_parquet(spark, os.path.join(store_dir, "base", base))] if base else []
    if deltas:
        parts.append(
            read_parquet(spark, deltas_dir).filter(F.col("batch_id").isin(deltas)).drop("batch_id")
        )
    if not parts:
        raise FileNotFoundError(f"empty store: {store_dir}")
    return merge(reduce(DataFrame.unionByName, parts))


def compact(spark: SparkSession, store_dir: str, merge: Merge, retain: bool = False) -> int:
    """Fold all deltas into a new base version and advance the pointer.
    Returns the new folded-through batch id. Crash-safe at every step:
    the new base ``base/v{N}`` is written from the committed base and
    deltas, never from itself, BEFORE the pointer swap, and cleanup
    happens only AFTER it.

    ``retain=True`` is the Delta-Lake-style retention split: folded
    deltas and superseded base versions are KEPT so ``view(as_of=…)``
    can reconstruct any historical batch watermark; reclaiming the
    space becomes an explicit, separately-scheduled ``vacuum``
    (exactly VACUUM vs time travel). The default sweeps immediately —
    serving-only stores shouldn't pay history storage."""
    ids = batch_ids(os.path.join(store_dir, "deltas"))
    ptr = _pointer(store_dir)
    if not ids or max(ids) <= ptr["through_batch"]:
        return ptr["through_batch"]
    through = max(ids)
    version = f"v{through}"
    view(spark, store_dir, merge).write.mode("overwrite").parquet(
        os.path.join(store_dir, "base", version)
    )
    write_pointer(os.path.join(store_dir, _POINTER), {"base": version, "through_batch": through})
    if not retain:
        vacuum(store_dir)
    return through


def _versions(store_dir: str) -> list[int]:
    base = os.path.join(store_dir, "base")
    if not os.path.isdir(base):
        return []
    return sorted(int(d[1:]) for d in os.listdir(base) if d.startswith("v"))


def vacuum(store_dir: str) -> int:
    """Reclaim history: sweep folded deltas (≤ the pointer watermark)
    and superseded base versions. Returns the number of directories
    removed. The current pointer's (base, unfolded deltas) are never
    touched — the view is identical before and after."""
    ptr = _pointer(store_dir)
    dead = [
        os.path.join(store_dir, "deltas", f"batch_id={b}")
        for b in batch_ids(os.path.join(store_dir, "deltas"))
        if b <= ptr["through_batch"]
    ] + [
        os.path.join(store_dir, "base", f"v{v}")
        for v in _versions(store_dir)
        if f"v{v}" != ptr["base"]
    ]
    for d in dead:
        shutil.rmtree(d, ignore_errors=True)
    return len(dead)
