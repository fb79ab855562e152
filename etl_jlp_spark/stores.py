"""Persisted per-corpus index stores: naming, content keys, atomic
publish and the janitor's family list, plus the atomic JSON pointer
(``read_pointer``/``write_pointer``) that versioned state commits
through: the streaming rollup and cluster stores, and the scheduler's
run state.

Every store lives under ``<repo>/spark-warehouse`` as one directory per
part, named ``{family}_{part}_{key}``. The 8-hex ``key`` folds the
source table's content version and the build algorithm's version
together (``corpus_store_key``), so a regenerated corpus or a changed
build resolves to a NEW directory instead of serving stale answers. A
store is built when every part holds its family's marker file
(``_SUCCESS`` unless the family declares another).

Each ``ensure_*`` declares its ``Family`` next to its build body; the
declaration registers the family, and ``families()`` is the one list
the janitor (``ingest.maintenance``) derives its name check
(``parse_name``) and live set from.

Single-writer contract + janitor. A build writes each part into
``<final>.build-<pid>`` and renames it into place (``publish``), so no
reader ever sees a half-written store. The rename is single-HOST
atomic: two concurrent sessions race benignly — the loser's rename
fails and it adopts the winner's store — but a builder that CRASHES
mid-write leaks its ``.build-<pid>`` temp dir. Cleanup is the explicit
janitor (``ingest.maintenance.sweep_stale_stores``), which removes
orphaned build temps and stores no live corpus resolves to; on a shared
filesystem without atomic rename semantics, run builds single-writer
(e.g. from the orchestrator's ingest step).
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import re
import shutil
from collections.abc import Callable

WAREHOUSE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "spark-warehouse"
)

_FAMILIES: dict[str, Family] = {}


def corpus_store_key(sf_dir: str, table: str, algo: str = "") -> str:
    """8-hex key identifying (path, content-version, algorithm-version)
    of one corpus table. Content-version = size + mtime_ns of the
    table's parquet file (or the directory's file listing when the
    table is a directory), so any regeneration changes the key.
    ``algo`` folds the index algorithm's version into the key, so a
    change to how the index is BUILT (e.g. a new IVF seed-selection
    scheme) also resolves to a new store instead of serving cells laid
    out by the old algorithm."""
    path = os.path.join(os.path.abspath(sf_dir), f"{table}.parquet")
    sig = [path, algo] if algo else [path]
    try:
        if os.path.isdir(path):
            for root, _dirs, files in sorted(os.walk(path)):
                for f in sorted(files):
                    st = os.stat(os.path.join(root, f))
                    sig.append(f"{f}:{st.st_size}:{st.st_mtime_ns}")
        else:
            st = os.stat(path)
            sig.append(f"{st.st_size}:{st.st_mtime_ns}")
    except OSError:
        pass  # unstat-able (object store): fall back to path-only keying
    return hashlib.md5("|".join(sig).encode()).hexdigest()[:8]


class Family:
    """One store family: the parts it writes, the corpus table its key
    follows, every algo tag whose store is live (the first is the
    default) and the marker file, relative to a part directory, whose
    presence means the part is published. Constructing one registers
    it."""

    def __init__(
        self, name: str, parts: tuple[str, ...], table: str, *algos: str, marker: str = "_SUCCESS"
    ):
        self.name, self.parts, self.table, self.algos = name, parts, table, algos
        self.marker = marker
        _FAMILIES[name] = self

    def paths(self, sf_dir: str, algo: str | None = None) -> tuple[str, ...]:
        """One directory per part for the store ``sf_dir`` resolves to."""
        key = corpus_store_key(sf_dir, self.table, algo or self.algos[0])
        return tuple(os.path.join(WAREHOUSE, f"{self.name}_{p}_{key}") for p in self.parts)

    def built(self, *paths: str) -> bool:
        """True when every given part of this family is already published."""
        return all(os.path.exists(os.path.join(p, self.marker)) for p in paths)


@functools.cache
def _import_package() -> None:
    import importlib
    import pkgutil

    import etl_jlp_spark

    for mod in pkgutil.walk_packages(etl_jlp_spark.__path__, "etl_jlp_spark."):
        importlib.import_module(mod.name)


def families() -> list[Family]:
    """Every registered family. Imports the whole package first, so the
    list is complete whichever modules the caller imported."""
    _import_package()
    return [_FAMILIES[n] for n in sorted(_FAMILIES)]


_STORE_NAME = re.compile(r"^([a-z0-9]+(?:_[a-z0-9]+)*?)_[0-9a-f]{8}(\.build-\d+)?$")


def parse_name(name: str) -> tuple[str, bool] | None:
    """``(subfamily, is_build_temp)`` when ``name`` is a store directory
    ``{family}_{part}_{8hex}``, or its ``.build-<pid>`` temp, of a
    registered family; None for anything else in the warehouse. The
    family prefix is a closed list, so a user table that HAPPENS to end
    in 8 hex-ish chars (events_20240101) is never mistaken for a store."""
    _import_package()
    m = _STORE_NAME.match(name)
    if m is None or m[1].split("_")[0] not in _FAMILIES:
        return None
    return m[1], m[2] is not None


def publish(final: str, write: Callable[[str], object]) -> None:
    """Create ``final`` if absent: ``write`` fills a per-pid temp dir,
    which is then renamed into place. When another process published
    first, the rename fails and this build is dropped in favour of the
    winner's store."""
    tmp = f"{final}.build-{os.getpid()}"
    write(tmp)
    try:
        os.rename(tmp, final)
    except OSError:  # another process won the race — use its store
        shutil.rmtree(tmp, ignore_errors=True)


def read_pointer(path: str, fresh: dict | None = None) -> dict:
    """The JSON pointer at ``path``, or ``fresh`` when none was ever
    committed (without ``fresh``, a missing pointer raises). An
    unreadable pointer always raises: read as fresh it would make a
    reader drop, and a janitor delete, the state it points to."""
    try:
        with open(path, encoding="utf-8") as fh:
            return json.load(fh)
    except FileNotFoundError:
        if fresh is None:
            raise
        return fresh


def write_pointer(path: str, value: dict) -> None:
    """Commit ``value`` as the pointer at ``path``. It is written to a
    per-pid temp file and moved over ``path`` with ``os.replace``, so a
    reader sees the old pointer or the new one, never half of one."""
    tmp = f"{path}.tmp-{os.getpid()}"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(value, fh)
    os.replace(tmp, path)


def replace_dir(tmp: str, dest: str) -> None:
    """Publish the finished directory ``tmp`` as ``dest``, replacing
    any existing ``dest``. rename(2) cannot replace a non-empty
    directory, so the old one is first moved aside and deleted only
    once the new one is in place; if that final rename fails, the old
    directory is put back and the error re-raised."""
    if not os.path.isdir(dest):
        os.rename(tmp, dest)
        return
    old = f"{dest}.old-{os.getpid()}"
    os.rename(dest, old)
    try:
        os.rename(tmp, dest)
    except OSError:
        os.rename(old, dest)
        raise
    shutil.rmtree(old)
