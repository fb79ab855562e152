"""Lake readers with format sniffing.

Reference: general_lib.read_azure_datalake_storage* + read_json_lines_in_chunks
(dwh_lab/dwh/general_lib.py:104-175) sniff the landzone format from the
path/extension and hand-chunk big JSONL files through pandas. Spark-first
re-expression: the format is sniffed from the medallion layout (the
``{fmt}`` path segment, falling back to file extensions / magic bytes),
then handed to the engine's own distributed reader — chunking, offsets
and retry logic disappear, and a JSONL "file" can be a directory of
part-files read in parallel, one task per split.

Reading with an explicit schema (the writer's) keeps the round trip
type-exact and skips the inference pass — at 100 TB schema inference is
a full extra scan, so callers should always pass one when they have it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from etl_jlp_spark.catalog import _ensure_session_confs
from etl_jlp_spark.ingest.writers import FORMATS, TIMESTAMP_FORMAT_US, medallion_path

_MAGIC_PARQUET = b"PAR1"
_MAGIC_ORC = b"ORC"


_SNIFF_SAMPLE = 8  # magic-byte fallback inspects up to this many files


def sniff_format(path: str) -> str:
    """Infer the storage format of a medallion entity directory.

    Order of evidence (cheap → costly, all driver-side metadata only):
    1. the ``{fmt}`` segment of the medallion layout
       (``…/entity/{fmt}/{job_date}``) — ONLY that position, so an
       entity literally named 'json' can't short-circuit detection;
    2. data-file extensions (all files must agree);
    3. magic bytes / first character of up to ``_SNIFF_SAMPLE`` data
       files (must agree).
    Disagreement raises instead of silently guessing (ADVICE r2).
    """
    segs = os.path.normpath(path).split(os.sep)
    if len(segs) >= 2 and segs[-2] in FORMATS:
        return segs[-2]
    data_files = []
    for root, _, files in os.walk(path):
        data_files += [
            os.path.join(root, f)
            for f in files
            if not f.startswith(("_", ".")) and not f.endswith(".crc")
        ]
    by_ext = {
        ".parquet": "parquet",
        ".orc": "orc",
        ".csv": "csv",
        ".json": "jsonline",
        ".jsonl": "jsonline",
        ".xml": "xml",
    }
    votes = {fmt for f in data_files for ext, fmt in by_ext.items() if f.endswith(ext)}
    if len(votes) > 1:
        raise ValueError(f"mixed formats {sorted(votes)} under {path!r}; pass fmt=")
    if votes:
        return votes.pop()
    votes = set()
    for f in data_files[:_SNIFF_SAMPLE]:
        with open(f, "rb") as fh:
            head = fh.read(4)
        if head[:4] == _MAGIC_PARQUET:
            votes.add("parquet")
        elif head[:3] == _MAGIC_ORC:
            votes.add("orc")
        elif head[:1] in (b"{", b"["):
            votes.add("jsonline")
        elif head[:1] == b"<":
            votes.add("xml")
        else:
            votes.add("csv")
    if len(votes) > 1:
        raise ValueError(f"ambiguous content {sorted(votes)} under {path!r}; pass fmt=")
    if votes:
        return votes.pop()
    raise FileNotFoundError(f"no data files to sniff under {path!r}")


def read_entity(
    spark: SparkSession,
    container: str,
    base: str,
    entity: str,
    job_date: str,
    fmt: str | None = None,
    schema: StructType | None = None,
) -> DataFrame:
    """Read one entity snapshot from the medallion layout, sniffing the
    format when not given (the read-side twin of writers.write_entity)."""
    _ensure_session_confs(spark)
    if fmt is None:
        entity_dir = os.path.join(container, base, entity)
        fmts = sorted(f for f in os.listdir(entity_dir) if f in FORMATS)
        if len(fmts) != 1:
            raise ValueError(f"ambiguous formats {fmts} under {entity_dir!r}; pass fmt=")
        fmt = fmts[0]
    path = medallion_path(container, base, entity, fmt, job_date)
    if fmt != sniff_format(path):
        raise ValueError(f"path {path!r} does not contain {fmt!r} data")
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "parquet":
        return reader.parquet(path)
    if fmt == "orc":
        return reader.orc(path)
    if fmt == "csv":
        return reader.option("header", "true").option(
            "timestampFormat", TIMESTAMP_FORMAT_US
        ).csv(path)
    if fmt == "xml":
        return (
            reader.format("xml")
            .option("rowTag", "row")
            .option("timestampFormat", TIMESTAMP_FORMAT_US)
            .load(path)
        )
    # json / jsonline are both line-delimited
    return reader.option("timestampFormat", TIMESTAMP_FORMAT_US).json(path)
