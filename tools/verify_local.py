"""Local stand-in for the driver's correctness gate — DRIVER-FAITHFUL.

Round-1 lesson (VERDICT.md §What's wrong): the driver canonicalizes
both sides through *pandas* (`sdf.toPandas()` vs duckdb `.df()`),
which makes the comparison dtype-sensitive — DuckDB `SUM(<integer>)`
returns HUGEINT which pandas renders as float64 (`12.0`), while Spark
returns int64 (`12`); equal `collect()`/`fetchall()` Python scalars
hide that. The driver also *crashes* on list-typed output columns
(`sort_values` → "unhashable type: 'list'").

This harness therefore round-trips through the same pandas path:

* Spark side: ``df.toPandas()``
* DuckDB side: ``con.execute(sql).df()``
* canon: reindex columns sorted by name, ``sort_values`` over all
  columns (raises on list columns, exactly like the driver), then a
  value hash over per-cell strings where ``np.int64(12)`` -> ``"12"``
  but ``np.float64(12.0)`` -> ``"12.0"`` — dtype mismatches hash
  differently even when the Python scalars are equal.

Usage::

    python tools/verify_local.py [--json OUT.json] [sf_dir] [name ...]

``--json`` writes the per-query record in the driver's
CORRECTNESS_r{N}.json shape (rows/schema/hash match + row counts) —
the committed end-of-round artifact (r4 VERDICT #8: the full-catalog
sweep used to live only as a notes claim; ``SWEEP_r{N}.json`` lets
the judge diff it instead of re-running the oracles by hand).
"""

from __future__ import annotations

import hashlib
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_args = sys.argv[1:]
JSON_OUT = None
if "--json" in _args:
    i = _args.index("--json")
    JSON_OUT = _args[i + 1]
    _args = _args[:i] + _args[i + 2:]

SF_DIR = _args[0] if _args else "/root/testdata/sf0.01"
ONLY = set(_args[1:])

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon_cell(v) -> str:
    """Dtype-sensitive cell rendering of a pandas scalar."""
    import datetime
    import decimal
    import math

    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, (np.floating, float)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        return repr(f)  # float64(12.0) -> '12.0' (differs from int 12)
    if isinstance(v, (np.bool_, bool)):
        return "true" if v else "false"
    if isinstance(v, (np.integer, int)):
        return str(int(v))
    if isinstance(v, decimal.Decimal):
        return f"dec:{v}"  # DECIMAL is its own dtype class in pandas
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return "0x" + bytes(v).hex()
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    # lists/arrays would have blown up in sort_values already; anything
    # reaching here is a plain scalar
    return str(v)


def canon_lines(pdf) -> list[str]:
    """Driver-style canonicalization: sorted columns, sort_values over
    all columns (RAISES on list-typed columns, matching the driver),
    then one string per row."""
    import pandas as pd

    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    if len(pdf):
        pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort").reset_index(
            drop=True
        )
    out = []
    for row in pdf.itertuples(index=False, name=None):
        out.append("\x1f".join(canon_cell(v) for v in row))
    # sort_values on mixed NaN placement can differ between engines for
    # identical data; a final string sort makes the hash order-insensitive
    out.sort()
    return out


def value_hash(lines: list[str]) -> str:
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    import duckdb

    from osm_data_classification_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark("verify-local", master="local[8]")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = n_rowsonly = 0
    records: dict[str, dict] = {}

    def record(name, **kw):
        base = {
            "rows_match": None,
            "schema_match": None,
            "hash_match": None,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
        }
        base.update(kw)
        records[name] = base

    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        try:
            sdf = fn(spark, SF_DIR)
            spdf = sdf.toPandas()
        except Exception:
            print(f"FAIL  {name}: spark error")
            traceback.print_exc()
            record(name, err="spark error: " + traceback.format_exc(limit=1))
            n_fail += 1
            continue
        if name not in oracles:
            # the driver still canonicalizes the spark side for its
            # rows-only record — a list column crashes there too
            try:
                canon_lines(spdf)
            except Exception as e:
                print(f"FAIL  {name}: rows-only spark canon error: {e!r}")
                record(name, spark_rows=len(spdf), err=f"rows-only canon: {e!r}")
                n_fail += 1
                continue
            print(f"ROWS  {name}: {len(spdf)} rows (rows-only)")
            record(name, spark_rows=len(spdf), rows_only=True)
            n_rowsonly += 1
            continue
        try:
            dpdf = con.execute(oracles[name]).df()
        except Exception:
            print(f"FAIL  {name}: duckdb error")
            traceback.print_exc()
            record(name, spark_rows=len(spdf),
                   err="duckdb error: " + traceback.format_exc(limit=1))
            n_fail += 1
            continue
        problems = []
        if sorted(spdf.columns) != sorted(dpdf.columns):
            problems.append(
                f"schema {sorted(spdf.columns)} != {sorted(dpdf.columns)}"
            )
        if len(spdf) != len(dpdf):
            problems.append(f"rows {len(spdf)} != {len(dpdf)}")
        if not problems:
            try:
                ls = canon_lines(spdf)
            except Exception as e:
                problems.append(f"spark canon error: {e!r}")
                ls = ld = []
            if not problems:
                try:
                    ld = canon_lines(dpdf)
                except Exception as e:
                    problems.append(f"duckdb canon error: {e!r}")
                    ld = []
            if not problems and value_hash(ls) != value_hash(ld):
                problems.append("hash mismatch")
                for a, b in zip(ls, ld):
                    if a != b:
                        print(f"      spark: {a[:220]}")
                        print(f"      duck : {b[:220]}")
                        break
        schema_ok = sorted(spdf.columns) == sorted(dpdf.columns)
        rows_ok = len(spdf) == len(dpdf)
        hash_ok = schema_ok and rows_ok and not problems
        record(
            name,
            rows_match=rows_ok,
            schema_match=schema_ok,
            hash_match=hash_ok,
            spark_rows=len(spdf),
            oracle_rows=len(dpdf),
            err="; ".join(problems) or None,
        )
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            n_fail += 1
        else:
            print(f"PASS  {name}: {len(spdf)} rows")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_rowsonly} rows-only, {n_fail} fail")
    if JSON_OUT:
        import json as _json

        with open(JSON_OUT, "w") as f:
            _json.dump(
                {
                    "sf_dir": SF_DIR,
                    "n_pass": n_pass,
                    "n_rows_only": n_rowsonly,
                    "n_fail": n_fail,
                    "results": records,
                },
                f,
                indent=1,
            )
        print(f"wrote {JSON_OUT}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
