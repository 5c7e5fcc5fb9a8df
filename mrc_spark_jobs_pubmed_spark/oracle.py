"""The Spark-vs-DuckDB oracle contract, shared by the tests and scripts.

A registered query "matches" its oracle SQL when the two results, each
from ONE execution fetched as Arrow and converted to pandas the way that
engine's `toPandas()` / `.df()` converts it, have:

1. the same sorted column names;
2. the same row count;
3. the same dtype KIND per column. Width (int32/int64) and unit (ns/us)
   differences hash alike in a pandas-based comparator; kind
   differences do not: a DuckDB HUGEINT sum lands as float64 against
   Spark's int64, so identical values still mismatch;
4. no list/dict/set cells in object columns (they are unhashable);
5. equal order-insensitive canonical values, floats rounded to
   `ndigits` decimal places (6 for the sweep; at 17, finer than a
   double's spacing for |x| >= 0.1, a 1-ulp difference fails). pandas
   shows a SQL NULL and a float NaN alike and widens a nullable integer
   column to float64; the Arrow table each frame came from keeps NULL
   apart from NaN and integers exact, so values are read through it.

`tests/test_oracle.py` and `scripts/driver_check.py` both go through
`compare`, so pytest and the sweep cannot disagree on what "match" means.
"""

from __future__ import annotations

import datetime
import decimal
import math
import os

from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa

from mrc_spark_jobs_pubmed_spark.sources import catalog

TABLES = tuple(catalog.TABLE_SCHEMAS)


def duck_views(con, sf_dir: str):
    """Register every fixture table as a DuckDB view over `sf_dir`.

    Accepts both layouts: the shipped single `{t}.parquet` file and the
    `{t}.parquet/` directory of part files that Spark writes."""
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


class Result(NamedTuple):
    """One execution's rows: the engine's own pandas conversion (dtype
    kinds) and the Arrow table it was made from (NULLs, exact integers)."""

    frame: pd.DataFrame
    table: pa.Table


def spark_result(sdf) -> Result:
    """Run `sdf` once; the frame has `toPandas()`'s dtypes, timestamps
    as naive session-local time."""
    table = sdf.toArrow()
    frame = table.to_pandas(date_as_object=True, coerce_temporal_nanoseconds=True)
    tz = sdf.sparkSession.conf.get("spark.sql.session.timeZone")
    for i, dt in enumerate(frame.dtypes):
        if isinstance(dt, pd.DatetimeTZDtype):
            frame.isetitem(i, frame.iloc[:, i].dt.tz_convert(tz).dt.tz_localize(None))
    return Result(frame, table)


def duck_result(con, sql: str) -> Result:
    """Run `sql` once; the frame is DuckDB's `.df()` of the fetched rows."""
    table = con.execute(sql).arrow()
    return Result(con.from_arrow(table).df(), table)


def norm(v, ndigits: int = 6):
    """Canonical scalar for an order-insensitive, type-aware compare."""
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return "nan" if math.isnan(f) else round(f, ndigits)
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, decimal.Decimal):
        return round(float(v), ndigits)
    if isinstance(v, (pd.Timestamp, datetime.datetime, datetime.date)):
        return str(v)[:26]
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(norm(x, ndigits) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x, ndigits)) for k, x in v.items()))
    try:
        if pd.isna(v):
            return None
    except (TypeError, ValueError):
        pass
    return v


def canon(pdf: pd.DataFrame, ndigits: int = 6, table: pa.Table | None = None) -> list[tuple]:
    """Rows as canonical tuples, columns sorted by name, rows sorted.

    With the Arrow `table` the frame came from, its NULLs read as None
    (not as the frame's NaN) and its integer columns are taken exact."""
    columns = []
    for i in sorted(range(pdf.shape[1]), key=lambda i: pdf.columns[i]):
        vals = list(pdf.iloc[:, i])
        if table is not None:
            col = table.column(i)
            if pa.types.is_integer(col.type):
                vals = col.to_pylist()
            elif col.null_count:
                vals = [None if n else v for v, n in zip(vals, col.is_null().to_pylist())]
        columns.append(vals)
    out = [tuple(norm(v, ndigits) for v in row) for row in zip(*columns)]
    return sorted(out, key=repr)


def compare(
    got: Result | pd.DataFrame, want: Result | pd.DataFrame, ndigits: int = 6
) -> str | None:
    """None when `got` matches `want`; otherwise why it does not. A bare
    frame (no Arrow table) cannot tell NULL from NaN."""
    got, gtab = got if isinstance(got, Result) else (got, None)
    want, wtab = want if isinstance(want, Result) else (want, None)
    gcols, wcols = sorted(got.columns), sorted(want.columns)
    if gcols != wcols:
        return f"columns {gcols} vs {wcols}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    gdt, wdt = got.dtypes, want.dtypes
    bad = [f"{c}: {gdt[c]} vs {wdt[c]}" for c in gcols if gdt[c].kind != wdt[c].kind]
    if bad:
        return "dtype kinds " + "; ".join(bad)
    for side, pdf in (("got", got), ("want", want)):
        for c in gcols:
            if pdf[c].dtype == object:
                cell = next((v for v in pdf[c] if isinstance(v, (list, dict, set))), None)
                if cell is not None:
                    return f"{side} {c}: unhashable {type(cell).__name__} cells"
    g, w = canon(got, ndigits, gtab), canon(want, ndigits, wtab)
    if g != w:
        a, b = next((a, b) for a, b in zip(g, w) if a != b)
        return f"values differ at {ndigits} dp: {a} vs {b}"
    return None


def check(spark, con, q, sf_dir: str, ndigits: int = 6) -> tuple[str | None, Result]:
    """Run query `q` once on each engine; `compare`'s verdict and Spark's rows.

    `con` must already hold the fixture views (`duck_views`). A query
    without oracle SQL is only executed (rows-only) and passes."""
    got = spark_result(q.fn(spark, sf_dir))
    if q.oracle is None:
        return None, got
    return compare(got, duck_result(con, q.oracle), ndigits), got
