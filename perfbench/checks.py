"""Output checks, run after the timed passes. Each returns None when the
output is right and a one-line reason when it is not."""

from __future__ import annotations

import datetime
import decimal
import glob
import json
import math
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.dataset as pads


def norm(v):
    """Canonical scalar for an order-insensitive compare: floats to 6 dp,
    timestamps to microseconds, containers element-wise."""
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return "nan" if math.isnan(f) else round(f, 6)
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, decimal.Decimal):
        return round(float(v), 6)
    if isinstance(v, (pd.Timestamp, datetime.datetime, datetime.date)):
        return str(v)[:26]
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    try:
        if pd.isna(v):
            return None
    except (TypeError, ValueError):
        pass
    return v


def canon(pdf: pd.DataFrame) -> list[tuple]:
    cols = sorted(pdf.columns)
    rows = [tuple(norm(v) for v in r) for r in pdf[cols].itertuples(index=False, name=None)]
    return sorted(rows, key=repr)


def compare_frames(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """Same column names, row count, values (as multisets) and dtype kinds."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    bad = [c for c in got.columns if got[c].dtype.kind != want[c].dtype.kind]
    if bad:
        return f"dtype kind differs on {bad}"
    if canon(got) != canon(want):
        return "values differ"
    return None


def duck_views(sf_dir: str, tables) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per fixture table under sf_dir."""
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(sf_dir, t)}.parquet')")
    return con


def progress_dict(p) -> dict:
    """A StreamingQueryProgress (object or dict, by PySpark version) as a dict."""
    return p if isinstance(p, dict) else json.loads(p.json)


def compare_stream(got: pd.DataFrame, batch: pd.DataFrame, end_col: str,
                   last_progress: dict) -> str | None:
    """An append-mode windowed sink must equal the job's batch form
    restricted to the windows the final watermark has closed."""
    wm = last_progress.get("eventTime", {}).get("watermark")
    if wm is None:
        return "no watermark in the last progress"
    cutoff = pd.Timestamp(wm).tz_convert("UTC").tz_localize(None)
    batch = batch[batch[end_col] <= cutoff]
    if len(batch) == 0:
        return "batch form has no closed windows to compare"
    return compare_frames(got, batch)


def read_parquet_dir(path: str) -> pd.DataFrame:
    """A Spark parquet output directory as pandas (metadata files skipped)."""
    return pads.dataset(path, format="parquet").to_table().to_pandas()


def _csv_rows(path: str) -> list[str]:
    """First column of every headerless CSV part file under path."""
    pmids: list[str] = []
    for f in sorted(glob.glob(os.path.join(path, "part-*"))):
        if os.path.getsize(f) == 0:
            continue
        t = pacsv.read_csv(
            f, read_options=pacsv.ReadOptions(autogenerate_column_names=True),
            convert_options=pacsv.ConvertOptions(column_types={"f0": pa.string()}))
        pmids.extend(t.column("f0").to_pylist())
    return pmids


def check_pubmed_output(out: str, expected_by_page: dict[str, int]) -> str | None:
    """After a fresh run and a resume on `out`:

    * articles hold exactly the generated articles that have an abstract,
      page by page (so every retried page ended with a payload), with no
      duplicate pmid (so the resume wrote nothing);
    * keywords_v2 has one row per article, keywords_v1 only known pmids.
    """
    arts = pads.dataset(os.path.join(out, "articles"), format="parquet",
                        partitioning="hive").to_table(columns=["pmid", "page_key"])
    pmids = arts.column("pmid").to_pylist()
    if len(pmids) != sum(expected_by_page.values()):
        return f"articles rows {len(pmids)} != {sum(expected_by_page.values())}"
    if len(set(pmids)) != len(pmids):
        return f"{len(pmids) - len(set(pmids))} duplicate pmids in articles"
    by_page = pd.Series(arts.column("page_key").to_pylist()).value_counts().to_dict()
    want = {k: v for k, v in expected_by_page.items() if v}
    if by_page != want:
        diff = sorted(set(by_page.items()) ^ set(want.items()))[:3]
        return f"articles per page differ, e.g. {diff}"
    kw2 = _csv_rows(os.path.join(out, "keywords_v2"))
    if sorted(kw2) != sorted(pmids):
        return f"keywords_v2 rows {len(kw2)} do not match {len(pmids)} articles"
    kw1 = pads.dataset(os.path.join(out, "keywords_v1"), format="parquet").to_table(
        columns=["pmid"]).column("pmid").to_pylist()
    if not kw1 or not set(kw1) <= set(pmids):
        return "keywords_v1 is empty or names unknown pmids"
    return None
