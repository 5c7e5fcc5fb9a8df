"""Differential oracle harness: every registered query vs DuckDB at sf0.01.

Each query runs once per engine and is judged by `oracle.compare`, the
same contract `scripts/driver_check.py` applies: sorted column names,
row count, dtype-kind parity, no unhashable cells, and order-insensitive
values at 6 dp. A regression fails here before the sweep runs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from mrc_spark_jobs_pubmed_spark import oracle, plans
from tests.conftest import SF_ORACLE


@pytest.mark.parametrize("name", sorted(plans.all_queries()))
def test_query_matches_oracle(spark, duck, name):
    q = plans.all_queries()[name]
    verdict, _ = oracle.check(spark, oracle.duck_views(duck, SF_ORACLE), q, SF_ORACLE)
    assert verdict is None, f"{name}: {verdict}"


def test_compare_contract():
    """`compare` without Spark: the cases a value-only compare misses."""
    base = pd.DataFrame({"k": [1, 2], "v": [0.5, float("nan")]})
    assert oracle.compare(base, base.iloc[::-1].reset_index(drop=True)) is None
    assert oracle.compare(base, base.copy()) is None  # NaN matches NaN

    ints, floats = pd.DataFrame({"n": [5]}), pd.DataFrame({"n": [5.0]})
    assert oracle.canon(ints) == oracle.canon(floats)  # same values...
    assert "dtype kinds" in oracle.compare(ints, floats)  # ...still rejected
    assert "columns" in oracle.compare(base, base.rename(columns={"k": "key"}))
    ab = pd.DataFrame({"a": [1], "b": [2]})
    assert "values" in oracle.compare(ab, ab.rename(columns={"a": "b", "b": "a"}))
    assert "rows" in oracle.compare(base, base.iloc[:1])
    assert "values" in oracle.compare(
        pd.DataFrame({"x": [0.1234560]}), pd.DataFrame({"x": [0.1234660]})
    )
    listy = pd.DataFrame({"a": [[1, 2]]})
    assert "unhashable list" in oracle.compare(listy, listy)
    arrays = pd.DataFrame({"a": [np.array([1, 2])]})
    assert oracle.compare(arrays, arrays) is None

    one_ulp = pd.DataFrame({"x": [0.1 + 0.2]})
    exact = pd.DataFrame({"x": [0.3]})
    assert oracle.compare(one_ulp, exact) is None
    assert "values" in oracle.compare(one_ulp, exact, ndigits=17)

    # pandas shows NULL and NaN alike and widens nullable ints to float64;
    # with the Arrow table each frame came from, neither is lost
    def result(**cols):
        table = pa.table(cols)
        return oracle.Result(table.to_pandas(), table)

    null, nan = result(x=pa.array([None], pa.float64())), result(x=pa.array([float("nan")]))
    assert oracle.compare(null.frame, nan.frame) is None
    assert "values" in oracle.compare(null, nan)
    assert oracle.compare(null, null) is None and oracle.compare(nan, nan) is None
    big, near = result(n=[2**53 + 1, None]), result(n=[2**53, None])
    assert big.frame.dtypes["n"] == np.float64
    assert oracle.compare(big.frame, near.frame) is None
    assert "values" in oracle.compare(big, near)


def test_survey_rows_all_backed():
    """VERDICT r5 item 7: every SURVEY.md §2 row must map to >=1 registered
    query (or an existing pytest file, for sink/source/streaming-twin
    components whose contract is unit/replay tests). Parsed from SURVEY.md
    so a new survey row cannot land without its operator, and a renamed
    query cannot orphan a survey row."""
    import os

    from mrc_spark_jobs_pubmed_spark.plans.survey_map import SURVEY_MAP

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    lines = open(os.path.join(repo, "SURVEY.md")).read().splitlines()
    start = next(i for i, l in enumerate(lines) if l.startswith("## 2."))
    end = next(i for i, l in enumerate(lines) if l.startswith("## 3."))
    headers = {"#", "Operator", "Op", "Family", "Kind"}
    rows = []
    for l in lines[start:end]:
        if not l.startswith("|"):
            continue
        first = l.strip("|").split("|")[0].strip()
        if not first or first in headers or set(first) <= set("- :"):
            continue
        rows.append(first)
    assert len(rows) >= 242, f"SURVEY §2 shrank? parsed {len(rows)} rows"

    registered = set(plans.all_queries())
    missing_map = [r for r in rows if r not in SURVEY_MAP]
    assert not missing_map, f"SURVEY §2 rows with no map entry: {missing_map}"
    for label, backing in SURVEY_MAP.items():
        if isinstance(backing, str):
            assert backing.startswith("pytest:"), f"{label}: bad marker {backing}"
            path = backing.split(":", 1)[1]
            assert os.path.exists(os.path.join(repo, path)), (
                f"{label}: pytest marker file {path} missing"
            )
        else:
            assert backing, f"{label}: empty query list"
            unknown = [q for q in backing if q not in registered]
            assert not unknown, f"{label}: unregistered queries {unknown}"
    # map hygiene: no stale entries for rows that left the survey
    stale = [k for k in SURVEY_MAP if k not in set(rows)]
    assert not stale, f"survey_map entries with no SURVEY §2 row: {stale}"
