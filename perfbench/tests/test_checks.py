"""The benchmark's output checks must accept right outputs and reject
corrupted ones; its generators must be deterministic in the seed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import gen  # noqa: E402
from workloads import make_fetcher  # noqa: E402


def _frame():
    return pd.DataFrame({"word": ["a", "b", "c"], "n": [3, 2, 1], "x": [0.5, 0.25, 0.125]})


def test_compare_frames_accepts_reordered_rows():
    got = _frame().iloc[::-1][["x", "word", "n"]]
    assert checks.compare_frames(got, _frame()) is None


@pytest.mark.parametrize("corrupt", [
    lambda d: d.assign(n=[3, 2, 2]),
    lambda d: d.iloc[:2],
    lambda d: d.rename(columns={"n": "cnt"}),
    lambda d: d.assign(n=d["n"].astype(float)),
    lambda d: d.assign(x=[0.5, 0.25, 0.126]),
])
def test_compare_frames_rejects_corruption(corrupt):
    assert checks.compare_frames(corrupt(_frame()), _frame()) is not None


def _windows():
    start = pd.to_datetime(["2024-01-01 00:00", "2024-01-01 00:05", "2024-01-01 00:10"])
    return pd.DataFrame({"wstart": start, "wend": start + pd.Timedelta(minutes=5),
                         "event_type": ["view"] * 3, "n": [4, 5, 6]})


def test_compare_stream_keeps_only_closed_windows():
    last = {"eventTime": {"watermark": "2024-01-01T00:10:00.000Z"}}
    batch = _windows()
    assert checks.compare_stream(batch.iloc[:2], batch, "wend", last) is None
    # a closed window missing from the sink, or a wrong count, is caught
    assert checks.compare_stream(batch.iloc[:1], batch, "wend", last) is not None
    bad = batch.iloc[:2].assign(n=[4, 50])
    assert checks.compare_stream(bad, batch, "wend", last) is not None


def _pubmed_output(tmp_path, articles, kw2_pmids):
    out = str(tmp_path / "out")
    t = pa.table({"pmid": [a[0] for a in articles], "abstract": ["x"] * len(articles),
                  "page_key": [a[1] for a in articles], "year": [2019] * len(articles)})
    pq.write_to_dataset(t, os.path.join(out, "articles"), partition_cols=["year"])
    os.makedirs(os.path.join(out, "keywords_v1"))
    pq.write_table(pa.table({"word": ["w"], "pmid": [articles[0][0]]}),
                   os.path.join(out, "keywords_v1", "part-0.parquet"))
    os.makedirs(os.path.join(out, "keywords_v2"))
    with open(os.path.join(out, "keywords_v2", "part-00000.csv"), "w") as f:
        f.writelines(f"{p},w,2019\n" for p in kw2_pmids)
    return out


def test_pubmed_check_accepts_and_rejects(tmp_path):
    expected = {"2019_1_num_0": 2, "2019_2_num_0": 1, "2019_3_num_0": 0}
    good = [("1", "2019_1_num_0"), ("2", "2019_1_num_0"), ("3", "2019_2_num_0")]
    out = _pubmed_output(tmp_path / "ok", good, ["1", "2", "3"])
    assert checks.check_pubmed_output(out, expected) is None
    # a resume that re-wrote a row
    dup = good + [("3", "2019_2_num_0")]
    out = _pubmed_output(tmp_path / "dup", dup, ["1", "2", "3"])
    assert checks.check_pubmed_output(out, {**expected, "2019_2_num_0": 2}) is not None
    # a retried page that never got its payload
    out = _pubmed_output(tmp_path / "lost", good[:2], ["1", "2"])
    assert checks.check_pubmed_output(out, expected) is not None
    # keywords_v2 missing an article
    out = _pubmed_output(tmp_path / "kw", good, ["1", "2"])
    assert checks.check_pubmed_output(out, expected) is not None


def test_generators_are_deterministic(tmp_path):
    a = gen.PubmedCorpus(5, 2019, 2019, 4, 2)
    b = gen.PubmedCorpus(5, 2019, 2019, 4, 2)
    c = gen.PubmedCorpus(6, 2019, 2019, 4, 2)
    assert a.digest() == b.digest() != c.digest()
    assert a.retry_urls == b.retry_urls
    digests = []
    for i, seed in enumerate((5, 5, 6)):
        d = str(tmp_path / str(i))
        gen.fixture_tables(d, seed, 0.0005)
        files = gen.event_chunks(d + "/stream", seed, 500, 3)
        digests.append(gen.file_digest(files + [os.path.join(d, "lineitem.parquet")]))
    assert digests[0] == digests[1] != digests[2]


class _Acc:
    def __init__(self):
        self.value = 0

    def add(self, v):
        self.value += v


def test_fetcher_retries_once_per_task():
    calls, retries, secs = _Acc(), _Acc(), _Acc()
    f = make_fetcher({"u1": "body1", "u2": "body2"}, frozenset({"u2"}),
                     gen.RETRY_BODY, calls, retries, secs)
    assert f("u1") == "body1"
    assert f("u2") == gen.RETRY_BODY
    assert f("u2") == "body2"
    assert (calls.value, retries.value) == (3, 1)
