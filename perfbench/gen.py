"""Seeded input generators for the benchmark.

Every workload input is made here from the run's seed, so the engine only
ever sees generated files and the same seed always gives the same bytes:

* `fixture_tables`: the ten fixture tables (TPC-H-ish star schema,
  `events`, `documents`, `embeddings`) with the schemas and value
  distributions of the engine's test fixtures, at a chosen row scale;
* `PubmedCorpus`: synthetic PubMed months and NDJSON pages behind the
  pipeline's `search` / `fetcher` seams;
* `event_chunks`: the events table split in event-time order into files
  for a file-source stream replay.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "en", "en", "es", "fr", "zh")
DOC_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

US_PER_DAY = 86_400_000_000
EPOCH_1995 = 9131 * US_PER_DAY  # 1995-01-01
EPOCH_2024 = 19723 * US_PER_DAY  # 2024-01-01


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def fixture_tables(dst: str, seed: int, scale: float) -> None:
    """Write the ten fixture tables under `dst` at `scale` (1.0 = sf1 row
    counts: 6M lineitem rows)."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(dst, exist_ok=True)
    n_cust = max(int(150_000 * scale), 10)
    n_supp = max(int(10_000 * scale), 5)
    n_part = max(int(200_000 * scale), 10)
    n_ord = max(int(1_500_000 * scale), 20)
    n_li = n_ord * 4
    n_ev = max(int(1_000_000 * scale), 100)
    n_doc = max(int(50_000 * scale), 20)
    n_emb = max(int(20_000 * scale), 20)

    def put(name: str, cols: dict, rg: int | None = None) -> None:
        pq.write_table(pa.table(cols), os.path.join(dst, f"{name}.parquet"), row_group_size=rg)

    put("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    put("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    put("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    put("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    names = np.char.add(
        np.char.add(np.array(PART_ADJ)[rng.integers(0, 8, n_part)], " "),
        np.array(PART_NOUN)[rng.integers(0, 8, n_part)],
    )
    put("part", {
        "p_partkey": pk,
        "p_name": names,
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    })
    odate = EPOCH_1995 + rng.integers(0, 2404, n_ord) * US_PER_DAY
    put("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(("F", "O", "P"))[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(odate),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    flags = rng.integers(0, 6, n_li)
    put("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_li, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(("A", "N", "R"))[flags % 3],
        "l_linestatus": np.array(("F", "O"))[flags % 2],
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2500, n_li) * US_PER_DAY),
    }, rg=max(n_li // 4, 1))
    put("events", events_columns(rng, n_ev))
    put("documents", documents_columns(rng, n_doc))
    emb = rng.normal(size=(n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb, dtype=np.int32),
    })


def events_columns(rng: np.random.Generator, n: int) -> dict:
    """`n` events over 30 days from 2024-01-01, ids in event-time order,
    timestamps distinct."""
    span = 30 * US_PER_DAY
    ts = np.sort(rng.choice(span, n, replace=False)) + EPOCH_2024
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, max(n // 66, 2), n, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }


def documents_columns(rng: np.random.Generator, n: int) -> dict:
    lens = rng.integers(10, 101, n)
    words = np.array(DOC_WORDS)[rng.integers(0, len(DOC_WORDS), int(lens.sum()))]
    text, pos = [], 0
    for ln in lens:
        text.append(" ".join(words[pos:pos + ln]))
        pos += ln
    # a few exact duplicates, as in the fixtures, so dedup has work
    for i in rng.choice(n, max(n // 500, 1), replace=False):
        text[i] = text[(i + 1) % n]
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
        "source": np.char.add("src", rng.integers(0, 20, n).astype(str)),
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    }


def event_chunks(dst: str, seed: int, n_events: int, n_files: int) -> list[str]:
    """Split a seeded events table in event-time order into `n_files`
    parquet files under `dst` (file names sort in event-time order, so the
    file source replays them oldest first). One event in 200 is delivered
    twice within its file, as a source that redelivers would."""
    rng = np.random.default_rng([seed, 2])
    cols = events_columns(rng, n_events)
    t = pa.table(cols)
    dup = np.sort(rng.choice(n_events, n_events // 200, replace=False))
    order = np.sort(np.concatenate([np.arange(n_events), dup]), kind="stable")
    t = t.take(pa.array(order))
    os.makedirs(dst, exist_ok=True)
    bounds = np.linspace(0, t.num_rows, n_files + 1).astype(int)
    paths = []
    for i in range(n_files):
        p = os.path.join(dst, f"events-{i:04d}.parquet")
        pq.write_table(t.slice(bounds[i], bounds[i + 1] - bounds[i]), p)
        paths.append(p)
    return paths


# --- synthetic PubMed behind the pipeline's search / fetcher seams ---------

PUBMED_VOCAB_SIZE = 3000
STOPWORDS = ("the", "a", "of", "in", "and", "to", "with", "for", "on", "is", "was", "were")
RETRY_BODY = "API rate limit exceeded"


def _vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    syll = ("ca", "ne", "ro", "ti", "mo", "la", "ser", "pha", "gen", "cyt", "lin",
            "ost", "ur", "em", "vi", "dro", "pan", "kin", "ase", "ol")
    words: set[str] = set()
    while len(words) < size:
        k = int(rng.integers(2, 5))
        words.add("".join(syll[j] for j in rng.integers(0, len(syll), k)))
    base = sorted(words)
    out = []
    for i, w in enumerate(base):
        # plurals and verb forms, so lemmatisation has work
        out.append(w + ("s" if i % 5 == 1 else "ed" if i % 5 == 2 else "ing" if i % 5 == 3 else ""))
    return out


class PubmedCorpus:
    """Seeded PubMed months: `search(year, month)` gives (url, total) for
    the pipeline's work table, `page(url)` the NDJSON body the fetcher
    serves. Everything is precomputed, so the fetcher closure is a dict
    lookup plus a retry counter and never imports this module."""

    def __init__(self, seed: int, begin_year: int, end_year: int,
                 articles_per_page: int, retry_pages: int):
        rng = np.random.default_rng([seed, 3])
        vocab = _vocabulary(rng, PUBMED_VOCAB_SIZE)
        weights = 1.0 / np.arange(1, len(vocab) + 1)
        weights /= weights.sum()
        self.months: dict[tuple[int, int], tuple[str, int]] = {}
        self.pages: dict[str, str] = {}
        self.abstract_rows: dict[str, int] = {}  # page_key -> rows with abstract
        pmid = int(rng.integers(10_000_000, 20_000_000))
        # 1 to 3 pages a month, shuffled, so every seed has the same number
        # of pages (two a month on average) and so the same amount of work
        n_months = 12 * (end_year - begin_year + 1)
        month_pages = iter(rng.permutation(np.arange(n_months) % 3 + 1))
        for year in range(begin_year, end_year + 1):
            for month in range(1, 13):
                n_pages = int(next(month_pages))
                total = (n_pages - 1) * 10_000 + int(rng.integers(1, 10_000))
                url = f"synthetic://efetch?year={year}&month={month}"
                self.months[(year, month)] = (url, total)
                for p in range(n_pages):
                    offset = p * 10_000
                    lines, with_abs = [], 0
                    for _ in range(articles_per_page):
                        pmid += 1
                        if rng.random() < 0.1:
                            rec = {"pmid": str(pmid), "medent": {}}
                        else:
                            n_words = int(rng.integers(20, 80))
                            toks = rng.choice(len(vocab), n_words, p=weights)
                            stops = rng.integers(0, len(STOPWORDS), n_words // 3)
                            words = [vocab[t] for t in toks] + [STOPWORDS[s] for s in stops]
                            rng.shuffle(words)
                            rec = {"pmid": str(pmid),
                                   "medent": {"abstract": " ".join(words).capitalize() + "."}}
                            with_abs += 1
                        lines.append(json.dumps(rec))
                    page_url = f"{url}&retstart={offset}"
                    self.pages[page_url] = "\n".join(lines)
                    self.abstract_rows[f"{year}_{month}_num_{offset}"] = with_abs
        keys = sorted(self.pages)
        pick = rng.choice(len(keys), min(retry_pages, len(keys)), replace=False)
        self.retry_urls = frozenset(keys[i] for i in pick)

    def search(self, year: int, month: int) -> tuple[str, int]:
        return self.months[(year, month)]

    def digest(self) -> str:
        h = hashlib.sha256()
        for k in sorted(self.pages):
            h.update(k.encode())
            h.update(self.pages[k].encode())
        return h.hexdigest()


def file_digest(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()
