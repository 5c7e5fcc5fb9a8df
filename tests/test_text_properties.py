"""Property-based checks for the text pipeline (SURVEY.md §5 item 3).

Hypothesis drives arbitrary (including adversarial unicode) inputs
through the text functions in one Spark job per example batch: cleaning idempotence, tokenizer shape, stopword-filter and
dedup set invariants. Batching examples into a single DataFrame keeps
the suite fast (one Spark action per property, not per example).
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from mrc_spark_jobs_pubmed_spark.functions import text as X
from mrc_spark_jobs_pubmed_spark.functions.stopwords import STOPWORDS

texts = st.lists(st.text(max_size=80), min_size=1, max_size=25)


def _frame(spark, samples):
    return spark.createDataFrame([(s,) for s in samples], ["raw"])


def _tokens(spark, samples):
    """The samples' cleaned tokens, as column `toks`."""
    return _frame(spark, samples).select(X.clean_tokens("raw").alias("toks"))


@settings(max_examples=15, deadline=None)
@given(texts)
def test_clean_text_is_idempotent_and_lowercase_alpha(spark, samples):
    once = _frame(spark, samples).select(X.clean_text("raw").alias("once"))
    rows = once.select("once", X.clean_text("once").alias("twice")).collect()
    for r in rows:
        assert r.once == r.twice  # applying the cleaner again changes nothing
        assert all(c.isalpha() or c == " " for c in r.once)
        assert r.once == r.once.lower()
        assert r.once == r.once.strip()


@settings(max_examples=15, deadline=None)
@given(texts)
def test_tokenize_has_no_empty_or_space_tokens(spark, samples):
    cleaned = _frame(spark, samples).select(X.clean_text("raw").alias("c"))
    rows = cleaned.select(X.tokenize("c").alias("toks")).collect()
    for r in rows:
        assert all(t and " " not in t for t in r.toks)


@settings(max_examples=15, deadline=None)
@given(texts)
def test_stopword_filter_is_subset_and_stopword_free(spark, samples):
    rows = _tokens(spark, samples).select("toks", X.remove_stopwords("toks").alias("kept")).collect()
    sw = set(STOPWORDS)
    for r in rows:
        assert set(r.kept) <= set(r.toks)
        assert not set(r.kept) & sw
        # array_except output carries Python-set semantics (A23/A24)
        assert len(r.kept) == len(set(r.kept))


@settings(max_examples=15, deadline=None)
@given(texts)
def test_distinct_tokens_is_set_and_order_preserving(spark, samples):
    rows = _tokens(spark, samples).select("toks", X.distinct_tokens("toks").alias("d")).collect()
    for r in rows:
        assert len(r.d) == len(set(r.d))
        assert set(r.d) == set(r.toks)
        # first-occurrence order (the reference's dict/set iteration order)
        seen = [t for i, t in enumerate(r.toks) if t not in r.toks[:i]]
        assert r.d == seen


# --- duplicate-span coverage: property check vs brute force -----------------

# Small vocab forces real cross-doc span collisions; docs are token lists.
_span_docs = st.lists(
    st.lists(st.sampled_from(list("abcd")), min_size=0, max_size=30),
    min_size=2,
    max_size=6,
)


def _brute_span_coverage(docs: list[list[str]], w: int) -> dict[int, tuple[int, int]]:
    """Reference implementation: mark every token index covered by a
    W-gram that appears (at any position) in a DIFFERENT doc; report
    (dup_spans, dup_tokens) per doc id."""
    grams: dict[tuple, set[int]] = {}
    for d, toks in enumerate(docs):
        for i in range(len(toks) - w + 1):
            grams.setdefault(tuple(toks[i : i + w]), set()).add(d)
    out = {}
    for d, toks in enumerate(docs):
        covered: set[int] = set()
        spans = 0
        for i in range(len(toks) - w + 1):
            if len(grams[tuple(toks[i : i + w])]) > 1:
                spans += 1
                covered.update(range(i, i + w))
        out[d] = (spans, len(covered))
    return out


@settings(max_examples=15, deadline=None)
@given(_span_docs)
def test_span_coverage_matches_brute_force(spark, docs):
    from mrc_spark_jobs_pubmed_spark.operators.dedup import SPAN_W, span_coverage

    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.dup_spans, r.dup_tokens, r.n_tokens)
        for r in span_coverage(df).collect()
    }
    want = _brute_span_coverage(docs, SPAN_W)
    assert set(got) == set(range(len(docs)))
    for d, toks in enumerate(docs):
        spans, dup_tokens, n_tokens = got[d]
        assert n_tokens == len(toks)
        assert (spans, dup_tokens) == want[d], f"doc {d}: {got[d]} vs {want[d]}"
