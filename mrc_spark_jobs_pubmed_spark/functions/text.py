"""Text pipeline as native Catalyst column expressions.

The reference runs its entire text pipeline inside opaque Python closures
per file (word_count.py:41-65): regex cleans, lowercase, split, stopword
set-difference, per-abstract dedup, lemmatize. Here each step is a
composable ``Column`` expression — JVM-side, whole-stage-codegen'd,
pushdown-friendly — mirroring SURVEY.md §2 A13-A25.

Lemmatization (A20/A21) is the one step with no Spark built-in. The engine
ships a rule-table noun lemmatizer defined ONCE as data (`LEMMA_IRREGULAR`
+ `LEMMA_SUFFIX_RULES`) and compiled two ways:

* `lemmatize_token_col()` — a Spark ``Column`` (CASE WHEN chain), so the
  hot path never crosses into Python; and
* `lemma_sql()` — the equivalent ANSI-SQL CASE expression, so the DuckDB
  correctness oracle runs the *same* rules.

When NLTK is installed, `lemmatize_tokens(..., use_nltk=True)` swaps in a
WordNet pandas_udf behind the same interface (Arrow-batched, never
row-at-a-time). Rule coverage targets the reference's golden example
(spark-pubmed-word-count/README.md:4-15: publications→publication,
men→man) plus common English noun suffixes; divergence from full WordNet
is documented, deliberate, and oracle-consistent.
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mrc_spark_jobs_pubmed_spark.functions.stopwords import MRC_STOPWORDS, STOPWORDS

# --- cleaning (A13-A16) ----------------------------------------------------

# (pattern, replacement) applied in the reference's order. After the first
# pass only [a-zA-Z ] remains, so the HTML-entity pass is a no-op kept for
# pipeline-shape parity (word_count.py:52-58).
CLEAN_PASSES: tuple[tuple[str, str], ...] = (
    ("[^a-zA-Z]", " "),
    ("&lt;/?.*?&gt;", " &lt;&gt; "),
    ("(\\d|\\W)+", " "),
)


def clean_text(col: Column) -> Column:
    """Strip punctuation/digits, lowercase — A13, A14, A15, A16."""
    out = F.regexp_replace(col, CLEAN_PASSES[0][0], CLEAN_PASSES[0][1])
    out = F.lower(out)
    for pat, repl in CLEAN_PASSES[1:]:
        out = F.regexp_replace(out, pat, repl)
    return F.trim(out)


def clean_text_sql(expr: str) -> str:
    """DuckDB SQL mirror of `clean_text` (DuckDB needs the 'g' flag)."""
    out = f"regexp_replace({expr}, '[^a-zA-Z]', ' ', 'g')"
    out = f"lower({out})"
    out = f"regexp_replace({out}, '&lt;/?.*?&gt;', ' &lt;&gt; ', 'g')"
    out = f"regexp_replace({out}, '(\\d|\\W)+', ' ', 'g')"
    return f"trim({out})"


# --- tokenize (A17) --------------------------------------------------------


def tokenize(col: Column) -> Column:
    """Whitespace tokenizer → array<string>, empty tokens dropped.

    One codegen'd `regexp_extract_all('\\S+')` pass — value-identical to
    split-then-drop-empties without the interpreted `filter` lambda."""
    return F.regexp_extract_all(col, F.lit(r"\S+"), F.lit(0))


# --- stopwords (A23) / dedup (A24) ----------------------------------------


def remove_stopwords(col: Column, stopwords: Sequence[str] = STOPWORDS) -> Column:
    """Set-difference against the stopword list.

    `array_except` also deduplicates, matching the reference's Python-set
    semantics (word_count.py:61). The list travels as an array literal —
    Catalyst constant, shipped once per plan, not per closure.
    """
    return F.array_except(col, F.array(*[F.lit(w) for w in stopwords]))


def distinct_tokens(col: Column) -> Column:
    return F.array_distinct(col)


# --- lemmatizer (A20/A21): one rule table, two backends --------------------

# Irregular plurals (noun-default, as the reference's v1 lemmatizer).
LEMMA_IRREGULAR: tuple[tuple[str, str], ...] = (
    ("men", "man"),
    ("women", "woman"),
    ("children", "child"),
    ("feet", "foot"),
    ("teeth", "tooth"),
    ("mice", "mouse"),
    ("geese", "goose"),
    ("lives", "life"),
    ("wives", "wife"),
    ("knives", "knife"),
)

# Words ending in s that ARE lemmas — never stripped.
LEMMA_KEEP: tuple[str, ...] = (
    "series",
    "species",
    "diabetes",
    "news",
    "lens",
    "analysis",
    "basis",
    "thesis",
    "crisis",
    "virus",
)

# Ordered suffix rules: (match_regex, strip_regex, replacement, min_len).
LEMMA_SUFFIX_RULES: tuple[tuple[str, str, str, int], ...] = (
    ("ies$", "ies$", "y", 5),  # studies → study
    ("sses$", "es$", "", 5),  # classes → class
    ("(sh|ch|x|z)es$", "es$", "", 5),  # branches → branch, boxes → box
    ("[^su]s$", "s$", "", 4),  # publications → publication; keeps -ss/-us
)


def lemmatize_token_col(tok: Column) -> Column:
    """Compile the rule table to a Catalyst CASE WHEN chain over one token."""
    expr = None
    for plural, singular in LEMMA_IRREGULAR:
        cond = tok == F.lit(plural)
        expr = F.when(cond, F.lit(singular)) if expr is None else expr.when(cond, F.lit(singular))
    keep = tok.isin(*LEMMA_KEEP)
    expr = expr.when(keep, tok)
    for match, strip, repl, min_len in LEMMA_SUFFIX_RULES:
        cond = tok.rlike(match) & (F.length(tok) >= min_len)
        expr = expr.when(cond, F.regexp_replace(tok, strip, repl))
    return expr.otherwise(tok)


def lemma_sql(expr: str) -> str:
    """The SAME rule table as ANSI SQL (DuckDB oracle mirror)."""
    parts = ["CASE"]
    for plural, singular in LEMMA_IRREGULAR:
        parts.append(f"WHEN {expr} = '{plural}' THEN '{singular}'")
    keep_list = ", ".join(f"'{w}'" for w in LEMMA_KEEP)
    parts.append(f"WHEN {expr} IN ({keep_list}) THEN {expr}")
    for match, strip, repl, min_len in LEMMA_SUFFIX_RULES:
        parts.append(
            f"WHEN regexp_matches({expr}, '{match}') AND length({expr}) >= {min_len} "
            f"THEN regexp_replace({expr}, '{strip}', '{repl}')"
        )
    parts.append(f"ELSE {expr} END")
    return " ".join(parts)


def lemmatize_tokens(col: Column, use_nltk: bool = False, lemmatizer_factory=None) -> Column:
    """Lemmatize an array<string> column, noun-default (A20).

    Default backend is the pure-Column rule table (JVM-side, codegen).
    `use_nltk=True` switches to a WordNet pandas_udf when nltk is present —
    the vectorized seam the reference needed but ran row-at-a-time with a
    per-task corpus download (word_count.py:70-71, bug B6).
    `lemmatizer_factory` injects an alternative lemmatizer backend into
    that seam (tests use a fake built from the engine's own rule table).
    """
    if use_nltk or lemmatizer_factory is not None:
        return _nltk_lemmatize_udf(lemmatizer_factory)(col)
    return F.transform(col, lemmatize_token_col)


def _lemmatize_batch(s, lemmatize_word):
    """Arrow-batch kernel for the plain-lemma seam: one pandas Series of
    token arrays in, one out, None rows preserved. Factored out of the
    pandas_udf closure so the seam's batching/schema contract is testable
    with an injected fake lemmatizer (no nltk in this container)."""
    return s.map(
        lambda toks: [lemmatize_word(t) for t in toks] if toks is not None else None
    )


def _nltk_lemmatize_udf(lemmatizer_factory=None):
    """WordNet-lemma pandas_udf. `lemmatizer_factory` is the DI seam: any
    zero-arg callable returning an object with `.lemmatize(word)` — the
    default is nltk's WordNetLemmatizer, tests inject a fake."""
    if lemmatizer_factory is None:
        try:
            from nltk.stem import WordNetLemmatizer
        except ImportError as exc:  # pragma: no cover - nltk absent in this env
            raise ImportError("nltk not installed; use the rule-table backend") from exc
        lemmatizer_factory = WordNetLemmatizer

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _lemmatize(s: pd.Series) -> pd.Series:
        lem = lemmatizer_factory()  # once per Arrow batch, not per row
        return _lemmatize_batch(s, lem.lemmatize)

    return _lemmatize


# --- POS tagging (A18) + Penn→WordNet map (A19) + tagged lemmas (A21) ------
#
# The reference v2 job tags each token with nltk.pos_tag, maps the Penn
# tag to a WordNet class, and lemmatizes with that class
# (extract-keywords-from-abstracts/extract_keywords_from_all_abstracts.py:
# 52-79). The engine compiles the same three stages to Catalyst Column
# expressions: a suffix-heuristic tagger (adverb/verb/adjective/noun), the
# Penn→WordNet map as data, and per-class detachment rules in the style of
# WordNet's morphy (strip -ing/-ed with e-restoration for verbs; identity
# for adjectives/adverbs whose tagged suffixes are already lemma forms;
# the existing noun rule table otherwise). When nltk is installed the
# real pos_tag+WordNet path is available behind the same interface
# (`use_nltk=True`). Divergence from full WordNet (no lexicon lookup) is
# deliberate and oracle-consistent: the DuckDB SQL mirror is generated
# from the SAME rule tables.

# The reference's Penn→WordNet mapping (A19), verbatim as data:
# J*→adjective, V*→verb, N*→noun, R*→adverb, else no tag.
PENN_TO_WORDNET: tuple[tuple[str, str], ...] = (
    ("J", "a"),
    ("V", "v"),
    ("N", "n"),
    ("R", "r"),
)


def penn_to_wordnet(tag: str) -> str | None:
    """Python form of the A19 map, used by the nltk pandas_udf seam."""
    for prefix, wn in PENN_TO_WORDNET:
        if tag.startswith(prefix):
            return wn
    return None


# Suffix-heuristic POS classes on cleaned lowercase tokens (A18): adverb,
# verb, adjective. Ordered; first match wins; a token matching none is a
# noun and falls through to the plain lemmatizer, so the POS path strictly
# refines it (see `lemmatize_token_pos_col`).
POS_SUFFIX_RULES: tuple[tuple[str, str], ...] = (
    ("ly$", "r"),
    ("(ing|ed)$", "v"),
    ("(ous|ive|able|ible|ful|less|ic|ical|al)$", "a"),
)


# Irregular verb forms (exact match, checked before any suffix rule).
# Includes -ire/-use/-op stems the detachment rules cannot resolve
# without a lexicon (required/caused/developed).
VERB_IRREGULAR: tuple[tuple[str, str], ...] = (
    ("found", "find"),
    ("made", "make"),
    ("given", "give"),
    ("taken", "take"),
    ("seen", "see"),
    ("shown", "show"),
    ("done", "do"),
    ("known", "know"),
    ("chosen", "choose"),
    ("driven", "drive"),
    ("grown", "grow"),
    ("drawn", "draw"),
    ("written", "write"),
    ("begun", "begin"),
    ("became", "become"),
    ("went", "go"),
    ("held", "hold"),
    ("kept", "keep"),
    ("led", "lead"),
    ("left", "leave"),
    ("lost", "lose"),
    ("met", "meet"),
    ("paid", "pay"),
    ("said", "say"),
    ("built", "build"),
    ("brought", "bring"),
    ("bought", "buy"),
    ("thought", "think"),
    ("taught", "teach"),
    ("caught", "catch"),
    ("died", "die"),
    ("dying", "die"),
    ("lying", "lie"),
    ("tying", "tie"),
    ("underlying", "underlie"),
    ("caused", "cause"),
    ("causing", "cause"),
    ("developed", "develop"),
    ("developing", "develop"),
    ("required", "require"),
    ("requiring", "require"),
    ("acquired", "acquire"),
    ("controlled", "control"),
    ("controlling", "control"),
    ("labelled", "label"),
    ("labelling", "label"),
)

# Words that end in -ing/-ed but are not inflected verbs (nouns, function
# words, -ed adjectives) — never stripped.
VERB_KEEP: tuple[str, ...] = (
    "morning",
    "evening",
    "something",
    "anything",
    "everything",
    "nothing",
    "spring",
    "string",
    "thing",
    "king",
    "ring",
    "wing",
    "sibling",
    "meaning",
    "infrared",
    "sacred",
    "hundred",
    "unchanged",
)

# Ordered verb detachment rules (match/strip regex, replacement, min token
# length). Anchored patterns → at most one replacement site, so Spark
# (replace-all, $1) and DuckDB (RE2, \1) behave identically; RE2 has no
# pattern backreferences, so doubled consonants are enumerated per letter.
VERB_SUFFIX_RULES: tuple[tuple[str, str, int], ...] = (
    ("ied$", "y", 5),  # studied → study
    *[(f"{c}{c}(ing|ed)$", c, 6) for c in "bdgkmnprt"],  # running → run
    ("eating$", "eat", 7),  # treating → treat
    ("eated$", "eat", 6),  # repeated → repeat
    ("easing$", "ease", 8),  # increasing → increase
    ("eased$", "ease", 7),  # decreased → decrease
    ("ating$", "ate", 6),  # evaluating → evaluate
    ("ated$", "ate", 5),  # associated → associate
    ("([^aeiou])iling$", "$1ile", 7),  # profiling → profile (failing → fail)
    ("([^aeiou])iled$", "$1ile", 6),  # compiled → compile (failed → fail)
    ("([^aeiouy][vcg])ing$", "$1e", 7),  # observing → observe
    ("([^aeiouy][vcg])ed$", "$1e", 6),  # experienced → experience
    ("([^aeiou][aeiouy][^aeiouwxyl])ing$", "$1e", 6),  # making → make
    ("([^aeiou][aeiouy][^aeiouwxyl])ed$", "$1e", 5),  # compared → compare
    ("ing$", "", 6),  # learning → learn, modeling → model
    ("([^e])ed$", "$1", 5),  # performed → perform (speed/agreed kept)
)


def _verb_lemma_col(tok: Column) -> Column:
    """Verb detachment chain as a Column (irregulars handled by caller)."""
    expr = None
    for pat, repl, min_len in VERB_SUFFIX_RULES:
        cond = tok.rlike(pat) & (F.length(tok) >= min_len)
        out = F.regexp_replace(tok, pat, repl)
        expr = F.when(cond, out) if expr is None else expr.when(cond, out)
    return expr.otherwise(tok)


def _verb_lemma_sql(expr: str) -> str:
    parts = ["CASE"]
    for pat, repl, min_len in VERB_SUFFIX_RULES:
        duck_repl = repl.replace("$1", "\\1")
        parts.append(
            f"WHEN regexp_matches({expr}, '{pat}') AND length({expr}) >= {min_len} "
            f"THEN regexp_replace({expr}, '{pat}', '{duck_repl}')"
        )
    parts.append(f"ELSE {expr} END")
    return " ".join(parts)


def lemmatize_token_pos_col(tok: Column) -> Column:
    """POS-aware lemmatizer for one token (A21), pure Column.

    Structure mirrors the reference's tagged path: classify (A18), map
    to a WordNet class (A19 — encoded in the branch order below), then
    lemmatize per class: adverbs/adjectives are identity (their tagged
    suffixes are lemma forms), verbs run the detachment rules, nouns run
    the existing rule table.
    """
    expr = None
    for word, lemma in VERB_IRREGULAR:
        cond = tok == F.lit(word)
        expr = F.when(cond, F.lit(lemma)) if expr is None else expr.when(cond, F.lit(lemma))
    expr = expr.when(tok.isin(*VERB_KEEP), tok)
    expr = expr.when(tok.rlike(POS_SUFFIX_RULES[0][0]), tok)  # 'r': identity
    expr = expr.when(tok.rlike(POS_SUFFIX_RULES[1][0]), _verb_lemma_col(tok))
    expr = expr.when(tok.rlike(POS_SUFFIX_RULES[2][0]), tok)  # 'a': identity
    return expr.otherwise(lemmatize_token_col(tok))


def lemma_pos_sql(expr: str) -> str:
    """The SAME POS-aware lemmatizer as ANSI SQL (DuckDB oracle mirror)."""
    parts = ["CASE"]
    for word, lemma in VERB_IRREGULAR:
        parts.append(f"WHEN {expr} = '{word}' THEN '{lemma}'")
    keep_list = ", ".join(f"'{w}'" for w in VERB_KEEP)
    parts.append(f"WHEN {expr} IN ({keep_list}) THEN {expr}")
    parts.append(f"WHEN regexp_matches({expr}, '{POS_SUFFIX_RULES[0][0]}') THEN {expr}")
    parts.append(
        f"WHEN regexp_matches({expr}, '{POS_SUFFIX_RULES[1][0]}') "
        f"THEN {_verb_lemma_sql(expr)}"
    )
    parts.append(f"WHEN regexp_matches({expr}, '{POS_SUFFIX_RULES[2][0]}') THEN {expr}")
    parts.append(f"ELSE {lemma_sql(expr)} END")
    return " ".join(parts)


def lemmatize_tokens_pos(col: Column, use_nltk: bool = False, backend_factory=None) -> Column:
    """POS-aware lemmatize over an array<string> column (A18+A19+A21).

    Default backend is the pure-Column heuristic above. `use_nltk=True`
    swaps in the reference's exact nltk path (pos_tag → Penn→WordNet →
    tagged WordNetLemmatizer) as an Arrow-batched pandas_udf.
    `backend_factory` injects a fake (pos_tag, lemmatize_tagged) pair
    into the same seam for tests.
    """
    if use_nltk or backend_factory is not None:
        return _nltk_pos_lemmatize_udf(backend_factory)(col)
    return F.transform(col, lemmatize_token_pos_col)


def _pos_lemmatize_batch(s, pos_tag, lemmatize_tagged):
    """Arrow-batch kernel for the POS-aware seam (A18→A19→A21): tag the
    token list, map Penn→WordNet (words whose Penn tag has no WordNet
    class pass through UNLEMMATIZED — the reference's branch), lemmatize
    with the class. Factored out of the pandas_udf closure so tests can
    inject a fake tagger/lemmatizer and assert the branch parity."""

    def one(toks):
        if toks is None:
            return None
        tagged = pos_tag(list(toks))
        out = []
        for word, penn in tagged:
            wn = penn_to_wordnet(penn)
            out.append(word if wn is None else lemmatize_tagged(word, wn))
        return out

    return s.map(one)


def _nltk_pos_lemmatize_udf(backend_factory=None):
    """pos_tag → Penn→WordNet → tagged-lemma pandas_udf. `backend_factory`
    is the DI seam: a zero-arg callable returning `(pos_tag_fn,
    lemmatize_tagged_fn)` — default builds them from nltk, tests inject
    fakes."""
    if backend_factory is None:
        try:
            import nltk  # noqa: F401
            from nltk.stem import WordNetLemmatizer  # noqa: F401
        except ImportError as exc:  # pragma: no cover - nltk absent in this env
            raise ImportError("nltk not installed; use the rule-table backend") from exc

        def backend_factory():  # pragma: no cover - nltk absent in this env
            import nltk
            from nltk.stem import WordNetLemmatizer

            return nltk.pos_tag, WordNetLemmatizer().lemmatize

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _lemmatize(s: pd.Series) -> pd.Series:
        pos_tag, lemmatize_tagged = backend_factory()  # once per Arrow batch
        return _pos_lemmatize_batch(s, pos_tag, lemmatize_tagged)

    return _lemmatize


# --- composite: the reference keyword pipeline -----------------------------


def keywords(
    col: Column, stopwords: Sequence[str] = STOPWORDS, lemmatize: bool = True
) -> Column:
    """abstract text → array of distinct, cleaned, non-stopword lemmas.

    The whole v1 pipeline (word_count.py:41-65) as one Column expression:
    clean → tokenize → stopword-diff → lemmatize → distinct.
    """
    toks = remove_stopwords(tokenize(clean_text(col)), stopwords)
    if lemmatize:
        toks = lemmatize_tokens(toks)
    return distinct_tokens(toks)


def keywords_v2(
    col: Column,
    stopwords: Sequence[str] = MRC_STOPWORDS,
    use_nltk: bool = False,
) -> Column:
    """The v2 keyword pipeline: POS-aware lemmas + the mrc domain list.

    Mirrors the reference's lemmatize_sentence order (extract_keywords_
    from_all_abstracts.py:65-79): tokenize → POS-tag → tagged lemmatize →
    dedupe → THEN stopword-filter (v1 filters stopwords before
    lemmatizing; v2 after, so inflections of stopwords — 'used', 'shown'
    — are caught by their lemma or by the list's own inflected entries).
    """
    toks = tokenize(clean_text(col))
    toks = lemmatize_tokens_pos(toks, use_nltk=use_nltk)
    return F.array_except(toks, F.array(*[F.lit(w) for w in stopwords]))
