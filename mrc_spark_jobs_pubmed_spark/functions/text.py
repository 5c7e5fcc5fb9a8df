"""Text pipeline as native Catalyst expressions, compiled from rule tables.

The reference runs its entire text pipeline inside opaque Python closures
per file (word_count.py:41-65): regex cleans, lowercase, split, stopword
set-difference, per-abstract dedup, lemmatize. Here every step is a
Catalyst expression — JVM-side, whole-stage-codegen'd, pushdown-friendly —
mirroring SURVEY.md §2 A13-A25.

Each rule table is data — the clean passes (`CLEAN_PASSES`), the stopword
lists, the noun lemma rules (`LEMMA_*`), the verb rules (`VERB_*`) and
the POS classes (`POS_SUFFIX_RULES`) — and has ONE compiler, which emits
SQL text in one of two dialects:

* ``"spark"`` — the engine's form. Each Column function below takes its
  input column by name and is one ``F.expr`` over that text (`keywords_v2`
  two: its lemmas and its stopword array, so the nltk seam can stand in
  for the lemmas), so building a keyword expression is one SQL parse on
  the JVM instead of one py4j call per rule;
* ``"duckdb"`` — the correctness oracle's form (the compilers' default),
  so DuckDB runs the *same* rules.

Lemmatization (A20/A21) is the one step with no Spark built-in, so the
rule tables are a deliberate approximation: they target the reference's
golden example (spark-pubmed-word-count/README.md:4-15: publications→
publication, men→man) plus common English suffixes, and their divergence
from full WordNet is documented and oracle-consistent. When NLTK is
installed, `use_nltk=True` swaps in a WordNet pandas_udf behind the same
interface (Arrow-batched, never row-at-a-time).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import pandas as pd
from pyspark import SparkContext
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mrc_spark_jobs_pubmed_spark.functions.stopwords import MRC_STOPWORDS, STOPWORDS

SPARK, DUCKDB = "spark", "duckdb"

# --- the two dialects -------------------------------------------------------
#
# Spark literals are raw (r'...'), because Spark SQL processes backslash
# escapes and the regex patterns hold them; a word holding a quote (the
# stopword "aren't") is double-quoted instead. DuckDB literals are
# standard SQL ('' escapes a quote). Spark's regexp_replace replaces every
# match and writes a group as $1; DuckDB's replaces the first unless given
# the 'g' flag and writes a group as \1.


def _lit(s: str, dialect: str) -> str:
    if dialect == SPARK:
        return f'r"{s}"' if "'" in s else f"r'{s}'"
    return "'" + s.replace("'", "''") + "'"


def _matches(expr: str, pattern: str, dialect: str) -> str:
    if dialect == SPARK:
        return f"{expr} RLIKE {_lit(pattern, dialect)}"
    return f"regexp_matches({expr}, {_lit(pattern, dialect)})"


def _replace(expr: str, pattern: str, repl: str, dialect: str, every: bool = False) -> str:
    """regexp_replace; `every` replaces all matches in DuckDB too (Spark
    always does; the lemma rules are anchored, so one match is all)."""
    if dialect == SPARK:
        return f"regexp_replace({expr}, {_lit(pattern, dialect)}, {_lit(repl, dialect)})"
    flag = ", 'g'" if every else ""
    duck_repl = repl.replace("$1", "\\1")
    return f"regexp_replace({expr}, {_lit(pattern, dialect)}, {_lit(duck_repl, dialect)}{flag})"


def _case(whens: list[tuple[str, str]], default: str) -> str:
    return " ".join(["CASE", *(f"WHEN {c} THEN {v}" for c, v in whens), f"ELSE {default} END"])


def _exact_whens(expr: str, pairs, dialect: str) -> list[tuple[str, str]]:
    """WHEN branches mapping a whole word to its lemma."""
    return [(f"{expr} = {_lit(word, dialect)}", _lit(lemma, dialect)) for word, lemma in pairs]


def _suffix_whens(expr: str, rules, dialect: str) -> list[tuple[str, str]]:
    """WHEN branches of (match, strip, replacement, min length) rules."""
    return [
        (f"{_matches(expr, match, dialect)} AND length({expr}) >= {min_len}",
         _replace(expr, strip, repl, dialect))
        for match, strip, repl, min_len in rules
    ]


def stoplist_sql(words: Sequence[str], dialect: str = DUCKDB) -> str:
    """A word list as comma-separated SQL literals."""
    return ", ".join(_lit(w, dialect) for w in words)


def _col(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _transform(arr: str, rule: Callable[[str, str], str]) -> str:
    """Spark `transform(arr, x -> rule(x))`. The lambda variable is named
    from the JVM-wide counter `F.transform` draws from, one name per
    transform, so the plan renders `lambda x_N` as `F.transform`'s would
    and every lambda built after it keeps its number."""
    sc = SparkContext._active_spark_context
    x = sc._jvm.PythonSQLUtils.unresolvedNamedLambdaVariable("x").toString()
    return f"transform({arr}, {x} -> {rule(x, SPARK)})"


# --- cleaning (A13-A16) ----------------------------------------------------

# (pattern, replacement) applied in the reference's order, lowercasing
# after the first. After the first pass only [a-zA-Z ] remains, so the
# HTML-entity pass is a no-op kept for pipeline-shape parity
# (word_count.py:52-58).
CLEAN_PASSES: tuple[tuple[str, str], ...] = (
    ("[^a-zA-Z]", " "),
    ("&lt;/?.*?&gt;", " &lt;&gt; "),
    ("(\\d|\\W)+", " "),
)


def clean_text_sql(expr: str, dialect: str = DUCKDB) -> str:
    """Strip punctuation/digits, lowercase, trim — A13, A14, A15, A16."""
    (pat, repl), *rest = CLEAN_PASSES
    out = f"lower({_replace(expr, pat, repl, dialect, every=True)})"
    for pat, repl in rest:
        out = _replace(out, pat, repl, dialect, every=True)
    return f"trim({out})"


def clean_text(name: str) -> Column:
    """Column `name`, cleaned (`clean_text_sql`)."""
    return F.expr(clean_text_sql(_col(name), SPARK))


# --- tokenize (A17) --------------------------------------------------------


def _tokenize_sql(expr: str) -> str:
    return f"regexp_extract_all({expr}, r'\\S+', 0)"


def _clean_tokens_sql(name: str) -> str:
    return _tokenize_sql(clean_text_sql(_col(name), SPARK))


def tokenize(name: str) -> Column:
    """Whitespace tokenizer → array<string>, empty tokens dropped: one
    codegen'd `regexp_extract_all('\\S+')` pass, value-identical to
    split-then-drop-empties without an interpreted `filter` lambda."""
    return F.expr(_tokenize_sql(_col(name)))


def clean_tokens(name: str) -> Column:
    """The cleaned text's tokens: `tokenize` over `clean_text`."""
    return F.expr(_clean_tokens_sql(name))


# --- stopwords (A23) / dedup (A24) ----------------------------------------


def _stop_array_sql(stopwords: Sequence[str]) -> str:
    return f"array({stoplist_sql(stopwords, SPARK)})"


def _except_sql(expr: str, stopwords: Sequence[str]) -> str:
    return f"array_except({expr}, {_stop_array_sql(stopwords)})"


def remove_stopwords(name: str, stopwords: Sequence[str] = STOPWORDS) -> Column:
    """Set-difference against the stopword list.

    `array_except` also deduplicates, matching the reference's Python-set
    semantics (word_count.py:61). The list travels as an array literal —
    a Catalyst constant, shipped once per plan, not per closure.
    """
    return F.expr(_except_sql(_col(name), stopwords))


def distinct_tokens(name: str) -> Column:
    return F.expr(f"array_distinct({_col(name)})")


# --- lemmatizer (A20/A21): the rule table, or nltk behind the same seam ---

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


def lemma_sql(expr: str, dialect: str = DUCKDB) -> str:
    """The noun rule table over one token, as a CASE expression."""
    whens = [
        *_exact_whens(expr, LEMMA_IRREGULAR, dialect),
        (f"{expr} IN ({stoplist_sql(LEMMA_KEEP, dialect)})", expr),
        *_suffix_whens(expr, LEMMA_SUFFIX_RULES, dialect),
    ]
    return _case(whens, expr)


def lemmatize_tokens(name: str, use_nltk: bool = False, lemmatizer_factory=None) -> Column:
    """Lemmatize an array<string> column, noun-default (A20).

    Default backend is the noun rule table (JVM-side, codegen).
    `use_nltk=True` switches to a WordNet pandas_udf when nltk is present —
    the vectorized seam the reference needed but ran row-at-a-time with a
    per-task corpus download (word_count.py:70-71, bug B6).
    `lemmatizer_factory` injects an alternative lemmatizer backend into
    that seam (tests use a fake built from the engine's own rule table).
    """
    if use_nltk or lemmatizer_factory is not None:
        return _nltk_lemmatize_udf(lemmatizer_factory)(F.col(name))
    return F.expr(_transform(_col(name), lemma_sql))


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
# 52-79). The engine compiles the same three stages to one CASE
# expression: a suffix-heuristic tagger (adverb/verb/adjective/noun), the
# Penn→WordNet map as data, and per-class detachment rules in the style of
# WordNet's morphy (strip -ing/-ed with e-restoration for verbs; identity
# for adjectives/adverbs whose tagged suffixes are already lemma forms;
# the existing noun rule table otherwise). When nltk is installed the
# real pos_tag+WordNet path is available behind the same interface
# (`use_nltk=True`). Divergence from full WordNet (no lexicon lookup) is
# deliberate and oracle-consistent: both dialects are compiled from the
# SAME rule tables.

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
# refines it (see `lemma_pos_sql`).
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


def _verb_lemma_sql(expr: str, dialect: str) -> str:
    """The verb detachment rules (irregulars are the caller's)."""
    rules = [(pat, pat, repl, min_len) for pat, repl, min_len in VERB_SUFFIX_RULES]
    return _case(_suffix_whens(expr, rules, dialect), expr)


def lemma_pos_sql(expr: str, dialect: str = DUCKDB) -> str:
    """POS-aware lemmatizer for one token (A21), as a CASE expression.

    Structure mirrors the reference's tagged path: classify (A18), map
    to a WordNet class (A19 — encoded in the branch order below), then
    lemmatize per class: adverbs/adjectives are identity (their tagged
    suffixes are lemma forms), verbs run the detachment rules, nouns run
    the noun rule table.
    """
    (adverb, _), (verb, _), (adjective, _) = POS_SUFFIX_RULES
    # one hashed IN (an InSet past 10 literals) guards the 46 equalities:
    # `transform` runs interpreted, so most tokens pay one lookup, not 46
    irregular = stoplist_sql([word for word, _ in VERB_IRREGULAR], dialect)
    whens = [
        (f"{expr} IN ({irregular})", _case(_exact_whens(expr, VERB_IRREGULAR, dialect), expr)),
        (f"{expr} IN ({stoplist_sql(VERB_KEEP, dialect)})", expr),
        (_matches(expr, adverb, dialect), expr),
        (_matches(expr, verb, dialect), _verb_lemma_sql(expr, dialect)),
        (_matches(expr, adjective, dialect), expr),
    ]
    return _case(whens, lemma_sql(expr, dialect))


def lemmatize_tokens_pos(name: str, use_nltk: bool = False, backend_factory=None) -> Column:
    """POS-aware lemmatize over an array<string> column (A18+A19+A21).

    Default backend is the rule-table heuristic above. `use_nltk=True`
    swaps in the reference's exact nltk path (pos_tag → Penn→WordNet →
    tagged WordNetLemmatizer) as an Arrow-batched pandas_udf.
    `backend_factory` injects a fake (pos_tag, lemmatize_tagged) pair
    into the same seam for tests.
    """
    return _pos_lemmas(_col(name), use_nltk, backend_factory)


def _pos_lemmas(toks: str, use_nltk: bool = False, backend_factory=None) -> Column:
    """The POS lemmas of `toks`, a Spark SQL array<string> expression:
    the rule table's `transform`, or the nltk seam over it."""
    if use_nltk or backend_factory is not None:
        return _nltk_pos_lemmatize_udf(backend_factory)(F.expr(toks))
    return F.expr(_transform(toks, lemma_pos_sql))


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


# --- composite: the reference keyword pipelines ----------------------------


def keywords(name: str, stopwords: Sequence[str] = STOPWORDS, lemmatize: bool = True) -> Column:
    """abstract text → array of distinct, cleaned, non-stopword lemmas.

    The whole v1 pipeline (word_count.py:41-65) as one expression:
    clean → tokenize → stopword-diff → lemmatize → distinct.
    """
    toks = _except_sql(_clean_tokens_sql(name), stopwords)
    if lemmatize:
        toks = _transform(toks, lemma_sql)
    return F.expr(f"array_distinct({toks})")


def keywords_v2(
    name: str,
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
    lemmas = _pos_lemmas(_clean_tokens_sql(name), use_nltk)
    return F.array_except(lemmas, F.expr(_stop_array_sql(stopwords)))
