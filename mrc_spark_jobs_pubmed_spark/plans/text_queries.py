"""Text-pipeline queries over `documents` — the reference's keyword jobs
(SURVEY.md §2 A13-A25) completed with the aggregations they never had.

The Spark expressions and the DuckDB oracle SQL are compiled from the SAME
rule tables (CLEAN_PASSES, the stopword lists, the lemma rules; one
compiler per table in functions/text.py, two dialects), so both engines
execute identical semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mrc_spark_jobs_pubmed_spark.functions import text as TX
from mrc_spark_jobs_pubmed_spark.functions.stopwords import MRC_STOPWORDS, STOPWORDS
from mrc_spark_jobs_pubmed_spark.functions.text import (
    clean_text_sql,
    clean_tokens,
    keywords,
    lemma_pos_sql,
    lemma_sql,
    stoplist_sql,
)
from mrc_spark_jobs_pubmed_spark.plans.registry import register
from mrc_spark_jobs_pubmed_spark.sources.catalog import load_table

_STOPLIST_SQL = stoplist_sql(STOPWORDS)

# Long-format keyword extraction shared by the queries below: the SQL mirror
# of clean → tokenize → stopword-diff → lemmatize → per-doc distinct.
_KEYWORDS_CTE = f"""
  toks AS (
    SELECT doc_id, unnest(string_split_regex({clean_text_sql('text')}, '\\s+')) AS tok
    FROM documents
  ),
  kw AS (
    SELECT DISTINCT doc_id, {lemma_sql('tok')} AS word
    FROM toks
    WHERE length(tok) > 0 AND tok NOT IN ({_STOPLIST_SQL})
  )
"""


def _keywords_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (doc_id, word) long format, the engine-side kw table."""
    docs = load_table(spark, "documents", sf_dir)
    return docs.select("doc_id", F.explode(keywords("text")).alias("word"))


@register(
    "text_word_topk",
    oracle=f"""
WITH {_KEYWORDS_CTE}
SELECT word, count(*) AS n_docs
FROM kw
GROUP BY word
ORDER BY n_docs DESC, word
LIMIT 20
""",
    doc="Flagship: word_count.py pipeline completed with the count+top-k it "
    "deferred downstream (SURVEY.md §7 minimum slice). "
    "scan→clean→tokenize→stopwords→lemmatize→distinct→explode→agg→sort→limit.",
)
def text_word_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _keywords_long(spark, sf_dir)
        .groupBy("word")
        .agg(F.count("*").alias("n_docs"))
        .orderBy(F.desc("n_docs"), F.asc("word"))
        .limit(20)
    )


@register(
    "text_keyword_pairs",
    oracle=f"""
WITH {_KEYWORDS_CTE}
SELECT doc_id, word FROM kw
""",
    doc="A25: the reference's exact output shape — (word, pmid) pairs "
    "(word_count.py:63-65) as explode() of the keyword array; full result, "
    "order-insensitive.",
)
def text_keyword_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _keywords_long(spark, sf_dir).select("doc_id", "word")


@register(
    "text_inverted_index",
    oracle=f"""
WITH {_KEYWORDS_CTE}
SELECT word,
       count(*) AS n_docs,
       min(doc_id) AS min_doc,
       max(doc_id) AS max_doc
FROM kw
GROUP BY word
""",
    doc="The inverted index word→docs (SURVEY.md §1.4) summarized with "
    "deterministic aggregates (collect_set order is engine-specific, so the "
    "oracle checks cardinality + extrema per posting list).",
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _keywords_long(spark, sf_dir)
        .groupBy("word")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


@register(
    "text_token_stats",
    oracle=f"""
SELECT doc_id,
       length(text) AS n_chars_raw,
       len(list_filter(string_split_regex({clean_text_sql('text')}, '\\s+'),
                        t -> length(t) > 0)) AS n_tokens,
       len(list_distinct(list_filter(string_split_regex({clean_text_sql('text')}, '\\s+'),
                        t -> length(t) > 0))) AS n_distinct_tokens
FROM documents
""",
    doc="A17/A24 as per-doc stats: token count and distinct-token count from "
    "the cleaned text, all native expressions.",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    toks = clean_tokens("text")
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars_raw"),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
    )


@register(
    "text_tfidf_top_terms",
    oracle=f"""
WITH {_KEYWORDS_CTE},
  tf AS (
    SELECT doc_id, word, 1.0 AS tf
    FROM kw
  ),
  df_t AS (
    SELECT word, count(*) AS df
    FROM kw
    GROUP BY word
  ),
  n AS (SELECT count(*) AS n_docs_total FROM documents)
SELECT tf.doc_id, tf.word,
       round(ln((n.n_docs_total + 1.0) / (df_t.df + 1.0)), 6) AS idf
FROM tf JOIN df_t USING (word) CROSS JOIN n
WHERE df_t.df >= 5
""",
    doc="TF-IDF-style scoring (SURVEY.md §2 Part B text analysis): "
    "smoothed IDF per (doc, word) for terms with df>=5; presence-TF since "
    "the keyword table is per-doc distinct. Exercises groupBy + join + "
    "cross-join of a 1-row aggregate (broadcast).",
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    kw = _keywords_long(spark, sf_dir)
    docs = load_table(spark, "documents", sf_dir)
    df_t = kw.groupBy("word").agg(F.count("*").alias("df")).filter(F.col("df") >= 5)
    n_total = docs.agg(F.count("*").alias("n_docs_total"))
    return (
        kw.join(F.broadcast(df_t), "word")
        .crossJoin(F.broadcast(n_total))
        .select(
            "doc_id",
            "word",
            F.round(
                F.log((F.col("n_docs_total") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))), 6
            ).alias("idf"),
        )
    )


# --- keywords v2: POS-aware lemmas + mrc domain stopword list ---------------

_MRC_STOPLIST_SQL = stoplist_sql(MRC_STOPWORDS)


@register(
    "text_keywords_v2",
    oracle=f"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split_regex({clean_text_sql('text')}, '\\s+')) AS tok
  FROM documents
),
lemmas AS (
  SELECT DISTINCT doc_id, {lemma_pos_sql('tok')} AS word
  FROM toks
  WHERE length(tok) > 0
)
SELECT doc_id,
       array_to_string(list_sort(list(word)), ' ') AS keywords
FROM lemmas
WHERE word NOT IN ({_MRC_STOPLIST_SQL})
GROUP BY doc_id
""",
    doc="The reference v2 keywords job (extract_keywords_from_all_"
    "abstracts.py:52-79): POS-tag (A18, suffix heuristic), Penn→WordNet "
    "map (A19), tagged lemmatize (A21), dedupe, THEN the 224-word mrc "
    "domain stopword filter — one row per doc, keywords space-joined "
    "(the reference's CSV cell). The oracle SQL is generated from the "
    "same POS/lemma rule tables, so both engines run identical "
    "semantics; the nltk backend swaps in via use_nltk=True when "
    "installed.",
)
def text_keywords_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    kw = TX.keywords_v2("text")
    return (
        docs.select("doc_id", F.explode(kw).alias("word"))
        .distinct()
        .groupBy("doc_id")
        .agg(F.concat_ws(" ", F.array_sort(F.collect_list("word"))).alias("keywords"))
    )


# --- BM25 retrieval ----------------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75
BM25_TERMS = ("join", "scan", "window")
BM25_TOPK = 20


@register(
    "text_bm25_topk",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS word
  FROM documents
),
toks_ne AS (SELECT * FROM toks WHERE length(word) > 0),
dl AS (SELECT doc_id, count(*) AS dl FROM toks_ne GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT avg(dl) FROM dl) AS avgdl
),
qtf AS (
  SELECT doc_id, word, count(*) AS tf
  FROM toks_ne
  WHERE word IN ({", ".join(f"'{t}'" for t in BM25_TERMS)})
  GROUP BY doc_id, word
),
df_t AS (SELECT word, count(*) AS df FROM qtf GROUP BY word),
scored AS (
  -- per-term contributions rounded to exact 1e-6-unit BIGINTs before
  -- the sum: order-independent, and the output is the integer divided
  -- by a literal — no round() of an engine-accumulated double
  SELECT qtf.doc_id,
         sum(CAST(round(
             ln((stats.n_docs - df_t.df + 0.5) / (df_t.df + 0.5) + 1.0)
             * qtf.tf * ({BM25_K1} + 1.0)
             / (qtf.tf + {BM25_K1} * (1.0 - {BM25_B}
                                      + {BM25_B} * dl.dl / stats.avgdl))
             * 1000000) AS BIGINT)
         ) AS s6
  FROM qtf
  JOIN df_t USING (word)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
  GROUP BY qtf.doc_id
)
SELECT doc_id, s6 / 1000000.0 AS bm25
FROM scored
ORDER BY s6 DESC, doc_id
LIMIT {BM25_TOPK}
""",
    doc="BM25 retrieval (Okapi, k1=1.2 b=0.75) for a fixed term set — the "
    "scoring half of a search/RAG stack over the corpus. Plan shape at "
    "scale: ONE tokenize pass and ONE doc_id shuffle produce per-doc "
    "(dl, tf per query term) as a pivoted aggregation; stack() unpivots "
    "the handful of term columns back to postings rows, so doc length "
    "never needs a second aggregation or a join. df and the (N, avgdl) "
    "corpus stats are 1-row aggregates broadcast to the postings; final "
    "top-k is TakeOrderedAndProject, never a global sort.",
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    # (dl, tf per query term) is a PURE NARROW projection: split the doc
    # once into an array column, dl = its size, each tf = size(filter) —
    # no explode, no shuffle, no pivot agg (the explode+groupBy form
    # shuffled 10M token rows at sf1 for the same 4 numbers; narrow form
    # measured 2.0 -> 1.4 s). Both consumers (postings unpivot + avgdl)
    # replay the narrow subtree — cheaper than a checkpoint barrier at
    # every measured scale.
    arr = F.filter(F.split(F.col("text"), r"\s+"), lambda w: F.length(w) > 0)
    perdoc = (
        docs.select(
            "doc_id",
            arr.alias("_a"),
        )
        .select(
            "doc_id",
            F.size("_a").cast("long").alias("dl"),
            *[
                # F.expr, not a lambda-with-default: a 2-parameter
                # Python lambda would be bound as (element, index)
                F.expr(f"size(filter(_a, w -> w = '{t}'))")
                .cast("long")
                .alias(f"tf_{i}")
                for i, t in enumerate(BM25_TERMS)
            ],
        )
    )
    stack_args = ", ".join(f"'{t}', tf_{i}" for i, t in enumerate(BM25_TERMS))
    qtf = perdoc.select(
        "doc_id",
        "dl",
        F.expr(f"stack({len(BM25_TERMS)}, {stack_args}) AS (word, tf)"),
    ).filter(F.col("tf") > 0)
    df_t = qtf.groupBy("word").agg(F.count("*").alias("df"))
    stats = docs.agg(F.count("*").alias("n_docs")).crossJoin(
        perdoc.agg(F.avg("dl").alias("avgdl"))
    )
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    denom = F.col("tf") + BM25_K1 * (
        1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")
    )
    scored = (
        qtf.join(F.broadcast(df_t), "word")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        # exact-int sum of per-term 1e-6-unit contributions (see oracle)
        .agg(
            F.sum(
                F.round(
                    idf * F.col("tf") * (BM25_K1 + 1.0) / denom * 1e6
                ).cast("long")
            ).alias("_s6")
        )
        .select("doc_id", (F.col("_s6").cast("double") / 1e6).alias("bm25"))
    )
    return scored.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(BM25_TOPK)


# --- count-min sketch heavy hitters ----------------------------------------

CMS_DEPTH = 4
CMS_WIDTH = 256
CMS_TOPK = 10


from mrc_spark_jobs_pubmed_spark.operators.dedup import tokens_sql as _dedup_tokens_sql

_CMS_TOKS_SQL = _dedup_tokens_sql("text")


def _cms_halves_sql(tok_expr: str, dialect: str) -> tuple[str, str]:
    """(h1, h2) — the two 32-bit halves of md5(tok), engine-neutral.

    ONE md5 per distinct token; the per-depth bucket is derived
    arithmetically (Kirsch-Mitzenmacher, same scheme as the MinHash
    signature): w_d = (h1 + d*h2) % WIDTH. Spark decodes hex via
    conv(); DuckDB (no conv) via positional instr powers."""
    h = f"md5({tok_expr})"
    if dialect == "spark":
        return (
            f"CAST(conv(substr({h}, 1, 8), 16, 10) AS BIGINT)",
            f"CAST(conv(substr({h}, 9, 8), 16, 10) AS BIGINT)",
        )
    from mrc_spark_jobs_pubmed_spark.operators.dedup import _hex2long

    return _hex2long(h, 1), _hex2long(h, 9)


def _cms_w_sql(d_expr: str, tok_expr: str, dialect: str) -> str:
    h1, h2 = _cms_halves_sql(tok_expr, dialect)
    return f"(({h1} + {d_expr} * {h2}) % {CMS_WIDTH})"


@register(
    "text_cms_heavy_hitters",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, t.tok AS tok
  FROM (SELECT doc_id, {_CMS_TOKS_SQL} AS toklist FROM documents),
       unnest(toklist) AS t(tok)
),
counts AS (SELECT tok, count(*) AS n FROM toks GROUP BY tok),
hashed AS (
  SELECT n, d.d AS d, {_cms_w_sql('d.d', 'tok', 'duckdb')} AS w
  FROM counts CROSS JOIN unnest([0, 1, 2, 3]) d(d)
),
cms AS (SELECT d, w, sum(n) AS cnt FROM hashed GROUP BY d, w),
top AS (
  SELECT tok, n AS exact_n FROM counts
  ORDER BY exact_n DESC, tok LIMIT {CMS_TOPK}
),
probes AS (
  SELECT tok, exact_n, d.d AS d, {_cms_w_sql('d.d', 'tok', 'duckdb')} AS w
  FROM top CROSS JOIN unnest([0, 1, 2, 3]) d(d)
)
SELECT probes.tok AS word, CAST(exact_n AS BIGINT) AS exact_n,
       CAST(min(cnt) AS BIGINT) AS cms_est
FROM probes JOIN cms USING (d, w)
GROUP BY probes.tok, exact_n
""",
    doc="Count-min sketch heavy hitters: the CMS builds as ONE hash-agg "
    "over (depth, bucket) — a 4x256 table regardless of corpus size, "
    "the mergeable-sketch idiom for streaming/distributed counting — "
    "then the exact top-10 words are probed back through the sketch "
    "(estimate = min over depth rows). Output pairs exact counts with "
    "CMS estimates, so the sketch's overcount bound is value-checked. "
    "Both the sketch and the exact top-k derive from ONE shared "
    "word-count aggregation (CMS cell = sum of frequencies of tokens "
    "hashing there — identical to counting instances), so md5 runs "
    "once per DISTINCT token, not 4x per token instance; the per-depth "
    "bucket is Kirsch-Mitzenmacher-derived from the two md5 halves.",
)
def text_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mrc_spark_jobs_pubmed_spark.operators.dedup import tokens_col

    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(F.explode(tokens_col(F.col("text"))).alias("tok"))
    counts = toks.groupBy("tok").agg(F.count("*").alias("n"))
    ds = F.explode(F.array(*[F.lit(d) for d in range(CMS_DEPTH)])).alias("d")
    cms = (
        counts.select("tok", "n", ds)
        .withColumn("w", F.expr(_cms_w_sql("d", "tok", "spark")))
        .groupBy("d", "w")
        .agg(F.sum("n").alias("cnt"))
    )
    top = (
        counts.select("tok", F.col("n").alias("exact_n"))
        .orderBy(F.desc("exact_n"), F.asc("tok"))
        .limit(CMS_TOPK)
    )
    probes = top.select("tok", "exact_n", ds).withColumn(
        "w", F.expr(_cms_w_sql("d", "tok", "spark"))
    )
    return (
        probes.join(cms, ["d", "w"])
        .groupBy(F.col("tok").alias("word"), "exact_n")
        .agg(F.min("cnt").cast("long").alias("cms_est"))
        .select("word", F.col("exact_n").cast("long").alias("exact_n"), "cms_est")
    )


# --- sparse TF-IDF document similarity (inverted-index all-pairs) -----------

DOCSIM_DF_MIN = 2  # drop hapax terms: they can't link two docs
DOCSIM_DF_MAX = 50  # posting-list cap: prune stop-like hot terms
DOCSIM_TOP_PAIRS = 50


@register(
    "text_doc_sim_pairs",
    oracle=f"""
WITH {_KEYWORDS_CTE},
  n AS (SELECT count(*) AS n_docs FROM documents),
  w AS (
    SELECT word,
           CAST(round(1000000 * ln((n.n_docs + 1.0) / (count(*) + 1.0))
                              * ln((n.n_docs + 1.0) / (count(*) + 1.0))) AS BIGINT)
             AS w2
    FROM kw CROSS JOIN n
    GROUP BY word, n.n_docs
    HAVING count(*) BETWEEN {DOCSIM_DF_MIN} AND {DOCSIM_DF_MAX}
  ),
  wkw AS (SELECT kw.doc_id, kw.word, w.w2 FROM kw JOIN w USING (word)),
  norms AS (SELECT doc_id, sum(w2) AS norm2 FROM wkw GROUP BY doc_id),
  dots AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(a.w2) AS dot
    FROM wkw a JOIN wkw b ON a.word = b.word AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
  )
SELECT doc_a, doc_b,
       round(dot / sqrt(CAST(na.norm2 AS DOUBLE) * CAST(nb.norm2 AS DOUBLE)), 6)
         AS cosine
FROM dots
JOIN norms na ON na.doc_id = doc_a
JOIN norms nb ON nb.doc_id = doc_b
ORDER BY cosine DESC, doc_a, doc_b
LIMIT {DOCSIM_TOP_PAIRS}
""",
    doc="Sparse TF-IDF document similarity through the inverted index: "
    "top-50 most-similar doc pairs by cosine over idf²-weighted keyword "
    "vectors. The pair space is generated by a posting-list self-join "
    "(docs sharing a term), never doc×doc all-pairs — the Bayardo-style "
    "df cap (2 ≤ df ≤ 50) prunes stop-like hot terms so join fan-out is "
    "bounded by Σ df² over surviving terms, the standard sparse "
    "all-pairs-similarity design at corpus scale. Weights are scaled to "
    "integer micro-units before summing, so dot products and norms are "
    "exact BIGINTs (summation-order-independent across engines and "
    "partitionings) and the single float op — the final normalize — is "
    "bit-identical everywhere. One shuffle on word (the join), one on "
    "the pair key (the dot agg); top-k is TakeOrderedAndProject.",
)
def text_doc_sim_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    kw = _keywords_long(spark, sf_dir)
    docs = load_table(spark, "documents", sf_dir)
    n_total = docs.agg(F.count("*").alias("n_docs"))
    idf = F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0)))
    w = (
        kw.groupBy("word")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df").between(DOCSIM_DF_MIN, DOCSIM_DF_MAX))
        .crossJoin(F.broadcast(n_total))
        .select("word", F.round(F.lit(1e6) * idf * idf).cast("long").alias("w2"))
    )
    # The weighted posting table feeds the norms agg and BOTH sides of
    # the pair self-join; materialize it once so the clean/tokenize/
    # lemmatize pipeline runs a single time instead of three (at scale:
    # one corpus scan, then all downstream work happens on the compact
    # (doc_id, word, w2) table — 46 plan exchanges drop to the join/agg
    # minimum).
    wkw = (
        kw.join(F.broadcast(w), "word")
        .select("doc_id", "word", "w2")
        .localCheckpoint()
    )
    norms = wkw.groupBy("doc_id").agg(F.sum("w2").alias("norm2"))
    a, b = wkw.alias("a"), wkw.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.word") == F.col("b.word"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.sum("a.w2").alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("norm2").alias("_na"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("norm2").alias("_nb"))
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("dot")
                / F.sqrt(F.col("_na").cast("double") * F.col("_nb").cast("double")),
                6,
            ).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("doc_a"), F.asc("doc_b"))
        .limit(DOCSIM_TOP_PAIRS)
    )


# --- BPE pair-merge trainer (3 unrolled merges) -----------------------------

BPE_VOCAB_CAP = 200  # candidate words per merge round (freq-ranked)
BPE_MERGES = 3


def _bpe_pairs_sql(v: str) -> str:
    return f"""(SELECT s.syms[t.i] AS l, s.syms[t.i + 1] AS r, sum(s.freq) AS cnt
   FROM (SELECT string_split(seq, ' ') AS syms, freq FROM {v}) s
   CROSS JOIN range(1, 256) t(i) WHERE t.i <= len(s.syms) - 1
   GROUP BY 1, 2)"""


def _bpe_train_ctes() -> list[str]:
    """Shared training CTEs: bpe_freqs -> v0..v2, b0..b2 (1-row argmax
    per merge round). Used by both the trainer and the encoder oracle."""
    ctes = [
        f"""bpe_toks AS (
  SELECT unnest({_dedup_tokens_sql('text')}) AS tok FROM documents
)""",
        # Candidate alphabet: printable ASCII, 2..64 chars. The class
        # [!-~] is identical in Java regex (Spark) and RE2 (DuckDB),
        # unlike '.'/'$'/line-terminator semantics which diverge on
        # U+0085/U+2028/U+2029 — restricting the BPE alphabet removes
        # that data-dependent engine divergence; the length cap keeps
        # symbol counts far under the pair-index range below (real BPE
        # trainers cap word length the same way).
        f"""bpe_freqs AS (
  SELECT tok, count(*) AS freq FROM bpe_toks
  WHERE regexp_matches(tok, '^[!-~]{{2,64}}$')
  GROUP BY tok ORDER BY freq DESC, tok LIMIT {BPE_VOCAB_CAP}
)""",
        "v0 AS (SELECT rtrim(regexp_replace(tok, '(.)', '\\1 ', 'g')) AS seq,"
        " freq FROM bpe_freqs)",
    ]
    for k in range(BPE_MERGES):
        ctes.append(f"p{k} AS {_bpe_pairs_sql(f'v{k}')}")
        ctes.append(f"b{k} AS (SELECT l, r, cnt FROM p{k} ORDER BY cnt DESC, l, r LIMIT 1)")
        if k < BPE_MERGES - 1:
            ctes.append(
                f"""v{k + 1} AS (
  SELECT list_reduce(string_split(v{k}.seq, ' '),
    (acc, x) -> CASE WHEN regexp_extract(acc, '[^ ]+$') = b{k}.l AND x = b{k}.r
                THEN regexp_replace(acc, '[^ ]+$', '') || b{k}.l || b{k}.r
                ELSE acc || ' ' || x END) AS seq,
         v{k}.freq AS freq
  FROM v{k} CROSS JOIN b{k}
)"""
            )
    return ctes


def _bpe_sql() -> str:
    sels = " UNION ALL ".join(
        f"SELECT {k} AS merge_step, l AS left_sym, r AS right_sym,"
        f" CAST(cnt AS BIGINT) AS pair_count FROM b{k}"
        for k in range(BPE_MERGES)
    )
    return "WITH " + ",\n".join(_bpe_train_ctes()) + "\n" + sels


def _bpe_fold_sql(inner: str, k: int) -> str:
    """One greedy merge application (round k's pair b{k}) to a
    space-separated sequence expression, as a DuckDB list_reduce."""
    return f"""list_reduce(string_split({inner}, ' '),
    (acc, x) -> CASE WHEN regexp_extract(acc, '[^ ]+$') = b{k}.l AND x = b{k}.r
                THEN regexp_replace(acc, '[^ ]+$', '') || b{k}.l || b{k}.r
                ELSE acc || ' ' || x END)"""


def _bpe_encode_sql() -> str:
    fold = "rtrim(regexp_replace(tok, '(.)', '\\1 ', 'g'))"
    for k in range(BPE_MERGES):
        fold = _bpe_fold_sql(fold, k)
    ctes = _bpe_train_ctes() + [
        # Same printable-ASCII alphabet as training (length 1 allowed:
        # single-symbol tokens are encodable); out-of-alphabet tokens
        # are excluded on BOTH engines so the per-doc counts match by
        # construction.
        f"""dtoks AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id, unnest({_dedup_tokens_sql('text')}) AS tok FROM documents
  ) WHERE regexp_matches(tok, '^[!-~]{{1,64}}$')
)""",
        "dvocab AS (SELECT DISTINCT tok FROM dtoks)",
        f"""encoded AS (
  SELECT tok, len(string_split({fold}, ' ')) AS n_sym
  FROM dvocab CROSS JOIN b0 CROSS JOIN b1 CROSS JOIN b2
)""",
    ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT doc_id, count(*) AS n_tokens, CAST(sum(n_sym) AS BIGINT) AS n_bpe_symbols
FROM dtoks JOIN encoded USING (tok) GROUP BY doc_id
"""
    )


def _bpe_merge_seq(seq_col, l_col, r_col):
    """Greedy left-to-right application of one BPE merge (l, r) to a
    space-separated symbol sequence, as a sequential fold: standard BPE
    apply semantics, including the non-overlap rule ('a a a' with merge
    (a,a) -> 'aa a')."""
    syms = F.split(seq_col, " ")
    return F.aggregate(
        F.slice(syms, 2, F.size(syms) - 1),
        F.element_at(syms, 1),
        lambda acc, x: F.when(
            (F.regexp_extract(acc, "[^ ]+$", 0) == l_col) & (x == r_col),
            F.concat(F.regexp_replace(acc, "[^ ]+$", ""), l_col, r_col),
        ).otherwise(F.concat(acc, F.lit(" "), x)),
    )


@register(
    "text_bpe_merges",
    oracle=_bpe_sql(),
    doc="BPE tokenizer training (3 unrolled merge rounds) as pure "
    "DataFrame ops: word frequencies -> char-spaced symbol sequences -> "
    "per-round adjacent-pair counts (weighted by word freq, overlapping "
    "pairs counted as standard BPE does) -> deterministic argmax pair "
    "(count desc, pair asc) -> greedy fold-based merge apply. Output is "
    "the learned merge table (step, left, right, count) — the artifact "
    "an LLM pipeline ships to its tokenizer. Scale shape: the corpus "
    "scan reduces to a freq-capped candidate vocab (one hash-agg + "
    "top-k, the standard BPE-trainer move — merges above rank ~200 are "
    "decided by the head of the distribution); each round is then a "
    "few-hundred-row narrow pass with a 1-row broadcast argmax, so "
    "round cost is independent of corpus size. The merge apply is a "
    "sequential per-word fold (greedy non-overlap semantics are "
    "order-dependent by definition), value-identical on both engines.",
)
def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = None
    for step, best in enumerate(_bpe_train(spark, sf_dir)):
        row = best.select(
            F.lit(step).alias("merge_step"),
            F.col("l").alias("left_sym"),
            F.col("r").alias("right_sym"),
            F.col("cnt").alias("pair_count"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def _bpe_train(spark: SparkSession, sf_dir: str) -> list[DataFrame]:
    """Run the merge rounds; returns the 1-row argmax DataFrames
    [(l, r, cnt), ...], each localCheckpoint'd so every consumer (the
    merge-table output, the next round's apply, the encoder) reuses the
    materialized row instead of replaying earlier rounds."""
    from mrc_spark_jobs_pubmed_spark.operators.dedup import tokens_col

    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(F.explode(tokens_col(F.col("text"))).alias("tok"))
    # Mirror of the oracle's candidate filter: printable-ASCII tokens,
    # 2..64 chars ([!-~] means the same thing to Java regex and RE2 —
    # see the oracle CTE comment for why the alphabet is restricted).
    freqs = (
        toks.filter(F.col("tok").rlike("^[!-~]{2,64}$"))
        .groupBy("tok")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("tok"))
        .limit(BPE_VOCAB_CAP)
    )
    # The candidate vocab is BPE_VOCAB_CAP rows; materialize it (and
    # each round's merged form) so the corpus tokenize+freq scan runs
    # once, not once per round — at scale the trainer touches the
    # corpus exactly one time and iterates on the tiny vocab table.
    v = freqs.select(
        F.rtrim(F.regexp_replace("tok", "(.)", "$1 ")).alias("seq"), "freq"
    ).localCheckpoint()
    bests = []
    for step in range(BPE_MERGES):
        syms = F.split("seq", " ")
        pairs = (
            v.select(
                F.explode(
                    F.zip_with(
                        F.slice(syms, 1, F.size(syms) - 1),
                        F.slice(syms, 2, F.size(syms) - 1),
                        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                    )
                ).alias("p"),
                "freq",
            )
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").alias("cnt"))
        )
        best = (
            pairs.orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
            .limit(1)
            .localCheckpoint()
        )
        bests.append(best)
        if step < BPE_MERGES - 1:
            b = F.broadcast(
                best.select(F.col("l").alias("_bl"), F.col("r").alias("_br"))
            )
            v = (
                v.crossJoin(b)
                .select(
                    _bpe_merge_seq(F.col("seq"), F.col("_bl"), F.col("_br")).alias(
                        "seq"
                    ),
                    "freq",
                )
                .localCheckpoint()
            )
    return bests


@register(
    "text_bpe_encode",
    oracle=_bpe_encode_sql(),
    doc="BPE tokenizer APPLY: the 3 learned merges (same training "
    "pipeline as text_bpe_merges) applied to every document's token "
    "stream — per doc, the whitespace token count and the resulting "
    "BPE symbol count, the number an LLM pipeline budgets context "
    "windows with. The fold chain (greedy non-overlap apply, one fold "
    "per merge round) runs over the DISTINCT vocabulary, not the token "
    "stream — encode cost scales with vocab size, and the resulting "
    "(token -> symbol count) map broadcast-joins back to the instances "
    "before ONE hash-agg on doc_id. That's the scale design of every "
    "real tokenizer pass: the vocab table is the unit of work, the "
    "corpus only pays a map-side lookup. Train + encode together close "
    "the tokenizer loop, and both engines value-match the full per-doc "
    "encoding.",
)
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mrc_spark_jobs_pubmed_spark.operators.dedup import tokens_col

    bests = _bpe_train(spark, sf_dir)
    docs = load_table(spark, "documents", sf_dir)
    dtoks = docs.select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("tok")
    ).filter(F.col("tok").rlike("^[!-~]{1,64}$"))
    vocab = dtoks.select("tok").distinct()
    for k, best in enumerate(bests):
        vocab = vocab.crossJoin(
            F.broadcast(
                best.select(F.col("l").alias(f"_l{k}"), F.col("r").alias(f"_r{k}"))
            )
        )
    seq = F.rtrim(F.regexp_replace("tok", "(.)", "$1 "))
    for k in range(BPE_MERGES):
        seq = _bpe_merge_seq(seq, F.col(f"_l{k}"), F.col(f"_r{k}"))
    encoded = vocab.select("tok", F.size(F.split(seq, " ")).alias("n_sym"))
    return (
        dtoks.join(F.broadcast(encoded), "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("n_sym").alias("n_bpe_symbols"),
        )
    )


# --- PMI collocations --------------------------------------------------------

PMI_MIN_COUNT = 5  # bigram frequency floor (standard collocation cutoff)
PMI_TOP = 20


@register(
    "text_pmi_collocations",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {_dedup_tokens_sql('text')} AS toks FROM documents
),
uni AS (
  SELECT t.tok AS tok, count(*) AS c
  FROM toks, unnest(toks.toks) AS t(tok)
  GROUP BY t.tok
),
totals AS (
  SELECT CAST(sum(c) AS BIGINT) AS n_tokens FROM uni
),
big AS (
  SELECT b.gram AS bigram, count(*) AS c_ab
  FROM (
    SELECT unnest(list_filter(list_transform(toks,
             (x, i) -> CASE WHEN i + 1 <= len(toks)
                            THEN x || ' ' || toks[i + 1] END),
             s -> s IS NOT NULL)) AS gram
    FROM toks
  ) b
  GROUP BY b.gram
),
btotals AS (
  SELECT CAST(sum(c_ab) AS BIGINT) AS n_bigrams FROM big
),
scored AS (
  SELECT bigram,
         CAST(c_ab AS BIGINT) AS c_ab,
         CAST(ua.c AS BIGINT) AS c_a,
         CAST(ub.c AS BIGINT) AS c_b,
         round(ln((c_ab::DOUBLE / n_bigrams)
               / ((ua.c::DOUBLE / n_tokens) * (ub.c::DOUBLE / n_tokens))), 6)
           AS pmi
  FROM big
  JOIN uni ua ON ua.tok = string_split(bigram, ' ')[1]
  JOIN uni ub ON ub.tok = string_split(bigram, ' ')[2]
  CROSS JOIN totals CROSS JOIN btotals
  WHERE c_ab >= {PMI_MIN_COUNT}
)
SELECT bigram, c_ab, c_a, c_b, pmi
FROM scored
ORDER BY pmi DESC, bigram
LIMIT {PMI_TOP}
""",
    doc="Pointwise-mutual-information collocations: adjacent-token "
    "bigrams scored by ln(p(ab) / (p(a) p(b))) with a frequency floor "
    "— the classic statistically-bound-phrase extractor used for "
    "vocabulary/tokenizer curation. Shuffle profile: one unigram and "
    "one bigram hash-agg (both map-side-partial), totals as 1-row "
    "broadcast aggregates, the two unigram probability lookups as "
    "vocabulary-sized joins (broadcast when the vocab fits), and "
    "TakeOrderedAndProject for the top-k — never a global sort.",
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mrc_spark_jobs_pubmed_spark.operators.dedup import tokens_col

    docs = load_table(spark, "documents", sf_dir)
    # ONE corpus pass, ONE explode, ONE shuffle: each doc emits its n-1
    # adjacent bigrams PLUS its bare last token (space-free, so it can
    # never collide with a bigram — tokens are non-space runs). Unigram
    # counts then fall out as MARGINS of the aggregated table: every
    # token occurrence either starts a bigram or is its doc's last
    # token, so c(tok) = Σ c_ab over bigrams starting with tok + the
    # last-token count. The margin sums run over the vocab-sized
    # aggregate, not the corpus; vs the r3 combined uni+bigram explode
    # this halves the exploded row volume (2n-1 → n elements/doc)
    # feeding the single corpus-scale hash agg.
    toks = docs.select(tokens_col(F.col("text")).alias("toks"))
    comb = (
        toks.select(
            # index-walk, not slice+zip_with+filter: slice() copies the
            # array and filter() re-allocates — sequence/transform
            # builds each bigram string once with no array copies.
            # (sequence(2, 0) would count DOWN — short docs guarded.)
            F.explode(
                F.expr(
                    "CASE WHEN size(toks) = 0 THEN array() "
                    "WHEN size(toks) = 1 THEN array(toks[0]) "
                    "ELSE concat(transform(sequence(2, size(toks)), "
                    "i -> concat(toks[i - 2], ' ', toks[i - 1])), "
                    "array(toks[size(toks) - 1])) END"
                )
            ).alias("g")
        )
        .groupBy("g")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=True)
    )
    big = comb.where(F.col("g").contains(" ")).select(
        F.col("g").alias("bigram"),
        F.split("g", " ")[0].alias("a"),
        F.split("g", " ")[1].alias("b"),
        F.col("c").alias("c_ab"),
    )
    lasts = comb.where(~F.col("g").contains(" ")).select(
        F.col("g").alias("tok"), F.col("c").alias("c_last")
    )
    # margins combine as a UNION + re-agg (both inputs are vocab-sized
    # slices of the checkpointed aggregate) — a full-outer join here
    # would plan a sort-merge join for no benefit
    uni = (
        big.select(F.col("a").alias("tok"), F.col("c_ab").alias("c"))
        .unionByName(lasts.select("tok", F.col("c_last").alias("c")))
        .groupBy("tok")
        .agg(F.sum("c").alias("c"))
    )
    totals = uni.agg(F.sum("c").cast("long").alias("n_tokens"))
    btotals = big.agg(F.sum("c_ab").cast("long").alias("n_bigrams"))
    ua = uni.select(F.col("tok").alias("tok_a"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("tok").alias("tok_b"), F.col("c").alias("c_b"))
    scored = (
        big.where(F.col("c_ab") >= PMI_MIN_COUNT)
        .withColumn("tok_a", F.col("a"))
        .withColumn("tok_b", F.col("b"))
        .join(F.broadcast(ua), "tok_a")
        .join(F.broadcast(ub), "tok_b")
        .crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(btotals))
        .select(
            "bigram",
            F.col("c_ab").cast("long").alias("c_ab"),
            F.col("c_a").cast("long").alias("c_a"),
            F.col("c_b").cast("long").alias("c_b"),
            F.round(
                F.log(
                    (F.col("c_ab").cast("double") / F.col("n_bigrams"))
                    / (
                        (F.col("c_a").cast("double") / F.col("n_tokens"))
                        * (F.col("c_b").cast("double") / F.col("n_tokens"))
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), F.asc("bigram")).limit(PMI_TOP)


# --- RAKE keyword extraction -------------------------------------------------

RAKE_TOP = 20


@register(
    "text_rake_keywords",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, r.i AS pos, t[r.i] AS tok
  FROM (SELECT doc_id, {_dedup_tokens_sql('text')} AS t FROM documents),
       unnest(range(1, len(t) + 1)) AS r(i)
),
marked AS (
  SELECT doc_id, pos, lower(tok) AS tok,
         CASE WHEN lower(tok) IN ({_STOPLIST_SQL}) THEN 1 ELSE 0 END AS is_stop
  FROM toks
),
pids AS (
  SELECT doc_id, pos, tok, is_stop,
         sum(is_stop) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS pid
  FROM marked
),
words AS (
  SELECT doc_id, pid, pos, tok,
         count(*) OVER (PARTITION BY doc_id, pid) AS plen
  FROM pids WHERE is_stop = 0
),
wordstats AS (
  SELECT tok,
         count(*) AS freq,
         sum(plen - 1) AS deg,
         CAST(round(sum(plen - 1) * 1e6 / count(*)) AS BIGINT) AS score_u
  FROM words GROUP BY tok
),
phrases AS (
  SELECT w.doc_id, w.pid,
         string_agg(w.tok, ' ' ORDER BY w.pos) AS phrase,
         CAST(sum(s.score_u) AS BIGINT) AS score_u
  FROM words w JOIN wordstats s USING (tok)
  GROUP BY w.doc_id, w.pid
)
SELECT phrase,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       round(score_u / 1e6, 6) AS rake_score
FROM phrases
GROUP BY phrase, score_u
ORDER BY rake_score DESC, phrase
LIMIT {RAKE_TOP}
""",
    doc="RAKE keyword extraction (Rose et al. 2010): candidate phrases "
    "are maximal stopword-free token runs; each word scores "
    "degree/frequency where degree sums (phrase_len - 1) over the "
    "phrases containing it, and a phrase scores the sum of its word "
    "scores — the classic unsupervised keyphrase extractor, "
    "complementing the frequency-based keywords v1/v2. Determinism: "
    "word scores round to integer micro-units BEFORE the per-phrase "
    "sum, so phrase scores are exact BIGINTs on any partitioning/"
    "engine. Shuffle profile: one doc_id exchange shared by the "
    "phrase-id running sum and the in-phrase count window, one "
    "vocabulary hash-agg for word stats (broadcast back to the word "
    "stream), one (doc, phrase) agg, and TakeOrderedAndProject for "
    "the top-k.",
)
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from mrc_spark_jobs_pubmed_spark.operators.dedup import tokens_col

    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        "doc_id", F.posexplode(tokens_col(F.col("text"))).alias("pos0", "tok_raw")
    ).select(
        "doc_id", (F.col("pos0") + 1).alias("pos"), F.lower("tok_raw").alias("tok")
    )
    marked = toks.withColumn(
        "is_stop", F.col("tok").isin(*STOPWORDS).cast("int")
    )
    wdoc = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pids = marked.withColumn("pid", F.sum("is_stop").over(wdoc))
    words = (
        pids.where(F.col("is_stop") == 0)
        .withColumn("plen", F.count("*").over(Window.partitionBy("doc_id", "pid")))
        .select("doc_id", "pid", "pos", "tok", "plen")
    )
    wordstats = words.groupBy("tok").agg(
        F.round(F.sum(F.col("plen") - 1) * 1e6 / F.count("*"))
        .cast("long")
        .alias("score_u")
    )
    # Phrase tokens are CONTIGUOUS positions by construction (a phrase
    # is a maximal stopword-free run), so the phrase string is a slice
    # of the doc's token array at (min pos, count) — no
    # collect_list+array_sort per phrase instance (that assembly
    # measured 17.2s at sf1; this form runs ~4s). The (doc_id, pid)
    # agg reuses the window's doc_id partitioning (subset clustering),
    # adding zero exchanges.
    pgroups = (
        words.join(F.broadcast(wordstats), "tok")
        .groupBy("doc_id", "pid")
        .agg(
            F.min("pos").alias("start"),
            F.count("*").cast("int").alias("plen"),
            F.sum("score_u").cast("long").alias("score_u"),
        )
    )
    docs_arr = docs.select(
        "doc_id",
        F.transform(tokens_col(F.col("text")), lambda t: F.lower(t)).alias("ltoks"),
    )
    phrases = pgroups.join(docs_arr, "doc_id").select(
        F.array_join(
            F.slice(F.col("ltoks"), F.col("start"), F.col("plen")), " "
        ).alias("phrase"),
        "score_u",
    )
    return (
        phrases.groupBy("phrase", "score_u")
        .agg(F.count("*").alias("n_occurrences"))
        .select(
            "phrase",
            "n_occurrences",
            F.round(F.col("score_u") / 1e6, 6).alias("rake_score"),
        )
        .orderBy(F.desc("rake_score"), F.asc("phrase"))
        .limit(RAKE_TOP)
    )


# --- feature hashing ----------------------------------------------------------

HASH_DIM = 32  # hashed feature buckets


def _tok_bucket_sql() -> str:
    from mrc_spark_jobs_pubmed_spark.operators.dedup import _hex2long

    return f"{_hex2long('md5(tok)', 1)} % {HASH_DIM}"


@register(
    "text_hashing_vectorizer",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, t.tok AS tok
  FROM (SELECT doc_id, {_dedup_tokens_sql('text')} AS toklist FROM documents),
       unnest(toklist) AS t(tok)
)
SELECT doc_id,
       CAST({_tok_bucket_sql()} AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n
FROM toks
GROUP BY doc_id, {_tok_bucket_sql()}
""",
    doc="Feature hashing (the hashing trick): tokens map to a fixed "
    "32-bucket space via the engine-neutral md5 hash, giving every doc "
    "a bounded sparse count vector with no vocabulary build, no "
    "dictionary broadcast, and no OOV path — the stateless featurizer "
    "for the quality classifier at any corpus size. One (doc, bucket) "
    "hash-agg whose map-side partial bounds each doc's contribution at "
    "32 rows before the exchange.",
)
def text_hashing_vectorizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mrc_spark_jobs_pubmed_spark.operators.dedup import tokens_col

    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("tok")
    )
    bucket = F.expr(_tok_bucket_sql()).cast("long")
    return (
        toks.select("doc_id", bucket.alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("n"))
    )


# --- TextRank keyword extraction --------------------------------------------

TEXTRANK_ITERS = 3
TEXTRANK_TOP = 20
TEXTRANK_MIN_LEN = 4  # content-word gate; composition point for stopwords


def _textrank_sql() -> str:
    ctes = [
        f"""toks AS (
  SELECT doc_id, {_dedup_tokens_sql('text')} AS toks FROM documents
)""",
        f"""pairs AS (
  SELECT least(a, b) AS u, greatest(a, b) AS v FROM (
    SELECT string_split(gram, ' ')[1] AS a, string_split(gram, ' ')[2] AS b
    FROM (
      SELECT unnest(list_filter(list_transform(toks,
               (x, i) -> CASE WHEN i + 1 <= len(toks)
                              THEN x || ' ' || toks[i + 1] END),
               s -> s IS NOT NULL)) AS gram
      FROM toks
    )
  )
  WHERE length(a) >= {TEXTRANK_MIN_LEN} AND length(b) >= {TEXTRANK_MIN_LEN}
        AND a <> b
)""",
        "e0 AS MATERIALIZED (SELECT DISTINCT u, v FROM pairs)",
        "edges AS MATERIALIZED (SELECT u AS src, v AS dst FROM e0"
        " UNION ALL SELECT v AS src, u AS dst FROM e0)",
        "deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src)",
        "n AS (SELECT count(*) AS n_nodes FROM deg)",
        "r0 AS (SELECT src AS node, 1000000000000 // n_nodes AS r"
        " FROM deg CROSS JOIN n)",
        "base AS (SELECT 150000000000 // n_nodes AS b FROM n)",
    ]
    for it in range(TEXTRANK_ITERS):
        ctes.append(
            f"""r{it + 1} AS (
  SELECT e.dst AS node,
         (SELECT b FROM base) + (85 * sum(r.r // d.outdeg)) // 100 AS r
  FROM edges e
  JOIN r{it} r ON e.src = r.node
  JOIN deg d ON d.src = e.src
  GROUP BY e.dst
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT node AS word, CAST(r AS BIGINT) AS rank_p12
FROM r{TEXTRANK_ITERS}
ORDER BY rank_p12 DESC, word
LIMIT {TEXTRANK_TOP}
"""
    )


@register(
    "text_textrank_keywords",
    oracle=_textrank_sql(),
    doc="TextRank keyword extraction (Mihalcea & Tarau): adjacent-token "
    "co-occurrence builds an undirected word graph over content words "
    f"(length >= {TEXTRANK_MIN_LEN}; the stopword operator composes "
    "upstream for a curated gate), and PageRank over that graph ranks "
    "words by centrality rather than raw frequency — the standard "
    "unsupervised keyworder that catches connective vocabulary TF-IDF "
    "misses. Reuses graph_pagerank's fixed-point contract verbatim: "
    "1e-12-unit integer ranks, rank DIV degree contributions, "
    "(85*sum) DIV 100 damping — bit-reproducible on any engine or "
    "partitioning. Scale shape: the corpus collapses to its distinct "
    "co-occurrence EDGE SET before any iteration (vocab^2-bounded, "
    "tiny next to the corpus), so the per-iteration join + agg runs "
    "on vocabulary-sized tables; one corpus-sized explode total.",
)
def text_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mrc_spark_jobs_pubmed_spark.operators.dedup import tokens_col

    docs = load_table(spark, "documents", sf_dir)
    grams = (
        docs.select(tokens_col(F.col("text")).alias("toks"))
        .select(
            F.explode(
                F.expr(
                    "filter(zip_with(toks, slice(toks, 2, "
                    "greatest(size(toks) - 1, 0)), "
                    "(a, b) -> concat(a, ' ', b)), s -> s IS NOT NULL)"
                )
            ).alias("gram")
        )
        .select(
            F.split("gram", " ")[0].alias("a"),
            F.split("gram", " ")[1].alias("b"),
        )
        .where(
            (F.length("a") >= TEXTRANK_MIN_LEN)
            & (F.length("b") >= TEXTRANK_MIN_LEN)
            & (F.col("a") != F.col("b"))
        )
    )
    e0 = grams.select(
        F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
    ).distinct()
    edges = (
        e0.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .unionByName(e0.select(F.col("v").alias("src"), F.col("u").alias("dst")))
        .repartition("src")
        .localCheckpoint(eager=True)
    )
    deg = edges.groupBy("src").agg(F.count("*").alias("outdeg")).localCheckpoint()
    # node count and damping base stay DataFrames (1-row broadcasts, the
    # graph_pagerank idiom) — no driver-side action in the plan build
    n = deg.agg(F.count("*").alias("n_nodes"))
    ranks = deg.crossJoin(F.broadcast(n)).select(
        F.col("src").alias("node"),
        F.expr("1000000000000 div n_nodes").alias("r"),
    )
    base = n.select(F.expr("150000000000 div n_nodes").alias("b"))
    for _ in range(TEXTRANK_ITERS):
        ranks = (
            edges.join(ranks, edges.src == ranks.node)
            .join(deg, "src")
            .select("dst", F.expr("r div outdeg").alias("contrib"))
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("contrib").alias("s"))
            .crossJoin(F.broadcast(base))
            .select(
                "node", (F.col("b") + F.expr("(85 * s) div 100")).alias("r")
            )
        )
    return (
        ranks.select(F.col("node").alias("word"), F.col("r").cast("long").alias("rank_p12"))
        .orderBy(F.desc("rank_p12"), "word")
        .limit(TEXTRANK_TOP)
    )


# --- mutual-information feature ranking -------------------------------------

MI_VOCAB = 30  # rank the top-M df terms
MI_TOP = 20


@register(
    "text_mi_feature_ranking",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, source, unnest(list_distinct({_dedup_tokens_sql('text')}))
           AS tok
  FROM documents
),
n AS (SELECT count(*) AS n_docs FROM documents),
ns AS (SELECT source, count(*) AS n_s FROM documents GROUP BY source),
df AS (SELECT tok, count(*) AS df_t FROM toks GROUP BY tok),
vocab AS (SELECT tok, df_t FROM df ORDER BY df_t DESC, tok
          LIMIT {MI_VOCAB}),
dfs AS (
  SELECT t.tok, t.source, count(*) AS c1
  FROM toks t JOIN vocab v USING (tok)
  GROUP BY t.tok, t.source
),
cells AS (
  SELECT v.tok, v.df_t, s.source, s.n_s,
         coalesce(d.c1, 0) AS c1,
         s.n_s - coalesce(d.c1, 0) AS c0
  FROM vocab v CROSS JOIN ns s
  LEFT JOIN dfs d ON d.tok = v.tok AND d.source = s.source
),
contrib AS (
  SELECT tok, df_t,
         CASE WHEN c1 > 0 THEN c1 * CAST(round(ln(
                (c1 * (SELECT n_docs FROM n))::DOUBLE
                / (n_s * df_t)) * 1000000) AS BIGINT) ELSE 0 END
         + CASE WHEN c0 > 0 THEN c0 * CAST(round(ln(
                (c0 * (SELECT n_docs FROM n))::DOUBLE
                / (n_s * ((SELECT n_docs FROM n) - df_t))) * 1000000)
                AS BIGINT) ELSE 0 END AS part
  FROM cells
)
SELECT tok AS term,
       CAST(max(df_t) AS BIGINT) AS df,
       CAST(sum(part) // (SELECT n_docs FROM n) AS BIGINT) AS mi_u6
FROM contrib
GROUP BY tok
ORDER BY mi_u6 DESC, term
LIMIT {MI_TOP}
""",
    doc="Mutual-information feature ranking: MI between term PRESENCE "
    "and the source label for the top-" f"{MI_VOCAB} " "df terms — the "
    "feature-selection screen (which vocabulary separates corpus "
    "components?) behind classifier-based quality filters and domain "
    "routers, and the information-theoretic upgrade of raw df. "
    "Numeric contract: each (term, source, present) cell contributes "
    "count x round(ln(count*N / (rowmarginal*colmarginal)) * 1e6) — "
    "one single-op log rounded once per cell (the "
    "corpus_unigram_logprob discipline), summed exactly, closed by "
    "one integer division — so the ranking is order-independent. "
    "Scale shape: one doc-distinct token explode feeds df and the "
    "(term, source) contingency; vocab and source marginals are "
    "catalog-sized broadcasts; cells live on the vocab x sources "
    "grid.",
)
def text_mi_feature_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mrc_spark_jobs_pubmed_spark.operators.dedup import tokens_col

    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        "doc_id",
        "source",
        F.explode(F.array_distinct(tokens_col(F.col("text")))).alias("tok"),
    )
    n = docs.agg(F.count("*").alias("n_docs"))
    ns = docs.groupBy("source").agg(F.count("*").alias("n_s"))
    df = toks.groupBy("tok").agg(F.count("*").alias("df_t"))
    vocab = df.orderBy(F.desc("df_t"), "tok").limit(MI_VOCAB)
    dfs = (
        toks.join(F.broadcast(vocab.select("tok")), "tok")
        .groupBy("tok", "source")
        .agg(F.count("*").alias("c1"))
    )
    cells = (
        F.broadcast(vocab)
        .crossJoin(F.broadcast(ns))
        .join(dfs, ["tok", "source"], "left")
        .crossJoin(F.broadcast(n))
        .select(
            "tok",
            "df_t",
            "n_s",
            "n_docs",
            F.coalesce("c1", F.lit(0)).alias("c1"),
            (F.col("n_s") - F.coalesce("c1", F.lit(0))).alias("c0"),
        )
    )
    part = (
        F.when(
            F.col("c1") > 0,
            F.col("c1")
            * F.round(
                F.log(
                    (F.col("c1") * F.col("n_docs")).cast("double")
                    / (F.col("n_s") * F.col("df_t"))
                )
                * 1e6
            ).cast("long"),
        ).otherwise(0)
        + F.when(
            F.col("c0") > 0,
            F.col("c0")
            * F.round(
                F.log(
                    (F.col("c0") * F.col("n_docs")).cast("double")
                    / (F.col("n_s") * (F.col("n_docs") - F.col("df_t")))
                )
                * 1e6
            ).cast("long"),
        ).otherwise(0)
    )
    return (
        cells.select("tok", "df_t", "n_docs", part.alias("part"))
        .groupBy("tok")
        .agg(
            F.max("df_t").cast("long").alias("df"),
            F.expr("CAST(sum(part) div max(n_docs) AS LONG)").alias("mi_u6"),
        )
        .select(F.col("tok").alias("term"), "df", "mi_u6")
        .orderBy(F.desc("mi_u6"), "term")
        .limit(MI_TOP)
    )


# --- template (slot-masked vocabulary) duplicate detection ------------------


@register(
    "text_template_dedup",
    oracle="""
WITH t AS (
  SELECT doc_id, source,
         md5(array_to_string(list_sort(list_distinct(
           list_filter(string_split_regex(
             regexp_replace(lower(trim(text)), '[0-9]+', '#', 'g'),
             '\\s+'), x -> length(x) > 0))), ' ')) AS template_hash
  FROM documents
)
SELECT template_hash,
       CAST(count(*) AS BIGINT) AS n_docs,
       min(doc_id) AS canonical_id,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources
FROM t
GROUP BY template_hash
HAVING count(*) >= 2
""",
    doc="Template-duplicate detection via the slot-masked VOCABULARY "
    "fingerprint: digit runs mask to '#' (the price/date/id slots of "
    "machine-generated pages), then the SORTED DISTINCT token set "
    "hashes to one template id — so reorderings, repetition-count "
    "changes, and slot-value changes of the same boilerplate all "
    "collapse, which exact dedup misses entirely and MinHash only "
    "partially scores, with zero pairwise work. n_sources > 1 flags "
    "templates leaking ACROSS corpus components; groups feed "
    "keep-best exactly as dedup_exact clusters. Scale shape: "
    "normalize + sort-within-row + hash is one codegen'd zero-shuffle "
    "projection (sort cost is per-doc vocab, not corpus); ONE "
    "hash-agg on 16-byte keys with map-side partials.",
)
def text_template_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    t = docs.select(
        "doc_id",
        "source",
        F.md5(
            F.array_join(
                F.array_sort(
                    F.array_distinct(
                        F.expr(
                            "regexp_extract_all(regexp_replace(lower(trim(text)),"
                            " '[0-9]+', '#'), '\\\\S+', 0)"
                        )
                    )
                ),
                " ",
            )
        ).alias("template_hash"),
    )
    return (
        t.groupBy("template_hash")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("doc_id").alias("canonical_id"),
            F.countDistinct("source").cast("long").alias("n_sources"),
        )
        .where(F.col("n_docs") >= 2)
    )


# --- positional phrase search ------------------------------------------------

PHRASES = [("fast", "table"), ("hash", "join"), ("table", "scan")]


@register(
    "text_phrase_search",
    oracle=f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                     x -> length(x) > 0) AS t
  FROM documents
),
phrases(w1, w2) AS (VALUES {', '.join(f"('{a}', '{b}')" for a, b in PHRASES)}),
hits AS (
  SELECT p.w1 || ' ' || p.w2 AS phrase, d.doc_id,
         len(list_filter(range(1, len(d.t)),
             i -> d.t[i] = p.w1 AND d.t[i + 1] = p.w2)) AS cnt
  FROM toks d CROSS JOIN phrases p
)
SELECT phrase,
       CAST(sum(CASE WHEN cnt > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
       CAST(sum(cnt) AS BIGINT) AS n_occurrences,
       CAST(min(CASE WHEN cnt > 0 THEN doc_id END) AS BIGINT) AS min_doc
FROM hits
GROUP BY phrase
""",
    doc="Positional phrase search ('w1 w2' as adjacent tokens, the "
    "phrase-query semantics a bag-of-words inverted index cannot "
    "answer): adjacency is evaluated per document with a zero-shuffle "
    "higher-order filter over token positions — NO posting-list "
    "self-join, no explode; each doc emits one count per phrase. "
    "The classic positional-index join (termA.pos + 1 = termB.pos) "
    "is what this replaces: at 100 TB the HOF form scans the corpus "
    "once for the whole phrase batch (broadcast phrase table) and "
    "aggregates 3 tiny rows, where the join form shuffles two "
    "posting lists per phrase. Same hit semantics, engine-exact "
    "integer counts.",
)
def text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    phrases = F.broadcast(
        spark.createDataFrame(PHRASES, ["w1", "w2"])
    )
    toks = docs.select(
        "doc_id",
        F.expr("regexp_extract_all(lower(trim(text)), '\\\\S+', 0)").alias("t"),
    )
    hits = toks.join(phrases).select(
        F.concat_ws(" ", "w1", "w2").alias("phrase"),
        "doc_id",
        # guard: Spark's sequence(1, 0) is DESCENDING [1, 0] (DuckDB's
        # range(1, 1) is empty), so short docs must short-circuit
        F.expr(
            "CASE WHEN size(t) < 2 THEN 0 ELSE"
            " size(filter(sequence(1, size(t) - 1),"
            " i -> element_at(t, i) = w1 AND element_at(t, i + 1) = w2))"
            " END"
        ).alias("cnt"),
    )
    return hits.groupBy("phrase").agg(
        F.sum(F.expr("CASE WHEN cnt > 0 THEN 1 ELSE 0 END"))
        .cast("long")
        .alias("n_docs"),
        F.sum("cnt").cast("long").alias("n_occurrences"),
        F.min(F.expr("CASE WHEN cnt > 0 THEN doc_id END"))
        .cast("long")
        .alias("min_doc"),
    )
