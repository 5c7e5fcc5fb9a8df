"""Deduplication operators for LLM-scale corpora (SURVEY.md §2 Part B).

Four families over `documents(doc_id, text)`:

* exact       — content hash (sha256) group-by; one shuffle on the hash.
* MinHash+LSH — shingle → k minhashes → banded bucket keys → bucket
                equi-join for candidate pairs. The all-pairs O(n²) compare
                becomes a join on band keys: at 100 TB only same-bucket
                docs meet, and AQE's skew-join splits hot buckets.
* SimHash     — 32-bit sign-of-weighted-sum fingerprint; near-dups differ
                in few bits. Fingerprint is one narrow BIGINT per doc.
* n-gram Jaccard — shingle self-join with exact set-overlap arithmetic;
                the verification stage behind MinHash candidates.

Cross-engine determinism rule: every hash is md5 (lowercase hex in both
Spark and DuckDB), minhash = lexicographic MIN over hex strings, and hex
digits are decoded with instr('0123456789abcdef', ch)-1 — no engine-
specific hash functions anywhere, so the DuckDB oracle can replay the
exact computation. Spark/DuckDB expression pairs are generated from the
shared constants below.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SHINGLE_K = 3  # word n-gram size
N_MINHASHES = 16
BAND_SIZE = 4  # rows per LSH band
N_BANDS = N_MINHASHES // BAND_SIZE
SIMHASH_BITS = 32  # 8 hex chars of md5

# --- tokenize / shingle ----------------------------------------------------


def tokens_col(text: Column) -> Column:
    """Whitespace tokens of already-clean text (documents fixture).

    `regexp_extract_all('\\S+')` — maximal non-whitespace runs — is
    value-identical to split-then-drop-empties (verified on fixtures +
    edge cases) but is a single codegen'd expression with no interpreted
    `filter` lambda."""
    return F.regexp_extract_all(text, F.lit(r"\S+"), F.lit(0))


def tokens_sql(expr: str) -> str:
    return (
        f"list_filter(string_split_regex(trim({expr}), '\\s+'), t -> length(t) > 0)"
    )


def shingles_sql(toks_expr: str) -> str:
    """DuckDB shingle expr; `toks_expr` must be a bound column name (the
    index lambda re-references it for element access)."""
    k = SHINGLE_K
    parts = " || ' ' || ".join(f"{toks_expr}[i + {j}]" for j in range(1, k))
    return (
        f"list_filter(list_transform({toks_expr}, (x, i) -> "
        f"CASE WHEN i + {k - 1} <= len({toks_expr}) THEN x || ' ' || {parts} END), "
        f"s -> s IS NOT NULL)"
    )


# zip_with over shifted slices, NOT element_at(toks, i) inside a
# lambda: Catalyst's CollapseProject inlines `toks` into the lambda,
# so an element_at(toks, ...) per element re-evaluates the whole
# split/filter chain per element — O(len²) per doc. zip_with's array
# arguments evaluate once per row. Bound to a column named `toks`.
SHINGLES_ARR_EXPR = (
    "filter(zip_with(zip_with(toks, slice(toks, 2, greatest(size(toks) - 1, 0)), "
    "(x, y) -> concat(x, ' ', y)), slice(toks, 3, greatest(size(toks) - 2, 0)), "
    "(xy, z) -> concat(xy, ' ', z)), s -> s IS NOT NULL)"
)


def shingle_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    distinct: bool = True,
) -> DataFrame:
    """(doc_id, shingle) long format — the LSH/Jaccard input.

    `distinct=True` gives per-doc set semantics (required for Jaccard)
    via array_distinct BEFORE the explode — a per-row dedup, zero
    shuffle, unlike DataFrame.distinct(). MinHash passes False since MIN
    is duplicate-insensitive and skips even that.

    Shingles come from ONE overlapping-regex pass — normalize whitespace,
    then `(?=(tok tok tok))tok ` captures the k-gram at every token start
    while consuming a single token. Identical multiset to the
    tokenize → zip_with-concat → explode form (verified exhaustively on
    the fixtures), but all codegen'd JVM string ops with no interpreted
    higher-order lambdas and no intermediate arrays: MEASURED sf0.1
    (2.6M shingles, local[32]) 0.35s vs 0.65s for the array form — the
    shingle scan used to dominate the whole MinHash pipeline.
    """
    tok = "\\\\S+"
    look = " ".join([tok] * SHINGLE_K)
    arr = F.expr(
        f"regexp_extract_all(concat(regexp_replace(trim({text_col}), "
        f"'\\\\s+', ' '), ' '), '(?=({look})){tok} ', 1)"
    )
    if distinct:
        arr = F.array_distinct(arr)
    return df.select(id_col, F.explode(arr).alias("shingle"))


SHINGLE_ROWS_SQL = f"""
  shingle_rows AS (
    SELECT DISTINCT doc_id, s.shingle AS shingle
    FROM (
      SELECT doc_id, {shingles_sql('toks')} AS shingles
      FROM (SELECT doc_id, {tokens_sql('text')} AS toks FROM documents)
    ),
    unnest(shingles) AS s(shingle)
  )
"""

# --- exact dedup -----------------------------------------------------------


def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group by content hash: (content_hash, n_copies, canonical id).

    At scale: one hash-agg shuffle; the canonical id (min) makes re-runs
    idempotent — the engine's version of the reference's skip-if-exists
    resume (A5).
    """
    return (
        df.select(id_col, F.sha2(F.col(text_col), 256).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.count("*").alias("n_copies"), F.min(id_col).alias("canonical_doc_id"))
    )


EXACT_DEDUP_SQL = """
SELECT sha256(text) AS content_hash,
       count(*) AS n_copies,
       min(doc_id) AS canonical_doc_id
FROM documents
GROUP BY sha256(text)
"""

# --- MinHash + LSH ---------------------------------------------------------


_MERSENNE = (1 << 31) - 1


def _hex2long(h_expr: str, start: int) -> str:
    """8 hex chars of `h_expr` from 1-based `start` → BIGINT (engine-
    neutral: instr decode + positional powers, no conv())."""
    terms = " + ".join(
        f"CAST((instr('0123456789abcdef', substr({h_expr}, {start + j}, 1)) - 1) "
        f"AS BIGINT) * {16 ** (7 - j)}"
        for j in range(8)
    )
    return f"({terms})"


def minhash_signatures(
    shingle_df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Raw MinHash signature table (doc_id, m0..m15) — the banding-
    scheme-independent core of `minhash_band_keys`, exposed so callers
    can band the SAME signatures multiple ways (the (b, r) tradeoff
    sweep) without recomputing the shingle hash pass."""
    hashed = (
        shingle_df.select(id_col, F.md5(F.col("shingle")).alias("h"))
        .select(
            id_col,
            F.expr("CAST(conv(substr(h, 1, 8), 16, 10) AS BIGINT)").alias("h1"),
            F.expr("CAST(conv(substr(h, 9, 8), 16, 10) AS BIGINT)").alias("h2"),
        )
    )
    aggs = [
        F.min((F.col("h1") + F.lit(i) * F.col("h2")) % F.lit(_MERSENNE)).alias(f"m{i}")
        for i in range(N_MINHASHES)
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def minhash_band_keys(shingle_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, band_id, band_key): banded MinHash signature.

    Kirsch-Mitzenmacher scheme: ONE md5 per shingle, split into two
    32-bit ints h1/h2 (materialized as columns so the hash runs once),
    then k derived hashes h_i = (h1 + i*h2) mod (2^31-1). minhash_i =
    MIN over shingles of h_i; band_key joins BAND_SIZE adjacent
    minhashes with '|'; equal band_key ⇒ LSH candidate pair. 16× fewer
    hash calls than per-seed hashing, and the signature aggregates/
    shuffles as longs, not hex strings.
    """
    # Spark side decodes hex via conv() — one call per half vs the 8
    # substr+instr ops of _hex2long (kept for the DuckDB dialect, which
    # has no conv). Same values, measured ~35% faster on the hash stage.
    sig = minhash_signatures(shingle_df, id_col=id_col)
    # stack() emits the N_BANDS rows from ONE aggregation pass (a union of
    # per-band selects would re-run the whole upstream plan per band).
    stack_args = ", ".join(
        f"{b}, concat_ws('|', {', '.join(f'm{b * BAND_SIZE + r}' for r in range(BAND_SIZE))})"
        for b in range(N_BANDS)
    )
    return sig.select(
        id_col,
        F.expr(f"stack({N_BANDS}, {stack_args}) AS (band_id, band_key)"),
    )


def _minhash_sig_sql() -> str:
    aggs = ", ".join(
        f"min((h1 + {i} * h2) % {_MERSENNE}) AS m{i}" for i in range(N_MINHASHES)
    )
    return (
        f"SELECT doc_id, {aggs} FROM ("
        f"SELECT doc_id, {_hex2long('h', 1)} AS h1, {_hex2long('h', 9)} AS h2 "
        f"FROM (SELECT doc_id, md5(shingle) AS h FROM shingle_rows)"
        f") GROUP BY doc_id"
    )


def minhash_ctes_sql() -> str:
    """CTE list (shingle_rows, sig, bands) with no leading WITH — for
    callers that must splice these into their own WITH list (e.g. a
    WITH RECURSIVE query, where DuckDB does not resolve CTEs nested
    inside another CTE's subquery)."""
    band_selects = []
    for b in range(N_BANDS):
        cols = " || '|' || ".join(
            f"CAST(m{b * BAND_SIZE + r} AS VARCHAR)" for r in range(BAND_SIZE)
        )
        band_selects.append(
            f"SELECT doc_id, {b} AS band_id, {cols} AS band_key FROM sig"
        )
    union = " UNION ALL ".join(band_selects)
    return (
        f"{SHINGLE_ROWS_SQL.strip()}, sig AS ({_minhash_sig_sql()}), "
        f"bands AS ({union})"
    )


def minhash_band_keys_sql() -> str:
    return f"WITH {minhash_ctes_sql()} SELECT doc_id, band_id, band_key FROM bands"


def lsh_candidate_pairs(band_keys: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Distinct candidate pairs from shared LSH buckets (a < b).

    The self-join is hinted shuffle-hash: at scale the band table is the
    whole corpus (16 rows/doc) and can never broadcast, and locally the
    hint makes the two sides' shuffles canonically identical so AQE
    plans a ReusedExchange — the shingle → md5 → 16-min signature pass
    runs ONCE instead of twice (MEASURED in llm_corpus_prep at sf0.1:
    the un-hinted plan re-scanned and re-hashed the corpus for each
    join side because one side became a BroadcastExchange).
    """
    a = band_keys.alias("a").hint("shuffle_hash")
    b = band_keys.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .distinct()
    )


# --- n-gram Jaccard --------------------------------------------------------


def jaccard_pairs(shingle_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Exact shingle-set Jaccard for every doc pair sharing ≥1 shingle.

    The shingle equi-join IS the candidate generation: pairs with zero
    overlap never materialize. Set sizes ride along as a window count
    over the shingle rows, so there is no separate sizes aggregate and
    no size joins — each would rescan and re-shingle the corpus (the
    old form planned 8 parquet scans; this one 4, and runs 2.4x faster
    at sf0.1: 1.4s vs 3.5s). The self-join is hinted shuffle-hash:
    no per-side sort, and the two identical shuffles are eligible for
    AQE exchange reuse. The join key is xxhash64(shingle), not the
    shingle string: the shuffle ships 8-byte longs instead of ~20-byte
    strings and the join compares longs (MEASURED sf0.1: 1.54s vs
    2.11s, identical output; a 64-bit collision would need ~2^32
    distinct shingles to become likely — at 100 TB, shard the corpus
    or widen to (xxhash64, length) before that point). jaccard left as
    a raw double (deterministic int division, no rounding).
    """
    from pyspark.sql import Window

    sized = shingle_df.select(
        id_col, F.xxhash64("shingle").alias("sh64")
    ).withColumn("n_sh", F.count("*").over(Window.partitionBy(id_col)))
    a = sized.alias("a").hint("shuffle_hash")
    b = sized.alias("b")
    return (
        a.join(
            b,
            (F.col("a.sh64") == F.col("b.sh64"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .agg(F.count("*").alias("n_common"))
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )


JACCARD_PAIRS_SQL = f"""
WITH {SHINGLE_ROWS_SQL.strip()},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingle_rows GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM shingle_rows a JOIN shingle_rows b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       n_common / (sa.n_sh + sb.n_sh - n_common) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
"""

# --- SimHash ---------------------------------------------------------------


def _simhash_bit_term(bit: int, dialect: str) -> str:
    """±1 contribution of one token to simhash bit `bit` (shared spec).

    Hex char (bit//4) of md5(tok) decoded via instr; bit (bit%4) extracted
    with a shift+mask. `dialect` picks the shift syntax.
    """
    ch = bit // 4 + 1
    j = bit % 4
    hexval = f"(instr('0123456789abcdef', substr(md5(tok), {ch}, 1)) - 1)"
    shifted = f"shiftright({hexval}, {j})" if dialect == "spark" else f"({hexval} >> {j})"
    return f"CASE WHEN ({shifted} & 1) = 1 THEN 1 ELSE -1 END"


def simhash_fingerprints(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, simhash): 32-bit fingerprint as BIGINT.

    One explode + one group-by with 32 sum aggregates — a single shuffle,
    all JVM-side expression work.

    TOTAL over docs: `explode_outer` keeps token-less documents (empty /
    whitespace text) as a NULL-token row whose bit terms all evaluate to
    -1, so they fingerprint to 0 instead of silently vanishing from the
    output — at scale a dropped row poisons every downstream
    one-fingerprint-per-doc join. Identical-empty docs banding together
    at 0 is the correct dedup reading of identical (empty) content.
    """
    toks = df.select(
        id_col,
        F.explode_outer(F.array_distinct(tokens_col(F.col(text_col)))).alias("tok"),
    )
    # decode the 32-bit value ONCE per token, then each bit term is a
    # shift+mask on the long — not 32 separate substr/instr decodes.
    # Hex char c (1-based, most-significant first) of the DuckDB-dialect
    # spec holds bits (8-c)*4 .. (8-c)*4+3, so spec bit b lives at
    # (7 - b//4)*4 + b%4.
    valued = toks.select(
        id_col,
        F.expr("CAST(conv(substr(md5(tok), 1, 8), 16, 10) AS BIGINT)").alias("v"),
    )
    aggs = [
        F.sum(
            F.expr(
                f"CASE WHEN (shiftright(v, {(7 - b // 4) * 4 + b % 4}) & 1) = 1 "
                "THEN 1 ELSE -1 END"
            )
        ).alias(f"s{b}")
        for b in range(SIMHASH_BITS)
    ]
    sig = valued.groupBy(id_col).agg(*aggs)
    fp = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for b in range(SIMHASH_BITS)
    )
    return sig.select(id_col, F.expr(fp).alias("simhash"))


def simhash_fingerprints_sql() -> str:
    terms = ", ".join(
        f"sum({_simhash_bit_term(b, 'duckdb')}) AS s{b}" for b in range(SIMHASH_BITS)
    )
    fp = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for b in range(SIMHASH_BITS)
    )
    return f"""
WITH toks AS (
  SELECT DISTINCT doc_id, t.tok AS tok
  FROM (SELECT doc_id, {tokens_sql('text')} AS toklist FROM documents),
       unnest(CASE WHEN len(toklist) = 0 THEN [CAST(NULL AS VARCHAR)]
                   ELSE toklist END) AS t(tok)
),
sig AS (SELECT doc_id, {terms} FROM toks GROUP BY doc_id)
SELECT doc_id, {fp} AS simhash FROM sig
"""


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 25,
) -> DataFrame:
    """Duplicate-cluster resolution: connected components over the LSH
    candidate-pair graph by iterative min-label propagation.

    Dropping just the doc_b side of candidate pairs over-deletes when
    clusters chain (a~b, b~c but not a~c); components give each doc its
    cluster's min doc_id as a canonical label. Each iteration is one
    distributed join + min-agg (Pregel-lite); iteration count is graph
    diameter, which for near-dup clusters (near-cliques) is tiny.
    `localCheckpoint` cuts the growing lineage each round — without it
    the plan doubles per iteration and the driver, not the data, becomes
    the bottleneck at scale.

    Two scale properties (r7 replan, A/B in PERF.md):

    * **Only edge endpoints iterate.** In a deduped corpus the vast
      majority of docs touch no candidate pair; carrying them through
      every round's shuffle is wasted exchange volume (at 100 TB the
      singleton majority IS the corpus). The loop runs on the distinct
      endpoint set; singletons attach at the end as one left join with
      ``coalesce(label, node)`` — their component is themselves by
      definition.
    * **Convergence check is a 1-row agg, not a join.** Labels are
      min-folded each round so they are monotonically non-increasing;
      the label SUM strictly decreases iff any label changed. Comparing
      the sum round-over-round replaces the old join+filter+count change
      probe with a narrow scan of the just-checkpointed table.
    * **Pointer jumping bounds rounds at O(log diameter).** Each round
      also min-folds every node's label's own label, so label chains
      halve per round and ``max_iter=25`` covers diameter 2^25 —
      without it, a duplicate chain longer than max_iter links
      (template families chain exactly this way) would silently ship
      unconverged component labels. Chain-fixture test pins this.

    Driver-side control flow remains bounded and data-free: one int per
    round.
    """
    # Materialize the symmetrized edge list ONCE: it is consumed
    # diameter+1 times (endpoint extraction + every propagation round),
    # and the caller's lineage is typically the full LSH
    # shingle->minhash->band pipeline — without the checkpoint each
    # round re-executes that corpus-sized chain (measured at sf0.1:
    # the 2-round loop cost ~2.5x the pairs job itself).
    # The convergence probe below sums labels as decimal(38,0); a
    # non-numeric id would cast to NULL, the sum would be NULL, and the
    # `prev_sum is not None` empty-edges guard would silently treat a
    # NON-empty graph as empty (every node shipped as its own
    # component). Fail loudly at entry instead: hash string ids to a
    # numeric surrogate before calling.
    from pyspark.sql.types import NumericType

    _edge_a_type = edges.schema["a"].dataType
    if not isinstance(_edge_a_type, NumericType):
        raise TypeError(
            "connected_components requires NUMERIC node ids (got "
            f"{_edge_a_type.simpleString()} for edge column 'a'): the "
            "decimal(38,0) convergence probe would NULL out on a string "
            "id and silently report an empty graph. Map string ids to "
            "e.g. xxhash64 surrogates first."
        )
    sym = (
        edges.select(F.col("a"), F.col("b"))
        .union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .localCheckpoint(eager=True)
    )
    lab = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint(eager=True)
    )
    # decimal(38,0) sum: id-sums at 1e9+ nodes x 1e9+ ids would overflow
    # an int64 accumulator; the probe must stay exact at any scale.
    _probe = F.sum(F.col("label").cast("decimal(38,0)"))
    prev_sum = lab.agg(_probe).collect()[0][0]
    if prev_sum is not None:  # empty edge set -> all singletons, skip loop
        for _ in range(max_iter):
            prop = (
                sym.join(lab, sym.a == lab.node)
                .select(F.col("b").alias("node"), F.col("label"))
            )
            # Pointer jump (label-of-label): plain edge propagation
            # converges in O(diameter) rounds, so a duplicate CHAIN
            # longer than max_iter links (template families chain this
            # way) would silently return unconverged labels. Folding
            # each node's label's OWN label into the same min makes
            # convergence logarithmic — max_iter=25 then covers
            # diameter 2^25 — for one extra self-join of the
            # (checkpointed, endpoint-sized) label table per round.
            # Every label value IS an endpoint node (labels start as
            # node ids and min-fold only moves them between endpoint
            # rows), so the inner join is total.
            jump = (
                lab.select(F.col("label").alias("node_l"), "node")
                .join(
                    lab.select(
                        F.col("node").alias("node_l"),
                        F.col("label").alias("label"),
                    ),
                    "node_l",
                )
                .select("node", "label")
            )
            new = (
                lab.unionByName(prop)
                .unionByName(jump)
                .groupBy("node")
                .agg(F.min("label").alias("label"))
                .localCheckpoint(eager=True)
            )
            cur_sum = new.agg(_probe).collect()[0][0]
            lab = new
            if cur_sum == prev_sum:
                break
            prev_sum = cur_sum
    return (
        nodes.select(F.col(id_col).alias("node"))
        .join(lab, "node", "left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce(F.col("label"), F.col("node")).alias("component"),
        )
    )


# --- line-level dedup (CCNet-style) -----------------------------------------
#
# Real LLM pipelines drop lines that recur across many documents
# (boilerplate, navigation chrome, license headers) before any document-
# level dedup. The fixture corpus has no newlines, so "lines" are
# deterministic fixed-width word windows; on real data the splitter is
# `split(text, '\n')` with the same downstream plan. Shape at 100 TB:
# one narrow pass builds lines per doc (pure Column, no shuffle), one
# hash-agg counts distinct docs per line, hot lines broadcast back as an
# anti-join set (their count is tiny by construction — only lines above
# the threshold), and docs reassemble with a positional sort inside the
# aggregate, never a global sort.

LINE_WORDS = 10


def _lines_pattern(width: int) -> str:
    """Alternation matching `width` tokens, else width-1, … else 1 — regex
    alternation is ordered and matching is non-overlapping/sequential, so
    one pass chunks the token stream into width-word lines plus a shorter
    tail, exactly like the old tokenize → slice form."""
    tok = r"\S+"
    return "|".join(" ".join([tok] * k) for k in range(width, 0, -1))


def pseudo_lines(text: Column, width: int = LINE_WORDS) -> Column:
    """array<string> of `width`-word windows over the whitespace tokens.

    ONE codegen'd regexp pass over whitespace-normalized text (same trick
    as `shingle_rows`; MEASURED 7.6x faster than the previous interpreted
    transform + slice + array_join form on the sf0.1 line build, with
    identical output on every fixture row). Leading/trailing whitespace
    is normalized away (the old form emitted empty-string tokens there);
    the SQL mirror implements the same normalized spec."""
    return F.regexp_extract_all(
        F.regexp_replace(F.trim(text), r"\s+", " "),
        F.lit(_lines_pattern(width)),
        F.lit(0),
    )


def pseudo_lines_sql(text_expr: str, width: int = LINE_WORDS) -> str:
    """DuckDB mirror of `pseudo_lines` — deliberately NOT the same
    regexp trick: the oracle stays the definitional tokenize → slice
    form (over identically normalized text) so the two sides are
    independent implementations of one spec and a regex subtlety cannot
    pass both."""
    # DuckDB regexp_replace replaces only the first match without 'g'
    toks = (
        f"string_split(regexp_replace(trim({text_expr}), '\\s+', ' ', 'g'), ' ')"
    )
    return (
        f"[array_to_string({toks}[i*{width}+1 : i*{width}+{width}], ' ') "
        f"for i in range(0, CAST(floor((len({toks})-1)/{width}) AS BIGINT) + 1)]"
    )


def drop_common_lines(
    docs: DataFrame,
    max_docs_per_line: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    width: int = LINE_WORDS,
) -> DataFrame:
    """Remove lines that appear in more than `max_docs_per_line` distinct
    docs; returns (id, text_kept, n_lines, n_lines_dropped).

    The hot-line set is the output of the frequency aggregate filtered to
    the threshold — at corpus scale it is orders of magnitude smaller
    than the line table, so the removal join broadcasts.
    """
    lines = docs.select(
        F.col(id_col),
        F.posexplode(pseudo_lines(F.col(text_col), width)).alias("pos", "line"),
    )
    hot = (
        lines.groupBy("line")
        .agg(F.countDistinct(id_col).alias("n_docs"))
        .filter(F.col("n_docs") > max_docs_per_line)
        .select("line")
    )
    kept = lines.join(F.broadcast(hot), "line", "left_anti")
    per_doc = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            " ",
        ).alias("text_kept"),
        F.count("*").alias("n_lines_kept"),
    )
    totals = docs.select(
        F.col(id_col), F.size(pseudo_lines(F.col(text_col), width)).alias("n_lines")
    )
    return (
        totals.join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("text_kept", F.lit("")).alias("text_kept"),
            "n_lines",
            (F.col("n_lines") - F.coalesce("n_lines_kept", F.lit(0)))
            .cast("long")
            .alias("n_lines_dropped"),
        )
    )


# --- exact duplicate-span coverage -----------------------------------------

SPAN_W = 8  # words per span — long enough that a shared span implies copying


def span_gram_rows(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, pos, g): the md5 of the W-word gram starting at each token
    position (1-based). The positional analogue of `shingle_rows` — same
    single overlapping-regex pass, but positions are kept (posexplode)
    because span *coverage* needs to union overlapping hits back into
    token intervals. Narrow until the explode; no shuffle."""
    tok = "\\\\S+"
    look = " ".join([tok] * SPAN_W)
    arr = F.expr(
        f"regexp_extract_all(concat(regexp_replace(trim({text_col}), "
        f"'\\\\s+', ' '), ' '), '(?=({look})){tok} ', 1)"
    )
    return df.select(
        F.col(id_col), F.posexplode(arr).alias("pos0", "gram")
    ).select(
        # xxhash64, not md5: the hash is only a within-engine grouping
        # key (it never reaches the output — the DuckDB mirror groups on
        # md5 and agrees because both group identical gram strings), so
        # the 8-byte long beats a 32-char hex string on shuffle bytes
        # and window-sort cost — same trade the Jaccard verifier makes.
        id_col,
        (F.col("pos0") + 1).alias("pos"),
        F.xxhash64("gram").alias("g"),
    )


def span_coverage(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact duplicate-SPAN coverage per document — the scalable stand-in
    for suffix-array substring dedup (Lee et al., "Deduplicating Training
    Data Makes Language Models Better"): any W-word span that also occurs
    in another document marks its W token positions as duplicated, and
    overlapping marks union exactly.

    Per doc: n_tokens, dup_spans (cross-doc-duplicated start positions),
    dup_tokens (exact union of the W-wide intervals), dup_frac.

    Scale shape (100 TB): gram rows shuffle ONCE on the gram hash — the
    cross-doc test is min(doc_id) != max(doc_id) over that partition (a
    window, not a count-distinct join, so no second exchange and no
    re-scan); surviving positions shuffle once on doc_id where a lag
    window turns overlapping spans into exact covered-token counts
    (sum of least(W, pos - prev_pos)). Both keys are near-uniform (md5 /
    doc ids), and per-partition state is O(group size). Nothing is
    quadratic and the corpus is scanned once.
    """
    from pyspark.sql import Window

    grams = span_gram_rows(df, text_col, id_col)
    wg = Window.partitionBy("g")
    dpos = (
        grams.withColumn("mn", F.min(id_col).over(wg))
        .withColumn("mx", F.max(id_col).over(wg))
        .where(F.col("mn") != F.col("mx"))
        .select(id_col, "pos")
    )
    wd = Window.partitionBy(id_col).orderBy("pos")
    cov = (
        dpos.withColumn(
            "covered",
            F.least(
                F.lit(SPAN_W),
                F.col("pos")
                - F.coalesce(F.lag("pos").over(wd), F.col("pos") - SPAN_W),
            ),
        )
        .groupBy(id_col)
        .agg(
            F.count("*").alias("dup_spans"),
            F.sum("covered").cast("long").alias("dup_tokens"),
        )
    )
    totals = df.select(
        F.col(id_col), F.size(tokens_col(F.col(text_col))).alias("n_tokens")
    )
    return totals.join(cov, id_col, "left").select(
        id_col,
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.coalesce("dup_spans", F.lit(0)).cast("long").alias("dup_spans"),
        F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
        F.when(F.col("n_tokens") == 0, F.lit(0.0))
        .otherwise(
            F.round(
                F.coalesce("dup_tokens", F.lit(0)).cast("double")
                / F.col("n_tokens"),
                6,
            )
        )
        .alias("dup_frac"),
    )


def span_coverage_sql() -> str:
    """DuckDB mirror of span_coverage: identical gram strings (space-joined
    token slices ≡ the overlapping-regex capture), identical md5 keys,
    identical window arithmetic."""
    w = SPAN_W
    slice_expr = f"array_to_string(toks[i:i + {w - 1}], ' ')"
    return f"""
WITH toksed AS (SELECT doc_id, {tokens_sql('text')} AS toks FROM documents),
grams AS (
  SELECT doc_id, t.i AS pos, md5({slice_expr}) AS g
  FROM toksed, unnest(generate_series(1, greatest(len(toks) - {w - 1}, 0))) t(i)
),
dpos AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos,
           min(doc_id) OVER (PARTITION BY g) AS mn,
           max(doc_id) OVER (PARTITION BY g) AS mx
    FROM grams
  ) WHERE mn <> mx
),
cov AS (
  SELECT doc_id, count(*) AS dup_spans, CAST(sum(covered) AS BIGINT) AS dup_tokens
  FROM (
    SELECT doc_id,
           least({w}, pos - coalesce(
             lag(pos) OVER (PARTITION BY doc_id ORDER BY pos), pos - {w})) AS covered
    FROM dpos
  ) GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(t.toks) AS BIGINT) AS n_tokens,
       coalesce(c.dup_spans, 0) AS dup_spans,
       coalesce(c.dup_tokens, 0) AS dup_tokens,
       CASE WHEN len(t.toks) = 0 THEN 0.0
            ELSE round(coalesce(c.dup_tokens, 0)::DOUBLE / len(t.toks), 6)
       END AS dup_frac
FROM toksed t LEFT JOIN cov c ON c.doc_id = t.doc_id
"""


def span_trim(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The APPLY step of duplicate-span dedup (RefinedWeb-style trim):
    remove every token covered by a cross-doc-duplicated W-gram and
    reassemble the surviving tokens in order.

    Scale shape: the dup positions come from the same one-scan gram
    window as `span_coverage`; covered token indices materialize as
    dup_positions × W rows (bounded by duplicate volume, not corpus
    size), and removal is a hash anti-join on (doc_id, token_pos) —
    per-doc reassembly is array_sort(collect_list) whose state is one
    document's tokens, the same bound the line-dedup reassembly
    carries."""
    from pyspark.sql import Window

    grams = span_gram_rows(df, text_col, id_col)
    wg = Window.partitionBy("g")
    dpos = (
        grams.withColumn("mn", F.min(id_col).over(wg))
        .withColumn("mx", F.max(id_col).over(wg))
        .where(F.col("mn") != F.col("mx"))
        .select(id_col, "pos")
    )
    covered = dpos.select(
        id_col, F.explode(F.sequence(F.col("pos"), F.col("pos") + SPAN_W - 1)).alias("tp")
    ).distinct()
    toks = df.select(
        F.col(id_col), F.posexplode(tokens_col(F.col(text_col))).alias("tp0", "tok")
    ).select(id_col, (F.col("tp0") + 1).alias("tp"), "tok")
    kept = toks.join(covered, [id_col, "tp"], "left_anti")
    per_doc = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("tp", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("text_trimmed"),
        F.count("*").alias("n_kept"),
    )
    totals = df.select(
        F.col(id_col), F.size(tokens_col(F.col(text_col))).alias("n_tokens")
    )
    return totals.join(per_doc, id_col, "left").select(
        id_col,
        F.coalesce("text_trimmed", F.lit("")).alias("text_trimmed"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
    )


def span_trim_sql() -> str:
    w = SPAN_W
    slice_expr = f"array_to_string(toks[i:i + {w - 1}], ' ')"
    return f"""
WITH toksed AS (SELECT doc_id, {tokens_sql('text')} AS toks FROM documents),
grams AS (
  SELECT doc_id, t.i AS pos, md5({slice_expr}) AS g
  FROM toksed, unnest(generate_series(1, greatest(len(toks) - {w - 1}, 0))) t(i)
),
dpos AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos,
           min(doc_id) OVER (PARTITION BY g) AS mn,
           max(doc_id) OVER (PARTITION BY g) AS mx
    FROM grams
  ) WHERE mn <> mx
),
covered AS (
  SELECT DISTINCT doc_id, pos + t.o AS tp
  FROM dpos, unnest(generate_series(0, {w - 1})) t(o)
),
toks AS (
  SELECT doc_id, t.i AS tp, toksed.toks[t.i::INT] AS tok
  FROM toksed, unnest(generate_series(1, len(toks))) t(i)
),
kept AS (
  SELECT tk.doc_id, tk.tp, tk.tok
  FROM toks tk ANTI JOIN covered c ON c.doc_id = tk.doc_id AND c.tp = tk.tp
),
per_doc AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY tp) AS text_trimmed,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id,
       coalesce(p.text_trimmed, '') AS text_trimmed,
       CAST(len(t.toks) AS BIGINT) AS n_tokens,
       coalesce(p.n_kept, 0) AS n_kept
FROM toksed t LEFT JOIN per_doc p ON p.doc_id = t.doc_id
"""
