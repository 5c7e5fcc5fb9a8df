"""Similarity-search queries over `embeddings` (operators in
mrc_spark_jobs_pubmed_spark.operators.similarity)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mrc_spark_jobs_pubmed_spark.operators import similarity as S
from mrc_spark_jobs_pubmed_spark.plans.registry import register
from mrc_spark_jobs_pubmed_spark.sources.catalog import load_table

QUERY_VEC_ID = 0
TOP_K = 10


@register(
    "sim_cosine_topk",
    oracle=f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {QUERY_VEC_ID})
SELECT vec_id,
       round({S.cosine_sql('embedding', 'qe')}, 6) AS cosine
FROM embeddings, q
WHERE vec_id <> {QUERY_VEC_ID}
ORDER BY cosine DESC, vec_id
LIMIT {TOP_K}
""",
    doc="Exact ANN baseline: brute-force cosine top-k against vec_id=0. "
    "Single scan, JVM-side fold, TakeOrderedAndProject — no global sort. "
    "The query vector rides a 1-row broadcast join (no driver fetch), so "
    "the whole query is ONE Spark job.",
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    qdf = emb.filter(F.col("vec_id") == QUERY_VEC_ID)
    return S.topk_cosine_q(emb.filter(F.col("vec_id") != QUERY_VEC_ID), qdf, TOP_K)


@register(
    "sim_lsh_bucket_stats",
    oracle=f"""
SELECT {S.bucket_id_sql('embedding')} AS bucket,
       count(*) AS n_vecs,
       min(vec_id) AS min_vec,
       -- labels are small ints: exact 4-dp mean via integer half-up
       -- division, not round() of a double ratio
       ((20000 * sum(CAST(label AS BIGINT)) + count(*)) // (2 * count(*)))
         / 10000.0 AS avg_label
FROM embeddings
GROUP BY 1
""",
    doc="Axis-sign LSH bucketing (256 buckets from 8 sign bits): the "
    "deterministic IVF-style partition key for ANN at scale, with "
    "per-bucket occupancy stats.",
)
def sim_lsh_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    return (
        emb.select(S.bucket_id(F.col("embedding")).alias("bucket"), "vec_id", "label")
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_vecs"),
            F.min("vec_id").alias("min_vec"),
            F.sum(F.col("label").cast("long")).alias("_ls"),
        )
        .select(
            "bucket",
            "n_vecs",
            "min_vec",
            # exact 4-dp mean via integer half-up division (see oracle)
            (
                F.expr("(20000 * _ls + n_vecs) div (2 * n_vecs)").cast(
                    "double"
                )
                / 10000.0
            ).alias("avg_label"),
        )
    )


@register(
    "sim_ann_bucketed",
    oracle=f"""
WITH q AS (
  SELECT embedding AS qe, {S.bucket_id_sql('embedding')} AS qbucket
  FROM embeddings WHERE vec_id = {QUERY_VEC_ID}
)
SELECT vec_id,
       round({S.cosine_sql('embedding', 'qe')}, 6) AS cosine
FROM embeddings, q
WHERE vec_id <> {QUERY_VEC_ID}
  AND {S.bucket_id_sql('embedding')} = qbucket
ORDER BY cosine DESC, vec_id
LIMIT {TOP_K}
""",
    doc="ANN scale path: probe only the query's LSH bucket (candidate "
    "pruning ≈ 1/256 of the corpus), then exact cosine on candidates. "
    "Recall vs sim_cosine_topk is the standard IVF trade-off.",
)
def sim_ann_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    # The query's bucket is computed inside the plan from the broadcast
    # query row — no driver round-trip; at scale the same equality
    # becomes a partition-pruning predicate on a bucket-partitioned
    # layout.
    qdf = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("_qe"),
        S.bucket_id(F.col("embedding")).alias("_qbucket"),
    )
    return (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .join(F.broadcast(qdf))
        .filter(S.bucket_id(F.col("embedding")) == F.col("_qbucket"))
        .select(
            "vec_id",
            F.round(S.cosine_named("embedding", "_qe"), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(TOP_K)
    )


@register(
    "sim_neardup_top_pairs",
    oracle=f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round({S.cosine_sql('a.embedding', 'b.embedding')}, 6) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
ORDER BY cosine DESC, vec_a, vec_b
LIMIT 50
""",
    doc="Embedding-cosine near-dup: top-50 most-similar pairs. All-pairs "
    "here (test scale); at 100 TB the LSH bucket id becomes the join key "
    "so only same-bucket pairs are scored (see sim_ann_bucketed).",
)
def sim_neardup_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    # over-fetch (50+16) unrounded candidates from the blocked exact
    # operator, then re-rank at the oracle's 6dp rounding so boundary
    # ties resolve identically on both engines
    cands = S.topk_pairs_blocked(emb, k=66)
    return (
        cands.select("vec_a", "vec_b", F.round("cosine", 6).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_a"), F.asc("vec_b"))
        .limit(50)
    )


@register(
    "sim_brp_lsh_buckets",
    oracle="""
SELECT count(*) AS n_vectors,
       TRUE AS one_bucket_per_vector,
       TRUE AS n_buckets_nontrivial,
       TRUE AS locality_ok
FROM embeddings
""",
    doc="BucketedRandomProjectionLSH (spark.ml, seed=42). The bucket ids "
    "themselves aren't SQL-reproducible (seeded random projection), so — "
    "following the rel_approx_distinct pattern — the query emits the "
    "properties a correct LSH must satisfy and the oracle asserts them: "
    "exactly one bucket per vector (count preserved), a non-trivial "
    "split (≥2 buckets), and locality (mean pairwise cosine within "
    "buckets exceeds the global mean). Both means are EXACT all-pairs "
    "values computed in O(n·d) without any pair join, via the centroid "
    "identity mean-pairwise-cos = (‖Σv̂‖² − n) / (n(n−1)) over "
    "unit-normalized vectors — the same trick that makes this check "
    "runnable at 100 TB (posexplode → two tiny hash-aggs).",
)
def sim_brp_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    buckets = S.brp_lsh_buckets(emb)  # vec_id, bucket
    be = buckets.join(emb.select("vec_id", "embedding"), "vec_id")

    # Unit-normalize, explode to (bucket, dimension, component) and sum
    # per (bucket, pos): the per-bucket centroid sums S_b. Zero vectors
    # (norm 0) are skipped — cosine is undefined for them.
    comp = (
        be.withColumn("nrm", S.l2norm(F.col("embedding")))
        .filter(F.col("nrm") > 0)
        .select("bucket", "nrm", F.posexplode("embedding").alias("pos", "val"))
        .select("bucket", "pos", (F.col("val") / F.col("nrm")).alias("val"))
    )
    bucket_sums = comp.groupBy("bucket", "pos").agg(F.sum("val").alias("s"))
    # Per-bucket: ‖S_b‖² and n_b → pair-weighted pooled within-bucket mean.
    per_bucket = (
        bucket_sums.groupBy("bucket")
        .agg(F.sum(F.col("s") * F.col("s")).alias("s2"))
        .join(buckets.groupBy("bucket").agg(F.count("*").alias("n")), "bucket")
    )
    # try_divide: with one vector per bucket there are no within-bucket
    # pairs (Σ n(n−1) = 0) and the mean is honestly undefined, not an
    # abort — the degenerate-corpus state of any incremental index build
    within = per_bucket.agg(
        F.try_divide(
            F.sum(F.col("s2") - F.col("n")),
            F.sum(F.col("n") * (F.col("n") - F.lit(1))),
        ).alias("within_mean"),
        F.count("*").alias("n_buckets"),
    )
    # Global mean over ALL pairs from the same partial sums: Σ_b S_b = S.
    global_ = bucket_sums.groupBy("pos").agg(F.sum("s").alias("g")).agg(
        F.sum(F.col("g") * F.col("g")).alias("g2")
    )
    stats = buckets.agg(
        F.count("*").alias("n_rows"), F.countDistinct("vec_id").alias("n_ids")
    )
    n_total = emb.agg(F.count("*").alias("n_emb"))
    return (
        stats.crossJoin(n_total)
        .crossJoin(within)
        .crossJoin(global_)
        .select(
            F.col("n_emb").alias("n_vectors"),
            (
                (F.col("n_rows") == F.col("n_emb"))
                & (F.col("n_ids") == F.col("n_emb"))
            ).alias("one_bucket_per_vector"),
            (F.col("n_buckets") >= 2).alias("n_buckets_nontrivial"),
            (
                F.col("within_mean")
                > F.try_divide(
                    F.col("g2") - F.col("n_emb"),
                    F.col("n_emb") * (F.col("n_emb") - F.lit(1)),
                )
            ).alias("locality_ok"),
        )
    )


@register(
    "sim_ann_recall",
    oracle=f"""
WITH q AS (
  SELECT embedding AS qe, {S.bucket_id_sql('embedding')} AS qbucket
  FROM embeddings WHERE vec_id = {QUERY_VEC_ID}
),
exact AS (
  SELECT vec_id FROM embeddings, q WHERE vec_id <> {QUERY_VEC_ID}
  ORDER BY round({S.cosine_sql('embedding', 'qe')}, 6) DESC, vec_id LIMIT {TOP_K}
),
approx AS (
  SELECT vec_id FROM embeddings, q
  WHERE vec_id <> {QUERY_VEC_ID} AND {S.bucket_id_sql('embedding')} = qbucket
  ORDER BY round({S.cosine_sql('embedding', 'qe')}, 6) DESC, vec_id LIMIT {TOP_K}
)
SELECT {TOP_K} AS k,
       (SELECT count(*) FROM exact JOIN approx USING (vec_id)) AS n_hits,
       (SELECT count(*) FROM exact JOIN approx USING (vec_id))::DOUBLE / {TOP_K} AS recall
""",
    doc="ANN recall measurement: the bucketed (IVF-style) top-k joined "
    "against the exact top-k, reported as a single (k, n_hits, recall) "
    "row — the 'measure, don't guess' contract for the approximate "
    "path. Both rankings round to 6dp before ordering so tie-breaks "
    "resolve identically on both engines.",
)
def sim_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = sim_cosine_topk(spark, sf_dir).select("vec_id")
    approx = sim_ann_bucketed(spark, sf_dir).select("vec_id")
    return (
        exact.join(approx, "vec_id")
        .agg(F.count("*").alias("n_hits"))
        .select(
            F.lit(TOP_K).alias("k"),
            "n_hits",
            (F.col("n_hits").cast("double") / TOP_K).alias("recall"),
        )
    )


# --- semantic dedup (SemDeDup-style) ---------------------------------------

SEMDEDUP_TAU = 0.35  # sits at ~p99 of within-bucket cosine on the fixture


@register(
    "sim_semdedup",
    oracle=f"""
WITH e AS (
  SELECT vec_id, embedding, {S.bucket_id_sql('embedding')} AS bucket
  FROM embeddings
)
SELECT dup_cand AS dup_id, min(keep_cand) AS kept_id, round(max(cos), 6) AS max_cosine
FROM (
  SELECT a.vec_id AS keep_cand, b.vec_id AS dup_cand,
         {S.cosine_sql('a.embedding', 'b.embedding')} AS cos
  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
WHERE round(cos, 6) > {SEMDEDUP_TAU}
GROUP BY dup_cand
""",
    doc="SemDeDup-style semantic dedup: prune vectors whose cosine to a "
    "lower-id vector in the same coarse bucket exceeds tau. Pairwise "
    "compare is bucket-confined (the ANN coarse quantizer), never "
    "global all-pairs — the published SemDeDup recipe of cluster-then-"
    "prune, one-pass and greedy-deterministic.",
)
def sim_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    return S.semdedup_removed(emb, SEMDEDUP_TAU)


# --- k-means IVF coarse quantizer ------------------------------------------

KMEANS_K = 8
KMEANS_ITERS = 2


KMEANS_TRAIN_MOD = 4  # Lloyd trains on the deterministic 1/4 id-slice


def _kmeans_assign_ctes() -> str:
    """Unrolled Lloyd iterations as CTE text ending in
    fin(vec_id, m{d, cid}) — deterministic init (lowest-k ids in the
    training slice), struct-min assignment (distance then cid
    tie-break), exact mirror of operators.similarity.kmeans_assign.
    Training CTEs run on the same 1/KMEANS_TRAIN_MOD id-slice the
    engine trains on; only the final assignment scans the full table.
    Shared by the k-means query and the embedding-outlier oracle."""
    dim = 64
    ctes = [
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        f"et AS (SELECT * FROM e WHERE vec_id % {KMEANS_TRAIN_MOD} = 0)",
        f"c0 AS (SELECT CAST(vec_id AS BIGINT) AS cid, v AS c FROM et ORDER BY vec_id LIMIT {KMEANS_K})",
    ]
    for it in range(KMEANS_ITERS):
        ctes.append(
            f"a{it} AS (SELECT et.vec_id, "
            f"min({{'d': list_distance(et.v, c{it}.c), 'cid': c{it}.cid}}).cid AS cid "
            f"FROM et CROSS JOIN c{it} GROUP BY et.vec_id)"
        )
        ctes.append(
            f"c{it + 1} AS (SELECT cid, list(m ORDER BY i) AS c FROM ("
            f"SELECT a{it}.cid AS cid, t.i AS i, avg(et.v[t.i]) AS m "
            f"FROM a{it} JOIN et USING (vec_id) CROSS JOIN range(1, {dim + 1}) t(i) "
            f"GROUP BY a{it}.cid, t.i) GROUP BY cid)"
        )
    last = f"c{KMEANS_ITERS}"
    return (
        ",\n".join(ctes) + f""",
fin AS (
  SELECT e.vec_id,
         min({{'d': list_distance(e.v, {last}.c), 'cid': {last}.cid}}) AS m
  FROM e CROSS JOIN {last} GROUP BY e.vec_id
)"""
    )


def _kmeans_sql() -> str:
    return (
        "WITH " + _kmeans_assign_ctes() + """
SELECT m.cid AS cluster_id, count(*) AS n_vecs, min(vec_id) AS min_vec,
       -- exact-int mean: per-vector distances round to 1e-6-unit
       -- BIGINTs before the (order-independent) sum; 6-dp close is
       -- integer half-up division of non-negative operands
       ((2 * sum(CAST(round(m.d * 1000000) AS BIGINT)) + count(*))
        // (2 * count(*))) / 1000000.0 AS avg_dist
FROM fin GROUP BY m.cid
"""
    )


@register(
    "sim_kmeans_ivf",
    oracle=_kmeans_sql(),
    doc="k-means IVF coarse quantizer: Lloyd's algorithm as pure "
    "DataFrame ops (2 iterations, deterministic lowest-id init, "
    "struct-min tie-break), reported as per-cluster occupancy + mean "
    "distance. Each iteration broadcasts k centroids (a few KB) to the "
    "data — the big side never shuffles; cluster id is the ANN "
    "partition key at scale (k ≈ sqrt(n)).",
)
def sim_kmeans_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    assigned = S.kmeans_assign(
        emb, k=KMEANS_K, iters=KMEANS_ITERS, dim=64, train_mod=KMEANS_TRAIN_MOD
    )
    return (
        assigned.groupBy(F.col("cid").alias("cluster_id"))
        .agg(
            F.count("*").alias("n_vecs"),
            F.min("vec_id").alias("min_vec"),
            # exact-int mean of 1e-6-unit distances (see oracle)
            F.sum(F.round(F.col("d") * 1e6).cast("long")).alias("_d6"),
        )
        .select(
            "cluster_id",
            "n_vecs",
            "min_vec",
            (
                F.expr("(2 * _d6 + n_vecs) div (2 * n_vecs)").cast("double")
                / 1e6
            ).alias("avg_dist"),
        )
    )


# --- product quantization (4 x 16-dim subspaces, 8 codes each) -------------

PQ_M = 4  # subspaces
PQ_TRAIN_MOD = 4  # Lloyd trains on the deterministic 1/4 id-slice
PQ_SUBDIM = 16  # dims per subspace (4 x 16 = 64)
PQ_K = 8  # codes per subspace
PQ_ITERS = 2


def _pq_subspace_ctes(m: int) -> tuple[list[str], str]:
    """Namespaced Lloyd CTEs for subspace `m`; returns (ctes, fin_name).

    Same deterministic recipe as `_kmeans_sql` (lowest-id init,
    struct-min tie-break), applied to the 1-based slice
    v[m*16+1 : (m+1)*16]."""
    lo, hi = m * PQ_SUBDIM + 1, (m + 1) * PQ_SUBDIM
    s = f"_m{m}"
    ctes = [
        f"e{s} AS (SELECT vec_id, (CAST(embedding AS DOUBLE[]))[{lo}:{hi}] AS v"
        " FROM embeddings)",
        f"et{s} AS (SELECT * FROM e{s} WHERE vec_id % {PQ_TRAIN_MOD} = 0)",
        f"c0{s} AS (SELECT CAST(vec_id AS BIGINT) AS cid, v AS c FROM et{s}"
        f" ORDER BY vec_id LIMIT {PQ_K})",
    ]
    for it in range(PQ_ITERS):
        ctes.append(
            f"a{it}{s} AS (SELECT et{s}.vec_id, "
            f"min({{'d': list_distance(et{s}.v, c{it}{s}.c), 'cid': c{it}{s}.cid}}).cid AS cid "
            f"FROM et{s} CROSS JOIN c{it}{s} GROUP BY et{s}.vec_id)"
        )
        ctes.append(
            f"c{it + 1}{s} AS (SELECT cid, list(m ORDER BY i) AS c FROM ("
            f"SELECT a{it}{s}.cid AS cid, t.i AS i, avg(et{s}.v[t.i]) AS m "
            f"FROM a{it}{s} JOIN et{s} USING (vec_id) CROSS JOIN range(1, {PQ_SUBDIM + 1}) t(i) "
            f"GROUP BY a{it}{s}.cid, t.i) GROUP BY cid)"
        )
    last = f"c{PQ_ITERS}{s}"
    ctes.append(
        f"fin{s} AS (SELECT e{s}.vec_id, "
        f"min({{'d': list_distance(e{s}.v, {last}.c), 'cid': {last}.cid}}) AS m "
        f"FROM e{s} CROSS JOIN {last} GROUP BY e{s}.vec_id)"
    )
    return ctes, f"fin{s}"


def _pq_sql() -> str:
    all_ctes: list[str] = []
    fins: list[str] = []
    for m in range(PQ_M):
        ctes, fin = _pq_subspace_ctes(m)
        all_ctes += ctes
        fins.append(fin)
    joins = " ".join(f"JOIN {f} USING (vec_id)" for f in fins[1:])
    codes = ", ".join(f"{f}.m.cid AS c{m}" for m, f in enumerate(fins))
    err = " + ".join(f"{f}.m.d * {f}.m.d" for f in fins)
    return (
        "WITH "
        + ",\n".join(all_ctes)
        + f"""
SELECT {fins[0]}.vec_id AS vec_id, {codes},
       round(sqrt({err}), 6) AS recon_err
FROM {fins[0]} {joins}
"""
    )


@register(
    "emb_pq_codes",
    oracle=_pq_sql(),
    doc="Product quantization: the 64-d embedding split into 4 16-d "
    "subspaces, each quantized by its own deterministic k-means "
    "codebook (8 codes, lowest-id init, struct-min tie-break — the "
    "same Lloyd recipe as sim_kmeans_ivf per subspace). Output is the "
    "4-byte PQ code per vector plus the exact reconstruction error "
    "(sqrt of summed per-subspace squared distances) — the IVF-PQ "
    "compression step that turns a 256-byte vector into 4 bytes for "
    "cluster-scale ANN. Each subspace's training is a broadcast join "
    "(codebook is KBs) + tiny centroid agg; the corpus never shuffles.",
)
def emb_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    out = None
    err = None
    for m in range(PQ_M):
        sub = emb.select(
            "vec_id",
            F.slice(F.col("embedding"), m * PQ_SUBDIM + 1, PQ_SUBDIM).alias(
                "embedding"
            ),
        )
        a = S.kmeans_assign(
            sub, k=PQ_K, iters=PQ_ITERS, dim=PQ_SUBDIM, train_mod=PQ_TRAIN_MOD
        ).select(
            "vec_id",
            F.col("cid").alias(f"c{m}"),
            (F.col("d") * F.col("d")).alias(f"_d2_{m}"),
        )
        out = a if out is None else out.join(a, "vec_id")
        term = F.col(f"_d2_{m}")
        err = term if err is None else err + term
    return out.select(
        "vec_id",
        *[F.col(f"c{m}") for m in range(PQ_M)],
        F.round(F.sqrt(err), 6).alias("recon_err"),
    )


# --- PQ asymmetric-distance (ADC) top-k ------------------------------------

ADC_TOP_K = 10


def _pq_adc_sql() -> str:
    """ADC search over the PQ codes: per-subspace query→centroid distance
    tables (M×K = 32 rows total), looked up by each vector's code and
    summed. Reuses the `_pq_subspace_ctes` codebooks verbatim."""
    all_ctes: list[str] = []
    fins: list[str] = []
    for m in range(PQ_M):
        ctes, fin = _pq_subspace_ctes(m)
        all_ctes += ctes
        fins.append(fin)
        lo, hi = m * PQ_SUBDIM + 1, (m + 1) * PQ_SUBDIM
        all_ctes.append(
            f"q_m{m} AS (SELECT (CAST(embedding AS DOUBLE[]))[{lo}:{hi}] AS qv"
            f" FROM embeddings WHERE vec_id = {QUERY_VEC_ID})"
        )
        all_ctes.append(
            f"dt_m{m} AS (SELECT cid, list_distance(qv, c) AS dm"
            f" FROM c{PQ_ITERS}_m{m} CROSS JOIN q_m{m})"
        )
    joins = " ".join(f"JOIN {f} USING (vec_id)" for f in fins[1:])
    dt_joins = " ".join(
        f"JOIN dt_m{m} d{m} ON d{m}.cid = {f}.m.cid" for m, f in enumerate(fins)
    )
    adc = " + ".join(f"d{m}.dm * d{m}.dm" for m in range(PQ_M))
    return (
        "WITH "
        + ",\n".join(all_ctes)
        + f"""
SELECT {fins[0]}.vec_id AS vec_id, round(sqrt({adc}), 6) AS adc_dist
FROM {fins[0]} {joins} {dt_joins}
WHERE {fins[0]}.vec_id <> {QUERY_VEC_ID}
ORDER BY adc_dist, vec_id
LIMIT {ADC_TOP_K}
"""
    )


def _adc_scores(emb: DataFrame):
    """Fused PQ training + ADC scoring: returns (per_vec, adc_expr).

    All 4 subspaces train/assign in ONE plan over the exploded
    (vec_id, m, subvector) table — the m column keeps the Lloyd
    updates independent per subspace while every stage scans the
    corpus once, instead of 4 separate plan trees (measured 2.8 s →
    one multi-stage pass at sf0.1; at scale: one corpus scan per
    iteration, not M). Shared by the flat ADC top-k and the IVF-PQ
    composite search.
    """
    subs = emb.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"),
                        F.slice(
                            F.col("embedding"), m * PQ_SUBDIM + 1, PQ_SUBDIM
                        ).alias("sv"),
                    )
                    for m in range(PQ_M)
                ]
            )
        ).alias("p"),
    ).select("vec_id", F.col("p.m").alias("m"), F.col("p.sv").alias("sv"))

    # Lloyd trains on the deterministic 1/PQ_TRAIN_MOD id-slice (FAISS
    # sample-training; the full corpus is only assigned once, below);
    # init = the PQ_K lowest ids present in the slice.
    subs_t = subs.filter(F.col("vec_id") % PQ_TRAIN_MOD == 0)
    init_ids = (
        subs_t.select("vec_id").distinct().orderBy("vec_id").limit(PQ_K)
    )
    cents = subs_t.join(F.broadcast(init_ids), "vec_id").select(
        "m", F.col("vec_id").cast("long").alias("cid"), F.col("sv").alias("c")
    )
    for _ in range(PQ_ITERS):
        assigned = (
            subs_t.join(F.broadcast(cents), "m")
            .select(
                "vec_id", "m", "sv", "cid", S.l2dist(F.col("sv"), F.col("c"), PQ_SUBDIM).alias("d")
            )
            .groupBy("vec_id", "m")
            .agg(F.min(F.struct("d", "cid")).alias("mm"), F.first("sv").alias("sv"))
            .select("vec_id", "m", "sv", F.col("mm.cid").alias("cid"))
        )
        cents = (
            assigned.select("m", "cid", F.posexplode("sv").alias("pos", "x"))
            .groupBy("m", "cid", "pos")
            .agg(F.avg("x").alias("cm"))
            .groupBy("m", "cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "cm"))),
                    lambda s: s["cm"],
                ).alias("c")
            )
        )
    # The trained codebook is M*K = 32 rows; materialize it once so its
    # two consumers (corpus assignment + query distance table) don't
    # each re-run the Lloyd iterations — same localCheckpoint idiom as
    # dedup_cluster_components.
    cents = cents.localCheckpoint()
    codes = (
        subs.join(F.broadcast(cents), "m")
        .select("vec_id", "m", "cid", S.l2dist(F.col("sv"), F.col("c"), PQ_SUBDIM).alias("d"))
        .groupBy("vec_id", "m")
        .agg(F.min(F.struct("d", "cid")).alias("mm"))
        .select("vec_id", "m", F.col("mm.cid").alias("cid"))
    )
    q = subs.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        "m", F.col("sv").alias("_qv")
    )
    dt = (
        cents.join(F.broadcast(q), "m")
        .select("m", "cid", S.l2dist(F.col("_qv"), F.col("c"), PQ_SUBDIM).alias("dm"))
        .select("m", "cid", (F.col("dm") * F.col("dm")).alias("d2"))
    )
    # Per-subspace terms extracted as separate conditional sums (each
    # sums exactly one row), then added in fixed m order — identical
    # float-op sequence to the oracle's d0+d1+d2+d3, no engine-order
    # hazard.
    per_vec = (
        codes.join(F.broadcast(dt), ["m", "cid"])
        .groupBy("vec_id")
        .agg(
            *[
                F.sum(F.when(F.col("m") == m, F.col("d2"))).alias(f"_s{m}")
                for m in range(PQ_M)
            ]
        )
    )
    adc = None
    for m in range(PQ_M):
        term = F.col(f"_s{m}")
        adc = term if adc is None else adc + term
    return per_vec, adc


@register(
    "sim_pq_adc_topk",
    oracle=_pq_adc_sql(),
    doc="IVF-PQ asymmetric-distance (ADC) top-k: the query stays "
    "full-precision while the corpus is searched through its 4-byte PQ "
    "codes. Per subspace, the query→centroid distances form a tiny M×K "
    "lookup table (32 doubles) built from the deterministic codebooks "
    "of emb_pq_codes; the approximate distance per vector is the sqrt "
    "of summed table entries at its codes. Scale shape: the distance "
    "tables broadcast (KBs), each lookup is a broadcast equi-join on "
    "the 1-byte code — the corpus never shuffles and never touches its "
    "float vectors at query time, which is the entire point of PQ at "
    "100 TB (search RAM = codes, not vectors); final top-k is "
    "TakeOrderedAndProject. Completes the PQ story: emb_pq_codes "
    "compresses, this searches the compressed form.",
)
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_vec, adc = _adc_scores(load_table(spark, "embeddings", sf_dir))
    return (
        per_vec.filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", F.round(F.sqrt(adc), 6).alias("adc_dist"))
        .orderBy(F.asc("adc_dist"), F.asc("vec_id"))
        .limit(ADC_TOP_K)
    )


# --- deterministic random projection (64 -> 8 dims) ------------------------


def _rp_matrix(out_dim: int = 8, in_dim: int = 64, seed: int = 42) -> list[list[int]]:
    """Seeded ±1 (Achlioptas-style) projection matrix — a compile-time
    constant of the operator, identical literals on both engines."""
    import random

    rng = random.Random(seed)
    return [[rng.choice((1, -1)) for _ in range(in_dim)] for _ in range(out_dim)]


_RP = _rp_matrix()


def _rp_expr(j: int, elem: "callable") -> str:
    terms = "".join(
        (" + " if w > 0 else " - ") + elem(i) for i, w in enumerate(_RP[j])
    )
    return f"round(({terms.lstrip(' +')}) / 8.0, 6)"


@register(
    "emb_random_projection",
    oracle="SELECT vec_id, "
    + ", ".join(
        _rp_expr(j, lambda i: f"CAST(embedding[{i + 1}] AS DOUBLE)") + f" AS p{j}"
        for j in range(8)
    )
    + " FROM embeddings",
    doc="Random-projection dimensionality reduction (64 -> 8 dims) with "
    "a seeded ±1 Achlioptas matrix embedded as plan literals: pure "
    "per-row codegen'd arithmetic, zero shuffle, no Python. The JL "
    "sketch that front-ends clustering/ANN at scale; output as scalar "
    "columns so any engine or comparator consumes it directly.",
)
def emb_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    cols = [
        F.expr(_rp_expr(j, lambda i: f"CAST(embedding[{i}] AS DOUBLE)")).alias(f"p{j}")
        for j in range(8)
    ]
    return emb.select("vec_id", *cols)


@register(
    "emb_int8_quantize",
    oracle="""
WITH q AS (
  SELECT vec_id,
         list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) / 127 AS scale,
         CAST(embedding AS DOUBLE[]) AS e
  FROM embeddings
),
deq AS (
  SELECT vec_id, scale, e,
         list_transform(e, x -> floor(x / scale + 0.5) * scale) AS d
  FROM q WHERE scale > 0
)
SELECT vec_id,
       round(scale, 6) AS scale,
       round(sqrt(list_dot_product(list_transform(list_zip(e, d),
                                                  p -> p[1] - p[2]),
                                   list_transform(list_zip(e, d),
                                                  p -> p[1] - p[2]))), 6) AS l2_err,
       round(list_dot_product(e, d) /
             (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(d, d))), 6)
         AS cos_orig_deq
FROM deq
""",
    doc="Int8 symmetric quantization of the embedding column — the "
    "compression step a 100 TB vector corpus applies before ANN "
    "shipping/serving (4x smaller vectors, cheaper shuffles). Per-vector "
    "absmax scale (s = max|x|/127), q_i = floor(x_i/s + 0.5) — "
    "deterministic half-up without engine-specific rounding — and the "
    "query emits the measurable quality contract per vector: the scale, "
    "the L2 reconstruction error, and cos(original, dequantized). Pure "
    "per-row codegen'd arithmetic, zero shuffle, no Python.",
)
def emb_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = emb.select("vec_id", e.alias("e")).withColumn(
        "scale", F.array_max(F.transform(F.col("e"), F.abs)) / F.lit(127.0)
    ).filter(F.col("scale") > 0)
    deq = base.withColumn(
        "d",
        F.transform(
            F.col("e"), lambda x: F.floor(x / F.col("scale") + F.lit(0.5)) * F.col("scale")
        ),
    )
    diff = F.zip_with(F.col("e"), F.col("d"), lambda a, b: a - b)
    l2_err = F.sqrt(
        F.aggregate(
            F.transform(diff, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )
    return deq.select(
        "vec_id",
        F.round("scale", 6).alias("scale"),
        F.round(l2_err, 6).alias("l2_err"),
        F.round(S.cosine_named("e", "d"), 6).alias("cos_orig_deq"),
    )


# --- PCA (top principal component) via deterministic power iteration --------

PCA_DIM = 64
PCA_ITERS = 3


def _pca_sql() -> str:
    """Unrolled power iteration over the exact integer covariance.

    Determinism: per-dimension means are exact-integer (1e-6-unit
    sums closed by half-up integer division), centered cross products are rounded
    to integer micro-units PER ROW and summed as BIGINT (exact,
    order-independent), and every subsequent dot product is a
    sequential list fold — the same float-op sequence on both engines.
    """
    d = PCA_DIM
    ctes = [
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        f"ex AS (SELECT vec_id, t.i AS i, v[t.i] AS x FROM e CROSS JOIN range(1, {d + 1}) t(i))",
        # exact-int mean: per-element 1e-6-unit BIGINTs (values may be
        # negative, so the half-up close runs on the absolute value) —
        # no round() of an order-dependent avg() accumulation
        """means AS (
  SELECT i,
         CASE WHEN sum(x6) < 0
              THEN -((2 * -sum(x6) + count(*)) // (2 * count(*)))
              ELSE (2 * sum(x6) + count(*)) // (2 * count(*)) END
           / 1000000.0 AS m
  FROM (SELECT i, CAST(round(x * 1000000) AS BIGINT) AS x6 FROM ex)
  GROUP BY i
)""",
        "cx AS (SELECT vec_id, i, x - m AS xc FROM ex JOIN means USING (i))",
        """cov AS (
  SELECT a.i AS i, b.i AS j,
         sum(CAST(round(a.xc * b.xc * 1000000) AS BIGINT)) AS c
  FROM cx a JOIN cx b USING (vec_id)
  GROUP BY a.i, b.i
)""",
        "rows_ AS (SELECT i, list(CAST(c AS DOUBLE) ORDER BY j) AS cr FROM cov GROUP BY i)",
        f"v0 AS (SELECT list_transform(range(1, {d + 1}), k -> CASE WHEN k = 1 THEN 1.0 ELSE 0.0 END) AS v)",
    ]
    for it in range(PCA_ITERS):
        ctes.append(
            f"u{it} AS (SELECT i, list_dot_product(cr, v{it}.v) AS u"
            f" FROM rows_ CROSS JOIN v{it})"
        )
        ctes.append(
            f"n{it} AS (SELECT list(u ORDER BY i) AS ul FROM u{it})"
        )
        ctes.append(
            f"v{it + 1} AS (SELECT list_transform(ul,"
            f" x -> x / sqrt(list_dot_product(ul, ul))) AS v FROM n{it})"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT t.i AS pos, round((v{PCA_ITERS}.v)[t.i], 6) AS pc1
FROM v{PCA_ITERS} CROSS JOIN range(1, {d + 1}) t(i)
"""
    )


@register(
    "emb_pca_power",
    oracle=_pca_sql(),
    doc="Top principal component of the embedding corpus by power "
    "iteration (3 unrolled rounds) — the PCA/whitening front-end of an "
    "embedding pipeline, as pure DataFrame ops. Cross-engine "
    "determinism is engineered at every step: per-dimension means "
    "are exact-integer micro-unit sums, centered cross products round to integer "
    "micro-units PER ROW and sum as exact BIGINTs (the covariance is "
    "bit-identical regardless of partitioning or engine), and the "
    "iteration's matrix-vector products are sequential list folds with "
    "a fixed operation order. Scale shape: the corpus is touched ONCE "
    "to build the d x d integer covariance (map-side partial sums; "
    "shuffle payload is 64^2 longs per partition, constant in row "
    "count); the 64-row covariance then localCheckpoints and every "
    "power-iteration round is a broadcast of the 1-row vector against "
    "it — cluster cost is one pass over the data plus O(d^2) driver-"
    "free iteration, the standard big-data PCA decomposition.",
)
def emb_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    d = PCA_DIM
    e = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    ex = e.select(
        "vec_id", F.posexplode("v").alias("i0", "x")
    ).select("vec_id", (F.col("i0") + 1).alias("i"), "x")
    # exact-int per-dimension mean (possibly negative — half-up close on
    # the absolute value), mirroring the oracle; never round(avg(double))
    means = (
        ex.groupBy("i")
        .agg(
            F.sum(F.round(F.col("x") * 1e6).cast("long")).alias("_x6"),
            F.count("*").alias("_n"),
        )
        .select(
            "i",
            (
                F.expr(
                    "CASE WHEN _x6 < 0"
                    " THEN -((2 * -_x6 + _n) div (2 * _n))"
                    " ELSE (2 * _x6 + _n) div (2 * _n) END"
                ).cast("double")
                / 1e6
            ).alias("m"),
        )
    )
    marr = means.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "m"))), lambda s: s["m"]
        ).alias("marr")
    )

    # Covariance as Arrow-batched integer partial sums: each partition
    # computes its own d x d matrix of per-row-rounded micro-unit
    # products with one BLAS-shaped numpy pass and emits d^2 rows — the
    # exploded self-join form shuffles O(n * d^2) rows (82M at sf1,
    # measured 44 s), this shuffles O(partitions * d^2). The integers
    # are identical to the SQL form: rounding happens PER (row, i, j)
    # with away-from-zero halves (matching Spark/DuckDB round), and
    # int64 partial sums are order-independent by construction — the
    # oracle keeps the plain SQL self-join and value-matches exactly.
    import pandas as pd

    d_dim = d

    def cov_partials(batches):
        import numpy as np

        acc = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if acc is None:
                acc = np.zeros((d_dim, d_dim), dtype=np.int64)
            m = np.asarray(pdf["marr"].iloc[0], dtype=np.float64)
            X = np.stack(pdf["v"].to_numpy()).astype(np.float64) - m
            for s in range(0, len(X), 512):
                Xc = X[s : s + 512]
                prods = Xc[:, :, None] * Xc[:, None, :] * 1_000_000.0
                rounded = np.where(
                    prods >= 0,
                    np.floor(prods + 0.5),
                    np.ceil(prods - 0.5),
                ).astype(np.int64)
                acc += rounded.sum(axis=0)
        if acc is None:
            return
        ii, jj = np.meshgrid(
            np.arange(1, d_dim + 1), np.arange(1, d_dim + 1), indexing="ij"
        )
        yield pd.DataFrame(
            {"i": ii.ravel(), "j": jj.ravel(), "c": acc.ravel()}
        )

    cov = (
        e.select("v")
        .crossJoin(F.broadcast(marr))
        .mapInPandas(cov_partials, "i int, j int, c long")
        .groupBy("i", "j")
        .agg(F.sum("c").alias("c"))
    )
    # 64 rows; consumed once per power-iteration round.
    rows = (
        cov.groupBy("i")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", F.col("c").cast("double").alias("cd")))),
                lambda s: s["cd"],
            ).alias("cr")
        )
        .localCheckpoint()
    )

    def _dot(xs, ys):
        return F.aggregate(
            F.zip_with(xs, ys, lambda p, q: p * q), F.lit(0.0), lambda acc, z: acc + z
        )

    vdf = rows.sparkSession.range(1).select(
        F.array(*[F.lit(1.0 if k == 0 else 0.0) for k in range(d)]).alias("v")
    )
    for _ in range(PCA_ITERS):
        u = rows.crossJoin(F.broadcast(vdf)).select(
            "i", _dot(F.col("cr"), F.col("v")).alias("u")
        )
        vdf = (
            u.agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "u"))), lambda s: s["u"]
                ).alias("ul")
            )
            .select(
                # try_divide: a rank-0 covariance (degenerate input, e.g.
                # a single vector) has no principal direction — emit NULL
                # components instead of a DIVIDE_BY_ZERO abort
                F.transform(
                    F.col("ul"),
                    lambda x: F.try_divide(
                        x, F.sqrt(_dot(F.col("ul"), F.col("ul")))
                    ),
                ).alias("v")
            )
        )
    return vdf.select(F.posexplode("v").alias("p0", "val")).select(
        (F.col("p0") + 1).alias("pos"), F.round("val", 6).alias("pc1")
    )


# --- IVF-PQ composite search (coarse probe + ADC on the cluster) -----------

IVFPQ_TOP_K = 10


def _coarse_ctes() -> list[str]:
    """Namespaced full-dimension Lloyd CTEs (suffix _g): same recipe as
    `_kmeans_sql`, ending in fin_g(vec_id, m{d, cid})."""
    dim = 64
    ctes = [
        "e_g AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        f"et_g AS (SELECT * FROM e_g WHERE vec_id % {KMEANS_TRAIN_MOD} = 0)",
        f"c0_g AS (SELECT CAST(vec_id AS BIGINT) AS cid, v AS c FROM et_g"
        f" ORDER BY vec_id LIMIT {KMEANS_K})",
    ]
    for it in range(KMEANS_ITERS):
        ctes.append(
            f"a{it}_g AS (SELECT et_g.vec_id, "
            f"min({{'d': list_distance(et_g.v, c{it}_g.c), 'cid': c{it}_g.cid}}).cid AS cid "
            f"FROM et_g CROSS JOIN c{it}_g GROUP BY et_g.vec_id)"
        )
        ctes.append(
            f"c{it + 1}_g AS (SELECT cid, list(m ORDER BY i) AS c FROM ("
            f"SELECT a{it}_g.cid AS cid, t.i AS i, avg(et_g.v[t.i]) AS m "
            f"FROM a{it}_g JOIN et_g USING (vec_id) CROSS JOIN range(1, {dim + 1}) t(i) "
            f"GROUP BY a{it}_g.cid, t.i) GROUP BY cid)"
        )
    last = f"c{KMEANS_ITERS}_g"
    ctes.append(
        f"fin_g AS (SELECT e_g.vec_id, "
        f"min({{'d': list_distance(e_g.v, {last}.c), 'cid': {last}.cid}}) AS m "
        f"FROM e_g CROSS JOIN {last} GROUP BY e_g.vec_id)"
    )
    return ctes


def _ivf_pq_sql() -> str:
    all_ctes = _coarse_ctes()
    fins: list[str] = []
    for m in range(PQ_M):
        ctes, fin = _pq_subspace_ctes(m)
        all_ctes += ctes
        fins.append(fin)
        lo, hi = m * PQ_SUBDIM + 1, (m + 1) * PQ_SUBDIM
        all_ctes.append(
            f"q_m{m} AS (SELECT (CAST(embedding AS DOUBLE[]))[{lo}:{hi}] AS qv"
            f" FROM embeddings WHERE vec_id = {QUERY_VEC_ID})"
        )
        all_ctes.append(
            f"dt_m{m} AS (SELECT cid, list_distance(qv, c) AS dm"
            f" FROM c{PQ_ITERS}_m{m} CROSS JOIN q_m{m})"
        )
    all_ctes.append(
        f"qc AS (SELECT m.cid AS qcid FROM fin_g WHERE vec_id = {QUERY_VEC_ID})"
    )
    all_ctes.append(
        f"cand AS (SELECT fin_g.vec_id FROM fin_g CROSS JOIN qc"
        f" WHERE fin_g.m.cid = qc.qcid AND fin_g.vec_id <> {QUERY_VEC_ID})"
    )
    joins = " ".join(f"JOIN {f} USING (vec_id)" for f in fins[1:])
    dt_joins = " ".join(
        f"JOIN dt_m{m} d{m} ON d{m}.cid = {f}.m.cid" for m, f in enumerate(fins)
    )
    adc = " + ".join(f"d{m}.dm * d{m}.dm" for m in range(PQ_M))
    return (
        "WITH "
        + ",\n".join(all_ctes)
        + f"""
SELECT {fins[0]}.vec_id AS vec_id, round(sqrt({adc}), 6) AS adc_dist
FROM {fins[0]} {joins} {dt_joins} JOIN cand ON cand.vec_id = {fins[0]}.vec_id
ORDER BY adc_dist, vec_id
LIMIT {IVFPQ_TOP_K}
"""
    )


@register(
    "sim_ivf_pq_search",
    oracle=_ivf_pq_sql(),
    doc="Complete IVF-PQ index search: the coarse k-means quantizer "
    "(sim_kmeans_ivf's recipe, full 64-d) routes the query to its "
    "nearest cluster, and PQ-ADC (sim_pq_adc_topk's machinery) ranks "
    "ONLY that cluster's members through their 4-byte codes — the "
    "two-level ANN structure every production vector index (FAISS "
    "IVFPQ) uses. Scale shape: the coarse assignment is the partition "
    "key, so the probe touches ~1/k of the corpus; within it, "
    "candidates are ranked from codes + a broadcast 32-double lookup "
    "table, never from float vectors; both quantizers train in single "
    "corpus passes with broadcast codebooks. Deterministic end to end "
    "(lowest-id init, struct-min tie-breaks, fixed-order float adds) — "
    "the full two-level index value-matches the SQL replay exactly.",
)
def sim_ivf_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    # The coarse assignment is the index's partition map; materialize it
    # once (it feeds both the query-routing row and the candidate set —
    # lazily each would re-run Lloyd training). At scale this IS the
    # "build the IVF index" step: computed once, reused per query.
    coarse = (
        S.kmeans_assign(
            emb, k=KMEANS_K, iters=KMEANS_ITERS, dim=64,
            train_mod=KMEANS_TRAIN_MOD,
        )
        .select("vec_id", "cid")
        .localCheckpoint()
    )
    qc = coarse.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("cid").alias("_qcid")
    )
    cand = (
        coarse.join(F.broadcast(qc), coarse.cid == F.col("_qcid"))
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id")
    )
    per_vec, adc = _adc_scores(emb)
    return (
        per_vec.join(cand, "vec_id")
        .select("vec_id", F.round(F.sqrt(adc), 6).alias("adc_dist"))
        .orderBy(F.asc("adc_dist"), F.asc("vec_id"))
        .limit(IVFPQ_TOP_K)
    )


# --- bucketed kNN join -------------------------------------------------------

KNN_K = 5


@register(
    "sim_knn_join",
    oracle=f"""
WITH b AS (
  SELECT vec_id, embedding, {S.bucket_id_sql('embedding')} AS bucket
  FROM embeddings
),
cand AS (
  SELECT a.vec_id AS vec_id, c.vec_id AS neighbor_id,
         round({S.cosine_sql('a.embedding', 'c.embedding')}, 6) AS cosine
  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id
),
ranked AS (
  SELECT vec_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM cand
)
SELECT vec_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {KNN_K}
""",
    doc="Bucketed kNN join: top-5 cosine neighbors for EVERY vector, "
    "candidates confined to the sign-bit IVF bucket — the batch "
    "neighbor graph semantic-dedup / clustering / graph-building "
    "pipelines run over the whole corpus (vs sim_cosine_topk's single "
    "query vector). Scale: candidate volume is sum(bucket_size^2), "
    "never n^2 — bucket count grows with the corpus exactly as "
    "sim_ann_bucketed documents, and each bucket computes its pairwise "
    "cosines as ONE BLAS multiply inside an applyInPandas group (the "
    "interpreted pair-fold form measured 41.8s at sf1; this runs "
    "0.6s). Ranking compares the "
    "6dp-rounded cosine with neighbor-id tie-break, so result order "
    "is engine- and partitioning-independent. Vectors alone in their "
    "bucket emit no neighbors (no fabricated matches); raise bucket "
    "bits or fall back to the block-GEMM exact pass for those at "
    "production scale.",
)
def sim_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    out = S.knn_join_bucketed(emb, k=KNN_K)
    return out.select(
        "vec_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


# --- binary (1-bit) quantization + Hamming rerank ---------------------------

BQ_PREFILTER = 100  # Hamming candidates kept before exact rerank
BQ_TOP_K = 10


def _packbits_sql(lo_dims: range) -> str:
    terms = " + ".join(
        f"(CASE WHEN embedding[{i}] > 0 THEN {1 << (i - lo_dims.start)} ELSE 0 END)"
        for i in lo_dims
    )
    return f"CAST({terms} AS BIGINT)"


def _packbits_col(lo_dims: range):
    expr = None
    for i in lo_dims:
        term = F.when(
            F.element_at(F.col("embedding"), i) > 0,
            F.lit(1 << (i - lo_dims.start)),
        ).otherwise(F.lit(0))
        expr = term if expr is None else expr + term
    return expr.cast("long")


@register(
    "sim_binary_rerank",
    oracle=f"""
WITH codes AS (
  SELECT vec_id, embedding,
         {_packbits_sql(range(1, 33))} AS code_lo,
         {_packbits_sql(range(33, 65))} AS code_hi
  FROM embeddings
),
q AS (SELECT embedding AS qe, code_lo AS qlo, code_hi AS qhi
      FROM codes WHERE vec_id = {QUERY_VEC_ID}),
ham AS (
  SELECT vec_id, embedding, qe,
         bit_count(xor(code_lo, qlo)) + bit_count(xor(code_hi, qhi)) AS hamming
  FROM codes CROSS JOIN q
  WHERE vec_id <> {QUERY_VEC_ID}
),
cand AS (
  SELECT * FROM ham ORDER BY hamming, vec_id LIMIT {BQ_PREFILTER}
)
SELECT vec_id, CAST(hamming AS BIGINT) AS hamming,
       round({S.cosine_sql('embedding', 'qe')}, 6) AS cosine
FROM cand
ORDER BY cosine DESC, vec_id
LIMIT {BQ_TOP_K}
""",
    doc="Binary-quantized similarity search: each 64-d vector compresses "
    "to 64 sign bits packed into two BIGINTs (32x smaller than float32); "
    "the query prefilters to the 100 Hamming-nearest codes and reranks "
    "ONLY those with exact cosine — the third standard ANN compression "
    "path beside int8 (emb_int8_quantize) and PQ-ADC (sim_pq_adc_topk), "
    "and the one vector stores default to for first-stage retrieval. "
    "Scale: the code table is 16 bytes/vector, so the Hamming scan "
    "touches ~2% of the float payload's bytes and both top-k cuts are "
    "TakeOrderedAndProject; the float vectors are read only for the "
    "100-row rerank (at production scale: a second pass keyed by the "
    "candidate ids, never a full-width scan).",
)
def sim_binary_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    codes = emb.select(
        "vec_id",
        "embedding",
        _packbits_col(range(1, 33)).alias("code_lo"),
        _packbits_col(range(33, 65)).alias("code_hi"),
    )
    q = codes.where(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qe"),
        F.col("code_lo").alias("qlo"),
        F.col("code_hi").alias("qhi"),
    )
    ham = (
        codes.where(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "embedding",
            "qe",
            (
                F.bit_count(F.expr("code_lo ^ qlo"))
                + F.bit_count(F.expr("code_hi ^ qhi"))
            ).cast("long").alias("hamming"),
        )
    )
    cand = ham.orderBy(F.asc("hamming"), F.asc("vec_id")).limit(BQ_PREFILTER)
    return (
        cand.select(
            "vec_id",
            "hamming",
            F.round(S.cosine_named("embedding", "qe"), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(BQ_TOP_K)
    )


@register(
    "sim_ivfpq_recall",
    oracle=f"""
WITH ivf AS (
  SELECT vec_id FROM ({_ivf_pq_sql()})
),
exact AS (
  SELECT e.vec_id
  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings) e
  CROSS JOIN (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
              WHERE vec_id = {QUERY_VEC_ID}) q
  WHERE e.vec_id <> {QUERY_VEC_ID}
  ORDER BY list_distance(e.v, q.qv), e.vec_id
  LIMIT {IVFPQ_TOP_K}
),
hit AS (SELECT vec_id FROM ivf INTERSECT SELECT vec_id FROM exact)
SELECT CAST((SELECT count(*) FROM exact) AS BIGINT) AS n_exact,
       CAST((SELECT count(*) FROM ivf) AS BIGINT) AS n_ivfpq,
       CAST((SELECT count(*) FROM hit) AS BIGINT) AS n_hit,
       round((SELECT count(*) FROM hit)::DOUBLE
             / nullif((SELECT count(*) FROM exact), 0), 6) AS recall
""",
    doc="IVF-PQ recall, MEASURED against the exact L2 top-k: the "
    "composite index's top-10 (coarse routing + 4-byte ADC ranking) "
    "intersected with the true nearest neighbors — closing the recall "
    "triad (sim_ann_recall measures the sign-bit bucketing, "
    "dedup_minhash_recall the LSH banding, this the two-level "
    "quantized index). Losses decompose into routing misses (neighbor "
    "in another coarse cell) and quantization error (ADC misranks "
    "within the cell); a probe-width or codebook-size change shows up "
    "as a value change here, not as silently worse search. The exact "
    "comparator is one codegen'd distance scan + TakeOrdered; the "
    "counts are 1-row broadcast aggregates.",
)
def sim_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    # both small result sets feed two consumers (their count + the
    # intersect); checkpoint so the IVF-PQ pipeline and the exact scan
    # run once each
    ivf = sim_ivf_pq_search(spark, sf_dir).select("vec_id").localCheckpoint()
    q = F.broadcast(
        emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
            F.col("embedding").alias("_qe")
        )
    )
    exact = (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .join(q)
        .select(
            "vec_id", S.l2dist(F.col("embedding"), F.col("_qe"), dim=64).alias("d")
        )
        .orderBy(F.asc("d"), F.asc("vec_id"))
        .limit(IVFPQ_TOP_K)
        .select("vec_id")
        .localCheckpoint()
    )
    hit = exact.intersect(ivf)
    n_exact = exact.agg(F.count("*").cast("long").alias("n_exact"))
    n_ivf = ivf.agg(F.count("*").cast("long").alias("n_ivfpq"))
    n_hit = hit.agg(F.count("*").cast("long").alias("n_hit"))
    return (
        n_exact.crossJoin(F.broadcast(n_ivf))
        .crossJoin(F.broadcast(n_hit))
        .select(
            "n_exact",
            "n_ivfpq",
            "n_hit",
            F.round(
                F.try_divide(F.col("n_hit").cast("double"), F.col("n_exact")), 6
            ).alias("recall"),
        )
    )


# --- embedding outlier detection ---------------------------------------------

OUTLIER_Z = 2.0  # flag vectors beyond mean + 2 sigma of their cluster


@register(
    "emb_outlier_detection",
    oracle="WITH " + _kmeans_assign_ctes() + f""",
stats AS (
  SELECT m.cid AS cid,
         avg(m.d) AS mu,
         stddev_pop(m.d) AS sigma,
         count(*) AS n_cluster
  FROM fin GROUP BY m.cid
)
SELECT f.vec_id,
       CAST(f.m.cid AS BIGINT) AS cluster_id,
       round(f.m.d, 6) AS dist,
       round((f.m.d - s.mu) / nullif(s.sigma, 0), 6) AS zscore,
       CAST(s.n_cluster AS BIGINT) AS n_cluster
FROM fin f JOIN stats s ON s.cid = f.m.cid
WHERE s.sigma > 0 AND round((f.m.d - s.mu) / s.sigma, 6) > {OUTLIER_Z}
""",
    doc="Embedding-space outlier detection: vectors whose distance to "
    "their (sample-trained) cluster centroid exceeds mean + 2 sigma of "
    "the cluster — the noise-pruning sibling of SemDeDup (corrupt "
    "docs, encoding failures, and off-distribution content land far "
    "from every centroid). Reuses the IVF coarse assignment; the "
    "per-cluster moment stats are a k-row aggregate broadcast back to "
    "the assignment stream, so flagging costs one map-side join over "
    "the (vec_id, cid, d) table the index build already produced. "
    "Population stddev (exact sums) keeps the z-score cross-engine "
    "deterministic at 6dp.",
)
def emb_outlier_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as _W  # noqa: F401

    emb = load_table(spark, "embeddings", sf_dir)
    assigned = S.kmeans_assign(
        emb, k=KMEANS_K, iters=KMEANS_ITERS, dim=64, train_mod=KMEANS_TRAIN_MOD
    )
    stats = assigned.groupBy("cid").agg(
        F.avg("d").alias("mu"),
        F.stddev_pop("d").alias("sigma"),
        F.count("*").alias("n_cluster"),
    )
    j = assigned.join(F.broadcast(stats), "cid")
    # Threshold on the 6-dp grid the output already uses: mu/sigma come
    # from engine-specific accumulation order, so an unrounded z within
    # float noise of Z could flip between engines (same class as the
    # semdedup tau edge). Both engines round before comparing.
    z = F.round((F.col("d") - F.col("mu")) / F.col("sigma"), 6)
    return (
        j.where((F.col("sigma") > 0) & (z > OUTLIER_Z))
        .select(
            "vec_id",
            F.col("cid").cast("long").alias("cluster_id"),
            F.round("d", 6).alias("dist"),
            F.round(z, 6).alias("zscore"),
            F.col("n_cluster").cast("long").alias("n_cluster"),
        )
    )


# --- maximum-inner-product search (MIPS) ------------------------------------


@register(
    "sim_mips_topk",
    oracle=f"""
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings
           WHERE vec_id = {QUERY_VEC_ID})
SELECT vec_id,
       round(list_dot_product(CAST(embedding AS DOUBLE[]), qe), 6) AS ip
FROM embeddings CROSS JOIN q
WHERE vec_id <> {QUERY_VEC_ID}
ORDER BY round(list_dot_product(CAST(embedding AS DOUBLE[]), qe), 6) DESC,
         vec_id
LIMIT {TOP_K}
""",
    doc="Maximum-inner-product top-k (the recommendation/retrieval "
    "scoring where vector MAGNITUDE matters, unlike cosine): exact "
    "brute force with the query row riding a 1-row broadcast "
    "nested-loop join, per-row dot as the same unrolled codegen chain "
    "as the cosine family (bit-identical to DuckDB's sequential "
    "list_dot_product), TakeOrderedAndProject top-k — one pass, no "
    "global sort. At scale MIPS reduces to cosine-ANN by the standard "
    "norm-augmentation transform (append sqrt(M^2 - |x|^2) as an extra "
    "dimension), after which the IVF/PQ family above applies "
    "unchanged.",
)
def sim_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    qdf = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("_qe")
    )
    d = S._dot_terms("embedding", "_qe", S.EMB_DIM)
    return (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .join(F.broadcast(qdf))
        .select("vec_id", F.round(F.expr(d), 6).alias("ip"))
        .orderBy(F.desc("ip"), F.asc("vec_id"))
        .limit(TOP_K)
    )


# --- matryoshka (truncated-dimension) retrieval quality ---------------------

MRL_DIM = 16  # truncated prefix dimensionality evaluated against full 64


@register(
    "emb_matryoshka_recall",
    oracle=f"""
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings
           WHERE vec_id = {QUERY_VEC_ID}),
full_rank AS (
  SELECT vec_id
  FROM embeddings CROSS JOIN q
  WHERE vec_id <> {QUERY_VEC_ID}
  ORDER BY round({S.cosine_sql('embedding', 'qe')}, 6) DESC, vec_id
  LIMIT {TOP_K}
),
trunc AS (
  SELECT vec_id,
         (CAST(embedding AS DOUBLE[]))[1:{MRL_DIM}] AS tv,
         qe[1:{MRL_DIM}] AS tq
  FROM embeddings CROSS JOIN q
  WHERE vec_id <> {QUERY_VEC_ID}
),
trunc_rank AS (
  SELECT vec_id FROM trunc
  ORDER BY round(list_dot_product(tv, tq)
                 / (sqrt(list_dot_product(tv, tv))
                    * sqrt(list_dot_product(tq, tq))), 6) DESC, vec_id
  LIMIT {TOP_K}
)
SELECT {TOP_K} AS k, {MRL_DIM} AS trunc_dim,
       (SELECT count(*) FROM full_rank JOIN trunc_rank USING (vec_id))
         AS n_hits,
       (SELECT count(*) FROM full_rank JOIN trunc_rank USING (vec_id))::DOUBLE
         / {TOP_K} AS recall
""",
    doc="Matryoshka-representation evaluation: top-k retrieval by the "
    "first-{}-dims cosine measured against full-dimension cosine as "
    "recall@k — the 'can we search the cheap prefix' check behind "
    "MRL-style tiered retrieval (prefix search + full-dim rerank). "
    "Both rankings are brute-force passes with 6-dp-rounded "
    "deterministic tie-breaks; the truncated cosine reuses the same "
    "unrolled codegen chain with dim={} (prefix dims of the SAME "
    "column — no data movement, just a narrower expression). The "
    "measured-recall contract matches sim_ann_recall/sim_ivfpq_recall: "
    "approximation quality is reported, never assumed.".format(
        MRL_DIM, MRL_DIM
    ),
)
def emb_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r9 replan (sf20 decade-check): the old form ran TWO independent
    # brute-force passes over the corpus — one scan + cosine per
    # ranking. Both cosines share the same row, so score ONCE (full-dim
    # and prefix-dim in one projection), checkpoint the tiny
    # (vec_id, cf, ct) frame, and take both top-ks from it: one corpus
    # scan instead of two. sf20 A/B: 4.5 -> 2.4 s, value-identical.
    emb = load_table(spark, "embeddings", sf_dir)
    qdf = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("_qe")
    )
    scored = (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .join(F.broadcast(qdf))
        .select(
            "vec_id",
            F.round(S.cosine_named("embedding", "_qe"), 6).alias("cf"),
            F.round(
                S.cosine_named("embedding", "_qe", dim=MRL_DIM), 6
            ).alias("ct"),
        )
        .localCheckpoint(eager=True)
    )
    full = (
        scored.orderBy(F.desc("cf"), F.asc("vec_id"))
        .limit(TOP_K)
        .select("vec_id")
    )
    trunc = (
        scored.orderBy(F.desc("ct"), F.asc("vec_id"))
        .limit(TOP_K)
        .select("vec_id")
    )
    n_hits = full.join(trunc, "vec_id").agg(
        F.count("*").cast("long").alias("n_hits")
    )
    return n_hits.select(
        F.lit(TOP_K).cast("long").alias("k"),
        F.lit(MRL_DIM).cast("long").alias("trunc_dim"),
        "n_hits",
        (F.col("n_hits").cast("double") / TOP_K).alias("recall"),
    )


# --- per-label centroid drift -----------------------------------------------

DRIFT_DIM = 64


@register(
    "emb_label_centroid_drift",
    oracle=f"""
WITH elems AS (
  SELECT label, vec_id % 2 AS half, t.i AS pos,
         CAST(round(CAST(embedding[t.i] AS DOUBLE) * 1000000) AS BIGINT)
           AS q
  FROM embeddings CROSS JOIN range(1, {DRIFT_DIM + 1}) t(i)
),
sums AS (
  SELECT label, half, pos,
         CAST(sum(q) AS BIGINT) AS s, count(*) AS n
  FROM elems GROUP BY 1, 2, 3
),
means AS (
  SELECT label, half, pos,
         CASE WHEN s < 0 THEN -((-s) // n) ELSE s // n END AS m
  FROM sums
),
paired AS (
  SELECT a.label, a.pos, a.m AS ma, b.m AS mb
  FROM means a JOIN means b
    ON a.label = b.label AND a.pos = b.pos AND a.half = 0 AND b.half = 1
),
mom AS (
  SELECT label,
         CAST(sum(ma * mb) AS BIGINT) AS sxy,
         CAST(sum(ma * ma) AS BIGINT) AS sxx,
         CAST(sum(mb * mb) AS BIGINT) AS syy
  FROM paired GROUP BY label
),
counts AS (
  SELECT label,
         CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_a,
         CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_b
  FROM embeddings GROUP BY label
)
SELECT c.label, c.n_a, c.n_b,
       m.sxy / sqrt(CAST(m.sxx AS DOUBLE) * CAST(m.syy AS DOUBLE))
         AS centroid_cos
FROM counts c JOIN mom m USING (label)
WHERE m.sxx > 0 AND m.syy > 0
""",
    doc="Per-label embedding centroid drift: split each label's vectors "
    "into two deterministic halves (vec_id parity — in production: "
    "yesterday's batch vs today's), compute both centroids, and report "
    "their cosine — the embedding-space drift monitor that catches "
    "encoder version skew, pipeline corruption, or distribution shift "
    "per class (cosine near 1 = stable; falling = the label's "
    "population moved). Exactness: elements quantize to 1e-6-unit "
    "BIGINTs per (label, half, dim) sum (order-independent), centroid "
    "means are sign-aware truncating integer division, and the closing "
    "cosine is three IEEE ops over exact integer moments, emitted "
    "UNROUNDED — no engine-accumulated floats and no round()-of-"
    "double contract edge; cosine is "
    "scale-invariant so integer means lose nothing. Scale shape: ONE "
    "(label, half, dim) hash-agg whose map-side partial bounds each "
    "partition's contribution at |labels| x 2 x dim rows; everything "
    "downstream runs on that bounded table.",
)
def emb_label_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    elems = emb.select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode("embedding").alias("pos0", "e"),
    ).select(
        "label",
        "half",
        (F.col("pos0") + 1).alias("pos"),
        F.round(F.col("e") * 1e6).cast("long").alias("q"),
    )
    means = (
        elems.groupBy("label", "half", "pos")
        .agg(F.sum("q").cast("long").alias("s"), F.count("*").alias("n"))
        .select("label", "half", "pos", F.expr("s div n").alias("m"))
    )
    a = means.where(F.col("half") == 0).select(
        "label", "pos", F.col("m").alias("ma")
    )
    b = means.where(F.col("half") == 1).select(
        "label", "pos", F.col("m").alias("mb")
    )
    mom = (
        a.join(b, ["label", "pos"])
        .groupBy("label")
        .agg(
            F.sum(F.col("ma") * F.col("mb")).cast("long").alias("sxy"),
            F.sum(F.col("ma") * F.col("ma")).cast("long").alias("sxx"),
            F.sum(F.col("mb") * F.col("mb")).cast("long").alias("syy"),
        )
    )
    counts = emb.groupBy("label").agg(
        F.sum(F.when(F.col("vec_id") % 2 == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("vec_id") % 2 == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
    )
    return (
        counts.join(mom, ["label"])
        .where((F.col("sxx") > 0) & (F.col("syy") > 0))
        .select(
            "label",
            "n_a",
            "n_b",
            # unrounded on purpose: the moments are exact integers and
            # the close is three IEEE ops (×, sqrt, ÷) — bit-identical
            # on both engines, while round()-at-6dp is NOT (Spark
            # rounds the decimal string, DuckDB the binary double; a
            # 1-ulp edge flips the 6th decimal — the r2/r3 bug class)
            (
                F.col("sxy")
                / F.sqrt(F.col("sxx") * F.lit(1.0) * F.col("syy"))
            ).alias("centroid_cos"),
        )
    )


# --- IVF nprobe recall curve -------------------------------------------------

NPROBES = (1, 2, 4)


def _nprobe_sql() -> str:
    branches = []
    for np_ in NPROBES:
        branches.append(f"""
SELECT {np_} AS nprobe,
       (SELECT count(*) FROM fin f JOIN probes p ON f.m.cid = p.cid
        WHERE p.pr <= {np_} AND f.vec_id <> {QUERY_VEC_ID}) AS n_candidates,
       (SELECT count(*) FROM (
          (SELECT c.vec_id FROM fin c
           JOIN probes p ON c.m.cid = p.cid AND p.pr <= {np_}
           JOIN e USING (vec_id) CROSS JOIN q
           WHERE c.vec_id <> {QUERY_VEC_ID}
           ORDER BY list_distance(e.v, q.v), c.vec_id LIMIT {TOP_K})
          INTERSECT (SELECT vec_id FROM exact)
        ) t) AS n_hit""")
    return (
        "WITH "
        + _kmeans_assign_ctes()
        + f""",
q AS (SELECT v FROM e WHERE vec_id = {QUERY_VEC_ID}),
cdist AS (
  SELECT c{KMEANS_ITERS}.cid, list_distance(q.v, c{KMEANS_ITERS}.c) AS dq
  FROM c{KMEANS_ITERS} CROSS JOIN q
),
probes AS (
  SELECT cid, row_number() OVER (ORDER BY dq, cid) AS pr FROM cdist
),
exact AS MATERIALIZED (
  SELECT e.vec_id FROM e CROSS JOIN q
  WHERE e.vec_id <> {QUERY_VEC_ID}
  ORDER BY list_distance(e.v, q.v), e.vec_id LIMIT {TOP_K}
)
SELECT nprobe, CAST(n_candidates AS BIGINT) AS n_candidates,
       CAST(n_hit AS BIGINT) AS n_hit,
       CAST(n_hit AS DOUBLE) / {TOP_K} AS recall
FROM ({" UNION ALL ".join(branches)})
"""
    )


@register(
    "sim_ivf_nprobe_recall",
    oracle=_nprobe_sql(),
    doc="IVF recall-vs-nprobe curve: the query routed to its 1, 2, and "
    "4 nearest coarse cells, exact L2 ranking within the probed "
    "candidates, recall@{k} against the global exact top-{k} — the "
    "tuning curve behind every production ANN deployment's "
    "latency/recall knob (FAISS nprobe). This measures what widening "
    "the probe BUYS, where sim_ivfpq_recall measures one operating "
    "point; together with the candidate counts it gives recall per "
    "scanned row, the quantity capacity planning actually needs. "
    "Deterministic: lowest-id k-means init, struct-min assignment, "
    "(distance, id) tie orders everywhere. Scale shape: the coarse "
    "assignment is computed once (the index build) and each probe "
    "level is a cell-key semi-join — probing nprobe/k of the corpus — "
    "followed by a TakeOrdered within candidates; the centroid "
    "distance table is k rows, broadcast.".format(k=TOP_K),
)
def sim_ivf_nprobe_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from mrc_spark_jobs_pubmed_spark.operators.similarity import (
        _dvec,
        l2dist,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    cents = S.kmeans_centroids(
        emb, k=KMEANS_K, iters=KMEANS_ITERS, dim=64,
        train_mod=KMEANS_TRAIN_MOD,
    )
    assigned = (
        S.assign_to_centroids(emb, cents, dim=64)
        .select("vec_id", "cid")
        .localCheckpoint(eager=True)
    )
    e = emb.select("vec_id", _dvec(F.col("embedding")).alias("v"))
    qv = e.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("v").alias("qv")
    )
    probes = (
        cents.crossJoin(F.broadcast(qv))
        .select("cid", l2dist(F.col("c"), F.col("qv"), 64).alias("dq"))
        .select(
            "cid",
            F.row_number()
            .over(Window.orderBy("dq", "cid"))
            .alias("pr"),
        )
        .localCheckpoint(eager=True)
    )
    dists = (
        e.crossJoin(F.broadcast(qv))
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", l2dist(F.col("v"), F.col("qv"), 64).alias("d"))
        .localCheckpoint(eager=True)
    )
    exact = dists.orderBy("d", "vec_id").limit(TOP_K).select("vec_id")
    rows = None
    for np_ in NPROBES:
        cand = assigned.join(
            F.broadcast(probes.where(F.col("pr") <= np_)), "cid"
        ).filter(F.col("vec_id") != QUERY_VEC_ID)
        topk = (
            dists.join(cand.select("vec_id"), "vec_id")
            .orderBy("d", "vec_id")
            .limit(TOP_K)
            .select("vec_id")
        )
        n_cand = cand.agg(F.count("*").alias("n_candidates"))
        n_hit = topk.join(exact, "vec_id").agg(F.count("*").alias("n_hit"))
        row = (
            n_cand.crossJoin(n_hit)
            .select(
                F.lit(np_).cast("integer").alias("nprobe"),
                F.col("n_candidates").cast("long"),
                F.col("n_hit").cast("long"),
                (F.col("n_hit").cast("double") / TOP_K).alias("recall"),
            )
        )
        rows = row if rows is None else rows.unionByName(row)
    return rows


# --- clustering quality: purity against labels -------------------------------


@register(
    "emb_cluster_purity",
    oracle=f"""
WITH {_kmeans_assign_ctes()},
joined AS (
  SELECT f.m.cid AS cid, e2.label
  FROM fin f JOIN embeddings e2 ON e2.vec_id = f.vec_id
),
cl AS (
  SELECT cid, label, count(*) AS n FROM joined GROUP BY cid, label
),
maj AS (
  SELECT cid, CAST(sum(n) AS BIGINT) AS n_vecs,
         max(struct_pack(n := n, neg_label := -label)).n AS n_majority,
         -max(struct_pack(n := n, neg_label := -label)).neg_label
           AS majority_label
  FROM cl GROUP BY cid
)
SELECT cid AS cluster_id, n_vecs,
       CAST(majority_label AS BIGINT) AS majority_label,
       CAST(n_majority AS BIGINT) AS n_majority,
       CAST((n_majority * 1000000) // n_vecs AS BIGINT) AS purity_u6
FROM maj
""",
    doc="Clustering quality — per-cluster purity against the labeled "
    "classes: each k-means cluster's majority label (ties to the "
    "LOWEST label via an associative struct-max — deterministic), its "
    "share in exact 1e-6 units, and the cluster size. The standard "
    "external clustering-evaluation measure, and the go/no-go check "
    "before a quantizer's cells are trusted as ANN partitions or "
    "curriculum strata. Scale shape: the assignment reuses the "
    "sample-trained coarse quantizer (broadcast codebook, data never "
    "shuffles for assignment); the label join is vec_id-keyed; the "
    "(cluster, label) contingency agg collapses map-side to "
    "k x |labels| rows — the purity close runs on that bounded table.",
)
def emb_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    assigned = S.kmeans_assign(
        emb, k=KMEANS_K, iters=KMEANS_ITERS, dim=64,
        train_mod=KMEANS_TRAIN_MOD,
    ).select("vec_id", "cid")
    cl = (
        assigned.join(emb.select("vec_id", "label"), "vec_id")
        .groupBy("cid", "label")
        .agg(F.count("*").alias("n"))
    )
    maj = cl.groupBy("cid").agg(
        F.sum("n").cast("long").alias("n_vecs"),
        F.max(
            F.struct(
                F.col("n").alias("n"), (-F.col("label")).alias("neg_label")
            )
        ).alias("m"),
    )
    return maj.select(
        F.col("cid").alias("cluster_id"),
        "n_vecs",
        (-F.col("m.neg_label")).cast("long").alias("majority_label"),
        F.col("m.n").cast("long").alias("n_majority"),
        F.expr("CAST((m.n * 1000000) div n_vecs AS LONG)").alias(
            "purity_u6"
        ),
    )


# --- leave-one-out kNN classification eval ----------------------------------


@register(
    "emb_knn_label_eval",
    oracle=f"""
WITH b AS MATERIALIZED (
  SELECT vec_id, embedding, label, {S.bucket_id_sql('embedding')} AS bucket
  FROM embeddings
),
cand AS (
  SELECT a.vec_id AS vec_id, c.vec_id AS neighbor_id, c.label AS nlabel,
         round({S.cosine_sql('a.embedding', 'c.embedding')}, 6) AS cosine
  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id
),
ranked AS (
  SELECT vec_id, nlabel,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM cand
),
votes AS (
  SELECT vec_id, nlabel, count(*) AS c
  FROM ranked WHERE rank <= {KNN_K}
  GROUP BY vec_id, nlabel
),
pred AS (
  SELECT vec_id,
         -max(struct_pack(c := c, neg := -nlabel)).neg AS pred_label
  FROM votes GROUP BY vec_id
)
SELECT e.label AS true_label,
       count(*) AS n_vecs,
       CAST(sum(CASE WHEN p.pred_label = e.label THEN 1 ELSE 0 END)
            AS BIGINT) AS n_correct,
       CAST((sum(CASE WHEN p.pred_label = e.label THEN 1 ELSE 0 END)
             * 1000000) // count(*) AS BIGINT) AS accuracy_u6
FROM pred p JOIN b e USING (vec_id)
GROUP BY e.label
""",
    doc="Leave-one-out kNN classification accuracy per label: every "
    "vector classified by majority vote of its 5 bucketed nearest "
    "neighbors (tie -> lowest label via associative struct-max, the "
    "LPA idiom), scored against its own label — the standard "
    "'are these embeddings any good' probe (kNN eval tracks "
    "linear-probe quality without training anything) and the "
    "class-level confusion signal behind it. Accuracy in exact 1e-6 "
    "integer units. Scale shape: rides the sim_knn_join candidate "
    "machinery (sign-bit-bucketed, Σ bucket² candidates, never n²); "
    "the vote and rollup aggregations run on (vec, label) and "
    "|labels| domains with map-side partials.",
)
def emb_knn_label_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    nn = S.knn_join_bucketed(emb, k=KNN_K).select("vec_id", "neighbor_id")
    labels = emb.select("vec_id", "label")
    votes = (
        nn.join(
            labels.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("nlabel"),
            ),
            "neighbor_id",
        )
        .groupBy("vec_id", "nlabel")
        .agg(F.count("*").alias("c"))
    )
    pred = (
        votes.groupBy("vec_id")
        .agg(
            F.max(
                F.struct(F.col("c").alias("c"), (-F.col("nlabel")).alias("neg"))
            ).alias("m")
        )
        .select("vec_id", (-F.col("m.neg")).alias("pred_label"))
    )
    correct = F.sum(
        F.when(F.col("pred_label") == F.col("label"), 1).otherwise(0)
    )
    return (
        pred.join(labels, "vec_id")
        .groupBy(F.col("label").alias("true_label"))
        .agg(
            F.count("*").alias("n_vecs"),
            correct.cast("long").alias("n_correct"),
            F.expr(
                "CAST((sum(CASE WHEN pred_label = label THEN 1 ELSE 0 END)"
                " * 1000000) div count(*) AS LONG)"
            ).alias("accuracy_u6"),
        )
    )


# --- per-dimension embedding statistics profile ------------------------------


@register(
    "emb_dim_variance",
    oracle="""
WITH elems AS (
  SELECT t.i AS dim,
         CAST(round(CAST(embedding[t.i] AS DOUBLE) * 1000000) AS BIGINT)
           AS q6,
         CAST(round(CAST(embedding[t.i] AS DOUBLE) * 1000) AS BIGINT) AS q3
  FROM embeddings CROSS JOIN range(1, 65) t(i)
),
means AS (
  SELECT dim, count(*) AS n,
         CAST(sum(q6) AS BIGINT) AS s6,
         CAST(sum(q3) AS BIGINT) AS s3
  FROM elems GROUP BY dim
),
m AS (
  SELECT dim, n, s6, s3,
         CASE WHEN s6 < 0 THEN -((-s6) // n) ELSE s6 // n END AS m6,
         CASE WHEN s3 < 0 THEN -((-s3) // n) ELSE s3 // n END AS m3
  FROM means
),
centered AS (
  SELECT e.dim, CAST(sum((e.q3 - m.m3) * (e.q3 - m.m3)) AS BIGINT) AS ss
  FROM elems e JOIN m ON m.dim = e.dim
  GROUP BY e.dim
)
SELECT m.dim AS dim,
       CAST(m.n AS BIGINT) AS n_vecs,
       m.m6 AS mean_u6,
       CAST(c.ss // m.n AS BIGINT) AS var_u6
FROM m JOIN centered c USING (dim)
""",
    doc="Per-dimension embedding mean and variance in exact integer "
    "units — the encoder-health profile (dead dimensions, scale "
    "drift, variance collapse) run before trusting an embedding "
    "column for dedup or retrieval. Variance is computed from "
    "CENTERED 1e-3-unit moments — subtract the exact integer mean, "
    "then square — because uncentered second moments of 1e-6-unit "
    "sums overflow int64 at corpus scale (the rel_ts_correlation "
    "lesson); centered sums stay ~1e14 at 100x this volume, and "
    "variance lands in (1e-3)^2 = 1e-6 units via one nonnegative "
    "integer division. Scale shape: one posexplode + a 64-row "
    "mean table broadcast back into the centered pass — two scans "
    "of the embedding column, zero non-agg shuffles, 64 rows out "
    "at any corpus size.",
)
def emb_dim_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    elems = emb.select(F.posexplode("embedding").alias("pos0", "e")).select(
        (F.col("pos0") + 1).alias("dim"),
        F.round(F.col("e") * 1e6).cast("long").alias("q6"),
        F.round(F.col("e") * 1e3).cast("long").alias("q3"),
    )
    means = elems.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.sum("q6").cast("long").alias("s6"),
        F.sum("q3").cast("long").alias("s3"),
    )
    m = means.select(
        "dim",
        "n",
        F.expr("s6 div n").alias("m6"),
        F.expr("s3 div n").alias("m3"),
    )
    centered = (
        elems.join(F.broadcast(m), "dim")
        .groupBy("dim")
        .agg(
            F.sum((F.col("q3") - F.col("m3")) * (F.col("q3") - F.col("m3")))
            .cast("long")
            .alias("ss")
        )
    )
    return (
        m.join(centered, "dim")
        .select(
            F.col("dim").cast("long").alias("dim"),
            F.col("n").cast("long").alias("n_vecs"),
            F.col("m6").alias("mean_u6"),
            F.expr("ss div n").alias("var_u6"),
        )
    )


# --- range search (radius query) --------------------------------------------

RANGE_TAU = 0.2


@register(
    "sim_range_search",
    oracle=f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {QUERY_VEC_ID})
SELECT vec_id,
       round({S.cosine_sql('embedding', 'qe')}, 6) AS cosine
FROM embeddings, q
WHERE vec_id <> {QUERY_VEC_ID}
  AND round({S.cosine_sql('embedding', 'qe')}, 6) >= {RANGE_TAU}
""",
    doc="Range search (FAISS range_search): ALL vectors within cosine >= "
    f"{RANGE_TAU} of the query — the radius-query dual of top-k, used "
    "when the caller needs everything similar enough (dedup candidate "
    "pull, recall-complete retrieval) rather than a fixed count. The "
    "threshold compares on the already-6dp-rounded grid on BOTH "
    "engines (the ADVICE discipline: a raw-accumulation comparand at "
    "a rounding boundary can flip between engines). Single scan, "
    "1-row broadcast query join, predicate evaluated JVM-side — "
    "result size is data-dependent by design; at scale the sign-"
    "bucket prefilter (sim_ann_bucketed) composes in front to skip "
    "buckets whose centroid bound rules out the radius.",
)
def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Self-norms are hoisted OUT of the join: |a|^2 per row below the
    # join, |q|^2 on the 1-row broadcast side. Catalyst pushes the
    # radius predicate into the BroadcastNestedLoopJoin condition; with
    # the hoist that condition (and the output projection) each carry
    # ONE 64-term dot chain instead of the full 192-term cosine, which
    # exceeded the JVM 64 KB method limit and dropped the stage to
    # interpreted execution (r4 verdict). Float-op order is unchanged
    # (same left-associated chains), so values are bit-identical.
    emb = load_table(spark, "embeddings", sf_dir)
    qdf = emb.filter(F.col("vec_id") == QUERY_VEC_ID)
    q = F.broadcast(
        qdf.select(
            F.col("embedding").alias("_qe"),
            S.dot_named("embedding", "embedding").alias("_nq"),
        )
    )
    return (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .withColumn("_na", S.dot_named("embedding", "embedding"))
        .join(q)
        .select(
            "vec_id",
            F.round(
                S.dot_named("embedding", "_qe")
                / (F.sqrt("_na") * F.sqrt("_nq")),
                6,
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= RANGE_TAU)
    )


# --- attribute-filtered vector search ---------------------------------------

FILTER_LABEL = 3


@register(
    "sim_filtered_topk",
    oracle=f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {QUERY_VEC_ID})
SELECT vec_id, label,
       round({S.cosine_sql('embedding', 'qe')}, 6) AS cosine
FROM embeddings, q
WHERE vec_id <> {QUERY_VEC_ID} AND label = {FILTER_LABEL}
ORDER BY cosine DESC, vec_id
LIMIT {TOP_K}
""",
    doc="Attribute-filtered vector search (the vector-DB 'metadata "
    f"filter' every retrieval stack needs): top-{TOP_K} by cosine "
    f"among vectors with label = {FILTER_LABEL} only — PRE-filtered, "
    "so the scan prunes to the predicate before any distance math "
    "(post-filtering a plain top-k under-returns when the filter is "
    "selective, the classic filtered-ANN bug). The label predicate "
    "pushes to the parquet scan (PushedFilters), the query vector "
    "rides a 1-row broadcast, and the close is "
    "TakeOrderedAndProject. At IVF scale the same pre-filter "
    "composes inside each probed cell; selectivity x nprobe decides "
    "cell fan-out, and the measured-recall contract "
    "(sim_ivf_nprobe_recall) re-prices under the filter.",
)
def sim_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    qdf = emb.filter(F.col("vec_id") == QUERY_VEC_ID)
    q = F.broadcast(qdf.select(F.col("embedding").alias("_qe")))
    return (
        emb.filter(
            (F.col("vec_id") != QUERY_VEC_ID)
            & (F.col("label") == FILTER_LABEL)
        )
        .join(q)
        .select(
            "vec_id",
            "label",
            F.round(S.cosine_named("embedding", "_qe"), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(TOP_K)
    )


# --- batched multi-query top-k ----------------------------------------------

BATCH_Q_N = 5
BATCH_TOP_K = 5


@register(
    "sim_batch_topk",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS qid, embedding AS qe FROM embeddings
  WHERE vec_id < {BATCH_Q_N}
),
scored AS (
  SELECT q.qid, e.vec_id,
         round({S.cosine_sql('e.embedding', 'q.qe')}, 6) AS cosine
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id >= {BATCH_Q_N}
)
SELECT qid, vec_id, cosine, CAST(rnk AS BIGINT) AS rnk
FROM (
  SELECT *, row_number() OVER (
           PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rnk
  FROM scored
) WHERE rnk <= {BATCH_TOP_K}
""",
    doc=f"Batched vector search: top-{BATCH_TOP_K} for {BATCH_Q_N} query "
    "vectors in ONE corpus pass — the online-serving shape (requests "
    "arrive in batches; re-scanning per query multiplies cost by "
    "batch size). The query block rides a broadcast nested-loop join "
    "(tiny side), every (query, vector) score computes in the same "
    "projection, and the per-query top-k is a qid-partitioned "
    "window — so corpus I/O is amortized across the whole batch, "
    "which is the entire point. At IVF scale the same batch probes "
    "its union of cells once and the window stays per-query. "
    "Deterministic: 6dp-rounded scores, (cosine, vec_id) ties.",
)
def sim_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r11 (guide §4.2, VERDICT item 4): chunked-GEMM prune + exact-fold
    # rescore replaces the per-(row, query) codegen cosine chain and the
    # corpus-sized window — see S.topk_per_query_gemm for the exactness
    # argument (prefix-closed superset, then bit-identical rescore).
    emb = load_table(spark, "embeddings", sf_dir)
    ranked = S.topk_per_query_gemm(emb, BATCH_Q_N, BATCH_TOP_K)
    return ranked.select(
        "qid", "vec_id", "cosine", F.col("rnk").cast("long").alias("rnk")
    )


# --- reciprocal-rank fusion (multi-query / hybrid retrieval) ----------------

RRF_Q_N = 3  # fused query vectors (multi-query retrieval)
RRF_K = 60  # the standard RRF dampening constant
RRF_DEPTH = 50  # per-query candidate list depth
RRF_TOP = 20


@register(
    "sim_rrf_fusion",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS qid, embedding AS qe FROM embeddings
  WHERE vec_id < {RRF_Q_N}
),
scored AS (
  SELECT q.qid, e.vec_id,
         round({S.cosine_sql('e.embedding', 'q.qe')}, 6) AS cosine
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id >= {RRF_Q_N}
),
ranked AS (
  SELECT qid, vec_id, row_number() OVER (
           PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rnk
  FROM scored
)
SELECT vec_id,
       CAST(count(*) AS BIGINT) AS n_lists,
       CAST(sum(1000000000 // ({RRF_K} + rnk)) AS BIGINT) AS rrf_u9,
       CAST(min(rnk) AS BIGINT) AS best_rank
FROM ranked
WHERE rnk <= {RRF_DEPTH}
GROUP BY vec_id
ORDER BY rrf_u9 DESC, vec_id
LIMIT {RRF_TOP}
""",
    doc=f"Reciprocal-rank fusion over {RRF_Q_N} query vectors: each "
    f"query ranks the corpus (top-{RRF_DEPTH} lists), then lists merge "
    f"by RRF score sum(1/({RRF_K}+rank)) — the standard consensus "
    "merge for multi-query RAG retrieval and lexical+dense hybrid "
    "search, where rank fusion beats score fusion because ranks are "
    "scale-free across heterogeneous scorers. Scores are exact "
    "integers (1e9 // (k+rank) per contribution), so the fused "
    "ordering is bit-stable on any engine. Scale shape: ONE corpus "
    "pass scores all queries (broadcast query block, same as "
    "sim_batch_topk), per-query ranking is a qid-partitioned window, "
    "and the fusion itself is a hash-agg on vec_id over at most "
    f"{RRF_Q_N}x{RRF_DEPTH} surviving rows — the expensive side "
    "never leaves rank space.",
)
def sim_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r11 (guide §4.2, VERDICT item 4): same GEMM-prune + exact-rescore
    # stage as sim_batch_topk, at RRF depth — ranks are the definitional
    # global ranks (prefix-closed superset argument in the operator).
    emb = load_table(spark, "embeddings", sf_dir)
    ranked = S.topk_per_query_gemm(emb, RRF_Q_N, RRF_DEPTH)
    return (
        ranked.groupBy("vec_id")
        .agg(
            F.count("*").cast("long").alias("n_lists"),
            F.sum(F.expr(f"1000000000 div ({RRF_K} + rnk)"))
            .cast("long")
            .alias("rrf_u9"),
            F.min("rnk").cast("long").alias("best_rank"),
        )
        .orderBy(F.desc("rrf_u9"), "vec_id")
        .limit(RRF_TOP)
    )


# --- int8 clip-range calibration (per-dimension rank quantiles) -------------


# Bucket width for the two-pass nearest-rank refine (q6 = 1e-6 units).
# Unit-ish embedding components span q6 ∈ [-1e6, 1e6], so 2^14 gives
# ≤ ~128 buckets/dim — the pass-A histogram is ≤ dims x 128 rows at ANY
# corpus size, and pass B touches ~1/#buckets of the exploded rows.
CLIP_BUCKET_W = 1 << 14


@register(
    "emb_clip_calibration",
    oracle="""
WITH elems AS (
  SELECT t.i AS dim, vec_id,
         CAST(round(CAST(embedding[t.i] AS DOUBLE) * 1000000) AS BIGINT)
           AS q6
  FROM embeddings CROSS JOIN range(1, 65) t(i)
),
ranked AS (
  SELECT dim, q6,
         row_number() OVER (PARTITION BY dim ORDER BY q6, vec_id) AS r,
         count(*) OVER (PARTITION BY dim) AS n
  FROM elems
)
SELECT CAST(dim AS BIGINT) AS dim,
       CAST(max(n) AS BIGINT) AS n_vecs,
       CAST(max(CASE WHEN r <= (1 * n + 99) // 100 THEN q6 END)
            AS BIGINT) AS p01_u6,
       CAST(max(CASE WHEN r <= (99 * n + 99) // 100 THEN q6 END)
            AS BIGINT) AS p99_u6,
       CAST(max(CASE WHEN r <= (99 * n + 99) // 100 THEN q6 END)
            - max(CASE WHEN r <= (1 * n + 99) // 100 THEN q6 END)
            AS BIGINT) AS clip_range_u6,
       CAST((1 * max(n) + 99) // 100 - 1 AS BIGINT) AS n_clip_below,
       CAST(max(n) - (99 * max(n) + 99) // 100 AS BIGINT) AS n_clip_above
FROM ranked
GROUP BY dim
""",
    doc="Per-dimension p01/p99 clip-range calibration for int8 "
    "quantization: the percentile-clipping pass every production "
    "quantizer runs before emb_int8_quantize, because min/max scaling "
    "lets one outlier dimension burn the whole int8 range. "
    "Percentiles are NEAREST-RANK (value at rank ceil(q*n), "
    "(q6, vec_id) total order) so the calibration table is exact "
    "BIGINT on any engine — interpolated quantiles float-diverge. "
    "Scale shape (r10 — the old plan shuffled ALL 64n exploded rows "
    "into a window over |dims|=64 partitions and fully sorted each "
    "just to read two order statistics): the value at rank k among "
    "q6 values does not depend on tie order, so it comes from a "
    "two-pass bucket-then-refine — pass A map-side-combines a "
    "(dim, q6 div 2^14) bucket histogram (≤ dims x ~128 rows "
    "shuffle), a cumulative count over that tiny table locates the "
    "covering bucket and base rank for each target rank, and pass B "
    "re-explodes, keeps ONLY covering-bucket rows via a bounded "
    "(≤ 2·dims rows) broadcast semi-structure, and row_numbers "
    "within (dim, target) to pick rank k − base. The fact rows "
    "never shuffle in pass A (partial agg) and only ~1/#buckets of "
    "them shuffle in pass B; at 100 TB the same calibration runs on "
    "a deterministic hash-sample of vectors with the identical "
    "plan.",
)
def emb_clip_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load_table(spark, "embeddings", sf_dir)

    def elems() -> DataFrame:
        # vec_id is dropped: it only tie-breaks ranks, and the value at
        # rank k is invariant to tie order (§2.3 — narrower exchange).
        return (
            emb.select(F.posexplode("embedding").alias("pos0", "e"))
            .select(
                (F.col("pos0") + 1).alias("dim"),
                F.round(F.col("e").cast("double") * 1e6)
                .cast("long")
                .alias("q6"),
            )
            .withColumn("b", F.expr(f"q6 div {CLIP_BUCKET_W}"))
        )

    # Pass A — bucket histogram. `div` truncates toward zero, which is
    # still monotone non-decreasing in q6 (bucket 0 is double-wide
    # around zero) — all the cumulative walk needs.
    hist = elems().groupBy("dim", "b").agg(F.count("*").alias("c"))
    wb = (
        Window.partitionBy("dim")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        hist.select("dim", "b", "c", F.sum("c").over(wb).alias("cum"))
        .withColumn("base", F.col("cum") - F.col("c"))
        .withColumn("n", F.max("cum").over(Window.partitionBy("dim")))
    )
    # Covering bucket per (dim, target rank k): base < k <= cum.
    covers = []
    for tag, kexpr in (("lo", "(1 * n + 99) div 100"),
                       ("hi", "(99 * n + 99) div 100")):
        covers.append(
            cum.withColumn("k", F.expr(kexpr))
            .filter((F.col("base") < F.col("k")) & (F.col("k") <= F.col("cum")))
            .select("dim", "b", "base", "k", "n", F.lit(tag).alias("tag"))
        )
    cover = covers[0].unionByName(covers[1])

    # Pass B — refine: only covering-bucket rows (~64n/#buckets of the
    # exploded rows) shuffle, ranked per (dim, target). Ties in q6 rank
    # arbitrarily — the value at position k - base is unique anyway.
    # (r11 probe, rejected: reducing pass B to a per-value histogram +
    # cumulative pick — exact, and it bounds the ADVICE r10 degenerate
    # case where one covering bucket holds a dim's whole mass — measured
    # 6.1 → 10.3 s at sf20: q6 values are near-distinct, so the extra
    # partial agg + exchange reduced nothing and just added a hash pass.
    # The degenerate case remains a parallelism bound, not a correctness
    # one, and the shipped fixtures never trigger it.)
    wr = Window.partitionBy("dim", "tag").orderBy("q6")
    picked = (
        elems()
        .join(F.broadcast(cover), ["dim", "b"])
        .withColumn("r", F.row_number().over(wr))
        .filter(F.col("r") == F.col("k") - F.col("base"))
    )
    return (
        picked.groupBy("dim")
        .agg(
            F.max("n").cast("long").alias("n_vecs"),
            F.max(F.when(F.col("tag") == "lo", F.col("q6")))
            .cast("long")
            .alias("p01_u6"),
            F.max(F.when(F.col("tag") == "hi", F.col("q6")))
            .cast("long")
            .alias("p99_u6"),
        )
        .select(
            F.col("dim").cast("long").alias("dim"),
            "n_vecs",
            "p01_u6",
            "p99_u6",
            (F.col("p99_u6") - F.col("p01_u6")).alias("clip_range_u6"),
            F.expr("CAST((1 * n_vecs + 99) div 100 - 1 AS LONG)").alias(
                "n_clip_below"
            ),
            F.expr(
                "CAST(n_vecs - (99 * n_vecs + 99) div 100 AS LONG)"
            ).alias("n_clip_above"),
        )
    )


# --- retrieval quality metrics (MRR / DCG / NDCG @ 10) ----------------------

RM_Q_N = 10  # held-out query vectors
RM_K = 10  # evaluation depth
# GEMM dispatch floor for sim_retrieval_metrics (higher than the
# helper's 65536: only RM_Q_N=10 queries amortize the Python crossing;
# same-session crossover bracket in AB_r11_rm_sf1.json / _sf20.json)
RM_GEMM_MIN_ROWS = 1 << 20
# DCG rank discounts as 1e9-unit integer literals: W[r] = round(1e9 /
# log2(r+1)). Freezing the libm call into the plan text keeps both
# engines on the identical constant — no runtime transcendental.
RM_W = [1000000000, 630929754, 500000000, 430676558, 386852807,
        356207187, 333333333, 315464877, 301029996, 289064826]
RM_P = [1000000000, 1630929754, 2130929754, 2561606312, 2948459119,
        3304666306, 3637999639, 3953464516, 4254494512, 4543559338]

_RM_W_CASE = "CASE rnk " + " ".join(
    f"WHEN {r + 1} THEN {w}" for r, w in enumerate(RM_W)
) + " END"


def _rm_idcg_case(nrel: str) -> str:
    return (
        f"CASE least({nrel}, {RM_K}) "
        + " ".join(f"WHEN {j + 1} THEN {p}" for j, p in enumerate(RM_P))
        + " END"
    )


@register(
    "sim_retrieval_metrics",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS qid, embedding AS qe, label AS qlabel
  FROM embeddings WHERE vec_id < {RM_Q_N}
),
lab AS (
  SELECT label, CAST(count(*) AS BIGINT) AS n_relevant
  FROM embeddings WHERE vec_id >= {RM_Q_N} GROUP BY label
),
ranked AS (
  SELECT qid, qlabel, label, row_number() OVER (
           PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rnk
  FROM (
    SELECT q.qid, q.qlabel, e.vec_id, e.label,
           round({S.cosine_sql('e.embedding', 'q.qe')}, 6) AS cosine
    FROM embeddings e CROSS JOIN q
    WHERE e.vec_id >= {RM_Q_N}
  )
),
per_q AS (
  SELECT qid, qlabel,
         CAST(sum(CASE WHEN label = qlabel THEN 1 ELSE 0 END) AS BIGINT)
           AS hits_at_k,
         CAST(max(CASE WHEN label = qlabel
                  THEN 1000000000 // rnk ELSE 0 END) AS BIGINT) AS mrr_u9,
         CAST(sum(CASE WHEN label = qlabel
                  THEN {_RM_W_CASE} ELSE 0 END) AS BIGINT) AS dcg_u9
  FROM ranked WHERE rnk <= {RM_K}
  GROUP BY qid, qlabel
)
SELECT p.qid, p.qlabel AS label, l.n_relevant,
       p.hits_at_k, p.mrr_u9, p.dcg_u9,
       CAST(1000000 * p.dcg_u9 // {_rm_idcg_case('l.n_relevant')}
            AS BIGINT) AS ndcg_u6
FROM per_q p JOIN lab l ON l.label = p.qlabel
""",
    doc=f"Retrieval quality metrics at k={RM_K} for {RM_Q_N} held-out "
    "queries against label ground truth: hits@k, MRR, DCG and NDCG — "
    "the evaluation harness every ANN index change must clear before "
    "shipping (companion to the recall-only contracts "
    "sim_ann_recall / sim_ivfpq_recall). DCG rank discounts are "
    "frozen 1e9-unit integer literals (no runtime log2), ideal-DCG "
    "is the literal prefix-sum table indexed by min(n_relevant, k), "
    "and NDCG is one exact integer division — the whole scorecard is "
    "BIGINT-reproducible. Scale shape: one corpus pass scores all "
    "queries (broadcast query block), per-query ranking is a "
    "qid-partitioned window, metrics aggregate over k rows per "
    "query, and the relevance-count side is a label hash-agg joined "
    "broadcast.",
)
def sim_retrieval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load_table(spark, "embeddings", sf_dir)
    corpus = emb.where(F.col("vec_id") >= RM_Q_N)
    lab = corpus.groupBy("label").agg(
        F.count("*").cast("long").alias("n_relevant")
    )
    # r11 (guide §4.2, the r9 negative result located the cost in the
    # query-cosine arithmetic itself): above the GEMM threshold the
    # per-query top-k comes from the shared chunked-GEMM prune +
    # exact-fold rescore stage (S.topk_per_query_gemm — definitional
    # rows and ranks, see its exactness argument), and labels re-attach
    # to the ≤ RM_Q_N·RM_K ranked rows via broadcast joins against the
    # label projection (column-pruned scan; the 64-float vectors are
    # not re-read). Below the threshold the definitional inline form
    # keeps label in the single scan — the extra label joins cost more
    # than they save at small n (sf0.01 A/B: 0.94 vs 1.31 s), same
    # size-dispatch policy and metadata-only estimate as the helper.
    # sf20 same-session A/B (AB_r11_rm_sf20.json, values identical):
    # 7.36 → 1.97 s. Threshold: at RM_Q_N=10 the crossing amortizes
    # over 2.5-10x less arithmetic per row than batch_topk's 25-100
    # queries, so the helper's 65536 floor is too eager here —
    # same-session crossover bracket (AB_r11_rm_sf1.json): inline wins
    # at 200k rows (sf1 1.22 vs 1.61 s), GEMM wins at 4M (sf20 1.97 vs
    # 7.36 s); 2^20 sits at the bracket's geometric middle.
    if S.estimate_rows(emb) >= RM_GEMM_MIN_ROWS:
        ranked = S.topk_per_query_gemm(emb, RM_Q_N, RM_K)
        qlab = emb.where(F.col("vec_id") < RM_Q_N).select(
            F.col("vec_id").alias("_qid"), F.col("label").alias("qlabel")
        )
        tagged = F.broadcast(
            ranked.join(F.broadcast(qlab), ranked.qid == F.col("_qid")).drop(
                "_qid"
            )
        ).join(corpus.select("vec_id", "label"), "vec_id")
    else:
        q = F.broadcast(
            emb.where(F.col("vec_id") < RM_Q_N).select(
                F.col("vec_id").alias("qid"),
                F.col("embedding").alias("_qe"),
                F.col("label").alias("qlabel"),
            )
        )
        scored = corpus.join(q).select(
            "qid",
            "qlabel",
            "vec_id",
            "label",
            F.round(S.cosine_named("embedding", "_qe"), 6).alias("cosine"),
        )
        w = Window.partitionBy("qid").orderBy(
            F.desc("cosine"), F.asc("vec_id")
        )
        tagged = scored.withColumn("rnk", F.row_number().over(w)).where(
            F.col("rnk") <= RM_K
        )
    per_q = (
        tagged.groupBy("qid", "qlabel")
        .agg(
            F.sum(F.expr("CASE WHEN label = qlabel THEN 1 ELSE 0 END"))
            .cast("long")
            .alias("hits_at_k"),
            F.max(
                F.expr(
                    "CASE WHEN label = qlabel THEN 1000000000 div rnk"
                    " ELSE 0 END"
                )
            )
            .cast("long")
            .alias("mrr_u9"),
            F.sum(
                F.expr(
                    f"CASE WHEN label = qlabel THEN {_RM_W_CASE} ELSE 0 END"
                )
            )
            .cast("long")
            .alias("dcg_u9"),
        )
    )
    return (
        per_q.join(F.broadcast(lab), per_q.qlabel == lab.label)
        .select(
            "qid",
            per_q.qlabel.alias("label"),
            "n_relevant",
            "hits_at_k",
            "mrr_u9",
            "dcg_u9",
            F.expr(
                f"CAST(1000000 * dcg_u9 div {_rm_idcg_case('n_relevant')}"
                " AS LONG)"
            ).alias("ndcg_u6"),
        )
    )


# --- MMR diversity rerank ----------------------------------------------------

MMR_POOL = 20  # relevance-ranked candidate pool fed to the greedy pass
MMR_K = 5  # final diversified list length
# lambda = 0.7 in x10 integer weights: score = 7*rel - 3*max_sim_to_selected
MMR_W_REL, MMR_W_DIV = 7, 3


def _mmr_sql() -> str:
    """Unrolled greedy MMR as CTEs (one sN/selN pair per step)."""
    cos_q = S.cosine_sql("embedding", "qe")
    cos_ab = S.cosine_sql("a.embedding", "b.embedding")
    ctes = [
        f"q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {QUERY_VEC_ID})",
        f"""pool AS MATERIALIZED (
  SELECT vec_id, embedding,
         CAST(round(1000000 * {cos_q}) AS BIGINT) AS rel_u6
  FROM embeddings, q
  WHERE vec_id <> {QUERY_VEC_ID}
  ORDER BY rel_u6 DESC, vec_id
  LIMIT {MMR_POOL}
)""",
        f"""pairs AS MATERIALIZED (
  SELECT a.vec_id AS aa, b.vec_id AS bb,
         CAST(round(1000000 * {cos_ab}) AS BIGINT) AS sim_u6
  FROM pool a JOIN pool b ON a.vec_id <> b.vec_id
)""",
        f"""s1 AS (
  SELECT 1 AS rank, vec_id, rel_u6,
         CAST({MMR_W_REL} * rel_u6 AS BIGINT) AS mmr_score_u6
  FROM pool ORDER BY rel_u6 DESC, vec_id LIMIT 1
)""",
        "sel1 AS (SELECT * FROM s1)",
    ]
    for k in range(2, MMR_K + 1):
        ctes.append(
            f"""s{k} AS (
  SELECT {k} AS rank, c.vec_id, c.rel_u6,
         CAST({MMR_W_REL} * c.rel_u6 - {MMR_W_DIV} * mx.m AS BIGINT)
           AS mmr_score_u6
  FROM pool c
  JOIN (
    SELECT aa, max(sim_u6) AS m FROM pairs
    WHERE bb IN (SELECT vec_id FROM sel{k - 1})
    GROUP BY aa
  ) mx ON mx.aa = c.vec_id
  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{k - 1})
  ORDER BY mmr_score_u6 DESC, c.vec_id LIMIT 1
)""",
        )
        ctes.append(
            f"sel{k} AS (SELECT * FROM sel{k - 1} UNION ALL SELECT * FROM s{k})"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT CAST(rank AS BIGINT) AS rank, vec_id, rel_u6, mmr_score_u6
FROM sel{MMR_K} ORDER BY rank
"""
    )


@register(
    "sim_mmr_rerank",
    oracle=_mmr_sql(),
    doc="Maximal-Marginal-Relevance diversity rerank (Carbonell-"
    f"Goldstein, lambda=0.7): greedily pick {MMR_K} results from the "
    f"top-{MMR_POOL} relevance pool, each step maximizing "
    f"{MMR_W_REL}*rel - {MMR_W_DIV}*max(sim to already-picked) — the "
    "standard RAG/search post-filter that stops near-duplicate "
    "passages from filling the context window. Fully integer once "
    "cosines land on the 1e-6 grid (identical doubles both engines — "
    "same fold order — so the grid cast matches exactly); argmax ties "
    "break by vec_id, making the greedy path engine- and partitioning-"
    "deterministic. Scale shape: relevance top-k prunes the corpus to "
    f"{MMR_POOL} rows (TakeOrderedAndProject over one scan); the "
    "greedy pass runs as ONE grouped-pandas task over the tagged "
    "union of the pool and its exact Spark-computed pairwise-cosine "
    "grid (bounded at pool + pool^2 rows by construction) — greedy "
    "selection is inherently sequential in k, and the r8 A/B showed "
    "the previous unrolled-join form re-executed the growing "
    "non-checkpointed selection subplan ~3x per step (the "
    "reciprocal-NN duplicated-subtree class, ~81 duplicated tiny "
    "stages at k=5: 5.5 s of pure scheduling at sf20, 2.2 s after). "
    "At 100 TB the pool cut does all the work and the rerank cost "
    "is constant. First pick's score is {MMR_W_REL}*rel by contract "
    "(empty selected set); the pandas fold is pure int64 on the "
    "same 1e-6 grid, so values are engine-exact.",
)
def sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    qdf = emb.filter(F.col("vec_id") == QUERY_VEC_ID)
    q = F.broadcast(qdf.select(F.col("embedding").alias("_qe")))
    pool = (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .join(q)
        .select(
            "vec_id",
            "embedding",
            F.round(S.cosine_named("embedding", "_qe") * 1000000)
            .cast("long")
            .alias("rel_u6"),
        )
        .orderBy(F.desc("rel_u6"), F.asc("vec_id"))
        .limit(MMR_POOL)
        .localCheckpoint(eager=True)
    )
    a = pool.select(
        F.col("vec_id").alias("aa"), F.col("embedding").alias("ea")
    )
    b = pool.select(
        F.col("vec_id").alias("bb"), F.col("embedding").alias("eb")
    )
    pairs = a.join(F.broadcast(b), F.col("aa") != F.col("bb")).select(
        "aa",
        "bb",
        F.round(S.cosine_named("ea", "eb") * 1000000)
        .cast("long")
        .alias("sim_u6"),
    )
    # tagged union: 'p' rows carry (vec_id, rel), 's' rows the exact
    # pairwise grid — one bounded group, one sequential greedy task
    tagged = pool.select(
        F.lit(0).alias("g"),
        F.lit("p").alias("tag"),
        F.col("vec_id").alias("aa"),
        F.lit(None).cast("long").alias("bb"),
        F.col("rel_u6").cast("long").alias("val"),
    ).unionByName(
        pairs.select(
            F.lit(0).alias("g"),
            F.lit("s").alias("tag"),
            "aa",
            "bb",
            F.col("sim_u6").alias("val"),
        )
    )

    def greedy(pdf):
        import pandas as pd

        rel = {
            int(r.aa): int(r.val)
            for r in pdf[pdf["tag"] == "p"].itertuples()
        }
        sim: dict = {}
        for r in pdf[pdf["tag"] == "s"].itertuples():
            sim.setdefault(int(r.aa), {})[int(r.bb)] = int(r.val)
        out = []
        selected: list[int] = []
        while rel and len(selected) < MMR_K:
            if not selected:
                cand = [
                    (MMR_W_REL * rv, v, rv) for v, rv in rel.items()
                ]
            else:
                # mirror the oracle's join: a candidate needs a pairs
                # row to every already-selected vec (all-pairs grid, so
                # this only excludes the degenerate pool-of-one case)
                cand = [
                    (
                        MMR_W_REL * rv
                        - MMR_W_DIV * max(sim[v][s] for s in selected),
                        v,
                        rv,
                    )
                    for v, rv in rel.items()
                    if all(s in sim.get(v, {}) for s in selected)
                ]
            if not cand:
                break
            score, v, rv = max(cand, key=lambda t: (t[0], -t[1]))
            out.append((len(selected) + 1, v, rv, score))
            selected.append(v)
            del rel[v]
        return pd.DataFrame(
            out, columns=["rank", "vec_id", "rel_u6", "mmr_score_u6"]
        )

    return (
        tagged.groupBy("g")
        .applyInPandas(
            greedy,
            "rank long, vec_id long, rel_u6 long, mmr_score_u6 long",
        )
        .orderBy("rank")
    )


# --- hard-negative / hard-positive mining -------------------------------------

MINE_ANCHOR_MOD = 50  # every 50th vector is an anchor


@register(
    "emb_hard_negative_mining",
    oracle=f"""
WITH anchors AS (
  SELECT vec_id AS anchor, embedding AS ae, label AS alabel
  FROM embeddings WHERE vec_id % {MINE_ANCHOR_MOD} = 0
),
scored AS (
  SELECT a.anchor, a.alabel, e.vec_id, e.label,
         CAST(round(1000000 * {S.cosine_sql('e.embedding', 'a.ae')}) AS BIGINT)
           AS cos_u6
  FROM anchors a JOIN embeddings e ON e.vec_id <> a.anchor
),
neg AS (
  SELECT anchor, vec_id AS neg_id, cos_u6 AS neg_cos_u6
  FROM (
    SELECT anchor, vec_id, cos_u6,
           row_number() OVER (
             PARTITION BY anchor ORDER BY cos_u6 DESC, vec_id ASC
           ) AS rn
    FROM scored WHERE label <> alabel
  ) WHERE rn = 1
),
pos AS (
  SELECT anchor, vec_id AS pos_id, cos_u6 AS pos_cos_u6
  FROM (
    SELECT anchor, vec_id, cos_u6,
           row_number() OVER (
             PARTITION BY anchor ORDER BY cos_u6 ASC, vec_id ASC
           ) AS rn
    FROM scored WHERE label = alabel
  ) WHERE rn = 1
)
SELECT p.anchor, p.pos_id, p.pos_cos_u6, n.neg_id, n.neg_cos_u6,
       CAST(p.pos_cos_u6 - n.neg_cos_u6 AS BIGINT) AS margin_u6
FROM pos p JOIN neg n USING (anchor)
ORDER BY anchor
""",
    doc="Triplet mining for embedding training: per sampled anchor "
    f"(every {MINE_ANCHOR_MOD}th id), the HARDEST NEGATIVE (highest-"
    "cosine vector of a DIFFERENT label — the impostor) and the "
    "HARDEST POSITIVE (lowest-cosine vector of the SAME label — the "
    "stray), with the triplet margin pos-neg in 1e-6 units: negative "
    "margins are active triplets, exactly what FaceNet-style semi-hard "
    "mining feeds the loss. Arg-extremes run as associative "
    "struct-max/min aggregations (no per-anchor sort window), "
    "vec_id tie-breaks — deterministic on any partitioning. This is "
    "the exact brute verification path (anchors x corpus, pruned to "
    "1/{MINE_ANCHOR_MOD} of all pairs); the production mining loop "
    "swaps the corpus side for each anchor's IVF probe set "
    "(sim_kmeans_ivf) and re-prices recall with sim_ivf_nprobe_recall "
    "— same contract, candidate-bounded cost.",
)
def emb_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Chunked-GEMM kernel (operators/similarity.mine_triplets_gemm):
    # the expression-layer broadcast join scored anchors x corpus with
    # per-pair codegen cosine chains — 17 s at sf1, ~7 min at sf5. The
    # cogrouped BLAS form is the same kernel family as knn_join_bucketed
    # and returns identical rows (rounded-grid contract, id-packed
    # tie-breaks; verified equal at sf0.01/sf1/sf5).
    emb = load_table(spark, "embeddings", sf_dir)
    anchors = emb.where(F.col("vec_id") % MINE_ANCHOR_MOD == 0).select(
        F.col("vec_id").alias("anchor"),
        F.col("embedding").alias("ae"),
        F.col("label").alias("alabel"),
    )
    return (
        S.mine_triplets_gemm(emb, anchors)
        .select(
            "anchor",
            "pos_id",
            "pos_cos_u6",
            "neg_id",
            "neg_cos_u6",
            (F.col("pos_cos_u6") - F.col("neg_cos_u6"))
            .cast("long")
            .alias("margin_u6"),
        )
        .orderBy("anchor")
    )


# --- reciprocal nearest neighbors ---------------------------------------------


@register(
    "sim_reciprocal_nn",
    oracle=f"""
WITH b AS (
  SELECT vec_id, embedding, {S.bucket_id_sql('embedding')} AS bucket
  FROM embeddings
),
cand AS (
  SELECT a.vec_id AS vec_id, c.vec_id AS neighbor_id,
         round({S.cosine_sql('a.embedding', 'c.embedding')}, 6) AS cosine
  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id
),
nn1 AS (
  SELECT vec_id, neighbor_id, cosine
  FROM (
    SELECT vec_id, neighbor_id, cosine,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cosine DESC, neighbor_id) AS rn
    FROM cand
  ) WHERE rn = 1
)
SELECT a.vec_id AS vec_a, a.neighbor_id AS vec_b, a.cosine
FROM nn1 a JOIN nn1 b
  ON a.neighbor_id = b.vec_id AND b.neighbor_id = a.vec_id
WHERE a.vec_id < a.neighbor_id
ORDER BY vec_a
""",
    doc="Reciprocal nearest-neighbor pairs: (a, b) where a's single "
    "nearest neighbor is b AND b's is a — the high-precision match "
    "signal entity-resolution and cross-lingual mining stacks use "
    "(mutual-NN filtering is the standard bitext-mining gate) because "
    "one-directional NN is asymmetric and noisy near cluster "
    "boundaries. Built on the same bucket-confined kNN join as "
    "sim_knn_join (BLAS per bucket, never n^2). Mutuality is ONE "
    "groupBy, not a self-join: each vector owns exactly one rank-1 "
    "row, so the unordered pair {v, nn(v)} collects exactly two rows "
    "iff the relation is reciprocal — group by (least, greatest) and "
    "keep count==2 groups. The r7 replan: the reversed-key self-join "
    "hashed the two sides on mirrored keys, so the kNN applyInPandas "
    "subtree executed TWICE with no exchange reuse (2.52 -> 1.16 s at "
    "sf0.1, and at cluster scale it halves the dominant BLAS stage). "
    "Cosines compared on the 6dp grid with neighbor-id tie-breaks, so "
    "the rank-1 choice and therefore the mutual set is engine- and "
    "partitioning-exact; the emitted cosine is the lower-id side's, "
    "exactly as the oracle's a.cosine.",
)
def sim_reciprocal_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    nn1 = (
        S.knn_join_bucketed(emb, k=1)
        .select("vec_id", "neighbor_id", F.round("cosine", 6).alias("cosine"))
    )
    return (
        nn1.select(
            "vec_id",
            F.least("vec_id", "neighbor_id").alias("vec_a"),
            F.greatest("vec_id", "neighbor_id").alias("vec_b"),
            F.when(
                F.col("vec_id") < F.col("neighbor_id"), F.col("cosine")
            ).alias("cos_lo"),
        )
        .groupBy("vec_a", "vec_b")
        # countDistinct, not count: count(*)==2 would accept a DUPLICATE
        # rank-1 row for one vector (an upstream contract break) as a
        # "reciprocal" pair — and emit a NULL cosine (max of all-NULL
        # cos_lo). Requiring two DISTINCT owners means the pair really
        # was reached from both endpoints.
        .agg(
            F.countDistinct("vec_id").alias("n_dir"),
            F.max("cos_lo").alias("cosine"),
        )
        .where(F.col("n_dir") == 2)
        .select("vec_a", "vec_b", "cosine")
        .orderBy("vec_a")
    )


# --- deterministic farthest-point (k-means++-style) center init --------------

KPP_K = 6


def _kpp_sql() -> str:
    ctes = [
        "p AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v"
        " FROM embeddings)",
        "c1 AS MATERIALIZED (SELECT vec_id AS cid, v AS cv, 1 AS rank,"
        " CAST(0 AS BIGINT) AS d_u6 FROM p ORDER BY vec_id LIMIT 1)",
    ]
    prev = "c1"
    for r in range(2, KPP_K + 1):
        ctes.append(
            f"""m{r} AS MATERIALIZED (
  SELECT p.vec_id, p.v,
         min(CAST(round(list_distance(p.v, c.cv) * 1000000) AS BIGINT)) AS d
  FROM p CROSS JOIN {prev} c GROUP BY p.vec_id, p.v
)"""
        )
        ctes.append(
            f"""c{r} AS MATERIALIZED (
  SELECT cid, cv, rank, d_u6 FROM {prev}
  UNION ALL
  SELECT vec_id AS cid, v AS cv, {r} AS rank, d AS d_u6
  FROM m{r} ORDER BY rank, d DESC, cid LIMIT {r}
)"""
        )
        prev = f"c{r}"
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT rank, cid AS vec_id, d_u6 FROM {prev} ORDER BY rank
"""
    )


@register(
    "emb_kmeanspp_init",
    oracle=_kpp_sql(),
    doc=f"Deterministic farthest-point center initialization (the "
    "k-center / deterministic k-means++ variant): seed with the "
    f"lowest-id vector, then {KPP_K - 1} rounds of 'next center = the "
    "point farthest from every chosen center' (max of per-point min "
    "distance, 1e-6-unit integer grid, vec_id tie-break) — the "
    "RNG-free init that gives Lloyd's algorithm (sim_kmeans_ivf uses "
    "lowest-id init) a spread, reproducible starting set; each round "
    "also emits the selection distance, the coverage-radius curve "
    "k-center uses as its quality certificate. Exactness: distances "
    "are the bit-identical sequential fold both engines share "
    "(l2dist == list_distance), rounded per pair BEFORE the min/"
    "argmax, so the emitted winners are grid-exact with id "
    "tie-breaks — no GEMM, so the rounded-emitted-extreme hazard "
    "doesn't apply. Scale shape: each round is one broadcast of "
    "<= K tiny centers into a corpus scan + an associative "
    "struct-max — K linear passes, no shuffle of vectors, exactly "
    "how a production quantizer seeds at 100 TB (K ~ sqrt(n) passes "
    "amortized by sampling the train slice, as sim_kmeans_ivf does).",
)
def emb_kmeanspp_init(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    pts = emb.select("vec_id", S._dvec(F.col("embedding")).alias("v"))
    seed_id = pts.agg(F.min("vec_id").alias("cid"))
    centers = (
        pts.join(F.broadcast(seed_id), pts.vec_id == seed_id.cid)
        .select(
            "cid",
            F.col("v").alias("cv"),
            F.lit(1).alias("rank"),
            F.lit(0).cast("long").alias("d_u6"),
        )
    )
    for r in range(2, KPP_K + 1):
        d_to = pts.crossJoin(F.broadcast(centers.select("cv"))).select(
            "vec_id",
            "v",
            F.round(S.l2dist(F.col("v"), F.col("cv"), dim=64) * 1e6)
            .cast("long")
            .alias("d1"),
        )
        mind = d_to.groupBy("vec_id").agg(F.min("d1").alias("d"))
        nxt = (
            mind.agg(
                F.max(F.struct(F.col("d"), (-F.col("vec_id")).alias("nid"))).alias("m")
            )
            .select(
                (-F.col("m.nid")).alias("cid"),
                F.col("m.d").alias("d_u6"),
                F.lit(r).alias("rank"),
            )
            .join(pts.select(F.col("vec_id").alias("cid"), F.col("v").alias("cv")), "cid")
            .select("cid", "cv", "rank", "d_u6")
        )
        centers = centers.unionByName(nxt).localCheckpoint()
    return centers.select("rank", F.col("cid").alias("vec_id"), "d_u6").orderBy("rank")


# --- centroid silhouette (cluster-quality certificate) ------------------------

SIL_DIM = 64


@register(
    "emb_silhouette",
    oracle=f"""
WITH elems AS (
  SELECT vec_id, label, t.i AS pos,
         CAST(round(CAST(embedding[t.i] AS DOUBLE) * 1000000) AS BIGINT) AS q
  FROM embeddings CROSS JOIN range(1, {SIL_DIM + 1}) t(i)
),
cent AS (
  SELECT label AS clabel, pos,
         CASE WHEN s < 0 THEN -((-s) // n) ELSE s // n END AS m
  FROM (
    SELECT label, pos, CAST(sum(q) AS BIGINT) AS s, count(*) AS n
    FROM elems GROUP BY 1, 2
  )
),
d2 AS (
  SELECT e.vec_id, e.label, c.clabel,
         CAST(sum((e.q - c.m) * (e.q - c.m)) AS BIGINT) AS d2
  FROM elems e JOIN cent c ON e.pos = c.pos
  GROUP BY 1, 2, 3
),
pt AS (
  SELECT vec_id, label,
         max(CASE WHEN clabel = label THEN d2 END) AS a,
         min(CASE WHEN clabel <> label THEN d2 END) AS b
  FROM d2 GROUP BY 1, 2
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_pts,
       CAST(sum(CASE WHEN b > a THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
       CAST(sum(CASE WHEN b = a THEN 1 ELSE 0 END) AS BIGINT) AS n_tie,
       CAST(sum(b - a) AS BIGINT) AS gap_sum,
       CAST(sum(CASE WHEN a > b THEN a ELSE b END) AS BIGINT) AS den_sum,
       CAST(sum(b - a) AS DOUBLE) / sum(CASE WHEN a > b THEN a ELSE b END)
         AS macro_silhouette
FROM pt GROUP BY label ORDER BY label
""",
    doc="Per-label centroid silhouette — the clustering-quality "
    "certificate for a labeled embedding table (the 'simplified "
    "silhouette' of Hruschka et al., standard when all-pairs distances "
    "are infeasible): per point, a = squared L2 to its OWN label "
    "centroid, b = min squared L2 to any OTHER centroid; per label it "
    "reports how many points agree with their assignment (b > a), how "
    "many sit exactly on a boundary (b = a), and the macro silhouette "
    "sum(b-a)/sum(max(a,b)) in [-1, 1]. This is the eval a curator "
    "runs before trusting labels for stratified sampling or "
    "hard-negative mining (emb_hard_negative_mining assumes labels "
    "mean something; this measures whether they do). Exactness: "
    "elements quantize to 1e-6-unit BIGINTs, centroids are integer "
    "sums + sign-aware truncating division (the "
    "emb_label_centroid_drift contract), every distance is an exact "
    "integer sum of squared longs (|q| <= ~2e6, dim 64: no overflow), "
    "all comparisons and sums integer, and the single closing divide "
    "is one IEEE op over exact integers — deterministic on any "
    "partitioning/engine, emitted unrounded (the drift rule: round()-"
    "of-double is the cross-engine edge, one-op closes are not). "
    "Scale shape: centroid agg bounds at |labels| x dim rows and "
    "BROADCASTS; the point-side explode pipelines inside codegen into "
    "a (vec_id, label, clabel) partial agg, so the only shuffle is "
    "N x |labels| pre-summed distance rows, then the conditional "
    "arg-extreme one-pass (no per-centroid branch re-executes the "
    "subtree — the mine_triplets lesson applied at design time).",
)
def emb_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    elems = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("pos0", "e"),
    ).select(
        "vec_id",
        "label",
        (F.col("pos0") + 1).alias("pos"),
        F.round(F.col("e") * 1e6).cast("long").alias("q"),
    )
    cent = (
        elems.groupBy(F.col("label").alias("clabel"), "pos")
        .agg(F.sum("q").cast("long").alias("s"), F.count("*").alias("n"))
        .select("clabel", "pos", F.expr("s div n").alias("m"))
    )
    d2 = (
        elems.join(F.broadcast(cent), "pos")
        .groupBy("vec_id", "label", "clabel")
        .agg(
            F.sum((F.col("q") - F.col("m")) * (F.col("q") - F.col("m")))
            .cast("long")
            .alias("d2")
        )
    )
    pt = d2.groupBy("vec_id", "label").agg(
        F.max(F.when(F.col("clabel") == F.col("label"), F.col("d2"))).alias("a"),
        F.min(F.when(F.col("clabel") != F.col("label"), F.col("d2"))).alias("b"),
    )
    return (
        pt.groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n_pts"),
            F.sum(F.when(F.col("b") > F.col("a"), 1).otherwise(0))
            .cast("long")
            .alias("n_agree"),
            F.sum(F.when(F.col("b") == F.col("a"), 1).otherwise(0))
            .cast("long")
            .alias("n_tie"),
            F.sum(F.col("b") - F.col("a")).cast("long").alias("gap_sum"),
            # NOT F.greatest: greatest() SKIPS nulls, so a single-label
            # corpus (b is NULL for every point) would yield den_sum =
            # sum(a) while the oracle's CASE WHEN a > b THEN a ELSE b END
            # propagates NULL. when/otherwise mirrors the oracle exactly:
            # a > NULL is NULL -> otherwise-branch -> b (NULL) -> sum NULL.
            F.sum(
                F.when(F.col("a") > F.col("b"), F.col("a")).otherwise(F.col("b"))
            )
            .cast("long")
            .alias("den_sum"),
        )
        .select(
            "label",
            "n_pts",
            "n_agree",
            "n_tie",
            "gap_sum",
            "den_sum",
            (F.col("gap_sum") / F.col("den_sum")).alias("macro_silhouette"),
        )
        .orderBy("label")
    )
