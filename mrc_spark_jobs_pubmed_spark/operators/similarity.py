"""Similarity search over embedding columns (SURVEY.md §2 Part B).

`embeddings(vec_id, embedding array<float> 64-d, label)`:

* brute-force cosine top-k — the exact baseline: one pass, per-row
  JVM-side fold (`aggregate`/`zip_with`), TakeOrderedAndProject for k.
* axis-LSH buckets — sign bits of the first B dimensions form a bucket
  id: a deterministic, SQL-expressible stand-in for random-hyperplane
  LSH. At 100 TB the bucket id is the partition/cluster key; ANN probes
  only the query's bucket (IVF-style candidate pruning).
* BucketedRandomProjectionLSH (spark.ml) — the library scale path,
  seeded for reproducibility (not SQL-mirrorable → rows-only check).

All arithmetic is cast to double before folding so Spark and the DuckDB
oracle accumulate identically (same element order, same width).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

N_BUCKET_BITS = 8  # sign bits → 256 buckets


def _dvec(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


EMB_DIM = 64  # fixture embedding dimensionality


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product — same order/width as DuckDB's
    list_dot_product on DOUBLE[], so results match bit-for-bit. The
    fold is interpreted (ArrayAggregate): fine off the hot path; hot
    per-row scoring uses `cosine_named` below."""
    return F.aggregate(
        F.zip_with(_dvec(a), _dvec(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2norm(a) * l2norm(b))


def _dot_terms(a: str, b: str, dim: int) -> str:
    return " + ".join(
        f"(CAST(element_at({a}, {i}) AS DOUBLE) * "
        f"CAST(element_at({b}, {i}) AS DOUBLE))"
        for i in range(1, dim + 1)
    )


def dot_named(a: str, b: str, dim: int = EMB_DIM) -> Column:
    """Codegen'd unrolled dot product over NAMED array columns (one
    left-associated 64-term chain — same float order as the fold and as
    DuckDB's list_dot_product, so bit-identical). Used to hoist
    self-norms OUT of join conditions: sim_range_search's pushed filter
    inlined the full 192-term cosine into the BroadcastNestedLoopJoin
    condition AND the output projection, blowing the JVM 64 KB method
    limit (whole stage fell back to interpreted, 28x at sf5). With
    |a|^2 precomputed per row below the join and |q|^2 on the broadcast
    side, every surviving expression is a single 64-term chain."""
    return F.expr(f"({_dot_terms(a, b, dim)})")


def cosine_named(a: str, b: str, dim: int = EMB_DIM) -> Column:
    """Codegen'd cosine over NAMED array columns with known width.

    The fold form evaluates in the ArrayAggregate interpreter — at sf5
    (100k vectors) brute-force top-k spent 3.4 s there (36x DuckDB).
    Unrolling to a flat left-associated chain is the identical float-op
    sequence (0.0 + t1 == t1 exactly, same accumulation order), but
    whole-stage-codegen — and building it as ONE parsed SQL string
    keeps plan construction to a single py4j call (building 3x64
    Column objects from Python measured ~1 s of pure driver-side
    overhead per plan). Same trick as l2dist(dim=...) in the k-means
    hot loop."""
    d = _dot_terms(a, b, dim)
    na = _dot_terms(a, a, dim)
    nb = _dot_terms(b, b, dim)
    return F.expr(f"({d}) / (sqrt({na}) * sqrt({nb}))")


def cosine_sql(a: str, b: str) -> str:
    da, db = f"CAST({a} AS DOUBLE[])", f"CAST({b} AS DOUBLE[])"
    return (
        f"list_dot_product({da}, {db}) / "
        f"(sqrt(list_dot_product({da}, {da})) * sqrt(list_dot_product({db}, {db})))"
    )


def topk_cosine(df: DataFrame, query_vec: list[float], k: int = 10) -> DataFrame:
    """Exact top-k by cosine against a literal query vector.

    The query vector ships as a plan literal (broadcast-equivalent); the
    scan stays a single pass and Catalyst plans TakeOrderedAndProject —
    no global sort even at full scale.
    """
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    return (
        df.select("vec_id", "embedding", q.alias("_q"))
        .select(
            "vec_id",
            F.round(
                cosine_named("embedding", "_q", dim=len(query_vec)), 6
            ).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
    )


def topk_cosine_q(df: DataFrame, qdf: DataFrame, k: int = 10) -> DataFrame:
    """Exact top-k by cosine against a 1-row query DataFrame — one job.

    The list-literal form (`topk_cosine`) needs a driver round-trip to
    fetch the query vector first: a whole extra Spark job per execution,
    which at interactive scale is pure fixed overhead and at cluster
    scale is a scheduling barrier. Here the query row rides a broadcast
    nested-loop join (1 row, so "nested loop" is a single pass) and the
    plan stays one job ending in TakeOrderedAndProject.
    """
    q = F.broadcast(qdf.select(F.col("embedding").alias("_qe")))
    return (
        df.join(q)
        .select(
            "vec_id",
            F.round(cosine_named("embedding", "_qe"), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
    )


def bucket_id(col: Column, bits: int = N_BUCKET_BITS) -> Column:
    """IVF-ish bucket: sign bits of the first `bits` dimensions."""
    expr = None
    for i in range(bits):
        term = F.when(F.element_at(col, i + 1) > 0, F.lit(1 << i)).otherwise(F.lit(0))
        expr = term if expr is None else expr + term
    return expr


def bucket_id_sql(col: str, bits: int = N_BUCKET_BITS) -> str:
    terms = " + ".join(
        f"(CASE WHEN {col}[{i + 1}] > 0 THEN {1 << i} ELSE 0 END)" for i in range(bits)
    )
    return f"({terms})"


def brp_lsh_buckets(df: DataFrame, bucket_length: float = 2.0, seed: int = 42) -> DataFrame:
    """spark.ml BucketedRandomProjectionLSH bucket per vector (seeded)."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    vecs = df.select("vec_id", array_to_vector(_dvec(F.col("embedding"))).alias("features"))
    # train-or-skip: an estimator cannot fit on no data (spark.ml aborts
    # inside fit), and an incremental run with no new vectors is a normal
    # production state — return the empty bucket assignment instead. The
    # isEmpty() probe is a limit-1 scan, the standard guard before any
    # train step.
    if vecs.isEmpty():
        return vecs.select(
            "vec_id", F.lit(None).cast("string").alias("bucket")
        )
    model = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=bucket_length, seed=seed
    ).fit(vecs)
    out = model.transform(vecs)
    return out.select(
        "vec_id",
        F.element_at(F.col("hashes"), 1).cast("string").alias("bucket"),
    )


TILE_TARGET_ROWS = 2500  # rows per GEMM block: tile <= 2500^2 * 8B = 50 MB

# Below this corpus size the Python-crossing fixed cost of the GEMM
# scoring path exceeds the entire JVM expression arithmetic it replaces
# (measured: expression wins at sf1's 20k rows, GEMM wins 2.2-2.7x at
# sf20's 400k; the linear models cross near ~32k — 64k keeps a margin).
GEMM_MIN_ROWS = 65536

# Long.MaxValue: the size Catalyst reports for a leaf with no statistics
# (an RDD-backed in-memory frame).
_UNKNOWN_SIZE = (1 << 63) - 1


def estimate_rows(emb: DataFrame) -> int:
    """Embedding-row estimate from Catalyst's size statistic — NO job (a
    count() here measured 0.12 s, the whole dispatch margin at small
    sf), and no filesystem call, so any storage scheme works. For a
    parquet scan the statistic is the files' byte sum; embedding rows
    are ~256-310 parquet bytes (64 float32 + ids; float arrays barely
    compress), so bytes/256 over-estimates slightly — harmless: the
    estimate only picks an exact branch and sizes chunks. A frame of
    unknown size counts as 0 rows."""
    size = int(emb._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    return 0 if size >= _UNKNOWN_SIZE else size // 256


def topk_pairs_blocked(
    df: DataFrame,
    k: int = 50,
    n_blocks: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact all-pairs cosine top-k via block-wise matrix multiply.

    The naive form is a nested-loop join evaluating an interpreted
    per-pair array fold — O(n² · d) scalar ops in the expression
    interpreter (measured 62 s for 2000×64-d vectors at sf0.1). Here the
    n² pair space is tiled into B·(B+1)/2 block pairs: each vector is
    tagged `block = pmod(id, B)` and replicated to its block-pairs via a
    broadcast join (B× replication), and one `applyInPandas` group per
    tile computes the whole tile's cosines as a BLAS matrix multiply,
    emitting only its local top-k. Global top-k = TakeOrdered over
    B·(B+1)/2 · k candidate rows — exact, not approximate.

    At scale this is the standard bounded-memory design: tile size is
    (n/B)² independent of cluster size, B grows with n so each task's
    two blocks fit executor memory, and skew is impossible because
    pmod-blocks are uniform by construction. Same result set as the
    nested-loop form (value-tested); ~25× faster at sf0.1.
    """
    import pandas as pd

    spark = df.sparkSession
    if n_blocks is None:
        # B must GROW with n or the tiles do not fit: at 100k vectors a
        # fixed B=4 means 25k x 25k float64 tiles (5 GB each) — measured
        # as a hang at sf5. One metadata-cheap count sizes B so each
        # tile stays ~50 MB; replication factor is B, tile count
        # B(B+1)/2 — both bounded and uniform by construction.
        n = df.count()
        n_blocks = max(4, -(-n // TILE_TARGET_ROWS))
    rep_rows = []
    for p in range(n_blocks):
        for q in range(p, n_blocks):
            pair = p * n_blocks + q
            rep_rows.append((pair, p, "L"))
            if q != p:
                rep_rows.append((pair, q, "R"))
    rep = spark.createDataFrame(rep_rows, ["pair", "member", "side"])

    tagged = df.select(
        F.pmod(F.col(id_col), F.lit(n_blocks)).alias("blk"),
        F.col(id_col).alias("_id"),
        _dvec(F.col(vec_col)).alias("_v"),
    )
    grouped = tagged.join(F.broadcast(rep), tagged.blk == rep.member)

    def tile_topk(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        left = pdf[pdf["side"] == "L"]
        right = pdf[pdf["side"] == "R"]
        same = right.empty  # diagonal tile: R side == L side
        if same:
            right = left
        if left.empty or right.empty:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cosine": []}).astype(
                {"vec_a": "int64", "vec_b": "int64", "cosine": "float64"}
            )
        A = np.stack(left["_v"].to_numpy())
        B = np.stack(right["_v"].to_numpy())
        An = A / np.linalg.norm(A, axis=1, keepdims=True)
        Bn = B / np.linalg.norm(B, axis=1, keepdims=True)
        sims = An @ Bn.T
        ia = left["_id"].to_numpy()[:, None] + np.zeros(len(right), dtype=np.int64)
        ib = right["_id"].to_numpy()[None, :] + np.zeros((len(left), 1), dtype=np.int64)
        ia, ib, sims = ia.ravel(), ib.ravel(), sims.ravel()
        keep = ia != ib
        ia, ib, sims = ia[keep], ib[keep], sims[keep]
        va, vb = np.minimum(ia, ib), np.maximum(ia, ib)
        if same:  # diagonal tile scores each unordered pair twice
            keep = ia < ib
            va, vb, sims = va[keep], vb[keep], sims[keep]
        if len(sims) > k:
            # cut by the FINAL ordering (6dp-rounded cosine desc, then
            # ids) — an argpartition on raw floats picks arbitrary
            # members of large tie groups (clone-heavy data puts
            # millions of pairs at cosine 1.0 +/- ulp), and the global
            # merge can then miss the lexicographically-first pairs
            # (caught by the sf1 oracle sweep)
            r = np.round(sims, 6)
            idx = np.lexsort((vb, va, -r))[:k]
            va, vb, sims = va[idx], vb[idx], sims[idx]
        return pd.DataFrame({"vec_a": va, "vec_b": vb, "cosine": sims})

    candidates = grouped.groupBy("pair").applyInPandas(
        tile_topk, "vec_a long, vec_b long, cosine double"
    )
    # same rounded ordering as the tile cut — raw-float ordering here
    # would reshuffle tie groups the tiles already cut consistently
    return candidates.orderBy(
        F.desc(F.round("cosine", 6)), F.asc("vec_a"), F.asc("vec_b")
    ).limit(k)


# --- euclidean distance / k-means IVF / semantic dedup ---------------------


def l2dist(a: Column, b: Column, dim: int | None = None) -> Column:
    """Euclidean distance as a sequential left fold — same accumulation
    order as DuckDB's list_distance on DOUBLE[], so both engines produce
    bit-identical doubles (the property every oracle here leans on).

    When `dim` is known, the fold unrolls into a flat left-associated
    arithmetic chain: identical float-op sequence (0.0+t1 == t1
    exactly), but whole-stage-codegen'd instead of the interpreted
    ArrayAggregate path — ~an order of magnitude faster in the k-means
    assignment hot loop, where the distance evaluates k times per row.
    """
    if dim is not None:
        da, db = _dvec(a), _dvec(b)
        expr = None
        for i in range(1, dim + 1):
            t = (F.element_at(da, i) - F.element_at(db, i)) * (
                F.element_at(da, i) - F.element_at(db, i)
            )
            expr = t if expr is None else expr + t
        return F.sqrt(expr)
    return F.sqrt(
        F.aggregate(
            F.zip_with(_dvec(a), _dvec(b), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def kmeans_centroids(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    train_mod: int = 1,
) -> DataFrame:
    """Trained Lloyd codebook as a DataFrame: (cid, c array<double>).

    Deterministic end to end: centroids initialize from the k lowest-id
    vectors (no RNG), and assignment breaks distance ties by lowest
    centroid id via a lexicographic struct-min — never `min_by`, whose
    tie winner is undefined.

    Scale shape: each iteration is one broadcast join (k centroids ship
    to every executor; the 100 TB side never shuffles for assignment)
    plus one centroid-update aggregation whose result is k×dim doubles —
    a few KB regardless of corpus size. The per-dimension update uses
    posexplode + hash-agg (codegen'd, map-side partial avg) rather than
    array-lambda folds.
    """
    e = emb.select(F.col(id_col).alias("vec_id"), _dvec(F.col(vec_col)).alias("v"))
    if train_mod > 1:
        # FAISS-style sample training: Lloyd iterations see a
        # deterministic 1/train_mod id-slice; only the FINAL assignment
        # touches the full corpus. Training cost becomes O(sample) per
        # iteration instead of O(corpus) — at 100 TB nobody trains a
        # coarse quantizer on every row. The slice is id-hash
        # deterministic, so the oracle mirrors it exactly.
        e = e.filter(F.col("vec_id") % train_mod == 0)
    # init = the k LOWEST ids present in the training slice (not ids
    # < k, which under-counts when a slice filter is active)
    cents = (
        e.orderBy("vec_id")
        .limit(k)
        .select(F.col("vec_id").cast("long").alias("cid"), F.col("v").alias("c"))
    )
    for _ in range(iters):
        assigned = (
            e.join(F.broadcast(cents))
            .select("vec_id", "v", "cid", l2dist(F.col("v"), F.col("c"), dim).alias("d"))
            .groupBy("vec_id")
            .agg(
                F.min(F.struct("d", "cid")).alias("m"),
                F.first("v").alias("v"),
            )
            .select("vec_id", "v", F.col("m.cid").alias("cid"))
        )
        cents = (
            assigned.select("cid", F.posexplode("v").alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s.m
                ).alias("c")
            )
        )
    return cents


def assign_to_centroids(
    emb: DataFrame,
    cents: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Nearest-centroid assignment against a given codebook:
    (vec_id, cid, d). One broadcast join — the data side never shuffles;
    ties break to the lowest cid via struct-min (same contract as
    training)."""
    e = emb.select(F.col(id_col).alias("vec_id"), _dvec(F.col(vec_col)).alias("v"))
    return (
        e.join(F.broadcast(cents))
        .select("vec_id", "cid", l2dist(F.col("v"), F.col("c"), dim).alias("d"))
        .groupBy("vec_id")
        .agg(F.min(F.struct("d", "cid")).alias("m"))
        .select("vec_id", F.col("m.cid").alias("cid"), F.col("m.d").alias("d"))
    )


def kmeans_assign(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    train_mod: int = 1,
) -> DataFrame:
    """Lloyd's k-means as pure DataFrame ops: (vec_id, cid, d).

    Training (`kmeans_centroids`) + final assignment
    (`assign_to_centroids`); `cid` is the IVF partition/bucket key for
    ANN probing, with k ≈ sqrt(n) at scale.
    """
    cents = kmeans_centroids(
        emb, k=k, iters=iters, id_col=id_col, vec_col=vec_col, dim=dim,
        train_mod=train_mod,
    )
    return assign_to_centroids(emb, cents, id_col=id_col, vec_col=vec_col, dim=dim)


def semdedup_removed(
    emb: DataFrame, tau: float, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """SemDeDup-style semantic dedup: (dup_id, kept_id, max_cosine).

    A vector is REMOVED iff a lower-id vector in the same coarse bucket
    has cosine > tau with it; the lowest such witness is reported as the
    kept representative. One-pass and greedy-deterministic (no
    iteration-order dependence), matching the published SemDeDup recipe
    of clustering then pruning within-cluster near-duplicates.

    Scale shape: the pairwise compare is confined to sign-bit buckets
    (bucket_id — the same coarse quantizer the ANN path uses), so the
    join is an equi-join on bucket with per-bucket quadratic cost, never
    a global all-pairs; at 100 TB the bucket key moves to the k-means
    `cid` with k sized to cap bucket occupancy, identical plan shape.
    """
    import numpy as np
    import pandas as pd

    tagged = emb.select(
        bucket_id(F.col(vec_col)).alias("bucket"),
        F.col(id_col).alias("_id"),
        _dvec(F.col(vec_col)).alias("_v"),
    )
    empty = pd.DataFrame({"dup_id": [], "kept_id": [], "max_cos": []}).astype(
        {"dup_id": "int64", "kept_id": "int64", "max_cos": "float64"}
    )

    # Each bucket's pairwise compare runs as ONE BLAS multiply inside an
    # applyInPandas group (the expression-layer self-join spent 144 s at
    # sf5 evaluating per-pair cosine chains; this kernel is the same
    # shape the kNN join uses). Group size is 1/2^bits of the corpus by
    # quantizer design, so the sims matrix is bounded.
    def bucket_sem(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return empty
        pdf = pdf.sort_values("_id")
        ids = pdf["_id"].to_numpy()
        A = np.stack(pdf["_v"].to_numpy())
        An = A / np.linalg.norm(A, axis=1, keepdims=True)
        sims = An @ An.T
        ia, ib = np.triu_indices(len(ids), k=1)  # ids[ia] < ids[ib]
        # Threshold on the SAME 6-dp grid the output contract uses:
        # raw GEMM-accumulated cosines differ from a sequential fold at
        # the ulp, so comparing the unrounded value to tau could flip a
        # pair sitting within accumulation noise of the threshold
        # between engines. Rounding first restores bit-for-bit parity.
        cos = np.round(sims[ia, ib], 6)
        keep = cos > tau
        if not keep.any():
            return empty
        g = (
            pd.DataFrame(
                {"dup_id": ids[ib[keep]], "keep": ids[ia[keep]], "cos": cos[keep]}
            )
            .groupby("dup_id")
            .agg(kept_id=("keep", "min"), max_cos=("cos", "max"))
            .reset_index()
        )
        return g[["dup_id", "kept_id", "max_cos"]]

    out = tagged.groupBy("bucket").applyInPandas(
        bucket_sem, "dup_id long, kept_id long, max_cos double"
    )
    return out.select(
        "dup_id", "kept_id", F.round("max_cos", 6).alias("max_cosine")
    )


def knn_join_bucketed(
    df: DataFrame,
    k: int = 5,
    bits: int = N_BUCKET_BITS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Bucketed kNN join: top-k cosine neighbors for every vector,
    candidates confined to the sign-bit bucket.

    The naive form is a bucket-keyed self-join scoring each pair with an
    interpreted array fold — O(sum bucket_size² · d) scalar ops in the
    expression interpreter (measured 41.8 s at sf1). Here each bucket is
    one `applyInPandas` group: the whole bucket's pairwise cosines are a
    single BLAS matrix multiply and the per-row top-k is a stable
    argsort over the 6dp-rounded scores (columns pre-sorted by id, so
    rounded ties break by neighbor id — the same ordering contract the
    SQL rank window declares). Same bounded-memory story as the coarse
    quantizer: a bucket is 1/2^bits of the corpus, and bits grow with
    corpus size.
    """
    import numpy as np
    import pandas as pd

    tagged = df.select(
        bucket_id(F.col(vec_col), bits).alias("bucket"),
        F.col(id_col).alias("_id"),
        _dvec(F.col(vec_col)).alias("_v"),
    )

    empty = pd.DataFrame(
        {"vec_id": [], "neighbor_id": [], "cosine": [], "rank": []}
    ).astype(
        {"vec_id": "int64", "neighbor_id": "int64", "cosine": "float64", "rank": "int64"}
    )

    def bucket_knn(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return empty
        pdf = pdf.sort_values("_id")
        ids = pdf["_id"].to_numpy()
        A = np.stack(pdf["_v"].to_numpy())
        An = A / np.linalg.norm(A, axis=1, keepdims=True)
        sims = An @ An.T
        np.fill_diagonal(sims, -np.inf)
        r = np.round(sims, 6)
        kk = min(k, len(pdf) - 1)
        order = np.argsort(-r, axis=1, kind="stable")[:, :kk]
        rows = np.repeat(ids, kk)
        cols = ids[order.ravel()]
        scores = sims[np.repeat(np.arange(len(ids)), kk), order.ravel()]
        ranks = np.tile(np.arange(1, kk + 1), len(ids))
        return pd.DataFrame(
            {"vec_id": rows, "neighbor_id": cols, "cosine": scores, "rank": ranks}
        )

    return tagged.groupBy("bucket").applyInPandas(
        bucket_knn, "vec_id long, neighbor_id long, cosine double, rank long"
    )


def topk_per_query_gemm(
    emb: DataFrame,
    q_n: int,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact per-query top-k over a broadcast query block (ids < q_n)
    as chunked-GEMM PRUNE + exact-fold RESCORE — the shared scoring
    stage of sim_batch_topk / sim_rrf_fusion (r10 VERDICT item 4).

    The definitional form evaluates the unrolled 192-term cosine chain
    per (row, query) in JVM codegen and then sorts ALL n·q scored rows
    in a q-partition window — both the arithmetic and the sort grow
    with the corpus. Here the corpus is cut into hash chunks sized like
    mine_triplets_gemm (per-task cosine matrix ~64 MB, floor of 64-way
    parallelism at scale), each chunk scores as ONE float64 BLAS
    multiply, and only rows within MARGIN of the chunk's k-th best raw
    score survive per query — a prefix-closed SUPERSET of the true
    top-k, because a pruned row has >= k chunk-mates whose raw score
    exceeds it by > 2e-6 (a full 1e-6 rounding bin + both-sided
    rounding + GEMM-vs-fold noise ~1e-13), i.e. rows that strictly
    precede it in the (round(cos, 6) DESC, id) output order no matter
    how ties break. The shortlist (O(chunks · q · k) rows) re-scores
    with the UNROLLED codegen cosine — bit-identical to the
    definitional fold since the emitted vectors are the exact float
    values widened to double — and the final q-partition row_number
    window ranks a few hundred rows instead of the corpus. Superset +
    prefix-closure means the surviving rows' ranks equal their
    definitional global ranks exactly.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import Window

    corpus_all = emb.where(F.col(id_col) >= q_n)
    qblock = emb.where(F.col(id_col) < q_n).select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("_qe")
    )
    nc = estimate_rows(emb)
    if nc < GEMM_MIN_ROWS:
        # Definitional expression form for small corpora: the Python
        # crossing's fixed cost exceeds the whole n·q codegen arithmetic
        # (sf0.1 A/B: 0.63 → 0.88 s GEMM-always; sf1: 0.83 → 1.38) — a
        # per-task-overhead constant, not a cluster constant. Both
        # branches are exact, so results are identical either way.
        scored_all = corpus_all.join(F.broadcast(qblock)).select(
            "qid",
            F.col(id_col).alias("vec_id"),
            F.round(cosine_named(vec_col, "_qe"), 6).alias("cosine"),
        )
        w0 = Window.partitionBy("qid").orderBy(
            F.desc("cosine"), F.asc("vec_id")
        )
        return scored_all.withColumn("rnk", F.row_number().over(w0)).where(
            F.col("rnk") <= k
        )
    # chunk sizing: identical policy to mine_triplets_gemm (memory
    # floor ~64 MB per task matrix; parallelism floor 64 at scale,
    # capped so chunks hold >= 256 rows on small corpora)
    TARGET_BYTES = 64 * 1024 * 1024
    mem_chunks = -(-(nc * max(q_n, 1) * 8) // TARGET_BYTES)
    row_cap = max(1, nc // 256)
    P = int(max(mem_chunks, min(64, row_cap)))
    corpus = corpus_all.select(
        (F.col(id_col) % P).alias("pb"),
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),  # float32 over the wire; widened in-kernel
    )
    reps = qblock.select(
        "qid",
        F.col("_qe").alias("_qv"),
        F.explode(F.sequence(F.lit(0), F.lit(P - 1))).alias("_pb"),
    ).select("qid", "_qv", F.col("_pb").cast("long").alias("pb"))

    empty = pd.DataFrame({"qid": [], "vec_id": [], "v": []}).astype(
        {"qid": "int64", "vec_id": "int64", "v": "object"}
    )
    MARGIN = 3e-6

    def chunk_prune(key, cdf: pd.DataFrame, qdf: pd.DataFrame) -> pd.DataFrame:
        if not len(cdf) or not len(qdf):
            return empty
        ids = cdf["_id"].to_numpy()
        C = np.stack(cdf["_v"].to_numpy()).astype(np.float64)
        Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
        qids = qdf["qid"].to_numpy()
        Q = np.stack(qdf["_qv"].to_numpy()).astype(np.float64)
        Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
        cos = Cn @ Qn.T  # n x m
        kk = min(k, len(ids))
        # per query: keep rows within MARGIN of the chunk's k-th best
        thr = -np.partition(-cos, kk - 1, axis=0)[kk - 1, :] - MARGIN
        ri, ci = np.nonzero(cos >= thr[None, :])
        return pd.DataFrame(
            {
                "qid": qids[ci],
                "vec_id": ids[ri],
                "v": list(C[ri]),
            }
        )

    shortlist = (
        corpus.groupBy("pb")
        .cogroup(reps.groupBy("pb"))
        .applyInPandas(chunk_prune, "qid long, vec_id long, v array<double>")
    )
    scored = shortlist.join(F.broadcast(qblock), "qid").select(
        "qid",
        "vec_id",
        F.round(cosine_named("v", "_qe"), 6).alias("cosine"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return scored.withColumn("rnk", F.row_number().over(w)).where(
        F.col("rnk") <= k
    )


def mine_triplets_gemm(
    emb: DataFrame,
    anchors: DataFrame,
    chunks: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_corpus: int | None = None,
    n_anchors: int | None = None,
) -> DataFrame:
    """Exact triplet mining (hardest negative + hardest positive per
    anchor) as chunked-GEMM PRUNE + exact-fold RESCORE — the
    approximate-shortlist-then-exact-verify shape every production
    miner uses, with the shortlist margin set far above the
    accumulation noise so the result is EXACT.

    Stage 1 (prune): the corpus is cut into `chunks` hash chunks, the
    small-by-construction anchor block replicates to every chunk, and
    each cogrouped pair scores as ONE BLAS multiply. Per (chunk,
    anchor) the kernel keeps only candidates whose GEMM cosine is
    within 2e-6 of the chunk extreme (same-label minimum for the
    hardest positive, other-label maximum for the hardest negative):
    GEMM-vs-fold accumulation noise is ~1e-13, seven orders below the
    margin, so the TRUE extreme always survives. A direct rounded-GEMM
    output was measurably wrong here: winner cos_u6 flipped by +-1 on
    ~1% of anchors at sf1 (extreme statistics concentrate on rounding
    boundaries) — the knn/SemDeDup rounded-grid rule is safe for
    threshold cuts but NOT for emitted integer extremes, hence the
    rescore stage.

    Stage 2 (rescore): the shortlist — O(chunks x anchors) pairs, a
    few per (chunk, anchor) — re-scores with the UNROLLED codegen
    cosine (bit-identical to the DuckDB oracle's fold), and the final
    per-anchor winners come from the same associative struct-extreme
    aggregations as the definitional plan. No window, no quadratic
    join, deterministic on any partitioning.

    Adaptive-sizing caveat (r6 ADVICE): when `chunks` is None the
    default runs TWO count actions on `emb`/`anchors` before the GEMM
    job. Counts on a parquet scan are near-free, but if either input
    carries an expensive uncached lineage (a tokenizer pipeline, a
    prior join) those counts recompute it end-to-end. Callers with
    derived inputs should either cache()/localCheckpoint() them first,
    or pass the already-known sizes via `n_corpus`/`n_anchors` (or an
    explicit `chunks`) so no extra action runs."""
    import numpy as np
    import pandas as pd

    if chunks is None:
        # Adaptive chunk count: the per-task GEMM result is
        # (corpus/P) x anchors float64 — at a FIXED P it grows
        # quadratically with corpus size and thrashed the allocator at
        # sf20 (6250 x 8000 x 8 B = 400 MB per matrix, ~4 live
        # temporaries, 32 concurrent tasks). Size P so the cosine
        # matrix stays ~64 MB: two cheap count jobs (skipped when the
        # caller supplies n_corpus/n_anchors), paid once per
        # invocation, keep the kernel memory-flat at any scale.
        TARGET_BYTES = 64 * 1024 * 1024
        nc = n_corpus if n_corpus is not None else emb.count()
        na = n_anchors if n_anchors is not None else anchors.count()
        # Memory floor (never below: keeps the per-task matrix ~64 MB),
        # parallelism floor of 64 at scale, BUT capped so a chunk holds
        # >= 256 corpus rows: on a small corpus 64-way chunking is pure
        # scheduler overhead (sf0.1: 2000 vectors / 64 chunks = 31-row
        # GEMMs; A/B median-of-5 1.43 -> 1.11 s at ~8 chunks) while at
        # >= 16k vectors the cap stops binding and the behavior is
        # unchanged from the sf20-validated sizing.
        mem_chunks = -(-(nc * max(na, 1) * 8) // TARGET_BYTES)
        row_cap = max(1, nc // 256)
        chunks = max(mem_chunks, min(64, row_cap))
    P = int(chunks)
    corpus = emb.select(
        (F.col(id_col) % P).alias("pb"),
        F.col(id_col).alias("_id"),
        F.col("label").alias("_label"),
        _dvec(F.col(vec_col)).alias("_v"),
    )
    reps = anchors.select(
        "anchor",
        "alabel",
        F.col("ae").alias("_ae"),
        F.explode(F.sequence(F.lit(0), F.lit(P - 1))).alias("_pb"),
    ).select("anchor", "alabel", "_ae", F.col("_pb").cast("long").alias("pb"))

    empty = pd.DataFrame({"anchor": [], "cand_id": [], "side": []}).astype(
        {"anchor": "int64", "cand_id": "int64", "side": "int64"}
    )

    def chunk_prune(key, cdf: pd.DataFrame, adf: pd.DataFrame) -> pd.DataFrame:
        if not len(cdf) or not len(adf):
            return empty
        ids = cdf["_id"].to_numpy()
        labels = cdf["_label"].to_numpy()
        C = np.stack(cdf["_v"].to_numpy())
        Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
        anc = adf["anchor"].to_numpy()
        alab = adf["alabel"].to_numpy()
        A = np.stack(adf["_ae"].to_numpy())
        An = A / np.linalg.norm(A, axis=1, keepdims=True)
        cos = Cn @ An.T  # n x m, float64
        same = labels[:, None] == alab[None, :]
        excl = ids[:, None] == anc[None, :]
        same &= ~excl  # same-label candidates, anchor itself excluded
        # Margin must cover a FULL rounding bin (1e-6): the rounded-grid
        # winner can sit up to one bin below the raw extreme and still
        # tie (then win by id), plus GEMM-vs-fold noise (~1e-13).
        MARGIN = 2e-6
        out_a, out_c, out_s = [], [], []
        # hardest negative shortlist: within MARGIN of other-label max.
        # In-place masking: one n x m temp (kn) instead of np.where's
        # mask + result allocations — the per-task live set is what
        # bounds concurrency at scale.
        kn = cos.copy()
        kn[same | excl] = -np.inf
        mx = kn.max(axis=0)
        has = np.isfinite(mx)
        ri, ci = np.nonzero(kn >= (mx - MARGIN)[None, :])
        keep = has[ci]
        out_a.append(anc[ci[keep]])
        out_c.append(ids[ri[keep]])
        out_s.append(np.zeros(keep.sum(), dtype=np.int64))
        del kn
        # hardest positive shortlist: within MARGIN of same-label min —
        # reuses the cos buffer (last consumer of the raw matrix)
        cos[~same] = np.inf
        mn = cos.min(axis=0)
        hasp = np.isfinite(mn)
        ri, ci = np.nonzero(cos <= (mn + MARGIN)[None, :])
        keep = hasp[ci]
        out_a.append(anc[ci[keep]])
        out_c.append(ids[ri[keep]])
        out_s.append(np.ones(keep.sum(), dtype=np.int64))
        return pd.DataFrame(
            {
                "anchor": np.concatenate(out_a),
                "cand_id": np.concatenate(out_c),
                "side": np.concatenate(out_s),
            }
        ).astype({"anchor": "int64", "cand_id": "int64", "side": "int64"})

    shortlist = corpus.groupBy("pb").cogroup(reps.groupBy("pb")).applyInPandas(
        chunk_prune, "anchor long, cand_id long, side long"
    )
    # Stage 2: exact fold rescore on the tiny shortlist, then the same
    # associative arg-extreme aggs as the definitional plan.
    scored = (
        shortlist.join(
            emb.select(
                F.col(id_col).alias("cand_id"),
                F.col(vec_col).alias("cand_vec"),
            ),
            "cand_id",
        )
        .join(F.broadcast(anchors), "anchor")
        .select(
            "anchor",
            "cand_id",
            "side",
            F.round(cosine_named("cand_vec", "ae") * 1000000)
            .cast("long")
            .alias("cos_u6"),
        )
    )
    # BOTH arg-extremes in ONE conditional aggregation: splitting into a
    # side==0 branch and a side==1 branch re-executed the whole cogroup
    # GEMM subtree per branch (two FlatMapCoGroupsInPandas in the
    # physical plan, no exchange reuse — the sim_reciprocal_nn class).
    # max/min ignore the NULLs the off-side rows contribute, so one
    # groupBy(anchor) yields both winners; anchors missing either side
    # drop via the null filter exactly as the old inner join dropped
    # them.
    both = (
        scored.groupBy("anchor")
        .agg(
            F.max(
                F.when(
                    F.col("side") == 0,
                    F.struct("cos_u6", (-F.col("cand_id")).alias("nid")),
                )
            ).alias("mn"),
            F.min(
                F.when(
                    F.col("side") == 1,
                    F.struct("cos_u6", F.col("cand_id").alias("pid")),
                )
            ).alias("mp"),
        )
        .where(F.col("mn").isNotNull() & F.col("mp").isNotNull())
    )
    return both.select(
        "anchor",
        F.col("mp.pid").alias("pos_id"),
        F.col("mp.cos_u6").alias("pos_cos_u6"),
        (-F.col("mn.nid")).alias("neg_id"),
        F.col("mn.cos_u6").alias("neg_cos_u6"),
    )
