"""Round-8 ADVICE regressions — three engine-divergence / silent-failure
classes flagged by the r7 review:

1. emb_silhouette on a SINGLE-LABEL corpus: b is NULL for every point;
   Spark's greatest() skips NULLs while the oracle's CASE propagates
   them, so den_sum diverged (sum(a) vs NULL). Pinned: both engines now
   return NULL den_sum / NULL macro_silhouette, value-equal.
2. connected_components with STRING node ids: the decimal(38,0)
   convergence probe would cast to NULL and silently report an empty
   graph (every node its own component). Pinned: loud TypeError at entry.
3. sim_reciprocal_nn's mutuality test with a DUPLICATED rank-1 row
   (upstream contract break): count(*)==2 would fabricate a pair with a
   NULL cosine. Pinned: countDistinct(vec_id)==2 rejects it and still
   accepts genuine reciprocal pairs.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from mrc_spark_jobs_pubmed_spark import oracle, plans
from mrc_spark_jobs_pubmed_spark.operators import dedup as D
from mrc_spark_jobs_pubmed_spark.plans import similarity_queries
from mrc_spark_jobs_pubmed_spark.sources import catalog
from tests.conftest import SF_SMOKE


def test_silhouette_single_label_matches_oracle(spark, duck, tmp_path):
    """One label in the whole corpus: every point's inter-cluster b is
    NULL. Engines must agree (NULL den_sum, NULL macro), not diverge on
    greatest-vs-CASE null handling."""
    d = str(tmp_path / "one_label_sf")
    os.makedirs(d, exist_ok=True)
    for name in catalog.TABLE_SCHEMAS:
        df = catalog.load_table(spark, name, SF_SMOKE)
        if name == "embeddings":
            df = df.limit(12).withColumn("label", F.lit(0))
        else:
            df = df.limit(1)
        df.write.mode("overwrite").parquet(os.path.join(d, f"{name}.parquet"))

    q = plans.all_queries()["emb_silhouette"]
    verdict, got = oracle.check(spark, oracle.duck_views(duck, d), q, d)

    assert verdict is None, verdict
    assert got.table.num_rows == 1
    # Arrow keeps NULL apart from NaN (pandas shows both as NaN)
    assert got.table["den_sum"].null_count == 1
    assert got.table["macro_silhouette"].null_count == 1


def test_connected_components_rejects_string_ids(spark):
    nodes = spark.createDataFrame([("x",), ("y",)], ["doc_id"])
    edges = spark.createDataFrame([("x", "y")], ["a", "b"])
    try:
        D.connected_components(nodes, edges)
    except TypeError as e:
        assert "NUMERIC" in str(e)
    else:
        raise AssertionError("string ids must raise, not silently singleton")


def test_reciprocal_nn_rejects_duplicate_rank1_rows(spark, monkeypatch):
    """A duplicated rank-1 row for ONE vector must not register as a
    reciprocal pair (and must not emit a NULL cosine); a genuine mutual
    pair must survive the countDistinct guard."""

    def fake_knn(emb, k):  # noqa: ARG001 — signature parity with the real op
        return spark.createDataFrame(
            [
                # genuine reciprocal pair 1<->2
                (1, 2, 0.91),
                (2, 1, 0.91),
                # contract break: vec 5's rank-1 row emitted TWICE,
                # nothing points back — high-id side only, so cos_lo is
                # all-NULL and the old count(*)==2 test would emit a
                # fabricated (4, 5, NULL) pair
                (5, 4, 0.33),
                (5, 4, 0.33),
            ],
            ["vec_id", "neighbor_id", "cosine"],
        )

    monkeypatch.setattr(similarity_queries.S, "knn_join_bucketed", fake_knn)
    rows = similarity_queries.sim_reciprocal_nn(spark, SF_SMOKE).collect()
    assert [(r.vec_a, r.vec_b, r.cosine) for r in rows] == [(1, 2, 0.91)]
