"""Skew handling: explicit key salting (SURVEY.md §4.2).

The reference diagnosed skew with driver-side ``glom().map(len)`` dumps
and hand-set ``repartition(12)`` (job_pubmed_submit.py:92-98). The
engine's first line of defense is AQE (skew-join split + partition
coalescing, on in `session.py`); salting is the explicit lever for the
cases AQE does not cover:

* a groupBy whose per-key state explodes (``collect_list``/``collect_set``
  over a hot key — partial aggregation doesn't bound the final reducer);
* a shuffle join against a small-but-not-broadcastable side where one
  key dominates and AQE's split is unavailable (e.g. statically planned
  sort-merge); `rel_skew_salted_join` salts its join inline.

The helpers here are pure DataFrame rewrites: salt = deterministic hash
of a caller-chosen expression, so results are reproducible run to run and
the rewrite is provably semantics-preserving (oracle-checked by
`rel_salted_agg`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

N_SALTS = 8


def with_salt(df: DataFrame, salt_from: Column, n_salts: int = N_SALTS) -> DataFrame:
    """Deterministic salt column in [0, n_salts): hash of `salt_from`.

    Use a high-cardinality expression (row id, payload column) so the hot
    key's rows spread ~uniformly over the salts.
    """
    return df.withColumn("_salt", F.pmod(F.xxhash64(salt_from), F.lit(n_salts)))


def salted_collect_set(
    df: DataFrame,
    key: str,
    value: str,
    salt_from: Column,
    n_salts: int = N_SALTS,
) -> DataFrame:
    """collect_set over a possibly-hot key, two-phase: per-(key, salt)
    partial sets, then flatten+distinct at the final reduce. The hot
    key's set is built by n reducers instead of one.
    """
    partial = (
        with_salt(df, salt_from, n_salts)
        .groupBy(key, "_salt")
        .agg(F.collect_set(value).alias("_part"))
    )
    return partial.groupBy(key).agg(
        F.array_sort(
            F.array_distinct(F.flatten(F.collect_list("_part")))
        ).alias(f"{value}_set")
    )
