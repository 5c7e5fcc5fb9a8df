"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "headline_total", "value": <sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <float>}

Each query is forced end-to-end with the noop sink (full computation, no
driver collect), matching how a cluster job would be bounded by the last
exchange rather than driver transfer.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from mrc_spark_jobs_pubmed_spark import plans
from mrc_spark_jobs_pubmed_spark.session import get_session

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# One representative per operator family (scan/agg, star join, window,
# as-of, text pipeline, dedup x2, similarity, sessionization, quality).
#
# GROWTH POLICY (r5 verdict item 8): the headline is CAPPED at 30
# queries. The first SHARED_N entries are the frozen round-over-round
# comparison set — never reordered, never removed — and the output
# reports their subtotal separately (`shared_subtotal`) so BENCH_r{N}
# files stay comparable even as flagships rotate in. New flagships may
# only be appended while len(HEADLINE) <= 30; beyond that, adding one
# means retiring the newest non-shared entry (rotation), never a shared
# one.
SHARED_N = 25  # the r1–r4 set; BENCH_r04/r05 both carry all 25
HEADLINE = (
    "rel_q1_pricing_summary",
    "rel_q3_shipping_priority",
    "rel_q5_region_revenue",
    "rel_window_running_total",
    "rel_asof_join",
    "text_word_topk",
    "dedup_minhash_bands",
    "dedup_simhash",
    "dedup_jaccard_top_pairs",
    "sim_cosine_topk",
    "sim_neardup_top_pairs",
    "stream_session_windows",
    "ta_quality",
    "llm_corpus_prep",
    "corpus_repetition",
    "corpus_pack_greedy",
    # round-2 flagship additions (CCNet-style line dedup, BM25 ranking)
    "corpus_line_dedup",
    "text_bm25_topk",
    # round-3 flagship additions (fuzzy-dedup apply step, decontamination
    # novelty); the rest of the round-3 surface carries sf1 evidence in
    # PERF_sf1_newops_r3.json
    "dedup_fuzzy_keep_best",
    "corpus_ngram_novelty",
    # round-4 flagship additions: the two r3 perf-weak text ops, now
    # fan-out-parallelized (PERF.md round-4 section)
    "text_pmi_collocations",
    "ta_winnow_fingerprint",
    # round-4 continuation flagships: the scan-to-4KB dashboard
    # downsample and the signature-level duplication profile (the
    # aggregate-contract scale companions; PERF.md round-4b section)
    "rel_ts_downsample_m4",
    "dedup_simhash_stats",
    # round-4c flagship: perceptual-hash media near-dup — parity at
    # sf0.1, 0.05x at sf5 (PERF.md round-4c section)
    "mm_phash_neardup",
    # round-5 flagships: GEMM-prune + exact-rescore triplet mining
    # (0.04x at sf5), the mutual-NN precision gate (0.08x at sf5),
    # and the within-source boilerplate audit (0.11x at sf5) —
    # PERF.md round-5 sections
    "emb_hard_negative_mining",
    "sim_reciprocal_nn",
    "corpus_boilerplate_profile",
    # round-6 flagship: the Lindley production-key plan — closes the r5
    # weak-perf row (4.03x -> 1.76x at sf5; PERF.md round-6 section)
    "rel_queue_wait_lindley_sharded",
    # round-7 flagship: the single-pass island-merge identity — closes
    # the r6 weak-perf row (2.28x -> 1.21x at sf20; PERF.md round-7
    # section). Fills the 30th slot; growth from here is rotation.
    "rel_interval_coalesce",
)
assert len(HEADLINE) <= 30, "headline cap exceeded — rotate, don't grow"


def main() -> None:
    # At sf0.1 the whole working set is ~60 MB, so AQE's default 64 MB
    # advisory partition size coalesces post-shuffle stages to ~1
    # partition and serializes CPU-bound work. 8 MB keeps all local
    # cores busy at this scale (measured ~2x on Q1/Q5); at production
    # data sizes the 64 MB session default is the right one — this is a
    # per-deployment sizing knob, not engine logic.
    spark = get_session(
        app_name="bench",
        extra_conf={"spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m"},
    )
    registry = plans.all_queries()

    # Warm each query shape once (JVM JIT + whole-stage codegen compile)
    # so the timed region measures steady-state execution, which is what
    # a long-lived cluster job sees; cold-start compile cost is a
    # once-per-plan constant, not a per-data cost.
    for name in HEADLINE:
        registry[name].fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()

    # Median of five timed runs: best-of-2 at sub-second per-query scale
    # produced false round-over-round regressions twice (r2, r3 — both
    # resolved as noise only after ad-hoc n=5 re-measurement); the
    # median is robust to both GC spikes and the occasional
    # suspiciously-fast sample, and makes BENCH files directly
    # comparable across rounds.
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))
    times: dict[str, float] = {}
    for name in HEADLINE:
        samples = []
        for _ in range(runs):
            t0 = time.time()
            registry[name].fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            samples.append(time.time() - t0)
        samples.sort()
        mid = len(samples) // 2
        med = (
            samples[mid]
            if len(samples) % 2
            else (samples[mid - 1] + samples[mid]) / 2
        )
        times[name] = round(med, 3)

    m = re.search(r"sf([0-9.]+)", SF_DIR)
    sf = float(m.group(1)) if m else None
    shared = [n for n in HEADLINE[:SHARED_N]]
    print(
        json.dumps(
            {
                "metric": "headline_total",
                "value": round(sum(times.values()), 3),
                "unit": "sec",
                "queries": times,
                "sf": sf,
                "shared_subtotal": round(sum(times[n] for n in shared), 3),
                "shared_n": SHARED_N,
                "cpus": spark.sparkContext.defaultParallelism,
            }
        )
    )


if __name__ == "__main__":
    main()
