#!/usr/bin/env python3
"""True-sf1 benchmark with generator-fidelity validation (VERDICT r12
#6).

Three timed points per query, one warm local[32] session, min of two
runs each (noop sink, same methodology as bench.py):

- real sf0.1 (/root/testdata/sf0.1) — the trusted reference;
- gen sf0.1 (scripts/gen_sf.py at sf=0.1) — generator fidelity:
  `gen01_over_real` near 1.0 means the reconstruction benches like
  the real data and its sf1 output can be trusted;
- gen sf1 — the true 10x point; `sf1_over_gen01` is the measured
  scale ratio, comparable against the synthesis-based 10x curves in
  PERF.md.

Queries: the 15 slowest batch entries of BENCH_LOCAL_r12 (streaming
entries excluded — their cost is floor + fixture staging, measured
separately by the net-of-floor bench column).

Usage:
    python scripts/gen_sf.py 0.1 /tmp/abr_gen_sf0.1
    python scripts/gen_sf.py 1 /tmp/abr_gen_sf1
    python scripts/sf1_bench.py [out.json] [query ...]

Extra argv entries restrict the run to those queries (for re-measuring
a config change without repaying the full battery); point out.json
somewhere else than BENCH_SF1.json then, so the full-battery artifact
survives.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parents[1])
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

REAL_01 = "/root/testdata/sf0.1"
GEN_01 = os.environ.get("SPARK_GRAFT_GEN01", "/tmp/abr_gen_sf0.1")
GEN_1 = os.environ.get("SPARK_GRAFT_GEN1", "/tmp/abr_gen_sf1")
WARMUP = "/root/testdata/sf0.001"
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

QUERIES = [
    "label_propagation_communities",
    "embedding_neardup_lsh_verified",
    "pagerank_copurchase",
    "triangle_count_copurchase",
    "adamic_adar_linkpred",
    "ann_recall_audit_kmeans",
    "copurchase_reach",
    "cogroup_user_purchase_gap",
    "dedup_cluster_canonical",
    "ann_recall_audit",
    "kcore_order_part",
    "copurchase_pmi",
    "gopher_repetition_rules",
    "bigram_logprob_score",
    "incremental_agg_orders",
    # r16: the sign-LSH multiprobe miners + the entries the shared
    # one-matmul signature kernel re-touched (PERF.md r16 #1-#3)
    "bitext_margin_mining_lsh",
    "hard_negative_mining_lsh",
    "similarity_lsh_topk",
    # r18: the forced Hamming-<=2 near-dup tier (partition-local
    # transport) and the batch ANN k-NN graph (gemm strategy)
    "embedding_neardup_lsh_probe2",
    "similarity_lsh_knngraph",
    # r19: the mutual-edge graph, the certified semantic-dedup path
    # and the keeper policy
    "similarity_lsh_knngraph_mutual",
    "embedding_semdedup_certified",
    "embedding_semdedup_keepers",
    # r20: the entries this optimization round touched ...
    "corpus_filter_funnel",
    "kcenter_coreset",
    # ... and a 1-2s-band sample (VERDICT r19 #8: the sf0.1 headline is
    # overhead-dominated for these; sf1 is where data movement shows)
    "wordpiece_tokenize",
    "bpe_train_merges",
    "bpe_apply_tokenize",
    "kmv_difference_audit",
    "dpp_partitioned_scan",
    "join_size_preflight",
    "kmeans_silhouette_audit",
    "rrf_hybrid_retrieval",
    "similarity_ivf_topk",
]

ONLY = set(sys.argv[2:])
if ONLY:
    # A typo'd name (or queries passed without the out.json first
    # argument) must not silently shrink the run to a wrong subset
    # with exit 0 (ADVICE r14).
    unknown = sorted(ONLY - set(QUERIES))
    if unknown:
        sys.exit(
            f"unknown queries: {unknown}; known: {sorted(QUERIES)}"
        )
    QUERIES = [q for q in QUERIES if q in ONLY]


def main() -> None:
    from amazon_books_review_spark.plans.catalog import all_queries
    from amazon_books_review_spark.session import get_session

    spark = get_session(
        app_name="abr-sf1-bench",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        extra_confs={"spark.ui.enabled": "false", "spark.driver.memory": "24g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()

    def run(name: str, sf_dir: str) -> float:
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            secs = time.perf_counter() - t0
            best = secs if best is None else min(best, secs)
        return round(best, 3)

    out: dict[str, dict] = {}
    for name in QUERIES:
        qs[name](spark, WARMUP).write.format("noop").mode("overwrite").save()
        real01 = run(name, REAL_01)
        gen01 = run(name, GEN_01)
        sf1 = run(name, GEN_1)
        out[name] = {
            "real_sf0.1_sec": real01,
            "gen_sf0.1_sec": gen01,
            "gen_sf1_sec": sf1,
            "gen01_over_real": round(gen01 / real01, 3) if real01 else None,
            "sf1_over_gen01": round(sf1 / gen01, 3) if gen01 else None,
        }
        print(json.dumps({"query": name, **out[name]}), flush=True)

    payload = {
        "queries": out,
        "cpus": CPUS,
        "generator": "scripts/gen_sf.py seed=42 (distribution-matched)",
    }
    dest = Path(sys.argv[1]) if len(sys.argv) > 1 else Path(_REPO) / "BENCH_SF1.json"
    dest.write_text(json.dumps(payload, indent=1) + "\n")
    print(f"wrote {dest}")
    spark.stop()


if __name__ == "__main__":
    main()
