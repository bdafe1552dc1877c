#!/usr/bin/env python3
"""Measure the scale curve of the candidate-bounded operators
(VERDICT r4 #2 / r5 #5): synthesize a ~10x corpus from sf0.1 and run
the bounded paths at both scales.  Near-linear wall-time and output
growth is the pass condition — a super-linear path means a hidden
all-pairs term.

Synthesis preserves the property the claim depends on: each replica
keeps the ORIGINAL's intra-replica near-dup structure while sharing
no similarity across replicas, so true-pair counts scale ~REP, not
REP^2:

- documents: every token is salted per replica (``tok`` -> ``tokxI``),
  so replicas of the same doc share zero shingles across replicas but
  duplicate clusters within a replica are intact.
- embeddings: each replica's vectors are component-SIGN-FLIPPED by a
  per-replica pseudorandom pattern (hash(j, i) parity) — an
  orthogonal diagonal map, so intra-replica cosines are exactly
  preserved while cross-replica inner products become random-sign
  sums that concentrate at ~0.  (v1 used rotation; real embeddings
  have enough component autocorrelation that rotated replicas leaked
  cross-replica pairs at the catalog's loose 0.45 threshold.)
- lineitem/orders: order keys offset per replica (part/supplier keys
  unchanged — dimension join fan-out stays constant per row).

Usage: python scripts/scale_curve.py [REP]   (default 10)
Emits one JSON line per query per scale plus a markdown table for
PERF.md on stdout.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parents[1])
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

BASE_SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REP = int(sys.argv[1]) if len(sys.argv) > 1 else 10
SCALED_DIR = f"/tmp/abr_scale{REP}x_{os.getpid()}"
PLANTED_1X = f"{SCALED_DIR}_base1x"
ID_OFFSET = 10_000_000
KEY_OFFSET = 1_000_000_000

#: The candidate-bounded paths under test + the TPC-H heavies whose
#: shuffles must also scale linearly.
QUERIES = [
    "dedup_minhash_lsh",            # candidate pairs == LSH band joins
    "dedup_neardup_lsh_verified",   # candidates + exact verify
    # r14: SELF-SIZING — the catalog entry now derives its plane count
    # from the corpus count (planes ~ log2(n), occupancy flat), so this
    # row measures the derived config; the fixed-4-planes config
    # measured 48x at 10x in BENCH_SF1 (VERDICT r13 #1).
    "embedding_neardup_lsh_verified",
    # r14 (VERDICT r13 #6): both decontam tiers — eval grams AND corpus
    # grow with the salted REPx corpus; the claim is one linear corpus
    # pass with a broadcast-bounded probe in both tiers.
    "decontam_against_eval",
    "decontam_hashed_prefilter",
    # r14: self-sized top-k LSH (planes ~ log2(n), occupancy 8): same
    # flat-per-probe claim as above for the bucketed top-k shape.
    "similarity_lsh_topk",
    "similarity_ivf_topk",
    "tpch_q9_product_profit",
    "tpch_q18_large_orders",
    "training_shard_manifest",
    # round-6 second wave: sketches + fixed-point iterative + windows.
    # heavy_hitters_mg at REPx has a REPx-larger vocabulary (salted
    # tokens) BUT the synthesis exempts the token 'spark' from
    # salting, so exactly one item keeps a genuine >1/51 global share
    # at any REP — the r10/r11 done-criterion: the support-sized
    # sketch (mg_capacity) must retain it through 100x vocabulary
    # growth and the exact second pass must emit it (the pre-r11
    # fixed-cap sketch evicted everything here; memory stays
    # O(1/min_support) per partition, independent of REP).
    "heavy_hitters_mg",
    "mixture_rebalance_corpus",
    "kmeans_quantized_assign",
    # pagerank at REPx: same node set, REPx the pre-distinct pair
    # volume — tests the edge-derivation shuffle, not graph growth
    "pagerank_copurchase",
    # events scale by USER count (per-user volume constant): the
    # partition-by-user claim these windows rest on
    "scd2_user_segments",
    "rolling_hour_user_stats",
    # round-6 third wave: SemDeDup's per-cluster quadratic term is
    # the claim under test (clusters grow REPx at fixed k here; the
    # kscaled entry below scales k instead — the r6 100x run showed
    # brute-force assignment then goes super-linear (63.6x), and the
    # r7 coarse-cell routing (auto at k >= KM_ROUTE_MIN_K) brought it
    # to 7.25x for 105x output, see PERF.md); segment dedup is two
    # linear shuffles.
    "semdedup_embeddings",
    "dedup_segments_corpus",
    # round-7: un-quarantined triangle count (edge-iterator form) —
    # the claim is that adjacency-array intersection work scales with
    # the true wedge count while every shuffle stays O(E) rows.
    "triangle_count_copurchase",
    # round-9 graph completions: like pagerank, the synthesis keeps
    # the node set fixed and grows the pre-distinct pair volume REPx
    # — the claim under test is the edge-derivation shuffle plus the
    # per-round label join (LP) / the hub-capped wedge join (AA)
    # staying flat once edges dedup to the same graph.
    "label_propagation_communities",
    "adamic_adar_linkpred",
    # round-7 lakehouse + optimizer wave: MERGE and its CDF inverse
    # are one key-shuffle-per-side joins (orders scale REPx); the
    # bloom join's claim is that the injected might_contain keeps the
    # fact scan's post-filter volume proportional to the dim subset;
    # attribution is one user-window shuffle (events scale by users).
    "merge_upsert_orders",
    "cdc_orders_changes",
    "runtime_bloom_join_reduction",
    "purchase_attribution",
    # round-7 repetition suite: zero-shuffle map-side gram arithmetic —
    # the claim is pure linearity in document volume (the salted REPx
    # corpus keeps per-doc gram work identical per replica).
    "gopher_repetition_rules",
    # round-8 selection wave: dsir is one token shuffle + B-row
    # broadcast (vocab grows REPx under the salted corpus — the
    # hashed-feature table must NOT); zipf reduces to (lang, term)
    # grain before its top-V window; the logistic score is the
    # zero-shuffle scan claim under forced columns.
    "dsir_importance_weights",
    "zipf_slope_by_lang",
    "quality_logistic_score",
    # KMV sketches are per-partition top-k + k-candidate merges; the
    # weighted sampler is a global TakeOrdered top-k — both must stay
    # flat-ish as the corpus grows (events scale by users; docs 100x).
    "kmv_intersection_audit",
    "weighted_sample_docs",
    # bigram LM mirrors the unigram scale claim one order up (the
    # salted corpus grows the bigram vocab 100x — the (doc,w1,w2)
    # grain reduce is what's under test); PMI rides the same
    # order-key set explosion as pagerank's edge derivation.
    "bigram_logprob_score",
    "copurchase_pmi",
    # the lang-ID confusion matrix is a per-row scoring scan + a
    # languages^2-sized aggregate — wall time should track the scan.
    "lang_confusion_audit",
    # Arrow-batched per-payload feature extraction: count() cannot
    # prune through the mapInPandas boundary, so the plain action
    # already forces the UDF — no FORCE_ALL_COLUMNS entry needed.
    "multimodal_byte_features",
    "multimodal_resize_meta",
    # routed assignment at fixed k (the k-scaling claim itself is
    # measured by semdedup_kscaled below, routing included)
    "kmeans_routed_assign",
    # round-6 fourth wave: all linear claims — boilerplate is two
    # aggs + a join on segment text, projection is a broadcast
    # fan-out map, the quantile audit is sketch agg + recount.
    "boilerplate_segment_removal",
    "embedding_random_projection",
    "quantile_sketch_audit",
    # round-6 fifth wave: corpus statistics.  All linear-in-tokens
    # claims; the salted REPx corpus grows the vocabulary REPx too,
    # so the term-keyed shuffles see REPx distinct keys (the
    # inverted index's bounded-state cap and the unigram join's
    # (doc,term)-grain reduce are what's under test).  zscore grows
    # rows-per-source REPx at fixed source count — the structural
    # window-skew case its docstring calls out.
    "inverted_index_postings",
    "unigram_logprob_score",
    "bpe_pair_counts",
    "source_zscore_quality",
    # round-6 sixth wave: behavioral analytics (events scale by USER
    # count — the partition-by-user window claims) + blocked ER
    # (name vocabulary fixed => flat curve is the expected shape).
    "funnel_conversion",
    "event_transition_matrix",
    "cohort_retention_weekly",
    "fuzzy_name_matches",
    # round-6 governance + SQL-surface waves.  MAD scales with event
    # rows (tiny-key percentile aggs), label drift with embeddings;
    # the date spine is calendar-bounded (flat curve expected).
    # k_anonymity_audit is NOT here: customer is a passthrough table
    # in this synthesis, so its 10x run would read 1x data.
    # copurchase_reach is excluded like triangle_count: its
    # edge-derivation self-join is pagerank's, already on the curve
    # via pagerank_copurchase.
    "label_drift_kl",
    "mad_outlier_flags",
    "date_spine_gapfill",
    # round-9 wave.  char entropy is the zero-shuffle sorted-run scan
    # (linear in chars); the skew audit is key-grain aggregates (key
    # cardinality grows with the synthesis); IVM is feed+key-grain
    # joins (orders scale REPx); BM25's shuffled volume is the probe
    # terms' postings (grows REPx under the salted corpus ONLY for
    # the unsalted probe terms present in replica 0 — wall time
    # tracks the scan); containment rides the LSH candidate path;
    # silhouette is probe-bounded (flat-ish expected: corpus side
    # grows REPx, probe count fixed).
    "char_entropy_quality",
    "skew_key_audit",
    "incremental_agg_orders",
    "bm25_topk_docs",
    "minhash_containment_pairs",
    "kmeans_silhouette_audit",
    # hilbert walk is per-row constant work; the curve tests the
    # range partitioner's sampling as events scale
    "hilbert_layout_codes",
    # pre-flight rides key-grain tables only — wall time tracks the
    # two key-column scans
    "join_size_preflight",
    # wordpiece recursion runs at word-TYPE grain: the salted REPx
    # corpus grows types REPx, so the curve tests exactly the claim
    "wordpiece_tokenize",
    # novelty's gram-df join is the grain-reduce claim: the salted
    # REPx corpus grows the gram vocabulary REPx
    "gram_novelty_scores",
    "temperature_mixture_weights",
    # BPE rounds aggregate the word-TYPE table (types grow REPx under
    # the salted corpus — the grain claim under test)
    "bpe_train_merges",
    # k-center scans points K times; embeddings scale REPx
    "kcenter_coreset",
    # round-10 wave.  RRF's fusion input is top-k-bounded — wall time
    # must track BM25's postings scan, never the fusion; matryoshka
    # is probe-bounded double brute-force (corpus side REPx, probes
    # fixed); the salted top-k is two window shuffles over events
    # (scale by users); compaction's packing input is the MANIFEST
    # (fixed (source, lang) group count — flat packing cost as data
    # grows is the whole claim); the epoch reshuffle is N_EPOCHS
    # manifest windows off one scan; URL dedup is one canonical-grain
    # shuffle with fixed key cardinality (map-side partials absorb
    # the growth); corr is a single co-moment scan; the dataset card
    # is one scan + a language argmax.  l_diversity_audit is NOT
    # here: customer is a passthrough table in this synthesis (the
    # k_anonymity exclusion).
    # k-core peels the order-part graph: orders (and distinct edges)
    # scale REPx while parts stay fixed — per-round degree aggs and
    # semi-joins are the O(E) claim under test.  binaryfile ingest is
    # NOT here: its fixture is contract-bounded (BINFILE_MAX_DOCS).
    "kcore_order_part",
    "rrf_hybrid_retrieval",
    "matryoshka_recall_audit",
    "salted_topk_per_group",
    "compaction_bin_packing",
    "epoch_shuffle_assignment",
    "dedup_url_normalized",
    "corr_matrix_numeric",
    "dataset_card_stats",
    # PSI is one conditional-sum pass over orders (scale REPx) + a
    # band-sized window — the label_drift_kl shape on a numeric column
    "psi_price_drift",
    # round-12 REAL decodes: Arrow-batched full-content decode over
    # Catalyst-built payloads — linear map stages, the curve pins it
    "multimodal_pixel_stats",
    "multimodal_pcm_stats",
    # round-13: stdlib PNG decode (zlib inflate + unfilter per
    # scanline in Arrow batches) — linear map stage like the BMP path
    "multimodal_png_pixel_stats",
]

# Optional filter: scale_curve.py [REP] [query ...]
ONLY = set(sys.argv[2:])

#: Queries whose cost is COMPUTED COLUMNS on a row-preserving plan:
#: a bare .count() lets Catalyst prune every expression (the r8 first
#: gopher run "measured" 1.4s flat at both scales because the gram
#: arithmetic never executed; an optimized-plan diff then showed four
#: more curve entries losing their Window operators the same way).
#: These time a noop-sink write (all columns forced, same methodology
#: as bench.py) and take the row count from a separate untimed action.
#: Earlier PERF.md rows for these names under-measured — r8 re-rows
#: them under the corrected action.
FORCE_ALL_COLUMNS = {
    "gopher_repetition_rules",
    "rolling_hour_user_stats",      # Window pruned under count()
    "source_zscore_quality",        # Window pruned under count()
    "dedup_segments_corpus",        # a Window stage pruned under count()
    "training_shard_manifest",      # Window pruned under count()
    "embedding_random_projection",  # pure projection arithmetic prunable
    "mad_outlier_flags",            # per-row flags prunable
    "quality_logistic_score",       # pure scoring scan (r8 addition)
    "char_entropy_quality",         # pure per-row entropy arithmetic (r9)
    "epoch_shuffle_assignment",     # pos windows pruned under count() (r10)
    "compaction_bin_packing",       # bin rollup windows pruned under count() (r10)
}


def _emb_neardup_planescaled(n_planes: int):
    """The production shape of the embedding near-dup at scale: the
    sign-LSH plane count follows log2(n) so bucket occupancy
    (n / 2^planes per table) stays CONSTANT as the corpus grows —
    within-bucket pairs are the only quadratic term, so holding
    occupancy flat is what keeps the candidate join linear.  Verify
    threshold 0.9 (the true near-dup regime; the catalog query's 0.45
    is the recall-heavy exploratory setting)."""

    def run(spark, sf_dir):
        from amazon_books_review_spark.functions import similarity
        from amazon_books_review_spark.sources.io import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        dim = len(emb.select("embedding").first()[0])
        return similarity.cosine_neardup_lsh_verified(
            emb, "vec_id", "embedding",
            threshold=0.9, n_planes=n_planes, n_tables=8, dim=dim,
        )

    return run


def _semdedup_kscaled(k: int):
    """SemDeDup with the production k-scaling applied: k grows with
    the corpus so per-cluster occupancy (and the quadratic
    within-cluster pair term) stays constant.  The fixed-k catalog
    entry in QUERIES measures the worst case; this one measures the
    operator as it would actually be deployed."""

    def run(spark, sf_dir):
        from amazon_books_review_spark.plans.scale_ops_queries import (
            semdedup_embeddings,
        )

        return semdedup_embeddings(spark, sf_dir, k=k)

    return run


def _plane_scaled_entries() -> dict[str, dict[str, object]]:
    import math

    extra = max(1, math.ceil(math.log2(REP)))
    return {
        "embedding_neardup_planescaled": {
            "1x": _emb_neardup_planescaled(4),
            f"{REP}x": _emb_neardup_planescaled(4 + extra),
        },
        "semdedup_kscaled": {
            "1x": _semdedup_kscaled(25),
            f"{REP}x": _semdedup_kscaled(25 * REP),
        },
    }


def synthesize(spark) -> None:
    from pyspark.sql import functions as F

    # SCALE_TABLES=documents,events limits synthesis to those fact
    # tables (others symlink the 1x base) — for single-query re-runs
    # via the ONLY filter, where materializing the full REPx lineitem
    # would dominate the wall clock for nothing.
    _only_tables = {
        t for t in os.environ.get("SCALE_TABLES", "").split(",") if t
    }

    def _wanted(t: str) -> bool:
        return not _only_tables or t in _only_tables

    def _passthrough(table: str) -> None:
        dst = os.path.join(SCALED_DIR, f"{table}.parquet")
        if not os.path.exists(dst):
            os.symlink(os.path.join(BASE_SF, f"{table}.parquet"), dst)

    os.makedirs(SCALED_DIR, exist_ok=True)
    passthrough = ["region", "nation", "customer", "supplier", "part"]
    for t in passthrough:
        _passthrough(t)
    for t in ("documents", "embeddings", "events", "orders", "lineitem"):
        if not _wanted(t):
            _passthrough(t)

    if _wanted("documents"):
        docs = spark.read.parquet(f"{BASE_SF}/documents.parquet")
        reps = []
        for i in range(REP):
            r = docs.withColumn(
                "doc_id", F.col("doc_id") + F.lit(i * ID_OFFSET)
            )
            if i:
                r = r.withColumn(
                    "text", F.regexp_replace("text", r"(\S+)", f"$1x{i}")
                )
                # Exempt ONE token from salting so the scaled corpus
                # has a genuine global heavy hitter ('spark' holds
                # ~3.4% share at 1x and keeps it at any REP): the
                # heavy_hitters_mg curve then tests that the
                # support-sized sketch retains a true >min_support
                # item through REPx vocabulary growth, with a
                # non-empty exact output — instead of the degenerate
                # everything-salted run where no item has >1/51 share
                # and empty is the CORRECT answer.
                r = r.withColumn(
                    "text",
                    F.regexp_replace("text", rf"\bsparkx{i}\b", "spark"),
                )
            reps.append(r)
        functools.reduce(lambda a, b: a.unionByName(b), reps).write.mode(
            "overwrite"
        ).parquet(f"{SCALED_DIR}/documents.parquet")

    # The shipped corpus contains NO true near-dups (max pairwise
    # cosine 0.60), so a threshold-0.9 run would correctly return zero
    # rows at every scale — plant some: 5% of vectors get a copy with
    # one nudged component (cosine ~0.999), under ids that collide
    # with no replica offset.  The planted 1x corpus is the baseline;
    # replicas then carry 10x the planted pairs — output must scale
    # linearly with them.
    os.makedirs(PLANTED_1X, exist_ok=True)
    for t in passthrough + ["documents", "orders", "lineitem", "events"]:
        dst = os.path.join(PLANTED_1X, f"{t}.parquet")
        if not os.path.exists(dst):
            os.symlink(os.path.join(BASE_SF, f"{t}.parquet"), dst)
    if not _wanted("embeddings"):
        dst = os.path.join(PLANTED_1X, "embeddings.parquet")
        if not os.path.exists(dst):
            os.symlink(os.path.join(BASE_SF, "embeddings.parquet"), dst)
        _synthesize_tail(spark, F, _wanted)
        return
    emb0 = spark.read.parquet(f"{BASE_SF}/embeddings.parquet")
    plants = (
        emb0.filter(F.col("vec_id") % 20 == 0)
        .withColumn("vec_id", F.col("vec_id") + F.lit(ID_OFFSET // 2))
        .withColumn(
            "embedding",
            F.expr(
                "transform(embedding, (x, j) -> "
                "x + cast(case when j = 0 then 0.05 else 0.0 end as float))"
            ),
        )
    )
    emb0.unionByName(plants).write.mode("overwrite").parquet(
        f"{PLANTED_1X}/embeddings.parquet"
    )

    emb = spark.read.parquet(f"{PLANTED_1X}/embeddings.parquet")
    reps = []
    for i in range(REP):
        r = emb.withColumn("vec_id", F.col("vec_id") + F.lit(i * ID_OFFSET))
        if i:
            r = r.withColumn(
                "embedding",
                F.expr(
                    "transform(embedding, (x, j) -> "
                    f"x * cast(1 - 2 * pmod(hash(j, {i}), 2) as float))"
                ),
            )
        reps.append(r)
    functools.reduce(lambda a, b: a.unionByName(b), reps).write.mode(
        "overwrite"
    ).parquet(f"{SCALED_DIR}/embeddings.parquet")

    _synthesize_tail(spark, F, _wanted)


def _synthesize_tail(spark, F, _wanted) -> None:
    """events/orders/lineitem replicas (split out so a SCALE_TABLES
    run that skips embeddings can still build them)."""
    if _wanted("events"):
        # events: REPx USERS (ids offset per replica), per-user event
        # volume unchanged — the axis user-partitioned windows scale on
        ev = spark.read.parquet(f"{BASE_SF}/events.parquet")
        reps = [
            ev.withColumn(
                "event_id", F.col("event_id") + F.lit(i * ID_OFFSET)
            ).withColumn("user_id", F.col("user_id") + F.lit(i * ID_OFFSET))
            for i in range(REP)
        ]
        functools.reduce(lambda a, b: a.unionByName(b), reps).write.mode(
            "overwrite"
        ).parquet(f"{SCALED_DIR}/events.parquet")

    for t, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
        if not _wanted(t):
            continue
        df = spark.read.parquet(f"{BASE_SF}/{t}.parquet")
        reps = [
            df.withColumn(key, F.col(key) + F.lit(i * KEY_OFFSET))
            for i in range(REP)
        ]
        functools.reduce(lambda a, b: a.unionByName(b), reps).write.mode(
            "overwrite"
        ).parquet(f"{SCALED_DIR}/{t}.parquet")


def main() -> None:
    from amazon_books_review_spark.session import get_session
    from amazon_books_review_spark.plans.catalog import all_queries

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_session(
        app_name="abr-scale-curve",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_confs={"spark.ui.enabled": "false", "spark.driver.memory": "16g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()

    synthesize(spark)
    big = f"{REP}x"
    plans = {name: {"1x": queries[name], big: queries[name]}
             for name in QUERIES}
    plans.update(_plane_scaled_entries())
    if ONLY:
        plans = {n: fns for n, fns in plans.items() if n in ONLY}
    # Embedding entries baseline against the PLANTED 1x corpus so both
    # scale points contain true near-dups (the shipped corpus has none).
    emb_entries = {n for n in plans if n.startswith("embedding_")}
    results: dict[str, dict[str, dict[str, float]]] = {}
    try:
        for name, fns in plans.items():
            one_x = PLANTED_1X if name in emb_entries else BASE_SF
            # warm codegen/committer at sf0.001 so one-shot costs stay
            # out of both timed points (same methodology as bench.py)
            fns["1x"](spark, BASE_SF.replace("sf0.1", "sf0.001")).write.format(
                "noop"
            ).mode("overwrite").save()
            row = {}
            for label, d in (("1x", one_x), (big, SCALED_DIR)):
                # t0 BEFORE the fn call (bench.py's methodology):
                # iterative operators (k-means Lloyd syncs, BPE merge
                # rounds, the k-center traversal) do real work at
                # query-CONSTRUCTION time via bounded driver syncs —
                # timing only the action measured an 8-row local frame
                # for those (caught round 9; the second species of the
                # round-8 count-pruning hole)
                t0 = time.perf_counter()
                df = fns[label](spark, d)
                if name in FORCE_ALL_COLUMNS:
                    df.write.format("noop").mode("overwrite").save()
                    sec = round(time.perf_counter() - t0, 3)
                    n = df.count()  # untimed; pruned plan, cheap
                else:
                    n = df.count()
                    sec = round(time.perf_counter() - t0, 3)
                row[label] = {"sec": sec, "rows": n}
            results[name] = row
            print(json.dumps({"query": name, **row}), flush=True)
    finally:
        shutil.rmtree(SCALED_DIR, ignore_errors=True)
        shutil.rmtree(PLANTED_1X, ignore_errors=True)
        spark.stop()

    print("\n| query | 1x sec | %sx sec | time ratio | 1x rows | %sx rows | row ratio |" % (REP, REP))
    print("|---|---|---|---|---|---|---|")
    for name, row in results.items():
        tr = row[big]["sec"] / max(row["1x"]["sec"], 1e-9)
        rr = row[big]["rows"] / max(row["1x"]["rows"], 1)
        print(
            f"| {name} | {row['1x']['sec']} | {row[big]['sec']} | "
            f"{tr:.2f}x | {row['1x']['rows']} | {row[big]['rows']} | {rr:.2f}x |"
        )


if __name__ == "__main__":
    main()
