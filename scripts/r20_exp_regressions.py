#!/usr/bin/env python3
"""EXP (r20 opt): resolve VERDICT r19's robust regressions with
interleaved same-session A/Bs (the box drifts ~2x within a day, so
cross-run comparisons cannot adjudicate them).

1. pagerank_copurchase 2.62 (r18 driver) -> 5.20/3.35 (r19 driver
   c32/c8).  A = HEAD (r19: dead repartition("dst") removed, nodes
   checkpointed); B = the r18 shape reconstructed (repartition("dst")
   before the edge checkpoint, n_nodes via distinct().count(), ranks
   derived without the node checkpoint).
2. streaming_stream_stream_join_salted 2.43 -> 3.45/2.95 (untouched
   in r19).  No alternate shape exists; A/B = salted vs unsalted
   (the skew-hardening surcharge), interleaved, to separate operator
   cost from session drift.

Usage: SPARK_GRAFT_CPUS=32 python scripts/r20_exp_regressions.py
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F

import bench
from amazon_books_review_spark.operators.joins import broadcast_if_small
from amazon_books_review_spark.operators.windows import global_top_k
from amazon_books_review_spark.plans.scale_ops_queries import (
    PR_ITERS,
    PR_SCALE,
    PR_TOP,
    copurchase_edges,
    pagerank_copurchase,
)
from amazon_books_review_spark.sources.io import load_table
from amazon_books_review_spark.session import get_session


def pagerank_r18(spark, sf_dir):
    """The r18 shape: repartition("dst") before the edge checkpoint,
    no separate node checkpoint (n_nodes via distinct().count())."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    edges = copurchase_edges(li, directed=True)
    w_deg = Window.partitionBy("src")
    edges_deg = (
        edges.withColumn("deg", F.count(F.lit(1)).over(w_deg))
        .repartition("dst")
        .localCheckpoint(eager=True)
    )
    n_nodes = edges_deg.select("src").distinct().count()
    init = PR_SCALE // n_nodes
    base = (15 * init) // 100
    ranks = (
        edges_deg.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("r", F.lit(init))
    )
    for _ in range(PR_ITERS):
        contrib = edges_deg.join(
            broadcast_if_small(ranks, n_nodes),
            edges_deg["src"] == ranks["node"],
        ).select("dst", F.expr("r div deg").alias("c"))
        ranks = (
            contrib.groupBy("dst")
            .agg(F.sum("c").alias("recv"))
            .select(
                F.col("dst").alias("node"),
                (F.lit(base) + F.expr("(85 * recv) div 100")).alias("r"),
            )
            .localCheckpoint(eager=True)
        )
    from pyspark.sql import Window as W2

    top = global_top_k(ranks, [F.col("r").desc(), F.col("node").asc()], PR_TOP)
    w = W2.orderBy(F.col("r").desc(), F.col("node").asc())
    return top.withColumn("rnk", F.row_number().over(w)).select(
        F.col("node").alias("p_partkey"),
        F.col("r").alias("rank_units"),
        "rnk",
    )


def pagerank_degjoin(spark, sf_dir):
    """Candidate shape: degree via groupBy (map-side partial agg —
    shuffles (src, count) partials instead of the window's full edge
    exchange + sort) broadcast-joined back onto the checkpointed edge
    set; the node-sized deg table doubles as the node table."""
    li = load_table(spark, sf_dir, "lineitem")
    edges = copurchase_edges(li, directed=True).localCheckpoint(eager=True)
    deg = (
        edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint(eager=True)
    )
    n_nodes = deg.count()
    edges_deg = edges.join(broadcast_if_small(deg, n_nodes), "src")
    init = PR_SCALE // n_nodes
    base = (15 * init) // 100
    ranks = deg.select(F.col("src").alias("node"), F.lit(init).alias("r"))
    for _ in range(PR_ITERS):
        contrib = edges_deg.join(
            broadcast_if_small(ranks, n_nodes),
            edges_deg["src"] == ranks["node"],
        ).select("dst", F.expr("r div deg").alias("c"))
        ranks = (
            contrib.groupBy("dst")
            .agg(F.sum("c").alias("recv"))
            .select(
                F.col("dst").alias("node"),
                (F.lit(base) + F.expr("(85 * recv) div 100")).alias("r"),
            )
            .localCheckpoint(eager=True)
        )
    from pyspark.sql import Window as W2

    top = global_top_k(ranks, [F.col("r").desc(), F.col("node").asc()], PR_TOP)
    w = W2.orderBy(F.col("r").desc(), F.col("node").asc())
    return top.withColumn("rnk", F.row_number().over(w)).select(
        F.col("node").alias("p_partkey"),
        F.col("r").alias("rank_units"),
        "rnk",
    )


def main() -> None:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_session(
        app_name="abr-r20-exp-regr",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_confs={"spark.ui.enabled": "false", "spark.driver.memory": "16g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    bench.SF_DIR = sf_dir
    timed_dir, _ = bench._optimize_layout(spark)
    warmup = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")

    from amazon_books_review_spark.streaming.queries import (
        prestage_inputs,
        streaming_stream_stream_join,
        streaming_stream_stream_join_salted,
    )

    prestage_inputs(spark, timed_dir)

    variants = {
        "pagerank_HEAD": pagerank_copurchase,
        "pagerank_r18": pagerank_r18,
        "pagerank_degjoin": pagerank_degjoin,
        "ssj_salted": streaming_stream_stream_join_salted,
        "ssj_unsalted": streaming_stream_stream_join,
    }
    # value-identity first (cheap, at warmup SF)
    pa = pagerank_copurchase(spark, warmup).toPandas().sort_values("rnk")
    for alt in (pagerank_r18, pagerank_degjoin):
        pb = alt(spark, warmup).toPandas().sort_values("rnk")
        assert pa.reset_index(drop=True).equals(
            pb.reset_index(drop=True)
        ), f"pagerank mismatch: {alt.__name__}"
    print("value identity OK at sf0.001", file=sys.stderr)

    shots: dict[str, list[float]] = {k: [] for k in variants}
    rounds = int(os.environ.get("R20_EXP_ROUNDS", "5"))
    for r in range(rounds):
        for name, fn in variants.items():
            spark.sparkContext.setJobDescription(f"r20-exp-regr {name} round{r}")
            t0 = time.time()
            fn(spark, timed_dir).write.format("noop").mode("overwrite").save()
            shots[name].append(round(time.time() - t0, 3))
    for name, ss in shots.items():
        print(json.dumps({"variant": name, "min": min(ss), "median": sorted(ss)[len(ss) // 2], "shots": ss}))
    import shutil

    shutil.rmtree(timed_dir, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
