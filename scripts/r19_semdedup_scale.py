"""r19: decade measurement of the SEMANTIC-DEDUP pipeline (VERDICT
r18 #1) — wall + peak disk + cluster-quality audit at 200k/500k
vectors on the seeded r17/r18 fixtures (seed 4242, the same corpora
the near-dup recall certifications ran on).

The measured composition is `embedding_semdedup_certified`'s shape:
mutual-k-NN edges at the dup threshold -> min-label components, with
edges from the adaptive near-dup tier (plan-derived >= 85% recall
floor, measured 92-93% at these decades) and mutual-k-NN computed
exactly on the threshold pair set (rank window + pair-count
mutuality).  The recorded SF*_SEMDEDUP_R19.json files also carry a
``graph`` arm (edges from the ANN serving tier's k-NN graph, 0.3-0.4%
edge recall); that composition has left the catalog and this script.

The EXACT reference is a numpy brute-force mutual-k-NN restricted to
edges incident to the first-2000-id stratum (the same stratum every
decade recall artifact uses): top-k is computable for the stratum and
for the union of its neighbors without an N x N pass, and any exact
mutual edge incident to the stratum has its far endpoint inside the
stratum's top-k union, so the restricted edge set is complete.
Ranking replays the engine rule exactly: round-6 cosine DESC, id ASC,
self excluded; edges filtered at the dup threshold.

Reported: stage walls, edge counts, stratum-incident edge
recall/precision vs exact, and co-cluster agreement (fraction of
exact mutual edges whose endpoints the composition assigns to one
cluster — transitive closure can co-cluster endpoints of a missed
edge, so this is the end-to-end semantic-dedup quality number).

Usage: python scripts/r19_semdedup_scale.py OUT.json [N]
"""
import json
import os
import shutil
import sys
import threading
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from amazon_books_review_spark import session
from amazon_books_review_spark.functions import dedup, similarity
from amazon_books_review_spark.plans import northstar_queries as nq

N = int(sys.argv[2]) if len(sys.argv) > 2 else 200_000
N_SAMPLE = 2000
SEED = 4242
K = nq.TOPK_K
THRESHOLD = nq.COSINE_DUP_THRESHOLD
EMB_DIR = f"/tmp/abr_emb_{N}"
path = os.path.join(EMB_DIR, "embeddings.parquet")
if not os.path.exists(path):
    os.makedirs(EMB_DIR, exist_ok=True)
    rng = np.random.default_rng(SEED)
    vecs = rng.normal(size=(N, nq.EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    pq.write_table(
        pa.table({
            "vec_id": np.arange(N, dtype=np.int64),
            "embedding": pa.array(
                vecs.astype(np.float32).tolist(), pa.list_(pa.float32())
            ),
            "label": rng.integers(0, 10, N).astype(np.int32),
        }),
        path,
        row_group_size=max(1, N // 32),
    )

# ---------------------------------------------------------------- disk poll
_free0 = shutil.disk_usage("/tmp").free
_min_free = [_free0]
_stop = threading.Event()


def _poll():
    while not _stop.is_set():
        _min_free[0] = min(_min_free[0], shutil.disk_usage("/tmp").free)
        _stop.wait(2.0)


threading.Thread(target=_poll, daemon=True).start()

spark = session.get_session(
    app_name="abr-r19-semdedup-scale",
    master="local[32]",
    shuffle_partitions=64,
    extra_confs={"spark.ui.enabled": "false", "spark.driver.memory": "48g"},
)
spark.sparkContext.setLogLevel("ERROR")

# ------------------------------------------------------- exact reference
# numpy brute force restricted to edges incident to the stratum
t0 = time.time()
tbl = pq.read_table(path, columns=["vec_id", "embedding"])
ids_all = tbl["vec_id"].to_numpy()
V = np.asarray(tbl["embedding"].to_pylist(), dtype=np.float32)
assert (ids_all == np.arange(N)).all()
Vn = (V / np.linalg.norm(V, axis=1, keepdims=True)).astype(np.float64)


def _topk_rows(rows):
    """Exact top-K of each row id in `rows` vs the full corpus, by
    (round6 sim DESC, id ASC), self excluded.  Returns {id: [(nbr,
    sim_q), ...]}."""
    out = {}
    B = 256
    for r0 in range(0, len(rows), B):
        sel = rows[r0 : r0 + B]
        sims = np.round(Vn[sel] @ Vn.T, 6)
        sims[np.arange(len(sel)), sel] = -np.inf
        for j, rid in enumerate(sel):
            row = sims[j]
            # ties broken on ascending id: lexsort (id, -sim).  The
            # argpartition prefilter can split a round-6 tie group at
            # its boundary, so re-select exactly at the provisional
            # K-th value (every tie of that value re-enters) before
            # the final tie-break.
            cand = np.argpartition(-row, K + 8)[: K + 8]
            vk = np.sort(row[cand])[::-1][K - 1]
            members = np.flatnonzero(row >= vk)
            order = np.lexsort((members, -row[members]))[:K]
            nbrs = members[order]
            out[int(rid)] = [(int(c), float(row[c])) for c in nbrs]
    return out


stratum = np.arange(N_SAMPLE)
topk_s = _topk_rows(stratum)
ring = sorted(
    {c for nbrs in topk_s.values() for c, _ in nbrs} - set(range(N_SAMPLE))
)
topk_r = _topk_rows(np.asarray(ring, dtype=np.int64))
topk = {**topk_s, **topk_r}
exact_edges = set()
for a in range(N_SAMPLE):
    for b, s in topk[a]:
        if s < THRESHOLD:
            continue
        if any(x == a for x, _ in topk[b][:K]):
            exact_edges.add((min(a, b), max(a, b)))
exact_sec = round(time.time() - t0, 2)
print(f"exact mutual-at-threshold edges incident to stratum:"
      f" {len(exact_edges)} in {exact_sec}s", flush=True)


def _audit(edges_df, clusters_df, tag):
    """Stratum-incident edge recall/precision + co-cluster agreement
    vs the exact reference.  `edges_df` (id_a, id_b) and
    `clusters_df` (vec_id, cluster_id) are the composition's outputs."""
    got = {
        (r.id_a, r.id_b)
        for r in edges_df.filter(
            (F.col("id_a") < N_SAMPLE) | (F.col("id_b") < N_SAMPLE)
        ).collect()
    }
    # restrict the composition's incident edges to ones the exact
    # reference can adjudicate: far endpoints outside stratum+ring
    # were never brute-forced, so precision is measured on the
    # adjudicable subset (complete for recall by construction)
    known = set(range(N_SAMPLE)) | set(ring)
    got_known = {e for e in got if e[0] in known and e[1] in known}
    hit = len(exact_edges & got_known)
    if exact_edges:
        recall = round(100.0 * hit / len(exact_edges), 1)
    else:
        recall = None
    precision = (
        round(100.0 * hit / len(got_known), 1) if got_known else None
    )
    # co-cluster agreement over exact edges
    if exact_edges:
        e_df = spark.createDataFrame(
            [(int(a), int(b)) for a, b in sorted(exact_edges)],
            "ea long, eb long",
        )
        ca = clusters_df.select(
            F.col("vec_id").alias("ea"), F.col("cluster_id").alias("c1")
        )
        cb = clusters_df.select(
            F.col("vec_id").alias("eb"), F.col("cluster_id").alias("c2")
        )
        n_same = (
            e_df.join(ca, "ea").join(cb, "eb")
            .filter(F.col("c1") == F.col("c2"))
            .count()
        )
        agree = round(100.0 * n_same / len(exact_edges), 1)
    else:
        agree = None
    print(f"[{tag}] incident_edges={len(got)} adjudicable={len(got_known)}"
          f" recall={recall}% precision={precision}% co_cluster={agree}%",
          flush=True)
    return {
        "incident_edges": len(got),
        "adjudicable_edges": len(got_known),
        "edge_recall_pct": recall,
        "edge_precision_pct": precision,
        "co_cluster_agreement_pct": agree,
    }


results = {
    "n_vectors": N, "n_sample_probes": N_SAMPLE, "k": K,
    "threshold": THRESHOLD, "seed": SEED,
    "n_exact_mutual_edges": len(exact_edges), "exact_arm_sec": exact_sec,
}

# ------------------------------------------------------------ certified
nb_c = similarity.lsh_planes_for(
    N, nq.NEARDUP_LSH_OCC,
    min_planes=nq.NEARDUP_LSH_MIN_PLANES,
    max_planes=nq.NEARDUP_LSH_MAX_PLANES,
)
nt_c, npb_c = similarity.lsh_plan_checked(nq.NEARDUP_LSH_PLAN, nb_c)
clamp_c = nq.NEARDUP_LSH_PLAN.by_b[nb_c][2]
t0 = time.time()
pairs = nq.embedding_neardup_lsh_verified(spark, EMB_DIR)
pairs.persist()
n_pairs = pairs.count()
pairs_sec = round(time.time() - t0, 2)
t0 = time.time()
sym = pairs.select(
    F.col("id_a").alias("src"), F.col("id_b").alias("dst"), "sim"
).unionByName(
    pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"), "sim")
)
w = Window.partitionBy("src").orderBy(F.col("sim").desc(), F.col("dst").asc())
ranked = sym.withColumn("rnk", F.row_number().over(w)).filter(
    F.col("rnk") <= K
)
c_edges = (
    ranked.select(
        F.least("src", "dst").alias("id_a"),
        F.greatest("src", "dst").alias("id_b"),
    )
    .groupBy("id_a", "id_b")
    .agg(F.count(F.lit(1)).alias("_n"))
    .filter(F.col("_n") == 2)
    .select("id_a", "id_b")
)
c_edges.persist()
n_c_edges = c_edges.count()
mutual_c_sec = round(time.time() - t0, 2)
t0 = time.time()
c_clusters = dedup.connected_components(c_edges, algorithm="star").select(
    F.col("node").alias("vec_id"), "cluster_id"
)
c_clusters.persist()
n_c_members = c_clusters.count()
n_c_clusters = c_clusters.select("cluster_id").distinct().count()
c_cluster_sec = round(time.time() - t0, 2)
results["certified"] = {
    "derived_planes": nb_c, "n_tables": nt_c, "probe_bits": npb_c,
    "table_clamp_binds": bool(clamp_c),
    "threshold_pairs_total": n_pairs,
    "mutual_edges_total": n_c_edges,
    "clustered_vectors": n_c_members, "n_clusters": n_c_clusters,
    "pairs_sec": pairs_sec, "mutual_sec": mutual_c_sec,
    "cluster_sec": c_cluster_sec,
    **_audit(c_edges, c_clusters, "certified"),
}

_stop.set()
results["peak_extra_disk_gb"] = round((_free0 - _min_free[0]) / 1e9, 2)
print(json.dumps(results, indent=1), flush=True)
with open(sys.argv[1], "w") as f:
    json.dump(results, f, indent=1)
