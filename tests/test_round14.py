"""Round-14 additions (VERDICT r13): self-sizing capacity for the
fixed-config ANN catalog entries and the net-of-floor coverage
invariant.

The sizing rule is DERIVED, not pinned — `lsh_planes_for` is pure
integer arithmetic replayed verbatim by the DuckDB oracles, so these
tests pin (a) the Python formula's values and (b) the Python<->SQL
derivation equivalence over a count sweep.
"""

from __future__ import annotations

import glob
import json
from pathlib import Path

import duckdb
import pytest

from amazon_books_review_spark.functions.similarity import lsh_planes_for

REPO = Path(__file__).resolve().parents[1]


# ---------------------------------------------------------------------------
# Sizing formulas (VERDICT r13 #1)
# ---------------------------------------------------------------------------

def test_lsh_planes_for_tracks_log2():
    # occupancy 32: the catalog's configuration
    assert lsh_planes_for(500, 32) == 4      # sf0.01  -> the r13 config
    assert lsh_planes_for(2000, 32) == 6     # sf0.1
    assert lsh_planes_for(20_000, 32) == 10  # sf1
    assert lsh_planes_for(200_000, 32) == 13
    # occupancy stays bounded: n / 2^b <= occ at every derived point
    for n in [1, 7, 100, 500, 2048, 65_536, 1_000_000]:
        b = lsh_planes_for(n, 32)
        if b < 16:  # below the clamp the occupancy contract is hard
            assert n / (1 << b) <= 32, (n, b)
    # clamps
    assert lsh_planes_for(1, 32, min_planes=2) == 2
    assert lsh_planes_for(10**12, 32, max_planes=16) == 16
    with pytest.raises(ValueError):
        lsh_planes_for(10, 0)
    with pytest.raises(ValueError):
        lsh_planes_for(10, 32, min_planes=5, max_planes=4)


@pytest.mark.parametrize("n", [1, 3, 100, 499, 500, 501, 2000, 4096, 20_000,
                               1_000_000, 10**9])
def test_lsh_mask_sql_matches_python(n):
    """The oracle's params CTE (mask = 2^b from count(*)) must derive
    the same plane count as `lsh_planes_for` for any corpus size —
    the cross-engine contract the self-sizing rests on."""
    from amazon_books_review_spark.plans.northstar_queries import (
        NEARDUP_LSH_MAX_PLANES,
        NEARDUP_LSH_MIN_PLANES,
        NEARDUP_LSH_OCC,
    )

    sql = f"""
    SELECT coalesce(
        min(CASE WHEN (CAST(1 AS BIGINT) << g.b) * {NEARDUP_LSH_OCC} >= nn.n
                 THEN (CAST(1 AS BIGINT) << g.b) END),
        (CAST(1 AS BIGINT) << {NEARDUP_LSH_MAX_PLANES})) AS m
    FROM generate_series({NEARDUP_LSH_MIN_PLANES}, {NEARDUP_LSH_MAX_PLANES}) AS g(b),
         (SELECT {n} AS n) nn
    """
    (m,) = duckdb.sql(sql).fetchone()
    b = lsh_planes_for(
        n, NEARDUP_LSH_OCC,
        min_planes=NEARDUP_LSH_MIN_PLANES, max_planes=NEARDUP_LSH_MAX_PLANES,
    )
    assert m == 1 << b, (n, m, b)


def test_stream_join_salts_for_caps_hot_partition():
    """S = ceil(f * P / c): the smallest salt count that caps the hot
    key's partition at c x mean.  The catalog design point (f=0.25,
    P=32, c=2) must reproduce the historical 4-salt constant."""
    from amazon_books_review_spark.streaming.queries import (
        STREAM_JOIN_SALTS,
        stream_join_salts_for,
    )

    assert STREAM_JOIN_SALTS == 4
    assert stream_join_salts_for(0.25, 32, 2.0) == 4
    assert stream_join_salts_for(1.0, 32, 2.0) == 16   # worst case
    assert stream_join_salts_for(0.01, 256, 2.0) == 2  # mild skew, wide P
    assert stream_join_salts_for(0.001, 32, 2.0) == 1  # no salting needed
    with pytest.raises(ValueError):
        stream_join_salts_for(0.0, 32)
    with pytest.raises(ValueError):
        stream_join_salts_for(0.5, 0)


def test_masked_signature_equals_prefix_signature():
    """The oracle computes MAX_PLANES-bit signatures and masks down;
    that only equals the operator's b-plane signature because the
    hyperplane family is prefix-stable.  Pin both facts."""
    from amazon_books_review_spark.functions.similarity import (
        deterministic_planes,
    )

    full = deterministic_planes(16, 8, table=3)
    pre = deterministic_planes(6, 8, table=3)
    assert full[:6] == pre  # prefix-stable

    vec = [0.3, -0.2, 0.9, 0.0, -0.5, 0.1, 0.7, -0.8]

    def sig(planes):
        s = 0
        for p, plane in enumerate(planes):
            if sum(x * y for x, y in zip(vec, plane)) >= 0:
                s += 1 << p
        return s

    assert sig(full) % (1 << 6) == sig(pre)


# ---------------------------------------------------------------------------
# Multiprobe assignment (VERDICT r13 #2)
# ---------------------------------------------------------------------------

SF = "/root/testdata/sf0.001"


def test_neardup_lsh_audit_precision_is_exact_by_construction(spark):
    """Stage two of the two-stage near-dup tier exact-verifies every
    candidate against the SAME threshold as the exact tier, so every
    emitted pair is a true pair: precision_pct must be exactly 100
    (and the audit's n_hit == n_lsh).  Recall is the tunable quantity;
    precision is the contract."""
    from amazon_books_review_spark.plans.northstar_queries import (
        neardup_lsh_recall_audit,
    )

    (row,) = neardup_lsh_recall_audit(spark, SF).collect()
    assert row["precision_pct"] == 100, row
    assert row["n_hit"] == row["n_lsh"], row
    assert 0 < row["n_lsh"] <= row["n_exact"], row


def test_zero_norm_vectors_route_deterministically(spark):
    """ADVICE r13: a zero vector used to make the routing cosine
    NULL/NaN with engine-defined ordering; the -2.0 sentinel must make
    routing deterministic and the query must still return well-formed
    results (no NULL sim, probe routed to the ascending-id cells)."""
    from amazon_books_review_spark.functions.similarity import ivf_topk

    rows = [(0, [0.0] * 8, "a")] + [
        (i, [float((i * 7 + j * 3) % 5 - 2) for j in range(8)],
         "a" if i % 2 else "b")
        for i in range(1, 12)
    ]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label string"
    )
    probes = df.filter("vec_id = 0")  # THE zero vector probes
    # run twice: determinism under re-evaluation
    ivf = ivf_topk(df, probes, "vec_id", "embedding", "label",
                   dim=8, k=3, nprobe=2).collect()
    ivf2 = ivf_topk(df, probes, "vec_id", "embedding", "label",
                    dim=8, k=3, nprobe=2).collect()
    assert sorted(map(str, ivf)) == sorted(map(str, ivf2))


# ---------------------------------------------------------------------------
# Bench detail invariants (VERDICT r13 #7)
# ---------------------------------------------------------------------------

def _latest_bench_local() -> dict:
    paths = sorted(glob.glob(str(REPO / "BENCH_LOCAL_r*.json")))
    assert paths, "no BENCH_LOCAL_r*.json artifacts"
    return json.loads(Path(paths[-1]).read_text())


def test_every_streaming_entry_carries_net_of_floor():
    """VERDICT r13 #7: every streaming_* query in the bench detail
    must have a floor-subtracted figure, so a new streaming entry
    can't silently skip the net-of-floor accounting that makes
    operator-cost movement visible."""
    detail = _latest_bench_local()
    streaming = {n for n in detail["queries"] if n.startswith("streaming_")}
    assert streaming, "no streaming entries in bench detail?"
    covered = set(detail.get("net_of_floor", {}))
    missing = sorted(streaming - covered)
    assert not missing, f"streaming entries without net_of_floor: {missing}"


def test_solo_shots_recorded_for_short_rerun_lane():
    """ADVICE r13 #4: when the min-of-two short-query lane runs, both
    shots must be auditable.  Structural check on bench.py (the
    artifact only contains solo_shots once a new bench runs)."""
    src = (REPO / "bench.py").read_text()
    assert "solo_shots" in src
    assert '"fresh": secs' in src and '"warm": secs2' in src
