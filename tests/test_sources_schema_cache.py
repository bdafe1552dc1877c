"""Per-call fixed costs stay cut: the parquet schema cache in
``sources.io.read_parquet`` (a warm ``load_table`` starts no Spark job,
and a changed listing or conf misses), the listing-keyed
``table_row_count``, the Arrow-native cogroup's null handling, and the
build-phase job counts of the iterative benchmark entries.

Jobs are counted under a job group from the status store after the
listener bus drains, so the counts do not depend on host speed.
"""

from __future__ import annotations

import itertools
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from amazon_books_review_spark.plans.catalog import all_queries
from amazon_books_review_spark.plans.reshape_queries import (
    COGROUP_ORACLE,
    cogroup_user_purchase_gap,
)
from amazon_books_review_spark.sources.io import (
    load_table,
    read_parquet,
    table_row_count,
)
from tests.oracle_harness import compare_frames

NANOS = "spark.sql.legacy.parquet.nanosAsLong"
NTZ = "spark.sql.parquet.inferTimestampNTZ.enabled"
_GROUPS = itertools.count()


def jobs_during(spark, thunk):
    """``(thunk(), number of Spark jobs it started)``."""
    sc = spark.sparkContext
    group = f"schema-cache-test-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = thunk()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture
def conf(spark):
    """Set session confs for one test and put them back after."""
    saved: dict[str, str | None] = {}

    def set_(key: str, value: str) -> None:
        saved.setdefault(key, spark.conf.get(key, None))
        spark.conf.set(key, value)

    yield set_
    for key, value in saved.items():
        if value is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, value)


def test_warm_load_starts_no_job(spark, tmp_path):
    """(a) A second load of an unchanged directory starts 0 jobs and
    returns what an uncached read returns."""
    path = str(tmp_path / "orders.parquet")
    spark.range(50).selectExpr("id AS o_orderkey", "id % 7 AS o_custkey").repartition(
        3
    ).write.parquet(path)
    _, first = jobs_during(spark, lambda: load_table(spark, str(tmp_path), "orders"))
    df, second = jobs_during(spark, lambda: load_table(spark, str(tmp_path), "orders"))
    assert first >= 1, "the first read should infer the schema"
    assert second == 0
    plain = spark.read.parquet(path)
    assert df.schema == plain.schema
    assert rows(df) == rows(plain)


def test_rewrite_in_place_with_added_column_misses(spark, tmp_path):
    """(b) Rewriting a part file in place with an added column makes
    the column appear, and ``table_row_count`` counts the new file."""
    path = tmp_path / "events.parquet"
    path.mkdir()
    part = str(path / "part-0.parquet")
    pq.write_table(pa.table({"user_id": [1, 2]}), part)
    assert read_parquet(spark, str(path)).columns == ["user_id"]
    assert read_parquet(spark, str(path)).columns == ["user_id"]
    assert table_row_count(str(tmp_path), "events") == 2
    pq.write_table(pa.table({"user_id": [1, 2, 3], "event_type": ["a", "b", "c"]}), part)
    df = read_parquet(spark, str(path))
    assert df.columns == ["user_id", "event_type"]
    assert rows(df) == [(1, "a"), (2, "b"), (3, "c")]
    assert table_row_count(str(tmp_path), "events") == 3


def test_hive_partitioned_dir_matches_plain_read(spark, tmp_path):
    """(c) A hive-partitioned, nested directory gives the same schema
    and rows as ``spark.read.parquet``, on a miss and on a hit."""
    path = str(tmp_path / "lineitem.parquet")
    (
        spark.range(40)
        .selectExpr("id", "id % 3 AS year", "cast(id % 2 AS string) AS flag")
        .write.partitionBy("year", "flag")
        .parquet(path)
    )
    plain = spark.read.parquet(path)
    miss = read_parquet(spark, path)
    hit, n_jobs = jobs_during(spark, lambda: read_parquet(spark, path))
    assert n_jobs == 0
    for df in (miss, hit):
        assert df.schema == plain.schema
        assert rows(df) == rows(plain)


def test_inference_confs_are_part_of_the_key(spark, tmp_path, conf):
    """(d) Flipping ``nanosAsLong`` between two reads gives what the
    conf implies: nanos as BIGINT when on, Spark's own
    PARQUET_TYPE_ILLEGAL when off.  Same for the NTZ inference conf."""
    path = str(tmp_path / "ts.parquet")
    pq.write_table(
        pa.table(
            {
                "nanos": pa.array([1, 2], pa.timestamp("ns")),
                "micros": pa.array([1, 2], pa.timestamp("us")),
            }
        ),
        path,
    )
    conf(NANOS, "true")
    conf(NTZ, "true")
    assert dict(read_parquet(spark, path).dtypes) == {
        "nanos": "bigint", "micros": "timestamp_ntz",
    }
    conf(NANOS, "false")
    with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
        read_parquet(spark, path)
    conf(NANOS, "true")
    conf(NTZ, "false")
    assert dict(read_parquet(spark, path).dtypes) == {
        "nanos": "bigint", "micros": "timestamp",
    }
    assert dict(spark.read.parquet(path).dtypes) == {
        "nanos": "bigint", "micros": "timestamp",
    }


def test_file_uri_is_cached_like_a_local_path(spark, tmp_path):
    path = str(tmp_path / "nation.parquet")
    spark.range(5).write.parquet(path)
    read_parquet(spark, f"file://{path}")
    df, n_jobs = jobs_during(spark, lambda: read_parquet(spark, f"file:{path}"))
    assert n_jobs == 0
    assert rows(df) == rows(spark.read.parquet(path))


def test_missing_and_empty_paths_raise_as_spark_does(spark, tmp_path):
    """Unlistable or empty paths take the plain read: the same
    exceptions as ``spark.read.parquet``."""
    empty = tmp_path / "empty.parquet"
    empty.mkdir()
    for path in (str(tmp_path / "missing.parquet"), str(empty)):
        with pytest.raises(AnalysisException) as plain:
            spark.read.parquet(path)
        with pytest.raises(AnalysisException) as cached:
            read_parquet(spark, path)
        assert cached.value.getCondition() == plain.value.getCondition()


def test_cogroup_one_sided_keys_and_nulls(spark, tmp_path):
    """(e) A key only in events, a key only in orders, a null
    ``event_day``, an all-null events side and a null ``last_day``
    give the oracle's counts."""
    day = 86_400_000_000  # microseconds
    pq.write_table(
        pa.table(
            {
                "user_id": pa.array([1, 1, 1, 2, 4, 4, 5, 6], pa.int64()),
                "ts": pa.array(
                    [10 * day, 20 * day, 30 * day, 5 * day, None, 3 * day, None, day],
                    pa.timestamp("us"),
                ),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "o_custkey": pa.array([1, 1, 3, 4, 5, 6], pa.int64()),
                "o_orderdate": pa.array([15, 20, 7, 9, 9, None], pa.date32()),
            }
        ),
        str(tmp_path / "orders.parquet"),
    )
    got = cogroup_user_purchase_gap(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    try:
        for name in ("events", "orders"):
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM "
                f"read_parquet('{tmp_path / (name + '.parquet')}')"
            )
        want = con.execute(COGROUP_ORACLE).fetchdf()
    finally:
        con.close()
    assert not compare_frames(got, want)
    by_user = {r.user_id: r for r in got.itertuples()}
    assert by_user[1].n_events_before_last_order == 2
    assert (by_user[2].n_events, by_user[2].n_orders) == (1, 0)
    assert (by_user[3].n_events, by_user[3].n_orders) == (0, 1)
    assert by_user[4].n_events_before_last_order == 1
    assert by_user[5].n_events_before_last_order == 0
    assert (by_user[6].n_orders, by_user[6].n_events_before_last_order) == (1, 0)


#: Build-phase Spark jobs at sf0.001 on a warm session (tables read
#: once before), measured on PySpark 4.1.2; label propagation and
#: PageRank read the same at sf0.01.  Label propagation and
#: PageRank run their iterations eagerly; the cogroup's build runs
#: none, so a schema-inference job coming back shows here.
BUILD_JOBS = {
    "label_propagation_communities": 13,
    "pagerank_copurchase": 24,
    "cogroup_user_purchase_gap": 0,
}


@pytest.mark.parametrize("name", sorted(BUILD_JOBS))
def test_build_phase_job_count(spark, sf_dir, name):
    fn = all_queries()[name]
    fn(spark, sf_dir).toPandas()
    _, n_jobs = jobs_during(spark, lambda: fn(spark, sf_dir))
    assert n_jobs == BUILD_JOBS[name]


def test_row_count_walks_the_same_files_as_the_cache(tmp_path):
    """``table_row_count`` ignores ``_``/``.``-prefixed entries, as the
    schema cache's listing does."""
    path = tmp_path / "t.parquet"
    (path / "k=1").mkdir(parents=True)
    (path / "_temporary").mkdir()
    pq.write_table(pa.table({"a": [1, 2]}), str(path / "k=1" / "p0.parquet"))
    pq.write_table(pa.table({"a": [3]}), str(path / "p1.parquet"))
    (path / "_SUCCESS").write_bytes(b"")
    (path / ".p1.parquet.crc").write_bytes(b"x")
    (path / "_temporary" / "junk").write_bytes(b"x")
    assert table_row_count(str(tmp_path), "t") == 3
    os.remove(path / "p1.parquet")
    assert table_row_count(str(tmp_path), "t") == 2


def test_listing_cache_is_thread_safe():
    """Readers on a thread pool share the caches: concurrent get/put
    with evictions must never raise (a get racing an eviction would
    ``move_to_end`` a popped key) nor grow past the bound."""
    import sys
    import threading

    from amazon_books_review_spark.sources.io import _ListingCache

    cache = _ListingCache(maxsize=8)
    errors: list[BaseException] = []

    def hammer(seed: int) -> None:
        try:
            for i in range(3000):
                key = (seed * 7 + i) % 24
                if cache.get(key) is None:
                    cache.put(key, i + 1)
        except BaseException as exc:  # noqa: BLE001 — reported below
            errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=hammer, args=(s,)) for s in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[:1]
    assert len(cache._data) == 8
