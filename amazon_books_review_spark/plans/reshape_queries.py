"""Reshape / two-sided-group API coverage: the DataFrame ``unpivot``
(melt) operator and ``cogroup(...).applyInArrow``.

Both are catalog queries with exact DuckDB oracles; docstrings record
when each is the right tool at 100 TB (and when it isn't — cogroup is
the API of last resort, not a join replacement).
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from amazon_books_review_spark.sources.io import load_table

# ---------------------------------------------------------------------------
# unpivot / melt
# ---------------------------------------------------------------------------


def unpivot_doc_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide->long melt via the DataFrame ``unpivot`` operator: three
    per-document metrics computed in ONE scan, then unpivoted to
    (doc_id, metric, value) rows — the layout metric stores and
    plotting pipelines consume.

    ``unpivot`` is a zero-shuffle projection (each input row expands
    to K output rows in place), so the melt costs nothing beyond
    output size; the anti-pattern it replaces is K per-metric scans
    unioned together (K full passes at 100 TB).  The expression-level
    twin is ``stack()`` (operators/validation.py) — this is the
    typed DataFrame API for the same reshape.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), " ")
    wide = docs.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("chars"),
        F.size(toks).cast("long").alias("tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("distinct_tokens"),
    )
    return wide.unpivot(
        ids=["doc_id"],
        values=["chars", "tokens", "distinct_tokens"],
        variableColumnName="metric",
        valueColumnName="value",
    )


UNPIVOT_ORACLE = """
WITH wide AS (
    SELECT doc_id,
           n_chars AS chars,
           len(string_split(trim(text), ' ')) AS tokens,
           len(list_distinct(string_split(trim(text), ' '))) AS distinct_tokens
    FROM documents
)
SELECT doc_id, 'chars' AS metric, CAST(chars AS BIGINT) AS value FROM wide
UNION ALL
SELECT doc_id, 'tokens', CAST(tokens AS BIGINT) FROM wide
UNION ALL
SELECT doc_id, 'distinct_tokens', CAST(distinct_tokens AS BIGINT) FROM wide
"""


# ---------------------------------------------------------------------------
# cogroup.applyInArrow
# ---------------------------------------------------------------------------


def cogroup_user_purchase_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided per-key pairing through ``cogroup(...).applyInArrow``:
    for every user appearing in events OR orders, count their events,
    orders, and how many events fall on-or-before their last order
    date.

    THIS result is SQL-expressible (the oracle proves it) — the query
    exists to pin the cogroup API's semantics: both sides shuffle on
    the key, each key's two sides arrive in one Python call as
    ``pyarrow.Table``s, and keys missing from either side arrive as an
    empty table.
    Reach for cogroup only when the per-key pairing logic genuinely
    exceeds relational algebra (sequence alignment, per-key model
    scoring against a per-key reference set); for anything a join +
    window can express, stay JVM-side — two shuffles plus the Python
    boundary is the most expensive shape in this repo.

    Scale: state per call is one user's rows (bounded), not the
    partition, so skewed keys bound memory by the hot key only.  The
    orders side is REDUCED JVM-side to one (n_orders, last_day) row
    per key and DateType is pre-converted to int days on both sides,
    so the per-key Arrow batches carry plain int64 columns and the
    merge is one ``pyarrow.compute`` comparison (the production
    discipline for any grouped-map UDF: aggregate in Catalyst where
    algebra allows, cross into Python with the narrowest schema).
    Together with the explicit repartition below this cut the query
    ~6x at sf0.1 (21.5s -> ~3s warm): the original shipped DateType
    detail rows, ran pd.to_datetime twice per key, and let AQE
    serialize all ~15k Python calls onto one task.  ``applyInArrow``
    rather than ``applyInPandas`` then drops the per-key pandas frame
    construction, which is most of the Python time when keys are
    small: at sf0.01 (~1.5k keys, 4 cores) Python run time fell
    6.3s -> 2.5s with the same bytes crossing the boundary (PERF.md).
    """
    # Explicit partition count on the Python-boundary shuffle: AQE
    # coalesces exchanges by BYTE size, but a per-key applyInArrow
    # stage's cost is CALL COUNT — at sf0.1 the ~15k single-row keys
    # weigh under one advisory partition, so AQE packs every Python
    # call onto ONE task and serializes the stage.  An explicit
    # repartition(N, key) is exempt from AQE coalescing and satisfies
    # cogroup's required hash distribution, so the UDF calls fan out
    # across N tasks.  (On a real cluster: N ~ 2-3x total cores.)
    n_parts = spark.sparkContext.defaultParallelism
    events = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id",
            F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("event_day"),
        )
        .repartition(n_parts, "user_id")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.datediff(F.max("o_orderdate"), F.lit("1970-01-01")).alias(
                "last_day"
            ),
        )
        .repartition(n_parts, "user_id")
    )

    def merge(evts: pa.Table, ords: pa.Table) -> pa.Table:
        uid = (evts if evts.num_rows else ords)["user_id"][0].as_py()
        n_orders = before = 0
        if ords.num_rows:
            n_orders = ords["n_orders"][0].as_py()
            # null event_day or last_day compares to null, which sum
            # skips; an all-null (or empty) sum is null, counted as 0
            hit = pc.less_equal(evts["event_day"], ords["last_day"][0])
            before = pc.sum(hit).as_py() or 0
        return pa.table(
            {
                "user_id": [uid],
                "n_events": [evts.num_rows],
                "n_orders": [n_orders],
                "n_events_before_last_order": [before],
            }
        )

    return (
        events.groupBy("user_id")
        .cogroup(orders.groupBy("user_id"))
        .applyInArrow(
            merge,
            schema=(
                "user_id bigint, n_events bigint, n_orders bigint, "
                "n_events_before_last_order bigint"
            ),
        )
    )


COGROUP_ORACLE = """
WITH e AS (
    SELECT user_id, CAST(ts AS DATE) AS event_date FROM events
), o AS (
    SELECT o_custkey AS user_id, o_orderdate FROM orders
), keys AS (
    SELECT DISTINCT user_id FROM e
    UNION
    SELECT DISTINCT user_id FROM o
), last_order AS (
    SELECT user_id, max(o_orderdate) AS last_date FROM o GROUP BY user_id
)
SELECT k.user_id,
       (SELECT count(*) FROM e WHERE e.user_id = k.user_id) AS n_events,
       (SELECT count(*) FROM o WHERE o.user_id = k.user_id) AS n_orders,
       COALESCE((SELECT count(*) FROM e, last_order lo
                 WHERE e.user_id = k.user_id AND lo.user_id = k.user_id
                   AND e.event_date <= lo.last_date), 0)
           AS n_events_before_last_order
FROM keys k
"""


# ---------------------------------------------------------------------------
# @pandas_udf: scalar (Arrow-vectorized) + grouped-agg forms
# ---------------------------------------------------------------------------


def pandas_udf_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both ``@pandas_udf`` flavors on one pipeline: a SCALAR
    Arrow-vectorized UDF (whitespace token count via pandas str ops —
    one Arrow batch in, one out, no per-row Python) feeding a
    GROUPED_AGG UDF (exact median over int64, a whole-partition
    reduction the built-in ``median`` also offers — used here to
    exercise the Series->scalar aggregation eval type).

    When to use which at 100 TB: scalar pandas_udf only when no
    Catalyst expression exists (here ``size(split(..))`` would do —
    the UDF is the API demonstration); grouped-agg pandas_udf only for
    aggregations that genuinely need the whole group as a vector
    (e.g. a scipy fit) — it holds each group in memory, so groups must
    be bounded.  Integer medians are exact in both engines (the .5
    midpoint is exactly representable), so the oracle is fair.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def n_words(text: pd.Series) -> pd.Series:
        return (
            text.str.strip().str.split(r"\s+", regex=True).str.len()
            .astype("int64")
        )

    @pandas_udf("double")
    def median_long(v: pd.Series) -> float:
        return float(v.median())

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "lang",
        F.col("n_chars").cast("long").alias("n_chars"),
        n_words(F.col("text")).alias("words"),
    )
    # Spark forbids mixing a GROUPED_AGG pandas UDF with JVM aggregates
    # in one agg (INVALID_PANDAS_UDF_PLACEMENT) — the idiomatic
    # composition is two aggregations joined on the (tiny) group key.
    native = base.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("words").alias("total_words"),
    )
    pandas_agg = base.groupBy("lang").agg(
        median_long(F.col("n_chars")).alias("median_chars")
    )
    return native.join(F.broadcast(pandas_agg), "lang")


PANDAS_UDF_ORACLE = """
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(len(string_split(trim(text), ' '))) AS BIGINT) AS total_words,
       CAST(median(CAST(n_chars AS BIGINT)) AS DOUBLE) AS median_chars
FROM documents
GROUP BY lang
"""


RESHAPE_QUERIES = [
    ("unpivot_doc_metrics", unpivot_doc_metrics, UNPIVOT_ORACLE,
     "wide->long melt via the DataFrame unpivot operator (zero shuffle)"),
    ("cogroup_user_purchase_gap", cogroup_user_purchase_gap, COGROUP_ORACLE,
     "two-sided per-key pairing via cogroup(...).applyInArrow"),
    ("pandas_udf_doc_stats", pandas_udf_doc_stats, PANDAS_UDF_ORACLE,
     "scalar + grouped-agg @pandas_udf on one pipeline"),
]
