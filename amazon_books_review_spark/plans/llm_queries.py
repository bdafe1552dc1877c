"""LLM-corpus pipeline queries, round 6 additions.

Nine operators a 100 TB training-data pipeline runs between raw
corpus and tokenizer, each with an exact DuckDB oracle:

* ``dedup_cluster_canonical`` — collapse near-dup clusters to one
  representative per cluster (the step AFTER pair finding / connected
  components: the pipeline keeps one doc and drops the rest).
* ``doc_chunk_windows`` — overlapping token-window chunking (context-
  window preparation), pure Catalyst ``sequence``/``slice``/``explode``.
* ``doc_chunk_windows_udtf`` — the same semantics through a Python
  UDTF (Spark 4 table function, LATERAL-applied, Arrow-batched): API
  coverage for the extension point; the native form above is the
  scale path.
* ``quality_weighted_sample`` — deterministic probability-
  proportional-to-length sampling by hash threshold (the downsampling
  shape used for over-represented sources; reproducible under
  re-partitioning, so a re-run drops the SAME docs).
* ``variant_props_extract`` — semi-structured ingestion through the
  Spark 4 VARIANT type (``parse_json`` → ``variant_get``): the open-
  schema path for event payloads, vs the string-op
  ``json_extract_props``.
* ``lateral_top_order_per_customer`` — correlated LATERAL subquery
  (Catalyst decorrelates to an aggregate + join; no per-row rescan).
* ``embedding_quantize_int8`` — symmetric per-vector int8
  quantization with reconstruction-error audit (what an embedding
  store ships to serving; 4x size cut decided by this error column).
* ``dedup_segments_corpus`` — corpus-wide exact duplicate-span
  removal at fixed token-segment granularity (the segment-level
  approximation of suffix-array substring dedup, Lee et al. 2022):
  every repeated 16-token segment keeps only its first occurrence
  and documents are reassembled without the dropped spans.
* ``boilerplate_segment_removal`` — the C4 boilerplate rule on the
  same scaffold: segments appearing in >2 distinct documents are
  dropped from ALL of them (first-occurrence included).

Scale notes are on each function; none of these shuffle more than one
exchange beyond what the semantics require.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from amazon_books_review_spark.functions import dedup, sampling
from amazon_books_review_spark.plans.northstar_queries import (
    BANDS,
    JACCARD_THRESHOLD,
    N_HASHES,
    NGRAM_N,
    _dedup_clusters_oracle,
)
from amazon_books_review_spark.sources.io import load_table

# ---------------------------------------------------------------------------
# Near-dup cluster canonicalization
# ---------------------------------------------------------------------------


def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One representative per near-dup cluster: keep the longest text
    (``n_chars``), tie-break lowest ``doc_id`` — the deterministic
    keep-rule production dedup uses so re-runs keep the same docs.

    Plan shape: the pair list is LSH-band-bounded (linear), connected
    components is O(component diameter) label-prop rounds (shallow
    near-dup clusters converge in a handful), and the keep decision is
    one window over ``cluster_id`` — clusters are tiny (bounded by
    collision neighborhoods), so the window partition never skews.
    Unclustered docs pass through as their own canonical
    (``coalesce(cluster_id, doc_id)`` — a cluster id is the min member
    id, so a singleton's own id can never collide with another
    cluster's id).
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.lsh_verified_pairs(
        docs, "doc_id", "text",
        n=NGRAM_N, n_hashes=N_HASHES, bands=BANDS, threshold=JACCARD_THRESHOLD,
    )
    clusters = dedup.connected_components(pairs).select(
        F.col("node").alias("doc_id"), "cluster_id"
    )
    member = (
        docs.select("doc_id", "n_chars")
        .join(clusters, "doc_id", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", "doc_id"))
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return member.select(
        "doc_id",
        "cluster_id",
        "n_chars",
        F.count(F.lit(1)).over(Window.partitionBy("cluster_id")).alias("n_members"),
        (F.row_number().over(w) == 1).cast("int").alias("keep_flag"),
    )


def _cluster_canonical_oracle() -> str:
    clusters = _dedup_clusters_oracle().strip()
    return f"""
WITH clusters AS (
{clusters}
), member AS (
    SELECT d.doc_id,
           COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
           d.n_chars
    FROM documents d LEFT JOIN clusters c USING (doc_id)
)
SELECT doc_id, cluster_id, n_chars,
       count(*) OVER (PARTITION BY cluster_id) AS n_members,
       CAST(CASE WHEN row_number() OVER (
                PARTITION BY cluster_id
                ORDER BY n_chars DESC, doc_id ASC) = 1
            THEN 1 ELSE 0 END AS INTEGER) AS keep_flag
FROM member
"""


# ---------------------------------------------------------------------------
# Overlapping token-window chunking
# ---------------------------------------------------------------------------

CHUNK_TOKENS = 64
CHUNK_STRIDE = 48


def doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window preparation: split each document into
    ``CHUNK_TOKENS``-token windows advancing by ``CHUNK_STRIDE``
    (16-token overlap), the standard pre-tokenizer chunking for
    embedding/retrieval corpora.

    Pure Catalyst — ``sequence`` builds the start offsets, ``explode``
    fans out, ``slice``/``array_join`` cut the window — so the whole
    operator is one codegen'd map stage: no shuffle, no UDF, linear in
    corpus bytes.  Chunk count per doc = 1 + ceil(max(n - chunk, 0) /
    stride); the final window is allowed to be short rather than
    re-reading tail tokens twice.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), " ")
    n = F.size(toks)
    k_max = F.greatest(
        F.floor((n - F.lit(CHUNK_TOKENS) + F.lit(CHUNK_STRIDE - 1)) / CHUNK_STRIDE),
        F.lit(0),
    ).cast("int")
    return (
        docs.select(
            "doc_id",
            toks.alias("toks"),
            n.alias("n_tokens"),
            F.explode(F.sequence(F.lit(0), k_max)).alias("chunk_id"),
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            (F.col("chunk_id") * CHUNK_STRIDE).cast("long").alias("chunk_start"),
            F.least(
                F.lit(CHUNK_TOKENS),
                F.col("n_tokens") - F.col("chunk_id") * CHUNK_STRIDE,
            ).cast("long").alias("n_chunk_tokens"),
            F.array_join(
                F.slice(
                    F.col("toks"),
                    F.col("chunk_id") * CHUNK_STRIDE + 1,
                    F.lit(CHUNK_TOKENS),
                ),
                " ",
            ).alias("chunk_text"),
        )
    )


CHUNK_ORACLE = f"""
WITH docs AS (
    SELECT doc_id, string_split(trim(text), ' ') AS words FROM documents
), spans AS (
    SELECT doc_id, len(words) AS n_tokens, words,
           unnest(range(0, greatest(
               (len(words) - {CHUNK_TOKENS} + {CHUNK_STRIDE - 1}) // {CHUNK_STRIDE},
               0) + 1)) AS chunk_id
    FROM docs
)
SELECT doc_id,
       CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(chunk_id * {CHUNK_STRIDE} AS BIGINT) AS chunk_start,
       CAST(least({CHUNK_TOKENS}, n_tokens - chunk_id * {CHUNK_STRIDE}) AS BIGINT)
           AS n_chunk_tokens,
       array_to_string(
           words[chunk_id * {CHUNK_STRIDE} + 1 : chunk_id * {CHUNK_STRIDE} + {CHUNK_TOKENS}],
           ' ') AS chunk_text
FROM spans
"""


def doc_chunk_windows_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same chunking through a Python user-defined table function
    (Spark 4 ``udtf``): one input row fans out to N output rows via
    LATERAL application.

    This exists as API coverage for the extension point — semantics
    identical to :func:`doc_chunk_windows` (shared oracle).  The UDTF
    runs Arrow-batched but still crosses the Python boundary per row
    batch; at 100 TB the native ``sequence``/``explode`` form is the
    right plan, and a UDTF is reserved for logic Catalyst genuinely
    cannot express (stateful parsers, external library calls).
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType=(
        "doc_id bigint, chunk_id bigint, chunk_start bigint, "
        "n_chunk_tokens bigint, chunk_text string"
    ))
    class ChunkWindows:
        def eval(self, doc_id, text):  # noqa: ANN001 - UDTF signature
            words = (text or "").strip().split(" ")
            n = len(words)
            k_max = max(
                -(-(n - CHUNK_TOKENS) // CHUNK_STRIDE) if n > CHUNK_TOKENS else 0, 0
            )
            for i in range(k_max + 1):
                start = i * CHUNK_STRIDE
                window = words[start:start + CHUNK_TOKENS]
                yield (doc_id, i, start, min(CHUNK_TOKENS, n - start),
                       " ".join(window))

    spark.udtf.register("abr_chunk_windows", ChunkWindows)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "abr_chunk_src"
    )
    return spark.sql(
        "SELECT c.* FROM abr_chunk_src t, "
        "LATERAL abr_chunk_windows(t.doc_id, t.text) c"
    )


# ---------------------------------------------------------------------------
# Probability-proportional-to-size sampling
# ---------------------------------------------------------------------------

QSAMPLE_BUCKETS = 10_000
QSAMPLE_CHAR_CAP = 256
QSAMPLE_PER_CHAR = 39  # max threshold 256 * 39 = 9984 < 10000


def quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling: P(keep) grows with document
    length (``min(n_chars, 256) * 39`` out of 10 000 hash buckets) —
    the downsampling move for over-represented short/boilerplate docs.

    Hash-threshold instead of ``rand()`` so the decision is a pure
    function of ``doc_id``: stable under re-partitioning, incremental
    re-runs, and engine changes — at 100 TB the sample must not churn
    when a shard is re-processed.  One codegen'd filter, no shuffle.
    """
    docs = load_table(spark, sf_dir, "documents")
    bucket = sampling.hash_bucket(F.col("doc_id"), "qsample", QSAMPLE_BUCKETS)
    threshold = F.least(F.col("n_chars"), F.lit(QSAMPLE_CHAR_CAP)) * QSAMPLE_PER_CHAR
    return (
        docs.select(
            "doc_id",
            "n_chars",
            bucket.alias("bucket"),
            threshold.cast("long").alias("threshold"),
        )
        .filter(F.col("bucket") < F.col("threshold"))
    )


def _qsample_oracle() -> str:
    # hash_bucket twin (see traindata_queries._shard_oracle): first 7
    # md5 hex chars as an int via digit arithmetic, mod 10000.
    digit = lambda i: f"(strpos('0123456789abcdef', substr(h, {i}, 1)) - 1)"  # noqa: E731
    val = digit(1)
    for i in range(2, 8):
        val = f"({val} * 16 + {digit(i)})"
    return f"""
WITH k AS (
    SELECT doc_id, n_chars,
           md5('qsample|' || CAST(doc_id AS VARCHAR)) AS h
    FROM documents
), b AS (
    SELECT doc_id, n_chars,
           ({val}) % {QSAMPLE_BUCKETS} AS bucket,
           least(n_chars, {QSAMPLE_CHAR_CAP}) * {QSAMPLE_PER_CHAR} AS threshold
    FROM k
)
SELECT doc_id, n_chars, CAST(bucket AS BIGINT) AS bucket,
       CAST(threshold AS BIGINT) AS threshold
FROM b WHERE bucket < threshold
"""


# ---------------------------------------------------------------------------
# VARIANT ingestion (Spark 4 open-schema path)
# ---------------------------------------------------------------------------


def variant_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event payloads through the VARIANT type: ``parse_json`` once
    into the binary variant encoding, then typed ``variant_get``
    extraction — the Spark 4 semi-structured path (vs
    ``json_extract_props``'s per-path string re-parse).

    At 100 TB the variant column is parsed once at ingest and every
    downstream extraction is a cheap binary probe with shredding-
    friendly storage; rolled up here per event_type so the oracle
    compares a small frame.
    """
    events = load_table(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json(F.col("props")), "$.k", "long")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("k_sum"),
            F.max("k").alias("k_max"),
        )
    )


VARIANT_ORACLE = """
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
           AS k_sum,
       CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
           AS k_max
FROM events
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Correlated LATERAL subquery
# ---------------------------------------------------------------------------


def lateral_top_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each BUILDING-segment customer's highest-value order via a
    correlated LATERAL subquery — the SQL surface for per-row
    dependent computation.

    Catalyst decorrelates this into an aggregate over orders plus one
    equi-join (``.explain`` shows no per-row rescan), so the plan is
    the same two-shuffle shape as a hand-written groupBy+join — the
    point is that the *declarative* form survives at scale.  Ties on
    price break to the highest orderkey (second LATERAL level).
    """
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("abr_lat_cust")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("abr_lat_ord")
    return spark.sql("""
        SELECT c.c_custkey, c.c_name, s2.top_orderkey, s1.top_price
        FROM abr_lat_cust c,
             LATERAL (
                 SELECT max(o_totalprice) AS top_price
                 FROM abr_lat_ord WHERE o_custkey = c.c_custkey
             ) s1,
             LATERAL (
                 SELECT max(o_orderkey) AS top_orderkey
                 FROM abr_lat_ord
                 WHERE o_custkey = c.c_custkey
                   AND o_totalprice = s1.top_price
             ) s2
        WHERE c.c_mktsegment = 'BUILDING' AND s1.top_price IS NOT NULL
    """)


LATERAL_ORACLE = """
SELECT c.c_custkey, c.c_name, s2.top_orderkey, s1.top_price
FROM customer c,
     LATERAL (
         SELECT max(o_totalprice) AS top_price
         FROM orders WHERE o_custkey = c.c_custkey
     ) s1,
     LATERAL (
         SELECT max(o_orderkey) AS top_orderkey
         FROM orders
         WHERE o_custkey = c.c_custkey AND o_totalprice = s1.top_price
     ) s2
WHERE c.c_mktsegment = 'BUILDING' AND s1.top_price IS NOT NULL
"""


# ---------------------------------------------------------------------------
# Embedding int8 quantization
# ---------------------------------------------------------------------------

QUANT_LEVELS = 127


def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization audit: scale =
    max|x|/127, q_i = round(x_i/scale) clamped to [-127, 127], and the
    max reconstruction error after dequantization — the number that
    decides whether the 4x-smaller representation ships.

    All-expression (transform/aggregate lambdas stay JVM-side): one
    linear pass, no shuffle, no Python.  Rounding is floor(x + 0.5)
    — "half up" — which both engines compute identically on doubles
    (plain ``round()`` half-breaking differs between engines).
    Zero vectors get scale clamped to 1e-12/127 rather than NaN.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    max_abs = F.array_max(F.transform(e, F.abs))
    scale = F.greatest(max_abs, F.lit(1e-12)) / QUANT_LEVELS
    q = F.transform(
        e,
        lambda x: F.greatest(
            F.least(F.floor(x / scale + 0.5), F.lit(float(QUANT_LEVELS))),
            F.lit(float(-QUANT_LEVELS)),
        ).cast("long"),
    )
    err = F.array_max(
        F.zip_with(q, e, lambda qi, xi: F.abs(qi * scale - xi))
    )
    return emb.select(
        "vec_id",
        F.size("embedding").cast("long").alias("n_dims"),
        F.round(scale, 9).alias("scale"),
        F.aggregate(q, F.lit(0).cast("long"), lambda acc, x: acc + x).alias("q_sum"),
        F.round(err, 9).alias("max_abs_err"),
    )


QUANT_ORACLE = f"""
WITH v AS (
    SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), s AS (
    SELECT vec_id, e,
           greatest(list_max(list_transform(e, x -> abs(x))), 1e-12)
               / {QUANT_LEVELS} AS scale
    FROM v
), q AS (
    SELECT vec_id, e, scale,
           list_transform(e, x -> CAST(greatest(least(
               floor(x / scale + 0.5), {QUANT_LEVELS}),
               -{QUANT_LEVELS}) AS BIGINT)) AS qv
    FROM s
)
SELECT vec_id,
       CAST(len(e) AS BIGINT) AS n_dims,
       round(scale, 9) AS scale,
       CAST(list_sum(qv) AS BIGINT) AS q_sum,
       round(list_max(list_transform(range(1, len(e) + 1),
             i -> abs(qv[i] * scale - e[i]))), 9) AS max_abs_err
FROM q
"""


# ---------------------------------------------------------------------------
# Corpus-wide exact segment dedup (duplicate-span removal)
# ---------------------------------------------------------------------------

SEG_TOKENS = 16


def dedup_segments_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate-span removal across the WHOLE corpus: split
    every document into fixed ``SEG_TOKENS``-token segments, keep only
    the globally FIRST occurrence of each distinct segment (order =
    lowest ``(doc_id, position)``), and reassemble each document from
    its surviving segments.  This is the segment-granularity
    approximation of suffix-array exact-substring dedup ("Deduplicating
    Training Data Makes Language Models Better", Lee et al. 2022) —
    the corpus-level cousin of C4's duplicated-line drop, for corpora
    whose documents aren't line-structured.

    Plan shape: one shuffle keyed on the segment text (a window
    ranks occurrences; first wins), one shuffle on ``doc_id`` to
    reassemble — both linear in corpus tokens.  A window (not
    groupBy-min + join) keeps it at two exchanges; the trade is no
    map-side combine, which only pays off when duplication is heavy.
    A pathological boilerplate segment makes one hot window partition
    — at 100 TB pre-filter such segments with the heavy-hitters
    sketch (``heavy_hitters_mg``) before ranking.

    Determinism: the keep-set depends only on (segment text, doc_id,
    position) — re-runs and re-partitionings drop the same spans.
    """
    segs = _doc_segments(load_table(spark, sf_dir, "documents"))
    w = Window.partitionBy("seg").orderBy("doc_id", "k")
    marked = segs.select(
        "doc_id", "k", "seg", (F.row_number().over(w) == 1).alias("kept")
    )
    return _reassemble_docs(marked)


def _doc_segments(docs: DataFrame) -> DataFrame:
    """(doc_id, k, seg): fixed SEG_TOKENS-token segments per document
    (final segment may be short) — the shared scaffold for both
    segment-level dedup rules."""
    toks = F.split(F.trim(F.col("text")), " ")
    n_segs = F.ceil(F.size(toks) / F.lit(SEG_TOKENS)).cast("int")
    return docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), n_segs - 1)).alias("k"),
        toks.alias("toks"),
    ).select(
        "doc_id",
        "k",
        F.array_join(
            F.slice(F.col("toks"), F.col("k") * SEG_TOKENS + 1, SEG_TOKENS),
            " ",
        ).alias("seg"),
    )


def _reassemble_docs(marked: DataFrame) -> DataFrame:
    """Rebuild each document from its kept segments, in order, with
    keep accounting.  ``collect_list`` skips the NULLs the ``when``
    produces for dropped segments; ``array_sort`` on (k, seg) structs
    restores segment order."""
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_segs"),
        F.sum(F.col("kept").cast("long")).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(F.col("kept"), F.struct("k", "seg")))
                ),
                lambda x: x["seg"],
            ),
            " ",
        ).alias("dedup_text"),
    )


#: C4's boilerplate rule operates on occurrences in DISTINCT documents:
#: a span seen in more than BOILERPLATE_MAX_DOCS documents is dropped
#: from every document (C4 used three-sentence spans / 3 docs).
BOILERPLATE_MAX_DOCS = 2


def boilerplate_segment_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C4 boilerplate rule at segment granularity: any
    ``SEG_TOKENS``-token segment appearing in MORE THAN
    ``BOILERPLATE_MAX_DOCS`` distinct documents is removed from ALL
    of them (headers, footers, license blocks — text whose frequency
    itself proves it carries no document-specific signal).  Contrast
    with :func:`dedup_segments_corpus`, which keeps the first
    occurrence; real pipelines run the boilerplate drop first, then
    first-occurrence dedup on what remains.

    Plan shape: groupBy(seg) counting distinct docs (map-side partial
    aggregation — boilerplate is by definition high-frequency, so the
    partial pass collapses exactly the hot keys), join back on seg
    (reuses the agg's hash partitioning on one side), reassemble on
    doc_id.  Linear in corpus tokens; the doc-frequency table is
    bounded by distinct-segment count.
    """
    segs = _doc_segments(load_table(spark, sf_dir, "documents"))
    doc_freq = segs.groupBy("seg").agg(
        F.count_distinct("doc_id").alias("n_docs")
    )
    marked = segs.join(doc_freq, "seg").select(
        "doc_id",
        "k",
        "seg",
        (F.col("n_docs") <= BOILERPLATE_MAX_DOCS).alias("kept"),
    )
    return _reassemble_docs(marked)


BOILERPLATE_ORACLE = f"""
WITH t AS (
    SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents
), segs AS (
    SELECT doc_id, CAST(u.k AS BIGINT) AS k,
           array_to_string(
               list_slice(toks, u.k * {SEG_TOKENS} + 1,
                          u.k * {SEG_TOKENS} + {SEG_TOKENS}), ' ') AS seg
    FROM t, unnest(range(CAST(ceil(len(toks) / {SEG_TOKENS}.0) AS BIGINT)))
         AS u(k)
), freq AS (
    SELECT seg, count(DISTINCT doc_id) AS n_docs FROM segs GROUP BY seg
), marked AS (
    SELECT s.doc_id, s.k, s.seg,
           f.n_docs <= {BOILERPLATE_MAX_DOCS} AS kept
    FROM segs s JOIN freq f USING (seg)
)
SELECT doc_id,
       count(*) AS n_segs,
       CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       COALESCE(string_agg(seg, ' ' ORDER BY k) FILTER (WHERE kept), '')
           AS dedup_text
FROM marked GROUP BY doc_id
"""


SEG_DEDUP_ORACLE = f"""
WITH t AS (
    SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents
), segs AS (
    SELECT doc_id, CAST(u.k AS BIGINT) AS k,
           array_to_string(
               list_slice(toks, u.k * {SEG_TOKENS} + 1,
                          u.k * {SEG_TOKENS} + {SEG_TOKENS}), ' ') AS seg
    FROM t, unnest(range(CAST(ceil(len(toks) / {SEG_TOKENS}.0) AS BIGINT)))
         AS u(k)
), marked AS (
    SELECT doc_id, k, seg,
           row_number() OVER (PARTITION BY seg ORDER BY doc_id, k) = 1 AS kept
    FROM segs
)
SELECT doc_id,
       count(*) AS n_segs,
       CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       COALESCE(string_agg(seg, ' ' ORDER BY k) FILTER (WHERE kept), '')
           AS dedup_text
FROM marked GROUP BY doc_id
"""


LLM_QUERIES = [
    ("dedup_cluster_canonical", dedup_cluster_canonical,
     _cluster_canonical_oracle(),
     "near-dup cluster canonicalization: keep longest text per cluster"),
    ("doc_chunk_windows", doc_chunk_windows, CHUNK_ORACLE,
     "overlapping token-window chunking via sequence/slice/explode"),
    ("doc_chunk_windows_udtf", doc_chunk_windows_udtf, CHUNK_ORACLE,
     "same chunking through a Python UDTF (LATERAL table function)"),
    ("quality_weighted_sample", quality_weighted_sample, _qsample_oracle(),
     "deterministic length-weighted hash-threshold sampling"),
    ("variant_props_extract", variant_props_extract, VARIANT_ORACLE,
     "VARIANT parse_json/variant_get ingestion rolled up per event_type"),
    ("lateral_top_order_per_customer", lateral_top_order_per_customer,
     LATERAL_ORACLE,
     "correlated LATERAL subquery, decorrelated by Catalyst"),
    ("embedding_quantize_int8", embedding_quantize_int8, QUANT_ORACLE,
     "symmetric int8 quantization with reconstruction-error audit"),
    ("dedup_segments_corpus", dedup_segments_corpus, SEG_DEDUP_ORACLE,
     "corpus-wide exact duplicate-span removal at token-segment granularity"),
    ("boilerplate_segment_removal", boilerplate_segment_removal,
     BOILERPLATE_ORACLE,
     "C4 boilerplate rule: drop segments seen in >2 distinct docs everywhere"),
]
