"""The benchmark's three workloads: which calls each pass makes, in order.

A *call* is one request a user of the engine makes: a build step that
returns a DataFrame (the catalog query function, or the reference
pipeline), then an action that brings the result to the driver as
pandas.  Every call in a workload is checked after the timed passes:
catalog calls against their DuckDB oracle, the streaming pipeline
against the batch pipeline, which runs once for that, untimed
(streaming gold must equal batch gold).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Inputs:
    """Paths handed to the program for one pass."""

    tables: str  # parquet tables the calls read
    books_csv: str
    ratings_csv: str
    out_root: str  # fresh per pass; each pipeline call writes under it


@dataclass(frozen=True)
class Call:
    name: str
    build: Callable[[SparkSession, Inputs], DataFrame]
    oracle: str | None = None  # catalog name whose DuckDB oracle checks it
    # untimed call whose output this call's output must equal
    reference: Call | None = None


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    timed_sf: float
    calls: list[Call] = field(default_factory=list)
    csv_sf: float | None = None  # derive the CSV pair from these tables


def _catalog_call(name: str) -> Call:
    def build(spark: SparkSession, inp: Inputs) -> DataFrame:
        from amazon_books_review_spark.plans.catalog import all_queries

        return all_queries()[name](spark, inp.tables)

    return Call(name, build, oracle=name)


def _pipeline_call(name: str, streaming: bool, reference: Call | None = None) -> Call:
    def build(spark: SparkSession, inp: Inputs) -> DataFrame:
        from amazon_books_review_spark.plans.pipeline import (
            ReferencePipelineConfig,
            run_reference_pipeline,
        )

        cfg = ReferencePipelineConfig(
            books_csv=inp.books_csv,
            ratings_csv=inp.ratings_csv,
            out_root=os.path.join(inp.out_root, name),
            fidelity=True,
        )
        return run_reference_pipeline(spark, cfg, streaming=streaming)["gold"]

    return Call(name, build, reference=reference)


# Each list is a subset of what its workload could run: a run has to
# fit about 60 s on 4 cores (README.md, "Time budget").
CURATION = [
    "label_propagation_communities",
    "pagerank_copurchase",
    "cogroup_user_purchase_gap",
]

STREAMING = ["streaming_windowed_counts"]

TIMED_SF = 0.01
CSV_SF = 0.1
WARMUP_SF = 0.001


def workloads() -> dict[str, Workload]:
    return {
        w.name: w
        for w in (
            Workload(
                "curation_iterative",
                "iterative plans with eager build-phase jobs and an Arrow "
                "cogroup: shows materialization and Python-boundary gains",
                TIMED_SF,
                [_catalog_call(n) for n in CURATION],
            ),
            Workload(
                "medallion_streaming",
                "CSV to gold medallion pipeline in streaming mode plus a "
                "windowed streaming aggregate: the write and micro-batch side",
                TIMED_SF,
                [
                    _pipeline_call(
                        "reference_pipeline_streaming", True,
                        _pipeline_call("reference_pipeline_batch", False),
                    ),
                ]
                + [_catalog_call(n) for n in STREAMING],
                csv_sf=CSV_SF,
            ),
        )
    }
