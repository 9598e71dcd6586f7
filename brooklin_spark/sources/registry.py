"""Source registry: connector name → builder(spark, spec) → DataFrame.

The Spark analog of the reference's ConnectorFactory wiring
(DatastreamServer.java connector bootstrap): a pipeline spec names its
connector; the builder turns spec.source_uri into a (possibly streaming)
envelope DataFrame.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from brooklin_spark.model import PipelineSpec

SourceBuilder = Callable[[SparkSession, PipelineSpec], DataFrame]

SOURCES: dict[str, SourceBuilder] = {}

#: connector name → post-send position commit. Poll-style connectors that
#: track their own read position (dirwatch's snapshot file) register one;
#: the manager invokes it only AFTER the batch was delivered, so a failed
#: send replays the same diff on the next poll (at-least-once on the
#: source side — ADVICE r2 #2). Streaming connectors rely on Spark's
#: checkpointed offsets instead and register nothing.
SOURCE_COMMITS: dict[str, Callable[[PipelineSpec], None]] = {}


def source(name: str) -> Callable[[SourceBuilder], SourceBuilder]:
    def deco(fn: SourceBuilder) -> SourceBuilder:
        SOURCES[name] = fn
        return fn

    return deco


def source_commit(name: str) -> Callable[[Callable], Callable]:
    def deco(fn: Callable[[PipelineSpec], None]) -> Callable:
        SOURCE_COMMITS[name] = fn
        return fn

    return deco


def commit_source(spec: PipelineSpec) -> None:
    fn = SOURCE_COMMITS.get(spec.connector)
    if fn is not None:
        fn(spec)


def load_sources() -> dict[str, SourceBuilder]:
    """Import every connector module so ``SOURCES`` is complete."""
    from brooklin_spark.sources import (  # noqa: F401
        dirwatch,
        file_source,
        fixtures,
        kafka_source,
        rate_source,
    )

    return SOURCES


def build_source(spark: SparkSession, spec: PipelineSpec) -> DataFrame:
    load_sources()
    if spec.connector not in SOURCES:
        raise ValueError(f"no source builder for connector {spec.connector!r}")
    return SOURCES[spec.connector](spark, spec)
