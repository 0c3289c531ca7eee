"""Checkpoint strategy and maintained-state read helpers.

``localCheckpoint(eager=True)`` is the engine's default way to pin a
materialized frame into the plan (truncating lineage and surviving
``clearCache()``), but its blocks live UNREPLICATED on executors: on a
real cluster, losing one executor makes every later consumer of the
pinned frame fail hard for the rest of the session (ADVICE r7 #2 — the
trade the memo caches and iterative loops were silently making).

``pinned_checkpoint`` upgrades to a RELIABLE checkpoint whenever the
deployment has opted in by setting a checkpoint dir
(``spark.sparkContext.setCheckpointDir(...)`` — on a cluster that is a
DFS path, exactly the GraphX/Pregel discipline), and falls back to
``localCheckpoint`` otherwise (the right call on local[\\*], where the
"cluster" cannot lose an executor without losing the JVM, and writing
checkpoint files would only add I/O). Cluster runbooks should set the
dir; everything that pins frames then becomes executor-loss-safe with
no code change.

``read_pinned`` reads a maintainer's or SCD2 table's committed parquet
dirs with the schema the owner wrote them with, so building a state
read launches no schema-inference job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def pinned_checkpoint(df: DataFrame) -> DataFrame:
    """Eagerly materialize ``df`` with lineage truncation: reliable
    ``checkpoint`` when a checkpoint dir is configured, else
    ``localCheckpoint``."""
    sc = df.sparkSession.sparkContext
    try:
        has_dir = sc._jsc.sc().getCheckpointDir().isDefined()
    except Exception:
        has_dir = False
    if has_dir:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def read_pinned(spark, paths: list[str], schemas: dict, key: str) -> DataFrame:
    """Read maintained-state parquet dirs with the schema they were
    written with. ``schemas`` is the owner's per-relation schema memo:
    a known schema skips the one-task footer-inference job (and its
    scheduling round-trip) every bare ``spark.read.parquet`` pays; an
    unknown one (an owner just reopened from its pointer) is inferred
    once and remembered."""
    schema = schemas.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(*paths)
    df = spark.read.parquet(*paths)
    schemas[key] = df.schema
    return df
