"""Named-table catalog over a data directory.

The reference's fundamental abstraction is ``dict[str, pd.DataFrame]``
built by an eager CSV-folder scan (reference project/etl2.py:26-58). The
engine's equivalent is a lazy catalog of Spark DataFrames, registered as
temp views so every operator is available to both the DataFrame API and
``spark.sql``. Nothing materializes until an action.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from _data_engineering_pipeline_project_spark import memo

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_dir(
    spark: SparkSession,
    data_dir: str,
    tables: tuple[str, ...] = TPCH_TABLES,
    register_views: bool = False,
) -> dict[str, DataFrame]:
    """Load every ``{table}.parquet`` under ``data_dir`` lazily.

    Parquet scans give Catalyst column pruning + predicate/partition
    pushdown for free — every downstream filter/projection reaches the
    scan (check via ``df.explain``: PushedFilters / ReadSchema).
    """
    out: dict[str, DataFrame] = {}
    for name in tables:
        path = os.path.join(data_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        df = table(spark, data_dir, name)
        if register_views:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out


# columns stored as parquet TIMESTAMP(NANOS) — Spark has no nanos type, so
# they are read as long (legacy conf) and truncated to micros, matching
# DuckDB's nanos→micros truncation.
_NANOS_TS_COLS = {"events": ("ts",)}


def _mtime_key(path: str) -> float:
    """Directory mtime PLUS the max top-level child mtime (ADVICE r13:
    an in-place rewrite of an existing part file keeps its filename and
    does not bump the parent dir's mtime — unreachable via Spark
    writers, but a foreign tool could; the child scan closes it for a
    fraction of the listing cost the memo saves)."""
    m = os.path.getmtime(path)
    if os.path.isdir(path):
        with os.scandir(path) as it:
            for e in it:
                try:
                    m = max(m, e.stat().st_mtime)
                except OSError:
                    pass
    return m


# plan memo, NOT a data cache (r13 optimization): `spark.read.parquet`
# re-lists the path and re-reads parquet footers for schema inference on
# EVERY call (~75 ms measured) — ~200+ calls per bench run, all over the
# same immutable inputs. Memoizing the LAZY DataFrame (in the session
# memo, memo.py) reuses the resolved file index + schema the way a
# catalog table's metastore entry does (guide §6 endorses file-listing
# caches); every action still scans the parquet files from disk — no
# rows are cached anywhere. The key carries the path's mtime, so an
# in-session overwrite (which writes new files and bumps the directory
# mtime) misses the memo and re-resolves.
def table(spark: SparkSession, data_dir: str, name: str) -> DataFrame:
    path = os.path.join(data_dir, f"{name}.parquet")
    # engine invariant: timestamp semantics are UTC (oracle parity) — the
    # caller's session may not have set it (e.g. the driver's bare session)
    if spark.conf.get("spark.sql.session.timeZone") not in ("UTC", "Etc/UTC"):
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    nanos_cols = _NANOS_TS_COLS.get(name, ())
    if nanos_cols:
        # runtime-settable; harmless for non-nanos files
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def build() -> DataFrame:
        df = spark.read.parquet(path)
        for c in nanos_cols:
            if isinstance(df.schema[c].dataType, T.LongType):
                # integer div — float division loses precision at 1e18 nanos
                df = df.withColumn(
                    c, F.timestamp_micros(F.expr(f"{c} div 1000"))
                )
        return df

    return memo.get(
        spark, lambda: ("table", os.path.abspath(path), _mtime_key(path)), build
    )
