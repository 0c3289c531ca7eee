"""Incremental materialized-aggregate maintenance.

The reference recomputes everything every 8-minute cycle (reference
project/etl2.py:462-467 re-reads the world and reloads every table). The
scale-correct pattern for a KPI/rollup table over a 100 TB fact stream is
*incremental view maintenance*: aggregate only the NEW micro-batch, then
merge the partial aggregate into the stored rollup. Per-batch cost is
O(batch), not O(history) — the rollup table never rescans the past.

Works because count/sum/min/max are commutative monoids: the merge of two
partial aggregates is expressible column-wise (counts add, sums add, mins
take least, maxes take greatest). avg derives as sum/count at read time.
Non-decomposable aggregates (exact median, distinct count) need either a
sketch (HLL merge — also a monoid) or a full recompute; the engine keeps
those out of the incremental path on purpose.

Storage is the versioned-state protocol (``streaming/versioned.py``): each
merge writes a new versioned parquet directory and then swaps the pointer
(readers never see a half-written rollup); with Delta/Iceberg this
collapses into a ``MERGE INTO`` on one table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from _data_engineering_pipeline_project_spark.streaming.versioned import (
    VersionedDirs,
)


def partial_agg(df: DataFrame, key_cols: list[str], value_col: str) -> DataFrame:
    """One micro-batch's partial aggregate: ``key -> (n, total, vmin, vmax)``."""
    v = F.col(value_col)
    return df.groupBy(*key_cols).agg(
        F.count(v).alias("n"),
        F.sum(v).alias("total"),
        F.min(v).alias("vmin"),
        F.max(v).alias("vmax"),
    )


def merge_rollup(
    part: DataFrame, cur: DataFrame | None, key_cols: list[str]
) -> DataFrame:
    """Monoid-merge a batch partial aggregate into the stored rollup:
    counts/sums add, mins take least, maxes take greatest (least/greatest
    ignore the NULL side a full-outer join produces for keys present in
    only one input). Pure plan — no I/O — so it composes with any storage
    layer and is oracle-checkable."""
    if cur is None:
        return part
    c = cur.select(
        *key_cols,
        F.col("n").alias("_n"),
        F.col("total").alias("_total"),
        F.col("vmin").alias("_vmin"),
        F.col("vmax").alias("_vmax"),
    )
    # zero literal cast to the column's OWN type: an integral sum stays
    # long (exact past 2^53) and the rollup schema never drifts from the
    # batch partial's schema — the monoid identity, not a double
    zero = F.lit(0).cast(part.schema["total"].dataType)
    return part.join(c, key_cols, "full_outer").select(
        *key_cols,
        (F.coalesce("n", F.lit(0)) + F.coalesce("_n", F.lit(0))).alias("n"),
        (F.coalesce("total", zero) + F.coalesce("_total", zero)).alias("total"),
        F.least("vmin", "_vmin").alias("vmin"),
        F.greatest("vmax", "_vmax").alias("vmax"),
    )


class AggMaintainer(VersionedDirs):
    """Maintain ``key_cols -> (n, total, vmin, vmax)`` over ``value_col``
    incrementally across micro-batches.

    Restart-safe: the committed rollup version persists in a ``_CURRENT``
    pointer (``streaming/versioned.py``), so a fresh AggMaintainer over an
    existing ``base_dir`` resumes the rollup instead of silently resetting
    it to the next batch. A lost pointer fails loudly: sums and counts are
    not idempotent under the redelivery that would follow.
    """

    _KIND = "agg rollup"
    _STATE_NAME = "rollup"

    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        key_cols: list[str],
        value_col: str,
    ):
        self.key_cols = key_cols
        self.value_col = value_col
        self._open(spark, base_dir)

    def result(self) -> DataFrame:
        """The maintained rollup with derived columns (avg = sum/count)."""
        cur = self.current()
        if cur is None:
            raise ValueError("no batches merged yet")
        return cur.withColumn("vavg", F.col("total") / F.col("n"))

    def merge_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch hook: aggregate the batch, monoid-merge into the
        stored rollup. One shuffle over the BATCH (not the history); the
        stored side joins by rollup key — at scale the rollup is orders of
        magnitude smaller than the fact history it summarizes.

        foreachBatch is at-least-once: a re-delivered batch id at or
        below the committed watermark is a no-op (sums/counts are not
        idempotent under re-merge)."""
        if self._already_merged(batch_id):
            return
        part = partial_agg(batch_df, self.key_cols, self.value_col)
        merged = merge_rollup(part, self.current(), self.key_cols)
        self._advance(merged, batch_id)
