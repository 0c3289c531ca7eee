"""Incremental sketch maintenance: KMV distinct-count and fixed-range
histogram sketches merged across micro-batches.

AggMaintainer (aggmaint.py) keeps count/sum/min/max rollups incremental
because they are monoids; it deliberately excludes distinct counts,
whose exact form is not decomposable. This module closes that gap with
the KMV sketch (operators/sketches.py): the k smallest distinct hashes
are ALSO a monoid (merge = k smallest of the union), so a distinct-user
rollup over an unbounded stream costs O(batch) per cycle and
O(k · groups) state — never a rescan of history — and, because
k-smallest merging is EXACT, the maintained sketch equals the one-shot
sketch over all data ever seen (pinned in tests: time-mergeability is
the same property as the partition-mergeability the batch operator
pins).

Storage follows the versioned-state protocol (``streaming/versioned.py``);
with Delta/Iceberg this is a MERGE INTO on the state table. A lost
pointer fails loudly: histogram bin counts double under the redelivery
that would follow adoption.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from _data_engineering_pipeline_project_spark.operators.sketches import (
    _HASH_SPACE,
    _hash60,
)
from _data_engineering_pipeline_project_spark.streaming.versioned import (
    VersionedDirs,
)


class KmvMaintainer(VersionedDirs):
    """Maintain a per-group KMV distinct sketch of ``value_col`` across
    micro-batches."""

    _KIND = "KMV sketch"
    _STATE_NAME = "kmv"

    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        group_col: str,
        value_col: str,
        k: int = 64,
    ):
        self.group_col = group_col
        self.value_col = value_col
        self.k = k
        self._open(spark, base_dir)

    # --- sketch maintenance ----------------------------------------------

    def _batch_sketch(self, batch_df: DataFrame) -> DataFrame:
        """One batch's partial sketch: k smallest distinct hashes per
        group — one distinct + one group-keyed window over the BATCH."""
        hashed = batch_df.select(
            F.col(self.group_col).cast("string").alias("g"),
            _hash60(F.col(self.value_col)).alias("h"),
        ).distinct()
        w = Window.partitionBy("g").orderBy("h")
        return (
            hashed.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= self.k)
            .select("g", "h")
        )

    def merge_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch hook: sketch the batch, monoid-merge with the
        stored sketch (k smallest of the union — exact, so batch
        boundaries are invisible in the result)."""
        if self._already_merged(batch_id):
            return
        part = self._batch_sketch(batch_df)
        cur = self.current()
        merged = part if cur is None else part.unionByName(cur).distinct()
        w = Window.partitionBy("g").orderBy("h")
        topk = (
            merged.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= self.k)
            .select("g", "h")
        )
        self._advance(topk, batch_id)

    def estimates(self) -> DataFrame:
        """(group, n_kmv, est_distinct) from the maintained state — the
        same estimator as the batch operator."""
        cur = self.current()
        if cur is None:
            raise ValueError("no batches merged yet")
        return (
            cur.groupBy("g")
            .agg(
                F.count(F.lit(1)).alias("n_kmv"),
                F.round(
                    F.when(
                        F.count(F.lit(1)) < self.k,
                        F.count(F.lit(1)).cast("double"),
                    ).otherwise(
                        (F.lit(self.k - 1) * _HASH_SPACE)
                        / F.max("h").cast("double")
                    ),
                    4,
                ).alias("est_distinct"),
            )
            .select(
                F.col("g").alias(self.group_col), "n_kmv", "est_distinct"
            )
        )


class HistogramMaintainer(VersionedDirs):
    """Maintain per-group fixed-range bin counts across micro-batches;
    quantiles derive at read time.

    Unlike the batch ``binned_quantiles`` (which bins inside the
    observed [min, max] — a range that would SHIFT as new data arrives,
    breaking incremental merges), the maintained histogram fixes
    ``(lo, hi)`` at construction: bin counts then form a plain additive
    monoid in time, the same trade every production histogram metric
    (Prometheus buckets, HDR histograms) makes. Out-of-range values
    clamp into the edge bins, and the estimate degrades gracefully —
    still never a rescan of history.
    """

    _KIND = "histogram"
    _STATE_NAME = "hist"

    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        group_col: str,
        value_col: str,
        lo: float,
        hi: float,
        bins: int = 256,
    ):
        if not hi > lo:
            raise ValueError("hi must exceed lo")
        self.group_col = group_col
        self.value_col = value_col
        self.lo = float(lo)
        self.hi = float(hi)
        self.bins = bins
        self._open(spark, base_dir)

    def _batch_hist(self, batch_df: DataFrame) -> DataFrame:
        width = (self.hi - self.lo) / float(self.bins)
        v = F.col(self.value_col).cast("double")
        bin_ = F.least(
            F.greatest(F.floor((v - F.lit(self.lo)) / F.lit(width)), F.lit(0)),
            F.lit(self.bins - 1),
        ).cast("int")
        return (
            batch_df.filter(v.isNotNull())
            .select(
                F.col(self.group_col).cast("string").alias("g"),
                bin_.alias("bin"),
            )
            .groupBy("g", "bin")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    def merge_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if self._already_merged(batch_id):
            return  # at-least-once redelivery: bin counts must not double
        part = self._batch_hist(batch_df)
        cur = self.current()
        merged = (
            part
            if cur is None
            else part.unionByName(cur)
            .groupBy("g", "bin")
            .agg(F.sum("cnt").alias("cnt"))
        )
        self._advance(merged, batch_id)

    def quantiles(self, probs: tuple = (0.5, 0.9, 0.99)) -> DataFrame:
        """(group, p, quantile_est) from the maintained counts — same
        interpolation as operators.sketches.binned_quantiles, over the
        FIXED [lo, hi] range."""
        cur = self.current()
        if cur is None:
            raise ValueError("no batches merged yet")
        w = Window.partitionBy("g").orderBy("bin").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        cum = cur.withColumn("cum", F.sum("cnt").over(w)).withColumn(
            "cum_below", F.col("cum") - F.col("cnt")
        )
        totals = cur.groupBy("g").agg(F.sum("cnt").alias("n"))
        targets = totals.select(
            "g",
            "n",
            F.explode(F.array(*[F.lit(float(p)) for p in probs])).alias("p"),
        ).withColumn("target", F.col("p") * F.col("n"))
        width = (self.hi - self.lo) / float(self.bins)
        hit = (
            targets.join(cum, "g")
            .filter(F.col("cum") >= F.col("target"))
            .groupBy("g", "p", "target")
            .agg(
                F.min_by(
                    F.struct(F.col("bin"), F.col("cnt"), F.col("cum_below")),
                    F.col("bin"),
                ).alias("b")
            )
        )
        est = F.lit(self.lo) + F.lit(width) * (
            F.col("b.bin")
            + F.greatest(
                (F.col("target") - F.col("b.cum_below").cast("double"))
                / F.col("b.cnt").cast("double"),
                F.lit(0.0),
            )
        )
        return hit.select(
            F.col("g").alias(self.group_col),
            "p",
            F.round(est, 6).alias("quantile_est"),
        )
