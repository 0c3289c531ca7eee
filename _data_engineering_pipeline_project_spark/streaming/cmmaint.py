"""Incremental Count-Min sketch maintenance across micro-batches.

The cells relation (``operators/frequency.py``) is a commutative
monoid under cell-wise addition, so the frequency sketch joins the
maintainer family with the exact template the Bloom filter uses: a
tick costs O(batch keys) hashing plus a merge bounded by the cell
table (≤ depth·width rows — FIXED, unlike the Bloom words table it
never grows past the geometry), and after any number of ticks the
maintained cells equal a one-shot build over the union of all batches
EXACTLY (addition is order-free integer math — pinned by test). The
maintained sketch answers "about how often has this key appeared,
ever?" at O(1)-relation cost while the exact per-key rollup
(``AggMaintainer``) stays reserved for the keys the screen names.

Geometry (width, depth) is frozen at first commit and recorded in the
pointer — merging cells of different geometry is silent garbage, so a
mismatched reopen fails loudly (the BloomMaintainer discipline).
Versioned dirs, pointer and checkpoint guard: ``streaming/versioned.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from _data_engineering_pipeline_project_spark.operators.frequency import (
    cm_build,
    cm_estimate,
    cm_merge,
)
from _data_engineering_pipeline_project_spark.streaming.versioned import (
    VersionedDirs,
)


class CountMinMaintainer(VersionedDirs):
    """Maintain a CM sketch over the FIRST column of each batch,
    versioned under ``base_dir``."""

    _KIND = "count-min"
    _STATE_NAME = "cells"

    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        width: int = 1024,
        depth: int = 3,
    ):
        self.width = int(width)
        self.depth = int(depth)
        self._open(spark, base_dir)

    def _geometry(self) -> dict:
        return {"width": self.width, "depth": self.depth}

    # --- maintenance -----------------------------------------------------------

    def merge_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch hook: sketch the batch's key column, cell-wise
        add into the stored cells, commit the next version. Counts are
        NOT idempotent under re-merge, so the batch-id watermark is
        load-bearing (unlike Bloom's bit_or)."""
        if self._already_merged(batch_id):
            return
        key = F.col(batch_df.columns[0])
        part = cm_build(batch_df, key, self.width, self.depth)
        cur = self.current()
        merged = part if cur is None else cm_merge(part, cur)
        self._advance(merged.coalesce(1), batch_id)

    def estimate(self, df: DataFrame, key: F.Column | str) -> DataFrame:
        """CM estimates for ``df``'s distinct keys against everything
        merged so far (estimate ≥ true count over all accepted
        batches)."""
        cur = self.current()
        if cur is None:
            raise ValueError("no batches merged yet")
        key = F.col(key) if isinstance(key, str) else key
        return cm_estimate(cur, df, key, self.width, self.depth)

    def screen(
        self,
        df: DataFrame,
        key: F.Column | str,
        multiplier: float = 1.2,
    ) -> DataFrame:
        """The operational heavy-hitter composition over the MAINTAINED
        sketch (VERDICT r11 #5 — the streaming form of
        ``cm_heavy_hitter_screen_events``): keys whose CM estimate
        clears ``multiplier``× the mean key frequency of ``df`` are the
        candidate set, and ONLY THEY pay exact verification — the
        source is semi-joined against the broadcast candidate keys
        BEFORE the exact groupBy, so the exact aggregate shuffles the
        candidate sliver, never the key universe (the batch query
        groupBys everything; this is the claimed 100 TB economics made
        literal). Because estimate ≥ exact over everything merged,
        candidates are a guaranteed SUPERSET of ``df``'s true heavy
        hitters whenever the maintained sketch covers ``df`` (pinned
        by test, every tick). Returns the batch screen's exact shape:
        (key, exact_count, cm_estimate, is_heavy)."""
        cur = self.current()
        if cur is None:
            raise ValueError("no batches merged yet")
        key = F.col(key) if isinstance(key, str) else key
        keyed = df.select(key.alias("__k")).filter(F.col("__k").isNotNull())
        stats = keyed.agg(
            F.count(F.lit(1)).alias("__n"),
            F.countDistinct("__k").alias("__kk"),
        )
        thr = F.lit(multiplier) * F.col("__n") / F.col("__kk")
        est = cm_estimate(cur, df, key, self.width, self.depth)
        cand = est.crossJoin(F.broadcast(stats)).filter(
            F.col("cm_estimate") >= thr
        )
        exact = (
            keyed.join(
                F.broadcast(cand.select(F.col("key").alias("__k"))),
                "__k",
                "left_semi",
            )
            .groupBy("__k")
            .agg(F.count(F.lit(1)).alias("exact_count"))
            .withColumnRenamed("__k", "key")
        )
        return cand.join(exact, "key").select(
            "key",
            "exact_count",
            "cm_estimate",
            (F.col("exact_count") >= thr).alias("is_heavy"),
        )
