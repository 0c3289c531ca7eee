"""Incremental corpus deduplication across micro-batches: the streaming
twin of the batch exact-dedup operator (operators/dedup.py).

An ingest pipeline receives document batches continuously; each batch
must be admitted only where its content is NEW versus everything ever
accepted — without rescanning the accepted corpus. The maintained state
is the seen-fingerprint set (one md5 per accepted document); per batch
the work is: fingerprint the batch, keep-first within the batch, one
anti join against the seen set, append the survivors. Cost per cycle is
O(batch) plus one join against state keyed on the fingerprint — at
100 TB the state is a fingerprint-bucketed table and the anti join is
hash-partitioned on fp with no corpus rescan ever.

Durability follows the versioned-state protocol
(``streaming/versioned.py``): state version N+1 and the
batch's accepted-rows subdir are both written BEFORE the pointer moves,
so a crash at any point leaves the previous consistent state visible;
foreachBatch's at-least-once redelivery is absorbed by the recorded
last_batch_id (same batch re-offered → no-op), and a redelivered batch
that crashed mid-write recomputes the identical accepted set (the
decision is a pure function of batch content + committed state) and
overwrites its own subdir idempotently.

Mirrors the reference's incremental-load loop (reference
project/etl2.py:462-467 polls + appends new rows each cycle) lifted to
content-level dedup semantics the reference lacks.
"""

from __future__ import annotations

import glob
import os
import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from _data_engineering_pipeline_project_spark.operators.textstats import (
    fingerprint,
)
from _data_engineering_pipeline_project_spark.streaming.versioned import (
    VersionedDirs,
)


class DedupMaintainer(VersionedDirs):
    """Admit only content-new documents across micro-batches."""

    _KIND = "dedup"
    _STATE_NAME = "seen"
    _ORPHANS = ("seen_v*/_SUCCESS", "accepted/batch_id=*/_SUCCESS")

    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        id_col: str = "doc_id",
        text_col: str = "text",
    ):
        self.id_col = id_col
        self.text_col = text_col
        self.accepted_dir = os.path.join(base_dir, "accepted")
        self._open(spark, base_dir)

    def _adopt_orphans(self, fresh: dict, orphans: list[str]) -> dict:
        """Lost pointer: adopt the highest finished seen_v* state and the
        highest finished accepted batch. Safe because admission is an
        anti join against the seen set: a batch redelivered after
        adoption admits nothing twice (pinned by
        ``tests/test_dedupmaint.py::test_lost_pointer_recovers_from_scan``).
        Without it the next batch would re-admit every previously-seen
        fingerprint AND clobber accepted/batch_id=0 (code-review r3)."""

        def highest(parent: str, prefix: str) -> int | None:
            pat = re.compile(re.escape(prefix) + r"(\d+)$")
            done = glob.glob(
                os.path.join(glob.escape(parent), prefix + "*", "_SUCCESS")
            )
            found = [
                int(m.group(1))
                for p in done
                if (m := pat.match(os.path.basename(os.path.dirname(p))))
            ]
            return max(found, default=None)

        best_v = highest(self.base_dir, "seen_v") or 0
        best_b = highest(self.accepted_dir, "batch_id=")
        # Orphan discrimination (code-review r3 round 2): a crash between
        # the batch-output write and the seen-state write leaves the max
        # accepted/batch_id dir WITHOUT its fingerprints in any seen_v*.
        # Counting it committed would block its redelivery while leaving a
        # hole in the seen set — future identical content would be
        # re-admitted. Invariant of accept_batch: |seen_vN| == total
        # accepted rows when consistent; if the seen set is short, demote
        # the max batch to uncommitted so redelivery recomputes it.
        if best_b is not None:
            if best_v == 0:
                best_b = None
            else:
                seen_n = self.spark.read.parquet(
                    self._state_path(best_v)
                ).count()
                acc_n = (
                    self.spark.read.option("basePath", self.accepted_dir)
                    .parquet(self.accepted_dir)
                    .filter(F.col("batch_id") <= F.lit(best_b))
                    .count()
                )
                if seen_n < acc_n:
                    best_b = best_b - 1 if best_b > 0 else None
        return {**fresh, "version": best_v, "last_batch_id": best_b}

    def seen(self) -> DataFrame | None:
        return self.current()

    # --- batch admission --------------------------------------------------

    def accept_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch hook: admit content-new rows, grow the seen set.

        Within-batch ties keep the smallest id (deterministic regardless
        of partitioning); cross-batch, earlier batches win by
        construction. Output lands in accepted/batch_id=<id>/ with
        overwrite so redelivery is idempotent."""
        if self._already_merged(batch_id):
            return
        fp = batch_df.withColumn("__fp", fingerprint(self.text_col))
        w = Window.partitionBy("__fp").orderBy(self.id_col)
        batch_first = (
            fp.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        cur = self.seen()
        fresh = (
            batch_first
            if cur is None
            else batch_first.join(cur, on="__fp", how="left_anti")
        )
        fresh = fresh.cache()  # written twice: rows out + fps into state
        fresh.drop("__fp").write.mode("overwrite").parquet(
            os.path.join(self.accepted_dir, f"batch_id={batch_id}")
        )
        new_fps = fresh.select("__fp")
        state = new_fps if cur is None else cur.unionByName(new_fps)
        self._advance(state, batch_id)
        fresh.unpersist()

    def accepted(self) -> DataFrame:
        """Everything admitted so far — COMMITTED batches only: a crash
        between the batch-output write and the pointer commit leaves an
        orphan batch_id subdir whose id exceeds the committed
        last_batch_id; the filter makes it invisible until the batch is
        redelivered and properly committed."""
        if self.version == 0:
            raise ValueError("no batches accepted yet")
        df = self.spark.read.option("basePath", self.accepted_dir).parquet(
            self.accepted_dir
        )
        return df.filter(F.col("batch_id") <= F.lit(self._last_batch_id))

    merge_batch = accept_batch  # the protocol's foreachBatch tick
