"""Streaming CDC snapshot maintenance: an insert/update/delete
changelog stream upserted into a versioned snapshot, micro-batch by
micro-batch.

The reference's sink updates are online row-level SQL statements
(etl2.py:371-380). The lake-side shape is *incremental changelog
compaction*: each micro-batch of changes is merged into the stored
compacted state with ``operators/cdc.apply_changelog`` — per-batch cost
is one PK-keyed window over (stored state ∪ batch), and sequence order
(not arrival order) decides winners, so late and replayed deliveries
are harmless.

Two state subtleties the batch operator alone doesn't cover:

- **Tombstones are state.** The stored form keeps delete winners
  (``keep_tombstones=True``): a tombstone at seq s must outlive the
  batch that delivered it, or a straggler change with a lower sequence
  in a LATER batch would resurrect the key. ``snapshot()`` filters
  tombstones at read time.
- **Redelivery + checkpoint identity.** foreachBatch is at-least-once:
  batch ids at or below the committed watermark are no-ops, and the
  watermark is tokened to the streaming checkpoint's IDENTITY
  (``versioned.checkpoint_identity``) so a recreated checkpoint fails
  loudly instead of silently absorbing real batches as "redelivery".

Storage is the versioned-state protocol (``streaming/versioned.py``):
each merge writes ``state_v{n}`` then atomically swaps a ``_CURRENT``
pointer, so readers never observe a half-written snapshot and a restart
resumes from the committed version.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from _data_engineering_pipeline_project_spark.operators.cdc import (
    apply_changelog,
)
from _data_engineering_pipeline_project_spark.streaming.versioned import (
    VersionedDirs,
)


class CdcSnapshotMaintainer(VersionedDirs):
    """Maintain the compacted state of a CDC changelog across
    micro-batches; ``snapshot()`` is the live (tombstone-free) view."""

    _KIND = "CDC snapshot"

    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        key_cols: list[str],
        seq_cols: list[str],
        op_col: str = "op",
        delete_op: str = "D",
    ):
        self.key_cols = key_cols
        self.seq_cols = seq_cols
        self.op_col = op_col
        self.delete_op = delete_op
        self._open(spark, base_dir)

    def current_state(self) -> DataFrame | None:
        """Compacted state INCLUDING tombstones (the merge input)."""
        return self.current()

    def snapshot(self) -> DataFrame:
        """The live table: latest winner per key, deletes excluded."""
        cur = self.current_state()
        if cur is None:
            raise ValueError("no batches merged yet")
        return cur.filter(F.col(self.op_col) != self.delete_op)

    # -- merge -----------------------------------------------------------
    def merge_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch hook: compact (stored state ∪ batch) by
        (key, seq) — one window keyed on the PK; the stored side is the
        compacted state (one row per live-or-tombstoned key), not the
        history."""
        if self._already_merged(batch_id):
            return
        cur = self.current_state()
        allc = batch_df if cur is None else cur.unionByName(batch_df)
        merged = apply_changelog(
            allc,
            self.key_cols,
            self.seq_cols,
            self.op_col,
            self.delete_op,
            keep_tombstones=True,
        )
        self._advance(merged, batch_id)
