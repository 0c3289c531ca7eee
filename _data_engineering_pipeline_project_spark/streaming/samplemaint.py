"""Incremental fixed-size uniform sample over an unbounded stream.

The classic answer is reservoir sampling, but a ``rand()`` reservoir is
non-deterministic (replays diverge, no oracle can check it) and its
state update is order-dependent. The bottom-k-by-hash scheme
(``operators/sampling.py:bottom_k_sample``) gives the same statistical
object — a uniform without-replacement sample of everything ever seen
— as a MONOID: bottom-k(A ∪ B) = bottom-k(bottom-k(A) ∪ bottom-k(B)).
So the maintainer's tick is O(batch) hashing plus a merge bounded by
2k rows, state is EXACTLY k rows forever, replays are idempotent
by construction (same keys → same hashes → same sample), and after any
number of ticks the maintained sample is BIT-IDENTICAL to a one-shot
bottom-k over the union of all batches (pinned by test).

This is the streaming form of the KMV idea the distinct-count sketch
(``sketchmaint.py``) already rides — there the k smallest hashes
estimate cardinality; here they carry their ROWS and are the sample.
A 100 TB ingest keeps a live, always-current eval panel at k-row state
cost, with the versioned-state protocol shared by every maintainer in
the family (``streaming/versioned.py``).

NULL keys are dropped (md5 of NULL is NULL — they could never rank).
Duplicate keys: the same key re-arriving replaces nothing (same hash,
same row position; the sort tie-break on the key keeps the sample a
deterministic function of the SET of rows seen).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from _data_engineering_pipeline_project_spark.streaming.versioned import (
    VersionedDirs,
)


class SampleMaintainer(VersionedDirs):
    """Maintain the bottom-``k``-by-``md5(key_col)`` rows of everything
    merged so far, versioned under ``base_dir``.

    ``group_col`` (r12): maintain the STRATIFIED panel instead — the
    bottom-k WITHIN each group (k docs per language, k events per
    type). Per-group bottom-k is the same monoid per stratum, so every
    property transfers: O(batch) ticks, merge bounded by 2k rows per
    group seen, N ticks == one-shot over the union (pinned by test),
    state exactly ≤ k rows per group forever. New groups simply start
    their own k-row heap on first appearance — the balanced eval panel
    stays balanced as the group universe grows."""

    _KIND = "sample"
    _STATE_NAME = "sample"

    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        key_col: str,
        k: int = 64,
        group_col: str | None = None,
    ):
        if k < 1:
            raise ValueError("k must be >= 1")
        self.key_col = key_col
        self.k = int(k)
        self.group_col = group_col
        self._open(spark, base_dir)

    def _geometry(self) -> dict:
        # a different key changes every hash, a different k or
        # stratification changes the sample contract
        return {
            "key_col": self.key_col,
            "k": self.k,
            "group_col": self.group_col,
        }

    # --- maintenance ----------------------------------------------------

    def _bottom_k(self, df: DataFrame) -> DataFrame:
        from _data_engineering_pipeline_project_spark.operators.sampling import (
            bottom_k_per_group,
            bottom_k_sample,
        )

        keyed = df.filter(F.col(self.key_col).isNotNull())
        if self.group_col is not None:
            return bottom_k_per_group(
                keyed, self.group_col, self.key_col, self.k
            )
        return bottom_k_sample(keyed, self.key_col, self.k)

    def merge_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch hook: bottom-k the batch (TakeOrdered — k rows
        per partition to the driver merge, no shuffle of the batch),
        union with the stored k rows, bottom-k again (≤ 2k input
        rows), commit. Bottom-k IS idempotent under re-merge, but the
        watermark keeps the version chain exactly-once like the
        siblings."""
        if self._already_merged(batch_id):
            return
        part = self._bottom_k(batch_df)
        cur = self.current()
        merged = (
            part
            if cur is None
            else self._bottom_k(part.unionByName(cur))
        )
        self._advance(merged.coalesce(1), batch_id)

    def sample(self) -> DataFrame:
        """The maintained k-row uniform sample of everything seen."""
        cur = self.current()
        if cur is None:
            raise ValueError("no batches merged yet")
        return cur
