"""Incremental Bloom-filter maintenance across micro-batches.

The membership artifact (``operators/membership.py``) is a monoid:
merging per-batch word relations with ``bit_or`` yields EXACTLY the
words of building over the union of all keys ever seen (pinned at the
operator level by ``test_round10b.py``). That makes the filter
incrementally maintainable with the versioned-state protocol every
maintainer shares (``streaming/versioned.py``): a tick costs O(batch
keys) to hash plus a merge bounded by the word-table size
``min(total_keys·k, m/60)`` rows — never a rescan of history — and the
maintained filter serves the ingest-time "definitely new?" question
from state that is orders of magnitude smaller than the seen-key
relation DedupMaintainer keeps.

The two maintainers are complements, not rivals: DedupMaintainer's
seen set is exact and admits batches; BloomMaintainer's words are the
cheap pre-answer a 100 TB ingest consults FIRST (no false negatives,
so a "not seen" verdict is final), reserving the exact state for the
Bloom-positive sliver. Fill ratio only grows as batches accumulate —
the FP-audit queries (queries_ext10.py) are the monitoring; past ~50%
fill the fix is a rebuild at larger m, which is one
``save_bloom_index`` over the exact seen set.

Geometry (m_bits, k) is frozen at first commit and recorded in the
pointer: merging words of DIFFERENT geometry is silent garbage, so a
mismatched reopen fails loudly instead.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from _data_engineering_pipeline_project_spark.operators.membership import (
    bloom_build,
    bloom_merge,
    bloom_probe,
)
from _data_engineering_pipeline_project_spark.streaming.versioned import (
    VersionedDirs,
    read_pointer,
    write_pointer,
)


class BloomMaintainer(VersionedDirs):
    """Maintain a Bloom membership filter over the FIRST column of each
    batch (the key relation), versioned under ``base_dir``."""

    _KIND = "bloom"
    _STATE_NAME = "words"

    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        m_bits: int = 1 << 20,
        k: int = 3,
    ):
        self.m_bits = int(m_bits)
        self.k = int(k)
        self._open(spark, base_dir)

    def _geometry(self) -> dict:
        return {"m_bits": self.m_bits, "k": self.k}

    # --- filter maintenance ----------------------------------------------

    def merge_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch hook: bloom the batch's key column, bit_or-merge
        with the stored words, commit the next version (word_idx-
        clustered, the artifact layout). bit_or is idempotent under
        re-merge, but the watermark keeps the version chain and
        last_batch_id exactly-once like the siblings."""
        if self._already_merged(batch_id):
            return
        key = F.col(batch_df.columns[0])
        part = bloom_build(batch_df, key, self.m_bits, self.k)
        cur = self.current()
        merged = part if cur is None else bloom_merge(part, cur)
        self._advance(
            merged.repartitionByRange(
                max(1, self.spark.sparkContext.defaultParallelism // 4),
                "word_idx",
            ).sortWithinPartitions("word_idx"),
            batch_id,
        )

    def probe(self, df: DataFrame, key: F.Column | str) -> DataFrame:
        """Membership flags for ``df`` against the maintained filter
        (no false negatives over every accepted batch)."""
        cur = self.current()
        if cur is None:
            raise ValueError("no batches merged yet")
        key = F.col(key) if isinstance(key, str) else key
        return bloom_probe(cur, df, key, self.m_bits, self.k)


class RotatingBloomMaintainer:
    """Retention-windowed membership: a ring of ``generations``
    independent :class:`BloomMaintainer` slots. Batches merge into the
    CURRENT slot; :meth:`rotate` (called on the retention cadence —
    daily, per-epoch, per-corpus-version) advances the ring and RESETS
    the slot it lands on; :meth:`probe` ORs the live slots' words.

    This is how a plain Bloom filter — which cannot delete — serves
    the "have we seen this key in the last N windows?" question every
    retention-bounded ingest dedup actually asks: keys older than N
    rotations age out when their slot is reused, while within the
    window the no-false-negative guarantee holds per slot and
    therefore over the OR (bit_or of words relations IS the filter of
    the union). Fill is bounded per slot by one window's key volume,
    so m is sized for a WINDOW, not for all history — the standing
    fix for the monotone-fill problem the FP audit monitors.

    Crash discipline (advice r10 — pointer FIRST, then reset): the old
    ordering (reset slot, then commit pointer) had a lost-membership
    anomaly: a crash between the two left the wiped slot OFFICIALLY
    LIVE, so keys from a still-in-retention window probed "definitely
    new" — a false negative, the one direction the tier promises never
    to produce. rotate() now (1) commits the advanced pointer with
    ``needs_reset=true`` (``versioned.write_pointer``: fsync + replace),
    (2) resets the slot, (3) commits ``needs_reset=false``. Every
    crash point is safe: before (1) the rotation simply never
    happened; between (1) and (2) recovery sees ``needs_reset`` and
    re-resets the current slot BEFORE any merge (no stale keys
    resurrected — and had recovery not run, the anomaly would be
    over-retention: extra false positives, the safe direction);
    between (2) and (3) recovery re-resets an already-empty slot
    (idempotent). No committed window is ever lost, and no aged-out
    key ever resurrects. Pinned by the crash-mid-rotate test
    (``tests/test_round11.py``).
    """

    _POINTER = "_RING"

    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        m_bits: int = 1 << 20,
        k: int = 3,
        generations: int = 4,
    ):
        if generations < 2:
            raise ValueError("need at least 2 generations to rotate")
        self.spark = spark
        self.base_dir = base_dir
        self.generations = int(generations)
        self.m_bits = int(m_bits)
        self.k = int(k)
        os.makedirs(base_dir, exist_ok=True)
        self._current, self._rotations, needs_reset = self._recover()
        self._slots = [
            BloomMaintainer(
                spark, os.path.join(base_dir, f"gen_{g}"), m_bits, k
            )
            for g in range(self.generations)
        ]
        if needs_reset:
            # a crash interrupted rotate() after the pointer advanced:
            # finish the rotation BEFORE any merge/probe can see the
            # stale (aged-out) keys still sitting in the current slot
            self._reset_slot(self._current)
            self._commit_ring(needs_reset=False)

    def _recover(self) -> tuple[int, int, bool]:
        meta = read_pointer(
            os.path.join(self.base_dir, self._POINTER),
            ("current", "rotations"),
        )
        if meta is None:
            # a ring that never rotated holds state in gen_0 only; state in
            # any other slot means the ring pointer was lost, and restarting
            # at slot 0 would reset a live window on the next rotate
            committed = glob.glob(
                os.path.join(
                    glob.escape(self.base_dir), "gen_*", "words_v*", "_SUCCESS"
                )
            )
            rotated = sorted({p.split(os.sep)[-3] for p in committed} - {"gen_0"})
            if rotated:
                raise ValueError(
                    f"rotating bloom state at {self.base_dir} has committed "
                    f"slots {rotated} but no {self._POINTER} pointer; which "
                    "slot is current lives only in the pointer, so this "
                    "state cannot be safely adopted. Restore the pointer "
                    "from backup or rebuild in a fresh base_dir."
                )
            return 0, 0, False
        if meta.get("generations") != self.generations:
            raise ValueError(
                "ring geometry mismatch: state has "
                f"{meta.get('generations')} generations, maintainer "
                f"opened with {self.generations}"
            )
        return (
            int(meta["current"]),
            int(meta["rotations"]),
            bool(meta.get("needs_reset", False)),
        )

    def _commit_ring(self, needs_reset: bool = False) -> None:
        write_pointer(
            os.path.join(self.base_dir, self._POINTER),
            {
                "current": self._current,
                "rotations": self._rotations,
                "generations": self.generations,
                "needs_reset": needs_reset,
            },
        )

    def _reset_slot(self, g: int) -> None:
        """Wipe slot ``g`` and rebuild a fresh (empty) maintainer for
        it — idempotent, so the crash-recovery re-reset is safe."""
        import shutil

        slot_dir = os.path.join(self.base_dir, f"gen_{g}")
        if os.path.isdir(slot_dir):
            shutil.rmtree(slot_dir)
        self._slots[g] = BloomMaintainer(
            self.spark, slot_dir, self.m_bits, self.k
        )

    @property
    def current_slot(self) -> int:
        return self._current

    def merge_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        self._slots[self._current].merge_batch(batch_df, batch_id)

    def rotate(self) -> int:
        """Advance the ring: commit the advanced pointer (flagged
        ``needs_reset``), THEN reset the slot it landed on (its keys
        age out), then clear the flag. Pointer-first means a crash can
        never leave a wiped slot officially live (lost membership =
        false negatives); the worst crash residue is a pending reset
        that recovery completes. Returns the new current slot."""
        nxt = (self._current + 1) % self.generations
        self._current = nxt
        self._rotations += 1
        self._commit_ring(needs_reset=True)
        self._reset_slot(nxt)
        self._commit_ring(needs_reset=False)
        return nxt

    def live_words(self) -> DataFrame | None:
        """bit_or union of every non-empty slot's words — the filter of
        the union of live keys."""
        from _data_engineering_pipeline_project_spark.operators.membership import (
            bloom_merge,
        )

        words = [s.current() for s in self._slots]
        words = [w for w in words if w is not None]
        if not words:
            return None
        return words[0] if len(words) == 1 else bloom_merge(*words)

    def probe(self, df: DataFrame, key) -> DataFrame:
        from pyspark.sql import functions as FF

        from _data_engineering_pipeline_project_spark.operators.membership import (
            bloom_probe,
        )

        w = self.live_words()
        if w is None:
            raise ValueError("no batches merged yet")
        key = FF.col(key) if isinstance(key, str) else key
        return bloom_probe(w, df, key, self.m_bits, self.k)
