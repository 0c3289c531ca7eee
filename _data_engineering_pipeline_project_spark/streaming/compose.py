"""One ingest loop, all maintainers (VERDICT r12 #4).

Every maintainer ships its own ``run_available_now`` — correct in
isolation, but a production pipeline drains ONE stream into MANY
standing indexes: the near-dup index, the semantic-dedup index, the
vector index, the frequency sketch, the drift moments, the eval panel
all consume the same ingest batch. Running seven separate streaming
queries would read the source seven times and keep seven checkpoints
racing the same directory listing.

``FanoutDrain`` is the composition: one ``readStream`` → one
``foreachBatch`` that persists the micro-batch ONCE and folds it into
every routed maintainer (each behind its own projection transform).
The correctness argument is the maintainers' OWN protocol, composed:

- **shared checkpoint identity** — every maintainer binds the SAME
  streaming checkpoint token before its first fold (the
  ``bind_checkpoint`` guard), so a recreated checkpoint fails loudly
  in all of them rather than silently replaying batch ids into any
  watermark.
- **per-maintainer watermark idempotence** — each maintainer commits
  its own ``last_batch_id`` watermark atomically with its state. A
  crash BETWEEN two maintainers' commits fails the micro-batch, so
  the streaming checkpoint does not advance; the restart redelivers
  the same ``batch_id``, maintainers that already committed no-op on
  their watermark, and the ones after the crash point fold it for the
  first time. The composed drain therefore needs no transaction
  across maintainers — exactly-once per maintainer composes from
  at-least-once delivery + idempotent folds (pinned by test:
  ``tests/test_e2e_maintenance.py``).
- **single source scan** — the batch is persisted before fan-out, so
  N maintainers' transforms read the micro-batch from cache, not N
  scans of the source (at 100 TB the ingest read is the dominant
  cost; everything downstream is batch-bounded).

Route order is deterministic (the list you pass), so replays fold in
the same order — not required for correctness (each fold is
independent), but it keeps failure logs comparable across retries.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from _data_engineering_pipeline_project_spark.streaming.versioned import (
    checkpoint_identity,
    drain_available_now,
)


class FanoutDrain:
    """Drain one stream into many maintainers.

    ``routes``: list of ``(name, maintainer, transform)`` — the
    maintainer must follow the versioned-state protocol
    (``streaming/versioned.py``: ``merge_batch(df, batch_id)`` +
    ``bind_checkpoint(token)``); ``transform`` maps the
    micro-batch to that maintainer's input relation (None = identity).
    Maintainers that need a one-off ``bootstrap`` (frozen quantizers)
    must be bootstrapped BEFORE the drain starts — the drain only
    ticks.

    ``maintainer`` may instead be a ZERO-ARG CALLABLE resolved at the
    start of every micro-batch — the blue/green indirection: a route
    like ``lambda: IvfOpqIndexMaintainer(spark, os.path.join(
    bg.serving_dir(), "index"))`` follows the ``_SERVING`` pointer, so
    after ``BlueGreenIndex.swap`` flips generations the SAME standing
    drain ticks the NEW index with no restart.

    SWAP CADENCE CONTRACT: swap at drain QUIESCENCE — between
    ``run_available_now`` passes (``awaitTermination`` returned, so
    every delivered batch is committed to the streaming checkpoint).
    The fresh generation was re-bootstrapped over the accumulated
    corpus, which includes exactly those committed batches; its own
    watermark then starts at the next pass's first batch. Swapping
    MID-stream would race an uncommitted tail batch: a crash+replay
    after the flip could deliver rows the new generation already
    absorbed at bootstrap (its empty watermark cannot tell), a
    double-ingest no per-maintainer protocol can detect. The
    availableNow cadence makes quiescence the natural swap point
    (pinned by test)."""

    def __init__(
        self,
        routes: "list[tuple[str, object, Callable[[DataFrame], DataFrame] | None]]",
    ):
        if not routes:
            raise ValueError("FanoutDrain needs at least one route")
        names = [n for n, _m, _t in routes]
        if len(set(names)) != len(names):
            raise ValueError(f"duplicate route names: {sorted(names)}")
        self.routes = list(routes)

    def hook(self, checkpoint_dir: str):
        """The composed foreachBatch: bind every maintainer to this
        checkpoint's identity, persist the batch once, fold it through
        every route."""
        def fold(batch_df: DataFrame, batch_id: int) -> None:
            token = checkpoint_identity(checkpoint_dir)
            # resolve callable routes ONCE per batch (blue/green
            # indirection — a swap between batches repoints here), and
            # bind every maintainer before any fold
            resolved = [
                (name, mnt() if callable(mnt) else mnt, tf)
                for name, mnt, tf in self.routes
            ]
            for _name, mnt, _tf in resolved:
                mnt.bind_checkpoint(token)
            batch_df.persist()
            try:
                for _name, mnt, tf in resolved:
                    mnt.merge_batch(
                        tf(batch_df) if tf is not None else batch_df,
                        batch_id,
                    )
            finally:
                batch_df.unpersist()

        return fold

    def run_available_now(
        self,
        spark: SparkSession,
        source_dir: str,
        schema: T.StructType | str,
        checkpoint_dir: str,
        source_format: str = "parquet",
    ) -> None:
        """Drain every new source file through ALL routes with one
        scan per micro-batch. File discovery is incremental via the
        shared streaming checkpoint; each file's rows tick each
        maintainer exactly once (per-maintainer watermarks absorb
        crash replays)."""
        drain_available_now(
            spark,
            source_dir,
            schema,
            checkpoint_dir,
            self.hook(checkpoint_dir),
            source_format,
        )
