"""One versioned-state protocol for every maintained index.

A maintainer keeps its state in directories under ``base_dir`` that are
written once and never modified, plus one small JSON pointer
(``_CURRENT``) naming what is committed: the version, the batch-id
watermark (``last_batch_id``), the streaming checkpoint identity, the
geometry the state was built with and, for manifest-style maintainers,
the list of live batch dirs. A tick writes its directories first and
then swaps the pointer (fsync'd temp file + ``os.replace``), so a crash
at any point leaves the previous version serving plus, at most, orphan
dirs that the replayed tick overwrites.

Recovery policy — one rule for every maintainer:

- a corrupt pointer (invalid JSON, no ``version`` field, or no
  ``batches`` field where the class keeps a batch manifest) raises
  ``ValueError``;
- a pointer whose geometry (``_geometry()``) differs from the one the
  maintainer was opened with raises ``ValueError``: merging state of a
  different geometry is silent garbage;
- a LOST pointer over committed state (dirs matching the class's
  ``_ORPHANS`` globs) raises ``ValueError``: the watermark lives only
  in the pointer, so adopting the newest dir would double-count every
  redelivered batch. A class may override ``_adopt_orphans`` only when
  a test shows that re-merging a redelivered batch after adoption
  leaves the state equal to not re-merging it (``DedupMaintainer``:
  the seen-set anti join makes redelivery a no-op);
- a streaming checkpoint whose identity differs from the recorded one
  raises ``ValueError``: batch ids restart at 0 under a recreated
  checkpoint, and the watermark would absorb real data as redelivery.

A fresh maintainer commits its empty pointer at construction, so a
crash inside its first tick is an ordinary replay, not a lost pointer.

Two shapes share the base: :class:`VersionedState` keeps a manifest in
the pointer (near-dup, cluster, BM25, OPQ indexes); :class:`VersionedDirs`
adds the one-directory-per-version chain (``<state>_v<N>``) of the
monoid maintainers (rollups, sketches, samples, moments).
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil

from pyspark.sql import DataFrame


def write_pointer(path: str, meta) -> None:
    """Atomically replace the pointer at ``path`` with ``json(meta)``:
    fsync'd temp file, then ``os.replace`` (readers see the old or the
    new pointer, never a torn one)."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def read_pointer(path: str, required: tuple = ("version",)) -> dict | None:
    """The pointer dict at ``path``, or None if there is none. Invalid
    JSON or a missing ``required`` field raises ``ValueError``."""
    name, where = os.path.basename(path), os.path.dirname(path)
    try:
        with open(path) as f:
            text = f.read()
    except FileNotFoundError:
        return None
    try:
        meta = json.loads(text)
    except json.JSONDecodeError as e:
        raise ValueError(
            f"corrupt {name} pointer at {where} (invalid JSON: {e}); the "
            "committed version and watermark live only in the pointer, so "
            "the state cannot be safely served or merged into. Restore the "
            "pointer from backup or rebuild in a fresh base_dir."
        ) from e
    missing = [
        k for k in required if not isinstance(meta, dict) or k not in meta
    ]
    if missing:
        raise ValueError(
            f"corrupt {name} pointer at {where} (no {missing[0]!r} field — "
            "truncated or foreign write); restore the pointer from backup "
            "or rebuild in a fresh base_dir."
        )
    return meta


def committed_dirs(base_dir: str, globs) -> list[str]:
    """The top-level dirs under ``base_dir`` that hold committed state:
    those with a path matching one of ``globs`` (relative to
    ``base_dir``)."""
    return sorted(
        {
            os.path.relpath(p, base_dir).split(os.sep)[0]
            for g in globs
            for p in glob.glob(os.path.join(glob.escape(base_dir), g))
        }
    )


def lost_pointer(kind: str, base_dir: str, pointer: str, dirs) -> ValueError:
    """The error for committed ``dirs`` under ``base_dir`` without their
    ``pointer``: what is committed lives only in the pointer."""
    return ValueError(
        f"{kind} state at {base_dir} has committed dirs ({dirs}) but no "
        f"{pointer} pointer; what is committed (version, watermark, "
        "geometry, live dirs) lives only in the pointer, so this state "
        "cannot be safely adopted. Restore the pointer from backup or "
        "rebuild in a fresh base_dir."
    )


def checkpoint_identity(checkpoint_dir: str) -> str:
    """The streaming query id recorded in ``<checkpoint>/metadata`` — a
    fresh uuid every time the directory is (re)created, so ``rm -rf``
    plus recreate at the same path is caught where a path token would
    not be. The id exists only once the query has started, hence it is
    resolved inside ``foreachBatch``. Falls back to the absolute path
    if the file is unreadable (foreign checkpoint layout)."""
    try:
        with open(os.path.join(checkpoint_dir, "metadata")) as f:
            ident = json.load(f).get("id")
        if ident:
            return str(ident)
    except (OSError, ValueError):
        pass
    return os.path.abspath(checkpoint_dir)


def drain_available_now(
    spark,
    source_dir: str,
    schema,
    checkpoint_dir: str,
    fold,
    source_format: str = "parquet",
    **read_options,
) -> None:
    """One AvailableNow pass: every file in ``source_dir`` not yet
    recorded in ``checkpoint_dir`` goes through ``fold(batch_df,
    batch_id)``; returns when the backlog is drained."""
    q = (
        spark.readStream.format(source_format)
        .schema(schema)
        .options(**read_options)
        .load(source_dir)
        .writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


class VersionedState:
    """Pointer-committed maintainer state (see the module docstring).

    Subclasses set ``_KIND`` (names the state in errors) and
    ``_ORPHANS`` (globs, relative to ``base_dir``, of committed dirs),
    may return constructor-fixed parameters from ``_geometry()``, call
    ``_open`` once in ``__init__`` and ``_commit`` after each tick's
    writes, and define ``merge_batch(batch_df, batch_id)``."""

    _POINTER = "_CURRENT"
    _KIND = "maintainer"
    _ORPHANS: tuple = ()

    def _open(self, spark, base_dir: str, **fresh) -> None:
        """Read the committed pointer (strictly), or start from
        ``fresh`` and commit it at once."""
        self.spark = spark
        self.base_dir = base_dir
        os.makedirs(base_dir, exist_ok=True)
        fresh = {
            "last_batch_id": None,
            "checkpoint_token": None,
            **fresh,
            **self._geometry(),
        }
        required = tuple(k for k in ("version", "batches") if k in fresh)
        meta = read_pointer(self._pointer_path(), required)
        if meta is not None:
            want = self._geometry()
            got = {k: meta.get(k) for k in want}
            if got != want:
                raise ValueError(
                    f"{self._KIND} geometry mismatch: state at {base_dir} "
                    f"was built with {got} but this maintainer was opened "
                    f"with {want}; merging state of a different geometry is "
                    "silent garbage. Reopen with the recorded geometry or "
                    "rebuild in a fresh base_dir."
                )
            self._meta = meta
            return
        orphans = committed_dirs(base_dir, self._ORPHANS)
        self._meta = self._adopt_orphans(fresh, orphans) if orphans else fresh
        self._commit()

    def _geometry(self) -> dict:
        """Constructor-fixed parameters recorded in the pointer and
        checked on every reopen."""
        return {}

    def _adopt_orphans(self, fresh: dict, orphans: list[str]) -> dict:
        """The pointer to rebuild from committed dirs when ``_CURRENT``
        is lost. Fails by default; see the module docstring for when a
        class may override it."""
        raise lost_pointer(self._KIND, self.base_dir, self._POINTER, orphans)

    def _pointer_path(self) -> str:
        return os.path.join(self.base_dir, self._POINTER)

    def destroy(self) -> None:
        """Delete the whole state (``base_dir``) — the release step of a
        session-scoped index (``memo.py``)."""
        shutil.rmtree(self.base_dir, ignore_errors=True)

    def _commit(self, **changes) -> None:
        """Swap the pointer to the current meta updated by ``changes``."""
        meta = {**self._meta, **changes}
        write_pointer(self._pointer_path(), meta)
        self._meta = meta

    @property
    def version(self) -> int:
        return int(self._meta.get("version", 0))

    @property
    def _last_batch_id(self) -> int | None:
        return self._meta.get("last_batch_id")

    def _already_merged(self, batch_id: int) -> bool:
        """foreachBatch is at-least-once: a batch id at or below the
        committed watermark is a redelivery and must be a no-op."""
        last = self._last_batch_id
        return last is not None and batch_id <= last

    # --- streaming glue -------------------------------------------------

    def bind_checkpoint(self, token: str) -> None:
        """Tie the watermark to one streaming checkpoint identity. The
        first token offered is committed at once (an in-memory token
        would let a recreated checkpoint slip past whenever the early
        batches no-op on the watermark); a different one fails."""
        stored = self._meta.get("checkpoint_token")
        if stored is None:
            self._commit(checkpoint_token=token)
        elif stored != token:
            raise ValueError(
                f"streaming checkpoint mismatch: {self._KIND} state at "
                f"{self.base_dir} was built under checkpoint {stored!r} but "
                f"this run uses {token!r}; batch ids would restart and the "
                "redelivery watermark would silently drop data. Restore the "
                "original checkpoint or start a new maintainer base_dir."
            )

    def _guarded_hook(self, checkpoint_dir: str):
        """foreachBatch: bind the checkpoint identity, then merge."""

        def hook(batch_df: DataFrame, batch_id: int) -> None:
            self.bind_checkpoint(checkpoint_identity(checkpoint_dir))
            self.merge_batch(batch_df, batch_id)

        return hook

    def run_available_now(
        self,
        source_dir: str,
        schema,
        checkpoint_dir: str,
        source_format: str = "parquet",
    ) -> None:
        """Drain new files from ``source_dir`` into the state; the
        checkpoint makes discovery incremental and the watermark makes
        each batch merge exactly once."""
        drain_available_now(
            self.spark,
            source_dir,
            schema,
            checkpoint_dir,
            self._guarded_hook(checkpoint_dir),
            source_format,
        )


class VersionedDirs(VersionedState):
    """State as one ``<_STATE_NAME>_v<N>`` directory per committed
    version; the pointer records ``version`` and the watermark."""

    _STATE_NAME = "state"

    def _open(self, spark, base_dir: str, **fresh) -> None:
        self.state_dir = os.path.join(base_dir, self._STATE_NAME)
        super()._open(spark, base_dir, version=0, **fresh)

    @property
    def _ORPHANS(self) -> tuple:
        return (f"{self._STATE_NAME}_v*/_SUCCESS",)

    def _state_path(self, version: int) -> str:
        return f"{self.state_dir}_v{version}"

    def current(self) -> DataFrame | None:
        if self.version == 0:
            return None
        return self.spark.read.parquet(self._state_path(self.version))

    def _advance(self, state: DataFrame, batch_id: int, **changes) -> None:
        """Write ``state`` as the next version's dir, then commit it
        (with any further pointer ``changes``)."""
        nxt = self.version + 1
        state.write.mode("overwrite").parquet(self._state_path(nxt))
        self._commit(version=nxt, last_batch_id=batch_id, **changes)

    def vacuum_versions(self, keep_last: int = 2) -> list[str]:
        """Drop ``<state>_v*`` dirs older than the last ``keep_last``
        committed versions; a version the pointer pins as
        ``baseline_version`` is always kept."""
        pinned = self._meta.get("baseline_version")
        pat = re.compile(re.escape(self._STATE_NAME) + r"_v(\d+)$")
        removed = []
        for name in sorted(os.listdir(self.base_dir)):
            m = pat.match(name)
            if not m or int(m.group(1)) == pinned:
                continue
            if int(m.group(1)) <= self.version - keep_last:
                shutil.rmtree(os.path.join(self.base_dir, name))
                removed.append(name)
        return removed
