"""Blue/green index swap: EXECUTE the re-bootstrap decision
(VERDICT r12 #3).

``streaming/policy.py:rebootstrap_decision`` emits the one-row verdict
(drift / balance / recall-floor evidence + artifact paths); until now
nothing performed the swap. ``BlueGreenIndex`` is the executor: a
generation directory per index build plus ONE fsync'd serving pointer
(``versioned.write_pointer``), so re-bootstrapping a frozen-quantizer
index (IVF-OPQ, SemDeDup, near-dup hot-list, Bloom geometry — anything
whose identity is frozen at bootstrap) is:

1. **build green** — ``build_fn(gen_dir)`` bootstraps the NEW index
   into a fresh generation directory while the old (blue) generation
   keeps serving untouched;
2. **verify green** — ``audit_fn(gen_dir)`` returns the recall panel
   (the ``ivfopq_recall_audit_embeddings`` shape, one ``recall`` row
   per fixed panel query); a mean below ``min_recall`` ABORTS the
   swap loudly — a rebuilt index that audits worse than the floor must
   never reach serving, and an EMPTY panel is a monitoring failure,
   not evidence of health (the policy.py rule);
3. **flip** — the serving pointer is rewritten atomically (tmp +
   fsync + rename). Readers that resolved the pointer before the flip
   finish on blue; new resolutions read green.

Crash discipline — NO ORPHAN ADOPTION: the generation counter is
committed to the pointer BEFORE the build starts, so a crash anywhere
mid-swap leaves (a) the old generation serving (the pointer never
moved) and (b) a debris directory a later swap never reuses (the next
attempt allocates a FRESH generation number from the committed
counter; adopting a half-built directory is indistinguishable from
adopting a torn index). Debris is removed by ``gc()`` — idempotent,
never touches the serving generation.

The decision input is ``rebootstrap_decision``'s one-row relation (or
a plain bool): verdict False is a recorded no-op, so a scheduler can
call ``swap`` unconditionally after every monitoring cycle and the
pointer history becomes the audit log of every accepted/declined/
failed re-bootstrap, each attributable to the decision row's evidence.
"""

from __future__ import annotations

import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame

from _data_engineering_pipeline_project_spark.streaming.versioned import (
    read_pointer,
    write_pointer,
)

_POINTER = "_SERVING"
_FORMAT = "bluegreen-v1"
# pointer history is an audit LOG, not unbounded state: older entries
# roll off (counters keep the lifetime totals) so the fsync'd pointer
# write and _recover() stay O(1) over the index's lifetime
_HISTORY_KEEP = 200


class BlueGreenIndex:
    """Versioned index generations under ``base_dir`` with one fsync'd
    serving pointer. ``serving_dir()`` is what query paths resolve;
    ``swap()`` executes a re-bootstrap decision end to end."""

    def __init__(self, base_dir: str):
        self.base_dir = base_dir
        os.makedirs(base_dir, exist_ok=True)
        self._meta = self._recover()

    # --- pointer protocol (``streaming/versioned.py`` I/O) ---------------
    def _pointer_path(self) -> str:
        return os.path.join(self.base_dir, _POINTER)

    def _recover(self) -> dict:
        meta = read_pointer(self._pointer_path(), required=())
        if meta is not None:
            if meta.get("format") != _FORMAT:
                raise ValueError(
                    f"blue/green state at {self.base_dir} has format "
                    f"{meta.get('format')!r}, expected {_FORMAT!r}"
                )
            return meta
        # gen dirs without a pointer are NOT adoptable (torn-build risk)
        debris = [n for n in os.listdir(self.base_dir) if n.startswith("gen_")]
        if debris:
            raise ValueError(
                f"blue/green state at {self.base_dir} has generation "
                f"dirs ({sorted(debris)}) but no {_POINTER} pointer; "
                "a generation without a pointer record cannot be "
                "distinguished from a torn build. Restore the pointer "
                "or start a fresh base_dir."
            )
        return {
            "format": _FORMAT,
            "serving_gen": None,
            "next_gen": 0,
            "history": [],
            "history_total": 0,
        }

    def _with_history(self, meta: dict, report: dict) -> dict:
        """Append one report, trimming the log to ``_HISTORY_KEEP``
        entries (review r13: an unconditional-swap scheduler would
        otherwise grow the fsync'd pointer without bound)."""
        hist = [*meta["history"], report][-_HISTORY_KEEP:]
        return {
            **meta,
            "history": hist,
            "history_total": int(meta.get("history_total", 0)) + 1,
        }

    def _commit(self, meta: dict) -> None:
        write_pointer(self._pointer_path(), meta)
        self._meta = meta

    # --- resolution ----------------------------------------------------------
    def _gen_dir(self, gen: int) -> str:
        return os.path.join(self.base_dir, f"gen_{gen}")

    @property
    def serving_gen(self) -> int | None:
        return self._meta["serving_gen"]

    def serving_dir(self) -> str:
        """The serving generation's directory — what query paths open.
        Raises until the first successful swap installs a generation."""
        g = self._meta["serving_gen"]
        if g is None:
            raise ValueError(
                f"no serving generation at {self.base_dir} yet — run the "
                "initial swap(decision=True, build_fn=...) bootstrap"
            )
        return self._gen_dir(g)

    # --- the swap ------------------------------------------------------------
    @staticmethod
    def _verdict(decision: "DataFrame | bool") -> tuple[bool, str]:
        if isinstance(decision, bool):
            return decision, "explicit bool"
        rows = decision.select("decision", "evidence").collect()
        if len(rows) != 1:
            raise ValueError(
                "decision relation must be exactly one row "
                f"(rebootstrap_decision's contract), got {len(rows)}"
            )
        return bool(rows[0]["decision"]), str(rows[0]["evidence"])

    def swap(
        self,
        decision: "DataFrame | bool",
        build_fn: Callable[[str], None],
        audit_fn: "Callable[[str], DataFrame] | None" = None,
        min_recall: float | None = None,
    ) -> dict:
        """Execute one re-bootstrap decision. Returns a report dict
        (also appended to the pointer's history): ``swapped`` plus the
        generation, audit, and evidence fields. Crash anywhere before
        the final pointer write leaves the old generation serving and
        a never-adopted debris dir (see module docstring)."""
        verdict, evidence = self._verdict(decision)
        if not verdict:
            report = {
                "swapped": False,
                "reason": "decision False — keep serving frozen index",
                "evidence": evidence,
                "serving_gen": self._meta["serving_gen"],
            }
            self._commit(self._with_history(self._meta, report))
            return report
        if min_recall is not None and audit_fn is None:
            raise ValueError("min_recall set but no audit_fn to measure it")

        # 1. allocate the generation FIRST (committed counter — a crash
        #    during build leaves debris a later attempt never reuses)
        gen = int(self._meta["next_gen"])
        self._commit({**self._meta, "next_gen": gen + 1})
        gen_dir = self._gen_dir(gen)
        build_fn(gen_dir)

        # 2. verify green before it can serve
        mean_recall = None
        if audit_fn is not None:
            panel = audit_fn(gen_dir)
            recalls = [r["recall"] for r in panel.select("recall").collect()]
            if not recalls:
                raise ValueError(
                    "recall audit of the rebuilt index returned no rows: "
                    "the query panel is empty or the audit pipeline is "
                    "broken; refusing to flip serving on missing evidence."
                )
            mean_recall = sum(recalls) / len(recalls)
            if min_recall is not None and mean_recall < min_recall:
                report = {
                    "swapped": False,
                    "reason": (
                        f"rebuilt gen_{gen} audits below the floor: mean "
                        f"recall {round(mean_recall, 6)} < {min_recall} — "
                        "old generation keeps serving"
                    ),
                    "evidence": evidence,
                    "failed_gen": gen,
                    "mean_recall": mean_recall,
                    "serving_gen": self._meta["serving_gen"],
                }
                self._commit(self._with_history(self._meta, report))
                raise ValueError(report["reason"])

        # 3. atomic flip
        report = {
            "swapped": True,
            "serving_gen": gen,
            "previous_gen": self._meta["serving_gen"],
            "mean_recall": mean_recall,
            "min_recall": min_recall,
            "evidence": evidence,
        }
        self._commit(
            {**self._with_history(self._meta, report), "serving_gen": gen}
        )
        return report

    # --- maintenance -----------------------------------------------------------
    def gc(
        self, keep_previous: int = 1, grace_seconds: float = 3600.0
    ) -> list[str]:
        """Remove generation debris: every gen dir that is neither the
        serving generation nor one of the ``keep_previous`` most recent
        previously-serving generations (blue stays until drained —
        readers that resolved the pointer pre-flip may still be on it).
        Idempotent; never touches the serving generation.

        ``grace_seconds`` (review r13): a generation allocated by an
        IN-FLIGHT swap exists on disk before any pointer/history record
        names it, so a concurrent gc cannot distinguish it from crash
        debris by state alone. Any gen dir modified within the grace
        window is skipped — debris older than the window is, by the
        committed-counter protocol, from an attempt that already failed
        (a live build touches its files continuously). Pass 0 only when
        no swap can be running."""
        import time

        now = time.time()
        keep = set()
        g = self._meta["serving_gen"]
        if g is not None:
            keep.add(g)
        prev = [
            h["serving_gen"]
            for h in self._meta["history"]
            if h.get("swapped") and h["serving_gen"] != g
        ]
        keep.update(prev[-keep_previous:] if keep_previous > 0 else [])
        removed = []
        for n in sorted(os.listdir(self.base_dir)):
            if not n.startswith("gen_"):
                continue
            try:
                gen = int(n.split("_", 1)[1])
            except ValueError:
                continue
            if gen in keep:
                continue
            path = os.path.join(self.base_dir, n)
            try:
                age = now - max(
                    os.path.getmtime(os.path.join(root, f))
                    for root, _dirs, files in os.walk(path)
                    for f in [*files, "."]
                )
            except (OSError, ValueError):
                age = float("inf")
            if age < grace_seconds:
                continue  # possibly an in-flight build — leave it
            shutil.rmtree(path, ignore_errors=True)
            removed.append(n)
        return removed
