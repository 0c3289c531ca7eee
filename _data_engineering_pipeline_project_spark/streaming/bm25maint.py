"""Incremental BM25 inverted-index maintenance.

``operators/ranking.py:save_bm25_index`` builds the lexical serving
artifact in one offline job; at 100 TB that build amortizes only if
APPENDS don't trigger full rebuilds (VERDICT r9 next #2). This
maintainer merges a new-docs micro-batch into the artifact at
O(batch) + O(vocabulary) cost per tick, never O(corpus):

- **postings** append cleanly: a new doc's (doc, term, tf, dl) rows
  are disjoint from every existing posting, so each batch writes its
  own term-range-clustered directory ``postings/b{id}`` and serving
  reads the union — parquet min/max term skipping works per batch
  directory exactly as it does for the one-shot artifact.
- **dictionary** (term, df) and **stats** are commutative monoids:
  dfs add under full-outer join on term (the ``aggmaint.merge_rollup``
  shape), n_docs and total_dl add as scalars. The maintainer stores
  ``total_dl`` (exact long) rather than ``avgdl`` and derives
  avgdl = total_dl / n_docs at serve time — the SAME long-sum /
  long-count division Spark's ``avg`` performs inside the one-shot
  build, which is what makes incrementally-served scores bit-identical
  to a one-shot rebuild (test-pinned).
- **commit** follows the versioned-state protocol
  (``streaming/versioned.py``): batch postings and the merged ``meta_v{N}``
  (dictionary, stats, params) land fully before the ``_CURRENT``
  pointer swaps, so a crash leaves the previous version serving and an
  orphan directory, never a torn index. foreachBatch redelivery is a
  watermark no-op (df sums are not idempotent under re-merge).

CONTRACT: batches are NEW documents only — a doc_id must appear in
exactly one batch, or its df/tf contributions double (the same
append-only contract as ``dedupmaint``'s seen-state). Updating or
deleting documents is a rebuild (or a tombstone design this engine
does not need for training-data corpora, which are append-only).

Fragmentation: each tick adds one postings directory; serving cost
grows with directory count only through file-open overhead, so the
maintainer exposes ``compact()`` — fold all batch directories into one
re-clustered directory (the ``CompactionMaintainer`` cadence applies;
RUNBOOK.md). No reference counterpart (project/etl2.py recomputes the
world per cycle).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from _data_engineering_pipeline_project_spark.operators import textstats as TS
from _data_engineering_pipeline_project_spark.streaming.versioned import (
    VersionedState,
)

_FORMAT = "dl-in-postings-v2"


class Bm25Maintainer(VersionedState):
    """Maintain a served BM25 index over append-only document batches.

    ``serve_index()`` returns the same dict shape as
    ``ranking.load_bm25_index``, so ``ranking.bm25_scores_from_index``
    serves from a maintained index unchanged.
    """

    _KIND = "BM25 maintainer"
    # committed state is a meta dir PLUS an ordered batch list only the
    # pointer records; postings dirs alone cannot be re-adopted
    _ORPHANS = ("meta_v*/stats/_SUCCESS",)

    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        files_per_batch: int = 4,
    ) -> None:
        self.id_col = id_col
        self.text_col = text_col
        self.files_per_batch = files_per_batch
        self._open(spark, base_dir, version=0, batches=[])

    def _geometry(self) -> dict:
        return {"format": _FORMAT}

    def _meta_dir(self, version: int) -> str:
        return os.path.join(self.base_dir, f"meta_v{version}")

    def _batch_dir(self, name: str) -> str:
        return os.path.join(self.base_dir, "postings", name)

    # -- merge tick --------------------------------------------------------
    def merge_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """Fold one batch of NEW documents into the index: O(batch)
        tokenize + postings write, O(vocab) dictionary merge, O(1)
        stats merge. Redelivered batch ids at or below the watermark
        are no-ops."""
        if self._already_merged(batch_id):
            return
        bname = f"b{batch_id}"
        dl = batch_df.select(
            F.col(self.id_col), TS.token_count(self.text_col).alias("dl")
        )
        postings = (
            batch_df.select(
                F.col(self.id_col),
                F.explode(TS.tokens(self.text_col)).alias("term"),
            )
            .filter(F.length("term") > 0)
            .groupBy(self.id_col, "term")
            .agg(F.count(F.lit(1)).alias("tf"))
            .join(dl, self.id_col)
        )
        (
            postings.repartitionByRange(self.files_per_batch, "term")
            .sortWithinPartitions("term")
            .write.mode("overwrite")
            .parquet(self._batch_dir(bname))
        )
        # dictionary merge: batch dfs from the JUST-WRITTEN postings
        # (no second tokenize), monoid-added into the current dictionary;
        # the read-back carries the known schema (r14) so it skips the
        # footer schema-inference job
        batch_dict = (
            self.spark.read.schema(postings.schema)
            .parquet(self._batch_dir(bname))
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("df"))
        )
        # stats from the batch's dl frame, NOT the postings: a doc with
        # EMPTY text has no posting rows but still counts toward n_docs
        # and avgdl in the one-shot build — deriving from postings would
        # silently drop it and desync incrementally-served scores
        batch_stats = dl.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("total_dl"),
        )
        v = self._meta["version"]
        if v > 0:
            cur_dict = self.spark.read.parquet(
                os.path.join(self._meta_dir(v), "dictionary")
            ).select("term", F.col("df").alias("_df"))
            merged_dict = batch_dict.join(cur_dict, "term", "full_outer").select(
                "term",
                (
                    F.coalesce("df", F.lit(0)) + F.coalesce("_df", F.lit(0))
                ).alias("df"),
            )
            # fold the current 1-row stats in via a join instead of a
            # driver collect (r14, guide §1.2): same exact long adds,
            # one fewer action per tick
            cur_stats = self.spark.read.parquet(
                os.path.join(self._meta_dir(v), "stats")
            ).select(
                F.col("n_docs").alias("_n"), F.col("total_dl").alias("_t")
            )
            merged_stats = batch_stats.crossJoin(
                F.broadcast(cur_stats)
            ).select(
                (F.col("n_docs") + F.col("_n")).alias("n_docs"),
                (F.col("total_dl") + F.col("_t")).alias("total_dl"),
            )
        else:
            merged_dict, merged_stats = batch_dict, batch_stats

        nxt = v + 1
        # the dictionary and stats relations are independent, go to
        # independent pre-pointer dirs: overlap the writes (guide §2.6);
        # the pointer commits strictly after both, as before
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            futs = [
                pool.submit(
                    lambda: merged_dict.write.mode("overwrite").parquet(
                        os.path.join(self._meta_dir(nxt), "dictionary")
                    )
                ),
                pool.submit(
                    lambda: merged_stats.coalesce(1)
                    .write.mode("overwrite")
                    .parquet(os.path.join(self._meta_dir(nxt), "stats"))
                ),
            ]
            for f in futs:
                f.result()
        self._commit(
            version=nxt,
            last_batch_id=batch_id,
            batches=self._meta["batches"] + [bname],
        )

    # -- maintenance -------------------------------------------------------
    def compact(self) -> None:
        """Fold every batch postings directory into ONE re-clustered
        directory (the index-level OPTIMIZE): one range shuffle over
        the accumulated postings — columnar in, columnar out, no
        re-tokenize. Dictionary and stats are already merged; only the
        pointer's batch list changes."""
        if not self._meta["batches"]:
            return
        v = self._meta["version"]
        cname = f"compacted_v{v}"
        n = max(
            self.files_per_batch,
            self.spark.sparkContext.defaultParallelism,
        )
        (
            self.spark.read.parquet(
                *[self._batch_dir(b) for b in self._meta["batches"]]
            )
            .repartitionByRange(n, "term")
            .sortWithinPartitions("term")
            .write.mode("overwrite")
            .parquet(self._batch_dir(cname))
        )
        old = self._meta["batches"]
        self._commit(batches=[cname])
        # old batch dirs are debris the pointer no longer references;
        # GC is idempotent (a crash here just leaves orphans)
        import shutil

        for b in old:
            if b != cname:
                shutil.rmtree(self._batch_dir(b), ignore_errors=True)

    # -- serving -----------------------------------------------------------
    def serve_index(self) -> dict:
        """The maintained index in ``load_bm25_index``'s dict shape —
        ``ranking.bm25_scores_from_index`` serves from it unchanged.
        avgdl derives as exact-long total_dl / n_docs, the identical
        division the one-shot build's ``avg(dl)`` performs."""
        if not self._meta["batches"]:
            raise ValueError(f"no batches merged yet under {self.base_dir}")
        v = self._meta["version"]
        return {
            "postings": self.spark.read.parquet(
                *[self._batch_dir(b) for b in self._meta["batches"]]
            ),
            "dictionary": self.spark.read.parquet(
                os.path.join(self._meta_dir(v), "dictionary")
            ),
            "stats": self.spark.read.parquet(
                os.path.join(self._meta_dir(v), "stats")
            ).select(
                "n_docs", (F.col("total_dl") / F.col("n_docs")).alias("avgdl")
            ),
            "params": {
                "id_col": self.id_col,
                "text_col": self.text_col,
                "format": _FORMAT,
            },
        }
