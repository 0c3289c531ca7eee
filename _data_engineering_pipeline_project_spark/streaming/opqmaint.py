"""Incremental maintenance of the OPQ retrieval artifact.

`save_opq_index` (operators/pca.py) trains the rotation + codebooks
and encodes a corpus ONCE; a 100 TB ingest then needs the CODES
relation to track new documents without retraining — retraining per
batch is the recompute-the-world anti-pattern, and (worse) it would
CHANGE every stored code, invalidating the whole index. The correct
incremental contract, and the one real vector stores (FAISS IVF/OPQ
add()) implement, is FROZEN TRANSFORM, GROWING CODES: the rotation
and codebooks are pinned at bootstrap; each tick rotates and encodes
only the BATCH (O(batch·m·ksub) map-side work against broadcast
codebooks — no shuffle of history) and appends a codes batch dir,
exactly the postings-append economics of ``Bm25Maintainer``.

Served results are EXACT with respect to that contract (pinned by
test): after any number of ticks, ADC top-k over the maintained index
equals top-k over a one-shot encode of the full accumulated corpus
with the same frozen model — bit-for-bit, because encode is
deterministic per row (rounded argmin, code tie-break) and
independent across rows.

Freshness vs quality: frozen codebooks quantize DRIFTED new data
progressively worse — that is a property of every incremental ANN
index, and the monitoring story is already in the engine:
``DriftMaintainer`` watches the embedding distribution and
``opq_balance_audit`` re-checks allocation balance; past threshold,
re-bootstrap offline (one job) and swap artifacts atomically.

Protocol: ``streaming/versioned.py`` (fsync'd atomic pointer, batch-id
watermark for at-least-once foreachBatch, checkpoint-identity guard),
plus ``compact()`` folding batch dirs into the base codes on the
table-compaction cadence.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from _data_engineering_pipeline_project_spark.streaming.versioned import (
    VersionedState,
)

_FORMAT = "opq-codes-v1"


class OpqIndexMaintainer(VersionedState):
    """Maintain the codes relation of a bootstrapped OPQ index under
    ``base_dir``: ``artifact/`` (save_opq_index output — frozen),
    ``codes_inc/b{N}/`` (per-batch encoded appends), ``_CURRENT``."""

    _KIND = "OPQ maintainer"
    # the batch list lives only in the pointer
    _ORPHANS = ("artifact/pq",)

    def __init__(self, spark: SparkSession, base_dir: str):
        self.artifact_dir = os.path.join(base_dir, "artifact")
        self._open(spark, base_dir, bootstrapped=False, batches=[])
        self._index: dict | None = None  # lazy: model + codebooks

    def _geometry(self) -> dict:
        return {"format": _FORMAT}

    def _batch_dir(self, name: str) -> str:
        return os.path.join(self.base_dir, "codes_inc", name)

    # --- bootstrap ----------------------------------------------------------

    def bootstrap(
        self,
        corpus: DataFrame,
        dim: int,
        m: int,
        sub_dim: int,
        ksub: int = 64,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        model: dict | None = None,
    ) -> None:
        """One offline training job: fit + allocate + project + encode
        the seed corpus (``save_opq_index``), then open the maintainer
        over it. The model/codebooks are FROZEN from here on.
        ``model`` optionally reuses an already-fit allocated model
        (the deterministic train-once share — save_opq_index guards
        its geometry)."""
        if self._meta.get("bootstrapped"):
            raise ValueError(
                f"OPQ maintainer at {self.base_dir} is already "
                "bootstrapped; re-bootstrap into a fresh base_dir and "
                "swap (frozen codebooks are the index's identity)"
            )
        from _data_engineering_pipeline_project_spark.operators.pca import (
            save_opq_index,
        )

        save_opq_index(
            corpus,
            self.artifact_dir,
            dim=dim,
            m=m,
            sub_dim=sub_dim,
            ksub=ksub,
            id_col=id_col,
            vec_col=vec_col,
            model=model,
        )
        self._commit(bootstrapped=True)

    def _loaded(self) -> dict:
        if self._index is None:
            if not self._meta.get("bootstrapped"):
                raise ValueError("not bootstrapped yet (call bootstrap)")
            from _data_engineering_pipeline_project_spark.operators.pca import (
                load_opq_index,
            )

            self._index = load_opq_index(self.spark, self.artifact_dir)
        return self._index

    # --- ticks ----------------------------------------------------------------

    def merge_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """Rotate + encode the batch with the frozen model/codebooks
        (map-side against a broadcast codebook; the only shuffle is the
        per-(vector, subspace) argmin aggregate over the BATCH) and
        append a subspace-clustered codes dir. Redelivered batch ids at
        or below the watermark are no-ops."""
        if self._already_merged(batch_id):
            return
        ix = self._loaded()
        p = ix["params"]
        from _data_engineering_pipeline_project_spark.operators.pca import (
            pca_project_batch,
        )
        from _data_engineering_pipeline_project_spark.operators.similarity import (
            pq_encode,
        )

        rot = pca_project_batch(
            batch_df,
            ix["model"],
            r=p["m"] * p["sub_dim"],
            id_col=p["id_col"],
            vec_col=p["vec_col"],
            out_col=p["vec_col"],
        )
        codes = pq_encode(
            rot, ix["codebooks"], p["m"], p["sub_dim"], p["id_col"], p["vec_col"]
        )
        bname = f"b{batch_id}"
        (
            codes.repartition(1)
            .sortWithinPartitions("subspace")
            .write.mode("overwrite")
            .parquet(self._batch_dir(bname))
        )
        self._commit(
            last_batch_id=batch_id, batches=self._meta["batches"] + [bname]
        )

    # --- serving ----------------------------------------------------------------

    def codes(self) -> DataFrame:
        """Current base codes (the artifact's, or the latest compacted
        generation) ∪ every appended batch dir."""
        gen = int(self._meta.get("codes_gen", 0))
        if gen > 0:
            out = self.spark.read.parquet(
                os.path.join(self.base_dir, f"codes_base_v{gen}")
            )
        else:
            out = self._loaded()["codes"]
        for b in self._meta["batches"]:
            out = out.unionByName(self.spark.read.parquet(self._batch_dir(b)))
        return out

    def topk(self, queries: DataFrame, k: int = 5) -> DataFrame:
        """ADC top-k over the maintained (base + appended) codes —
        rotates only the query vectors, identical math to
        ``opq_topk_from_index``."""
        from _data_engineering_pipeline_project_spark.operators.pca import (
            opq_topk_from_index,
        )

        ix = dict(self._loaded())
        ix["codes"] = self.codes()
        return opq_topk_from_index(ix, queries, k=k)

    # --- compaction ----------------------------------------------------------------

    def compact(self) -> None:
        """Fold the appended batch dirs into the base codes relation
        (one rewrite, subspace-clustered) and drop them — the
        Bm25Maintainer.compact economics: serving stops paying a
        per-batch-dir listing/footer cost as batches accrete. Served
        results are unchanged (pinned by test). Crash-safe: the new
        base is written to a versioned dir and the pointer swaps
        atomically before the old dirs are removed."""
        if not self._meta["batches"]:
            return
        gen = int(self._meta.get("codes_gen", 0)) + 1
        new_base = os.path.join(self.base_dir, f"codes_base_v{gen}")
        (
            self.codes()
            .repartition(max(1, self.spark.sparkContext.defaultParallelism // 8))
            .sortWithinPartitions("subspace")
            .write.mode("overwrite")
            .parquet(new_base)
        )
        old_batches = self._meta["batches"]
        old_gen = int(self._meta.get("codes_gen", 0))
        self._commit(batches=[], codes_gen=gen)
        import shutil

        for b in old_batches:
            shutil.rmtree(self._batch_dir(b), ignore_errors=True)
        if old_gen > 0:
            shutil.rmtree(
                os.path.join(self.base_dir, f"codes_base_v{old_gen}"),
                ignore_errors=True,
            )
