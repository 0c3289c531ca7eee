"""Maintained exact covariance / PCA sufficient statistics.

``operators/pca.py:pca_fit`` trains the rotation every OPQ/PCA build
needs with one corpus scan (exact integer-lane power sums → driver
eigh). At 100 TB that scan is the single most expensive step of a
re-bootstrap — and it is also completely avoidable: the quantities it
aggregates (count n, per-dim sums Sᵢ, per-pair sums Sᵢⱼ — the Gram
triangle) are EXACT ADDITIVE MONOIDS over the quantized integer lane.
This maintainer keeps them as standing state:

- **state** is d(d+1)/2 + d + 1 DECIMAL(38,0) rows — a few KB at
  d=64, ~2 MB at d=1024 — FOREVER, regardless of rows ingested
  (the DriftMaintainer economics, extended from per-dim moments to
  the full second-moment triangle).
- **tick** = one ``_gram_parts`` pass over the BATCH (numpy XᵀX per
  Arrow batch — the measured gram path, 8.5× the explode form at
  d=256) + one decimal merge of ~d²/2 rows. O(batch·d) compute,
  O(d²) state, no history.
- **serve** — ``covariance_pairs()`` / ``mean()`` / ``model()``
  rebuild the exact doubles with the IDENTICAL final IEEE sequences
  as ``pca_fit(union, method="gram")``: decimal sums are
  associativity-free, so after any tick split the served model is
  BIT-FOR-BIT the one-shot model (pinned by test). That makes this
  the missing half of the re-bootstrap loop: ``BlueGreenIndex.swap``
  can re-train an OPQ rotation from maintained statistics WITHOUT
  re-scanning history — the corpus is touched only to re-encode.

Crash-safety: the versioned-state protocol (``streaming/versioned.py``:
versioned sums dirs, fsync'd ``_CURRENT`` pointer, batch-id watermark,
checkpoint-identity guard). Sums are not idempotent under re-merge,
so the watermark is load-bearing (the CountMinMaintainer rule).
Geometry (dim, columns, quant scale) is the state's identity —
mismatched reopen fails loudly.

CONTRACT: batches are NEW vectors only (append-only corpus — the
Bm25Maintainer rule); updates/deletes are a rebuild. NULL elements /
ragged vectors fail loudly inside ``_gram_parts`` (the gram-form
contract).
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from _data_engineering_pipeline_project_spark.streaming.versioned import (
    VersionedState,
)

_FORMAT = "cov-sums-v1"
_DEC = "decimal(38,0)"


class CovarianceMaintainer(VersionedState):
    """Maintain exact PCA sufficient statistics (n, Sᵢ, Gram triangle)
    over append-only vector batches; the served covariance/mean/model
    equal ``pca_fit(union, method='gram')`` bit-for-bit."""

    _KIND = "covariance"
    _ORPHANS = ("sums_v*/_SUCCESS",)

    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        dim: int,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ):
        self.dim = int(dim)
        self.id_col = id_col
        self.vec_col = vec_col
        self._open(spark, base_dir, version=0)

    def _geometry(self) -> dict:
        # the quantized sums are meaningless under a different geometry
        from _data_engineering_pipeline_project_spark.operators.pca import (
            QUANT_SCALE,
        )

        return {
            "format": _FORMAT,
            "dim": self.dim,
            "id_col": self.id_col,
            "vec_col": self.vec_col,
            "quant_scale": int(QUANT_SCALE),
        }

    def _sums_dir(self, v: int) -> str:
        return os.path.join(self.base_dir, f"sums_v{v}")

    # --- state relation ----------------------------------------------------
    def sums(self) -> DataFrame:
        """(kind, idx, val) exact DECIMAL(38,0) sums: kind 'n' (one
        row, idx 0), 's' (d rows, idx = 0-based dim), 'g' (d(d+1)/2
        rows, idx = upper-triangle slot)."""
        if self.version == 0:
            raise ValueError("no batches merged yet")
        return self.spark.read.parquet(self._sums_dir(self.version))

    # --- maintenance --------------------------------------------------------
    def merge_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """Fold one batch of NEW vectors: one gram pass over the batch,
        one decimal merge of the d²-bounded state. Redelivered batch
        ids at or below the watermark are no-ops (sums are not
        idempotent — the watermark is load-bearing)."""
        if self._already_merged(batch_id):
            return
        from _data_engineering_pipeline_project_spark.operators.pca import (
            _gram_parts,
        )

        parts = _gram_parts(
            batch_df, self.id_col, self.vec_col, self.dim
        ).persist()
        try:
            self._merge_parts(parts, batch_id)
        finally:
            parts.unpersist()

    def _merge_parts(self, parts: DataFrame, batch_id: int) -> None:
        g = parts.select(F.posexplode("g_part").alias("idx", "v")).select(
            F.lit("g").alias("kind"),
            "idx",
            F.col("v").cast(_DEC).alias("val"),
        )
        s = parts.select(F.posexplode("s_part").alias("idx", "v")).select(
            F.lit("s").alias("kind"),
            "idx",
            F.col("v").cast(_DEC).alias("val"),
        )
        n = parts.select(
            F.lit("n").alias("kind"),
            F.lit(0).alias("idx"),
            F.col("n_part").cast(_DEC).alias("val"),
        )
        batch_sums = (
            g.unionByName(s)
            .unionByName(n)
            .groupBy("kind", "idx")
            .agg(F.sum("val").cast(_DEC).alias("val"))
        )
        v = self.version
        if v > 0:
            cur = self.sums().select(
                "kind", "idx", F.col("val").alias("_val")
            )
            merged = batch_sums.join(
                cur, ["kind", "idx"], "full_outer"
            ).select(
                "kind",
                "idx",
                (
                    F.coalesce(F.col("val"), F.lit(0).cast(_DEC))
                    + F.coalesce(F.col("_val"), F.lit(0).cast(_DEC))
                )
                .cast(_DEC)
                .alias("val"),
            )
        else:
            merged = batch_sums
        nxt = v + 1
        merged.coalesce(1).write.mode("overwrite").parquet(
            self._sums_dir(nxt)
        )
        self._commit(version=nxt, last_batch_id=batch_id)
        # GC every superseded sums dir, not just the immediate
        # predecessor — a crash between a past commit and its rmtree
        # would otherwise strand that version forever (review r13);
        # idempotent, and the pointer no longer references any of them
        for name in os.listdir(self.base_dir):
            m = re.match(r"^sums_v(\d+)$", name)
            if m and int(m.group(1)) < nxt:
                shutil.rmtree(
                    os.path.join(self.base_dir, name), ignore_errors=True
                )

    # --- serving ------------------------------------------------------------
    def covariance_pairs(self, include_diagonal: bool = True) -> DataFrame:
        """(dim_i, dim_j, cov) from the maintained sums — the IDENTICAL
        final double arithmetic as ``_covariance_pairs_gram`` (decimal
        sums cast to double, then (n·Sij − Si·Sj)/n²/scale²), so the
        relation equals a one-shot ``covariance_pairs`` over the union
        bit-for-bit."""
        from _data_engineering_pipeline_project_spark.operators.pca import (
            QUANT_SCALE,
        )

        sums = self.sums()
        sij = sums.filter(F.col("kind") == "g").select(
            F.col("idx").alias("t"),
            F.col("val").cast("double").alias("sij"),
        )
        n_row = sums.filter(F.col("kind") == "n").select(
            F.col("val").cast("long").alias("n")
        )
        dims = (
            sums.filter(F.col("kind") == "s")
            .select(
                F.col("idx").alias("i0"),
                F.col("val").cast("double").alias("s"),
            )
            .crossJoin(F.broadcast(n_row))
        )
        dim = self.dim
        tri = [
            (t, i, j)
            for t, (i, j) in enumerate(
                (i, j) for i in range(dim) for j in range(i, dim)
            )
        ]
        from _data_engineering_pipeline_project_spark.functions.localrel import (
            local_df,
        )

        tmap = local_df(self.spark, tri, "t int, i0 int, j0 int")
        di = dims.select(
            F.col("i0").alias("__i"), F.col("s").alias("si"), "n"
        )
        dj = dims.select(F.col("i0").alias("__j"), F.col("s").alias("sj"))
        joined = (
            sij.join(F.broadcast(tmap), "t")
            .join(F.broadcast(di), F.col("i0") == F.col("__i"))
            .join(F.broadcast(dj), F.col("j0") == F.col("__j"))
        )
        n = F.col("n")
        scale2 = float(QUANT_SCALE) * float(QUANT_SCALE)
        res = joined.select(
            (F.col("i0") + 1).cast("int").alias("dim_i"),
            (F.col("j0") + 1).cast("int").alias("dim_j"),
            (
                (n * F.col("sij") - F.col("si") * F.col("sj"))
                / (n * n)
                / F.lit(scale2)
            ).alias("cov"),
        )
        if not include_diagonal:
            res = res.filter(F.col("dim_i") != F.col("dim_j"))
        return res

    def model(self) -> dict:
        """The ``pca_fit`` model dict rebuilt from maintained sums —
        same cov doubles, same mean division, same numpy ``eigh`` +
        descending order, so it is BIT-IDENTICAL to
        ``pca_fit(union, method='gram')`` (pinned by test). Feed it to
        ``opq_allocate`` / ``save_opq_index(model=)`` /
        ``IvfOpqIndexMaintainer.bootstrap(model=)`` to re-train an
        index WITHOUT a history scan."""
        import numpy as np

        from _data_engineering_pipeline_project_spark.operators.pca import (
            QUANT_SCALE,
        )

        dim = self.dim
        rows = self.covariance_pairs(include_diagonal=True).collect()
        if not rows:
            raise ValueError("no sums merged yet; model is undefined")
        cov = np.zeros((dim, dim))
        for r in rows:
            cov[r["dim_i"] - 1, r["dim_j"] - 1] = r["cov"]
            cov[r["dim_j"] - 1, r["dim_i"] - 1] = r["cov"]
        sums = self.sums()
        n_row = sums.filter(F.col("kind") == "n").select(
            F.col("val").cast("long").alias("n")
        )
        mean_rows = (
            sums.filter(F.col("kind") == "s")
            .crossJoin(F.broadcast(n_row))
            .select(
                F.col("idx").alias("i0"),
                (
                    F.col("val").cast("double")
                    / F.col("n")
                    / F.lit(float(QUANT_SCALE))
                ).alias("m"),
            )
            .orderBy("i0")
            .collect()
        )  # bounded: d rows
        w, v = np.linalg.eigh(cov)
        order = np.argsort(w)[::-1]
        return {
            "eigenvalues": [float(w[i]) for i in order],
            "components": [[float(x) for x in v[:, i]] for i in order],
            "mean": [float(r["m"]) for r in mean_rows],
            "dim": dim,
        }
