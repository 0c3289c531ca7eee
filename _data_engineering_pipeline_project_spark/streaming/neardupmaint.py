"""Maintained MinHash-LSH near-dup index: signatures stored once,
pairs and clusters maintained per ingest batch.

``minhash_near_dup_pairs`` is the batch pipeline: shingle → signature →
band → bucket-join → exact-Jaccard verify, over the whole corpus.
``cross_minhash_near_dup`` restricts the candidate join to new×corpus
but still RECOMPUTES the corpus side's signatures every cycle — fine
for a query, wrong for an ingest loop. This maintainer is the missing
production piece: the banded signature relation is the INDEX, written
once per document and appended per batch, so a tick's work is bounded
by the batch:

1. shingle + sign + band the BATCH only (O(batch) — per-doc
   deterministic, which is what makes the index append-only);
2. candidates = within-batch band collisions ∪ batch-bands ⋈ STORED
   bands (the stored side is scanned with the batch side broadcast —
   never recomputed, never reshuffled);
3. exact-Jaccard verify on the candidate sliver: partner documents'
   texts are fetched from the append-only doc store (broadcast semi
   lookup) and re-shingled — a per-doc pure function — then every
   document's shingles are packed into ONE set row, each candidate
   joins its two sets, and ``|a ∩ b| / (|a| + |b| − |a ∩ b|)`` is the
   one-shot pipeline's int/int ratio, so verification is bit-identical
   to it;
4. verified pairs append to the pairs relation and tick the embedded
   ``ClusterMaintainer`` (clustermaint.py), so duplicate-cluster labels
   stay current without any transitive-closure recompute.

Completeness argument (why N ticks == one-shot over the union,
bit-for-bit, pinned by test): band rows are a pure per-document
function, so the stored index equals the one-shot band relation
restricted to ingested docs; any colliding pair (a, b) with b ingested
after a is found at b's tick (batch×stored), same-tick pairs at their
common tick (within-batch), and Jaccard per pair depends only on the
two documents' shingle multisets — identical whichever tick verifies
it. Hence ``pairs()`` equals ``minhash_near_dup_pairs(union)`` exactly
and ``clusters()`` equals the one-shot transitive closure (the
embedded maintainer's own contract).

Hot-shingle capping (``max_shingle_df``, VERDICT r12 #2): the
document-frequency cap is a CORPUS-GLOBAL statistic — applying it per
batch would drop different shingles at different ticks and break
replay determinism. So the maintained form FREEZES the hot-shingle
drop-list at bootstrap (the frozen-quantizer discipline the OPQ/IVF
maintainers use): ``bootstrap_hot_shingles(corpus)`` computes the
drop-list once over the bootstrap corpus with ``drop_hot_shingles``'s
exact counting, persists it as an artifact, and every tick anti-joins
its batch (and partner re-shingles) against that frozen list — so
capped maintained == capped one-shot with the same frozen list,
bit-for-bit (pinned by test). At 100 TB this is the guard that keeps
boilerplate shingles from turning band buckets quadratic; on corpus
drift the list ages like any frozen quantizer — re-bootstrap into a
fresh base_dir (the ``rebootstrap_decision`` loop). Uncapped
(``max_shingle_df=None``, the default) keeps exact parity with the
uncapped one-shot oracle.

Reference parity: the reference dedups per run
(``project/etl2.py:150-165``); this is the cross-batch LLM-corpus
extension — the standing near-dup index a 100 TB ingest maintains.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from _data_engineering_pipeline_project_spark.functions.persist import read_pinned
from _data_engineering_pipeline_project_spark.streaming.versioned import (
    VersionedState,
)


class NearDupIndexMaintainer(VersionedState):
    """Maintain the banded-signature index, verified near-dup pairs, and
    duplicate-cluster labels of everything ingested so far; all three
    served relations equal their one-shot twins over the union of every
    batch, bit-for-bit."""

    _KIND = "near-dup index"
    # per-batch and compacted dirs (``*_b*`` also matches ``*_base_v*``)
    _ORPHANS = (
        "docs_b*/_SUCCESS",
        "bands_b*/_SUCCESS",
        "pairs_b*/_SUCCESS",
        "hot_shingles_v*/_SUCCESS",
    )

    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        shingle_n: int = 3,
        num_hashes: int = 32,
        rows_per_band: int = 2,
        threshold: float = 0.3,
        max_shingle_df: int | None = None,
    ):
        if num_hashes % rows_per_band != 0:
            raise ValueError("num_hashes must be divisible by rows_per_band")
        self.id_col = id_col
        self.text_col = text_col
        self.shingle_n = int(shingle_n)
        self.num_hashes = int(num_hashes)
        self.rows_per_band = int(rows_per_band)
        self.threshold = float(threshold)
        self.max_shingle_df = (
            int(max_shingle_df) if max_shingle_df is not None else None
        )
        self._open(spark, base_dir, version=0, batches=[])
        # written schema per relation (docs/bands/pairs/hot): state reads
        # skip footer inference; a reopened instance infers each once
        self._schemas: dict = {}
        from _data_engineering_pipeline_project_spark.streaming.clustermaint import (
            ClusterMaintainer,
        )

        self._cc = ClusterMaintainer(
            spark, os.path.join(base_dir, "clusters"), "doc_a", "doc_b"
        )

    def _geometry(self) -> dict:
        return {
            "id_col": self.id_col,
            "text_col": self.text_col,
            "shingle_n": self.shingle_n,
            "num_hashes": self.num_hashes,
            "rows_per_band": self.rows_per_band,
            "threshold": self.threshold,
            # the CAP is geometry (it changes every stored band row);
            # the frozen drop-LIST is state (hot_shingles_v1 artifact).
            # None for pre-cap states: meta.get() defaults align.
            "max_shingle_df": self.max_shingle_df,
        }

    # --- served relations ---------------------------------------------------

    def _union_dirs(self, prefix: str) -> DataFrame | None:
        paths = []
        gen = int(self._meta.get(f"{prefix}_gen", 0))
        if gen > 0:
            paths.append(os.path.join(self.base_dir, f"{prefix}_base_v{gen}"))
        for b in self._meta["batches"]:
            p = os.path.join(self.base_dir, f"{prefix}_b{b}")
            if os.path.exists(os.path.join(p, "_SUCCESS")):
                paths.append(p)
        if not paths:
            return None
        return read_pinned(self.spark, paths, self._schemas, prefix)

    def docs(self) -> DataFrame | None:
        """(id, text) — every ingested document, append-only."""
        return self._union_dirs("docs")

    def bands(self) -> DataFrame | None:
        """(id, band, sig) — the standing LSH index, append-only."""
        return self._union_dirs("bands")

    def pairs(self) -> DataFrame:
        """(doc_a, doc_b, jaccard) — verified near-dup pairs over
        everything ingested; equals ``minhash_near_dup_pairs`` over the
        union of every batch, bit-for-bit."""
        got = self._union_dirs("pairs")
        if got is None:
            raise ValueError("no batches merged yet")
        return got

    def clusters(self) -> DataFrame:
        """(id, cluster) duplicate-cluster labels — the embedded
        ``ClusterMaintainer``'s served relation."""
        return self._cc.clusters()

    # --- frozen hot-shingle cap (VERDICT r12 #2) ------------------------------

    def _hot_dir(self) -> str:
        return os.path.join(self.base_dir, "hot_shingles_v1")

    def _hot_list(self) -> DataFrame | None:
        """The frozen drop-list (shingle) — None when uncapped or not
        yet bootstrapped."""
        if int(self._meta.get("hot_gen", 0)) > 0:
            return read_pinned(
                self.spark, [self._hot_dir()], self._schemas, "hot"
            )
        return None

    def bootstrap_hot_shingles(self, corpus_df: DataFrame) -> int:
        """Freeze the hot-shingle drop-list from the bootstrap corpus —
        ONE corpus-global aggregate, persisted as an artifact, applied
        to every subsequent tick. Must run before the first ingest
        tick (a list frozen mid-stream would give early and late
        batches different shingle universes — the replay-determinism
        break the per-batch cap has). Counting is ``drop_hot_shingles``'s
        exact semantics (rows of the shingle relation per shingle >
        max_shingle_df), so capped maintained == capped one-shot with
        the same frozen list, bit-for-bit. Returns the frozen list's
        size (driver-bounded: one count over the hot sliver)."""
        from _data_engineering_pipeline_project_spark.operators.dedup import (
            _shingle_table,
        )

        if self.max_shingle_df is None:
            raise ValueError(
                "maintainer was opened uncapped (max_shingle_df=None); "
                "pass max_shingle_df to the constructor to freeze a "
                "hot-shingle list"
            )
        if self._meta["batches"]:
            raise ValueError(
                f"near-dup index at {self.base_dir} already has ingested "
                "batches; the hot-shingle list must be frozen BEFORE the "
                "first tick (frozen-quantizer discipline) — re-bootstrap "
                "into a fresh base_dir and swap"
            )
        if int(self._meta.get("hot_gen", 0)) > 0:
            raise ValueError(
                f"hot-shingle list at {self.base_dir} is already frozen; "
                "re-bootstrap into a fresh base_dir and swap (the frozen "
                "list is the index's identity)"
            )
        # same null-id filter as merge_batch (review r13): the frozen
        # counts must describe exactly the corpus ticks will ingest,
        # or null-id rows inflate a shingle's df past the cap for docs
        # that never enter the index
        sh = _shingle_table(
            corpus_df.select(self.id_col, self.text_col).filter(
                F.col(self.id_col).isNotNull()
            ),
            self.id_col,
            self.text_col,
            self.shingle_n,
        )
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") > self.max_shingle_df)
            .select("shingle")
        )
        hot.write.mode("overwrite").parquet(self._hot_dir())
        self._commit(hot_gen=1)
        self._schemas["hot"] = hot.schema
        return self._hot_list().count()

    def _apply_hot_cap(
        self, sh: DataFrame, hot: DataFrame | None
    ) -> DataFrame:
        """Anti-join a shingle relation against the frozen drop-list;
        identity when uncapped. Join strategy is left to AQE (the
        ``drop_hot_shingles`` rule): boilerplate lists are usually
        small and broadcast themselves, but a forced hint would pin an
        aggressively-capped web-scale list to the driver (review
        r13)."""
        if hot is None:
            return sh
        return sh.join(hot, "shingle", "left_anti")

    # --- maintenance ----------------------------------------------------------

    def merge_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch hook. Document ids are the dedup identity: rows
        whose id is already ingested are dropped (re-ingest of an id is
        a replay, not new content). All writes are per-batch dirs in
        overwrite mode + a last-committed pointer, so a crash anywhere
        replays idempotently."""
        if self._already_merged(batch_id):
            return
        meta = self._meta
        from _data_engineering_pipeline_project_spark.operators.dedup import (
            _band_frame,
            _shingle_table,
            minhash_wide_signatures,
        )

        idc, txc = self.id_col, self.text_col
        if self.max_shingle_df is not None and (
            int(meta.get("hot_gen", 0)) == 0
        ):
            raise ValueError(
                "maintainer was opened with max_shingle_df="
                f"{self.max_shingle_df} but no frozen hot-shingle list "
                "exists; call bootstrap_hot_shingles(corpus) before the "
                "first tick"
            )
        hot = self._hot_list()
        batch = batch_df.select(idc, txc).filter(F.col(idc).isNotNull())
        docs = self.docs()
        if docs is not None:
            # state scan 1: drop replayed ids (batch side broadcast)
            batch = batch.join(
                docs.select(idc), idc, "left_anti"
            )
        # LINEAGE DISCIPLINE (r13 profiling, SCALE.md): each stage's
        # output is written to its (idempotent, pre-pointer) batch dir
        # and READ BACK, so downstream plans are parquet scans instead
        # of re-compiling/re-optimizing the accumulated pipeline. The
        # tick was fixed-overhead-bound — ~86 AQE jobs per bootstrap at
        # sf0.01, most re-deriving tiny frames through a 15-operator
        # lineage; the round-trip (exact for long/string/double lanes)
        # cut the registry bootstrap ~3x. A crash between a stage write
        # and the pointer commit leaves overwrite-idempotent orphans,
        # exactly as before.
        batch_schema = batch.schema
        batch.write.mode("overwrite").parquet(
            os.path.join(self.base_dir, f"docs_b{batch_id}")
        )
        # read-backs carry the known schema (r14): skips the per-read
        # footer schema-inference job — one fewer 1-task job per seam
        batch = self.spark.read.schema(batch_schema).parquet(
            os.path.join(self.base_dir, f"docs_b{batch_id}")
        )
        sh_b = self._apply_hot_cap(
            _shingle_table(batch, idc, txc, self.shingle_n), hot
        ).persist()
        # (r14: clustering the batch's band rows by sig on write was
        # A/B'd and reverted — the extra shuffle cost ~1.5 s/tick and
        # the hoped read-back parallelism never materialized because
        # openCostInBytes packs the small files back into one split)
        bands_b = _band_frame(
            minhash_wide_signatures(sh_b, idc, self.num_hashes),
            idc,
            self.num_hashes,
            self.rows_per_band,
        )
        bands_b.write.mode("overwrite").parquet(
            os.path.join(self.base_dir, f"bands_b{batch_id}")
        )
        bands_b = self.spark.read.schema(bands_b.schema).parquet(
            os.path.join(self.base_dir, f"bands_b{batch_id}")
        )
        # within-batch candidates (a < b, the one-shot orientation)
        a, b = bands_b.alias("a"), bands_b.alias("b")
        within = a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col(f"a.{idc}") < F.col(f"b.{idc}")),
        ).select(
            F.col(f"a.{idc}").alias("doc_a"),
            F.col(f"b.{idc}").alias("doc_b"),
        )
        # cross candidates: stored index scanned, batch side broadcast
        # (bands() reads only the POINTER's batch list — the dir just
        # written above is not committed yet, so it is not in scope)
        stored = self.bands()
        if stored is not None:
            cross = stored.join(
                F.broadcast(
                    bands_b.select(
                        F.col(idc).alias("__new_id"), "band", "sig"
                    )
                ),
                ["band", "sig"],
            ).select(
                F.least(F.col(idc), F.col("__new_id")).alias("doc_a"),
                F.greatest(F.col(idc), F.col("__new_id")).alias("doc_b"),
            )
            cands = within.unionByName(cross)
        else:
            cands = within
        # ONE dedup over the union (the per-branch dropDuplicates were
        # two extra shuffles for the same set)
        cands = cands.dropDuplicates().persist()
        # partner texts: state scan 2 (candidate ids broadcast), then
        # re-shingle the sliver — per-doc pure, so bit-identical to the
        # one-shot pipeline's shingle rows for those docs
        if docs is not None:
            partner_ids = (
                cands.select(F.col("doc_a").alias(idc))
                .unionByName(cands.select(F.col("doc_b").alias(idc)))
                .distinct()
                .join(F.broadcast(batch.select(idc)), idc, "left_anti")
            )
            partners = docs.join(F.broadcast(partner_ids), idc)
            sh_all = sh_b.unionByName(
                self._apply_hot_cap(
                    _shingle_table(partners, idc, txc, self.shingle_n), hot
                )
            )
        else:
            sh_all = sh_b
        # exact-Jaccard verify on PACKED sets: one shingle-set row per
        # document (the shingle rows are already distinct per doc —
        # ``_shingles_of_tokens`` applies array_distinct — and capped),
        # each candidate joins its two sets, and the intersection size
        # gives the one-shot formula's int/int ratio bit-for-bit;
        # ``common > 0`` keeps the one-shot's shared-shingle join
        # semantics at any threshold.
        packed = sh_all.groupBy(idc).agg(
            F.collect_list("shingle").alias("__set")
        )
        common = F.size(F.array_intersect("__a", "__b"))
        pairs_new = (
            cands.join(
                packed.select(
                    F.col(idc).alias("doc_a"), F.col("__set").alias("__a")
                ),
                "doc_a",
            )
            .join(
                packed.select(
                    F.col(idc).alias("doc_b"), F.col("__set").alias("__b")
                ),
                "doc_b",
            )
            .select(
                "doc_a",
                "doc_b",
                common.alias("common"),
                (F.size("__a") + F.size("__b")).alias("n_ab"),
            )
            .select(
                "doc_a",
                "doc_b",
                "common",
                (F.col("common") / (F.col("n_ab") - F.col("common"))).alias(
                    "jaccard"
                ),
            )
            .filter((F.col("common") > 0) & (F.col("jaccard") >= self.threshold))
            .select("doc_a", "doc_b", "jaccard")
        )
        # docs/bands landed at their stage boundaries above; the pairs
        # write completes the batch's dirs, then the pointer commits
        pairs_new.write.mode("overwrite").parquet(
            os.path.join(self.base_dir, f"pairs_b{batch_id}")
        )
        # tick the embedded cluster maintainer FROM THE COMMITTED FILES
        # (its own watermark makes replays no-ops there too): handing it
        # the live verify lineage made every cluster-tick action
        # re-optimize the whole pipeline — the parquet-backed frame is
        # the same rows with a three-node plan (r13 profiling)
        self._cc.merge_batch(
            self.spark.read.schema(pairs_new.schema).parquet(
                os.path.join(self.base_dir, f"pairs_b{batch_id}")
            ),
            batch_id,
        )
        self._commit(
            version=int(meta["version"]) + 1,
            last_batch_id=batch_id,
            batches=[*meta["batches"], batch_id],
        )
        self._schemas.update(
            docs=batch_schema, bands=bands_b.schema, pairs=pairs_new.schema
        )
        for df in (sh_b, cands):
            df.unpersist()

    def compact(self) -> dict:
        """Fold the per-batch docs/bands/pairs dirs into one base
        generation each and drop them — serving stops paying a
        per-batch-dir listing/footer cost as ingest batches accrete
        (the Bm25Maintainer.compact economics; the embedded cluster
        maintainer compacts itself with ``self._cc.compact()`` on its
        own cadence). Served relations are unchanged (pinned by test).
        Crash-safe: new bases written first, pointer swaps atomically,
        old dirs removed after. On a real table the bands base would
        be written bucketed by (band, sig) and docs by id, turning the
        tick's three state scans into pruned reads."""
        if not self._meta["batches"]:
            return {"folded_batches": 0}
        new_gens = {}
        for prefix, cluster_col in (
            ("docs", self.id_col),
            ("bands", "sig"),
            ("pairs", "doc_a"),
        ):
            rel = self._union_dirs(prefix)
            gen = int(self._meta.get(f"{prefix}_gen", 0)) + 1
            (
                rel.repartition(
                    max(1, self.spark.sparkContext.defaultParallelism // 8)
                )
                .sortWithinPartitions(cluster_col)
                .write.mode("overwrite")
                .parquet(
                    os.path.join(self.base_dir, f"{prefix}_base_v{gen}")
                )
            )
            new_gens[f"{prefix}_gen"] = gen
        old_batches = list(self._meta["batches"])
        old_gens = {
            p: int(self._meta.get(f"{p}_gen", 0))
            for p in ("docs", "bands", "pairs")
        }
        self._commit(batches=[], **new_gens)
        for prefix in ("docs", "bands", "pairs"):
            for b in old_batches:
                shutil.rmtree(
                    os.path.join(self.base_dir, f"{prefix}_b{b}"),
                    ignore_errors=True,
                )
            if old_gens[prefix] > 0:
                shutil.rmtree(
                    os.path.join(
                        self.base_dir, f"{prefix}_base_v{old_gens[prefix]}"
                    ),
                    ignore_errors=True,
                )
        return {"folded_batches": len(old_batches), **new_gens}
