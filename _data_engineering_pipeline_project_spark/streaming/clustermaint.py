"""Incrementally maintained connected components (dedup clusters).

``operators/dedup.py:connected_components`` computes duplicate clusters
as one batch job: min-label propagation (pointer-jumped, checkpointed)
over the whole pair graph. A production ingest does not have "the whole
pair graph" — near-dup pairs arrive per batch (each new slice of corpus
is banded against itself and against the existing corpus, the
``DedupMaintainer`` shape), and recomputing transitive closure over the
FULL edge history every tick is O(history), exactly the cost an
incremental maintainer exists to avoid.

The classic incremental-CC decomposition makes the tick O(batch):
cluster labels are component MINIMA, and minima compose — if every
existing component is represented by its root (= its min id), then the
components of (old graph ∪ batch edges) are the components of the
CONTRACTED graph whose nodes are {touched roots} ∪ {new ids} and whose
edges are the batch edges mapped through node→root. Each merged
component's new min is the min of its member roots' minima, i.e. the
min over all member ids ever seen. So after any number of ticks the
maintained labels are BIT-IDENTICAL to a one-shot
``connected_components`` over the union of all batch edges (pinned by
test) — the same N-ticks == one-shot contract every maintainer in the
family carries.

State (versioned dirs + fsync'd atomic ``_CURRENT`` pointer +
checkpoint-identity guard, ``streaming/versioned.py``):

- ``members`` (append-only): one row ``(id, root0)`` per node, written
  ONCE when the node is first seen, with the component root at insert
  time. Appends land in per-batch dirs; nothing here is ever rewritten
  on a tick — at 100 TB this relation is corpus-sized and a tick that
  rewrote it would be O(state).
- ``aliases_v*`` (small, rewritten per tick): a FLAT map
  ``old_root → new_root`` for roots that later merged into a smaller
  id. Flatness is an invariant, not a hope: a new component label is
  the min over ids the component has ever contained, and a stale root
  was merged away precisely because something smaller joined its
  component — so no new label can equal a stale root, and re-resolving
  the existing map through each tick's merge map (one small join)
  keeps every chain length at 1. The relation is bounded by the number
  of merge EVENTS ever (≤ distinct roots ever, typically a sliver of
  the corpus: most duplicate clusters form and keep their min).

Serving (``clusters()``) is one broadcast join:
``members LEFT JOIN aliases ON root0 = old_root`` with
``cluster = coalesce(new_root, root0)`` — the corpus-sized side is
scanned, never shuffled.

Tick cost: the only state-sized touch is ONE broadcast-semi lookup of
the batch's node ids against ``members`` (the corpus side is scanned
with the batch ids broadcast — the ``DedupMaintainer`` economics; on a
real table, bucketing members by ``id`` turns it into a pruned read).
Everything else — contraction, the CC run itself (adaptive union-find
under the broadcast gate), the alias re-resolve — is bounded by the
BATCH, not the history. ``compact()`` folds the appended member dirs
into one base generation with aliases applied (root0 := resolved) and
empties the alias map, on the table-compaction cadence.

Reference parity: the reference's dedup story is per-run
``drop_duplicates`` (``project/etl2.py:150-165``); this maintainer is
the LLM-corpus extension (cluster identity maintained across ingest
batches) built on the same pair graph the batch queries oracle.
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


class ClusterMaintainer(VersionedState):
    """Maintain connected-component labels over a stream of near-dup
    pair batches; labels equal a one-shot ``connected_components`` over
    the union of every batch merged so far, bit-for-bit."""

    _KIND = "cluster"
    # the batch manifest (WHICH member dirs are live) exists only in the
    # pointer: adopting orphans could resurrect a vacuumed/aborted dir
    _ORPHANS = ("members_b*/_SUCCESS",)  # also matches members_base_v*

    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        a_col: str = "doc_a",
        b_col: str = "doc_b",
    ):
        self.a_col = a_col
        self.b_col = b_col
        self._open(
            spark, base_dir, version=0, batches=[], members_gen=0, aliases_v=0
        )
        # written schema per relation (members/aliases): state reads skip
        # footer inference; a reopened instance infers each once
        self._schemas: dict = {}

    def _geometry(self) -> dict:
        return {"a_col": self.a_col, "b_col": self.b_col}

    # --- state relations ---------------------------------------------------

    def _member_paths(self) -> list[str]:
        paths = []
        gen = int(self._meta.get("members_gen", 0))
        if gen > 0:
            paths.append(os.path.join(self.base_dir, f"members_base_v{gen}"))
        paths.extend(
            os.path.join(self.base_dir, f"members_b{b}")
            for b in self._meta["batches"]
        )
        return paths

    def members(self) -> DataFrame | None:
        """(id, root0) — every node ever seen, with its insert-time root."""
        paths = self._member_paths()
        if not paths:
            return None
        return read_pinned(self.spark, paths, self._schemas, "members")

    def aliases(self) -> DataFrame | None:
        """(old_root, new_root) — flat re-rooting map; None when empty."""
        v = int(self._meta.get("aliases_v", 0))
        if v == 0:
            return None
        return read_pinned(
            self.spark,
            [os.path.join(self.base_dir, f"aliases_v{v}")],
            self._schemas,
            "aliases",
        )

    def clusters(self) -> DataFrame:
        """(id, cluster) for every node ever seen — equals the one-shot
        ``connected_components`` over the union of all merged batches.
        One broadcast join; the member relation is scanned, not
        shuffled."""
        mem = self.members()
        if mem is None:
            raise ValueError("no batches merged yet")
        al = self.aliases()
        if al is None:
            return mem.select("id", F.col("root0").alias("cluster"))
        return (
            mem.join(
                F.broadcast(al), mem.root0 == al.old_root, "left"
            ).select(
                "id",
                F.coalesce("new_root", "root0").alias("cluster"),
            )
        )

    # --- maintenance --------------------------------------------------------

    def merge_batch(self, pairs_df: DataFrame, batch_id: int) -> None:
        """foreachBatch hook: contract the batch's pair edges through the
        current node→root map, run CC on the contracted graph (batch-
        bounded — the adaptive union-find path almost always), append
        the new nodes' member rows, fold the merge map into the flat
        alias relation, commit. Label algebra is idempotent under
        re-merge; the watermark keeps the version chain exactly-once
        like the siblings.

        Adaptive small-batch path (r14, the ``connected_components``
        r5 precedent): a tick whose pair batch fits the broadcast gate
        does the contraction, union-find, member/merge derivation and
        alias fold ON THE DRIVER — identical integer algebra, so the
        committed state is bit-identical (pinned by the N-ticks ==
        one-shot suite) — paying ONE bounded probe collect + ONE
        members lookup (state scanned, batch broadcast — the same
        state touch the distributed tick pays) + two LocalTableScan
        writes, instead of ~15 tiny AQE stage jobs whose per-job driver
        latency dominated the tick (profiled: 1.5-2.3 s wall vs 0.4-0.9
        s summed job time at sf0.1). Batches past the gate take the
        distributed path below, unchanged."""
        if self._already_merged(batch_id):
            return
        meta = self._meta
        from _data_engineering_pipeline_project_spark.operators.dedup import (
            _default_small_graph_edges,
            connected_components,
        )

        pairs = pairs_df.select(
            F.col(self.a_col).alias("a"), F.col(self.b_col).alias("b")
        ).filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        bound = _default_small_graph_edges(self.spark)
        head = pairs.limit(bound + 1).collect()
        if len(head) <= bound:
            # the alias map must also fit on the driver (it is bounded
            # by merge events ever — a sliver by the flatness invariant
            # — but the gate is cheap insurance): oversize falls through
            # to the distributed path
            alias_rows = None
            al = self.aliases()
            if al is not None:
                alias_rows = al.limit(bound + 1).collect()
            if alias_rows is None or len(alias_rows) <= bound:
                self._merge_batch_local(
                    head,
                    alias_rows or [],
                    batch_id,
                    pairs.schema["a"].dataType,
                )
                return
        nodes = (
            pairs.select(F.col("a").alias("id"))
            .unionByName(pairs.select(F.col("b").alias("id")))
            .distinct()
        )
        # the ONE state-sized touch: look up batch ids in members. The
        # batch side broadcasts; members is scanned in place. Resolve
        # stale roots through the (small, broadcast) alias map.
        mem = self.members()
        if mem is None:
            known = None
        else:
            known = mem.join(F.broadcast(nodes), "id")
            al = self.aliases()
            if al is not None:
                known = known.join(
                    F.broadcast(al), known.root0 == al.old_root, "left"
                ).select(
                    "id", F.coalesce("new_root", "root0").alias("root")
                )
            else:
                known = known.select("id", F.col("root0").alias("root"))
        # contract: every endpoint becomes its current root (new nodes
        # are their own root). known is batch-bounded → broadcast.
        if known is not None:
            known = known.persist()  # three consumers below; tiny frame
            known_b = F.broadcast(known)
            ea = pairs.join(
                known_b.withColumnRenamed("id", "a").withColumnRenamed(
                    "root", "ra"
                ),
                "a",
                "left",
            )
            edges = ea.join(
                known_b.withColumnRenamed("id", "b").withColumnRenamed(
                    "root", "rb"
                ),
                "b",
                "left",
            ).select(
                F.coalesce("ra", F.col("a")).alias("src"),
                F.coalesce("rb", F.col("b")).alias("dst"),
            )
        else:
            edges = pairs.select(
                F.col("a").alias("src"), F.col("b").alias("dst")
            )
        edges = edges.filter(F.col("src") != F.col("dst"))
        # nodes of the contracted graph that carry no surviving edge
        # (isolated new node paired only within an existing cluster —
        # impossible; or a batch whose every edge was a self-loop) need
        # no CC pass; handle them by unioning singleton labels below.
        cc = connected_components(edges, a_col="src", b_col="dst")
        # --- new member rows: batch ids never seen before ------------------
        new_ids = (
            nodes
            if known is None
            else nodes.join(
                F.broadcast(known.select("id")), "id", "left_anti"
            )
        )
        new_members = (
            new_ids.join(cc, "id", "left")
            .select(
                "id", F.coalesce("cluster", F.col("id")).alias("root0")
            )
        )
        # --- merge map: existing roots whose label shrank -------------------
        merges = None
        if known is not None:
            old_roots = known.select(F.col("root").alias("id")).distinct()
            merges = (
                cc.join(F.broadcast(old_roots), "id")
                .filter(F.col("cluster") != F.col("id"))
                .select(
                    F.col("id").alias("old_root"),
                    F.col("cluster").alias("new_root"),
                )
            )
        # materialize plans BEFORE touching state dirs. ONE probe action
        # covers both frames (r14, guide §1.2: the previous form paid a
        # separate count() job per frame — two scheduling rounds for
        # counts over already-persisted slivers): union the persisted
        # frames under a side tag and count per side; the job fills both
        # caches, and the writes below reuse them.
        new_members_rows = new_members.persist()
        probe = new_members_rows.select(F.lit(0).alias("__side"))
        if merges is not None:
            merges = merges.persist()
            probe = probe.unionAll(merges.select(F.lit(1).alias("__side")))
        counts = {
            r["__side"]: r["cnt"]
            for r in probe.groupBy("__side")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }
        n_new = int(counts.get(0, 0))
        batches = list(meta["batches"])
        writes = []
        if n_new > 0:
            writes.append(
                lambda: new_members_rows.coalesce(1)
                .write.mode("overwrite")
                .parquet(os.path.join(self.base_dir, f"members_b{batch_id}"))
            )
            batches.append(batch_id)
        aliases_v = int(meta.get("aliases_v", 0))
        if merges is not None:
            # a tick that merged nothing keeps the current alias map
            # untouched — without this gate, ONE early merge made every
            # later tick pay an O(|aliases|) rewrite + version bump
            # forever (r12 review finding)
            if int(counts.get(1, 0)) > 0:
                al = self.aliases()
                if al is not None:
                    # re-resolve existing targets through this tick's
                    # merges (keeps the map flat), then append the new
                    # entries
                    rr = merges.select(
                        F.col("old_root").alias("__m_old"),
                        F.col("new_root").alias("__m_new"),
                    )
                    folded = (
                        al.join(
                            F.broadcast(rr),
                            al.new_root == F.col("__m_old"),
                            "left",
                        )
                        .select(
                            "old_root",
                            F.coalesce("__m_new", "new_root").alias(
                                "new_root"
                            ),
                        )
                        .unionByName(merges)
                    )
                else:
                    folded = merges
                aliases_v += 1
                writes.append(
                    lambda: folded.coalesce(1)
                    .write.mode("overwrite")
                    .parquet(
                        os.path.join(self.base_dir, f"aliases_v{aliases_v}")
                    )
                )
        # the member append and the alias rewrite are independent
        # relations going to independent (idempotent, pre-pointer) dirs:
        # overlap them so the second write's scheduling hides in the
        # first's tail (guide §2.6) — the pointer still commits strictly
        # after both, so crash-anywhere replays exactly as before
        if len(writes) == 1:
            writes[0]()
        elif writes:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=2) as pool:
                list(pool.map(lambda w: w(), writes))
        if merges is not None:
            merges.unpersist()
        self._commit(
            version=int(meta["version"]) + 1,
            last_batch_id=batch_id,
            batches=batches,
            aliases_v=aliases_v,
        )
        if n_new > 0:
            self._schemas["members"] = new_members_rows.schema
        if aliases_v != int(meta.get("aliases_v", 0)):
            self._schemas["aliases"] = folded.schema
        new_members_rows.unpersist()
        if known is not None:
            known.unpersist()
        old_alias = int(meta.get("aliases_v", 0))
        if aliases_v != old_alias and old_alias > 0:
            shutil.rmtree(
                os.path.join(self.base_dir, f"aliases_v{old_alias}"),
                ignore_errors=True,
            )

    def _merge_batch_local(
        self, head, alias_rows, batch_id: int, id_type
    ) -> None:
        """Driver-side tick for a batch that fits the broadcast gate:
        the same contract/CC/derive/fold algebra as the distributed
        path, over plain Python ints — union-find with path compression
        and union-by-min produces the identical min-label components
        (the ``connected_components`` small-graph equivalence), and the
        member/merge/fold derivations are exact integer ops, so the
        committed state is bit-identical. Spark is touched exactly
        twice: the members lookup (state scanned, batch ids broadcast —
        the one state-sized touch the distributed tick also pays) and
        the LocalTableScan writes of the new member / folded alias
        relations."""
        from pyspark.sql.types import StructField, StructType

        from _data_engineering_pipeline_project_spark.functions.localrel import (
            local_df,
        )

        meta = self._meta
        edges0 = [(r["a"], r["b"]) for r in head]
        nodes: set = set()
        for a, b in edges0:
            nodes.add(a)
            nodes.add(b)
        alias_map = {r["old_root"]: r["new_root"] for r in alias_rows}
        # the ONE state-sized touch: look up batch ids in members
        # (members scanned in place, batch ids broadcast), stale roots
        # resolved through the alias map — exactly the distributed
        # tick's `known`
        known: dict = {}
        mem = self.members()
        if mem is not None and nodes:
            nodes_df = local_df(
                self.spark,
                [(n,) for n in sorted(nodes)],
                StructType([StructField("id", id_type, True)]),
            )
            for r in mem.join(F.broadcast(nodes_df), "id").collect():
                r0 = r["root0"]
                known[r["id"]] = alias_map.get(r0, r0)
        # contract + CC: union-find (path compression, union-by-min —
        # component root IS its min id, matching the min-label loop)
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:
                parent[x], x = root, parent[x]
            return root

        cc_nodes: set = set()
        for a, b in edges0:
            src = known.get(a, a)
            dst = known.get(b, b)
            if src == dst:
                continue
            cc_nodes.add(src)
            cc_nodes.add(dst)
            ra, rb = find(src), find(dst)
            if ra != rb:
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        cc = {x: find(x) for x in cc_nodes}
        new_members = [
            (n, cc.get(n, n)) for n in sorted(nodes) if n not in known
        ]
        merges = {}
        for r in set(known.values()):
            c = cc.get(r, r)
            if c != r:
                merges[r] = c
        # writes + pointer commit: same dirs, same schemas, same gates
        # as the distributed path (idempotent pre-pointer dirs, pointer
        # strictly last)
        member_schema = StructType(
            [StructField("id", id_type, True), StructField("root0", id_type, True)]
        )
        alias_schema = StructType(
            [
                StructField("old_root", id_type, True),
                StructField("new_root", id_type, True),
            ]
        )
        batches = list(meta["batches"])
        if new_members:
            local_df(self.spark, new_members, member_schema).write.mode(
                "overwrite"
            ).parquet(
                os.path.join(self.base_dir, f"members_b{batch_id}")
            )
            batches.append(batch_id)
        aliases_v = int(meta.get("aliases_v", 0))
        new_av = aliases_v
        if merges:
            # fold: re-resolve existing targets through this tick's
            # merges (keeps the map flat), then append the new entries;
            # keys are disjoint by the flatness invariant
            folded = {
                old: merges.get(new, new) for old, new in alias_map.items()
            }
            folded.update(merges)
            new_av += 1
            local_df(self.spark, sorted(folded.items()), alias_schema).write.mode(
                "overwrite"
            ).parquet(os.path.join(self.base_dir, f"aliases_v{new_av}"))
        self._commit(
            version=int(meta["version"]) + 1,
            last_batch_id=batch_id,
            batches=batches,
            aliases_v=new_av,
        )
        if new_members:
            self._schemas["members"] = member_schema
        if new_av != aliases_v:
            self._schemas["aliases"] = alias_schema
        if new_av != aliases_v and aliases_v > 0:
            shutil.rmtree(
                os.path.join(self.base_dir, f"aliases_v{aliases_v}"),
                ignore_errors=True,
            )

    def compact(self) -> dict:
        """Fold the appended member dirs into one base generation with
        aliases APPLIED (root0 := resolved root) and empty the alias
        map — serving stops paying per-batch-dir listing/footer cost
        and the broadcast join disappears until the next merge event.
        Served clusters are unchanged (pinned by test). Crash-safe:
        new base written first, pointer swaps atomically, old dirs
        removed after."""
        if not self._meta["batches"] and int(
            self._meta.get("aliases_v", 0)
        ) == 0:
            return {"folded_batches": 0}
        resolved = self.clusters().select(
            "id", F.col("cluster").alias("root0")
        )
        gen = int(self._meta.get("members_gen", 0)) + 1
        new_base = os.path.join(self.base_dir, f"members_base_v{gen}")
        resolved.write.mode("overwrite").parquet(new_base)
        self._schemas["members"] = resolved.schema
        old_batches = list(self._meta["batches"])
        old_gen = int(self._meta.get("members_gen", 0))
        old_alias = int(self._meta.get("aliases_v", 0))
        self._commit(batches=[], members_gen=gen, aliases_v=0)
        for b in old_batches:
            shutil.rmtree(
                os.path.join(self.base_dir, f"members_b{b}"),
                ignore_errors=True,
            )
        if old_gen > 0:
            shutil.rmtree(
                os.path.join(self.base_dir, f"members_base_v{old_gen}"),
                ignore_errors=True,
            )
        if old_alias > 0:
            shutil.rmtree(
                os.path.join(self.base_dir, f"aliases_v{old_alias}"),
                ignore_errors=True,
            )
        return {"folded_batches": len(old_batches), "members_gen": gen}
