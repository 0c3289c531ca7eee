"""Round-12 registrations (VERDICT r11 brief): filtered ANN at IVF
scale, and the serving face of the maintained IVF-OPQ index.

``embedding_topk_filtered_ivf`` is the scale form of
``embedding_topk_filtered`` (queries_ext5.py): the brute-force variant
pre-filters but still scores the whole class; real vector stores
filter INSIDE the index walk, so only (class ∩ probed lists) is ever
scored. The predicate sits in the probe JOIN CONDITION — below the
candidate scoring, above nothing (see
``operators/similarity.py:topk_cosine_ivf_filtered``). One static
DuckDB twin covers it: the proven IVF oracle with the label carried
through assignment/probes and the equality in the scored stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from _data_engineering_pipeline_project_spark import memo
from _data_engineering_pipeline_project_spark.catalog import table
from _data_engineering_pipeline_project_spark.queries import query

_FILTERED_IVF_SQL = """
    WITH seeds AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cvec,
             md5(CAST(vec_id AS VARCHAR)) AS h
      FROM embeddings ORDER BY h, vec_id LIMIT 8
    ),
    cent AS (
      SELECT CAST(row_number() OVER (ORDER BY h, vec_id) AS INTEGER)
               AS centroid_id, cvec
      FROM seeds
    ),
    cscore AS (
      SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS vec, e.label,
             c.centroid_id,
             round(list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cvec)
                   / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                            CAST(e.embedding AS DOUBLE[])))
                      * sqrt(list_dot_product(c.cvec, c.cvec))), 6) AS cos
      FROM embeddings e, cent c
    ),
    assigned AS (
      SELECT vec_id, vec, label, centroid_id FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                    ORDER BY cos DESC, centroid_id) AS arnk
        FROM cscore) WHERE arnk = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, vec AS qv, label AS qlabel, centroid_id
      FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                    ORDER BY cos DESC, centroid_id) AS arnk
        FROM cscore WHERE vec_id < 10) WHERE arnk <= 2
    ),
    scored AS (
      SELECT p.query_id, a.vec_id AS neighbor_id, a.label,
             round(list_dot_product(a.vec, p.qv)
                   / (sqrt(list_dot_product(a.vec, a.vec))
                      * sqrt(list_dot_product(p.qv, p.qv))), 6) AS cosine
      FROM assigned a JOIN probes p USING (centroid_id)
      WHERE a.vec_id <> p.query_id AND a.label = p.qlabel
    )
    SELECT query_id, neighbor_id, label, cosine, CAST(rnk AS INTEGER) AS rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY cosine DESC, neighbor_id) AS rnk
          FROM scored)
    WHERE rnk <= 5
"""


@query("embedding_topk_filtered_ivf", _FILTERED_IVF_SQL)
def embedding_topk_filtered_ivf(spark: SparkSession, sf: str) -> DataFrame:
    """Filtered vector search AT IVF SCALE: top-5 same-``label``
    neighbors, with the predicate applied inside the index walk — on
    the assigned-lists relation, in the probe join condition, BEFORE
    any candidate cosine (``topk_cosine_ivf_filtered``). The
    brute-force sibling (``embedding_topk_filtered``) is the recall
    reference; this is the 100 TB serving form: candidates per query
    are ~|class ∩ probed lists|, and because no candidate outside the
    class is ever ranked, selective predicates still return the full k
    the probed lists can supply (post-filtering a plain top-k returns
    < k — pinned by test). Deterministic seeds/rounding/tie-breaks
    keep exact oracle parity, filtered edition."""
    from _data_engineering_pipeline_project_spark.operators.similarity import (
        topk_cosine_ivf_filtered,
    )

    emb = table(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return topk_cosine_ivf_filtered(
        emb, queries, k=5, num_centroids=8, nprobe=2, filter_col="label"
    )


# --------------------------------------------------------------------------
# Recall audit of the maintained IVF-OPQ serving path
# --------------------------------------------------------------------------
def _ivfopq_recall_sql() -> str:
    """Deferred twin: the full IVF-OPQ oracle (``queries_ext11._
    ivfopq_sql`` — independently re-derived rotation and all) as one
    CTE, the brute-force exact-cosine twin as another, recall@5 as
    their per-query intersection. Nested WITHs inside CTE bodies are
    legal DuckDB; both building blocks are the already-hash-green
    twins, so the audit inherits their parity."""
    from _data_engineering_pipeline_project_spark.queries_ext import (
        _TOPK_SQL,
    )
    from _data_engineering_pipeline_project_spark.queries_ext11 import (
        _ivfopq_sql,
    )

    return f"""
    WITH approx AS ({_ivfopq_sql()}),
    exact0 AS ({_TOPK_SQL}),
    hits AS (
      SELECT a.query_id, count(*) AS hits
      FROM approx a JOIN exact0 e
        ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
      GROUP BY a.query_id),
    qs AS (SELECT DISTINCT query_id FROM exact0)
    SELECT q.query_id,
           CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
           round(coalesce(h.hits, 0) / 5.0, 6) AS recall
    FROM qs q LEFT JOIN hits h USING (query_id)
"""


@query("ivfopq_recall_audit_embeddings", _ivfopq_recall_sql)  # deferred
def ivfopq_recall_audit_embeddings(spark: SparkSession, sf: str) -> DataFrame:
    """Recall@5 of the MAINTAINED IVF-OPQ serving path against exact
    brute-force cosine ground truth, per query — the serving-quality
    number a deployed vector store tracks next to its drift monitors
    (recall decays as frozen quantizers age; `rebootstrap_decision`
    is the response). Composes two already-green deterministic
    relations: the maintained index's top-5 (session-bootstrapped
    artifacts — warm after the first OPQ-family call) semi-joined
    against the exact top-5; ground truth is queries×corpus ONCE for
    the fixed query panel, never corpus² (the LSH/matryoshka recall-
    audit precedent). Hash-green end to end, which certifies the
    ENTIRE composed serving path — rotation, coarse lists, ADC —
    agrees across engines not just on values but on the quality
    metric derived from them."""
    from _data_engineering_pipeline_project_spark.operators.similarity import (
        topk_cosine_bruteforce,
    )
    from _data_engineering_pipeline_project_spark.queries_ext11 import (
        embedding_topk_ivfopq,
    )

    approx = embedding_topk_ivfopq(spark, sf).select(
        "query_id", "neighbor_id"
    )
    emb = table(spark, sf, "embeddings")
    exact = topk_cosine_bruteforce(
        emb, emb.filter(F.col("vec_id") < 10), k=5, dim=64
    ).select("query_id", "neighbor_id")
    hits = (
        approx.join(exact, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    qs = exact.select("query_id").distinct()
    return qs.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce("hits", F.lit(0)).cast("bigint").alias("hits"),
        F.round(F.coalesce("hits", F.lit(0)) / F.lit(5.0), 6).alias(
            "recall"
        ),
    )


# --------------------------------------------------------------------------
# Maintained dedup clusters (r12 wave 3): ClusterMaintainer, served
# --------------------------------------------------------------------------
# session memo: ONE maintained cluster state per (session, sf) —
# the registered query serves the maintainer's relations instead of a
# per-call batch recompute (the maintained IVF-OPQ economics)
def _cc_maintained(spark: SparkSession, sf: str):
    """The session's maintained cluster state over this sf's MinHash
    pair graph: the shared pair stage is split into three deterministic
    ingest batches (crc32(doc_a) mod 3 — in production each batch is a
    corpus slice's pairs, the DedupMaintainer cadence) and ticked into
    a ``ClusterMaintainer``. WHAT is served is split-independent by the
    maintainer's contract (N ticks == one-shot, bit-for-bit, pinned by
    test), which is exactly why the one-shot recursive-CTE oracle
    checks it."""
    import tempfile

    from _data_engineering_pipeline_project_spark.queries_ext import (
        _minhash_pairs_shared,
    )
    from _data_engineering_pipeline_project_spark.streaming.clustermaint import (
        ClusterMaintainer,
    )

    def build():
        # pinned: one execution per session
        pairs = _minhash_pairs_shared(spark, sf)
        mnt = ClusterMaintainer(spark, tempfile.mkdtemp(prefix="cc_maint_"))
        bucket = F.pmod(
            F.crc32(F.col("doc_a").cast("string").cast("binary")), F.lit(3)
        )
        for i in range(3):
            mnt.merge_batch(pairs.filter(bucket == i), batch_id=i)
        return mnt

    return memo.get(
        spark, ("cc_maint", sf), build, lambda mnt: mnt.destroy()
    )


def _cc_maintained_sql() -> str:
    from _data_engineering_pipeline_project_spark.queries_ext import (
        _MINHASH_PAIRS_CTES,
    )

    return f"""
    WITH RECURSIVE {_MINHASH_PAIRS_CTES},
    ed AS (SELECT doc_a AS a, doc_b AS b FROM dup_pairs
           UNION SELECT doc_b, doc_a FROM dup_pairs),
    reach(id, r) AS (
      SELECT a, b FROM ed
      UNION
      SELECT reach.id, ed.b FROM reach JOIN ed ON reach.r = ed.a
    )
    SELECT id, least(id, min(r)) AS cluster FROM reach GROUP BY id
    """


@query("dedup_clusters_maintained", _cc_maintained_sql)
def dedup_clusters_maintained(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup clusters served from the MAINTAINED state
    (``streaming/clustermaint.py:ClusterMaintainer``) instead of a
    batch transitive-closure job: the pair graph arrives in three
    ingest ticks; each tick contracts its edges through the current
    node→root map, runs CC on the batch-bounded contracted graph, and
    folds root merges into a flat alias relation. Serving is one
    broadcast join (members ⋈ aliases) — the corpus-sized relation is
    scanned, never shuffled, never rewritten per tick. The oracle is
    the ONE-SHOT recursive-CTE twin (same SQL as
    ``dedup_clusters_documents``): hash-parity here certifies the
    incremental decomposition end-to-end, not just row counts.
    Reference: per-run ``drop_duplicates`` (project/etl2.py:150-165);
    this is its cross-batch LLM-corpus extension."""
    return _cc_maintained(spark, sf).clusters()


# --------------------------------------------------------------------------
# Maintained near-dup index (r12 wave 3): NearDupIndexMaintainer, served
# --------------------------------------------------------------------------
def _ndm_maintained(spark: SparkSession, sf: str):
    """The session's maintained near-dup index over this sf's documents:
    two deterministic ingest slices (crc32(doc_id) mod 2 — corpus
    slices in production) ticked into a ``NearDupIndexMaintainer``.
    Served pairs are split-independent by the maintainer's contract
    (pairs() == one-shot minhash_near_dup_pairs over the union,
    bit-for-bit, pinned by test), so the one-shot oracle checks them."""
    import tempfile

    from _data_engineering_pipeline_project_spark.streaming.neardupmaint import (
        NearDupIndexMaintainer,
    )

    def build():
        docs = table(spark, sf, "documents").select("doc_id", "text")
        mnt = NearDupIndexMaintainer(
            spark, tempfile.mkdtemp(prefix="ndm_index_")
        )
        # two ingest slices: a tick has a FIXED scheduling overhead (~5 s
        # after the r13 lineage discipline — was ~18 s; tools/
        # measure_neardup_maint.py) that dwarfs its O(batch) work at
        # registry scale, so the bootstrap uses the fewest ticks that
        # still exercise the cross-batch (batch-bands x stored-bands)
        # path; the unit tests pin the 3-4-batch contract
        bucket = F.pmod(
            F.crc32(F.col("doc_id").cast("string").cast("binary")), F.lit(2)
        )
        for i in range(2):
            mnt.merge_batch(docs.filter(bucket == i), batch_id=i)
        return mnt

    return memo.get(
        spark, ("ndm_index", sf), build, lambda mnt: mnt.destroy()
    )


def _ndm_pairs_sql() -> str:
    from _data_engineering_pipeline_project_spark.queries_ext import (
        _MINHASH_SQL,
    )

    return _MINHASH_SQL


@query("near_dup_pairs_maintained", _ndm_pairs_sql)
def near_dup_pairs_maintained(spark: SparkSession, sf: str) -> DataFrame:
    """Verified near-dup pairs served from the MAINTAINED LSH index
    (``streaming/neardupmaint.py:NearDupIndexMaintainer``): banded
    signatures are computed once per document at its ingest tick and
    STORED — each tick's candidates are within-batch collisions plus
    batch-bands ⋈ stored-bands (index scanned, batch broadcast), with
    exact-Jaccard verification on the candidate sliver only (partner
    texts fetched by broadcast semi lookup, re-shingled — per-doc
    pure). The oracle is the ONE-SHOT MinHash twin (same SQL as
    ``minhash_lsh_near_dup_documents``): hash-parity certifies the
    incremental index — signature storage, cross-tick candidate
    generation, sliver verification — by value, including every
    jaccard double. Hot-shingle capping is a corpus-global statistic
    and deliberately absent here (freeze-at-bootstrap in deployment;
    see the module docstring)."""
    return _ndm_maintained(spark, sf).pairs()


# --------------------------------------------------------------------------
# Maintained stratified eval panel (r12 wave 3): SampleMaintainer, served
# --------------------------------------------------------------------------
def _panel_maintained(spark: SparkSession, sf: str):
    """The session's maintained balanced panel: documents arrive in
    three deterministic ingest slices and tick a stratified
    ``SampleMaintainer`` (bottom-8-by-hash per language). Per-group
    bottom-k is a monoid per stratum, so the served panel is
    split-independent (N ticks == one-shot, pinned by test) — the
    one-shot oracle checks it."""
    import tempfile

    from _data_engineering_pipeline_project_spark.queries_ext11 import (
        _BK_LANG_K,
    )
    from _data_engineering_pipeline_project_spark.streaming.samplemaint import (
        SampleMaintainer,
    )

    def build():
        docs = table(spark, sf, "documents").select(
            "lang", "doc_id", "source", "n_chars"
        )
        mnt = SampleMaintainer(
            spark,
            tempfile.mkdtemp(prefix="panel_maint_"),
            key_col="doc_id",
            k=_BK_LANG_K,
            group_col="lang",
        )
        bucket = F.pmod(
            F.crc32(F.col("doc_id").cast("string").cast("binary")), F.lit(3)
        )
        for i in range(3):
            mnt.merge_batch(docs.filter(bucket == i), batch_id=i)
        return mnt

    return memo.get(
        spark, ("panel_maint", sf), build, lambda mnt: mnt.destroy()
    )


def _panel_sql() -> str:
    from _data_engineering_pipeline_project_spark.queries_ext11 import (
        _BK_LANG_K,
    )

    return f"""
    SELECT lang, doc_id, source, n_chars, CAST(rn AS INTEGER) AS lang_rank
    FROM (SELECT lang, doc_id, source, n_chars,
                 row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)) NULLS FIRST,
                            doc_id NULLS FIRST) AS rn
          FROM documents WHERE doc_id IS NOT NULL)
    WHERE rn <= {_BK_LANG_K}
    """


@query("balanced_panel_maintained", _panel_sql)
def balanced_panel_maintained(spark: SparkSession, sf: str) -> DataFrame:
    """The stratified eval panel served from MAINTAINED state
    (``SampleMaintainer(group_col='lang')``) instead of a batch
    bottom-k: each ingest tick merges its slice's per-language
    bottom-8 into the standing ≤ k-rows-per-language state (monoid per
    stratum — O(batch) heap, merge bounded by 2k rows per group), so a
    100 TB ingest keeps a live balanced panel at k·|langs|-row state
    cost. Serving re-ranks within language (partitioned window — never
    global). Oracle = the one-shot per-language bottom-k twin
    (``bottomk_sample_per_lang_documents``'s SQL): hash-parity
    certifies the maintained panel equals the one-shot panel over
    everything ingested."""
    from pyspark.sql import Window

    samp = _panel_maintained(spark, sf).sample()
    h = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy("lang").orderBy(h, "doc_id")
    return samp.select(
        "lang",
        "doc_id",
        "source",
        "n_chars",
        F.row_number().over(w).cast("int").alias("lang_rank"),
    )


def _keep_list_sql() -> str:
    from _data_engineering_pipeline_project_spark.queries_ext import (
        _MINHASH_PAIRS_CTES,
    )

    return f"""
    WITH RECURSIVE {_MINHASH_PAIRS_CTES},
    ed AS (SELECT doc_a AS a, doc_b AS b FROM dup_pairs
           UNION SELECT doc_b, doc_a FROM dup_pairs),
    reach(id, r) AS (
      SELECT a, b FROM ed
      UNION
      SELECT reach.id, ed.b FROM reach JOIN ed ON reach.r = ed.a
    ),
    labels AS (SELECT id, least(id, min(r)) AS cluster FROM reach GROUP BY id)
    SELECT d.doc_id FROM documents d
    LEFT JOIN labels l ON l.id = d.doc_id
    WHERE l.id IS NULL OR l.cluster = d.doc_id
    """


@query("corpus_keep_list_maintained", _keep_list_sql)
def corpus_keep_list_maintained(spark: SparkSession, sf: str) -> DataFrame:
    """THE curation end product: the fuzzy-deduped corpus keep-list —
    every document that is either untouched by near-duplication or its
    cluster's representative (min id, the deterministic keep-first
    rule) — served from the MAINTAINED index: one broadcast anti-join
    of the corpus against the maintained non-representative set
    (cluster labels where id != cluster, a relation bounded by the
    duplicated sliver, not the corpus). A 100 TB ingest reads this
    instead of re-running transitive closure: the labels are already
    current after every tick. Oracle: the one-shot recursive-CTE
    clusters folded into the same keep rule. Reference parity: this is
    ``drop_duplicates`` (project/etl2.py:150-165) generalized to
    NEAR-duplicates across ingest batches."""
    mnt = _ndm_maintained(spark, sf)
    docs = table(spark, sf, "documents").select("doc_id")
    dropped = (
        mnt.clusters()
        .filter(F.col("id") != F.col("cluster"))
        .select(F.col("id").alias("doc_id"))
    )
    return docs.join(F.broadcast(dropped), "doc_id", "left_anti")


# --------------------------------------------------------------------------
# Maintained SemDeDup (r12 wave 3): SemDeDupMaintainer, served
# --------------------------------------------------------------------------
def _sdd_maintained(spark: SparkSession, sf: str):
    """The session's maintained SemDeDup index over this sf's
    embeddings: centroids frozen at bootstrap with the one-shot's own
    deterministic seeding over the FULL corpus (so the existing SQL
    oracle's seed CTE derives the identical centroid set), then two
    ingest slices ticked against them. Served pairs equal the one-shot
    under frozen centroids (pinned by test)."""
    import tempfile

    from _data_engineering_pipeline_project_spark.streaming.semdedupmaint import (
        SemDeDupMaintainer,
    )

    def build():
        emb = table(spark, sf, "embeddings").select("vec_id", "embedding")
        mnt = SemDeDupMaintainer(
            spark,
            tempfile.mkdtemp(prefix="sdd_index_"),
            num_centroids=16,
            threshold=0.4,
            dim=64,
        )
        mnt.bootstrap(emb)
        bucket = F.pmod(
            F.crc32(F.col("vec_id").cast("string").cast("binary")), F.lit(2)
        )
        for i in range(2):
            mnt.merge_batch(emb.filter(bucket == i), batch_id=i)
        return mnt

    return memo.get(
        spark, ("sdd_index", sf), build, lambda mnt: mnt.destroy()
    )


def _sdd_pairs_sql() -> str:
    # the maintained path serves the IDENTICAL relation, so the batch
    # query's registered oracle is reused verbatim from the registry
    from _data_engineering_pipeline_project_spark.queries import ORACLES

    return ORACLES["semantic_dup_pairs_embeddings"]


@query("semantic_dup_pairs_maintained", _sdd_pairs_sql)
def semantic_dup_pairs_maintained(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup pairs served from the MAINTAINED embedding index
    (``streaming/semdedupmaint.py:SemDeDupMaintainer``) — the
    embedding-space sibling of ``near_dup_pairs_maintained``: centroid
    seeding (the one corpus-global step) is frozen at bootstrap, every
    tick assigns only its batch and pairs it within-batch and against
    the STORED assignments (same-centroid equi-joins, batch broadcast,
    norms persisted once per vector). The oracle is the one-shot
    SemDeDup twin's SQL verbatim: hash-parity certifies the
    frozen-centroid incremental decomposition by value, every cosine
    double included. On drift, re-bootstrap into a fresh base_dir —
    the ``rebootstrap_decision`` loop with the recall floor."""
    return _sdd_maintained(spark, sf).pairs()


def _semantic_keep_list_sql() -> str:
    # the SemDeDup pair CTEs (verbatim from the registered oracle, its
    # final SELECT folded into a CTE) + recursive closure + keep rule
    from _data_engineering_pipeline_project_spark.queries import ORACLES

    pair_sql = ORACLES["semantic_dup_pairs_embeddings"]
    return f"""
    WITH RECURSIVE sem_pairs AS ({pair_sql}),
    ed AS (SELECT vec_a AS a, vec_b AS b FROM sem_pairs
           UNION SELECT vec_b, vec_a FROM sem_pairs),
    reach(id, r) AS (
      SELECT a, b FROM ed
      UNION
      SELECT reach.id, ed.b FROM reach JOIN ed ON reach.r = ed.a
    ),
    labels AS (SELECT id, least(id, min(r)) AS cluster FROM reach GROUP BY id)
    SELECT e.vec_id FROM embeddings e
    LEFT JOIN labels l ON l.id = e.vec_id
    WHERE l.id IS NULL OR l.cluster = e.vec_id
    """


@query("semantic_keep_list_maintained", _semantic_keep_list_sql)
def semantic_keep_list_maintained(spark: SparkSession, sf: str) -> DataFrame:
    """The SemDeDup end product (Abbas et al. 2023 §3: keep ONE
    representative per semantic cluster): every embedding untouched by
    semantic duplication or its cluster's min-id representative,
    served from the MAINTAINED index as one broadcast anti-join
    against the maintained non-representative labels — the embedding-
    space twin of ``corpus_keep_list_maintained``. Oracle: the
    registered SemDeDup pair SQL folded through the recursive closure
    and the same keep rule."""
    mnt = _sdd_maintained(spark, sf)
    emb = table(spark, sf, "embeddings").select("vec_id")
    dropped = (
        mnt.clusters()
        .filter(F.col("id") != F.col("cluster"))
        .select(F.col("id").alias("vec_id"))
    )
    return emb.join(F.broadcast(dropped), "vec_id", "left_anti")
