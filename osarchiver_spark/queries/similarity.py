"""Similarity-search queries over ``embeddings`` (north-star).

Brute-force top-k gets an exact DuckDB oracle (ranking on rounded
cosine with id tie-break is engine-reproducible). The ANN variants
(hyperplane LSH, IVF) are registered in FULL-RECALL oracle mode —
probe depth swept until they reproduce the exact ranking on the
fixtures — so all three share the same brute-force oracle; the
cheaper production probe depths keep their recall pinned in
tests/test_similarity.py and tests/test_ivf.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osarchiver_spark.functions.vectors import as_double, norm
from osarchiver_spark.operators.similarity import brute_force_topk, lsh_topk
from osarchiver_spark.sources.parquet import load_table

QUERY_MOD = 100  # vec_id % 100 == 0 → small deterministic query set
TOP_K = 5
EMBED_DIM = 64


def q_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % QUERY_MOD == 0)
    return brute_force_topk(emb, queries, "vec_id", "embedding", k=TOP_K)


# Oracle-mode ANN parameters: probe depths swept at sf0.001/sf0.01
# until recall vs brute force hit 1.0 (the hyperplanes/centroid seeds
# are deterministic, so the sweep result is stable run-to-run). This
# gives both ANN queries the EXACT brute-force oracle — the same trick
# that made dedup_embedding oracle-matchable. The fixture embeddings
# are near-uniform random (ANN worst case: top neighbors at cosine
# ≈0.45), which is why full recall needs near-exhaustive probing here;
# production parameters on clustered real embeddings are far cheaper
# (lsh probe_hamming=2, ivf nprobe=4 — operator defaults) and their
# recall/cost tradeoff is pinned in tests/test_similarity.py and
# tests/test_ivf.py.
LSH_ORACLE_PROBE_HAMMING = 5
IVF_ORACLE_NPROBE = 16  # == n_clusters: probe everything => exact

# Explicit read-back schemas for the persisted index stores (r11
# optimization round): schema inference on read-back cost a
# driver-side footer job per chain, and the partition-column type
# inference forced a cast — the store layouts are fixed by
# ivf_index/ivf_pq_index, so the reads declare them (cid arrives int
# directly; guide §6 "verify pruning/pushdown", inference adds
# nothing but latency here).
from osarchiver_spark.operators.ivf import IVF_STORE_SCHEMA  # noqa: E402
from osarchiver_spark.operators.pq import PQ_STORE_SCHEMA  # noqa: E402


def q_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % QUERY_MOD == 0)
    return lsh_topk(
        emb,
        queries,
        "vec_id",
        "embedding",
        dim=EMBED_DIM,
        k=TOP_K,
        probe_hamming=LSH_ORACLE_PROBE_HAMMING,
    )


def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osarchiver_spark.operators.ivf import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % QUERY_MOD == 0)
    return ivf_topk(
        emb,
        queries,
        "vec_id",
        "embedding",
        k=TOP_K,
        n_clusters=16,
        nprobe=IVF_ORACLE_NPROBE,
    )


def _staged_store_build(standing_index: DataFrame, drop_index: DataFrame, idx_dir: str) -> None:
    """Write the standing store and the drop batch CONCURRENTLY (r12
    optimization round, guide §2.6 + the staged-publish discipline):
    concurrent writers to one parquet root are unsafe, so the drop
    batch lands in its own staging root while the standing overwrite
    runs, and its cid=* part files are then MOVED into the standing
    layout — a metadata-only publish. Row-identical to the former
    sequential ``mode("append")`` (same two write batches under the
    same frozen models; Spark part-file names carry a job-unique UUID
    so moves cannot collide), but the drop's scan/assign/encode job no
    longer waits behind the standing write's commit — the commit wall
    this removes locally is the same one a 100 TB store append pays.
    Re-certified against the append==one-shot oracle by every ANN
    chain's bit-exact parity run.

    Implementation is local-fs (os.replace): the chain stores always
    live under the local temp dir. On HDFS/object stores the same
    publish is a FileSystem.rename / manifest swap — the discipline,
    not the syscall, is what transfers."""
    import os
    import shutil

    from osarchiver_spark.session import overlap

    # a crash between the staged write and the publish below leaves the
    # staging root behind; it is a ``__`` sibling of a scratch dir, so
    # the exit reaper removes it (queries/dedup.py::_app_scratch_dir)
    stage_dir = idx_dir.rstrip("/") + "__stage"
    overlap(
        standing_index.sparkSession,
        lambda: standing_index.write.mode("overwrite").partitionBy("cid").parquet(idx_dir),
        lambda: drop_index.write.mode("overwrite").partitionBy("cid").parquet(stage_dir),
    )
    for entry in os.listdir(stage_dir):
        if not entry.startswith("cid="):
            continue  # root _SUCCESS/marker files stay behind
        src = os.path.join(stage_dir, entry)
        dst = os.path.join(idx_dir, entry)
        os.makedirs(dst, exist_ok=True)
        for fname in os.listdir(src):
            os.replace(os.path.join(src, fname), os.path.join(dst, fname))
    shutil.rmtree(stage_dir, ignore_errors=True)


def build_and_probe_ivf(
    spark: SparkSession,
    sf_dir: str,
    queries: DataFrame,
    nprobe: int,
    dir_prefix: str,
    n_clusters: int = 16,
) -> DataFrame:
    """Shared build+probe chain for the persisted IVF index (used by
    both the registered ``knn_ivf_indexed`` query and bench.py's
    production-depth override, so the benched path cannot drift from
    the adjudicated one): train centroids on the full corpus, build
    the cid-partitioned inverted file from the standing 90%, APPEND
    the 10% drop's assignments under FROZEN centroids (FAISS
    ``IndexIVF.add`` semantics), read the index back, probe at
    ``nprobe``. The probe's batch-contract count (a one-job scan of
    the query side) is independent of the fit, so it runs as a
    concurrent driver-thread job and is handed to the probe as
    ``batch_rows`` (guide §2.6; the guard math is unchanged)."""
    from osarchiver_spark.operators.ivf import (
        INDEXED_PROBE_MAX_QUERIES,
        guard_batch,
        ivf_index,
        ivf_topk_indexed,
        kmeans_fit,
        prep_indexed_probe,
    )
    from osarchiver_spark.queries.dedup import _app_scratch_dir
    from osarchiver_spark.session import overlap

    emb = load_table(spark, sf_dir, "embeddings")
    centroids, batch_rows = overlap(
        spark,
        lambda: kmeans_fit(emb, "vec_id", "embedding", k=n_clusters),
        lambda: queries.limit(INDEXED_PROBE_MAX_QUERIES + 1).count(),
    )
    # enforce the batch contract BEFORE the probe frame is prepped in
    # a side thread: an oversized batch must fail fast, not after its
    # queries×nprobe frame was materialized into executor storage
    guard_batch(queries, INDEXED_PROBE_MAX_QUERIES, "ivf_topk_indexed", batch_rows)

    idx_dir = _app_scratch_dir(spark, sf_dir, dir_prefix)
    standing = emb.filter(F.col("vec_id") % 10 != 3)
    drop = emb.filter(F.col("vec_id") % 10 == 3)
    # the query-side probe (model + queries only) shares no inputs
    # with the store writes — run it as a concurrent driver-thread
    # job that back-fills the writes' task tails (guide §2.6); the
    # standing write and the drop's staged write overlap too
    _, prepped = overlap(
        spark,
        lambda: _staged_store_build(
            ivf_index(standing, "vec_id", "embedding", centroids),
            ivf_index(drop, "vec_id", "embedding", centroids),
            idx_dir,
        ),
        lambda: prep_indexed_probe(queries, "vec_id", "embedding", centroids, nprobe),
    )
    index = spark.read.schema(IVF_STORE_SCHEMA).parquet(idx_dir)
    return ivf_topk_indexed(
        index, queries, "vec_id", "embedding", centroids, k=TOP_K, nprobe=nprobe,
        batch_rows=batch_rows, prepped=prepped,
    )


def q_knn_ivf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED-index IVF chain: train centroids once, build the
    inverted file from the standing corpus, APPEND a later drop's
    assignments (frozen centroids — FAISS IndexIVF.add semantics),
    read the cid-partitioned index back, and probe it. Per-drop ANN
    cost is probe-shaped (only probed cid partitions are read; the
    cid IN pushdown is plan-pinned in tests/test_plans.py), the
    vector analog of dedup_incremental_indexed's band index.

    Runs at full-recall oracle depth (nprobe == n_clusters) like the
    other ANN entries, so the exact brute-force ranking is its
    oracle; production nprobe recall is pinned in tests/test_ivf.py.
    The two-batch append is part of the REGISTERED query on purpose:
    the oracle match certifies that append == one-shot build."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % QUERY_MOD == 0)
    return build_and_probe_ivf(
        spark, sf_dir, queries, nprobe=IVF_ORACLE_NPROBE, dir_prefix="ivf_index_"
    )


# PQ oracle mode: probe all cells AND shortlist everything => the
# exact cosine re-rank sees every candidate, so the brute-force
# ranking survives regardless of ADC noise — the same "disable the
# lossy stage" convention as IVF_ORACLE_NPROBE above (on the fixture's
# near-uniform embeddings no affordable shortlist reaches recall 1.0:
# swept 32→256 gave 0.56→0.92). The encode/probe/ADC/re-rank machinery
# still runs end-to-end and must be exact for the hash to match;
# production pruning (nprobe=4, shortlist=32) is recall-tested in
# tests/test_pq.py.
PQ_ORACLE_SHORTLIST = 1_000_000


def q_knn_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osarchiver_spark.operators.pq import ivf_pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % QUERY_MOD == 0)
    return ivf_pq_topk(
        emb,
        queries,
        "vec_id",
        "embedding",
        k=TOP_K,
        n_clusters=16,
        nprobe=IVF_ORACLE_NPROBE,
        shortlist=PQ_ORACLE_SHORTLIST,
    )


def build_and_probe_ivf_pq(
    spark: SparkSession,
    sf_dir: str,
    queries: DataFrame,
    nprobe: int,
    shortlist: int,
    dir_prefix: str,
    n_clusters: int = 16,
    m: int = 16,
    codes: int = 16,
) -> DataFrame:
    """Shared build+probe chain for the PERSISTED IVF-PQ index (used
    by both the registered ``knn_ivf_pq_indexed`` query and bench.py's
    production-depth override): train coarse quantizer + codebooks
    once (one fused Lloyd's loop), write the standing corpus's PQ
    CODES cid-partitioned, APPEND the drop's codes under FROZEN
    models (FAISS ``IndexIVFPQ.add`` semantics), read the code index
    back, probe = partition-pruned ADC over codes + exact re-rank of
    the shortlist only against the source table's full vectors — the
    FAISS IVFPQ on-disk shape, the configuration a 100 TB embedding
    corpus serves from (codes are ~16 ints vs 64 doubles per vector;
    the probe reads nprobe/n_clusters of THAT). The probe's
    batch-contract count runs concurrently with the fit (guide §2.6)
    and is handed to the probe as ``batch_rows``."""
    from osarchiver_spark.operators.ivf import INDEXED_PROBE_MAX_QUERIES
    from osarchiver_spark.operators.pq import (
        _unit_expr,
        ivf_pq_index,
        ivf_pq_topk_indexed,
        pq_joint_fit,
    )
    from osarchiver_spark.queries.dedup import _app_scratch_dir
    from osarchiver_spark.session import overlap

    emb = load_table(spark, sf_dir, "embeddings")
    emb_n = emb.select(F.col("vec_id"), _unit_expr("embedding").alias("_uv"))
    (coarse, books), batch_rows = overlap(
        spark,
        lambda: pq_joint_fit(
            emb_n, "vec_id", "_uv", n_clusters=n_clusters, m=m, codes=codes
        ),
        lambda: queries.limit(INDEXED_PROBE_MAX_QUERIES + 1).count(),
    )
    # fail oversized batches BEFORE the probe frame is prepped in a
    # side thread (the guard exists to precede that materialization)
    from osarchiver_spark.operators.ivf import guard_batch

    guard_batch(queries, INDEXED_PROBE_MAX_QUERIES, "ivf_pq_topk_indexed", batch_rows)

    idx_dir = _app_scratch_dir(spark, sf_dir, dir_prefix)
    standing = emb.filter(F.col("vec_id") % 10 != 3)
    drop = emb.filter(F.col("vec_id") % 10 == 3)
    # probe leg (model + queries only) concurrent with the code-store
    # writes (guide §2.6); standing + staged drop writes overlap too
    from osarchiver_spark.operators.pq import prep_pq_indexed_probe

    _, prepped = overlap(
        spark,
        lambda: _staged_store_build(
            ivf_pq_index(standing, "vec_id", "embedding", coarse, books),
            ivf_pq_index(drop, "vec_id", "embedding", coarse, books),
            idx_dir,
        ),
        lambda: prep_pq_indexed_probe(queries, "vec_id", "embedding", coarse, nprobe),
    )
    index = spark.read.schema(PQ_STORE_SCHEMA).parquet(idx_dir)
    return ivf_pq_topk_indexed(
        index, queries, emb, "vec_id", "embedding", coarse, books,
        k=TOP_K, nprobe=nprobe, shortlist=shortlist, batch_rows=batch_rows,
        prepped=prepped,
    )


def q_knn_ivf_pq_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted COMPRESSED-index serving chain adjudicated
    end-to-end: PQ codes (not vectors) written cid-partitioned,
    frozen-model append, partition-pruned ADC probe, exact re-rank.
    Runs at the established full-recall oracle split (probe every
    cell + shortlist everything ⇒ the exact brute-force ranking is
    the oracle; the lossy stages' machinery still runs and must be
    exact for the hash to match). Production pruning depth
    (nprobe=4, shortlist=32) is recall-tested in tests/test_pq.py
    and benched via the same build_and_probe_ivf_pq chain."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % QUERY_MOD == 0)
    return build_and_probe_ivf_pq(
        spark,
        sf_dir,
        queries,
        nprobe=IVF_ORACLE_NPROBE,
        shortlist=PQ_ORACLE_SHORTLIST,
        dir_prefix="ivfpq_index_",
    )


def build_and_migrate_ivf(
    spark: SparkSession,
    sf_dir: str,
    queries: DataFrame,
    nprobe: int,
    dir_prefix: str,
) -> DataFrame:
    """Shared retrain/migration chain (used by both the registered
    ``knn_ivf_reindexed`` query and bench.py's production-depth
    override, so the benched path cannot drift): build the persisted
    store under a deliberately-different OLD model (k=8 centroids fit
    on half the corpus), append a drop under it (frozen-model
    maintenance), then retrain on the full corpus (k=16) and
    ``ivf_reindex`` the standing store into a NEW cid-partitioned
    layout — the FAISS retrain discipline (a new ``train()``
    invalidates assignments; re-``add`` everything) — and probe the
    migrated store at ``nprobe``.

    The OLD-model leg (fit k=8 on half the corpus, build + append the
    old-layout store) and the NEW-model fit are mutually independent,
    so they run as concurrent driver-thread jobs (guide §2.6: actions
    are only sequential because the driver calls them sequentially) —
    each leg's own job chain, and therefore its math, is untouched."""
    from osarchiver_spark.operators.ivf import (
        INDEXED_PROBE_MAX_QUERIES,
        ivf_index,
        ivf_reindex,
        ivf_topk_indexed,
        kmeans_fit,
    )
    from osarchiver_spark.queries.dedup import _app_scratch_dir
    from osarchiver_spark.session import overlap

    emb = load_table(spark, sf_dir, "embeddings")
    old_dir = _app_scratch_dir(spark, sf_dir, dir_prefix, "old")
    new_dir = _app_scratch_dir(spark, sf_dir, dir_prefix, "new")

    standing = emb.filter(F.col("vec_id") % 10 != 3)
    drop = emb.filter(F.col("vec_id") % 10 == 3)

    def _old_store_leg() -> None:
        old_model = kmeans_fit(
            emb.filter(F.col("vec_id") % 2 == 0), "vec_id", "embedding", k=8
        )
        _staged_store_build(
            ivf_index(standing, "vec_id", "embedding", old_model),
            ivf_index(drop, "vec_id", "embedding", old_model),
            old_dir,
        )

    _, new_model, batch_rows = overlap(
        spark,
        _old_store_leg,
        lambda: kmeans_fit(emb, "vec_id", "embedding", 16),
        lambda: queries.limit(INDEXED_PROBE_MAX_QUERIES + 1).count(),
    )

    from osarchiver_spark.operators.ivf import guard_batch, prep_indexed_probe

    guard_batch(queries, INDEXED_PROBE_MAX_QUERIES, "ivf_topk_indexed", batch_rows)

    old_store = spark.read.schema(IVF_STORE_SCHEMA).parquet(old_dir)
    # probe leg needs only the NEW model + queries: concurrent with
    # the reindex write (guide §2.6)
    _, prepped = overlap(
        spark,
        lambda: ivf_reindex(old_store, new_model).write.mode("overwrite").partitionBy(
            "cid"
        ).parquet(new_dir),
        lambda: prep_indexed_probe(queries, "vec_id", "embedding", new_model, nprobe),
    )
    migrated = spark.read.schema(IVF_STORE_SCHEMA).parquet(new_dir)
    return ivf_topk_indexed(
        migrated, queries, "vec_id", "embedding", new_model,
        k=TOP_K, nprobe=nprobe, batch_rows=batch_rows, prepped=prepped,
    )


def q_knn_ivf_reindexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RETRAIN/MIGRATION chain adjudicated end-to-end (r09 verdict
    item 1) — see :func:`build_and_migrate_ivf`. The migrated store is
    probed at full-recall depth (nprobe == n_clusters), so the exact
    brute-force ranking is the oracle: a hash match certifies that
    migration preserved membership and vectors exactly AND that the
    re-assigned layout serves correctly. Production-depth behavior
    (recall/cell balance/read amplification before vs after retrain)
    is pinned in tests/test_ivf.py and measured at sf10 in SCALE.md
    (BENCH_SF10_REINDEX.json)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % QUERY_MOD == 0)
    return build_and_migrate_ivf(
        spark, sf_dir, queries, nprobe=IVF_ORACLE_NPROBE, dir_prefix="ivf_reidx_"
    )


def build_and_migrate_ivf_pq(
    spark: SparkSession,
    sf_dir: str,
    queries: DataFrame,
    nprobe: int,
    shortlist: int,
    dir_prefix: str,
) -> DataFrame:
    """Shared PQ retrain/migration chain (registered query + bench
    override, no drift): build the COMPRESSED store under a
    deliberately-different OLD model (coarse k=8 + codebooks fit on
    half the corpus), append a drop under it, retrain on the full
    corpus (k=16), ``ivf_pq_reindex`` the standing code store into a
    NEW layout (id semi-join re-fetch + re-encode — the code index
    holds no vectors), and probe the migrated store at ``nprobe`` /
    ``shortlist``.

    The OLD-model leg (fit + build + append the old-layout code
    store) and the NEW-model fit are independent, so they run as
    concurrent driver-thread jobs (guide §2.6) — each leg's own job
    chain, and therefore its math, is untouched."""
    from osarchiver_spark.operators.pq import (
        _unit_expr,
        ivf_pq_index,
        ivf_pq_reindex,
        ivf_pq_topk_indexed,
        pq_joint_fit,
    )
    from osarchiver_spark.operators.ivf import INDEXED_PROBE_MAX_QUERIES
    from osarchiver_spark.queries.dedup import _app_scratch_dir
    from osarchiver_spark.session import overlap

    emb = load_table(spark, sf_dir, "embeddings")
    emb_n = emb.select(F.col("vec_id"), _unit_expr("embedding").alias("_uv"))
    old_dir = _app_scratch_dir(spark, sf_dir, dir_prefix, "old")
    new_dir = _app_scratch_dir(spark, sf_dir, dir_prefix, "new")

    standing = emb.filter(F.col("vec_id") % 10 != 3)
    drop = emb.filter(F.col("vec_id") % 10 == 3)

    def _old_store_leg() -> None:
        coarse_a, books_a = pq_joint_fit(
            emb_n.filter(F.col("vec_id") % 2 == 0), "vec_id", "_uv",
            n_clusters=8, m=16, codes=16,
        )
        _staged_store_build(
            ivf_pq_index(standing, "vec_id", "embedding", coarse_a, books_a),
            ivf_pq_index(drop, "vec_id", "embedding", coarse_a, books_a),
            old_dir,
        )

    _, (coarse_b, books_b), batch_rows = overlap(
        spark,
        _old_store_leg,
        lambda: pq_joint_fit(emb_n, "vec_id", "_uv", 16, 3, 16, 16),
        lambda: queries.limit(INDEXED_PROBE_MAX_QUERIES + 1).count(),
    )

    from osarchiver_spark.operators.ivf import guard_batch
    from osarchiver_spark.operators.pq import prep_pq_indexed_probe

    guard_batch(queries, INDEXED_PROBE_MAX_QUERIES, "ivf_pq_topk_indexed", batch_rows)

    old_store = spark.read.schema(PQ_STORE_SCHEMA).parquet(old_dir)
    # probe leg needs only the NEW model + queries: concurrent with
    # the re-encode/migrate write (guide §2.6)
    _, prepped = overlap(
        spark,
        lambda: ivf_pq_reindex(
            old_store, emb, "vec_id", "embedding", coarse_b, books_b
        ).write.mode("overwrite").partitionBy("cid").parquet(new_dir),
        lambda: prep_pq_indexed_probe(queries, "vec_id", "embedding", coarse_b, nprobe),
    )
    migrated = spark.read.schema(PQ_STORE_SCHEMA).parquet(new_dir)
    return ivf_pq_topk_indexed(
        migrated, queries, emb, "vec_id", "embedding", coarse_b, books_b,
        k=TOP_K, nprobe=nprobe, shortlist=shortlist, batch_rows=batch_rows,
        prepped=prepped,
    )


def q_knn_ivf_pq_reindexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPRESSED-store retrain/migration chain adjudicated
    end-to-end — the PQ twin of knn_ivf_reindexed (see
    :func:`build_and_migrate_ivf_pq`). Probed at the established
    full-recall oracle split (every cell + shortlist everything), so
    the exact brute-force ranking is the oracle: a hash match
    certifies the id semi-join re-fetch preserved membership exactly
    AND the re-encoded codes serve correctly. Fingerprint identity
    with a fresh build is pinned in tests/test_pq.py; sf10 walls in
    BENCH_SF10_PQ_REINDEX.json."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % QUERY_MOD == 0)
    return build_and_migrate_ivf_pq(
        spark, sf_dir, queries,
        nprobe=IVF_ORACLE_NPROBE, shortlist=PQ_ORACLE_SHORTLIST,
        dir_prefix="ivfpq_reidx_",
    )


def q_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN weak labeling: predict each query vector's label by
    majority vote over its TOP_K exact cosine neighbors (vote-count
    desc, label asc tie-break — fully deterministic), reported next
    to the true label — the semi-supervised label-propagation /
    label-denoising primitive a training pipeline runs over an
    embedded corpus. Composition: the brute-force ranking (one BLAS
    scoring pass, no join), a neighbor→label equi-join against the
    corpus (AQE broadcasts the small side), one count agg and a
    per-query top-1 window."""
    from pyspark.sql import Window as W

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % QUERY_MOD == 0)
    topk = brute_force_topk(emb, queries, "vec_id", "embedding", k=TOP_K)
    labels = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("label").alias("n_label"))
    votes = (
        topk.join(labels, "neighbor_id")
        .groupBy("query_id", "n_label")
        .agg(F.count("*").alias("votes"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("votes"), F.col("n_label"))
    best = votes.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)
    truth = emb.select(F.col("vec_id").alias("query_id"), F.col("label").alias("true_label"))
    return best.join(truth, "query_id").select(
        "query_id",
        F.col("n_label").alias("pred_label"),
        F.col("votes").cast("int").alias("votes"),
        "true_label",
        (F.col("n_label") == F.col("true_label")).alias("correct"),
    )


def q_vector_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        "label",
        F.size("embedding").alias("dim"),
        F.round(norm(as_double(F.col("embedding"))), 6).alias("l2_norm"),
    )


def q_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding stats — the 'cluster profile' aggregation."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = norm(as_double(F.col("embedding")))
    return (
        emb.select("label", n.alias("nrm"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("nrm"), 6).alias("avg_norm"),
            F.round(F.min("nrm"), 6).alias("min_norm"),
            F.round(F.max("nrm"), 6).alias("max_norm"),
        )
    )


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean vector — the centroid computation behind IVF
    init, label denoising and class-prototype dedup. Emitted as
    exploded (label, dim, centroid) rows: sortable/hashable for the
    driver's canonicalizer (arrays are not — the frame_sample
    lesson), and re-assembly is a downstream array_agg away. Shape at
    100 TB: posexplode → one map-combinable (label, dim) hash agg —
    64·|labels| output rows, linear scan, no join."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode(as_double(F.col("embedding"))).alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(F.round(F.avg("v"), 6).alias("centroid"), F.count("*").alias("n_vecs"))
        .select("label", F.col("dim").cast("int").alias("dim"), "centroid", "n_vecs")
    )


def q_embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension int8 scalar quantization of the embedding table —
    the compression step an ANN index applies before serving (4× the
    density of float32). One posexplode, per-dimension min/max
    aggregate broadcast back, quantize/reconstruct in codegen, and a
    per-dimension error report proving the codec's bound. At 100 TB
    the explode is the only data-sized pass; the dim stats are
    |dims| rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "v")
    ).select("vec_id", (F.col("pos") + 1).alias("dim"), F.col("v").cast("double").alias("v"))
    stats = e.groupBy("dim").agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    scale = (F.col("mx") - F.col("mn")) / 255.0
    q = F.when(scale == 0, F.lit(0)).otherwise(
        F.round((F.col("v") - F.col("mn")) / scale, 0)
    )
    recon = F.col("mn") + q * scale
    err = F.abs(F.col("v") - recon)
    return (
        e.join(F.broadcast(stats), "dim")
        .groupBy("dim")
        .agg(
            F.round(F.first("mn"), 6).alias("dim_min"),
            F.round(F.first("mx"), 6).alias("dim_max"),
            F.round(F.max(err), 6).alias("max_abs_err"),
            F.round(F.avg(err), 6).alias("mean_abs_err"),
        )
    )



NEG_K = 3


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: each query
    vector's top-NEG_K most-similar neighbors whose LABEL DIFFERS —
    the near-but-wrong examples a retrieval/embedding trainer needs.
    Shape: the 10-row distinct-label dim joins each query to its 9
    negative label groups (model-sized broadcast), then the per-label
    cogrouped BLAS scorer emits group-local top-k and one global
    window finishes — the corpus is scored once per foreign label
    group, never all-pairs against itself."""
    from pyspark.sql import Window as W

    from osarchiver_spark.operators.blas import cogroup_topk_cosine

    emb = load_table(spark, sf_dir, "embeddings")
    labels = emb.select(F.col("label").alias("neg_label")).distinct()
    q = emb.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        as_double(F.col("embedding")).alias("qv"),
        "label",
    )
    probed = q.join(
        F.broadcast(labels), F.col("neg_label") != F.col("label")
    ).select("query_id", "qv", F.col("neg_label").alias("lbl"))
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        as_double(F.col("embedding")).alias("v"),
        F.col("label").alias("lbl"),
    )
    local = cogroup_topk_cosine(probed, corpus, "lbl", NEG_K)
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= NEG_K)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


QUERIES = {
    "hard_negatives": q_hard_negatives,
    "embedding_quantization": q_embedding_quantization,
    "knn_bruteforce": q_knn_bruteforce,
    "knn_label_vote": q_knn_label_vote,
    "knn_lsh": q_knn_lsh,
    "knn_ivf": q_knn_ivf,
    "knn_ivf_indexed": q_knn_ivf_indexed,
    "knn_ivf_reindexed": q_knn_ivf_reindexed,
    "knn_ivf_pq_reindexed": q_knn_ivf_pq_reindexed,
    "knn_ivf_pq": q_knn_ivf_pq,
    "knn_ivf_pq_indexed": q_knn_ivf_pq_indexed,
    "vector_norms": q_vector_norms,
    "label_stats": q_label_stats,
    "label_centroids": q_label_centroids,
}

_COS = (
    "round(list_dot_product(q.e, c.e) / "
    "(sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e))), 6)"
)

_TOPK_ORACLE = f"""
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   {_COS} AS cosine
            FROM v q JOIN v c ON q.vec_id != c.vec_id
            WHERE q.vec_id % {QUERY_MOD} = 0),
        ranked AS (
            SELECT query_id, neighbor_id, cosine,
                   CAST(row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
            FROM scored)
        SELECT query_id, rank, neighbor_id, cosine
        FROM ranked WHERE rank <= {TOP_K}
    """

ORACLES = {
    "embedding_quantization": """
        WITH e AS (
            SELECT vec_id, t.i AS dim, CAST(t.v AS DOUBLE) AS v
            FROM embeddings emb,
                 LATERAL (SELECT unnest(emb.embedding) AS v,
                                 generate_subscripts(emb.embedding, 1) AS i) t),
        stats AS (
            SELECT dim, min(v) AS mn, max(v) AS mx FROM e GROUP BY 1)
        SELECT dim,
               round(any_value(mn), 6) AS dim_min,
               round(any_value(mx), 6) AS dim_max,
               round(max(abs(v - (mn + CASE WHEN (mx - mn) / 255.0 = 0 THEN 0
                                            ELSE round((v - mn) / ((mx - mn) / 255.0), 0)
                                       END * ((mx - mn) / 255.0)))), 6)
                   AS max_abs_err,
               round(avg(abs(v - (mn + CASE WHEN (mx - mn) / 255.0 = 0 THEN 0
                                            ELSE round((v - mn) / ((mx - mn) / 255.0), 0)
                                       END * ((mx - mn) / 255.0)))), 6)
                   AS mean_abs_err
        FROM e JOIN stats USING (dim)
        GROUP BY dim
    """,
    "knn_bruteforce": _TOPK_ORACLE,
    # the ANN variants run in full-recall oracle mode (see the sweep
    # note above), so the exact brute-force ranking IS their oracle
    "knn_lsh": _TOPK_ORACLE,
    "knn_ivf": _TOPK_ORACLE,
    "knn_ivf_pq": _TOPK_ORACLE,
    # persisted-index chains at full-recall depth: the append == one-shot
    # identity plus exhaustive probing makes the exact ranking the oracle
    "knn_ivf_indexed": _TOPK_ORACLE,
    "knn_ivf_pq_indexed": _TOPK_ORACLE,
    # the retrain/migration chains at full-recall depth: migration must
    # preserve membership (and vectors/codes) exactly for the hash to match
    "knn_ivf_reindexed": _TOPK_ORACLE,
    "knn_ivf_pq_reindexed": _TOPK_ORACLE,
    "knn_label_vote": f"""
        WITH topk AS (SELECT * FROM ({_TOPK_ORACLE})),
        votes AS (
            SELECT t.query_id, e.label AS n_label, count(*) AS votes
            FROM topk t JOIN embeddings e ON t.neighbor_id = e.vec_id
            GROUP BY 1, 2),
        best AS (
            SELECT query_id, n_label, votes,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY votes DESC, n_label) AS rk
            FROM votes)
        SELECT b.query_id, b.n_label AS pred_label,
               CAST(b.votes AS INT) AS votes,
               e.label AS true_label,
               b.n_label = e.label AS correct
        FROM best b JOIN embeddings e ON b.query_id = e.vec_id
        WHERE rk = 1
    """,
    "vector_norms": """
        SELECT vec_id, label,
               CAST(len(embedding) AS INT) AS dim,
               round(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6)
                   AS l2_norm
        FROM embeddings
    """,
    "label_centroids": """
        SELECT label, CAST(dim AS INT) AS dim,
               round(avg(v), 6) AS centroid, count(*) AS n_vecs
        FROM (SELECT label,
                     generate_subscripts(embedding, 1) - 1 AS dim,
                     unnest(embedding)::DOUBLE AS v
              FROM embeddings)
        GROUP BY 1, 2
    """,
    "label_stats": """
        WITH n AS (
            SELECT label,
                   sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
            FROM embeddings)
        SELECT label, count(*) AS n,
               round(avg(nrm), 6) AS avg_norm,
               round(min(nrm), 6) AS min_norm,
               round(max(nrm), 6) AS max_norm
        FROM n GROUP BY label
    """,
}


ORACLES["hard_negatives"] = f"""
    WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_COS} AS cosine
        FROM v q JOIN v c ON q.label != c.label
        WHERE q.vec_id % {QUERY_MOD} = 0),
    ranked AS (
        SELECT query_id, neighbor_id, cosine,
               CAST(row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
        FROM scored)
    SELECT query_id, rank, neighbor_id, cosine
    FROM ranked WHERE rank <= {NEG_K}
"""


OUTLIER_TOPK = 50


def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space anomaly detection: per-dimension z-scores
    against the corpus moments, reported as the top-50 vectors by
    max |z| — the screen that catches corrupt/degenerate embeddings
    (an all-zero row, a fp-overflow spike, a wrong-model import)
    before they poison an ANN index or a SemDeDup pass.

    Determinism discipline: per-dim mean and std are rounded to 6
    decimals and each z to 4 BEFORE the per-vector aggregation, so
    the summed z² terms are EXACT multiples of 1e-8 — which is
    precisely why the per-vector norm² must be quantized to that grid
    (bigint) before summation and floor-rescaled to 3 dp: an exact
    1e-8-multiple sum can land exactly ON a .0005 decimal boundary,
    where ``round()`` is the one op Spark and DuckDB disagree on
    (functions/precision.py). Constant dimensions (std 0) contribute
    z = 0 by definition.

    Scale shape: posexplode → one map-combinable (dim) moment agg (64
    rows — broadcast), re-join the exploded scan on dim, per-vector
    agg, TakeOrderedAndProject for the top-k: no window over the
    corpus, no sort of the fact table."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select("vec_id", F.posexplode(as_double(F.col("embedding"))).alias("dim", "v"))
    stats = ex.groupBy("dim").agg(
        F.round(F.avg("v"), 6).alias("m"),
        F.round(F.sqrt(F.greatest(F.avg(F.col("v") * F.col("v")) - F.avg("v") * F.avg("v"), F.lit(0.0))), 6).alias("sd"),
    )
    z = F.when(F.col("sd") > 0, F.round((F.col("v") - F.col("m")) / F.col("sd"), 4)).otherwise(0.0)
    from osarchiver_spark.functions.precision import quantize

    return (
        ex.join(F.broadcast(stats), "dim")
        .select("vec_id", z.alias("z"))
        .groupBy("vec_id")
        .agg(
            (
                F.floor((F.sum(quantize(F.col("z") * F.col("z"), 8)) + F.lit(50000)) / F.lit(100000))
                / F.lit(1e3)
            ).alias("z_norm2"),
            F.max(F.abs(F.col("z"))).alias("max_abs_z"),
        )
        .orderBy(F.col("max_abs_z").desc(), "vec_id")
        .limit(OUTLIER_TOPK)
    )


QUERIES["embedding_outliers"] = q_embedding_outliers

ORACLES["embedding_outliers"] = f"""
    WITH ex AS (
        SELECT vec_id,
               generate_subscripts(embedding, 1) - 1 AS dim,
               unnest(embedding)::DOUBLE AS v
        FROM embeddings),
    stats AS (
        SELECT dim, round(avg(v), 6) AS m,
               round(sqrt(greatest(avg(v * v) - avg(v) * avg(v), 0.0)), 6) AS sd
        FROM ex GROUP BY 1),
    zs AS (
        SELECT e.vec_id,
               CASE WHEN s.sd > 0 THEN round((e.v - s.m) / s.sd, 4) ELSE 0.0 END AS z
        FROM ex e JOIN stats s USING (dim))
    SELECT vec_id,
           floor((sum(CAST(floor(z * z * 100000000.0 + 0.5) AS BIGINT)) + 50000)
                 / 100000) / 1000.0 AS z_norm2,
           max(abs(z)) AS max_abs_z
    FROM zs GROUP BY vec_id
    ORDER BY max_abs_z DESC, vec_id
    LIMIT {OUTLIER_TOPK}
"""
