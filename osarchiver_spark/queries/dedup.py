"""Deduplication queries over ``documents`` (north-star).

Every operator family — exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine — has an exact DuckDB oracle: sketches are md5-based
so both engines compute identical signatures, buckets and scores.
Oracle SQL is generated from the same constants as the Spark ops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osarchiver_spark.operators.dedup import (
    embedding_lsh_neardup_pairs,
    exact_dedup,
    exact_dedup_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_candidates,
    simhash_multiprobe_pairs,
)
from osarchiver_spark.sources.parquet import load_table

NUM_HASHES = 12
BANDS = 4
ROWS_PER_BAND = NUM_HASHES // BANDS
MINHASH_THRESHOLD = 0.5
NGRAM_THRESHOLD = 0.3
EMBED_THRESHOLD = 0.45
NGRAM_CAP = 1000  # deterministic bound: exact all-pairs is the verification
# baseline, not the scale path (MinHash-LSH is); at sf0.01 (500 docs) the
# cap admits the whole corpus, so oracle results are unchanged


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup_groups(docs, "doc_id", "text")


def q_dedup_exact_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup(docs, "doc_id", "text")


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        docs, "doc_id", "text",
        shingle_n=3, num_hashes=NUM_HASHES, bands=BANDS, threshold=MINHASH_THRESHOLD,
    )


def q_dedup_minhash_xxhash64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION MinHash mode: xxhash64 signatures (one JVM
    intrinsic per shingle instead of an md5 string round-trip, ~1.6×
    at sf0.1). Banding differs from the md5 twin but the verify stage
    is exact Jaccard in both, and recall is full at the adjudication
    scales (≤ sf0.1, pinned in tests/test_similarity.py), so the md5
    oracle's exact pair set is also this query's oracle THERE.

    Scale honesty (r07 sf1 sweep finding): oracle equality is an
    adjudication-scale instrument, not an LSH property. At sf1
    (100k docs) the corpus holds enough borderline pairs that each
    banding family drops a different sliver below LSH's probabilistic
    recall curve 1-(1-s^r)^b — measured: md5 misses 833 true pairs
    xxhash64 catches, xxhash64 misses 774 md5 catches, 99.7% overlap,
    union 250,582. Every emitted pair is exact-verified (precision 1
    at any scale); recall at production scale is the banded LSH
    guarantee, tuned via num_hashes/bands, NOT equality with another
    hash family. See SCALE.md 'Known scale caveats'."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        docs, "doc_id", "text",
        shingle_n=3, num_hashes=NUM_HASHES, bands=BANDS, threshold=MINHASH_THRESHOLD,
        hash_fn="xxhash64",
    )


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental arrival-vs-corpus near-dup check (doc_id % 10 == 3
    plays the newly crawled batch): the small new side broadcasts,
    the corpus is probed map-side and never shuffles — the shape that
    keeps a 100 TB corpus deduplicated batch-by-batch instead of
    re-running the full self-join."""
    from osarchiver_spark.operators.dedup import minhash_lsh_incremental

    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 10 == 3)
    corpus = docs.filter(F.col("doc_id") % 10 != 3)
    return minhash_lsh_incremental(
        corpus, new, "doc_id", "text",
        shingle_n=3, num_hashes=NUM_HASHES, bands=BANDS, threshold=MINHASH_THRESHOLD,
    )


_REAPED_SCRATCH_DIRS: set[str] = set()


def _app_scratch_dir(spark: SparkSession, sf_dir: str, prefix: str, *parts: object) -> str:
    """``<tmp>/<prefix><md5(sf_dir)[:12]>_<applicationId>[_<part>...]``,
    removed at process exit together with its ``__``-suffixed siblings
    (staging roots, epoch markers, stream checkpoints).

    Stable per (fixture, Spark app): repeated runs in one app reuse ONE
    directory instead of leaking a fresh mkdtemp each call, while the
    applicationId keeps the path private to this app — two concurrent
    runs over the same fixture can never overwrite a directory the
    other's returned DataFrame still reads, nor collide with another
    user's dir. The same component means every app leaves new dirs
    behind, hence the exit reaper. Callers whose directories are
    single-use add an invocation counter as a part."""
    import atexit
    import glob
    import hashlib
    import os
    import shutil
    import tempfile

    name = prefix + "_".join(
        [
            hashlib.md5(sf_dir.encode()).hexdigest()[:12],
            spark.sparkContext.applicationId,
            *map(str, parts),
        ]
    )
    path = os.path.join(tempfile.gettempdir(), name)
    if path not in _REAPED_SCRATCH_DIRS:
        _REAPED_SCRATCH_DIRS.add(path)

        def reap() -> None:
            for d in [path, *glob.glob(glob.escape(path) + "__*")]:
                shutil.rmtree(d, ignore_errors=True)

        atexit.register(reap)
    return path


def q_dedup_incremental_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The indexed variant of dedup_incremental: the corpus's band
    index is BUILT ONCE, persisted band_key-sorted, and the new batch
    probes it with a pushed band_key IN (...) predicate (row groups
    prune by parquet min/max on the sorted layout — measured in
    tests/test_scale_layout.py). Exercises the real persisted path:
    write to a temp dir, read back, probe. Same semantics — and the
    same oracle — as dedup_incremental: at 100 TB this replaces the
    per-batch corpus re-sketch with an indexed lookup."""
    from osarchiver_spark.operators.dedup import (
        minhash_lsh_incremental_indexed,
        minhash_lsh_index,
        prep_new_bands,
    )
    from osarchiver_spark.session import overlap

    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 10 == 3)
    corpus = docs.filter(F.col("doc_id") % 10 != 3)
    idx_dir = _app_scratch_dir(spark, sf_dir, "lsh_index_")

    # the index build (corpus side) and the probe-side prep (new-batch
    # shingle/sketch/band + key collect) share no inputs, so they run
    # as concurrent driver-thread jobs (r11 optimization round; the
    # probe itself still only starts once the index files exist)
    built = minhash_lsh_index(
        corpus, "doc_id", "text",
        shingle_n=3, num_hashes=NUM_HASHES, bands=BANDS, num_files=8,
    )
    _, prepped = overlap(
        spark,
        lambda: built.write.mode("overwrite").parquet(idx_dir),
        lambda: prep_new_bands(new, "doc_id", "text", 3, NUM_HASHES, BANDS),
    )
    # read back with the builder's own (analysis-only) schema: no
    # footer re-inference job on the freshly written index (r11 round)
    index = spark.read.schema(built.schema).parquet(idx_dir)
    return minhash_lsh_incremental_indexed(
        index, corpus, new, "doc_id", "text",
        shingle_n=3, num_hashes=NUM_HASHES, bands=BANDS,
        threshold=MINHASH_THRESHOLD, prepped=prepped,
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return simhash_candidates(docs, "doc_id", "text")


def q_dedup_simhash_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming<=2 simhash pairs via block-pigeonhole candidates
    (guaranteed recall — see operators/dedup.py docstring); the
    oracle verifies against exact all-pairs bit_count(xor)."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash_multiprobe_pairs(docs, "doc_id", "text", max_hamming=2)


# Bounded-scale adjudication of the PRODUCTION 64-bit multiprobe
# (operators/dedup.py::simhash64_multiprobe_pairs — the Manku
# parameterization bench.py measures): the all-pairs single-node
# oracle is O(n²), so the registered entry caps the corpus at a doc
# count where DuckDB stays tractable at every sweep scale (10k docs =
# 50M pairs ≈ seconds) while still covering the ENTIRE corpus at the
# driver's adjudication scales (sf0.01: 500 docs; sf0.1: 5000 — the
# cap only binds at sf1+, mirroring the knn oracle-mode precedent of
# bounding the oracle, not the operator). Recall is structural, not
# sampled: 4-block pigeonhole guarantees every hamming<=3 pair shares
# a block, so the Spark output IS the exact hamming<=3 pair set.
SIMHASH64_DOC_CAP = 10_000


def q_dedup_simhash64_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osarchiver_spark.operators.dedup import simhash64_multiprobe_pairs

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < SIMHASH64_DOC_CAP
    )
    return simhash64_multiprobe_pairs(docs, "doc_id", "text", max_hamming=3)


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < NGRAM_CAP)
    return ngram_jaccard_pairs(docs, "doc_id", "text", shingle_n=3, threshold=NGRAM_THRESHOLD)


CONTAINMENT_THRESHOLD = 0.5


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle-containment near-dup (subset-duplicate
    detection) — see operators/dedup.py::ngram_containment_pairs.
    Bounded like the Jaccard baseline."""
    from osarchiver_spark.operators.dedup import ngram_containment_pairs

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < NGRAM_CAP)
    return ngram_containment_pairs(
        docs, "doc_id", "text", shingle_n=3, threshold=CONTAINMENT_THRESHOLD
    )


def q_dedup_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup executed by the STATEFUL STREAMING operator
    (applyInPandasWithState): over a single micro-batch of the whole
    table its output equals batch first-occurrence dedup, so the same
    SQL oracle applies; cross-batch state is tested in
    tests/test_streaming_dedup.py."""
    from pyspark.sql import types as T

    from osarchiver_spark.streaming.dedup import run_streaming_dedup

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    return run_streaming_dedup(spark, sf_dir, schema, path_glob="documents.parquet")


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed scale path (no data×data cross join); the
    brute-force twin (embedding_neardup_pairs) stays as the pytest
    verification baseline. Same output schema + exact-cosine verify,
    so the exact all-pairs oracle still hash-matches (full recall at
    this threshold verified across fixtures — see operator docstring)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_lsh_neardup_pairs(emb, "vec_id", "embedding", threshold=EMBED_THRESHOLD)


# Bounded-scale adjudication of the VECTOR near-dup probe
# (operators/ivf.py::ivf_neardup_probe — the operator the vector
# capstone's dedup rests on): at nprobe == n_clusters every cell is
# probed, so the probe's pair set IS the exact all-pairs threshold
# set and an all-pairs cosine SQL is its exact oracle. The oracle is
# O(n²) single-node, so the corpus caps at a vector count where
# DuckDB stays tractable at every sweep scale (5000 vecs = 12.5M
# ordered pairs) while covering the ENTIRE corpus at the driver's
# adjudication scales (sf0.01: 500 vecs; sf0.1: 2000 — the cap binds
# only at sf1+; the dedup_simhash64_bounded precedent). The entry
# runs the PERSISTED chain — write cid-partitioned, read back,
# partition-pruned probe — so the driver stamp covers the on-disk
# layout, not just the in-memory math.
IVF_NEARDUP_VEC_CAP = 5_000
IVF_NEARDUP_CLUSTERS = 8


def q_dedup_ivf_neardup_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osarchiver_spark.operators.ivf import (
        ivf_index,
        ivf_neardup_probe,
        kmeans_fit,
    )

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < IVF_NEARDUP_VEC_CAP
    )
    cents = kmeans_fit(emb, "vec_id", "embedding", k=IVF_NEARDUP_CLUSTERS)
    idx_dir = _app_scratch_dir(spark, sf_dir, "ivf_neardup_")
    ivf_index(emb, "vec_id", "embedding", cents).write.mode(
        "overwrite"
    ).partitionBy("cid").parquet(idx_dir)
    from osarchiver_spark.operators.ivf import IVF_STORE_SCHEMA

    # declared store layout: no footer re-inference, cid arrives int
    index = spark.read.schema(IVF_STORE_SCHEMA).parquet(idx_dir)
    return ivf_neardup_probe(
        index, emb, "vec_id", "embedding", cents,
        threshold=EMBED_THRESHOLD, nprobe=IVF_NEARDUP_CLUSTERS,
    ).filter(F.col("neighbor_id") < F.col("query_id"))


def q_streaming_vector_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LIVE serving-store maintenance loop adjudicated end-to-end
    (streaming/vector_store.py): a Structured Streaming job consumes
    the embedding fixture, and every micro-batch probes the standing
    dedup index, appends its cells, and appends its survivors to the
    cid-partitioned store — the streaming twin of the vector capstone.
    Registered at EXACT parameters: nprobe == n_clusters (all cells
    probed ⇒ the loser rule degenerates to "any smaller-id vector
    anywhere with cosine >= threshold") and QUANTIZED centroids
    (kmeans_fit quantize=6 — the semdedup discipline that lets the
    DuckDB oracle replay the Lloyd's iterations as CTEs and certify
    the REAL clustering). Output: the store manifest (cid,
    n_vectors) — survivors per final-model cell. Over the fixture the
    stream is one micro-batch, whose output is row-identical to the
    batch one-shot build BY the capstone identity; multi-batch
    arrival (maxFilesPerTrigger) and epoch-replay idempotence are
    pinned in tests/test_streaming_vector_store.py."""
    from osarchiver_spark.operators.ivf import kmeans_fit
    from osarchiver_spark.streaming.vector_store import (
        run_streaming_vector_maintenance,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = kmeans_fit(
        emb, "vec_id", "embedding",
        k=SEMDEDUP_K, iters=SEMDEDUP_ITERS, quantize=SEMDEDUP_QUANT,
    )
    # per-INVOCATION nonce, not just per-application: the stream's
    # epoch markers + checkpoint make a dir set single-use, so a
    # second call in the same app against applicationId-only dirs
    # would find epoch 0 DONE, skip all processing, and a repeat
    # bench run would time a parquet read instead of the maintenance
    # loop (r10 ADVICE item 4)
    global _SVM_INVOCATIONS
    _SVM_INVOCATIONS += 1
    index_dir = _app_scratch_dir(spark, sf_dir, "svm_idx_", _SVM_INVOCATIONS)
    store_dir = _app_scratch_dir(spark, sf_dir, "svm_store_", _SVM_INVOCATIONS)
    return run_streaming_vector_maintenance(
        spark, sf_dir, index_dir, store_dir, cents,
        threshold=EMBED_THRESHOLD, nprobe=SEMDEDUP_K,
    )


_SVM_INVOCATIONS = 0


SEMDEDUP_K = 8  # fixture-scale k; production contract: k ~ n / target_cluster_size
SEMDEDUP_ITERS = 2
SEMDEDUP_QUANT = 6  # centroid quantization — what makes the oracle replay exact

IH_NPROBE = 2  # index_health probe depth (< k so read fractions are informative)
IH_QUERY_MOD = 7  # deterministic query sample: vec_id % 7 == 0


def q_streaming_text_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LIVE text-corpus dedup loop adjudicated end-to-end
    (streaming/text_store.py, r10 verdict item 3 — the one r10
    component whose semantics were only proxy-stamped): a Structured
    Streaming job consumes the documents fixture; every micro-batch
    computes its intra-batch MinHash-LSH pairs, probes the STANDING
    band index via the pushed band_key IN predicate, and appends its
    bands/rows/edges. Registered at the md5 hash family (the exact
    oracle's sketches) with the production banding constants; the
    accumulated pair graph equals the one-shot minhash_lsh_pairs
    graph by the band-bucket symmetry identity — multi-batch arrival,
    epoch replay, and crash repair are pinned in
    tests/test_streaming_text_store.py + tests/test_crash_recovery.py."""
    from osarchiver_spark.streaming.text_store import (
        run_streaming_text_maintenance,
    )

    global _STM_INVOCATIONS
    _STM_INVOCATIONS += 1
    dirs = {
        kind: _app_scratch_dir(spark, sf_dir, f"stm_{kind}_", _STM_INVOCATIONS)
        for kind in ("idx", "corpus", "pairs")
    }
    return run_streaming_text_maintenance(
        spark, sf_dir, dirs["idx"], dirs["corpus"], dirs["pairs"],
        threshold=MINHASH_THRESHOLD, hash_fn="md5",
    ).select("doc_a", "doc_b")


_STM_INVOCATIONS = 0


def q_index_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retrain-trigger signals as a first-class operator
    (operators/health.py::index_health, r10 verdict item 4): build
    the persisted cid-partitioned store under the quantized k-means
    model (the semdedup discipline that lets DuckDB replay the REAL
    clustering as CTEs), then measure cell-occupancy skew and probe
    read amplification for a deterministic query sample at
    nprobe=2 < k=8. Every metric is an exact integer aggregate with
    one final rounded float division, so the oracle certifies the
    numbers a production maintenance_decision() would act on —
    thresholds documented in operators/health.py, wired into the
    streaming maintenance loop via maintenance_policy."""
    from osarchiver_spark.operators.health import index_health
    from osarchiver_spark.operators.ivf import ivf_index, kmeans_fit

    emb = load_table(spark, sf_dir, "embeddings")
    cents = kmeans_fit(
        emb, "vec_id", "embedding",
        k=SEMDEDUP_K, iters=SEMDEDUP_ITERS, quantize=SEMDEDUP_QUANT,
    )
    idx_dir = _app_scratch_dir(spark, sf_dir, "ih_store_")
    ivf_index(emb, "vec_id", "embedding", cents).write.mode(
        "overwrite"
    ).partitionBy("cid").parquet(idx_dir)
    queries = emb.filter(F.col("vec_id") % IH_QUERY_MOD == 0)
    return index_health(
        spark, idx_dir, cents, queries, "vec_id", "embedding", IH_NPROBE
    )


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (k-means-partitioned embedding dedup): prune every
    vector with a smaller-id SAME-CLUSTER neighbor at rounded cosine
    >= threshold. The clustering is the candidate generator — the
    deliberate SemDeDup trade vs the LSH path (dedup_embedding). The
    oracle replays the quantized Lloyd's iterations as SQL CTEs, so
    it adjudicates the REAL clustering code path, not a
    lossiness-disabled variant."""
    from osarchiver_spark.operators.semdedup import semdedup_losers

    emb = load_table(spark, sf_dir, "embeddings")
    return semdedup_losers(
        emb,
        "vec_id",
        "embedding",
        threshold=EMBED_THRESHOLD,
        n_clusters=SEMDEDUP_K,
        iters=SEMDEDUP_ITERS,
        quantize=SEMDEDUP_QUANT,
    )


def q_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster size + inertia over the same quantized k-means —
    the k-sizing / skew-flagging diagnostic next to semdedup."""
    from osarchiver_spark.operators.semdedup import semantic_cluster_profile

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_cluster_profile(
        emb,
        "vec_id",
        "embedding",
        n_clusters=SEMDEDUP_K,
        iters=SEMDEDUP_ITERS,
        quantize=SEMDEDUP_QUANT,
    )




def q_dedup_embedding_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector twin of dedup_incremental: new arrivals (vec_id % 10 ==
    3) probed against the existing embedding corpus — the new side's
    bucket keys broadcast, the corpus never shuffles. Full recall at
    the swept (b=6, L=64) parameters makes the exact new×corpus
    all-pairs SQL the oracle."""
    from osarchiver_spark.operators.dedup import embedding_lsh_incremental

    emb = load_table(spark, sf_dir, "embeddings")
    new = emb.filter(F.col("vec_id") % 10 == 3)
    corpus = emb.filter(F.col("vec_id") % 10 != 3)
    return embedding_lsh_incremental(
        corpus, new, "vec_id", "embedding", threshold=EMBED_THRESHOLD
    )




def q_dedup_lsh_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-parameter calibration: recall of the banded MinHash-LSH
    candidate generator against exact Jaccard >= threshold on the
    bounded evaluation subset — the number that sizes (num_hashes,
    bands) before a corpus-wide run. Precision is 1 by construction
    (the verify stage IS exact Jaccard); the recall shortfall is
    exactly the banding miss rate. Three one-row count aggregates
    joined into a single report row."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < NGRAM_CAP)
    exact = ngram_jaccard_pairs(
        docs, "doc_id", "text", shingle_n=3, threshold=MINHASH_THRESHOLD
    ).select("doc_a", "doc_b")
    lsh = minhash_lsh_pairs(
        docs, "doc_id", "text",
        shingle_n=3, num_hashes=NUM_HASHES, bands=BANDS, threshold=MINHASH_THRESHOLD,
    ).select("doc_a", "doc_b")
    ne = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    nl = lsh.agg(F.count(F.lit(1)).alias("n_lsh"))
    nb = exact.join(lsh, ["doc_a", "doc_b"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_both")
    )
    j = ne.crossJoin(nl).crossJoin(nb)
    prec = F.when(F.col("n_lsh") > 0, F.round(F.col("n_both") / F.col("n_lsh"), 6)).otherwise(0.0)
    rec = F.when(F.col("n_exact") > 0, F.round(F.col("n_both") / F.col("n_exact"), 6)).otherwise(0.0)
    return j.select("n_exact", "n_lsh", "n_both", prec.alias("precision"), rec.alias("recall"))


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure over the MinHash-LSH pair graph: one
    (doc_id, cluster_rep) row per document in any near-dup pair —
    the keep/drop decision layer above pairwise dedup. Oracle is the
    same closure via a recursive CTE over the identical pair SQL."""
    from osarchiver_spark.operators.dedup import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text",
        shingle_n=3, num_hashes=NUM_HASHES, bands=BANDS, threshold=MINHASH_THRESHOLD,
    )
    return connected_components(pairs)


SPAN_WINDOW = 64  # chars per rolling window
SPAN_STRIDE = 16


def q_dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact-substring dedup (the suffix-array-style
    repeated-passage report, approximated with strided rolling
    windows): per doc, merged char ranges whose 64-char windows occur
    verbatim in ≥2 documents."""
    from osarchiver_spark.operators.dedup import repeated_span_report

    docs = load_table(spark, sf_dir, "documents")
    return repeated_span_report(
        docs, "doc_id", "text", window=SPAN_WINDOW, stride=SPAN_STRIDE
    )


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship policy on top of near-dup clustering: within each
    MinHash-LSH connected component, KEEP the member with the highest
    quality score (doc_id breaks ties) and mark the rest as drops —
    the decision layer a corpus pipeline actually ships (cf. keeping
    the best-quality copy rather than an arbitrary one). The winner
    per cluster is one map-combinable max_by over (quality, -doc_id);
    no window over the corpus."""
    from pyspark.sql import functions as F

    from osarchiver_spark.operators.dedup import connected_components
    from osarchiver_spark.queries.text import q_text_quality

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text",
        shingle_n=3, num_hashes=NUM_HASHES, bands=BANDS, threshold=MINHASH_THRESHOLD,
    )
    comps = connected_components(pairs)
    quality = q_text_quality(spark, sf_dir).select("doc_id", "quality")
    member = comps.join(quality, "doc_id")
    winners = member.groupBy("cluster_rep").agg(
        F.max_by("doc_id", F.struct("quality", (-F.col("doc_id")).alias("nid"))).alias(
            "keep_id"
        )
    )
    return member.join(F.broadcast(winners), "cluster_rep").select(
        "doc_id",
        "cluster_rep",
        "quality",
        "keep_id",
        (F.col("doc_id") == F.col("keep_id")).alias("kept"),
    )


def q_duplicate_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-health metric: per source, how many documents sit inside
    some near-dup cluster (MinHash-LSH connected components) vs the
    source's total — the per-provider duplication report that decides
    which crawl feeds get down-weighted. Cluster membership joins back
    to documents on doc_id; all outputs are integer counts, so the
    composed oracle is tie-free by construction."""
    from osarchiver_spark.operators.dedup import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text",
        shingle_n=3, num_hashes=NUM_HASHES, bands=BANDS, threshold=MINHASH_THRESHOLD,
    )
    comps = connected_components(pairs).select("doc_id")
    flagged = docs.join(comps, "doc_id", "left_semi").groupBy("source").agg(
        F.count("*").alias("n_dup")
    )
    totals = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    return (
        totals.join(flagged, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce(F.col("n_dup"), F.lit(0)).alias("n_dup"),
        )
    )


QUERIES = {
    "dedup_exact": q_dedup_exact,
    "dedup_exact_rows": q_dedup_exact_rows,
    "dedup_keep_best": q_dedup_keep_best,
    "duplicate_rate_by_source": q_duplicate_rate_by_source,
    "dedup_substring_spans": q_dedup_substring_spans,
    "dedup_clusters": q_dedup_clusters,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_incremental": q_dedup_incremental,
    "dedup_incremental_indexed": q_dedup_incremental_indexed,
    "dedup_minhash_xxhash64": q_dedup_minhash_xxhash64,
    "dedup_simhash": q_dedup_simhash,
    "dedup_simhash_multiprobe": q_dedup_simhash_multiprobe,
    "dedup_simhash64_bounded": q_dedup_simhash64_bounded,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_containment": q_dedup_containment,
    "dedup_embedding": q_dedup_embedding,
    "dedup_ivf_neardup_bounded": q_dedup_ivf_neardup_bounded,
    "streaming_vector_maintenance": q_streaming_vector_maintenance,
    "index_health": q_index_health,
    "streaming_text_maintenance": q_streaming_text_maintenance,
    "dedup_streaming": q_dedup_streaming,
    "semdedup": q_semdedup,
    "dedup_embedding_incremental": q_dedup_embedding_incremental,
    "dedup_lsh_eval": q_dedup_lsh_eval,
    "semantic_clusters": q_semantic_clusters,
}

# ---------------------------------------------------------------- oracles

_SQL_FP = "md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))"

_SQL_SHINGLES = """
    list_distinct([
        toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        for i in range(1, greatest(len(toks) - 2, 0) + 1)])
"""

_SQL_TOKS = "list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> '')"

_SQL_SIG = (
    "["
    + ", ".join(f"list_min(list_transform(sh, s -> md5('{i}|' || s)))" for i in range(NUM_HASHES))
    + "]"
)

_SQL_BANDS = (
    "["
    + ", ".join(
        "md5(" + " || '|' || ".join(f"sig[{b * ROWS_PER_BAND + r + 1}]" for r in range(ROWS_PER_BAND)) + ")"
        for b in range(BANDS)
    )
    + "]"
)


def _simhash64_half_sql(lo_pos: int) -> str:
    """One 32-bit half of the 64-bit simhash, mirroring
    functions/text.py::token_simhash_mask64 + simhash64_vote_columns
    up to a FIXED bit permutation (oracle position (d-1)*4+b maps md5
    hex digit d's nibble-bit b; Spark packs the same 16 digits
    big-endian into a bigint). A fixed permutation of sketch bit
    positions preserves pair equality and bit_count(xor) — the only
    things the query outputs — so the exact all-pairs hamming oracle
    is unaffected by the ordering choice."""
    bit_terms = []
    for i in range(32):
        pos = lo_pos + i
        d, b = pos // 4, pos % 4
        vote = (
            f"list_sum(list_transform(toks, t -> CASE WHEN "
            f"((instr('0123456789abcdef', substr(md5(t), {d + 1}, 1)) - 1) & {1 << b}) != 0 "
            f"THEN 1 ELSE -1 END))"
        )
        bit_terms.append(f"(CASE WHEN {vote} > 0 THEN {1 << i} ELSE 0 END)")
    return "CAST(" + " + ".join(bit_terms) + " AS BIGINT)"


def _simhash_sql() -> str:
    """16-bit simhash mirroring functions/text.py::simhash16."""
    bit_terms = []
    for pos in range(16):
        d, b = pos // 4, pos % 4
        vote = (
            f"list_sum(list_transform(toks, t -> CASE WHEN "
            f"((instr('0123456789abcdef', substr(md5(t), {d + 1}, 1)) - 1) & {1 << b}) != 0 "
            f"THEN 1 ELSE -1 END))"
        )
        bit_terms.append(f"(CASE WHEN {vote} > 0 THEN {1 << pos} ELSE 0 END)")
    return "CAST(" + " + ".join(bit_terms) + " AS INT)"


_JACCARD = """
    round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6)
"""

ORACLES = {
    "dedup_exact": f"""
        SELECT {_SQL_FP} AS fingerprint,
               min(doc_id) AS keep_id, count(*) AS n_docs
        FROM documents GROUP BY 1
    """,
    "dedup_exact_rows": f"""
        SELECT * FROM documents WHERE doc_id IN (
            SELECT min(doc_id) FROM documents GROUP BY {_SQL_FP})
    """,
    "dedup_streaming": f"""
        SELECT {_SQL_FP} AS fingerprint, min(doc_id) AS keep_id
        FROM documents GROUP BY 1
    """,
    "dedup_minhash_lsh": f"""
        WITH toked AS (
            SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
        shingled AS (
            SELECT doc_id, {_SQL_SHINGLES} AS sh FROM toked
            WHERE len({_SQL_SHINGLES}) > 0),
        sigs AS (
            SELECT doc_id, sh, {_SQL_SIG} AS sig FROM shingled),
        banded AS (
            SELECT doc_id, unnest({_SQL_BANDS}) AS band_key,
                   unnest(range(0, {BANDS})) AS band_idx
            FROM sigs),
        cands AS (
            SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
            FROM banded x JOIN banded y
              ON x.band_idx = y.band_idx AND x.band_key = y.band_key
            WHERE x.doc_id < y.doc_id)
        SELECT doc_a, doc_b, {_JACCARD} AS jaccard
        FROM cands JOIN shingled a ON doc_a = a.doc_id
                   JOIN shingled b ON doc_b = b.doc_id
        WHERE {_JACCARD} >= {MINHASH_THRESHOLD}
    """,
    "dedup_incremental": f"""
        WITH toked AS (
            SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
        shingled AS (
            SELECT doc_id, {_SQL_SHINGLES} AS sh FROM toked
            WHERE len({_SQL_SHINGLES}) > 0),
        sigs AS (SELECT doc_id, sh, {_SQL_SIG} AS sig FROM shingled),
        banded AS (
            SELECT doc_id, unnest({_SQL_BANDS}) AS band_key,
                   unnest(range(0, {BANDS})) AS band_idx
            FROM sigs),
        cands AS (
            SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
            FROM banded c JOIN banded n
              ON c.band_idx = n.band_idx AND c.band_key = n.band_key
            WHERE n.doc_id % 10 = 3 AND c.doc_id % 10 <> 3)
        SELECT new_id, corpus_id, {_JACCARD} AS jaccard
        FROM cands JOIN shingled a ON new_id = a.doc_id
                   JOIN shingled b ON corpus_id = b.doc_id
        WHERE {_JACCARD} >= {MINHASH_THRESHOLD}
    """,
    "dedup_simhash": f"""
        WITH sk AS (
            SELECT doc_id, {_simhash_sql()} AS simhash
            FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents))
        SELECT a.simhash, a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sk a JOIN sk b ON a.simhash = b.simhash AND a.doc_id < b.doc_id
    """,
    "dedup_simhash_multiprobe": f"""
        WITH sk AS (
            SELECT doc_id, {_simhash_sql()} AS simhash
            FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents))
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.simhash::BIGINT, b.simhash::BIGINT)) AS INT) AS hamming
        FROM sk a JOIN sk b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash::BIGINT, b.simhash::BIGINT)) <= 2
    """,
    # exact all-pairs hamming over the PRODUCTION 64-bit sketch (two
    # 32-bit halves; bit-permutation-invariant — see _simhash64_half_sql)
    "dedup_simhash64_bounded": f"""
        WITH sk AS (
            SELECT doc_id,
                   {_simhash64_half_sql(0)} AS h0,
                   {_simhash64_half_sql(32)} AS h1
            FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
                  WHERE doc_id < {SIMHASH64_DOC_CAP} AND text IS NOT NULL))
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.h0, b.h0))
                    + bit_count(xor(a.h1, b.h1)) AS INT) AS hamming
        FROM sk a JOIN sk b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.h0, b.h0)) + bit_count(xor(a.h1, b.h1)) <= 3
    """,
    "dedup_containment": f"""
        WITH toked AS (
            SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
            WHERE doc_id < {NGRAM_CAP}),
        shingled AS (
            SELECT doc_id, {_SQL_SHINGLES} AS sh FROM toked
            WHERE len({_SQL_SHINGLES}) > 0),
        ex AS (SELECT doc_id, unnest(sh) AS s FROM shingled),
        cands AS (
            SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
            FROM ex x JOIN ex y ON x.s = y.s WHERE x.doc_id < y.doc_id)
        SELECT doc_a, doc_b,
               round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh), 6)
                   AS containment_a,
               round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(b.sh), 6)
                   AS containment_b
        FROM cands JOIN shingled a ON doc_a = a.doc_id
                   JOIN shingled b ON doc_b = b.doc_id
        WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh), 6)
                  >= {CONTAINMENT_THRESHOLD}
           OR round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(b.sh), 6)
                  >= {CONTAINMENT_THRESHOLD}
    """,
    "dedup_ngram_jaccard": f"""
        WITH toked AS (
            SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
            WHERE doc_id < {NGRAM_CAP}),
        shingled AS (
            SELECT doc_id, {_SQL_SHINGLES} AS sh FROM toked
            WHERE len({_SQL_SHINGLES}) > 0),
        ex AS (SELECT doc_id, unnest(sh) AS s FROM shingled),
        cands AS (
            SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
            FROM ex x JOIN ex y ON x.s = y.s WHERE x.doc_id < y.doc_id)
        SELECT doc_a, doc_b, {_JACCARD} AS jaccard
        FROM cands JOIN shingled a ON doc_a = a.doc_id
                   JOIN shingled b ON doc_b = b.doc_id
        WHERE {_JACCARD} >= {NGRAM_THRESHOLD}
    """,
    "dedup_embedding": f"""
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               round(list_dot_product(a.e, b.e)
                     / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6)
                   AS cosine
        FROM v a JOIN v b ON a.vec_id < b.vec_id
        WHERE round(list_dot_product(a.e, b.e)
                    / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6)
              >= {EMBED_THRESHOLD}
    """,
}

ORACLES["dedup_minhash_xxhash64"] = ORACLES["dedup_minhash_lsh"]

ORACLES["dedup_substring_spans"] = """
    WITH positions AS (
        SELECT doc_id, i AS pos, text,
               CAST(CAST(('0x' || substr(md5(substr(text, i + 1, 8)), 1, 8))
                         AS UBIGINT) AS BIGINT) AS a
        FROM documents,
             LATERAL unnest(range(0, length(text) - 64 + 1)) AS t(i)
        WHERE length(text) >= 64),
    winnowed AS (
        SELECT doc_id, pos, text,
               a = min(a) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING)
                   AS sel
        FROM positions),
    spans AS (
        SELECT doc_id, pos, md5(substr(text, pos + 1, 64)) AS h
        FROM winnowed WHERE sel),
    dup AS (
        SELECT h FROM spans GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
    hits AS (
        SELECT s.doc_id, s.pos FROM spans s JOIN dup USING (h)),
    lagged AS (
        SELECT doc_id, pos,
               lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM hits),
    islands AS (
        SELECT doc_id, pos,
               sum(CASE WHEN prev IS NULL OR pos - prev > 64 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        FROM lagged)
    SELECT doc_id, min(pos) AS span_start, max(pos) + 64 AS span_end,
           count(*) AS n_windows
    FROM islands GROUP BY doc_id, grp
"""

# Transitive closure over the identical pair SQL: the minhash oracle
# becomes a (nested-WITH) CTE, the closure is a recursive
# min-label reachability, component rep = min reachable doc_id.
ORACLES["dedup_clusters"] = f"""
    WITH RECURSIVE pairs AS ({ORACLES["dedup_minhash_lsh"]}),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL
        SELECT doc_b AS a, doc_a AS b FROM pairs),
    verts AS (SELECT DISTINCT a AS doc_id FROM edges),
    reach AS (
        SELECT doc_id, doc_id AS r FROM verts
        UNION
        SELECT e.b AS doc_id, reach.r
        FROM reach JOIN edges e ON e.a = reach.doc_id)
    SELECT doc_id, min(r) AS cluster_rep FROM reach GROUP BY doc_id
"""

# Survivorship = clusters ⨝ quality, winner by (quality desc, doc_id):
# both subqueries reuse the exact oracles of their base queries so the
# composed result stays bit-identical.
def _keep_best_oracle() -> str:
    from osarchiver_spark.queries.text import ORACLES as _TEXT_ORACLES

    quality_sql = _TEXT_ORACLES["text_quality"]
    clusters_sql = ORACLES["dedup_clusters"]
    return f"""
        WITH comps AS (SELECT * FROM ({clusters_sql})),
        quality AS (
            SELECT doc_id, quality FROM ({quality_sql})),
        member AS (
            SELECT c.doc_id, c.cluster_rep, q.quality
            FROM comps c JOIN quality q USING (doc_id)),
        ranked AS (
            SELECT *, row_number() OVER (PARTITION BY cluster_rep
                                         ORDER BY quality DESC, doc_id) AS rk
            FROM member),
        winners AS (
            SELECT cluster_rep, doc_id AS keep_id FROM ranked WHERE rk = 1)
        SELECT m.doc_id, m.cluster_rep, m.quality, w.keep_id,
               m.doc_id = w.keep_id AS kept
        FROM member m JOIN winners w USING (cluster_rep)
    """


ORACLES["dedup_keep_best"] = _keep_best_oracle()


def _dup_rate_oracle() -> str:
    clusters_sql = ORACLES["dedup_clusters"]
    return f"""
        WITH comps AS (SELECT doc_id FROM ({clusters_sql})),
        flagged AS (
            SELECT d.source, count(*) AS n_dup
            FROM documents d JOIN comps USING (doc_id)
            GROUP BY 1),
        totals AS (
            SELECT source, count(*) AS n_docs FROM documents GROUP BY 1)
        SELECT t.source, t.n_docs, coalesce(f.n_dup, 0) AS n_dup
        FROM totals t LEFT JOIN flagged f USING (source)
    """


ORACLES["duplicate_rate_by_source"] = _dup_rate_oracle()



# SemDeDup oracle: replay the quantized Lloyd's iterations as SQL
# CTEs. Init = k lowest-id vectors (cid by vid order); assignment =
# squared-euclidean argmin with ties to the lowest cid (-2 v.c + |c|²
# — the |v|² term is a per-row constant); update = per-dimension mean
# rounded to SEMDEDUP_QUANT decimals; empty clusters keep their
# previous centroid (the coalesce). Validated bit-identical against
# the numpy path before registration.
def _kmeans_cte(k: int, iters: int, q: int) -> str:
    parts = [
        "base AS (SELECT vec_id AS vid, embedding::DOUBLE[] AS v FROM embeddings)",
        f"c0 AS (SELECT CAST(row_number() OVER (ORDER BY vid) - 1 AS INT) AS cid, v AS c "
        f"FROM (SELECT vid, v FROM base ORDER BY vid LIMIT {k}))",
    ]
    prev = "c0"
    for i in range(1, iters + 1):
        parts.append(
            f"a{i} AS (SELECT vid, v, cid FROM ("
            f"SELECT b.vid, b.v, {prev}.cid, row_number() OVER (PARTITION BY b.vid ORDER BY "
            f"-2 * list_dot_product(b.v, {prev}.c) + list_dot_product({prev}.c, {prev}.c), "
            f"{prev}.cid) AS rn FROM base b CROSS JOIN {prev}) WHERE rn = 1)"
        )
        parts.append(
            f"m{i} AS (SELECT cid, list(round(av, {q}) ORDER BY d) AS c FROM ("
            f"SELECT cid, d, avg(val) AS av FROM ("
            f"SELECT cid, generate_subscripts(v, 1) AS d, unnest(v) AS val FROM a{i}) "
            f"GROUP BY cid, d) GROUP BY cid)"
        )
        parts.append(
            f"c{i} AS (SELECT {prev}.cid, coalesce(m{i}.c, {prev}.c) AS c "
            f"FROM {prev} LEFT JOIN m{i} USING (cid))"
        )
        prev = f"c{i}"
    parts.append(
        f"assigned AS (SELECT vid, v, cid FROM ("
        f"SELECT b.vid, b.v, {prev}.cid, row_number() OVER (PARTITION BY b.vid ORDER BY "
        f"-2 * list_dot_product(b.v, {prev}.c) + list_dot_product({prev}.c, {prev}.c), "
        f"{prev}.cid) AS rn FROM base b CROSS JOIN {prev}) WHERE rn = 1)"
    )
    return ",\n".join(parts)


ORACLES["semdedup"] = f"""
    WITH {_kmeans_cte(SEMDEDUP_K, SEMDEDUP_ITERS, SEMDEDUP_QUANT)},
    pairs AS (
        SELECT x.vid AS vec_a, y.vid AS vec_b,
               round(coalesce(list_dot_product(x.v, y.v) /
                     nullif(sqrt(list_dot_product(x.v, x.v)) *
                            sqrt(list_dot_product(y.v, y.v)), 0), 0), 6) AS cosine
        FROM assigned x JOIN assigned y ON x.cid = y.cid AND x.vid < y.vid),
    hits AS (SELECT * FROM pairs WHERE cosine >= {EMBED_THRESHOLD})
    SELECT vec_b AS vec_id, vec_a AS dup_of, cosine FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_b
                                     ORDER BY cosine DESC, vec_a) AS rn
        FROM hits) t
    WHERE rn = 1
"""

ORACLES["semantic_clusters"] = f"""
    WITH {_kmeans_cte(SEMDEDUP_K, SEMDEDUP_ITERS, SEMDEDUP_QUANT)},
    cents AS (SELECT cid, c FROM c{SEMDEDUP_ITERS}),
    d AS (SELECT a.cid,
                 round(list_dot_product(a.v, a.v)
                       - 2 * list_dot_product(a.v, ct.c)
                       + list_dot_product(ct.c, ct.c), 6) AS d2
          FROM assigned a JOIN cents ct USING (cid))
    SELECT cid, count(*) AS n_vecs,
           floor((sum(CAST(floor(d2 * 1000000.0 + 0.5) AS BIGINT)) + 500) / 1000)
               / 1000.0 AS inertia
    FROM d GROUP BY cid
"""


# The streaming maintenance loop at exact parameters: nprobe ==
# n_clusters makes the loser rule cell-independent ("any smaller-id
# vector with cosine >= threshold"), and the quantized Lloyd's replay
# (semdedup's _kmeans_cte) reproduces the FINAL cell assignment the
# manifest groups by — so the oracle is the survivors-per-cell count
# with no streaming machinery at all. A hash match certifies that the
# micro-batched probe/append loop landed exactly the batch-semantics
# store.
ORACLES["streaming_vector_maintenance"] = f"""
    WITH {_kmeans_cte(SEMDEDUP_K, SEMDEDUP_ITERS, SEMDEDUP_QUANT)},
    losers AS (
        SELECT DISTINCT y.vid AS vid
        FROM base x JOIN base y ON x.vid < y.vid
        WHERE round(coalesce(list_dot_product(x.v, y.v) /
                    nullif(sqrt(list_dot_product(x.v, x.v)) *
                           sqrt(list_dot_product(y.v, y.v)), 0), 0), 6)
              >= {EMBED_THRESHOLD})
    SELECT a.cid, count(*) AS n_vectors
    FROM assigned a LEFT JOIN losers l ON a.vid = l.vid
    WHERE l.vid IS NULL
    GROUP BY a.cid
"""

# The live text loop's accumulated {intra} ∪ {cross} edge set equals
# the one-shot banded pair graph (band-bucket sharing is symmetric
# and batching-independent; the exact-Jaccard verify is the same
# rounded expression) — so the oracle is dedup_minhash_lsh's md5
# replay, edges only.
ORACLES["streaming_text_maintenance"] = f"""
    SELECT doc_a, doc_b FROM ({ORACLES["dedup_minhash_lsh"]})
"""

# index_health oracle: the quantized Lloyd's replay gives the exact
# store (assigned = the persisted cid per vector); the probe's cell
# ranking is the same squared-euclidean argsort (-2 q·c + |c|², ties
# to the lowest cid) as _probe_pandas, taken to nprobe via
# row_number. Sums CAST to BIGINT (the HUGEINT carrier lesson);
# every output metric is exact-int arithmetic with one final float
# division, rounded 6 on both sides.
ORACLES["index_health"] = f"""
    WITH {_kmeans_cte(SEMDEDUP_K, SEMDEDUP_ITERS, SEMDEDUP_QUANT)},
    occ AS (SELECT cid, CAST(count(*) AS BIGINT) AS n
            FROM assigned GROUP BY cid),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_cells,
                   CAST(sum(n) AS BIGINT) AS n_vectors,
                   CAST(max(n) AS BIGINT) AS max_cell
            FROM occ),
    q AS (SELECT vid, v FROM base WHERE vid % {IH_QUERY_MOD} = 0),
    pr AS (SELECT vid, cid FROM (
        SELECT q.vid, c.cid,
               row_number() OVER (PARTITION BY q.vid ORDER BY
                   -2 * list_dot_product(q.v, c.c)
                       + list_dot_product(c.c, c.c),
                   c.cid) AS rn
        FROM q CROSS JOIN c{SEMDEDUP_ITERS} c) t
        WHERE rn <= {IH_NPROBE}),
    uni AS (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS union_rows
            FROM occ WHERE cid IN (SELECT DISTINCT cid FROM pr)),
    perq AS (SELECT coalesce(avg(q_rows), 0.0) AS mean_q_rows FROM (
        SELECT pr.vid, CAST(sum(coalesce(occ.n, 0)) AS BIGINT) AS q_rows
        FROM pr LEFT JOIN occ USING (cid) GROUP BY pr.vid) s)
    SELECT tot.n_cells, tot.n_vectors,
           round(max_cell * n_cells / n_vectors, 6) AS cell_skew,
           round(union_rows / n_vectors, 6) AS union_read_frac,
           round(mean_q_rows / n_vectors, 6) AS mean_query_read_frac,
           round({IH_NPROBE} / n_cells, 6) AS balanced_read_frac
    FROM tot, uni, perq
"""

ORACLES["dedup_ivf_neardup_bounded"] = f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
               WHERE vec_id < {IVF_NEARDUP_VEC_CAP})
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           round(coalesce(list_dot_product(q.e, c.e) /
                 nullif(sqrt(list_dot_product(q.e, q.e)) *
                        sqrt(list_dot_product(c.e, c.e)), 0), 0), 6) AS cosine
    FROM v q JOIN v c ON c.vec_id < q.vec_id
    WHERE round(coalesce(list_dot_product(q.e, c.e) /
                nullif(sqrt(list_dot_product(q.e, q.e)) *
                       sqrt(list_dot_product(c.e, c.e)), 0), 0), 6)
          >= {EMBED_THRESHOLD}
"""

ORACLES["dedup_embedding_incremental"] = f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    nw AS (SELECT * FROM v WHERE vec_id % 10 = 3),
    cp AS (SELECT * FROM v WHERE vec_id % 10 != 3)
    SELECT n.vec_id AS new_id, c.vec_id AS corpus_id,
           round(coalesce(list_dot_product(n.e, c.e) /
                 nullif(sqrt(list_dot_product(n.e, n.e)) *
                        sqrt(list_dot_product(c.e, c.e)), 0), 0), 6) AS cosine
    FROM nw n CROSS JOIN cp c
    WHERE round(coalesce(list_dot_product(n.e, c.e) /
                nullif(sqrt(list_dot_product(n.e, n.e)) *
                       sqrt(list_dot_product(c.e, c.e)), 0), 0), 6)
          >= {EMBED_THRESHOLD}
"""


def _lsh_eval_oracle() -> str:
    capped_minhash = ORACLES["dedup_minhash_lsh"].replace(
        "FROM documents", f"FROM documents\n            WHERE doc_id < {NGRAM_CAP}"
    )
    exact_sql = ORACLES["dedup_ngram_jaccard"]
    return f"""
        WITH exact AS (
            SELECT doc_a, doc_b FROM ({exact_sql}) WHERE jaccard >= {MINHASH_THRESHOLD}),
        lsh AS (SELECT doc_a, doc_b FROM ({capped_minhash})),
        agree AS (SELECT doc_a, doc_b FROM exact INTERSECT SELECT doc_a, doc_b FROM lsh),
        c AS (SELECT (SELECT count(*) FROM exact) AS n_exact,
                     (SELECT count(*) FROM lsh) AS n_lsh,
                     (SELECT count(*) FROM agree) AS n_both)
        SELECT n_exact, n_lsh, n_both,
               CASE WHEN n_lsh > 0 THEN round(CAST(n_both AS DOUBLE) / n_lsh, 6) ELSE 0.0 END AS precision,
               CASE WHEN n_exact > 0 THEN round(CAST(n_both AS DOUBLE) / n_exact, 6) ELSE 0.0 END AS recall
        FROM c
    """


ORACLES["dedup_lsh_eval"] = _lsh_eval_oracle()

# The indexed probe must return EXACTLY what the recompute-everything
# probe returns — both adjudicate against the identical SQL.
ORACLES["dedup_incremental_indexed"] = ORACLES["dedup_incremental"]
