"""Streaming vector-store maintenance: the LIVE twin of
operators/export.py::export_vector_store_indexed.

A live embedding pipeline does not batch drops by hand — vectors land
in a directory (or a queue) and a Structured Streaming job keeps the
serving store deduplicated and current. Each micro-batch runs exactly
the per-drop maintenance step the batch capstone rehearses:

    micro-batch of new vectors
      → intra-batch near-dup probe        (ivf_neardup_probe over the
                                           batch's own cell index)
      → cross probe vs the STANDING index (partition-pruned read of
                                           the probed cells only —
                                           never a corpus rescan)
      → loser rule                        (first-arrival-wins: a new
                                           vector loses to ANY standing
                                           match; within a batch, to a
                                           smaller id — with ingest-
                                           ordered ids the two rules
                                           coincide and the result is
                                           row-identical to the batch
                                           one-shot build)
      → append batch cells to the dedup index, survivors to the store

Centroids are FROZEN (trained offline; FAISS ``IndexIVF.add``
semantics) — which is precisely what makes the streaming build equal
the batch build: the match rule depends only on the model, never on
micro-batch boundaries. Retrain + ``ivf_reindex`` is an offline
migration, not a streaming concern.

Restart safety: ``foreachBatch`` appends are not idempotent on epoch
REPLAY (a recovered query re-runs its last epoch), so each epoch
brackets its appends with BEGIN/DONE markers under
``<store>__epochs/``. A replayed epoch that finds DONE is skipped
whole; one that finds BEGIN without DONE raises — the appends span
several directories and are not atomic, so a crash inside that
window leaves a partially-applied epoch that silent re-processing
would double-append (duplicate index cells ⇒ duplicate loser pairs ⇒
permanent divergence from the batch-build identity). Detected-and-
refused beats silently-corrupted — and the refusal is REPAIRABLE:
the BEGIN marker carries a manifest of every data file that existed
in the protected directories at epoch start, so
``repair_torn_epochs`` can delete exactly the torn epoch's partial
appends (files not in the snapshot) and clear the marker. The stream
checkpoints its offsets (``<store>__checkpoint``), so a restarted
query replays the SAME epoch id over the SAME input files — after
repair the re-run lands the epoch once, and the recovered store is
fingerprint-identical to the one-shot build (pinned in
tests/test_streaming_vector_store.py). BEGIN is written immediately
before the first real append (after the probe results are
materialized), so a crash anywhere earlier in the batch leaves no
marker and no repair debt.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EMBEDDINGS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)


def _fs(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), hpath, jvm


def _path_exists(spark: SparkSession, path: str) -> bool:
    fs, hpath, _ = _fs(spark, path)
    return fs.exists(hpath)


def _mark_epoch(
    spark: SparkSession, marker_dir: str, epoch_id: int, phase: str = "done"
) -> None:
    fs, _, jvm = _fs(spark, marker_dir)
    fs.mkdirs(jvm.org.apache.hadoop.fs.Path(f"{marker_dir}/{epoch_id}.{phase}"))


def _list_data_files(spark: SparkSession, path: str) -> list[str]:
    """Recursive listing of every file under ``path`` (full-path
    strings); empty when the directory does not exist. One FS listing
    per call — the snapshot cost per epoch is O(files in the store),
    the same order as the write-side commit's own listing.

    Unlike operators/maintenance.py::data_file_stats this deliberately
    INCLUDES hidden/underscore files (_SUCCESS et al.): the rollback
    manifest must cover everything an append might create, or repair
    would leave a torn epoch's commit markers behind."""
    fs, hpath, _ = _fs(spark, path)
    if not fs.exists(hpath):
        return []
    out = []
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        out.append(it.next().getPath().toString())
    return out


def _write_text(spark: SparkSession, path: str, text: str) -> None:
    fs, hpath, _ = _fs(spark, path)
    stream = fs.create(hpath, True)
    try:
        stream.write(bytearray(text.encode("utf-8")))
    finally:
        stream.close()


def _read_text(spark: SparkSession, path: str) -> str:
    fs, hpath, jvm = _fs(spark, path)
    stream = fs.open(hpath)
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def _begin_epoch(
    spark: SparkSession,
    marker_dir: str,
    epoch_id: int,
    protected_dirs: list[str],
) -> None:
    """Write the BEGIN marker with a manifest snapshot of every data
    file currently in the protected directories. Called immediately
    before the epoch's FIRST append — a crash before any write leaves
    no marker at all (nothing to repair), a crash after leaves a
    marker whose manifest diff identifies exactly the partial files."""
    import json

    snapshot = {
        d: {
            "exists": _path_exists(spark, d),
            "files": _list_data_files(spark, d),
        }
        for d in protected_dirs
    }
    _mark_epoch(spark, marker_dir, epoch_id, "begin")
    _write_text(
        spark,
        f"{marker_dir}/{epoch_id}.begin/manifest.json",
        json.dumps(snapshot),
    )


def _epoch_guard(spark: SparkSession, marker_dir: str, epoch_id: int) -> bool:
    """Returns True if the epoch is already DONE (skip it); raises if
    it BEGAN but never finished (partially-applied multi-directory
    appends — replaying would double-append); otherwise returns False
    (proceed — the caller marks BEGIN right before its first write)."""
    if _path_exists(spark, f"{marker_dir}/{epoch_id}.done"):
        return True
    if _path_exists(spark, f"{marker_dir}/{epoch_id}.begin"):
        raise RuntimeError(
            f"epoch {epoch_id} began but never completed under "
            f"{marker_dir}: its appends are partially applied across "
            f"the index/store directories and re-running would "
            f"double-append. Run repair_torn_epochs (or drop the "
            f"partial epoch's files by hand) before restarting."
        )
    return False


def repair_torn_epochs(
    spark: SparkSession, marker_dir: str, protected_dirs: list[str]
) -> list[int]:
    """Roll back every BEGIN-without-DONE epoch under ``marker_dir``:
    delete the files the torn epoch appended (anything in a protected
    directory that is NOT in the BEGIN manifest's snapshot; a
    directory the snapshot says did not exist is removed whole), then
    clear the marker. With the stream's durable checkpoint, a restart
    replays the same epoch id over the same input files, so the
    repaired-and-rerun store is identical to a never-crashed run.
    Returns the repaired epoch ids."""
    import json

    fs, hpath, jvm = _fs(spark, marker_dir)
    if not fs.exists(hpath):
        return []
    torn = []
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if not name.endswith(".begin"):
            continue
        epoch_id = int(name[: -len(".begin")])
        if _path_exists(spark, f"{marker_dir}/{epoch_id}.done"):
            continue
        if not _path_exists(
            spark, f"{marker_dir}/{epoch_id}.begin/manifest.json"
        ):
            # crash INSIDE _begin_epoch, between the marker mkdir and
            # the manifest write: the first append comes only after
            # _begin_epoch returns, so nothing landed — clearing the
            # bare marker IS the complete repair
            fs.delete(
                jvm.org.apache.hadoop.fs.Path(f"{marker_dir}/{epoch_id}.begin"),
                True,
            )
            torn.append(epoch_id)
            continue
        manifest = json.loads(
            _read_text(spark, f"{marker_dir}/{epoch_id}.begin/manifest.json")
        )
        for d, snap in manifest.items():
            dfs, dpath, _ = _fs(spark, d)
            if not snap["exists"]:
                dfs.delete(dpath, True)
                continue
            keep = set(snap["files"])
            for f in _list_data_files(spark, d):
                if f not in keep:
                    dfs.delete(jvm.org.apache.hadoop.fs.Path(f), False)
        fs.delete(jvm.org.apache.hadoop.fs.Path(f"{marker_dir}/{epoch_id}.begin"), True)
        torn.append(epoch_id)
    return sorted(torn)


def make_maintenance_batch_fn(
    spark: SparkSession,
    index_dir: str,
    store_dir: str,
    centroids: list[list[float]],
    threshold: float,
    nprobe: int,
    pq_models: tuple[list[list[float]], list[list[list[float]]]] | None = None,
):
    """The per-micro-batch maintenance step, factored out so tests can
    drive it directly (epoch-replay semantics) and foreachBatch can
    wrap it. Appends the batch's cells to ``index_dir`` and its
    survivors to ``store_dir`` (as PQ codes when ``pq_models`` is
    given — the batch exports' serving-format knob, same semantics);
    skips epochs already marked done."""
    from osarchiver_spark.operators.export import _write_store
    from osarchiver_spark.operators.ivf import (
        ivf_index,
        ivf_neardup_probe,
        prep_indexed_probe,
    )
    from osarchiver_spark.session import overlap

    marker_dir = f"{store_dir.rstrip('/')}__epochs"

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if _epoch_guard(spark, marker_dir, epoch_id):
            return  # replayed epoch: its appends already landed
        batch = batch_df.localCheckpoint()  # stream-sourced frames
        # cannot be re-planned after the trigger; pin the rows once
        # (checkpoint FIRST, then count the pinned blocks — the old
        # count-then-checkpoint order computed the batch twice)
        n = batch.count()
        if n == 0:
            _mark_epoch(spark, marker_dir, epoch_id)
            return
        batch_index = ivf_index(batch, "vec_id", "embedding", centroids)
        # the intra and cross probes share the SAME query side and
        # frozen model, so the probe pass + cid collect runs ONCE and
        # feeds both (prep_indexed_probe; r11 optimization round)
        prepped = prep_indexed_probe(
            batch, "vec_id", "embedding", centroids, nprobe
        )
        intra = ivf_neardup_probe(
            batch_index, batch, "vec_id", "embedding", centroids,
            threshold=threshold, nprobe=nprobe, batch_rows=n, prepped=prepped,
        ).filter(F.col("neighbor_id") < F.col("query_id"))
        losers = intra.select(F.col("query_id").alias("vec_id"))
        if _path_exists(spark, index_dir):
            from osarchiver_spark.operators.ivf import IVF_STORE_SCHEMA

            # declared layout: re-inferring the GROWING index dir's
            # footers every micro-batch is pure latency (r11 round)
            standing = spark.read.schema(IVF_STORE_SCHEMA).parquet(index_dir)
            cross = ivf_neardup_probe(
                standing, batch, "vec_id", "embedding", centroids,
                threshold=threshold, nprobe=nprobe, batch_rows=n, prepped=prepped,
            )  # first-arrival-wins: ANY standing match is a loss
            losers = losers.unionByName(cross.select(F.col("query_id").alias("vec_id")))
        # materialize losers BEFORE appending this batch's cells (the
        # lazily-planned probe must never observe files appended after
        # it — the capstone's checkpoint rule)
        losers = losers.distinct().localCheckpoint()
        # BEGIN only now: everything above is read-only, so a crash
        # before this point leaves no marker and no repair debt; the
        # manifest snapshot bounds the torn window to the two appends
        _begin_epoch(spark, marker_dir, epoch_id, [index_dir, store_dir])
        first = not _path_exists(spark, index_dir)
        store_mode = "overwrite" if not _path_exists(spark, store_dir) else "append"
        # the two appends target DIFFERENT directories and both read
        # only pinned checkpoints (batch, losers), so they overlap as
        # concurrent driver-thread jobs (guide §2.6; r12 round) — the
        # BEGIN/DONE manifest brackets both regardless of order, so
        # torn-epoch repair semantics are unchanged
        survivors = batch.join(losers, "vec_id", "left_anti")
        overlap(
            spark,
            lambda: _write_store(survivors, centroids, pq_models, store_dir, store_mode),
            lambda: batch_index.write.mode(
                "overwrite" if first else "append"
            ).partitionBy("cid").parquet(index_dir),
        )
        _mark_epoch(spark, marker_dir, epoch_id)

    return process_batch


def run_streaming_vector_maintenance(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str,
    store_dir: str,
    centroids: list[list[float]],
    threshold: float = 0.9,
    nprobe: int = 4,
    max_files_per_trigger: int | None = None,
    pq_models: tuple[list[list[float]], list[list[list[float]]]] | None = None,
    auto_repair: bool = False,
    maintenance_policy: dict | None = None,
) -> DataFrame:
    """Stream the embeddings fixture through the maintenance loop and
    return the resulting store's manifest (cid, n_vectors).
    ``max_files_per_trigger`` splits a multi-file source into multiple
    micro-batches (the live-arrival shape); ``None`` processes all
    available input in one trigger — over a single-file fixture that
    is ONE batch, whose output is row-identical to the batch one-shot
    build by the capstone identity.

    The query checkpoints under ``<store>__checkpoint`` so epoch ids
    are DURABLE: a restarted run resumes from the committed offsets
    and a replayed epoch maps to the same input files — the property
    the BEGIN/DONE marker guard's replay semantics rely on. The
    index/store/marker/checkpoint directories form one unit; never
    reuse some of them without the others. ``auto_repair`` rolls back
    any torn epoch (crash inside the append window) before starting,
    via ``repair_torn_epochs``.

    ``maintenance_policy`` (kwargs for
    :func:`osarchiver_spark.operators.health.maintain_store`, e.g.
    ``{"nprobe": 4, "target_bytes": ...}``) runs the health check
    after the stream drains: per-drop appends fragment the store one
    file per touched cell per epoch, and the policy's ``compact``
    branch rewrites it layout-preserving once a cell's file count
    crosses the threshold; drift signals come back as a ``retrain``
    decision in the report (never auto-executed)."""
    from osarchiver_spark.sources.parquet import ensure_session_defaults
    from osarchiver_spark.streaming.pipeline import fixture_table_watch

    ensure_session_defaults(spark)
    marker_dir = f"{store_dir.rstrip('/')}__epochs"
    if auto_repair:
        repair_torn_epochs(spark, marker_dir, [index_dir, store_dir])
    watch_dir, glob = fixture_table_watch(sf_dir, "embeddings")
    reader = spark.readStream.format("parquet").schema(EMBEDDINGS_RAW_SCHEMA)
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.load(watch_dir)

    process_batch = make_maintenance_batch_fn(
        spark, index_dir, store_dir, centroids, threshold, nprobe, pq_models
    )
    q = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", f"{store_dir.rstrip('/')}__checkpoint")
        .foreachBatch(process_batch)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    if maintenance_policy is not None:
        from osarchiver_spark.operators.health import maintain_store

        maintain_store(
            spark, store_dir, centroids,
            index_dir=index_dir, **maintenance_policy,
        )

    store = spark.read.parquet(store_dir).withColumn(
        "cid", F.col("cid").cast("int")
    )
    return store.groupBy("cid").agg(F.count("*").alias("n_vectors"))
