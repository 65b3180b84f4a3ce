"""Streaming CDC apply: maintain a materialized current-state table
from a changelog stream (the foreachBatch upsert every lakehouse
pipeline runs off a Debezium/binlog feed).

Per micro-batch: collapse the batch to one winner per key
(operators/merge.py::cdc_apply — a map-combinable max_by agg), then
reconcile with the stored state by sequence number: a batch winner
replaces the stored row only when its sequence is newer, and a
winning delete removes the key. Out-of-order delivery ACROSS batches
is therefore safe, not just within a batch.

State is a parquet directory rewritten per batch through
operators/maintenance.py::_swap_in (the compaction swap): a crash at
any point leaves a complete old or new state. On Delta/Iceberg the
reconcile collapses into a single MERGE statement; the plan shape —
hash agg + keyed outer reconcile, never a window over history — is
what survives a 100 TB state table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osarchiver_spark.operators.maintenance import _fs_and_path, _swap_in
from osarchiver_spark.operators.merge import cdc_apply
from osarchiver_spark.sinks.base import _hadoop_path_exists


class CdcStateMissingError(RuntimeError):
    """The checkpoint records committed batches but the state
    directory is gone: resuming would rebuild the state from only the
    batches after the checkpoint and silently lose every earlier key."""


def reconcile_cdc_state(
    state: DataFrame | None,
    batch: DataFrame,
    key_col: str,
    seq_col: str,
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """Merge one changelog micro-batch into the stored state.

    batch winners (one per key, newest seq) replace the stored row
    only when strictly newer (the idempotence/out-of-order guard).
    Deletes are retained as TOMBSTONES (``is_deleted`` + their seq)
    rather than physically dropped — otherwise a late lower-seq
    insert for a deleted key would find no stored row to compare
    against and resurrect it. Read the live view with
    ``filter(~is_deleted)``; tombstones age out with whatever
    retention the feed's max reordering window allows."""
    payload = [c for c in batch.columns if c not in (key_col, seq_col, op_col)]
    winners = (
        batch.groupBy(key_col)
        .agg(
            F.max_by(F.struct(op_col, *payload), F.col(seq_col)).alias("w"),
            F.max(seq_col).alias("last_seq"),
        )
        .select(
            key_col,
            *[F.col(f"w.{c}").alias(c) for c in payload],
            "last_seq",
            (F.col(f"w.{op_col}") == delete_op).alias("is_deleted"),
        )
    )
    if state is None:
        return winners
    newer = winners.join(
        state.select(key_col, F.col("last_seq").alias("_state_seq")),
        key_col,
        "left",
    ).filter(
        F.col("_state_seq").isNull() | (F.col("last_seq") > F.col("_state_seq"))
    ).drop("_state_seq")
    kept = state.join(newer.select(key_col), key_col, "left_anti")
    return kept.unionByName(newer)


def run_streaming_cdc_upsert(
    spark: SparkSession,
    watch_dir: str,
    schema,
    key_col: str,
    seq_col: str,
    target_dir: str,
    path_glob: str | None = None,
    max_files_per_trigger: int = 1,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Drive the changelog files in ``watch_dir`` through the
    streaming engine one file per micro-batch and maintain the
    materialized state at ``target_dir``; returns the final state as a
    batch DataFrame. ``maxFilesPerTrigger=1`` forces real multi-batch
    execution so cross-batch reconciliation is exercised, not just the
    single-batch collapse.

    ``checkpoint_dir`` (default ``<target_dir>__ckpt``) makes the
    pipeline RESTARTABLE: a re-invocation after a crash — or a later
    run over a grown changelog — resumes from the recorded source
    offsets instead of re-reading every file (re-application would be
    a seq-guarded no-op for state, but a full changelog re-read is
    exactly the cost a restart must not pay). Pinned in
    tests/test_cdc.py::test_resume_after_kill_processes_only_new_files.

    Raises :class:`CdcStateMissingError` when the checkpoint has
    committed batches but ``target_dir`` does not exist."""
    if checkpoint_dir is None:
        checkpoint_dir = f"{target_dir.rstrip('/')}__ckpt"
    if _has_committed_batches(spark, checkpoint_dir) and not _hadoop_path_exists(
        spark, target_dir
    ):
        raise CdcStateMissingError(
            f"checkpoint {checkpoint_dir} has committed batches but the state "
            f"{target_dir} is missing; restore the state, or remove the "
            f"checkpoint to rebuild from the whole changelog"
        )
    reader = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .option("recursiveFileLookup", "true")
    )
    if path_glob:
        reader = reader.option("pathGlobFilter", path_glob)
    stream = reader.load(watch_dir)

    def apply_batch(batch_df: DataFrame, _epoch_id: int) -> None:
        sp = batch_df.sparkSession
        state = (
            sp.read.parquet(target_dir)
            if _hadoop_path_exists(sp, target_dir)
            else None
        )
        new_state = reconcile_cdc_state(state, batch_df, key_col, seq_col)
        # the state feeds its own rewrite: write the new copy beside it,
        # then rename it in
        _swap_in(sp, target_dir, lambda tmp: new_state.write.mode("overwrite").parquet(tmp))

    q = (
        stream.writeStream.outputMode("append")
        .foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # live view: tombstones stay on disk (late-arrival guard), reads
    # filter them out
    return spark.read.parquet(target_dir).filter(~F.col("is_deleted")).drop(
        "is_deleted"
    )


def _has_committed_batches(spark: SparkSession, checkpoint_dir: str) -> bool:
    fs, commits, _ = _fs_and_path(spark, f"{checkpoint_dir.rstrip('/')}/commits")
    return fs.exists(commits) and any(
        st.getPath().getName().isdigit() for st in fs.listStatus(commits)
    )
