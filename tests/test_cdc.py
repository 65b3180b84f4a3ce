"""CDC apply: batch collapse + streaming cross-batch reconciliation."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from osarchiver_spark.operators.merge import cdc_apply
from osarchiver_spark.streaming.cdc import run_streaming_cdc_upsert

CHANGELOG_SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("op", T.StringType()),
        T.StructField("seq", T.LongType()),
        T.StructField("v", T.StringType()),
    ]
)

ROWS = [
    # key 1: insert → update          → survives with v=b
    (1, "I", 1, "a"), (1, "U", 4, "b"),
    # key 2: insert → delete          → gone
    (2, "I", 2, "x"), (2, "D", 5, None),
    # key 3: delete arrives BEFORE the (stale) insert by seq → gone,
    # and the out-of-order low-seq insert must NOT resurrect it
    (3, "D", 7, None), (3, "I", 6, "y"),
    # key 4: plain insert             → survives with v=z
    (4, "I", 3, "z"),
]
EXPECT = {(1, "b", 4), (4, "z", 3)}


def test_cdc_apply_batch_collapse(spark):
    log = spark.createDataFrame(ROWS, CHANGELOG_SCHEMA)
    out = {(r.k, r.v, r.last_seq) for r in cdc_apply(log, "k", "seq").collect()}
    assert out == EXPECT


def test_streaming_cdc_reconciles_across_batches(spark, tmp_path):
    """The changelog split into per-seq-range files, streamed one file
    per micro-batch (so reconciliation really crosses batches, with
    key 3's delete arriving in an EARLIER batch than its stale
    insert): the maintained state must equal the one-shot batch
    apply."""
    watch = tmp_path / "log"
    watch.mkdir()
    log = spark.createDataFrame(ROWS, CHANGELOG_SCHEMA)
    # file A: seq 1-3, file B: seq 7 (the delete), file C: seq 4-6
    for name, lo, hi in (("a", 1, 3), ("b", 7, 7), ("c", 4, 6)):
        log.filter((F.col("seq") >= lo) & (F.col("seq") <= hi)).coalesce(
            1
        ).write.parquet(str(watch / f"{name}.parquet"))
    final = run_streaming_cdc_upsert(
        spark,
        str(watch),
        CHANGELOG_SCHEMA,
        "k",
        "seq",
        str(tmp_path / "state"),
    )
    out = {(r.k, r.v, r.last_seq) for r in final.collect()}
    assert out == EXPECT


def test_resume_after_kill_processes_only_new_files(spark, tmp_path):
    """Restartability pin (r12): the checkpointed pipeline resumes
    from recorded offsets — a second invocation after new changelog
    files land (or after a crash) processes ONLY the unseen files,
    and the maintained state still equals the one-shot batch apply."""
    import os

    watch = tmp_path / "log"
    watch.mkdir()
    log = spark.createDataFrame(ROWS, CHANGELOG_SCHEMA)
    log.filter(F.col("seq") <= 3).coalesce(1).write.parquet(str(watch / "a.parquet"))
    log.filter(F.col("seq") == 7).coalesce(1).write.parquet(str(watch / "b.parquet"))
    state = str(tmp_path / "state")
    first = run_streaming_cdc_upsert(
        spark, str(watch), CHANGELOG_SCHEMA, "k", "seq", state
    )
    first.collect()
    ckpt_offsets = str(tmp_path / "state__ckpt" / "offsets")
    batches_first = {f for f in os.listdir(ckpt_offsets) if not f.startswith(".")}
    assert batches_first, "checkpoint must record committed batches"
    # late files arrive; the re-invocation (a restart of the same
    # logical pipeline: same watch/target/checkpoint) must resume
    log.filter((F.col("seq") >= 4) & (F.col("seq") <= 6)).coalesce(1).write.parquet(
        str(watch / "c.parquet")
    )
    final = run_streaming_cdc_upsert(
        spark, str(watch), CHANGELOG_SCHEMA, "k", "seq", state
    )
    out = {(r.k, r.v, r.last_seq) for r in final.collect()}
    assert out == EXPECT
    batches_final = {f for f in os.listdir(ckpt_offsets) if not f.startswith(".")}
    new_batches = batches_final - batches_first
    # exactly ONE new micro-batch: the new file, not a re-read of a+b
    assert len(new_batches) == 1, (batches_first, batches_final)


def _write_changelog(spark, watch):
    """ROWS as three one-file micro-batches: seq 1-3, 7, 4-6."""
    watch.mkdir()
    log = spark.createDataFrame(ROWS, CHANGELOG_SCHEMA)
    for name, lo, hi in (("a", 1, 3), ("b", 7, 7), ("c", 4, 6)):
        log.filter((F.col("seq") >= lo) & (F.col("seq") <= hi)).coalesce(
            1
        ).write.parquet(str(watch / f"{name}.parquet"))


def test_failed_publish_keeps_previous_state_and_rerun_converges(
    spark, tmp_path, monkeypatch
):
    """Batch 2 crashes after writing its new state but before the
    swap: batch 1's state must still be complete at the target, and
    a re-run of the same pipeline must converge to the one-shot
    apply."""
    import pytest

    from osarchiver_spark.streaming import cdc

    _write_changelog(spark, tmp_path / "log")
    state = str(tmp_path / "state")
    real_swap_in = cdc._swap_in
    publishes = []

    def crash_on_second_publish(sp, path, write_to_tmp):
        publishes.append(path)
        if len(publishes) != 2:
            return real_swap_in(sp, path, write_to_tmp)

        def write_then_crash(tmp):
            write_to_tmp(tmp)
            raise RuntimeError("injected crash before the swap")

        return real_swap_in(sp, path, write_then_crash)

    monkeypatch.setattr(cdc, "_swap_in", crash_on_second_publish)
    with pytest.raises(Exception, match="injected crash"):
        run_streaming_cdc_upsert(spark, str(tmp_path / "log"), CHANGELOG_SCHEMA, "k", "seq", state)
    after_batch1 = {
        (r.k, r.v, r.last_seq, r.is_deleted) for r in spark.read.parquet(state).collect()
    }
    assert after_batch1 == {(1, "a", 1, False), (2, "x", 2, False), (4, "z", 3, False)}

    monkeypatch.setattr(cdc, "_swap_in", real_swap_in)
    final = run_streaming_cdc_upsert(
        spark, str(tmp_path / "log"), CHANGELOG_SCHEMA, "k", "seq", state
    )
    assert {(r.k, r.v, r.last_seq) for r in final.collect()} == EXPECT


def test_missing_state_with_checkpoint_is_refused(spark, tmp_path):
    """A checkpoint with committed batches and no state would resume
    from an empty state and drop every earlier key: refuse it."""
    import shutil

    import pytest

    from osarchiver_spark.streaming.cdc import CdcStateMissingError

    _write_changelog(spark, tmp_path / "log")
    state = str(tmp_path / "state")
    run_streaming_cdc_upsert(spark, str(tmp_path / "log"), CHANGELOG_SCHEMA, "k", "seq", state)
    shutil.rmtree(state)
    with pytest.raises(CdcStateMissingError):
        run_streaming_cdc_upsert(spark, str(tmp_path / "log"), CHANGELOG_SCHEMA, "k", "seq", state)
