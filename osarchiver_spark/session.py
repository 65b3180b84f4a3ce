"""SparkSession factory with scale-aware defaults.

Local testing runs on local[N]; the same config block is what we'd
ship to a 1000-executor cluster (AQE on, adaptive coalesce, skew-join
handling, Arrow for the few Pandas-UDF paths). Shuffle partitions are
sized from the env so the driver's bench (local[$SPARK_GRAFT_CPUS])
doesn't over-parallelize tiny SFs.
"""

from __future__ import annotations

import os
import threading
from typing import Any, Callable

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target


def get_spark(app_name: str = "osarchiver_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the SparkSession.

    AQE is enabled so runtime statistics re-plan joins (broadcast
    promotion, skew splitting, partition coalescing) — on a real
    cluster this is what keeps a 100 TB shuffle from being dominated
    by a skewed key or thousands of tiny reducers.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Older fixture builds store TIMESTAMP(NANOS); Spark has no
        # nanos type — read as long, converted to micros in the catalog
        # (sources/parquet.py) to match DuckDB's truncation.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Current fixture builds store naive timestamp[us]; read as
        # TIMESTAMP (LTZ, UTC session) rather than TIMESTAMP_NTZ so
        # epoch functions (unix_micros etc.) type-check and semantics
        # match DuckDB's naive-as-UTC interpretation.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def overlap(spark: SparkSession, *fns: Callable[[], Any]) -> list[Any]:
    """Run independent Spark job chains concurrently from the driver.

    ``fns[0]`` runs on the calling thread; every other callable runs on
    its own worker thread that inherits the caller's local properties
    (job group, description, scheduler pool, streaming query ids) and
    session tags, so the jobs it launches stay attributable to — and
    cancellable with — the caller's. Waits for every callable, then
    re-raises the first failure in argument order, or returns the
    results in argument order."""
    results: list[Any] = [None] * len(fns)
    errors: list[BaseException | None] = [None] * len(fns)

    def run(i: int) -> None:
        try:
            results[i] = fns[i]()
        except BaseException as exc:  # noqa: BLE001 - re-raised by the caller
            errors[i] = exc

    # wrap on the calling thread: the properties are captured here
    workers = [
        threading.Thread(target=inheritable_thread_target(spark)(run), args=(i,))
        for i in range(1, len(fns))
    ]
    for w in workers:
        w.start()
    run(0)
    for w in workers:
        w.join()
    for exc in errors:
        if exc is not None:
            raise exc
    return results
