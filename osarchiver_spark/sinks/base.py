"""Archival destinations (reference Destination ABC,
osarchiver/destination/base.py:12-36).

Backends re-expressed Spark-first:

- CsvSink        <- Csv formatter (destination/file/csv.py:20-58):
  headers/partitioned output/compression are Spark writer options
  instead of hand-managed file handles.
- ParquetArchiveSink <- archive-DB destination (destination/db/db.py):
  a parquet/date-partitioned "archive database" with schema-drift
  checking (db.py:246-277) and idempotent appends keyed on pk
  (db.py:374-414's INSERT..ON DUPLICATE KEY UPDATE no-op).
- SqlDumpSink    <- Sql formatter (destination/file/sql.py:34-84):
  INSERT-statement text emitted distributed via df.write.text.

A 100 TB note: every sink takes the *same* cached DataFrame — one
scan feeds N destinations (reference fan-out, archiver.py:44-64) —
and writes are partitioned by a date column when available, so the
archive lays out as date-pruned parquet.
"""

from __future__ import annotations

import os
from abc import ABC, abstractmethod
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osarchiver_spark.plans.naming import render_suffix
from osarchiver_spark.plans.schema_drift import check_schema_drift


class Sink(ABC):
    """write(table_name, df) once per table per run; idempotent."""

    @abstractmethod
    def write(self, table: str, df: DataFrame) -> None: ...

    def begin_run(self, now: datetime) -> None:
        """Per-run namespace hook: the Archiver calls this with the
        run's frozen ``now`` so file sinks derive a dated output
        directory (reference {date}-templated directories,
        destination/file/base.py:49-50)."""


def _hadoop_path_exists(spark: SparkSession, path: str) -> bool:
    """Existence probe through the Hadoop FileSystem API — works for
    any scheme (file://, s3a://, ...) without read-and-catch."""
    sc = spark.sparkContext
    hpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(sc._jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))


class _DatedFileSink(Sink):
    """Shared per-run dated-directory logic for file-format sinks.

    Run N+1 must never clobber run N's archive (those rows are gone
    from the source after the delete step): each run writes under
    ``<root>/<rendered {date} suffix>/``. A re-run with the SAME
    frozen now overwrites its own directory — idempotent."""

    def __init__(self, root: str, run_template: str = "{date}"):
        self.root = root
        self.run_template = run_template
        self._run_dir: str | None = None

    def begin_run(self, now: datetime) -> None:
        self._run_dir = render_suffix(self.run_template, now)

    def _out_path(self, leaf: str) -> str:
        run_dir = self._run_dir or render_suffix(self.run_template, datetime.now())
        return os.path.join(self.root, run_dir, leaf)


class CsvSink(_DatedFileSink):
    """One CSV dataset per table per run: ``<root>/<run>/<table>.csv``.

    Reference writes one growing ``db.table.csv`` per table with a
    header on first batch (destination/file/csv.py:41-50); Spark's
    distributed writer keeps the header-per-file contract and adds
    codec compression (reference compresses post-hoc with
    shutil.make_archive, destination/file/base.py:113-133).
    """

    def __init__(self, root: str, compression: str | None = None, run_template: str = "{date}"):
        super().__init__(root, run_template)
        self.compression = compression

    def write(self, table: str, df: DataFrame) -> None:
        writer = df.write.mode("overwrite").option("header", True)
        if self.compression:
            writer = writer.option("compression", self.compression)
        writer.csv(self._out_path(f"{table}.csv"))


class JsonlSink(_DatedFileSink):
    """One JSON-Lines dataset per table per run:
    ``<root>/<run>/<table>.jsonl`` — the interchange format of
    training-data pipelines (one document per line, shard-per-task).
    Spark's distributed json writer emits one shard per partition, so
    shard count/size is controlled by the upstream partitioning;
    codec compression (gzip/zstd) applies per shard. Beyond the
    reference's csv/sql formatter pair (destination/file/base.py:
    146-180) but the same fan-out contract."""

    def __init__(self, root: str, compression: str | None = None, run_template: str = "{date}"):
        super().__init__(root, run_template)
        self.compression = compression

    def write(self, table: str, df: DataFrame) -> None:
        writer = df.write.mode("overwrite")
        if self.compression:
            writer = writer.option("compression", self.compression)
        writer.json(self._out_path(f"{table}.jsonl"))


class OrcSink(_DatedFileSink):
    """One ORC dataset per table per run: ``<root>/<run>/<table>.orc``.
    Columnar export for warehouses that ingest ORC natively (Hive,
    Trino); same dated fan-out contract as the csv/sql/jsonl sinks,
    written by Spark's built-in ORC datasource with min/max stats and
    optional codec compression (zlib/snappy/zstd)."""

    def __init__(self, root: str, compression: str | None = None, run_template: str = "{date}"):
        super().__init__(root, run_template)
        self.compression = compression

    def write(self, table: str, df: DataFrame) -> None:
        writer = df.write.mode("overwrite")
        if self.compression:
            writer = writer.option("compression", self.compression)
        writer.orc(self._out_path(f"{table}.orc"))


class ParquetArchiveSink(Sink):
    """The "archive database": parquet per table, append-mode with
    pk-dedup so re-runs are idempotent (the Spark rewrite of
    ``ON DUPLICATE KEY UPDATE pk=pk``), plus drift check against the
    existing archive schema before any write (reference raises
    OSArchiverNotEqualTableError on drift)."""

    def __init__(
        self,
        root: str,
        primary_keys: dict[str, str | list[str]],
        partition_column: str | None = None,
        allow_additive: bool = False,
    ):
        self.root = root
        # single or composite keys (e.g. lineitem's (l_orderkey,
        # l_linenumber)); normalized to lists
        self.primary_keys = {t: [k] if isinstance(k, str) else list(k) for t, k in primary_keys.items()}
        self.partition_column = partition_column
        # additive schema evolution: accept sources that have grown
        # new columns (old files read them back as null via
        # mergeSchema); renames/drops/type changes still raise
        self.allow_additive = allow_additive

    def _path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def write(self, table: str, df: DataFrame) -> None:
        path = self._path(table)
        spark = df.sparkSession
        pk = self.primary_keys[table]
        # Explicit existence probe: ONLY a missing archive falls
        # through to first-write mode. A transient/corrupt read of an
        # EXISTING archive must raise — silently overwriting would
        # drop previously archived rows whose source copies are gone.
        existing = spark.read.parquet(path) if _hadoop_path_exists(spark, path) else None
        mode = "overwrite"
        if existing is not None:
            incoming = existing.drop("_archive_dt") if "_archive_dt" in existing.columns else existing
            if self.allow_additive:
                from osarchiver_spark.plans.schema_drift import additive_columns

                additive_columns(df.schema, incoming.schema)
            else:
                check_schema_drift(df.schema, incoming.schema)
            # Idempotent insert-if-absent: drop rows whose pk is
            # already archived (anti-join replaces the reference's
            # ON DUPLICATE KEY UPDATE no-op upsert). A join on
            # column names moves the keys first: restore the source
            # order so appended files match the earlier ones.
            df = df.join(existing.select(*pk), on=pk, how="left_anti").select(*df.columns)
            mode = "append"
        if self.partition_column and self.partition_column in df.columns:
            # Month-partitioned archive layout: partition pruning on
            # read with bounded partition counts (daily granularity
            # on a years-long retention column would mean thousands
            # of tiny partitions — the classic small-files failure).
            df = df.withColumn("_archive_dt", F.trunc(F.col(self.partition_column), "month"))
            df.write.mode(mode).partitionBy("_archive_dt").parquet(path)
        else:
            df.write.mode(mode).parquet(path)

    def read(self, spark, table: str) -> DataFrame:
        reader = spark.read
        if self.allow_additive:
            # old files lack later-added columns; mergeSchema unions
            # the file schemas and backfills them as null
            reader = reader.option("mergeSchema", "true")
        df = reader.parquet(self._path(table))
        return df.drop("_archive_dt") if "_archive_dt" in df.columns else df


class SqlDumpSink(_DatedFileSink):
    """SQL-dump text per table (reference destination/file/sql.py):
    one idempotent ``INSERT ... ON DUPLICATE KEY UPDATE pk=pk;`` line
    per row, rendered distributed (no driver collect) and written via
    the text writer, under the per-run dated directory."""

    def __init__(self, root: str, primary_keys: dict[str, str | list[str]], run_template: str = "{date}"):
        super().__init__(root, run_template)
        self.primary_keys = {t: [k] if isinstance(k, str) else list(k) for t, k in primary_keys.items()}

    def write(self, table: str, df: DataFrame) -> None:
        pk = self.primary_keys[table][0]
        cols = df.columns
        # Render each value: NULL unquoted, strings escaped (reference
        # sql.py:59-66) — built-in expressions, JVM-side.
        rendered = [
            F.when(F.col(c).isNull(), F.lit("NULL")).otherwise(
                F.concat(F.lit("'"), F.regexp_replace(F.col(c).cast("string"), "'", "''"), F.lit("'"))
            )
            for c in cols
        ]
        line = F.concat(
            F.lit(f"INSERT INTO `{table}` (" + ", ".join(f"`{c}`" for c in cols) + ") VALUES ("),
            F.concat_ws(", ", *rendered),
            F.lit(f") ON DUPLICATE KEY UPDATE `{pk}` = `{pk}`;"),
        )
        df.select(line.alias("value")).write.mode("overwrite").text(self._out_path(f"{table}.sql"))
