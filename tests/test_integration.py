"""End-to-end multi-table archival run at sf0.01: FK ordering,
multi-sink fan-out, source rewrite, and re-run idempotency together."""

from __future__ import annotations

import glob
from dataclasses import replace
from datetime import datetime

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from osarchiver_spark.operators.archive import Archiver
from osarchiver_spark.plans.jobspec import ArchiveJobSpec, TableSpec
from osarchiver_spark.sinks.base import CsvSink, ParquetArchiveSink
from osarchiver_spark.sources.parquet import load_table

NOW = datetime(2001, 12, 1)
CUTOFF = datetime(1998, 12, 1)
LATER = datetime(2002, 12, 1)  # cutoff 1999-12-01: a year of new rows


def test_multi_table_run(spark, sf_medium, tmp_path):
    tables = {
        "orders": load_table(spark, sf_medium, "orders"),
        "lineitem": load_table(spark, sf_medium, "lineitem"),
    }
    spec = ArchiveJobSpec(
        tables=[
            TableSpec("orders", "o_orderkey", "o_orderdate"),
            TableSpec(
                "lineitem",
                "l_orderkey",
                "l_shipdate",
                foreign_keys={"l_orderkey": ("orders", "o_orderkey")},
            ),
        ],
        retention_months=36,
        now=NOW,
    )
    # the synthetic lineitem is only unique on the full 4-column key
    pks = {
        "orders": ["o_orderkey"],
        "lineitem": ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"],
    }
    rewritten = {}
    arch = Archiver(
        spec,
        [ParquetArchiveSink(str(tmp_path / "arch"), pks, partition_column=None),
         CsvSink(str(tmp_path / "csv"))],
        source_rewriter=lambda t, df: rewritten.__setitem__(t, df.count()),
    )
    results = arch.run(tables)

    # children before parents
    assert [r.table for r in results] == ["lineitem", "orders"]

    # archived + remaining == total, per table
    for t, deleted_col in [("orders", "o_orderdate"), ("lineitem", "l_shipdate")]:
        total = tables[t].count()
        want_archived = tables[t].filter(F.col(deleted_col) <= F.lit(CUTOFF)).count()
        got = next(r for r in results if r.table == t)
        assert got.archived_rows == want_archived
        assert got.remaining_rows == total - want_archived
        assert rewritten[t] == got.remaining_rows
        archived = spark.read.parquet(str(tmp_path / "arch" / t))
        assert archived.count() == want_archived

    # re-run: archive unchanged (idempotent), no duplicate pks
    arch.run(tables)
    for t, pk in pks.items():
        archived = spark.read.parquet(str(tmp_path / "arch" / t))
        assert archived.groupBy(*pk).count().filter("count > 1").count() == 0

    # a later run appends rows through the pk anti-join: every archive
    # file, first write and appends alike, keeps the source's column
    # order (a join on column names would move the key columns first)
    before = {t: archived_files(tmp_path / "arch" / t) for t in pks}
    Archiver(replace(spec, now=LATER), arch.sinks[:1]).run(tables)
    for t in pks:
        files = archived_files(tmp_path / "arch" / t)
        assert len(files) > len(before[t]), f"{t}: the later run appended nothing"
        for f in files:
            assert pq.read_schema(f).names == tables[t].columns, f


def archived_files(table_dir) -> list[str]:
    return sorted(glob.glob(str(table_dir / "*.parquet")))
