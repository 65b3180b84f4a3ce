"""The archival pipeline: read → multi-sink write → source rewrite.

Spark re-expression of the reference run loop (osarchiver/archiver.py:
82-106): per table, in FK-topological order (children first), the
retention predicate selects archivable rows, every destination writes
them, and ONLY if all destinations succeeded is the "delete"
performed — here a source rewrite keeping the anti-join complement.
Any sink failure raises and the source stays untouched for that table
(the no-data-loss invariant, archiver.py:96-103 / errors.py:24-29).

Dry-run (reference X1, common/db.py:287-303: execute+rollback) is
plan-only: count what would be archived, write nothing.

Scale design notes:
- one cached scan feeds all sinks (fan-out without re-scan);
- the source rewrite uses the *negated predicate*, not an anti-join,
  when the archived set came from this run's own filter — a pure
  second pushdown scan, no shuffle at all; the anti-join path exists
  for externally-supplied archived sets;
- per-table jobs are independent — on a real cluster they can run
  as parallel job groups; ordering only constrains FK-related tables.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime
from functools import partial

from pyspark.sql import DataFrame, SparkSession

from osarchiver_spark.operators.retention import (
    frozen_now,
    remaining_after_archive,
    retention_cutoff,
    retention_filter,
    retention_predicate,
)
from osarchiver_spark.plans.jobspec import ArchiveJobSpec, TableSpec
from osarchiver_spark.plans.toposort import table_generations
from osarchiver_spark.session import overlap
from osarchiver_spark.sinks.base import Sink


class ArchivingFailed(Exception):
    """A destination failed; the delete step is suppressed for the
    table (reference OSArchiverArchivingFailed, errors.py:24-29)."""


@dataclass
class TableRunResult:
    table: str
    archived_rows: int
    remaining_rows: int | None
    dry_run: bool
    # set when this table's archiving failed: the delete was
    # suppressed and the run continued with the other tables
    # (reference archiver.py:97-103)
    error: str | None = None


@dataclass
class Archiver:
    """One source (dict of DataFrames) + N destinations."""

    spec: ArchiveJobSpec
    sinks: list[Sink] = field(default_factory=list)
    # receives (table, remaining_df); persists the rewritten source.
    source_rewriter: object | None = None
    # cross-run incremental state (plans/watermark.py): when set, each
    # table archives only (last watermark, cutoff] — both bounds reach
    # the parquet scan as pushed filters — and the watermark advances
    # to the cutoff ONLY after the table's run fully succeeds.
    watermarks: object | None = None

    # run tables of the same FK generation concurrently (Spark's
    # scheduler interleaves the jobs across executors); FK ordering
    # is preserved BETWEEN generations.
    max_parallel_tables: int = 1

    def run(self, dataframes: dict[str, DataFrame]) -> list[TableRunResult]:
        if not self.spec.archive_data and not self.spec.delete_data:
            # Reference short-circuit (archiver.py:87-90).
            return []
        now = self.spec.now or frozen_now()
        cutoff = retention_cutoff(now, self.spec.retention_months)
        for sink in self.sinks:
            sink.begin_run(now)  # dated per-run namespace for file sinks
        results: list[TableRunResult] = []
        for gen in table_generations(self.spec.eligible_tables()):
            # at most max_parallel_tables lanes, each running its share
            # of the generation in order; lane 0 is the calling thread
            width = max(1, min(self.max_parallel_tables, len(gen)))
            lanes = overlap(
                dataframes[gen[0].name].sparkSession,
                *(partial(self._run_lane, gen[i::width], dataframes, cutoff) for i in range(width)),
            )
            results.extend(lanes[i % width][i // width] for i in range(len(gen)))
        return results

    def _run_lane(
        self, tables: list[TableSpec], dataframes: dict[str, DataFrame], cutoff: datetime
    ) -> list[TableRunResult]:
        return [self._run_table(t, dataframes[t.name], cutoff) for t in tables]

    def _run_table(self, tspec: TableSpec, df: DataFrame, cutoff: datetime) -> TableRunResult:
        assert tspec.deleted_column is not None
        pred = retention_predicate(tspec.deleted_column, cutoff)
        if self.watermarks is not None:
            wm = self.watermarks.get(tspec.name)  # type: ignore[attr-defined]
            if wm is not None:
                # lower bound joins the pushdown: row groups below the
                # previous run's cutoff are pruned at the scan
                pred = pred & (df[tspec.deleted_column] > wm)
        archived = df.filter(pred)
        if self.spec.dry_run:
            # Plan-only: report would-be effects, touch nothing.
            return TableRunResult(tspec.name, archived.count(), None, dry_run=True)
        if self.spec.archive_data and self.sinks:
            archived = archived.cache()  # one scan feeds N sinks
            try:
                n_archived = archived.count()
                for sink in self.sinks:
                    try:
                        sink.write(tspec.name, archived)
                    except Exception as exc:  # noqa: BLE001
                        # Suppress this table's delete, keep the run
                        # going: other tables' completed work stands
                        # (reference archiver.py:97-103).
                        return TableRunResult(
                            tspec.name,
                            n_archived,
                            None,
                            dry_run=False,
                            error=f"sink {type(sink).__name__} failed for {tspec.name}: {exc}",
                        )
                remaining_n = None
                if self.spec.delete_data:
                    # Negated-predicate rewrite: a second pushdown scan,
                    # no join/shuffle (see module docstring). Counts are
                    # materialized BEFORE the rewriter touches the
                    # source path — both scans are lazy over it.
                    remaining = df.filter(~pred | df[tspec.deleted_column].isNull())
                    remaining_n = remaining.count()
                    if self.source_rewriter is not None:
                        self.source_rewriter(tspec.name, remaining)  # type: ignore[operator]
                self._advance_watermark(tspec.name, cutoff)
                return TableRunResult(tspec.name, n_archived, remaining_n, dry_run=False)
            finally:
                archived.unpersist()
        # delete-only mode: evaluate both counts before any rewrite of
        # the source path (they are lazy scans of the original source)
        remaining = df.filter(~pred | df[tspec.deleted_column].isNull())
        archived_n = archived.count()
        remaining_n = remaining.count()
        if self.source_rewriter is not None:
            self.source_rewriter(tspec.name, remaining)  # type: ignore[operator]
        self._advance_watermark(tspec.name, cutoff)
        return TableRunResult(tspec.name, archived_n, remaining_n, dry_run=False)

    def _advance_watermark(self, table: str, cutoff: datetime) -> None:
        if self.watermarks is not None:
            self.watermarks.advance(table, cutoff)  # type: ignore[attr-defined]


def archive_and_remaining(
    spark: SparkSession,
    df: DataFrame,
    deleted_column: str,
    primary_key: str,
    now: datetime,
    retention_months: int,
) -> tuple[DataFrame, DataFrame]:
    """Pure two-DataFrame form of one table's run, for query-level
    verification: (archived, remaining) with remaining computed by the
    general anti-join contract."""
    cutoff = retention_cutoff(now, retention_months)
    archived = retention_filter(df, deleted_column, cutoff)
    remaining = remaining_after_archive(df, archived, primary_key)
    return archived, remaining
