"""The benchmark's workloads.

Each workload runs one *op* at a time on the session it is given and
checks the engine's outputs:

- ``archive_cycle``: one archive cycle -- parse the INI, open the
  sources, ``Archiver.run`` into three sinks with a caller-owned
  source rewriter.  Checked after every cycle against DuckDB.
- ``scan_analytics`` and ``corpus_index``: one pass over a query mix
  from the engine's registry, each query's rows fetched.  Checked
  after every pass against each query's DuckDB oracle (for the
  production ANN path: recall against exact top-k).
"""

from __future__ import annotations

import gc
import glob
import gzip
import os
import random
import shutil
from dataclasses import dataclass, field, replace
from datetime import timedelta

import pyarrow.parquet as pq

from osarchiver_spark.operators.archive import Archiver
from osarchiver_spark.plans.config import load_config
from osarchiver_spark.plans.watermark import WatermarkStore
from osarchiver_spark.queries import all_oracles, all_queries
from osarchiver_spark.sinks.base import CsvSink, ParquetArchiveSink, Sink, SqlDumpSink
from osarchiver_spark.sources.parquet import table_path
from tests.oracle_harness import _canon, duckdb_connection

import datagen
import production

SCAN_MIX = [
    "retention_filter",
    "retention_remaining",
    "q3_shipping_priority",
    "q9_product_profit",
    "q21_waiting_supplier",
    "sessionize",
    "funnel_analysis",
]
CORPUS_MIX = [
    "dedup_minhash_lsh",
    "knn_ivf",
    "streaming_vector_maintenance",
]


@dataclass
class Ctx:
    spark: object
    tracer: object
    seed: int
    data_dir: str
    work_dir: str
    rows: dict[str, int]


@dataclass
class OpResult:
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    # a check found a wrong output (not just a failed call)
    wrong: bool = False

    def add(self, other: OpResult) -> None:
        self.attempted += other.attempted
        self.failed += other.failed
        self.errors += other.errors
        self.wrong = self.wrong or other.wrong


def _first_line(exc: BaseException) -> str:
    text = str(exc).strip()
    return f"{type(exc).__name__}: {text.splitlines()[0][:300] if text else ''}"


# ------------------------------------------------------------ query mixes


def _canon_rows(cols: list[str], rows) -> list[tuple]:
    """Order-insensitive, column-order-insensitive exact form of a
    result, as the engine's oracle harness canonicalizes it."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon(r[i], True) for i in order) for r in rows)


class QueryMix:
    """One op = one pass over the mix, in an order the seed sets.  Each
    query is built through its registry call, executed and its rows
    fetched; the rows are checked after the op against the query's
    DuckDB oracle, or, for a production ANN path, against exact top-k."""

    name = ""
    mix: list[str] = []
    overrides: dict = {}
    # whether the ops run pandas UDFs, so the warm-up starts the workers
    python_workers = False

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.registry = all_queries()
        self.oracles = all_oracles()
        self.order = list(self.mix)
        random.Random(ctx.seed).shuffle(self.order)
        self.times: dict[str, list[float]] = {q: [] for q in self.mix}
        self.extra: dict[str, tuple[float, str]] = {}
        self.items = len(self.mix)
        self.expected = self._oracle_results()
        self._rows: dict[str, tuple[list[str], list] | BaseException] = {}

    def _oracle_results(self) -> dict:
        con = duckdb_connection(self.ctx.data_dir)
        try:
            out = {}
            for q in self.mix:
                if q in production.RECALL_FLOORS:
                    rel = con.sql(self.oracles["knn_bruteforce"])
                    cols = rel.columns
                    qi, ni = cols.index("query_id"), cols.index("neighbor_id")
                    out[q] = {(r[qi], r[ni]) for r in rel.fetchall()}
                else:
                    rel = con.sql(self.oracles[q])
                    out[q] = (sorted(rel.columns), _canon_rows(rel.columns, rel.fetchall()))
            return out
        finally:
            con.close()

    def op(self, index: int) -> None:
        spark, tr = self.ctx.spark, self.ctx.tracer
        self._rows = {}
        for q in self.order:
            fn = self.overrides.get(q) or self.registry[q]
            spark.sparkContext.setJobDescription(f"{self.name}:{q}")
            df = None
            with tr.span(f"queries.{q}", query=q) as span:
                try:
                    with tr.span("queries.build", query=q):
                        df = fn(spark, self.ctx.data_dir)
                    with tr.span("queries.exec", query=q):
                        self._rows[q] = (list(df.columns), df.collect())
                except Exception as exc:  # noqa: BLE001 - counted as a failed query
                    self._rows[q] = exc
            self.times[q].append(span["dur"])
            # each query stands alone: drop cached frames and the
            # Python references that keep checkpointed blocks alive
            spark.catalog.clearCache()
            del df
            gc.collect()

    def check(self, index: int, op_seconds: float) -> OpResult:
        res = OpResult(attempted=len(self.mix))
        for q in self.mix:
            got = self._rows.get(q)
            problem = None
            if isinstance(got, BaseException):
                res.failed += 1
                res.errors.append(f"op {index} {q}: {_first_line(got)}")
                continue
            cols, rows = got
            if q in production.RECALL_FLOORS:
                exact = self.expected[q]
                recall = len(exact & {(r["query_id"], r["neighbor_id"]) for r in rows}) / max(
                    1, len(exact)
                )
                self.extra["ann_recall_at_k"] = (recall, "ratio")
                if recall < production.RECALL_FLOORS[q]:
                    problem = f"recall {recall:.3f} below floor {production.RECALL_FLOORS[q]}"
            else:
                want_cols, want_rows = self.expected[q]
                if sorted(cols) != want_cols:
                    problem = f"columns {sorted(cols)} != oracle {want_cols}"
                elif _canon_rows(cols, rows) != want_rows:
                    problem = f"{len(rows)} rows differ from the oracle's {len(want_rows)}"
            if problem:
                res.failed += 1
                res.wrong = True
                res.errors.append(f"op {index} {q}: {problem}")
        self._rows = {}
        return res

    def op_counts(self) -> dict:
        return {}

    def finish(self) -> None:
        pass


class ScanAnalytics(QueryMix):
    name = "scan_analytics"
    mix = SCAN_MIX


class CorpusIndex(QueryMix):
    name = "corpus_index"
    mix = CORPUS_MIX
    overrides = production.OVERRIDES
    python_workers = True


# ---------------------------------------------------------- archive cycle

ARCHIVE_TABLES = ["orders", "lineitem", "events"]
ARCHIVE_KEYS = {
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey", "l_linenumber"],
    "events": ["event_id"],
}
RETENTION_MONTHS = 12
CYCLE_STEP = timedelta(days=7)

INI = """\
[archiver:perfbench]
src = catalog

[src:catalog]
backend = parquet
directory = {src}
now = {now}
retention = {months} MONTH
deleted_column = deleted_at
delete_data = true
watermark_file = {watermarks}
primary_keys = orders:o_orderkey, lineitem:l_orderkey, events:event_id
foreign_keys = lineitem.l_orderkey=orders.o_orderkey
tables = orders, lineitem, events
"""


class TimedSink(Sink):
    """Delegates to an engine sink and records a span per write."""

    def __init__(self, label: str, inner: Sink, tracer):
        self.label, self.inner, self.tracer = label, inner, tracer

    def begin_run(self, now):
        self.inner.begin_run(now)

    def write(self, table, df):
        with self.tracer.span(f"sinks.{self.label}.write", table=table):
            self.inner.write(table, df)


def _tree_bytes(root: str) -> tuple[int, int]:
    """(bytes, data files) under ``root``, skipping Spark's marker and
    checksum files."""
    size = files = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            if n.startswith((".", "_")):
                continue
            size += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return size, files


def _count_lines(pattern: str, header: bool) -> int:
    total = 0
    for path in glob.glob(pattern):
        opener = gzip.open if path.endswith(".gz") else open
        with opener(path, "rt") as f:
            n = sum(1 for _ in f)
        total += max(0, n - 1) if header and n else n
    return total


class ArchiveCycle:
    """One op = one archive cycle with a frozen ``now`` that advances
    one week per cycle; watermarks on; Parquet (month-partitioned),
    gzip CSV and SQL-dump sinks; the delete step rewrites the source."""

    name = "archive_cycle"
    python_workers = False

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        w = ctx.work_dir
        self.src = os.path.join(w, "source")
        shutil.copytree(ctx.data_dir, self.src)
        self.archive_root = os.path.join(w, "archive")
        self.export_root = os.path.join(w, "export")
        self.watermarks = os.path.join(w, "watermarks.json")
        self.sinks = [
            TimedSink(
                "parquet",
                ParquetArchiveSink(
                    self.archive_root, primary_keys=ARCHIVE_KEYS, partition_column="deleted_at"
                ),
                ctx.tracer,
            ),
            TimedSink("csv", CsvSink(self.export_root, compression="gzip"), ctx.tracer),
            TimedSink("sql", SqlDumpSink(self.export_root, primary_keys=ARCHIVE_KEYS), ctx.tracer),
        ]
        self.rows = {t: ctx.rows[t] for t in ARCHIVE_TABLES}
        self.columns = {
            t: pq.read_schema(table_path(ctx.data_dir, t)).names for t in ARCHIVE_TABLES
        }
        self._seen_files: dict[str, set[str]] = {t: set() for t in ARCHIVE_TABLES}
        self.archived_rows = 0
        self.bytes_written = 0
        self.op_seconds = 0.0
        self.extra: dict[str, tuple[float, str]] = {}
        self.layer_counts: list[dict] = []
        self.con = datagen.connect()
        self._last_footprint = (0, 0)
        self.items = len(ARCHIVE_TABLES)

    def _rewrite(self, table: str, remaining) -> None:
        with self.ctx.tracer.span("sinks.source_rewrite", table=table):
            path = table_path(self.src, table)
            staged, old = path + ".next", path + ".old"
            remaining.write.mode("overwrite").parquet(staged)
            os.replace(path, old)
            os.replace(staged, path)
            if os.path.isdir(old):
                shutil.rmtree(old)
            else:
                os.remove(old)

    def _footprint(self) -> tuple[int, int]:
        b1, f1 = _tree_bytes(self.archive_root)
        b2, f2 = _tree_bytes(self.export_root)
        return b1 + b2, f1 + f2

    def op(self, index: int) -> None:
        spark, tr = self.ctx.spark, self.ctx.tracer
        now = datagen.ARCHIVE_EPOCH + index * CYCLE_STEP
        ini = INI.format(
            src=self.src, now=now.isoformat(), months=RETENTION_MONTHS, watermarks=self.watermarks
        )
        spark.sparkContext.setJobDescription(f"{self.name}:cycle")
        with tr.span("plans.load_config"):
            (cfg,) = load_config(text=ini)
        with tr.span("sources.dataframes"):
            frames = cfg.dataframes(spark)
        archiver = Archiver(
            spec=cfg.spec, sinks=self.sinks, source_rewriter=self._rewrite,
            watermarks=cfg.watermarks(),
        )
        with tr.span("operators.archive"):
            results = archiver.run(frames)
        self._pending = (cfg, results)

    def check(self, index: int, op_seconds: float) -> OpResult:
        """Per-cycle checks, outside the timed op.  A table-run fails
        when its sink raised or a check failed; a check on the data
        itself (lost, duplicated or stray rows, export counts) also
        marks the run's output wrong."""
        cfg, results = self._pending
        res = OpResult()
        self._account_bytes(results, op_seconds)
        watermarks = WatermarkStore(self.watermarks)
        run_dir = cfg.spec.now.strftime("%Y-%m-%d_%H-%M-%S")
        # the same cycle again, as a dry run without watermarks: every
        # row at or before the cutoff must be gone from the source
        rerun = Archiver(spec=replace(cfg.spec, dry_run=True)).run(cfg.dataframes(self.ctx.spark))
        rerun_rows = {r.table: r.archived_rows for r in rerun}
        for r in results:
            t = r.table
            res.attempted += 1
            problems = []
            src_rows = self.con.execute(
                f"SELECT count(*) FROM read_parquet('{self._glob(table_path(self.src, t))}')"
            ).fetchone()[0]
            if r.error is not None:
                # delete suppressed: the source must be untouched
                if src_rows != self.rows[t]:
                    problems.append(f"source has {src_rows} rows after a failed run, "
                                    f"expected {self.rows[t]}")
                res.errors.append(f"cycle {index} {t}: {r.error.splitlines()[0][:300]}")
            else:
                if r.archived_rows + r.remaining_rows != self.rows[t]:
                    problems.append(f"archived {r.archived_rows} + remaining "
                                    f"{r.remaining_rows} != source {self.rows[t]}")
                if src_rows != r.remaining_rows:
                    problems.append(f"rewritten source has {src_rows} rows, "
                                    f"expected {r.remaining_rows}")
                for label, pattern, header in (
                    ("csv", f"{self.export_root}/{run_dir}/{t}.csv/*.csv*", True),
                    ("sql", f"{self.export_root}/{run_dir}/{t}.sql/*.txt*", False),
                ):
                    n = _count_lines(pattern, header)
                    if n != r.archived_rows:
                        problems.append(f"{label} export has {n} rows, archived {r.archived_rows}")
                if rerun_rows.get(t) != 0:
                    problems.append(f"re-run with the same now archives {rerun_rows.get(t)} rows")
                self.rows[t] = r.remaining_rows
                self.archived_rows += r.archived_rows
            problems += self._check_archive(t, watermarks.get(t))
            if problems:
                res.wrong = True
                res.errors.append(f"cycle {index} {t}: CHECK " + "; ".join(problems))
            drifted = self._drifted_files(t)
            if drifted:
                res.errors.append(
                    f"cycle {index} {t}: {drifted} archive file(s) written with the key "
                    f"columns moved first (the sink's pk anti-join); its strict drift "
                    f"check compares column order"
                )
            if r.error is not None or problems or drifted:
                res.failed += 1
        return res

    def _account_bytes(self, results, op_seconds: float) -> None:
        """Bytes and data files the cycle wrote: sink output plus the
        rewritten sources."""
        before, after = self._last_footprint, self._footprint()
        self._last_footprint = after
        rewritten = [_tree_bytes(table_path(self.src, r.table)) for r in results
                     if r.error is None]
        cycle_bytes = after[0] - before[0] + sum(b for b, _ in rewritten)
        cycle_files = after[1] - before[1] + sum(f for _, f in rewritten)
        self.bytes_written += cycle_bytes
        self.layer_counts.append({"bytes_written": cycle_bytes, "files_written": cycle_files})
        self.op_seconds += op_seconds

    def _drifted_files(self, table: str) -> int:
        """New archive files of ``table`` whose column order differs
        from the source's."""
        arch = os.path.join(self.archive_root, table)
        files = set(glob.glob(os.path.join(arch, "**", "*.parquet"), recursive=True))
        new, self._seen_files[table] = files - self._seen_files[table], files
        return sum(1 for f in new if pq.read_schema(f).names != self.columns[table])

    @staticmethod
    def _glob(path: str) -> str:
        return os.path.join(path, "**", "*.parquet") if os.path.isdir(path) else path

    def _check_archive(self, table: str, watermark) -> list[str]:
        """Archive PKs are unique and equal DuckDB's recount of the
        input rows with ``deleted_at <= watermark``."""
        pk = ", ".join(ARCHIVE_KEYS[table])
        orig = table_path(self.ctx.data_dir, table)
        arch = os.path.join(self.archive_root, table)
        if watermark is None:
            expect = 0
        else:
            expect = self.con.execute(
                f"SELECT count(*) FROM read_parquet('{orig}') WHERE deleted_at <= ?",
                [watermark],
            ).fetchone()[0]
        if not os.path.isdir(arch):
            return [] if expect == 0 else [f"archive missing, expected {expect} rows"]
        src = f"read_parquet('{arch}/**/*.parquet', union_by_name = true, hive_partitioning = false)"
        n, distinct, stray = self.con.execute(
            f"""SELECT (SELECT count(*) FROM {src}),
                       (SELECT count(*) FROM (SELECT DISTINCT {pk} FROM {src})),
                       (SELECT count(*) FROM (SELECT {pk} FROM {src}
                            EXCEPT SELECT {pk} FROM read_parquet('{orig}')
                            WHERE deleted_at <= ?))""",
            [watermark],
        ).fetchone()
        problems = []
        if n != distinct:
            problems.append(f"archive has {n - distinct} duplicate keys")
        if distinct != expect or stray:
            problems.append(f"archive holds {distinct} keys ({stray} unexpected), "
                            f"DuckDB recount {expect}")
        return problems

    def op_counts(self) -> dict:
        """The last cycle's written bytes and files."""
        return {f"sinks.{k}": v for k, v in self.layer_counts[-1].items()}

    def finish(self) -> None:
        if self.op_seconds > 0:
            self.extra["archived_rows_per_s"] = (self.archived_rows / self.op_seconds, "rows/s")
        if self.archived_rows:
            self.extra["bytes_per_archived_row"] = (
                self.bytes_written / self.archived_rows, "bytes/row"
            )
        self.con.close()


WORKLOADS = {w.name: w for w in (ArchiveCycle, ScanAnalytics, CorpusIndex)}
