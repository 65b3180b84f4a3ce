"""Generation-parallel archiver: same results as sequential, FK
ordering preserved between generations; the driver-thread overlap
helper it runs on."""

from __future__ import annotations

import time
from datetime import datetime

import pytest

from osarchiver_spark.operators.archive import Archiver
from osarchiver_spark.plans.jobspec import ArchiveJobSpec, TableSpec
from osarchiver_spark.plans.toposort import table_generations
from osarchiver_spark.session import overlap
from osarchiver_spark.sources.parquet import load_table


def test_generations_group_independent_tables():
    t = [
        TableSpec("orders", "ok", "d"),
        TableSpec("lineitem", "lk", "d", foreign_keys={"lo": ("orders", "ok")}),
        TableSpec("events", "ek", "d"),
        TableSpec("nation", "nk", "d", foreign_keys={"nr": ("region", "rk")}),
        TableSpec("region", "rk", "d"),
    ]
    gens = [[s.name for s in g] for g in table_generations(t)]
    # children + independents first, parents after
    assert gens[0] == ["lineitem", "events", "nation"]
    assert gens[1] == ["orders", "region"]


def test_parallel_run_matches_sequential(spark, sf_small):
    tables = {
        "orders": load_table(spark, sf_small, "orders"),
        "lineitem": load_table(spark, sf_small, "lineitem"),
        "events": load_table(spark, sf_small, "events"),
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
            TableSpec("events", "event_id", "ts"),
        ],
        retention_months=36,
        now=datetime(2001, 12, 1),
    )
    seq = Archiver(spec, [])
    par = Archiver(spec, [], max_parallel_tables=4)
    r_seq = {r.table: (r.archived_rows, r.remaining_rows) for r in seq.run(tables)}
    r_par = {r.table: (r.archived_rows, r.remaining_rows) for r in par.run(tables)}
    assert r_seq == r_par
    assert set(r_seq) == {"orders", "lineitem", "events"}


def test_overlap_jobs_inherit_the_callers_group_description_and_tags(spark):
    """Jobs launched by every callable, on the calling thread or a
    worker, land in the caller's job group; workers also see the
    caller's description and session tags. Results come back in
    argument order."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    untagged_before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("overlap-test", "overlap-test: caller")
    spark.addTag("overlap-test-tag")
    try:
        seen = overlap(
            spark,
            *(
                lambda n=n: (
                    spark.range(n).count(),
                    sc.getLocalProperty("spark.job.description"),
                    "overlap-test-tag" in spark.getTags(),
                )
                for n in (1, 2, 3)
            ),
        )
    finally:
        spark.removeTag("overlap-test-tag")
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert seen == [(n, "overlap-test: caller", True) for n in (1, 2, 3)]
    assert len(tracker.getJobIdsForGroup("overlap-test")) >= 3
    assert set(tracker.getJobIdsForGroup(None)) == untagged_before


def test_overlap_reraises_a_side_failure_after_all_callables_finish(spark):
    finished = []

    def slow(name: str, seconds: float):
        time.sleep(seconds)
        finished.append(name)

    def boom():
        raise ValueError("side callable failed")

    with pytest.raises(ValueError, match="side callable failed"):
        overlap(spark, lambda: slow("caller", 0.3), boom, lambda: slow("side", 0.6))
    assert sorted(finished) == ["caller", "side"]
