#!/usr/bin/env python3
"""Per-layer table from traced benchmark runs.

    python3 perfbench/run.py --workload corpus_index --seed 1 --seconds 10 --trace 1
    python3 perfbench/run.py --workload corpus_index --seed 1 --seconds 10 --trace 0
    python3 perfbench/layers.py [.perfbench_out]

Reads the records ``run.py`` leaves in ``.perfbench_out/`` and prints,
per workload, the layer metrics of its traced runs and, per query, the
steady-op medians of wall time, build and execute time and the Spark
figures of the jobs the query launched.  When untraced records of the
same workload exist, it also prints the tracing overhead: the traced
``op_p50_s`` minus the untraced one (medians over the records).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
from collections import defaultdict

QUERY_COLUMNS = [
    ("wall_s", "wall_s"),
    ("job_s", "spark.job_s"),
    ("driver_self_s", "driver.self_s"),
    ("jobs", "jobs"),
    ("untagged_jobs", "untagged"),
    ("stages", "stages"),
    ("single_task_stages", "1-task"),
    ("task_cpu_s", "cpu_s"),
    ("gc_s", "gc_s"),
    ("input_bytes", "input_B"),
    ("shuffle_bytes", "shuffle_B"),
    ("spill_bytes", "spill_B"),
]


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _fmt(v) -> str:
    if isinstance(v, float) and not v.is_integer():
        return f"{v:.3f}"
    return f"{int(v)}"


def load(out_dir: str) -> dict[str, dict[int, list[dict]]]:
    runs: dict[str, dict[int, list[dict]]] = defaultdict(lambda: defaultdict(list))
    for path in sorted(glob.glob(os.path.join(out_dir, "*-trace[01].json"))):
        with open(path) as f:
            rec = json.load(f)
        # a run without a steady op (the smoke test's) has no medians
        if any(not o["cold"] for o in rec["ops"]):
            runs[rec["workload"]][rec["trace"]].append(rec)
    return runs


def table(out_dir: str) -> str:
    lines = []
    for workload, by_trace in sorted(load(out_dir).items()):
        traced, plain = by_trace.get(1, []), by_trace.get(0, [])
        lines.append(f"== {workload}: {len(traced)} traced, {len(plain)} untraced run(s)")
        if traced:
            names = list(traced[0]["metrics"])
            width = max(map(len, names))
            for name in names:
                v = _median([r["metrics"][name] for r in traced])
                lines.append(f"  {name:<{width}}  {_fmt(v)}")
        if traced and plain:
            t = _median([r["metrics"]["traced.op_p50_s"] for r in traced])
            u = _median([r["metrics"]["op_p50_s"] for r in plain])
            lines.append(f"  tracing overhead (traced - untraced op_p50_s): {t - u:+.3f} s")
        per_query = defaultdict(lambda: defaultdict(list))
        for r in traced:
            for w in r.get("queries", []):
                if w["cold"]:
                    continue  # the first op of a session
                row = per_query[w["query"]]
                row["wall_s"].append(w["end"] - w["start"])
                for key, _ in QUERY_COLUMNS[1:]:
                    row[key].append(w[key])
        if per_query:
            header = ["query"] + [label for _, label in QUERY_COLUMNS]
            rows = [header] + [
                [q] + [_fmt(_median(cols[key])) for key, _ in QUERY_COLUMNS]
                for q, cols in sorted(per_query.items())
            ]
            widths = [max(len(r[i]) for r in rows) for i in range(len(header))]
            lines.append("  per query (median over steady ops):")
            for r in rows:
                lines.append("  " + "  ".join(c.rjust(w) for c, w in zip(r, widths)))
    return "\n".join(lines)


def main(argv: list[str]) -> int:
    out_dir = argv[0] if argv else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".perfbench_out"
    )
    text = table(out_dir)
    if not text:
        print(f"no benchmark records under {out_dir}", file=sys.stderr)
        return 1
    print(text)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
