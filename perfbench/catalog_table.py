#!/usr/bin/env python3
"""Per-query table of the whole 102-query catalog, with Spark's counters.

    python3 perfbench/catalog_table.py --out perfbench/results/catalog_table

Builds every query of ``plans.entry_queries.queries()`` on the benchmark's
catalog tables, then writes it to the noop sink, under one span each for
construction and execution, with Spark's event log on.  Writes
``<out>.json`` and ``<out>.md``: construct_s, execute_s, jobs (construction
and execution), stages, tasks, and shuffle bytes written and read.  One
sweep, no warm-up: the first queries pay the session's cold start.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import run  # noqa: E402
import spans as TR  # noqa: E402
from workloads import CATALOG_SF  # noqa: E402

COLUMNS = ("construct_s", "execute_s", "construct_jobs", "execute_jobs", "stages", "tasks",
           "shuffle_write_bytes", "shuffle_read_bytes")


def write_md(rows: dict[str, dict], path: str) -> dict:
    """Markdown form of the table, with a total row; returns the totals."""
    total = {k: sum(r[k] for r in rows.values()) for k in COLUMNS}
    with open(path, "w") as f:
        f.write(f"# Catalog per-query table (local[{run.cpus()}], catalog sf {CATALOG_SF})\n\n")
        f.write("| query | " + " | ".join(COLUMNS) + " |\n" + "|---" * (len(COLUMNS) + 1) + "|\n")
        for name, r in list(rows.items()) + [("**total**", total)]:
            cells = [f"{r[k]:.3f}" if k.endswith("_s") else f"{int(r[k])}" for k in COLUMNS]
            f.write(f"| {name} | " + " | ".join(cells) + " |\n")
    return total


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--out", default=os.path.join(HERE, "results", "catalog_table"))
    args = ap.parse_args()

    run.launch_hygiene()
    work_dir = os.path.join(run.WORK, "runs", f"catalog-table-{os.getpid()}")
    log_dir = os.path.join(work_dir, "eventlog")
    from data_quality_analyzer_spark.plans import entry_queries as EQ
    from data_quality_analyzer_spark.session import get_spark

    sf_dir, _ = inputs.catalog(CATALOG_SF)
    conf = {**run.SCAN_CONF, "spark.ui.showConsoleProgress": "false", **TR.event_log_conf(log_dir)}
    spark = get_spark(app_name="perfbench-catalog-table", cpus=run.cpus(), extra_conf=conf)
    tracer = TR.Tracer(True, "catalog-table", spark)
    try:
        for name, fn in sorted(EQ.queries().items()):
            with tracer.span("construct", query=name):
                df = fn(spark, sf_dir)
            with tracer.span("execute", query=name):
                df.write.format("noop").mode("overwrite").save()
    finally:
        run.stop_session(spark)
    counters = TR.span_counters(log_dir)
    shutil.rmtree(work_dir, ignore_errors=True)

    rows: dict[str, dict] = {}
    for s in tracer.spans:
        r = rows.setdefault(s["query"], dict.fromkeys(COLUMNS, 0))
        c = counters.get(s["id"], {})
        r[f"{s['name']}_s"] = s["end"] - s["start"]
        r[f"{s['name']}_jobs"] = c.get("jobs", 0)
        for k in ("stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes"):
            r[k] += c.get(k, 0)
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out + ".json", "w") as f:
        json.dump({"cpus": run.cpus(), "catalog_sf": CATALOG_SF, "queries": rows}, f, indent=1)
    total = write_md(rows, args.out + ".md")
    print(json.dumps({"queries": len(rows), **{k: round(v, 3) for k, v in total.items()}}))


if __name__ == "__main__":
    main()
