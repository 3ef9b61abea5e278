"""The harness side of a run, in a process of its own.

    python3 perfbench/reference.py prepare --workload W --seed N \
        --work DIR --trace 0|1
    python3 perfbench/reference.py check --workload W --work DIR

``prepare`` generates the tables from the seed, writes the ones the
workload reads as parquet under ``DIR/data`` and writes the workload's
plan (every operation's inputs, drawn from the seed, plus any answers
the workload needs up front) to ``DIR/plan.pkl``.  ``check`` reads
that plan and the outputs the measured run recorded
(``DIR/outputs.pkl``), works out the right answers (DuckDB over the
same parquet, key maps built with pyarrow, a model of the lakehouse
table) and writes the positions of the wrong outputs to
``DIR/verdict.json``.

``run.py`` starts ``prepare`` before Spark and ``check`` after it has
read its counters and stopped Spark, so neither the reference answers
nor the memory that computing them takes count in the measured time,
CPU or resident set.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import pickle
import sys

from datagen import make_tables, write_tables

#: Generated data size: TPC-H scale factor (600k line items at 0.1).
SF = 0.1


class Oracle:
    """DuckDB over the run's parquet files."""

    def __init__(self, paths: dict[str, str], work: str):
        import duckdb

        self.con = duckdb.connect(config={
            "threads": 4, "temp_directory": os.path.join(work, "duck")})
        for name, path in paths.items():
            self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")

    def rows(self, sql: str) -> list[tuple]:
        return self.con.execute(sql).fetchall()


def prepare(workload: str, seed: int, work: str, trace: bool) -> None:
    module = importlib.import_module(workload)
    tables = make_tables(seed, SF, lineitem="lineitem" in module.TABLES)
    paths = write_tables({t: tables[t] for t in module.TABLES},
                         os.path.join(work, "data"))
    plan = module.plan(seed, tables, paths, work, trace)
    plan["paths"] = paths
    with open(os.path.join(work, "plan.pkl"), "wb") as f:
        pickle.dump(plan, f)


def check(workload: str, work: str) -> None:
    module = importlib.import_module(workload)
    with open(os.path.join(work, "plan.pkl"), "rb") as f:
        plan = pickle.load(f)
    with open(os.path.join(work, "outputs.pkl"), "rb") as f:
        outputs = pickle.load(f)
    bad = module.check(plan, outputs, work)
    with open(os.path.join(work, "verdict.json"), "w") as f:
        json.dump({"bad": bad}, f)


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("step", choices=("prepare", "check"))
    parser.add_argument("--workload", required=True)
    parser.add_argument("--work", required=True)
    parser.add_argument("--seed", type=int, default=0)
    parser.add_argument("--trace", type=int, default=0)
    args = parser.parse_args()
    if args.step == "prepare":
        prepare(args.workload, args.seed, args.work, bool(args.trace))
    else:
        check(args.workload, args.work)
    return 0


if __name__ == "__main__":
    sys.exit(main())
