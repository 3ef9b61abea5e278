"""``ingest``: one client writing beside reads on the lakehouse layer.

Set-up creates a ``PartitionedTable`` from ``orders``, partitioned by
order year (7 partitions), and a ``MaterializedView`` over it.  Every
seeded round then commits an ``insert`` batch, a ``merge`` upsert, a
``delete`` and an ``update``, refreshes the view, and reads back with
``read_point``, ``read_where`` and ``mv.read()``.  Each statement
touches one year, so one partition is rewritten per commit and the
refresh folds a bounded change feed; directories accumulate round by
round, so a read-side gain that costs writes shows here, as does a
write-side gain that leaves more files.
"""

from __future__ import annotations

import datetime as dt
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from common import Loop, Workload, log, rows_of, same_rows
from datagen import FIRST_YEAR, LAST_YEAR, PRIORITIES
from tracing import collect, count_skipping

#: The tables this workload reads (``customer`` for its key range).
TABLES = ("customer", "orders")
COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority", "o_year")
#: Rows per round: appended by ``insert``; matched and new in ``merge``;
#: about this many removed by ``delete`` and changed by ``update``.
INSERT_ROWS = 2000
MERGE_MATCHED = 500
MERGE_NEW = 500
DELETE_ROWS = 300
UPDATE_ROWS = 300
COMMITS = ("insert", "merge", "delete", "update")
MV_KEYS = ["o_orderpriority"]
_TYPES = (pa.int64(), pa.int64(), pa.string(), pa.float64(),
          pa.timestamp("us"), pa.string(), pa.int32())


def _write_rows(rows: list[tuple], path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table({c: pa.array(v, t) for c, v, t
                             in zip(COLS, zip(*rows), _TYPES)}), path)


#: Rounds planned per run, three times what a run reaches; a run that
#: finishes them all ends its measured loop early.
ROUNDS = 3


class Model:
    """The table as the rounds should leave it, in plain Python: what
    ``plan`` draws each round's statements from and reads its right
    answers off."""

    def __init__(self, orders, n_cust: int, rng):
        cols = [orders.column(c).to_pylist() for c in COLS[:-1]]
        self.rows = {r[0]: (*r, r[4].year) for r in zip(*cols)}
        self.by_year: dict[int, set] = {}
        for k, r in self.rows.items():
            self.by_year.setdefault(r[6], set()).add(k)
        self.next_key = len(self.rows)
        self.n_cust = n_cust
        self.rng = rng

    def new_rows(self, n: int, year: int) -> list[tuple]:
        rng = self.rng
        first = dt.datetime(year, 1, 1)
        days = rng.integers(0, 365, n)
        cust = rng.integers(0, self.n_cust, n)
        status = rng.integers(0, 3, n)
        price = np.round(rng.uniform(850.0, 550_000.0, n), 2)
        prio = rng.integers(0, len(PRIORITIES), n)
        rows = [(self.next_key + i, int(cust[i]), "FOP"[status[i]],
                 float(price[i]), first + dt.timedelta(days=int(days[i])),
                 str(PRIORITIES[prio[i]]), year) for i in range(n)]
        self.next_key += n
        return rows

    def year(self) -> int:
        return int(self.rng.integers(FIRST_YEAR, LAST_YEAR + 1))

    def key_window(self, year: int, n: int) -> tuple[int, int]:
        """An ``o_orderkey`` range that holds about ``n`` keys of
        ``year``."""
        keys = sorted(self.by_year[year])
        start = int(self.rng.integers(0, max(len(keys) - n, 1)))
        return keys[start], keys[min(start + n, len(keys)) - 1]

    def put(self, row: tuple) -> None:
        self.rows[row[0]] = row
        self.by_year.setdefault(row[6], set()).add(row[0])

    def drop(self, key: int) -> None:
        row = self.rows.pop(key)
        self.by_year[row[6]].discard(key)

    def view(self) -> list[tuple]:
        groups: dict[str, list] = {}
        for r in self.rows.values():
            g = groups.setdefault(r[5], [0, 0.0])
            g[0] += 1
            g[1] += r[3]
        return [(k, n, s) for k, (n, s) in groups.items()]

    def one_round(self, r: int, batches: str) -> dict:
        """The statements of round ``r``, their input batches written as
        parquet under ``batches``, and the answers of its reads."""
        rng = self.rng
        out: dict = {}

        inserted = self.new_rows(INSERT_ROWS, self.year())
        out["insert"] = os.path.join(batches, f"{r}-insert.parquet")
        _write_rows(inserted, out["insert"])
        for row in inserted:
            self.put(row)

        year = self.year()
        matched = rng.choice(sorted(self.by_year[year]), MERGE_MATCHED,
                             replace=False)
        changed = [(*self.rows[int(k)][:2], "F", self.rows[int(k)][3] + 1.0,
                    *self.rows[int(k)][4:]) for k in matched]
        upserts = changed + self.new_rows(MERGE_NEW, year)
        out["merge"] = os.path.join(batches, f"{r}-merge.parquet")
        _write_rows(upserts, out["merge"])
        for row in upserts:
            self.put(row)

        year = self.year()
        lo, hi = self.key_window(year, DELETE_ROWS)
        out["delete"] = (year, lo, hi)
        gone = [k for k in self.by_year[year] if lo <= k <= hi]
        for k in gone:
            self.drop(k)

        year = self.year()
        lo, hi = self.key_window(year, UPDATE_ROWS)
        out["update"] = (year, lo, hi)
        updated = [k for k in self.by_year[year] if lo <= k <= hi]
        for k in updated:
            row = self.rows[k]
            self.put((*row[:3], row[3] + 1.0, row[4], "1-URGENT", row[6]))
        out["user_rows"] = len(inserted) + len(upserts) + len(gone) \
            + len(updated)

        # read-after-write: a customer of this round's batch, and a key
        # range straddling the batch and older rows
        cust = inserted[int(rng.integers(len(inserted)))][1]
        lo, hi = inserted[0][0] - 1000, inserted[0][0] + 999
        out["read_point"] = cust
        out["read_where"] = (lo, hi)
        out["want"] = {
            "partitioned.read_point":
                [row for row in self.rows.values() if row[1] == cust],
            "partitioned.read_where":
                [row for k, row in self.rows.items() if lo <= k <= hi],
            "mview.read": self.view(),
            "count": len(self.rows)}
        return out


def plan(seed: int, tables, paths, work: str, trace: bool) -> dict:
    """``ROUNDS`` rounds of statements drawn from the seed, simulated on
    a model of the table so each round's right answers are known."""
    model = Model(tables["orders"], tables["customer"].num_rows,
                  np.random.default_rng([seed, 20]))
    batches = os.path.join(work, "batches")
    return {"rounds": [model.one_round(r, batches) for r in range(ROUNDS)]}


def check(plan: dict, outputs: list, work: str) -> list[int]:
    """Positions of the reads whose rows differ from the model's, and of
    the final state if the table or the view is wrong."""
    bad = []
    for i, ((r, kind), got) in enumerate(outputs):
        if kind == "final":
            n, view, recompute = got
            want = plan["rounds"][r]["want"]["count"]
            ok = n == want and same_rows(view, recompute)
            if not ok:
                log(f"ingest: {n} rows in the table (expected {want}), or "
                    f"the view differs from a recompute")
        else:
            ok = same_rows(got, plan["rounds"][r]["want"][kind])
            if not ok:
                log(f"ingest round {r} {kind}: wrong rows")
        if not ok:
            bad.append(i)
    return bad


class Ingest(Workload):
    #: one round has four commits; p75 interpolates the two slowest
    tail_q = 0.75
    primary = frozenset(COMMITS)

    def __init__(self, ctx):
        super().__init__(ctx)
        self.n_setup = 0
        self.pt = self.mv = None
        self.schema = None

    # ------------------------------------------------------------------ #
    def setup(self) -> None:
        """A partitioned copy of ``orders`` and a view of count and sum of
        ``o_totalprice`` per order priority over it, in a fresh
        directory."""
        from cs186_query_optimization_project_spark import (
            MaterializedView,
            PartitionedTable,
        )

        ctx = self.ctx
        spark = ctx.spark
        src = (spark.read.parquet(self.plan["paths"]["orders"])
               .withColumn("o_year", F.year("o_orderdate")))
        root = os.path.join(ctx.work, "lake", f"setup_{self.n_setup}")
        self.n_setup += 1
        with ctx.tracer.span("partitioned.create", new_op=True):
            self.pt = PartitionedTable.create(
                spark, src, os.path.join(root, "orders"), "o_year",
                bloom_cols=["o_custkey"])
        with ctx.tracer.span("mview.create", new_op=True):
            self.mv = MaterializedView.create(
                spark, self.pt, os.path.join(root, "mv"), keys=MV_KEYS,
                sum_cols=["o_totalprice"])
        self.schema = src.schema
        self.round = 0
        self.folded = 0
        self.refresh_s = 0.0
        self.bytes_written = []
        self.rows_committed = 0
        self.commit_s = 0.0

    # ------------------------------------------------------------------ #
    def _commit(self, kind: str, fn, loop: Loop) -> None:
        """Time one commit."""
        tr, counters = self.ctx.tracer, self.ctx.counters
        before = self._disk_bytes() if tr.enabled else 0
        with tr.operation(f"partitioned.{kind}", counters):
            t0 = time.perf_counter()
            fn()
            seconds = time.perf_counter() - t0
        if tr.enabled:
            self.bytes_written.append(self._disk_bytes() - before)
        self.commit_s += seconds
        loop.add(kind, seconds)

    def _read(self, kind: str, fn, loop: Loop) -> None:
        tr, counters = self.ctx.tracer, self.ctx.counters
        with tr.operation(kind, counters):
            t0 = time.perf_counter()
            rows = collect(tr, fn())
            seconds = time.perf_counter() - t0
        loop.add(kind, seconds, (self.round, kind), rows_of(rows))

    def _batch(self, path: str):
        """A DataFrame over a batch the plan wrote as parquet, so the
        program reads its input the way it reads any table."""
        return self.ctx.spark.read.schema(self.schema).parquet(path)

    def one_round(self, loop: Loop) -> None:
        pt, mv = self.pt, self.mv
        step = self.plan["rounds"][self.round]

        self._commit("insert", lambda: pt.insert(self._batch(step["insert"])),
                     loop)
        self._commit("merge", lambda: pt.merge(self._batch(step["merge"]),
                                               "o_orderkey"), loop)
        year, lo, hi = step["delete"]
        self._commit("delete", lambda: pt.delete(
            (F.col("o_year") == year) & F.col("o_orderkey").between(lo, hi)),
            loop)
        year, lo, hi = step["update"]
        self._commit("update", lambda: pt.update(
            (F.col("o_year") == year) & F.col("o_orderkey").between(lo, hi),
            {"o_orderpriority": "1-URGENT",
             "o_totalprice": F.col("o_totalprice") + 1.0}), loop)
        self.rows_committed += step["user_rows"]

        tr, counters = self.ctx.tracer, self.ctx.counters
        with tr.operation("mview.refresh", counters):
            t0 = time.perf_counter()
            self.folded += mv.refresh()
            seconds = time.perf_counter() - t0
        self.refresh_s += seconds
        loop.add("refresh", seconds)

        cust = step["read_point"]
        count_skipping(tr, pt, eq={"o_custkey": cust})
        self._read("partitioned.read_point",
                   lambda: pt.read_point("o_custkey", cust), loop)
        lo, hi = step["read_where"]
        count_skipping(tr, pt, ranges={"o_orderkey": (lo, hi)})
        self._read("partitioned.read_where",
                   lambda: pt.read_where("o_orderkey", lo, hi), loop)
        self._read("mview.read",
                   lambda: mv.read().select(*MV_KEYS, "mv_count",
                                            "mv_sum_o_totalprice"), loop)
        self.round += 1

    def _disk_bytes(self) -> int:
        total = 0
        for dirpath, _dirs, files in os.walk(self.pt.root):
            for f in files:
                total += os.path.getsize(os.path.join(dirpath, f))
        return total

    # ------------------------------------------------------------------ #
    def run(self, deadline: float, loop: Loop) -> None:
        """Whole rounds, each started only if the previous round's
        duration still fits before ``deadline`` (the first always runs),
        so every run measures a fixed number of complete rounds."""
        last = 0.0
        while self.round < ROUNDS and (
                time.perf_counter() + last <= deadline or not self.round):
            t0 = time.perf_counter()
            self.one_round(loop)
            last = time.perf_counter() - t0

    def finish(self) -> list[tuple]:
        """The table's row count, and the view beside a from-scratch
        ``groupBy`` over the table."""
        table = self.pt.read()
        recompute = (table.groupBy(*MV_KEYS)
                     .agg(F.count(F.lit(1)), F.sum("o_totalprice"))
                     .collect())
        view = self.mv.read().select(*MV_KEYS, "mv_count",
                                     "mv_sum_o_totalprice").collect()
        return [((self.round - 1, "final"),
                 (table.count(), rows_of(view), rows_of(recompute)))]

    def describe(self) -> dict:
        return {"partitions": self.pt.describe_detail()["n_partitions"],
                "rounds": self.round}

    def layer_metrics(self) -> dict[str, float]:
        """Space: files of the live version, bytes each commit wrote, and
        all bytes under the table's root against the same rows written
        once as one parquet file."""
        detail = self.pt.describe_detail()
        user = os.path.join(self.ctx.work, "user")
        self.pt.read().coalesce(1).write.parquet(user)
        user_bytes = sum(os.path.getsize(os.path.join(user, f))
                         for f in os.listdir(user) if f.endswith(".parquet"))
        return {
            "partitioned.files_in_version": float(detail["n_files"]),
            "partitioned.bytes_written_per_commit":
                sum(self.bytes_written) / max(len(self.bytes_written), 1),
            "partitioned.stored_bytes_per_user_byte":
                self._disk_bytes() / user_bytes,
            "partitioned.rows_committed_per_s":
                self.rows_committed / max(self.commit_s, 1e-9),
            "mview.rows_folded_per_s":
                self.folded / max(self.refresh_s, 1e-9),
        }
