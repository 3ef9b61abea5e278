"""``olap``: one client in a closed loop over a fixed mix of analytic
builder queries, each run through ``execute_optimal()`` and collected.

Per-query data work dominates here, so this workload measures plan
choice (join order, broadcast hints) and Spark execution; per-call
overhead barely shows.  Literals change every cycle, drawn from the
seed, so no two cycles ask the same question.
"""

from __future__ import annotations

import datetime as dt
import statistics
import time

import numpy as np
from pyspark.sql import functions as F

from common import Loop, Workload, log, rows_of, same_rows
from datagen import FIRST_YEAR, LAST_YEAR, REGIONS, SEGMENTS
from tracing import collect

#: The tables this workload reads.
TABLES = ("region", "nation", "customer", "supplier", "orders", "lineitem")

_REVENUE_SQL = "l_extendedprice * (1 - l_discount)"


def _revenue():
    return (F.col("lineitem.l_extendedprice")
            * (1 - F.col("lineitem.l_discount")))


def _ts(d: dt.date) -> str:
    return f"TIMESTAMP '{d.isoformat()}'"


def _at(d: dt.date) -> dt.datetime:
    return dt.datetime(d.year, d.month, d.day)


# Each shape has a builder over the package's ``Database`` and the same
# question as SQL for DuckDB: (result SQL, join-count SQL or None).  The
# join-count SQL gives the actual cardinality of the planned joins and
# filters, against which the optimizer's estimate is scored.

def flagship(db, p):
    return (db.query("customer")
            .join("orders", "c_custkey", "o_custkey")
            .join("lineitem", "o_orderkey", "l_orderkey")
            .where("c_mktsegment", "=", p["seg"])
            .group_by("o_orderpriority")
            .count("n").sum("l_extendedprice", "revenue")
            .average("l_quantity", "avg_qty"))


def flagship_sql(p):
    frm = (f"FROM customer JOIN orders ON c_custkey = o_custkey "
           f"JOIN lineitem ON o_orderkey = l_orderkey "
           f"WHERE c_mktsegment = '{p['seg']}'")
    return (f"SELECT o_orderpriority, count(*), sum(l_extendedprice), "
            f"avg(l_quantity) {frm} GROUP BY o_orderpriority",
            f"SELECT count(*) {frm}")


def q5(db, p):
    d1 = dt.date(p["year"], 1, 1)
    d2 = dt.date(p["year"] + 1, 1, 1)
    return (db.query("region")
            .join("nation", "r_regionkey", "n_regionkey")
            .join("supplier", "n_nationkey", "s_nationkey")
            .join("lineitem", "s_suppkey", "l_suppkey")
            .join("orders", "l_orderkey", "o_orderkey")
            .join("customer", "o_custkey", "c_custkey")
            .where_columns("c_nationkey", "=", "s_nationkey")
            .where("r_name", "=", p["region"])
            .where("o_orderdate", ">=", _at(d1))
            .where("o_orderdate", "<", _at(d2))
            .group_by("n_name").sum(_revenue(), "revenue"))


def q5_sql(p):
    d1 = dt.date(p["year"], 1, 1)
    d2 = dt.date(p["year"] + 1, 1, 1)
    frm = (f"FROM region JOIN nation ON r_regionkey = n_regionkey "
           f"JOIN supplier ON n_nationkey = s_nationkey "
           f"JOIN lineitem ON s_suppkey = l_suppkey "
           f"JOIN orders ON l_orderkey = o_orderkey "
           f"JOIN customer ON o_custkey = c_custkey "
           f"WHERE c_nationkey = s_nationkey AND r_name = '{p['region']}' "
           f"AND o_orderdate >= {_ts(d1)} AND o_orderdate < {_ts(d2)}")
    return (f"SELECT n_name, sum({_REVENUE_SQL}) {frm} GROUP BY n_name",
            f"SELECT count(*) {frm}")


def q3(db, p):
    d = p["date"]
    return (db.query("customer")
            .join("orders", "c_custkey", "o_custkey")
            .join("lineitem", "o_orderkey", "l_orderkey")
            .where("c_mktsegment", "=", p["seg"])
            .where("o_orderdate", "<", _at(d))
            .where("l_shipdate", ">", _at(d))
            .group_by("l_orderkey", "o_orderdate")
            .sum(_revenue(), "revenue")
            .order_by("revenue", ascending=False).order_by("l_orderkey")
            .limit(10))


def q3_sql(p):
    d = p["date"]
    frm = (f"FROM customer JOIN orders ON c_custkey = o_custkey "
           f"JOIN lineitem ON o_orderkey = l_orderkey "
           f"WHERE c_mktsegment = '{p['seg']}' "
           f"AND o_orderdate < {_ts(d)} AND l_shipdate > {_ts(d)}")
    return (f"SELECT l_orderkey, o_orderdate, sum({_REVENUE_SQL}) AS r "
            f"{frm} GROUP BY l_orderkey, o_orderdate "
            f"ORDER BY r DESC, l_orderkey LIMIT 10",
            f"SELECT count(*) {frm}")


def semi(db, p):
    d1 = dt.date(p["year"], 1, 1)
    d2 = dt.date(p["year"] + 1, 1, 1)
    return (db.query("orders")
            .join("lineitem", "o_orderkey", "l_orderkey", how="semi")
            .where("l_quantity", ">", p["qty"])
            .where("o_orderdate", ">=", _at(d1))
            .where("o_orderdate", "<", _at(d2))
            .group_by("o_orderpriority").count("n"))


def semi_sql(p):
    d1 = dt.date(p["year"], 1, 1)
    d2 = dt.date(p["year"] + 1, 1, 1)
    frm = (f"FROM orders WHERE o_orderdate >= {_ts(d1)} "
           f"AND o_orderdate < {_ts(d2)} AND EXISTS (SELECT 1 FROM lineitem "
           f"WHERE l_orderkey = o_orderkey AND l_quantity > {p['qty']})")
    return (f"SELECT o_orderpriority, count(*) {frm} "
            f"GROUP BY o_orderpriority",
            f"SELECT count(*) {frm}")


def outer(db, p):
    return (db.query("customer")
            .join("orders", "c_custkey", "o_custkey", how="left")
            .where("c_nationkey", "=", p["nation"])
            .group_by("c_mktsegment").count("n")
            .max("o_totalprice", "top"))


def outer_sql(p):
    frm = (f"FROM customer LEFT JOIN orders ON c_custkey = o_custkey "
           f"WHERE c_nationkey = {p['nation']}")
    return (f"SELECT c_mktsegment, count(*), max(o_totalprice) {frm} "
            f"GROUP BY c_mktsegment",
            f"SELECT count(*) {frm}")


def scan(db, p):
    d1 = p["date"]
    d2 = d1 + dt.timedelta(days=14)
    return (db.query("lineitem")
            .where("l_shipdate", ">=", _at(d1))
            .where("l_shipdate", "<", _at(d2))
            .where("l_discount", ">=", p["disc"])
            .select("l_orderkey", "l_linenumber", "l_extendedprice",
                    "l_discount"))


def scan_sql(p):
    d1 = p["date"]
    d2 = d1 + dt.timedelta(days=14)
    return (f"SELECT l_orderkey, l_linenumber, l_extendedprice, "
            f"l_discount FROM lineitem WHERE l_shipdate >= {_ts(d1)} "
            f"AND l_shipdate < {_ts(d2)} AND l_discount >= {p['disc']}",
            None)


def having(db, p):
    return (db.query("lineitem")
            .where("l_returnflag", "=", p["flag"])
            .group_by("l_suppkey").count("n").sum("l_quantity", "qty")
            .having("n", ">", p["min_n"]))


def having_sql(p):
    return (f"SELECT l_suppkey, count(*) AS n, sum(l_quantity) "
            f"FROM lineitem WHERE l_returnflag = '{p['flag']}' "
            f"GROUP BY l_suppkey HAVING count(*) > {p['min_n']}",
            None)


#: The fixed mix, run in this order every cycle.  An odd number of
#: shapes puts the median latency inside one shape's samples rather
#: than on the gap between two shapes.
SHAPES = (("flagship", flagship), ("q5", q5), ("q3", q3),
          ("semi", semi), ("outer", outer), ("scan", scan),
          ("having", having))
SQL = {"flagship": flagship_sql, "q5": q5_sql, "q3": q3_sql,
       "semi": semi_sql, "outer": outer_sql, "scan": scan_sql,
       "having": having_sql}
#: Cycles of literals planned per run, far more than a run reaches; a
#: loop that used them all would start over.
CYCLES = 50


def draw_params(rng: np.random.Generator) -> dict[str, dict]:
    """Literals for one cycle of the mix."""
    first = dt.date(FIRST_YEAR, 1, 1)
    span_days = (dt.date(LAST_YEAR, 12, 1) - first).days

    def day():
        return first + dt.timedelta(days=int(rng.integers(60, span_days)))

    # suppliers see 600 line items each at every scale, a third of them
    # per return flag; the threshold keeps about half the groups
    return {
        "flagship": {"seg": str(SEGMENTS[rng.integers(len(SEGMENTS))])},
        "q5": {"region": REGIONS[int(rng.integers(len(REGIONS)))],
               "year": int(rng.integers(FIRST_YEAR, LAST_YEAR))},
        "q3": {"seg": str(SEGMENTS[rng.integers(len(SEGMENTS))]),
               "date": day()},
        "semi": {"year": int(rng.integers(FIRST_YEAR, LAST_YEAR + 1)),
                 "qty": int(rng.integers(30, 49))},
        "outer": {"nation": int(rng.integers(25))},
        "scan": {"date": day(), "disc": float(rng.integers(3, 8)) / 100},
        "having": {"flag": str("ANR"[int(rng.integers(3))]),
                   "min_n": int(rng.integers(190, 211))},
    }


def plan(seed: int, tables, paths, work: str, trace: bool) -> dict:
    """Literals for the measured cycles; for a traced run also the
    actual join cardinalities of the cycle the optimizer's estimates
    are scored on."""
    rng = np.random.default_rng([seed, 1])
    out = {"cycles": [draw_params(rng) for _ in range(CYCLES)]}
    if trace:
        from reference import Oracle

        params = draw_params(np.random.default_rng([seed, 3]))
        oracle = Oracle(paths, work)
        out["scored"] = params
        out["join_rows"] = {}
        for name, _ in SHAPES:
            count_sql = SQL[name](params[name])[1]
            if count_sql is not None:
                out["join_rows"][name] = oracle.rows(count_sql)[0][0]
    return out


def check(plan: dict, outputs: list, work: str) -> list[int]:
    """Positions of the outputs that differ from DuckDB's answer."""
    from reference import Oracle

    oracle = Oracle(plan["paths"], work)
    want: dict = {}
    bad = []
    for i, ((cycle, name), got) in enumerate(outputs):
        params = plan["cycles"][cycle % CYCLES][name]
        if (cycle, name) not in want:
            want[cycle, name] = oracle.rows(SQL[name](params)[0])
        if not same_rows(got, want[cycle, name]):
            log(f"olap {name} {params}: result differs from DuckDB")
            bad.append(i)
    return bad


class Olap(Workload):
    #: a run reaches two cycles, 14 queries, too few for ten samples
    #: beyond any upper percentile, so the tail is p75 (see README)
    tail_q = 0.75
    primary = frozenset(name for name, _ in SHAPES)

    def __init__(self, ctx):
        super().__init__(ctx)
        self.db = None

    # ------------------------------------------------------------------ #
    def setup(self) -> None:
        """A fresh catalog over the generated parquet, with cold column
        statistics and histograms for every table.  Tables register as
        DataFrames, so the package's on-disk stats cache is never read
        or written and every set-up pays the same statistics
        collection."""
        from cs186_query_optimization_project_spark import Database

        ctx, tr = self.ctx, self.ctx.tracer
        spark = ctx.spark
        db = Database(spark)
        for t in TABLES:
            db.register_dataframe(t, spark.read.parquet(self.plan["paths"][t]))
        for t in TABLES:
            if tr.enabled:
                # pass 1 alone, for attribution; set-up itself asks for
                # histograms, which the package collects with pass 1 again
                from cs186_query_optimization_project_spark.plans.stats \
                    import TableStats

                with tr.span("stats.collect", new_op=True):
                    TableStats.collect(db.table(t), t)
            with tr.span("stats.histogram", new_op=True):
                db.stats(t, histograms=True)
        self.db = db

    # ------------------------------------------------------------------ #
    def _one(self, shape, params) -> tuple[float, list]:
        tr = self.ctx.tracer
        with tr.operation("bench.query", self.ctx.counters):
            t0 = time.perf_counter()
            with tr.span("builder.assemble"):
                q = shape(self.db, params)
                df = q.execute_optimal()
            rows = collect(tr, df)
            seconds = time.perf_counter() - t0
            if tr.enabled:
                from cs186_query_optimization_project_spark.plans.optimizer \
                    import optimize

                with tr.span("optimizer.optimize"):
                    optimize(q)
        return seconds, rows_of(rows)

    def run(self, deadline: float, loop: Loop) -> None:
        """Whole cycles of the mix until ``deadline``, and at least two,
        so every shape has the same number of samples and the first
        cycle (each shape's first run in this process) is never the
        only one."""
        cycle = 0
        while cycle < 2 or time.perf_counter() < deadline:
            params = self.plan["cycles"][cycle % CYCLES]
            for name, shape in SHAPES:
                seconds, rows = self._one(shape, params[name])
                loop.add(name, seconds, (cycle, name), rows)
            cycle += 1

    # ------------------------------------------------------------------ #
    def plan_metrics(self) -> dict[str, float]:
        """Optimizer quality over one cycle, counted outside the timed
        loop: q-error of the estimated join cardinality against the
        actual one, broadcast steps and reordered queries."""
        params = self.plan["scored"]
        q_errors, broadcasts, reordered = [], 0, 0
        for name, shape in SHAPES:
            q = shape(self.db, params[name])
            q.execute_optimal()
            plan = q.cached_plan()
            broadcasts += sum(s.strategy in ("broadcast", "broadcast_left")
                              for s in plan.steps)
            reordered += bool(plan.reordered)
            if name in self.plan["join_rows"]:
                actual = max(self.plan["join_rows"][name], 1)
                est = max(plan.est_rows, 1)
                q_errors.append(max(est / actual, actual / est))
        return {"optimizer.q_error_p50": statistics.median(q_errors),
                "optimizer.q_error_max": max(q_errors),
                "optimizer.broadcast_steps": float(broadcasts),
                "optimizer.reordered_queries": float(reordered)}

    def describe(self) -> dict:
        return {"mix": [name for name, _ in SHAPES]}
