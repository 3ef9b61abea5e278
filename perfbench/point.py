"""``point``: one closed-loop client thread per core issuing seeded,
Zipf-skewed key probes.

Each probe touches a handful of rows, so the fixed cost of an operation
dominates: builder assembly, Py4J, Catalyst planning, job launch and
manifest reads.  Probe shapes repeat with new literals, the property a
plan cache would exploit; ``olap`` does not have it.
"""

from __future__ import annotations

import os
import threading
import time
import traceback

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from common import Loop, Workload, log, rows_of, same_rows
from tracing import collect, count_skipping

#: The tables this workload reads.
TABLES = ("customer", "part", "orders")
#: Zipf exponent of the key popularity (the YCSB "zipfian" constant).
ZIPF_S = 0.99
#: ``contains`` probes draw from this many times the part key range, so
#: about a fifth of them ask for a key that does not exist.
ABSENT_SPAN = 1.25
KINDS = ("lookup_orders", "lookup_customer", "contains_part", "lookup_key",
         "read_point")
ORDER_COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
              "o_orderdate", "o_orderpriority")
JOIN_COLS = ("c_custkey", "c_name", "o_orderkey", "o_totalprice")
#: Probes planned per client, far more than a run reaches; a client
#: that runs out starts over.
PROBES_PER_CLIENT = 1000


def _rows(table) -> list[tuple]:
    return list(zip(*(table.column(i).to_pylist()
                      for i in range(table.num_columns))))


def _where_in(table, column: str, keys: set) -> list[tuple]:
    """Rows of ``table`` whose ``column`` is one of ``keys``."""
    value_set = pa.array(sorted(keys), table.schema.field(column).type)
    return _rows(table.filter(pc.is_in(table[column], value_set=value_set)))


def _zipf_keys(rng, n_keys: int, size: int) -> np.ndarray:
    """``size`` draws from ``n_keys`` keys whose popularity follows Zipf;
    which keys are hot is itself drawn from ``rng``."""
    weights = 1.0 / np.arange(1, n_keys + 1) ** ZIPF_S
    ranks = rng.choice(n_keys, size=size, p=weights / weights.sum())
    return rng.permutation(n_keys)[ranks]


def plan(seed: int, tables, paths, work: str, trace: bool) -> dict:
    """Each client's probe sequence: kinds in rotation, so every run and
    every client holds the same mix; keys are what the seed varies."""
    n_orders = tables["orders"].num_rows
    n_cust = tables["customer"].num_rows
    n_part = tables["part"].num_rows
    clients = []
    for client in range(int(os.environ["SPARK_GRAFT_CPUS"])):
        rng = np.random.default_rng([seed, 10, client])
        kinds = (np.arange(PROBES_PER_CLIENT) + client) % len(KINDS)
        keys = {
            "lookup_orders": _zipf_keys(rng, n_orders, PROBES_PER_CLIENT),
            "lookup_customer": _zipf_keys(rng, n_cust, PROBES_PER_CLIENT),
            "contains_part": _zipf_keys(rng, int(n_part * ABSENT_SPAN),
                                        PROBES_PER_CLIENT),
        }
        cust = _zipf_keys(rng, n_cust, PROBES_PER_CLIENT)
        keys["lookup_key"] = keys["read_point"] = cust
        clients.append([(KINDS[k], int(keys[KINDS[k]][i]))
                        for i, k in enumerate(kinds)])
    return {"clients": clients}


def check(plan: dict, outputs: list, work: str) -> list[int]:
    """Positions of the probes whose answer differs from key->rows maps
    built with pyarrow from the generated tables, over the keys the run
    probed."""
    paths = plan["paths"]
    probed: dict[str, set] = {kind: set() for kind in KINDS}
    for (kind, key), _got in outputs:
        probed[kind].add(key)
    orders = pq.read_table(paths["orders"])
    orders_by_key = {r[0]: r for r in _where_in(
        orders, "o_orderkey", probed["lookup_orders"])}
    orders_by_cust: dict[int, list[tuple]] = {}
    for r in _where_in(orders, "o_custkey",
                       probed["lookup_key"] | probed["read_point"]):
        orders_by_cust.setdefault(r[1], []).append(r)
    customers = {r[0]: r for r in _where_in(
        pq.read_table(paths["customer"]), "c_custkey",
        probed["lookup_customer"] | probed["lookup_key"])}
    n_part = pq.read_metadata(paths["part"]).num_rows

    def expected(kind: str, key: int):
        if kind == "lookup_orders":
            return [orders_by_key[key]]
        if kind == "lookup_customer":
            return [customers[key]]
        if kind == "contains_part":
            return key < n_part
        if kind == "lookup_key":
            c = customers[key]
            return [(c[0], c[1], o[0], o[3])
                    for o in orders_by_cust.get(key, [])]
        return orders_by_cust.get(key, [])

    bad = []
    for i, ((kind, key), got) in enumerate(outputs):
        want = expected(kind, key)
        ok = got == want if kind == "contains_part" else same_rows(got, want)
        if not ok:
            log(f"point {kind}({key}): wrong answer")
            bad.append(i)
    return bad


class Point(Workload):
    #: about 75 probes in a 6-second run: p85 leaves eleven beyond it
    tail_q = 0.85
    primary = frozenset(KINDS)

    def __init__(self, ctx):
        super().__init__(ctx)
        self.clients = len(self.plan["clients"])
        self.db = None
        self.pt = None
        self.n_setup = 0

    # ------------------------------------------------------------------ #
    def setup(self) -> None:
        """A fresh catalog over ``orders``, ``customer`` and ``part``, and
        a copy of ``orders`` partitioned by order year with a Bloom index
        on ``o_custkey``."""
        from cs186_query_optimization_project_spark import (
            Database,
            PartitionedTable,
        )

        ctx = self.ctx
        spark = ctx.spark
        paths = self.plan["paths"]
        db = Database(spark)
        for t in TABLES:
            db.register_dataframe(t, spark.read.parquet(paths[t]))
        src = db.table("orders").withColumn("o_year",
                                            F.year("o_orderdate"))
        root = os.path.join(ctx.work, "lake", f"orders_by_year_{self.n_setup}")
        self.n_setup += 1
        with ctx.tracer.span("partitioned.create", new_op=True):
            self.pt = PartitionedTable.create(spark, src, root, "o_year",
                                              bloom_cols=["o_custkey"])
        self.db = db

    # ------------------------------------------------------------------ #
    def probe(self, kind: str, key: int):
        """One probe through the public API; returns its answer."""
        tr = self.ctx.tracer
        if kind == "contains_part":
            with tr.span("database.contains"):
                return self.db.contains("part", "p_partkey", key)
        if kind == "read_point":
            with tr.span("partitioned.read_point"):
                rows = collect(tr, self.pt.read_point("o_custkey", key))
            count_skipping(tr, self.pt, eq={"o_custkey": key})
            return [tuple(r[c] for c in ORDER_COLS) for r in rows]
        if kind == "lookup_key":
            with tr.span("builder.assemble"):
                df = (self.db.query("customer")
                      .join("orders", "c_custkey", "o_custkey")
                      .select(*JOIN_COLS)
                      .lookup_key("c_custkey", key))
            return rows_of(collect(tr, df))
        table, column = (("orders", "o_orderkey") if kind == "lookup_orders"
                         else ("customer", "c_custkey"))
        with tr.span("database.lookup"):
            with tr.span("builder.assemble"):
                df = self.db.lookup(table, column, key)
            return rows_of(collect(tr, df))

    def warmup(self) -> None:
        """Two probes of each kind, untimed."""
        for kind in KINDS * 2:
            key = next(k for kd, k in self.plan["clients"][0] if kd == kind)
            self.probe(kind, key)

    def _client(self, plan, deadline: float, out: list, errors: list):
        tr, counters = self.ctx.tracer, self.ctx.counters
        try:
            i = 0
            while time.perf_counter() < deadline:
                kind, key = plan[i % len(plan)]
                i += 1
                with tr.operation("bench.probe", counters):
                    t0 = time.perf_counter()
                    got = self.probe(kind, key)
                    seconds = time.perf_counter() - t0
                out.append((kind, seconds, (kind, key), got))
        except Exception:  # the client stops; the run counts a failure
            errors.append(traceback.format_exc())

    def run(self, deadline: float, loop: Loop) -> None:
        results = [[] for _ in range(self.clients)]
        errors: list = []
        threads = [threading.Thread(target=self._client,
                                    args=(self.plan["clients"][c], deadline,
                                          results[c], errors))
                   for c in range(self.clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        for out in results:
            for sample in out:
                loop.add(*sample)
        for trace in errors:
            log(f"point client failed:\n{trace}")
        loop.errors.extend(errors)

    def describe(self) -> dict:
        return {"clients": self.clients, "zipf_s": ZIPF_S,
                "partitions": self.pt.describe_detail()["n_partitions"]}

    def layer_metrics(self) -> dict[str, float]:
        return {"partitioned.files_in_version":
                float(self.pt.describe_detail()["n_files"])}
